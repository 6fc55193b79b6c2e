"""Spans around the calls into each kgspark layer, recorded from outside.

``Tracer.install()`` replaces the layer entry points that
``kgspark.pipeline.run_pipeline`` calls with wrappers. Each wrapper records a
span (name, start, end, parent) in memory and, for its duration, sets the
Spark job description to ``kg:<span name>`` so every job launched inside it
carries the tag into the event log. Jobs launched outside any wrapper carry
the tag of the enclosing benchmark span (``kg:pipeline.construct`` and so
on). ``uninstall()`` restores the originals.

No kgspark code changes: the wrappers are attribute swaps on the modules and
the class the pipeline looks them up on.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

from eventlog import DESC_PROP, PHASE_PROP, RUN_PROP


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the event log also uses
    end: float
    parent: int | None  # index into Tracer.spans
    run: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _targets():
    """(owner, attribute, span name) for every wrapped entry point."""
    from kgspark import canonicalize, io, link, materialize, pipeline, provenance, temporal

    return [
        (pipeline, "annotate_pages", "mentions.annotate_pages"),
        (pipeline, "with_extracted_text", "extract.with_extracted_text"),
        (pipeline, "resolve_triples", "relations.resolve_triples"),
        (link, "link_mentions", "link.link_mentions"),
        (link, "surface_to_entity_map", "link.surface_to_entity_map"),
        (canonicalize, "same_as_edges", "canonicalize.same_as_edges"),
        (canonicalize, "connected_components", "canonicalize.connected_components"),
        (canonicalize, "consensus_canonical", "canonicalize.consensus_canonical"),
        (canonicalize, "resolve_unlinked_surfaces", "canonicalize.resolve_unlinked_surfaces"),
        (io.CheckpointRegistry, "stage", "io.stage"),
        (io.CheckpointRegistry, "write", "io.write"),
        (io.CheckpointRegistry, "read", "io.read"),
        (materialize, "write_graph", "materialize.write_graph"),
        (provenance, "provenance_entities", "provenance.provenance_entities"),
        (provenance, "provenance_edges", "provenance.provenance_edges"),
        (temporal, "entity_snapshots", "temporal.entity_snapshots"),
        (temporal, "entity_timeline", "temporal.entity_timeline"),
    ]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.results: dict[str, object] = {}  # span name -> last return value
        self.resumed = 0  # CheckpointRegistry.stage calls that found a done stage
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self.run = ""

    @contextmanager
    def span(self, name: str, tag: str | None = None):
        """Record a span; jobs inside it carry ``kg:<tag or name>``."""
        prev = self.sc.getLocalProperty(DESC_PROP)
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run))
        self._stack.append(idx)
        self.sc.setJobDescription(f"kg:{tag or name}")
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(prev)

    @contextmanager
    def phase(self, run: str, phase: str):
        """Top-level benchmark span: tags jobs with the run and phase too."""
        self.run = run
        self.sc.setLocalProperty(RUN_PROP, run)
        self.sc.setLocalProperty(PHASE_PROP, phase)
        try:
            with self.span(f"pipeline.{phase}"):
                yield
        finally:
            self.run = ""
            self.sc.setLocalProperty(RUN_PROP, None)
            self.sc.setLocalProperty(PHASE_PROP, None)

    def _wrap(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            tag = None
            if name.startswith("io."):
                # CheckpointRegistry methods: (self, stage name, ...); the
                # stage name goes into the job tag
                tag = f"{name}.{args[1]}"
                if name == "io.stage" and args[0].exists(args[1]):
                    tracer.resumed += 1
            with tracer.span(name, tag):
                out = original(*args, **kwargs)
            tracer.results[name] = out
            return out

        setattr(owner, attr, wrapper)
        self._saved.append((owner, attr, original))

    def install(self) -> None:
        for owner, attr, name in _targets():
            self._wrap(owner, attr, name)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)

    # ---- read-outs -------------------------------------------------------

    def of_run(self, run: str) -> list[Span]:
        return [s for s in self.spans if s.run == run]

    def call_s(self, run: str, layer: str) -> float:
        """Time inside ``layer``'s outermost spans (nested calls of the same
        layer are not counted twice)."""
        spans = self.spans
        total = 0.0
        for s in self.of_run(run):
            if s.layer != layer:
                continue
            p = s.parent
            while p is not None and spans[p].layer != layer:
                p = spans[p].parent
            if p is None:
                total += s.seconds
        return total

    def run_window(self, run: str) -> tuple[float, float]:
        """From the start of ``run``'s first span to the end of its last."""
        spans = self.of_run(run)
        return min(s.start for s in spans), max(s.end for s in spans)

    def window(self, run: str, phase: str) -> tuple[float, float]:
        spans = [s for s in self.of_run(run) if s.name == f"pipeline.{phase}"]
        return spans[0].start, spans[-1].end
