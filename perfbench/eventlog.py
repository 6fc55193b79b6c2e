"""Stdlib roll-up of an uncompressed Spark event log.

Reads the JSON-lines log that ``spark.eventLog.enabled=true`` with
``spark.eventLog.compress=false`` writes, and splits its jobs, stages and
tasks by two job-local properties the traced run sets:

- ``spark.job.description`` — the layer tag, ``kg:<layer>.<function>``
  (set with ``SparkContext.setJobDescription``); and
- ``RUN_PROP`` / ``PHASE_PROP`` — which traced run, and which part of it
  (``construct``, ``graph``, ``action``), launched the job; the resume over
  a completed checkpoint dir is a run of its own, ``resume``.

Every task is attributed to one run and tag (run ``''`` and ``untagged``
when its stage carries no properties). ``tagged_sum_matches`` checks the
attribution against a total taken without it: the executor run time of every
task launched in the run's time window. SQL metric accumulators are mapped
to their plan node through the SQL execution and adaptive-update events,
which gives the bytes sent to Python workers per Python operator.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

DESC_PROP = "spark.job.description"
RUN_PROP = "kgbench.run"
PHASE_PROP = "kgbench.phase"
UNTAGGED = "untagged"
PY_SENT = "data sent to Python workers"
MB = 1024 * 1024

# the layer whose code computes each io.CheckpointRegistry stage: a
# ``kg:io.write.<stage>`` job runs that code, then writes its output
STAGE_LAYER = {
    "extracted": "extract",
    "annotated": "mentions", "mentions": "mentions", "relations": "mentions",
    "links": "link", "surface_entity": "link",
    "surfaces": "canonicalize", "components": "canonicalize",
    "canonical_map": "canonicalize", "resolved_surfaces": "canonicalize",
    "triples": "relations",
    "entities": "materialize", "edges": "materialize", "lineage": "materialize",
    "prov_entities": "provenance", "prov_edges": "provenance",
    "entity_snapshots": "temporal", "entity_timeline": "temporal",
}
_WRITE = "kg:io.write."


def tag_layer(tag: str) -> str:
    """The layer a job tag's executor work is credited to.

    ``kg:<layer>.<function>`` goes to ``<layer>``, except that a stage write
    goes to the layer that computes the stage (``STAGE_LAYER``)."""
    if tag.startswith(_WRITE):
        return STAGE_LAYER.get(tag[len(_WRITE):], "io")
    return tag[3:].split(".", 1)[0] if tag.startswith("kg:") else tag


@dataclass
class TagStats:
    jobs: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    # per stage: task durations in ms, for the skew figure
    stage_durations: dict = field(default_factory=lambda: defaultdict(list))

    @property
    def task_skew(self) -> float:
        """Largest max/median task-time ratio over this tag's stages of 2+
        tasks (1.0 when there is none)."""
        ratios = [
            max(d) / max(statistics.median(d), 1.0)
            for d in self.stage_durations.values()
            if len(d) >= 2
        ]
        return max(ratios, default=1.0)


@dataclass
class RunStats:
    tags: dict = field(default_factory=lambda: defaultdict(TagStats))
    # (submit_ms, end_ms, phase, tag) per job
    jobs: list = field(default_factory=list)
    py_sent_mb: dict = field(default_factory=lambda: defaultdict(float))

    def jobs_in(self, phases: set[str] | None = None, tag_prefix: str = "") -> int:
        return sum(
            1 for _, _, ph, tag in self.jobs
            if (phases is None or ph in phases) and tag.startswith(tag_prefix)
        )

    @property
    def tagged_run_s(self) -> float:
        return sum(s.exec_run_s for s in self.tags.values())

    def layer(self, layer: str) -> TagStats:
        """Sum of the tags credited to ``layer`` (``tag_layer``)."""
        out = TagStats()
        for tag, s in self.tags.items():
            if tag_layer(tag) == layer:
                out.jobs += s.jobs
                out.exec_run_s += s.exec_run_s
                out.exec_cpu_s += s.exec_cpu_s
                out.shuffle_write_mb += s.shuffle_write_mb
                for k, d in s.stage_durations.items():
                    out.stage_durations[k].extend(d)
        return out


def read_events(path: str | Path) -> list[dict]:
    """Every event of one log file, or of every file in a rolling log dir."""
    p = Path(path)
    files = sorted(f for f in p.iterdir() if f.is_file()) if p.is_dir() else [p]
    events = []
    for f in files:
        with f.open(encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_s(run: RunStats, start_ms: float, end_ms: float,
                 phases: set[str] | None = None) -> float:
    """Wall time of ``[start_ms, end_ms]`` in which no job of ``run`` ran."""
    iv = [(s, e) for s, e, ph, _ in run.jobs if phases is None or ph in phases]
    return (end_ms - start_ms - union_ms(iv, start_ms, end_ms)) / 1000.0


def rollup(events: list[dict]) -> dict[str, RunStats]:
    """Group jobs, stages and tasks by the run property; key '' = no run."""
    runs: dict[str, RunStats] = defaultdict(RunStats)
    stage_owner: dict[int, tuple[str, str]] = {}  # stage id -> (run, tag)
    job_props: dict[int, tuple[str, str, str, float]] = {}
    acc_node: dict[int, tuple[str, str]] = {}

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            run = props.get(RUN_PROP, "")
            tag = props.get(DESC_PROP) or UNTAGGED
            job_props[ev["Job ID"]] = (run, props.get(PHASE_PROP, ""), tag,
                                       ev["Submission Time"])
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, (run, tag))
        elif kind == "SparkListenerJobEnd":
            run, phase, tag, start = job_props[ev["Job ID"]]
            runs[run].jobs.append((start, ev["Completion Time"], phase, tag))
            runs[run].tags[tag].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            if DESC_PROP in props or RUN_PROP in props:
                stage_owner[sid] = (props.get(RUN_PROP, ""), props.get(DESC_PROP) or UNTAGGED)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev["sparkPlanInfo"], acc_node)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            run, tag = stage_owner.get(sid, ("", UNTAGGED))
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            st = runs[run].tags[tag]
            st.exec_run_s += m.get("Executor Run Time", 0) / 1000.0
            st.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            st.stage_durations[(sid, ev.get("Stage Attempt ID", 0))].append(
                info["Finish Time"] - info["Launch Time"]
            )
            for acc in info.get("Accumulables", []):
                node = acc_node.get(acc.get("ID"))
                if node and node[1] == PY_SENT:
                    runs[run].py_sent_mb[node[0]] += float(acc.get("Update", 0)) / MB
    return dict(runs)


def task_run_s_between(events: list[dict], start_ms: float, end_ms: float) -> float:
    """Executor run time of every task launched in ``[start_ms, end_ms]``,
    whatever job, stage, run or tag it belongs to."""
    return sum(
        (ev.get("Task Metrics") or {}).get("Executor Run Time", 0) / 1000.0
        for ev in events
        if ev.get("Event") == "SparkListenerTaskEnd"
        and start_ms <= ev["Task Info"]["Launch Time"] <= end_ms
    )


def tagged_sum_matches(run: RunStats, events: list[dict],
                       start_ms: float, end_ms: float) -> bool:
    """Does ``run``'s per-tag executor run time sum to the run time of all
    tasks launched in its window? Fails when a task of the window was lost
    to another run, or to no run (a stage without properties)."""
    total = task_run_s_between(events, start_ms, end_ms)
    return abs(run.tagged_run_s - total) <= 1e-6 * max(1.0, total)
