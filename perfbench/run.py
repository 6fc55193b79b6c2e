#!/usr/bin/env python3
"""Live KG-construction benchmark over ``kgspark.pipeline.run_pipeline``.

Run from the repository root:

    python3 perfbench/run.py --workload wide_vocab --seed 42 --seconds 10 --trace 0

One closed-loop client (this process) drives Spark ``local[k]``, k = usable
cores - 1, with no CPU pinning. Set-up starts the session and writes the
workload's inputs to Parquet (``inputs.py``). The timed loop then runs the
pipeline back to back for ``--seconds`` (at least one run) and checks every
run's triples against the golden set: P and R at least 0.95, and exactly the
golden triple count. The timed figures are those of the first run, the
fresh-process run a batch user of the pipeline makes, JIT and code
generation included: ``cpu_s``, its process-tree CPU time, and, printed but
not in the result, its wall time.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` starts the session
with the event log on, runs the same loop, then makes warm runs in the order
traced, untraced, traced. Traced runs have the Python UDF
profiler on and the layer wrappers of ``spans.py`` installed. It prints the
per-layer metrics.

Stdout holds one line per metric (name, value, unit), then a JSON line with
the host label (nproc, CPU model, k, Spark version, seed), and last one JSON
object with exactly the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. See README.md for the workloads and the metric -> layer ->
workload map.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pstats
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import eventlog  # noqa: E402
import host  # noqa: E402
import inputs  # noqa: E402
from kgspark import fixtures  # noqa: E402  (absent outside a checkout: exit 1)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    pages: int
    bulk_words: int
    wide_vocab: int = 0  # synthetic entities added to the alias index
    wide_per_page: int = 0  # synthetic mentions per page
    checkpoint: bool = False  # every stage through io.CheckpointRegistry


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "wide_vocab",
            "2.4k synthetic entities (3.2k aliases: Aho-Corasick scan), 2 mentions a page "
            "(assumed: ~1/5 of its mentions): link fuzzy blocking, canonicalize LSH + CC, "
            "driver floor",
            # 2,400 entities: the reference's Wikidata fetch held 2,897; the
            # 2 mentions per page are an assumption (fixture pages carry 4-10)
            pages=600, bulk_words=0, wide_vocab=2400, wide_per_page=2,
        ),
        Workload(
            "graph_write",
            "fixture vocabulary, 13 KB pages, every stage checkpointed, graph written "
            "(resume in traced runs): extract/annotate UDFs plus io, materialize, provenance, "
            "temporal",
            pages=500, bulk_words=2000, checkpoint=True,
        ),
    )
}

SETUP_REPS = 3
TRACED_RUNS = 2
MIN_PR = 0.95
KEY = ["subj", "pred", "obj", "src_url"]
_SEP = "\x1f"
GRAPH_STAGES = ("entities", "edges", "lineage", "prov_edges", "entity_timeline")
WORK_ROOT = ROOT / ".perfbench_work"

END_TO_END = {
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}

# layers whose executor work the event log splits (eventlog.tag_layer)
_LAYER_SUMS = ("pipeline", "extract", "mentions", "link", "canonicalize", "relations", "io",
               "materialize", "provenance", "temporal")
PER_LAYER = {
    "session.start_s": "s",
    "trace.overhead_s": "s",
    "pipeline.first_wall_s": "s",
    "pipeline.triples_per_s": "1/s",
    "pipeline.wall_s": "s",
    "pipeline.warm_wall_s": "s",
    "pipeline.construct_s": "s",
    "pipeline.action_s": "s",
    "pipeline.driver_gap_s": "s",
    "pipeline.jobs": "count",
    "pipeline.construct_jobs": "count",
    "mentions.udf_s": "s",
    "mentions.python_mb_sent": "MB",
    "mentions.rows": "count",
    "link.call_s": "s",
    "link.jobs": "count",
    "link.exec_cpu_s": "s",
    "link.shuffle_write_mb": "MB",
    "link.high_share": "ratio",
    "canonicalize.call_s": "s",
    "canonicalize.cc_jobs": "count",
    "canonicalize.exec_cpu_s": "s",
    "canonicalize.surfaces": "count",
    "canonicalize.same_as_edges": "count",
    "relations.exchanges": "count",
    "relations.shuffle_write_mb": "MB",
    "extract.udf_s": "s",
    "io.write_s": "s",
    "io.read_s": "s",
    "io.mb_written": "MB",
    "io.stages_resumed": "count",
    "io.resume_s": "s",
    "materialize.write_graph_s": "s",
    "provenance.write_s": "s",
    "temporal.write_s": "s",
    "total.exec_run_s": "s",
    **{f"{lay}.exec_run_s": "s" for lay in _LAYER_SUMS},
    # io's own jobs (reads of written stages) run single-task stages
    **{f"{lay}.task_skew": "ratio" for lay in _LAYER_SUMS if lay != "io"},
}
# exact counts that two traced runs of one invocation must repeat
REPEATED_COUNTS = (
    "pipeline.jobs", "pipeline.construct_jobs", "canonicalize.cc_jobs", "relations.exchanges",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- session ---------------------------------------------------------------


def prepare_env(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import kgspark from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)


def start_spark(k: int, work: Path, event_log: bool):
    from kgspark.session import get_spark

    conf = {
        "spark.driver.memory": f"{host.driver_heap_mb()}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        conf.update({
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        (work / "eventlog").mkdir(exist_ok=True)
    spark = get_spark(
        app_name="kgspark-perfbench", master=f"local[{k}]",
        shuffle_partitions=max(k, 8), extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, shut the JVM down and wait for it and the Python
    workers it started to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    left = host.wait_for_children()
    if left:
        log(f"processes still running at exit: {left}")


# ---- one pipeline run ------------------------------------------------------


def triples_digest(df) -> tuple[int, int]:
    """(row count, order-free hash) of a triples DataFrame, in one action:
    the sum over rows of the first 60 bits of md5(subj|pred|obj|src_url)."""
    from pyspark.sql import functions as F

    row_hash = F.conv(F.substring(F.md5(F.concat_ws(_SEP, *KEY)), 1, 15), 16, 10)
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(row_hash.cast("decimal(38,0)")).alias("h")
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def set_digest(rows: set[tuple[str, ...]]) -> tuple[int, int]:
    """``triples_digest`` of a set of key tuples, computed in Python."""
    return len(rows), sum(
        int(hashlib.md5(_SEP.join(r).encode()).hexdigest()[:15], 16) for r in rows
    )


class Bench:
    """One invocation: inputs, golden set and the runs made over them."""

    def __init__(self, wl: Workload, seed: int, work: Path):
        self.wl, self.seed, self.work = wl, seed, work
        self.spark = None
        self.sampler: host.RssSampler | None = None
        self.paths: dict[str, Path] = {}
        self.golden: set = set()
        self.golden_digest: tuple[int, int] | None = None
        self.precision: list[float] = []
        self.recall: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def cpu_s(self) -> float:
        """CPU time of the process tree, less the RSS sampler's own."""
        own = self.sampler.cpu_s if self.sampler else 0.0
        return host.tree_cpu_s(os.getpid()) - own

    def frames(self):
        read = self.spark.read.parquet
        return read(str(self.paths["pages"])), read(str(self.paths["alias_index"]))

    def run_once(self, tracer=None, run_id: str = "") -> dict:
        from kgspark.io import CheckpointRegistry
        from kgspark.materialize import write_graph
        from kgspark.pipeline import run_pipeline

        spark, wl = self.spark, self.wl
        pages, alias = self.frames()
        ck, graph = self.work / "ck", self.work / "graph"
        for d in (ck, graph):
            shutil.rmtree(d, ignore_errors=True)
        ck_dir = str(ck) if wl.checkpoint else None
        phase = tracer.phase if tracer else (lambda run, ph: nullcontext())
        span = tracer.span if tracer else (lambda name: nullcontext())

        c0 = self.cpu_s()
        t0 = time.perf_counter()
        with phase(run_id, "construct"):
            out = run_pipeline(spark, pages, alias, checkpoint_dir=ck_dir)
        if wl.checkpoint:
            with phase(run_id, "graph"):
                write_graph(
                    CheckpointRegistry(spark, graph), out["entities"], out["edges"], out["lineage"]
                )
                with span("provenance.write"):
                    out["prov_edges"]
                with span("temporal.write"):
                    out["entity_timeline"]
        with phase(run_id, "action"):
            digest = triples_digest(out["triples"])
        res = {"wall": time.perf_counter() - t0, "digest": digest, "out": out,
               "cpu": self.cpu_s() - c0}
        log(f"run: wall {res['wall']:.3f}s, cpu {res['cpu']:.3f}s")

        if wl.checkpoint and tracer is not None:
            res["mb_written"] = sum(
                f.stat().st_size for d in (ck, graph) for f in d.rglob("*") if f.is_file()
            ) / eventlog.MB
        return res

    def resume(self, tracer, digest: tuple[int, int]) -> dict:
        """Re-run the pipeline over the checkpoint dir a traced run just
        completed, and check it returns the same triples. The resume is a
        run of its own (run id ``resume``) in the event-log roll-up."""
        from kgspark.pipeline import run_pipeline

        if not self.wl.checkpoint:
            return {"io.resume_s": 0.0, "io.stages_resumed": 0}
        pages, alias = self.frames()
        resumed_before = tracer.resumed
        t0 = time.perf_counter()
        with tracer.phase("resume", "resume"):
            again = run_pipeline(self.spark, pages, alias, checkpoint_dir=str(self.work / "ck"))
            for name in GRAPH_STAGES:
                again[name]
            resumed = triples_digest(again["triples"])
        if resumed != digest:
            raise RuntimeError(f"resumed triples {resumed} differ from written {digest}")
        return {"io.resume_s": time.perf_counter() - t0,
                "io.stages_resumed": tracer.resumed - resumed_before}

    def check(self, res: dict) -> bool:
        """Golden P/R of one run; the digest match makes both exactly 1.

        The run must also return exactly the golden triple count. Every run
        is held to that one count, so no two runs of an invocation can
        differ, even when the invocation makes a single run."""
        n, _ = res["digest"]
        if res["digest"] == self.golden_digest:
            p = r = 1.0
        else:
            got = {tuple(row) for row in res["out"]["triples"].select(KEY).distinct().collect()}
            tp = len(got & self.golden)
            p = tp / len(got) if got else 0.0
            r = tp / len(self.golden) if self.golden else 0.0
        self.precision.append(p)
        self.recall.append(r)
        if p < MIN_PR or r < MIN_PR:
            self.problems.append(f"triple P/R {p:.4f}/{r:.4f} below {MIN_PR}")
            return False
        if n != len(self.golden):
            self.problems.append(f"triple count {n} differs from the golden {len(self.golden)}")
            return False
        return True

    def attempt(self, tracer=None, run_id: str = "", inspect=None) -> dict | None:
        """One counted run: returns its result, or None if it failed.

        ``inspect(res)`` runs after the checks, before the run's cached
        stages are dropped, and adds to ``res``."""
        from kgspark.session import unpersist_all

        self.attempted += 1
        try:
            res = self.run_once(tracer, run_id)
            ok = self.check(res)
            if ok and inspect is not None:
                res.update(inspect(res))
        except Exception:  # a failed run is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.problems.append("run raised")
            res, ok = None, False
        finally:
            if tracer is not None:
                tracer.uninstall()
        if res is not None:
            res.pop("out")  # drop the plans so the session can free them
        unpersist_all(self.spark)
        if not ok:
            self.failed += 1
            return None
        return res

    def loop(self, seconds: float) -> dict | None:
        """Back-to-back untraced runs for ``seconds``, at least one; returns
        the first (fresh-process) run, or None if it failed. Later runs are
        checked, not reported."""
        t0 = time.perf_counter()
        first = self.attempt()
        while first is not None and time.perf_counter() - t0 < seconds:
            if self.attempt() is None:
                break
        return first


# ---- set-up ------------------------------------------------------------------


def setup(b: Bench, k: int, event_log: bool) -> dict:
    """Start the session and build the inputs ``SETUP_REPS`` times.

    ``setup_s`` is CPU time, like ``cpu_s`` and for the same reason (README,
    "Why CPU time and not wall time"): the session start's, plus the median
    input build's."""
    t0, c0 = time.perf_counter(), b.cpu_s()
    b.spark = start_spark(k, b.work, event_log)
    session_s, session_cpu = time.perf_counter() - t0, b.cpu_s() - c0

    wl, build_cpu, digests = b.wl, [], set()
    for rep in range(SETUP_REPS):
        c = b.cpu_s()
        made = inputs.build(
            b.work / f"inputs{rep}", b.seed, wl.pages, wl.bulk_words,
            wl.wide_vocab, wl.wide_per_page,
        )
        build_cpu.append(b.cpu_s() - c)
        digests.add(inputs.digest(b.work / f"inputs{rep}"))
    if len(digests) != 1:
        b.problems.append("the same seed built different inputs")
    b.paths, b.golden = made["paths"], made["golden"]
    b.golden_digest = set_digest(b.golden)
    setup_cpu = session_cpu + statistics.median(build_cpu)
    log(f"set-up: session {session_s:.2f}s wall, {session_cpu:.2f}s cpu; "
        f"setup_s {setup_cpu:.2f}s cpu")
    return {"session_s": session_s, "setup_s": setup_cpu}


# ---- traced runs -------------------------------------------------------------

PROFILER = "spark.sql.pyspark.udf.profiler"
_EXCHANGE = re.compile(r"\b(?:Exchange|BroadcastExchange|ReusedExchange)\b")


def _udf_seconds(prof_dir: Path) -> dict[str, float]:
    """Profiler time per kgspark Python UDF, keyed by the layer it serves."""
    out = {"mentions": 0.0, "extract": 0.0}
    for f in sorted(prof_dir.glob("*.pstats")):
        st = pstats.Stats(str(f))
        funcs = {(Path(fn).name, name) for fn, _, name in st.stats}
        if ("mentions.py", "run") in funcs:
            out["mentions"] += st.total_tt
        elif ("extract.py", "extract_text_udf") in funcs:
            out["extract"] += st.total_tt
    return out


def traced_metrics(tracer, res: dict, run: eventlog.RunStats, run_id: str,
                   events: list[dict]) -> dict:
    """Per-layer metrics of one traced run, from its spans and its event-log
    roll-up."""
    work = ("construct", "graph", "action")
    c0 = tracer.window(run_id, "construct")[0]
    a1 = tracer.window(run_id, "action")[1]
    spans = tracer.of_run(run_id)
    r0, r1 = tracer.run_window(run_id)

    def span_sum(name: str) -> float:
        return sum(s.seconds for s in spans if s.name == name)

    m = {
        "pipeline.wall_s": res["wall"],
        "pipeline.construct_s": span_sum("pipeline.construct"),
        "pipeline.action_s": span_sum("pipeline.action"),
        "pipeline.driver_gap_s": eventlog.driver_gap_s(run, c0 * 1000, a1 * 1000, set(work)),
        "pipeline.jobs": run.jobs_in(set(work)),
        "pipeline.construct_jobs": run.jobs_in({"construct"}),
        "mentions.udf_s": res["udf"]["mentions"],
        "mentions.python_mb_sent": sum(
            v for node, v in run.py_sent_mb.items() if "MapInPandas" in node
        ),
        "link.call_s": tracer.call_s(run_id, "link"),
        "canonicalize.call_s": tracer.call_s(run_id, "canonicalize"),
        "canonicalize.cc_jobs": run.jobs_in(None, "kg:canonicalize.connected_components"),
        "relations.exchanges": res["exchanges"],
        # the jobs that execute the triples plan: the final action without
        # checkpoints, the triples stage write with them
        "relations.shuffle_write_mb": run.layer("relations").shuffle_write_mb
        + run.tags.get("kg:pipeline.action", eventlog.TagStats()).shuffle_write_mb,
        "extract.udf_s": res["udf"]["extract"],
        "io.write_s": span_sum("io.write"),
        "io.read_s": span_sum("io.read"),
        "io.mb_written": res.get("mb_written", 0.0),
        "materialize.write_graph_s": span_sum("materialize.write_graph"),
        "provenance.write_s": span_sum("provenance.write"),
        "temporal.write_s": span_sum("temporal.write"),
        "total.exec_run_s": eventlog.task_run_s_between(events, r0 * 1000, r1 * 1000),
    }
    for lay in ("link", "canonicalize"):
        st = run.layer(lay)
        m[f"{lay}.jobs"] = st.jobs
        m[f"{lay}.exec_cpu_s"] = st.exec_cpu_s
    m["link.shuffle_write_mb"] = run.layer("link").shuffle_write_mb
    for lay in _LAYER_SUMS:
        st = run.layer(lay)
        m[f"{lay}.exec_run_s"] = st.exec_run_s
        m[f"{lay}.task_skew"] = st.task_skew
    return m


def plan_exchanges(df) -> int:
    """Exchange nodes in ``df``'s physical plan (before adaptive re-planning)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan))


def layer_counts(tracer, out: dict) -> dict:
    """Row counts of a traced run, taken after it ended."""
    from pyspark.sql import functions as F

    links = out["links"]
    n_links = links.count()
    high = links.where(F.col("confidence") == "high").count()
    return {
        "mentions.rows": out["mentions"].count(),
        "link.high_share": high / n_links if n_links else 0.0,
        "canonicalize.surfaces": out["surfaces"].count(),
        "canonicalize.same_as_edges": tracer.results["canonicalize.same_as_edges"].count(),
    }


def trace(b: Bench) -> dict:
    """Make the warm runs in the order traced, untraced, traced, so both
    kinds sit at the same average warmth; then stop the session and roll
    its event log up."""
    from spans import Tracer

    tracer = Tracer(b.spark)
    untraced = []

    once: dict = {}  # taken on the first traced run that passes its checks

    def inspect(res: dict) -> dict:
        # the outputs passed the golden check, so their row counts, and the
        # resume over their checkpoint dir, are taken once. Neither runs
        # under the traced run's run property, so its roll-up leaves them out
        if not once:
            once.update(b.resume(tracer, res["digest"]))
            once.update(layer_counts(tracer, res["out"]))
        return {"exchanges": plan_exchanges(tracer.results["relations.resolve_triples"])}

    results = []
    for i in range(TRACED_RUNS):
        if i:
            untraced.append(b.attempt())
        b.spark.conf.set(PROFILER, "perf")
        b.spark.profile.clear(type="perf")
        tracer.install()
        res = b.attempt(tracer, str(i), inspect)
        prof = b.work / f"profile{i}"
        b.spark.profile.dump(str(prof), type="perf")
        b.spark.conf.unset(PROFILER)
        if res is not None:
            res["udf"] = _udf_seconds(prof)
            results.append((str(i), res))
    b.spark.stop()
    b.spark = None
    events = eventlog.read_events(b.work / "eventlog")
    runs = eventlog.rollup(events)
    per_run = []
    for run_id, res in results:
        run = runs.get(run_id, eventlog.RunStats())
        r0, r1 = tracer.run_window(run_id)
        if not eventlog.tagged_sum_matches(run, events, r0 * 1000, r1 * 1000):
            b.problems.append(f"run {run_id}: per-tag executor time != its window's task time")
        per_run.append({**traced_metrics(tracer, res, run, run_id, events), **once})
    if len(per_run) < 2:
        b.problems.append("fewer than two traced runs completed")
    for name in REPEATED_COUNTS:
        if len({m[name] for m in per_run}) > 1:
            b.problems.append(f"{name} differs between traced runs: {[m[name] for m in per_run]}")
    warm = [r["wall"] for r in untraced if r is not None]
    if not per_run or not warm:
        return {name: 0.0 for name in PER_LAYER}
    out = {name: statistics.median(m[name] for m in per_run) for name in per_run[0]}
    out["pipeline.warm_wall_s"] = statistics.median(warm)
    out["trace.overhead_s"] = out["pipeline.wall_s"] - out["pipeline.warm_wall_s"]
    return out


# ---- main ----------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=fixtures.SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    wl = WORKLOADS[args.workload]
    k = host.spark_cores()
    work = WORK_ROOT / f"{wl.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    prepare_env(work)
    b = Bench(wl, args.seed, work)
    try:
        s = setup(b, k, event_log=bool(args.trace))
        label = host.label(k, b.spark.version, args.seed)
        with host.RssSampler() as rss:
            b.sampler = rss
            first = b.loop(args.seconds)
            b.sampler = None
        wall = first["wall"] if first else 0.0
        n = first["digest"][0] if first else 0
        # the first run's wall time and throughput are printed, not gated:
        # on a shared host they follow the CPU time the hypervisor steals
        # (README, "Why CPU time and not wall time")
        timing = {"wall_s": (wall, "s"), "triples_per_s": (n / wall if wall else 0.0, "1/s")}
        log(f"{wl.name}: first run {wall:.3f}s of {b.attempted} run(s)")
        if args.trace:
            metrics = trace(b)
            metrics["session.start_s"] = s["session_s"]
            metrics["pipeline.first_wall_s"] = wall
            metrics["pipeline.triples_per_s"] = timing["triples_per_s"][0]
            units = PER_LAYER
        else:
            metrics = {
                "cpu_s": first["cpu"] if first else 0.0,
                "setup_s": s["setup_s"],
                "peak_rss_mb": rss.peak_mb,
                "triple_precision": min(b.precision, default=0.0),
                "triple_recall": min(b.recall, default=0.0),
            }
            units = END_TO_END
    finally:
        stop_jvm(b.spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in b.problems:
        log(f"problem: {p}")
    result = {
        "correct": not b.problems,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": unit}
                    for name, unit in units.items()},
    }
    if not args.trace:
        for name, (value, unit) in timing.items():
            print(f"{wl.name} {name} = {value:.6g} {unit} (printed, not in the result)")
    for name, m in result["metrics"].items():
        print(f"{wl.name} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"workload": wl.name, "trace": args.trace, "host": label}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
