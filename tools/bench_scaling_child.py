"""One scaling-bench measurement in a FRESH process, PINNED to its own vCPUs.

Usage: python tools/bench_scaling_child.py <master> <n_pages> [--stages]

Prints exactly one JSON line on stdout:
  {"master": ..., "pages": N, "triples": N, "dt_sec": s, "dt_corr_sec": s,
   "sentinel_sec": s, "steal_core_sec": s, "steal_frac_cap": f, ...}

Why a subprocess per measurement (rather than SparkSession restarts in one
process): PySpark's internal Python-accumulator server does not survive
repeated SparkContext stop/start in a single interpreter — round 1's bench
recorded a PythonAccumulatorV2.merge stack trace mid-run and noise-dominated
timings. A fresh JVM + fresh interpreter per measurement gives fully
independent, residue-free observations; JVM/JIT warmup happens inside the
child (untimed small pipeline run) so the timed run measures the engine.

CPU pinning (the round-4 fix for the contamination dead-end): the guest
exposes 32 topology-flat vCPUs (no SMT sibling info — host hyperthread
pairing is invisible), and machine-wide steal gating discards rounds for
noise on the ~28 vCPUs the job never touches. Instead the child pins itself
— and therefore the JVM, its GC/shuffle threads, and every forked pyspark
worker — to exactly n_threads vCPUs via sched_setaffinity BEFORE the JVM
starts (Java sizes availableProcessors from the affinity mask). This is the
same resource envelope a real cluster gives an executor (cgroup cpuset), and
it lets steal be measured per-CPU on precisely the vCPUs the job runs on:

  - steal_core_sec: stolen core-seconds summed over the PINNED vCPUs across
    the timed run (/proc/stat cpuN field 8 delta) — noise elsewhere on the
    box no longer voids the round;
  - dt_corr_sec = dt - steal_core_sec / n_pinned: work-conserving steal
    correction. Valid because the pinned set is saturated (the pipeline is
    ~95% embarrassingly-parallel map work over many small Arrow batches, so
    a stolen slice on one vCPU redistributes); the parent only trusts the
    correction up to a bounded steal fraction and labels the estimator.

The sentinel is a fixed PARALLEL spin: as many worker processes as the
master has threads, each doing the same fixed pure-Python loop; the wall
time of the slowest worker is reported. It runs inside the pinned set, so
it measures the effective speed of the vCPUs this child actually owns.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Base vCPU for auto-pinning. The low side's set is a SUBSET of the high
# side's ({16,17} vs {16..20}), so both sides of a scaling round sample the
# same host cores. vCPU 0 is avoided (guest IRQ/housekeeping).
PIN_BASE = int(os.environ.get("BENCH_PIN_BASE", "16"))
# Extra vCPUs beyond the task-thread count: the "driver node". On a real
# cluster the driver/AM runs on its own machine; pinning the Python driver
# + JVM housekeeping onto the single task vCPU of the low side serializes
# them against task work and over-penalizes that side (measured: local[1]
# 54s on 1 vCPU vs ~36s unpinned at 6k pages), which would INFLATE the
# efficiency ratio. +1 on both sides keeps task resources at exactly 4x
# with an identical driver envelope — N-core-executor + driver node.
PIN_EXTRA = int(os.environ.get("BENCH_PIN_EXTRA", "1"))


def pin_cpus(n_threads: int) -> list[int]:
    """Pin this process (and all future children: JVM, pyspark workers) to
    n_threads + PIN_EXTRA dedicated vCPUs. BENCH_PIN=off disables;
    BENCH_PIN=a,b,c pins to an explicit list. Exits with the allowed set
    when the requested vCPUs are not all in this process's affinity mask
    (sched_setaffinity would only say EINVAL)."""
    spec = os.environ.get("BENCH_PIN", "auto")
    if spec == "off":
        return []
    if spec == "auto":
        cpus = list(range(PIN_BASE, PIN_BASE + n_threads + PIN_EXTRA))
    else:
        cpus = [int(c) for c in spec.split(",")]
    allowed = sorted(os.sched_getaffinity(0))
    missing = sorted(set(cpus) - set(allowed))
    if missing:
        sys.exit(
            f"bench_scaling_child: cannot pin to vCPUs {cpus}: {missing} are not "
            f"in this host's allowed set {allowed}. BENCH_PIN=auto pins "
            f"{n_threads} + BENCH_PIN_EXTRA ({PIN_EXTRA}) vCPUs from "
            f"BENCH_PIN_BASE ({PIN_BASE}); lower BENCH_PIN_BASE, name vCPUs "
            f"with BENCH_PIN=a,b,c, or set BENCH_PIN=off."
        )
    os.sched_setaffinity(0, cpus)
    return cpus


def _spin(_arg: int) -> int:
    x = 0
    for i in range(3_000_000):
        x = (x * 1103515245 + 12345 + i) & 0xFFFFFFFF
    return x


def sentinel_sec(n_procs: int) -> float:
    """Wall time for n_procs concurrent fixed spins; min-of-2 rounds."""
    best = float("inf")
    with mp.Pool(n_procs) as pool:
        pool.map(_spin, range(n_procs))  # warm the pool (fork cost out)
        for _ in range(2):
            t0 = time.perf_counter()
            pool.map(_spin, range(n_procs))
            best = min(best, time.perf_counter() - t0)
    return best


def read_steal_ticks(cpus: list[int] | None = None) -> int:
    """Hypervisor steal ticks from /proc/stat (field 8). With `cpus`, sums
    the per-CPU lines for exactly those vCPUs — the steal the pinned job
    actually experienced; without, the machine-wide aggregate. Unlike a
    point-in-time probe, the before/after delta covers the WHOLE timed run —
    a mid-run steal burst is visible here and in nothing else."""
    with open("/proc/stat") as f:
        if cpus is None:
            return int(f.readline().split()[8])
        want = {f"cpu{c}" for c in cpus}
        total = 0
        for line in f:
            parts = line.split()
            if parts and parts[0] in want:
                total += int(parts[8])
        return total


def main() -> None:
    master = sys.argv[1]
    n_pages = int(sys.argv[2])
    stages_mode = "--stages" in sys.argv[3:]

    m = re.match(r"local\[(\d+)\]", master)
    n_threads = int(m.group(1)) if m else 2
    pinned = pin_cpus(n_threads)
    n_cap = len(pinned) or n_threads  # capacity in vCPUs for steal math

    # Realistic page weight: the fixture's sentence skeleton is ~0.6KB of
    # html — toy-sized next to Common-Crawl pages (tens of KB). The bench
    # corpus carries ~13KB/page of pattern-inert filler so the measured
    # job is extraction/annotation-bound like the real workload, not
    # driver-floor-bound. Golden triples are unchanged at any bulk size.
    bulk_words = int(os.environ.get("BENCH_BULK_WORDS", "2000"))

    from kgspark import fixtures
    from kgspark.pipeline import run_pipeline
    from kgspark.session import get_spark, unpersist_all

    # Pipeline runs interpreted: whole-stage-codegen compile of the ~50-stage
    # plan is ~60s of serial driver time that amortizes to zero on a
    # long-lived cluster (see BENCH/BASELINE.md methodology).
    # 24g heap: the localCheckpointed stages of a heavy corpus overflow the
    # 8g default into GC thrash; the box has 128 GiB and one JVM at a time.
    os.environ.setdefault("KGSPARK_DRIVER_MEM", "24g")
    # shuffle partitions scale with the corpus (spill-aware sizing): 8
    # partitions at 360k pages means ~45k pages (~90MB+) per sort — past
    # the spill threshold, and spilling is superlinear. ~20k pages per
    # shuffle partition keeps sorts in memory at any bench size.
    spark = get_spark(
        app_name=f"kgspark-scaling-{master}",
        master=master,
        shuffle_partitions=max(8, n_pages // 20000),
        extra_conf={"spark.sql.codegen.wholeStage": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def steal_now() -> int:
        return read_steal_ticks(pinned if pinned else None)

    # untimed warmup: JIT + Arrow/pandas import on workers. Steal is also
    # measured ACROSS the warmup, on the pinned set AND machine-wide: if
    # more than half our pinned capacity is being stolen, even the
    # corrected number would be noise; and a heavy MACHINE-wide episode
    # (> ~0.5 stolen cores/s) presses through host SMT/memory bandwidth
    # that steal ticks on our vCPUs cannot see (measured: pipeline 2.5-3.5x
    # slow at < 5% pinned steal during a 1.1 cores/s machine burst) —
    # abort (~1 min sunk) instead of burning a full timed round.
    abort_frac = float(os.environ.get("BENCH_CHILD_ABORT_FRAC", "0.5"))
    abort_machine = float(os.environ.get("BENCH_CHILD_ABORT_MACHINE_RATE", "0.5"))
    wst0, wmst0, wt0 = steal_now(), read_steal_ticks(), time.time()
    warm = run_pipeline(
        spark,
        fixtures.gen_pages(spark, max(n_pages // 50, 500), bulk_words=bulk_words, with_text=False),
        fixtures.gen_alias_index(spark),
    )
    warm["triples"].count()
    unpersist_all(spark)
    warm_dt = max(time.time() - wt0, 0.1)
    warm_frac = (steal_now() - wst0) / 100.0 / (warm_dt * n_cap)
    warm_machine = (read_steal_ticks() - wmst0) / 100.0 / warm_dt
    if not stages_mode and (warm_frac > abort_frac or warm_machine > abort_machine):
        print(
            json.dumps(
                {
                    "master": master,
                    "pages": n_pages,
                    "aborted": "steal_during_warmup",
                    "warmup_steal_frac_cap": round(warm_frac, 3),
                    "warmup_machine_steal_rate": round(warm_machine, 3),
                    "pinned": pinned,
                }
            )
        )
        spark.stop()
        return

    if stages_mode:
        # Informational per-stage split: materialize each pipeline boundary
        # in order and report CUMULATIVE seconds. This run does extra work
        # (each boundary forces a job) so it never feeds the scaling ratio.
        t0 = time.time()
        out = run_pipeline(
            spark,
            fixtures.gen_pages(spark, n_pages, bulk_words=bulk_words, with_text=False),
            fixtures.gen_alias_index(spark),
        )
        splits = {}
        for stage in ("annotated", "links", "components", "triples"):
            out[stage].count()
            splits[stage] = round(time.time() - t0, 2)
        print(json.dumps({"master": master, "pages": n_pages, "stage_sec": splits}))
        spark.stop()
        return

    s = sentinel_sec(n_threads)

    # Mid-run steal watchdog: the parent corrects runs up to a bounded steal
    # fraction of pinned capacity; once MORE than half our capacity has been
    # stolen for a sustained stretch the round is unsalvageable even
    # corrected — kill it instead of finishing a run nothing will trust.
    # os._exit from the daemon thread: the JVM dies with us, the parent
    # treats the aborted JSON line like a failed side.
    import threading

    abort_mid_frac = float(os.environ.get("BENCH_MIDRUN_ABORT_FRAC", "0.5"))
    abort_min_elapsed = float(os.environ.get("BENCH_MIDRUN_ABORT_MIN_SEC", "60"))
    # A machine-wide burst arriving MID-run dooms the round too (the parent
    # will reject it on the machine/relative-band gates), but without this
    # abort the child still finishes a 3-4x-inflated 15-18 minute run
    # (observed twice in one bench) — the budget drains on runs that were
    # unusable by minute 2. Windowed rate over ~90s so a brief blip
    # doesn't kill an otherwise-clean run.
    abort_machine_mid = float(os.environ.get("BENCH_MIDRUN_ABORT_MACHINE_RATE", "0.7"))

    def watchdog(st_base: int, t_base: float) -> None:
        from collections import deque

        window: deque[tuple[float, int]] = deque(maxlen=7)  # ~90s at 15s steps
        window.append((time.time(), read_steal_ticks()))
        while True:
            time.sleep(15)
            elapsed = time.time() - t_base
            stolen = (steal_now() - st_base) / 100.0
            now, mticks = time.time(), read_steal_ticks()
            window.append((now, mticks))
            t0w, m0w = window[0]
            machine_rate_win = (mticks - m0w) / 100.0 / max(now - t0w, 1.0)
            reason = None
            if elapsed >= abort_min_elapsed and stolen > abort_mid_frac * elapsed * n_cap:
                reason = "steal_mid_run"
            elif (
                elapsed >= abort_min_elapsed
                and len(window) == window.maxlen
                and machine_rate_win > abort_machine_mid
            ):
                reason = "machine_burst_mid_run"
            if reason:
                print(
                    json.dumps(
                        {
                            "master": master,
                            "pages": n_pages,
                            "aborted": reason,
                            "stolen_core_sec": round(stolen, 1),
                            "machine_rate_window": round(machine_rate_win, 3),
                            "pinned": pinned,
                        }
                    ),
                    flush=True,
                )
                os._exit(0)

    # The timed section covers the WHOLE job — plan construction, the
    # canonicalization loop (which executes inside run_pipeline), and the
    # final materialization. (A plan/exec split was tried and reverted:
    # connected-components runs its frontier jobs during pipeline
    # construction, so "plan time" would silently hide real work.)
    mst0 = read_steal_ticks()  # machine-wide, for context only
    st0 = steal_now()
    t0 = time.time()
    threading.Thread(target=watchdog, args=(st0, t0), daemon=True).start()
    out = run_pipeline(
        spark,
        fixtures.gen_pages(spark, n_pages, bulk_words=bulk_words, with_text=False),
        fixtures.gen_alias_index(spark),
    )
    n_triples = out["triples"].count()
    dt = time.time() - t0
    steal_core_sec = (steal_now() - st0) / 100.0
    machine_steal_rate = (read_steal_ticks() - mst0) / 100.0 / dt

    print(
        json.dumps(
            {
                "master": master,
                "pages": n_pages,
                "triples": n_triples,
                "dt_sec": round(dt, 2),
                # work-conserving steal correction over the pinned set (see
                # module docstring); equals dt_sec on a quiet host
                "dt_corr_sec": round(dt - steal_core_sec / n_cap, 2),
                "sentinel_sec": round(s, 3),
                "pinned": pinned,
                # stolen core-seconds on OUR vCPUs across the timed run
                "steal_core_sec": round(steal_core_sec, 1),
                # fraction of pinned capacity stolen — the clean/corrected
                # gate; symmetric across sides by construction
                "steal_frac_cap": round(steal_core_sec / (dt * n_cap), 4),
                # machine-wide stolen cores/s (context only — the old gate)
                "machine_steal_rate": round(machine_steal_rate, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
