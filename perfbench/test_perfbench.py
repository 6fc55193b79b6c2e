"""Tests of the benchmark's own parts: inputs, event-log roll-up, contract.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import eventlog  # noqa: E402
import inputs  # noqa: E402
from kgspark import fixtures, mentions  # noqa: E402
from kgspark.extract import extract_text_bytes  # noqa: E402

N = 40


def _build(tmp: Path, name: str, seed: int = 7, **wide) -> dict:
    return inputs.build(tmp / name, seed, N, bulk_words=50, **wide)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    wide = {"wide_vocab": 300, "wide_per_page": 2}
    a = _build(tmp_path, "a", **wide)
    b = _build(tmp_path, "b", **wide)
    c = _build(tmp_path, "c", seed=8, **wide)
    assert inputs.digest(tmp_path / "a") == inputs.digest(tmp_path / "b")
    assert inputs.digest(tmp_path / "a") != inputs.digest(tmp_path / "c")
    assert a["golden"] == b["golden"]


def test_wide_sentences_leave_golden_triples_unchanged(tmp_path):
    plain = _build(tmp_path, "plain")
    wide = _build(tmp_path, "wide", wide_vocab=300, wide_per_page=3)
    expected = {
        (s, p, o, fixtures.page_record(i, 7)["url"])
        for i in range(N)
        for s, p, o in fixtures.page_record(i, 7)["_triples"]
    }
    assert plain["golden"] == wide["golden"] == expected


def test_wide_sentences_add_mentions_but_no_relations_or_regions(tmp_path):
    import pyarrow.parquet as pq

    entities = inputs.wide_entities(7, 300)
    gaz = sorted({a for r in fixtures.ALIAS_INDEX_ROWS + entities for a in r[2]})
    regions = sorted({r[6] for r in fixtures.ALIAS_INDEX_ROWS if r[6]})
    scan = mentions._build_scanner(gaz, regions)
    _build(tmp_path, "wide", wide_vocab=300, wide_per_page=3)
    wide_html = pq.read_table(tmp_path / "wide" / "pages").column("html").to_pylist()
    extra_mentions = 0
    for i, html in enumerate(wide_html):
        base = scan(extract_text_bytes(fixtures.page_record(i, 7, 50)["html"]))
        got = scan(extract_text_bytes(html))
        assert got[1] == base[1]  # relation candidates
        assert got[2] == base[2]  # context regions
        extra_mentions += len(got[0]) - len(base[0])
    assert extra_mentions > N


def test_wide_names_stay_clear_of_fixture_aliases():
    for row in inputs.wide_entities(3, 500):
        for alias in row[2]:
            low = alias.lower()
            for s in inputs._FIXTURE_SURFACES:
                assert inputs.edit_distance(low, s.lower()) > inputs.MIN_EDIT_GAP


def test_tree_cpu_counts_the_children_a_run_starts():
    import subprocess

    import host

    before = host.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "sum(range(20_000_000))"], check=True)
    assert host.tree_cpu_s(os.getpid()) - before >= 0.1


# ---- event-log roll-up -------------------------------------------------------


def _job_start(job, stages, submit, desc, run="0", phase="construct"):
    props = {eventlog.RUN_PROP: run, eventlog.PHASE_PROP: phase} if run else {}
    if desc:
        props[eventlog.DESC_PROP] = desc
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": submit,
         "Stage IDs": stages, "Properties": props},
        *({"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": s},
           "Properties": props} for s in stages),
    ]


def _task(stage, launch, finish, run_ms, cpu_ns=0, sw=0, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Accumulables": [{"ID": i, "Update": u} for i, u in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
        },
    }


def _synthetic_log() -> list[dict]:
    plan = {"nodeName": "MapInPandas",
            "metrics": [{"name": eventlog.PY_SENT, "accumulatorId": 77}],
            "children": [{"nodeName": "Scan parquet", "metrics": [], "children": []}]}
    return [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        *_job_start(0, [0, 1], 1000, "kg:link.link_mentions"),
        _task(0, 1000, 1400, 300, cpu_ns=2 * 10**8, sw=eventlog.MB,
              accums=[(77, 2 * eventlog.MB)]),
        _task(0, 1000, 2600, 1500),
        _task(1, 2600, 3000, 350),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # overlaps job 0: the union, not the sum, leaves the gap
        *_job_start(1, [2], 2500, None),
        _task(2, 2500, 3200, 650),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3200},
        *_job_start(2, [3], 4000, "kg:pipeline.action", phase="action"),
        _task(3, 4000, 4500, 400),
        _task(3, 4000, 4600, 500),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 4600},
        # a checkpointed stage's write: credited to the layer computing it
        *_job_start(4, [5], 4600, "kg:io.write.links", phase="graph"),
        _task(5, 4600, 4700, 100, sw=eventlog.MB),
        {"Event": "SparkListenerJobEnd", "Job ID": 4, "Completion Time": 4700},
        # another run: must not leak into run "0"
        *_job_start(3, [4], 5000, "kg:link.link_mentions", run="1"),
        _task(4, 5000, 5100, 90),
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 5100},
    ]


def test_rollup_splits_a_run_by_tag_and_layer(tmp_path):
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in _synthetic_log()) + "\n")
    runs = eventlog.rollup(eventlog.read_events(log))
    run = runs["0"]
    assert run.tagged_run_s == pytest.approx(3.8)
    link = run.layer("link")
    assert link.exec_run_s == pytest.approx(2.25)  # link_mentions + the links write
    assert link.exec_cpu_s == pytest.approx(0.2)
    assert link.shuffle_write_mb == pytest.approx(2.0)
    assert link.jobs == 2
    # stage 0 tasks ran 400 and 1600 ms: max / median = 1600 / 1000
    assert link.task_skew == pytest.approx(1.6)
    assert run.layer("io").jobs == 0
    assert run.tags[eventlog.UNTAGGED].exec_run_s == pytest.approx(0.65)
    assert run.py_sent_mb["MapInPandas"] == pytest.approx(2.0)
    assert run.jobs_in({"construct"}) == 2
    assert run.jobs_in(None, "kg:pipeline") == 1
    assert runs["1"].tagged_run_s == pytest.approx(0.09)


def test_tag_layer_credits_stage_writes_to_their_layer():
    assert eventlog.tag_layer("kg:io.write.annotated") == "mentions"
    assert eventlog.tag_layer("kg:io.write.components") == "canonicalize"
    assert eventlog.tag_layer("kg:io.write.triples") == "relations"
    assert eventlog.tag_layer("kg:io.read.links") == "io"
    assert eventlog.tag_layer("kg:pipeline.construct") == "pipeline"
    assert eventlog.tag_layer(eventlog.UNTAGGED) == eventlog.UNTAGGED
    # every stage run_pipeline can checkpoint has a layer
    import inspect

    from kgspark import pipeline

    src = inspect.getsource(pipeline.run_pipeline)
    assert set(re.findall(r'ck\(\s*"(\w+)"', src)) == set(eventlog.STAGE_LAYER)


def test_tagged_sum_check_uses_a_total_independent_of_the_tags():
    events = _synthetic_log()
    run = eventlog.rollup(events)["0"]
    # run 0's tasks were launched in [1000, 4700]; run 1's at 5000
    assert eventlog.task_run_s_between(events, 1000, 4700) == pytest.approx(3.8)
    assert eventlog.tagged_sum_matches(run, events, 1000, 4700)
    # a task inside the window whose stage carries no properties falls to
    # run '': the attribution lost it, and the check says so
    lost = [*_job_start(9, [9], 2000, None, run=None),
            _task(9, 2000, 2100, 120),
            {"Event": "SparkListenerJobEnd", "Job ID": 9, "Completion Time": 2100}]
    events = events + lost
    run = eventlog.rollup(events)["0"]
    assert run.tagged_run_s == pytest.approx(3.8)
    assert not eventlog.tagged_sum_matches(run, events, 1000, 4700)


def test_driver_gap_is_wall_minus_union_of_job_intervals(tmp_path):
    run = eventlog.rollup(_synthetic_log())["0"]
    # jobs cover [1000, 3200] and [4000, 4700]: 2.9 s of a 5.0 s window
    assert eventlog.driver_gap_s(run, 500, 5500) == pytest.approx(5.0 - 2.9)
    assert eventlog.driver_gap_s(run, 500, 5500, {"action"}) == pytest.approx(5.0 - 0.6)
    # clipping: a window inside one job has no gap
    assert eventlog.driver_gap_s(run, 1500, 2500) == pytest.approx(0.0)
    assert eventlog.union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30


# ---- contract ------------------------------------------------------------------


def test_benchmark_json_matches_the_driver():
    import run

    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(w["name"], w["why"]) for w in spec["workloads"]] == [
        (w.name, w.why) for w in run.WORKLOADS.values()
    ]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_spark_and_python_triple_digests_agree():
    import run
    from pyspark.sql import SparkSession

    rows = {("Q20", "born_in", "Q5", "https://e/1"), ("Q1", "gov", "Q2", "https://e/2"),
            ("Q3", "located_in", "Q1", "https://é/3")}
    spark = SparkSession.builder.master("local[1]").getOrCreate()
    try:
        df = spark.createDataFrame(sorted(rows), run.KEY)
        assert run.triples_digest(df) == run.set_digest(rows)
        assert run.triples_digest(df.limit(2)) != run.set_digest(rows)
    finally:
        spark.stop()
