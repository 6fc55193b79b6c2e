"""Connected components, LSH blocking recall, consensus gates.

Covers the reference's hard cases (SURVEY.md §5.3): chains, cycles, the
Berlin->Kitchener change-preservation gate, OCR-variant merging, and
head-entity skew (one node connected to many).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark import canonicalize as canon


def _cc(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], "node string")
    edf = spark.createDataFrame(edges, "a string, b string")
    out = canon.connected_components(ndf, edf)
    return {r["node"]: r["component"] for r in out.collect()}


def test_cc_chain(spark):
    comp = _cc(spark, list("abcdef"), [("a", "b"), ("b", "c"), ("d", "e")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    assert comp["f"] == "f"


def test_cc_cycle_terminates(spark):
    comp = _cc(spark, list("abc"), [("a", "b"), ("b", "c"), ("c", "a")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"


def test_cc_long_chain_converges(spark):
    nodes = [f"n{i:02d}" for i in range(12)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(11)]
    comp = _cc(spark, nodes, edges)
    assert set(comp.values()) == {"n00"}


def test_cc_very_long_chain_pointer_doubling(spark):
    """60-node path: plain min-propagation needs 60 rounds (> max_iter=25);
    pointer doubling must converge within the budget or raise — never
    silently mislabel."""
    nodes = [f"n{i:02d}" for i in range(60)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(59)]
    comp = _cc(spark, nodes, edges)
    assert set(comp.values()) == {"n00"}


def test_cc_two_chains_and_isolated(spark):
    nodes = [f"a{i}" for i in range(20)] + [f"b{i}" for i in range(20)] + ["solo"]
    edges = [(f"a{i}", f"a{i+1}") for i in range(19)] + [
        (f"b{i}", f"b{i+1}") for i in range(19)
    ]
    comp = _cc(spark, nodes, edges)
    assert comp["a19"] == "a0" and comp["b19"] == "b0" and comp["solo"] == "solo"


def test_cc_star_skew(spark):
    """Head-entity star: hub connected to 200 spokes — one component."""
    nodes = ["hub"] + [f"s{i}" for i in range(200)]
    edges = [("hub", f"s{i}") for i in range(200)]
    comp = _cc(spark, nodes, edges)
    assert len(set(comp.values())) == 1


def _shapes_graph():
    """One graph holding every shape as its own component, int labels
    (order-preserving when rendered as zero-padded strings)."""
    big = 2**60  # bigint ids above 2**53 must come back exact
    nodes = list(range(100, 106))  # chain 100-101-102, 103-104, solo 105
    edges = [(100, 101), (101, 102), (103, 104)]
    nodes += [200, 201, 202]  # cycle
    edges += [(200, 201), (201, 202), (202, 200)]
    nodes += [300 + i for i in range(31)]  # star, hub 315 is not the min
    edges += [(315, 300 + i) for i in range(31) if i != 15]
    nodes += [400 + i for i in range(60)]  # long chain, reversed edges
    edges += [(400 + i + 1, 400 + i) for i in range(59)]
    nodes += [500 + i for i in range(20)] + [600 + i for i in range(20)] + [700]
    edges += [(500 + i, 500 + i + 1) for i in range(19)]
    edges += [(600 + i, 600 + i + 1) for i in range(19)]
    # a, b, c = 801, 802, 803; x = 899 is not a node; c-c is a self-loop
    nodes += [801, 802, 803]
    edges += [(801, 899), (899, 802), (803, 803), (802, 803)]
    nodes += [900, 901]  # self-loops only
    edges += [(900, 900), (901, 901)]
    nodes += [big + 2, big + 1, None]  # null node; null endpoint ignored
    edges += [(big + 2, big + 1), (None, big + 1)]
    return nodes, edges


def _cc_rows(spark, typ):
    nodes, edges = _shapes_graph()
    if typ == "string":
        enc = lambda v: None if v is None else f"{v:020d}"  # noqa: E731
        nodes = [enc(n) for n in nodes]
        edges = [(enc(a), enc(b)) for a, b in edges]
    ndf = spark.createDataFrame([(n,) for n in nodes], f"node {typ}")
    edf = spark.createDataFrame(edges, f"a {typ}, b {typ}")
    out = canon.connected_components(ndf, edf)
    assert out.schema.simpleString() == f"struct<node:{typ},component:{typ}>"
    return sorted(map(tuple, out.collect()), key=repr)


@pytest.mark.parametrize("typ", ["string", "bigint"])
def test_cc_one_task_matches_distributed(spark, monkeypatch, typ):
    """The one-task union-find and the distributed label propagation give
    identical (node, component) rows on chains, a cycle, a star, an
    isolated node, an edge through a non-node, self-loops and a null
    node, for string and bigint nodes alike."""
    one_task = _cc_rows(spark, typ)
    monkeypatch.setattr(canon, "SMALL_GRAPH_ROWS", 0)
    distributed = _cc_rows(spark, typ)
    assert one_task == distributed

    comp = {
        None if n is None else int(n): None if c is None else int(c)
        for n, c in one_task
    }
    assert len(one_task) == len(comp)  # one row per distinct node
    assert {n: comp[n] for n in (801, 802, 803, None)} == {
        801: 801, 802: 802, 803: 802, None: None
    }
    assert 899 not in comp
    assert comp[900] == 900 and comp[901] == 901
    assert {comp[300 + i] for i in range(31)} == {300}
    assert {comp[400 + i] for i in range(60)} == {400}
    assert comp[2**60 + 2] == 2**60 + 1


def test_cc_small_graph_job_count(spark):
    """A vocabulary-sized graph costs a handful of jobs, not a job per
    label-propagation round (40 jobs for this chain before the one-task
    path)."""
    sc = spark.sparkContext
    nodes = [f"n{i:02d}" for i in range(12)]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node string")
    edf = spark.createDataFrame(
        [(nodes[i], nodes[i + 1]) for i in range(11)], "a string, b string"
    )
    group = "test_cc_small_graph_job_count"
    sc.setJobGroup(group, group)
    try:
        rows = canon.connected_components(ndf, edf).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {r["component"] for r in rows} == {"n00"}
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 6, jobs


def test_resolve_unlinked_top1_aggregate_matches_window_reference(spark):
    """Component entity = majority linked entity, ties to the min id; the
    min-of-struct aggregate equals the row_number window it replaced and
    leaves no Window in the plan."""
    from pyspark.sql import Window

    comps = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c1"), ("d", "c1"),
         ("e", "c2"), ("f", "c2"), ("g", "c2"), ("h", "c3")],
        "node string, component string",
    )
    s2e = spark.createDataFrame(
        [("a", "Q9"), ("b", "Q9"), ("c", "Q1"),  # c1: Q9 wins on count
         ("e", "Q7"), ("f", "Q3")],  # c2: tie, Q3 wins on id; c3 unlinked
        "norm_surface string, entity_id string",
    )
    out = canon.resolve_unlinked_surfaces(comps, s2e)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "top-1 must stay an aggregate, not a window"
    got = sorted(map(tuple, out.collect()))
    assert got == [("a", "Q9"), ("b", "Q9"), ("c", "Q1"), ("d", "Q9"),
                   ("e", "Q7"), ("f", "Q3"), ("g", "Q3")]

    linked = comps.withColumnRenamed("node", "norm_surface").join(s2e, "norm_surface", "left")
    w = Window.partitionBy("component").orderBy(F.desc("count"), F.asc("entity_id"))
    comp_entity = (
        linked.where(F.col("entity_id").isNotNull())
        .groupBy("component", "entity_id").count()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("component", F.col("entity_id").alias("comp_entity"))
    )
    ref = (
        linked.join(comp_entity, "component", "left")
        .select("norm_surface", F.coalesce("entity_id", "comp_entity").alias("entity_id"))
        .where(F.col("entity_id").isNotNull())
    )
    assert got == sorted(map(tuple, ref.collect()))


def test_lsh_blocking_recall_on_ocr_variants(spark):
    """Every OCR pair must survive LSH blocking (blocking-recall test,
    SURVEY.md §5.3 — analog of the reference bbox-prefilter assumption)."""
    pairs = [
        ("macdonald", "macdonaid"),
        ("ottawa", "ottavva"),
        ("winnipeg", "winipeg"),
        ("toronto", "torooto"),
        ("wilfrid laurier", "wilfrid lavrier"),
    ]
    surfaces = spark.createDataFrame(
        [(s,) for p in pairs for s in p], "norm_surface string"
    )
    cands = canon.candidate_pairs_lsh(surfaces)
    got = {(r["a"], r["b"]) for r in cands.collect()}
    for x, y in pairs:
        a, b = min(x, y), max(x, y)
        assert (a, b) in got, f"blocking lost pair {(a, b)}"


def test_consensus_gate_preserves_true_renames(spark):
    """Berlin->Kitchener analog: dissimilar names in one component must NOT
    be renamed; OCR variants MUST be."""
    occ = spark.createDataFrame(
        [("berlin", 5), ("kitchener", 9), ("ottawa", 50), ("ottavva", 2)],
        "norm_surface string, n_occurrences int",
    )
    comps = spark.createDataFrame(
        [("berlin", "berlin"), ("kitchener", "berlin"),
         ("ottawa", "ottava_c"), ("ottavva", "ottava_c")],
        "node string, component string",
    )
    cmap = {r["norm_surface"]: r for r in canon.consensus_canonical(occ, comps).collect()}
    assert not cmap["berlin"]["should_apply"]
    assert cmap["berlin"]["reason"] == "name_change"
    assert cmap["ottavva"]["should_apply"]
    assert cmap["ottavva"]["canonical_surface"] == "ottawa"
    assert cmap["ottavva"]["reason"] == "ocr_variants"


def test_same_as_edges_via_entity(spark):
    surfaces = spark.createDataFrame(
        [("ottawa",), ("bytown",), ("zzz",)], "norm_surface string"
    )
    s2e = spark.createDataFrame(
        [("ottawa", "Q2"), ("bytown", "Q2")], "norm_surface string, entity_id string"
    )
    edges = canon.same_as_edges(surfaces, s2e)
    got = {(r["a"], r["b"]) for r in edges.collect()}
    assert ("bytown", "ottawa") in got
