"""Canonicalization: MinHash-LSH blocking + connected components + consensus.

Re-expresses the reference's temporal-chain canonicalization
(/root/reference/scripts/assign_canonical_names.py:49-158 — explicit
dict-based graph walk with cycle guard; consensus + similarity gate at
assign_canonical_names_simple.py:94-124) as distributed primitives:

1. **Candidate pairs** between distinct mention surfaces via MinHash-LSH
   over character-3-gram shingles — all JVM-side (`xxhash64`, `transform`,
   `array_min`), no Python. This is the blocking analog of the reference's
   R-tree bbox prefilter (SURVEY.md O1) and the north rule's "MinHash-LSH
   blocking".
2. **Verify + classify**: exact Jaccard on shingle sets + Levenshtein ratio;
   pairs above threshold become SAME_AS edges (reference classifier
   link_csd_years_spatial_v2.py:135-165 shape: block -> exact verify ->
   threshold classify). Surfaces that linked to the same entity id are
   SAME_AS by construction (the reference's SAME_AS/iou>=0.999 chains).
3. **Connected components** over *distinct surfaces* (vocabulary-bounded,
   never page-cardinality): a graph of up to SMALL_GRAPH_ROWS node and
   edge rows is solved in one task, a single-group grouped-map union-find
   (one counting action, then one exchange). Larger graphs (corpus-scale near-dup
   clustering) run iterative min-label propagation as DataFrame
   self-joins with `localCheckpoint()` per frontier (the north rule's
   "checkpointed frontiers") and convergence detection (reference cycle
   guard -> `changed == 0`); its label aggregate is a min(), so partial
   (map-side) aggregation flattens head-entity key skew and AQE skew-join
   handles the join side.
4. **Consensus canonical form**: occurrence-weighted mode per component
   (reference A4) gated by avg/min similarity >= 70/60 (reference
   assign_canonical_names_simple.py:117-124) so true renames
   (Berlin -> Kitchener) are preserved while OCR variants merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .link import normalize_surface  # noqa: F401  (re-exported for callers)

N_HASHES = 12  # r=1 banding: any colliding minhash makes a candidate pair.
# Mention surfaces are short (1-4 words), so 3-gram Jaccard of true OCR
# variants can be as low as ~0.25; r=1 keeps blocking recall ~1-(1-j)^K
# while the exact verify step keeps precision. A deterministic prefix block
# is unioned in as a safety net for edit-distance-1 corruptions.
JACCARD_SAMEAS = 0.5
LEV_RATIO_SAMEAS = 0.7  # reference OCR-variant band is sim 60-95 (fix_ocr_errors.py:183-187)
AVG_SIM_GATE = 70.0
MIN_SIM_GATE = 60.0
# Largest graph (node rows + symmetric edge rows) connected_components
# solves in one task; above it the distributed label propagation runs.
# At the bound (500k string nodes, 750k random edges) the union-find took
# 11.5 s and 280 MB in one Python worker (4-vCPU Xeon host).
SMALL_GRAPH_ROWS = 2_000_000


def _shingles(col: str, n: int = 3):
    return F.array_distinct(
        F.expr(
            f"transform(sequence(0, greatest(length({col}) - {n}, 0)), "
            f"i -> substring({col}, i + 1, {n}))"
        )
    )


def candidate_pairs_lsh(surfaces: DataFrame, surface_col: str = "norm_surface") -> DataFrame:
    """Distinct surfaces -> candidate (a, b) pairs via MinHash-LSH banding.

    surfaces: one row per distinct normalized surface.
    Returns pairs with a < b and their exact shingle Jaccard.
    """
    sh = surfaces.select(surface_col).distinct().withColumn("sh", _shingles(surface_col))
    # K minhashes, JVM-side: min over xxhash64(shingle, k)
    minhash_cols = [
        F.array_min(F.expr(f"transform(sh, s -> xxhash64(s, {k}))")).alias(f"mh{k}")
        for k in range(N_HASHES)
    ]
    sig = sh.select(surface_col, "sh", *minhash_cols)
    # r=1 banding: one (band, key) row per minhash, via a single explode
    # (no N-way union -> one scan, one shuffle)
    banded = sig.select(
        surface_col,
        F.posexplode(F.array(*[F.col(f"mh{k}") for k in range(N_HASHES)])).alias(
            "band", "band_key"
        ),
    )
    # deterministic safety-net block: (3-char prefix, first-token count)
    prefix = sh.select(
        surface_col,
        F.lit(-1).alias("band"),
        F.xxhash64(F.substring(surface_col, 1, 3)).alias("band_key"),
    )
    banded = banded.unionByName(prefix)

    left = banded.select(F.col(surface_col).alias("a"), "band", "band_key")
    right = banded.select(F.col(surface_col).alias("b"), "band", "band_key")
    pairs = (
        left.join(right, ["band", "band_key"])
        .where(F.col("a") < F.col("b"))  # symmetric dedup (reference O4)
        .select("a", "b")
        .distinct()
    )
    # exact verify: shingle Jaccard, JVM-side
    sh_a = sh.select(F.col(surface_col).alias("a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col(surface_col).alias("b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(sh_a, "a")
        .join(sh_b, "b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .select("a", "b", "jaccard")
    )


def same_as_edges(
    surfaces: DataFrame,
    surface_to_entity: DataFrame | None = None,
    jaccard_threshold: float = JACCARD_SAMEAS,
) -> DataFrame:
    """SAME_AS edge list over distinct surfaces: LSH candidates verified by
    shingle Jaccard OR Levenshtein ratio (the OCR-variant band), plus pairs
    that entity-linked to the same id. Pairs whose two sides linked to
    *different* entities are vetoed — the analog of the reference keeping
    Treaty 6 / Treaty 7 distinct despite 1-char edit distance."""
    cands = candidate_pairs_lsh(surfaces)
    lsh = (
        cands.withColumn(
            "lev_ratio",
            F.round(
                1.0 - F.levenshtein("a", "b") / F.greatest(F.length("a"), F.length("b")), 6
            ),
        )
        .where(
            (F.col("jaccard") >= jaccard_threshold)
            | (F.col("lev_ratio") >= LEV_RATIO_SAMEAS)
        )
        .select("a", "b")
    )
    if surface_to_entity is None:
        return lsh.distinct()
    ent_a = surface_to_entity.select(F.col("norm_surface").alias("a"), F.col("entity_id").alias("ent_a"))
    ent_b = surface_to_entity.select(F.col("norm_surface").alias("b"), F.col("entity_id").alias("ent_b"))
    lsh = (
        lsh.join(F.broadcast(ent_a), "a", "left")
        .join(F.broadcast(ent_b), "b", "left")
        .where(
            F.col("ent_a").isNull() | F.col("ent_b").isNull() | (F.col("ent_a") == F.col("ent_b"))
        )
        .select("a", "b")
    )
    via_entity = (
        ent_a.join(ent_b, ent_a.ent_a == ent_b.ent_b)
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    return lsh.unionByName(via_entity).distinct()


def _min_root_components(table):
    """Grouped-map body of the one-task CC path (pyarrow Table -> Table).

    Rows with a null ``dst`` are the nodes; the rest are symmetric edges
    with both endpoints non-null. Union-find with path compression links
    the larger root under the smaller, so every root is the minimum node
    of its component (Python orders str by code point, the order Spark's
    UTF-8 binary comparison gives). Edges with an endpoint outside the
    nodes are skipped; a null node comes out as (None, None)."""
    import pyarrow as pa

    src = table.column("src").to_pylist()
    dst = table.column("dst").to_pylist()
    parent = {s: s for s, d in zip(src, dst) if d is None and s is not None}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src, dst):
        if b is not None and a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    comps = [find(n) for n in nodes]
    if None in src:  # edge rows never carry a null src
        nodes.append(None)
        comps.append(None)
    t = table.column("src").type
    return pa.table(
        {"node": pa.array(nodes, type=t), "component": pa.array(comps, type=t)}
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components. nodes: (node); edges: (a, b).

    Returns (node, component) where component = min node id in component.
    Edges with an endpoint outside ``nodes`` are ignored, self-loops are
    no-ops, and a null node comes out as (None, None). Node types: string
    or integral.

    One action counts the rows the graph has: the nodes plus both
    directions of every distinct edge. Up to SMALL_GRAPH_ROWS of them,
    the graph is solved in ONE task: a single-group ``applyInArrow``
    union-find over the checkpointed rows, so the plan adds one exchange
    and no per-round jobs. Distinct mention surfaces are vocabulary-bounded,
    so the pipeline always takes this path.

    Above it, min-label propagation runs as iterative DataFrame self-joins
    with checkpointed frontiers (north rule), one job per round, with
    pointer doubling for O(log diameter) rounds. Convergence = no label
    changed (reference cycle-guard analog, assign_canonical_names.py:146-151).
    The per-iteration min() aggregate is partially (map-side) combined, so
    head-entity stars (one label feeding millions of neighbors) reduce
    before the shuffle — the skew defusal the north rule asks for; AQE
    skew-join handles the join side."""
    node_type = nodes.schema[node_col].dataType
    sym = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    # node rows carry a null dst; the count materializes the checkpoint
    # both paths read
    graph = (
        nodes.select(
            F.col(node_col).alias("src"), F.lit(None).cast(node_type).alias("dst")
        )
        .unionByName(sym)
        .localCheckpoint(eager=False)
    )
    if graph.count() <= SMALL_GRAPH_ROWS:
        # groupBy(F.lit(0)) fails inside Spark; group on a literal column.
        # applyInArrow, not applyInPandas: pandas turns a bigint column
        # holding a null into float64, which rounds ids above 2**53.
        return (
            graph.withColumn("_g", F.lit(0))
            .groupBy("_g")
            .applyInArrow(
                _min_root_components,
                StructType(
                    [StructField("node", node_type), StructField("component", node_type)]
                ),
            )
        )

    sym = graph.where(F.col("dst").isNotNull())
    labels = (
        graph.where(F.col("dst").isNull())
        .select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        # step 1 — neighbor min: m(v) = min(label(v), labels of neighbors)
        neighbor_labels = (
            sym.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(neighbor_labels, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nbr_component", "component")
            ).alias("component"),
            F.col("component").alias("prev_component"),
        )
        # step 2 — pointer doubling: component(v) := component(component(v)).
        # Neighbor-min alone moves labels one hop per round (O(diameter) —
        # a 50-node chain would silently exhaust max_iter); the label-of-
        # label jump doubles propagation distance per round => O(log n).
        # Applied TWICE per round (r7): a second label-of-label join
        # quadruples propagation distance per convergence check, so the
        # loop needs roughly half the rounds — and each round's count()
        # action is serial driver floor. Extra doubling at the fixpoint
        # is a no-op, so the final labels are unchanged.
        parent = stepped.select(
            F.col("node").alias("component"), F.col("component").alias("grand")
        )
        doubled = stepped.join(parent, "component", "left").select(
            "node",
            F.least(F.coalesce("grand", "component"), F.col("component")).alias(
                "component"
            ),
            "prev_component",
        )
        parent2 = doubled.select(
            F.col("node").alias("component"), F.col("component").alias("grand")
        )
        doubled = doubled.join(parent2, "component", "left").select(
            "node",
            F.least(F.coalesce("grand", "component"), F.col("component")).alias(
                "component"
            ),
            "prev_component",
        )
        # ONE job per iteration: the previous label rides through the
        # frontier (no extra join against the old labels), and the lazy
        # localCheckpoint materializes inside the convergence count.
        # (Separate checkpoint + join-count jobs doubled the
        # per-iteration driver floor — the serial cost the scaling
        # bench actually measures.)
        new_labels = doubled.localCheckpoint(eager=False)
        # full count (no limit-1 short circuit): the count job must touch
        # every partition so the lazy checkpoint fully materializes
        # before the next iteration builds on it
        changed = new_labels.where(
            F.col("component") != F.col("prev_component")
        ).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        "(graph diameter too large?) — raise max_iter; silent mislabeling "
        "is not an option"
    )


def consensus_canonical(
    surface_occurrences: DataFrame,
    components: DataFrame,
) -> DataFrame:
    """Per component: occurrence-weighted mode surface + similarity gate.

    surface_occurrences: (norm_surface, n_occurrences)
    components: (node=norm_surface, component)

    Returns F5-shaped canonical_map:
    (norm_surface, component, canonical_surface, should_apply,
     avg_similarity, min_similarity, reason).
    """
    occ = surface_occurrences.join(
        components.withColumnRenamed("node", "norm_surface"), "norm_surface"
    )
    # argmax as min-of-struct (r7, same move as link top-1): the ordering
    # (n_occurrences desc, norm_surface asc) is min(struct(-n, surface));
    # (component, norm_surface) is unique per occ row, so the total order
    # has no ties and any-of-ties == row_number's first row. Partial
    # aggregation combines map-side instead of sorting every occurrence
    # row on both sides of the window exchange.
    consensus = (
        occ.groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_occurrences")).alias("_neg_n"),
                    F.col("norm_surface").alias("canonical_surface"),
                )
            ).alias("_m")
        )
        .select("component", F.col("_m.canonical_surface").alias("canonical_surface"))
    )
    sim = (
        occ.join(consensus, "component")
        .withColumn(
            "similarity",
            F.round(
                100.0
                * (
                    1.0
                    - F.levenshtein("norm_surface", "canonical_surface")
                    / F.greatest(F.length("norm_surface"), F.length("canonical_surface"))
                ),
                4,
            ),
        )
    )
    gates = sim.groupBy("component").agg(
        F.round(F.avg("similarity"), 4).alias("avg_similarity"),
        F.min("similarity").alias("min_similarity"),
        F.countDistinct("norm_surface").alias("n_variants"),
    )
    return (
        sim.join(gates, "component")
        .withColumn(
            "should_apply",
            (F.col("n_variants") == 1)
            | (
                (F.col("avg_similarity") >= AVG_SIM_GATE)
                & (F.col("min_similarity") >= MIN_SIM_GATE)
            ),
        )
        .withColumn(
            "reason",
            F.when(F.col("n_variants") == 1, "unanimous")
            .when(F.col("should_apply"), "ocr_variants")
            .otherwise("name_change"),
        )
        .select(
            "norm_surface", "component", "canonical_surface", "should_apply",
            "avg_similarity", "min_similarity", "reason",
        )
    )


def resolve_unlinked_surfaces(
    components: DataFrame, surface_to_entity: DataFrame
) -> DataFrame:
    """Recall recovery: give unlinked surfaces the entity id of their
    component (majority entity among linked members, tie-break min id)."""
    linked = components.withColumnRenamed("node", "norm_surface").join(
        surface_to_entity.select("norm_surface", "entity_id"), "norm_surface", "left"
    )
    ent_counts = (
        linked.where(F.col("entity_id").isNotNull())
        .groupBy("component", "entity_id")
        .count()
    )
    # top-1 as min-of-struct, the same move as link and consensus: the
    # order (count desc, entity_id asc) is min(struct(-count, entity_id)),
    # and (component, entity_id) is unique per row, so there are no ties.
    comp_entity = (
        ent_counts.groupBy("component")
        .agg(
            F.min(
                F.struct(
                    (-F.col("count")).alias("_neg_n"),
                    F.col("entity_id").alias("comp_entity"),
                )
            ).alias("_m")
        )
        .select("component", F.col("_m.comp_entity").alias("comp_entity"))
    )
    return (
        linked.join(comp_entity, "component", "left")
        .select(
            "norm_surface",
            F.coalesce("entity_id", "comp_entity").alias("entity_id"),
        )
        .where(F.col("entity_id").isNotNull())
        .dropDuplicates(["norm_surface"])
    )
