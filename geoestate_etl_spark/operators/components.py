"""Connected components over near-duplicate pairs: dedup *clustering*.

Pair-finding (MinHash/SimHash/embedding LSH) yields edges; the
real-world dedup step is grouping transitive duplicates into clusters
and electing one canonical keeper per cluster. This is the engine's
iterative-algorithm surface (genuinely not single-query SQL): the
alternating small-star/large-star style label propagation —
every node repeatedly adopts the minimum label in its neighborhood
until a fixed point.

Scale shape per iteration: one groupBy (min label per node) + two
joins (propagate along edges, then pointer-jump) — all shuffles on
node id. The pointer-jump makes convergence O(log diameter), so the
default 20 iterations cover components with diameters up to ~2^20 —
plain one-hop propagation would need O(diameter) rounds and silently
under-merge long chains. Both loops run on ``operators/fixpoint.py``
(one checkpointed round per iteration, observed convergence, the
keyed edge cache and its release).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoestate_etl_spark.operators.fixpoint import (
    CHANGED,
    GraphLoop,
    checkpoint,
    iterate,
)


def connected_components(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    max_iter: int = 20,
    driver_max_edges: int | None = 100_000,
) -> DataFrame:
    """Resolve (id_a, id_b) edges into (id, component) where component
    is the minimum id reachable from ``id`` — deterministic labels.

    Returns ONLY nodes that appear in at least one pair (singletons
    are trivially their own component; callers union them in if
    needed).

    ``driver_max_edges`` (r9): an edge set at or below this bound is
    solved with driver-side union-find instead of the iterative
    distributed loop. The bound is exactly the iteration window's
    one-shuffle-partition clamp (≥100k edges per partition): below
    it every distributed round would run as a SINGLE task anyway, so
    the loop's per-round scheduling (one localCheckpoint job per
    round, O(log diameter) rounds) is pure overhead over a graph
    whose deduped edges are ≤ ~1.6 MB of longs — the same
    driver-bounded-metadata class as the k-means centroids and range
    boundaries. Labels are the identical unique fixed point (min
    reachable id), pinned by ``tests/test_components.py`` parity.
    ``None`` forces the distributed loop, as do float and double ids
    (NaN has no Python ordering) and NULL or binary ones.
    """
    # symmetrize in ONE pass over the pair plan: explode each pair into
    # both directions instead of `pairs UNION pairs-reversed`, which
    # executes the (often expensive, e.g. full MinHash-LSH) pair plan
    # TWICE on first materialization — measured as the dominant fixed
    # cost of corpus_pipeline's CC stage at sf0.1 (r8)
    fwd = F.struct(F.col(left_col).alias("src"), F.col(right_col).alias("dst"))
    rev = F.struct(F.col(right_col).alias("src"), F.col(left_col).alias("dst"))
    sym = pairs.select(F.explode(F.array(fwd, rev)).alias("_e")).select("_e.*")
    with GraphLoop(pairs.sparkSession) as loop:
        # the edge count (materializing the pair plan WITH AQE) picks
        # the tier, then sizes the distributed loop's shuffles
        edges = loop.edges(sym, distinct=True)
        id_type = edges.schema["src"].dataType
        if (
            driver_max_edges is not None
            and loop.n_edges <= driver_max_edges
            and not isinstance(id_type, (T.FloatType, T.DoubleType))
        ):
            out = _cc_driver(pairs.sparkSession, edges, id_type)
            if out is not None:  # None = NULL or unhashable ids; use the loop
                return out
        # keyed on dst: every round's neighbor join reuses the cached
        # partitioning and order instead of re-exchanging the edges
        edges = loop.keyed(edges, "dst")
        # start: every node labeled with the min of itself and its
        # neighbors (the edges are symmetric, so grouping on dst rides
        # the keyed layout). NOT checkpointed — round 0's checkpoint
        # materializes it along with its own work
        labels = (
            edges.groupBy("dst")
            .agg(F.min("src").alias("m"))
            .select(F.col("dst").alias("id"), F.least("dst", "m").alias("component"))
        )

        def step(labels: DataFrame, _: int) -> DataFrame:
            # propagate: each node adopts min(own label, neighbors' labels)
            neighbor_labels = (
                edges.join(labels.withColumnRenamed("id", "dst"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("component").alias("n_comp"))
            )
            propagated = labels.join(neighbor_labels, "id", "left").select(
                "id",
                F.col("component").alias("_old"),
                F.least("component", F.coalesce("n_comp", "component")).alias(
                    "component"
                ),
            )
            # pointer-jump (path halving): also adopt the label OF my
            # label. Neighbor propagation alone moves labels one hop per
            # round (O(diameter) rounds — a long chain would not
            # converge within max_iter); with jumping it is O(log n).
            parents = propagated.select(
                F.col("id").alias("component"), F.col("component").alias("parent")
            )
            comp = F.least("component", F.coalesce("parent", "component"))
            return propagated.join(parents, "component", "left").select(
                "id", comp.alias("component"), (comp != F.col("_old")).alias(CHANGED)
            )

        return iterate(labels, step, max_iter)


def _cc_driver(spark, edges: DataFrame, id_type) -> "DataFrame | None":
    """Union-find over a driver-collected (small, deduped, symmetric)
    edge set — same (id, component=min reachable id) contract as the
    distributed loop. Union-by-min keeps every set's root at its
    minimum member; path halving keeps finds near-constant at this
    size. Returns None when a NULL or unhashable id is present (the
    caller falls back to the distributed loop, whose null-key groupBy
    semantics are the contract)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    try:
        for a, b in edges.collect():
            if a is None or b is None:
                return None
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # min id stays the root
    except TypeError:
        # ids Python can't hash (BinaryType collects as bytearray) —
        # fall back to the distributed loop, mirroring the NULL-id
        # fallback (r9 ADVICE). Float ids never get here: NaN raises
        # nothing, yet ``parent[root] != root`` holds forever for it,
        # so the caller sends float and double ids to the loop up front
        return None

    rows = [(x, find(x)) for x in parent]
    schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("component", id_type),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of each node to the
    minimum of its neighborhood (Kiveris et al., MR-CC). One symmetric
    groupBy + one equi-join, all shuffled on node id."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct each edge large→small, then connect all smaller neighbors
    (and the center) to the neighborhood minimum."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    spokes = (
        directed.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = mins.select("u", F.col("m").alias("v"))
    return spokes.union(centers).distinct()


def connected_components_star(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Alternating large-star/small-star contraction — same (id,
    component=min reachable id) contract as :func:`connected_components`,
    different scale profile.

    Label propagation carries a (node, label) row per node every round
    regardless of progress; star contraction rewrites the EDGE set,
    which shrinks geometrically as components collapse into stars, so
    per-round shuffle volume decays. On skewed pair graphs (one huge
    near-dup cluster plus many small ones — the common corpus shape)
    that makes later rounds nearly free, and high-degree hubs flatten
    in O(1) rounds instead of feeding the same wide neighborhood back
    through every iteration. Convergence is O(log² n) worst case,
    ~log n in practice (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public algorithm).

    Prefer this for very large / skewed pair graphs; the label-prop
    variant keeps singleton bookkeeping simpler for modest inputs.
    """
    # One materialization of the (possibly expensive) pair plan: the
    # node set and the edge set both derive from the checkpointed raw
    # frame instead of each re-executing the pair lineage (same
    # double-compute fix as connected_components' symmetrize, r8)
    raw = checkpoint(
        pairs.select(F.col(left_col).alias("u"), F.col(right_col).alias("v"))
    )
    # node set from the RAW pairs: a self-loop-only node is its own
    # (singleton) component and must still get a label
    all_nodes = checkpoint(
        raw.select(F.explode(F.array("u", "v")).alias("id")).distinct()
    )
    # converged when the (distinct) edge set is unchanged: the observed
    # row counts first, the one-sided difference only when they agree
    edges = iterate(
        raw.filter(F.col("u") != F.col("v")).distinct(),
        lambda e, _: _small_star(_large_star(e)),
        max_iter,
        until=lambda r: r.rows == r.prev_rows
        and r.new.exceptAll(r.prev).limit(1).count() == 0,
    )
    # fixed point is a forest of stars (u → component root); roots
    # appear only on the right, so union them back as self-labeled
    labels = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = all_nodes.join(
        labels.select("id"), "id", "left_anti"
    ).select("id", F.col("id").alias("component"))
    return labels.union(roots)


def dedup_clusters(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    scores: DataFrame | None = None,
) -> DataFrame:
    """Cluster summary from near-dup pairs: one row per component with
    the canonical keeper and member count.

    Default keeper = component min id (cheap, deterministic). With
    ``scores`` — a (id, score) frame, e.g. ``quality_score`` over the
    documents — the keeper is the member with the highest score
    (production near-dup pipelines keep the *best* copy, not the
    first); ties and unscored members fall back toward min id via
    ``max_by`` on a (score, -id) ordering, so the choice stays
    deterministic. One extra equi-join on id, still no row_number
    window over the corpus.
    """
    cc = connected_components(pairs, left_col, right_col)
    if scores is None:
        return cc.groupBy("component").agg(
            F.min("id").alias("keeper_id"), F.count("*").alias("cluster_size")
        )
    scored = cc.join(scores, "id", "left").withColumn(
        "_rank", F.struct(F.coalesce("score", F.lit(float("-inf"))), -F.col("id"))
    )
    return scored.groupBy("component").agg(
        F.max_by("id", "_rank").alias("keeper_id"),
        F.count("*").alias("cluster_size"),
    )
