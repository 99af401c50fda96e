"""Deterministic random-walk sampling (DeepWalk/node2vec-style) —
the graph-structured sibling of the corpus samplers in
``operators/sampling``: walks become training sequences for graph
embeddings the way documents become token streams.

Spark shape (the 100 TB story):

- the adjacency relation is built ONCE (symmetrize → distinct →
  per-source neighbor index + degree) and held as the loop's edge
  cache across steps (``operators/fixpoint.py``);
- each step is ONE equi-join on the current node id: the walk row
  carries ``cur``, the adjacency row carries ``(u, idx, deg)``, and
  the step picks the neighbor whose index equals
  ``xxhash64(walk_id, step, seed) pmod deg`` — all walks advance in
  one keyed shuffle per step, no per-walk driver logic;
- walk state is (n_nodes × walks_per_node) rows with a bounded array
  column — node-bounded, checkpointed per step to truncate lineage.

Determinism: the neighbor choice hashes (walk_id, step, seed) —
re-running produces bit-identical walks on any partitioning, which is
what makes walk corpora reproducible training inputs (and lets the
incremental/streaming tiers re-derive rather than store them).
xxhash64 is engine-internal, so this ships test-covered (validity +
determinism + reference parity) rather than DuckDB-oracled, like the
other xxhash64-keyed samplers.

Dead ends (directed sinks) freeze the walk: the path keeps its length
at the point of stranding rather than padding or resampling — the
caller sees true trajectory lengths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geoestate_etl_spark.operators.fixpoint import GraphLoop, iterate


def build_adjacency(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """``(u, v, idx, deg)``: deterministic per-source neighbor index
    (ordered by neighbor id) + out-degree, the relation every walk
    step equi-joins."""
    from geoestate_etl_spark.operators.paths import symmetrized_edges

    e = symmetrized_edges(edges, src_col, dst_col, directed)
    w = Window.partitionBy("u").orderBy("v")
    return e.select(
        "u",
        "v",
        (F.row_number().over(w) - 1).alias("idx"),
        F.count("*").over(Window.partitionBy("u")).alias("deg"),
    )


def random_walks(
    edges: DataFrame,
    walk_len: int = 5,
    walks_per_node: int = 1,
    seed: int = 42,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """``(walk_id, start, path)`` — one row per walk; ``path`` is the
    node array (length ``walk_len + 1`` unless a directed dead end
    froze it early). Starts one batch of walks at EVERY node."""
    # start nodes = BOTH endpoints: a directed sink has no adjacency
    # row but still starts (and immediately freezes) its walks
    raw = edges.select(
        F.col(src_col).cast("long").alias("n")
    ).union(edges.select(F.col(dst_col).cast("long").alias("n")))
    nodes = raw.distinct().select(F.col("n").alias("start"))

    with GraphLoop(edges.sparkSession) as loop:
        adj = loop.edges(build_adjacency(edges, src_col, dst_col, directed))
        walks = nodes.crossJoin(
            adj.sparkSession.range(walks_per_node).select(F.col("id").alias("k"))
        ).select(
            (F.col("start") * walks_per_node + F.col("k")).alias("walk_id"),
            "start",
            F.col("start").alias("cur"),
            F.array(F.col("start")).alias("path"),
        )

        def step(walks: DataFrame, i: int) -> DataFrame:
            choice = F.pmod(
                F.xxhash64(F.col("walk_id"), F.lit(i + 1), F.lit(seed)),
                F.col("deg"),
            )
            return walks.join(
                adj,
                (walks["cur"] == adj["u"]) & (adj["idx"] == choice),
                "left",
            ).select(
                "walk_id",
                "start",
                F.coalesce(F.col("v"), F.col("cur")).alias("cur"),
                F.when(
                    F.col("v").isNotNull(),
                    F.concat(F.col("path"), F.array(F.col("v"))),
                )
                .otherwise(F.col("path"))
                .alias("path"),
            )

        return iterate(walks, step, walk_len).select("walk_id", "start", "path")


def node_embeddings(
    edges: DataFrame,
    dim: int = 16,
    walk_len: int = 8,
    walks_per_node: int = 4,
    seed: int = 42,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """``(vec_id, embedding)`` — DeepWalk end-to-end: walks become
    "sentences", stock ``pyspark.ml`` Word2Vec (skip-gram family)
    learns a vector per node, output shaped to feed the embedding
    tier unchanged (``ivf_build`` / ``knn_join`` / ``semantic_dedup``
    all consume ``(vec_id, array<float>)``).

    The trainer is the quality-model pattern (operators/
    quality_model.py): pyspark.ml fits the bounded model; everything
    corpus-scale stays in the deterministic walk sampler. Word2Vec's
    internal init is seeded but its aggregation order is not, so
    embeddings are run-stable only approximately — downstream tests
    assert GEOMETRY (neighbors closer than strangers), never exact
    floats, and anything needing bit-reproducibility should persist
    the trained vectors like the committed IVF artifact."""
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array

    walks = random_walks(
        edges,
        walk_len=walk_len,
        walks_per_node=walks_per_node,
        seed=seed,
        src_col=src_col,
        dst_col=dst_col,
    ).select(F.transform("path", lambda x: x.cast("string")).alias("sent"))
    model = Word2Vec(
        vectorSize=dim,
        minCount=1,
        seed=seed,
        inputCol="sent",
        outputCol="_vec",
    ).fit(walks)
    return model.getVectors().select(
        F.col("word").cast("long").alias("vec_id"),
        F.transform(
            vector_to_array(F.col("vector")), lambda x: x.cast("float")
        ).alias("embedding"),
    )
