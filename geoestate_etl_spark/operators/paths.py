"""Graph path primitives: BFS hop-distance labeling (single-source
shortest paths on unweighted graphs) — the frontier-expansion family
next to the fixpoint families in ``operators/components`` (label
propagation, star contraction) and ``operators/pagerank``.

Spark shape (Pregel-style, the 100 TB story):

- one shuffle per LEVEL, not per edge: the frontier equi-joins the
  edge relation on the node id, new nodes are anti-joined against the
  visited set, and both shuffles key on the same id — at scale the
  edge relation is bucketed/pre-partitioned by ``src`` once and every
  level reuses that partitioning;
- per-level ``localCheckpoint`` truncates the iterative lineage
  (``operators/fixpoint.py``) and the loop EARLY-STOPS on an empty
  frontier, so cost is O(diameter) levels — BFS on small-world graphs
  converges in a handful of levels regardless of node count;
- the visited set carries ``(id, dist)`` only — node-count-bounded,
  never edge-bounded.

Correctness shape: level-synchronous BFS assigns each node the MINIMUM
hop count by construction (a node enters exactly when first reached).
The registry oracle rebuilds the same labeling declaratively with a
DuckDB recursive CTE + ``min(d)`` — an independent formulation of the
same fixpoint.

Reference parity: the reference has no graph surface (dags/main.py is
numeric/geo ETL); engine-declared extension (SURVEY §2 'beyond').
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoestate_etl_spark.operators.fixpoint import (
    CHANGED,
    GraphLoop,
    checkpoint,
    iterate,
)


def symmetrized_edges(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    directed: bool,
    extra_cols: tuple[str, ...] = (),
    dedup: bool = True,
) -> DataFrame:
    """Canonical edge prep shared by the path/walk family: cast ids to
    long, mirror when undirected, dedup. One home for the contract
    (r4 review: three copies had drifted into being).

    ``dedup=False`` (r10) skips the trailing ``distinct()`` for
    callers that fold the dedup into their own keyed exchange (the BFS
    and SSSP loops repartition by ``u`` anyway, and HashPartitioning
    on ``u`` already co-locates every (u, v) duplicate, so their
    dropDuplicates needs no second shuffle)."""
    cols = [
        F.col(src_col).cast("long").alias("u"),
        F.col(dst_col).cast("long").alias("v"),
    ] + [F.col(c) for c in extra_cols]
    e = edges.select(*cols)
    if not directed:
        e = e.union(
            e.select(
                F.col("v").alias("u"), F.col("u").alias("v"), *extra_cols
            )
        )
    return e.distinct() if dedup else e


def bfs_distances(
    edges: DataFrame,
    source: int,
    max_hops: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """``(id, dist)`` for every node within ``max_hops`` of ``source``
    (hop-count shortest distance; the source labels itself 0).

    ``directed=False`` (default) symmetrizes the edge relation first.
    ``max_hops`` bounds the level loop — on a connected small-world
    graph the loop usually early-stops well before the bound.
    """
    spark = edges.sparkSession
    with GraphLoop(spark) as loop:
        # one keyed exchange builds the edge cache every level joins
        # (the dedup and the sort ride it); measured 11.2s → ~4.4s at
        # sf0.1 against re-deriving the symmetrized edges per level (r4)
        e = loop.edges(
            symmetrized_edges(edges, src_col, dst_col, directed, dedup=False),
            key="u",
            distinct=True,
        )
        visited = checkpoint(
            spark.createDataFrame([(int(source), 0)], "id long, dist int")
        )

        def step(visited: DataFrame, i: int) -> DataFrame:
            # level i+1 = unvisited neighbors of level i; the round
            # stops the loop once it marks no new node
            frontier = visited.filter(F.col("dist") == i)
            nxt = (
                frontier.join(e, frontier["id"] == e["u"])
                .select(F.col("v").alias("id"))
                .distinct()
                .join(visited, "id", "left_anti")
                .withColumn("dist", F.lit(i + 1).cast("int"))
            )
            return visited.union(nxt).withColumn(CHANGED, F.col("dist") == i + 1)

        return iterate(visited, step, max_hops)


def sssp_distances(
    edges: DataFrame,
    source: int,
    max_hops: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    directed: bool = False,
) -> DataFrame:
    """``(id, cost)`` minimum-cost distances over ≤ ``max_hops`` edges
    (hop-bounded Bellman–Ford) — the weighted sibling of
    :func:`bfs_distances`.

    Weights are INTEGER (micro-unit doctrine, docs/ORACLE_NOTES.md):
    min() over exact integer path costs is associative and
    order-independent, so the fixpoint is bit-deterministic under any
    partitioning — the property a float-weighted relax loop lacks.

    Per round: relax every edge out of the CURRENT distance set (one
    keyed join), fold candidates into the set with a node-keyed
    ``min`` aggregate (node-bounded, never path-bounded — the reason
    Bellman-Ford maps to data-parallel frameworks while Dijkstra's
    priority queue does not), early-stop when no cost improved.
    Negative edges are tolerated up to the hop bound (no negative-
    cycle divergence: the bound caps path length).
    """
    spark = edges.sparkSession
    with GraphLoop(spark) as loop:
        # same keyed one-exchange edge cache as bfs_distances
        e = loop.edges(
            symmetrized_edges(
                edges.select(
                    F.col(src_col).alias("src"),
                    F.col(dst_col).alias("dst"),
                    F.col(weight_col).cast("long").alias("w"),
                ),
                "src",
                "dst",
                directed,
                extra_cols=("w",),
                dedup=False,
            ),
            key="u",
            distinct=True,
        )
        dist = checkpoint(
            spark.createDataFrame([(int(source), 0)], "id long, cost long")
        )

        def step(dist: DataFrame, _: int) -> DataFrame:
            relaxed = dist.join(e, dist["id"] == e["u"]).select(
                F.col("v").alias("id"), (F.col("cost") + F.col("w")).alias("cost")
            )
            # a node changed when it improved or appeared: the old cost
            # rides the aggregate (min over cost carries the pair
            # (cost, old) per node)
            return (
                dist.withColumnRenamed("cost", "old")
                .withColumn("cost", F.col("old"))
                .unionByName(relaxed.withColumn("old", F.lit(None).cast("long")))
                .groupBy("id")
                .agg(F.min("cost").alias("cost"), F.min("old").alias("_old"))
                .select(
                    "id",
                    "cost",
                    (F.col("_old").isNull() | (F.col("cost") < F.col("_old"))).alias(
                        CHANGED
                    ),
                )
            )

        return iterate(dist, step, max_hops)
