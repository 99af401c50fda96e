"""Distributed triangle counting (graph-metrics tier).

Triangles are the primitive behind clustering coefficients, community
strength, and near-dup cluster density (a 10-member duplicate clique
is C(10,3) triangles; a chain of borderline pairs is none — the count
separates "real cluster" from "transitive accident", which is why
dedup QA looks at it).

Scale shape — the degree-oriented wedge-close algorithm (Schank &
Wagner 2005; Suri & Vassilvitskii WWW'11, both public): orient every
undirected edge from its (degree, id)-smaller endpoint to the larger,
then count wedges a→b, a→c closed by b→c. Orientation makes the count
exact-once AND bounds per-node out-degree by O(sqrt(|E|)) on any
graph, so the wedge join is sub-quadratic even around celebrity nodes
— the plain id-ordered join blows up on one hot hub. Two equi-joins
on node keys + one hash aggregate; no windows, no cartesian.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoestate_etl_spark.operators.fixpoint import iterate


def _oriented(edges: DataFrame, left_col: str, right_col: str) -> DataFrame:
    """Canonical undirected edge set re-oriented by (degree, id):
    ``(src, dst)`` with rank(src) < rank(dst). Self-loops dropped,
    duplicates collapsed."""
    und = (
        edges.select(
            F.least(left_col, right_col).alias("u"),
            F.greatest(left_col, right_col).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = und.select(F.col("u").alias("id")).union(
        und.select(F.col("v").alias("id"))
    )
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    with_deg = (
        und.join(deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
    )
    ru = F.struct(F.col("du"), F.col("u"))
    rv = F.struct(F.col("dv"), F.col("v"))
    return with_deg.select(
        F.when(ru < rv, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(ru < rv, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )


def triangles(
    edges: DataFrame, left_col: str = "id_a", right_col: str = "id_b"
) -> DataFrame:
    """Every triangle exactly once: ``(x, y, z)`` rows where the three
    nodes are pairwise connected (column order follows the degree
    orientation, not node ids)."""
    o = _oriented(edges, left_col, right_col)
    ab, bc, ac = o.alias("ab"), o.alias("bc"), o.alias("ac")
    return (
        ab.join(bc, F.col("ab.dst") == F.col("bc.src"))
        .join(
            ac,
            (F.col("ac.src") == F.col("ab.src"))
            & (F.col("ac.dst") == F.col("bc.dst")),
        )
        .select(
            F.col("ab.src").alias("x"),
            F.col("ab.dst").alias("y"),
            F.col("bc.dst").alias("z"),
        )
    )


def triangle_counts(
    edges: DataFrame, left_col: str = "id_a", right_col: str = "id_b"
) -> DataFrame:
    """Per-node triangle participation: ``(id, n_tri)`` for every node
    in at least one triangle (nodes with zero triangles are absent —
    callers left-join + coalesce). ``sum(n_tri) == 3 × |triangles|``.
    """
    t = triangles(edges, left_col, right_col)
    nodes = t.select(
        F.explode(F.array("x", "y", "z")).alias("id")
    )
    return nodes.groupBy("id").agg(F.count(F.lit(1)).alias("n_tri"))


def k_core(
    edges: DataFrame,
    k: int = 2,
    left_col: str = "id_a",
    right_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Maximal subgraph with minimum degree ≥ k — ``(id, core_deg)``
    for every surviving node, with its degree INSIDE the core.

    Dedup QA reads it next to `triangle_counts`: the 2-core separates
    nodes embedded in cyclic duplicate structure from tree/chain
    appendages (a transitive near-dup chain is all 1-core), and
    higher k isolates the dense hearts of mega-clusters.

    Algorithm: the distributed peel — drop nodes under degree k,
    recompute, repeat. The fixpoint is the UNIQUE maximal k-core
    (peeling is confluent), so iteration count never affects the
    result — what lets the oracle unroll a fixed number of SQL
    rounds. Scale shape: each round is one degree aggregation + two
    semi joins on a monotonically SHRINKING edge set, one checkpointed
    round at a time on ``operators/fixpoint.py``; rounds ≤ the peel
    depth, which is small on power-law graphs (most nodes fall in the
    first rounds).
    """
    def peel(cur: DataFrame, _: int) -> DataFrame:
        deg = (
            cur.select(F.col("u").alias("id"))
            .union(cur.select(F.col("v").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        keep = deg.filter(F.col("cnt") >= k)
        return cur.join(keep.select(F.col("id").alias("u")), "u", "left_semi").join(
            keep.select(F.col("id").alias("v")), "v", "left_semi"
        )

    # converged when a round peels nothing: the observed edge count of
    # the round's checkpoint equals the previous one
    core = iterate(
        edges.select(
            F.least(left_col, right_col).alias("u"),
            F.greatest(left_col, right_col).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        peel,
        max_iter,
        until=lambda r: r.rows == r.prev_rows,
    )
    return (
        core.select(F.col("u").alias("id"))
        .union(core.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("core_deg"))
    )
