"""PageRank: the second iterative-algorithm surface (with
components.py), for ranking within document/link graphs — e.g.
prioritizing canonical documents inside near-duplicate clusters.

Per iteration: one join (edges ⋈ ranks) + one aggregation (contribs
per dst) + a 1-row dangling-mass aggregate broadcast back into the
rank update — all keyed shuffles, ZERO driver round-trips inside the
loop. The rounds run on ``operators/fixpoint.py``: one eager
checkpoint per iteration (its single job) over a keyed edge cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoestate_etl_spark.operators.fixpoint import GraphLoop, iterate


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seeds: list[int] | None = None,
) -> DataFrame:
    """Ranks over a directed graph given as (src, dst) edge rows.

    Returns (id, pr) for every node appearing as a source or target.
    Dangling-node mass is redistributed each iteration, so ranks sum
    to 1 (within FP) at every step.

    ``seeds`` (r4): PERSONALIZED PageRank — teleport and dangling mass
    land uniformly on the seed set instead of all nodes (Haveliwala
    2002 topic-sensitive formulation; the similarity-to-seed measure
    used for seed-expansion curation: "find pages like these"). With
    ``seeds=None`` the classic uniform behavior is unchanged. The
    teleport vector rides as a literal ``isin`` Column — seed sets are
    query parameters, bounded, never a join."""
    if seeds is not None:
        if not seeds:
            raise ValueError("seeds must be non-empty when given")
        # dedupe, and REQUIRE every seed to exist in the graph: an
        # absent seed silently drains teleport mass (all-zero ranks
        # when no seed is present; sum < 1 otherwise) — breaking the
        # mass-conservation contract with no error (r4 review). Checked
        # before anything is persisted, so a bad seed set leaks nothing
        uniq = sorted({int(s) for s in seeds})
        present = {
            r.id
            for r in edges.select(F.explode(F.array(src, dst)).alias("id"))
            .filter(F.col("id").isin(uniq))
            .distinct()
            .collect()
        }
        missing = [s for s in uniq if s not in present]
        if missing and edges.limit(1).count():  # empty graph: empty ranks
            raise ValueError(f"seeds not in graph: {missing}")
        p = F.when(
            F.col("id").isin(uniq), F.lit(1.0 / len(uniq))
        ).otherwise(F.lit(0.0))

    with GraphLoop(edges.sparkSession) as loop:
        # the raw edges are cached and counted once (the node
        # derivation and the keyed relayout both scan them)
        raw = loop.edges(edges)
        nodes = loop.hold(
            raw.select(F.col(src).alias("id"))
            .union(raw.select(F.col(dst).alias("id")))
            .distinct()
        )
        n = nodes.count()
        if n == 0:  # empty graph (e.g. a pair-finder found nothing)
            return edges.sparkSession.createDataFrame([], "id long, pr double")
        if seeds is None:
            p = F.lit(1.0 / n)
        # keyed on src: every round's contrib join reuses the cached
        # partitioning and order — `iters` fewer full edge shuffles
        keyed = loop.keyed(raw, src)
        # loop-invariant out-degree table, derived from the keyed cache
        # so its groupBy reuses the partitioning (no exchange); feeds
        # the contrib join and the dangling anti-join every round
        out_deg = loop.hold(keyed.groupBy(src).agg(F.count("*").alias("deg")))

        def step(ranks: DataFrame, _: int) -> DataFrame:
            contribs = (
                keyed.join(ranks.withColumnRenamed("id", src), src)
                .join(out_deg, src)
                .select(F.col(dst).alias("id"), (F.col("pr") / F.col("deg")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("contrib"))
            )
            # mass of nodes with no outgoing edges, redistributed
            # uniformly. Stays IN-PLAN as a 1-row aggregate broadcast
            # into the rank update — a driver-side collect here would
            # add a full extra Spark job + driver sync per round
            # (round-1 verdict #4); this way the round's checkpoint is
            # its single job.
            dangling = ranks.join(
                out_deg.withColumnRenamed(src, "id"), "id", "left_anti"
            ).agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dm"))
            return (
                nodes.join(contribs, "id", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "id",
                    (
                        # uniform path keeps the EXACT historical float
                        # expression — the driver oracle unrolls the same
                        # arithmetic, and (1-d)/n vs (1-d)·(1/n) differ in
                        # the last ulp (ORACLE_NOTES half-decimal trap)
                        (
                            F.lit((1.0 - damping) / n)
                            + F.lit(damping) * F.col("dm") / F.lit(float(n))
                            + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                        )
                        if seeds is None
                        else (
                            F.lit(1.0 - damping) * p
                            + F.lit(damping) * F.col("dm") * p
                            + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                        )
                    ).alias("pr"),
                )
            )

        return iterate(nodes.withColumn("pr", p), step, iters)
