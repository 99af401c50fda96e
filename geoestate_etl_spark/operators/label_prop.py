"""Semi-supervised label propagation over a similarity graph.

The standard cheap classifier for corpus curation: a few thousand
hand-labeled documents (quality tiers, topics, licenses) propagate
over the kNN/near-dup graph to label everything connected — each
round, every unlabeled node adopts the weighted majority label of its
labeled neighbors; seeds are CLAMPED (they never change, the
difference between label propagation and label spreading).

Composes directly with this engine's graph builders:
``similarity.knn_join`` (kNN edges with cosine weights) and the LSH
pair generators (jaccard weights).

Scale shape per round: one edge join against the current label table
(shuffle on node id) + one groupBy over (node, label) + one
``max_by`` per node — no windows over the corpus, no driver state.
Fixed ``iters`` bounds the plan (labels reach ``iters`` hops from a
seed — the practical curation radius); the rounds run on
``operators/fixpoint.py`` (one checkpoint per round over a keyed edge
cache).

Determinism: ties on summed weight break to the SMALLEST label, so
results are partition-layout-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoestate_etl_spark.operators.fixpoint import GraphLoop, iterate

__all__ = ["propagate_labels"]


def propagate_labels(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    id_a: str = "id_a",
    id_b: str = "id_b",
    weight_col: str | None = None,
    id_col: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """Returns ``(id, label, is_seed)`` for every node that received a
    label within ``iters`` hops of a seed (unreached nodes are absent
    — the caller decides their default).

    ``edges`` is undirected input ``(id_a, id_b[, weight])``; weight
    defaults to 1 (unweighted majority). ``seeds`` carries
    ``(id, label)`` — clamped throughout.
    """
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    both = edges.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst"), w.alias("w")
    ).unionByName(
        edges.select(
            F.col(id_b).alias("src"), F.col(id_a).alias("dst"), w.alias("w")
        )
    )
    seed_tbl = seeds.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label")
    ).withColumn("is_seed", F.lit(True))

    with GraphLoop(edges.sparkSession) as loop:
        # keyed on src: every round's vote join reuses the cached layout
        both = loop.edges(both, key="src")

        def step(labels: DataFrame, _: int) -> DataFrame:
            votes = (
                both.join(labels.select(F.col("id").alias("src"), "label"), "src")
                .groupBy(F.col("dst").alias("id"), "label")
                .agg(F.sum("w").alias("_wsum"))
            )
            # per node: heaviest label, ties to the smallest label value
            winner = votes.groupBy("id").agg(
                F.min_by(
                    "label", F.struct((-F.col("_wsum")).alias("w"), F.col("label"))
                ).alias("label")
            )
            return seed_tbl.unionByName(
                winner.join(seed_tbl.select("id"), "id", "left_anti").withColumn(
                    "is_seed", F.lit(False)
                )
            )

        return iterate(seed_tbl, step, iters)
