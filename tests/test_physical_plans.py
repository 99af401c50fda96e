"""Physical-plan audits: the scale properties we claim must be visible
in the optimized plan, not just asserted in docstrings.

- filters/column pruning reach the parquet scan (PushedFilters/ReadSchema)
- small dims broadcast (BroadcastHashJoin), no shuffle of the fact side
- global top-k compiles to TakeOrderedAndProject (bounded heaps, no full sort)
- LSH self-joins are equi-joins (no CartesianProduct / BroadcastNestedLoop)
- whole-stage codegen covers the relational hot paths
"""

from __future__ import annotations

from geoestate_etl_spark.plans import all_queries
from tests.conftest import SF_ORACLE, SF_SMOKE

SPECS = all_queries()


def plan_of(spark, name: str) -> str:
    # bypass the registry's prepared-plan cache: a cached Dataset
    # memoizes the physical plan from its FIRST execution, which may
    # have happened under another test's temporary session conf (e.g.
    # broadcast disabled in the AQE drills) — a plan audit must judge
    # the plan Catalyst produces under the CURRENT conf
    fn = SPECS[name].fn
    df = getattr(fn, "__wrapped__", fn)(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "filter_project")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan
    # column pruning: only the 4 projected columns are read
    assert "l_comment" not in plan
    assert "ReadSchema" in plan


def test_star_join_broadcasts_dims(spark):
    plan = plan_of(spark, "star_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region (+customer via AQE)
    assert "CartesianProduct" not in plan


def test_topk_is_take_ordered(spark):
    plan = plan_of(spark, "filtered_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no standalone global sort operator


def test_near_dup_lsh_paths_are_equi_joins(spark):
    """All three LSH self-joins (minhash, simhash, embedding) ride in
    near_dup_pairs — none may degrade to a cartesian/nested-loop."""
    plan = plan_of(spark, "near_dup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_codegen_on_agg_path(spark):
    # AQE wraps the plan until runtime, hiding codegen subtrees from the
    # static explain — disable it just to assert codegen coverage
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = SPECS["minmax_by_group"].fn(spark, SF_ORACLE)
        s = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in s and "Found 0" not in s


def test_renumber_scalable_no_single_partition_sort(spark):
    # the scalable renumbering must not contain a global (non-partitioned)
    # window over the full input: its only window runs over the tiny
    # per-partition offsets frame
    import os

    from geoestate_etl_spark.operators.windows import renumber_scalable

    df = spark.read.parquet(os.path.join(SF_ORACLE, "orders.parquet")).select(
        "o_orderkey"
    )
    plan = (
        renumber_scalable(df, "o_orderkey", "rn")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the big-relation window is partitioned by the frozen range bucket
    # (parallel, boundary literals in the plan) — NOT a global sort;
    # rangepartitioning would mean execution-resampled boundaries crept
    # back in (the local[8] duplicate-id bug)
    assert "hashpartitioning(_bkt" in plan
    assert "rangepartitioning" not in plan


def test_decontaminate_corpus_side_no_shuffle(spark):
    """The corpus (train) side must reach the broadcast gram join
    without an Exchange — within-doc array_distinct replaces the
    global distinct. The only exchanges allowed are the tiny bench
    dedup, the matched-hits groupBy, and the final order."""
    plan = plan_of(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan
    # the guarded single-file spread on the semantic corpus side is a
    # deliberate round-robin exchange (operators/decontam.py, r4) —
    # it redistributes rows without a key and cannot be the global
    # distinct this audit exists to forbid; hash shuffles stay capped.
    # Budget: exact tier 3 (bench dedup, hit groupBy, order) + the
    # late-r4 bloom tier 3 more, every one over a BOUNDED relation
    # (its bench-gram dedup, the ≤num_words filter build groupBy, its
    # matched-hit groupBy) — the corpus side itself still reaches its
    # joins shuffle-free in every tier.
    shuffles = (
        plan.count("Exchange")
        - plan.count("BroadcastExchange")
        - plan.lower().count("roundrobinpartitioning")
    )
    assert shuffles <= 6
    assert "CartesianProduct" not in plan


def test_tfidf_doc_filter_pushed_to_scan(spark):
    """The top-terms doc subset (doc_id < 50) must reach the TF-side
    parquet scan — TF over 50 docs, not the whole corpus — while the
    DF branch still scans everything (corpus-wide document frequency
    is the semantics). Top-3-per-doc must prune via WindowGroupLimit
    before the final shuffle."""
    plan = plan_of(spark, "tfidf_top_terms")
    assert "LessThan(doc_id,50)" in plan  # pushed filter on the TF branch
    assert "WindowGroupLimit" in plan  # rank<=3 pruned pre-shuffle
    assert "CartesianProduct" not in plan


def test_asof_join_no_product_join(spark):
    """The as-of join must compile to window/union machinery or an
    equi-join — never a cartesian or nested-loop product."""
    plan = plan_of(spark, "asof_last_purchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_bucketed_equi(spark):
    """Bucketed range join: bands replicate per covered bucket so the
    join is a hash equi-join on the bucket key, not a nested-loop
    range scan."""
    plan = plan_of(spark, "range_join_bands")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_ann_certify_probe_path_shuffle_free(spark):
    """Full-probe IVF + LSH candidate scoring are scan+filter+local
    top-k over the (cell-partitioned) index — no shuffle exchange in
    the static plan, no product joins. (r5: ann_certify folded into
    the similarity_ann registry entry; the certification sub-plan is
    still audited directly here.)"""
    from geoestate_etl_spark.plans.queries_suites import q_ann_certify

    df = q_ann_certify(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 1, f"expected shuffle-free probe path, saw {shuffles}"


def test_upsert_no_extra_shuffle(spark):
    """MERGE emulation (anti-join survivors + replacements) joins on
    the key with the small update side broadcast — zero shuffle
    exchanges in the static plan."""
    plan = plan_of(spark, "upsert_customers")
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 0, plan


def test_registry_wide_no_accidental_product_joins(spark):
    """Blanket plan audit over ALL 50 registry queries: no
    CartesianProduct anywhere; BroadcastNestedLoopJoin only where a
    deliberate 1-row broadcast crossJoin is the plan (scalar facts
    joined onto a relation) — an unlisted product join is how an
    equi-join silently degrades when a condition gets mangled."""
    # deliberate 1-row-broadcast shapes, each justified:
    #   global_aggs    — scalar count/mean/median facts crossJoined
    #   temporal_join  — the tagged union's probe-timestamp literal row
    #   text_metrics   — the char-3-gram LM's (total, vocab) scalar row
    #                    broadcast into the scoring join (ngram_lm)
    #   decontaminate  — the semantic variant's benchmark-embedding
    #                    broadcast (eval sets are small; the corpus
    #                    streams through once — brute_force_topk_batch's
    #                    documented shape)
    #   tpch_q1        — q22's exact-integer global-average threshold:
    #                    a 1-row (sum_cents, n_pos) aggregate broadcast
    #                    into an inequality filter (late-r4)
    #   geo_distance_radius — the nn variant's exact fallback: the
    #                    UNCERTIFIED tail × broadcast right side, by
    #                    design bounded to the rows the grid could not
    #                    certify (late-r4)
    #   tpch_suite2    — two 1-row scalar broadcasts: the supplier
    #                    count crossJoined into the derived-partsupp
    #                    arithmetic, and q11's (total, n_parts)
    #                    aggregate broadcast into the HAVING-over-mean
    #                    inequality (r4 TPC-H completion)
    BNLJ_OK = {
        "global_aggs",
        "temporal_join",
        "text_metrics",
        "decontaminate",
        "tpch_q1",
        "tpch_suite2",
        "geo_distance_radius",
    }
    bad = []
    for name, spec in SPECS.items():
        plan = (
            spec.fn(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            bad.append((name, "BroadcastNestedLoopJoin"))
    assert not bad, bad


def test_similarity_ann_single_scan_with_broadcast_flags(spark):
    """The r4 serving shape: ONE bucketize pass feeds all three
    variants — the cell-pruned assignment (`cell IN (...)` pushed to
    its scan) broadcast-joins the corpus for the IVF flag, the scored
    candidate frame is checkpoint-backed, and each top-10 is a
    TakeOrderedAndProject over it. Never a corpus shuffle, never a
    product join."""
    from geoestate_etl_spark.plans.queries_suites import _similarity_ann_rows

    # r5: the registry entry also unions the exact baseline and the
    # certification rows; the single-scan claim is about the SERVING
    # sub-plan, so audit that directly
    df = _similarity_ann_rows(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("TakeOrderedAndProject") == 3
    # the three variants read the checkpointed scored frame, not the
    # parquet: no file scans and no shuffle exchanges appear at all
    assert "Exchange" not in plan.replace("BroadcastExchange", "")
    # ...and the scan that BUILT the checkpoint pushed the cell filter
    # into the tiny assignment table's scan (the 100 TB pruning claim)
    from geoestate_etl_spark.plans.queries_ext import read_ivf_artifact
    from pyspark.sql import functions as F

    assign, centroids = read_ivf_artifact(spark, SF_ORACLE)
    pruned = assign.filter(F.col("cell").isin([0, 1, 2, 3]))
    ap = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in ap and "In(cell" in ap, ap


def _edge_side_nodes(plan, edge_cols: set) -> list:
    """For each scan of the loop-invariant edge relation (a cached or
    checkpointed scan whose output covers ``edge_cols``) that feeds a
    join as edges: the Exchange/Sort nodes between that join and the
    scan. A scan under an aggregate feeds a derived relation instead
    (e.g. round 0's initial labels) and is skipped."""
    found = []

    def walk(node, since_join):
        name = node.nodeName()
        if name.endswith("Join"):
            since_join = []
        elif "Aggregate" in name:
            since_join = None
        elif since_join is not None and name in ("Exchange", "Sort"):
            since_join = since_join + [name]
        out = node.output()
        names = {out.apply(i).name() for i in range(out.size())}
        scan = name == "InMemoryTableScan" or name.startswith("Scan ExistingRDD")
        if scan and edge_cols <= names and since_join is not None:
            found.append(since_join)
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), since_join)

    walk(plan, None)
    return found


def test_fixpoint_rounds_reuse_keyed_edge_layout(spark, monkeypatch):
    """Every round of the forced distributed CC, BFS and PageRank joins
    the loop-invariant edge relation without re-exchanging or
    re-sorting it: the keyed layout the fixpoint driver builds once
    satisfies the round's sort-merge join (broadcast disabled so the
    join is SMJ)."""
    from pyspark.sql import functions as F

    from geoestate_etl_spark.operators import fixpoint
    from geoestate_etl_spark.operators.components import connected_components
    from geoestate_etl_spark.operators.pagerank import pagerank
    from geoestate_etl_spark.operators.paths import bfs_distances

    plans = []
    real = fixpoint._round

    def recording(df, rows):
        # the initial physical plan, captured before AQE executes it
        plans.append(df._jdf.queryExecution().executedPlan().executedPlan())
        return real(df, rows)

    monkeypatch.setattr(fixpoint, "_round", recording)
    chain = spark.range(0, 500).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    cases = [
        (
            lambda: connected_components(
                chain.toDF("id_a", "id_b"), driver_max_edges=None, max_iter=3
            ),
            {"src", "dst"},
        ),
        (lambda: bfs_distances(chain, source=0, max_hops=3), {"u", "v"}),
        (lambda: pagerank(chain, iters=3), {"src", "dst"}),
    ]
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        for run, edge_cols in cases:
            plans.clear()
            run()
            rounds = 0
            for plan in plans:
                sides = _edge_side_nodes(plan, edge_cols)
                assert all(s == [] for s in sides), plan.toString()
                rounds += bool(sides)
            assert rounds == 3, f"{rounds} round plans join the edges"
    finally:
        spark.conf.set(key, saved)
