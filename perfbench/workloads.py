"""The benchmark's workloads.

Each workload makes its inputs from the seed (``make_inputs``), does its
per-session preparation (``prepare``, part of set-up), runs one timed
operation (``op``: a whole checked batch, or one served request) and
checks that operation's output (``check``). Calls into the package are
wrapped in tracer spans named after the layer function they enter.

Why these workloads, and what each one bypasses, is recorded in
``README.md`` next to this file.
"""

from __future__ import annotations

import os
import random
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
#: the repository's sf0.001 test tables (TESTDATA.md), carried here
#: byte-identical so the benchmark reads nothing outside its checkout
SF_DIR = os.path.join(HERE, "data", "sf0.001")


class Workload:
    """Defaults for the optional steps; each workload overrides what it
    uses."""

    name = ""
    #: untimed warm-up operations run before the timed loop
    n_warm = 1
    #: the timed loop ends on a multiple of this many operations, so
    #: every run measures whole passes over the same request mix
    n_per_pass = 1

    def prepare(self, spark, tracer) -> None:
        """Per-session preparation, part of every set-up."""

    def rebuild(self, spark, tracer) -> None:
        """Traced runs only: rebuild derived state from nothing."""


# --- registry_serve --------------------------------------------------------

#: The served queries: at least one from every ``queries_*`` module that
#: declares any, except ``queries_tpch2``, and the three served from
#: prepared artifacts. Serving all 50 would make a run far longer:
#: preparing them cold takes about 70 s at sf0.001 on 4 cores.
#: ``tpch_suite2``, the only ``queries_tpch2`` query, alone costs about
#: 2 s to prepare and 2 s to serve per session.
REGISTRY_QUERIES = (
    "filtered_topk",
    "cleaning_normalize",
    "minmax_by_group",
    "decade_histogram",
    "parts_top_value",
    "json_props",
    "pagerank_suppliers",
    "graph_bfs",
    "semantic_dedup",
    "upsert_customers",
    "range_join_bands",
    "profile_documents",
    "houses_slice_top25",
    "global_aggs",
    "semi_anti_join",
    "text_metrics",
)

#: registry query whose first ``fn()`` builds each prepared artifact
ARTIFACT_QUERIES = {
    "graph_bfs": "bfs_supplier_order",
    "pagerank_suppliers": "pagerank_supplier_nation",
    "text_metrics": "text_grams",
}

def query_modules() -> dict[str, str]:
    """Query name → the ``queries_*`` module of ``plans`` declaring it."""
    import importlib
    import pkgutil

    from geoestate_etl_spark import plans

    out = {}
    for info in pkgutil.iter_modules(plans.__path__):
        if info.name.startswith("queries_"):
            m = importlib.import_module(f"{plans.__name__}.{info.name}")
            out.update((spec.name, info.name) for spec in m.SPECS)
    return out


class RegistryServe(Workload):
    """One closed-loop client serving registry queries in a seeded
    order, each request collected and checked against its DuckDB
    oracle. Set-up prepares every served plan; the traced run first
    drops the prepared artifacts and the IVF index and times their
    rebuild from nothing."""

    name = "registry_serve"
    n_per_pass = len(REGISTRY_QUERIES)
    #: warm-up: one pass in declaration order, then seeded passes. Pass
    #: times were still falling through the first passes after the
    #: first execution of each plan
    n_warm = 4 * n_per_pass
    n_passes = 200  # seeded passes after the warm-up; never exhausted

    def make_inputs(self, seed: int, in_dir: str) -> None:
        import duckdb

        from geoestate_etl_spark.plans.registry import all_queries
        from geoestate_etl_spark.schema import TESTDATA_TABLES
        from tests.oracle_utils import rows_to_canonical

        rng = random.Random(seed)
        self.order = list(REGISTRY_QUERIES)
        for _ in range(self.n_passes):
            self.order += rng.sample(REGISTRY_QUERIES, len(REGISTRY_QUERIES))
        with open(os.path.join(in_dir, "requests.txt"), "w") as fh:
            fh.write("\n".join(self.order) + "\n")
        self.specs = all_queries()
        self.modules = query_modules()
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        self.expected = {}
        for q in REGISTRY_QUERIES:
            res = con.execute(self.specs[q].oracle)
            cols = [d[0] for d in res.description]
            self.expected[q] = rows_to_canonical(cols, res.fetchall())
        con.close()

    def prepare(self, spark, tracer) -> None:
        self.columns = {}
        with tracer.span("plans.registry.prepare"):
            for q in REGISTRY_QUERIES:
                self.columns[q] = self.specs[q].fn(spark, SF_DIR).columns

    def rebuild(self, spark, tracer) -> None:
        """Drop the prepared artifacts and the IVF index, then build each
        from nothing in its own span (traced runs only)."""
        from geoestate_etl_spark.plans.prepared import invalidate_artifacts
        from geoestate_etl_spark.plans.queries_ext import (
            _ivf_index_path,
            ensure_warehouse_index,
        )

        for artifact in ARTIFACT_QUERIES.values():
            invalidate_artifacts(artifact)
        shutil.rmtree(_ivf_index_path(SF_DIR, 16), ignore_errors=True)
        for q, artifact in ARTIFACT_QUERIES.items():
            with tracer.span(f"plans.prepared.{artifact}.build"):
                self.specs[q].fn(spark, SF_DIR)
        with tracer.span("operators.similarity.ivf_write_index"):
            ensure_warehouse_index(spark, SF_DIR, 16)

    def op(self, spark, i: int, tracer, out_dir: str):
        q = self.order[i]
        with tracer.span(f"plans.{self.modules[q]}.exec", request=i):
            rows = self.specs[q].fn(spark, SF_DIR).collect()
        return q, rows

    def check(self, out) -> bool:
        from tests.oracle_utils import rows_to_canonical

        q, rows = out
        got = rows_to_canonical(self.columns[q], [tuple(r) for r in rows])
        return got == self.expected[q]


# --- multimodal_dedup ------------------------------------------------------

#: media landing-zone fixture sizes (the fixture's test defaults); the
#: batch is bound by per-job fixed cost, so larger sizes add little
MEDIA_SIZES = dict(
    n_unique_png=24, n_wav=6, n_exact_dup=8, n_reencode=6,
    n_resized=5, n_releveled=4, n_junk=4,
)

#: the media pipeline's job descriptions → per-layer stage names
MEDIA_STAGES = {
    "media: 1 ingest stream": "ingest_stream",
    "media: 2 decodable gate": "decodable_gate",
    "media: 2 listing count": "decodable_gate",
    "media: 2b unseen anti-join": "decodable_gate",
    "media: 3-4 exact+content dedup": "exact_content_dedup",
    "media: 4b phash pairs + cc": "phash_pairs_cc",
    "media: 5 semantic": "semantic",
    "media: 6 shard write": "shard_write",
    "media: 6 audit": "audit",
    "media: final count": "audit",
}


def media_stage(description: str | None) -> str:
    """Stage of one media-pipeline job, from its job description.
    Structured Streaming replaces the description of its micro-batch
    jobs with the query's id and run id; the pipeline's only stream is
    its ingest."""
    if description in MEDIA_STAGES:
        return MEDIA_STAGES[description]
    if description and "runId = " in description:
        return "ingest_stream"
    return "unlabelled"


class MultimodalDedup(Workload):
    """One batch is the media pipeline over a predicted-funnel landing
    zone: streaming ingest, decodability gate, exact and content dedup,
    perceptual-hash pairs with connected components, the semantic stage
    and the tar-shard write with its audit."""

    name = "multimodal_dedup"

    def make_inputs(self, seed: int, in_dir: str) -> None:
        from tests.media_corpus_fixture import generate_media_landing

        # the fixture's pixels are fixed; the seed names the files, which
        # sets listing order and every media id (a hash of the path)
        self.landing = os.path.join(in_dir, "landing")
        self.pred = generate_media_landing(self.landing, **MEDIA_SIZES)
        rng = random.Random(seed)
        for f in sorted(os.listdir(self.landing)):
            os.rename(
                os.path.join(self.landing, f),
                os.path.join(self.landing, f"{rng.getrandbits(32):08x}-{f}"),
            )

    def op(self, spark, i: int, tracer, out_dir: str):
        from geoestate_etl_spark.plans.media_pipeline import run_media_corpus

        spark.catalog.clearCache()
        work = os.path.join(out_dir, f"media-{i}")
        with tracer.span("plans.media_pipeline.run_media_corpus", request=i):
            res = run_media_corpus(spark, self.landing, work, n_shards=4)
        funnel = (
            res.n_files, res.n_decodable, res.n_exact_unique,
            res.n_content_unique, res.n_perceptual_dropped,
            res.n_semantic_dropped, res.n_final,
        )
        res.unpersist()
        shutil.rmtree(work, ignore_errors=True)
        return funnel, res.audit_ok

    def check(self, out) -> bool:
        funnel, audit_ok = out
        p = self.pred
        return audit_ok and funnel == (
            p.n_files, p.n_decodable, p.n_exact_unique, p.n_content_unique,
            p.n_perceptual_dropped, p.n_semantic_dropped, p.n_final,
        )


WORKLOADS = {w.name: w for w in (RegistryServe, MultimodalDedup)}
