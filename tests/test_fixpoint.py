"""The shared fixpoint driver (operators/fixpoint.py): no iterative
graph operator may leave a storage-level cache registered, whether it
returns or raises. Blocks of ``localCheckpoint`` that back a returned
frame are not cache entries and are not counted."""

from __future__ import annotations

import pytest

from geoestate_etl_spark.operators import fixpoint

GRAPH = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (10, 11)]  # a 5-cycle + a pair


def _pairs(spark):
    return spark.createDataFrame(GRAPH, "id_a long, id_b long")


def _edges(spark):
    return spark.createDataFrame(
        [(a, b, 1) for a, b in GRAPH], "src long, dst long, w long"
    )


def _cc(spark):
    from geoestate_etl_spark.operators.components import connected_components

    return connected_components(_pairs(spark), driver_max_edges=None)


def _cc_star(spark):
    from geoestate_etl_spark.operators.components import (
        connected_components_star,
    )

    return connected_components_star(_pairs(spark))


def _pagerank(spark):
    from geoestate_etl_spark.operators.pagerank import pagerank

    return pagerank(_edges(spark), iters=3)


def _bfs(spark):
    from geoestate_etl_spark.operators.paths import bfs_distances

    return bfs_distances(_edges(spark), source=1)


def _sssp(spark):
    from geoestate_etl_spark.operators.paths import sssp_distances

    return sssp_distances(_edges(spark), source=1)


def _k_core(spark):
    from geoestate_etl_spark.operators.graph_metrics import k_core

    return k_core(_pairs(spark), k=2)


def _label_prop(spark):
    from geoestate_etl_spark.operators.label_prop import propagate_labels

    seeds = spark.createDataFrame([(1, "a"), (10, "b")], "id long, label string")
    return propagate_labels(_pairs(spark), seeds, iters=3)


def _walks(spark):
    from geoestate_etl_spark.operators.walks import random_walks

    return random_walks(_edges(spark), walk_len=3)


OPERATORS = [_cc, _cc_star, _pagerank, _bfs, _sssp, _k_core, _label_prop, _walks]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def clean_cache(spark):
    """Start each case from an empty CacheManager and an unchanged
    shuffle-partition setting, and check the setting after."""
    key = "spark.sql.shuffle.partitions"
    spark.catalog.clearCache()
    before = spark.conf.get(key)
    yield
    assert spark.conf.get(key) == before  # the window closed


@pytest.mark.parametrize("op", OPERATORS, ids=lambda f: f.__name__.strip("_"))
def test_no_cache_survives_return(spark, clean_cache, op):
    out = op(spark)
    assert _cache_empty(spark)
    assert out.count() > 0  # the returned frame outlives the caches


@pytest.mark.parametrize("op", OPERATORS, ids=lambda f: f.__name__.strip("_"))
def test_no_cache_survives_raise_mid_loop(spark, clean_cache, monkeypatch, op):
    real = fixpoint._round
    calls = []

    class Boom(Exception):
        pass

    def failing(df, rows):
        calls.append(1)
        if len(calls) == 2:
            raise Boom()
        return real(df, rows)

    monkeypatch.setattr(fixpoint, "_round", failing)
    with pytest.raises(Boom):
        op(spark)
    assert _cache_empty(spark)


@pytest.mark.parametrize("seeds", [[], [99]])
def test_no_cache_survives_bad_pagerank_seeds(spark, clean_cache, seeds):
    from geoestate_etl_spark.operators.pagerank import pagerank

    with pytest.raises(ValueError, match="seeds"):
        pagerank(_edges(spark), seeds=seeds)
    assert _cache_empty(spark)
