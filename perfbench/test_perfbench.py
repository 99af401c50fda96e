"""Self-tests of the benchmark (no Spark session is started).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from tracing import Job, Span, Tracer  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
    DECLARED = json.load(fh)


@pytest.fixture
def pinned(monkeypatch, tmp_path):
    for key in (
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_LOCAL_DIRS",
        "PYTHONPATH",
        "SPARK_GRAFT_ORACLE_SF_DIR",
    ):
        monkeypatch.setenv(key, "")
    run.pin_environment(str(tmp_path))


def tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("name", [w["name"] for w in DECLARED["workloads"]])
def test_same_seed_same_inputs(pinned, tmp_path, name):
    from workloads import WORKLOADS

    made = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / tag
        d.mkdir()
        WORKLOADS[name]().make_inputs(seed, str(d))
        made[tag] = tree(str(d))
    assert made["a"] and made["a"] == made["b"]
    assert made["a"] != made["c"]


def test_every_served_module_has_an_exec_metric(pinned):
    from workloads import REGISTRY_QUERIES, query_modules

    modules = query_modules()
    assert {modules[q] for q in REGISTRY_QUERIES} == set(run.SERVED_MODULES)


def test_declared_metrics_match_the_code():
    def triples(entries):
        return [(e["name"], e["unit"], e["better"]) for e in entries]

    assert triples(DECLARED["end_to_end"]) == list(run.END_TO_END)
    assert triples(DECLARED["per_layer"]) == list(run.PER_LAYER)


def test_printed_end_to_end_names_are_declared():
    m = run.end_to_end([3.0, 1.0, 1.2], [0.1, 0.2, 0.3], 1.0, 1500.0)
    assert list(m) == [e["name"] for e in DECLARED["end_to_end"]]
    assert all(v > 0 for v in m.values())


@pytest.mark.parametrize("name", [w["name"] for w in DECLARED["workloads"]])
def test_printed_per_layer_names_are_declared(name):
    class Fake:
        pass

    wl = Fake()
    wl.name = name
    tracer = Tracer()
    tracer.spans = [
        Span(0, "plans.queries_core.exec", 0.0, 1.0, None, 0, "t0"),
        Span(1, "plans.registry.prepare", 1.0, 2.0, None, None, "t1"),
    ]
    job = Job(0, ("t0",), "media: 5 semantic", 0, 500)
    job.totals["tasks"] = 4
    common, own = run.per_layer(wl, tracer, {0: job}, [1.0], 1.0, [0.9])
    assert list(common) == [e["name"] for e in DECLARED["per_layer"]]
    assert common["spark.tasks"] == 4
    assert list(own) == [m for m, _, _ in run.WORKLOAD_LAYERS[name]]
    assert all(k in run.UNITS for k in own)
