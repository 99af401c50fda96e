"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one client thread, closed
loop, on ``local[<cores>]``:

1. make the workload's inputs from the seed under ``perfbench/.work/``;
2. set up ``SETUPS`` times (Spark session start, warm-up job, workload
   preparation) and keep the last session;
3. run the workload's untimed, checked warm-up operations;
4. run operations back to back for about ``--seconds`` seconds, in whole
   passes over the request mix, sampling the resident memory of the JVM
   and its Python workers;
5. check every operation's output.

With ``--trace 1`` a traced phase comes first, on a session with the
Spark event log on: rebuild of derived state, preparation, warm-up and
the timed loop, with every call into a layer wrapped in a span whose
Spark jobs carry the span's job tag. The event log's task metrics are
rolled up per span, the spans are written to ``spans.json`` in the run's
work directory, and steps 2-5 follow untraced to give the overhead.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or
with ``--trace 1`` the per-layer metrics every workload measures). The
line before it is a report with sample counts, every sample, the pinned
environment and, with ``--trace 1``, the metrics of the workload's own
layers (``layers``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import pandas as pd  # module-global: the warm-up UDF's type hints resolve here

from tracing import (
    RssSampler,
    Tracer,
    attribute_jobs,
    descendant_pids,
    jobs_under,
    read_event_log,
    sum_totals,
)
from workloads import ARTIFACT_QUERIES, MEDIA_STAGES, SF_DIR, WORKLOADS, media_stage

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = len(os.sched_getaffinity(0))
#: Spark driver heap: enough for both workloads, far below the 16g package
#: default, which exceeds the RAM of a 15 GB machine
DRIVER_MEM = "2g"
#: set-ups per run; ``setup_s`` is their median
SETUPS = 3

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("latency_p50_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
)

SPARK_TOTALS = (
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.scheduler_delay_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
)

#: ``queries_*`` modules with at least one served query
SERVED_MODULES = (
    "queries_core",
    "queries_join",
    "queries_events",
    "queries_ext",
    "queries_advanced",
    "queries_etl",
    "queries_suites",
)
REGISTRY_LAYERS = (
    *((f"plans.{m}.exec_s", "s", "lower") for m in SERVED_MODULES),
    ("plans.registry.jobs_per_query", "count", "lower"),
    ("plans.registry.prepare.s", "s", "lower"),
    *((f"plans.prepared.{a}.build_s", "s", "lower") for a in ARTIFACT_QUERIES.values()),
    ("operators.similarity.ivf_write_index.s", "s", "lower"),
    ("plans.prepared.rebuild_s", "s", "lower"),
)

MEDIA_LAYERS = (
    *((f"media.{s}.s", "s", "lower") for s in dict.fromkeys(MEDIA_STAGES.values())),
    ("media.unlabelled.s", "s", "lower"),
)

#: per-layer metrics that every workload measures: the result line's
#: metrics with ``--trace 1``
PER_LAYER = (
    *SPARK_TOTALS,
    ("spark.core_busy_share", "ratio", "higher"),
    ("trace.latency_p50_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)

#: metrics of layers only one workload reaches; a traced run puts its
#: workload's in the report's ``layers``
WORKLOAD_LAYERS = {
    "registry_serve": REGISTRY_LAYERS,
    "multimodal_dedup": MEDIA_LAYERS,
}

UNITS = {
    name: unit
    for name, unit, _ in END_TO_END + PER_LAYER + REGISTRY_LAYERS + MEDIA_LAYERS
}


def pin_environment(work: str) -> None:
    """Environment every Spark process of the run inherits."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import the package; without this, UDF stages fail
    # with ModuleNotFoundError when the working directory is elsewhere
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # artifact-backed oracles follow the served scale; read at import
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(event_dir: str | None = None):
    from geoestate_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap size, so resident memory does not depend on when
        # the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if event_dir is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cpus=CPUS, extra_conf=conf)


def warm_up(spark) -> None:
    """A codegen job and one Arrow UDF task per core, so JVM start-up
    and Python-worker spawn are paid in set-up, not by the first op."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _identity(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, CPUS * 10).repartition(CPUS).select(
        _identity("id")
    ).write.format("noop").mode("overwrite").save()


def alive(pid: int) -> bool:
    """Whether ``pid`` still runs (an exited, unreaped process does not)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_processes(spark) -> None:
    """Stop the session, then the JVM, and wait for every process this
    run started to end (Python workers outlive the JVM briefly, no longer
    as its children)."""
    from pyspark import SparkContext

    started = descendant_pids(os.getpid())
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(map(alive, started)):
        time.sleep(0.1)


class Loop:
    """Closed loop: the next operation starts when the previous one has
    returned. Operations run in whole passes over the workload's request
    mix; another pass starts only if one more pass as long as the last
    still ends within ``seconds``, so every run measures about the same
    amount of work."""

    def __init__(self, wl, spark, tracer, out_dir: str):
        self.wl, self.spark, self.tracer, self.out_dir = wl, spark, tracer, out_dir
        self.next_index = 0
        self.attempted = 0
        self.failed = 0

    def one(self, i: int):
        try:
            out = self.wl.op(self.spark, i, self.tracer, self.out_dir)
        except Exception:
            traceback.print_exc()
            return None
        return out

    def checked(self, outs: list) -> None:
        for out in outs:
            self.attempted += 1
            try:
                ok = out is not None and self.wl.check(out)
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                self.failed += 1

    def timed(self, seconds: float) -> tuple[list[float], float]:
        latencies, outs = [], []
        t_loop = t_pass = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            outs.append(self.one(self.next_index))
            t1 = time.perf_counter()
            latencies.append(t1 - t0)
            self.next_index += 1
            if len(latencies) % self.wl.n_per_pass == 0:
                if (t1 - t_loop) + (t1 - t_pass) > seconds:
                    break
                t_pass = t1
        wall = time.perf_counter() - t_loop
        self.checked(outs)
        return latencies, wall

    def warm(self) -> float:
        """The workload's untimed warm-up operations, checked."""
        t0 = time.perf_counter()
        warm = range(self.wl.n_warm)
        self.checked([self.one(i) for i in warm])
        self.next_index = len(warm)
        return time.perf_counter() - t0


def environment(spark, with_calibration: bool) -> dict:
    import pyspark

    import bench

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    env = {
        "nproc": CPUS,
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "master": spark.sparkContext.master,
        "driver_memory": DRIVER_MEM,
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "quick_probe_s": bench.quick_probe(spark),
    }
    if with_calibration:
        env["calibration"] = bench.calibration(spark)
    return env


def cpu_times() -> list[int]:
    """This machine's aggregate CPU counters from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def end_to_end(setups, latencies, wall, peak_rss_mb) -> dict:
    return {
        "setup_s": statistics.median(setups),
        "latency_p50_s": statistics.median(latencies),
        "ops_per_s": len(latencies) / wall,
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(wl, tracer, jobs, traced, traced_wall, untraced) -> tuple[dict, dict]:
    """Roll spans and their Spark jobs up into the per-layer metrics
    every workload measures, and those of this workload's own layers.
    Job figures are per operation of the traced loop."""
    attribute_jobs(tracer, jobs)
    n = len(traced)
    ops = [s for s in tracer.spans if s.request is not None and s.parent is None]
    loop_jobs = jobs_under(tracer, jobs, ops)
    totals = sum_totals(loop_jobs)
    common = {"spark.jobs": len(loop_jobs) / n}
    for key, value in totals.items():
        common[f"spark.{key}"] = value / n
    common["spark.core_busy_share"] = totals["executor_run_s"] / (traced_wall * CPUS)
    common["trace.latency_p50_s"] = statistics.median(traced)
    common["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)

    def span_s(name: str) -> float:
        return sum(tracer.self_time(s) for s in tracer.spans if s.name == name)

    own = dict.fromkeys((name for name, _, _ in WORKLOAD_LAYERS[wl.name]), 0.0)
    if wl.name == "registry_serve":
        own["plans.registry.jobs_per_query"] = len(loop_jobs) / n
        for mod in SERVED_MODULES:
            spans = [s for s in ops if s.name == f"plans.{mod}.exec"]
            if spans:
                own[f"plans.{mod}.exec_s"] = statistics.mean(
                    s.end - s.start for s in spans
                )
        own["plans.registry.prepare.s"] = span_s("plans.registry.prepare")
        for artifact in ARTIFACT_QUERIES.values():
            own[f"plans.prepared.{artifact}.build_s"] = span_s(
                f"plans.prepared.{artifact}.build"
            )
        own["operators.similarity.ivf_write_index.s"] = span_s(
            "operators.similarity.ivf_write_index"
        )
        own["plans.prepared.rebuild_s"] = sum(
            v for k, v in own.items() if k.endswith(("build_s", "ivf_write_index.s"))
        )
    elif wl.name == "multimodal_dedup":
        for job in loop_jobs:
            own[f"media.{media_stage(job.description)}.s"] += job.wall_s / n
    return common, own


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(
        HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    in_dir, out_dir = os.path.join(work, "inputs"), os.path.join(work, "out")
    for d in (in_dir, out_dir):
        os.makedirs(d, exist_ok=True)
    pin_environment(work)
    try:
        import pyspark  # noqa: F401

        import geoestate_etl_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(geoestate_etl_spark.__file__).startswith(ROOT + os.sep):
        print(
            f"perfbench: the program under test must come from {ROOT}, "
            f"not {geoestate_etl_spark.__file__}",
            file=sys.stderr,
        )
        return 2
    wl = WORKLOADS[args.workload]()

    t0 = time.perf_counter()
    wl.make_inputs(args.seed, in_dir)
    input_gen_s = time.perf_counter() - t0

    off = Tracer()
    loops = []

    def measure(spark, tracer):
        """Untimed warm-up, then the timed loop with memory sampling."""
        loop = Loop(wl, spark, tracer, out_dir)
        loops.append(loop)
        tracing_on, tracer.enabled = tracer.enabled, False
        warmup_s = loop.warm()
        tracer.enabled = tracing_on
        before = cpu_times()
        with RssSampler() as rss:
            latencies, wall = loop.timed(args.seconds)
        delta = [b - a for a, b in zip(before, cpu_times())]
        # time the hypervisor gave to other guests: drift context
        steal_share = delta[7] / sum(delta)
        return latencies, wall, warmup_s, rss.peak_mb, steal_share

    setups, spark = [], None
    if args.trace:
        # traced phase: event log on, set-up rebuilds derived state in spans
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir, exist_ok=True)
        spark = start_session(event_dir)
        tracer = Tracer(spark.sparkContext, enabled=True)
        warm_up(spark)
        wl.rebuild(spark, tracer)
        wl.prepare(spark, tracer)
        traced, traced_wall, *_ = measure(spark, tracer)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        spark = None
        jobs = read_event_log(os.path.join(event_dir, app_id))
    # set-ups; in a traced run they follow the traced phase, so the
    # untraced loop below runs on a JVM warmed for longer and the
    # tracing overhead is not understated
    for k in range(SETUPS):
        # an untraced run's first set-up counts from process start, less
        # input generation
        first = k == 0 and not args.trace
        t0 = T_PROCESS + input_gen_s if first else time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session()
        warm_up(spark)
        wl.prepare(spark, off)
        setups.append(time.perf_counter() - t0)

    latencies, wall, warmup_s, peak_rss_mb, steal_share = measure(spark, off)
    e2e = end_to_end(setups, latencies, wall, peak_rss_mb)
    env = environment(spark, with_calibration=bool(args.trace))
    env["cpu_steal_share"] = steal_share
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "environment": env,
        "input_gen_s": input_gen_s,
        "setups_s": setups,
        "warmup_s": warmup_s,
        "latencies_s": latencies,
        "samples": {"setup_s": len(setups), "latency_p50_s": len(latencies)},
        "end_to_end": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
    }
    metrics = e2e
    if args.trace:
        metrics, layers = per_layer(wl, tracer, jobs, traced, traced_wall, latencies)
        report["layers"] = {k: {"value": v, "unit": UNITS[k]} for k, v in layers.items()}
        tracer.write(os.path.join(work, "spans.json"))
        report["traced_latencies_s"] = traced
        report["samples"]["trace.latency_p50_s"] = len(traced)
        report["spans"] = os.path.relpath(os.path.join(work, "spans.json"), ROOT)
    attempted = sum(lp.attempted for lp in loops)
    failed = sum(lp.failed for lp in loops)

    stop_processes(spark)
    for d in ("inputs", "out", "spark-local", "eventlog"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    report["error_rate"] = failed / attempted
    report["correct"] = failed == 0
    with open(os.path.join(work, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
