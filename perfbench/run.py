"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload analytics_etl --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, measures the
program's set-up, runs a cold pass, an untimed warm-up pass and then
steady passes for
``--seconds``, checks the outputs, and prints as its last line one
JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. The line before it holds the run's context (``{"meta": ...}``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import harness, workloads  # noqa: E402

WORKLOADS = {
    "analytics_etl": workloads.analytics_etl,
    "llm_curation": workloads.llm_curation,
}
PLAN_MODULES = ("tpch", "events", "documents", "embeddings")
#: Per-layer metrics a workload reports itself (``Result.layer``); a
#: workload that does not report one reads 0.
WORKLOAD_METRICS = (
    "steps.p50_s", "steps.p90_s",
    "streaming.latency_p50_s", "streaming.latency_p90_s",
    "streaming.batches", "streaming.empty_batch_ratio",
    "streaming.trigger_ms_p50", "streaming.add_batch_ms_p50",
    "streaming.query_planning_ms_p50", "streaming.wal_commit_ms_p50",
    "streaming.latest_offset_ms_p50", "streaming.backlog_files_max",
    "streaming.generator_lag_s",
)


def end_to_end(res: workloads.Result, setup: dict) -> dict:
    job_s = statistics.median([s for traced, s in res.passes if not traced])
    return {
        "setup_s": (setup["setup_s"], "s"),
        "job_s": (job_s, "s"),
        "cold_job_s": (res.cold_s, "s"),
    }


def per_layer(res: workloads.Result, passes: list, setup: dict, cpus: int,
              peak_rss: int) -> dict:
    """Medians over the traced steady passes of what the tracer summed
    per layer; zero for a layer the workload does not enter."""

    def med(f):
        return statistics.median([f(p) for p in passes])

    m = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "plans.registry.load_all_plans_s": (setup["load_all_plans_s"], "s"),
        "tables.scan_s": (med(lambda p: p["tables.scan_s"]), "s"),
    }
    for mod in PLAN_MODULES:
        pre = f"plans.{mod}"
        m[f"{pre}.build_s"] = (med(lambda p: p[f"{pre}.build_s"]), "s")
        m[f"{pre}.exec_s"] = (med(lambda p: p[f"{pre}.exec_s"]), "s")
        for count in ("spark_jobs", "tasks"):
            m[f"{pre}.{count}"] = (
                med(lambda p: p[f"{pre}.build.{count}"] + p[f"{pre}.exec.{count}"]),
                "count",
            )
    m["jobs.run_pipeline_s"] = (med(lambda p: p["jobs.run_pipeline_s"]), "s")
    m["jobs.run_curation_pipeline_s"] = (
        med(lambda p: p["jobs.run_curation_pipeline_s"]), "s")
    m["jobs.output_files"] = (res.layer.get("jobs.output_files", 0), "count")
    m["jobs.output_bytes"] = (res.layer.get("jobs.output_bytes", 0), "bytes")
    for name, unit in (
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("input_bytes", "bytes"),
    ):
        m[f"spark.{name}"] = (med(lambda p: p[f"spark.{name}"]), unit)
    m["spark.busy_ratio"] = (
        med(lambda p: p["spark.executor_run_s"] / (p["pass_s"] * cpus)), "ratio")
    m["spark.tasks_failed"] = (med(lambda p: p["spark.tasks_failed"]), "count")
    m["spark.stages_skipped_ratio"] = (
        med(lambda p: p["spark.stages_skipped"] / max(p["spark.stage_slots"], 1)),
        "ratio",
    )
    for name in WORKLOAD_METRICS:
        unit = "ms" if name.endswith("_ms_p50") else (
            "s" if name.endswith("_s") else "ratio" if "ratio" in name else "count")
        m[name] = (res.layer.get(name, 0), unit)
    traced = [s for t, s in res.passes if t]
    untraced = [s for t, s in res.passes if not t]
    m["trace_overhead_ratio"] = (
        statistics.median(traced) / statistics.median(untraced), "ratio")
    # peak RSS is here, not among the bounded end-to-end metrics: JVM
    # heap growth and the Python worker count make it vary by 30-50%
    # between runs of the same code
    m["peak_rss_mb"] = (peak_rss / 2**20, "MB")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "drive_bc_datapipeline_spark")):
        print(f"no drive_bc_datapipeline_spark package under {ROOT}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        os.environ.update(harness.spark_env(work, cpus))
        meta = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_1m_start": os.getloadavg()[0],
        }
        cat_dir = os.path.join(work, "catalog")
        t0 = time.perf_counter()
        rows = workloads.catalog(a.workload, cat_dir, a.seed)
        meta["datagen_s"] = time.perf_counter() - t0
        meta["input_rows"] = rows
        spark, registry, setup = harness.setup(
            cat_dir, workloads.first_table(a.workload), cpus)
        meta["spark_version"] = spark.version
        from pyspark import SparkContext

        tracer = harness.Tracer(spark)
        ctx = workloads.Ctx(spark, registry, tracer, cat_dir, work, a.seed, a.seconds)
        # RSS is sampled only in the traced run: a /proc scan every
        # 0.1 s would take CPU from the measured passes
        rss = harness.RssSampler(SparkContext._gateway.proc.pid)
        t0 = time.perf_counter()
        try:
            with rss if a.trace else contextlib.nullcontext():
                res = WORKLOADS[a.workload](ctx, bool(a.trace))
        finally:
            meta["workload_s"] = time.perf_counter() - t0
            harness.stop_session(spark)
        meta["stop_s"] = time.perf_counter() - t0 - meta["workload_s"]
        metrics = (
            per_layer(res, tracer.passes, setup, cpus, rss.peak_bytes) if a.trace
            else end_to_end(res, setup)
        )
        meta.update(res.meta)
        meta.update(
            loadavg_1m_end=os.getloadavg()[0],
            pass_s=[s for _, s in res.passes],
            setup=setup,
            failed_checks=res.failed_checks,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
