"""Dump .explain('formatted') for registry keys into plans/r<N>/.

Usage:
    python tools/dump_round_plans.py --round N [--suffix S] [key ...]

Writes plans/r<N>/<key>_<suffix>.txt (suffix defaults to "before").
With no keys given, dumps every registered key. Build-time side
effects (eager localCheckpoints) run as usual; the dump is the
ANALYZED/initial physical plan (AdaptiveSparkPlan isFinalPlan=false),
which is what plan-shape claims in OPTIMIZATION_r<N>.md reference.
SPARK_GRAFT_SF_DIR overrides the data directory (tables.DEFAULT_SF_DIR).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    from drive_bc_datapipeline_spark.plans import registry
    from drive_bc_datapipeline_spark.session import get_spark
    from drive_bc_datapipeline_spark.tables import DEFAULT_SF_DIR

    registry.load_all_plans()
    names = args.keys or sorted(registry.QUERIES)
    spark = get_spark(f"dump_r{args.round}_plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = DEFAULT_SF_DIR
    out_dir = os.path.join(ROOT, "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)
    try:
        for name in names:
            t0 = time.time()
            df = registry.QUERIES[name](spark, sf_dir)
            build_s = time.time() - t0
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(f"-- {name} ({args.suffix}) sf_dir={sf_dir}\n")
                fh.write(f"-- plan-build wall: {build_s:.3f}s\n")
                fh.write(plan)
            print(f"{name}: build {build_s:.3f}s -> {path}", file=sys.stderr)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
