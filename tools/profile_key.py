"""Per-key micro-profiler for the optimization rounds (guide §1: measure
first). For each requested registry key, after one untimed warm-up, splits
a bench-identical execution into:

- build_s:   Python-side DataFrame construction (REGISTRY[key](spark, dir))
             — py4j plan building + analysis triggered on access
- exec_s:    noop-sink execution of the pre-built frame
- n_jobs:    Spark jobs launched by the execution (scheduler-level fixed
             cost: each job is a driver round-trip + DAG schedule)
- compiles:  generated classes compiled by Janino (Spark's
             CodegenMetrics compilation count) — codegen set-up; 0 when
             the key's classes are still in Spark's codegen cache
- total_s:   build + exec (what bench.py's timed region measures)

Usage: python tools/profile_key.py [sf_dir] key [key ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_pipeline_project_spark.queries import REGISTRY  # noqa: E402
from etl_pipeline_project_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    keys = args or sys.exit("usage: profile_key.py [sf_dir] key [key ...]")

    spark = get_spark("profile")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    # warm the session
    REGISTRY["q_scan_table"](spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()

    print(
        f"{'key':38s} {'build_s':>8s} {'exec_s':>8s} {'total_s':>8s} {'jobs':>5s} "
        f"{'compiles':>8s}"
    )
    for key in keys:
        fn = REGISTRY[key]
        # warm-up (bench does the same)
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        jobs_before = len(tracker.getJobIdsForGroup(None) or [])
        compiles_before = codegen.METRIC_COMPILATION_TIME().getCount()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        # job ids are global; count all jobs created during the timed region
        n_jobs = len(tracker.getJobIdsForGroup(None) or [])
        compiles = codegen.METRIC_COMPILATION_TIME().getCount() - compiles_before
        build, ex = t1 - t0, t2 - t1
        print(
            f"{key:38s} {build:8.3f} {ex:8.3f} {build + ex:8.3f} "
            f"{n_jobs - jobs_before:5d} {compiles:8d}"
        )


if __name__ == "__main__":
    main()
