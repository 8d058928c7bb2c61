"""Scan-planning cost against the number of surviving block dirs.

Builds one small index, then hard-links its block file into N extra block
dirs (``data/file_id=scanbench<i>/block_id=b<i>/``) of the same index, so
every size costs a few KB of disk.  For each N it times
``plans.search.scan_blocks`` over those N dirs — the plan only: Spark lists
the dirs eagerly when the scan is built — and counts the Spark jobs and
the tasks of their stages that the call started (the listing job, when
N > 32).  Prints one JSON line per size; min over ``--reps`` repetitions.

The script only uses ``scan_blocks``, so the same file times any version
of the library: run it from two checkouts to compare them.

Usage: python scripts/scan_plan_bench.py [--sizes 33,137,1000,5000]
       [--reps 3] [--cpus 4] [--root DIR]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="33,137,1000,5000")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--root", default=None, help="scratch dir (default: a new temp dir, removed)")
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    # the build's Python workers import the library from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("scan-plan-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from bloomsearch_spark import IndexConfig, build_index
    from bloomsearch_spark.plans.search import scan_blocks
    from bloomsearch_spark.sources.synthetic import generate_df

    work = args.root or tempfile.mkdtemp(prefix="bs-scan-plan-")
    root = os.path.join(work, "index")
    shutil.rmtree(root, ignore_errors=True)
    idx = build_index(
        spark, generate_df(spark, 200).coalesce(1), root, IndexConfig(indexed_fields=("content",))
    )
    (part,) = glob.glob(os.path.join(idx.data_dir, "file_id=*", "block_id=*", "*.parquet"))[:1]

    made = 0

    def keys(n: int) -> list[tuple[str, str]]:
        nonlocal made
        for i in range(made, n):
            d = os.path.join(idx.data_dir, f"file_id=scanbench{i}", f"block_id=b{i}")
            os.makedirs(d)
            os.link(part, os.path.join(d, os.path.basename(part)))
        made = max(made, n)
        return [(f"file_id=scanbench{i}/block_id=b{i}", "") for i in range(n)]

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tracker = sc.statusTracker()

    def last_job() -> int:
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    scan_blocks(idx, keys(min(sizes))).limit(1).collect()  # warm the JVM paths
    try:
        for n in sizes:
            surv = keys(n)
            walls, jobs, tasks = [], 0, 0
            for _ in range(args.reps):
                before = last_job()
                t0 = time.perf_counter()
                scan_blocks(idx, surv)
                walls.append(time.perf_counter() - t0)
                after = last_job()
                jobs = after - before
                tasks = sum(
                    tracker.getStageInfo(s).numTasks
                    for j in range(before + 1, after + 1)
                    for s in tracker.getJobInfo(j).stageIds
                )
            print(json.dumps({
                "n_dirs": n,
                "plan_s_min": round(min(walls), 3),
                "plan_s": [round(w, 3) for w in walls],
                "spark_jobs": jobs,
                "listing_tasks": tasks,
            }), flush=True)
    finally:
        spark.stop()
        if args.root is None:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
