"""Driver prune latency at manifest scale.

Synthesizes manifest-only indexes (sources/synthetic.synthesize_probe_manifest:
per-row unique ~50%-fill bitsets, token planted every 100 000th block) at
10^4..10^6 blocks and times ``plans.search.prune_blocks`` — the one prune
engine, a driver-side pyarrow walk of the file blooms, then the block
rows of surviving files — for a planted token and an absent one.  Prints
one JSON line per size: min / median prune wall over ``--reps`` warm
repetitions and the survivor counts with the funnel counters.  Verifies
that every planted block survives.

``--root DIR`` keeps the synthesized manifests under ``DIR/<n>`` and
reuses them on the next run, so several runs (or another version of the
library) can time the same bytes.

Usage: python scripts/probe_scale_bench.py [--sizes 10000,60000,200000,1000000]
       [--reps 5] [--block-expected 100] [--root DIR] [--out PROBE_SCALE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="10000,60000,200000,1000000")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    ap.add_argument(
        "--block-expected", type=int, default=100,
        help="bloom expected_items per block: sets bitset bytes (~1.2 B/item "
        "at p=0.01); 100 reaches 10^6 blocks in ~120 MB of token bitsets",
    )
    ap.add_argument("--root", default=None, help="keep/reuse manifests under DIR/<n>")
    ap.add_argument("--out", default="PROBE_SCALE.json")
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("probe-scale-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from bloomsearch_spark import new_query
    from bloomsearch_spark.plans.search import QueryStats, prune_blocks
    from bloomsearch_spark.sources.manifest import BloomIndex
    from bloomsearch_spark.sources.synthetic import synthesize_probe_manifest

    queries = {
        "hit": new_query().token("needle").build(),
        "miss": new_query().token("zz_absent").build(),
    }
    results = []
    for n in sizes:
        work = (
            os.path.join(args.root, str(n)) if args.root
            else tempfile.mkdtemp(prefix=f"bs-probe-{n}-")
        )
        t0 = time.monotonic()
        if os.path.isdir(os.path.join(work, "manifest")):
            idx = BloomIndex.load(spark, work)
        else:
            idx = synthesize_probe_manifest(
                spark, work, n_blocks=n, block_expected=args.block_expected
            )
        gen_s = time.monotonic() - t0

        row = {"n_blocks": n, "block_expected": args.block_expected,
               "gen_s": round(gen_s, 1), "reps": args.reps}
        for name, q in queries.items():
            stats = QueryStats()
            surv = {p for p, _ in prune_blocks(idx, q, stats)}  # also warms the OS cache
            if name == "hit":
                planted = {
                    f"file_id=f{i // 1000:08d}/block_id=b{i:09d}"
                    for i in range(0, n, 100_000)
                }
                assert planted <= surv, f"planted block missed at n={n}"
                row["planted"] = len(planted)
            walls = []
            for _ in range(args.reps):
                t0 = time.monotonic()
                prune_blocks(idx, q)
                walls.append(time.monotonic() - t0)
            row[name] = {
                "prune_min_s": round(min(walls), 4),
                "prune_median_s": round(statistics.median(walls), 4),
                "survivors": len(surv),
                "files_after_file_bloom": stats.files_after_file_bloom,
                "total_files": stats.total_files,
            }
        print(json.dumps(row), flush=True)
        results.append(row)
        if not args.root:
            shutil.rmtree(work, ignore_errors=True)

    with open(args.out, "w") as f:
        json.dump(
            {
                "cpus": args.cpus,
                "note": "warm driver prune wall (plans.search.prune_blocks), "
                "min / median of reps; planted blocks verified to survive",
                "results": results,
            },
            f,
            indent=2,
        )
    print(f"wrote {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
