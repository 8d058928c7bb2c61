"""A/B of ``search().count()`` between this checkout and an older revision,
both in one JVM.

Extracts ``<rev>:bloomsearch_spark`` with ``git archive`` into a temp dir
as the package ``bloomsearch_parent``, builds one perfbench-shaped index
(the corpus, config and query shapes of ``perfbench/workloads.py``) with
this checkout, then times the lookup shapes (path hit, miss, needle And,
prefilter) and the scan_verify shapes (needle_alpha, a common word, a
regex) through both packages.  Each op runs once per side, the side that
goes first alternating from op to op, so host drift hits both sides
alike; separate runs of one side can differ by more than the effect.

For each side and shape it prints the median and quartiles of the op
walls (ms), the Spark jobs per op, and for each shape the number of pairs
the checkout won and the result mismatches (counts that differ between
the sides or from the planted answer).  The last stdout line is one JSON
object with the same figures.

Usage: python scripts/search_ab_bench.py --parent <git-rev>
       [--pairs 40] [--scan-pairs 10] [--warmup 3] [--rows 60000]
       [--seed 7] [--cpus 4]
"""

from __future__ import annotations

import argparse
import importlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALIAS = "bloomsearch_parent"
LOOKUP = ("path_hit", "miss", "needle_and", "prefilter")
SCAN = ("needle_alpha", "common_word", "regex")


def extract(rev: str, dest: str) -> None:
    """``<rev>:bloomsearch_spark`` -> ``dest/bloomsearch_parent``."""
    tar = subprocess.run(
        ["git", "-C", ROOT, "archive", rev, "bloomsearch_spark"],
        check=True, capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        members = []
        for m in tf.getmembers():
            m.name = ALIAS + m.name[len("bloomsearch_spark"):]
            members.append(m)
        tf.extractall(dest, members=members, filter="data")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--pairs", type=int, default=40, help="timed pairs per lookup shape")
    ap.add_argument("--scan-pairs", type=int, default=10, help="timed pairs per scan_verify shape")
    ap.add_argument("--warmup", type=int, default=3, help="untimed pairs per shape first")
    ap.add_argument("--rows", type=int, default=60_000)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="bs-search-ab-")
    try:
        extract(args.parent, work)
        # the Python workers import both packages too (UDFs pickle by module)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, work, os.environ.get("PYTHONPATH", "")]
        ).rstrip(os.pathsep)
        sys.path[:0] = [ROOT, work, os.path.join(ROOT, "perfbench")]
        run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("search-ab-bench")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        compare(spark, args, work)
    finally:
        spark.stop()


def compare(spark, args, work: str) -> None:
    import numpy as np
    import workloads as wl

    new = importlib.import_module("bloomsearch_spark")
    old = importlib.import_module(ALIAS)
    from bloomsearch_spark.sources.synthetic import generate_pdf, needle_rows

    pdf = generate_pdf(args.rows, args.seed)
    src = os.path.join(work, "src")
    wl.write_source(pdf, src, wl.SOURCE_FILES)
    t0 = time.perf_counter()
    root = os.path.join(work, "idx")
    new.build_index(spark, spark.read.parquet(src), root, wl.INDEX_CFG)
    print(f"built {args.rows} rows in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    handles = {"new": new.BloomIndex.load(spark, root), "old": old.BloomIndex.load(spark, root)}
    pkgs = {"new": new, "old": old}

    paths = pdf["path"].to_numpy()
    lang_of = dict(zip(pdf["path"], pdf["lang"]))
    nchars_of = dict(zip(pdf["path"], pdf["content"].str.len()))
    beta = paths[needle_rows("needle_beta", args.rows)]
    planted = len(needle_rows("needle_alpha", args.rows))
    rng = np.random.RandomState(args.seed)

    def query(bs, shape: str, arg):
        if shape in ("path_hit", "needle_and", "prefilter"):
            p = arg
            if shape == "path_hit":
                return bs.new_query().field_token("path", p).build(), 1
            if shape == "needle_and":
                return bs.new_query().match(bs.And(bs.Token("needle_beta"), bs.FieldToken("path", p))).build(), 1
            n = int(nchars_of[p])
            pre = bs.PrefilterAnd(
                bs.Partition(bs.Eq(lang_of[p])), bs.MinMax("n_chars", bs.Between(n - 3, n + 3))
            )
            return bs.new_query().match_prefilter(pre).field_token("path", p).build(), 1
        if shape == "miss":
            return bs.new_query().token(arg).build(), 0
        if shape == "needle_alpha":
            return bs.new_query().token("needle_alpha").build(), planted
        if shape == "common_word":
            return bs.new_query().token(arg).build(), None
        return bs.new_query().field_regex("content", arg).build(), None

    def arg_for(shape: str, i: int):
        if shape in ("path_hit", "prefilter"):
            return str(paths[rng.randint(len(paths))])
        if shape == "needle_and":
            return str(beta[rng.randint(len(beta))])
        if shape == "miss":
            return f"zq{rng.randint(10**9)}absent"
        if shape == "common_word":
            return wl.COMMON_WORDS[i % len(wl.COMMON_WORDS)]
        return wl.REGEXES[i % len(wl.REGEXES)]

    store = spark.sparkContext._jsc.sc().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_job() -> int:
        bus.waitUntilEmpty()
        jobs = store.jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def one(side: str, shape: str, arg):
        bs = pkgs[side]
        q, want = query(bs, shape, arg)
        first = last_job()
        t0 = time.perf_counter()
        got = bs.search(spark, handles[side], q).count()
        ms = (time.perf_counter() - t0) * 1000.0
        return ms, last_job() - first, got, want

    res = {}
    n_op = 0
    for shapes, pairs in ((LOOKUP, args.pairs), (SCAN, args.scan_pairs)):
        for i in range(args.warmup + pairs):
            for shape in shapes:
                arg = arg_for(shape, i)
                order = ("new", "old") if n_op % 2 == 0 else ("old", "new")
                n_op += 1
                out = {side: one(side, shape, arg) for side in order}
                if i < args.warmup:
                    continue
                r = res.setdefault(shape, {"new": [], "old": [], "jobs": {"new": [], "old": []},
                                           "won": 0, "mismatches": 0})
                for side in ("new", "old"):
                    r[side].append(out[side][0])
                    r["jobs"][side].append(out[side][1])
                counts = {out[s][2] for s in out}
                want = out["new"][3]
                if len(counts) != 1 or (want is not None and counts != {want}):
                    r["mismatches"] += 1
                r["won"] += out["new"][0] < out["old"][0]

    summary = {}
    for shape, r in res.items():
        row = {"pairs": len(r["new"]), "new_won": r["won"], "mismatches": r["mismatches"]}
        for side in ("old", "new"):
            q1, q2, q3 = quartiles(r[side])
            row[side] = {"p50_ms": round(q2, 1), "q1_ms": round(q1, 1), "q3_ms": round(q3, 1),
                         "jobs_per_op": statistics.mean(r["jobs"][side])}
        summary[shape] = row
        print(
            f"{shape:13s} old {row['old']['p50_ms']:7.1f} ({row['old']['q1_ms']:.1f}-{row['old']['q3_ms']:.1f}) ms"
            f" {row['old']['jobs_per_op']:.2f} jobs | new {row['new']['p50_ms']:7.1f}"
            f" ({row['new']['q1_ms']:.1f}-{row['new']['q3_ms']:.1f}) ms {row['new']['jobs_per_op']:.2f} jobs"
            f" | new won {row['new_won']}/{row['pairs']}, mismatches {row['mismatches']}"
        )
    for name, shapes in (("lookup", LOOKUP), ("scan_verify", SCAN)):
        old_ms = [x for s in shapes for x in res[s]["old"]]
        new_ms = [x for s in shapes for x in res[s]["new"]]
        won = sum(res[s]["won"] for s in shapes)
        summary[name] = {"old_p50_ms": round(statistics.median(old_ms), 1),
                         "new_p50_ms": round(statistics.median(new_ms), 1),
                         "new_won": won, "pairs": len(new_ms)}
        print(f"{name:13s} old {summary[name]['old_p50_ms']} ms | new {summary[name]['new_p50_ms']} ms"
              f" | new won {won}/{len(new_ms)}")
    print(json.dumps({"parent": args.parent, "rows": args.rows, "seed": args.seed, "shapes": summary}))


if __name__ == "__main__":
    main()
