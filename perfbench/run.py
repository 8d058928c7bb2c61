"""Closed-loop benchmark of bloomsearch_spark on local[4], one client.

    python3 perfbench/run.py --workload lookup --seed 7 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads (see perfbench/METRICS.md):

- ``lookup``: selective search(), DataSource and search_needles reads over
  a warm handle: the prune layers do the work.
- ``scan_verify``: unselective reads: scan planning and the exact verify do
  the work.  Run by hand; BENCHMARK.json leaves it out so that a full
  comparison stays within its time budget (see perfbench/METRICS.md).
- ``ingest_mutate``: appends, deletes and upserts, each read back through a
  freshly loaded handle: build, segment writes and commits do the work.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans and
Spark job counts and prints the per-layer metrics instead.  Every op's
result is checked; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  All files go to
``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SPARK_CORES = 4
LOCK_WAIT_S = 120

# end-to-end figures of the ops one workload runs: printed, not bounded
WORKLOAD_ONLY_UNITS = {
    "query_samples": "count",
    "query_tail_ms": "ms",
    "query_tail_percentile": "%",
    "queries_per_s": "1/s",
    "ds_query_p50_ms": "ms",
    "needles_p50_ms": "ms",
    "append_p50_ms": "ms",
    "ingest_rows_per_s": "rows/s",
    "read_after_write_p50_ms": "ms",
    "delete_p50_ms": "ms",
    "dv_delete_p50_ms": "ms",
    "upsert_p50_ms": "ms",
    "failed_op_frac": "ratio",
}


def metric_units() -> tuple[dict, dict]:
    """Units of the end-to-end and the per-layer metrics BENCHMARK.json names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def unit_of(name: str) -> str:
    """Unit of a traced figure that only one workload reports."""
    if name.endswith("_ms"):
        return "ms"
    return "ratio" if name.endswith("ratio") else "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["lookup", "scan_verify", "ingest_mutate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it (the
    11th-largest sample) and that percentile; None when there are too few
    samples for one above the median."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 20:
        return None
    return xs[n - 11], 100.0 * (n - 10) / n


def start_spark():
    from pyspark.sql import SparkSession

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{SPARK_CORES}]")
        .appName("bloomsearch-perfbench")
        .config("spark.sql.shuffle.partitions", str(SPARK_CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the DataSource's pushFilters (lang IN (...) prunes partitions)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={os.environ['TMPDIR']}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, spark, session_s: float, record: dict) -> tuple[dict, dict, int, int]:
    import workloads as wl
    from tracing import NullTracer, Tracer

    tracer = Tracer(spark) if args.trace else NullTracer()
    if args.trace:
        from bloomsearch_spark.plans import needles, search

        tracer.wrap(search, "prune_blocks", "search.prune")
        tracer.wrap(search, "scan_blocks", "search.scan_plan")
        tracer.wrap(needles, "scan_blocks", "search.scan_plan")
    b = wl.Bench(spark, tracer, os.path.join(WORK, "run"), args.seed)
    b.record = record
    b.make_corpus()
    t = time.perf_counter()
    workload = wl.WORKLOADS[args.workload](b)
    record["oracle_s"] = time.perf_counter() - t
    ix, setup_wall = b.setup(workload)

    record["loadavg_before_loop"] = os.getloadavg()
    # whole cycles, so every run has the same mix of op kinds
    n0, t0, cycles = b.attempted, time.perf_counter(), 0
    while time.perf_counter() - t0 < args.seconds:
        n = b.attempted
        for kind, fn, expect, what in workload.ops(ix):
            b.run_op(kind, fn, expect, what)
        if b.attempted == n:  # the workload has no ops left
            break
        cycles += 1
    wall = time.perf_counter() - t0
    record["loadavg_after_loop"] = os.getloadavg()
    record.update(cycles=cycles, loop_wall_s=wall, loop_ops=b.attempted - n0)
    if args.workload == "ingest_mutate":
        ix = workload.ix

    query = [x for k in workload.search_kinds for x in b.samples[k]]
    record["samples_ms"] = {k: [round(x, 1) for x in v] for k, v in b.samples.items()}
    if args.trace:
        # the traced loop's median, to set against the untraced run's
        record["traced_query_p50_ms"] = statistics.median(query)
        b.search_kinds = workload.search_kinds
        b.finish_layers()
        b.probe_searches(ix, workload.probe_queries(), workload.overhead_pairs)
        b.probe_manifest(ix.root)
        b.probe_kernels(ix, b.pdf["content"].iloc[: 5 * wl.APPEND_ROWS])
        workload.extras(ix)
        tracer.unwrap_all()
        spans = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        tracer.dump(spans)
        record["spans_file"] = os.path.relpath(spans, ROOT)
        metrics = dict(b.layer)
        extra = dict(b.extra_layer)
    else:
        s = b.samples
        source_bytes = b.source_bytes + getattr(workload, "appended_bytes", 0)
        metrics = {
            "setup_s": session_s + setup_wall,
            "query_p50_ms": statistics.median(query),
            "ops_per_s": (b.attempted - n0) / wall,
            "index_bytes_per_source_byte": wl.tree_bytes_files(ix.root)[0] / source_bytes,
            "driver_py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }
        extra = {"failed_op_frac": b.failed / b.attempted, "query_samples": len(query)}
        if t := tail(query):
            extra.update(query_tail_ms=t[0], query_tail_percentile=t[1])
        if args.workload != "ingest_mutate":
            extra["queries_per_s"] = len(query) / wall
        for name, kind in [
            ("ds_query_p50_ms", "ds_query"), ("needles_p50_ms", "needles"),
            ("append_p50_ms", "append"), ("read_after_write_p50_ms", "read_after_write"),
            ("delete_p50_ms", "delete"), ("dv_delete_p50_ms", "dv_delete"),
            ("upsert_p50_ms", "upsert"),
        ]:
            if s[kind]:
                extra[name] = statistics.median(s[kind])
        if s["append"]:
            extra["ingest_rows_per_s"] = wl.APPEND_ROWS * len(s["append"]) / (sum(s["append"]) / 1000.0)
    return metrics, extra, b.attempted, b.failed


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import bloomsearch_spark  # noqa: F401
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    end_to_end, per_layer = metric_units()
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    deadline = time.monotonic() + LOCK_WAIT_S
    while True:  # never two benchmark JVMs at once
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            break
        except BlockingIOError:
            if time.monotonic() > deadline:
                print("perfbench: another run holds the lock", file=sys.stderr)
                return 3
            time.sleep(1)
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "loadavg_before": os.getloadavg(),
    }
    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    record["session_start_s"] = session_s
    record["spark_conf"] = dict(sorted(spark.sparkContext.getConf().getAll()))
    try:
        metrics, extra, attempted, failed = run(args, spark, session_s, record)
        record["run_s"] = time.perf_counter() - t0
    finally:
        stop_spark(spark)
    record["stop_s"] = time.perf_counter() - t0 - record.get("run_s", 0.0)
    record["loadavg_after"] = os.getloadavg()
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)

    units = {**end_to_end, **per_layer, **WORKLOAD_ONLY_UNITS}
    print("run_record " + json.dumps(record, default=list), flush=True)
    print("workload_metrics " + json.dumps(extra), flush=True)
    for name, value in {**metrics, **extra}.items():
        print(f"metric {name} = {value} {units.get(name) or unit_of(name)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": metrics[name], "unit": unit}
            for name, unit in (per_layer if args.trace else end_to_end).items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
