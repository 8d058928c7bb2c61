"""Row parity of the manifest rollups and the row mutations between this
checkout and an older revision, both in one JVM.

Extracts ``<rev>:bloomsearch_spark`` with ``git archive`` as the package
``bloomsearch_parent`` (``scripts/search_ab_bench.py``'s ``extract``) and
runs, with each package and on each segment face — the driver face, and
the Spark face forced by ``DRIVER_SEGMENT_MAX_BYTES = 0`` — these ops on
a ``--rows``-row synthetic table:

- ``clustered``: a clustered build (``block_expr="doc_id % 8"``);
- ``merge_files`` and then ``compact_blocks`` on that index;
- ``external``: an external build of one parquet file of many row
  groups, read whole;
- ``external_split``: the same build with the file read in many input
  splits (``spark.sql.files.maxPartitionBytes``), so its blocks fold
  from per-split partials;
- a DV-carrying mutation chain on a map build: ``dv_delete`` (a
  deletion-vector delete), ``delete`` (a rewrite delete of blocks the DV
  delete masked), ``upsert``, ``upsert_dv`` and ``purge``
  (``purge_deletion_vectors``).

The commit nonces (``plans.merge.uuid``) are seeded on both sides, so
both mint the same segment, block and data-path names.  For each op and
face it diffs every blocks/files/lineage/dvs row (``committed_at``
ignored, minmax maps compared as dicts), the mutation's ``DeleteStats``
and the rows of a few searches: between the two packages, and between
the two faces of this checkout.  It prints the Spark jobs each op took
per side and face.  The last stdout line is one JSON object with the
same figures; the exit status is 1 on any difference.

Usage: python scripts/manifest_parity.py --parent <git-rev>
       [--rows 2000] [--cpus 4]
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib
import json
import os
import shutil
import sys
import tempfile
import uuid

from search_ab_bench import ALIAS, ROOT, extract

FOLD_OPS = ("clustered", "merge_files", "compact_blocks", "external", "external_split")
MUTATION_OPS = ("dv_delete", "delete", "upsert", "upsert_dv", "purge")
OPS = FOLD_OPS + MUTATION_OPS
FACES = ("driver", "spark")
SPLIT_BYTES = "16k"  # several input splits per source file at 2,000 rows


class SeqUUID:
    """Deterministic ``uuid4`` for the commit nonces."""

    def __init__(self):
        self.n = 0

    def uuid4(self):
        self.n += 1
        return uuid.UUID(int=self.n)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--rows", type=int, default=2_000)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="bs-manifest-parity-")
    try:
        extract(args.parent, work)
        # the Python workers import both packages too (UDFs pickle by module)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT, work, os.environ.get("PYTHONPATH", "")]
        ).rstrip(os.pathsep)
        sys.path[:0] = [ROOT, work]
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("manifest-parity")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return compare(spark, args, work)
    finally:
        spark.stop()


def compare(spark, args, work: str) -> int:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bloomsearch_spark.sources.synthetic import generate_pdf

    pdf = generate_pdf(args.rows).assign(doc_id=np.arange(args.rows, dtype=np.int64))
    df = spark.createDataFrame(pdf)
    src = os.path.join(work, "src")
    os.makedirs(src)
    # many row groups: a small split size then cuts the file into splits
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(src, "part-0.parquet"),
        row_group_size=max(1, args.rows // 20),
    )
    last_job = job_counter(spark)
    pkgs = {"new": importlib.import_module("bloomsearch_spark"),
            "old": importlib.import_module(ALIAS)}
    got = {}
    for face in FACES:
        for side, bs in pkgs.items():
            root = os.path.join(work, f"{side}-{face}")
            got[side, face] = run_ops(spark, bs, face, df, src, root, last_job, args)

    report, failed = {}, False
    for op in OPS:
        row = {}
        for face in FACES:
            new, old = got["new", face][op], got["old", face][op]
            row[f"jobs_{face}"] = {"old": old[1], "new": new[1]}
            row[f"diff_{face}"] = diff(old[0], new[0])
        row["diff_faces"] = diff(got["new", "driver"][op][0], got["new", "spark"][op][0])
        failed |= any(row[k] for k in ("diff_driver", "diff_spark", "diff_faces"))
        report[op] = row
        print(
            f"{op:15s} jobs driver {row['jobs_driver']['old']:2d} -> {row['jobs_driver']['new']:2d}"
            f" spark {row['jobs_spark']['old']:2d} -> {row['jobs_spark']['new']:2d} | diffs vs parent"
            f" driver {row['diff_driver'] or 'none'} spark {row['diff_spark'] or 'none'}"
            f" | driver vs spark {row['diff_faces'] or 'none'}"
        )
    print(json.dumps({"parent": args.parent, "rows": args.rows, "equal": not failed, "ops": report}))
    return 1 if failed else 0


def job_counter(spark):
    sc = spark.sparkContext._jsc.sc()

    def last_id() -> int:
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)  # newest first
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    return last_id


def run_ops(spark, bs, face: str, df, src: str, root: str, last_job, args) -> dict:
    """``{op: (state, spark_jobs)}`` of the op chain through package ``bs``."""
    seg = importlib.import_module(f"{bs.__name__}.sources.segments")
    merge = importlib.import_module(f"{bs.__name__}.plans.merge")
    saved = seg.DRIVER_SEGMENT_MAX_BYTES, merge.uuid
    merge.uuid = SeqUUID()
    if face == "spark":
        seg.DRIVER_SEGMENT_MAX_BYTES = 0
    cfg = dict(
        indexed_fields=("repo", "path", "lang", "content"),
        partition_expr="lang",
        max_block_rows=100,
        blocks_per_file=2,
        sha_col="content",
    )
    clustered = bs.IndexConfig(**cfg, block_expr="doc_id % 8")
    external = bs.IndexConfig(**cfg)

    def split_build(ix):
        conf = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", SPLIT_BYTES)
        try:
            return bs.build_external_index(spark, src, f"{root}/xs", external)
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", conf)

    def upsert_src(lo, hi):
        import numpy as np

        from bloomsearch_spark.sources.synthetic import generate_pdf

        pdf = generate_pdf(args.rows).iloc[lo:hi].copy()
        pdf["content"] = [f"upserted_marker row{i}" for i in range(lo, hi)]
        return spark.createDataFrame(pdf.assign(doc_id=np.arange(lo, hi, dtype=np.int64)))

    beta = bs.new_query().token("needle_beta").build()
    alpha = bs.new_query().token("needle_alpha").build()
    steps = {
        "clustered": lambda ix: bs.build_index(spark, df, f"{root}/c", clustered),
        "merge_files": lambda ix: bs.merge_files(spark, ix)[0],
        "compact_blocks": lambda ix: bs.compact_blocks(spark, ix)[0],
        "external": lambda ix: bs.build_external_index(spark, src, f"{root}/x", external),
        "external_split": split_build,
        "dv_delete": lambda ix: bs.delete_where(spark, ix, beta, use_deletion_vectors=True),
        "delete": lambda ix: bs.delete_where(spark, ix, alpha),
        "upsert": lambda ix: bs.upsert_keys(spark, ix, upsert_src(0, 20), "path"),
        "upsert_dv": lambda ix: bs.upsert_keys(
            spark, ix, upsert_src(20, 40), "path", use_deletion_vectors=True
        ),
        "purge": lambda ix: bs.purge_deletion_vectors(spark, ix),
    }
    out, ix = {}, None
    try:
        for op in OPS:
            if op == MUTATION_OPS[0]:
                ix = bs.build_index(spark, df, f"{root}/m", external)
            before = last_job()
            ix = steps[op](ix)
            jobs = last_job() - before
            stats = None
            if isinstance(ix, tuple):  # a mutation: (index, DeleteStats)
                ix, stats = ix[0], sorted(dataclasses.asdict(ix[1]).items())
            st = state(spark, bs, bs.BloomIndex.load(spark, ix.root))
            out[op] = ({**st, "stats": stats}, jobs)
    finally:
        seg.DRIVER_SEGMENT_MAX_BYTES, merge.uuid = saved
    return out


def state(spark, bs, ix) -> dict:
    def rows(df, drop=()):
        out = [
            {k: v for k, v in r.asDict().items() if k not in drop}
            for r in df.collect()
        ]
        return sorted(out, key=lambda d: tuple(str(d[k]) for k in sorted(d)))

    queries = {
        "needle_alpha": bs.new_query().token("needle_alpha").build(),
        "needle_beta": bs.new_query().token("needle_beta").build(),
        "upserted": bs.new_query().token("upserted_marker").build(),
        "lang_py": bs.new_query().field_token("lang", "py").build(),
        "all": bs.new_query().build(),
    }
    return {
        "blocks": rows(ix.blocks(cache=False)),
        "files": rows(ix.files(cache=False)),
        "lineage": rows(ix.lineage(), drop=("committed_at",)),
        "dvs": rows(ix.dvs(cache=False)) if ix.dvs_refs() else [],
        **{
            f"search:{name}": sorted(tuple(r) for r in bs.search(spark, ix, q).collect())
            for name, q in queries.items()
        },
    }


def diff(a: dict, b: dict) -> dict:
    """``{table: rows that differ}`` of two states; empty when equal."""
    out = {}
    for k in a:
        if a[k] != b[k]:
            n = sum(x != y for x, y in zip(a[k], b[k])) + abs(len(a[k]) - len(b[k]))
            out[k] = n
    return out


if __name__ == "__main__":
    sys.exit(main())
