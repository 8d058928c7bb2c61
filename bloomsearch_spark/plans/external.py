"""External-data index build — overlay the bloom hierarchy on source
parquet IN PLACE (zero row-data copy).

The reference's DataStore pointers are opaque bytes (data_store.go:12-22) —
nothing requires the engine to own the blobs.  This mode exploits that: a
**block = one (source file, partition value)** and the manifest's
``data_path`` stores the source file URI itself.  The build is therefore a
single read pass (tokenize + bloom + minmax), with NO data write and NO
shuffle of row data; at 100 TB this indexes the lake where it lies —
the build moves only manifest rows.

Mechanics:

- ``input_file_name()`` tags rows with their source file (constant per
  split, JVM-side).  One mapInArrow pass stages per-(file, partition)
  partial blooms/minmax/counts; a source file larger than one input split
  yields several partials.  At the segment step the manifest-row fold
  (``segments.fold``) ORs partials into blocks and blocks into files
  (bloom merge associativity doing its job), on the driver when the
  staging passes the segment gate, else as Spark grouped maps.
- file-level grouping: blocks of one source *directory* x partition form a
  logical file (Iceberg data dirs group naturally).
- query-side (plans/search.py): pruned scan reads the surviving source
  files; because several partition-blocks can share one physical file, the
  scan re-applies ``partition_expr`` as a row filter semi-joined against
  the surviving (file, partition) pairs — row-exact block semantics.
- integrity: data is never copied, so the per-row sha invariant holds by
  construction; ``verify_external_integrity`` instead re-counts each
  block's rows against the manifest (detects source mutation/truncation).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..operators.blockindex import BlockAccumulator
from ..sources import fs as fsx
from ..sources import manifest as mf
from ..sources import segments as seg
from .build import STAGING_PA_SCHEMA, STAGING_SCHEMA, _slug, _stage_done


def _uri_slug(uri: str) -> str:
    """Filesystem-safe slug of a source URI: readable basename prefix +
    sha1 of the WHOLE uri (uniqueness across directories)."""
    import hashlib
    import re

    base = re.sub(r"[^A-Za-z0-9_.-]", "_", os.path.basename(uri.rstrip("/"))[:32])
    h = hashlib.sha1(uri.encode()).hexdigest()[:12]
    return f"{base}-{h}"


def _make_external_fn(cfg: IndexConfig, build_tag: str):
    """mapInArrow body: accumulate one partial staging row per
    (source file, partition value) seen in this task's splits.  State is a
    ``BlockAccumulator`` per key — bitsets allocate once and mutate in
    place across batches (no per-batch alloc/merge churn)."""

    from ..tokenizer import get_tokenizer, register_tokenizer

    tok = get_tokenizer(cfg.tokenizer)  # ship the object to executors

    def fn(batches):
        register_tokenizer(tok)
        # buffer zero-copy batch slices per source file; tokenize each
        # (file, partition) ONCE over the concatenated table (small slices
        # amortize badly through unique()/hashing)
        per_src: dict[str, list[pa.Table]] = {}
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            srcs = pc.unique(tbl["_src"]).to_pylist()
            if len(srcs) == 1:
                per_src.setdefault(srcs[0], []).append(tbl)
            else:
                for src in srcs:
                    per_src.setdefault(src, []).append(
                        tbl.filter(pc.equal(tbl["_src"], src))
                    )

        acc: dict[tuple[str, str], BlockAccumulator] = {}
        for src, parts in per_src.items():
            whole = pa.concat_tables(parts).combine_chunks()
            for pid in pc.unique(whole["partition_id"]).to_pylist():
                part = whole.filter(pc.equal(whole["partition_id"], pid))
                state = BlockAccumulator(cfg)
                state.add(part.drop_columns(["_src"]))
                acc[(src, pid)] = state

        for (src, pid), state in acc.items():
            # ids hash the FULL source URI (not the basename): hive/dataset
            # layouts reuse basenames (part-0.parquet) across directories,
            # and a basename-keyed block_id would OR-merge distinct files
            # into one block, dropping all but one data_path from the scan.
            file_id = f"{_slug(pid)}-{build_tag}-x{_uri_slug(os.path.dirname(src))}"
            block_id = f"{_slug(pid)}-{build_tag}-{_uri_slug(src)}"
            entry = state.entry((file_id, block_id, pid))
            entry["data_path"] = src
            entry["byte_size"] = 0
            entry["minmax_min"] = list(entry["minmax_min"].items())
            entry["minmax_max"] = list(entry["minmax_max"].items())
            yield pa.RecordBatch.from_pylist([entry], schema=STAGING_PA_SCHEMA)

    return fn


def build_external_index(
    spark: SparkSession,
    source: str | list[str] | DataFrame,
    root: str,
    cfg: IndexConfig,
    source_desc: str = "",
) -> mf.BloomIndex:
    """Build a zero-copy overlay index for parquet data at ``source``.

    ``source`` may be a path/glob, a list of paths, or a DataFrame that was
    read straight from parquet (it must still expose input_file_name()).
    """
    cfg = IndexConfig.from_dict({**cfg.to_dict(), "external_data": True})
    if isinstance(source, DataFrame):
        df = source
    else:
        paths = [source] if isinstance(source, str) else list(source)
        df = spark.read.parquet(*paths)

    version, _ = mf.next_version_dir(root)

    d = df.withColumn("_src", F.input_file_name()).withColumn(
        "partition_id",
        F.coalesce(F.expr(cfg.partition_expr).cast("string"), F.lit("")),
    )

    scratch = mf.staging_root(root, f"{version}-external")
    staging = fsx.join(scratch, "staging.parquet")
    if not _stage_done(staging):
        d.mapInArrow(_make_external_fn(cfg, version), STAGING_SCHEMA).write.mode(
            "overwrite"
        ).parquet(staging)

    # a source file read by several input splits staged one partial per
    # split: fold partials into blocks, then blocks into files
    new_blocks, new_files = seg.split_staging(
        seg.fold(seg.read(spark, staging, STAGING_SCHEMA), "block_id"), rollup=True
    )
    # per-attempt nonce (see merge._commit): a racing committer sharing the
    # version guess must not overwrite a committed immutable segment.  The
    # heavy staging above stays deterministic (resume); re-writing the
    # manifest-sized segment on resume is cheap.
    import uuid as _uuid

    seg_name = f"{version}-external-{_uuid.uuid4().hex[:8]}"
    seg.write_segment(
        mf.segment_dir(root, seg_name),
        {
            "blocks": new_blocks,
            "files": new_files,
            "lineage": seg.lineage_of(new_blocks, version, "build-external", source_desc),
        },
    )

    committed = mf.publish_meta(root, cfg, {
        "build_id": version,
        "source_desc": source_desc,
        "source_columns": list(df.columns),
        "source_schema": df.schema.json(),
        "external": True,
        "uniform_params": {
            "blocks": [cfg.max_block_rows, cfg.block_fpr],
            "files": [cfg.file_expected_items, cfg.file_fpr],
        },
        "tables": {t: [mf.segment_ref(seg_name, t)] for t in mf.TABLES},
    })
    fsx.delete_dir(scratch)
    return mf.BloomIndex(spark, root, committed)


def verify_external_integrity(spark: SparkSession, index: mf.BloomIndex) -> int:
    """Re-count each (source file, partition) block's rows against the
    manifest; returns the number of mismatching blocks (0 = intact).
    Detects source files mutated/removed since the index was built.

    Driver-bounded at any file count: the scan reads the blocks' distinct
    PARENT directories (collected list is bounded by directory count, never
    per-file) with ``ignoreMissingFiles``, and a semi-join against the
    manifest's ``data_path`` set restricts the count to manifest members —
    no per-path driver FS round-trips, no unbounded path collect.  A source
    file removed since the build contributes no actual rows, so its blocks
    surface as mismatches through the full_outer join; files added to the
    source dirs after the build are ignored (they are not indexed).
    Assumes source directories hold one dataset each (parquet dir-per-table
    layout) so the directory read schema-merges cleanly."""
    cfg = index.config
    blocks = index.blocks().select("data_path", "partition_id", "row_count")
    dirs = sorted(
        r.d
        for r in blocks.select(
            F.regexp_replace("data_path", "/[^/]+$", "").alias("d")
        )
        .distinct()
        .collect()
    )
    from urllib.parse import unquote

    # input_file_name() percent-encodes special characters, but both the
    # driver-side stat AND spark.read take literal paths (Spark's reader
    # does NOT URL-decode a "%20"), so decode for both; the re-read's own
    # input_file_name() re-encodes, keeping the semi-join keys aligned
    # with the stored data_path values
    live_dirs = [unquote(d) for d in dirs if fsx.exists(unquote(d))]
    if not live_dirs:
        return blocks.count()
    try:
        src = spark.read.option("ignoreMissingFiles", "true").parquet(*live_dirs)
    except AnalysisException:
        # dirs exist but hold no readable parquet (all source files gone):
        # schema inference fails — every block is a mismatch, not a crash
        return blocks.count()
    data = (
        src.withColumn("data_path", F.input_file_name())
        .join(
            F.broadcast(blocks.select("data_path").distinct()),
            "data_path",
            "left_semi",
        )
    )
    actual = (
        data.withColumn(
            "partition_id",
            F.coalesce(F.expr(cfg.partition_expr).cast("string"), F.lit("")),
        )
        .groupBy("data_path", "partition_id")
        .agg(F.count("*").alias("actual_rows"))
    )
    joined = blocks.join(actual, ["data_path", "partition_id"], "full_outer")
    return joined.filter(
        F.coalesce(F.col("row_count"), F.lit(-1))
        != F.coalesce(F.col("actual_rows"), F.lit(-2))
    ).count()
