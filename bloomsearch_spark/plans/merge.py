"""Merge / compaction plan — M1-M9 of SURVEY.md §2.3, Spark-first.

The reference merge (``merge``, bloom_tree_engine.go:1206-1372) compacts
many small files into fewer large ones: group files with identical bloom
params (identifyFileMergeGroups :1490-1588), OR their file-level blooms
(:1401-1423), merge compatible data blocks by streaming row copy
(:1830-1917), then atomically swap the metastore and tombstone old blobs
(:1341-1352).

Our rebuild splits that into two independently-usable operators, both of
which commit a new manifest version atomically (readers never see a
partial state):

- **metadata-only file merge** (the common case): file-level blooms with
  equal (m, k) OR together distributively — the manifest-row fold
  (``segments.fold``) as a ``groupBy(new_file_id).applyInArrow`` over
  the *files manifest* (1 row per file, so this touches no row data at
  all).  Block rows are re-pointed to the merged
  file_id; their ``data_path`` keeps referencing the original block
  directory, so **zero bytes of row data move** — strictly cheaper than
  the reference's byte-copy (copyDataBlock :1762-1786).
- **block consolidation** (``compact_blocks``): small blocks of the same
  (partition, bloom params) whose combined rows fit ``max_block_rows``
  are rewritten into one block directory; their block rows fold
  (``segments.fold``: block blooms bitwise-OR, M4; minmax maps
  union-widen, M5) — no re-tokenization, unlike the reference's
  row-streaming re-index.

Plus ``expire_blocks`` (M9, TTL/prefilter-based expiry), ``vacuum`` (M8
tombstoning: delete block dirs no longer referenced by CURRENT), and the
manifest's own maintenance: ``fold_manifest`` (compact the delta-segment
lists appends accumulate) and ``vacuum_manifest`` (reclaim unreachable
version/segment/staging dirs).

Scale notes: merge *planning* runs per param-group on executors
(``_plan_mapping_df`` — the driver never materializes the manifest);
merge *execution* is distributed grouped-maps over manifest rows and,
for consolidation only, over the affected block data.  Both paths
shuffle manifest rows, never the indexed dataset.  Maintenance commits
publish with ``expected=`` their snapshot version: a concurrent commit
(e.g. a streaming append) surfaces as ``CommitConflict`` — reload and
re-run the op; never retry blindly (the plan was computed from a
superseded manifest).
"""

from __future__ import annotations

import functools
import os
import posixpath
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import AtomicType
from pyspark.sql.window import Window

from ..sources import fs as fsx
from ..sources import manifest as mf
from ..sources import segments as seg
from ..sources.manifest import BloomIndex

# restore's pre-flight existence sweep runs driver-side (threaded stats,
# zero Spark jobs) up to this many block dirs; bigger manifests keep the
# distributed mapInPandas check
RESTORE_DRIVER_CHECK_MAX = 20_000


@dataclass
class MergeStats:
    """Counters mirroring the reference MergeStats (bloom_tree_engine.go:1355-1371)."""

    files_before: int = 0
    files_after: int = 0
    groups_merged: int = 0
    blocks_before: int = 0
    blocks_after: int = 0
    blocks_rewritten: int = 0


# ---------------------------------------------------------------------------
# M2: merge-group selection (driver-side over the small files manifest)
# ---------------------------------------------------------------------------


def plan_file_merge(
    files_pdf: pd.DataFrame,
    max_blocks_per_file: int,
    max_files_per_merge: int = 10,
    max_file_bytes: int | None = None,
) -> dict[str, str]:
    """Greedy packing of mergeable files -> {old_file_id: merged_file_id}.

    Mergeable = identical (partition_id, expected_items, fpr) — the bloom
    param equality gate of identifyFileMergeGroups
    (bloom_tree_engine.go:1490-1588); smallest files first (file_id
    tiebreak, so the plan is deterministic for any input row order); a
    group closes at ``max_blocks_per_file`` blocks, ``max_files_per_merge``
    members, or ``max_file_bytes`` combined data bytes (MaxFileSize,
    :1520-1533).  Only groups with >= 2 members merge.

    Pure pandas: ``merge_files`` runs it PER PARAM-GROUP inside an
    applyInPandas (driver never holds the manifest); unit/property tests
    call it whole-frame.  Merged ids are prefixed by the group's first
    member (unique across groups), so per-call counters need no global
    coordination.
    """
    mapping: dict[str, str] = {}
    if files_pdf.empty:
        return mapping
    has_bytes = "byte_size" in files_pdf.columns
    # ONE sort + ONE pass with group-change detection (no per-group pandas
    # slicing — 15k tiny groups cost ~2-3 ms each through groupby/itertuples
    # machinery, dominating 10^6-row frames)
    srt = files_pdf.sort_values(
        ["partition_id", "expected_items", "fpr", "block_count", "file_id"]
    )
    members: list[str] = []
    blocks = nbytes = gi = 0
    prev_key = object()

    def _close():
        nonlocal gi
        if len(members) >= 2:
            gi += 1
            tgt = f"{members[0]}-m{gi}"
            for m in members:
                mapping[m] = tgt
        members.clear()

    for row in srt.itertuples(index=False):
        key = (row.partition_id, row.expected_items, row.fpr)
        if key != prev_key:
            # per-GROUP counter: merged ids stay unique via the members[0]
            # prefix, and the plan is independent of group order
            _close()
            blocks = nbytes = gi = 0
            prev_key = key
        row_bytes = int(row.byte_size) if has_bytes else 0
        if members and (
            blocks + row.block_count > max_blocks_per_file
            or len(members) >= max_files_per_merge
            or (max_file_bytes is not None and nbytes + row_bytes > max_file_bytes)
        ):
            _close()
            blocks = nbytes = 0
        members.append(row.file_id)
        blocks += int(row.block_count)
        nbytes += row_bytes
    _close()
    return mapping


def _plan_mapping_df(
    df: DataFrame, group_cols: list[str], plan_fn, out_cols: str, **kwargs
) -> DataFrame:
    """Run a greedy packing planner PER merge-candidate group on executors
    (applyInPandas) and return the (old_id -> new_id) mapping as a
    DataFrame.  Groups are independent by construction (a file/block is
    mergeable only within its param group), so distributing the planning
    preserves the exact whole-frame output while bounding memory to the
    largest single group's SCALAR columns — the driver never materializes
    the manifest (VERDICT r02 item 6; at 10^8 blocks the old whole-manifest
    toPandas was ~10 GB on the driver)."""
    old_c, new_c = [c.strip() for c in out_cols.split(",")]

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        m = plan_fn(pdf, **kwargs)
        return pd.DataFrame({old_c: list(m.keys()), new_c: list(m.values())})

    return df.groupBy(*group_cols).applyInPandas(
        fn, f"{old_c} string, {new_c} string"
    )


# ---------------------------------------------------------------------------
# M1: merge driver
# ---------------------------------------------------------------------------


def _retry_conflicts(spark, index: BloomIndex, conflict_retries: int, run):
    """Optimistic-concurrency loop for maintenance ops: ``run(index)``
    plans AND commits from its snapshot; on CommitConflict (something —
    e.g. a streaming append — committed meanwhile) the op is RE-PLANNED
    from the freshly loaded version, never blindly re-published.  Bounded
    retries; the last conflict propagates."""
    while True:
        try:
            return run(index)
        except mf.CommitConflict:
            if conflict_retries <= 0:
                raise
            conflict_retries -= 1
            index = BloomIndex.load(spark, index.root)


def merge_files(
    spark: SparkSession,
    index: BloomIndex,
    max_blocks_per_file: int = 64,
    max_files_per_merge: int = 10,
    max_file_bytes: int | None = None,
    conflict_retries: int = 0,
) -> tuple[BloomIndex, MergeStats]:
    """Metadata-only file compaction: fewer, larger logical files; zero
    data movement.  Commits and returns a new manifest version.

    Files with differing bloom params are left untouched (the reference's
    unmergeable case, bloom_tree_engine_test.go:986-1246).

    ``conflict_retries``: re-plan + retry this many times when a
    concurrent commit (streaming append, another maintenance op) wins the
    race (CommitConflict)."""
    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: merge_files(
                spark, ix, max_blocks_per_file, max_files_per_merge,
                max_file_bytes, conflict_retries=0,
            ),
        )
    stats = MergeStats()
    files = index.files()
    blocks = index.blocks()
    stats.files_before = _manifest_count(index, "files")
    stats.blocks_before = stats.blocks_after = _manifest_count(index, "blocks")

    # plan per param-group on executors; the mapping (scalar pairs, already
    # far smaller than the manifest) is reused by two joins + two counts
    map_df = _plan_mapping_df(
        files.select(
            "file_id", "partition_id", "block_count", "byte_size",
            "expected_items", "fpr",
        ),
        ["partition_id", "expected_items", "fpr"],
        plan_file_merge,
        "file_id, new_file_id",
        max_blocks_per_file=max_blocks_per_file,
        max_files_per_merge=max_files_per_merge,
        max_file_bytes=max_file_bytes,
    ).persist()
    try:
        n_mapped = map_df.count()
        if n_mapped == 0:
            stats.files_after = stats.files_before
            return index, stats
        stats.groups_merged = map_df.select("new_file_id").distinct().count()

        # the repoint joins the bitset-heavy manifest against the (id -> id)
        # mapping: broadcast the mapping when it is small (the common case) so
        # the multi-MB bloom columns never shuffle; above the threshold fall
        # back to a shuffle join (an unconditional broadcast would be
        # driver-unbounded — ADVICE r03)
        map_side = F.broadcast(map_df) if n_mapped <= 1_000_000 else map_df

        def repoint(df: DataFrame) -> DataFrame:
            return (
                df.join(map_side, "file_id", "left")
                .withColumn("file_id", F.coalesce("new_file_id", "file_id"))
                .drop("new_file_id")
            )

        new_blocks = repoint(blocks)
        new_files = seg.fold(repoint(files), "file_id")
        return _commit(
            spark, index, new_blocks, new_files, op="merge", stats=stats
        )
    finally:
        map_df.unpersist()


# ---------------------------------------------------------------------------
# Block consolidation (data rewrite; M3/M7 analog)
# ---------------------------------------------------------------------------


def plan_block_merge(
    blocks_pdf: pd.DataFrame, max_block_rows: int
) -> dict[str, str]:
    """Greedy per-(file, partition, params) packing of small blocks whose
    combined rows fit ``max_block_rows`` (dataBlocksAreMergeable,
    bloom_tree_engine.go:1374-1399) -> {old_block_id: merged_block_id}."""
    mapping: dict[str, str] = {}
    if blocks_pdf.empty:
        return mapping
    # one sort + one pass (see plan_file_merge)
    srt = blocks_pdf.sort_values(
        ["file_id", "partition_id", "expected_items", "fpr", "row_count", "block_id"]
    )
    members: list[str] = []
    rows = gi = 0
    prev_key = object()

    def _close():
        nonlocal gi
        if len(members) >= 2:
            gi += 1
            tgt = f"{members[0]}-c{gi}"
            for m in members:
                mapping[m] = tgt
        members.clear()

    for row in srt.itertuples(index=False):
        key = (row.file_id, row.partition_id, row.expected_items, row.fpr)
        if key != prev_key:
            _close()
            rows = gi = 0
            prev_key = key
        if members and rows + row.row_count > max_block_rows:
            _close()
            rows = 0
        members.append(row.block_id)
        rows += int(row.row_count)
    _close()
    return mapping


def _make_consolidate_fn(data_dir: str, codec_kw: dict):
    """applyInArrow body of one merge group: rewrite its blocks' live rows
    into one block dir; the block row is the fold of the members' rows
    with the rewritten block's ``row_count``/``byte_size``/``data_path``."""
    def _read_masked(p, pos):
        t = fsx.read_parquet_dir(fsx.join(data_dir, p))
        # deletion-vector purge: a consolidated block materializes only
        # LIVE rows (merge-on-read becomes copy-on-write here), and its
        # fresh block_id detaches the old mask
        if pos is not None and len(pos):
            m = np.ones(len(t), dtype=bool)
            m[np.asarray(pos, dtype=np.int64)] = False
            t = t.filter(pa.array(m))
        return t

    def fn(tbl):
        rows = tbl.select(list(seg.BLOCK_COLUMNS))
        if tbl.num_rows == 1:  # singleton group: pass the manifest row through
            # (its deletion vector, if any, still applies — the commit
            # carries the dvs refs and the block keeps its id/data_path)
            return rows
        data = pa.concat_tables(
            [
                _read_masked(p, pos)
                for p, pos in zip(
                    tbl["data_path"].to_pylist(), tbl["dv_positions"].to_pylist()
                )
            ],
            promote_options="default",
        )
        if len(data) == 0:  # every member row was DV-deleted: drop the block
            return rows.slice(0, 0)
        block_id = tbl["merge_block_id"][0].as_py()
        rel = fsx.join(f"file_id={rows['file_id'][0].as_py()}", f"block_id={block_id}")
        byte_size = fsx.write_parquet_atomic(
            fsx.join(data_dir, rel), data, "part-0.parquet", **codec_kw
        )
        i = rows.schema.get_field_index("block_id")
        out = seg.fold(rows.set_column(i, "block_id", tbl["merge_block_id"]), "block_id")
        for name, v in (("row_count", len(data)), ("byte_size", byte_size), ("data_path", rel)):
            i = out.schema.get_field_index(name)
            out = out.set_column(i, out.field(i), pa.array([v], out.field(i).type))
        return out

    return fn


def compact_blocks(
    spark: SparkSession,
    index: BloomIndex,
    max_block_rows: int | None = None,
    conflict_retries: int = 0,
    where=None,
) -> tuple[BloomIndex, MergeStats]:
    """Rewrite undersized sibling blocks into consolidated block dirs.

    Block blooms OR together (M4) and minmax maps widen (M5) — no
    re-tokenization; only the affected blocks' row data is read/written.
    File-level rows are unchanged (their blooms already cover the union).

    ``where`` (a :class:`PrefilterExpr` — Partition/MinMax trees, the
    same objects queries prune with) SCOPES the candidate set (the
    ``OPTIMIZE ... WHERE`` analog): only matching blocks may join a
    merge group, everything else passes through verbatim — at 100 TB
    maintenance targets the hot partitions, never the whole table.
    """
    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: compact_blocks(spark, ix, max_block_rows, 0, where),
        )
    cfg = index.config
    if index.meta().get("external", False):
        raise ValueError(
            "compact_blocks rewrites block data and is not applicable to a "
            "zero-copy external index; use merge_files (metadata-only)"
        )
    _refuse_shallow_clone(index, "compact_blocks")
    target = max_block_rows or cfg.max_block_rows
    stats = MergeStats()
    blocks = index.blocks()
    stats.blocks_before = _manifest_count(index, "blocks")
    stats.files_before = stats.files_after = _manifest_count(index, "files")

    cand = blocks
    if where is not None:
        from ..query import compile_prefilter
        from .colmap import _map_prefilter

        if index.column_mapping():
            where = _map_prefilter(where, index.to_physical)
        cand = blocks.filter(compile_prefilter(where))
    # plan per (file, partition, params) group on executors — driver never
    # holds the block manifest (bounded at any block count)
    map_df = _plan_mapping_df(
        cand.select(
            "file_id", "block_id", "partition_id", "row_count",
            "expected_items", "fpr",
        ),
        ["file_id", "partition_id", "expected_items", "fpr"],
        plan_block_merge,
        "block_id, merged",
        max_block_rows=target,
    ).persist()
    try:
        stats.blocks_rewritten = map_df.count()
        if stats.blocks_rewritten == 0:
            stats.blocks_after = stats.blocks_before
            return index, stats
        stats.groups_merged = map_df.select("merged").distinct().count()

        # small mapping (common): broadcast so block bitsets don't shuffle
        map_side = (
            F.broadcast(map_df) if stats.blocks_rewritten <= 1_000_000 else map_df
        )
        staged = (
            blocks.join(map_side, "block_id", "left")
            .withColumn("merge_block_id", F.coalesce("merged", "block_id"))
            .drop("merged")
        )
        # deletion-vector masks ride the plan as a per-block positions array:
        # consolidation purges DV'd rows physically (and the merged block's
        # fresh id detaches the old mask); singletons keep their carried ref
        dv_agg = index.dv_agg()
        if dv_agg is not None:
            staged = staged.join(dv_agg, "data_path", "left")
        else:
            staged = staged.withColumn(
                "dv_positions", F.lit(None).cast("array<long>")
            )
        from .build import codec_kwargs

        new_blocks = staged.groupBy("merge_block_id").applyInArrow(
            _make_consolidate_fn(index.data_dir, codec_kwargs(cfg)), mf.BLOCKS_SCHEMA
        )
        return _commit(
            spark, index, new_blocks, index.files(), op="compact", stats=stats
        )
    finally:
        map_df.unpersist()


# ---------------------------------------------------------------------------
# M9: TTL / predicate expiry
# ---------------------------------------------------------------------------


def expire_blocks(
    spark: SparkSession, index: BloomIndex, expired: Column,
    conflict_retries: int = 0,
) -> tuple[BloomIndex, MergeStats]:
    """Drop blocks matching ``expired`` (a Column over block-manifest rows,
    e.g. a minmax/partition predicate — README.md:283-287).  File rows with
    no remaining blocks are dropped; partially-expired files keep their
    (now conservative, still sound) blooms — bloom filters only disqualify.
    """
    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: expire_blocks(spark, ix, expired, 0),
        )
    stats = MergeStats()
    blocks = index.blocks()
    stats.blocks_before = _manifest_count(index, "blocks")
    stats.files_before = _manifest_count(index, "files")
    # null predicate result (e.g. a minmax key the block lacks) must NOT
    # expire the block — expiry is opt-in, pruning is conservative
    new_blocks = blocks.filter(~F.coalesce(expired, F.lit(False)))
    live_files = new_blocks.select("file_id").distinct()
    new_files = index.files().join(F.broadcast(live_files), "file_id", "left_semi")
    return _commit(spark, index, new_blocks, new_files, op="expire", stats=stats)




def _refuse_shallow_clone(index: BloomIndex, op: str) -> None:
    if index.meta().get("data_dir_override"):
        raise ValueError(
            f"{op} writes or deletes block data and is not applicable to a "
            "SHALLOW CLONE — its block dirs belong to the source root "
            "(mutating them would corrupt the source; writing new ones "
            "would orphan on the source's vacuum).  Deep-clone first "
            "(clone(..., shallow=False)) or run the op on the source.  "
            "Metadata-only ops (merge_files, expire_blocks, fold_manifest, "
            "vacuum_manifest, restore) remain available."
        )


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER (r06): layout rewrite for tight zone maps
# ---------------------------------------------------------------------------


def zorder_column(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-order (Morton) key over ``cols`` as a pure-Catalyst Column.

    Each column is bucketed into 2^bits rank buckets via
    ``width_bucket`` against its approxQuantile boundaries (KB-scale
    driver work, one pass over the data), then the bucket ids' bits are
    interleaved — standard Morton encoding, whole-stage-codegen all the
    way (shiftleft/bitwiseOR over int64; bits × len(cols) must fit 63).
    NULLs land in bucket 0 (co-located, never scattered)."""
    if bits * len(cols) > 63:
        raise ValueError("bits * len(cols) must fit in a signed int64")
    n_b = (1 << bits) - 1
    bucket_cols = []
    for c in cols:
        qs = [i / n_b for i in range(1, n_b + 1)]
        bounds = df.select(F.col(c).cast("double").alias("v")).approxQuantile(
            "v", qs, 0.001
        )
        # strictly increasing boundaries (width_bucket requires it);
        # collapse duplicates from low-cardinality columns
        uniq: list[float] = []
        for b in bounds:
            if not uniq or b > uniq[-1]:
                uniq.append(b)
        # bucket = #boundaries below the value: one JVM-side lambda pass
        # over the literal boundary array (Spark's width_bucket is the
        # 4-arg UNIFORM version — useless for rank buckets).  The cast
        # re-evaluates per element (Catalyst lambda semantics) but it is
        # a scalar numeric cast, not the shingles-bug class of cost.
        # NULL values compare null -> excluded -> bucket 0 (co-located).
        bounds_arr = F.array(*[F.lit(float(b)) for b in uniq])

        def _below(col_name):
            # factory, NOT a default-arg closure: a 2-arity lambda would
            # make pyspark pass the (element, index) pair
            return lambda t: F.col(col_name).cast("double") > t

        bucket_cols.append(
            F.coalesce(
                F.size(F.filter(bounds_arr, _below(c))),
                F.lit(0),
            ).cast("long")
        )
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for ci, bc in enumerate(bucket_cols):
            pos = bit * len(cols) + ci
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bc, bit).bitwiseAND(F.lit(1)), pos
                )
            )
    return z


def optimize_zorder(
    spark: SparkSession,
    index: BloomIndex,
    cols: list[str],
    bits: int = 8,
    conflict_retries: int = 0,
    where=None,
) -> tuple[BloomIndex, DeleteStats]:
    """Rewrite the index's physical layout Z-ORDERED by ``cols`` (the
    ``OPTIMIZE ... ZORDER BY`` analog): same rows, new blocks whose zone
    maps are TIGHT on every z-ordered column, so minmax prefilters on
    any of them prune to ~the matching block range instead of scanning
    blocks whose [min,max] spans the whole domain (the multi-column
    generalization of sorting; a plain sort would tighten only its
    leading column).

    Mechanics: one pass computes per-column rank-bucket boundaries
    (approxQuantile, KB-scale driver state), the Morton key is a pure
    Catalyst expression, and the rows flow ``repartitionByRange(z) →
    sortWithinPartitions(z) →`` the SAME zero-shuffle flush kernel as
    build_index — exactly ONE data shuffle for the whole rewrite, the
    theoretical minimum for a global re-clustering.  Commits through the
    maintenance protocol (op="zorder"); to the changefeed it is a
    reorganization like merge/compact — rows unchanged, nothing emitted.
    Blooms and row contents are rebuilt from the rows themselves, so
    queries are bit-identical before and after (hash-proven by the
    ``bs_zorder`` oracle).  ``cols`` should be (a subset of) the
    config's ``minmax_fields`` — tightening zone maps nobody probes
    buys nothing.

    ``where`` (a :class:`PrefilterExpr`) SCOPES the rewrite (the
    ``OPTIMIZE ... WHERE ... ZORDER BY`` analog): only matching blocks
    are re-clustered — their rows shuffle, everything else passes
    through verbatim with zero writes.  At 100 TB re-clustering runs
    per hot partition on a schedule, never the whole table; the
    z-boundaries are computed from the SCOPED rows, so each partition
    gets its own tight bucketing.  Scoped rewrites CARRY the
    deletion-vector refs (untouched blocks may be masked; the rewritten
    blocks' refs orphan harmlessly) — only the full rewrite drops them.
    """
    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: optimize_zorder(spark, ix, cols, bits, 0, where),
        )
    if index.meta().get("external", False):
        raise ValueError("optimize_zorder rewrites block data; external "
                         "indexes are zero-copy — rebuild instead")
    _refuse_shallow_clone(index, "optimize_zorder")
    from .build import STAGING_SCHEMA, stage_keys, stage_rows
    from .colmap import _map_prefilter
    from .search import scan_blocks

    if index.column_mapping():
        cols = [index.to_physical(c) for c in cols]
        where = _map_prefilter(where, index.to_physical)

    cfg = index.config
    stats = DeleteStats()
    blocks = index.blocks()
    stats.blocks_before = _manifest_count(index, "blocks")
    stats.files_before = _manifest_count(index, "files")

    scoped, untouched = blocks, None
    if where is not None:
        from ..query import compile_prefilter

        scoped = blocks.filter(compile_prefilter(where)).persist()
    version_guess, _ = mf.next_version_dir(index.root)
    tag = f"{version_guess}-z{uuid.uuid4().hex[:8]}"
    scratch = mf.staging_root(index.root, tag)
    try:
        if where is not None:
            n_scoped = scoped.count()
            if n_scoped == 0:  # nothing in scope: no empty commit
                stats.blocks_after = stats.blocks_before
                stats.files_after = stats.files_before
                return index, stats
            untouched = blocks.join(
                scoped.select("block_id"), "block_id", "left_anti"
            )
        source_columns = index.meta().get("source_columns") or []
        rows = scan_blocks(index, scoped).select(*source_columns)
        n_rows = int(
            scoped.agg(F.sum("row_count").alias("n")).collect()[0]["n"] or 0
        )
        per_task = max(1, cfg.max_block_rows * cfg.blocks_per_file)
        n_parts = max(1, -(-n_rows // per_task))
        z = zorder_column(rows, cols, bits=bits)
        ordered = (
            rows.withColumn("_bs_z", z)
            .repartitionByRange(n_parts, "_bs_z")
            .sortWithinPartitions("_bs_z")
            .drop("_bs_z")
        )
        staging = fsx.join(scratch, "staging.parquet")
        stage_rows(
            stage_keys(ordered, cfg), cfg, fsx.join(index.root, "data"),
            tag, staging,
        )
        new_blocks, new_files = seg.split_staging(
            spark.read.schema(STAGING_SCHEMA).parquet(staging)
        )
        if untouched is not None:
            # scoped rewrite: out-of-scope blocks pass through verbatim; a
            # file row survives while ANY of its blocks does (its bloom
            # over-covers the rewritten-away blocks — conservative, sound)
            cols14 = [f.name for f in new_blocks.schema.fields]
            new_blocks = new_blocks.unionByName(untouched.select(*cols14))
            live_files = untouched.select("file_id").distinct()
            new_files = new_files.unionByName(
                index.files().join(
                    F.broadcast(live_files), "file_id", "left_semi"
                )
            )
            stats.blocks_rewritten = n_scoped
        else:
            stats.blocks_rewritten = stats.blocks_before
        # a FULL rewrite rebuilds every block from a DV-MASKED scan:
        # deleted rows are physically gone, so the DV refs must NOT carry
        # (they index positions of the dead layout).  A SCOPED rewrite
        # keeps out-of-scope blocks alive — their masks must carry (the
        # rewritten blocks' refs orphan harmlessly; fold cleans them).
        return _commit(
            spark, index, new_blocks, new_files, op="zorder", stats=stats,
            carry_dvs=untouched is not None,
        )
    finally:
        if where is not None:
            scoped.unpersist()
        fsx.delete_dir(scratch)


# ---------------------------------------------------------------------------
# Row-level predicate DELETE (Delta DELETE analog, r06)
# ---------------------------------------------------------------------------


@dataclass
class DeleteStats:
    """Counters for :func:`delete_where` (``numDeletedRows`` /
    ``numRemovedFiles`` / ``numAddedFiles`` in Delta's DELETE metrics)."""

    files_before: int = 0
    files_after: int = 0
    blocks_before: int = 0
    blocks_after: int = 0
    candidate_blocks: int = 0
    blocks_rewritten: int = 0
    blocks_dropped: int = 0
    rows_deleted: int = 0
    dv_blocks: int = 0  # blocks that gained a deletion-vector delta


def _manifest_count(index: BloomIndex, name: str) -> int:
    """Manifest-table row count WITHOUT a Spark job: parquet footer sums
    (exact — segments are immutable, one row per block/file).  Falls back
    to a ``count()`` job only when the driver cannot read the root through
    pyarrow.  The mutation ops (delete/upsert/restore/dv) take their
    before/after stats through this, shaving 2-4 manifest-scan jobs per
    commit off the driver-latency path (guide §5: the driver should do
    almost no data work — these counts are O(segment footers))."""
    n = index.table_rows(name)
    if n is not None:
        return n
    df = index.files() if name == "files" else index.blocks()
    return df.count()


# The row-mutation kernel of delete_where and upsert_keys (both modes)
# and purge_deletion_vectors (PLANS.md §6): a map-only match over the
# pruned, DV-masked scan whose per-task partials union per block, then a
# map-only rewrite of each touched block from its dir; the manifest half
# commits through ``segments`` on the face its gate picks.
_POS = pa.list_(pa.int64())
_PARTIAL = pa.schema([
    ("block_id", pa.string()), ("fname", pa.string()),
    ("positions", _POS), ("n_seen", pa.int64()),
])
# per scanned block: the part files with matches and their sorted
# positions, the matched and the scanned rows (n_seen -1: not scanned, a
# purge — whose files are [None]: the block's single part file)
_TOUCHED = pa.schema([
    ("block_id", pa.string()), ("files", pa.list_(pa.string())),
    ("hits", pa.list_(_POS)), ("n_hits", pa.int64()), ("n_seen", pa.int64()),
])
_REWRITE = pa.schema([*_TOUCHED, ("data_path", pa.string()), ("dv", _POS)])
_PLAN = pa.schema([
    ("block_id", pa.string()), ("new_block_id", pa.string()),
    ("new_data_path", pa.string()), ("new_rows", pa.int64()),
    ("new_bytes", pa.int64()), ("n_deleted", pa.int64()),
])
_KEY_COLUMNS = ["block_id", "file_id", "partition_id", "data_path", "row_count"]


def _offsets(col) -> tuple[np.ndarray, np.ndarray]:
    """``(offsets, values)`` of a list column: row i is
    ``values[offsets[i]:offsets[i + 1]]``."""
    a = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    return a.offsets.to_numpy(), a.values.to_numpy(zero_copy_only=False)


def _match_partials(dv: dict):
    """Match's map body: per (block, part file) a task saw, the positions
    of its ``_bs_hit`` rows and its row count, after dropping the rows at
    the ``dv`` positions of their block (``block_id -> positions``)."""

    def body(batches):
        keys, seen, hits = ["block_id", "_bs_fname"], {}, {}
        for b in batches:
            t = pa.Table.from_batches([b])
            masked = set(dv).intersection(pc.unique(t["block_id"]).to_pylist())
            if masked:
                keep, pos = np.ones(t.num_rows, bool), t["_bs_pos"].to_numpy()
                for bid in masked:
                    rows = np.flatnonzero(pc.equal(t["block_id"], bid).to_numpy())
                    keep[rows[np.isin(pos[rows], dv[bid])]] = False
                t = t.filter(pa.array(keep))
            n = t.group_by(keys).aggregate([("_bs_pos", "count")])
            for k in zip(*(n[c].to_pylist() for c in (*keys, "_bs_pos_count"))):
                seen[k[:2]] = seen.get(k[:2], 0) + k[2]
            g = t.filter(pc.fill_null(t["_bs_hit"], False)).group_by(keys)
            g = g.aggregate([("_bs_pos", "list")])
            offs, vals = _offsets(g["_bs_pos_list"])
            for i, k in enumerate(zip(g["block_id"].to_pylist(), g["_bs_fname"].to_pylist())):
                hits.setdefault(k, []).append(vals[offs[i]:offs[i + 1]])
        none = [np.empty(0, np.int64)]
        yield pa.RecordBatch.from_pydict({
            "block_id": [k[0] for k in seen], "fname": [k[1] for k in seen],
            "positions": [np.concatenate(hits.get(k, none)) for k in seen],
            "n_seen": list(seen.values()),
        }, schema=_PARTIAL)

    return body


def _union_partials(tbl: pa.Table) -> pa.Table:
    """One ``_TOUCHED`` row per block of match's partials: positions
    union per part file, row counts sum — the driver face's union and the
    Spark face's ``applyInArrow`` body."""
    acc = {}
    offs, vals = _offsets(tbl["positions"])
    cols = (tbl[c].to_pylist() for c in ("block_id", "fname", "n_seen"))
    for i, (bid, f, n) in enumerate(zip(*cols)):
        files, seen = acc.get(bid, ({}, 0))
        acc[bid] = files, seen + n
        if offs[i + 1] > offs[i]:
            files.setdefault(f, []).append(vals[offs[i]:offs[i + 1]])
    hits = [
        {f: np.unique(np.concatenate(p)) for f, p in sorted(files.items())}
        for files, _ in acc.values()
    ]
    return pa.table({
        "block_id": list(acc),
        "files": [list(h) for h in hits],
        "hits": [list(h.values()) for h in hits],
        "n_hits": [sum(map(len, h.values())) for h in hits],
        "n_seen": [seen for _, seen in acc.values()],
    }, schema=_TOUCHED)


def _driver_candidates(blocks, surviving):
    """The candidates' manifest rows when match runs on the driver face —
    the manifest came to the driver and the candidates' rows, at 8 bytes
    a position, fit the segment gate — else None.  ``surviving`` is a
    ``(data_path, partition_id)`` list, or a manifest slice (every row)."""
    if not isinstance(blocks, pa.Table):
        return None
    if not isinstance(surviving, DataFrame):
        paths = pa.array([p for p, _ in surviving], pa.string())
        blocks = blocks.filter(pc.is_in(blocks["data_path"], value_set=paths))
    rows = pc.sum(blocks["row_count"]).as_py() or 0
    return blocks if rows * 8 <= seg.DRIVER_SEGMENT_MAX_BYTES else None


def _match(index: BloomIndex, surviving, blocks, mark, scratch: str):
    """Match the candidates ``surviving`` (``blocks``: the manifest):
    ``mark`` adds a boolean ``_bs_hit`` to their scan with positions.
    Returns the ``_TOUCHED`` rows, or None for a fully empty index.  On
    the driver face the map body masks the candidates' DV positions
    itself (no anti-join, so no shuffle, before it) and the partials
    union on the driver; else the scan is masked by the anti-join and
    the union is a grouped map written to and read from ``scratch``."""
    from .search import scan_blocks

    cand = _driver_candidates(blocks, surviving)
    data = scan_blocks(index, surviving, with_pos=True, mask=cand is None)
    if "block_id" not in data.columns:
        return None
    dv = {}
    if cand is not None and index.dvs_refs():
        dv = _dv_positions(index, cand["block_id"].to_pylist())
    hit = F.coalesce(F.col("_bs_hit"), F.lit(False)).alias("_bs_hit")
    parts = mark(data).select("block_id", "_bs_fname", "_bs_pos", hit).mapInArrow(
        _match_partials(dv), from_arrow_schema(_PARTIAL)
    )
    if cand is not None:
        return _union_partials(parts.toArrow())
    out, schema = fsx.join(scratch, "touched.parquet"), from_arrow_schema(_TOUCHED)
    parts.groupBy("block_id").applyInArrow(_union_partials, schema).write.parquet(out)
    return index.spark.read.schema(schema).parquet(out)


def _dv_positions(index: BloomIndex, ids, refs=None) -> dict:
    """``block_id -> sorted positions`` of the blocks ``ids`` in the dvs
    segments ``refs`` (default: the version's), read with Arrow."""
    from ..operators.probe import _manifest_batches

    mdir = fsx.join(index.root, "manifest")
    paths = [fsx.join(mdir, r) for r in (index.dvs_refs() if refs is None else refs)]
    want, out = pa.array(sorted(ids), pa.string()), {}
    for b in _manifest_batches(paths, ["block_id", "positions"]):
        b = b.filter(pc.is_in(b["block_id"], value_set=want))
        offs, vals = _offsets(b["positions"])
        for i, bid in enumerate(b["block_id"].to_pylist()):
            out.setdefault(bid, []).append(vals[offs[i]:offs[i + 1]])
    return {bid: np.unique(np.concatenate(p)) for bid, p in out.items()}


def _rewrite_rows(index: BloomIndex, touched, blocks):
    """Rewrite's ``_REWRITE`` input: the ``touched`` rows with each
    block's data_path and DV positions."""
    if isinstance(touched, pa.Table) and isinstance(blocks, pa.Table):
        at = pc.index_in(touched["block_id"], value_set=blocks["block_id"])
        touched = touched.append_column("data_path", blocks["data_path"].take(at))
        touched = touched.filter(pc.is_valid(at))  # as the Spark face's join
        ids = touched["block_id"].to_pylist()
        dv = _dv_positions(index, [b for b, n in zip(ids, touched["n_hits"].to_pylist()) if n])
        return touched.append_column("dv", pa.array([dv.get(b) for b in ids], _POS))
    spark = index.spark
    out = seg.frame(spark, touched).join(
        seg.frame(spark, blocks).select("block_id", "data_path"), "block_id"
    )
    dvs, dv = index.dvs(), F.lit(None).cast("array<long>").alias("dv")
    if dvs is not None:
        per_block = dvs.groupBy("block_id").agg(F.flatten(F.collect_list("positions")).alias("dv"))
        out, dv = out.join(per_block, "block_id", "left"), "dv"
    return out.select(*_TOUCHED.names, "data_path", dv)


def _rewrite_fn(index: BloomIndex, nonce: str):
    """Rewrite's map body: the ``_PLAN`` row of each ``_REWRITE`` row.
    A block without matches passes through; one whose every scanned row
    matched drops unread; any other is read part file by part file, loses
    its matched and DV'd positions and is written under a fresh dir with
    the columns a Spark scan of it returns (the committed union schema,
    null-filled and widened)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from .build import codec_kwargs
    from .search import _block_read_schema

    data_dir, codec_kw = index.data_dir, codec_kwargs(index.config)
    st = _block_read_schema(index)
    want = None if st is None else to_arrow_schema(st)

    def conform(t: pa.Table) -> pa.Table:
        if want is None:
            return t
        have = set(t.column_names)
        cols = {f.name: t[f.name] if f.name in have else pa.nulls(len(t), f.type) for f in want}
        return pa.table(cols).cast(want)

    def one(r: dict) -> dict:
        out = {**dict.fromkeys(_PLAN.names), "block_id": r["block_id"], "n_deleted": r["n_hits"]}
        if not r["n_hits"] or r["n_hits"] == r["n_seen"]:
            return {**out, "new_rows": 0 if r["n_hits"] else None}
        hits, parts, n_deleted = dict(zip(r["files"], r["hits"])), [], 0
        for uri in fsx.list_parquet_files(fsx.join(data_dir, r["data_path"])):
            t = fsx.read_parquet_file(uri)
            keep = np.ones(len(t), dtype=bool)
            pos = hits.get(posixpath.basename(uri), hits.get(None, []))
            keep[np.asarray(pos, np.int64)] = False
            n_deleted += len(t) - int(keep.sum())
            keep[np.asarray(r["dv"] or [], np.int64)] = False
            parts.append(conform(t.filter(pa.array(keep))))
        kept = pa.concat_tables(parts, promote_options="default")
        out.update(n_deleted=n_deleted, new_rows=len(kept))
        if len(kept):
            # under the block's file_id=<fid> dir: scan_blocks' huge-survivor
            # path reconstructs data_path from the hive dirs
            bid = f"{r['block_id']}-{nonce}"
            rel = fsx.join(posixpath.dirname(r["data_path"]), f"block_id={bid}")
            size = fsx.write_parquet_atomic(
                fsx.join(data_dir, rel), kept, "part-0.parquet", **codec_kw
            )
            out.update(new_block_id=bid, new_data_path=rel, new_bytes=size)
        return out

    def fn(batches):
        for b in batches:
            yield pa.RecordBatch.from_pylist([one(r) for r in b.to_pylist()], schema=_PLAN)

    return fn


def _rewrite(index: BloomIndex, rows, nonce: str) -> pa.Table:
    """Rewrite ``_REWRITE`` ``rows``: their ``_PLAN`` rows, collected.  On
    the driver face only the blocks to be read go to the Spark job, spread
    over ``defaultParallelism`` partitions."""
    fn = _rewrite_fn(index, nonce)
    if isinstance(rows, DataFrame):
        return rows.mapInArrow(fn, from_arrow_schema(_PLAN)).toArrow().cast(_PLAN)
    read = pc.and_(pc.greater(rows["n_hits"], 0), pc.not_equal(rows["n_hits"], rows["n_seen"]))
    plan = pa.Table.from_batches(fn(rows.filter(pc.invert(read)).to_batches()), _PLAN)
    todo = rows.filter(read)
    if todo.num_rows:
        spark = index.spark
        step = -(-todo.num_rows // spark.sparkContext.defaultParallelism)
        todo = spark.createDataFrame(
            pa.Table.from_batches(todo.to_batches(max_chunksize=step)), from_arrow_schema(_REWRITE)
        )
        plan = pa.concat_tables([plan, _rewrite(index, todo, nonce)])
    return plan


def _plan_stats(plan: pa.Table, stats: "DeleteStats") -> None:
    touched = pc.greater(plan["n_deleted"], 0)
    stats.candidate_blocks = plan.num_rows
    stats.rows_deleted = pc.sum(plan["n_deleted"]).as_py() or 0
    written = pc.and_(touched, pc.is_valid(plan["new_data_path"]))
    stats.blocks_rewritten = pc.sum(written).as_py() or 0
    stats.blocks_dropped = (pc.sum(touched).as_py() or 0) - stats.blocks_rewritten


def _apply_rewrites(blocks, plan: pa.Table):
    """Old block rows -> post-rewrite block rows: untouched rows pass
    through verbatim, rewritten blocks re-point (id/path/rows/bytes;
    blooms and zone maps carried — conservative supersets), fully-deleted
    blocks leave.  One Arrow body for both faces: the plan is
    manifest-sized and rides the Spark face's closure."""
    changed = plan.filter(pc.greater(plan["n_deleted"], 0))
    repoint = (
        ("block_id", "new_block_id"), ("data_path", "new_data_path"),
        ("row_count", "new_rows"), ("byte_size", "new_bytes"),
    )

    def body(t: pa.Table) -> pa.Table:
        # one chunk a column: pyarrow 16's coalesce of chunked arrays whose
        # chunks do not line up returns zeros for some rows, and the rows
        # of several segments, concatenated, need not line up
        t = t.combine_chunks()
        at = pc.index_in(t["block_id"], value_set=changed["block_id"])
        gone = pc.fill_null(pc.equal(changed["new_rows"].take(at), 0), False)
        for old, new in repoint:
            i = t.schema.get_field_index(old)
            t = t.set_column(i, t.field(i), pc.coalesce(changed[new].take(at), t[old]))
        return t.filter(pc.invert(gone))

    if isinstance(blocks, pa.Table):
        return body(blocks).sort_by("partition_id")
    return blocks.mapInArrow(
        lambda it: (b for t in it for b in body(pa.Table.from_batches([t])).to_batches()),
        blocks.schema,
    )


def _commit_rewrites(
    spark: SparkSession, index: BloomIndex, blocks, plan: pa.Table, op: str,
    stats: "DeleteStats", staged: tuple | None = None, **kw,
):
    """Commit a rewrite ``plan`` over the manifest ``blocks`` (plus an
    upsert's ``staged`` (blocks, files) inserts).

    Only the parent's blocks segments that hold a changed block are
    copied: their rows, rewritten, and the staged block rows are written
    as slices (:func:`segments.write_slices`); every other blocks segment
    stays referenced.  The files table is the parent's rows whose file_id
    a block keeps: while no block dropped that is every row, so the
    parent's files segments stay referenced (the staged files append as
    one more) instead of being rewritten."""
    changed = plan.filter(pc.greater(plan["n_deleted"], 0))["block_id"].combine_chunks()
    refs, paths = index.table_refs()["blocks"], index.table_paths("blocks")
    hit = _segments_holding(spark, paths, changed, isinstance(blocks, pa.Table))
    copied = [p for p, h in zip(paths, hit) if h]
    kept = [p for p, h in zip(paths, hit) if not h]
    new_blocks = _apply_rewrites(seg.read(spark, copied, mf.BLOCKS_SCHEMA), plan) if copied else None
    new_files = None if staged is None else staged[1]
    if staged is not None:
        new_blocks = staged[0] if new_blocks is None else seg.union(spark, new_blocks, staged[0])
    kw["kept_blocks"] = [r for r, h in zip(refs, hit) if not h]
    if stats.blocks_dropped:
        files = seg.read(spark, index.table_paths("files"), mf.FILES_SCHEMA)
        live = (
            new_blocks.select(["file_id"]) if isinstance(new_blocks, pa.Table)
            else new_blocks.select("file_id")
        )
        if kept:
            live = seg.union(spark, live, seg.read(spark, kept, mf.BLOCKS_SCHEMA, ["file_id"]))
        if isinstance(files, pa.Table) and isinstance(live, pa.Table):
            files = files.filter(pc.is_in(files["file_id"], value_set=pc.unique(live["file_id"])))
        else:
            live = seg.frame(spark, live).distinct()
            files = seg.frame(spark, files).join(F.broadcast(live), "file_id", "left_semi")
        new_files = files if new_files is None else seg.union(spark, files, new_files)
        return _commit(spark, index, new_blocks, new_files, op, stats, **kw)
    return _commit(spark, index, new_blocks, new_files, op, stats, carry_files=True, **kw)


def _segments_holding(
    spark: SparkSession, paths: list[str], ids: pa.Array, driver: bool,
) -> list[bool]:
    """Whether each blocks segment dir of ``paths`` holds a block of
    ``ids``: a ``block_id`` read per dir on the driver, else one Spark
    job over the dirs tagged by position."""
    if len(ids) == 0:
        return [False] * len(paths)
    if driver:
        return [
            bool(pc.any(pc.is_in(
                fsx.read_parquet_dir(p, columns=["block_id"])["block_id"], value_set=ids
            )).as_py())
            for p in paths
        ]
    tagged = functools.reduce(DataFrame.unionByName, [
        spark.read.schema(mf.BLOCKS_SCHEMA).parquet(p).select(F.lit(i).alias("_seg"), "block_id")
        for i, p in enumerate(paths)
    ])
    keys = F.broadcast(spark.createDataFrame(pa.table({"block_id": ids})))
    hit = {r[0] for r in tagged.join(keys, "block_id", "left_semi").select("_seg").distinct().collect()}
    return [i in hit for i in range(len(paths))]


def _write_dv_delta(
    index: BloomIndex, touched, blocks, version_guess: str, seg_dir: str,
    op: str, inserts: dict | None = None,
) -> tuple[int, int]:
    """Write match's ``touched`` rows as ONE deletion-vector delta segment
    (``dvs`` + the op's ``lineage`` rows; a dv upsert's staged ``inserts``
    tables ride along, their lineage after the delta's) and return
    ``(rows_deleted, dv_blocks)``; nothing is written when nothing
    matched.  ``touched`` comes from a MASKED scan, so deltas are
    disjoint and a block's mask is the union of its rows.  data_path,
    file_id and partition_id come from the manifest ``blocks`` (a
    metadata-only merge keeps a block's ORIGINAL file_id in its dir)."""
    if isinstance(touched, pa.Table) and isinstance(blocks, pa.Table):
        t = touched.filter(pc.greater(touched["n_hits"], 0))
        nd, nb = pc.sum(t["n_hits"]).as_py() or 0, t.num_rows
        nf = pc.max(pc.list_value_length(t["files"])).as_py() or 0
        m = blocks.take(pc.index_in(t["block_id"], value_set=blocks["block_id"]))
        dvs = pa.table({
            "block_id": t["block_id"], "data_path": m["data_path"],
            "positions": pc.list_flatten(t["hits"]), "dv_count": t["n_hits"],
        })
        rows = pc.negate(t["n_hits"])
    else:
        keys = seg.frame(index.spark, blocks).select(*_KEY_COLUMNS[:4])
        m = seg.frame(index.spark, touched).filter(F.col("n_hits") > 0).join(keys, "block_id")
        nd, nb, nf = (
            int(v or 0)
            for v in m.agg(F.sum("n_hits"), F.count(F.lit(1)), F.max(F.size("files"))).first()
        )
        dvs = m.select(
            "block_id", "data_path", F.col("hits")[0].alias("positions"),
            F.col("n_hits").alias("dv_count"),
        )
        rows = -F.col("n_hits")
    if nd == 0:
        return 0, 0
    if nf > 1:
        raise RuntimeError(
            "deletion vectors index file-relative row positions and "
            "require single-part block dirs; a block dir with multiple "
            "parquet parts was found — engine-written blocks are always "
            "single-part, so this index was modified out-of-band.  Use "
            "the rewrite path (use_deletion_vectors=False)"
        )
    lineage = seg.lineage_of(m, version_guess, op, rows=rows, tokens=0)
    if inserts:
        lineage = seg.union(index.spark, lineage, inserts["lineage"])
    seg.write_segment(seg_dir, {**(inserts or {}), "dvs": dvs, "lineage": lineage})
    return nd, nb


def _scratch(index: BloomIndex) -> str:
    """A staging dir for a Spark-face match, named without the commit
    nonce source ``uuid`` (one draw per commit, seeded in parity runs)."""
    return mf.staging_root(index.root, f"m{os.urandom(6).hex()}")


def delete_where(
    spark: SparkSession,
    index: BloomIndex,
    query,
    conflict_retries: int = 0,
    use_deletion_vectors: bool = False,
) -> tuple[BloomIndex, DeleteStats]:
    """Delete every row matching ``query`` (the same :class:`Query` object
    ``search`` takes — the ``DELETE FROM ... WHERE`` analog), by rewriting
    only the blocks that actually contain matches.

    Scale shape: the bloom hierarchy prunes to candidate blocks, and one
    map-only job matches the candidates' rows (reading only the verify
    columns), its per-task partials unioned per block; one more map job
    rewrites each touched block from its dir — no shuffle.  Blocks
    without a match pass through untouched, fully-matched blocks leave
    the manifest unread, partially-matched blocks are rewritten under a
    fresh block dir (immutable dirs — time travel and lagging changefeed
    consumers keep reading the old one until vacuum).  Rewritten blocks
    KEEP their blooms/zone maps (conservative supersets: pruning stays
    sound, deletion costs no re-tokenization; ``compact_blocks`` or a
    rebuild re-tightens them).  The manifest half runs on the driver under
    the segment gate.

    Commits via the maintenance protocol (``expected=`` snapshot,
    ``CommitConflict`` on interleaved commits, ``conflict_retries`` to
    re-plan).  A match-nothing delete commits NOTHING and returns the
    input handle.  To a changefeed the commit is delete-the-old-block +
    insert-the-rewritten-block events (``change_events`` required
    mid-feed); plain feeds refuse, same as expire/overwrite.  The Go
    reference has TTL/partition expiry only (bloom_tree_engine.go:1374+).

    ``use_deletion_vectors=True`` switches to MERGE-ON-READ (the Delta
    deletion-vector analog): the matched row POSITIONS become an inline
    ``dvs`` manifest delta (``sources/manifest.py::DVS_SCHEMA``) that every
    read path masks out — O(matched positions) manifest bytes, ZERO data
    bytes; reads pay the mask until ``compact_blocks``/``optimize_zorder``/
    ``purge_deletion_vectors`` purges it.  DV deletes also work on SHALLOW
    CLONES — the one row-level mutation a zero-copy fork supports.
    """
    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: delete_where(spark, ix, query, 0, use_deletion_vectors),
        )
    if index.meta().get("external", False):
        raise ValueError(
            "delete_where rewrites block data and is not applicable to a "
            "zero-copy external index (the source files are not ours to "
            "rewrite); use expire_blocks for block-granular expiry"
        )
    from .colmap import translate_query
    from .search import candidate_blocks, verify_predicate

    query = translate_query(index, query)  # logical -> physical names
    if not use_deletion_vectors:
        _refuse_shallow_clone(index, "delete_where")
    stats = DeleteStats()
    stats.blocks_before = stats.blocks_after = _manifest_count(index, "blocks")
    stats.files_before = stats.files_after = _manifest_count(index, "files")
    surviving = candidate_blocks(index, query)

    def mark(data: DataFrame) -> DataFrame:
        return data.withColumn("_bs_hit", verify_predicate(index, query, data.columns))

    if use_deletion_vectors:
        return _delete_where_dv(spark, index, surviving, mark, stats)
    nonce = f"d{uuid.uuid4().hex[:8]}"
    blocks = seg.read(spark, index.table_paths("blocks"), mf.BLOCKS_SCHEMA)
    scratch = _scratch(index)
    try:
        touched = _match(index, surviving, blocks, mark, scratch)
        if touched is None:
            return index, stats  # fully-empty index: nothing can match
        plan = _rewrite(index, _rewrite_rows(index, touched, blocks), nonce)
    finally:
        fsx.delete_dir(scratch)
    _plan_stats(plan, stats)
    if stats.rows_deleted == 0:
        return index, stats
    return _commit_rewrites(spark, index, blocks, plan, "delete", stats)


def _delete_where_dv(
    spark: SparkSession, index: BloomIndex, surviving, mark, stats: DeleteStats,
) -> tuple[BloomIndex, DeleteStats]:
    """Merge-on-read DELETE (``delete_where(use_deletion_vectors=True)``):
    the rewrite path's match — over DV-masked rows, so an already-deleted
    position can never re-match, deltas are disjoint and their union is
    the live mask — whose positions become a ``dvs`` delta.  The commit
    references the parent's blocks/files segments verbatim and appends ONE
    dvs segment + a lineage delta: zero data bytes move."""
    version_guess, _ = mf.next_version_dir(index.root)
    seg_name = f"{version_guess}-delete_dv-{uuid.uuid4().hex[:8]}"
    seg_dir = mf.segment_dir(index.root, seg_name)
    blocks = seg.read(spark, index.table_paths("blocks"), mf.BLOCKS_SCHEMA, _KEY_COLUMNS)
    scratch = _scratch(index)
    try:
        touched = _match(index, surviving, blocks, mark, scratch)
        nd = nb = 0
        if touched is not None:  # else a fully empty index
            nd, nb = _write_dv_delta(
                index, touched, blocks, version_guess, seg_dir, "delete_dv"
            )
    finally:
        fsx.delete_dir(scratch)
    stats.rows_deleted = nd
    stats.dv_blocks = stats.candidate_blocks = nb
    if nd == 0:
        return index, stats

    # commit-with-REBASE loop: a dv delta is pure metadata, so most races
    # don't require the full CommitConflict re-plan (re-prune + re-scan) —
    # see _rebase_dv_delta for the soundness rule.  An un-rebasable race
    # (a rewrite moved our rows) re-raises for the caller's
    # conflict_retries re-plan.
    base, cur_seg = index, seg_name
    for _ in range(6):
        try:
            return mf.commit_child(base, "delete_dv", tables={
                "lineage": [*base.table_refs()["lineage"],
                            mf.segment_ref(cur_seg, "lineage")],
                "dvs": [*base.dvs_refs(), mf.segment_ref(cur_seg, "dvs")],
            }), stats
        except mf.CommitConflict:
            fresh = mf.BloomIndex.load(spark, index.root)
            rb = _rebase_dv_delta(base, fresh, cur_seg)
            if rb is None:
                raise  # un-rebasable: outer conflict_retries re-plans
            cur_seg, nd2, nb2 = rb
            stats.rows_deleted, stats.dv_blocks = nd2, nb2
            stats.candidate_blocks = nb2
            if nd2 == 0:
                # every position we matched was deleted by the racers:
                # our delete's effect is already present
                return fresh, stats
            base = fresh
    raise mf.CommitConflict(
        f"dv delete at {index.root} lost {6} consecutive commit races; "
        "re-plan from CURRENT (conflict_retries) or reduce writer fan-in"
    )


def _rebase_dv_delta(base: BloomIndex, fresh: BloomIndex, seg_name: str):
    """Re-target an already-minted dv delta (planned against ``base``) at
    ``fresh`` after losing a commit race — WITHOUT re-scanning data.

    Sound iff every masked block is still live in ``fresh`` under the
    SAME data dir: the matched rows still sit at the same file-relative
    positions (the race was an append, a dv delete or a metadata-only
    merge).  Positions the racers' new dvs segments already mask are
    SUBTRACTED (our delete serializes after theirs; deltas stay
    disjoint); rows they appended are not re-matched (it serializes
    before an append — snapshot isolation, as the rewrite path).  Any
    rewrite/expire/restore/fold of our blocks returns None: the caller
    re-plans.  Reads the delta segments and our blocks' fresh manifest
    rows with Arrow on the driver.  Returns ``(new_seg_name,
    rows_deleted, dv_blocks)`` with a fresh segment written (the old one
    is vacuum-reclaimable garbage), or None when un-rebasable."""
    from ..operators.probe import _manifest_batches

    base_dvs = set(base.dvs_refs())
    fresh_dvs = fresh.dvs_refs()
    if base_dvs - set(fresh_dvs):
        return None  # fold/restore rewrote the dvs ref list wholesale
    mine = fsx.read_parquet_dir(fsx.join(mf.segment_dir(base.root, seg_name), "dvs.parquet"))
    ids = mine["block_id"].to_pylist()
    want = pa.array(ids, pa.string())
    live = pa.Table.from_batches(
        [b.filter(pc.is_in(b["block_id"], value_set=want))
         for b in _manifest_batches(fresh.table_paths("blocks"), _KEY_COLUMNS)],
        pa.schema([(c, pa.int64() if c == "row_count" else pa.string()) for c in _KEY_COLUMNS]),
    )
    at = pc.index_in(want, value_set=live["block_id"])
    if at.null_count or not pc.all(pc.equal(live["data_path"].take(at), mine["data_path"])).as_py():
        return None  # a block left the manifest or moved dirs
    theirs = _dv_positions(fresh, ids, [r for r in fresh_dvs if r not in base_dvs])
    offs, vals = _offsets(mine["positions"])
    touched = _union_partials(pa.table({
        "block_id": ids, "fname": pa.nulls(len(ids), pa.string()),
        "positions": [
            np.setdiff1d(vals[offs[i]:offs[i + 1]], theirs.get(b, [])) for i, b in enumerate(ids)
        ],
        "n_seen": [-1] * len(ids),
    }, schema=_PARTIAL))
    version_guess, _ = mf.next_version_dir(base.root)
    new_seg = f"{version_guess}-delete_dv-{uuid.uuid4().hex[:8]}"
    nd, nb = _write_dv_delta(
        fresh, touched, live, version_guess, mf.segment_dir(base.root, new_seg), "delete_dv"
    )
    return new_seg, nd, nb


def add_constraint(
    spark: SparkSession,
    index: BloomIndex,
    name: str,
    expr: str,
    action: str = "fail",
    validate: bool = True,
    conflict_retries: int = 0,
) -> BloomIndex:
    """Add a CHECK constraint (``ALTER TABLE ADD CONSTRAINT`` analog —
    see ``operators/constraints.py`` for semantics/actions).  Every later
    ingest (append, upsert, CDC apply, streaming) enforces it in the
    staging pass.  ``validate=True`` (fail-action only, the Delta
    contract) first proves the EXISTING rows satisfy the expression —
    one bounded scan (``limit(1)`` on violations; Catalyst stops early) —
    so a committed fail constraint is a table-wide invariant, not just a
    forward gate.  Metadata-only commit; works on shallow clones."""
    from ..operators.constraints import (
        ConstraintViolation,
        normalize_constraints,
        violation_pred,
    )

    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: add_constraint(spark, ix, name, expr, action,
                                      validate, 0),
        )
    cons = dict(normalize_constraints(index.meta().get("constraints")))
    if name in cons:
        raise ValueError(
            f"constraint {name!r} already exists (CHECK "
            f"{cons[name]['expr']!r}); drop_constraint first"
        )
    new = normalize_constraints({name: {"expr": expr, "action": action}})
    if validate and new[name]["action"] == "fail":
        from .search import scan_blocks

        bad = (
            scan_blocks(index, index.blocks())
            .filter(violation_pred(expr))
            .limit(1)
            .count()
        )
        if bad:
            raise ConstraintViolation(
                f"cannot add CHECK constraint {name!r}: existing rows "
                f"violate {expr!r} — delete/fix them first, or add it "
                "with action='drop'/'warn' (forward-only gate)"
            )
    cons.update(new)
    # metadata-only: every parent segment is referenced verbatim
    return mf.commit_child(
        index, f"add_constraint {name}", meta={"constraints": cons}
    )


def drop_constraint(
    spark: SparkSession,
    index: BloomIndex,
    name: str,
    conflict_retries: int = 0,
) -> BloomIndex:
    """Remove a CHECK constraint (``ALTER TABLE DROP CONSTRAINT``
    analog).  Metadata-only commit."""
    from ..operators.constraints import normalize_constraints

    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: drop_constraint(spark, ix, name, 0),
        )
    cons = dict(normalize_constraints(index.meta().get("constraints")))
    if name not in cons:
        raise ValueError(
            f"no constraint named {name!r}; have {sorted(cons)}"
        )
    cons.pop(name)
    return mf.commit_child(
        index, f"drop_constraint {name}", meta={"constraints": cons or None}
    )


def purge_deletion_vectors(
    spark: SparkSession,
    index: BloomIndex,
    conflict_retries: int = 0,
) -> tuple[BloomIndex, DeleteStats]:
    """Rewrite ONLY the blocks that carry deletion vectors, materializing
    their live rows under fresh immutable dirs and dropping every ``dvs``
    ref (the Delta ``REORG TABLE ... APPLY (PURGE)`` analog) — targeted
    merge-on-read -> copy-on-write conversion.

    Why a dedicated op: ``compact_blocks`` purges only blocks small
    enough to join a merge group and ``optimize_zorder`` rewrites the
    WHOLE table — a full-sized block whose mask has grown heavy is
    reached by neither.  Cost shape: the row-mutation kernel's rewrite
    job alone, over the DV'd blocks with their masks as the positions to
    drop — reads/writes exactly their bytes; other blocks pass through
    verbatim.  Blooms/zone maps are carried (conservative supersets); a
    fully-masked block drops from the manifest.  To the changefeed the
    commit is a reorganization (the purged rows were already dead):
    nothing is emitted, plain feeds pass.  Shallow clones refuse (their
    block dirs belong to the source)."""
    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: purge_deletion_vectors(spark, ix, 0),
        )
    stats = DeleteStats()
    stats.blocks_before = _manifest_count(index, "blocks")
    stats.files_before = stats.files_after = _manifest_count(index, "files")
    if not index.dvs_refs():
        stats.blocks_after = stats.blocks_before
        return index, stats
    _refuse_shallow_clone(index, "purge_deletion_vectors")

    # the rewrite alone, with each DV'd block's mask as the positions to
    # drop: the dvs rows are its partials (not scanned: n_seen -1, and one
    # part file per block); rows of blocks a rewrite already dropped join
    # no live block and fall away
    nonce = f"d{uuid.uuid4().hex[:8]}"
    blocks = seg.read(spark, index.table_paths("blocks"), mf.BLOCKS_SCHEMA)
    dvs = seg.read(spark, index.table_paths("dvs"), mf.DVS_SCHEMA, ["block_id", "positions"])
    if isinstance(dvs, pa.Table):
        n = dvs.num_rows
        parts = dvs.append_column("fname", pa.nulls(n, pa.string()))
        touched = _union_partials(parts.append_column("n_seen", pa.array([-1] * n, pa.int64())))
    else:
        parts = dvs.select(
            "block_id", F.lit(None).cast("string").alias("fname"), "positions",
            F.lit(-1).cast("long").alias("n_seen"),
        )
        touched = parts.groupBy("block_id").applyInArrow(
            _union_partials, from_arrow_schema(_TOUCHED)
        )
    rows = _rewrite_rows(index, touched, blocks)
    plan = _rewrite(index, rows, nonce)
    _plan_stats(plan, stats)
    if stats.rows_deleted == 0:  # orphan-only masks: nothing to purge
        stats.blocks_after = stats.blocks_before
        return index, stats
    return _commit_rewrites(spark, index, blocks, plan, "purge_dv", stats, carry_dvs=False)


def _distinct_keys(keys: DataFrame, cap: int) -> pa.Array | None:
    """The distinct values of ``keys``' one column in one Spark job, or
    None for a nested key type (left to a Spark ``distinct``).  Each task
    sends at most ``cap + 1`` of its distinct keys, so a result longer
    than ``cap`` means only "more than ``cap``".  Floats compare the way
    Spark's equality does: -0.0 is 0.0 and NaN is one value."""
    if not isinstance(keys.schema[0].dataType, AtomicType):
        return None

    def distinct(a):
        if pa.types.is_floating(a.type):
            a = pc.if_else(pc.equal(a, 0), pa.scalar(0, a.type), a)
        return pc.unique(a)

    def body(batches):
        seen = None
        for b in batches:
            col = b.column(0)
            seen = distinct(col if seen is None else pa.concat_arrays([seen, col]))
            if len(seen) > cap:
                break
        if seen is not None:
            yield pa.RecordBatch.from_arrays([seen[:cap + 1]], names=["_bs_key"])

    return distinct(keys.mapInArrow(body, keys.schema).toArrow()["_bs_key"].combine_chunks())


def _key_prune_query(index: BloomIndex, key_field: str, values: list):
    """Bloom prune tree for an exact key-IN-set match, or None when the
    blooms cannot cover it.  Sound because a block containing a row with
    ``row[key] == v`` indexed EVERY token of v's rendered form — prune =
    OR over keys of AND over each key's tokens.  Requires the key field
    indexed, every value non-null, and every value to yield >= 1 token
    under the index's tokenizer (an un-tokenizable value could hide in
    any block)."""
    from ..query import And as qAnd
    from ..query import FieldToken as qFieldToken
    from ..query import Or as qOr
    from ..query import Query as qQuery
    from ..tokenizer import get_tokenizer

    from ..tokenizer import go_format_value

    cfg = index.config
    if cfg.json_col is not None or key_field not in (cfg.indexed_fields or ()):
        return None
    tok = get_tokenizer(cfg.tokenizer)
    terms = []
    for v in values:
        # only types whose BUILD-side rendering we can reproduce exactly
        # may prune (go_format_value is the scalar twin of the build's
        # stringify: 30.0 -> "30", True -> "true"); anything else — dates,
        # decimals, None — falls back to the always-sound full scan.  A
        # wrong rendering here would wrongly DISQUALIFY blocks and
        # silently skip matching rows.
        if v is None or not isinstance(v, (str, bool, int, float)):
            return None
        stxt = v if isinstance(v, str) else go_format_value(v)
        toks = list(tok.value_fn(stxt))
        if not toks:
            return None
        terms.append(qAnd(*[qFieldToken(key_field, t) for t in toks]))
    return qQuery(bloom=qOr(*terms))


def upsert_keys(
    spark: SparkSession,
    index: BloomIndex,
    source_df: DataFrame,
    key_field: str,
    conflict_retries: int = 0,
    max_pruned_keys: int = 256,
    delete_keys_df: DataFrame | None = None,
    meta_extra: dict | None = None,
    use_deletion_vectors: bool = False,
) -> tuple[BloomIndex, DeleteStats]:
    """Key-based upsert in ONE commit (the ``MERGE INTO ... WHEN MATCHED
    THEN UPDATE/DELETE+INSERT`` analog, full-row replacement semantics):
    every index row whose ``key_field`` equals some source row's key is
    deleted, then every source row is inserted — atomically, as a single
    manifest version (no window where the keys are missing).

    Scale shape: one job collects the distinct keys (each task sends at
    most ``max_pruned_keys + 1``).  When the batch is that small and the
    key field is bloom-indexed, candidate blocks come from the bloom
    hierarchy — a CDC-apply upsert of K keys reads only the blocks whose
    blooms admit one of them, which Delta's MERGE (file-stats pruning
    only) cannot do — and the key match is a broadcast join; larger
    batches scan every block with a shuffle join.  Matching is EXACT
    column equality (a NULL key never matches); blooms only prune.  The
    match/rewrite kernel, immutability, bloom/zone-map conservatism,
    commit protocol and CDC contract (delete-the-removed +
    insert-the-added, ``change_events`` required mid-feed) are shared
    with ``delete_where``.  Returns ``(index, DeleteStats)`` —
    ``rows_deleted`` counts replaced rows.

    ``delete_keys_df`` (one ``key_field`` column) names extra keys to
    delete WITHOUT re-inserting — the CDC-apply primitive: one commit
    carries a micro-batch's upserts AND deletes.  A batch that matches
    nothing and inserts nothing commits NOTHING.  ``meta_extra`` keys
    land in the commit's meta.json (e.g. a streaming replay watermark).

    ``use_deletion_vectors=True`` makes the DELETE half merge-on-read
    (the Delta ``MERGE ... WITH DVs`` analog): matched rows become a
    ``dvs`` position delta, and the commit is APPEND-SHAPED — parent
    blocks/files segments referenced verbatim plus ONE new segment
    (staged inserts + dv delta + lineage): O(batch) manifest bytes per
    CDC-apply commit and ZERO old-block data bytes.  The changefeed
    classifies it as dv-deletes + inserts (``change_events`` required
    when keys matched)."""
    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: upsert_keys(spark, ix, source_df, key_field, 0,
                                   max_pruned_keys, delete_keys_df,
                                   meta_extra, use_deletion_vectors),
        )
    # MATERIALIZE the merge source: its plan is otherwise executed twice
    # (the key collect, then the insert staging pass) — for a CDC source
    # that is itself a query, twice the cost; for a non-deterministic one,
    # a delete/insert key mismatch.  Delta MERGE materializes its source
    # for the same two reasons.  MEMORY_AND_DISK: batches are
    # CDC-apply-sized by contract, and spill keeps big ones correct.
    from pyspark.storagelevel import StorageLevel

    if source_df.storageLevel == StorageLevel.NONE:
        source_df = source_df.persist(StorageLevel.MEMORY_AND_DISK)
        _persisted = source_df
    else:
        _persisted = None  # caller already persisted: leave lifecycle alone
    try:
        return _upsert_keys_impl(
            spark, index, source_df, key_field, max_pruned_keys,
            delete_keys_df, meta_extra, use_deletion_vectors,
        )
    finally:
        if _persisted is not None:
            _persisted.unpersist()


def _upsert_keys_impl(
    spark: SparkSession,
    index: BloomIndex,
    source_df: DataFrame,
    key_field: str,
    max_pruned_keys: int,
    delete_keys_df: DataFrame | None,
    meta_extra: dict | None,
    use_deletion_vectors: bool,
) -> tuple[BloomIndex, DeleteStats]:
    if index.meta().get("external", False):
        raise ValueError(
            "upsert_keys rewrites block data and is not applicable to a "
            "zero-copy external index"
        )
    _refuse_shallow_clone(index, "upsert_keys")
    cfg = index.config
    mapping = index.column_mapping()
    if mapping:
        # MERGE sources speak LOGICAL names; everything staged/compared is
        # physical.  Same discipline as append (plans/build.py): whole-row
        # replacement means the logical sets must match exactly, so
        # unknown logicals get the append's guidance message.
        unknown = sorted(c for c in source_df.columns if c not in mapping)
        absent = sorted(l for l in mapping if l not in source_df.columns)
        if unknown or absent:
            raise ValueError(
                "upsert source columns do not match the index's logical "
                f"schema {sorted(mapping)} (missing: {absent}, unknown: "
                f"{unknown}) — renamed columns must use their CURRENT "
                "logical names; upsert replaces whole rows"
            )
        source_df = source_df.select(
            *[F.col(c).alias(mapping[c]) for c in source_df.columns]
        )
        if key_field not in mapping:
            raise ValueError(
                f"key field {key_field!r} is not a logical column; have "
                f"{sorted(mapping)}"
            )
        if delete_keys_df is not None:
            delete_keys_df = delete_keys_df.select(
                F.col(key_field).alias(mapping[key_field])
            )
        key_field = mapping[key_field]
    src_cols = list(source_df.columns)
    idx_cols = index.meta().get("source_columns")
    if idx_cols is not None and set(idx_cols) != set(src_cols):
        raise ValueError(
            "upsert source columns do not match the index's "
            f"(missing: {sorted(set(idx_cols) - set(src_cols))}, new: "
            f"{sorted(set(src_cols) - set(idx_cols))}) — upsert replaces "
            "whole rows; align the columns (for add-column evolution use "
            "delete_where + a merge_schema append)"
        )
    if key_field not in src_cols:
        raise ValueError(f"key field {key_field!r} not in source columns")
    from ..operators.constraints import (
        collect_violations,
        enforce_constraints,
        normalize_constraints,
        raise_on_failures,
    )
    from .build import STAGING_SCHEMA, stage_keys, stage_rows
    from .search import candidate_blocks

    # the table's CHECK constraints gate the inserts; a drop-action
    # violating row also loses its DELETE (its key comes from the
    # filtered frame — a garbage row must not take out the good row it
    # would have replaced).  The keys branch is filter-only: its bounded
    # collect must not consume the staging job's Observation.
    cons = normalize_constraints(index.meta().get("constraints"))
    cons_obs = None
    keys_src = source_df
    if cons:
        keys_src, _ = enforce_constraints(source_df, cons, observe=False)
        source_df, cons_obs = enforce_constraints(source_df, cons)

    stats = DeleteStats()
    stats.blocks_before = _manifest_count(index, "blocks")
    stats.files_before = _manifest_count(index, "files")

    keys = keys_src.select(F.col(key_field).alias("_bs_key"))
    if delete_keys_df is not None:
        if list(delete_keys_df.columns) != [key_field]:
            raise ValueError(
                f"delete_keys_df must have exactly one column {key_field!r}"
            )
        keys = keys.unionByName(
            delete_keys_df.select(F.col(key_field).alias("_bs_key"))
        )
    batch = _distinct_keys(keys, max_pruned_keys)
    pruned = batch is not None and len(batch) <= max_pruned_keys
    prune_q = (
        _key_prune_query(index, key_field, batch.to_pylist()) if pruned else None
    )
    surviving = (
        candidate_blocks(index, prune_q) if prune_q is not None else index.blocks()
    )
    version_guess, _ = mf.next_version_dir(index.root)
    tag = f"{version_guess}-u{uuid.uuid4().hex[:8]}"
    scratch = mf.staging_root(index.root, tag)
    blocks = seg.read(
        spark, index.table_paths("blocks"), mf.BLOCKS_SCHEMA,
        _KEY_COLUMNS if use_deletion_vectors else None,
    )
    # exact key match as a join marker (broadcast for small key batches);
    # NULL keys never match (join semantics)
    if pruned:
        kside = F.broadcast(spark.createDataFrame(pa.table({"_bs_key": batch}), keys.schema))
    else:
        kside = keys.distinct()

    def mark(data: DataFrame) -> DataFrame:
        joined = data.join(kside, data[key_field] == kside["_bs_key"], "left")
        return joined.withColumn("_bs_hit", F.col("_bs_key").isNotNull())

    # stage the source rows through the SAME zero-shuffle flush kernel
    # as build_index (new block dirs + completed per-task file rows),
    # into a scratch dir so downstream actions never re-run the
    # side-effecting map.  The staging job needs nothing the match
    # computes, so with a pruned key batch it runs beside the match and
    # the rewrite: the match then reads the collected keys, not the
    # source, and the key collect has read every source row, so the
    # staging job reads the persisted copy.
    staging = fsx.join(scratch, "staging.parquet")

    def stage() -> None:
        stage_rows(stage_keys(source_df, cfg), cfg, fsx.join(index.root, "data"), tag, staging)

    pool = ThreadPoolExecutor(max_workers=1)
    staged_job = pool.submit(inheritable_thread_target(spark)(stage)) if pruned else None
    try:
        touched = _match(index, surviving, blocks, mark, scratch)
        if not use_deletion_vectors:
            nonce = f"d{uuid.uuid4().hex[:8]}"
            plan = pa.table({c: [] for c in _PLAN.names}, schema=_PLAN)
            if touched is not None:
                plan = _rewrite(index, _rewrite_rows(index, touched, blocks), nonce)
            _plan_stats(plan, stats)

        if staged_job is None:
            stage()
        else:
            staged_job.result()
        if cons:
            # counters rode the staging job; fail-action violations abort
            # BEFORE commit (scratch stays unreachable)
            viol = collect_violations(cons_obs, cons)
            raise_on_failures(viol, cons)
            if viol:
                meta_extra = {**(meta_extra or {}), "constraint_violations": viol}
        # staging footer rows: file rows only ever accompany block rows, so
        # zero total rows ⟺ zero staged blocks — no Spark job unless the
        # driver cannot read the staging dir
        staged_rows = fsx.driver_rows(staging)
        if staged_rows is None:
            staged_rows = (
                spark.read.schema(STAGING_SCHEMA).parquet(staging)
                .limit(1).count()
            )
        staged_empty = staged_rows == 0

        if use_deletion_vectors:
            # merge-on-read delete half: matched positions -> ONE dvs delta
            # (shared minting kernel with delete_where's dv path), written
            # with the staged inserts as one APPEND-SHAPED segment
            seg_name = f"{version_guess}-upsert_dv-{uuid.uuid4().hex[:8]}"
            seg_dir = mf.segment_dir(index.root, seg_name)
            staged_blocks, staged_files = seg.split_staging(
                seg.read(spark, staging, STAGING_SCHEMA)
            )
            inserts = {
                "blocks": staged_blocks,
                "files": staged_files,
                "lineage": seg.lineage_of(
                    staged_blocks, version_guess, "upsert_dv"
                ),
            }
            nd = nb = 0
            if touched is not None:
                nd, nb = _write_dv_delta(
                    index, touched, blocks, version_guess, seg_dir, "upsert_dv", inserts
                )
            stats.rows_deleted = nd
            stats.dv_blocks = stats.candidate_blocks = nb
        if stats.rows_deleted == 0 and staged_empty:
            # nothing matched, nothing to insert: commit NOTHING (a CDC
            # stream's empty/irrelevant micro-batch must not churn versions)
            stats.blocks_after = stats.blocks_before
            stats.files_after = stats.files_before
            return index, stats

        if use_deletion_vectors:
            # APPEND-SHAPED commit: parent blocks/files referenced verbatim
            # + this one segment (staged inserts, the dv delta, both
            # lineages) — O(batch) manifest bytes, zero old-block data bytes
            if nd == 0:
                seg.write_segment(seg_dir, inserts)  # else the mint wrote them
            refs = index.table_refs()
            tables = {
                t: [*refs[t], mf.segment_ref(seg_name, t)] for t in mf.TABLES
            }
            if nd:
                tables["dvs"] = [
                    *index.dvs_refs(), mf.segment_ref(seg_name, "dvs")
                ]
            out_ix = mf.commit_child(index, "upsert_dv", tables, meta_extra)
            stats.blocks_after = _manifest_count(out_ix, "blocks")
            stats.files_after = _manifest_count(out_ix, "files")
            return out_ix, stats

        staged = seg.split_staging(seg.read(spark, staging, STAGING_SCHEMA))
        return _commit_rewrites(
            spark, index, blocks, plan, "upsert", stats, staged, meta_extra=meta_extra
        )
    finally:
        pool.shutdown()  # a failed match waits out the staging job first
        fsx.delete_dir(scratch)


def apply_changes_batch(
    spark: SparkSession,
    index: BloomIndex,
    changes_df: DataFrame,
    key_field: str,
    change_col: str = "_change_type",
    order_col: str | None = "_commit_version",
    conflict_retries: int = 0,
    max_pruned_keys: int = 256,
    meta_extra: dict | None = None,
    use_deletion_vectors: bool = False,
) -> tuple[BloomIndex, DeleteStats]:
    """Apply one CDC micro-batch as ONE commit (the ``APPLY CHANGES
    INTO`` analog, and the inverse of the changefeed's ``change_events``
    output): resolve each key's FINAL state within the batch, then
    upsert the final inserts and delete the final-deleted keys through
    :func:`upsert_keys`'s single-commit machinery.

    Resolution: when ``order_col`` is present in the batch (the feed's
    ``_commit_version`` by default), only each key's events at its MAX
    order value count; within one order value, any insert wins over a
    delete (the CDC apply convention — a deleting commit emits
    delete-old + insert-kept for the same key, and delete-then-insert is
    the correct composition).  So a key inserted at v3 and deleted at v5
    ends deleted; deleted at v3, re-inserted at v5 ends at the v5 row.
    With ``order_col=None`` (or absent from the frame) the whole batch
    counts as one commit's events.

    Composes with the changefeed into exact replication INCLUDING
    row-set changes: ``readStream(A, change_events+commit_metadata)`` →
    ``stream_apply_changes(B)`` keeps B row-equal to A across appends,
    overwrites, expiry, delete_where, upsert and restore — the plain
    sink replication (DS4) only carries appends.

    ``use_deletion_vectors=True`` passes through to :func:`upsert_keys`:
    each applied batch is an APPEND-SHAPED commit (inserts + a dv
    position delta, O(batch) manifest bytes, zero old-block rewrites) —
    the right shape for a long-running CDC stream; schedule
    compact/``purge_deletion_vectors`` to re-tighten reads."""
    inserts, delete_keys = resolve_changes(
        changes_df, key_field, change_col, order_col
    )
    return upsert_keys(
        spark, index, inserts, key_field,
        conflict_retries=conflict_retries,
        max_pruned_keys=max_pruned_keys,
        delete_keys_df=delete_keys,
        meta_extra=meta_extra,
        use_deletion_vectors=use_deletion_vectors,
    )


def resolve_changes(
    changes_df: DataFrame,
    key_field: str,
    change_col: str = "_change_type",
    order_col: str | None = "_commit_version",
) -> tuple[DataFrame, DataFrame]:
    """CDC batch -> (final insert rows, final delete-only keys) under the
    apply convention documented on :func:`apply_changes_batch`."""
    meta_cols = {change_col}
    if order_col is not None and order_col in changes_df.columns:
        ranked = changes_df.withColumn(
            "_bs_maxo", F.max(order_col).over(Window.partitionBy(key_field))
        ).filter(F.col(order_col) == F.col("_bs_maxo")).drop("_bs_maxo")
        meta_cols.add(order_col)
    else:
        ranked = changes_df
    meta_cols |= {"_commit_version", "_commit_timestamp"} & set(
        changes_df.columns
    )
    inserts = ranked.filter(F.col(change_col) != "delete").drop(
        *sorted(meta_cols)
    )
    insert_keys = inserts.select(key_field).distinct()
    delete_keys = (
        ranked.filter(F.col(change_col) == "delete")
        .select(key_field)
        .distinct()
        .join(insert_keys, key_field, "left_anti")  # insert wins in-order
    )
    return inserts, delete_keys


# ---------------------------------------------------------------------------
# RESTORE (Delta RESTORE analog, r06)
# ---------------------------------------------------------------------------


def restore(
    spark: SparkSession,
    index: BloomIndex,
    version: str | None = None,
    timestamp=None,
    verify_data: bool = True,
    conflict_retries: int = 0,
) -> BloomIndex:
    """Roll the index back to a retained historical version as a NEW
    commit (``RESTORE TABLE ... TO VERSION AS OF`` analog) — zero-copy:
    the restore version re-references the target's blocks/files segments
    verbatim, no data or manifest rows are rewritten.

    History keeps moving FORWARD: the restored state lands as a fresh
    version (CURRENT+1) with full lineage retained, so the restore itself
    is time-travelable and shows in ``history()``.  Identity metadata
    (``source_columns``/``source_schema``/``uniform_params``) travels
    back with the target — restoring to a pre-``merge_schema`` version
    narrows the read schema again — while the streaming replay watermark
    (``last_stream_batch``) is carried from CURRENT, never rewound: a
    restored root must not let a restarted stream re-append its last
    batch.

    ``verify_data=True`` (default) runs a distributed existence check
    over the target's block data dirs first and refuses when any were
    vacuumed away (same failure contract as Delta RESTORE after VACUUM)
    — size ``vacuum(retain_versions/retain_time)`` to the window you
    want restorable.  To a changefeed, a restore is a DELETING commit
    (the rolled-back versions' blocks disappear), so mid-feed consumers
    need ``change_events`` — identical to overwrite/expire semantics.
    """
    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: restore(spark, ix, version, timestamp, verify_data, 0),
        )
    target = BloomIndex.load(spark, index.root, version=version, timestamp=timestamp)
    if target.version == index.version:
        return index  # restoring to CURRENT: nothing to commit
    if verify_data:
        ext = bool(target.meta().get("external", False))
        data_dir = target.data_dir
        n_blk = target.table_rows("blocks")
        missing: list[str] | None = None
        if n_blk is not None and n_blk <= RESTORE_DRIVER_CHECK_MAX:
            # small manifest: the existence sweep is driver-side — the
            # data_path column comes straight from the segment parquet
            # (KBs) and a 32-thread pool covers object-store HEAD latency;
            # zero Spark jobs where the distributed path paid a shuffle +
            # a Python-worker stage just to stat a few dozen dirs
            try:
                paths = sorted(
                    {
                        p
                        for sp in target.table_paths("blocks")
                        for p in fsx.read_parquet_dir(
                            sp, columns=["data_path"]
                        )["data_path"].to_pylist()
                    }
                )
                def _gone(rel):
                    p = rel if ext else fsx.join(data_dir, rel)
                    return None if fsx.exists(p) else rel

                with ThreadPoolExecutor(max_workers=32) as ex2:
                    missing = [m for m in ex2.map(_gone, paths) if m]
            except OSError:
                missing = None  # the store refused the driver: go distributed
        if missing is None:

            def _check(rows):
                from ..sources import fs as _fsx

                # one summary per task: the missing count and up to 3
                # example paths — a fully-vacuumed huge manifest must not
                # collect every missing path to the driver
                n, examples = 0, []
                for (rel,) in rows:
                    p = rel if ext else _fsx.join(data_dir, rel)
                    if not _fsx.exists(p):
                        n += 1
                        examples = sorted([*examples, rel])[:3]
                yield n, examples

            # an RDD shuffle: one job (AQE would run a DataFrame shuffle's
            # map stage as a job of its own); at most one Python task per
            # core (see vacuum)
            summary = (
                target.blocks()
                .select("data_path")
                .rdd.repartition(min(32, spark.sparkContext.defaultParallelism))
                .mapPartitions(_check)
                .collect()
            )
            n_gone = sum(n for n, _ in summary)
            missing = sorted(e for _, examples in summary for e in examples)
        else:
            n_gone = len(missing)
        if missing:
            raise ValueError(
                f"cannot restore to {target.version}: {n_gone} of its "
                f"block data dirs were vacuumed (e.g. {sorted(missing)[:3]}) "
                "— keep a retain_versions/retain_time vacuum window covering "
                "every version you want restorable"
            )

    t_refs = target.table_refs()
    return mf.commit_child(
        index, "restore",
        tables={
            "blocks": t_refs["blocks"],
            "files": t_refs["files"],
            # FULL lineage: history is never truncated by a rollback, so
            # CURRENT's lineage refs carry.  The TARGET's deletion vectors
            # travel back with it — restoring to a pre-DV version drops the
            # mask (rows were live then), restoring to a post-DV version
            # keeps exactly its mask; carrying CURRENT's refs instead would
            # delete rows the restored snapshot never deleted
            "dvs": t_refs.get("dvs", []),
            # the TARGET's ANALYZE stats travel back with its block set
            "colstats": t_refs.get("colstats", []),
        },
        meta={
            # the TARGET's identity replaces CURRENT's: the restored state
            # answers queries exactly as the target version did.  That
            # covers source columns/schema, uniform params and the
            # external / data dir flags; CHECK constraints (a restore to a
            # pre-constraint version drops the gate); and the column
            # mapping (a restore to a pre-rename version answers with the
            # old logical names, and a pre-drop restore re-activates the
            # column — the physical bytes never left)
            **dict.fromkeys(mf.carried_meta(index.meta())),
            **mf.carried_meta(target.meta()),
            # ...except CURRENT's replay watermark: never rewound
            "last_stream_batch": index.meta().get("last_stream_batch"),
            "source_desc": f"restore of {target.version}",
            "restored_version": target.version,
        },
        config=target.config,
    )


# ---------------------------------------------------------------------------
# CLONE (Delta CLONE analog, r06)
# ---------------------------------------------------------------------------


def clone(
    spark: SparkSession,
    index: BloomIndex,
    new_root: str,
    shallow: bool = True,
    version: str | None = None,
    timestamp=None,
) -> BloomIndex:
    """Clone the index (optionally a historical version) to ``new_root``
    as a fresh v1 commit — the ``CREATE TABLE ... CLONE`` analog.

    ``shallow=True`` (default) copies ONLY the manifest (referenced
    segments + meta; manifest-sized bytes): the clone's meta carries a
    ``data_dir_override`` pointing at the source's data dir, every read
    path resolves block dirs through it, and — like Delta shallow clones
    — the clone depends on the source's retention: vacuum the SOURCE
    only while no clone still references the removed blocks.  Shallow
    clones are read-only for block DATA: appends and data-rewriting ops
    (compact/delete/upsert/zorder/vacuum) refuse with guidance, while
    metadata-only ops (merge_files, expire_blocks, fold/vacuum_manifest,
    restore within the clone) work — so a clone is a cheap fork for
    experiments like "expire half the table and measure".

    ``shallow=False`` additionally copies every referenced block dir
    (DISTRIBUTED — one task batch per block dir, bytes through the fs
    layer) and yields a fully independent root.

    External (zero-copy) indexes clone shallow-only by nature: their
    data_path values are already absolute source URIs; the manifest copy
    preserves them verbatim.
    """
    target = (
        index  # clone the HANDLE's (possibly time-traveled) version
        if version is None and timestamp is None
        else BloomIndex.load(spark, index.root, version=version, timestamp=timestamp)
    )
    if mf.current_version(new_root) is not None:
        raise ValueError(f"{new_root!r} already holds a committed index")
    t_meta = target.meta()
    external = bool(t_meta.get("external", False))
    if external and not shallow:
        raise ValueError(
            "deep-cloning an external index would copy caller-owned source "
            "files; clone shallow, or build a managed index from the source"
        )

    # copy the referenced manifest tables byte-for-byte, path-preserving
    # (segment refs and pre-segment version-local refs alike)
    refs = target.table_refs()
    rel_paths = sorted({r for rs in refs.values() for r in rs})
    src_mdir = fsx.join(index.root, "manifest")
    dst_mdir = fsx.join(new_root, "manifest")
    for rel in rel_paths:
        for f in fsx.list_parquet_files(fsx.join(src_mdir, rel)):
            name = f.rsplit("/", 1)[-1]
            fsx.write_bytes_atomic(
                fsx.join(dst_mdir, rel, name), fsx.read_bytes(f)
            )

    if not shallow:
        src_data = target.data_dir
        dst_data = fsx.join(new_root, "data")

        def _copy(pdfs):
            from ..sources import fs as _fsx

            for pdf in pdfs:
                n = 0
                for rel in pdf["data_path"]:
                    for f in _fsx.list_parquet_files(_fsx.join(src_data, rel)):
                        name = f.rsplit("/", 1)[-1]
                        _fsx.write_bytes_atomic(
                            _fsx.join(dst_data, rel, name), _fsx.read_bytes(f)
                        )
                        n += 1
                yield pd.DataFrame({"n": [n]})

        copied = (
            target.blocks()
            .select("data_path")
            # at most one Python task per core (see vacuum)
            .repartition(min(32, spark.sparkContext.defaultParallelism))
            .mapInPandas(_copy, "n long")
            .agg(F.sum("n"))
            .collect()[0][0]
        )
        if not copied:
            raise RuntimeError("deep clone copied zero block files")

    new_v = mf.publish_meta(new_root, target.config, {  # v1 — fresh root
        **mf.carried_meta(t_meta),
        "source_desc": f"clone of {index.root}@{target.version}",
        "cloned_from": {"root": index.root, "version": target.version},
        "tables": {t: rs for t, rs in refs.items() if rs},
        # shallow: target.data_dir already resolves a clone-of-a-clone's
        # override to the ORIGINAL source data dir; deep: the clone owns
        # its copied blocks
        "data_dir_override": (
            target.data_dir if shallow and not external else None
        ),
    })
    return BloomIndex(spark, new_root, new_v)


# ---------------------------------------------------------------------------
# Commit + M8 tombstone/vacuum
# ---------------------------------------------------------------------------


def _commit(
    spark: SparkSession,
    index: BloomIndex,
    new_blocks: pa.Table | DataFrame,
    new_files: pa.Table | DataFrame | None,
    op: str,
    stats: MergeStats,
    meta_extra: dict | None = None,
    carry_dvs: bool = True,
    carry_files: bool = False,
    kept_blocks: list[str] | None = None,
) -> tuple[BloomIndex, MergeStats]:
    """Commit a maintenance op's output as a new manifest version.

    ``kept_blocks``: a row mutation's commit — the parent's blocks refs
    it left untouched stay referenced, and ``new_blocks`` (the rows of
    the segments it copied, plus its inserts) is written as slices
    (:func:`segments.write_slices`), so the next mutation copies only
    the slices it changes.

    ``carry_files``: the parent's files segments stay referenced and
    ``new_files`` (None: nothing) appends to them as one more segment —
    for an op that dropped no file.

    ``carry_dvs``: deletion-vector segment refs carry to the new version
    by default — maintenance ops that keep any UN-rewritten block alive
    (merge_files, compact, expire, delete/upsert rewrites) must keep its
    mask or silently resurrect DV-deleted rows; refs for rewritten blocks
    are orphan-but-harmless (keyed by the dead block_id) and fold cleans
    them.  Pass False only when the op rewrote EVERY block from a
    DV-masked scan (zorder) — the output contains no masked positions.

    Writes ONE segment: the transformed blocks/files (a maintenance op's
    output IS the folded manifest — its segment replaces every prior
    blocks/files segment; a row mutation's slices replace only the
    segments it copied) plus a lineage DELTA holding only this op's
    provenance rows; the new version references the parent's lineage
    segments unchanged, so history is never recopied (the r03 unbounded
    lineage-rewrite fix).  Published through ``commit_child`` (with
    ``expected=parent``): if anything (a streaming append, another
    maintenance op) committed since this op's snapshot, folding from the
    stale snapshot would silently DROP that commit — CommitConflict is
    raised instead and the caller re-plans from the fresh version."""
    root = index.root
    version_guess, _ = mf.next_version_dir(root)
    # per-attempt nonce: two racing maintenance committers (e.g. a
    # double-fired cron merge on two hosts) share the version guess, and a
    # deterministic name would let the LOSER overwrite the winner's
    # already-committed immutable segment before its CommitConflict fires.
    # A crashed/lost attempt's segment is unreachable garbage for
    # vacuum_manifest, never corruption.
    seg_name = f"{version_guess}-{op}-{uuid.uuid4().hex[:8]}"
    seg_dir = mf.segment_dir(root, seg_name)
    blocks_ref = mf.segment_ref(seg_name, "blocks")
    slices = [] if kept_blocks is None else seg.write_slices(
        seg_dir, "blocks", new_blocks, seg.slice_rows(stats.blocks_before)
    )
    block_refs = [*(kept_blocks or []), *(f"{blocks_ref}/{s}" for s in slices)]
    written = [fsx.join(seg_dir, "blocks.parquet", s) for s in slices]
    tables = {"files": new_files}
    if not block_refs:  # not sliced, or no block left anywhere
        tables["blocks"] = new_blocks
        block_refs, written = [blocks_ref], [fsx.join(seg_dir, "blocks.parquet")]
    seg.write_segment(seg_dir, {t: v for t, v in tables.items() if v is not None})
    # lineage DELTA: this op's rows only — parent segments are referenced.
    # Derived from the committed block rows (their final ids): every block
    # of the version, in the segments it kept as in the slices it wrote.
    cols = list(seg.LINEAGE_SOURCE_COLUMNS)
    if isinstance(new_blocks, pa.Table):
        committed = new_blocks.select(cols)
    elif written:
        committed = seg.read(spark, written, mf.BLOCKS_SCHEMA, cols)
    else:  # a sliced commit that kept no row it copied
        committed = new_blocks.select(*cols)
    if kept_blocks:
        kept = [fsx.join(root, "manifest", r) for r in kept_blocks]
        committed = seg.union(spark, seg.read(spark, kept, mf.BLOCKS_SCHEMA, cols), committed)
    seg.write_segment(seg_dir, {"lineage": seg.lineage_of(committed, version_guess, op)})
    # ANALYZE stats (like carried DVs) stay referenced: rows key by
    # (block_id, data_path), so survivors stay covered; rows for rewritten
    # blocks are orphan-but-harmless (they join nothing) and fold prunes
    # them
    files = [mf.segment_ref(seg_name, "files")] if new_files is not None else []
    tables = {
        "blocks": block_refs,
        "files": [*index.table_refs()["files"], *files] if carry_files else files,
        "lineage": [*index.table_refs()["lineage"],
                    mf.segment_ref(seg_name, "lineage")],
    }
    if not carry_dvs:
        tables["dvs"] = []
    out = mf.commit_child(index, op, tables, meta_extra)
    stats.files_after = _manifest_count(out, "files")
    stats.blocks_after = _manifest_count(out, "blocks")
    return out, stats


def vacuum(
    index: BloomIndex,
    retain_versions: int = 0,
    retain_time: float = 0.0,
    retain_names: list[str] | None = None,
    dry_run: bool = False,
) -> int:
    """Delete block data dirs not referenced by the CURRENT manifest
    (TombstoneFile analog, data_store.go:19-21).  Safe only once no reader
    resolves a version outside the retained window.  Returns dirs removed.

    ``dry_run=True`` (``VACUUM ... DRY RUN`` analog) runs the identical
    distributed listing + anti-join and returns the count of dirs that
    WOULD be removed, deleting nothing — size the retention window against
    it before a destructive run.

    ``retain_versions`` / ``retain_time`` additionally keep every block
    dir referenced by the newest K superseded versions and/or versions
    committed within the last S seconds (Delta ``VACUUM ... RETAIN``
    analog) — the DATA half of the time-travel window; pair with the
    same knobs on :func:`vacuum_manifest` so the version metadata
    survives too.  Cost: the anti-join's right side unions each retained
    version's manifest-sized block list (distributed, never collected).

    DISTRIBUTED end to end (bounded driver memory at ANY file/block
    count): even the top-level ``file_id=`` listing runs in a task
    (r03 left it on the driver — fine to ~10^7 files, but no reason to be
    bounded at all); executors then list each file dir's block dirs, the
    listing anti-joins the blocks manifest (never collected), and the dead
    dirs are deleted on executors through the fs layer.  Requires the data
    root to be shared storage — already true for any multi-executor
    deployment; a registered custom scheme must also be registered in the
    executor interpreters (fs.register_scheme docstring)."""
    # a shallow clone's data_dir IS the source's: vacuuming through the
    # clone would anti-join the SOURCE's dirs against the CLONE's manifest
    # and delete every source block the clone doesn't reference
    _refuse_shallow_clone(index, "vacuum")
    spark = index.spark
    data_dir = index.data_dir

    def list_file_dirs(pdfs):
        for pdf in pdfs:
            rows = [fd for r in pdf["root"] for fd in fsx.list_subdirs(r)]
            yield pd.DataFrame({"file_dir": rows})

    fd_df = (
        spark.createDataFrame([(data_dir,)], "root string")
        .mapInPandas(list_file_dirs, "file_dir string")
        # spread the per-file-dir block listing across the cluster, at
        # most one Python task per core: a fixed 64 made every vacuum of
        # a small index on local[4] start 64 tasks per pass (~12 s warm
        # at 400 rows; ~2 s capped)
        .repartition(min(64, spark.sparkContext.defaultParallelism))
    )

    def list_blocks(pdfs):
        for pdf in pdfs:
            rows = [
                fsx.join(fd, bd)
                for fd in pdf["file_dir"]
                for bd in fsx.list_subdirs(fsx.join(data_dir, fd))
            ]
            yield pd.DataFrame({"data_path": rows})

    listed = fd_df.mapInPandas(list_blocks, "data_path string")
    live_blocks = index.blocks().select("data_path")
    if retain_names is None:
        retain_names = mf.travel_retained(
            index.root, retain_versions, retain_time
        )
    for v in retain_names:
        live_blocks = live_blocks.unionByName(
            mf.BloomIndex(spark, index.root, v)
            .blocks(cache=False)
            .select("data_path")
        )
    dead = listed.join(live_blocks.distinct(), "data_path", "left_anti")

    def delete(pdfs):
        n = 0
        for pdf in pdfs:
            for p in pdf["data_path"]:
                if not dry_run:
                    fsx.delete_dir(fsx.join(data_dir, p))
                n += 1
        yield pd.DataFrame({"n": [n]})

    removed = (
        dead.mapInPandas(delete, "n long").agg(F.sum("n")).collect()[0][0] or 0
    )
    if dry_run:
        return int(removed)

    # empty-parent sweep over ALL file dirs (distributed, one stat+list per
    # FILE): covers dirs emptied by THIS run and dirs a previous crashed
    # vacuum emptied but never removed (sweeping only this run's dead
    # parents would leak those forever).  fd_df re-lists lazily, so fully
    # removed dirs are already gone from the sweep's input.
    def sweep(pdfs):
        n = 0
        for pdf in pdfs:
            for fd in pdf["file_dir"]:
                if fsx.delete_dir_if_empty(fsx.join(data_dir, fd)):
                    n += 1
        yield pd.DataFrame({"n": [n]})

    fd_df.mapInPandas(sweep, "n long").agg(F.sum("n")).collect()
    return int(removed)


def fsck(
    spark: SparkSession,
    index: BloomIndex,
    repair: bool = False,
    conflict_retries: int = 0,
) -> tuple[BloomIndex, DataFrame]:
    """``FSCK REPAIR TABLE`` analog: find manifest block entries whose DATA
    DIRECTORIES are gone from storage (out-of-band deletion, a partial
    out-of-band restore, an over-eager external cleanup) and, with
    ``repair=True``, commit a manifest version that drops them so reads
    stop failing on missing files.

    Returns ``(index, missing)`` — ``missing`` is a lazy, uncached
    DataFrame of the absent ``data_path`` values (empty = healthy; each
    action re-runs the check); with ``repair=True`` and any damage,
    ``index`` is the repaired version.  The existence
    check is DISTRIBUTED (one stat per block dir on executors, manifest
    paths never collected), the same shape as restore()'s vacuum guard.

    Semantics of a repair commit: it is a maintenance DELETE of the dead
    blocks — file-level rows for partially-dead files survive with their
    (now conservative) blooms/counters, exactly like delete_where's
    rewrites; deletion-vector refs for dropped blocks become
    orphan-but-harmless and fold prunes them; ANALYZE stats drop out of
    coverage with the blocks.  To a changefeed this is a deleting commit
    whose rows CANNOT be replayed (the data is gone): plain feeds refuse
    it as usual, and a ``change_events`` feed fails loudly reading the
    removed dirs — consumers must re-seed, the honest outcome of data
    loss.  Works on external overlays and shallow clones (the commit is
    pure metadata; no data dir is touched)."""
    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: fsck(spark, ix, repair, 0),
        )
    ext = bool(index.meta().get("external", False))
    data_dir = index.data_dir

    def _check(it):
        from ..sources import fs as _fsx

        for pdf in it:
            gone = [
                rel
                for rel in pdf["data_path"]
                if not _fsx.exists(rel if ext else _fsx.join(data_dir, rel))
            ]
            yield pd.DataFrame({"data_path": gone})

    missing = (
        index.blocks(cache=False)
        .select("data_path")
        # at most one Python task per core (see vacuum)
        .repartition(min(32, spark.sparkContext.defaultParallelism))
        .mapInPandas(_check, "data_path string")
    )
    if not repair:
        return index, missing
    # the repair reads the check twice (count, anti-join); the persist
    # lives only as long as the commit that uses it
    missing.persist()
    try:
        if missing.count() == 0:
            return index, missing
        stats = DeleteStats()
        stats.blocks_before = _manifest_count(index, "blocks")
        stats.files_before = _manifest_count(index, "files")
        new_blocks = index.blocks(cache=False).join(missing, "data_path", "left_anti")
        live_files = new_blocks.select("file_id").distinct()
        new_files = index.files(cache=False).join(
            F.broadcast(live_files), "file_id", "left_semi"
        )
        out, _ = _commit(spark, index, new_blocks, new_files, op="fsck", stats=stats)
        return out, missing
    finally:
        missing.unpersist()


# ---------------------------------------------------------------------------
# Manifest-level maintenance: fold segments, vacuum unreachable metadata
# ---------------------------------------------------------------------------


def fold_manifest(
    spark: SparkSession, index: BloomIndex, conflict_retries: int = 0
) -> BloomIndex:
    """Compact the manifest's segment lists into ONE segment per table.

    Appends (and every streaming micro-batch) write O(batch) delta
    segments; a long-running stream accumulates one per commit.  Folding
    unions each table's segments into a single segment — a manifest-sized
    Spark job, zero data-file I/O — and commits a version referencing only
    it: the "compaction folds segments" half of the manifest-list design
    (readers union; folds reset the union width).  Run at the same cadence
    as merge_files; raises CommitConflict if anything commits concurrently
    (``conflict_retries`` re-plans from the fresh version automatically).
    The superseded segments become unreachable — reclaim with
    vacuum_manifest()."""
    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: fold_manifest(spark, ix, 0),
        )
    root = index.root
    version_guess, _ = mf.next_version_dir(root)
    seg_name = f"{version_guess}-fold-{uuid.uuid4().hex[:8]}"  # see _commit
    seg_dir = mf.segment_dir(root, seg_name)
    blocks = index.blocks(cache=False)
    tables = {
        "blocks": blocks.repartition("partition_id").sortWithinPartitions(
            "partition_id"
        ),
        "files": index.files(cache=False),
        "lineage": index.lineage(),
    }
    # deletion vectors fold too: per-block UNION of the delta positions
    # (deltas are disjoint — see DVS_SCHEMA), orphan rows for blocks a
    # rewrite/expire already dropped are semi-joined away.  An all-orphan
    # result folds back to the clean no-DV state (no ref at all).
    dvs = index.dvs(cache=False)
    if dvs is not None:
        tables["dvs"] = (
            dvs.join(blocks.select("data_path"), "data_path", "left_semi")
            .groupBy("block_id", "data_path")
            .agg(F.flatten(F.collect_list("positions")).alias("positions"))
            .select(
                "block_id",
                "data_path",
                "positions",
                F.size("positions").cast("long").alias("dv_count"),
            )
        )
    # ANALYZE column stats fold the same way: rows for live (block_id,
    # data_path) pairs re-segment; orphans from rewritten blocks drop.
    cs = index.colstats(cache=False)
    if cs is not None:
        tables["colstats"] = cs.join(
            blocks.select("block_id", "data_path"),
            ["block_id", "data_path"],
            "left_semi",
        )
    seg.write_segment(seg_dir, tables)
    fold_dvs, fold_cs = (
        t in tables and fsx.parquet_dir_rows(fsx.join(seg_dir, f"{t}.parquet")) > 0
        for t in ("dvs", "colstats")
    )
    return mf.commit_child(index, "fold", {
        **{t: [mf.segment_ref(seg_name, t)] for t in mf.TABLES},
        # an all-orphan result folds back to no table at all
        "dvs": [mf.segment_ref(seg_name, "dvs")] if fold_dvs else [],
        "colstats": [mf.segment_ref(seg_name, "colstats")] if fold_cs else [],
    })


def vacuum_manifest(
    index: BloomIndex,
    staging_ttl: float = 24 * 3600.0,
    retain_versions: int = 0,
    retain_time: float = 0.0,
    retain_names: list[str] | None = None,
    dry_run: bool = False,
) -> int:
    """Delete manifest metadata unreachable from CURRENT: superseded
    version dirs, segment dirs no version references (failed or folded-away
    commits), and STALE build staging scratch.  Returns dirs removed.

    ``retain_versions`` / ``retain_time`` keep a TIME-TRAVEL window
    (Delta ``logRetentionDuration`` analog): the newest K superseded
    versions and/or every version committed within the last S seconds
    stay readable — their version dirs AND every segment they reference
    survive.  Pair with the same knobs on :func:`vacuum`, which guards
    the underlying block DATA; a version whose metadata survives but
    whose data was vacuumed reads as missing files, same failure mode as
    Delta time travel past VACUUM retention.  When running BOTH vacuums,
    resolve the window ONCE (``mf.travel_retained``) and pass the same
    list via ``retain_names`` — evaluating a ``retain_time`` window at
    two instants (or ``retain_versions`` across a racing commit) can
    retain a version's metadata while deleting its data
    (:func:`maintain` does this, and runs the data vacuum FIRST so any
    skew leaves harmless orphan data, never a broken snapshot).

    Staging scratch is special: a build is exposed for its whole
    multi-minute (at scale multi-hour) staging window, not just the brief
    commit window the "no commit in flight" contract covers — deleting a
    live build's scratch would silently restart its heavy stages.  A
    staging tree is therefore only reclaimed when NOTHING under it was
    modified for ``staging_ttl`` seconds (default 24 h — older than any
    live build attempt; pass 0 to force, e.g. in tests or after verifying
    no build runs).

    Driver listings here are one level deep and bounded by VERSION/SEGMENT
    count (kept small by fold_manifest) — never by blocks or files.  Same
    safety contract as vacuum(): run only when no commit is in flight and
    no reader still resolves an older version."""
    root = index.root
    cur = mf.current_version(root)
    if cur is None:
        return 0
    if retain_names is None:
        retain_names = mf.travel_retained(root, retain_versions, retain_time)
    live_handles = [mf.BloomIndex(index.spark, root, cur)] + [
        mf.BloomIndex(index.spark, root, v) for v in retain_names
    ]
    all_refs = [
        rel
        for h in live_handles
        for refs in h.table_refs().values()
        for rel in refs
    ]
    referenced = {
        rel.split("/", 2)[1] for rel in all_refs if rel.startswith("segments/")
    }
    # a post-upgrade append can still reference a PRE-segment version dir's
    # tables (back-compat refs like "v00000001/blocks.parquet") — those
    # version dirs stay live even though CURRENT moved past them
    live_vdirs = {h.version for h in live_handles} | {
        rel.split("/", 1)[0] for rel in all_refs if not rel.startswith("segments/")
    }
    mdir = fsx.join(root, "manifest")
    removed = 0
    for d in fsx.list_subdirs(mdir):
        if d.startswith("v") and d not in live_vdirs:
            if not dry_run:
                fsx.delete_dir(fsx.join(mdir, d))
            removed += 1
        elif d == "staging":
            import time as _time

            sdir = fsx.join(mdir, d)
            for tag in fsx.list_subdirs(sdir):
                tdir = fsx.join(sdir, tag)
                ts = fsx.newest_mtime(tdir)
                if ts is None or _time.time() - ts >= staging_ttl:
                    if not dry_run:
                        fsx.delete_dir(tdir)
                    removed += 1
            if not dry_run:
                fsx.delete_dir_if_empty(sdir)
    for s in fsx.list_subdirs(mf.segments_dir(root)):
        if s not in referenced:
            if not dry_run:
                fsx.delete_dir(mf.segment_dir(root, s))
            removed += 1
    return removed


def maintain(
    spark: SparkSession,
    root: str,
    *,
    max_blocks_per_file: int = 64,
    max_files_per_merge: int = 10,
    compact_rows: int | None = None,
    zorder_by: list[str] | None = None,
    where=None,
    purge_dvs: bool = False,
    analyze_columns: list[str] | None = None,
    fold_threshold: int = 8,
    run_vacuum: bool = False,
    retain_versions: int = 0,
    retain_time: float = 0.0,
    staging_ttl: float = 24 * 3600.0,
    conflict_retries: int = 3,
) -> dict:
    """One-call housekeeping — the ``OPTIMIZE`` analog: merge small
    files, optionally compact undersized blocks (``compact_rows``), fold
    the manifest once its blocks table spans more than ``fold_threshold``
    commit segments (a mutation's slices count once), and
    (opt-in) vacuum metadata + data honoring the time-travel retention
    window.  Each step re-resolves CURRENT and retries on
    :class:`CommitConflict` up to ``conflict_retries`` times — racing
    appends are allowed to win; callers no longer hand-roll the re-plan
    loop the commit protocol requires.

    ``run_vacuum`` defaults to False because vacuum's safety contract is
    the caller's to assert: no commit in flight and no reader (or
    lagging changefeed) resolving versions outside the retained window —
    size ``retain_versions``/``retain_time`` to cover reader/feed lag
    before enabling it in a schedule.

    ``zorder_by`` runs :func:`optimize_zorder` on those columns as part
    of the pass (the ``OPTIMIZE ... ZORDER BY`` spelling) — it rewrites
    every block, so ``compact_rows`` is redundant with it; skipped on
    external/shallow-clone roots like compact.

    ``where`` (a :class:`PrefilterExpr`) scopes ``compact_rows`` and
    ``zorder_by`` to the matching blocks (``OPTIMIZE ... WHERE``) —
    schedule per-partition maintenance instead of whole-table rewrites.

    ``purge_dvs`` runs :func:`purge_deletion_vectors` (the ``REORG ...
    APPLY (PURGE)`` spelling) — rewrite only the deletion-vector-masked
    blocks so reads drop the mask anti-join; redundant after
    ``zorder_by`` (which already rebuilt everything).  Skipped on
    shallow clones (their block dirs belong to the source) — the one
    root where DV masks can accumulate without a local purge path.

    ``analyze_columns`` re-runs :func:`plans.analyze.analyze` AFTER the
    rewrites (the scheduled ``ANALYZE`` leg): compaction/zorder mint
    fresh block ids, which drops those blocks from stats coverage — this
    restores full metadata-only answers in the same housekeeping pass.

    Returns a stats dict: ``files_merged``, ``blocks_rewritten``,
    ``compact_skipped`` (True when ``compact_rows`` was requested on a
    zero-copy external index — nothing engine-owned to rewrite),
    ``zordered``, ``folded``, ``meta_dirs_removed``,
    ``data_dirs_removed``."""
    out = {
        "files_merged": 0,
        "blocks_rewritten": 0,
        "compact_skipped": False,
        "zordered": False,
        "folded": False,
        "meta_dirs_removed": 0,
        "data_dirs_removed": 0,
    }
    idx = BloomIndex.load(spark, root)
    idx, stats = merge_files(
        spark, idx, max_blocks_per_file, max_files_per_merge,
        conflict_retries=conflict_retries,
    )
    out["files_merged"] = stats.files_before - stats.files_after
    if compact_rows is not None:
        if idx.meta().get("external"):
            # zero-copy external index: there are no engine-owned block
            # files to rewrite — skip rather than abort the remaining
            # housekeeping steps mid-sequence
            out["compact_skipped"] = True
        else:
            idx, cstats = compact_blocks(
                spark, idx, compact_rows, conflict_retries=conflict_retries,
                where=where,
            )
            out["blocks_rewritten"] = cstats.blocks_rewritten
    if zorder_by:
        if idx.meta().get("external") or idx.meta().get("data_dir_override"):
            out["compact_skipped"] = True  # nothing engine-owned to rewrite
        else:
            idx, zstats = optimize_zorder(
                spark, idx, list(zorder_by), conflict_retries=conflict_retries,
                where=where,
            )
            out["zordered"] = True
            out["blocks_rewritten"] += zstats.blocks_rewritten
    if purge_dvs:
        if idx.meta().get("data_dir_override"):
            out["purge_skipped"] = True  # shallow clone: dirs not ours
        else:
            idx, pstats = purge_deletion_vectors(
                spark, idx, conflict_retries=conflict_retries
            )
            out["dv_purged_rows"] = pstats.rows_deleted
            out["blocks_rewritten"] += pstats.blocks_rewritten
    if analyze_columns:
        # recompute ANALYZE stats AFTER the rewrites (the ``ANALYZE`` leg
        # of a scheduled OPTIMIZE): compaction/zorder minted fresh block
        # ids, so pre-existing stats just lost coverage — re-analyzing
        # here restores full metadata-only answers in the same pass.
        # External overlays have no analyze (refused there by design).
        if idx.meta().get("external"):
            out["analyze_skipped"] = True
        else:
            from .analyze import analyze as _analyze

            _analyze(
                spark, root, list(analyze_columns),
                conflict_retries=conflict_retries,
            )
            out["analyzed"] = True
    idx = BloomIndex.load(spark, root)  # racing commits may have landed
    if mf.segment_count(idx.table_refs()["blocks"]) > fold_threshold:
        fold_manifest(spark, idx, conflict_retries=conflict_retries)
        out["folded"] = True
    if run_vacuum:
        # ONE retained-window resolution shared by both vacuums: a
        # retain_time window evaluated at two instants (or retain_versions
        # across a racing commit) could retain a version's metadata while
        # deleting its data.  Data vacuum runs FIRST so any remaining skew
        # (CURRENT advancing between the calls) leaves orphan data for the
        # next pass, never a retained snapshot with missing files.
        retained = mf.travel_retained(root, retain_versions, retain_time)
        out["data_dirs_removed"] = vacuum(
            BloomIndex.load(spark, root), retain_names=retained
        )
        out["meta_dirs_removed"] = vacuum_manifest(
            BloomIndex.load(spark, root),
            staging_ttl=staging_ttl,
            retain_names=retained,
        )
    return out
