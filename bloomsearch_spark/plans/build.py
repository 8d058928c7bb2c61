"""Index build plan — map-only by default, atomic manifest commit.

Default shape (SURVEY.md §3.1), a faithful Spark re-expression of the
reference's ingest actor (processIngestRequest, bloom_tree_engine.go:460-675:
buffer rows per partition, flush a data block when the row-group cap hits):

    source_df
      -> withColumn(partition_id = <user partition expr>)         (W2)
      -> withColumn(content_sha = sha2(sha_col, 256))             (W11 invariant)
      -> mapInArrow (ZERO data shuffle):                          (W3-W9)
           per input task: buffer rows by partition_id; every
           max_block_rows rows flush one data block — 3 block blooms +
           minmax + the block's own Parquet file (temp + atomic
           rename); one staging row per block, and one completed file
           row per file (files are task-local: the file blooms OR
           in-task, M4)
      -> staging through the segment gate (sources/segments.py): blocks
         and files are a projection of it; Arrow on the driver up to
         DRIVER_SEGMENT_MAX_BYTES, else Spark
      -> write blocks/files/lineage as one immutable manifest segment
      -> atomically swap manifest/CURRENT                          (W12)

When ``cfg.block_expr`` is set (user-controlled clustering, e.g. tight
zone maps per doc_id or date buckets for TTL), the build instead
hash/expr-assigns rows to blocks and does ONE full-data shuffle
(groupBy(block).applyInArrow) to co-locate each block's rows.  A file's
blocks then span tasks, so its file row is the manifest-row fold
(``segments.fold``) of its block rows, on whichever face the gate picks.

Scale notes (100 TB / 1000 executors):
- the default path moves zero row bytes between executors: each task reads
  its input split once and writes its blocks locally, and no manifest row
  shuffles either.  At 100 TB the clustered path would shuffle 100 TB.
- skew-proof by construction: blocks are flushed per task at a fixed row
  cap, so a partition holding 30% of all rows simply produces
  proportionally many equal-size blocks — no hot reducer exists at all
  (the north rule's skew requirement, solved by never reducing row data).
- data files are invisible until the manifest pointer swap, so task retries
  / speculative duplicates leave only unreferenced temp files (same
  atomicity contract as MetaStore.Update, meta_store.go:21).
- resumable: block/file ids are deterministic for a fixed input split
  layout (ids key off the task's partition index and flush sequence), so
  task retries recompute identical blocks; completed stages are detected
  via _SUCCESS markers and skipped, and re-executed stages produce
  bit-identical bitsets (OR-merge idempotence).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..config import IndexConfig
from ..sources import fs as fsx
from ..sources import manifest as mf
from ..sources import segments as seg
from ..tokenizer import get_tokenizer, register_tokenizer

# staging rows are BLOCK rows (block_id set) or, on the map path, completed
# FILE rows (block_id null, file blooms + block_count set) — files never
# span tasks there, so file rollup happens in-task and the ~MB-scale
# file-bloom partials never serialize per block nor shuffle
STAGING_PA_SCHEMA = pa.schema(
    [
        ("file_id", pa.string()),
        ("block_id", pa.string()),
        ("partition_id", pa.string()),
        ("data_path", pa.string()),
        ("row_count", pa.int64()),
        ("token_count", pa.int64()),
        ("byte_size", pa.int64()),
        ("block_count", pa.int64()),
        ("minmax_min", pa.map_(pa.string(), pa.int64())),
        ("minmax_max", pa.map_(pa.string(), pa.int64())),
        ("expected_items", pa.int64()),
        ("fpr", pa.float64()),
        ("field_bloom", pa.binary()),
        ("token_bloom", pa.binary()),
        ("fieldtoken_bloom", pa.binary()),
        ("file_expected_items", pa.int64()),
        ("file_fpr", pa.float64()),
        ("file_field_bloom", pa.binary()),
        ("file_token_bloom", pa.binary()),
        ("file_fieldtoken_bloom", pa.binary()),
    ]
)
STAGING_SCHEMA = from_arrow_schema(STAGING_PA_SCHEMA)

_CODEC = {"none": None, "snappy": "snappy", "zstd": "zstd"}


def codec_kwargs(cfg: IndexConfig) -> dict:
    """pq.write_table kwargs for the configured codec (+ zstd level knob,
    the reference's ZstdCompressionLevel, bloom_tree_engine.go:46-80).

    Page CRC32 checksums are always written (the reference CRC32C-frames
    every block, file_format.go:121-142): ~free at write time, and readers
    that opt in (``enable_read_checksum_verification``) get per-page
    corruption detection DURING the scan instead of only at the on-demand
    sha256 sweep (verify_integrity)."""
    kw = {"compression": _CODEC[cfg.compression] or "NONE",
          "write_page_checksum": True}
    if cfg.compression == "zstd" and cfg.zstd_level is not None:
        kw["compression_level"] = cfg.zstd_level
    return kw

INTERNAL_COLS = ("partition_id", "content_sha", "file_id", "block_id", "_block_seq")


def _arrow_schema(df: DataFrame, drop: tuple[str, ...]) -> pa.Schema:
    """Fixed Arrow schema for block data files so every block writes
    identical types even when a column is all-null in some block."""
    from pyspark.sql.pandas.types import to_arrow_schema

    kept = [f for f in df.schema.fields if f.name not in drop]
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType(kept))


def _row_hash(df: DataFrame):
    """Deterministic per-row hash for block/salt scatter.  ``xxhash64``
    rejects MapType inputs outright, so map-bearing columns are excluded;
    if EVERY column contains a map, fall back to hashing the JSON form
    (to_json supports maps; key order follows the stored order, which is
    stable for re-read data — determinism within a build is what the
    scatter needs)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    cols = [f.name for f in df.schema.fields if not has_map(f.dataType)]
    if cols:
        return F.xxhash64(*[F.col(c) for c in cols])
    return F.xxhash64(F.to_json(F.struct(*df.columns)))


def stage_keys(df: DataFrame, cfg: IndexConfig) -> DataFrame:
    """``df`` plus the columns the flush kernels key on: ``partition_id``
    (NULL partition values coalesce to "": a NULL slug would yield NULL
    file/block ids, and the manifest's block_id filter would drop rows
    whose data landed in an unreachable dir) and, with ``cfg.sha_col``,
    ``content_sha``."""
    d = df.withColumn(
        "partition_id",
        F.coalesce(F.expr(cfg.partition_expr).cast("string"), F.lit("")),
    )
    if cfg.sha_col:
        d = d.withColumn("content_sha", F.sha2(F.col(cfg.sha_col).cast("string"), 256))
    return d


def stage_rows(d: DataFrame, cfg: IndexConfig, data_dir: str, tag: str, staging: str) -> None:
    """Flush ``d``'s rows (with :func:`stage_keys` columns) as block files
    under ``data_dir`` through the zero-shuffle map kernel, and write
    their staging rows to ``staging``."""
    d.mapInArrow(_make_map_build_fn(cfg, data_dir, tag), STAGING_SCHEMA).write.mode(
        "overwrite"
    ).parquet(staging)


def assign_blocks(df: DataFrame, cfg: IndexConfig, build_tag: str) -> DataFrame:
    """Deterministic, window-free block/file assignment.

    A tiny per-partition count + broadcast join sizes the block count, then
    a row hash scatters rows uniformly across that partition's blocks.
    Deterministic => identical assignment on re-run (resume safety).
    """
    d = stage_keys(df, cfg)
    if cfg.block_expr is not None:
        d = d.withColumn("_block_seq", F.expr(cfg.block_expr).cast("long"))
    else:
        counts = (
            d.groupBy("partition_id")
            .agg(F.ceil(F.count("*") / cfg.max_block_rows).cast("long").alias("_n_blocks"))
            .withColumn("_n_blocks", F.greatest(F.lit(1), F.col("_n_blocks")))
        )
        d = d.join(F.broadcast(counts), "partition_id")
        d = d.withColumn(
            "_block_seq",
            F.pmod(_row_hash(df), F.col("_n_blocks")),
        ).drop("_n_blocks")
    # slug keeps dir names filesystem-safe; short hash disambiguates slugs
    slug = F.concat(
        F.regexp_replace(F.substring(F.col("partition_id"), 1, 32), "[^A-Za-z0-9_.-]", "_"),
        F.lit("-"),
        F.lpad(F.hex(F.pmod(F.xxhash64("partition_id"), F.lit(1 << 32))), 8, "0"),
    )
    file_seq = (F.col("_block_seq") / cfg.blocks_per_file).cast("long")
    d = d.withColumn("file_id", F.concat(slug, F.lit(f"-{build_tag}-f"), file_seq))
    d = d.withColumn(
        "block_id", F.concat(F.col("file_id"), F.lit("-b"), F.col("_block_seq"))
    ).drop("_block_seq")
    return d


def _make_block_fn(cfg: IndexConfig, data_dir: str, arrow_schema_bytes: bytes):
    """applyInArrow grouped-map closure: index the block AND write its
    data file.

    Writing inside the task mirrors the reference's flush worker
    (handleFlush, bloom_tree_engine.go:726-821): data blob + metadata row
    are produced together, and neither is visible until the manifest
    commit.  temp-file + atomic rename makes retried/speculative attempts
    harmless.  ``data_dir`` must be shared storage on a real cluster.

    Arrow end to end (like the map path): the block parquet is written
    straight from the group's Arrow table.  The former applyInPandas body
    round-tripped values through ``Table.from_pandas``, which converts
    every float NaN to NULL (pandas null sentinel) — silent corruption of
    stored data on the clustered path.
    """
    from ..operators.blockindex import build_block_entry_arrow

    ckw = codec_kwargs(cfg)
    # resolve the tokenizer on the DRIVER and ship the object in the
    # closure: a user-registered tokenizer exists only in the driver's
    # registry, not in fresh executor interpreters
    tok = get_tokenizer(cfg.tokenizer)

    from typing import Tuple as _Tuple

    # fully-annotated signature: pyspark's applyInArrow eval-type
    # inference RAISES (not None) on partial hints, and its fallback
    # path hits an UnboundLocalError (pyspark 4.1 group_ops.py:936)
    def fn(key: _Tuple[pa.Scalar, ...], tbl: pa.Table) -> pa.Table:
        register_tokenizer(tok)
        key = tuple(k.as_py() if hasattr(k, "as_py") else k for k in key)
        entry = build_block_entry_arrow(key, tbl, cfg)
        file_id, block_id, _ = key
        rel = fsx.join(f"file_id={file_id}", f"block_id={block_id}")
        entry["data_path"] = rel
        schema = pa.ipc.read_schema(pa.BufferReader(arrow_schema_bytes))
        body = tbl.select(schema.names).cast(schema)
        entry["byte_size"] = fsx.write_parquet_atomic(
            fsx.join(data_dir, rel), body, "part-0.parquet", **ckw
        )
        entry["minmax_min"] = list(entry["minmax_min"].items())
        entry["minmax_max"] = list(entry["minmax_max"].items())
        return pa.Table.from_pylist([entry], schema=STAGING_PA_SCHEMA)

    return fn


def _slug(partition_id: str) -> str:
    """Filesystem-safe partition slug (python twin of the SQL slug in
    assign_blocks; uniqueness via a short stable hash suffix)."""
    import hashlib
    import re

    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", str(partition_id)[:32])
    h = hashlib.sha1(str(partition_id).encode()).hexdigest()[:8].upper()
    return f"{safe}-{h}"


def _make_map_build_fn(
    cfg: IndexConfig, data_dir: str, build_tag: str, task_id: int | None = None
):
    """mapInArrow body: the reference's partition-buffer ingest actor
    (processIngestRequest, bloom_tree_engine.go:460-675) run once per input
    split — buffer rows per partition_id, flush one data block (blooms +
    minmax + the block's own parquet file) every ``max_block_rows`` rows.

    Pure Arrow end to end: tokenization/unique/minmax run as Arrow compute
    kernels over contiguous string buffers and the block parquet is written
    straight from the Arrow table — row values are NEVER materialized as
    Python objects, which keeps the hot path memory-bandwidth-lean (the
    binding constraint at high core counts).  No shuffle: each task sees
    only its own input split; ids key off the task's partition index +
    flush sequence, so retries recompute identical blocks."""
    import pyarrow.compute as pc

    from ..operators.blockindex import build_block_entry_arrow

    ckw = codec_kwargs(cfg)
    tok = get_tokenizer(cfg.tokenizer)  # ship the object (see _make_block_fn)

    from .. import bloom

    def fn(batches):
        from pyspark import TaskContext

        register_tokenizer(tok)
        # mapInArrow path: the Spark task id keys deterministic file ids
        # (resume safety).  The DataSource-writer path passes its own id
        # (its worker may not expose a TaskContext).
        tid = task_id if task_id is not None else TaskContext.get().partitionId()
        buffers: dict[str, list[pa.Table]] = {}
        counts: dict[str, int] = {}
        seqs: dict[str, int] = {}
        # per-(pid) RUNNING file accumulator: file ids are task-local on
        # this path (t{tid}-f{seq//bpf}), so the file-level rollup happens
        # right here — completed file rows are emitted directly and the
        # MB-scale file-bloom partials never leave the task (the r01 design
        # serialized 3 file-sized partials PER BLOCK and shuffled them into
        # a groupBy rollup: measured ~4 s of the 13 s 8-core build)
        filestate: dict[str, dict] = {}

        def finish_file(pid: str) -> pa.RecordBatch:
            fs = filestate.pop(pid)
            entry = {
                "file_id": fs["file_id"],
                "block_id": None,
                "partition_id": pid,
                "data_path": None,
                "row_count": fs["rows"],
                "token_count": fs["tokens"],
                "byte_size": fs["bytes"],
                "block_count": fs["blocks"],
                "minmax_min": list(fs["mn"].items()),
                "minmax_max": list(fs["mx"].items()),
                "expected_items": None,
                "fpr": None,
                "field_bloom": None,
                "token_bloom": None,
                "fieldtoken_bloom": None,
                "file_expected_items": cfg.file_expected_items,
                "file_fpr": cfg.file_fpr,
                "file_field_bloom": fs["sets"][0].tobytes(),
                "file_token_bloom": fs["sets"][1].tobytes(),
                "file_fieldtoken_bloom": fs["sets"][2].tobytes(),
            }
            return pa.RecordBatch.from_pylist([entry], schema=STAGING_PA_SCHEMA)

        def flush(pid: str, tbl: pa.Table) -> list[pa.RecordBatch]:
            out: list[pa.RecordBatch] = []
            seq = seqs.get(pid, 0)
            seqs[pid] = seq + 1
            file_id = f"{_slug(pid)}-{build_tag}-t{tid}-f{seq // cfg.blocks_per_file}"
            block_id = f"{file_id}-b{seq}"
            fs = filestate.get(pid)
            if fs is not None and fs["file_id"] != file_id:
                out.append(finish_file(pid))
                fs = None
            if fs is None:
                fs = filestate[pid] = {
                    "file_id": file_id,
                    "sets": [bloom.new_bitset(cfg.file_params) for _ in range(3)],
                    "rows": 0, "tokens": 0, "bytes": 0, "blocks": 0,
                    "mn": {}, "mx": {},
                }
            entry = build_block_entry_arrow(
                (file_id, block_id, pid), tbl, cfg, file_sets=fs["sets"]
            )
            rel = fsx.join(f"file_id={file_id}", f"block_id={block_id}")
            entry["data_path"] = rel
            entry["byte_size"] = fsx.write_parquet_atomic(
                fsx.join(data_dir, rel), tbl, "part-0.parquet", **ckw
            )
            fs["rows"] += entry["row_count"]
            fs["tokens"] += entry["token_count"]
            fs["bytes"] += entry["byte_size"]
            fs["blocks"] += 1
            for f2, v in entry["minmax_min"].items():
                fs["mn"][f2] = min(fs["mn"].get(f2, v), v)
            for f2, v in entry["minmax_max"].items():
                fs["mx"][f2] = max(fs["mx"].get(f2, v), v)
            entry["minmax_min"] = list(entry["minmax_min"].items())
            entry["minmax_max"] = list(entry["minmax_max"].items())
            out.append(pa.RecordBatch.from_pylist([entry], schema=STAGING_PA_SCHEMA))
            return out

        nbytes: dict[str, int] = {}
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            for pid in pc.unique(tbl["partition_id"]).to_pylist():
                sub = tbl.filter(pc.equal(tbl["partition_id"], pid))
                buffers.setdefault(pid, []).append(sub)
                counts[pid] = counts.get(pid, 0) + len(sub)
                nbytes[pid] = nbytes.get(pid, 0) + sub.nbytes
                # flush on EITHER cap — rows or bytes (the reference's
                # MaxRowGroupRows / MaxRowGroupBytes, bloom_tree_engine.go:615-628)
                while counts[pid] >= cfg.max_block_rows or (
                    cfg.max_block_bytes is not None
                    and nbytes[pid] >= cfg.max_block_bytes
                    and counts[pid] > 0
                ):
                    whole = pa.concat_tables(buffers[pid]).combine_chunks()
                    if cfg.max_block_bytes is not None and counts[pid] < cfg.max_block_rows:
                        block, rest = whole, whole.slice(0, 0)
                    else:
                        block = whole.slice(0, cfg.max_block_rows)
                        rest = whole.slice(cfg.max_block_rows)
                    buffers[pid] = [rest] if len(rest) else []
                    counts[pid] = len(rest)
                    nbytes[pid] = rest.nbytes if len(rest) else 0
                    yield from flush(pid, block)
        for pid, parts in buffers.items():  # final partial blocks (Stop/flush)
            if counts.get(pid, 0):
                yield from flush(pid, pa.concat_tables(parts).combine_chunks())
        for pid in list(filestate):  # close every open file
            yield finish_file(pid)

    return fn


def _stage_done(path: str) -> bool:
    return fsx.exists(fsx.join(path, "_SUCCESS"))


def _estimate_rows(spark: SparkSession, df: DataFrame) -> int:
    """Row-count estimate WITHOUT a Spark job: sum parquet footer
    ``num_rows`` over the plan's input files (footer reads are O(KB) each,
    driver-side).  >256 files: read a sample of footers and extrapolate by
    byte size.  Non-parquet / in-memory sources fall back to ``df.count()``
    — one (cheap, source-sized) job, but DETERMINISTIC, so the physical
    layout never depends on cluster size (scaling-rule requirement; a
    parallelism-derived guess here would break it).  Caveat (documented):
    footer counts are raw-file counts — filters/joins on ``df`` are not
    reflected, so a selective plan oversizes ``want`` and produces smaller
    blocks/files than configured.  Only layout granularity depends on this,
    never correctness (blocks still flush at the row cap inside each task);
    pre-materialize a heavily-filtered source if exact sizing matters."""
    try:
        files = df.inputFiles()
        resolved = [fsx.resolve(f) for f in files]  # one URI parser (fs.py)
    except (ValueError, NotImplementedError):  # a URI pyarrow cannot resolve
        resolved = []
    local = [p for fs, p in resolved if fsx._is_local(fs)]
    if local and len(local) == len(resolved):
        try:
            if len(local) <= 256:
                return max(1, sum(pq.read_metadata(p).num_rows for p in local))
            sample = local[:256]
            srows = sum(pq.read_metadata(p).num_rows for p in sample)
            sbytes = sum(os.path.getsize(p) for p in sample)
            tbytes = sum(os.path.getsize(p) for p in local)
            return max(1, int(srows * (tbytes / max(1, sbytes))))
        except (OSError, pa.ArrowInvalid):  # an unreadable footer: count instead
            pass
    # in-memory / non-local source: deterministic exact count (see docstring)
    return max(1, df.count())


def build_index(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    cfg: IndexConfig,
    source_desc: str = "",
    mode: str = "overwrite",
    meta_extra: dict | None = None,
    merge_schema: bool = False,
    constraints: dict | None = None,
) -> mf.BloomIndex:
    """Build (or append to) a bloom index over ``df`` and commit it.

    ``mode='append'`` adds new files alongside the current manifest's
    (incremental ingest); ``mode='overwrite'`` starts a fresh index.
    ``merge_schema=True`` lets an append ADD columns (Delta mergeSchema
    analog): the committed column set widens to the superset and every
    read path null-fills the narrower historical blocks; dropping or
    re-typing columns is refused either way.
    ``meta_extra`` keys land in meta.json BEFORE the CURRENT swap — callers
    that need commit-coupled metadata (e.g. the streaming batch watermark)
    must pass it here rather than stamping after commit, or a crash between
    commit and stamp breaks their invariant.

    ``constraints`` (table creation only — appends INHERIT and enforce
    the table's stored constraints automatically; use
    :func:`add_constraint` to evolve them): ``{name: "sql expr"}`` or
    ``{name: {"expr": ..., "action": "fail"|"drop"|"warn"}}`` CHECK
    constraints, evaluated against every ingested row in the SAME pass
    that stages it (an ``Observation`` — zero extra scans).  ``fail``
    aborts the whole build before commit on any violation; ``drop``
    filters violating rows and records counts in the commit's meta;
    ``warn`` records counts only.  See ``operators/constraints.py``.
    Returns a handle to the committed version.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(mode)
    from ..operators.constraints import (
        ConstraintViolation,
        collect_violations,
        enforce_constraints,
        normalize_constraints,
        raise_on_failures,
    )

    cons = normalize_constraints(constraints)
    prev_meta: dict = {}
    if mode == "append":
        if constraints:
            raise ValueError(
                "constraints are table-level: set them at creation "
                "(mode='overwrite') or evolve them with add_constraint()"
            )
        cur = mf.current_version(root)
        if cur is not None:
            import json as _json

            prev_meta = _json.loads(
                fsx.read_bytes(fsx.join(root, "manifest", cur, "meta.json"))
            )
            cons = normalize_constraints(prev_meta.get("constraints"))
    raw_df, cons_obs = df, None
    if cons:
        # constraint exprs reference physical names; rename/drop of a
        # constrained column is refused (plans/colmap.py), so for every
        # constrained column logical == physical and the logical-named
        # input frame evaluates them correctly
        df, cons_obs = enforce_constraints(df, cons)
    mapping_extra: dict = {}
    if mode == "append" and prev_meta.get("column_mapping"):
        # column mapping (r06): the input arrives with LOGICAL names;
        # everything staged/written is PHYSICAL.  Rename here, once, so
        # tokenization, zone maps, sha and the parquet columns all land
        # under the frozen physical names.  Columns NOT in the mapping
        # are new (merge_schema widening — or drift, refused at commit):
        # they keep their name unless it collides with a live or RETIRED
        # physical (a dropped-then-re-added column must never resurrect
        # the old blocks' values), in which case a fresh deterministic
        # physical name is minted.
        import hashlib as _hashlib

        pmap = dict(prev_meta["column_mapping"])
        # fail FAST with mapping-aware guidance: the commit-time column-set
        # check would catch both cases, but only after staging ran (and a
        # config expr over a missing physical column fails confusingly
        # earlier still)
        unknown = sorted(c for c in df.columns if c not in pmap)
        absent = sorted(l for l in pmap if l not in df.columns)
        if unknown and not merge_schema:
            raise ValueError(
                f"append columns {unknown} are not logical columns of the "
                f"index (logical schema: {sorted(pmap)}) — renamed columns "
                "must be supplied under their CURRENT logical names; pass "
                "merge_schema=True to add genuinely new columns"
            )
        if absent:
            raise ValueError(
                f"append is missing logical columns {absent} (logical "
                f"schema: {sorted(pmap)}) — supply them (nulls are fine) "
                "or rebuild with mode='overwrite'"
            )
        taken = set(pmap.values()) | set(prev_meta.get("retired_columns") or [])
        sel, extended = [], dict(pmap)
        for c in df.columns:
            if c in pmap:
                phys = pmap[c]
            else:
                phys = c
                if phys in taken:
                    phys = f"{c}__m{_hashlib.sha1(f'{c}|{cur}'.encode()).hexdigest()[:6]}"
                extended[c] = phys
                taken.add(phys)
            sel.append(F.col(c).alias(phys) if phys != c else F.col(c))
        if extended != pmap:
            mapping_extra["column_mapping"] = extended
        df = df.select(*sel)
    # build_id: the attempt tag baked into file/block ids, staging and
    # segment paths.  Deterministic for a fixed (root state, source) so a
    # crashed build resumes its own staging; the hash of (mode,
    # source_desc) disambiguates distinct CONCURRENT builds (e.g. a stream
    # batch racing a backfill) so their file ids, data paths and
    # scratch/segment dirs never collide — the version-number guess alone
    # is shared by racing committers.  If a concurrent commit wins the
    # version number, finalize() simply lands under the next one — segment
    # names are referenced by meta.json paths, never parsed.
    import hashlib

    version_guess, _ = mf.next_version_dir(root)
    attempt = f"{version_guess}-{hashlib.sha1(f'{mode}|{source_desc}'.encode()).hexdigest()[:6]}"
    build_id = attempt
    data_dir = fsx.join(root, "data")

    scratch = mf.staging_root(root, attempt)
    staging = fsx.join(scratch, "staging.parquet")
    ran_staging = not _stage_done(staging)
    if cfg.block_expr is not None:
        # clustered path: user-controlled block assignment, one data shuffle
        assigned = assign_blocks(df, cfg, build_tag=build_id)
        arrow_schema = _arrow_schema(assigned, drop=("file_id", "block_id"))
        schema_bytes = bytes(arrow_schema.serialize())
        if not _stage_done(staging):
            (
                assigned.groupBy("file_id", "block_id", "partition_id")
                .applyInArrow(_make_block_fn(cfg, data_dir, schema_bytes), STAGING_SCHEMA)
                .write.mode("overwrite")
                .parquet(staging)
            )
    else:
        # default map-only path: zero data shuffle (see module docstring)
        d = stage_keys(df, cfg)
        if cfg.cluster_input:
            # one salted repartition: same-partition rows land together in
            # task-sized salt buckets -> full blocks, no hot task on skew.
            # The salt scatters a partition's rows over ALL `want` buckets
            # (per-row hash), so a dominant partition never forms a hot
            # task; the cost is at most ONE partial tail block per
            # (partition, task) pair actually touched — tiny partitions
            # fragment rather than co-locate (documented tradeoff; set
            # cluster_input=False for already-clustered sources).
            # Task count = enough for full files, but never fewer than 128
            # (so small inputs still parallelize) and never more than one
            # block per task; sized from PARQUET FOOTER metadata on the
            # driver (no Spark job — a df.count() here would be one extra
            # full scan of a 100 TB source), deterministic for fixed input,
            # so the SAME physical layout is produced at any cluster size
            # (scaling-rule requirement).
            import math

            # RAW source: footer counts are filter-agnostic anyway, and the
            # non-parquet count() fallback must not consume the constraint
            # Observation with a pre-staging action
            n_rows = _estimate_rows(spark, raw_df)
            per_task = cfg.max_block_rows * cfg.blocks_per_file
            want = max(1, math.ceil(n_rows / per_task))
            max_tasks = max(1, math.ceil(n_rows / cfg.max_block_rows))
            want = min(max(want, 128), max_tasks)
            salt = F.pmod(_row_hash(df), F.lit(want))
            d = d.repartition(want, F.col("partition_id"), salt)
        if not _stage_done(staging):
            stage_rows(d, cfg, data_dir, build_id, staging)

    if cons and ran_staging:
        # violation counters rode the staging job (zero extra scans);
        # fail-action violations abort BEFORE commit — nothing visible.
        # A crash-RESUMED staging skips the check: the surviving scratch
        # was produced by an enforced (filtered) run of this same build.
        viol = collect_violations(cons_obs, cons)
        try:
            raise_on_failures(viol, cons)
        except ConstraintViolation:
            fsx.delete_dir(scratch)
            raise
        if viol:
            meta_extra = {**(meta_extra or {}), "constraint_violations": viol}
    if cons and mode == "overwrite":
        meta_extra = {**(meta_extra or {}), "constraints": cons}

    # DELTA commit: only this batch's manifest rows are written, as one
    # immutable segment — an append never rewrites the existing manifest
    # (O(batch) bytes per commit; the delta MetaStore.Update contract,
    # meta_store.go:8-22).
    # map path: the tasks emitted one completed file row per file (files
    # are task-local); clustered path: a file's blocks span tasks, so its
    # file row is the fold of their rows
    new_blocks, new_files = seg.split_staging(
        seg.read(spark, staging, STAGING_SCHEMA), rollup=cfg.block_expr is not None
    )
    new_lineage = seg.lineage_of(new_blocks, build_id, "build", source_desc)
    if isinstance(new_blocks, DataFrame):
        # cluster the new blocks by partition_id: the partition prefilter
        # is a PUSHED parquet filter on each segment's blocks file
        # (PLANS.md §1), so clustering turns it into row-group pruning —
        # at 10^7 blocks a partition query reads only its slice of each
        # segment (the Arrow face sorts in split_staging)
        new_blocks = new_blocks.repartition("partition_id").sortWithinPartitions(
            "partition_id"
        )
    seg_name = f"{attempt}-build"
    seg.write_segment(
        mf.segment_dir(root, seg_name),
        {
            "blocks": new_blocks,
            "files": new_files,
            "lineage": new_lineage,
        },
    )

    # finalize runs inside the commit lock, O(meta.json) work only: reads
    # the FRESH predecessor (an append adapts to whatever committed since
    # the build started), unions table lists, records bloom-param
    # uniformity, carries the stream watermark — shared with the
    # DataSource writer (manifest.build_commit_finalize)
    # the source schema rides in meta so a fully-empty index (empty build,
    # expire-everything) can still answer queries with a typed empty frame
    # — without it the empty-scan path had no dtypes to construct one
    version = mf.publish_commit(
        root,
        mf.build_commit_finalize(
            root, cfg, mode, seg_name, source_desc, list(df.columns),
            build_id,
            {"source_schema": df.schema.json(), **(meta_extra or {}),
             **mapping_extra},
            merge_schema=merge_schema,
        ),
    )
    fsx.delete_dir(scratch)  # staging is scratch; the commit owns the data
    return mf.BloomIndex(spark, root, version)
