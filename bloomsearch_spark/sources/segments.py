"""The one writer of manifest delta segments.

A commit is one immutable O(batch) segment under ``manifest/segments/``
(the reference's ``MetaStore.Update`` delta contract, meta_store.go:8-22):
a ``blocks``/``files``/``lineage`` table each, plus ``dvs`` for
deletion-vector deltas.  Everything about that format that more than one
commit path needs lives here, each with an Arrow face (driver-side,
manifest-sized inputs) and a Spark face (staging too large for the
driver — a 100 TB build's staging is GBs):

- the staging -> blocks/files column map (:func:`split_staging`);
- the manifest-row fold (:func:`fold`): the one associative rollup of
  block or file rows — counters sum, minmax maps union-widen (M5),
  equal-size blooms bitwise-OR (M4); bloom_tree_engine.go:1401-1446.
  Every rollup runs it: a build's file rows from its block rows, an
  external build's block rows from split-spanning partials, merged file
  rows, consolidated block rows;
- the lineage rows, in ``LINEAGE_SCHEMA`` order (:func:`lineage_of`);
- the gate that picks the face (:func:`read`): the footer
  ``total_uncompressed_size`` of the column chunks the commit reads —
  what the driver would hold decoded — against
  :data:`DRIVER_SEGMENT_MAX_BYTES`;
- the write (:func:`write_segment`): per-table ``_SUCCESS`` resume
  markers, Arrow tables as one atomic snappy file with page checksums and
  small row groups, DataFrames as concurrent Spark jobs;
- the sliced write of a row mutation's block rows (:func:`write_slices`):
  one table dir per slice, each its own segment ref, so the next mutation
  copies only the slices it changes and keeps the rest referenced.
"""

from __future__ import annotations

import math
import time
import zlib
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import bloom
from . import fs as fsx

# Manifest-sized work belongs on the driver: one pyarrow read + atomic
# writes cost ~50 ms where one Spark job per table costs ~0.2-0.3 s of
# fixed latency.  Past this many decoded bytes the Spark face runs.
DRIVER_SEGMENT_MAX_BYTES = 256 << 20

# staging column -> segment column; staging rows are block rows (block_id
# set) or, on the map path, completed file rows (block_id null)
BLOCK_COLUMNS = (
    "file_id", "block_id", "partition_id", "data_path",
    "row_count", "token_count", "byte_size",
    "minmax_min", "minmax_max", "expected_items", "fpr",
    "field_bloom", "token_bloom", "fieldtoken_bloom",
)
FILE_COLUMNS = {
    "file_id": "file_id",
    "partition_id": "partition_id",
    "block_count": "block_count",
    "row_count": "row_count",
    "token_count": "token_count",
    "byte_size": "byte_size",
    "minmax_min": "minmax_min",
    "minmax_max": "minmax_max",
    "expected_items": "file_expected_items",
    "fpr": "file_fpr",
    "field_bloom": "file_field_bloom",
    "token_bloom": "file_token_bloom",
    "fieldtoken_bloom": "file_fieldtoken_bloom",
}
# the counters :func:`fold` sums; ``*bloom`` columns OR, the minmax maps
# widen, every other column is constant per group
SUM_COLUMNS = ("row_count", "token_count", "byte_size", "block_count")
# the blocks columns a lineage delta reads
LINEAGE_SOURCE_COLUMNS = (
    "file_id", "block_id", "partition_id", "row_count", "token_count",
)

_WRITE_KW = {
    "compression": "snappy",
    "write_page_checksum": True,
    # small row groups: the blocks are clustered by partition_id, so the
    # pushed partition prefilter prunes at row-group granularity
    "row_group_size": 4096,
}

# A row mutation writes its block rows as slices (:func:`write_slices`) of
# about ``max(SLICE_ROWS, blocks / MAX_SLICES)`` rows, a row going to
# slice ``crc32(file_id) % n``: the next mutation copies only the slices
# that hold a changed block, and a rewritten block keeps its file_id, so
# it stays in its slice.  A version then references about MAX_SLICES
# slices at most, whatever its mutation history.
SLICE_ROWS = 16
MAX_SLICES = 64


def read(spark: SparkSession, path, schema, columns=None) -> pa.Table | DataFrame:
    """Read the parquet dir ``path`` — or the union of a list of dirs, a
    manifest table's segments — (``columns`` of it, default all) as an
    Arrow table when the driver can hold it, else as a DataFrame with
    ``schema`` (a DDL string or ``StructType``).

    The Spark face runs past :data:`DRIVER_SEGMENT_MAX_BYTES` of footer
    uncompressed bytes, and when the driver cannot read the path: no
    pyarrow filesystem for its URI, or an ``OSError`` from the store.
    Any other error (a corrupt footer, a bug) raises."""
    paths = [path] if isinstance(path, str) else list(path)
    try:
        fs, _ = fsx.resolve(paths[0])
    except (ValueError, NotImplementedError):
        return _spark_read(spark, paths, schema, columns)
    try:
        parts = [p for d in paths for p in fsx.list_parquet_files(d)]
        if parts and _decoded_bytes(fs, parts, columns) <= DRIVER_SEGMENT_MAX_BYTES:
            return pa.concat_tables(
                [fsx.read_parquet_dir(d, columns=columns) for d in paths],
                promote_options="default",
            )
    except OSError:
        pass  # the store failed or refused the driver
    return _spark_read(spark, paths, schema, columns)


def _decoded_bytes(fs, parts: list[str], columns) -> int:
    want = None if columns is None else set(columns)
    total = 0
    for uri in parts:
        md = pq.read_metadata(fsx.resolve(uri)[1], filesystem=fs)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                chunk = rg.column(c)
                if want is None or chunk.path_in_schema.split(".")[0] in want:
                    total += chunk.total_uncompressed_size
    return total


def _spark_read(spark: SparkSession, paths: list[str], schema, columns) -> DataFrame:
    df = spark.read.schema(schema).parquet(*paths)
    return df if columns is None else df.select(*columns)


def split_staging(st: pa.Table | DataFrame, rollup: bool = False):
    """``(blocks, files)`` segment tables of a staging table, same face
    as ``st``.  The Arrow face sorts blocks by ``partition_id`` (row-group
    pruning for the partition prefilter); the Spark face leaves ordering
    to the caller.

    The map build's staging carries its completed file rows (files are
    task-local there).  With ``rollup`` the staging holds block rows only
    — a file's blocks span tasks (the clustered and external builds) —
    and the files are the :func:`fold` of those rows' file-level columns,
    one block each."""
    if isinstance(st, pa.Table):
        is_block = pc.is_valid(st["block_id"])
        blocks = st.filter(is_block).select(list(BLOCK_COLUMNS)).sort_by("partition_id")
        if rollup:
            frows = st.select(list(FILE_COLUMNS.values()))
            frows = fold(frows.set_column(
                frows.schema.get_field_index("block_count"), "block_count",
                pa.array(np.ones(st.num_rows, np.int64)),
            ), "file_id")
        else:
            frows = st.filter(pc.invert(is_block))
        files = pa.table({seg: frows[src] for seg, src in FILE_COLUMNS.items()})
        return blocks, files
    blocks = st.filter(F.col("block_id").isNotNull()).select(*BLOCK_COLUMNS)
    if rollup:
        frows = fold(st.select(*[
            F.lit(1).cast("long").alias(c) if c == "block_count" else c
            for c in FILE_COLUMNS.values()
        ]), "file_id")
    else:
        frows = st.filter(F.col("block_id").isNull())
    files = frows.select(*[F.col(src).alias(seg) for seg, src in FILE_COLUMNS.items()])
    return blocks, files


def fold(rows: pa.Table | DataFrame, key: str) -> pa.Table | DataFrame:
    """The manifest-row fold: one row per distinct ``key`` of ``rows``
    (block, file or staging rows), same face and schema as ``rows``.

    - :data:`SUM_COLUMNS` are summed;
    - ``minmax_min``/``minmax_max`` maps union-widen (per field the min /
      max; int64 values stay exact; a null map adds no field);
    - the ``*bloom`` bitset columns OR (a null or empty bitset adds no
      bit; a group with none stays null); bitsets of different sizes in
      one group raise ``ValueError`` (M4: only equal-(m, k) filters merge);
    - every other column is constant per group and keeps the first row's
      value.

    Associative and order-free, so a retried task, a replayed stage or a
    re-fold of folded rows gives the same rows.  The Arrow face works on
    the driver; the Spark face runs the same function as the
    ``groupBy(key).applyInArrow`` body, one group per call."""
    if isinstance(rows, DataFrame):
        def body(tbl):
            return fold(tbl, key)

        return rows.groupBy(key).applyInArrow(body, rows.schema)
    n = rows.num_rows
    if n == 0:
        return rows
    codes = pc.dictionary_encode(
        rows[key].combine_chunks(), null_encoding="encode"
    ).indices.to_numpy()
    order = np.argsort(codes, kind="stable")
    srt = rows.take(pa.array(order))
    starts = np.flatnonzero(np.r_[True, codes[order][1:] != codes[order][:-1]])
    gid = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, n]))
    out = []
    for field in rows.schema:
        col = srt[field.name].combine_chunks()
        if field.name in SUM_COLUMNS:
            vals = pc.fill_null(col, 0).to_numpy()
            out.append(pa.array(np.add.reduceat(vals, starts), field.type))
        elif field.name in ("minmax_min", "minmax_max"):
            how = "min" if field.name == "minmax_min" else "max"
            out.append(_widen(col, gid, len(starts), how))
        elif field.name.endswith("bloom"):
            out.append(_or_bitsets(col, gid, len(starts)))
        else:
            out.append(col.take(pa.array(starts)))
    return pa.Table.from_arrays(out, schema=rows.schema)


def _widen(col: pa.MapArray, gid: np.ndarray, n_groups: int, how: str) -> pa.MapArray:
    """Per group, the union of the rows' minmax maps: ``how`` ("min" /
    "max") of each field's values, fields in first-seen order."""
    lens = np.diff(col.offsets.to_numpy())  # a null map spans no entries
    ent = pa.table({"g": np.repeat(gid, lens), "k": col.keys, "v": col.items})
    agg = ent.group_by(["g", "k"], use_threads=False).aggregate([("v", how)])
    g = agg["g"].to_numpy()
    order = np.argsort(g, kind="stable")
    offs = np.r_[0, np.cumsum(np.bincount(g, minlength=n_groups))].astype(np.int32)
    return pa.MapArray.from_arrays(
        pa.array(offs),
        agg["k"].combine_chunks().take(pa.array(order)),
        agg[f"v_{how}"].combine_chunks().take(pa.array(order)),
        type=col.type,
    )


def _or_bitsets(col: pa.BinaryArray, gid: np.ndarray, n_groups: int) -> pa.Array:
    """Per group, the bitwise OR of the rows' serialized bitsets, one
    bitset size at a time."""
    lens = pc.fill_null(pc.binary_length(col), 0).to_numpy().astype(np.int64)
    pieces, where, k = [], np.full(n_groups, -1, np.int64), 0
    for nbytes in np.unique(lens[lens > 0]):
        rows = lens == nbytes
        _, mat = bloom.bitset_matrix(col.filter(pa.array(rows)), int(nbytes))
        g = gid[rows]
        first = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
        if (where[g[first]] >= 0).any():  # the group has another size too
            raise ValueError("cannot merge bloom filters of different sizes in one group")
        merged = np.ascontiguousarray(np.bitwise_or.reduceat(mat, first, axis=0))
        offs = (np.arange(len(first) + 1) * int(nbytes)).astype(
            np.int64 if pa.types.is_large_binary(col.type) else np.int32
        )
        pieces.append(pa.Array.from_buffers(
            col.type, len(first), [None, pa.py_buffer(offs), pa.py_buffer(merged)]
        ))
        where[g[first]] = np.arange(k, k + len(first))
        k += len(first)
    if not pieces:
        return pa.nulls(n_groups, col.type)
    return pa.concat_arrays(pieces).take(pa.array(where, mask=where < 0))


def lineage_of(
    blocks: pa.Table | DataFrame,
    build_id: str,
    op: str,
    source_desc: str | None = None,
    rows=None,
    tokens=None,
) -> pa.Table | DataFrame:
    """The lineage rows of one commit, one per row of ``blocks``, in
    ``LINEAGE_SCHEMA`` order and the same face as ``blocks``.

    ``rows``/``tokens`` default to the blocks' ``row_count``/
    ``token_count``; a deletion-vector delta passes its own (an Arrow
    array or Spark Column of the negated ``dv_count``, and ``0``).
    ``source_desc`` defaults to ``op``."""
    desc = op if source_desc is None else source_desc
    now = time.time()
    if isinstance(blocks, pa.Table):
        n = blocks.num_rows

        def const(v, t):
            return pa.array([v] * n, t)

        def num(v, default):
            if v is None:
                return blocks[default]
            return const(v, pa.int64()) if isinstance(v, int) else v

        return pa.table(
            {
                "build_id": const(build_id, pa.string()),
                "file_id": blocks["file_id"],
                "block_id": blocks["block_id"],
                "partition_id": blocks["partition_id"],
                "source_desc": const(desc, pa.string()),
                "rows_indexed": num(rows, "row_count"),
                "tokens_inserted": num(tokens, "token_count"),
                "op": const(op, pa.string()),
                "committed_at": const(now, pa.float64()),
            }
        )

    def col(v, default) -> Column:
        if v is None:
            return F.col(default)
        return v if isinstance(v, Column) else F.lit(v)

    return blocks.select(
        F.lit(build_id).alias("build_id"),
        "file_id",
        "block_id",
        "partition_id",
        F.lit(desc).alias("source_desc"),
        col(rows, "row_count").cast("long").alias("rows_indexed"),
        col(tokens, "token_count").cast("long").alias("tokens_inserted"),
        F.lit(op).alias("op"),
        F.lit(now).alias("committed_at"),
    )


def frame(spark: SparkSession, tbl: pa.Table | DataFrame) -> DataFrame:
    """``tbl`` as a DataFrame: an Arrow table lifted to the Spark face."""
    return spark.createDataFrame(tbl) if isinstance(tbl, pa.Table) else tbl


def union(spark: SparkSession, a: pa.Table | DataFrame, b: pa.Table | DataFrame):
    """The rows of ``a`` and then of ``b``: an Arrow table (``a``'s
    schema) when both are Arrow, else a DataFrame."""
    if isinstance(a, pa.Table) and isinstance(b, pa.Table):
        return pa.concat_tables([a, b.select(a.column_names).cast(a.schema)])
    return frame(spark, a).unionByName(frame(spark, b))


def write_segment(seg_dir: str, tables: dict) -> None:
    """Write ``{name: pa.Table | DataFrame}`` as ``<seg_dir>/<name>.parquet``.

    A table whose ``_SUCCESS`` marker exists is skipped (a resumed commit
    already wrote it).  Arrow tables are written on the driver: one atomic
    part file, then the marker.  DataFrames are written by Spark (which
    writes the marker), as concurrent jobs: manifest-sized jobs are fixed
    latency, so a commit pays max(job), not sum(jobs)."""
    dfs = []
    for name, tbl in tables.items():
        out = fsx.join(seg_dir, f"{name}.parquet")
        if fsx.exists(fsx.join(out, "_SUCCESS")):
            continue
        if isinstance(tbl, pa.Table):
            fsx.delete_dir(out)  # a partial prior attempt must not mix in
            _write_part(out, tbl)
            fsx.write_bytes_atomic(fsx.join(out, "_SUCCESS"), b"")
        else:
            dfs.append((out, tbl))
    if dfs:
        with ThreadPoolExecutor(max_workers=len(dfs)) as ex:
            futures = [ex.submit(df.write.mode("overwrite").parquet, out) for out, df in dfs]
            for f in futures:
                f.result()


def _write_part(dir_uri: str, tbl: pa.Table) -> None:
    """``tbl`` as the one part file of ``dir_uri``.  Min/max statistics
    are kept for the flat columns only: those of a bloom bitset (or a
    nested column) prune nothing and cost a bitset-sized footer entry."""
    # drop schema metadata: a table read from Spark-written parquet
    # carries Spark's row schema of THAT file, which Spark's schema
    # inference would then report for this one
    stats = [
        f.name for f in tbl.schema
        if not pa.types.is_nested(f.type) and not f.name.endswith("bloom")
    ]
    fsx.write_parquet_atomic(
        dir_uri, tbl.replace_schema_metadata(None), "part-0.parquet",
        write_statistics=stats, **_WRITE_KW,
    )


def slice_rows(blocks: int) -> int:
    """Rows a slice aims at in a version of ``blocks`` blocks."""
    return max(SLICE_ROWS, math.ceil(blocks / MAX_SLICES))


def write_slices(seg_dir: str, name: str, tbl: pa.Table | DataFrame, rows: int) -> list[str]:
    """Write the block rows ``tbl`` as ``len(tbl) // rows`` slices (at
    least one, at most :data:`MAX_SLICES`) under
    ``<seg_dir>/<name>.parquet/`` and return their dir names,
    ``slice=<i>``, in slice order.  Nothing is written for an empty
    ``tbl``.

    Both faces cut the same slices: an Arrow table is written on the
    driver, one atomic part file a slice sorted by ``partition_id``; a
    DataFrame by one ``partitionBy`` job, after a count and a distinct
    job.  A ``_SUCCESS`` marker in the table dir skips the write, as in
    :func:`write_segment`."""
    out = fsx.join(seg_dir, f"{name}.parquet")
    done = fsx.exists(fsx.join(out, "_SUCCESS"))
    if isinstance(tbl, pa.Table):
        k = max(1, min(MAX_SLICES, tbl.num_rows // rows))
        ids = pc.fill_null(tbl["file_id"], "")
        uniq = pc.unique(ids)
        crc = pa.array([zlib.crc32(f.encode()) % k for f in uniq.to_pylist()], pa.int64())
        slot = crc.take(pc.index_in(ids, value_set=uniq))
        present = [int(i) for i in np.unique(slot.to_numpy())]
        if present and not done:
            fsx.delete_dir(out)  # a partial prior attempt must not mix in
            for i in present:
                part = tbl.filter(pc.equal(slot, i)).sort_by("partition_id")
                _write_part(fsx.join(out, f"slice={i}"), part)
            fsx.write_bytes_atomic(fsx.join(out, "_SUCCESS"), b"")
    else:
        k = max(1, min(MAX_SLICES, tbl.count() // rows))
        crc = F.crc32(F.coalesce(F.col("file_id"), F.lit("")).cast("binary"))
        df = tbl.withColumn("slice", (crc % k).cast("int"))
        present = sorted(r[0] for r in df.select("slice").distinct().collect())
        if present and not done:
            df.write.mode("overwrite").partitionBy("slice").parquet(out)
    return [f"slice={i}" for i in present]
