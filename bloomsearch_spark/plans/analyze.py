"""ANALYZE TABLE — mergeable column statistics carried by the manifest.

``analyze()`` is the ``ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS``
analog: ONE masked scan of the live blocks computes, per (block, column),
an HLL sketch of the values plus exact null/row counts, and commits them as
an OPTIONAL ``colstats`` manifest table (``sources/manifest.py::
COLSTATS_SCHEMA``) — pure metadata, zero data rewrites.

``approx_distinct_meta()`` then answers table-level approx-distinct /
null-count / row-count *from the manifest alone* (zero data scan): the
per-block HLL blobs merge associatively (elementwise register max), the
exact counters sum — the same partials→merge discipline as the bloom
bitsets (plans/build.py) and the sketch library (sketches/pipeline.py).
The manifest's delta segments double as the sketch checkpoint store: stats
survive appends/maintenance via ref carry (keyed by ``(block_id,
data_path)``, so any block rewrite drops its rows from coverage rather than
letting stale stats attach to different data), fold prunes orphans, vacuum
retains referenced segments, restore travels the target's stats.

Staleness is surfaced, never hidden:

- blocks appended after the last ``analyze()`` have no stats → coverage
  drops and the read REFUSES (or reports partial coverage with
  ``allow_partial=True``);
- merge-on-read DV deletes after the last ``analyze()`` make the HLL an
  upper bound (sketches cannot subtract) → the read REFUSES unless
  ``stale_ok=True``.

Reference analog: the reference keeps per-block MinMax + bloom metadata in
its file metadata (file_format.go:36-42); this extends the same
"statistics ride the manifest" idea to the north rule's sketch family.
"""

from __future__ import annotations

import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sketches.hll import HLL, merge_serialized
from ..sources import manifest as mf
from ..sources import segments as seg
from ..sources.manifest import BloomIndex
from .search import scan_blocks

_ATOMIC_OK = ("string", "int", "bigint", "smallint", "tinyint", "float",
              "double", "boolean", "date", "timestamp", "timestamp_ntz",
              "decimal")
# columns whose pandas dtype flips with batch null-composition (nullable
# int64 -> float64; nullable boolean -> object): values are normalized to
# int64 before hashing so 42 and 42.0 land in the SAME HLL register —
# without it a distinct value could occupy two registers and inflate
# n_distinct past the published RSE bound (ADVICE r06)
_INTLIKE = ("int", "bigint", "smallint", "tinyint", "boolean")


def _atomic_base(simple: str) -> str:
    """Base type name of a simpleString — ``decimal(10,2)`` -> ``decimal``.
    Matched EXACTLY against _ATOMIC_OK: a prefix match would let interval
    types (simpleString ``interval day to second``) slip past the
    non-atomic refusal via the ``int`` prefix (ADVICE r06)."""
    return simple.split("(", 1)[0].strip()


def _schema_types(index: BloomIndex) -> dict:
    """physical column name -> simple type string, from the stored source
    schema (empty when the meta predates source_schema)."""
    import json

    sj = index.meta().get("source_schema")
    if not sj:
        return {}
    from pyspark.sql.types import StructType

    st = StructType.fromJson(json.loads(sj))
    return {f.name: f.dataType.simpleString() for f in st.fields}


def analyze(
    spark: SparkSession,
    root: str,
    columns: list[str],
    p: int = 12,
    conflict_retries: int = 0,
) -> BloomIndex:
    """Compute per-(block, column) statistics over the LIVE rows (DV-masked
    scan) and commit them as the ``colstats`` manifest table.

    One data pass total, regardless of column count: a single
    ``mapInPandas`` keeps one HLL per (block, column) per task (whole-batch
    numpy updates, no per-row Python), then a manifest-sized groupBy merges
    the KB-scale partials — identical shape to the index build's
    zero-shuffle partial rollup (plans/build.py).

    Each call REPLACES the colstats table (stats are derived, rebuildable
    state — pass every column you want covered).  Columns are LOGICAL
    names; stats rows store the frozen physical name.  Refuses external
    overlays (their data is foreign; analyze the source table directly)
    and non-atomic column types (array/map/struct).
    """
    index = BloomIndex.load(spark, root)
    if index.meta().get("external", False):
        raise ValueError(
            "analyze() is not supported on external (zero-copy overlay) "
            "indexes — compute statistics over the source table directly"
        )
    if not columns:
        raise ValueError("analyze() needs at least one column")
    phys = [index.to_physical(c) for c in columns]
    types = _schema_types(index)
    known = set(index.meta().get("source_columns") or types.keys())
    missing = [c for c, pc in zip(columns, phys) if known and pc not in known]
    if missing:
        raise ValueError(f"analyze(): unknown columns {missing}")
    bad = [
        c
        for c, pc in zip(columns, phys)
        if types and _atomic_base(types.get(pc, "string")) not in _ATOMIC_OK
    ]
    if bad:
        raise ValueError(
            f"analyze(): non-atomic column types are not supported: "
            f"{ {c: types[index.to_physical(c)] for c in bad} }"
        )

    data = scan_blocks(index, index.blocks(), mask=True).select("block_id", *phys)
    out_schema = (
        "block_id string, column string, hll binary, "
        "null_count long, row_count long"
    )
    # HLL value identity must not depend on pandas dtype promotion: an
    # int column's batch arrives int64 when null-free but float64 when any
    # null is present, and hash_array hashes 42 != 42.0 — normalize
    # int-like columns back to int64 after dropping nulls (ADVICE r06)
    intlike = {
        pc for pc in phys if _atomic_base(types.get(pc, "")) in _INTLIKE
    }

    def partials(batches):
        # state: (block_id, column) -> [HLL, null_count, row_count]
        states: dict[tuple, list] = {}
        for pdf in batches:
            for bid, grp in pdf.groupby("block_id", sort=False):
                for col in phys:
                    st = states.get((bid, col))
                    if st is None:
                        st = states[(bid, col)] = [HLL(p), 0, 0]
                    vals = grp[col]
                    nn = vals.dropna()
                    arr = nn.to_numpy()
                    if col in intlike and arr.dtype != np.int64:
                        arr = arr.astype(np.int64)
                    elif arr.dtype == np.bool_:
                        arr = arr.astype(np.int64)
                    st[0].add_values(arr)
                    st[1] += int(len(vals) - len(nn))
                    st[2] += int(len(vals))
        if not states:
            yield pd.DataFrame(
                columns=["block_id", "column", "hll", "null_count", "row_count"]
            )
            return
        yield pd.DataFrame(
            [
                {
                    "block_id": bid,
                    "column": col,
                    "hll": st[0].to_bytes(),
                    "null_count": st[1],
                    "row_count": st[2],
                }
                for (bid, col), st in states.items()
            ]
        )

    def merge_fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "block_id": [key[0]],
                "column": [key[1]],
                "hll": [merge_serialized(list(pdf["hll"]))],
                "null_count": [int(pdf["null_count"].sum())],
                "row_count": [int(pdf["row_count"].sum())],
            }
        )

    computed = (
        data.mapInPandas(partials, out_schema)
        .groupBy("block_id", "column")
        .applyInPandas(merge_fn, out_schema)
    )
    # EVERY live (block, column) gets a row — a block whose rows are all
    # DV-masked (or otherwise empty) contributes an empty sketch and zero
    # counts; without this, fully-masked blocks would read as "not
    # analyzed" and trip the coverage refusal forever
    cols_df = spark.createDataFrame([(c,) for c in phys], "column string")
    empty_blob = HLL(p).to_bytes()
    # per-block DV position count AT analyze time: later reads compare it
    # against the then-current count to detect DV-staleness (deltas are
    # append-only per block, so equality == nothing masked since analyze)
    dvs = index.dvs()
    dv_seen = (
        dvs.groupBy("block_id").agg(F.sum("dv_count").alias("dv_count_seen"))
        if dvs is not None
        else None
    )
    stats = (
        index.blocks()
        .select("block_id", "data_path")
        .crossJoin(F.broadcast(cols_df))
        .join(computed, ["block_id", "column"], "left")
    )
    if dv_seen is not None:
        stats = stats.join(dv_seen, "block_id", "left")
    else:
        stats = stats.withColumn("dv_count_seen", F.lit(None).cast("long"))
    stats = stats.select(
        "block_id",
        "data_path",
        "column",
        F.coalesce("hll", F.lit(empty_blob)).alias("hll"),
        F.coalesce("null_count", F.lit(0)).cast("long").alias("null_count"),
        F.coalesce("row_count", F.lit(0)).cast("long").alias("row_count"),
        F.coalesce("dv_count_seen", F.lit(0)).cast("long").alias("dv_count_seen"),
    )

    version_guess, _ = mf.next_version_dir(root)
    seg_name = f"{version_guess}-analyze-{uuid.uuid4().hex[:8]}"
    seg.write_segment(mf.segment_dir(root, seg_name), {"colstats": stats})
    try:
        return mf.commit_child(
            index, "analyze",
            tables={"colstats": [mf.segment_ref(seg_name, "colstats")]},
            meta={"analyzed_columns": list(columns)},
        )
    except mf.CommitConflict:
        if conflict_retries <= 0:
            raise
        return analyze(spark, root, columns, p, conflict_retries - 1)


def approx_distinct_meta(
    spark: SparkSession,
    root: str,
    columns: list[str] | None = None,
    version: str | None = None,
    timestamp=None,
    allow_partial: bool = False,
    stale_ok: bool = False,
) -> DataFrame:
    """Table-level approx-distinct + exact null/row counts from the
    MANIFEST ALONE — zero data bytes read.

    Output: ``(column, n_distinct double, rse double, null_count long,
    row_count long, blocks_covered long, blocks_live long)`` — one row per
    analyzed column (logical names).  The driver merges only KB-scale
    blobs; the per-column fold runs distributed (groupBy over
    manifest-sized rows).

    Refuses (a) never-analyzed roots, (b) incomplete coverage — live
    blocks appended after the last ``analyze()`` — unless
    ``allow_partial=True`` (then estimates cover the analyzed subset and
    the coverage columns say so), and (c) DV deletes newer than the stats
    — sketches cannot subtract, so the estimate would silently become an
    upper bound — unless ``stale_ok=True``."""
    index = BloomIndex.load(spark, root, version=version, timestamp=timestamp)
    cs = index.colstats()
    if cs is None:
        raise ValueError(
            f"{root} has no column statistics — run analyze() first"
        )
    live = index.blocks().select("block_id", "data_path")
    covered = cs.join(live, ["block_id", "data_path"], "left_semi")
    if columns:
        phys = [index.to_physical(c) for c in columns]
        covered = covered.filter(F.col("column").isin(phys))

    # block_ids are unique within a committed manifest, so the live-block
    # count is the blocks table's row count — parquet footer sums, zero
    # Spark jobs (fall back to the distinct count if the driver cannot
    # read the root)
    n_live = index.table_rows("blocks")
    if n_live is None:
        n_live = live.distinct().count()
    cov_blocks = covered.select("block_id", "data_path").distinct().count()
    if cov_blocks < n_live and not allow_partial:
        raise ValueError(
            f"column statistics cover {cov_blocks}/{n_live} live blocks "
            "(blocks were appended/rewritten since the last analyze()) — "
            "re-run analyze(), or pass allow_partial=True for an estimate "
            "over the covered subset"
        )
    dvs = index.dvs()
    if dvs is not None and not stale_ok:
        # stale = any covered block whose CURRENT masked-position count
        # differs from the count the stats were computed against
        # (dv_count_seen) — DV deltas are append-only per block, so
        # equality means nothing was masked since analyze
        cur = dvs.groupBy("block_id").agg(F.sum("dv_count").alias("_dv_now"))
        stale = (
            covered.select("block_id", "dv_count_seen")
            .distinct()
            .join(cur, "block_id", "left")
            .filter(
                F.coalesce(F.col("_dv_now"), F.lit(0)) != F.col("dv_count_seen")
            )
            .limit(1)
            .count()
        )
        if stale:
            raise ValueError(
                "deletion vectors newer than the statistics mask rows "
                "inside analyzed blocks — the HLL estimate cannot subtract "
                "deletes and becomes an upper bound.  Re-run analyze() (it "
                "scans masked), purge/compact first, or pass stale_ok=True "
                "to accept the upper bound"
            )

    out_schema = (
        "column string, n_distinct double, rse double, "
        "null_count long, row_count long, blocks_covered long"
    )

    def fold(key, pdf: pd.DataFrame) -> pd.DataFrame:
        h = HLL.from_bytes(merge_serialized(list(pdf["hll"])))
        return pd.DataFrame(
            {
                "column": [key[0]],
                "n_distinct": [h.estimate()],
                "rse": [h.rse],
                "null_count": [int(pdf["null_count"].sum())],
                "row_count": [int(pdf["row_count"].sum())],
                "blocks_covered": [len(pdf)],
            }
        )

    per_col = covered.groupBy("column").applyInPandas(fold, out_schema)
    # emit LOGICAL column names; blocks_live for the coverage story
    m = index.column_mapping()
    if m:
        inv = {p: l for l, p in m.items()}
        mapdf = spark.createDataFrame(
            [(p, l) for p, l in inv.items()], "column string, logical string"
        )
        per_col = (
            per_col.join(F.broadcast(mapdf), "column", "left")
            .withColumn("column", F.coalesce("logical", "column"))
            .drop("logical")
        )
    return per_col.withColumn("blocks_live", F.lit(n_live).cast("long"))
