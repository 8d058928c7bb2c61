"""Query execution plan — hierarchical pruning on the driver, then an
exact scan.

Mirrors the reference read path (SURVEY.md §3.2; bloom_tree_engine.go:910-1204):

    manifest files  --(file-level bloom probe)---------------->  Q9
    manifest blocks --(surviving files, prefilter: partition /
                       minmax, block-level bloom probe)------->  Q3-Q6, Q10
    pruned Parquet scan of surviving (file_id, block_id) dirs -> Q11
    exact verify predicate ∧ final regex filter --------------->  Q12-Q13

The prune is the one driver walk of operators/probe.py: the manifest
streams through the driver in arrow batches and the surviving-block list
(the reference's MetaStore "MaybeFile" contract, meta_store.go:33-41)
becomes an explicit path-list scan — zero Spark jobs before the caller's
action, zero wasted I/O.  The regex field-guard rewrite (Q14) is applied
when building the prune tree (Query.prune_bloom).  Past
``MAX_COLLECTED_BLOCKS`` survivors the scan falls back to a broadcast
semi-join of the full data root against the prefilter slice of the
manifest, so the driver never holds an unbounded list; blooms only
disqualify and verify is exact, so the rows are the same.

Scan planning costs follow the survivors, not the index: the deletion-
vector anti-join runs only when a surviving block carries DVs (the
handle's ``dv_data_paths()``; against DV-free blocks it is the
identity), and the survivor dirs are listed with at most one Spark task
per core (``sources.manifest.read_parquet``).

A point search's cost is fixed per query, so it is kept small.  The
query-independent Columns of the plan (each indexed column's token
array, the literals, the output projection) are built once per index
handle and scan schema (``_plan_pieces``); a warm search builds only its
per-token leaves.  When exactly one block of an internal index survives,
the result is single-partition (``coalesce(1)``): Spark then plans
``count()`` and other global aggregates over it as one stage, one job
instead of a scan job plus a shuffle stage.  No parallelism is lost: a
block holds at most ``max_block_rows`` rows, far below pyarrow's
1,048,576-row row group, so its file is one row group, which one task
reads anyway.  External blocks (whole source files, possibly many row
groups) and multi-block results keep Spark's partitioning.
"""

from __future__ import annotations

from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.probe import DriverPruneOverflow, _manifest_batches, prune_blocks_driver
from ..operators.verify import VerifyColumns, json_verify_udf
from ..query import Query, compile_prefilter
from ..sources.manifest import BloomIndex, capped_listing, read_parquet
from ..tokenizer import get_tokenizer

# above this many surviving blocks, switch from an explicit path-list scan
# to a broadcast semi-join (keeps the driver list bounded at huge scale)
MAX_COLLECTED_BLOCKS = 100_000


@dataclass
class QueryStats:
    """Prune-funnel + scan counters (the reference's BlockStats /
    BloomFilterSkipped, bloom_tree_engine.go:137-147, 1078-1095).

    The funnel counters are exact integers counted by the driver walk as
    the manifest streams past — no Spark job.

    The SCAN counters (the per-block BlockStats analog) ``rows_scanned`` /
    ``rows_matched`` / ``blocks_with_matches`` fill on ``finish()``: one
    exact aggregation job over the scanned frame.  ``fp_blocks`` is then
    the MEASURED count of bloom false-positive blocks (survived pruning,
    zero verified rows) — the production FPR monitoring signal."""

    total_files: int = 0
    total_blocks: int = 0
    blocks_after_prefilter: int = 0
    files_after_file_bloom: int = 0
    blocks_after_block_bloom: int = 0
    rows_scanned: int | None = None
    rows_matched: int | None = None
    blocks_with_matches: int | None = None
    extra: dict = field(default_factory=dict)
    _scan: tuple | None = field(default=None, repr=False)

    def finish(self) -> "QueryStats":
        """Resolve the scan-side counters (once; later calls are free)."""
        if self._scan is not None:
            data, pred, block = self._scan
            self._scan = None
            self.rows_scanned, self.rows_matched, self.blocks_with_matches = (
                _scan_counts(data, pred, block)
            )
        return self

    @property
    def fp_blocks(self) -> int | None:
        """Measured bloom false-positive blocks: survived all pruning but
        verified to zero matching rows."""
        self.finish()
        if self.blocks_with_matches is None:
            return None
        return self.blocks_after_block_bloom - self.blocks_with_matches

    @property
    def prune_ratio(self) -> float:
        """Fraction of all blocks eliminated before any data was read."""
        if self.total_blocks == 0:
            return 0.0
        return 1.0 - self.blocks_after_block_bloom / self.total_blocks


def _scan_counts(data: DataFrame, pred: Column, block: Column) -> tuple[int, int, int]:
    """(rows scanned, rows matching ``pred``, distinct ``block`` values
    with a match) over ``data`` — exact, in ONE Spark job: each task
    reduces its rows to a partial (count, count, block set) and the
    driver merges them (a global aggregate would add a shuffle stage)."""

    def partial(batches):
        n = m = 0
        hit_blocks: set = set()
        for b in batches:
            hit = pc.fill_null(b.column("_m"), False)
            n += b.num_rows
            m += pc.sum(hit.cast(pa.int64())).as_py() or 0
            hit_blocks.update(b.column("_b").filter(hit).to_pylist())
        yield pa.RecordBatch.from_pydict(
            {"n": [n], "m": [m], "b": [sorted(hit_blocks)]},
            schema=pa.schema([("n", pa.int64()), ("m", pa.int64()), ("b", pa.list_(pa.string()))]),
        )

    rows = (
        data.select(block.alias("_b"), pred.alias("_m"))
        .mapInArrow(partial, "n long, m long, b array<string>")
        .collect()
    )
    hit_blocks = set().union(*(r.b for r in rows))
    return sum(r.n for r in rows), sum(r.m for r in rows), len(hit_blocks)


def prune_blocks(
    index: BloomIndex, query: Query, stats: QueryStats | None = None
) -> list[tuple[str, str]]:
    """Manifest-level pruning: prefilter -> file blooms -> block blooms,
    on the driver.  Returns the surviving blocks' ``(data_path,
    partition_id)`` pairs; ``stats`` receives the funnel counters.
    Raises ``DriverPruneOverflow`` past ``MAX_COLLECTED_BLOCKS`` survivors
    (see :func:`candidate_blocks`)."""
    return prune_blocks_driver(
        None, index.root, index.version, query, index.table_refs(),
        MAX_COLLECTED_BLOCKS, stats,
    )


def candidate_blocks(
    index: BloomIndex, query: Query, stats: QueryStats | None = None
):
    """What a query scans: :func:`prune_blocks`' survivor list, or — past
    ``MAX_COLLECTED_BLOCKS`` survivors — the prefilter slice of the block
    manifest, which :func:`scan_blocks` turns into a data-root broadcast
    semi-join.  Blooms only disqualify and verify is exact, so both give
    the same rows."""
    try:
        return prune_blocks(index, query, stats)
    except DriverPruneOverflow:
        return index.blocks().filter(compile_prefilter(query.prefilter))


def _block_read_schema(index: BloomIndex):
    """Explicit scan schema for block data dirs: the committed UNION
    source schema (meta ``source_schema`` — widened by merge_schema
    appends) plus the engine columns every block carries.  Passing it to
    the parquet reader makes Spark null-fill columns a narrower
    historical block predates (schema-on-read; no mergeSchema footer
    sweep), where footer inference would take ONE random file's schema
    and silently hide an added column.  All fields read as nullable —
    old blocks legitimately hold nulls for evolved columns."""
    sj = index.meta().get("source_schema")
    if not sj:
        return None  # pre-r04 index: footer inference, as before
    import json as _json

    from pyspark.sql.types import StringType, StructField, StructType

    st = StructType.fromJson(_json.loads(sj))
    fields = [StructField(f.name, f.dataType, True) for f in st.fields]
    names = {f.name for f in fields}
    if "partition_id" not in names:
        fields.append(StructField("partition_id", StringType(), True))
    if index.config.sha_col and "content_sha" not in names:
        fields.append(StructField("content_sha", StringType(), True))
    return StructType(fields)


def _apply_dv_mask(
    index: BloomIndex,
    data: DataFrame,
    with_pos: bool,
    mask: bool = True,
    keys: list[str] | None = None,
) -> DataFrame:
    """Mask deletion-vector positions out of a hive-partitioned block scan
    (``block_id`` partition column present): one anti-join on
    ``(block_id, _metadata.row_index)`` against the exploded DV table —
    JVM-side, broadcast when small — run only when a scanned block
    carries DVs.  ``keys`` are the scanned blocks' ``data_path``s when
    known (the path-list scans): if none of them is in
    ``index.dv_data_paths()`` the anti-join would be the identity and is
    skipped; ``keys=None`` (the data-root semi-join scan) masks whenever
    the version has DVs.  ``with_pos=True`` keeps ``_bs_pos`` (the
    file-relative row position) and ``_bs_fname`` on the output — the
    row-mutation match needs them to name the rows it deletes.
    ``mask=False`` skips the anti-join (internal: the match masks in its
    own map body, so no shuffle comes before it)."""
    dv = None
    if mask and (keys is None or not index.dv_data_paths().isdisjoint(keys)):
        dv = index.dv_positions()
    if dv is None and not with_pos:
        return data
    data = data.withColumn("_bs_pos", F.col("_metadata.row_index"))
    if with_pos:
        data = data.withColumn("_bs_fname", F.col("_metadata.file_name"))
    if dv is not None:
        # the join moves its keys first; keep the unmasked column order
        data = data.join(
            dv.select("block_id", "_bs_pos"), ["block_id", "_bs_pos"], "left_anti"
        ).select(*data.columns)
    return data if with_pos else data.drop("_bs_pos")


def _any_block_path(index: BloomIndex) -> str | None:
    """One ``data_path`` of the block manifest (a footer-sized pyarrow
    read, no Spark job), or None for a fully empty index."""
    for batch in _manifest_batches(index.table_paths("blocks"), ["data_path"]):
        if batch.num_rows:
            return batch.column(0)[0].as_py()
    return None


def scan_blocks(
    index: BloomIndex,
    surviving,
    with_pos: bool = False,
    mask: bool = True,
    with_block: bool = False,
) -> DataFrame:
    """Read only the surviving blocks' data directories (via ``data_path``,
    which stays valid across metadata-only merges).

    ``surviving`` is :func:`prune_blocks`' ``(data_path, partition_id)``
    list, or a slice of the block manifest DataFrame (the maintenance
    callers: analyze, upserts past ``max_pruned_keys``, integrity checks).  A slice's
    path collect is bounded at MAX_COLLECTED_BLOCKS (+1 overflow
    sentinel); past it the scan reads the data root and prunes through a
    broadcast semi-join instead.

    The block dirs are listed through :func:`read_parquet` (at most one
    listing task per core).  Deletion-vector positions are masked out of
    every returned row set (merge-on-read) — by an anti-join only when a
    scanned block carries DVs, see :func:`_apply_dv_mask`; ``with_pos=True``
    additionally keeps the file-relative row position / file name columns
    (internal: the row-mutation match).  ``with_block=True`` keeps a
    ``_bs_block`` block-identity column on external scans (internal: the
    scan stats; internal blocks carry ``file_id`` / ``block_id``)."""
    spark = index.spark
    if index.meta().get("external", False):
        if with_pos:
            raise ValueError("with_pos is not supported on external indexes")
        return _scan_external(index, surviving, with_block)
    exp_schema = _block_read_schema(index)

    def _read(*paths) -> DataFrame:
        r = spark.read.option("basePath", index.data_dir)
        return read_parquet(spark, paths, r.schema(exp_schema) if exp_schema is not None else r)

    if isinstance(surviving, DataFrame):
        keys_df = surviving.select("data_path")
        keys = [r.data_path for r in keys_df.limit(MAX_COLLECTED_BLOCKS + 1).collect()]
        if len(keys) > MAX_COLLECTED_BLOCKS:
            # huge survivor set: scan the data root, prune via broadcast
            # semi-join on the relative path reconstructed from the hive
            # partition dirs.  The DV mask goes first: ``_metadata`` only
            # resolves on the bare file relation.
            with capped_listing(spark):
                root = _read(index.data_dir)
            data = _apply_dv_mask(index, root, with_pos, mask)
            data = data.withColumn(
                "data_path",
                F.concat(F.lit("file_id="), "file_id", F.lit("/block_id="), "block_id"),
            )
            return data.join(F.broadcast(keys_df), ["data_path"], "left_semi").drop("data_path")
    else:
        keys = [p for p, _ in surviving]
    if not keys:
        # empty survivor set: derive the scan schema from ONE block dir —
        # listing the whole data root for a limit(0) costs seconds at 10^3+
        # blocks (measured 3.2 s for a miss query over 960 blocks).
        # Empty frames need no DV mask; with_pos pads the schema instead.
        def _pad_pos(df: DataFrame) -> DataFrame:
            if not with_pos:
                return df
            return df.withColumn("_bs_pos", F.lit(None).cast("long")).withColumn(
                "_bs_fname", F.lit(None).cast("string")
            )

        some = _any_block_path(index)
        if some is not None:
            one = index.block_paths([some])[0]
            return _pad_pos(_read(one).limit(0))
        # FULLY empty index (empty build / expire-everything): the stored
        # source schema (meta, r04) yields a typed empty frame without
        # touching the (possibly nonexistent) data root
        sj = index.meta().get("source_schema")
        if sj:
            import json as _json

            from pyspark.sql.types import StructType

            return _pad_pos(
                spark.createDataFrame([], StructType.fromJson(_json.loads(sj)))
            )
        with capped_listing(spark):
            return _pad_pos(_read(index.data_dir).limit(0))
    return _apply_dv_mask(index, _read(*index.block_paths(keys)), with_pos, mask, keys)


def _scan_external(index: BloomIndex, surviving, with_block: bool = False) -> DataFrame:
    """Pruned scan for a zero-copy external index: read the surviving
    SOURCE files; since several partition-blocks can share one physical
    file, re-derive (data_path, partition_id) per row and semi-join against
    the surviving pairs — row-exact block semantics
    (plans/external.py module docstring)."""
    spark = index.spark
    cfg = index.config
    dirs = False
    if isinstance(surviving, DataFrame):
        pairs = surviving.select("data_path", "partition_id")
        keys = pairs.limit(MAX_COLLECTED_BLOCKS + 1).collect()
        if len(keys) > MAX_COLLECTED_BLOCKS:
            # scan the surviving blocks' PARENT DIRECTORIES (distinct
            # dirnames — bounded by directory count, not block count) and
            # let the semi-join below re-derive block membership; never
            # collect the full per-block path list to the driver
            dirs = True
            paths = sorted(
                r.d
                for r in surviving.select(
                    F.regexp_replace("data_path", "/[^/]+$", "").alias("d")
                )
                .distinct()
                .collect()
            )
        else:
            paths = sorted({r.data_path for r in keys})
    else:
        pairs = spark.createDataFrame(
            list(surviving), "data_path string, partition_id string"
        )
        paths = sorted({p for p, _ in surviving})
    if not paths:
        some = _any_block_path(index)
        if some is None:
            raise ValueError("external index has no blocks")
        return read_parquet(spark, [some]).limit(0)
    # a directory may hold more subdirectories than Spark lists serially
    with capped_listing(spark) if dirs else nullcontext():
        data = read_parquet(spark, paths)
    data = (
        data.withColumn("data_path", F.input_file_name())
        .withColumn(
            "partition_id",
            F.coalesce(F.expr(cfg.partition_expr).cast("string"), F.lit("")),
        )
    )
    out = data.join(F.broadcast(pairs), ["data_path", "partition_id"], "left_semi")
    if with_block:
        # block identity for the scan-side FP counters (external block =
        # (source file, partition value))
        out = out.withColumn(
            "_bs_block", F.concat_ws("#", "data_path", "partition_id")
        )
    return out.drop("data_path", "partition_id")


def _plan_pieces(index: BloomIndex, columns: list[str]) -> tuple[VerifyColumns, list[Column]]:
    """The query-independent pieces of a read plan over a scan of
    ``index`` with ``columns``: the verify compiler (its column token
    arrays and literals) and the output projection (source columns in
    stored order, physical -> logical names, engine columns dropped).

    Memoized on the handle next to ``meta()``: a version is immutable,
    and a Column holds a JVM reference of the handle's session, so the
    memo lives and dies with the handle."""
    memo = getattr(index, "_plan_pieces", None)
    if memo is None:
        memo = index._plan_pieces = {}
    key = tuple(columns)
    pieces = memo.get(key)
    if pieces is None:
        cfg = index.config
        data = [c for c in columns if c != "_bs_block"]
        verify = VerifyColumns(cfg.indexed_fields, data, get_tokenizer(cfg.tokenizer))
        out = data
        source_columns = index.meta().get("source_columns")
        if source_columns:
            present = set(data)
            out = [c for c in source_columns if c in present]
        pieces = memo[key] = (verify, index.logical_projection(out))
    return pieces


def verify_predicate(index: BloomIndex, query: Query, columns: list[str]) -> Column:
    """The exact row-match predicate of a (physical-named) ``query`` over
    a scan of ``index`` with ``columns`` — the truth stage of search(),
    deletes and upserts: Catalyst expressions, or the pandas walker for
    schemaless ``json_col`` indexes."""
    cfg = index.config
    if cfg.json_col is not None:
        tok = get_tokenizer(cfg.tokenizer)
        return json_verify_udf(query.bloom, query.regex, tok)(F.col(cfg.json_col))
    return _plan_pieces(index, columns)[0].predicate(query.bloom, query.regex)


def search(
    spark: SparkSession,
    index: BloomIndex,
    query: Query,
    with_stats: bool = False,
):
    """Run a query against a committed index.

    Returns the matching source rows as a DataFrame (original columns
    only), optionally with a QueryStats prune funnel.

    When exactly one block of an internal index survives, the result is
    one partition (``coalesce(1)``), so Spark plans ``count()`` and other
    global aggregates over it as one stage — one job, no Exchange.  That
    loses no parallelism: a block file is one parquet row group (blocks
    hold at most ``max_block_rows`` rows, far below the writer's
    1,048,576-row group), which one task reads anyway.  External blocks
    (whole source files) and multi-block results keep Spark's
    partitioning.
    """
    # column mapping (r06): queries arrive in LOGICAL names; everything
    # stored (bloom keys, zone maps, parquet columns) is physical
    from .colmap import translate_query

    query = translate_query(index, query)
    stats = QueryStats() if with_stats else None
    surviving = candidate_blocks(index, query, stats)
    data = scan_blocks(index, surviving, with_block=with_stats)
    columns = data.columns
    pred = verify_predicate(index, query, columns)

    if stats is not None and stats.blocks_after_block_bloom == 0:
        # nothing survived pruning: scan counters are exactly zero
        stats.rows_scanned = stats.rows_matched = stats.blocks_with_matches = 0
    elif stats is not None:
        block = (
            F.col("_bs_block")
            if "_bs_block" in columns
            else F.concat_ws("/", "file_id", "block_id")
        )
        stats._scan = (data, pred, block)
    # the projection drops engine columns and maps physical -> logical names
    out = data.filter(pred).select(*_plan_pieces(index, columns)[1])
    if isinstance(surviving, list) and len(surviving) == 1 and not index.meta().get("external", False):
        out = out.coalesce(1)

    if with_stats:
        return out, stats
    return out


def enable_read_checksum_verification(spark: SparkSession, enabled: bool = True) -> None:
    """Per-page CRC verification during every parquet scan — the reference
    CRC32C-verifies each block as it streams (bloom_tree_engine.go:
    1196-1203, file_format.go:121-142).  Index block files are always
    WRITTEN with page checksums (build.codec_kwargs); flipping this on
    makes any scan in the session (query data scans, manifest probes) fail
    fast on a corrupted page instead of silently returning corrupt bytes —
    Spark's parquet readers (vectorized included) honor the hadoop conf,
    and files written without checksums (pre-r03 indexes, foreign parquet)
    verify vacuously.  Off by default to match Spark; the per-row sha256
    sweep (verify_integrity) remains the deep on-demand check."""
    spark._jsc.hadoopConfiguration().set(
        "parquet.page.verify-checksum.enabled", "true" if enabled else "false"
    )


def verify_integrity(spark: SparkSession, index: BloomIndex) -> int:
    """Per-row content-sha256 invariant check (W11 analog): recompute
    sha2(sha_col) over every stored row and count mismatches (0 = intact)."""
    cfg = index.config
    if index.meta().get("external", False):
        # external data is never copied -> per-row sha equality holds by
        # construction; the integrity check is a per-block row re-count
        from .external import verify_external_integrity

        return verify_external_integrity(spark, index)
    if not cfg.sha_col:
        raise ValueError("index was built without sha_col")
    # scan only manifest-referenced block dirs (the data root may also hold
    # superseded pre-merge dirs until vacuum runs)
    data = scan_blocks(index, index.blocks())
    bad = data.filter(
        F.sha2(F.col(cfg.sha_col).cast("string"), 256) != F.col("content_sha")
    )
    return bad.count()
