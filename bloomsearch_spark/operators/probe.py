"""Hierarchical manifest prune — the one prune engine.

The reference's read walk (SURVEY.md §3.2; ``MetaStore.GetMaybeFilesForQuery``
+ the file/block bloom walk, bloom_tree_engine.go:910-1118) run on the
driver over pyarrow, with no Spark job:

    files manifest  --(file-level bloom probe)---------------->  Q9
    blocks manifest --(surviving file_ids, filtered in arrow)
                    --(prefilter: partition / minmax)--------->  Q3-Q6
                    --(block-level bloom probe)--------------->  Q10

The manifest streams through the driver in arrow batches, so memory is
bounded by the batch size, not the manifest.  Every read path prunes
here: ``search()``, deletes, upserts and needle batches through
``plans.search.prune_blocks``, the DataSource through
:func:`prune_blocks_driver`, and the DataSource's executor-side
manifest-slice fallback through the same per-batch :func:`prune_batch`.

Probe semantics (evaluateBloomCondition, bloom_tree_engine.go:876-908):

- a leaf probes exactly one of the three filters (field / token /
  field::token);
- a null/empty bitset cannot disqualify -> True (:885-907);
- AND/OR combine leaf results; bloom filters only *disqualify*, the final
  truth comes from the exact scan (Q12).

Rows may carry different (expected_items, fpr) after merges of
heterogeneous files; the probe groups rows by params and gathers each
group's bitsets into one (rows, m/8) matrix per column — the test is one
numpy gather for the whole group, and a wide OR of same-filter leaves
(e.g. a needle batch) hashes all its keys at once.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from .. import bloom
from ..query import BloomExpr, Condition, PrefilterExpr, Query
from ..sources import fs as fsx

# driver-held surviving-block list bound for the DataSource; past this the
# planner switches to the distributed manifest-slice fallback
MAX_DRIVER_BLOCKS = 1_000_000
# the prune joins small manifest batches up to this many rows
PRUNE_BATCH_ROWS = 65_536

_FILTER_COL = {"field": "field_bloom", "token": "token_bloom", "fieldtoken": "fieldtoken_bloom"}
BLOOM_COLS = tuple(_FILTER_COL.values())


# ---------------------------------------------------------------------------
# prefilter kernel — semantics pinned 1:1 to query.compile_prefilter (strict
# missing-metadata exclusion, conservative NOT_IN, minmax overlap)
# ---------------------------------------------------------------------------


def _cond_exact(s: pd.Series, c: Condition) -> np.ndarray:
    if c.op == "EQ":
        return (s == c.value).to_numpy()
    if c.op == "NE":
        return (s != c.value).to_numpy()
    if c.op == "GT":
        return (s > c.value).to_numpy()
    if c.op == "GTE":
        return (s >= c.value).to_numpy()
    if c.op == "LT":
        return (s < c.value).to_numpy()
    if c.op == "LTE":
        return (s <= c.value).to_numpy()
    if c.op == "IN":
        return s.isin(list(c.values)).to_numpy() if c.values else np.zeros(len(s), bool)
    if c.op == "NOT_IN":
        return (~s.isin(list(c.values))).to_numpy() if c.values else np.ones(len(s), bool)
    if c.op == "BETWEEN":
        return ((s >= c.lo) & (s <= c.hi)).to_numpy()
    if c.op == "NOT_BETWEEN":
        return ((s < c.lo) | (s > c.hi)).to_numpy()
    raise AssertionError(c.op)


def _cond_minmax(mn: pd.Series, mx: pd.Series, c: Condition) -> np.ndarray:
    if c.op == "EQ":
        return ((mn <= c.value) & (c.value <= mx)).to_numpy()
    if c.op == "NE":
        return ((mn != c.value) | (mx != c.value)).to_numpy()
    if c.op == "GT":
        return (mx > c.value).to_numpy()
    if c.op == "GTE":
        return (mx >= c.value).to_numpy()
    if c.op == "LT":
        return (mn < c.value).to_numpy()
    if c.op == "LTE":
        return (mn <= c.value).to_numpy()
    if c.op == "IN":
        out = np.zeros(len(mn), bool)
        for v in c.values:
            out |= ((mn <= v) & (v <= mx)).to_numpy()
        return out
    if c.op == "NOT_IN":
        return np.ones(len(mn), bool)  # conservative (query.go:347-350)
    if c.op == "BETWEEN":
        return ((mn <= c.hi) & (c.lo <= mx)).to_numpy()
    if c.op == "NOT_BETWEEN":
        return ((mn < c.lo) | (mx > c.hi)).to_numpy()
    raise AssertionError(c.op)


def eval_prefilter_pdf(expr: PrefilterExpr | None, pdf: pd.DataFrame) -> np.ndarray:
    """compile_prefilter's semantics over a pandas manifest batch
    (``minmax_min``/``minmax_max`` as per-row dicts)."""
    n = len(pdf)
    if expr is None:
        return np.ones(n, bool)
    if expr.kind == "AND":
        out = np.ones(n, bool)
        for ch in expr.children:
            out &= eval_prefilter_pdf(ch, pdf)
        return out
    if expr.kind == "OR":
        out = np.zeros(n, bool)
        for ch in expr.children:
            out |= eval_prefilter_pdf(ch, pdf)
        return out
    if expr.kind == "PARTITION":
        pc = pdf["partition_id"]
        has = (pc.notna() & (pc != "")).to_numpy()
        return has & _cond_exact(pc, expr.condition)
    if expr.kind == "MINMAX":
        f = expr.field
        mn = pdf["minmax_min"].map(lambda d: (d or {}).get(f))
        mx = pdf["minmax_max"].map(lambda d: (d or {}).get(f))
        has = (mn.notna() & mx.notna()).to_numpy()
        out = np.zeros(n, bool)
        if has.any():
            # compare on the object series (Python ints — exact), matching
            # the Spark path's map<string,long> comparisons: a float64 cast
            # would round |values| > 2^53 (hash ids, ns timestamps) and
            # could DROP a block that contains matches (ADVICE r04)
            out[has] = _cond_minmax(mn[has], mx[has], expr.condition)
        return out
    raise AssertionError(expr.kind)


def _has_minmax(expr: PrefilterExpr | None) -> bool:
    if expr is None:
        return False
    if expr.kind == "MINMAX":
        return True
    return any(_has_minmax(ch) for ch in expr.children)


# ---------------------------------------------------------------------------
# bloom-tree kernel
# ---------------------------------------------------------------------------


def needed_bloom_cols(expr: BloomExpr | None) -> frozenset:
    """The manifest bitset columns a prune tree actually tests — only
    these are read from the manifest."""
    if expr is None:
        return frozenset()
    if expr.kind in ("AND", "OR"):
        out: frozenset = frozenset()
        for ch in expr.children:
            out |= needed_bloom_cols(ch)
        return out
    return frozenset({_FILTER_COL[expr.probe_key()[0]]})


def _eval_tree(expr: BloomExpr, bitsets, params: bloom.BloomParams, mats=None) -> np.ndarray:
    """Evaluate the tree for manifest rows that share one (m,k); returns a
    bool array aligned with the rows of ``bitsets`` (an arrow batch of
    serialized bitset columns).  Each column is gathered into one bitset
    matrix on first use (``mats`` caches them down the tree); the
    same-filter leaves of one AND/OR node probe together, so all their
    keys hash in one call."""
    mats = {} if mats is None else mats
    if expr.kind not in ("AND", "OR"):
        which, key = expr.probe_key()
        return _probe_col(bitsets, _FILTER_COL[which], [key], params, mats, False)
    is_and = expr.kind == "AND"
    out = np.full(bitsets.num_rows, is_and, dtype=bool)  # empty AND/OR
    leaves: dict[str, list[str]] = {}
    for ch in expr.children:
        if ch.kind in ("AND", "OR"):
            r = _eval_tree(ch, bitsets, params, mats)
            out = (out & r) if is_and else (out | r)
        else:
            which, key = ch.probe_key()
            leaves.setdefault(_FILTER_COL[which], []).append(key)
    for col, keys in leaves.items():
        r = _probe_col(bitsets, col, keys, params, mats, not is_and)
        out = (out & r) if is_and else (out | r)
    return out


def _probe_col(bitsets, col: str, keys: list[str], params, mats: dict, any_key: bool) -> np.ndarray:
    if col not in mats:
        mats[col] = bloom.bitset_matrix(bitsets.column(col), params.nbytes)
    have, mat = mats[col]
    out = np.ones(len(have), dtype=bool)
    out[have] = bloom.probe_matrix(mat, keys, params, any_key=any_key)
    return out


def _probe_batch(expr: BloomExpr | None, batch) -> np.ndarray:
    """Bloom-tree probe over an arrow manifest batch (``expected_items``,
    ``fpr`` and the tree's bitset columns), grouped by (m,k).  The bitsets
    never leave arrow: no per-row Python objects."""
    import pyarrow as pa

    n = batch.num_rows
    out = np.ones(n, bool)
    if expr is None or n == 0:
        return out
    ns = batch.column("expected_items").to_numpy(zero_copy_only=False)
    ps = batch.column("fpr").to_numpy(zero_copy_only=False)
    if (ns == ns[0]).all() and (ps == ps[0]).all():  # one group: skip the groupby
        return _eval_tree(expr, batch, bloom.BloomParams(int(ns[0]), float(ps[0])))
    key = pd.DataFrame({"n": ns, "p": ps})
    for (ni, pi), grp in key.groupby(["n", "p"], sort=False):
        idx = grp.index.to_numpy()
        rows = batch if len(idx) == n else batch.take(pa.array(idx))
        out[idx] = _eval_tree(expr, rows, bloom.BloomParams(int(ni), float(pi)))
    return out


# ---------------------------------------------------------------------------
# the walk
# ---------------------------------------------------------------------------


def with_columns(batch, columns: list[str]):
    """``batch`` projected to ``columns``; a column an old manifest lacks
    reads as null (a null bitset cannot disqualify, a null zone map or
    partition id fails its prefilter — the Spark schema-on-read answer)."""
    import pyarrow as pa

    names = batch.schema.names
    return pa.RecordBatch.from_arrays(
        [batch.column(c) if c in names else pa.nulls(batch.num_rows) for c in columns],
        names=columns,
    )


def _manifest_batches(paths: list[str], columns: list[str]) -> Iterator:
    """Arrow batches of ``columns`` over manifest segment directories.
    Reads are single-threaded: the reader's thread pools keep allocator
    arenas alive, which grows the driver's resident memory per query."""
    import pyarrow.parquet as pq

    for p in paths:
        for part in fsx.list_parquet_files(p):
            fs, local = fsx.resolve(part)
            with pq.ParquetFile(local, filesystem=fs) as pf:
                names = set(pf.schema_arrow.names)
                avail = [c for c in columns if c in names]
                for batch in pf.iter_batches(columns=avail, use_threads=False):
                    yield with_columns(batch, columns)


def _coalesced(batches: Iterator, rows: int) -> Iterator:
    """``batches`` with consecutive same-schema batches joined up to
    ``rows`` rows: the prune's per-batch cost (a pandas conversion, the
    prefilter and probe calls) then follows the manifest's rows, not its
    part-file count — small segments (appends, a mutation's slices) each
    yield a small batch."""
    import pyarrow as pa

    def joined(buf):
        if len(buf) == 1:
            return buf[0]
        return pa.Table.from_batches(buf).combine_chunks().to_batches()[0]

    buf: list = []
    n = 0
    for batch in batches:
        if not batch.num_rows:
            continue
        if buf and (n + batch.num_rows > rows or batch.schema != buf[0].schema):
            yield joined(buf)
            buf, n = [], 0
        buf.append(batch)
        n += batch.num_rows
    if buf:
        yield joined(buf)


def block_columns(query: Query) -> list[str]:
    """Block-manifest columns the prune of ``query`` reads: the zone maps
    only when the prefilter tests them (their pydict conversion is the
    batch prune's dominant pandas cost), the bitsets only the tree tests."""
    mm = ["minmax_min", "minmax_max"] if _has_minmax(query.prefilter) else []
    needed = sorted(needed_bloom_cols(query.prune_bloom()))
    return ["partition_id", "data_path", *mm, "expected_items", "fpr", *needed]


def prune_batch(batch, query: Query, files=None, stats=None) -> pd.DataFrame:
    """One block-manifest batch (``block_columns(query)``, plus ``file_id``
    when ``files`` is given) through the prune: surviving-file filter,
    prefilter, then block blooms on the rows still alive.  Returns the
    surviving rows' scalar columns.

    ``files``: arrow array of the file ids that survived the file-level
    probe.  The batch is filtered to them in arrow, before any pandas
    conversion — except in stats mode, where the prefilter is counted
    over every block (``stats.total_blocks`` /
    ``stats.blocks_after_prefilter``, the funnel's definition)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    infile = None
    if files is not None:
        infile = pc.fill_null(pc.is_in(batch.column("file_id"), value_set=files), False)
        if stats is None:
            batch = batch.filter(infile)
            infile = None
    mm = {"maps_as_pydicts": "strict"} if _has_minmax(query.prefilter) else {}
    bits = [c for c in batch.schema.names if c in BLOOM_COLS]
    scalar = [c for c in batch.schema.names if c not in BLOOM_COLS]
    pdf = batch.select(scalar).to_pandas(**mm)
    keep = eval_prefilter_pdf(query.prefilter, pdf)
    if stats is not None:
        stats.total_blocks += len(keep)
        stats.blocks_after_prefilter += int(keep.sum())
    if infile is not None:
        keep &= infile.to_numpy(zero_copy_only=False)
    tree = query.prune_bloom()
    if tree is not None and keep.any():
        rows = np.flatnonzero(keep)
        sub = batch.select(["expected_items", "fpr", *bits]).take(pa.array(rows))
        keep[rows] = _probe_batch(tree, sub)
    out = pdf[keep]
    if stats is not None:
        stats.blocks_after_block_bloom += len(out)
    return out


class DriverPruneOverflow(Exception):
    """More blocks survived than the driver-held list may carry.  The
    DataSource switches to the distributed manifest-slice fallback;
    ``search()`` and the mutations to a data-root semi-join."""


def prune_blocks_driver(
    spark_unused,
    root: str,
    version: str,
    query: Query,
    table_refs: dict[str, list[str]],
    max_blocks: int = MAX_DRIVER_BLOCKS,
    stats=None,
) -> list[tuple[str, str]]:
    """The hierarchical prune: surviving block ``(data_path,
    partition_id)`` pairs of the manifest ``table_refs`` (segment paths
    relative to ``root``/manifest) names.  File level first; the block
    manifest then streams with each batch cut to the surviving files.

    ``stats`` (a ``QueryStats``) receives the exact funnel counters.
    Raises :class:`DriverPruneOverflow` past ``max_blocks`` survivors — in
    stats mode only after the walk has finished counting."""
    import pyarrow as pa

    mdir = fsx.join(root, "manifest")
    paths = {t: [fsx.join(mdir, rel) for rel in table_refs[t]] for t in ("blocks", "files")}
    tree = query.prune_bloom()
    files = None
    if tree is not None:
        needed = sorted(needed_bloom_cols(tree))
        ids = [pa.array([], pa.string())]
        for batch in _manifest_batches(
            paths["files"], ["file_id", "expected_items", "fpr", *needed]
        ):
            keep = _probe_batch(tree, batch)
            ids.append(batch.column("file_id").filter(pa.array(keep)))
            if stats is not None:
                stats.total_files += len(keep)
                stats.files_after_file_bloom += int(keep.sum())
        files = pa.concat_arrays(ids)
        if len(files) == 0 and stats is None:
            return []
    elif stats is not None:
        n = sum(fsx.parquet_dir_rows(p) for p in paths["files"])
        stats.total_files = stats.files_after_file_bloom = n

    out: list[tuple[str, str]] | None = []
    batches = _manifest_batches(paths["blocks"], ["file_id", *block_columns(query)])
    for batch in _coalesced(batches, PRUNE_BATCH_ROWS):
        surv = prune_batch(batch, query, files, stats)
        if out is None:
            continue  # stats mode past the bound: count, hold nothing
        out.extend(zip(surv["data_path"], surv["partition_id"]))
        if len(out) > max_blocks:
            if stats is None:
                raise DriverPruneOverflow(len(out))
            out = None
    if out is None:
        raise DriverPruneOverflow(stats.blocks_after_block_bloom)
    return out
