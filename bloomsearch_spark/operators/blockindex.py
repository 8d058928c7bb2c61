"""Per-block index construction — the mergeable-UDAF core of the build.

One call = one data block's pandas DataFrame in, one manifest row out
(plus file-level *partial* bitsets that the file rollup OR-merges away).
This mirrors the reference's per-partition buffering actor
(``processIngestRequest``, bloom_tree_engine.go:460-675): every row's
field paths / tokens / field::token keys are inserted into the block's
three bloom filters AND into file-sized partials simultaneously
(:549-565), numeric minmax zone maps accumulate with floor/ceil int64
coercion (:567-584, min_max.go:16-28).

Everything is vectorized: pandas ``str`` ops for tokenization, numpy
``np.char.add`` for field::token keys, one keyed-SipHash pass per bloom —
no per-row Python on the fixed-schema path.  The JSON-document path
(schemaless compatibility) necessarily walks each document, but inside an
Arrow-batched grouped-map UDF.
"""

from __future__ import annotations

import json
import math
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .. import bloom
from ..config import IndexConfig
from ..tokenizer import (
    FIELD_TOKEN_SEP,
    doc_index_entries,
    get_tokenizer,
    stringify_series,
    unique_tokens_fallback,
)


def minmax_coerce(lo, hi) -> tuple[int, int]:
    """Reference int64 coercion: floor for min, ceil for max
    (min_max.go:16-28).  Integer inputs pass through EXACTLY — routing an
    int64 through float64 rounds |values| > 2^53 (64-bit hash ids, ns
    timestamps) and a rounded zone-map bound silently drops matching
    blocks from strict minmax queries (r05; found by the 2^53 pushdown
    test)."""
    lo_i = lo if isinstance(lo, int) and not isinstance(lo, bool) else int(math.floor(lo))
    hi_i = hi if isinstance(hi, int) and not isinstance(hi, bool) else int(math.ceil(hi))
    return lo_i, hi_i


def _widen_float_bounds(lo: float, hi: float) -> tuple[float, float]:
    """Conservative 1-ULP widening for bounds that ALREADY passed through
    float64 (a nullable int64 column becomes float64 in pandas before this
    code runs — clustered build path): int->float64 conversion rounds to
    nearest (error <= 0.5 ULP), so past 2^53 the rounded bound can sit on
    the WRONG side of the true value and the now-exact prune comparison
    would drop a matching block.  Widening by one ULP restores soundness
    (zone maps only disqualify; a wider range never loses rows)."""
    if abs(lo) > 2.0**53:
        lo = math.nextafter(lo, -math.inf)
    if abs(hi) > 2.0**53:
        hi = math.nextafter(hi, math.inf)
    return lo, hi


def _index_entries_json(pdf: pd.DataFrame, cfg: IndexConfig) -> tuple[list, list, list]:
    """(fields, tokens, pairs) for a block of JSON documents (schemaless
    path; per-doc structural walk, tokenizer.go:29-83)."""
    fields: set[str] = set()
    tokens: set[str] = set()
    pairs: set[str] = set()
    for raw in pdf[cfg.json_col]:
        if raw is None:
            continue
        doc = json.loads(raw) if isinstance(raw, str) else raw
        f, t, p = doc_index_entries(doc, value_fn=get_tokenizer(cfg.tokenizer).value_fn)
        fields.update(f)
        tokens.update(t)
        pairs.update(p)
    return sorted(fields), np.asarray(sorted(tokens), dtype=object), np.asarray(
        sorted(pairs), dtype=object
    )


def _col_for_tokens(tbl: pa.Table, col: str) -> pa.ChunkedArray | pa.Array:
    """Column as a string array with reference stringification for
    non-string types (Go ``%v``: integral floats sans decimal point)."""
    arr = tbl[col]
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return arr
    # rare non-string indexed column: go through the pandas stringifier to
    # keep Go-%v parity (30.0 -> "30", True -> "true")
    return pa.array(
        stringify_series(arr.to_pandas()), type=pa.string(), from_pandas=True
    )


def _index_entries_arrow(tbl: pa.Table, cfg: IndexConfig) -> tuple[list, np.ndarray, np.ndarray]:
    """(fields, unique tokens, unique field::token keys) for one block —
    unique-first, so the bloom kernel and the pair concat only ever touch
    the (small) distinct token set, never the raw token stream."""
    fields: list[str] = []
    token_arrays: list[np.ndarray] = []
    pair_arrays: list[np.ndarray] = []
    for col in cfg.indexed_fields:
        if col not in tbl.column_names:
            continue
        arr = tbl[col]
        if arr.null_count < len(arr):
            fields.append(col)
        tok = get_tokenizer(cfg.tokenizer)
        if tok.arrow_unique is not None:
            uniq = tok.arrow_unique(_col_for_tokens(tbl, col))
        else:
            uniq = unique_tokens_fallback(_col_for_tokens(tbl, col), tok)
        if len(uniq):
            token_arrays.append(uniq)
            # plain-python concat over the (already-unique) token set: 6x
            # faster than np.char.add's _vec_string path (which also paid
            # an object->unicode astype round-trip); identical strings
            pfx = f"{col}{FIELD_TOKEN_SEP}"
            pair_arrays.append(
                np.array([pfx + str(t) for t in uniq], dtype=object)
            )
    tokens = np.concatenate(token_arrays) if token_arrays else np.zeros(0, dtype=object)
    pairs = np.concatenate(pair_arrays) if pair_arrays else np.zeros(0, dtype=object)
    return fields, tokens, pairs


def _minmax_maps_arrow(tbl: pa.Table, cfg: IndexConfig) -> tuple[dict, dict]:
    mn_map: dict[str, int] = {}
    mx_map: dict[str, int] = {}
    for f in cfg.minmax_fields:
        if f not in tbl.column_names:
            continue
        arr = tbl[f]
        casted = False
        if not (pa.types.is_integer(arr.type) or pa.types.is_floating(arr.type)):
            casted = True  # float64 round-trip: widen the bounds below
            try:
                arr = pc.cast(arr, pa.float64())
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
                # whole-column cast fails on ANY bad value; coerce per
                # element instead so a few non-numeric strings don't drop
                # the field's zone map entirely — keeps this path's output
                # identical to _minmax_maps' pd.to_numeric(errors="coerce")
                # on the clustered build (strict MinMax queries would
                # otherwise answer differently per build mode)
                ser = pd.to_numeric(
                    tbl[f].to_pandas(), errors="coerce"
                )
                arr = pa.array(ser, type=pa.float64(), from_pandas=True)
        mm = pc.min_max(arr)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lo is None:
            continue
        # as_py() of an int64 column is an exact Python int — keep it so
        if casted:  # values took a float64 round-trip: stay conservative
            lo, hi = _widen_float_bounds(float(lo), float(hi))
        mn_map[f], mx_map[f] = minmax_coerce(lo, hi)
    return mn_map, mx_map


class BlockAccumulator:
    """Incremental per-block index state: call ``add(tbl)`` for every slice
    of the block's rows (possibly across many Arrow batches), then
    ``entry(key)`` once.  Bitsets are allocated once per block and mutated
    in place — the cheap path for accumulation-style builds (external mode,
    where one (file, partition) key recurs across input batches)."""

    def __init__(self, cfg: IndexConfig):
        self.cfg = cfg
        bp, fp = cfg.block_params, cfg.file_params
        self.block_sets = [bloom.new_bitset(bp) for _ in range(3)]
        self.file_sets = [bloom.new_bitset(fp) for _ in range(3)]
        self.rows = 0
        # distinct entries across ALL add() calls: per-batch uniques can
        # recur between batches, so summing batch counts would inflate
        # token_count vs the one-shot build path.  Counted WITHOUT
        # retaining entry strings: each batch's entries hash to a uint64
        # array (vectorized pandas hash, kind-salted) and entry() dedupes
        # the concatenation — memory is 8 bytes per batch-unique entry
        # instead of the full string set, and no per-entry Python loop
        # runs in the add() hot path (ADVICE r03).  A 64-bit collision
        # would undercount token_count by 1 in ~2^32 distinct entries —
        # token_count is an informational counter, never a prune input.
        self._entry_hashes: list[np.ndarray] = []
        self.mn: dict[str, int] = {}
        self.mx: dict[str, int] = {}

    # distinct per-kind salts keep equal strings of different kinds distinct
    _KIND_SALT = (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9)

    @property
    def tokens(self) -> int:
        if not self._entry_hashes:
            return 0
        return int(np.unique(np.concatenate(self._entry_hashes)).size)

    def add(self, tbl: pa.Table) -> None:
        cfg = self.cfg
        bp, fp = cfg.block_params, cfg.file_params
        if cfg.json_col is not None:
            pdf = tbl.select([cfg.json_col]).to_pandas()
            fields, tokens, pairs = _index_entries_json(pdf, cfg)
            mn, mx = _minmax_maps(pdf, cfg)
        else:
            fields, tokens, pairs = _index_entries_arrow(tbl, cfg)
            mn, mx = _minmax_maps_arrow(tbl, cfg)
        for i, entries in enumerate((np.asarray(fields, dtype=object), tokens, pairs)):
            bloom.insert_into_many(
                [self.block_sets[i], self.file_sets[i]], entries, [bp, fp]
            )
            arr = np.asarray(entries, dtype=object)
            if arr.size:
                h = pd.util.hash_array(arr, categorize=False)
                self._entry_hashes.append(h ^ np.uint64(self._KIND_SALT[i]))
        self.rows += len(tbl)
        for f, v in mn.items():
            self.mn[f] = min(self.mn.get(f, v), v)
        for f, v in mx.items():
            self.mx[f] = max(self.mx.get(f, v), v)

    def entry(self, key: tuple) -> dict:
        return _entry_dict(
            key, self.rows, self.tokens, self.mn, self.mx, self.cfg,
            self.block_sets, self.file_sets,
        )


def build_block_entry_arrow(
    key: tuple, tbl: pa.Table, cfg: IndexConfig, file_sets: list | None = None
) -> dict:
    """Grouped/map build kernel: one block table in, one
    staging-row dict out (zero pandas, zero per-row Python objects on the
    fixed-schema path; the schemaless JSON path necessarily walks each
    document).

    ``file_sets``: when the CALLER owns the file-level bitsets (the map
    build's per-task running file accumulator), tokens are inserted
    directly into them and the returned entry carries NO file-bloom bytes —
    file-sized partials (~MBs each) then never serialize per block."""
    file_id, block_id, partition_id = key
    bp, fp = cfg.block_params, cfg.file_params
    block_sets = [bloom.new_bitset(bp) for _ in range(3)]
    caller_owns_file = file_sets is not None
    if file_sets is None:
        file_sets = [bloom.new_bitset(fp) for _ in range(3)]

    if cfg.json_col is not None:
        pdf = tbl.select([cfg.json_col]).to_pandas()
        fields, tokens, pairs = _index_entries_json(pdf, cfg)
        mn_map, mx_map = _minmax_maps(pdf, cfg)
        n_tokens = 0
        for i, entries in enumerate((np.asarray(fields, dtype=object), tokens, pairs)):
            n_tokens += bloom.insert_into_many(
                [block_sets[i], file_sets[i]], entries, [bp, fp]
            )
        return _entry_dict(
            key, len(tbl), n_tokens, mn_map, mx_map, cfg, block_sets,
            None if caller_owns_file else file_sets,
        )

    fields, tokens, pairs = _index_entries_arrow(tbl, cfg)
    n_tokens = 0
    for i, entries in enumerate((np.asarray(fields, dtype=object), tokens, pairs)):
        n_tokens += bloom.insert_into_many(
            [block_sets[i], file_sets[i]], entries, [bp, fp]
        )
    mn_map, mx_map = _minmax_maps_arrow(tbl, cfg)
    return _entry_dict(
        key, len(tbl), n_tokens, mn_map, mx_map, cfg, block_sets,
        None if caller_owns_file else file_sets,
    )


def _entry_dict(key, n_rows, n_tokens, mn_map, mx_map, cfg, block_sets, file_sets):
    file_id, block_id, partition_id = key
    return {
        "file_id": file_id,
        "block_id": block_id,
        "partition_id": partition_id,
        "row_count": n_rows,
        "token_count": n_tokens,
        "block_count": 1,
        "minmax_min": mn_map,
        "minmax_max": mx_map,
        "expected_items": cfg.max_block_rows,
        "fpr": cfg.block_fpr,
        "field_bloom": block_sets[0].tobytes(),
        "token_bloom": block_sets[1].tobytes(),
        "fieldtoken_bloom": block_sets[2].tobytes(),
        "file_expected_items": cfg.file_expected_items,
        "file_fpr": cfg.file_fpr,
        "file_field_bloom": file_sets[0].tobytes() if file_sets else None,
        "file_token_bloom": file_sets[1].tobytes() if file_sets else None,
        "file_fieldtoken_bloom": file_sets[2].tobytes() if file_sets else None,
    }


def _minmax_maps(pdf: pd.DataFrame, cfg: IndexConfig) -> tuple[dict, dict]:
    mn_map: dict[str, int] = {}
    mx_map: dict[str, int] = {}
    for f in cfg.minmax_fields:
        if cfg.json_col is not None:
            vals = []
            for raw in pdf[cfg.json_col]:
                if raw is None:
                    continue
                doc = json.loads(raw) if isinstance(raw, str) else raw
                v = doc.get(f) if isinstance(doc, dict) else None
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    vals.append(v)  # keep python ints EXACT (no float cast)
            if not vals:
                continue
            lo, hi = min(vals), max(vals)
        else:
            if f not in pdf.columns:
                continue
            s = pd.to_numeric(pdf[f], errors="coerce").dropna()
            if s.empty:
                continue
            if pd.api.types.is_integer_dtype(s):
                lo, hi = int(s.min()), int(s.max())  # exact past 2^53
            else:
                # float64 (incl. nullable int64 promoted by the Spark ->
                # pandas conversion): widen so rounding stays conservative
                lo, hi = _widen_float_bounds(float(s.min()), float(s.max()))
        mn_map[f], mx_map[f] = minmax_coerce(lo, hi)
    return mn_map, mx_map
