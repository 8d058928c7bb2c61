"""Vectorized Bloom-filter sketch kernel (pure numpy/pandas, no Spark).

This is the mergeable-sketch core of the engine: fixed-size bitsets with
standard ``(m, k)`` sizing from ``(n, p)`` and Kirsch–Mitzenmacher double
hashing, merged by bitwise OR.  It mirrors the *semantics* (not the bytes)
of the reference engine's use of bits-and-blooms
(``/root/reference/bloom_tree_engine.go:518-565``, sizing README.md:269):

- sizing:  ``m = ceil(-n * ln p / (ln 2)^2)``, ``k = ceil((m/n) * ln 2)``
  (the classical optimum used by ``bloom.NewWithEstimates``)
- insert/probe: two independent 64-bit hashes h1,h2 per token, positions
  ``(h1 + i*h2) mod m`` for ``i in 0..k-1``
- merge: bitwise OR, valid only for identical ``(m, k)``
  (``bloom_tree_engine.go:1401-1423`` errors on param mismatch — so do we).

Bitwise OR of equal-(m,k) bitsets is associative, commutative and
idempotent, which is what makes the index build a safe Spark partial
aggregation: re-executed / checkpoint-replayed partials recombine
identically (the BASELINE north-rule requirement).

All hashing is C-vectorized: ``pandas.util.hash_array`` (SipHash over the
UTF-8 bytes, keyed) produces the two base hashes for a whole token array at
once — no per-row Python in the hot path.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Two fixed 16-byte keys -> two independent 64-bit hash families.
# These are part of the on-disk format: changing them invalidates indexes.
_HASH_KEY_1 = "bloomsearchspark"
_HASH_KEY_2 = "sparkhierarchy42"

# Cap on how many (token, k) position pairs — or probe gathers — we
# materialize at once.
_CHUNK_TOKENS = 1 << 20


def sizing(n: int, p: float) -> tuple[int, int]:
    """Return (m bits, k hashes) for expected items ``n`` and target FPR ``p``.

    Classical optimum; ``m`` is rounded up to a multiple of 64 so bitsets
    pack into whole bytes/words.
    """
    if n <= 0:
        raise ValueError(f"expected items must be > 0, got {n}")
    if not (0.0 < p < 1.0):
        raise ValueError(f"false positive rate must be in (0,1), got {p}")
    m = math.ceil(-n * math.log(p) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, math.ceil((m / n) * math.log(2)))
    return m, k


@dataclass(frozen=True)
class BloomParams:
    """Sizing parameters; equality gates mergeability (M3/M4 semantics)."""

    expected_items: int
    fpr: float

    @property
    def mk(self) -> tuple[int, int]:
        return sizing(self.expected_items, self.fpr)

    @property
    def m(self) -> int:
        return self.mk[0]

    @property
    def k(self) -> int:
        return self.mk[1]

    @property
    def nbytes(self) -> int:
        return self.m // 8


def new_bitset(params: BloomParams) -> np.ndarray:
    """Fresh all-zeros bitset as uint8 array of ``m/8`` bytes."""
    return np.zeros(params.nbytes, dtype=np.uint8)


def _base_hashes(tokens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two independent uint64 hash arrays for a 1-D array of str tokens."""
    obj = np.asarray(tokens, dtype=object)
    h1 = pd.util.hash_array(obj, hash_key=_HASH_KEY_1, categorize=False)
    h2 = pd.util.hash_array(obj, hash_key=_HASH_KEY_2, categorize=False)
    return h1.astype(np.uint64), h2.astype(np.uint64)


def _positions(h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing; uint64 wrap is deterministic."""
    i = np.arange(k, dtype=np.uint64)[None, :]
    return (h1[:, None] + i * h2[:, None]) % np.uint64(m)


def insert(bitset: np.ndarray, tokens: np.ndarray | list, params: BloomParams) -> int:
    """Insert tokens (deduplicated first) into ``bitset`` in place.

    Returns the number of *distinct* tokens inserted (for metrics).
    """
    return insert_into_many([bitset], tokens, [params])


def insert_into_many(
    bitsets: list[np.ndarray], tokens: np.ndarray | list, params_list: list[BloomParams]
) -> int:
    """Insert the same token set into several bitsets (e.g. block + file
    partial) reusing one hashing pass per (m,k)."""
    if len(tokens) == 0:
        return 0
    uniq = pd.unique(np.asarray(tokens, dtype=object))
    for lo in range(0, len(uniq), _CHUNK_TOKENS):
        chunk = uniq[lo : lo + _CHUNK_TOKENS]
        h1, h2 = _base_hashes(chunk)
        for bitset, params in zip(bitsets, params_list):
            m, k = params.mk
            # dedupe bit positions BEFORE the scatter: ``bitwise_or.at``
            # is an unbuffered per-element ufunc loop, so collapsing the
            # n*k position list to its unique set (typically ~half at
            # realistic fill) does strictly less scatter work — measured
            # 2.5x on the 300k-token insert, bitsets byte-identical
            # (OR is idempotent; guide §1.2: per-task work, after shape)
            pos = np.unique(_positions(h1, h2, m, k).reshape(-1))
            byte_idx = (pos >> np.uint64(3)).astype(np.int64)
            bit = (pos & np.uint64(7)).astype(np.uint8)
            np.bitwise_or.at(bitset, byte_idx, np.uint8(1) << bit)
    return len(uniq)


def probe(bitset: np.ndarray, tokens: np.ndarray | list, params: BloomParams) -> np.ndarray:
    """Vectorized membership test -> bool array aligned with ``tokens``.

    True = "maybe present"; False = "definitely absent" (bloom filters only
    disqualify, bloom_tree_engine.go:831).
    """
    tokens = np.asarray(tokens, dtype=object)
    if len(tokens) == 0:
        return np.zeros(0, dtype=bool)
    m, k = params.mk
    h1, h2 = _base_hashes(tokens)
    pos = _positions(h1, h2, m, k)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    bit = (pos & np.uint64(7)).astype(np.uint8)
    bits = (bitset[byte_idx] >> bit) & np.uint8(1)
    return bits.all(axis=1)


def bitset_matrix(bitsets, nbytes: int) -> tuple[np.ndarray, np.ndarray]:
    """Gather serialized bitsets of one ``(m, k)`` into a single
    ``(rows, nbytes)`` uint8 matrix.  Returns ``(have, mat)``: ``have``
    marks the rows holding a non-empty bitset (a null/empty one cannot
    disqualify), ``mat`` holds those rows in order.

    ``bitsets``: a pyarrow binary array — read in place from its value
    buffer, no per-row objects — or a sequence of bytes / None."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(bitsets, pa.ChunkedArray):
        bitsets = bitsets.combine_chunks()
    if isinstance(bitsets, pa.Array):
        lens = pc.fill_null(pc.binary_length(bitsets), 0).to_numpy(zero_copy_only=False)
        have = lens > 0
        if (lens[have] != nbytes).any():
            raise ValueError(f"bitset lengths do not match the params' {nbytes} bytes")
        live = bitsets if have.all() else bitsets.filter(pa.array(have))
        if len(live) == 0:
            return have, np.empty((0, nbytes), dtype=np.uint8)
        off = np.int64 if pa.types.is_large_binary(live.type) else np.int32
        offs = np.frombuffer(live.buffers()[1], off)[live.offset : live.offset + len(live) + 1]
        data = np.frombuffer(live.buffers()[2], dtype=np.uint8)[offs[0] : offs[-1]]
        return have, data.reshape(-1, nbytes)
    raws = list(bitsets)
    have = np.fromiter(
        (raw is not None and len(raw) > 0 for raw in raws), dtype=bool, count=len(raws)
    )
    buf = b"".join(raw for raw, h in zip(raws, have) if h)
    if len(buf) != int(have.sum()) * nbytes:
        raise ValueError(f"bitset lengths do not match the params' {nbytes} bytes")
    return have, np.frombuffer(buf, dtype=np.uint8).reshape(-1, nbytes)


def probe_matrix(
    mat: np.ndarray, tokens: list[str], params: BloomParams, any_key: bool = False
) -> np.ndarray:
    """Probe every row of a :func:`bitset_matrix` for ``tokens`` -> one
    bool per row: all tokens maybe present (AND), or with ``any_key`` at
    least one (OR).  One gather over the matrix per chunk of rows."""
    pos = leaf_positions(tokens, params)  # (t, k)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    bit = (pos & np.uint64(7)).astype(np.uint8)
    out = np.empty(len(mat), dtype=bool)
    step = max(1, _CHUNK_TOKENS // max(1, pos.size))
    for lo in range(0, len(mat), step):
        hit = (((mat[lo : lo + step, byte_idx] >> bit) & np.uint8(1)) != 0).all(axis=2)
        out[lo : lo + step] = hit.any(axis=1) if any_key else hit.all(axis=1)
    return out


def probe_many(bitsets_bytes, token: str | list[str], params: BloomParams) -> np.ndarray:
    """Probe one token (or AND of several tokens) against MANY bitsets.

    This is the query-side shape: the manifest holds one serialized bitset
    per block/file and we test the same query token against each.  Returns
    a bool array, one per bitset; a null/empty bitset cannot disqualify and
    yields True (nil-filter semantics, bloom_tree_engine.go:885-907).
    ``bitsets_bytes`` takes what :func:`bitset_matrix` takes.
    """
    tokens = [token] if isinstance(token, str) else list(token)
    have, mat = bitset_matrix(bitsets_bytes, params.nbytes)
    out = np.ones(len(have), dtype=bool)
    out[have] = probe_matrix(mat, tokens, params)
    return out


def leaf_positions(key: str | list[str], params: BloomParams) -> np.ndarray:
    """(t, k) bit positions for query key(s) under ``params``."""
    keys = [key] if isinstance(key, str) else list(key)
    m, k = params.mk
    h1, h2 = _base_hashes(np.asarray(keys, dtype=object))
    return _positions(h1, h2, m, k)


def merge(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """OR-merge two equal-sized bitsets (M4). Errors on size mismatch,
    mirroring bloom_tree_engine.go:1412-1420."""
    if a.shape != b.shape:
        raise ValueError(f"cannot merge bloom filters of different sizes: {a.shape} vs {b.shape}")
    return np.bitwise_or(a, b)


def fill_ratio(bitset: np.ndarray) -> float:
    """Fraction of set bits — surfaced as a metric because real FPR degrades
    silently when a filter holds more distinct items than sized for
    (SURVEY.md §7.3)."""
    if bitset.size == 0:
        return 0.0
    return float(np.unpackbits(bitset).mean())
