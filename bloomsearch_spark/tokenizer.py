"""Tokenization + field-path extraction with reference-exact semantics.

Mirrors the reference's ``BasicWhitespaceLowerTokenizer`` (tokenizer.go:89-99):
lowercase, split on any whitespace run, punctuation kept inside tokens; and
``UniqueFields`` (tokenizer.go:29-83): dot-joined nested paths with array
indices discarded and per-row value dedup.  Non-string primitives are
stringified like Go ``fmt.Sprintf("%v", v)`` — notably ``30.0`` -> ``"30"``,
``True`` -> ``"true"`` (tokenizer_test.go:99-173).

Two ingest shapes:

- **Fixed-schema table** (the BASELINE input): field names are just the
  column names; ``tokenize_series`` is fully pandas-vectorized
  (``str.lower().str.split()``), no per-row Python.
- **Schemaless JSON docs** (reference-compat path): ``unique_fields`` walks
  one parsed document; applied per-row inside an Arrow-batched pandas UDF
  (inherently per-doc recursion — the dynamic-shape compatibility path only).
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np
import pandas as pd

FIELD_TOKEN_SEP = "::"  # makeFieldTokenKey, bloom_tree_engine.go:34-36


def _go_float_str(v: float) -> str:
    """float64 -> Go ``fmt %v`` text, i.e. ``strconv.FormatFloat(v, 'g',
    -1, 64)``: shortest round-trip digits; scientific form iff the decimal
    exponent is < -4 or >= 6 (strconv's ftoa pins eprec to 6 for shortest
    'g'); exponent sign + >=2 digits.  So ``30.0`` -> ``"30"``,
    ``100000.0`` -> ``"100000"``, ``1234567.0`` -> ``"1.234567e+06"``,
    ``1e19`` -> ``"1e+19"`` (the old ``%g`` path truncated to 6
    significant digits and str(int(...)) overflowed int64 at 2^63)."""
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "+Inf" if v > 0 else "-Inf"
    if v == 0:
        return "-0" if math.copysign(1.0, v) < 0 else "0"
    from decimal import Decimal

    sign, digits, dexp = Decimal(repr(v)).as_tuple()  # repr = shortest digits
    raw = "".join(map(str, digits))
    exp = len(raw) + dexp - 1  # decimal exponent of the leading digit
    ds = raw.rstrip("0") or "0"
    neg = "-" if sign else ""
    if exp < -4 or exp >= 6:
        mant = ds[0] + ("." + ds[1:] if len(ds) > 1 else "")
        return f"{neg}{mant}e{exp:+03d}"
    if exp >= len(ds) - 1:
        return neg + ds + "0" * (exp - len(ds) + 1)
    if exp >= 0:
        return neg + ds[: exp + 1] + "." + ds[exp + 1 :]
    return neg + "0." + "0" * (-exp - 1) + ds


def go_format_value(v: Any) -> str:
    """Stringify a JSON primitive the way Go ``fmt.Sprintf("%v", v)`` does
    after a JSON round-trip (all numbers are float64): integral floats with
    exponent < 6 print without a decimal point (tokenizer.go:79,98;
    tokenizer_test.go "30" case); larger/smaller magnitudes take Go's
    shortest scientific form (see ``_go_float_str``).
    """
    if v is None:
        return "<nil>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return _go_float_str(v)
    return str(v)


def tokenize_value(v: Any) -> list[str]:
    """Reference tokenizer on one primitive: stringify, lowercase,
    whitespace-split (tokenizer.go:86-99)."""
    return go_format_value(v).lower().split()


def stringify_series(s: pd.Series) -> pd.Series:
    """Vectorized Go-``%v``-style stringification of a column (nulls -> "").

    Integers/bools/integral floats render without decoration so numeric
    columns tokenize identically to the reference's JSON round-trip
    (``30.0`` -> ``"30"``, ``True`` -> ``"true"``).

    Float NaN deliberately tokenizes as ABSENT (like null), on both the
    build and verify sides consistently: JSON cannot represent NaN, so
    the reference's document model has no behavior to match, and pandas
    (this function's input) cannot distinguish NaN from null anyway.
    Stored VALUES still round-trip NaN exactly (the arrow-native build
    and read paths) — only token indexing treats it as missing.
    """
    if pd.api.types.is_bool_dtype(s):
        return s.map({True: "true", False: "false"}).fillna("")
    if pd.api.types.is_integer_dtype(s):
        return s.astype("Int64").astype(str).replace("<NA>", "")
    if pd.api.types.is_float_dtype(s):
        notna = s.notna()
        # fast path: integral and |v| < 1e6 (decimal exponent < 6 -> Go
        # prints positional, so str(int) is exact and int64-safe); -0.0 is
        # excluded (Go prints "-0").  Everything else goes through the
        # exact Go formatter — the old astype("int64") silently WRAPPED at
        # 2^63 and %g truncated to 6 significant digits.
        vals = s.to_numpy(dtype="float64", na_value=np.nan)
        integral = notna & (s % 1 == 0) & (s.abs() < 1e6) & ~np.signbit(vals)
        out = pd.Series("", index=s.index, dtype=object)
        out[integral] = s[integral].astype("int64").astype(str)
        rest = notna & ~integral
        if rest.any():
            out[rest] = s[rest].map(_go_float_str)
        return out
    return s.fillna("").astype(str)


def tokenize_series(s: pd.Series) -> pd.Series:
    """Vectorized tokenizer for a string column: lowercase + whitespace split.

    Identical token semantics to ``tokenize_value`` for string inputs;
    this is the hot path for the fixed-schema source-code table.
    """
    return stringify_series(s).str.lower().str.split()


def explode_tokens(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Flatten a string column into (row_index, token) parallel arrays.

    Vectorized: one ``str.split`` + ``np.repeat``/``concatenate``; returns
    object-dtype token array ready for the bloom kernel.
    """
    lists = tokenize_series(s)
    lengths = lists.str.len().fillna(0).astype(np.int64).to_numpy()
    if lengths.sum() == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=object)
    row_idx = np.repeat(np.arange(len(s), dtype=np.int64), lengths)
    flat = np.concatenate([np.asarray(x, dtype=object) for x in lists[lengths > 0]])
    return row_idx, flat


# ---------------------------------------------------------------------------
# Pluggable value tokenizers (the reference's ValueTokenizerFunc injection
# point, tokenizer.go:86-99; config field bloom_tree_engine.go:99).
#
# A tokenizer is registered by NAME and the name is persisted in the index
# meta.json, so the query/verify side always re-derives tokens exactly the
# way the build side inserted them (the reference stores the func on the
# engine config; a distributed build must serialize a name, not a closure).
# Three faces, kept semantically identical per tokenizer:
#   value_fn     one primitive -> [tokens]   (JSON walkers / slow fallback)
#   sql_tokens   string Column -> array<string> Column (JVM verify path)
#   arrow_unique string array -> unique token ndarray (vectorized build)
# Only value_fn is required; missing fast faces fall back to value_fn via
# Arrow-batched pandas UDFs (slower, still correct).
# ---------------------------------------------------------------------------

from dataclasses import dataclass as _dataclass
from typing import Callable, Optional


@_dataclass(frozen=True)
class Tokenizer:
    name: str
    value_fn: Callable[[Any], list]
    sql_tokens: Optional[Callable] = None  # Column -> Column(array<string>)
    arrow_unique: Optional[Callable] = None  # pa array -> np.ndarray of uniques


_TOKENIZERS: dict[str, Tokenizer] = {}


def register_tokenizer(tok: Tokenizer) -> Tokenizer:
    """Register (or replace) a named tokenizer.  Build AND query sides must
    both have it registered; the index stores only the name."""
    _TOKENIZERS[tok.name] = tok
    return tok


def get_tokenizer(name: str) -> Tokenizer:
    try:
        return _TOKENIZERS[name]
    except KeyError:
        raise KeyError(
            f"tokenizer {name!r} is not registered (register_tokenizer() must "
            f"run before building/querying an index that uses it); "
            f"known: {sorted(_TOKENIZERS)}"
        ) from None


def _ws_sql_tokens(c):
    from pyspark.sql import functions as F

    # (?U): Java \s is ASCII-only by default, but the python (.split())
    # and Arrow (utf8_split_whitespace) faces — and Go strings.Fields —
    # split on Unicode whitespace (NBSP etc.); without the flag the exact-
    # verify stage would silently drop rows the index correctly matched
    return F.split(F.lower(c), r"(?U)\s+")


def _ws_arrow_unique(arr) -> np.ndarray:
    """lower + whitespace-split + flatten + unique, entirely in Arrow
    kernels (contiguous string buffers — no per-token Python objects until
    the final small unique set).  Empty boundary splits are dropped,
    matching ``str.split()``/Go ``strings.Fields``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not isinstance(arr, (pa.Array, pa.ChunkedArray)):
        arr = pa.array(arr, type=pa.string(), from_pandas=True)
    if not pa.types.is_string(arr.type) and not pa.types.is_large_string(arr.type):
        arr = pc.cast(arr, pa.string())
    toks = pc.list_flatten(pc.utf8_split_whitespace(pc.utf8_lower(arr)))
    uniq = pc.unique(toks).drop_null()
    uniq = pc.filter(uniq, pc.not_equal(uniq, ""))
    return uniq.to_numpy(zero_copy_only=False).astype(object)


WHITESPACE_LOWER = register_tokenizer(
    Tokenizer(
        name="whitespace_lower",
        value_fn=tokenize_value,
        sql_tokens=_ws_sql_tokens,
        arrow_unique=_ws_arrow_unique,
    )
)

# -- code-identifier tokenizer: camelCase boundaries become spaces, then
#    lowercase and split on every non-[a-z0-9_] run — "parseHTTPBody" ->
#    [parse, http, body], "hello@world.com" -> [hello, world, com].  The
#    kind of identifier-aware tokenizer a user of the reference would plug
#    in via ValueTokenizerFunc for indexing source code.

_ACRONYM = r"([A-Z]+)([A-Z][a-z])"  # HTTPBody -> HTTP Body (applied first)
_CAMEL = r"([a-z0-9])([A-Z])"  # parseHTTP -> parse HTTP
_NON_IDENT = r"[^a-z0-9_]+"


def _code_value_fn(v: Any) -> list[str]:
    import re

    s = re.sub(_CAMEL, r"\1 \2", re.sub(_ACRONYM, r"\1 \2", go_format_value(v)))
    return [t for t in re.split(_NON_IDENT, s.lower()) if t]


def _code_sql_tokens(c):
    from pyspark.sql import functions as F

    s = F.regexp_replace(F.regexp_replace(c, _ACRONYM, r"$1 $2"), _CAMEL, r"$1 $2")
    toks = F.split(F.lower(s), _NON_IDENT)
    return F.filter(toks, lambda t: t != F.lit(""))


def _code_arrow_unique(arr) -> np.ndarray:
    import pyarrow as pa
    import pyarrow.compute as pc

    if not isinstance(arr, (pa.Array, pa.ChunkedArray)):
        arr = pa.array(arr, type=pa.string(), from_pandas=True)
    if not pa.types.is_string(arr.type) and not pa.types.is_large_string(arr.type):
        arr = pc.cast(arr, pa.string())
    arr = pc.replace_substring_regex(arr, pattern=_ACRONYM, replacement=r"\1 \2")
    arr = pc.replace_substring_regex(arr, pattern=_CAMEL, replacement=r"\1 \2")
    toks = pc.list_flatten(
        pc.split_pattern_regex(pc.utf8_lower(arr), pattern=_NON_IDENT)
    )
    uniq = pc.unique(toks).drop_null()
    uniq = pc.filter(uniq, pc.not_equal(uniq, ""))
    return uniq.to_numpy(zero_copy_only=False).astype(object)


CODE_IDENTIFIERS = register_tokenizer(
    Tokenizer(
        name="code_identifiers",
        value_fn=_code_value_fn,
        sql_tokens=_code_sql_tokens,
        arrow_unique=_code_arrow_unique,
    )
)


# one UDF object per value_fn: a multi-leaf verify predicate calls
# tokens_udf once per (leaf, column) — distinct pandas_udf objects would
# each be a separate py4j registration and a separate Python-eval node
# Catalyst cannot share (per-leaf plan-construction overhead)
_TOKENS_UDF_CACHE: dict = {}


def tokens_udf(tokenizer: Tokenizer):
    """Arrow-batched pandas UDF: string column -> array<string> of tokens
    via ``value_fn`` — the generic fallback when a custom tokenizer has no
    ``sql_tokens`` face.  Memoized per ``value_fn`` identity."""
    from pyspark.sql import functions as F

    fn = tokenizer.value_fn
    cached = _TOKENS_UDF_CACHE.get(fn)
    if cached is not None:
        return cached

    @F.pandas_udf("array<string>")
    def toks(s: pd.Series) -> pd.Series:
        return s.map(lambda v: [] if v is None else fn(v))

    _TOKENS_UDF_CACHE[fn] = toks
    return toks


def unique_tokens_fallback(arr, tokenizer: Tokenizer) -> np.ndarray:
    """Unique tokens of a string array via value_fn (build-side fallback
    when a custom tokenizer has no ``arrow_unique`` face)."""
    s = arr.to_pandas() if hasattr(arr, "to_pandas") else pd.Series(arr)
    out: set = set()
    fn = tokenizer.value_fn
    for v in s:
        if v is not None:
            out.update(fn(v))
    return np.asarray(sorted(out), dtype=object)


def unique_fields(doc: dict, delimiter: str = ".") -> dict[str, list[Any]]:
    """Flatten one nested document to {path: [unique primitive values]}.

    Array indices are discarded from paths, values are deduplicated per
    path per row (tokenizer.go:29-83): ``{"user":{"tags":[{"type":"user"},
    {"role":"admin"}]}}`` -> {"user.tags.type": ["user"],
    "user.tags.role": ["admin"]}.
    """
    out: dict[str, dict[str, Any]] = {}

    def walk(v: Any, path: str) -> None:
        if isinstance(v, dict):
            for kk, vv in v.items():
                walk(vv, f"{path}{delimiter}{kk}" if path else str(kk))
        elif isinstance(v, (list, tuple)):
            for item in v:
                walk(item, path)  # indices dropped (tokenizer.go:45-83)
        else:
            if path:
                # dedup by stringified form, preserve first-seen order
                bucket = out.setdefault(path, {})
                key = go_format_value(v)
                if key not in bucket:
                    bucket[key] = v

    walk(doc, "")
    return {p: list(vals.values()) for p, vals in out.items()}


def doc_index_entries(
    doc: dict, value_fn: Callable[[Any], list] = tokenize_value
) -> tuple[list[str], list[str], list[str]]:
    """One document -> (field paths, tokens, field::token keys) for indexing.

    The three search domains of README.md:113-166.  ``value_fn`` is the
    configured value tokenizer (defaults to the reference's lower+ws).
    """
    fields: list[str] = []
    tokens: set[str] = set()
    pairs: set[str] = set()
    for path, values in unique_fields(doc).items():
        fields.append(path)
        for v in values:
            for tok in value_fn(v):
                tokens.add(tok)
                pairs.add(f"{path}{FIELD_TOKEN_SEP}{tok}")
    return fields, sorted(tokens), sorted(pairs)


# ---------------------------------------------------------------------------
# Exact-verification walkers (Q12): bloom filters only disqualify; survivors
# are re-checked against the actual document structure
# (tokenizer.go:107-298, 411-425).
# ---------------------------------------------------------------------------


def doc_has_field(doc: dict, path: str, delimiter: str = ".") -> bool:
    """Field-exists walk: does ``path`` exist structurally (arrays descended,
    indices ignored)? tokenizer.go:107-150."""
    parts = path.split(delimiter)

    def walk(v: Any, i: int) -> bool:
        if i == len(parts):
            return True
        if isinstance(v, dict):
            return parts[i] in v and walk(v[parts[i]], i + 1)
        if isinstance(v, (list, tuple)):
            return any(walk(item, i) for item in v)
        return False

    return walk(doc, 0)


def doc_has_token(
    doc: Any, token: str, value_fn: Callable[[Any], list] = tokenize_value
) -> bool:
    """Token-equality walk over every primitive anywhere in the doc
    (tokenizer.go:152-194)."""
    if isinstance(doc, dict):
        return any(doc_has_token(v, token, value_fn) for v in doc.values())
    if isinstance(doc, (list, tuple)):
        return any(doc_has_token(v, token, value_fn) for v in doc)
    return token in value_fn(doc)


def doc_has_field_token(
    doc: dict,
    path: str,
    token: str,
    delimiter: str = ".",
    value_fn: Callable[[Any], list] = tokenize_value,
) -> bool:
    """field::token walk: token under that specific path (arrays descended,
    indices ignored — the documented "information loss" semantics,
    tokenizer_test.go:238-277)."""
    parts = path.split(delimiter)

    def walk(v: Any, i: int) -> bool:
        if isinstance(v, (list, tuple)):
            return any(walk(item, i) for item in v)
        if i == len(parts):
            return not isinstance(v, dict) and token in value_fn(v)
        if isinstance(v, dict):
            return parts[i] in v and walk(v[parts[i]], i + 1)
        return False

    return walk(doc, 0)


def doc_field_values(doc: Any, path: str, delimiter: str = ".") -> list[Any]:
    """All primitive values reachable at ``path`` (for regex evaluation on
    full field value strings, tokenizer.go:300-409)."""
    parts = path.split(delimiter)
    out: list[Any] = []

    def walk(v: Any, i: int) -> None:
        if isinstance(v, (list, tuple)):
            for item in v:
                walk(item, i)
        elif i == len(parts):
            if not isinstance(v, dict):
                out.append(v)
        elif isinstance(v, dict) and parts[i] in v:
            walk(v[parts[i]], i + 1)

    walk(doc, 0)
    return out
