"""Exact row verification (Q12/Q13) — the final truth stage.

Bloom filters only disqualify; rows from surviving blocks are re-checked
against actual content (bloom_tree_engine.go:831, 1182-1185).  Two paths:

- **Fixed-schema** (the hot path): the bloom tree compiles to a pure
  Catalyst Column — ``array_contains(split(lower(col), '\\s+'), token)``
  for token tests, ``isNotNull`` for field-exists, ``rlike`` for the
  final-stage regex.  Whole-stage-codegen-friendly, no Python at scan time.
- **Schemaless JSON** (compatibility path): an Arrow-batched pandas UDF
  that replays the reference walkers (field-exists / token / field:token
  with arrays descended and indices ignored, tokenizer.go:107-298; regex on
  full field value strings, :300-409).

Dialect note: fixed-schema regex uses Java regex (`rlike`), JSON path uses
Python `re`; both cover the Go RE2 subset exercised by the reference tests
(anchors, alternation, literals).  Numeric columns are matched via string
CAST on the fixed path (bigint casts identically to Go %v; float columns
would render "30.0" vs Go "30" — index floats via the JSON path if that
distinction matters).
"""

from __future__ import annotations

import functools
import json
import operator
import re
from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..query import BloomExpr, RegexExpr
from ..tokenizer import (
    WHITESPACE_LOWER,
    Tokenizer,
    doc_field_values,
    doc_has_field,
    doc_has_field_token,
    doc_has_token,
    go_format_value,
    tokens_udf,
)


class VerifyColumns:
    """Compiles bloom and regex trees to exact Catalyst predicates over
    the columns of one scan.

    The Columns that do not depend on the query are built once per
    instance and shared by every predicate it compiles: each column
    reference and string cast, each indexed column's token array, and
    the constant literals.  ``search()`` keeps one instance per index
    handle and scan schema, so a warm point search builds only its
    per-token leaves (each Column built is a py4j round trip).  A Column
    holds a JVM reference that dies with the session that built it:
    keep an instance on an object of that session, never at module
    level.

    Token tests use the INDEX's configured tokenizer — the verify stage
    must re-derive tokens exactly as the build inserted them (the
    reference stores one ValueTokenizerFunc on the engine config).  The
    tokenizer's Catalyst face is preferred (whole-stage codegen); python-
    only custom tokenizers fall back to an Arrow-batched pandas UDF over
    value_fn."""

    def __init__(
        self,
        indexed_fields: Sequence[str],
        columns: Sequence[str],
        tokenizer: Tokenizer = WHITESPACE_LOWER,
    ):
        self._columns = set(columns)
        self._indexed = [c for c in indexed_fields if c in self._columns]
        self._tokenizer = tokenizer
        self._memo: dict = {}

    def _memoized(self, key, build) -> Column:
        col = self._memo.get(key)
        if col is None:
            col = self._memo[key] = build()
        return col

    def _lit(self, value: bool) -> Column:
        return self._memoized(("lit", value), lambda: F.lit(value))

    def _col(self, name: str) -> Column:
        return self._memoized(("col", name), lambda: F.col(name))

    def _string(self, name: str) -> Column:
        return self._memoized(("string", name), lambda: self._col(name).cast("string"))

    def _tokens(self, name: str) -> Column:
        tok = self._tokenizer

        def build() -> Column:
            c = self._string(name)
            return tok.sql_tokens(c) if tok.sql_tokens is not None else tokens_udf(tok)(c)

        return self._memoized(("tokens", name), build)

    def _token_in(self, name: str, token: str) -> Column:
        # nvl(x, false) is Catalyst's coalesce(x, false): a NULL value
        # holds no token
        return F.nvl(F.array_contains(self._tokens(name), token), self._lit(False))

    def _fold(self, op, parts: list, empty: bool) -> Column:
        return functools.reduce(op, parts) if parts else self._lit(empty)

    def _bloom(self, expr: BloomExpr) -> Column:
        """Bloom tree -> exact predicate; see :func:`compile_bloom_verify`."""
        if expr.kind == "AND":
            return self._fold(operator.and_, [self._bloom(ch) for ch in expr.children], True)
        if expr.kind == "OR":
            return self._fold(operator.or_, [self._bloom(ch) for ch in expr.children], False)
        if expr.kind == "FIELD":
            if expr.field not in self._indexed:
                return self._lit(False)
            return self._col(expr.field).isNotNull()
        if expr.kind == "TOKEN":
            return self._fold(
                operator.or_, [self._token_in(c, expr.token) for c in self._indexed], False
            )
        if expr.kind == "FIELD_TOKEN":
            if expr.field not in self._indexed:
                return self._lit(False)
            return self._token_in(expr.field, expr.token)
        raise AssertionError(expr.kind)

    def _regex(self, expr: RegexExpr) -> Column:
        """Regex tree -> predicate; see :func:`compile_regex_verify`."""
        if expr.kind == "AND":
            return self._fold(operator.and_, [self._regex(ch) for ch in expr.children], True)
        if expr.kind == "OR":
            return self._fold(operator.or_, [self._regex(ch) for ch in expr.children], False)
        if expr.field not in self._columns:
            return self._lit(False)
        return F.nvl(self._string(expr.field).rlike(expr.pattern), self._lit(False))

    def predicate(self, bloom: Optional[BloomExpr], regex: Optional[RegexExpr]) -> Column:
        """``bloom`` AND ``regex`` (either may be None: no condition)."""
        parts = []
        if bloom is not None:
            parts.append(self._bloom(bloom))
        if regex is not None:
            parts.append(self._regex(regex))
        return self._fold(operator.and_, parts, True)


def compile_bloom_verify(
    expr: Optional[BloomExpr],
    indexed_fields: Sequence[str],
    columns: Sequence[str],
    tokenizer: Tokenizer = WHITESPACE_LOWER,
) -> Column:
    """Bloom tree -> exact Catalyst predicate over fixed-schema rows.

    - FIELD f: column exists and is non-null for the row
    - TOKEN t: t appears in the tokenization of ANY indexed column
      (the reference indexes every field; our fixed-schema equivalent of
      "anywhere in the document" is "any indexed column")
    - FIELD_TOKEN f t: t appears in the tokenization of column f

    FIELD / FIELD_TOKEN leaves naming a column OUTSIDE ``indexed_fields``
    compile to constant False: the build never inserted that field, so
    only bloom FALSE-POSITIVE blocks could reach verify — gating on the
    raw data columns instead would make results an FPR-dependent random
    subset.  "Not indexed" deterministically means "cannot match" (the
    reference indexes every field, so the case has no Go analog).
    """
    return VerifyColumns(indexed_fields, columns, tokenizer).predicate(expr, None)


def compile_regex_verify(expr: Optional[RegexExpr], columns: Sequence[str]) -> Column:
    """Regex tree -> Catalyst predicate on full field value strings
    (final-stage AND after bloom verification, README.md:140-166)."""
    return VerifyColumns((), columns).predicate(None, expr)


# ---------------------------------------------------------------------------
# JSON-document path
# ---------------------------------------------------------------------------


def _doc_matches_bloom(doc, expr: Optional[BloomExpr], value_fn) -> bool:
    if expr is None:
        return True
    if expr.kind == "AND":
        return all(_doc_matches_bloom(doc, ch, value_fn) for ch in expr.children)
    if expr.kind == "OR":
        return any(_doc_matches_bloom(doc, ch, value_fn) for ch in expr.children)
    if expr.kind == "FIELD":
        return doc_has_field(doc, expr.field)
    if expr.kind == "TOKEN":
        return doc_has_token(doc, expr.token, value_fn)
    if expr.kind == "FIELD_TOKEN":
        return doc_has_field_token(doc, expr.field, expr.token, value_fn=value_fn)
    raise AssertionError(expr.kind)


def _doc_matches_regex(doc, expr: Optional[RegexExpr], cache: dict) -> bool:
    if expr is None:
        return True
    if expr.kind == "AND":
        return all(_doc_matches_regex(doc, ch, cache) for ch in expr.children)
    if expr.kind == "OR":
        return any(_doc_matches_regex(doc, ch, cache) for ch in expr.children)
    pat = cache.get(expr.pattern)
    if pat is None:
        pat = cache[expr.pattern] = re.compile(expr.pattern)
    # evaluated on full (stringified) field values, not tokens
    return any(pat.search(go_format_value(v)) for v in doc_field_values(doc, expr.field))


def json_verify_udf(
    bloom_expr: Optional[BloomExpr],
    regex_expr: Optional[RegexExpr],
    tokenizer: Tokenizer = WHITESPACE_LOWER,
):
    """Pandas UDF over the JSON column: exact structural verification."""
    value_fn = tokenizer.value_fn

    @F.pandas_udf("boolean")
    def verify(raw: pd.Series) -> pd.Series:
        cache: dict = {}

        def one(r) -> bool:
            if r is None:
                return False
            doc = json.loads(r) if isinstance(r, str) else r
            return _doc_matches_bloom(doc, bloom_expr, value_fn) and _doc_matches_regex(
                doc, regex_expr, cache
            )

        return raw.map(one)

    return verify
