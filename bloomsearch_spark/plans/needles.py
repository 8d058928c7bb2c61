"""Batched needle search — N query tokens through ONE probe pass and ONE
data scan (the decontamination shape: "which training documents contain
any of these 10k eval-set tokens, and which ones?").

The reference answers one query per engine call (bloom_tree_engine.go's
single query tree); running N needles as N searches costs N manifest
probes and re-reads every block that matches more than one needle.  This
plan amortizes both:

1. **Probe once.**  The needles become one ``Or`` of token leaves and run
   through the single driver-side prune walk (operators/probe.py):
   file blooms first, then the block blooms of surviving files.  The
   walk probes a wide OR of same-filter leaves in one pass — every
   needle key hashes in one call, and each bitset answers every needle
   with one gather.  No Spark job.
2. **Scan once.** The surviving block set is the UNION over needles;
   each block directory is read exactly once no matter how many needles
   hit it.
3. **Verify as a join, not N predicates.** Scanned rows re-tokenize
   through the index's configured tokenizer (Catalyst face when the
   tokenizer has one — whole-stage codegen; Arrow UDF otherwise),
   explode to (token, row) and inner-join the broadcast needle list.
   Exact by construction: the join tests membership in precisely the
   token set the build inserted (W4), so bloom false positives fall out
   — same truth-stage discipline as operators/verify.py, but one pass
   for all needles.

100 TB shape: probe cost is O(blocks x needles) bit-tests inside numpy
(k ANDs per pair) behind the file-level funnel, streamed in manifest
batches; scan cost is bounded by the union of true-match blocks + their
bloom false positives; verify explodes only SCANNED rows' tokens and
joins a broadcast-sized needle table — the corpus never shuffles.  The
needle list itself is the QUERY, collected once on the driver (bounded
by ``max_needles``, loud error beyond).

Semantics notes (match search()):
- needles are caller-lowercased, like every query token (CLAUDE.md).
- ``field=`` restricts to one indexed column (``field:token`` blooms);
  a field outside ``indexed_fields`` deterministically matches nothing
  (verify.py's "not indexed means cannot match" rule).
- deletion vectors / shallow clones / schema evolution ride for free:
  the scan goes through scan_blocks.
- JSON-schemaless indexes verify through the build-side walkers
  (unique_fields / doc_index_entries), so join tokens equal inserted
  tokens exactly.
"""

from __future__ import annotations

import json
from typing import Iterable, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..query import FieldToken, Or, Query, Token
from ..sources.manifest import BloomIndex
from ..tokenizer import (
    Tokenizer,
    doc_index_entries,
    get_tokenizer,
    tokens_udf,
    unique_fields,
)
from . import search as _search
from .search import scan_blocks

DEFAULT_MAX_NEEDLES = 1_000_000


def _needle_list(needles, max_needles: int) -> list[str]:
    if isinstance(needles, DataFrame):
        if len(needles.columns) != 1:
            raise ValueError(
                "needles DataFrame must have exactly one string column, "
                f"got {needles.columns}"
            )
        col = needles.columns[0]
        rows = (
            needles.select(F.col(col).cast("string"))
            .na.drop()
            .distinct()
            .limit(max_needles + 1)
            .collect()
        )
        if len(rows) > max_needles:
            raise ValueError(
                f"needle set exceeds max_needles={max_needles} — the "
                "needle list is collected to the driver (it is the "
                "query, and its bit positions must be hashed at plan "
                "time); raise max_needles explicitly if the driver can "
                "hold it"
            )
        vals: Iterable[str] = (r[0] for r in rows)
    else:
        vals = (str(v) for v in needles if v is not None)
    out = sorted({v for v in vals if v != ""})
    if len(out) > max_needles:
        raise ValueError(
            f"needle set exceeds max_needles={max_needles} ({len(out)} "
            "distinct) — raise max_needles explicitly if the driver can "
            "hold it"
        )
    return out


def _json_tokens_udf(tokenizer: Tokenizer, field: Optional[str]):
    """Schemaless path: per-doc token set via the BUILD-side walkers, so
    join tokens equal inserted tokens exactly (same discipline as
    verify.py's JSON walkers, set-shaped instead of predicate-shaped)."""

    value_fn = tokenizer.value_fn

    @F.pandas_udf("array<string>")
    def jtoks(s: pd.Series) -> pd.Series:
        out = []
        for raw in s:
            try:
                doc = json.loads(raw) if raw is not None else None
            except (TypeError, ValueError):
                doc = None
            if not isinstance(doc, dict):
                out.append([])
                continue
            if field is not None:
                vals = unique_fields(doc).get(field, [])
                toks = sorted({t for v in vals for t in value_fn(v)})
            else:
                _, toks, _ = doc_index_entries(doc, value_fn)
            out.append(toks)
        return pd.Series(out)

    return jtoks


def _empty_result(index: BloomIndex) -> DataFrame:
    data = scan_blocks(index, [])
    data = data.select(
        F.lit(None).cast("string").alias("needle"), *data.columns
    )
    return _project(index, data).filter(F.lit(False))


def _project(index: BloomIndex, out: DataFrame) -> DataFrame:
    source_columns = index.meta().get("source_columns")
    if source_columns:
        keep = ["needle"] + [c for c in source_columns if c in out.columns]
        out = out.select(*keep)
    return index.rename_to_logical(out)


def search_needles(
    spark: SparkSession,
    index: BloomIndex,
    needles,
    field: Optional[str] = None,
    max_needles: int = DEFAULT_MAX_NEEDLES,
) -> DataFrame:
    """Search MANY single-token needles in one pass.

    ``needles``: list/iterable of tokens or a one-column DataFrame.
    Returns ``(needle string, <source columns>)`` — one row per
    (needle, matching row) pair; a row matching 3 needles appears 3
    times, each tagged.  Rows are exact (bloom FPs verified away)."""
    cfg = index.config
    if field is not None and index.column_mapping():
        # logical -> physical (unknown logicals become the reserved
        # never-existing physical name -> deterministically empty)
        field = index.to_physical(field)
    keys = _needle_list(needles, max_needles)
    if not keys:
        return _empty_result(index)
    src_cols = index.logical_columns() or ()
    if "needle" in src_cols:
        raise ValueError(
            "the source schema already has a column named 'needle' — "
            "search_needles tags each output row with that name and "
            "cannot disambiguate"
        )
    if (
        field is not None
        and cfg.json_col is None
        and field not in cfg.indexed_fields
    ):
        # never indexed -> deterministically cannot match (verify.py rule)
        return _empty_result(index)

    leaves = [FieldToken(field, k) if field is not None else Token(k) for k in keys]
    surviving = _search.candidate_blocks(index, Query(bloom=Or(*leaves)))
    data = scan_blocks(index, surviving)
    tok = get_tokenizer(cfg.tokenizer)
    if cfg.json_col is not None:
        toks_col = _json_tokens_udf(tok, field)(F.col(cfg.json_col))
    else:
        cols = (
            [field]
            if field is not None
            else [c for c in cfg.indexed_fields if c in data.columns]
        )
        if not cols:
            return _empty_result(index)
        arrs = []
        for c in cols:
            sc = F.col(c).cast("string")
            t = tok.sql_tokens(sc) if tok.sql_tokens is not None else tokens_udf(tok)(sc)
            arrs.append(F.coalesce(t, F.expr("CAST(array() AS array<string>)")))
        toks_col = F.array_distinct(F.concat(*arrs) if len(arrs) > 1 else arrs[0])

    needles_df = spark.createDataFrame(
        [(k,) for k in keys], "needle string"
    )
    exploded = data.withColumn("_bs_ntok", F.explode(toks_col))
    out = exploded.join(
        F.broadcast(needles_df),
        exploded["_bs_ntok"] == needles_df["needle"],
    ).drop("_bs_ntok")
    return _project(index, out.select("needle", *data.columns))
