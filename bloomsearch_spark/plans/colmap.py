"""Column mapping — metadata-only column RENAME and DROP (the Delta Lake
column-mapping analog; no reference counterpart — bloomsearch's schema is
whatever the JSON docs carry).

Model
-----
Everything WRITTEN is keyed by PHYSICAL column names, frozen at first
write: parquet columns, ``field``/``field::token`` bloom keys, zone-map
keys, and every ``IndexConfig`` reference (indexed_fields, minmax_fields,
partition_expr, sha_col).  A table-level ``column_mapping``
(logical -> physical, carried by every commit like constraints) is the
ONLY thing a rename or drop touches — zero data or manifest-row bytes:

- ``rename_column(old, new)``: the logical key moves; the physical name
  (and with it every stored bloom/zone-map key) is untouched.  Queries
  arrive in logical names and translate to physical at plan time
  (:func:`translate_query`); results rename physical -> logical at the
  edge (``BloomIndex.rename_to_logical``).
- ``drop_column(name)``: the logical key disappears and its physical name
  is RETIRED (recorded in ``retired_columns``).  Old blocks still hold
  the bytes; every logical read excludes them.  A later ``merge_schema``
  append that re-adds the same logical name mints a FRESH physical name
  (plans/build.py), so the old values can never resurrect.

Refusals (all loud):
- drop of a column referenced by the IndexConfig (indexed_fields,
  minmax_fields, sha_col, partition_expr): appends re-evaluate those
  expressions against physical names, and an any-field TOKEN query's
  verify stage re-tokenizes every indexed column — a dropped-but-indexed
  column would either break appends or leak dropped data into results.
  Delta refuses partition-column drops for the same reason.
- rename/drop of a column referenced by a CHECK constraint expression:
  constraint exprs are stored SQL strings evaluated against the
  physical-named staging frame; a rename would silently detach them.
  (Conservative word-boundary scan; drop the constraint first.)
- rename/drop on external (zero-copy overlay) indexes — the data files
  belong to the source table — and on ``json_col`` indexes (schemaless:
  there are no columns to map).

100 TB shape: both operations are one O(meta.json) commit under the
commit lock — no data, no manifest rows, no Spark job.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import SparkSession

from ..query import (
    BloomExpr,
    PrefilterExpr,
    Query,
    RegexExpr,
)
from ..sources import manifest as mf
from ..sources.manifest import BloomIndex

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _word_in(expr: str, name: str) -> bool:
    """Conservative 'does this SQL string reference column <name>' check
    (word boundary; backtick-quoted identifiers included)."""
    return re.search(rf"(?<![A-Za-z0-9_`]){re.escape(name)}(?![A-Za-z0-9_`])", expr) is not None


def _full_mapping(index: BloomIndex) -> dict:
    """The stored mapping, or the identity mapping synthesized from the
    committed physical columns (first rename/drop initializes it)."""
    m = index.column_mapping()
    if m:
        return m
    cols = index.meta().get("source_columns")
    if cols is None:
        raise ValueError(
            "this index version records no source_columns metadata — "
            "column mapping needs the committed column list (rebuild or "
            "append once to stamp it)"
        )
    return {c: c for c in cols}


def _refuse_unmappable(index: BloomIndex, op: str) -> None:
    if index.meta().get("external", False):
        raise ValueError(
            f"{op} is not supported on EXTERNAL indexes — the data files "
            "belong to the source table; rename the source and rebuild "
            "the overlay"
        )
    if index.config.json_col is not None:
        raise ValueError(
            f"{op} is not supported on schemaless json_col indexes — "
            "field paths live inside the documents, not in columns"
        )


def _refuse_constrained(index: BloomIndex, name: str, op: str) -> None:
    from ..operators.constraints import normalize_constraints

    cons = normalize_constraints(index.meta().get("constraints"))
    hit = sorted(
        cname for cname, c in cons.items() if _word_in(c["expr"], name)
    )
    if hit:
        raise ValueError(
            f"cannot {op} column {name!r}: CHECK constraint(s) {hit} "
            "reference it — drop_constraint first (constraint exprs are "
            "stored SQL evaluated against physical column names and "
            "would silently detach)"
        )


def rename_column(
    spark: SparkSession,
    index: BloomIndex,
    old: str,
    new: str,
    conflict_retries: int = 0,
) -> BloomIndex:
    """``ALTER TABLE RENAME COLUMN old TO new`` — metadata-only commit.

    The physical name (parquet columns, bloom/zone-map keys) never
    changes; queries and results speak the new logical name immediately,
    across ALL historical blocks."""
    from .merge import _retry_conflicts

    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: rename_column(spark, ix, old, new, 0),
        )
    _refuse_unmappable(index, "rename_column")
    if not _IDENT.match(new):
        raise ValueError(
            f"new column name {new!r} is not a plain identifier "
            "([A-Za-z_][A-Za-z0-9_]*)"
        )
    mapping = _full_mapping(index)
    if old not in mapping:
        raise ValueError(
            f"no logical column {old!r}; have {sorted(mapping)}"
        )
    if new in mapping:
        raise ValueError(
            f"logical column {new!r} already exists; have {sorted(mapping)}"
        )
    _refuse_constrained(index, old, "rename")
    new_map = {(new if l == old else l): p for l, p in mapping.items()}
    return mf.commit_child(
        index, f"rename_column {old} -> {new}", meta={"column_mapping": new_map}
    )


def drop_column(
    spark: SparkSession,
    index: BloomIndex,
    name: str,
    conflict_retries: int = 0,
) -> BloomIndex:
    """``ALTER TABLE DROP COLUMN name`` — metadata-only commit.  The
    physical bytes stay in existing blocks (excluded from every logical
    read) until natural rewrite churn retires them; the physical name is
    recorded in ``retired_columns`` so a re-added same-named logical
    column gets a fresh physical name."""
    from .merge import _retry_conflicts

    if conflict_retries:
        return _retry_conflicts(
            spark, index, conflict_retries,
            lambda ix: drop_column(spark, ix, name, 0),
        )
    _refuse_unmappable(index, "drop_column")
    mapping = _full_mapping(index)
    if name not in mapping:
        raise ValueError(
            f"no logical column {name!r}; have {sorted(mapping)}"
        )
    if len(mapping) == 1:
        raise ValueError("cannot drop the last column")
    phys = mapping[name]
    cfg = index.config
    referenced = set(cfg.indexed_fields or ()) | set(cfg.minmax_fields or ())
    if cfg.sha_col:
        referenced.add(cfg.sha_col)
    if phys in referenced or (
        cfg.partition_expr and _word_in(cfg.partition_expr, phys)
    ):
        raise ValueError(
            f"cannot drop column {name!r} (physical {phys!r}): the "
            "IndexConfig references it (indexed_fields / minmax_fields / "
            "sha_col / partition_expr) — appends re-evaluate those "
            "against physical columns, and dropped-but-indexed data "
            "would leak into any-field token results.  Rebuild with a "
            "config that does not reference it"
        )
    _refuse_constrained(index, name, "drop")
    new_map = {l: p for l, p in mapping.items() if l != name}
    retired = list(index.retired_columns())
    if phys not in retired:
        retired.append(phys)
    # the committed physical column list / schema shrink with the drop, so
    # scans stop reading the retired bytes and a later merge_schema append
    # widens cleanly (its missing-columns check compares LIVE physicals)
    updates: dict = {"column_mapping": new_map, "retired_columns": retired}
    meta = index.meta()
    cols = meta.get("source_columns")
    if cols:
        updates["source_columns"] = [c for c in cols if c != phys]
    sj = meta.get("source_schema")
    if sj:
        import json as _json

        sch = _json.loads(sj)
        sch["fields"] = [f for f in sch["fields"] if f.get("name") != phys]
        updates["source_schema"] = _json.dumps(sch)
    return mf.commit_child(index, f"drop_column {name}", meta=updates)


# ---------------------------------------------------------------------------
# Plan-time query translation (logical -> physical)
# ---------------------------------------------------------------------------


def _map_bloom(e: Optional[BloomExpr], tp) -> Optional[BloomExpr]:
    if e is None:
        return None
    if e.kind in ("AND", "OR"):
        return BloomExpr(e.kind, children=tuple(_map_bloom(c, tp) for c in e.children))
    if e.kind == "FIELD":
        return BloomExpr("FIELD", field=tp(e.field))
    if e.kind == "FIELD_TOKEN":
        return BloomExpr("FIELD_TOKEN", field=tp(e.field), token=e.token)
    return e  # TOKEN: no field name


def _map_regex(e: Optional[RegexExpr], tp) -> Optional[RegexExpr]:
    if e is None:
        return None
    if e.kind in ("AND", "OR"):
        return RegexExpr(e.kind, children=tuple(_map_regex(c, tp) for c in e.children))
    return RegexExpr("CONDITION", field=tp(e.field), pattern=e.pattern)


def _map_prefilter(e: Optional[PrefilterExpr], tp) -> Optional[PrefilterExpr]:
    if e is None:
        return None
    if e.kind in ("AND", "OR"):
        return PrefilterExpr(
            e.kind, children=tuple(_map_prefilter(c, tp) for c in e.children)
        )
    if e.kind == "MINMAX":
        return PrefilterExpr("MINMAX", condition=e.condition, field=tp(e.field))
    return e  # PARTITION: no field name


def translate_query(index: BloomIndex, query: Query) -> Query:
    """Rewrite a logical-named query tree to physical names under the
    index's column mapping.  Identity no-op (same object) when the table
    has no mapping.  Unknown logical names map to a reserved
    never-existing physical name — bloom probes may false-positive on
    it, but verify's 'not indexed means cannot match' rule zeroes the
    rows (and zone-map strictness fails absent minmax keys), so the
    result is deterministically empty for that leaf."""
    if not index.column_mapping():
        return query
    tp = index.to_physical
    return Query(
        prefilter=_map_prefilter(query.prefilter, tp),
        bloom=_map_bloom(query.bloom, tp),
        regex=_map_regex(query.regex, tp),
    )
