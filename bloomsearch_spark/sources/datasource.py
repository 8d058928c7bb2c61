"""Transparent integration: the bloom index as a Spark DataSource.

SURVEY §4.1 deferred "a plain ``df.filter`` gets bloom-pruned
automatically" because a Catalyst ``SparkSessionExtensions`` rule needs
JVM code.  Spark 4's **Python DataSource API** (with filter pushdown,
``pyspark.sql.datasource``) closes that gap Spark-first:

    spark.dataSource.register(BloomSearchDataSource)
    df = (spark.read.format("bloomsearch")
          .option("root", "/path/to/index")
          .option("token", "needle")          # bloom-pruned existence query
          .load())
    df.filter("lang = 'de' AND n_chars >= 100").show()   # WHERE prunes too
    df.createOrReplaceTempView("docs"); spark.sql("SELECT ... FROM docs")

How the pieces map:

- ``pushFilters`` receives the query's WHERE conditions: equality/IN on
  the partition source column and comparisons on ``minmax_fields`` become
  partition/zone-map PREFILTERS (Q2-Q5); equality/IN on any other
  *indexed* field becomes a ``field:token`` BLOOM prefilter (the
  reference's query builder reaches the same pruning for every indexed
  field, query.go:673-778) — a value whose tokenization is multi-token
  pushes the AND of its tokens, which a matching row necessarily
  contains.  Every filter is returned as "unsupported" so **Spark
  re-applies it after the scan** — the pushed form is used purely to
  prune, which is always sound (blooms and zone maps only disqualify;
  prefilter semantics are conservative supersets).
- ``partitions()`` runs the library's one hierarchical prune (Q6-Q10,
  operators/probe.py) ON THE DRIVER over the manifest via pyarrow — the
  same walk ``search()`` uses; each surviving block becomes an
  ``InputPartition``.  Past ``max_driver_blocks`` survivors the planner
  switches to the DISTRIBUTED fallback: row-group ranges of the manifest
  part-files become the ``InputPartition``\\s (``slice_rows``) and the
  executors run the walk's per-batch prune (no file level) + scan
  themselves — the driver never holds a block list at any index size.
- ``read()`` runs on executors: CRC-verified block read through the fs
  layer + the EXACT verify stage (Q12/Q13) re-derived with the index's
  tokenizer — so the DataFrame contains exactly the query's matches, not
  a candidate superset.  Regex queries (``field_regex`` option) prune via
  the Q14 field-guard rewrite and verify with the same final-stage
  semantics as the library path.  External (zero-copy) indexes scan the
  SOURCE parquet files in place, re-deriving block membership per row.

Scope/limits (use :func:`bloomsearch_spark.search` beyond them — it is
the scale path; this is the convenience/compatibility surface):

- external indexes need a bare-column (or empty) ``partition_expr`` of
  string/integer/boolean type — the executor re-derives partition ids
  outside Catalyst (same constraint as the writer);
- a custom tokenizer must be registered in the executor interpreters
  (same contract as the build, fs.register_scheme docstring);
- **one** ``load()`` **per query shape** (Spark sharp edge, observed on
  4.1): Spark caches the planned partition list on the loaded relation
  and only re-plans when the action pushes filters — a FILTERLESS action
  on the same DataFrame after a filtered one reuses the filtered
  (pruned) partitions and under-counts.  Filtered-after-filtered and
  fresh ``load()`` calls are always correct.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)

from ..query import (
    And,
    BloomExpr,
    Eq,
    Field,
    FieldRegex,
    FieldToken,
    Gt,
    Gte,
    In as QIn,
    Lt,
    Lte,
    MinMax,
    Or,
    Partition,
    PrefilterAnd,
    PrefilterExpr,
    Query,
    RegexExpr,
    Token,
    and_bloom,
    validate_regexes,
)
from ..operators.probe import (
    MAX_DRIVER_BLOCKS,
    DriverPruneOverflow,
    block_columns,
    prune_batch,
    prune_blocks_driver,
    with_columns,
)
from . import fs as fsx
from . import manifest as mf

# ---------------------------------------------------------------------------
# pandas twin of the Catalyst verify compiler.  Semantics are pinned 1:1 to
# verify.compile_bloom_verify (not-indexed-field => False); the prune
# kernels (prefilter, bloom probe, the manifest walk) live in
# operators/probe.py.
# ---------------------------------------------------------------------------


def verify_pdf(
    expr: BloomExpr | None,
    pdf: pd.DataFrame,
    indexed_fields: Sequence[str],
    tokenizer,
) -> np.ndarray:
    """EXACT verify (Q12) over candidate rows — verify.compile_bloom_verify
    re-expressed in pandas with the index's tokenizer.

    Vectorized via per-column FACTORIZATION (r06, VERDICT r05 item 8):
    each distinct value is cast + tokenized ONCE (a vectorized
    ``tokenize_series`` for the default tokenizer; one ``value_fn`` call
    per distinct for a custom one — the irreducible Python cost), and
    every token-membership leaf is one pass over the DISTINCTS plus a
    C-level gather ``mask_of_distinct[codes]`` instead of two per-row
    Python lambda passes.  Token lists stay LISTS — converting them to
    frozensets measured as expensive as tokenizing itself, and ``in``
    over the typical 1-5 tokens is just as fast.  Multi-leaf queries and
    duplicate-heavy columns amortize to near-zero marginal cost per
    leaf."""
    from ..tokenizer import tokenize_series

    n = len(pdf)
    cols = set(pdf.columns)
    indexed = set(indexed_fields) & cols
    # col -> (factorize codes, token list per distinct value)
    tok_cache: dict[str, tuple[np.ndarray, list]] = {}

    def _cast_value(v):
        # mirror the Spark verify path's F.col(c).cast("string") before the
        # tokenizer sees the value: value_fn's contract is a string input
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return None
        if isinstance(v, str):
            return v
        if isinstance(v, (bool, np.bool_)):
            return "true" if v else "false"
        return str(v)

    def tokens_of(col: str) -> tuple[np.ndarray, list]:
        cached = tok_cache.get(col)
        if cached is None:
            codes, uniques = pd.factorize(pdf[col], use_na_sentinel=True)
            if tokenizer.name == "whitespace_lower":
                lists = list(tokenize_series(pd.Series(uniques)))
            else:
                fn = tokenizer.value_fn
                lists = [
                    fn(cv) if (cv := _cast_value(u)) is not None else ()
                    for u in uniques
                ]
            cached = tok_cache[col] = (codes, lists)
        return cached

    def tok_in(col: str, t: str) -> np.ndarray:
        codes, lists = tokens_of(col)
        mask_u = np.fromiter((t in x for x in lists), bool, count=len(lists))
        out = np.zeros(n, bool)
        valid = codes >= 0  # -1 = null value: never matches a token
        out[valid] = mask_u[codes[valid]]
        return out

    def ev(e: BloomExpr | None) -> np.ndarray:
        if e is None:
            return np.ones(n, bool)
        if e.kind == "AND":
            out = np.ones(n, bool)
            for ch in e.children:
                out &= ev(ch)
            return out
        if e.kind == "OR":
            out = np.zeros(n, bool)
            for ch in e.children:
                out |= ev(ch)
            return out
        if e.kind == "FIELD":
            if e.field not in indexed:
                return np.zeros(n, bool)
            return pdf[e.field].notna().to_numpy()
        if e.kind == "TOKEN":
            out = np.zeros(n, bool)
            for c in indexed_fields:
                if c in cols:
                    out |= tok_in(c, e.token)
            return out
        if e.kind == "FIELD_TOKEN":
            if e.field not in indexed:
                return np.zeros(n, bool)
            return tok_in(e.field, e.token)
        raise AssertionError(e.kind)

    return ev(expr)


def _java_number_str(v) -> str:
    """Java ``Double.toString``/``Float.toString`` rendering — what
    Catalyst ``cast("string")`` produces for float/double columns: NaN /
    Infinity spelled out; positional form (always with a fractional
    digit) for 1e-3 <= |v| < 1e7; otherwise ``d.dddE±x`` scientific with
    a bare exponent.  ``str(v)`` on the scalar supplies the
    shortest-roundtrip digits (numpy float32 scalars stringify with
    float32-shortest digits, matching Float.toString).

    Digit-count caveat (measured, property-tested): JDK 19+ renders
    shortest-round-trip digits — identical to this function.  Pre-19 JVMs
    (legacy FloatingDecimal, JDK-4511638) occasionally emit ONE extra
    digit (≈0.3% of uniform-random bit patterns, only values needing 17
    significant digits; 0% of values with ≤15), and on the SUBNORMAL tail
    (|v| < 2.3e-308) Java may choose different digits of the same double
    (``4.9E-324`` vs shortest ``5.0E-324``).  A regex anchored on the
    full digit string of such a value can therefore diverge from the
    library's JVM ``cast+rlike`` — same family of documented dialect
    caveat as Python ``re`` vs Java regex.  Property-tested against the
    live JVM in test_java_number_str_fuzz_vs_spark."""
    import math as _math
    from decimal import Decimal

    f = float(v)
    if _math.isnan(f):
        return "NaN"
    if _math.isinf(f):
        return "Infinity" if f > 0 else "-Infinity"
    sign, digits, dexp = Decimal(str(v)).as_tuple()
    raw = "".join(map(str, digits))
    ds = raw.rstrip("0") or "0"
    exp = len(raw) + dexp - 1  # decimal exponent of the leading digit
    neg = "-" if sign else ""
    if f == 0.0:
        return neg + "0.0"
    if -3 <= exp < 7:
        if exp >= len(ds) - 1:
            return f"{neg}{ds}{'0' * (exp - len(ds) + 1)}.0"
        if exp >= 0:
            return f"{neg}{ds[: exp + 1]}.{ds[exp + 1 :]}"
        return neg + "0." + "0" * (-exp - 1) + ds
    return f"{neg}{ds[0]}.{ds[1:] or '0'}E{exp}"


_SPARK_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
_SPARK_FLOAT_TYPES = {"float", "double"}


def _spark_cast_str_typed(s: pd.Series, spark_type: str | None) -> pd.Series:
    """pandas twin of Catalyst ``cast("string")``, steered by the SPARK
    field type (the pandas dtype lies: an int64 parquet column with any
    NULL arrives as float64 and naive str() renders '5.0' where Spark
    renders '5').  Nulls stay null."""
    mask = s.notna().to_numpy()
    vals = np.full(len(s), None, dtype=object)
    if mask.any():
        sub = s[mask]
        if spark_type == "boolean" or pd.api.types.is_bool_dtype(s):
            conv = ["true" if v else "false" for v in sub]
        elif spark_type in _SPARK_INT_TYPES:
            conv = [str(int(v)) for v in sub]
        elif spark_type in _SPARK_FLOAT_TYPES or (
            spark_type is None and pd.api.types.is_float_dtype(s)
        ):
            conv = [_java_number_str(v) for v in sub]
        elif spark_type == "string":
            conv = list(sub)
        else:
            conv = [
                ("true" if v else "false")
                if isinstance(v, (bool, np.bool_))
                else str(v)
                for v in sub
            ]
        vals[mask] = conv
    return pd.Series(vals, index=s.index, dtype=object)


def regex_verify_pdf(
    expr: RegexExpr | None, pdf: pd.DataFrame, schema=None
) -> np.ndarray:
    """Final-stage regex verify (Q13) over candidate rows — the pandas
    twin of verify.compile_regex_verify: re.search over the Spark-cast
    string form of full field values (``schema``, a StructType, steers
    the numeric rendering to Catalyst's); null / missing column -> False.
    Dialect caveat as the library path documents: Python ``re`` here vs
    Java regex in ``rlike`` — both cover the Go RE2 subset the reference
    tests exercise."""
    import re

    n = len(pdf)
    cols = set(pdf.columns)
    cache: dict[str, "re.Pattern"] = {}
    types = (
        {f.name: f.dataType.simpleString() for f in schema.fields}
        if schema is not None
        else {}
    )

    def ev(e: RegexExpr | None) -> np.ndarray:
        if e is None:
            return np.ones(n, bool)
        if e.kind == "AND":
            out = np.ones(n, bool)
            for ch in e.children:
                out &= ev(ch)
            return out
        if e.kind == "OR":
            out = np.zeros(n, bool)
            for ch in e.children:
                out |= ev(ch)
            return out
        if e.field not in cols:
            return np.zeros(n, bool)
        pat = cache.get(e.pattern)
        if pat is None:
            pat = cache[e.pattern] = re.compile(e.pattern)
        s = _spark_cast_str_typed(pdf[e.field], types.get(e.field))
        return s.map(
            lambda v: isinstance(v, str) and pat.search(v) is not None
        ).to_numpy(dtype=bool)

    return ev(expr)


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------


@dataclass
class _BlockChunk(InputPartition):
    rel_paths: list


@dataclass
class _ExternalChunk(InputPartition):
    """One SOURCE parquet file of a zero-copy external index plus the
    surviving partition values within it (external block = (file, pid))."""

    src: str
    partition_ids: list


@dataclass
class _ManifestSlice(InputPartition):
    """Distributed-prune fallback unit: a ROW-GROUP range of one
    blocks-manifest part-file; the executor prunes and scans it (see
    _slice_partitions).  Row-group granularity keeps the fallback
    parallel even when a fold leaves the whole manifest in a handful of
    large part files."""

    part: str
    row_groups: list


class BloomSearchReader(DataSourceReader):
    def __init__(self, options: dict, schema) -> None:
        self.root = mf.root_option(options)
        if not self.root:
            raise ValueError(
                "bloomsearch datasource requires .option('root', ...) or load(path)"
            )
        self.out_schema = schema
        self.blocks_per_task = int(options.get("blocks_per_task", "4"))
        # the DataSource pins the version it inferred the schema from
        # (option also user-settable: time travel to any committed version)
        version = options.get("version") or mf.current_version(self.root)
        if version is None:
            raise FileNotFoundError(f"no committed manifest under {self.root}")
        self.version = version
        meta = self._meta()
        self.external = bool(meta.get("external"))
        cfg = meta["config"]
        self.indexed_fields = tuple(cfg.get("indexed_fields") or ())
        self.tokenizer_name = cfg.get("tokenizer", "whitespace_lower")
        self.minmax_fields = set(cfg.get("minmax_fields") or ())
        pe = cfg.get("partition_expr") or ""
        # filters on the partition SOURCE column map to partition prefilters
        # only when the expr is a bare column name (the common case)
        self.partition_src = pe if pe.isidentifier() else None
        # hidden partitioning (partition.py): a declared transform lets
        # equality/IN on the SOURCE column prune partitions through the
        # python twin of the write-side expression
        self.partition_tf = cfg.get("partition_transform") or None
        if self.partition_tf:
            from ..partition import parse_transform

            self.partition_tf_src = parse_transform(self.partition_tf)[2]
        else:
            self.partition_tf_src = None
        if self.external:
            # the executor re-derives partition ids OUTSIDE Catalyst (block
            # = (source file, partition value)): only a bare column — or no
            # partitioning — of a type whose pandas string form matches
            # Spark's cast is supported (same constraint as the writer)
            if pe not in ("", "''") and not pe.isidentifier():
                raise ValueError(
                    f"external index partition_expr {pe!r} is not a bare "
                    "column — the DataSource cannot re-derive it; use "
                    "bloomsearch_spark.search()"
                )
            if pe.isidentifier() and pe in {f.name for f in schema.fields}:
                from pyspark.sql.types import (
                    BooleanType,
                    ByteType,
                    IntegerType,
                    LongType,
                    ShortType,
                    StringType,
                )

                ok = (StringType, ByteType, ShortType, IntegerType, LongType,
                      BooleanType)
                if not isinstance(schema[pe].dataType, ok):
                    raise ValueError(
                        f"external index partition column {pe!r} has type "
                        f"{schema[pe].dataType} — the DataSource only "
                        "re-derives string/integer/boolean partitions; use "
                        "bloomsearch_spark.search()"
                    )
        self.source_columns = meta.get("source_columns") or []
        self.max_driver_blocks = int(
            options.get("max_driver_blocks", str(MAX_DRIVER_BLOCKS))
        )
        self.slice_rows = int(options.get("slice_rows", "4096"))
        # deletion-vector segment refs (merge-on-read DELETE) — empty for
        # the common no-DV case; the executor-side mask loads lazily once
        # per task from these immutable manifest segments
        self.dv_refs = tuple((meta.get("tables") or {}).get("dvs") or ())
        # column mapping (r06): Spark-facing names are LOGICAL; everything
        # stored (parquet columns, bloom keys, zone maps, IndexConfig) is
        # physical.  Option queries and pushed filters translate
        # logical -> physical at plan time; the one batch-emit point
        # (_verify_batches) renames physical -> logical.
        self.colmap = dict(meta.get("column_mapping") or {})
        self._colmap_inv = {p: l for l, p in self.colmap.items()}
        self._bloom = self._parse_bloom_options(options)
        self._regex = self._parse_regex_options(options)
        if self.colmap:
            from ..plans.colmap import _map_bloom, _map_regex

            self._bloom = _map_bloom(self._bloom, self._to_phys)
            self._regex = _map_regex(self._regex, self._to_phys)
        self._pushed_prefilter: list[PrefilterExpr] = []
        self._pushed_bloom: list[BloomExpr] = []
        # (column, pyarrow Expression) conjuncts applied to the BLOCK scan
        # itself (picklable; the reader ships to executors)
        self._pushed_exact: list[tuple] = []

    def _meta(self) -> dict:
        # cached: a version is immutable, and one load() otherwise pays
        # several meta.json fetch+parse round-trips (schema, __init__,
        # partitions) — real latency on an object-store root
        m = getattr(self, "_meta_cache", None)
        if m is None:
            import json

            m = self._meta_cache = json.loads(
                fsx.read_bytes(
                    fsx.join(self.root, "manifest", self.version, "meta.json")
                )
            )
        return m

    def _table_refs(self) -> dict:
        refs = self._meta().get("tables")
        if refs is None:
            refs = {t: [f"{self.version}/{t}.parquet"] for t in mf.TABLES}
        return refs

    @staticmethod
    def _parse_bloom_options(options: dict) -> BloomExpr | None:
        """token= / tokens= / field= / field_token=f:t options, implicit-AND
        (the QueryBuilder's chaining semantics)."""
        leaves: list[BloomExpr] = []
        if options.get("token"):
            leaves.append(Token(options["token"]))
        if options.get("tokens"):
            leaves.extend(Token(t) for t in options["tokens"].split(",") if t)
        if options.get("field"):
            leaves.append(Field(options["field"]))
        if options.get("field_token"):
            f, _, t = options["field_token"].partition(":")
            if not t:
                raise ValueError("field_token option must be 'field:token'")
            leaves.append(FieldToken(f, t))
        if not leaves:
            return None
        return leaves[0] if len(leaves) == 1 else And(*leaves)

    @staticmethod
    def _parse_regex_options(options: dict) -> RegexExpr | None:
        """``field_regex=f:pattern`` — the final-stage regex query (Q13),
        implicit-AND with the bloom options; prunes via the Q14 field-guard
        rewrite inside ``Query.prune_bloom``."""
        raw = options.get("field_regex")
        if not raw:
            return None
        f, _, pat = raw.partition(":")
        if not pat:
            raise ValueError("field_regex option must be 'field:pattern'")
        expr = FieldRegex(f, pat)
        validate_regexes(expr)
        return expr

    def pushFilters(self, filters: list["Filter"]) -> Iterator["Filter"]:
        """Harvest prunable WHERE conditions.  EVERY filter is returned
        back (reported unsupported) so Spark re-applies it after the scan:
        the harvested form only PRUNES, which is sound — partition/zone-map
        prefilters are conservative supersets by construction.  Eager (not
        a generator): the harvest must happen even if the caller never
        drains the returned iterable."""
        for f in filters:
            cond = self._prefilter_of(f)
            if cond is not None:
                self._pushed_prefilter.append(cond)
            tree = self._bloom_of(f)
            if tree is not None:
                self._pushed_bloom.append(tree)
            ex = self._exact_expr_of(f)
            if ex is not None:
                self._pushed_exact.append(ex)
        return list(filters)

    @staticmethod
    def _partition_str(v):
        """The pushed value compared against the STRING partition_id must
        use Spark's cast-to-string spelling, or a typed WHERE value (int
        year, bool flag) would never equal the stored id and the "prune
        only" contract would silently drop every matching block."""
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    def _to_phys(self, name: str) -> str:
        """Logical -> physical under the column mapping (identity without
        one).  Unknown logicals get a reserved never-existing name, so a
        harvested filter on them can only over-prune nothing (it is never
        harvested: the physical matches no config field) and an exact
        pushdown on them is skipped."""
        if not self.colmap:
            return name
        return self.colmap.get(name, f"__bs_dropped__{name}")

    def _phys_schema(self):
        """out_schema with physical field names — dtype steering for the
        pandas verify twins, which see pre-rename (physical) frames."""
        if not self.colmap:
            return self.out_schema
        from pyspark.sql.types import StructField, StructType

        return StructType(
            [
                StructField(self._to_phys(f.name), f.dataType, f.nullable)
                for f in self.out_schema.fields
            ]
        )

    def _prefilter_of(self, f: "Filter") -> PrefilterExpr | None:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            return None
        col = self._to_phys(attr[0])
        if col == self.partition_src:
            # the library's prefilter is STRICT: empty partition_id fails
            # every condition.  A WHERE clause genuinely matching ''
            # (or NULL) rows must therefore NOT be harvested — pruning on
            # it would exclude the very blocks holding those rows
            if isinstance(f, EqualTo):
                if f.value is None or self._partition_str(f.value) == "":
                    return None
                return Partition(Eq(self._partition_str(f.value)))
            if isinstance(f, In):
                vals = [self._partition_str(v) for v in f.value if v is not None]
                if len(vals) != len(f.value) or "" in vals:
                    return None  # NULL/'' member -> unprunable, stay sound
                return Partition(QIn(*vals))
            return None
        if self.partition_tf_src and col == self.partition_tf_src:
            # hidden partitioning: derive the partition id via the python
            # twin of the declared transform.  transform_value returns
            # None for types whose rendering could diverge from the
            # write-side Catalyst expression — those fall through
            # unharvested (no prune, still exact); '' stays unharvested
            # for the same strict-prefilter reason as above
            from ..partition import transform_value

            if isinstance(f, EqualTo) and f.value is not None:
                pid = transform_value(self.partition_tf, f.value)
                if pid not in (None, ""):
                    return Partition(Eq(pid))
            if isinstance(f, In):
                pids = [
                    transform_value(self.partition_tf, v)
                    if v is not None
                    else None
                    for v in f.value
                ]
                if pids and all(p not in (None, "") for p in pids):
                    return Partition(QIn(*pids))
            # range predicates prune when the transform is ORDER-PRESERVING
            # for the literal's type (time transforms over date/datetime,
            # identity/truncate over str): conservatively at partition
            # granularity — col > v rows can share v's own partition, so
            # both GT and GTE map to >= T(v) (and LT/LTE to <= T(v))
            if isinstance(f, (GreaterThan, GreaterThanOrEqual, LessThan,
                              LessThanOrEqual)) and f.value is not None:
                from ..partition import transform_range_value

                pid = transform_range_value(self.partition_tf, f.value)
                if pid not in (None, ""):
                    if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                        return Partition(Gte(pid))
                    return Partition(Lte(pid))
            # fall through: the source column may also be minmax-indexed
        if col in self.minmax_fields:
            # NULL never matches a range: drop None members (sound) and
            # leave a pure-NULL comparison unharvested — a pushed
            # EqualTo(None)/IN-with-NULL must not reach _cond_minmax,
            # where `mn <= None` raises at partition-planning time
            # (ADVICE r04)
            if isinstance(f, In):
                vals = [v for v in f.value if v is not None]
                return MinMax(col, QIn(*vals)) if vals else None
            if getattr(f, "value", None) is None:
                return None
            if isinstance(f, EqualTo):
                return MinMax(col, Eq(f.value))
            if isinstance(f, GreaterThan):
                return MinMax(col, Gt(f.value))
            if isinstance(f, GreaterThanOrEqual):
                return MinMax(col, Gte(f.value))
            if isinstance(f, LessThan):
                return MinMax(col, Lt(f.value))
            if isinstance(f, LessThanOrEqual):
                return MinMax(col, Lte(f.value))
            return None
        return None

    # value types whose Go-%v token form provably matches what the build
    # inserted for an equal stored value (tokenizer.stringify_series) —
    # bloom harvesting of other types (dates, decimals...) could prune a
    # block whose rows DO match, so they stay unharvested
    _BLOOM_PUSH_TYPES = (str, bool, int, float, np.integer, np.floating, np.bool_)

    def _bloom_of(self, f: "Filter") -> BloomExpr | None:
        """Equality/IN on an *indexed* field -> a ``field:token`` bloom
        prefilter (the reference's query-builder pruning for any indexed
        field, query.go:673-778).  Prune-only and sound: a row equal to the
        value necessarily carries EVERY token of the value's tokenization,
        so the AND of its FieldToken leaves is a conservative superset; an
        IN is the OR over its members.  Unharvestable cases (value
        tokenizes to nothing, unregistered custom tokenizer, unproven type)
        return None — never a wrong tree."""
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            return None
        col = self._to_phys(attr[0])
        if col not in self.indexed_fields:
            return None
        if isinstance(f, IsNotNull):
            # field-PRESENCE prune (the reference's field query,
            # query.go:640-671): the build inserts a field name into the
            # field bloom only when the block holds a non-null value, so
            # an all-null block is disqualifiable.  Spark strengthens
            # almost every pushed predicate with IsNotNull, so this
            # engages on nearly every filtered query.
            return Field(col)
        try:
            from ..tokenizer import get_tokenizer

            value_fn = get_tokenizer(self.tokenizer_name).value_fn
        except KeyError:
            return None  # custom tokenizer not registered here: skip, sound

        def leaf(v) -> BloomExpr | None:
            if not isinstance(v, self._BLOOM_PUSH_TYPES):
                return None
            toks = value_fn(v)
            if not toks:
                return None  # zero-token value: blooms cannot characterize it
            return (
                FieldToken(col, toks[0])
                if len(toks) == 1
                else And(*[FieldToken(col, t) for t in toks])
            )

        if isinstance(f, EqualTo):
            return None if f.value is None else leaf(f.value)
        if isinstance(f, In):
            branches = []
            for v in f.value:
                if v is None:
                    continue  # NULL member never matches: droppable, sound
                b = leaf(v)
                if b is None:
                    return None  # one uncharacterizable member poisons the OR
                branches.append(b)
            if not branches:
                return None
            return branches[0] if len(branches) == 1 else Or(*branches)
        return None

    def _exact_expr_of(self, f: "Filter"):
        """EXACT pyarrow translation of a pushed WHERE filter, applied to
        the block scan itself executor-side, so the Arrow→pandas→JVM
        transfer carries ~result-sized batches instead of whole surviving
        blocks (block pruning bounds which FILES are read; this bounds
        which ROWS leave the python worker).  Spark re-applies every
        filter afterwards, so keeping extra rows is always fine — but the
        translation must NEVER drop a row Spark's predicate would keep.
        Hence only column/value type pairs with proven identical
        comparison semantics are translated: binary-utf8 strings, exact
        integers, booleans, and floats with Spark's NaN-is-largest /
        NaN-equals-NaN ordering spelled out (plain pyarrow comparison
        says ``NaN > v`` is false while Spark says true — the is_nan
        branches below restore Spark's answer).  Dates, timestamps,
        decimals, nested attributes and NaN-valued range bounds stay
        untranslated (sound superset).  Returns ``(column, Expression)``
        or None."""
        import pyarrow.compute as pc

        from pyspark.sql.types import (
            BooleanType,
            ByteType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
            StringType,
        )

        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1:
            return None
        col = attr[0]  # LOGICAL: Spark's WHERE speaks the user schema
        names = {fd.name for fd in self.out_schema.fields}
        if col not in names:
            return None
        dt = self.out_schema[col].dataType
        # the expression runs against the PHYSICAL parquet read
        col = self._to_phys(col)
        fld = pc.field(col)
        if isinstance(f, IsNull):
            return col, fld.is_null()
        if isinstance(f, IsNotNull):
            return col, fld.is_valid()
        is_str = isinstance(dt, StringType)
        is_bool = isinstance(dt, BooleanType)
        is_int = isinstance(dt, (ByteType, ShortType, IntegerType, LongType))
        is_float = isinstance(dt, (FloatType, DoubleType))
        if not (is_str or is_bool or is_int or is_float):
            return None

        def ok_val(v) -> bool:
            if is_str:
                return isinstance(v, str)
            if is_bool:
                return isinstance(v, (bool, np.bool_))
            if isinstance(v, (bool, np.bool_)):
                return False  # bool is an int subclass: numeric cols reject it
            if is_int:
                return isinstance(v, (int, np.integer))
            return isinstance(v, (int, float, np.integer, np.floating))

        def nan_val(v) -> bool:
            return is_float and isinstance(v, (float, np.floating)) and v != v

        if isinstance(f, (StringStartsWith, StringEndsWith, StringContains)):
            if not (is_str and isinstance(f.value, str)):
                return None
            fn = {
                StringStartsWith: pc.starts_with,
                StringEndsWith: pc.ends_with,
                StringContains: pc.match_substring,
            }[type(f)]
            return col, fn(fld, pattern=f.value)
        if isinstance(f, (EqualTo, EqualNullSafe)):
            v = f.value
            if v is None:
                # col <=> NULL keeps exactly the null rows; col = NULL
                # keeps nothing in Spark — leave the latter untranslated
                return (col, fld.is_null()) if isinstance(f, EqualNullSafe) else None
            if not ok_val(v):
                return None
            # Spark: NaN = NaN is TRUE (NaN-normalized equality)
            return col, (pc.is_nan(fld) if nan_val(v) else fld == v)
        if isinstance(f, In):
            vals = [v for v in f.value if v is not None]  # NULL member never keeps a row
            if not vals or not all(ok_val(v) for v in vals):
                return None
            plain = [v for v in vals if not nan_val(v)]
            expr = fld.isin(plain) if plain else None
            if len(plain) != len(vals):  # NaN member: Spark matches NaN rows
                nan_e = pc.is_nan(fld)
                expr = nan_e if expr is None else (expr | nan_e)
            return col, expr
        v = getattr(f, "value", None)
        if v is None or not ok_val(v) or nan_val(v):
            return None
        if isinstance(f, GreaterThan):
            e = fld > v
        elif isinstance(f, GreaterThanOrEqual):
            e = fld >= v
        elif isinstance(f, LessThan):
            return col, fld < v  # NaN rows: false on both sides
        elif isinstance(f, LessThanOrEqual):
            return col, fld <= v
        else:
            return None
        if is_float:
            e = e | pc.is_nan(fld)  # Spark orders NaN above everything
        return col, e

    def _exact_filter(self, colnames=None):
        """AND of the pushed exact conjuncts, restricted (when ``colnames``
        is given) to columns physically present — dropping a conjunct is
        always a sound superset."""
        expr = None
        for col, e in self._pushed_exact:
            if colnames is not None and col not in colnames:
                continue
            expr = e if expr is None else (expr & e)
        return expr

    def _query(self) -> Query:
        pre = None
        if self._pushed_prefilter:
            pre = (
                self._pushed_prefilter[0]
                if len(self._pushed_prefilter) == 1
                else PrefilterAnd(*self._pushed_prefilter)
            )
        # pushed bloom trees join the PRUNE tree only — read()'s exact
        # verify enforces just the option query (self._bloom/_regex);
        # Spark re-applies the WHERE filters the pushed trees came from
        prune_bloom = self._bloom
        for t in self._pushed_bloom:
            prune_bloom = and_bloom(prune_bloom, t)
        return Query(prefilter=pre, bloom=prune_bloom, regex=self._regex)

    def partitions(self) -> list[InputPartition]:
        # Spark's planning worker treats NotImplementedError as "reader has
        # no partitions" and silently substitutes [None] — re-wrap so a
        # real failure inside the prune can never be masked as that
        try:
            pairs = prune_blocks_driver(
                None, self.root, self.version, self._query(),
                self._table_refs(), self.max_driver_blocks,
            )
        except DriverPruneOverflow:
            # too many survivors for a driver-held list: one partition per
            # manifest part-file; executors prune + scan their own slice
            return self._slice_partitions()
        except NotImplementedError as e:
            raise RuntimeError(f"bloomsearch partition planning failed: {e}") from e
        if self.external:
            # external block = (source file, partition value); several
            # partition-blocks share one physical file -> group by file
            by_src: dict[str, list[str]] = {}
            for src, pid in pairs:
                by_src.setdefault(src, []).append(pid)
            return [
                _ExternalChunk(src=s, partition_ids=pids)
                for s, pids in sorted(by_src.items())
            ]
        k = max(1, self.blocks_per_task)
        paths = [p for p, _ in pairs]
        return [
            _BlockChunk(rel_paths=paths[i : i + k]) for i in range(0, len(paths), k)
        ]

    def _slice_partitions(self) -> list[InputPartition]:
        """Distributed-prune fallback: the driver holds only the manifest
        part-file list (bounded by segment x part count, never by blocks).
        Each executor task streams its slice of the BLOCK manifest, runs
        prefilter + block-bloom probe, and scans its survivors.  The
        file-level probe is skipped — its survivor set is a superset
        (sound; blooms only disqualify, verify is exact), and keeping it
        would mean shipping an unbounded surviving-file set."""
        import pyarrow.parquet as pq

        mdir = fsx.join(self.root, "manifest")
        slice_rows = self.slice_rows
        out: list[InputPartition] = []
        for rel in self._table_refs()["blocks"]:
            for part in fsx.list_parquet_files(fsx.join(mdir, rel)):
                # footer-only read: per-row-group row counts, bounded by
                # part-file count — never by blocks
                fs, local = fsx.resolve(part)
                md = pq.ParquetFile(local, filesystem=fs).metadata
                rgs: list[int] = []
                acc = 0
                for i in range(md.num_row_groups):
                    rgs.append(i)
                    acc += md.row_group(i).num_rows
                    if acc >= slice_rows:
                        out.append(
                            _ManifestSlice(part=part, row_groups=rgs)
                        )
                        rgs, acc = [], 0
                if rgs:
                    out.append(_ManifestSlice(part=part, row_groups=rgs))
        return out

    def read(self, partition):
        """Executor-side: CRC-verified block read + EXACT verify (Q12/Q13)."""
        if partition is None:  # zero surviving blocks -> Spark sends [None]
            return
        if isinstance(partition, _ManifestSlice):
            yield from self._read_manifest_slice(partition)
        elif isinstance(partition, _ExternalChunk):
            yield from self._read_external(partition.src, partition.partition_ids)
        else:
            for rel in partition.rel_paths:
                yield from self._read_block(rel)

    def _verify_batches(self, tbl):
        """Exact verify (option query only — pushed WHERE trees are
        re-applied by Spark) + projection to the output schema.

        Takes the ARROW table and filters it by a pandas-computed MASK:
        data values never round-trip through pandas.  The old
        ``Table.from_pandas(pdf)`` path silently corrupted every float
        NaN to NULL (pandas uses NaN as its null sentinel), so a WHERE
        like ``fval > 40`` — whose Catalyst re-apply Spark strengthens
        with ``isnotnull(fval)`` — dropped exactly the NaN rows Spark's
        NaN-is-largest ordering keeps.  Arrow-native filtering is also
        one whole-table conversion cheaper."""
        import pyarrow as pa

        from ..tokenizer import get_tokenizer

        names = [f.name for f in self.out_schema.fields]
        if len(tbl) and (self._bloom is not None or self._regex is not None):
            pdf = tbl.to_pandas()  # mask computation only
            mask = np.ones(len(pdf), dtype=bool)
            if self._bloom is not None:
                tok = get_tokenizer(self.tokenizer_name)
                mask &= np.asarray(
                    verify_pdf(self._bloom, pdf, self.indexed_fields, tok),
                    dtype=bool,
                )
            if self._regex is not None:
                mask &= np.asarray(
                    regex_verify_pdf(self._regex, pdf, self._phys_schema()),
                    dtype=bool,
                )
            tbl = tbl.filter(pa.array(mask))
        if len(tbl) and self.colmap:
            # ONE rename at the emit edge: everything upstream (parquet
            # read, DV mask, exact filters, verify) ran physical-named;
            # everything downstream (null-fill, cast, Spark) is logical
            inv = self._colmap_inv
            tbl = tbl.rename_columns(
                [inv.get(c, c) for c in tbl.column_names]
            )
        if len(tbl):
            # null-fill columns a narrower historical block predates
            # (merge_schema widening): the committed union schema is the
            # read contract, old blocks legitimately lack evolved columns
            want = self._arrow_schema()
            have = set(tbl.column_names)
            for nm in names:
                if nm not in have:
                    tbl = tbl.append_column(
                        nm, pa.nulls(len(tbl), want.field(nm).type)
                    )
            yield from tbl.select(names).cast(want).to_batches()

    def _scan_columns(self) -> list[str]:
        """Columns the executor must actually READ: the output schema plus
        the option-query verify fields (bloom / regex).  Everything else —
        internal columns (content_sha, partition_id) always, and unselected
        source columns under the ``columns`` option — is pruned at the
        parquet column-chunk level and never leaves the scan."""
        names = [self._to_phys(f.name) for f in self.out_schema.fields]
        extra: list[str] = []
        if self._bloom is not None:
            jc = self._meta()["config"].get("json_col")
            extra += [jc] if jc else [c for c in self.indexed_fields]
        if self._regex is not None:

            def walk(e):
                if e is None:
                    return
                if getattr(e, "kind", None) in ("AND", "OR"):
                    for ch in e.children:
                        walk(ch)
                else:
                    extra.append(e.field)

            walk(self._regex)
        seen = set(names)
        return names + [c for c in extra if c and not (c in seen or seen.add(c))]

    def _data_dir(self) -> str:
        ov = self._meta().get("data_dir_override")
        return ov if ov else fsx.join(self.root, "data")

    def _dv_positions(self, rel: str):
        """Deletion-vector positions for one block data dir, or None.  The
        (data_path -> positions) map loads ONCE per task from the pinned
        version's immutable dvs segments — bytes bounded by
        deleted-and-not-yet-compacted rows, never by the table."""
        if not self.dv_refs:
            return None
        m = getattr(self, "_dv_map_cache", None)
        if m is None:
            m = {}
            mdir = fsx.join(self.root, "manifest")
            for ref in self.dv_refs:
                t = fsx.read_parquet_dir(
                    fsx.join(mdir, ref), columns=["data_path", "positions"]
                )
                for p, pos in zip(
                    t.column("data_path").to_pylist(),
                    t.column("positions").to_pylist(),
                ):
                    m.setdefault(p, []).extend(pos)
            self._dv_map_cache = m
        return m.get(rel)

    def _read_block(self, rel: str):
        import pyarrow as pa

        d = fsx.join(self._data_dir(), rel)
        dv = self._dv_positions(rel)
        # a DV'd block reads WITHOUT the pushed exact filter: positions
        # index the unfiltered file, and the pushdown is prune-only anyway
        # (Spark re-applies every pushed predicate).  Column pruning stays.
        exact = None if dv else self._exact_filter()
        try:
            tbl = fsx.read_parquet_dir(
                d, filter=exact, columns=self._scan_columns()
            )
        except pa.lib.ArrowException:
            # unexpected physical type / column absent from an old block:
            # re-read unpruned (superset; Spark re-applies the predicates,
            # verify handles missing columns).  A CRC failure re-raises on
            # the retry — never masked.
            tbl = fsx.read_parquet_dir(d)
        if dv:
            mask = np.ones(len(tbl), dtype=bool)
            mask[np.asarray(dv, dtype=np.int64)] = False
            tbl = tbl.filter(pa.array(mask))
        yield from self._verify_batches(tbl)

    def _read_external(self, src: str, partition_ids: Sequence[str]):
        """Zero-copy external block scan: read the SOURCE file in place and
        re-derive block membership per row (the plans/search._scan_external
        semantics — block = (source file, partition value))."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from urllib.parse import unquote

        fs, local = fsx.resolve(unquote(src))
        pe = (self._meta()["config"].get("partition_expr") or "").strip()
        cols = self._scan_columns()
        if pe and pe != "''" and pe not in cols:
            cols = cols + [pe]
        try:
            tbl = pq.read_table(local, filesystem=fs, columns=cols)
        except pa.lib.ArrowException:
            tbl = pq.read_table(local, filesystem=fs)  # superset fallback
        if pe and pe != "''":
            # derive the partition id ARROW-side (same cast family the
            # build used): a pandas round-trip would promote an int64
            # column with any NULL to float64 and render '5.0' vs the
            # manifest's '5' — silently dropping every non-null-partition
            # row (r05 review finding)
            pid = pc.fill_null(pc.cast(tbl[pe], pa.string()), "")
        else:
            pid = pa.array([""] * len(tbl), pa.string())
        keep = pc.is_in(pid, value_set=pa.array(sorted(set(partition_ids)), pa.string()))
        tbl = tbl.filter(keep)
        flt = self._exact_filter(colnames=tbl.column_names)
        if flt is not None:
            try:
                tbl = tbl.filter(flt)
            except pa.lib.ArrowException:
                pass  # unexpected physical type: keep the superset
        yield from self._verify_batches(tbl)

    @staticmethod
    def _pads_partition_filter(expr: PrefilterExpr | None):
        """Conservative pyarrow-dataset filter from the prefilter tree's
        PARTITION conditions — pushed into the manifest-slice scan so
        partition-sorted segments prune at the ROW GROUP level (the same
        pushdown the Spark path gets from Catalyst, PLANS.md §1).  Only a
        superset is ever returned (unpushable nodes -> None/dropped);
        ``eval_prefilter_pdf`` still runs on every batch, so this is
        purely an I/O saver.

        All 10 condition ops translate: ``partition_id`` is a string
        column on both sides, and pyarrow's binary UTF-8 ordering equals
        Python's code-point ordering (UTF-8 is order-preserving), so
        range ops compare identically to ``_cond_exact``.  Negative ops
        (NE / NOT_IN / NOT_BETWEEN) evaluate to null on null partition
        ids and the dataset filter DROPS nulls — sound, because every
        partition condition already fails blocks without a partition id
        (the strict ``has`` mask).  MINMAX stays batch-side: the zone
        maps are map<string,long> columns, which have no parquet
        row-group statistics and no dataset-filter subscript — a pushed
        filter would be re-evaluated post-read, i.e. exactly what
        ``eval_prefilter_pdf`` already does."""
        import pyarrow.compute as pc

        def walk(e: PrefilterExpr | None):
            if e is None:
                return None
            if e.kind == "PARTITION":
                c = e.condition
                f = pc.field("partition_id")
                if c.op in ("EQ", "NE", "GT", "GTE", "LT", "LTE"):
                    if not isinstance(c.value, str):
                        return None
                    return {
                        "EQ": f == c.value, "NE": f != c.value,
                        "GT": f > c.value, "GTE": f >= c.value,
                        "LT": f < c.value, "LTE": f <= c.value,
                    }[c.op]
                if c.op in ("IN", "NOT_IN"):
                    if not c.values or not all(
                        isinstance(v, str) for v in c.values
                    ):
                        return None  # empty IN = match-nothing batch-side
                    member = f.isin(list(c.values))
                    return member if c.op == "IN" else ~member
                if c.op in ("BETWEEN", "NOT_BETWEEN"):
                    if not (isinstance(c.lo, str) and isinstance(c.hi, str)):
                        return None
                    if c.op == "BETWEEN":
                        return (f >= c.lo) & (f <= c.hi)
                    return (f < c.lo) | (f > c.hi)
                return None
            if e.kind == "AND":
                out = None
                for ch in e.children:
                    f = walk(ch)
                    if f is not None:
                        out = f if out is None else (out & f)
                return out  # any conjunct subset is a sound superset
            if e.kind == "OR":
                fs_ = [walk(ch) for ch in e.children]
                if not fs_ or any(f is None for f in fs_):
                    return None  # one unpushable branch poisons the union
                out = fs_[0]
                for f in fs_[1:]:
                    out = out | f
                return out
            return None  # minmax etc: evaluated batch-side only

        return walk(expr)

    def _read_manifest_slice(self, sl: "_ManifestSlice"):
        """Distributed-prune fallback task: stream one manifest part-file
        range through the shared batch prune (prefilter + block blooms;
        no file level), scan survivors."""
        import pyarrow.dataset as pads

        query = self._query()
        fs, local = fsx.resolve(sl.part)
        frag = pads.ParquetFileFormat().make_fragment(
            local, filesystem=fs, row_groups=list(sl.row_groups)
        )
        cols = block_columns(query)
        avail = [c for c in cols if c in frag.physical_schema.names]
        # external blocks sharing one source file group into a single read
        # — accumulated across ALL of the slice's batches, or a file whose
        # manifest rows straddle batch boundaries would be re-read per
        # batch (r05 review finding)
        by_src: dict[str, list[str]] = {}
        for batch in frag.to_batches(
            columns=avail, filter=self._pads_partition_filter(query.prefilter)
        ):
            surv = prune_batch(with_columns(batch, cols), query)
            if self.external:
                for src, pid in zip(surv["data_path"], surv["partition_id"]):
                    by_src.setdefault(src, []).append(pid)
            else:
                for src in surv["data_path"]:
                    yield from self._read_block(src)
        for src, pids in by_src.items():
            yield from self._read_external(src, pids)

    def _arrow_schema(self):
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self.out_schema)


class BloomSearchChangesReader(DataSourceReader):
    """Batch "table changes" read (Delta's ``table_changes`` analog):
    ``spark.read.format("bloomsearch").option("changes_from", N)`` returns
    the rows ADDED by every BUILD commit in version range ``(changes_from,
    changes_to]`` (``changes_to`` defaults to CURRENT) — maintenance
    commits contribute nothing, exactly the changefeed's semantics, and
    the plumbing IS the changefeed's: this class wraps
    ``streaming.changefeed.BloomSearchStreamReader`` and replays one fixed
    offset range as a batch scan, so batch and stream can never disagree.
    ``commit_metadata`` appends the same ``_commit_version`` column.

    Version bounds accept ints or ``vNNNNNNNN`` names; ``changes_from``
    is EXCLUSIVE (offset semantics: "everything after what I've seen"),
    ``changes_to`` inclusive.  Timestamp bounds (Delta ``table_changes``
    analogs, epoch seconds or ISO-8601): ``changes_from_timestamp`` —
    commits at-or-after it are INCLUDED (resolved to the preceding
    version number, honoring the exclusive-from convention);
    ``changes_to_timestamp`` — last commit at-or-before it.  Planner cost
    is O(versions x commit batch) driver-side — meta.json + added-segment
    ``data_path`` columns only; row bytes flow on executors."""

    def __init__(self, options: dict, schema) -> None:
        from ..streaming.changefeed import BloomSearchStreamReader, _vnum

        def _bound(raw, default):
            if raw is None:
                return default
            s = str(raw).strip()
            return _vnum(s) if s.startswith("v") else int(s)

        root = mf.root_option(options)
        for vkey, tkey in (
            ("changes_from", "changes_from_timestamp"),
            ("changes_to", "changes_to_timestamp"),
        ):
            if options.get(vkey) is not None and options.get(tkey) is not None:
                raise ValueError(
                    f"pass {vkey} OR {tkey}, not both — they both set the "
                    "same range bound"
                )
        self._sr = BloomSearchStreamReader(dict(options), schema)
        cur = _vnum(mf.current_version(root))
        from_ts = options.get("changes_from_timestamp")
        if from_ts is not None:
            first = mf.first_version_at_or_after(root, from_ts)
            if first is None:
                raise ValueError(
                    f"changes_from_timestamp {from_ts!r} is after the "
                    "latest commit — no changes at-or-after it exist (yet); "
                    "use the changefeed (readStream) to tail future commits"
                )
            self.lo = _vnum(first) - 1  # exclusive-from: include `first`
        else:
            self.lo = _bound(options.get("changes_from"), 0)
        to_ts = options.get("changes_to_timestamp")
        self.hi = (
            _vnum(mf.version_as_of(root, to_ts))  # raises if ts < earliest
            if to_ts is not None
            else _bound(options.get("changes_to"), cur)
        )
        if not 0 <= self.lo <= self.hi <= cur:
            raise ValueError(
                f"changes range ({self.lo}, {self.hi}] is not within the "
                f"committed history (CURRENT is version {cur})"
            )
        # refuse a vacuumed lower bound UPFRONT at planning, with batch
        # vocabulary — otherwise partitions() fails later inside the
        # wrapped stream planner with a restart-the-stream message that
        # makes no sense for a batch read (mirrors the changefeed's
        # starting_timestamp predecessor check)
        # the wrapped stream reader's initial offset gates the overwrite
        # full-refresh opt-in (an overwrite is allowed only as the FIRST
        # emitted version); a batch changes read "starts" at its lower
        # bound
        self._sr._initial = self.lo
        if self.lo >= 1:
            from ..streaming.changefeed import _vname

            if not fsx.exists(
                fsx.join(root, "manifest", _vname(self.lo), "meta.json")
            ):
                raise ValueError(
                    f"the changes range starts at version {self.lo}, whose "
                    "manifest was vacuumed — the deltas from there cannot "
                    "be computed; pass a retained changes_from / a later "
                    "changes_from_timestamp (vacuum_manifest's "
                    "retain_versions/retain_time widens the window)"
                )

    def partitions(self):
        return self._sr.partitions(
            {"version": self.lo}, {"version": self.hi}
        )

    def read(self, partition):
        if partition is None:
            # an EMPTY change range (changes_from == CURRENT, or only
            # maintenance commits in range) plans zero partitions — Spark
            # still schedules one task and hands read() None; that is 0
            # rows, not a crash
            return iter(())
        return self._sr.read(partition)


class BloomSearchDataSource(DataSource):
    """``spark.read.format("bloomsearch")`` over a committed index root.

    Options: ``root`` (or the positional ``load(path)`` / ``save(path)``
    argument — Spark delivers it as the ``path`` option; explicit ``root``
    wins), ``token`` / ``tokens`` (comma list) /
    ``field`` / ``field_token`` ("f:t") — implicit-AND existence query;
    ``columns`` (comma list) — user-opt-in column pruning (the Python
    DataSource API has no pruning hook; this narrows the schema AND the
    parquet reads); ``blocks_per_task``; ``version`` /
    ``timestamp_as_of`` — time travel to a retained manifest version, by
    name or by commit instant (epoch seconds or ISO-8601, naive = UTC);
    ``changes_from(_timestamp)`` / ``changes_to(_timestamp)`` — batch
    table-changes read (commit deltas, not a snapshot).  WHERE-clause
    equality/range conditions on the partition source column and
    ``minmax_fields`` prune automatically when
    ``spark.sql.python.filterPushdown.enabled`` is true.

    SQL surface: register a TEMP VIEW over ``load()``
    (``load(root).createOrReplaceTempView("t")``).  ``CREATE TABLE ...
    USING bloomsearch`` is NOT supported — Spark 4.1 instantiates Python
    DataSources with EMPTY options when a catalog table is SELECTed (the
    stored OPTIONS/LOCATION never reach ``reader()``), and direct-path
    ``SELECT * FROM bloomsearch.`/root``` is rejected by Spark for
    Python sources."""

    @classmethod
    def name(cls) -> str:
        return "bloomsearch"

    def _pinned_version(self, root: str) -> str:
        """Resolve CURRENT exactly once per DataSource instance: schema
        inference and the reader must see the SAME manifest version, or a
        commit landing between the two makes the reader scan newer data
        under an older schema (ADVICE r04).  A user-passed
        ``.option("version", "vNNNNNNNN")`` pins explicitly, and
        ``.option("timestamp_as_of", <epoch seconds | ISO-8601>)`` pins
        the latest version committed at-or-before that instant (time
        travel — versions are immutable, so a pinned read is exactly the
        snapshot that was CURRENT then)."""
        explicit = self.options.get("version")
        as_of = self.options.get("timestamp_as_of")
        if explicit and as_of:
            raise ValueError(
                "pass version OR timestamp_as_of, not both — they both "
                "pin the manifest version to read"
            )
        v = explicit or getattr(self, "_resolved_version", None)
        if v is None:
            v = (
                mf.version_as_of(root, as_of)
                if as_of
                else mf.current_version(root)
            )
            if v is None:
                raise FileNotFoundError(f"no committed manifest under {root}")
            self._resolved_version = v
        return v

    def schema(self):
        root = mf.root_option(self.options)
        if not root:
            raise ValueError(
                "bloomsearch datasource requires .option('root', ...) or load(path)"
            )
        import json

        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import StructType

        version = self._pinned_version(root)
        meta = json.loads(
            fsx.read_bytes(fsx.join(root, "manifest", version, "meta.json"))
        )

        def _with_meta_cols(st):
            # changefeed options: CDC columns appended LAST, in the same
            # order read() appends them — cast() needs identical fields
            from ..streaming.changefeed import _opt_bool

            extra = []
            from pyspark.sql.types import (
                LongType,
                StringType,
                StructField,
                TimestampType,
            )

            if _opt_bool(self.options, "commit_metadata"):
                extra += [
                    StructField("_commit_version", LongType()),
                    StructField("_commit_timestamp", TimestampType()),
                ]
            if _opt_bool(self.options, "change_events"):
                extra.append(StructField("_change_type", StringType()))
            if not extra:
                return st
            clash = {f.name for f in st.fields} & {f.name for f in extra}
            if clash:
                raise ValueError(
                    "commit_metadata/change_events cannot be used on an "
                    "index whose source schema already has column(s) "
                    f"{sorted(clash)}"
                )
            return StructType(list(st.fields) + extra)

        def _user_columns(st):
            # ``.option("columns", "a,b")``: user-opt-in COLUMN PRUNING.
            # The Python DataSource API has no column-pruning hook (the
            # schema is fixed before Spark's projection is known), so
            # without this every scan ships every source column through
            # the python worker; narrowing here reaches the parquet read
            # (ReadSchema-style I/O pruning) and shrinks the Arrow→JVM
            # transfer to the selected columns.
            raw = self.options.get("columns")
            if not raw:
                return st
            want = [c.strip() for c in raw.split(",") if c.strip()]
            have = {f.name: f for f in st.fields}
            missing = [c for c in want if c not in have]
            if missing or not want:
                raise ValueError(
                    f"columns option names unknown column(s) {missing} — "
                    f"index source columns are {sorted(have)}"
                )
            return StructType([have[c] for c in want])

        refs = meta.get("tables") or {
            t: [f"{version}/{t}.parquet"] for t in mf.TABLES
        }
        # the stored source schema (r04 builds) answers without touching
        # any parquet — and is the ONLY answer for a fully-empty index
        sj = meta.get("source_schema")
        if sj:
            full = StructType.fromJson(json.loads(sj))
            keep = meta.get("source_columns") or [f.name for f in full.fields]
            st = StructType([f for f in full.fields if f.name in keep])
            cmap = meta.get("column_mapping")
            if cmap:
                # the Spark-facing schema speaks LOGICAL names (r06 column
                # mapping); retired physicals were already pruned from
                # source_columns/source_schema by drop_column
                from pyspark.sql.types import StructField

                inv = {p: l for l, p in cmap.items()}
                st = StructType(
                    [
                        StructField(inv[f.name], f.dataType, f.nullable)
                        for f in st.fields
                        if f.name in inv
                    ]
                )
            return _with_meta_cols(_user_columns(st))
        # pre-r04 manifest: one block's parquet schema gives the stored
        # dtypes; project to the meta's source_columns (order preserved).
        # Scan segments until a block row is found — a zero-row segment
        # (empty append, full expiry) must not break reads
        import pyarrow.dataset as pads

        rel = None
        for seg in refs["blocks"]:
            fs, local = fsx.resolve(fsx.join(root, "manifest", seg))
            ds = pads.dataset(local, format="parquet", filesystem=fs)
            for batch in ds.to_batches(columns=["data_path"], batch_size=1):
                if len(batch):
                    rel = batch.column("data_path")[0].as_py()
                    break
            if rel is not None:
                break
        if rel is None:
            raise ValueError(
                f"index at {root} has no blocks — cannot infer a schema; "
                "pass one explicitly via spark.read.schema(...)"
            )
        ddir = meta.get("data_dir_override") or fsx.join(root, "data")
        dfs, dlocal = fsx.resolve(fsx.join(ddir, rel))
        dset = pads.dataset(dlocal, format="parquet", filesystem=dfs)
        full = from_arrow_schema(dset.schema)
        keep = meta.get("source_columns") or [f.name for f in full.fields]
        return _with_meta_cols(
            _user_columns(StructType([f for f in full.fields if f.name in keep]))
        )

    def reader(self, schema) -> "DataSourceReader":
        opts = dict(self.options)
        changes_keys = (
            "changes_from", "changes_to",
            "changes_from_timestamp", "changes_to_timestamp",
        )
        if any(opts.get(k) is not None for k in changes_keys):
            # batch "table changes" read — commit deltas, not a snapshot
            bad = [
                k for k in ("token", "tokens", "field", "field_token",
                            "field_regex", "max_versions_per_trigger",
                            "max_blocks_per_trigger",
                            "version", "timestamp_as_of",
                            "starting_version", "starting_timestamp")
                if opts.get(k)
            ]
            if bad:
                raise ValueError(
                    f"options {bad} do not apply to a changes read — it "
                    "returns commit deltas verbatim; query a snapshot "
                    "load() (pinned via version / timestamp_as_of) for "
                    "point-in-time rows, and bound the change range with "
                    "changes_from/_to(_timestamp) (starting_* options are "
                    "the readStream spelling of the same lower bound)"
                )
            return BloomSearchChangesReader(opts, schema)
        for stream_only in ("commit_metadata", "change_events",
                            "max_versions_per_trigger",
                            "max_blocks_per_trigger",
                            "starting_version", "starting_timestamp"):
            if opts.get(stream_only):
                raise ValueError(
                    f"{stream_only!r} is a changefeed (readStream / changes "
                    "read) option — snapshot batch reads see one pinned "
                    "version, not commits (pin with version / "
                    "timestamp_as_of)"
                )
        root = mf.root_option(opts)
        if root:
            opts["version"] = self._pinned_version(root)
        return BloomSearchReader(opts, schema)

    def writer(self, schema, overwrite: bool):
        return BloomSearchArrowWriter(dict(self.options), schema, overwrite)

    def streamReader(self, schema):
        """``spark.readStream.format("bloomsearch")`` — the index
        CHANGEFEED: each committed BUILD version's added rows become one
        micro-batch; maintenance commits emit nothing.  Options:
        ``starting_version`` ("earliest" default | "latest" | vN | int),
        ``starting_timestamp`` (first commit at-or-after the instant),
        ``blocks_per_task``, ``commit_metadata`` (append a
        ``_commit_version`` provenance column), ``max_versions_per_trigger``
        / ``max_blocks_per_trigger`` (bound the backlog admitted per
        micro-batch — the block cap splits even ONE giant commit across
        triggers via composite version+cursor offsets).  See
        streaming/changefeed.py."""
        from ..streaming.changefeed import BloomSearchStreamReader

        return BloomSearchStreamReader(dict(self.options), schema)

    def streamWriter(self, schema, overwrite: bool):
        """``df.writeStream.format("bloomsearch")`` — the index as a native
        Structured Streaming SINK: each micro-batch commits one delta
        manifest segment, exactly once (replayed batches are no-ops via the
        ``last_stream_batch`` watermark — the same guard as
        ``streaming.ingest.stream_build``, which remains the richer surface:
        arbitrary partition_expr, auto-fold cadence).  ``outputMode
        ("append")`` appends; complete/truncate modes overwrite per batch.
        One streaming sink per index root — the watermark is per-root, and
        batch ids from different checkpoints are incomparable."""
        return BloomSearchStreamWriter(dict(self.options), schema, overwrite)


# ---------------------------------------------------------------------------
# the write path: df.write.format("bloomsearch")
# ---------------------------------------------------------------------------


@dataclass
class _TaskStaging(WriterCommitMessage):
    """One task's staging rows (block + completed-file entries) as Arrow
    IPC bytes — the per-task half of the delta-segment commit protocol."""

    ipc: bytes


def _sha256_hex_arrow(col) -> "pa.Array":
    """sha256 hex of a string column's utf8 bytes, sliced straight off the
    Arrow offset/data buffers — identical output to ``F.sha2(c, 256)`` /
    ``hashlib.sha256(v.encode())`` (null -> null, '' -> sha of b'') but
    with no per-row str decode/encode.  The per-row hashlib call itself is
    irreducible in Python (~1 us on short values), which is why the writer
    prefers a pre-computed ``content_sha`` column (JVM-side F.sha2)."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    chunks = col.chunks if isinstance(col, pa.ChunkedArray) else [col]
    out: list[pa.Array] = []
    for ch in chunks:
        if not pa.types.is_string(ch.type):
            ch = pc.cast(ch, pa.string())
        bufs = ch.buffers()
        offs = np.frombuffer(
            bufs[1], dtype=np.int32, count=len(ch) + 1, offset=ch.offset * 4
        )
        data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
        nulls = ch.is_null().to_numpy(zero_copy_only=False)
        sha = hashlib.sha256
        res: list = [None] * len(ch)
        for i in range(len(ch)):
            if not nulls[i]:
                res[i] = sha(data[offs[i] : offs[i + 1]]).hexdigest()
        out.append(pa.array(res, pa.string()))
    return out[0] if len(out) == 1 else pa.concat_arrays(out)


def _cfg_from_options(options: dict, root: str, overwrite: bool):
    """Writer config: start from the committed index's config when
    appending (the natural 'same index, more data' case), overlay any
    explicitly passed options; a fresh/overwritten root must pass at least
    ``indexed_fields``."""
    import json as _json

    from ..config import IndexConfig

    # an existing index's config is the default even for overwrite —
    # "rebuild the same index" shouldn't force re-passing every option
    base: dict = {}
    cur = mf.current_version(root)
    if cur is not None:
        base = _json.loads(
            fsx.read_bytes(fsx.join(root, "manifest", cur, "meta.json"))
        )["config"]
    o = {k: v for k, v in options.items()}
    if "indexed_fields" in o:
        base["indexed_fields"] = tuple(
            f for f in o["indexed_fields"].split(",") if f
        )
    if "minmax_fields" in o:
        base["minmax_fields"] = tuple(f for f in o["minmax_fields"].split(",") if f)
    if "partition_col" in o:
        base["partition_expr"] = o["partition_col"]
    for k, cast in (
        ("max_block_rows", int), ("blocks_per_file", int),
        ("block_fpr", float), ("file_fpr", float),
        ("file_expected_items", int), ("compression", str),
        ("sha_col", str), ("tokenizer", str),
    ):
        if k in o:
            base[k] = cast(o[k])
    if not base.get("indexed_fields"):
        raise ValueError(
            "bloomsearch writer on a fresh root needs "
            ".option('indexed_fields', 'col1,col2,...')"
        )
    cfg = IndexConfig.from_dict(base)
    pe = cfg.partition_expr or ""
    # the writer evaluates the partition expr OUTSIDE Catalyst, so it must
    # be a bare column (or the constant '' default) — anything richer
    # belongs to build_index, which runs the expr through Spark
    if pe not in ("", "''") and not pe.isidentifier():
        raise ValueError(
            f"bloomsearch writer needs partition_expr to be a bare column "
            f"(got {pe!r}); pre-compute the column or use build_index()"
        )
    return cfg


class BloomSearchArrowWriter(DataSourceArrowWriter):
    """``df.write.format("bloomsearch").mode("append"|"overwrite")``.

    The DSv2 write protocol maps 1:1 onto the delta-segment commit:

    - ``write`` (per task): the SAME partition-buffer flush kernel as the
      batch build (`plans.build._make_map_build_fn` — blooms + minmax +
      the block's own parquet file, written through the fs layer, invisible
      until commit); returns the task's staging rows as the commit message.
    - ``commit`` (driver, exactly once): assemble blocks/files/lineage
      from the messages, write ONE manifest segment, publish through
      ``publish_commit`` (append unions the fresh predecessor — a racing
      committer cannot be lost; overwrite starts clean).
    - ``abort``: nothing to undo — uncommitted data files are unreachable
      (never referenced by any manifest) and ``vacuum()`` reclaims them.

    Constraints (use ``build_index()`` beyond them): partition_expr must
    be a bare column; a ``sha_col`` must be a string column.  For
    sha-heavy writes, pre-compute the integrity column JVM-side —
    ``df.withColumn("content_sha", F.sha2(F.col(c).cast("string"), 256))``
    — and the writer uses it as-is (zero Python hashing); otherwise it
    hashes utf8 bytes off the Arrow buffers (correct, but per-row
    hashlib).
    """

    def __init__(self, options: dict, schema, overwrite: bool) -> None:
        import uuid as _uuid

        self.root = mf.root_option(options)
        if not self.root:
            raise ValueError(
                "bloomsearch writer requires .option('root', ...) or save(path)"
            )
        self.overwrite = overwrite
        self.cfg = _cfg_from_options(options, self.root, overwrite)
        self.schema = schema
        # CHECK constraints gate every engine ingest path in the staging
        # pass; this writer stages arrow-side where SQL expressions don't
        # evaluate — refuse APPENDS to a constrained table loudly rather
        # than silently skipping the gate (overwrite REPLACES the table,
        # constraints included, like build_index overwrite)
        if not overwrite:
            cur = mf.current_version(self.root)
            if cur is not None:
                import json as _json

                m = _json.loads(
                    fsx.read_bytes(
                        fsx.join(self.root, "manifest", cur, "meta.json")
                    )
                )
                if m.get("constraints"):
                    raise ValueError(
                        "this index has CHECK constraints, which the DSv2 "
                        "writer does not enforce — append through "
                        "build_index()/stream_build()/upsert_keys() (they "
                        "gate rows in the staging pass), or "
                        "drop_constraint() first"
                    )
                if m.get("column_mapping"):
                    raise ValueError(
                        "this index has a column mapping (renamed/dropped "
                        "columns), which the DSv2 writer does not "
                        "translate — append through build_index() (it "
                        "renames logical to physical in the staging pass)"
                    )
        names = [f.name for f in schema.fields]
        if self.cfg.sha_col:
            if self.cfg.sha_col not in names:
                raise ValueError(f"sha_col {self.cfg.sha_col!r} not in written columns")
            from pyspark.sql.types import StringType

            if not isinstance(schema[self.cfg.sha_col].dataType, StringType):
                raise ValueError(
                    "bloomsearch writer computes content_sha outside Catalyst "
                    "and only matches F.sha2 for STRING sha_col columns; "
                    "cast it or use build_index()"
                )
        pe = self.cfg.partition_expr
        if pe.isidentifier():
            if pe not in names:
                raise ValueError(f"partition column {pe!r} not in written columns")
            # the writer stringifies partition values with a pyarrow cast,
            # which must agree with build_index's Spark cast or one logical
            # partition splits into two ids (e.g. double 2020.0 -> Spark
            # '2020.0' vs pyarrow '2020').  string/integer/boolean casts
            # agree; reject the rest
            from pyspark.sql.types import (
                BooleanType,
                ByteType,
                IntegerType,
                LongType,
                ShortType,
                StringType,
            )

            ok = (StringType, ByteType, ShortType, IntegerType, LongType, BooleanType)
            if not isinstance(schema[pe].dataType, ok):
                raise ValueError(
                    f"bloomsearch writer supports string/integer/boolean "
                    f"partition columns (got {schema[pe].dataType}); cast it "
                    "or use build_index()"
                )
        version_guess, _ = mf.next_version_dir(self.root)
        # one nonce per WRITE JOB, minted on the driver and shipped in the
        # pickled writer: all tasks share it (stable file-id prefix), no
        # two jobs collide
        self.build_id = f"{version_guess}-w{_uuid.uuid4().hex[:8]}"
        self.source_columns = names
        # Delta mergeSchema analog: opt-in add-column widening on append
        self.merge_schema = str(
            options.get("merge_schema", options.get("mergeSchema", "false"))
        ).lower() in ("true", "1")

    def _task_tag(self) -> str:
        """File-id prefix for this task's flush kernel.  One batch write
        job = one tag (the job nonce); the STREAM subclass must override —
        its pickled writer instance is reused by every micro-batch, and a
        shared tag would make batch N's task files overwrite batch N-1's
        committed ones."""
        return self.build_id

    # -- executor side ------------------------------------------------------

    def _prepare(self, batch):
        import pyarrow as pa
        import pyarrow.compute as pc

        cols = dict(zip(batch.schema.names, batch.columns))
        pe = self.cfg.partition_expr
        if pe.isidentifier():
            pid = pc.fill_null(pc.cast(cols[pe], pa.string()), "")
        else:
            pid = pa.array([""] * len(batch), pa.string())
        arrays = list(batch.columns) + [pid]
        names = list(batch.schema.names) + ["partition_id"]
        if self.cfg.sha_col and "content_sha" not in cols:
            # fallback only: a sha-heavy write should carry a PRE-COMPUTED
            # content_sha column (F.sha2(col, 256) — JVM-side, no Python
            # hashing here at all); absent that, hash the utf8 bytes
            # straight off the Arrow buffers (no str round-trip)
            arrays.append(_sha256_hex_arrow(cols[self.cfg.sha_col]))
            names.append("content_sha")
        return pa.RecordBatch.from_arrays(arrays, names=names)

    def write(self, iterator) -> _TaskStaging:
        import pyarrow as pa

        from ..plans.build import STAGING_PA_SCHEMA, _make_map_build_fn

        try:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            tid = ctx.partitionId() if ctx is not None else None
        except Exception:
            tid = None
        if tid is None:
            import uuid as _uuid

            tid = _uuid.uuid4().int % (1 << 31)
        fn = _make_map_build_fn(
            self.cfg, fsx.join(self.root, "data"), self._task_tag(), task_id=tid
        )
        out = list(fn(self._prepare(b) for b in iterator))
        tbl = (
            pa.Table.from_batches(out, schema=STAGING_PA_SCHEMA)
            if out
            else STAGING_PA_SCHEMA.empty_table()
        )
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, STAGING_PA_SCHEMA) as w:
            w.write_table(tbl)
        return _TaskStaging(ipc=sink.getvalue().to_pybytes())

    # -- driver side --------------------------------------------------------

    def commit(self, messages) -> None:
        self._publish(
            messages,
            seg_name=f"{self.build_id}-dswrite",
            mode="overwrite" if self.overwrite else "append",
            source_desc="datasource-write",
            meta_extra={"source_schema": self.schema.json()},
        )

    def _publish(
        self, messages, seg_name: str, mode: str, source_desc: str,
        meta_extra: dict, skip_if_empty: bool = False,
    ) -> None:
        """Assemble the tasks' staging rows into ONE delta manifest segment
        and publish it — shared by the batch commit and (with a per-batch
        segment name + replay watermark) the streaming commit."""
        import pyarrow as pa

        from ..plans.build import STAGING_PA_SCHEMA
        from . import segments as seg

        tables = [
            pa.ipc.open_stream(pa.BufferReader(m.ipc)).read_all()
            for m in messages
            if m is not None
        ]
        st = (
            pa.concat_tables(tables) if tables else STAGING_PA_SCHEMA.empty_table()
        )
        if skip_if_empty and len(st) == 0:
            return
        blocks, files = seg.split_staging(st)
        seg.write_segment(
            mf.segment_dir(self.root, seg_name),
            {
                "blocks": blocks,
                "files": files,
                "lineage": seg.lineage_of(blocks, self.build_id, "build", source_desc),
            },
        )
        mf.publish_commit(
            self.root,
            mf.build_commit_finalize(
                self.root, self.cfg, mode, seg_name, source_desc,
                self.source_columns, self.build_id, meta_extra,
                merge_schema=getattr(self, "merge_schema", False),
            ),
        )

    def abort(self, messages) -> None:
        """Nothing to undo: no manifest was published, so every file the
        tasks wrote is unreachable; ``vacuum()`` reclaims the orphans."""


class BloomSearchStreamWriter(BloomSearchArrowWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("bloomsearch")`` — the streaming half of the
    DSv2 write protocol, sharing the batch writer's flush kernel and
    ``_publish`` commit verbatim.  What streaming changes:

    - **Per-batch file tags.**  The write-side writer instance is pickled
      ONCE at query start and reused by every micro-batch's tasks, so the
      job nonce alone would make batch N's task files overwrite batch
      N-1's committed ones.  ``_task_tag`` appends the micro-batch id
      (the ``streaming.sql.batchId`` task-local property Spark sets for
      every streaming batch — also what FileStreamSink keys on), keeping
      names deterministic across task RETRIES within a batch; if the
      property is ever absent, a per-task nonce keeps names unique
      (orphaned retry files are unreachable; ``vacuum()`` reclaims them).
    - **Exactly-once commits.**  Spark re-runs ``commit(messages,
      batchId)`` for an unacknowledged batch after recovery, and the
      commit runner builds a FRESH writer each time (instance state
      cannot carry the watermark) — so the guard is durable: every commit
      stamps ``last_stream_batch`` into meta.json *within the same
      atomic publish* (exactly :func:`streaming.ingest.append_batch`'s
      protocol, and the same meta key — the two sinks share one
      watermark), and a replayed ``batchId <= watermark`` returns without
      publishing.
    - **Empty batches commit nothing** (no version churn; the watermark
      not advancing is safe — replaying an empty batch re-skips).

    Reference analog: the ingest actor's flush→MetaStore.Update cycle
    (bloom_tree_engine.go:348-414, meta_store.go:21); each micro-batch is
    one flush.  ``outputMode("append")`` appends; complete/truncate
    overwrite per batch (the index then tracks the latest result set)."""

    def _task_tag(self) -> str:
        bid = None
        try:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            if ctx is not None:
                bid = ctx.getLocalProperty("streaming.sql.batchId")
        except Exception:
            bid = None
        if bid is not None:
            return f"{self.build_id}-b{bid}"
        import uuid as _uuid

        return f"{self.build_id}-n{_uuid.uuid4().hex[:8]}"

    def commit(self, messages, batchId: int) -> None:
        import json as _json

        cur = mf.current_version(self.root)
        if cur is not None:
            meta = _json.loads(
                fsx.read_bytes(fsx.join(self.root, "manifest", cur, "meta.json"))
            )
            if meta.get("last_stream_batch", -1) >= batchId:
                return  # replayed batch: its rows are already committed
        self._publish(
            messages,
            seg_name=f"{self.build_id}-b{batchId}-dswrite",
            mode="overwrite" if self.overwrite else "append",
            source_desc="datasource-stream",
            meta_extra={
                "source_schema": self.schema.json(),
                "last_stream_batch": batchId,
            },
            skip_if_empty=True,
        )

    def abort(self, messages, batchId: int) -> None:
        """Nothing to undo — same as the batch abort: no manifest was
        published for this batch, its task files are unreachable."""
