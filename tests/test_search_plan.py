"""search() builds its plan from Columns memoized on the index handle.

Pins two properties:

- a warm search() stays within a py4j round-trip budget: half of what the
  plan took when every leaf rebuilt its column's token array and every
  fold started from a literal seed (143 / 352 / 417 round trips for a
  ``field:token`` leaf, a whole-document token and an ``And`` of both);
- the lean plan returns the rows, columns and column order of a
  reference predicate built leaf by leaf — over NULL values, non-indexed
  FIELD leaves, OR trees, regexes, a python-only tokenizer and a
  column-mapped index — and a new handle never reuses another handle's
  Columns.
"""

import gc

import py4j.clientserver
import pytest
from pyspark.sql import functions as F

from bloomsearch_spark import (
    And,
    Field,
    FieldToken,
    IndexConfig,
    Or,
    Token,
    build_index,
    new_query,
    register_tokenizer,
    rename_column,
    search,
)
from bloomsearch_spark.plans.colmap import translate_query
from bloomsearch_spark.plans.search import candidate_blocks, scan_blocks
from bloomsearch_spark.sources.manifest import BloomIndex
from bloomsearch_spark.sources.synthetic import generate_df
from bloomsearch_spark.tokenizer import Tokenizer, get_tokenizer, go_format_value, tokens_udf

CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    max_block_rows=100,
    blocks_per_file=4,
)

register_tokenizer(
    Tokenizer(
        name="test_search_plan_commas",
        value_fn=lambda v: [t for t in go_format_value(v).lower().split(",") if t],
    )
)


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("search-plan"))
    return build_index(spark, generate_df(spark, 2_000), root, CFG)


@pytest.fixture(scope="module")
def null_idx(spark, tmp_path_factory):
    """Small documents with NULLs in indexed columns and one column
    (``n``) that is not indexed."""
    rows = [
        ("r1", "a/x.py", "py", "alpha beta", 1),
        ("r1", None, "py", "beta gamma", 2),
        ("r2", "b/y.go", "go", None, None),
        (None, "c/z.go", "go", "alpha delta", 4),
        ("r3", "d/w.js", "js", "Gamma ALPHA", None),
        ("r3", "e/v.js", "js", None, 6),
    ]
    df = spark.createDataFrame(rows, "repo string, path string, lang string, content string, n long")
    cfg = IndexConfig(indexed_fields=("repo", "path", "content"), partition_expr="lang", max_block_rows=2)
    return build_index(spark, df, str(tmp_path_factory.mktemp("search-plan-nulls")), cfg)


@pytest.fixture(scope="module")
def py_tok_idx(spark, tmp_path_factory):
    rows = [(0, "Alpha,beta gamma", "a"), (1, "beta gamma,delta", "b"), (2, None, "a")]
    df = spark.createDataFrame(rows, "doc_id long, content string, lang string")
    cfg = IndexConfig(
        indexed_fields=("content",), partition_expr="lang", tokenizer="test_search_plan_commas",
    )
    return build_index(spark, df, str(tmp_path_factory.mktemp("search-plan-pytok")), cfg)


# -- the reference: the predicate built leaf by leaf ------------------------


def _ref_token_in(col, token, tok):
    c = F.col(col).cast("string")
    toks = tok.sql_tokens(c) if tok.sql_tokens is not None else tokens_udf(tok)(c)
    return F.coalesce(F.array_contains(toks, token), F.lit(False))


def _ref_bloom(expr, indexed_fields, columns, tok):
    if expr is None:
        return F.lit(True)
    cols = set(columns)
    indexed = set(indexed_fields) & cols
    if expr.kind == "AND":
        out = F.lit(True)
        for ch in expr.children:
            out = out & _ref_bloom(ch, indexed_fields, columns, tok)
        return out
    if expr.kind == "OR":
        out = F.lit(False)
        for ch in expr.children:
            out = out | _ref_bloom(ch, indexed_fields, columns, tok)
        return out
    if expr.kind == "FIELD":
        return F.col(expr.field).isNotNull() if expr.field in indexed else F.lit(False)
    if expr.kind == "TOKEN":
        out = F.lit(False)
        for c in indexed_fields:
            if c in cols:
                out = out | _ref_token_in(c, expr.token, tok)
        return out
    if expr.field not in indexed:
        return F.lit(False)
    return _ref_token_in(expr.field, expr.token, tok)


def _ref_regex(expr, columns):
    if expr is None:
        return F.lit(True)
    if expr.kind in ("AND", "OR"):
        out = F.lit(expr.kind == "AND")
        for ch in expr.children:
            sub = _ref_regex(ch, columns)
            out = out & sub if expr.kind == "AND" else out | sub
        return out
    if expr.field not in set(columns):
        return F.lit(False)
    return F.coalesce(F.col(expr.field).cast("string").rlike(expr.pattern), F.lit(False))


def _reference_search(index, query):
    cfg = index.config
    query = translate_query(index, query)
    data = scan_blocks(index, candidate_blocks(index, query))
    cols = data.columns
    tok = get_tokenizer(cfg.tokenizer)
    pred = _ref_bloom(query.bloom, cfg.indexed_fields, cols, tok) & _ref_regex(query.regex, cols)
    out = data.filter(pred)
    source_columns = index.meta().get("source_columns")
    if source_columns:
        out = out.select(*[c for c in source_columns if c in out.columns])
    return index.rename_to_logical(out)


def _assert_same(spark, index, query):
    got, want = search(spark, index, query), _reference_search(index, query)
    assert got.columns == want.columns
    rows = sorted(map(repr, got.collect()))
    assert rows == sorted(map(repr, want.collect()))
    return rows


NULL_QUERIES = [
    new_query().token("alpha").build(),
    new_query().field_token("content", "alpha").build(),
    new_query().field("content").build(),
    new_query().field("n").build(),  # not indexed: cannot match
    new_query().field_token("n", "1").build(),
    new_query().match(Or(FieldToken("content", "gamma"), Token("r1"))).build(),
    new_query().match(And(Or(Token("alpha"), Token("beta")), Field("path"))).build(),
    new_query().match(Or(And(Token("alpha"), FieldToken("repo", "r3")), Field("n"))).build(),
    new_query().field_regex("content", "^(alpha|beta)").build(),
    new_query().token("alpha").field_regex("path", r"\.go$").build(),
]


@pytest.mark.parametrize("q", range(len(NULL_QUERIES)))
def test_matches_the_reference_over_nulls_and_unindexed_fields(spark, null_idx, q):
    rows = _assert_same(spark, null_idx, NULL_QUERIES[q])
    if q == 3:
        assert rows == []


def test_matches_the_reference_with_a_python_only_tokenizer(spark, py_tok_idx):
    for q in [
        new_query().token("beta gamma").build(),
        new_query().token("beta").build(),
        new_query().match(Or(Token("alpha"), Token("delta"))).build(),
        new_query().field("content").build(),
    ]:
        _assert_same(spark, py_tok_idx, q)
    assert search(spark, py_tok_idx, new_query().token("beta gamma").build()).count() == 2


def test_a_renamed_column_gets_fresh_columns_on_the_new_handle(spark, null_idx):
    before = new_query().field_token("content", "alpha").build()
    assert search(spark, null_idx, before).count() == 3
    old_memo = null_idx._plan_pieces
    renamed = rename_column(spark, null_idx, "content", "body")
    after = new_query().field_token("body", "alpha").build()
    rows = _assert_same(spark, renamed, after)
    assert len(rows) == 3
    assert "body" in search(spark, renamed, after).columns
    _assert_same(spark, renamed, new_query().match(Or(Token("gamma"), Field("body"))).build())
    assert renamed._plan_pieces is not old_memo
    # the old handle still reads its own version, under the old name
    old_cols = search(spark, null_idx, before).columns
    assert search(spark, renamed, after).columns == ["body" if c == "content" else c for c in old_cols]
    reloaded = BloomIndex.load(spark, renamed.root)
    assert reloaded.version == renamed.version and not hasattr(reloaded, "_plan_pieces")
    assert sorted(map(repr, search(spark, reloaded, after).collect())) == rows


# -- the py4j budget --------------------------------------------------------

BUDGET_QUERIES = {
    "field_token": (lambda p: new_query().field_token("path", p).build(), 143),
    "token": (lambda p: new_query().token(p).build(), 352),
    "and": (lambda p: new_query().match(And(Token("needle_alpha"), FieldToken("path", p))).build(), 417),
}


def _round_trips(monkeypatch, fn) -> int:
    """py4j commands ``fn`` sends, without the detach commands of JVM
    objects Python frees meanwhile: those follow the garbage left by
    earlier work, not the plan being built."""
    conn = py4j.clientserver.ClientServerConnection
    send = conn.send_command
    n = 0

    def counted(self, command):
        nonlocal n
        n += not command.startswith("m\nd\n")
        return send(self, command)

    gc.collect()
    gc.disable()
    monkeypatch.setattr(conn, "send_command", counted)
    try:
        fn()
    finally:
        monkeypatch.setattr(conn, "send_command", send)
        gc.enable()
    return n


@pytest.mark.parametrize("shape", sorted(BUDGET_QUERIES))
def test_warm_search_round_trip_budget(spark, idx, monkeypatch, shape):
    assert isinstance(spark.sparkContext._gateway, py4j.clientserver.ClientServer)
    make, unmemoized = BUDGET_QUERIES[shape]
    p = search(spark, idx, new_query().token("needle_alpha").build()).first().path
    q = make(p)
    for _ in range(2):
        search(spark, idx, q).count()
    n = _round_trips(monkeypatch, lambda: search(spark, idx, q))
    assert n <= unmemoized // 2, n
