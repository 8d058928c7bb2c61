"""End-to-end: build an index over the synthetic source-code table, run
queries through the full prune+verify pipeline, and compare exact result
sets against a brute-force pandas oracle (the template from SURVEY.md §7.1
step 4; mirrors the reference's golden e2e pattern,
bloom_tree_engine_test.go:469-639)."""

import pandas as pd
import pytest

from bloomsearch_spark import (
    And,
    Between,
    Eq,
    Field,
    FieldToken,
    Gte,
    In,
    IndexConfig,
    MinMax,
    Or,
    Partition,
    PrefilterAnd,
    Token,
    build_index,
    new_query,
    search,
    verify_integrity,
)
from bloomsearch_spark.sources.synthetic import generate_df, generate_pdf, needle_rows

N_ROWS = 4_000

CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    minmax_fields=(),
    max_block_rows=200,
    blocks_per_file=4,
    block_fpr=0.01,
    file_fpr=0.01,
    file_expected_items=20_000,
    compression="snappy",
    sha_col="content",
)


@pytest.fixture(scope="module")
def oracle_pdf():
    return generate_pdf(N_ROWS)


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx"))
    df = generate_df(spark, N_ROWS)
    return build_index(spark, df, root, CFG, source_desc=f"synthetic n={N_ROWS}")


def _tokens(s: str) -> set:
    return set(s.lower().split())


def _keys(pdf: pd.DataFrame) -> set:
    return set(map(tuple, pdf[["repo", "path", "commit"]].to_numpy()))


def _result_keys(df) -> set:
    return {(r.repo, r.path, r.commit) for r in df.collect()}


def test_token_search_matches_oracle(spark, index, oracle_pdf):
    q = new_query().token("needle_alpha").build()
    got, stats = search(spark, index, q, with_stats=True)
    expected = oracle_pdf[oracle_pdf["content"].map(lambda c: "needle_alpha" in _tokens(c))]
    assert len(expected) == len(needle_rows("needle_alpha", N_ROWS))
    assert _result_keys(got) == _keys(expected)
    # rare token ⇒ the hierarchy must actually prune
    assert stats.blocks_after_block_bloom < stats.total_blocks
    assert stats.prune_ratio > 0.2


def test_lowercased_needle(spark, index, oracle_pdf):
    """Stored 'Needle_Gamma' is found by lowercase query token
    (tokenizer lowers at index time; query tokens are caller-lowercased,
    PERFORMANCE.md:37)."""
    q = new_query().token("needle_gamma").build()
    got = search(spark, index, q)
    expected = oracle_pdf[oracle_pdf["content"].str.contains("Needle_Gamma")]
    assert _result_keys(got) == _keys(expected)
    # original-case query token finds nothing (engine does not normalize queries)
    q2 = new_query().token("Needle_Gamma").build()
    assert search(spark, index, q2).count() == 0


def test_field_token_search(spark, index, oracle_pdf):
    q = new_query().field_token("lang", "go").build()
    got = search(spark, index, q)
    expected = oracle_pdf[oracle_pdf["lang"] == "go"]
    assert _result_keys(got) == _keys(expected)


def test_field_token_wrong_field_misses(spark, index):
    q = new_query().field_token("path", "needle_alpha").build()
    assert search(spark, index, q).count() == 0


def test_field_search(spark, index, oracle_pdf):
    q = new_query().field("lang").build()
    assert search(spark, index, q).count() == len(oracle_pdf)
    q2 = new_query().field("nonexistent_field").build()
    got, stats = search(spark, index, q2, with_stats=True)
    assert got.count() == 0
    # a nonexistent field should be pruned entirely at the file level
    assert stats.files_after_file_bloom == 0


def test_and_or_combinators(spark, index, oracle_pdf):
    q = (
        new_query()
        .match(And(Token("needle_alpha"), FieldToken("lang", "py")))
        .build()
    )
    got = search(spark, index, q)
    expected = oracle_pdf[
        (oracle_pdf["lang"] == "py")
        & oracle_pdf["content"].map(lambda c: "needle_alpha" in _tokens(c))
    ]
    assert _result_keys(got) == _keys(expected)

    q_or = (
        new_query()
        .match(Or(Token("needle_alpha"), Token("needle_beta")))
        .build()
    )
    got_or = search(spark, index, q_or)
    expected_or = oracle_pdf[
        oracle_pdf["content"].map(
            lambda c: bool({"needle_alpha", "needle_beta"} & _tokens(c))
        )
    ]
    assert _result_keys(got_or) == _keys(expected_or)


def test_implicit_and_chaining(spark, index, oracle_pdf):
    q = new_query().token("needle_alpha").token("needle_beta").build()
    got = search(spark, index, q)
    expected = oracle_pdf[
        oracle_pdf["content"].map(
            lambda c: {"needle_alpha", "needle_beta"} <= _tokens(c)
        )
    ]
    assert _result_keys(got) == _keys(expected)


def test_partition_prefilter(spark, index, oracle_pdf):
    q = (
        new_query()
        .match_prefilter(Partition(Eq("go")))
        .token("needle_alpha")
        .build()
    )
    got, stats = search(spark, index, q, with_stats=True)
    expected = oracle_pdf[
        (oracle_pdf["lang"] == "go")
        & oracle_pdf["content"].map(lambda c: "needle_alpha" in _tokens(c))
    ]
    assert _result_keys(got) == _keys(expected)
    # partition pruning must cut the candidate set before blooms
    assert stats.blocks_after_prefilter < stats.total_blocks


def test_partition_prefilter_in_and_or(spark, index, oracle_pdf):
    q = (
        new_query()
        .match_prefilter(
            PrefilterAnd(Partition(In("go", "py")))
        )
        .field_token("lang", "py")
        .build()
    )
    got = search(spark, index, q)
    expected = oracle_pdf[oracle_pdf["lang"] == "py"]
    assert _result_keys(got) == _keys(expected)


def test_regex_final_stage(spark, index, oracle_pdf):
    q = new_query().field_regex("path", r"file12\d\.go$").build()
    got = search(spark, index, q)
    expected = oracle_pdf[oracle_pdf["path"].str.contains(r"file12\d\.go$")]
    assert _result_keys(got) == _keys(expected)


def test_regex_and_token(spark, index, oracle_pdf):
    q = (
        new_query()
        .token("needle_beta")
        .field_regex("repo", r"^org0/")
        .build()
    )
    got = search(spark, index, q)
    expected = oracle_pdf[
        oracle_pdf["repo"].str.match(r"org0/")
        & oracle_pdf["content"].map(lambda c: "needle_beta" in _tokens(c))
    ]
    assert _result_keys(got) == _keys(expected)


def test_regex_field_guard_prunes(spark, index):
    """A regex on a nonexistent field must prune everything BEFORE any data
    read — the regex -> field-existence bloom guard (Q14), proven by stats
    like the reference's BloomFilterSkipped test
    (bloom_tree_engine_test.go:1944-2028)."""
    q = new_query().field_regex("no_such_field", ".*anything.*").build()
    got, stats = search(spark, index, q, with_stats=True)
    assert got.count() == 0
    assert stats.files_after_file_bloom == 0  # guard killed every file
    assert stats.blocks_after_block_bloom == 0


def test_byte_based_flush(spark, tmp_root):
    """Blocks also flush on a byte cap (MaxRowGroupBytes analog,
    bloom_tree_engine.go:615-628): with a tiny byte cap, blocks come out
    far smaller than max_block_rows."""
    from bloomsearch_spark import IndexConfig, build_index
    from bloomsearch_spark.sources.synthetic import generate_df

    cfg = IndexConfig(
        indexed_fields=("content",),
        partition_expr="''",
        max_block_rows=100_000,
        max_block_bytes=64 * 1024,
        blocks_per_file=4,
        sha_col="content",
    )
    idx = build_index(spark, generate_df(spark, 2_000), tmp_root, cfg)
    blocks = idx.blocks().toPandas()
    assert blocks["row_count"].sum() == 2_000
    assert blocks["row_count"].max() < 100_000  # byte cap fired first
    assert len(blocks) > 2
    q = new_query().token("needle_alpha").build()
    from bloomsearch_spark.sources.synthetic import generate_pdf

    pdf = generate_pdf(2_000)
    expect = sum("needle_alpha" in c.lower().split() for c in pdf["content"])
    assert search(spark, idx, q).count() == expect


def test_invalid_regex_raises():
    with pytest.raises(Exception):
        new_query().field_regex("path", "[unclosed").build()


def test_match_all_query(spark, index, oracle_pdf):
    """No predicate at all -> every row (nil query matches all,
    bloom_tree_engine.go:830-835)."""
    q = new_query().build()
    assert search(spark, index, q).count() == len(oracle_pdf)


def test_sha256_invariant(spark, index):
    assert verify_integrity(spark, index) == 0


def test_block_sizes_bounded_despite_skew(spark, index):
    """org0/monorepo holds ~30% of rows, but hash block assignment keeps
    every block near the target size — no hot block (north-rule skew)."""
    blocks = index.blocks().toPandas()
    assert (blocks["row_count"] <= CFG.max_block_rows * 2).all()
    assert blocks["row_count"].max() < 3 * blocks["row_count"].median()


def test_source_columns_only_in_results(spark, index):
    q = new_query().token("needle_alpha").build()
    assert search(spark, index, q).columns == ["repo", "path", "commit", "lang", "content"]


def test_cluster_input_build_no_count_prepass(spark, tmp_path_factory, oracle_pdf):
    """cluster_input sizes its salted repartition from parquet FOOTER
    metadata on the driver (no extra full-scan count() job, VERDICT r01
    item 5) and still produces a correct, full-block index."""
    from bloomsearch_spark.plans.build import _estimate_rows

    src = str(tmp_path_factory.mktemp("clsrc"))
    generate_df(spark, N_ROWS).repartition(6).write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    # footer estimate is EXACT for <=256 files — same `want` as the old
    # df.count() pre-pass, hence identical physical layout
    assert _estimate_rows(spark, df) == N_ROWS

    cfg = IndexConfig(**{**CFG.__dict__, "cluster_input": True})
    root = str(tmp_path_factory.mktemp("clidx"))
    idx = build_index(spark, df, root, cfg)
    q = new_query().token("needle_alpha").build()
    got = _result_keys(search(spark, idx, q))
    expect = _keys(oracle_pdf.iloc[needle_rows("needle_alpha", N_ROWS)])
    assert got == expect
    # clustered: same-partition rows co-locate into full blocks
    blocks = idx.blocks().toPandas()
    assert blocks["row_count"].sum() == N_ROWS


def test_custom_tokenizer_end_to_end(spark, tmp_path_factory):
    """Pluggable tokenizer (reference ValueTokenizerFunc, tokenizer.go:86-99):
    build with the code-identifier tokenizer, search tokens only IT can
    produce; the stored tokenizer name drives both build and verify sides,
    compared against a per-row python oracle."""
    from bloomsearch_spark.tokenizer import CODE_IDENTIFIERS

    rows = [
        (0, "parseHTTPBody failed", "go"),
        (1, "call user@example.com now", "py"),
        (2, "plain words only", "md"),
        (3, "HTTPServer::restart", "rs"),
        (4, "body of evidence", "md"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string, lang string")
    cfg = IndexConfig(
        indexed_fields=("content",),
        partition_expr="lang",
        max_block_rows=2,
        blocks_per_file=2,
        tokenizer="code_identifiers",
        sha_col="content",
    )
    root = str(tmp_path_factory.mktemp("toki"))
    idx = build_index(spark, df, root, cfg)
    # the committed meta carries the tokenizer name
    assert idx.config.tokenizer == "code_identifiers"

    def oracle(token):
        return {
            r[0] for r in rows if token in CODE_IDENTIFIERS.value_fn(r[1])
        }

    for token in ("http", "body", "example", "restart", "com", "parse", "zz_absent"):
        got = {
            r.doc_id
            for r in search(spark, idx, new_query().token(token).build()).collect()
        }
        assert got == oracle(token), token
    # whitespace tokenizer would NOT find these (punctuation kept inside)
    assert oracle("example") == {1} and oracle("http") == {0, 3}


def test_python_only_tokenizer_fallback(spark, tmp_path_factory):
    """A registered tokenizer with only value_fn works end-to-end via the
    pandas-UDF fallback faces on both build and verify sides."""
    from bloomsearch_spark import register_tokenizer
    from bloomsearch_spark.tokenizer import Tokenizer, go_format_value

    register_tokenizer(
        Tokenizer(
            name="csv_lower",
            value_fn=lambda v: [
                t.strip() for t in go_format_value(v).lower().split(",") if t.strip()
            ],
        )
    )
    rows = [(0, "Alpha,beta gamma", "a"), (1, "beta gamma,delta", "b")]
    df = spark.createDataFrame(rows, "doc_id long, content string, lang string")
    cfg = IndexConfig(
        indexed_fields=("content",), partition_expr="lang",
        tokenizer="csv_lower", sha_col="content",
    )
    root = str(tmp_path_factory.mktemp("csvtok"))
    idx = build_index(spark, df, root, cfg)
    got = {
        r.doc_id
        for r in search(spark, idx, new_query().token("beta gamma").build()).collect()
    }
    assert got == {0, 1}  # "beta gamma" is ONE csv token
    assert search(spark, idx, new_query().token("beta").build()).count() == 0


def test_scan_stats_measured_fp_blocks(spark, index, oracle_pdf):
    """Per-block scan stats (BlockStats analog): finish() counts
    rows_scanned/rows_matched/blocks_with_matches exactly; fp_blocks is
    the MEASURED bloom false-positive block count, ~0 at p=0.01."""
    from bloomsearch_spark.operators.verify import compile_bloom_verify
    from bloomsearch_spark.plans.search import scan_blocks

    q = new_query().token("needle_alpha").build()
    got, stats = search(spark, index, q, with_stats=True)
    n = got.count()
    stats.finish()
    assert stats.rows_matched == n
    assert stats.rows_scanned >= n
    # exact reference: the blocks holding a verified match, by full scan
    full = scan_blocks(index, index.blocks())
    hit = full.filter(compile_bloom_verify(q.bloom, CFG.indexed_fields, full.columns))
    exact = hit.select("file_id", "block_id").distinct().count()
    assert 0 < stats.blocks_with_matches == exact <= stats.blocks_after_block_bloom
    assert stats.fp_blocks == stats.blocks_after_block_bloom - exact
    # measured false positives at p=0.01
    assert stats.fp_blocks <= max(1, int(0.05 * stats.total_blocks))


def test_scan_stats_miss_query(spark, index):
    """A fully-pruned query reports exact zeros without a scan job."""
    q = new_query().token("zz_completely_absent_token").build()
    got, stats = search(spark, index, q, with_stats=True)
    assert got.count() == 0
    stats.finish()
    assert stats.rows_matched == 0
    if stats.blocks_after_block_bloom == 0:
        assert stats.rows_scanned == 0 and stats.fp_blocks == 0
    else:  # surviving blocks were ALL false positives — measured as such
        assert stats.fp_blocks == stats.blocks_after_block_bloom


def test_scan_stats_fallback_without_action(spark, index):
    """finish() needs no prior action on the result: the scan counters
    come from their own aggregation job."""
    q = new_query().token("needle_beta").build()
    got, stats = search(spark, index, q, with_stats=True)
    stats.finish()
    assert stats.rows_matched == got.count()
    assert stats.rows_scanned >= stats.rows_matched


def test_clustered_build_null_partition_rows_searchable(spark, tmp_path):
    """r03 review fix: a NULL partition_expr value on the CLUSTERED path
    coalesces to "" like the map path — previously the slug concat yielded
    NULL file_id/block_id and the rows were silently unsearchable."""
    df = spark.createDataFrame(
        [("r1", None, "alpha uniqnulltok"), ("r2", "go", "beta plain")],
        "id string, lang string, content string",
    )
    cfg = IndexConfig(
        indexed_fields=("content",), partition_expr="lang",
        block_expr="0", max_block_rows=10, blocks_per_file=2,
    )
    from pyspark.sql import functions as F

    idx = build_index(spark, df, str(tmp_path / "i"), cfg)
    assert idx.blocks().agg(F.sum("row_count")).collect()[0][0] == 2
    got = search(spark, idx, new_query().token("uniqnulltok").build())
    assert [r.id for r in got.collect()] == ["r1"]


def test_build_with_map_column(spark, tmp_path):
    """r03 review fix: xxhash64 rejects MapType, so the salt/scatter hash
    must exclude map columns instead of failing the whole build."""
    rows = [(f"r{i}", {"k": f"v{i}"}, f"tok{i} shared") for i in range(60)]
    df = spark.createDataFrame(
        rows, "id string, m map<string,string>, content string"
    )
    cfg = IndexConfig(
        indexed_fields=("content",), partition_expr="'p'",
        max_block_rows=20, blocks_per_file=2, cluster_input=True,
    )
    idx = build_index(spark, df, str(tmp_path / "mi"), cfg)
    got = search(spark, idx, new_query().token("tok7").build())
    assert [r.id for r in got.collect()] == ["r7"]


def test_clustered_build_preserves_float_nan(spark, tmp_path):
    """The clustered (block_expr) path writes block parquet straight from
    the group's Arrow table.  Its former applyInPandas body round-tripped
    rows through Table.from_pandas, which converts float NaN to NULL
    (pandas null sentinel) — stored-data corruption.  NaN and NULL must
    both survive the build+search round trip distinctly."""
    rows = [(i, float(i) if i % 7 else float("nan"), f"w{i} common") for i in range(64)]
    rows += [(200, None, "nullrow common")]
    df = spark.createDataFrame(rows, "doc_id long, fval double, text string")
    cfg = IndexConfig(
        indexed_fields=("text",),
        partition_expr="''",
        minmax_fields=("doc_id",),
        max_block_rows=16,
        block_expr="doc_id % 4",
    )
    idx = build_index(spark, df, str(tmp_path / "nanidx"), cfg)
    res = search(spark, idx, new_query().token("common").build())
    got = sorted((r.doc_id, str(r.fval)) for r in res.collect())
    exp = sorted((r.doc_id, str(r.fval)) for r in df.collect())
    assert got == exp
    assert sum(1 for _, v in got if v == "nan") == 10
    assert sum(1 for _, v in got if v == "None") == 1
