"""Batched needle search (r06) — N tokens, one probe pass, one scan.

Ground truth is the generator pandas frame re-tokenized the same way the
build inserted tokens (lower + whitespace split)."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloomsearch_spark import (
    IndexConfig,
    build_index,
    delete_where,
    new_query,
    search_needles,
)
from bloomsearch_spark.sources.synthetic import generate_df, generate_pdf

CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    max_block_rows=100,
    blocks_per_file=4,
    sha_col="content",
)

NEEDLES = ["needle_alpha", "needle_beta", "go", "qqq_absent_zzz"]


def _truth(pdf: pd.DataFrame, needles, cols) -> set:
    out = set()
    for _, row in pdf.iterrows():
        toks = set()
        for c in cols:
            v = row[c]
            if v is not None:
                toks |= set(str(v).lower().split())
        for n in needles:
            if n in toks:
                out.add((n, row["commit"]))
    return out


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bsneedles"))
    return build_index(spark, generate_df(spark, 700), root, CFG)


def _got(df) -> set:
    return {(r.needle, r.commit) for r in df.select("needle", "commit").collect()}


def test_any_field_matches_ground_truth(spark, idx):
    got = _got(search_needles(spark, idx, NEEDLES))
    exp = _truth(generate_pdf(700), NEEDLES, CFG.indexed_fields)
    assert got == exp and len(exp) > 0
    assert not any(n == "qqq_absent_zzz" for n, _ in got)


def test_field_scoped(spark, idx):
    pdf = generate_pdf(700)
    got = _got(search_needles(spark, idx, NEEDLES, field="lang"))
    exp = _truth(pdf, NEEDLES, ["lang"])
    assert got == exp and len(exp) > 0
    # a token that exists only in content must not match via lang
    assert {n for n, _ in got} <= {"go"}


def test_output_schema_and_duplicates(spark, idx):
    df = search_needles(spark, idx, ["needle_alpha", "needle_beta"])
    assert df.columns[0] == "needle"
    # a row containing both needles appears once per needle
    both = (
        df.groupBy(*[c for c in df.columns if c != "needle"])
        .count()
        .filter(F.col("count") == 2)
    )
    pdf = generate_pdf(700)
    toks = pdf["content"].str.lower().str.split().map(set)
    n_both = int(
        (toks.map(lambda t: "needle_alpha" in t and "needle_beta" in t)).sum()
    )
    assert both.count() == n_both


def test_unindexed_field_and_empty_needles(spark, idx):
    empty = search_needles(spark, idx, NEEDLES, field="commit")  # not indexed
    assert empty.count() == 0
    assert empty.columns[0] == "needle"
    assert search_needles(spark, idx, []).count() == 0


def test_dataframe_needles_and_cap(spark, idx):
    ndf = spark.createDataFrame([(n,) for n in NEEDLES], "tok string")
    got = _got(search_needles(spark, idx, ndf))
    assert got == _truth(generate_pdf(700), NEEDLES, CFG.indexed_fields)
    with pytest.raises(ValueError, match="max_needles"):
        search_needles(spark, idx, NEEDLES, max_needles=2)
    with pytest.raises(ValueError, match="max_needles"):
        search_needles(spark, idx, ndf, max_needles=2)


def test_dv_masked_rows_never_match(spark, tmp_root):
    idx = build_index(spark, generate_df(spark, 400), tmp_root, CFG)
    out, stats = delete_where(
        spark,
        idx,
        new_query().token("needle_alpha").build(),
        use_deletion_vectors=True,
    )
    assert stats.rows_deleted > 0
    got = _got(search_needles(spark, out, NEEDLES))
    pdf = generate_pdf(400)
    alive = pdf[
        ~pdf["content"].str.lower().str.split().map(lambda t: "needle_alpha" in t)
    ]
    assert got == _truth(alive, NEEDLES, CFG.indexed_fields)
    assert not any(n == "needle_alpha" for n, _ in got)


def test_json_index_needles(spark, tmp_root):
    docs = [
        {"id": 1.0, "name": "Alice", "level": "error", "service": "auth"},
        {"id": 2.0, "name": "Bob", "level": "info", "service": "payment"},
        {"id": 3.0, "name": "Charlie", "level": "error", "service": "db"},
        {"id": 8.0, "msg": "Hello World from Spark"},
    ]
    cfg = IndexConfig(
        json_col="doc",
        partition_expr="''",
        minmax_fields=("id",),
        max_block_rows=2,
        blocks_per_file=2,
        file_expected_items=1_000,
        sha_col="doc",
    )
    df = spark.createDataFrame([(json.dumps(d),) for d in docs], "doc string")
    idx = build_index(spark, df, tmp_root, cfg)
    got = search_needles(spark, idx, ["error", "world", "zzz_absent"])
    rows = {(r.needle, json.loads(r.doc)["id"]) for r in got.collect()}
    assert rows == {("error", 1.0), ("error", 3.0), ("world", 8.0)}
    # field-scoped: "error" under level only; "auth" under level never
    fw = search_needles(spark, idx, ["error", "auth"], field="level")
    rows = {(r.needle, json.loads(r.doc)["id"]) for r in fw.collect()}
    assert rows == {("error", 1.0), ("error", 3.0)}
