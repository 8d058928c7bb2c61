"""Transparent-read DataSource (r04): ``spark.read.format("bloomsearch")``
with WHERE-clause pushdown pruning and exact verify.

Covers: token-query exactness vs the library search() and the raw data;
partition/minmax WHERE pushdown actually reduces planned partitions;
zero-survivor queries; SQL temp views; and a sweep pinning the driver
prune (prefilter + bloom tree) to exact references: the blocks holding
verified matches, the Spark prefilter slice and a per-row probe."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloomsearch_spark import (
    Between,
    Eq,
    Gte,
    In,
    IndexConfig,
    MinMax,
    NotBetween,
    Partition,
    PrefilterAnd,
    build_index,
    new_query,
    search,
)
from bloomsearch_spark.sources.datasource import (
    BloomSearchDataSource,
    BloomSearchReader,
    prune_blocks_driver,
)
from bloomsearch_spark.sources.manifest import BloomIndex
from bloomsearch_spark.plans.search import prune_blocks

SF_DIR = "/root/testdata/sf0.001"

CFG = IndexConfig(
    indexed_fields=("text", "lang", "source"),
    partition_expr="lang",
    minmax_fields=("n_chars", "doc_id"),
    max_block_rows=64,
    blocks_per_file=4,
    sha_col="text",
)


@pytest.fixture(scope="module")
def ds_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("dsidx"))
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    build_index(spark, docs, root, CFG)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    return root


@pytest.fixture(scope="module")
def docs_pdf():
    return pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))


def _tok_mask(pdf, token):
    return pdf["text"].str.lower().str.split().map(lambda t: token in t)


def test_token_query_exact(spark, ds_root, docs_pdf):
    df = (
        spark.read.format("bloomsearch").option("root", ds_root)
        .option("token", "stream").load()
    )
    got = {r.doc_id for r in df.collect()}
    exp = set(docs_pdf[_tok_mask(docs_pdf, "stream")]["doc_id"])
    assert got == exp
    # and identical to the library's distributed search
    lib = search(
        spark, BloomIndex.load(spark, ds_root), new_query().token("stream").build()
    )
    assert {r.doc_id for r in lib.collect()} == exp


def test_where_pushdown_prunes_partitions(spark, ds_root, docs_pdf):
    """The WHERE clause must both prune (fewer planned partitions) and
    stay exact (Spark re-applies every filter after the scan)."""
    from pyspark.sql.datasource import EqualTo

    schema = spark.read.format("bloomsearch").option("root", ds_root).option(
        "token", "stream"
    ).load().schema
    r_all = BloomSearchReader({"root": ds_root, "token": "stream"}, schema)
    n_all = len(r_all.partitions())
    r_de = BloomSearchReader({"root": ds_root, "token": "stream"}, schema)
    returned = list(r_de.pushFilters([EqualTo(("lang",), "de")]))
    assert len(returned) == 1  # every filter reported back for re-apply
    n_de = len(r_de.partitions())
    assert 0 < n_de < n_all

    df = (
        spark.read.format("bloomsearch").option("root", ds_root)
        .option("token", "stream").load()
    )
    got = {r.doc_id for r in df.filter("lang = 'de'").collect()}
    exp = set(
        docs_pdf[_tok_mask(docs_pdf, "stream") & (docs_pdf["lang"] == "de")]["doc_id"]
    )
    assert got == exp


def test_minmax_where_and_sql_view(spark, ds_root, docs_pdf):
    df = spark.read.format("bloomsearch").option("root", ds_root).load()
    df.createOrReplaceTempView("bs_docs")
    got = {
        r.doc_id
        for r in spark.sql(
            "SELECT doc_id FROM bs_docs WHERE n_chars >= 150 AND lang IN ('de','es')"
        ).collect()
    }
    exp = set(
        docs_pdf[
            (docs_pdf["n_chars"] >= 150) & docs_pdf["lang"].isin(["de", "es"])
        ]["doc_id"]
    )
    assert got == exp


def test_miss_token_yields_empty(spark, ds_root):
    df = (
        spark.read.format("bloomsearch").option("root", ds_root)
        .option("token", "zz_totally_absent").load()
    )
    assert df.count() == 0


def test_field_token_and_multi_token(spark, ds_root, docs_pdf):
    df = (
        spark.read.format("bloomsearch").option("root", ds_root)
        .option("field_token", "text:vector").option("token", "stream").load()
    )
    got = {r.doc_id for r in df.collect()}
    exp = set(
        docs_pdf[_tok_mask(docs_pdf, "vector") & _tok_mask(docs_pdf, "stream")]["doc_id"]
    )
    assert got == exp


def _tree_per_row(expr, row, params) -> bool:
    """Per-row reference probe of a bloom tree: one ``bloom.probe`` per
    leaf over one manifest row's bitsets (null/empty cannot disqualify)."""
    import numpy as np

    from bloomsearch_spark import bloom

    if expr.kind == "AND":
        return all(_tree_per_row(ch, row, params) for ch in expr.children)
    if expr.kind == "OR":
        return any(_tree_per_row(ch, row, params) for ch in expr.children)
    which, key = expr.probe_key()
    raw = row[{"field": "field_bloom", "token": "token_bloom",
               "fieldtoken": "fieldtoken_bloom"}[which]]
    if raw is None or len(raw) == 0:
        return True
    return bool(bloom.probe(np.frombuffer(raw, np.uint8), [key], params)[0])


def test_driver_prune_equivalent_to_spark_prune(spark, ds_root):
    """The semantic keystone: for a sweep of prefilter+bloom queries, the
    driver prune keeps every block that holds a verified match (a full
    unpruned Spark scan + compile_bloom_verify over the Spark-computed
    prefilter slice), keeps nothing outside that slice, and equals the
    per-row reference hierarchy (file blooms, then block blooms, one
    ``bloom.probe`` per leaf and row)."""
    from bloomsearch_spark.bloom import BloomParams
    from bloomsearch_spark.operators.verify import compile_bloom_verify
    from bloomsearch_spark.plans.search import scan_blocks
    from bloomsearch_spark.query import compile_prefilter

    idx = BloomIndex.load(spark, ds_root)
    queries = [
        new_query().token("stream").build(),
        new_query().token("zz_absent").build(),
        new_query().field("text").build(),
        new_query().field_token("text", "vector").build(),
        new_query()
        .match_prefilter(Partition(Eq("de")))
        .token("stream")
        .build(),
        new_query()
        .match_prefilter(
            PrefilterAnd(Partition(In("de", "es")), MinMax("n_chars", Gte(150)))
        )
        .build(),
        new_query()
        .match_prefilter(MinMax("doc_id", Between(100, 300)))
        .token("query")
        .build(),
        new_query()
        .match_prefilter(MinMax("n_chars", NotBetween(120, 400)))
        .build(),
    ]
    schema = spark.read.format("bloomsearch").option("root", ds_root).load().schema
    reader = BloomSearchReader({"root": ds_root}, schema)
    files_pdf = idx.files().toPandas()
    blocks_pdf = idx.blocks().toPandas()

    def params(row):
        return BloomParams(int(row["expected_items"]), float(row["fpr"]))

    for q in queries:
        tree = q.prune_bloom()
        driver_set = {
            p
            for p, _ in prune_blocks_driver(
                None, ds_root, idx.version, q, reader._table_refs()
            )
        }
        assert driver_set == {p for p, _ in prune_blocks(idx, q)}, q
        sliced = idx.blocks().filter(compile_prefilter(q.prefilter))
        slice_set = {r.data_path for r in sliced.select("data_path").collect()}
        data = scan_blocks(idx, sliced)
        hit = data.filter(compile_bloom_verify(q.bloom, CFG.indexed_fields, data.columns))
        matched = {
            f"file_id={r.file_id}/block_id={r.block_id}"
            for r in hit.select("file_id", "block_id").distinct().collect()
        }
        assert matched <= driver_set <= slice_set, q
        if tree is None:
            assert driver_set == slice_set, q
            continue
        live_files = {
            r["file_id"] for _, r in files_pdf.iterrows()
            if _tree_per_row(tree, r, params(r))
        }
        expect = {
            r["data_path"] for _, r in blocks_pdf.iterrows()
            if r["data_path"] in slice_set and r["file_id"] in live_files
            and _tree_per_row(tree, r, params(r))
        }
        assert driver_set == expect, q


# ---------------------------------------------------------------------------
# r05: indexed-field bloom pushdown, regex, external, distributed fallback
# ---------------------------------------------------------------------------


def test_indexed_field_bloom_pushdown(spark, tmp_path):
    """WHERE equality/IN on an indexed NON-partition, NON-minmax field must
    prune blocks as a field:token bloom prefilter (r04 verdict top item) —
    and stay exact (Spark re-applies the filter).  Uses a block-clustered
    tag column so pruning is observable (sf-table values spread over every
    block and genuinely survive)."""
    from pyspark.sql import Row
    from pyspark.sql.datasource import EqualTo, In as DSIn

    # 6 blocks of 50 rows; rows of block b carry tag "zz<b> yy<b>"
    rows = [
        Row(doc_id=i, tag=f"zz{i // 50} yy{i // 50}", text=f"alpha w{i}")
        for i in range(300)
    ]
    root = str(tmp_path / "tagidx")
    build_index(
        spark, spark.createDataFrame(rows).coalesce(1), root,
        IndexConfig(indexed_fields=("tag", "text"), max_block_rows=50,
                    blocks_per_file=2),
    )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    schema = spark.read.format("bloomsearch").option("root", root).load().schema
    opts = {"root": root, "blocks_per_task": "1"}
    n_all = len(BloomSearchReader(dict(opts), schema).partitions())
    assert n_all == 6

    # single-token equality on the indexed field prunes to ~1 block
    r_eq = BloomSearchReader(dict(opts), schema)
    r_eq.pushFilters([EqualTo(("tag",), "zz2 yy2")])  # multi-token: AND
    n_eq = len(r_eq.partitions())
    assert 0 < n_eq < n_all

    r_in = BloomSearchReader(dict(opts), schema)
    r_in.pushFilters([DSIn(("tag",), ("zz2 yy2", "zz4 yy4"))])
    assert n_eq <= len(r_in.partitions()) < n_all

    # end to end: exact results with the pushdown active
    df = spark.read.format("bloomsearch").option("root", root).load()
    assert {r.doc_id for r in df.filter("tag = 'zz2 yy2'").collect()} == set(
        range(100, 150)
    )
    assert df.filter("tag IN ('zz2 yy2', 'zz4 yy4')").count() == 100

    # unharvestable cases stay sound: NULL member dropped, zero-token value
    # leaves the filter unpushed (no pruning, no error, exact results)
    r_edge = BloomSearchReader(dict(opts), schema)
    r_edge.pushFilters(
        [DSIn(("tag",), ("zz2 yy2", None)), EqualTo(("tag",), "  ")]
    )
    assert 0 < len(r_edge.partitions()) <= n_all
    assert df.filter("tag = '  '").count() == 0


def test_regex_option_exact(spark, ds_root, docs_pdf):
    """field_regex option: prunes via the Q14 field-guard rewrite, verifies
    with Q13 semantics — same rows as the library's regex search."""
    from bloomsearch_spark import FieldRegex

    df = (
        spark.read.format("bloomsearch").option("root", ds_root)
        .option("field_regex", "text:vector (search|database)").load()
    )
    got = {r.doc_id for r in df.collect()}
    lib = search(
        spark,
        BloomIndex.load(spark, ds_root),
        new_query().field_regex("text", "vector (search|database)").build(),
    )
    assert got == {r.doc_id for r in lib.collect()}
    import re

    pat = re.compile("vector (search|database)")
    exp = set(docs_pdf[docs_pdf["text"].map(lambda t: pat.search(t) is not None)]["doc_id"])
    assert got == exp
    # regex AND token compose (implicit AND, like the query builder)
    both = (
        spark.read.format("bloomsearch").option("root", ds_root)
        .option("field_regex", "text:vector (search|database)")
        .option("token", "stream").load()
    )
    exp_both = exp & set(docs_pdf[_tok_mask(docs_pdf, "stream")]["doc_id"])
    assert {r.doc_id for r in both.collect()} == exp_both


def test_external_index_datasource(spark, tmp_path, docs_pdf):
    """A zero-copy external index reads through the DataSource: the scan
    hits the SOURCE parquet in place, block membership (file, partition)
    is re-derived per row, results match the library search."""
    from bloomsearch_spark import build_external_index

    root = str(tmp_path / "xidx")
    build_external_index(
        spark, os.path.join(SF_DIR, "documents.parquet"), root,
        IndexConfig(
            indexed_fields=("text", "lang", "source"),
            partition_expr="lang",
            minmax_fields=("n_chars",),
        ),
    )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    df = (
        spark.read.format("bloomsearch").option("root", root)
        .option("token", "stream").load()
    )
    exp = set(docs_pdf[_tok_mask(docs_pdf, "stream")]["doc_id"])
    assert {r.doc_id for r in df.collect()} == exp
    # WHERE on the partition source column prunes + stays exact
    got_de = {r.doc_id for r in df.filter("lang = 'de'").collect()}
    assert got_de == set(
        docs_pdf[_tok_mask(docs_pdf, "stream") & (docs_pdf["lang"] == "de")]["doc_id"]
    )
    lib = search(
        spark, BloomIndex.load(spark, root), new_query().token("stream").build()
    )
    assert {r.doc_id for r in lib.collect()} == exp
    # distributed manifest-slice fallback over an EXTERNAL index: same rows
    dfb = (
        spark.read.format("bloomsearch").option("root", root)
        .option("token", "stream").option("max_driver_blocks", "1").load()
    )
    assert {r.doc_id for r in dfb.filter("lang = 'de'").collect()} == got_de


def test_distributed_fallback_past_driver_cap(spark, ds_root, docs_pdf):
    """Past max_driver_blocks survivors, partitions() falls back to
    manifest slices (executors prune their own slice) instead of erroring;
    results stay identical."""
    from bloomsearch_spark.sources.datasource import _ManifestSlice

    schema = spark.read.format("bloomsearch").option("root", ds_root).load().schema
    r = BloomSearchReader(
        {"root": ds_root, "token": "stream", "max_driver_blocks": "1"}, schema
    )
    parts = r.partitions()
    assert parts and all(isinstance(p, _ManifestSlice) for p in parts)

    df = (
        spark.read.format("bloomsearch").option("root", ds_root)
        .option("token", "stream").option("max_driver_blocks", "1").load()
    )
    exp = set(docs_pdf[_tok_mask(docs_pdf, "stream")]["doc_id"])
    assert {r2.doc_id for r2 in df.collect()} == exp
    # WHERE still applies (executor-side prefilter + Spark re-apply)
    got_de = {r2.doc_id for r2 in df.filter("lang = 'de'").collect()}
    assert got_de == set(
        docs_pdf[_tok_mask(docs_pdf, "stream") & (docs_pdf["lang"] == "de")]["doc_id"]
    )


def test_version_pinning_time_travel(spark, tmp_path):
    """schema() and the reader resolve the SAME version (a commit between
    the two can't skew them — ADVICE r04), and .option('version', ...)
    time-travels to any committed version."""
    from bloomsearch_spark.sources.synthetic import generate_df

    root = str(tmp_path / "vidx")
    cfg = IndexConfig(indexed_fields=("content",), partition_expr="lang",
                      max_block_rows=100, blocks_per_file=4)
    build_index(spark, generate_df(spark, 300), root, cfg)
    build_index(spark, generate_df(spark, 200, seed=9), root, cfg, mode="append")
    spark.dataSource.register(BloomSearchDataSource)
    cur = (
        spark.read.format("bloomsearch").option("root", root).load().count()
    )
    assert cur == 500
    v1 = (
        spark.read.format("bloomsearch").option("root", root)
        .option("version", "v00000001").load().count()
    )
    assert v1 == 300


def test_minmax_prune_exact_past_2p53(spark, tmp_path):
    """int64 zone-map bounds beyond 2^53 must compare EXACTLY in the
    driver-side prune (the old float64 cast rounded them and could drop a
    matching block — ADVICE r04 medium)."""
    from pyspark.sql import Row

    big = (1 << 53) + 1  # not representable in float64 (rounds to 2^53)
    rows = [Row(k=big, text="alpha one"), Row(k=(1 << 53) + 3, text="alpha two")]
    root = str(tmp_path / "bigmm")
    build_index(
        spark, spark.createDataFrame(rows), root,
        IndexConfig(indexed_fields=("text",), minmax_fields=("k",),
                    max_block_rows=1, blocks_per_file=2),
    )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    df = spark.read.format("bloomsearch").option("root", root).load()
    # float64 would round big -> 2^53 and the [big, big] block would fail
    # the EQ overlap test; exact compare keeps it
    assert df.filter(F.col("k") == big).count() == 1
    # and a NULL member in a pushed IN is dropped, not a planning crash
    from pyspark.sql.datasource import In as DSIn

    r = BloomSearchReader({"root": root}, df.schema)
    r.pushFilters([DSIn(("k",), (big, None))])
    assert len(r.partitions()) >= 1


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


def test_writer_build_append_and_interop(spark, tmp_path):
    """df.write.format('bloomsearch') builds a real index (same flush
    kernel as build_index): search is exact, integrity holds, an append
    inherits the existing config, and the result interoperates with the
    library maintenance ops (merge) and the read DataSource."""
    from bloomsearch_spark import merge_files, verify_integrity
    from bloomsearch_spark.sources.synthetic import generate_df, generate_pdf

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    root = str(tmp_path / "widx")
    (
        generate_df(spark, 1_200).write.format("bloomsearch")
        .option("root", root)
        .option("indexed_fields", "repo,path,lang,content")
        .option("partition_col", "lang")
        .option("max_block_rows", "100")
        .option("blocks_per_file", "4")
        .option("sha_col", "content")
        .mode("overwrite").save()
    )
    (
        generate_df(spark, 300, seed=7).coalesce(2).write.format("bloomsearch")
        .option("root", root).mode("append").save()
    )
    idx = BloomIndex.load(spark, root)
    assert idx.blocks().agg(F.sum("row_count")).collect()[0][0] == 1_500
    pdf = pd.concat([generate_pdf(1_200), generate_pdf(300, seed=7)])
    mask = pdf["content"].str.lower().str.split().map(lambda t: "needle_alpha" in t)
    exp = set(pdf[mask]["commit"])
    got = {
        r.commit
        for r in search(spark, idx, new_query().token("needle_alpha").build()).collect()
    }
    assert got == exp
    assert verify_integrity(spark, idx) == 0

    # library maintenance over a writer-built index
    merged, stats = merge_files(spark, idx, max_blocks_per_file=1000,
                                max_files_per_merge=1000)
    assert stats.files_after <= stats.files_before
    got2 = {
        r.commit
        for r in search(spark, merged, new_query().token("needle_alpha").build()).collect()
    }
    assert got2 == exp

    # and the read DataSource over the written index
    rt = (
        spark.read.format("bloomsearch").option("root", root)
        .option("token", "needle_alpha").load()
    )
    assert {r.commit for r in rt.collect()} == exp


def test_writer_option_validation(spark, tmp_path):
    from bloomsearch_spark.sources.synthetic import generate_df

    spark.dataSource.register(BloomSearchDataSource)
    df = generate_df(spark, 50)
    # fresh root without indexed_fields
    with pytest.raises(Exception, match="indexed_fields"):
        df.write.format("bloomsearch").option(
            "root", str(tmp_path / "a")
        ).mode("overwrite").save()
    # partition expr must be a bare column for the writer
    with pytest.raises(Exception, match="bare column"):
        (
            df.write.format("bloomsearch").option("root", str(tmp_path / "b"))
            .option("indexed_fields", "content")
            .option("partition_col", "upper(lang)")
            .mode("overwrite").save()
        )


def test_positional_path_is_root(spark, tmp_path):
    """``save(path)`` / ``load(path)`` / ``readStream...load(path)``: the
    positional path argument (delivered by Spark as the ``path`` option)
    is accepted as the index root on every surface, with an explicit
    ``.option("root")`` winning over it.  SQL catalog tables
    (``CREATE TABLE ... USING bloomsearch``) are NOT a route: Spark 4.1
    instantiates Python DataSources with EMPTY options at SELECT time —
    the SQL surface is a temp view over ``load()``."""
    from bloomsearch_spark.sources.synthetic import generate_df

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    root = str(tmp_path / "pos")
    (
        generate_df(spark, 400).write.format("bloomsearch")
        .option("indexed_fields", "repo,lang,content")
        .option("partition_col", "lang")
        .option("max_block_rows", "100")
        .mode("overwrite").save(root)  # positional save
    )
    lib = search(
        spark, BloomIndex.load(spark, root), new_query().token("needle_alpha").build()
    ).count()
    ds = spark.read.format("bloomsearch").option("token", "needle_alpha").load(root)
    assert ds.count() == lib
    # explicit root wins over a bogus positional path
    ds2 = (
        spark.read.format("bloomsearch").option("root", root)
        .option("token", "needle_alpha").load(str(tmp_path / "nonexistent"))
    )
    assert ds2.count() == lib
    # the changefeed resolves the positional path too (schema inference
    # is enough to prove root resolution — no need to run the stream)
    st = spark.readStream.format("bloomsearch").load(root)
    assert "content" in [f.name for f in st.schema.fields]


def test_pushdown_typed_partition_and_empty_string(spark, tmp_path):
    """r04 review regressions: (a) a typed (int) WHERE value on the
    partition source column must prune with Spark's cast-to-string
    spelling, not drop every block; (b) a WHERE matching ''-partition rows
    must not be harvested at all (the strict prefilter would exclude the
    blocks holding them)."""
    from pyspark.sql import Row

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    rows = [
        Row(year=2019 + (i % 3), text=f"alpha tok{i}") for i in range(60)
    ] + [Row(year=None, text="alpha nullpart")]
    df = spark.createDataFrame(rows)
    root = str(tmp_path / "typed")
    build_index(
        spark, df, root,
        IndexConfig(indexed_fields=("text",), partition_expr="year",
                    max_block_rows=10, blocks_per_file=2),
    )
    ds = (
        spark.read.format("bloomsearch").option("root", root)
        .option("token", "alpha").load()
    )
    got = ds.filter("year = 2020").count()
    assert got == sum(1 for r in rows if r.year == 2020)
    # typed IN prunes with the stringified members and stays exact
    assert ds.filter("year IN (2019, 2021)").count() == sum(
        1 for r in rows if r.year in (2019, 2021)
    )

    # '' partition: strict prefilter may not be harvested for it
    rows2 = [Row(part="", text="alpha empty"), Row(part="x", text="alpha other")]
    root2 = str(tmp_path / "emptypart")
    build_index(
        spark, spark.createDataFrame(rows2), root2,
        IndexConfig(indexed_fields=("text",), partition_expr="part",
                    max_block_rows=4, blocks_per_file=2),
    )
    ds2 = (
        spark.read.format("bloomsearch").option("root", root2)
        .option("token", "alpha").load()
    )
    assert ds2.filter("part = ''").count() == 1
    assert ds2.filter("part IN ('', 'x')").count() == 2


def test_writer_sha_paths(spark, tmp_path):
    """r05 (verdict item 5): the writer consumes a PRE-COMPUTED content_sha
    column (JVM-side F.sha2 — zero Python hashing) when present; the
    fallback hashes utf8 bytes off the Arrow buffers and must agree with
    F.sha2 on nulls, empties, and unicode."""
    import pyarrow as pa

    from bloomsearch_spark import verify_integrity
    from bloomsearch_spark.sources.datasource import _sha256_hex_arrow
    from pyspark.sql import Row

    # buffer-sliced fallback == hashlib-on-str on edge cases
    import hashlib

    vals = ["hello", "", None, "naïve ünïcode  nbsp", "x" * 10_000]
    got = _sha256_hex_arrow(pa.array(vals, pa.string())).to_pylist()
    exp = [
        hashlib.sha256(v.encode()).hexdigest() if v is not None else None
        for v in vals
    ]
    assert got == exp
    # sliced-array offsets handled
    arr = pa.array(vals * 3, pa.string()).slice(4, 7)
    assert _sha256_hex_arrow(arr).to_pylist() == (exp * 3)[4:11]

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    rows = [Row(doc_id=i, text=f"alpha word{i}") for i in range(200)]
    df = spark.createDataFrame(rows).withColumn(
        "content_sha", F.sha2(F.col("text").cast("string"), 256)
    )
    root = str(tmp_path / "shaidx")
    (
        df.write.format("bloomsearch").option("root", root)
        .option("indexed_fields", "text").option("sha_col", "text")
        .option("max_block_rows", "50").mode("overwrite").save()
    )
    idx = BloomIndex.load(spark, root)
    assert verify_integrity(spark, idx) == 0
    assert search(spark, idx, new_query().token("alpha").build()).count() == 200


def test_regex_numeric_rendering_matches_spark_cast(spark):
    """r05 review: regex_verify_pdf must render numeric field values the
    way Catalyst cast('string') does (Java Double.toString — '1.0E20' not
    '1e+20'; int-with-nulls '5' not '5.0'), or the DataSource's regex
    verify diverges from the library's cast+rlike."""
    import numpy as np
    from pyspark.sql import Row
    from pyspark.sql import functions as F2
    from bloomsearch_spark.sources.datasource import _java_number_str

    doubles = [1e20, 1.5, 0.001, 0.0001, 123.45, 5.0, 0.0, -0.0, -4.25e-7,
               float("nan"), float("inf"), 1234567.0, 9999999.0, 1e7]
    df = spark.createDataFrame([Row(v=float(x)) for x in doubles])
    spark_strs = [r.s for r in df.select(F2.col("v").cast("string").alias("s")).collect()]
    ours = [_java_number_str(v) for v in doubles]
    assert ours == spark_strs, list(zip(doubles, ours, spark_strs))

    # int64 column WITH nulls: pandas promotes to float64; the typed cast
    # must still render '5', matching Spark's bigint cast
    import pandas as pd2
    from bloomsearch_spark.sources.datasource import _spark_cast_str_typed

    s = pd2.Series([5.0, None, 123.0])  # float64-promoted bigint
    assert _spark_cast_str_typed(s, "bigint").tolist() == ["5", None, "123"]

    # end to end: field_regex over a double column agrees with the
    # library path's rlike
    rows = [Row(doc_id=i, score=float(f"{i}.5") if i % 3 else 1e20,
                text=f"alpha w{i}") for i in range(30)]
    import tempfile as tf

    root = tf.mkdtemp(prefix="bs-rgxnum-")
    build_index(
        spark, spark.createDataFrame(rows), root,
        # score must be INDEXED: the regex field-guard prunes on the field
        # bloom, and an unindexed field deterministically matches nothing
        IndexConfig(indexed_fields=("text", "score"), max_block_rows=10,
                    blocks_per_file=2),
    )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    ds = (
        spark.read.format("bloomsearch").option("root", root)
        .option("field_regex", "score:E20$").load()
    )
    lib = search(
        spark, BloomIndex.load(spark, root),
        new_query().field_regex("score", "E20$").build(),
    )
    assert {r.doc_id for r in ds.collect()} == {r.doc_id for r in lib.collect()}
    assert ds.count() == 10  # every i % 3 == 0


def test_external_null_int_partition_exact(spark, tmp_path):
    """r05 review: an external index partitioned on a NULLABLE int column
    must not lose rows through the DataSource — pandas promotes the
    column to float64 ('5.0' vs the manifest's '5'); the pid is derived
    arrow-side instead."""
    from pyspark.sql import Row
    from bloomsearch_spark import build_external_index

    rows = [Row(year=2020 + (i % 2) if i % 7 else None, text=f"alpha w{i}")
            for i in range(60)]
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(src)
    root = str(tmp_path / "xnull")
    build_external_index(
        spark, src, root,
        IndexConfig(indexed_fields=("text",), partition_expr="year"),
    )
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    ds = (
        spark.read.format("bloomsearch").option("root", root)
        .option("token", "alpha").load()
    )
    assert ds.count() == 60  # null-partition rows included, ints matched
    assert ds.filter("year = 2020").count() == sum(
        1 for r in rows if r.year == 2020
    )


def test_java_number_str_fuzz_vs_spark(spark):
    """Property fuzz over ~900 doubles (uniform bit patterns + friendly
    ranges): _java_number_str must equal Spark's cast('string'), EXCEPT
    the one documented legacy-JVM class — pre-JDK-19 Double.toString
    (JDK-4511638) sometimes emits one extra digit on values needing 17
    significant digits.  Any tolerated divergence must be exactly that
    shape: Spark's string strictly longer AND parsing to the same double
    (ours is shortest-round-trip).  Anything else is a renderer bug."""
    import random
    import struct

    from pyspark.sql import Row
    from pyspark.sql import functions as F2
    from bloomsearch_spark.sources.datasource import _java_number_str

    rng = random.Random(20260817)
    vals = []
    while len(vals) < 400:
        bits = rng.getrandbits(64)
        v = struct.unpack("<d", struct.pack("<Q", bits))[0]
        if v == v and abs(v) != float("inf"):
            vals.append(v)
    vals += [rng.uniform(-1e8, 1e8) for _ in range(200)]
    vals += [rng.uniform(-1, 1) * 10 ** rng.randint(-12, 12) for _ in range(200)]
    vals += [float(rng.randint(-10**15, 10**15)) for _ in range(100)]
    vals += [0.0, -0.0, 1e-3, 9.999e-4, 1e7, 9999999.9999999, 5e-324]

    df = spark.createDataFrame([Row(i=i, v=float(v)) for i, v in enumerate(vals)])
    jvm = {r.i: r.s for r in
           df.select("i", F2.col("v").cast("string").alias("s")).collect()}
    legacy_extra = 0
    for i, v in enumerate(vals):
        ours = _java_number_str(v)
        if ours == jvm[i]:
            continue
        # tolerated ONLY: same parsed value AND either the legacy-JVM
        # extra-digit class or the subnormal tail (Java picks
        # closest-digit renderings like 4.9E-324 where Python-shortest
        # says 5.0E-324 — same double, different digit choice)
        assert float(jvm[i]) == v and (
            len(jvm[i]) > len(ours) or abs(v) < 2.3e-308
        ), (v, v.hex(), ours, jvm[i])
        legacy_extra += 1
    # the legacy class is rare — a blowup means the renderer regressed
    assert legacy_extra <= len(vals) * 0.02, legacy_extra


def test_exact_scan_filter_ships_result_sized_batches(spark, ds_root, docs_pdf):
    """Pushed WHERE predicates with proven semantics are applied to the
    block scan ITSELF (pyarrow expression), so the python-worker→JVM
    transfer is ~result-sized: with fully-translated predicates read()
    must yield exactly the matching rows, where the un-pushed control
    ships every row of every surviving block."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, IsNotNull

    schema = spark.read.format("bloomsearch").option("root", ds_root).load().schema
    src = docs_pdf["source"].iloc[0]
    exp = docs_pdf[(docs_pdf["source"] == src) & (docs_pdf["n_chars"] >= 150)]
    filters = [
        EqualTo(("source",), src),
        GreaterThanOrEqual(("n_chars",), 150),
        IsNotNull(("source",)),
    ]

    r = BloomSearchReader({"root": ds_root}, schema)
    assert len(list(r.pushFilters(list(filters)))) == 3  # all re-applied
    assert len(r._pushed_exact) == 3
    rows, ids = 0, set()
    for p in r.partitions():
        for batch in r.read(p):
            rows += batch.num_rows
            ids |= set(batch.column("doc_id").to_pylist())
    assert ids == set(exp["doc_id"])
    assert rows == len(exp)

    # control: same prune, exact-scan filter disabled -> whole blocks ship
    r2 = BloomSearchReader({"root": ds_root}, schema)
    list(r2.pushFilters(list(filters)))
    r2._pushed_exact = []
    rows2 = sum(b.num_rows for p in r2.partitions() for b in r2.read(p))
    assert rows2 > rows

    # end-to-end: Spark re-applies everything; results stay exact
    got = {
        r_.doc_id
        for r_ in spark.read.format("bloomsearch").option("root", ds_root)
        .load()
        .filter((F.col("source") == src) & (F.col("n_chars") >= 150))
        .collect()
    }
    assert got == set(exp["doc_id"])


def test_exact_scan_filter_float_nan_semantics(spark, tmp_path):
    """Spark orders NaN above everything and NaN = NaN is TRUE; plain
    pyarrow comparison says neither.  The translated scan filter must
    carry Spark's answer — every predicate below must match what Spark
    itself computes on the same in-memory frame (no silent row loss on
    the NaN rows)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    rows = [(i, float(i), f"w{i} common") for i in range(48)]
    rows += [(100 + j, float("nan"), f"nanrow{j} common") for j in range(4)]
    rows += [(200, None, "nullrow common")]
    df = spark.createDataFrame(rows, "doc_id long, fval double, text string")
    cfg = IndexConfig(
        indexed_fields=("text",),
        partition_expr="''",
        minmax_fields=("doc_id",),
        max_block_rows=16,
        blocks_per_file=4,
    )
    root = str(tmp_path / "nanidx")
    build_index(spark, df, root, cfg)
    for pred in [
        "fval > 40.0",
        "fval >= 40.0",
        "fval < 5.0",
        "fval <= 5.0",
        "fval = CAST('NaN' AS DOUBLE)",
        "fval <=> CAST('NaN' AS DOUBLE)",
        "fval IN (CAST('NaN' AS DOUBLE), 3.0)",
        "fval IS NULL",
        "fval IS NOT NULL",
        "text LIKE 'nanrow%'",
    ]:
        bs = spark.read.format("bloomsearch").option("root", root).load()
        got = {r.doc_id for r in bs.filter(pred).collect()}
        exp = {r.doc_id for r in df.filter(pred).collect()}
        assert got == exp, pred


def test_exact_expr_translator_guards(spark, ds_root):
    """Unproven column/value pairings must stay untranslated (None):
    applying them could only ever drop rows Spark would keep."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In as FIn

    schema = spark.read.format("bloomsearch").option("root", ds_root).load().schema
    r = BloomSearchReader({"root": ds_root}, schema)
    assert r._exact_expr_of(EqualTo(("n_chars",), True)) is None  # bool->int col
    assert r._exact_expr_of(EqualTo(("text",), 5)) is None  # int->str col
    assert r._exact_expr_of(EqualTo(("no_such",), 1)) is None  # unknown col
    assert r._exact_expr_of(EqualTo(("lang", "x"), "de")) is None  # nested
    assert r._exact_expr_of(EqualTo(("lang",), None)) is None  # = NULL
    assert r._exact_expr_of(FIn(("lang",), (None,))) is None  # all-NULL IN
    assert r._exact_expr_of(GreaterThan(("n_chars",), float("nan"))) is None

    import pyarrow as pa

    t = pa.table({"lang": ["de", "fr", None]})
    col, e = r._exact_expr_of(FIn(("lang",), ("de", None)))  # NULL member drops
    assert col == "lang" and t.filter(e)["lang"].to_pylist() == ["de"]


def test_isnotnull_field_presence_prune(spark, tmp_path):
    """WHERE col IS NOT NULL on an indexed field prunes blocks whose col
    is entirely null (the build inserts a field name into the field bloom
    only when a non-null value exists).  Prune-only sound: any row passing
    IS NOT NULL lives in a block that carries the field."""
    from pyspark.sql.datasource import IsNotNull

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(BloomSearchDataSource)
    # partition A: tag always set; partition B: tag entirely null
    rows = [(i, "a", f"tag{i}", f"w{i} common") for i in range(40)]
    rows += [(100 + i, "b", None, f"x{i} common") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, part string, tag string, text string")
    cfg = IndexConfig(
        indexed_fields=("tag", "text"),
        partition_expr="part",
        max_block_rows=16,
        blocks_per_file=2,
    )
    root = str(tmp_path / "fpidx")
    build_index(spark, df, root, cfg)

    r_all = BloomSearchReader({"root": root}, df.schema)
    n_all = len(r_all.partitions())
    r_nn = BloomSearchReader({"root": root}, df.schema)
    list(r_nn.pushFilters([IsNotNull(("tag",))]))
    n_nn = len(r_nn.partitions())
    assert 0 < n_nn < n_all  # the all-null partition's blocks pruned

    got = {
        r.doc_id
        for r in spark.read.format("bloomsearch").option("root", root)
        .load().filter("tag IS NOT NULL").collect()
    }
    assert got == set(range(40))
    # and IS NULL stays unpruned + exact (no bloom can characterize null)
    got_null = {
        r.doc_id
        for r in spark.read.format("bloomsearch").option("root", root)
        .load().filter("tag IS NULL").collect()
    }
    assert got_null == {100 + i for i in range(40)}


def test_columns_option_prunes_and_stays_exact(spark, ds_root, docs_pdf):
    """``.option("columns", ...)``: the schema narrows to the requested
    columns (in the requested order), the token verify still runs on the
    UNSELECTED indexed field, and results stay exact."""
    df = (
        spark.read.format("bloomsearch").option("root", ds_root)
        .option("columns", "n_chars,doc_id").option("token", "stream").load()
    )
    assert [f.name for f in df.schema.fields] == ["n_chars", "doc_id"]
    exp = docs_pdf[_tok_mask(docs_pdf, "stream")]
    assert {r.doc_id for r in df.collect()} == set(exp["doc_id"])
    # WHERE pushdown composes with the narrowed schema
    got = {r.doc_id for r in df.filter("n_chars >= 150").collect()}
    assert got == set(exp[exp["n_chars"] >= 150]["doc_id"])

    with pytest.raises(Exception, match="unknown column"):
        spark.read.format("bloomsearch").option("root", ds_root).option(
            "columns", "doc_id,nope"
        ).load().schema


def test_pads_partition_filter_all_ops_equivalence():
    """The manifest-slice fallback's pyarrow dataset filter must keep a
    SUPERSET of what eval_prefilter_pdf keeps — and on rows with a real
    partition id, exactly the same set, for all 10 condition ops and
    AND/OR compositions (unicode + lexicographic edge values included:
    pyarrow's UTF-8 binary ordering must equal Python's code-point
    ordering)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as pads

    from bloomsearch_spark.query import (
        Between, Eq, Gt, Gte, In, Lt, Lte, MinMax, Ne, NotBetween, NotIn,
        Partition, PrefilterAnd, PrefilterOr,
    )
    from bloomsearch_spark.operators.probe import eval_prefilter_pdf
    from bloomsearch_spark.sources.datasource import BloomSearchReader

    pids = [None, "", "9", "10", "apple", "z", "éclair", "Zebra", "a b"]
    tbl = pa.table({
        "partition_id": pa.array(pids, pa.string()),
        "rowno": pa.array(range(len(pids)), pa.int64()),
    })
    pdf = tbl.to_pandas()
    # zone-map columns for the MinMax children (batch-side-only pieces)
    pdf["minmax_min"] = [{"x": i} for i in range(len(pids))]
    pdf["minmax_max"] = [{"x": i + 3} for i in range(len(pids))]
    real = pdf["partition_id"].notna() & (pdf["partition_id"] != "")

    exprs = [
        Partition(Eq("10")), Partition(Ne("10")),
        Partition(Gt("9")), Partition(Gte("Zebra")),
        Partition(Lt("apple")), Partition(Lte("z")),
        Partition(In("9", "éclair")), Partition(NotIn("10", "a b")),
        Partition(Between("a", "b")), Partition(NotBetween("A", "a")),
        PrefilterAnd(Partition(Gt("1")), Partition(Lt("z"))),
        PrefilterOr(Partition(Eq("9")), Partition(Between("x", "zz"))),
        # unpushable pieces: minmax child (AND keeps the conjunct subset,
        # OR poisons to None = scan everything)
        PrefilterAnd(Partition(Eq("10")), MinMax("x", Gt(5))),
        PrefilterOr(Partition(Eq("10")), MinMax("x", Gt(5))),
        Partition(In()),  # empty IN: match-nothing stays batch-side
    ]
    for e in exprs:
        want = eval_prefilter_pdf(e, pdf)
        flt = BloomSearchReader._pads_partition_filter(e)
        if flt is None:
            continue  # unpushed = full superset, trivially sound
        got_rows = set(
            pads.dataset(tbl).to_table(filter=flt)["rowno"].to_pylist()
        )
        want_rows = set(np.asarray(pdf["rowno"])[want])
        assert want_rows <= got_rows, e  # sound: never drops a match
        # exact on real-partition rows (the has-mask is the only slack)
        real_rows = set(np.asarray(pdf["rowno"])[real.to_numpy()])
        assert got_rows & real_rows == want_rows, e


def test_pads_partition_filter_hypothesis_fuzz():
    """Property fuzz of the fallback's pyarrow filter translation vs
    eval_prefilter_pdf: for random unicode partition-id pools and random
    conditions of every op, the pushed filter keeps a superset of the
    batch-side eval, and exactly its rows among real (non-null, non-"")
    partition ids — i.e. pyarrow's binary UTF-8 ordering never diverges
    from Python's code-point comparisons."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as pads
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bloomsearch_spark.query import (
        Between, Eq, Gt, Gte, In, Lt, Lte, Ne, NotBetween, NotIn, Partition,
    )
    from bloomsearch_spark.operators.probe import eval_prefilter_pdf
    from bloomsearch_spark.sources.datasource import BloomSearchReader

    text = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=6
    )

    @settings(max_examples=150, deadline=None)
    @given(
        pool=st.lists(st.one_of(st.none(), text), min_size=1, max_size=12),
        a=text, b=text,
        vals=st.lists(text, max_size=3),
        op=st.sampled_from(
            ["EQ", "NE", "GT", "GTE", "LT", "LTE", "IN", "NOT_IN",
             "BETWEEN", "NOT_BETWEEN"]
        ),
    )
    def check(pool, a, b, vals, op):
        cond = {
            "EQ": lambda: Eq(a), "NE": lambda: Ne(a),
            "GT": lambda: Gt(a), "GTE": lambda: Gte(a),
            "LT": lambda: Lt(a), "LTE": lambda: Lte(a),
            "IN": lambda: In(*vals), "NOT_IN": lambda: NotIn(*vals),
            "BETWEEN": lambda: Between(min(a, b), max(a, b)),
            "NOT_BETWEEN": lambda: NotBetween(min(a, b), max(a, b)),
        }[op]()
        e = Partition(cond)
        tbl = pa.table({
            "partition_id": pa.array(pool, pa.string()),
            "rowno": pa.array(range(len(pool)), pa.int64()),
        })
        pdf = tbl.to_pandas()
        want = set(np.asarray(pdf["rowno"])[eval_prefilter_pdf(e, pdf)])
        flt = BloomSearchReader._pads_partition_filter(e)
        if flt is None:
            return  # unpushed (e.g. empty IN) = trivially sound
        got = set(
            pads.dataset(tbl).to_table(filter=flt)["rowno"].to_pylist()
        )
        assert want <= got, (op, pool, a, b, vals)
        real = pdf["partition_id"].notna() & (pdf["partition_id"] != "")
        assert got & set(np.asarray(pdf["rowno"])[real.to_numpy()]) == want, (
            op, pool, a, b, vals,
        )

    check()


def test_verify_pdf_custom_tokenizer_vectorized():
    """r06 (VERDICT r05 item 8): the custom-tokenizer exact-verify path is
    factorized — value_fn runs once per DISTINCT value and each token leaf
    is a C-level gather, not a per-row Python map.  Exactness pinned to
    the old per-row implementation at 1e5 candidate rows, speed floor 2x
    (min of 3 interleaved reps)."""
    import time

    import numpy as np

    from bloomsearch_spark import query as q
    from bloomsearch_spark import tokenizer as tk
    from bloomsearch_spark.sources.datasource import verify_pdf

    tok = tk.Tokenizer(
        name="csv_lower_dsperf",
        value_fn=lambda v: [t for t in v.lower().split(",") if t],
    )
    n = 100_000
    rng = np.random.default_rng(7)
    # duplicate-heavy categorical col + high-cardinality col + nulls
    cats = np.array(["Alpha,Beta", "beta,GAMMA", "delta", "", "Alpha"])
    vals = cats[rng.integers(0, len(cats), n)].astype(object)
    vals[rng.random(n) < 0.05] = None
    # ~3 rows per distinct: candidate batches that survived a field:token
    # bloom prune share probed values, so dup-heavy is the realistic
    # profile (a 100%-distinct column caps the custom-tokenizer speedup
    # at ~2x — value_fn once per distinct IS once per row there)
    hi = np.array([f"row{i // 3},tag{i % 97}" for i in range(n)], dtype=object)
    pdf = pd.DataFrame({"a": vals, "b": hi, "num": rng.integers(0, 50, n)})
    expr = q.And(
        q.Or(q.Token("beta"), q.FieldToken("b", "tag13")),
        q.Field("a"),
    )
    fields = ("a", "b")

    def verify_pdf_rowwise(expr, pdf, indexed_fields, tokenizer):
        # the pre-r06 implementation, kept as the semantic + speed baseline
        n = len(pdf)
        cols = set(pdf.columns)
        indexed = set(indexed_fields) & cols
        cache = {}

        def cast(v):
            if v is None or (isinstance(v, float) and np.isnan(v)):
                return None
            if isinstance(v, str):
                return v
            if isinstance(v, (bool, np.bool_)):
                return "true" if v else "false"
            return str(v)

        def tokens_of(col):
            if col not in cache:
                cache[col] = pdf[col].map(
                    lambda v: None if cast(v) is None
                    else tokenizer.value_fn(cast(v))
                )
            return cache[col]

        def tok_in(col, t):
            return tokens_of(col).map(
                lambda xs: t in xs if xs is not None else False
            ).to_numpy(dtype=bool)

        def ev(e):
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
                return (
                    pdf[e.field].notna().to_numpy()
                    if e.field in indexed else np.zeros(n, bool)
                )
            if e.kind == "TOKEN":
                out = np.zeros(n, bool)
                for c in indexed_fields:
                    if c in cols:
                        out |= tok_in(c, e.token)
                return out
            return tok_in(e.field, e.token) if e.field in indexed \
                else np.zeros(n, bool)

        return ev(expr)

    t_new = t_old = float("inf")
    for _ in range(5):  # interleaved min-of-reps (host noise)
        t0 = time.perf_counter()
        got = verify_pdf(expr, pdf, fields, tok)
        t_new = min(t_new, time.perf_counter() - t0)
        t0 = time.perf_counter()
        exp = verify_pdf_rowwise(expr, pdf, fields, tok)
        t_old = min(t_old, time.perf_counter() - t0)
    assert (got == exp).all()
    assert got.sum() > 0 and not got.all()
    # REGRESSION GUARD, not the measurement: the controlled standalone
    # ratio is ~2.5-4x (r06), but full-suite memory pressure on this VM
    # (see CLAUDE.md environment gotchas) compresses it — 1.5x min-of-5
    # still catches a return to the per-row path (ratio ~1.0) without
    # flaking the suite on host noise
    assert t_old / t_new >= 1.5, (t_old, t_new)
