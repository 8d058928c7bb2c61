"""Zero-copy external index — overlay the bloom hierarchy on source
parquet in place (block = (source file, partition value), data_path =
the source file URI).  Queries must equal the copy-based index; no row
data may be written under the index root."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from bloomsearch_spark import (
    Eq,
    IndexConfig,
    Partition,
    build_external_index,
    build_index,
    compact_blocks,
    merge_files,
    new_query,
    search,
    vacuum,
    verify_integrity,
)
from bloomsearch_spark.sources.synthetic import generate_df, generate_pdf

N_ROWS = 3_000

CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    minmax_fields=(),
    max_block_rows=10_000,
    blocks_per_file=4,
    block_fpr=0.01,
    file_fpr=0.01,
    file_expected_items=20_000,
)

QUERIES = [
    lambda: new_query().token("needle_alpha").build(),
    lambda: new_query().field_token("lang", "go").build(),
    lambda: new_query().token("zz_absent").build(),
    lambda: new_query().match_prefilter(Partition(Eq("py"))).token("needle_beta").build(),
    lambda: new_query().build(),  # match-all
]


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("src"))
    generate_df(spark, N_ROWS).repartition(8).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def ext_index(spark, source_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("extidx"))
    return build_external_index(spark, source_dir, root, CFG, source_desc=source_dir)


def _keys(df):
    return {(r.repo, r.path, r.commit) for r in df.collect()}


def test_external_matches_copy_index(spark, ext_index, source_dir, tmp_path_factory):
    copy_root = str(tmp_path_factory.mktemp("copyidx"))
    cfg_copy = IndexConfig(**{**CFG.__dict__, "sha_col": "content"})
    copy_idx = build_index(spark, spark.read.parquet(source_dir), copy_root, cfg_copy)
    for qf in QUERIES:
        ext = _keys(search(spark, ext_index, qf()))
        cop = _keys(search(spark, copy_idx, qf()))
        assert ext == cop


def test_zero_copy_no_data_written(ext_index):
    """The index root holds only manifest parquet — no row data."""
    assert not os.path.exists(ext_index.data_dir)
    blocks = ext_index.blocks().toPandas()
    # every data_path points OUTSIDE the index root, at the source files
    assert (~blocks["data_path"].str.contains(ext_index.root)).all()
    assert blocks["data_path"].str.endswith(".parquet").all()


def test_blocks_are_file_x_partition(spark, ext_index, source_dir):
    n_files = len(glob.glob(os.path.join(source_dir, "*.parquet")))
    blocks = ext_index.blocks().toPandas()
    langs = blocks["partition_id"].nunique()
    assert langs == 6
    # one block per (file, partition-present-in-file); <= files x langs
    assert len(blocks) <= n_files * langs
    assert blocks.groupby(["data_path", "partition_id"]).size().max() == 1
    assert blocks["row_count"].sum() == N_ROWS


def test_partition_prefilter_row_exact(spark, ext_index):
    """Blocks of different partitions share a physical file; the scan's
    partition row-filter must keep block semantics row-exact."""
    pdf = generate_pdf(N_ROWS)
    q = new_query().match_prefilter(Partition(Eq("go"))).build()
    got = search(spark, ext_index, q).toPandas()
    assert (got["lang"] == "go").all()
    assert len(got) == int((pdf["lang"] == "go").sum())


def test_pruning_actually_prunes(spark, ext_index):
    out, stats = search(
        spark, ext_index, new_query().token("zz_definitely_absent").build(), with_stats=True
    )
    assert out.count() == 0
    assert stats.blocks_after_block_bloom < stats.total_blocks


def test_external_integrity_recount(spark, ext_index):
    assert verify_integrity(spark, ext_index) == 0


def test_multidir_same_basename_not_collapsed(spark, tmp_path_factory):
    """pyarrow/hive layouts reuse basenames (part-0.parquet) across
    directories; block ids must key on the FULL source uri or blocks of
    distinct files collapse and searches silently drop rows
    (ADVICE r01, plans/external.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = tmp_path_factory.mktemp("multidir")
    pdf = generate_pdf(200)
    half = len(pdf) // 2
    for sub, part in (("d1", pdf.iloc[:half]), ("d2", pdf.iloc[half:])):
        d = base / sub
        d.mkdir()
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            str(d / "part-0.parquet"),  # SAME basename in both dirs
        )
    root = str(tmp_path_factory.mktemp("multidiridx"))
    idx = build_external_index(
        spark, [str(base / "d1"), str(base / "d2")], root, CFG
    )
    blocks = idx.blocks().toPandas()
    # both physical files must appear as distinct blocks
    assert blocks["data_path"].nunique() == 2
    assert blocks["row_count"].sum() == len(pdf)
    got = search(spark, idx, new_query().build()).count()
    assert got == len(pdf)
    # token present in both halves must return rows from both files
    tok = search(spark, idx, new_query().field_token("lang", "go").build()).toPandas()
    assert len(tok) == int((pdf["lang"] == "go").sum())


def test_integrity_detects_removed_source_file(spark, tmp_path_factory):
    """A deleted source file counts its blocks as mismatches instead of
    raising (ADVICE r01, verify_external_integrity)."""
    src = str(tmp_path_factory.mktemp("rmsrc"))
    generate_df(spark, 1_000).repartition(4).write.mode("overwrite").parquet(src)
    root = str(tmp_path_factory.mktemp("rmidx"))
    idx = build_external_index(spark, src, root, CFG)
    assert verify_integrity(spark, idx) == 0
    victim = glob.glob(os.path.join(src, "*.parquet"))[0]
    n_victim_blocks = int(
        (idx.blocks().toPandas()["data_path"].str.endswith(os.path.basename(victim))).sum()
    )
    os.remove(victim)
    assert verify_integrity(spark, idx) == n_victim_blocks


def test_merge_files_works_compact_refuses(spark, ext_index):
    merged, st = merge_files(spark, ext_index, max_blocks_per_file=1000,
                             max_files_per_merge=1000)
    if st.groups_merged:
        assert st.files_after < st.files_before
        assert _keys(search(spark, merged, QUERIES[0]())) == _keys(
            search(spark, ext_index, QUERIES[0]())
        )
    # the merged version must STAY an external index (meta flag carries
    # over — losing it would send the scan down the internal-path branch)
    assert merged.meta().get("external", False) is True
    with pytest.raises(ValueError, match="external"):
        compact_blocks(spark, merged)
    # vacuum must never touch external source files
    assert vacuum(merged) == 0


def test_verify_all_sources_deleted_counts_not_crashes(spark, tmp_path):
    """r03 review fix: if every source parquet is gone but the directory
    survives, schema inference on the empty dir must degrade to 'all
    blocks mismatch', not an AnalysisException."""
    src = str(tmp_path / "src")
    generate_df(spark, 500).repartition(2).write.mode("overwrite").parquet(src)
    root = str(tmp_path / "idx")
    idx = build_external_index(spark, src, root, CFG, source_desc=src)
    n = idx.blocks().count()
    for f in glob.glob(os.path.join(src, "*.parquet")):
        os.remove(f)
    from bloomsearch_spark.plans.external import verify_external_integrity

    assert verify_external_integrity(spark, idx) == n


def test_verify_propagates_unexpected_read_errors(spark, source_dir, ext_index, monkeypatch):
    """Only a source dir with no readable parquet counts as 'every block
    mismatches'; any other error from the source read propagates."""
    from pyspark.sql import DataFrameReader

    from bloomsearch_spark.plans.external import verify_external_integrity

    real = DataFrameReader.parquet

    def flaky(self, *paths, **kw):
        if any(source_dir in str(p) for p in paths):
            raise RuntimeError("source read broke")
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", flaky)
    with pytest.raises(RuntimeError, match="source read broke"):
        verify_external_integrity(spark, ext_index)


def test_external_verify_with_space_in_path(spark, tmp_path):
    """r03 review fix: input_file_name() percent-encodes URIs; the
    driver-side dir existence stat must decode before stat'ing, or an
    intact index under 'my data/' reports every block mismatching."""
    src = str(tmp_path / "my data" / "src")
    generate_df(spark, 500).repartition(2).write.mode("overwrite").parquet(src)
    root = str(tmp_path / "idx2")
    idx = build_external_index(spark, src, root, CFG, source_desc=src)
    from bloomsearch_spark.plans.external import verify_external_integrity

    assert verify_external_integrity(spark, idx) == 0
