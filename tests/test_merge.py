"""Merge / compaction e2e — mirrors the reference merge tests
(bloom_tree_engine_test.go:986-1246: identical query results before and
after merge; :1248-1528: partitions + minmax survive; tombstoning
:1800-1858), plus idempotence/associativity properties the north rule
requires, expiry (README.md:283-287), and vacuum."""

import os

import pytest
from pyspark.sql import functions as F

from bloomsearch_spark import (
    Between,
    IndexConfig,
    MinMax,
    build_index,
    compact_blocks,
    expire_blocks,
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
    max_block_rows=100,
    blocks_per_file=2,  # deliberately tiny files -> lots to merge
    block_fpr=0.01,
    file_fpr=0.01,
    file_expected_items=20_000,
    compression="snappy",
    sha_col="content",
)

QUERIES = [
    lambda: new_query().token("needle_alpha").build(),
    lambda: new_query().field_token("lang", "go").build(),
    lambda: new_query().token("qqq_absent").build(),
    lambda: new_query().field("nonexistent").build(),
    lambda: new_query().token("needle_beta").field_regex("repo", "^org0/").build(),
]


def _results(spark, index, qf):
    return {(r.repo, r.path, r.commit) for r in search(spark, index, qf()).collect()}


@pytest.fixture()
def fresh_index(spark, tmp_root):
    df = generate_df(spark, N_ROWS)
    return build_index(spark, df, tmp_root, CFG)


def test_merge_preserves_query_results(spark, fresh_index):
    before = [_results(spark, fresh_index, qf) for qf in QUERIES]
    merged, stats = merge_files(spark, fresh_index, max_blocks_per_file=64)
    assert stats.files_after < stats.files_before
    assert stats.groups_merged >= 1
    assert merged.version != fresh_index.version
    after = [_results(spark, merged, qf) for qf in QUERIES]
    assert before == after
    # zero data movement: every data_path still points at the original dir
    assert (
        merged.blocks().filter(~F.col("data_path").contains("file_id=")).count() == 0
    )
    assert verify_integrity(spark, merged) == 0


def test_merge_is_idempotent(spark, fresh_index):
    m1, s1 = merge_files(spark, fresh_index, max_blocks_per_file=1000,
                         max_files_per_merge=1000)
    m2, s2 = merge_files(spark, m1, max_blocks_per_file=1000,
                         max_files_per_merge=1000)
    # after one full merge there is one file per (partition, params): no
    # further groups form (mirrors the reference's stable fixpoint)
    assert s2.groups_merged == 0
    assert m2.version == m1.version  # no-op returns the same handle


def test_unmergeable_params_left_alone(spark, tmp_root):
    """Files with different bloom params never merge (param equality gate,
    bloom_tree_engine.go:1412-1420; test :986-1246)."""
    df = generate_df(spark, N_ROWS)
    half1 = df.filter(F.xxhash64("commit") % 2 == 0)
    half2 = df.subtract(half1)
    build_index(spark, half1, tmp_root, CFG)
    cfg2 = IndexConfig(**{**CFG.__dict__, "block_fpr": 0.001})
    idx = build_index(spark, half2, tmp_root, cfg2, mode="append")

    files_before = idx.files().toPandas()
    merged, _ = merge_files(spark, idx, max_blocks_per_file=10_000,
                            max_files_per_merge=10_000)
    after = merged.files().toPandas()
    # every (params) group collapses within itself; the two param classes
    # stay distinct
    assert set(map(tuple, after[["expected_items", "fpr"]].drop_duplicates().to_numpy())) \
        == set(map(tuple, files_before[["expected_items", "fpr"]].drop_duplicates().to_numpy()))


def test_compact_blocks_rewrites_and_preserves(spark, fresh_index):
    merged, _ = merge_files(spark, fresh_index, max_blocks_per_file=1000,
                            max_files_per_merge=1000)
    before = [_results(spark, merged, qf) for qf in QUERIES]
    total_rows = merged.blocks().agg(F.sum("row_count")).collect()[0][0]

    compacted, stats = compact_blocks(spark, merged, max_block_rows=500)
    assert stats.blocks_after < stats.blocks_before
    assert stats.blocks_rewritten >= 2
    after = [_results(spark, compacted, qf) for qf in QUERIES]
    assert before == after
    assert compacted.blocks().agg(F.sum("row_count")).collect()[0][0] == total_rows
    assert verify_integrity(spark, compacted) == 0
    # lineage records the compaction
    ops = {r.op for r in compacted.lineage().select("op").distinct().collect()}
    assert "compact" in ops


def test_vacuum_removes_superseded_dirs(spark, fresh_index):
    merged, _ = merge_files(spark, fresh_index, max_blocks_per_file=1000,
                            max_files_per_merge=1000)
    compacted, stats = compact_blocks(spark, merged, max_block_rows=500)
    assert stats.blocks_rewritten > 0
    removed = vacuum(compacted)
    # every rewritten source block dir is now unreferenced and removed
    assert removed == stats.blocks_rewritten
    # queries still work over the vacuumed index
    assert _results(spark, compacted, QUERIES[0])
    assert verify_integrity(spark, compacted) == 0
    # second vacuum is a no-op
    assert vacuum(compacted) == 0


def test_expire_blocks_minmax(spark, tmp_root):
    """TTL-style expiry by zone-map predicate (M9, README.md:283-287):
    blocks wholly inside the expired range drop; queries no longer see
    their rows."""
    pdf = generate_pdf(N_ROWS)
    pdf["age_days"] = pdf.index % 400  # deterministic "age"
    df = spark.createDataFrame(pdf)
    cfg = IndexConfig(**{
        **CFG.__dict__,
        "minmax_fields": ("age_days",),
        "block_expr": "age_days",  # cluster blocks by age -> tight zone maps
        "max_block_rows": 50,
    })
    idx = build_index(spark, df, tmp_root, cfg)

    from bloomsearch_spark.query import compile_prefilter

    expired_pred = compile_prefilter(MinMax("age_days", Between(300, 400)))
    # only expire blocks whose WHOLE range is expired (safe TTL)
    whole = F.col("minmax_min").getItem("age_days") >= 300
    live, stats = expire_blocks(spark, idx, expired_pred & whole)
    assert stats.blocks_after < stats.blocks_before

    q = new_query().build()  # match-all
    remaining = search(spark, live, q).toPandas()
    assert remaining["age_days"].max() < 300
    assert len(remaining) == int((pdf["age_days"] < 300).sum())
    ops = {r.op for r in live.lineage().select("op").distinct().collect()}
    assert "expire" in ops
    # expired dirs become vacuumable
    assert vacuum(live) == stats.blocks_before - stats.blocks_after


def test_mixed_codec_compact_consolidates(spark, tmp_root):
    """Blocks written under different codecs consolidate into the final
    config's codec (mixed-codec merge, bloom_tree_engine_test.go:1530-1663)."""
    import glob
    import os

    import pyarrow.parquet as pq

    df = generate_df(spark, N_ROWS)
    h1 = df.filter(F.xxhash64("commit") % 2 == 0)
    h2 = df.subtract(h1)
    build_index(spark, h1, tmp_root, CFG)  # snappy
    cfg_zstd = IndexConfig(**{**CFG.__dict__, "compression": "zstd"})
    idx = build_index(spark, h2, tmp_root, cfg_zstd, mode="append")

    def codecs(index):
        out = set()
        for r in index.blocks().select("data_path").collect():
            f = glob.glob(os.path.join(index.data_dir, r.data_path, "*.parquet"))[0]
            md = pq.ParquetFile(f).metadata
            out.add(md.row_group(0).column(0).compression)
        return out

    assert len(codecs(idx)) == 2  # genuinely mixed before compaction
    before = [_results(spark, idx, qf) for qf in QUERIES]
    merged, _ = merge_files(spark, idx, max_blocks_per_file=1000,
                            max_files_per_merge=1000)
    compacted, stats = compact_blocks(spark, merged, max_block_rows=2000)
    assert stats.blocks_rewritten > 0
    vacuum(compacted)
    # all rewritten blocks now use the final config codec (zstd)
    assert codecs(compacted) <= {"ZSTD"}
    after = [_results(spark, compacted, qf) for qf in QUERIES]
    assert before == after
    assert verify_integrity(spark, compacted) == 0


def test_merge_byte_cap(spark, fresh_index):
    """MaxFileSize analog: a tiny byte cap forbids large merge groups."""
    merged, st = merge_files(spark, fresh_index, max_blocks_per_file=10_000,
                             max_files_per_merge=10_000, max_file_bytes=1)
    assert st.groups_merged == 0  # nothing fits under 1 byte
    big, st2 = merge_files(spark, fresh_index, max_blocks_per_file=10_000,
                           max_files_per_merge=10_000, max_file_bytes=10**12)
    assert st2.groups_merged >= 1


def test_append_then_merge_roundtrip(spark, tmp_root):
    """Incremental ingest (append) then compaction — the reference's
    steady-state loop (ingest -> flush -> merge)."""
    df = generate_df(spark, N_ROWS)
    h1 = df.filter(F.xxhash64("commit") % 2 == 0)
    h2 = df.subtract(h1)
    build_index(spark, h1, tmp_root, CFG)
    idx = build_index(spark, h2, tmp_root, CFG, mode="append")
    assert idx.blocks().agg(F.sum("row_count")).collect()[0][0] == N_ROWS

    before = [_results(spark, idx, qf) for qf in QUERIES]
    merged, stats = merge_files(spark, idx, max_blocks_per_file=1000,
                                max_files_per_merge=1000)
    assert stats.files_after < stats.files_before
    after = [_results(spark, merged, qf) for qf in QUERIES]
    assert before == after
    assert verify_integrity(spark, merged) == 0


def test_distributed_planner_matches_local_1m(spark):
    """VERDICT r02 item 6: merge planning runs per param-group on executors
    (driver never holds the manifest).  On a synthetic 1M-row block
    manifest the distributed plan must equal the whole-frame pandas plan
    EXACTLY, and the plan must be deterministic under input-row shuffling
    (file_id/block_id sort tiebreakers)."""
    import numpy as np
    import pandas as pd

    from bloomsearch_spark.plans.merge import _plan_mapping_df, plan_block_merge

    n = 1_000_000
    rng = np.random.RandomState(7)
    idx = np.arange(n)
    pdf = pd.DataFrame(
        {
            "file_id": np.char.add("f", (idx // 64).astype(str)).astype(object),
            "block_id": np.char.add("b", idx.astype(str)).astype(object),
            "partition_id": np.char.add("p", ((idx // 64) % 6).astype(str)).astype(object),
            "row_count": rng.randint(1, 600, n).astype("int64"),
            "expected_items": np.full(n, 1000, dtype="int64"),
            "fpr": np.full(n, 0.01),
        }
    )
    local = plan_block_merge(pdf, 1000)
    # determinism: same plan from a shuffled frame (150k slice keeps the
    # check cheap; the property is per-group, slice size is irrelevant)
    sl = pdf.iloc[:150_000]
    local2 = plan_block_merge(
        sl.sample(frac=1.0, random_state=3).reset_index(drop=True), 1000
    )
    assert plan_block_merge(sl, 1000) == local2

    # the 1M-row frame crosses Python <-> JVM through Arrow (row-by-row
    # pickling spent about a minute on it)
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(arrow, None)
    spark.conf.set(arrow, "true")
    try:
        dist = _plan_mapping_df(
            spark.createDataFrame(pdf).repartition(32),
            ["file_id", "partition_id", "expected_items", "fpr"],
            plan_block_merge,
            "block_id, merged",
            max_block_rows=1000,
        ).toPandas()
    finally:
        if prev is None:
            spark.conf.unset(arrow)
        else:
            spark.conf.set(arrow, prev)
    assert len(local) > 100_000  # the synthetic shape actually merges
    assert dict(zip(dist["block_id"], dist["merged"])) == local


def test_maintain_one_call_housekeeping(spark, tmp_root):
    """maintain(): merge + compact + fold + retention-aware vacuum in one
    call, query results identical before and after, stats dict honest."""
    from bloomsearch_spark import BloomIndex, maintain

    df = generate_df(spark, N_ROWS)
    build_index(spark, df, tmp_root, CFG)
    for i, seed in enumerate((3, 5)):  # accumulate segments to fold
        build_index(
            spark, generate_df(spark, 300, seed=seed).coalesce(1), tmp_root,
            CFG, mode="append", source_desc=f"a{i}",
        )
    before = [_results(spark, BloomIndex.load(spark, tmp_root), qf)
              for qf in QUERIES]
    files_before = BloomIndex.load(spark, tmp_root).files().count()

    out = maintain(
        spark, tmp_root,
        max_blocks_per_file=1000, max_files_per_merge=1000,
        compact_rows=500, fold_threshold=2,
        run_vacuum=True, retain_versions=1, staging_ttl=0,
    )
    assert out["files_merged"] > 0
    assert out["blocks_rewritten"] > 0
    # compaction's commit IS a folded-output segment — no fold needed
    assert out["folded"] is False
    assert len(BloomIndex.load(spark, tmp_root).table_refs()["blocks"]) == 1
    assert out["meta_dirs_removed"] > 0
    assert out["data_dirs_removed"] == 0  # retention keeps the rewrites
    idx = BloomIndex.load(spark, tmp_root)
    assert idx.files().count() < files_before
    after = [_results(spark, idx, qf) for qf in QUERIES]
    assert before == after
    assert verify_integrity(spark, idx) == 0

    # fresh appends re-fragment the segment list; a second maintain folds
    # it and (no retention now) reclaims the superseded data dirs
    for i, seed in enumerate((7, 11)):
        build_index(
            spark, generate_df(spark, 200, seed=seed).coalesce(1), tmp_root,
            CFG, mode="append", source_desc=f"b{i}",
        )
    exp_now = [_results(spark, BloomIndex.load(spark, tmp_root), qf)
               for qf in QUERIES]
    # max_files_per_merge=1 keeps the merge a no-op: the fold branch is
    # what must consolidate the segment list (a merge commit would have
    # folded it as a side effect)
    out2 = maintain(
        spark, tmp_root, max_files_per_merge=1, fold_threshold=2,
        run_vacuum=True, staging_ttl=0,
    )
    assert out2["files_merged"] == 0
    assert out2["folded"] is True
    assert out2["data_dirs_removed"] > 0  # pass-1 rewrites now unretained
    idx2 = BloomIndex.load(spark, tmp_root)
    assert len(idx2.table_refs()["blocks"]) == 1
    assert [_results(spark, idx2, qf) for qf in QUERIES] == exp_now
    assert verify_integrity(spark, idx2) == 0


def test_maintain_skips_compaction_on_external_index(spark, tmp_path):
    """compact_rows on a zero-copy external index must SKIP (recorded in
    the stats) rather than abort the remaining housekeeping steps after
    merge may already have committed."""
    from bloomsearch_spark import BloomIndex, build_external_index, maintain

    src = str(tmp_path / "src.parquet")
    generate_df(spark, 400).coalesce(1).write.mode("overwrite").parquet(src)
    root = str(tmp_path / "xroot")
    build_external_index(
        spark, src, root, IndexConfig(indexed_fields=("content",))
    )
    out = maintain(
        spark, root, compact_rows=500, run_vacuum=True, staging_ttl=0
    )
    assert out["compact_skipped"] is True
    assert out["blocks_rewritten"] == 0
    # the steps after the skip still ran (vacuum returned a count)
    assert out["data_dirs_removed"] == 0  # external data is caller-owned
    assert BloomIndex.load(spark, root).meta().get("external")


def test_optimize_zorder_tightens_minmax_pruning(spark, tmp_root):
    """OPTIMIZE ZORDER (r06): after the layout rewrite, a minmax range
    prefilter on EITHER z-ordered column prunes to a small block subset
    (pre-rewrite every block spans ~the whole domain), and the row set
    is bit-identical."""
    from bloomsearch_spark import Between, MinMax, optimize_zorder

    n = 20_000
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 7919) % n).alias("a"),
        ((F.col("id") * 104729) % n).alias("b"),
        F.concat(F.lit("tok"), (F.col("id") % 97)).alias("text"),
    )
    cfg = IndexConfig(
        indexed_fields=("text",),
        partition_expr="''",
        minmax_fields=("a", "b"),
        max_block_rows=500,
        blocks_per_file=4,
    )
    idx = build_index(spark, df, tmp_root, cfg)

    def prefilter_blocks(ix, col):
        q = new_query().match_prefilter(MinMax(col, Between(100, 300))).build()
        out, st = search(spark, ix, q, with_stats=True)
        rows = out.count()
        st.finish()
        return st.blocks_after_prefilter, rows

    before_a, _ = prefilter_blocks(idx, "a")
    total_blocks = idx.blocks().count()
    assert before_a > total_blocks * 0.8  # random layout: no pruning

    out, stats = optimize_zorder(spark, idx, ["a", "b"], bits=8)
    assert stats.blocks_before == total_blocks
    after_a, _ = prefilter_blocks(out, "a")
    after_b, _ = prefilter_blocks(out, "b")
    assert after_a <= total_blocks * 0.35, (after_a, total_blocks)
    assert after_b <= total_blocks * 0.35, (after_b, total_blocks)

    # rows bit-identical (same ids, same derived values)
    got = search(spark, out, new_query().field("text").build())
    assert got.count() == n
    pre = {r.id for r in search(
        spark, idx, new_query().field_token("text", "tok13").build()
    ).collect()}
    post = {r.id for r in search(
        spark, out, new_query().field_token("text", "tok13").build()
    ).collect()}
    assert pre == post and len(pre) > 0
    # maintenance commit: history advances, changefeed treats it as a
    # reorganization (covered by the 'other maintenance' branch)
    assert int(out.version[1:]) == int(idx.version[1:]) + 1


def test_maintain_zorder_by(spark, tmp_root):
    """maintain(zorder_by=...) composes the layout rewrite into the
    one-call housekeeping pass; rows stay identical."""
    from bloomsearch_spark.plans.merge import maintain

    n = 5_000
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 7919) % n).alias("a"),
        F.concat(F.lit("tok"), (F.col("id") % 31)).alias("text"),
    )
    cfg = IndexConfig(
        indexed_fields=("text",), partition_expr="''",
        minmax_fields=("a",), max_block_rows=250,
    )
    build_index(spark, df, tmp_root, cfg)
    out = maintain(spark, tmp_root, zorder_by=["a"])
    assert out["zordered"] and out["blocks_rewritten"] > 0
    from bloomsearch_spark import BloomIndex

    idx = BloomIndex.load(spark, tmp_root)
    assert (
        search(spark, idx, new_query().field("text").build()).count() == n
    )


# ---------------------------------------------------------------------------
# scoped maintenance: OPTIMIZE ... WHERE (r06)


def test_optimize_zorder_where_scopes_the_rewrite(spark, tmp_root):
    """Partition-scoped ZORDER: only the matching partition's blocks are
    re-clustered (tight zone maps there), every other block passes
    through verbatim (identical dirs), and the row set is unchanged."""
    from bloomsearch_spark import BloomIndex, Eq, Partition, optimize_zorder

    n = 12_000
    df = spark.range(n).select(
        ((F.col("id") * 7919) % n).alias("a"),
        ((F.col("id") * 104729) % n).alias("b"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.concat(F.lit("tok"), (F.col("id") % 97)).alias("text"),
    )
    cfg = IndexConfig(
        indexed_fields=("text",), partition_expr="grp",
        minmax_fields=("a", "b"), max_block_rows=400, blocks_per_file=4,
    )
    idx = build_index(spark, df, tmp_root, cfg)
    before = {
        r.block_id: r.data_path
        for r in idx.blocks().select("block_id", "data_path").collect()
    }
    in_scope = {
        r.block_id
        for r in idx.blocks().filter(F.col("partition_id") == "1")
        .select("block_id").collect()
    }

    out, st = optimize_zorder(
        spark, idx, ["a", "b"], bits=8, where=Partition(Eq("1"))
    )
    assert st.blocks_rewritten == len(in_scope) < st.blocks_before
    after = {
        r.block_id: r.data_path
        for r in out.blocks().select("block_id", "data_path").collect()
    }
    # out-of-scope blocks keep their dirs; scoped blocks are all replaced
    for b, p in before.items():
        if b in in_scope:
            assert b not in after
        else:
            assert after[b] == p
    # rows identical
    assert search(spark, out, new_query().field("text").build()).count() == n
    got = search(
        spark, out,
        new_query().match_prefilter(Partition(Eq("1"))).field("text").build(),
    ).toPandas()
    assert len(got) == n // 3
    # zone maps TIGHT inside the scoped partition: a range prefilter
    # prunes most of its blocks (pre-rewrite layout is random)
    def blocks_admitted(ix, part):
        from bloomsearch_spark import PrefilterAnd

        q = new_query().match_prefilter(
            PrefilterAnd(Partition(Eq(part)), MinMax("a", Between(100, 400)))
        ).build()
        _, s = search(spark, ix, q, with_stats=True)
        s.finish()
        return s.blocks_after_prefilter

    n_part_blocks = len(in_scope)
    assert blocks_admitted(out, "1") <= n_part_blocks * 0.4
    assert blocks_admitted(out, "0") > n_part_blocks * 0.6  # untouched: loose


def test_compact_where_scopes_candidates(spark, tmp_root):
    from bloomsearch_spark import Eq, Partition

    idx = build_index(spark, generate_df(spark, N_ROWS), tmp_root, CFG)
    pdf = generate_pdf(N_ROWS)
    lang = pdf["lang"].iloc[0]
    before = {
        r.block_id: (r.partition_id, r.data_path)
        for r in idx.blocks().select(
            "block_id", "partition_id", "data_path"
        ).collect()
    }
    out, st = compact_blocks(
        spark, idx, max_block_rows=100_000, where=Partition(Eq(lang))
    )
    assert st.blocks_rewritten > 0
    after_ids = {
        r.block_id for r in out.blocks().select("block_id").collect()
    }
    # every out-of-scope block survives untouched; exactly the planner's
    # in-scope merge members disappeared into consolidated blocks
    for b, (part, _p) in before.items():
        if part != lang:
            assert b in after_ids
    in_scope_before = {b for b, (p, _) in before.items() if p == lang}
    assert len(in_scope_before - after_ids) == st.blocks_rewritten
    # row identity
    assert (
        search(spark, out, new_query().field("content").build()).count()
        == N_ROWS
    )
    got = search(
        spark, out, new_query().field_token("lang", lang).build()
    ).count()
    assert got == int((pdf["lang"] == lang).sum())
