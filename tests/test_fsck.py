"""FSCK REPAIR (plans/merge.py fsck): detect manifest blocks whose data
dirs were deleted out-of-band; repair commits a version without them so
reads work again; healthy roots are a no-op."""

import shutil

import pytest
from pyspark.sql import functions as F

from bloomsearch_spark import (
    IndexConfig,
    build_index,
    fsck,
    new_query,
    search,
)
from bloomsearch_spark.sources import fs as fsx
from bloomsearch_spark.sources.manifest import BloomIndex
from bloomsearch_spark.sources.synthetic import generate_df

CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    max_block_rows=100,
    blocks_per_file=4,
)


def test_fsck_healthy_noop(spark, tmp_root):
    df = generate_df(spark, 300)
    idx = build_index(spark, df, tmp_root, CFG)
    out, missing = fsck(spark, idx, repair=True)
    assert missing.count() == 0
    assert out.version == idx.version  # nothing committed


def test_fsck_detect_and_repair(spark, tmp_root):
    """Delete one lang's block dirs out-of-band: reads fail; fsck reports
    exactly those paths; repair makes every query answer with the
    surviving rows (deterministic survivor set => exact comparison)."""
    df = generate_df(spark, 400)
    idx = build_index(spark, df, tmp_root, CFG)
    lang = sorted(r.lang for r in df.select("lang").distinct().collect())[0]
    victims = [
        r.data_path
        for r in idx.blocks()
        .filter(F.col("partition_id") == lang)
        .select("data_path")
        .collect()
    ]
    assert victims
    for rel in victims:
        shutil.rmtree(fsx.join(idx.data_dir, rel))

    # report mode: exactly the deleted paths, no commit
    same, missing = fsck(spark, idx, repair=False)
    assert same.version == idx.version
    assert sorted(r.data_path for r in missing.collect()) == sorted(victims)

    # an unrepaired full scan fails on the missing files
    with pytest.raises(Exception):
        search(spark, idx, new_query().build()).count()

    repaired, missing2 = fsck(spark, idx, repair=True)
    assert repaired.version != idx.version
    assert sorted(r.data_path for r in missing2.collect()) == sorted(victims)
    assert repaired.blocks().filter(F.col("partition_id") == lang).count() == 0

    # a full-match query answers with exactly the surviving rows
    survivors = df.filter(F.col("lang") != lang)
    got = search(spark, repaired, new_query().build())
    assert sorted(r.path for r in got.collect()) == sorted(
        r.path for r in survivors.collect()
    )
    # history shows the repair as a maintenance commit
    ops = {r.operation for r in BloomIndex.load(spark, tmp_root).history().collect()}
    assert "fsck" in ops


def test_fsck_repair_then_maintenance_ok(spark, tmp_root):
    """After a repair, normal maintenance (fold) runs clean and the
    orphaned stats/DV refs for dead blocks prune away."""
    from bloomsearch_spark import analyze, approx_distinct_meta, fold_manifest

    df = generate_df(spark, 300)
    idx = build_index(spark, df, tmp_root, CFG)
    analyze(spark, tmp_root, ["repo"])
    idx = BloomIndex.load(spark, tmp_root)
    victim = idx.blocks().select("data_path").first()[0]
    shutil.rmtree(fsx.join(idx.data_dir, victim))
    repaired, _ = fsck(spark, idx, repair=True)
    # stats coverage survives exactly: dead block's rows dropped with it
    est = approx_distinct_meta(spark, tmp_root)
    assert est.count() == 1  # one analyzed column, full coverage over live
    fold_manifest(spark, repaired)
    assert approx_distinct_meta(spark, tmp_root).count() == 1


@pytest.mark.parametrize("repair", [False, True])
def test_fsck_leaves_nothing_cached(spark, tmp_root, repair):
    """The existence check is persisted only for the repair commit that
    reads it twice: either mode leaves the session's CacheManager as it
    found it, and the returned frame still lists the missing paths."""
    idx = build_index(spark, generate_df(spark, 300), tmp_root, CFG)
    victim = idx.blocks().select("data_path").first()[0]
    shutil.rmtree(fsx.join(idx.data_dir, victim))
    spark.catalog.clearCache()
    out, missing = fsck(spark, idx, repair=repair)
    assert (out.version != idx.version) == repair
    idx.unpersist()
    out.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert [r.data_path for r in missing.collect()] == [victim]
