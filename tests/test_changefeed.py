"""Index changefeed (r05): the index as a Structured Streaming SOURCE.

Each committed BUILD version's added rows arrive as one micro-batch;
maintenance commits (merge/fold) emit nothing; offsets are manifest
version numbers, so restart-from-checkpoint replays exactly."""

import os

import pytest
from pyspark.sql import functions as F

from bloomsearch_spark import (
    IndexConfig,
    build_index,
    fold_manifest,
    merge_files,
)
from bloomsearch_spark.sources.datasource import BloomSearchDataSource
from bloomsearch_spark.sources.manifest import BloomIndex
from bloomsearch_spark.sources.synthetic import generate_df, generate_pdf

CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    max_block_rows=100,
    blocks_per_file=4,
    sha_col="content",
)


def _drain(q):
    q.processAllAvailable()


def test_changefeed_emits_appends_not_maintenance(spark, tmp_root, tmp_path):
    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 400), tmp_root, CFG)
    build_index(
        spark, generate_df(spark, 150, seed=7).coalesce(1), tmp_root, CFG,
        mode="append", source_desc="a1",
    )

    stream = (
        spark.readStream.format("bloomsearch")
        .option("root", tmp_root)
        .option("starting_version", "earliest")
        .load()
    )
    q = (
        stream.writeStream.format("memory").queryName("feed")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        _drain(q)
        got = spark.table("feed")
        assert got.count() == 550
        # exact rows, not just counts
        exp = set(generate_pdf(400)["commit"]) | set(generate_pdf(150, seed=7)["commit"])
        assert {r.commit for r in got.select("commit").collect()} == exp

        # maintenance commits emit NOTHING
        idx = BloomIndex.load(spark, tmp_root)
        merged, _ = merge_files(spark, idx, max_blocks_per_file=1000,
                                max_files_per_merge=1000)
        fold_manifest(spark, BloomIndex.load(spark, tmp_root))
        _drain(q)
        assert spark.table("feed").count() == 550

        # a new append after maintenance arrives as its own batch
        build_index(
            spark, generate_df(spark, 60, seed=9).coalesce(1), tmp_root, CFG,
            mode="append", source_desc="a2",
        )
        _drain(q)
        assert spark.table("feed").count() == 610
    finally:
        q.stop()


def test_changefeed_checkpoint_restart_exactly_once(spark, tmp_root, tmp_path):
    """Offsets are manifest versions: a restarted query resumes from its
    checkpoint and emits only post-checkpoint commits (no duplicates)."""
    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 300), tmp_root, CFG)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_until_drained():
        q = (
            spark.readStream.format("bloomsearch").option("root", tmp_root)
            .option("starting_version", "earliest").load()
            .writeStream.format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt).start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_until_drained()
    assert spark.read.parquet(out_dir).count() == 300
    build_index(
        spark, generate_df(spark, 120, seed=3).coalesce(1), tmp_root, CFG,
        mode="append", source_desc="a1",
    )
    run_until_drained()
    got = spark.read.parquet(out_dir)
    assert got.count() == 420  # 300 + 120, nothing re-emitted
    exp = set(generate_pdf(300)["commit"]) | set(generate_pdf(120, seed=3)["commit"])
    assert {r.commit for r in got.select("commit").collect()} == exp


def test_changefeed_latest_skips_history(spark, tmp_root, tmp_path):
    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 200), tmp_root, CFG)
    stream = (
        spark.readStream.format("bloomsearch").option("root", tmp_root)
        .option("starting_version", "latest").load()
    )
    q = (
        stream.writeStream.format("memory").queryName("feed_latest")
        .option("checkpointLocation", str(tmp_path / "ckpt2")).start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("feed_latest").count() == 0  # history skipped
        build_index(
            spark, generate_df(spark, 80, seed=5).coalesce(1), tmp_root, CFG,
            mode="append", source_desc="new",
        )
        q.processAllAvailable()
        assert spark.table("feed_latest").count() == 80
    finally:
        q.stop()


def test_changefeed_rejects_external(spark, tmp_path):
    from bloomsearch_spark import build_external_index

    spark.dataSource.register(BloomSearchDataSource)
    src = str(tmp_path / "src.parquet")
    generate_df(spark, 100).coalesce(1).write.mode("overwrite").parquet(src)
    root = str(tmp_path / "xroot")
    build_external_index(
        spark, src, root, IndexConfig(indexed_fields=("content",))
    )
    # the refusal may fire at planning (start) or on the first trigger
    with pytest.raises(Exception, match="changefeed|external"):
        q = (
            spark.readStream.format("bloomsearch").option("root", root)
            .load().writeStream.format("memory").queryName("nope")
            .option("checkpointLocation", str(tmp_path / "c3")).start()
        )
        try:
            q.processAllAvailable()
            if q.exception() is not None:
                raise q.exception()
        finally:
            q.stop()


def test_changefeed_refuses_presegment_versions(tmp_root):
    """r05 review: a pre-segment (legacy) version's blocks.parquet is a
    FULL SNAPSHOT — treating it as a delta would re-emit the whole index
    per legacy version; the reader refuses loudly instead."""
    from pyspark.sql.types import StructType, StructField, StringType

    from bloomsearch_spark.sources import manifest as mf
    from bloomsearch_spark.streaming.changefeed import BloomSearchStreamReader

    mf.write_meta(
        os.path.join(tmp_root, "manifest", "v00000001"), CFG,
        extra={"source_schema": StructType(
            [StructField("content", StringType())]
        ).json()},  # NO "tables" key = legacy snapshot manifest
    )
    mf.commit_version(tmp_root, "v00000001")
    r = BloomSearchStreamReader(
        {"root": tmp_root},
        StructType([StructField("content", StringType())]),
    )
    with pytest.raises(RuntimeError, match="segmented manifest"):
        r.partitions({"version": 0}, {"version": 1})


def test_changefeed_commit_metadata_column(spark, tmp_root, tmp_path):
    """commit_metadata appends a _commit_version provenance column — each
    row carries the manifest version number of the BUILD commit that added
    it (Delta CDF's _commit_version analog)."""
    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 200), tmp_root, CFG)
    build_index(
        spark, generate_df(spark, 90, seed=7).coalesce(1), tmp_root, CFG,
        mode="append", source_desc="a1",
    )
    stream = (
        spark.readStream.format("bloomsearch").option("root", tmp_root)
        .option("starting_version", "earliest")
        .option("commit_metadata", "true").load()
    )
    assert stream.schema["_commit_version"].dataType.simpleString() == "bigint"
    q = (
        stream.writeStream.format("memory").queryName("feed_meta")
        .option("checkpointLocation", str(tmp_path / "ckpt_meta")).start()
    )
    try:
        _drain(q)
        got = spark.table("feed_meta")
        by_v = {
            r._commit_version: r.n
            for r in got.groupBy("_commit_version").agg(
                F.count("*").alias("n")
            ).collect()
        }
        assert by_v == {1: 200, 2: 90}
        # _commit_timestamp carries each version meta's created_at (to us)
        import json as _json
        from bloomsearch_spark.sources import fs as fsx

        metas = {
            n: _json.loads(fsx.read_bytes(
                os.path.join(tmp_root, "manifest", f"v{n:08d}", "meta.json")
            ))["created_at"]
            for n in (1, 2)
        }
        for r in got.select("_commit_version", "_commit_timestamp").distinct().collect():
            assert abs(r._commit_timestamp.timestamp() - metas[r._commit_version]) < 1e-3
        # the data columns are intact alongside the metadata column
        exp = set(generate_pdf(200)["commit"]) | set(generate_pdf(90, seed=7)["commit"])
        assert {r.commit for r in got.select("commit").collect()} == exp
    finally:
        q.stop()

    # batch reads refuse the stream-only option loudly
    with pytest.raises(Exception, match="readStream"):
        (
            spark.read.format("bloomsearch").option("root", tmp_root)
            .option("commit_metadata", "true").load().count()
        )


def test_changefeed_max_versions_per_trigger(spark, tmp_root):
    """max_versions_per_trigger bounds the backlog admitted per
    micro-batch (maxFilesPerTrigger analog) — driven through the reader's
    offset protocol directly: three committed builds, cap 1, three
    successive latestOffset calls each admit exactly one version."""
    from bloomsearch_spark.streaming.changefeed import BloomSearchStreamReader

    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 100), tmp_root, CFG)
    for i, seed in enumerate((3, 5)):
        build_index(
            spark, generate_df(spark, 40, seed=seed).coalesce(1), tmp_root,
            CFG, mode="append", source_desc=f"a{i}",
        )
    schema = (
        spark.read.format("bloomsearch").option("root", tmp_root).load().schema
    )
    r = BloomSearchStreamReader(
        {"root": tmp_root, "max_versions_per_trigger": "1"}, schema
    )
    offs = [r.initialOffset()["version"]]
    for _ in range(4):
        o = r.latestOffset()["version"]
        r.partitions({"version": offs[-1]}, {"version": o})
        offs.append(o)
    assert offs == [0, 1, 2, 3, 3]  # one version per trigger, then idle

    # uncapped reader admits the whole backlog at once
    r2 = BloomSearchStreamReader({"root": tmp_root}, schema)
    assert r2.latestOffset()["version"] == 3

    # rows still arrive exactly once across the capped triggers
    counts = []
    for lo, hi in zip(offs, offs[1:]):
        parts = r.partitions({"version": lo}, {"version": hi})
        counts.append(
            sum(sum(b.num_rows for b in r.read(p)) for p in parts)
        )
    assert counts == [100, 40, 40, 0]


def test_batch_changes_read(spark, tmp_root):
    """Batch 'table changes' read: .option('changes_from', N) returns the
    rows added by BUILD commits in (N, changes_to] — maintenance commits
    contribute nothing; shares the stream planner so batch and stream
    cannot disagree."""
    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 200), tmp_root, CFG)          # v1
    fold_manifest(spark, BloomIndex.load(spark, tmp_root))              # v2
    build_index(
        spark, generate_df(spark, 70, seed=4).coalesce(1), tmp_root,
        CFG, mode="append", source_desc="a1",
    )                                                                   # v3

    ch = (
        spark.read.format("bloomsearch").option("root", tmp_root)
        .option("changes_from", "1").option("commit_metadata", "true")
        .load()
    )
    rows = ch.collect()
    assert len(rows) == 70  # fold (v2) adds nothing; v3's append only
    assert {r._commit_version for r in rows} == {3}
    assert {r.commit for r in rows} == set(generate_pdf(70, seed=4)["commit"])

    # full history from zero = the whole table, attributed per commit
    full = (
        spark.read.format("bloomsearch").option("root", tmp_root)
        .option("changes_from", "0").option("commit_metadata", "true")
        .load()
    )
    by_v = {r._commit_version: r.n for r in
            full.groupBy("_commit_version").agg(F.count("*").alias("n")).collect()}
    assert by_v == {1: 200, 3: 70}

    # bounds validation + option hygiene
    with pytest.raises(Exception, match="committed history"):
        (spark.read.format("bloomsearch").option("root", tmp_root)
         .option("changes_from", "7").load().count())
    with pytest.raises(Exception, match="changes read"):
        (spark.read.format("bloomsearch").option("root", tmp_root)
         .option("changes_from", "0").option("token", "x").load().count())


def test_changefeed_vacuumed_version_fails_loudly(spark, tmp_root):
    """A changefeed lagging behind vacuum_manifest must fail LOUDLY
    naming the missing version — never a silent gap in the feed."""
    from bloomsearch_spark import vacuum_manifest
    from bloomsearch_spark.streaming.changefeed import BloomSearchStreamReader

    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 120), tmp_root, CFG)
    build_index(
        spark, generate_df(spark, 50, seed=2).coalesce(1), tmp_root, CFG,
        mode="append", source_desc="a1",
    )
    schema = (
        spark.read.format("bloomsearch").option("root", tmp_root).load().schema
    )
    fold_manifest(spark, BloomIndex.load(spark, tmp_root))
    vacuum_manifest(BloomIndex.load(spark, tmp_root), staging_ttl=0)

    r = BloomSearchStreamReader({"root": tmp_root}, schema)
    cur = r.latestOffset()["version"]
    with pytest.raises(RuntimeError, match="vacuum"):
        r.partitions({"version": 0}, {"version": cur})


def test_changefeed_preserves_float_nan(spark, tmp_path):
    """The feed's read() projects arrow-side; the former pandas reindex
    round-trip corrupted stored float NaN to NULL.  Exercised through the
    batch table-changes surface, which wraps the same stream planner."""
    spark.dataSource.register(BloomSearchDataSource)
    root = str(tmp_path / "nanfeed")
    rows = [(i, float(i) if i % 5 else float("nan")) for i in range(40)]
    rows += [(100, None)]
    df = spark.createDataFrame(rows, "doc_id long, fval double")
    cfg = IndexConfig(indexed_fields=(), partition_expr="''",
                      max_block_rows=16, blocks_per_file=2)
    build_index(spark, df, root, cfg)
    got = (
        spark.read.format("bloomsearch").option("root", root)
        .option("changes_from", "0").load()
    )
    g = sorted((r.doc_id, str(r.fval)) for r in got.collect())
    e = sorted((r.doc_id, str(r.fval)) for r in df.collect())
    assert g == e
    assert sum(1 for _, v in g if v == "nan") == 8
    assert sum(1 for _, v in g if v == "None") == 1


def test_changefeed_to_sink_replication(spark, tmp_root, tmp_path):
    """The two streaming surfaces COMPOSE into index-to-index replication
    with no code in between: ``readStream`` over index A's changefeed
    piped straight into ``writeStream.format("bloomsearch")`` on index B.
    Each source commit becomes one replica commit; maintenance on A
    (fold) replicates nothing; a later append flows through the running
    query; the replica is a fully queryable index with identical search
    results."""
    from bloomsearch_spark import new_query, search

    spark.dataSource.register(BloomSearchDataSource)
    replica = str(tmp_path / "replica")
    build_index(spark, generate_df(spark, 300), tmp_root, CFG)
    build_index(
        spark, generate_df(spark, 100, seed=5).coalesce(1), tmp_root, CFG,
        mode="append", source_desc="a1",
    )
    q = (
        spark.readStream.format("bloomsearch")
        .option("root", tmp_root).option("starting_version", "earliest").load()
        .writeStream.format("bloomsearch")
        .option("indexed_fields", "repo,path,lang,content")
        .option("partition_col", "lang")
        .option("max_block_rows", "100")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start(replica)  # positional path = root
    )
    try:
        q.processAllAvailable()
        assert q.exception() is None
        ra = BloomIndex.load(spark, replica)
        assert ra.blocks().agg(F.sum("row_count")).collect()[0][0] == 400

        # maintenance on A replicates NOTHING; a fresh append flows through
        fold_manifest(spark, BloomIndex.load(spark, tmp_root))
        build_index(
            spark, generate_df(spark, 80, seed=11).coalesce(1), tmp_root, CFG,
            mode="append", source_desc="a2",
        )
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()
    rb = BloomIndex.load(spark, replica)
    assert rb.blocks().agg(F.sum("row_count")).collect()[0][0] == 480
    qy = new_query().token("needle_alpha").build()
    src_idx = BloomIndex.load(spark, tmp_root)
    exp = {r.commit for r in search(spark, src_idx, qy).collect()}
    assert {r.commit for r in search(spark, rb, qy).collect()} == exp


def test_changefeed_exactly_once_under_racing_appends(spark, tmp_root, tmp_path):
    """Exactly-once with commits LANDING WHILE THE QUERY RUNS: two
    appender threads race 3 commits each (plus a mid-race fold) against a
    live changefeed.  publish_commit totally orders the versions, so the
    drained feed must hold every appended row exactly once — per-commit
    multiplicity checked, not just the total."""
    import threading
    from collections import Counter

    from bloomsearch_spark import fold_manifest
    from bloomsearch_spark.sources.manifest import CommitConflict

    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 100), tmp_root, CFG)
    q = (
        spark.readStream.format("bloomsearch").option("root", tmp_root)
        .option("starting_version", "earliest").load()
        .writeStream.format("memory").queryName("race_feed")
        .option("checkpointLocation", str(tmp_path / "ckpt")).start()
    )
    errors: list[Exception] = []

    def appender(tid: int) -> None:
        try:
            for j in range(3):
                build_index(
                    spark,
                    generate_df(spark, 30, seed=100 * tid + j).coalesce(1),
                    tmp_root, CFG, mode="append",
                    source_desc=f"racer-{tid}-{j}",
                )
        except Exception as e:  # surfaced below — a swallowed thread
            errors.append(e)    # failure would pass the final count
    try:
        threads = [
            threading.Thread(target=appender, args=(t,)) for t in (1, 2)
        ]
        for t in threads:
            t.start()
        try:  # maintenance racing the appenders: allowed to lose the CAS
            fold_manifest(spark, BloomIndex.load(spark, tmp_root))
        except CommitConflict:
            pass
        for t in threads:
            t.join()
        assert not errors, errors
        q.processAllAvailable()
        got = Counter(
            r.commit for r in spark.table("race_feed").select("commit").collect()
        )
        exp = Counter(generate_pdf(100)["commit"])
        for t in (1, 2):
            for j in range(3):
                exp.update(generate_pdf(30, seed=100 * t + j)["commit"])
        assert got == exp  # every commit's rows exactly once
    finally:
        q.stop()


def test_changefeed_lagging_within_retention_survives_vacuum(spark, tmp_root):
    """r05: vacuum retention is what makes a LAGGING changefeed safe —
    with retain_versions covering the feed's lag, the superseded version
    metas it still needs survive vacuum_manifest and the feed drains the
    missed commits exactly; past the window it fails loudly (never a
    silent gap)."""
    from bloomsearch_spark import vacuum_manifest
    from bloomsearch_spark.streaming.changefeed import BloomSearchStreamReader

    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 100), tmp_root, CFG)           # v1
    for i, seed in enumerate((3, 5)):
        build_index(
            spark, generate_df(spark, 40, seed=seed).coalesce(1), tmp_root,
            CFG, mode="append", source_desc=f"a{i}",
        )                                                                # v2 v3
    schema = (
        spark.read.format("bloomsearch").option("root", tmp_root).load().schema
    )
    fold_manifest(spark, BloomIndex.load(spark, tmp_root))               # v4
    # retention covers a feed lagging at offset 1 (needs v1..v3 metas)
    vacuum_manifest(
        BloomIndex.load(spark, tmp_root), staging_ttl=0, retain_versions=3
    )
    r = BloomSearchStreamReader({"root": tmp_root}, schema)
    cur = r.latestOffset()["version"]
    parts = r.partitions({"version": 1}, {"version": cur})
    rows = sum(sum(b.num_rows for b in r.read(p)) for p in parts)
    assert rows == 80  # v2+v3 appends exactly; the fold emits nothing

    # drop retention: the lagging offset's versions go, loud refusal
    vacuum_manifest(BloomIndex.load(spark, tmp_root), staging_ttl=0)
    r2 = BloomSearchStreamReader({"root": tmp_root}, schema)
    with pytest.raises(RuntimeError, match="vacuum"):
        r2.partitions({"version": 1}, {"version": cur})


def test_batch_changes_empty_range_yields_zero_rows(spark, tmp_root):
    """changes_from == CURRENT ("everything I've seen") and
    maintenance-only ranges plan ZERO partitions — Spark still schedules
    one task with a None partition; that must be 0 rows, not a worker
    AttributeError (found by probing, r05)."""
    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 120), tmp_root, CFG)           # v1

    def changes_from(n):
        return (
            spark.read.format("bloomsearch").option("root", tmp_root)
            .option("changes_from", str(n)).load().count()
        )

    assert changes_from(1) == 0  # caught up: empty range
    fold_manifest(spark, BloomIndex.load(spark, tmp_root))               # v2
    assert changes_from(1) == 0  # maintenance-only range
    assert changes_from(0) == 120  # sanity: the build commit still flows


def test_changefeed_overwrite_refuses_as_delta_allows_as_refresh(
    spark, tmp_root, tmp_path
):
    """An OVERWRITE commit replayed as a delta would silently leave a
    replica with old + new rows (the feed has no delete/truncate
    events): a feed spanning it must refuse loudly (Delta CDF refuses
    non-append changes the same way).  Starting EXACTLY at the overwrite
    is the full-refresh opt-in — the rewritten table arrives as the
    first batch, for streams and batch changes reads alike."""
    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 100), tmp_root, CFG)            # v1
    build_index(spark, generate_df(spark, 40, seed=7), tmp_root, CFG)     # v2 OVERWRITE

    def changes(from_v):
        return (
            spark.read.format("bloomsearch").option("root", tmp_root)
            .option("changes_from", str(from_v)).load()
        )

    with pytest.raises(Exception, match="OVERWRITE"):
        changes(0).count()
    # batch opt-in: start at the overwrite = the rewritten table
    rows = changes(1).collect()
    assert {r.commit for r in rows} == set(generate_pdf(40, seed=7)["commit"])

    # stream spanning the overwrite: the refusal surfaces on the query
    q = (
        spark.readStream.format("bloomsearch").option("root", tmp_root)
        .option("starting_version", "earliest").load()
        .writeStream.format("memory").queryName("ow_feed")
        .option("checkpointLocation", str(tmp_path / "c1")).start()
    )
    with pytest.raises(Exception, match="OVERWRITE"):
        try:
            q.processAllAvailable()
            if q.exception() is not None:
                raise q.exception()
        finally:
            q.stop()

    # stream opt-in: fresh checkpoint starting exactly at the overwrite
    q2 = (
        spark.readStream.format("bloomsearch").option("root", tmp_root)
        .option("starting_version", "1").load()
        .writeStream.format("memory").queryName("ow_feed2")
        .option("checkpointLocation", str(tmp_path / "c2")).start()
    )
    try:
        q2.processAllAvailable()
        assert q2.exception() is None
        got = spark.table("ow_feed2")
        assert {r.commit for r in got.collect()} == set(
            generate_pdf(40, seed=7)["commit"]
        )
    finally:
        q2.stop()


def test_changefeed_expire_refuses_silent_row_loss(spark, tmp_root):
    """expire_blocks DELETES rows but commits as maintenance — a feed
    skipping it silently would leave a replica keeping the expired rows
    forever (measured: feed 200 rows vs snapshot 50).  The feed must
    refuse at the expire version; tailing from AFTER it (post-re-seed)
    works."""
    from bloomsearch_spark import expire_blocks

    spark.dataSource.register(BloomSearchDataSource)
    cfg = IndexConfig(
        indexed_fields=("content",), partition_expr="''",
        minmax_fields=("doc_id",), block_expr="doc_id", max_block_rows=20,
    )
    df = generate_df(spark, 200).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    build_index(spark, df, tmp_root, cfg)                              # v1
    idx = BloomIndex.load(spark, tmp_root)
    _, stats = expire_blocks(
        spark, idx, F.col("minmax_min").getItem("doc_id") >= 100
    )                                                                  # v2
    assert stats.blocks_after < stats.blocks_before

    def changes(from_v):
        return (
            spark.read.format("bloomsearch").option("root", tmp_root)
            .option("changes_from", str(from_v)).load()
        )

    with pytest.raises(Exception, match="EXPIRE"):
        changes(0).count()
    # post-re-seed tail: the expire version is outside the range
    post = generate_df(spark, 30, seed=3).coalesce(1).withColumn(
        "doc_id", F.monotonically_increasing_id() + 1000
    )
    build_index(spark, post, tmp_root, cfg, mode="append",
                source_desc="post")                                    # v3
    assert changes(2).count() == 30


def test_change_events_overwrite_delete_insert(spark, tmp_root, tmp_path):
    """change_events CDC mode: an OVERWRITE emits delete-the-old-table +
    insert-the-new instead of refusing; applying the events reproduces
    the snapshot exactly (Delta CDF change-row analog)."""
    spark.dataSource.register(BloomSearchDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    build_index(spark, generate_df(spark, 100), tmp_root, CFG)            # v1
    build_index(spark, generate_df(spark, 40, seed=7), tmp_root, CFG)     # v2 OVERWRITE

    ev = (
        spark.read.format("bloomsearch").option("root", tmp_root)
        .option("changes_from", "0").option("change_events", "true")
        .option("commit_metadata", "true").load()
    )
    assert ev.schema["_change_type"].dataType.simpleString() == "string"
    rows = ev.collect()
    by = {}
    for r in rows:
        by.setdefault((r._commit_version, r._change_type), []).append(r.commit)
    old = set(generate_pdf(100)["commit"])
    new = set(generate_pdf(40, seed=7)["commit"])
    assert set(by[(1, "insert")]) == old and len(by[(1, "insert")]) == 100
    assert set(by[(2, "delete")]) == old and len(by[(2, "delete")]) == 100
    assert set(by[(2, "insert")]) == new and len(by[(2, "insert")]) == 40
    # replaying the event log reproduces the snapshot
    state: set = set()
    for r in sorted(rows, key=lambda r: (r._commit_version, r._change_type != "delete")):
        (state.discard if r._change_type == "delete" else state.add)(r.commit)
    snap = (
        spark.read.format("bloomsearch").option("root", tmp_root).load()
        .select("commit").collect()
    )
    assert state == {r.commit for r in snap}

    # the streaming surface accepts the option too (same planner)
    q = (
        spark.readStream.format("bloomsearch").option("root", tmp_root)
        .option("starting_version", "earliest")
        .option("change_events", "true").load()
        .writeStream.format("memory").queryName("ev_feed")
        .option("checkpointLocation", str(tmp_path / "ckpt")).start()
    )
    try:
        q.processAllAvailable()
        assert q.exception() is None
        got = spark.table("ev_feed")
        assert got.count() == 240  # 100 ins + 100 del + 40 ins
        assert {r._change_type for r in got.select("_change_type").distinct().collect()} \
            == {"insert", "delete"}
    finally:
        q.stop()

    # snapshot batch reads refuse the stream-only option
    with pytest.raises(Exception, match="changefeed"):
        (
            spark.read.format("bloomsearch").option("root", tmp_root)
            .option("change_events", "true").load().count()
        )


def test_change_events_expire_emits_deletes(spark, tmp_root):
    """change_events across an EXPIRE: the expired blocks' rows arrive as
    delete events; applying the log matches the post-expire snapshot."""
    from bloomsearch_spark import expire_blocks

    spark.dataSource.register(BloomSearchDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    cfg = IndexConfig(
        indexed_fields=("content",), partition_expr="''",
        minmax_fields=("doc_id",), block_expr="doc_id", max_block_rows=20,
    )
    df = generate_df(spark, 200).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    build_index(spark, df, tmp_root, cfg)                                 # v1
    expire_blocks(
        spark, BloomIndex.load(spark, tmp_root),
        F.col("minmax_min").getItem("doc_id") >= 100,
    )                                                                     # v2
    ev = (
        spark.read.format("bloomsearch").option("root", tmp_root)
        .option("changes_from", "0").option("change_events", "true").load()
    )
    ins = {r.doc_id for r in ev.filter("_change_type = 'insert'").collect()}
    dels = {r.doc_id for r in ev.filter("_change_type = 'delete'").collect()}
    assert len(ins) == 200
    snap = {
        r.doc_id
        for r in spark.read.format("bloomsearch").option("root", tmp_root)
        .load().select("doc_id").collect()
    }
    assert ins - dels == snap  # applying the log == the live table
    assert dels == ins - snap  # deletes are exactly the expired rows


def test_changefeed_vacuumed_row_source_fails_with_guidance(spark, tmp_root):
    """A lagging consumer whose historical row sources (old inserts or a
    deleting commit's removed dirs) were DATA-vacuumed must get the
    lag/retention diagnosis, never a bare FileNotFound or — worse —
    silent empty batches."""
    from bloomsearch_spark import vacuum

    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 100), tmp_root, CFG)            # v1
    build_index(spark, generate_df(spark, 40, seed=7), tmp_root, CFG)     # v2 OVERWRITE
    vacuum(BloomIndex.load(spark, tmp_root))  # reclaims v1's block dirs
    with pytest.raises(Exception, match="vacuumed while this consumer lagged"):
        (
            spark.read.format("bloomsearch").option("root", tmp_root)
            .option("changes_from", "0").option("change_events", "true")
            .load().collect()
        )


def test_changefeed_max_blocks_per_trigger_splits_one_commit(spark, tmp_root):
    """r06: max_blocks_per_trigger with composite (version, cursor)
    offsets — ONE giant backfill commit streams as bounded micro-batches
    (Delta maxBytesPerTrigger analog), a fresh reader resumes MID-commit
    from a checkpointed cursor, and the union is exact."""
    from bloomsearch_spark.streaming.changefeed import BloomSearchStreamReader

    spark.dataSource.register(BloomSearchDataSource)
    cfg = IndexConfig(
        indexed_fields=("content",), partition_expr="''", max_block_rows=10,
        blocks_per_file=4,
    )
    build_index(spark, generate_df(spark, 120).coalesce(1), tmp_root, cfg)  # 12 blocks
    schema = (
        spark.read.format("bloomsearch").option("root", tmp_root).load().schema
    )
    r = BloomSearchStreamReader(
        {"root": tmp_root, "max_blocks_per_trigger": "5", "blocks_per_task": "2"},
        schema,
    )
    offs = [r.initialOffset()]
    for _ in range(4):
        offs.append(r.latestOffset())
    assert [(o["version"], o["cursor"]) for o in offs] == [
        (0, -1), (1, 5), (1, 10), (1, -1), (1, -1)  # 5+5+2 blocks, then idle
    ]
    batches = []
    for lo, hi in zip(offs, offs[1:3 + 1]):
        parts = r.partitions(lo, hi)
        batches.append(
            [c for p in parts for b in r.read(p) for c in b.column("commit").to_pylist()]
        )
    assert [len(b) for b in batches] == [50, 50, 20]  # 10 rows/block
    assert set().union(*map(set, batches)) == set(generate_pdf(120)["commit"])
    assert sum(map(len, batches)) == 120  # exactly once across triggers

    # restart MID-commit: a FRESH reader (new instance = restarted query)
    # resumes from the checkpointed composite offset and emits only the
    # remaining slice of the same commit
    r2 = BloomSearchStreamReader({"root": tmp_root}, schema)
    parts = r2.partitions({"version": 1, "cursor": 5}, {"version": 1, "cursor": -1})
    rest = [c for p in parts for b in r2.read(p) for c in b.column("commit").to_pylist()]
    assert sorted(rest) == sorted(batches[1] + batches[2])


def test_changefeed_block_cap_streams_end_to_end(spark, tmp_root, tmp_path):
    """The block cap through a REAL streaming query: one 12-block commit
    arrives as >= 3 micro-batches (recentProgress), rows exactly once."""
    spark.dataSource.register(BloomSearchDataSource)
    cfg = IndexConfig(
        indexed_fields=("content",), partition_expr="''", max_block_rows=10,
        blocks_per_file=4,
    )
    build_index(spark, generate_df(spark, 120).coalesce(1), tmp_root, cfg)
    q = (
        spark.readStream.format("bloomsearch").option("root", tmp_root)
        .option("max_blocks_per_trigger", "5").load()
        .writeStream.format("memory").queryName("capped_feed")
        .option("checkpointLocation", str(tmp_path / "ckpt")).start()
    )
    try:
        q.processAllAvailable()
        assert q.exception() is None
        got = spark.table("capped_feed")
        assert {r.commit for r in got.collect()} == set(generate_pdf(120)["commit"])
        assert got.count() == 120
        sizes = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
        assert len(sizes) >= 3 and max(sizes) <= 50  # <= 5 blocks x 10 rows
    finally:
        q.stop()


def test_changefeed_planner_never_materializes_paths(spark, tmp_root, monkeypatch):
    """r06 (VERDICT r05 'what's wrong' #3): the DRIVER plans a deleting
    commit (overwrite CDC) touching only segment refs + footer row counts
    — the data_path expansion and the old-vs-new diff happen in read()
    (executor-side).  Proven by forbidding every path-materializing
    helper during planning, then checking the planned chunks carry only
    (ref, row range) payloads and that read() still emits the exact CDC
    event log."""
    from bloomsearch_spark.streaming import changefeed as cf

    spark.dataSource.register(BloomSearchDataSource)
    build_index(spark, generate_df(spark, 100), tmp_root, CFG)            # v1
    build_index(spark, generate_df(spark, 40, seed=7), tmp_root, CFG)     # v2 OVERWRITE
    schema = (
        spark.readStream.format("bloomsearch").option("root", tmp_root)
        .option("change_events", "true").load().schema
    )
    r = cf.BloomSearchStreamReader(
        {"root": tmp_root, "change_events": "true"}, schema
    )

    def _forbidden(*a, **k):
        raise AssertionError("planner materialized block paths on the driver")

    monkeypatch.setattr(cf, "_segment_path_slice", _forbidden)
    monkeypatch.setattr(cf, "_segment_paths", _forbidden)
    monkeypatch.setattr(cf.fsx, "read_parquet_dir", _forbidden)
    cur = r.latestOffset()
    parts = r.partitions(r.initialOffset(), cur)
    assert parts  # v1 inserts + v2 deletes + v2 inserts
    for p in parts:
        assert p.ref and p.row_stop > p.row_start  # ranges, not path lists
        assert not hasattr(p, "rel_paths")
    monkeypatch.undo()

    events = [
        (p.version, p.kind, c)
        for p in parts
        for b in r.read(p)
        for c in b.column("commit").to_pylist()
    ]
    old = set(generate_pdf(100)["commit"])
    new = set(generate_pdf(40, seed=7)["commit"])
    by = {}
    for v, kind, c in events:
        by.setdefault((v, kind), set()).add(c)
    assert by[(1, "insert")] == old
    assert by[(2, "delete")] == old  # full old table deleted, executor-diffed
    assert by[(2, "insert")] == new
    assert len(events) == 240


def test_changefeed_max_bytes_per_trigger_splits_one_commit(spark, tmp_root):
    """r06 late: max_bytes_per_trigger — exact byte-budget admission over
    the same composite (version, cursor) offsets.  One commit streams as
    byte-bounded micro-batches; each batch's cumulative manifest
    byte_size stays within budget (except the min-one-block progress
    rule); union exact; composes with max_blocks_per_trigger."""
    import numpy as np

    from bloomsearch_spark.sources.manifest import BloomIndex
    from bloomsearch_spark.streaming.changefeed import BloomSearchStreamReader

    spark.dataSource.register(BloomSearchDataSource)
    cfg = IndexConfig(
        indexed_fields=("content",), partition_expr="''", max_block_rows=10,
        blocks_per_file=4,
    )
    build_index(spark, generate_df(spark, 120).coalesce(1), tmp_root, cfg)
    idx = BloomIndex.load(spark, tmp_root)
    sizes = np.array(sorted(
        r.byte_size for r in idx.blocks().select("byte_size").collect()
    ))
    assert len(sizes) == 12
    budget = int(sizes.sum() // 4 + 1)  # ~3 blocks per trigger

    schema = (
        spark.read.format("bloomsearch").option("root", tmp_root).load().schema
    )
    r = BloomSearchStreamReader(
        {"root": tmp_root, "max_bytes_per_trigger": str(budget)}, schema
    )
    offs = [r.initialOffset()]
    while offs[-1] != {"version": 1, "cursor": -1}:
        nxt = r.latestOffset()
        assert nxt != offs[-1], "stalled: no progress under byte cap"
        offs.append(nxt)
        assert len(offs) < 20
    # batch-by-batch: rows exactly once, per-batch bytes within budget
    slot_bytes = r._slot_bytes(1)
    rows, n_batches = [], 0
    for lo, hi in zip(offs, offs[1:]):
        parts = r.partitions(lo, hi)
        got = [
            c
            for p in parts
            for b in r.read(p)
            for c in b.column("commit").to_pylist()
        ]
        if not got:
            continue
        n_batches += 1
        rows += got
        lo_c = 0 if lo["cursor"] == -1 else lo["cursor"]
        hi_c = len(slot_bytes) if hi["cursor"] == -1 else hi["cursor"]
        admitted = float(slot_bytes[lo_c:hi_c].sum())
        n_slots = hi_c - lo_c
        assert admitted <= budget or n_slots == 1, (admitted, budget, n_slots)
    assert n_batches >= 3
    assert sorted(rows) == sorted(generate_pdf(120)["commit"])

    # a budget smaller than any single block still makes min-1 progress
    r_tiny = BloomSearchStreamReader(
        {"root": tmp_root, "max_bytes_per_trigger": "1"}, schema
    )
    o1 = r_tiny.latestOffset()
    assert (o1["version"], o1["cursor"]) == (1, 1)

    # composition: the tighter of (blocks, bytes) binds
    r_both = BloomSearchStreamReader(
        {
            "root": tmp_root,
            "max_bytes_per_trigger": str(budget * 100),
            "max_blocks_per_trigger": "2",
        },
        schema,
    )
    o1 = r_both.latestOffset()
    assert (o1["version"], o1["cursor"]) == (1, 2)


def test_slot_bytes_reads_dv_slices_as_zero_and_raises_when_unreadable(spark, tmp_root):
    """max_bytes_per_trigger admission: a dv delta slice has no byte_size
    column and counts 0 bytes; an unreadable segment raises instead of
    counting 0 bytes (which would silently over-admit)."""
    from bloomsearch_spark import delete_where, new_query
    from bloomsearch_spark.sources import fs as fsx
    from bloomsearch_spark.streaming.changefeed import BloomSearchStreamReader

    spark.dataSource.register(BloomSearchDataSource)
    idx = build_index(spark, generate_df(spark, 200), tmp_root, CFG)  # v1
    q = new_query().token("needle_alpha").build()
    _, st = delete_where(spark, idx, q, use_deletion_vectors=True)  # v2
    assert st.rows_deleted > 0
    schema = (
        spark.readStream.format("bloomsearch").option("root", tmp_root)
        .option("change_events", "true").load().schema
    )
    opts = {"root": tmp_root, "change_events": "true", "max_bytes_per_trigger": "1000000"}

    r = BloomSearchStreamReader(opts, schema)
    assert [u[0] for u in r._vinfo(2)["units"]] == ["dvdel"]
    dv = r._slot_bytes(2)
    assert len(dv) == r._vinfo(2)["total"] > 0 and not dv.any()
    v1 = r._slot_bytes(1)
    assert len(v1) == r._vinfo(1)["total"] and (v1 > 0).all()

    r = BloomSearchStreamReader(opts, schema)
    ref = r._vinfo(1)["units"][0][1]  # planned: footer row counts cached
    part = fsx.list_parquet_files(fsx.join(tmp_root, "manifest", ref))[0]
    with open(fsx.resolve(part)[1], "wb") as f:
        f.write(b"not parquet")
    with pytest.raises(Exception, match="[Pp]arquet"):
        r._slot_bytes(1)
