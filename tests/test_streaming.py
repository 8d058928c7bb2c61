"""Streaming ingest e2e — micro-batch appends mirror the reference's
flush-per-trigger semantics (rows visible only after flush + manifest
commit, bloom_tree_engine_test.go:123-292); replayed batches are no-ops
(exactly-once watermark)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from bloomsearch_spark import IndexConfig, new_query, search, verify_integrity
from bloomsearch_spark.sources.manifest import BloomIndex
from bloomsearch_spark.sources.synthetic import generate_pdf
from bloomsearch_spark.streaming.ingest import append_batch, stream_build

CFG = IndexConfig(
    indexed_fields=("repo", "path", "lang", "content"),
    partition_expr="lang",
    max_block_rows=200,
    blocks_per_file=4,
    block_fpr=0.01,
    file_fpr=0.01,
    file_expected_items=20_000,
    compression="snappy",
    sha_col="content",
)

SCHEMA = "repo string, path string, commit string, lang string, content string"


def test_stream_build_file_source(spark, tmp_root, tmp_path):
    """Files land -> stream drains -> index holds exactly those rows;
    a second drain picks up only new files (incremental append)."""
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    pdf = generate_pdf(1_200)

    spark.createDataFrame(pdf.iloc[:700], schema=SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "f1"))

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        src + "/*"
    )
    q = stream_build(stream, tmp_root, CFG, ckpt, trigger={"availableNow": True})
    q.awaitTermination(120)

    idx = BloomIndex.load(spark, tmp_root)
    assert idx.blocks().agg(F.sum("row_count")).collect()[0][0] == 700
    assert search(spark, idx, new_query().build()).count() == 700

    # second wave of files
    spark.createDataFrame(pdf.iloc[700:], schema=SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "f2"))
    q2 = stream_build(stream, tmp_root, CFG, ckpt, trigger={"availableNow": True})
    q2.awaitTermination(120)

    idx2 = BloomIndex.load(spark, tmp_root)
    assert idx2.version != idx.version
    assert idx2.blocks().agg(F.sum("row_count")).collect()[0][0] == 1_200
    got = search(spark, idx2, new_query().token("needle_alpha").build())
    expect = sum(
        "needle_alpha" in c.lower().split() for c in pdf["content"]
    )
    assert got.count() == expect
    assert verify_integrity(spark, idx2) == 0
    # lineage records every streamed batch
    descs = {r.source_desc for r in idx2.lineage().select("source_desc").distinct().collect()}
    assert any(d.startswith("stream-batch-") for d in descs)


def test_stream_fold_every_bounds_segments(spark, tmp_root, tmp_path):
    """r04: every micro-batch appends one delta manifest segment;
    ``fold_every`` folds + vacuums inside the sink so an indefinitely
    running stream's segment count (and metadata garbage) stays bounded.
    The replay watermark must survive the folds, and results stay exact."""
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    pdf = generate_pdf(1_000)
    for i in range(5):  # 5 files -> 5 micro-batches
        spark.createDataFrame(
            pdf.iloc[i * 200 : (i + 1) * 200], schema=SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, f"f{i}"))

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        src + "/*"
    )
    q = stream_build(
        stream, tmp_root, CFG, ckpt, trigger={"availableNow": True}, fold_every=2
    )
    q.awaitTermination(180)

    idx = BloomIndex.load(spark, tmp_root)
    # folds kept the union width under the threshold
    assert len(idx.table_refs()["blocks"]) <= 2
    assert idx.blocks().agg(F.sum("row_count")).collect()[0][0] == 1_000
    # watermark survived the folds: all 5 batches committed exactly once
    assert idx.meta()["last_stream_batch"] == 4
    got = search(spark, idx, new_query().token("needle_alpha").build())
    expect = sum("needle_alpha" in c.lower().split() for c in pdf["content"])
    assert got.count() == expect
    # the sink deliberately does NOT vacuum (unsafe with concurrent
    # committers/readers); once the stream is drained, the explicit
    # maintenance call reclaims superseded versions/segments
    from bloomsearch_spark import vacuum_manifest

    assert vacuum_manifest(idx) > 0
    mdir = os.path.join(tmp_root, "manifest")
    vdirs = [d for d in os.listdir(mdir) if d.startswith("v")]
    assert vdirs == [idx.version]
    got2 = search(spark, BloomIndex.load(spark, tmp_root),
                  new_query().token("needle_alpha").build())
    assert got2.count() == expect


def test_replayed_batch_is_noop(spark, tmp_root):
    """foreachBatch replay (same batch_id) must not double-ingest."""
    pdf = generate_pdf(300)
    df = spark.createDataFrame(pdf, schema=SCHEMA)
    assert append_batch(spark, df, tmp_root, CFG, batch_id=0) is True
    assert append_batch(spark, df, tmp_root, CFG, batch_id=0) is False  # replay
    idx = BloomIndex.load(spark, tmp_root)
    assert idx.blocks().agg(F.sum("row_count")).collect()[0][0] == 300
    # a NEW batch id appends
    assert append_batch(spark, df, tmp_root, CFG, batch_id=1) is True
    idx2 = BloomIndex.load(spark, tmp_root)
    assert idx2.blocks().agg(F.sum("row_count")).collect()[0][0] == 600
    # the watermark is part of the committed meta (written BEFORE the
    # CURRENT swap, so a crash can never commit rows without it)
    assert idx2.meta()["last_stream_batch"] == 1
    assert idx.meta()["last_stream_batch"] == 0


def test_streaming_approx_distinct_stateful(spark, tmp_path):
    """applyInPandasWithState custom operator: per-key running distinct via
    HLL state.  The final streaming estimate must equal a batch HLL over
    the same values EXACTLY (same registers, max-merge idempotence) and sit
    within the published bound of the true distinct count."""
    import numpy as np

    from bloomsearch_spark.sketches.hll import HLL
    from bloomsearch_spark.streaming.stateful import streaming_approx_distinct

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select(
        F.col("event_type").cast("string").alias("k"),
        F.col("user_id").cast("string").alias("v"),
    )
    src = str(tmp_path / "src")
    # several files -> several micro-batches (maxFilesPerTrigger=1)
    events.repartition(4).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("k string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_approx_distinct(stream, "k", "v", p=12)
    q = (
        out.writeStream.format("memory")
        .queryName("sad")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql(
        "SELECT k, estimate, n_seen FROM sad ORDER BY n_seen"
    ).toPandas()
    # last emission per key = final state
    final = res.groupby("k").last()

    pdf = events.toPandas()
    for k, grp in pdf.groupby("k"):
        vals = grp["v"].dropna().to_numpy()
        batch = HLL(12)
        batch.add_values(vals.astype(object))
        assert final.loc[k, "n_seen"] == len(vals)
        # bitwise-identical accumulation -> identical estimate
        assert final.loc[k, "estimate"] == batch.estimate()
        exact = len(np.unique(vals))
        assert abs(final.loc[k, "estimate"] - exact) <= 4 * batch.rse * exact
    # multiple micro-batches actually happened (update mode re-emits keys)
    assert len(res) > final.shape[0]


def test_watermark_survives_maintenance_and_plain_appends(spark, tmp_path):
    """r03 review fix: the exactly-once replay watermark
    (last_stream_batch) must survive merge commits AND plain batch
    appends, or a restarted stream re-appends its last batch."""
    from bloomsearch_spark import build_index
    from bloomsearch_spark.plans.merge import merge_files

    root = str(tmp_path / "widx")
    pdf = generate_pdf(400)
    b0 = spark.createDataFrame(pdf.iloc[:200], schema=SCHEMA)
    b1 = spark.createDataFrame(pdf.iloc[200:300], schema=SCHEMA)
    extra = spark.createDataFrame(pdf.iloc[300:], schema=SCHEMA)

    assert append_batch(spark, b0, root, CFG, batch_id=0) is True
    # maintenance commit between stream batches
    idx = BloomIndex.load(spark, root)
    merge_files(spark, idx, max_blocks_per_file=1000, max_files_per_merge=1000)
    assert append_batch(spark, b0, root, CFG, batch_id=0) is False  # replay no-op
    # a NON-stream append between batches must also carry the watermark
    build_index(spark, extra, root, CFG, mode="append", source_desc="side-load")
    assert append_batch(spark, b0, root, CFG, batch_id=0) is False
    # and the stream continues normally
    assert append_batch(spark, b1, root, CFG, batch_id=1) is True
    idx2 = BloomIndex.load(spark, root)
    assert idx2.meta()["last_stream_batch"] == 1
    assert idx2.blocks().agg(F.sum("row_count")).collect()[0][0] == 400


def test_stateful_approx_distinct_bigint_key(spark, tmp_path):
    """r03 review fix: the key column keeps its real type in the output
    schema (hardcoded 'string' broke bigint keys at Arrow conversion)."""
    from bloomsearch_spark.streaming.stateful import streaming_approx_distinct

    src = str(tmp_path / "src")
    spark.range(0, 300).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v").cast("string")
    ).repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("k bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_approx_distinct(stream, "k", "v", p=10)
    q = (
        out.writeStream.format("memory")
        .queryName("sad_bigint")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM sad_bigint").toPandas()
    assert set(res["k"]) == {0, 1, 2}
    final = res.groupby("k")["n_seen"].max()
    assert int(final.sum()) == 300


def test_stream_sink_caches_segment_count(spark, tmp_root, tmp_path, monkeypatch):
    """r05 (verdict item 6): the sink counts segments across micro-batches
    instead of re-fetching meta.json every trigger — one manifest load to
    prime the cache plus one per fold cycle, not one per batch."""
    from bloomsearch_spark.sources import manifest as mf

    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    pdf = generate_pdf(1_000)
    for i in range(5):  # 5 files -> 5 micro-batches
        spark.createDataFrame(
            pdf.iloc[i * 200 : (i + 1) * 200], schema=SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, f"f{i}"))

    calls = {"n": 0}
    real_load = mf.BloomIndex.load.__func__

    def counting_load(cls, spark_, root_):
        calls["n"] += 1
        return real_load(cls, spark_, root_)

    monkeypatch.setattr(mf.BloomIndex, "load", classmethod(counting_load))

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        src + "/*"
    )
    q = stream_build(
        stream, tmp_root, CFG, ckpt, trigger={"availableNow": True}, fold_every=4
    )
    q.awaitTermination(180)

    # 5 batches: 1 priming load + 1 at the single fold threshold = 2
    # (the old per-trigger re-read would be 5)
    assert calls["n"] <= 2, calls["n"]
    idx = BloomIndex.load(spark, tmp_root)
    assert idx.blocks().agg(F.sum("row_count")).collect()[0][0] == 1_000
    assert idx.meta()["last_stream_batch"] == 4


# ---------------------------------------------------------------------------
# the native DSv2 streaming SINK: df.writeStream.format("bloomsearch")
# ---------------------------------------------------------------------------


def test_ds_stream_sink_end_to_end(spark, tmp_root, tmp_path):
    """writeStream.format("bloomsearch"): each micro-batch commits one
    BUILD version; all rows land exactly once across two separate drains
    (restart reuses the checkpoint's batch numbering); per-batch file tags
    keep task file names collision-free across batches."""
    from bloomsearch_spark.sources.datasource import BloomSearchDataSource

    spark.dataSource.register(BloomSearchDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    pdf = generate_pdf(900)
    for i in range(3):  # 3 files -> 3 micro-batches
        spark.createDataFrame(
            pdf.iloc[i * 300 : (i + 1) * 300], schema=SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, f"f{i}"))

    def drain():
        stream = spark.readStream.schema(SCHEMA).option(
            "maxFilesPerTrigger", 1
        ).parquet(src + "/*")
        q = (
            stream.writeStream.format("bloomsearch")
            .option("root", tmp_root)
            .option("indexed_fields", "repo,path,lang,content")
            .option("partition_col", "lang")
            .option("sha_col", "content")
            .option("max_block_rows", "200")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination(180)
        assert q.exception() is None

    drain()
    idx = BloomIndex.load(spark, tmp_root)
    assert idx.blocks().agg(F.sum("row_count")).collect()[0][0] == 900
    assert idx.meta()["last_stream_batch"] == 2
    # one committed BUILD version per micro-batch, linear history
    assert int(idx.version[1:]) == 3
    # per-batch tags: no two batches share a block data path (collision =
    # silent row loss via overwritten block parquet)
    paths = [r.data_path for r in idx.blocks().select("data_path").collect()]
    assert len(set(paths)) == len(paths)
    fids = [r.file_id for r in idx.blocks().select("file_id").collect()]
    descs = {r.source_desc for r in idx.lineage().select("source_desc").distinct().collect()}
    assert "datasource-stream" in descs
    # the batchId task-local property reached the executors: tags carry -bN-
    assert any("-b0-" in f for f in fids) and any("-b2-" in f for f in fids)

    # exact content: every streamed row searchable, exactly once
    assert search(spark, idx, new_query().build()).count() == 900
    got = {
        r.path
        for r in spark.read.format("bloomsearch").option("root", tmp_root)
        .load().select("path").collect()
    }
    assert got == set(pdf["path"])

    # second drain: only the new file lands (checkpoint continues batch ids)
    spark.createDataFrame(
        generate_pdf(150, seed=99), schema=SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f3"))
    drain()
    idx2 = BloomIndex.load(spark, tmp_root)
    assert idx2.blocks().agg(F.sum("row_count")).collect()[0][0] == 1050
    assert idx2.meta()["last_stream_batch"] == 3
    assert verify_integrity(spark, idx2) == 0
    # and the DS sink's commits flow out of the changefeed/changes read
    n_changes = (
        spark.read.format("bloomsearch").option("root", tmp_root)
        .option("changes_from", 0).load().count()
    )
    assert n_changes == 1050


def test_ds_stream_sink_replay_and_empty_batches(spark, tmp_root, tmp_path):
    """A replayed commit (fresh writer instance, same batchId — exactly
    what the commit runner does after recovery) is a no-op; an empty
    batch publishes no version."""
    from pyspark.sql.types import StructType

    from bloomsearch_spark.sources import manifest as mf2
    from bloomsearch_spark.sources.datasource import (
        BloomSearchDataSource,
        BloomSearchStreamWriter,
    )

    spark.dataSource.register(BloomSearchDataSource)
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    spark.createDataFrame(generate_pdf(200), schema=SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "f0"))
    stream = spark.readStream.schema(SCHEMA).parquet(src + "/*")
    q = (
        stream.writeStream.format("bloomsearch")
        .option("root", tmp_root)
        .option("indexed_fields", "repo,lang,content")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    before = mf2.current_version(tmp_root)
    schema = spark.createDataFrame(generate_pdf(1), schema=SCHEMA).schema
    assert isinstance(schema, StructType)

    # replayed batch 0 through a FRESH writer: watermark stops it before
    # any message is even parsed
    w = BloomSearchStreamWriter(
        {"root": tmp_root, "indexed_fields": "repo,lang,content"}, schema, False
    )
    w.commit([], batchId=0)
    assert mf2.current_version(tmp_root) == before

    # a NEW batch with zero staged rows: skip_if_empty, no version churn
    w2 = BloomSearchStreamWriter(
        {"root": tmp_root, "indexed_fields": "repo,lang,content"}, schema, False
    )
    w2.commit([], batchId=1)
    assert mf2.current_version(tmp_root) == before


def test_ds_stream_sink_complete_mode_overwrites_per_batch(spark, tmp_root, tmp_path):
    """outputMode("complete") through the DSv2 sink: each micro-batch
    commits an OVERWRITE, so the index tracks the LATEST aggregate
    snapshot — never an accumulation of past batches' totals."""
    from bloomsearch_spark.sources.datasource import BloomSearchDataSource

    spark.dataSource.register(BloomSearchDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    pdf = generate_pdf(500)
    spark.createDataFrame(pdf.iloc[:200], schema=SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "f0"))

    agg = (
        spark.readStream.schema(SCHEMA).parquet(src + "/*")
        .groupBy("lang").agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("bloomsearch").outputMode("complete")
        .option("indexed_fields", "lang").option("partition_col", "lang")
        .option("checkpointLocation", ckpt)
        .start(tmp_root)
    )

    def snapshot():
        return {
            (r.lang, r.n)
            for r in spark.read.format("bloomsearch").option("root", tmp_root)
            .load().collect()
        }

    def expect(upto):
        return set(
            pdf.iloc[:upto].groupby("lang").size().items()
        )

    try:
        q.processAllAvailable()
        assert q.exception() is None
        assert snapshot() == expect(200)

        spark.createDataFrame(
            pdf.iloc[200:], schema=SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()
    # the refreshed snapshot REPLACES the old one: totals over all 500
    # rows, not old+new concatenated
    assert snapshot() == expect(500)


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """ST4 (r06 late): streaming exact dedup — final per-fingerprint
    (rep_id, dup_count) state equals the batch exact_duplicates EXACTLY
    (order-free (min, sum) fold), across micro-batches AND across a
    checkpoint restart with late-arriving files."""
    from bloomsearch_spark.functions.dedup import exact_duplicates
    from bloomsearch_spark.streaming.stateful import streaming_exact_dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    half1.repartition(3).write.mode("overwrite").parquet(src)

    out_dir = str(tmp_path / "out")

    def drain():
        # memory sinks cannot recover a checkpoint; collect update-mode
        # emissions via foreachBatch appends instead (restartable)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            streaming_exact_dedup(stream, "text", "doc_id")
            .writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # late files + RESTART over the same checkpoint: state must resume
    half2.repartition(3).write.mode("append").parquet(src)
    drain()

    final = (
        spark.read.parquet(out_dir)
        .groupBy("fingerprint")
        .agg(F.max(F.struct("dup_count", "rep_id")).alias("s"))
        .select(
            "fingerprint",
            F.col("s.rep_id").alias("rep_id"),
            F.col("s.dup_count").alias("dup_count"),
        )
        .toPandas()
        .set_index("fingerprint")
        .sort_index()
    )
    batch = (
        exact_duplicates(docs, "text", "doc_id")
        .toPandas()
        .set_index("fingerprint")
        .sort_index()
    )
    assert final.equals(batch)
    assert (batch["dup_count"] >= 1).all() and len(batch) > 0

    # the TTL-parameterized path runs (state expiry is a documented
    # trade-off; within one drain nothing expires)
    src2 = str(tmp_path / "src2")
    docs.limit(50).write.mode("overwrite").parquet(src2)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src2)
    )
    q = (
        streaming_exact_dedup(stream, "text", "doc_id", state_ttl_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("sdd_ttl")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    # pending processing-time timeouts keep the query running no-data
    # batches, so it neither terminates nor reports "all available
    # processed": wait until it has read the 50 source rows, then stop it
    try:
        deadline = time.monotonic() + 120
        while sum(p["numInputRows"] for p in q.recentProgress) < 50:
            assert q.exception() is None and time.monotonic() < deadline
            time.sleep(0.2)
    finally:
        q.stop()
    got = spark.table("sdd_ttl").count()
    assert got > 0
