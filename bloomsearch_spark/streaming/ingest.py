"""Streaming ingest — Structured Streaming over the index build.

The reference's "streaming" is an async ingest actor with row/byte/time
flush triggers (ingestWorker, bloom_tree_engine.go:348-414; flush decision
:615-650).  The Spark-native equivalent is a Structured Streaming query:
each micro-batch IS a flush — ``foreachBatch`` appends a new set of files
to the index and commits the manifest atomically, so readers get the same
"rows visible only after flush+commit" semantics as MetaStore.Update
(meta_store.go:21).  Trigger cadence plays the role of
``MaxBufferedTime``; ``maxFilesPerTrigger``/rate limits play the role of
row/byte caps.

Exactly-once: foreachBatch may replay a batch after a failure.  Every
commit records its ``batch_id`` in the manifest meta; a replayed batch id
<= the last committed one is skipped, making the sink idempotent (the
same guarantee the reference gets from single-threaded apply).

Each micro-batch commit writes one O(batch) DELTA manifest segment (the
r04 segmented manifest — sources/manifest.py): a long-running stream never
rewrites the accumulated index metadata per trigger.  Segment-list growth
is bounded by running ``fold_manifest`` (and ``vacuum_manifest``) at the
same cadence as file merges; a maintenance commit racing a stream batch is
serialized by the commit lock and, if it lost the race, surfaces
``CommitConflict`` for a clean re-plan instead of dropping the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import IndexConfig
from ..plans.build import build_index
from ..sources import manifest as mf


def append_batch(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    cfg: IndexConfig,
    batch_id: int,
    source_desc: str = "stream",
    merge_schema: bool = False,
) -> bool:
    """Idempotently append one micro-batch to the index.

    Returns False (no-op) when ``batch_id`` was already committed — the
    foreachBatch replay guard.
    """
    cur = mf.current_version(root)
    mode = "append"
    if cur is None:
        mode = "overwrite"
    else:
        prev = mf.BloomIndex(spark, root, cur)
        last = prev.meta().get("last_stream_batch", -1)
        if batch_id <= last:
            return False
    # the batch-id watermark is threaded INTO the build so it is persisted
    # in meta.json before commit_version swaps CURRENT — a crash anywhere
    # leaves either no new version (replay rebuilds it) or a committed
    # version that already carries the watermark (replay is a no-op).
    # Stamping after commit would open a window where a replayed batch
    # appends duplicate rows.
    build_index(
        spark,
        df,
        root,
        cfg,
        source_desc=f"{source_desc}-batch-{batch_id}",
        mode=mode,
        meta_extra={"last_stream_batch": batch_id},
        merge_schema=merge_schema,
    )
    return True


def stream_build(
    stream_df: DataFrame,
    root: str,
    cfg: IndexConfig,
    checkpoint_dir: str,
    trigger: dict | None = None,
    source_desc: str = "stream",
    fold_every: int | None = 64,
    merge_schema: bool = False,
):
    """Start a streaming index build over ``stream_df`` (a streaming
    DataFrame).  Returns the StreamingQuery handle.

    ``trigger``: kwargs for ``DataStreamWriter.trigger`` — e.g.
    ``{"availableNow": True}`` (drain-and-stop, the reference's forced
    flush) or ``{"processingTime": "10 seconds"}`` (MaxBufferedTime
    analog).

    ``fold_every``: each micro-batch appends one delta manifest segment;
    when the blocks table reaches this many segments, the sink folds the
    manifest (one segment per table) — bounding reader union width for
    indefinitely running streams.  A fold that loses a commit race with a
    user-run maintenance op (the docstring above tells users to run
    merge/fold on their own cadence too) is simply SKIPPED — the next
    batch retries — rather than killing the StreamingQuery.  ``None``
    disables.  Folding costs O(manifest) every ``fold_every`` batches —
    amortized O(manifest/fold_every) per batch, vs O(manifest) EVERY
    batch in the pre-segment design.

    The sink deliberately does NOT auto-run ``vacuum_manifest``: vacuum
    deletes every segment/staging dir not referenced by CURRENT, which is
    only safe when no other committer is mid-write and no reader still
    resolves an older version — conditions a live streaming sink cannot
    see.  Superseded segments are garbage, not corruption; reclaim them
    from your maintenance cadence when those conditions hold.
    """
    spark = stream_df.sparkSession
    # segment-count cache across micro-batches: each committed append adds
    # exactly one blocks segment, so the sink can COUNT instead of
    # re-fetching meta.json every trigger (a per-trigger round-trip on an
    # object-store root).  The cache is re-synced from meta at the fold
    # threshold (an external maintenance committer may have folded
    # already) and invalidated on fold/conflict — one meta read per fold
    # cycle in steady state.
    state = {"nsegs": None}

    def _batch(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        if not append_batch(
            spark, df, root, cfg, batch_id, source_desc, merge_schema
        ):
            return
        if fold_every is not None:
            if state["nsegs"] is None:
                state["nsegs"] = mf.segment_count(
                    mf.BloomIndex.load(spark, root).table_refs()["blocks"]
                )
            else:
                state["nsegs"] += 1
            if state["nsegs"] >= fold_every:
                idx = mf.BloomIndex.load(spark, root)  # re-sync + snapshot
                state["nsegs"] = mf.segment_count(idx.table_refs()["blocks"])
                if state["nsegs"] < fold_every:
                    return  # someone else folded meanwhile
                from ..plans.merge import fold_manifest

                try:
                    fold_manifest(spark, idx)
                    state["nsegs"] = 1  # folded: one segment per table
                except mf.CommitConflict:
                    state["nsegs"] = None  # stale view; re-read next batch

    writer = stream_df.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def stream_apply_changes(
    changes_stream: DataFrame,
    root: str,
    cfg: IndexConfig,
    key_field: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    change_col: str = "_change_type",
    order_col: str | None = "_commit_version",
    conflict_retries: int = 3,
    max_pruned_keys: int = 256,
    use_deletion_vectors: bool = False,
):
    """CDC replication sink (the ``APPLY CHANGES INTO`` analog): apply a
    change-event stream — e.g. another index's changefeed read with
    ``change_events`` + ``commit_metadata`` — onto the index at ``root``,
    ONE commit per micro-batch, exactly-once.

    Composed end-to-end this is full replication INCLUDING row-set
    changes: ``spark.readStream.format("bloomsearch").option("root", A)
    .option("change_events", "true").option("commit_metadata", "true")``
    → ``stream_apply_changes(feed, B, ...)`` keeps B row-equal to A
    across appends, overwrites, expiry, delete_where, upsert and restore
    — the plain sink replication (DS4) carries appends only.

    Per micro-batch: each key's FINAL state resolves under the CDC apply
    convention (max ``order_col``, insert wins within one order value —
    see ``apply_changes_batch``), then one ``upsert_keys`` commit applies
    the inserts and deletes atomically, bloom-pruning candidate blocks
    for small key batches.  Exactly-once = the same commit-coupled
    ``last_stream_batch`` watermark every streaming sink here shares (a
    replayed batch returns before planning); an absent root is SEEDED by
    the first batch's resolved inserts (``build_index`` overwrite), so a
    replica needs no manual snapshot step.  ``conflict_retries`` re-plans
    on commits racing in from elsewhere (e.g. the replica's own
    maintenance cadence)."""
    from ..plans.merge import apply_changes_batch, resolve_changes

    spark = changes_stream.sparkSession

    def _batch(df: DataFrame, batch_id: int) -> None:
        if df.isEmpty():
            return
        cur = mf.current_version(root)
        if cur is not None:
            idx = mf.BloomIndex(spark, root, cur)
            if batch_id <= idx.meta().get("last_stream_batch", -1):
                return  # replayed batch: already committed
            apply_changes_batch(
                spark, idx, df, key_field,
                change_col=change_col, order_col=order_col,
                conflict_retries=conflict_retries,
                max_pruned_keys=max_pruned_keys,
                meta_extra={"last_stream_batch": batch_id},
                use_deletion_vectors=use_deletion_vectors,
            )
        else:
            inserts, _dels = resolve_changes(df, key_field, change_col, order_col)
            build_index(
                spark, inserts, root, cfg,
                source_desc=f"cdc-seed-batch-{batch_id}",
                mode="overwrite",
                meta_extra={"last_stream_batch": batch_id},
            )

    writer = changes_stream.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
