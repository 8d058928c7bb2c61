"""Custom stateful streaming operator: per-key APPROX DISTINCT via an HLL
sketch held in ``applyInPandasWithState`` state.

The brief's "custom stateful operators" shape: Spark has no built-in
running-distinct-count with bounded state (``approx_count_distinct`` only
works inside complete/windowed aggregations), but a mergeable sketch makes
it a few lines — group state = one serialized HLL per key (2^p bytes,
CONSTANT regardless of stream length), each micro-batch folds its values
into the registers with the same numpy kernel the batch pipeline uses and
emits the refreshed estimate.

Because the state IS the sketch, the operator inherits the sketch algebra:
state restored from a checkpoint and updated with replayed data converges
to the identical registers (max-merge idempotence), and the streaming
estimate is BITWISE equal to a batch ``HLL`` over the same values (tested).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from ..sketches.hll import HLL


def streaming_approx_distinct(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    p: int = 12,
) -> DataFrame:
    """(key, estimate, n_seen) stream, refreshed every micro-batch.

    ``stream_df`` must be a streaming DataFrame; use outputMode("update").
    """
    # key column keeps its ACTUAL type (a hardcoded string schema would
    # fail the pandas->Arrow conversion for e.g. bigint keys)
    ktype = stream_df.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {ktype}, estimate double, n_seen long"
    state_schema = "sketch binary, n_seen long"

    def fn(key, pdfs, state):
        if state.exists:
            blob, n_seen = state.get
            h = HLL.from_bytes(bytes(blob))
        else:
            h, n_seen = HLL(p), 0
        for pdf in pdfs:
            vals = pdf[value_col].dropna().to_numpy()
            if len(vals):
                h.add_values(vals.astype(object))
                n_seen += len(vals)
        state.update((h.to_bytes(), n_seen))
        yield pd.DataFrame(
            [{key_col: key[0], "estimate": h.estimate(), "n_seen": n_seen}]
        )

    return (
        stream_df.select(key_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``functions.dedup.exact_duplicates``: per
    normalized-content fingerprint, track ``(rep_id = min id seen,
    dup_count)`` as group state and emit the refreshed row every
    micro-batch (``outputMode("update")``).

    Because the state fold is (min, sum) — associative, commutative, and
    order-free — the FINAL streaming state equals the batch
    ``exact_duplicates`` over the same rows EXACTLY, regardless of how
    the stream was micro-batched (the oracle-gated property).  State is
    constant-size per fingerprint; ``state_ttl_ms`` opts into
    processing-time expiry for unbounded corpora (the
    ``dropDuplicatesWithinWatermark`` state-bounding trade: a duplicate
    arriving after its fingerprint expired re-registers as new).  A
    ``state_ttl_ms`` query never terminates under
    ``trigger(availableNow=True)``: pending processing-time timeouts keep
    it running no-data batches, so neither ``awaitTermination()`` nor
    ``processAllAvailable()`` returns — the caller must ``stop()`` it.
    """
    from ..functions.text import fingerprint

    itype = stream_df.schema[id_col].dataType.simpleString()
    out_schema = f"fingerprint string, rep_id {itype}, dup_count long"
    state_schema = f"rep_id {itype}, dup_count long"
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        rep, cnt = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            ids = pdf[id_col].dropna()
            if not len(ids):
                continue
            lo = ids.min()
            rep = lo if rep is None or lo < rep else rep
            cnt += int(len(ids))
        if rep is None:
            return
        state.update((rep, cnt))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            [{"fingerprint": key[0], "rep_id": rep, "dup_count": cnt}]
        )

    keyed = stream_df.select(
        fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col)
    )
    return keyed.groupBy("fingerprint").applyInPandasWithState(
        fn, out_schema, state_schema, "update", timeout
    )
