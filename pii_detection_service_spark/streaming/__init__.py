"""Streaming surface.

The reference has NO streaming operators (SURVEY.md §2.8): it is an HTTP
request/response service, and the north rule's target is a *batch* stage
with checkpoint-resume (per-partition lineage + idempotent writes —
plans/stage.py). So there is deliberately no Structured Streaming pipeline
here.

The scoring pass needs no adapter here: `plans.stage.score` is a scalar
Arrow UDF, which Spark runs on streaming DataFrames exactly as in batch, so
a `readStream` source (e.g. files arriving in an input_hint-shaped
directory) reuses the identical stage logic with
`writeStream.trigger(availableNow=True)` for incremental catch-up batches.
This module holds the stream-only operators around it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

SESSION_OUT_SCHEMA = "user_id long, n_sessions long, n_events long"
SESSION_STATE_SCHEMA = "last_ts_us long, n_sessions long, n_events long"


def sessionize_stream(events_stream: DataFrame, gap_min: int = 30) -> DataFrame:
    """Stateful streaming sessionization via applyInPandasWithState: the
    per-user state (last event time, session count, event count) survives
    across micro-batches through the checkpoint, so a restarted stream
    continues counting instead of starting over. Same gap rule as the
    batch `operators.events.sessionize` (microsecond-exact); each batch
    emits the user's cumulative counts (output mode `update`).

    Ordering contract: rows within a micro-batch are sorted here; ACROSS
    batches the source must deliver a user's events in time order (true
    for time-partitioned ingest, the normal case for event logs)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_min * 60 * 1_000_000

    def fn(key, pdfs, state):
        import pandas as pd

        if state.exists:
            last_ts, n_sessions, n_events = state.get
        else:
            last_ts, n_sessions, n_events = None, 0, 0
        parts = [pdf[["ts", "event_id"]] for pdf in pdfs]
        batch = pd.concat(parts).sort_values(["ts", "event_id"])
        for t_us in (batch["ts"].astype("int64") // 1000).tolist():
            if last_ts is None or t_us - last_ts > gap_us:
                n_sessions += 1
            last_ts = t_us
            n_events += 1
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    docs_stream: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup on content hash with BOUNDED state: an
    unbounded `dropDuplicates` would keep every hash ever seen (state grows
    with the corpus — the #1 way streaming dedup falls over at 10^12 rows);
    `dropDuplicatesWithinWatermark` evicts hashes older than the watermark,
    so state is proportional to the ingest rate × watermark horizon. That
    is the correct streaming contract for crawl ingest, where duplicate
    bursts are temporally local (re-crawls of the same page arrive
    together); cross-horizon dups are the batch dedup stage's job
    (`operators.dedup.exact_dedup` over the accumulated table)."""
    hashed = docs_stream.withColumn("content_hash", F.md5("text"))
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def windowed_quality_metrics(
    scored_stream: DataFrame,
    ts_col: str = "ingest_ts",
    window_dur: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window rollup of the scored stream: keep/drop
    and PII counts per (window, lang, keep). The watermark bounds state —
    without it a long-running ingest stream accumulates every window ever
    seen; with it, windows older than the watermark are finalized and
    evicted. Late rows inside the watermark still update their window;
    rows later than that are dropped (counted by Spark's
    numRowsDroppedByWatermark metric, the honest place to surface them)."""
    return (
        scored_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_dur).alias("win"), "lang", "keep")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("n_pii").cast("long")).alias("total_pii"),
            F.sum((F.col("n_toxic") > 0).cast("long")).alias("n_toxic_rows"),
        )
    )
