"""Structured Streaming operators.

The reference's production loop is cron-per-site batch with JSON state
(SURVEY §3.3) — semantically a micro-batch stream with an external
state store. This module provides the genuinely-streaming surface:

* ``read_event_stream`` — file-source replay of an events table
  (deterministic: ordered files, bounded files/trigger).
* ``windowed_counts`` — watermark + tumbling-window agg; the streaming
  generalization of the T6 freshness filter (Google_Crawler.py:101-109
  keeps a 2-day window; a stream keeps every window and finalizes it at
  the watermark).
* ``sessionize`` — gap-based session windows per user via
  ``applyInPandasWithState`` (the custom-stateful-operator slot the
  frontier scheduler would use for per-host token buckets in a
  fully-streaming deployment).
* ``crawl_foreach_batch`` — bridges the crawl pipeline into
  ``foreachBatch``: each trigger advances one crawl window and commits
  one snapshot (C6), so a streaming runtime drives exactly the same
  batch plan the driver loop runs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_event_stream(spark: SparkSession, src_dir: str,
                      max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 days") -> DataFrame:
    """Tumbling-window counts per event_type with late-data policy: rows
    later than the watermark are dropped — T6 as a stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"),
                "event_type", "n", "sum_value")
    )


SESSION_SCHEMA = "user_id long, session_start timestamp, session_end timestamp, n_events int"
_STATE_SCHEMA = "start long, last long, n int"


def _sessionize_fn(key, pdfs, state: GroupState):
    """Gap-based sessionization: a session closes after gap_ms of
    inactivity (event-time, driven by the watermark timeout)."""
    gap_ms = 30 * 60 * 1000
    out = []
    if state.hasTimedOut:
        start, last, n = state.get
        out.append((key[0], start, last, n))
        state.remove()
    else:
        rows = pd.concat(list(pdfs))
        ts_ms = (rows["ts"].astype("int64") // 1_000_000).sort_values()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = int(ts_ms.iloc[0]), int(ts_ms.iloc[0]), 0
        for t in ts_ms:
            t = int(t)
            if t - last > gap_ms:
                out.append((key[0], start, last, n))
                start, n = t, 0
            last = max(last, t)
            n += 1
        state.update((start, last, n))
        state.setTimeoutTimestamp(last + gap_ms)
    if not out:
        return iter(())
    pdf = pd.DataFrame(out, columns=["user_id", "s", "e", "n_events"])
    pdf["session_start"] = pd.to_datetime(pdf["s"], unit="ms")
    pdf["session_end"] = pd.to_datetime(pdf["e"], unit="ms")
    return iter([pdf[["user_id", "session_start", "session_end", "n_events"]]])


def sessionize(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Custom stateful operator: per-user session windows via
    applyInPandasWithState (Arrow-batched, event-time timeouts)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def crawl_foreach_batch(
    spark: SparkSession,
    world: dict[str, DataFrame],
    store,
    pages_per_batch: int = 4,
):
    """foreachBatch bridge: one streaming trigger = one crawl window.

    Returns a function suitable for ``stream.writeStream.foreachBatch``;
    the trigger's own rows are only a clock tick — the crawl state lives
    in the snapshot store, so a restarted query resumes exactly (C6).
    """
    from ..plans.crawl import run_crawl

    def on_batch(_tick_df: DataFrame, _batch_id: int) -> None:
        run_crawl(
            spark, world, store,
            pages_per_batch=pages_per_batch,
            max_batches=max(store.last_batch_id, 0) + 1,  # one window per tick
        )

    return on_batch


def session_windows_batch(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session windows in BATCH form via ``F.session_window`` —
    the SQL-expressible twin of ``sessionize`` (same semantics Spark
    applies in streaming mode), so the driver contract can oracle-check
    session assignment against a DuckDB gaps-and-islands query (s01).

    A new session starts when an event lands at or beyond
    ``previous event + gap`` (Spark sessions span [start, last+gap)).
    Output: one row per (user_id, session) with start/end/count.
    """
    return (
        events.groupBy("user_id", F.session_window(F.col("ts"), gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


DISPATCH_SCHEMA = "host string, url_canon string, dispatch_at timestamp, slot long"
_TB_STATE = "next_free long, slot long"


def _token_bucket_fn(key, pdfs, state: GroupState):
    """Per-host politeness token bucket (C1 as a custom stateful
    streaming operator): each dispatch is stamped max(arrival,
    next_free); next_free advances by the host's crawl delay. State
    (next_free, slot) persists across micro-batches, so politeness holds
    ACROSS triggers — the property the batch scheduler gets from
    `next_fetch_after` and a streaming deployment gets from here."""
    if state.hasTimedOut:  # NoTimeout: never fires; keeps the shape total
        state.remove()
        return iter(())
    rows = pd.concat(list(pdfs)).sort_values(["priority", "order_key"])
    delay_ms = int(float(rows["crawl_delay_s"].iloc[0]) * 1000)
    next_free, slot = state.get if state.exists else (0, 0)
    ts_ms = rows["ts"].astype("int64") // 1_000_000
    out_ts, out_slot = [], []
    for t in ts_ms:
        d = max(int(t), next_free)
        out_ts.append(d)
        out_slot.append(slot)
        slot += 1
        next_free = d + delay_ms
    state.update((next_free, slot))
    pdf = pd.DataFrame({
        "host": key[0],
        "url_canon": rows["url_canon"].values,
        "dispatch_at": pd.to_datetime(out_ts, unit="ms"),
        "slot": out_slot,
    })
    return iter([pdf])


def politeness_token_bucket(due: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming per-host politeness: due(host, url_canon, ts, priority,
    order_key, crawl_delay_s) → dispatch schedule, state carried across
    micro-batches via applyInPandasWithState."""
    return (
        due.withWatermark("ts", watermark)
        .groupBy("host")
        .applyInPandasWithState(
            _token_bucket_fn,
            outputStructType=DISPATCH_SCHEMA,
            stateStructType=_TB_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
