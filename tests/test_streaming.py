"""Structured Streaming: watermark window agg equals the batch plan on
an in-order replay; sessionization emits closed sessions; foreachBatch
drives crawl windows with resumable snapshots."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from news_crawler_spark.streaming.stream import (
    crawl_foreach_batch,
    read_event_stream,
    sessionize,
    windowed_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def replay_dir(spark):
    """events split into 3 ordered files for maxFilesPerTrigger replay."""
    d = tempfile.mkdtemp(prefix="evstream_")
    ev = spark.read.parquet(f"{SF}/events.parquet").orderBy("ts")
    n = ev.count()
    rows = ev.collect()
    for i in range(3):
        chunk = rows[i * n // 3:(i + 1) * n // 3]
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/stage/{i}"
        )
        # move the single part file into the stream dir in order
        part = [f for f in os.listdir(f"{d}/stage/{i}") if f.endswith(".parquet")][0]
        os.makedirs(f"{d}/in", exist_ok=True)
        shutil.copy(f"{d}/stage/{i}/{part}", f"{d}/in/{i:03d}.parquet")
    yield f"{d}/in"
    shutil.rmtree(d, ignore_errors=True)


def test_windowed_counts_match_batch(spark, replay_dir, tmp_path):
    # in-order replay: rows in later triggers always have ts ≥ the prior
    # trigger's max, so a tight watermark finalizes windows in append mode
    # without ever dropping a row — the stream must match batch exactly
    stream = read_event_stream(spark, replay_dir)
    agg = windowed_counts(stream, window="6 hours", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory").queryName("wc")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.w_start, r.event_type): (r.n, r.sum_value)
        for r in spark.sql("select * from wc").collect()
    }
    batch = spark.read.parquet(f"{SF}/events.parquet")
    exp = {
        (r.w_start, r.event_type): (r.n, r.sum_value)
        for r in batch.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
        .collect()
    }
    # append-mode emits only windows finalized by the watermark; every
    # emitted window must match the batch result exactly, and with a
    # 30-day watermark over in-order replay most windows finalize
    assert got, "stream emitted nothing"
    for k, v in got.items():
        assert exp[k] == v, k


def test_sessionize_emits_sessions(spark, replay_dir, tmp_path):
    stream = read_event_stream(spark, replay_dir, max_files_per_trigger=1)
    sess = sessionize(stream, watermark="1 hour")
    q = (
        sess.writeStream.outputMode("append")
        .format("memory").queryName("sess")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from sess").collect()
    assert rows, "no sessions emitted"
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1


def test_crawl_foreach_batch_resumable(spark, world, tmp_path):
    from news_crawler_spark.sources.store import SnapshotStore
    from news_crawler_spark.plans.crawl import run_crawl

    store = SnapshotStore(str(tmp_path / "stream_store"))
    on_batch = crawl_foreach_batch(spark, world, store, pages_per_batch=4)
    # drive three "triggers" directly (foreachBatch functions are plain
    # callables — the streaming runtime just calls them per trigger)
    for tick in range(3):
        on_batch(None, tick)
    assert store.last_batch_id >= 1

    # reference: an uninterrupted driver-loop run of the same windows
    ref_store = SnapshotStore(str(tmp_path / "ref_store"))
    run_crawl(spark, world, ref_store, pages_per_batch=4, max_batches=store.last_batch_id)
    a = {r.doc_id for r in store.read(spark, "documents").collect()}
    b = {r.doc_id for r in ref_store.read(spark, "documents").collect()}
    assert a == b


def test_politeness_token_bucket_state_across_triggers(spark, tmp_path):
    """C1 as a custom stateful streaming operator: per-host dispatch gaps
    honor crawl_delay WITHIN a trigger and ACROSS triggers (state carries
    next_free), matching a sequential replay exactly."""
    import os

    from news_crawler_spark.streaming.stream import politeness_token_bucket

    base = "2025-06-14 12:00:00"
    rows = []
    for trig in range(2):
        for host, delay in (("a.com", 2.0), ("b.com", 1.0)):
            for i in range(3):
                rows.append((host, f"https://{host}/p/{trig}/{i}",
                             base, trig, trig * 10 + i, delay))
    schema = ("host string, url_canon string, ts_s string, trig int, "
              "order_key long, crawl_delay_s double")
    d = tmp_path / "due_in"
    os.makedirs(d, exist_ok=True)
    for trig in range(2):
        spark.createDataFrame([r for r in rows if r[3] == trig], schema) \
            .selectExpr("host", "url_canon", "cast(ts_s as timestamp) ts",
                        "0 as priority", "order_key", "crawl_delay_s") \
            .coalesce(1).write.mode("overwrite").parquet(str(d / f"stage{trig}"))
        part = [f for f in os.listdir(d / f"stage{trig}") if f.endswith(".parquet")][0]
        os.makedirs(d / "in", exist_ok=True)
        import shutil as _sh
        _sh.copy(str(d / f"stage{trig}" / part), str(d / "in" / f"{trig:03d}.parquet"))

    stream = (
        spark.readStream.schema(
            "host string, url_canon string, ts timestamp, priority int, "
            "order_key long, crawl_delay_s double")
        .option("maxFilesPerTrigger", 1).parquet(str(d / "in"))
    )
    q = (
        politeness_token_bucket(stream).writeStream.outputMode("append")
        .format("memory").queryName("tb")
        .option("checkpointLocation", str(tmp_path / "ck_tb"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from tb").collect()
    assert len(got) == 12
    for host, delay in (("a.com", 2.0), ("b.com", 1.0)):
        hs = sorted([r for r in got if r.host == host], key=lambda r: r.slot)
        assert [r.slot for r in hs] == list(range(6))
        times = [r.dispatch_at.timestamp() for r in hs]
        # politeness gap holds across ALL 6 dispatches incl. the trigger
        # boundary (slots 2→3)
        for a, b in zip(times, times[1:]):
            assert b - a >= delay - 1e-6
        # deterministic sequential replay: slot k at base + k*delay
        t0 = times[0]
        assert times == [t0 + k * delay for k in range(6)]
