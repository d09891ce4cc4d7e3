"""Checkpoint/resume + idempotence (SURVEY §5.2): kill after batch k,
restart from the snapshot, final tables equal an uninterrupted run —
the semantics the reference gets from git-committing news_json/*.json
per run (daum_scrape.yml:47-56)."""

import pytest

from news_crawler_spark.plans.crawl import InjectedFailure, run_crawl
from news_crawler_spark.sources.store import SnapshotStore, merge_insert_new


def _final_state(spark, store):
    docs = {
        (r.doc_id, tuple((s.kind, s.text, s.media_ref, s.offset) for s in r.spans), r.crawl_order)
        for r in store.read(spark, "documents").collect()
    }
    seen = {r.url_canon for r in store.read(spark, "seen").collect()}
    return docs, seen


def test_kill_resume_equals_uninterrupted(spark, world, tmp_path):
    s_full = SnapshotStore(str(tmp_path / "full"))
    run_crawl(spark, world, s_full, pages_per_batch=2)

    s_killed = SnapshotStore(str(tmp_path / "killed"))
    with pytest.raises(InjectedFailure):
        run_crawl(spark, world, s_killed, pages_per_batch=2, fail_after_batch=1)
    assert s_killed.last_batch_id == 1
    # resume — picks up from the last committed snapshot
    run_crawl(spark, world, s_killed, pages_per_batch=2)

    assert _final_state(spark, s_full) == _final_state(spark, s_killed)


def test_merge_insert_idempotent(spark):
    existing = spark.createDataFrame([("u1", 1), ("u2", 2)], "url_canon string, v int")
    new = spark.createDataFrame([("u2", 9), ("u3", 3), ("u3", 4)], "url_canon string, v int")
    delta = merge_insert_new(existing, new, "url_canon")
    got = {r.url_canon for r in delta.collect()}
    assert got == {"u3"}  # u2 matched → not inserted; in-batch dup collapsed
    # re-applying the same delta after union yields nothing new
    merged = existing.unionByName(delta)
    again = merge_insert_new(merged, new, "url_canon")
    assert again.count() == 0


def test_store_atomic_commit_and_gc(spark, tmp_store):
    # keep_versions=0: superseded overwrite versions GC immediately
    # (the round-1 behavior; keep_versions>0 retains a rollback window,
    # covered by tests/test_store_rollback.py)
    store = SnapshotStore(tmp_store, keep_versions=0)
    df1 = spark.createDataFrame([(1,)], "a int")
    store.commit(0, overwrite={"t": df1})
    store.commit(1, overwrite={"t": spark.createDataFrame([(2,)], "a int")},
                 append={"log": df1})
    assert store.last_batch_id == 1
    assert [r.a for r in store.read(spark, "t").collect()] == [2]
    store.commit(2, append={"log": spark.createDataFrame([(5,)], "a int")})
    assert sorted(r.a for r in store.read(spark, "log").collect()) == [1, 5]
    # superseded overwrite versions were GC'd
    import os

    assert len(os.listdir(os.path.join(tmp_store, "t"))) == 1


def test_orphan_dirs_from_crashed_commit_are_ignored_and_gcd(spark, tmp_store):
    """A crash between data writes and the manifest swap leaves orphan
    version dirs; readers never see them and the next commit GCs them."""
    import os

    store = SnapshotStore(tmp_store)
    store.commit(1, overwrite={"t": spark.createDataFrame([(1,)], "a int")})
    # simulate a crashed commit: data written, manifest NOT swapped
    orphan = os.path.join(tmp_store, "t", "v99")
    spark.createDataFrame([(999,)], "a int").write.mode("overwrite").parquet(orphan)
    assert [r.a for r in store.read(spark, "t").collect()] == [1]  # reader unaffected
    store.commit(2, overwrite={"t": spark.createDataFrame([(2,)], "a int")})
    assert not os.path.exists(orphan)  # GC'd at the next successful commit
    assert [r.a for r in store.read(spark, "t").collect()] == [2]


def test_time_travel_append_tables(spark, world, tmp_path):
    """read_at_batch: documents as of window k equals what window k had
    committed (Iceberg snapshot-read semantics on the append deltas)."""
    store = SnapshotStore(str(tmp_path / "tt"))
    run_crawl(spark, world, store, pages_per_batch=2)
    assert store.last_batch_id >= 2
    full = store.read(spark, "documents").count()
    at1 = store.read_at_batch(spark, "documents", 1)
    n1 = at1.count()
    assert 0 < n1 < full
    # as-of rows are exactly the batch_id ≤ 1 subset of the live table
    live_b1 = store.read(spark, "documents").filter("batch_id <= 1").count()
    assert n1 == live_b1
    assert store.read_at_batch(spark, "documents", 999) is None
    # overwrite tables time-travel within the keep_versions window:
    # seed_state as of batch 1 shows the seeds still active then
    ss1 = store.read_at_batch(spark, "seed_state", 1)
    assert ss1 is not None
    live = store.read(spark, "seed_state")
    assert ss1.filter("active").count() >= live.filter("active").count()


@pytest.mark.parametrize("blooms", [(False, True), (True, False, True)],
                         ids=["off-on", "on-off-on"])
def test_resume_rebuilds_bloom_filter_when_setting_changes(spark, world, golden, tmp_path,
                                                          blooms):
    """K=1 resume ticks (the tick_crawl shape) with ``use_bloom`` switched
    between calls: one window per call, then a resume that runs to the
    end. ``use_bloom`` is an ignored keyword, so every call rebuilds its
    cross-window state from the committed seen set alone, writes no Bloom
    filter, and still accepts each document once, in reference order,
    with the reference seen set."""
    store = SnapshotStore(str(tmp_path / "switch"))
    for use_bloom in blooms[:-1]:  # one window each
        run_crawl(spark, world, store, use_bloom=use_bloom, pages_per_batch=1,
                  max_batches=max(store.last_batch_id, 0) + 1)
    assert store.last_batch_id == len(blooms) - 1
    run_crawl(spark, world, store, use_bloom=blooms[-1], pages_per_batch=1)
    assert not store.exists("bloom_shards")  # the seen table is the only seen state

    rows = store.read(spark, "documents").collect()
    assert len(rows) == len({r.doc_id for r in rows})
    eng = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans] for r in rows}
    assert eng == {k: [tuple(s) for s in v] for k, v in golden.docs.items()}
    assert [r.url_canon for r in sorted(rows, key=lambda r: r.crawl_order)] == golden.order
    seen = [r.url_canon for r in store.read(spark, "seen").collect()]
    assert sorted(seen) == sorted(golden.seen)
