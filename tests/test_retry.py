"""C5 retry/requeue: failed fetches are routed back to the frontier with
retry state and a deterministic window-based backoff, and are recovered
when the site comes back (SURVEY §2.9 C5 — the reference only logs and
drops, daum_scrape.yml:43; the north rule wants requeue)."""

import pytest
from pyspark.sql import functions as F

from news_crawler_spark import synth
from news_crawler_spark.plans.crawl import run_crawl
from news_crawler_spark.sources.store import SnapshotStore
from news_crawler_spark.sources.world import world_dfs


def _broken(world, url):
    w = dict(world)
    w["corpus"] = world["corpus"].withColumn(
        "http_status",
        F.when(F.col("url_canon") == url, F.lit(503)).otherwise(F.col("http_status")),
    )
    return w


@pytest.fixture(scope="module")
def target_url():
    # fntoday: max_pages=2, no stop-on-empty; break seed 0 page 2
    return synth.listing_url("fntoday", 0, 2)


def test_failed_fetch_requeued_and_recovered(spark, world, tmp_path, target_url):
    store = SnapshotStore(str(tmp_path / "retry_store"))
    broken = _broken(world, target_url)
    run_crawl(spark, broken, store, pages_per_batch=2, max_batches=1, max_retries=2)

    # the failure is logged AND requeued with attempt+1 and a backoff window
    log = store.read(spark, "frontier_log").filter(F.col("url_canon") == target_url)
    assert [r.status for r in log.collect()] == ["failed"]
    pend = store.read(spark, "retry_pending").collect()
    assert len(pend) == 1
    assert pend[0].url_canon == target_url
    assert pend[0].attempt == 1 and pend[0].retry_after_batch == 2

    # site comes back: resume against the healthy corpus
    run_crawl(spark, world, store, pages_per_batch=2, max_retries=2)
    log2 = store.read(spark, "frontier_log").filter(F.col("url_canon") == target_url)
    stats = {(r.status, r.attempt) for r in log2.collect()}
    assert ("failed", 0) in stats and ("fetched", 1) in stats
    assert store.read(spark, "retry_pending").count() == 0  # drained

    # the recovered page actually parsed: the retry run has a batch-2
    # window whose parse metrics include the recovered page's items
    m2 = store.read(spark, "metrics").filter(
        (F.col("batch_id") == 2) & (F.col("stage") == "parse")
    ).collect()
    assert m2 and m2[0].rows_out >= synth.ITEMS_PER_PAGE

    # without retries the page stays lost: the resumed run never
    # re-dispatches it (the frontier only moves forward)
    store0 = SnapshotStore(str(tmp_path / "noretry_store"))
    run_crawl(spark, _broken(world, target_url), store0,
              pages_per_batch=2, max_batches=1, max_retries=0)
    run_crawl(spark, world, store0, pages_per_batch=2, max_retries=0)
    assert store0.read(spark, "frontier_log").filter(
        (F.col("url_canon") == target_url) & (F.col("status") == "fetched")
    ).count() == 0
    docs0 = {r.doc_id for r in store0.read(spark, "documents").collect()}
    docs1 = {r.doc_id for r in store.read(spark, "documents").collect()}
    assert docs0 <= docs1  # retry never loses docs


def test_retry_gives_up_after_max_attempts(spark, world, tmp_path, target_url):
    """A permanently dead page retries max_retries times, then drops —
    bounded state, no infinite requeue."""
    store = SnapshotStore(str(tmp_path / "dead_store"))
    broken = _broken(world, target_url)
    run_crawl(spark, broken, store, pages_per_batch=2, max_retries=2)
    log = store.read(spark, "frontier_log").filter(F.col("url_canon") == target_url)
    attempts = sorted(r.attempt for r in log.collect())
    assert attempts == [0, 1, 2]  # original + 2 retries
    assert store.read(spark, "retry_pending").count() == 0


def test_retry_off_keeps_parity(spark, world, golden, tmp_path):
    """max_retries=0 (default) is byte-identical to the parity baseline —
    the feature adds no behavior unless asked for."""
    store = SnapshotStore(str(tmp_path / "off_store"))
    run_crawl(spark, world, store, pages_per_batch=4, max_retries=0)
    rows = store.read(spark, "documents").collect()
    eng = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans] for r in rows}
    assert eng == {k: [tuple(s) for s in v] for k, v in golden.docs.items()}
