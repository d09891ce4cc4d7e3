"""The BASELINE.json correctness gate: span-sequence equality per doc_id,
crawl-order equality, and final URL-seen-set equality vs the reference
model, under the same seed list + politeness budget (north_rule)."""

import pytest

from news_crawler_spark.plans.crawl import run_crawl
from news_crawler_spark.sources.store import SnapshotStore


@pytest.fixture(scope="module", params=[1, 8], ids=["K1", "K8"])
def crawl_run(spark, world, tmp_path_factory, request):
    """Parity must hold at both cadences: K=1 (the reference's
    page-at-a-time politeness cadence) and K=8 (windowed scale mode)."""
    store = SnapshotStore(str(tmp_path_factory.mktemp("store")))
    res = run_crawl(spark, world, store, pages_per_batch=request.param)
    return store, res


def _engine_docs(spark, store):
    rows = store.read(spark, "documents").collect()
    return {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans] for r in rows}, rows


def test_span_sequence_parity(spark, golden, crawl_run):
    store, _ = crawl_run
    eng, _ = _engine_docs(spark, store)
    gold = {k: [tuple(s) for s in v] for k, v in golden.docs.items()}
    assert set(eng) == set(gold)
    for d in gold:
        assert eng[d] == gold[d], d


def test_crawl_order_parity(spark, golden, crawl_run):
    store, _ = crawl_run
    _, rows = _engine_docs(spark, store)
    order = [r.url_canon for r in sorted(rows, key=lambda r: r.crawl_order)]
    assert order == golden.order


def test_seen_set_parity(spark, golden, crawl_run):
    store, _ = crawl_run
    seen = {r.url_canon for r in store.read(spark, "seen").collect()}
    assert seen == golden.seen
    assert not store.exists("bloom_shards")  # the seen table is the only seen state


def test_timestamp_parity(spark, golden, crawl_run):
    store, _ = crawl_run
    _, rows = _engine_docs(spark, store)
    for r in rows:
        assert r.ts == golden.meta[r.doc_id]["ts"], r.url_canon


def test_original_url_parity(spark, golden, crawl_run):
    """Record shape fidelity: the raw pre-canonical href rides next to
    the canonical key (Nate_Crawler.py:126-132)."""
    store, _ = crawl_run
    _, rows = _engine_docs(spark, store)
    for r in rows:
        assert r.original_url == golden.meta[r.doc_id]["original_url"], r.url_canon


def test_metrics_lineage_present(spark, crawl_run):
    store, res = crawl_run
    m = store.read(spark, "metrics")
    assert m is not None
    stages = {r.stage for r in m.collect()}
    assert {"dispatch", "parse", "accept", "accept_partition"} <= stages
    # per-batch lineage: every committed batch has metric rows
    batches = {r.batch_id for r in m.select("batch_id").distinct().collect()}
    assert len(batches) == res.batches


def test_frontier_log_tracks_all_fetches(spark, crawl_run):
    from pyspark.sql import functions as F

    store, res = crawl_run
    log = store.read(spark, "frontier_log")
    # depth 0 = listing dispatches, depth 1 = article-detail fetches
    assert log.filter(F.col("depth") == 0).count() == res.dispatched
    assert log.filter(F.col("depth") == 1).count() == res.accepted


def test_parity_with_virtual_sites(spark, tmp_path):
    """Frontier breadth (site_mult>1, the bench's scale knob) preserves
    exact parity — virtual sites clone base profiles under new hosts."""
    from news_crawler_spark.reference_model import run_reference_model
    from news_crawler_spark.sources.world import world_dfs
    from news_crawler_spark.synth import build_world

    golden2 = run_reference_model(build_world(0.05, site_mult=2))
    world2 = world_dfs(spark, 0.05, site_mult=2)
    store = SnapshotStore(str(tmp_path / "mult_store"))
    run_crawl(spark, world2, store, pages_per_batch=16)
    rows = store.read(spark, "documents").collect()
    eng = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans] for r in rows}
    assert eng == {k: [tuple(s) for s in v] for k, v in golden2.docs.items()}
    order = [r.url_canon for r in sorted(rows, key=lambda r: r.crawl_order)]
    assert order == golden2.order


@pytest.mark.parametrize("stats_cap, head_cap", [(-1, -1), (None, -1)],
                         ids=["spark-stats-and-head", "spark-head"])
def test_unfused_stats_and_head_paths_parity(spark, world, golden, tmp_path, monkeypatch,
                                             stats_cap, head_cap):
    """The Spark stats2/head-list path that windows past the driver caps
    take (aggregate stats job, Spark seen/fuzzy delta writes, Spark head
    merge) keeps parity and maintains the same head list as the batch
    top-50. Caps of -1 force every window onto that path."""
    from pyspark.sql import functions as F

    from news_crawler_spark.operators.archive import head_list
    from news_crawler_spark.plans import crawl

    if stats_cap is not None:
        monkeypatch.setattr(crawl, "DRIVER_STATS_MAX_ROWS", stats_cap)
    monkeypatch.setattr(crawl, "DRIVER_HEAD_MAX_ROWS", head_cap)
    store = SnapshotStore(str(tmp_path / "unfused"))
    res = run_crawl(spark, world, store, pages_per_batch=2)
    assert res.batches >= 2  # the second window dedups against the first one's Spark delta

    eng, rows = _engine_docs(spark, store)
    assert len(rows) == len(eng)
    assert eng == {k: [tuple(s) for s in v] for k, v in golden.docs.items()}
    assert [r.url_canon for r in sorted(rows, key=lambda r: r.crawl_order)] == golden.order
    assert {r.url_canon for r in store.read(spark, "seen").collect()} == golden.seen

    cols = ["title", "time", "img", "summary", "url", "site", "ts"]
    docs = store.read(spark, "documents")
    expect = [tuple(r[c] for c in cols) for r in head_list(docs, k=50).collect()]
    got = [tuple(r[c] for c in cols) for r in store.read(spark, "head_list")
           .orderBy(F.desc("ts"), F.col("crawl_order")).collect()]
    assert got == expect
