"""Archive sinks (S6/S9): day-grouped nested archive + head list over
crawled documents, checked against a driver-side recomputation from the
golden run."""

import datetime as dt

import pytest

from news_crawler_spark.operators.archive import day_grouped_archive, head_list
from news_crawler_spark.plans.crawl import run_crawl
from news_crawler_spark.sources.store import SnapshotStore


@pytest.fixture(scope="module")
def documents(spark, world, tmp_path_factory):
    store = SnapshotStore(str(tmp_path_factory.mktemp("archive_store")))
    run_crawl(spark, world, store, pages_per_batch=8)
    return store.read(spark, "documents")


def test_day_groups_match_golden(spark, golden, documents):
    got = day_grouped_archive(documents).collect()
    # recompute expected groups from the golden run
    by_key: dict[tuple, list] = {}
    for did, meta in golden.meta.items():
        key = (meta["site"], meta["ts"].date())
        by_key.setdefault(key, []).append((meta["ts"], did))
    assert len(got) == len(by_key)
    for r in got:
        # Korean date key shape: 'YYYY년 MM월 DD일 요일'
        assert "년" in r.date_key and "일" in r.date_key
        # articles are newest-first within the day
        times = [a["time"] for a in r.articles]
        assert times == sorted(times, reverse=True)
    n_articles = sum(len(r.articles) for r in got)
    assert n_articles == len(golden.docs)


def test_head_list_matches_golden(spark, golden, documents):
    got = head_list(documents, k=20).collect()
    # golden newest-20 by (ts desc, crawl order)
    order_of = {u: i for i, u in enumerate(golden.order)}
    ranked = sorted(
        golden.meta.values(), key=lambda m: (-m["ts"].timestamp(), order_of[m["url_canon"]])
    )[:20]
    assert [r.url for r in got] == [m["url_canon"] for m in ranked]
    assert all(isinstance(r.title, str) and r.title for r in got)


def test_head_list_plan_is_take_ordered(spark, documents):
    plan = head_list(documents, k=50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_merge_head_list_dedup(spark, documents, tmp_path):
    from news_crawler_spark.operators.archive import merge_head_list, read_archive_json, write_archive_json, day_grouped_archive

    existing = head_list(documents, k=10)
    # "new" = top 15 → 10 overlap, 5 fresh
    new = head_list(documents, k=15)
    merged = merge_head_list(existing, new, k=50)
    urls = [r.url for r in merged.collect()]
    assert len(urls) == len(set(urls)) == 15  # D6: no dup links
    # JSON round trip (S6 sink shape → S8 source)
    arch = day_grouped_archive(documents)
    write_archive_json(arch, str(tmp_path / "arch"))
    back = read_archive_json(spark, str(tmp_path / "arch"))
    assert back.count() == arch.count()
    assert {"site", "date_key", "articles"} <= set(back.columns)


def test_scheduler_jitter_deterministic(spark):
    from pyspark.sql import functions as F
    from news_crawler_spark.functions.timeparse import batch_ts_lit
    from news_crawler_spark.operators.scheduler import order_key_col, schedule

    due = spark.createDataFrame(
        [(f"https://h9.com/p/{i}", "h9.com", 0, i) for i in range(20)],
        "url_canon string, host string, priority int, pos int",
    ).withColumn("order_key", order_key_col(F.lit(1), F.lit(0), F.col("pos")))
    robots = spark.createDataFrame(
        [("h9.com", 1.0, [])],
        "host string, crawl_delay_s double, disallow_prefixes array<string>",
    )
    a = {r.url_canon: r.next_fetch_after
         for r in schedule(due, robots, batch_ts_lit(), 60.0, jitter_range_s=3.0).collect()}
    b = {r.url_canon: r.next_fetch_after
         for r in schedule(due, robots, batch_ts_lit(), 60.0, jitter_range_s=3.0).collect()}
    assert a == b  # C2: seeded jitter is replay-exact
    base = {r.url_canon: r.next_fetch_after
            for r in schedule(due, robots, batch_ts_lit(), 60.0).collect()}
    assert any(a[u] != base[u] for u in a)  # and actually jitters


def test_crawl_maintains_incremental_head_list(spark, world, tmp_path):
    """S9 in the loop: the per-window incrementally-merged head_list table
    equals the batch top-50 over the final documents table."""
    from pyspark.sql import functions as F

    from news_crawler_spark.operators.archive import head_list
    from news_crawler_spark.plans.crawl import run_crawl
    from news_crawler_spark.sources.store import SnapshotStore

    store = SnapshotStore(str(tmp_path / "head_store"))
    run_crawl(spark, world, store, pages_per_batch=2)
    docs = store.read(spark, "documents")
    expect = {(r.url, str(r.ts)) for r in head_list(docs, k=50).collect()}
    got_rows = store.read(spark, "head_list").collect()
    got = {(r.url, str(r.ts)) for r in got_rows}
    assert len(got_rows) == min(50, docs.count())
    assert got == expect


def test_nested_archive_byte_shape(spark, golden, documents, tmp_path):
    """S6 byte-shape arm: write_archive_json(nested=True) emits one
    {site}_News.json per site, byte-identical to the parity model's
    independent rendering of the reference format."""
    import os

    from news_crawler_spark.operators.archive import day_grouped_archive, write_archive_json
    from news_crawler_spark.reference_model import render_archive_json

    out = str(tmp_path / "news_json")
    write_archive_json(day_grouped_archive(documents), out, nested=True)
    expected = render_archive_json(golden)
    got = {}
    for fn in os.listdir(out):
        assert fn.endswith("_News.json")
        with open(os.path.join(out, fn), encoding="utf-8") as f:
            got[fn[: -len("_News.json")]] = f.read()
    assert set(got) == set(expected)
    for site in expected:
        assert got[site] == expected[site], site
