"""Bloom shard prefilter: never a false negative (exactness — SURVEY
§7.3 'Bloom ∧ exactness'), OR-merge idempotence, and routing stats."""

from pyspark.sql import functions as F

from news_crawler_spark.operators import bloom


def _urls(prefix, n):
    return [(f"https://example.com/{prefix}/{i}",) for i in range(n)]


def test_no_false_negatives_and_routing(spark):
    seen = spark.createDataFrame(_urls("seen", 500), "url_canon string")
    shards = bloom.build_shards(seen, n_shards=8, n_bits=1 << 14)
    cand = spark.createDataFrame(_urls("seen", 500) + _urls("new", 500), "url_canon string")
    flagged = bloom.probe(cand, shards, n_shards=8)
    rows = flagged.collect()
    for r in rows:
        if "/seen/" in r.url_canon:
            assert r.maybe_seen, f"false negative: {r.url_canon}"
    # the filter must prune most definitely-new urls (fp rate sanity)
    fp = sum(1 for r in rows if "/new/" in r.url_canon and r.maybe_seen)
    assert fp < 50


def test_dedup_new_exact(spark):
    seen = spark.createDataFrame(_urls("seen", 300), "url_canon string")
    shards = bloom.build_shards(seen, n_shards=8, n_bits=1 << 14)
    cand = spark.createDataFrame(_urls("seen", 300) + _urls("new", 300), "url_canon string")
    out = {r.url_canon for r in bloom.dedup_new(cand, seen, shards, n_shards=8).collect()}
    assert out == {u for (u,) in _urls("new", 300)}


def test_merge_shards_idempotent(spark):
    a = bloom.build_shards(
        spark.createDataFrame(_urls("a", 100), "url_canon string"), n_shards=4, n_bits=1 << 12
    )
    b = bloom.build_shards(
        spark.createDataFrame(_urls("b", 100), "url_canon string"), n_shards=4, n_bits=1 << 12
    )
    ab = bloom.merge_shards(a, b)
    ab2 = bloom.merge_shards(ab, b)  # re-merging the same delta: no-op
    m1 = {r.shard_id: r.bits for r in ab.collect()}
    m2 = {r.shard_id: r.bits for r in ab2.collect()}
    assert m1 == m2


def test_shard_routing_matches_python_hash(spark):
    df = spark.createDataFrame(_urls("x", 200), "url_canon string")
    got = df.select("url_canon", bloom.shard_id_col(F.col("url_canon"), 32).alias("sid")).collect()
    import hashlib

    for r in got:
        h1 = int.from_bytes(hashlib.md5(r.url_canon.encode()).digest()[:8], "big")
        assert r.sid == h1 % 32


def test_probe_broadcast_registry_lifecycle(spark):
    # probe_broadcast registers its sc.broadcast handle (a strong ref):
    # the crawl loop drains the registry per window and destroys the
    # handles once no live plan can re-evaluate them.
    seen = spark.createDataFrame(_urls("seen", 20), "url_canon string")
    shard_rows = bloom.build_shards(seen, n_shards=4, n_bits=1 << 12).collect()
    cand = spark.createDataFrame(_urls("seen", 20) + _urls("new", 20), "url_canon string")

    bloom.drain_probe_broadcasts()  # isolate from earlier tests
    flagged = bloom.probe_broadcast(cand, shard_rows, n_shards=4)
    handles = bloom.drain_probe_broadcasts()
    assert len(handles) == 1
    bc = handles[0]
    assert bc._jbroadcast.isValid()  # live while the plan is
    assert flagged.filter(F.col("maybe_seen")).count() >= 20
    assert bloom.drain_probe_broadcasts() == []  # drain resets the registry

    # destroy after the plan is released: destroy() must actually run on
    # the live handle, and probing again mints a fresh working broadcast
    del flagged
    bloom.destroy_broadcasts(handles)
    assert not bc._jbroadcast.isValid()
    out = {r.url_canon
           for r in bloom.dedup_new_rows(cand, seen, shard_rows, n_shards=4).collect()}
    assert out == {u for (u,) in _urls("new", 20)}
    bloom.destroy_broadcasts(bloom.drain_probe_broadcasts())


def test_probe_broadcast_registry_is_capped(spark):
    # one-shot callers never drain: the registry keeps only the newest
    # MAX_TRACKED_BROADCASTS handles, so it cannot pin broadcasts forever
    seen = spark.createDataFrame(_urls("seen", 5), "url_canon string")
    shard_rows = bloom.build_shards(seen, n_shards=4, n_bits=1 << 12).collect()
    cand = spark.createDataFrame(_urls("new", 5), "url_canon string")

    bloom.drain_probe_broadcasts()
    n = bloom.MAX_TRACKED_BROADCASTS + 3
    for _ in range(n):
        bloom.probe_broadcast(cand, shard_rows, n_shards=4)
    handles = bloom.drain_probe_broadcasts()
    assert len(handles) == bloom.MAX_TRACKED_BROADCASTS
    assert len({id(h) for h in handles}) == len(handles)
    bloom.destroy_broadcasts(handles)


def test_registry_drain_loses_no_handle_under_concurrency(monkeypatch):
    # handles tracked from several threads while another thread drains
    # must each land in exactly one drained list (atomic swap, no lost
    # append between a copy and a clear)
    import sys
    import threading

    monkeypatch.setattr(bloom, "MAX_TRACKED_BROADCASTS", 1 << 20)
    bloom.drain_probe_broadcasts()
    n_threads, per_thread = 8, 2000
    handles = [[object() for _ in range(per_thread)] for _ in range(n_threads)]
    drained: list = []
    done = threading.Event()

    def tracker(hs):
        for h in hs:
            bloom.track_broadcast(h)

    def drainer():
        while not done.is_set():
            drained.extend(bloom.drain_probe_broadcasts())

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        d = threading.Thread(target=drainer)
        d.start()
        ts = [threading.Thread(target=tracker, args=(hs,)) for hs in handles]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
        done.set()
        d.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not d.is_alive() and not any(t.is_alive() for t in ts)
    drained.extend(bloom.drain_probe_broadcasts())
    assert len(drained) == n_threads * per_thread
    assert {id(h) for h in drained} == {id(h) for hs in handles for h in hs}


def test_broadcast_probe_with_empty_shards(spark):
    # only 3 urls → most of the 32 configured shards have no committed row;
    # routing must still use the configured modulus (regression: a probe
    # keyed on len(present_shards) mis-routes and yields false negatives)
    seen = spark.createDataFrame(_urls("seen", 3), "url_canon string")
    shards = bloom.build_shards(seen, n_shards=32, n_bits=1 << 12)
    assert shards.count() <= 3
    cand = spark.createDataFrame(_urls("seen", 3) + _urls("new", 50), "url_canon string")
    out = {r.url_canon for r in bloom.dedup_new(cand, seen, shards, n_shards=32).collect()}
    assert out == {u for (u,) in _urls("new", 50)}
