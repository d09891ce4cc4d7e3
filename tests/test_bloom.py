"""Bloom shard prefilter: never a false negative (exactness — SURVEY
§7.3 'Bloom ∧ exactness') and routing stats."""

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
    flagged = bloom.probe_broadcast(cand, shards.collect(), n_shards=32)
    assert all(r.maybe_seen for r in flagged.collect() if "/seen/" in r.url_canon)
    bloom.destroy_broadcasts(bloom.drain_probe_broadcasts())


def _reference_bits(urls, n_shards, n_bits, k):
    """Pure-Python md5 double-hash Bloom: {shard_id: set of bit positions}."""
    import hashlib

    out = {}
    for u in urls:
        d = hashlib.md5(u.encode()).digest()
        h1, h2 = int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1
        out.setdefault(h1 % n_shards, set()).update(
            (h1 + i * h2) % (1 << 64) % n_bits for i in range(k))
    return out


def test_bit_math_matches_python_reference(spark):
    # the vectorized builders and both probes agree with a per-URL Python
    # loop; a small filter (~half its bits set) makes false positives occur
    n_shards, n_bits, k = 8, 1 << 8, bloom.DEFAULT_N_HASHES
    seen_urls = [u for (u,) in _urls("seen", 200)]
    ref = _reference_bits(seen_urls, n_shards, n_bits, k)

    def positions(b):
        return {i for i in range(len(b) * 8) if b[i >> 3] >> (i & 7) & 1}

    rows = bloom.rows_from_urls(seen_urls, n_shards=n_shards, n_bits=n_bits)
    assert {r["shard_id"]: positions(r["bits"]) for r in rows} == ref
    shards = bloom.build_shards(spark.createDataFrame(_urls("seen", 200), "url_canon string"),
                                n_shards=n_shards, n_bits=n_bits)
    assert {r.shard_id: positions(r.bits) for r in shards.collect()} == ref

    cand_urls = seen_urls + [u for (u,) in _urls("new", 400)]
    want = {}
    for u in cand_urls:
        ((s, pos),) = _reference_bits([u], n_shards, n_bits, k).items()
        want[u] = pos <= ref.get(s, set())
    assert 0 < sum(want.values()) - len(seen_urls) < 100  # some false positives
    cand = spark.createDataFrame([(u,) for u in cand_urls], "url_canon string")
    for flagged in (bloom.probe_broadcast(cand, rows, n_shards=n_shards),
                    bloom.probe(cand, shards, n_shards=n_shards)):
        assert {r.url_canon: r.maybe_seen for r in flagged.collect()} == want
    bloom.destroy_broadcasts(bloom.drain_probe_broadcasts())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_null_url_agrees_with_plain_anti_join(spark):
    # a null candidate URL probes negative instead of failing the task,
    # and the dedup keeps it, as the plain anti-join does
    seen = spark.createDataFrame(_urls("seen", 20), "url_canon string")
    shards = bloom.build_shards(seen, n_shards=4, n_bits=1 << 12)
    cand = spark.createDataFrame(
        [(None, 0), ("https://example.com/seen/3", 1), ("https://example.com/new/1", 2)],
        "url_canon string, x int")
    want = sorted(cand.join(seen, on="url_canon", how="left_anti").select("x").collect())
    assert [r.x for r in want] == [0, 2]
    shard_rows = shards.collect()
    for got in (bloom.dedup_new_rows(cand, seen, shard_rows, n_shards=4),
                bloom.dedup_new(cand, seen, shards, n_shards=4)):
        assert got.columns == cand.columns
        assert sorted(got.select("x").collect()) == want
    for flagged in (bloom.probe_broadcast(cand, shard_rows, n_shards=4),
                    bloom.probe(cand, shards, n_shards=4)):
        flags = {r.x: r.maybe_seen for r in flagged.collect()}
        assert flags == {0: False, 1: True, 2: flags[2]}
    bloom.destroy_broadcasts(bloom.drain_probe_broadcasts())


def test_dedup_is_one_anti_join_and_new_rows_spread(spark):
    # the dedup is one exact anti-join with no probe in its plan, under
    # both join strategies; under the sort-merge join the new rows spread
    # over the reducers (keyed on the URL, nothing piles into one)
    seen = spark.createDataFrame(_urls("seen", 300), "url_canon string")
    shard_rows = bloom.build_shards(seen, n_shards=8, n_bits=1 << 14).collect()
    cand = spark.createDataFrame(
        [(u, i) for i, (u,) in enumerate(_urls("seen", 300) + _urls("new", 3000))],
        "url_canon string, x int")
    old = {k: spark.conf.get(k) for k in ("spark.sql.autoBroadcastJoinThreshold",
                                          "spark.sql.adaptive.enabled")}
    try:
        # static plan: AQE would coalesce the reducers this checks
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for broadcast in (True, False):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           old["spark.sql.autoBroadcastJoinThreshold"] if broadcast else "-1")
            out = bloom.dedup_new_rows(cand, F.broadcast(seen) if broadcast else seen,
                                       shard_rows, n_shards=8)
            plan = _plan(out)
            assert "ArrowEvalPython" not in plan, plan
            assert plan.count("LeftAnti") == 1, plan
            assert out.columns == cand.columns
            sizes = out.rdd.glom().map(len).collect()
            assert sum(sizes) == 3000
            if broadcast:
                assert "BroadcastHashJoin" in plan
            else:
                assert "SortMergeJoin" in plan
                assert max(sizes) <= 2 * sum(sizes) / len(sizes), sizes
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
