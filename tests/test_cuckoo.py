"""Cuckoo-filter URL shards (a standalone operator, not on the crawl
path): no false negatives, low false positives, and — the reason it
exists — deletion support for re-crawl policies."""

from pyspark.sql import functions as F

from news_crawler_spark.operators import cuckoo


def _urls(prefix, n):
    return [(f"https://example.com/{prefix}/{i}",) for i in range(n)]


def test_no_false_negatives_and_fp_rate(spark):
    seen = spark.createDataFrame(_urls("seen", 2000), "url_canon string")
    shards = cuckoo.build_shards(seen, n_shards=8, buckets_per_shard=1 << 10)
    rows = shards.collect()
    assert sum(r.n_items for r in rows) == 2000
    cand = spark.createDataFrame(_urls("seen", 2000) + _urls("new", 2000), "url_canon string")
    out = cuckoo.probe_broadcast(cand, rows, n_shards=8).collect()
    fn = [r.url_canon for r in out if "/seen/" in r.url_canon and not r.maybe_seen]
    assert not fn, f"false negatives: {fn[:3]}"
    fp = sum(1 for r in out if "/new/" in r.url_canon and r.maybe_seen)
    assert fp < 40  # 16-bit fingerprints, 8 probe slots → ~2^-13/slot


def test_delete_makes_urls_new_again(spark):
    seen = spark.createDataFrame(_urls("s", 500), "url_canon string")
    shards = cuckoo.build_shards(seen, n_shards=4, buckets_per_shard=1 << 9).persist()
    dels = spark.createDataFrame(_urls("s", 100), "url_canon string")  # first 100
    updated = cuckoo.delete_urls(shards, dels, n_shards=4).persist()
    assert sum(r.n_items for r in updated.collect()) == 400
    out = {r.url_canon: r.maybe_seen
           for r in cuckoo.probe_broadcast(
               spark.createDataFrame(_urls("s", 500), "url_canon string"),
               updated.collect(), n_shards=4).collect()}
    kept = [u for (u,) in _urls("s", 500)[100:]]
    deleted = [u for (u,) in _urls("s", 500)[:100]]
    assert all(out[u] for u in kept)              # survivors still maybe_seen
    # deleted urls read as definitely-new (barring fp collisions, rare)
    still = sum(1 for u in deleted if out[u])
    assert still <= 2, f"{still} deleted urls still flagged"


def test_versions_bump_on_delete(spark):
    seen = spark.createDataFrame(_urls("v", 50), "url_canon string")
    shards = cuckoo.build_shards(seen, n_shards=2, buckets_per_shard=1 << 8, version=7)
    upd = cuckoo.delete_urls(shards, spark.createDataFrame(_urls("v", 5), "url_canon string"),
                             n_shards=2)
    assert {r.version for r in upd.collect()} == {8}
