"""Bucketed seen table (the 10^10-URL D1 layout): the anti-join must
scan the seen side pre-bucketed — Exchange only on the candidate side —
and stay exactly equal to the plain anti-join."""

from pyspark.sql import functions as F

from news_crawler_spark.sources.bucketed import (
    anti_join_seen_bucketed,
    compact_seen_bucketed,
    write_seen_bucketed,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_anti_join_no_seen_side_exchange(spark):
    seen = spark.range(50_000).select(
        F.concat(F.lit("https://ex.com/a/"), F.col("id")).alias("url_canon")
    )
    write_seen_bucketed(seen, "tb_seen", n_buckets=8)
    cand = spark.range(0, 60_000).select(
        F.concat(F.lit("https://ex.com/a/"), F.col("id")).alias("url_canon"),
        (F.col("id") % 7).alias("x"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the non-broadcast join strategy (the at-scale case)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = anti_join_seen_bucketed(cand, spark, "tb_seen")
        plan = _plan(out)
        n = out.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan  # seen side read pre-bucketed
    # exactly ONE Exchange in the whole plan — the candidate side;
    # the 10^10-row seen side never re-shuffles
    assert plan.count("Exchange hashpartitioning") == 1
    assert n == 10_000  # exact: ids 50000..59999 are unseen
    spark.sql("DROP TABLE IF EXISTS tb_seen")


def test_compact_folds_deltas_idempotently(spark):
    base = spark.createDataFrame([(f"u{i}",) for i in range(10)], "url_canon string")
    write_seen_bucketed(base, "tb_seen2", n_buckets=4)
    delta = spark.createDataFrame([("u5",), ("u10",), ("u11",)], "url_canon string")
    compact_seen_bucketed(spark, delta, "tb_seen2", n_buckets=4)
    got = {r.url_canon for r in spark.table("tb_seen2").collect()}
    assert got == {f"u{i}" for i in range(12)}
    # re-compacting the same delta changes nothing (idempotent)
    compact_seen_bucketed(spark, delta, "tb_seen2", n_buckets=4)
    assert spark.table("tb_seen2").count() == 12
    spark.sql("DROP TABLE IF EXISTS tb_seen2")


# ------------------------------------------------- compaction in the loop

def test_crawl_compaction_bounds_state_and_keeps_parity(spark, world, golden, tmp_path):
    """compact_every=2 on a multi-window run: parity holds, the seen
    union chain never exceeds the compaction interval, and the folded
    table equals the seen set as of the last fold."""
    from news_crawler_spark.plans.crawl import run_crawl
    from news_crawler_spark.sources.store import SnapshotStore

    store = SnapshotStore(str(tmp_path / "cstore"))
    res = run_crawl(spark, world, store, pages_per_batch=1, compact_every=2)
    # folds fire at the top of the window AFTER the interval elapses
    assert res.compactions == (res.batches - 1) // 2
    assert res.compactions >= 1
    assert res.max_union_depth <= 2  # chain bounded by the interval
    # exact parity under compaction
    rows = store.read(spark, "documents").collect()
    eng = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
           for r in rows}
    assert eng == {k: [tuple(s) for s in v] for k, v in golden.docs.items()}
    seen = {r.url_canon for r in store.read(spark, "seen").collect()}
    assert seen == golden.seen
    # the folded table holds every URL seen before the last fold — a
    # subset of the final seen set, and a superset of nothing else
    tab = {r.url_canon for r in spark.table(res.seen_table).collect()}
    assert tab <= golden.seen
    assert len(tab) > 0
    spark.sql(f"DROP TABLE IF EXISTS {res.seen_table}")


def test_crawl_compaction_anti_join_is_one_bucketed_scan(spark, world, tmp_path):
    """After a fold, the loop's seen side IS the bucketed table: replaying
    the seen anti-join (bloom.dedup_new_rows, the same left_anti the loop
    runs) against it shows ONE Exchange (candidates) and a pre-bucketed
    seen scan — also with a Bloom filter's shard rows passed, which add
    no probe to the plan."""
    from news_crawler_spark.operators import bloom
    from news_crawler_spark.plans.crawl import run_crawl
    from news_crawler_spark.sources.store import SnapshotStore

    store = SnapshotStore(str(tmp_path / "pstore"))
    res = run_crawl(spark, world, store, pages_per_batch=1, compact_every=1)
    assert res.compactions >= 3
    cand = spark.range(2000).select(
        F.concat(F.lit("https://ex.com/p/"), F.col("id")).alias("url_canon"),
        (F.col("id") % 5).alias("x"),
    )
    seen = spark.table(res.seen_table)
    shard_rows = bloom.rows_from_urls([r.url_canon for r in seen.collect()])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plans = [_plan(bloom.dedup_new_rows(cand, seen, rows)) for rows in ([], shard_rows)]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for plan in plans:
        assert "Bucketed: true" in plan
        assert plan.count("Exchange hashpartitioning") == 1
        assert "ArrowEvalPython" not in plan
    spark.sql(f"DROP TABLE IF EXISTS {res.seen_table}")


def test_kill_resume_with_compaction(spark, world, tmp_path):
    """Crash + resume with compaction enabled matches an uninterrupted
    compacted run — the run-local table rebuild cannot over-see replayed
    windows."""
    import pytest as _pt

    from news_crawler_spark.plans.crawl import InjectedFailure, run_crawl
    from news_crawler_spark.sources.store import SnapshotStore

    s_full = SnapshotStore(str(tmp_path / "cfull"))
    run_crawl(spark, world, s_full, pages_per_batch=2, compact_every=1)
    s_kill = SnapshotStore(str(tmp_path / "ckill"))
    with _pt.raises(InjectedFailure):
        run_crawl(spark, world, s_kill, pages_per_batch=2,
                  compact_every=1, fail_after_batch=1)
    res = run_crawl(spark, world, s_kill, pages_per_batch=2, compact_every=1)

    def _state(store):
        docs = {(r.doc_id, tuple((s.kind, s.text, s.media_ref, s.offset)
                                 for s in r.spans), r.crawl_order)
                for r in store.read(spark, "documents").collect()}
        return docs, {r.url_canon for r in store.read(spark, "seen").collect()}

    assert _state(s_full) == _state(s_kill)
    spark.sql(f"DROP TABLE IF EXISTS {res.seen_table}")
