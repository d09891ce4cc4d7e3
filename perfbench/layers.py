"""Per-layer metrics of a traced run.

``crawl.*`` comes from ``CrawlResult`` (``prelude_s`` and
``per_batch[*]["wall_ms"]``) and ``spark.*`` from the status tracker
around each traced operation. The other layers are timed by calling
their public functions directly on the operation's own inputs (the
window's dispatched listing pages, its parsed links, the snapshot's seen
set), one span per call, each ending in an action so the span covers
the work. Metrics of layers a workload does not exercise read 0.
"""

from __future__ import annotations

import os
import shutil
import time

from . import inputs
from .probe import median
from .tick import STAGES

PER_LAYER: list[tuple[str, str, str]] = [
    ("crawl.prelude_ms", "ms", "lower"),
    *[(f"crawl.stage_ms.{s}", "ms", "lower") for s in STAGES],
    ("spark.jobs_per_window", "count", "lower"),
    ("spark.stages_per_window", "count", "lower"),
    ("spark.tasks_per_window", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.busy_share", "ratio", "higher"),
    ("fetch.listing_pages", "count", "lower"),
    ("fetch.article_pages", "count", "lower"),
    ("fetch.useful_share", "ratio", "higher"),
    ("parse.ms", "ms", "lower"),
    ("parse.pages_per_s", "1/s", "higher"),
    ("parse.items_per_page", "count", "higher"),
    ("canon.ms", "ms", "lower"),
    ("canon.null_share", "ratio", "lower"),
    ("relevance.ms", "ms", "lower"),
    ("relevance.pass_share", "ratio", "higher"),
    ("timeparse.ms", "ms", "lower"),
    ("schedule.due_rows", "count", "lower"),
    ("schedule.dispatched_rows", "count", "higher"),
    ("schedule.ms", "ms", "lower"),
    ("robots.ms", "ms", "lower"),
    ("seen.probe_ms", "ms", "lower"),
    ("seen.maybe_share", "ratio", "lower"),
    ("seen.false_positive_share", "ratio", "lower"),
    ("seen.cuckoo_probe_ms", "ms", "lower"),
    ("seen.cuckoo_false_positive_share", "ratio", "lower"),
    ("fuzzy.ms", "ms", "lower"),
    ("fuzzy.rows_in", "count", "lower"),
    ("fuzzy.rows_out", "count", "higher"),
    ("spans.ms", "ms", "lower"),
    ("archive.ms", "ms", "lower"),
    ("store.read_ms", "ms", "lower"),
    ("store.commit_ms", "ms", "lower"),
    ("store.bytes_written", "bytes", "lower"),
    ("seen.compact_ms", "ms", "lower"),
    ("streaming.tick_ms", "ms", "lower"),
    ("trace.overhead_ms", "ms", "lower"),
]


def _fill(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    unknown = set(values) - {n for n, _, _ in PER_LAYER}
    if unknown:
        raise KeyError(f"per-layer metrics not in PER_LAYER: {sorted(unknown)}")
    return {n: (float(values.get(n, 0.0)), u) for n, u, _ in PER_LAYER}


class _Timer:
    """Span around one call into a layer; its wall time in ms is added to
    ``metrics[metric]`` (``metric`` None: span only)."""

    def __init__(self, tracer, metrics: dict[str, float]):
        self.tracer = tracer
        self.metrics = metrics

    def __call__(self, metric: str | None, span: str, fn):
        with self.tracer.span(span):
            t0 = time.perf_counter()
            out = fn()
            ms = (time.perf_counter() - t0) * 1000
        if metric:
            self.metrics[metric] = self.metrics.get(metric, 0.0) + ms
        return out


def _spark_layer(ops: list[dict], run) -> dict[str, float]:
    return {
        "spark.jobs_per_window": median([o["spark"]["jobs"] for o in ops]),
        "spark.stages_per_window": median([o["spark"]["stages"] for o in ops]),
        "spark.tasks_per_window": median([o["spark"]["tasks"] for o in ops]),
        "spark.failed_tasks": sum(o["spark"]["failed_tasks"] for o in ops),
        "spark.busy_share": run.busy.share() if run.busy is not None else 0.0,
    }


def _seen_probes(t: _Timer, cands, seen, n_shards: int = 32) -> dict[str, float]:
    """Bloom and cuckoo probes of ``cands(url_canon)`` against ``seen``;
    false positives are probe hits that the exact seen set rejects."""
    from pyspark.sql import functions as F

    from news_crawler_spark.operators import bloom, cuckoo

    truth = cands.join(seen.select("url_canon", F.lit(True).alias("in_seen")).distinct(),
                       on="url_canon", how="left")
    out = {}
    for name, mod, metric in (("bloom", bloom, "seen.probe_ms"),
                              ("cuckoo", cuckoo, "seen.cuckoo_probe_ms")):
        shard_rows = [r.asDict() for r in mod.build_shards(seen, n_shards=n_shards).collect()]
        if not shard_rows:
            continue
        flagged = mod.probe_broadcast(truth, shard_rows, n_shards)
        row = t(metric, f"operators.{name}.probe_broadcast", lambda: flagged.agg(
            F.count("*").alias("n"),
            F.sum(F.col("maybe_seen").cast("int")).alias("maybe"),
            F.sum((F.col("maybe_seen") & F.col("in_seen").isNull()).cast("int")).alias("fp"),
            F.sum(F.col("in_seen").isNull().cast("int")).alias("neg"),
        ).first())
        n, neg = row["n"] or 0, row["neg"] or 0
        fp_share = (row["fp"] or 0) / neg if neg else 0.0
        if name == "bloom":
            out["seen.maybe_share"] = (row["maybe"] or 0) / n if n else 0.0
            out["seen.false_positive_share"] = fp_share
        else:
            out["seen.cuckoo_false_positive_share"] = fp_share
    bloom.destroy_broadcasts(bloom.drain_probe_broadcasts())
    return out


# ---------------------------------------------------------------- ticks

def tick_layers(w, untraced: list[dict], traced: list[dict]) -> dict[str, tuple[float, str]]:
    from pyspark.sql import functions as F

    from news_crawler_spark.config import BATCH_TS, keyword_scope
    from news_crawler_spark.functions.relevance import keyword_arrays, relevance_expr
    from news_crawler_spark.functions.timeparse import batch_ts_lit, parse_time_expr
    from news_crawler_spark.functions.urls import canonicalize_expr
    from news_crawler_spark.operators.archive import head_list
    from news_crawler_spark.operators.fuzzy import fuzzy_gate
    from news_crawler_spark.operators.parse import parse_article, parse_listing
    from news_crawler_spark.operators.robots import parse_robots
    from news_crawler_spark.operators.scheduler import (
        order_key_col, robots_gate, schedule_gated)
    from news_crawler_spark.operators.spans import build_spans
    from news_crawler_spark.sources.bucketed import compact_seen_bucketed
    from news_crawler_spark.sources.store import LocalTable, SnapshotStore
    from news_crawler_spark.sources.world import profiles_df
    from news_crawler_spark.streaming.stream import crawl_foreach_batch

    run = w.run
    spark = run.spark
    ops = traced or untraced
    m: dict[str, float] = {}
    t = _Timer(run.tracer, m)

    # plans.crawl + Spark status tracker, per traced tick
    m["crawl.prelude_ms"] = median([o["res"].prelude_s * 1000 for o in ops])
    for s in STAGES:
        m[f"crawl.stage_ms.{s}"] = median(
            [o["res"].per_batch[0]["wall_ms"].get(s, 0) for o in ops if o["res"].per_batch])
    m.update(_spark_layer(ops, run))
    if traced and untraced:
        m["trace.overhead_ms"] = (median([o["wall"] for o in traced])
                                  - median([o["wall"] for o in untraced])) * 1000

    world, store = w.world, w.last_store
    window = store.last_batch_id
    corpus = world["corpus"]
    base = SnapshotStore(w.base)
    bts = batch_ts_lit(BATCH_TS)

    # sources.store: the resume read of the snapshot's state tables
    def read_state():
        n = 0
        for name in ("seed_state", "frontier_pending", "fuzzy_titles", "head_list",
                     "seen", "bloom_shards"):
            df = base.read(spark, name)
            n += df.count() if df is not None else 0
        return n
    t("store.read_ms", "sources.store.read", read_state)

    # sources.world: the window's dispatched listing pages, from the log
    disp = (store.read(spark, "frontier_log")
            .filter((F.col("batch_id") == window) & (F.col("depth") == 0))
            .select("url_canon", "site", "seed_index", "page"))
    pages = disp.join(
        corpus.filter((F.col("page_kind") == "listing") & (F.col("page") == window)
                      & (F.col("http_status") == 200))
        .select("url_canon", "content", "charset"), on="url_canon").cache()
    n_pages = t(None, "sources.world.listing_pages", pages.count)

    # operators.parse (listing pages; article pages below)
    items = parse_listing(pages).withColumnRenamed("url_canon", "listing_url").cache()
    n_items = t("parse.ms", "operators.parse.parse_listing", items.count)

    # functions.urls
    sites = sorted({s["site"] for s in inputs.tick_world_py()["seeds"]
                    if s["seed_index"] in set(w.prm["seeds"])})
    profiles = F.broadcast(profiles_df(spark, sites))
    canon = (items.join(profiles, on="site")
             .withColumn("url_canon", canonicalize_expr(F.col("href"), F.col("origin"),
                                                        F.col("strip_query")))
             .cache())
    n_null = t("canon.ms", "functions.urls.canonicalize_expr",
               lambda: canon.filter(F.col("url_canon").isNull()).count())
    links = canon.filter(F.col("url_canon").isNotNull()).cache()
    n_links = links.count()

    # functions.relevance (keywords as the crawl ran them)
    inc_arr, exc_arr = keyword_arrays(w.prm["include"], w.prm["exclude"])
    match = F.when(F.col("match_input") == "title_lead",
                   F.concat_ws(" ", F.col("title"), F.col("lead"))).otherwise(F.col("title"))
    n_pass = t("relevance.ms", "functions.relevance.relevance_expr", lambda: links.filter(
        relevance_expr(match, F.col("relevance_variant"), F.col("use_exclude"),
                       inc_arr, exc_arr, F.col("min_include"))).count())

    # functions.timeparse
    t("timeparse.ms", "functions.timeparse.parse_time_expr", lambda: links.filter(
        parse_time_expr(F.col("time_str"), F.col("time_chain"), bts).isNotNull()).count())

    # operators.bloom / operators.cuckoo: window links vs the snapshot's seen
    seen = base.read(spark, "seen").select("url_canon").cache()
    m.update(_seen_probes(t, links.select("url_canon").distinct(), seen))

    # sources.world + operators.parse: article-detail pages the window needs
    new_links = links.join(seen, on="url_canon", how="left_anti")
    detail_urls = new_links.filter(F.col("time_source") == "article") \
        .select("url_canon").distinct()
    arts = corpus.filter(F.col("page_kind") == "article") \
        .join(F.broadcast(detail_urls), on="url_canon", how="left_semi")
    n_arts = t("parse.ms", "operators.parse.parse_article", parse_article(arts).count)

    # operators.fuzzy: fuzzy-dedup sites' links against the snapshot titles
    fz_in = new_links.filter(F.col("fuzzy_dedup")).select(
        "site", order_key_col(F.col("page"), F.col("seed_index"), F.col("dom_pos"))
        .alias("order_key"), "url_canon", "title").cache()
    m["fuzzy.rows_in"] = fz_in.count()
    m["fuzzy.rows_out"] = t("fuzzy.ms", "operators.fuzzy.fuzzy_gate",
                            fuzzy_gate(fz_in, base.read(spark, "fuzzy_titles")).count)

    # operators.spans / operators.archive
    t("spans.ms", "operators.spans.build_spans", lambda: links.select(
        build_spans(F.col("title"), F.lit(""), F.col("img"))).count())
    docs = store.read(spark, "documents")
    t("archive.ms", "operators.archive.head_list", head_list(docs).collect)

    # operators.scheduler + operators.robots: the window's due set
    due = (base.read(spark, "frontier_pending").filter(F.col("seed_index") >= 0)
           .select(F.concat(F.col("url_base"), F.lit("?page="), F.col("next_page"))
                   .alias("url_canon"), "site", "seed_index",
                   F.col("next_page").alias("page"), F.col("seed_index").alias("priority"))
           .withColumn("host", F.parse_url(F.col("url_canon"), F.lit("HOST")))
           .withColumn("order_key", order_key_col(F.col("page"), F.col("seed_index"),
                                                  F.lit(0)))
           .cache())
    m["schedule.due_rows"] = due.count()

    def schedule():
        gated = robots_gate(due, world["robots"])
        return schedule_gated(gated, bts, 60.0, n_salts=4).count()
    m["schedule.dispatched_rows"] = t("schedule.ms", "operators.scheduler.schedule_gated",
                                      schedule)
    robots_pages = corpus.filter(F.col("page_kind") == "robots").select(
        F.parse_url(F.col("url_canon"), F.lit("HOST")).alias("host"), "content")
    t("robots.ms", "operators.robots.parse_robots", parse_robots(robots_pages).count)

    # sources.store: a synchronous commit of the window's output tables
    cdir = os.path.join(run.work, "commit_probe")
    cstore = SnapshotStore(cdir)
    state = LocalTable([(1, "probe", 2, True)],
                       "seed_index int, site string, max_pages int, active boolean")
    t("store.commit_ms", "sources.store.commit", lambda: cstore.commit(
        1, overwrite={"seed_state": state},
        append={"documents": docs, "seen": store.read(spark, "seen")}))
    m["store.bytes_written"] = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(cdir) for f in fs)

    # sources.bucketed: fold the seen set into the bucketed layout
    table = f"perfbench_seen_{os.getpid()}"
    t("seen.compact_ms", "sources.bucketed.compact_seen_bucketed",
      lambda: compact_seen_bucketed(spark, store.read(spark, "seen"), table, n_buckets=8))
    spark.sql(f"DROP TABLE IF EXISTS {table}")

    # streaming.stream.crawl_foreach_batch: one trigger from the base
    # snapshot (its keyword config is the module-level one, so scope it)
    sdir = os.path.join(run.work, "stream_tick")
    shutil.copytree(w.base, sdir)
    sstore = SnapshotStore(sdir)
    on_batch = crawl_foreach_batch(spark, w.world, sstore, pages_per_batch=1)

    def stream_tick():
        from .tick import check_store

        with keyword_scope(w.prm["include"], w.prm["exclude"]):
            t("streaming.tick_ms", "streaming.stream.crawl_foreach_batch",
              lambda: on_batch(None, window))
        return check_store(sstore, w.golden)
    run.attempt("foreachBatch tick", stream_tick)

    for df in (pages, items, canon, links, seen, fz_in, due):
        df.unpersist()

    accepted = median([o["res"].accepted for o in ops])
    listing = median([o["res"].dispatched for o in ops])
    m["fetch.listing_pages"] = listing
    m["fetch.article_pages"] = n_arts
    m["fetch.useful_share"] = accepted / (listing + n_arts) if listing + n_arts else 0.0
    m["parse.pages_per_s"] = (n_pages + n_arts) / (m["parse.ms"] / 1000)
    m["parse.items_per_page"] = n_items / n_pages if n_pages else 0.0
    m["canon.null_share"] = n_null / n_items if n_items else 0.0
    m["relevance.pass_share"] = n_pass / n_links if n_links else 0.0
    return _fill(m)


# -------------------------------------------------------------- frontier

def frontier_layers(f, untraced: list[dict], traced: list[dict]) -> dict[str, tuple[float, str]]:
    """Stage-by-stage split of one frontier job: canonicalize, relevance,
    then the bloom/cuckoo probes, each over the previous stage's cached
    output."""
    from pyspark.sql import functions as F

    run = f.run
    ops = traced or untraced
    m: dict[str, float] = dict(_spark_layer(ops, run))
    t = _Timer(run.tracer, m)
    if traced and untraced:
        m["trace.overhead_ms"] = (median([o["wall"] for o in traced])
                                  - median([o["wall"] for o in untraced])) * 1000

    urls = f.batch(f.prm["n"])
    canon = f.canonical(urls).cache()
    n = t("canon.ms", "functions.urls.canonicalize_expr", canon.count)
    n_null = canon.filter(F.col("url_canon").isNull()).count()
    links = canon.filter(F.col("url_canon").isNotNull())
    relevant = f.relevant(links).select("url_canon").cache()
    n_links = links.count()
    n_pass = t("relevance.ms", "functions.relevance.relevance_expr", relevant.count)
    m.update(_seen_probes(t, relevant, f.seen))
    canon.unpersist()
    relevant.unpersist()
    m["canon.null_share"] = n_null / n if n else 0.0
    m["relevance.pass_share"] = n_pass / n_links if n_links else 0.0
    return _fill(m)
