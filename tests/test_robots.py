"""robots.txt parser (C7): native aggregate state machine over line
arrays — star-group crawl-delay + disallow prefixes, comments stripped,
empty Disallow dropped, other user-agents' groups ignored."""

from news_crawler_spark.operators.robots import parse_robots

TXT_FULL = """# comment
User-agent: Googlebot
Disallow: /google-only/
Crawl-delay: 9

User-agent: *
Crawl-delay: 2.5
Disallow: /ad/
Disallow: /private/
Disallow:
User-agent: BadBot
Disallow: /
"""


def test_parse_robots(spark):
    rows = [
        ("h1.com", TXT_FULL.encode()),
        ("h2.com", b"User-agent: *\nDisallow: /x/"),
        ("h3.com", b"# nothing relevant\nUser-agent: OtherBot\nDisallow: /all/"),
        ("h4.com", b""),
    ]
    df = spark.createDataFrame(rows, "host string, content binary")
    out = {r.host: (r.crawl_delay_s, r.disallow_prefixes)
           for r in parse_robots(df, default_delay_s=1.0).collect()}
    assert out["h1.com"] == (2.5, ["/ad/", "/private/"])  # star group only
    assert out["h2.com"] == (1.0, ["/x/"])                # default delay
    assert out["h3.com"] == (1.0, [])                     # other UA ignored
    assert out["h4.com"] == (1.0, [])                     # empty file


def test_parsed_robots_feed_scheduler(spark):
    from pyspark.sql import functions as F

    from news_crawler_spark.functions.timeparse import batch_ts_lit
    from news_crawler_spark.operators.scheduler import order_key_col, schedule

    robots = parse_robots(
        spark.createDataFrame(
            [("h5.com", b"User-agent: *\nCrawl-delay: 5\nDisallow: /ad/")],
            "host string, content binary",
        )
    )
    due = spark.createDataFrame(
        [(f"https://h5.com/{'ad/' if i % 2 else 'p/'}{i}", "h5.com", 0, i) for i in range(20)],
        "url_canon string, host string, priority int, pos int",
    ).withColumn("order_key", order_key_col(F.lit(1), F.lit(0), F.col("pos")))
    out = schedule(due, robots, batch_ts_lit(), window_s=25.0)
    rows = out.collect()
    assert all("/ad/" not in r.url_canon for r in rows)  # disallow honored
    assert len(rows) == 5  # floor(25 / 5) budget from parsed crawl-delay


def test_robots_parsed_from_corpus_matches_world_table(spark, world):
    """The robots dimension parsed from the corpus's robots.txt bytes
    equals the world's ground-truth robots table."""
    from news_crawler_spark.operators.robots import robots_from_corpus

    parsed = {r.host: (r.crawl_delay_s, list(r.disallow_prefixes))
              for r in robots_from_corpus(world["corpus"]).collect()}
    truth = {r.host: (r.crawl_delay_s, list(r.disallow_prefixes))
             for r in world["robots"].collect()}
    assert parsed == truth


def test_crawl_with_robots_from_corpus_keeps_parity(spark, world, golden, tmp_path):
    """End-to-end C7: fetch robots.txt from the replayed corpus, parse it
    natively, and run the whole crawl off the parsed dimension — same
    parity result as the ground-truth table."""
    from news_crawler_spark.operators.robots import robots_from_corpus
    from news_crawler_spark.plans.crawl import run_crawl
    from news_crawler_spark.sources.store import SnapshotStore

    store = SnapshotStore(str(tmp_path / "rfc_store"))
    run_crawl(spark, dict(world, robots=robots_from_corpus(world["corpus"])), store,
              pages_per_batch=8)
    rows = store.read(spark, "documents").collect()
    eng = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans] for r in rows}
    assert eng == {k: [tuple(s) for s in v] for k, v in golden.docs.items()}
