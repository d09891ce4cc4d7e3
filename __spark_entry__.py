"""Driver contract for the spark-graft builder (PySpark target).

Every SURVEY.md §2 operator family that is SQL-expressible has a
``queries()`` entry implemented with the engine's own operators
(news_crawler_spark.*) plus a DuckDB ``oracle_sql()`` twin. Hash-match
discipline: identical column names/aliases both sides, doubles rounded
at the same precision, md5-based hashing only (reproducible in both
engines), deterministic tie-breaks on unique keys.

Every entry carries an oracle — including the stateful crawl pipeline
(golden VALUES derived from the independent pure-Python reference
model) and the multimodal decode (m01: digest-stub arithmetic; m02:
real PNG payloads with planted geometry). Exact span/crawl-order/
URL-seen parity additionally lives in tests/ vs the reference model.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from news_crawler_spark.functions.relevance import keyword_arrays, relevance_expr
from news_crawler_spark.functions.textstats import (
    bpe_ish_count_expr,
    fingerprint_expr,
    lang_id_expr,
    quality_score_expr,
    token_count_expr,
    type_token_ratio_expr,
)
from news_crawler_spark.functions.timeparse import korean_date_key_expr, t2_expr, t3_expr
from news_crawler_spark.functions.urls import canonicalize_expr
from news_crawler_spark.operators import bloom
from news_crawler_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    ivf_assign,
    ivf_topk,
    sign_lsh_near_dup_pairs,
    sign_lsh_planes,
)
from news_crawler_spark.operators.spans import build_spans
from news_crawler_spark.operators.textdedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_docs,
)

# ---------------------------------------------------------------- helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


REL_INCLUDE = ["spark", "query", "table", "join", "stream"]
REL_EXCLUDE = ["error"]


# ---------------------------------------------------------------- queries

def q01_pricing_summary(spark, sf):
    """A1/A5 groupBy-agg (lineitem pricing summary; SURVEY §2.7)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q02_top50_events(spark, sf):
    """A4 head-list top-k (utils.js:19 'newest 50')."""
    ev = _t(spark, sf, "events")
    return (
        ev.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(50)
        .select("event_id", "ts", "event_type", F.round("value", 6).alias("value"))
    )


def q03_customers_without_orders(spark, sf):
    """D1/J2 anti-join (URL-seen shape)."""
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q04_orders_with_heavy_items(spark, sf):
    """Semi-join (EXISTS)."""
    o, li = _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    heavy = li.filter(F.col("l_quantity") > 45)
    return o.join(heavy, o.o_orderkey == heavy.l_orderkey, "left_semi").select(
        "o_orderkey", "o_orderstatus"
    )


def q05_revenue_by_nation(spark, sf):
    """J1 multi-join + agg; nation/customer broadcast."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    n = _t(spark, sf, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).alias("revenue"), F.count("*").alias("n_items"))
    )


def q06_top_order_per_customer(spark, sf):
    """C8 priority window (row_number per partition)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


def q07_merge_upsert(spark, sf):
    """J3/D5 MERGE WHEN NOT MATCHED INSERT (save_to_json merge loops)."""
    o = _t(spark, sf, "orders")
    existing = o.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey", "o_orderpriority")
    updates = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_orderpriority")
    merged = existing.unionByName(
        updates.join(existing.select("o_orderkey"), on="o_orderkey", how="left_anti")
    )
    return merged


def q08_dedup_exact_events(spark, sf):
    """D2/D3 exact dedup keeping first (min event_id per key)."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event"), F.count("*").alias("n")
    )


def q09_korean_date_groups(spark, sf):
    """A1/T7 Korean date-group key (Daum_crawler.py:24-32,191-201)."""
    o = _t(spark, sf, "orders")
    return o.groupBy(korean_date_key_expr(F.col("o_orderdate")).alias("date_key")).agg(
        F.count("*").alias("n_orders")
    )


def q10_time_parse_chain(spark, sf):
    """T2/T3/T8: multi-format wire strings → timestamps; unparseable drop."""
    ev = _t(spark, sf, "events")
    s = (
        F.when(F.col("event_id") % 3 == 0, F.date_format("ts", "yyyy.MM.dd HH:mm"))
        .when(F.col("event_id") % 3 == 1, F.date_format("ts", "MM-dd HH:mm"))
        .otherwise(F.lit("soon"))
    )
    batch = F.lit("2025-06-14 12:00:00").cast("timestamp")
    parsed = F.when(F.col("event_id") % 3 == 0, t2_expr(s)).otherwise(t3_expr(s, batch))
    return (
        ev.select("event_id", parsed.alias("parsed_ts"))
        .filter(F.col("parsed_ts").isNotNull())
    )


def q11_freshness_watermark(spark, sf):
    """T6 freshness window (Google_Crawler.py:101-109): events within 2
    days of the stream max — watermark semantics."""
    ev = _t(spark, sf, "events")
    mx = ev.agg(F.max("ts").alias("max_ts"))
    return (
        ev.crossJoin(mx)
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 2 DAYS"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_fresh"))
    )


def q12_relevance_substring(spark, sf):
    """R1 substring relevance (Daum_crawler.py:75-85): ≥2 include hits,
    no exclude hit."""
    d = _t(spark, sf, "documents")
    inc, exc = keyword_arrays(REL_INCLUDE, REL_EXCLUDE)
    keep = relevance_expr(
        F.col("text"), F.lit("substring"), F.lit(True), inc, exc, F.lit(2)
    )
    return d.filter(keep).select("doc_id", "lang")


def q13_relevance_wordset(spark, sf):
    """R2 word-set relevance (FNToday_Crawler.py:51-55)."""
    d = _t(spark, sf, "documents")
    inc, exc = keyword_arrays(REL_INCLUDE, REL_EXCLUDE)
    keep = relevance_expr(
        F.col("text"), F.lit("wordset"), F.lit(True), inc, exc, F.lit(2)
    )
    return d.filter(keep).select("doc_id", "source")


def q14_politeness_budget(spark, sf):
    """C1/C8 per-host budget window: first 3 events per user (host analog),
    deterministic (ts, event_id) order."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("slot", F.row_number().over(w))
        .filter(F.col("slot") <= 3)
        .select("user_id", "event_id", "slot")
    )


def q15_url_canonicalize(spark, sf):
    """U1-U5 canonicalizer over synthesized messy URLs (north-rule form:
    lowercase scheme/host, tracking-param strip, param sort, fragment
    strip, javascript reject)."""
    o = _t(spark, sf, "orders")
    k = F.col("o_orderkey")
    raw = (
        F.when(k % 13 == 0, F.lit("javascript:void(0)"))
        .when(k % 4 == 0, F.concat(F.lit("https://shop.example.com/o/"), k, F.lit("?b=2&a=1")))
        .when(k % 4 == 1, F.concat(F.lit("HTTPS://SHOP.Example.COM./o/"), k,
                                   F.lit("?utm_source=x&a=1#top")))
        .when(k % 4 == 2, F.concat(F.lit("//shop.example.com/o/"), k))
        .otherwise(F.concat(F.lit("/o/"), k))
    )
    canon = canonicalize_expr(raw, F.lit("https://shop.example.com"), F.lit(False))
    return o.select(k.alias("o_orderkey"), canon.alias("url_canon")).filter(
        F.col("url_canon").isNotNull()
    )


def q16_bloom_dedup(spark, sf):
    """D1 seen dedup (operators.bloom.dedup_new): result must equal the
    plain anti-join."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    cand = li.select(
        F.concat(F.lit("https://ex.com/i/"), F.col("l_orderkey")).alias("url_canon")
    ).distinct()
    seen = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.concat(F.lit("https://ex.com/i/"), F.col("o_orderkey")).alias("url_canon")
    )
    return bloom.dedup_new(cand, seen, None)


def q17_span_assembly(spark, sf):
    """P4 interleaved span assembly (BASELINE input_hint shape), exploded
    to scalar columns for the oracle."""
    d = _t(spark, sf, "documents")
    title = F.col("source")
    summary = F.when(F.col("n_chars") >= 250, F.col("text")).otherwise(F.lit(""))
    img = F.when(
        F.col("doc_id") % 4 != 0,
        F.concat(F.lit("https://img.example.com/"), F.col("doc_id"), F.lit(".jpg")),
    ).otherwise(F.lit(""))
    spans = build_spans(title, summary, img)
    return d.select(F.col("doc_id"), F.explode(spans).alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def d01_dedup_exact(spark, sf):
    """Exact dedup via normalized-text fingerprint (hash-groupBy)."""
    d = _t(spark, sf, "documents")
    return exact_dedup(d.select(F.col("doc_id").cast("string").alias("doc_id"), "text"))


def d02_minhash_lsh(spark, sf):
    """MinHash(8)+LSH(2 bands×4) candidate pairs verified at shingle
    Jaccard≥0.9 (4-hash bands: collision P at j=0.9 is 0.93, at j=0.5 is
    0.12 — keeps the bucket join selective on self-similar corpora)."""
    d = _t(spark, sf, "documents")
    return minhash_lsh_pairs(
        d.select(F.col("doc_id").cast("long").alias("doc_id"), "text"),
        n_hashes=8, band_size=4, verify_jaccard=0.9,
    )


def d03_simhash(spark, sf):
    """32-bit SimHash signatures over word sets (md5-derived, native HOFs)."""
    d = _t(spark, sf, "documents")
    return simhash_docs(d.select(F.col("doc_id").cast("long").alias("doc_id"), "text"))


def d05_simhash_pairs(spark, sf):
    """SimHash near-dup pairs: hamming ≤ 8 within upper-16-bit blocks
    (the banded join shape — no all-pairs)."""
    from news_crawler_spark.operators.textdedup import simhash_near_pairs

    d = _t(spark, sf, "documents")
    return simhash_near_pairs(
        d.select(F.col("doc_id").cast("long").alias("doc_id"), "text"), max_hamming=8
    )


def d04_ngram_jaccard(spark, sf):
    """Exact word-set Jaccard near-dups verified at 0.95, candidates
    from d02's shingle-MinHash bands (8 hashes, 2 bands × 4) — never
    all-pairs within a coarse attribute."""
    d = _t(spark, sf, "documents")
    return ngram_jaccard_pairs(
        d.select(F.col("doc_id").cast("long").alias("doc_id"), "text"),
        threshold=0.95,
    )


def d06_simhash_multiprobe(spark, sf):
    """Multi-probe SimHash near-dup pairs: rotation-union 16-bit blocks
    (4 byte-aligned cyclic windows), hamming ≤ 8 verified — the recall
    fix for d05's single-block miss."""
    from news_crawler_spark.operators.textdedup import simhash_near_pairs_multiprobe

    d = _t(spark, sf, "documents")
    return simhash_near_pairs_multiprobe(
        d.select(F.col("doc_id").cast("long").alias("doc_id"), "text"),
        max_hamming=8, rotations=4,
    )


def e01_cosine_topk(spark, sf):
    """Brute-force cosine top-10 for probes vec_id<5 (exact ANN baseline)."""
    em = _t(spark, sf, "embeddings")
    probes = em.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return brute_force_topk(em, probes, k=10).select("qid", "vec_id", "cos", "rank")


def e02_cosine_near_dup(spark, sf):
    """Embedding near-dup pairs, cosine ≥ 0.4 (exact all-pairs at test SF)."""
    em = _t(spark, sf, "embeddings")
    return cosine_near_dup_pairs(em, threshold=0.4)


def e04_sign_lsh_near_dup(spark, sf):
    """Banded sign-LSH near-dup pairs: 2 seeded random hyperplanes × 8
    tables (round-3: replaces the fixed-2-dim/4-bucket arm), exact
    cosine ≥ 0.4 verified within buckets. Shallow-wide B/T because this
    corpus's near-dups sit at cos 0.35-0.51 (see operator docstring for
    the regime math); recall vs the exact e02 pairs is pinned ≥ 0.9 in
    tests/test_textops.py."""
    em = _t(spark, sf, "embeddings")
    return sign_lsh_near_dup_pairs(
        em, dim=64, threshold=0.4, n_bits=2, n_tables=8
    ).select("a", "b", "cos")


def e03_ivf_ann(spark, sf):
    """IVF ANN: centroids = vec_id<8, argmax-cos assignment, nprobe=1
    cluster-local top-5 for probes vec_id<5."""
    em = _t(spark, sf, "embeddings")
    cent = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    assigned = ivf_assign(em, cent)
    probes = em.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"))
    return ivf_topk(assigned, probes, k=5).select("qid", "cluster", "vec_id", "cos", "rank")


def e05_ivf_nprobe2(spark, sf):
    """IVF ANN with nprobe=2: probes search their two nearest centroids'
    clusters — the boundary-recall fix over e03's nprobe=1."""
    from news_crawler_spark.operators.similarity import ivf_topk_nprobe

    em = _t(spark, sf, "embeddings")
    cent = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    assigned = ivf_assign(em, cent)
    probes = em.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"))
    return ivf_topk_nprobe(assigned, cent, probes, k=5, nprobe=2).select(
        "qid", "cluster", "vec_id", "cos", "rank"
    )


def t01_lang_id(spark, sf):
    """Marker-argmax language-ID heuristic."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", lang_id_expr(F.col("text")).alias("lang_pred"))


def t02_quality(spark, sf):
    """Quality scoring: token count, type-token ratio, composite score."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count_expr(F.col("text")).alias("n_tokens"),
        type_token_ratio_expr(F.col("text")).alias("ttr"),
        quality_score_expr(F.col("text")).alias("quality"),
    )


def t03_token_counts(spark, sf):
    """Whitespace + BPE-ish token accounting."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count_expr(F.col("text")).alias("n_ws_tokens"),
        bpe_ish_count_expr(F.col("text")).alias("n_bpe_ish"),
    )


def t04_fingerprint(spark, sf):
    """Document fingerprinting (md5 of normalized text)."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", fingerprint_expr(F.col("text")).alias("fp"))


def p01_html_extract(spark, sf):
    """P1/P2 real-HTML extraction oracle: build one listing page per
    document (nate layout: div.mlt01 / a.lt1 / h2.tit — Nate_Crawler.py:
    141,73-121) with entity-escaped titles, whitespace padding and decoy
    header markup, run the engine's selector-based mapInPandas parser,
    and let DuckDB reconstruct the expected fields directly."""
    from news_crawler_spark.operators.parse import parse_listing

    d = _t(spark, sf, "documents")
    title = F.concat(F.col("source"), F.lit(" R&D "), F.col("lang"))
    esc_title = F.regexp_replace(title, "&", "&amp;")
    time_s = F.concat(
        F.lit("06-"), F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit(" 10:30"),
    )
    html = F.concat(
        F.lit('<html><body><div class="gnb"><a class="lt1" href="/decoy">x</a></div>'
              '<div class="mlt01">\n<a class="lt1" href="/art/'),
        F.col("doc_id").cast("string"),
        F.lit('"><h2 class="tit">\n  '),
        esc_title,
        F.lit(' </h2></a>\n<span class="medium"><em>'),
        time_s,
        F.lit("</em></span>\n</div></body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://ex.com/list/"), F.col("doc_id").cast("string"))
        .alias("url_canon"),
        F.lit("nate").alias("site"),
        F.lit(0).alias("seed_index"),
        F.lit(1).alias("page"),
        F.encode(html, "utf-8").alias("content"),
        F.lit("utf-8").alias("charset"),
    )
    return parse_listing(pages).select(
        F.col("url_canon").alias("page_url"), "href", "title", "time_str"
    )


def k01_keyword_flatten(spark, sf):
    """S4 keyword-config scan at News_keyword.json scale: category-
    structured JSON (7 include / 10 exclude categories; 486/259 terms)
    flattened to keywords(kind, category, keyword) — the flatten every
    reference crawler performs at import (Daum_crawler.py:17-23)."""
    import json

    from news_crawler_spark.synth import make_keyword_config

    js = json.dumps(make_keyword_config(), ensure_ascii=False)
    schema = ("keywords array<struct<category:string,items:array<string>>>, "
              "exclude_keywords array<struct<category:string,items:array<string>>>")
    cfg = spark.range(1).select(F.from_json(F.lit(js), schema).alias("c"))
    inc = cfg.select(F.explode("c.keywords").alias("cat")).select(
        F.lit("include").alias("kind"),
        F.col("cat.category").alias("category"),
        F.explode("cat.items").alias("keyword"),
    )
    exc = cfg.select(F.explode("c.exclude_keywords").alias("cat")).select(
        F.lit("exclude").alias("kind"),
        F.col("cat.category").alias("category"),
        F.explode("cat.items").alias("keyword"),
    )
    return inc.unionByName(exc)


def c01_curation_pipeline(spark, sf):
    """Training-data curation composition: exact-dedup to one
    representative per fingerprint → language-identified gate → quality
    floor — the chain a 100 TB corpus pass runs after the
    crawl, composed from the engine's own operators."""
    d = _t(spark, sf, "documents")
    scored = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text", "lang",
        fingerprint_expr(F.col("text")).alias("fp"),
        lang_id_expr(F.col("text")).alias("lang_pred"),
        quality_score_expr(F.col("text")).alias("quality"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("lang_pred") != "und")
                & (F.col("quality") >= 0.4))
        .select("doc_id", "fp", "lang", F.col("quality"))
    )


def s01_session_windows(spark, sf):
    """Gap-based session windows (30-min gap) in batch form — the
    SQL-expressible twin of the streaming sessionizer; Spark
    F.session_window vs DuckDB gaps-and-islands."""
    from news_crawler_spark.streaming.stream import session_windows_batch

    ev = _t(spark, sf, "events")
    return session_windows_batch(ev.select("user_id", "ts"), "30 minutes")


def m01_image_meta(spark, sf):
    """Multimodal plumbing (rows-only check): binary payload column →
    typed image metadata via mapInPandas stub decoder."""
    from news_crawler_spark.operators.multimodal import image_metadata

    d = _t(spark, sf, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("https://img.example.com/"), F.col("doc_id"), F.lit(".jpg")).alias(
            "media_ref"
        ),
        F.unhex(F.md5(F.col("text"))).alias("payload"),
    )
    return image_metadata(media)


def m02_png_decode(spark, sf):
    """Real image decode, oracle-gated (round-4 VERDICT #1/#2): payloads
    are REAL PNGs synthesized executor-side by ``png_bytes`` with planted
    (width, height) derived arithmetically from doc_id; ``image_metadata``
    must route them through the from-scratch CRC/zlib-validating PNG
    reader (never the digest stub) and recover format='png' plus the true
    dimensions. n_bytes/digest depend on zlib's compressed output — not
    DuckDB-expressible — so the oracle pins (format, width, height); the
    byte-level reader behavior is unit-tested in tests/test_multimodal.py."""
    from news_crawler_spark.operators.multimodal import image_metadata, png_bytes

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("https://img.example.com/"), F.col("doc_id"),
                 F.lit(".png")).alias("media_ref"),
        (F.col("doc_id") % 61 + 1).cast("int").alias("w"),
        (F.col("doc_id") % 37 + 1).cast("int").alias("h"),
    )

    def gen(it):
        for pdf in it:
            if pdf.empty:
                continue
            pdf = pdf.assign(payload=[
                png_bytes(int(a), int(b), fill=int(a) + int(b))
                for a, b in zip(pdf["w"], pdf["h"])
            ])
            yield pdf[["doc_id", "media_ref", "payload"]]

    media = d.mapInPandas(
        gen, schema="doc_id string, media_ref string, payload binary")
    return image_metadata(media).select(
        "doc_id", "media_ref", "format", "width", "height"
    )


def c02_curation_xxhash(spark, sf):
    """c01's curation chain + near-dup removal on the PRODUCTION hash
    family (round-4 VERDICT #5): candidate pairs from xxhash64 MinHash
    bands (JVM-codegen'd integer fold — the 100 TB arm), verified at
    exact shingle Jaccard ≥ 0.9; the larger doc_id of each verified pair
    is dropped. The DuckDB oracle reproduces the verifier's RESULT via
    the md5 band arm (bit-identically reproducible in SQL) — the two
    arms' verified pair sets are equality-asserted in tests/test_textops
    and this gate fails loudly if the xxhash banding ever drops a pair."""
    d = _t(spark, sf, "documents")
    base = c01_curation_pipeline(spark, sf)
    pairs = minhash_lsh_pairs(
        d.select(F.col("doc_id").cast("long").alias("doc_id"), "text"),
        n_hashes=8, band_size=4, verify_jaccard=0.9, hash_family="xxhash64",
    )
    drop = pairs.select(F.col("b").alias("doc_id")).distinct()
    return base.join(drop, on="doc_id", how="left_anti")


def crawl_flagship(spark, sf):
    """The crawl micro-batch pipeline end-to-end on a tiny synthetic world,
    hash-gated against a DuckDB golden computed by the pure-Python
    reference model over the SAME deterministic world (see oracle_sql;
    exact span/order/seen parity is additionally pytest-gated).
    Ignores sf_dir — the crawl's input is the replayed fetch corpus."""
    import tempfile

    from news_crawler_spark.plans.crawl import run_crawl
    from news_crawler_spark.sources.store import SnapshotStore
    from news_crawler_spark.sources.world import world_dfs

    store = SnapshotStore(tempfile.mkdtemp(prefix="flagship_store_"))
    world = world_dfs(spark, 0.02)
    run_crawl(spark, world, store, use_bloom=False, n_salts=2, pages_per_batch=8,
              max_batches=2)
    docs = store.read(spark, "documents")
    # crawl_order is the engine's (page, seed_index, dom_pos) key; rank it
    # so the oracle side (golden order list index) compares exactly
    w = Window.orderBy("crawl_order")
    return docs.select("doc_id", "url_canon", "site", "crawl_order", "ts") \
        .withColumn("order_rank", F.row_number().over(w)) \
        .select("doc_id", "url_canon", "site", "order_rank", "ts")


def _flagship_golden_values() -> str:
    """DuckDB VALUES literal of the reference model's accepted set for the
    flagship world — the pure-Python sequential model IS the oracle; both
    sides derive from the same deterministic synth (scale 0.02, ~64 rows)."""
    from news_crawler_spark.reference_model import doc_id_of, run_reference_model
    from news_crawler_spark.synth import build_world

    g = run_reference_model(build_world(0.02))
    rows = []
    for rank, url in enumerate(g.order, 1):
        did = doc_id_of(url)
        m = g.meta[did]
        u = url.replace("'", "''")
        rows.append(
            f"('{did}','{u}','{m['site']}',{rank},"
            f"TIMESTAMP '{m['ts'].strftime('%Y-%m-%d %H:%M:%S')}')"
        )
    return ",\n".join(rows)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship smoke: engine operators composed over sf0.001 — relevance
    gate → span assembly → explode → fingerprint join."""
    sf = "/root/testdata/sf0.001"
    spans = q17_span_assembly(spark, sf)
    rel = q12_relevance_substring(spark, sf).select(F.col("doc_id").cast("long").alias("doc_id"))
    return spans.join(rel, on="doc_id", how="left_semi")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_top50_events": q02_top50_events,
        "q03_customers_without_orders": q03_customers_without_orders,
        "q04_orders_with_heavy_items": q04_orders_with_heavy_items,
        "q05_revenue_by_nation": q05_revenue_by_nation,
        "q06_top_order_per_customer": q06_top_order_per_customer,
        "q07_merge_upsert": q07_merge_upsert,
        "q08_dedup_exact_events": q08_dedup_exact_events,
        "q09_korean_date_groups": q09_korean_date_groups,
        "q10_time_parse_chain": q10_time_parse_chain,
        "q11_freshness_watermark": q11_freshness_watermark,
        "q12_relevance_substring": q12_relevance_substring,
        "q13_relevance_wordset": q13_relevance_wordset,
        "q14_politeness_budget": q14_politeness_budget,
        "q15_url_canonicalize": q15_url_canonicalize,
        "q16_bloom_dedup": q16_bloom_dedup,
        "q17_span_assembly": q17_span_assembly,
        "d01_dedup_exact": d01_dedup_exact,
        "d02_minhash_lsh": d02_minhash_lsh,
        "d03_simhash": d03_simhash,
        "d04_ngram_jaccard": d04_ngram_jaccard,
        "d05_simhash_pairs": d05_simhash_pairs,
        "d06_simhash_multiprobe": d06_simhash_multiprobe,
        "e01_cosine_topk": e01_cosine_topk,
        "e02_cosine_near_dup": e02_cosine_near_dup,
        "e03_ivf_ann": e03_ivf_ann,
        "e04_sign_lsh_near_dup": e04_sign_lsh_near_dup,
        "e05_ivf_nprobe2": e05_ivf_nprobe2,
        "p01_html_extract": p01_html_extract,
        "k01_keyword_flatten": k01_keyword_flatten,
        "t01_lang_id": t01_lang_id,
        "t02_quality": t02_quality,
        "t03_token_counts": t03_token_counts,
        "t04_fingerprint": t04_fingerprint,
        "c01_curation_pipeline": c01_curation_pipeline,
        "c02_curation_xxhash": c02_curation_xxhash,
        "s01_session_windows": s01_session_windows,
        "m01_image_meta": m01_image_meta,
        "m02_png_decode": m02_png_decode,
        "crawl_flagship": crawl_flagship,
    }


# ---------------------------------------------------------------- oracles

_WS = r"list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))"
_WS_RAW = r"list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"
# Unicode word set (runs of letters/digits/underscore) — the engine's
# word_set_expr/uwords_expr twin; identical to _WS on the space-separated
# ASCII testdata, but correct on Hangul/punctuation (ADVICE round 1).
_UW = r"list_distinct(regexp_extract_all(lower(text), '[\p{L}\p{N}_]+'))"
_KOR_DAY = (
    "CASE dayofweek(o_orderdate) WHEN 0 THEN '일요일' WHEN 1 THEN '월요일' "
    "WHEN 2 THEN '화요일' WHEN 3 THEN '수요일' WHEN 4 THEN '목요일' "
    "WHEN 5 THEN '금요일' ELSE '토요일' END"
)

_DOT = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)"
)
_NORM_A = (
    "sqrt(list_reduce(list_transform(range(1, 65), i -> "
    "a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), (x, y) -> x + y))"
)
_NORM_B = (
    "sqrt(list_reduce(list_transform(range(1, 65), i -> "
    "b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y))"
)
_COS = f"round({_DOT} / ({_NORM_A} * {_NORM_B}), 6)"


def _sign_lsh_banded_sql(dim: int, n_bits: int, n_tables: int, seed: int) -> str:
    """(vec_id, embedding, t, bkt) rows for every LSH table — generated
    from the SAME seeded plane generator the engine uses
    (similarity.sign_lsh_planes), so the banding is bit-identical."""
    planes = sign_lsh_planes(dim, n_bits, n_tables, seed)
    selects = []
    for t in range(n_tables):
        terms = []
        for tt, b, signs in planes:
            if tt != t:
                continue
            arr = "[" + ",".join(str(s) for s in signs) + "]"
            terms.append(
                f"(CASE WHEN list_reduce(list_transform(range(1, {dim + 1}), i -> "
                f"embedding[i]::DOUBLE * ({arr})[i]), (x, y) -> x + y) >= 0 "
                f"THEN {1 << b} ELSE 0 END)"
            )
        selects.append(
            f"SELECT vec_id, embedding, {t} AS t, "
            + " + ".join(terms)
            + " AS bkt FROM embeddings"
        )
    return " UNION ALL ".join(selects)

_REL_SUB = (
    "((CASE WHEN contains(lower(text),'spark') THEN 1 ELSE 0 END + "
    "CASE WHEN contains(lower(text),'query') THEN 1 ELSE 0 END + "
    "CASE WHEN contains(lower(text),'table') THEN 1 ELSE 0 END + "
    "CASE WHEN contains(lower(text),'join') THEN 1 ELSE 0 END + "
    "CASE WHEN contains(lower(text),'stream') THEN 1 ELSE 0 END) >= 2 "
    "AND NOT contains(lower(text),'error'))"
)
_REL_WORD = (
    f"(len(list_intersect({_UW}, ['spark','query','table','join','stream'])) >= 2 "
    f"AND len(list_intersect({_UW}, ['error'])) = 0)"
)

_MINHASH_SIG = ", ".join(
    f"list_min(list_transform(ws, x -> md5('{s}:' || x)))" for s in range(8)
)

_LANG_HITS = {
    "en": "len(list_intersect(toks, ['the','a','and','of','to']))",
    "es": "len(list_intersect(toks, ['el','la','los','de','que']))",
    "de": "len(list_intersect(toks, ['der','die','das','und','nicht']))",
    "fr": "len(list_intersect(toks, ['le','la','les','et','que']))",
}


def _k01_sql() -> str:
    """The keyword-flatten oracle embeds the same deterministic config
    JSON the Spark query parses (synthetic, News_keyword.json-shaped)."""
    import json

    from news_crawler_spark.synth import make_keyword_config

    js = json.dumps(make_keyword_config(), ensure_ascii=False)
    return f"""
        WITH cfg AS (SELECT '{js}'::JSON AS j),
        inc AS (SELECT unnest(json_extract(j, '$.keywords[*]')) AS o FROM cfg),
        exc AS (SELECT unnest(json_extract(j, '$.exclude_keywords[*]')) AS o FROM cfg)
        SELECT 'include' AS kind, json_extract_string(o, '$.category') AS category,
               unnest(CAST(json_extract(o, '$.items') AS VARCHAR[])) AS keyword FROM inc
        UNION ALL
        SELECT 'exclude', json_extract_string(o, '$.category'),
               unnest(CAST(json_extract(o, '$.items') AS VARCHAR[])) FROM exc
    """


_K01_SQL = _k01_sql()

# d02's oracle arm: md5-per-(shingle×seed) MinHash bands, bit-identical
# to the engine's md5 family; also the verifier-result oracle c02 reuses
_D02_SQL = f"""
            WITH toks AS (SELECT doc_id AS id,
                                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                             x -> x <> '') AS tk
                          FROM documents),
            w AS (SELECT id,
                         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                              ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                                     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                         END AS ws
                  FROM toks),
            s AS (SELECT id, ws, [{_MINHASH_SIG}] AS sig FROM w),
            b AS (SELECT id, ws, t.band_id,
                         md5(sig[4*t.band_id + 1] || '|' || sig[4*t.band_id + 2] || '|' ||
                             sig[4*t.band_id + 3] || '|' || sig[4*t.band_id + 4]) AS band_hash
                  FROM s, unnest([0,1]) AS t(band_id)),
            cand AS (
              SELECT DISTINCT l.id AS a, r.id AS b,
                     round(len(list_intersect(l.ws, r.ws))::DOUBLE /
                           len(list_distinct(list_concat(l.ws, r.ws))), 6) AS jac
              FROM b l JOIN b r
                ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.id < r.id)
            SELECT a, b, jac FROM cand WHERE jac >= 0.9
        """

_C01_SQL = f"""
            WITH t AS (SELECT doc_id, text, lang, {_UW} AS toks,
                              md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
                       FROM documents),
            h AS (SELECT doc_id, text, lang, fp,
                         {_LANG_HITS['de']} AS h_de, {_LANG_HITS['en']} AS h_en,
                         {_LANG_HITS['es']} AS h_es, {_LANG_HITS['fr']} AS h_fr
                  FROM t),
            p AS (SELECT doc_id, lang, fp,
                         CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                              WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                              WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                              WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                              ELSE 'fr' END AS lang_pred,
                         round((least(len({_WS_RAW})::DOUBLE / 200.0, 1.0)
                                + len({_WS})::DOUBLE / len({_WS_RAW})) / 2.0, 6) AS quality,
                         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
                  FROM h)
            SELECT doc_id, fp, lang, quality FROM p
            WHERE rn = 1 AND lang_pred <> 'und' AND quality >= 0.4
        """


def oracle_sql() -> dict[str, str]:
    return {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q02_top50_events": """
            SELECT event_id, ts, event_type, round(value, 6) AS value
            FROM events ORDER BY ts DESC, event_id DESC LIMIT 50
        """,
        "q03_customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "q04_orders_with_heavy_items": """
            SELECT o_orderkey, o_orderstatus FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        """,
        "q05_revenue_by_nation": """
            SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q06_top_order_per_customer": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice
            FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey) rn FROM orders)
            WHERE rn = 1
        """,
        "q07_merge_upsert": """
            WITH existing AS (SELECT o_orderkey, o_orderpriority FROM orders
                              WHERE o_orderkey % 3 = 0),
                 updates AS (SELECT o_orderkey, o_orderpriority FROM orders
                             WHERE o_orderkey % 2 = 0)
            SELECT * FROM existing
            UNION ALL
            SELECT * FROM updates u
            WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.o_orderkey = u.o_orderkey)
        """,
        "q08_dedup_exact_events": """
            SELECT user_id, event_type, min(event_id) AS first_event, count(*) AS n
            FROM events GROUP BY user_id, event_type
        """,
        "q09_korean_date_groups": f"""
            SELECT strftime(o_orderdate, '%Y년 %m월 %d일 ') || {_KOR_DAY} AS date_key,
                   count(*) AS n_orders
            FROM orders GROUP BY 1
        """,
        "q10_time_parse_chain": """
            SELECT * FROM (
              SELECT event_id,
                     CASE WHEN event_id % 3 = 0
                          THEN try_strptime(strftime(ts, '%Y.%m.%d %H:%M'), '%Y.%m.%d %H:%M')
                          WHEN event_id % 3 = 1
                          THEN try_strptime('2025-' || strftime(ts, '%m-%d %H:%M'),
                                            '%Y-%m-%d %H:%M')
                          ELSE NULL END AS parsed_ts
              FROM events)
            WHERE parsed_ts IS NOT NULL
        """,
        "q11_freshness_watermark": """
            SELECT event_type, count(*) AS n_fresh FROM events
            WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 2 DAY
            GROUP BY event_type
        """,
        "q12_relevance_substring": f"""
            SELECT doc_id, lang FROM documents WHERE {_REL_SUB}
        """,
        "q13_relevance_wordset": f"""
            SELECT doc_id, source FROM documents WHERE {_REL_WORD}
        """,
        "q14_politeness_budget": """
            SELECT user_id, event_id, slot FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) slot
              FROM events)
            WHERE slot <= 3
        """,
        "q15_url_canonicalize": """
            SELECT o_orderkey,
                   CASE
                     WHEN o_orderkey % 4 = 0
                       THEN 'https://shop.example.com/o/' || o_orderkey || '?a=1&b=2'
                     WHEN o_orderkey % 4 = 1
                       THEN 'https://shop.example.com/o/' || o_orderkey || '?a=1'
                     ELSE 'https://shop.example.com/o/' || o_orderkey
                   END AS url_canon
            FROM orders WHERE o_orderkey % 13 <> 0
        """,
        "q16_bloom_dedup": """
            SELECT DISTINCT 'https://ex.com/i/' || l_orderkey AS url_canon FROM lineitem
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_orderkey = l_orderkey AND o_orderkey % 2 = 0)
        """,
        "q17_span_assembly": """
            SELECT doc_id, 'title' AS kind, source AS text, '' AS media_ref, 0 AS offset
            FROM documents
            UNION ALL
            SELECT doc_id, 'summary', text, '', 1 FROM documents WHERE n_chars >= 250
            UNION ALL
            SELECT doc_id, 'image', '',
                   'https://img.example.com/' || doc_id || '.jpg',
                   CASE WHEN n_chars >= 250 THEN 2 ELSE 1 END
            FROM documents WHERE doc_id % 4 <> 0
        """,
        "d01_dedup_exact": r"""
            SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                   min(doc_id::VARCHAR) AS doc_id, count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "d02_minhash_lsh": _D02_SQL,
        "d03_simhash": f"""
            WITH w AS (SELECT doc_id, {_UW} AS ws FROM documents),
            h AS (SELECT doc_id,
                         list_transform(ws, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
                  FROM w)
            SELECT doc_id,
                   list_sum(list_transform(range(0, 32), b ->
                     CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
                          THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS simhash
            FROM h
        """,
        "d05_simhash_pairs": f"""
            WITH w AS (SELECT doc_id, {_UW} AS ws FROM documents),
            h AS (SELECT doc_id,
                         list_transform(ws, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
                  FROM w),
            s AS (SELECT doc_id,
                         list_sum(list_transform(range(0, 32), b ->
                           CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
                                THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS simhash
                  FROM h)
            SELECT * FROM (
              SELECT a.doc_id AS a, b.doc_id AS b,
                     bit_count(xor(a.simhash, b.simhash))::INT AS hamming
              FROM s a JOIN s b
                ON (a.simhash >> 16) = (b.simhash >> 16) AND a.doc_id < b.doc_id)
            WHERE hamming <= 8
        """,
        "d06_simhash_multiprobe": f"""
            WITH w AS (SELECT doc_id, {_UW} AS ws FROM documents),
            h AS (SELECT doc_id,
                         list_transform(ws, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
                  FROM w),
            s AS (SELECT doc_id,
                         list_sum(list_transform(range(0, 32), b ->
                           CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
                                THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS simhash
                  FROM h),
            bnd AS (SELECT doc_id, simhash,
                           t.r,
                           (((simhash << (8 * t.r)) & 4294967295)
                            | (simhash >> (32 - 8 * t.r))) >> 16 AS blk
                    FROM s, unnest([0, 1, 2, 3]) AS t(r))
            SELECT * FROM (
              SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
                     bit_count(xor(a.simhash, b.simhash))::INT AS hamming
              FROM bnd a JOIN bnd b
                ON a.r = b.r AND a.blk = b.blk AND a.doc_id < b.doc_id)
            WHERE hamming <= 8
        """,
        "d04_ngram_jaccard": f"""
            WITH toks AS (SELECT doc_id AS id,
                                 list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                             x -> x <> '') AS tk
                          FROM documents),
            shg AS (SELECT id,
                           CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                                ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                           END AS ws
                    FROM toks),
            uw AS (SELECT doc_id AS id, {_UW} AS uws FROM documents),
            s AS (SELECT shg.id, uw.uws, [{_MINHASH_SIG}] AS sig
                  FROM shg JOIN uw ON shg.id = uw.id),
            b AS (SELECT id, uws, t.band_id,
                         md5(sig[4*t.band_id + 1] || '|' || sig[4*t.band_id + 2] || '|' ||
                             sig[4*t.band_id + 3] || '|' || sig[4*t.band_id + 4]) AS band_hash
                  FROM s, unnest([0,1]) AS t(band_id)),
            cand AS (
              SELECT DISTINCT l.id AS a, r.id AS b,
                     round(len(list_intersect(l.uws, r.uws))::DOUBLE /
                           len(list_distinct(list_concat(l.uws, r.uws))), 6) AS jac
              FROM b l JOIN b r
                ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.id < r.id)
            SELECT a, b, jac FROM cand WHERE jac >= 0.95
        """,
        "e01_cosine_topk": f"""
            SELECT qid, vec_id, cos, rank FROM (
              SELECT a.vec_id AS qid, b.vec_id AS vec_id, {_COS} AS cos,
                     row_number() OVER (PARTITION BY a.vec_id
                                        ORDER BY {_COS} DESC, b.vec_id) AS rank
              FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
              WHERE a.vec_id < 5)
            WHERE rank <= 10
        """,
        "e02_cosine_near_dup": f"""
            SELECT * FROM (
              SELECT a.vec_id AS a, b.vec_id AS b, {_COS} AS cos
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            WHERE cos >= 0.4
        """,
        "e04_sign_lsh_near_dup": f"""
            WITH v AS ({_sign_lsh_banded_sql(dim=64, n_bits=2, n_tables=8, seed=7)})
            SELECT a, b, cos FROM (
              SELECT DISTINCT a.vec_id AS a, b.vec_id AS b, {_COS} AS cos
              FROM v a JOIN v b
                ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id < b.vec_id)
            WHERE cos >= 0.4
        """,
        "e03_ivf_ann": f"""
            WITH assign AS (
              SELECT a.vec_id, a.embedding, b.vec_id AS cid, {_COS} AS ccos,
                     row_number() OVER (PARTITION BY a.vec_id
                                        ORDER BY {_COS} DESC, b.vec_id) AS r
              FROM embeddings a JOIN embeddings b ON b.vec_id < 8),
            clustered AS (SELECT vec_id, embedding, cid AS cluster FROM assign WHERE r = 1),
            probes AS (SELECT vec_id AS qid, embedding AS qe, cluster AS qc
                       FROM clustered WHERE vec_id < 5),
            scored AS (
              SELECT p.qid, p.qc AS cluster, a.vec_id,
                     round(list_reduce(list_transform(range(1, 65), i ->
                             p.qe[i]::DOUBLE * a.embedding[i]::DOUBLE), (x,y) -> x+y)
                       / (sqrt(list_reduce(list_transform(range(1, 65), i ->
                             p.qe[i]::DOUBLE * p.qe[i]::DOUBLE), (x,y) -> x+y))
                        * sqrt(list_reduce(list_transform(range(1, 65), i ->
                             a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), (x,y) -> x+y))),
                       6) AS cos
              FROM clustered a JOIN probes p
                ON a.cluster = p.qc AND a.vec_id <> p.qid)
            SELECT qid, cluster, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
            FROM scored QUALIFY rank <= 5
        """,
        "e05_ivf_nprobe2": f"""
            WITH assign AS (
              SELECT a.vec_id, a.embedding, b.vec_id AS cid, {_COS} AS ccos,
                     row_number() OVER (PARTITION BY a.vec_id
                                        ORDER BY {_COS} DESC, b.vec_id) AS r
              FROM embeddings a JOIN embeddings b ON b.vec_id < 8),
            clustered AS (SELECT vec_id, embedding, cid AS cluster FROM assign WHERE r = 1),
            pc AS (
              SELECT p.vec_id AS qid, p.embedding AS qe, c.vec_id AS cid,
                     row_number() OVER (PARTITION BY p.vec_id ORDER BY
                       round(list_reduce(list_transform(range(1, 65), i ->
                               p.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x,y) -> x+y)
                         / (sqrt(list_reduce(list_transform(range(1, 65), i ->
                               p.embedding[i]::DOUBLE * p.embedding[i]::DOUBLE), (x,y) -> x+y))
                          * sqrt(list_reduce(list_transform(range(1, 65), i ->
                               c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE), (x,y) -> x+y))),
                         6) DESC, c.vec_id) AS pr
              FROM embeddings p JOIN embeddings c ON c.vec_id < 8
              WHERE p.vec_id < 5),
            probes AS (SELECT qid, qe, cid FROM pc WHERE pr <= 2),
            scored AS (
              SELECT p.qid, a.cluster, a.vec_id,
                     round(list_reduce(list_transform(range(1, 65), i ->
                             p.qe[i]::DOUBLE * a.embedding[i]::DOUBLE), (x,y) -> x+y)
                       / (sqrt(list_reduce(list_transform(range(1, 65), i ->
                             p.qe[i]::DOUBLE * p.qe[i]::DOUBLE), (x,y) -> x+y))
                        * sqrt(list_reduce(list_transform(range(1, 65), i ->
                             a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), (x,y) -> x+y))),
                       6) AS cos
              FROM clustered a JOIN probes p
                ON a.cluster = p.cid AND a.vec_id <> p.qid)
            SELECT qid, cluster, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
            FROM scored QUALIFY rank <= 5
        """,
        "c01_curation_pipeline": _C01_SQL,
        "c02_curation_xxhash": f"""
            WITH base AS ({_C01_SQL}),
            pairs AS ({_D02_SQL})
            SELECT doc_id, fp, lang, quality FROM base
            WHERE doc_id NOT IN (SELECT b FROM pairs)
        """,
        "s01_session_windows": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
              SELECT user_id, ts,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts, brk DESC
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            )
            SELECT user_id, min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "m01_image_meta": """
            WITH d AS (SELECT doc_id, sha256(md5(text)) AS dg FROM documents)
            SELECT doc_id::VARCHAR AS doc_id,
                   'https://img.example.com/' || doc_id || '.jpg' AS media_ref,
                   CASE (('0x' || substr(dg, 1, 2))::INT % 3)
                        WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
                   64 + ('0x' || substr(dg, 3, 2))::INT % 192 AS width,
                   64 + ('0x' || substr(dg, 5, 2))::INT % 192 AS height,
                   16::BIGINT AS n_bytes,
                   dg AS digest
            FROM d
        """,
        # m02: payloads are REAL PNGs with arithmetically-planted
        # geometry — the oracle pins what the from-scratch reader must
        # recover (n_bytes/digest are zlib-dependent, hence omitted)
        "m02_png_decode": """
            SELECT doc_id::VARCHAR AS doc_id,
                   'https://img.example.com/' || doc_id || '.png' AS media_ref,
                   'png' AS format,
                   (doc_id % 61 + 1)::INT AS width,
                   (doc_id % 37 + 1)::INT AS height
            FROM documents
        """,
        "p01_html_extract": """
            SELECT 'https://ex.com/list/' || doc_id AS page_url,
                   '/art/' || doc_id AS href,
                   source || ' R&D ' || lang AS title,
                   '06-' || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0') || ' 10:30'
                     AS time_str
            FROM documents
        """,
        "k01_keyword_flatten": _K01_SQL,
        "t01_lang_id": f"""
            WITH t AS (SELECT doc_id, {_UW} AS toks FROM documents),
            h AS (SELECT doc_id,
                         {_LANG_HITS['de']} AS h_de, {_LANG_HITS['en']} AS h_en,
                         {_LANG_HITS['es']} AS h_es, {_LANG_HITS['fr']} AS h_fr
                  FROM t)
            SELECT doc_id,
                   CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                        WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                        WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                        WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM h
        """,
        "t02_quality": f"""
            SELECT doc_id,
                   len({_WS_RAW}) AS n_tokens,
                   round(len({_WS})::DOUBLE / len({_WS_RAW}), 6) AS ttr,
                   round((least(len({_WS_RAW})::DOUBLE / 200.0, 1.0)
                          + len({_WS})::DOUBLE / len({_WS_RAW})) / 2.0, 6) AS quality
            FROM documents
        """,
        "t03_token_counts": f"""
            SELECT doc_id,
                   len({_WS_RAW}) AS n_ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                     AS n_bpe_ish
            FROM documents
        """,
        "t04_fingerprint": r"""
            SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        # The stateful micro-batch loop isn't SQL-expressible, but its
        # RESULT is a fixed deterministic set — the golden VALUES come from
        # the independent pure-Python reference model (round-3 VERDICT #4).
        "crawl_flagship": f"""
            SELECT * FROM (VALUES
            {_flagship_golden_values()}
            ) AS t(doc_id, url_canon, site, order_rank, ts)
        """,
    }
