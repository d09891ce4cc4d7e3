"""Real-HTML extraction gates (P1-P3): the selector engine, the Spark
parse operators over per-site HTML (incl. EUC-KR), Unicode relevance
tokenization on Korean text, and the News_keyword.json-scale config."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from news_crawler_spark import config, synth
from news_crawler_spark import reference_model as rm
from news_crawler_spark.operators.htmlsel import parse_html, select
from news_crawler_spark.operators.parse import parse_article, parse_listing
from news_crawler_spark.selectors import extract_listing_items

ALL_SITES = ["daum", "naver", "google", "fntoday", "fnnews", "gukje",
             "nate", "skydaily", "voa", "yna"]


# ------------------------------------------------------------ htmlsel unit

def test_selector_engine_basics():
    root = parse_html(
        '<div class="a b"><p id="x">one &amp; two</p></div>'
        '<div class="a"><p>three</p></div>'
        '<ul><li>1</li><li>2<br>3</li></ul>'
        '<span class="byline"><em>w</em><em>s</em><em>t3</em></span>'
    )
    assert [n.text() for n in select(root, "div.a p")] == ["one & two", "three"]
    assert [n.text() for n in select(root, "div.a.b p")] == ["one & two"]
    assert select(root, "p#x")[0].text() == "one & two"
    assert [n.text() for n in select(root, "ul li")] == ["1", "2\n3"]  # br → \n
    assert select(root, "span.byline em:nth-of-type(3)")[0].text() == "t3"
    assert select(root, "div.c p") == []


def test_selector_attr_and_alternation():
    root = parse_html(
        '<meta property="og:image" content="https://x/i.jpg">'
        '<article><h4>T</h4></article><div class="NiLAwe"><h4>U</h4></div>'
    )
    assert select(root, "meta[property=og:image]")[0].attr("content") == "https://x/i.jpg"
    assert [n.tag for n in select(root, "article, div.NiLAwe")] == ["article", "div"]


def test_decoy_containers_not_matched():
    """Class-sharing decoys outside the real container chain must not
    yield items (the discrimination the reference's selectors rely on)."""
    page = synth.listing_content("naver", 0, 1, 40)
    root = parse_html(page)
    items = extract_listing_items("naver", synth.listing_url("naver", 0, 1), root)
    assert len(items) == synth.ITEMS_PER_PAGE
    hrefs = {i["href"] for i in items}
    assert "/rank/1" not in hrefs and "/notice/1" not in hrefs


# --------------------------------------------------- Spark parse operators

def test_parse_listing_all_sites_spark(spark):
    """mapInPandas parse over every site's HTML (incl. EUC-KR skydaily)
    must equal the independent regex model extraction, field by field."""
    rows, expected = [], []
    for site in ALL_SITES:
        prof = synth.profile_of(site)
        for seed in (0, 1):
            url = synth.listing_url(site, seed, 1)
            content = synth.listing_content(site, seed, 1, 40).encode(prof.charset)
            rows.append((url, site, seed, 1, content, prof.charset))
            for it in rm.parse_listing(content, prof.charset, site, url):
                expected.append((url, site, seed, 1, it["dom_pos"], it["href"],
                                 it["title"], it["lead"], it["time_str"], it["img"]))
    pages = spark.createDataFrame(
        rows, "url_canon string, site string, seed_index int, page int, "
              "content binary, charset string")
    got = [tuple(r) for r in parse_listing(pages).collect()]
    assert sorted(got) == sorted(expected)


def test_parse_article_detail_sites_spark(spark):
    rows, expected = [], []
    for site in ("daum", "naver", "skydaily", "voa"):
        prof = synth.profile_of(site)
        for aid in range(4):
            url = synth.canon_url(site, aid)
            status = synth.article_status(site, aid)
            content = synth.article_content(site, aid).encode(prof.charset)
            rows.append((url, site, status, content, prof.charset))
            if status == 200:
                f = rm.parse_article(content, prof.charset, site)
                expected.append((url, status, f["title"], f["time_str"],
                                 f["summary"], f["img"]))
            else:
                expected.append((url, status, None, None, None, None))
    pages = spark.createDataFrame(
        rows, "url_canon string, site string, http_status int, content binary, charset string")
    got = [tuple(r) for r in parse_article(pages).collect()]
    assert sorted(got, key=str) == sorted(expected, key=str)


# ------------------------------------------------- Unicode relevance parity

KOREAN_FIXTURE = [
    "경제 성장과 반도체 수출 전망",          # 2+ include words
    "경제학자 인터뷰: 시장 분석",            # substring-only hit (trap)
    "수출 광고 반도체 특집",                 # exclude word present
    "광고주 모집: 경제 반도체 안내",          # exclude substring-only (trap)
    "r&d investment in ai, semiconductor!",  # punctuation + ascii
    "",
]


@pytest.mark.parametrize("variant", ["substring", "wordset", "regex"])
def test_relevance_korean_parity(spark, variant):
    """Engine relevance (Unicode tokenizer) vs the Python reference model
    on Hangul + punctuation — the divergence ADVICE.md flagged."""
    from news_crawler_spark.functions.relevance import keyword_arrays, relevance_expr

    prof = synth.profile_of({"substring": "daum", "wordset": "nate", "regex": "naver"}[variant])
    expected = [rm.relevance(t, prof) for t in KOREAN_FIXTURE]
    inc, exc = keyword_arrays(config.INCLUDE_KEYWORDS, config.EXCLUDE_KEYWORDS)
    df = spark.createDataFrame([(t,) for t in KOREAN_FIXTURE], "text string")
    got = [
        r.ok
        for r in df.select(
            relevance_expr(F.col("text"), F.lit(variant), F.lit(prof.use_exclude),
                           inc, exc, F.lit(prof.min_include)).alias("ok")
        ).collect()
    ]
    assert got == expected


def test_wordset_traps_differ_from_substring(spark):
    """'경제학자' must count for substring variants but NOT for wordset —
    proving the tokenizer is word-exact, not substring-equal."""
    from news_crawler_spark.functions.relevance import keyword_arrays, relevance_expr

    inc, exc = keyword_arrays(["경제", "반도체"], [])
    df = spark.createDataFrame([("경제학자 반도체주 발표",)], "text string")
    sub, word = df.select(
        relevance_expr(F.col("text"), F.lit("substring"), F.lit(True), inc, exc,
                       F.lit(2)).alias("a"),
        relevance_expr(F.col("text"), F.lit("wordset"), F.lit(True), inc, exc,
                       F.lit(2)).alias("b"),
    ).collect()[0]
    assert sub is True and word is False


# --------------------------------------------- keyword config at 486/259

def test_keyword_config_loader():
    cfg = synth.make_keyword_config()
    inc, exc, rows = config.load_keyword_config(cfg)
    assert len(inc) == 486 and len(exc) == 259
    assert len({r[1] for r in rows if r[0] == "include"}) == 7
    assert len({r[1] for r in rows if r[0] == "exclude"}) == 10
    # flatten order matches the reference's nested comprehension
    assert inc[: len(cfg["keywords"][0]["items"])] == cfg["keywords"][0]["items"]


def test_crawl_parity_at_reference_keyword_scale(spark, tmp_path):
    """Full crawl parity with a 486/259 News_keyword.json-scale config —
    the scale the reference actually runs at (S4 gap in round 1)."""
    from news_crawler_spark.plans.crawl import run_crawl
    from news_crawler_spark.reference_model import run_reference_model
    from news_crawler_spark.sources.store import SnapshotStore
    from news_crawler_spark.sources.world import world_dfs
    from news_crawler_spark.synth import build_world

    cfg = synth.make_keyword_config()
    inc, exc, _ = config.load_keyword_config(cfg)
    with config.keyword_scope(inc, exc):
        golden = run_reference_model(build_world(0.02))
        world = world_dfs(spark, 0.02)
        store = SnapshotStore(str(tmp_path / "kw_store"))
        run_crawl(spark, world, store, pages_per_batch=8)
        rows = store.read(spark, "documents").collect()
    eng = {r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans] for r in rows}
    assert eng == {k: [tuple(s) for s in v] for k, v in golden.docs.items()}
    order = [r.url_canon for r in sorted(rows, key=lambda r: r.crawl_order)]
    assert order == golden.order


def test_relevance_profile_fast_exact_vs_native(spark):
    """The large-config Arrow UDF must agree with the native HOF (and
    therefore the reference model) on every variant — including shadowed
    keywords (one keyword inside another) and Hangul."""
    from news_crawler_spark.functions.relevance import (
        keyword_arrays,
        relevance_expr,
        relevance_profile_fast_factory,
    )

    inc = ["경제", "경제학", "ai", "aid", "market", "market share", "수출"]
    exc = ["광고", "광고주", "spam"]
    texts = [
        "경제학 성장 ai 분석",          # '경제' shadowed inside '경제학'
        "market share 확대 aid 경제",
        "수출 광고주 market",           # exclude shadowing
        "ai ai ai",
        "",
        "경제 market spam",
    ]
    rows = [(t, v, ue, 2)
            for t in texts
            for v in ("substring", "wordset", "regex")
            for ue in (True, False)]
    df = spark.createDataFrame(
        rows, "text string, variant string, use_exclude boolean, min_include int")
    inc_a, exc_a = keyword_arrays(inc, exc)
    native = relevance_expr(F.col("text"), F.col("variant"), F.col("use_exclude"),
                            inc_a, exc_a, F.col("min_include"))
    fast = relevance_profile_fast_factory(inc, exc)(
        F.col("text"), F.col("variant"), F.col("use_exclude"), F.col("min_include"))
    got = df.select(native.alias("n"), fast.alias("f")).collect()
    for r in got:
        assert r.n == r.f, rows[got.index(r)]


def test_relevance_overlapping_keywords(spark):
    """Round-3 ADVICE: partially-overlapping include occurrences (suffix of
    one keyword is a prefix of another — NOT containment) must each count.
    A consuming alternation scan ate 'abc' in 'abcde' and never saw 'cde';
    the lookahead scan finds both. Both UDF arms are checked against the
    reference semantics n = |{k : k ⊆ text}| computed directly."""
    from news_crawler_spark.functions.relevance import (
        relevance_profile_fast_factory,
        relevance_profile_loop_factory,
    )

    inc = ["abc", "cde", "경제성", "성장률", "xy", "yz"]
    exc = ["mno", "opq"]
    texts = [
        "abcde",            # abc+cde overlap → 2 includes
        "경제성장률",         # 경제성+성장률 overlap (Hangul) → 2
        "xyz abcde",        # xy+yz overlap AND abc+cde → 4
        "abccde",           # adjacent, no overlap → 2
        "abmnopq end",      # excludes overlap: mno+opq both present
        "cdeabc",           # reversed order → 2
        "ab cde",           # only cde → 1
    ]
    rows = [(t, v, ue, 2)
            for t in texts
            for v in ("substring", "regex")
            for ue in (True, False)]
    df = spark.createDataFrame(
        rows, "text string, variant string, use_exclude boolean, min_include int")
    fast = relevance_profile_fast_factory(inc, exc)(
        F.col("text"), F.col("variant"), F.col("use_exclude"), F.col("min_include"))
    loop = relevance_profile_loop_factory(inc, exc)(
        F.col("text"), F.col("variant"), F.col("use_exclude"), F.col("min_include"))
    got = df.select(fast.alias("f"), loop.alias("l")).collect()
    for i, r in enumerate(got):
        t, v, ue, mi = rows[i]
        low = t.lower()
        n = sum(1 for k in inc if k in low)
        if v == "substring":
            expect = (not (ue and any(k in low for k in exc))) and n >= mi
        else:  # regex: substring includes, word-set excludes
            import re as _re
            words = set(_re.findall(r"\b\w+\b", low))
            expect = (not (ue and any(k in words for k in exc))) and n >= mi
        assert r.f == expect, (rows[i], "fast")
        assert r.l == expect, (rows[i], "loop")


def test_relevance_profile_fast_vs_loop_random(spark):
    """Round-3 vectorized arm vs its per-row loop twin on randomized
    mixed-variant batches — identical accepts on every row."""
    import random

    from news_crawler_spark.functions.relevance import (
        relevance_profile_fast_factory,
        relevance_profile_loop_factory,
    )

    rng = random.Random(11)
    inc = [f"kw{i}" for i in range(40)] + ["경제", "경제학", "ai", "aid"]
    exc = [f"bad{i}" for i in range(20)] + ["광고", "광고주"]
    vocab = inc + exc + ["filler", "text", "뉴스", "기사", "x1", "x2"]
    rows = []
    for _ in range(400):
        t = " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30)))
        if rng.random() < 0.3:
            t += rng.choice(["경제학분석", "kw1kw2", "aid광고주"])  # no spaces
        rows.append((t, rng.choice(["substring", "wordset", "regex"]),
                     rng.random() < 0.7, rng.randrange(0, 4)))
    df = spark.createDataFrame(
        rows, "text string, variant string, use_exclude boolean, min_include int")
    fast = relevance_profile_fast_factory(inc, exc)(
        F.col("text"), F.col("variant"), F.col("use_exclude"), F.col("min_include"))
    loop = relevance_profile_loop_factory(inc, exc)(
        F.col("text"), F.col("variant"), F.col("use_exclude"), F.col("min_include"))
    got = df.select(fast.alias("f"), loop.alias("l")).collect()
    for i, r in enumerate(got):
        assert r.f == r.l, rows[i]


def test_fast_tokenizer_matches_stdlib_tree(spark):
    """The round-3 regex tokenizer must extract identically to the
    html.parser-backed builder on EVERY corpus page of every site."""
    from news_crawler_spark.config import base_site
    from news_crawler_spark.operators.htmlsel import parse_html, parse_html_stdlib
    from news_crawler_spark.selectors import extract_article_fields, extract_listing_items
    from news_crawler_spark.synth import build_world

    w = build_world(0.05, site_mult=2)
    checked = 0
    for r in w["corpus"]:
        t = r["content"].decode(r["charset"] or "utf-8", errors="replace")
        a, b = parse_html(t), parse_html_stdlib(t)
        site = base_site(r["site"])
        if r["page_kind"] == "listing":
            assert (extract_listing_items(site, r["url_canon"], a)
                    == extract_listing_items(site, r["url_canon"], b)), r["url_canon"]
            checked += 1
        elif r["page_kind"] == "article":
            assert (extract_article_fields(site, a)
                    == extract_article_fields(site, b)), r["url_canon"]
            checked += 1
    assert checked > 300


def test_fast_tokenizer_edge_attrs():
    """Round-3 ADVICE edge inputs outside the corpus: a trailing '/' after
    an unquoted attribute value is PART of the value (open tag), 'attr='
    with an empty value is '' not None, and genuinely self-closing forms
    stay self-closing — all per html.parser."""
    from news_crawler_spark.operators.htmlsel import parse_html, parse_html_stdlib

    cases = [
        "<a href=/foo/>x</a>",     # '/' joins the unquoted value, tag OPEN
        "<a href=>y</a>",          # empty value is ''
        "<a href=/>z</a>",         # value is '/'
        "<a href= />w</a>",        # whitespace after '=' still value context
        "<a href=/foo/ />v</a>",   # space ends the value → self-closing
        "<a href=foo/>u</a>",
        "<a class=\"x\"/>t",       # quoted value → self-closing survives
        "<a checked/>s",           # bare attr → self-closing survives
        "<br/>r",
        "<a data-x=a/b>q</a>",
        "<a href=/foo//>p</a>",
    ]

    def flat(node, out):
        out.append((node.tag, sorted(node.attrs.items()),
                    [c for c in node.children if isinstance(c, str)]))
        for c in node.children:
            if not isinstance(c, str):
                flat(c, out)
        return out

    for t in cases:
        a, b = flat(parse_html(t), []), flat(parse_html_stdlib(t), [])
        assert a == b, (t, a, b)


def test_fast_tokenizer_edge_constructs():
    """Constructs beyond the synth corpus: self-closing, single-quoted +
    bare attributes, script raw text, stray '<', doctype, entities in
    attributes."""
    from news_crawler_spark.operators.htmlsel import parse_html, parse_html_stdlib, select

    html = (
        "<!DOCTYPE html><html><body>"
        "<div class='a b' data-x=bare title=\"x &amp; y\">"
        "1 < 2 &lt;tag&gt;"
        "<img src='/i.png'/><br>"
        "<script>if (a < b) { x('</div>'); }</script>"
        "<ul><li>one<li>two</ul>"
        "<!-- <p>ignored</p> -->"
        "<p>done</p></div></body></html>"
    )
    for ph in (parse_html, parse_html_stdlib):
        root = ph(html)
        d = select(root, "div.a")[0]
        assert d.attrs["title"] == "x & y"
        assert d.attrs["data-x"] == "bare"
        lis = select(root, "ul li")
        assert [li.text() for li in lis] == ["one", "two"]
        assert select(root, "p")[0].text() == "done"
        assert "1 < 2 <tag>" in d.text()
