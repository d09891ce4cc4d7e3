"""Per-site semantic profiles — SURVEY.md §2.5/§2.6/§2.3 as data, not code forks.

Each profile captures one reference crawler's behavioral variant
(citations are file:line into /root/reference/):

* relevance_variant: R1 'substring' (Daum_crawler.py:75-85,
  Google_Crawler.py:65-82), R2 'wordset' (FNToday_Crawler.py:51-55,
  FnNews_Crawler.py:36-40, Nate_Crawler.py:60-71), R3 'regex' — regex
  include ≈ substring + word-set exclude (Naver_Crawler.py:50-56,
  YNA_Crawler.py:60-68).
* use_exclude: False reproduces R4 — exclude list loaded but unused
  (Gukje_Crawler.py:45-49, SkyDaily_Crawler.py:49-55, VOA_Crawler.py:45-51).
* match_input: 'title' | 'title_lead' (YNA_Crawler.py:99-101) |
  'title_summary' (SkyDaily_Crawler.py:118-120, VOA_Crawler.py:89-91).
* detail_before_filter: SkyDaily/VOA fetch the article detail BEFORE the
  relevance gate (SkyDaily_Crawler.py:117, VOA_Crawler.py:88) — a
  correctness constraint, not a missed pushdown (SURVEY §4).
* strip_query: only Nate/YNA canonicalize away query strings
  (Nate_Crawler.py:85-86, YNA_Crawler.py:91-92).
* time_chain: T1..T5 fallback chains (SURVEY §2.6) + time_source.
* max_pages: page caps — Gukje ≤5, Nate ≤10, YNA ≤5, Daum unbounded
  (Gukje_Crawler.py:146, Nate_Crawler.py:186, YNA_Crawler.py:188).
* stop_on_empty: terminate pagination on a page with 0 accepted items
  (Gukje_Crawler.py:149-151, Nate_Crawler.py:190-192, Daum_crawler.py:169-171).
* fuzzy_dedup: Google's sequential Levenshtein-ish title dedup
  (Google_Crawler.py:59-63,231-238).
* freshness_days: Google keeps only articles ≤2 days old
  (Google_Crawler.py:101-109) — watermark semantics.
* crawl_delay_s: the fixed inter-page sleep (Daum_crawler.py:173 2s,
  FNToday_Crawler.py:154 1s, ...) → per-host politeness budget.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Deterministic batch timestamp: replaces every datetime.now() in the
# reference (Daum_crawler.py:122,127, Nate_Crawler.py:112, YNA_Crawler.py:109).
# Threaded everywhere; UTC-naive; "KST wall clock" of the replayed run.
BATCH_TS = "2025-06-14 12:00:00"

# Default keyword config: English + Korean terms (the reference's
# News_keyword.json is Korean, 486 include / 259 exclude; a synthetic
# config at that scale is generated by synth.make_keyword_config and
# loaded through load_keyword_config below). Hangul terms in the default
# list keep Unicode tokenization permanently under parity test.
INCLUDE_KEYWORDS = [
    "economy", "market", "semiconductor", "election", "trade",
    "energy", "startup", "ai", "inflation", "export",
    "경제", "반도체", "수출",
]
EXCLUDE_KEYWORDS = ["gossip", "horoscope", "advert", "광고"]


def load_keyword_config(cfg: dict) -> tuple[list[str], list[str], list[tuple[str, str, str]]]:
    """News_keyword.json-shaped config → (include, exclude, rows).

    Shape: ``{"keywords": [{"category": c, "items": [...]}, ...],
    "exclude_keywords": [...]}``; the flatten mirrors every crawler's
    ``load_keywords()`` (Daum_crawler.py:17-23, YNA_Crawler.py:30-36:
    ``[kw for cat in data['keywords'] for kw in cat['items']]``), and the
    category dimension is preserved as ``keywords(kind, category,
    keyword)`` rows (SURVEY §1.1)."""
    include: list[str] = []
    exclude: list[str] = []
    rows: list[tuple[str, str, str]] = []
    for cat in cfg.get("keywords", []):
        for kw in cat["items"]:
            include.append(kw)
            rows.append(("include", cat["category"], kw))
    for cat in cfg.get("exclude_keywords", []):
        for kw in cat["items"]:
            exclude.append(kw)
            rows.append(("exclude", cat["category"], kw))
    return include, exclude, rows


from contextlib import contextmanager as _contextmanager


@_contextmanager
def keyword_scope(include: list[str], exclude: list[str]):
    """Swap the module-level keyword config for a block — the world
    generator (synth), the engine (plans/crawl) and the parity model all
    read ``config.INCLUDE_KEYWORDS``/``EXCLUDE_KEYWORDS`` dynamically, so
    a scope swap re-parameterizes the entire parity chain at once (used
    by the News_keyword.json-scale tests)."""
    global INCLUDE_KEYWORDS, EXCLUDE_KEYWORDS
    old = (INCLUDE_KEYWORDS, EXCLUDE_KEYWORDS)
    INCLUDE_KEYWORDS, EXCLUDE_KEYWORDS = list(include), list(exclude)
    try:
        yield
    finally:
        INCLUDE_KEYWORDS, EXCLUDE_KEYWORDS = old


@dataclass(frozen=True)
class SiteProfile:
    site: str
    relevance_variant: str          # substring | wordset | regex
    use_exclude: bool
    match_input: str                # title | title_lead | title_summary
    detail_before_filter: bool
    strip_query: bool
    time_chain: str                 # t1..t5
    time_source: str                # listing | article
    max_pages: int                  # 0 = unbounded (until empty page)
    stop_on_empty: bool
    crawl_delay_s: float
    n_seeds: int
    fuzzy_dedup: bool = False
    freshness_days: int = 0         # 0 = no freshness filter
    min_include: int = 2
    charset: str = "utf-8"
    extra: dict = field(default_factory=dict)


PROFILES: list[SiteProfile] = [
    SiteProfile("daum", "substring", True, "title", False, False, "t1", "article", 0, True, 2.0, 3),
    SiteProfile("naver", "regex", True, "title", False, False, "t2", "article", 1, False, 1.0, 3),
    SiteProfile("google", "substring", True, "title", False, False, "t5", "listing", 2, False, 1.5, 2,
                fuzzy_dedup=True, freshness_days=2),
    SiteProfile("fntoday", "wordset", True, "title", False, False, "t2p", "listing", 2, False, 1.0, 3),
    SiteProfile("fnnews", "wordset", True, "title", False, False, "t2", "listing", 1, False, 1.0, 1),
    SiteProfile("gukje", "wordset", False, "title", False, False, "t2", "listing", 5, True, 1.0, 2),
    SiteProfile("nate", "wordset", True, "title", False, True, "t3", "listing", 10, True, 1.0, 2),
    SiteProfile("skydaily", "regex", False, "title_summary", True, False, "t4", "article", 2, False, 1.0, 2,
                charset="euc-kr"),
    SiteProfile("voa", "regex", False, "title_summary", True, False, "t4", "article", 2, False, 1.0, 2),
    SiteProfile("yna", "regex", True, "title_lead", False, True, "t3", "listing", 5, True, 2.0, 3),
]

PROFILE_BY_SITE: dict[str, SiteProfile] = {p.site: p for p in PROFILES}

SITE_HOST = {p.site: f"www.{p.site}-news.example.com" for p in PROFILES}
SITE_ORIGIN = {s: f"https://{h}" for s, h in SITE_HOST.items()}


# Virtual sites ("daum#3") clone a base profile under a distinct host —
# the bench's frontier-breadth knob (a web-scale frontier grows in hosts,
# not pages-per-seed). Base sites keep their exact names/hosts so the
# parity oracle and tests are unaffected at multiplier 1.

def base_site(site: str) -> str:
    return site.split("#", 1)[0]


def profile_of(site: str) -> SiteProfile:
    return PROFILE_BY_SITE[base_site(site)]


def host_of(site: str) -> str:
    return f"www.{site.replace('#', '-x')}-news.example.com"


def origin_of(site: str) -> str:
    return "https://" + host_of(site)


def virtual_sites(site_mult: int) -> list[str]:
    """All site names for a world with the given multiplier, in
    (replica, profile) order so seed_index stays profile-major."""
    out = []
    for m in range(site_mult):
        for p in PROFILES:
            out.append(p.site if m == 0 else f"{p.site}#{m}")
    return out
