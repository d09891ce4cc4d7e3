"""robots.txt parsing — SURVEY §2.9 C7 (absent in the reference, required
by the north rule). Turns fetched ``robots.txt`` payloads into the
``robots(host, crawl_delay_s, disallow_prefixes)`` dimension the
scheduler consumes.

Parsing is a **native** expression chain (split lines → trim → filter
group-relevant directives → aggregate per host): robots files are small
but there is one per host — at 10^7 hosts this runs as a column
pipeline, not per-row Python.

Semantics (the subset that matters for a polite crawler, per the
original robots.txt convention): directives under ``User-agent: *``
apply; ``Disallow:`` paths collect into prefix rules (empty Disallow =
allow all, dropped); ``Crawl-delay:`` seconds parsed as double,
defaulting per caller. Comments (#) and unknown directives ignored.
Group handling: a simple state machine is order-dependent, so the
relevant-group extraction uses one pass over the line array with
``aggregate`` carrying (in_star_group, delays, prefixes) — still native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROBOTS_OUT = "host string, crawl_delay_s double, disallow_prefixes array<string>"


def robots_from_corpus(corpus: DataFrame, default_delay_s: float = 1.0) -> DataFrame:
    """The robots dimension PARSED from the fetched robots.txt pages of a
    replayed corpus (``page_kind == "robots"``), keyed by host — C7 end
    to end, for a crawl whose world carries no ground-truth robots
    table."""
    pages = corpus.filter(F.col("page_kind") == "robots").select(
        F.parse_url(F.col("url_canon"), F.lit("HOST")).alias("host"), "content"
    )
    return parse_robots(pages, default_delay_s=default_delay_s)


def parse_robots(pages: DataFrame, default_delay_s: float = 1.0) -> DataFrame:
    """pages(host, content:binary|string) → robots dimension.

    One aggregate fold over the line array per host implements the
    User-agent group state machine natively (acc = struct(in_star,
    delay, prefixes)).
    """
    text = F.col("content").cast("string")
    lines = F.transform(
        F.split(text, "\n"),
        lambda ln: F.trim(F.regexp_replace(ln, r"#.*$", "")),
    )

    init = F.struct(
        F.lit(False).alias("in_star"),
        F.lit(None).cast("double").alias("delay"),
        F.array().cast("array<string>").alias("prefixes"),
    )

    def step(acc, ln):
        low = F.lower(ln)
        is_ua = low.startswith("user-agent:")
        # directive value = everything after the FIRST colon (a Disallow
        # path may itself contain colons — substring_index(…, -1) would
        # return the wrong suffix and silently drop the rule)
        val = F.trim(F.regexp_extract(ln, r"^[^:]*:(.*)$", 1))
        enter_star = is_ua & (val == "*")
        leave = is_ua & (val != "*")
        in_star = F.when(enter_star, F.lit(True)).when(leave, F.lit(False)).otherwise(
            acc["in_star"]
        )
        return F.struct(
            in_star.alias("in_star"),
            F.when(
                acc["in_star"] & low.startswith("crawl-delay:"),
                # try_cast: a malformed number stays NULL under ANSI sessions
                val.try_cast("double"),
            ).otherwise(acc["delay"]).alias("delay"),
            F.when(
                acc["in_star"] & low.startswith("disallow:") & (val != ""),
                F.array_append(acc["prefixes"], val),
            ).otherwise(acc["prefixes"]).alias("prefixes"),
        )

    parsed = F.aggregate(lines, init, step)
    return pages.select(
        F.col("host"),
        F.coalesce(parsed["delay"], F.lit(default_delay_s)).alias("crawl_delay_s"),
        parsed["prefixes"].alias("disallow_prefixes"),
    )
