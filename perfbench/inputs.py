"""Seeded, cached benchmark inputs and their reference-model goldens.

Everything the engine receives is generated here from ``--seed``:

* ``tick_crawl``: which seeds of a fixed world are in the seed list, and
  which exclude keywords the crawl runs with. The
  replayed fetch corpus itself (a fixed synth world) does not depend on
  the seed, so its parquet copy is built once per content hash.
* ``frontier_urls``: the URL id range, the host count and the keyword
  subset of a messy-href frontier batch.

Goldens come from the pure-Python reference model
(``news_crawler_spark.reference_model``), never from the engine. Worlds
and goldens are cached under ``perfbench/data``, keyed by the seed and a
hash of the source files that determine them, so an edit to the
generator, the synth world or the reference model invalidates them.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import shutil

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, "perfbench", "data")

# tick_crawl world: scale 0.25 with four replicas of each base profile
# (92 seeds, a narrow frontier) keeps window 2 a few seconds of executor
# work under a driver floor of 10+ s. The seed drops a few seeds and one
# exclude keyword: at this scale window 2 accepts about 70 documents, and
# choosing whole replicas per profile instead moved that count by 27%
# (quartile spread over 12 seeds) against 5% for this choice.
TICK_SCALE = 0.25
TICK_MULT = 4
TICK_DROP_SEEDS = 4
TICK_MEASURED_WINDOW = 2  # ticks resume from the window-1 snapshot

# frontier_urls batch size. A job's wall is mostly per-job fixed cost
# (two passes of the probe UDF, two shuffles) on 4 cores: 60k hrefs took
# 12 s and 150k 15 s, so a small batch keeps a run short without
# changing what dominates it.
FRONTIER_URLS = 30_000
FRONTIER_DUP = 3          # consecutive ids share one (host, article)
FRONTIER_SEEN_EVERY = 10  # every 10th article is already in the seen set
FRONTIER_VARIANTS = 6     # href shapes, see frontier_row
FRONTIER_VARIANT_CYCLE = ("substring", "wordset", "regex")

_WORLD_SOURCES = ("synth.py", "config.py", "schemas.py", "sources/world.py")
_GOLDEN_SOURCES = _WORLD_SOURCES + ("reference_model.py",)


def _hash_files(rel_paths, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for rel in rel_paths:
        with open(os.path.join(ROOT, "news_crawler_spark", rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def world_key() -> str:
    return _hash_files(_WORLD_SOURCES, f"tick:{TICK_SCALE}:{TICK_MULT}")


def golden_key() -> str:
    return _hash_files(_GOLDEN_SOURCES)


def _cache_json(path: str, build):
    """Read a cached JSON value, or build it and publish it atomically."""
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    value = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(value, f, ensure_ascii=False)
    os.replace(tmp, path)
    return value


# ------------------------------------------------------------- tick_crawl

def tick_params(seed: int) -> dict:
    """Seed → the seed list (``seed_index`` values) and keyword lists of
    one run."""
    from news_crawler_spark.config import EXCLUDE_KEYWORDS, INCLUDE_KEYWORDS

    rng = random.Random(f"tick_crawl:{seed}")
    every = [s["seed_index"] for s in tick_world_py()["seeds"]]
    dropped = set(rng.sample(every, TICK_DROP_SEEDS))
    exclude = list(EXCLUDE_KEYWORDS)
    exclude.pop(rng.randrange(len(exclude)))
    return {"seeds": [i for i in every if i not in dropped],
            "include": list(INCLUDE_KEYWORDS), "exclude": exclude}


_WORLD_PY: dict = {}


def tick_world_py() -> dict:
    """The synth world as Python rows (built once per process)."""
    if "w" not in _WORLD_PY:
        from news_crawler_spark.synth import build_world

        _WORLD_PY["w"] = build_world(TICK_SCALE, TICK_MULT)
    return _WORLD_PY["w"]


def tick_world_dir(spark) -> str:
    """Parquet copy of the tick world, written by the engine's own
    ``write_world`` on a cache miss."""
    from news_crawler_spark.sources.world import write_world

    d = os.path.join(DATA, f"world-{world_key()}")
    if not os.path.exists(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write_world(spark, tmp, TICK_SCALE, site_mult=TICK_MULT)
        os.replace(tmp, d)
    return d


def tick_golden(seed: int, window: int) -> dict:
    """Reference-model state after ``window`` one-page windows: the model
    is page-major and sequential, so running it on a corpus without the
    listing pages past ``window`` yields exactly the documents, crawl
    order and seen set of the first ``window`` pages."""
    path = os.path.join(DATA, "golden", f"tick-{golden_key()}-s{seed}-w{window}.json")

    def build():
        from news_crawler_spark.config import keyword_scope
        from news_crawler_spark.reference_model import run_reference_model

        prm = tick_params(seed)
        w = tick_world_py()
        seeds = set(prm["seeds"])
        world = {
            "corpus": [r for r in w["corpus"]
                       if r["page_kind"] != "listing" or r["page"] <= window],
            "seeds": [s for s in w["seeds"] if s["seed_index"] in seeds],
        }
        with keyword_scope(prm["include"], prm["exclude"]):
            g = run_reference_model(world)
        return {
            "docs": {k: [list(s) for s in v] for k, v in g.docs.items()},
            "order": g.order,
            "seen": sorted(g.seen),
        }

    return _cache_json(path, build)


# ---------------------------------------------------------- frontier_urls

def frontier_params(seed: int) -> dict:
    """Seed → URL id range, host mix and keyword subset of one run."""
    from news_crawler_spark.config import EXCLUDE_KEYWORDS, INCLUDE_KEYWORDS

    rng = random.Random(f"frontier_urls:{seed}")
    include = list(INCLUDE_KEYWORDS)
    include.pop(rng.randrange(len(include)))
    return {
        "id0": rng.randrange(1 << 20) * 3000,
        "n": FRONTIER_URLS,
        "hosts": rng.randrange(3000, 4001),
        "include": include,
        "exclude": list(EXCLUDE_KEYWORDS),
    }


def frontier_row(i: int, hosts: int, title_inc: list[str],
                 title_exc: list[str]) -> tuple[str, str, str, str, int]:
    """(href, site, title, relevance_variant, min_include) of URL id ``i``
    — the Python twin of ``frontier_df``'s column expressions. Titles draw
    on the full default keyword lists (``title_inc``/``title_exc``), not
    on the run's subset."""
    art = i // FRONTIER_DUP
    h = (art * 7919) % hosts
    site = f"daum#{h}"
    host = f"www.daum-x{h}-news.example.com"
    path = f"/art/{art}"
    v = i % FRONTIER_VARIANTS
    if v == 0:
        href = f"{path}?b=2&a=1"
    elif v == 1:
        href = f"//{host}{path}"
    elif v == 2:
        href = f"HTTPS://{host.upper()}{path}?utm_source=feed&b=2&a=1#frag"
    elif v == 3:
        href = f"https://{host}{path}#top"
    elif v == 4:
        href = f"https://{host}{path}?b=2&a=1"
    else:
        href = "javascript:void(0)"
    n_inc = len(title_inc)
    title = (f"daily {title_inc[art % n_inc]} report "
             f"{title_inc[(art // 3) % n_inc]} briefing {art % 97}")
    if art % 7 == 0:
        title += f" {title_exc[art % len(title_exc)]}"
    variant = FRONTIER_VARIANT_CYCLE[h % 3]
    return href, site, title, variant, 1 + h % 2


def frontier_df(ids, prm: dict):
    """Spark twin of ``frontier_row`` over the ``id`` column of ``ids``."""
    from pyspark.sql import functions as F

    from news_crawler_spark.config import EXCLUDE_KEYWORDS, INCLUDE_KEYWORDS

    i = F.col("id")
    art = F.floor(i / FRONTIER_DUP)
    h = F.pmod(art * 7919, F.lit(prm["hosts"]))
    host = F.concat(F.lit("www.daum-x"), h.cast("string"), F.lit("-news.example.com"))
    path = F.concat(F.lit("/art/"), art.cast("string"))
    v = F.pmod(i, F.lit(FRONTIER_VARIANTS))
    href = (
        F.when(v == 0, F.concat(path, F.lit("?b=2&a=1")))
        .when(v == 1, F.concat(F.lit("//"), host, path))
        .when(v == 2, F.concat(F.lit("HTTPS://"), F.upper(host), path,
                               F.lit("?utm_source=feed&b=2&a=1#frag")))
        .when(v == 3, F.concat(F.lit("https://"), host, path, F.lit("#top")))
        .when(v == 4, F.concat(F.lit("https://"), host, path, F.lit("?b=2&a=1")))
        .otherwise(F.lit("javascript:void(0)"))
    )
    inc = F.array(*[F.lit(k) for k in INCLUDE_KEYWORDS])
    exc = F.array(*[F.lit(k) for k in EXCLUDE_KEYWORDS])
    n_inc = len(INCLUDE_KEYWORDS)
    kw = lambda idx: F.element_at(inc, (idx % n_inc + 1).cast("int"))  # noqa: E731
    title = F.concat(
        F.lit("daily "), kw(art), F.lit(" report "), kw(F.floor(art / 3)),
        F.lit(" briefing "), (art % 97).cast("string"),
        F.when(art % 7 == 0, F.concat(
            F.lit(" "),
            F.element_at(exc, (art % len(EXCLUDE_KEYWORDS) + 1).cast("int")),
        )).otherwise(F.lit("")),
    )
    variant = F.element_at(F.array(*[F.lit(x) for x in FRONTIER_VARIANT_CYCLE]),
                           (h % 3 + 1).cast("int"))
    return ids.select(
        href.alias("href"),
        F.concat(F.lit("https://"), host).alias("origin"),
        title.alias("title"),
        variant.alias("relevance_variant"),
        (h % 2 + 1).cast("int").alias("min_include"),
    )


def frontier_seen_ids(prm: dict) -> range:
    """Ids whose canonical URLs form the pre-existing seen set: every
    FRONTIER_SEEN_EVERY-th article of the batch (all its href shapes)."""
    return range(prm["id0"], prm["id0"] + prm["n"],
                 FRONTIER_DUP * FRONTIER_SEEN_EVERY)


def frontier_golden(seed: int) -> dict:
    """The batch's pre-existing seen set (``seen_urls``, an input of the
    job) and an independent pure-Python count of the distinct canonical,
    relevant URLs of the batch that are not in it, both made with the
    reference model's ``canonicalize`` and ``relevance``."""
    path = os.path.join(DATA, "golden", f"frontier-{golden_key()}-s{seed}.json")

    def build():
        from news_crawler_spark.config import (
            EXCLUDE_KEYWORDS, INCLUDE_KEYWORDS, PROFILES, keyword_scope)
        from news_crawler_spark.reference_model import canonicalize, relevance

        prm = frontier_params(seed)
        kws = (list(INCLUDE_KEYWORDS), list(EXCLUDE_KEYWORDS))
        base = PROFILES[0]
        profs = {(v, m): dataclasses.replace(base, relevance_variant=v,
                                             use_exclude=True, min_include=m)
                 for v in FRONTIER_VARIANT_CYCLE for m in (1, 2)}
        seen = set()
        for i0 in frontier_seen_ids(prm):
            for i in range(i0, i0 + FRONTIER_DUP):
                href, site, _, _, _ = frontier_row(i, prm["hosts"], *kws)
                c = canonicalize(href, site, False)
                if c is not None:
                    seen.add(c)
        new, canon_null, relevant = set(), 0, 0
        with keyword_scope(prm["include"], prm["exclude"]):
            for i in range(prm["id0"], prm["id0"] + prm["n"]):
                href, site, title, variant, min_inc = frontier_row(i, prm["hosts"], *kws)
                c = canonicalize(href, site, False)
                if c is None:
                    canon_null += 1
                    continue
                if not relevance(title, profs[(variant, min_inc)]):
                    continue
                relevant += 1
                if c not in seen:
                    new.add(c)
        return {"survivors": len(new), "seen_urls": sorted(seen),
                "canon_null": canon_null, "relevant": relevant}

    return _cache_json(path, build)
