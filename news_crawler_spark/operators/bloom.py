"""Partitioned Bloom-filter URL-seen prefilter — SURVEY.md §2.4 (D1).

The reference holds every seen URL in an in-memory Python set
(Nate_Crawler.py:44, seeded from disk at Naver_Crawler.py:58-64) — a
non-starter at 10^10 URLs. Here the seen-set is (a) an exact ``seen``
table, the only authority: ``dedup_new`` and ``dedup_new_rows`` are ONE
exact ``left_anti`` against it; and (b) a sharded Bloom filter persisted
as a ``bloom_shards`` table, whose probes (``probe_broadcast``, the
cogrouped ``probe``) flag each candidate ``maybe_seen`` with no false
negatives (a null URL is never maybe-seen).

The dedup does not probe the filter. A probe negative saves work only
if it skips the anti-join, and that takes a second plan arm over the
probed frame, so Spark evaluates the upstream plan and the pandas-UDF
probe twice. Routing negatives through the same join on a key that never
matches probes once but saves no join work. Either way the probe's
per-task Python hop costs more than the broadcast anti-join it could
spare (see ROADMAP item 2 for the measurements and what is left).

Scale design: shard_id = h1(url) % n_shards. Small filters ship to the
probe as one broadcast bitset (the shards concatenated in shard order);
a filter too big to broadcast is probed by a **cogrouped applyInPandas** on
shard_id, so candidate partitions meet only their own shard's bits — no
broadcast of the full filter (at 10^10 URLs the filter is ~12 GB; one
shard is a few MB). Shard count is the knob that bounds per-task memory.
Updates are idempotent OR-merges of per-batch delta shards.

Hashing is md5 double-hashing (h1 + i*h2 mod n_bits) — deterministic
across Python/JVM boundaries and stable across runs (no PYTHONHASHSEED
dependence).
"""

from __future__ import annotations

import hashlib
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_N_SHARDS = 32
DEFAULT_BITS_PER_SHARD = 1 << 20  # 128 KiB/shard
DEFAULT_N_HASHES = 7

BLOOM_SCHEMA = "shard_id int, n_bits bigint, n_hashes int, bits binary, version int"


def _h12(urls: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Per-URL md5 double-hash. The digest call is per-row (hashlib has no
    batch API) but the 128-bit→(h1,h2) unpacking is one vectorized
    frombuffer over the concatenated digests — no per-row int.from_bytes."""
    if len(urls) == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.uint64)
    digs = b"".join(hashlib.md5(u.encode()).digest() for u in urls)
    arr = np.frombuffer(digs, dtype=">u8").reshape(-1, 2).astype(np.uint64)
    return arr[:, 0], arr[:, 1] | np.uint64(1)  # odd → full-period stride


def _positions(h1: np.ndarray, h2: np.ndarray, n_shards: int, n_bits: int,
               k: int):
    """Yields, for each hash i < k, the n bit positions in the bitset of
    n_shards concatenated n_bits-bit shards: shard h1 % n_shards, in-shard
    bit (h1 + i*h2) % n_bits. n_shards=1 addresses one shard. One hash at
    a time keeps the scratch O(n), whatever k is."""
    n_bits = np.uint64(n_bits)
    base = (h1 % np.uint64(n_shards)) * n_bits
    for i in range(k):
        yield base + (h1 + np.uint64(i) * h2) % n_bits


def _set_bits(bits: np.ndarray, positions) -> None:
    for pos in positions:
        np.bitwise_or.at(bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))


def _maybe_seen(urls: pd.Series, bits: np.ndarray, n_shards: int, n_bits: int,
                k: int) -> np.ndarray:
    """Probe flags against a concatenated bitset; a null URL is never
    maybe-seen."""
    ok = urls.notna().to_numpy()
    h1, h2 = _h12(urls[ok])
    hit = np.ones(len(h1), dtype=bool)
    for pos in _positions(h1, h2, n_shards, n_bits, k):
        hit &= (bits[(pos >> 3).astype(np.int64)] & (1 << (pos & 7)).astype(np.uint8)) != 0
    out = np.zeros(len(urls), dtype=bool)
    out[ok] = hit
    return out


def shard_id_col(url: F.Column, n_shards: int = DEFAULT_N_SHARDS) -> F.Column:
    """JVM-side shard routing that matches _h12's h1 % n_shards: first 8
    bytes (big-endian) of md5. conv() on 16 hex chars is unsigned 64-bit."""
    hex16 = F.substring(F.md5(url), 1, 16)
    return F.pmod(F.conv(hex16, 16, 10).cast("decimal(20,0)"), F.lit(n_shards)).cast("int")


def build_shards(
    seen: DataFrame,
    n_shards: int = DEFAULT_N_SHARDS,
    n_bits: int = DEFAULT_BITS_PER_SHARD,
    n_hashes: int = DEFAULT_N_HASHES,
    version: int = 0,
) -> DataFrame:
    """seen(url_canon) → bloom_shards; applyInPandas per shard (UDAF-shaped)."""

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["shard_id"].iloc[0])
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        h1, h2 = _h12(pdf["url_canon"])
        _set_bits(bits, _positions(h1, h2, 1, n_bits, n_hashes))
        return pd.DataFrame(
            [[sid, n_bits, n_hashes, bits.tobytes(), version]],
            columns=["shard_id", "n_bits", "n_hashes", "bits", "version"],
        )

    routed = seen.withColumn("shard_id", shard_id_col(F.col("url_canon"), n_shards))
    return routed.groupBy("shard_id").applyInPandas(make, schema=BLOOM_SCHEMA)


def rows_from_urls(
    urls,
    n_shards: int = DEFAULT_N_SHARDS,
    n_bits: int = DEFAULT_BITS_PER_SHARD,
    n_hashes: int = DEFAULT_N_HASHES,
    version: int = 0,
) -> list[dict]:
    """Driver-side twin of ``build_shards(...).collect()`` for
    window-bounded accept sets: identical md5 double-hash bit math and
    shard routing (h1 % n_shards == shard_id_col), zero Spark jobs —
    the crawl loop folds the filter update into its accept-stats collect
    instead of running a separate applyInPandas job per window."""
    h1, h2 = _h12(pd.Series(urls))
    n_bytes = n_bits // 8
    bits = np.zeros(n_shards * n_bytes, dtype=np.uint8)
    _set_bits(bits, _positions(h1, h2, n_shards, n_bits, n_hashes))
    return [{"shard_id": s, "n_bits": n_bits, "n_hashes": n_hashes,
             "bits": bits[s * n_bytes:(s + 1) * n_bytes].tobytes(), "version": version}
            for s in map(int, np.unique(h1 % np.uint64(n_shards)))]


def merge_shards(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """OR-merge shard tables (idempotent — re-merging a batch is a no-op)."""

    def orit(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for b in pdf["bits"]:
            a = np.frombuffer(b, dtype=np.uint8)
            acc = a.copy() if acc is None else (acc | a)
        r = pdf.iloc[[0]].copy()
        r["bits"] = [acc.tobytes()]
        r["version"] = int(pdf["version"].max())
        return r

    both = existing.unionByName(delta)
    return both.groupBy("shard_id").applyInPandas(orit, schema=BLOOM_SCHEMA)


def probe(candidates: DataFrame, shards: DataFrame, url_col: str = "url_canon",
          n_shards: int = DEFAULT_N_SHARDS) -> DataFrame:
    """Adds ``maybe_seen`` to candidates via cogrouped per-shard probe.

    Candidates shuffle on shard_id and meet only their shard's bits —
    the scale-path layout (no full-filter broadcast).
    """
    out_schema = f"{url_col} string, maybe_seen boolean"

    def pr(cand: pd.DataFrame, sh: pd.DataFrame) -> pd.DataFrame:
        if sh.empty:  # shard with no committed bits: definitely new
            return pd.DataFrame({url_col: cand[url_col], "maybe_seen": False})
        bits = np.frombuffer(sh["bits"].iloc[0], dtype=np.uint8)
        hit = _maybe_seen(cand[url_col], bits, 1, int(sh["n_bits"].iloc[0]),
                          int(sh["n_hashes"].iloc[0]))
        return pd.DataFrame({url_col: cand[url_col].values, "maybe_seen": hit})

    routed = (candidates.select(url_col).distinct().filter(F.col(url_col).isNotNull())
              .withColumn("shard_id", shard_id_col(F.col(url_col), n_shards)))
    flags = routed.groupBy("shard_id").cogroup(shards.groupBy("shard_id")).applyInPandas(
        pr, schema=out_schema
    )
    # a URL without a flag row is maybe-seen (the exact join decides); a
    # null URL is not, as in the broadcast probe
    return candidates.join(flags, on=url_col, how="left").select(
        *candidates.columns,
        F.coalesce("maybe_seen", F.col(url_col).isNotNull()).alias("maybe_seen"))


# Registry of the sc.broadcast handles minted by probe_broadcast (here
# and in operators/cuckoo.py). It holds STRONG references: the only other
# reference lives inside the pickled UDF closure, so a weakref would be
# dead on return and nothing could be destroyed. A caller that probes
# repeatedly (perfbench, per job) drains the registry and destroys the
# handles once no live plan can re-evaluate them, instead of letting
# shard bytes accrete until the next periodic GC. One-shot callers
# (tests) never drain, so the registry keeps only the newest
# MAX_TRACKED_BROADCASTS handles; older ones fall back to the normal
# ContextCleaner lifecycle instead of staying pinned for the session.
MAX_TRACKED_BROADCASTS = 8
_LIVE_PROBE_BROADCASTS: list = []
_REGISTRY_LOCK = threading.Lock()


def track_broadcast(bc) -> None:
    """Register a probe broadcast for the next drain (bounded, see above)."""
    with _REGISTRY_LOCK:
        _LIVE_PROBE_BROADCASTS.append(bc)
        del _LIVE_PROBE_BROADCASTS[:-MAX_TRACKED_BROADCASTS]


def drain_probe_broadcasts() -> list:
    """Hand the tracked broadcast handles to the caller and reset the
    registry (one atomic swap: a handle tracked from another thread lands
    either in the returned list or in the fresh one, never in neither).
    The caller owns deciding when destroy_broadcasts is safe."""
    global _LIVE_PROBE_BROADCASTS
    with _REGISTRY_LOCK:
        out, _LIVE_PROBE_BROADCASTS = _LIVE_PROBE_BROADCASTS, []
    return out


def destroy_broadcasts(handles: list) -> None:
    """Destroy broadcast handles (frees executor blocks AND the driver
    copy now, not at the next periodic GC). Errors mean the handle is
    already destroyed or the context is shutting down — fine to skip."""
    for bc in handles:
        try:
            bc.destroy()
        except Exception:
            pass


def probe_broadcast(candidates: DataFrame, shard_rows: list, n_shards: int,
                    url_col: str = "url_canon") -> DataFrame:
    """Small-filter probe as a scalar pandas UDF (fuses into the existing
    stage — zero extra shuffles). The shard bits travel as an explicit
    ``sc.broadcast`` — NOT in the UDF closure: closure bytes are
    re-serialized into every task (the crawl profile showed 1 MiB tasks
    on every stage touching the probe, with the driver paying that
    serialization serially), while a broadcast ships once per executor
    and is cached by the python workers across tasks. The cogrouped
    ``probe`` is the big-filter path; same bit semantics. ``n_shards`` is
    the CONFIGURED shard count (routing modulus) — the committed rows may
    cover fewer shards; an absent shard ships as zero bytes, so every URL
    routed to it is definitely new."""
    from pyspark.sql.functions import pandas_udf

    n_bits, k = int(shard_rows[0]["n_bits"]), int(shard_rows[0]["n_hashes"])
    n_bytes = n_bits // 8
    bits = np.zeros(n_shards * n_bytes, dtype=np.uint8)
    for r in shard_rows:
        s = int(r["shard_id"])
        bits[s * n_bytes:(s + 1) * n_bytes] = np.frombuffer(r["bits"], dtype=np.uint8)
    # resolve the context from the DataFrame itself: getActiveSession()
    # returns None off the main thread (e.g. a plan built from the async
    # commit thread) — the argument already carries its session
    bc = candidates.sparkSession.sparkContext.broadcast(bits.tobytes())
    track_broadcast(bc)

    @pandas_udf("boolean")
    def bloom_maybe_seen(urls: pd.Series) -> pd.Series:
        return pd.Series(_maybe_seen(urls, np.frombuffer(bc.value, dtype=np.uint8),
                                     n_shards, n_bits, k))

    return candidates.withColumn("maybe_seen", bloom_maybe_seen(F.col(url_col)))


def merge_rows(prev_rows: list | None, delta_rows: list) -> list:
    """Driver-side OR-merge of collected shard rows (dicts). The crawl
    loop keeps the filter state on the driver: per window it builds only
    the DELTA shards and merges them here in numpy — no lazy DataFrame
    chain whose re-evaluation would grow with window count."""
    by = {int(r["shard_id"]): dict(r) for r in (prev_rows or [])}
    for r in delta_rows:
        sid = int(r["shard_id"])
        if sid not in by:
            by[sid] = dict(r)
            continue
        a = np.frombuffer(by[sid]["bits"], dtype=np.uint8)
        b = np.frombuffer(r["bits"], dtype=np.uint8)
        by[sid] = dict(by[sid], bits=(a | b).tobytes(),
                       version=max(int(by[sid]["version"]), int(r["version"])))
    return [by[k] for k in sorted(by)]


def dedup_new_rows(candidates: DataFrame, seen: DataFrame, shard_rows: list,
                   url_col: str = "url_canon",
                   n_shards: int = DEFAULT_N_SHARDS) -> DataFrame:
    """dedup_new for driver-held shard rows: the exact left_anti.
    ``shard_rows`` and ``n_shards`` are accepted but unused (perfbench's
    frontier job passes them); see the module docstring for why the
    probe would route nothing here."""
    return candidates.join(seen, on=url_col, how="left_anti")


def dedup_new(candidates: DataFrame, seen: DataFrame, shards: DataFrame | None,
              url_col: str = "url_canon", n_shards: int = DEFAULT_N_SHARDS) -> DataFrame:
    """D1: rows of candidates whose URL is not in seen — the exact
    left_anti, with or without shards (see the module docstring)."""
    return candidates.join(seen, on=url_col, how="left_anti")
