"""Partitioned Bloom-filter URL-seen prefilter — SURVEY.md §2.4 (D1).

The reference holds every seen URL in an in-memory Python set
(Nate_Crawler.py:44, seeded from disk at Naver_Crawler.py:58-64) — a
non-starter at 10^10 URLs. Here the seen-set is (a) an exact ``seen``
table (parity authority) and (b) a sharded Bloom filter persisted as a
``bloom_shards`` table, used only to *route*: candidates whose probe is
negative are definitely unseen and skip the exact anti-join; positives
go through the exact ``left_anti`` join (Bloom false positives therefore
cost a join lookup, never a wrong answer — SURVEY §7.3 "Bloom ∧
exactness").

Scale design: shard_id = h1(url) % n_shards. Probing is a **cogrouped
applyInPandas** on shard_id, so candidate partitions meet only their own
shard's bits — no broadcast of the full filter (at 10^10 URLs the filter
is ~12 GB; one shard is a few MB). Shard count is the knob that bounds
per-task memory. Updates are idempotent OR-merges of per-batch delta
shards.

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
        for i in range(n_hashes):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
            np.bitwise_or.at(bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))
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
    urls = pd.Series(urls)
    h1, h2 = _h12(urls)
    sid = (h1 % np.uint64(n_shards)).astype(np.int64)
    rows = []
    for s in np.unique(sid):
        m = sid == s
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        for i in range(n_hashes):
            pos = (h1[m] + np.uint64(i) * h2[m]) % np.uint64(n_bits)
            np.bitwise_or.at(bits, (pos >> 3).astype(np.int64),
                             (1 << (pos & 7)).astype(np.uint8))
        rows.append({"shard_id": int(s), "n_bits": n_bits, "n_hashes": n_hashes,
                     "bits": bits.tobytes(), "version": version})
    return rows


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
        if cand.empty:
            return pd.DataFrame(columns=[url_col, "maybe_seen"])
        if sh.empty:
            return pd.DataFrame({url_col: cand[url_col], "maybe_seen": False})
        bits = np.frombuffer(sh["bits"].iloc[0], dtype=np.uint8)
        n_bits = np.uint64(int(sh["n_bits"].iloc[0]))
        k = int(sh["n_hashes"].iloc[0])
        h1, h2 = _h12(cand[url_col])
        hit = np.ones(len(cand), dtype=bool)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % n_bits
            hit &= (bits[(pos >> 3).astype(np.int64)] & (1 << (pos & 7)).astype(np.uint8)) != 0
        return pd.DataFrame({url_col: cand[url_col].values, "maybe_seen": hit})

    routed = candidates.select(url_col).distinct().withColumn(
        "shard_id", shard_id_col(F.col(url_col), n_shards)
    )
    flags = routed.groupBy("shard_id").cogroup(shards.groupBy("shard_id")).applyInPandas(
        pr, schema=out_schema
    )
    return candidates.join(flags, on=url_col, how="left").fillna({"maybe_seen": True})


BROADCAST_SHARD_BYTES = 64 << 20  # ≤64 MiB of filter → ship in the UDF closure

# Registry of the sc.broadcast handles minted by probe_broadcast (here
# and in operators/cuckoo.py). It holds STRONG references: the only other
# reference lives inside the pickled UDF closure, so a weakref would be
# dead on return and nothing could be destroyed. The crawl loop drains
# the registry per window and destroys the previous window's handles
# once wait_commit and the checkpoint materialization invariants
# guarantee no live plan can re-evaluate them — instead of letting shard
# bytes accrete until the loop's periodic GCs. One-shot callers (q16,
# tests) never drain, so the registry keeps only the newest
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
    cover fewer shards (empty shards are absent)."""
    from pyspark.sql.functions import pandas_udf

    # resolve the context from the DataFrame itself: getActiveSession()
    # returns None off the main thread (e.g. a plan built from the async
    # commit thread) — the argument already carries its session
    sc = candidates.sparkSession.sparkContext
    bc = sc.broadcast({
        "bits": {int(r["shard_id"]): bytes(r["bits"]) for r in shard_rows},
        "n_bits": int(shard_rows[0]["n_bits"]),
        "k": int(shard_rows[0]["n_hashes"]),
    })
    track_broadcast(bc)

    @pandas_udf("boolean")
    def bloom_maybe_seen(urls: pd.Series) -> pd.Series:
        v = bc.value
        shard_bits = {s: np.frombuffer(b, dtype=np.uint8)
                      for s, b in v["bits"].items()}
        n_bits = np.uint64(v["n_bits"])
        k = v["k"]
        h1, h2 = _h12(urls)
        sid = h1 % np.uint64(n_shards)
        # urls routed to a shard with no committed bits are definitely new
        hit = np.isin(sid, np.array(list(shard_bits), dtype=np.uint64))
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % n_bits
            byte_i = (pos >> 3).astype(np.int64)
            mask = (1 << (pos & 7)).astype(np.uint8)
            for s, bits in shard_bits.items():
                m = sid == np.uint64(s)
                if m.any():
                    hit[m] &= (bits[byte_i[m]] & mask[m]) != 0
        return pd.Series(hit)

    return candidates.withColumn("maybe_seen", bloom_maybe_seen(F.col(url_col)))


def merge_rows(prev_rows: list | None, delta_rows: list) -> list:
    """Driver-side OR-merge of collected shard rows (dicts). The crawl
    loop keeps the small-arm (≤BROADCAST_SHARD_BYTES) filter state on the
    driver: per window it collects only the DELTA shards (one small job)
    and merges here in numpy — no lazy DataFrame chain whose re-evaluation
    would grow with window count."""
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
    """dedup_new for driver-held shard rows (the crawl's small-filter
    path): no per-window first()/collect() jobs — the probe closure is
    built directly from the rows."""
    if not shard_rows:
        return candidates.join(seen, on=url_col, how="left_anti")
    flagged = probe_broadcast(candidates, shard_rows, n_shards, url_col)
    definite_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    return definite_new.unionByName(maybe.join(seen, on=url_col, how="left_anti"))


def dedup_new(candidates: DataFrame, seen: DataFrame, shards: DataFrame | None,
              url_col: str = "url_canon", n_shards: int = DEFAULT_N_SHARDS) -> DataFrame:
    """D1: rows of candidates whose URL is not in seen.

    With shards: bloom-negative rows pass directly (no join); only
    bloom-positive rows pay the exact anti-join. Small filters ship via
    the UDF closure (no routing shuffle); big filters use the cogrouped
    per-shard probe. Without shards: plain left_anti.
    """
    if shards is None:
        return candidates.join(seen, on=url_col, how="left_anti")
    shard_rows = None
    first = shards.select("n_bits").first()
    if first is not None and int(first["n_bits"]) // 8 * n_shards <= BROADCAST_SHARD_BYTES:
        shard_rows = shards.collect()
    if shard_rows:
        flagged = probe_broadcast(candidates, shard_rows, n_shards, url_col)
    else:
        flagged = probe(candidates, shards, url_col, n_shards)
    definite_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    checked = maybe.join(seen, on=url_col, how="left_anti")
    return definite_new.unionByName(checked)
