"""Sharded cuckoo filter over a URL set — a standalone operator whose
reason to exist is DELETION, which Bloom bits cannot support.

A seen-set with expiry (re-crawl policies that let documents leave the
set and be fetched again) needs to remove entries; the crawl's own seen
set only grows, so its prefilter is the Bloom filter in
operators/bloom.py and this module is not on the crawl path. The probe
contract is the same: a negative is DEFINITELY absent, a positive must
be confirmed against the exact set.

Standard partial-key cuckoo hashing: 4-slot buckets, fingerprint
fp ∈ [1, 2^16), candidate buckets i1 = h mod B and
i2 = i1 XOR (fp·0x5bd1e995) mod B (XOR makes the pair computable from
either side — eviction needs no key).

Same shard layout as bloom: shard_id = h1(url) % n_shards, build via
applyInPandas per shard, probe via a broadcast pandas UDF, delete via a
cogrouped applyInPandas.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloom import _h12, shard_id_col, track_broadcast

SLOTS = 4
MIX = np.uint64(0x5BD1E995)

CUCKOO_SCHEMA = "shard_id int, n_buckets bigint, table binary, version int, n_items bigint"


def _fingerprints(urls: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(fp, i1) per url: fp from the md5's second word (never 0), primary
    bucket from the first word — matching the shard-routing hash family."""
    h1, h2 = _h12(urls)
    fp = (h2 % np.uint64(65535)).astype(np.uint64) + np.uint64(1)
    return fp, h1


def _alt_bucket(i: np.ndarray, fp: np.ndarray, n_buckets: np.uint64) -> np.ndarray:
    return (i ^ (fp * MIX)) % n_buckets


def build_shards(
    seen: DataFrame,
    n_shards: int = 32,
    buckets_per_shard: int = 1 << 14,   # × 4 slots ≈ 64k items/shard at 100% load
    version: int = 0,
) -> DataFrame:
    """seen(url_canon) → cuckoo shard table. Raises on insertion failure
    (size shards for ≤ ~80% load; the caller picks n_shards)."""
    nb = np.uint64(buckets_per_shard)

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["shard_id"].iloc[0])
        table = np.zeros((buckets_per_shard, SLOTS), dtype=np.uint16)
        fp, h1 = _fingerprints(pdf["url_canon"])
        i1 = (h1 // np.uint64(n_shards)) % nb
        n = _insert_into_table(table, fp, i1, nb, sid)
        return pd.DataFrame(
            [[sid, buckets_per_shard, table.tobytes(), version, n]],
            columns=["shard_id", "n_buckets", "table", "version", "n_items"],
        )

    routed = seen.withColumn("shard_id", shard_id_col(F.col("url_canon"), n_shards))
    return routed.groupBy("shard_id").applyInPandas(make, schema=CUCKOO_SCHEMA)


def _lookup(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, nb: np.uint64) -> np.ndarray:
    i2 = _alt_bucket(i1, fp, nb)
    fp16 = fp.astype(np.uint16)
    hit = np.zeros(len(fp), dtype=bool)
    for s in range(SLOTS):
        hit |= table[i1.astype(np.int64), s] == fp16
        hit |= table[i2.astype(np.int64), s] == fp16
    return hit


def probe_broadcast(candidates: DataFrame, shard_rows: list, n_shards: int,
                    url_col: str = "url_canon") -> DataFrame:
    """Adds ``maybe_seen``; shard tables travel as an ``sc.broadcast``
    (not UDF-closure bytes — closure bytes re-serialize into every task;
    a broadcast ships once per executor and python workers cache it)."""
    from pyspark.sql.functions import pandas_udf

    # session from the DataFrame, not getActiveSession() (None off-thread)
    sc = candidates.sparkSession.sparkContext
    bc = sc.broadcast({
        "tables": {int(r["shard_id"]): bytes(r["table"]) for r in shard_rows},
        "n_buckets": int(shard_rows[0]["n_buckets"]),
    })
    track_broadcast(bc)

    @pandas_udf("boolean")
    def cuckoo_maybe_seen(urls: pd.Series) -> pd.Series:
        v = bc.value
        tables = {s: np.frombuffer(b, dtype=np.uint16).reshape(-1, SLOTS)
                  for s, b in v["tables"].items()}
        nb = np.uint64(v["n_buckets"])
        fp, h1 = _fingerprints(urls)
        sid = h1 % np.uint64(n_shards)
        i1 = (h1 // np.uint64(n_shards)) % nb
        out = np.zeros(len(urls), dtype=bool)
        for s, table in tables.items():
            m = sid == np.uint64(s)
            if m.any():
                out[m] = _lookup(table, fp[m], i1[m], nb)
        return pd.Series(out)

    return candidates.withColumn("maybe_seen", cuckoo_maybe_seen(F.col(url_col)))


def _insert_into_table(table: np.ndarray, fp: np.ndarray, i1: np.ndarray,
                       nb: np.uint64, sid: int) -> int:
    rng_state = np.uint64(0x9E3779B97F4A7C15)
    inserted = 0
    for f, b in zip(fp, i1):
        f = np.uint16(f)
        cur = int(b)
        placed = False
        for _kick in range(500):
            row = table[cur]
            empty = np.flatnonzero(row == 0)
            if empty.size:
                table[cur, empty[0]] = f
                placed = True
                break
            rng_state = (rng_state * np.uint64(6364136223846793005)
                         + np.uint64(1442695040888963407)) & np.uint64(0xFFFFFFFFFFFFFFFF)
            slot = int(rng_state % np.uint64(SLOTS))
            f, table[cur, slot] = table[cur, slot], f
            cur = int(_alt_bucket(np.uint64(cur), np.uint64(f), nb))
        if not placed:
            raise RuntimeError(f"cuckoo shard {sid} overflow — resize")
        inserted += 1
    return inserted


def delete_urls(shards: DataFrame, urls: DataFrame, n_shards: int = 32) -> DataFrame:
    """Remove fingerprints for the given urls — the operation Bloom cannot
    do (re-crawl policies expiring seen-set entries). Caveat inherited
    from the structure: deleting a url whose fingerprint+bucket collide
    with another stored url removes one copy — only delete urls that were
    actually inserted. Cogrouped per shard, like the probes."""

    def apply_deletes(shard_pdf: pd.DataFrame, del_pdf: pd.DataFrame) -> pd.DataFrame:
        if shard_pdf.empty:
            return pd.DataFrame(
                columns=["shard_id", "n_buckets", "table", "version", "n_items"]
            )
        row = shard_pdf.iloc[0]
        table = np.frombuffer(row["table"], dtype=np.uint16).reshape(-1, SLOTS).copy()
        nb = np.uint64(int(row["n_buckets"]))
        removed = 0
        if not del_pdf.empty:
            fp, h1 = _fingerprints(del_pdf["url_canon"])
            i1 = (h1 // np.uint64(n_shards)) % nb
            for f, b in zip(fp, i1):
                f16 = np.uint16(f)
                for cand_b in (int(b), int(_alt_bucket(np.uint64(b), np.uint64(f), nb))):
                    slots = np.flatnonzero(table[cand_b] == f16)
                    if slots.size:
                        table[cand_b, slots[0]] = 0
                        removed += 1
                        break
        return pd.DataFrame(
            [[int(row["shard_id"]), int(row["n_buckets"]), table.tobytes(),
              int(row["version"]) + 1, int(row["n_items"]) - removed]],
            columns=["shard_id", "n_buckets", "table", "version", "n_items"],
        )

    routed = urls.withColumn("shard_id", shard_id_col(F.col("url_canon"), n_shards))
    return (
        shards.groupBy("shard_id")
        .cogroup(routed.groupBy("shard_id"))
        .applyInPandas(apply_deletes, schema=CUCKOO_SCHEMA)
    )
