"""Snapshot store — atomic multi-table commits over Parquet.

The reference's checkpoint is a git commit of ``news_json/*.json`` per
run (daum_scrape.yml:47-56): crash → next run restores the last
committed state (SURVEY §3.3). The engine reproduces those semantics
with an Iceberg-shaped layer (no Iceberg runtime jar ships with this
sandbox's pyspark — SURVEY §7.3): every table version is an immutable
Parquet directory; a single JSON manifest names the live version of
every table plus the last committed ``batch_id``; commit = write data
dirs, then atomically swap the manifest (``os.replace`` — POSIX-atomic).
A killed job leaves orphan version dirs (ignored by readers, GC'd on
next commit) and resumes from the last manifest exactly.

Two table modes:
* ``overwrite`` — small state tables (frontier, seed_state, fuzzy
  titles): the manifest points at one directory, rewritten per batch.
* ``append``   — monotone tables (documents, seen, metrics): the
  manifest lists delta directories; read = parquet scan of all of them
  (one ``spark.read.parquet(*dirs)``). A 10^10-row table is never
  rewritten — commits are O(batch), the MERGE's "WHEN NOT MATCHED
  INSERT" arm realized as append-after-anti-join.

Idempotence: ``commit`` records ``batch_id``; re-running an in-flight
batch after a crash re-writes new version dirs and swaps once — the
previously half-written dirs are unreachable. ``last_batch_id`` lets the
driver skip batches already committed.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Iterable

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

# Spark DDL scalar type → arrow type, chosen so a pyarrow-written file
# is byte-compatible with the Spark-written versions of the SAME table
# (append dirs mix producers; readers assume one schema: int stays
# int32, long int64, timestamps micros-adjusted-to-UTC).
_DDL_PA = {
    "int": pa.int32(), "integer": pa.int32(),
    "bigint": pa.int64(), "long": pa.int64(),
    "string": pa.string(), "boolean": pa.bool_(),
    "binary": pa.binary(), "double": pa.float64(),
    "float": pa.float32(), "timestamp": pa.timestamp("us", tz="UTC"),
}


class LocalTable:
    """Driver-held rows destined for a snapshot commit.

    The crawl loop's tiny state tables (seed state, frontier, filter
    shards, the fused seen delta) already live as driver rows; writing
    them through Spark cost one 1-task cluster job per table per window —
    at K=1 the commit's job count, not its bytes, was the window floor.
    A LocalTable is written by the commit thread with pyarrow directly:
    zero Spark jobs, same parquet bytes-on-disk contract.

    The arrow table is built EAGERLY here (pa.array copies) so the async
    commit thread never reads driver state the next window is mutating
    (seed_state dicts, Bloom shard buffers).
    """

    def __init__(self, rows: list[tuple], ddl: str):
        fields = []
        for part in ddl.split(","):
            name, typ = part.strip().split(" ", 1)
            fields.append(pa.field(name, _DDL_PA[typ.strip().lower()]))
        schema = pa.schema(fields)
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        self.table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )

    def write(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        pq.write_table(self.table, os.path.join(path, "part-00000.parquet"),
                       compression="snappy")


class SnapshotStore:
    MANIFEST = "_manifest.json"
    HIST_DIR = "_hist"

    def __init__(self, root: str, keep_versions: int = 3):
        """``keep_versions``: how many superseded manifest versions keep
        their overwrite-table directories on disk (rollback window).
        Append deltas are never GC'd by version."""
        self.root = root
        self.keep_versions = keep_versions
        self._pending = None
        self._executor = None
        os.makedirs(root, exist_ok=True)
        os.makedirs(os.path.join(root, self.HIST_DIR), exist_ok=True)

    # ------------------------------------------------------------ manifest

    def _manifest_path(self) -> str:
        return os.path.join(self.root, self.MANIFEST)

    def _hist_path(self, version: int) -> str:
        return os.path.join(self.root, self.HIST_DIR, f"m_{version:08d}.json")

    def _hist_versions(self) -> list[int]:
        d = os.path.join(self.root, self.HIST_DIR)
        out = []
        for name in os.listdir(d) if os.path.isdir(d) else []:
            if name.startswith("m_") and name.endswith(".json"):
                out.append(int(name[2:-5]))
        return sorted(out)

    def manifest(self) -> dict:
        """Live manifest; a corrupted/truncated main manifest recovers
        from the newest parseable history copy (the Google corrupted-
        state-recovery analog, Google_Crawler.py:112-145 — there: corrupt
        JSON state → reset; here: roll back to last good manifest)."""
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"version": 0, "batch_id": -1, "tables": {}, "history": []}
        try:
            with open(p) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            for v in reversed(self._hist_versions()):
                try:
                    with open(self._hist_path(v)) as f:
                        man = json.load(f)
                    return man
                except (json.JSONDecodeError, OSError):
                    continue
            return {"version": 0, "batch_id": -1, "tables": {}, "history": []}

    @property
    def last_batch_id(self) -> int:
        return int(self.manifest()["batch_id"])

    # ------------------------------------------------------------ read

    def read(self, spark: SparkSession, name: str) -> DataFrame | None:
        """Live snapshot of a table, or None if never committed."""
        entry = self.manifest()["tables"].get(name)
        if not entry:
            return None
        dirs = entry["dirs"]
        if not dirs:
            return None
        return spark.read.parquet(*[os.path.join(self.root, d) for d in dirs])

    def exists(self, name: str) -> bool:
        return bool(self.manifest()["tables"].get(name, {}).get("dirs"))

    def read_at_batch(self, spark: SparkSession, name: str, batch_id: int) -> DataFrame | None:
        """Time travel for append tables: the table as of a committed
        batch (Iceberg snapshot-read semantics). Append deltas are named
        by the version that committed them and the manifest history maps
        batch→version, so the as-of state is the delta dirs with version
        ≤ that batch's version. History is kept in FULL (a few bytes per
        commit — round-1 ADVICE: truncation made old batches
        indistinguishable from 'never existed'). Overwrite tables
        time-travel within the ``keep_versions`` rollback window via
        ``rollback``."""
        man = self.manifest()
        entry = man["tables"].get(name)
        if entry and entry.get("mode") == "append":
            version_of = {h["batch_id"]: h["version"] for h in man.get("history", [])}
            if batch_id not in version_of:
                return None
            vmax = version_of[batch_id]
            dirs = [d for d in entry["dirs"] if int(d.rsplit("/v", 1)[1]) <= vmax]
            if not dirs:
                return None
            return spark.read.parquet(*[os.path.join(self.root, d) for d in dirs])
        # overwrite tables: as-of read via the batch's history manifest,
        # valid while its dirs survive the keep_versions GC window
        for v in reversed(self._hist_versions()):
            try:
                with open(self._hist_path(v)) as f:
                    hman = json.load(f)
            except (json.JSONDecodeError, OSError):
                continue
            if hman.get("batch_id") != batch_id:
                continue
            hentry = hman["tables"].get(name)
            if not hentry:
                return None
            paths = [os.path.join(self.root, d) for d in hentry["dirs"]]
            if not paths or not all(os.path.isdir(p) for p in paths):
                return None  # outside the rollback window (GC'd)
            return spark.read.parquet(*paths)
        return None

    # ------------------------------------------------------------ rollback

    def rollback(self, batch_id: int) -> None:
        """Restore the store to the state committed for ``batch_id`` —
        the engine's corrupted-state/operator-error escape hatch. The
        historical manifest becomes a NEW manifest version (roll-forward
        history is preserved on disk until GC'd), so a rollback is itself
        atomic and resumable. Only batches whose overwrite dirs are still
        within the ``keep_versions`` GC window can be restored."""
        self.wait_commit()
        target = None
        for v in reversed(self._hist_versions()):
            with open(self._hist_path(v)) as f:
                man = json.load(f)
            if man.get("batch_id") == batch_id:
                target = man
                break
        if target is None:
            raise KeyError(f"no manifest history for batch {batch_id}")
        missing = [
            d for e in target["tables"].values() for d in e["dirs"]
            if not os.path.isdir(os.path.join(self.root, d))
        ]
        if missing:
            raise KeyError(
                f"batch {batch_id} outside the rollback window; GC'd dirs: {missing}"
            )
        cur = self.manifest()
        new_man = dict(target)
        new_man["version"] = int(cur["version"]) + 1
        new_man["rolled_back_from"] = cur["version"]
        self._swap_manifest(new_man)
        self._gc(new_man["tables"])

    # ------------------------------------------------------------ commit

    def commit(
        self,
        batch_id: int,
        overwrite: dict[str, DataFrame] | None = None,
        append: dict[str, DataFrame] | None = None,
        meta: dict | None = None,
    ) -> None:
        """Atomically publish one micro-batch's table changes.

        All data directories are fully written *before* the manifest
        swap; the swap is the only visible transition.
        """
        man = self.manifest()
        new_version = int(man["version"]) + 1
        tables = {k: dict(v) for k, v in man["tables"].items()}

        # All data dirs are written before the manifest swap; writes are
        # independent Spark jobs, so run them concurrently (the swap below
        # is still the single atomic commit point).
        from concurrent.futures import ThreadPoolExecutor

        jobs: list[tuple[str, DataFrame, str, str]] = []
        for name, df in (overwrite or {}).items():
            jobs.append((name, df, f"{name}/v{new_version}", "overwrite"))
        for name, df in (append or {}).items():
            jobs.append((name, df, f"{name}/v{new_version}", "append"))

        def write(job):
            name, df, d, _mode = job
            if isinstance(df, LocalTable):
                df.write(os.path.join(self.root, d))  # driver-side, no job
            else:
                df.write.mode("overwrite").parquet(os.path.join(self.root, d))

        if jobs:
            with ThreadPoolExecutor(max_workers=min(8, len(jobs))) as ex:
                list(ex.map(write, jobs))
        for name, df, d, mode in jobs:
            if mode == "overwrite":
                tables[name] = {"mode": "overwrite", "dirs": [d]}
            else:
                prev = tables.get(name, {"mode": "append", "dirs": []})
                tables[name] = {"mode": "append", "dirs": prev["dirs"] + [d]}

        new_man = {
            "version": new_version,
            "batch_id": batch_id,
            "tables": tables,
            "committed_at": time.time(),
            "meta": meta or {},
            # FULL history (version↔batch map for read_at_batch): a few
            # bytes per commit, never truncated (round-1 ADVICE)
            "history": (man.get("history") or [])
            + [{"version": new_version, "batch_id": batch_id}],
        }
        self._swap_manifest(new_man)
        self._gc(tables)

    def _swap_manifest(self, new_man: dict) -> None:
        """Write the full manifest to history, then atomically swap the
        live pointer. The history copy lands BEFORE the swap so recovery
        never sees a committed state without its history twin."""
        hist = self._hist_path(int(new_man["version"]))
        with open(hist, "w") as f:
            json.dump(new_man, f)
            f.flush()
            os.fsync(f.fileno())
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(new_man, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())  # the atomic commit point

    # ------------------------------------------------------------ async

    def commit_async(self, *args, **kwargs):
        """Submit ``commit`` on a background thread; at most one commit is
        in flight (a second submission waits for the first — manifest
        versions stay strictly ordered). The caller overlaps the next
        micro-batch's DAG build/compute with this window's table writes;
        a crash before the swap simply resumes from the previous
        manifest and replays the window (idempotent)."""
        from concurrent.futures import ThreadPoolExecutor

        self.wait_commit()
        if self._executor is None:
            self._executor = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="snapshot-commit"
            )
        self._pending = self._executor.submit(self.commit, *args, **kwargs)
        return self._pending

    def wait_commit(self) -> None:
        """Block until the in-flight async commit (if any) has swapped its
        manifest; re-raises its exception."""
        if self._pending is not None:
            pending, self._pending = self._pending, None
            pending.result()

    # ------------------------------------------------------------ gc

    def _gc(self, live_tables: dict) -> None:
        """Remove version dirs not referenced by the live manifest or by
        the last ``keep_versions`` history manifests (the rollback
        window). History manifest FILES are kept in full — bytes, not
        data — so read_at_batch works for every committed batch. Orphan
        dirs from crashed batches disappear here too."""
        live: set[str] = set()
        for entry in live_tables.values():
            live.update(entry["dirs"])
        versions = self._hist_versions()
        kept = versions[-self.keep_versions:] if self.keep_versions else []
        for v in kept:
            try:
                with open(self._hist_path(v)) as f:
                    man = json.load(f)
                for entry in man["tables"].values():
                    live.update(entry["dirs"])
            except (json.JSONDecodeError, OSError):
                continue
        for name in os.listdir(self.root):
            if name == self.HIST_DIR:
                continue
            tdir = os.path.join(self.root, name)
            if not os.path.isdir(tdir):
                continue
            for v in os.listdir(tdir):
                rel = f"{name}/{v}"
                if rel not in live:
                    shutil.rmtree(os.path.join(tdir, v), ignore_errors=True)


def merge_insert_new(existing: DataFrame | None, new: DataFrame, key: str) -> DataFrame:
    """MERGE ... WHEN NOT MATCHED THEN INSERT (SURVEY §2.4 D5/J3): the
    reference's save-time dedup loops (Daum_crawler.py:213-217). Returns
    only the rows to append."""
    if existing is None:
        return new.dropDuplicates([key])
    return new.dropDuplicates([key]).join(existing.select(key), on=key, how="left_anti")
