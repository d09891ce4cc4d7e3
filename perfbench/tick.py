"""tick_crawl: the per-site cron pattern — one crawl window per call,
each call resuming from a committed snapshot.

Set-up crawls window 1 of the seeded narrow frontier into a base
snapshot; that first crawl call is also the run's warm-up. Every
measured tick then copies the base snapshot and resumes from it,
so each tick does the same work: rebuild state from the store, crawl
window 2 (K=1), commit, ``wait_commit``. Ticks are closed-loop from one
thread. After each tick the store's documents, crawl order and seen set
are compared with the reference model's state after two pages.
"""

from __future__ import annotations

import os
import shutil
import time

from . import inputs
from .harness import Run
from .probe import median

STAGES = ("due_build", "pregate_materialize", "stats1", "stop_replay", "dag_build",
          "stats2", "prep", "commit_wait", "commit_submit")


def _read_table(store, name: str) -> list[dict]:
    """A committed table's rows, read with pyarrow from the directories
    the store's manifest names (no Spark job on the checking path)."""
    import pyarrow.parquet as pq

    rows = []
    for d in store.manifest()["tables"].get(name, {}).get("dirs", []):
        rows.extend(pq.read_table(os.path.join(store.root, d)).to_pylist())
    return rows


def check_store(store, golden: dict) -> list[str]:
    """Documents (doc_id → spans), crawl order and seen set vs golden."""
    rows = _read_table(store, "documents")
    docs = {r["doc_id"]: [[s["kind"], s["text"], s["media_ref"], s["offset"]] for s in r["spans"]]
            for r in rows}
    order = [r["url_canon"] for r in sorted(rows, key=lambda r: r["crawl_order"])]
    seen = sorted(r["url_canon"] for r in _read_table(store, "seen"))
    problems = []
    if docs != golden["docs"]:
        missing = len(set(golden["docs"]) - set(docs))
        extra = len(set(docs) - set(golden["docs"]))
        problems.append(f"documents differ ({len(docs)} vs golden {len(golden['docs'])}, "
                        f"{missing} missing, {extra} extra)")
    if order != golden["order"]:
        problems.append("crawl order differs")
    if seen != golden["seen"]:
        problems.append(f"seen set differs ({len(seen)} vs golden {len(golden['seen'])})")
    return problems


class TickCrawl:
    def __init__(self, run: Run):
        self.run = run
        self.prm = run.generate(inputs.tick_params, run.seed)

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from news_crawler_spark.sources.store import SnapshotStore
        from news_crawler_spark.sources.world import read_world

        run, tr = self.run, self.run.tracer
        spark = run.spark
        world_dir = run.generate(inputs.tick_world_dir, spark)
        run.generate(inputs.tick_golden, run.seed, 1)
        run.generate(inputs.tick_golden, run.seed, inputs.TICK_MEASURED_WINDOW)
        with tr.span("sources.world.read_world"):
            world = read_world(spark, world_dir)
        world["seeds"] = world["seeds"].filter(F.col("seed_index").isin(self.prm["seeds"]))
        self.world = world
        self.golden1 = inputs.tick_golden(run.seed, 1)
        self.golden = inputs.tick_golden(run.seed, inputs.TICK_MEASURED_WINDOW)
        self.base = os.path.join(run.work, "base")
        with tr.span("tick.warmup", window=1):
            run.attempt("window-1 tick", lambda: self._tick_into(
                SnapshotStore(self.base), self.golden1)[1])

    def _crawl(self, store):
        from news_crawler_spark.plans.crawl import run_crawl

        return run_crawl(
            self.run.spark, self.world, store,
            use_bloom=False, pages_per_batch=1,
            max_batches=max(store.last_batch_id, 0) + 1,
            include_keywords=self.prm["include"],
            exclude_keywords=self.prm["exclude"],
        )

    def _tick_into(self, store, golden):
        res = self._crawl(store)
        return res, check_store(store, golden)

    # ------------------------------------------------------------ one tick

    def tick(self, i: int) -> dict:
        """Copy the base snapshot, resume one window from it (timed), then
        check the result (untimed)."""
        from news_crawler_spark.sources.store import SnapshotStore

        run, tr = self.run, self.run.tracer
        d = os.path.join(run.work, f"tick{i}")
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(self.base, d)
        store = SnapshotStore(d)
        before = run.counts.mark()
        sample_busy = tr.enabled and run.busy is not None
        with tr.span("plans.crawl.run_crawl", tick=i):
            if sample_busy:
                run.busy.active.set()
            t0 = time.perf_counter()
            res = self._crawl(store)
            wall = time.perf_counter() - t0
            if sample_busy:
                run.busy.active.clear()
        spark_counts = run.counts.between(before, run.counts.mark())
        with tr.span("tick.check"):
            problems = check_store(store, self.golden)
        if spark_counts["failed_tasks"]:
            problems.append(f"{spark_counts['failed_tasks']} failed Spark tasks")
        self.last_store = store
        return {"wall": wall, "res": res, "spark": spark_counts, "problems": problems}

    def measured(self, i: int):
        out = {}

        def op():
            out.update(self.tick(i))
            return out["problems"]

        ok = self.run.attempt(f"tick {i}", op)
        return out if ok else None


def end_to_end(ticks: list[dict]) -> dict[str, tuple[float, str]]:
    walls = [t["wall"] for t in ticks]
    total = sum(walls)
    return {
        "docs_per_s": (sum(t["res"].accepted for t in ticks) / total, "1/s"),
        "urls_per_s": (sum(t["res"].items for t in ticks) / total, "1/s"),
        "tick_s_p50": (median(walls), "s"),
    }


def run_tick_crawl(run: Run) -> tuple[dict, dict]:
    w = TickCrawl(run)
    w.setup()
    run.end_setup()
    # a traced run first repeats the untraced loop, so the tracing
    # overhead is the difference of two tick medians of one process
    run.tracer.enabled = False
    ticks = [t for t in run.loop(w.measured) if t is not None]
    run.tracer.enabled = run.trace
    notes = {"ticks": len(ticks),
             "docs_per_tick": ticks[0]["res"].accepted if ticks else 0}
    if not ticks:
        return {}, notes
    if not run.trace:
        return end_to_end(ticks), notes
    from .layers import tick_layers

    traced = [t for t in (w.measured(len(ticks) + j) for j in range(min(2, len(ticks))))
              if t is not None]
    return tick_layers(w, ticks, traced), notes
