"""frontier_urls: the frontier's columnar hot path with no driver loop.

One operation is one Spark job over a seeded batch of messy hrefs:
``canonicalize_expr`` → ``relevance_expr`` → ``bloom.dedup_new_rows``
(Bloom probe, exact anti-join of the probe hits against the seen set)
→ distinct canonical URLs → count. Jobs are closed-loop from one thread.
Each job's count is compared with an independent pure-Python count made
with the reference model's ``canonicalize`` and ``relevance``.
"""

from __future__ import annotations

import time

from . import inputs
from .harness import Run
from .probe import median

N_SHARDS = 32


class FrontierUrls:
    def __init__(self, run: Run):
        self.run = run
        self.prm = inputs.frontier_params(run.seed)
        self.partitions = run.cores * 4

    def batch(self, n: int):
        ids = self.run.spark.range(self.prm["id0"], self.prm["id0"] + n, 1, self.partitions)
        return inputs.frontier_df(ids, self.prm)

    @staticmethod
    def canonical(df):
        from pyspark.sql import functions as F

        from news_crawler_spark.functions.urls import canonicalize_expr

        return df.withColumn(
            "url_canon", canonicalize_expr(F.col("href"), F.col("origin"), F.lit(False)))

    def relevant(self, df):
        from pyspark.sql import functions as F

        from news_crawler_spark.functions.relevance import relevance_expr

        return df.filter(relevance_expr(F.col("title"), F.col("relevance_variant"), F.lit(True),
                                        self.inc, self.exc, F.col("min_include")))

    def setup(self) -> None:
        from news_crawler_spark.functions.relevance import keyword_arrays
        from news_crawler_spark.operators import bloom

        run, tr = self.run, self.run.tracer
        self.golden = run.generate(inputs.frontier_golden, run.seed)
        self.inc, self.exc = keyword_arrays(self.prm["include"], self.prm["exclude"])
        seen_urls = self.golden["seen_urls"]
        with tr.span("frontier.seen_set"):
            self.seen = run.spark.createDataFrame(
                [(u,) for u in seen_urls], "url_canon string").cache()
            self.seen.count()
            # the crawl loop's driver-side twin of build_shards: no Spark job
            self.shard_rows = bloom.rows_from_urls(seen_urls, n_shards=N_SHARDS)
        # warm-up: one full, checked job (an attempted operation, not a
        # sample); a fresh JVM's first job is dominated by one-time costs
        with tr.span("frontier.warmup"):
            self.measured(-1)

    def job(self, n: int) -> int:
        from pyspark.sql import functions as F

        from news_crawler_spark.operators import bloom

        links = self.canonical(self.batch(n)).filter(F.col("url_canon").isNotNull())
        new = bloom.dedup_new_rows(self.relevant(links), self.seen, self.shard_rows,
                                   n_shards=N_SHARDS)
        return new.select("url_canon").distinct().count()

    def measured(self, i: int):
        from news_crawler_spark.operators import bloom

        run, tr = self.run, self.run.tracer
        out = {}

        def op():
            before = run.counts.mark()
            sample_busy = tr.enabled and run.busy is not None
            with tr.span("frontier.job", job=i):
                if sample_busy:
                    run.busy.active.set()
                t0 = time.perf_counter()
                n = self.job(self.prm["n"])
                out["wall"] = time.perf_counter() - t0
                if sample_busy:
                    run.busy.active.clear()
            out["spark"] = run.counts.between(before, run.counts.mark())
            out["survivors"] = n
            bloom.destroy_broadcasts(bloom.drain_probe_broadcasts())
            problems = []
            if n != self.golden["survivors"]:
                problems.append(f"{n} new URLs vs independent count {self.golden['survivors']}")
            if out["spark"]["failed_tasks"]:
                problems.append(f"{out['spark']['failed_tasks']} failed Spark tasks")
            return problems

        ok = run.attempt(f"frontier job {i}", op)
        return out if ok else None


def run_frontier_urls(run: Run) -> tuple[dict, dict]:
    f = FrontierUrls(run)
    f.setup()
    run.end_setup()
    run.tracer.enabled = False
    jobs = [j for j in run.loop(f.measured) if j is not None]
    run.tracer.enabled = run.trace
    notes = {"jobs": len(jobs), "urls_per_job": f.prm["n"],
             "new_urls_per_job": f.golden["survivors"]}
    if not jobs:
        return {}, notes
    if not run.trace:
        walls = [j["wall"] for j in jobs]
        total = sum(walls)
        return {
            "docs_per_s": (sum(j["survivors"] for j in jobs) / total, "1/s"),
            "urls_per_s": (f.prm["n"] * len(jobs) / total, "1/s"),
            "tick_s_p50": (median(walls), "s"),
        }, notes
    from .layers import frontier_layers

    traced = [j for j in (f.measured(len(jobs) + k) for k in range(min(2, len(jobs))))
              if j is not None]
    return frontier_layers(f, jobs, traced), notes
