"""spark-submit entrypoint (north rule: `spark-submit --py-files` on a
multi-executor cluster). Packages as:

    cd /root/repo && zip -qr /tmp/ncs.zip news_crawler_spark
    spark-submit --master <cluster> --py-files /tmp/ncs.zip \
        tools/submit_crawl.py --world <dir> --store <dir> --pages-per-batch 64

The job is cluster-agnostic: no code path assumes local mode — state
lives in the snapshot store (any Hadoop-compatible FS), parallelism
comes from the session, and resume-from-checkpoint works across
submissions (C6).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--world", required=True, help="parquet world dir (write_world output)")
    ap.add_argument("--store", required=True, help="snapshot store root")
    ap.add_argument("--pages-per-batch", type=int, default=16)
    ap.add_argument("--max-batches", type=int, default=10_000)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from news_crawler_spark.plans.crawl import run_crawl
    from news_crawler_spark.sources.store import SnapshotStore
    from news_crawler_spark.sources.world import read_world

    # spark-submit provides master/conf; only app-level settings here
    spark = (
        SparkSession.builder.appName("newscrawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .getOrCreate()
    )
    world = read_world(spark, args.world)
    store = SnapshotStore(args.store)
    t0 = time.time()
    res = run_crawl(
        spark, world, store,
        pages_per_batch=args.pages_per_batch,
        max_batches=args.max_batches,
    )
    wall = time.time() - t0
    print("SUBMIT_RESULT " + json.dumps({
        "batches": res.batches, "dispatched": res.dispatched,
        "accepted": res.accepted, "wall_s": round(wall, 2),
        "fetched_urls_per_sec": round((res.dispatched + res.accepted) / max(wall, 1e-9), 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
