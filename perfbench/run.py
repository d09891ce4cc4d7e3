"""Crawl-engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload tick_crawl --seed 1 --seconds 15 --trace 0

Runs from the repository root on ``local[nproc]``. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones (see
perfbench/README.md). The last line of standard output is the JSON
result: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [ROOT]
    from perfbench.harness import Run, emit, process_start_time

    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["tick_crawl", "frontier_urls"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        import news_crawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from perfbench.frontier import run_frontier_urls
    from perfbench.tick import run_tick_crawl

    workload = {"tick_crawl": run_tick_crawl, "frontier_urls": run_frontier_urls}[args.workload]
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), t_proc)
    metrics, notes = {}, {}
    try:
        run.start_spark()
        metrics, notes = workload(run)
    except Exception as e:  # report the failed run instead of a traceback only
        traceback.print_exc()
        run.attempted += 1
        run.failed += 1
        run.errors.append(f"run aborted: {type(e).__name__}: {e}")
    finally:
        run.stop()
    if not args.trace and metrics:
        metrics["peak_rss_mb"] = (run.rss.peak / 2**20, "MB")
        metrics["setup_s"] = (run.setup_s, "s")
    trace_path = run.write_trace()
    if trace_path:
        notes["trace_file"] = os.path.relpath(trace_path, ROOT)
        for name, ms in sorted(run.tracer.self_ms().items(), key=lambda kv: -kv[1])[:12]:
            notes[f"self_ms {name}"] = f"{ms:.1f}"
    notes["input_generation_s"] = f"{run.gen_s:.2f}"
    if not metrics:
        print(f"perfbench: {args.workload} produced no measurements", file=sys.stderr)
        for e in run.errors:
            print(f"perfbench: {e}", file=sys.stderr)
        return 1
    emit(run, metrics, notes)
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
