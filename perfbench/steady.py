"""Steadiness tooling for the benchmark.

Run a workload once per seed and summarise each end-to-end metric:

    python3 perfbench/steady.py run --workload tick_crawl --seeds 1-10 \\
        --out perfbench/data/steady/tick_a.jsonl

Compare two sets of runs of the same commit (A/A) against the bounds in
BENCHMARK.json:

    python3 perfbench/steady.py compare perfbench/data/steady/tick_a.jsonl \\
        perfbench/data/steady/tick_b.jsonl

A set passes when each metric's quartile spread (Q3 - Q1, as a share of
the median, from ``statistics.quantiles(values, n=4)``) is within its
bound (``setup_s`` excepted), and an A/A pair passes when no metric's
second median is worse than the first by more than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_set(workload: str, seeds: list[int], seconds: int, out: str) -> list[dict]:
    spec = _spec()
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    rows = []
    for seed in seeds:
        cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", "0"]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        row = {"workload": workload, "seed": seed, "exit": p.returncode,
               "wall_s": round(wall, 2), "result": result}
        rows.append(row)
        with open(out, "a", encoding="utf-8") as f:
            f.write(json.dumps(row) + "\n")
        ok = result is not None and result["correct"]
        print(f"seed {seed}: exit {p.returncode}, {wall:.1f} s, correct={ok}", flush=True)
        if not ok:
            print(p.stdout[-3000:], p.stderr[-3000:], sep="\n", file=sys.stderr)
    return rows


def load(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def summarise(rows: list[dict]) -> dict[str, dict]:
    """Per metric: n, median, quartiles and spread, plus its bound."""
    bounds = {m["name"]: m for m in _spec()["end_to_end"]}
    out = {}
    good = [r["result"] for r in rows if r["result"] and r["result"]["correct"]]
    for name, m in bounds.items():
        vals = [r["metrics"][name]["value"] for r in good if name in r["metrics"]]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"n": len(vals), "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else float("inf"),
                     "bound": m["bound"], "better": m["better"]}
    return out


def print_summary(rows: list[dict]) -> bool:
    ok = True
    walls = [r["wall_s"] for r in rows]
    failed = sum(1 for r in rows if not (r["result"] and r["result"]["correct"]))
    print(f"{len(rows)} runs, {failed} failed, wall median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    for name, s in summarise(rows).items():
        verdict = "ok"
        if name != "setup_s" and s["spread"] > s["bound"]:
            verdict, ok = "SPREAD OVER BOUND", False
        elif s["spread"] > s["bound"] / 3:
            verdict = "over bound/3"
        print(f"  {name:14s} n={s['n']:2d} median={s['median']:.4g} "
              f"q1={s['q1']:.4g} q3={s['q3']:.4g} spread={s['spread']:.3f} "
              f"bound={s['bound']} {verdict}")
    return ok and failed == 0


def compare(a_rows: list[dict], b_rows: list[dict]) -> bool:
    a, b = summarise(a_rows), summarise(b_rows)
    ok = True
    for name in a:
        if name not in b:
            continue
        ma, mb = a[name]["median"], b[name]["median"]
        worse = (mb - ma) / ma if a[name]["better"] == "lower" else (ma - mb) / ma
        verdict = "ok" if worse <= a[name]["bound"] else "REGRESSION OVER BOUND"
        ok &= verdict == "ok"
        print(f"  {name:14s} A={ma:.4g} B={mb:.4g} worse_by={worse:+.3f} "
              f"bound={a[name]['bound']} {verdict}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description="benchmark steadiness tooling")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run one workload once per seed, then summarise")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int, default=None)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary", help="summarise a saved set")
    s.add_argument("file")
    c = sub.add_parser("compare", help="A/A: compare two saved sets against the bounds")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "run":
        seconds = args.seconds or _spec()["run_seconds"]
        rows = run_set(args.workload, _seeds(args.seeds), seconds, args.out)
        return 0 if print_summary(rows) else 1
    if args.cmd == "summary":
        return 0 if print_summary(load(args.file)) else 1
    a, b = load(args.a), load(args.b)
    print("A:")
    print_summary(a)
    print("B:")
    print_summary(b)
    print("A/A:")
    return 0 if compare(a, b) else 1


if __name__ == "__main__":
    sys.exit(main())
