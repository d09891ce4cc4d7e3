"""One benchmark run: Spark session lifecycle, the closed measurement
loop, failure accounting and the result line."""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import time
import traceback

from . import inputs
from .probe import BusySampler, RssSampler, SparkCounts, Tracer, process_tree


def process_start_time() -> float:
    """Wall-clock start of this process (from /proc, so interpreter
    start-up before the first line of the benchmark counts too)."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/stat", "rb") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith(b"btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """State of one ``--workload --seed`` run. ``gen_s`` accumulates input
    generation on cache misses, which ``setup_s`` excludes."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 t_proc: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_proc = t_proc
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        self.tracer = Tracer(trace, self.run_id)
        self.work = os.path.join(inputs.DATA, "runs", self.run_id)
        self.cores = os.cpu_count() or 1
        self.gen_s = 0.0
        self.setup_s: float | None = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.counts: SparkCounts | None = None
        self.busy: BusySampler | None = None
        self.rss = RssSampler()

    # ------------------------------------------------------------ session

    def start_spark(self) -> None:
        """The engine's own ``get_spark`` on ``local[nproc]``. Scratch
        space (shuffle files, JVM temp, catalog warehouse) is pointed into
        the benchmark's data directory so a run writes only there."""
        from news_crawler_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        # executor-side Python workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (inputs.ROOT, os.environ.get("PYTHONPATH")) if p)
        gc = os.environ.get("SPARK_GRAFT_GC", "-XX:+UseParallelGC")
        self.rss.start()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(cores=self.cores, extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.memory": "4g",
                "spark.driver.extraJavaOptions":
                    f"{gc} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counts = SparkCounts(self.spark.sparkContext)
        if self.trace:
            self.busy = BusySampler(self.spark.sparkContext, self.cores).start()

    def stop(self) -> None:
        """Stop Spark, the JVM it launched and every process under it;
        wait for each to end."""
        from pyspark import SparkContext

        if self.busy is not None:
            self.busy.stop()
        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while True:
            left = [p for p in process_tree(os.getpid()) if p != os.getpid()]
            if not left:
                break
            if time.time() > deadline:
                for p in left:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.1)
        self.rss.stop()
        shutil.rmtree(self.work, ignore_errors=True)

    # ------------------------------------------------------------ phases

    def generate(self, fn, *args):
        """Input generation (cache misses included) — not set-up time."""
        t = time.time()
        try:
            return fn(*args)
        finally:
            self.gen_s += time.time() - t

    def end_setup(self) -> None:
        if self.setup_s is None:
            self.setup_s = time.time() - self.t_proc - self.gen_s

    def attempt(self, what: str, fn):
        """Run one operation; an exception or a golden mismatch (``fn``
        returning a non-empty list of problems) counts as failed."""
        self.attempted += 1
        try:
            problems = fn()
        except Exception as e:  # the run must keep going to report it
            problems = [f"{type(e).__name__}: {e}"]
            traceback.print_exc()
        if problems:
            self.failed += 1
            self.errors.append(f"{what}: " + "; ".join(str(p) for p in problems)[:2000])
        return not problems

    def loop(self, op) -> list:
        """Closed loop: the next operation starts when the previous one has
        finished, until ``seconds`` have passed (at least one operation)."""
        t0 = time.time()
        out = [op(0)]
        while time.time() - t0 < self.seconds:
            out.append(op(len(out)))
        return out

    # ------------------------------------------------------------ result

    def result(self, metrics: dict[str, tuple[float, str]]) -> dict:
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def write_trace(self) -> str | None:
        if not self.trace:
            return None
        path = os.path.join(inputs.DATA, "traces", f"{self.run_id}.jsonl")
        self.tracer.write(path)
        return path


def emit(run: Run, metrics: dict[str, tuple[float, str]], notes: dict | None = None) -> None:
    """Human-readable metric lines, then the JSON result as the last line."""
    for name, (value, unit) in metrics.items():
        print(f"{run.workload} {name} = {value:.6g} {unit}")
    share = run.failed / run.attempted if run.attempted else 1.0
    print(f"{run.workload} failed_share = {share:.6g} ({run.failed}/{run.attempted} operations)")
    for k, v in (notes or {}).items():
        print(f"{run.workload} note {k} = {v}")
    for e in run.errors:
        print(f"{run.workload} FAILED {e}")
    print(json.dumps(run.result(metrics)), flush=True)

