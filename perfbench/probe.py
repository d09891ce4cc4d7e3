"""Measurement helpers: spans, Spark status-tracker counts, the active-task
sampler and the process-tree RSS sampler.

All of it lives on the benchmark's side of the engine's public calls;
nothing here reaches into ``news_crawler_spark``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def median(values):
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------------ spans

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out when
    the run ends. Disabled tracers record nothing and cost one branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "status": "ok"}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        except BaseException:
            rec["status"] = "error"
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover (children of one span never overlap here: the
        benchmark calls the engine from a single thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c) * 1000
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------- Spark job counts

class SparkCounts:
    """Jobs, stages and tasks Spark ran between two marks, read from the
    status tracker (the listener that feeds it is asynchronous, so a mark
    first waits for the job list to settle)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def _job_ids(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(None))

    def mark(self) -> set[int]:
        ids = self._job_ids()
        for _ in range(20):
            time.sleep(0.05)
            again = self._job_ids()
            if again == ids and not self.tracker.getActiveJobsIds():
                break
            ids = again
        return ids

    def between(self, before: set[int], after: set[int]) -> dict:
        jobs = sorted(after - before)
        stages = tasks = failed = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


# --------------------------------------------------------------- samplers

class _Sampler:
    def __init__(self, period_s: float):
        self.period_s = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        raise NotImplementedError


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler(_Sampler):
    """Peak resident set of this process and every descendant (the JVM and
    its Python workers)."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(period_s)
        self.peak = 0

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


class BusySampler(_Sampler):
    """Running tasks ÷ cores, sampled from the status tracker while
    ``active`` is set (only inside timed operations)."""

    def __init__(self, sc, cores: int, period_s: float = 0.05):
        super().__init__(period_s)
        self.tracker = sc.statusTracker()
        self.cores = cores
        self.active = threading.Event()
        self.samples: list[float] = []

    def sample(self) -> None:
        if not self.active.is_set():
            return
        running = 0
        for sid in self.tracker.getActiveStageIds():
            st = self.tracker.getStageInfo(sid)
            if st is not None:
                running += st.numActiveTasks
        self.samples.append(running / self.cores)

    def share(self) -> float:
        return statistics.fmean(self.samples) if self.samples else 0.0
