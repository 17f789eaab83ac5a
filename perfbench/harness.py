"""Measurement plumbing: spans, Spark event-log attribution, peak RSS, and
ending every process a run started.

Spans are recorded from the benchmark's own code around each call into a
package function; nothing inside the package is instrumented. In a traced
run every span runs under ``setJobGroup(<span id>)``, so the Spark event log
(enabled through the benchmark's session config) joins each job, stage and
task to the span that caused it. Spans stay in memory and are written out
when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

PY_TIME_METRIC = "time to run Python workers"


@dataclass
class Span:
    id: str
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    rows: int = 0  # result rows (query spans)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; with ``spark`` set, tags each span's Spark jobs."""

    spark: object = None
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(f"s{len(self.spans):05d}", name, time.time())
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def become_subreaper() -> None:
    """Make this process adopt its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that one whose parent ended before it
    stays in this process's tree and :func:`end_descendants` waits for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _running(pid: int) -> bool:
    """Whether ``pid`` still runs; a zombie has ended and only awaits reaping."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _reap() -> None:
    """Collect the exit status of every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 30.0) -> list[int]:
    """Wait until every descendant of this process has ended: ``grace_s``
    seconds for them to exit by themselves, then SIGTERM, then SIGKILL.
    Returns the pids that had to be signalled."""
    me, signalled, left = os.getpid(), [], []
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            signalled += [p for p in left if p not in signalled]
        deadline = time.monotonic() + wait_s
        while True:
            _reap()
            left = [p for p in process_tree(me) if p != me and _running(p)]
            if not left or time.monotonic() >= deadline:
                break
            time.sleep(0.05)
        if not left:
            break
    _reap()
    return signalled


class RssSampler:
    """Samples the resident memory of a process tree (the JVM and the Python
    workers it forks) every ``interval`` seconds and keeps the peak.

    The JVM counts with its RSS. The Python workers fork from one daemon and
    share its pages copy-on-write, so each counts with its PSS (shared pages
    split among their sharers): an idle extra worker then adds only its own
    pages, not another copy of the interpreter."""

    def __init__(self, root_pid: int, interval: float = 0.1) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self.peak_root_bytes = 0  # the root process alone (the JVM)
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _bytes(self, pid: int) -> int:
        if pid == self.root_pid:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def sample(self) -> int:
        total = 0
        for p in process_tree(self.root_pid):
            try:
                b = self._bytes(p)
            except (OSError, IndexError, ValueError):
                continue
            total += b
            if p == self.root_pid:
                self.peak_root_bytes = max(self.peak_root_bytes, b)
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default)."""
    return float(np.quantile(np.asarray(values, dtype=float), q))


# ---------------------------------------------------------------------------
# event log -> per-span engine counters
# ---------------------------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class SpanEngine:
    """Spark counters of the jobs one span caused."""

    jobs: int = 0
    job_s: float = 0.0  # union of job intervals inside the span
    stage_s: float = 0.0  # union of stage run intervals inside the span
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_s: float = 0.0
    records_read: int = 0
    task_skew: float = 1.0


def read_event_log(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def attribute(events: list[dict], spans: list[Span]) -> dict[str, SpanEngine]:
    """Join event-log jobs, stages and tasks to spans by job group id."""
    by_id = {s.id: s for s in spans}
    job_group: dict[int, str] = {}
    job_t: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    stage_t: dict[int, tuple[float, float]] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in by_id:
                job_group[jid] = group
                job_t[jid] = [ev["Submission Time"] / 1000.0, None]
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_t:
            job_t[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_t[info["Stage ID"]] = (
                    info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0
                )
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)

    out = {s.id: SpanEngine() for s in spans}
    jobs_of: dict[str, list[int]] = {}
    for jid, g in job_group.items():
        jobs_of.setdefault(g, []).append(jid)
    for sid_span, jids in jobs_of.items():
        sp, eng = by_id[sid_span], out[sid_span]
        eng.jobs = len(jids)
        clip = lambda a, b: (max(a, sp.start), min(b if b else sp.end, sp.end))  # noqa: E731
        eng.job_s = _union_len([clip(*job_t[j]) for j in jids if job_t[j][0] is not None])
        stages = [s for s, j in stage_job.items() if j in set(jids)]
        eng.stage_s = _union_len([clip(*stage_t[s]) for s in stages if s in stage_t])
        longest, longest_len = None, -1.0
        for s in stages:
            ts = tasks.get(s, [])
            if s in stage_t and stage_t[s][1] - stage_t[s][0] > longest_len and ts:
                longest, longest_len = s, stage_t[s][1] - stage_t[s][0]
            for t in ts:
                m = t.get("Task Metrics") or {}
                eng.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                eng.gc_s += m.get("JVM GC Time", 0) / 1e3
                eng.shuffle_write_mb += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                eng.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
                eng.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
                for acc in (t.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == PY_TIME_METRIC:
                        eng.python_s += float(acc.get("Update", 0)) / 1e3
        if longest is not None:
            d = [
                t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]
                for t in tasks[longest]
            ]
            eng.task_skew = max(d) / max(1.0, float(np.median(d)))
    return out
