"""Spans, round clocks, process-tree memory and Spark event logs.

Everything here observes the program from outside: spans are recorded
around the benchmark's own calls, round boundaries are read off the
crawler's public ``round_seconds`` list as it grows, memory comes from
``/proc`` and engine work from Spark's JSON event log.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span tree: name, start, end (epoch seconds), parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def add(self, name: str, start: float, end: float,
            parent: dict | None = None, **attrs) -> dict:
        span = {"id": len(self.spans), "parent": parent["id"] if parent else None,
                "name": name, "start": start, "end": end, "attrs": attrs}
        self.spans.append(span)
        return span

    @property
    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.add(name, time.time(), None, self.current, **attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fp:
            for s in self.spans:
                fp.write(json.dumps(s) + "\n")


class RoundClock:
    """Wall-clock end time of each crawl round, taken when the round's
    entry appears in ``crawler.round_seconds`` (polled every 5 ms)."""

    def __init__(self, crawler):
        self._crawler = crawler
        self.ends: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while not self._stop.is_set():
            n = len(self._crawler.round_seconds)
            now = time.time()
            while len(self.ends) < n:
                self.ends.append(now)
            time.sleep(0.005)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        n = len(self._crawler.round_seconds)
        while len(self.ends) < n:
            self.ends.append(time.time())


PHASES = ("fetch_agg", "stats_join", "admission", "write_wave", "commit_tail")


def add_round_spans(tracer: Tracer, op_span: dict, crawler, ends: list[float]) -> None:
    """Round spans under ``op_span`` and ``round_trace`` phase spans
    under each round; the phases partition the round in order."""
    for secs, end, rt in zip(crawler.round_seconds, ends, crawler.round_trace):
        rnd = tracer.add("round", end - secs, end, op_span,
                         round=rt["round"], granted=rt["granted"])
        t = rnd["start"]
        for phase in PHASES:
            tracer.add(phase, t, t + rt[phase], rnd)
            t += rt[phase]


# -- memory ------------------------------------------------------------------


def children_by_parent() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fp:
                stat = fp.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fp:
            for line in fp:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process exited between listing and reading
    return 0


def tree_memory_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants, each page
    counted once: the sum of proportional set sizes, so pages that forked
    Python workers share with their parent are not added per worker."""
    kids = children_by_parent()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        total += _pss_bytes(pid)
    return total


class PeakMemory:
    """Samples this process tree's resident memory every 0.2 s on a
    background thread and keeps the maximum."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(pid))
            time.sleep(0.2)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark event log ---------------------------------------------------------


def read_event_log(path: str) -> tuple[dict[int, dict], list[dict]]:
    """Jobs (id -> submit/end epoch seconds) and finished tasks with
    their job id and metrics, from an uncompressed JSON-lines log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as fp:
        for line in fp:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"id": jid, "submit": ev["Submission Time"] / 1000,
                             "end": None}
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.append({
                    "job": stage_job.get(ev["Stage ID"]),
                    "run_s": m.get("Executor Run Time", 0) / 1000,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000,
                    "shuffle_write_bytes":
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill_bytes":
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                })
    return jobs, tasks


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def attribute_jobs(jobs: dict[int, dict], tracer: Tracer) -> None:
    """Add each job as a span under the innermost span that contains its
    submission time (stage call sites cannot be used: write-wave jobs
    run on a thread pool and all report the same pool frames)."""
    closed = [s for s in tracer.spans if s["end"] is not None]
    for job in sorted(jobs.values(), key=lambda j: j["submit"]):
        holders = [s for s in closed if s["start"] <= job["submit"] < s["end"]]
        parent = min(holders, key=lambda s: s["end"] - s["start"]) if holders else None
        tracer.add("job", job["submit"], job["end"] or job["submit"], parent,
                   job_id=job["id"])


def under(tracer: Tracer, span_id: int, name: str) -> list[dict]:
    """Spans called ``name`` anywhere below span ``span_id``."""
    by_id = {s["id"]: s for s in tracer.spans}
    out = []
    for s in tracer.spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and p != span_id:
            p = by_id[p]["parent"]
        if p == span_id:
            out.append(s)
    return out
