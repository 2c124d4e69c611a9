"""In-memory span recorder and the wrappers the traced run puts around
each layer's public entry points.

Spans are recorded by the benchmark around calls INTO the program, never
inside it: the program under test is unmodified. Spark is lazy, so a
span around a plan builder measures plan construction only; the work
lands in whichever span triggers the action (see METRICS.md).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from crawleria_spark.plans.snapshot import SnapshotCatalog


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written out once at exit. ``enabled=False`` records nothing and adds
    one attribute check per call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def current(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "run": self.run_id,
            "start": time.time(),
            **attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def self_time(self, name: str) -> float:
        """Total duration of ``name`` spans minus the part of each that
        its child spans cover (children may overlap: the union counts)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = 0.0
        for s in self.named(name):
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out += (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class TracingCatalog(SnapshotCatalog):
    """SnapshotCatalog whose commit/read/compact calls are spans.

    ``commit`` is a property so the parent span is captured in the
    thread that LOOKS UP the method: the engine's pipelined commit does
    ``pool.submit(self.catalog.commit, ...)`` inside ``run_round``, so the
    background commit's span takes the launching round as its parent."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    @property
    def commit(self):
        parent = self.tracer.current()
        base = super().commit

        def commit(replace=None, append=None, meta=None, drop=None):
            kind = "append" if append else ("init" if drop else "replace")
            with self.tracer.span("snapshot.commit", parent=parent, kind=kind):
                return base(replace=replace, append=append, meta=meta, drop=drop)

        return commit

    def read(self, table: str):
        with self.tracer.span("snapshot.read", table=table):
            return super().read(table)

    def read_as_of(self, table: str, version: int):
        with self.tracer.span("snapshot.read", table=table):
            return super().read_as_of(table, version)

    def compact(self, table: str, meta: dict | None = None) -> None:
        with self.tracer.span("snapshot.compact", table=table):
            return super().compact(table, meta)


def counting_fetcher(fetcher, calls, seconds, errors):
    """Wrap a fetcher with executor-side accumulators. Copies
    ``deterministic``: without it fetch_stage takes the retry path and
    the traced run would measure a different program."""

    def fetch(url: str) -> dict:
        t = time.perf_counter()
        page = fetcher(url)
        seconds.add(time.perf_counter() - t)
        calls.add(1)
        if page.get("status") == "error":
            errors.add(1)
        return page

    fetch.deterministic = getattr(fetcher, "deterministic", False)
    return fetch


def tree_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``, not following symlinks."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                n += 1
                size += os.path.getsize(p)
    return n, size


class RssSampler:
    """Peak summed resident set size of this process's descendants (the
    driver JVM and its Python workers), sampled every ``interval_s`` on a
    thread from /proc/<pid>/statm. (smaps_rollup would split shared pages
    exactly, but walking a multi-GB JVM's page tables several times a
    second costs seconds of kernel time and stalls the JVM.)"""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _descendants_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
        me, total = os.getpid(), 0
        for pid in parent:
            p = parent.get(pid)
            while p and p != me:
                p = parent.get(p)
            if p != me:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue  # exited between the two reads
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._descendants_rss())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop_mb(self) -> float:
        """Stop sampling; the peak in MiB."""
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._descendants_rss())
        return self.peak_bytes / 2**20


def read_event_log(log_dir: str) -> dict:
    """Jobs (submission time) and per-task metrics (stage, finish time,
    run time, shuffle write, spill) from Spark's JSON event log."""
    jobs, tasks = [], []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"], "t": ev["Submission Time"] / 1000.0})
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "t": info.get("Finish Time", 0) / 1000.0,
                            "run_ms": m.get("Executor Run Time", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return {"jobs": jobs, "tasks": tasks}


def in_window(items: list[dict], t0: float, t1: float) -> list[dict]:
    return [x for x in items if t0 <= x["t"] <= t1]
