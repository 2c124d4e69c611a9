"""Crawl-engine benchmark.

    python3 crawlbench/run.py --workload bfs_crawl --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the engine the way the CLI's
``_engine()`` does, runs one workload on ``local[nproc]``, checks every
output against an independent oracle outside the timed region, and
prints one JSON object as the last stdout line. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics plus the
tracing overhead. Exit code 0 only when every check passed. Metric
definitions: crawlbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bfs_crawl", "read_mix")


def log(msg: str) -> None:
    print(msg, flush=True)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Run:
    """One benchmark process: private temp dirs inside the checkout, one
    Spark session, and the count of checks made and failed."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".bench_tmp", f"{os.getpid()}_{uuid.uuid4().hex[:8]}")
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp)
        # everything the JVM, Spark and Python workers write goes here
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        import tempfile

        tempfile.tempdir = self.tmp
        self.event_dir = os.path.join(self.work, "eventlog")
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []

    def start_spark(self):
        from crawleria_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if self.trace:
            os.makedirs(self.event_dir)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        t0 = time.perf_counter()
        self.spark = get_spark("crawlbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)
        self.spark.range(1).count()
        self.start_s = time.perf_counter() - t0
        return self.spark

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        for p in problems:
            self.failures.append(f"{what}: {p}")
            log(f"CHECK FAILED {what}: {p}")

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def close(self) -> None:
        """Stop Spark, then the gateway JVM and every process it started
        (Python worker daemon, workers), and wait until each has ended.
        ``spark.stop()`` alone leaves the JVM running until this process
        exits, and the JVM then ends on its own a moment later."""
        started = descendants(os.getpid())
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            stop_gateway()
            reap(started | descendants(os.getpid()))

    def cleanup(self) -> None:
        self.close()
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def descendants(root: int) -> set[tuple[int, str]]:
    """(pid, start time) of every live descendant of ``root``; the start
    time tells a process from a later one that reuses its pid."""
    info = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            info[int(d)] = (int(st[1]), st[19])
    found = set()
    for pid, (ppid, start) in info.items():
        p = ppid
        while p and p != root and p in info:
            p = info[p][0]
        if p == root:
            found.add((pid, start))
    return found


def _alive(pid: int, start: str) -> bool:
    st = _stat(pid)
    return st is not None and st[19] == start and st[0] not in ("Z", "X")


def stop_gateway(timeout_s: float = 30.0) -> None:
    """End PySpark's gateway JVM: it exits when its stdin closes."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    try:
        gateway.shutdown()
    except Exception:
        pass
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap(procs: set[tuple[int, str]], timeout_s: float = 10.0) -> None:
    """Wait for ``procs`` to end; SIGTERM, then SIGKILL, the ones that
    outlive ``timeout_s``."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        live = {(p, s) for p, s in procs if _alive(p, s)}
        if not live:
            return
        for p, _ in live if sig is not None else ():
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline and any(_alive(p, s) for p, s in live):
            try:  # reap our own children so they do not stay zombies
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.05)
    if any(_alive(p, s) for p, s in procs):
        log("warning: a benchmark process could not be stopped")


def report(name: str, value: float, unit: str, n: int | None = None) -> None:
    log(f"metric {name} = {value:.6g} {unit}" + (f" (n={n})" if n is not None else ""))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawleria_spark")):
        print(f"crawleria_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from crawlbench import bfs_crawl, read_mix

    module = {"bfs_crawl": bfs_crawl, "read_mix": read_mix}[args.workload]
    run = Run(args)
    # a terminated run still stops Spark and removes its temp dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        metrics = module.main(run)
    except Exception as e:  # a run that raises has failed, not crashed
        import traceback

        traceback.print_exc()
        run.attempted += 1
        run.failures.append(f"{type(e).__name__}: {e}")
        metrics = {}
    finally:
        run.cleanup()
    failed = len(run.failures)
    attempted = max(run.attempted, 1)
    report("fail_ratio", failed / attempted, "ratio", attempted)
    correct = failed == 0 and bool(metrics)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
