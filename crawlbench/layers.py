"""Per-layer metrics of the traced run (``--trace 1``). Every workload
prints every name below; a layer the workload does not exercise reads 0.
Definitions, and which end-to-end metric each should move: METRICS.md."""

from __future__ import annotations

import statistics

from crawlbench.trace import in_window, read_event_log
from crawlbench.workloads import CORPUS_OPS

# engine.stage.* name for each run_round stage_walls label
STAGE_LABELS = {
    "dedup anti-join + count": "dedup",
    "best+robots count": "robots",
    "host cap count": "host_cap",
    "fetch stage built (lazy)": "fetch_build",
    "fetch + discovery count": "fetch_discovery",
    "error agg": "error_agg",
    "pre-commit": "pre_commit",
    "commit barrier (prev round)": "commit_barrier",
    "commit (launch async)": "commit",
    "commit (all writes)": "commit",
}
E2E = ("setup_s", "work_per_s", "unit_s_p50", "stored_bytes_per_page")

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "engine.round_self_s": "s",
    "engine.flush_wait_s": "s",
    "engine.spark_jobs_per_round": "count",
    "engine.compactions": "count",
    "engine.compaction_s": "s",
    **{f"engine.stage.{s}_s": "s" for s in dict.fromkeys(STAGE_LABELS.values())},
    "snapshot.commit_s": "s",
    "snapshot.commits": "count",
    "snapshot.files_written": "count",
    "snapshot.bytes_written": "B",
    "snapshot.read_s": "s",
    "snapshot.reads": "count",
    "fetch.calls": "count",
    "fetch.fetcher_s": "s",
    "fetch.error_ratio": "ratio",
    "dedup.dropped_ratio": "ratio",
    "discovery.links_per_page": "ratio",
    "spark.jobs": "count",
    "spark.shuffle_bytes_per_page": "B",
    "spark.fetch_task_skew": "ratio",
    "spark.spill_bytes": "B",
    "retrieval.retrieve_s": "s",
    "retrieval.format_s": "s",
    "retrieval.spark_jobs_per_query": "count",
    "cache.hit_ratio": "ratio",
    "cache.lookup_s": "s",
    "cache.store_s": "s",
    **{f"corpus.{q}_s": "s" for q in CORPUS_OPS},
    "trace.spans": "count",
    **{f"trace.overhead.{m}": "ratio" for m in E2E},
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _durations(tracer, name: str) -> list[float]:
    return [s["end"] - s["start"] for s in tracer.named(name)]


def _finish(run, values: dict, tracer, untraced: dict, traced: dict, rss_mb: float) -> dict:
    values["session.start_s"] = run.start_s
    values["session.peak_rss_mb"] = rss_mb
    values["trace.spans"] = len(tracer.spans)
    for m in E2E:
        # signed so that positive means the traced phase read worse
        rel = traced[m][0] / untraced[m][0] - 1
        values[f"trace.overhead.{m}"] = -rel if m == "work_per_s" else rel
    tracer.dump(run.path("spans.jsonl"))
    out = {name: (0.0, unit) for name, unit in PER_LAYER.items()}
    out.update({k: (float(v), PER_LAYER[k]) for k, v in values.items()})
    return out


def _snapshot(tracer, values: dict) -> None:
    commits = tracer.named("snapshot.commit")
    values["snapshot.commits"] = len(commits)
    values["snapshot.commit_s"] = sum(s["end"] - s["start"] for s in commits)
    values["snapshot.reads"] = len(tracer.named("snapshot.read"))
    values["snapshot.read_s"] = tracer.total("snapshot.read")


def crawl_layers(run, ph: dict, untraced: dict, traced: dict, rss_mb: float) -> dict:
    tracer, stats = ph["tracer"], ph["stats"]
    v: dict[str, float] = {"session.warmup_s": ph["setup_s"]}
    v["engine.round_self_s"] = tracer.self_time("engine.run_round")
    v["engine.flush_wait_s"] = tracer.total("engine.flush")
    compactions = [s for s in tracer.named("snapshot.commit") if s["kind"] == "replace"]
    v["engine.compactions"] = len(compactions)
    v["engine.compaction_s"] = sum(s["end"] - s["start"] for s in compactions)
    for st in stats:
        for label, wall in st["stage_walls"].items():
            key = f"engine.stage.{STAGE_LABELS.get(label, 'other')}_s"
            if key in PER_LAYER:
                v[key] = v.get(key, 0.0) + wall
    _snapshot(tracer, v)
    v["snapshot.files_written"], v["snapshot.bytes_written"] = ph["written"]
    calls, secs, errors = (a.value for a in ph["acc"])
    v["fetch.calls"], v["fetch.fetcher_s"] = calls, secs
    v["fetch.error_ratio"] = errors / calls if calls else 0.0
    fetched = ph["fetched"]
    discovered = sum(st["n_discovered"] for st in stats)
    v["discovery.links_per_page"] = discovered / fetched
    # share of enqueued candidate rows that never become a new fetch:
    # dropped by the seen anti-join, the in-batch dedup, or still pending
    v["dedup.dropped_ratio"] = 1 - fetched / discovered if discovered else 0.0

    ev = read_event_log(run.event_dir)
    jobs = in_window(ev["jobs"], *ph["window"])
    tasks = in_window(ev["tasks"], *ph["window"])
    v["spark.jobs"] = len(jobs)
    v["engine.spark_jobs_per_round"] = len(jobs) / len(stats)
    v["spark.shuffle_bytes_per_page"] = sum(t["shuffle_write"] for t in tasks) / fetched
    v["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
    # per round: the stage with the most task time is the fetch stage
    # (rank shuffle read + fetch UDF + discovery); skew = max/median task
    skews = []
    for s in tracer.named("engine.run_round"):
        by_stage: dict[int, list[float]] = {}
        for t in in_window(tasks, s["start"], s["end"]):
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        if by_stage:
            runs = max(by_stage.values(), key=sum)
            med = statistics.median(runs)
            skews.append(max(runs) / med if med > 0 else 1.0)
    v["spark.fetch_task_skew"] = _median(skews)
    return _finish(run, v, tracer, untraced, traced, rss_mb)


def read_layers(run, ph: dict, untraced: dict, traced: dict, rss_mb: float) -> dict:
    tracer = ph["tracer"]
    v: dict[str, float] = {"session.warmup_s": ph["setup_s"]}
    _snapshot(tracer, v)
    v["retrieval.retrieve_s"] = _median(_durations(tracer, "retrieval.retrieve"))
    v["retrieval.format_s"] = _median(_durations(tracer, "retrieval.format"))
    # a query hits when its first lookup does (a miss stores, then
    # looks up again)
    first_lookup: dict[int, bool] = {}
    for s in sorted(tracer.named("cache.lookup"), key=lambda s: s["start"]):
        first_lookup.setdefault(s["parent"], s["hit"])
    v["cache.hit_ratio"] = (
        sum(first_lookup.values()) / len(first_lookup) if first_lookup else 0.0
    )
    v["cache.lookup_s"] = _median(_durations(tracer, "cache.lookup"))
    v["cache.store_s"] = _median(_durations(tracer, "cache.store"))
    for q in CORPUS_OPS:
        v[f"corpus.{q}_s"] = _median(_durations(tracer, f"corpus.{q}"))
    ev = read_event_log(run.event_dir)
    jobs = in_window(ev["jobs"], *ph["window"])
    v["spark.jobs"] = len(jobs)
    queries = tracer.named("query")
    v["retrieval.spark_jobs_per_query"] = (
        sum(len(in_window(jobs, s["start"], s["end"])) for s in queries) / len(queries)
    )
    tasks = in_window(ev["tasks"], *ph["window"])
    v["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
    return _finish(run, v, tracer, untraced, traced, rss_mb)
