"""Benchmark harness. Prints ONE JSON line:

    {"metric": "...", "value": <total headline sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>,
     "crawl": {urls_per_sec, urls_per_sec_per_core, ...}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).

`python bench.py --scaling` additionally runs the crawl-round job at
two parallelism levels (default local[4] vs local[16]; env
SPARK_GRAFT_SCALE_LEVELS) in subprocesses — the sandbox proxy for N vs
4N executors, per BASELINE.md — load-gated and interleaved, appending
the raw JSON to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_pricing_summary",
    "q_revenue_by_nation",
    "q_events_hourly",
    "q_metrics_rollup",
    "q_politeness_slots",
    "q_round_dequeue",
    "q_dedup_anti_join",
    "q_url_canonical_doc_id",
    "q_fingerprints",
    "q_quality_scores",
    "q_token_stats",
    "q_lang_id",
    "q_word_jaccard_pairs",
    "q_exact_dup_groups",
    # round-4 additions — totals before/after r4 are not comparable
    # (5 more queries in the sum); compare per-query
    "q_decontaminate",
    "q_repetition_filter",
    "q_pii_redaction",
    "q_pack_sequences",
    "q_stratified_sample",
    "q_cosine_topk",
    "q_embedding_dup_pairs",
    "q_minhash_dup_pairs",
    "q_dup_groups",
    "q_simhash_dup_pairs",
    "q_ann_lsh_topk",
]

N_FRONTIER = int(os.environ.get("SPARK_GRAFT_BENCH_N", "120000"))
SCALING_N = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2000000"))
SEEN_FRAC = 0.5       # fraction of frontier already seen (dedup load)
N_HOSTS = 400
# Scaling methodology: the JOB SHAPE stays fixed (same partition counts,
# same input) across the two parallelism levels — on a real cluster you
# add executors, not rewrite the plan. Only the slot count varies.
FIXED_PARTITIONS = int(os.environ.get("SPARK_GRAFT_FIXED_PARTS", "64"))


def _materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def bench_queries(spark, sf_dir: str, repeats: int = 3) -> dict[str, float]:
    """Per-query wall: min of `repeats` timed runs after one warm run.

    Min-of-k because this box hosts bursty external tenants (documented
    1.8x run-to-run variance — the r2 q_lang_id 0.44->1.86 s 'regression'
    was a single-shot landing in a neighbor's burst); the minimum is the
    least-contended estimate, same policy as --scaling."""
    import __spark_entry__ as entry

    qs = entry.queries()
    out: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        fn(spark, sf_dir).count()  # warm (plan + file listing + JIT)
        best = float("inf")
        for _ in range(max(1, repeats)):
            t0 = time.time()
            _materialize(fn(spark, sf_dir))
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    return out


def build_crawl_state(spark, catalog, cfg, n_frontier=None):
    """Synthetic big-round state: pending URLs over N_HOSTS hosts (one
    hub host gets ~30% — the skew case), half already seen."""
    from pyspark.sql import functions as F

    from crawleria_spark.plans.engine import (
        DOCUMENTS_SCHEMA,
        FETCH_LOG_SCHEMA,
        HOST_SEQ_SCHEMA,
        METRICS_SCHEMA,
    )

    n_frontier = n_frontier or N_FRONTIER
    base = spark.range(n_frontier).withColumn(
        "host",
        F.when(F.col("id") % 10 < 3, F.lit("hub.example.com")).otherwise(
            F.concat(F.lit("h"), (F.col("id") % N_HOSTS), F.lit(".example.org"))
        ),
    )
    frontier = base.select(
        F.concat(F.lit("https://"), "host", F.lit("/p/"), "id").alias("url"),
        F.concat(F.lit("https://"), "host", F.lit("/p/"), "id").alias("url_canon"),
        "host",
        F.lit(0).alias("depth"),
        F.col("id").cast("double").alias("priority"),
        F.lit(-1).alias("discovered_round"),
        F.lit(0).alias("salt"),
    ).withColumn("url_hash", F.xxhash64("url_canon"))
    n_seen = int(n_frontier * SEEN_FRAC)
    seen = frontier.filter(F.col("priority") < n_seen).select(
        "url_canon", "url_hash", F.lit(-1).alias("first_round")
    )

    def empty(schema):
        return spark.createDataFrame([], schema)

    catalog.commit(
        replace={
            "frontier": frontier.select(
                "url", "url_canon", "url_hash", "host", "depth",
                "priority", "discovered_round", "salt",
            ),
            "seen": seen,
            "host_seq": empty(HOST_SEQ_SCHEMA),
        },
        append={
            "documents": empty(DOCUMENTS_SCHEMA),
            "fetch_log": empty(FETCH_LOG_SCHEMA),
            "metrics": empty(METRICS_SCHEMA),
        },
        meta={
            "round": -1,
            "next_priority": n_frontier,
            "fetched_total": 0,
            "frontier_gross": n_frontier,
        },
    )


def bench_crawl_round(spark, cores: int, use_bloom: bool = True, skew_safe: bool = True,
                      n_frontier: int | None = None, fixed_partitions: int | None = None,
                      warm: bool = True):
    """One big engine round: dedup 120k→60k, politeness, fetch, spans,
    discovery, commit. Returns throughput metrics.

    ``warm=True`` first runs a miniature round (0.1% of the frontier, its
    own throwaway catalog) so the timed round measures the OPERATORS, not
    one-time driver costs: whole-stage codegen compilation + AQE plan
    compilation of the round's ~15 query shapes was measured at ~7 s on
    this box, identical at every parallelism level (a pure intercept —
    on a long crawl it amortizes across rounds exactly as this warm-up
    amortizes it here)."""
    import shutil
    import tempfile

    from crawleria_spark.config import CrawlConfig
    from crawleria_spark.plans.engine import CrawlEngine
    from crawleria_spark.plans.snapshot import SnapshotCatalog
    from crawleria_spark.sources.fetch import synthetic_fetcher
    from crawleria_spark.synthetic.world import WorldConfig

    # SPARK_GRAFT_BENCH_DIR=tmpfs puts the bench catalog on /dev/shm: the
    # sandbox has ONE ~311 MB/s disk shared by every level (and external
    # tenants), while a real cluster's table store (S3/HDFS) provisions
    # bandwidth WITH the cluster — the disk-backed number measures the
    # sandbox, the tmpfs-backed number the engine. BENCH/BASELINE.md
    # reports both.
    base_dir = None
    if os.environ.get("SPARK_GRAFT_BENCH_DIR") == "tmpfs" and os.path.isdir("/dev/shm"):
        base_dir = "/dev/shm"
    root = tempfile.mkdtemp(prefix="bench_crawl_", dir=base_dir)
    try:
        n_frontier = n_frontier or N_FRONTIER
        cfg = CrawlConfig(
            max_depth=0,  # no re-enqueue: measure the round pipeline itself
            max_pages=10**9,
            max_concurrent_per_host=10**9,
            frontier_partitions=fixed_partitions or max(cores, 8),
        )
        world = WorldConfig(seed=42, n_hosts=N_HOSTS, error_rate=0.02)

        def make_engine(sub: str, n: int) -> CrawlEngine:
            catalog = SnapshotCatalog(spark, os.path.join(root, sub))
            build_crawl_state(spark, catalog, cfg, n)
            return CrawlEngine(
                spark,
                catalog,
                cfg,
                synthetic_fetcher(world),
                robots_rows=[],
                use_bloom=use_bloom,
                skew_safe=skew_safe,
                collect_stats=False,
            )

        if warm:
            make_engine("warm", max(2000, n_frontier // 1000)).run_round()
        engine = make_engine("timed", n_frontier)
        t0 = time.time()
        st = engine.run_round()
        wall = time.time() - t0
        return {
            "n_frontier": n_frontier,
            "n_fetched": st["n_fetched"],
            "wall_sec": round(wall, 3),
            "urls_per_sec": round(n_frontier / wall, 1),
            "urls_per_sec_per_core": round(n_frontier / wall / cores, 1),
            "cores": cores,
            "skew_safe": skew_safe,
            # per-stage decomposition (same labels as CRAWLERIA_PROFILE)
            "stage_walls": st.get("stage_walls", {}),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_crawl_multiround(
    spark,
    cores: int,
    n_frontier: int | None = None,
    rounds: int = 4,
    pipeline: bool = True,
    fixed_partitions: int | None = None,
    warm: bool = True,
):
    """R rounds over ONE prebuilt frontier via crawl() — the honest
    measurement of PIPELINED COMMITS (round r's parquet writes overlap
    round r+1's compute; crawl() flushes before returning, so the clock
    stops only when everything is durable). Rounds are forced by the
    per-host concurrency cap: the hub host (30% of URLs) needs `rounds`
    passes at cap = hub_pages/rounds; every other host finishes in
    round 1. Single-round bench_crawl_round stays the scaling-battery
    default for comparability with the r2/r3 history."""
    import math
    import shutil
    import tempfile

    from crawleria_spark.config import CrawlConfig
    from crawleria_spark.plans.engine import CrawlEngine
    from crawleria_spark.plans.snapshot import SnapshotCatalog
    from crawleria_spark.sources.fetch import synthetic_fetcher
    from crawleria_spark.synthetic.world import WorldConfig

    base_dir = None
    if os.environ.get("SPARK_GRAFT_BENCH_DIR") == "tmpfs" and os.path.isdir("/dev/shm"):
        base_dir = "/dev/shm"
    root = tempfile.mkdtemp(prefix="bench_crawlR_", dir=base_dir)
    try:
        n_frontier = n_frontier or N_FRONTIER
        # cap sized off the hub's LIVE pages (SEEN_FRAC of the frontier,
        # hub included, is pre-seen) so the crawl runs exactly `rounds`
        hub_live = math.ceil(n_frontier * 0.3 * (1 - SEEN_FRAC))
        cfg = CrawlConfig(
            max_depth=0,
            max_pages=10**9,
            max_concurrent_per_host=max(1, math.ceil(hub_live / rounds)),
            frontier_partitions=fixed_partitions or max(cores, 8),
        )
        world = WorldConfig(seed=42, n_hosts=N_HOSTS, error_rate=0.02)

        def make_engine(sub: str, n: int) -> CrawlEngine:
            catalog = SnapshotCatalog(spark, os.path.join(root, sub))
            build_crawl_state(spark, catalog, cfg, n)
            return CrawlEngine(
                spark,
                catalog,
                cfg,
                synthetic_fetcher(world),
                robots_rows=[],
                use_bloom=True,
                skew_safe=True,
                collect_stats=False,
                pipeline_commits=pipeline,
            )

        if warm:
            make_engine("warm", max(2000, n_frontier // 1000)).crawl(
                seeds=None, max_rounds=2
            )
        engine = make_engine("timed", n_frontier)
        t0 = time.time()
        stats = engine.crawl(seeds=None, max_rounds=rounds)
        wall = time.time() - t0
        fetched = sum(s["n_fetched"] for s in stats)
        commit_keys = (
            "commit (all writes)", "commit (launch async)",
            "commit barrier (prev round)",
        )
        commit_wall = sum(
            s.get("stage_walls", {}).get(k, 0.0) for s in stats for k in commit_keys
        )
        return {
            "n_frontier": n_frontier,
            "rounds": len(stats),
            "pipeline_commits": pipeline,
            "n_fetched": fetched,
            "wall_sec": round(wall, 3),
            "urls_per_sec": round(n_frontier / wall, 1),
            "urls_per_sec_per_core": round(n_frontier / wall / cores, 1),
            "cores": cores,
            # serial commit exposure on the critical path: barrier waits
            # + launch (pipelined) or full write walls (blocking)
            "commit_wall_on_critical_path_sec": round(commit_wall, 3),
            "round_walls": [s.get("stage_walls", {}) for s in stats],
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main_single() -> dict:
    from crawleria_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench", cores=cores)
    # SPARK_GRAFT_BENCH_REPEATS=5 for re-measuring suspected-noise rows
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    queries = bench_queries(spark, sf_dir, repeats=repeats)
    crawl = bench_crawl_round(spark, cores)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline queries wall-clock + crawl-round throughput",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "crawl": crawl,
    }


def crawl_only(level: int, scaling: bool = False) -> dict:
    """``level`` is a thread count (default mode) or an executor count
    (SPARK_GRAFT_SCALE_MODE=executors: local-cluster[level,4,mem] — real
    separate executor JVMs, 4 cores each, the shape of adding cluster
    nodes; a single local[N] JVM serializes N task threads behind one
    GC, which is a sandbox artifact, not an engine property)."""
    from crawleria_spark.session import get_spark

    # the single local-mode JVM stands in for a whole cluster's heap:
    # size it to the frontier (8g per 2M URLs; measured: 8M OOMs at 8g)
    # unless the caller pinned SPARK_DRIVER_MEM themselves
    os.environ.setdefault(
        "SPARK_DRIVER_MEM", f"{max(8, (SCALING_N * 4) // 1_000_000)}g"
    )
    executor_mode = os.environ.get("SPARK_GRAFT_SCALE_MODE") == "executors"
    if scaling:
        if executor_mode:
            total_cores = 4 * level
            spark = get_spark(
                f"bench_scale_x{level}", cores=4, executors=level,
                shuffle_partitions=FIXED_PARTITIONS,
            )
        else:
            total_cores = level
            spark = get_spark(
                f"bench_scale_{level}", cores=level,
                shuffle_partitions=FIXED_PARTITIONS,
            )
        rounds = int(os.environ.get("SPARK_GRAFT_SCALE_ROUNDS", "1"))
        if rounds > 1:
            # multi-round crawl: the pipelined-commit overlap is real
            # (and honestly timed — crawl flushes before returning)
            out = bench_crawl_multiround(
                spark, total_cores, n_frontier=SCALING_N, rounds=rounds,
                fixed_partitions=FIXED_PARTITIONS,
                pipeline=os.environ.get("SPARK_GRAFT_PIPELINE", "1") != "0",
            )
        else:
            out = bench_crawl_round(
                spark, total_cores, n_frontier=SCALING_N,
                fixed_partitions=FIXED_PARTITIONS,
                skew_safe=os.environ.get("SPARK_GRAFT_SKEW_SAFE", "1") != "0",
            )
        out["mode"] = "executors" if executor_mode else "threads"
        out["level"] = level
        return out
    spark = get_spark(f"bench_scale_{level}", cores=level)
    return bench_crawl_round(spark, level)


def wait_for_quiet() -> float:
    """External tenants burst to loadavg >20 on this box; a 32-slot
    run under that load measures the neighbors, not this engine.
    Wait (bounded) for a quiet window; record the load we ran at."""
    max_load = float(os.environ.get("SPARK_GRAFT_SCALE_MAX_LOAD", "4"))
    max_wait_s = int(os.environ.get("SPARK_GRAFT_SCALE_MAX_WAIT", "600"))
    deadline = time.time() + max_wait_s
    while time.time() < deadline:
        load1 = os.getloadavg()[0]
        if load1 < max_load:
            return load1
        time.sleep(15)
    return os.getloadavg()[0]


def _crawl_subprocess(cores: int, extra_env: dict[str, str]) -> dict:
    """One load-gated crawl-only run in a fresh JVM subprocess."""
    load_at_start = wait_for_quiet()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), **extra_env)
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--crawl-only",
         str(cores), "--for-scaling"],
        capture_output=True, text=True, env=env, timeout=3000,
    )
    json_lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not json_lines:
        raise RuntimeError(
            f"crawl-only subprocess (cores={cores}) produced no JSON; "
            f"rc={out.returncode}, stderr tail: {out.stderr[-800:]}"
        )
    rec = json.loads(json_lines[-1])
    rec["load_at_start"] = round(load_at_start, 1)
    # diagnostic only: 1-min load at end INCLUDES the run's own cores
    rec["load_at_end"] = round(os.getloadavg()[0], 1)
    return rec


AB_VARIANTS = {
    # one knob per battery; everything else identical, runs interleaved
    "skew": {"skew_safe": {"SPARK_GRAFT_SKEW_SAFE": "1"},
             "plain_rank": {"SPARK_GRAFT_SKEW_SAFE": "0"}},
    "pipeline": {"pipelined": {"SPARK_GRAFT_PIPELINE": "1",
                               "SPARK_GRAFT_SCALE_ROUNDS": "4"},
                 "blocking": {"SPARK_GRAFT_PIPELINE": "0",
                              "SPARK_GRAFT_SCALE_ROUNDS": "4"}},
}


def main_ab(battery: str) -> None:
    """Interleaved A/B at ONE parallelism level (SPARK_GRAFT_CPUS,
    default 32 threads): the two variants differ by exactly one engine
    knob and alternate within the same load windows — the only
    defensible comparison on this shared box (see BENCH/BASELINE.md
    measurement policy). Reports min-wall per variant + all runs."""
    variants = AB_VARIANTS[battery]
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "2"))
    runs: dict[str, list[dict]] = {v: [] for v in variants}
    for _ in range(repeats):
        for name, env in variants.items():
            runs[name].append(_crawl_subprocess(cores, env))
    results = {v: min(rs, key=lambda r: r["wall_sec"]) for v, rs in runs.items()}
    report = {
        "battery": battery,
        "cores": cores,
        "n": SCALING_N,
        **{f"{v}_urls_per_sec": results[v]["urls_per_sec"] for v in variants},
        "detail": {"results": results, "runs": runs},
    }
    print(json.dumps(report))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(f"\n<!-- bench.py --ab {battery} run -->\n```json\n")
        f.write(json.dumps(report) + "\n```\n")


def main_weak_scaling() -> None:
    """WEAK scaling: per-core-constant work, the real 100 TB deployment
    shape (a bigger cluster is bought to hold MORE data, not to shrink a
    fixed 2M round). Levels get N = SPARK_GRAFT_WEAK_N_PER_CORE × cores;
    perfect scaling = identical walls; efficiency = wall_lo / wall_hi.
    Same load-gated interleaved min-wall protocol as --scaling."""
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "2"))
    per_core = int(os.environ.get("SPARK_GRAFT_WEAK_N_PER_CORE", "125000"))
    levels = tuple(
        int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "8,32").split(",")
    )
    runs: dict[int, list[dict]] = {c: [] for c in levels}
    for _ in range(repeats):
        for cores in levels:
            runs[cores].append(
                _crawl_subprocess(
                    cores, {"SPARK_GRAFT_SCALE_N": str(per_core * cores)}
                )
            )
    results = {c: min(rs, key=lambda r: r["wall_sec"]) for c, rs in runs.items()}
    lo, hi = levels[0], levels[-1]
    eff = results[lo]["wall_sec"] / results[hi]["wall_sec"]
    report = {
        "battery": "weak_scaling",
        "n_per_core": per_core,
        f"wall_{lo}c_sec": results[lo]["wall_sec"],
        f"wall_{hi}c_sec": results[hi]["wall_sec"],
        f"per_core_urls_per_sec_{lo}c": results[lo]["urls_per_sec_per_core"],
        f"per_core_urls_per_sec_{hi}c": results[hi]["urls_per_sec_per_core"],
        f"weak_efficiency_{lo}_to_{hi}": round(eff, 3),
        "detail": {"results": results, "runs": runs},
    }
    print(json.dumps(report))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write("\n<!-- bench.py --weak-scaling run -->\n```json\n")
        f.write(json.dumps(report) + "\n```\n")


def main_rank_skew() -> None:
    """Isolated rank-stage skew battery: per-host politeness rank via
    the plain window (one task per host) vs bucketed_host_rank (hot host
    spans priority buckets) across hub-host fractions, fetch/commit
    noise excluded. This is where the skew story actually lives — in
    the full round the rank is a few % of wall, so whole-round A/Bs
    measure the fetch layout, not the rank (see BENCH/BASELINE.md
    round-4 notes). One session, interleaved, min-of-2 per cell."""
    from pyspark.sql import functions as F

    from crawleria_spark.operators.politeness import (
        bucketed_host_rank,
        per_host_rank,
    )
    from crawleria_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n = int(os.environ.get("SPARK_GRAFT_RANKSKEW_N", "8000000"))
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "2"))
    spark = get_spark(
        "bench_rank_skew", cores=cores, shuffle_partitions=FIXED_PARTITIONS
    )
    cells: dict[str, dict[str, float]] = {}
    for hub_frac in (0.0, 0.3, 0.6, 0.9):
        base = (
            spark.range(n)
            .select(
                F.when(
                    F.col("id") % 1000 < int(hub_frac * 1000),
                    F.lit("hub.example.com"),
                )
                .otherwise(
                    F.concat(F.lit("h"), F.col("id") % N_HOSTS, F.lit(".example.org"))
                )
                .alias("host"),
                F.col("id").cast("double").alias("priority"),
                F.concat(F.lit("https://x/p/"), "id").alias("url_canon"),
            )
            .persist()
        )
        base.count()
        variants = {
            "plain_window": lambda d=base: per_host_rank(
                d, "host", ["priority", "url_canon"], col_name="slot"
            ),
            "bucketed": lambda d=base: bucketed_host_rank(
                d, "host", "priority", ["priority", "url_canon"],
                priority_bound=n, col_name="slot",
                num_buckets=FIXED_PARTITIONS,
            ),
        }
        cell: dict[str, float] = {}
        for name, make in variants.items():
            _materialize(make())  # warm (codegen + AQE shapes)
        for _ in range(repeats):
            for name, make in variants.items():
                t0 = time.time()
                _materialize(make())
                cell[name] = min(cell.get(name, float("inf")), time.time() - t0)
        cells[f"hub_{hub_frac}"] = {k: round(v, 3) for k, v in cell.items()}
        base.unpersist()
    report = {
        "battery": "rank_skew",
        "n_rows": n,
        "cores": cores,
        "cells": cells,
        "load_at_end": round(os.getloadavg()[0], 1),
    }
    print(json.dumps(report))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write("\n<!-- bench.py --rank-skew run -->\n```json\n")
        f.write(json.dumps(report) + "\n```\n")


def main_scaling() -> None:
    """N vs 4N evidence: the same crawl-round job at two parallelism
    levels. This box hosts other tenants with bursty load, so runs are
    load-gated and INTERLEAVED; each level reports its least-contended
    (min-wall) run; all runs are kept in `detail.runs`."""
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "2"))

    levels = tuple(
        int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "4,16").split(",")
    )
    runs: dict[int, list[dict]] = {c: [] for c in levels}
    for _ in range(repeats):
        for cores in levels:
            runs[cores].append(_crawl_subprocess(cores, {}))
    results = {c: min(rs, key=lambda r: r["wall_sec"]) for c, rs in runs.items()}
    lo, hi = levels[0], levels[-1]
    t_lo, t_hi = results[lo]["urls_per_sec"], results[hi]["urls_per_sec"]
    eff = (t_hi / t_lo) / (hi / lo)
    report = {
        f"throughput_local{lo}_urls_per_sec": t_lo,
        f"throughput_local{hi}_urls_per_sec": t_hi,
        f"scaling_efficiency_{lo}_to_{hi}": round(eff, 3),
        "detail": {"results": results, "runs": runs},
    }
    print(json.dumps(report))
    # BENCH/BASELINE.md is the curated evidence document (protocol,
    # decomposition, extrapolation); append this run's raw JSON to it.
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write("\n<!-- bench.py --scaling run -->\n```json\n")
        f.write(json.dumps(report) + "\n```\n")



if __name__ == "__main__":
    if "--crawl-only" in sys.argv:
        cores = int(sys.argv[sys.argv.index("--crawl-only") + 1])
        print(json.dumps(crawl_only(cores, scaling="--for-scaling" in sys.argv)))
    elif "--scaling" in sys.argv:
        main_scaling()
    elif "--ab" in sys.argv:
        main_ab(sys.argv[sys.argv.index("--ab") + 1])
    elif "--rank-skew" in sys.argv:
        main_rank_skew()
    elif "--weak-scaling" in sys.argv:
        main_weak_scaling()
    else:
        print(json.dumps(main_single()))
