"""bfs_crawl: a multi-round CrawlEngine.crawl() from every host's front
page. Per-round fixed costs (job launches, driver collects, the commit
barrier, compaction, growing append-dir listings) dominate; the fetch
stage does little per round."""

from __future__ import annotations

import statistics
import time

from crawleria_spark import CrawlConfig
from crawleria_spark.plans.engine import CrawlEngine
from crawleria_spark.plans.snapshot import SnapshotCatalog
from crawleria_spark.sources.fetch import synthetic_fetcher
from crawleria_spark.synthetic.world import robots_rules

from crawlbench import checks, layers
from crawlbench.run import log, report
from crawlbench.trace import RssSampler, Tracer, TracingCatalog, counting_fetcher, tree_bytes
from crawlbench.workloads import bfs_inputs


def build(run, inp: dict, tracer: Tracer, root: str):
    """The CLI's engine: bloom seen-filter, skew-safe ranks, robots on,
    collect_stats/pipeline_commits at their defaults, no wall-clock
    politeness sleeps."""
    cfg = CrawlConfig(
        max_depth=inp["max_depth"],
        max_pages=inp["max_pages"],
        max_concurrent_per_host=inp["max_concurrent_per_host"],
        compact_dirs_threshold=inp["compact_dirs_threshold"],
    )
    spark = run.spark
    fetcher = synthetic_fetcher(inp["world"])
    acc = None
    if tracer.enabled:
        catalog = TracingCatalog(spark, root, tracer)
        sc = spark.sparkContext
        acc = (sc.accumulator(0), sc.accumulator(0.0), sc.accumulator(0))
        fetcher = counting_fetcher(fetcher, *acc)
    else:
        catalog = SnapshotCatalog(spark, root)
    engine = CrawlEngine(
        spark, catalog, cfg, fetcher,
        robots_rows=robots_rules(inp["world"]), use_bloom=True, skew_safe=True,
    )
    return cfg, catalog, engine, acc


def crawl_phase(run, inp: dict, traced: bool, tag: str, rss: RssSampler) -> dict:
    """Setup rounds (warm-up, committed) then the measured rounds on a
    fresh catalog; returns end-to-end numbers and the layer material.
    ``rss`` samples until the measured rounds end (not during checks)."""
    tracer = Tracer(f"{run.args.workload}-{run.args.seed}-{tag}", enabled=traced)
    root = run.path(f"catalog_{tag}")
    t_setup = time.perf_counter()
    cfg, catalog, engine, acc = build(run, inp, tracer, root)
    engine.crawl(inp["seeds"], max_rounds=inp["setup_rounds"])
    setup_s = time.perf_counter() - t_setup
    files0, bytes0 = tree_bytes(root)

    starts: list[float] = []
    run_round, flush = engine.run_round, engine.flush

    def timed_round(*a, **kw):
        starts.append(time.perf_counter())
        with tracer.span("engine.run_round"):
            return run_round(*a, **kw)

    engine.run_round = timed_round
    if traced:
        engine.flush = tracer.wrap("engine.flush", flush)
    w0 = time.time()
    t0 = time.perf_counter()
    with tracer.span("engine.crawl"):
        stats = engine.crawl(None, max_rounds=inp["rounds"])
    t1 = time.perf_counter()
    w1 = time.time()
    engine.run_round, engine.flush = run_round, flush
    rss_mb = rss.stop_mb()
    walls = [b - a for a, b in zip(starts, starts[1:] + [t1])]
    log(f"{tag}: setup rounds {setup_s:.2f} s, measured round walls "
        + ", ".join(f"{w:.2f}" for w in walls) + " s")
    fetched = sum(s["n_fetched"] for s in stats)
    files1, bytes1 = tree_bytes(root)

    rounds_total = inp["setup_rounds"] + len(stats)
    run.check(f"{tag} round count", [] if len(stats) == inp["rounds"] else [f"ran {len(stats)} rounds"])
    run.check(
        f"{tag} oracle parity",
        checks.crawl_parity(catalog, cfg, inp["world"], inp["seeds"], rounds_total),
    )
    n_log = catalog.read("fetch_log").filter(
        f"round >= {inp['setup_rounds']} and status in ('ok', 'error')"
    ).count()
    run.check(f"{tag} committed rows", [] if n_log == fetched else [f"{n_log} != {fetched}"])
    pages_total = catalog.read("fetch_log").filter("status in ('ok', 'error')").count()
    return {
        "setup_s": setup_s,
        "wall_s": t1 - t0,
        "fetched": fetched,
        "round_walls": walls,
        "stored_bytes_per_page": bytes1 / pages_total,
        "stats": stats,
        "tracer": tracer,
        "window": (w0, w1),
        "written": (files1 - files0, bytes1 - bytes0),
        "acc": acc,
        "rss_mb": rss_mb,
    }


def e2e(run, ph: dict) -> dict:
    return {
        "setup_s": (run.start_s + ph["setup_s"], "s"),
        "work_per_s": (ph["fetched"] / ph["wall_s"], "1/s"),
        "unit_s_p50": (statistics.median(ph["round_walls"]), "s"),
        "stored_bytes_per_page": (ph["stored_bytes_per_page"], "B"),
    }


def warm_up(run, inp: dict) -> None:
    """The seed round on a throwaway catalog: warms the JVM before the
    traced phase."""
    _cfg, _catalog, engine, _acc = build(
        run, inp, Tracer("warm", enabled=False), run.path("catalog_warm")
    )
    engine.crawl(inp["seeds"], max_rounds=inp["setup_rounds"])


def main(run) -> dict:
    inp = bfs_inputs(run.args.seed, run.args.seconds)
    rss = RssSampler().start()
    run.start_spark()
    if run.trace:
        # warm-up, a traced phase, then an untraced one in the equally warm
        # JVM: the overhead compares those two (the first phase after a
        # cold start runs ~20% slower)
        warm_up(run, inp)
        traced = crawl_phase(run, inp, True, "traced", rss)
        again = crawl_phase(run, inp, False, "untraced_again", RssSampler().start())
        run.close()  # flushes the event log
        return layers.crawl_layers(run, traced, e2e(run, again), e2e(run, traced), traced["rss_mb"])
    base = crawl_phase(run, inp, False, "untraced", rss)
    metrics = e2e(run, base)
    n = len(base["round_walls"])
    report("crawl_urls_per_s", metrics["work_per_s"][0], "1/s", base["fetched"])
    report("round_s_p50", metrics["unit_s_p50"][0], "s", n)
    report("stored_bytes_per_page", metrics["stored_bytes_per_page"][0], "B")
    report("setup_s", metrics["setup_s"][0], "s")
    report("peak_rss_mb", base["rss_mb"], "MB")
    return metrics
