"""read_mix: one closed-loop client alternating retrieval queries over a
crawled snapshot with post-crawl corpus ops. No fetch, no commit in the
timed region: this workload reads what crawls write and exercises the
retrieval/top-k/cache and dedup/ann/packing/text operators.

Setup commits the documents snapshot of a prebuilt frontier (hub host
holding 30% of the URLs) and writes the corpus tables. Each measured
pass runs every corpus op from __spark_entry__.queries() once, with a
query through Retriever.retrieve + format_for_llm behind a QueryCache
before every QUERY_EVERY_OPS-th op."""

from __future__ import annotations

import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from crawleria_spark import CrawlConfig
from crawleria_spark.operators.cache import QueryCache
from crawleria_spark.operators.retrieval import Retriever
from crawleria_spark.plans.snapshot import SnapshotCatalog
from tools.check_oracles import value_hash

from crawlbench import checks, layers
from crawlbench.run import ROOT, log, percentile, report
from crawlbench.trace import RssSampler, Tracer, TracingCatalog, tree_bytes
from crawlbench.workloads import (
    CORPUS_DOCS,
    CORPUS_OPS,
    QUERY_EVERY_OPS,
    read_inputs,
    write_corpus,
)

QUERY_CFG = CrawlConfig(top_k=5, similarity_threshold=0.05)  # as cmd_query
CACHE_TTL_S = 3600.0
WARM_THREADS = 3


def write_snapshot(run, inp: dict) -> str:
    """The documents table a crawl of the frontier commits: one row per
    ok page (doc_id, url_canon, round, spans), fetched from the synthetic
    world and committed through SnapshotCatalog. (An engine round here
    would cost ~30 s of cold start per run; bfs_crawl measures that path.)"""
    from crawleria_spark.functions.urls import canonicalize, clean_filename
    from crawleria_spark.plans.engine import DOCUMENTS_SCHEMA
    from crawleria_spark.synthetic.world import page_for_url

    rows = []
    for url in inp["frontier"]:
        page = page_for_url(url, inp["world"])
        if page["status"] == "ok":
            spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in page["spans"]]
            rows.append((clean_filename(url), canonicalize(url), 0, spans))
    root = run.path("catalog")
    docs = run.spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    SnapshotCatalog(run.spark, root).commit(replace={"documents": docs}, meta={"round": 0})
    return root


def oracle_hashes(sf_dir: str) -> dict:
    """(rows, sorted columns, value hash) of each op's oracle_sql() on
    DuckDB. The corpus is fixed, so the result is cached in the checkout
    under a key of the SQL text and the table bytes."""
    import hashlib

    import duckdb

    import __spark_entry__ as entry

    sql = {q: entry.oracle_sql()[q] for q in CORPUS_OPS}
    key = hashlib.sha256(json.dumps(sql, sort_keys=True).encode())
    for t in ("documents", "embeddings"):
        with open(f"{sf_dir}/{t}.parquet", "rb") as f:
            key.update(f.read())
    path = os.path.join(ROOT, ".bench_cache", f"oracle_{key.hexdigest()[:24]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return {q: (n, cols, h) for q, (n, cols, h) in json.load(f).items()}
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for q in CORPUS_OPS:
        res = con.execute(sql[q])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[q] = (len(rows), sorted(cols), value_hash(rows, cols))
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


class Client:
    """The measured client: per request, one query or one corpus op."""

    def __init__(self, run, catalog, sf_dir: str, cache: QueryCache, tracer: Tracer):
        import __spark_entry__ as entry

        self.run, self.catalog, self.sf_dir = run, catalog, sf_dir
        self.cache, self.tracer = cache, tracer
        self.ops = entry.queries()
        if tracer.enabled:
            lookup, store = cache.lookup, cache.store

            def traced_lookup(query, now):
                with tracer.span("cache.lookup") as s:
                    hit = lookup(query, now)
                    s["hit"] = hit is not None
                    return hit

            cache.lookup = traced_lookup
            cache.store = tracer.wrap("cache.store", store)

    def query(self, text: str, now: float) -> dict:
        """cmd_query's flow with a QueryCache in front."""
        t = self.tracer
        with t.span("query"):
            docs = self.catalog.read("documents").select(
                "doc_id",
                "url_canon",
                F.concat_ws(" ", F.transform(F.col("spans"), lambda s: s["text"])).alias("text"),
            )
            retriever = Retriever(docs, config=QUERY_CFG, cache=self.cache)
            with t.span("retrieval.retrieve"):
                results = retriever.retrieve(query_text=text, now=now)
            with t.span("retrieval.format"):
                return retriever.format_for_llm(
                    results, self.catalog.read("documents").select("doc_id", "spans")
                )

    def corpus_op(self, name: str):
        with self.tracer.span(f"corpus.{name}"):
            df = self.ops[name](self.run.spark, self.sf_dir)
            return df.columns, [tuple(r) for r in df.collect()]


def read_phase(run, inp: dict, catalog_root: str, sf_dir: str, traced: bool, tag: str,
               rss: RssSampler) -> dict:
    tracer = Tracer(f"{run.args.workload}-{run.args.seed}-{tag}", enabled=traced)
    catalog = (
        TracingCatalog(run.spark, catalog_root, tracer) if traced
        else SnapshotCatalog(run.spark, catalog_root)
    )
    cache = QueryCache(run.spark, run.path(f"cache_{tag}"), ttl_s=CACHE_TTL_S)
    client = Client(run, catalog, sf_dir, cache, tracer)

    # q op op q op op ...
    queries = iter(inp["queries"])
    requests = []
    for i in range(QUERY_EVERY_OPS * len(inp["queries"])):
        if i % QUERY_EVERY_OPS == 0:
            requests.append(("query", next(queries)))
        requests.append(("op", CORPUS_OPS[i % len(CORPUS_OPS)]))
    lat: dict[str, list[float]] = {"query": [], "op": []}
    walls = []
    outputs = []
    w0 = time.time()
    t0 = time.perf_counter()
    for i, (kind, arg) in enumerate(requests):
        a = time.perf_counter()
        out = client.query(arg, now=float(i)) if kind == "query" else client.corpus_op(arg)
        walls.append(time.perf_counter() - a)
        lat[kind].append(walls[-1])
        outputs.append(out)
    t1 = time.perf_counter()
    w1 = time.time()
    rss_mb = rss.stop_mb()
    log(f"{tag}: request walls " + ", ".join(
        f"{arg if kind == 'op' else 'query'} {w:.3f}" for (kind, arg), w in zip(requests, walls)
    ) + " s")
    return {
        "tag": tag,
        "wall_s": t1 - t0,
        "requests": requests,
        "outputs": outputs,
        "lat": lat,
        "tracer": tracer,
        "window": (w0, w1),
        "setup_s": 0.0,
        "rss_mb": rss_mb,
    }


def check_outputs(run, ph: dict, oracle: dict, docs: list) -> None:
    """Queries vs the pure-Python Jaccard oracle, cache hits vs the miss
    that stored them, corpus ops vs oracle_sql() on DuckDB."""
    tag = ph["tag"]
    first: dict[str, list] = {}
    for (kind, arg), out in zip(ph["requests"], ph["outputs"]):
        if kind == "query":
            expected = checks.jaccard_topk(docs, arg, QUERY_CFG.top_k, QUERY_CFG.similarity_threshold)
            run.check(f"{tag} query {arg!r}", checks.query_matches(out, expected))
            got = checks.query_result(out)
            if arg in first:
                run.check(f"{tag} cache hit {arg!r}", [] if got == first[arg] else ["differs from the stored miss"])
            first.setdefault(arg, got)
        else:
            cols, rows = out
            n, ocols, h = oracle[arg]
            got = (len(rows), sorted(cols), value_hash(rows, cols))
            run.check(f"{tag} {arg}", [] if got == (n, ocols, h) else [f"{got} != oracle {(n, ocols, h)}"])


def warm_up(run, catalog_root: str, sf_dir: str) -> dict:
    """Run every request shape once (codegen, Python workers, the ANN
    index build) against a throwaway cache; returns the corpus outputs.
    The corpus ops warm from WARM_THREADS driver threads at once (Spark
    schedules jobs from several threads): a cold JVM spends most of this
    compiling, not computing, and a sequential warm-up would take most of
    the run's time budget."""
    client = Client(
        run, SnapshotCatalog(run.spark, catalog_root), sf_dir,
        QueryCache(run.spark, run.path("cache_warm"), ttl_s=CACHE_TTL_S),
        Tracer("warm", enabled=False),
    )
    first, rest = CORPUS_OPS[0], CORPUS_OPS[1:]
    out = {first: client.corpus_op(first)}  # ships the package once
    with ThreadPoolExecutor(WARM_THREADS) as pool:
        futures = {q: pool.submit(client.corpus_op, q) for q in rest}
        client.query("spark crawl", now=0.0)  # miss
        client.query("spark crawl", now=1.0)  # hit
        out.update({q: f.result() for q, f in futures.items()})
    return out


def e2e(setup_s: float, ph: dict, stored: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "work_per_s": (len(ph["requests"]) / ph["wall_s"], "1/s"),
        "unit_s_p50": (statistics.median(ph["lat"]["query"] + ph["lat"]["op"]), "s"),
        "stored_bytes_per_page": (stored, "B"),
    }


def main(run) -> dict:
    inp = read_inputs(run.args.seed, run.args.seconds)
    rss = RssSampler().start()
    t_setup = time.perf_counter()
    run.start_spark()
    t_tables = time.perf_counter()
    catalog_root = write_snapshot(run, inp)
    sf_dir = run.path("corpus")
    os.makedirs(sf_dir)
    write_corpus(sf_dir)
    t_warm = time.perf_counter()
    warm = warm_up(run, catalog_root, sf_dir)
    setup_s = time.perf_counter() - t_setup
    log(f"setup: session {run.start_s:.2f} s, tables {t_warm - t_tables:.2f} s, "
        f"warm-up {t_setup + setup_s - t_warm:.2f} s")
    base = read_phase(run, inp, catalog_root, sf_dir, False, "untraced", rss)
    docs = _docs(run, catalog_root)
    oracle = oracle_hashes(sf_dir)
    for q, (cols, rows) in warm.items():
        run.check(f"warm-up {q}", [] if value_hash(rows, cols) == oracle[q][2] else ["oracle mismatch"])
    check_outputs(run, base, oracle, docs)
    stored = tree_bytes(catalog_root)[1] / len(docs)
    metrics = e2e(setup_s, base, stored)
    q, ops = base["lat"]["query"], base["lat"]["op"]
    report("query_s_p50", statistics.median(q), "s", len(q))
    report("query_s_p75", percentile(q, 0.75), "s", len(q))
    report("query_qps", len(q) / sum(q), "1/s", len(q))
    report("corpus_docs_per_s", CORPUS_DOCS * len(ops) / sum(ops), "1/s", len(ops))
    report("request_s_p50", statistics.median(q + ops), "s", len(q + ops))
    report("setup_s", setup_s, "s")
    report("peak_rss_mb", base["rss_mb"], "MB")
    if not run.trace:
        return metrics
    # traced pass, then an untraced one in the equally warm JVM: the
    # overhead compares those two (the first pass runs colder)
    traced = read_phase(run, inp, catalog_root, sf_dir, True, "traced", RssSampler().start())
    again = read_phase(run, inp, catalog_root, sf_dir, False, "untraced_again", RssSampler().start())
    for ph in (traced, again):
        check_outputs(run, ph, oracle, docs)
    traced["setup_s"] = setup_s - run.start_s
    run.close()
    return layers.read_layers(
        run, traced, e2e(setup_s, again, stored), e2e(setup_s, traced, stored), base["rss_mb"]
    )


def _docs(run, catalog_root: str) -> list[tuple[str, str]]:
    """(doc_id, text) exactly as the client's query builds it, collected
    once for the pure-Python scoring oracle."""
    docs = SnapshotCatalog(run.spark, catalog_root).read("documents").select(
        "doc_id", F.concat_ws(" ", F.transform(F.col("spans"), lambda s: s["text"])).alias("text")
    )
    return [(r["doc_id"], r["text"]) for r in docs.collect()]
