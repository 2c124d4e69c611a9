"""Seen-filter properties behind ``CrawlEngine(use_bloom=True)``: zero
false negatives and a bounded FP rate in both blob encodings,
anti-join equivalence over an un-compacted append table, delta-sized
appends with a bounded probe collect, compaction equivalence, and full
engine parity with an overloaded filter. The switch keeps its name;
the filter behind it is the cuckoo filter in operators/cuckoo.py."""

import dataclasses

import numpy as np
from pyspark.sql import functions as F

from crawleria_spark.operators.cuckoo import (
    SLOTS,
    _decompose,
    _encode,
    _insert_all,
    _probe,
    anti_join_seen_cuckoo,
    build_cuckoo,
    compact_cuckoo,
    cuckoo_m_buckets,
    cuckoo_split,
)


def _urls(spark, lo, hi, step=1):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://h/"), F.col("id") * step).alias("url_canon")
    ).withColumn("url_hash", F.xxhash64("url_canon"))


def test_bloom_numpy_no_false_negatives():
    """Zero FN and the design FP rate hold in the sparse encoding (a
    small delta in a large table) and the dense one (a full table)."""
    m = cuckoo_m_buckets(10_000)
    rng = np.random.default_rng(0)
    probes = rng.integers(-(2**62), 2**62, size=100_000, dtype=np.int64)
    for n_keys, dense in ((1_000, 0), (10_000, 1)):
        keys = np.unique(rng.integers(-(2**62), 2**62, size=n_keys, dtype=np.int64))
        fp, i1, _ = _decompose(keys, m)
        table = np.zeros(m * SLOTS, dtype=np.uint16)
        occ = np.zeros(m, dtype=np.int32)
        blob = _encode(m, table, *_insert_all(table, occ, i1, fp, m))
        assert np.frombuffer(blob, dtype=np.uint32, count=4)[1] == dense
        assert _probe(blob, keys).all()  # zero FN
        fp_rate = _probe(blob, np.setdiff1d(probes, keys)).mean()
        assert fp_rate < 0.005, f"{n_keys} keys: FP rate {fp_rate:.5f}"


def test_anti_join_equivalence(spark):
    """Prefiltering by an un-compacted append table of per-round delta
    rows (the engine's on-disk state between compactions) returns the
    exact anti-join's row set."""
    n_seen, n_pending = 6_000, 8_000
    seen = _urls(spark, 0, n_seen)
    # pending overlaps seen on ~half its rows
    pending = _urls(spark, 0, n_pending, step=2)
    deltas = None
    for r in range(3):
        rows = build_cuckoo(
            _urls(spark, r * 2_000, (r + 1) * 2_000).select("url_hash"),
            n_buckets=8, capacity_per_bucket=10_000,
        )
        deltas = rows if deltas is None else deltas.unionByName(rows)
    assert deltas.count() == 3 * 8

    exact = {r["url_canon"] for r in anti_join_seen_cuckoo(pending, seen).collect()}
    fast = {
        r["url_canon"]
        for r in anti_join_seen_cuckoo(pending, seen, deltas, n_buckets=8).collect()
    }
    assert fast == exact
    assert 0 < len(exact) < n_pending


def test_delta_sized_blooms_bounded_probe(spark):
    """Round deltas append O(delta)-byte rows at the crawl-constant
    (MB-scale) table size, and the probe's driver collect is one merged
    row per partition however many delta rows the append table holds."""
    def mk(lo, hi):
        return build_cuckoo(_urls(spark, lo, hi).select("url_hash"), n_buckets=8)

    appended = mk(0, 20_000)
    for i in range(10):
        appended = appended.unionByName(mk(20_000 + 300 * i, 20_000 + 300 * (i + 1)))
    rows = appended.collect()
    assert len(rows) == 11 * 8
    # sparse rows: 16-byte header + 6 bytes/entry, NOT the 8·m-byte table
    for r in rows:
        assert len(bytes(r["cuckoo"])) < 16 + 6 * int(r["n_items"]) + 64
    # what cuckoo_split collects: ≤ n_buckets merged rows
    compacted = compact_cuckoo(spark.createDataFrame(rows)).collect()
    assert len(compacted) <= 8
    assert sum(len(bytes(r["cuckoo"])) for r in compacted) < sum(
        len(bytes(r["cuckoo"])) for r in rows
    )

    certain_new, _ = cuckoo_split(_urls(spark, 0, 24_000), appended, n_buckets=8)
    new_ids = {r["url_canon"] for r in certain_new.collect()}
    # zero false negatives across many delta rows
    assert not any(f"https://h/{i}" in new_ids for i in range(23_000))
    # the never-inserted tail is certain-new up to the ~1e-4 FP rate
    assert sum(1 for i in range(23_000, 24_000) if f"https://h/{i}" in new_ids) > 990


def test_compact_blooms_equivalence(spark):
    """compact_cuckoo merges an append table of per-round delta rows
    into one row per partition with identical probe results — the path
    crawl() takes when delta dirs pile up."""
    appended = None
    for r in range(3):
        rows = build_cuckoo(
            _urls(spark, r * 1_000, (r + 1) * 1_000), n_buckets=8,
            capacity_per_bucket=10_000,
        )
        appended = rows if appended is None else appended.unionByName(rows)
    compacted = compact_cuckoo(appended)
    rows = compacted.collect()
    assert len(rows) == 8  # one row per partition
    assert sum(r["n_items"] for r in rows) == 3_000

    probe = _urls(spark, 0, 4_000)
    results = []
    for table in (appended, compacted):
        certain_new, _ = cuckoo_split(probe, table, n_buckets=8)
        new_ids = {r["url_canon"] for r in certain_new.collect()}
        # zero false negatives: every inserted key is a suspect
        assert all(f"https://h/{i}" not in new_ids for i in range(3_000))
        # the never-inserted tail is certain-new up to the ~1e-4 FP rate
        assert sum(1 for i in range(3_000, 4_000) if f"https://h/{i}" in new_ids) > 990
        results.append(new_ids)
    assert results[0] == results[1]


def test_engine_parity_with_bloom(spark, tmp_catalog_root):
    """Full oracle parity with use_bloom=True and a filter sized below
    the seen set (load past the design 0.84, so evictions and the stash
    come into play): the filter's sizing must not change ANY output."""
    from crawleria_spark.oracle.crawler import OracleCrawler
    from tests.test_oracle_parity import CONFIG, SEEDS, WORLD, assert_parity, run_engine

    cfg = dataclasses.replace(
        CONFIG, frontier_partitions=1, filter_capacity_per_partition=16
    )
    oracle = OracleCrawler(CONFIG, WORLD).crawl(SEEDS)
    catalog = run_engine(spark, tmp_catalog_root, config=cfg, use_bloom=True)
    assert_parity(catalog, oracle)
    n_seen = catalog.read("seen").count()
    m = cuckoo_m_buckets(cfg.filter_capacity_per_partition)
    # more keys than the filter was sized for, loaded past 0.84
    assert n_seen > 0.84 * m * SLOTS > cfg.filter_capacity_per_partition
    n_items = catalog.read("seen_cuckoo").agg(F.sum("n_items")).collect()[0][0]
    assert n_items == n_seen
