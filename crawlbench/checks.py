"""Correctness oracles, applied outside the timed region. Each returns a
list of failure messages (empty = pass)."""

from __future__ import annotations

import re

from crawleria_spark.oracle.crawler import OracleCrawler


def crawl_parity(catalog, config, world, seeds, rounds: int) -> list[str]:
    """Engine catalog vs OracleCrawler on the same world, seeds and
    round count: per-host fetch order, URL-seen set, span sequences."""
    ref = OracleCrawler(config, world).crawl(seeds, max_rounds=rounds)
    bad = []
    seen = {r["url_canon"] for r in catalog.read("seen").collect()}
    if seen != ref.seen:
        bad.append(f"seen set differs: engine {len(seen)} oracle {len(ref.seen)}")

    def order(rows):
        return sorted(
            (r["host"], r["seq_in_host"], r["url_canon"], r["round"],
             r["politeness_slot"], r["status"])
            for r in rows
        )

    log = [r.asDict() for r in catalog.read("fetch_log").collect()]
    if order(log) != order(ref.fetch_log):
        bad.append(f"fetch order differs: engine {len(log)} rows oracle {len(ref.fetch_log)}")
    docs = {
        r["url_canon"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in catalog.read("documents").collect()
    }
    ref_docs = {
        d["url_canon"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]]
        for d in ref.documents
    }
    if docs != ref_docs:
        bad.append(f"span sequences differ: engine {len(docs)} docs oracle {len(ref_docs)}")
    return bad


def jaccard_topk(docs: list[tuple[str, str]], query: str, k: int, threshold: float):
    """Driver-side twin of Retriever text scoring: token-set Jaccard of
    lower(trim(text)) split on whitespace vs the query's token set;
    score >= threshold, score desc then doc_id, first k."""
    q = set(query.lower().split())
    scored = []
    for doc_id, text in docs:
        toks = set(re.split(r"\s+", text.strip().lower()))
        union = len(toks | q)
        score = 0.0 if union <= 0 else len(toks & q) / union
        if score >= threshold:
            scored.append((-score, doc_id))
    scored.sort()
    return [(d, -s) for s, d in scored[:k]]


def query_result(ctx: dict) -> list[tuple[str, float, int]]:
    return [(r["doc_id"], r["score"], r["rank"]) for r in ctx["results"]]


def query_matches(ctx: dict, expected: list[tuple[str, float]]) -> list[str]:
    got = query_result(ctx)
    # format_for_llm forwards at most 4 results (head cap) — compare the
    # prefix it forwards, with ranks 1..n
    want = [(d, s, i + 1) for i, (d, s) in enumerate(expected[: len(got)])]
    if got != want or len(got) != min(4, len(expected)):
        return [f"top-k differs: got {got[:2]}..., want {want[:2]}..."]
    return []
