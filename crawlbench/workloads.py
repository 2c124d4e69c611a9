"""Seeded input generators. The program under test receives only what
these return: world configs, seed lists, a prebuilt frontier, a query
stream and the corpus tables.

Sizes are fixed per workload; only ``--seconds`` scales the measured
work (rounds for bfs_crawl, passes for read_mix), so two commits
compared at the same seed and seconds do identical work.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from crawleria_spark.synthetic.world import WorldConfig, seed_urls

# nominal walls of one timed unit at local[4] on a 4-vCPU VM, used only
# to turn --seconds into a fixed amount of work
NOMINAL_ROUND_S = 20.0
NOMINAL_PASS_S = 20.0


def rng_for(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}|{stream}")


# ------------------------------------------------------------ bfs_crawl

BFS_HOSTS = 25
BFS_PAGES_PER_HOST = 200
BFS_WORLD_SEED = 20240502  # fixed: --seed orders the seed list, not the web
BFS_SETUP_ROUNDS = 1  # the seed round: warm-up, committed before the clock starts


def bfs_inputs(seed: int, seconds: float) -> dict:
    """World, seed list (every host's front page in seeded order, which
    is crawl priority order) and the round counts. The web is fixed and
    the host cap, not the page budget, limits each round, so every seed
    fetches the same number of pages per round: which pages depends on
    the priority order. (Seeding the web too moved the page count of the
    timed round by +-11%; a binding budget would add the head-limited
    dequeue's seed-dependent retries to the round wall.)"""
    world = WorldConfig(
        seed=BFS_WORLD_SEED, n_hosts=BFS_HOSTS, pages_per_host=BFS_PAGES_PER_HOST
    )
    seeds = seed_urls(world, n=BFS_HOSTS)
    rng_for(seed, "seeds").shuffle(seeds)
    rounds = max(1, round(seconds / NOMINAL_ROUND_S))
    return {
        "world": world,
        "seeds": seeds,
        "max_depth": 6,
        "max_concurrent_per_host": 2,
        "max_pages": 100_000,
        # low threshold: seen, frontier and host_seq compact in the first
        # timed round; the seen filter, one directory behind, from the
        # second timed round on
        "compact_dirs_threshold": 2,
        "setup_rounds": BFS_SETUP_ROUNDS,
        "rounds": rounds,
    }


# ------------------------------------------------------------- read_mix

READ_HOSTS = 15
READ_FRONTIER = 300
READ_HUB_SHARE = 0.3
QUERY_EVERY_OPS = 2  # one query before every other corpus op
QUERY_REPEAT_EVERY = 3  # every third query repeats an earlier one
QUERY_WORDS = (
    "spark frontier crawl fetch parse span media link page host queue "
    "bloom filter hash shard partition shuffle skew salt priority robots "
    "budget depth round snapshot lineage metric batch arrow vector column "
    "index cluster token"
).split()


def read_inputs(seed: int, seconds: float) -> dict:
    """Prebuilt frontier for the setup crawl (one round, hub host holds
    READ_HUB_SHARE of the URLs) and the query stream."""
    rng = rng_for(seed, "frontier")
    world = WorldConfig(
        seed=rng.randrange(2**31), n_hosts=READ_HOSTS, pages_per_host=400
    )
    urls, seen = [], set()
    while len(urls) < READ_FRONTIER:
        h = 0 if rng.random() < READ_HUB_SHARE else rng.randrange(1, READ_HOSTS)
        url = f"https://{world.host(h)}/p/{rng.randrange(world.pages_per_host)}"
        if url not in seen:
            seen.add(url)
            urls.append(url)
    passes = max(1, round(seconds / NOMINAL_PASS_S))
    return {
        "world": world,
        "frontier": urls,
        "queries": query_stream(seed, passes * len(CORPUS_OPS) // QUERY_EVERY_OPS),
    }


def query_stream(seed: int, n: int) -> list[str]:
    """2-4 word queries. Every QUERY_REPEAT_EVERY-th repeats an earlier
    fresh one (a cache hit); the rest are fresh (cache misses)."""
    rng = rng_for(seed, "queries")
    out: list[str] = []
    for i in range(n):
        if i % QUERY_REPEAT_EVERY == QUERY_REPEAT_EVERY - 1:
            out.append(rng.choice(out))
        else:
            q = " ".join(rng.sample(QUERY_WORDS, rng.randint(2, 4)))
            while q in out:
                q = " ".join(rng.sample(QUERY_WORDS, rng.randint(2, 4)))
            out.append(q)
    return out


# ------------------------------------------------------------ corpus ops

CORPUS_OPS = (
    "q_minhash_dup_pairs",
    "q_simhash_dup_pairs",
    "q_embedding_dup_pairs",
    "q_dup_groups",
    "q_quality_scores",
    "q_pii_redaction",
    "q_pack_sequences",
    "q_decontaminate",
    "q_lang_id",
    "q_token_stats",
    "q_cosine_topk",
    "q_ann_lsh_topk",
)
CORPUS_DOCS = 1000
CORPUS_VECS = 500
CORPUS_SEED = 20240501  # fixed: --seed does not change the corpus
_CORPUS_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window join data query small stream filter big group "
    "order column customer vector"
).split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def write_corpus(sf_dir: str) -> None:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding float[64], label) parquet tables in the
    layout __spark_entry__.queries() reads. Every 10th document is a
    near-duplicate (one appended word) of an earlier one."""
    rng = random.Random(CORPUS_SEED)
    texts: list[str] = []
    for i in range(CORPUS_DOCS):
        if i % 10 == 9:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(_CORPUS_WORDS) for _ in range(rng.randint(10, 99))))
    docs = pa.table(
        {
            "doc_id": pa.array(range(CORPUS_DOCS), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(CORPUS_DOCS)],
            "source": [f"src{i % 20}" for i in range(CORPUS_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, f"{sf_dir}/documents.parquet")
    nrng = np.random.default_rng(CORPUS_SEED)
    vecs = nrng.standard_normal((CORPUS_VECS, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(range(CORPUS_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(nrng.integers(0, 10, CORPUS_VECS), pa.int32()),
        }
    )
    pq.write_table(emb, f"{sf_dir}/embeddings.parquet")
