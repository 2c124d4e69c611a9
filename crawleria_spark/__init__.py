"""crawleria_spark — a from-scratch PySpark-native URL-frontier + fetch
scheduler with the query/data-processing capabilities of the reference
crawler (yousmaaza/crawlerIA), re-expressed as idiomatic Spark.

Subpackages
-----------
functions   vectorized column functions (URL canonicalization, hashing,
            text quality/lang-id/tokenization, similarity primitives)
operators   relational/crawl operators (politeness windows, top-k,
            dedup families, ANN, global dense ordinals, cuckoo-filter
            seen-set with O(filter) deletion for re-crawl)
sources     fetch stage (mapInPandas, injectable fetcher) + span extraction
plans       snapshot catalog (atomic round commits) + the CrawlEngine loop
oracle      pure-Python reference-semantics oracle crawler (test anchor)
synthetic   deterministic synthetic web (link graph + interleaved pages)
multimodal  binary media columns: decode/resize/frame-sample plumbing
streaming   structured-streaming variants of the fetch-log pipeline
"""

from crawleria_spark.config import CrawlConfig

__all__ = ["CrawlConfig"]
__version__ = "0.1.0"
