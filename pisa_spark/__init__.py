"""pisa_spark — a PySpark-native full-text index build + BM25 query engine.

A from-scratch re-expression of the capabilities of the reference system
(bmmliu/pisa, a single-node C++ inverted-index engine) on top of Apache
Spark:

- **Index build**: tokenize Common-Crawl-style web pages
  ``pages(url, warc_ts, html, text, lang)`` with Arrow-vectorized pandas
  UDFs, build a global term lexicon, invert to docID-sorted posting lists
  (``groupBy`` partial+final aggregation replaces the reference's serial
  batch merge), and encode immutable block segments (128-posting blocks,
  delta-1 gaps + tf-1 payloads, varint or fixed-width bit-packing) with
  per-block max-score metadata (block-max WAND sidecar).
- **Query**: exhaustive ``ranked_or`` top-k BM25 expressed as pure
  Spark SQL (the oracle), plus numpy kernels for WAND / Block-Max WAND /
  MaxScore / ranked-AND executed distributed via one
  ``cogroup(...).applyInArrow`` boundary over query batches.
- **Training-data ops**: dedup (exact / MinHash-LSH / SimHash / n-gram
  Jaccard / embedding-cosine), similarity search, text quality stats,
  and multimodal column plumbing.

Everything is DataFrame-declarative where Spark has the operator, and
Arrow-batched numpy where it does not (codec inner loops, pruned query
kernels). No per-row Python in any hot path.
"""

__version__ = "0.1.0"
