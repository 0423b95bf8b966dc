"""crawl4ai_custom_spark — a PySpark-native crawl-and-extract analytics engine.

A from-scratch, Spark-first reimplementation of the *capabilities* of the
reference crawler (jakejcarroll/crawl4ai-custom): URL-frontier scheduling
(BFS / best-first / DFS), per-host politeness with exponential backoff,
robots.txt gating, URL-seen dedup (exact anti-join + partitioned Bloom
pre-filter), and HTML -> cleaned-HTML -> markdown -> fit-markdown extraction
— all expressed as DataFrame dataflows and vectorized Arrow/pandas UDFs.

Layout
------
kernel/      pure-Python, Spark-free primitives (URL canonicalization,
             HTML DOM, markdown generation, content filters, BM25, bloom,
             robots.txt) — unit-testable without a SparkSession.
operators/   Spark operators built on the kernel: extraction mapInPandas
             stage, URL filters/scorers as Column factories, frontier wave
             engine, politeness admission, seen-set ops, dedup family,
             similarity search, text statistics, chunking, multimodal.
sources/     input readers: pages table loader (latest-capture view),
             synthetic deterministic page/link-graph generator.
state/       wave checkpointing (snapshot dirs; Iceberg-compatible layout).
functions/   registered SQL functions and helpers.
streaming/   incremental emission (foreachBatch-style wave streaming).
"""

__version__ = "0.1.0"

from .zipcache import install as _install_zipcache

# pyspark's worker re-reads every zip on sys.path before each task on
# CPython < 3.13; re-read only archives that changed (see zipcache)
_install_zipcache()
