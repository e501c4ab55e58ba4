"""crawl4ai_spark — a PySpark-native crawl-and-extract analytics engine.

A from-scratch rebuild of the capabilities of buizmanager/crawl4ai
(reference read-only at /root/reference) on the Spark DataFrame API:

- frontier-driven iterative crawl rounds (BFS / best-first) over a
  Common-Crawl-style ``pages`` table (url, warc_ts, html, text, lang)
- partitioned URL-seen filter (canonical URL -> xxhash64), politeness
  budgets per host, salted repartition for hot-host skew
- vectorized (Arrow / pandas UDF) scrape -> markdown -> extract pipeline
- URL filters / scorers / dedup / similarity as native Column expressions

Design rules (BASELINE.json): DataFrame-first, no per-row Python UDFs —
only pyspark.sql.functions expressions and Arrow-batched pandas UDFs /
mapInPandas.
"""

from crawl4ai_spark import zipguard as _zipguard

__version__ = "0.1.0"

# workers import this package to unpickle any engine UDF: skip their
# per-task zip directory re-reads (a no-op on the driver)
_zipguard.install()
