"""kol_bigdata_realtime_analytics_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query / data-processing capabilities of the
reference KOL real-time analytics platform (NATuan1208/kol-bigdata-realtime-analytics),
expressed as one coherent Spark-first engine:

- ``functions/``  — every domain formula exactly once, as native Column
  expressions (parse_count, trending score, trust score, engineered features,
  text analysis). No row-at-a-time Python UDFs in the hot path.
- ``sources/``    — source/sink factories (parquet, JSON envelope, catalog
  DDL) and the Kafka wire format.
- ``operators/``  — reusable DataFrame->DataFrame operators: dedup (exact,
  MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine), similarity search,
  top-k / latest-per-key / pagination, multimodal column plumbing.
- ``plans/``      — the query surface: a registry mapping query names to
  (spark_fn, oracle_sql) pairs used by ``__spark_entry__.py``.
- ``streaming/``  — Structured Streaming queries (trending score, campaign
  features) with watermarks, sliding windows, and stateful momentum.

Design stance (SURVEY.md §7): DataFrame/SQL declarative plans, Catalyst/AQE
optimization, broadcast for dims, partition-pruned scans, Arrow-batched pandas
UDFs only where built-ins genuinely can't express the semantics.
"""

__version__ = "0.1.0"
