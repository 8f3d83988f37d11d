"""zigchain_indexer_clickhouse_spark — a PySpark-native analytics engine.

Re-expresses the query/data-processing capabilities of the reference
blockchain indexer (cryptocomicsdevs/zigchain-indexer-clickhouse,
surveyed in SURVEY.md) as idiomatic Spark DataFrame plans, plus the
training-data operators (similarity, text analysis, multimodal
plumbing) still registered from earlier rounds.

Layout:
    session    — tuned SparkSession builder (AQE, Arrow, shuffle conf)
    catalog    — parquet table loaders for the test star schema
    functions/ — pure column-expression helpers (hashing, encoding, text)
    operators/ — the operator inventory from SURVEY.md §2
    plans/     — query registry consumed by __spark_entry__ and bench.py
    sources/   — batch readers (parquet, RPC-shaped JSON)
    streaming/ — Structured Streaming variants
"""

from zigchain_indexer_clickhouse_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
