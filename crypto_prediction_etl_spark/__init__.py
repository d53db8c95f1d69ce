"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference `kentarokamiyajp/crypto-prediction-etl`
(crypto data-warehouse: Kafka -> Spark Streaming -> Cassandra; Trino ELT;
PySpark indicator marts; dbt window-stats mart), re-expressed Spark-first:

- one engine (Spark SQL / DataFrame / Structured Streaming), one catalog,
  declarative plans optimized by Catalyst + AQE;
- partitioned parquet tables instead of Hive/Cassandra/Trino federation;
- an id-partitioned, (id, dt)-sorted `mapInPandas` kernel that runs each
  symbol's recursion in turn instead of the reference's driver-side
  per-symbol collect loop (reference:
  airflow/etl_scripts/pyspark/D_Create_crypto_ind_day_001.py:52-197);
- plus large-scale training-data-pipeline operators (dedup, similarity
  search, text analysis, multimodal columns) designed for 100 TB scale.

Layout:
    session.py    SparkSession factory (AQE, Arrow, UTC, dynamic overwrite)
    sources/      readers (parquet/csv/json/stream) and partitioned writers
    functions/    scalar/expression helpers (portable hashes, time fns)
    operators/    analytics operators (windows, indicators, dedup, text, ann)
    plans/        end-to-end query catalog (Spark builder + DuckDB oracle SQL)
    streaming/    structured-streaming pipelines (candles/trades/order book)
    quality/      data-quality assertion utilities
"""

__version__ = "0.1.0"
