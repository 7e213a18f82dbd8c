"""PySpark-native analytics/ETL engine with the query and data-processing
capabilities of the reference repo ``erhanustun/ETL-mssql-to-postgres-dailySync``
(incremental MSSQL->Postgres daily sync), re-expressed Spark-first.

Layout:
    session     SparkSession factory (non-ANSI casts, UTC, AQE)
    schemas     StructType registry for reference + testdata tables
    operators/  merge family (upsert/MERGE/conditional), coercion, filters,
                projections, validation
    sources/    readers (csv/jdbc), TxnTable (the ACID table format for every
                file the engine owns), writers (CSV and JDBC sinks) with
                per-engine upsert dialects, synthetic data generator
    functions/  text analysis, dedup (exact/minhash/simhash/ngram), vector
                similarity, multimodal column plumbing
    plans/      composed pipelines (daily_sync, backfill)
    streaming/  Structured Streaming skins over the same operators
"""

from etl_mssql_to_postgres_dailysync_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
