"""Sinks — S4-S9 (SURVEY.md §2.1).

Files the engine owns are TxnTables (sources/txn_table.py): partitioned
appends, partition-scoped merges and snapshot replaces are its ``append``,
``merge(prune_col=)`` and ``overwrite``, each one atomic commit. This module
holds the sinks for everything else:
  * CSV in the reference's interchange format (``write_csv``);
  * real JDBC targets: ``jdbc_append`` for the staging load, and
    ``jdbc_upsert_write``, which replays the reference's batched upsert per
    partition (dags/mssql_to_postgresql_orders_daily.py:296-343) in the
    target's native form, rendered by a ``Dialect`` (sources/dialects.py) —
    idempotent, so task retries are safe. Gated: needs a live DB + driver
    jar, neither in this container.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame

from etl_mssql_to_postgres_dailysync_spark.sources.dialects import Dialect, get_dialect


def write_csv(df: DataFrame, path: str, *, timestamp_format: str = "yyyy-MM-dd HH:mm:ss.SSSSSS") -> None:
    """S4 — CSV sink in the reference's interchange format
    (dags/…_orders_daily.py:219). Exists for interchange parity only — the
    intra-pipeline temp-CSV hop is eliminated (the DataFrame is the exchange)."""
    df.write.mode("overwrite").option("header", True).option(
        "timestampFormat", timestamp_format
    ).option("timestampNTZFormat", timestamp_format).csv(path)


def jdbc_append(
    df: DataFrame, url: str, table: str, *, batchsize: int = 5000, truncate: bool = False,
    properties: dict[str, str] | None = None,
) -> None:
    """S5 — staging append (csv_to_mssqldb.py:449-462): TRUNCATE-then-append
    becomes ``mode("overwrite").option("truncate", True)``; chunksize becomes
    JDBC ``batchsize``. Gated: requires a live database."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    if truncate:
        writer.mode("overwrite").option("truncate", True).save()
    else:
        writer.mode("append").save()


def jdbc_upsert_write(
    df: DataFrame,
    connect: Callable[[], "object"],
    table: str,
    keys: Sequence[str],
    *,
    page_size: int = 100,
    exclude_update_cols: Sequence[str] = (),
    matched_condition_sql: str | None = None,
    dialect: Dialect | str = "postgres",
) -> None:
    """S6/S7 — distributed ON CONFLICT upsert for real JDBC targets: each
    Spark partition opens its own connection (via the picklable ``connect``
    factory), executes batched upserts in one transaction, and rolls back on
    error — exactly the reference's loader
    (dags/…_orders_daily.py:296-343) but parallel per partition. Idempotent
    per row, so partition-level retries are exactly-once in effect.

    ``dialect`` (sources/dialects.py, a Dialect or its name) renders the
    upsert in the target engine's native form — Postgres/SQLite ON CONFLICT,
    MSSQL MERGE, MySQL ON DUPLICATE KEY."""
    if isinstance(dialect, str):
        dialect = get_dialect(dialect)
    sql = dialect.upsert_sql(
        table, df.columns, keys,
        exclude_update_cols=exclude_update_cols,
        matched_condition_sql=matched_condition_sql,
    )

    def load_partition(rows) -> None:
        conn = connect()
        try:
            cur = conn.cursor()
            batch = []
            for row in rows:
                batch.append(tuple(row))
                if len(batch) >= page_size:
                    cur.executemany(sql, batch)
                    batch = []
            if batch:
                cur.executemany(sql, batch)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    df.foreachPartition(load_partition)
