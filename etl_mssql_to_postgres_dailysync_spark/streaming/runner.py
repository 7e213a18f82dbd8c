"""Structured Streaming skins over the batch operators (SURVEY.md §2.7).

The reference is a scheduled batch pipeline whose semantics are streaming in
disguise: daily event-time micro-batches, catchup replay, NULL-event-time
quarantine as a side output, idempotent per-partition upsert. Mapped here:

  - daily micro-batch -> ``trigger(availableNow=True)`` replay
  - per-batch upsert  -> ``foreachBatch`` + ``TxnTable.merge`` (one atomic
                         commit per micro-batch)
  - quarantine        -> the batch path's complete/incomplete split of the
                         same micro-batch, merged by key into its own table
  - tumbling/window aggregation + watermark for late data
  - sessionization via ``session_window``
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_mssql_to_postgres_dailysync_spark.operators.filters import split_complete_incomplete
from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable
from etl_mssql_to_postgres_dailysync_spark.sources.writers import jdbc_upsert_write


def read_stream_parquet(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """File-source stream (schema required for streaming reads)."""
    return spark.readStream.format("parquet").schema(schema).load(path)


def run_available_now(
    stream: DataFrame, batch_fn: Callable[[DataFrame, int], None], checkpoint: str
) -> None:
    """Catchup/backfill replay: process everything currently available then
    stop — the streaming analog of Airflow ``catchup=True``."""
    q = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
    group_cols: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Tumbling event-time aggregation with a watermark for late data — the
    streaming generalization of the reference's daily partition counts."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def sessionized(
    events: DataFrame, *, ts_col: str = "ts", gap: str = "30 minutes", key: str = "user_id"
) -> DataFrame:
    """Session windows per user (streaming-native stateful operator)."""
    return (
        events.withWatermark(ts_col, gap)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def streaming_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    *,
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with state
    bounded by the watermark (keys older than the watermark are evicted, so
    state doesn't grow with the stream — the streaming twin of
    operators.merge.dedupe_last_wins / exact_dedup for at-least-once
    sources that can replay events)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(list(keys))


def jdbc_upsert_sink(
    connect: Callable[[], object],
    table: str,
    keys: Sequence[str],
    *,
    dialect: str = "postgres",
    single_writer: bool = False,
    **upsert_kwargs,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink pushing each micro-batch through the
    distributed dialect-aware upsert (sources/writers.jdbc_upsert_write).
    Upserts are idempotent per key, so micro-batch replays after a failure
    converge — effective exactly-once on the JDBC target, which is the
    reference's daily-rerun guarantee in streaming form.
    ``single_writer`` serializes partitions for targets like SQLite."""
    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        if single_writer:
            batch = batch.coalesce(1)
        jdbc_upsert_write(batch, connect, table, keys, dialect=dialect, **upsert_kwargs)

    return apply_batch


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    within: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition — the
    attribution pattern (e.g. click within 30 min of impression). Both sides
    carry watermarks and the join condition bounds right_ts to
    [left_ts, left_ts + within], so Spark can evict buffered state once the
    watermark passes the interval: state is bounded, exactly the
    range-join-with-horizon semantics of operators/joins.py in streaming
    form."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = F.expr(
        f"l.{key} = r.{key} AND r.{right_ts} >= l.{left_ts} "
        f"AND r.{right_ts} <= l.{left_ts} + interval {within}"
    )
    return l.alias("l").join(r.alias("r"), cond, "inner")


def txn_merge_sink(
    table_path: str,
    keys: Sequence[str],
    *,
    quarantine_ts_col: str | None = None,
    quarantine_path: str | None = None,
    **merge_kwargs,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink merging each micro-batch into a TxnTable
    (sources/txn_table.py): streaming ingestion with ACID visibility — every
    micro-batch is one atomic commit, readers only ever see complete
    batches, and a replayed batch re-merges idempotently (the checkpoint +
    idempotent-commit pair is the streaming exactly-once contract in
    lake-table form; the reference's re-run safety property,
    dags/…_orders_daily.py:28-29).

    With ``quarantine_ts_col``, rows whose timestamp is NULL are split off
    (``filters.split_complete_incomplete``, as in the batch sync) and, given
    ``quarantine_path``, merged by ``keys`` into a quarantine TxnTable, so a
    replay converges there too. A quarantined key that the batch completes
    leaves the quarantine, as it would from the reference's snapshot-replaced
    ``incomplete_orders``; the quarantine commits nothing when neither
    happens. A batch the merge rejects (e.g. a column the table lacks)
    raises and commits nothing."""

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        complete = batch
        if quarantine_ts_col is not None:
            complete, incomplete = split_complete_incomplete(batch, quarantine_ts_col)
        TxnTable(spark, table_path).merge(complete, keys, **merge_kwargs)
        if quarantine_ts_col is not None and quarantine_path is not None:
            quarantine = TxnTable(spark, quarantine_path)
            if quarantine.files():
                # bounded by the quarantine, never the batch
                done = (quarantine.read().select(*keys)
                        .join(complete.select(*keys), list(keys), "left_semi")
                        .distinct().collect())
                if done:
                    quarantine.delete(F.struct(*keys).isin(
                        [F.struct(*[F.lit(r[k]).alias(k) for k in keys]) for r in done]))
            quarantine.merge(incomplete, keys)

    return apply_batch
