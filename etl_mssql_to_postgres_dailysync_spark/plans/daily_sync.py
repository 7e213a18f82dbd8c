"""E1 — the flagship pipeline: one daily incremental sync run
(dags/mssql_to_postgresql_orders_daily.py:621-626 re-expressed as ONE Spark
job).

The reference's five Airflow tasks (extract-complete, load-complete,
extract-incomplete, load-incomplete, validate) collapse into a single logical
plan: the source is scanned once, both partitions (complete / NULL-key
quarantine) branch off that scan, counts ride along as ``observe`` metrics
(no extra scans), and the temp-CSV + XCom machinery disappears — the
DataFrame is the exchange.

``daily_sync`` itself runs no Spark job. The sink's writes of the two
returned DataFrames fill the observations; reading ``metrics`` or ``report``
blocks until the first action over each returned DataFrame has run, and that
action must consume the DataFrame fully (a write or a count, not ``first``).

Scale: the date predicate reaches the source scan (JDBC pushdown or parquet
row-group pruning); the merge is the one full-outer join plan of
``operators/merge.py``, and a committing caller bounds its target side with
``TxnTable.merge(prune_col=)``, which reads only the files the day may touch.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.operators import filters, project

from etl_mssql_to_postgres_dailysync_spark.operators.merge import merge as merge_op
from etl_mssql_to_postgres_dailysync_spark.operators.validate import (
    ReconciliationReport,
    observe_count,
    reconcile,
)


@dataclass
class DailySyncResult:
    merged_target: DataFrame        # post-merge state of the complete-orders target
    incomplete_snapshot: DataFrame  # snapshot-replace state of the quarantine table
    _extracted: Observation
    _merged: Observation
    _quarantined: Observation

    @cached_property
    def metrics(self) -> dict:
        """Row counts of the run, read from the observations. Blocks until the
        first action over each returned DataFrame has run; that action must
        consume it fully, as the sink write does."""
        counts = self._merged.get
        return {
            "extracted_row_count": self._extracted.get["rows"],
            "loaded_row_count": counts["updated"] + counts["inserted"],
            "null_extracted_row_count": self._quarantined.get["rows"],
            **{f"merge_{k}": v for k, v in counts.items()},
        }

    @cached_property
    def report(self) -> ReconciliationReport:
        """Extracted run-date rows vs rows the merge updated or inserted: a
        duplicate or NULL-key row in the extract makes them differ. Blocks
        like ``metrics``, on the same fully consuming first actions."""
        return reconcile(
            self.metrics["extracted_row_count"], self.metrics["loaded_row_count"]
        )


def daily_sync(
    source: DataFrame,
    target: DataFrame,
    run_date: str,
    *,
    ts_col: str = "OrderCreatedAt",
    keys: tuple[str, ...] = ("OrderID",),
) -> DailySyncResult:
    """One logical-date run: extract the date partition, split
    complete/incomplete, upsert complete into the target, snapshot-replace
    the quarantine, reconcile counts. Lazy: runs no Spark job."""
    src = project.drop_surrogate(source)

    complete, extracted = observe_count(src.filter(filters.daily_partition(ts_col, run_date)))
    incomplete, quarantined = observe_count(
        project.with_audit_timestamp(src.filter(filters.null_partition(ts_col)))
    )

    complete = filters.drop_null_keys(complete, keys)
    merged, counts = merge_op(target, complete, keys).observed()
    return DailySyncResult(merged, incomplete, extracted, counts, quarantined)


def backfill(
    source: DataFrame,
    target: DataFrame,
    start_date: str,
    end_date: str,
    *,
    ts_col: str = "OrderCreatedAt",
    keys: tuple[str, ...] = ("OrderID",),
) -> DataFrame:
    """Date-range backfill (backfill/historical pyc variants): the reference
    fans out one Airflow task per date, sequentially; Spark processes the
    whole range as ONE merge — per-date parallelism is just partition
    parallelism of the range scan. Returns the post-merge target."""
    batch = source.filter(filters.date_range_partition(ts_col, start_date, end_date))
    batch = filters.drop_null_keys(batch, keys)
    return merge_op(target, batch, keys).df


def per_date_counts(source: DataFrame, ts_col: str) -> DataFrame:
    """The backfill variants' extract returns {date, count} dicts per mapped
    task; Spark-native: one groupBy. Also serves A1 generalized."""
    return (
        source.filter(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("run_date"))
        .agg(F.count(F.lit(1)).alias("row_count"))
    )
