"""Validation & metrics — A1-A5, C10 accounting, reconciliation (SURVEY.md
§2.4, §2.9).

The reference validates by comparing extract-side and load-side row counts per
logical date and logging success/warning (dags/…_orders_daily.py:530-584) —
a warning, not a failure (:584). Metrics travel via XCom; here they are an
``Observation`` attached to the same job (zero extra scans) or a plain dict.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def filtered_count(df: DataFrame, ts_col: str, run_date: str) -> int:
    """A1/S10 — validation count: rows in the target for one logical date
    (dags/…_orders_daily.py:561-566). Uses the sargable range predicate so
    the count scans one partition, not the table."""
    from etl_mssql_to_postgres_dailysync_spark.operators.filters import daily_partition

    return df.filter(daily_partition(ts_col, run_date)).count()


def null_counts(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """A3 — per-column null counts, one aggregate pass (column_check.py:5;
    csv_to_mssqldb.py:251-256)."""
    cols = list(cols or df.columns)
    return df.agg(
        *[F.count_if(F.col(c).isNull()).alias(f"{c}_nulls") for c in cols]
    )


def observe_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """A2 — running row count as a load-side effect: the Spark analog of the
    reference's chunk-loop counter (dags/…_orders_daily.py:204-208) without a
    second scan. Read ``obs.get`` after an action runs. The observation is
    unnamed (a fresh UUID): one plan may stack several, e.g. a sync over the
    previous sync's output, and Spark rejects two with the same name."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


@dataclass
class ReconciliationReport:
    """Extract-vs-load consistency check result (dags/…_orders_daily.py:530-584)."""

    extracted: int
    loaded: int
    warnings: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.warnings


def reconcile(extracted: int, loaded: int) -> ReconciliationReport:
    """Compare pipeline-stage counts; warn (never raise) on mismatch, matching
    the reference's log-only posture (dags/…_orders_daily.py:580-584)."""
    warnings = []
    if extracted != loaded:
        warnings.append(f"extracted={extracted} != loaded={loaded}")
    report = ReconciliationReport(extracted, loaded, warnings)
    for w in warnings:
        log.warning("reconciliation: %s", w)
    if not warnings:
        log.info("reconciliation ok: extracted=%d loaded=%d", extracted, loaded)
    return report
