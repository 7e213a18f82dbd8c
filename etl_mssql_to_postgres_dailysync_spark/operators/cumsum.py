"""Distributed global cumulative sum.

A global ``sum() OVER (ORDER BY ...)`` is the classic scale trap: Spark plans
it as a single-partition window — one task sees every row, so the operator
that was fine at sf0.1 serializes the whole 100 TB through one executor.

The scalable shape is the textbook two-phase prefix sum:

  1. ``repartitionByRange`` on the order columns — ranges are contiguous and
     partition ids ascend with the range, so partition-local order + an
     offset per partition reconstructs the global order.
  2. A per-partition window computes the LOCAL prefix sum (parallel across
     partitions).
  3. Per-partition totals (one tiny aggregation: #partitions rows) are
     collected, prefix-summed on the driver, and shipped back as a broadcast
     map — each row's global prefix = local prefix + offset of its partition.

The order columns MUST form a total order (include a unique tie-break key):
range boundaries may split ties across partitions, and only a total order
makes the result independent of where the boundary lands.

Cost: one range shuffle + one pass, plus the tiny totals job over the
checkpointed repartitioned data — vs the single-partition window's one-task
execution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cumsum",
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running sum of ``value_col`` in ``order_cols`` order,
    without a single-partition window. ``order_cols`` must be a total order.

    Correctness note: the pid -> offset map is derived from ONE evaluation
    of the range-repartitioned plan, so the result stage must not recompute
    ``_pid`` from scratch (range boundaries are SAMPLED — a re-plan could
    shift them and silently mis-rank rows). The local-prefix stage is
    therefore unconditionally ``localCheckpoint(eager=True)``-ed: lineage is
    TRUNCATED, the pid assignment is frozen in the stored partitions, and a
    recompute is impossible by construction. There is deliberately NO opt-out
    (an earlier ``cache=False`` parameter skipped materialization and relied
    on the range exchange re-sampling identical boundaries across the two
    jobs — not a guarantee Spark makes). The checkpoint storage is released
    by Spark's ContextCleaner when the returned DataFrame is garbage
    collected — repeated calls in a long-lived session do not accumulate
    pinned storage (the old ``persist()`` needed a manual unpersist that no
    caller could safely place)."""
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local, prefix, _ = _two_phase(
        df, order_cols, num_partitions,
        F.sum(F.col(value_col)).over(w_local), F.sum(F.col(value_col)),
    )
    return local.withColumn(out_col, prefix).drop("_pid", "_local")


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "row_number",
    *,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact global ``row_number()`` in ``order_cols`` order without a
    single-partition window — the same two-phase shape as ``global_cumsum``
    (it IS a prefix sum of ones): range-repartition, per-partition local
    row_number (parallel), collect the #partitions-row count vector, ship
    offsets back as a broadcast map. ``order_cols`` must be a total order.
    The local-rank stage is unconditionally ``localCheckpoint``-ed for the
    same reason as ``global_cumsum`` (sampled range boundaries must not be
    re-planned between the offsets job and the output job).
    Returns ``(df_with_rank, total_rows)`` — the total falls out of the
    offsets job for free and downstream order statistics (ntile, percentile
    cuts) need it."""
    w_local = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    local, prefix, total = _two_phase(
        df, order_cols, num_partitions, F.row_number().over(w_local), F.count(F.lit(1))
    )
    return local.withColumn(out_col, prefix.cast("long")).drop("_pid", "_local"), total


def _two_phase(
    df: DataFrame,
    order_cols: list[str],
    num_partitions: int | None,
    local_value: Column,
    part_total: Column,
) -> tuple[DataFrame, Column, int]:
    """The shared phases of the two-phase prefix: range-repartition ``df``
    on ``order_cols``, tag each row with its partition id ``_pid``, add the
    partition-local prefix ``_local = local_value`` (a window over ``_pid``)
    and checkpoint; then collect ``part_total`` per partition. Returns the
    checkpointed frame, the global prefix (``_local`` plus the sum of the
    totals of all lower partitions, looked up by ``_pid``) and the sum of
    all totals."""
    ranged = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols)
    )
    base = ranged.withColumn("_pid", F.spark_partition_id())
    local = base.withColumn("_local", local_value).localCheckpoint(eager=True)
    totals = local.groupBy("_pid").agg(part_total.alias("_tot")).collect()
    running = 0
    offsets: dict[int, int] = {}
    for row in sorted(totals, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = running
        running += row["_tot"] or 0
    if not offsets:
        return local, F.col("_local"), running
    offset_expr = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(p) for p in offsets]),
            F.array(*[F.lit(v) for v in offsets.values()]),
        ),
        F.col("_pid"),
    )
    return local, F.col("_local") + offset_expr, running


def global_ntile(
    df: DataFrame,
    order_cols: list[str],
    n: int,
    out_col: str = "bucket",
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY ...)`` without a single-partition
    window: global rank via ``global_row_number``, then the closed-form
    ntile bucket from (rank, total). SQL ntile semantics: with N rows the
    first ``N % n`` buckets hold ``N // n + 1`` rows, the rest ``N // n`` —
    derived arithmetically from the rank, so the bucket column is exactly
    what the one-task window would produce, at range-shuffle cost."""
    ranked, total = global_row_number(
        df, order_cols, "_grank", num_partitions=num_partitions
    )
    q, rem = divmod(total, n)
    r = F.col("_grank")
    if q == 0:
        # fewer rows than buckets: ntile gives each row its own bucket
        bucket = r
    else:
        big = rem * (q + 1)  # rows living in the q+1-sized buckets
        bucket = F.expr(
            f"CASE WHEN _grank <= {big} THEN (_grank - 1) DIV {q + 1} + 1 "
            f"ELSE {rem} + (_grank - 1 - {big}) DIV {q} + 1 END"
        )
    return ranked.withColumn(out_col, bucket.cast("long")).drop("_grank")
