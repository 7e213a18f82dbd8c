"""The merge/upsert operator family — the one real engine operator the
reference needs that Spark lacks natively (SURVEY.md §2.1 S6-S9, §2.3 J1-J4).

Reference semantics covered:
  - plain upsert, all non-key columns updated on conflict
    (``INSERT ... ON CONFLICT (order_id) DO UPDATE SET col=EXCLUDED.col``,
    dags/mssql_to_postgresql_orders_daily.py:296-343)
  - MSSQL ``MERGE`` with a column mask: ``OrderCreatedAt`` excluded from the
    UPDATE SET -> first-write-wins for that column (csv_to_mssqldb.py:409-443,
    exclusion at :421)
  - conditional last-writer-wins upsert on a version timestamp
    (``... DO UPDATE SET ... WHERE target.updateddateutc IS NULL OR
    EXCLUDED.updateddateutc > target.updateddateutc``,
    dags/__pycache__/mssql_to_postgres_sync.cpython-38.pyc)
  - composite conflict keys (4-column, same pyc)

Implemented as one declarative plan: a full-outer join on the keys and a
per-column CASE that resolves each joined row to insert, update or keep.
Catalyst/AQE pick the physical join (shuffled-hash or sort-merge,
skew-split): one shuffle of each side on the key columns. A broadcast
variant (target LEFT JOIN broadcast(source) plus an anti-join for the
inserts) was measured and removed: it was slower at every delta of 1% or
more of the target (MICROBENCH.md), and on the daily sync, a ~1% delta,
``perfbench/run.py --workload daily_sync`` ran op_p50 1.70-1.79 s with it
against 1.42-1.53 s with this plan (4 vCPU, three seeds).

At scale the target side of the join is bounded by file pruning, not by a
broadcast: ``TxnTable.merge(prune_col=)`` reads and rewrites only the files
whose zone maps overlap the batch, so a daily delta joins one day's files.

Intra-batch duplicate keys are resolved *last-wins* before merging (the
reference's DB-side upsert is per-statement; SURVEY.md §7 defines last-wins),
deterministically via ``source_order_col`` when given.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

# A matched-condition receives (source_col, target_col) accessors and returns
# a boolean Column, e.g. lambda s, t: t("v").isNull() | (s("v") > t("v")).
ColAccessor = Callable[[str], Column]
MatchedCondition = Callable[[ColAccessor, ColAccessor], Column]


@dataclass
class MergeResult:
    """Merged DataFrame plus its DML counts (A5: ``cur.rowcount`` analog —
    dags/mssql_to_postgresql_orders_daily.py:328-335)."""

    df: DataFrame
    _with_markers: DataFrame = None  # type: ignore[assignment]

    @staticmethod
    def _count_cols() -> list[Column]:
        action = F.col("__merge_action__")
        return [
            F.count(F.lit(1)).alias("total"),
            F.count_if(action == "update").alias("updated"),
            F.count_if(action == "insert").alias("inserted"),
            F.count_if(action == "keep").alias("kept"),
        ]

    def counts_df(self) -> DataFrame:
        """The counts as a lazy 1-row DataFrame — one aggregate pass over the
        marker column."""
        return self._with_markers.agg(*self._count_cols())

    def observed(self) -> tuple[DataFrame, Observation]:
        """The merged DataFrame with the counts riding along as an
        ``Observation``: the action that consumes the DataFrame (the sink
        write) fills it, with no second pass over the merge."""
        obs = Observation()
        df = self._with_markers.observe(obs, *self._count_cols())
        return df.drop("__merge_action__"), obs


def dedupe_last_wins(
    df: DataFrame, keys: Sequence[str], order_col: str | None = None
) -> DataFrame:
    """Keep one row per key. With ``order_col``, highest (NULLs first, i.e.
    losing) value wins; without, an arbitrary-but-deterministic row wins
    (max by monotonically increasing id is NOT deterministic across runs, so
    we order by all columns for stability)."""
    if order_col is not None:
        # order_col leads, but the remaining columns complete a TOTAL order:
        # two source rows with the same key AND same version must still pick
        # one winner deterministically on any partitioning (property-tested
        # in tests/test_merge_properties.py).
        order = [F.col(order_col).desc_nulls_last()] + [
            F.col(c).desc_nulls_last()
            for c in df.columns
            if c not in keys and c != order_col
        ]
    else:
        order = [F.col(c).desc_nulls_last() for c in df.columns if c not in keys]
    if not order:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def merge(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    *,
    exclude_update_cols: Sequence[str] = (),
    matched_condition: MatchedCondition | None = None,
    source_order_col: str | None = None,
    insert_only: bool = False,
) -> MergeResult:
    """Relational MERGE: returns the post-merge state of ``target``.

    Args:
        keys: equality conflict target (single or composite — J1/J2).
        exclude_update_cols: columns that keep the target value on match
            (first-write-wins mask — S8's ``OrderCreatedAt`` exclusion).
        matched_condition: extra guard on the update branch (S7's
            last-writer-wins by version timestamp). Rows matching the key but
            failing the guard keep ALL target values.
        source_order_col: version column for intra-batch last-wins dedupe.
        insert_only: WHEN NOT MATCHED THEN INSERT only (no updates).

    A row whose key holds a NULL matches nothing, as in SQL MERGE: a source
    one is inserted, a target one is kept unchanged. The intra-batch dedupe
    still groups NULL keys as equal, so of several NULL-key source rows with
    the same key values only one is inserted.
    """
    keys = list(keys)
    non_keys = [c for c in target.columns if c not in keys]
    if set(source.columns) != set(target.columns):
        missing = set(target.columns) - set(source.columns)
        extra = set(source.columns) - set(target.columns)
        raise ValueError(f"source/target column mismatch: missing={missing} extra={extra}")
    source = dedupe_last_wins(source, keys, source_order_col)
    updatable = set() if insert_only else set(non_keys) - set(exclude_update_cols)

    # A literal marker on each side says which side a joined row came from;
    # a key column cannot, since a NULL key reads the same as a missing row.
    t = target.withColumn("__present__", F.lit(True)).alias("__t__")
    s = source.withColumn("__present__", F.lit(True)).alias("__s__")
    tc: ColAccessor = lambda c: F.col(f"__t__.{c}")
    sc: ColAccessor = lambda c: F.col(f"__s__.{c}")

    cond = None
    for k in keys:
        eq = tc(k) == sc(k)
        cond = eq if cond is None else (cond & eq)
    joined = t.join(s, on=cond, how="full_outer")

    insert = tc("__present__").isNull()
    matched = tc("__present__").isNotNull() & sc("__present__").isNotNull()
    guard = matched_condition(sc, tc) if matched_condition is not None else F.lit(True)
    do_update = matched & guard if updatable else F.lit(False)
    cols = [F.coalesce(tc(k), sc(k)).alias(k) for k in keys]
    for c in non_keys:
        col = F.when(insert, sc(c))
        if c in updatable:
            col = col.when(do_update, sc(c))
        cols.append(col.otherwise(tc(c)).alias(c))
    action = (
        F.when(insert, F.lit("insert"))
        .when(do_update, F.lit("update"))
        .otherwise(F.lit("keep"))
        .alias("__merge_action__")
    )
    with_markers = joined.select(*cols, action)
    return MergeResult(df=with_markers.drop("__merge_action__"), _with_markers=with_markers)
