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

Implemented as declarative DataFrame join rewrites so Catalyst/AQE pick the
physical join (broadcast / shuffled-hash / sort-merge, skew-split). Two
strategies:

  ``full_outer`` (default): one full-outer join on the keys, per-column
  CASE resolution. One shuffle of each side on the key columns — the right
  plan when source and target are comparable in size.

  ``small_source``: for the 100 TB case — a huge target and a small daily
  delta. Full-outer joins cannot broadcast either side, so instead:
      updated = target LEFT JOIN broadcast(source)   -- map-side, NO shuffle
                                                     -- of the big target
      inserts = source LEFT ANTI JOIN target.select(keys)
                                                     -- shuffles only the
                                                     -- target's key columns
      merged  = updated UNION inserts
  The big fact table's full rows never cross the network; only its key
  columns do (column-pruned by Catalyst). Combined with a date-partitioned
  target (rewrite only affected partitions, see plans/daily_sync.py) this is
  the scalable upsert. Measured (tools/microbench_merge.py, sf0.1 600k-row
  target, local[32]): the strategies are within noise of each other locally
  at every delta ratio — the point of small_source is shuffle BYTES (the
  target's full rows never cross the network), which only matters once the
  network is real; pick it whenever |delta| << |target|, not for local CPU.

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
    strategy: str = "full_outer",
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
        strategy: ``full_outer`` | ``small_source`` (see module docstring).
        insert_only: WHEN NOT MATCHED THEN INSERT only (no updates).
    """
    keys = list(keys)
    non_keys = [c for c in target.columns if c not in keys]
    if set(source.columns) != set(target.columns):
        missing = set(target.columns) - set(source.columns)
        extra = set(source.columns) - set(target.columns)
        raise ValueError(f"source/target column mismatch: missing={missing} extra={extra}")
    source = dedupe_last_wins(source, keys, source_order_col)
    updatable = set() if insert_only else set(non_keys) - set(exclude_update_cols)

    t = target.alias("__t__")
    s = source.alias("__s__")
    tc: ColAccessor = lambda c: F.col(f"__t__.{c}")
    sc: ColAccessor = lambda c: F.col(f"__s__.{c}")

    # Existence markers survive the outer join even when every data column is
    # NULL (keys are assumed non-NULL: the reference drops NULL-key rows
    # pre-merge, csv_to_mssqldb.py:350-356 — see filters.drop_null_keys).
    guard = matched_condition(sc, tc) if matched_condition is not None else F.lit(True)

    if strategy == "small_source":
        mr = _merge_small_source(t, s, tc, sc, keys, non_keys, updatable, guard)
    else:
        mr = _merge_full_outer(t, s, tc, sc, keys, non_keys, updatable, guard)
    return mr


def _resolved_columns(tc, sc, keys, non_keys, updatable, matched, guard):
    """Per-column CASE resolution for rows of the joined relation."""
    do_update = matched & guard if updatable else F.lit(False)
    cols = [F.coalesce(tc(k), sc(k)).alias(k) for k in keys]
    for c in non_keys:
        if c in updatable:
            col = (
                F.when(~matched & tc(keys[0]).isNull(), sc(c))  # insert branch
                .when(do_update, sc(c))
                .otherwise(tc(c))
            )
        else:
            col = F.when(~matched & tc(keys[0]).isNull(), sc(c)).otherwise(tc(c))
        cols.append(col.alias(c))
    action = (
        F.when(~matched & tc(keys[0]).isNull(), F.lit("insert"))
        .when(do_update, F.lit("update"))
        .otherwise(F.lit("keep"))
        .alias("__merge_action__")
    )
    return cols, action


def _merge_full_outer(t, s, tc, sc, keys, non_keys, updatable, guard):
    cond = None
    for k in keys:
        eq = tc(k) == sc(k)
        cond = eq if cond is None else (cond & eq)
    # Null-out nothing: full outer keeps unmatched rows of both sides.
    joined = t.join(s, on=cond, how="full_outer")
    matched = tc(keys[0]).isNotNull() & sc(keys[0]).isNotNull()
    cols, action = _resolved_columns(tc, sc, keys, non_keys, updatable, matched, guard)
    with_markers = joined.select(*cols, action)
    return MergeResult(df=with_markers.drop("__merge_action__"), _with_markers=with_markers)


def _merge_small_source(t, s, tc, sc, keys, non_keys, updatable, guard):
    # updated side: big target stays in place, small source broadcast.
    joined = t.join(F.broadcast(s), on=[tc(k) == sc(k) for k in keys], how="left")
    matched = sc(keys[0]).isNotNull()
    do_update = matched & guard if updatable else F.lit(False)
    upd_cols = [tc(k).alias(k) for k in keys]
    for c in non_keys:
        if c in updatable:
            upd_cols.append(F.when(do_update, sc(c)).otherwise(tc(c)).alias(c))
        else:
            upd_cols.append(tc(c).alias(c))
    upd_action = F.when(do_update, F.lit("update")).otherwise(F.lit("keep")).alias("__merge_action__")
    updated = joined.select(*upd_cols, upd_action)

    # insert side: only the target's KEY columns shuffle (column-pruned scan).
    target_keys = t.select(*[tc(k).alias(k) for k in keys])
    inserts = (
        s.join(target_keys, on=keys, how="left_anti")
        .select(*[F.col(c) for c in [*keys, *non_keys]])
        .withColumn("__merge_action__", F.lit("insert"))
    )
    with_markers = updated.unionByName(inserts)
    return MergeResult(df=with_markers.drop("__merge_action__"), _with_markers=with_markers)

