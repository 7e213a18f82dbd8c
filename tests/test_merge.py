"""Merge family tests — the scenario fixtures from FIXTURES.md §4:
idempotency, column masks, composite keys, matched-condition, intra-batch
last-wins, NULL keys."""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.operators.merge import (
    dedupe_last_wins,
    merge,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture()
def target(spark):
    return spark.createDataFrame(
        [
            Row(k=1, v="t1", ts=dt.datetime(2025, 1, 1)),
            Row(k=2, v="t2", ts=dt.datetime(2025, 1, 2)),
            Row(k=3, v="t3", ts=dt.datetime(2025, 1, 3)),
        ]
    )


# How the caller hands the source over: as given ("full_outer"), or
# broadcast-hinted as a small daily delta ("small_source"). merge() plans
# both as the one full-outer join and must return the same rows.
SOURCE_SHAPES = ["full_outer", "small_source"]


def _shaped(source, shape):
    return F.broadcast(source) if shape == "small_source" else source


@pytest.fixture()
def source(spark):
    return spark.createDataFrame(
        [
            Row(k=2, v="s2", ts=dt.datetime(2025, 2, 2)),   # update
            Row(k=4, v="s4", ts=dt.datetime(2025, 2, 4)),   # insert
        ]
    )


@pytest.mark.parametrize("shape", SOURCE_SHAPES)
def test_plain_upsert(target, source, shape):
    out = merge(target, _shaped(source, shape), ["k"])
    assert _rows(out.df) == {
        (1, "t1", dt.datetime(2025, 1, 1)),
        (2, "s2", dt.datetime(2025, 2, 2)),
        (3, "t3", dt.datetime(2025, 1, 3)),
        (4, "s4", dt.datetime(2025, 2, 4)),
    }
    counts = out.counts_df().first().asDict()
    assert counts == {"total": 4, "updated": 1, "inserted": 1, "kept": 2}
    # the same counts ride along on the action that consumes the merge
    observed, obs = out.observed()
    assert _rows(observed) == _rows(out.df)
    assert obs.get == counts


@pytest.mark.parametrize("shape", SOURCE_SHAPES)
def test_idempotent_double_merge(target, source, shape):
    source = _shaped(source, shape)
    once = merge(target, source, ["k"]).df
    twice = merge(once, source, ["k"]).df
    assert _rows(once) == _rows(twice)


@pytest.mark.parametrize("shape", SOURCE_SHAPES)
def test_column_mask_first_write_wins(target, source, shape):
    # S8: ts excluded from UPDATE SET -> original ts kept on re-merge
    out = merge(target, _shaped(source, shape), ["k"], exclude_update_cols=["ts"]).df
    got = {r["k"]: (r["v"], r["ts"]) for r in out.collect()}
    assert got[2] == ("s2", dt.datetime(2025, 1, 2))  # v updated, ts preserved
    assert got[4] == ("s4", dt.datetime(2025, 2, 4))  # inserts take source ts


@pytest.mark.parametrize("shape", SOURCE_SHAPES)
def test_matched_condition_last_writer_wins(spark, shape):
    # S7: update only when source version is newer (or target version NULL)
    target = spark.createDataFrame(
        [
            Row(k=1, v="t1", ver=dt.datetime(2025, 6, 1)),
            Row(k=2, v="t2", ver=None),
            Row(k=3, v="t3", ver=dt.datetime(2025, 6, 3)),
        ]
    )
    source = spark.createDataFrame(
        [
            Row(k=1, v="s1", ver=dt.datetime(2025, 1, 1)),  # older -> keep target
            Row(k=2, v="s2", ver=dt.datetime(2025, 6, 2)),  # target NULL -> update
            Row(k=3, v="s3", ver=dt.datetime(2025, 7, 3)),  # newer -> update
        ]
    )
    out = merge(
        target,
        _shaped(source, shape),
        ["k"],
        matched_condition=lambda s, t: t("ver").isNull() | (s("ver") > t("ver")),
    ).df
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "t1", 2: "s2", 3: "s3"}


def test_null_keys_match_nothing(spark):
    """As in SQL MERGE, a NULL key equals no key: the NULL-key target row is
    kept unchanged and the NULL-key source row is inserted."""
    target = spark.createDataFrame([(1, "t1"), (None, "tnull"), (3, "t3")], "k long, v string")
    source = spark.createDataFrame([(1, "s1"), (None, "snull"), (4, "s4")], "k long, v string")
    out = merge(target, source, ["k"])
    assert _rows(out.df) == {(1, "s1"), (3, "t3"), (4, "s4"), (None, "snull"), (None, "tnull")}
    assert out.counts_df().first().asDict() == {
        "total": 5, "updated": 1, "inserted": 2, "kept": 2,
    }


def test_composite_keys(spark):
    target = spark.createDataFrame([Row(a=1, b="x", v=10), Row(a=1, b="y", v=20)])
    source = spark.createDataFrame([Row(a=1, b="y", v=99), Row(a=2, b="y", v=30)])
    out = merge(target, source, ["a", "b"]).df
    assert _rows(out) == {(1, "x", 10), (1, "y", 99), (2, "y", 30)}


def test_intra_batch_last_wins(spark):
    target = spark.createDataFrame([Row(k=1, v="t", ver=1)])
    source = spark.createDataFrame(
        [Row(k=1, v="old", ver=2), Row(k=1, v="new", ver=5), Row(k=2, v="a", ver=1)]
    )
    out = merge(target, source, ["k"], source_order_col="ver").df
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "new", 2: "a"}


def test_dedupe_last_wins_deterministic(spark):
    df = spark.createDataFrame([Row(k=1, v="a", ver=3), Row(k=1, v="b", ver=7)])
    kept = dedupe_last_wins(df, ["k"], "ver").collect()
    assert len(kept) == 1 and kept[0]["v"] == "b"


def test_insert_only(target, source):
    out = merge(target, source, ["k"], insert_only=True).df
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "t1", 2: "t2", 3: "t3", 4: "s4"}


def test_source_target_mismatch_raises(spark, target):
    bad = spark.createDataFrame([Row(k=1, other="x")])
    with pytest.raises(ValueError):
        merge(target, bad, ["k"])


def test_transactions_sync_variant_contract(spark):
    """The full mssql_to_postgres_sync contract: 4-column composite conflict
    target (TxCorrelationId, TenantId, TxGroupCorrelationId,
    TxRefCorrelationId) with the timestamp-guarded update
    ``target.UpdatedDateUtc IS NULL OR EXCLUDED.UpdatedDateUtc >
    target.UpdatedDateUtc`` (sync variant pyc; SURVEY.md S7/J2)."""
    keys = ["TxCorrelationId", "TenantId", "TxGroupCorrelationId", "TxRefCorrelationId"]
    cols = keys + ["UpdatedDateUtc", "TxBaseAmount"]
    t0 = dt.datetime(2025, 5, 1)
    target = spark.createDataFrame(
        [(100, 1, 7, 9, t0, 10.0), (100, 2, 7, 9, None, 20.0), (101, 1, 7, 9, t0, 30.0)],
        cols,
    )
    source = spark.createDataFrame(
        [
            (100, 1, 7, 9, dt.datetime(2025, 4, 1), 11.0),  # older -> keep 10.0
            (100, 2, 7, 9, dt.datetime(2025, 5, 2), 22.0),  # target NULL -> update
            (101, 1, 7, 9, dt.datetime(2025, 6, 1), 33.0),  # newer -> update
            (102, 1, 7, 9, dt.datetime(2025, 6, 1), 44.0),  # unmatched -> insert
        ],
        cols,
    )
    out = merge(
        target,
        source,
        keys,
        matched_condition=lambda s, t: t("UpdatedDateUtc").isNull()
        | (s("UpdatedDateUtc") > t("UpdatedDateUtc")),
        source_order_col="UpdatedDateUtc",
    ).df
    got = {(r["TxCorrelationId"], r["TenantId"]): r["TxBaseAmount"] for r in out.collect()}
    assert got == {(100, 1): 10.0, (100, 2): 22.0, (101, 1): 33.0, (102, 1): 44.0}
