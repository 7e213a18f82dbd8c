"""Sink tests: the date-clustered layout of an owned table (a TxnTable),
with zone-map pruning verification — the storage half of the 100 TB
design: a daily merge rewrites ONE day's files, and a daily read scans ONE
day's files. Every write here is a TxnTable commit, so no write reads the
path it replaces.
"""

import pytest
from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.sources.fake_data import fake_orders
from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "t")


def _dated_orders(spark, n):
    return (
        fake_orders(spark, n)
        .filter(F.col("OrderCreatedAt").isNotNull())
        .withColumn("order_date", F.to_date("OrderCreatedAt"))
    )


def _busiest_day(src):
    return (src.groupBy("order_date").count()
            .orderBy(F.desc("count"), "order_date").first()["order_date"])


def _files_of_other_days(t, day):
    # zone-map dates are logged as ISO strings, which order as dates do
    day = str(day)
    return {f.path for f in t.files()
            if f.stats["order_date"]["max"] < day or f.stats["order_date"]["min"] > day}


def test_partitioned_write_prunes_on_read(spark, tdir):
    src = _dated_orders(spark, 1000)
    t = TxnTable(spark, tdir)
    t.append(src, cluster_by="order_date")
    assert t.read().count() == src.count()

    some_date = str(src.select("order_date").first()["order_date"])
    day = ("order_date", some_date, some_date)
    # the date predicate prunes by zone map -> only files holding that day
    pruned = t.files(prune=day)
    assert 0 < len(pruned) < len(t.files())
    assert all(f.stats["order_date"]["min"] <= some_date <= f.stats["order_date"]["max"]
               for f in pruned)
    # whole files are read: the day's rows all come back, with fewer others
    # than a full scan
    back = t.read(prune=day)
    assert back.count() < src.count()
    assert back.filter(F.col("order_date") == F.lit(some_date)).count() == src.filter(
        F.col("order_date") == F.lit(some_date)
    ).count()


def test_dynamic_partition_overwrite_touches_only_batch_partitions(spark, tdir):
    src = _dated_orders(spark, 500)
    t = TxnTable(spark, tdir)
    t.append(src, cluster_by="order_date")
    total = src.count()

    # rewrite ONE day with modified amounts; all other days' files untouched
    some_date = _busiest_day(src)
    orig_day = src.filter(F.col("order_date") == F.lit(some_date))
    one_day = orig_day.withColumn(
        "Amount", (F.col("Amount") + 1).cast("decimal(18,4)")
    )
    others = _files_of_other_days(t, some_date)
    t.merge(one_day, ["OrderID"], prune_col="order_date")

    assert others and others <= {f.path for f in t.files()}
    back = t.read()
    assert back.count() == total  # only the day's files were replaced
    changed = back.filter(F.col("order_date") == F.lit(some_date))
    assert float(changed.agg(F.sum("Amount")).first()[0]) == pytest.approx(
        float(orig_day.agg(F.sum("Amount")).first()[0]) + orig_day.count()
    )


def test_merge_into_partitioned_parquet_touches_only_batch_partitions(spark, tdir):
    """A daily delta merged with ``prune_col`` on the clustering column
    rewrites only that day's files: every other day's files stay live by
    path, the day's rows all update and its inserts land."""
    src = _dated_orders(spark, 800)
    t = TxnTable(spark, tdir)
    t.append(src, cluster_by="order_date")
    total = src.count()

    # delta: updates + inserts confined to ONE day
    some_date = _busiest_day(src)
    day = src.filter(F.col("order_date") == F.lit(some_date))
    marked = day.withColumn("Product", F.lit("UPDATED"))
    inserts = marked.withColumn("OrderID", F.col("OrderID") + 1_000_000)
    others = _files_of_other_days(t, some_date)

    t.merge(marked.unionByName(inserts), ["OrderID"], prune_col="order_date")
    assert others and others <= {f.path for f in t.files()}
    assert t.history()[-1]["meta"]["files_kept"] == len(others)
    back = t.read()
    assert back.count() == total + day.count()  # inserts landed
    changed = back.filter(F.col("order_date") == F.lit(some_date))
    assert changed.count() == 2 * day.count()
    assert changed.filter(F.col("Product") != "UPDATED").count() == 0


def test_snapshot_overwrite_replaces_state(spark, tdir):
    t = TxnTable(spark, tdir)
    t.overwrite(fake_orders(spark, 100))
    t.overwrite(fake_orders(spark, 50))
    assert t.read().count() == 50
    assert t.read(version=0).count() == 100
