"""TxnTable (sources/txn_table.py): ACID commit log over parquet.

Covers the guarantees the reference delegates to its target databases
(transaction + rollback, csv_to_mssqldb.py:447-466): atomic visibility,
optimistic concurrency, snapshot isolation / time travel, stats pruning,
compaction and vacuum."""

import datetime
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.sources import txn_table
from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import (
    ConcurrentWriteError,
    TxnTable,
    _version_path,
    snapshot,
)


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def _orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def _widening(spark, sf_dir, tdir, cols=("o_orderkey", "o_totalprice", "channel")):
    """A table whose v0 holds 10 (o_orderkey, o_totalprice) rows, and a
    5-row batch that adds ``channel``, its columns in ``cols`` order."""
    t = TxnTable(spark, tdir)
    t.append(_orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
             .orderBy("o_orderkey").limit(10))
    widened = (
        _orders(spark, sf_dir)
        .select("o_orderkey", "o_totalprice")
        .filter(F.col("o_orderkey") >= 1000)
        .orderBy("o_orderkey")
        .limit(5)
        .withColumn("channel", F.lit("web"))
        .select(*cols)
    )
    return t, widened


class TestCommitProtocol:
    def test_append_read_roundtrip(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        a = _orders(spark, sf_dir).filter(F.col("o_orderkey") % 2 == 0)
        b = _orders(spark, sf_dir).filter(F.col("o_orderkey") % 2 == 1)
        assert t.append(a) == 0
        assert t.append(b) == 1
        assert t.read().count() == _orders(spark, sf_dir).count()

    def test_overwrite_replaces(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir))
        small = _orders(spark, sf_dir).limit(10)
        t.overwrite(small)
        assert t.read().count() == 10

    def test_time_travel_and_history(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).limit(5))
        t.append(_orders(spark, sf_dir).limit(7))
        t.overwrite(_orders(spark, sf_dir).limit(3))
        assert t.read(version=0).count() == 5
        assert t.read(version=1).count() == 12
        assert t.read().count() == 3
        assert [h["op"] for h in t.history()] == ["append", "append", "overwrite"]

    def test_append_retries_past_conflict(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).limit(5))
        # another writer takes version 1 out from under us
        with open(_version_path(t.log, 1), "w") as f:
            json.dump({"version": 1, "op": "append", "actions": [], "schema": None,
                       "meta": {}}, f)
        v = t.append(_orders(spark, sf_dir).limit(5))
        assert v == 2 and t.read().count() == 10

    def test_read_modify_write_conflict_raises(self, spark, sf_dir, tdir):
        t1 = TxnTable(spark, tdir)
        t1.append(_orders(spark, sf_dir).limit(5))
        t2 = TxnTable(spark, tdir)
        snapshot_head = t2.version()
        t1.append(_orders(spark, sf_dir).limit(5))  # intervening commit
        live = snapshot(t2.path, snapshot_head).live
        actions = [{"remove": {"path": p}} for p in live]
        with pytest.raises(ConcurrentWriteError):
            t2._commit("overwrite", actions, snapshot_head + 1, None)


class TestMerge:
    def test_merge_upsert_semantics(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        base = _orders(spark, sf_dir).filter(F.col("o_orderkey") < 1000)
        t.append(base)
        src = (
            _orders(spark, sf_dir)
            .filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500))
            .withColumn("o_orderstatus", F.lit("U"))
        )
        t.merge(src, ["o_orderkey"])
        out = t.read()
        expected = base.filter(F.col("o_orderkey") < 500).count() + src.count()
        assert out.count() == expected
        assert out.filter(F.col("o_orderkey") >= 500).filter(
            F.col("o_orderstatus") != "U"
        ).count() == 0


class TestPruningCompactVacuum:
    def test_stats_pruning_skips_files(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        df = _orders(spark, sf_dir).repartition(8)
        t.append(df, cluster_by="o_orderkey")
        all_files = t.files()
        pruned = t.files(prune=("o_orderkey", 0, 10))
        assert len(pruned) < len(all_files)
        assert t.read(prune=("o_orderkey", 0, 10)).filter(
            F.col("o_orderkey") <= 10
        ).count() == df.filter(F.col("o_orderkey") <= 10).count()

    def test_compact_preserves_data_and_history(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).limit(20).repartition(4))
        t.append(_orders(spark, sf_dir).limit(40).repartition(4))
        n_before = t.read().count()
        files_before = len(t.files())
        t.compact()
        assert t.read().count() == n_before
        assert len(t.files()) < files_before
        assert t.read(version=1).count() == n_before  # time travel intact

    def test_vacuum_deletes_dead_files_only(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).limit(20))
        t.overwrite(_orders(spark, sf_dir).limit(5))
        deleted = t.vacuum(retain_versions=0)
        assert deleted  # version-0 files are dead at head
        assert t.read().count() == 5
        for f in t.files():
            assert os.path.exists(os.path.join(t.path, f.path))

    def test_checkpoint_used_for_snapshot(self, spark, sf_dir, tdir, monkeypatch):
        monkeypatch.setattr(txn_table, "CHECKPOINT_INTERVAL", 3)
        t = TxnTable(spark, tdir)
        for i in range(5):
            t.append(_orders(spark, sf_dir).limit(2))
        assert os.path.exists(_version_path(t.log, 3, checkpoint=True))
        assert t.read().count() == 10
        assert t.read(version=2).count() == 6


class TestChanges:
    def test_cdc_insert_update_delete(self, spark, sf_dir, tdir):
        from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import table_changes

        t = TxnTable(spark, tdir)
        base = _orders(spark, sf_dir).filter(F.col("o_orderkey") < 100)
        t.append(base)  # v0
        src = (
            _orders(spark, sf_dir)
            .filter((F.col("o_orderkey") >= 50) & (F.col("o_orderkey") < 150))
            .withColumn("o_orderstatus", F.lit("U"))
        )
        t.merge(src, ["o_orderkey"])  # v1: updates 50-99, inserts 100-149
        t.overwrite(t.read().filter(F.col("o_orderkey") >= 25))  # v2: deletes < 25
        c01 = table_changes(t, 0, 1, ["o_orderkey"])
        by_type = {r["_change_type"]: r["n"] for r in
                   c01.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
        n_upd = base.filter((F.col("o_orderkey") >= 50) & (F.col("o_orderstatus") != "U")).count()
        assert by_type.get("insert", 0) == src.filter(F.col("o_orderkey") >= 100).count()
        assert by_type.get("update_postimage", 0) == n_upd
        assert "delete" not in by_type
        c12 = table_changes(t, 1, 2, ["o_orderkey"])
        assert {r["_change_type"] for r in c12.select("_change_type").distinct().collect()} == {"delete"}
        assert c12.count() == 25

    def test_cdc_preimage_rows(self, spark, sf_dir, tdir):
        from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import table_changes

        t = TxnTable(spark, tdir)
        base = _orders(spark, sf_dir).filter(F.col("o_orderkey") < 50)
        t.append(base)
        t.merge(base.withColumn("o_orderstatus", F.lit("U")), ["o_orderkey"])
        ch = table_changes(t, 0, 1, ["o_orderkey"], include_preimage=True)
        n_changed = base.filter(F.col("o_orderstatus") != "U").count()
        pre = ch.filter(F.col("_change_type") == "update_preimage")
        post = ch.filter(F.col("_change_type") == "update_postimage")
        assert pre.count() == n_changed and post.count() == n_changed
        # pre-images carry the OLD values, post-images the new
        assert pre.filter(F.col("o_orderstatus") == "U").count() == 0
        assert post.filter(F.col("o_orderstatus") != "U").count() == 0


class TestFileGranularMerge:
    def test_merge_rewrites_only_overlapping_files(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        df = _orders(spark, sf_dir).repartition(8)
        t.append(df, cluster_by="o_orderkey")
        files_before = {f.path for f in t.files()}
        lo = df.agg(F.min("o_orderkey")).first()[0]
        src = (
            df.filter(F.col("o_orderkey").between(lo, lo + 30))
            .withColumn("o_orderstatus", F.lit("U"))
        )
        t.merge(src, ["o_orderkey"], cluster_by="o_orderkey", prune_col="o_orderkey")
        files_after = {f.path for f in t.files()}
        kept = files_before & files_after
        # most files survive byte-identical (still referenced, never rewritten)
        assert kept, "no files kept — merge rewrote everything"
        assert files_before - files_after, "no files rewritten"
        meta = t.history()[-1]["meta"]
        assert meta["files_kept"] == len(kept)
        # and the merged state is correct: updates applied, row count unchanged
        out = t.read()
        assert out.count() == df.count()
        assert out.filter(F.col("o_orderkey").between(lo, lo + 30)).filter(
            F.col("o_orderstatus") != "U"
        ).count() == 0

    def test_pruned_merge_into_untouched_range_inserts(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        base = _orders(spark, sf_dir).filter(F.col("o_orderkey") < 500).repartition(4)
        t.append(base, cluster_by="o_orderkey")
        newrows = _orders(spark, sf_dir).filter(
            (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1100)
        )
        t.merge(newrows, ["o_orderkey"], prune_col="o_orderkey")
        assert t.read().count() == base.count() + newrows.count()

    @staticmethod
    def _null_ts_table(spark, tdir):
        """41 rows clustered on a DATE ``ts`` into 4 files: keys 1-40 on
        2025-03-(1 + k % 10), key 99 with a NULL ``ts``."""
        rows = [(k, datetime.date(2025, 3, 1 + k % 10), "old") for k in range(1, 41)]
        df = spark.createDataFrame(rows + [(99, None, "old")], "k long, ts date, v string")
        t = TxnTable(spark, tdir)
        t.append(df.repartition(4), cluster_by="ts")
        return t

    def test_pruned_merge_matches_null_prune_values(self, spark, tdir):
        """A NULL ``prune_col`` value in the batch matches its key in a file
        whose zone map counts NULLs, outside the batch's non-NULL range."""
        t = self._null_ts_table(spark, tdir)
        n_files = len(t.files())
        src = spark.createDataFrame(
            [(99, None, "new"), (9, datetime.date(2025, 3, 10), "new")],
            "k long, ts date, v string")
        t.merge(src, ["k"], prune_col="ts")
        out = t.read()
        assert out.count() == 41
        assert out.filter(F.col("k") == 99).count() == 1
        assert {r["k"] for r in out.filter(F.col("v") == "new").collect()} == {9, 99}
        meta = t.history()[-1]["meta"]
        assert meta["files_kept"] > 0
        assert meta["files_kept"] + meta["files_rewritten"] == n_files

    def test_pruned_merge_of_empty_batch_commits_nothing(self, spark, tdir):
        t = self._null_ts_table(spark, tdir)
        v, files = t.version(), {f.path for f in t.files()}
        empty = t.read().limit(0)
        assert t.merge(empty, ["k"], prune_col="ts") == v
        assert t.version() == v
        assert {f.path for f in t.files()} == files

    def test_unpruned_merge_of_empty_batch_commits_nothing(self, spark, tdir):
        t = self._null_ts_table(spark, tdir)
        v, files = t.version(), {f.path for f in t.files()}
        assert t.merge(t.read().limit(0), ["k"]) == v
        assert t.version() == v
        assert {f.path for f in t.files()} == files

    def test_zone_maps_need_no_setting(self, spark, sf_dir, tdir):
        """Any handle indexes what it writes: a table appended through one
        plain handle prunes a merge run through another."""
        orders = _orders(spark, sf_dir).withColumn("order_date", F.to_date("o_orderdate"))
        TxnTable(spark, tdir).append(orders.repartition(8), cluster_by="order_date")
        t = TxnTable(spark, tdir)
        n_files = len(t.files())
        day = orders.agg(F.min("order_date")).first()[0]
        batch = orders.filter(F.col("order_date") == day).withColumn(
            "o_orderstatus", F.lit("U"))
        t.merge(batch, ["o_orderkey"], prune_col="order_date")
        meta = t.history()[-1]["meta"]
        assert meta["files_kept"] > 0
        assert meta["files_kept"] + meta["files_rewritten"] == n_files
        out = t.read()
        assert out.count() == orders.count()
        assert out.filter(F.col("o_orderstatus") == "U").count() == batch.count()

    def test_zone_maps_skip_unorderable_types(self, spark, tdir):
        """Decimals, strings, booleans and arrays get no zone map, so a
        prune on one of them can rule out no file."""
        df = spark.range(0, 400, numPartitions=4).select(
            F.col("id").alias("k"),
            (F.col("id") / 4).cast("decimal(10,4)").alias("amount"),
            F.col("id").cast("string").alias("label"),
            (F.col("id") % 2 == 0).alias("flag"),
            F.array(F.col("id")).alias("ids"),
        )
        t = TxnTable(spark, tdir)
        t.append(df, cluster_by="k")
        fs = t.files()
        assert len(fs) > 1
        assert all(set(f.stats) == {"k"} for f in fs)
        assert len(t.files(prune=("amount", "0", "1"))) == len(fs)
        assert len(t.files(prune=("k", 0, 1))) < len(fs)


class TestReadsRunNoJob:
    """Reads take their schema from the log: building one runs no Spark job
    (no footer schema inference), at the head or at any version."""

    @staticmethod
    def _assert_reads_run_no_job(spark, t):
        sc = spark.sparkContext
        for v in [None, *range(t.version() + 1)]:
            group = f"read-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                t.read(version=v)
            finally:
                sc.setJobGroup(None, None)
            assert sc.statusTracker().getJobIdsForGroup(group) == [], f"version={v}"

    def test_schema_widened_table(self, spark, sf_dir, tdir):
        t, widened = _widening(spark, sf_dir, tdir)
        t.append(widened, merge_schema=True)
        self._assert_reads_run_no_job(spark, t)


class TestSchemaEvolution:
    def test_merge_schema_widens_and_backfills_null(self, spark, sf_dir, tmp_path):
        # the widening batch may list the old columns in another physical
        # order: reads return the logged order, NULL for pre-evolution rows
        for cols in [("o_orderkey", "o_totalprice", "channel"),
                     ("channel", "o_totalprice", "o_orderkey")]:
            t, widened = _widening(spark, sf_dir, str(tmp_path / "_".join(cols)), cols)
            with pytest.raises(ValueError, match="merge_schema"):
                t.append(widened)
            t.append(widened, merge_schema=True)
            out = t.read()
            assert out.columns == list(cols)
            assert out.count() == 15
            assert out.filter(F.col("channel").isNull()).count() == 10
            want = {(k, p, None) for k, p in t.read(version=0).collect()}
            want |= {(r["o_orderkey"], r["o_totalprice"], "web") for r in widened.collect()}
            assert {tuple(r) for r in out.select(
                "o_orderkey", "o_totalprice", "channel").collect()} == want
            # time travel sees the OLD schema
            assert t.read(version=0).columns == ["o_orderkey", "o_totalprice"]

    def test_column_removal_always_rejected(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).select("o_orderkey", "o_totalprice").limit(5))
        with pytest.raises(ValueError, match="removes"):
            t.append(_orders(spark, sf_dir).select("o_orderkey").limit(5),
                     merge_schema=True)


class TestMetadataViews:
    def test_files_df_and_history_df(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        orders = _orders(spark, sf_dir).limit(100)
        t.append(orders)
        t.merge(orders.limit(5).withColumn("o_totalprice", F.lit(0.0)), ["o_orderkey"])
        fdf = t.files_df()
        assert fdf.agg(F.sum("rows")).first()[0] == 100
        assert fdf.filter(F.col("stats").contains("o_orderkey")).count() == fdf.count()
        hdf = t.history_df()
        assert [r["op"] for r in hdf.orderBy("version").collect()] == ["append", "merge"]
        # time travel on the manifest too
        assert t.files_df(version=0).count() >= 1

    def test_compact_by_target_size_uses_manifest_bytes(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        for i in range(4):
            t.append(_orders(spark, sf_dir).limit(200))
        live_bytes = sum(
            os.path.getsize(os.path.join(t.path, f.path)) for f in t.files()
        )
        # tiny target -> several output files; huge target -> one file
        t.compact(target_mb=max(1, live_bytes // (1024 * 1024)) if live_bytes > 2**20 else 1)
        assert t.read().count() == 800
        t.compact(target_mb=10_000)
        assert len(t.files()) == 1
        assert t.read().count() == 800

    def test_specs_survive_log_checkpoint(self, spark, sf_dir, tdir, monkeypatch):
        """CHECK constraints live in commit props; snapshot replay that
        starts from a checkpoint must still see and enforce them."""
        from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import (
            ConstraintViolation,
        )
        monkeypatch.setattr(txn_table, "CHECKPOINT_INTERVAL", 5)
        t = TxnTable(spark, tdir)
        orders = _orders(spark, sf_dir).limit(40)
        t.append(orders)
        t.set_check("price_pos", "o_totalprice > 0")
        for _ in range(7):  # crosses the interval-5 checkpoint
            t.append(orders.limit(5))
        assert os.path.exists(_version_path(t.log, 5, checkpoint=True))
        assert t.checks() == {"price_pos": "o_totalprice > 0"}
        assert t.read().count() == 40 + 35
        v = t.version()
        with pytest.raises(ConstraintViolation, match="price_pos"):
            t.append(orders.limit(5).withColumn("o_totalprice", F.lit(-1.0)))
        assert t.version() == v


class TestTimestampTravel:
    def test_read_as_of_timestamp(self, spark, sf_dir, tdir):
        import time

        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).limit(5))
        t1 = time.time()
        time.sleep(0.02)
        t.append(_orders(spark, sf_dir).limit(7))
        t2 = time.time()
        assert t.version_at(t1) == 0
        assert t.version_at(t2) == 1
        assert t.read_as_of(t1).count() == 5
        assert t.read_as_of(t2).count() == 12
        with pytest.raises(ValueError):
            t.read_as_of(t1 - 3600)


class TestDelete:
    def test_delete_is_file_granular_and_time_travels(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        orders = _orders(spark, sf_dir).limit(1000)
        # cluster so the delete range concentrates in few files
        t.append(orders, cluster_by="o_orderkey")
        n_files = len(t.files())
        keys = [r[0] for r in orders.orderBy("o_orderkey").limit(5).collect()]
        v = t.delete(F.col("o_orderkey").isin(keys))
        meta = t.history()[-1]["meta"]
        assert meta["files_rewritten"] < n_files and meta["files_kept"] > 0
        assert t.read().count() == 1000 - 5
        assert t.read().filter(F.col("o_orderkey").isin(keys)).count() == 0
        # time travel still sees the deleted rows
        assert t.read(version=v - 1).count() == 1000
        # physical erasure at vacuum
        deleted = t.vacuum()
        assert len(deleted) > 0

    def test_delete_no_match_is_noop(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).limit(50))
        v = t.version()
        assert t.delete(F.col("o_orderkey") < 0) == v
        assert t.version() == v

class TestUpdate:
    def test_update_is_file_granular_and_type_stable(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        orders = _orders(spark, sf_dir).limit(1000)
        t.append(orders, cluster_by="o_orderkey")
        n_files = len(t.files())
        keys = [r[0] for r in orders.orderBy("o_orderkey").limit(5).collect()]
        t.update(F.col("o_orderkey").isin(keys),
                 {"o_orderpriority": F.lit("REDACTED"), "o_totalprice": 0})
        meta = t.history()[-1]["meta"]
        assert meta["files_rewritten"] < n_files and meta["files_kept"] > 0
        got = t.read()
        assert got.count() == 1000  # UPDATE never changes cardinality
        hit = got.filter(F.col("o_orderkey").isin(keys))
        assert hit.filter((F.col("o_orderpriority") == "REDACTED")
                          & (F.col("o_totalprice") == 0)).count() == 5
        # untouched rows keep their values, schema is invariant
        assert got.filter(F.col("o_orderpriority") == "REDACTED").count() == 5
        assert dict(got.dtypes) == dict(orders.dtypes)

    def test_update_unknown_column_raises(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).limit(10))
        with pytest.raises(ValueError, match="unknown columns"):
            t.update(F.lit(True), {"nope": 1})

    def test_update_no_match_is_noop(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).limit(50))
        v = t.version()
        assert t.update(F.col("o_orderkey") < 0, {"o_orderpriority": "x"}) == v


class TestRestore:
    def test_restore_is_metadata_only_and_travelable(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        orders = _orders(spark, sf_dir)
        t.append(orders.limit(100))            # v0
        t.append(orders.limit(150).subtract(orders.limit(100)))  # v1
        t.delete(F.lit(True))                  # v2: empty table
        assert t.read().count() == 0
        n_data_files = len(t.files(version=1))
        v = t.restore(1)                       # v3
        assert t.read().count() == 150
        # pure metadata: restored snapshot reuses v1's physical files
        assert {f.path for f in t.files()} == {f.path for f in t.files(version=1)}
        assert len(t.files()) == n_data_files
        # the restore is itself a commit: travel back to the empty state
        assert t.read(version=v - 1).count() == 0
        # restoring a restore works
        t.restore(2)
        assert t.read().count() == 0

    def test_restore_after_vacuum_raises(self, spark, sf_dir, tdir):
        t = TxnTable(spark, tdir)
        orders = _orders(spark, sf_dir)
        t.append(orders.limit(100))   # v0
        t.overwrite(orders.limit(20)) # v1 orphans v0's files
        t.vacuum()
        with pytest.raises(ValueError, match="vacuumed"):
            t.restore(0)


class TestCheckConstraints:
    def test_check_blocks_bad_append_atomically(self, spark, sf_dir, tdir):
        from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import (
            ConstraintViolation,
        )
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).limit(100))
        t.set_check("price_pos", "o_totalprice > 0")
        assert t.checks() == {"price_pos": "o_totalprice > 0"}
        v = t.version()
        bad = _orders(spark, sf_dir).limit(10).withColumn(
            "o_totalprice", F.lit(-1.0))
        with pytest.raises(ConstraintViolation, match="price_pos"):
            t.append(bad)
        # nothing committed, nothing visible
        assert t.version() == v
        assert t.read().filter(F.col("o_totalprice") < 0).count() == 0
        # good data still lands; NULL predicate passes (standard SQL CHECK)
        t.append(_orders(spark, sf_dir).limit(10).withColumn(
            "o_totalprice", F.lit(None).cast("double")))
        assert t.read().count() == 110

    def test_set_check_validates_existing_data(self, spark, sf_dir, tdir):
        from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import (
            ConstraintViolation,
        )
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).limit(100))
        with pytest.raises(ConstraintViolation):
            t.set_check("impossible", "o_orderkey < 0")
        assert t.checks() == {}

    def test_check_enforced_on_update_and_merge_and_droppable(
            self, spark, sf_dir, tdir):
        from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import (
            ConstraintViolation,
        )
        t = TxnTable(spark, tdir)
        t.append(_orders(spark, sf_dir).limit(100))
        t.set_check("price_pos", "o_totalprice > 0")
        with pytest.raises(ConstraintViolation):
            t.update(F.col("o_orderkey") >= 0, {"o_totalprice": -5.0})
        src = _orders(spark, sf_dir).limit(5).withColumn(
            "o_totalprice", F.lit(-2.0))
        with pytest.raises(ConstraintViolation):
            t.merge(src, ["o_orderkey"])
        t.drop_check("price_pos")
        t.merge(src, ["o_orderkey"])  # now allowed
        assert t.read().filter(F.col("o_totalprice") == -2.0).count() == 5
