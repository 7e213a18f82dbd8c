"""Streaming CDC source (streaming/cdc_source.py): a Spark 4 Python Data
Source that tails a TxnTable commit log and emits signed row deltas, plus
the foreachBatch rollup maintainer (incremental view maintenance).

The invariant under test everywhere: maintained state == full recompute from
the table head, after any sequence of append/merge/overwrite commits."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable
from etl_mssql_to_postgres_dailysync_spark.streaming.cdc_source import (
    TxnTableCdcDataSource,
    rollup_maintainer,
)


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path)


def _orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )


def _register(spark):
    spark.dataSource.register(TxnTableCdcDataSource)


def _run_stream(spark, table_path, state_path, ckpt):
    fb = rollup_maintainer(
        spark, state_path, ["day"],
        {"revenue_cents": "CAST(round(o_totalprice * 100) AS BIGINT)"},
    )
    s = (
        spark.readStream.format("txntable_cdc").option("path", table_path).load()
        .withColumn("day", F.to_date("o_orderdate").cast("string"))
    )
    q = (
        s.writeStream.foreachBatch(fb)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _recompute(t):
    return t.read().groupBy(F.to_date("o_orderdate").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("revenue_cents"),
    )


def _assert_state_matches(spark, state_path, t):
    got = spark.read.parquet(state_path)
    exp = _recompute(t)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


class TestCdcSource:
    def test_batch_source_emits_signed_rows(self, spark, sf_dir, base):
        _register(spark)
        t = TxnTable(spark, f"{base}/tbl")
        t.append(_orders(spark, sf_dir).limit(20))
        t.merge(
            _orders(spark, sf_dir).limit(5).withColumn("o_totalprice", F.lit(1.0)),
            ["o_orderkey"],
        )
        s = (
            spark.readStream.format("txntable_cdc").option("path", f"{base}/tbl").load()
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.read.parquet(f"{base}/out")
        assert set(out.columns) >= {"o_orderkey", "_sign", "_version"}
        # v0 adds 20 rows; v1 retracts the old 20 and adds the merged 20
        assert out.filter("_version = 0").count() == 20
        assert out.filter("_version = 1 AND _sign = -1").count() == 20
        assert out.filter("_version = 1 AND _sign = 1").count() == 20
        # net signed count == live row count
        assert out.agg(F.sum("_sign")).first()[0] == 20

    def test_maintained_rollup_equals_recompute_after_merge(self, spark, sf_dir, base):
        _register(spark)
        t = TxnTable(spark, f"{base}/tbl")
        orders = _orders(spark, sf_dir)
        t.append(orders.filter(F.to_date("o_orderdate").between("1995-03-01", "1995-03-31")))
        _run_stream(spark, f"{base}/tbl", f"{base}/state", f"{base}/ck")
        _assert_state_matches(spark, f"{base}/state", t)

        delta = orders.filter(F.to_date("o_orderdate") == "1995-03-15").withColumn(
            "o_totalprice", F.col("o_totalprice") + 10.0
        ).unionByName(
            orders.filter(F.to_date("o_orderdate").between("1995-04-01", "1995-04-03"))
        )
        t.merge(delta, ["o_orderkey"])
        _run_stream(spark, f"{base}/tbl", f"{base}/state", f"{base}/ck")
        _assert_state_matches(spark, f"{base}/state", t)

    def test_checkpoint_exactly_once_no_new_commits(self, spark, sf_dir, base):
        """Re-running the stream with no new commits must not double-count."""
        _register(spark)
        t = TxnTable(spark, f"{base}/tbl")
        t.append(_orders(spark, sf_dir).limit(50))
        for _ in range(3):
            _run_stream(spark, f"{base}/tbl", f"{base}/state", f"{base}/ck")
        _assert_state_matches(spark, f"{base}/state", t)

    def test_overwrite_retracts_previous_state(self, spark, sf_dir, base):
        _register(spark)
        t = TxnTable(spark, f"{base}/tbl")
        orders = _orders(spark, sf_dir)
        t.append(orders.limit(100))
        _run_stream(spark, f"{base}/tbl", f"{base}/state", f"{base}/ck")
        t.overwrite(orders.limit(7))
        _run_stream(spark, f"{base}/tbl", f"{base}/state", f"{base}/ck")
        _assert_state_matches(spark, f"{base}/state", t)
        assert spark.read.parquet(f"{base}/state").agg(F.sum("n_rows")).first()[0] == 7

    def test_partitioned_table_cdc_reconstructs_partition_column(self, spark, sf_dir, base):
        """The grouping column the rollup keys on is read from the files
        themselves: no group of the maintained state is NULL."""
        _register(spark)
        t = TxnTable(spark, f"{base}/tbl")
        orders = _orders(spark, sf_dir).withColumn(
            "day", F.to_date("o_orderdate").cast("string")
        ).limit(60)
        t.append(orders)
        fb = rollup_maintainer(
            spark, f"{base}/state", ["day"],
            {"revenue_cents": "CAST(round(o_totalprice * 100) AS BIGINT)"},
        )
        s = spark.readStream.format("txntable_cdc").option("path", f"{base}/tbl").load()
        q = (
            s.writeStream.foreachBatch(fb)
            .option("checkpointLocation", f"{base}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.read.parquet(f"{base}/state")
        assert got.filter(F.col("day").isNull()).count() == 0
        _assert_state_matches(spark, f"{base}/state", t)

    def test_schema_widened_table_reads_null_for_older_files(self, spark, sf_dir, base):
        """Files written before a column was added stream NULL in it, and
        the rollup over both schemas equals the recompute from the head."""
        _register(spark)
        t = TxnTable(spark, f"{base}/tbl")
        orders = _orders(spark, sf_dir).orderBy("o_orderkey")
        t.append(orders.filter(F.col("o_orderkey") % 2 == 0).limit(30))
        t.append(orders.filter(F.col("o_orderkey") % 2 == 1).limit(20)
                 .withColumn("channel", F.lit("web")), merge_schema=True)
        web = "CASE WHEN channel = 'web' THEN 1 ELSE 0 END"
        maintain = rollup_maintainer(
            spark, f"{base}/state", ["day"],
            {"revenue_cents": "CAST(round(o_totalprice * 100) AS BIGINT)",
             "n_web": web},
        )

        def fb(batch, batch_id):
            batch.write.mode("append").parquet(f"{base}/rows")
            maintain(batch, batch_id)

        s = (
            spark.readStream.format("txntable_cdc").option("path", f"{base}/tbl").load()
            .withColumn("day", F.to_date("o_orderdate").cast("string"))
        )
        (s.writeStream.foreachBatch(fb).option("checkpointLocation", f"{base}/ck")
         .trigger(availableNow=True).start().awaitTermination())
        rows = spark.read.parquet(f"{base}/rows")
        assert rows.filter("_version = 0").count() == 30
        assert rows.filter("_version = 0 AND channel IS NOT NULL").count() == 0
        assert rows.filter("_version = 1 AND channel = 'web'").count() == 20
        got = spark.read.parquet(f"{base}/state")
        exp = _recompute(t).join(
            t.read().groupBy(F.to_date("o_orderdate").cast("string").alias("day"))
            .agg(F.sum(F.expr(web)).alias("n_web")), "day")
        assert got.exceptAll(exp.select(*got.columns)).count() == 0
        assert exp.select(*got.columns).exceptAll(got).count() == 0


class TestStreamingDedupIndex:
    """Incremental maintenance of the MinHash-LSH dedup index from the CDC
    stream: the maintained (doc, band, band_hash) index must always equal a
    batch recompute over the table head — across appends, text-changing
    merges (old band rows retracted, new ones added), and deletes."""

    @staticmethod
    def _docs(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )

    @staticmethod
    def _run_index_stream(spark, table_path, state_path, ckpt):
        from etl_mssql_to_postgres_dailysync_spark.functions import dedup

        fb = rollup_maintainer(spark, state_path, ["doc", "band", "band_hash"], {})
        s = spark.readStream.format("txntable_cdc").option("path", table_path).load()
        bands = dedup.lsh_band_rows(s, "text", "doc_id", extra_cols=("_sign",))
        q = (
            bands.writeStream.foreachBatch(fb)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    @staticmethod
    def _assert_index_matches(spark, state_path, t):
        from etl_mssql_to_postgres_dailysync_spark.functions import dedup

        got = {
            (r["doc"], r["band"], r["band_hash"])
            for r in spark.read.parquet(state_path).filter(F.col("n_rows") > 0).collect()
        }
        want = {
            (r["doc"], r["band"], r["band_hash"])
            for r in dedup.lsh_band_rows(t.read(), "text", "doc_id").collect()
        }
        assert got == want

    def test_index_tracks_appends_updates_and_deletes(self, spark, sf_dir, base):
        _register(spark)
        docs = self._docs(spark, sf_dir)
        t = TxnTable(spark, f"{base}/docs")
        t.append(docs.filter(F.col("doc_id") % 2 == 0).limit(60))
        self._run_index_stream(spark, f"{base}/docs", f"{base}/idx", f"{base}/ck")
        self._assert_index_matches(spark, f"{base}/idx", t)

        # text-changing merge: old band rows must retract, new ones appear
        upd = docs.filter(F.col("doc_id") % 2 == 0).limit(10).withColumn(
            "text", F.concat(F.col("text"), F.lit(" appended edit tokens"))
        )
        new = docs.filter(F.col("doc_id") % 2 == 1).limit(20)
        t.merge(upd.unionByName(new), ["doc_id"])
        self._run_index_stream(spark, f"{base}/docs", f"{base}/idx", f"{base}/ck")
        self._assert_index_matches(spark, f"{base}/idx", t)

        # delete: band rows of deleted docs must leave the index
        t.delete(F.col("doc_id") % 10 == 0)
        self._run_index_stream(spark, f"{base}/docs", f"{base}/idx", f"{base}/ck")
        self._assert_index_matches(spark, f"{base}/idx", t)


class TestIncrementalIngestPipeline:
    """The daily ingest story end to end: a new batch is probed against the
    standing corpus's LSH band index, near-dups are quarantined, only clean
    documents are committed — and the CDC-maintained index picks the new
    commit up, staying equal to a batch recompute. No corpus self-join, no
    index rebuild anywhere."""

    def test_probe_filter_append_maintain(self, spark, sf_dir, base):
        from etl_mssql_to_postgres_dailysync_spark.functions import dedup

        _register(spark)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
        corpus = docs.filter(F.col("doc_id") % 3 != 0).limit(90)
        t = TxnTable(spark, f"{base}/corpus")
        t.append(corpus)
        TestStreamingDedupIndex._run_index_stream(
            spark, f"{base}/corpus", f"{base}/idx", f"{base}/ck"
        )

        # incoming batch: 5 exact copies of corpus docs (new ids) + fresh docs
        copies = corpus.limit(5).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        fresh = docs.filter(F.col("doc_id") % 3 == 0).limit(10)
        batch = copies.unionByName(fresh)

        flagged = dedup.incremental_lsh_dedup(t.read(), batch, "text", "doc_id")
        flagged_ids = {r["doc_id"] for r in flagged.collect()}
        assert {r["doc_id"] for r in copies.collect()} <= flagged_ids

        clean = batch.join(flagged.select("doc_id"), ["doc_id"], "left_anti")
        t.append(clean)
        TestStreamingDedupIndex._run_index_stream(
            spark, f"{base}/corpus", f"{base}/idx", f"{base}/ck"
        )
        TestStreamingDedupIndex._assert_index_matches(spark, f"{base}/idx", t)

        landed = {r["doc_id"] for r in t.read().select("doc_id").collect()}
        assert not any(i >= 1_000_000 for i in landed), "exact copies must not land"
        clean_fresh = {r["doc_id"] for r in clean.collect()}
        assert clean_fresh <= landed and len(clean_fresh) > 0


class TestStreamingVectorIndex:
    """Incremental IVF assignment maintenance from the CDC stream: with a
    fixed trained centroid set, the maintained (vec_id, cell_id) index must
    equal a batch re-assignment of the table head after appends, embedding
    updates (re-assignment moves cells), and deletes."""

    def test_ivf_assignments_track_table(self, spark, sf_dir, base):
        from etl_mssql_to_postgres_dailysync_spark.functions import similarity

        _register(spark)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        cent = similarity.kmeans_fit_list(emb, k=8, iters=2)
        udf = similarity._cells_udf(cent, 1)

        t = TxnTable(spark, f"{base}/emb")
        t.append(emb.filter(F.col("vec_id") % 2 == 0))

        def run():
            fb = rollup_maintainer(spark, f"{base}/idx", ["vec_id", "cell_id"], {})
            s = spark.readStream.format("txntable_cdc").option("path", f"{base}/emb").load()
            assigned = s.select(
                "vec_id", "_sign",
                F.element_at(
                    udf(similarity.quantize_vec(F.col("embedding"))), 1
                ).alias("cell_id"),
            )
            q = (
                assigned.writeStream.foreachBatch(fb)
                .option("checkpointLocation", f"{base}/ck")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        def assert_matches():
            got = {
                (r["vec_id"], r["cell_id"])
                for r in spark.read.parquet(f"{base}/idx")
                .filter(F.col("n_rows") > 0)
                .collect()
            }
            want = {
                (r["vec_id"], r["cell_id"])
                for r in t.read()
                .select(
                    "vec_id",
                    F.element_at(
                        udf(similarity.quantize_vec(F.col("embedding"))), 1
                    ).alias("cell_id"),
                )
                .collect()
            }
            assert got == want

        run()
        assert_matches()

        # update: negate some embeddings (moves their cell), add odd vec_ids
        upd = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
            "embedding", F.transform("embedding", lambda x: -x)
        )
        t.merge(upd.unionByName(emb.filter(F.col("vec_id") % 2 == 1).limit(50)), ["vec_id"])
        run()
        assert_matches()

        t.delete(F.col("vec_id") % 7 == 0)
        run()
        assert_matches()


class TestAlertingListener:
    def test_progress_and_failure_alerts(self, spark, sf_dir, base):
        import time

        from etl_mssql_to_postgres_dailysync_spark.streaming.alerts import (
            AlertingListener,
        )

        _register(spark)
        t = TxnTable(spark, f"{base}/tbl")
        t.append(_orders(spark, sf_dir).limit(50))
        listener = AlertingListener()
        spark.streams.addListener(listener)
        try:
            s = (
                spark.readStream.format("txntable_cdc")
                .option("path", f"{base}/tbl").load()
            )
            q = (
                s.writeStream.format("noop")
                .option("checkpointLocation", f"{base}/ck")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            deadline = time.time() + 20
            while not listener.progress and time.time() < deadline:
                time.sleep(0.5)  # listener bus is async
            assert any(p["numInputRows"] > 0 for p in listener.progress)

            # a failing query must surface a "failure" alert
            def boom(batch, _):
                raise RuntimeError("sink exploded")

            s2 = (
                spark.readStream.format("txntable_cdc")
                .option("path", f"{base}/tbl").load()
            )
            q2 = (
                s2.writeStream.foreachBatch(boom)
                .option("checkpointLocation", f"{base}/ck2")
                .trigger(availableNow=True)
                .start()
            )
            with pytest.raises(Exception):
                q2.awaitTermination()
            deadline = time.time() + 20
            while not any(a.kind == "failure" for a in listener.alerts) and time.time() < deadline:
                time.sleep(0.5)
            assert any(a.kind == "failure" for a in listener.alerts)
        finally:
            spark.streams.removeListener(listener)

    def test_transports_deliver_failure_alert(self, tmp_path):
        """Delivery half of the reference's email_on_failure contract
        (dags/mssql_to_postgresql_orders_daily.py:68-75,136-140): a failure
        alert renders one durable record per transport; a broken transport
        doesn't block the others."""
        import json as _json
        import logging as _logging

        from etl_mssql_to_postgres_dailysync_spark.streaming.alerts import (
            Alert,
            FileTransport,
            LogTransport,
            SmtpTransport,
            fan_out,
            format_alert_message,
        )

        alert = Alert("failure", "q-123", "sink exploded")
        subject, body = format_alert_message(alert, job_name="daily-sync")
        assert subject == "[daily-sync] FAILURE: query q-123"
        assert "Detail: sink exploded" in body

        path = str(tmp_path / "alerts.jsonl")
        sent = []
        smtp = SmtpTransport(
            "ops@example.com, , not-an-email, dev@example.com",
            job_name="daily-sync",
            send_fn=lambda s, r, m: sent.append((s, r, m)),
        )
        # the '@ in addr' recipient filter is the reference's (:69-70)
        assert smtp.recipients == ["ops@example.com", "dev@example.com"]

        def broken(_):
            raise OSError("smtp down")

        logger = _logging.getLogger("test.alerts")
        fan_out(broken, FileTransport(path, job_name="daily-sync"),
                LogTransport(logger, job_name="daily-sync"), smtp)(alert)

        recs = [_json.loads(l) for l in open(path)]
        assert len(recs) == 1 and recs[0]["kind"] == "failure"
        assert recs[0]["query_id"] == "q-123" and recs[0]["subject"] == subject
        assert len(sent) == 1
        _, rcpts, msg = sent[0]
        assert rcpts == ["ops@example.com", "dev@example.com"]
        assert f"Subject: {subject}" in msg and "sink exploded" in msg

        # no valid recipients -> no send (reference skips mail entirely)
        quiet = SmtpTransport("", send_fn=lambda *a: sent.append(a))
        quiet(alert)
        assert len(sent) == 1


class TestTxnTableStreamingSink:
    def _write_input(self, spark, sf_dir, path, lo, hi):
        (
            _orders(spark, sf_dir)
            .filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
            .write.mode("append").parquet(path)
        )

    def test_stream_into_txn_table_exactly_once(self, spark, sf_dir, base):
        from etl_mssql_to_postgres_dailysync_spark.streaming.txn_sink import (
            TxnTableSinkDataSource,
        )

        spark.dataSource.register(TxnTableSinkDataSource)
        src_dir, tbl, ck = f"{base}/in", f"{base}/tbl", f"{base}/ck"
        self._write_input(spark, sf_dir, src_dir, 0, 400)
        schema = _orders(spark, sf_dir).schema

        def run():
            s = spark.readStream.schema(schema).parquet(src_dir)
            q = (
                s.writeStream.format("txntable").option("path", tbl)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()

        run()
        t = TxnTable(spark, tbl)
        n1 = t.read().count()
        assert n1 == _orders(spark, sf_dir).filter("o_orderkey < 400").count()
        v1 = t.version()

        # no new data -> no new commits (idempotent on replay/empty batches)
        run()
        assert t.version() == v1 and t.read().count() == n1

        # more input -> exactly the delta lands
        self._write_input(spark, sf_dir, src_dir, 400, 700)
        run()
        assert t.read().count() == _orders(spark, sf_dir).filter("o_orderkey < 700").count()
        ops = [h["op"] for h in t.history()]
        assert all(op == "stream_append" for op in ops)

    def test_duplicate_batch_commit_is_skipped(self, spark, sf_dir, base):
        """Simulated micro-batch replay: a second commit() with the same
        batchId must not change the table."""
        from etl_mssql_to_postgres_dailysync_spark.streaming.txn_sink import (
            TxnTableStreamWriter, _FileMsg,
        )

        tbl = f"{base}/tbl"
        schema = _orders(spark, sf_dir).schema
        w = TxnTableStreamWriter({"path": tbl}, schema)
        # fake one written file
        import pyarrow as pa, pyarrow.parquet as pq, os as _os
        pdf = _orders(spark, sf_dir).limit(10).toPandas()
        d = _os.path.join(tbl, "data", "stream-test")
        _os.makedirs(d)
        f = _os.path.join(d, "part-00000.parquet")
        pq.write_table(pa.Table.from_pandas(pdf), f)
        msg = _FileMsg(_os.path.relpath(f, _os.path.abspath(tbl)), 10, _os.path.getsize(f))
        w.commit([msg], batchId=7)
        t = TxnTable(spark, tbl)
        v = t.version()
        w.commit([msg], batchId=7)  # replay
        assert t.version() == v
        assert t.read().count() == 10

    def test_cdc_roundtrip_source_to_sink(self, spark, sf_dir, base):
        """Full loop: TxnTable A --(cdc source)--> stream --(txntable sink)-->
        TxnTable B; B's live rows equal A's adds (append-only A)."""
        from etl_mssql_to_postgres_dailysync_spark.streaming.txn_sink import (
            TxnTableSinkDataSource,
        )

        _register(spark)
        spark.dataSource.register(TxnTableSinkDataSource)
        a = TxnTable(spark, f"{base}/a")
        a.append(_orders(spark, sf_dir).limit(123))
        s = (
            spark.readStream.format("txntable_cdc").option("path", f"{base}/a").load()
            .drop("_sign", "_version")
        )
        q = (
            s.writeStream.format("txntable").option("path", f"{base}/b")
            .option("checkpointLocation", f"{base}/ck")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        b = TxnTable(spark, f"{base}/b")
        assert b.read().count() == 123
        got = b.read().select("o_orderkey").orderBy("o_orderkey").collect()
        exp = a.read().select("o_orderkey").orderBy("o_orderkey").collect()
        assert got == exp


class TestPartitionedMergeCdc:
    def test_merge_on_partitioned_table_retracts_with_partition_values(
        self, spark, sf_dir, base
    ):
        """A merge removes and re-adds files; the retraction rows must carry
        the grouping column of the removed rows, or the maintained rollup
        would subtract from a NULL group and diverge."""
        _register(spark)
        t = TxnTable(spark, f"{base}/tbl")
        orders = _orders(spark, sf_dir).withColumn(
            "day", F.to_date("o_orderdate").cast("string")
        ).limit(60)
        t.append(orders)
        _run_stream(spark, f"{base}/tbl", f"{base}/state", f"{base}/ck")
        _assert_state_matches(spark, f"{base}/state", t)

        delta = orders.limit(10).withColumn("o_totalprice", F.col("o_totalprice") * 2)
        t.merge(delta, ["o_orderkey"])
        _run_stream(spark, f"{base}/tbl", f"{base}/state", f"{base}/ck")
        got = spark.read.parquet(f"{base}/state")
        assert got.filter(F.col("day").isNull()).count() == 0
        _assert_state_matches(spark, f"{base}/state", t)


class TestSinkConcurrency:
    def test_stream_commit_retries_past_concurrent_append(self, spark, sf_dir, base):
        """A batch append taking the sink's expected version slot must not
        fail the stream: stream_append commits commute like blind appends."""
        import json as _json

        from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import (
            _version_path,
        )
        from etl_mssql_to_postgres_dailysync_spark.streaming.txn_sink import (
            TxnTableStreamWriter, _FileMsg,
        )

        tbl = f"{base}/tbl"
        t = TxnTable(spark, tbl)
        flat = _orders(spark, sf_dir).select("o_orderkey", "o_totalprice")
        t.append(flat.limit(10))
        w = TxnTableStreamWriter({"path": tbl}, flat.schema)
        import pyarrow as pa, pyarrow.parquet as pq, os as _os
        d = _os.path.join(tbl, "data", "stream-race")
        _os.makedirs(d)
        f = _os.path.join(d, "part-00000.parquet")
        pq.write_table(pa.Table.from_pandas(flat.limit(5).toPandas()), f)
        msg = _FileMsg(_os.path.relpath(f, _os.path.abspath(tbl)), 5, _os.path.getsize(f))
        # steal version 1 out from under the sink
        with open(_version_path(t.log, 1), "w") as fh:
            _json.dump({"version": 1, "op": "append", "actions": [],
                        "schema": None, "meta": {}, "props": {}}, fh)
        w.commit([msg], batchId=0)  # must retry to version 2, not raise
        assert t.version() == 2
        assert t.read().count() == 15

    def test_stream_landed_files_carry_zone_maps(self, spark, sf_dir, base):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import footer_stats
        from etl_mssql_to_postgres_dailysync_spark.streaming.txn_sink import (
            TxnTableSinkDataSource,
        )

        spark.dataSource.register(TxnTableSinkDataSource)
        src_dir, tbl, ck = f"{base}/in", f"{base}/tbl", f"{base}/ck"
        (
            _orders(spark, sf_dir).limit(500)
            .write.mode("append").parquet(src_dir)
        )
        schema = _orders(spark, sf_dir).schema
        s = spark.readStream.schema(schema).parquet(src_dir)
        q = (
            s.writeStream.format("txntable").option("path", tbl)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        t = TxnTable(spark, tbl)
        fs = t.files()
        assert all("o_orderkey" in f.stats for f in fs)
        # the zone maps are what the footer read shared with batch writes
        # returns, and they bound the data
        for f in fs:
            fpath = os.path.join(t.path, f.path)
            col = pq.read_table(fpath, columns=["o_orderkey"])["o_orderkey"]
            st = f.stats["o_orderkey"]
            assert st == footer_stats(fpath)[1]["o_orderkey"]
            assert (st["min"], st["max"]) == (pc.min(col).as_py(), pc.max(col).as_py())
        # pruning works against a range no file can satisfy
        assert t.files(prune=("o_orderkey", 10**12, None)) == []

    def test_stream_zone_maps_equal_footer_stats(self, spark, sf_dir, base):
        """With no option, every stream-landed file logs the zone maps the
        batch write path would: ``footer_stats`` of that file, for each
        integer, floating-point and timestamp column."""
        from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import footer_stats
        from etl_mssql_to_postgres_dailysync_spark.streaming.txn_sink import (
            TxnTableSinkDataSource,
        )

        spark.dataSource.register(TxnTableSinkDataSource)
        src_dir, tbl, ck = f"{base}/in", f"{base}/tbl", f"{base}/ck"
        _orders(spark, sf_dir).limit(500).write.mode("append").parquet(src_dir)
        s = spark.readStream.schema(_orders(spark, sf_dir).schema).parquet(src_dir)
        q = (
            s.writeStream.format("txntable").option("path", tbl)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        t = TxnTable(spark, tbl)
        fs = t.files()
        assert fs
        for f in fs:
            assert f.stats == footer_stats(os.path.join(t.path, f.path))[1]
            assert set(f.stats) == {"o_orderkey", "o_totalprice", "o_orderdate"}
