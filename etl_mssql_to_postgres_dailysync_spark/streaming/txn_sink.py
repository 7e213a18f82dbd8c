"""Streaming SINK into a TxnTable — the write-side twin of cdc_source.py,
completing the round trip: streams read FROM the ACID table as signed CDC
deltas and write INTO it with exactly-once commits, both through Spark 4's
Python Data Source API.

``spark.writeStream.format("txntable").option("path", p)`` after
``spark.dataSource.register(TxnTableSinkDataSource)``.

Exactly-once protocol (the Delta-sink idempotent-txn design, in miniature):

* executors stream their Arrow batches straight to immutable parquet files
  under the table's data dir (no driver data hop) and return (path, rows,
  bytes) commit messages;
* the DRIVER turns the messages into one atomic TxnTable commit whose meta
  records the micro-batch id. On restart-replay of a micro-batch the
  committed batchId is already in the log -> the commit is SKIPPED (the
  replayed files are unreferenced and vacuum() collects them). Re-delivery
  therefore cannot double-append: source offsets give at-least-once, the
  logged batchId makes the sink idempotent, the composition is
  exactly-once.
* abort() unlinks the partial files; the log never saw them.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable, footer_stats


@dataclass
class _FileMsg(WriterCommitMessage):
    path: str | None  # relative to table root; None = empty partition
    rows: int
    bytes: int


class TxnTableStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, options: dict, schema: StructType):
        self.options = {str(k).lower(): v for k, v in options.items()}
        self.table_path = os.path.abspath(self.options["path"])
        self.schema = schema
        os.makedirs(os.path.join(self.table_path, "data"), exist_ok=True)

    # -------------------------------------------------------- executor side --
    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.parquet as pq

        batches = list(iterator)
        if not batches or sum(b.num_rows for b in batches) == 0:
            return _FileMsg(None, 0, 0)
        table = pa.Table.from_batches(batches)
        commit_dir = os.path.join(self.table_path, "data", f"stream-{uuid.uuid4().hex}")
        os.makedirs(commit_dir, exist_ok=True)
        fpath = os.path.join(commit_dir, "part-00000.parquet")
        pq.write_table(table, fpath)
        return _FileMsg(
            os.path.relpath(fpath, self.table_path), table.num_rows,
            os.path.getsize(fpath),
        )

    # ---------------------------------------------------------- driver side --
    def _table(self) -> TxnTable:
        # TxnTable's log protocol is pure filesystem + JSON; no SparkSession
        # is needed for version()/history()/_commit()
        return TxnTable(None, self.table_path)

    def commit(self, messages, batchId: int) -> None:
        t = self._table()
        for h in t.history():
            if h["op"] == "stream_append" and h["meta"].get("batchId") == batchId:
                return  # replayed micro-batch: already committed, skip
        # zone maps from the same footer read batch writes use: stream-landed
        # files prune like batch ones
        adds = [
            {"add": {"path": m.path, "rows": m.rows, "bytes": m.bytes,
                     "stats": footer_stats(os.path.join(self.table_path, m.path))[1]}}
            for m in messages
            if m is not None and m.path is not None
        ]
        t._commit(
            "stream_append",
            adds,
            t.version() + 1,
            json.loads(self.schema.json()),
            {"batchId": batchId, "files": len(adds)},
        )

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.path is not None:
                try:
                    os.unlink(os.path.join(self.table_path, m.path))
                except FileNotFoundError:
                    pass


class TxnTableSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "txntable"

    def streamWriter(self, schema: StructType, overwrite: bool) -> TxnTableStreamWriter:
        return TxnTableStreamWriter(dict(self.options), schema)
