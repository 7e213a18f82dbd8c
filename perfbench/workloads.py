"""The three workloads. Each is a closed loop: one client in one process sends
its next op only after the previous op has finished.

An op is timed from outside the program, around calls into the program's
public functions; each call runs inside a tracer span named after its layer.
Every op is checked against quantities computed by DuckDB from the generated
inputs, never against the program's own report.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import date, timedelta

import duckdb

from etl_mssql_to_postgres_dailysync_spark.operators import filters, validate
from etl_mssql_to_postgres_dailysync_spark.plans.daily_sync import (
    backfill,
    daily_sync,
    per_date_counts,
)
from etl_mssql_to_postgres_dailysync_spark.sources.fake_data import fake_orders
from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable

from pyspark.sql import functions as F

import fixture

TS_COL = "OrderCreatedAt"
DAY0 = date(2025, 1, 1)  # first day of sources.fake_data's window
SOURCE_DAYS = 179        # whole days of OrderCreatedAt the generator covers
SEEDED_DAYS = 90         # days of history the target starts with
BACKFILL_DAYS = 30


def day(i: int) -> str:
    return (DAY0 + timedelta(days=i)).isoformat()


@dataclass
class Op:
    kind: str       # what the op is within its round, e.g. "new" or "resync"
    arg: object


@dataclass
class OpResult:
    rows: int              # source rows the op committed, or result rows read
    failures: list[str]    # failed checks, empty when the output is right
    written: int = 0       # bytes of table files the op's commits added
    rewritten: int = 0     # table files the op's commits removed


class Workload:
    """Set-up, the op list of each round, one op, and the end-of-run check."""

    name = ""
    warmup_rounds = 1
    layers_per_round = False   # per-layer figures per round instead of per op

    def __init__(self, ctx):
        self.ctx = ctx          # harness context: spark, tracer, work dir, rng
        self.spark = ctx.spark
        self.span = ctx.tracer.span

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, r: int) -> list[Op]:
        raise NotImplementedError

    def run_op(self, op: Op):
        """Run one op through the program; return what ``check`` needs."""
        raise NotImplementedError

    def check(self, op: Op, outcome) -> OpResult:
        raise NotImplementedError

    def final_check(self) -> list[str]:
        return []

    def bytes_per_row(self) -> float:
        raise NotImplementedError


class _WriteWorkload(Workload):
    """Shared set-up of the write workloads: a generated orders source written
    once to parquet (the extract), and a TxnTable target seeded with the
    first ``SEEDED_DAYS`` days of complete orders. The seeded rows carry
    ``Amount + 1`` so that re-syncing a seeded day really updates rows."""

    source_rows = 0

    def setup(self) -> None:
        src_path = os.path.join(self.ctx.work, "source")
        with self.span("fake_data.gen"):
            fake_orders(self.spark, self.source_rows).write.parquet(src_path)
            self.source = self.spark.read.parquet(src_path)
        self.duck = duckdb.connect()
        self.duck.execute(
            f"CREATE TABLE source AS SELECT * FROM read_parquet('{src_path}/*.parquet')")
        per_day = self.duck.execute(
            f"SELECT CAST({TS_COL} AS DATE)::VARCHAR, count(DISTINCT OrderID) "
            f"FROM source WHERE {TS_COL} IS NOT NULL GROUP BY 1").fetchall()
        self.expected_day = dict(per_day)
        self.expected_null = self.duck.execute(
            f"SELECT count(*) FROM source WHERE {TS_COL} IS NULL").fetchone()[0]
        with self.span("txn_table.seed"):
            self.orders = TxnTable(self.spark, os.path.join(self.ctx.work, "orders"))
            self.orders.append(
                self.source.filter(
                    filters.date_range_partition(TS_COL, day(0), day(SEEDED_DAYS - 1)))
                .withColumn("Amount", (F.col("Amount") + F.lit(1)).cast("decimal(18,4)"))
            )
        self.synced: set[str] = set()   # days whose source rows replaced the seed
        self.live = {}                  # table path -> live files after the last op

    def commit_stats(self) -> tuple[int, int]:
        """Bytes added and files removed by the commits since the last call."""
        written = rewritten = 0
        for t in self.tables():
            now = {f.path for f in t.files()}
            before = self.live.get(t.path, set())
            written += sum(os.path.getsize(os.path.join(t.path, p)) for p in now - before)
            rewritten += len(before - now)
            self.live[t.path] = now
        return written, rewritten

    def tables(self) -> list[TxnTable]:
        return [self.orders]

    def bytes_per_row(self) -> float:
        size = rows = 0
        for t in self.tables():
            for f in t.files():
                size += os.path.getsize(os.path.join(t.path, f.path))
                rows += f.rows
        return size / rows

    def final_check(self) -> list[str]:
        """Live rows and an (OrderID, Amount) checksum of the target equal the
        state DuckDB derives from the source and the days synced."""
        # days compare as strings: DuckDB 1.0 answers CAST(ts AS DATE) IN (...)
        # with no rows
        synced = ", ".join(f"'{d}'" for d in sorted(self.synced))
        seeded = (f"{TS_COL} >= DATE '{day(0)}' AND {TS_COL} < DATE '{day(SEEDED_DAYS)}'")
        in_synced = f"strftime({TS_COL}, '%Y-%m-%d') IN ({synced})" if synced else "FALSE"
        want = self.duck.execute(
            f"SELECT count(*), sum(OrderID * 7919 + CAST(Amount * 100 AS BIGINT)) FROM ("
            f"  SELECT OrderID, Amount FROM source WHERE {in_synced}"
            f"  UNION ALL SELECT OrderID, Amount + 1 FROM source"
            f"  WHERE {seeded} AND NOT ({in_synced}))").fetchone()
        files = [os.path.join(self.orders.path, f.path) for f in self.orders.files()]
        got = self.duck.execute(
            "SELECT count(*), sum(OrderID * 7919 + CAST(Amount * 100 AS BIGINT)) "
            "FROM read_parquet($files)", {"files": files}).fetchone()
        if tuple(got) != tuple(want):
            return [f"target (rows, checksum) {tuple(got)} != expected {tuple(want)}"]
        return []


class DailySync(_WriteWorkload):
    """One op = one reference daily cycle for one logical date: read the
    target head, ``daily_sync``, commit the merged target and the quarantine
    snapshot through TxnTable, validate. A round is one new date (inserts)
    and one seeded date synced again (updates)."""

    name = "daily_sync"
    source_rows = 200_000
    warmup_rounds = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        self.new_days = [day(i) for i in range(SEEDED_DAYS, SOURCE_DAYS)]
        self.old_days = [day(i) for i in range(SEEDED_DAYS)]
        ctx.rng.shuffle(self.new_days)
        ctx.rng.shuffle(self.old_days)

    def setup(self) -> None:
        super().setup()
        self.incomplete = TxnTable(self.spark, os.path.join(self.ctx.work, "incomplete"))
        self.commit_stats()

    def tables(self) -> list[TxnTable]:
        return [self.orders, self.incomplete]

    def round(self, r: int) -> list[Op]:
        # past the end of the new days, every date is a re-sync
        new = self.new_days[r % len(self.new_days)]
        return [Op("new", new), Op("resync", self.old_days[r % len(self.old_days)])]

    def sync(self, run_date: str):
        with self.span("txn_table.read"):
            target = self.orders.read()
        with self.span("daily_sync.call"):
            res = daily_sync(self.source, target, run_date)
        return res

    def commit(self, res) -> None:
        with self.span("txn_table.commit"):
            self.orders.overwrite(res.merged_target)
            self.incomplete.overwrite(res.incomplete_snapshot)

    def run_op(self, op: Op):
        run_date = op.arg
        res = self.sync(run_date)
        self.commit(res)
        with self.span("validate"):
            loaded = validate.filtered_count(self.orders.read(), TS_COL, run_date)
            validate.reconcile(res.metrics["extracted_row_count"], loaded)
        return res, loaded

    def check(self, op: Op, outcome) -> OpResult:
        res, loaded = outcome
        run_date = op.arg
        self.synced.add(run_date)
        want = self.expected_day[run_date]
        failures = []
        if loaded != want:
            failures.append(f"{run_date}: committed filtered_count {loaded} != {want}")
        if res.metrics["extracted_row_count"] != want:
            failures.append(f"{run_date}: reported extracted "
                            f"{res.metrics['extracted_row_count']} != {want}")
        quarantined = sum(f.rows for f in self.incomplete.files())
        if quarantined != self.expected_null:
            failures.append(f"{run_date}: quarantine holds {quarantined} rows "
                            f"!= {self.expected_null}")
        return OpResult(want, failures, *self.commit_stats())


class Backfill(_WriteWorkload):
    """One op = one ``BACKFILL_DAYS``-day window of history synced again with
    ``plans.daily_sync.backfill`` (the ``full_outer`` merge) and committed.
    Windows lie inside the seeded days, so the target keeps its size and every
    op does the same amount of work; inserts are covered by ``daily_sync``."""

    name = "backfill"
    source_rows = 600_000
    warmup_rounds = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        self.starts = list(range(SEEDED_DAYS - BACKFILL_DAYS + 1))
        ctx.rng.shuffle(self.starts)

    def setup(self) -> None:
        super().setup()
        self.commit_stats()

    def round(self, r: int) -> list[Op]:
        s = self.starts[r % len(self.starts)]
        return [Op("window", (day(s), day(s + BACKFILL_DAYS - 1)))]

    def run_op(self, op: Op):
        lo, hi = op.arg
        with self.span("txn_table.read"):
            target = self.orders.read()
        with self.span("backfill.call"):
            merged = backfill(self.source, target, lo, hi)
        with self.span("txn_table.commit"):
            self.orders.overwrite(merged)
        with self.span("validate"):
            # the per-date validation counts of the window, in one job
            head = self.orders.read().filter(filters.date_range_partition(TS_COL, lo, hi))
            return {str(r["run_date"]): r["row_count"]
                    for r in per_date_counts(head, TS_COL).collect()}

    def check(self, op: Op, got) -> OpResult:
        lo, _ = op.arg
        days = [(date.fromisoformat(lo) + timedelta(days=i)).isoformat()
                for i in range(BACKFILL_DAYS)]
        self.synced.update(days)
        want = {d: self.expected_day[d] for d in days}
        failures = [f"{d}: committed {got.get(d, 0)} rows != {n}"
                    for d, n in want.items() if got.get(d, 0) != n]
        return OpResult(sum(want.values()), failures, *self.commit_stats())


class HeadlineQueries(Workload):
    """The frozen headline list of ``bench.py``, every fourth query (see
    README.md), read-only over tables generated from the seed at
    ``fixture_scale`` (1 = the sf0.01 size of the test data). One op is the
    build plus the ``.count()`` of one query; a round runs each query once, in
    an order the seed shuffles."""

    name = "headline_queries"
    warmup_rounds = 2
    layers_per_round = True
    fixture_scale = 1.0

    def __init__(self, ctx):
        from bench import HEADLINE

        super().__init__(ctx)
        self.names = list(HEADLINE[3::4])

    def setup(self) -> None:
        from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import ORACLES, QUERIES

        self.queries = QUERIES
        self.fixture = fixture.generate(os.path.join(self.ctx.work, "fixture"),
                                        self.ctx.seed, self.fixture_scale)
        con = duckdb.connect()
        for t in fixture.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.fixture}/{t}.parquet'")
        self.expected = {
            n: con.execute(f"SELECT count(*) FROM ({ORACLES[n]})").fetchone()[0]
            for n in self.names
        }
        con.close()

    def round(self, r: int) -> list[Op]:
        names = list(self.names)
        random.Random(f"{self.ctx.seed}:{r}").shuffle(names)
        return [Op(n, n) for n in names]

    def run_op(self, op: Op):
        with self.span("queries.build"):
            df = self.queries[op.arg](self.spark, self.fixture)
        with self.span("queries.action"):
            return df.count()

    def check(self, op: Op, n) -> OpResult:
        want = self.expected[op.arg]
        return OpResult(n, [] if n == want else [f"{op.arg}: {n} rows != oracle {want}"])

    def bytes_per_row(self) -> float:
        import pyarrow.parquet as pq

        size = rows = 0
        for t in fixture.TABLES:
            path = f"{self.fixture}/{t}.parquet"
            size += os.path.getsize(path)
            rows += pq.read_metadata(path).num_rows
        return size / rows


WORKLOADS = {w.name: w for w in (DailySync, Backfill, HeadlineQueries)}
