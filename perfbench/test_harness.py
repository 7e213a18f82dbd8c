"""Tiny-scale self-test of the benchmark harness (a few thousand generated
rows, headline tables at a tenth of their benchmark size). Run from the root
of a checkout:

    python3 -m pytest perfbench/test_harness.py -q

It starts several short Spark sessions, so it takes a few minutes.
"""

from __future__ import annotations

import multiprocessing
import os
import random
import subprocess
import sys
from concurrent.futures import ProcessPoolExecutor
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixture  # noqa: E402
import procs  # noqa: E402
import run as harness  # noqa: E402
from workloads import TS_COL, Backfill, DailySync, HeadlineQueries  # noqa: E402

from etl_mssql_to_postgres_dailysync_spark.operators import filters  # noqa: E402

SECONDS = 1


class TinyDailySync(DailySync):
    source_rows = 5_000


class TinyBackfill(Backfill):
    source_rows = 5_000


class TinyHeadlineQueries(HeadlineQueries):
    fixture_scale = 0.1


class FaultyDailySync(TinyDailySync):
    """Drops one committed row of the run date on the first op and raises
    inside the program call on the second."""

    ops = 0

    def sync(self, run_date):
        self.ops += 1
        self.current = run_date
        if self.ops == 2:
            raise RuntimeError("injected fault")
        return super().sync(run_date)

    def commit(self, res) -> None:
        if self.ops == 1:
            victim = res.merged_target.filter(
                filters.daily_partition(TS_COL, self.current)).first()
            res.merged_target = res.merged_target.filter(
                res.merged_target.OrderID != victim.OrderID)
        super().commit(res)


def _run_and_list_leftovers(cls, trace):
    result = harness.run(cls, 1, SECONDS, trace)
    return result, procs.descendants()


def _run(cls, trace=False):
    """One run in a fresh process, as the benchmark command makes it: the
    Spark JVM takes its directories and worker path from the environment
    at launch, so runs must not share one. No process the run started may
    outlive it."""
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as pool:
        result, leftovers = pool.submit(_run_and_list_leftovers, cls, trace).result(
            timeout=600)
    assert leftovers == []
    return result


def _assert_metrics(result, units):
    assert set(result["metrics"]) == set(units)
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name], name
        assert isinstance(m["value"], float | int), name


@pytest.mark.parametrize("cls", [TinyDailySync, TinyBackfill, TinyHeadlineQueries])
def test_every_end_to_end_metric_is_emitted_and_outputs_check(cls, tmp_path, monkeypatch):
    # a foreign working directory: Python workers must still import the program
    monkeypatch.chdir(tmp_path)
    result = _run(cls)
    _assert_metrics(result, harness.END_TO_END)
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["ok_frac"]["value"] == 1.0
    assert result["attempted"] >= 1


def test_traced_run_emits_every_per_layer_metric():
    result = _run(TinyDailySync, trace=True)
    _assert_metrics(result, harness.PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["daily_sync.call_jobs"] >= 1 and m["txn_table.commit_jobs"] >= 1
    assert m["spark.tasks"] >= 1 and m["trace.overhead"] > 0
    assert m["queries.build_s"] == 0  # not a read-path workload


def test_corrupted_output_and_exception_count_as_failed_and_the_run_goes_on(capfd):
    result = _run(FaultyDailySync)
    err = capfd.readouterr().err
    assert "committed filtered_count" in err and "RuntimeError: injected fault" in err
    assert not result["correct"]
    # op 1 and the end-of-run checksum fail on the corrupted row, op 2 raised
    assert result["failed"] >= 3
    assert result["attempted"] > 2
    assert result["metrics"]["ok_frac"]["value"] < 1.0


class _Ctx:
    def __init__(self, seed):
        self.seed = seed
        self.rng = random.Random(seed)
        self.spark = None
        self.tracer = self

    @contextmanager
    def span(self, name):
        yield


@pytest.mark.parametrize("cls", [DailySync, Backfill, HeadlineQueries])
def test_seed_changes_inputs_not_op_count(cls):
    a, b, a2 = cls(_Ctx(1)), cls(_Ctx(2)), cls(_Ctx(1))
    rounds = range(12)
    args = lambda wl: [[op.arg for op in wl.round(r)] for r in rounds]  # noqa: E731
    assert args(a) != args(b)
    assert args(a) == args(a2)
    assert [len(x) for x in args(a)] == [len(x) for x in args(b)]


def test_seed_gives_the_headline_tables(tmp_path):
    def tables(seed, name):
        d = fixture.generate(str(tmp_path / name), seed, scale=0.1)
        return {t: open(f"{d}/{t}.parquet", "rb").read() for t in ("orders", "documents")}

    assert tables(1, "a") == tables(1, "b")
    assert tables(1, "a") != tables(2, "c")


def _orphan_is_reaped():
    procs.adopt_orphans()
    # a child that leaves a grandchild in a session of its own, as the JVM
    # leaves its Python worker daemon
    out = subprocess.run(
        [sys.executable, "-c", "import subprocess; print(subprocess.Popen(['sleep', '60'], "
         "start_new_session=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL).pid)"],
        capture_output=True, text=True, check=True).stdout
    orphan = int(out)
    assert orphan in procs.descendants()
    procs.reap(grace=0.5)
    return procs.descendants(), os.path.exists(f"/proc/{orphan}")


def test_reap_ends_orphaned_descendants():
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=1, mp_context=ctx) as pool:
        left, orphan_alive = pool.submit(_orphan_is_reaped).result(timeout=60)
    assert left == [] and not orphan_alive


@pytest.mark.parametrize("raw", ["abc", "0", "-2", "1.5"])
def test_bad_cpu_count_stops_with_message(raw, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(SystemExit, match="SPARK_GRAFT_CPUS must be a positive integer"):
        harness.cpu_count()


def test_cpu_count_defaults_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert harness.cpu_count() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert harness.cpu_count() == 3
