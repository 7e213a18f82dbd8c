"""Sixth third-implementation tranche: pure-Python replays of the LAST 16
registry queries that previously sat on the justified allowlist in
test_verification_coverage.py — the merge family, the four interchange
round trips, and the ACID / streaming / daily-sync pipelines.

Those queries were already verified by other independent means (hypothesis
model tests for the merges, self-checking construction for the round trips,
operator e2e suites for TxnTable/CDC), but a direct end-to-end replay of
the registry entry itself is strictly stronger: the population is read with
plain DuckDB SQL straight from parquet, the whole pipeline — filter splits,
merge resolution, expectation gating, commit-log folding, day rollups — is
recomputed with ordinary Python dicts, and the engine's emitted rows must
match exactly. With this tranche the independent-check ratchet covers the
ENTIRE registry and the allowlist is empty.

Runs at both deterministic fixtures (seed-42 testdata, derived seed-43
subsample), like the sibling suites.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import importlib.util
import math
import os

import duckdb
import pytest

import coverage_manifest

from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# base fixture for the "seed42" param; override with
# SPARK_GRAFT_REPLAY_BASE to replay the whole suite at ANY fixture dir
# (e.g. a tools/gen_fixture.py derived seed) — engine-vs-pure-Python
# parity at new data is the strongest check against shared
# engine/oracle staging errors
_SEED42 = os.environ.get("SPARK_GRAFT_REPLAY_BASE",
                         "/root/testdata/sf0.001")
_RUN_DATE = _dt.date(1995, 3, 15)


def _gen_seed43() -> str:
    spec = importlib.util.spec_from_file_location(
        "gen_fixture", os.path.join(_REPO, "tools", "gen_fixture.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.generate(43)


@pytest.fixture(scope="module", params=["seed42", "seed43"])
def sfd(request):
    return _SEED42 if request.param == "seed42" else _gen_seed43()


_CACHE: dict[tuple[str, str], list] = {}


def _rows(spark, name: str, sfd: str):
    coverage_manifest.record(name)
    key = (name, sfd)
    if key not in _CACHE:
        _CACHE[key] = QUERIES[name](spark, sfd).collect()
    return _CACHE[key]


def _duck(sfd: str, sql: str) -> list[tuple]:
    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer", "nation", "events",
              "documents", "embeddings", "part", "supplier", "region"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfd}/{t}.parquet'")
    return con.sql(sql).fetchall()


def _round_away(x: float) -> int:
    """round() with half away from zero (Spark/DuckDB round convention)."""
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def _cents(x: float) -> int:
    return _round_away(x * 100)


def _md5_long(s: str, hex_chars: int = 15) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:hex_chars], 16)


def _fake_orders(n: int = 1000) -> list[dict]:
    """Pure-Python replay of the md5-staged synthetic order generator
    (sources/fake_data.py contract), parameterized over row count."""
    base = _dt.datetime(2025, 1, 1)
    products = ["Laptop", "Tablet", "Smartphone", "Headphones", "Monitor",
                "Keyboard"]
    out = []
    for i in range(1, n + 1):
        h = lambda seed: _md5_long(f"{i}#{seed}")
        added = base + _dt.timedelta(seconds=h(1) % 15552000)
        missing = h(3) % 100 < 30
        created = None if missing else added + _dt.timedelta(
            minutes=5 + h(2) % 176)
        out.append({
            "OrderID": i,
            "UserID": 1000 + h(4) % 9000,
            "AddedToCartAt": added,
            "OrderCreatedAt": created,
            "Amount": round((10000 + h(5) % 190001) / 100.0, 2),
            "Product": products[h(6) % 6],
            "IsDelivered": False if missing else h(7) % 2 == 1,
        })
    return out


def _orders_raw(sfd: str) -> list[tuple]:
    return _duck(sfd, """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority FROM orders""")


def _merge_model(sfd: str):
    """Target (key %4 != 0), source (key %2 == 0, status 'U', price+10)."""
    raw = _orders_raw(sfd)
    target = {int(r[0]): r for r in raw if int(r[0]) % 4 != 0}
    source = {
        int(r[0]): (r[0], r[1], "U", r[3] + 10.0, r[4], r[5])
        for r in raw if int(r[0]) % 2 == 0
    }
    return target, source


def _assert_order_rows(got_rows, want: dict[int, tuple], date_col=4):
    got = {int(r["o_orderkey"]): r for r in got_rows}
    assert set(got) == set(want)
    for k, w in want.items():
        r = got[k]
        assert r["o_custkey"] == w[1], k
        assert r["o_orderstatus"] == w[2], k
        assert abs(float(r["o_totalprice"]) - float(w[3])) < 1e-9, k
        assert r["o_orderdate"] == w[date_col], k
        assert r["o_orderpriority"] == w[5], k


# ---------------------------------------------------------------------------
# Merge family
# ---------------------------------------------------------------------------


def test_merge_upsert_python_replay(spark, sfd):
    """Dict-merge third implementation: source wins on matched keys,
    unmatched source inserts, unmatched target keeps. merge_small_source
    plans like merge_upsert and must produce the identical state."""
    target, source = _merge_model(sfd)
    want = dict(target)
    want.update(source)
    _assert_order_rows(_rows(spark, "merge_upsert", sfd), want)
    _assert_order_rows(_rows(spark, "merge_small_source", sfd), want)


def test_merge_column_mask_python_replay(spark, sfd):
    """o_orderdate is excluded from the UPDATE SET: matched rows keep the
    TARGET's date (first-write-wins) while every other column updates."""
    target, source = _merge_model(sfd)
    want = {}
    for k, t in target.items():
        if k in source:
            s = source[k]
            want[k] = (s[0], s[1], s[2], s[3], t[4], s[5])
        else:
            want[k] = t
    for k, s in source.items():
        if k not in target:
            want[k] = s
    _assert_order_rows(_rows(spark, "merge_column_mask", sfd), want)


def test_merge_insert_only_python_replay(spark, sfd):
    """WHEN NOT MATCHED THEN INSERT only: matched target rows unchanged."""
    target, source = _merge_model(sfd)
    want = dict(target)
    for k, s in source.items():
        if k not in target:
            want[k] = s
    _assert_order_rows(_rows(spark, "merge_insert_only", sfd), want)


def test_merge_metrics_python_replay(spark, sfd):
    """Affected-rows accounting from plain set arithmetic."""
    target, source = _merge_model(sfd)
    tk, sk = set(target), set(source)
    (r,) = _rows(spark, "merge_metrics", sfd)
    assert r["updated"] == len(tk & sk)
    assert r["inserted"] == len(sk - tk)
    assert r["kept"] == len(tk - sk)
    assert r["total"] == len(tk | sk)


def test_merge_conditional_python_replay(spark, sfd):
    """Last-writer-wins guarded upsert over events: update only when the
    source version timestamp is strictly newer (or target ts is NULL)."""
    raw = _duck(sfd, "SELECT event_id, ts, user_id, event_type, value FROM events")
    target = {int(r[0]): r for r in raw if int(r[0]) % 3 != 0}
    source = {}
    for r in raw:
        k = int(r[0])
        if k % 2 == 0:
            delta = _dt.timedelta(hours=1 if k % 4 == 0 else -1)
            ts = None if r[1] is None else r[1] + delta
            source[k] = (r[0], ts, r[2], "synced",
                         None if r[4] is None else r[4] * 2)
    want = dict(target)
    for k, s in source.items():
        if k not in target:
            want[k] = s
        else:
            t_ts, s_ts = target[k][1], s[1]
            if t_ts is None or (s_ts is not None and s_ts > t_ts):
                want[k] = s
    got = {int(r["event_id"]): r for r in _rows(spark, "merge_conditional", sfd)}
    assert set(got) == set(want)
    for k, w in want.items():
        r = got[k]
        assert r["ts"] == w[1], k
        assert r["user_id"] == w[2], k
        assert r["event_type"] == w[3], k
        if w[4] is None:
            assert r["value"] is None, k
        else:
            assert abs(float(r["value"]) - float(w[4])) < 1e-9, k


def test_merge_composite_key_python_replay(spark, sfd):
    """Composite (orderkey, linenumber) conflict key; key-unique source by
    max-quantity grouping."""
    raw = _duck(sfd, """
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        FROM lineitem""")
    target = {(int(r[0]), int(r[1])): (r[2], r[3])
              for r in raw if int(r[0]) % 4 != 0}
    source: dict[tuple[int, int], float] = {}
    for r in raw:
        if int(r[0]) % 2 == 0:
            k = (int(r[0]), int(r[1]))
            source[k] = max(source.get(k, float("-inf")), r[2])
    want = dict(target)
    for k, q in source.items():
        want[k] = (q + 5, "S")
    got = {(int(r["l_orderkey"]), int(r["l_linenumber"])): r
           for r in _rows(spark, "merge_composite_key", sfd)}
    assert set(got) == set(want)
    for k, (q, flag) in want.items():
        assert abs(float(got[k]["l_quantity"]) - q) < 1e-9, k
        assert got[k]["l_returnflag"] == flag, k


# ---------------------------------------------------------------------------
# Interchange round trips (CSV / XML return the full generator batch;
# ORC / JSONL return daily-partition projections of the orders table)
# ---------------------------------------------------------------------------


def _assert_generator_batch(got_rows):
    got = {r["OrderID"]: r for r in got_rows}
    want = _fake_orders(1000)
    assert len(got) == 1000
    for w in want:
        r = got[w["OrderID"]]
        for col in ("UserID", "AddedToCartAt", "OrderCreatedAt", "Product",
                    "IsDelivered"):
            assert r[col] == w[col], (w["OrderID"], col)
        assert abs(float(r["Amount"]) - w["Amount"]) < 1e-9, w["OrderID"]


def test_csv_roundtrip_python_replay(spark, sfd):
    """Write-as-CSV + read-back must reproduce the pure-Python generator
    batch bit-for-bit (timestamp format, NULLs, booleans, money)."""
    _assert_generator_batch(_rows(spark, "csv_roundtrip", sfd))


def test_xml_roundtrip_python_replay(spark, sfd):
    _assert_generator_batch(_rows(spark, "xml_roundtrip", sfd))


def test_orc_roundtrip_python_replay(spark, sfd):
    """ORC round trip of the run-date partition, aggregated by status."""
    raw = _orders_raw(sfd)
    want: dict[str, list[int]] = {}
    for r in raw:
        if r[4].date() == _RUN_DATE:
            acc = want.setdefault(r[2], [0, 0])
            acc[0] += 1
            acc[1] += _cents(r[3])
    got = {r["o_orderstatus"]: (r["n"], r["cents"])
           for r in _rows(spark, "orc_roundtrip", sfd)}
    assert got == {k: (v[0], v[1]) for k, v in want.items()}


def test_jsonl_roundtrip_python_replay(spark, sfd):
    """JSONL round trip of the run-date partition, row-for-row."""
    raw = _orders_raw(sfd)
    want = {
        int(r[0]): (r[2], _cents(r[3]), str(r[4].date()))
        for r in raw if r[4].date() == _RUN_DATE
    }
    got = {int(r["o_orderkey"]): (r["o_orderstatus"], r["cents"], r["order_date"])
           for r in _rows(spark, "jsonl_roundtrip", sfd)}
    assert got == want


# ---------------------------------------------------------------------------
# ACID / streaming / daily-sync pipelines
# ---------------------------------------------------------------------------


def test_daily_sync_pipeline_python_replay(spark, sfd):
    """End-to-end flagship: with an empty target, the post-merge state is
    exactly the run-date partition of the 10k generator batch."""
    lo = _dt.datetime(2025, 3, 15)
    hi = lo + _dt.timedelta(days=1)
    want = {w["OrderID"]: w for w in _fake_orders(10000)
            if w["OrderCreatedAt"] is not None and lo <= w["OrderCreatedAt"] < hi}
    got = {r["OrderID"]: r for r in _rows(spark, "daily_sync_pipeline", sfd)}
    assert set(got) == set(want)
    for k, w in want.items():
        r = got[k]
        for col in ("UserID", "AddedToCartAt", "OrderCreatedAt", "Product",
                    "IsDelivered"):
            assert r[col] == w[col], (k, col)
        assert abs(float(r["Amount"]) - w["Amount"]) < 1e-9, k


def test_governed_ingest_python_replay(spark, sfd):
    """Expectations gate + ACID load + quarantine reconciliation, replayed
    as plain counts over the generator batch."""
    gen = _fake_orders(1000)
    ok_nn = [g["OrderCreatedAt"] is not None for g in gen]
    ok_amt = [g["Amount"] <= 1900 for g in gen]
    (r,) = _rows(spark, "governed_ingest", sfd)
    assert r["rows_seen"] == 1000
    assert r["rows_loaded"] == sum(a and b for a, b in zip(ok_nn, ok_amt))
    assert r["rows_quarantined"] == 1000 - r["rows_loaded"]
    assert r["viol_not_null"] == sum(not a for a in ok_nn)
    assert r["viol_amount"] == sum(not b for b in ok_amt)


def test_txn_table_snapshot_python_replay(spark, sfd):
    """Three-commit ACID history (append, append, copy-on-write merge) read
    back at head == a plain Python fold over the raw orders rows."""
    raw = _orders_raw(sfd)
    want: dict[tuple[str, str], list[int]] = {}
    for r in raw:
        d = r[4].date()
        if not (_dt.date(1995, 3, 1) <= d <= _dt.date(1995, 4, 30)):
            continue
        status, price = ((("U"), r[3] + 10.0) if d == _RUN_DATE
                         else (r[2], r[3]))
        acc = want.setdefault((d.strftime("%Y-%m"), status), [0, 0])
        acc[0] += 1
        acc[1] += _cents(price)
    got = {(r["month"], r["o_orderstatus"]): (r["n_orders"], r["revenue_cents"])
           for r in _rows(spark, "txn_table_snapshot", sfd)}
    assert got == {k: (v[0], v[1]) for k, v in want.items()}


def test_txn_table_changes_python_replay(spark, sfd):
    """table_changes(0, 1) recovers exactly the merge commit's changeset:
    April 1-3 inserts + run-date update postimages."""
    raw = _orders_raw(sfd)
    ins = [r for r in raw
           if _dt.date(1995, 4, 1) <= r[4].date() <= _dt.date(1995, 4, 3)]
    upd = [r for r in raw if r[4].date() == _RUN_DATE]
    got = {r["_change_type"]: (r["n_rows"], r["cents"])
           for r in _rows(spark, "txn_table_changes", sfd)}
    # a change category with zero rows produces NO row (groupBy semantics
    # — the seed-48 campaign find)
    want = {}
    if ins:
        want["insert"] = (len(ins), sum(_cents(r[3]) for r in ins))
    if upd:
        want["update_postimage"] = (
            len(upd), sum(_cents(r[3] + 10.0) for r in upd))
    assert got == want


def test_streaming_cdc_rollup_python_replay(spark, sfd):
    """Two availableNow CDC passes fold into the same per-day rollup a
    plain Python dict computes from the final table state."""
    raw = _orders_raw(sfd)
    want: dict[str, list[int]] = {}
    for r in raw:
        d = r[4].date()
        if _dt.date(1995, 3, 1) <= d <= _dt.date(1995, 3, 31):
            price = r[3] + 10.0 if d == _RUN_DATE else r[3]
        elif _dt.date(1995, 4, 1) <= d <= _dt.date(1995, 4, 3):
            price = r[3]
        else:
            continue
        acc = want.setdefault(str(d), [0, 0])
        acc[0] += 1
        acc[1] += _cents(price)
    got = {r["day"]: (r["n_rows"], r["revenue_cents"])
           for r in _rows(spark, "streaming_cdc_rollup", sfd)}
    assert got == {k: (v[0], v[1]) for k, v in want.items()}
