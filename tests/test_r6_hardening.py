"""Round-6 hardening regression tests.

Covers the r5 verdict's correctness-hazard asks with fixtures that
exercise the failure mode directly, not just the happy-path testdata:

* join_skew_audit on a NULL-KEY-SKEWED input: null join keys reaching the
  top-5 heavy hitters is exactly what the audit exists to surface, and it
  is where Spark (NULLS FIRST on ASC) and DuckDB (NULLS LAST on ASC)
  silently diverge unless the ordering is spelled out on both sides.
* integer quality score on LONG documents: 2000000 * sw overflows int32
  for docs with >1073 stopword tokens (and 800000 * np for >2684
  punctuation chars) unless the operand is widened to bigint BEFORE the
  multiply — invisible at fixture scale where no doc is that long.
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, "tools")

from check_correctness import compare  # noqa: E402

from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import (  # noqa: E402
    ORACLES,
    QUERIES,
)


def _write_parquet(path, frame: pd.DataFrame) -> None:
    frame.to_parquet(path, index=False)


@pytest.fixture(scope="module")
def null_skew_dir(tmp_path_factory):
    """A mini fixture dir where NULL is a top-5 heavy hitter in every
    audited join column — including one table where NULL TIES a non-null
    key on count, so the rank tiebreak order itself is exercised."""
    d = tmp_path_factory.mktemp("null_skew")
    # orders: NULL is the single heaviest key
    o_cust = [None] * 50 + [1] * 40 + [2] * 30 + [3] * 20 + [4] * 10 + [5] * 5
    _write_parquet(
        d / "orders.parquet",
        pd.DataFrame({"o_custkey": pd.array(o_cust, dtype="Int64")}),
    )
    # lineitem: NULL TIES key 7 at 25 rows — the rank-3/4 split depends
    # entirely on the NULLS FIRST/LAST convention agreeing cross-engine
    l_supp = [None] * 25 + [7] * 25 + [8] * 40 + [9] * 30 + [10] * 10 + [11] * 5
    _write_parquet(
        d / "lineitem.parquet",
        pd.DataFrame({"l_suppkey": pd.array(l_supp, dtype="Int64")}),
    )
    # events: NULL mid-pack in the top-5; ts column present because the
    # loader normalizes it
    u = [None] * 30 + [100] * 50 + [200] * 20 + [300] * 10 + [400] * 5
    _write_parquet(
        d / "events.parquet",
        pd.DataFrame(
            {
                "user_id": pd.array(u, dtype="Int64"),
                "ts": pd.to_datetime(["2024-01-01 00:00:00"] * len(u)),
            }
        ),
    )
    return str(d)


def test_join_skew_audit_null_keys_in_top5(spark, null_skew_dir):
    sdf = QUERIES["join_skew_audit"](spark, null_skew_dir).toPandas()
    con = duckdb.connect()
    for t in ("orders", "lineitem", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{null_skew_dir}/{t}.parquet'"
        )
    odf = con.execute(ORACLES["join_skew_audit"]).fetchdf()
    problems = compare("join_skew_audit", sdf, odf)
    assert not problems, problems
    # the scenario is real: a NULL key actually ranks in the top-5 of
    # every table, and in lineitem it sits on the count tie
    nulls = sdf[sdf["key_val"].isna()]
    assert set(nulls["tbl"]) == {"orders", "lineitem", "events"}
    li = sdf[sdf["tbl"] == "lineitem"].set_index("rnk")
    assert li.loc[3, "n_rows"] == li.loc[4, "n_rows"] == 25
    # NULLS FIRST: the null key wins the tie -> rank 3
    assert pd.isna(li.loc[3, "key_val"]) and li.loc[4, "key_val"] == 7


@pytest.fixture(scope="module")
def long_doc_dir(tmp_path_factory):
    """documents fixture with one adversarially LONG document: >1073
    stopword tokens and >2684 punctuation chars, so both int32-overflow
    products in the quality score go negative without the bigint cast."""
    d = tmp_path_factory.mktemp("long_docs")
    long_doc = ("the and of to in is it or an a " * 200) + ("!?.,;:" * 600)
    docs = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(6)],
            "source": ["s0"] * 6,
            "text": [
                long_doc,
                long_doc,  # exact duplicate of the long doc
                "a short clean document about trains.",
                "a short clean document about trains.",
                "another unrelated short text!",
                "",
            ],
        }
    )
    _write_parquet(d / "documents.parquet", docs)
    return str(d)


@pytest.mark.parametrize(
    "name", ["quality_dup_calibration", "quality_selection_frontier"]
)
def test_quality_score_no_int32_overflow_on_long_docs(spark, long_doc_dir, name):
    sdf = QUERIES[name](spark, long_doc_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{long_doc_dir}/documents.parquet'"
    )
    odf = con.execute(ORACLES[name]).fetchdf()
    problems = compare(name, sdf, odf)
    assert not problems, problems
    # overflow symptom was a NEGATIVE score component; the blended score
    # is bounded [0, 1_000_000] by construction
    score_col = "mean_score_micro" if "mean_score_micro" in sdf else "score_floor"
    assert (sdf[score_col] >= 0).all()
    assert (sdf[score_col] <= 1_000_000).all()


@pytest.fixture(scope="module")
def null_price_dir(tmp_path_factory):
    """200 distinct prices plus 10 NULL ones: the NULL rows sort into the
    cumulative windows of hdr_quantile_sketch, first or last."""
    d = tmp_path_factory.mktemp("null_prices")
    prices = [round(i * 1.37, 2) for i in range(1, 201)] + [None] * 10
    _write_parquet(
        d / "orders.parquet",
        pd.DataFrame({"o_totalprice": pd.array(prices, dtype="Float64")}),
    )
    return str(d)


def test_hdr_quantile_sketch_null_prices_sort_last(spark, null_price_dir):
    """The oracle orders NULL cents (and their NULL bucket) last; Spark's
    default ASC puts them first, which shifts every rank by the NULL count."""
    sdf = QUERIES["hdr_quantile_sketch"](spark, null_price_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{null_price_dir}/orders.parquet'"
    )
    odf = con.execute(ORACLES["hdr_quantile_sketch"]).fetchdf()
    problems = compare("hdr_quantile_sketch", sdf, odf)
    assert not problems, problems
    # the ranks of p50..p95 fall on priced rows, p99 on a NULL one
    assert sdf.set_index("pct")["exact_cents"].isna().to_dict() == {
        50: False, 90: False, 95: False, 99: True}
