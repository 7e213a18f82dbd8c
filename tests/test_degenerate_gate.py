"""Standing degenerate-fixture gate (round 10, r9 verdict ask #2).

The r9 degenerate campaign (now tools/parity_sweep.py) found ~25 real
defects, but it was a tool + one-shot artifact: nothing in pytest went red
if a later engine change broke a degenerate contract and nobody re-ran the
sweep. This module gives the campaign the same standing-gate treatment the
scaling ratchet got (test_scaling_budget.py).

Opt-in (SPARK_GRAFT_DEGENERATE=1): for each kind in
tools/gen_fixture.DEGENERATE_KINDS it calls tools/parity_sweep.sweep, which
regenerates-or-reuses the derived fixture (content-stamped: the kind's
override SQL + the source parquet mtimes key the .complete marker) and runs
the FULL registry through tools/check_correctness.py against the DuckDB
oracle, asserting every query passes. Snapshot reuse is keyed on the
engine/registry content hash (parity_sweep.code_hash), so a green re-run at
unchanged code is seconds, while any engine edit forces a live re-sweep of
all seven kinds — an engine change that breaks a degenerate contract goes
red HERE without anyone remembering to run a tool.

Red-case evidence: tools/mutation_smoke.py rows r10+ seed the r9 fix
classes (dropped empty-input guards, the asof NULL-key projection, the CMS
NULL-key exclusion, the Weiszfeld clamp floor, the recursive-CTE per-level
dedup) and require this gate's parity sweep, run on just the affected
queries (``python tools/parity_sweep.py <kind> <query>``), to catch each —
see MUTATION.md.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

if os.environ.get("SPARK_GRAFT_DEGENERATE") != "1":
    pytest.skip(
        "degenerate-fixture gate is opt-in: set SPARK_GRAFT_DEGENERATE=1 "
        "(sweeps the full registry at seven adversarial fixtures; snapshot "
        "reuse makes a green re-run at unchanged code cheap)",
        allow_module_level=True,
    )

from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES  # noqa: E402
from gen_fixture import DEGENERATE_KINDS  # noqa: E402
from parity_sweep import code_hash, sweep  # noqa: E402

_N_QUERIES = len(QUERIES)
_CODE_HASH = code_hash()


@pytest.mark.parametrize("kind", DEGENERATE_KINDS)
def test_full_registry_green_at_degenerate_fixture(kind):
    result = sweep(kind, _N_QUERIES, _CODE_HASH)
    fails = {k: v for k, v in result.get("queries", {}).items()
             if v.get("status") not in ("OK", "ROWS")}
    assert result.get("n_fail") == 0 and not fails, (
        f"degenerate contract broken at fixture '{kind}': "
        f"{sorted(fails)[:10]} "
        f"(n_ok={result.get('n_ok')}/{_N_QUERIES}; detail snapshot "
        f".fixtures/allgreen_degenerate_{kind}.json)"
    )
    assert result.get("n_ok") == _N_QUERIES, (
        f"fixture '{kind}' swept only {result.get('n_ok')}/{_N_QUERIES} "
        f"queries — registry drifted without a re-sweep?"
    )
