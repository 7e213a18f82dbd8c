"""The measurement tools under tools/ measure what they claim.

* tools/profile_queries.py counts the Spark jobs of every thread: a query
  whose build runs an availableNow stream (the stream's batches run on the
  stream's own thread, under its own job group) reports those jobs.
* tools/parity_sweep.py reuses a detail snapshot only when it is green, covers
  the expected queries and carries the current code hash; anything else is
  deleted and swept again. These checks replace the check_correctness
  subprocess with a stub, so they start no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

import parity_sweep  # noqa: E402


def test_profiler_counts_jobs_of_stream_threads(tmp_path, sf_dir):
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "profile_queries.py"),
         sf_dir, "streaming_sessionize", "streaming_dedup_replay",
         "pricing_summary"],
        cwd=tmp_path, capture_output=True, text=True, timeout=900,
        env={**os.environ, "SPARK_GRAFT_BENCH_RUNS": "1"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    recs = {r["query"]: r for r in map(json.loads, proc.stdout.splitlines())
            if r.get("query")}
    assert recs["streaming_sessionize"]["build_jobs"] >= 1, recs
    assert recs["streaming_dedup_replay"]["build_jobs"] >= 1, recs
    assert recs["pricing_summary"]["build_jobs"] == 0, recs
    assert recs["pricing_summary"]["act_jobs"] >= 1, recs


_ARTIFACT = {
    "sf_dir": "/fixture", "n_queries": 3, "n_ok": 2, "n_fail": 1,
    "invocations": 1,
    "queries": {"a": {"status": "OK", "rows": 1, "wall_s": 0.5},
                "b": {"status": "ROWS", "rows": 2, "wall_s": 0.25},
                "c": {"status": "FAIL", "rows": 0, "wall_s": 1.0, "err": "x"}},
}


@pytest.fixture
def stub_sweep(tmp_path, monkeypatch):
    """parity_sweep with its snapshots under tmp_path, fixtures that build
    nothing, and a check_correctness stub that writes ``_ARTIFACT``."""
    calls = []

    def fake_run(argv, **_kw):
        calls.append(argv)
        with open(argv[argv.index("--json") + 1], "w") as f:
            json.dump(_ARTIFACT, f)
        return subprocess.CompletedProcess(argv, 1)

    monkeypatch.setattr(parity_sweep, "FIXTURES", str(tmp_path))
    monkeypatch.setattr(parity_sweep, "subprocess", SimpleNamespace(run=fake_run))
    monkeypatch.setattr(parity_sweep, "generate", lambda seed, **_kw: "/fixture")
    monkeypatch.setattr(parity_sweep, "generate_degenerate", lambda kind: "/fixture")
    return calls


def _snapshot(tmp_path, **kw) -> str:
    path = os.path.join(tmp_path, "allgreen_degenerate_null_keys.json")
    with open(path, "w") as f:
        json.dump({"n_queries": 3, "n_ok": 3, "n_fail": 0, "invocations": 1,
                   "code_hash": "h1", "queries": {}, **kw}, f)
    return path


@pytest.mark.parametrize("stale", [{"n_queries": 2}, {"n_fail": 1},
                                   {"code_hash": "h0"}])
def test_sweep_reruns_a_stale_or_red_snapshot(tmp_path, stub_sweep, stale):
    path = _snapshot(tmp_path, **stale)
    result = parity_sweep.sweep("null_keys", 3, "h1")
    assert len(stub_sweep) == 1
    assert result["n_fail"] == 1 and result["code_hash"] == "h1"
    with open(path) as f:
        assert json.load(f) == result


def test_sweep_reuses_a_green_snapshot_of_this_code(tmp_path, stub_sweep):
    _snapshot(tmp_path)
    result = parity_sweep.sweep("null_keys", 3, "h1")
    assert stub_sweep == []
    assert result["n_ok"] == 3 and result["code_hash"] == "h1"


def test_sweep_subset_has_its_own_snapshot(tmp_path, stub_sweep):
    full = _snapshot(tmp_path)
    parity_sweep.sweep("null_keys", 3, "h1", ["asof_join"])
    assert stub_sweep[0][-2:] == ["/fixture", "asof_join"]
    assert os.path.exists(full)


def test_combined_artifact_keeps_the_sweep_keys(tmp_path, stub_sweep,
                                                monkeypatch):
    out = os.path.join(tmp_path, "all.json")
    monkeypatch.setattr(sys, "argv", ["parity_sweep.py", "--out", out,
                                      "44", "null_keys"])
    assert parity_sweep.main() == 1
    with open(out) as f:
        combined = json.load(f)
    assert combined["all_ok"] is False
    assert combined["code_hash"] == parity_sweep.code_hash()
    for section, name in (("seeds", "44"), ("kinds", "null_keys")):
        entry = combined[section][name]
        assert combined[f"n_{section}"] == 1
        assert {k: entry[k] for k in ("n_ok", "n_fail", "invocations", "wall_s")} == {
            "n_ok": 2, "n_fail": 1, "invocations": 1, "wall_s": 1.8}
        assert list(entry["failures"]) == ["c"]
