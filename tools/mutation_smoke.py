"""Mutation smoke-test of the verification stack (round 9, r8 verdict ask #3).

"The suites caught two bugs" (friedman r7, dist_moments r8) is anecdote;
this converts it into evidence the stack provably catches the CLASS: each
canned mutation re-introduces a single-line formula error — including
SHARED-constant errors that corrupt the Spark query and the DuckDB oracle
IDENTICALLY, the exact blind spot oracle parity cannot see — and the named
independent check must go red. A mutation that survives is a hole; the
response is a new invariant pin, not a shrug.

For each mutation: apply the patch (uniqueness-checked literal replacement),
run the detector (a pytest node from the independent suites, or an oracle
parity check for engine-side-only mutations), REQUIRE failure, restore the
file. Files are restored from in-memory copies in a finally block and the
tool refuses to start on a dirty target file, so a crashed run cannot leave
mutations behind.

Usage:
    python tools/mutation_smoke.py [--report MUTATION.md] [name ...]
"""

from __future__ import annotations

import argparse
import subprocess
import sys
import time
from dataclasses import dataclass, field

import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DQ = "etl_mssql_to_postgres_dailysync_spark/plans/driver_queries.py"
_DEDUP = "etl_mssql_to_postgres_dailysync_spark/functions/dedup.py"
_CUMSUM = "etl_mssql_to_postgres_dailysync_spark/operators/cumsum.py"
_SIM = "etl_mssql_to_postgres_dailysync_spark/functions/similarity.py"
_JOINS = "etl_mssql_to_postgres_dailysync_spark/operators/joins.py"
_SF = "/root/testdata/sf0.001"


@dataclass
class Mutation:
    name: str
    file: str
    old: str
    new: str
    detector: list[str]          # subprocess argv, run from repo root
    scope: str                   # "shared" (both engines) or "spark-only"
    what: str                    # one-line description of the seeded bug
    count: int = 1               # expected occurrences of `old`
    extra: dict = field(default_factory=dict)


def _pytest(node: str) -> list[str]:
    return [sys.executable, "-m", "pytest", node, "-x", "-q",
            "-p", "no:cacheprovider"]


def _oracle(*queries: str) -> list[str]:
    return [sys.executable, "tools/check_correctness.py", _SF, *queries]


def _degenerate(kind: str, *queries: str) -> list[str]:
    """Oracle parity at a degenerate fixture — the standing degenerate
    gate's sweep (tests/test_degenerate_gate.py runs it on the full
    registry per kind; mutations only need the queries the bug can move)."""
    return [sys.executable, "tools/parity_sweep.py", kind, *queries]


MUTATIONS = [
    Mutation(
        "friedman_coefficient", _DQ,
        '"((12.0 * sum_r2sq', '"((6.0 * sum_r2sq',
        _pytest("tests/test_replay_numpy.py::test_friedman_q_numpy[seed42]"),
        "shared", "halve the Friedman Q coefficient (the r7 bug class) in "
                  "the constant BOTH engines render",
    ),
    Mutation(
        "anova_dof", _DQ,
        '"((ssb / (k - 1)) / (ssw / (n - k)))"',
        '"((ssb / k) / (ssw / (n - k)))"',
        _pytest("tests/test_replay_numpy.py::test_one_way_anova_numpy[seed42]"),
        "shared", "wrong between-group degrees of freedom in the shared "
                  "ANOVA F text (also feeds levene_brown_forsythe)",
    ),
    Mutation(
        "kneser_ney_discount", _DQ,
        "_KN_D_MILLI = 750", "_KN_D_MILLI = 700",
        _pytest("tests/test_replay_numpy.py::test_kneser_ney_numpy[seed42]"),
        "shared", "wrong absolute discount D in the shared Kneser-Ney "
                  "constant",
    ),
    Mutation(
        "dist_moments_skew_n", _DQ,
        'skew = (n * s3 - 3.0 * s1 * s2 + 2.0 * s1 * s1 * s1 / F.col("n")) / (\n'
        '        n * F.col("n") * F.pow(var_num / F.col("n") / F.col("n"), 1.5)\n'
        "    )",
        'skew = (n * s3 - 3.0 * s1 * s2 + 2.0 * s1 * s1 * s1 / F.col("n")) / (\n'
        '        n * F.pow(var_num / F.col("n") / F.col("n"), 1.5)\n'
        "    )",
        _pytest("tests/test_replay_numpy.py::test_dist_moments_numpy[seed42]"),
        "spark-only", "re-introduce the exact r8 dist_moments bug "
                      "(skewness normalized by n, not n^2)",
    ),
    Mutation(
        "conformal_rank_floor", _DQ,
        "k = min((9 * (n_calib + 1) + 9) // 10, n_calib)",
        "k = min((9 * (n_calib + 1)) // 10, n_calib)",
        _oracle("conformal_interval"),
        "spark-only", "drop the ceil in the calibration-quantile rank "
                      "(floor instead of ceil(0.9*(n+1)))",
    ),
    Mutation(
        "simhash_tie_vote", _DEDUP,
        'lambda cnt, j: F.when(cnt > 0, pow2(j)).otherwise(F.lit(0).cast("long")),',
        'lambda cnt, j: F.when(cnt >= 0, pow2(j)).otherwise(F.lit(0).cast("long")),',
        _pytest("tests/test_replay_pipelines.py::"
                "test_dedup_simhash_python_replay[seed42]"),
        "spark-only", "flip zero-vote bits to 1 in the SimHash sign pack",
    ),
    Mutation(
        "shingle_hash_seed", _DEDUP,
        '_mh_const("sh-c1", MINHASH_P - 2) + 2',
        '_mh_const("sh-x1", MINHASH_P - 2) + 2',
        _pytest("tests/test_replay_pipelines.py::"
                "test_minhash_signature_value_pin[seed42]"),
        "spark-only", "different shingle polynomial constant — caught by "
                      "the signature VALUE pin (match-count replays proved "
                      "constant-insensitive: any constant preserves the "
                      "equality structure of exact duplicates)",
    ),
    Mutation(
        "global_rank_offset", _CUMSUM,
        'offsets[row["_pid"]] = running',
        'offsets[row["_pid"]] = running + 1',
        _pytest("tests/test_replay_pipelines.py::"
                "test_exact_percentiles_python_replay[seed42]"),
        "spark-only", "off-by-one every two-phase global rank offset",
    ),
    Mutation(
        "theil_sen_offset_drop", _DQ,
        ' div (xb - xa) - cast({_TS_OFF} as bigint) as bigint)"',
        ' div (xb - xa) as bigint)"',
        _pytest("tests/test_replay_numpy.py::test_theil_sen_slope_python_replay[seed42]"),
        "spark-only", "drop the negative-slope offset un-shift from the "
                      "pairwise slope staging (an upper-vs-lower-median "
                      "flip proved a NO-OP: pair counts C(90,2) are odd, "
                      "so (n+1)//2 == (n+2)//2 — mutations must move the "
                      "fixture's actual output)",
    ),
    Mutation(
        "sigmoid_denominator", _DQ,
        '("p_ppm", f"u5 * 1000000 {op} (1000000 + u5)"),',
        '("p_ppm", f"u5 * 1000000 {op} (2000000 + u5)"),',
        _pytest("tests/test_replay_numpy.py::test_logistic_irls_numpy[seed42]"),
        "shared", "corrupt the shared fixed-point sigmoid denominator "
                  "(both engines compute the same wrong p)",
    ),
    # --- r10 rows: seed the r9 degenerate-campaign fix classes and require
    # the standing degenerate gate's detector arm to catch each (proving
    # tests/test_degenerate_gate.py has teeth on exactly the bug classes it
    # was built for) -------------------------------------------------------
    Mutation(
        "kmeans_empty_guard_drop", _SIM,
        """    if not rows:
        # empty corpus: nothing to train on — no centroids. _cells_udf
        # assigns [] cells for an empty centroid list (even when the query
        # side is non-empty), so downstream search results are empty.
        return []
""",
        "",
        _degenerate("empty_facts", "similarity_ann_ivf_trained"),
        "spark-only", "drop kmeans_fit_list's empty-corpus guard "
                      "(similarity.py:504 — the 1-D-empty-numpy crash class "
                      "the r9 campaign fixed)",
    ),
    Mutation(
        "cells_udf_empty_guard_drop", _SIM,
        """        if len(ids) == 0:
            # untrained (empty corpus): no cells exist, so every row probes
            # nothing — the explode over [] drops it, and the search result
            # is empty even when THIS side (e.g. queries) is non-empty.
            return pd.Series([[] for _ in range(len(s))])
""",
        "",
        _pytest("tests/test_functions.py::TestKMeansIVF::"
                "test_trained_ivf_empty_corpus_nonempty_queries"),
        "spark-only", "drop the assignment UDF's empty-centroid guard "
                      "(empty corpus + NON-empty queries raises IndexError "
                      "inside the pandas UDF — the r10 advice find)",
    ),
    Mutation(
        "asof_nullkey_match_drop", _JOINS,
        """    for k in keys:
        matched = F.when(F.col(k).isNotNull(), matched)
""",
        "",
        _degenerate("null_keys", "asof_join"),
        "spark-only", "remove the asof-join NULL-key projection "
                      "(joins.py:102 — NULL keys spuriously match each "
                      "other through the window partition, the headline "
                      "r9 NULL-semantics find)",
    ),
    Mutation(
        "cms_null_key_unpin", _DQ,
        'events = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())',
        'events = _t(spark, sf_dir, "events")',
        _degenerate("mixed_null_keys", "cms_frequency_sketch"),
        "spark-only", "un-pin the CMS/CountSketch NULL-key exclusion on the "
                      "Spark side only (the oracle still excludes NULLs; "
                      "r9 find: a NULL key violated CMS >= exact). The "
                      "all-NULL fixture proved BLIND to this — the final "
                      "join on user_id re-excludes the NULL row, so row "
                      "counts match — which is why the r10 mixed_null_keys "
                      "fixture exists: there the un-excluded NULL group "
                      "displaces a real heavy hitter inside the top-10",
        count=2,
    ),
    Mutation(
        "weiszfeld_clamp_floor", _DQ,
        'as bigint), 1000)',
        'as bigint), 1)',
        _degenerate("alldup_docs", "geometric_median_embeddings"),
        "spark-only", "re-lower the Weiszfeld coincident-point clamp floor "
                      "to 1 on the Spark side (r9 find: an all-identical "
                      "corpus overflows int64 — DuckDB raised, Spark "
                      "wrapped silently)",
    ),
    Mutation(
        "closure_level_dedup_drop", _DQ,
        'SELECT DISTINCT r.a, s.b, r.d + 1 FROM reach r JOIN sym s ON s.a = r.b',
        'SELECT r.a, s.b, r.d + 1 FROM reach r JOIN sym s ON s.a = r.b',
        _degenerate("alldup_docs", "components_recursive_sql"),
        "shared", "drop the recursive-CTE per-level dedup from the SHARED "
                  "closure SQL (healthy fixtures still pass — GROUP BY "
                  "absorbs the duplicates — but the 100%-duplicate corpus "
                  "explodes past the 30M recursion row limit; r9 find)",
    ),
]


_BASELINE_CACHE: dict[tuple, int] = {}


def _baseline_green(detector: list[str]) -> tuple[bool, str]:
    """Run the detector once on the UNMUTATED tree and require it to pass.

    Guards the instrument itself (r9 advice): a typo'd pytest node id exits
    4/5 ("no tests collected") and a crashed detector exits nonzero — both
    would otherwise be recorded as a successful CAUGHT. A detector that is
    red before the mutation proves nothing about the mutation."""
    key = tuple(detector)
    if key not in _BASELINE_CACHE:
        proc = subprocess.run(detector, cwd=_REPO, capture_output=True,
                              text=True)
        _BASELINE_CACHE[key] = proc.returncode
        _BASELINE_CACHE[(key, "tail")] = " | ".join(
            (proc.stdout + proc.stderr).strip().splitlines()[-3:])[-300:]
    rc = _BASELINE_CACHE[key]
    return rc == 0, _BASELINE_CACHE.get((key, "tail"), "")


def run_one(m: Mutation) -> dict:
    path = os.path.join(_REPO, m.file)
    with open(path) as f:
        original = f.read()
    found = original.count(m.old)
    if found != m.count:
        return {"name": m.name, "status": "SNIPPET-DRIFT",
                "detail": f"expected {m.count} occurrence(s), found {found}"}
    t0 = time.time()
    ok, base_tail = _baseline_green(m.detector)
    if not ok:
        return {"name": m.name, "status": "BASELINE-RED",
                "scope": m.scope, "what": m.what,
                "wall_s": round(time.time() - t0, 1),
                "detail": f"detector fails on the unmutated tree: {base_tail}"}
    try:
        with open(path, "w") as f:
            f.write(original.replace(m.old, m.new))
        proc = subprocess.run(m.detector, cwd=_REPO, capture_output=True,
                              text=True)
        # pytest: 1 = tests ran and failed; 2/3/4/5 = usage error / internal
        # error / no tests collected. check_correctness.py: 1 = mismatch.
        # Only a clean "ran and failed" counts as a catch.
        if proc.returncode == 1:
            status = "CAUGHT"
        elif proc.returncode == 0:
            status = "SURVIVED"
        else:
            status = f"DETECTOR-ERROR({proc.returncode})"
        tail = (proc.stdout + proc.stderr).strip().splitlines()[-3:]
        return {"name": m.name, "status": status,
                "scope": m.scope, "what": m.what,
                "detector": " ".join(m.detector[2:] if "pytest" in m.detector[2:3]
                                     else m.detector[1:]),
                "wall_s": round(time.time() - t0, 1),
                "detail": " | ".join(tail)[-300:]}
    finally:
        with open(path, "w") as f:
            f.write(original)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", help="mutation names (default: all)")
    ap.add_argument("--report", default="MUTATION.md")
    args = ap.parse_args()
    todo = [m for m in MUTATIONS if not args.names or m.name in args.names]
    for f in {m.file for m in todo}:
        dirty = subprocess.run(["git", "diff", "--quiet", "--", f],
                               cwd=_REPO).returncode != 0
        if dirty:
            print(f"refusing to run: {f} has uncommitted changes")
            return 2
    results = [run_one(m) for m in todo]
    n_caught = sum(1 for r in results if r["status"] == "CAUGHT")
    lines = [
        "# MUTATION — smoke-test of the verification stack (r10)",
        "",
        "Each row seeds one single-line formula error and requires the named",
        "independent check to go red. `shared` rows corrupt the Spark query",
        "and the DuckDB oracle IDENTICALLY — oracle parity stays green on",
        "them by construction, so only a third implementation can object.",
        "r10 rows seed the r9 degenerate-campaign fix classes; their",
        "detector is the standing degenerate gate's parity sweep on the",
        "affected queries (tools/parity_sweep.py <kind> <query>, the sweep",
        "tests/test_degenerate_gate.py runs per kind). Every detector is",
        "first required to PASS on the",
        "unmutated tree (BASELINE-RED otherwise), and only exit code 1 —",
        "tests ran and failed — counts as CAUGHT (a typo'd node id or a",
        "crashed detector reports DETECTOR-ERROR, not a catch).",
        "Generated by `python tools/mutation_smoke.py`; files restored after",
        "each run (tool refuses to start on a dirty target).",
        "",
        f"**{n_caught}/{len(results)} mutations caught.**",
        "",
        "| mutation | scope | seeded error | detector | result | s |",
        "|---|---|---|---|---|---|",
    ]
    for r in results:
        lines.append(
            f"| {r['name']} | {r.get('scope','?')} | {r.get('what','')} | "
            f"`{r.get('detector','')}` | **{r['status']}** | "
            f"{r.get('wall_s','')} |"
        )
        print(f"{r['status']:>9}  {r['name']}  [{r.get('wall_s','?')}s]")
        if r["status"] != "CAUGHT":
            print(f"           {r.get('detail','')}")
    with open(os.path.join(_REPO, args.report), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{n_caught}/{len(results)} caught -> {args.report}")
    return 0 if n_caught == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
