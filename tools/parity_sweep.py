"""Oracle-parity sweep over derived fixtures: seeded subsamples and
degenerate shapes.

Oracle parity at one dataset is a single point in input space; the
friedman_test_blocks and basket-size bugs both came from a SECOND fixture,
and an empty CDC window (seed 48) found an oracle bug that the degenerate
kinds now build on purpose. For each fixture this tool regenerates (or
reuses) it with tools/gen_fixture.py, runs tools/check_correctness.py --json
on it — the full registry, or only the named queries — against the DuckDB
oracle, and stamps the detail snapshot with the engine/registry content
hash. With ``--out`` it also writes one combined artifact summarizing every
fixture.

A fixture is named by a seed (an integer: a seed-keyed ~90% FK-consistent
subsample of the sf0.001 fixture, gen_fixture.SRC_DEFAULT, or of ``--src``)
or by a degenerate kind from gen_fixture.DEGENERATE_KINDS (empty fact
tables, single-row groups, all-NULL keys, zero-variance constants,
one-customer/one-day skew, 100%-duplicate corpus, ...). Every other
positional argument is a query name; with none, the full registry runs.

Usage:
    python tools/parity_sweep.py [--out ALLGREEN_x.json] [--src SF_DIR]
                                 [fixture ...] [query ...]

Fixtures default to seeds 44-48 plus every degenerate kind. Detail snapshots
live at .fixtures/allgreen_<fixture>.json (gitignored); a snapshot is reused
only when it covers the expected number of queries, is all-OK, AND carries
the current content hash, so a pre-change green snapshot never masquerades
as evidence for changed code; any other snapshot is deleted and the fixture
swept again. The combined artifact keeps per-fixture summaries plus any
per-query failures verbatim, so an all-green file stays small while a red
one carries the evidence. Exit codes: 0 all green, 1 a query failed,
2 check_correctness wrote no snapshot (infra error).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen_fixture import DEGENERATE_KINDS, generate, generate_degenerate  # noqa: E402

FIXTURES = os.path.join(_REPO, ".fixtures")
DEFAULT_SEEDS = ["44", "45", "46", "47", "48"]


def code_hash() -> str:
    """Content hash over every engine/registry source file. Snapshot reuse is
    keyed on this: after ANY engine or oracle change the hash moves, so a
    pre-change green snapshot can never masquerade as evidence for the
    current code. A content hash beats git HEAD here because sweeps
    legitimately run with uncommitted changes."""
    h = hashlib.md5()
    pkg = os.path.join(_REPO, "etl_mssql_to_postgres_dailysync_spark")
    paths = [os.path.join(_REPO, "__spark_entry__.py")]
    for root, _dirs, files in os.walk(pkg):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _fixture(name: str, src: str | None):
    """Fixture name -> (snapshot stem, a function that builds the fixture
    and returns its sf_dir). ``src`` applies to seeds only."""
    if name in DEGENERATE_KINDS:
        return f"degenerate_{name}", lambda: generate_degenerate(name)
    seed = int(name)
    if src is None:
        return f"seed{seed}", lambda: generate(seed)
    stem = f"seed{seed}_{os.path.basename(src.rstrip('/'))}"
    return stem, lambda: generate(seed, src=src, dst=os.path.join(FIXTURES, stem))


def sweep(name: str, n_queries: int, chash: str,
          queries: list[str] | tuple[str, ...] = (), src: str | None = None) -> dict:
    """Parity result for fixture ``name`` (a seed or a degenerate kind): the
    reused snapshot if it is green for this code and query set, else a fresh
    check_correctness run on the regenerated-or-reused fixture."""
    stem, build = _fixture(name, src)
    if queries:  # a subset keeps its own snapshot beside the full one
        stem += "_q" + hashlib.md5(",".join(sorted(queries)).encode()).hexdigest()[:8]
    snap = os.path.join(FIXTURES, f"allgreen_{stem}.json")
    expected = len(queries) or n_queries
    if os.path.exists(snap):
        with open(snap) as f:
            prior = json.load(f)
        if (prior.get("n_queries") == expected and prior.get("n_fail") == 0
                and prior.get("code_hash") == chash):
            return prior
        os.remove(snap)  # stale/red/other-code: never masquerade as fresh
    sf_dir = build()
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "check_correctness.py"),
         "--json", snap, sf_dir, *queries],
        cwd=_REPO, check=False,
    )
    if not os.path.exists(snap):
        raise RuntimeError(
            f"check_correctness on {sf_dir} exited {proc.returncode} "
            f"without writing {snap} — see its output above"
        )
    with open(snap) as f:
        result = json.load(f)
    result["code_hash"] = chash  # stamp so a later sweep can key reuse on it
    with open(snap, "w") as f:
        json.dump(result, f, indent=1)
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*",
                    help="fixtures (seeds or degenerate kinds), then query names")
    ap.add_argument("--out", default=None,
                    help="combined artifact filename (written at repo root)")
    ap.add_argument("--src", default=None,
                    help="source dir seed fixtures are derived from "
                         "(default gen_fixture.SRC_DEFAULT, sf0.001)")
    args = ap.parse_args()
    fixtures = [n for n in args.names if n in DEGENERATE_KINDS or n.isdigit()]
    queries = [n for n in args.names if n not in fixtures]
    fixtures = fixtures or DEFAULT_SEEDS + DEGENERATE_KINDS
    from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES

    unknown = [q for q in queries if q not in QUERIES]
    if unknown:
        ap.error(f"neither a fixture nor a registry query: {unknown} "
                 f"(fixtures are seeds or one of {DEGENERATE_KINDS})")
    n_queries = len(QUERIES)
    expected = len(queries) or n_queries
    chash = code_hash()
    combined = {"n_queries": expected, "code_hash": chash}
    if args.src is not None:
        combined["src"] = args.src
    all_ok = True
    for name in fixtures:
        section = "kinds" if name in DEGENERATE_KINDS else "seeds"
        try:
            r = sweep(name, n_queries, chash, queries, args.src)
        except RuntimeError as e:
            print(e)
            return 2
        # check_correctness counts both OK (oracle parity) and ROWS
        # (rows-only, no-oracle check) as green in n_ok — mirror that here
        fails = {k: v for k, v in r.get("queries", {}).items()
                 if v.get("status") not in ("OK", "ROWS")}
        combined.setdefault(section, {})[name] = {
            "sf_dir": r.get("sf_dir"),
            "n_ok": r.get("n_ok"),
            "n_fail": r.get("n_fail"),
            "invocations": r.get("invocations"),
            "wall_s": round(sum(q.get("wall_s", 0)
                                for q in r.get("queries", {}).values()), 1),
            **({"failures": fails} if fails else {}),
        }
        combined[f"n_{section}"] = len(combined[section])
        ok = r.get("n_fail") == 0 and r.get("n_ok") == expected
        all_ok = all_ok and ok
        print(f"{section[:-1]} {name}: {r.get('n_ok')}/{expected} OK"
              + ("" if ok else "  <-- FAIL"))
    combined["all_ok"] = all_ok
    if args.out:
        with open(os.path.join(_REPO, args.out), "w") as f:
            json.dump(combined, f, indent=1, sort_keys=True)
    print("ALL GREEN" if all_ok else "FAILURES PRESENT",
          *(["->", args.out] if args.out else []))
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
