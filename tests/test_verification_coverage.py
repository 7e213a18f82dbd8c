"""Structural gate: every registry query must carry an INDEPENDENT check
beyond oracle parity, or appear on the justified allowlist below.

Oracle parity alone cannot catch a shared-author formula error (the r7
friedman_test_blocks lesson; the r8 dist_moments catch). The repo therefore
keeps four independent-check suites — invariant pins, numpy recomputes,
pure-Python pipeline replays, and the r7 property tests — and this gate
makes their coverage a one-way ratchet: adding a registry query without an
independent check (or a conscious allowlist entry with a written reason)
goes red here, exactly like the NLJ / global-window / file-scan / shuffle
gates in test_plan_sweep.py.

Two enforcement layers (r8 verdict ask #2 hardened the first into the
second):

1. STATIC (this file, always on): AST-based extraction of string literals
   from each suite — comments are invisible to the AST and docstrings are
   skipped explicitly, so a query name merely *mentioned* in prose no
   longer counts (the old grep's blind spot). A literal must appear in
   executable code — an argument, a parametrize table, a loop list — to
   count.
2. RUNTIME (conftest.pytest_sessionfinish under SPARK_GRAFT_COVERAGE_STRICT=1,
   set on full-suite runs): every suite's _rows helper records the names it
   actually EXECUTES into tests/coverage_manifest.py; a full session that
   ends without executing every registry name exits red. This is evidence
   of execution, immune to any static-analysis gap.
"""

from __future__ import annotations

import ast
import importlib.util
import os
import sys

from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES

_TESTS = os.path.dirname(os.path.abspath(__file__))

_INDEPENDENT_SUITES = [
    "test_r5r6_invariants.py",   # one mathematical invariant per stats query
    "test_r7_ops.py",            # r7 property pins
    "test_replay_numpy.py",  # textbook numpy/pure-Python recomputes
    "test_replay_pipelines.py",  # full-pipeline pure-Python replays
    "test_replay_remaining.py",  # merge/roundtrip/ACID/streaming replays
]

# Queries allowed to have NO third implementation, each with the reason the
# existing verification already constitutes an independent check.  Adding a
# registry query without an independent test requires a conscious entry here.
# Empty since test_replay_remaining.py closed the last 16 entries (the
# merge family, interchange round trips, and ACID/streaming pipelines).
ALLOWED_WITHOUT_THIRD_IMPL: set[str] = set()


def code_string_literals(source: str) -> set[str]:
    """String literals that appear in EXECUTABLE positions of ``source``.

    Comments never reach the AST; docstrings (module/class/function leading
    Expr-constants) and any other bare string expression statements are
    dropped, so a query name that exists only as prose cannot satisfy the
    gate. Everything else — call arguments, dict keys, parametrize tables,
    list/tuple elements, comparisons — counts, matching every addressing
    convention the suites actually use.
    """
    tree = ast.parse(source)
    doc_ids: set[int] = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if not isinstance(body, list):
            continue
        for stmt in body:
            # ANY bare string statement is documentation, not execution
            if (
                isinstance(stmt, ast.Expr)
                and isinstance(stmt.value, ast.Constant)
                and isinstance(stmt.value.value, str)
            ):
                doc_ids.add(id(stmt.value))
    out: set[str] = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in doc_ids
        ):
            out.add(node.value)
    return out


def test_every_query_has_independent_check():
    names = set(QUERIES)
    covered: set[str] = set()
    for fname in _INDEPENDENT_SUITES:
        with open(os.path.join(_TESTS, fname)) as f:
            covered |= code_string_literals(f.read()) & names
    missing = sorted(names - covered - ALLOWED_WITHOUT_THIRD_IMPL)
    assert not missing, (
        f"{len(missing)} registry queries have neither an independent-check "
        f"test nor an allowlist entry: {missing}"
    )
    # the allowlist is a ratchet too: entries that gained coverage should be
    # removed so the list only ever shrinks
    stale = sorted(ALLOWED_WITHOUT_THIRD_IMPL & covered)
    assert not stale, f"allowlist entries now covered — remove them: {stale}"
    # and it must not drift to unknown names
    unknown = sorted(ALLOWED_WITHOUT_THIRD_IMPL - names)
    assert not unknown, f"allowlist names not in registry: {unknown}"


def test_gate_is_blind_to_comments_and_docstrings():
    """Self-demonstration that the detector rejects prose mentions (the r8
    verdict's red-case): a name in a comment or docstring is NOT covered; the
    same name as a call argument, parametrize table entry, or loop list IS."""
    src = '''
"""Module docstring mentioning 'query_in_module_docstring'."""

def test_a(spark):
    """Covers query_in_docstring per the old grep — but never runs it."""
    # query_in_comment is also prose only
    _rows(spark, "query_in_call", sfd)

@pytest.mark.parametrize("name", [("query_in_parametrize", 1)])
def test_b(spark, name):
    _rows(spark, name, sfd)

NAMES = ["query_in_list"]
"query_bare_statement_string"
'''
    lits = code_string_literals(src)
    assert "query_in_call" in lits
    assert "query_in_parametrize" in lits
    assert "query_in_list" in lits
    assert "query_in_comment" not in lits
    assert "query_in_docstring" not in lits
    assert "query_in_module_docstring" not in lits
    assert "query_bare_statement_string" not in lits


def test_runtime_manifest_records_execution():
    """The strict runtime layer's recording chokepoint works: record() makes
    a name visible to seen(), and the strict gate's missing-set computation
    over the real registry keys off exactly that."""
    import coverage_manifest

    before = coverage_manifest.seen()
    assert "___not_a_query___" not in before
    coverage_manifest.record("___not_a_query___")
    assert "___not_a_query___" in coverage_manifest.seen()
    # seen() returns a copy: callers cannot corrupt the manifest
    coverage_manifest.seen().discard("___not_a_query___")
    assert "___not_a_query___" in coverage_manifest.seen()


def test_mutation_smoke_snippets_match_the_code():
    """Every mutation of tools/mutation_smoke.py finds its ``old`` text
    exactly ``count`` times in its target file. A mutation whose text has
    drifted from the code is reported as SNIPPET-DRIFT and tests nothing."""
    path = os.path.join(os.path.dirname(_TESTS), "tools", "mutation_smoke.py")
    spec = importlib.util.spec_from_file_location("mutation_smoke", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["mutation_smoke"] = mod  # dataclasses resolve the module by name
    spec.loader.exec_module(mod)
    drift = {}
    for m in mod.MUTATIONS:
        with open(os.path.join(mod._REPO, m.file)) as f:
            found = f.read().count(m.old)
        if found != m.count:
            drift[m.name] = f"expected {m.count}, found {found} in {m.file}"
    assert not drift, drift
