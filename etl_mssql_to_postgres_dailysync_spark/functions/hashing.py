"""Deterministic, engine-portable hashing primitives.

Everything downstream (synthetic data, minhash, simhash, LSH buckets) hashes
through md5 -> hex -> bigint because md5 is bit-identical across Spark, DuckDB
and Python — which makes every hash-based operator *oracle-checkable*
(Spark's native ``xxhash64``/``hash`` have no DuckDB twin). 15 hex chars
(60 bits) keeps the value positive in a signed 64-bit int in both engines.

All builders return JVM-side column expressions (whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_CHARS = 15  # 60 bits, always positive in int64


def md5_long(col: Column, seed: int | None = None) -> Column:
    """Deterministic 60-bit hash of a string column.

    DuckDB equivalent: ``('0x' || substr(md5(x), 1, 15))::BIGINT``
    (with the same seed concatenation).
    """
    s = F.concat(col.cast("string"), F.lit(f"#{seed}")) if seed is not None else col.cast("string")
    return F.conv(F.substring(F.md5(s), 1, HEX_CHARS), 16, 10).cast("bigint")


def bit_positions(bits: int) -> Column:
    """array<int> ``[0, 1, ..., bits-1]``: the domain of a per-bit lambda.
    One lambda over it replaces ``bits`` separately built columns, each of
    which costs several py4j round trips to build."""
    return F.sequence(F.lit(0), F.lit(bits - 1))


def pow2(j: Column) -> Column:
    """``1 << j`` as a bigint for a column ``j``, such as a lambda variable
    (``F.shiftleft`` takes only an int literal shift)."""
    return F.call_function("shiftleft", F.lit(1).cast("long"), j)


def md5_long_sql(expr: str, seed: int | None = None, hex_chars: int = HEX_CHARS) -> str:
    """The DuckDB-SQL twin of :func:`md5_long`, for oracle strings."""
    inner = f"({expr}) || '#{seed}'" if seed is not None else f"({expr})"
    return f"CAST('0x' || substr(md5({inner}), 1, {hex_chars}) AS BIGINT)"


def uniform_long(col: Column, modulus: int, seed: int = 0) -> Column:
    """Pseudo-uniform value in [0, modulus) derived from a key column —
    the engine's deterministic replacement for ``F.rand`` in synthetic data
    (fake_data_producer.py uses Faker; determinism here makes fixtures
    oracle-reproducible)."""
    return md5_long(col, seed) % F.lit(modulus)
