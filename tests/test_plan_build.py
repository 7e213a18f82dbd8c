"""Building a query plan is cheap, and the cheap builders compute what the
unrolled ones did.

* A second build of the perfbench headline queries sends few py4j commands
  to the JVM and runs no Spark job: fixture schemas come from the
  ``driver_queries`` catalog, call-site capture is off, and per-bit
  expressions are one lambda each.
* The catalog is keyed on the file version, not the path.
* ``simhash``, ``sign_bucket`` and ``sign_margins`` equal pure-Python
  references.
"""

from __future__ import annotations

import hashlib
import os
import re
import subprocess
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from etl_mssql_to_postgres_dailysync_spark.functions import dedup, similarity
from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES, _t

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# py4j commands sent by a second build of bench.HEADLINE[3::4] over a
# perfbench fixture (local[4]): 11,282-11,619 with call-site capture on,
# footer inference on every read and unrolled bit loops; 2,717-3,013 without
# them; 5,966 with call-site capture alone turned back on. Counts vary run to
# run by py4j's garbage-collection commands.
MAX_SECOND_BUILD_COMMANDS = 5500


@pytest.fixture(scope="module")
def headline_fixture(tmp_path_factory):
    from perfbench import fixture

    return fixture.generate(str(tmp_path_factory.mktemp("headline")), 7, 1.0)


def test_second_build_is_cheap(spark, headline_fixture, monkeypatch):
    from bench import HEADLINE

    names = HEADLINE[3::4]
    for n in names:
        QUERIES[n](spark, headline_fixture)

    commands = {}
    send = ClientServerConnection.send_command

    def counting(self, command):
        commands[name] = commands.get(name, 0) + 1
        return send(self, command)

    sc = spark.sparkContext
    group = "test_plan_build_second"
    sc.setJobGroup(group, group)
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    try:
        for name in names:
            QUERIES[name](spark, headline_fixture)
    finally:
        monkeypatch.undo()
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert sum(commands.values()) <= MAX_SECOND_BUILD_COMMANDS, commands
    assert jobs == [], f"the second build ran Spark jobs {jobs}"


def test_lsh_query_runs_first_in_a_new_process(spark, headline_fixture):
    """similarity_ann_lsh as the first query of a new JVM. When the bucket
    lambda read the vector column from outside its own variables, Catalyst's
    constraint inference copied it into a filter on the query side of the
    bucket join, where that column does not exist; with the small
    expression ids of a new JVM the count failed with
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND."""
    code = (
        "import sys\n"
        "from etl_mssql_to_postgres_dailysync_spark.session import get_spark\n"
        "from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES\n"
        "spark = get_spark(app_name='first-query')\n"
        "print(QUERIES['similarity_ann_lsh'](spark, sys.argv[1]).count())\n"
        "spark.stop()\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, headline_fixture], cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO}, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    want = QUERIES["similarity_ann_lsh"](spark, headline_fixture).count()
    assert int(proc.stdout.split()[-1]) == want


def _events_table(unit: str) -> pa.Table:
    micros = [0, 1_700_000_000_123_456, 1_700_000_060_000_001]
    ts = pa.array([m * (1000 if unit == "ns" else 1) for m in micros], pa.timestamp(unit))
    return pa.table({"event_id": pa.array([1, 2, 3], pa.int64()), "ts": ts})


def test_catalog_rereads_a_rewritten_file(spark, tmp_path):
    path = str(tmp_path / "events.parquet")
    pq.write_table(_events_table("us"), path)
    first = [r["ts"] for r in _t(spark, str(tmp_path), "events").orderBy("event_id").collect()]

    # The other fixture generation: TIMESTAMP(NANOS), which Spark reads as a
    # long. A regeneration lands later than the filesystem's timestamp
    # granularity; make that explicit so the test does not depend on it.
    st = os.stat(path)
    pq.write_table(_events_table("ns"), path, version="2.6")
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert isinstance(spark.read.parquet(path).schema["ts"].dataType, LongType)
    second = [r["ts"] for r in _t(spark, str(tmp_path), "events").orderBy("event_id").collect()]
    assert second == first


_JAVA_SPACE = "[ \t\n\x0b\f\r]+"  # Java regex \s: ASCII whitespace only


def _py_simhash(text: str, bits: int = dedup.SIMHASH_BITS) -> int:
    """md5 -> 60-bit hash per distinct token, ±1 vote per bit, pack the
    positive bits. Tokenisation follows text.normalize and text.tokens:
    lowercase, collapse whitespace, trim, split; an empty text is one empty
    token."""
    norm = re.sub(_JAVA_SPACE, " ", text.lower()).strip(" ")
    counts = [0] * bits
    for tok in dict.fromkeys(re.split(_JAVA_SPACE, norm)):
        h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
        for j in range(bits):
            counts[j] += 1 if (h >> j) & 1 else -1
    return sum(1 << j for j in range(bits) if counts[j] > 0)


SIMHASH_CASES = [
    "",
    "  \t\n  ",
    "spark",
    "merge merge merge merge",
    "  Hello\tWORLD \n hello   World ",
    "Café naïve Über 東京 данные café",
]


def test_simhash_matches_python_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(SIMHASH_CASES)], "id int, text string")
    got = {r["id"]: r["h"] for r in df.select("id", dedup.simhash(F.col("text")).alias("h")).collect()}
    assert got == {i: _py_simhash(t) for i, t in enumerate(SIMHASH_CASES)}


# float32 like the embeddings fixture; -0.0 and exact zeros are not positive
VECTORS = [
    [0.5, -0.0, 0.0, -0.25, 0.1, -0.3, 1.75, -2.0],
    [-0.0, -0.0, 0.0, 0.0, 0.0, -0.0, 0.0, 0.0],
    [0.125, -0.0625, 0.3],  # shorter than bits
]
BITS = 6


def _round_half_up(x: float) -> int:
    # Spark's round() on a double goes through the decimal of its shortest repr
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _py_sign_bucket(v: list[float], bits: int) -> int:
    return sum(1 << j for j in range(min(bits, len(v))) if v[j] > 0)


def _py_sign_margins(v: list[float], bits: int) -> list[int | None]:
    return [
        abs(_round_half_up(v[j] * similarity.QUANT_SCALE)) if j < len(v) else None
        for j in range(bits)
    ]


def test_sign_bucket_and_margins_match_python_reference(spark):
    schema = StructType([
        StructField("id", LongType()), StructField("v", ArrayType(FloatType()))
    ])
    df = spark.createDataFrame([(i, v) for i, v in enumerate(VECTORS)], schema)
    rows = df.select(
        "id",
        similarity.sign_bucket(F.col("v"), BITS).alias("b"),
        similarity.sign_margins(F.col("v"), BITS).alias("m"),
    ).collect()
    as_f32 = [[float(x) for x in np.asarray(v, dtype=np.float32)] for v in VECTORS]
    assert {r["id"]: r["b"] for r in rows} == {
        i: _py_sign_bucket(v, BITS) for i, v in enumerate(as_f32)
    }
    assert {r["id"]: list(r["m"]) for r in rows} == {
        i: _py_sign_margins(v, BITS) for i, v in enumerate(as_f32)
    }
