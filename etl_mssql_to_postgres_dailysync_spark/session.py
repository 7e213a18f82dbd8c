"""SparkSession factory.

The reference engine's coercion semantics are pandas ``errors='coerce'``
(malformed -> NULL, csv_to_mssqldb.py:241-326), i.e. Spark's *non-ANSI* cast
mode; its timestamps are timezone-less (tz explicitly stripped,
dags/mssql_to_postgresql_orders_daily.py:271-275), i.e. a pinned-UTC session.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing) so the same declarative plans survive a 1000-executor cluster;
shuffle partitions default to local core count and are expected to be raised
to ~2-3x total cluster cores in a real deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Cores for ``local[n]``: ``SPARK_GRAFT_CPUS`` when set, else the CPU
    count. Raises ``ValueError`` when the variable is not a positive integer."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return os.cpu_count() or 4
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return cpus


def get_spark(
    app_name: str = "etl-mssql-to-postgres-dailysync-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are chosen for oracle-comparable semantics and scale:
      - ``spark.sql.ansi.enabled=false``: casts null-out instead of raising,
        matching the reference's ``errors='coerce'`` paths.
      - ``spark.sql.session.timeZone=UTC``: tz-naive timestamp semantics.
      - AQE + skew join handling on: runtime shuffle-partition coalescing and
        skew splitting replace hand-tuned chunk sizes
        (MSSQL_EXTRACT_CHUNKSIZE etc. in the reference).
      - Arrow on: any Pandas-UDF path is batch-vectorized.
      - ``spark.python.sql.dataFrameDebugging.enabled=false``: building a
        plan stops paying for call-site capture. With it on, every
        ``pyspark.sql.functions`` call walks the Python stack and adds a
        conf lookup and a set/clear pair of JVM round trips. The trade-off:
        an analysis error no longer names the Python line that built the
        failing expression. To get the line back while debugging, pass
        ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
        to the first ``get_spark`` call of the process (PySpark reads the
        flag once per process, at the first ``functions`` call).
    """
    cpus = local_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark only reads
        # nanos as long — plans.driver_queries._t converts back to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
