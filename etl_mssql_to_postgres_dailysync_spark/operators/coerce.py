"""Typed coercion layer — C1-C10 in SURVEY.md §2.6.

The reference coerces CSV strings to declared types with errors->NULL
semantics (pandas ``errors='coerce'``, csv_to_mssqldb.py:241-326) and counts
the values each cast nulls out (:251-256, :332-335). Everything here is a
built-in column expression (JVM-side, whole-stage-codegen'd) — zero Python
UDFs, per SURVEY.md §2.8.

Requires the session's non-ANSI mode (session.get_spark) so bare ``cast``
nulls out malformed input instead of raising.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# C3 — the reference tries '%m/%d/%Y %H:%M' strict then falls back to pandas
# auto-inference (csv_to_mssqldb.py:273-297). Spark's single-letter patterns
# already accept 1-or-2-digit fields ('M/d/yyyy H:mm' parses '4/20/2025 4:11');
# the ladder ends in try_to_timestamp for ISO-ish fallbacks.
TIMESTAMP_FORMAT_LADDER = [
    "M/d/yyyy H:mm",
    "M/d/yyyy H:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss",
]

# C4 — lexical boolean map (csv_to_mssqldb.py:313-314). Spark's bare
# cast("boolean") accepts a narrower lexicon (no 'T'/'F'), so map explicitly.
_TRUE_LEXICON = ["TRUE", "1", "YES", "T"]
_FALSE_LEXICON = ["FALSE", "0", "NO", "F"]


def to_long(c: Column | str) -> Column:
    """C1 — string->bigint, malformed->NULL (csv_to_mssqldb.py:259-264)."""
    return F.col(c).cast("bigint") if isinstance(c, str) else c.cast("bigint")


def to_decimal(c: Column | str) -> Column:
    """C2 — string->decimal(18,4) money cast (csv_to_mssqldb.py:266-271,
    mssql_init/mssql_init.sql:29)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(T.DecimalType(18, 4))


def to_timestamp_ladder(c: Column | str) -> Column:
    """C3 — fixed-format parse with inference fallback, all-errors->NULL."""
    col = F.col(c) if isinstance(c, str) else c
    attempts = [F.to_timestamp(col, fmt) for fmt in TIMESTAMP_FORMAT_LADDER]
    attempts.append(F.try_to_timestamp(col))
    return F.coalesce(*attempts).cast(T.TimestampNTZType())


def to_boolean_lexical(c: Column | str) -> Column:
    """C4 — upper-cased lexicon {TRUE,1,YES,T}/{FALSE,0,NO,F}->bool, else NULL
    (csv_to_mssqldb.py:299-319)."""
    col = F.upper(F.trim(F.col(c) if isinstance(c, str) else c))
    return (
        F.when(col.isin(_TRUE_LEXICON), F.lit(True))
        .when(col.isin(_FALSE_LEXICON), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def format_timestamp(c: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss.SSSSSS") -> Column:
    """C9 — timestamp->string in the reference's CSV interchange format
    '%Y-%m-%d %H:%M:%S.%f' (dags/mssql_to_postgresql_orders_daily.py:219)."""
    return F.date_format(F.col(c) if isinstance(c, str) else c, fmt)


# Coercion plan for the raw orders CSV (column -> expression builder).
ORDERS_COERCIONS = {
    "OrderID": to_long,
    "UserID": to_long,
    "AddedToCartAt": to_timestamp_ladder,
    "OrderCreatedAt": to_timestamp_ladder,
    "Amount": to_decimal,
    "Product": lambda c: F.col(c) if isinstance(c, str) else c,
    "IsDelivered": to_boolean_lexical,
}


def coerce_orders_raw(df: DataFrame) -> DataFrame:
    """Apply the full orders coercion plan (csv_to_mssqldb.py:241-326)."""
    return df.select(*[fn(c).alias(c) for c, fn in ORDERS_COERCIONS.items()])


def coercion_accounting(
    raw: DataFrame, coerced_cols: dict[str, Column]
) -> DataFrame:
    """C10 — per-column count of values nulled by coercion, one aggregate pass
    (csv_to_mssqldb.py:251-256,332-335): non-null in raw, null after cast."""
    aggs = [
        F.count_if(F.col(c).isNotNull() & expr.isNull()).alias(f"{c}_nulled")
        for c, expr in coerced_cols.items()
    ]
    return raw.agg(*aggs)
