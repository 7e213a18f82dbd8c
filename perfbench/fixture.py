"""The input tables of the headline queries, generated from the seed.

The ten tables have the columns, parquet types and value vocabularies of the
repository's test data (TESTDATA.md); at ``scale=1`` they have its sf0.01 row
counts (1.9 MB). Every value is a hash of the seed, the column and the row, so
the same seed gives the same files, and DuckDB writes them in one pass.
"""

from __future__ import annotations

import os

import duckdb

# rows at scale 1 (region and nation are always whole)
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "events": 10000, "documents": 500, "embeddings": 500}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
WORDS = ("a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "value", "vector", "window")
COLOURS = ("blue", "green", "red", "black", "white", "small", "large", "steel")
THINGS = ("anvil", "widget", "ring", "gear", "bolt", "valve", "spring", "lamp")


def _pick(values) -> str:
    return "[" + ", ".join(f"'{v}'" for v in values) + "]"


def _sql(n: dict[str, int]) -> dict[str, str]:
    """One SELECT per table; ``u(key)`` is a uniform draw in [0, 1)."""
    return {
        "region": """
            SELECT CAST(i AS INTEGER) AS r_regionkey,
                   ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
                   CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
                   CAST(floor(u('c.n' || i) * 25) AS INTEGER) AS c_nationkey,
                   round(-999.99 + u('c.b' || i) * 10999.98, 2) AS c_acctbal,
                   ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
                       [1 + CAST(floor(u('c.s' || i) * 5) AS BIGINT)] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
                   CAST(floor(u('s.n' || i) * 25) AS INTEGER) AS s_nationkey,
                   round(-999.99 + u('s.b' || i) * 10999.98, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   {_pick(COLOURS)}[1 + CAST(floor(u('p.c' || i) * 8) AS BIGINT)] || ' ' ||
                   {_pick(THINGS)}[1 + CAST(floor(u('p.t' || i) * 8) AS BIGINT)] AS p_name,
                   'Brand#' || CAST(1 + floor(u('p.b' || i) * 25) AS BIGINT) AS p_brand,
                   ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD']
                       [1 + CAST(floor(u('p.y' || i) * 6) AS BIGINT)] AS p_type,
                   CAST(1 + floor(u('p.s' || i) * 50) AS INTEGER) AS p_size,
                   900 + floor(u('p.p' || i) * 1000) / 10 AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey,
                   CAST(floor(u('o.c' || i) * {n['customer']}) AS BIGINT) AS o_custkey,
                   ['F', 'O', 'P'][1 + CAST(floor(u('o.s' || i) * 3) AS BIGINT)] AS o_orderstatus,
                   round(1000 + u('o.p' || i) * 499000, 2) AS o_totalprice,
                   TIMESTAMP '1995-01-01' + to_days(CAST(floor(u('o.d' || i) * 2400) AS INTEGER))
                       AS o_orderdate,
                   ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
                       [1 + CAST(floor(u('o.r' || i) * 5) AS BIGINT)] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        # 1-7 lines per order, 4 on average
        "lineitem": f"""
            SELECT o_orderkey AS l_orderkey,
                   CAST(floor(u('l.p' || k) * {n['part']}) AS BIGINT) AS l_partkey,
                   CAST(floor(u('l.s' || k) * {n['supplier']}) AS BIGINT) AS l_suppkey,
                   CAST(ln AS INTEGER) AS l_linenumber,
                   1 + floor(u('l.q' || k) * 50) AS l_quantity,
                   round(900 + u('l.e' || k) * 104000, 2) AS l_extendedprice,
                   floor(u('l.d' || k) * 11) / 100 AS l_discount,
                   floor(u('l.t' || k) * 9) / 100 AS l_tax,
                   ['A', 'N', 'R'][1 + CAST(floor(u('l.r' || k) * 3) AS BIGINT)] AS l_returnflag,
                   ['F', 'O'][1 + CAST(floor(u('l.l' || k) * 2) AS BIGINT)] AS l_linestatus,
                   o_orderdate + to_days(CAST(1 + floor(u('l.h' || k) * 95) AS INTEGER))
                       AS l_shipdate
            FROM (SELECT o_orderkey, o_orderdate, ln, o_orderkey || ':' || ln AS k
                  FROM (SELECT o_orderkey, o_orderdate,
                               unnest(range(1, 2 + CAST(floor(u('o.n' || o_orderkey) * 7)
                                                        AS BIGINT))) AS ln
                        FROM orders))""",
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(
                       CAST(floor(u('e.t' || i) * 30 * 86400 * 1e6) AS BIGINT)) AS ts,
                   CAST(floor(u('e.u' || i) * 150) AS BIGINT) AS user_id,
                   ['click', 'error', 'purchase', 'signup', 'view']
                       [1 + CAST(floor(u('e.y' || i) * 5) AS BIGINT)] AS event_type,
                   round(0.01 + u('e.v' || i) * 490, 2) AS value,
                   '{{"k": ' || CAST(floor(u('e.k' || i) * 100) AS BIGINT) || '}}' AS props
            FROM range({n['events']}) t(i)""",
        # 8-90 words per document, 48-550 characters
        "documents": f"""
            SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
            FROM (SELECT i AS doc_id,
                         array_to_string(list_transform(
                             range(CAST(8 + floor(u('d.n' || i) * 83) AS BIGINT)),
                             w -> {_pick(WORDS)}[1 + CAST(floor(
                                 u('d.w' || i || ':' || w) * {len(WORDS)}) AS BIGINT)]),
                             ' ') AS text,
                         ['de', 'en', 'es', 'fr', 'zh']
                             [1 + CAST(floor(u('d.l' || i) * 5) AS BIGINT)] AS lang,
                         'src' || CAST(floor(u('d.s' || i) * 20) AS BIGINT) AS source
                  FROM range({n['documents']}) t(i))""",
        "embeddings": f"""
            SELECT i AS vec_id,
                   list_transform(range(64), d -> CAST(u('v.' || i || ':' || d) * 2 - 1
                                                       AS FLOAT)) AS embedding,
                   CAST(floor(u('v.l' || i) * 10) AS INTEGER) AS label
            FROM range({n['embeddings']}) t(i)""",
    }


def generate(dst: str, seed: int, scale: float = 1.0) -> str:
    """Write ``<dst>/<table>.parquet`` for every table; return ``dst``."""
    n = {t: max(1, round(rows * scale)) for t, rows in ROWS.items()}
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE MACRO u(key) AS "
                    f"(hash(key || ':{int(seed)}') % 1000000007) / 1000000007.0")
        for table, select in _sql(n).items():
            con.execute(f"CREATE TABLE {table} AS {select}")
            con.execute(f"COPY {table} TO '{dst}/{table}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()
    return dst
