"""The distributed ON CONFLICT upsert writer, exercised end-to-end against
SQLite (the container has no Postgres/MSSQL; SQLite speaks the same
``ON CONFLICT ... DO UPDATE SET ... = excluded.x`` dialect and its DB-API
matches the per-partition protocol: cursor, executemany, commit/rollback).

SQLite permits one writer at a time, so the frame is coalesced to one
partition here; against Postgres every partition loads in parallel.
"""

import os
import sqlite3
import tempfile

import pytest

from etl_mssql_to_postgres_dailysync_spark.sources.writers import jdbc_upsert_write

DB_PATH = os.path.join(tempfile.gettempdir(), "spark_graft_upsert_test.db")


def _connect_factory(path=DB_PATH):
    # nested function -> cloudpickle serializes it by VALUE, so Spark workers
    # don't need this test module on their import path (the same requirement
    # applies to real connect factories passed to jdbc_upsert_write)
    def connect(_p=path):
        import sqlite3 as _sq

        return _sq.connect(_p, timeout=30)

    return connect


@pytest.fixture()
def db():
    if os.path.exists(DB_PATH):
        os.remove(DB_PATH)
    con = sqlite3.connect(DB_PATH)
    con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT, ver INTEGER)")
    con.commit()
    con.close()
    yield DB_PATH
    if os.path.exists(DB_PATH):
        os.remove(DB_PATH)


def test_make_on_conflict_sql_shapes():
    """The ON CONFLICT SQL that ``jdbc_upsert_write`` renders through its
    dialect: plain, then with an exclude mask and a guard."""
    from etl_mssql_to_postgres_dailysync_spark.sources.dialects import get_dialect

    sql = get_dialect("sqlite").upsert_sql("t", ["k", "v", "ver"], ["k"])
    assert sql == (
        'INSERT INTO t ("k", "v", "ver") VALUES (?, ?, ?) '
        'ON CONFLICT ("k") DO UPDATE SET "v" = EXCLUDED."v", "ver" = EXCLUDED."ver"'
    )
    # the exclude mask drops a column from the SET list; the guard lands as
    # the trailing WHERE
    guarded = get_dialect("postgres").upsert_sql(
        "t", ["k", "v", "ver"], ["k"],
        exclude_update_cols=["ver"],
        matched_condition_sql='EXCLUDED."ver" > t."ver"',
    )
    assert guarded == (
        'INSERT INTO t ("k", "v", "ver") VALUES (%s, %s, %s) '
        'ON CONFLICT ("k") DO UPDATE SET "v" = EXCLUDED."v" '
        'WHERE EXCLUDED."ver" > t."ver"'
    )


def test_upsert_insert_then_update(spark, db):
    df1 = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], ["k", "v", "ver"]).coalesce(1)
    jdbc_upsert_write(df1, _connect_factory(), "t", ["k"], dialect="sqlite")
    df2 = spark.createDataFrame([(2, "B", 2), (3, "c", 1)], ["k", "v", "ver"]).coalesce(1)
    jdbc_upsert_write(df2, _connect_factory(), "t", ["k"], dialect="sqlite")

    con = sqlite3.connect(DB_PATH)
    rows = dict((k, (v, ver)) for k, v, ver in con.execute("SELECT k, v, ver FROM t"))
    con.close()
    assert rows == {1: ("a", 1), 2: ("B", 2), 3: ("c", 1)}


def test_upsert_is_idempotent(spark, db):
    df = spark.createDataFrame([(1, "x", 1), (2, "y", 1)], ["k", "v", "ver"]).coalesce(1)
    jdbc_upsert_write(df, _connect_factory(), "t", ["k"], dialect="sqlite")
    jdbc_upsert_write(df, _connect_factory(), "t", ["k"], dialect="sqlite")  # replay = same state
    con = sqlite3.connect(DB_PATH)
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == 2
    con.close()


class TestDialects:
    """sources/dialects.py — per-engine upsert SQL generation."""

    def test_postgres_on_conflict(self):
        from etl_mssql_to_postgres_dailysync_spark.sources.dialects import get_dialect

        sql = get_dialect("postgres").upsert_sql(
            "public.orders", ["order_id", "amount", "updated"], ["order_id"],
            matched_condition_sql='public.orders."updated" IS NULL',
        )
        assert sql == (
            'INSERT INTO public.orders ("order_id", "amount", "updated") '
            "VALUES (%s, %s, %s) "
            'ON CONFLICT ("order_id") DO UPDATE SET "amount" = EXCLUDED."amount", '
            '"updated" = EXCLUDED."updated" WHERE public.orders."updated" IS NULL'
        )

    def test_mssql_merge_with_first_write_wins_mask(self):
        from etl_mssql_to_postgres_dailysync_spark.sources.dialects import get_dialect

        d = get_dialect("mssql")
        sql = d.upsert_sql(
            "dbo.orders", ["OrderID", "Amount", "OrderCreatedAt"], ["OrderID"],
            exclude_update_cols=["OrderCreatedAt"],  # csv_to_mssqldb.py:421
        )
        assert "MERGE dbo.orders AS t" in sql
        assert "t.[OrderID] = s.[OrderID]" in sql
        assert "t.[Amount] = s.[Amount]" in sql
        assert "t.[OrderCreatedAt] = s.[OrderCreatedAt]" not in sql
        assert "WHEN NOT MATCHED BY TARGET THEN INSERT" in sql
        staged = d.staging_merge_sql(
            "dbo.orders", "dbo.orders_staging",
            ["OrderID", "Amount", "OrderCreatedAt"], ["OrderID"],
            exclude_update_cols=["OrderCreatedAt"],
        )
        assert "USING dbo.orders_staging AS s" in staged

    def test_golden_mssql_staging_merge_reference_schema(self):
        """Byte-exact golden for the reference's S5/S8 path: the full orders
        schema (csv_to_mssqldb.py:504), OrderID key (csv_to_mssqldb.py:77),
        OrderCreatedAt first-write-wins exclusion (csv_to_mssqldb.py:421),
        staging table as MERGE source (csv_to_mssqldb.py:409-443). Every
        clause the reference emits — bracketed idents, t/s aliases, AND-ed
        ON condition, NOT MATCHED BY TARGET insert — in one statement."""
        from etl_mssql_to_postgres_dailysync_spark.sources.dialects import get_dialect

        cols = ["OrderID", "UserID", "AddedToCartAt", "OrderCreatedAt",
                "Amount", "Product", "IsDelivered"]
        sql = get_dialect("mssql").staging_merge_sql(
            "dbo.Orders", "dbo.Orders_Staging", cols, ["OrderID"],
            exclude_update_cols=["OrderCreatedAt"],
        )
        assert sql == (
            "MERGE dbo.Orders AS t USING dbo.Orders_Staging AS s "
            "ON t.[OrderID] = s.[OrderID] "
            "WHEN MATCHED THEN UPDATE SET "
            "t.[UserID] = s.[UserID], "
            "t.[AddedToCartAt] = s.[AddedToCartAt], "
            "t.[Amount] = s.[Amount], "
            "t.[Product] = s.[Product], "
            "t.[IsDelivered] = s.[IsDelivered] "
            "WHEN NOT MATCHED BY TARGET THEN INSERT "
            "([OrderID], [UserID], [AddedToCartAt], [OrderCreatedAt], "
            "[Amount], [Product], [IsDelivered]) "
            "VALUES (s.[OrderID], s.[UserID], s.[AddedToCartAt], "
            "s.[OrderCreatedAt], s.[Amount], s.[Product], s.[IsDelivered]);"
        )

    def test_golden_postgres_upsert_reference_schema(self):
        """Byte-exact golden for the reference's S6 path
        (dags/mssql_to_postgresql_orders_daily.py:296-308): lowercased
        columns, "order_id" conflict target (:106), every non-key column
        updated from EXCLUDED. The reference's VALUES %s placeholder is
        psycopg2 execute_values-specific; ours is per-row %s tuples —
        semantically the same batched insert."""
        from etl_mssql_to_postgres_dailysync_spark.sources.dialects import get_dialect

        cols = ["order_id", "user_id", "added_to_cart_at", "order_created_at",
                "amount", "product", "is_delivered"]
        sql = get_dialect("postgres").upsert_sql('public."orders"', cols, ["order_id"])
        assert sql == (
            'INSERT INTO public."orders" ("order_id", "user_id", '
            '"added_to_cart_at", "order_created_at", "amount", "product", '
            '"is_delivered") VALUES (%s, %s, %s, %s, %s, %s, %s) '
            'ON CONFLICT ("order_id") DO UPDATE SET '
            '"user_id" = EXCLUDED."user_id", '
            '"added_to_cart_at" = EXCLUDED."added_to_cart_at", '
            '"order_created_at" = EXCLUDED."order_created_at", '
            '"amount" = EXCLUDED."amount", '
            '"product" = EXCLUDED."product", '
            '"is_delivered" = EXCLUDED."is_delivered"'
        )

    def test_golden_truncate_then_merge_transaction_order(self):
        """The reference wraps TRUNCATE staging -> bulk append -> MERGE in
        ONE transaction (csv_to_mssqldb.py:447-466). The dialect provides
        both statements; this pins their exact text so the transaction
        script is reproducible."""
        from etl_mssql_to_postgres_dailysync_spark.sources.dialects import get_dialect

        d = get_dialect("mssql")
        assert d.truncate_sql("dbo.Orders_Staging") == "TRUNCATE TABLE dbo.Orders_Staging"

    def test_mysql_on_duplicate_key(self):
        from etl_mssql_to_postgres_dailysync_spark.sources.dialects import get_dialect

        sql = get_dialect("mysql").upsert_sql("orders", ["k", "v"], ["k"])
        assert sql == (
            "INSERT INTO orders (`k`, `v`) VALUES (%s, %s) "
            "ON DUPLICATE KEY UPDATE `v` = VALUES(`v`)"
        )

    def test_truncate_fallback(self):
        from etl_mssql_to_postgres_dailysync_spark.sources.dialects import get_dialect

        assert get_dialect("sqlite").truncate_sql("t") == "DELETE FROM t"
        assert (
            get_dialect("postgres").truncate_sql("t", restart_identity=True)
            == "TRUNCATE TABLE t RESTART IDENTITY"
        )

    def test_sqlite_dialect_end_to_end(self, spark, db):
        from etl_mssql_to_postgres_dailysync_spark.sources.dialects import get_dialect

        df = spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1)], "k int, v string, ver int"
        ).coalesce(1)
        jdbc_upsert_write(df, _connect_factory(), "t", ["k"], dialect="sqlite")
        upd = spark.createDataFrame(
            [(2, "B", 2), (3, "c", 1)], "k int, v string, ver int"
        ).coalesce(1)
        jdbc_upsert_write(upd, _connect_factory(), "t", ["k"], dialect=get_dialect("sqlite"))
        con = sqlite3.connect(db)
        assert sorted(con.execute("SELECT k, v, ver FROM t").fetchall()) == [
            (1, "a", 1), (2, "B", 2), (3, "c", 1)
        ]
        con.close()
