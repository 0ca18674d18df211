"""SQL-statement surface tests: the reference drives everything through
``conn.execute(sql)`` (utils/ducklake_utils.py:53); these tests run the
demos' statements nearly verbatim through ``LakeCatalog.sql`` — DDL, DML,
explicit transactions, schema evolution, and time-travel reads."""

from __future__ import annotations

import pytest

from ducktales_spark.lake import LakeCatalog
from ducktales_spark.lake.sql import LakeSQLError


@pytest.fixture()
def lake(spark, tmp_path) -> LakeCatalog:
    return LakeCatalog(str(tmp_path / "lake"), spark, inline_threshold=4)


def test_demo01_transaction_flow_sql(lake):
    """demos/01_transaction_rollback/demo.py:30-104 as SQL statements."""
    lake.sql("USE lake")
    lake.sql(
        """
        CREATE TABLE inventory (
            product_id INTEGER PRIMARY KEY,
            product_name VARCHAR,
            quantity INTEGER,
            price DECIMAL(10, 2)
        )
    """
    )
    lake.sql(
        """
        INSERT INTO inventory VALUES
            (1, 'DuckDB T-Shirt', 100, 29.99),
            (2, 'DuckDB Mug', 50, 14.99),
            (3, 'DuckDB Sticker Pack', 200, 4.99),
            (4, 'DuckDB Hoodie', 25, 59.99)
    """
    )
    lake.sql(
        """
        CREATE TABLE orders (
            order_id INTEGER,
            product_id INTEGER,
            quantity INTEGER,
            customer_name VARCHAR
        )
    """
    )
    lake.sql("BEGIN TRANSACTION")
    lake.sql(
        "INSERT INTO orders (order_id, product_id, quantity, customer_name)"
        " VALUES (1, 1, 5, 'Alice')"
    )
    lake.sql("UPDATE inventory SET quantity = quantity - 5 WHERE product_id = 1")
    # read-your-writes inside the open transaction
    n = lake.sql(
        "SELECT quantity AS q FROM inventory WHERE product_id = 1"
    ).first()["q"]
    assert n == 95
    lake.sql("COMMIT")
    assert lake.read("orders").count() == 1
    assert (
        lake.read("inventory").filter("product_id = 1").first()["quantity"]
        == 95
    )

    # rollback: both tables revert (demo.py:118-151)
    v = lake.current_version()
    lake.sql("BEGIN TRANSACTION")
    lake.sql(
        "INSERT INTO orders (order_id, product_id, quantity, customer_name)"
        " VALUES (2, 2, 3, 'Bob')"
    )
    lake.sql("UPDATE inventory SET quantity = quantity - 3 WHERE product_id = 2")
    lake.sql("ROLLBACK")
    assert lake.current_version() == v
    assert lake.read("orders").count() == 1
    assert (
        lake.read("inventory").filter("product_id = 2").first()["quantity"]
        == 50
    )


def test_schema_evolution_sql(lake):
    """demos/03_schema_evolution/demo.py:118,195-196,221 statement forms."""
    lake.sql("CREATE TABLE events (id INTEGER NOT NULL, event_data VARCHAR)")
    lake.sql("INSERT INTO events VALUES (1, '{\"k\": 1}'), (2, 'oops')")
    lake.sql("ALTER TABLE events ADD COLUMN priority INTEGER DEFAULT 5")
    rows = {r["id"]: r["priority"] for r in lake.read("events").collect()}
    assert rows == {1: 5, 2: 5}  # default fills pre-existing files

    lake.sql("ALTER TABLE events ADD COLUMN event_data_validated VARCHAR")
    lake.sql("UPDATE events SET event_data_validated = event_data")
    lake.sql("ALTER TABLE events DROP COLUMN event_data")
    lake.sql(
        "ALTER TABLE events RENAME COLUMN event_data_validated TO event_data"
    )
    got = {r["id"]: r["event_data"] for r in lake.read("events").collect()}
    assert got == {1: '{"k": 1}', 2: "oops"}

    lake.sql("ALTER TABLE events ALTER COLUMN priority SET NOT NULL")
    cols = dict(
        (n, nullable) for n, _, nullable in lake.columns("events")
    )
    assert cols["priority"] is False


def test_alter_column_type_widening_sql(lake):
    """ALTER COLUMN ... TYPE (README.md:50 'Change data types'): widening
    is metadata-only — INT files written before the change read back as
    BIGINT, time travel before the ALTER serves the original type, and
    narrowing / lossy casts are rejected."""
    lake.sql(
        "CREATE TABLE m (id INTEGER, qty INTEGER, price DECIMAL(6,2), "
        "ratio REAL)"
    )
    # >4 rows -> parquet file (fixture inline threshold is 4)...
    lake.sql(
        "INSERT INTO m VALUES (1, 10, 1.25, 0.5), (2, 20, 2.50, 1.5), "
        "(3, 30, 3.75, 2.5), (4, 40, 5.00, 3.5), (5, 50, 6.25, 4.5)"
    )
    # ...plus INLINED rows, so both read branches cross the type change
    lake.sql("INSERT INTO m VALUES (6, 60, 7.50, 5.5)")
    v_before = lake.current_version()

    lake.sql("ALTER TABLE m ALTER COLUMN qty TYPE BIGINT")
    lake.sql("ALTER TABLE m ALTER COLUMN price SET DATA TYPE DECIMAL(12,4)")
    lake.sql("ALTER TABLE m ALTER COLUMN ratio TYPE DOUBLE")
    types = dict(lake.sql("SELECT id, qty, price, ratio FROM m").dtypes)
    assert types["qty"] == "bigint"
    assert types["price"] == "decimal(12,4)"
    assert types["ratio"] == "double"
    # values survive the widen, files and inlined rows both
    got = {r["id"]: (r["qty"], float(r["price"])) for r in lake.read("m").collect()}
    assert got[1] == (10, 1.25) and got[6] == (60, 7.5)
    # the widened column accepts values only the wide type can hold
    lake.sql("INSERT INTO m VALUES (7, 9000000000, 99999999.9999, 9.5)")
    assert lake.sql("SELECT qty FROM m WHERE id = 7").first()["qty"] == 9_000_000_000
    # CROSS-FAMILY widen with INLINED rows present: an int inlined under
    # the old type must read back as double/decimal (regression: the
    # inlined read branch skipped the stored->current cast and every read
    # of the table crashed on the type verifier)
    lake.sql("ALTER TABLE m ALTER COLUMN id TYPE DOUBLE")
    got = {int(r["id"]): r for r in lake.read("m").collect()}
    assert isinstance(got[6]["id"], float) and got[6]["id"] == 6.0
    assert dict(lake.read("m").dtypes)["id"] == "double"
    lake.sql("CREATE TABLE m2 (a INTEGER, b INTEGER)")
    lake.sql("INSERT INTO m2 VALUES (1, 2)")  # inlined (below threshold)
    lake.sql("ALTER TABLE m2 ALTER COLUMN b TYPE DECIMAL(12,2)")
    row = lake.read("m2").first()
    from decimal import Decimal

    assert row["b"] == Decimal("2.00") and lake.count("m2") == 1
    # flush_inlined must also survive the widened schema
    lake.flush_inlined("m2")
    assert lake.read("m2").first()["b"] == Decimal("2.00")
    # time travel serves the ORIGINAL type before the ALTER
    old = lake.sql(f"SELECT qty FROM m AT (VERSION => {v_before})")
    assert dict(old.dtypes)["qty"] == "int"
    # narrowing and lossy casts are rejected with the old schema intact
    for bad in (
        "ALTER TABLE m ALTER COLUMN qty TYPE INTEGER",      # narrow back
        "ALTER TABLE m ALTER COLUMN price TYPE DECIMAL(6,1)",  # scale loss
        "ALTER TABLE m ALTER COLUMN qty TYPE DOUBLE",       # bigint: lossy
        "ALTER TABLE m ALTER COLUMN id TYPE VARCHAR",       # cross-family
    ):
        with pytest.raises(Exception, match="widening"):
            lake.sql(bad)
    assert dict(lake.read("m").dtypes)["qty"] == "bigint"


def test_ctas_views_insert_select_delete_sql(lake, spark):
    """CTAS (utils/ducklake_utils.py:101-111), views (demo 05:150-164),
    INSERT..SELECT recovery (demo 02:228-235), DELETE, AT (VERSION =>)."""
    spark.range(10).selectExpr(
        "CAST(id AS INT) AS id", "id * 2 AS v"
    ).createOrReplaceTempView("src10")
    lake.sql("CREATE TABLE t AS SELECT * FROM src10")
    assert lake.count("t") == 10
    v_full = lake.current_version()

    lake.sql("DELETE FROM t WHERE id % 2 = 1")
    assert lake.count("t") == 5
    # recovery via INSERT ... SELECT from a time-travel read
    lake.sql(
        f"INSERT INTO t SELECT * FROM t AT (VERSION => {v_full}) old "
        "WHERE old.id % 2 = 1"
    )
    assert lake.count("t") == 10

    lake.sql(
        "CREATE OR REPLACE VIEW t_sum AS SELECT COUNT(*) AS n, SUM(v) AS s FROM t"
    )
    row = lake.sql("SELECT * FROM t_sum").first()
    assert (row["n"], row["s"]) == (10, 90)

    lake.sql("DROP VIEW t_sum")
    assert "t_sum" not in lake.views()
    lake.sql("DROP TABLE t")
    assert lake.tables() == []


def test_sql_errors(lake):
    with pytest.raises(LakeSQLError):
        lake.sql("COMMIT")  # no open txn
    lake.sql("CREATE TABLE x (a INTEGER)")
    with pytest.raises(LakeSQLError):
        lake.sql("CREATE TABLE x (a INTEGER)")  # exists
    lake.sql("CREATE TABLE IF NOT EXISTS x (a INTEGER)")  # no-op
    lake.sql("DROP TABLE IF EXISTS nope")  # no-op


def test_metadata_table_functions_sql(lake, spark):
    """The reference's introspection table functions work as SQL
    (utils/ducklake_utils.py:58-78; exploration/ducklake_analysis.sh:105)."""
    lake.sql("CREATE TABLE t (id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    v1 = lake.current_version()
    lake.sql("UPDATE t SET v = 'z' WHERE id = 2")
    v2 = lake.current_version()

    snaps = lake.sql(
        "SELECT snapshot_id, changes FROM ducklake_snapshots('lake') "
        "ORDER BY snapshot_id DESC"
    ).collect()
    assert snaps[0]["snapshot_id"] == v2
    assert "tables_updated" in snaps[0]["changes"]

    info = lake.sql(
        "SELECT table_name, row_count FROM ducklake_table_info('lake')"
    ).collect()
    assert {(r["table_name"], r["row_count"]) for r in info} == {("t", 3)}

    ch = lake.sql(
        "SELECT change_type, id, v FROM "
        f"ducklake_table_changes('lake', 'main', 't', {v1}, {v2}) "
        "ORDER BY change_type, id"
    ).collect()
    assert [(r["change_type"], r["id"], r["v"]) for r in ch] == [
        ("delete", 2, "b"),
        ("insert", 2, "z"),
    ]

    # DESCRIBE as a first-class statement, DuckDB output shape (S8)
    desc = {
        r["column_name"]: r["column_type"]
        for r in lake.sql("DESCRIBE t").collect()
    }
    assert desc.get("id") == "INT" and desc.get("v") == "STRING"


def test_comments_inside_string_literals(lake):
    """Review r2: -- and /* inside a string literal are data, not comments."""
    lake.sql("CREATE TABLE s (id INT, note VARCHAR)")
    lake.sql("INSERT INTO s VALUES (1, 'a--b'), (2, 'x /* y */ z')")
    got = {r.id: r.note for r in lake.sql("SELECT * FROM s").collect()}
    assert got == {1: "a--b", 2: "x /* y */ z"}
    # real comments still stripped
    n = lake.sql(
        "SELECT count(*) AS n FROM s -- trailing comment\n/* block */"
    ).collect()[0]["n"]
    assert n == 2


def test_update_with_subquery_and_where_in_literal(lake):
    """Review r2: the SET/WHERE split happens at the last top-level WHERE,
    so subqueries and literals containing 'where' parse correctly."""
    lake.sql("CREATE TABLE u (id INT, a INT, note VARCHAR)")
    lake.sql("INSERT INTO u VALUES (1, 10, NULL), (2, 20, NULL)")
    lake.sql(
        "UPDATE u SET a = (SELECT MAX(a) FROM u WHERE id = 1) WHERE id = 2"
    )
    got = {r.id: r.a for r in lake.sql("SELECT id, a FROM u").collect()}
    assert got == {1: 10, 2: 10}
    lake.sql("UPDATE u SET note = 'paid where due' WHERE id = 1")
    assert (
        lake.sql("SELECT note FROM u WHERE id = 1").collect()[0]["note"]
        == "paid where due"
    )
    # no-WHERE update still hits every row
    lake.sql("UPDATE u SET a = 0")
    assert {r.a for r in lake.sql("SELECT a FROM u").collect()} == {0}


def test_in_txn_ddl_visibility(lake):
    """Review r2: DDL existence checks see the open transaction's staged
    state — create/drop sequences inside one txn behave like DuckDB."""
    lake.sql("CREATE TABLE t0 (x INT)")
    lake.sql("BEGIN")
    lake.sql("CREATE TABLE fresh (x INT)")
    lake.sql("DROP TABLE IF EXISTS fresh")  # staged table must be visible
    lake.sql("DROP TABLE t0")
    lake.sql("CREATE TABLE t0 (y INT)")  # drop+recreate inside the txn
    lake.sql("COMMIT")
    assert "fresh" not in lake.tables()
    assert lake.read("t0").columns == ["y"]


def test_txn_read_snapshot_isolation(lake, spark):
    """Review r2: reads inside an open txn bind untouched tables at the
    txn's base version and refuse tables dropped in the txn."""
    from ducktales_spark.lake import LakeCatalog

    lake.sql("CREATE TABLE iso (x INT)")
    lake.sql("INSERT INTO iso VALUES (1)")
    lake.sql("BEGIN")
    n0 = lake.sql("SELECT count(*) AS n FROM iso").collect()[0]["n"]
    # a concurrent writer commits while our txn is open
    other = LakeCatalog(lake.ms.db_path.rsplit("/", 1)[0], spark)
    with other.transaction() as otx:
        otx.insert_rows("iso", [{"x": 2}])
    n1 = lake.sql("SELECT count(*) AS n FROM iso").collect()[0]["n"]
    assert n1 == n0 == 1  # non-repeatable read prevented
    lake.sql("DROP TABLE iso")
    with pytest.raises(Exception):
        lake.sql("SELECT * FROM iso").collect()
    lake.sql("ROLLBACK")
    assert lake.sql("SELECT count(*) AS n FROM iso").collect()[0]["n"] == 2


def test_describe_and_show_tables(lake):
    """demos/03_schema_evolution/demo.py:112,124: DESCRIBE before/after an
    ALTER, DuckDB output shape; SHOW TABLES lists tables and views."""
    lake.sql(
        "CREATE TABLE events (id INTEGER PRIMARY KEY, name VARCHAR NOT NULL,"
        " score DOUBLE DEFAULT 1.5)"
    )
    d = {r["column_name"]: r for r in lake.sql("DESCRIBE events").collect()}
    assert list(d) == ["id", "name", "score"]
    assert d["id"]["key"] == "PRI" and d["id"]["null"] == "NO"
    assert d["name"]["null"] == "NO" and d["name"]["key"] is None
    assert d["score"]["null"] == "YES" and d["score"]["default"] == "1.5"
    assert d["score"]["column_type"] == "DOUBLE"

    lake.sql("ALTER TABLE events ADD COLUMN tag VARCHAR DEFAULT 'x'")
    cols = [r["column_name"] for r in lake.sql("DESCRIBE events").collect()]
    assert cols == ["id", "name", "score", "tag"]

    # staged visibility: DESCRIBE inside an open txn sees uncommitted DDL
    lake.sql("BEGIN")
    lake.sql("ALTER TABLE events ADD COLUMN pending INTEGER")
    assert "pending" in [
        r["column_name"] for r in lake.sql("DESCRIBE events").collect()
    ]
    lake.sql("ROLLBACK")
    assert "pending" not in [
        r["column_name"] for r in lake.sql("DESCRIBE events").collect()
    ]

    lake.sql("CREATE VIEW ev_v AS SELECT id FROM events")
    names = [r["name"] for r in lake.sql("SHOW TABLES").collect()]
    assert names == ["ev_v", "events"]

    # catalog-qualified form (exploration/ducklake_analysis.sh:194)
    assert [r["column_name"] for r in
            lake.sql("DESCRIBE lake.events").collect()][0] == "id"

    with pytest.raises(LakeSQLError, match="no such table"):
        lake.sql("DESCRIBE missing_table")


def test_file_stats_table_function(lake, spark):
    """ducklake_file_stats('t') surfaces the per-file pruning stats through
    SQL (the reference-family metadata-table-function shape), queryable
    with ordinary predicates."""
    lake.sql("CREATE TABLE fs (id INT, v VARCHAR)")
    lake.insert(
        "fs",
        spark.range(0, 50).selectExpr(
            "cast(id as int) id", "cast(id as string) v"
        ).coalesce(1),
    )
    rows = lake.sql(
        "SELECT path, row_count FROM ducklake_file_stats('fs') "
        "WHERE row_count > 0"
    ).collect()
    assert rows and sum(r.row_count for r in rows) == 50
    mins = lake.sql(
        "SELECT get_json_object(col_min, '$.id') AS lo, "
        "       get_json_object(col_max, '$.id') AS hi "
        "FROM ducklake_file_stats('fs')"
    ).collect()
    assert any(r.lo == "0" for r in mins) and any(r.hi == "49" for r in mins)


# -- materialized views: the continuous-aggregate tier behind SQL ---------


def _mv_rows(lake, q):
    return sorted(tuple(r) for r in lake.sql(q).collect())


def test_materialized_view_round_trip_sql(lake):
    """The judge-specified round trip: create via SQL, mutate the source,
    REFRESH via SQL, and SELECT shows the derived avg columns equal to a
    from-scratch recompute of the same definition."""
    lake.sql("CREATE TABLE ev (id INT, ts TIMESTAMP, user_id INT, value DOUBLE)")
    lake.sql(
        "INSERT INTO ev VALUES "
        "(1, '2024-01-01 00:05:00', 1, 10.0),"
        "(2, '2024-01-01 00:55:00', 1, 20.0),"
        "(3, '2024-01-01 01:05:00', 2, 30.0),"
        "(4, '2024-01-01 01:10:00', 1, 40.0)"
    )
    lake.sql(
        "CREATE MATERIALIZED VIEW ev_hourly AS "
        "SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_start, "
        "COUNT(*) AS n_rows, SUM(value) AS sum_value, AVG(value) AS avg_value "
        "FROM ev GROUP BY user_id, bucket_start"
    )

    def recompute():
        return _mv_rows(
            lake,
            "SELECT user_id, date_trunc('hour', ts) AS bucket_start, "
            "count(*) AS n_rows, sum(value) AS sum_value, "
            "sum(value)/count(*) AS avg_value "
            "FROM ev GROUP BY 1, 2",
        )

    def mv():
        return _mv_rows(
            lake,
            "SELECT user_id, bucket_start, n_rows, sum_value, avg_value "
            "FROM ev_hourly",
        )

    assert mv() == recompute()

    # mutate the source: append into an existing bucket, a new bucket, and
    # delete a row — then refresh and re-compare
    lake.sql(
        "INSERT INTO ev VALUES "
        "(5, '2024-01-01 00:20:00', 1, 5.0),"
        "(6, '2024-01-01 03:00:00', 3, 7.0)"
    )
    lake.sql("DELETE FROM ev WHERE id = 3")
    st = lake.sql("REFRESH MATERIALIZED VIEW ev_hourly").collect()[0]
    assert st["op"] == "REFRESH MATERIALIZED VIEW" and st["rows"] > 0
    assert mv() == recompute()

    # idempotent: nothing changed, zero buckets touched
    st = lake.sql("REFRESH MATERIALIZED VIEW ev_hourly").collect()[0]
    assert st["rows"] == 0


def test_materialized_view_keys_only_and_minmax_sql(lake):
    lake.sql("CREATE TABLE m (k VARCHAR, v DOUBLE)")
    lake.sql("INSERT INTO m VALUES ('a', 1.0), ('a', 9.0), ('b', 4.0)")
    # keys-only (no time_bucket): one epoch-0 bucket, min/max maintained
    # via the partial-recompute path
    lake.sql(
        "CREATE MATERIALIZED VIEW m_by_k AS "
        "SELECT k, COUNT(*), SUM(v), MIN(v), MAX(v) FROM m GROUP BY k"
    )
    rows = {
        r["k"]: r
        for r in lake.sql(
            "SELECT k, n_rows, sum_v, avg_v, min_v, max_v FROM m_by_k"
        ).collect()
    }
    assert rows["a"]["n_rows"] == 2 and rows["a"]["avg_v"] == 5.0
    assert rows["a"]["min_v"] == 1.0 and rows["a"]["max_v"] == 9.0
    # delete the max row: non-additive state must partially recompute
    lake.sql("DELETE FROM m WHERE v = 9.0")
    lake.sql("REFRESH MATERIALIZED VIEW m_by_k")
    rows = {
        r["k"]: r
        for r in lake.sql("SELECT k, n_rows, max_v FROM m_by_k").collect()
    }
    assert rows["a"]["n_rows"] == 1 and rows["a"]["max_v"] == 1.0

    # CREATE OR REPLACE swaps the definition
    lake.sql(
        "CREATE OR REPLACE MATERIALIZED VIEW m_by_k AS "
        "SELECT k, COUNT(*) FROM m GROUP BY k"
    )
    assert "sum_v" not in lake.sql("SELECT * FROM m_by_k").columns

    lake.sql("DROP MATERIALIZED VIEW m_by_k")
    names = [r["name"] for r in lake.sql("SHOW TABLES").collect()]
    assert "m_by_k" not in names and "m_by_k__rollup_meta" not in names
    lake.sql("DROP MATERIALIZED VIEW IF EXISTS m_by_k")  # no-op, no raise


def test_materialized_view_sql_errors(lake):
    lake.sql("CREATE TABLE src (k INT, v DOUBLE)")
    lake.sql("INSERT INTO src VALUES (1, 2.0)")
    # WHERE and HAVING are supported — JOIN still is not
    with pytest.raises(LakeSQLError, match="maintainable subset"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS "
            "SELECT k, COUNT(*) FROM src JOIN src2 ON x = y GROUP BY k"
        )
    with pytest.raises(LakeSQLError, match="canonical names"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS "
            "SELECT k, SUM(v) AS total FROM src GROUP BY k"
        )
    with pytest.raises(LakeSQLError, match="must appear in GROUP BY"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS SELECT k, COUNT(*) FROM src"
        )
    with pytest.raises(LakeSQLError, match="no such materialized view"):
        lake.sql("REFRESH MATERIALIZED VIEW missing")
    with pytest.raises(LakeSQLError, match="no such materialized view"):
        lake.sql("DROP MATERIALIZED VIEW missing")
    lake.sql(
        "CREATE MATERIALIZED VIEW ok AS SELECT k, COUNT(*) FROM src GROUP BY k"
    )
    with pytest.raises(LakeSQLError, match="exists"):
        lake.sql(
            "CREATE MATERIALIZED VIEW ok AS "
            "SELECT k, COUNT(*) FROM src GROUP BY k"
        )
    # SUM(*)/AVG(*)/MIN(*)/MAX(*) are parse errors, not deep CTAS blowups
    with pytest.raises(LakeSQLError, match=r"SUM\(\*\)"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS "
            "SELECT k, SUM(*) FROM src GROUP BY k"
        )
    # unknown columns are caught at parse/validate time with a clear error
    with pytest.raises(LakeSQLError, match="typo_col"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS "
            "SELECT k, SUM(typo_col) FROM src GROUP BY k"
        )


def test_create_or_replace_mv_is_atomic(lake):
    """A failed CREATE OR REPLACE must leave the EXISTING MV fully intact
    (old behavior dropped the old MV before building the new one, so a
    typo'd column destroyed it)."""
    lake.sql("CREATE TABLE src (k VARCHAR, v DOUBLE)")
    lake.sql("INSERT INTO src VALUES ('a', 1.0), ('a', 2.0), ('b', 5.0)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT k, COUNT(*), SUM(v) FROM src GROUP BY k"
    )
    before = {
        r["k"]: (r["n_rows"], r["sum_v"])
        for r in lake.sql("SELECT k, n_rows, sum_v FROM mv").collect()
    }
    with pytest.raises(LakeSQLError, match="typo_col"):
        lake.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW mv AS "
            "SELECT k, SUM(typo_col) FROM src GROUP BY k"
        )
    with pytest.raises(LakeSQLError, match=r"MAX\(\*\)"):
        lake.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW mv AS "
            "SELECT k, MAX(*) FROM src GROUP BY k"
        )
    # old MV still reads (avg face included) and still refreshes
    after = {
        r["k"]: (r["n_rows"], r["sum_v"])
        for r in lake.sql("SELECT k, n_rows, sum_v FROM mv").collect()
    }
    assert after == before
    lake.sql("INSERT INTO src VALUES ('b', 7.0)")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    row = lake.sql("SELECT sum_v FROM mv WHERE k = 'b'").first()
    assert row["sum_v"] == 12.0
    # a successful REPLACE lands as ONE snapshot: old-or-new, never neither
    v0 = lake.current_version()
    lake.sql(
        "CREATE OR REPLACE MATERIALIZED VIEW mv AS "
        "SELECT k, COUNT(*) FROM src GROUP BY k"
    )
    assert lake.current_version() == v0 + 1
    assert "sum_v" not in lake.sql("SELECT * FROM mv").columns
    # at v0 the OLD definition is still whole (meta + state both readable)
    old = lake.sql("SELECT k, sum_v FROM mv AT (VERSION => {}) ".format(v0))
    assert {r["k"]: r["sum_v"] for r in old.collect()}["b"] == 12.0


def test_mv_count_col_and_distinct_sql(lake):
    """The reference's catalog-portability demo builds a summary view with
    COUNT(DISTINCT product_id) (demos/05_catalog_portability/demo.py:361);
    the MV tier now maintains COUNT(col), COUNT(DISTINCT col), and
    APPROX_COUNT_DISTINCT(col) behind the same SQL surface."""
    lake.sql("CREATE TABLE sales (region VARCHAR, product_id INT, amt DOUBLE)")
    lake.sql(
        "INSERT INTO sales VALUES "
        "('eu', 1, 10.0), ('eu', 1, 20.0), ('eu', 2, NULL), "
        "('us', 3, 5.0), ('us', NULL, 7.0)"
    )
    lake.sql(
        "CREATE MATERIALIZED VIEW sales_mv AS "
        "SELECT region, COUNT(*), COUNT(amt), COUNT(DISTINCT product_id), "
        "APPROX_COUNT_DISTINCT(product_id) FROM sales GROUP BY region"
    )
    rows = {
        r["region"]: r
        for r in lake.sql(
            "SELECT region, n_rows, count_amt, distinct_product_id, "
            "approx_distinct_product_id FROM sales_mv"
        ).collect()
    }
    assert rows["eu"]["n_rows"] == 3 and rows["eu"]["count_amt"] == 2
    assert rows["eu"]["distinct_product_id"] == 2
    assert rows["eu"]["approx_distinct_product_id"] == 2
    assert rows["us"]["count_amt"] == 2  # both us amts are non-null
    assert rows["us"]["distinct_product_id"] == 1  # NULL product skipped
    # raw sketch bytes never surface in SELECT * or DESCRIBE
    assert "hll_product_id" not in lake.sql("SELECT * FROM sales_mv").columns
    desc = {r["column_name"]: r for r in lake.sql("DESCRIBE sales_mv").collect()}
    assert "hll_product_id" not in desc
    assert desc["approx_distinct_product_id"]["extra"] == "derived"
    # refresh through an insert + a delete keeps everything consistent
    lake.sql("INSERT INTO sales VALUES ('eu', 9, 1.0), ('eu', 1, NULL)")
    lake.sql("DELETE FROM sales WHERE product_id = 2")
    lake.sql("REFRESH MATERIALIZED VIEW sales_mv")
    oracle = {
        r["region"]: r
        for r in lake.sql(
            "SELECT region, COUNT(*) AS n_rows, COUNT(amt) AS count_amt, "
            "COUNT(DISTINCT product_id) AS d, "
            "APPROX_COUNT_DISTINCT(product_id) AS ad "
            "FROM sales GROUP BY region"
        ).collect()
    }
    rows = {
        r["region"]: r
        for r in lake.sql(
            "SELECT region, n_rows, count_amt, distinct_product_id, "
            "approx_distinct_product_id FROM sales_mv"
        ).collect()
    }
    for reg in ("eu", "us"):
        assert rows[reg]["n_rows"] == oracle[reg]["n_rows"]
        assert rows[reg]["count_amt"] == oracle[reg]["count_amt"]
        assert rows[reg]["distinct_product_id"] == oracle[reg]["d"]
        assert rows[reg]["approx_distinct_product_id"] == oracle[reg]["ad"]
    # alias enforcement: canonical names only
    with pytest.raises(LakeSQLError, match="canonical names"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS SELECT region, "
            "COUNT(DISTINCT product_id) AS n_products FROM sales "
            "GROUP BY region"
        )
    with pytest.raises(LakeSQLError, match="DISTINCT is only maintained"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS SELECT region, "
            "SUM(DISTINCT amt) FROM sales GROUP BY region"
        )
    with pytest.raises(LakeSQLError, match=r"COUNT\(DISTINCT \*\)"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS SELECT region, "
            "COUNT(DISTINCT *) FROM sales GROUP BY region"
        )


def test_mv_having_sql(lake):
    """HAVING on a materialized view is a READ-TIME group filter over the
    maintained face: the state stays maintained unfiltered, so groups
    crossing the threshold in either direction appear/disappear exactly
    like a from-scratch GROUP BY ... HAVING recompute."""
    lake.sql("CREATE TABLE sales (region VARCHAR, amt DOUBLE)")
    lake.sql(
        "INSERT INTO sales VALUES "
        "('eu', 10.0), ('eu', 20.0), ('us', 1.0), ('ap', 50.0)"
    )
    lake.sql(
        "CREATE MATERIALIZED VIEW big AS "
        "SELECT region, COUNT(*), SUM(amt), COUNT(amt) FROM sales "
        "GROUP BY region HAVING COUNT(*) >= 2 AND AVG(amt) > 5.0"
    )

    def recompute():
        return _mv_rows(
            lake,
            "SELECT region, count(*) AS n_rows, sum(amt) AS sum_amt "
            "FROM sales GROUP BY region "
            "HAVING count(*) >= 2 AND avg(amt) > 5.0",
        )

    def mv():
        return _mv_rows(lake, "SELECT region, n_rows, sum_amt FROM big")

    assert mv() == recompute()
    assert [r[0] for r in mv()] == ["eu"]

    # 'us' crosses INTO the threshold, 'eu' drops OUT (avg falls to 5):
    # read-time filtering shows both transitions after one refresh
    v0 = lake.current_version()
    lake.sql("INSERT INTO sales VALUES ('us', 99.0), ('eu', 0.0)")
    lake.sql("DELETE FROM sales WHERE region = 'eu' AND amt = 20.0")
    lake.sql("REFRESH MATERIALIZED VIEW big")
    assert mv() == recompute()
    assert [r[0] for r in mv()] == ["us"]
    # time travel re-applies the predicate of THAT version's meta
    old = lake.sql(
        "SELECT region FROM big AT (VERSION => {})".format(v0)
    ).collect()
    assert [r["region"] for r in old] == ["eu"]

    # canonical read-face names are equally legal in HAVING, and the
    # face derivations (avg_<c>) are visible to it
    lake.sql(
        "CREATE MATERIALIZED VIEW big2 AS "
        "SELECT region, COUNT(*), SUM(amt) FROM sales "
        "GROUP BY region HAVING sum_amt > 50.0 OR avg_amt > 50.0"
    )
    got = {r["region"] for r in lake.sql("SELECT region FROM big2").collect()}
    assert got == {"us"}
    # DESCRIBE still shows the face (HAVING changes rows, not columns)
    desc = {r["column_name"] for r in lake.sql("DESCRIBE big2").collect()}
    assert {"region", "n_rows", "sum_amt", "avg_amt"} <= desc


def test_mv_having_errors(lake):
    lake.sql("CREATE TABLE t (k VARCHAR, v DOUBLE, w DOUBLE)")
    lake.sql("INSERT INTO t VALUES ('a', 1.0, 2.0)")
    # an aggregate the view does not maintain cannot be answered from
    # the face — the error says to add it to the SELECT list
    with pytest.raises(LakeSQLError, match="does not maintain"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS SELECT k, COUNT(*) FROM t "
            "GROUP BY k HAVING SUM(w) > 1"
        )
    # aggregates outside the maintainable family are refused by name
    # (stddev graduated INTO the family in round 11 — median stays out)
    with pytest.raises(LakeSQLError, match="not maintained by this view"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS SELECT k, COUNT(*) FROM t "
            "GROUP BY k HAVING median(v) > 1"
        )
    # an unmaintained STDDEV points at the SELECT list instead
    with pytest.raises(LakeSQLError, match="add it to the SELECT"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS SELECT k, COUNT(*) FROM t "
            "GROUP BY k HAVING stddev(v) > 1"
        )
    with pytest.raises(LakeSQLError, match="deterministic"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS SELECT k, COUNT(*) FROM t "
            "GROUP BY k HAVING n_rows > rand()"
        )
    with pytest.raises(LakeSQLError, match="requires a predicate"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS SELECT k, COUNT(*) FROM t "
            "GROUP BY k HAVING"
        )
    with pytest.raises(LakeSQLError, match=r"SUM\(\*\)"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS SELECT k, COUNT(*) FROM t "
            "GROUP BY k HAVING SUM(*) > 1"
        )
    # a typo'd face column fails BEFORE anything is dropped or written
    # (engine probe against the empty face), old MV intact under REPLACE
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*), SUM(v) "
        "FROM t GROUP BY k HAVING n_rows > 0"
    )
    with pytest.raises(Exception, match="invalid HAVING"):
        lake.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW mv AS "
            "SELECT k, COUNT(*), SUM(v) FROM t GROUP BY k "
            "HAVING nope_col > 1"
        )
    assert {r["k"] for r in lake.sql("SELECT k FROM mv").collect()} == {"a"}


def test_mv_having_avg_null_exact(lake):
    """HAVING AVG(c) matches SQL AVG (NULL-skipping denominator) exactly:
    the rewrite targets sum_c / count_c when COUNT(c) is maintained, and a
    nullable column without COUNT(c) is refused with guidance — the
    read-face avg_c (sum / COUNT(*)) silently diverges on NULLs."""
    lake.sql("CREATE TABLE s (g VARCHAR, v DOUBLE)")
    lake.sql("INSERT INTO s VALUES ('a', 10.0), ('a', NULL), ('b', 4.0)")
    # nullable v without COUNT(v): refused, pointing at the fix
    with pytest.raises(LakeSQLError, match=r"COUNT\(v\)"):
        lake.sql(
            "CREATE MATERIALIZED VIEW mv AS SELECT g, COUNT(*), SUM(v) "
            "FROM s GROUP BY g HAVING AVG(v) >= 10.0"
        )
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT g, COUNT(*), SUM(v), "
        "COUNT(v) FROM s GROUP BY g HAVING AVG(v) >= 10.0"
    )
    # group 'a' = (10.0, NULL): SQL AVG = 10.0 -> kept; the COUNT(*)
    # denominator (sum/n_rows = 5.0) would have wrongly dropped it
    assert [r["g"] for r in lake.sql("SELECT g FROM mv").collect()] == ["a"]
    assert _mv_rows(lake, "SELECT g, n_rows, sum_v FROM mv") == _mv_rows(
        lake,
        "SELECT g, count(*) AS n_rows, sum(v) AS sum_v FROM s "
        "GROUP BY g HAVING avg(v) >= 10.0",
    )
    # a NOT NULL column needs no COUNT(c): the /n_rows face is provably
    # exact, so plain AVG(c) stays accepted
    lake.sql("CREATE TABLE s2 (g VARCHAR, v DOUBLE NOT NULL)")
    lake.sql("INSERT INTO s2 VALUES ('a', 10.0), ('a', 20.0), ('b', 1.0)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv2 AS SELECT g, COUNT(*), SUM(v) "
        "FROM s2 GROUP BY g HAVING AVG(v) > 5.0"
    )
    assert [
        r["g"] for r in lake.sql("SELECT g FROM mv2").collect()
    ] == ["a"]


def test_mv_having_rename_follow_through(lake):
    """Renaming a source column the HAVING references (through its stored
    sum_<c>/avg_<c>/key spellings) rewrites the stored predicate in the
    same transaction, so reads and refreshes keep resolving."""
    lake.sql("CREATE TABLE ev (k VARCHAR, v DOUBLE)")
    lake.sql("INSERT INTO ev VALUES ('a', 10.0), ('a', 20.0), ('b', 1.0)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*), SUM(v), "
        "COUNT(v) FROM ev GROUP BY k "
        "HAVING SUM(v) > 5.0 AND AVG(v) > 2.0 AND k <> 'zz'"
    )
    lake.sql("ALTER TABLE ev RENAME COLUMN v TO amount")
    lake.sql("ALTER TABLE ev RENAME COLUMN k TO grp")
    assert [
        r["grp"] for r in lake.sql("SELECT grp FROM mv").collect()
    ] == ["a"]
    lake.sql("INSERT INTO ev VALUES ('b', 99.0)")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    got = {
        r["grp"]: r["sum_amount"]
        for r in lake.sql("SELECT grp, sum_amount FROM mv").collect()
    }
    assert got == {"a": 30.0, "b": 100.0}


def test_alter_type_widens_dependent_mv_state(lake):
    """Widening a source column that an MV maintains must widen the MV's
    stored state in the SAME transaction: otherwise the next refresh's
    schema alignment silently casts fractional sums/minima back to the old
    integer types (regression: sum 3.5 read back as 3, min 0.5 as 0)."""
    lake.sql("CREATE TABLE ev (k VARCHAR, v INTEGER)")
    lake.sql("INSERT INTO ev VALUES ('a', 1), ('a', 2), ('b', 5)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT k, COUNT(*), SUM(v), MIN(v), MAX(v) FROM ev GROUP BY k"
    )
    lake.sql("ALTER TABLE ev ALTER COLUMN v TYPE DOUBLE")
    types = dict(lake.sql("SELECT * FROM mv").dtypes)
    assert types["sum_v"] == "double"
    assert types["min_v"] == "double" and types["max_v"] == "double"
    lake.sql("INSERT INTO ev VALUES ('a', 0.5)")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    got = {
        r["k"]: (r["n_rows"], r["sum_v"], r["min_v"], r["max_v"], r["avg_v"])
        for r in lake.sql("SELECT * FROM mv").collect()
    }
    assert got["a"] == (3, 3.5, 0.5, 2.0, 3.5 / 3)
    assert got["b"] == (1, 5.0, 5.0, 5.0, 5.0)
    # a KEY column widening propagates to the MV's key column too
    lake.sql("CREATE TABLE ev2 (g INTEGER, v INTEGER)")
    lake.sql("INSERT INTO ev2 VALUES (1, 10), (2, 20)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv2 AS "
        "SELECT g, COUNT(*) FROM ev2 GROUP BY g"
    )
    lake.sql("ALTER TABLE ev2 ALTER COLUMN g TYPE BIGINT")
    assert dict(lake.sql("SELECT * FROM mv2").dtypes)["g"] == "bigint"
    lake.sql("INSERT INTO ev2 VALUES (8589934592, 1)")  # needs 64 bits
    lake.sql("REFRESH MATERIALIZED VIEW mv2")
    ks = {r["g"] for r in lake.sql("SELECT g FROM mv2").collect()}
    assert 8589934592 in ks and {1, 2} <= ks


def test_rename_drop_of_mv_maintained_columns(lake):
    """Schema evolution x MV consistency, the rename/drop half: renaming a
    maintained source column follows through to the MV (meta lists, stored
    sum_<c>/key columns) so REFRESH keeps working with the new names
    (regression: permanently unrefreshable AnalysisException on the old
    name); dropping a maintained column is blocked with a clear error."""
    lake.sql("CREATE TABLE ev (k VARCHAR, v INTEGER, extra INT, ts TIMESTAMP)")
    lake.sql(
        "INSERT INTO ev VALUES "
        "('a', 1, 0, TIMESTAMP '2024-01-01 00:10:00'), "
        "('a', 2, 0, TIMESTAMP '2024-01-01 00:20:00'), "
        "('b', 5, 0, TIMESTAMP '2024-01-01 02:00:00')"
    )
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, "
        "time_bucket(INTERVAL '1 hour', ts), COUNT(*), SUM(v), "
        "APPROX_COUNT_DISTINCT(v) FROM ev GROUP BY k, bucket_start"
    )
    # rename the summed column, the key column, AND the time column
    lake.sql("ALTER TABLE ev RENAME COLUMN v TO amount")
    lake.sql("ALTER TABLE ev RENAME COLUMN k TO grp")
    lake.sql("ALTER TABLE ev RENAME COLUMN ts TO event_ts")
    cols = set(lake.sql("SELECT * FROM mv").columns)
    assert {"grp", "sum_amount", "avg_amount", "approx_distinct_amount"} <= cols
    assert "sum_v" not in cols and "k" not in cols
    lake.sql(
        "INSERT INTO ev VALUES ('a', 7, 0, TIMESTAMP '2024-01-01 00:40:00')"
    )
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    got = {
        (r["grp"], r["bucket_start"].hour): (r["n_rows"], r["sum_amount"])
        for r in lake.sql("SELECT * FROM mv").collect()
    }
    assert got[("a", 0)] == (3, 10) and got[("b", 2)] == (1, 5)
    # dropping a maintained column is refused; unrelated columns drop fine
    with pytest.raises(Exception, match="maintained by materialized view"):
        lake.sql("ALTER TABLE ev DROP COLUMN amount")
    with pytest.raises(Exception, match="maintained by materialized view"):
        lake.sql("ALTER TABLE ev DROP COLUMN grp")
    lake.sql("ALTER TABLE ev DROP COLUMN extra")
    lake.sql("REFRESH MATERIALIZED VIEW mv")  # still healthy
    lake.sql("DROP MATERIALIZED VIEW mv")
    lake.sql("ALTER TABLE ev DROP COLUMN amount")  # now unguarded


def test_mv_evolution_guards_inside_one_transaction(lake):
    """The consistency guards must see STAGED state, not committed: inside
    one BEGIN block, a rename followed by a drop of the renamed column is
    still blocked, a double rename follows through twice, dropping the
    source table of an MV is refused, and rolling the block back leaves
    everything untouched."""
    lake.sql("CREATE TABLE ev (k VARCHAR, v INTEGER)")
    lake.sql("INSERT INTO ev VALUES ('a', 1), ('b', 5)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*), SUM(v) "
        "FROM ev GROUP BY k"
    )
    # rename -> drop of the SAME logical column inside one txn: blocked
    lake.sql("BEGIN")
    lake.sql("ALTER TABLE ev RENAME COLUMN v TO w")
    with pytest.raises(Exception, match="maintained by materialized view"):
        lake.sql("ALTER TABLE ev DROP COLUMN w")
    lake.sql("ROLLBACK")
    assert "v" in lake.read("ev").columns  # rollback left the old name
    assert "sum_v" in lake.sql("SELECT * FROM mv").columns
    # double rename inside one txn: the second sees the first's restamp
    lake.sql("BEGIN")
    lake.sql("ALTER TABLE ev RENAME COLUMN v TO w")
    lake.sql("ALTER TABLE ev RENAME COLUMN w TO x")
    lake.sql("COMMIT")
    assert "sum_x" in lake.sql("SELECT * FROM mv").columns
    lake.sql("INSERT INTO ev VALUES ('a', 9)")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    got = {r["k"]: r["sum_x"] for r in lake.sql("SELECT * FROM mv").collect()}
    assert got == {"a": 10, "b": 5}
    # dropping the MV's source table is refused until the MV goes first
    with pytest.raises(Exception, match="source of materialized view"):
        lake.sql("DROP TABLE ev")
    lake.sql("DROP MATERIALIZED VIEW mv")
    lake.sql("DROP TABLE ev")


def test_widen_resketches_approx_state(lake):
    """HLL sketches hash the STRING form of the value; an int->double widen
    changes that form ('7' -> '7.0'), so the widen must REBUILD the sketch
    state — otherwise the next insert of an already-seen value would union
    a different hash and overcount the distinct estimate."""
    lake.sql("CREATE TABLE ev (k VARCHAR, v INTEGER)")
    lake.sql("INSERT INTO ev VALUES ('a', 7), ('a', 8), ('b', 7)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT k, COUNT(*), APPROX_COUNT_DISTINCT(v) FROM ev GROUP BY k"
    )
    lake.sql("ALTER TABLE ev ALTER COLUMN v TYPE DOUBLE")
    # already-seen value arrives under the new representation (7 -> 7.0):
    # an un-rebuilt sketch would count it as a second distinct value
    lake.sql("INSERT INTO ev VALUES ('a', 7.0)")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    got = {
        r["k"]: (r["n_rows"], r["approx_distinct_v"])
        for r in lake.sql("SELECT * FROM mv").collect()
    }
    assert got == {"a": (3, 2), "b": (1, 1)}  # {7.0, 8.0} and {7.0}
    # int -> bigint keeps the digits: sketches must NOT rebuild (additive
    # path still unions consistently)
    lake.sql("CREATE TABLE ev2 (k VARCHAR, v INTEGER)")
    lake.sql("INSERT INTO ev2 VALUES ('a', 7)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv2 AS "
        "SELECT k, COUNT(*), APPROX_COUNT_DISTINCT(v) FROM ev2 GROUP BY k"
    )
    lake.sql("ALTER TABLE ev2 ALTER COLUMN v TYPE BIGINT")
    lake.sql("INSERT INTO ev2 VALUES ('a', 7), ('a', 9)")
    lake.sql("REFRESH MATERIALIZED VIEW mv2")
    row = lake.sql("SELECT * FROM mv2").first()
    assert (row["n_rows"], row["approx_distinct_v"]) == (3, 2)


def test_widen_resketch_with_staged_dml_no_double_count(lake):
    """BEGIN; INSERT; ALTER TYPE (cross-family, approx-maintained); COMMIT:
    the forced sketch rebuild must NOT bake the txn's own staged rows into
    the rebuilt state — they commit at base+1 and the next refresh's
    base->head diff folds them in; reading staged state AND stamping base
    would double-count them (n_rows/sums/sketches alike)."""
    lake.sql("CREATE TABLE ev (k VARCHAR, v INTEGER)")
    lake.sql("INSERT INTO ev VALUES ('a', 7), ('b', 5)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*), SUM(v), "
        "APPROX_COUNT_DISTINCT(v) FROM ev GROUP BY k"
    )
    lake.sql("BEGIN")
    lake.sql("INSERT INTO ev VALUES ('a', 8)")
    lake.sql("ALTER TABLE ev ALTER COLUMN v TYPE DOUBLE")
    lake.sql("COMMIT")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    got = {
        r["k"]: (r["n_rows"], r["sum_v"], r["approx_distinct_v"])
        for r in lake.sql("SELECT * FROM mv").collect()
    }
    assert got == {"a": (2, 15.0, 2), "b": (1, 5.0, 1)}
    # ALTER first, DML after — same invariant from the other side
    lake.sql("CREATE TABLE ev2 (k VARCHAR, v INTEGER)")
    lake.sql("INSERT INTO ev2 VALUES ('b', 5)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv2 AS SELECT k, COUNT(*), SUM(v), "
        "APPROX_COUNT_DISTINCT(v) FROM ev2 GROUP BY k"
    )
    lake.sql("BEGIN")
    lake.sql("ALTER TABLE ev2 ALTER COLUMN v TYPE DECIMAL(12,2)")
    lake.sql("INSERT INTO ev2 VALUES ('b', 7)")
    lake.sql("COMMIT")
    lake.sql("REFRESH MATERIALIZED VIEW mv2")
    got = {
        r["k"]: (r["n_rows"], float(r["sum_v"]), r["approx_distinct_v"])
        for r in lake.sql("SELECT * FROM mv2").collect()
    }
    assert got == {"b": (2, 12.0, 2)}


def test_widen_then_rename_same_txn_keeps_rebuild_stamp(lake):
    """BEGIN; ALTER TYPE (forces a state rebuild stamped at base); RENAME
    (restamps from the cached meta row); COMMIT — the rename's restamp
    must carry the REBUILD's version forward, not rewind to the
    pre-rebuild value (which would make the next refresh re-apply changes
    the rebuild already incorporated)."""
    lake.sql("CREATE TABLE ev (k VARCHAR, v INTEGER)")
    lake.sql("INSERT INTO ev VALUES ('a', 7)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*), "
        "APPROX_COUNT_DISTINCT(v) FROM ev GROUP BY k"
    )
    lake.sql("INSERT INTO ev VALUES ('a', 8)")
    lake.sql("REFRESH MATERIALIZED VIEW mv")  # last_version advances
    lake.sql("INSERT INTO ev VALUES ('a', 9)")  # NOT yet refreshed in
    lake.sql("BEGIN")
    lake.sql("ALTER TABLE ev ALTER COLUMN v TYPE DOUBLE")  # rebuild @ base
    lake.sql("ALTER TABLE ev RENAME COLUMN v TO w")  # restamp from cache
    lake.sql("COMMIT")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    row = lake.sql("SELECT * FROM mv").first()
    # rebuild at base already saw ('a',9); a rewound stamp re-applies it
    assert (row["n_rows"], row["approx_distinct_w"]) == (3, 3)


def test_export_ignores_lookalike_rollup_meta(lake, spark, tmp_path):
    """A USER table that merely names like rollup meta (x__rollup_meta with
    a sibling x) must export verbatim — no restamp, no crash on a schema
    that lacks last_version."""
    from ducktales_spark.lake import LakeCatalog

    lake.sql("CREATE TABLE x (k INT)")
    lake.sql("CREATE TABLE x__rollup_meta (note VARCHAR, n INT)")
    lake.sql("INSERT INTO x VALUES (1)")
    lake.sql("INSERT INTO x__rollup_meta VALUES ('a', 1), ('b', 2)")
    other = LakeCatalog(str(tmp_path / "other2"), spark, inline_threshold=4)
    lake.export_to(other)
    rows = sorted(
        (r["note"], r["n"])
        for r in other.sql("SELECT note, n FROM x__rollup_meta").collect()
    )
    assert rows == [("a", 1), ("b", 2)]


def test_materialized_view_survives_catalog_export(lake, spark, tmp_path):
    """D15 x X12: export_to migrates an MV's stored state AND meta table,
    so the target catalog can read (avg columns included) and REFRESH the
    view after source mutations of its own."""
    from ducktales_spark.lake import LakeCatalog

    # source table named to sort AFTER the MV tables: if export left the
    # SOURCE-catalog last_version in the migrated meta, a target refresh
    # would diff from a mid-export snapshot where 'zz' didn't exist yet
    # and double-count every pre-existing row
    lake.sql("CREATE TABLE zz (k VARCHAR, v DOUBLE)")
    lake.sql("INSERT INTO zz VALUES ('a', 2.0), ('a', 4.0), ('b', 1.0)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*), SUM(v) "
        "FROM zz GROUP BY k"
    )
    other = LakeCatalog(str(tmp_path / "other"), spark, inline_threshold=4)
    lake.export_to(other)
    rows = {
        r["k"]: r for r in other.sql("SELECT k, n_rows, avg_v FROM mv").collect()
    }
    assert rows["a"]["n_rows"] == 2 and rows["a"]["avg_v"] == 3.0
    other.sql("INSERT INTO zz VALUES ('b', 5.0)")
    other.sql("REFRESH MATERIALIZED VIEW mv")
    rows = {
        r["k"]: r for r in other.sql("SELECT k, n_rows, avg_v FROM mv").collect()
    }
    assert rows["b"]["n_rows"] == 2 and rows["b"]["avg_v"] == 3.0


def test_materialized_view_time_travel_sql(lake):
    """mv AT (VERSION => n) reads the rollup face at that snapshot — avg
    columns included — matching current-version reads; a plain table's AT
    rewrite is untouched."""
    lake.sql("CREATE TABLE src (k VARCHAR, v DOUBLE)")
    lake.sql("INSERT INTO src VALUES ('a', 2.0), ('a', 4.0)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*), SUM(v) "
        "FROM src GROUP BY k"
    )
    v0 = lake.current_version()
    lake.sql("INSERT INTO src VALUES ('a', 12.0)")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    now = lake.sql("SELECT n_rows, avg_v FROM mv").collect()[0]
    assert now["n_rows"] == 3 and now["avg_v"] == 6.0
    then = lake.sql(
        f"SELECT n_rows, avg_v FROM mv AT (VERSION => {v0})"
    ).collect()[0]
    assert then["n_rows"] == 2 and then["avg_v"] == 3.0
    # plain-table AT still works through the generic rewrite
    assert lake.sql(
        f"SELECT count(*) AS c FROM src AT (VERSION => {v0})"
    ).collect()[0]["c"] == 2


def test_materialized_view_describe_and_show(lake):
    """DESCRIBE mv lists the stored columns PLUS the read face's derived
    avg columns (extra='derived'); SHOW TABLES lists the MV once, without
    its internal meta companion (which stays directly readable)."""
    lake.sql("CREATE TABLE s (k VARCHAR, v DOUBLE)")
    lake.sql("INSERT INTO s VALUES ('a', 1.0)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*), SUM(v) "
        "FROM s GROUP BY k"
    )
    cols = {r["column_name"]: r for r in lake.sql("DESCRIBE mv").collect()}
    assert "sum_v" in cols and "n_rows" in cols
    assert cols["avg_v"]["extra"] == "derived"
    assert cols["avg_v"]["column_type"] == "DOUBLE"
    names = [r["name"] for r in lake.sql("SHOW TABLES").collect()]
    assert "mv" in names and "mv__rollup_meta" not in names
    # the meta table is hidden, not gone
    assert lake.sql("SELECT src FROM mv__rollup_meta").collect()[0]["src"] == "s"


def test_materialized_view_bucket_expression_forms(lake):
    """time_bucket accepts the bare-seconds form, no alias is required,
    and GROUP BY may repeat the full expression or use ordinals."""
    lake.sql("CREATE TABLE e2 (ts TIMESTAMP, user_id INT, v DOUBLE)")
    lake.sql(
        "INSERT INTO e2 VALUES ('2024-01-01 00:10:00', 1, 4.0), "
        "('2024-01-01 00:50:00', 1, 6.0), ('2024-01-01 02:00:00', 2, 1.0)"
    )
    lake.sql(
        "CREATE MATERIALIZED VIEW mv2 AS "
        "SELECT user_id, time_bucket(3600, ts), COUNT(*), AVG(v) "
        "FROM e2 GROUP BY user_id, time_bucket(3600, ts)"
    )
    rows = {
        (r["user_id"], str(r["bucket_start"])): (r["n_rows"], r["avg_v"])
        for r in lake.sql(
            "SELECT user_id, bucket_start, n_rows, avg_v FROM mv2"
        ).collect()
    }
    assert rows[(1, "2024-01-01 00:00:00")] == (2, 5.0)
    assert rows[(2, "2024-01-01 02:00:00")] == (1, 1.0)
    # ordinal GROUP BY with an INTERVAL-minutes bucket
    lake.sql(
        "CREATE MATERIALIZED VIEW mv3 AS "
        "SELECT user_id, time_bucket(INTERVAL '30 minutes', ts) AS "
        "bucket_start, COUNT(*) FROM e2 GROUP BY 1, 2"
    )
    assert lake.sql("SELECT count(*) AS c FROM mv3").collect()[0]["c"] == 3


# -- MERGE INTO + CALL maintenance (round 9) ---------------------------------


def test_merge_into_sql_full_surface(lake):
    """MERGE INTO as SQL: per-column UPDATE SET expressions referencing
    both sides, expression INSERT, differing key names via alias-qualified
    ON — the conn.execute()-everything surface DuckLake ships for CDC."""
    lake.sql("CREATE TABLE acct (id INTEGER, bal DOUBLE, tag VARCHAR)")
    lake.sql(
        "INSERT INTO acct VALUES (1, 10.0, 'a'), (2, 20.0, 'b'), (3, 30.0, 'c')"
    )
    lake.sql("CREATE TABLE feed (cust_id INTEGER, delta DOUBLE)")
    lake.sql("INSERT INTO feed VALUES (2, 5.0), (4, 7.0)")
    r = lake.sql(
        "MERGE INTO acct AS t USING feed AS s ON t.id = s.cust_id "
        "WHEN MATCHED THEN UPDATE SET bal = t.bal + s.delta "
        "WHEN NOT MATCHED THEN INSERT (id, bal, tag) "
        "VALUES (s.cust_id, s.delta, 'new')"
    ).first()
    assert (r["op"], r["rows"]) == ("MERGE", 2)
    rows = sorted(
        (x["id"], x["bal"], x["tag"])
        for x in lake.sql("SELECT * FROM acct").collect()
    )
    assert rows == [(1, 10.0, "a"), (2, 25.0, "b"), (3, 30.0, "c"), (4, 7.0, "new")]
    # untouched column (tag) survives a partial update verbatim
    assert [x for x in rows if x[0] == 2][0][2] == "b"


def test_merge_into_sql_subquery_delete_and_star(lake):
    lake.sql("CREATE TABLE t (id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    # USING (subquery) + WHEN MATCHED DELETE only
    r = lake.sql(
        "MERGE INTO t USING (SELECT 1 AS id UNION ALL SELECT 9 AS id) s "
        "ON t.id = s.id WHEN MATCHED THEN DELETE"
    ).first()
    assert r["rows"] == 1
    assert sorted(x["id"] for x in lake.sql("SELECT * FROM t").collect()) == [2, 3]
    # SET * / INSERT * (full-row CDC apply)
    lake.sql("CREATE TABLE snap (id INTEGER, v VARCHAR)")
    lake.sql("INSERT INTO snap VALUES (2, 'Y'), (5, 'E')")
    lake.sql(
        "MERGE INTO t USING snap ON t.id = snap.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    rows = sorted(
        (x["id"], x["v"]) for x in lake.sql("SELECT * FROM t").collect()
    )
    assert rows == [(2, "Y"), (3, "z"), (5, "E")]


def test_merge_into_sql_txn_and_errors(lake):
    lake.sql("CREATE TABLE t (id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO t VALUES (1, 1), (2, 2)")
    lake.sql("CREATE TABLE s (id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO s VALUES (2, 20)")
    # read-your-writes inside BEGIN, undone by ROLLBACK
    lake.sql("BEGIN")
    lake.sql(
        "MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN DELETE"
    )
    assert lake.sql("SELECT COUNT(*) AS n FROM t").first()["n"] == 1
    lake.sql("ROLLBACK")
    assert lake.sql("SELECT COUNT(*) AS n FROM t").first()["n"] == 2
    for bad, pat in [
        ("MERGE INTO t USING s ON t.id = s.id", "WHEN clause"),
        ("MERGE INTO t USING s ON t.id < s.id WHEN MATCHED THEN DELETE",
         "key equalities"),
        ("MERGE INTO t USING s ON t.id = s.id "
         "WHEN MATCHED THEN UPDATE SET id = s.id", "key column"),
        ("MERGE INTO t USING s ON x.id = s.id WHEN MATCHED THEN DELETE",
         "unknown alias"),
        ("MERGE INTO t USING s ON t.id = s.id WHEN MATCHED THEN DELETE "
         "WHEN MATCHED THEN UPDATE SET v = 1",
         "only the last WHEN MATCHED"),
        ("MERGE INTO nope USING s ON nope.id = s.id "
         "WHEN MATCHED THEN DELETE", "no such table"),
    ]:
        with pytest.raises(Exception, match=pat):
            lake.sql(bad)
    # string literals containing keywords survive the clause scanner
    lake.sql(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = length(' WHEN MATCHED THEN ')"
    )
    assert lake.sql("SELECT v FROM t WHERE id = 2").first()["v"] == 19
    # delete-only merge accepts a source with EXTRA payload columns (a
    # takedown feed carries more than the keys; only the keys matter)
    lake.sql("CREATE TABLE wide_feed (id INTEGER, note VARCHAR)")
    lake.sql("INSERT INTO wide_feed VALUES (1, 'x')")
    lake.sql(
        "MERGE INTO t USING wide_feed ON t.id = wide_feed.id "
        "WHEN MATCHED THEN DELETE"
    )
    assert sorted(r["id"] for r in lake.sql("SELECT * FROM t").collect()) == [2]


def test_call_maintenance_statements(lake):
    lake.sql("CREATE TABLE t (id INTEGER)")
    for i in range(4):
        lake.sql(f"INSERT INTO t VALUES ({i})")
    lake.sql("CALL flush_inlined('t')")
    lake.sql("CALL ducklake_merge_adjacent_files('t')")  # compact synonym
    exp = lake.sql("CALL expire_snapshots(keep_last => 2)").first().asDict()
    assert exp["snapshots_expired"] >= 1
    assert lake.sql("CALL gc(min_age_seconds => 0)").first()["rows"] >= 0
    assert sorted(
        r["id"] for r in lake.sql("SELECT * FROM t").collect()
    ) == [0, 1, 2, 3]
    with pytest.raises(Exception, match="unknown procedure"):
        lake.sql("CALL frobnicate(1)")


def test_filtered_materialized_view_sql(lake):
    """CREATE MATERIALIZED VIEW ... WHERE ... (the reference's own summary
    view filters rows — demos/03_schema_evolution/demo.py:273-288): the
    predicate applies to every refresh path, evolution guards extend to
    predicate columns (drop refused, rename rewrites the stored WHERE),
    and invalid predicates are rejected with the existing MV intact."""
    lake.sql("CREATE TABLE ev (k VARCHAR, v INTEGER, ok VARCHAR)")
    lake.sql("INSERT INTO ev VALUES ('a', 1, 'y'), ('a', 2, 'n'), ('b', 3, 'y')")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*), SUM(v) "
        "FROM ev WHERE ok = 'y' GROUP BY k"
    )
    got = {r["k"]: (r["n_rows"], r["sum_v"]) for r in lake.sql("SELECT * FROM mv").collect()}
    assert got == {"a": (1, 1), "b": (1, 3)}
    # inserts inside and outside; boundary-crossing updates; outside delete
    lake.sql("INSERT INTO ev VALUES ('a', 10, 'y'), ('b', 99, 'n')")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    lake.sql("UPDATE ev SET ok = 'n' WHERE k = 'a' AND v = 1")
    lake.sql("UPDATE ev SET ok = 'y' WHERE k = 'b' AND v = 99")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    lake.sql("DELETE FROM ev WHERE ok = 'n'")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    got = {r["k"]: (r["n_rows"], r["sum_v"]) for r in lake.sql("SELECT * FROM mv").collect()}
    assert got == {"a": (1, 10), "b": (2, 102)}
    # guards: predicate column cannot be dropped; rename rewrites the WHERE
    with pytest.raises(Exception, match="maintained by materialized view"):
        lake.sql("ALTER TABLE ev DROP COLUMN ok")
    lake.sql("ALTER TABLE ev RENAME COLUMN ok TO status")
    lake.sql("INSERT INTO ev VALUES ('a', 5, 'y')")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    got = {r["k"]: (r["n_rows"], r["sum_v"]) for r in lake.sql("SELECT * FROM mv").collect()}
    assert got == {"a": (2, 15), "b": (2, 102)}
    with pytest.raises(Exception, match="maintained by materialized view"):
        lake.sql("ALTER TABLE ev DROP COLUMN status")
    # rejections leave the existing MV untouched
    with pytest.raises(LakeSQLError, match="subquer"):
        lake.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW mv AS SELECT k, COUNT(*) "
            "FROM ev WHERE v IN (SELECT 1) GROUP BY k"
        )
    with pytest.raises(LakeSQLError, match="WHERE predicate"):
        lake.sql(
            "CREATE OR REPLACE MATERIALIZED VIEW mv AS SELECT k, COUNT(*) "
            "FROM ev WHERE nope = 1 GROUP BY k"
        )
    assert {r["k"]: r["n_rows"] for r in lake.sql("SELECT * FROM mv").collect()} == {
        "a": 2, "b": 2,
    }
    # time-bucketed + approx variant with a json_valid-style predicate
    # (the reference's events_summary shape) through a delete-recompute
    lake.sql("CREATE TABLE ej (ts TIMESTAMP, payload VARCHAR, uid INTEGER)")
    lake.sql(
        "INSERT INTO ej VALUES (TIMESTAMP '2024-01-01 00:10:00', '{\"a\":1}', 1), "
        "(TIMESTAMP '2024-01-01 00:20:00', 'oops', 1), "
        "(TIMESTAMP '2024-01-01 01:10:00', '{\"b\":2}', 2)"
    )
    lake.sql(
        "CREATE MATERIALIZED VIEW ejv AS SELECT "
        "time_bucket(INTERVAL '1 hour', ts), COUNT(*), "
        "APPROX_COUNT_DISTINCT(uid) FROM ej "
        "WHERE payload IS NOT NULL AND get_json_object(payload, '$') IS NOT NULL "
        "GROUP BY 1"
    )
    n0 = {str(r["bucket_start"]): r["n_rows"] for r in lake.sql("SELECT * FROM ejv").collect()}
    assert sum(n0.values()) == 2  # 'oops' filtered out
    lake.sql("DELETE FROM ej WHERE uid = 2")  # delete inside the predicate
    lake.sql("INSERT INTO ej VALUES (TIMESTAMP '2024-01-01 00:40:00', '{\"c\":3}', 3)")
    lake.sql("REFRESH MATERIALIZED VIEW ejv")
    rows = lake.sql("SELECT * FROM ejv").collect()
    got = {str(r["bucket_start"]): (r["n_rows"], r["approx_distinct_uid"]) for r in rows}
    assert got == {"2024-01-01 00:00:00": (2, 2)}


def test_export_meta_shaped_decoy_not_collected(lake, spark, tmp_path):
    """A USER table with rollup-meta-SHAPED columns but many rows must be
    skipped by export's restamp WITHOUT being collected to the driver —
    the shape guard (schema + metadata row count) runs before any
    collect(), so a huge decoy can't OOM an export."""
    from pyspark.sql import DataFrame

    from ducktales_spark.lake import LakeCatalog

    lake.sql("CREATE TABLE big (k INT)")
    lake.sql("INSERT INTO big VALUES (1)")
    decoy = spark.createDataFrame(
        [("s", 1, "[]", 0, f"m{i}") for i in range(50)],
        "src string, bucket_s bigint, sum_cols string, last_version bigint,"
        " decoy_marker string",
    )
    lake.ctas("big__rollup_meta", decoy)
    other = LakeCatalog(str(tmp_path / "exp_decoy"), spark, inline_threshold=0)

    pulled: list = []
    orig_topandas, orig_collect = DataFrame.toPandas, DataFrame.collect

    def spy_topandas(self):
        pulled.append(self.columns)
        return orig_topandas(self)

    def spy_collect(self):
        pulled.append(self.columns)
        return orig_collect(self)

    DataFrame.toPandas, DataFrame.collect = spy_topandas, spy_collect
    try:
        lake.export_to(other)
    finally:
        DataFrame.toPandas, DataFrame.collect = orig_topandas, orig_collect
    assert not [c for c in pulled if "decoy_marker" in c], pulled
    # the decoy's rows survive verbatim in the target
    assert other.count("big__rollup_meta") == 50


def test_describe_ignores_lookalike_rollup_meta(lake, spark):
    """DESCRIBE X with a huge USER table named X__rollup_meta must never
    collect it: _mv_exists checks names only, so the meta collect is
    gated on column shape (DataFrame metadata) + a catalog-metadata row
    count — same guard as export_to and the read overlay."""
    from pyspark.sql import DataFrame

    lake.sql("CREATE TABLE big (k INT)")
    decoy = spark.createDataFrame(
        [("s", 1, "[]", 0, f"m{i}") for i in range(50)],
        "src string, bucket_s bigint, sum_cols string, last_version bigint,"
        " decoy_marker string",
    )
    lake.ctas("big__rollup_meta", decoy)

    pulled: list = []
    orig_collect = DataFrame.collect

    def spy_collect(self):
        pulled.append(self.columns)
        return orig_collect(self)

    DataFrame.collect = spy_collect
    try:
        desc = orig_collect(lake.sql("DESCRIBE big"))
    finally:
        DataFrame.collect = orig_collect
    assert not [c for c in pulled if "decoy_marker" in c], pulled
    # and the decoy contributes no phantom 'derived' read-face rows
    assert [r["column_name"] for r in desc] == ["k"]


def test_merge_sql_parser_hardening(lake):
    """Round-9 code-review fixes: CASE WHEN inside SET expressions must
    not split the WHEN-clause scan, parenthesized ON conditions parse,
    keyword-named source columns don't corrupt expressions, target refs
    in INSERT VALUES fail cleanly, and case-differing key spellings
    merge."""
    lake.sql("CREATE TABLE t (id INTEGER, v INTEGER, tag VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 1, 'a'), (2, 2, 'b')")
    lake.sql("CREATE TABLE s (ID INTEGER, qty INTEGER, end INTEGER)")
    lake.sql("INSERT INTO s VALUES (1, 5, 77), (3, -4, 88)")
    # CASE WHEN in an un-parenthesized SET expression + parenthesized ON
    # + case-differing key spelling (t.id vs s.ID) in one statement
    lake.sql(
        "MERGE INTO t USING s ON (t.id = s.ID) "
        "WHEN MATCHED THEN UPDATE SET "
        "v = CASE WHEN s.qty > 0 THEN t.v + s.qty ELSE t.v END "
        "WHEN NOT MATCHED THEN INSERT (id, v, tag) "
        "VALUES (s.ID, CASE WHEN s.qty > 0 THEN s.qty ELSE 0 END, 'new')"
    )
    rows = sorted(
        (r["id"], r["v"], r["tag"]) for r in lake.sql("SELECT * FROM t").collect()
    )
    assert rows == [(1, 6, "a"), (2, 2, "b"), (3, 0, "new")], rows
    # a source column named like the keyword END: the bare keyword in a
    # CASE stays a keyword; the qualified form reaches the column
    lake.sql(
        "MERGE INTO t USING s ON t.id = s.ID "
        "WHEN MATCHED THEN UPDATE SET "
        "v = CASE WHEN s.end > 0 THEN s.end ELSE 0 END"
    )
    assert lake.sql("SELECT v FROM t WHERE id = 1").first()["v"] == 77
    # target-qualified reference in INSERT VALUES: clean parse-time error
    with pytest.raises(LakeSQLError, match="not in scope"):
        lake.sql(
            "MERGE INTO t USING s ON t.id = s.ID "
            "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.ID, t.v)"
        )


def test_mv_where_must_be_deterministic(lake):
    """now()/current_timestamp/rand() in an MV WHERE would silently
    diverge incremental state from a recompute (rows are judged once, at
    the refresh that sees their diff) — refused at parse time, the way
    TimescaleDB restricts cagg predicates to immutable functions."""
    lake.sql("CREATE TABLE ev (k VARCHAR, ts TIMESTAMP, v INTEGER)")
    lake.sql("INSERT INTO ev VALUES ('a', TIMESTAMP '2024-01-01', 1)")
    for bad in (
        "ts >= now() - INTERVAL 7 DAYS",
        "ts >= current_timestamp",
        "rand() < 0.5",
        "v > unix_timestamp()",
    ):
        with pytest.raises(LakeSQLError, match="deterministic"):
            lake.sql(
                "CREATE MATERIALIZED VIEW bad AS "
                f"SELECT k, COUNT(*) FROM ev WHERE {bad} GROUP BY k"
            )
    # a LITERAL containing a blocked name is data, not a function call
    lake.sql(
        "CREATE MATERIALIZED VIEW ok AS SELECT k, COUNT(*) FROM ev "
        "WHERE k != 'now() current_timestamp' GROUP BY k"
    )
    assert lake.sql("SELECT * FROM ok").first()["n_rows"] == 1


def test_merge_conditional_multi_clause(lake):
    """WHEN MATCHED AND <cond> / multiple clauses, first-match-wins (the
    Delta/standard-SQL conditional-CDC shape): delete-by-op, guarded
    update, fallback update, and a conditional insert in ONE statement;
    rows matching no clause keep their values; CASE inside a condition
    parses (clause boundaries anchor on WHEN [NOT] MATCHED)."""
    lake.sql("CREATE TABLE acct (id INTEGER, bal DOUBLE, status VARCHAR)")
    lake.sql(
        "INSERT INTO acct VALUES (1, 10.0, 'open'), (2, -5.0, 'open'), "
        "(3, 30.0, 'open'), (4, 1.0, 'open')"
    )
    lake.sql("CREATE TABLE feed (id INTEGER, amt DOUBLE, op VARCHAR)")
    lake.sql(
        "INSERT INTO feed VALUES (1, 100.0, 'D'), (2, 0.0, 'X'), "
        "(3, -40.0, 'D'), (5, 7.0, 'N'), (6, -1.0, 'X')"
    )
    r = lake.sql(
        "MERGE INTO acct AS t USING feed AS s ON t.id = s.id "
        "WHEN MATCHED AND s.op = 'X' THEN DELETE "
        "WHEN MATCHED AND t.bal + s.amt < 0 THEN "
        "UPDATE SET bal = 0.0, status = 'frozen' "
        "WHEN MATCHED THEN UPDATE SET bal = t.bal + s.amt "
        "WHEN NOT MATCHED AND s.op = 'N' THEN "
        "INSERT (id, bal, status) VALUES (s.id, s.amt, 'new')"
    ).first()
    assert r["rows"] == 4  # 3 matched + 1 actually inserted (6 filtered)
    rows = sorted(
        (x["id"], x["bal"], x["status"])
        for x in lake.sql("SELECT * FROM acct").collect()
    )
    assert rows == [
        (1, 110.0, "open"),   # fallback update clause
        (3, 0.0, "frozen"),   # guarded update (30 - 40 < 0)
        (4, 1.0, "open"),     # unmatched target: untouched
        (5, 7.0, "new"),      # conditional insert
    ]                          # id 2 deleted; id 6 insert-condition false
    # CASE WHEN inside a clause CONDITION (boundaries anchor on MATCHED)
    lake.sql(
        "MERGE INTO acct USING feed ON acct.id = feed.id "
        "WHEN MATCHED AND CASE WHEN feed.op = 'D' THEN 1 ELSE 0 END = 1 "
        "THEN UPDATE SET status = 'touched'"
    )
    got = {x["id"]: x["status"] for x in lake.sql("SELECT * FROM acct").collect()}
    assert got[1] == "touched" and got[3] == "touched" and got[4] == "open"
    # all-conditions-false merge: zero rows reported, no state change
    v0 = lake.current_version()
    r = lake.sql(
        "MERGE INTO acct USING feed ON acct.id = feed.id "
        "WHEN NOT MATCHED AND feed.op = 'NEVER' THEN INSERT *"
    ).first()
    assert r["rows"] == 0
    # unconditional clause must come last
    with pytest.raises(Exception, match="only the last WHEN MATCHED"):
        lake.sql(
            "MERGE INTO acct USING feed ON acct.id = feed.id "
            "WHEN MATCHED THEN DELETE "
            "WHEN MATCHED AND feed.op = 'D' THEN UPDATE SET bal = 0.0"
        )
    # a NOT MATCHED condition sees only the source row
    with pytest.raises(LakeSQLError, match="not in scope"):
        lake.sql(
            "MERGE INTO acct AS t USING feed AS s ON t.id = s.id "
            "WHEN NOT MATCHED AND t.bal > 0 THEN INSERT *"
        )


def test_merge_clausal_no_phantom_effects(lake):
    """Second-review regressions: a matched-clauses-only merge must not
    report phantom inserts (the flat when_not_matched default is NOT the
    clausal insert switch); a merge whose conditions fire on nothing
    reports 0 rows and commits NO snapshot (no byte-identical COW
    rewrite, no corrupted table_changes history); flat flags cannot be
    mixed with clause lists; action-verb-named columns inside SET CASE
    expressions don't confuse the clause anchor."""
    lake.sql("CREATE TABLE t (id INTEGER, v DOUBLE, delete VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 1.0, 'a'), (2, 2.0, 'b'), (3, 3.0, 'c')")
    lake.sql("CREATE TABLE s (id INTEGER, amt DOUBLE, op VARCHAR)")
    lake.sql("INSERT INTO s VALUES (1, 5.0, 'D'), (7, 7.0, 'D'), (8, 8.0, 'X')")
    # conditional update, NO not-matched clause: only the fired row counts,
    # nothing inserts (ids 7/8 are unmatched and must NOT appear)
    r = lake.sql(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED AND s.amt > 0 THEN UPDATE SET v = t.v + s.amt"
    ).first()
    assert r["rows"] == 1
    assert sorted(x["id"] for x in lake.sql("SELECT * FROM t").collect()) == [1, 2, 3]
    # zero-fire merge: 0 rows, EMPTY snapshot changes (per-statement
    # snapshot semantics — a no-op UPDATE mints one too), no phantom
    # tables_* markers, and the data files are NOT rewritten
    v0 = lake.current_version()
    files0 = {f["path"] for f in lake.file_stats("t")}
    r = lake.sql(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED AND s.amt > 1000 THEN DELETE"
    ).first()
    assert r["rows"] == 0
    newer = [sn for sn in lake.snapshots() if sn["snapshot_id"] > v0]
    assert all(sn["changes"] == {} for sn in newer), newer
    assert {f["path"] for f in lake.file_stats("t")} == files0
    # zero-MATCH clausal merge (non-overlapping keys): same contract
    r = lake.sql(
        "MERGE INTO t USING (SELECT 99 AS id, 1.0 AS amt) s ON t.id = s.id "
        "WHEN MATCHED AND s.amt > 0 THEN UPDATE SET v = 0.0"
    ).first()
    assert r["rows"] == 0
    assert {f["path"] for f in lake.file_stats("t")} == files0
    newer = [sn for sn in lake.snapshots() if sn["snapshot_id"] > v0]
    assert all(sn["changes"] == {} for sn in newer), newer
    # a target column literally named 'delete' inside a SET CASE: the
    # clause anchor picks the FIRST balanced THEN-verb, parse succeeds
    lake.sql(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET "
        "delete = CASE WHEN s.op = 'D' THEN delete ELSE 'x' END"
    )
    assert lake.sql("SELECT delete FROM t WHERE id = 1").first()[0] == "a"
    # engine-level guards: flag/clause mixing + falsy-condition ordering
    from ducktales_spark.lake.catalog import LakeError

    src = lake.read("s")
    with pytest.raises(LakeError, match="not both"):
        lake.merge("t", src, on=["id"], when_matched="delete",
                   not_matched_clauses=[{"cond": None, "sets": {}}])
    with pytest.raises(LakeError, match="only the last WHEN MATCHED"):
        lake.merge("t", src, on=["id"], matched_clauses=[
            {"cond": "", "action": "delete"},
            {"cond": "v > 0", "action": "update", "sets": {"v": "v"}},
        ])


# -- round-10 ADVICE fixes + decoy guards ------------------------------------


def test_merge_explicit_insert_list_defaults_unlisted(lake):
    """An explicit INSERT (cols) VALUES list fills UNLISTED target columns
    with their DEFAULT (standard SQL/Delta), never silently from
    same-named source columns; the star/empty form keeps the same-named
    fill."""
    lake.sql("CREATE TABLE t (id INTEGER, v INTEGER, tag VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 1, 'a')")
    lake.sql("CREATE TABLE s (id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO s VALUES (2, 99), (1, 5)")
    lake.sql(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)"
    )
    r2 = lake.sql("SELECT * FROM t WHERE id = 2").first()
    assert (r2["v"], r2["tag"]) == (None, None)  # NOT 99 from source
    # star form: same-named source column fills v
    lake.sql("INSERT INTO s VALUES (3, 7)")
    lake.sql(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    r3 = lake.sql("SELECT * FROM t WHERE id = 3").first()
    assert (r3["v"], r3["tag"]) == (7, None)


def test_merge_degenerate_on_clean_error(lake):
    lake.sql("CREATE TABLE t (id INTEGER)")
    lake.sql("CREATE TABLE s (id INTEGER)")
    for on in ("", "() "):
        with pytest.raises(LakeSQLError, match="MERGE ON"):
            lake.sql(
                f"MERGE INTO t USING s ON {on}"
                "WHEN MATCHED THEN DELETE"
            )
    from ducktales_spark.lake.catalog import LakeError

    with pytest.raises(LakeError, match="at least one key"):
        lake.merge("t", lake.read("s"), on=[])


def test_merge_ambiguous_unqualified_column_rejected(lake):
    """An unqualified column present on BOTH sides of a MERGE is an
    ambiguity error (standard-engine behavior); merge KEY columns are
    exempt (both sides provably equal on matched rows)."""
    lake.sql("CREATE TABLE t (id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO t VALUES (1, 10)")
    lake.sql("CREATE TABLE s (id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO s VALUES (1, 5)")
    with pytest.raises(LakeSQLError, match="ambiguous"):
        lake.sql(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = v + 1"
        )
    with pytest.raises(LakeSQLError, match="ambiguous"):
        lake.sql(
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED AND v > 0 THEN DELETE"
        )
    # qualified forms + unqualified KEY reference both fine
    lake.sql(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN MATCHED AND id > 0 THEN UPDATE SET v = t.v + s.v"
    )
    assert lake.sql("SELECT v FROM t WHERE id = 1").first()[0] == 15


def test_mv_where_volatile_named_source_column_allowed(lake):
    """A source COLUMN named like a volatile function ('today', 'random')
    is a deterministic column reference — the filtered-MV guard excuses
    it; actually CALLING a volatile function stays refused, as do the
    ANSI niladic keywords."""
    lake.sql(
        "CREATE TABLE ev (k VARCHAR, today DATE, random DOUBLE, v INTEGER)"
    )
    lake.sql(
        "INSERT INTO ev VALUES ('a', DATE '2024-01-02', 0.9, 1), "
        "('b', DATE '2024-01-02', 0.1, 2)"
    )
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT k, COUNT(*) AS n_rows "
        "FROM ev WHERE random > 0.5 AND today >= DATE '2024-01-01' "
        "GROUP BY k"
    )
    assert [r["k"] for r in lake.sql("SELECT k FROM mv").collect()] == ["a"]
    with pytest.raises(LakeSQLError, match="deterministic"):
        lake.sql(
            "CREATE MATERIALIZED VIEW mv2 AS SELECT k, COUNT(*) AS n_rows "
            "FROM ev WHERE rand() < 0.5 GROUP BY k"
        )
    with pytest.raises(LakeSQLError, match="deterministic"):
        lake.sql(
            "CREATE MATERIALIZED VIEW mv3 AS SELECT k, COUNT(*) AS n_rows "
            "FROM ev WHERE today >= current_date GROUP BY k"
        )


def test_rollup_meta_decoy_never_fully_collected(lake, spark):
    """A huge user table named X__rollup_meta (with a sibling X) must not
    be pulled to the driver by the SQL read overlay or by the
    transaction-DDL rollup-guard enumeration — shape + bounded probes run
    first (the export_to guard, applied to both sibling sites)."""
    from pyspark.sql import DataFrame

    lake.sql("CREATE TABLE big (k INTEGER)")
    lake.sql("INSERT INTO big VALUES (1)")
    decoy = spark.createDataFrame(
        [("s", 1, "[]", 0, f"m{i}") for i in range(60)],
        "src string, bucket_s bigint, sum_cols string, last_version bigint,"
        " decoy_marker string",
    )
    lake.ctas("big__rollup_meta", decoy)

    pulled: list = []
    orig_topandas, orig_collect = DataFrame.toPandas, DataFrame.collect

    def spy_topandas(self):
        out = orig_topandas(self)
        pulled.append((self.columns, len(out)))
        return out

    def spy_collect(self):
        out = orig_collect(self)
        pulled.append((self.columns, len(out)))
        return out

    DataFrame.toPandas, DataFrame.collect = spy_topandas, spy_collect
    try:
        # read overlay (_mv_overlay) + DDL guard enumeration (_rollup_metas)
        assert lake.sql("SELECT COUNT(*) AS n FROM big").first()["n"] == 1
        lake.sql("ALTER TABLE big RENAME COLUMN k TO k2")
    finally:
        DataFrame.toPandas, DataFrame.collect = orig_topandas, orig_collect
    big_pulls = [
        (c, n) for c, n in pulled if "decoy_marker" in c and n > 2
    ]
    assert not big_pulls, big_pulls
    assert lake.count("big__rollup_meta") == 60


def test_merge_tri_clause_sql_mirror(lake):
    """Full standard tri-clause MERGE as SQL: matched update + not-matched
    (BY TARGET) insert + conditional by-source update/delete,
    first-match-wins — the mirror-sync pattern the reference composes
    from DELETE + versioned re-INSERT (demos/02_time_travel/demo.py:112,
    228-235)."""
    lake.sql("CREATE TABLE dim (id INTEGER, name VARCHAR, active BOOLEAN)")
    lake.sql(
        "INSERT INTO dim VALUES (1,'a',true),(2,'b',true),(3,'c',true)"
    )
    lake.sql("CREATE TABLE feed (id INTEGER, name VARCHAR)")
    lake.sql("INSERT INTO feed VALUES (1,'A'),(4,'d')")
    r = lake.sql(
        "MERGE INTO dim AS t USING feed AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET name = s.name "
        "WHEN NOT MATCHED BY TARGET THEN "
        "INSERT (id, name, active) VALUES (s.id, s.name, true) "
        "WHEN NOT MATCHED BY SOURCE AND active THEN UPDATE SET active = false "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    ).first()
    assert (r["op"], r["rows"]) == ("MERGE", 4)  # 1 upd + 1 ins + 2 by-src
    rows = sorted(
        (x["id"], x["name"], x["active"])
        for x in lake.sql("SELECT * FROM dim").collect()
    )
    assert rows == [
        (1, "A", True), (2, "b", False), (3, "c", False), (4, "d", True),
    ], rows
    # second pass: the two inactive rows now fail the AND-active guard and
    # fall to the DELETE clause (first-match-wins ordering)
    r = lake.sql(
        "MERGE INTO dim AS t USING feed AS s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND active THEN UPDATE SET active = false "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    ).first()
    assert r["rows"] == 2
    assert sorted(
        x["id"] for x in lake.sql("SELECT id FROM dim").collect()
    ) == [1, 4]


def test_merge_sequence_by_sql(lake):
    """SEQUENCE BY <source col>: latest-wins per key for out-of-order CDC
    feeds with duplicate keys; exact ties are a clean duplicate-key
    error."""
    from ducktales_spark.lake.catalog import ConstraintViolation

    lake.sql("CREATE TABLE tgt (id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO tgt VALUES (1, 0)")
    lake.sql("CREATE TABLE cdc (id INTEGER, v INTEGER, seq BIGINT)")
    lake.sql("INSERT INTO cdc VALUES (1,5,10),(1,9,30),(1,7,20),(2,4,15)")
    lake.sql(
        "MERGE INTO tgt AS t USING cdc AS s ON t.id = s.id "
        "SEQUENCE BY s.seq "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    )
    rows = sorted(
        (x["id"], x["v"]) for x in lake.sql("SELECT * FROM tgt").collect()
    )
    assert rows == [(1, 9), (2, 4)], rows
    lake.sql("INSERT INTO cdc VALUES (2, 99, 15)")  # tie with (2,4,15)
    with pytest.raises(ConstraintViolation, match="duplicate merge keys"):
        lake.sql(
            "MERGE INTO tgt AS t USING cdc AS s ON t.id = s.id "
            "SEQUENCE BY s.seq WHEN MATCHED THEN UPDATE SET v = s.v"
        )
    with pytest.raises(LakeSQLError, match="SEQUENCE BY"):
        lake.sql(
            "MERGE INTO tgt AS t USING cdc AS s ON t.id = s.id "
            "SEQUENCE BY t.id WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(LakeSQLError, match="unknown source column"):
        lake.sql(
            "MERGE INTO tgt AS t USING cdc AS s ON t.id = s.id "
            "SEQUENCE BY nope WHEN MATCHED THEN DELETE"
        )


def test_merge_by_source_sql_errors(lake):
    lake.sql("CREATE TABLE t (id INTEGER, v VARCHAR)")
    lake.sql("CREATE TABLE s (id INTEGER, v VARCHAR)")
    cases = [
        ("WHEN NOT MATCHED BY SOURCE AND s.v = 'x' THEN DELETE",
         "not in scope"),
        ("WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.v",
         "not in scope"),
        ("WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *", "source row"),
        ("WHEN NOT MATCHED BY SOURCE THEN INSERT *", "UPDATE SET"),
        ("WHEN MATCHED BY SOURCE THEN DELETE", "BY SOURCE"),
    ]
    for bad, msg in cases:
        with pytest.raises(LakeSQLError, match=msg):
            lake.sql(f"MERGE INTO t USING s ON t.id = s.id {bad}")
    # an unqualified column in a by-source clause resolves to the TARGET
    # without ambiguity (no source row is in scope)
    lake.sql("INSERT INTO t VALUES (1, 'x')")
    r = lake.sql(
        "MERGE INTO t USING s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND v = 'x' THEN UPDATE SET v = 'y'"
    ).first()
    assert r["rows"] == 1
    assert lake.sql("SELECT v FROM t").first()[0] == "y"


def test_create_table_partition_by_sql(lake, spark):
    """SQL face for X2 clustering: CREATE TABLE ... PARTITION BY and the
    CTAS variant dispatch to the engine's partition_by (writes range-
    repartition so catalog min/max skipping prunes on the cluster key);
    DESCRIBE surfaces the clustering in `extra`."""
    lake.sql(
        "CREATE TABLE pt (id INTEGER, region VARCHAR, v DOUBLE) "
        "PARTITION BY (region)"
    )
    desc = {
        r["column_name"]: r["extra"]
        for r in lake.sql("DESCRIBE pt").collect()
    }
    assert desc == {"id": None, "region": "partition key", "v": None}
    lake.insert(
        "pt",
        spark.range(3000).selectExpr(
            "CAST(id AS INT) AS id",
            "CASE WHEN id % 3 = 0 THEN 'ap' WHEN id % 3 = 1 THEN 'eu' "
            "ELSE 'us' END AS region",
            "CAST(id AS DOUBLE) AS v",
        ).repartition(8),
    )
    # the clustering spec reached the engine (file-level pruning itself
    # is covered by test_lake.test_partitioned_clustered_writes_prune)
    assert lake.read("pt", where="region = 'eu'").count() == 1000
    lake.sql(
        "CREATE TABLE pt2 PARTITION BY (region) "
        "AS SELECT * FROM pt WHERE id < 6"
    )
    assert {
        r["column_name"]: r["extra"]
        for r in lake.sql("DESCRIBE pt2").collect()
    }["region"] == "partition key"
    assert lake.sql("SELECT COUNT(*) AS n FROM pt2").first()["n"] == 6
    lake.sql(
        "CREATE OR REPLACE TABLE pt2 PARTITION BY (id) "
        "AS SELECT * FROM pt WHERE id <= 2"
    )
    desc3 = {
        r["column_name"]: r["extra"]
        for r in lake.sql("DESCRIBE pt2").collect()
    }
    assert desc3["id"] == "partition key" and desc3["region"] is None
    from ducktales_spark.lake import LakeError

    with pytest.raises(LakeError, match="unknown partition column"):
        lake.sql("CREATE TABLE bad (id INTEGER) PARTITION BY (nope)")


def test_vector_index_lifecycle_call_sql(lake, spark):
    """X15 lifecycle drivable SQL-first: CALL build/extend/remove/probe
    dispatch to the same engines as the Python API
    (ducktales_spark/vector_index.py) and the probe returns its result
    set like a table function — parity-checked against the Python probe."""
    import numpy as np
    import pandas as pd

    from ducktales_spark.vector_index import probe_vector_index

    rng = np.random.default_rng(0)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(300)],
        "vec_id bigint, e array<double>",
    )
    lake.ctas("emb", emb)
    r = lake.sql(
        "CALL build_vector_index('idx', emb, n_centroids => 8, "
        "quantize => true)"
    ).first()
    assert (r["op"], r["rows"]) == ("CALL build_vector_index", 8)
    sql_res = lake.sql(
        "CALL probe_vector_index('idx', "
        "(SELECT vec_id, e FROM emb WHERE vec_id < 3), k => 5, nprobe => 4)"
    ).toPandas()
    py_res = probe_vector_index(
        lake, "idx",
        emb.filter("vec_id < 3").toPandas(), k=5, nprobe=4,
    ).toPandas()
    key = ["query_id", "neighbor_id", "rnk"]
    assert sorted(map(tuple, sql_res[key].values.tolist())) == sorted(
        map(tuple, py_res[key].values.tolist())
    )
    lake.ctas("more", spark.createDataFrame(
        [(int(1000 + i), [float(x) for x in rng.normal(size=8)])
         for i in range(20)],
        "vec_id bigint, e array<double>",
    ))
    lake.sql("CALL extend_vector_index('idx', more)")
    assert lake.count("idx") == 320
    r = lake.sql(
        "CALL remove_vectors('idx', (SELECT vec_id FROM emb "
        "WHERE vec_id < 10))"
    ).first()
    assert r["rows"] == 10 and lake.count("idx") == 310
    with pytest.raises(LakeSQLError, match="unknown build_vector_index"):
        lake.sql("CALL build_vector_index('i2', emb, nope => 1)")
    with pytest.raises(LakeSQLError, match="table name or"):
        lake.sql("CALL remove_vectors('idx', 42)")


def test_merge_with_schema_evolution_sql(lake):
    """MERGE WITH SCHEMA EVOLUTION (Databricks SQL spelling): new source
    columns are referenceable in SET/VALUES at parse time and the engine
    adds/widens them in the merge's own snapshot; plain MERGE keeps
    refusing unknown columns."""
    lake.sql("CREATE TABLE t (id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    lake.sql("CREATE TABLE feed (id INTEGER, v BIGINT, tag VARCHAR)")
    lake.sql(
        "INSERT INTO feed VALUES (2, 9000000000, 'x'), (3, 30, 'y')"
    )
    with pytest.raises(LakeSQLError, match="unknown target column"):
        lake.sql(
            "MERGE INTO t USING feed ON t.id = feed.id "
            "WHEN MATCHED THEN UPDATE SET tag = feed.tag"
        )
    r = lake.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING feed ON t.id = feed.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).first()
    assert r["rows"] == 2
    rows = sorted(
        (x["id"], x["v"], x["tag"])
        for x in lake.sql("SELECT * FROM t").collect()
    )
    assert rows == [(1, 10, None), (2, 9000000000, "x"), (3, 30, "y")]
    desc = {
        x["column_name"]: x["column_type"]
        for x in lake.sql("DESCRIBE t").collect()
    }
    assert desc["v"] == "BIGINT" and desc["tag"] == "STRING"


def test_mv_expression_keys_sql(lake):
    """CREATE MATERIALIZED VIEW with a deterministic scalar expression as
    a group key (GROUP BY lower(domain)): parsed into key_exprs, grouped
    through every refresh path, guarded like where_sql (nondeterminism /
    aggregates / subqueries refused at parse time; alias collisions with
    canonical rollup names refused)."""
    lake.sql("CREATE TABLE ev (domain VARCHAR, ts TIMESTAMP, v INTEGER)")
    lake.sql(
        "INSERT INTO ev VALUES ('A.com', TIMESTAMP '2024-01-01 00:10:00', 1), "
        "('a.COM', TIMESTAMP '2024-01-01 00:20:00', 2), "
        "('b.org', TIMESTAMP '2024-01-01 01:10:00', 3)"
    )
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT lower(domain) AS dom, "
        "time_bucket(INTERVAL '1 hour', ts) AS bucket_start, "
        "COUNT(*) AS n_rows, SUM(v) AS sum_v "
        "FROM ev GROUP BY lower(domain), bucket_start"
    )
    rows = sorted(
        (r["dom"], int(r["n_rows"]), int(r["sum_v"]))
        for r in lake.sql("SELECT * FROM mv").collect()
    )
    assert rows == [("a.com", 2, 3), ("b.org", 1, 3)], rows
    lake.sql(
        "INSERT INTO ev VALUES ('A.COM', TIMESTAMP '2024-01-01 00:40:00', 10)"
    )
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    got = {
        r["dom"]: int(r["sum_v"])
        for r in lake.sql("SELECT * FROM mv").collect()
    }
    assert got == {"a.com": 13, "b.org": 3}
    # GROUP BY may also name the alias, the ordinal, or the expr text
    lake.sql(
        "CREATE MATERIALIZED VIEW mv2 AS SELECT lower(domain) AS dom, "
        "COUNT(*) AS n_rows FROM ev GROUP BY 1"
    )
    assert lake.sql("SELECT * FROM mv2").count() == 2
    for bad, msg in [
        ("SELECT concat(domain, rand()) AS k, COUNT(*) AS n_rows "
         "FROM ev GROUP BY concat(domain, rand())", "deterministic"),
        ("SELECT lower(domain) AS sum_x, COUNT(*) AS n_rows "
         "FROM ev GROUP BY lower(domain)", "collides"),
        ("SELECT (SELECT 1) AS k, COUNT(*) AS n_rows FROM ev GROUP BY 1",
         "subquer"),
    ]:
        with pytest.raises(LakeSQLError, match=msg):
            lake.sql(f"CREATE MATERIALIZED VIEW bad_mv AS {bad}")


def test_merge_evolution_star_excludes_transport_columns(lake):
    """Round-10 review fixes: WITH SCHEMA EVOLUTION must augment the
    referenceable target columns with exactly what the ENGINE will add —
    the post-rename source set minus the SEQUENCE BY column — so
    UPDATE SET * under evolution never emits sets for the sequence column
    or a pre-rename key spelling."""
    lake.sql("CREATE TABLE t (id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO t VALUES (1, 10)")
    lake.sql(
        "CREATE TABLE feed (id INTEGER, v BIGINT, tag VARCHAR, seq INTEGER)"
    )
    lake.sql("INSERT INTO feed VALUES (1, 5, 'x', 2), (1, 4, 'old', 1)")
    lake.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING feed ON t.id = feed.id "
        "SEQUENCE BY feed.seq WHEN MATCHED THEN UPDATE SET *"
    )
    r = lake.sql("SELECT * FROM t").first()
    assert (r["v"], r["tag"]) == (5, "x")
    assert "seq" not in lake.read("t").columns
    # differently-named key: the pre-rename spelling must not leak either
    lake.sql("CREATE TABLE t2 (id INTEGER, v INTEGER)")
    lake.sql("INSERT INTO t2 VALUES (1, 10)")
    lake.sql("CREATE TABLE feed2 (cust INTEGER, v BIGINT, tag VARCHAR)")
    lake.sql("INSERT INTO feed2 VALUES (1, 6, 'y')")
    lake.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t2 USING feed2 "
        "ON t2.id = feed2.cust WHEN MATCHED THEN UPDATE SET *"
    )
    r = lake.sql("SELECT * FROM t2").first()
    assert (r["v"], r["tag"]) == (6, "y")
    assert "cust" not in lake.read("t2").columns


def test_mv_duplicate_key_items_clean_error(lake):
    lake.sql("CREATE TABLE ev (d VARCHAR, v INTEGER)")
    for bad in (
        # later plain key colliding with an expression-key alias
        "SELECT lower(d) AS v, v, COUNT(*) AS n_rows FROM ev "
        "GROUP BY lower(d), v",
        # plain duplicate
        "SELECT v, v, COUNT(*) AS n_rows FROM ev GROUP BY v, v",
    ):
        with pytest.raises(LakeSQLError, match="duplicate key"):
            lake.sql(f"CREATE MATERIALIZED VIEW mv AS {bad}")


def test_alter_table_set_partitioned_by_sql(lake, spark):
    """DuckLake's ALTER TABLE ... SET PARTITIONED BY: metadata-only
    re-clustering — future writes range-repartition on the new spec, old
    files stay as-is, DESCRIBE flips the marker, RESET clears it."""
    lake.sql("CREATE TABLE t (id INTEGER, region VARCHAR, v DOUBLE)")
    lake.insert("t", spark.range(2000).selectExpr(
        "CAST(id AS INT) AS id",
        "CASE WHEN id % 2 = 0 THEN 'eu' ELSE 'us' END AS region",
        "CAST(id AS DOUBLE) AS v",
    ))
    lake.sql("ALTER TABLE t SET PARTITIONED BY (region)")
    desc = {
        r["column_name"]: r["extra"] for r in lake.sql("DESCRIBE t").collect()
    }
    assert desc["region"] == "partition key"
    # future writes honour the new spec; data stays correct
    lake.insert("t", spark.range(2000, 2400).selectExpr(
        "CAST(id AS INT) AS id",
        "CASE WHEN id % 2 = 0 THEN 'eu' ELSE 'us' END AS region",
        "CAST(id AS DOUBLE) AS v",
    ))
    assert lake.sql("SELECT COUNT(*) AS n FROM t").first()["n"] == 2400
    # partition columns can't be dropped while the spec references them
    with pytest.raises(Exception, match="partition"):
        lake.sql("ALTER TABLE t DROP COLUMN region")
    lake.sql("ALTER TABLE t RESET PARTITIONED BY")
    desc = {
        r["column_name"]: r["extra"] for r in lake.sql("DESCRIBE t").collect()
    }
    assert desc["region"] is None
    lake.sql("ALTER TABLE t DROP COLUMN region")  # now allowed
    from ducktales_spark.lake import LakeError

    with pytest.raises(LakeError, match="unknown partition column"):
        lake.sql("ALTER TABLE t SET PARTITIONED BY (nope)")
    # time travel: the pre-reset snapshot still DESCRIBEs with clustering
    # via the versioned read path (data unaffected either way)
    assert lake.count("t") == 2400


# -- round-10 second review-pass fixes ---------------------------------------


def test_failed_statement_restores_staging_in_explicit_txn(lake):
    """Statement-level atomicity (Postgres/DuckDB semantics): a statement
    that fails inside BEGIN restores the transaction's staging to its
    pre-statement state — in particular, schema evolution staged by a
    MERGE WITH SCHEMA EVOLUTION that later hits the duplicate-merge-key
    check must not survive into a subsequent COMMIT."""
    lake.sql("CREATE TABLE t (id INT, v INT)")
    lake.sql("INSERT INTO t VALUES (1, 10)")
    lake.sql("CREATE TABLE feed (id INT, v INT, extra INT)")
    lake.sql("INSERT INTO feed VALUES (1, 11, 7), (1, 12, 8)")  # dup keys
    lake.sql("BEGIN")
    lake.sql("INSERT INTO t VALUES (2, 20)")  # pre-failure work survives
    with pytest.raises(Exception, match="duplicate merge keys"):
        lake.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO t USING feed "
            "ON t.id = feed.id WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    lake.sql("COMMIT")
    assert "extra" not in lake.read("t").columns  # DDL did not leak
    got = {r["id"]: r["v"] for r in lake.read("t").collect()}
    assert got == {1: 10, 2: 20}  # merge wrote nothing; insert committed


def test_sequence_by_dedups_on_cast_keys(spark, lake):
    """SEQUENCE BY partitions by the keys CAST to the target type: source
    keys that only coincide after the cast ('01' and '1' against an int
    key) are ONE logical key — latest-wins, not a duplicate-key error."""
    lake.sql("CREATE TABLE t (id INT, v INT)")
    lake.sql("INSERT INTO t VALUES (1, 0)")
    feed = spark.createDataFrame(
        [("01", 11, 1), ("1", 12, 2)], "id string, v int, seq int"
    )
    with lake.transaction() as tx:
        res = tx.merge("t", feed, on=["id"], sequence_col="seq")
    assert res["matched"] == 1
    assert {r["v"] for r in lake.read("t").collect()} == {12}  # seq 2 won


def test_by_source_literal_with_source_prefix_is_data(lake):
    """A '__s_' inside a STRING LITERAL of a by-source clause is data, not
    a source-column reference — the scope guard must not false-positive."""
    lake.sql("CREATE TABLE t (id INT, note VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    lake.sql("CREATE TABLE k (id INT)")
    lake.sql("INSERT INTO k VALUES (1)")
    lake.sql(
        "MERGE INTO t USING k ON t.id = k.id "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET note = 'retired__s_24'"
    )
    got = {r["id"]: r["note"] for r in lake.read("t").collect()}
    assert got == {1: "a", 2: "retired__s_24"}


def test_mv_group_by_expr_literal_case_mismatch_rejected(lake):
    """GROUP BY coverage matches expression keys TEXTUALLY with literals
    compared verbatim: a GROUP BY expression whose string literal differs
    in case/whitespace from the select item is a different expression and
    must be rejected, not silently accepted."""
    lake.sql("CREATE TABLE t (k VARCHAR, d VARCHAR)")
    lake.sql("INSERT INTO t VALUES ('a', '2024-05-01')")
    with pytest.raises(LakeSQLError, match="bad GROUP BY item"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS "
            "SELECT concat(k, 'EU') AS tag, COUNT(*) FROM t "
            "GROUP BY concat(k, 'eu')"
        )
    # identical literal (case and spacing) still matches
    lake.sql(
        "CREATE MATERIALIZED VIEW ok AS "
        "SELECT concat(k, 'EU') AS tag, COUNT(*) FROM t "
        "GROUP BY concat(k, 'EU')"
    )
    assert [r["tag"] for r in lake.sql("SELECT tag FROM ok").collect()] == [
        "aEU"
    ]
    # an expression-key ALIAS named like a volatile function is a
    # legitimate deterministic face reference in HAVING
    lake.sql(
        "CREATE MATERIALIZED VIEW byday AS "
        "SELECT substr(d, 1, 10) AS today, COUNT(*) FROM t "
        "GROUP BY today HAVING today > '2024-01-01'"
    )
    assert [
        r["today"] for r in lake.sql("SELECT today FROM byday").collect()
    ] == ["2024-05-01"]


def test_truncate_table(lake):
    """TRUNCATE [TABLE] t = the metadata-only full delete (files marked
    removed, nothing rewritten) under DuckDB's spelling; time travel still
    sees the pre-truncate rows."""
    lake.sql("CREATE TABLE t (id INT, v VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    v0 = lake.current_version()
    st = lake.sql("TRUNCATE TABLE t").collect()[0]
    assert st["op"] == "TRUNCATE" and st["rows"] == 2
    assert lake.read("t").count() == 0
    assert lake.read("t", version=v0).count() == 2
    lake.sql("INSERT INTO t VALUES (3, 'c')")  # table still writable
    assert lake.read("t").count() == 1
    lake.sql("TRUNCATE t")  # TABLE keyword optional
    assert lake.read("t").count() == 0
    with pytest.raises(Exception, match="missing"):
        lake.sql("TRUNCATE missing")


def test_mv_group_by_expr_literal_whitespace_identical_matches(lake):
    """A byte-identical GROUP BY expression whose literal contains
    consecutive whitespace must match its select item (regression: the
    pre-collapsed token was fed into the literal-aware normalizer, so
    'a  b' on the GROUP BY side collapsed to 'a b' and mismatched)."""
    lake.sql("CREATE TABLE t (k VARCHAR)")
    lake.sql("INSERT INTO t VALUES ('x')")
    lake.sql(
        "CREATE MATERIALIZED VIEW mvws AS "
        "SELECT concat(k, 'a  b') AS tag, COUNT(*) FROM t "
        "GROUP BY concat(k, 'a  b')"
    )
    assert [r["tag"] for r in lake.sql("SELECT tag FROM mvws").collect()] \
        == ["xa  b"]


def test_sequence_by_null_casting_keys_error_not_row_loss(spark, lake):
    """Distinct source keys that CAST to NULL under the target key type
    must raise, never silently collapse into one NULL partition where the
    sequence dedup would drop all but the latest row."""
    from ducktales_spark.lake.catalog import ConstraintViolation

    lake.sql("CREATE TABLE t (id INT, v INT)")
    lake.sql("INSERT INTO t VALUES (1, 0)")
    feed = spark.createDataFrame(
        [("alpha", 11, 1), ("beta", 12, 2)], "id string, v int, seq int"
    )
    with pytest.raises(ConstraintViolation, match="cast to NULL"):
        with lake.transaction() as tx:
            tx.merge("t", feed, on=["id"], sequence_col="seq")
    # same-typed keys pay no probe and keep working
    ok = spark.createDataFrame(
        [(1, 7, 1), (1, 9, 2)], "id int, v int, seq int"
    )
    with lake.transaction() as tx:
        res = tx.merge("t", ok, on=["id"], sequence_col="seq")
    assert res["matched"] == 1
    assert {r["v"] for r in lake.read("t").collect()} == {9}


def test_copy_to_single_file_and_directory(lake, spark, tmp_path):
    """COPY ... TO: *.parquet/*.csv paths write ONE file (DuckDB parity,
    atomic via temp-dir + move); other paths write a part-file directory
    (the distributed form, refusing to clobber without OVERWRITE)."""
    import os

    lake.sql("CREATE TABLE t (id INT, name VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    # single parquet file, subquery source
    p = str(tmp_path / "out.parquet")
    st = lake.sql(
        f"COPY (SELECT id, name FROM t WHERE id != 2) TO '{p}'"
    ).collect()[0]
    assert st["op"] == "COPY" and st["rows"] == 2
    assert os.path.isfile(p)
    back = spark.read.parquet(p)
    assert sorted((r["id"], r["name"]) for r in back.collect()) == [
        (1, "a"), (3, "c"),
    ]
    # single csv with default header (DuckDB default), table source
    c = str(tmp_path / "out.csv")
    lake.sql(f"COPY t TO '{c}' (FORMAT CSV)")
    lines = open(c).read().splitlines()
    assert lines[0] == "id,name" and len(lines) == 4
    # overwriting the single file replaces it (DuckDB parity)
    lake.sql(f"COPY (SELECT * FROM t WHERE id = 1) TO '{c}' (FORMAT CSV)")
    assert len(open(c).read().splitlines()) == 2
    # directory form: distributed part files; clobber refused sans OVERWRITE
    d = str(tmp_path / "outdir")
    st = lake.sql(f"COPY t TO '{d}'").collect()[0]
    assert st["rows"] == 3
    assert spark.read.parquet(d).count() == 3
    with pytest.raises(LakeSQLError, match="OVERWRITE"):
        lake.sql(f"COPY t TO '{d}'")
    lake.sql(f"COPY t TO '{d}' (OVERWRITE)")
    assert spark.read.parquet(d).count() == 3
    with pytest.raises(LakeSQLError, match="unsupported COPY format"):
        lake.sql(f"COPY t TO '{p}' (FORMAT JSON)")


def test_read_parquet_and_csv_table_functions(lake, spark, tmp_path):
    """read_parquet/read_csv table functions: COPY's inverse — external
    files queryable and insertable SQL-first, including a directory of
    part files written by the directory-form COPY."""
    lake.sql("CREATE TABLE t (id INT, name VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    p = str(tmp_path / "dump.parquet")
    lake.sql(f"COPY t TO '{p}'")
    rows = lake.sql(
        f"SELECT name FROM read_parquet('{p}') WHERE id = 2"
    ).collect()
    assert [r["name"] for r in rows] == ["b"]
    # round trip: COPY out -> read_parquet back in
    lake.sql("CREATE TABLE t2 (id INT, name VARCHAR)")
    st = lake.sql(
        f"INSERT INTO t2 SELECT * FROM read_parquet('{p}')"
    ).collect()[0]
    assert st["rows"] == 2
    assert lake.read("t2").count() == 2
    # csv with header + type inference (DuckDB read_csv_auto parity)
    c = str(tmp_path / "dump.csv")
    lake.sql(f"COPY t TO '{c}' (FORMAT CSV)")
    got = lake.sql(
        f"SELECT id + 1 AS nxt FROM read_csv('{c}') ORDER BY nxt"
    ).collect()
    assert [r["nxt"] for r in got] == [2, 3]  # id inferred numeric
    # a DIRECTORY of part files (distributed COPY form) reads back too
    d = str(tmp_path / "dumpdir")
    lake.sql(f"COPY t TO '{d}'")
    assert lake.sql(
        f"SELECT count(*) AS n FROM read_parquet('{d}')"
    ).first()["n"] == 2


def test_copy_to_hive_partitioned(lake, spark, tmp_path):
    """COPY ... (PARTITION_BY (col)): DuckDB's hive-partitioned export —
    a col=value directory tree, readable back with partition pruning."""
    import os

    lake.sql("CREATE TABLE t (id INT, region VARCHAR, v DOUBLE)")
    lake.sql(
        "INSERT INTO t VALUES (1, 'eu', 1.0), (2, 'eu', 2.0), "
        "(3, 'us', 3.0)"
    )
    d = str(tmp_path / "tree")
    st = lake.sql(
        f"COPY t TO '{d}' (FORMAT PARQUET, PARTITION_BY (region))"
    ).collect()[0]
    assert st["rows"] == 3
    assert sorted(
        x for x in os.listdir(d) if x.startswith("region=")
    ) == ["region=eu", "region=us"]
    back = spark.read.parquet(d)
    assert back.filter("region = 'eu'").count() == 2
    # and the tree reads back through the read_parquet face too
    assert lake.sql(
        f"SELECT count(*) AS n FROM read_parquet('{d}')"
    ).first()["n"] == 3
    with pytest.raises(LakeSQLError, match="single"):
        lake.sql(
            f"COPY t TO '{str(tmp_path / 'x.parquet')}' "
            "(PARTITION_BY (region))"
        )
    with pytest.raises(LakeSQLError, match="not in the COPY source"):
        lake.sql(f"COPY t TO '{d}2' (PARTITION_BY (nope))")


def test_copy_and_read_csv_third_pass_fixes(lake, spark, tmp_path):
    """Third review-pass regressions: headerless csv keeps its first row
    (header sniff + header=>false override); single-file COPY onto an
    existing DIRECTORY refuses instead of dropping the part file inside
    it; malformed COPY fails in-band; reported rows come from the
    written files."""
    import os

    lake.sql("CREATE TABLE t (id INT, name VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    # headerless numeric csv: the sniff sees typed columns -> data row kept
    raw = tmp_path / "nohdr.csv"
    raw.write_text("1,x\n2,y\n3,z\n")
    assert lake.sql(
        f"SELECT count(*) AS n FROM read_csv('{raw}')"
    ).first()["n"] == 3
    # all-text data is ambiguous -> header assumed; override keeps row 1
    txt = tmp_path / "alltext.csv"
    txt.write_text("alpha,beta\ngamma,delta\n")
    assert lake.sql(
        f"SELECT count(*) AS n FROM read_csv('{txt}', header => false)"
    ).first()["n"] == 2
    assert lake.sql(
        f"SELECT count(*) AS n FROM read_csv('{txt}')"
    ).first()["n"] == 1
    # single-file target that is a DIRECTORY: refused loudly
    trap = tmp_path / "trap.parquet"
    trap.mkdir()
    with pytest.raises(LakeSQLError, match="DIRECTORY"):
        lake.sql(f"COPY t TO '{trap}'")
    assert os.listdir(trap) == []  # nothing snuck inside
    # malformed COPY: in-band error, not a Catalyst fall-through
    with pytest.raises(LakeSQLError, match="bad COPY statement"):
        lake.sql(f"COPY t TO '{tmp_path / 'x.csv'}' FORMAT CSV")
    # reported rows come from the WRITTEN files (csv line count)
    out = str(tmp_path / "out.csv")
    st = lake.sql(f"COPY t TO '{out}' (FORMAT CSV)").collect()[0]
    assert st["rows"] == 2
    outdir = str(tmp_path / "outdir")
    st = lake.sql(f"COPY t TO '{outdir}'").collect()[0]
    assert st["rows"] == 2


def test_copy_from_ingestion(lake, spark, tmp_path):
    """COPY t FROM 'file': DuckDB's ingestion verb — external parquet/csv
    inserted through the normal transactional write path (so it composes
    with BEGIN/ROLLBACK and time travel sees it as one snapshot)."""
    lake.sql("CREATE TABLE t (id INT, name VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 'a')")
    p = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [(2, "b"), (3, "c")], "id int, name string"
    ).coalesce(1).write.parquet(p + ".dir")
    lake.sql(f"COPY t FROM '{p}.dir'")  # a part-file directory ingests
    assert lake.read("t").count() == 3
    # csv with header, type-aligned by the insert contract
    c = tmp_path / "in.csv"
    c.write_text("id,name\n4,d\n5,e\n")
    st = lake.sql(f"COPY t FROM '{c}' (FORMAT CSV)").collect()[0]
    assert st["op"] == "COPY" and st["rows"] == 2
    assert lake.read("t").count() == 5
    # transactional: a rolled-back COPY FROM leaves nothing behind
    lake.sql("BEGIN")
    lake.sql(f"COPY t FROM '{c}'")
    assert lake.sql("SELECT count(*) AS n FROM t").first()["n"] == 7
    lake.sql("ROLLBACK")
    assert lake.read("t").count() == 5
    # unknown option + unknown table fail cleanly
    with pytest.raises(LakeSQLError, match="unknown COPY FROM option"):
        lake.sql(f"COPY t FROM '{c}' (OVERWRITE)")
    with pytest.raises(Exception, match="missing"):
        lake.sql(f"COPY missing FROM '{c}'")


def test_attach_cross_catalog_sql(lake, spark, tmp_path):
    """ATTACH '<path>' AS name binds a second lake catalog for qualified
    name.table reads — the reference's side-by-side dev/prod migration
    (utils/ducklake_utils.py:27; demos/05_catalog_portability/demo.py:
    194-299) — and COPY FROM DATABASE migrates the whole catalog."""
    # a second, independent catalog with its own table
    dev = LakeCatalog(str(tmp_path / "devlake"), spark, inline_threshold=4)
    dev.sql("CREATE TABLE prices (sku INT, price DOUBLE)")
    dev.sql("INSERT INTO prices VALUES (1, 9.5), (2, 20.0), (3, 1.25)")
    dev.sql("CREATE TABLE dim (sku INT, label VARCHAR)")
    dev.sql("INSERT INTO dim VALUES (1, 'pen'), (2, 'book')")

    lake.sql("CREATE TABLE sales (sku INT, qty INT)")
    lake.sql("INSERT INTO sales VALUES (1, 3), (2, 1), (1, 2)")

    lake.sql(f"ATTACH 'ducklake:{tmp_path / 'devlake'}' AS dev")
    # qualified read, and a JOIN across the two catalogs
    got = lake.sql(
        "SELECT s.sku, SUM(s.qty * p.price) AS rev "
        "FROM sales s JOIN dev.prices p ON s.sku = p.sku "
        "GROUP BY s.sku ORDER BY s.sku"
    ).collect()
    assert [(r["sku"], r["rev"]) for r in got] == [(1, 47.5), (2, 20.0)]
    # alias.column references never match the qualified rewrite (p.price
    # above), and a non-table suffix passes through untouched
    with pytest.raises(Exception):
        lake.sql("SELECT * FROM dev.nope").collect()
    # attached catalogs are WRITABLE via qualified-target DML (r12):
    # the insert autocommits in dev and is visible to dev's own bind
    lake.sql("INSERT INTO dev.prices VALUES (9, 9.0)")
    assert dev.read("prices").filter("sku = 9").count() == 1
    lake.sql("DELETE FROM dev.prices WHERE sku = 9")
    assert dev.read("prices").filter("sku = 9").count() == 0
    # MERGE INTO an attached catalog (r13): main-scope source, target
    # transaction in dev — the last qualified write verb
    lake.sql(
        "MERGE INTO dev.prices t USING "
        "(SELECT sku, SUM(qty) AS qty FROM sales GROUP BY sku) s "
        "ON t.sku = s.sku WHEN MATCHED THEN UPDATE SET price = 0"
    )
    assert dev.read("prices").filter("price = 0").count() == 2
    lake.sql("UPDATE dev.prices SET price = 9.5 WHERE sku = 1")
    lake.sql("UPDATE dev.prices SET price = 20.0 WHERE sku = 2")
    # an attached MV reads through its rollup face (avg_ derivation)
    dev.sql(
        "CREATE MATERIALIZED VIEW psum AS SELECT sku, COUNT(*), "
        "SUM(price) FROM prices GROUP BY sku"
    )
    face = lake.sql("SELECT sku, avg_price FROM dev.psum ORDER BY sku")
    assert [r["sku"] for r in face.collect()] == [1, 2, 3]

    # whole-catalog migration: dev -> a third catalog, rows identical
    tgt_path = str(tmp_path / "prodlake")
    LakeCatalog(tgt_path, spark)  # initialize empty target
    lake.sql(f"ATTACH '{tgt_path}' AS prod")
    st = lake.sql("COPY FROM DATABASE dev TO prod").collect()[0]
    assert st["op"] == "COPY FROM DATABASE"
    assert sorted(
        tuple(r) for r in lake.sql("SELECT * FROM prod.prices").collect()
    ) == sorted(tuple(r) for r in dev.read("prices").collect())

    # errors: double attach, unknown detach
    with pytest.raises(LakeSQLError, match="already attached"):
        lake.sql(f"ATTACH '{tgt_path}' AS prod")
    lake.sql("DETACH prod")
    with pytest.raises(LakeSQLError, match="no attached catalog"):
        lake.sql("DETACH prod")
    with pytest.raises(Exception):  # detached: prod.prices unresolvable
        lake.sql("SELECT * FROM prod.prices").collect()
    with pytest.raises(LakeSQLError, match="no attached catalog"):
        lake.sql("COPY FROM DATABASE nope TO dev")


def test_attached_catalog_writes(lake, spark, tmp_path):
    """Writable ATTACH'd catalogs (r12): the reference's migration demo
    creates tables IN the attached prod catalog and inserts into them
    (demos/05_catalog_portability/demo.py:199-280). CTAS works across
    catalogs in BOTH directions, every write mints a snapshot in the
    catalog that was written (not the one holding the connection), and a
    fresh bind of the attached path reads back identical state."""
    dev_path, prod_path = str(tmp_path / "dev"), str(tmp_path / "prod")
    dev = LakeCatalog(dev_path, spark)
    prod = LakeCatalog(prod_path, spark)
    dev.sql("CREATE TABLE src (k INT, v DOUBLE)")
    dev.sql("INSERT INTO src VALUES (1, 1.5), (2, 2.5), (3, 3.5)")

    lake.sql("CREATE TABLE local_t (k INT, name VARCHAR)")
    lake.sql("INSERT INTO local_t VALUES (1, 'a'), (2, 'b')")
    lake.sql(f"ATTACH '{dev_path}' AS dev")
    lake.sql(f"ATTACH '{prod_path}' AS prod")

    # direction 1: main-scope source -> attached target (cross-catalog
    # join between the bound catalog and ANOTHER attached catalog)
    v0_prod, v0_main = prod.current_version(), lake.current_version()
    lake.sql(
        "CREATE TABLE prod.joined AS SELECT l.k, l.name, d.v "
        "FROM local_t l JOIN dev.src d ON l.k = d.k"
    )
    assert prod.current_version() > v0_prod  # snapshot minted in prod
    assert lake.current_version() == v0_main  # ...not in the bound catalog
    got = sorted(
        tuple(r) for r in prod.read("joined").collect()
    )
    assert got == [(1, "a", 1.5), (2, "b", 2.5)]

    # direction 2: attached source -> BOUND catalog target (plain CTAS,
    # qualified read) and attached -> attached
    lake.sql(
        "CREATE TABLE pulled AS SELECT k, v FROM dev.src WHERE k <= 2"
    )
    assert lake.count("pulled") == 2
    lake.sql("CREATE TABLE prod.copy2 AS SELECT * FROM dev.src")
    assert prod.count("copy2") == 3

    # column-def CREATE + typed INSERT, UPDATE, DELETE in the attached
    # catalog; snapshot log advances there per statement
    n0 = len(prod.snapshots())
    lake.sql("CREATE TABLE prod.notes (id INT, note VARCHAR)")
    lake.sql("INSERT INTO prod.notes VALUES (1, 'x'), (2, 'y')")
    lake.sql("UPDATE prod.notes SET note = 'z' WHERE id = 2")
    lake.sql("DELETE FROM prod.notes WHERE id = 1")
    assert len(prod.snapshots()) == n0 + 4
    assert [tuple(r) for r in prod.read("notes").collect()] == [(2, "z")]

    # INSERT OR REPLACE via qualified name (the r11 ADVICE regression:
    # it used to fall through to a confusing Spark parse error)
    lake.sql("CREATE TABLE prod.pk (id INT, v VARCHAR, PRIMARY KEY (id))")
    lake.sql("INSERT INTO prod.pk VALUES (1, 'a')")
    lake.sql("INSERT OR REPLACE INTO prod.pk VALUES (1, 'b')")
    lake.sql("INSERT OR IGNORE INTO prod.pk VALUES (1, 'c')")
    assert [tuple(r) for r in prod.read("pk").collect()] == [(1, "b")]

    # INSERT ... SELECT with a main-scope source and column list
    lake.sql(
        "INSERT INTO prod.notes (id, note) "
        "SELECT k, name FROM local_t WHERE k = 1"
    )
    assert prod.count("notes") == 2

    # a write naming no attached catalog is a pointed error, never a
    # statement handed on to Spark's own catalog
    for stmt in [
        "INSERT INTO nope.notes VALUES (1, 'x')",
        "DROP TABLE default.notes",
        "CREATE TABLE nope.t AS SELECT 1 AS x",
    ]:
        with pytest.raises(LakeSQLError, match="no attached catalog"):
            lake.sql(stmt)

    # fresh bind of the attached path reads back identical state
    lake.sql("DETACH prod")
    fresh = LakeCatalog(prod_path, spark)
    assert sorted(fresh.tables()) == sorted(prod.tables())
    for t in ("joined", "copy2", "notes", "pk"):
        assert sorted(
            tuple(r) for r in fresh.read(t).collect()
        ) == sorted(tuple(r) for r in prod.read(t).collect())


def test_metadata_fns_attached_catalog(lake, spark, tmp_path):
    """The reference's metadata table functions take the catalog alias as
    their db argument (utils/ducklake_utils.py:58-78): an ATTACH'd alias
    now resolves to THAT catalog's snapshot log / table_info /
    table_changes; any other alias keeps meaning the bound catalog."""
    dev_path = str(tmp_path / "devmeta")
    dev = LakeCatalog(dev_path, spark, inline_threshold=0)
    dev.sql("CREATE TABLE t (x INT)")
    dev.sql("INSERT INTO t VALUES (1), (2)")
    lake.sql("CREATE TABLE local_t (a INT)")
    lake.sql(f"ATTACH '{dev_path}' AS dev")

    n_dev = lake.sql(
        "SELECT count(*) AS n FROM ducklake_snapshots('dev')"
    ).collect()[0]["n"]
    n_main = lake.sql(
        "SELECT count(*) AS n FROM ducklake_snapshots('lake')"
    ).collect()[0]["n"]
    assert n_dev == len(dev.snapshots())
    assert n_main == len(lake.snapshots())
    assert n_dev != n_main  # different histories, proved distinct

    ti = {
        r["table_name"]: r["row_count"]
        for r in lake.sql("SELECT * FROM ducklake_table_info('dev')").collect()
    }
    assert ti == {"t": 2}
    ch = lake.sql(
        "SELECT * FROM ducklake_table_changes('dev', 'main', 't', 1, 2)"
    ).collect()
    assert sorted((r["x"], r["change_type"]) for r in ch) == [
        (1, "insert"), (2, "insert")
    ]


def test_describe_qualified_attached(lake, spark, tmp_path):
    """DESCRIBE <attached>.<table> and PRAGMA table_info(<attached>.<t>)
    describe the ATTACHED catalog's table; a qualifier that isn't an
    attached name still falls back to the bound catalog (the single-
    catalog alias form the reference's analysis script uses)."""
    dev_path = str(tmp_path / "devdesc")
    dev = LakeCatalog(dev_path, spark)
    dev.sql("CREATE TABLE remote_t (x INT, s VARCHAR)")
    lake.sql("CREATE TABLE local_t (a DOUBLE)")
    lake.sql(f"ATTACH '{dev_path}' AS dev")
    cols = [r["column_name"] for r in lake.sql("DESCRIBE dev.remote_t").collect()]
    assert cols == ["x", "s"]
    cols = [
        r["column_name"]
        for r in lake.sql("PRAGMA table_info(dev.remote_t)").collect()
    ]
    assert cols == ["x", "s"]
    # non-attached qualifier = the bound catalog's own alias
    cols = [r["column_name"] for r in lake.sql("DESCRIBE lake.local_t").collect()]
    assert cols == ["a"]
    with pytest.raises(LakeSQLError, match="no such table"):
        lake.sql("DESCRIBE dev.nope")


def test_show_databases(lake, spark, tmp_path):
    """SHOW DATABASES lists the bound catalog plus every attachment with
    its read-only flag and the current USE default — and reflects the
    MAIN attach list even while a USE default is active."""
    a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
    LakeCatalog(a_path, spark)
    LakeCatalog(b_path, spark)
    lake.sql(f"ATTACH '{a_path}' AS a")
    lake.sql(f"ATTACH '{b_path}' AS b (READ_ONLY)")
    got = {
        r["name"]: (r["read_only"], r["is_default"])
        for r in lake.sql("SHOW DATABASES").collect()
    }
    assert got == {
        "main": (False, True), "a": (False, False), "b": (True, False)
    }
    lake.sql("USE a")
    got = {
        r["name"]: r["is_default"]
        for r in lake.sql("SHOW DATABASES").collect()
    }
    assert got == {"main": False, "a": True, "b": False}
    lake.sql("USE main")


def test_attached_time_travel_read(lake, spark, tmp_path):
    """``SELECT ... FROM <attached>.<table> AT (VERSION => v)`` reads the
    ATTACHED catalog's history (and TIMESTAMP => resolves against its
    snapshot log) — the qualified spelling of T1/T2 over ATTACH."""
    dev_path = str(tmp_path / "devtt")
    dev = LakeCatalog(dev_path, spark)
    dev.sql("CREATE TABLE t (x INT)")
    dev.sql("INSERT INTO t VALUES (1)")
    v1 = dev.current_version()
    ts1 = [s for s in dev.snapshots() if s["snapshot_id"] == v1][0][
        "snapshot_time"
    ]
    dev.sql("INSERT INTO t VALUES (2), (3)")

    lake.sql(f"ATTACH '{dev_path}' AS dev")
    assert lake.sql("SELECT count(*) AS n FROM dev.t").collect()[0]["n"] == 3
    got = lake.sql(
        f"SELECT x FROM dev.t AT (VERSION => {v1})"
    ).collect()
    assert [r["x"] for r in got] == [1]
    got = lake.sql(
        f"SELECT count(*) AS n FROM dev.t AT (TIMESTAMP => '{ts1.isoformat()}')"
    ).collect()
    assert got[0]["n"] == 1
    # a join mixing current and historical attached reads
    both = lake.sql(
        f"SELECT a.x FROM dev.t a LEFT ANTI JOIN "
        f"dev.t AT (VERSION => {v1}) b ON a.x = b.x ORDER BY a.x"
    ).collect()
    assert [r["x"] for r in both] == [2, 3]


def test_attach_read_only(lake, spark, tmp_path):
    """``ATTACH ... (READ_ONLY)`` — DuckDB's flag: qualified reads work,
    qualified writes and USE-defaulted writes raise, and reads through
    USE still work."""
    ro_path = str(tmp_path / "ro")
    ro = LakeCatalog(ro_path, spark)
    ro.sql("CREATE TABLE t (x INT)")
    ro.sql("INSERT INTO t VALUES (1), (2)")
    ro.sql(
        "CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS n_rows FROM t"
    )
    mv_stamp = ro.current_version()
    lake.sql(f"ATTACH '{ro_path}' AS ro (READ_ONLY)")
    assert lake.sql("SELECT count(*) AS n FROM ro.t").collect()[0]["n"] == 2
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("INSERT INTO ro.t VALUES (3)")
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("CREATE TABLE ro.t2 AS SELECT * FROM ro.t")
    # whole-catalog migration INTO a READ_ONLY attachment is a write too
    lake.sql("CREATE TABLE src_t (y INT)")
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("COPY FROM DATABASE main TO ro")
    lake.sql("USE ro")
    assert lake.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 2
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("DELETE FROM t")
    # every other writing statement is refused before it runs, too
    for stmt in [
        "CREATE TABLE t2 (y INT)",
        "CREATE TABLE t2 AS SELECT * FROM t",
        "DROP TABLE t",
        "ALTER TABLE t ADD COLUMN y INT",
        "ALTER TABLE t DROP COLUMN x",
        "ALTER TABLE t RENAME COLUMN x TO z",
        "ALTER TABLE t ALTER COLUMN x SET NOT NULL",
        "ALTER TABLE t ALTER COLUMN x TYPE BIGINT",
        "ALTER TABLE t SET PARTITIONED BY (x)",
        "ALTER TABLE t RESET ZORDER BY",
        "CREATE VIEW v AS SELECT * FROM t",
        "DROP VIEW IF EXISTS v",
        "CREATE MATERIALIZED VIEW mv2 AS SELECT count(*) AS n_rows FROM t",
        "DROP MATERIALIZED VIEW mv",
        "UPDATE t SET x = 0",
        "TRUNCATE t",
        "INSERT OR REPLACE INTO t VALUES (1)",
        "MERGE INTO t USING (SELECT 1 AS x) s ON t.x = s.x "
        "WHEN MATCHED THEN DELETE",
        "CHECKPOINT t",
        "CALL flush_inlined(t)",
        f"COPY t FROM '{tmp_path}/rows.parquet'",
    ]:
        with pytest.raises(LakeSQLError, match="'ro' is attached READ_ONLY"):
            lake.sql(stmt)
    # REFRESH mutates (MV rewrite + meta restamp): blocked under USE too
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("REFRESH MATERIALIZED VIEW mv")
    # COPY FROM DATABASE under USE resolves against the MAIN attach
    # list (the delegate has no attach list) — and still enforces the flag
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("COPY FROM DATABASE main TO ro")
    lake.sql("USE main")
    assert ro.count("t") == 2  # nothing leaked through
    assert ro.current_version() == mv_stamp  # no REFRESH snapshot landed


def test_use_attached_default_catalog(lake, spark, tmp_path):
    """``USE <attached>`` makes an attached catalog the DEFAULT for
    unqualified statements — the reference migration flow's spelling
    (demos/05_catalog_portability/demo.py:200,212: USE dev / USE prod,
    then plain CREATE TABLE / INSERT / SELECT). BEGIN/COMMIT route to
    the default catalog too; USE of any non-attached name (the bound
    catalog's alias) switches back; DETACH of the in-use catalog falls
    back to the bound catalog."""
    prod_path = str(tmp_path / "produse")
    prod = LakeCatalog(prod_path, spark)
    lake.sql("CREATE TABLE local_only (x INT)")
    lake.sql(f"ATTACH '{prod_path}' AS prod")

    lake.sql("USE prod")
    # the reference flow: recreate schema + insert + view, all unqualified
    lake.sql("CREATE TABLE products (id INT PRIMARY KEY, name VARCHAR)")
    lake.sql("INSERT INTO products VALUES (1, 'Laptop'), (2, 'Mouse')")
    lake.sql(
        "CREATE VIEW product_names AS SELECT name FROM products"
    )
    assert [r["name"] for r in lake.sql(
        "SELECT name FROM product_names ORDER BY name").collect()
    ] == ["Laptop", "Mouse"]
    # unqualified reads resolve in prod, not the bound catalog
    with pytest.raises(Exception):
        lake.sql("SELECT * FROM local_only").collect()
    # transactions route to prod
    lake.sql("BEGIN")
    lake.sql("INSERT INTO products VALUES (3, 'Keyboard')")
    lake.sql("ROLLBACK")
    assert prod.count("products") == 2
    # writes landed in prod's own catalog (fresh bind agrees)
    assert sorted(LakeCatalog(prod_path, spark).tables()) == ["products"]

    lake.sql("USE lake")  # any non-attached name = back to bound
    assert lake.sql("SELECT count(*) AS n FROM local_only").collect()[0]["n"] == 0
    lake.sql("USE prod")
    lake.sql("DETACH prod")  # in-use catalog detached -> bound default
    assert lake.sql("SELECT count(*) AS n FROM local_only").collect()[0]["n"] == 0


@pytest.mark.parametrize(
    "stmt",
    [
        "ATTACH '{tmp}/other' AS other",
        "DETACH att",
        "COPY FROM DATABASE main TO att",
        "EXPORT DATABASE '{tmp}/exp'",
        "IMPORT DATABASE '{tmp}/exp'",
        "CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS n_rows FROM t",
        "REFRESH MATERIALIZED VIEW mv",
        "CALL gc()",
        "COPY t TO '{tmp}/x.parquet'",
        "USE att",
        # writes into an attached catalog autocommit there: one write
        # target per transaction
        "INSERT INTO att.t VALUES (9)",
        "MERGE INTO att.t USING t s ON t.x = s.x WHEN MATCHED THEN DELETE",
        "CHECKPOINT att.t",
        "CHECKPOINT att",
    ],
)
def test_self_committing_statements_refused_in_txn(
    lake, spark, tmp_path, stmt
):
    """Statements that commit snapshots (or files) of their own are
    refused inside BEGIN, which stays usable and commits its own work."""
    att = LakeCatalog(str(tmp_path / "att"), spark)
    att.sql("CREATE TABLE t (x INT)")
    lake.sql("CREATE TABLE t (x INT)")
    lake.sql(f"ATTACH '{tmp_path}/att' AS att")
    lake.sql("BEGIN")
    lake.sql("INSERT INTO t VALUES (1)")
    with pytest.raises(LakeSQLError, match="explicit transaction"):
        lake.sql(stmt.format(tmp=tmp_path))
    lake.sql("COMMIT")
    assert lake.count("t") == 1 and att.count("t") == 0
    assert [r["name"] for r in lake.sql("SHOW DATABASES").collect()] == [
        "main", "att"
    ]


def test_attached_merge_full_surface(lake, spark, tmp_path):
    """MERGE INTO <att>.<t>: tri-clause upsert with a main-scope source,
    read back on a FRESH bind; WITH SCHEMA EVOLUTION adds the source's
    new column in the attached catalog; READ_ONLY refuses; under USE the
    self-qualified spelling works too."""
    p = str(tmp_path / "mprod")
    prod = LakeCatalog(p, spark, inline_threshold=4)
    prod.sql("CREATE TABLE inv (id INT PRIMARY KEY, qty INT)")
    prod.sql("INSERT INTO inv VALUES (1, 10), (2, 20)")
    lake.sql("CREATE TABLE changes (id INT, qty INT)")
    lake.sql("INSERT INTO changes VALUES (2, 99), (3, 30)")
    lake.sql(f"ATTACH '{p}' AS prod")

    # subquery source evaluated in MAIN scope; update + insert legs
    lake.sql(
        "MERGE INTO prod.inv t USING (SELECT * FROM changes) s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET qty = s.qty "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    fresh = LakeCatalog(p, spark)  # fresh bind, no session state
    got = sorted(tuple(r) for r in fresh.read("inv").collect())
    assert got == [(1, 10), (2, 99), (3, 30)]

    # WITH SCHEMA EVOLUTION: the source's extra column lands in prod
    lake.sql("CREATE TABLE changes2 (id INT, qty INT, note VARCHAR)")
    lake.sql("INSERT INTO changes2 VALUES (1, 11, 'restock')")
    lake.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO prod.inv t USING changes2 s "
        "ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET qty = s.qty, note = s.note"
    )
    row = [
        r for r in LakeCatalog(p, spark).read("inv").collect()
        if r["id"] == 1
    ][0]
    assert (row["qty"], row["note"]) == (11, "restock")

    # self-qualified under USE
    lake.sql("USE prod")
    lake.sql(
        "MERGE INTO prod.inv t USING (SELECT 2 AS id, 0 AS qty) s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET qty = s.qty"
    )
    assert lake.sql(
        "SELECT qty FROM inv WHERE id = 2"
    ).collect()[0]["qty"] == 0
    lake.sql("USE main")
    lake.sql("DETACH prod")

    # READ_ONLY refusal
    lake.sql(f"ATTACH '{p}' AS prodro (READ_ONLY)")
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql(
            "MERGE INTO prodro.inv t USING changes s ON t.id = s.id "
            "WHEN MATCHED THEN DELETE"
        )
    lake.sql("DETACH prodro")


def test_use_detach_open_txn_guards(lake, spark, tmp_path):
    """``USE`` away from — and ``DETACH`` of — a catalog whose delegate
    executor holds an open transaction is refused: silently dangling (or
    discarding) staged writes is the failure mode; COMMIT/ROLLBACK first."""
    p = str(tmp_path / "txguard")
    prod = LakeCatalog(p, spark)
    prod.sql("CREATE TABLE t (x INT)")
    lake.sql(f"ATTACH '{p}' AS prod")
    lake.sql("USE prod")
    lake.sql("BEGIN")
    lake.sql("INSERT INTO t VALUES (1)")
    with pytest.raises(LakeSQLError, match="open transaction"):
        lake.sql("USE main")
    with pytest.raises(LakeSQLError, match="open transaction"):
        lake.sql("USE prod2")  # any switch away, attached or not
    lake.sql("USE prod")  # no-op re-USE of the current default is fine
    with pytest.raises(LakeSQLError, match="open transaction"):
        lake.sql("DETACH prod")
    lake.sql("COMMIT")
    lake.sql("USE main")
    assert prod.count("t") == 1  # the txn landed, nothing dangled
    # DETACH with a COMMITTED delegate txn is fine
    lake.sql("DETACH prod")


def test_attach_list_shared_under_use(lake, spark, tmp_path):
    """The attach list stays usable while USE is active (DuckDB): under
    ``USE prod``, qualified reads/writes against OTHER attachments and
    against ``main`` (the bound catalog) resolve — including cross-catalog
    CTAS sources — instead of erroring in the delegate executor."""
    dev_p, prod_p = str(tmp_path / "dev"), str(tmp_path / "prod")
    dev, prod = LakeCatalog(dev_p, spark), LakeCatalog(prod_p, spark)
    dev.sql("CREATE TABLE dt (x INT)")
    dev.sql("INSERT INTO dt VALUES (10), (20)")
    lake.sql("CREATE TABLE mt (x INT)")
    lake.sql("INSERT INTO mt VALUES (1)")
    lake.sql(f"ATTACH '{dev_p}' AS dev")
    lake.sql(f"ATTACH '{prod_p}' AS prod")

    lake.sql("USE prod")
    # qualified read of a sibling attachment and of main
    assert lake.sql("SELECT count(*) AS n FROM dev.dt").collect()[0]["n"] == 2
    assert lake.sql("SELECT count(*) AS n FROM main.mt").collect()[0]["n"] == 1
    # CTAS in the USE'd catalog from a sibling attachment's table
    lake.sql("CREATE TABLE pt AS SELECT x * 2 AS x FROM dev.dt")
    assert prod.count("pt") == 2
    # qualified write into main while prod is the default
    lake.sql("INSERT INTO main.mt VALUES (2)")
    lake.sql("USE main")
    assert lake.sql(
        "SELECT sum(x) AS s FROM mt"
    ).collect()[0]["s"] == 3
    # main. qualifier also resolves with no USE active
    assert lake.sql("SELECT count(*) AS n FROM main.mt").collect()[0]["n"] == 2
    lake.sql("INSERT INTO main.mt VALUES (3)")
    assert lake.sql("SELECT count(*) AS n FROM mt").collect()[0]["n"] == 3
    lake.sql("DETACH dev")
    lake.sql("DETACH prod")


def test_attached_at_clause_inside_literal_untouched(lake, spark, tmp_path):
    """A string LITERAL containing '<att>.<t> AT (VERSION => n)' is data:
    the attached AT-rewrite must not substitute inside it (the payload of
    a REAL AT clause may itself hold a literal, which still rewrites)."""
    p = str(tmp_path / "attlit")
    dev = LakeCatalog(p, spark)
    dev.sql("CREATE TABLE t (x INT)")
    dev.sql("INSERT INTO t VALUES (1)")
    ts1 = dev.snapshots()[-1]["snapshot_time"]
    dev.sql("INSERT INTO t VALUES (2)")
    lake.sql(f"ATTACH '{p}' AS dev")
    row = lake.sql(
        "SELECT 'dev.t AT (VERSION => 1)' AS lit, count(*) AS n FROM dev.t"
    ).collect()[0]
    assert row["lit"] == "dev.t AT (VERSION => 1)"
    assert row["n"] == 2
    # a real AT clause whose payload holds a literal still time-travels
    got = lake.sql(
        f"SELECT count(*) AS n FROM dev.t AT (TIMESTAMP => '{ts1.isoformat()}')"
    ).collect()[0]["n"]
    assert got == 1
    lake.sql("DETACH dev")
    # the MAIN catalog's AT rewrite is literal-aware too (version 99
    # doesn't exist — a rewrite inside the literal would raise)
    lake.sql("CREATE TABLE littab (x INT)")
    lake.sql("INSERT INTO littab VALUES (5)")
    row = lake.sql(
        "SELECT 'littab AT (VERSION => 99)' AS lit, count(*) AS n "
        "FROM littab"
    ).collect()[0]
    assert row["lit"] == "littab AT (VERSION => 99)" and row["n"] == 1


def test_mv_stddev_variance_sql(lake):
    """Additive VAR/STDDEV maintenance: sum-of-squares state rides the
    O(changes) signed fold exactly like SUM, and the read face derives
    sample variance/stddev with the NULL-skipping count denominator —
    incremental == from-scratch recompute through inserts AND deletes."""
    import math

    lake.sql("CREATE TABLE m (k VARCHAR, v DOUBLE)")
    lake.sql(
        "INSERT INTO m VALUES ('a', 1.0), ('a', 2.0), ('a', 4.0), "
        "('b', 10.0), ('b', 10.0), ('c', 5.0), ('a', NULL)"
    )
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT k, COUNT(*), STDDEV(v), VARIANCE(v) FROM m GROUP BY k"
    )

    def face():
        return {
            r["k"]: (r["stddev_v"], r["var_v"])
            for r in lake.sql("SELECT k, stddev_v, var_v FROM mv").collect()
        }

    def recompute():
        return {
            r["k"]: (r["st"], r["vr"])
            for r in lake.sql(
                "SELECT k, stddev(v) AS st, variance(v) AS vr "
                "FROM m GROUP BY k"
            ).collect()
        }

    def assert_match():
        got, exp = face(), recompute()
        assert set(got) == set(exp)
        for k in exp:
            for g, e in zip(got[k], exp[k]):
                if e is None:
                    assert g is None, (k, got[k], exp[k])
                else:
                    assert g == pytest.approx(e, rel=1e-9), (k, got[k], exp[k])

    assert_match()
    assert face()["c"] == (None, None)  # single value: VAR_SAMP is NULL
    # incremental: inserts AND deletes fold through the additive path
    lake.sql("INSERT INTO m VALUES ('a', 9.0), ('c', 8.0), ('d', 3.0)")
    lake.sql("DELETE FROM m WHERE k = 'a' AND v = 2.0")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    assert_match()
    # derived face values equal the textbook formula on the state
    row = lake.sql(
        "SELECT sum_v, sumsq_v, count_v, stddev_v FROM mv WHERE k = 'a'"
    ).collect()[0]
    n = row["count_v"]
    exp_var = (row["sumsq_v"] - row["sum_v"] ** 2 / n) / (n - 1)
    assert row["stddev_v"] == pytest.approx(math.sqrt(exp_var))
    # HAVING over the derived face, both spellings
    lake.sql(
        "CREATE MATERIALIZED VIEW spread AS "
        "SELECT k, COUNT(*), STDDEV(v) FROM m GROUP BY k "
        "HAVING STDDEV(v) > 2.0"
    )
    exp_keys = {
        r["k"]
        for r in lake.sql(
            "SELECT k FROM (SELECT k, stddev(v) AS s FROM m GROUP BY k) "
            "WHERE s > 2.0"
        ).collect()
    }
    assert {
        r["k"] for r in lake.sql("SELECT k FROM spread").collect()
    } == exp_keys
    # population forms are refused with guidance
    with pytest.raises(LakeSQLError, match="STDDEV_SAMP"):
        lake.sql(
            "CREATE MATERIALIZED VIEW bad AS "
            "SELECT k, COUNT(*), STDDEV_POP(v) FROM m GROUP BY k"
        )
    # DESCRIBE lists the derived face columns
    desc = {r["column_name"] for r in lake.sql("DESCRIBE mv").collect()}
    assert {"var_v", "stddev_v", "sumsq_v", "count_v"} <= desc
    # rename follow-through: state + derived spellings keep resolving
    lake.sql("ALTER TABLE m RENAME COLUMN v TO amt")
    lake.sql("INSERT INTO m VALUES ('b', 20.0)")
    lake.sql("REFRESH MATERIALIZED VIEW spread")
    assert lake.sql("SELECT k, stddev_amt FROM spread").count() >= 1


def test_mv_retention_policy_sql(lake):
    """CALL add_retention_policy(mv, drop_before => ts): expired buckets
    vanish from HEAD reads (HAVING face included) in one catalog txn,
    stay visible via AT (VERSION), and a late-arriving source row plus
    REFRESH cannot resurrect them."""
    lake.sql("CREATE TABLE ev (ts TIMESTAMP, v DOUBLE)")
    lake.sql(
        "INSERT INTO ev VALUES "
        "(TIMESTAMP '2024-01-01 10:05:00', 1.0), "
        "(TIMESTAMP '2024-01-01 10:45:00', 2.0), "
        "(TIMESTAMP '2024-01-01 11:10:00', 3.0), "
        "(TIMESTAMP '2024-01-01 12:20:00', 4.0)"
    )
    lake.sql(
        "CREATE MATERIALIZED VIEW hr AS "
        "SELECT time_bucket(INTERVAL '1 hour', ts), COUNT(*), SUM(v) "
        "FROM ev GROUP BY bucket_start"
    )

    def buckets(q="SELECT bucket_start FROM hr"):
        return sorted(str(r["bucket_start"]) for r in lake.sql(q).collect())

    assert len(buckets()) == 3
    v0 = lake.current_version()
    st = lake.sql(
        "CALL add_retention_policy(hr, drop_before => '2024-01-01 11:00:00')"
    ).collect()[0]
    assert st["rows"] == 1  # the 10:00 bucket row expired
    assert buckets() == [
        "2024-01-01 11:00:00", "2024-01-01 12:00:00",
    ]
    # the archive: time travel still shows the expired bucket
    assert len(
        buckets(f"SELECT bucket_start FROM hr AT (VERSION => {v0})")
    ) == 3
    # a late row in the EXPIRED hour + refresh: not resurrected, while a
    # live-bucket row folds normally
    lake.sql(
        "INSERT INTO ev VALUES "
        "(TIMESTAMP '2024-01-01 10:30:00', 9.0), "
        "(TIMESTAMP '2024-01-01 11:30:00', 5.0)"
    )
    lake.sql("REFRESH MATERIALIZED VIEW hr")
    assert buckets() == [
        "2024-01-01 11:00:00", "2024-01-01 12:00:00",
    ]
    got = {
        str(r["bucket_start"]): r["sum_v"]
        for r in lake.sql("SELECT bucket_start, sum_v FROM hr").collect()
    }
    assert got["2024-01-01 11:00:00"] == 8.0  # 3.0 + 5.0
    # the horizon may only advance
    with pytest.raises(Exception, match="only advance"):
        lake.sql(
            "CALL add_retention_policy(hr, "
            "drop_before => '2024-01-01 00:00:00')"
        )
    # keys-only MVs have no buckets to expire
    lake.sql("CREATE TABLE kv (k VARCHAR, v DOUBLE)")
    lake.sql("INSERT INTO kv VALUES ('a', 1.0)")
    lake.sql(
        "CREATE MATERIALIZED VIEW kmv AS "
        "SELECT k, COUNT(*), SUM(v) FROM kv GROUP BY k"
    )
    with pytest.raises(Exception, match="keys-only"):
        lake.sql(
            "CALL add_retention_policy(kmv, drop_before => '2024-01-01')"
        )
    # malformed timestamps are refused before anything mutates
    with pytest.raises(Exception, match="ISO"):
        lake.sql(
            "CALL add_retention_policy(hr, drop_before => 'nonsense')"
        )


def test_read_csv_option_breadth(lake, spark, tmp_path):
    """read_csv named options (delim/quote/columns/types) + the same
    overrides on COPY FROM: a mis-sniffed header or type is recoverable
    without leaving SQL, '' path escapes match COPY's grammar, and the
    rewrite leaves no __file_* temp views behind."""
    # headerless, semicolon-delimited, declared types (the round trip the
    # sniffer cannot get right alone: all-text columns)
    f = tmp_path / "raw.csv"
    f.write_text("ab;cd\nxy;zz\n")
    got = lake.sql(
        f"SELECT * FROM read_csv('{f}', delim => ';', "
        "columns => {'a': 'VARCHAR', 'b': 'VARCHAR'}) ORDER BY a"
    ).collect()
    assert [(r["a"], r["b"]) for r in got] == [("ab", "cd"), ("xy", "zz")]
    # declared numeric types override inference
    g = tmp_path / "nums.csv"
    g.write_text("1;2.5\n3;4.5\n")
    got = lake.sql(
        f"SELECT sum(i) AS si, sum(d) AS sd FROM read_csv('{g}', "
        "delim => ';', types => {'i': 'INTEGER', 'd': 'DOUBLE'})"
    ).collect()[0]
    assert (got["si"], got["sd"]) == (4, 7.0)
    # custom quote char
    q = tmp_path / "quoted.csv"
    q.write_text("a,b\n$hello, world$,2\n")
    got = lake.sql(
        f"SELECT a FROM read_csv('{q}', quote => '$')"
    ).collect()
    assert [r["a"] for r in got] == ["hello, world"]
    # '' path escape parity with COPY
    odd = tmp_path / "it's.csv"
    odd.write_text("x\n7\n")
    esc = str(odd).replace("'", "''")
    assert lake.sql(
        f"SELECT x FROM read_csv('{esc}')"
    ).collect()[0]["x"] == 7
    # no lingering __file_* temp views after the statements above
    leftovers = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("__file_")
    ]
    assert leftovers == []
    # a read_csv spelled inside a string LITERAL is data, not a call
    lit = lake.sql("SELECT 'read_csv(''x'')' AS s").collect()[0]["s"]
    assert lit == "read_csv('x')"
    # COPY FROM with the same overrides
    lake.sql("CREATE TABLE t9 (a VARCHAR, b VARCHAR)")
    st = lake.sql(
        f"COPY t9 FROM '{f}' (FORMAT CSV, DELIMITER ';', HEADER false, "
        "COLUMNS {'a': 'VARCHAR', 'b': 'VARCHAR'})"
    ).collect()[0]
    assert st["rows"] == 2
    assert lake.read("t9").count() == 2


def test_csv_copy_count_and_header_sniff(lake, spark, tmp_path):
    """COPY TO's reported row count is quote-aware (embedded newlines in
    string values must not inflate it), and the all-text header sniff
    marks a first record with empty/duplicate/recurring values as DATA
    instead of silently eating it."""
    lake.sql("CREATE TABLE notes (id INT, body VARCHAR)")
    lake.sql(
        "INSERT INTO notes VALUES (1, 'line1\nline2'), (2, 'plain')"
    )
    c = str(tmp_path / "notes.csv")
    st = lake.sql(f"COPY notes TO '{c}' (FORMAT CSV)").collect()[0]
    assert st["rows"] == 2  # raw b'\n' counting reported 3
    # sniffer counter-signals: a value recurring in its own column
    d = tmp_path / "alltext.csv"
    d.write_text("red,blue\ngreen,blue\nred,yellow\n")
    assert lake.sql(
        f"SELECT count(*) AS n FROM read_csv('{d}')"
    ).collect()[0]["n"] == 3  # first record kept as DATA
    # duplicate first-row values => data
    e = tmp_path / "dup.csv"
    e.write_text("x,x\np,q\n")
    assert lake.sql(
        f"SELECT count(*) AS n FROM read_csv('{e}')"
    ).collect()[0]["n"] == 2
    # a real header (unique names, none recurring) still sniffs as one
    h = tmp_path / "hdr.csv"
    h.write_text("name,city\nalice,paris\nbob,rome\n")
    got = lake.sql(
        f"SELECT name FROM read_csv('{h}') ORDER BY name"
    ).collect()
    assert [r["name"] for r in got] == ["alice", "bob"]


# -- DuckDB dialect sugar: QUALIFY + * EXCLUDE -----------------------------


@pytest.fixture()
def qlake(lake):
    lake.sql("CREATE TABLE s (k INT, v INT, grp STRING)")
    lake.sql(
        "INSERT INTO s VALUES (1,10,'a'),(2,20,'a'),(3,30,'a'),"
        "(4,5,'b'),(5,15,'b'),(6,40,'c')"
    )
    return lake


def _duck_twin():
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE s (k INT, v INT, grp VARCHAR)")
    con.execute(
        "INSERT INTO s VALUES (1,10,'a'),(2,20,'a'),(3,30,'a'),"
        "(4,5,'b'),(5,15,'b'),(6,40,'c')"
    )
    return con


@pytest.mark.parametrize(
    "q",
    [
        # alias-referenced QUALIFY (rn defined in the select list)
        "SELECT k, v, row_number() OVER (PARTITION BY grp ORDER BY v DESC)"
        " AS rn FROM s QUALIFY rn = 1 ORDER BY k",
        # inline window whose PARTITION BY column is NOT projected
        "SELECT k, v FROM s QUALIFY row_number() OVER "
        "(PARTITION BY grp ORDER BY v DESC) = 1 ORDER BY k",
        # trailing ORDER BY + LIMIT stay outside the rewrite
        "SELECT k, v FROM s QUALIFY rank() OVER (ORDER BY v DESC) <= 3 "
        "ORDER BY v DESC LIMIT 2",
        # CTE ahead of the main select (CTE body must not be rewritten)
        "WITH big AS (SELECT * FROM s WHERE v >= 10) SELECT k, v FROM big "
        "QUALIFY row_number() OVER (PARTITION BY k % 2 ORDER BY v) = 1 "
        "ORDER BY k",
        # window in QUALIFY ordering by an AGGREGATE alias (lateral alias
        # in a window is unsupported in Spark -> textual alias resolution)
        "SELECT grp, sum(v) AS total FROM s GROUP BY grp QUALIFY "
        "row_number() OVER (ORDER BY total DESC) <= 2 ORDER BY grp",
        # QUALIFY keyword inside a string literal is data, not syntax
        "SELECT k, grp FROM s QUALIFY row_number() OVER "
        "(PARTITION BY grp ORDER BY k) = 1 AND grp != 'QUALIFY x' "
        "ORDER BY k",
        # EXCLUDE, both spellings
        "SELECT * EXCLUDE (grp) FROM s ORDER BY k LIMIT 2",
        "SELECT * EXCLUDE grp FROM s ORDER BY k LIMIT 2",
        # adversarial alias resolution (r12): alias `g` is a PREFIX of
        # column `grp` — the token-boundary rewrite must leave grp alone
        "SELECT grp, sum(v) AS g FROM s GROUP BY grp "
        "QUALIFY row_number() OVER (PARTITION BY grp ORDER BY g) = 1 "
        "ORDER BY grp",
        # alias EQUAL to a window function name: `rank()` is a call, not
        # an alias reference — substitution must skip call positions
        "SELECT k, v, k + 100 AS rank FROM s "
        "QUALIFY rank() OVER (ORDER BY v DESC) <= 3 ORDER BY k",
        # qualified `s.v` names the FROM column even when an alias `v`
        # shadows it — no substitution after a dot
        "SELECT k, concat(grp, 'x') AS v FROM s "
        "QUALIFY row_number() OVER (PARTITION BY s.v ORDER BY k) = 1 "
        "ORDER BY k",
        # `exclude` as an ordinary identifier (alias) must not be
        # mangled into EXCEPT — the rewrite is anchored to `* EXCLUDE`
        "SELECT v AS exclude, k FROM s ORDER BY exclude LIMIT 2",
        "SELECT t.* EXCLUDE (grp) FROM s t ORDER BY k LIMIT 2",
    ],
)
def test_qualify_exclude_match_duckdb(qlake, q):
    """QUALIFY / * EXCLUDE rewrites must produce DuckDB's rows verbatim —
    the reference passes SQL text straight to DuckDB
    (utils/ducklake_utils.py:49), so its users write this dialect."""
    con = _duck_twin()
    try:
        assert [tuple(r) for r in qlake.sql(q).collect()] == con.execute(
            q
        ).fetchall(), q
    finally:
        con.close()


def test_qualify_alias_with_backslash_expr(qlake):
    """The alias substitution's replacement is a CALLABLE: an aliased
    expression containing a backslash (regexp literal) or a \\1-style
    sequence must be inserted verbatim — the old string replacement
    raised re.error('bad escape') or misread it as a group reference."""
    got = qlake.sql(
        "SELECT k, regexp_extract(grp, '[a-z]\\\\d*', 0) AS ex FROM s "
        "QUALIFY row_number() OVER (PARTITION BY ex ORDER BY k) = 1 "
        "ORDER BY k"
    ).collect()
    assert [r["k"] for r in got] == [1, 4, 6]  # first row per grp
    got2 = qlake.sql(
        "SELECT k, concat(grp, '\\\\1') AS tag FROM s "
        "QUALIFY row_number() OVER (PARTITION BY tag ORDER BY k) = 1 "
        "ORDER BY k"
    ).collect()
    assert [r["k"] for r in got2] == [1, 4, 6]


def test_qualify_unsupported_forms_raise(qlake):
    with pytest.raises(LakeSQLError, match="DISTINCT"):
        qlake.sql(
            "SELECT DISTINCT k FROM s QUALIFY row_number() "
            "OVER (ORDER BY k) = 1"
        )
    with pytest.raises(LakeSQLError, match="predicate"):
        qlake.sql("SELECT k FROM s QUALIFY")


@pytest.mark.parametrize(
    "q",
    [
        "SELECT list_value(1,2,3) AS l",
        "SELECT list_contains(list_value(1,2), 2) AS c",
        "SELECT regexp_matches(grp, '^[ab]$') AS m FROM s ORDER BY k",
        "SELECT strlen(grp) AS n FROM s ORDER BY k",
        "SELECT array_length(list_value(k, v)) AS n FROM s ORDER BY k",
        # GROUP BY ALL / ORDER BY ALL / FROM-first parse natively in Spark;
        # pin that the lake face passes them through unmangled
        "SELECT grp, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY ALL "
        "ORDER BY ALL",
        "FROM s SELECT k, v ORDER BY k LIMIT 2",
    ],
)
def test_duckdb_function_aliases_match(qlake, q):
    """Function-name dialect: each _FN_ALIASES rewrite must be value-exact
    vs DuckDB running the original spelling."""
    con = _duck_twin()
    try:
        assert [tuple(r) for r in qlake.sql(q).collect()] == con.execute(
            q
        ).fetchall(), q
    finally:
        con.close()


def test_unnest_rewrites_to_explode(qlake):
    got = qlake.sql(
        "SELECT unnest(list_value(1,2,3)) AS u"
    ).collect()
    assert [r["u"] for r in got] == [1, 2, 3]


def test_alias_rewrite_spares_literals_and_columns(qlake):
    # a string literal containing an alias spelling is data
    got = qlake.sql("SELECT 'strlen(x)' AS lit FROM s LIMIT 1").collect()
    assert got[0]["lit"] == "strlen(x)"


def test_summarize_table_and_query(lake):
    """SUMMARIZE (DuckDB's profile verb): same column layout, one pass."""
    lake.sql("CREATE TABLE prof (k INT, v DOUBLE, g STRING)")
    lake.sql("INSERT INTO prof VALUES (1,10.5,'a'),(2,NULL,'b'),(3,30.1,NULL)")
    rows = {r["column_name"]: r for r in lake.sql("SUMMARIZE prof").collect()}
    assert list(rows) == ["k", "v", "g"]
    k = rows["k"]
    assert (k["min"], k["max"], k["approx_unique"], k["count"]) == (
        "1", "3", 3, 3
    )
    assert float(k["avg"]) == 2.0 and float(k["null_percentage"]) == 0.0
    v = rows["v"]
    assert float(v["null_percentage"]) == 33.33 and v["count"] == 3
    g = rows["g"]  # strings: min/max profiled, no numeric moments
    assert (g["min"], g["max"], g["avg"], g["q50"]) == ("a", "b", None, None)
    # query form + column subset
    sub = lake.sql("SUMMARIZE SELECT k FROM prof WHERE k >= 2").collect()
    assert len(sub) == 1 and sub[0]["min"] == "2"
    with pytest.raises(LakeSQLError, match="SUMMARIZE"):
        lake.sql("SUMMARIZE 123 BAD")


def test_insert_or_replace_and_ignore(lake):
    """DuckDB's INSERT OR REPLACE / OR IGNORE: conflict resolution by
    PRIMARY KEY, lowered onto MERGE (CoW rewrites only hit files)."""
    lake.sql("CREATE TABLE t (k INT PRIMARY KEY, v INT)")
    lake.sql("INSERT INTO t VALUES (1, 10), (2, 20)")
    lake.sql("INSERT OR REPLACE INTO t VALUES (2, 99), (3, 30)")
    assert [tuple(r) for r in lake.sql(
        "SELECT * FROM t ORDER BY k").collect()] == [(1, 10), (2, 99), (3, 30)]
    lake.sql("INSERT OR IGNORE INTO t VALUES (3, 777), (4, 40)")
    assert [tuple(r) for r in lake.sql(
        "SELECT * FROM t ORDER BY k").collect()] == [
        (1, 10), (2, 99), (3, 30), (4, 40)]
    # select-body form upserts too
    lake.sql("CREATE TABLE src (k INT, v INT)")
    lake.sql("INSERT INTO src VALUES (4, 444), (5, 50)")
    lake.sql("INSERT OR REPLACE INTO t SELECT * FROM src")
    assert [tuple(r) for r in lake.sql(
        "SELECT * FROM t WHERE k >= 4 ORDER BY k").collect()] == [
        (4, 444), (5, 50)]
    # every upsert is one snapshot: history intact
    assert lake.sql(
        "SELECT count(*) AS n FROM t AT (VERSION => 2)"
    ).collect()[0]["n"] == 2


def test_insert_or_replace_errors(lake):
    from ducktales_spark.lake.catalog import ConstraintViolation

    lake.sql("CREATE TABLE t (k INT PRIMARY KEY, v INT)")
    lake.sql("CREATE TABLE nopk (k INT, v INT)")
    # in-batch duplicate keys: explicit error, never an arbitrary winner
    with pytest.raises(ConstraintViolation):
        lake.sql("INSERT OR REPLACE INTO t VALUES (7, 1), (7, 2)")
    with pytest.raises(LakeSQLError, match="PRIMARY KEY"):
        lake.sql("INSERT OR REPLACE INTO nopk VALUES (1, 1)")


def test_pragma_checkpoint_describe_query(lake):
    """DuckDB's PRAGMA table_info / show_tables, CHECKPOINT (flush inlined
    rows to parquet -- the lake analogue of the WAL flush), and
    DESCRIBE <query> (analysis-only schema of a SELECT)."""
    lake.sql("CREATE TABLE t (k INT PRIMARY KEY, v DOUBLE)")
    lake.sql("INSERT INTO t VALUES (1, 1.5)")  # below fixture threshold
    assert [tuple(r)[:2] for r in lake.sql("PRAGMA table_info(t)").collect()] == [
        ("k", "INT"), ("v", "DOUBLE")]
    assert [r["name"] for r in lake.sql("PRAGMA show_tables").collect()] == ["t"]
    d = lake.sql("DESCRIBE SELECT k + 1 AS kk, 'x' AS s FROM t").collect()
    assert [(r["column_name"], r["column_type"]) for r in d] == [
        ("kk", "INT"), ("s", "STRING")]
    # CHECKPOINT materializes the inlined row as a parquet file
    lake.sql("CHECKPOINT")
    assert lake.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 1
    # and the row survives another checkpoint of a named table
    lake.sql("CHECKPOINT t")
    assert [tuple(r) for r in lake.sql("SELECT * FROM t").collect()] == [
        (1, 1.5)]


def test_export_import_database_round_trip(lake, spark, tmp_path):
    """EXPORT DATABASE '<dir>' -> schema.sql + load.sql + one parquet per
    table; IMPORT DATABASE rebuilds tables (PK / NOT NULL / DEFAULT /
    PARTITION BY), views, and LIVE materialized views (meta restamped at
    the importing catalog's HEAD so REFRESH folds from the right base)."""
    from ducktales_spark.lake import LakeCatalog

    lake.sql(
        "CREATE TABLE t (k INT PRIMARY KEY, v DOUBLE NOT NULL, "
        "g STRING DEFAULT 'x')"
    )
    lake.sql("INSERT INTO t VALUES (1, 1.5, 'a'), (2, 2.5, 'b')")
    lake.sql("CREATE TABLE part_t (a INT, b INT) PARTITION BY (a)")
    lake.sql("INSERT INTO part_t VALUES (1, 10), (2, 20)")
    lake.sql("CREATE VIEW big AS SELECT * FROM t WHERE v > 2")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT g, COUNT(*) AS n_rows, SUM(v) AS sum_v FROM t GROUP BY g"
    )
    exp = str(tmp_path / "exported")
    lake.sql(f"EXPORT DATABASE '{exp}'")
    schema_sql = (tmp_path / "exported" / "schema.sql").read_text()
    assert "PRIMARY KEY (k)" in schema_sql
    assert "DEFAULT 'x'" in schema_sql
    assert "PARTITION BY (a)" in schema_sql
    assert "CREATE VIEW big" in schema_sql

    dst = LakeCatalog(str(tmp_path / "dst"), spark, inline_threshold=4)
    dst.sql(f"IMPORT DATABASE '{exp}'")
    assert [tuple(r) for r in dst.sql("SELECT * FROM t ORDER BY k").collect()] == [
        (1, 1.5, "a"), (2, 2.5, "b")]
    assert [tuple(r) for r in dst.sql("SELECT * FROM big").collect()] == [
        (2, 2.5, "b")]
    # the MV pair is ALIVE: refresh after import folds new rows correctly
    dst.sql("INSERT INTO t VALUES (3, 9.0, 'a')")
    dst.sql("REFRESH MATERIALIZED VIEW mv")
    assert [tuple(r) for r in dst.sql(
        "SELECT g, n_rows, sum_v FROM mv ORDER BY g").collect()] == [
        ("a", 2, 10.5), ("b", 1, 2.5)]
    # DEFAULT and PK survive the trip
    dst.sql("INSERT INTO t (k, v) VALUES (4, 4.0)")
    assert dst.sql("SELECT g FROM t WHERE k = 4").collect()[0]["g"] == "x"
    from ducktales_spark.lake.catalog import ConstraintViolation

    with pytest.raises(ConstraintViolation):
        dst.sql("INSERT INTO t VALUES (4, 1.0, 'dup')")


def test_import_database_restamps_only_imported_mvs(lake, spark, tmp_path):
    """IMPORT DATABASE restamps ONLY the rollup metas it created — a
    pre-existing MV in the destination with unfolded base-table deltas
    must keep its stamp, so a later REFRESH still folds those rows
    (advancing it to HEAD would skip them silently, forever)."""
    from ducktales_spark.lake import LakeCatalog

    # source database to import: one plain table
    src = LakeCatalog(str(tmp_path / "src"), spark, inline_threshold=4)
    src.sql("CREATE TABLE imported_t (x INT)")
    src.sql("INSERT INTO imported_t VALUES (1), (2)")
    exp = str(tmp_path / "exp")
    src.sql(f"EXPORT DATABASE '{exp}'")

    # destination already holds a live MV with UNFOLDED deltas
    lake.sql("CREATE TABLE base (g VARCHAR, v DOUBLE)")
    lake.sql("INSERT INTO base VALUES ('a', 1.0)")
    lake.sql(
        "CREATE MATERIALIZED VIEW mv AS "
        "SELECT g, COUNT(*) AS n_rows, SUM(v) AS sum_v FROM base GROUP BY g"
    )
    lake.sql("INSERT INTO base VALUES ('a', 2.0), ('b', 5.0)")  # unfolded

    lake.sql(f"IMPORT DATABASE '{exp}'")
    lake.sql("REFRESH MATERIALIZED VIEW mv")
    got = sorted(
        tuple(r)
        for r in lake.sql("SELECT g, n_rows, sum_v FROM mv").collect()
    )
    assert got == [("a", 2, 3.0), ("b", 1, 5.0)]
    assert lake.count("imported_t") == 2


def test_export_import_view_with_semicolon_literal(lake, spark, tmp_path):
    """The import script splitter is quote-aware: a view whose SQL holds
    a ';' (and a newline) inside a string literal round-trips intact —
    the old split(';\\n') broke the statement mid-literal."""
    from ducktales_spark.lake import LakeCatalog

    lake.sql("CREATE TABLE t (k INT, s VARCHAR)")
    lake.sql("INSERT INTO t VALUES (1, 'x'), (2, 'a;\nb')")
    lake.sql("CREATE VIEW vsemi AS SELECT k, concat(s, ';\nend') AS tagged FROM t")
    exp = str(tmp_path / "semiexp")
    lake.sql(f"EXPORT DATABASE '{exp}'")
    dst = LakeCatalog(str(tmp_path / "semidst"), spark, inline_threshold=4)
    dst.sql(f"IMPORT DATABASE '{exp}'")
    got = sorted(
        tuple(r) for r in dst.sql("SELECT * FROM vsemi").collect()
    )
    want = sorted(
        tuple(r) for r in lake.sql("SELECT * FROM vsemi").collect()
    )
    assert got == want


def test_export_database_csv_round_trip(lake, spark, tmp_path):
    """EXPORT DATABASE (FORMAT CSV) — DuckDB's default EXPORT format —
    round-trips a plain-table database (typed columns incl. DATE and
    TIMESTAMP survive via the CREATE TABLE types in schema.sql); a
    database holding binary sketch state (an MV's hll_* companion) still
    fails with a pointed error naming the offending table."""
    from ducktales_spark.lake import LakeCatalog

    lake.sql(
        "CREATE TABLE t (k INT PRIMARY KEY, v DOUBLE NOT NULL, "
        "name VARCHAR, d DATE, ts TIMESTAMP)"
    )
    lake.sql(
        "INSERT INTO t VALUES "
        "(1, 1.5, 'a,b', DATE '2024-02-29', TIMESTAMP '2024-01-02 03:04:05'), "
        "(2, 2.5, NULL, DATE '2025-01-01', TIMESTAMP '2025-06-07 08:09:10'), "
        "(3, 3.5, '007', DATE '2025-02-02', TIMESTAMP '2025-02-02 00:00:00')"
    )
    lake.sql("CREATE VIEW big AS SELECT * FROM t WHERE v > 2")
    exp = str(tmp_path / "csvexp")
    lake.sql(f"EXPORT DATABASE '{exp}' (FORMAT CSV)")
    assert (tmp_path / "csvexp" / "t.csv").exists()
    load_sql = (tmp_path / "csvexp" / "load.sql").read_text()
    assert "FORMAT CSV" in load_sql and "HEADER true" in load_sql
    # load.sql declares the table's column types: the import must read BY
    # SCHEMA, never by inference — else VARCHAR '007' comes back as the
    # inferred INT 7 cast to '7' (DuckDB and the parquet path load by type)
    assert "COLUMNS {" in load_sql and "'name': 'STRING'" in load_sql

    dst = LakeCatalog(str(tmp_path / "csvdst"), spark, inline_threshold=4)
    dst.sql(f"IMPORT DATABASE '{exp}'")
    got = [tuple(r) for r in dst.sql("SELECT * FROM t ORDER BY k").collect()]
    want = [tuple(r) for r in lake.sql("SELECT * FROM t ORDER BY k").collect()]
    assert got == want
    assert got[2][2] == "007"  # numeric-looking VARCHAR survives verbatim
    assert dst.sql("SELECT * FROM big").count() == 2

    # an APPROX_COUNT_DISTINCT MV mints binary hll_* sketch state ->
    # CSV refused, error names the sketch-bearing table; PARQUET works
    lake.sql(
        "CREATE MATERIALIZED VIEW dmv AS SELECT name, "
        "APPROX_COUNT_DISTINCT(k) AS approx_distinct_k FROM t GROUP BY name"
    )
    with pytest.raises(LakeSQLError, match="dmv"):
        lake.sql(f"EXPORT DATABASE '{tmp_path / 'csvexp2'}' (FORMAT CSV)")
    lake.sql(f"EXPORT DATABASE '{tmp_path / 'pqexp'}' (FORMAT PARQUET)")

    # unknown format still rejected in-band
    with pytest.raises(LakeSQLError, match="not supported"):
        lake.sql("EXPORT DATABASE '/tmp/nope' (FORMAT JSON)")


@pytest.mark.parametrize(
    "verb", ["summarize", "describe", "checkpoint", "export", "call"]
)
def test_session_verb_matrix(lake, spark, tmp_path, verb):
    """The r12 session-verb matrix, pinned (VERDICT r12 task 8; CALL rows
    added r14 per task 4): each of SUMMARIZE / DESCRIBE / CHECKPOINT /
    EXPORT DATABASE / CALL run (a) qualified against an attachment, (b)
    under ``USE <attached>``, and (c) against a READ_ONLY attachment —
    reads succeed everywhere, writes refuse on (c)."""
    import os as _os

    p = str(tmp_path / "att")
    att = LakeCatalog(p, spark, inline_threshold=64)
    att.sql("CREATE TABLE t (x INT, s VARCHAR)")
    att.sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")  # inlined (thr 64)
    lake.sql("CREATE TABLE localt (y INT)")
    lake.sql(f"ATTACH '{p}' AS att")
    lake.sql(f"ATTACH '{p}' AS ro (READ_ONLY)")

    if verb == "summarize":
        # (a) qualified
        rows = lake.sql("SUMMARIZE att.t").collect()
        assert {r["column_name"] for r in rows} == {"x", "s"}
        # (b) under USE
        lake.sql("USE att")
        assert len(lake.sql("SUMMARIZE t").collect()) == 2
        lake.sql("USE main")
        # (c) READ_ONLY: profiling is a read — allowed, both spellings
        assert len(lake.sql("SUMMARIZE ro.t").collect()) == 2
        lake.sql("USE ro")
        assert len(lake.sql("SUMMARIZE t").collect()) == 2
        lake.sql("USE main")
    elif verb == "describe":
        cols = [r["column_name"] for r in lake.sql("DESCRIBE att.t").collect()]
        assert cols == ["x", "s"]
        lake.sql("USE att")
        assert [r["column_name"] for r in lake.sql("DESCRIBE t").collect()] == ["x", "s"]
        lake.sql("USE main")
        assert [r["column_name"] for r in lake.sql("DESCRIBE ro.t").collect()] == ["x", "s"]
    elif verb == "checkpoint":
        import glob as _glob

        def files():
            return _glob.glob(_os.path.join(p, "**", "*.parquet"), recursive=True)

        assert not files()  # rows are inlined so far
        # (a) qualified single table
        lake.sql("CHECKPOINT att.t")
        assert files()  # flushed to parquet at the attachment's data dir
        att.sql("INSERT INTO t VALUES (3, 'c')")
        n0 = len(files())
        # (b) under USE — whole-catalog flush
        lake.sql("USE att")
        lake.sql("CHECKPOINT")
        lake.sql("USE main")
        assert len(files()) > n0
        # whole-attached-catalog spelling
        att.sql("INSERT INTO t VALUES (4, 'd')")
        n1 = len(files())
        lake.sql("CHECKPOINT att")
        assert len(files()) > n1
        # (c) READ_ONLY refuses every spelling
        with pytest.raises(LakeSQLError, match="READ_ONLY"):
            lake.sql("CHECKPOINT ro.t")
        with pytest.raises(LakeSQLError, match="READ_ONLY"):
            lake.sql("CHECKPOINT ro")
        lake.sql("USE ro")
        with pytest.raises(LakeSQLError, match="READ_ONLY"):
            lake.sql("CHECKPOINT")
        lake.sql("USE main")
        # unknown catalog is pointed
        with pytest.raises(LakeSQLError, match="no attached catalog"):
            lake.sql("CHECKPOINT nope.t")
        # dotless CHECKPOINT main under READ_ONLY USE flushes the BOUND
        # catalog — it is writable; refusing it was the r13 ADVICE wart
        lake.sql("USE ro")
        lake.sql("CHECKPOINT main")
        with pytest.raises(LakeSQLError, match="READ_ONLY"):
            lake.sql("CHECKPOINT")  # the USE'd catalog itself stays refused
        lake.sql("USE main")
    elif verb == "call":
        import glob as _glob

        def files():
            return _glob.glob(_os.path.join(p, "**", "*.parquet"), recursive=True)

        # (a) qualified table-level verbs route to the attachment's engine
        assert not files()  # t's rows are inlined so far
        lake.sql("CALL flush_inlined(att.t)")
        assert files()
        lake.sql("CALL compact('att.t')")  # quoted spelling too
        lake.sql("CALL optimize(att.t, zorder_by => 'x')")
        assert lake.sql("SELECT count(*) AS n FROM att.t").collect()[0]["n"] == 2
        # catalog-level verb targets via catalog =>
        r = lake.sql(
            "CALL expire_snapshots(catalog => 'att', keep_last => 1)"
        ).collect()[0]
        assert r["snapshots_expired"] > 0
        # (b) under USE: unqualified operates on the USE'd catalog,
        # main-qualified routes back to the bound catalog
        lake.sql("INSERT INTO localt VALUES (1)")
        lake.sql("USE att")
        lake.sql("CALL compact(t)")
        lake.sql("CALL compact(main.localt)")
        lake.sql("USE main")
        # (c) READ_ONLY refuses in every spelling that targets it...
        with pytest.raises(LakeSQLError, match="READ_ONLY"):
            lake.sql("CALL compact(ro.t)")
        with pytest.raises(LakeSQLError, match="READ_ONLY"):
            lake.sql("CALL expire_snapshots(catalog => 'ro', keep_last => 1)")
        lake.sql("USE ro")
        with pytest.raises(LakeSQLError, match="READ_ONLY"):
            lake.sql("CALL compact(t)")
        # ...but a qualified target naming a DIFFERENT catalog delegates:
        # the actual target's flag decides
        lake.sql("CALL compact(att.t)")
        lake.sql("CALL compact(main.localt)")
        lake.sql("USE main")
        # unknown catalog is pointed
        with pytest.raises(LakeSQLError, match="no attached catalog"):
            lake.sql("CALL compact(nope.t)")
    else:  # export
        # (b) EXPORT DATABASE under USE exports the USE'd catalog
        exp = str(tmp_path / "exp_use")
        lake.sql("USE att")
        lake.sql(f"EXPORT DATABASE '{exp}'")
        lake.sql("USE main")
        schema_sql = open(_os.path.join(exp, "schema.sql")).read()
        assert "CREATE TABLE t " in schema_sql  # att's table, not localt
        assert "localt" not in schema_sql
        # (c) exporting a READ_ONLY catalog is a read — allowed
        exp2 = str(tmp_path / "exp_ro")
        lake.sql("USE ro")
        lake.sql(f"EXPORT DATABASE '{exp2}'")
        lake.sql("USE main")
        assert _os.path.exists(_os.path.join(exp2, "load.sql"))
        # ...but IMPORT into it is refused
        lake.sql("USE ro")
        with pytest.raises(LakeSQLError, match="READ_ONLY"):
            lake.sql(f"IMPORT DATABASE '{exp}'")
        lake.sql("USE main")
        # COPY FROM DATABASE under USE resolves via the main attach list:
        # writable target works, the r13 positive case
        dst_p = str(tmp_path / "mig")
        LakeCatalog(dst_p, spark)
        lake.sql(f"ATTACH '{dst_p}' AS mig")
        lake.sql("USE att")
        lake.sql("COPY FROM DATABASE att TO mig")
        lake.sql("USE main")
        assert LakeCatalog(dst_p, spark).count("t") == 2


def test_review_r13_regressions(lake, spark, tmp_path):
    """Round-13 review findings, pinned: (1) under USE of a READ_ONLY
    catalog, a qualified write into a DIFFERENT writable catalog
    delegates instead of being refused with the wrong catalog named;
    (2) COPY FROM DATABASE refuses while an involved catalog's delegate
    holds an open transaction; (3) MERGE USING <att>.<tbl> parses, with
    the bare table name as the implicit alias; (4) CHECKPOINT main
    flushes the bound catalog like bare CHECKPOINT; (5) a greedy
    in-literal AT match must not swallow a REAL clause after the
    literal closes."""
    ro_p, dev_p = str(tmp_path / "ro"), str(tmp_path / "dev")
    ro, dev = LakeCatalog(ro_p, spark), LakeCatalog(dev_p, spark)
    ro.sql("CREATE TABLE t (x INT)")
    dev.sql("CREATE TABLE t (x INT)")
    dev.sql("CREATE TABLE changes (id INT, q INT)")
    dev.sql("INSERT INTO changes VALUES (1, 5), (2, 7)")
    lake.sql(f"ATTACH '{ro_p}' AS ro (READ_ONLY)")
    lake.sql(f"ATTACH '{dev_p}' AS dev")

    # (1) write THROUGH a read-only default into a writable sibling
    lake.sql("USE ro")
    lake.sql("INSERT INTO dev.t VALUES (1)")
    assert dev.count("t") == 1
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("INSERT INTO ro.t VALUES (1)")  # self-qualified: refused
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("INSERT INTO t VALUES (1)")  # unqualified: refused
    # whole-catalog CHECKPOINT of the writable sibling delegates too
    # (dotless form), while bare/self CHECKPOINT stays refused
    lake.sql("CHECKPOINT dev")
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("CHECKPOINT")
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("CHECKPOINT ro")
    lake.sql("USE main")
    # 'main' is reserved: an attachment must not shadow the bound catalog
    with pytest.raises(LakeSQLError, match="reserved"):
        lake.sql(f"ATTACH '{dev_p}' AS main")

    # (2) COPY FROM DATABASE vs an open delegate transaction
    lake.sql("USE dev")
    lake.sql("BEGIN")
    lake.sql("INSERT INTO t VALUES (9)")
    with pytest.raises(LakeSQLError, match="open transaction"):
        lake.sql("COPY FROM DATABASE main TO dev")
    lake.sql("ROLLBACK")
    lake.sql("USE main")

    # (3) catalog-qualified MERGE source
    lake.sql("CREATE TABLE inv (id INT, q INT)")
    lake.sql("INSERT INTO inv VALUES (1, 0)")
    lake.sql(
        "MERGE INTO inv USING dev.changes ON inv.id = changes.id "
        "WHEN MATCHED THEN UPDATE SET q = changes.q "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = sorted(tuple(r) for r in lake.sql("SELECT * FROM inv").collect())
    assert got == [(1, 5), (2, 7)]
    # ... and as the source of an attached-target merge
    lake.sql(
        "MERGE INTO dev.t tt USING dev.changes ON tt.x = changes.id "
        "WHEN NOT MATCHED THEN INSERT (x) VALUES (changes.id)"
    )
    assert dev.count("t") == 2  # id=1 matched existing x=1, id=2 inserted

    # (4) CHECKPOINT main == bare CHECKPOINT (no 'main' table exists)
    st = lake.sql("CHECKPOINT main").collect()[0]
    assert st["op"] == "CHECKPOINT" and st["rows"] >= 1

    # (5) greedy in-literal match + real clause after the literal
    lake.sql("INSERT INTO inv VALUES (3, 1)")
    v_now = lake.current_version()
    lake.sql("INSERT INTO inv VALUES (4, 1)")
    row = lake.sql(
        f"SELECT 'inv AT (VERSION => ' AS lit, count(*) AS n "
        f"FROM inv AT (VERSION => {v_now})"
    ).collect()[0]
    assert row["lit"] == "inv AT (VERSION => " and row["n"] == 3
    lake.sql("DETACH ro")
    lake.sql("DETACH dev")


def test_export_csv_columns_struct_edge_types(lake, spark, tmp_path):
    """The r13 load.sql COLUMNS struct survives types whose DDL carries
    commas/parens (decimal(12,2)) and column names needing quote-escaping
    — the _split_top brace/paren awareness end to end through IMPORT."""
    from ducktales_spark.lake import LakeCatalog

    lake.sql(
        "CREATE TABLE px (id INT, amount DECIMAL(12,2), code VARCHAR)"
    )
    lake.sql(
        "INSERT INTO px VALUES (1, 1234567890.12, '0042'), (2, 0.01, NULL)"
    )
    exp = str(tmp_path / "deccsv")
    lake.sql(f"EXPORT DATABASE '{exp}' (FORMAT CSV)")
    load_sql = (tmp_path / "deccsv" / "load.sql").read_text()
    assert "'amount': 'DECIMAL(12,2)'" in load_sql
    dst = LakeCatalog(str(tmp_path / "decdst"), spark)
    dst.sql(f"IMPORT DATABASE '{exp}'")
    got = sorted(tuple(r) for r in dst.sql("SELECT * FROM px").collect())
    want = sorted(tuple(r) for r in lake.sql("SELECT * FROM px").collect())
    assert got == want
    assert got[0][2] == "0042"  # leading zeros survive the declared type


def test_attach_option_grammar_edges(lake, spark, tmp_path):
    """ATTACH option-list parsing: both orders, whitespace, quoted-path
    escapes, and the duplicate-attach / empty-list behaviors."""
    p1 = str(tmp_path / "g1")
    LakeCatalog(p1, spark)
    # reversed option order + loose whitespace
    lake.sql(f"ATTACH '{p1}' AS g1 (READ_ONLY , DATA_PATH '{p1}/files')")
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("CREATE TABLE g1.t (x INT)")
    with pytest.raises(LakeSQLError, match="already attached"):
        lake.sql(f"ATTACH '{p1}' AS g1")
    lake.sql("DETACH g1")
    # DATA_PATH whose path contains an apostrophe ('' escape in SQL)
    odd = str(tmp_path / "it's_files")
    esc = odd.replace("'", "''")
    lake.sql(f"ATTACH '{p1}' AS g2 (DATA_PATH '{esc}')")
    lake.sql("CREATE TABLE g2.t (x INT)")
    import os as _os

    assert _os.path.isdir(odd)  # the unescaped path is the data dir
    lake.sql("DETACH g2")


def test_review_r14_advice_regressions(lake, spark, tmp_path):
    """Round-14 review findings, pinned: (1) the READ_ONLY-USE guard's
    ``catalog =>`` fallback only applies to CALL statements — a WRITE
    under a READ_ONLY USE whose string literal happens to contain
    ``catalog => 'x'`` is refused locally, not delegated; (2) a QUOTED
    CALL argument containing a dot is only split as <att>.<t> when the
    prefix names an attached catalog — a table literally named 'a.b'
    stays a table lookup (the r13 behavior)."""
    att_p = str(tmp_path / "att14")
    att = LakeCatalog(att_p, spark)
    att.sql("CREATE TABLE t (x INT, s VARCHAR)")
    att.sql("INSERT INTO t VALUES (1, 'a')")
    lake.sql(f"ATTACH '{att_p}' AS ro (READ_ONLY)")

    # (1) in-literal catalog=>'att' in a write must NOT reach the
    # CALL-only delegation fallback: local READ_ONLY refusal, no rows
    lake.sql("USE ro")
    with pytest.raises(LakeSQLError, match="'ro' is attached READ_ONLY"):
        lake.sql("INSERT INTO t VALUES (9, 'catalog => ''att''')")
    # the genuine CALL spelling still delegates by target flag (refused
    # here because the target IS the read-only catalog — pointed error)
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("CALL compact(t)")
    lake.sql("USE main")
    assert lake.sql("SELECT count(*) AS n FROM ro.t").collect()[0]["n"] == 1

    # (2) quoted dotted CALL argument: no catalog named 'a' attached ->
    # plain table name (the Python API permits dotted names)
    lake.ctas("a.b", spark.range(3).selectExpr("CAST(id AS INT) AS x"))
    lake.sql("CALL compact('a.b')")  # must not error 'no attached catalog'
    lake.sql("CALL flush_inlined('a.b')")
    assert lake.count("a.b") == 3
    # ...but once a catalog named 'a' IS attached, the quoted spelling
    # routes like the bare one (quoted vs bare parity for real catalogs)
    a_p = str(tmp_path / "cat_a")
    a_cat = LakeCatalog(a_p, spark)
    a_cat.sql("CREATE TABLE b (x INT)")
    a_cat.sql("INSERT INTO b VALUES (1), (2)")
    lake.sql(f"ATTACH '{a_p}' AS a")
    lake.sql("CALL compact('a.b')")   # routes to catalog a, table b
    lake.sql("CALL compact(a.b)")
    lake.sql("DETACH a")
    lake.sql("DETACH ro")


def test_vector_index_call_qualified_routing(lake, spark, tmp_path):
    """r14 verdict task 3: the vector-index lifecycle verbs accept the
    same qualified routing as the table/catalog maintenance verbs —
    (a) ``CALL build_vector_index('att.idx', ...)`` / ``catalog => 'att'``
    re-issue against the attachment's engine (operands resolve THERE),
    (b) under ``USE att`` unqualified verbs hit the USE'd catalog and
    ``main.``-qualified ones route back, (c) READ_ONLY refuses the three
    mutating verbs but allows probe — a pure read, like SUMMARIZE."""
    import numpy as np

    p = str(tmp_path / "vatt")
    att = LakeCatalog(p, spark)
    rng = np.random.default_rng(7)
    att.ctas(
        "vecs",
        spark.createDataFrame(
            [(int(i), [float(x) for x in rng.normal(size=4)])
             for i in range(80)],
            "vec_id bigint, e array<double>",
        ),
    )
    lake.sql(f"ATTACH '{p}' AS att")
    lake.sql(f"ATTACH '{p}' AS ro (READ_ONLY)")

    # (a) qualified build: quoted and catalog=> spellings; source table
    # resolves in the attachment (no 'vecs' exists in the bound catalog)
    r = lake.sql(
        "CALL build_vector_index('att.idx', vecs, n_centroids => 4)"
    ).first()
    assert r["rows"] == 4 and "idx" in att.tables()
    pr = lake.sql(
        "CALL probe_vector_index(att.idx, "
        "(SELECT vec_id, e FROM vecs WHERE vec_id < 2), k => 3)"
    ).collect()
    assert len(pr) == 6
    lake.sql(
        "CALL extend_vector_index('idx', "
        "(SELECT vec_id + 500 AS vec_id, e FROM vecs WHERE vec_id < 5), "
        "catalog => 'att')"
    )
    assert att.count("idx") == 85
    r = lake.sql(
        "CALL remove_vectors('idx', (SELECT vec_id FROM vecs WHERE "
        "vec_id >= 500), catalog => 'att')"
    ).first()
    assert r["rows"] == 0  # subquery resolves in att: no vec_id >= 500
    r = lake.sql(
        "CALL remove_vectors('att.idx', "
        "(SELECT vec_id + 500 AS vec_id FROM vecs WHERE vec_id < 5))"
    ).first()
    assert r["rows"] == 5 and att.count("idx") == 80

    # (b) under USE: unqualified operates on the USE'd catalog;
    # main-qualified routes back to the bound catalog
    lake.ctas(
        "mvecs",
        spark.createDataFrame(
            [(int(i), [float(x) for x in rng.normal(size=4)])
             for i in range(40)],
            "vec_id bigint, e array<double>",
        ),
    )
    lake.sql("USE att")
    assert len(lake.sql(
        "CALL probe_vector_index('idx', "
        "(SELECT vec_id, e FROM vecs WHERE vec_id = 3), k => 2)"
    ).collect()) == 2
    lake.sql("CALL build_vector_index(main.midx, mvecs, n_centroids => 2)")
    lake.sql("USE main")
    assert "midx" in lake.tables() and "midx" not in att.tables()

    # (c) READ_ONLY: mutating verbs refused in both spellings...
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("CALL build_vector_index('ro.i2', vecs, n_centroids => 2)")
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql(
            "CALL extend_vector_index('idx', vecs, catalog => 'ro')"
        )
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("CALL remove_vectors(ro.idx, (SELECT vec_id FROM vecs))")
    # ...probe is a read: allowed qualified AND under USE ro
    assert len(lake.sql(
        "CALL probe_vector_index('ro.idx', "
        "(SELECT vec_id, e FROM vecs WHERE vec_id = 4), k => 2)"
    ).collect()) == 2
    lake.sql("USE ro")
    assert len(lake.sql(
        "CALL probe_vector_index('idx', "
        "(SELECT vec_id, e FROM vecs WHERE vec_id = 4), k => 2)"
    ).collect()) == 2
    with pytest.raises(LakeSQLError, match="READ_ONLY"):
        lake.sql("CALL build_vector_index('i3', vecs, n_centroids => 2)")
    lake.sql("USE main")

    # unknown catalog is a pointed error
    with pytest.raises(LakeSQLError, match="no attached catalog"):
        lake.sql("CALL probe_vector_index(nope.idx, (SELECT 1), k => 1)")
    lake.sql("DETACH att")
    lake.sql("DETACH ro")
