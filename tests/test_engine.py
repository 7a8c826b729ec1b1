"""Engine + dialect tests: Trino-flavored SQL through Engine.sql, checked
against DuckDB where the query is oracle-able (mirrors the reference's
AbstractTestQueryFramework.assertQuery design)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, compare_frames
from witdb_spark.engine import Engine
from witdb_spark.plans.dialect import UnsupportedTrinoSyntax, transpile


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_DIR)


def test_transpile_array_literal():
    assert transpile("SELECT ARRAY[1, 2, 3]") == "SELECT array(1, 2, 3)"


def test_transpile_subscript_is_1_based():
    assert "element_at(arr, 2)" in transpile("SELECT arr[2] FROM t")


def test_transpile_quoted_ident():
    assert transpile('SELECT "my col" FROM t') == "SELECT `my col` FROM t"


def test_transpile_keeps_string_literals():
    sql = "SELECT 'ARRAY[1]' , \"c\" FROM t WHERE x = 'don''t [touch]'"
    out = transpile(sql)
    assert "'ARRAY[1]'" in out and "'don''t [touch]'" in out and "`c`" in out


def test_transpile_interval():
    assert "INTERVAL 3 DAY" in transpile("SELECT ts + INTERVAL '3' DAY FROM t")


def test_transpile_try_decomposes():
    assert transpile("SELECT TRY(1/0)") == "SELECT try_divide(1, 0)"
    assert transpile("SELECT TRY(CAST(x AS INT)) FROM t") == \
        "SELECT try_cast(x AS INT) FROM t"
    assert "try_element_at(arr, 5)" in transpile("SELECT TRY(element_at(arr, 5))")
    assert transpile("SELECT TRY(a * b) FROM t") == "SELECT try_multiply(a, b) FROM t"


def test_transpile_try_raises_on_general_expr():
    with pytest.raises(UnsupportedTrinoSyntax):
        transpile("SELECT TRY(lower(x)) FROM t")


def test_transpile_cast_types():
    """Trino type syntax in CAST translates to Spark DDL, recursively
    (reference core/trino-spi/.../type/StandardTypes.java)."""
    assert transpile("SELECT CAST(x AS VARCHAR) FROM t") == \
        "SELECT CAST(x AS STRING) FROM t"
    assert transpile("SELECT CAST(m AS MAP(VARCHAR, BIGINT)) FROM t") == \
        "SELECT CAST(m AS MAP<STRING, BIGINT>) FROM t"
    # nested parameterized types (ADVICE r2: the old regex couldn't nest)
    assert transpile("SELECT CAST(m AS MAP(VARCHAR, ARRAY(INTEGER))) FROM t") == \
        "SELECT CAST(m AS MAP<STRING, ARRAY<INTEGER>>) FROM t"
    assert transpile("SELECT CAST(r AS ROW(a BIGINT, b VARCHAR)) FROM t") == \
        "SELECT CAST(r AS STRUCT<a: BIGINT, b: STRING>) FROM t"
    assert transpile("SELECT CAST(x AS TIMESTAMP WITH TIME ZONE) FROM t") == \
        "SELECT CAST(x AS TIMESTAMP) FROM t"
    # parameterized base types pass through untouched
    assert transpile("SELECT CAST(x AS DECIMAL(30,6)) FROM t") == \
        "SELECT CAST(x AS DECIMAL(30,6)) FROM t"
    # nested cast in the expression gets its own translation
    assert transpile("SELECT CAST(CAST(x AS JSON) AS VARCHAR) FROM t") == \
        "SELECT CAST(CAST(x AS STRING) AS STRING) FROM t"


def test_engine_trino_q6(engine, oracle):
    got = engine.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6)))
               AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00' + INTERVAL '1' YEAR
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """
    ).toPandas()
    want = oracle.execute(
        """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6)))
               AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00' + INTERVAL 1 YEAR
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """
    ).fetchdf()
    assert not compare_frames(got, want)


def test_engine_trino_functions_and_subscripts(engine):
    row = engine.sql(
        "SELECT ARRAY['a','b','c'][2] AS x, strpos('hello','l') AS p, "
        "codepoint('A') AS cp, date_add('day', 1, TIMESTAMP '2020-01-01 00:00:00') AS d"
    ).collect()[0]
    assert row.x == "b" and row.p == 3 and row.cp == 65
    assert str(row.d).startswith("2020-01-02")


def test_engine_named_params(engine):
    n = engine.sql(
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderpriority = :prio",
        prio="1-URGENT",
    ).collect()[0].n
    assert n > 0


def test_engine_session_property(engine):
    engine.set_session("hash_partition_count", "16")
    assert engine.spark.conf.get("spark.sql.shuffle.partitions") == "16"
    engine.set_session("hash_partition_count", "8")


def test_engine_catalog(engine):
    assert "lineitem" in engine.tables()
    cols = dict(engine.describe("lineitem"))
    assert cols["l_quantity"] == "double"


def test_engine_explain(engine):
    plan = engine.explain("SELECT COUNT(*) FROM lineitem WHERE l_quantity < 10")
    assert "PushedFilters" in plan and "LessThan(l_quantity" in plan


@pytest.mark.parametrize(
    "sql,expected",
    [
        ("SELECT m['key'] FROM t", "SELECT element_at(m, 'key') FROM t"),
        ("SELECT arr[1][2] FROM t", "SELECT element_at(element_at(arr, 1), 2) FROM t"),
        ("SELECT split(s, ',')[1] FROM t", "SELECT element_at(split(s, ','), 1) FROM t"),
        ("SELECT ARRAY[ARRAY[1,2], ARRAY[3]] FROM t", "SELECT array(array(1,2), array(3)) FROM t"),
        ("SELECT ARRAY['a,b', 'c[d]'][1]", "SELECT element_at(array('a,b', 'c[d]'), 1)"),
        ("SELECT t.a.b[3] FROM t", "SELECT element_at(t.a.b, 3) FROM t"),
    ],
)
def test_transpile_bracket_edges(sql, expected):
    assert transpile(sql) == expected


def test_call_delta_procedures(engine, spark, tmp_path):
    """CALL system.optimize/vacuum/checkpoint — the reference delta
    connector's procedure surface over path tables."""
    from witdb_spark.sources.delta_log import (
        delta_table_version,
        read_delta_snapshot,
        write_delta,
    )

    t = str(tmp_path / "proc_tbl")
    for i in range(3):
        write_delta(
            spark,
            spark.createDataFrame([(i,)], "id bigint"),
            t,
            mode="append" if i else "create",
        )
    row = engine.sql(f"CALL system.optimize('{t}')").collect()[0]
    assert row.files_after == 1 and row.files_before >= 3
    row = engine.sql(
        f"CALL system.vacuum(table_path => '{t}', retention => '0s')"
    ).collect()[0]
    assert row.deleted_files >= 3
    row = engine.sql(f"CALL system.checkpoint('{t}')").collect()[0]
    assert row.checkpointed_version == delta_table_version(spark, t)
    assert read_delta_snapshot(spark, t).count() == 3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="retention"):
        engine.sql(f"CALL system.vacuum('{t}', 'soon')")


def test_table_ptf_spellings(engine):
    """FROM TABLE(sequence(..)) / TABLE(exclude_columns(..)) — the SQL
    spelling of the polymorphic table functions (reference SPI
    ConnectorTableFunction; plans/dialect.py::rewrite_table_ptfs)."""
    import pytest

    from witdb_spark.plans.dialect import UnsupportedTrinoSyntax

    # positional + named arguments; inclusive stop; negative step
    rows = engine.sql("SELECT * FROM TABLE(sequence(1, 5))").collect()
    assert [r.sequential_number for r in rows] == [1, 2, 3, 4, 5]
    rows = engine.sql(
        "SELECT * FROM TABLE(sequence(start => 5, stop => 1, step => -2))"
    ).collect()
    assert [r.sequential_number for r in rows] == [5, 3, 1]
    # exclude_columns over a registered view and over a subquery input
    df = engine.sql(
        "SELECT * FROM TABLE(exclude_columns(input => TABLE(nation),"
        " columns => DESCRIPTOR(n_regionkey)))"
    )
    assert "n_regionkey" not in df.columns and "n_name" in df.columns
    df = engine.sql(
        "SELECT * FROM TABLE(exclude_columns("
        "TABLE(SELECT n_nationkey, n_name FROM nation),"
        " DESCRIPTOR(n_name)))"
    )
    assert df.columns == ["n_nationkey"]
    # unknown PTF / bad column raise with a remedy, not a Spark error
    with pytest.raises(UnsupportedTrinoSyntax, match="sequence"):
        engine.sql("SELECT * FROM TABLE(flatten(x))")
    with pytest.raises(UnsupportedTrinoSyntax, match="no such column"):
        engine.sql(
            "SELECT * FROM TABLE(exclude_columns(TABLE(nation),"
            " DESCRIPTOR(nope)))"
        )


def test_unnest_rewrites(engine):
    rows = engine.sql(
        "SELECT w FROM (SELECT split('a b', ' ') AS arr) s "
        "CROSS JOIN UNNEST(arr) AS t(w)"
    ).collect()
    assert sorted(r.w for r in rows) == ["a", "b"]
    rows = engine.sql(
        "SELECT k, v FROM (SELECT MAP(ARRAY['x', 'y'], ARRAY[1, 2]) AS m) s,"
        " UNNEST(m) AS t(k, v)"
    ).collect()
    assert sorted((r.k, r.v) for r in rows) == [("x", 1), ("y", 2)]
    # multi-arg UNNEST zips positionally, padding the short side with NULL
    rows = engine.sql(
        "SELECT x, y FROM (SELECT array(1, 2) AS a, array('p', 'q', 'r') AS b) s "
        "CROSS JOIN UNNEST(a, b) AS t(x, y)"
    ).collect()
    assert {(r.x, r.y) for r in rows} == {(1, "p"), (2, "q"), (None, "r")}


def test_unnest_with_ordinality(engine):
    # reference grammar SqlBase.g4:417 — ordinal is 1-based and trails
    rows = engine.sql(
        "SELECT x, o FROM (SELECT array('a', 'b', 'c') AS a) s "
        "CROSS JOIN UNNEST(a) WITH ORDINALITY AS u(x, o)"
    ).collect()
    assert sorted((r.x, r.o) for r in rows) == [("a", 1), ("b", 2), ("c", 3)]
    # multi-array zip: ordinal spans the longest array
    rows = engine.sql(
        "SELECT x, y, o FROM (SELECT array(1, 2) AS a, array('p', 'q', 'r') AS b) s "
        "CROSS JOIN UNNEST(a, b) WITH ORDINALITY AS u(x, y, o)"
    ).collect()
    assert {(r.x, r.y, r.o) for r in rows} == {(1, "p", 1), (2, "q", 2), (None, "r", 3)}
    # maps with ORDINALITY stay rejected (Trino map entry order is arbitrary)
    import pytest

    from witdb_spark.plans.dialect import UnsupportedTrinoSyntax

    with pytest.raises(UnsupportedTrinoSyntax):
        engine.sql(
            "SELECT * FROM t CROSS JOIN UNNEST(m) WITH ORDINALITY AS u(k, v, o)"
        )


def test_show_tables_catalog_surface(engine):
    # SHOW TABLES / information_schema analog (reference ShowTablesTask /
    # information_schema connector): Trino's one-column and four-column
    # layouts, not Spark's native ones.
    names = {r.Table for r in engine.sql("SHOW TABLES").collect()}
    assert {"lineitem", "orders", "customer", "events"} <= names
    cols = engine.sql("DESCRIBE lineitem").collect()
    assert any(r.Column == "l_orderkey" for r in cols)


def test_engine_trino_q1_full_text(engine, oracle):
    """Full TPC-H Q1 as Trino-dialect SQL through Engine.sql (not the
    DataFrame build) — the parse/transpile/function path on a realistic
    query text."""
    trino_sql = """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
                    AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """
    got = engine.sql(trino_sql).toPandas()
    want = oracle.execute(trino_sql).fetchdf()
    assert not compare_frames(got, want)


def test_engine_trino_q3_fetch_first(engine, oracle):
    trino_sql_engine = """
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
                    AS DOUBLE) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey
        FETCH FIRST 10 ROWS ONLY
    """
    got = engine.sql(trino_sql_engine).toPandas()
    want = oracle.execute(
        trino_sql_engine.replace("FETCH FIRST 10 ROWS ONLY", "LIMIT 10")
    ).fetchdf()
    assert not compare_frames(got, want)


def test_view_roundtrip(engine, spark, tmp_path):
    """create -> query -> describe -> drop (reference CreateViewTask /
    DropViewTask / ShowColumnsTask round trip)."""
    store = str(tmp_path / "views.json")
    eng = Engine(spark, view_store=store)
    eng.sql(
        "CREATE VIEW big_orders AS "
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 300000"
    )
    n = eng.sql("SELECT COUNT(*) AS n FROM big_orders").collect()[0].n
    assert n > 0
    # view computes over current base data (stored as SQL, not a snapshot)
    cols = {r.Column: r.Type for r in eng.sql("SHOW COLUMNS FROM big_orders").collect()}
    assert cols == {"o_orderkey": "bigint", "o_totalprice": "double"}
    # CREATE without OR REPLACE on an existing name errors (Trino behavior)
    with pytest.raises(ValueError):
        eng.sql("CREATE VIEW big_orders AS SELECT 1 AS x")
    eng.sql("CREATE OR REPLACE VIEW big_orders AS SELECT 1 AS x")
    assert eng.sql("SELECT * FROM big_orders").collect()[0].x == 1
    # persistence: a fresh engine on the same store re-registers the view
    eng2 = Engine(spark, view_store=store)
    assert "big_orders" in eng2.views()
    assert eng2.sql("SELECT * FROM big_orders").collect()[0].x == 1
    eng2.sql("DROP VIEW big_orders")
    assert "big_orders" not in eng2.views()
    with pytest.raises(KeyError):
        eng2.sql("DROP VIEW big_orders")
    eng2.sql("DROP VIEW IF EXISTS big_orders")  # no error
    # Trino-dialect body goes through the transpiler
    eng.sql("CREATE OR REPLACE VIEW arr_v AS SELECT ARRAY[1,2,3][2] AS second")
    assert eng.sql("SELECT second FROM arr_v").collect()[0].second == 2
    eng.sql("DROP VIEW arr_v")


def test_prepare_execute_deallocate(engine):
    engine.prepare(
        "orders_by_prio",
        "SELECT COUNT(*) AS n FROM orders WHERE o_orderpriority = ?"
        " AND o_totalprice > ?",
    )
    n1 = engine.execute("orders_by_prio", "1-URGENT", 0.0).collect()[0].n
    n2 = engine.execute("orders_by_prio", "1-URGENT", 1e12).collect()[0].n
    assert n1 > 0 and n2 == 0
    with pytest.raises(ValueError):
        engine.execute("orders_by_prio", "1-URGENT")
    engine.deallocate("orders_by_prio")
    with pytest.raises(KeyError):
        engine.execute("orders_by_prio", "x", 1)
    # '?' inside string literals is not a parameter
    engine.prepare("q", "SELECT COUNT(*) AS n FROM orders WHERE o_orderpriority != '?'")
    assert engine.execute("q").collect()[0].n > 0


def test_fetch_first_with_ties(engine):
    # reference ImplementLimitWithTies.java:65 — rank() rewrite
    rows = engine.sql(
        "SELECT x, y FROM (VALUES (1, 'a'), (2, 'b'), (2, 'c'), (3, 'd')) "
        "t(x, y) ORDER BY x FETCH FIRST 2 ROWS WITH TIES"
    ).collect()
    assert sorted((r.x, r.y) for r in rows) == [(1, "a"), (2, "b"), (2, "c")]
    # DESC keys carry through to the rank window
    rows = engine.sql(
        "SELECT x FROM (VALUES (1), (2), (3), (3)) t(x) "
        "ORDER BY x DESC FETCH FIRST 1 ROWS WITH TIES"
    ).collect()
    assert sorted(r.x for r in rows) == [3, 3]
    # in a subquery scope, the outer query keeps operating on the result
    rows = engine.sql(
        "SELECT count(*) AS n FROM (SELECT x FROM (VALUES (1), (2), (2), (3)) "
        "t(x) ORDER BY x FETCH FIRST 2 ROWS WITH TIES) s"
    ).collect()
    assert rows[0].n == 3
    # FETCH ... ONLY still maps to plain LIMIT
    rows = engine.sql(
        "SELECT x FROM (VALUES (1), (2), (3)) t(x) "
        "ORDER BY x FETCH FIRST 2 ROWS ONLY"
    ).collect()
    assert sorted(r.x for r in rows) == [1, 2]


def test_fetch_ties_requires_order_by(engine):
    import pytest

    from witdb_spark.plans.dialect import UnsupportedTrinoSyntax

    with pytest.raises(UnsupportedTrinoSyntax):
        engine.sql("SELECT x FROM t FETCH FIRST 2 ROWS WITH TIES")


def test_quantified_comparisons(engine):
    # reference QuantifiedComparisonRewriter — NULL-aware lowering
    rows = engine.sql(
        "SELECT x, x > ALL (SELECT y FROM (VALUES (3), (NULL)) s(y)) AS p "
        "FROM (VALUES (5), (2), (NULL)) t(x)"
    ).collect()
    got = {(r.x, r.p) for r in rows}
    # 5: 5>3 true but NULL element -> unknown; 2: 2<=3 definite false
    assert got == {(5, None), (2, False), (None, None)}
    rows = engine.sql(
        "SELECT x FROM (VALUES (1), (5)) t(x) "
        "WHERE x >= SOME (SELECT y FROM (VALUES (2), (3)) s(y))"
    ).collect()
    assert sorted(r.x for r in rows) == [5]
    # empty subquery: ANY -> false, ALL -> true
    rows = engine.sql(
        "SELECT x FROM (VALUES (1)) t(x) "
        "WHERE x > ALL (SELECT y FROM (VALUES (2)) s(y) WHERE y > 99)"
    ).collect()
    assert [r.x for r in rows] == [1]


def test_quantified_unsupported_forms(engine):
    import pytest

    from witdb_spark.plans.dialect import UnsupportedTrinoSyntax

    with pytest.raises(UnsupportedTrinoSyntax):
        engine.sql("SELECT 1 = ALL (SELECT 1)")


def test_time_type(engine):
    # reference core/trino-spi/.../type/TimeType.java — nanos-of-day here
    r = engine.sql(
        "SELECT CAST('14:30:15.5' AS TIME) AS t, "
        "time_hour(CAST('14:30:15.5' AS TIME)) AS h, "
        "time_to_str(CAST('14:30:15.5' AS TIME)) AS s, "
        "CAST('09:01:02' AS TIME(3)) AS t3"
    ).collect()[0]
    assert r.t == ((14 * 3600 + 30 * 60 + 15) * 10**9) + 500_000_000
    assert r.h == 14
    assert r.s == "14:30:15.500000000"
    assert r.t3 == (9 * 3600 + 62) * 10**9
    r = engine.sql(
        "SELECT LOCALTIME AS lt, CURRENT_TIME AS ct, "
        "CURRENT_TIMESTAMP AS cts"
    ).collect()[0]
    assert 0 <= r.lt < 86_400_000_000_000
    assert 0 <= r.ct < 86_400_000_000_000
    assert r.cts is not None  # CURRENT_TIMESTAMP must not be rewritten


def test_materialized_view_lifecycle(engine, spark):
    # reference CreateMaterializedViewTask / RefreshMaterializedViewTask:
    # MV reads storage, not the definition, until REFRESH
    spark.createDataFrame([(1,), (2,)], "v int").createOrReplaceTempView(
        "mv_base"
    )
    engine.sql(
        "CREATE MATERIALIZED VIEW mv_sum AS SELECT sum(v) AS s FROM mv_base"
    )
    assert engine.sql("SELECT s FROM mv_sum").collect()[0].s == 3
    # base data changes; MV stays stale until refresh
    spark.createDataFrame([(10,), (20,)], "v int").createOrReplaceTempView(
        "mv_base"
    )
    assert engine.sql("SELECT s FROM mv_sum").collect()[0].s == 3
    engine.sql("REFRESH MATERIALIZED VIEW mv_sum")
    assert engine.sql("SELECT s FROM mv_sum").collect()[0].s == 30
    assert "mv_sum" in engine.materialized_views()
    engine.sql("DROP MATERIALIZED VIEW mv_sum")
    assert "mv_sum" not in engine.materialized_views()
    engine.sql("DROP MATERIALIZED VIEW IF EXISTS mv_sum")


def test_transactions_and_grants_rejected(engine):
    import pytest

    for stmt in ("START TRANSACTION", "COMMIT", "ROLLBACK",
                 "GRANT SELECT ON t TO role r"):
        with pytest.raises(NotImplementedError):
            engine.sql(stmt)


def test_left_join_unnest(engine):
    # SqlBase.g4 joined-UNNEST grammar: driving row survives empty arrays
    rows = engine.sql(
        "SELECT id, x FROM (SELECT 1 AS id, array(10, 20) AS a "
        "UNION ALL SELECT 2, array() "
        "UNION ALL SELECT 3, CAST(NULL AS ARRAY<INT>)) s "
        "LEFT JOIN UNNEST(a) AS u(x) ON TRUE"
    ).collect()
    assert sorted((r.id, r.x) for r in rows) == [
        (1, 10), (1, 20), (2, None), (3, None)
    ]
    rows = engine.sql(
        "SELECT id, x, o FROM (SELECT 1 AS id, array('a') AS a "
        "UNION ALL SELECT 2, array()) s "
        "LEFT JOIN UNNEST(a) WITH ORDINALITY AS u(x, o) ON TRUE"
    ).collect()
    assert sorted((r.id, r.x, r.o) for r in rows) == [
        (1, "a", 1), (2, None, None)
    ]
    import pytest

    from witdb_spark.plans.dialect import UnsupportedTrinoSyntax

    with pytest.raises(UnsupportedTrinoSyntax):
        engine.sql("SELECT * FROM t LEFT JOIN UNNEST(a) AS u(x)")


def test_show_stats(engine, spark):
    # reference sql/rewrite/ShowStatsRewrite.java layout
    spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (3, "d")], "k int, s string"
    ).createOrReplaceTempView("stats_t")
    rows = engine.sql("SHOW STATS FOR stats_t").collect()
    by_col = {r.column_name: r for r in rows}
    assert by_col[None].row_count == 4.0
    k = by_col["k"]
    assert k.low_value == "1" and k.high_value == "3"
    assert k.nulls_fraction == 0.0 and k.distinct_values_count == 3.0
    s = by_col["s"]
    assert s.nulls_fraction == 0.25
    assert s.data_size == 3.0  # one char per non-null value


def test_sql_statement_dispatch(engine, spark):
    # EXPLAIN / DESCRIBE / SHOW TABLES / SHOW FUNCTIONS / SHOW SESSION as
    # SQL statements (reference dispatches DataDefinitionTasks + rewrites)
    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("disp_t")
    plan = engine.sql("EXPLAIN SELECT x FROM disp_t WHERE x > 0").collect()
    assert len(plan) == 1 and "Filter" in plan[0][0]
    cols = engine.sql("DESCRIBE disp_t").collect()
    assert [(r.Column, r.Type) for r in cols] == [("x", "int")]
    tables = {r.Table for r in engine.sql("SHOW TABLES").collect()}
    assert "disp_t" in tables
    fns = {r.Function for r in engine.sql("SHOW FUNCTIONS").collect()}
    assert {"strpos", "approx_distinct", "st_point"} <= fns
    sess = {r.Name for r in engine.sql("SHOW SESSION").collect()}
    assert "join_distribution_type" in sess


def test_row_constructor_and_at_time_zone(engine):
    r = engine.sql(
        "SELECT ROW(1, 'a') AS r, "
        "CAST(ROW(1, 2) AS ROW(a INT, b INT)).b AS b, "
        "timestamp'2024-01-01 12:00:00' AT TIME ZONE 'America/New_York' AS z,"
        " row_number() OVER (ORDER BY 1) AS rn"
    ).collect()[0]
    assert r.r[0] == 1 and r.r[1] == "a"
    assert r.b == 2
    assert str(r.z) == "2024-01-01 07:00:00"
    assert r.rn == 1  # row_number untouched by the ROW( rewrite


def test_show_create_and_describe_io(engine, spark):
    """SHOW CREATE TABLE/VIEW (reference ShowCreate) and DESCRIBE
    INPUT/OUTPUT (DescribeInputTask/DescribeOutputTask)."""
    spark.createDataFrame([(1, "x")], "id bigint, s string").createOrReplaceTempView(
        "sct_t"
    )
    ddl = engine.sql("SHOW CREATE TABLE sct_t").collect()[0][0]
    assert "CREATE TABLE sct_t" in ddl and "id bigint" in ddl and "s string" in ddl
    engine.sql("CREATE OR REPLACE VIEW sct_v AS SELECT id FROM sct_t WHERE id > 0")
    vddl = engine.sql("SHOW CREATE VIEW sct_v").collect()[0][0]
    assert vddl.startswith("CREATE VIEW sct_v AS") and "id > 0" in vddl
    cats = [r[0] for r in engine.sql("SHOW CATALOGS").collect()]
    assert "spark_catalog" in cats
    schemas = [r[0] for r in engine.sql("SHOW SCHEMAS").collect()]
    assert "default" in schemas
    engine.prepare("dio", "SELECT id, s FROM sct_t WHERE id = ? AND s <> ?")
    inp = engine.sql("DESCRIBE INPUT dio").collect()
    assert [(r.Position, r.Type) for r in inp] == [(0, "unknown"), (1, "unknown")]
    out = engine.sql("DESCRIBE OUTPUT dio").collect()
    assert [(r["Column Name"], r.Type) for r in out] == [
        ("id", "bigint"), ("s", "string")
    ]


def test_information_schema(engine, spark):
    """information_schema.{tables,columns,views} (reference
    InformationSchemaMetadata.java) materialized from the live catalog."""
    spark.createDataFrame([(1, "x")], "id bigint, s string").createOrReplaceTempView(
        "isch_t"
    )
    engine.sql("CREATE OR REPLACE VIEW isch_v AS SELECT id FROM isch_t")
    rows = engine.sql(
        "SELECT table_name, table_type FROM information_schema.tables"
        " WHERE table_name IN ('isch_t', 'isch_v') ORDER BY table_name"
    ).collect()
    assert [r.table_name for r in rows] == ["isch_t", "isch_v"]
    cols = engine.sql(
        "SELECT column_name, data_type, ordinal_position"
        " FROM information_schema.columns WHERE table_name = 'isch_t'"
        " ORDER BY ordinal_position"
    ).collect()
    assert [(c.column_name, c.data_type) for c in cols] == [
        ("id", "bigint"), ("s", "string")
    ]
    v = engine.sql(
        "SELECT view_definition FROM information_schema.views"
        " WHERE table_name = 'isch_v'"
    ).collect()
    assert "SELECT id FROM isch_t" in v[0].view_definition


def test_recursive_cte_forms(engine):
    """WITH RECURSIVE edge shapes: trailing CTE after the recursive one,
    and the loud non-fixpoint error."""
    rows = engine.sql(
        """
        WITH RECURSIVE seq(n) AS (
          SELECT 1 AS n UNION ALL SELECT n + 1 FROM seq WHERE n < 5
        ), doubled AS (SELECT n * 2 AS d FROM seq)
        SELECT CAST(SUM(d) AS BIGINT) AS s FROM doubled
        """
    ).collect()
    assert rows[0].s == 30  # 2+4+6+8+10
    import pytest as _pytest

    with _pytest.raises(ValueError):
        engine.sql("WITH RECURSIVE bad(n) AS (SELECT 1 AS n) SELECT * FROM bad")


def test_prepare_execute_sql_form(engine, spark):
    """PREPARE / EXECUTE USING / DEALLOCATE as SQL statements (reference
    PrepareTask/ExecuteTask/DeallocateTask dispatch)."""
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, s string"
    ).createOrReplaceTempView("pes_t")
    engine.sql("PREPARE pq FROM SELECT s FROM pes_t WHERE id > ? ORDER BY id")
    rows = engine.sql("EXECUTE pq USING 1").collect()
    assert [r.s for r in rows] == ["b", "c"]
    rows = engine.sql("EXECUTE pq USING 1 + 1").collect()
    assert [r.s for r in rows] == ["c"]
    engine.sql("DEALLOCATE PREPARE pq")
    import pytest as _pytest

    with _pytest.raises(KeyError):
        engine.sql("EXECUTE pq USING 0")


def test_r4_cleanup_fixes(engine, spark, tmp_path):
    """Dropped-candidate cleanups: MV storage reclaimed on drop, '?' in
    comments not a parameter, IPv6 port extraction."""
    import os

    engine.sql("CREATE OR REPLACE MATERIALIZED VIEW mvclean AS SELECT 1 AS x")
    path = os.path.join(engine._mv_dir(), "mvclean")
    assert os.path.exists(path)
    engine.sql("DROP MATERIALIZED VIEW mvclean")
    assert not os.path.exists(path)

    engine.prepare("pcmt", "SELECT ? AS v -- what? really?\n FROM (VALUES 1)")
    assert engine.sql("EXECUTE pcmt USING 42").collect()[0].v == 42

    from witdb_spark.functions import register_all

    register_all(spark)
    r = spark.sql(
        "SELECT url_extract_port('http://[::1]:8080/x') AS p6,"
        " url_extract_port('http://[::1]/x') AS p6none,"
        " url_extract_port('https://h.com:444/a') AS p4,"
        " url_extract_port('https://h.com/a') AS pnone"
    ).collect()[0]
    assert r.p6 == 8080 and r.p6none is None
    assert r.p4 == 444 and r.pnone is None


def test_show_stats_for_query(engine, spark):
    """SHOW STATS FOR (query) subquery form (reference ShowStatsRewrite)."""
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "id bigint, s string"
    ).createOrReplaceTempView("ssq_t")
    rows = engine.sql(
        "SHOW STATS FOR (SELECT id FROM ssq_t WHERE id > 1)"
    ).collect()
    summary = [r for r in rows if r.column_name is None][0]
    assert summary.row_count == 2.0
    idrow = [r for r in rows if r.column_name == "id"][0]
    assert idrow.low_value == "2" and idrow.high_value == "3"


def test_session_sql_forms_and_explain_options(engine, spark):
    """r5 statement surface: SET/RESET/SHOW SESSION as SQL text
    (reference SetSessionTask/ResetSessionTask/ShowSessionTask) and
    EXPLAIN (TYPE ...) options (grammar SqlBase.g4 explainOption)."""
    import pytest

    engine.sql("SET SESSION hash_partition_count = '7'")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    rows = {r.Name: r.Value for r in engine.sql("SHOW SESSION").collect()}
    assert rows["hash_partition_count"] == "7"
    engine.sql("RESET SESSION hash_partition_count")
    # EXPLAIN option forms
    v = engine.sql("EXPLAIN (TYPE VALIDATE) SELECT 1 AS x").collect()
    assert v[0].Valid is True
    p = engine.sql(
        "EXPLAIN (TYPE LOGICAL) SELECT count(*) FROM orders"
    ).collect()[0][0]
    assert "Analyzed Logical Plan" in p or "logical" in p.lower()
    d = engine.sql(
        "EXPLAIN (TYPE DISTRIBUTED) SELECT count(*) FROM orders"
    ).collect()[0][0]
    assert "Exchange" in d or "HashAggregate" in d
    io = engine.sql(
        "EXPLAIN (TYPE IO) SELECT o_orderkey FROM orders"
    ).collect()[0][0]
    assert "Scan" in io or "Relation" in io
    with pytest.raises(NotImplementedError):
        engine.sql("EXPLAIN (TYPE LOGICAL, FORMAT JSON) SELECT 1")


def test_lakehouse_maintenance_procedures(spark, tmp_path):
    """CALL system.expire_snapshots / rollback_to_snapshot (reference
    iceberg connector procedures) and system.clean (Hudi's cleaner)
    through Engine.sql, against the jar-free tables."""
    import glob
    import os

    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.iceberg_meta import (
        IcebergProtocolError,
        iceberg_snapshots,
        read_iceberg_snapshot,
        write_iceberg,
    )
    from witdb_spark.sources.hudi_meta import (
        hudi_base_files,
        read_hudi_snapshot,
        write_hudi,
    )

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    t = str(tmp_path / "ice")
    df1 = spark.createDataFrame([(1, "a")], "id bigint, s string")
    df2 = spark.createDataFrame([(2, "b")], "id bigint, s string")
    s1 = write_iceberg(spark, df1, t, mode="create")
    write_iceberg(spark, df2, t, mode="overwrite")
    # rollback: current points back at s1, history preserved
    row = eng.sql(
        f"CALL system.rollback_to_snapshot('{t}', {s1})"
    ).collect()[0]
    assert row.current_snapshot_id == s1
    assert [r.id for r in read_iceberg_snapshot(spark, t).collect()] == [1]
    # expiring would drop the (rolled-back) current snapshot: loud error
    with pytest.raises(IcebergProtocolError):
        eng.sql(f"CALL system.expire_snapshots('{t}', 1)").collect()
    # roll forward again, then expire: one snapshot left, old files gone
    s2 = iceberg_snapshots(t)[-1]["snapshot_id"]
    eng.sql(f"CALL system.rollback_to_snapshot('{t}', {s2})").collect()
    row = eng.sql(f"CALL system.expire_snapshots('{t}', 1)").collect()[0]
    assert row.expired_snapshots >= 1 and row.deleted_files >= 1
    assert len(iceberg_snapshots(t)) == 1
    assert [r.id for r in read_iceberg_snapshot(spark, t).collect()] == [2]

    h = str(tmp_path / "hud")
    write_hudi(spark, df1, h, mode="create")
    write_hudi(spark, df2, h, mode="overwrite")
    active = {os.path.abspath(p) for p in hudi_base_files(h)}
    on_disk = {
        os.path.abspath(p) for p in glob.glob(os.path.join(h, "*.parquet"))
    }
    assert active < on_disk  # retired slices still on disk pre-clean
    row = eng.sql(f"CALL system.clean('{h}', 1)").collect()[0]
    assert row.deleted_files == len(on_disk - active)
    assert {
        os.path.abspath(p) for p in glob.glob(os.path.join(h, "*.parquet"))
    } == active
    assert [r.id for r in read_hudi_snapshot(spark, h).collect()] == [2]

    # format-dispatched OPTIMIZE: compaction through the COW rewrite
    # cores — iceberg commits a snapshot, hudi a clustering
    # replacecommit; both read back identically with fewer files
    t2 = str(tmp_path / "ice_opt")
    many = spark.createDataFrame(
        [(i, str(i)) for i in range(6)], "id bigint, s string"
    ).repartition(3)
    write_iceberg(spark, many, t2, mode="create")
    row = eng.sql(f"CALL system.optimize('{t2}', 1)").collect()[0]
    assert row.files_rewritten == 3
    from witdb_spark.sources.iceberg_meta import iceberg_data_files

    files, _ = iceberg_data_files(t2)
    assert len(files) == 1
    assert read_iceberg_snapshot(spark, t2).count() == 6
    h2 = str(tmp_path / "hud_opt")
    write_hudi(spark, many, h2, mode="create")
    assert len(hudi_base_files(h2)) == 3
    row = eng.sql(f"CALL system.optimize('{h2}', 1)").collect()[0]
    assert row.instant is not None
    assert len(hudi_base_files(h2)) == 1
    assert read_hudi_snapshot(spark, h2).count() == 6


def test_maintenance_procedure_dispatch_hints(spark, tmp_path):
    """A format-mismatched maintenance procedure says which spelling to
    use instead of surfacing a missing-_delta_log error, and repeated
    optimize on an already-compact table is a no-op (no snapshot/copy
    accretion per scheduled run)."""
    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.iceberg_meta import (
        iceberg_snapshots,
        write_iceberg,
    )

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    t = str(tmp_path / "ice")
    df = spark.createDataFrame([(1, "a")], "id bigint, s string").coalesce(1)
    write_iceberg(spark, df, t, mode="create")
    with pytest.raises(ValueError, match="expire_snapshots"):
        eng.sql(f"CALL system.vacuum('{t}')").collect()
    with pytest.raises(ValueError, match="Delta procedure"):
        eng.sql(f"CALL system.checkpoint('{t}')").collect()
    with pytest.raises(ValueError, match="Hudi procedure"):
        eng.sql(f"CALL system.clean('{t}')").collect()
    # already compact: optimize commits nothing
    n = len(iceberg_snapshots(t))
    row = eng.sql(f"CALL system.optimize('{t}', 1)").collect()[0]
    assert row.files_rewritten == 0
    assert len(iceberg_snapshots(t)) == n


def test_sql_dml_front_door(spark, tmp_path):
    """DELETE FROM / UPDATE / MERGE INTO as SQL text on lakehouse path
    tables (<format>.'<path>') — the reference's DML statements
    (io.trino.sql.tree Delete/Update/Merge) routed to the jar-free
    protocol writers."""
    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.plans.dialect import UnsupportedTrinoSyntax
    from witdb_spark.sources.delta_log import (
        read_delta_snapshot,
        write_delta,
    )
    from witdb_spark.sources.hudi_meta import read_hudi_snapshot, write_hudi
    from witdb_spark.sources.iceberg_meta import (
        read_iceberg_snapshot,
        write_iceberg,
    )

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    df0 = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(1, 5)], "id bigint, v double"
    )
    for fmt, write, read in [
        ("delta", write_delta, read_delta_snapshot),
        ("iceberg", write_iceberg, read_iceberg_snapshot),
        ("hudi", write_hudi, read_hudi_snapshot),
    ]:
        t = str(tmp_path / f"dml_{fmt}")
        write(spark, df0, t, mode="create")
        eng.sql(f"DELETE FROM {fmt}.'{t}' WHERE id = 4")
        eng.sql(f"UPDATE {fmt}.'{t}' SET v = v + 0.5, id = id WHERE id = 1")
        got = {r.id: r.v for r in read(spark, t).collect()}
        assert got == {1: 10.5, 2: 20.0, 3: 30.0}, fmt
        # MERGE: update id=2 from the source, insert id=9
        spark.createDataFrame(
            [(2, 222.0), (9, 999.0)], "id bigint, v double"
        ).createOrReplaceTempView("dml_src")
        eng.sql(
            f"MERGE INTO {fmt}.'{t}' t USING dml_src s ON t.id = s.id"
            " WHEN MATCHED THEN UPDATE SET v = s.v"
            " WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
        )
        got = {r.id: r.v for r in read(spark, t).collect()}
        assert got == {1: 10.5, 2: 222.0, 3: 30.0, 9: 999.0}, fmt
        # conditional DELETE clause + subquery source
        eng.sql(
            f"MERGE INTO {fmt}.'{t}' t USING"
            " (SELECT CAST(9 AS BIGINT) AS id, CAST(0 AS DOUBLE) AS v) s"
            " ON t.id = s.id WHEN MATCHED AND t.v > 100 THEN DELETE"
        )
        got = sorted(r.id for r in read(spark, t).collect())
        assert got == [1, 2, 3], fmt
    # r11: the same SQL text drives a MERGE_ON_READ hudi table — the
    # writers route to tombstone/log-append DML, no base rewrite
    import glob as _glob
    import os

    from witdb_spark.sources.hudi_meta import write_hudi_mor_create

    tm = str(tmp_path / "dml_hudi_mor")
    write_hudi_mor_create(spark, df0, tm, record_key="id")
    bases = set(_glob.glob(os.path.join(tm, "*.parquet")))
    eng.sql(f"DELETE FROM hudi.'{tm}' WHERE id = 4")
    eng.sql(f"UPDATE hudi.'{tm}' SET v = v + 0.5, id = id WHERE id = 1")
    assert set(_glob.glob(os.path.join(tm, "*.parquet"))) == bases
    got = {r.id: r.v for r in read_hudi_snapshot(spark, tm).collect()}
    assert got == {1: 10.5, 2: 20.0, 3: 30.0}
    eng.sql(
        f"MERGE INTO hudi.'{tm}' t USING dml_src s ON t.id = s.id"
        " WHEN MATCHED THEN UPDATE SET v = s.v"
        " WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    )
    got = {r.id: r.v for r in read_hudi_snapshot(spark, tm).collect()}
    assert got == {1: 10.5, 2: 222.0, 3: 30.0, 9: 999.0}

    # WHERE-less statements touch every row (ANSI semantics)
    t = str(tmp_path / "dml_delta")
    eng.sql(f"UPDATE delta.'{t}' SET v = 0.0")
    assert {r.v for r in read_delta_snapshot(spark, t).collect()} == {0.0}
    eng.sql(f"DELETE FROM delta.'{t}'")
    assert read_delta_snapshot(spark, t).count() == 0
    # r9: projected INSERT (reference tree/MergeInsert.java column list)
    # — arbitrary expressions per listed column, unlisted ones NULL
    eng.sql(
        f"MERGE INTO delta.'{t}' t USING dml_src s ON t.id = s.id"
        " WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v / 2)"
    )
    got = {r.id: r.v for r in read_delta_snapshot(spark, t).collect()}
    assert got == {2: 111.0, 9: 499.5}
    # r9: conditional UPDATE (reference tree/MergeUpdate.java per-clause
    # condition) + conditional INSERT
    eng.sql(
        f"MERGE INTO delta.'{t}' t USING dml_src s ON t.id = s.id"
        " WHEN MATCHED AND s.v > 500 THEN UPDATE SET v = s.v"
        " WHEN NOT MATCHED AND s.v < 500 THEN INSERT (id, v)"
        " VALUES (s.id, -1.0)"
    )
    got = {r.id: r.v for r in read_delta_snapshot(spark, t).collect()}
    # id=2 matched but 222 < 500 -> untouched; id=9 matched, 999 > 500
    # -> updated; no unmatched source rows
    assert got == {2: 111.0, 9: 999.0}
    with pytest.raises(UnsupportedTrinoSyntax, match="equi-conditions"):
        eng.sql(
            f"MERGE INTO delta.'{t}' t USING dml_src s ON t.id > s.id"
            " WHEN MATCHED THEN DELETE"
        )


def test_sql_table_changes_function(spark, tmp_path):
    """r11: the SQL spelling of CDC —
    TABLE(system.table_changes('<path>'[, since[, end]])) through
    Engine.sql (reference TableChangesFunction) — composes with plain
    projections/aggregations and leaves string literals alone."""
    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        write_delta,
    )

    eng = Engine(spark)
    t = str(tmp_path / "tc")
    write_delta(
        spark,
        spark.range(0, 6).selectExpr("id", "CAST(id AS DOUBLE) AS v"),
        t, mode="create",
        configuration={
            "delta.enableDeletionVectors": "true",
            "delta.enableChangeDataFeed": "true",
        },
    )
    delta_delete_where(spark, t, "id >= 4")
    rows = eng.sql(
        "SELECT _change_type, count(*) AS n FROM"
        f" TABLE(system.table_changes('{t}')) GROUP BY _change_type"
    ).collect()
    got = {r._change_type: r.n for r in rows}
    assert got == {"insert": 6, "delete": 2}
    # since-version restriction + delta. qualifier
    only = eng.sql(
        "SELECT id FROM"
        f" TABLE(system.table_changes(delta.'{t}', 1, 1))"
    ).collect()
    assert sorted(r.id for r in only) == [4, 5]
    # a spelling inside a string literal is untouched
    s = eng.sql(
        "SELECT 'TABLE(system.table_changes(''x''))' AS s"
    ).collect()
    assert "table_changes" in s[0].s


def test_sql_metadata_tables(spark, tmp_path):
    """r11: the reference's system metadata tables
    ("table$history"-style; delta $history/$properties/$partitions,
    iceberg $snapshots/$history/$manifests/$files/$properties, hudi
    $timeline) spelled fmt.'<path>$<name>' through the SQL front door
    — metadata-scale reads, no data file opened."""
    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        write_delta,
    )
    from witdb_spark.sources.hudi_meta import write_hudi
    from witdb_spark.sources.iceberg_meta import write_iceberg

    eng = Engine(spark)
    td = str(tmp_path / "meta_delta")
    df0 = spark.range(0, 10).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS cat"
    )
    write_delta(
        spark, df0.coalesce(1), td, mode="create", partition_by=["cat"]
    )
    write_delta(
        spark,
        spark.createDataFrame([(100, "9")], "id bigint, cat string"),
        td, mode="append",
    )
    delta_delete_where(spark, td, "id = 100")
    hist = eng.sql(
        f"SELECT version, operation FROM delta.'{td}$history'"
        " ORDER BY version"
    ).collect()
    assert [r.version for r in hist] == [0, 1, 2]
    assert hist[2].operation == "DELETE"
    parts = eng.sql(
        "SELECT partition, record_count FROM"
        f" delta.'{td}$partitions' ORDER BY partition"
    ).collect()
    assert sum(r.record_count for r in parts) == 10  # id=100 deleted
    assert len(parts) == 3

    ti = str(tmp_path / "meta_ice")
    write_iceberg(spark, df0.coalesce(1), ti, mode="create")
    write_iceberg(
        spark,
        spark.createDataFrame([(100, "9")], "id bigint, cat string"),
        ti, mode="append",
    )
    snaps = eng.sql(
        f"SELECT operation FROM iceberg.'{ti}$snapshots'"
        " ORDER BY committed_at"
    ).collect()
    assert [r.operation for r in snaps] == ["append", "append"]
    files = eng.sql(
        "SELECT CAST(SUM(record_count) AS BIGINT) AS n FROM"
        f" iceberg.'{ti}$files' WHERE content = 0"
    ).collect()
    assert files[0].n == 11
    h = eng.sql(
        f"SELECT is_current_ancestor FROM iceberg.'{ti}$history'"
    ).collect()
    assert all(r.is_current_ancestor for r in h) and len(h) == 2
    assert eng.sql(
        f"SELECT * FROM iceberg.'{ti}$manifests' WHERE content = 0"
    ).count() >= 1

    pt = eng.sql(
        "SELECT CAST(SUM(record_count) AS BIGINT) AS n,"
        " CAST(COUNT(*) AS BIGINT) AS groups FROM"
        f" iceberg.'{ti}$partitions'"
    ).collect()
    assert pt[0].n == 11 and pt[0].groups == 1  # unpartitioned: 1 group
    refs = eng.sql(
        f"SELECT name, type FROM iceberg.'{ti}$refs'"
    ).collect()
    assert [(r.name, r.type) for r in refs] == [("main", "branch")]

    th = str(tmp_path / "meta_hudi")
    write_hudi(spark, df0, th, mode="create")
    tl = eng.sql(
        f"SELECT action, state FROM hudi.'{th}$timeline'"
    ).collect()
    assert tl and all(r.state == "COMPLETED" for r in tl)

    # joins of a metadata table with the data table compose
    joined = eng.sql(
        f"SELECT count(*) AS n FROM delta.'{td}' t"
        f" CROSS JOIN (SELECT max(version) AS v FROM delta.'{td}$history') h"
    ).collect()
    assert joined[0].n == 10

    # r12 (ADVICE r11): an unknown $suffix is treated as a PLAIN PATH
    # (directories may legitimately contain '$'), so the front door
    # reports a missing table, not a metadata-table error; the direct
    # metadata_table API stays loud with the supported list
    with pytest.raises(Exception, match="not a Delta table"):
        eng.sql(f"SELECT * FROM delta.'{td}$bogus'").collect()
    from witdb_spark.sources.meta_tables import (
        MetadataTableError,
        metadata_table,
    )

    with pytest.raises(MetadataTableError, match="supported"):
        metadata_table(spark, "delta", td, "bogus")


def test_sql_dml_parser_corners(spark, tmp_path):
    """Corners from the DML-front-door review: EXPLAIN never executes
    DML; WHERE inside a SET string literal does not split the statement;
    comparison operators inside assignments survive the comma split;
    aliases literally named src/tgt map correctly; wrong-case and
    unknown SET columns are loud; update-before-delete clause order is
    refused (first-match-wins)."""
    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.plans.dialect import UnsupportedTrinoSyntax
    from witdb_spark.sources.delta_log import (
        read_delta_snapshot,
        write_delta,
    )

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    t = str(tmp_path / "corner")
    write_delta(
        spark,
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "b")], "id bigint, v double, s string"
        ),
        t,
        mode="create",
    )
    # EXPLAIN does not execute; EXPLAIN (TYPE VALIDATE) neither
    plan = eng.sql(f"EXPLAIN DELETE FROM delta.'{t}'").collect()[0][0]
    assert "LakehouseDML" in plan
    eng.sql(f"EXPLAIN (TYPE VALIDATE) DELETE FROM delta.'{t}'").collect()
    assert read_delta_snapshot(spark, t).count() == 2
    # WHERE inside a string literal + comparison operator in a CASE
    eng.sql(
        f"UPDATE delta.'{t}' SET s = 'use WHERE wisely',"
        " v = CASE WHEN v > 15 THEN v + 1 ELSE v END WHERE id = 2"
    )
    got = {r.id: (r.v, r.s) for r in read_delta_snapshot(spark, t).collect()}
    assert got == {1: (10.0, "a"), 2: (21.0, "use WHERE wisely")}
    # target alias literally named src: the source value must still win
    spark.createDataFrame(
        [(1, 111.0)], "id bigint, v double"
    ).createOrReplaceTempView("corner_src")
    eng.sql(
        f"MERGE INTO delta.'{t}' src USING corner_src s ON src.id = s.id"
        " WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    got = {r.id: r.v for r in read_delta_snapshot(spark, t).collect()}
    assert got[1] == 111.0
    # wrong-case SET column folds case-insensitively (SQL identifiers)
    eng.sql(
        f"MERGE INTO delta.'{t}' t2 USING corner_src s ON t2.id = s.id"
        " WHEN MATCHED THEN UPDATE SET V = s.v + 1"
    )
    got = {r.id: r.v for r in read_delta_snapshot(spark, t).collect()}
    assert got[1] == 112.0
    # unknown SET column is loud
    with pytest.raises(Exception, match="names no target column"):
        eng.sql(
            f"MERGE INTO delta.'{t}' t2 USING corner_src s ON t2.id = s.id"
            " WHEN MATCHED THEN UPDATE SET nosuch = s.v"
        )
    # update-before-delete order is refused (first-match-wins)
    with pytest.raises(UnsupportedTrinoSyntax, match="first-match-wins"):
        eng.sql(
            f"MERGE INTO delta.'{t}' t2 USING corner_src s ON t2.id = s.id"
            " WHEN MATCHED THEN UPDATE SET v = s.v"
            " WHEN MATCHED AND t2.v > 5 THEN DELETE"
        )
    # malformed USING is the documented loud error, not AttributeError
    with pytest.raises(UnsupportedTrinoSyntax, match="USING"):
        eng.sql(
            f"MERGE INTO delta.'{t}' t2 USING 'oops' s ON t2.id = s.id"
            " WHEN MATCHED THEN DELETE"
        )


def test_sql_lakehouse_table_refs(spark, tmp_path):
    """late r10: SELECT over fmt.'/path' spellings through Engine.sql
    (the reference's catalog-qualified table access) — each ref
    becomes a temp view over the jar-free reader, and a simple
    single-table WHERE pushes into the reader's file skipping
    (sound: the reader re-applies the predicate; any shape doubt
    falls back to the unpruned view)."""
    import datetime

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import write_delta
    from witdb_spark.sources.iceberg_meta import (
        read_iceberg_snapshot,
        write_iceberg,
    )

    e = Engine(spark)
    td = str(tmp_path / "refs_delta")
    ti = str(tmp_path / "refs_ice")
    rows = [
        (i, f"n{i}", datetime.date(2020, 1, 1) + datetime.timedelta(days=i))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id bigint, name string, d date")
    write_delta(spark, df.repartition(4, "id"), td, mode="create")
    write_iceberg(spark, df, ti, mode="create", partition_by=["months(d)"])
    assert e.sql(f"SELECT count(*) AS n FROM delta.'{td}'").collect()[0].n == 200
    q = e.sql(
        f"SELECT count(*) AS n FROM iceberg.'{ti}'"
        " WHERE d >= DATE '2020-06-01'"
    )
    assert q.collect()[0].n == sum(
        1 for _i, _n, d in rows if d >= datetime.date(2020, 6, 1)
    )
    # the pushed view scans fewer files than the full table
    pushed = spark.table(e._lake_ref_views[-1])
    assert len(pushed.inputFiles()) < len(
        read_iceberg_snapshot(spark, ti).inputFiles()
    )
    # join of two spellings: correct (no pushdown attempted)
    q4 = e.sql(
        f"SELECT count(*) AS n FROM delta.'{td}' a"
        f" JOIN iceberg.'{ti}' b ON a.id = b.id WHERE a.id < 10"
    )
    assert q4.collect()[0].n == 10
    # a ref spelled inside a string literal is never rewritten
    q5 = e.sql(f"SELECT 'delta.''/nope''' AS s FROM delta.'{td}' LIMIT 1")
    assert "delta." in q5.collect()[0].s
    # r11: an ALIASED single-table WHERE still pushes down — the one
    # alias in scope resolves by stripping its qualifier; only foreign
    # qualifiers refuse pushdown
    q6 = e.sql(
        f"SELECT count(*) AS n FROM iceberg.'{ti}' t"
        " WHERE t.d >= DATE '2020-06-01' AND t.name <> 'delta.x'"
    )
    assert q6.collect()[0].n == sum(
        1 for _i, _n, d in rows if d >= datetime.date(2020, 6, 1)
    )
    pushed6 = spark.table(e._lake_ref_views[-1])
    assert len(pushed6.inputFiles()) < len(
        read_iceberg_snapshot(spark, ti).inputFiles()
    )
    # AS-spelled alias too
    q7 = e.sql(
        f"SELECT count(*) AS n FROM iceberg.'{ti}' AS tt"
        " WHERE tt.d < DATE '2020-02-01'"
    )
    assert q7.collect()[0].n == sum(
        1 for _i, _n, d in rows if d < datetime.date(2020, 2, 1)
    )
    assert len(spark.table(e._lake_ref_views[-1]).inputFiles()) < len(
        read_iceberg_snapshot(spark, ti).inputFiles()
    )


def test_sql_comma_self_join_no_pushdown(spark, tmp_path):
    """r12 (ADVICE r11): a comma self-join of the SAME lakehouse path
    (FROM delta.'p' a, delta.'p' b) shares one temp view, so a pushed
    a-side predicate would also filter b — pushdown must refuse when
    the ref occurs more than once (the \\bJOIN\\b guard misses
    commas) and the cross join must return every pair."""
    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import write_delta

    eng = Engine(spark)
    t = str(tmp_path / "selfjoin")
    write_delta(
        spark,
        spark.range(0, 5).selectExpr("id", "id * 10 AS x").coalesce(1),
        t, mode="create",
    )
    rows = eng.sql(
        f"SELECT a.id AS aid, b.id AS bid FROM delta.'{t}' a,"
        f" delta.'{t}' b WHERE a.id = 1"
    ).collect()
    assert sorted((r.aid, r.bid) for r in rows) == [
        (1, b) for b in range(5)
    ]
    # single-ref pushdown still prunes (alias-stripped predicate)
    one = eng.sql(
        f"SELECT t.id FROM delta.'{t}' t WHERE t.id = 1"
    ).collect()
    assert [r.id for r in one] == [1]


def test_sql_dollar_in_plain_path(spark, tmp_path):
    """r12 (ADVICE r11): '$' inside a table DIRECTORY name
    (/data/proj$v2/tbl-style) is not a metadata-table spelling — only
    a KNOWN $name suffix routes to metadata_table; anything else reads
    as a plain path."""
    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import write_delta

    eng = Engine(spark)
    d = tmp_path / "proj$v2"
    d.mkdir()
    t = str(d / "tbl")
    write_delta(
        spark, spark.range(0, 3).selectExpr("id").coalesce(1),
        t, mode="create",
    )
    got = eng.sql(
        f"SELECT id FROM delta.'{t}' ORDER BY id"
    ).collect()
    assert [r.id for r in got] == [0, 1, 2]
    # the metadata spelling still routes on a known suffix
    hist = eng.sql(f"SELECT version FROM delta.'{t}$history'").collect()
    assert [r.version for r in hist] == [0]


def test_sql_alter_table_partitioning(spark, tmp_path):
    """r12: the reference's spec-evolution SQL spelling —
    ALTER TABLE iceberg.'<path>' SET PROPERTIES partitioning =
    ARRAY[...] (trino-iceberg setTableProperties) routes to
    iceberg_evolve_spec; transform spellings with embedded commas
    parse; other properties refuse loudly."""
    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.iceberg_meta import (
        _current_metadata,
        write_iceberg,
    )

    eng = Engine(spark)
    t = str(tmp_path / "alter_ice")
    write_iceberg(
        spark,
        spark.range(0, 4).selectExpr(
            "id", "CAST(id % 2 AS STRING) AS cat"
        ),
        t, mode="create",
    )
    out = eng.sql(
        f"ALTER TABLE iceberg.'{t}' SET PROPERTIES partitioning ="
        " ARRAY['cat', 'bucket(4, id)']"
    ).collect()
    assert out[0].spec_id == 1
    meta = _current_metadata(t)
    assert meta["default-spec-id"] == 1
    fields = meta["partition-specs"][1]["fields"]
    assert [(f["name"], f["transform"]) for f in fields] == [
        ("cat", "identity"), ("id_bucket", "bucket[4]"),
    ]
    # appends under the evolved spec just work through the writer
    write_iceberg(
        spark,
        spark.createDataFrame([(100, "9")], "id bigint, cat string"),
        t, mode="append",
    )
    rows = eng.sql(
        f"SELECT count(*) AS n FROM iceberg.'{t}'"
    ).collect()
    assert rows[0].n == 5
    # arbitrary iceberg properties land as a metadata commit (r12,
    # iceberg_set_properties); hudi stays loud (the reference's hudi
    # connector is read-only)
    eng.sql(f"ALTER TABLE iceberg.'{t}' SET PROPERTIES foo = 'bar'")
    assert _current_metadata(t)["properties"]["foo"] == "bar"
    from witdb_spark.sources.hudi_meta import write_hudi

    th = str(tmp_path / "alter_hudi")
    write_hudi(spark, spark.range(1).selectExpr("id"), th,
               mode="create")
    with pytest.raises(NotImplementedError, match="read-only"):
        eng.sql(f"ALTER TABLE hudi.'{th}' SET PROPERTIES foo = 'bar'")


def test_sql_insert_into_lakehouse(spark, tmp_path):
    """r12: the INSERT front door — INSERT INTO fmt.'<path>'
    [(cols)] SELECT|VALUES through Engine.sql appends via the jar-free
    writers (delta/iceberg appends; hudi routes COW bulk-insert vs MOR
    log-insert by table type). Positional alignment casts to the
    target schema; an explicit column list fills unlisted columns with
    NULL; arity/unknown-column errors are loud."""
    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import write_delta
    from witdb_spark.sources.hudi_meta import (
        read_hudi_snapshot,
        write_hudi_mor_create,
    )
    from witdb_spark.sources.iceberg_meta import write_iceberg

    eng = Engine(spark)
    td = str(tmp_path / "ins_delta")
    write_delta(
        spark,
        spark.createDataFrame(
            [(0, "zero")], "id bigint, name string"
        ),
        td, mode="create",
    )
    out = eng.sql(
        f"INSERT INTO delta.'{td}' VALUES (1, 'one'), (2, 'two')"
    ).collect()
    assert out[0].rows == 2
    got = {
        r.id: r.name
        for r in eng.sql(f"SELECT * FROM delta.'{td}'").collect()
    }
    assert got == {0: "zero", 1: "one", 2: "two"}
    # column list: unlisted columns land NULL, order remaps
    eng.sql(f"INSERT INTO delta.'{td}' (name) VALUES ('ghost')")
    rows = eng.sql(
        f"SELECT id, name FROM delta.'{td}' WHERE id IS NULL"
    ).collect()
    assert [(r.id, r.name) for r in rows] == [(None, "ghost")]

    ti = str(tmp_path / "ins_ice")
    write_iceberg(
        spark,
        spark.createDataFrame([(0, "zero")], "id bigint, name string"),
        ti, mode="create",
    )
    # INSERT ... SELECT reading another lakehouse table composes
    eng.sql(
        f"INSERT INTO iceberg.'{ti}' SELECT id + 10, name FROM"
        f" delta.'{td}' WHERE id = 1"
    )
    assert sorted(
        r.id for r in eng.sql(f"SELECT id FROM iceberg.'{ti}'").collect()
    ) == [0, 11]

    th = str(tmp_path / "ins_hudi_mor")
    write_hudi_mor_create(
        spark,
        spark.createDataFrame([(0, 0.0)], "id bigint, v double")
        .coalesce(1),
        th, record_key="id",
    )
    eng.sql(f"INSERT INTO hudi.'{th}' VALUES (5, 5.5)")
    got = {r.id: r.v for r in read_hudi_snapshot(spark, th).collect()}
    assert got == {0: 0.0, 5: 5.5}

    with pytest.raises(ValueError, match="arity|columns"):
        eng.sql(f"INSERT INTO delta.'{td}' VALUES (1)")
    with pytest.raises(ValueError, match="not in the table"):
        eng.sql(f"INSERT INTO delta.'{td}' (nope) VALUES (1)")


def test_sql_ctas_lakehouse(spark, tmp_path):
    """r12: CTAS onto a lakehouse path through the front door —
    CREATE TABLE fmt.'<path>' [WITH (partitioned_by = ARRAY[...],
    record_key = '...')] AS SELECT (reference CreateTableTask + the
    connectors' beginCreateTable): authors version 0 jar-free and the
    table reads back through the same front door."""
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    src = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(6)],
        "id bigint, cat string, v double",
    )
    src.createOrReplaceTempView("ctas_src")
    td = str(tmp_path / "ctas_delta")
    out = eng.sql(
        f"CREATE TABLE delta.'{td}' WITH (partitioned_by ="
        " ARRAY['cat']) AS SELECT * FROM ctas_src WHERE id < 4"
    ).collect()
    assert out[0].rows == 4
    got = eng.sql(
        f"SELECT id FROM delta.'{td}' WHERE cat = 'a' ORDER BY id"
    ).collect()
    assert [r.id for r in got] == [0, 2]
    # partition pruning works on the CTAS'd table (hive dirs + log)
    parts = eng.sql(
        f"SELECT partition FROM delta.'{td}$partitions'"
    ).collect()
    assert len(parts) == 2

    ti = str(tmp_path / "ctas_ice")
    eng.sql(
        f"CREATE TABLE iceberg.'{ti}' AS SELECT id, v FROM ctas_src"
    )
    assert eng.sql(
        f"SELECT count(*) AS n FROM iceberg.'{ti}'"
    ).collect()[0].n == 6

    th = str(tmp_path / "ctas_hudi")
    eng.sql(
        f"CREATE TABLE hudi.'{th}' WITH (record_key = 'id') AS"
        " SELECT id, v FROM ctas_src"
    )
    # the recorded key makes keyed DML work on the CTAS'd table
    eng.sql(f"DELETE FROM hudi.'{th}' WHERE id = 0")
    assert eng.sql(
        f"SELECT count(*) AS n FROM hudi.'{th}'"
    ).collect()[0].n == 5


def test_sql_ctas_delta_table_properties(spark, tmp_path):
    """r12: CTAS WITH the trino-delta-lake table-property spellings —
    column_mapping_mode / change_data_feed_enabled /
    deletion_vectors_enabled map onto the delta configuration keys, so
    a front-door-created table immediately serves cm reads, a CDF
    stream, and DV deletes."""
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    spark.createDataFrame(
        [(i, float(i)) for i in range(6)], "id bigint, v double"
    ).createOrReplaceTempView("ctas_props_src")
    t = str(tmp_path / "ctas_props")
    eng.sql(
        f"CREATE TABLE delta.'{t}' WITH (column_mapping_mode = 'name',"
        " change_data_feed_enabled = true, deletion_vectors_enabled ="
        " true) AS SELECT * FROM ctas_props_src"
    )
    import json as _json
    import os.path as _osp

    meta_cfg = None
    with open(_osp.join(t, "_delta_log",
                        "00000000000000000000.json")) as f:
        for line in f:
            a = _json.loads(line)
            if a.get("metaData"):
                meta_cfg = a["metaData"]["configuration"]
    assert meta_cfg["delta.columnMapping.mode"] == "name"
    assert meta_cfg["delta.enableChangeDataFeed"] == "true"
    assert meta_cfg["delta.enableDeletionVectors"] == "true"
    # DV delete + CDF read compose on the created table (cm incl.)
    eng.sql(f"DELETE FROM delta.'{t}' WHERE id = 3")
    ch = eng.sql(
        "SELECT _change_type, count(*) AS n FROM"
        f" TABLE(system.table_changes('{t}', 1)) GROUP BY _change_type"
    ).collect()
    assert {r._change_type: r.n for r in ch} == {"delete": 1}
    got = eng.sql(f"SELECT id FROM delta.'{t}'").collect()
    assert sorted(r.id for r in got) == [0, 1, 2, 4, 5]


def test_sql_truncate_and_drop_table(spark, tmp_path):
    """r12: TRUNCATE TABLE (metadata-only commit — removes/empty
    manifest list/replacecommit; time travel survives) and DROP TABLE
    (directory removal) through the front door, all three formats."""
    import os.path as _osp

    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import (
        read_delta_snapshot,
        write_delta,
    )
    from witdb_spark.sources.hudi_meta import write_hudi
    from witdb_spark.sources.iceberg_meta import write_iceberg

    eng = Engine(spark)
    df = spark.range(0, 6).selectExpr("id")
    td = str(tmp_path / "tr_delta")
    ti = str(tmp_path / "tr_ice")
    th = str(tmp_path / "tr_hudi")
    write_delta(spark, df, td, mode="create")
    write_iceberg(spark, df, ti, mode="create")
    write_hudi(spark, df, th, mode="create")
    for fmt, t in (("delta", td), ("iceberg", ti), ("hudi", th)):
        eng.sql(f"TRUNCATE TABLE {fmt}.'{t}'")
        assert (
            eng.sql(f"SELECT count(*) AS n FROM {fmt}.'{t}'")
            .collect()[0].n == 0
        ), fmt
        # truncate is append-able: the table lives on
        eng.sql(f"INSERT INTO {fmt}.'{t}' VALUES (99)")
        assert (
            eng.sql(f"SELECT count(*) AS n FROM {fmt}.'{t}'")
            .collect()[0].n == 1
        ), fmt
    # delta time travel still sees the pre-truncate rows
    assert read_delta_snapshot(spark, td, version=0).count() == 6
    # DROP removes the directory; re-CREATE works
    eng.sql(f"DROP TABLE delta.'{td}'")
    assert not _osp.isdir(td)
    with pytest.raises(FileNotFoundError, match="not a"):
        eng.sql(f"DROP TABLE delta.'{td}'")
    eng.sql(
        f"CREATE TABLE delta.'{td}' AS SELECT CAST(1 AS BIGINT) AS id"
    )
    assert eng.sql(
        f"SELECT count(*) AS n FROM delta.'{td}'"
    ).collect()[0].n == 1


def test_sql_alter_set_properties(spark, tmp_path):
    """r12: ALTER TABLE ... SET PROPERTIES on existing tables — delta
    (trino property spellings map onto configuration keys; enabling
    CDF/DVs post-create makes the row-level machinery live) and
    iceberg (write.delete.mode flips DELETE to merge-on-read);
    DEFAULT unsets; column-mapping flips refuse."""
    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import delta_table_changes
    from witdb_spark.sources.iceberg_meta import (
        _current_metadata,
        write_iceberg,
    )

    eng = Engine(spark)
    td = str(tmp_path / "alter_delta")
    eng.sql(
        f"CREATE TABLE delta.'{td}' AS SELECT"
        " CAST(id AS BIGINT) AS id FROM range(6)"
    )
    # CDF refuses before the property lands
    with pytest.raises(Exception, match="enableChangeDataFeed"):
        delta_table_changes(spark, td)
    eng.sql(
        f"ALTER TABLE delta.'{td}' SET PROPERTIES"
        " change_data_feed_enabled = true"
    )
    eng.sql(
        f"ALTER TABLE delta.'{td}' SET PROPERTIES"
        " deletion_vectors_enabled = true"
    )
    # DML now runs in DV mode and records real change files
    eng.sql(f"DELETE FROM delta.'{td}' WHERE id = 2")
    ch = eng.sql(
        "SELECT _change_type, count(*) AS n FROM"
        f" TABLE(system.table_changes('{td}', 2)) GROUP BY _change_type"
    ).collect()
    assert {r._change_type: r.n for r in ch} == {"delete": 1}
    # DEFAULT unsets the key
    eng.sql(
        f"ALTER TABLE delta.'{td}' SET PROPERTIES"
        " change_data_feed_enabled = DEFAULT"
    )
    with pytest.raises(Exception, match="enableChangeDataFeed"):
        delta_table_changes(spark, td)
    # cm flips refuse
    with pytest.raises(Exception, match="columnMapping"):
        eng.sql(
            f"ALTER TABLE delta.'{td}' SET PROPERTIES"
            " column_mapping_mode = 'name'"
        )

    ti = str(tmp_path / "alter_ice")
    write_iceberg(
        spark, spark.range(0, 6).selectExpr("id"), ti, mode="create"
    )
    eng.sql(
        f"ALTER TABLE iceberg.'{ti}' SET PROPERTIES"
        " \"write.delete.mode\" = 'merge-on-read'"
    )
    meta = _current_metadata(ti)
    assert meta["properties"]["write.delete.mode"] == "merge-on-read"
    # the flipped mode routes DELETE to a position-delete snapshot
    from witdb_spark.sources.iceberg_meta import iceberg_delete_where

    res = iceberg_delete_where(spark, ti, "id = 3")
    assert res["files_rewritten"] == 0
    assert eng.sql(
        f"SELECT count(*) AS n FROM iceberg.'{ti}'"
    ).collect()[0].n == 5


def test_analyze_extended_stats_lifecycle(spark, tmp_path):
    """r13: ANALYZE delta.'<path>' (reference AnalyzeTask +
    trino-delta-lake extended statistics) persists per-column
    NDV/data_size to _trino_meta/extended_stats.json; SHOW STATS FOR
    the path table serves the persisted values over the live ones
    (proven with a sentinel edit); CALL system.drop_extended_stats
    removes the sidecar and SHOW STATS reverts to live; iceberg
    ANALYZE (since r14) writes Puffin statistics."""
    import json
    import os

    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import write_delta
    from witdb_spark.sources.iceberg_meta import write_iceberg

    eng = Engine(spark)
    t = str(tmp_path / "stats_delta")
    write_delta(
        spark,
        spark.range(0, 100).selectExpr(
            "id", "CAST(id % 7 AS STRING) AS s"
        ).coalesce(1),
        t, mode="create",
    )
    row = eng.sql(f"ANALYZE delta.'{t}'").collect()[0]
    assert row.analyzed_columns == 2 and row.row_count == 100.0
    f = os.path.join(t, "_trino_meta", "extended_stats.json")
    assert os.path.exists(f)
    stats = json.load(open(f))
    assert stats["columnStatistics"]["id"]["ndv"] == pytest.approx(
        100, rel=0.05
    )
    # sentinel: persisted values take precedence over live computation
    stats["columnStatistics"]["id"]["ndv"] = 12345.0
    json.dump(stats, open(f, "w"))
    got = {
        r.column_name: r.distinct_values_count
        for r in eng.sql(f"SHOW STATS FOR delta.'{t}'").collect()
        if r.column_name
    }
    assert got["id"] == 12345.0
    # drop and revert to live
    row = eng.sql(
        f"CALL system.drop_extended_stats('{t}')"
    ).collect()[0]
    assert row.dropped and not os.path.exists(f)
    got = {
        r.column_name: r.distinct_values_count
        for r in eng.sql(f"SHOW STATS FOR delta.'{t}'").collect()
        if r.column_name
    }
    assert got["id"] == pytest.approx(100, rel=0.05)
    # second drop reports dropped=false
    assert not eng.sql(
        f"CALL system.drop_extended_stats('{t}')"
    ).collect()[0].dropped
    # iceberg ANALYZE writes Puffin statistics since r14 (its own
    # lifecycle test: test_iceberg_analyze_puffin_stats)
    ti = str(tmp_path / "stats_ice")
    write_iceberg(
        spark, spark.range(5).selectExpr("id"), ti, mode="create"
    )
    row = eng.sql(f"ANALYZE iceberg.'{ti}'").collect()[0]
    assert row.analyzed_columns == 1 and row.row_count == 5.0


def test_register_unregister_table(spark, tmp_path):
    """r13: CALL system.register_table / unregister_table (reference
    RegisterTableProcedure in both the delta and iceberg connectors):
    an existing table directory registers under a session name,
    fmt.<name> references re-resolve the directory's CURRENT state
    per statement (never a stale snapshot — proven by an append after
    registration), DML works through the name, wrong-format
    references refuse, and unregistering removes the name."""
    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import write_delta
    from witdb_spark.sources.iceberg_meta import write_iceberg

    eng = Engine(spark)
    td = str(tmp_path / "reg_delta")
    write_delta(
        spark, spark.range(0, 5).selectExpr("id"), td, mode="create"
    )
    row = eng.sql(
        f"CALL system.register_table('events_d', '{td}')"
    ).collect()[0]
    assert (row.name, row.format) == ("events_d", "delta")
    assert eng.sql("SELECT count(*) AS n FROM delta.events_d").collect()[
        0
    ].n == 5
    # liveness: a write AFTER registration is visible through the name
    write_delta(
        spark, spark.range(5, 8).selectExpr("id"), td, mode="append"
    )
    assert eng.sql("SELECT count(*) AS n FROM delta.events_d").collect()[
        0
    ].n == 8
    # DML through the registered name
    eng.sql("DELETE FROM delta.events_d WHERE id >= 6")
    assert eng.sql("SELECT count(*) AS n FROM delta.events_d").collect()[
        0
    ].n == 6
    # iceberg registration sniffs its format; wrong-format refs refuse
    ti = str(tmp_path / "reg_ice")
    write_iceberg(
        spark, spark.range(3).selectExpr("id"), ti, mode="create"
    )
    eng.sql(f"CALL system.register_table('events_i', '{ti}')")
    assert eng.sql(
        "SELECT count(*) AS n FROM iceberg.events_i"
    ).collect()[0].n == 3
    with pytest.raises(Exception, match="registered as iceberg"):
        eng.sql("SELECT * FROM delta.events_i")
    # a string literal containing the pattern is untouched
    lit = eng.sql(
        "SELECT 'delta.events_d' AS s FROM delta.events_d LIMIT 1"
    ).collect()[0].s
    assert lit == "delta.events_d"
    # unregister drops the name; re-reference refuses downstream
    eng.sql("CALL system.unregister_table('events_d')")
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM delta.events_d").collect()
    with pytest.raises(Exception, match="no registered table"):
        eng.sql("CALL system.unregister_table('events_d')")
    # a non-table directory refuses registration
    with pytest.raises(Exception, match="not a delta"):
        eng.sql(
            f"CALL system.register_table('nope', '{tmp_path}')"
        )


def test_extended_stats_track_writes(spark, tmp_path):
    """r14 (ADVICE r13): extended statistics stay honest across
    writes. ANALYZE persists the md5-HLL register sketch per column;
    an APPEND through write_delta merges the new batch's sketch
    (NDV grows to cover the union) and adds string byte sizes; a
    destructive write (DELETE) drops the sidecar so SHOW STATS
    reverts to live values instead of serving pre-delete NDV."""
    import json
    import os

    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import (
        delta_delete_where,
        extended_stats_file,
        write_delta,
    )

    eng = Engine(spark)
    t = str(tmp_path / "stats_track")
    write_delta(
        spark,
        spark.range(0, 100).selectExpr(
            "id", "CAST(id % 7 AS STRING) AS s"
        ).coalesce(1),
        t, mode="create",
    )
    eng.sql(f"ANALYZE delta.'{t}'")
    f = extended_stats_file(t)
    side0 = json.load(open(f))
    assert "hll" in side0["columnStatistics"]["id"]
    ndv0 = side0["columnStatistics"]["id"]["ndv"]
    sz0 = side0["columnStatistics"]["s"]["totalSizeInBytes"]
    assert ndv0 == pytest.approx(100, rel=0.06)
    # append 100 NEW ids (and 93 new s values): sketch merges, NDV ~200
    write_delta(
        spark,
        spark.range(100, 200).selectExpr(
            "id", "CAST(id AS STRING) AS s"
        ).coalesce(1),
        t, mode="append",
    )
    side1 = json.load(open(f))
    assert side1["columnStatistics"]["id"]["ndv"] == pytest.approx(
        200, rel=0.06
    )
    assert side1["columnStatistics"]["s"]["totalSizeInBytes"] > sz0
    # an idempotent re-append of the SAME rows moves NDV nowhere
    # (sketch union is idempotent)
    write_delta(
        spark,
        spark.range(100, 200).selectExpr(
            "id", "CAST(id AS STRING) AS s"
        ).coalesce(1),
        t, mode="append",
    )
    side2 = json.load(open(f))
    assert (
        side2["columnStatistics"]["id"]["ndv"]
        == side1["columnStatistics"]["id"]["ndv"]
    )
    # SHOW STATS serves the merged NDV
    got = {
        r.column_name: r.distinct_values_count
        for r in eng.sql(f"SHOW STATS FOR delta.'{t}'").collect()
        if r.column_name
    }
    assert got["id"] == pytest.approx(200, rel=0.06)
    # destructive write drops the sidecar -> live stats again
    delta_delete_where(spark, t, "id >= 100")
    assert not os.path.exists(f)
    got = {
        r.column_name: r.distinct_values_count
        for r in eng.sql(f"SHOW STATS FOR delta.'{t}'").collect()
        if r.column_name
    }
    assert got["id"] == pytest.approx(100, rel=0.06)


def test_iceberg_analyze_puffin_stats(spark, tmp_path):
    """r14: ANALYZE iceberg.'<path>' (reference trino-iceberg
    TableStatisticsWriter): writes a Puffin statistics file whose
    theta-sketch blobs carry per-column 'ndv' properties, registers
    it in metadata.statistics keyed by the analyzed snapshot, SHOW
    STATS serves those NDVs over live computation, a NEW snapshot
    makes them inapplicable (stats are per-snapshot), and CALL
    system.drop_extended_stats removes entries + files. The Puffin
    envelope and sketches are validated by the format readers."""
    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.iceberg_meta import (
        _current_metadata,
        iceberg_ndv_stats,
        write_iceberg,
    )
    from witdb_spark.sources.puffin import (
        read_puffin,
        read_puffin_blob,
        read_theta_sketch,
    )

    eng = Engine(spark)
    t = str(tmp_path / "ice_puffin")
    write_iceberg(
        spark,
        spark.range(0, 300).selectExpr(
            "id", "CAST(id % 9 AS STRING) AS s"
        ),
        t,
        mode="create",
    )
    row = eng.sql(f"ANALYZE iceberg.'{t}'").collect()[0]
    assert row.analyzed_columns == 2 and row.row_count == 300.0
    meta = _current_metadata(t)
    stats = meta.get("statistics")
    assert stats and stats[0]["snapshot-id"] == meta[
        "current-snapshot-id"
    ]
    # the Puffin file parses, and each blob is a valid theta sketch
    metas, props, _ = read_puffin(stats[0]["statistics-path"])
    assert {m["type"] for m in metas} == {
        "apache-datasketches-theta-v1"
    }
    for m in metas:
        hashes, theta = read_theta_sketch(
            read_puffin_blob(stats[0]["statistics-path"], m)
        )
        assert all(h < theta for h in hashes)
    ndv = iceberg_ndv_stats(t)
    assert ndv["id"]["ndv"] == 300.0 and ndv["s"]["ndv"] == 9.0
    got = {
        r.column_name: r.distinct_values_count
        for r in eng.sql(f"SHOW STATS FOR iceberg.'{t}'").collect()
        if r.column_name
    }
    assert got["id"] == 300.0 and got["s"] == 9.0
    # a new snapshot is NOT covered by the old statistics entry
    write_iceberg(
        spark,
        spark.range(300, 400).selectExpr(
            "id", "CAST(id AS STRING) AS s"
        ),
        t,
        mode="append",
    )
    assert iceberg_ndv_stats(t) is None
    got = {
        r.column_name: r.distinct_values_count
        for r in eng.sql(f"SHOW STATS FOR iceberg.'{t}'").collect()
        if r.column_name
    }
    assert got["id"] == pytest.approx(400, rel=0.06)  # live again
    # re-analyze covers the new snapshot; drop removes everything
    eng.sql(f"ANALYZE iceberg.'{t}'")
    assert iceberg_ndv_stats(t)["id"]["ndv"] == 400.0
    import glob as _glob
    import os as _os

    row = eng.sql(
        f"CALL system.drop_extended_stats('{t}')"
    ).collect()[0]
    assert row.dropped
    assert not _current_metadata(t).get("statistics")
    assert not _glob.glob(_os.path.join(t, "metadata", "*.stats"))
    assert not eng.sql(
        f"CALL system.drop_extended_stats('{t}')"
    ).collect()[0].dropped


def test_iceberg_analyze_estimation_mode(spark, tmp_path):
    """r14: above k=4096 distinct values the theta sketch enters
    estimation mode (KMV boundary) — the served NDV stays within the
    sketch's error bounds instead of clamping at k."""
    import pytest

    from witdb_spark.engine import Engine
    from witdb_spark.sources.iceberg_meta import (
        iceberg_ndv_stats,
        write_iceberg,
    )

    t = str(tmp_path / "ice_puffin_est")
    write_iceberg(
        spark, spark.range(0, 30000).selectExpr("id"), t, mode="create"
    )
    Engine(spark).sql(f"ANALYZE iceberg.'{t}'")
    assert iceberg_ndv_stats(t)["id"]["ndv"] == pytest.approx(
        30000, rel=0.05
    )


def test_show_create_table_lakehouse(spark, tmp_path):
    """r14: SHOW CREATE TABLE fmt.'<path>' renders Trino's layout —
    columns in Trino type spellings plus the connector's WITH(...)
    properties (partitioning, table configuration, location) — for
    all three lakehouse formats."""
    from witdb_spark.engine import Engine
    from witdb_spark.sources.delta_log import write_delta
    from witdb_spark.sources.hudi_meta import write_hudi_mor_create
    from witdb_spark.sources.iceberg_meta import write_iceberg

    eng = Engine(spark)
    d = str(tmp_path / "sc_delta")
    write_delta(
        spark,
        spark.range(5).selectExpr(
            "id", "CAST(id AS STRING) AS s", "id % 2 AS p"
        ),
        d,
        mode="create",
        partition_by=["p"],
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    ddl = eng.sql(f"SHOW CREATE TABLE delta.'{d}'").collect()[0][0]
    assert "id bigint" in ddl and "s varchar" in ddl
    assert "partitioned_by = ARRAY['p']" in ddl
    assert "delta.enableChangeDataFeed = 'true'" in ddl
    assert f"location = '{d}'" in ddl

    i = str(tmp_path / "sc_ice")
    write_iceberg(
        spark,
        spark.range(5).selectExpr("id", "id % 2 AS p"),
        i,
        mode="create",
        partition_by=["p"],
    )
    ddl = eng.sql(f"SHOW CREATE TABLE iceberg.'{i}'").collect()[0][0]
    assert "partitioning = ARRAY['p']" in ddl
    assert "format_version = 2" in ddl

    h = str(tmp_path / "sc_hudi")
    write_hudi_mor_create(
        spark, spark.range(5).selectExpr("id"), h, record_key="id"
    )
    ddl = eng.sql(f"SHOW CREATE TABLE hudi.'{h}'").collect()[0][0]
    assert "hoodie.table.type = 'MERGE_ON_READ'" in ddl
    assert "hoodie.table.recordkey.fields = 'id'" in ddl



def test_local_frame_matches_create_dataframe(spark):
    """frames.local_frame: same names, types, nullability and rows as
    ``createDataFrame(rows, ddl)``, for empty input and NULL cells too,
    planned as a LocalTableScan. Cells that a SQL VALUES literal would
    mangle (quotes, backslashes, NaN) arrive intact."""
    import datetime
    import decimal
    import math

    from witdb_spark.frames import NO_COLUMNS, local_frame

    ddl = (
        "s string, i int, b bigint, d double, f boolean,"
        " m decimal(12,2), dt date, `Odd Name` string"
    )
    rows = [
        ("a'b\\c", 1, 2**40, 0.5, True, decimal.Decimal("1.25"),
         datetime.date(1995, 3, 1), ""),
        (None, None, None, None, None, None, None, None),
    ]
    for data in (rows, []):
        got = local_frame(spark, data, ddl)
        want = spark.createDataFrame(data, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), plan
    (nan,) = local_frame(spark, [(float("nan"),)], "d double").collect()
    assert math.isnan(nan.d)
    assert local_frame(spark, rows, ddl).collect()[0].s == "a'b\\c"
    empty = local_frame(spark, [], NO_COLUMNS)
    assert empty.schema == spark.range(0).select().schema
    assert empty.collect() == []
    with pytest.raises(ValueError, match="cells"):
        local_frame(spark, [("only one",)], "a string, b string")

def test_statement_results_start_no_job(spark, tmp_path):
    """Every driver-built statement result — the DML/CTAS/INSERT
    summaries on Delta and Iceberg, DESCRIBE/SHOW and a $-metadata
    table — is a LocalTableScan: collecting it adds no Spark job, and
    its schema and rows equal what ``createDataFrame(rows, ddl)`` (the
    builder it replaces) returns for the same rows."""
    import os

    sf0001 = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    eng = Engine(spark, sf_dir=sf0001)
    tracker = spark.sparkContext.statusTracker()
    spark.createDataFrame(
        [(1, "1-URGENT"), (7, "9-NEW")], "k bigint, prio string"
    ).createOrReplaceTempView("zj_src")

    def check(text, ddl, rows=None):
        df = eng.sql(text)  # the statement itself runs here
        before = set(tracker.getJobIdsForGroup())
        got = df.collect()
        assert set(tracker.getJobIdsForGroup()) == before, text
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), (text, plan)
        want = spark.createDataFrame(
            [tuple(r) for r in got] if rows is None else rows, ddl
        )
        assert df.schema == want.schema, text
        assert got == want.collect(), text
        return got

    keys = {
        r[0] for r in eng.sql(
            "SELECT o_orderkey FROM orders WHERE o_orderkey < 40"
        ).collect()
    }
    summary = "path string, result string"
    for fmt in ("delta", "iceberg"):
        t = str(tmp_path / f"zj_{fmt}")
        ref = f"{fmt}.'{t}'"
        check(
            f"CREATE TABLE {ref} AS SELECT o_orderkey AS k,"
            " o_orderpriority AS prio FROM orders WHERE o_orderkey < 40",
            "path string, rows bigint", [(t, len(keys))],
        )
        check(
            f"INSERT INTO {ref} SELECT k + 1000, prio FROM zj_src",
            "path string, rows bigint", [(t, 2)],
        )
        for text in (
            f"UPDATE {ref} SET prio = 'X' WHERE k = 1",
            f"DELETE FROM {ref} WHERE k > 1000",
            f"MERGE INTO {ref} t USING zj_src s ON t.k = s.k"
            " WHEN MATCHED THEN UPDATE SET prio = s.prio"
            " WHEN NOT MATCHED THEN INSERT (k, prio) VALUES (s.k, s.prio)",
        ):
            (row,) = check(text, summary)
            assert row.path == t, text
        got = {r.k for r in eng.sql(f"SELECT k FROM {ref}").collect()}
        assert got == keys | {7}, fmt
    check(
        "DESCRIBE orders",
        "Column string, Type string, Extra string, Comment string",
        [
            (f.name, f.dataType.simpleString(), "", "")
            for f in spark.table("orders").schema.fields
        ],
    )
    assert ("orders",) in check("SHOW TABLES", "Table string")
    check(
        f"SELECT * FROM iceberg.'{tmp_path / 'zj_iceberg'}$properties'",
        "key string, value string",
    )
