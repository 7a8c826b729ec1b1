"""Trino edge-semantics parity (SURVEY.md §7 'genuinely hard' list):
1-based subscripts, element_at negatives, try_cast, decimal rounding,
interval literals, FETCH FIRST, quoted identifiers, dialect renames."""

from __future__ import annotations

import pytest

from witdb_spark.engine import Engine
from witdb_spark.plans.dialect import UnsupportedTrinoSyntax, transpile


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


def one(engine, expr):
    return engine.sql(f"SELECT {expr} AS v").collect()[0].v


def test_array_subscript_one_based(engine):
    assert one(engine, "(ARRAY['a','b','c'])[1]") == "a"
    assert one(engine, "(ARRAY['a','b','c'])[3]") == "c"


def test_map_subscript_by_key(engine):
    assert one(engine, "(MAP(ARRAY['k','j'], ARRAY[7, 8]))['j']") == 8


def test_element_at_negative(engine):
    assert one(engine, "element_at(ARRAY[1, 2, 3], -1)") == 3
    assert one(engine, "element_at(ARRAY[1, 2, 3], 9)") is None


def test_try_cast(engine):
    assert one(engine, "try_cast('abc' AS INTEGER)") is None
    assert one(engine, "try_cast('42' AS INTEGER)") == 42


def test_decimal_half_up_rounding(engine):
    # Trino decimal casts round HALF_UP (reference DecimalType/Int128 ops);
    # Spark matches.
    assert str(one(engine, "CAST(2.5 AS DECIMAL(10,0))")) == "3"
    assert str(one(engine, "CAST(-2.5 AS DECIMAL(10,0))")) == "-3"
    assert str(one(engine, "CAST(1.005 AS DECIMAL(10,2))")) == "1.01"


def test_decimal_38_precision(engine):
    big = "12345678901234567890123456789012345678"
    assert str(one(engine, f"CAST('{big}' AS DECIMAL(38,0))")) == big


def test_interval_literal(engine):
    got = one(
        engine,
        "date_format(TIMESTAMP '1997-03-15 00:00:00' + INTERVAL '3' DAY,"
        " 'yyyy-MM-dd')",
    )
    assert got == "1997-03-18"


def test_fetch_first(engine):
    rows = engine.sql(
        "SELECT x FROM (VALUES 3, 1, 2) AS t(x) ORDER BY x FETCH FIRST 2 ROWS ONLY"
    ).collect()
    assert [r.x for r in rows] == [1, 2]


def test_quoted_identifiers(engine):
    rows = engine.sql('SELECT "the col" FROM (VALUES 1) AS t("the col")').collect()
    assert rows[0][0] == 1


def test_dialect_renames():
    assert "timestamp_seconds(" in transpile("SELECT from_unixtime(0)")
    assert "approx_count_distinct(" in transpile("SELECT approx_distinct(x) FROM t")
    assert "any_value(" in transpile("SELECT arbitrary(x) FROM t")
    assert "bit_count(x)" in transpile("SELECT bit_count(x, 64) FROM t")


def test_try_decomposition(engine):
    assert one(engine, "TRY(1/0)") is None
    assert one(engine, "TRY(CAST('abc' AS INTEGER))") is None
    assert one(engine, "TRY(element_at(ARRAY[1], 5))") is None
    assert one(engine, "TRY(2 + 3)") == 5
    with pytest.raises(UnsupportedTrinoSyntax):
        transpile("SELECT TRY(upper(x)) FROM t")


def test_mysql_date_format(engine):
    got = one(
        engine, "date_format(TIMESTAMP '2001-02-03 04:05:06', '%Y-%m-%d %H:%i:%s')"
    )
    assert got == "2001-02-03 04:05:06"


def test_empty_map_constructor(engine):
    """ADVICE r1: bare MAP() must stay the empty-map constructor — the
    MAP(keys, values) rewrite must not re-mangle it into a 0-arg
    map_from_arrays."""
    assert one(engine, "cardinality(MAP())") == 0


def test_cast_as_map_type(engine):
    """CAST(x AS MAP(K,V)) is Trino TYPE syntax, not the constructor —
    transpiles to Spark's MAP<K,V>."""
    got = one(engine, "CAST(MAP(ARRAY['a'], ARRAY[1]) AS MAP(VARCHAR, BIGINT))['a']")
    assert got == 1


def test_format_datetime_zz_zero_offset(engine):
    """Joda 'ZZ' prints '+00:00' at zero offset (java.time 'XXX' would print
    the literal 'Z'); quoted pattern literals must not be translated."""
    assert one(
        engine,
        "format_datetime(TIMESTAMP '2020-01-02 03:04:05', 'yyyy-MM-dd ZZ')",
    ) == "2020-01-02 +00:00"
    assert one(
        engine,
        "format_datetime(TIMESTAMP '2020-01-02 03:04:05', \"yyyy 'Z of Y'\")",
    ) == "2020 Z of Y"


def test_date_format_nested_first_arg(engine):
    """The MySQL-pattern reroute must parse the first argument paren-aware:
    nested calls with commas used to defeat the regex and fall through to
    java.time parsing of the %-pattern."""
    got = one(
        engine,
        "date_format(trino_date_add('day', 1, TIMESTAMP '2001-02-03 04:05:06'),"
        " '%Y-%m-%d %H:%i:%s')",
    )
    assert got == "2001-02-04 04:05:06"


def test_hamming_distance_unequal_raises(engine):
    assert one(engine, "hamming_distance('cat', 'car')") == 1
    with pytest.raises(Exception, match="same length"):
        one(engine, "hamming_distance('cat', 'cars')")


def test_try_recursive_decomposition(spark):
    """reference TryFunction.java: any error inside TRY -> NULL; nested
    arithmetic and casts decompose recursively."""
    from witdb_spark.functions import register_all
    from witdb_spark.plans import transpile

    register_all(spark)
    r = spark.sql(
        transpile(
            "SELECT TRY(1 / 0 + 5) AS a, TRY(CAST('x' AS INT) * 2) AS b, "
            "TRY(10 / 2 + 1) AS c, TRY(CAST(9 / 3 AS INT)) AS d"
        )
    ).collect()[0]
    assert r.a is None and r.b is None
    assert r.c == 6.0 and r.d == 3


def test_listagg_within_group(engine):
    rows = engine.sql(
        "SELECT g, LISTAGG(s, '|') WITHIN GROUP (ORDER BY k) AS agg "
        "FROM (VALUES (1, 3, 'c'), (1, 1, 'a'), (1, 2, 'b'), (2, 1, 'z'))"
        " AS t(g, k, s) GROUP BY g ORDER BY g"
    ).collect()
    assert [(r.g, r.agg) for r in rows] == [(1, "a|b|c"), (2, "z")]
    rows = engine.sql(
        "SELECT LISTAGG(s) WITHIN GROUP (ORDER BY k DESC) AS agg "
        "FROM (VALUES (1, 'a'), (2, 'b')) AS t(k, s)"
    ).collect()
    assert rows[0].agg == "ba"  # SQL:2016 default separator is ''
    import pytest as _pytest

    from witdb_spark.plans.dialect import UnsupportedTrinoSyntax

    with _pytest.raises(UnsupportedTrinoSyntax):
        engine.sql(
            "SELECT LISTAGG(s ON OVERFLOW TRUNCATE) WITHIN GROUP (ORDER BY s)"
            " FROM (VALUES 'a') AS t(s)"
        )


def test_tablesample_bernoulli(engine, spark):
    spark.range(1000).createOrReplaceTempView("ts_t")
    n = engine.sql(
        "SELECT count(*) AS n FROM ts_t TABLESAMPLE BERNOULLI(20)"
    ).collect()[0].n
    assert 50 < n < 500  # ~200 expected; loose bounds (engine RNG)


def test_unicode_and_typed_literals(spark):
    """r4 dialect additions: U&'' unicode literals (incl. UESCAPE and
    6-digit escapes), typed literals (DECIMAL keeps the literal's own
    precision/scale), ISO EXTRACT fields, and CAST(json_parse AS complex)
    lowering to from_json. References: grammar SqlBase.g4 UNICODE_STRING
    / primaryExpression typed literal; DateTimeFunctions ISO dow/yow;
    JSON-to-SQL cast operators."""
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    q = lambda s: eng.sql(s).collect()[0][0]  # noqa: E731
    assert q("SELECT U&'caf\\00E9'") == "café"
    assert q("SELECT U&'d!0061ta' UESCAPE '!'") == "data"
    assert q("SELECT U&'\\+01F600'") == "\U0001F600"
    df = eng.sql("SELECT DECIMAL '1.50'")
    assert str(df.schema[0].dataType) == "DecimalType(3,2)"
    assert q("SELECT BIGINT '42'") == 42
    assert q("SELECT VARCHAR 'hi'") == "hi"
    # literal text containing a typed-literal shape is untouched
    assert q("SELECT 'not DECIMAL ''1.5'' here'") == "not DECIMAL '1.5' here"
    # ISO day-of-week (Monday=1) and year-of-week
    assert q("SELECT EXTRACT(DOW FROM DATE '2020-01-06')") == 1
    assert q("SELECT EXTRACT(DAY_OF_WEEK FROM DATE '2020-01-05')") == 7
    assert q("SELECT EXTRACT(YOW FROM DATE '2021-01-01')") == 2020
    assert q("SELECT EXTRACT(DAY_OF_MONTH FROM DATE '2020-01-06')") == 6
    # JSON casts
    assert q("SELECT CAST(json_parse('[1,2,3]') AS ARRAY(INTEGER))") == [1, 2, 3]
    assert q(
        "SELECT CAST(json_parse('{\"a\": 1}') AS MAP(VARCHAR, INTEGER))"
    ) == {"a": 1}


def test_review_fix_regressions(spark):
    """r4 code-review fixes: unicode quote/surrogate escapes, EXTRACT
    rewrites skipping string literals, bar width 1, null labels in the
    classifier report, nav measures under duplicate order keys."""
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    q = lambda s: eng.sql(s).collect()[0][0]  # noqa: E731
    assert q("SELECT U&'\\0027'") == "'"
    assert q("SELECT U&'it\\0027s'") == "it's"
    assert q("SELECT U&'\\D83D\\DE00'") == "\U0001F600"
    assert (
        q("SELECT 'keep EXTRACT(DAY_OF_MONTH FROM x) text'")
        == "keep EXTRACT(DAY_OF_MONTH FROM x) text"
    )
    assert q("SELECT length(bar(1.0, 1))") > 0
    from witdb_spark.pipeline.ml import evaluate_classifier_predictions

    ev = evaluate_classifier_predictions(
        spark.createDataFrame([(1, 1), (None, 1), (0, 0)], "t int, p int"),
        "t",
        "p",
    ).collect()[0]["report"]
    assert ev.startswith("Accuracy: 2/2")
    # PREV/NEXT measures + duplicate ORDER BY values: counts must not
    # fan out through the row-number attachment
    spark.createDataFrame(
        [(1, 1, 10.0), (1, 1, 11.0), (1, 2, 12.0), (1, 3, 9.0)],
        ["k", "ts", "price"],
    ).createOrReplaceTempView("dupord")
    out = eng.sql(
        """
        SELECT n FROM dupord MATCH_RECOGNIZE (
          PARTITION BY k ORDER BY ts
          MEASURES count(*) AS n, PREV(FIRST(price)) AS pn
          ONE ROW PER MATCH PATTERN (A B+)
          DEFINE B AS price > PREV(price))
        """
    ).collect()
    assert sum(r["n"] for r in out) <= 4


def test_unicode_literal_quote_escape(spark):
    """r5 review fix: the SQL '' quote escape INSIDE a U&'...' body is one
    quote character (previously doubled into two on emit)."""
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    q = lambda s: eng.sql(s).collect()[0][0]  # noqa: E731
    assert q("SELECT U&'it''s'") == "it's"
    assert q("SELECT U&'a''''b'") == "a''b"
    assert q("SELECT U&'caf\\00E9''s'") == "café's"
    assert q("SELECT U&'x''y' UESCAPE '!'") == "x'y"


def test_map_shaped_aggregate_rewrites(spark):
    """r5: histogram / multimap_agg / map_union as transpile-time
    rewrites (reference Histogram.java, MultimapAggregation,
    MapUnionAggregation) — one collect_list buffer + post-aggregation
    lambda projection, no Python."""
    from witdb_spark.engine import Engine

    eng = Engine(spark)
    spark.range(12).selectExpr(
        "id % 2 AS g", "CAST(id % 3 AS STRING) AS v", "id AS n"
    ).createOrReplaceTempView("maprw_t")
    h = {
        r.g: dict(sorted(r.h.items()))
        for r in eng.sql(
            "SELECT g, histogram(v) AS h FROM maprw_t GROUP BY g"
        ).collect()
    }
    assert h == {0: {"0": 2, "1": 2, "2": 2}, 1: {"0": 2, "1": 2, "2": 2}}
    mm = {
        r.g: {k: sorted(vv) for k, vv in r.mm.items()}
        for r in eng.sql(
            "SELECT g, multimap_agg(v, n) AS mm FROM maprw_t GROUP BY g"
        ).collect()
    }
    assert mm[0]["0"] == [0, 6] and mm[1]["2"] == [5, 11]
    spark.sql(
        "SELECT 1 AS g, map('a', 1) AS m UNION ALL SELECT 1, map('b', 2)"
        " UNION ALL SELECT 2, map('a', 9)"
    ).createOrReplaceTempView("mapun_t")
    u = {
        r.g: dict(sorted(r.u.items()))
        for r in eng.sql(
            "SELECT g, map_union(m) AS u FROM mapun_t GROUP BY g"
        ).collect()
    }
    assert u == {1: {"a": 1, "b": 2}, 2: {"a": 9}}


# ---------------------------------------------------------------------------
# r16: declared catalog constraints backing the transpiler's eager-agg and
# decimal-narrowing rewrites. These gates make the declarations LOAD-BEARING:
# a fixture violating them fails the suite before a wrong plan can ship.
# ---------------------------------------------------------------------------

_FIXTURE_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def test_declared_unique_columns_hold():
    """catalog.UNIQUE_COLUMNS: every declared column is UNIQUE and NOT
    NULL in every fixture directory (the eager-agg rewrite's 1:1-join
    and key<->attribute-bijection arguments depend on exactly this)."""
    import os

    import duckdb

    from witdb_spark.catalog import UNIQUE_COLUMNS

    con = duckdb.connect()
    for d in _FIXTURE_DIRS:
        for table, cols in UNIQUE_COLUMNS.items():
            path = os.path.join(d, f"{table}.parquet")
            for c in sorted(cols):
                n, nd, nn = con.execute(
                    f"SELECT COUNT(*), COUNT(DISTINCT {c}),"
                    f" COUNT(*) FILTER (WHERE {c} IS NULL)"
                    f" FROM '{path}'"
                ).fetchone()
                assert n == nd and nn == 0, (d, table, c, n, nd, nn)


def test_declared_column_bounds_hold():
    """catalog.COLUMN_ABS_BOUNDS: every declared |value| bound holds with
    margin in every fixture directory (the decimal-narrowing rewrite's
    interval arithmetic depends on these)."""
    import os

    import duckdb

    from witdb_spark.catalog import COLUMN_ABS_BOUNDS, TABLE_COLUMNS

    con = duckdb.connect()
    owner = {
        c: t for t, cs in TABLE_COLUMNS.items() for c in cs if t != "events"
    }
    for d in _FIXTURE_DIRS:
        for col, bound in COLUMN_ABS_BOUNDS.items():
            t = owner.get(col, "events")
            path = os.path.join(d, f"{t}.parquet")
            expr = "value" if col == "value" else col
            mx = con.execute(
                f"SELECT MAX(ABS({expr})) FROM '{path}'"
            ).fetchone()[0]
            assert mx is not None and float(mx) <= bound, (d, col, mx, bound)


def test_sum_decimal_narrowing_rewrite():
    """r16: SUM(CAST(e AS DECIMAL(30,6))) narrows to a per-row
    DECIMAL(18,6) cast (compact-long representation) wrapped back to
    SUM's original result type — fires only when the declared bounds
    prove |e| <= 1e8, so value AND type are bit-identical."""
    from witdb_spark.plans.dialect import (
        _expr_abs_bound,
        _rewrite_sum_decimal_narrowing,
    )

    out = _rewrite_sum_decimal_narrowing(
        "SELECT SUM(CAST(l_extendedprice * (1 - l_discount)"
        " AS DECIMAL(30,6))) AS s FROM lineitem"
    )
    assert "DECIMAL(18,6)" in out and "AS DECIMAL(38,6))" in out
    # unknown column -> unbounded -> untouched
    q = "SELECT SUM(CAST(mystery AS DECIMAL(30,6))) AS s FROM t"
    assert _rewrite_sum_decimal_narrowing(q) == q
    # division -> unbounded -> untouched
    q2 = "SELECT SUM(CAST(l_extendedprice / l_quantity AS DECIMAL(30,6))) AS s FROM t"
    assert _rewrite_sum_decimal_narrowing(q2) == q2
    # bound arithmetic sanity
    assert _expr_abs_bound("l_quantity * p_retailprice") == 1e3 * 1e5
    assert _expr_abs_bound(
        "CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END"
    ) == 1e6
    assert _expr_abs_bound("unknown + 1") == float("inf")


def test_eager_dim_agg_rewrite_guards(oracle):
    """r16: the eager-aggregation rewrite (plans/eager_agg.py) — exact on
    the q64 cross_sales shape (verified against DuckDB here), and
    correctly refuses shapes where lifting would change results."""
    import pandas as pd

    from witdb_spark.plans.eager_agg import rewrite_eager_dim_agg
    from witdb_spark.queries import QUERIES

    text = QUERIES["tpcds_sql_q64"].oracle
    rewritten = rewrite_eager_dim_agg(text, force=True)
    assert "__ea_pre" in rewritten
    a = oracle.execute(text).fetchdf()
    b = oracle.execute(rewritten).fetchdf()
    assert list(a.columns) == list(b.columns)
    sa = a.sort_values(by=list(a.columns), kind="mergesort").reset_index(drop=True)
    sb = b.sort_values(by=list(a.columns), kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(sa, sb)
    # p_brand is NOT declared unique and p_partkey is not in the keys:
    # grouping by l_partkey would be finer than by p_brand -> no lift
    nolift = rewrite_eager_dim_agg(
        "SELECT p_brand, SUM(CAST(l_quantity AS DECIMAL(30,6))) AS s"
        " FROM lineitem JOIN part ON p_partkey = l_partkey"
        " GROUP BY p_brand",
        force=True,
    )
    assert "__ea_pre" not in nolift
    # l_orderkey is not unique in lineitem: joining it post-agg would
    # drop the fan-out multiplicity COUNT(*) counts -> no lift
    nolift2 = rewrite_eager_dim_agg(
        "SELECT o_orderpriority, COUNT(*) AS c"
        " FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
        " GROUP BY o_orderpriority",
        force=True,
    )
    assert "__ea_pre" not in nolift2
    # outer joins / HAVING / DISTINCT make a block ineligible
    for q in (
        "SELECT s_name, SUM(CAST(l_quantity AS DECIMAL(30,6))) AS s"
        " FROM lineitem LEFT JOIN supplier ON s_suppkey = l_suppkey"
        " GROUP BY s_name",
        "SELECT s_name, SUM(CAST(l_quantity AS DECIMAL(30,6))) AS s"
        " FROM lineitem JOIN supplier ON s_suppkey = l_suppkey"
        " GROUP BY s_name HAVING COUNT(*) > 1",
        "SELECT DISTINCT s_name, SUM(CAST(l_quantity AS DECIMAL(30,6))) AS s"
        " FROM lineitem JOIN supplier ON s_suppkey = l_suppkey"
        " GROUP BY s_name",
    ):
        assert "__ea_pre" not in rewrite_eager_dim_agg(q, force=True), q


def test_tables_dataframe_memoized(spark):
    """r16: Tables hands out the same lazy DataFrame per (session,
    sf_dir, table) — plan/metadata reuse only; a different sf_dir gets
    a different frame."""
    from witdb_spark.catalog import Tables

    t1 = Tables(spark, "/root/testdata/sf0.01")
    assert t1.lineitem is t1.lineitem
    t2 = Tables(spark, "/root/testdata/sf0.001")
    assert t2.lineitem is not t1.lineitem


def test_cte_selfjoin_narrowing(oracle):
    """r16: the q64-shape composition — narrow surrogate-key CTE,
    self-join key rewritten att=att -> key=key under declared
    uniqueness, attributes re-attached on the final joined output.
    Value-identical vs DuckDB; refuses consumers it cannot re-point."""
    from witdb_spark.plans.eager_agg import rewrite_cte_selfjoin_narrow
    from witdb_spark.queries import QUERIES

    text = QUERIES["tpcds_sql_q64"].oracle
    r = rewrite_cte_selfjoin_narrow(text, force=True)
    assert "__ea_pre" in r and "__ea_a1" in r
    # the CTE no longer exposes the dimension strings; the consumer
    # reads them through the re-attach joins
    assert " s_name AS store_name" not in r  # not exposed by the CTE
    assert ".s_name AS store_name" in r  # re-attached via the dim join
    a = oracle.execute(text).fetchdf()
    b = oracle.execute(r).fetchdf()
    assert list(a.columns) == list(b.columns)
    sa = a.sort_values(by=list(a.columns), kind="mergesort").reset_index(drop=True)
    sb = b.sort_values(by=list(a.columns), kind="mergesort").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(sa, sb)
    # a consumer that filters on a dropped attribute cannot be re-pointed
    bad = text.replace(
        "WHERE cs1.syear = 1996",
        "WHERE cs1.store_name > 'A' AND cs1.syear = 1996",
    )
    assert rewrite_cte_selfjoin_narrow(bad, force=True) == bad
    # an unaliased instance cannot be re-pointed either
    bad2 = text.replace("cross_sales cs1 JOIN", "cross_sales JOIN")
    assert rewrite_cte_selfjoin_narrow(bad2, force=True) == bad2



def test_cte_narrowing_bails_on_star_consumer(oracle):
    """A select-list `*` or `alias.*` over the narrowed CTE would expand
    to the narrowed column set (dropped attributes gone, hidden
    __ea_a{i} anchors added), so the rewrite must not fire. count(*)
    and multiplication in the consumer are not star items: the rewrite
    still fires there, value-identical vs DuckDB."""
    from witdb_spark.plans.eager_agg import rewrite_cte_selfjoin_narrow
    from witdb_spark.queries import QUERIES

    text = QUERIES["tpcds_sql_q64"].oracle
    head = "SELECT cs1.product_name, cs1.store_name,"
    assert text.count(head) == 1
    for star in ("SELECT cs1.*, cs1.product_name, cs1.store_name,",
                 "SELECT *, cs1.product_name, cs1.store_name,",
                 "SELECT DISTINCT *, cs1.product_name, cs1.store_name,"):
        starred = text.replace(head, star)
        assert rewrite_cte_selfjoin_narrow(starred, force=True) == starred
    # an alias.* inside a string literal is no star item
    lit = text.replace(head, "SELECT 'cs1.*' AS tag, " + head[len("SELECT "):])
    assert "__ea_pre" in rewrite_cte_selfjoin_narrow(lit, force=True)
    prod = text.replace(
        "cs1.cnt AS cnt1,",
        "cs1.cnt * 2 AS cnt1, (SELECT count(*) FROM region) AS nreg,",
    )
    r = rewrite_cte_selfjoin_narrow(prod, force=True)
    assert "__ea_pre" in r
    a = oracle.execute(prod).fetchdf()
    b = oracle.execute(r).fetchdf()
    assert list(a.columns) == list(b.columns)
    import pandas as pd

    pd.testing.assert_frame_equal(
        a.sort_values(by=list(a.columns), kind="mergesort").reset_index(drop=True),
        b.sort_values(by=list(a.columns), kind="mergesort").reset_index(drop=True),
    )


def test_year_month_collapse_respects_not():
    """The year+month collapse replaces ``year(c) = Y AND month(c) = M``
    as a unit, so it may fire only where the text parses as that one
    conjunction. ``NOT year(c) = Y AND month(c) = M`` is
    ``(NOT year(c) = Y) AND month(c) = M``: collapsing it negated the
    whole March-1995 range (14,814 rows instead of 1,178 on sf0.01
    orders). Differential: original vs rewritten text in DuckDB."""
    import os

    import duckdb

    from tests.conftest import SF_DIR
    from witdb_spark.plans.dialect import _rewrite_year_month_ranges

    orders = os.path.join(os.path.dirname(SF_DIR), "sf0.01", "orders.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{orders}'")

    def rows(sql):
        sql = sql.replace("TIMESTAMP_NTZ '", "TIMESTAMP '")
        return sorted(con.execute(sql).fetchall())

    ym = "year(o_orderdate) = 1995 AND month(o_orderdate) = 3"
    cases = {
        f"NOT {ym}": False,
        "1 + year(o_orderdate) = 1996 AND month(o_orderdate) = 3": False,
        f"year(o_orderdate) = 1995 AND month(o_orderdate) = 3 * 4": False,
        ym: True,
        f"NOT ({ym})": True,
        f"o_orderkey < 100 OR {ym}": True,
        f"o_orderkey > 100 AND {ym} AND o_custkey > 0": True,
    }
    for pred, fires in cases.items():
        text = f"SELECT o_orderkey FROM orders WHERE {pred}"
        out = _rewrite_year_month_ranges(text)
        assert (out != text) == fires, pred
        assert rows(out) == rows(text), pred
    not_text = f"SELECT o_orderkey FROM orders WHERE NOT {ym}"
    assert len(rows(not_text)) == 1178
    con.close()


def test_decimal_typed_cols_deep_chain():
    """The greatest fixpoint over ``AS name`` definitions converges for
    any chain depth: a non-decimal root (a physical double column)
    reaches the END of a 9-deep CTE chain. A fixed 6-pass cap stopped
    early and still called c6..c8 decimal."""
    from witdb_spark.plans.dialect import _decimal_typed_cols

    depth = 9
    ctes = ["t0 AS (SELECT l_quantity AS c0 FROM lineitem)"] + [
        f"t{i} AS (SELECT c{i - 1} AS c{i} FROM t{i - 1})"
        for i in range(1, depth)
    ]
    text = f"WITH {', '.join(ctes)} SELECT SUM(c{depth - 1}) AS s FROM t{depth - 1}"
    assert _decimal_typed_cols(text) == frozenset()
    # the same chain rooted in a decimal CAST is decimal all the way
    dec_root = text.replace(
        "l_quantity AS c0", "CAST(l_quantity AS DECIMAL(18,6)) AS c0"
    )
    assert {f"c{i}" for i in range(depth)} <= _decimal_typed_cols(dec_root)


def test_footer_schema_matches_inference(spark):
    """catalog.Tables reads each fixture with the schema its parquet
    footer declares (no schema-inference job); that schema must equal
    what ``spark.read.parquet`` infers, for every table in every
    fixture directory."""
    import os

    from tests.conftest import SF_DIR
    from witdb_spark.catalog import TABLE_NAMES, Tables, footer_schema

    dirs = [
        os.path.join(os.path.dirname(SF_DIR), f"sf{sf}")
        for sf in ("0.001", "0.01", "0.1")
    ]
    # events' nanos column maps through the session conf _read_events sets
    Tables(spark, dirs[0]).events
    for d in dirs:
        for t in TABLE_NAMES:
            p = os.path.join(d, f"{t}.parquet")
            assert footer_schema(spark, p) == spark.read.parquet(p).schema, p

def test_sum_narrowing_skips_window_calls():
    """A windowed SUM cannot carry the type-restoring CAST wrap (OVER
    must attach to the aggregate call) — the narrowing must leave
    ``SUM(CAST(...)) OVER (...)`` byte-identical."""
    from witdb_spark.plans.dialect import _rewrite_sum_decimal_narrowing

    q = (
        "SELECT SUM(CAST(l_extendedprice AS DECIMAL(30,6)))"
        " OVER (PARTITION BY l_suppkey) AS s FROM lineitem"
    )
    assert _rewrite_sum_decimal_narrowing(q) == q
    qf = (
        "SELECT SUM(CAST(l_extendedprice AS DECIMAL(30,6)))"
        " FILTER (WHERE l_quantity > 5) AS s FROM lineitem"
    )
    assert _rewrite_sum_decimal_narrowing(qf) == qf
