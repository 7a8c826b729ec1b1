"""The workloads: their op lists, the seeded inputs, and the checks.

An op is one user-visible call: a registered query function followed by
``.collect()``, or one Trino SQL statement through ``Engine.sql``. The
program only ever sees the ops a workload generates from its seed.

``read_mix`` runs a fixed op set in a seeded order per pass; their outputs are checked against the registry's DuckDB
oracle with the repository's exact comparator. ``lakehouse_rw`` generates
seeded write cycles over Delta and Iceberg path tables; DuckDB replays the
same statement list and every read is compared exactly.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import duckdb
import pandas as pd

# The read workload mixes two op families. The SQL texts go through the
# front door (plans.transpile, Engine.sql, Catalyst); the other ops are
# dominated by executor work and Python workers.
# tpch_q1 and tpch_sql_q1 reach the same Catalyst plans, so their per-op
# rows isolate the front door. An odd op count keeps the per-run median on
# one op's time instead of midway between two ops.
SQL_OPS = (
    "tpch_sql_q1",
    "tpch_sql_q6",
    "tpcds_sql_q64",  # heaviest text; CTE self-join narrowing
)
PIPELINE_OPS = (
    "tpch_q1",
    "agg_qdigest_sql_names",  # Arrow Python workers (sketch UDAF by SQL name)
)

FORMATS = ("delta", "iceberg")
ORDER_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,"
    " o_orderpriority"
)


@dataclass
class Op:
    """One call the workload makes. ``spark_sql`` ops go through
    ``Engine.sql``; ``query`` ops through ``QUERIES[query].fn``."""

    name: str
    kind: str  # "read" | "write"
    query: str | None = None
    spark_sql: str | None = None
    duck_sql: tuple[str, ...] = ()
    table: str | None = None  # lakehouse table the op touches
    # exception class name of a verified, documented program defect this
    # op raises today; such a raise is itemized, not timed or counted
    known_defect: str | None = None


@dataclass
class Workload:
    name: str
    seed: int
    sf_dir: str
    work_dir: str
    ops: tuple[Op, ...] = ()
    # measured passes per run, at the least: each op's lower median then
    # leaves out its slowest pass, which is most often the first
    min_passes: int = 3
    rng: random.Random = field(init=False)

    def __post_init__(self):
        self.rng = random.Random(self.seed)

    # -- op generation -------------------------------------------------
    def prologue(self) -> list[Op]:
        """Untimed ops run once before the measured passes (lakehouse table
        creation)."""
        return []

    def warmup(self) -> list[Op]:
        """Untimed ops that pay each op's first-execution costs (codegen,
        Python-worker start, first-use imports) before measuring."""
        return self.rng.sample(list(self.ops), len(self.ops))

    def next_pass(self, index: int) -> list[Op]:
        """Measured pass ``index``: every op of the workload once, in an
        order drawn from the seed."""
        return self.rng.sample(list(self.ops), len(self.ops))

    def final_reads(self) -> list[Op]:
        """Untimed reads of the end state, checked like any read."""
        return []


def _table_path(work_dir: str, fmt: str, name: str) -> str:
    return os.path.join(work_dir, f"{fmt}_{name}")


def _summary_table(index: int) -> str:
    """The summary CTAS table of measured cycle ``index``, or of the
    warm-up (index -1)."""
    return f"sum{index}" if index >= 0 else "sum_warm"


class LakehouseWorkload(Workload):
    """Writes beside reads on jar-free Delta and Iceberg path tables."""

    def __post_init__(self):
        super().__post_init__()
        con = duckdb.connect()
        try:
            (self.max_key,) = con.execute(
                "SELECT max(o_orderkey) FROM read_parquet(?)",
                [os.path.join(self.sf_dir, "orders.parquet")],
            ).fetchone()
        finally:
            con.close()
        self.summaries: list[tuple[str, str]] = []  # (fmt, name)

    def ref(self, fmt: str, name: str = "orders") -> str:
        return f"{fmt}.'{_table_path(self.work_dir, fmt, name)}'"

    @staticmethod
    def duck_name(fmt: str, name: str = "orders") -> str:
        return f"{fmt}_{name}"

    def _op(self, name, kind, fmt, text, duck=None, table="orders", defect=None):
        """``{t}`` in the text names the op's table, ``{src}`` the format's
        orders table; ``duck`` replaces the text on the DuckDB side."""
        spark_sql = text.format(t=self.ref(fmt, table), src=self.ref(fmt))
        duck_sql = tuple(
            s.format(t=self.duck_name(fmt, table), src=self.duck_name(fmt))
            for s in (duck or (text,))
        )
        return Op(
            name=f"{fmt}.{name}", kind=kind, spark_sql=spark_sql,
            duck_sql=duck_sql, table=_table_path(self.work_dir, fmt, table),
            known_defect=defect,
        )

    def prologue(self) -> list[Op]:
        return [
            self._op("ctas", "write", fmt,
                     f"CREATE TABLE {{t}} AS SELECT {ORDER_COLS} FROM orders")
            for fmt in FORMATS
        ]

    def warmup(self) -> list[Op]:
        """One MERGE per format: it takes the scan, copy-on-write rewrite
        and insert paths that the cycle's other statements share. A full
        warm-up cycle does not fit the run's time budget. The cycle
        statements that raise a known defect today run here, once per run,
        so the defect is itemized without taking measured time."""
        ops: list[Op] = []
        for fmt in FORMATS:
            cycle = self._cycle(fmt, -1)
            ops.append(cycle[3])
            ops += self._keep(fmt, cycle, -1, defects=True)
        return ops

    def next_pass(self, index: int) -> list[Op]:
        """One write cycle: per format an INSERT of a shifted key range, an
        UPDATE and a DELETE on seeded predicates, a MERGE from a seeded
        slice, two reads, and a DECIMAL(12,2) summary CTAS, except the
        statements the warm-up runs for a known defect. The format order is
        fixed, so the cycle's first statements, which carry the
        most first-codegen cost, are the same ones in every run."""
        ops: list[Op] = []
        for fmt in FORMATS:
            ops += self._keep(fmt, self._cycle(fmt, index), index, defects=False)
        return ops

    def _keep(self, fmt: str, cycle: list[Op], index: int, defects: bool) -> list[Op]:
        """The cycle ops that do (or do not) raise a known defect today;
        a kept summary CTAS has its table read at the end."""
        kept = [op for op in cycle if bool(op.known_defect) == defects]
        summary = _summary_table(index)
        if any(op.table == _table_path(self.work_dir, fmt, summary) for op in kept):
            self.summaries.append((fmt, summary))
        return kept

    def _cycle(self, fmt: str, index: int) -> list[Op]:
        r = self.rng
        a = r.randrange(0, self.max_key - 1000)
        b = r.randrange(0, self.max_key - 400)
        k = r.randrange(0, self.max_key - 300)
        shift = (index + 2) * 10 ** 8
        m_upd, m_del = r.randrange(7, 31), r.randrange(37, 61)
        res_upd, res_del = r.randrange(m_upd), r.randrange(m_del)
        bump = r.choice((0.25, 0.5, 1.25, 2.75))
        status = r.choice("MNPX")
        slice_ = f"SELECT {ORDER_COLS} FROM orders WHERE o_orderkey BETWEEN {b} AND {b + 400}"
        return [
            self._op("insert", "write", fmt,
                     f"INSERT INTO {{t}} SELECT o_orderkey + {shift}, o_custkey,"
                     " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
                     f" FROM orders WHERE o_orderkey BETWEEN {a} AND {a + 1000}"),
            self._op("update", "write", fmt,
                     f"UPDATE {{t}} SET o_totalprice = o_totalprice + CAST({bump} AS DOUBLE)"
                     f" WHERE o_custkey % {m_upd} = {res_upd}"),
            self._op("delete", "write", fmt,
                     f"DELETE FROM {{t}} WHERE o_custkey % {m_del} = {res_del}"),
            self._op(
                "merge", "write", fmt,
                f"MERGE INTO {{t}} t USING ({slice_}) s ON t.o_orderkey = s.o_orderkey"
                f" WHEN MATCHED THEN UPDATE SET o_orderstatus = '{status}'"
                f" WHEN NOT MATCHED THEN INSERT ({ORDER_COLS}) VALUES"
                f" (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,"
                " s.o_orderdate, s.o_orderpriority)",
                duck=(
                    f"UPDATE {{t}} SET o_orderstatus = '{status}' FROM ({slice_}) s"
                    " WHERE {t}.o_orderkey = s.o_orderkey",
                    f"INSERT INTO {{t}} SELECT * FROM ({slice_}) s WHERE NOT EXISTS"
                    " (SELECT 1 FROM {t} x WHERE x.o_orderkey = s.o_orderkey)",
                ),
            ),
            self._op("agg_read", "read", fmt,
                     "SELECT o_orderstatus, COUNT(*) AS n,"
                     " SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total"
                     " FROM {t} GROUP BY o_orderstatus"),
            self._op("range_read", "read", fmt,
                     "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice"
                     f" FROM {{t}} WHERE o_orderkey BETWEEN {k} AND {k + 300}"),
            # the money type Trino users write; Delta CTAS of any
            # DECIMAL(p<=18) column raises today (see README, defect a)
            self._op("summary_ctas", "write", fmt,
                     "CREATE TABLE {t} AS SELECT o_orderpriority,"
                     " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(12,2))"
                     " AS total, COUNT(*) AS n FROM {src} GROUP BY o_orderpriority",
                     table=_summary_table(index),
                     defect="ArrowNotImplementedError" if fmt == "delta" else None),
        ]

    def final_reads(self) -> list[Op]:
        tables = [(fmt, "orders") for fmt in FORMATS] + self.summaries
        return [
            self._op(f"final_read.{name}", "read", fmt, "SELECT * FROM {t}", table=name)
            for fmt, name in tables
        ]


def make_workload(name: str, seed: int, sf_dir: str, work_dir: str) -> Workload:
    if name == "read_mix":
        ops = tuple(Op(name=q, kind="read", query=q) for q in SQL_OPS + PIPELINE_OPS)
        return Workload(name, seed, sf_dir, work_dir, ops)
    if name == "lakehouse_rw":
        # a cycle is 13 statements, about 12 s; a third does not fit the
        # harness's time budget
        return LakehouseWorkload(name, seed, sf_dir, work_dir, min_passes=2)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("read_mix", "lakehouse_rw")


# -- checks ------------------------------------------------------------------


def rows_frame(rows, columns) -> pd.DataFrame:
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=list(columns))


def arrow_frame(rows, schema) -> pd.DataFrame:
    """Collected rows as ``DataFrame.toPandas()`` would build them (Arrow
    conversion: integer columns holding NULL become float NaN), which is
    the shape the oracle comparison expects."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    aschema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(aschema)
    arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, aschema)]
    table = pa.Table.from_arrays(arrays, schema=aschema)
    return table.to_pandas(date_as_object=True)


class OracleChecker:
    """The registry's DuckDB oracle over the workload's fixture tables,
    evaluated once per query name and compared with every execution."""

    def __init__(self, sf_dir: str):
        from witdb_spark.catalog import TABLE_NAMES

        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._expected: dict[str, pd.DataFrame | None] = {}

    def check(self, query: str, rows, schema) -> list[str]:
        from tests.conftest import compare_frames
        from witdb_spark.queries import QUERIES

        if query not in self._expected:
            sql = QUERIES[query].oracle
            self._expected[query] = None if sql is None else self.con.execute(sql).fetchdf()
        want = self._expected[query]
        if want is None:
            return ["no oracle registered"]
        return compare_frames(arrow_frame(rows, schema), want)

    def close(self):
        self.con.close()


class ReplayChecker:
    """DuckDB replays the lakehouse statements in executed order; each
    read's Spark rows must equal DuckDB's rows exactly."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')"
        )

    def apply(self, op: Op, rows, columns) -> list[str]:
        from tests.conftest import compare_frames

        for stmt in op.duck_sql[:-1]:
            self.con.execute(stmt)
        cur = self.con.execute(op.duck_sql[-1])
        if op.kind != "read":
            return []
        cols = [d[0] for d in cur.description]
        want = rows_frame(cur.fetchall(), cols)
        return compare_frames(rows_frame(rows, columns), want)

    def close(self):
        self.con.close()
