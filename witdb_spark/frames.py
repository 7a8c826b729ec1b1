"""Driver-local result relations.

A statement's own result — the one-row summary of a DML/CTAS, a SHOW or
DESCRIBE listing, a procedure's report, a ``$``-metadata table — is
answered on the driver, the way the reference answers it on the
coordinator with no worker stage (DataDefinitionTask results,
ValuesOperator.java rows).

``spark.createDataFrame(python_list, ddl)`` parallelizes the list into an
RDD (``Scan ExistingRDD``): collecting even a one-row result schedules a
job with one task per core. The same rows handed over as an Arrow table
become a ``LocalRelation`` (``LocalTableScan``), which collects on the
driver with no job at all, and which Catalyst sizes exactly for
broadcast decisions.
"""

from __future__ import annotations

from functools import lru_cache

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

#: The schema of a statement that returns no columns (SET SESSION, USE,
#: DROP VIEW, ...).
NO_COLUMNS = StructType()


@lru_cache(maxsize=256)
def _struct(ddl: str) -> StructType:
    # DDL parsing is a JVM round trip; the result statements use a fixed
    # set of schema strings, so each is parsed once per process
    return _parse_datatype_string(ddl)


def local_frame(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """``rows`` (a sequence of tuples, possibly empty) -> a driver-local
    DataFrame with exactly ``schema`` (a StructType or a DDL string such
    as ``"path string, rows bigint"``). Column names, types, nullability
    and rows equal ``spark.createDataFrame(rows, schema)``; the executed
    plan is a ``LocalTableScan``, so collecting it starts no Spark job.
    (Above ``spark.sql.execution.arrow.localRelationThreshold``, 48 MB
    by default, Spark plans the same rows as an RDD scan instead.)
    Cells convert through Arrow: str, bool, int, float, Decimal, date and
    None (a NULL of the column's type)."""
    if isinstance(schema, str):
        schema = _struct(schema)
    width = len(schema.fields)
    rows = list(rows)
    for row in rows:
        if len(row) != width:
            raise ValueError(
                f"local_frame row {row!r} has {len(row)} cells, schema"
                f" {schema.simpleString()} has {width} columns"
            )
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [
            pa.array(list(cells), type=field.type)
            for cells, field in zip(columns, arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
