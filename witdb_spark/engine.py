"""Engine facade: the reference's query surface on a SparkSession.

Reference lifecycle (SURVEY.md §3): HTTP submit -> parse -> analyze ->
optimize -> fragment -> schedule -> execute. In Spark terms everything from
parse onward IS Catalyst + Tungsten; the Engine provides the equivalents of
the coordinator-side surface:

  - catalog registration (ConnectorMetadata analog — parquet tables as views)
  - the Trino function library (functions.register_all)
  - the Trino SQL dialect (plans.transpile) on top of spark.sql
  - session properties mapped to Spark confs (reference SetSessionTask)
  - EXPLAIN [ANALYZE] (reference ExplainAnalyzeOperator.java:36)
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from witdb_spark.catalog import Tables
from witdb_spark.frames import NO_COLUMNS, local_frame
from witdb_spark.functions import register_all
from witdb_spark.plans import transpile

# Reference session properties (SystemSessionProperties.java) -> Spark confs.
SESSION_PROPERTIES: dict[str, str] = {
    "join_distribution_type": "spark.sql.autoBroadcastJoinThreshold",
    "join_reordering_strategy": "spark.sql.cbo.joinReorder.enabled",
    "hash_partition_count": "spark.sql.shuffle.partitions",
    "query_max_execution_time": "spark.sql.broadcastTimeout",
    # engine-specific (no Trino analog — Trino 411 inlines CTEs per
    # reference): materialize top-level WITH bodies referenced >= 3x
    "materialize_repeated_ctes": "spark.witdb.materializeRepeatedCtes",
}


# View DDL statements (reference CreateViewTask.java / DropViewTask.java /
# ShowColumnsTask.java). The reference stores a view as its original SQL text
# and re-expands it during analysis; here the Trino SQL is kept in a JSON
# catalog and registered as a Spark temp view (a named logical plan — the
# same re-expand-at-query-time semantics).
_CREATE_VIEW = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?VIEW\s+"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(?P<query>.+)$",
    re.I | re.S,
)
_DROP_VIEW = re.compile(
    r"^\s*DROP\s+VIEW\s+(?P<if_exists>IF\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
    re.I,
)
_SHOW_COLUMNS = re.compile(
    r"^\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
    re.I,
)
_SHOW_STATS = re.compile(
    r"^\s*SHOW\s+STATS\s+FOR\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
    re.I,
)
_CREATE_MV = re.compile(
    r"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s+AS\s+(?P<query>.+)$",
    re.I | re.S,
)
_REFRESH_MV = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
    re.I,
)
_DROP_MV = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?P<if_exists>IF\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
    re.I,
)
# Transactions and access control exist in the reference
# (StartTransactionTask.java, GrantTask.java); Spark has neither engine
# transactions nor a grant model, so these fail loudly as a recorded
# re-scope decision rather than silently parsing.
_UNSUPPORTED_DDL = re.compile(
    r"^\s*(START\s+TRANSACTION|COMMIT|ROLLBACK|GRANT|REVOKE|DENY)\b", re.I
)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        view_store: str | None = None,
    ):
        """view_store: optional JSON file persisting {view_name: trino_sql};
        views found there are re-registered on engine start (the reference
        keeps view definitions in connector metadata across sessions)."""
        self.spark = spark
        self.view_store = view_store
        self._views: dict[str, str] = {}
        self._versioned: dict[str, "object"] = {}  # name -> VersionedTable
        self._lake_ref_views: list[str] = []  # fmt.'/path' temp views
        # CALL system.register_table: session name -> (fmt, path);
        # references spell fmt.<name> and re-resolve per statement
        self._registered_tables: dict[str, tuple[str, str]] = {}
        if sf_dir is not None:
            Tables(spark, sf_dir).register_views()
        register_all(spark)
        if view_store and os.path.exists(view_store):
            for name, text in json.load(open(view_store)).items():
                self._register_view(name, text)

    def sql(self, text: str, **named_params) -> DataFrame:
        """Run a Trino-dialect query; named params use Spark 3.4+ parameter
        binding (the reference's PREPARE/EXECUTE analog, PrepareTask.java).
        View DDL (CREATE/DROP VIEW, SHOW COLUMNS) is dispatched here, as the
        reference dispatches DataDefinitionTasks before planning."""
        text = self._resolve_registered_tables(text)
        m = _CREATE_VIEW.match(text)
        if m:
            return self.create_view(
                m.group("name"), m.group("query"), replace=bool(m.group("replace"))
            )
        m = _DROP_VIEW.match(text)
        if m:
            self.drop_view(m.group("name"), if_exists=bool(m.group("if_exists")))
            return local_frame(self.spark, [], NO_COLUMNS)
        m = _SHOW_COLUMNS.match(text)
        if m:
            return self.show_columns(m.group("name"))
        m = re.match(
            r"^\s*SHOW\s+CREATE\s+TABLE\s+"
            r"(?P<fmt>delta|iceberg|hudi)\s*\.\s*'(?P<path>[^']+)'"
            r"\s*;?\s*$",
            text, re.I,
        )
        if m:  # reference ShowCreate (TABLE) for lakehouse path
            # tables: Trino's rendering — column list in Trino type
            # names plus the WITH(...) property block each connector
            # exposes (ShowCreateTask + connector getTableProperties).
            # Matched BEFORE lake-ref rewriting so the path survives.
            return self._show_create_lakehouse(
                m.group("fmt").lower(), m.group("path")
            )
        m = re.match(
            r"^\s*SHOW\s+STATS\s+FOR\s+"
            r"(?P<fmt>delta|iceberg|hudi)\s*\.\s*'(?P<path>[^']+)'"
            r"\s*;?\s*$",
            text, re.I,
        )
        if m:  # lakehouse path tables: persisted extended stats (a
            # prior ANALYZE) override the live NDV/data_size, the
            # reference trino-delta-lake behavior
            from witdb_spark.sources.lakehouse import read_table

            fmt, path = m.group("fmt").lower(), m.group("path")
            read_table(self.spark, fmt, path).createOrReplaceTempView(
                "__show_stats_t"
            )
            if fmt == "delta":
                ext = self._load_extended_stats(path)
            elif fmt == "iceberg":
                # r14: NDV from the current snapshot's Puffin
                # statistics (blob 'ndv' properties — where the
                # reference TableStatisticsReader looks)
                from witdb_spark.sources.iceberg_meta import (
                    iceberg_ndv_stats,
                )

                ext = iceberg_ndv_stats(path)
            else:
                ext = None
            return self.show_stats("__show_stats_t", extended=ext)
        m = _SHOW_STATS.match(text)
        if m:
            return self.show_stats(m.group("name"))
        m = re.match(
            r"^\s*ANALYZE\s+"
            r"(?P<fmt>delta|iceberg|hudi)\s*\.\s*'(?P<path>[^']+)'"
            r"\s*;?\s*$",
            text, re.I,
        )
        if m:  # reference AnalyzeTask -> trino-delta-lake extended
            # statistics (persisted NDV/data_size sidecar)
            return self._analyze_table(
                m.group("fmt").lower(), m.group("path")
            )
        m = re.match(r"^\s*SHOW\s+STATS\s+FOR\s*\(", text, re.I)
        if m:  # SHOW STATS FOR (query) — reference ShowStatsRewrite
            from witdb_spark.plans.dialect import _match_paren

            open_idx = text.index("(", m.start())
            close_idx = _match_paren(text, open_idx)
            inner = text[open_idx + 1 : close_idx]
            self.sql(inner).createOrReplaceTempView("__show_stats_q")
            return self.show_stats("__show_stats_q")
        m = re.match(
            r"^\s*CALL\s+system\.(vacuum|optimize|checkpoint"
            r"|expire_snapshots|rollback_to_snapshot|fast_forward"
            r"|remove_orphan_files|drop_extended_stats"
            r"|register_table|unregister_table|clean|restore"
            r"|cherrypick_snapshot)"
            r"\s*\(",
            text, re.I,
        )
        if m:  # lakehouse procedures (reference plugin/trino-delta-lake
            # procedure/VacuumProcedure.java + OptimizeTableProcedure;
            # path-based tables here, so the argument is the table path)
            return self._call_delta_procedure(m.group(1).lower(), text, m)
        m = re.match(
            r"^\s*ALTER\s+TABLE\s+(?P<fmt>delta|iceberg|hudi)\s*\.\s*"
            r"'(?P<path>[^']+)'\s+SET\s+PROPERTIES\s+"
            r"(?P<key>\"[^\"]+\"|[A-Za-z_][A-Za-z0-9_.]*)"
            r"\s*=\s*(?P<val>.+?)\s*;?\s*$",
            text, re.I | re.S,
        )
        if m:
            # the reference's spec-evolution front door: trino-iceberg's
            # ALTER TABLE ... SET PROPERTIES partitioning = ARRAY[...]
            # (IcebergMetadata.setTableProperties); other properties
            # refuse loudly rather than silently no-op
            if (
                m.group("fmt").lower() == "iceberg"
                and m.group("key").lower() == "partitioning"
            ):
                from witdb_spark.sources.iceberg_meta import (
                    iceberg_evolve_spec,
                )

                val = m.group("val").strip()
                am = re.match(r"^ARRAY\s*\[(?P<items>.*)\]$", val, re.I | re.S)
                if not am:
                    raise ValueError(
                        "partitioning expects ARRAY['col', 'bucket(N,"
                        " col)', ...]"
                    )
                entries = [
                    e.strip().strip("'")
                    for e in am.group("items").split(",")
                ]
                # transform spellings contain commas — re-join split
                # fragments until parens balance
                joined: list[str] = []
                for e in entries:
                    if joined and joined[-1].count("(") > joined[-1].count(")"):
                        joined[-1] = f"{joined[-1]}, {e}"
                    else:
                        joined.append(e)
                spec_id = iceberg_evolve_spec(
                    self.spark, m.group("path"),
                    [e for e in joined if e],
                )
                return local_frame(
                    self.spark, [(spec_id,)], "spec_id int"
                )
            # plain property: 'string' | true/false | number
            raw = m.group("val").strip().rstrip(";").strip()
            if len(raw) >= 2 and raw[0] == raw[-1] == "'":
                val = raw[1:-1].replace("''", "'")
            elif raw.upper() in ("TRUE", "FALSE"):
                val = raw.lower()
            elif re.fullmatch(r"-?\d+(\.\d+)?", raw):
                val = raw
            elif raw.upper() == "DEFAULT":
                val = None  # Trino's RESET-to-default spelling: unset
            else:
                raise ValueError(
                    f"SET PROPERTIES value {raw!r}: expected a string"
                    " literal, TRUE/FALSE, a number, or DEFAULT"
                )
            key, fmt = m.group("key").strip('"'), m.group("fmt").lower()
            if fmt == "iceberg":
                from witdb_spark.sources.iceberg_meta import (
                    iceberg_set_properties,
                )

                iceberg_set_properties(
                    self.spark, m.group("path"), {key: val}
                )
            elif fmt == "delta":
                from witdb_spark.sources.delta_log import (
                    delta_set_properties,
                )

                # the trino-delta-lake property spellings map onto the
                # delta configuration keys; raw delta.* keys pass
                # through verbatim
                key = {
                    "change_data_feed_enabled":
                        "delta.enableChangeDataFeed",
                    "deletion_vectors_enabled":
                        "delta.enableDeletionVectors",
                    "column_mapping_mode": "delta.columnMapping.mode",
                    "checkpoint_interval": "delta.checkpointInterval",
                }.get(key.lower(), key)
                delta_set_properties(
                    self.spark, m.group("path"), {key: val}
                )
            else:
                raise NotImplementedError(
                    "ALTER TABLE SET PROPERTIES on hudi tables is not"
                    " supported jar-free (the reference's hudi"
                    " connector is read-only)"
                )
            return local_frame(
                self.spark, [(key, "" if val is None else val)],
                "key string, value string",
            )
        m = re.match(
            r"^\s*(?P<op>TRUNCATE|DROP)\s+TABLE\s+"
            r"(?P<fmt>delta|iceberg|hudi)\s*\.\s*'(?P<path>[^']+)'"
            r"\s*;?\s*$",
            text, re.I,
        )
        if m:
            # reference TruncateTableTask / DropTableTask. TRUNCATE is
            # a metadata commit (no file deletion — time travel
            # survives, vacuum/clean reclaims); DROP removes the table
            # directory, the connectors' behavior for managed tables.
            fmt, path = m.group("fmt").lower(), m.group("path")
            if m.group("op").upper() == "DROP":
                import shutil

                marker = {
                    "delta": os.path.join(path, "_delta_log"),
                    "iceberg": os.path.join(path, "metadata"),
                    "hudi": os.path.join(path, ".hoodie"),
                }[fmt]
                if not os.path.isdir(marker):
                    raise FileNotFoundError(
                        f"{path} is not a {fmt} table"
                    )
                shutil.rmtree(path)
                return local_frame(
                    self.spark, [(path, "dropped")], "path string, result string"
                )
            if fmt == "delta":
                from witdb_spark.sources.delta_log import delta_truncate

                res = str(delta_truncate(self.spark, path))
            elif fmt == "iceberg":
                from witdb_spark.sources.iceberg_meta import (
                    iceberg_truncate,
                )

                res = str(iceberg_truncate(self.spark, path))
            else:
                from witdb_spark.sources.hudi_meta import hudi_truncate

                res = str(hudi_truncate(self.spark, path))
            return local_frame(
                self.spark, [(path, res)], "path string, result string"
            )
        m = re.match(
            r"^\s*CREATE\s+TABLE\s+(?P<fmt>delta|iceberg|hudi)\s*\.\s*"
            r"'(?P<path>[^']+)'\s*"
            r"(?:WITH\s*\((?P<props>.*?)\)\s*)?AS\s+(?P<q>.+?)\s*;?\s*$",
            text, re.I | re.S,
        )
        if m:
            # CTAS onto a lakehouse path (reference CreateTableTask +
            # the connectors' beginCreateTable): evaluate the query,
            # author version 0 with the jar-free writer. WITH props:
            # partitioned_by = ARRAY[...] (the trino-delta-lake
            # spelling; iceberg's own `partitioning` accepted too),
            # record_key = '<col>' (hudi), and the trino-delta-lake
            # table properties column_mapping_mode /
            # change_data_feed_enabled / deletion_vectors_enabled
            # mapping onto the delta configuration keys.
            fmt = m.group("fmt").lower()
            path, props_txt = m.group("path"), m.group("props") or ""
            part_by = None
            record_key = None
            pm = re.search(
                r"(?:partitioned_by|partitioning)\s*=\s*ARRAY\s*"
                r"\[(?P<items>[^\]]*)\]",
                props_txt, re.I,
            )
            if pm:
                part_by = [
                    e.strip().strip("'")
                    for e in pm.group("items").split(",")
                    if e.strip()
                ]
            rm = re.search(
                r"record_key\s*=\s*'(?P<k>[^']+)'", props_txt, re.I
            )
            if rm:
                record_key = rm.group("k")
            configuration: dict[str, str] = {}
            for prop, conf in (
                ("column_mapping_mode", "delta.columnMapping.mode"),
                (
                    "change_data_feed_enabled",
                    "delta.enableChangeDataFeed",
                ),
                (
                    "deletion_vectors_enabled",
                    "delta.enableDeletionVectors",
                ),
            ):
                vm = re.search(
                    rf"{prop}\s*=\s*(?:'(?P<s>[^']*)'"
                    r"|(?P<b>true|false))",
                    props_txt, re.I,
                )
                if vm:
                    configuration[conf] = (
                        vm.group("s")
                        if vm.group("s") is not None
                        else vm.group("b").lower()
                    )
            # persist before counting: count() + the write would
            # otherwise evaluate the query twice — a double scan, and
            # a non-deterministic query could commit different rows
            # than it reports (r12 ADVICE)
            df = self.sql(m.group("q")).persist()
            try:
                n = df.count()
                if fmt == "delta":
                    from witdb_spark.sources.delta_log import (
                        write_delta,
                    )

                    write_delta(
                        self.spark, df, path, mode="create",
                        partition_by=part_by,
                        configuration=configuration or None,
                    )
                elif fmt == "iceberg":
                    from witdb_spark.sources.iceberg_meta import (
                        write_iceberg,
                    )

                    write_iceberg(
                        self.spark, df, path, mode="create",
                        partition_by=part_by,
                    )
                else:
                    from witdb_spark.sources.hudi_meta import (
                        write_hudi,
                    )

                    write_hudi(
                        self.spark, df, path, mode="create",
                        record_key=record_key, partition_by=part_by,
                    )
            finally:
                df.unpersist()
            return local_frame(
                self.spark, [(path, n)], "path string, rows bigint"
            )
        dml = self._sql_lakehouse_dml(text)
        if dml is not None:
            return dml
        text = self._rewrite_table_changes(text)
        text = self._rewrite_lakehouse_refs(text)
        m = re.match(
            r"^\s*SET\s+SESSION\s+([A-Za-z_][A-Za-z0-9_.]*)\s*=\s*(.+?)\s*;?\s*$",
            text, re.I,
        )
        if m:  # reference SetSessionTask.java
            val = m.group(2).strip()
            if len(val) >= 2 and val[0] == val[-1] == "'":
                val = val[1:-1].replace("''", "'")
            self.set_session(m.group(1), val)
            return local_frame(self.spark, [], NO_COLUMNS)
        m = re.match(
            r"^\s*RESET\s+SESSION\s+([A-Za-z_][A-Za-z0-9_.]*)\s*;?\s*$",
            text, re.I,
        )
        if m:  # reference ResetSessionTask.java
            self.spark.conf.unset(
                SESSION_PROPERTIES.get(m.group(1), m.group(1))
            )
            return local_frame(self.spark, [], NO_COLUMNS)
        if re.match(r"^\s*SHOW\s+SESSION\s*;?\s*$", text, re.I):
            # reference ShowSessionTask: Name | Value | Default layout
            # over the mapped property table
            rows = []
            for name, conf in sorted(SESSION_PROPERTIES.items()):
                try:
                    val = self.spark.conf.get(conf)
                except Exception:
                    val = None
                rows.append((name, val if val is not None else "", conf))
            return local_frame(
                self.spark, rows, "Name string, Value string, `Spark Conf` string"
            )
        m = re.match(
            r"^\s*EXPLAIN\s*\(\s*(.*?)\s*\)\s*(.+)$", text, re.I | re.S
        )
        if m:  # EXPLAIN (TYPE ..., FORMAT ...) options (grammar
            # SqlBase.g4 explainOption; reference ExplainTask)
            opts = {
                (p.split()[0].upper() if p.split() else ""):
                (p.split()[1].upper() if len(p.split()) > 1 else "")
                for p in m.group(1).split(",")
            }
            etype = opts.get("TYPE", "DISTRIBUTED")
            if opts.get("FORMAT", "TEXT") == "JSON":
                raise NotImplementedError(
                    "EXPLAIN (FORMAT JSON) is not supported; TEXT only"
                )
            dml_desc = self._describe_lakehouse_dml(m.group(2))
            if dml_desc is not None:
                # EXPLAIN must NEVER execute DML (only EXPLAIN ANALYZE
                # runs its statement, per the reference's semantics)
                if etype == "VALIDATE":
                    return local_frame(
                        self.spark, [(True,)], "Valid boolean"
                    )
                return local_frame(
                    self.spark, [(dml_desc,)], "`Query Plan` string"
                )
            if etype == "VALIDATE":
                self.sql(m.group(2))  # analysis errors propagate
                return local_frame(
                    self.spark, [(True,)], "Valid boolean"
                )
            if etype == "IO":
                # the scanned-relations surface of the plan (reference
                # IoPlanPrinter emits per-table IO estimates)
                df = self.sql(m.group(2))
                plan = df._jdf.queryExecution().explainString(
                    self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
                )
                scans = "\n".join(
                    ln.strip() for ln in plan.splitlines()
                    if "Scan" in ln or "Relation" in ln
                ) or plan
                return local_frame(
                    self.spark, [(scans,)], "`Query Plan` string"
                )
            mode = "extended" if etype == "LOGICAL" else "formatted"
            df = self.sql(m.group(2))
            plan = df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
            )
            return local_frame(
                self.spark, [(plan,)], "`Query Plan` string"
            )
        m = re.match(r"^\s*EXPLAIN\s+(ANALYZE\s+)?(.+)$", text, re.I | re.S)
        if m and not re.match(r"^\s*EXPLAIN\s+ANALYZE\s*$", text, re.I):
            plan = self.explain(m.group(2), analyze=bool(m.group(1)))
            return local_frame(
                self.spark, [(plan,)], "`Query Plan` string"
            )
        m = re.match(
            r"^\s*DESCRIBE\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$", text, re.I
        )
        if m:  # Trino DESCRIBE == SHOW COLUMNS (DescribeTask delegates)
            return self.show_columns(m.group(1))
        if re.match(r"^\s*SHOW\s+TABLES\s*;?\s*$", text, re.I):
            return local_frame(
                self.spark, [(t,) for t in self.tables()], "Table string"
            )
        if re.match(r"^\s*SHOW\s+FUNCTIONS\s*;?\s*$", text, re.I):
            # reference ShowFunctionsRewrite: the Trino-name surface =
            # passthrough renames + macros + session-registered UDFs
            # (python/geometry tiers) + pure dialect rewrites
            from witdb_spark.functions.registry import MACROS, PASSTHROUGH

            temp = {
                f.name
                for f in self.spark.catalog.listFunctions()
                if f.isTemporary
            }
            dialect_names = {
                "approx_distinct", "arbitrary", "from_unixtime",
                "element_at", "try", "numeric_histogram", "date_add",
                "date_diff", "date_format", "bit_count",
            }
            names = sorted(set(PASSTHROUGH) | set(MACROS) | temp | dialect_names)
            return local_frame(
                self.spark, [(n,) for n in names], "Function string"
            )
        m = re.match(
            r"^\s*SHOW\s+CREATE\s+VIEW\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
            text, re.I,
        )
        if m:  # reference ShowCreate (VIEW): the stored original SQL
            name = m.group(1)
            if name not in self._views:
                raise KeyError(f"View not found: {name!r}")
            ddl = f"CREATE VIEW {name} AS\n{self._views[name]}"
            return local_frame(self.spark, [(ddl,)], "`Create View` string")
        m = re.match(
            r"^\s*SHOW\s+CREATE\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
            text, re.I,
        )
        if m:  # reference ShowCreate (TABLE): synthesized from the schema
            name = m.group(1)
            cols = ",\n   ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in self.spark.table(name).schema.fields
            )
            ddl = f"CREATE TABLE {name} (\n   {cols}\n)"
            return local_frame(self.spark, [(ddl,)], "`Create Table` string")
        if re.match(r"^\s*SHOW\s+CATALOGS\s*;?\s*$", text, re.I):
            rows = [(c.name,) for c in self.spark.catalog.listCatalogs()]
            return local_frame(self.spark, rows, "Catalog string")
        if re.match(r"^\s*SHOW\s+SCHEMAS\s*;?\s*$", text, re.I):
            rows = [(d.name,) for d in self.spark.catalog.listDatabases()]
            return local_frame(self.spark, rows, "Schema string")
        m = re.match(
            r"^\s*DESCRIBE\s+(INPUT|OUTPUT)\s+([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
            text, re.I,
        )
        if m:  # reference DescribeInputTask / DescribeOutputTask
            which, name = m.group(1).upper(), m.group(2)
            prepared = getattr(self, "_prepared", {})
            if name not in prepared:
                raise KeyError(f"prepared statement {name!r} does not exist")
            if which == "INPUT":
                # positional parameter slots; types are unknown until bound
                # (the reference reports 'unknown' for untyped params too)
                n = sum(
                    chunk.count("?")
                    for chunk in re.split(r"('(?:[^']|'')*')", prepared[name])
                    if not chunk.startswith("'")
                )
                return local_frame(
                    self.spark,
                    [(i, "unknown") for i in range(n)],
                    "Position int, Type string",
                )
            # OUTPUT: bind NULLs to parameters and describe the result schema
            stub = prepared[name]
            out, i = [], 0
            for chunk in re.split(r"('(?:[^']|'')*')", stub):
                if chunk.startswith("'"):
                    out.append(chunk)
                    continue
                while "?" in chunk:
                    chunk = chunk.replace("?", "NULL", 1)
                    i += 1
                out.append(chunk)
            schema = self.sql("".join(out)).schema
            rows = [(f.name, f.dataType.simpleString()) for f in schema.fields]
            return local_frame(self.spark, rows, "`Column Name` string, Type string")
        if re.match(r"^\s*SHOW\s+SESSION\s*;?\s*$", text, re.I):
            rows = [
                (prop, self.spark.conf.get(conf, None) or "")
                for prop, conf in SESSION_PROPERTIES.items()
            ]
            return local_frame(self.spark, rows, "Name string, Value string")
        m = _CREATE_MV.match(text)
        if m:
            return self.create_materialized_view(
                m.group("name"), m.group("query"), replace=bool(m.group("replace"))
            )
        m = _REFRESH_MV.match(text)
        if m:
            return self.refresh_materialized_view(m.group("name"))
        m = _DROP_MV.match(text)
        if m:
            self.drop_materialized_view(
                m.group("name"), if_exists=bool(m.group("if_exists"))
            )
            return local_frame(self.spark, [], NO_COLUMNS)
        m = _UNSUPPORTED_DDL.match(text)
        if m:
            raise NotImplementedError(
                f"{m.group(1).upper()}: Spark has no engine transactions or"
                " grant model (reference StartTransactionTask/GrantTask);"
                " writes commit atomically per statement via the file-commit"
                " protocol, and access control belongs to the lakehouse"
                " catalog layer"
            )
        m = re.match(
            r"^\s*PREPARE\s+([A-Za-z_][A-Za-z0-9_]*)\s+FROM\s+(.+)$",
            text, re.I | re.S,
        )
        if m:  # reference PrepareTask.java — SQL form
            self.prepare(m.group(1), m.group(2).strip().rstrip(";"))
            return local_frame(self.spark, [], NO_COLUMNS)
        m = re.match(
            r"^\s*EXECUTE\s+([A-Za-z_][A-Za-z0-9_]*)"
            r"(?:\s+USING\s+(.+?))?\s*;?\s*$",
            text, re.I | re.S,
        )
        if m:  # reference ExecuteTask.java — literal args bound positionally
            args = []
            if m.group(2):
                from witdb_spark.plans.dialect import _split_top_level

                for lit in _split_top_level(m.group(2)):
                    args.append(self.spark.sql(f"SELECT {lit}").collect()[0][0])
            return self.execute(m.group(1), *args)
        m = re.match(
            r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
            text, re.I,
        )
        if m:  # reference DeallocateTask.java
            self.deallocate(m.group(1))
            return local_frame(self.spark, [], NO_COLUMNS)
        m = re.match(r"^\s*USE\s+([A-Za-z_][A-Za-z0-9_.]*)\s*;?\s*$", text, re.I)
        if m:  # reference UseTask.java — session schema switch
            self.spark.catalog.setCurrentDatabase(m.group(1).split(".")[-1])
            return local_frame(self.spark, [], NO_COLUMNS)
        from witdb_spark.plans.recursive import execute_recursive, has_recursive

        if has_recursive(text):
            # reference SqlBase.g4:190 WITH RECURSIVE — Spark has no
            # recursive CTE; run the iterative fixpoint (plans/recursive.py)
            return execute_recursive(self, text)
        if re.search(r"\binformation_schema\s*\.\s*(tables|columns|views)\b", text, re.I):
            # reference information_schema connector
            # (InformationSchemaMetadata.java): materialize the session
            # catalog into temp views and rewrite the dotted names (Spark
            # temp views cannot be schema-qualified).
            self._refresh_information_schema()
            text = re.sub(
                r"\binformation_schema\s*\.\s*(tables|columns|views)\b",
                lambda m: f"__information_schema_{m.group(1).lower()}",
                text,
                flags=re.I,
            )
        if self._versioned:
            text = self._rewrite_versioned_relations(text)
        if re.search(r"\bMATCH_RECOGNIZE\b", text, flags=re.I):
            # SQL-form row-pattern relations (reference SqlBase.g4:360) are
            # lowered onto the DataFrame operator and spliced back in as
            # computed views before the dialect pass.
            from witdb_spark.plans.mr_sql import rewrite_match_recognize

            text = rewrite_match_recognize(self.spark, text)
        if re.search(r"\bWINDOW\b", text, flags=re.I):
            # row-pattern recognition in WINDOW structures (reference
            # SqlBase.g4 windowFrame MEASURES/PATTERN/DEFINE); plain
            # named windows pass through to Spark's own WINDOW clause
            from witdb_spark.plans.mr_sql import (
                has_pattern_window,
                rewrite_pattern_windows,
            )

            if has_pattern_window(text):
                text = rewrite_pattern_windows(self.spark, text)
        if re.search(r"\bTABLE\s*\(", text, flags=re.I):
            from witdb_spark.plans.dialect import rewrite_table_ptfs

            # schema probe for exclude_columns: LIMIT-0 against this
            # engine's registered views (the analog of the reference
            # analyzer asking the PTF for its returned-type descriptor)
            text = rewrite_table_ptfs(
                text,
                schema_of=lambda q: self.spark.sql(
                    transpile(f"SELECT * FROM {q} WHERE 1=0")
                ).columns,
            )
        spark_sql = transpile(text)
        if not named_params and self._prop_enabled(
            "spark.witdb.materializeRepeatedCtes"
        ):
            spark_sql = self._materialize_repeated_ctes(spark_sql)
        if named_params:
            return self.spark.sql(spark_sql, args=named_params)
        return self.spark.sql(spark_sql)

    def _call_delta_procedure(self, proc: str, text: str, m) -> DataFrame:
        """CALL system.vacuum('<path>'[, '<retention>']) /
        system.optimize('<path>'[, target_files]) /
        system.checkpoint('<path>'[, 'v2']) — the reference delta
        connector's procedure surface (VacuumProcedure.java takes
        schema, table, retention; path-based tables here take the
        table path) — plus system.expire_snapshots('<path>'[,
        keep_last]), system.rollback_to_snapshot('<path>', id),
        system.remove_orphan_files('<path>'[, retention]),
        system.fast_forward('<path>', branch, to) and
        system.cherrypick_snapshot('<path>', id) (reference iceberg
        connector + iceberg library procedures) and
        system.clean('<path>'[, keep_last]) (Hudi's cleaner).
        Returns a one-row summary DataFrame."""
        from witdb_spark.plans.dialect import (
            _match_paren,
            _split_call_args,
        )
        from witdb_spark.sources.delta_log import (
            delta_checkpoint,
            delta_optimize,
            delta_vacuum,
        )

        open_idx = text.index("(", m.start())
        close_idx = _match_paren(text, open_idx)
        if text[close_idx + 1 :].strip().rstrip(";").strip():
            raise ValueError("trailing tokens after CALL procedure")
        args = []
        for a in _split_call_args(text[open_idx + 1 : close_idx]):
            a = a.strip()
            a = re.sub(r"(?is)^[A-Za-z_]\w*\s*=>\s*", "", a)  # named ok
            if len(a) >= 2 and a[0] == a[-1] == "'":
                a = a[1:-1].replace("''", "'")
            args.append(a)
        if not args or not args[0]:
            raise ValueError(f"system.{proc} needs a table path")
        if proc == "register_table":
            # reference RegisterTableProcedure (delta + iceberg ship
            # one): register an EXISTING table directory under a
            # session name; fmt.<name> references re-resolve the
            # directory's CURRENT state per statement (r13)
            if len(args) < 2:
                raise ValueError(
                    "system.register_table needs ('<name>', '<path>')"
                )
            name, tpath = args[0], args[1]
            if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
                raise ValueError(
                    f"register_table name {name!r} must be an"
                    " identifier"
                )
            if "'" in tpath:
                # the path is later re-interpolated into fmt.'<path>'
                # literals (_resolve_registered_tables); a quote would
                # mangle every downstream statement (ADVICE r13)
                raise ValueError(
                    f"register_table path {tpath!r} must not contain"
                    " a single quote"
                )
            tfmt = (
                "iceberg"
                if os.path.isdir(os.path.join(tpath, "metadata"))
                else "hudi"
                if os.path.isdir(os.path.join(tpath, ".hoodie"))
                else "delta"
                if os.path.isdir(os.path.join(tpath, "_delta_log"))
                else None
            )
            if tfmt is None:
                raise ValueError(
                    f"{tpath}: not a delta/iceberg/hudi table"
                    " directory"
                )
            self._registered_tables[name.lower()] = (tfmt, tpath)
            return local_frame(
                self.spark, [(name.lower(), tfmt, tpath)],
                "name string, format string, path string",
            )
        if proc == "unregister_table":
            name = args[0].lower()
            if name not in self._registered_tables:
                raise ValueError(f"no registered table {args[0]!r}")
            tfmt, tpath = self._registered_tables.pop(name)
            return local_frame(
                self.spark, [(name, tfmt, tpath)],
                "name string, format string, path string",
            )
        path = args[0]
        # format sniff once, for every procedure: a delta-only procedure
        # on an iceberg/hudi path must say which spelling to use, not
        # surface a confusing missing-_delta_log error
        fmt = (
            "iceberg"
            if os.path.isdir(os.path.join(path, "metadata"))
            else "hudi"
            if os.path.isdir(os.path.join(path, ".hoodie"))
            else "delta"
        )
        if proc in ("vacuum", "checkpoint") and fmt != "delta":
            hint = (
                " — for retention on this table use system."
                + ("expire_snapshots" if fmt == "iceberg" else "clean")
                if proc == "vacuum"
                else ""
            )
            raise ValueError(
                f"system.{proc} is a Delta procedure; {path} is an"
                f" {fmt} table{hint}"
            )
        if proc == "restore":
            if fmt != "delta":
                raise ValueError(
                    f"system.restore is a Delta procedure; {path} is"
                    f" an {fmt} table — use system.rollback_to_snapshot"
                    if fmt == "iceberg"
                    else f"system.restore is a Delta procedure; {path}"
                    f" is a {fmt} table"
                )
            from witdb_spark.sources.delta_log import delta_restore

            if len(args) < 2:
                raise ValueError("system.restore needs a version")
            res = delta_restore(self.spark, path, int(args[1]))
            return local_frame(
                self.spark,
                [(path, res["version"], res["files_added"],
                  res["files_removed"])],
                "path string, version bigint, files_added bigint,"
                " files_removed bigint",
            )
        if proc == "expire_snapshots" and fmt != "iceberg":
            raise ValueError(
                f"system.expire_snapshots is an Iceberg procedure;"
                f" {path} is a {fmt} table"
                + (" — use system.vacuum" if fmt == "delta" else
                   " — use system.clean")
            )
        if proc == "clean" and fmt != "hudi":
            raise ValueError(
                f"system.clean is a Hudi procedure; {path} is a"
                f" {fmt} table"
                + (" — use system.vacuum" if fmt == "delta" else
                   " — use system.expire_snapshots")
            )
        if proc == "vacuum":
            retain_ms = 7 * 24 * 3600 * 1000
            if len(args) > 1:
                rm = re.fullmatch(r"(\d+)\s*([dhms])", args[1].strip())
                if rm is None:
                    raise ValueError(
                        "retention must look like '7d', '12h', '30m', '0s'"
                    )
                retain_ms = int(rm.group(1)) * {
                    "d": 86_400_000, "h": 3_600_000,
                    "m": 60_000, "s": 1_000,
                }[rm.group(2)]
            res = delta_vacuum(self.spark, path, retain_ms=retain_ms)
            return local_frame(
                self.spark,
                [(path, res["deleted"])], "path string, deleted_files bigint"
            )
        if proc == "optimize":
            # dispatch by on-disk table format: small-file compaction is
            # the same operation on every lakehouse layout
            target = int(args[1]) if len(args) > 1 else 1
            if fmt == "iceberg":
                from witdb_spark.sources.iceberg_meta import (
                    iceberg_optimize,
                )

                r = iceberg_optimize(self.spark, path, target_files=target)
                return local_frame(
                    self.spark, [(path, r["snapshot_id"], r["files_rewritten"])],
                    "path string, snapshot_id bigint,"
                    " files_rewritten bigint",
                )
            if fmt == "hudi":
                from witdb_spark.sources.hudi_meta import (
                    _properties,
                    hudi_cluster,
                    hudi_compact,
                )

                if _properties(path).get(
                    "hoodie.table.type"
                ) == "MERGE_ON_READ":
                    # r9: MOR optimize = compaction (fold logs into
                    # fresh base groups); COW optimize = clustering
                    inst = hudi_compact(
                        self.spark, path, target_files=target
                    )
                else:
                    inst = hudi_cluster(
                        self.spark, path, target_groups=target
                    )
                return local_frame(
                    self.spark, [(path, inst)], "path string, instant string"
                )
            res = delta_optimize(self.spark, path, target_files=target)
            return local_frame(
                self.spark,
                [(path, res["version"], res["files_before"],
                  res["files_after"])],
                "path string, version bigint, files_before bigint,"
                " files_after bigint",
            )
        if proc == "expire_snapshots":
            # reference iceberg connector's expire_snapshots procedure
            from witdb_spark.sources.iceberg_meta import (
                iceberg_expire_snapshots,
            )

            keep = int(args[1]) if len(args) > 1 else 1
            res = iceberg_expire_snapshots(
                path, keep_last=keep, spark=self.spark
            )
            return local_frame(
                self.spark, [(path, res["expired_snapshots"], res["deleted_files"])],
                "path string, expired_snapshots bigint,"
                " deleted_files bigint",
            )
        if proc == "rollback_to_snapshot":
            # reference RollbackToSnapshotProcedure.java
            from witdb_spark.sources.iceberg_meta import (
                iceberg_rollback_to_snapshot,
            )

            if len(args) < 2:
                raise ValueError(
                    "system.rollback_to_snapshot needs a snapshot id"
                )
            sid = iceberg_rollback_to_snapshot(path, int(args[1]))
            return local_frame(
                self.spark, [(path, sid)], "path string, current_snapshot_id bigint"
            )
        if proc == "drop_extended_stats":
            # reference DropExtendedStatsProcedure — both the delta
            # and (r14) iceberg connectors ship this spelling; iceberg
            # drops the Puffin statistics entries + files
            if fmt == "iceberg":
                from witdb_spark.sources.iceberg_meta import (
                    iceberg_drop_statistics,
                )

                return local_frame(
                    self.spark, [(path, iceberg_drop_statistics(path))],
                    "path string, dropped boolean",
                )
            if fmt != "delta":
                raise ValueError(
                    f"system.drop_extended_stats is a Delta/Iceberg"
                    f" procedure; {path} is a {fmt} table"
                )
            f = self._extended_stats_file(path)
            existed = os.path.exists(f)
            if existed:
                os.remove(f)
            return local_frame(
                self.spark, [(path, existed)], "path string, dropped boolean"
            )
        if proc == "remove_orphan_files":
            # reference RemoveOrphanFilesTableProcedure.java (r13)
            if fmt != "iceberg":
                raise ValueError(
                    f"system.remove_orphan_files is an Iceberg"
                    f" procedure; {path} is a {fmt} table"
                    + (" — use system.vacuum" if fmt == "delta" else "")
                )
            from witdb_spark.sources.iceberg_meta import (
                iceberg_remove_orphan_files,
            )

            retain_ms = 7 * 24 * 3600 * 1000
            if len(args) > 1:
                rm = re.fullmatch(r"(\d+)\s*([dhms])", args[1].strip())
                if rm is None:
                    raise ValueError(
                        "retention must look like '7d', '12h', '30m',"
                        " '0s'"
                    )
                retain_ms = int(rm.group(1)) * {
                    "d": 86_400_000, "h": 3_600_000,
                    "m": 60_000, "s": 1_000,
                }[rm.group(2)]
            res = iceberg_remove_orphan_files(
                path, retention_ms=retain_ms, spark=self.spark
            )
            return local_frame(
                self.spark, [(path, res["scanned_files"], res["deleted_files"])],
                "path string, scanned_files bigint,"
                " deleted_files bigint",
            )
        if proc == "cherrypick_snapshot":
            # the iceberg library's CherrypickSnapshotProcedure
            # spelling: re-apply an append snapshot onto main (r14)
            if fmt != "iceberg":
                raise ValueError(
                    f"system.cherrypick_snapshot is an Iceberg"
                    f" procedure; {path} is a {fmt} table"
                )
            if len(args) < 2:
                raise ValueError(
                    "system.cherrypick_snapshot needs"
                    " ('<path>', snapshot_id)"
                )
            from witdb_spark.sources.iceberg_meta import (
                iceberg_cherry_pick,
            )

            res = iceberg_cherry_pick(path, int(args[1]))
            return local_frame(
                self.spark,
                [(path, res["source_snapshot_id"],
                  res["current_snapshot_id"])],
                "path string, source_snapshot_id bigint,"
                " current_snapshot_id bigint",
            )
        if proc == "fast_forward":
            # trino-iceberg's own fast_forward procedure: publish a
            # branch lineage (r13)
            if fmt != "iceberg":
                raise ValueError(
                    f"system.fast_forward is an Iceberg procedure;"
                    f" {path} is a {fmt} table"
                )
            from witdb_spark.sources.iceberg_meta import (
                iceberg_fast_forward,
            )

            if len(args) < 3:
                raise ValueError(
                    "system.fast_forward needs ('<path>', '<branch>',"
                    " '<to>')"
                )
            res = iceberg_fast_forward(path, args[1], args[2])
            return local_frame(
                self.spark,
                [(path, res["branch"], res["previous_head"],
                  res["current_head"])],
                "path string, branch string, previous_head bigint,"
                " current_head bigint",
            )
        if proc == "clean":
            # real Hudi's cleaner (KEEP_LATEST_COMMITS analog)
            from witdb_spark.sources.hudi_meta import hudi_clean

            keep = int(args[1]) if len(args) > 1 else 1
            res = hudi_clean(path, keep_last=keep)
            return local_frame(
                self.spark, [(path, res["retained_instants"], res["deleted_files"])],
                "path string, retained_instants bigint,"
                " deleted_files bigint",
            )
        version = delta_checkpoint(
            self.spark, path,
            v2=(len(args) > 1 and str(args[1]).lower() == "v2"),
        )
        return local_frame(
            self.spark, [(path, version)], "path string, checkpointed_version bigint"
        )

    # path-table spelling for the SQL DML front door: the reference
    # addresses writable connector tables as catalog.schema.table; path
    # tables here spell <format>.'<path>' (same convention as the CALL
    # procedures taking table paths)
    _DML_TABLE = r"(delta|iceberg|hudi)\s*\.\s*'(?P<path>[^']+)'"

    # the reference spells CDC access TABLE(system.table_changes(
    # schema_name, table_name, since_version)); path tables here take
    # TABLE(system.table_changes('<path>'[, since[, end]])) with an
    # optional delta. qualifier — same convention as the procedures
    _TABLE_CHANGES = re.compile(
        r"TABLE\s*\(\s*system\s*\.\s*table_changes\s*\(\s*"
        r"(?:delta\s*\.\s*)?'(?P<path>[^']+)'\s*"
        r"(?:,\s*(?P<start>\d+)\s*)?(?:,\s*(?P<end>\d+)\s*)?\)\s*\)",
        re.I,
    )

    def _rewrite_table_changes(self, text: str) -> str:
        """``TABLE(system.table_changes('<path>', since[, end]))`` ->
        a temp view over sources/delta_log.delta_table_changes
        (reference plugin/trino-delta-lake tablechanges/
        TableChangesFunction.java). Matches inside string literals are
        left alone."""
        from witdb_spark.plans.dialect import _scan_maps
        from witdb_spark.sources.delta_log import delta_table_changes

        _depths, instr = _scan_maps(text)
        out = text
        n = 0
        for m in reversed(list(self._TABLE_CHANGES.finditer(text))):
            if instr[m.start()]:
                continue
            df = delta_table_changes(
                self.spark,
                m.group("path"),
                int(m.group("start") or 0),
                int(m.group("end")) if m.group("end") else None,
            )
            name = f"__table_changes_{n}"
            n += 1
            df.createOrReplaceTempView(name)
            out = out[: m.start()] + name + out[m.end():]
        return out

    def _rewrite_lakehouse_refs(self, text: str) -> str:
        """SELECT over ``fmt.'/path'`` table spellings (the reference's
        catalog-qualified table access, served by its delta/iceberg/hudi
        connectors): each distinct ref registers a temp view over the
        jar-free reader, and a simple single-table statement pushes its
        WHERE into the reader — Delta stats skipping / Iceberg manifest
        pruning / Hudi partition-dir pruning straight from SQL text.
        Pushdown is best-effort and sound: readers re-apply the full
        predicate, and any shape doubt (joins, subqueries, qualified
        column refs, a ref inside a string literal) falls back to the
        plain unpruned view."""
        import re as _re

        from witdb_spark.plans.dialect import _scan_maps
        from witdb_spark.sources.lakehouse import read_table

        if _re.match(
            r"^\s*(EXPLAIN|MERGE|UPDATE|DELETE|INSERT|CALL)\b",
            text, _re.I,
        ):
            # DML spellings belong to _sql_lakehouse_dml / the
            # procedures; EXPLAIN recurses into sql() for SELECTs, so
            # its inner query still gets the rewrite there
            return text
        pat = _re.compile(
            r"(delta|iceberg|hudi)\s*\.\s*'(?P<path>[^']+)'", _re.I
        )
        _depths, instr = _scan_maps(text)
        refs = [m for m in pat.finditer(text) if not instr[m.start()]]
        if not refs:
            return text
        where = None
        # exactly ONE ref occurrence: the same path twice (a comma
        # self-join — FROM delta.'p' a, delta.'p' b) shares one temp
        # view, so a pushed one-side predicate would wrongly filter
        # the other side too (the \bJOIN\b guard can't see commas)
        if len(refs) == 1 and not _re.search(
            r"\bJOIN\b|\(\s*SELECT\b", text, _re.I
        ):
            wm = _re.search(
                r"\bWHERE\b(?P<pred>.*?)(?:\bGROUP\s+BY\b|\bHAVING\b"
                r"|\bORDER\s+BY\b|\bLIMIT\b|\bOFFSET\b|;|$)",
                text, _re.I | _re.S,
            )
            if wm:
                pred = transpile(wm.group("pred").strip())
                # r11: a single-table statement may alias its ref
                # (FROM delta.'p' t WHERE t.col = ...) — the one alias
                # in scope resolves safely by stripping its qualifier
                # (t.col IS col against the reader's view). Alias
                # detection refuses clause keywords.
                am = _re.search(
                    self._DML_TABLE + r"\s+(?:AS\s+)?(?P<alias>[A-Za-z_]\w*)",
                    text,
                    _re.I,
                )
                if am and am.group("alias").upper() not in (
                    "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
                    "OFFSET", "UNION", "INTERSECT", "EXCEPT", "JOIN",
                    "ON", "FETCH", "WINDOW", "CROSS", "INNER", "LEFT",
                    "RIGHT", "FULL", "NATURAL", "TABLESAMPLE",
                ):
                    alias = am.group("alias")
                    # literal-aware strip: alias. only outside strings
                    parts = _re.split(r"('(?:[^']|'')*')", pred)
                    rx = _re.compile(
                        rf"\b{_re.escape(alias)}\s*\.\s*(?=[A-Za-z_])",
                        _re.I,
                    )
                    pred = "".join(
                        p if i % 2 else rx.sub("", p)
                        for i, p in enumerate(parts)
                    )
                # any OTHER qualified ref would not resolve inside the
                # reader's re-applied filter — no pushdown then
                code = _re.sub(r"'(?:[^']|'')*'", "''", pred)
                if not _re.search(r"[A-Za-z_]\w*\s*\.\s*[A-Za-z_]", code):
                    where = pred
        # r15 stats-fed join distribution (the reference CBO's
        # AUTOMATIC mode: broadcast the build side when its ESTIMATED
        # size fits the limit, estimates from connector statistics):
        # in a JOIN statement, a ref whose persisted ANALYZE size fits
        # under spark.sql.autoBroadcastJoinThreshold gets a broadcast
        # hint — ANALYZE sees post-DV/post-delete cardinality that
        # Spark's file-byte estimate cannot, so a heavily-deleted dim
        # flips from sort-merge to broadcast exactly when the stats
        # say it should. Unanalyzed tables keep Spark's own estimate.
        has_join = _re.search(r"\bJOIN\b", text, _re.I) is not None
        bcast_limit = _parse_byte_conf(
            self.spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10MB"
            )
        )
        views: dict[tuple[str, str], str] = {}
        out = text
        for m in reversed(refs):
            key = (m.group(1).lower(), m.group("path"))
            if key not in views:
                # per-statement names reused across statements (a
                # resolved plan keeps its view's snapshot — temp view
                # resolution is analysis-time), so views never
                # accumulate on the shared session
                name = f"__lake_ref_{len(views)}"
                df = None
                if "$" in key[1]:
                    # fmt.'<path>$<name>' — the reference's system
                    # metadata tables ("table$history" spelling). Only
                    # a KNOWN suffix routes here; a plain directory
                    # whose name contains '$' (/data/proj$v2/tbl)
                    # stays a normal table read
                    from witdb_spark.sources.meta_tables import (
                        is_metadata_name,
                        metadata_table,
                    )

                    tbl_path, _, meta_name = key[1].rpartition("$")
                    if is_metadata_name(key[0], meta_name):
                        df = metadata_table(
                            self.spark, key[0], tbl_path, meta_name
                        )
                if df is None and where is not None:
                    try:
                        df = read_table(
                            self.spark, key[0], key[1], where=where
                        )
                    except Exception:
                        df = None  # exotic predicate: unpruned view
                if df is None:
                    df = read_table(self.spark, key[0], key[1])
                if has_join and bcast_limit > 0 and "$" not in key[1]:
                    est = self._cbo_broadcast_size(key[0], key[1])
                    if est is not None and est <= bcast_limit:
                        df = df.hint("broadcast")
                df.createOrReplaceTempView(name)
                views[key] = name
            out = out[: m.start()] + views[key] + out[m.end():]
        # drop any prior statement's views this one didn't replace
        for stale in self._lake_ref_views[len(views):]:
            try:
                self.spark.catalog.dropTempView(stale)
            except Exception:
                pass
        self._lake_ref_views = [
            f"__lake_ref_{i}" for i in range(len(views))
        ]
        return out

    def _sql_lakehouse_dml(self, text: str):
        """SQL-text DML on jar-free lakehouse path tables — the
        reference's front door for DELETE/UPDATE/MERGE (io.trino.sql.tree
        Delete/Update/Merge; the delta/iceberg connectors execute them).
        Returns a one-row summary DataFrame, or None when ``text`` is
        not a lakehouse DML statement."""
        import re as _re

        from witdb_spark.plans.dialect import UnsupportedTrinoSyntax

        def fragment(sql_fragment: str) -> str:
            # Trino-dialect fragments (ARRAY literals, functions) go
            # through the same textual rewrites full statements do
            return transpile(sql_fragment)

        m = _re.match(
            r"^\s*INSERT\s+INTO\s+" + self._DML_TABLE
            + r"\s*(?:\((?P<cols>[^)]*)\)\s*)?(?P<q>(?:SELECT|VALUES|"
            r"TABLE|WITH)\b.+?)\s*;?\s*$",
            text, _re.I | _re.S,
        )
        if m:
            # the reference's INSERT front door (io.trino.sql.tree
            # Insert; delta/iceberg connectors execute it — the hudi
            # connector there is read-only, this repo's writers go
            # further): evaluate the query, align columns to the
            # target schema (positionally, or by the explicit column
            # list with NULLs for unlisted columns), append.
            fmt, path = m.group(1).lower(), m.group("path")
            from pyspark.sql import functions as F

            from witdb_spark.sources.lakehouse import read_table

            target = read_table(self.spark, fmt, path).schema
            if fmt == "hudi":
                # the hoodie meta columns are writer-stamped, never
                # user-supplied
                from pyspark.sql.types import StructType as _ST

                target = _ST(
                    [
                        f for f in target.fields
                        if not f.name.startswith("_hoodie_")
                    ]
                )
            df = self.sql(m.group("q"))
            if m.group("cols"):
                listed = [
                    c.strip().strip('"')
                    for c in m.group("cols").split(",")
                ]
                unknown = [
                    c for c in listed
                    if c not in [f.name for f in target.fields]
                ]
                if unknown:
                    raise ValueError(
                        f"INSERT column(s) {unknown} not in the table"
                    )
                if len(listed) != len(df.columns):
                    raise ValueError(
                        "INSERT column list and query arity differ"
                    )
                by_name = dict(zip(listed, df.columns))
                df = df.select(
                    *[
                        F.col(by_name[f.name]).cast(f.dataType).alias(
                            f.name
                        )
                        if f.name in by_name
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in target.fields
                    ]
                )
            else:
                if len(df.columns) != len(target.fields):
                    raise ValueError(
                        f"INSERT query has {len(df.columns)} columns,"
                        f" table has {len(target.fields)}"
                    )
                df = df.select(
                    *[
                        F.col(c).cast(f.dataType).alias(f.name)
                        for c, f in zip(df.columns, target.fields)
                    ]
                )
            # persist before counting: single evaluation for the
            # count AND the write (r12 ADVICE — a non-deterministic
            # query must commit exactly the rows it reports)
            df = df.persist()
            try:
                n = df.count()
                if fmt == "delta":
                    from witdb_spark.sources.delta_log import (
                        write_delta,
                    )

                    write_delta(self.spark, df, path, mode="append")
                elif fmt == "iceberg":
                    from witdb_spark.sources.iceberg_meta import (
                        write_iceberg,
                    )

                    write_iceberg(self.spark, df, path, mode="append")
                else:
                    from witdb_spark.sources.hudi_meta import (
                        _properties,
                        hudi_log_insert,
                        write_hudi,
                    )

                    if (
                        _properties(path).get("hoodie.table.type")
                        == "MERGE_ON_READ"
                    ):
                        hudi_log_insert(self.spark, path, df)
                    else:
                        write_hudi(self.spark, df, path, mode="append")
            finally:
                df.unpersist()
            return local_frame(
                self.spark, [(path, n)], "path string, rows bigint"
            )
        m = _re.match(
            r"^\s*DELETE\s+FROM\s+" + self._DML_TABLE
            + r"(?:\s+WHERE\s+(?P<pred>.+?))?\s*;?\s*$",
            text, _re.I | _re.S,
        )
        if m:
            fmt, path = m.group(1).lower(), m.group("path")
            # no WHERE = every row (ANSI DELETE semantics)
            pred = fragment(m.group("pred")) if m.group("pred") else "true"
            res = self._dml_dispatch(fmt, "delete", path, pred)
            return local_frame(
                self.spark, [(path, str(res))], "path string, result string"
            )
        m = _re.match(
            r"^\s*UPDATE\s+" + self._DML_TABLE + r"\s+SET\s+",
            text, _re.I,
        )
        if m:
            from witdb_spark.plans.dialect import (
                _scan_maps,
                _split_call_args,
            )

            fmt, path = m.group(1).lower(), m.group("path")
            tail = text[m.end() :].rstrip().rstrip(";")
            # the SET/WHERE boundary is the first TOP-LEVEL WHERE
            # outside string literals — a WHERE inside a string or a
            # scalar-subquery assignment must not split the statement
            depths, instr = _scan_maps(tail)
            wm = next(
                (
                    mm
                    for mm in _re.finditer(r"\bWHERE\b", tail, _re.I)
                    if depths[mm.start()] == 0 and not instr[mm.start()]
                ),
                None,
            )
            sets_text = tail[: wm.start()] if wm else tail
            pred = (
                fragment(tail[wm.end() :].strip()) if wm else "true"
            )
            assignments = {}
            # _split_call_args, not _split_top_level: assignment RHS
            # can contain comparison operators (< > would be taken as
            # brackets and swallow the comma)
            for item in _split_call_args(sets_text):
                am = _re.match(
                    r"^\s*([A-Za-z_]\w*)\s*=\s*(.+)$", item, _re.S
                )
                if am is None:
                    raise UnsupportedTrinoSyntax(
                        f"cannot parse UPDATE assignment: {item!r}"
                    )
                assignments[am.group(1)] = fragment(am.group(2).strip())
            res = self._dml_dispatch(
                fmt, "update", path, pred, assignments
            )
            return local_frame(
                self.spark, [(path, str(res))], "path string, result string"
            )
        m = _re.match(
            r"^\s*MERGE\s+INTO\s+" + self._DML_TABLE
            + r"(?:\s+AS)?(?:\s+(?P<talias>[A-Za-z_]\w*))?\s+USING\s+",
            text, _re.I | _re.S,
        )
        if m:
            return self._sql_merge(text, m)
        return None

    def _sql_merge(self, text: str, head):
        import re as _re

        from pyspark.sql import functions as F

        from witdb_spark.plans.dialect import (
            UnsupportedTrinoSyntax,
            _match_paren,
            _scan_maps,
            _split_call_args,
        )

        def remap_aliases(expr: str, mapping: dict[str, str]) -> str:
            # alias. -> tgt./src. outside string literals, in ONE pass:
            # sequential passes would re-rewrite their own output when a
            # user alias is literally named 'src' or 'tgt'
            live = {k: v for k, v in mapping.items() if k}
            if not live:
                return expr
            _, instr = _scan_maps(expr)
            pat = r"\b(%s)\s*\." % "|".join(
                _re.escape(k) for k in live
            )
            pieces, last = [], 0
            for mm in _re.finditer(pat, expr):
                if instr[mm.start()]:
                    continue
                pieces.append(
                    expr[last : mm.start()] + live[mm.group(1)] + "."
                )
                last = mm.end()
            pieces.append(expr[last:])
            return "".join(pieces)

        fmt, path = head.group(1).lower(), head.group("path")
        talias = head.group("talias") or ""
        pos = head.end()
        rest = text[pos:]
        if rest.lstrip().startswith("("):
            open_idx = text.index("(", pos)
            close_idx = _match_paren(text, open_idx)
            source = self.sql(text[open_idx + 1 : close_idx])
            pos = close_idx + 1
        else:
            sm = _re.match(r"\s*([A-Za-z_][\w.]*)", rest)
            if sm is None:
                raise UnsupportedTrinoSyntax(
                    "MERGE USING expects a view/table name or a"
                    " parenthesized query"
                )
            source = self.spark.table(sm.group(1))
            pos += sm.end()
        sm = _re.match(
            r"(?:\s+AS)?\s+(?P<salias>[A-Za-z_]\w*)?\s*ON\s+", text[pos:],
            _re.I,
        )
        if sm is None:
            raise UnsupportedTrinoSyntax("MERGE: expected [alias] ON ...")
        salias = sm.group("salias") or ""
        pos += sm.end()
        # clause list starts at the first top-level WHEN after ON
        depths, instr = _scan_maps(text)
        wm = None
        for mm in _re.finditer(r"\bWHEN\b", text, _re.I):
            if mm.start() >= pos and not instr[mm.start()] and depths[
                mm.start()
            ] == 0:
                wm = mm
                break
        if wm is None:
            raise UnsupportedTrinoSyntax("MERGE: no WHEN clauses")
        on_text = text[pos : wm.start()]
        on_cols = []
        for part in _re.split(r"(?i)\bAND\b", on_text):
            em = _re.match(
                r"^\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*=\s*"
                r"([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*$",
                part,
            )
            if em is None or em.group(2) != em.group(4):
                raise UnsupportedTrinoSyntax(
                    "MERGE ON must be equi-conditions on same-named"
                    f" columns; got {part!r}"
                )
            on_cols.append(em.group(2))
        mapping = {salias: "src", talias: "tgt"}
        kwargs: dict = {"insert_not_matched": False}
        clause_text = text[wm.start() :].rstrip().rstrip(";")
        # split on top-level WHEN
        cd, cinstr = _scan_maps(clause_text)
        starts = [
            mm.start()
            for mm in _re.finditer(r"\bWHEN\b", clause_text, _re.I)
            if cd[mm.start()] == 0 and not cinstr[mm.start()]
        ]
        clauses = [
            clause_text[s:e].strip()
            for s, e in zip(starts, starts[1:] + [len(clause_text)])
        ]
        clause_order: list[str] = []
        for cl in clauses:
            cm = _re.match(
                r"(?is)^WHEN\s+MATCHED(?:\s+AND\s+(?P<cond>.+?))?\s+THEN"
                r"\s+(?P<act>UPDATE\s+SET\s+.+|DELETE)$",
                cl,
            )
            nm = _re.match(
                r"(?is)^WHEN\s+NOT\s+MATCHED(?:\s+AND\s+(?P<icond>.+?))?"
                r"\s+THEN\s+INSERT\b(?P<ins>.*)$",
                cl,
            )
            if cm:
                act = cm.group("act")
                if act.upper() == "DELETE":
                    cond = cm.group("cond")
                    kwargs["when_matched_delete"] = F.expr(
                        remap_aliases(transpile(cond), mapping)
                        if cond
                        else "true"
                    )
                    clause_order.append("delete")
                else:
                    if "when_matched_update" in kwargs:
                        raise UnsupportedTrinoSyntax(
                            "MERGE: at most one WHEN MATCHED ... UPDATE"
                            " clause is supported"
                        )
                    if cm.group("cond"):
                        # reference tree/MergeUpdate.java: per-clause
                        # condition — gate the update to matched rows
                        # satisfying it
                        kwargs["when_matched_update_cond"] = F.expr(
                            remap_aliases(
                                transpile(cm.group("cond")), mapping
                            )
                        )
                    sets = {}
                    set_text = _re.sub(
                        r"(?is)^UPDATE\s+SET\s+", "", act
                    )
                    for item in _split_call_args(set_text):
                        am = _re.match(
                            r"^\s*([A-Za-z_]\w*)\s*=\s*(.+)$", item, _re.S
                        )
                        if am is None:
                            raise UnsupportedTrinoSyntax(
                                f"cannot parse MERGE SET: {item!r}"
                            )
                        sets[am.group(1)] = F.expr(
                            remap_aliases(
                                transpile(am.group(2).strip()), mapping
                            )
                        )
                    kwargs["when_matched_update"] = sets
                    clause_order.append("update")
            elif nm:
                if kwargs.get("insert_not_matched"):
                    raise UnsupportedTrinoSyntax(
                        "MERGE: at most one WHEN NOT MATCHED ... INSERT"
                        " clause is supported"
                    )
                ins = nm.group("ins").strip()
                if ins:
                    im = _re.match(
                        r"(?is)^\((?P<cols>[^)]*)\)\s*VALUES\s*"
                        r"\((?P<vals>.*)\)$",
                        ins,
                    )
                    if im is None:
                        raise UnsupportedTrinoSyntax(
                            "MERGE: INSERT expects no column list"
                            " (identity insert) or (c1, ..) VALUES"
                            " (expr1, ..)"
                        )
                    cols = [
                        c.strip() for c in im.group("cols").split(",")
                    ]
                    vals = [
                        v.strip()
                        for v in _split_call_args(im.group("vals"))
                    ]
                    if len(cols) != len(vals) or not all(
                        _re.fullmatch(r"[A-Za-z_]\w*", c) for c in cols
                    ):
                        raise UnsupportedTrinoSyntax(
                            "MERGE: INSERT column list and VALUES"
                            " must pair plain column names with one"
                            " expression each"
                        )
                    identity = [
                        _re.sub(r"^\s*[A-Za-z_]\w*\s*\.\s*", "", v)
                        for v in vals
                    ]
                    if not (
                        cols == identity
                        and set(cols) == set(source.columns)
                    ):
                        # reference tree/MergeInsert.java: a column
                        # list projects the inserted row; unlisted
                        # target columns become NULL
                        kwargs["insert_values"] = {
                            c: F.expr(
                                remap_aliases(transpile(v), mapping)
                            )
                            for c, v in zip(cols, vals)
                        }
                if nm.group("icond"):
                    kwargs["insert_cond"] = F.expr(
                        remap_aliases(
                            transpile(nm.group("icond")), mapping
                        )
                    )
                kwargs["insert_not_matched"] = True
            else:
                raise UnsupportedTrinoSyntax(
                    f"cannot parse MERGE clause: {cl[:80]!r}"
                )
        if clause_order == ["update", "delete"]:
            # SQL MERGE is first-matching-clause-wins in WRITTEN order;
            # the executor evaluates DELETE before UPDATE, which is only
            # equivalent when DELETE is written first
            raise UnsupportedTrinoSyntax(
                "MERGE: write the WHEN MATCHED ... DELETE clause before"
                " the UPDATE clause (first-match-wins order is preserved"
                " only in that spelling)"
            )
        res = self._dml_dispatch(
            fmt, "merge", path, None, None, source, on_cols, kwargs
        )
        return local_frame(
            self.spark, [(path, str(res))], "path string, result string"
        )

    def _dml_dispatch(
        self, fmt, op, path, pred=None, assignments=None,
        source=None, on_cols=None, merge_kwargs=None,
    ):
        if fmt == "delta":
            from witdb_spark.sources import delta_log as M

            fns = {
                "delete": lambda: M.delta_delete_where(
                    self.spark, path, pred
                ),
                "update": lambda: M.delta_update_where(
                    self.spark, path, pred, assignments
                ),
                "merge": lambda: M.delta_merge_into(
                    self.spark, path, source, on_cols, **merge_kwargs
                ),
            }
        elif fmt == "iceberg":
            from witdb_spark.sources import iceberg_meta as M

            fns = {
                "delete": lambda: M.iceberg_delete_where(
                    self.spark, path, pred
                ),
                "update": lambda: M.iceberg_update_where(
                    self.spark, path, pred, assignments
                ),
                "merge": lambda: M.iceberg_merge_into(
                    self.spark, path, source, on_cols, **merge_kwargs
                ),
            }
        else:
            from witdb_spark.sources import hudi_meta as M

            fns = {
                "delete": lambda: M.hudi_delete_where(
                    self.spark, path, pred
                ),
                "update": lambda: M.hudi_update_where(
                    self.spark, path, pred, assignments
                ),
                "merge": lambda: M.hudi_merge_into(
                    self.spark, path, source, on_cols, **merge_kwargs
                ),
            }
        return fns[op]()

    def _prop_enabled(self, conf: str) -> bool:
        try:
            return self.spark.conf.get(conf, "false").lower() == "true"
        except Exception:
            return False

    def _materialize_repeated_ctes(self, sql: str, threshold: int = 3) -> str:
        """Opt-in (SET SESSION materialize_repeated_ctes=true): a
        top-level WITH body referenced >= `threshold` times is computed
        ONCE via localCheckpoint and the references retargeted to the
        checkpointed view. Spark inlines CTEs per reference (and Trino
        411 does too — reference sql/planner/ ... both re-plan the body
        per arm), so the year-total family (tpcds q4/q11/q74) reads the
        fact table once per self-join arm; at 100x scale materializing
        a body scanned 6 times beats both engines' inlining. Off by
        default: checkpointing is eager and trades recompute for
        executor-local storage. Operates on TRANSPILED Spark SQL. Bails
        (returns the text unchanged) on WITH RECURSIVE, parameterized
        queries, or any unexpected shape. The CTE keeps its NAME — its
        body is swapped for SELECT * FROM the checkpointed view, so no
        reference retargeting happens and a column sharing the CTE's
        name (tpcds q4's year_total output column) is unaffected."""
        from witdb_spark.plans.dialect import _match_paren, _scan_maps

        head = re.match(r"\s*WITH\s+", sql, re.I)
        if head is None or re.match(r"\s*WITH\s+RECURSIVE\b", sql, re.I):
            return sql

        def code_refs(text: str, name: str):
            _, instr = _scan_maps(text)
            return [
                mm
                for mm in re.finditer(r"\b%s\b" % re.escape(name), text)
                if not instr[mm.start()]
            ]

        pos = head.end()
        ctes: list[tuple[str, str]] = []
        while True:
            nm = re.match(r"\s*([A-Za-z_]\w*)\s+AS\s*\(", sql[pos:], re.I)
            if nm is None:
                return sql  # unexpected WITH shape: leave untouched
            open_idx = pos + nm.end() - 1
            try:
                close_idx = _match_paren(sql, open_idx)
            except Exception:
                return sql
            ctes.append((nm.group(1), sql[open_idx + 1 : close_idx]))
            after = re.match(r"\s*,", sql[close_idx + 1 :])
            if after is None:
                main = sql[close_idx + 1 :]
                break
            pos = close_idx + 1 + after.end()

        kept: list[tuple[str, str]] = []
        changed = False
        for i, (name, body) in enumerate(ctes):
            rest = " ".join(b for _, b in ctes[i + 1 :]) + " " + main
            if len(code_refs(rest, name)) >= threshold:
                body_sql = body
                if kept:
                    body_sql = (
                        "WITH "
                        + ", ".join(f"{n} AS ({b})" for n, b in kept)
                        + " "
                        + body
                    )
                df = self.spark.sql(body_sql).localCheckpoint(eager=True)
                seq = len(getattr(self, "_cte_mat", []))
                view = f"__cte_mat_{seq}_{name}"
                df.createOrReplaceTempView(view)
                self._cte_mat = getattr(self, "_cte_mat", []) + [view]
                kept.append((name, f"SELECT * FROM {view}"))
                changed = True
            else:
                kept.append((name, body))
        if not changed:
            return sql
        return (
            "WITH "
            + ", ".join(f"{n} AS ({b})" for n, b in kept)
            + " "
            + main
        )

    def _refresh_information_schema(self) -> None:
        """Populate __information_schema_{tables,columns,views} temp views
        from the live session catalog — Trino's layouts
        (table_catalog/table_schema/table_name[/column_name/ordinal_position/
        is_nullable/data_type]), reference InformationSchemaMetadata.java."""
        cat = self.spark.catalog.currentCatalog()
        tables = []
        for t in self.spark.catalog.listTables():
            if t.name.startswith("__"):
                continue  # engine internals (__information_schema_*, __mr_rel_*)
            kind = "VIEW" if t.tableType in ("VIEW", "TEMPORARY") else "BASE TABLE"
            tables.append((cat, t.namespace[0] if t.namespace else "default", t.name, kind))
        local_frame(
            self.spark, tables,
            "table_catalog string, table_schema string, table_name string,"
            " table_type string",
        ).createOrReplaceTempView("__information_schema_tables")
        cols = []
        for _, schema, name, _ in tables:
            try:
                for i, f in enumerate(self.spark.table(name).schema.fields):
                    cols.append(
                        (cat, schema, name, f.name, i + 1,
                         "YES" if f.nullable else "NO",
                         f.dataType.simpleString())
                    )
            except Exception:
                continue  # dropped concurrently / unresolvable
        local_frame(
            self.spark, cols,
            "table_catalog string, table_schema string, table_name string,"
            " column_name string, ordinal_position int, is_nullable string,"
            " data_type string",
        ).createOrReplaceTempView("__information_schema_columns")
        views = [(cat, "default", n, sql) for n, sql in self._views.items()]
        local_frame(
            self.spark, views,
            "table_catalog string, table_schema string, table_name string,"
            " view_definition string",
        ).createOrReplaceTempView("__information_schema_views")

    # -- views (reference CreateViewTask.java:99 stores the SQL text;
    # analysis re-expands it per query) ------------------------------------

    def create_view(
        self, name: str, trino_sql: str, replace: bool = False
    ) -> DataFrame:
        """CREATE [OR REPLACE] VIEW name AS query."""
        if not replace and name in self._views:
            raise ValueError(f"View already exists: {name!r}")
        self._register_view(name, trino_sql)
        self._views[name] = trino_sql.strip()
        self._save_views()
        return local_frame(self.spark, [], NO_COLUMNS)

    def _register_view(self, name: str, trino_sql: str) -> None:
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {transpile(trino_sql)}"
        )
        self._views[name] = trino_sql.strip()

    def drop_view(self, name: str, if_exists: bool = False) -> None:
        """DROP VIEW [IF EXISTS] name (reference DropViewTask.java)."""
        if name not in self._views:
            if if_exists:
                return
            raise KeyError(f"View not found: {name!r}")
        del self._views[name]
        self.spark.catalog.dropTempView(name)
        self._save_views()

    def views(self) -> dict[str, str]:
        """SHOW VIEWS analog: {name: original Trino SQL}."""
        return dict(self._views)

    def _save_views(self) -> None:
        if self.view_store:
            with open(self.view_store, "w") as f:
                json.dump(self._views, f, indent=1)

    # -- materialized views (reference CreateMaterializedViewTask.java /
    # RefreshMaterializedViewTask.java: MV = stored definition + storage
    # table refreshed on demand; here storage is a parquet directory and the
    # registered view reads those files, so queries against the MV never
    # recompute until REFRESH rewrites the storage) ------------------------

    def create_materialized_view(
        self, name: str, trino_sql: str, replace: bool = False
    ) -> DataFrame:
        if not hasattr(self, "_mviews"):
            self._mviews: dict[str, str] = {}
        if not replace and name in self._mviews:
            raise ValueError(f"Materialized view already exists: {name!r}")
        self._mviews[name] = trino_sql.strip()
        return self.refresh_materialized_view(name)

    def refresh_materialized_view(self, name: str) -> DataFrame:
        mviews = getattr(self, "_mviews", {})
        if name not in mviews:
            raise KeyError(f"Materialized view not found: {name!r}")
        path = os.path.join(self._mv_dir(), name)
        self.sql(mviews[name]).write.mode("overwrite").parquet(path)
        stored = self.spark.read.parquet(path)
        stored.createOrReplaceTempView(name)
        return stored

    def drop_materialized_view(self, name: str, if_exists: bool = False) -> None:
        mviews = getattr(self, "_mviews", {})
        if name not in mviews:
            if if_exists:
                return
            raise KeyError(f"Materialized view not found: {name!r}")
        del mviews[name]
        self.spark.catalog.dropTempView(name)
        # DROP also reclaims the backing parquet storage (reference
        # DropMaterializedViewTask drops the storage table)
        import shutil

        shutil.rmtree(os.path.join(self._mv_dir(), name), ignore_errors=True)

    def materialized_views(self) -> dict[str, str]:
        return dict(getattr(self, "_mviews", {}))

    def _mv_dir(self) -> str:
        if not hasattr(self, "_mv_storage"):
            import tempfile

            self._mv_storage = tempfile.mkdtemp(prefix="witdb_mv_")
        return self._mv_storage

    def _resolve_registered_tables(self, text: str) -> str:
        """``fmt.<name>`` references for tables registered via CALL
        system.register_table (reference RegisterTableProcedure —
        registers an EXISTING table directory under a catalog name;
        here the catalog is the engine session) rewrite to the
        ``fmt.'<path>'`` spelling per statement, so every read/DML
        re-resolves the table's CURRENT state — a registered name is
        never a stale snapshot. String literals are skipped."""
        if not self._registered_tables:
            return text
        import re as _re

        from witdb_spark.plans.dialect import _scan_maps

        names = "|".join(
            _re.escape(n) for n in self._registered_tables
        )
        pat = _re.compile(
            rf"\b(delta|iceberg|hudi)\s*\.\s*({names})\b(?!\s*')",
            _re.I,
        )
        _depths, instr = _scan_maps(text)
        out, last = [], 0
        for m in pat.finditer(text):
            if instr[m.start()]:
                continue
            fmt, path = self._registered_tables[m.group(2).lower()]
            if fmt != m.group(1).lower():
                raise ValueError(
                    f"table {m.group(2)!r} is registered as {fmt}, not"
                    f" {m.group(1).lower()}"
                )
            out.append(text[last : m.start()])
            out.append(f"{fmt}.'{path}'")
            last = m.end()
        out.append(text[last:])
        return "".join(out)

    @staticmethod
    def _extended_stats_file(path: str) -> str:
        # trino-delta-lake's sidecar location (ExtendedStatistics /
        # MetaDirStatisticsAccess: <table>/_trino_meta/
        # extended_stats.json). The reference serializes NDV as an
        # airlift HLL blob; jar-free we persist the resolved number
        # (documented divergence — same location, same role). The
        # canonical path lives next to the write paths that maintain
        # the sidecar (delta_log.extended_stats_file).
        from witdb_spark.sources.delta_log import extended_stats_file

        return extended_stats_file(path)

    def _load_extended_stats(self, path: str) -> dict | None:
        import json as _json

        f = self._extended_stats_file(path)
        if not os.path.exists(f):
            return None
        with open(f) as fh:
            return _json.load(fh).get("columnStatistics") or None

    def _cbo_broadcast_size(self, fmt: str, path: str) -> float | None:
        """Persisted-ANALYZE table size for join-distribution choices
        (r15 — the reference's CBO consumes connector statistics the
        same way; here the delta sidecar / iceberg Puffin entry): the
        POST-delete live-data estimate ANALYZE computed, or None when
        the table was never analyzed (the caller then leaves Spark's
        own file-byte estimate in charge). Advisory by construction —
        any read failure is None, never an error."""
        import json as _json

        try:
            if fmt == "delta":
                f = self._extended_stats_file(path)
                if not os.path.exists(f):
                    return None
                with open(f) as fh:
                    v = _json.load(fh).get("tableSizeBytes")
                return float(v) if v is not None else None
            if fmt == "iceberg":
                from witdb_spark.sources.iceberg_meta import (
                    _current_metadata,
                )

                meta = _current_metadata(path)
                cur = meta.get("current-snapshot-id")
                entry = next(
                    (
                        s
                        for s in (meta.get("statistics") or [])
                        if s.get("snapshot-id") == cur
                    ),
                    None,
                )
                if entry is None:
                    return None
                for bm in entry.get("blob-metadata") or []:
                    v = (bm.get("properties") or {}).get(
                        "witdb-table-size-bytes"
                    )
                    if v is not None:
                        return float(v)
                return None
        except (OSError, ValueError, KeyError):
            return None
        return None  # hudi has no ANALYZE (reference parity)

    def _analyze_table(self, fmt: str, path: str) -> DataFrame:
        """ANALYZE delta.'<path>' (reference AnalyzeTask +
        trino-delta-lake's extended statistics): collects per-column
        NDV — persisted as the md5-HLL register sketch itself, the
        jar-free analog of the reference's airlift HLL blobs — and
        data size, to _trino_meta/extended_stats.json; SHOW STATS
        serves them until CALL system.drop_extended_stats removes the
        sidecar. Lifecycle mirrors the reference (r14, ADVICE r13):
        APPENDs through this engine's delta writer MERGE the new
        batch's sketch into the sidecar (union = per-register MAX) and
        add its byte sizes, so served NDV/data_size track inserts;
        destructive writes (overwrite/DELETE/UPDATE/MERGE/TRUNCATE/
        RESTORE) DROP the sidecar — an HLL cannot subtract — and SHOW
        STATS falls back to live computation. ANALYZE iceberg.'<path>'
        (r14) persists Puffin statistics files with theta sketches —
        the reference trino-iceberg's own artifact
        (iceberg_meta.iceberg_analyze); hudi has no ANALYZE."""
        import json as _json

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if fmt == "iceberg":
            # r14: Puffin statistics files with theta sketches — the
            # reference trino-iceberg's own ANALYZE artifact
            # (sources/puffin.py implements both public formats)
            from witdb_spark.sources.iceberg_meta import iceberg_analyze

            r = iceberg_analyze(self.spark, path)
            return local_frame(
                self.spark,
                [
                    (
                        path,
                        r["analyzed_columns"],
                        r["row_count"],
                        r["statistics_path"],
                    )
                ],
                "path string, analyzed_columns bigint,"
                " row_count double, statistics_path string",
            )
        if fmt != "delta":
            raise ValueError(
                f"ANALYZE on {fmt} is not supported jar-free"
                " (the reference has no hudi ANALYZE);"
                " SHOW STATS computes live statistics instead"
            )
        from witdb_spark.sources.delta_log import (
            column_hll_registers,
            hll_estimate_py,
        )
        from witdb_spark.sources.lakehouse import read_table

        df = read_table(self.spark, fmt, path)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for f in df.schema.fields:
            c = f.name
            if isinstance(f.dataType, (T.StringType, T.BinaryType)):
                aggs.append(
                    F.sum(F.octet_length(F.col(c)))
                    .cast("double")
                    .alias(f"{c}__sz")
                )
        r = df.agg(*aggs).collect()[0].asDict()
        sketches = column_hll_registers(df, df.columns)
        col_stats = {
            f.name: {
                "ndv": hll_estimate_py(sketches.get(f.name) or {}),
                "hll": {
                    str(k): v
                    for k, v in (sketches.get(f.name) or {}).items()
                },
                **(
                    {"totalSizeInBytes": r[f"{f.name}__sz"]}
                    if f"{f.name}__sz" in r
                    and r[f"{f.name}__sz"] is not None
                    else {}
                ),
            }
            for f in df.schema.fields
        }
        import time as _time

        out = {
            "modelVersion": 7,
            "alreadyAnalyzedModifiedTime": int(_time.time() * 1000),
            "analyzedColumns": [f.name for f in df.schema.fields],
            "columnStatistics": col_stats,
            # r15: table-level cardinality/size computed over the LIVE
            # rows (post-DV, post-delete) — the numbers the CBO layer
            # (_cbo_broadcast_size) feeds into join-distribution
            # choices; a file-byte estimate cannot see DV'd rows.
            # Jar-free extension keys of the reference's sidecar
            # (library readers ignore unknown JSON keys).
            "rowCount": float(r["__n"]),
            "tableSizeBytes": _cbo_size_estimate(
                df.schema, float(r["__n"]),
                {
                    f.name: r.get(f"{f.name}__sz")
                    for f in df.schema.fields
                },
            ),
        }
        target = self._extended_stats_file(path)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        tmp = target + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(out, fh)
        os.replace(tmp, target)
        return local_frame(
            self.spark, [(path, len(col_stats), float(r["__n"]))],
            "path string, analyzed_columns bigint, row_count double",
        )

    def show_stats(
        self, table: str, extended: dict | None = None
    ) -> DataFrame:
        """SHOW STATS FOR t — Trino's layout (reference
        sql/rewrite/ShowStatsRewrite.java): one row per column with
        data_size, distinct_values_count (approx), nulls_fraction,
        low_value, high_value, plus the trailing row_count summary row.
        Computed in ONE aggregation pass over the table (every stat is an
        ordinary partial/final agg) — unless ``extended`` carries a
        prior ANALYZE's persisted column statistics, which override
        NDV/data_size exactly like the reference serves its extended
        statistics sidecar."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = self.spark.table(table)
        aggs = [F.count(F.lit(1)).alias("__n")]
        numeric = (T.NumericType,)
        for f in df.schema.fields:
            c = f.name
            aggs.append(F.approx_count_distinct(c).alias(f"{c}__ndv"))
            aggs.append(F.count(F.col(c)).alias(f"{c}__nn"))
            if isinstance(f.dataType, numeric + (T.DateType, T.TimestampType, T.TimestampNTZType)):
                aggs.append(F.min(c).cast("string").alias(f"{c}__lo"))
                aggs.append(F.max(c).cast("string").alias(f"{c}__hi"))
            if isinstance(f.dataType, (T.StringType, T.BinaryType)):
                aggs.append(
                    F.sum(F.octet_length(F.col(c))).cast("double").alias(f"{c}__sz")
                )
        r = df.agg(*aggs).collect()[0].asDict()
        n = r["__n"]
        rows = []
        for f in df.schema.fields:
            c = f.name
            ext = (extended or {}).get(c) or {}
            rows.append(
                (
                    c,
                    ext.get("totalSizeInBytes", r.get(f"{c}__sz")),
                    float(ext.get("ndv", r[f"{c}__ndv"])),
                    (1.0 - r[f"{c}__nn"] / n) if n else 0.0,
                    r.get(f"{c}__lo"),
                    r.get(f"{c}__hi"),
                    None,
                )
            )
        rows.append((None, None, None, None, None, None, float(n)))
        return local_frame(
            self.spark, rows,
            "column_name string, data_size double, distinct_values_count"
            " double, nulls_fraction double, low_value string, high_value"
            " string, row_count double",
        )

    @staticmethod
    def _trino_type(spark_simple: str) -> str:
        """Spark simpleString -> the Trino spelling SHOW CREATE TABLE
        prints (reference TypeSignature rendering)."""
        t = spark_simple
        base = {
            "string": "varchar", "int": "integer", "integer": "integer",
            "bigint": "bigint", "long": "bigint", "smallint": "smallint",
            "tinyint": "tinyint", "double": "double", "float": "real",
            "boolean": "boolean", "date": "date", "binary": "varbinary",
            "timestamp": "timestamp(6) with time zone",
            "timestamp_ntz": "timestamp(6)",
        }
        if t in base:
            return base[t]
        for prefix, out in (
            ("decimal", "decimal"),
            ("array<", None),
            ("map<", None),
            ("struct<", None),
        ):
            if t.startswith(prefix):
                if prefix == "decimal":
                    return t  # decimal(p,s) spells the same
                return t  # nested types pass through spark-spelled
        return t

    def _show_create_lakehouse(self, fmt: str, path: str) -> DataFrame:
        """SHOW CREATE TABLE fmt.'<path>' — Trino's one-column layout
        with the connector's WITH(...) properties (r14): partitioning,
        location, and the table's own configuration/properties."""
        from witdb_spark.sources.lakehouse import read_table

        df = read_table(self.spark, fmt, path)
        props: list[tuple[str, str]] = []
        if fmt == "delta":
            from witdb_spark.sources.delta_log import (
                _snapshot_files_plan,
            )

            _, metadata, _v, _s, _f = _snapshot_files_plan(
                self.spark, path, None, None
            )
            part = list(metadata.get("partitionColumns") or [])
            if part:
                props.append(
                    (
                        "partitioned_by",
                        "ARRAY[" + ", ".join(f"'{c}'" for c in part) + "]",
                    )
                )
            for k, v in sorted(
                (metadata.get("configuration") or {}).items()
            ):
                props.append((k, f"'{v}'"))
        elif fmt == "iceberg":
            from witdb_spark.sources.iceberg_meta import (
                _current_metadata,
            )

            meta = _current_metadata(path)
            spec = next(
                (
                    s
                    for s in meta.get("partition-specs") or []
                    if s.get("spec-id") == meta.get("default-spec-id", 0)
                ),
                None,
            )
            fields = [f["name"] for f in (spec or {}).get("fields") or []]
            if fields:
                props.append(
                    (
                        "partitioning",
                        "ARRAY[" + ", ".join(f"'{f}'" for f in fields) + "]",
                    )
                )
            props.append(("format_version", str(meta.get("format-version", 2))))
            for k, v in sorted((meta.get("properties") or {}).items()):
                props.append((k, f"'{v}'"))
        else:
            from witdb_spark.sources.hudi_meta import _properties

            hp = _properties(path)
            for k in (
                "hoodie.table.type",
                "hoodie.table.recordkey.fields",
                "hoodie.table.partition.fields",
                "hoodie.populate.meta.fields",
            ):
                if hp.get(k):
                    props.append((k, f"'{hp[k]}'"))
        props.append(("location", f"'{path}'"))
        cols = ",\n   ".join(
            f"{f.name} {self._trino_type(f.dataType.simpleString())}"
            for f in df.schema.fields
        )
        with_block = ",\n   ".join(f"{k} = {v}" for k, v in props)
        ddl = (
            f"CREATE TABLE {fmt}.\"{path}\" (\n   {cols}\n)\n"
            f"WITH (\n   {with_block}\n)"
        )
        return local_frame(
            self.spark, [(ddl,)], "`Create Table` string"
        )

    def show_columns(self, table: str) -> DataFrame:
        """SHOW COLUMNS FROM t — Trino's four-column layout
        (Column, Type, Extra, Comment; reference ShowColumnsTask)."""
        rows = [
            (f.name, f.dataType.simpleString(), "", f.metadata.get("comment", ""))
            for f in self.spark.table(table).schema.fields
        ]
        return local_frame(
            self.spark, rows, "Column string, Type string, Extra string, Comment string"
        )

    def set_session(self, prop: str, value: str) -> None:
        """SET SESSION prop=value (reference SetSessionTask.java); unknown
        properties fall through to raw Spark conf names."""
        if prop == "join_distribution_type":
            # AUTOMATIC keeps broadcast; PARTITIONED disables broadcast joins
            value = "-1" if value.upper() == "PARTITIONED" else "67108864"
        self.spark.conf.set(SESSION_PROPERTIES.get(prop, prop), value)

    # plain EXPLAIN must never execute DML; only EXPLAIN ANALYZE runs
    # its statement (the reference's semantics — ExplainAnalyzeOperator
    # executes, ExplainTask plans)
    _DML_HEAD = re.compile(
        r"^\s*(DELETE\s+FROM|UPDATE|MERGE\s+INTO)\s+"
        r"(delta|iceberg|hudi)\s*\.\s*'",
        re.I,
    )

    def _describe_lakehouse_dml(self, inner: str) -> str | None:
        m = self._DML_HEAD.match(inner)
        if m is None:
            return None
        verb = " ".join(m.group(1).split()).upper()
        return (
            f"LakehouseDML[{verb} on a jar-free {m.group(2).lower()}"
            " path table]\n"
            f"  statement: {' '.join(inner.split())}\n"
            "  copy-on-write rewrite of matched files; EXPLAIN does not"
            " execute DML — run the statement (or EXPLAIN ANALYZE it)"
            " to commit"
        )

    def explain(self, text: str, analyze: bool = False) -> str:
        """EXPLAIN [ANALYZE] — formatted plan; with analyze=True the query
        runs and per-operator metrics come from the executed plan. A
        lakehouse DML statement is only EXECUTED under ANALYZE; plain
        EXPLAIN returns its description without committing anything."""
        dml_desc = self._describe_lakehouse_dml(text)
        if dml_desc is not None:
            if not analyze:
                return dml_desc
            summary = self.sql(text).collect()
            return dml_desc + f"\n  executed: {summary[0].asDict()}"
        df = self.sql(text)
        if analyze:
            df.collect()
        return df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    def tables(self) -> list[str]:
        """SHOW TABLES (reference information_schema / ShowTablesTask)."""
        return [t.name for t in self.spark.catalog.listTables()]

    def describe(self, table: str) -> list[tuple[str, str]]:
        """DESCRIBE table -> [(column, type)]."""
        return [
            (f.name, f.dataType.simpleString())
            for f in self.spark.table(table).schema.fields
        ]

    # -- PREPARE / EXECUTE / DEALLOCATE (reference PrepareTask.java,
    # ExecuteTask, DeallocateTask; parameters bound in the analyzer). Spark's
    # parameterized sql() does the actual binding, so values are passed as
    # literals-by-name, never string-spliced.

    def prepare(self, name: str, text: str) -> None:
        """PREPARE name FROM query — positional `?` parameters."""
        if not hasattr(self, "_prepared"):
            self._prepared: dict[str, str] = {}
        self._prepared[name] = text

    def execute(self, name: str, *args) -> DataFrame:
        """EXECUTE name USING arg1, arg2, ... — binds `?` left to right."""
        prepared = getattr(self, "_prepared", {})
        if name not in prepared:
            raise KeyError(f"prepared statement {name!r} does not exist")
        text = prepared[name]
        # strip comments so a '?' inside -- or /* */ is not a parameter
        text = re.sub(r"--[^\n]*", "", text)
        text = re.sub(r"/\*.*?\*/", "", text, flags=re.S)
        out, i = [], 0
        for chunk in re.split(r"('(?:[^']|'')*')", text):
            if chunk.startswith("'"):  # string literal: '?' is not a param
                out.append(chunk)
                continue
            while "?" in chunk:
                chunk = chunk.replace("?", f":p{i}", 1)
                i += 1
            out.append(chunk)
        if i != len(args):
            raise ValueError(f"{name!r} takes {i} parameters, got {len(args)}")
        return self.sql("".join(out), **{f"p{k}": v for k, v in enumerate(args)})

    def deallocate(self, name: str) -> None:
        """DEALLOCATE PREPARE name."""
        getattr(self, "_prepared", {}).pop(name, None)


def _register_versioned_methods() -> None:
    """Attach the versioned-table surface to Engine (kept out of the
    class body so the module-level regex tables above stay readable)."""

    import re as _re

    def register_versioned(self, name: str, path: str) -> None:
        """Register a sources/versioned.py table under a SQL name: bare
        references read the LATEST snapshot; `FOR VERSION|TIMESTAMP AS
        OF` reads the matching one (reference delta-lake/iceberg time
        travel, TimeTravelUtil / SnapshotUtil)."""
        from witdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(self.spark, path)
        t.latest_version()  # validates the log exists
        self._versioned[name] = t

    def _rewrite_versioned_relations(self, text: str) -> str:
        for name, t in self._versioned.items():
            # accepts both the bare literal and the typed-literal form
            # `FOR TIMESTAMP AS OF TIMESTAMP '2026-08-14 12:00:00'`
            pat = _re.compile(
                rf"\b{name}\s+FOR\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
                r"(?:TIMESTAMP\s+)?('[^']*'|[0-9]+)",
                _re.I,
            )

            def repl(m, _t=t, _name=name):
                kind = m.group(1).upper()
                raw = m.group(2)
                val = raw[1:-1] if raw.startswith("'") else raw
                if kind == "VERSION":
                    df = _t.read(version=int(val))
                    tag = f"v{int(val)}"
                else:
                    df = _t.read(timestamp=val)
                    tag = "t" + _re.sub(r"[^0-9]", "", val)[:17]
                view = f"__vt_{_name}_{tag}"
                df.createOrReplaceTempView(view)
                return view

            text = pat.sub(repl, text)
            if _re.search(rf"\b{name}\b", text):
                # bare reference: current snapshot as the view
                t.read().createOrReplaceTempView(name)
                # if this shadows a catalog table name, invalidate the
                # register_views memo so a later Engine(sf_dir=...) on
                # the same session re-registers the real table instead
                # of silently reading the shadowed view
                from witdb_spark.catalog import TABLE_NAMES

                if name in TABLE_NAMES and hasattr(
                    self.spark, "_witdb_view_memo"
                ):
                    del self.spark._witdb_view_memo
        return text

    Engine.register_versioned = register_versioned
    Engine._rewrite_versioned_relations = _rewrite_versioned_relations


_register_versioned_methods()


def _cbo_size_estimate(
    schema, row_count: float, measured_sizes: dict
) -> float:
    """Table byte-size estimate from ANALYZE-time facts: measured
    string/binary byte totals where available, row_count x the Spark
    type's defaultSize for fixed-width columns — the same
    row-count-times-width model Spark's own SizeInBytesOnlyStatsPlan
    visitor applies, fed with POST-delete cardinality a file-byte
    estimate cannot see (the reference's CBO similarly sizes from
    connector row counts, sql/planner/CostCalculatorUsingExchanges)."""
    from pyspark.sql import types as T

    def width(dt) -> float:
        # the JVM DataType.defaultSize values (not exposed to python)
        if isinstance(dt, (T.BooleanType, T.ByteType)):
            return 1.0
        if isinstance(dt, T.ShortType):
            return 2.0
        if isinstance(dt, (T.IntegerType, T.FloatType, T.DateType)):
            return 4.0
        if isinstance(dt, T.DecimalType):
            return 8.0 if dt.precision <= 18 else 16.0
        if isinstance(dt, T.ArrayType):
            return width(dt.elementType)
        if isinstance(dt, T.MapType):
            return width(dt.keyType) + width(dt.valueType)
        if isinstance(dt, T.StructType):
            return sum(width(f.dataType) for f in dt.fields)
        return 8.0  # long/double/timestamp/interval

    total = 0.0
    for f in schema.fields:
        m = measured_sizes.get(f.name)
        if m is not None:
            total += float(m)
        elif isinstance(f.dataType, (T.StringType, T.BinaryType)):
            total += row_count * 20.0  # unmeasured varlen: Spark default
        else:
            total += row_count * width(f.dataType)
    return total


def _parse_byte_conf(v: str) -> float:
    """'10485760' / '10MB' / '1g' / '-1' -> bytes (SparkConf byte-string
    grammar subset; negative disables)."""
    s = str(v).strip().lower()
    mult = 1.0
    for suf, m in (
        ("kb", 1024.0), ("mb", 1024.0**2), ("gb", 1024.0**3),
        ("tb", 1024.0**4), ("k", 1024.0), ("m", 1024.0**2),
        ("g", 1024.0**3), ("t", 1024.0**4), ("b", 1.0),
    ):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        return float(s) * mult
    except ValueError:
        return -1.0
