"""Jar-free Apache Hudi copy-on-write read path (public table layout).

Reference analog: plugin/trino-hudi (HudiReadOptimizedDirectoryLister)
serves read-optimized COW snapshots: the newest base parquet file per
file group among COMPLETED commits. The on-disk layout is public
(hudi.apache.org/docs — ``.hoodie/`` timeline of ``<instant>.commit``
JSON actions plus ``hoodie.properties``): each commit's
``partitionToWriteStats`` names the base files it wrote per file group
(fileId), and a ``replacecommit`` (clustering / insert-overwrite)
additionally retires whole file groups via
``partitionToReplaceFileIds``. Folding the timeline in instant order
yields the active base-file set; the data scan is then an ordinary
distributed parquet read (COW base files carry full rows, including
partition columns and the ``_hoodie_*`` meta columns).

Loud scope-outs: MERGE_ON_READ tables (log-file compaction needs the
Hudi runtime) and unknown timeline actions that change visible data.
Pending instants (``.inflight`` / ``.requested``) are ignored — that
IS snapshot isolation on the timeline.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from witdb_spark.frames import local_frame


class HudiProtocolError(RuntimeError):
    pass


_COMPLETED_RE = re.compile(
    r"^(\d+)(?:_(\d+))?\.(commit|replacecommit|deltacommit)$"
)


def _meta_dir(path: str) -> str:
    return os.path.join(path, ".hoodie")


def _properties(path: str) -> dict[str, str]:
    p = os.path.join(_meta_dir(path), "hoodie.properties")
    if not os.path.exists(p):
        raise FileNotFoundError(
            f"{path} is not a Hudi table (no .hoodie/hoodie.properties)"
        )
    props = {}
    for line in open(p):
        line = line.strip()
        if not line or line.startswith("#") or "=" not in line:
            continue
        k, v = line.split("=", 1)
        props[k.strip()] = v.strip()
    return props


def _completed_instants(path: str) -> list[tuple[str, str, str]]:
    """Sorted (instant, action, file) for completed commits. Hudi
    instants are lexicographically ordered timestamps (yyyyMMddHHmmss
    plus optional millis), so string sort IS timeline order."""
    out = []
    for name in os.listdir(_meta_dir(path)):
        m = _COMPLETED_RE.match(name)
        if m:
            out.append(
                (m.group(1), m.group(3), os.path.join(_meta_dir(path), name))
            )
    return sorted(out)


def hudi_base_files(
    path: str, as_of_instant: str | None = None
) -> list[str]:
    """Fold the timeline into the active base-file list (read-optimized
    COW snapshot, optionally at/before ``as_of_instant``)."""
    props = _properties(path)
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype != "COPY_ON_WRITE":
        # r9: MOR READS go through _read_mor_snapshot (base+log merge);
        # this plain file list serves COW write/maintenance paths, where
        # ignoring log records would resurrect or lose rows
        raise HudiProtocolError(
            f"Hudi table type {ttype}: file-list consumers (COW"
            " DML/clean/cluster) need the hudi-spark bundle; snapshot"
            " READS and hudi_log_upsert handle MOR jar-free"
        )
    instants = _completed_instants(path)
    if as_of_instant is not None:
        instants = [i for i in instants if i[0] <= str(as_of_instant)]
    if not instants:
        raise FileNotFoundError(f"{path}: no completed Hudi commits")
    # (partition, fileId) -> (instant, relative path)
    groups: dict[tuple[str, str], tuple[str, str]] = {}
    for instant, action, fpath in instants:
        with open(fpath) as f:
            body = f.read().strip()
        meta = json.loads(body) if body else {}
        if action == "replacecommit":
            for part, fids in (
                meta.get("partitionToReplaceFileIds") or {}
            ).items():
                for fid in fids:
                    groups.pop((part, fid), None)
        for part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats:
                fid, rel = st.get("fileId"), st.get("path")
                if not fid or not rel:
                    continue
                prev = groups.get((part, fid))
                if prev is None or instant >= prev[0]:
                    groups[(part, fid)] = (instant, rel)
    return sorted(
        os.path.join(path, rel) for _, rel in groups.values()
    )


def _hudi_file_slices(
    path: str, as_of_instant: str | None = None
) -> dict[tuple[str, str], dict]:
    """Fold the timeline into file SLICES (the MOR unit): per
    (partition, fileId) the newest base file plus the log files that
    apply to it — a log's filename embeds the base instant it extends
    (.{fileId}_{baseInstant}.log.{version}_{token}), so logs written
    against a base that compaction later replaced drop out naturally.
    Returns {(part, fid): {"base": (instant, rel) | None,
    "logs": [(instant, rel), ...] sorted}}."""
    instants = _completed_instants(path)
    if as_of_instant is not None:
        instants = [i for i in instants if i[0] <= str(as_of_instant)]
    if not instants:
        raise FileNotFoundError(f"{path}: no completed Hudi commits")
    slices: dict[tuple[str, str], dict] = {}
    for instant, action, fpath in instants:
        with open(fpath) as f:
            body = f.read().strip()
        meta = json.loads(body) if body else {}
        if action == "replacecommit":
            for part, fids in (
                meta.get("partitionToReplaceFileIds") or {}
            ).items():
                for fid in fids:
                    slices.pop((part, fid), None)
        for part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats:
                fid, rel = st.get("fileId"), st.get("path")
                if not fid or not rel:
                    continue
                sl = slices.setdefault(
                    (part, fid), {"base": None, "logs": []}
                )
                if ".log." in os.path.basename(rel):
                    sl["logs"].append((instant, rel))
                else:
                    if sl["base"] is None or instant >= sl["base"][0]:
                        sl["base"] = (instant, rel)
    for sl in slices.values():
        if sl["base"] is not None:
            base_instant = os.path.basename(sl["base"][1]).split("_")[-1]
            base_instant = base_instant.split(".")[0]
            sl["logs"] = sorted(
                (i, r)
                for i, r in sl["logs"]
                if f"_{base_instant}.log." in os.path.basename(r)
            )
        else:
            sl["logs"] = sorted(sl["logs"])
    return slices


def _spark_schema_from_log(log_path: str):
    """Spark schema for a LOG-ONLY file slice: the avro record schema
    travels in every data block's SCHEMA header (HoodieLogFormat), so
    one driver-side header read of one log file recovers the table
    shape — no base parquet needed. Scalar avro types only (the same
    subset the jar-free log writer emits); anything else raises."""
    from pyspark.sql import types as T

    from witdb_spark.sources.hudi_log import (
        BLOCK_AVRO_DATA,
        HEADER_SCHEMA,
        read_log_blocks,
    )

    spark_for_avro = {
        "long": T.LongType(), "int": T.IntegerType(),
        "string": T.StringType(), "double": T.DoubleType(),
        "float": T.FloatType(), "boolean": T.BooleanType(),
    }
    for b in read_log_blocks(log_path):
        if b["type"] != BLOCK_AVRO_DATA:
            continue
        schema_json = b["headers"].get(HEADER_SCHEMA)
        if not schema_json:
            continue
        avro = json.loads(schema_json)
        fields = []
        for f in avro.get("fields") or []:
            t = f["type"]
            if isinstance(t, list):  # ["null", prim]
                prims = [x for x in t if x != "null"]
                t = prims[0] if len(prims) == 1 else t
            if isinstance(t, dict) and t.get("logicalType"):
                # r12 logical types (same encodings the log writer
                # emits): avro timestamps carry no NTZ/TZ distinction —
                # NTZ is this repo's convention (testdata parquet)
                lt = t["logicalType"]
                if lt == "date":
                    st: object = T.DateType()
                elif lt.startswith("timestamp-"):
                    st = T.TimestampNTZType()
                elif lt == "decimal":
                    st = T.DecimalType(
                        int(t.get("precision", 38)),
                        int(t.get("scale", 0)),
                    )
                else:
                    raise HudiProtocolError(
                        f"log-only slice schema: field {f['name']!r}"
                        f" logical type {lt!r} needs the hudi-spark"
                        " bundle"
                    )
                fields.append(T.StructField(f["name"], st, True))
                continue
            if not isinstance(t, str) or t not in spark_for_avro:
                raise HudiProtocolError(
                    f"log-only slice schema: field {f['name']!r} avro"
                    f" type {t!r} needs the hudi-spark bundle"
                )
            fields.append(T.StructField(f["name"], spark_for_avro[t], True))
        return T.StructType(fields)
    raise HudiProtocolError(
        f"{log_path}: no data block with a SCHEMA header"
    )


def _prune_mor_slices(
    slices: dict, path: str, where: str
) -> dict:
    """Partition-dir pruning for MERGE_ON_READ (r11; the COW analog is
    _prune_hudi_files): drop whole (partition, fileId) SLICES whose
    hive-style partition values cannot satisfy the predicate — neither
    the base file nor any log is ever listed. Conservative like every
    pruner here: non-hive partition paths, unknown types, and
    unanalyzable predicates keep the slice; callers re-apply the full
    predicate."""
    from witdb_spark.sources.delta_log import _typed_partition_value
    from witdb_spark.sources.skipping import (
        parse_predicate,
        partition_value_can_match,
        predicate_can_match,
    )

    part_fields = _hudi_partition_fields(path)
    if not part_fields:
        return slices
    pred = parse_predicate(where)
    if pred is None:
        return slices
    # partition column types from one base parquet footer when any
    # slice has a base; log-only tables fall back to no typed pruning
    type_by_col: dict[str, str] = {}
    base_rel = next(
        (sl["base"][1] for sl in slices.values() if sl["base"]), None
    )
    if base_rel is not None:
        import pyarrow.parquet as pq

        _ddl = {
            "int64": "bigint", "int32": "int", "string": "string",
            "large_string": "string", "double": "double",
            "float": "float", "bool": "boolean", "date32[day]": "date",
        }
        arrow = pq.ParquetFile(
            os.path.join(path, base_rel)
        ).schema_arrow
        for f in arrow:
            t = str(f.type)
            type_by_col[f.name] = _ddl.get(
                t, "timestamp" if "timestamp" in t else ""
            )
    kept = {}
    for (part, fid), sl in slices.items():
        vals: dict[str, str | None] = {}
        for comp in part.split("/"):
            k, sep, v = comp.partition("=")
            if sep:
                vals[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else v
                )

        def atom(cl, _vals=vals) -> bool:
            if cl.col not in part_fields or cl.col not in _vals:
                return True
            val = _typed_partition_value(
                _vals[cl.col], type_by_col.get(cl.col, "")
            )
            if val is NotImplemented:
                return True
            return partition_value_can_match(cl, val)

        if predicate_can_match(pred, atom):
            kept[(part, fid)] = sl
    return kept


def _read_mor_snapshot(
    spark: SparkSession, path: str, as_of_instant: str | None,
    where: str | None = None,
) -> DataFrame:
    """MERGE_ON_READ snapshot (reference plugin/trino-hudi is
    read-optimized only; this is the snapshot semantics the hudi
    bundle's realtime reader implements, done Spark-first): base rows
    union log records (decoded ON EXECUTORS by sources/hudi_log.py —
    the format validated against a real library log file), then one
    window picks the winner per record key by commit time (payload
    OverwriteWithLatestAvroPayload: latest completed commit wins;
    within one commit the later block/record wins). Records from
    uncommitted instants in a log file stay invisible. Requires the
    hoodie meta columns (hoodie.populate.meta.fields, the default) —
    key + commit time come from the records themselves, so no
    driver-side state scales with data."""
    import pandas  # noqa: F401 — fail fast on driver, used on executors

    from pyspark.sql import functions as F

    props = _properties(path)
    if props.get("hoodie.populate.meta.fields", "true").lower() == "false":
        # r11: virtual keys — materialize the merge key material
        return _read_mor_snapshot_virtual(spark, path, as_of_instant, props)
    slices = _hudi_file_slices(path, as_of_instant)
    if where is not None:
        # slice-level partition pruning — the caller re-applies the
        # full predicate, so this can never change results
        slices = _prune_mor_slices(slices, path, where)
        if not slices:
            # every slice pruned: a typed empty frame via the unpruned
            # plan with LIMIT 0 (metadata-scale; nothing executes)
            return _read_mor_snapshot(spark, path, as_of_instant).limit(0)
    base_files = sorted(
        os.path.join(path, sl["base"][1])
        for sl in slices.values()
        if sl["base"] is not None
    )
    log_files = sorted(
        os.path.join(path, rel)
        for sl in slices.values()
        for _, rel in sl["logs"]
    )
    if base_files:
        base = spark.read.parquet(*base_files)
        schema = base.schema
    else:
        # LOG-ONLY table (compaction-lagged / insert-to-log shape —
        # reference plugin/trino-hudi realtime read path): the schema
        # comes from one log block's SCHEMA header, the rows entirely
        # from the distributed log decode below
        if not log_files:
            raise HudiProtocolError(
                f"{path}: MOR snapshot with no base or log files"
            )
        base = None
        schema = _spark_schema_from_log(log_files[0])
    if not log_files:
        return base
    completed = {
        i for i, _, _ in _completed_instants(path)
        if as_of_instant is None or i <= str(as_of_instant)
    }

    logs_df = spark.createDataFrame(
        [(p,) for p in log_files], "__log string"
    ).repartition(min(len(log_files), 64))

    def decode_logs(batches):
        import json as _json

        import pandas as _pd

        from witdb_spark.sources.hudi_log import log_entries

        for pdf in batches:
            rows: list[str] = []
            seqs: list[int] = []
            dels: list[bool] = []
            for p in pdf["__log"]:
                for i, (rec, _inst, is_del) in enumerate(
                    log_entries(p)
                ):
                    rows.append(_json.dumps(rec, default=str))  # dates/timestamps/decimals -> from_json-parsable strings
                    seqs.append(i)
                    dels.append(is_del)
            yield _pd.DataFrame(
                {"__json": rows, "__seq": seqs, "__del": dels}
            )

    decoded = logs_df.mapInPandas(
        decode_logs, "__json string, __seq long, __del boolean"
    )
    log_rows = decoded.select(
        F.from_json("__json", schema).alias("r"), "__seq", "__del"
    ).select("r.*", "__seq", "__del")
    # records of instants that never completed are invisible
    log_rows = log_rows.where(
        F.col("_hoodie_commit_time").isin(sorted(completed))
    )
    merged = (
        log_rows
        if base is None
        else base.withColumn("__seq", F.lit(-1).cast("long"))
        .withColumn("__del", F.lit(False))
        .unionByName(log_rows)
    )
    from pyspark.sql import Window

    # record keys are unique only WITHIN a partition path (Hudi's key
    # contract) — the same key in two partitions is two records
    w = Window.partitionBy(
        "_hoodie_partition_path", "_hoodie_record_key"
    ).orderBy(
        F.col("_hoodie_commit_time").desc(), F.col("__seq").desc()
    )
    out = (
        merged.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        # a key whose latest record is a DELETE tombstone is dead
        .where(~F.col("__del"))
        .drop("__rn", "__seq", "__del")
    )
    if "_hoodie_is_deleted" in [f.name for f in schema.fields]:
        out = out.where(
            ~F.coalesce(F.col("_hoodie_is_deleted"), F.lit(False))
        )
    return out.select(*[f.name for f in schema.fields])


def _read_mor_snapshot_virtual(
    spark: SparkSession, path: str, as_of_instant: str | None, props: dict,
    _with_commit: bool = False,
) -> DataFrame:
    """MOR snapshot for VIRTUAL-KEY tables
    (hoodie.populate.meta.fields=false — r11; previously a loud gate):
    the data files carry NO _hoodie_* columns, so the merge key
    material is MATERIALIZED instead of read — record key = the
    declared hoodie.table.recordkey.fields column, commit time = the
    base file name's embedded instant (base rows) or the log block's
    INSTANT_TIME header (log rows), partition path = the file's
    directory relative to the table root. COMPOSITE record keys work
    too (r11): row identity is the tuple of the declared key columns —
    the merge window partitions on all of them, so the bundle's
    'k1:v1,k2:v2' string rendering is never needed. Reference
    plugin/trino-hudi reads such tables via the library's
    HoodieTableMetaClient key generator."""
    import pandas  # noqa: F401 — fail fast on driver, used on executors

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from witdb_spark.sources.paths import norm_path_expr

    key_fields = [
        k.strip()
        for k in (props.get("hoodie.table.recordkey.fields") or "").split(
            ","
        )
        if k.strip()
    ]
    if not key_fields:
        raise HudiProtocolError(
            "virtual-key MOR tables need declared"
            " hoodie.table.recordkey.fields columns"
        )
    slices = _hudi_file_slices(path, as_of_instant)
    base_files = sorted(
        os.path.join(path, sl["base"][1])
        for sl in slices.values()
        if sl["base"] is not None
    )
    log_entries = sorted(
        (os.path.join(path, rel), part)
        for (part, _fid), sl in slices.items()
        for _, rel in sl["logs"]
    )
    if base_files:
        base = spark.read.parquet(*base_files)
        schema = base.schema
    else:
        if not log_entries:
            raise HudiProtocolError(
                f"{path}: MOR snapshot with no base or log files"
            )
        base = None
        schema = _spark_schema_from_log(log_entries[0][0])
    missing_keys = [
        k for k in key_fields if k not in [f.name for f in schema.fields]
    ]
    if missing_keys:
        raise HudiProtocolError(
            f"declared record key column(s) {missing_keys} are not"
            " data columns"
        )
    completed = {
        i for i, _, _ in _completed_instants(path)
        if as_of_instant is None or i <= str(as_of_instant)
    }
    table_abs = os.path.abspath(path)
    merged = None
    if base is not None:
        p = norm_path_expr(F.input_file_name())
        rel = F.substring(p, len(table_abs) + 2, 2147483647)
        base = base.select(
            "*",
            F.when(
                rel.contains("/"),
                F.regexp_replace(rel, "/[^/]*$", ""),
            ).otherwise(F.lit("")).alias("__h_part"),
            # base name {fid}_{token}_{instant}.parquet — the trailing
            # digits ARE the commit instant
            F.regexp_extract(rel, r"_([0-9]+)\.parquet$", 1).alias(
                "__h_commit"
            ),
            F.lit(-1).cast("long").alias("__seq"),
            _virtual_key_expr(key_fields).alias("__h_key"),
            F.lit(False).alias("__h_del"),
        )
        merged = base
    if log_entries:
        logs_df = spark.createDataFrame(
            log_entries, "__log string, __part string"
        ).repartition(min(len(log_entries), 64))

        def decode_logs(batches, _completed=completed, _kf=key_fields):
            import json as _json

            import pandas as _pd

            from witdb_spark.sources.hudi_log import log_entries
            from witdb_spark.sources.hudi_meta import _virtual_key_of

            for pdf in batches:
                rows, parts, commits, seqs = [], [], [], []
                keys, dels = [], []
                for lp, part in zip(pdf["__log"], pdf["__part"]):
                    for i, (rec, instant, is_del) in enumerate(
                        log_entries(lp)
                    ):
                        if instant not in _completed:
                            continue
                        if is_del:
                            # tombstone: key material only — the
                            # recordKey is hudi's own rendering, the
                            # same domain _virtual_key_of produces
                            rows.append("{}")
                            keys.append(
                                str(rec.get("_hoodie_record_key"))
                            )
                        else:
                            rows.append(_json.dumps(rec, default=str))  # dates/timestamps/decimals -> from_json-parsable strings
                            keys.append(_virtual_key_of(rec, _kf))
                        dels.append(bool(is_del))
                        parts.append(str(part))
                        commits.append(str(instant))
                        seqs.append(i)
                yield _pd.DataFrame(
                    {
                        "__json": rows,
                        "__h_part": parts,
                        "__h_commit": commits,
                        "__seq": seqs,
                        "__h_key": keys,
                        "__h_del": dels,
                    }
                )

        decoded = logs_df.mapInPandas(
            decode_logs,
            "__json string, __h_part string, __h_commit string,"
            " __seq long, __h_key string, __h_del boolean",
        )
        log_rows = decoded.select(
            F.from_json("__json", schema).alias("r"),
            "__h_part", "__h_commit", "__seq", "__h_key", "__h_del",
        ).select(
            "r.*", "__h_part", "__h_commit", "__seq", "__h_key",
            "__h_del",
        )
        merged = (
            log_rows if merged is None else merged.unionByName(log_rows)
        )
    # row identity = (partition path, RENDERED record key) — the same
    # stringy domain hudi keys live in; tombstones carry no data
    # columns, so the rendering (not the typed tuple) is the only key
    # domain both row kinds share
    w = Window.partitionBy("__h_part", "__h_key").orderBy(
        F.col("__h_commit").desc(), F.col("__seq").desc()
    )
    out = (
        merged.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        # a key whose latest record is a tombstone is dead
        .where(~F.col("__h_del"))
        .drop("__rn", "__seq", "__h_part", "__h_key", "__h_del")
    )
    if "_hoodie_is_deleted" in [f.name for f in schema.fields]:
        out = out.where(
            ~F.coalesce(F.col("_hoodie_is_deleted"), F.lit(False))
        )
    keep = [f.name for f in schema.fields]
    if _with_commit:
        # r12: incremental reads need each row's WINNING commit — the
        # derived __h_commit is exactly that
        keep += ["__h_commit"]
    return out.select(*keep)


def _prune_hudi_files(files: list[str], path: str, where: str) -> list[str]:
    """Partition-dir pruning for the COW scan: hive-style <col>=<val>
    dirs parse back to typed values (types from one parquet footer —
    base files keep partition columns physically) and conservative
    can-match drops files whose partition values cannot satisfy the
    predicate. Any doubt -> keep the file."""
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    from witdb_spark.sources.delta_log import _typed_partition_value
    from witdb_spark.sources.skipping import (
        parse_predicate,
        partition_value_can_match,
        predicate_can_match,
    )

    part_fields = _hudi_partition_fields(path)
    if not part_fields:
        return files
    pred = parse_predicate(where)
    if pred is None:
        return files
    arrow = pq.ParquetFile(files[0]).schema_arrow
    type_by_col = {
        f.name: str(f.type) for f in arrow
    }
    _ddl = {
        "int64": "bigint", "int32": "int", "string": "string",
        "large_string": "string", "double": "double", "float": "float",
        "bool": "boolean", "date32[day]": "date",
    }
    kept = []
    for f in files:
        rel = os.path.relpath(f, path)
        vals: dict[str, str | None] = {}
        for comp in rel.split(os.sep)[:-1]:
            k, _, v = comp.partition("=")
            vals[k] = (
                None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
            )
        def atom(cl, _vals=vals) -> bool:
            # non-partition atoms are unknown at file level -> can match
            if cl.col not in part_fields or cl.col not in _vals:
                return True
            t = type_by_col.get(cl.col, "")
            ddl = _ddl.get(t, "timestamp" if "timestamp" in t else "")
            val = _typed_partition_value(_vals[cl.col], ddl)
            if val is NotImplemented:
                return True
            return partition_value_can_match(cl, val)

        if predicate_can_match(pred, atom):
            kept.append(f)
    return kept


def read_hudi_snapshot(
    spark: SparkSession,
    path: str,
    as_of_instant: str | None = None,
    where: str | None = None,
) -> DataFrame:
    """Read a Hudi table at a snapshot (latest completed commit, or
    at/before ``as_of_instant``) without the connector jar. COW base
    files carry full rows, so the scan is plain distributed parquet;
    the ``_hoodie_*`` meta columns surface like Hudi's own reader.
    r9: MERGE_ON_READ tables read with snapshot semantics — base files
    merged with log records (_read_mor_snapshot). A snapshot whose
    every file group was retired (delete-all) reads as a TYPED empty
    frame from the newest commit's schema metadata. ``where`` (r10)
    prunes partitioned COW scans by hive-dir partition values before
    the scan is built; r11 extends the same pruning to MOR at SLICE
    grain (base and logs of a non-matching partition are never
    listed). The full predicate always re-applies — pruning never
    changes results."""
    props = _properties(path)
    if props.get("hoodie.table.type", "COPY_ON_WRITE") == "MERGE_ON_READ":
        # r11: where= prunes whole file SLICES by hive-dir partition
        # values before base or log files are listed; the full
        # predicate re-applies below, so pruning never changes results
        out = _read_mor_snapshot(spark, path, as_of_instant, where=where)
        return out.filter(where) if where is not None else out
    files = hudi_base_files(path, as_of_instant)
    if files:
        if where is not None:
            pruned = _prune_hudi_files(files, path, where)
            if not pruned:
                return spark.read.parquet(*files).filter(where).limit(0)
            return spark.read.parquet(*pruned).filter(where)
        return spark.read.parquet(*files)
    from pyspark.sql.types import StructType

    instants = _completed_instants(path)
    if as_of_instant is not None:
        instants = [i for i in instants if i[0] <= str(as_of_instant)]
    for _, _, fpath in reversed(instants):
        with open(fpath) as f:
            body = f.read().strip()
        schema_json = (
            (json.loads(body) if body else {})
            .get("extraMetadata", {})
            .get("schema")
        )
        if schema_json:
            return local_frame(
                spark, [], StructType.fromJson(json.loads(schema_json))
            )
    raise HudiProtocolError(
        f"{path}: zero active file groups and no schema in the commit"
        " metadata (library-written table) — add the hudi-spark bundle"
    )


def _claim_instant(path: str) -> str:
    """Claim a commit instant FIRST (put-if-absent on a ``.requested``
    marker, Hudi's own protocol): two writers in the same millisecond
    would otherwise collide on the completed-commit filename only AFTER
    their data files were already published. The marker name carries NO
    action — a commit and a replacecommit claimed in the same
    millisecond must also conflict, or the timeline would hold two
    actions at one instant (ambiguous time travel). The completed-
    instants regex ignores ``.requested``, so claims are invisible to
    readers."""
    import datetime
    import time

    for _ in range(50):
        instant = datetime.datetime.utcnow().strftime(
            "%Y%m%d%H%M%S%f"
        )[:17]
        try:
            with open(
                os.path.join(_meta_dir(path), f"{instant}.requested"),
                "x",
            ):
                return instant
        except FileExistsError:
            time.sleep(0.001)
    raise HudiProtocolError("could not claim a commit instant")


def _hudi_partition_fields(path: str) -> list[str]:
    """hoodie.table.partition.fields from hoodie.properties (the same
    key real Hudi tables carry); [] = unpartitioned."""
    raw = _properties(path).get("hoodie.table.partition.fields", "")
    return [c for c in raw.split(",") if c]


def _stage_hudi_files(
    df, path: str, instant: str, part_fields: list[str]
) -> dict[str, list[dict]]:
    """Stage ``df`` as fresh file groups and return the
    partitionToWriteStats dict. Partitioned tables stage with
    partitionBy on COPIES of the partition columns (base files keep
    every column physically, like real Hudi), land under hive-style
    <col>=<val>/ dirs, and key their write stats by partition path —
    the same (partition, fileId) grain the timeline fold uses.
    Zero-row part files publish no group."""
    import glob
    import shutil
    import uuid

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    if part_fields:
        missing = [c for c in part_fields if c not in df.columns]
        if missing:
            raise HudiProtocolError(
                f"partition columns {missing} absent from the data"
            )
        from pyspark.sql.types import StringType

        from witdb_spark.sources.paths import (
            escape_empty_partition_expr,
        )

        sdf = df
        for i, c in enumerate(part_fields):
            col = F.col(c)
            if isinstance(df.schema[c].dataType, StringType):
                # keep '' distinct from NULL through the hive-style
                # staging round-trip (paths.py sentinel); unescaped
                # below so the final layout matches the stamped
                # _hoodie_partition_path convention ("p=")
                col = escape_empty_partition_expr(col)
            sdf = sdf.withColumn(f"__hp_{i}", col)
        sdf.write.mode("overwrite").partitionBy(
            *[f"__hp_{i}" for i in range(len(part_fields))]
        ).parquet(staging)
        files = sorted(glob.glob(
            os.path.join(staging, "**", "part-*.parquet"), recursive=True
        ))
    else:
        df.write.mode("overwrite").parquet(staging)
        files = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
    out: dict[str, list[dict]] = {}
    for f in files:
        if pq.ParquetFile(f).metadata.num_rows == 0:
            continue
        fid = uuid.uuid4().hex
        base = f"{fid}_0_{instant}.parquet"
        if part_fields:
            from witdb_spark.sources.paths import (
                EMPTY_PARTITION_SENTINEL,
            )

            rel_dir = os.path.relpath(os.path.dirname(f), staging)
            by_idx: dict[int, str] = {}
            for comp in rel_dir.split(os.sep):
                k, _, v = comp.partition("=")
                # unescape the '' sentinel but keep the percent
                # encoding (the final dir value stays encoded, like
                # the staged one); NULL's __HIVE_DEFAULT_PARTITION__
                # marker passes through untouched
                if v == EMPTY_PARTITION_SENTINEL:
                    v = ""
                elif v.startswith(EMPTY_PARTITION_SENTINEL):
                    v = v[len(EMPTY_PARTITION_SENTINEL):]
                by_idx[int(k[len("__hp_"):])] = v
            part_dir = "/".join(
                f"{part_fields[i]}={by_idx[i]}"
                for i in range(len(part_fields))
            )
            os.makedirs(os.path.join(path, part_dir), exist_ok=True)
            rel, part_key = f"{part_dir}/{base}", part_dir
        else:
            rel, part_key = base, ""
        shutil.move(f, os.path.join(path, rel))
        out.setdefault(part_key, []).append(
            {
                "fileId": fid,
                "path": rel,
                "totalWriteBytes": os.path.getsize(
                    os.path.join(path, rel)
                ),
            }
        )
    shutil.rmtree(staging, ignore_errors=True)
    return out


def _group_fids_by_partition(rels: list[str]) -> dict[str, list[str]]:
    """Relative base-file paths -> {partition path: [fileId, ...]} for
    replacecommit bookkeeping."""
    out: dict[str, set] = {}
    for r in rels:
        part = os.path.dirname(r).replace(os.sep, "/")
        out.setdefault(part, set()).add(
            os.path.basename(r).split("_", 1)[0]
        )
    return {p: sorted(fids) for p, fids in out.items()}


def write_hudi(
    spark: SparkSession,
    df,
    path: str,
    mode: str = "append",
    record_key: str | None = None,
    partition_by: list[str] | None = None,
    extra_metadata: dict[str, str] | None = None,
) -> str:
    """Jar-free Hudi COW write (create/append/overwrite as bulk-insert
    of fresh file groups; keyed UPSERT routes through hudi_upsert using
    parquet footer statistics instead of the bundle's record index).
    Each staged parquet file becomes its own file group; a commit JSON
    publishes them — overwrite retires every prior file group via a
    replacecommit, the timeline's own mechanism for insert-overwrite.
    ``record_key`` / ``partition_by`` (create only) record
    hoodie.table.recordkey.fields / hoodie.table.partition.fields in
    hoodie.properties, the same keys real Hudi tables carry;
    partitioned tables land hive-style <col>=<val>/ file groups with
    write stats keyed by partition path (late r10). Returns the
    commit instant."""
    if mode not in ("create", "append", "overwrite"):
        raise ValueError("mode must be create/append/overwrite")
    exists = os.path.isdir(_meta_dir(path))
    if mode == "create" and exists:
        raise FileExistsError(f"{path} is already a Hudi table")
    if not exists:
        part_fields = list(partition_by or [])
        missing = [c for c in part_fields if c not in df.columns]
        if missing:
            raise HudiProtocolError(
                f"partition columns {missing} absent from the data"
            )
        os.makedirs(_meta_dir(path))
        props_text = (
            "hoodie.table.name=%s\nhoodie.table.type=COPY_ON_WRITE\n"
            % os.path.basename(path.rstrip("/"))
        )
        if record_key:
            bad = [
                k
                for k in (x.strip() for x in record_key.split(","))
                if k and k not in df.columns
            ]
            if bad:
                raise HudiProtocolError(
                    f"record key column(s) {bad} are not columns of the"
                    f" data ({df.columns})"
                )
            props_text += (
                f"hoodie.table.recordkey.fields={record_key}\n"
            )
        if part_fields:
            props_text += (
                "hoodie.table.partition.fields=%s\n"
                % ",".join(part_fields)
            )
        with open(
            os.path.join(_meta_dir(path), "hoodie.properties"), "w"
        ) as f:
            f.write(props_text)
    else:
        props = _properties(path)
        if props.get("hoodie.table.type", "COPY_ON_WRITE") != "COPY_ON_WRITE":
            raise HudiProtocolError(
                "writes to MERGE_ON_READ tables need the hudi-spark bundle"
            )
        part_fields = _hudi_partition_fields(path)
        if partition_by is not None and list(partition_by) != part_fields:
            raise HudiProtocolError(
                f"table is partitioned by {part_fields},"
                f" not {partition_by}"
            )
    action = (
        "replacecommit" if mode == "overwrite" and exists else "commit"
    )
    prior_rels = (
        [os.path.relpath(p, path) for p in hudi_base_files(path)]
        if action == "replacecommit"
        else []
    )
    instant = _claim_instant(path)
    stats_by_part = _stage_hudi_files(df, path, instant, part_fields)
    meta: dict = {
        "partitionToWriteStats": stats_by_part or {"": []},
        # schema travels in the commit metadata (as real Hudi does) so
        # an all-rows-deleted table can still produce a TYPED empty
        # read; extra_metadata rides the same map (hudi's own channel
        # for e.g. deltastreamer checkpoint keys — the streaming
        # sink's epoch markers live here, r13)
        "extraMetadata": {
            "schema": df.schema.json(),
            **{
                str(k): str(v)
                for k, v in (extra_metadata or {}).items()
            },
        },
    }
    if action == "replacecommit":
        meta["partitionToReplaceFileIds"] = _group_fids_by_partition(
            prior_rels
        )
    target = os.path.join(_meta_dir(path), f"{instant}.{action}")
    # the .requested claim made this instant ours; 'x' stays as a belt
    with open(target, "x") as f:
        json.dump(meta, f)
    return instant


def hudi_commits(path: str) -> list[dict]:
    """Completed-commit history (reference `timeline` metadata)."""
    return [
        {"instant": i, "action": a}
        for i, a, _ in _completed_instants(path)
    ]


def _hudi_rewrite_matched(
    spark: SparkSession,
    path: str,
    matcher,
    rewrite,
    commit_on_no_match: bool = False,
    op: str = "DML",
    scan_files: list[str] | None = None,
) -> str | None:
    """Copy-on-write file-group rewrite shared by DELETE/UPDATE/MERGE:
    one replacecommit retires every file group ``matcher`` flags (it
    receives the __sf-annotated scan and returns the matching ``__sf``
    column) and publishes the surviving rows as fresh groups — the
    timeline's own mechanism, so readers (including as-of time travel)
    need nothing new. ``commit_on_no_match`` keeps going when no group
    matched (MERGE's pure-insert case). Returns the commit instant, or
    None when nothing was committed."""
    from pyspark.sql import functions as F

    from witdb_spark.sources.delta_log import _strip_uri

    files = hudi_base_files(path)
    by_abs = {os.path.abspath(f): f for f in files}
    if not files and not commit_on_no_match:
        return None
    if scan_files is not None:
        # keyed-upsert footer pruning: only a SUPERSET of the groups
        # that can contain matches needs scanning; the rest are never
        # read and never rewritten. Must be active files.
        unknown = [
            f for f in scan_files if os.path.abspath(f) not in by_abs
        ]
        if unknown:
            raise HudiProtocolError(
                f"scan pruning produced non-snapshot files: {unknown[:3]}"
            )
        files = sorted(scan_files)
    # staleness fence: remember the last completed instant we planned
    # against; a concurrent commit retiring the same groups would make
    # our survivors duplicate rows, so re-check before publishing
    base_last = _completed_instants(path)[-1][0]
    if files:
        df = spark.read.parquet(*files).withColumn(
            "__sf", F.input_file_name()
        )
    else:
        # zero active file groups (delete-all): MERGE pure inserts must
        # still commit against the typed empty frame
        df = read_hudi_snapshot(spark, path).withColumn("__sf", F.lit(""))
    if matcher is None:
        # clustering: the matched set is ALL active file groups, known
        # driver-side — no scan-and-collect, and zero-row file groups
        # (invisible to a row-derived matcher) are retired too
        matched_paths = [os.path.abspath(f) for f in files]
    else:
        matched_uris = [
            r["__sf"] for r in matcher(df).distinct().collect()
        ]
        if not matched_uris and not commit_on_no_match:
            return None
        matched_paths = []
        for u in matched_uris:
            ap = os.path.abspath(_strip_uri(u))
            if ap not in by_abs:
                raise HudiProtocolError(
                    f"scanned file {ap} not in the current snapshot"
                )
            matched_paths.append(ap)
    matched_rels = [os.path.relpath(ap, path) for ap in matched_paths]
    replace_by_part = _group_fids_by_partition(matched_rels)

    if matcher is None:
        touched = df.drop("__sf")
    else:
        touched = (
            df.where(F.col("__sf").isin(matched_uris))
            if matched_uris
            else df.limit(0)
        ).drop("__sf")
    survivors = rewrite(touched).select(*touched.columns)
    if not matched_rels and survivors.isEmpty():
        # MERGE with nothing matched and nothing to insert: a true
        # no-op, detected BEFORE claiming an instant or staging files
        return None
    instant = _claim_instant(path)
    stats_by_part = _stage_hudi_files(
        survivors, path, instant, _hudi_partition_fields(path)
    )
    if not stats_by_part and not matched_rels:
        # survivors were all zero-row part files: nothing to publish —
        # release the claimed instant so no-ops leave no litter
        os.remove(os.path.join(_meta_dir(path), f"{instant}.requested"))
        return None
    meta = {
        "partitionToWriteStats": stats_by_part or {"": []},
        "partitionToReplaceFileIds": replace_by_part or {"": []},
        "extraMetadata": {"schema": survivors.schema.json()},
    }
    if _completed_instants(path)[-1][0] != base_last:
        raise HudiProtocolError(
            f"{path}: concurrent commit during COW rewrite — rewritten"
            " file groups are stale; re-run the statement"
        )
    target = os.path.join(_meta_dir(path), f"{instant}.replacecommit")
    with open(target, "x") as f:
        json.dump(meta, f)
    return instant


def hudi_delete_where(
    spark: SparkSession, path: str, predicate_sql: str
) -> str | None:
    """DELETE ... WHERE, routed by table type like the other formats'
    mode switches: MERGE_ON_READ tables append tombstone DELETE log
    blocks (hudi_log_delete — row-targeted, no base rewrite, r11);
    COPY_ON_WRITE retires matched file groups via a replacecommit and
    re-publishes them without the matching rows. Prior instants still
    see the old slices either way."""
    props = _properties(path)
    if props.get("hoodie.table.type") == "MERGE_ON_READ":
        return hudi_log_delete(spark, path, predicate_sql)
    return _hudi_rewrite_matched(
        spark, path,
        lambda df: df.where(predicate_sql).select("__sf"),
        lambda rows: rows.filter(f"NOT ({predicate_sql})"),
    )


def hudi_update_where(
    spark: SparkSession,
    path: str,
    predicate_sql: str,
    assignments: dict[str, str],
) -> str | None:
    """UPDATE ... WHERE, routed by table type: MERGE_ON_READ tables
    append the POST-update images of matched rows as log records via
    hudi_log_upsert (r11 — every matched key exists, so the upsert
    routes them all as updates; no base rewrite); COPY_ON_WRITE
    rewrites matched file groups. Every assignment RHS and the
    predicate evaluate against the PRE-update row
    (delta_log._apply_assignments, the rule all three COW paths
    share)."""
    from witdb_spark.sources.delta_log import _apply_assignments

    props = _properties(path)
    if props.get("hoodie.table.type") == "MERGE_ON_READ":
        # the record key is immutable (hudi's own contract — the same
        # guard _hudi_mor_merge applies): assigning it would route the
        # post-image through hudi_log_upsert as an unmatched key and
        # INSERT a fresh base group while the old key stays live —
        # a silent duplicate instead of an update
        key_fields = {
            k.strip()
            for k in (
                props.get("hoodie.table.recordkey.fields") or ""
            ).split(",")
            if k.strip()
        }
        hit = {
            k
            for k in key_fields & set(assignments)
            # the no-op spelling SET id = id is legal everywhere —
            # only a key-CHANGING assignment is refused
            if str(assignments[k]).strip().strip("`").lower()
            != k.lower()
        }
        if hit:
            raise HudiProtocolError(
                f"the record key field(s) {sorted(hit)} are immutable"
                " — UPDATE cannot assign them"
            )
        matched = read_hudi_snapshot(spark, path).where(predicate_sql)
        if matched.isEmpty():
            return None
        data_cols = [
            c for c in matched.columns if not c.startswith("_hoodie_")
        ]
        updated = _apply_assignments(
            matched.select(*data_cols),
            predicate_sql,
            assignments,
            HudiProtocolError,
        )
        return hudi_log_upsert(spark, path, updated)
    return _hudi_rewrite_matched(
        spark, path,
        lambda df: df.where(predicate_sql).select("__sf"),
        lambda rows: _apply_assignments(
            rows, predicate_sql, assignments, HudiProtocolError
        ),
    )


def hudi_merge_into(
    spark: SparkSession,
    path: str,
    source,
    on: list[str],
    **merge_kwargs,
) -> str | None:
    """MERGE INTO a Hudi table. COW tables are file-GROUP-level (the
    bundle's record-key index does per-RECORD upsert routing; without
    it, any group containing a key-matched row is rewritten whole
    through sources/merge.merge_into — coarser writes, identical
    results; pure inserts commit as fresh groups with zero rewrites).
    MERGE_ON_READ tables (r11) commit ONE deltacommit: matched
    survivors append as AVRO_DATA log records on their owning slice,
    matched-but-DELETEd keys as tombstones in the SAME log file, and
    inserts as fresh base groups — no base rewrite. Accepts
    merge_into's clause kwargs."""
    from witdb_spark.sources.merge import merge_into

    props = _properties(path)
    if props.get("hoodie.table.type") == "MERGE_ON_READ":
        return _hudi_mor_merge(spark, path, source, on, **merge_kwargs)
    return _hudi_rewrite_matched(
        spark, path,
        lambda df: df.join(
            source.select(*on).distinct(), on=on, how="left_semi"
        ).select("__sf"),
        lambda rows: merge_into(rows, source, on, **merge_kwargs),
        commit_on_no_match=True,
        op="MERGE",
    )


def _hudi_mor_merge(
    spark: SparkSession,
    path: str,
    source,
    on: list[str],
    **merge_kwargs,
) -> str | None:
    """MERGE on MERGE_ON_READ, one atomic deltacommit (see
    hudi_merge_into): survivors of the matched rows route by record
    key to their slice's log (post-merge images as data records),
    matched keys absent from the survivors (WHEN MATCHED DELETE) as
    tombstones in the same executor-written log file, inserts as
    fresh base groups. The record key is immutable (hudi's own
    contract) — an UPDATE assignment on it refuses."""
    from pyspark.sql import functions as F

    from witdb_spark.sources.merge import merge_into

    props = _properties(path)
    virtual = (
        props.get("hoodie.populate.meta.fields", "true").lower()
        == "false"
    )
    key = props.get("hoodie.table.recordkey.fields")
    key_fields = [k.strip() for k in (key or "").split(",") if k.strip()]
    missing_keys = [k for k in key_fields if k not in source.columns]
    if not key_fields or missing_keys:
        raise HudiProtocolError(
            f"record key {key!r} must be a declared table property and"
            " its column(s) present in the source"
        )
    if not virtual and len(key_fields) != 1:
        raise HudiProtocolError(
            "composite record keys on meta-fields tables need the"
            " bundle's key generator"
        )
    hit = set(key_fields) & set(
        merge_kwargs.get("when_matched_update") or {}
    )
    if hit:
        raise HudiProtocolError(
            f"the record key field(s) {sorted(hit)} are immutable —"
            " MERGE cannot assign them"
        )
    key_expr = (
        _virtual_key_expr(key_fields)
        if virtual
        else F.col(key).cast("string")
    )
    slices = _hudi_file_slices(path)
    base_last = _completed_instants(path)[-1][0]
    completed = {i for i, _, _ in _completed_instants(path)}
    part_fields = _hudi_partition_fields(path)
    snapshot = read_hudi_snapshot(spark, path)
    data_cols = [
        c for c in snapshot.columns if not c.startswith("_hoodie_")
    ]
    matched = snapshot.select(*data_cols).join(
        source.select(*on).distinct(), on=on, how="left_semi"
    )
    survivors = merge_into(matched, source, on, **merge_kwargs)
    if matched.isEmpty() and survivors.isEmpty():
        return None
    keymap = _mor_keymap(
        spark, path, slices, completed,
        key_fields=key_fields if virtual else None,
    )
    src = survivors.withColumn("__k", key_expr)
    routed = src.join(keymap, "__k", "left")
    # matched keys whose row vanished from the survivors were DELETEd
    deleted = (
        matched.select(key_expr.alias("__k"))
        .distinct()
        .join(src.select("__k").distinct(), "__k", "left_anti")
        .join(keymap, "__k", "inner")
    )
    log_rows = routed.where("__grp IS NOT NULL").select(
        "__grp", "__k", *data_cols, F.lit(False).alias("__mdel")
    ).unionByName(
        deleted.select(
            "__grp",
            "__k",
            *[F.lit(None).cast(snapshot.schema[c].dataType).alias(c)
              for c in data_cols],
            F.lit(True).alias("__mdel"),
        )
    )
    group_info = _mor_group_targets(slices)
    data_avro = _avro_schema_for(survivors.select(*data_cols))["fields"]
    avro_schema = {
        "type": "record",
        "name": "witdb_mor",
        "fields": (
            data_avro
            if virtual
            else _meta_string_avro_fields() + data_avro
        ),
    }
    instant = _claim_instant(path)
    stats_by_part: dict[str, list] = {}
    for r in _write_log_blocks_distributed(
        log_rows, path, instant, avro_schema, group_info, data_cols,
        del_col="__mdel",
    ):
        info = group_info[r["grp"]]
        stats_by_part.setdefault(info["part"], []).append(
            {
                "fileId": info["fid"],
                "path": r["rel"],
                "prevCommit": info["prev"],
                "totalWriteBytes": r["nbytes"],
            }
        )
    inserts = routed.where("__grp IS NULL").select(*data_cols)
    if not inserts.isEmpty():
        if part_fields:
            missing = [c for c in part_fields if c not in data_cols]
            if missing:
                raise HudiProtocolError(
                    f"partition columns {missing} absent from the source"
                )
        if virtual:
            full = inserts.coalesce(1)
        else:
            full = inserts.coalesce(1).select(
                F.lit(instant).alias("_hoodie_commit_time"),
                F.concat(
                    F.lit(f"{instant}_1_"),
                    F.monotonically_increasing_id().cast("string"),
                ).alias("_hoodie_commit_seqno"),
                F.col(key).cast("string").alias("_hoodie_record_key"),
                (
                    _hoodie_partition_path_expr(part_fields)
                    if part_fields
                    else F.lit("")
                ).alias("_hoodie_partition_path"),
                F.lit("").alias("_hoodie_file_name"),
                *data_cols,
            )
        for part_key, recs in _stage_mor_groups(
            full, path, instant, part_fields, virtual=virtual
        ).items():
            stats_by_part.setdefault(part_key, []).extend(recs)
    if _completed_instants(path)[-1][0] != base_last:
        raise HudiProtocolError(
            f"{path}: concurrent commit during MOR merge — re-run"
        )
    with open(
        os.path.join(_meta_dir(path), f"{instant}.deltacommit"), "x"
    ) as f:
        json.dump(
            {
                "partitionToWriteStats": stats_by_part or {"": []},
                "operationType": "UPSERT",
            },
            f,
        )
    return instant


def hudi_upsert(
    spark: SparkSession,
    path: str,
    source,
    record_key: str | None = None,
) -> str | None:
    """Keyed UPSERT (reference plugin/trino-hudi read side + the Hudi
    upsert contract: source rows whose record key exists REPLACE the
    stored row, the rest insert). The bundle routes records with its
    record-level index; jar-free, the same routing comes from parquet
    FOOTER statistics at metadata scale: each base file's footer
    carries min/max for the key column, so file groups whose key range
    cannot contain any source key are never read and never rewritten —
    only touched groups are retired by the replacecommit. A footer
    without usable statistics makes its group an unconditional
    candidate (pruning is always a superset of the true match set).
    ``record_key`` defaults to hoodie.table.recordkey.fields from
    hoodie.properties. Returns the commit instant, or None if the
    upsert was a no-op."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from witdb_spark.sources.merge import merge_into

    props = _properties(path)
    if props.get("hoodie.table.type") == "MERGE_ON_READ":
        # MOR tables take the log-append path — same upsert contract,
        # no base rewrite
        return hudi_log_upsert(spark, path, source)
    key = record_key or props.get("hoodie.table.recordkey.fields")
    if not key:
        raise HudiProtocolError(
            "UPSERT needs a record key: pass record_key= or create the"
            " table with write_hudi(..., record_key=...)"
        )
    key_fields = [k.strip() for k in key.split(",") if k.strip()]
    missing_keys = [k for k in key_fields if k not in source.columns]
    if missing_keys:
        raise HudiProtocolError(
            f"record key column(s) {missing_keys} are not columns of"
            " the source"
        )
    files = hudi_base_files(path)
    candidates: list[str] = []
    if len(key_fields) == 1:
        # single key: per-file range vs the EXACT source key set
        # (range-join pruning — tighter than bound overlap)
        kf = key_fields[0]
        ranges: list[tuple[str, object, object]] = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = {
                md.schema.column(i).name: i
                for i in range(md.num_columns)
            }
            if kf not in names:
                raise HudiProtocolError(
                    f"record key {kf!r} absent from base file {f}"
                )
            lo, hi, ok = None, None, md.num_row_groups > 0
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(names[kf]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if ok:
                ranges.append((f, lo, hi))
            else:
                candidates.append(f)
        if ranges:
            key_type = dict(
                zip(source.schema.names, source.schema.fields)
            )[kf].dataType.simpleString()
            rng = spark.createDataFrame(
                ranges, f"__hf string, __lo {key_type}, __hi {key_type}"
            )
            hit = rng.join(
                source.select(F.col(kf).alias("__k")).distinct(),
                (F.col("__k") >= F.col("__lo"))
                & (F.col("__k") <= F.col("__hi")),
                "left_semi",
            )
            candidates += [r["__hf"] for r in hit.collect()]
    else:
        # COMPOSITE keys (r12): a file prunes only when SOME key
        # column's footer range misses the source's bounds entirely —
        # conservative per-column overlap, one 1-row bounds collect
        b = source.agg(
            *[F.min(k).alias(f"__lo_{i}") for i, k in
              enumerate(key_fields)],
            *[F.max(k).alias(f"__hi_{i}") for i, k in
              enumerate(key_fields)],
        ).collect()[0]
        src_bounds = [
            (b[f"__lo_{i}"], b[f"__hi_{i}"])
            for i in range(len(key_fields))
        ]
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = {
                md.schema.column(i).name: i
                for i in range(md.num_columns)
            }
            miss = [k for k in key_fields if k not in names]
            if miss:
                raise HudiProtocolError(
                    f"record key column(s) {miss} absent from base"
                    f" file {f}"
                )
            can_match = True
            for i, kf in enumerate(key_fields):
                lo, hi, ok = None, None, md.num_row_groups > 0
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(names[kf]).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                slo, shi = src_bounds[i]
                if ok and slo is not None and (hi < slo or lo > shi):
                    can_match = False
                    break
            if can_match:
                candidates.append(f)

    update_cols = {
        c: F.col(f"src.{c}")
        for c in source.columns
        if c not in key_fields
    }
    return _hudi_rewrite_matched(
        spark, path,
        lambda df: df.join(
            source.select(*key_fields).distinct(),
            on=key_fields, how="left_semi",
        ).select("__sf"),
        lambda rows: merge_into(
            rows, source, key_fields,
            when_matched_update=update_cols,
            insert_not_matched=True,
        ),
        commit_on_no_match=True,
        op="UPSERT",
        scan_files=candidates,
    )


_AVRO_FOR_SPARK = {
    "bigint": "long", "int": "int", "integer": "int", "string": "string",
    "double": "double", "float": "float", "boolean": "boolean",
    # r12: logical types — the same avro encodings hudi's writers use
    "date": {"type": "int", "logicalType": "date"},
    "timestamp_ntz": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
}


def _avro_schema_for(df, name: str = "witdb_mor") -> dict:
    fields = []
    for f in df.schema.fields:
        ddl = f.dataType.simpleString()
        if ddl.startswith("decimal("):
            p, s = ddl[len("decimal("):-1].split(",")
            avro_t: object = {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": int(p),
                "scale": int(s.strip()),
            }
        elif ddl in _AVRO_FOR_SPARK:
            avro_t = _AVRO_FOR_SPARK[ddl]
        else:
            raise HudiProtocolError(
                f"MOR log records: column {f.name!r} type {ddl} needs"
                " the hudi-spark bundle"
            )
        fields.append(
            {
                "name": f.name,
                "type": ["null", avro_t],
                "default": None,
            }
        )
    return {"type": "record", "name": name, "fields": fields}


def _hoodie_partition_path_expr(part_fields: list[str]):
    """The _hoodie_partition_path string hudi stamps: hive-style
    col=value segments joined by '/'. NULL partition values render the
    hive default marker (r11 — what real hudi's hive-style key
    generator emits), so the stamped string and the staged directory
    agree byte-for-byte and the whole path expression is never NULL."""
    from pyspark.sql import functions as F

    return F.concat_ws(
        "/",
        *[
            F.concat(
                F.lit(f"{c}="),
                F.coalesce(
                    F.col(c).cast("string"),
                    F.lit("__HIVE_DEFAULT_PARTITION__"),
                ),
            )
            for c in part_fields
        ],
    )


def _stage_mor_groups(
    full, path: str, instant: str, part_fields: list[str],
    virtual: bool = False,
) -> dict[str, list[dict]]:
    """Stage MOR rows as fresh base file groups, keyed by partition
    path. Meta-columned rows partition directly on their stamped
    _hoodie_partition_path; ``virtual`` rows (r12 —
    hoodie.populate.meta.fields=false tables carry NO meta columns)
    compute the same hive-style path from the partition fields
    instead."""
    import glob
    import shutil
    import uuid

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    if part_fields:
        hpp = (
            _hoodie_partition_path_expr(part_fields)
            if virtual
            else F.col("_hoodie_partition_path")
        )
        (
            full.withColumn("__hpp", hpp)
            .write.mode("overwrite").partitionBy("__hpp").parquet(staging)
        )
        files = sorted(glob.glob(
            os.path.join(staging, "**", "part-*.parquet"), recursive=True
        ))
    else:
        full.write.mode("overwrite").parquet(staging)
        files = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
    from urllib.parse import unquote

    out: dict[str, list[dict]] = {}
    for f in files:
        if pq.ParquetFile(f).metadata.num_rows == 0:
            continue
        fid = uuid.uuid4().hex
        base = f"{fid}_0_{instant}.parquet"
        if part_fields:
            comp = os.path.relpath(os.path.dirname(f), staging)
            # __hpp is the FULL stamped hive-style path (never NULL —
            # NULL partition VALUES render the hive marker inside it),
            # so the staged dir value round-trips verbatim
            part = unquote(comp.partition("=")[2])
            os.makedirs(os.path.join(path, part), exist_ok=True)
            rel, part_key = f"{part}/{base}", part
        else:
            rel, part_key = base, ""
        shutil.move(f, os.path.join(path, rel))
        out.setdefault(part_key, []).append(
            {
                "fileId": fid,
                "path": rel,
                "prevCommit": "null",
                "totalWriteBytes": os.path.getsize(
                    os.path.join(path, rel)
                ),
            }
        )
    shutil.rmtree(staging, ignore_errors=True)
    return out


def write_hudi_mor_create(
    spark: SparkSession,
    df,
    path: str,
    record_key: str,
    partition_by: list[str] | None = None,
    populate_meta_fields: bool = True,
) -> str:
    """Create a MERGE_ON_READ table jar-free: base parquet file groups
    carrying the hoodie meta columns (the merge key material), one
    deltacommit publishing them, hoodie.properties declaring
    MERGE_ON_READ + the record key. ``partition_by`` (late r10) lands
    hive-style partition dirs with _hoodie_partition_path stamped to
    match — the (partition, fileId) grain the slice fold and the MOR
    merge window already use. ``populate_meta_fields=False`` (r12)
    creates a VIRTUAL-KEY table: no _hoodie_* columns anywhere, key
    material derives from the declared record-key column(s) —
    ``record_key`` may then be a comma-separated COMPOSITE — and
    commit times from file names / log block headers
    (_read_mor_snapshot_virtual). Returns the commit instant."""
    from pyspark.sql import functions as F

    if os.path.isdir(_meta_dir(path)):
        raise FileExistsError(f"{path} is already a Hudi table")
    key_fields = [k.strip() for k in record_key.split(",") if k.strip()]
    if populate_meta_fields and len(key_fields) != 1:
        raise HudiProtocolError(
            "composite record keys need the bundle's key generator on"
            " meta-fields tables — use populate_meta_fields=False"
        )
    missing_keys = [k for k in key_fields if k not in df.columns]
    if missing_keys:
        raise HudiProtocolError(
            f"record key column(s) {missing_keys} are not columns of"
            " the data"
        )
    part_fields = list(partition_by or [])
    missing = [c for c in part_fields if c not in df.columns]
    if missing:
        raise HudiProtocolError(
            f"partition columns {missing} absent from the data"
        )
    os.makedirs(_meta_dir(path))
    props_text = (
        "hoodie.table.name=%s\nhoodie.table.type=MERGE_ON_READ\n"
        "hoodie.table.recordkey.fields=%s\n"
        "hoodie.populate.meta.fields=%s\n"
        % (
            os.path.basename(path.rstrip("/")),
            record_key,
            "true" if populate_meta_fields else "false",
        )
    )
    if part_fields:
        props_text += (
            "hoodie.table.partition.fields=%s\n" % ",".join(part_fields)
        )
    with open(
        os.path.join(_meta_dir(path), "hoodie.properties"), "w"
    ) as f:
        f.write(props_text)
    instant = _claim_instant(path)
    if populate_meta_fields:
        full = df.select(
            F.lit(instant).alias("_hoodie_commit_time"),
            F.concat(
                F.lit(f"{instant}_0_"),
                F.monotonically_increasing_id().cast("string"),
            ).alias("_hoodie_commit_seqno"),
            F.col(record_key).cast("string").alias("_hoodie_record_key"),
            (
                _hoodie_partition_path_expr(part_fields)
                if part_fields
                else F.lit("")
            ).alias("_hoodie_partition_path"),
            F.lit("").alias("_hoodie_file_name"),
            *df.columns,
        )
    else:
        full = df
    stats_by_part = _stage_mor_groups(
        full, path, instant, part_fields,
        virtual=not populate_meta_fields,
    )
    meta = {
        "partitionToWriteStats": stats_by_part or {"": []},
        "extraMetadata": {"schema": full.schema.json()},
        "operationType": "BULK_INSERT",
    }
    with open(
        os.path.join(_meta_dir(path), f"{instant}.deltacommit"), "x"
    ) as f:
        json.dump(meta, f)
    return instant


def _write_log_blocks_distributed(
    routed,
    path: str,
    instant: str,
    avro_schema: dict,
    group_info: dict[str, dict],
    data_cols: list[str],
    btype: int | None = None,
    del_col: str | None = None,
) -> list:
    """Write one AVRO_DATA log file per file group ON THE EXECUTORS:
    ``routed`` carries (__grp, __k, *data_cols); applyInPandas shuffles
    rows to one task per group, which stamps the hoodie meta columns,
    binary-avro-encodes the batch, and lands the framed log file — the
    driver receives only [Row(grp, rel, nbytes)] descriptors, never
    record batches (reference analog: hudi's log writers run in the
    executors; core/trino-main/.../MergeWriterOperator.java for the
    fragment-to-coordinator shape). ``group_info``:
    {group key: {'rel': log rel path, 'fid': ..., 'part': ...}} —
    O(file groups) metadata captured by the task closure. ``del_col``
    (r11, MERGE): a boolean column splitting the group's rows into
    data records and DELETE tombstones — both land in the SAME log
    file (an AVRO_DATA block then a DELETE block), so a MERGE commits
    atomically."""
    table_abs = os.path.abspath(path)

    def write_group(pdf):
        import json as _json
        import math as _math
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        from witdb_spark.sources.hudi_log import (
            BLOCK_AVRO_DATA,
            BLOCK_DELETE,
            HEADER_INSTANT_TIME,
            HEADER_SCHEMA,
            append_log_block,
            encode_avro_block_content,
        )
        from witdb_spark.sources.hudi_meta import (
            _meta_string_avro_fields,
        )

        grp = str(pdf["__grp"].iloc[0])
        info = group_info[grp]
        types = {}
        for fld in avro_schema["fields"]:
            t = fld["type"]
            if isinstance(t, list):
                t = [x for x in t if x != "null"][0]
            types[fld["name"]] = t

        def conv(v, t):
            # pandas re-types nullable ints as float64 etc. — coerce
            # back by the avro field type so the binary encode is exact
            if v is None or v is _pd.NaT:
                return None
            if isinstance(v, float) and _math.isnan(v):
                return None
            if isinstance(t, dict):
                # logical types (r12): the codec's encoder converts
                # date/datetime/Decimal exactly — just normalize the
                # pandas carriers
                lt = t.get("logicalType")
                if lt == "date" and hasattr(v, "to_pydatetime"):
                    return v.to_pydatetime().date()
                if lt and lt.startswith("timestamp") and hasattr(
                    v, "to_pydatetime"
                ):
                    return v.to_pydatetime()
                return v
            if t in ("long", "int"):
                return int(v)
            if t in ("double", "float"):
                return float(v)
            if t == "boolean":
                return bool(v)
            return str(v)

        recs = []
        tombs = []
        for i, d in enumerate(pdf.to_dict("records")):
            rec = {
                "_hoodie_commit_time": instant,
                "_hoodie_commit_seqno": f"{instant}_0_{i}",
                "_hoodie_record_key": str(d["__k"]),
                "_hoodie_partition_path": info["part"],
                "_hoodie_file_name": info["fid"],
            }
            if del_col is not None and bool(d[del_col]):
                tombs.append(rec)  # tombstone: key material only
                continue
            for c in data_cols:
                rec[c] = conv(d[c], types[c])
            recs.append(rec)
        final = _os.path.join(table_abs, info["rel"])
        parent = _os.path.dirname(final)
        if parent:
            _os.makedirs(parent, exist_ok=True)
        # per-attempt unique tmp: a speculative/zombie duplicate of
        # this task must not interleave appends into a shared tmp —
        # whichever attempt's os.replace lands last wins whole
        tmp = final + f".{_uuid.uuid4().hex}.tmp"
        if recs:
            append_log_block(
                tmp,
                BLOCK_AVRO_DATA if btype is None else btype,
                {
                    HEADER_INSTANT_TIME: instant,
                    HEADER_SCHEMA: _json.dumps(avro_schema),
                },
                encode_avro_block_content(recs, avro_schema),
            )
        if tombs:
            del_schema = {
                "type": "record",
                "name": "witdb_mor_delete",
                "fields": _meta_string_avro_fields(),
            }
            append_log_block(
                tmp,
                BLOCK_DELETE,
                {
                    HEADER_INSTANT_TIME: instant,
                    HEADER_SCHEMA: _json.dumps(del_schema),
                },
                encode_avro_block_content(tombs, del_schema),
            )
        _os.replace(tmp, final)  # one task per group; retry rewrites
        return _pd.DataFrame(
            {
                "grp": [grp],
                "rel": [info["rel"]],
                "nbytes": [_os.path.getsize(final)],
            }
        )

    return (
        routed.groupBy("__grp")
        .applyInPandas(write_group, "grp string, rel string, nbytes long")
        .collect()
    )


#: virtual-key string rendering = hudi's OWN record-key rendering
#: (KeyGenUtils: single column -> the value's string; composite ->
#: 'f1:v1,f2:v2'; NULL -> '__null__') — shared by the virtual write
#: paths' Spark expressions, the executor-side log decodes, and the
#: tombstone recordKeys, so this repo's tombstones and the library's
#: land in the same key domain. The stringy domain is hudi's contract:
#: composite values containing ','/':' collide there exactly as here.
_VKEY_NULL = "__null__"


def _virtual_key_expr(key_fields: list[str]):
    from pyspark.sql import functions as F

    if len(key_fields) == 1:
        return F.coalesce(
            F.col(key_fields[0]).cast("string"), F.lit(_VKEY_NULL)
        )
    return F.concat_ws(
        ",",
        *[
            F.concat(
                F.lit(f"{k}:"),
                F.coalesce(F.col(k).cast("string"), F.lit(_VKEY_NULL)),
            )
            for k in key_fields
        ],
    )


def _virtual_key_of(rec: dict, key_fields: list[str]) -> str:
    if len(key_fields) == 1:
        v = rec.get(key_fields[0])
        return _VKEY_NULL if v is None else str(v)
    return ",".join(
        f"{k}:" + (_VKEY_NULL if rec.get(k) is None else str(rec[k]))
        for k in key_fields
    )


def _mor_keymap(
    spark, path: str, slices: dict, completed: set,
    key_fields: list[str] | None = None,
):
    """record key -> file group (fid) map, built DISTRIBUTED: base
    keys from the parquet scan (fileId parsed from the base file
    name), log-only slices' keys from the executor-side log decode
    (tombstoned keys still belong to their slice — an upsert of a
    deleted key re-inserts via its group). One fid per key.
    ``key_fields`` (r12, VIRTUAL-KEY tables): derive the key from the
    declared record-key data column(s) instead of _hoodie_record_key —
    _virtual_key_expr/_virtual_key_of keep the two renderings equal."""
    from pyspark.sql import functions as F

    keymaps = []
    base_paths = sorted(
        os.path.join(path, sl["base"][1])
        for sl in slices.values()
        if sl["base"] is not None
    )
    if base_paths:
        key_col = (
            F.col("_hoodie_record_key")
            if key_fields is None
            else _virtual_key_expr(key_fields)
        )
        keymaps.append(
            spark.read.parquet(*base_paths).select(
                key_col.alias("__k"),
                F.regexp_extract(
                    F.element_at(F.split(F.input_file_name(), "/"), -1),
                    "^([^_]+)",
                    1,
                ).alias("__grp"),
            )
        )
    logonly_logs = [
        (os.path.join(path, rel), fid)
        for (part, fid), sl in slices.items()
        if sl["base"] is None
        for _, rel in sl["logs"]
    ]
    if logonly_logs:
        logs_df = spark.createDataFrame(
            logonly_logs, "__log string, __fid string"
        ).repartition(min(len(logonly_logs), 64))

        def decode_keys(batches, _completed=completed, _kf=key_fields):
            import pandas as _pd

            from witdb_spark.sources.hudi_log import log_entries
            from witdb_spark.sources.hudi_meta import _virtual_key_of

            for pdf in batches:
                ks: list[str] = []
                gs: list[str] = []
                for p, fid in zip(pdf["__log"], pdf["__fid"]):
                    for rec, inst, _is_del in log_entries(p):
                        committed = (
                            rec.get("_hoodie_commit_time") in _completed
                            if _kf is None
                            else inst in _completed
                        )
                        if committed:
                            ks.append(
                                str(rec.get("_hoodie_record_key"))
                                if _kf is None
                                else _virtual_key_of(rec, _kf)
                            )
                            gs.append(str(fid))
                yield _pd.DataFrame({"__k": ks, "__grp": gs})

        keymaps.append(
            logs_df.mapInPandas(decode_keys, "__k string, __grp string")
        )
    if not keymaps:
        raise HudiProtocolError(f"{path}: MOR table with no file slices")
    keymap = keymaps[0]
    for km in keymaps[1:]:
        keymap = keymap.unionByName(km)
    return keymap.dropDuplicates(["__k"])


def _mor_group_targets(slices: dict) -> dict[str, dict]:
    """Per-file-group NEXT log file targets — O(file groups) driver
    metadata captured by the distributed log writers' task closures."""
    group_info: dict[str, dict] = {}
    for (part, fid), sl in slices.items():
        if sl["base"] is not None:
            base_instant = (
                os.path.basename(sl["base"][1]).split("_")[-1].split(".")[0]
            )
            part_dir = os.path.dirname(sl["base"][1])
        else:
            first_log = os.path.basename(sl["logs"][0][1])
            # .{fid}_{baseInstant}.log.{version}_{token}
            base_instant = (
                first_log.lstrip(".").split("_", 1)[1].split(".log")[0]
            )
            part_dir = os.path.dirname(sl["logs"][0][1])
        name = f".{fid}_{base_instant}.log.{len(sl['logs']) + 1}_0-0-0"
        group_info[fid] = {
            "rel": f"{part_dir}/{name}" if part_dir else name,
            "fid": fid,
            "part": part,
            "prev": base_instant,
        }
    return group_info


def _meta_string_avro_fields() -> list[dict]:
    return [
        {"name": c, "type": ["null", "string"], "default": None}
        for c in (
            "_hoodie_commit_time", "_hoodie_commit_seqno",
            "_hoodie_record_key", "_hoodie_partition_path",
            "_hoodie_file_name",
        )
    ]


def hudi_log_insert(
    spark: SparkSession,
    path: str,
    source,
    extra_metadata: dict[str, str] | None = None,
) -> str:
    """INSERT rows into a MERGE_ON_READ table as NEW LOG-ONLY file
    groups — the compaction-lagged shape real tables show (hudi's
    insert-into-log path; the reference's plugin/trino-hudi read side
    must merge such slices): no base parquet is written at all, one
    AVRO_DATA log file per partition starts a fresh file group, and a
    deltacommit publishes them. The reader derives the schema from the
    log SCHEMA header and hudi_log_upsert routes matched keys into the
    slice's log. Log files are written by the executors; the driver
    sees per-group descriptors. VIRTUAL-KEY tables (r12,
    hoodie.populate.meta.fields=false, composite keys allowed) write
    data-only records — the reader takes commit times from block
    headers. Returns the commit instant."""
    import uuid

    from pyspark.sql import functions as F

    props = _properties(path)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise HudiProtocolError(
            "hudi_log_insert needs a MERGE_ON_READ table"
        )
    virtual = (
        props.get("hoodie.populate.meta.fields", "true").lower()
        == "false"
    )
    key = props.get("hoodie.table.recordkey.fields")
    key_fields = [k.strip() for k in (key or "").split(",") if k.strip()]
    missing_keys = [k for k in key_fields if k not in source.columns]
    if not key_fields or missing_keys:
        raise HudiProtocolError(
            f"record key {key!r} must be a declared table property and"
            " its column(s) present in the source"
        )
    if not virtual and len(key_fields) != 1:
        raise HudiProtocolError(
            "composite record keys on meta-fields tables need the"
            " bundle's key generator"
        )
    part_fields = _hudi_partition_fields(path)
    missing = [c for c in part_fields if c not in source.columns]
    if missing:
        raise HudiProtocolError(
            f"partition columns {missing} absent from the source"
        )
    base_last = _completed_instants(path)[-1][0]
    instant = _claim_instant(path)
    data_cols = list(source.columns)
    src = source.select(
        (
            _virtual_key_expr(key_fields)
            if virtual
            else F.col(key).cast("string")
        ).alias("__k"),
        (
            _hoodie_partition_path_expr(part_fields)
            if part_fields
            else F.lit("")
        ).alias("__grp"),
        *data_cols,
    )
    parts = [
        r["__grp"] for r in src.select("__grp").distinct().collect()
    ]
    group_info = {}
    for part in parts:
        fid = uuid.uuid4().hex
        name = f".{fid}_{instant}.log.1_0-0-0"
        group_info[part] = {
            "rel": f"{part}/{name}" if part else name,
            "fid": fid,
            "part": part,
        }
    avro_schema = {
        "type": "record",
        "name": "witdb_mor",
        "fields": (
            _avro_schema_for(source)["fields"]
            if virtual
            else _meta_string_avro_fields()
            + _avro_schema_for(source)["fields"]
        ),
    }
    stats_by_part: dict[str, list] = {}
    for r in _write_log_blocks_distributed(
        src, path, instant, avro_schema, group_info, data_cols
    ):
        info = group_info[r["grp"]]
        stats_by_part.setdefault(info["part"], []).append(
            {
                "fileId": info["fid"],
                "path": r["rel"],
                "prevCommit": "null",
                "totalWriteBytes": r["nbytes"],
            }
        )
    if _completed_instants(path)[-1][0] != base_last:
        raise HudiProtocolError(
            f"{path}: concurrent commit during MOR log insert — re-run"
        )
    with open(
        os.path.join(_meta_dir(path), f"{instant}.deltacommit"), "x"
    ) as f:
        json.dump(
            {
                "partitionToWriteStats": stats_by_part or {"": []},
                "operationType": "INSERT",
                **(
                    {
                        "extraMetadata": {
                            str(k): str(v)
                            for k, v in extra_metadata.items()
                        }
                    }
                    if extra_metadata
                    else {}
                ),
            },
            f,
        )
    return instant


def hudi_log_delete(
    spark: SparkSession, path: str, predicate_sql: str
) -> str | None:
    """MOR DELETE as tombstone DELETE log blocks — row-targeted, no
    base rewrite: the hudi analog of Delta's deletion vectors and
    Iceberg's position deletes (real hudi appends HoodieDeleteBlock
    with HoodieDeleteRecord(recordKey, partitionPath) payloads; this
    module's blocks carry the same key material as avro records of the
    hoodie meta fields under a SCHEMA header, and log_entries also
    decodes the library's avro-list payloads since r12 — only kryo
    stays loud). Matched keys route to their owning file slice and the
    DELETE block appends to its log ON THE EXECUTORS (one task per
    group; the driver commits descriptors). The merge reader drops a
    key whose latest record is a tombstone; prior instants still see
    the rows. VIRTUAL-KEY tables work too (r12): tombstone recordKeys
    use hudi's own key rendering, the domain the virtual reader merges
    in. Returns the commit instant, or None when nothing matched."""
    from pyspark.sql import functions as F

    from witdb_spark.sources.hudi_log import BLOCK_DELETE

    props = _properties(path)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise HudiProtocolError(
            "hudi_log_delete needs a MERGE_ON_READ table (COW tables"
            " route through hudi_delete_where's rewrite)"
        )
    virtual = (
        props.get("hoodie.populate.meta.fields", "true").lower()
        == "false"
    )
    key_fields = [
        k.strip()
        for k in (props.get("hoodie.table.recordkey.fields") or "")
        .split(",")
        if k.strip()
    ]
    slices = _hudi_file_slices(path)
    base_last = _completed_instants(path)[-1][0]
    completed = {i for i, _, _ in _completed_instants(path)}
    matched = (
        read_hudi_snapshot(spark, path)
        .where(predicate_sql)
        .select(
            (
                _virtual_key_expr(key_fields)
                if virtual
                else F.col("_hoodie_record_key")
            ).alias("__k")
        )
    )
    if matched.isEmpty():
        return None
    keymap = _mor_keymap(
        spark, path, slices, completed,
        key_fields=key_fields if virtual else None,
    )
    routed = matched.join(keymap, "__k", "inner").select("__grp", "__k")
    group_info = _mor_group_targets(slices)
    avro_schema = {
        "type": "record",
        "name": "witdb_mor_delete",
        "fields": _meta_string_avro_fields(),
    }
    instant = _claim_instant(path)
    stats_by_part: dict[str, list] = {}
    for r in _write_log_blocks_distributed(
        routed, path, instant, avro_schema, group_info,
        data_cols=[], btype=BLOCK_DELETE,
    ):
        info = group_info[r["grp"]]
        stats_by_part.setdefault(info["part"], []).append(
            {
                "fileId": info["fid"],
                "path": r["rel"],
                "prevCommit": info["prev"],
                "totalWriteBytes": r["nbytes"],
            }
        )
    if _completed_instants(path)[-1][0] != base_last:
        raise HudiProtocolError(
            f"{path}: concurrent commit during MOR delete — re-run"
        )
    with open(
        os.path.join(_meta_dir(path), f"{instant}.deltacommit"), "x"
    ) as f:
        json.dump(
            {
                "partitionToWriteStats": stats_by_part or {"": []},
                "operationType": "DELETE",
            },
            f,
        )
    return instant


def hudi_log_upsert(spark: SparkSession, path: str, source) -> str:
    """MOR UPSERT jar-free (the write that makes MERGE_ON_READ worth
    having — reference read side plugin/trino-hudi + hudi's realtime
    semantics): rows whose record key exists append as AVRO_DATA log
    blocks on their file group's log file (NO base rewrite — the MOR
    trade); unmatched rows become a fresh base file group. One
    deltacommit publishes both. Keys living in LOG-ONLY slices route
    to that slice's log (r11). The routing map and the log frames are
    built ON EXECUTORS (_write_log_blocks_distributed) — the driver
    never sees matched rows, only per-group descriptors. VIRTUAL-KEY
    tables (r12, hoodie.populate.meta.fields=false): routing keys
    derive from the declared record-key data column(s) — composite
    keys render through _virtual_key_expr — log records and fresh base
    groups carry NO meta columns. Returns the commit instant."""
    from pyspark.sql import functions as F

    props = _properties(path)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise HudiProtocolError(
            "hudi_log_upsert needs a MERGE_ON_READ table (COW tables"
            " use hudi_upsert)"
        )
    virtual = (
        props.get("hoodie.populate.meta.fields", "true").lower()
        == "false"
    )
    key = props.get("hoodie.table.recordkey.fields")
    key_fields = [k.strip() for k in (key or "").split(",") if k.strip()]
    missing_keys = [k for k in key_fields if k not in source.columns]
    if not key_fields or missing_keys:
        raise HudiProtocolError(
            f"record key {key!r} must be a declared table property and"
            " its column(s) present in the source"
        )
    if not virtual and len(key_fields) != 1:
        raise HudiProtocolError(
            "composite record keys on meta-fields tables need the"
            " bundle's key generator"
        )
    slices = _hudi_file_slices(path)
    base_last = _completed_instants(path)[-1][0]
    completed = {i for i, _, _ in _completed_instants(path)}
    data_cols = list(source.columns)
    part_fields = _hudi_partition_fields(path)
    keymap = _mor_keymap(
        spark, path, slices, completed,
        key_fields=key_fields if virtual else None,
    )
    src = source.withColumn(
        "__k",
        _virtual_key_expr(key_fields)
        if virtual
        else F.col(key).cast("string"),
    )
    routed = src.join(keymap, "__k", "left")
    group_info = _mor_group_targets(slices)
    # an unsupported data type only blocks the LOG write — pure-insert
    # upserts (new keys land as parquet base groups) keep working
    try:
        avro_fields = _avro_schema_for(source)["fields"]
    except HudiProtocolError:
        avro_fields = None
    matched = routed.where("__grp IS NOT NULL").select(
        "__grp", "__k", *data_cols
    )
    instant = _claim_instant(path)
    stats_by_part: dict[str, list] = {}
    if avro_fields is None:
        if not matched.isEmpty():
            _avro_schema_for(source)  # re-raise the informative error
    else:
        # virtual-key tables carry NO meta columns anywhere — log
        # records are plain data fields (the schema drives the encode;
        # the virtual reader takes commit time from the block header)
        avro_schema = {
            "type": "record",
            "name": "witdb_mor",
            "fields": (
                avro_fields
                if virtual
                else _meta_string_avro_fields() + avro_fields
            ),
        }
        for r in _write_log_blocks_distributed(
            matched, path, instant, avro_schema, group_info, data_cols
        ):
            info = group_info[r["grp"]]
            stats_by_part.setdefault(info["part"], []).append(
                {
                    "fileId": info["fid"],
                    "path": r["rel"],
                    "prevCommit": info["prev"],
                    "totalWriteBytes": r["nbytes"],
                }
            )
    inserts = routed.where("__grp IS NULL").select(*data_cols)
    if not inserts.isEmpty():
        if part_fields:
            missing = [c for c in part_fields if c not in data_cols]
            if missing:
                raise HudiProtocolError(
                    f"partition columns {missing} absent from the source"
                )
        if virtual:
            full = inserts.coalesce(1)
        else:
            full = inserts.coalesce(1).select(
                F.lit(instant).alias("_hoodie_commit_time"),
                F.concat(
                    F.lit(f"{instant}_1_"),
                    F.monotonically_increasing_id().cast("string"),
                ).alias("_hoodie_commit_seqno"),
                F.col(key).cast("string").alias("_hoodie_record_key"),
                (
                    _hoodie_partition_path_expr(part_fields)
                    if part_fields
                    else F.lit("")
                ).alias("_hoodie_partition_path"),
                F.lit("").alias("_hoodie_file_name"),
                *data_cols,
            )
        for part_key, recs in _stage_mor_groups(
            full, path, instant, part_fields, virtual=virtual
        ).items():
            stats_by_part.setdefault(part_key, []).extend(recs)
    if _completed_instants(path)[-1][0] != base_last:
        raise HudiProtocolError(
            f"{path}: concurrent commit during MOR upsert — re-run"
        )
    with open(
        os.path.join(_meta_dir(path), f"{instant}.deltacommit"), "x"
    ) as f:
        json.dump(
            {
                "partitionToWriteStats": stats_by_part or {"": []},
                "operationType": "UPSERT",
            },
            f,
        )
    return instant


def hudi_incremental_read(
    spark: SparkSession,
    path: str,
    begin_instant: str,
    end_instant: str | None = None,
) -> DataFrame:
    """Hudi's INCREMENTAL QUERY (the feature MOR exists for —
    hoodie.datasource.query.type=incremental): the LATEST state of
    every record whose winning commit is AFTER ``begin_instant``, up
    to ``end_instant`` (default: latest) — exclusive begin, inclusive
    end, so consumers chain calls with the last instant they saw. The
    jar-free MOR snapshot already merges per key and carries each
    row's winning _hoodie_commit_time, so the incremental read is the
    snapshot at ``end`` filtered by commit time — no extra pass.
    Like real hudi's incremental mode, hard-deleted keys do not emit
    (no tombstone images). COW tables serve too since r15
    (_hudi_cow_incremental — per-commit change images from the
    witdb_hudi_changes batch reader's rewrite anti-diff, folded to the
    latest image per record key and semi-joined against the
    end-snapshot so deleted keys drop; keyless COW tables still refuse
    loudly). VIRTUAL-KEY tables work too (r12): the derived winning
    commit (file-name instant / log block header) filters in place of
    _hoodie_commit_time."""
    from pyspark.sql import functions as F

    props = _properties(path)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        return _hudi_cow_incremental(
            spark, path, begin_instant, end_instant, props
        )
    if props.get("hoodie.populate.meta.fields", "true").lower() == "false":
        snap = _read_mor_snapshot_virtual(
            spark, path, end_instant, props, _with_commit=True
        )
        return snap.filter(
            F.col("__h_commit") > str(begin_instant)
        ).drop("__h_commit")
    snap = _read_mor_snapshot(spark, path, end_instant)
    return snap.filter(
        F.col("_hoodie_commit_time") > str(begin_instant)
    )


def _hudi_cow_incremental(
    spark: SparkSession,
    path: str,
    begin_instant: str,
    end_instant: str | None,
    props: dict,
) -> DataFrame:
    """COW incremental query (r15 — the batch twin of the streaming
    rewrite attribution; previously a loud MOR-only gate): per-commit
    change images come from the witdb_hudi_changes BATCH reader (adds
    served whole, rewrites attributed by the executor-side anti-diff
    against retired file groups), then batch semantics fold them to
    the LATEST image per record key across the range, and a left-semi
    join against the end-instant snapshot drops keys that no longer
    exist (hudi's incremental mode emits no tombstones). Needs the
    declared record key (keyless tables refuse — without a key there
    is no 'latest per record')."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    key = props.get("hoodie.table.recordkey.fields")
    key_fields = [
        k.strip() for k in (key or "").split(",") if k.strip()
    ]
    if not key_fields:
        raise HudiProtocolError(
            "COW incremental queries need"
            " hoodie.table.recordkey.fields (there is no 'latest"
            " image per record' without a record key); keyless COW"
            " needs the hudi-spark bundle"
        )
    from witdb_spark.streaming.hudi_source import HudiChangesDataSource

    spark.dataSource.register(HudiChangesDataSource)
    r = (
        spark.read.format("witdb_hudi_changes")
        .option("path", path)
        .option("starting_instant", str(begin_instant))
    )
    if end_instant is not None:
        r = r.option("ending_instant", str(end_instant))
    changes = r.load()
    w = Window.partitionBy(*key_fields).orderBy(
        F.col("_commit_instant").desc()
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "_commit_instant")
    )
    snap_keys = read_hudi_snapshot(
        spark, path, as_of_instant=end_instant
    ).select(*key_fields).distinct()
    return latest.join(snap_keys, on=key_fields, how="left_semi")


def hudi_compact(
    spark: SparkSession, path: str, target_files: int = 1
) -> str:
    """MOR compaction jar-free (reference: hudi's compaction merges a
    file slice's base + logs into a new base file): the merged
    snapshot rewrites as fresh base file groups and ONE replacecommit
    retires every prior group — after it, log records are folded in
    and reads are pure parquet again. Prior instants still see the old
    slices (time travel). VIRTUAL-KEY tables compact too (r12): the
    rewritten base carries no meta columns; like real hudi without
    meta fields, per-row commit provenance resets to the compaction
    instant (there is no column to preserve it in), so incremental
    consumers should checkpoint before compacting. Returns the commit
    instant."""
    props = _properties(path)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise HudiProtocolError(
            "hudi_compact is for MERGE_ON_READ tables (COW tables use"
            " CALL system.optimize clustering)"
        )
    virtual = (
        props.get("hoodie.populate.meta.fields", "true").lower()
        == "false"
    )
    slices = _hudi_file_slices(path)
    part_fields = _hudi_partition_fields(path)
    base_last = _completed_instants(path)[-1][0]
    merged = read_hudi_snapshot(spark, path).coalesce(
        max(1, int(target_files))
    )
    instant = _claim_instant(path)
    # partitioned tables re-stage per partition (the merged rows carry
    # their stamped _hoodie_partition_path; virtual tables recompute
    # the hive path from the partition columns); coalesce keeps the
    # per-partition group count at target_files
    stats_by_part = _stage_mor_groups(
        merged, path, instant, part_fields, virtual=virtual
    )
    if _completed_instants(path)[-1][0] != base_last:
        raise HudiProtocolError(
            f"{path}: concurrent commit during compaction — re-run"
        )
    replace: dict[str, list] = {}
    for part, fid in slices:
        replace.setdefault(part, []).append(fid)
    meta = {
        "partitionToWriteStats": stats_by_part or {"": []},
        "partitionToReplaceFileIds": {
            p_: sorted(fids) for p_, fids in replace.items()
        } or {"": []},
        "extraMetadata": {"schema": merged.schema.json()},
        "operationType": "COMPACT",
    }
    with open(
        os.path.join(_meta_dir(path), f"{instant}.replacecommit"), "x"
    ) as f:
        json.dump(meta, f)
    return instant


def hudi_truncate(spark: SparkSession, path: str) -> str:
    """TRUNCATE TABLE: ONE replacecommit retiring every file group
    (base and log-only slices alike) with no replacement groups — the
    timeline's own insert-overwrite-with-nothing shape. No file
    deletion; prior instants still time-travel; the cleaner reclaims
    retired slices later. Returns the commit instant."""
    slices = _hudi_file_slices(path)
    base_last = _completed_instants(path)[-1][0]
    instant = _claim_instant(path)
    replace: dict[str, list] = {}
    for part, fid in slices:
        replace.setdefault(part, []).append(fid)
    if _completed_instants(path)[-1][0] != base_last:
        raise HudiProtocolError(
            f"{path}: concurrent commit during TRUNCATE — re-run"
        )
    with open(
        os.path.join(_meta_dir(path), f"{instant}.replacecommit"), "x"
    ) as f:
        json.dump(
            {
                "partitionToWriteStats": {"": []},
                "partitionToReplaceFileIds": {
                    p_: sorted(fids) for p_, fids in replace.items()
                } or {"": []},
                "operationType": "DELETE_PARTITION",
            },
            f,
        )
    return instant


def hudi_clean(path: str, keep_last: int = 1) -> dict:
    """Retention maintenance (real Hudi's cleaner, KEEP_LATEST_COMMITS
    analog): keep every file visible as of any of the last
    ``keep_last`` completed instants; delete the rest. COW keeps base
    files; MERGE_ON_READ (r11) keeps each retained instant's SLICES —
    base AND log files — so compaction-retired logs become cleanable.
    Only files this module's writers named are ever touched, and only
    when their embedded instant is covered by a COMPLETED commit (a
    newer instant belongs to an in-flight writer that published files
    before its commit JSON — the write protocol's order)."""
    import glob

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    instants = _completed_instants(path)
    if not instants:
        raise FileNotFoundError(f"{path}: no completed Hudi commits")
    retained = instants[-keep_last:]
    newest_completed = instants[-1][0]
    is_mor = (
        _properties(path).get("hoodie.table.type") == "MERGE_ON_READ"
    )
    referenced: set[str] = set()
    for inst, _, _ in retained:
        if is_mor:
            for sl in _hudi_file_slices(path, as_of_instant=inst).values():
                if sl["base"] is not None:
                    referenced.add(
                        os.path.abspath(os.path.join(path, sl["base"][1]))
                    )
                for _i, rel in sl["logs"]:
                    referenced.add(os.path.abspath(os.path.join(path, rel)))
        else:
            for p in hudi_base_files(path, as_of_instant=inst):
                referenced.add(os.path.abspath(p))
    deleted = 0
    base_re = re.compile(r"^[0-9a-f]{32}_\d+_(\d+)\.parquet$")
    for p in glob.glob(
        os.path.join(path, "**", "*.parquet"), recursive=True
    ):
        if os.path.abspath(p) in referenced:
            continue
        m = base_re.match(os.path.basename(p))
        if m is None or m.group(1) > newest_completed:
            continue
        os.remove(p)
        deleted += 1
    if is_mor:
        # logs embed their BASE instant, which cannot fence in-flight
        # appends the way base-file names do — so additionally keep
        # the HIGHEST log version of every (fid, base-instant) group:
        # an in-flight append is always the newest version, and the
        # cost is one retained file per retired group
        log_re = re.compile(
            r"^\.([0-9a-f]{32})_(\d+)\.log\.(\d+)_0-0-0$"
        )
        by_group: dict[tuple[str, str], list[tuple[int, str]]] = {}
        for p in set(
            glob.glob(os.path.join(path, "**", ".*.log.*"), recursive=True)
        ) | set(glob.glob(os.path.join(path, ".*.log.*"))):
            if os.path.abspath(p) in referenced:
                continue
            m = log_re.match(os.path.basename(p))
            if m is None or m.group(2) > newest_completed:
                continue
            by_group.setdefault(
                (m.group(1), m.group(2)), []
            ).append((int(m.group(3)), p))
        for vs in by_group.values():
            for _v, p in sorted(vs)[:-1]:
                os.remove(p)
                deleted += 1
    return {"deleted_files": deleted, "retained_instants": len(retained)}


def hudi_cluster(
    spark: SparkSession, path: str, target_groups: int = 1
) -> str | None:
    """Clustering (real Hudi's replacecommit-based clustering service):
    rewrite the whole active set into ``target_groups`` file groups —
    one replacecommit retires every prior group and publishes the
    coalesced ones; prior instants still time-travel. Already-compact
    tables are a no-op — an hourly maintenance run must not accrete a
    table copy per run."""
    if len(hudi_base_files(path)) <= max(1, int(target_groups)):
        return None
    return _hudi_rewrite_matched(
        spark, path,
        None,
        lambda rows: rows.coalesce(max(1, int(target_groups))),
        op="clustering",
    )


def hudi_cdc_changes(spark: SparkSession, path: str) -> DataFrame:
    """CDC read over a MERGE_ON_READ table's CDC_DATA log blocks
    (r13 — hudi RFC-51 'Change-Data-Capture',
    hoodie.table.cdc.enabled): blocks decode ON EXECUTORS
    (mapInPandas over the slice log list, the same shape the MOR
    snapshot reader uses), rollbacks honored, uncommitted instants
    filtered. Output normalizes the three supplemental logging modes
    onto one schema — op ('i'|'u'|'d'), record_key (op_key_only
    mode), ts_ms, before, after (JSON-string row images under
    data_before[_after]) — plus _commit_time from the block header.
    BEYOND-REFERENCE (trino-hudi has no CDC read); this repo's own
    writers do not emit CDC blocks (the native CDC surface is the
    Delta CDF) — this reads tables a cdc-enabled hudi library
    wrote."""
    from pyspark.sql import functions as F

    slices = _hudi_file_slices(path)
    logs = sorted(
        os.path.join(path, rel)
        for sl in slices.values()
        for _, rel in sl["logs"]
    )
    out_ddl = (
        "op string, record_key string, ts_ms string, before string,"
        " after string, _commit_time string"
    )
    if not logs:
        return local_frame(spark, [], out_ddl)
    completed = {i for i, _, _ in _completed_instants(path)}
    logs_df = spark.createDataFrame(
        [(p,) for p in logs], "__log string"
    ).repartition(min(len(logs), 64))

    def decode(batches, _completed=completed):
        import json as _json

        import pandas as _pd

        from witdb_spark.sources.hudi_log import log_cdc_entries

        for pdf in batches:
            rows = {
                k: []
                for k in (
                    "op", "record_key", "ts_ms", "before", "after",
                    "_commit_time",
                )
            }
            for lp in pdf["__log"]:
                for rec, instant in log_cdc_entries(lp):
                    if instant not in _completed:
                        continue
                    rows["op"].append(rec.get("op"))
                    rows["record_key"].append(rec.get("record_key"))
                    rows["ts_ms"].append(
                        None
                        if rec.get("ts_ms") is None
                        else str(rec["ts_ms"])
                    )
                    for img in ("before", "after"):
                        v = rec.get(img)
                        rows[img].append(
                            v
                            if v is None or isinstance(v, str)
                            else _json.dumps(v, default=str)
                        )
                    rows["_commit_time"].append(instant)
            yield _pd.DataFrame(rows)

    return logs_df.mapInPandas(decode, out_ddl)
