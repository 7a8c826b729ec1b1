"""Lakehouse METADATA TABLES — the reference's ``"table$<name>"``
system-table surface (plugin/trino-delta-lake DeltaLakeMetadata
getSystemTable: $history/$properties/$partitions;
plugin/trino-iceberg TableType: $snapshots/$history/$manifests/$files/
$partitions/$properties/$refs; plugin/trino-hudi: $timeline), spelled
``fmt.'<path>$<name>'`` through the SQL front door's path-table
convention.

All of these are METADATA-scale reads: the driver walks the same
transaction-log / metadata-chain structures the snapshot readers
already parse and hands Spark a small local DataFrame — no data file
is ever opened, which is exactly what makes `$files` useful on a
100 TB table (the answer comes from manifests, not a scan).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from witdb_spark.frames import local_frame


class MetadataTableError(ValueError):
    pass


def is_metadata_name(fmt: str, name: str) -> bool:
    """True when ``$name`` is a known metadata table for ``fmt`` —
    callers use this to distinguish the ``table$history`` spelling
    from a plain path that happens to contain '$'."""
    return (fmt.lower(), name.lower()) in _TABLES


def metadata_table(
    spark: SparkSession, fmt: str, path: str, name: str
) -> DataFrame:
    """``fmt.'<path>$<name>'`` -> DataFrame. Unknown names raise with
    the supported list (same behavior as the reference's analyzer)."""
    key = (fmt.lower(), name.lower())
    fn = _TABLES.get(key)
    if fn is None:
        supported = sorted(n for f, n in _TABLES if f == fmt.lower())
        raise MetadataTableError(
            f"unknown metadata table ${name} for {fmt} — supported:"
            f" {supported}"
        )
    return fn(spark, path)


# ------------------------------------------------------------------ delta


def _delta_history(spark: SparkSession, path: str) -> DataFrame:
    from witdb_spark.sources.delta_log import (
        _commit_timestamp,
        _list_log,
        _parse_action,
    )

    commits, _ = _list_log(path)
    rows = []
    for v in sorted(commits):
        info: dict = {}
        with open(commits[v]) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = _parse_action(line)
                if a.get("commitInfo"):
                    info = a["commitInfo"]
                    break
        rows.append(
            (
                v,
                _commit_timestamp(commits[v]),
                str(info.get("operation") or ""),
                json.dumps(info.get("operationParameters") or {}),
            )
        )
    df = local_frame(
        spark,
        rows,
        "version bigint, timestamp_ms bigint, operation string,"
        " operation_parameters string",
    )
    from pyspark.sql import functions as F

    return df.select(
        "version",
        F.timestamp_millis(F.col("timestamp_ms")).alias("timestamp"),
        "operation",
        "operation_parameters",
    )


def _delta_properties(spark: SparkSession, path: str) -> DataFrame:
    from witdb_spark.sources.delta_log import _snapshot_state

    _, metadata, _, _ = _snapshot_state(
        spark, path, None, None, allow_dvs=True, allow_name_mapping=True
    )
    conf = metadata.get("configuration") or {}
    return local_frame(
        spark, sorted(conf.items()), "key string, value string"
    )


def _delta_partitions(spark: SparkSession, path: str) -> DataFrame:
    """$partitions: per-partition file/record counts. r14: aggregates
    in the JVM over the distributed snapshot plan — the driver sees
    O(partitions) aggregate rows, never the O(files) add inventory
    (stats stay executor-side; DV-shadowed rows subtract via the
    descriptor's cardinality)."""
    from pyspark.sql import functions as F

    from witdb_spark.sources.delta_log import (
        _FILES_ENTRY_SCHEMA,
        _entry_of,
        _snapshot_files_plan,
    )

    _, metadata, _v, state, files_df = _snapshot_files_plan(
        spark, path, None, None
    )
    part_cols = list(metadata.get("partitionColumns") or [])
    if files_df is None:
        files_df = spark.createDataFrame(
            [_entry_of(a) for a in state.values()], _FILES_ENTRY_SCHEMA
        )
    live = F.greatest(
        F.lit(0),
        F.coalesce(
            F.get_json_object(F.col("stats"), "$.numRecords").cast(
                "bigint"
            ),
            F.lit(0),
        )
        - F.coalesce(
            F.get_json_object(F.col("dv"), "$.cardinality").cast(
                "bigint"
            ),
            F.lit(0),
        ),
    )
    keys = [
        F.col("pv").getItem(c).alias(f"__p{i}")
        for i, c in enumerate(part_cols)
    ]
    agg_rows = (
        files_df.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(live).alias("__rec"),
        )
        .collect()
    )
    rows = sorted(
        (
            json.dumps(
                dict(
                    zip(
                        part_cols,
                        (r[f"__p{i}"] for i in range(len(part_cols))),
                    )
                )
            ),
            int(r["__n"]),
            int(r["__rec"] or 0),
        )
        for r in agg_rows
    )
    return local_frame(
        spark,
        rows,
        "partition string, file_count bigint, record_count bigint",
    )


# ---------------------------------------------------------------- iceberg


def _ice_snapshots(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import functions as F

    from witdb_spark.sources.iceberg_meta import _current_metadata

    meta = _current_metadata(path)
    rows = [
        (
            s["snapshot-id"],
            s.get("parent-snapshot-id"),
            int(s["timestamp-ms"]),
            str((s.get("summary") or {}).get("operation") or ""),
            str(s.get("manifest-list") or ""),
        )
        for s in meta.get("snapshots") or []
    ]
    df = local_frame(
        spark,
        rows,
        "snapshot_id bigint, parent_id bigint, committed_ms bigint,"
        " operation string, manifest_list string",
    )
    return df.select(
        F.timestamp_millis(F.col("committed_ms")).alias("committed_at"),
        "snapshot_id", "parent_id", "operation", "manifest_list",
    )


def _ice_history(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import functions as F

    from witdb_spark.sources.iceberg_meta import _current_metadata

    meta = _current_metadata(path)
    current = meta.get("current-snapshot-id")
    parents = {
        s["snapshot-id"]: s.get("parent-snapshot-id")
        for s in meta.get("snapshots") or []
    }
    ancestors = set()
    cur = current
    while cur is not None and cur not in ancestors:
        ancestors.add(cur)
        cur = parents.get(cur)
    if all(p is None for p in parents.values()):
        # writers that do not stamp parent-snapshot-id produce a
        # LINEAR history: every snapshot is an ancestor of current
        ancestors = set(parents)
    log = meta.get("snapshot-log")
    if not log:
        # tables written before the writer stamped snapshot-log: a
        # linear history derives from the snapshots themselves
        log = [
            {
                "timestamp-ms": s["timestamp-ms"],
                "snapshot-id": s["snapshot-id"],
            }
            for s in sorted(
                meta.get("snapshots") or [],
                key=lambda s: (s["timestamp-ms"], s["snapshot-id"]),
            )
        ]
    rows = [
        (
            int(e["timestamp-ms"]),
            e["snapshot-id"],
            parents.get(e["snapshot-id"]),
            e["snapshot-id"] in ancestors,
        )
        for e in log
    ]
    df = local_frame(
        spark,
        rows,
        "made_current_ms bigint, snapshot_id bigint, parent_id bigint,"
        " is_current_ancestor boolean",
    )
    return df.select(
        F.timestamp_millis(F.col("made_current_ms")).alias(
            "made_current_at"
        ),
        "snapshot_id", "parent_id", "is_current_ancestor",
    )


def _ice_properties(spark: SparkSession, path: str) -> DataFrame:
    from witdb_spark.sources.iceberg_meta import _current_metadata

    props = _current_metadata(path).get("properties") or {}
    return local_frame(
        spark, sorted(props.items()), "key string, value string"
    )


def _ice_manifests(spark: SparkSession, path: str) -> DataFrame:
    from witdb_spark.sources.avro_codec import read_avro_file
    from witdb_spark.sources.iceberg_meta import (
        _current_metadata,
        _pick_snapshot,
        _resolve,
    )

    meta = _current_metadata(path)
    snap = _pick_snapshot(meta, None, None)
    _, manifests = read_avro_file(_resolve(path, snap["manifest-list"]))
    rows = [
        (
            str(m.get("manifest_path") or ""),
            int(m.get("manifest_length") or 0),
            int(m.get("partition_spec_id") or 0),
            int(m.get("content") or 0),
            m.get("added_snapshot_id"),
            m.get("sequence_number"),
        )
        for m in manifests
    ]
    return local_frame(
        spark,
        rows,
        "path string, length bigint, partition_spec_id int,"
        " content int, added_snapshot_id bigint, sequence_number bigint",
    )


def _ice_files(spark: SparkSession, path: str) -> DataFrame:
    from witdb_spark.sources.avro_codec import read_avro_file
    from witdb_spark.sources.iceberg_meta import (
        _current_metadata,
        _pick_snapshot,
        _resolve,
    )

    meta = _current_metadata(path)
    snap = _pick_snapshot(meta, None, None)
    _, manifests = read_avro_file(_resolve(path, snap["manifest-list"]))
    rows = []
    for m in manifests:
        _, entries = read_avro_file(_resolve(path, m["manifest_path"]))
        for e in entries:
            if e.get("status", 1) == 2:
                continue
            rec = e["data_file"]
            rows.append(
                (
                    int(rec.get("content") or 0),
                    str(rec.get("file_path") or ""),
                    str(rec.get("file_format") or ""),
                    int(rec.get("record_count") or 0),
                    int(rec.get("file_size_in_bytes") or 0),
                    json.dumps(rec.get("partition"), default=str)
                    if rec.get("partition") is not None
                    else None,
                )
            )
    return local_frame(
        spark,
        rows,
        "content int, file_path string, file_format string,"
        " record_count bigint, file_size_in_bytes bigint,"
        " partition string",
    )


def _ice_partitions(spark: SparkSession, path: str) -> DataFrame:
    from witdb_spark.sources.avro_codec import read_avro_file
    from witdb_spark.sources.iceberg_meta import (
        _current_metadata,
        _pick_snapshot,
        _resolve,
    )

    meta = _current_metadata(path)
    snap = _pick_snapshot(meta, None, None)
    _, manifests = read_avro_file(_resolve(path, snap["manifest-list"]))
    agg: dict[str, list[int]] = {}
    for m in manifests:
        if m.get("content", 0) != 0:
            continue  # data files only, like the reference's table
        _, entries = read_avro_file(_resolve(path, m["manifest_path"]))
        for e in entries:
            if e.get("status", 1) == 2:
                continue
            rec = e["data_file"]
            if rec.get("content", 0) != 0:
                continue
            key = json.dumps(rec.get("partition") or {}, default=str)
            cur = agg.setdefault(key, [0, 0, 0])
            cur[0] += 1
            cur[1] += int(rec.get("record_count") or 0)
            cur[2] += int(rec.get("file_size_in_bytes") or 0)
    rows = [
        (k, n, rec, sz) for k, (n, rec, sz) in sorted(agg.items())
    ]
    return local_frame(
        spark,
        rows,
        "partition string, file_count bigint, record_count bigint,"
        " total_size bigint",
    )


def _ice_refs(spark: SparkSession, path: str) -> DataFrame:
    from witdb_spark.sources.iceberg_meta import _current_metadata

    meta = _current_metadata(path)
    refs = dict(meta.get("refs") or {})
    if "main" not in refs and meta.get("current-snapshot-id") is not None:
        # spec: the implicit `main` branch is always the current
        # snapshot, whether or not explicit refs exist
        refs["main"] = {
            "snapshot-id": meta["current-snapshot-id"],
            "type": "branch",
        }
    rows = [
        (
            name,
            str(r.get("type") or ""),
            r.get("snapshot-id"),
            r.get("max-reference-age-ms"),
        )
        for name, r in sorted(refs.items())
    ]
    return local_frame(
        spark,
        rows,
        "name string, type string, snapshot_id bigint,"
        " max_reference_age_ms bigint",
    )


# ------------------------------------------------------------------- hudi


def _hudi_timeline(spark: SparkSession, path: str) -> DataFrame:
    from witdb_spark.sources.hudi_meta import _completed_instants

    rows = [
        (instant, action, "COMPLETED")
        for instant, action, _f in _completed_instants(path)
    ]
    return local_frame(
        spark, rows, "timestamp string, action string, state string"
    )


_TABLES = {
    ("delta", "history"): _delta_history,
    ("delta", "properties"): _delta_properties,
    ("delta", "partitions"): _delta_partitions,
    ("iceberg", "snapshots"): _ice_snapshots,
    ("iceberg", "history"): _ice_history,
    ("iceberg", "properties"): _ice_properties,
    ("iceberg", "manifests"): _ice_manifests,
    ("iceberg", "files"): _ice_files,
    ("iceberg", "partitions"): _ice_partitions,
    ("iceberg", "refs"): _ice_refs,
    ("hudi", "timeline"): _hudi_timeline,
}
