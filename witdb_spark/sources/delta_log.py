"""Pure-Python Delta Lake transaction-log reader (read path, no jar).

The reference's delta connector (plugin/trino-delta-lake,
io/trino/plugin/deltalake/transactionlog/TransactionLogAccess.java) does
NOT link the Delta runtime: it implements the PUBLIC Delta transaction
log protocol (github.com/delta-io/delta PROTOCOL.md) itself — JSON
commits + parquet checkpoints reconstructed into a snapshot, then the
data files scanned as ordinary parquet. This module is the same
architecture on Spark: the driver folds the log into the active
add-file set (exactly what every Delta reader materializes), and the
data scan stays a distributed parquet read with full predicate
pushdown / column pruning; partition values are injected from the log
as per-group literals, so Catalyst folds partition-column filters to
constants and prunes the unioned branches — log-driven partition
pruning without a connector jar.

Used by sources/lakehouse.read_table as the fallback when the Delta jar
is absent; with the jar present the DSv2 connector takes over unchanged.

r9: active DELETION VECTORS read jar-free — descriptors ('u'/'p'/'i'
storage, Z85, CRC-checked frames) decode through the pure-Python
roaring codec (sources/roaring.py) ON EXECUTORS, and the snapshot scan
anti-joins (file, row_index) like any MOR reader;
delta_write_deletion_vectors commits spec-shaped DVs (protocol bumped
to readerFeatures=[deletionVectors]). Write-side operations that would
have to rewrite DV'd files (COW DML, optimize, vacuum) still refuse
loudly on tables with active DVs; delta_checkpoint serializes DV
descriptors into the checkpoint and is DV-safe.

r9 also reads column mapping mode=name (physical -> logical renames)
and V2 / uuid-named CHECKPOINTS (manifest json/parquet +
checkpointMetadata validation + _sidecars add batches). r10 completes
COLUMN MAPPING: mode=id reads (parquet field-id resolution), nested
mapping in both modes (read side), and the WRITE half — CREATE
generates physicalNames+ids, staging renames logical -> physical with
real parquet field ids, DML/optimize/vacuum/checkpoint all run on
mapped tables. r10 also adds per-file STATS on every add (footer
min/max/nullCount) and read-side FILE SKIPPING
(read_delta_snapshot(where=), sources/skipping.py).

r10 completes the write half for NESTED types too: a positional cast
renames every inner field to its physicalName and stamps its field id
(_cm_write_type — the exact inverse of the read path's
logical-restoring cast).

Loud scope-outs (raise, never silently misread): row rewrites on DV'd
files (COW DML/optimize/vacuum on tables with active DVs) and any
reader feature outside the understood set.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from witdb_spark.frames import local_frame
from witdb_spark.sources.paths import norm_path_expr

#: minReaderVersion 3 reader features this module actually honors.
#: timestampNtz is a plain parquet NTZ read; columnMapping is accepted
#: only while the table's mode stays "none"; deletionVectors read
#: jar-free since r9 (write-side ops on DV'd tables still refuse).
_OK_READER_FEATURES = {
    "timestampNtz", "columnMapping", "deletionVectors", "v2Checkpoint",
}

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(
    r"^(\d{20})\.checkpoint(\.\d{10}\.\d{10})?\.parquet$"
)
# v2 / uuid-named checkpoints (PROTOCOL.md "V2 Spec"): a single
# manifest file <version>.checkpoint.<uuid>.{json,parquet} holding
# protocol/metaData/checkpointMetadata plus sidecar actions that point
# at add-file batches under _delta_log/_sidecars/
_CHECKPOINT_V2_RE = re.compile(
    r"^(\d{20})\.checkpoint\.[0-9a-fA-F-]{36}\.(parquet|json)$"
)


class DeltaProtocolError(RuntimeError):
    """The log demands a protocol feature this reader does not handle."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_delta_log")


def _list_log(path: str) -> tuple[dict[int, str], dict[int, list[str]]]:
    """(version -> commit json, version -> checkpoint parquet parts)."""
    d = _log_dir(path)
    if not os.path.isdir(d):
        raise FileNotFoundError(
            f"{path} is not a Delta table (no _delta_log directory)"
        )
    commits: dict[int, str] = {}
    checkpoints: dict[int, list[str]] = {}
    for name in os.listdir(d):
        m = _COMMIT_RE.match(name)
        if m:
            commits[int(m.group(1))] = os.path.join(d, name)
            continue
        m = _CHECKPOINT_RE.match(name) or _CHECKPOINT_V2_RE.match(name)
        if m:
            checkpoints.setdefault(int(m.group(1)), []).append(
                os.path.join(d, name)
            )
    return commits, checkpoints


def _drop_add_stats(df, keep_stats: bool):
    """Project ``add`` without its ``stats`` field unless the caller
    needs stats (r14, VERDICT r13 'driver-side snapshot planning'):
    stats JSON is the dominant per-add payload (~1-2 KB vs ~100 B for
    path+partitionValues), and nested-schema pruning then keeps the
    column out of the parquet scan entirely. Writer-side folds that
    re-emit adds verbatim (checkpoint writer, RESTORE, DV re-adds) and
    stats consumers ($partitions) pass keep_stats=True."""
    if keep_stats or "add" not in df.columns:
        return df
    add_t = df.schema["add"].dataType
    if not hasattr(add_t, "fields") or all(
        f.name != "stats" for f in add_t.fields
    ):
        return df
    others = [c for c in df.columns if c != "add"]
    return df.select(
        *others, F.col("add").dropFields("stats").alias("add")
    )


def _read_v2_checkpoint(
    spark: SparkSession, path: str, manifest: str, cp_version: int,
    keep_stats: bool = True,
) -> tuple[dict, dict, list[dict]]:
    """Read a v2 (uuid-named) checkpoint (PROTOCOL.md "V2 Spec"):
    the manifest (json lines or parquet) carries protocol, metaData,
    a checkpointMetadata action whose version must match the file
    name, inline add actions, and sidecar actions naming add-file
    batches under _delta_log/_sidecars/. Returns
    (protocol, metadata, adds). Remove actions in a checkpoint are
    retained tombstones, not state — same treatment as classic."""
    protocol: dict = {}
    metadata: dict = {}
    adds: list[dict] = []
    sidecars: list[str] = []
    cp_meta: dict | None = None

    def fold(action: dict) -> None:
        nonlocal protocol, metadata, cp_meta
        if action.get("protocol"):
            protocol = {
                k: v for k, v in action["protocol"].items()
                if v is not None
            }
        if action.get("metaData"):
            metadata = action["metaData"]
        if action.get("checkpointMetadata"):
            cp_meta = action["checkpointMetadata"]
        if action.get("add"):
            adds.append(action["add"])
        if action.get("sidecar"):
            sidecars.append(action["sidecar"]["path"])

    if manifest.endswith(".json"):
        with open(manifest) as f:
            for line in f:
                line = line.strip()
                if line:
                    fold(_parse_action(line))
    else:
        for r in _drop_add_stats(
            spark.read.parquet(manifest), keep_stats
        ).collect():
            fold(
                {
                    k: v
                    for k, v in r.asDict(recursive=True).items()
                    if v is not None
                }
            )
    if cp_meta is None or int(cp_meta.get("version", -1)) != cp_version:
        raise DeltaProtocolError(
            f"v2 checkpoint {os.path.basename(manifest)}: missing or"
            f" mismatched checkpointMetadata (got {cp_meta})"
        )
    for rel in sidecars:
        sf = os.path.join(_log_dir(path), "_sidecars", unquote(rel))
        if not os.path.exists(sf):
            raise DeltaProtocolError(
                f"v2 checkpoint sidecar missing: {rel}"
            )
        for r in _drop_add_stats(
            spark.read.parquet(sf), keep_stats
        ).collect():
            d = r.asDict(recursive=True)
            if d.get("add"):
                adds.append(d["add"])
    return protocol, metadata, adds


def _parse_action(line: str) -> dict:
    """One log action per line — parsed LENIENTLY like the reference's
    Jackson reader: decode the first JSON object and ignore trailing
    bytes (real Databricks-written fixtures carry trailing characters
    after the object; strict json.loads refuses them)."""
    action, _end = json.JSONDecoder().raw_decode(line)
    return action


def _commit_timestamp(commit_path: str) -> int:
    """Commit time in epoch millis: commitInfo.timestamp when the
    writer recorded one, else the log file's modification time (the
    same fallback order the protocol prescribes for time travel)."""
    with open(commit_path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            action = _parse_action(line)
            info = action.get("commitInfo")
            if info and "timestamp" in info:
                return int(info["timestamp"])
    return int(os.path.getmtime(commit_path) * 1000)


def _check_protocol(protocol: dict) -> None:
    v = int(protocol.get("minReaderVersion", 1))
    if v <= 1:
        return
    if v == 2:
        return  # column-mapping gate happens against metaData below
    if v == 3:
        feats = set(protocol.get("readerFeatures") or [])
        bad = feats - _OK_READER_FEATURES
        if bad:
            raise DeltaProtocolError(
                "unsupported Delta reader features "
                f"{sorted(bad)}; this no-jar protocol reader handles "
                f"{sorted(_OK_READER_FEATURES)} — add the delta-spark"
                " jar for full protocol support"
            )
        return
    raise DeltaProtocolError(
        f"unsupported Delta minReaderVersion {v}; add the delta-spark jar"
    )


def _snapshot_state(
    spark: SparkSession,
    path: str,
    version: int | None,
    timestamp_ms: int | None,
    allow_dvs: bool = False,
    allow_name_mapping: bool = False,
    keep_stats: bool = False,
) -> tuple[dict, dict, dict[str, dict], int]:
    """Fold the log into (protocol, metaData, path -> add, version).
    ``allow_dvs``: the snapshot READ path applies deletion vectors, so
    it may see adds carrying them; every other caller (COW DML,
    optimize, checkpoint, vacuum) must keep refusing — rewriting or
    re-serializing a DV'd file without honoring its vector would
    resurrect deleted rows. ``allow_name_mapping``: same split for
    delta.columnMapping.mode=name/id — reads resolve physical names /
    parquet field ids back to logical; writers would have to emit
    physical names and ids, so they refuse.

    Scale note (r14): this dict-returning fold serves WRITE/DML
    paths, which genuinely need the per-path map to emit removes —
    the same O(files) driver bound Spark's own FileIndex and commit
    protocols carry. ``keep_stats=False`` (default) projects the
    checkpoint's add WITHOUT its stats JSON (the dominant bytes;
    nested-schema pruning keeps the column off disk too). Snapshot
    READS no longer come here at all — read_delta_snapshot plans from
    the checkpoint distributed (_snapshot_files_plan) and collects
    only surviving (path, partitionValues, dv)."""
    commits, checkpoints = _list_log(path)
    if not commits and not checkpoints:
        raise FileNotFoundError(f"{path}: empty _delta_log")
    latest = max(list(commits) + list(checkpoints))
    if timestamp_ms is not None:
        eligible = [
            v for v in sorted(commits)
            if _commit_timestamp(commits[v]) <= timestamp_ms
        ]
        if not eligible:
            raise ValueError(
                f"no Delta commit at or before timestamp {timestamp_ms}"
            )
        version = eligible[-1]
    target = latest if version is None else int(version)
    if target > latest:
        raise ValueError(
            f"requested Delta version {target}, latest is {latest}"
        )

    protocol: dict = {}
    metadata: dict = {}
    state: dict[str, dict] = {}

    cp_versions = [v for v in checkpoints if v <= target]
    start = 0
    if cp_versions:
        cp = max(cp_versions)
        v2_files = [
            f
            for f in checkpoints[cp]
            if _CHECKPOINT_V2_RE.match(os.path.basename(f))
        ]
        if v2_files:
            # any single uuid-named manifest is complete; pick one
            protocol, metadata, adds = _read_v2_checkpoint(
                spark, path, sorted(v2_files)[0], cp,
                keep_stats=keep_stats,
            )
            for add in adds:
                state[add["path"]] = add
        else:
            rows = _drop_add_stats(
                spark.read.parquet(*sorted(checkpoints[cp])).select(
                    "protocol", "metaData", "add"
                ),
                keep_stats,
            ).collect()
            for r in rows:
                d = r.asDict(recursive=True)
                if d.get("protocol"):
                    protocol = {
                        k: v
                        for k, v in d["protocol"].items()
                        if v is not None
                    }
                if d.get("metaData"):
                    metadata = d["metaData"]
                if d.get("add"):
                    add = d["add"]
                    state[add["path"]] = add
        start = cp + 1
    for v in range(start, target + 1):
        if v not in commits:
            if v in checkpoints:
                continue  # checkpoint-only version (no json written)
            raise FileNotFoundError(
                f"{path}: missing Delta commit {v:020d}.json"
            )
        with open(commits[v]) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = _parse_action(line)
                if "protocol" in action:
                    protocol = action["protocol"]
                elif "metaData" in action:
                    metadata = action["metaData"]
                elif "add" in action:
                    state[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    state.pop(action["remove"]["path"], None)
    if not metadata:
        raise DeltaProtocolError(f"{path}: no metaData action in log")
    _check_protocol(protocol or {"minReaderVersion": 1})
    mode = (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode in ("name", "id") and allow_name_mapping:
        pass  # the snapshot READ path resolves physical names / ids
    elif mode != "none":
        raise DeltaProtocolError(
            f"Delta column mapping mode {mode!r}: "
            + (
                "only snapshot READS handle column mapping jar-free;"
                " this operation would have to WRITE physical names"
                " and field ids"
                if mode in ("name", "id")
                else "unknown mapping mode"
            )
        )
    if not allow_dvs:
        for add in state.values():
            if add.get("deletionVector"):
                raise DeltaProtocolError(
                    "active deletion vectors: this operation would"
                    " rewrite or re-serialize DV'd files — add the"
                    " delta-spark jar (snapshot READS handle DVs"
                    " jar-free)"
                )
    return protocol, metadata, state, target


_FILES_ENTRY_SCHEMA = (
    "path string, pv map<string,string>, size bigint, mtime bigint,"
    " dataChange boolean, stats string, dv string"
)


def _adds_projection(df):
    """(path, pv, size, mtime, dataChange, stats, dv) projection off
    any relation carrying an ``add`` struct column; None when the
    relation has no adds. The dv descriptor travels as its JSON
    rendering so checkpoint-resident and commit-resident adds share
    one schema."""
    if "add" not in df.columns:
        return None
    add_t = df.schema["add"].dataType
    if not hasattr(add_t, "fields"):
        return None
    names = {f.name for f in add_t.fields}

    def opt(field: str, typ: str, expr):
        return (
            expr if field in names else F.lit(None).cast(typ)
        )

    return df.where(F.col("add").isNotNull()).select(
        F.col("add.path").alias("path"),
        opt(
            "partitionValues", "map<string,string>",
            F.col("add.partitionValues"),
        ).alias("pv"),
        opt("size", "bigint", F.col("add.size")).alias("size"),
        opt(
            "modificationTime", "bigint",
            F.col("add.modificationTime"),
        ).alias("mtime"),
        opt(
            "dataChange", "boolean", F.col("add.dataChange")
        ).alias("dataChange"),
        opt("stats", "string", F.col("add.stats")).alias("stats"),
        opt(
            "deletionVector", "string",
            F.to_json(F.col("add.deletionVector")),
        ).alias("dv"),
    )


def _entry_of(add: dict) -> tuple:
    return (
        add["path"],
        add.get("partitionValues") or None,
        int(add["size"]) if add.get("size") is not None else None,
        int(add["modificationTime"])
        if add.get("modificationTime") is not None
        else None,
        bool(add.get("dataChange", True)),
        add.get("stats"),
        json.dumps(add["deletionVector"])
        if add.get("deletionVector")
        else None,
    )


def _snapshot_files_plan(
    spark: SparkSession,
    path: str,
    version: int | None,
    timestamp_ms: int | None,
) -> tuple[dict, dict, int, dict[str, dict] | None, "DataFrame | None"]:
    """DISTRIBUTED snapshot planning for the READ path (r14, VERDICT
    r13 'driver-side snapshot planning'; reference analog: the delta
    connector plans scans from checkpoint parquet in parallel worker
    tasks, delta-kernel's LogReplay). Returns (protocol, metadata,
    version, state, files_df) where exactly one of state / files_df is
    non-None:

    - No checkpoint at/below the target: the log tail IS the whole
      state — a small driver-side dict (state), zero Spark jobs, the
      same latency as before.
    - Checkpoint present (the 100 TB shape: ~10^5-10^6 add actions):
      the checkpoint parquet is NEVER collected. files_df is a lazy
      (path, pv, stats, dv) DataFrame — checkpoint parts read
      distributed with nested-schema pruning (only those four add
      fields leave disk), post-checkpoint commit actions (a handful of
      small JSONs) overlaid via an anti-join on the touched paths, v2
      manifests contributing their sidecar parquet the same way.
      Callers filter it (file skipping runs executor-side) and collect
      only the SURVIVING (path, pv, dv) triples — stats JSON, the
      dominant per-add payload, never reaches the driver."""
    commits, checkpoints = _list_log(path)
    if not commits and not checkpoints:
        raise FileNotFoundError(f"{path}: empty _delta_log")
    latest = max(list(commits) + list(checkpoints))
    if timestamp_ms is not None:
        eligible = [
            v for v in sorted(commits)
            if _commit_timestamp(commits[v]) <= timestamp_ms
        ]
        if not eligible:
            raise ValueError(
                f"no Delta commit at or before timestamp {timestamp_ms}"
            )
        version = eligible[-1]
    target = latest if version is None else int(version)
    if target > latest:
        raise ValueError(
            f"requested Delta version {target}, latest is {latest}"
        )

    protocol: dict = {}
    metadata: dict = {}
    inline_adds: list[dict] = []  # v2 json-manifest inline adds
    cp_sources: list = []  # lazy DataFrames of checkpoint adds
    start = 0
    cp_versions = [v for v in checkpoints if v <= target]
    if cp_versions:
        cp = max(cp_versions)
        v2_files = [
            f
            for f in checkpoints[cp]
            if _CHECKPOINT_V2_RE.match(os.path.basename(f))
        ]
        if v2_files:
            manifest = sorted(v2_files)[0]
            cp_meta: dict | None = None
            sidecars: list[str] = []

            def fold_nonadd(action: dict) -> None:
                nonlocal protocol, metadata, cp_meta
                if action.get("protocol"):
                    protocol = {
                        k: v
                        for k, v in action["protocol"].items()
                        if v is not None
                    }
                if action.get("metaData"):
                    metadata = action["metaData"]
                if action.get("checkpointMetadata"):
                    cp_meta = action["checkpointMetadata"]
                if action.get("sidecar"):
                    sidecars.append(action["sidecar"]["path"])

            if manifest.endswith(".json"):
                with open(manifest) as f:
                    for line in f:
                        line = line.strip()
                        if not line:
                            continue
                        action = _parse_action(line)
                        if action.get("add"):
                            inline_adds.append(action["add"])
                        else:
                            fold_nonadd(action)
            else:
                mdf = spark.read.parquet(manifest)
                nonadd = mdf
                if "add" in mdf.columns:
                    nonadd = mdf.where(F.col("add").isNull())
                    proj = _adds_projection(mdf)
                    if proj is not None:
                        cp_sources.append(proj)
                for r in nonadd.collect():
                    fold_nonadd(
                        {
                            k: v
                            for k, v in r.asDict(recursive=True).items()
                            if v is not None
                        }
                    )
            if cp_meta is None or int(cp_meta.get("version", -1)) != cp:
                raise DeltaProtocolError(
                    f"v2 checkpoint {os.path.basename(manifest)}:"
                    f" missing or mismatched checkpointMetadata"
                    f" (got {cp_meta})"
                )
            for rel in sidecars:
                sf = os.path.join(
                    _log_dir(path), "_sidecars", unquote(rel)
                )
                if not os.path.exists(sf):
                    raise DeltaProtocolError(
                        f"v2 checkpoint sidecar missing: {rel}"
                    )
                proj = _adds_projection(spark.read.parquet(sf))
                if proj is not None:
                    cp_sources.append(proj)
        else:
            parts = sorted(checkpoints[cp])
            raw = spark.read.parquet(*parts)
            for r in (
                raw.select("protocol", "metaData")
                .where("protocol IS NOT NULL OR metaData IS NOT NULL")
                .collect()
            ):
                d = r.asDict(recursive=True)
                if d.get("protocol"):
                    protocol = {
                        k: v
                        for k, v in d["protocol"].items()
                        if v is not None
                    }
                if d.get("metaData"):
                    metadata = d["metaData"]
            proj = _adds_projection(raw)
            if proj is not None:
                cp_sources.append(proj)
        start = cp + 1

    # log tail after the checkpoint: small (checkpoint cadence bounds
    # it), parsed driver-side; per-path LAST action wins
    tail_last: dict[str, dict | None] = {}
    for v in range(start, target + 1):
        if v not in commits:
            if v in checkpoints:
                continue  # checkpoint-only version (no json written)
            raise FileNotFoundError(
                f"{path}: missing Delta commit {v:020d}.json"
            )
        with open(commits[v]) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                action = _parse_action(line)
                if "protocol" in action:
                    protocol = action["protocol"]
                elif "metaData" in action:
                    metadata = action["metaData"]
                elif "add" in action:
                    tail_last[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    tail_last[action["remove"]["path"]] = None
    if not metadata:
        raise DeltaProtocolError(f"{path}: no metaData action in log")
    _check_protocol(protocol or {"minReaderVersion": 1})

    if not cp_sources and not inline_adds:
        state = {p: a for p, a in tail_last.items() if a is not None}
        return protocol, metadata, target, state, None

    local_rows = [
        _entry_of(a) for a in tail_last.values() if a is not None
    ] + [
        _entry_of(a)
        for a in inline_adds
        if a["path"] not in tail_last
    ]
    files_df = None
    if cp_sources:
        files_df = cp_sources[0]
        for s in cp_sources[1:]:
            files_df = files_df.unionByName(s)
        touched = sorted(tail_last)
        if touched:
            if len(touched) <= 1000:
                files_df = files_df.where(
                    ~F.col("path").isin(touched)
                )
            else:
                files_df = files_df.join(
                    F.broadcast(
                        spark.createDataFrame(
                            [(p,) for p in touched], "path string"
                        )
                    ),
                    "path",
                    "left_anti",
                )
    if local_rows:
        local_df = spark.createDataFrame(
            local_rows, _FILES_ENTRY_SCHEMA
        )
        files_df = (
            local_df
            if files_df is None
            else files_df.unionByName(local_df)
        )
    return protocol, metadata, target, None, files_df


def _cm_physical_name(f) -> str:
    """Field's delta.columnMapping.physicalName (required on every
    field in both mapping modes — PROTOCOL.md "Column Mapping")."""
    pn = (f.metadata or {}).get("delta.columnMapping.physicalName")
    if not pn:
        raise DeltaProtocolError(
            f"column mapping active but field {f.name!r} carries no"
            " physicalName metadata"
        )
    return pn


def _cm_physical_type(dt):
    """Recursive physical twin of a logical type for mode=name:
    every nested struct field renamed to its physicalName, structure
    and order untouched (so a positional cast restores the logical
    names exactly)."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
    )

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(
                    _cm_physical_name(f),
                    _cm_physical_type(f.dataType),
                    f.nullable,
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(
            _cm_physical_type(dt.elementType), dt.containsNull
        )
    if isinstance(dt, MapType):
        return MapType(
            _cm_physical_type(dt.keyType),
            _cm_physical_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _cm_fieldid_field(f):
    """StructField carrying parquet.field.id metadata (recursively)
    for mode=id — Spark's parquet reader then matches columns by the
    stored field ids instead of names."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
    )

    fid = (f.metadata or {}).get("delta.columnMapping.id")
    if fid is None:
        raise DeltaProtocolError(
            f"column mapping mode 'id' but field {f.name!r} carries"
            " no delta.columnMapping.id metadata"
        )

    def walk(dt):
        if isinstance(dt, StructType):
            return StructType([_cm_fieldid_field(sf) for sf in dt.fields])
        if isinstance(dt, ArrayType):
            return ArrayType(walk(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(
                walk(dt.keyType), walk(dt.valueType), dt.valueContainsNull
            )
        return dt

    return StructField(
        f.name, walk(f.dataType), f.nullable,
        {"parquet.field.id": int(fid)},
    )


def _typed_partition_value(raw: str | None, spark_type_ddl: str):
    """Delta's string partition-value serialization -> typed python
    value for skipping comparisons; None when the type is outside the
    comparison subset (then: no pruning on that column)."""
    import datetime as _dt

    if raw is None:
        return None
    t = spark_type_ddl
    try:
        if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
            return int(raw)
        if t in ("float", "double"):
            return float(raw)
        if t == "date":
            return _dt.date.fromisoformat(raw)
        if t.startswith("timestamp"):
            from witdb_spark.sources.skipping import _parse_ts

            return _parse_ts(raw)
        if t == "boolean":
            return raw.lower() == "true"
        if t == "string":
            return raw
    except ValueError:
        return NotImplemented
    return NotImplemented  # decimal/binary/nested: skip pruning


def _delta_add_can_match(
    pred, add: dict, part_cols: list[str], phys_part: dict,
    type_by_col: dict,
) -> bool:
    """Conservative file-skipping check for one add action: partition
    values match exactly, data columns by the stats range; any unknown
    -> True (scan the file). ``pred`` is a skipping.Pred tree — AND/OR
    compose via predicate_can_match (columnWiseUnion analog for OR)."""
    from witdb_spark.sources.skipping import (
        clause_can_match,
        partition_value_can_match,
        predicate_can_match,
    )

    stats = None
    if add.get("stats"):
        try:
            stats = json.loads(add["stats"])
        except (TypeError, ValueError):
            stats = None

    def atom_can_match(cl) -> bool:
        if cl.col in part_cols:
            raw = (add.get("partitionValues") or {}).get(
                phys_part.get(cl.col, cl.col)
            )
            val = _typed_partition_value(raw, type_by_col.get(cl.col, ""))
            if val is NotImplemented:
                return True
            return partition_value_can_match(cl, val)
        if stats:
            # stats are keyed physically under column mapping, like
            # partitionValues (PROTOCOL.md 'Per-file Statistics')
            sc = phys_part.get(cl.col, cl.col)
            return clause_can_match(
                cl,
                (stats.get("minValues") or {}).get(sc),
                (stats.get("maxValues") or {}).get(sc),
                (stats.get("nullCount") or {}).get(sc),
                stats.get("numRecords"),
            )
        return True

    return predicate_can_match(pred, atom_can_match)


def read_delta_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    where: str | None = None,
    _row_tags: bool = False,
) -> DataFrame:
    """Read a Delta table at a snapshot (latest, an explicit version, or
    the last version committed at/before ``timestamp_ms``) without the
    connector jar — reference TransactionLogAccess/CheckpointEntryIterator
    analog. Returns a DataFrame in the table's declared column order.
    r9: adds carrying deletion vectors read jar-free — each branch is
    tagged with the parquet _metadata (file_path, row_index) and the
    union anti-joins the DV positions, decoded on executors. r9 read
    delta.columnMapping.mode=name tables (top-level); r10 extends
    mapping to NESTED types (recursive physical schema, logical names
    restored by a positional struct cast) and to mode=id (the read
    schema carries each field's delta.columnMapping.id as
    parquet.field.id metadata and Spark's native field-id resolution
    matches columns — spark.sql.parquet.fieldId.read.enabled). Add
    actions' partitionValues stay keyed by PHYSICAL names in both
    modes (PROTOCOL.md "Column Mapping"). Reference analog:
    plugin/trino-delta-lake/.../DeltaLakeSchemaSupport.java.
    ``where`` (r10) turns on FILE SKIPPING: add entries are pruned by
    partition values and per-file stats (the reference's TupleDomain
    pruning over AddFileEntry stats) before the scan is built, then
    the full predicate re-applies to the rows — pruning never changes
    results; at fleet scale the win is never listing pruned files.
    r14: snapshot PLANNING is distributed (_snapshot_files_plan) —
    checkpoint add actions are never collected to the driver; file
    skipping runs executor-side over the checkpoint relation and only
    surviving (path, partitionValues, dv) triples come back."""
    from pyspark.sql.types import StructField

    _, metadata, _target, state, files_df = _snapshot_files_plan(
        spark, path, version, timestamp_ms
    )
    schema = StructType.fromJson(json.loads(metadata["schemaString"]))
    cm_mode = (metadata.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    mapped = cm_mode in ("name", "id")
    # phys: logical top-level name -> name to SELECT off the scan;
    # phys_part: logical name -> partitionValues key (physical in BOTH
    # mapping modes — the protocol keys partition values physically)
    phys = {f.name: f.name for f in schema.fields}
    phys_part = dict(phys)
    if mapped:
        for f in schema.fields:
            phys_part[f.name] = _cm_physical_name(f)
        if cm_mode == "name":
            phys = dict(phys_part)
        else:
            # id mode: the scan matches columns by parquet field id and
            # keeps LOGICAL names in the read schema. The resolution
            # switch must be on at EXECUTION time (plans are lazy) and
            # Spark exposes no per-read option for it, so it is an
            # ENGINE SESSION DEFAULT (session.py) — ensured here for
            # sessions built elsewhere. Safe globally: it only affects
            # request schemas that carry parquet.field.id metadata.
            spark.conf.set(
                "spark.sql.parquet.fieldId.read.enabled", "true"
            )
    part_cols = list(metadata.get("partitionColumns") or [])
    part_fields = {f.name: f for f in schema.fields if f.name in part_cols}
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    pred = None
    if where is not None:
        from witdb_spark.sources.skipping import parse_predicate

        pred = parse_predicate(where)
    if pred is not None:  # None = unanalyzable -> scan everything
        type_by_col = {
            f.name: f.dataType.simpleString() for f in schema.fields
        }
        if state is not None:
            state = {
                k: add
                for k, add in state.items()
                if _delta_add_can_match(
                    pred, add, part_cols, phys_part, type_by_col
                )
            }
        else:
            # checkpoint-backed snapshot: skipping runs WHERE the add
            # entries live — on the executors — so pruned files' stats
            # never ship to the driver (reference: the delta connector
            # evaluates TupleDomain pruning in split generation)
            _pred, _pc, _pp, _tbc = pred, part_cols, phys_part, type_by_col

            def _prune(batches):
                import pandas as _pd

                for pdf in batches:
                    keep = [
                        _delta_add_can_match(
                            _pred,
                            {"partitionValues": pv, "stats": st},
                            _pc,
                            _pp,
                            _tbc,
                        )
                        for pv, st in zip(pdf["pv"], pdf["stats"])
                    ]
                    yield pdf[_pd.Series(keep, index=pdf.index)]

            files_df = files_df.mapInPandas(_prune, _FILES_ENTRY_SCHEMA)

    # entries: (log-relative path, partitionValues dict, dv desc json).
    # The checkpoint branch collects them WITHOUT the stats column —
    # driver memory is O(surviving files x ~100 B), the FileIndex bound.
    if state is not None:
        entries = [
            (
                add["path"],
                add.get("partitionValues") or {},
                json.dumps(add["deletionVector"])
                if add.get("deletionVector")
                else None,
            )
            for add in state.values()
        ]
    else:
        entries = [
            (r["path"], r["pv"] or {}, r["dv"])
            for r in files_df.select("path", "pv", "dv").collect()
        ]
    if cm_mode == "name":
        data_schema = StructType(
            [
                StructField(
                    phys[f.name],
                    _cm_physical_type(f.dataType),
                    f.nullable,
                )
                for f in data_fields
            ]
        )
    elif cm_mode == "id":
        data_schema = StructType(
            [_cm_fieldid_field(f) for f in data_fields]
        )
    else:
        data_schema = StructType(
            [
                StructField(phys[f.name], f.dataType, f.nullable)
                for f in data_fields
            ]
        )

    if not entries:
        empty = local_frame(spark, [], schema)
        if _row_tags:
            empty = empty.withColumns(
                {
                    "__dv_file": F.lit(None).cast("string"),
                    "__dv_pos": F.lit(None).cast("long"),
                }
            )
        return empty

    groups: dict[tuple, list[str]] = {}
    dv_descs: list[tuple[str, str]] = []  # (normalized abs file, desc json)
    for rel, pv, dv_json in entries:
        key = tuple(pv.get(phys_part[c]) for c in part_cols)
        abs_file = os.path.join(path, unquote(rel))
        groups.setdefault(key, []).append(abs_file)
        if dv_json:
            dv_descs.append(
                (_norm_scan_path(os.path.abspath(abs_file)), dv_json)
            )

    parts = []
    # NULL partition values serialize as None (__HIVE_DEFAULT_PARTITION__);
    # None-safe sort key: NULLs last within each column, never compared to str
    for key, files in sorted(
        groups.items(),
        key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
    ):
        df = spark.read.schema(data_schema).parquet(*sorted(files))
        if dv_descs or _row_tags:
            df = df.withColumns(
                {
                    # percent-DECODE the scan rendering so it joins
                    # the decoded descriptor keys (line below builds
                    # them from unquote()d add paths) — an encoded/
                    # decoded mismatch makes the DV left-anti match
                    # nothing and silently resurrects deleted rows
                    "__dv_file": norm_path_expr(
                        F.col("_metadata.file_path")
                    ),
                    "__dv_pos": F.col("_metadata.row_index"),
                }
            )
        if mapped:
            # name mode: rename physical -> logical; a positional
            # struct CAST restores nested logical names (the physical
            # schema is a pure rename, same structure/order). id mode:
            # names are already logical; the cast strips field-id
            # metadata only.
            keep = [
                F.col(phys[f.name]).cast(f.dataType).alias(f.name)
                for f in data_fields
            ]
            if dv_descs or _row_tags:
                keep += [F.col("__dv_file"), F.col("__dv_pos")]
            df = df.select(*keep)
        for c, raw in zip(part_cols, key):
            # partition values are the protocol's string serialization
            # (PROTOCOL.md "Partition Value Serialization"); a literal
            # cast both restores the type and lets Catalyst fold
            # partition predicates per branch (log-driven pruning)
            df = df.withColumn(
                c, F.lit(raw).cast(part_fields[c].dataType)
            )
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if dv_descs:
        out = out.join(
            _dv_positions_df(spark, path, dv_descs),
            ["__dv_file", "__dv_pos"],
            "left_anti",
        )
        if not _row_tags:
            out = out.drop("__dv_file", "__dv_pos")
    keep_cols = [f.name for f in schema.fields]
    if _row_tags:
        keep_cols += ["__dv_file", "__dv_pos"]
    out = out.select(*keep_cols)
    if where is not None:
        # skipping above is conservative; the full predicate re-applies
        # so pruning can NEVER change results
        out = out.filter(where)
    return out


def _norm_scan_path(p: str) -> str:
    """Strip a URI scheme so log paths compare equal to Spark's
    _metadata.file_path rendering (same rule as iceberg_meta)."""
    return re.sub(r"^[A-Za-z][A-Za-z0-9+.\-]*:/{0,2}(?=/)", "", p)


def _dv_positions_df(
    spark: SparkSession, path: str, dv_descs: list[tuple[str, str]]
) -> DataFrame:
    """Deletion-vector descriptors -> distributed (file, position)
    frame. Descriptors are metadata-scale; the POSITIONS (cardinality
    can be millions per file at 100 TB) are materialized on executors
    by the pure-Python roaring decode, never on the driver."""
    desc_df = spark.createDataFrame(
        dv_descs, "__dv_file string, __dv_desc string"
    ).repartition(min(len(dv_descs), 64))
    table_path = path

    def explode_dvs(batches):
        import json as _json

        import pandas as _pd

        from witdb_spark.sources.delta_log import read_deletion_vector

        for pdf in batches:
            files: list[str] = []
            poss: list[int] = []
            for fkey, dtext in zip(pdf["__dv_file"], pdf["__dv_desc"]):
                for p in read_deletion_vector(
                    table_path, _json.loads(dtext)
                ):
                    files.append(fkey)
                    poss.append(p)
            yield _pd.DataFrame({"__dv_file": files, "__dv_pos": poss})

    return desc_df.mapInPandas(
        explode_dvs, "__dv_file string, __dv_pos long"
    )


def _dv_file_path(table_path: str, desc: dict) -> str:
    """Resolve a DV descriptor's storage to an absolute file path
    (PROTOCOL.md "Deletion Vector Descriptor Schema"): 'p' carries an
    absolute path; 'u' carries [random prefix] + Z85(16-byte UUID),
    naming <table>/<prefix>/deletion_vector_<uuid>.bin."""
    import uuid as _uuid

    from witdb_spark.sources.roaring import z85_decode

    st = desc.get("storageType")
    raw = desc.get("pathOrInlineDv") or ""
    if st == "p":
        return _strip_uri(raw)
    if st == "u":
        if len(raw) < 20:
            raise DeltaProtocolError(
                f"deletion vector 'u' path too short: {raw!r}"
            )
        prefix, enc = raw[:-20], raw[-20:]
        u = _uuid.UUID(bytes=z85_decode(enc))
        return os.path.join(
            table_path, prefix, f"deletion_vector_{u}.bin"
        )
    raise DeltaProtocolError(
        f"unsupported deletion vector storageType {st!r}"
    )


def read_deletion_vector(table_path: str, desc: dict) -> list[int]:
    """Decode one deletion vector descriptor to its sorted row indexes.
    File frames are [int32 BE size][bitmap bytes][int32 BE CRC-32]
    with the descriptor's offset at the size field (delta-spark
    DeletionVectorStore); inline ('i') carries Z85 of the bitmap
    bytes directly. Size/cardinality are cross-checked loudly."""
    import struct as _struct
    import zlib

    from witdb_spark.sources.roaring import decode_roaring_array, z85_decode

    st = desc.get("storageType")
    if st == "i":
        data = z85_decode(desc.get("pathOrInlineDv") or "")
    else:
        fp = _dv_file_path(table_path, desc)
        with open(fp, "rb") as f:
            buf = f.read()
        off = int(desc.get("offset") or 0)
        (size,) = _struct.unpack_from(">i", buf, off)
        data = buf[off + 4 : off + 4 + size]
        if len(data) != size:
            raise DeltaProtocolError(f"truncated deletion vector {fp}")
        (crc,) = _struct.unpack_from(">I", buf, off + 4 + size)
        if (zlib.crc32(data) & 0xFFFFFFFF) != crc:
            raise DeltaProtocolError(
                f"deletion vector checksum mismatch in {fp}"
            )
    want_size = desc.get("sizeInBytes")
    if want_size is not None and int(want_size) != len(data):
        raise DeltaProtocolError(
            f"deletion vector sizeInBytes {want_size} != {len(data)}"
        )
    vals = decode_roaring_array(data)
    want_card = desc.get("cardinality")
    if want_card is not None and int(want_card) != len(vals):
        raise DeltaProtocolError(
            f"deletion vector cardinality {want_card} != {len(vals)}"
        )
    return vals


def delta_write_deletion_vectors(
    spark: SparkSession,
    path: str,
    deletes: list[tuple[str, int]],
    extra_actions: list[dict] | None = None,
    operation: str = "DELETE",
) -> int:
    """Commit deletion vectors — the merge-on-read DELETE the reference
    delta connector writes when delta.enableDeletionVectors is on:
    row-targeted, no data-file rewrite, O(deleted rows). ``deletes``:
    (data file path as stored in the table, row index) pairs. Existing
    DVs on a touched file are UNIONED in (the protocol replaces a
    file's descriptor wholesale, so the new vector must carry the old
    positions too). One DV file ('u' storage: Z85 uuid name, CRC
    frames) holds every touched file's vector; the commit removes and
    re-adds each touched file with its descriptor, and bumps the
    protocol to readerFeatures=[deletionVectors] (minReader 3 /
    minWriter 7). Returns the committed version."""
    import struct as _struct
    import uuid as _uuid
    import zlib

    from witdb_spark.sources.roaring import (
        encode_roaring_array,
        z85_encode,
    )

    if not deletes:
        raise ValueError("no deletion targets")
    by_file: dict[str, set[int]] = {}
    for p, pos in deletes:
        # accept _metadata.file_path URIs, absolute paths, or
        # table-relative add paths
        by_file.setdefault(_strip_uri(p), set()).add(int(pos))
    for _ in range(5):
        # allow_name_mapping: DV commits only re-add existing entries
        # with descriptors — no column data is (re)written here; the
        # extra_actions adds were staged physical by the caller
        protocol, metadata, state, version = _snapshot_state(
            spark, path, None, None,
            allow_dvs=True, allow_name_mapping=True,
            keep_stats=True,
        )
        by_add_path: dict[str, dict] = {}
        for ap, add in state.items():
            by_add_path[os.path.abspath(os.path.join(path, unquote(ap)))] = (
                ap,
                add,
            )
        targets: dict[str, tuple[dict, set[int]]] = {}
        for p, poss in by_file.items():
            cand = os.path.abspath(
                p if os.path.isabs(p) else os.path.join(path, p)
            )
            if cand not in by_add_path:
                raise DeltaProtocolError(
                    f"deletion vector targets unknown data file: {p}"
                )
            ap, add = by_add_path[cand]
            merged = set(poss)
            if add.get("deletionVector"):
                merged |= set(
                    read_deletion_vector(path, add["deletionVector"])
                )
            targets[ap] = (add, merged)
        dv_uuid = _uuid.uuid4()
        dv_rel = f"deletion_vector_{dv_uuid}.bin"
        frames = bytearray(b"\x01")  # format version byte
        descs: dict[str, dict] = {}
        for ap, (add, merged) in sorted(targets.items()):
            data = encode_roaring_array(sorted(merged))
            offset = len(frames)
            frames += _struct.pack(">i", len(data))
            frames += data
            frames += _struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
            descs[ap] = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(dv_uuid.bytes),
                "offset": offset,
                "sizeInBytes": len(data),
                "cardinality": len(merged),
            }
        with open(os.path.join(path, dv_rel), "wb") as f:
            f.write(bytes(frames))
        feats_r = sorted(
            set(protocol.get("readerFeatures") or [])
            | {"deletionVectors"}
        )
        feats_w = sorted(
            set(protocol.get("writerFeatures") or [])
            | {"deletionVectors"}
        )
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": operation,
                    "operationParameters": {"mode": "deletionVectors"},
                }
            },
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": feats_r,
                    "writerFeatures": feats_w,
                }
            },
        ]
        for ap, (add, _merged) in sorted(targets.items()):
            actions.append(_remove_action(ap, add))
            new_add = dict(add)
            new_add["deletionVector"] = descs[ap]
            new_add["dataChange"] = True
            new_add["modificationTime"] = _now_ms()
            actions.append({"add": new_add})
        actions += list(extra_actions or [])
        if _try_commit(path, version + 1, actions):
            drop_extended_stats(path)  # rows vanished; sketch can't follow
            return version + 1
    raise DeltaProtocolError(f"{path}: lost 5 consecutive commit races")


def _dv_build_distributed(spark: SparkSession, path: str, matched) -> list:
    """Build deletion vectors ON EXECUTORS: ``matched`` is a DataFrame
    carrying (__dv_file, __dv_pos) row tags; one applyInPandas task per
    touched data file sorts its positions, unions the file's EXISTING
    deletion vector, Roaring-encodes, and writes its own 'u'-storage DV
    file — the driver receives only O(touched files) descriptor rows,
    never row positions (the 100 TB shape of the reference's
    MergeWriterOperator: core/trino-main/.../MergeWriterOperator.java
    keeps position streams in the workers and ships fragments to the
    coordinator). Returns [Row(ap, desc, existing)]; the existing
    descriptor JSON is echoed back so the commit can detect a
    concurrent DV write and refuse loudly instead of losing positions."""
    _, _, state0, _ = _snapshot_state(
        spark, path, None, None, allow_dvs=True, allow_name_mapping=True
    )
    table_abs = os.path.abspath(path)
    # normalized absolute file -> (add path, existing DV descriptor
    # json). O(table files) driver memory — the same order the log
    # replay above already holds. BROADCAST, not closure-captured:
    # the map ships once per executor instead of once per task.
    by_norm: dict[str, tuple[str, str | None]] = {}
    for ap, add in state0.items():
        cand = os.path.abspath(os.path.join(table_abs, unquote(ap)))
        by_norm[cand] = (
            ap,
            json.dumps(add["deletionVector"])
            if add.get("deletionVector")
            else None,
        )
    bc_norm = spark.sparkContext.broadcast(by_norm)

    def write_group(pdf):
        import json as _j
        import os as _os
        import struct as _struct
        import uuid as _uuid
        import zlib as _zlib

        import pandas as _pd

        from witdb_spark.sources.delta_log import (
            _strip_uri,
            read_deletion_vector,
        )
        from witdb_spark.sources.roaring import (
            encode_roaring_array,
            z85_encode,
        )

        raw = str(pdf["__dv_file"].iloc[0])
        hit = bc_norm.value.get(_os.path.abspath(_strip_uri(raw)))
        if hit is None:
            raise ValueError(
                f"deletion vector targets unknown data file: {raw}"
            )
        ap, existing = hit
        merged = {int(p) for p in pdf["__dv_pos"]}
        if existing:
            merged |= set(
                read_deletion_vector(table_abs, _j.loads(existing))
            )
        data = encode_roaring_array(sorted(merged))
        dv_uuid = _uuid.uuid4()
        frames = bytearray(b"\x01")
        offset = len(frames)
        frames += _struct.pack(">i", len(data))
        frames += data
        frames += _struct.pack(">I", _zlib.crc32(data) & 0xFFFFFFFF)
        final = _os.path.join(table_abs, f"deletion_vector_{dv_uuid}.bin")
        tmp = final + ".tmp"
        with open(tmp, "wb") as f:
            f.write(bytes(frames))
        _os.replace(tmp, final)  # task retries leave only orphan uuids
        desc = {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(dv_uuid.bytes),
            "offset": offset,
            "sizeInBytes": len(data),
            "cardinality": len(merged),
        }
        return _pd.DataFrame(
            {
                "ap": [ap],
                "desc": [_j.dumps(desc)],
                "existing": [existing or ""],
            }
        )

    try:
        return (
            matched.select("__dv_file", "__dv_pos")
            .groupBy("__dv_file")
            .applyInPandas(
                write_group, "ap string, desc string, existing string"
            )
            .collect()
        )
    finally:
        bc_norm.unpersist()


def _dv_commit_distributed(
    spark: SparkSession,
    path: str,
    per_file: list,
    extra_actions: list[dict] | None = None,
    operation: str = "DELETE",
) -> int:
    """Commit executor-built deletion vectors (``per_file`` from
    _dv_build_distributed). If a concurrent commit changed a touched
    file's DV (or removed the file) between the build and the commit,
    refuses loudly — the vectors were unioned against the old state and
    silently committing would resurrect deleted rows."""
    descs = {r["ap"]: json.loads(r["desc"]) for r in per_file}
    assumed = {r["ap"]: (r["existing"] or None) for r in per_file}
    for _ in range(5):
        protocol, _, state, version = _snapshot_state(
            spark, path, None, None,
            allow_dvs=True, allow_name_mapping=True,
            keep_stats=True,
        )
        for ap in descs:
            add = state.get(ap)
            if add is None:
                raise DeltaProtocolError(
                    f"DV target {ap} no longer in the snapshot"
                    " (concurrent commit) — re-run the statement"
                )
            cur = (
                json.dumps(add["deletionVector"])
                if add.get("deletionVector")
                else None
            )
            if cur != assumed[ap]:
                raise DeltaProtocolError(
                    f"concurrent deletion-vector commit on {ap}"
                    " — re-run the statement"
                )
        feats_r = sorted(
            set(protocol.get("readerFeatures") or [])
            | {"deletionVectors"}
        )
        feats_w = sorted(
            set(protocol.get("writerFeatures") or [])
            | {"deletionVectors"}
        )
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": operation,
                    "operationParameters": {"mode": "deletionVectors"},
                }
            },
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": feats_r,
                    "writerFeatures": feats_w,
                }
            },
        ]
        for ap in sorted(descs):
            actions.append(_remove_action(ap, state[ap]))
            new_add = dict(state[ap])
            new_add["deletionVector"] = descs[ap]
            new_add["dataChange"] = True
            new_add["modificationTime"] = _now_ms()
            actions.append({"add": new_add})
        actions += list(extra_actions or [])
        if _try_commit(path, version + 1, actions):
            drop_extended_stats(path)  # rows vanished; sketch can't follow
            return version + 1
    raise DeltaProtocolError(f"{path}: lost 5 consecutive commit races")


def delta_table_version(spark: SparkSession, path: str) -> int:
    """Latest snapshot version (reference SHOW ... table$history analog)."""
    commits, checkpoints = _list_log(path)
    return max(list(commits) + list(checkpoints))


def delta_table_changes(
    spark: SparkSession,
    path: str,
    start_version: int = 0,
    end_version: int | None = None,
) -> DataFrame:
    """Change Data Feed over a version range. BEYOND-REFERENCE: the
    reference (Trino 411) has no table_changes function — the
    semantics here follow Delta PROTOCOL.md "Change Data Files" / "Add
    CDC File" and delta-spark's CDCReader, which later Trino versions
    also adopted. Requires delta.enableChangeDataFeed=true (r12 gate —
    real readers refuse tables that never recorded change files). Per
    commit, explicit ``cdc`` actions are AUTHORITATIVE when present
    (their parquet carries _change_type; other adds/removes in that
    commit are not changes — this repo's own DML writes them, see
    _stage_cdc_files); otherwise the changes synthesize from the log,
    which is exact for the commit shapes CDF-enabled writers may leave
    cdc-less (blind appends -> inserts, whole-file deletes -> deletes,
    DV re-adds -> exactly the newly-shadowed positions, RESTORE's
    whole-file add/remove). Labels follow commitInfo.operation —
    UPDATE commits label update_preimage/update_postimage, everything
    else delete/insert. Output = table columns + _change_type,
    _commit_version, _commit_timestamp.

    DV position sets are decoded ON EXECUTORS (_dv_positions_df) and
    filtered by semi/anti joins on (file, row_index) row tags — the
    driver handles only descriptors. Column-mapped tables (name/id)
    read through the physical-schema path like read_delta_snapshot
    (r12). Loud scope gates: a schema change inside the range, and
    commits already dropped from the log (checkpoint-subsumed or
    vacuumed) — CDC needs the original commit JSONs.

    Plan-size note: the result unions one branch per commit in the
    range (each needs its own _commit_version/timestamp literals and
    file set), so the plan grows O(versions). Real CDC consumption
    windows are small (a consumer chains from its checkpoint); a
    10k-version backfill should iterate sub-ranges and union the
    COLLECTED results, not the plans."""
    from pyspark.sql.types import StructType as _ST

    from witdb_spark.sources.paths import norm_path_expr

    commits, checkpoints = _list_log(path)
    if not commits and not checkpoints:
        raise FileNotFoundError(f"{path}: empty _delta_log")
    latest = max(list(commits) + list(checkpoints))
    end = latest if end_version is None else int(end_version)
    start = int(start_version)
    if start > end or start < 0 or end > latest:
        raise ValueError(
            f"table_changes range [{start}, {end}] outside [0, {latest}]"
        )
    missing = [v for v in range(start, end + 1) if v not in commits]
    if missing:
        raise DeltaProtocolError(
            f"commit(s) {missing[:3]} no longer in the log — CDC needs"
            " the original commit JSONs (vacuumed/expired history)"
        )
    _, metadata, _, _ = _snapshot_state(
        spark, path, end, None, allow_dvs=True, allow_name_mapping=True
    )
    if not _cdf_enabled(metadata):
        raise DeltaProtocolError(
            "table_changes requires delta.enableChangeDataFeed=true —"
            " set it in the table configuration (at CREATE or via a"
            " metadata commit) BEFORE the change range; without it"
            " writers record no Change Data Files and rewrite commits"
            " cannot be replayed row-exactly (Delta PROTOCOL.md"
            " 'Change Data Files')"
        )
    schema = StructType.fromJson(json.loads(metadata["schemaString"]))
    cfg = metadata.get("configuration") or {}
    cm_mode = cfg.get("delta.columnMapping.mode", "none")
    mapped = cm_mode in ("name", "id")
    phys = {f.name: f.name for f in schema.fields}
    phys_part = dict(phys)
    if mapped:
        # BOTH mapping modes match data-file columns by PHYSICAL name
        # here: PROTOCOL.md 'Writer Requirements for Column Mapping'
        # obliges every writer to "write data files by using the
        # physical column and field names", and physical names are as
        # rename-stable as field ids, so name-vs-id resolution is
        # equivalent for any compliant table. This keeps the CDF read
        # free of the spark.sql.parquet.fieldId.read.enabled session
        # conf (r12 ADVICE: setting it here leaked into unrelated
        # parquet reads — plans are lazy, so a set/restore around plan
        # CONSTRUCTION cannot scope it). Snapshot reads keep true
        # field-id matching via the engine session default.
        for f in schema.fields:
            phys_part[f.name] = _cm_physical_name(f)
        phys = dict(phys_part)
    part_cols = list(metadata.get("partitionColumns") or [])
    part_fields = {f.name: f for f in schema.fields if f.name in part_cols}
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    from pyspark.sql.types import StringType as _StringT
    from pyspark.sql.types import StructField as _SF

    if mapped:
        phys_fields = [
            _SF(phys[f.name], _cm_physical_type(f.dataType), f.nullable)
            for f in data_fields
        ]
    else:
        phys_fields = [
            _SF(f.name, f.dataType, f.nullable) for f in data_fields
        ]

    def read_files(file_pvs: list[tuple[str, dict]], with_ct=False):
        """[(rel path, partitionValues)] -> DataFrame with typed
        partition literals injected and (data files) __dv_file/__dv_pos
        row tags — the same cm-aware grouping the snapshot reader uses.
        ``with_ct`` reads Change Data Files: ``_change_type`` appended
        to the scan schema (stored un-mapped), no row tags."""
        scan_schema = _ST(
            phys_fields
            + ([_SF("_change_type", _StringT())] if with_ct else [])
        )
        groups: dict[tuple, list[str]] = {}
        for rel, pv in file_pvs:
            key = tuple((pv or {}).get(phys_part[c]) for c in part_cols)
            groups.setdefault(key, []).append(
                os.path.join(path, unquote(rel))
            )
        parts = []
        for key, files in sorted(
            groups.items(),
            key=lambda kv: tuple((v is None, v or "") for v in kv[0]),
        ):
            df = spark.read.schema(scan_schema).parquet(*sorted(files))
            if not with_ct:
                df = df.withColumns(
                    {
                        "__dv_file": norm_path_expr(
                            F.col("_metadata.file_path")
                        ),
                        "__dv_pos": F.col("_metadata.row_index"),
                    }
                )
            if mapped:
                keep = [
                    F.col(phys[f.name]).cast(f.dataType).alias(f.name)
                    for f in data_fields
                ]
                keep += (
                    [F.col("_change_type")]
                    if with_ct
                    else [F.col("__dv_file"), F.col("__dv_pos")]
                )
                df = df.select(*keep)
            for c, raw in zip(part_cols, key):
                df = df.withColumn(
                    c, F.lit(raw).cast(part_fields[c].dataType)
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def dv_key(rel: str) -> str:
        return _norm_scan_path(
            os.path.abspath(os.path.join(path, unquote(rel)))
        )

    def stamp(df, label_col, v: int, ts: int):
        return df.drop("__dv_file", "__dv_pos").select(
            *[F.col(f.name).alias(f.name) for f in schema.fields],
            label_col.alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
            F.timestamp_millis(F.lit(ts)).alias("_commit_timestamp"),
        )

    # DV + partitionValues state as of the version BEFORE the range
    # (checkpoint-capable). pv_state backs whole-file remove synthesis
    # on logs whose removes lack extendedFileMetadata (pre-r13 commits
    # and third-party writers) — a bare remove would otherwise serve
    # NULL partition columns.
    dv_state: dict[str, str] = {}
    pv_state: dict[str, dict | None] = {}
    if start > 0:
        _, _, st0, _ = _snapshot_state(
            spark, path, start - 1, None,
            allow_dvs=True, allow_name_mapping=True,
        )
        dv_state = {
            a["path"]: json.dumps(a["deletionVector"])
            for a in st0.values()
            if a.get("deletionVector")
        }
        pv_state = {
            a["path"]: a.get("partitionValues") for a in st0.values()
        }
    changes: list[DataFrame] = []
    for v in range(start, end + 1):
        adds: list[dict] = []
        removes: list[dict] = []
        cdcs: list[dict] = []
        info: dict = {}
        with open(commits[v]) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                a = _parse_action(line)
                if a.get("add"):
                    adds.append(a["add"])
                elif a.get("remove"):
                    removes.append(a["remove"])
                elif a.get("cdc"):
                    cdcs.append(a["cdc"])
                elif a.get("commitInfo"):
                    info = a["commitInfo"]
                elif a.get("metaData") and v > start:
                    raise DeltaProtocolError(
                        f"schema/metadata change at version {v} inside"
                        " the table_changes range — split the range"
                    )
        ts = int(
            info.get("timestamp")
            or int(os.path.getmtime(commits[v]) * 1000)
        )
        if cdcs:
            # explicit Change Data Files: carry _change_type physically
            # (authoritative for this commit — adds/removes are not
            # changes); cm-aware read via the shared scanner. An empty
            # cdc file (a rewrite that changed no row) contributes
            # zero rows and still suppresses synthesis.
            cdf = read_files(
                [(c["path"], c.get("partitionValues")) for c in cdcs],
                with_ct=True,
            )
            changes.append(
                cdf.select(
                    *[F.col(f.name) for f in schema.fields],
                    F.col("_change_type"),
                    F.lit(v).cast("long").alias("_commit_version"),
                    F.timestamp_millis(F.lit(ts)).alias(
                        "_commit_timestamp"
                    ),
                )
            )
        else:
            op = str(info.get("operation") or "").upper()
            pre_label = (
                F.lit("update_preimage")
                if op == "UPDATE"
                else F.lit("delete")
            )
            post_label = (
                F.lit("update_postimage")
                if op == "UPDATE"
                else F.lit("insert")
            )
            removed = {
                r["path"]: r
                for r in removes
                if r.get("dataChange", True)
            }
            readded: set[str] = set()
            for add in adds:
                if not add.get("dataChange", True):
                    continue
                rel = add["path"]
                new_dv = (
                    json.dumps(add["deletionVector"])
                    if add.get("deletionVector")
                    else None
                )
                if rel in removed:
                    readded.add(rel)
                    old_dv = dv_state.get(rel)
                    if new_dv == old_dv:
                        continue  # metadata-only re-add: no row change
                    rows = read_files(
                        [(rel, add.get("partitionValues"))]
                    )
                    newly = _dv_positions_df(
                        spark, path, [(dv_key(rel), new_dv)]
                    )
                    if old_dv is not None:
                        newly = newly.join(
                            _dv_positions_df(
                                spark, path, [(dv_key(rel), old_dv)]
                            ),
                            ["__dv_file", "__dv_pos"],
                            "left_anti",
                        )
                    changes.append(
                        stamp(
                            rows.join(
                                newly,
                                ["__dv_file", "__dv_pos"],
                                "left_semi",
                            ),
                            pre_label, v, ts,
                        )
                    )
                else:
                    rows = read_files(
                        [(rel, add.get("partitionValues"))]
                    )
                    if new_dv is not None:
                        rows = rows.join(
                            _dv_positions_df(
                                spark, path, [(dv_key(rel), new_dv)]
                            ),
                            ["__dv_file", "__dv_pos"],
                            "left_anti",
                        )
                    changes.append(stamp(rows, post_label, v, ts))
            for rel, r in removed.items():
                if rel in readded:
                    continue
                rows = read_files(
                    [(rel, r.get("partitionValues")
                      or pv_state.get(rel))]
                )
                old_dv = dv_state.get(rel)
                if old_dv is not None:
                    rows = rows.join(
                        _dv_positions_df(
                            spark, path, [(dv_key(rel), old_dv)]
                        ),
                        ["__dv_file", "__dv_pos"],
                        "left_anti",
                    )
                changes.append(stamp(rows, pre_label, v, ts))
        # roll the DV + partitionValues state forward
        add_paths = set()
        for add in adds:
            add_paths.add(add["path"])
            pv_state[add["path"]] = add.get("partitionValues")
            if add.get("deletionVector"):
                dv_state[add["path"]] = json.dumps(add["deletionVector"])
            else:
                dv_state.pop(add["path"], None)
        for r in removes:
            if r["path"] not in add_paths:
                dv_state.pop(r["path"], None)
                pv_state.pop(r["path"], None)
    if not changes:
        empty = local_frame(spark, [], schema)
        return empty.select(
            "*",
            F.lit(None).cast("string").alias("_change_type"),
            F.lit(None).cast("long").alias("_commit_version"),
            F.lit(None).cast("timestamp").alias("_commit_timestamp"),
        )
    out = changes[0]
    for c in changes[1:]:
        out = out.unionByName(c)
    return out


# ------------------------------------------------------------------ write
# The write half of the protocol: data files land under the table root
# first, then ONE commit JSON makes them visible. Commit atomicity is
# the protocol's put-if-absent rule — open(..., "x") on N.json either
# wins the version or raises, which on a local/posix filesystem is
# exactly Delta's LogStore contract.


def _now_ms() -> int:
    import time

    return int(time.time() * 1000)


def _remove_action(
    rel: str, add: dict | None, data_change: bool = True
) -> dict:
    """Remove action stamped with the removed file's partitionValues
    and size copied from its active add (PROTOCOL.md 'Remove File':
    ``extendedFileMetadata=true`` means partitionValues/size/tags are
    present — what delta-spark's writers emit). CDF whole-file
    synthesis reconstructs partition COLUMNS from
    ``remove.partitionValues``; a bare remove on a partitioned table
    would serve NULL partition values (r12 ADVICE, medium)."""
    rm: dict = {
        "path": rel,
        "deletionTimestamp": _now_ms(),
        "dataChange": data_change,
    }
    if add is not None:
        rm["extendedFileMetadata"] = True
        rm["partitionValues"] = dict(add.get("partitionValues") or {})
        if add.get("size") is not None:
            rm["size"] = add["size"]
    return {"remove": rm}


def _partition_values_from_rel(rel: str, part_cols: list[str]) -> dict:
    """Recover partitionValues from the hive-style directory layout the
    Spark writer produces (col=value/...; the protocol stores the
    string serialization, NULL as the hive default marker)."""
    vals: dict[str, str | None] = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" not in seg:
            continue
        k, v = seg.split("=", 1)
        if k in part_cols:
            from witdb_spark.sources.paths import (
                unescape_partition_value,
            )

            vals[k] = (
                None if v == "__HIVE_DEFAULT_PARTITION__"
                else unescape_partition_value(unquote(v))
            )
    missing = [c for c in part_cols if c not in vals]
    if missing:
        raise DeltaProtocolError(
            f"partition column(s) {missing} absent from written layout"
        )
    return vals


def _file_stats_json(f: str) -> str | None:
    """Per-file stats for the add action (PROTOCOL.md 'Per-file
    Statistics': numRecords/minValues/maxValues/nullCount), aggregated
    from the parquet footer's row-group column statistics — what the
    reference persists via AddFileEntry.stats and what
    read_delta_snapshot's file skipping prunes on. Columns without
    usable footer stats are simply omitted (readers treat missing
    stats as unknown)."""
    import datetime as _dt

    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(f).metadata
    except Exception:
        return None
    num_records = md.num_rows
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    bad_nulls: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested — out of the skipping subset
                continue
            st = col.statistics
            if st is None:
                # a stats-less row group may hold values outside the
                # other groups' bounds (and nulls): poison min/max AND
                # the null count for this column, or skipping would
                # prune files that contain matching rows
                mins[name] = maxs[name] = None
                bad_nulls.add(name)
                nulls.pop(name, None)
                continue
            if name not in bad_nulls:
                if st.null_count is None:
                    # partial null counts are as unsound as partial
                    # bounds — drop the column's count entirely
                    bad_nulls.add(name)
                    nulls.pop(name, None)
                else:
                    nulls[name] = nulls.get(name, 0) + st.null_count
            if not st.has_min_max:
                mins[name] = maxs[name] = None  # poison: drop below
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                except UnicodeDecodeError:
                    mins[name] = maxs[name] = None
                    continue
            if name in mins and mins[name] is None:
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)

    def ser(v):
        if isinstance(v, _dt.datetime):
            return v.isoformat(sep=" ", timespec="microseconds")
        if isinstance(v, _dt.date):
            return v.isoformat()
        return v

    stats = {
        "numRecords": num_records,
        "minValues": {k: ser(v) for k, v in mins.items() if v is not None},
        "maxValues": {k: ser(v) for k, v in maxs.items() if v is not None},
        "nullCount": nulls,
    }
    try:
        return json.dumps(stats)
    except (TypeError, ValueError):
        return None


def _cm_write_type(dt):
    """Recursive physical twin of a logical type FOR THE WRITER:
    every nested struct field renamed to its physicalName AND stamped
    with parquet.field.id metadata, so a positional cast to this type
    produces exactly the parquet schema mode=name/id readers resolve.
    Structure and order untouched."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
    )

    if isinstance(dt, StructType):
        fields = []
        for f in dt.fields:
            md = f.metadata or {}
            fid = md.get("delta.columnMapping.id")
            pn = md.get("delta.columnMapping.physicalName")
            if fid is None or pn is None:
                raise DeltaProtocolError(
                    f"column mapping write: nested field {f.name!r}"
                    " lacks physicalName/id metadata"
                )
            fields.append(
                StructField(
                    pn,
                    _cm_write_type(f.dataType),
                    f.nullable,
                    metadata={"parquet.field.id": int(fid)},
                )
            )
        return StructType(fields)
    if isinstance(dt, ArrayType):
        return ArrayType(_cm_write_type(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _cm_write_type(dt.keyType),
            _cm_write_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _stage_physical(df, metadata: dict, extra_cols: tuple[str, ...] = ()):
    """For column-mapped tables (delta.columnMapping.mode=name/id),
    convert a LOGICAL DataFrame into the physical staging form the
    protocol requires of writers: columns renamed to each field's
    delta.columnMapping.physicalName and stamped with parquet.field.id
    metadata (Spark's parquet writer emits the ids natively —
    spark.sql.parquet.fieldId.write.enabled); nested types rename +
    stamp recursively through a positional cast to the physical twin
    type (_cm_write_type). Returns (staged df, physical partition
    column names). Unmapped tables pass through. ``extra_cols`` are
    carried VERBATIM after the mapped columns — CDC staging keeps
    ``_change_type`` un-mapped, the delta-spark convention."""
    from pyspark.sql import functions as F

    cfg = metadata.get("configuration") or {}
    mode = cfg.get("delta.columnMapping.mode", "none")
    part_cols = list(metadata.get("partitionColumns") or [])
    if mode == "none":
        return df, part_cols
    from pyspark.sql.types import StructType

    logical = StructType.fromJson(json.loads(metadata["schemaString"]))
    phys: dict[str, str] = {}
    sel = []
    for f in logical.fields:
        md = f.metadata or {}
        pn = md.get("delta.columnMapping.physicalName")
        fid = md.get("delta.columnMapping.id")
        if pn is None or fid is None:
            raise DeltaProtocolError(
                f"column mapping write: field {f.name!r} lacks"
                " physicalName/id metadata"
            )
        phys[f.name] = pn
        col = F.col(f.name)
        tgt = _cm_write_type(f.dataType)
        if tgt != f.dataType:
            # nested types: a positional cast renames every inner
            # field to its physicalName and stamps its field id (the
            # exact inverse of the read path's logical-restoring cast)
            col = col.cast(tgt)
        sel.append(
            col.alias(pn, metadata={"parquet.field.id": int(fid)})
        )
    sel += [F.col(c) for c in extra_cols]
    return df.select(*sel), [phys[c] for c in part_cols]


def _cm_create_schema(df, mode: str) -> tuple[str, int]:
    """schemaString for CREATE on a column-mapped table: EVERY field
    (nested included, depth-first) gets an id and a col-<uuid>
    physicalName, the delta-spark convention (PROTOCOL.md 'Column
    Mapping'). Returns (schemaString, maxColumnId)."""
    import uuid

    counter = [0]

    def walk_type(t):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                return {
                    "type": "struct",
                    "fields": [walk_field(f) for f in t["fields"]],
                }
            if t.get("type") == "array":
                return dict(t, elementType=walk_type(t["elementType"]))
            if t.get("type") == "map":
                return dict(
                    t,
                    keyType=walk_type(t["keyType"]),
                    valueType=walk_type(t["valueType"]),
                )
        return t

    def walk_field(f):
        counter[0] += 1
        return dict(
            f,
            type=walk_type(f["type"]),
            metadata={
                "delta.columnMapping.id": counter[0],
                "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
            },
        )

    fields = [
        walk_field(f) for f in json.loads(df.schema.json())["fields"]
    ]
    return (
        json.dumps({"type": "struct", "fields": fields}),
        counter[0],
    )


def _stage_data_files(
    df, path: str, partition_by: list[str]
) -> list[dict]:
    """Write df's rows as parquet under the table root (hive dirs for
    partitions) and return their add actions, each carrying per-file
    stats for data skipping. Files keep Spark's part-<task>-<uuid>
    names, which are globally unique."""
    import glob
    import shutil
    import uuid

    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    if partition_by:
        # '' and NULL both render as __HIVE_DEFAULT_PARTITION__ in
        # hive-style directories; escaping '' (paths.py sentinel)
        # before partitionBy keeps them distinct in the recovered
        # partitionValues. Content is unaffected: partitionBy drops
        # the column from the staged files.
        from pyspark.sql import functions as F
        from pyspark.sql.types import StringType

        from witdb_spark.sources.paths import (
            escape_empty_partition_expr,
        )

        for c in partition_by:
            if isinstance(df.schema[c].dataType, StringType):
                df = df.withColumn(
                    c, escape_empty_partition_expr(F.col(c))
                )
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    adds = []
    for f in glob.glob(
        os.path.join(staging, "**", "*.parquet"), recursive=True
    ):
        rel = os.path.relpath(f, staging)
        dest = os.path.join(path, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.move(f, dest)
        add = {
            "path": rel.replace(os.sep, "/"),
            "partitionValues": _partition_values_from_rel(
                rel, partition_by
            ),
            "size": os.path.getsize(dest),
            "modificationTime": _now_ms(),
            "dataChange": True,
        }
        stats = _file_stats_json(dest)
        if stats is not None:
            add["stats"] = stats
        adds.append({"add": add})
    shutil.rmtree(staging, ignore_errors=True)
    return adds


def _cdf_enabled(metadata: dict) -> bool:
    return (
        (metadata.get("configuration") or {})
        .get("delta.enableChangeDataFeed", "false")
        .lower()
        == "true"
    )


def _stage_cdc_files(change_df, path: str, metadata: dict) -> list[dict]:
    """Write labeled change rows (table columns + ``_change_type``) as
    Change Data Files under ``_change_data/`` (Delta PROTOCOL.md "Add
    CDC File" / "Writer Requirements for AddCDCFile") and return their
    ``cdc`` actions. Partitioned like data files (hive dirs, physical
    partitionValues); ``_change_type`` itself is stored literally and
    never column-mapped, matching delta-spark. cdc actions carry
    dataChange=false per the protocol. A ZERO-row change set still
    stages one empty cdc file: a commit that rewrote files without
    changing any row must carry an authoritative (empty) cdc action or
    readers would synthesize the whole rewritten files as changes."""
    import glob
    import shutil
    import uuid

    staged, phys_parts = _stage_physical(
        change_df, metadata, extra_cols=("_change_type",)
    )
    empty = staged.isEmpty()
    parts_eff = [] if empty else list(phys_parts)
    if parts_eff:
        from pyspark.sql.types import StringType

        from witdb_spark.sources.paths import escape_empty_partition_expr

        for c in parts_eff:
            if isinstance(staged.schema[c].dataType, StringType):
                staged = staged.withColumn(
                    c, escape_empty_partition_expr(F.col(c))
                )
    staging = os.path.join(path, f".staging-cdc-{uuid.uuid4().hex}")
    writer = (staged.coalesce(1) if empty else staged).write.mode(
        "overwrite"
    )
    if parts_eff:
        writer = writer.partitionBy(*parts_eff)
    writer.parquet(staging)
    actions = []
    for f in glob.glob(
        os.path.join(staging, "**", "*.parquet"), recursive=True
    ):
        rel = os.path.relpath(f, staging)
        dest = os.path.join(path, "_change_data", rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.move(f, dest)
        actions.append(
            {
                "cdc": {
                    "path": "_change_data/" + rel.replace(os.sep, "/"),
                    "partitionValues": _partition_values_from_rel(
                        rel, parts_eff
                    ),
                    "size": os.path.getsize(dest),
                    "dataChange": False,
                }
            }
        )
    shutil.rmtree(staging, ignore_errors=True)
    return actions


def _cdc_classify(before, after, on: list[str]):
    """Row-level change rows between two images of the same logical
    relation keyed by ``on`` (MERGE's change stream): rows common to
    both images drop out; a key present in both diffs emits an
    update_preimage/update_postimage pair, a key only in the before
    diff emits delete, only in the after diff emits insert. Pure
    set-algebra over DataFrames — exceptAll + semi/anti joins, no
    driver collect."""
    pre = before.exceptAll(after)
    post = after.exceptAll(before)
    k_pre = pre.select(*on).distinct()
    k_post = post.select(*on).distinct()
    ct = "_change_type"
    return (
        pre.join(k_post, on, "left_semi")
        .withColumn(ct, F.lit("update_preimage"))
        .unionByName(
            pre.join(k_post, on, "left_anti")
            .withColumn(ct, F.lit("delete"))
        )
        .unionByName(
            post.join(k_pre, on, "left_semi")
            .withColumn(ct, F.lit("update_postimage"))
        )
        .unionByName(
            post.join(k_pre, on, "left_anti")
            .withColumn(ct, F.lit("insert"))
        )
    )


def _try_commit(path: str, version: int, actions: list[dict]) -> bool:
    log = os.path.join(_log_dir(path))
    os.makedirs(log, exist_ok=True)
    target = os.path.join(log, f"{version:020d}.json")
    try:
        with open(target, "x") as f:
            f.write("\n".join(json.dumps(a) for a in actions) + "\n")
        return True
    except FileExistsError:
        return False  # lost the version race — caller re-reads + retries


def write_delta(
    spark: SparkSession,
    df,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    configuration: dict[str, str] | None = None,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> int:
    """Jar-free Delta write (reference delta connector write path
    analog): ``create`` authors version 0 (protocol + metaData + adds),
    ``append`` commits adds, ``overwrite`` commits adds + removes of
    every currently-active file — all through the put-if-absent commit
    rule, with append retrying lost version races. Returns the
    committed version.

    ``txn_app_id`` + ``txn_version`` (r13, PROTOCOL.md 'Transaction
    Identifiers'): the commit also records a ``txn`` (SetTransaction)
    action, and a write whose version is <= the app's last recorded
    txn version is an idempotent NO-OP (nothing staged, current
    version returned) — the exactly-once contract streaming sinks
    replay batches against."""
    if mode not in ("create", "append", "overwrite"):
        raise ValueError("mode must be create/append/overwrite")
    if (txn_app_id is None) != (txn_version is None):
        raise ValueError("txn_app_id and txn_version come together")
    if txn_app_id is not None and mode == "create":
        raise ValueError("txn identifiers apply to append/overwrite")
    exists = os.path.isdir(_log_dir(path))
    if mode == "create":
        if exists:
            raise FileExistsError(f"{path} is already a Delta table")
        os.makedirs(path, exist_ok=True)
        part_cols = list(partition_by or [])
        import uuid

        cfg = dict(configuration or {})
        cm_mode = cfg.get("delta.columnMapping.mode", "none")
        if cm_mode not in ("none", "name", "id"):
            raise DeltaProtocolError(
                f"unknown column mapping mode {cm_mode!r}"
            )
        if cm_mode != "none":
            schema_string, max_id = _cm_create_schema(df, cm_mode)
            cfg.setdefault(
                "delta.columnMapping.maxColumnId", str(max_id)
            )
            protocol = {"minReaderVersion": 2, "minWriterVersion": 5}
            stage_meta = {
                "schemaString": schema_string,
                "partitionColumns": part_cols,
                "configuration": cfg,
            }
            stage_df, stage_parts = _stage_physical(df, stage_meta)
        else:
            schema_string = df.schema.json()
            protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
            stage_df, stage_parts = df, part_cols
        adds = _stage_data_files(stage_df, path, stage_parts)
        actions = [
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": "CREATE TABLE AS SELECT",
                }
            },
            {"protocol": protocol},
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": part_cols,
                    # e.g. delta.enableDeletionVectors=true flips
                    # delta_delete_where to merge-on-read DV commits
                    "configuration": cfg,
                    "createdTime": _now_ms(),
                }
            },
        ] + adds
        if not _try_commit(path, 0, actions):
            raise FileExistsError(f"{path}: version 0 already committed")
        return 0
    if not exists:
        raise FileNotFoundError(
            f"{path} is not a Delta table (use mode='create')"
        )
    for _ in range(5):
        # append adds files and overwrite retires whole files — neither
        # re-serializes an existing DV'd add, so both stay DV-safe;
        # column-mapped tables stage through _stage_physical (r10)
        _, metadata, state, version = _snapshot_state(
            spark, path, None, None,
            allow_dvs=True, allow_name_mapping=True,
        )
        if txn_app_id is not None:
            last = delta_txn_versions(spark, path).get(txn_app_id)
            if last is not None and int(txn_version) <= last:
                return version  # already committed: idempotent no-op
        part_cols = list(metadata.get("partitionColumns") or [])
        if partition_by is not None and list(partition_by) != part_cols:
            raise DeltaProtocolError(
                f"table is partitioned by {part_cols}, not {partition_by}"
            )
        table_cols = [
            f["name"]
            for f in json.loads(metadata["schemaString"])["fields"]
        ]
        if sorted(df.columns) != sorted(table_cols):
            raise DeltaProtocolError(
                f"schema mismatch: table has {table_cols}, data has"
                f" {df.columns}"
            )
        stage_df, stage_parts = _stage_physical(df, metadata)
        adds = _stage_data_files(stage_df, path, stage_parts)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": mode.upper(),
                }
            }
        ]
        if mode == "overwrite":
            actions += [
                _remove_action(p, state[p]) for p in sorted(state)
            ]
        if txn_app_id is not None:
            actions.append(
                {
                    "txn": {
                        "appId": txn_app_id,
                        "version": int(txn_version),
                        "lastUpdated": _now_ms(),
                    }
                }
            )
        actions += adds
        if _try_commit(path, version + 1, actions):
            if mode == "append":
                update_extended_stats_on_append(spark, path, df)
            else:
                drop_extended_stats(path)
            return version + 1
        # lost the race: orphan the staged files (never referenced by
        # any commit — invisible to readers) and retry on fresh state
    raise DeltaProtocolError(
        f"{path}: lost {5} consecutive commit races"
    )


def _rewrite_matched_files(
    spark: SparkSession,
    path: str,
    predicate_sql: str,
    operation: str,
    rewrite,
    cdc_rows=None,
) -> dict:
    """Shared copy-on-write kernel for DELETE/UPDATE (reference delta
    connector row-level operations): files CONTAINING matches are
    rewritten through ``rewrite(rows_of_those_files)``; the rest of the
    table is untouched. One commit: remove(touched) + add(rewrites).
    When delta.enableChangeDataFeed=true, ``cdc_rows(touched_rows)``
    supplies the labeled change rows (table columns + _change_type)
    and the SAME commit carries their Change Data Files — readers
    replay exactly the changed rows, never the whole rewritten
    files."""
    from pyspark.sql import functions as F

    for _ in range(5):
        _, metadata, state, version = _snapshot_state(
            spark, path, None, None, allow_name_mapping=True
        )
        df = read_delta_snapshot(spark, path).withColumn(
            "__sf", F.input_file_name()
        )
        hit_files = {
            r["__sf"]
            for r in df.filter(predicate_sql)
            .select("__sf")
            .distinct()
            .collect()
        }
        if not hit_files:
            return {"version": version, "files_rewritten": 0}
        # map absolute scan paths back to log-relative add paths
        by_abs = {
            os.path.abspath(os.path.join(path, unquote(p))): p
            for p in state
        }
        removed = []
        for f in hit_files:
            ap = os.path.abspath(_strip_uri(f))
            if ap not in by_abs:
                raise DeltaProtocolError(f"scanned file not in log: {f}")
            removed.append(by_abs[ap])
        touched = df.filter(f"__sf IN ({_in_list(hit_files)})").drop(
            "__sf"
        )
        # column-mapped tables rewrite LOGICAL rows, then re-stage
        # physically (rename + parquet field ids) per the protocol
        stage_df, stage_parts = _stage_physical(rewrite(touched), metadata)
        adds = _stage_data_files(stage_df, path, stage_parts)
        cdc_actions = (
            _stage_cdc_files(cdc_rows(touched), path, metadata)
            if cdc_rows is not None and _cdf_enabled(metadata)
            else []
        )
        actions = (
            [
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": operation,
                    }
                }
            ]
            + [_remove_action(p, state[p]) for p in sorted(removed)]
            + adds
            + cdc_actions
        )
        if _try_commit(path, version + 1, actions):
            drop_extended_stats(path)  # HLLs can't subtract changed rows
            return {
                "version": version + 1,
                "files_rewritten": len(removed),
            }
    raise DeltaProtocolError(f"{path}: lost {5} consecutive commit races")


def delta_delete_where(
    spark: SparkSession, path: str, predicate_sql: str
) -> dict:
    """DELETE FROM ... WHERE. Mode follows the table's own
    configuration, the same switch the reference honors:
    delta.enableDeletionVectors=true routes to a merge-on-read
    deletion-vector commit (row-targeted, no file rewrite — the right
    trade for sparse deletes; matched positions materialize on the
    driver, which is what every DV writer does); otherwise
    copy-on-write rewrites matched files without the matching rows.
    Returns {'version', 'files_rewritten'}."""
    _, metadata, _, _ = _snapshot_state(
        spark, path, None, None, allow_dvs=True, allow_name_mapping=True
    )
    dv_mode = (
        (metadata.get("configuration") or {})
        .get("delta.enableDeletionVectors", "false")
        .lower()
        == "true"
    )
    if dv_mode:
        # matched positions NEVER reach the driver: the bitmaps build
        # and write executor-side, the driver commits descriptors
        matched = read_delta_snapshot(spark, path, _row_tags=True).where(
            predicate_sql
        )
        per_file = _dv_build_distributed(spark, path, matched)
        if not per_file:
            return {
                "version": delta_table_version(spark, path),
                "files_rewritten": 0,
            }
        extra = (
            _stage_cdc_files(
                matched.drop("__dv_file", "__dv_pos").withColumn(
                    "_change_type", F.lit("delete")
                ),
                path, metadata,
            )
            if _cdf_enabled(metadata)
            else []
        )
        v = _dv_commit_distributed(
            spark, path, per_file, extra_actions=extra
        )
        return {"version": v, "files_rewritten": 0}
    return _rewrite_matched_files(
        spark,
        path,
        predicate_sql,
        "DELETE",
        lambda rows: rows.filter(f"NOT ({predicate_sql})"),
        cdc_rows=lambda rows: rows.filter(predicate_sql).withColumn(
            "_change_type", F.lit("delete")
        ),
    )


def delta_update_where(
    spark: SparkSession,
    path: str,
    predicate_sql: str,
    assignments: dict[str, str],
) -> dict:
    """UPDATE ... SET ... WHERE. delta.enableDeletionVectors=true
    routes to merge-on-read: matched rows are shadowed by a deletion
    vector and their POST-update images appended as a new file, in ONE
    commit (update = delete + insert, the DV writer's contract);
    otherwise copy-on-write — in matched files, matching rows get the
    SQL-expression assignments applied and unmatched rows in those
    files are carried verbatim. Assignments and the predicate always
    evaluate against the PRE-update row. Returns
    {'version', 'files_rewritten'}."""
    from pyspark.sql import functions as F

    _, metadata, _, _ = _snapshot_state(
        spark, path, None, None, allow_dvs=True, allow_name_mapping=True
    )
    dv_mode = (
        (metadata.get("configuration") or {})
        .get("delta.enableDeletionVectors", "false")
        .lower()
        == "true"
    )
    if dv_mode:
        tagged = read_delta_snapshot(spark, path, _row_tags=True)
        matched = tagged.where(predicate_sql)
        # executor-side bitmap build first: nothing is staged when no
        # row matched, and the driver only ever holds descriptors
        per_file = _dv_build_distributed(spark, path, matched)
        if not per_file:
            return {
                "version": delta_table_version(spark, path),
                "files_rewritten": 0,
            }
        updated = _apply_assignments(
            matched.drop("__dv_file", "__dv_pos"),
            predicate_sql,
            assignments,
            DeltaProtocolError,
        )
        # column-mapped tables stage physical names + field ids exactly
        # like the COW paths — appending logical-named files to a
        # mapped table would read back all-NULL
        stage_df, stage_parts = _stage_physical(updated, metadata)
        adds = _stage_data_files(stage_df, path, stage_parts)
        if _cdf_enabled(metadata):
            pre = matched.drop("__dv_file", "__dv_pos")
            adds += _stage_cdc_files(
                pre.withColumn(
                    "_change_type", F.lit("update_preimage")
                ).unionByName(
                    updated.withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                ),
                path, metadata,
            )
        v = _dv_commit_distributed(
            spark, path, per_file, extra_actions=adds, operation="UPDATE"
        )
        return {"version": v, "files_rewritten": 0}

    def rewrite(rows):
        return _apply_assignments(
            rows, predicate_sql, assignments, DeltaProtocolError
        )

    def cdc_rows(rows):
        m = rows.filter(predicate_sql)
        return m.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            _apply_assignments(
                m, predicate_sql, assignments, DeltaProtocolError
            ).withColumn("_change_type", F.lit("update_postimage"))
        )

    return _rewrite_matched_files(
        spark, path, predicate_sql, "UPDATE", rewrite, cdc_rows=cdc_rows
    )


def _delta_merge_dv(
    spark: SparkSession, path: str, source, on: list[str], **merge_kwargs
) -> dict:
    """MERGE in deletion-vector mode: matched-KEY target rows are
    shadowed by a DV and their merged images (updated, or carried
    verbatim when no clause touched them, or omitted when a DELETE
    clause did) append as new files together with the inserts — ONE
    commit, no file rewrite. Matched positions stay on the executors
    (_dv_build_distributed); the driver commits per-file descriptors."""
    from pyspark.sql import functions as F

    from witdb_spark.sources.merge import merge_into

    tagged = read_delta_snapshot(spark, path, _row_tags=True)
    matched = tagged.join(
        source.select(*on).distinct(), on=on, how="left_semi"
    )
    per_file = _dv_build_distributed(spark, path, matched)
    survivors = merge_into(
        matched.drop("__dv_file", "__dv_pos"), source, on, **merge_kwargs
    )
    if not per_file and survivors.isEmpty():
        return {
            "version": delta_table_version(spark, path),
            "files_rewritten": 0,
        }
    _, metadata, _, _ = _snapshot_state(
        spark, path, None, None, allow_dvs=True, allow_name_mapping=True
    )
    # stage through the column-mapping physical form (same contract as
    # the COW/append paths — see delta_update_where)
    stage_df, stage_parts = _stage_physical(survivors, metadata)
    adds = _stage_data_files(stage_df, path, stage_parts)
    if per_file:
        if _cdf_enabled(metadata):
            # MERGE's change stream: diff the matched image against
            # the merged one — carried-verbatim rows emit nothing
            adds += _stage_cdc_files(
                _cdc_classify(
                    matched.drop("__dv_file", "__dv_pos"),
                    survivors, on,
                ),
                path, metadata,
            )
        v = _dv_commit_distributed(
            spark, path, per_file, extra_actions=adds, operation="MERGE"
        )
    else:
        # pure insert: plain adds commit (no DV to write)
        for _ in range(5):
            _, _, _, version = _snapshot_state(
                spark, path, None, None, allow_dvs=True
            )
            actions = [
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "MERGE",
                    }
                }
            ] + adds
            if _try_commit(path, version + 1, actions):
                v = version + 1
                break
        else:
            raise DeltaProtocolError(
                f"{path}: lost 5 consecutive commit races"
            )
    return {"version": v, "files_rewritten": 0}


def delta_merge_into(
    spark: SparkSession,
    path: str,
    source,
    on: list[str],
    **merge_kwargs,
) -> dict:
    """MERGE INTO a Delta table. delta.enableDeletionVectors=true
    routes to the merge-on-read shadow-and-append (_delta_merge_dv);
    default file-level copy-on-write (reference
    delta connector MERGE): any target file containing a key-matched
    row is rewritten through sources/merge.merge_into applied to JUST
    those files' rows plus the whole source (a source row matching a
    row in an untouched file is impossible — that file would be
    touched), so unmatched files are never rewritten and pure inserts
    commit as plain adds. Accepts merge_into's clause kwargs."""
    from pyspark.sql import functions as F

    from witdb_spark.sources.merge import merge_into

    _, md0, _, _ = _snapshot_state(
        spark, path, None, None, allow_dvs=True, allow_name_mapping=True
    )
    if (
        (md0.get("configuration") or {})
        .get("delta.enableDeletionVectors", "false")
        .lower()
        == "true"
    ):
        return _delta_merge_dv(spark, path, source, on, **merge_kwargs)
    for _ in range(5):
        _, metadata, state, version = _snapshot_state(
            spark, path, None, None, allow_name_mapping=True
        )
        df = read_delta_snapshot(spark, path).withColumn(
            "__sf", F.input_file_name()
        )
        hit_files = {
            r["__sf"]
            for r in df.join(
                source.select(*on).distinct(), on=on, how="left_semi"
            )
            .select("__sf")
            .distinct()
            .collect()
        }
        if hit_files:
            touched = df.filter(f"__sf IN ({_in_list(hit_files)})").drop(
                "__sf"
            )
        else:
            touched = df.limit(0).drop("__sf")
        merged = merge_into(touched, source, on, **merge_kwargs)
        by_abs = {
            os.path.abspath(os.path.join(path, unquote(p))): p
            for p in state
        }
        removed = []
        for f in hit_files:
            ap = os.path.abspath(_strip_uri(f))
            if ap not in by_abs:
                raise DeltaProtocolError(f"scanned file not in log: {f}")
            removed.append(by_abs[ap])
        stage_df, stage_parts = _stage_physical(merged, metadata)
        adds = _stage_data_files(stage_df, path, stage_parts)
        if not removed and not adds:
            return {"version": version, "files_rewritten": 0}
        cdc_actions = []
        if removed and _cdf_enabled(metadata):
            # a rewrite commit on a CDF table must carry Change Data
            # Files (even empty ones) or readers would synthesize the
            # whole rewritten files; insert-only merges stay cdc-less
            # (add-only synthesis is exact)
            cdc_actions = _stage_cdc_files(
                _cdc_classify(touched, merged, on), path, metadata
            )
        actions = (
            [
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "MERGE",
                    }
                }
            ]
            + [_remove_action(p, state[p]) for p in sorted(removed)]
            + adds
            + cdc_actions
        )
        if _try_commit(path, version + 1, actions):
            drop_extended_stats(path)  # HLLs can't subtract changed rows
            return {
                "version": version + 1,
                "files_rewritten": len(removed),
            }
    raise DeltaProtocolError(f"{path}: lost {5} consecutive commit races")


def delta_set_properties(
    spark: SparkSession, path: str, properties: dict[str, str]
) -> int:
    """ALTER TABLE ... SET PROPERTIES as a metadata commit (reference
    SetPropertiesTask + the delta connector's setTableProperties): one
    commit re-emitting the metaData action with the merged
    configuration — the standard way to enable delta.enableChangeData
    Feed / delta.enableDeletionVectors on an EXISTING table. A value
    of None unsets the key. Column-mapping mode cannot be flipped this
    way (existing files lack the physical naming) — refused."""
    cur_mode_new = properties.get("delta.columnMapping.mode")
    for _ in range(5):
        _, metadata, _, version = _snapshot_state(
            spark, path, None, None,
            allow_dvs=True, allow_name_mapping=True,
        )
        cfg = dict(metadata.get("configuration") or {})
        if (
            cur_mode_new is not None
            and cur_mode_new != cfg.get("delta.columnMapping.mode", "none")
        ):
            raise DeltaProtocolError(
                "delta.columnMapping.mode cannot be changed on an"
                " existing table jar-free (files lack the physical"
                " naming) — create the table with it"
            )
        for k, v in properties.items():
            if v is None:
                cfg.pop(k, None)
            else:
                cfg[k] = str(v)
        new_meta = dict(metadata, configuration=cfg)
        actions = [
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": "SET TBLPROPERTIES",
                }
            },
            {"metaData": new_meta},
        ]
        if _try_commit(path, version + 1, actions):
            return version + 1
    raise DeltaProtocolError(f"{path}: lost 5 consecutive commit races")


def delta_truncate(spark: SparkSession, path: str) -> dict:
    """TRUNCATE TABLE (reference TruncateTableTask + the delta
    connector's executeTruncate): ONE commit removing every active
    add — no file rewrite, no data deletion (time travel still sees
    the rows; vacuum reclaims them later). CDF tables record the
    truncate as whole-file deletes, which synthesis serves exactly."""
    for _ in range(5):
        _, _, state, version = _snapshot_state(
            spark, path, None, None,
            allow_dvs=True, allow_name_mapping=True,
        )
        if not state:
            return {"version": version, "files_removed": 0}
        actions = [
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": "TRUNCATE",
                }
            }
        ] + [_remove_action(p, state[p]) for p in sorted(state)]
        if _try_commit(path, version + 1, actions):
            drop_extended_stats(path)  # table emptied; sketch is stale
            return {"version": version + 1, "files_removed": len(state)}
    raise DeltaProtocolError(f"{path}: lost 5 consecutive commit races")


def delta_txn_versions(spark: SparkSession, path: str) -> dict[str, int]:
    """Latest SetTransaction version per appId (PROTOCOL.md
    'Transaction Identifiers'): bootstraps from the newest
    checkpoint's ``txn`` column when present (both this writer's
    classic checkpoints and library v2 checkpoints keep non-file
    actions in the main checkpoint file), then replays the commit
    JSONs after it. Streaming sinks consult this for idempotent
    (exactly-once) batch replay; checkpoints written before txn
    support contribute none (a txn recorded only in a
    checkpoint-subsumed commit by an OLD checkpoint is gone — the
    protocol forbids that state, and this writer's checkpoints carry
    txn forward)."""
    commits, checkpoints = _list_log(path)
    if not commits and not checkpoints:
        raise FileNotFoundError(f"{path}: not a Delta table")
    txns: dict[str, int] = {}
    start = 0
    if checkpoints:
        cp = max(checkpoints)
        df = spark.read.parquet(*sorted(checkpoints[cp]))
        if "txn" in df.columns:
            for r in (
                df.select("txn").where("txn IS NOT NULL").collect()
            ):
                t = r["txn"]
                if t["appId"] is not None:
                    txns[t["appId"]] = int(t["version"])
        start = cp + 1
    for v in sorted(commits):
        if v < start:
            continue
        with open(commits[v]) as f:
            for line in f:
                line = line.strip()
                if not line or '"txn"' not in line:
                    continue
                action = _parse_action(line)
                if "txn" in action:
                    t = action["txn"]
                    txns[t["appId"]] = int(t["version"])
    return txns


#: add rows per checkpoint part file; above this the writer emits the
#: protocol's multi-part form so a fleet reads the checkpoint in
#: parallel (tests shrink it to exercise the naming)
_CHECKPOINT_PART_ROWS = 200_000


def delta_checkpoint(
    spark: SparkSession, path: str, v2: bool = False
) -> int:
    """Write a classic parquet checkpoint of the CURRENT snapshot plus
    ``_last_checkpoint`` (the protocol's log-compaction step —
    reference delta connector CheckpointWriter analog): readers
    bootstrap from it instead of replaying every JSON commit, which is
    what keeps a long-lived table's planning O(checkpoint) instead of
    O(commits). r9: adds carrying deletion vectors checkpoint too.
    r13: the latest SetTransaction version per appId checkpoints too
    (PROTOCOL.md 'Checkpoints' requires txn actions be preserved).
    r14: the add rows are built DISTRIBUTED from the snapshot plan
    (_snapshot_files_plan) — checkpointing a checkpoint-backed table
    never collects the file inventory to the driver, and the written
    add struct now CARRIES per-file stats (the column the previous
    writer dropped — file skipping survives log compaction). Tables
    above ~200k files write a MULTI-PART checkpoint
    (NNN.checkpoint.ooo.ppp.parquet, the protocol's parallel-read
    form). ``v2=True`` (r14) writes the PROTOCOL.md "V2 Spec" form
    instead: a uuid-named manifest
    (NNN.checkpoint.<uuid>.parquet carrying protocol / metaData /
    checkpointMetadata / txn / sidecar actions) plus add-file sidecar
    parquet batches under _delta_log/_sidecars/ — the shape
    delta-spark writes under v2Checkpoint, and the one this module's
    readers have consumed since r12. Returns the checkpointed
    version."""
    import glob
    import shutil
    import uuid

    protocol, metadata, version, state, files_df = _snapshot_files_plan(
        spark, path, None, None
    )
    txns = delta_txn_versions(spark, path)
    if files_df is None:
        files_df = spark.createDataFrame(
            [_entry_of(a) for a in state.values()], _FILES_ENTRY_SCHEMA
        )
    dv_ddl = (
        "storageType string, pathOrInlineDv string, offset bigint,"
        " sizeInBytes bigint, cardinality bigint"
    )
    schema = (
        "protocol struct<minReaderVersion:int,minWriterVersion:int,"
        "readerFeatures:array<string>,writerFeatures:array<string>>,"
        "metaData struct<id:string,format:struct<provider:string,"
        "options:map<string,string>>,schemaString:string,"
        "partitionColumns:array<string>,configuration:map<string,string>>,"
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:bigint,modificationTime:bigint,dataChange:boolean,"
        "stats:string,"
        "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
        "offset:bigint,sizeInBytes:bigint,cardinality:bigint>>,"
        "txn struct<appId:string,version:bigint>"
    )
    head_rows = [
        (
            (
                int(protocol.get("minReaderVersion", 1)),
                int(protocol.get("minWriterVersion", 2)),
                protocol.get("readerFeatures"),
                protocol.get("writerFeatures"),
            ),
            None,
            None,
            None,
        ),
        (
            None,
            (
                metadata.get("id"),
                (
                    (metadata.get("format") or {}).get(
                        "provider", "parquet"
                    ),
                    dict((metadata.get("format") or {}).get("options") or {}),
                ),
                metadata["schemaString"],
                list(metadata.get("partitionColumns") or []),
                dict(metadata.get("configuration") or {}),
            ),
            None,
            None,
        ),
    ] + [
        (None, None, None, (app, int(v)))
        for app, v in sorted(txns.items())
    ]
    head_df = spark.createDataFrame(head_rows, schema)
    adds_df = files_df.select(
        F.lit(None).cast(
            "struct<minReaderVersion:int,minWriterVersion:int,"
            "readerFeatures:array<string>,writerFeatures:array<string>>"
        ).alias("protocol"),
        F.lit(None).cast(
            "struct<id:string,format:struct<provider:string,"
            "options:map<string,string>>,schemaString:string,"
            "partitionColumns:array<string>,"
            "configuration:map<string,string>>"
        ).alias("metaData"),
        F.struct(
            F.col("path"),
            F.coalesce(
                F.col("pv"),
                F.expr("map()").cast("map<string,string>"),
            ).alias("partitionValues"),
            F.coalesce(F.col("size"), F.lit(0)).alias("size"),
            F.coalesce(F.col("mtime"), F.lit(0)).alias(
                "modificationTime"
            ),
            F.coalesce(F.col("dataChange"), F.lit(True)).alias(
                "dataChange"
            ),
            F.col("stats"),
            F.from_json(F.col("dv"), dv_ddl).alias("deletionVector"),
        ).alias("add"),
        F.lit(None).cast(
            "struct<appId:string,version:bigint>"
        ).alias("txn"),
    )
    n_adds = adds_df.count()
    per = _CHECKPOINT_PART_ROWS
    parts = max(1, min(64, -(-n_adds // per)))
    if v2:
        # sidecar batches: add-only parquet under _delta_log/_sidecars
        sc_dir = os.path.join(_log_dir(path), "_sidecars")
        os.makedirs(sc_dir, exist_ok=True)
        staging = os.path.join(path, f".cp-v2-staging-{uuid.uuid4().hex}")
        adds_df.select("add").coalesce(parts).write.mode(
            "overwrite"
        ).parquet(staging)
        sidecars = []
        for p in sorted(
            glob.glob(os.path.join(staging, "part-*.parquet"))
        ):
            name = f"{uuid.uuid4()}.parquet"
            shutil.move(p, os.path.join(sc_dir, name))
            sidecars.append(
                (name, os.path.getsize(os.path.join(sc_dir, name)))
            )
        shutil.rmtree(staging, ignore_errors=True)
        v2_schema = (
            "protocol struct<minReaderVersion:int,minWriterVersion:int,"
            "readerFeatures:array<string>,writerFeatures:array<string>>,"
            "metaData struct<id:string,format:struct<provider:string,"
            "options:map<string,string>>,schemaString:string,"
            "partitionColumns:array<string>,"
            "configuration:map<string,string>>,"
            "checkpointMetadata struct<version:bigint>,"
            "txn struct<appId:string,version:bigint>,"
            "sidecar struct<path:string,sizeInBytes:bigint,"
            "modificationTime:bigint>"
        )
        v2_rows = [
            (hr[0], hr[1], None, hr[3], None) for hr in head_rows
        ] + [(None, None, (version,), None, None)] + [
            (None, None, None, None, (name, size, _now_ms()))
            for name, size in sidecars
        ]
        mstage = os.path.join(
            path, f".cp-v2-manifest-{uuid.uuid4().hex}"
        )
        spark.createDataFrame(v2_rows, v2_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(mstage)
        mpart = glob.glob(os.path.join(mstage, "part-*.parquet"))[0]
        dest = os.path.join(
            _log_dir(path),
            f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet",
        )
        shutil.move(mpart, dest)
        shutil.rmtree(mstage, ignore_errors=True)
        with open(
            os.path.join(_log_dir(path), "_last_checkpoint"), "w"
        ) as f:
            json.dump(
                {"version": version, "size": n_adds + len(v2_rows)}, f
            )
        return version
    out_df = head_df.unionByName(adds_df)
    out_df = out_df.coalesce(parts) if parts > 1 else out_df.coalesce(1)
    staging = os.path.join(path, f".cp-staging-{uuid.uuid4().hex}")
    out_df.write.mode("overwrite").parquet(staging)
    written = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
    if len(written) == 1:
        dest = os.path.join(
            _log_dir(path), f"{version:020d}.checkpoint.parquet"
        )
        shutil.move(written[0], dest)
        cp_doc = {"version": version, "size": n_adds + len(head_rows)}
    else:
        n = len(written)
        for i, p in enumerate(written, start=1):
            shutil.move(
                p,
                os.path.join(
                    _log_dir(path),
                    f"{version:020d}.checkpoint.{i:010d}.{n:010d}"
                    ".parquet",
                ),
            )
        cp_doc = {
            "version": version,
            "size": n_adds + len(head_rows),
            "parts": n,
        }
    shutil.rmtree(staging, ignore_errors=True)
    with open(os.path.join(_log_dir(path), "_last_checkpoint"), "w") as f:
        json.dump(cp_doc, f)
    return version


def delta_optimize(spark: SparkSession, path: str, target_files: int = 1) -> dict:
    """Compaction (reference delta connector OPTIMIZE / Delta's own
    OPTIMIZE): rewrite the active files of each partition into
    ``target_files`` larger ones, committed with dataChange=false so
    streaming readers know no rows changed. Small-file proliferation is
    THE operational cost of frequent COW commits at scale — compaction
    plus checkpointing keeps both the data and the log O(content), not
    O(history). r14: DV'd tables compact too — the snapshot read
    applies the vectors, so the rewrite PURGES them (Delta's own
    REORG TABLE ... APPLY (PURGE)); a table whose only excess baggage
    is deletion vectors still rewrites even at the target file count.
    Returns {'version', 'files_before', 'files_after'}."""
    for _ in range(5):
        _, metadata, state, version = _snapshot_state(
            spark, path, None, None,
            allow_dvs=True, allow_name_mapping=True,
        )
        has_dvs = any(
            a.get("deletionVector") for a in state.values()
        )
        if len(state) <= target_files and not has_dvs:
            return {
                "version": version,
                "files_before": len(state),
                "files_after": len(state),
            }
        part_cols = list(metadata.get("partitionColumns") or [])
        df = read_delta_snapshot(spark, path)
        if part_cols:
            df = df.repartition(target_files, *part_cols)
        else:
            df = df.coalesce(target_files)
        # column-mapped tables re-stage physically (r10)
        stage_df, stage_parts = _stage_physical(df, metadata)
        adds = _stage_data_files(stage_df, path, stage_parts)
        for a in adds:
            a["add"]["dataChange"] = False
        actions = (
            [
                {
                    "commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "OPTIMIZE",
                    }
                }
            ]
            + [
                _remove_action(p, state[p], data_change=False)
                for p in sorted(state)
            ]
            + adds
        )
        if _try_commit(path, version + 1, actions):
            return {
                "version": version + 1,
                "files_before": len(state),
                "files_after": len(adds),
            }
    raise DeltaProtocolError(f"{path}: lost {5} consecutive commit races")


def delta_restore(spark: SparkSession, path: str, version: int) -> dict:
    """RESTORE TABLE ... TO VERSION AS OF — delta's own RESTORE (the
    iceberg-side analog, rollback_to_snapshot, is already a CALL
    procedure here): ONE new commit makes the table's state equal the
    target snapshot — files the current snapshot dropped are re-added
    with their original entries (partition values, stats, deletion
    vectors), files the target lacks are removed, and a changed
    metaData (schema/configuration) is re-emitted. History is
    preserved: the restore is itself a version, and time travel still
    reaches everything in between. Refuses loudly when a needed file
    was vacuumed away. Returns {'version', 'files_added',
    'files_removed'}."""
    target = int(version)
    for _ in range(5):
        _, m_old, state_old, _ = _snapshot_state(
            spark, path, target, None,
            allow_dvs=True, allow_name_mapping=True,
            keep_stats=True,
        )
        _, m_cur, state_cur, cur_v = _snapshot_state(
            spark, path, None, None,
            allow_dvs=True, allow_name_mapping=True,
            keep_stats=True,
        )
        if target == cur_v:
            return {
                "version": cur_v, "files_added": 0, "files_removed": 0
            }
        adds = []
        for ap, add in state_old.items():
            cur = state_cur.get(ap)
            if cur is not None and json.dumps(
                cur.get("deletionVector"), sort_keys=True
            ) == json.dumps(add.get("deletionVector"), sort_keys=True):
                continue  # present with the same row-visibility
            fp = os.path.join(path, unquote(ap))
            if not os.path.exists(fp):
                raise DeltaProtocolError(
                    f"RESTORE to {target} needs {ap}, which was"
                    " vacuumed away"
                )
            new_add = dict(add)
            new_add["dataChange"] = True
            new_add["modificationTime"] = _now_ms()
            adds.append({"add": new_add})
        removes = [
            _remove_action(ap, state_cur[ap])
            for ap in sorted(set(state_cur) - set(state_old))
        ]
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": _now_ms(),
                    "operation": "RESTORE",
                    "operationParameters": {"version": str(target)},
                }
            }
        ]
        if json.dumps(m_old, sort_keys=True) != json.dumps(
            m_cur, sort_keys=True
        ):
            actions.append({"metaData": m_old})
        actions += removes + adds
        if _try_commit(path, cur_v + 1, actions):
            drop_extended_stats(path)  # visible rows changed wholesale
            return {
                "version": cur_v + 1,
                "files_added": len(adds),
                "files_removed": len(removes),
            }
    raise DeltaProtocolError(f"{path}: lost 5 consecutive commit races")


def delta_vacuum(
    spark: SparkSession, path: str, retain_ms: int = 7 * 24 * 3600 * 1000
) -> dict:
    """VACUUM: physically delete data files no longer referenced by the
    CURRENT snapshot whose modification time is older than the
    retention window (the same contract as Delta's VACUUM — time travel
    to vacuumed versions stops working, which is why the default
    retention is 7 days). r14: DV'd tables vacuum too (vacuum compares
    file paths, rewrites nothing — the allow_dvs gate was over-broad),
    the CURRENT snapshot's deletion-vector files count as referenced,
    and ORPHANED .bin vectors (superseded by later DV commits) reclaim
    alongside retired parquet. Returns {'deleted': n}."""
    import glob

    # mapping-safe: vacuum compares file PATHS only, no row rewrites
    _, _, state, _ = _snapshot_state(
        spark, path, None, None, allow_dvs=True, allow_name_mapping=True
    )
    active = {
        os.path.abspath(os.path.join(path, unquote(p))) for p in state
    }
    for add in state.values():
        dv = add.get("deletionVector")
        if dv and dv.get("storageType") == "u":
            active.add(os.path.abspath(_dv_file_path(path, dv)))
    cutoff = _now_ms() / 1000.0 - retain_ms / 1000.0
    deleted = 0
    candidates = glob.glob(
        os.path.join(path, "**", "*.parquet"), recursive=True
    ) + glob.glob(
        os.path.join(path, "**", "deletion_vector_*.bin"),
        recursive=True,
    )
    for f in candidates:
        rel = os.path.relpath(f, path)
        if rel.startswith("_delta_log") or rel.startswith("."):
            continue
        if os.path.abspath(f) in active:
            continue
        if os.path.getmtime(f) > cutoff:
            continue
        os.remove(f)
        deleted += 1
    return {"deleted": deleted}


def _apply_assignments(rows, predicate_sql: str, assignments, err_cls):
    """UPDATE semantics shared by the Delta/Iceberg/Hudi COW paths: one
    SELECT in which every assignment RHS and the predicate evaluate
    against the PRE-update row — {'a': 'b', 'b': 'a'} swaps, and an
    assignment that falsifies the predicate cannot suppress later
    assignments (the chained-withColumn bug this replaced)."""
    from pyspark.sql import functions as F

    for col in assignments:
        if col not in rows.columns:
            raise err_cls(f"no such column {col!r}")
    return rows.select(
        *[
            F.when(
                F.expr(predicate_sql), F.expr(assignments[c])
            ).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in rows.columns
        ]
    )


def _strip_uri(p: str) -> str:
    """file:-URI -> local path. input_file_name() returns a percent-
    ENCODED URI (spaces, non-ASCII), while the add-action paths are
    unquote()d before joining — decode so the two sides of the
    scan-path -> log-path map agree for any table/partition path."""
    return unquote(re.sub(r"^file:(//)?", "", p))


def _in_list(values) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in sorted(values))


# ---------------------------------------------------------------------------
# Extended statistics sidecar (trino-delta-lake ExtendedStatistics /
# MetaDirStatisticsAccess: <table>/_trino_meta/extended_stats.json).
# The reference persists per-column NDV as airlift HLL blobs and MERGES
# the new data's sketch into them on INSERT when extended statistics
# exist (TransactionLogWriter + DeltaLakeMetadata.finishInsert); we do
# the same jar-free with the md5-HLL register sketches from
# operators/hll.py (sparse {bucket: max-rho} maps in the JSON).
# Destructive writes (overwrite / DELETE / UPDATE / MERGE) DROP the
# sidecar — an HLL cannot subtract, and serving pre-delete NDV as
# authoritative would be the stale-stats bug ADVICE r13 flagged.
# ---------------------------------------------------------------------------


def extended_stats_file(path: str) -> str:
    return os.path.join(path, "_trino_meta", "extended_stats.json")


def hll_estimate_py(regs: dict[int, int]) -> float:
    """Python twin of operators/hll.py's _FINAL estimate expression
    (same alpha, same 61-bit window, same linear-counting fallback)."""
    import math

    M = 1024
    TWO61 = 1 << 61
    nz = len(regs)
    sp = sum(1 << (61 - r) for r in regs.values())
    s = (sp + (M - nz) * TWO61) / float(TWO61)
    est = (0.7213 / (1.0 + 1.079 / M)) * M * M / s
    if est <= 2.5 * M and (M - nz) > 0:
        est = M * math.log(M / float(M - nz))
    return round(est, 6)


def column_hll_registers(df, cols: list[str]) -> dict[str, dict[int, int]]:
    """Per-column HLL register sketches in ONE shuffle pass: stack the
    columns long (col, value-as-string), bucket/rho via the md5 scheme
    every other HLL surface uses, groupBy(col, bucket) MAX(rho). At
    most len(cols)*1024 rows ever reach the driver — sketch-sized, not
    data-sized, at any table scale."""
    from witdb_spark.operators.hll import _bucket_rho

    if not cols:
        return {}
    pairs = ", ".join(f"'{c}', cast(`{c}` as string)" for c in cols)
    long_df = df.selectExpr(
        f"stack({len(cols)}, {pairs}) as (__col, __v)"
    ).where("__v is not null")
    b, rho = _bucket_rho("__v")
    regs = (
        long_df.select("__col", b, rho)
        .groupBy("__col", "bucket")
        .agg(F.max("rho").alias("r"))
        .collect()
    )
    out: dict[str, dict[int, int]] = {c: {} for c in cols}
    for row in regs:
        out[row["__col"]][int(row["bucket"])] = int(row["r"])
    return out


def drop_extended_stats(path: str) -> bool:
    f = extended_stats_file(path)
    if os.path.exists(f):
        os.remove(f)
        return True
    return False


def update_extended_stats_on_append(spark, path: str, df) -> None:
    """Post-commit, best-effort: if an ANALYZE sidecar exists, merge
    the appended batch's HLL registers into each analyzed column's
    sketch (per-register MAX — sketch union), re-resolve NDV from the
    merged sketch, and add the batch's string/binary byte sizes.
    Sidecars from before sketches were persisted (no 'hll' key) can't
    be merged and are dropped instead of being served stale."""
    target = extended_stats_file(path)
    if not os.path.exists(target):
        return
    try:
        with open(target) as fh:
            side = json.load(fh)
        col_stats = side.get("columnStatistics") or {}
        cols = [c for c in col_stats if c in df.columns]
        if any("hll" not in col_stats[c] for c in cols):
            drop_extended_stats(path)
            return
        fresh = column_hll_registers(df, cols)
        from pyspark.sql import types as T

        sz_cols = [
            f.name
            for f in df.schema.fields
            if f.name in col_stats
            and isinstance(f.dataType, (T.StringType, T.BinaryType))
        ]
        row = df.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(F.octet_length(F.col(c)))
                .cast("double")
                .alias(c)
                for c in sz_cols
            ],
        ).collect()[0]
        sizes = row.asDict()
        batch_n = float(sizes.pop("__n"))
        for c in cols:
            merged = {
                int(k): int(v) for k, v in col_stats[c]["hll"].items()
            }
            for bkt, r in fresh.get(c, {}).items():
                if r > merged.get(bkt, 0):
                    merged[bkt] = r
            col_stats[c]["hll"] = {str(k): v for k, v in merged.items()}
            col_stats[c]["ndv"] = hll_estimate_py(merged)
            if sizes.get(c) is not None:
                col_stats[c]["totalSizeInBytes"] = (
                    col_stats[c].get("totalSizeInBytes") or 0.0
                ) + sizes[c]
        # r15: keep the table-level CBO facts tracking appends too —
        # add the batch's cardinality and its size under the same
        # model ANALYZE used (measured varlen bytes + row_count x
        # fixed type widths)
        if side.get("rowCount") is not None:
            side["rowCount"] = float(side["rowCount"]) + batch_n
        if side.get("tableSizeBytes") is not None:
            from witdb_spark.engine import _cbo_size_estimate

            side["tableSizeBytes"] = float(
                side["tableSizeBytes"]
            ) + _cbo_size_estimate(
                df.schema, batch_n,
                {c: sizes.get(c) for c in df.columns},
            )
        side["alreadyAnalyzedModifiedTime"] = _now_ms()
        tmp = target + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(side, fh)
        os.replace(tmp, target)
    except (OSError, ValueError, KeyError):
        # stats are advisory; a corrupt sidecar must not fail a write
        drop_extended_stats(path)
