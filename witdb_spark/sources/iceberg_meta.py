"""Jar-free Apache Iceberg read path (public table spec, v1/v2).

Reference analog: plugin/trino-iceberg reads table metadata itself
(io/trino/plugin/iceberg/IcebergSplitManager + the iceberg-core file
readers) — the metadata chain is fully specified publicly
(iceberg.apache.org/spec): ``metadata/vN.metadata.json`` → snapshot →
manifest LIST (Avro) → manifests (Avro) → data files (parquet). With
sources/avro_codec.py supplying the Avro decode, this module walks that
chain driver-side (the file list is what every Iceberg reader
materializes) and hands the data scan to Spark's distributed parquet
reader, selecting the table schema's columns so missing fields fail
loudly instead of silently misreading.

v2 POSITION deletes are handled jar-free (r9): the snapshot scan tags
rows with the parquet reader's _metadata (file_path, row_index) and
LEFT ANTI joins the delete rows, sequence-scoped per the spec —
merge-on-read done Spark-first. iceberg_write_position_deletes commits
a spec-shaped delete snapshot (delete parquet + content=1 manifest).

Loud scope-outs: EQUALITY delete files (need the value-predicate
evaluation layer of the jar), non-parquet data files, and format
versions beyond 2. Renamed columns are out of scope (data files are
read by name, the spec's field-id indirection needs a full projection
layer — the delta-style remedy message says so).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from witdb_spark.frames import local_frame
from witdb_spark.sources.avro_codec import read_avro_file, write_avro_file


class IcebergProtocolError(RuntimeError):
    pass


def _strip_scheme(p: str) -> str:
    return re.sub(r"^file:(//)?", "", p)


def _current_metadata(path: str) -> dict:
    mdir = os.path.join(path, "metadata")
    if not os.path.isdir(mdir):
        raise FileNotFoundError(
            f"{path} is not an Iceberg table (no metadata directory)"
        )
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        v = open(hint).read().strip()
        for cand in (f"v{v}.metadata.json", f"{v}.metadata.json"):
            full = os.path.join(mdir, cand)
            if os.path.exists(full):
                return json.load(open(full))
    metas = sorted(
        f for f in os.listdir(mdir) if f.endswith(".metadata.json")
    )
    if not metas:
        raise FileNotFoundError(f"{path}: no *.metadata.json")
    return json.load(open(os.path.join(mdir, metas[-1])))


def _pick_snapshot(
    meta: dict, snapshot_id: int | None, timestamp_ms: int | None
) -> dict:
    snaps = meta.get("snapshots") or []
    if not snaps:
        raise IcebergProtocolError("Iceberg table has no snapshots")
    if snapshot_id is not None:
        for s in snaps:
            if s["snapshot-id"] == int(snapshot_id):
                return s
        raise ValueError(f"no Iceberg snapshot {snapshot_id}")
    if timestamp_ms is not None:
        # timestamp travel follows MAIN's history: branch commits
        # (r12) interleave by timestamp but belong to their own lineage
        main_ids = _main_ancestry_ids(meta)
        eligible = [
            s
            for s in snaps
            if s["timestamp-ms"] <= int(timestamp_ms)
            and (main_ids is None or s["snapshot-id"] in main_ids)
        ]
        if not eligible:
            raise ValueError(
                f"no Iceberg snapshot at or before {timestamp_ms}"
            )
        return max(eligible, key=lambda s: s["timestamp-ms"])
    cur = meta.get("current-snapshot-id")
    for s in snaps:
        if s["snapshot-id"] == cur:
            return s
    return max(snaps, key=lambda s: s["timestamp-ms"])


def _main_ancestry_ids(meta: dict) -> set | None:
    """Snapshot ids on MAIN's lineage, or None when every snapshot is
    main's (no diverged branch to exclude). Branch commits (r12) are
    identified by walking parent-snapshot-id links from each non-main
    branch head, stopping at any snapshot that main's snapshot-log
    records or that carries no parent link (a pre-branch main
    snapshot) — sound for both this repo's tables (only branch appends
    stamp parents) and library tables (full parent chains + complete
    snapshot-logs)."""
    snaps = meta.get("snapshots") or []
    refs = meta.get("refs") or {}
    heads = [
        r.get("snapshot-id")
        for name, r in refs.items()
        if r.get("type") == "branch" and name != "main"
    ]
    if not heads:
        return None
    by_id = {s["snapshot-id"]: s for s in snaps}
    log_ids = {e["snapshot-id"] for e in meta.get("snapshot-log") or []}
    excl: set = set()
    for sid in heads:
        while sid in by_id and sid not in log_ids and sid not in excl:
            s = by_id[sid]
            if "parent-snapshot-id" not in s:
                break
            excl.add(sid)
            sid = s.get("parent-snapshot-id")
    if not excl:
        return None
    return {s["snapshot-id"] for s in snaps} - excl


def _table_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        return next(
            (s for s in meta["schemas"] if s.get("schema-id") == sid),
            meta["schemas"][-1],
        )
    return meta["schema"]  # format v1 single schema


def _schema_fields(meta: dict) -> list[str]:
    return [f["name"] for f in _table_schema(meta)["fields"]]


_ICE_PRIMS = {
    "boolean": "boolean", "int": "int", "long": "bigint",
    "float": "float", "double": "double", "date": "date",
    "timestamp": "timestamp_ntz", "timestamptz": "timestamp",
    "string": "string", "uuid": "string", "binary": "binary",
    "time": "string",
}


def _ice_type_ddl(t) -> str:
    """Iceberg type -> Spark DDL (spec primitive names; decimal(p,s)
    and fixed[n] textual forms; nested types recurse)."""
    if isinstance(t, str):
        if t in _ICE_PRIMS:
            return _ICE_PRIMS[t]
        if t.startswith("decimal"):
            return t
        if t.startswith("fixed"):
            return "binary"
        raise IcebergProtocolError(f"unknown Iceberg type {t!r}")
    kind = t.get("type")
    if kind == "struct":
        inner = ", ".join(
            f"`{f['name']}`: {_ice_type_ddl(f['type'])}"
            for f in t["fields"]
        )
        return f"struct<{inner}>"
    if kind == "list":
        return f"array<{_ice_type_ddl(t['element'])}>"
    if kind == "map":
        return (
            f"map<{_ice_type_ddl(t['key'])}, {_ice_type_ddl(t['value'])}>"
        )
    raise IcebergProtocolError(f"unknown Iceberg type {t!r}")


def _resolve(table_path: str, file_path: str) -> str:
    p = _strip_scheme(file_path)
    if os.path.isabs(p):
        return p
    return os.path.join(table_path, p)


def _manifest_rows(
    path: str, mf: dict, prune
) -> tuple[list[tuple], list[tuple]]:
    """Decode ONE manifest avro into its live (data, deletes) file
    tuples — the per-manifest unit of scan planning, shared verbatim
    by the serial fold and the distributed (executor-side) fold so
    both produce identical plans (r14)."""
    mseq = mf.get("sequence_number")
    mpath = _resolve(path, mf["manifest_path"])
    _, entries = read_avro_file(mpath)
    data: list[tuple] = []
    deletes: list[tuple] = []
    for e in entries:
        if e.get("status", 1) == 2:  # DELETED entry
            continue
        df_rec = e["data_file"]
        content = df_rec.get("content", 0)
        fmt = str(df_rec.get("file_format", "PARQUET")).upper()
        if fmt != "PARQUET":
            raise IcebergProtocolError(
                f"non-parquet Iceberg file ({fmt}) — add the"
                " iceberg-spark-runtime jar"
            )
        if mf.get("content", 0) == 1 and content == 0:
            # a delete manifest must carry content=1/2 entries; a
            # content=0 entry inside one is a shape this module's
            # spec subset has no reading for
            raise IcebergProtocolError(
                "Iceberg DELETE manifests with entries outside the"
                " row-delete shape — add the"
                " iceberg-spark-runtime jar"
            )
        eseq = e.get("sequence_number")
        seq = eseq if eseq is not None else mseq
        tgt = _resolve(path, df_rec["file_path"])
        if content == 2:
            eq_ids = df_rec.get("equality_ids") or e.get(
                "equality_ids"
            )
            if not eq_ids:
                raise IcebergProtocolError(
                    "Iceberg EQUALITY delete file without"
                    " equality_ids — add the iceberg-spark-runtime"
                    " jar"
                )
            deletes.append(
                (
                    tgt,
                    seq if seq is not None else 2**62,
                    tuple(int(i) for i in eq_ids),
                )
            )
        elif content == 1:
            deletes.append(
                (tgt, seq if seq is not None else 2**62, None)
            )
        else:
            # file-level partition/stats pruning: callers pass a
            # conservative can-match over the entry's partition
            # struct (read_iceberg_snapshot where=); pruned files
            # are never listed, opened, or row-tagged. The entry's
            # struct resolves against ITS manifest's spec-id
            # (partition evolution, r12).
            if prune is not None and not prune(
                df_rec, mf.get("partition_spec_id", 0)
            ):
                continue
            data.append((tgt, seq if seq is not None else 0))
    return data, deletes


#: manifest count at/above which scan planning fans out to executors;
#: below it the driver decodes serially (no job overhead, and loud
#: protocol errors keep their python type for the small-table tests)
_DIST_MANIFEST_THRESHOLD = 8


def _scan_manifests_distributed(
    spark, path: str, mfs: list[dict], prune
) -> tuple[list[tuple], list[tuple]]:
    """Decode manifests IN PARALLEL on executors (r14, VERDICT r13:
    'Iceberg decodes every manifest with single-threaded pure-Python
    Avro on the driver' — at 100 TB that is thousands of manifests and
    minutes of planning stall; the reference plans from manifests in
    parallel worker tasks, plugin/trino-iceberg ManifestReader splits).
    The manifest descriptors ship via sc.broadcast (they carry avro
    bytes bounds — not JSON-able — and broadcast ships once per
    executor, not once per task); the prune closure rides the
    cloudpickled mapInPandas function. Entry-level pruning thus ALSO
    runs executor-side, so pruned files never reach the driver."""
    from pyspark.sql import functions as F  # noqa: F401

    bc = spark.sparkContext.broadcast(mfs)
    n = len(mfs)
    idx_df = spark.range(0, n, 1, min(n, 64))

    def decode(batches, _path=path, _prune=prune):
        import json as _json

        import pandas as _pd

        from witdb_spark.sources.iceberg_meta import _manifest_rows

        for pdf in batches:
            kinds, paths, seqs, eqs = [], [], [], []
            for i in pdf["id"]:
                d, dl = _manifest_rows(_path, bc.value[int(i)], _prune)
                for p, s in d:
                    kinds.append(0)
                    paths.append(p)
                    seqs.append(s)
                    eqs.append(None)
                for p, s, eq in dl:
                    kinds.append(1)
                    paths.append(p)
                    seqs.append(s)
                    eqs.append(
                        _json.dumps(list(eq)) if eq is not None else None
                    )
            yield _pd.DataFrame(
                {
                    "kind": _pd.Series(kinds, dtype="int32"),
                    "path": _pd.Series(paths, dtype="object"),
                    "seq": _pd.Series(seqs, dtype="int64"),
                    "eq": _pd.Series(eqs, dtype="object"),
                }
            )

    rows = idx_df.mapInPandas(
        decode, "kind int, path string, seq long, eq string"
    ).collect()
    bc.unpersist()
    data = [(r["path"], r["seq"]) for r in rows if r["kind"] == 0]
    deletes = [
        (
            r["path"],
            r["seq"],
            tuple(json.loads(r["eq"])) if r["eq"] is not None else None,
        )
        for r in rows
        if r["kind"] == 1
    ]
    return data, deletes


def _iceberg_scan(
    path: str,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    prune=None,
    prune_manifest=None,
    spark=None,
) -> tuple[
    list[tuple[str, int]],
    list[tuple[str, int, tuple[int, ...] | None]],
    list[str],
]:
    """Walk metadata → manifest list → manifests, returning
    (data, deletes, table column names). data entries are (absolute
    parquet path, data sequence number); delete entries are (path,
    sequence number, equality field-ids or None for position deletes).
    Sequence numbers follow the v2 inheritance rule — a null entry
    sequence inherits the manifest's — and default conservatively when
    absent (tables written before this module stamped sequences): 0
    for data, +inf for deletes. The defaults are safe for POSITION
    deletes because a delete row names its target by full file path
    and Iceberg never reuses file paths; EQUALITY deletes apply only
    under data_seq < delete_seq, which the stamped sequences provide
    (reference plugin/trino-iceberg/.../delete/ reads both kinds).

    r14: pass ``spark`` to fan manifest decode out to executors once
    the snapshot has >= _DIST_MANIFEST_THRESHOLD manifests
    (_scan_manifests_distributed) — planning a 100 TB table is then
    O(manifests / cores), not minutes of serial driver-side avro.
    Without spark (pure-metadata callers) the fold stays serial."""
    meta = _current_metadata(path)
    fv = meta.get("format-version", 1)
    if fv not in (1, 2):
        raise IcebergProtocolError(
            f"unsupported Iceberg format-version {fv}"
        )
    snap = _pick_snapshot(meta, snapshot_id, timestamp_ms)
    mlist = _resolve(path, snap["manifest-list"])
    _, manifests = read_avro_file(mlist)
    # manifest-level pruning stays on the driver: the manifest LIST is
    # one small avro (a row per manifest) and its partition summaries
    # prune whole manifests before any of them is opened
    survivors = [
        mf
        for mf in manifests
        if not (
            prune_manifest is not None
            and mf.get("content", 0) == 0  # never skip delete manifests
            and not prune_manifest(mf)
        )
    ]
    data: list[tuple[str, int]] = []
    deletes: list[tuple[str, int, tuple[int, ...] | None]] = []
    if (
        spark is not None
        and len(survivors) >= _DIST_MANIFEST_THRESHOLD
    ):
        data, deletes = _scan_manifests_distributed(
            spark, path, survivors, prune
        )
    else:
        for mf in survivors:
            d, dl = _manifest_rows(path, mf, prune)
            data += d
            deletes += dl
    return data, deletes, _schema_fields(meta)


def iceberg_data_files(
    path: str,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
) -> tuple[list[str], list[str]]:
    """Active parquet data files + table column names, for callers that
    need a plain file list (optimize, interop checks). A snapshot with
    live position deletes has no plain file list — reading it must go
    through read_iceberg_snapshot's delete-applying scan — so this
    raises rather than returning files whose rows are partly dead."""
    data, deletes, cols = _iceberg_scan(path, snapshot_id, timestamp_ms)
    if deletes:
        raise IcebergProtocolError(
            "live position-delete files present — read via"
            " read_iceberg_snapshot (jar-free MOR scan); file-list"
            " consumers (optimize) need the deletes compacted first"
        )
    return [p for p, _ in data], cols


def _norm_file_path(p: str) -> str:
    """Canonical join key for file paths: strip any URI scheme AND
    percent-decode, so manifest/delete-row paths (raw or URI-encoded,
    libraries differ) compare equal to Spark's _metadata.file_path
    rendering after the same normalization (sources/paths.py)."""
    from witdb_spark.sources.paths import norm_path

    return norm_path(p)


def _apply_row_deletes(
    spark: SparkSession,
    df: DataFrame,
    data: list[tuple[str, int]],
    deletes: list[tuple[str, int, tuple[int, ...] | None]],
    id_to_name: dict[int, str],
    keep_tags: bool = False,
) -> DataFrame:
    """Merge-on-read delete application (reference
    plugin/trino-iceberg/.../delete/ PositionDeleteFilter +
    EqualityDeleteFilter, done Spark-first). POSITION deletes: tag each
    scanned row with its (file, row ordinal) via the parquet reader's
    _metadata column — no row numbering shuffle — and LEFT ANTI join
    the applicable delete rows; a position delete applies to data
    files with data_seq <= delete_seq. EQUALITY deletes: LEFT ANTI
    join on the delete file's equality columns with null-safe
    comparison (spec: null equals null), applying only to rows from
    data files with data_seq STRICTLY below the delete's. Sequence
    scoping folds in by joining a broadcast metadata-scale
    (file -> data_seq) map onto the tagged scan; delete sides
    broadcast when small (AQE), else the anti joins shuffle — the
    same shape any MOR reader needs."""
    from pyspark.sql import functions as F

    # one shared normalizer for BOTH the scan rendering (percent-
    # encoded URI) and the delete rows' stored file_path — an encoding
    # mismatch either drops applicable delete rows (un-deleting) or
    # fails the file_seq join loudly; see sources/paths.py
    from witdb_spark.sources.paths import norm_path_expr as norm_expr
    file_seq = spark.createDataFrame(
        [(_norm_file_path(p), s) for p, s in data],
        "__file string, __data_seq long",
    )
    tagged = df.withColumns(
        {
            "__file": norm_expr(F.col("_metadata.file_path")),
            "__pos": F.col("_metadata.row_index"),
        }
    )
    pos = [(p, s) for p, s, eq in deletes if eq is None]
    eqs = [(p, s, eq) for p, s, eq in deletes if eq is not None]
    if pos:
        by_seq: dict[int, list[str]] = {}
        for p, s in pos:
            by_seq.setdefault(s, []).append(p)
        del_parts = []
        for s, ps in sorted(by_seq.items()):
            del_parts.append(
                spark.read.parquet(*sorted(set(ps)))
                .select(
                    norm_expr(F.col("file_path")).alias("__file"),
                    F.col("pos").cast("long").alias("__pos"),
                )
                .withColumn("__dseq", F.lit(s).cast("long"))
            )
        dels = del_parts[0]
        for part in del_parts[1:]:
            dels = dels.unionByName(part)
        applicable = (
            dels.join(F.broadcast(file_seq), "__file")
            .where(F.col("__dseq") >= F.col("__data_seq"))
            .select("__file", "__pos")
        )
        tagged = tagged.join(
            applicable, ["__file", "__pos"], "left_anti"
        )
    if eqs:
        tagged = tagged.join(
            F.broadcast(file_seq), "__file", "left"
        ).withColumn(
            "__data_seq", F.coalesce(F.col("__data_seq"), F.lit(0))
        )
        # one anti join per (sequence, column-set) delete group; groups
        # are bounded by commits, and each group's files read in one
        # distributed scan
        groups: dict[tuple[int, tuple[int, ...]], list[str]] = {}
        for p, s, eq in eqs:
            groups.setdefault((s, eq), []).append(p)
        for (s, eq), ps in sorted(groups.items()):
            try:
                cols = [id_to_name[i] for i in eq]
            except KeyError as exc:
                raise IcebergProtocolError(
                    f"equality delete references unknown field id"
                    f" {exc} — add the iceberg-spark-runtime jar"
                ) from exc
            missing = [c for c in cols if c not in df.columns]
            if missing:
                raise IcebergProtocolError(
                    f"equality delete columns {missing} absent from"
                    " the scan — add the iceberg-spark-runtime jar"
                )
            drows = spark.read.parquet(*sorted(set(ps))).select(
                *[F.col(c).alias(f"__eq_{c}") for c in cols]
            )
            cond = F.lit(True)
            for c in cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
            cond = cond & (F.col("__data_seq") < F.lit(s))
            tagged = tagged.join(drows, cond, "left_anti")
        tagged = tagged.drop("__data_seq")
    if keep_tags:
        return tagged
    return tagged.drop("__file", "__pos")


def _bounds_can_match(clauses, schema_fields: list[dict], df_rec: dict) -> bool:
    """File-level stats pruning over the manifest entry's column-stats
    maps (spec lower_bounds/upper_bounds/value_counts/
    null_value_counts; reference analog the library's
    InclusiveMetricsEvaluator) — decoded per the single-value binary
    serialization. Works on OUR manifests and on real library-written
    ones (same avro map shape). Any missing stat -> scan the file."""
    from witdb_spark.sources.skipping import clause_can_match

    def as_map(key):
        raw = df_rec.get(key)
        if not raw:
            return {}
        try:
            return {e["key"]: e["value"] for e in raw}
        except (TypeError, KeyError):
            return {}

    lower = as_map("lower_bounds")
    upper = as_map("upper_bounds")
    nulls = as_map("null_value_counts")
    counts = as_map("value_counts")
    if not (lower or nulls or counts):
        return True
    by_name = {f["name"]: f for f in schema_fields}
    for cl in clauses:
        f = by_name.get(cl.col)
        if f is None or not isinstance(f["type"], str):
            continue
        fid, t = f["id"], f["type"]
        if t not in _BOUND_TYPES:
            continue
        lo = (
            _ice_single_deser(t, lower[fid]) if fid in lower else None
        )
        hi = (
            _ice_single_deser(t, upper[fid]) if fid in upper else None
        )
        if not clause_can_match(
            cl, lo, hi, nulls.get(fid), counts.get(fid)
        ):
            return False
    return True


def read_iceberg_snapshot(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    timestamp_ms: int | None = None,
    where: str | None = None,
    ref: str | None = None,
    _row_tags: bool = False,
) -> DataFrame:
    """Read an Iceberg table at a snapshot (current, by snapshot id,
    the last snapshot committed at/before ``timestamp_ms``, or a named
    ``ref`` — a tag/branch, the reference's FOR VERSION AS OF '<name>';
    'main' means current) without the
    connector jar. The data scan is an ordinary distributed parquet
    read; selecting the table schema's columns makes a missing or
    renamed column a loud error instead of a silent misread. v2
    POSITION and EQUALITY deletes apply jar-free as merge-on-read
    anti joins (_apply_row_deletes). ``where`` turns on MANIFEST-LEVEL
    partition pruning (transform projection per the spec — identity/
    truncate/temporal ranges, bucket equality) before the scan is
    built, then re-applies the full predicate to the rows, so pruning
    never changes results — at fleet scale the win is never listing
    the pruned files at all."""
    if ref is not None:
        if snapshot_id is not None or timestamp_ms is not None:
            raise ValueError(
                "pass ONE of snapshot_id / timestamp_ms / ref"
            )
        if ref != "main":
            refs = _current_metadata(path).get("refs") or {}
            if ref not in refs:
                raise ValueError(f"no Iceberg ref {ref!r}")
            snapshot_id = refs[ref]["snapshot-id"]
    prune = prune_manifest = None
    if where is not None:
        from witdb_spark.sources.iceberg_transforms import (
            partition_struct_can_match,
        )
        from witdb_spark.sources.skipping import (
            parse_predicate,
            predicate_can_match,
        )

        pred_tree = parse_predicate(where)
        if pred_tree is not None:
            meta0 = _current_metadata(path)
            # r12 partition-spec EVOLUTION: each manifest's partition
            # structs/summaries are resolved against the manifest's OWN
            # spec-id (spec 'Partition Evolution' — specs are never
            # rewritten), not the table's default
            spec_fields = {
                s["spec-id"]: (s.get("fields") or [])
                for s in meta0.get("partition-specs") or []
            }
            sf = _table_schema(meta0)["fields"]

            def prune(
                df_rec, spec_id, _sfd=spec_fields, _sf=sf, _pred=pred_tree
            ):
                # per-atom evaluation so OR composes as a union of
                # domains (each helper ANDs a singleton clause list)
                _pf = _sfd.get(spec_id) or []

                def atom(cl):
                    if _pf and not partition_struct_can_match(
                        [cl], _pf, _sf, df_rec.get("partition")
                    ):
                        return False
                    return _bounds_can_match([cl], _sf, df_rec)

                return predicate_can_match(_pred, atom)

            if any(spec_fields.values()):
                from witdb_spark.sources.iceberg_transforms import (
                    manifest_summary_can_match,
                )

                def prune_manifest(
                    mf, _sfd=spec_fields, _sf=sf, _pred=pred_tree
                ):
                    _pf = _sfd.get(
                        mf.get("partition_spec_id", 0)
                    ) or []
                    if not _pf:
                        return True  # unpartitioned-spec manifest
                    return predicate_can_match(
                        _pred,
                        lambda cl: manifest_summary_can_match(
                            [cl], _pf, _sf, mf.get("partitions"),
                            _ice_single_deser,
                        ),
                    )
    data, deletes, cols = _iceberg_scan(
        path, snapshot_id, timestamp_ms,
        prune=prune, prune_manifest=prune_manifest, spark=spark,
    )
    files = [p for p, _ in data]
    if not files:
        meta = _current_metadata(path)
        ddl = ", ".join(
            f"`{f['name']}` {_ice_type_ddl(f['type'])}"
            for f in _table_schema(meta)["fields"]
        )
        return local_frame(spark, [], ddl)
    df = spark.read.parquet(*sorted(set(files)))
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise IcebergProtocolError(
            f"table columns {missing} absent from data files (renamed"
            " columns need the field-id projection of the"
            " iceberg-spark-runtime jar)"
        )
    if deletes:
        meta = _current_metadata(path)
        id_to_name = {
            f["id"]: f["name"] for f in _table_schema(meta)["fields"]
        }
        df = _apply_row_deletes(
            spark, df, data, deletes, id_to_name, keep_tags=_row_tags
        )
    elif _row_tags:
        from pyspark.sql import functions as F

        from witdb_spark.sources.paths import norm_path_expr

        df = df.withColumns(
            {
                "__file": norm_path_expr(F.col("_metadata.file_path")),
                "__pos": F.col("_metadata.row_index"),
            }
        )
    if _row_tags:
        df = df.select(*cols, "__file", "__pos")
    else:
        df = df.select(*cols)
    if where is not None:
        # pruning above is conservative; the full predicate re-applies
        df = df.filter(where)
    return df


# ------------------------------------------------------------------ write
# HadoopTables-style commits (public spec: a snapshot = new manifest
# avro + new manifest list avro + a new vN.metadata.json; the metadata
# file is the commit point — open-exclusive gives put-if-absent on a
# posix filesystem; version-hint.text then points readers at it).
# Self-consistent with this module's reader and shaped per the spec's
# required fields; full iceberg-library interop (field-id avro
# attributes, column stats, partition summaries) stays on the jar.

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2",
            "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
            ],
        }},
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
        # spec field_summary list, POSITIONAL per partition-spec field
        # — lets readers prune whole manifests before opening them
        # (the codec encodes the null branch for producers that omit it)
        {"name": "partitions", "type": ["null", {
            "type": "array",
            "items": {
                "type": "record", "name": "r508",
                "fields": [
                    {"name": "contains_null", "type": "boolean"},
                    {"name": "contains_nan",
                     "type": ["null", "boolean"]},
                    {"name": "lower_bound", "type": ["null", "bytes"]},
                    {"name": "upper_bound", "type": ["null", "bytes"]},
                ],
            },
        }]},
    ],
}


def _partition_summaries(
    entries: list[dict], part_fields: list[dict], schema: dict
) -> list[dict] | None:
    """field_summary records (positional per spec field) over a new
    manifest's LIVE entries' partition structs — bounds in the
    single-value serialization of each field's transform RESULT
    type."""
    import datetime as _dt

    if not part_fields:
        return None
    out = []
    for pf in part_fields:
        t = _part_result_type(pf, schema)
        vals = []
        has_null = False
        for e in entries:
            if e.get("status", 1) == 2:
                continue
            struct = (e.get("data_file") or {}).get("partition") or {}
            v = struct.get(pf["name"])
            if v is None:
                has_null = True
            else:
                # kept entries decoded from avro carry logical-date
                # values as datetime.date while newly staged entries
                # carry epoch-day ints — normalize so min/max compare
                if isinstance(v, _dt.date) and not isinstance(
                    v, _dt.datetime
                ):
                    v = (v - _dt.date(1970, 1, 1)).days
                vals.append(v)
        lo = hi = None
        if vals:
            lo = _ice_single_ser(t, min(vals))
            hi = _ice_single_ser(t, max(vals))
        out.append(
            {
                "contains_null": has_null,
                "contains_nan": False,
                "lower_bound": lo,
                "upper_bound": hi,
            }
        )
    return out

_SPARK_TO_ICE = {
    "bigint": "long", "int": "int", "integer": "int", "string": "string",
    "double": "double", "float": "float", "boolean": "boolean",
    "date": "date", "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz", "binary": "binary",
}


def _spark_schema_to_iceberg(df) -> dict:
    fields = []
    for i, f in enumerate(df.schema.fields, start=1):
        ddl = f.dataType.simpleString()
        if ddl in _SPARK_TO_ICE:
            t = _SPARK_TO_ICE[ddl]
        elif ddl.startswith("decimal"):
            t = ddl.replace("decimal(", "decimal(").replace(",", ", ")
        else:
            raise IcebergProtocolError(
                f"column {f.name!r}: type {ddl} needs the"
                " iceberg-spark-runtime jar (nested/field-id mapping)"
            )
        fields.append(
            {
                "id": i,
                "name": f.name,
                "type": t,
                "required": not f.nullable,
            }
        )
    return {"schema-id": 0, "type": "struct", "fields": fields}


#: avro twins of the iceberg primitive types this module can put in a
#: partition struct (keyed by transform RESULT type — the jar-free
#: transform layer is sources/iceberg_transforms.py)
_ICE_TO_AVRO = {
    "int": "int", "long": "long", "string": "string",
    "boolean": "boolean", "double": "double", "float": "float",
    "date": {"type": "int", "logicalType": "date"},
}


def _writable_part_fields(meta: dict) -> list[dict]:
    """Default partition spec's fields when every transform is in the
    jar-free writable subset — identity, bucket[N], truncate[W],
    year/month/day/hour over supported source types
    (sources/iceberg_transforms.py; [] = unpartitioned). Anything else
    (void, bucket over decimal, ...) raises — evaluating it outside
    the spec'd transform layer would silently mis-partition."""
    from witdb_spark.sources.iceberg_transforms import (
        TransformError,
        result_type,
    )

    specs = {s["spec-id"]: s for s in meta.get("partition-specs") or []}
    fields = specs.get(meta.get("default-spec-id", 0), {}).get(
        "fields"
    ) or []
    by_id = {f["id"]: f for f in _table_schema(meta)["fields"]}
    for f in fields:
        src = by_id.get(f["source-id"])
        src_t = src["type"] if src else None
        try:
            result_type(f.get("transform", "identity"), src_t)
        except TransformError as exc:
            raise IcebergProtocolError(
                f"partition field {f['name']!r}: {exc} — writes need"
                " the iceberg-spark-runtime jar"
            ) from exc
    return fields


def _part_result_type(pf: dict, schema: dict) -> str:
    """A partition field's RESULT iceberg type (= source type for
    identity; int for bucket/year/month/hour; date for day; ...)."""
    from witdb_spark.sources.iceberg_transforms import result_type

    by_id = {f["id"]: f for f in schema["fields"]}
    src = by_id.get(pf["source-id"])
    t = src["type"] if src else None
    if not isinstance(t, str):
        raise IcebergProtocolError(
            f"partition source type {t!r} for {pf['name']!r} is"
            " outside the jar-free writer subset"
        )
    return result_type(pf.get("transform", "identity"), t)


def _part_avro_fields(part_fields: list[dict], schema: dict) -> list:
    """Avro record fields for the manifest partition struct (spec:
    'r102'), typed by each field's transform RESULT type."""
    out = []
    for pf in part_fields:
        t = _part_result_type(pf, schema)
        if t not in _ICE_TO_AVRO:
            raise IcebergProtocolError(
                f"partition result type {t!r} for {pf['name']!r} is"
                " outside the jar-free writer subset"
            )
        out.append(
            {
                "name": pf["name"],
                "type": ["null", _ICE_TO_AVRO[t]],
                "field-id": pf.get("field-id"),
            }
        )
    return out


def _k_v_map(name: str, value_type: str) -> list:
    """The avro shape iceberg-java uses for int-keyed data_file maps
    (value_counts / lower_bounds / ...): nullable array of key/value
    records."""
    return [
        "null",
        {
            "type": "array",
            "items": {
                "type": "record",
                "name": name,
                "fields": [
                    {"name": "key", "type": "int"},
                    {"name": "value", "type": value_type},
                ],
            },
        },
    ]


def _entry_schema_for(part_avro_fields: list) -> dict:
    """Manifest-entry avro schema; partitioned specs extend data_file
    with the typed partition record. data_file carries the spec's
    column-stats maps (value/null counts, lower/upper bounds) as
    nullable fields — entries without stats encode the null branch."""
    base = json.loads(json.dumps(_MANIFEST_ENTRY_SCHEMA))
    df_schema = base["fields"][2]["type"]
    if part_avro_fields:
        df_schema["fields"].append(
            {
                "name": "partition",
                "type": {
                    "type": "record",
                    "name": "r102",
                    "fields": part_avro_fields,
                },
            }
        )
    df_schema["fields"] += [
        {"name": "value_counts", "type": _k_v_map("k119_v120", "long")},
        {"name": "null_value_counts",
         "type": _k_v_map("k121_v122", "long")},
        {"name": "lower_bounds", "type": _k_v_map("k126_v127", "bytes")},
        {"name": "upper_bounds", "type": _k_v_map("k129_v130", "bytes")},
    ]
    return base


#: iceberg types whose single-value binary serialization (spec
#: 'Appendix D: Single-value serialization') this module writes and
#: prunes on. float/double stay out: parquet footer min/max is not
#: NaN-safe and the spec requires nan_value_counts to trust it.
_BOUND_TYPES = ("int", "long", "date", "timestamp", "timestamptz",
                "string")


def _ice_single_ser(ice_type: str, v) -> bytes | None:
    import datetime as _dt
    import struct as _struct

    if ice_type == "int":
        return _struct.pack("<i", int(v))
    if ice_type == "long":
        return _struct.pack("<q", int(v))
    if ice_type == "date":
        if isinstance(v, _dt.date):
            v = (v - _dt.date(1970, 1, 1)).days
        return _struct.pack("<i", int(v))
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, _dt.datetime):
            v = (
                v.replace(tzinfo=None) - _dt.datetime(1970, 1, 1)
            ) // _dt.timedelta(microseconds=1)
        return _struct.pack("<q", int(v))
    if ice_type == "string":
        return str(v).encode("utf-8")
    return None


def _ice_single_deser(ice_type: str, b: bytes):
    import datetime as _dt
    import struct as _struct

    if ice_type == "int":
        return _struct.unpack("<i", b)[0]
    if ice_type == "long":
        return _struct.unpack("<q", b)[0]
    if ice_type == "date":
        return _dt.date(1970, 1, 1) + _dt.timedelta(
            days=_struct.unpack("<i", b)[0]
        )
    if ice_type in ("timestamp", "timestamptz"):
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(
            microseconds=_struct.unpack("<q", b)[0]
        )
    if ice_type == "string":
        return b.decode("utf-8", errors="replace")
    return None


def _typed_part_value(raw: str | None, ice_type: str, name: str):
    """Hive-style partition directory value -> typed iceberg partition
    struct value (already percent-decoded; None = NULL partition)."""
    if raw is None:
        return None
    if ice_type in ("int", "long"):
        return int(raw)
    if ice_type == "string":
        return raw
    if ice_type == "boolean":
        return raw.lower() == "true"
    if ice_type in ("double", "float"):
        return float(raw)
    if ice_type == "date":
        import datetime as _dt

        return (
            _dt.date.fromisoformat(raw) - _dt.date(1970, 1, 1)
        ).days
    raise IcebergProtocolError(
        f"partition column {name!r}: type {ice_type!r} outside the"
        " jar-free writer subset"
    )


def _stage_iceberg_data(
    df, path: str, part_fields: list[dict], schema: dict
) -> list[dict]:
    """Stage ``df`` as data parquet under <path>/data and return the
    spec-shaped data_file records. Partitioned specs stage with
    partitionBy on COMPUTED transform columns (identity = a copy of
    the source; bucket/truncate/temporal evaluate jar-free in
    sources/iceberg_transforms.py — bucket over fixed-width types as
    pure JVM murmur3 arithmetic), so the data files keep every column
    physically (the same layout iceberg-java writes); partition VALUES
    parse back from the staged Hive-style directory names, typed by
    the transform result type, and land in the manifest partition
    struct."""
    import glob
    import shutil
    import uuid
    from urllib.parse import unquote

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from witdb_spark.sources.iceberg_transforms import transform_expr

    by_id = {f["id"]: f for f in schema["fields"]}
    part_cols = [by_id[pf["source-id"]]["name"] for pf in part_fields]
    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    if part_cols:
        missing = [c for c in part_cols if c not in df.columns]
        if missing:
            raise IcebergProtocolError(
                f"partition columns {missing} absent from the data"
            )
        from witdb_spark.sources.paths import (
            escape_empty_partition_expr,
        )

        stage_df = df
        for i, (pf, c) in enumerate(zip(part_fields, part_cols)):
            expr = transform_expr(
                pf.get("transform", "identity"), c,
                by_id[pf["source-id"]]["type"],
            )
            if _part_result_type(pf, schema) == "string":
                # keep '' distinct from NULL through the hive-style
                # staging directory round-trip (paths.py sentinel)
                expr = escape_empty_partition_expr(expr)
            stage_df = stage_df.withColumn(f"__p_{i}", expr)
        stage_df.write.mode("overwrite").partitionBy(
            *[f"__p_{i}" for i in range(len(part_cols))]
        ).parquet(staging)
        files = sorted(
            glob.glob(
                os.path.join(staging, "**", "part-*.parquet"),
                recursive=True,
            )
        )
    else:
        df.write.mode("overwrite").parquet(staging)
        files = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    recs = []
    for f in files:
        n_rows = pq.ParquetFile(f).metadata.num_rows
        if n_rows == 0:
            continue
        rec: dict = {
            "content": 0,
            "file_format": "PARQUET",
            "record_count": n_rows,
        }
        if part_cols:
            rel_dir = os.path.relpath(os.path.dirname(f), staging)
            raw_by_idx: dict[int, str | None] = {}
            dir_by_idx: dict[int, str] = {}
            from witdb_spark.sources.paths import (
                unescape_partition_value,
            )

            for comp in rel_dir.split(os.sep):
                k, _, v = comp.partition("=")
                idx = int(k[len("__p_"):])
                # dest dir keeps the staged (escaped) rendering —
                # readers resolve files through the manifest struct,
                # never the directory name
                dir_by_idx[idx] = v
                raw_by_idx[idx] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__"
                    else unescape_partition_value(unquote(v))
                )
            part_struct = {}
            dest_dir_parts = []
            for i, (pf, c) in enumerate(zip(part_fields, part_cols)):
                t = _part_result_type(pf, schema)
                part_struct[pf["name"]] = _typed_part_value(
                    raw_by_idx[i], t, pf["name"]
                )
                dest_dir_parts.append(f"{pf['name']}={dir_by_idx[i]}")
            rec["partition"] = part_struct
            rel = os.path.join(
                "data", *dest_dir_parts,
                f"{uuid.uuid4().hex}-{os.path.basename(f)}",
            )
            os.makedirs(
                os.path.dirname(os.path.join(path, rel)), exist_ok=True
            )
        else:
            rel = os.path.join("data", os.path.basename(f))
        shutil.move(f, os.path.join(path, rel))
        rec["file_path"] = rel
        rec["file_size_in_bytes"] = os.path.getsize(
            os.path.join(path, rel)
        )
        rec.update(_column_stats(os.path.join(path, rel), schema))
        recs.append(rec)
    shutil.rmtree(staging, ignore_errors=True)
    return recs


def _column_stats(file_path: str, schema: dict) -> dict:
    """Spec column-stats maps for one staged data file, aggregated
    from the parquet footer (reference analog: the library's
    MetricsConfig defaults; our reader's bounds pruning consumes them
    in read_iceberg_snapshot). Columns outside _BOUND_TYPES or without
    usable footer stats are simply absent."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(file_path).metadata
    except Exception:
        return {}
    id_by_name = {f["name"]: f["id"] for f in schema["fields"]}
    type_by_name = {f["name"]: f["type"] for f in schema["fields"]}
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    counts: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            fid = id_by_name.get(name)
            t = type_by_name.get(name)
            if fid is None or not isinstance(t, str) or (
                t not in _BOUND_TYPES
            ):
                continue
            # parquet num_values includes nulls — exactly the spec's
            # value_counts semantics
            counts[fid] = counts.get(fid, 0) + col.num_values
            st = col.statistics
            if st is None:
                mins[fid] = None
                continue
            if st.null_count is not None:
                nulls[fid] = nulls.get(fid, 0) + st.null_count
            if not st.has_min_max or (fid in mins and mins[fid] is None):
                mins[fid] = None
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                except UnicodeDecodeError:
                    mins[fid] = None
                    continue
            mins[fid] = lo if fid not in mins else min(mins[fid], lo)
            maxs[fid] = hi if fid not in maxs else max(maxs[fid], hi)
    out: dict = {}
    lower, upper = [], []
    for fid, lo in mins.items():
        if lo is None or fid not in maxs:
            continue
        name = next(n for n, i in id_by_name.items() if i == fid)
        t = type_by_name[name]
        lb = _ice_single_ser(t, lo)
        ub = _ice_single_ser(t, maxs[fid])
        if lb is None or ub is None:
            continue
        lower.append({"key": fid, "value": lb})
        upper.append({"key": fid, "value": ub})
    if lower:
        out["lower_bounds"] = lower
        out["upper_bounds"] = upper
    if counts:
        out["value_counts"] = [
            {"key": k, "value": v} for k, v in sorted(counts.items())
        ]
    if nulls:
        out["null_value_counts"] = [
            {"key": k, "value": v} for k, v in sorted(nulls.items())
        ]
    return out


def iceberg_evolve_spec(
    spark: SparkSession, path: str, partition_by: list[str]
) -> int:
    """ALTER-style partition-spec EVOLUTION (Iceberg spec 'Partition
    Evolution'; reference plugin/trino-iceberg/.../IcebergMetadata.java
    setTablePartitioning): append a NEW spec built from
    ``partition_by`` (bare columns or transform spellings —
    ``bucket(16, id)``, ``days(ts)``, ``[]`` = unpartitioned) and make
    it the default for FUTURE writes. Metadata-only commit: no
    snapshot, no data rewrite — every existing manifest keeps its own
    spec-id and readers resolve each manifest's partition structs
    against that spec (r12, read_iceberg_snapshot pruning). A
    (source-id, transform) pair that already exists in ANY spec reuses
    its field-id, the spec's stability rule; a field set identical to
    an existing spec just repoints default-spec-id. Returns the new
    default spec id."""
    from witdb_spark.sources.iceberg_transforms import (
        default_field_name,
        parse_partition_by,
        result_type,
    )

    meta = _current_metadata(path)
    if meta.get("format-version", 1) != 2:
        raise IcebergProtocolError(
            "spec evolution on a format-v1 Iceberg table needs the"
            " iceberg-spark-runtime jar"
        )
    schema = _table_schema(meta)
    by_name = {f["name"]: f for f in schema["fields"]}
    specs = list(
        meta.get("partition-specs") or [{"spec-id": 0, "fields": []}]
    )
    existing_fid = {
        (f["transform"], f["source-id"]): f["field-id"]
        for s in specs
        for f in s.get("fields") or []
    }
    last_pid = meta.get(
        "last-partition-id",
        max(existing_fid.values(), default=999),
    )
    fields = []
    for entry in partition_by or []:
        c, transform = parse_partition_by(entry)
        if c not in by_name:
            raise IcebergProtocolError(
                f"partition column {c!r} not in the schema"
            )
        result_type(transform, by_name[c]["type"])  # loud gate
        fid = existing_fid.get((transform, by_name[c]["id"]))
        if fid is None:
            last_pid += 1
            fid = last_pid
        fields.append(
            {
                "name": default_field_name(c, transform),
                "transform": transform,
                "source-id": by_name[c]["id"],
                "field-id": fid,
            }
        )
    shape = [(f["transform"], f["source-id"]) for f in fields]
    for s in specs:
        if [
            (f["transform"], f["source-id"])
            for f in s.get("fields") or []
        ] == shape:
            new_id = s["spec-id"]
            break
    else:
        new_id = max(s["spec-id"] for s in specs) + 1
        specs = specs + [{"spec-id": new_id, "fields": fields}]

    def build(cur):
        new = dict(cur)
        new["partition-specs"] = specs
        new["default-spec-id"] = new_id
        new["last-partition-id"] = max(
            last_pid, cur.get("last-partition-id", 999)
        )
        new["last-updated-ms"] = _now_ms_ice()
        return new

    _commit_metadata(path, build, meta.get("current-snapshot-id"))
    return new_id


def write_iceberg(
    spark: SparkSession,
    df,
    path: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    partition_by: list[str] | None = None,
    branch: str | None = None,
    summary_extra: dict[str, str] | None = None,
) -> int:
    """Jar-free Iceberg write (create/append/overwrite; identity
    partitioning since r10, bucket[N]/truncate[W]/year/month/day/hour
    transforms since late r10): data parquet + manifest avro +
    manifest-list avro, committed by the new vN.metadata.json
    (open-exclusive = the spec's atomic-swap contract on a
    filesystem). ``partition_by`` (create only) takes bare column
    names or Spark-DDL transform spellings — ``bucket(16, id)``,
    ``truncate(3, name)``, ``days(ts)`` — evaluated by
    sources/iceberg_transforms.py; appends to a partitioned table pick
    the spec up from the metadata (reference
    plugin/trino-iceberg/.../IcebergMetadata.java append path +
    PartitionData.java, PartitionTransforms.java).
    ``branch`` (r12, spec 'Refs' write side — Spark's
    ``branch_<name>`` write routing): append ON TOP OF the named
    branch's head — the new snapshot's parent is the branch head, the
    ref moves to it, and main/current-snapshot-id stay untouched; the
    branch may already be diverged (its lineage grows linearly).
    Append-only; the branch must exist (iceberg_create_ref). Merging a
    diverged branch back into main stays loud.
    ``summary_extra`` (r13): free-form string keys merged into the new
    snapshot's summary — the streaming sink's exactly-once epoch
    markers ride here, the same snapshot-summary channel the iceberg
    library's own Spark streaming sink uses. Returns the committed
    snapshot id."""
    import uuid

    if mode not in ("create", "append", "overwrite"):
        raise ValueError("mode must be create/append/overwrite")
    if branch is not None and mode != "append":
        raise IcebergProtocolError(
            "branch writes are append-only — create/overwrite route"
            " through main"
        )
    exists = os.path.isdir(os.path.join(path, "metadata"))
    if mode == "create" and exists:
        raise FileExistsError(f"{path} is already an Iceberg table")
    if mode != "create" and not exists:
        mode = "create"
    os.makedirs(os.path.join(path, "metadata"), exist_ok=True)

    creating = mode == "create" and not os.path.exists(
        os.path.join(path, "metadata", "v1.metadata.json")
    )
    if creating:
        from witdb_spark.sources.iceberg_transforms import (
            default_field_name,
            parse_partition_by,
            result_type,
        )

        schema0 = _spark_schema_to_iceberg(df)
        by_name = {f["name"]: f for f in schema0["fields"]}
        part_fields = []
        for i, entry in enumerate(partition_by or []):
            c, transform = parse_partition_by(entry)
            if c not in by_name:
                raise IcebergProtocolError(
                    f"partition column {c!r} not in the data"
                )
            result_type(transform, by_name[c]["type"])  # loud gate
            part_fields.append(
                {
                    "name": default_field_name(c, transform),
                    "transform": transform,
                    "source-id": by_name[c]["id"],
                    "field-id": 1000 + i,
                }
            )
        stage_schema = schema0
    else:
        pre_meta = _current_metadata(path)
        part_fields = _writable_part_fields(pre_meta)
        if partition_by is not None:
            from witdb_spark.sources.iceberg_transforms import (
                default_field_name,
                parse_partition_by,
            )

            declared = [pf["name"] for pf in part_fields]
            asked = [
                default_field_name(*parse_partition_by(e))
                for e in partition_by
            ]
            if asked != declared:
                raise IcebergProtocolError(
                    f"partition_by {partition_by} != table spec"
                    f" {declared}"
                )
        stage_schema = _table_schema(pre_meta)
    part_avro = _part_avro_fields(part_fields, stage_schema)
    staged = _stage_iceberg_data(df, path, part_fields, stage_schema)
    entries = [
        {"status": 1, "snapshot_id": None, "data_file": rec}
        for rec in staged
    ]

    from witdb_spark.sources.avro_codec import write_avro_file

    for _ in range(5):
        if mode == "create" and not os.path.exists(
            os.path.join(path, "metadata", "v1.metadata.json")
        ):
            meta, version, snap_id = None, 1, 1
            seq = 1
            prior_manifests: list[dict] = []
            schema = stage_schema
        else:
            meta = _current_metadata(path)
            # Same gates the DML path has: appending to a library-written
            # table that is format-v1, non-identity-partitioned, or
            # carries branch/tag refs would rebuild its metadata in a
            # shape library readers no longer trust ("refuse, never
            # misread" contract). Identity partitioning writes jar-free
            # since r10, bucket/truncate/temporal transforms since
            # late r10 (_writable_part_fields raises on the rest).
            if meta.get("format-version", 1) != 2:
                raise IcebergProtocolError(
                    f"{mode} on a format-v1 Iceberg table needs the"
                    " iceberg-spark-runtime jar"
                )
            if [pf["name"] for pf in _writable_part_fields(meta)] != [
                pf["name"] for pf in part_fields
            ]:
                raise IcebergProtocolError(
                    "partition spec changed concurrently — re-run"
                )
            if mode != "append":
                # appends are gate-exempt (r12): they delete nothing
                # and touch no other ref, so a diverged branch's
                # lineage stays intact — exactly why branch writes
                # are append-only
                _maintenance_gate(meta, mode)
            if [f["name"] for f in _table_schema(meta)["fields"]] != list(
                df.columns
            ):
                raise IcebergProtocolError(
                    f"schema mismatch: table has"
                    f" {[f['name'] for f in _table_schema(meta)['fields']]},"
                    f" data has {df.columns}"
                )
            schema = _table_schema(meta)
            snaps = meta.get("snapshots") or []
            snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
            seq = (meta.get("last-sequence-number") or 0) + 1
            hint = os.path.join(path, "metadata", "version-hint.text")
            version = (
                int(open(hint).read().strip()) + 1
                if os.path.exists(hint)
                else len(snaps) + 1
            )
            branch_head = None
            if branch is not None:
                ref = (meta.get("refs") or {}).get(branch)
                if ref is None or ref.get("type") != "branch":
                    raise IcebergProtocolError(
                        f"no branch {branch!r} — create it with"
                        " iceberg_create_ref(..., ref_type='branch')"
                    )
                branch_head = ref["snapshot-id"]
            prior_manifests = []
            if mode == "append" and snaps:
                if branch is not None:
                    cur = next(
                        s for s in snaps
                        if s["snapshot-id"] == branch_head
                    )
                else:
                    cur = _pick_snapshot(meta, None, None)
                _, prior_manifests = read_avro_file(
                    _resolve(path, cur["manifest-list"])
                )
        mpath = os.path.join(
            path, "metadata", f"m-{uuid.uuid4().hex}.avro"
        )
        write_avro_file(mpath, _entry_schema_for(part_avro), [
            dict(e, snapshot_id=snap_id) for e in entries
        ])
        # uuid in the name (real Iceberg does the same): two concurrent
        # writers compute the same snap_id from the same current
        # metadata, and a deterministic pre-commit name would let the
        # loser clobber the winner's manifest list BEFORE the
        # open-exclusive metadata commit decides the race
        mlist = os.path.join(
            path, "metadata", f"snap-{snap_id}-{uuid.uuid4().hex}.avro"
        )
        # stamp the new manifest with the next data sequence number
        # (v2): equality-delete scoping (data_seq < delete_seq) needs
        # appends to carry increasing sequences; prior manifests keep
        # theirs (None for pre-r9 commits -> data_seq defaults 0)
        manifests = [
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                # the spec these entries were STAGED under (the current
                # default); prior manifests keep their own spec-id —
                # partition evolution never rewrites them
                "partition_spec_id": (
                    0 if meta is None else meta.get("default-spec-id", 0)
                ),
                "content": 0,
                "added_snapshot_id": snap_id,
                "sequence_number": seq,
                "partitions": _partition_summaries(
                    entries, part_fields, schema
                ),
            }
        ] + [
            {**dict(m), "sequence_number": m.get("sequence_number")}
            for m in prior_manifests
        ]
        write_avro_file(mlist, _MANIFEST_FILE_SCHEMA_SEQ, manifests)
        # Carry every field the existing metadata has (sort orders,
        # properties, last-sequence-number, ...) — the gates above
        # guarantee the fields we DO rewrite are safe to rewrite; the
        # rest must pass through untouched for library readers.
        new_meta = dict(meta or {})
        if meta is None and properties:
            # e.g. write.delete.mode=merge-on-read flips
            # iceberg_delete_where to position-delete commits
            new_meta["properties"] = dict(properties)
        new_meta.update(
            {
                "format-version": 2,
                "table-uuid": (meta or {}).get(
                    "table-uuid", str(uuid.uuid4())
                ),
                "location": (meta or {}).get("location", path),
                "last-column-id": max(
                    (f["id"] for f in schema["fields"]),
                    default=(meta or {}).get("last-column-id", 0),
                ),
                "current-schema-id": schema.get("schema-id", 0),
                "schemas": (meta or {}).get("schemas") or [schema],
                "partition-specs": (meta or {}).get("partition-specs")
                or [{"spec-id": 0, "fields": part_fields}],
                "default-spec-id": (meta or {}).get("default-spec-id", 0),
                "last-partition-id": (meta or {}).get(
                    "last-partition-id",
                    max(
                        (pf["field-id"] for pf in part_fields),
                        default=999,
                    ),
                ),
                # spec v2 REQUIRED fields library parsers validate:
                # an unsorted order + the update timestamp
                "sort-orders": (meta or {}).get("sort-orders")
                or [{"order-id": 0, "fields": []}],
                "default-sort-order-id": (meta or {}).get(
                    "default-sort-order-id", 0
                ),
                "last-updated-ms": _now_ms_ice(),
                "current-snapshot-id": snap_id,
                "last-sequence-number": seq,
                "snapshots": ((meta or {}).get("snapshots") or [])
                + [
                    {
                        "snapshot-id": snap_id,
                        "timestamp-ms": _now_ms_ice(),
                        "sequence-number": seq,
                        "manifest-list": mlist,
                        # spec v2: summary with the operation key is
                        # required on every snapshot; summary_extra
                        # carries free-form keys (the streaming sink's
                        # epoch markers ride here, the same channel the
                        # iceberg library's Spark streaming sink uses)
                        "summary": {
                            "operation": (
                                "overwrite"
                                if mode == "overwrite"
                                else "append"
                            ),
                            **{
                                str(k): str(v)
                                for k, v in (summary_extra or {}).items()
                            },
                        },
                    }
                ],
            }
        )
        if branch is not None:
            # branch append: the new snapshot joins the table's
            # snapshot set with the BRANCH head as its parent; the ref
            # moves, main/current and the main snapshot-log stay put
            new_meta["snapshots"][-1]["parent-snapshot-id"] = branch_head
            new_meta["current-snapshot-id"] = (meta or {}).get(
                "current-snapshot-id"
            )
            new_meta["snapshot-log"] = list(
                (meta or {}).get("snapshot-log") or []
            )
            refs = dict(new_meta.get("refs") or {})
            refs[branch] = dict(
                refs[branch], **{"snapshot-id": snap_id}
            )
            new_meta["refs"] = refs
        else:
            # spec-shaped history + explicit-main sync (same rules the
            # _commit_metadata path applies)
            new_meta["snapshot-log"] = list(
                (meta or {}).get("snapshot-log") or []
            ) + [
                {
                    "timestamp-ms": new_meta["snapshots"][-1][
                        "timestamp-ms"
                    ],
                    "snapshot-id": snap_id,
                }
            ]
        _sync_main_ref(new_meta)
        target = os.path.join(
            path, "metadata", f"v{version}.metadata.json"
        )
        try:
            with open(target, "x") as f:
                json.dump(new_meta, f)
        except FileExistsError:
            continue  # lost the version race — re-read and retry
        with open(
            os.path.join(path, "metadata", "version-hint.text"), "w"
        ) as f:
            f.write(str(version))
        return snap_id
    raise IcebergProtocolError(f"{path}: lost 5 consecutive commit races")


# manifest-list schema carrying the v2 sequence_number that scopes
# which data files a delete applies to. Readers use
# .get("sequence_number") so lists in either shape read fine (the avro
# schema travels with the file).
_MANIFEST_FILE_SCHEMA_SEQ = {
    "type": "record", "name": "manifest_file",
    "fields": _MANIFEST_FILE_SCHEMA["fields"] + [
        {"name": "sequence_number", "type": ["null", "long"]},
    ],
}

# manifest-entry schema for EQUALITY delete files: data_file carries
# the spec's equality_ids (field 135) naming which table columns the
# delete rows compare on
_MANIFEST_ENTRY_SCHEMA_EQ = {
    "type": "record", "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2e",
            "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                {"name": "equality_ids", "type": [
                    "null", {"type": "array", "items": "int"},
                ]},
            ],
        }},
    ],
}


def iceberg_write_position_deletes(
    spark: SparkSession,
    path: str,
    deletes: list[tuple[str, int]],
) -> int:
    """Commit explicit (data file path, row ordinal) position deletes.
    Unpartitioned single-spec tables take the compact one-delete-file
    commit; partitioned or spec-evolved tables route through the
    distributed file-scoped writer (r12), which groups entries by
    their target's manifest spec."""
    meta = _current_metadata(path)
    specs = {s["spec-id"]: s for s in meta.get("partition-specs") or []}
    if any(s.get("fields") for s in specs.values()):
        from pyspark.sql import functions as F

        matched = spark.createDataFrame(
            [
                (_norm_file_path(_resolve(path, p)), int(pos))
                for p, pos in deletes
            ]
            or [("", 0)],
            "__file string, __pos long",
        ).filter(F.col("__file") != "")
        snap = _iceberg_posdelete_commit_df(spark, path, matched, None)
        if snap is None:
            return meta.get("current-snapshot-id")
        return snap
    return _iceberg_posdelete_commit(spark, path, deletes, None)


def _iceberg_posdelete_commit(
    spark: SparkSession,
    path: str,
    deletes: list[tuple[str, int]],
    data_adds: list[dict] | None,
) -> int:
    """Commit a v2 POSITION-delete snapshot jar-free: write the delete
    rows as a spec-shaped parquet file (columns file_path string,
    pos long — the reserved-field schema every Iceberg reader
    understands), wrap it in a content=1 delete manifest, and commit a
    snapshot whose manifest list carries the prior data manifests plus
    the delete manifest at the next sequence number. This is the
    merge-on-read DELETE the reference's Iceberg connector writes when
    the table's write.delete.mode is merge-on-read — row-targeted, no
    data-file rewrite, O(deleted rows) not O(matched files).
    ``deletes``: (data file path as stored in the table, row ordinal)
    pairs. Returns the committed snapshot id."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = _current_metadata(path)
    if meta.get("format-version", 1) != 2:
        raise IcebergProtocolError(
            "position deletes are a format-v2 feature — this table is v1"
        )
    specs = {s["spec-id"]: s for s in meta.get("partition-specs") or []}
    if specs.get(meta.get("default-spec-id", 0), {}).get("fields"):
        raise IcebergProtocolError(
            "position deletes on a partitioned Iceberg table need the"
            " iceberg-spark-runtime jar"
        )
    _maintenance_gate(meta, "write_position_deletes")
    if not deletes:
        return meta.get("current-snapshot-id")
    base_cur = meta.get("current-snapshot-id")
    cur_snap = _pick_snapshot(meta, None, None)
    _, prior = read_avro_file(_resolve(path, cur_snap["manifest-list"]))
    known = {
        _norm_file_path(p)
        for p, _ in _iceberg_scan(path)[0]
    }
    rows = sorted(
        (_norm_file_path(_resolve(path, p)), int(pos)) for p, pos in deletes
    )
    unknown = sorted({p for p, _ in rows} - known)
    if unknown:
        raise IcebergProtocolError(
            f"position delete targets unknown data files: {unknown[:3]}"
        )
    snaps = meta.get("snapshots") or []
    snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
    seq = (meta.get("last-sequence-number") or len(snaps)) + 1
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    dpath = os.path.join("data", f"delete-{uuid.uuid4().hex}.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array(
                    [p for p, _ in rows], type=pa.string()
                ),
                "pos": pa.array([i for _, i in rows], type=pa.int64()),
            }
        ),
        os.path.join(path, dpath),
    )
    return _commit_delete_snapshot(
        path, base_cur, prior, snap_id, seq, dpath, len(rows), None,
        data_adds=data_adds,
    )


def _iceberg_posdelete_commit_df(
    spark: SparkSession,
    path: str,
    matched,
    data_adds: list[dict] | None,
) -> int | None:
    """Distributed twin of _iceberg_posdelete_commit: ``matched`` is a
    DataFrame carrying (__file, __pos) row tags. FILE-SCOPED delete
    files — one spec-sorted (file_path, pos) parquet per target data
    file, the shape modern iceberg writers emit — are written BY THE
    EXECUTORS (one applyInPandas task per target); the driver collects
    only per-file descriptors, never row positions (the reference's
    merge sinks run in workers: core/trino-main/.../
    MergeWriterOperator.java). r11: PARTITIONED tables work — each
    delete entry carries its single target file's partition struct.
    r12: partition-spec EVOLUTION works — delete entries group by
    their TARGET's manifest spec-id and each spec gets its own
    spec-shaped delete manifest in the same snapshot (previously a
    loud multi-spec gate). Returns the committed snapshot id, or None
    when nothing matched (caller decides what a no-op returns)."""
    meta = _current_metadata(path)
    if meta.get("format-version", 1) != 2:
        raise IcebergProtocolError(
            "position deletes are a format-v2 feature — this table is v1"
        )
    specs = {s["spec-id"]: s for s in meta.get("partition-specs") or []}
    spec_id = meta.get("default-spec-id", 0)
    part_fields = specs.get(spec_id, {}).get("fields") or []
    _maintenance_gate(meta, "write_position_deletes")
    schema = _table_schema(meta)
    base_cur = meta.get("current-snapshot-id")
    cur_snap = _pick_snapshot(meta, None, None)
    _, prior = read_avro_file(_resolve(path, cur_snap["manifest-list"]))
    # validation stays O(touched files): distinct paths only
    touched = sorted(
        r["__file"]
        for r in matched.select("__file").distinct().collect()
    )
    if not touched:
        return None
    # one manifest walk: known file set + each file's partition struct
    # AND its manifest's spec-id (r12: delete entries are written under
    # the spec the TARGET was written under — partition evolution)
    part_by_file: dict[str, tuple[int, dict | None]] = {}
    for mf in prior:
        if mf.get("content", 0) != 0:
            continue
        mf_sid = mf.get("partition_spec_id", 0)
        _, entries = read_avro_file(_resolve(path, mf["manifest_path"]))
        for e in entries:
            if e.get("status", 1) == 2:
                continue
            rec = e["data_file"]
            if rec.get("content", 0) != 0:
                continue
            part_by_file[
                _norm_file_path(_resolve(path, rec["file_path"]))
            ] = (mf_sid, rec.get("partition"))
    unknown = sorted(
        p for p in touched
        if _norm_file_path(_resolve(path, p)) not in part_by_file
    )
    if unknown:
        raise IcebergProtocolError(
            f"position delete targets unknown data files: {unknown[:3]}"
        )
    bad = [p for p in touched if _norm_file_path(_resolve(path, p)) != p]
    if bad:
        # tags always come from norm_path_expr; anything else would
        # store a key readers cannot match
        raise IcebergProtocolError(
            f"unnormalized row-tag path: {bad[0]!r}"
        )
    snaps = meta.get("snapshots") or []
    snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
    seq = (meta.get("last-sequence-number") or len(snaps)) + 1
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    table_abs = os.path.abspath(path)

    def write_group(pdf):
        import os as _os
        import uuid as _uuid

        import pandas as _pd
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        fp = str(pdf["file_path"].iloc[0])
        pos = sorted(int(p) for p in pdf["pos"])
        rel = _os.path.join(
            "data", f"delete-{_uuid.uuid4().hex}.parquet"
        )
        _pq.write_table(
            _pa.table(
                {
                    "file_path": _pa.array(
                        [fp] * len(pos), type=_pa.string()
                    ),
                    "pos": _pa.array(pos, type=_pa.int64()),
                }
            ),
            _os.path.join(table_abs, rel),
        )
        return _pd.DataFrame(
            {
                "f": [fp],
                "rel": [rel],
                "nrows": [len(pos)],
                "nbytes": [
                    _os.path.getsize(_os.path.join(table_abs, rel))
                ],
            }
        )

    from pyspark.sql import functions as F

    per_file = (
        matched.select(
            F.col("__file").alias("file_path"),
            F.col("__pos").cast("long").alias("pos"),
        )
        .groupBy("file_path")
        .applyInPandas(
            write_group, "f string, rel string, nrows long, nbytes long"
        )
        .collect()
    )
    # group delete entries by the TARGET's spec-id: each spec gets its
    # own delete manifest whose entries carry that spec's struct shape
    # (r12 — partition evolution; previously a loud multi-spec gate)
    by_spec: dict[int, list[dict]] = {}
    for r in sorted(per_file, key=lambda r: r["rel"]):
        t_sid, struct = part_by_file[r["f"]]
        t_pf = specs.get(t_sid, {}).get("fields") or []
        rec = {
            "content": 1,
            "file_path": r["rel"],
            "file_format": "PARQUET",
            "record_count": r["nrows"],
            "file_size_in_bytes": r["nbytes"],
        }
        if t_pf:
            if struct is None or any(
                pf["name"] not in struct for pf in t_pf
            ):
                raise IcebergProtocolError(
                    f"position delete target {r['f']}: its manifest's"
                    f" spec {t_sid} declares fields its partition"
                    " struct lacks — inconsistent table metadata"
                )
            rec["partition"] = struct
        by_spec.setdefault(t_sid, []).append(rec)
    delete_groups = [
        (recs, specs.get(sid, {}).get("fields") or [], sid)
        for sid, recs in sorted(by_spec.items())
    ]
    return _commit_delete_snapshot(
        path, base_cur, prior, snap_id, seq, None, None, None,
        data_adds=data_adds,
        part_fields=part_fields,
        schema=schema,
        spec_id=spec_id,
        delete_groups=delete_groups,
    )


def _commit_delete_snapshot(
    path: str,
    base_cur,
    prior: list[dict],
    snap_id: int,
    seq: int,
    dpath: str,
    n_rows: int,
    equality_ids: list[int] | None,
    data_adds: list[dict] | None = None,
    delete_records: list[dict] | None = None,
    part_fields: list[dict] | None = None,
    schema: dict | None = None,
    spec_id: int = 0,
    delete_groups: list[tuple[list[dict], list[dict], int]] | None = None,
) -> int:
    """Shared tail of the two delete writers: delete manifest (content=1
    position / content=2 equality entry), manifest list at the next
    sequence number carrying the prior manifests, fenced metadata
    commit bumping last-sequence-number. ``data_adds``: optional ADDED
    data-file records committed in the SAME snapshot (MOR UPDATE =
    delete + insert atomically). ``dpath``/``n_rows`` may be parallel
    LISTS; ``delete_records`` (r11) supersedes them with complete
    data_file records — partitioned specs carry each entry's typed
    partition struct, encoded with the same partition-extended entry
    schema the data writer uses. ``delete_groups`` (r12, partition-spec
    EVOLUTION): [(records, part_fields, spec_id)] writes ONE delete
    manifest PER SPEC, each entry's struct encoded with its own spec's
    fields — targets under different specs commit atomically."""
    import uuid

    content = 2 if equality_ids else 1
    part_avro = (
        _part_avro_fields(part_fields, schema) if part_fields else []
    )
    if delete_groups is None:
        if delete_records is None:
            dfiles = (
                list(zip(dpath, n_rows))
                if isinstance(dpath, (list, tuple))
                else [(dpath, n_rows)]
            )
            delete_records = []
            for dp, nr in dfiles:
                data_file = {
                    "content": content,
                    "file_path": dp,
                    "file_format": "PARQUET",
                    "record_count": nr,
                    "file_size_in_bytes": os.path.getsize(
                        os.path.join(path, dp)
                    ),
                }
                if equality_ids:
                    data_file["equality_ids"] = list(equality_ids)
                delete_records.append(data_file)
        delete_groups = [(delete_records, part_fields or [], spec_id)]
    del_manifests = []
    for g_records, g_pf, g_sid in delete_groups:
        g_avro = _part_avro_fields(g_pf, schema) if g_pf else []
        entry_schema = (
            _MANIFEST_ENTRY_SCHEMA_EQ
            if equality_ids
            else _entry_schema_for(g_avro)
        )
        entries = [
            {"status": 1, "snapshot_id": snap_id, "data_file": rec}
            for rec in g_records
        ]
        mpath = os.path.join(
            path, "metadata", f"m-{uuid.uuid4().hex}.avro"
        )
        write_avro_file(mpath, entry_schema, entries)
        del_manifests.append(
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": g_sid,
                "content": 1,
                "added_snapshot_id": snap_id,
                "sequence_number": seq,
            }
        )
    data_manifests: list[dict] = []
    if data_adds:
        dm = os.path.join(
            path, "metadata", f"m-{uuid.uuid4().hex}.avro"
        )
        adds_entries = [
            {"status": 1, "snapshot_id": snap_id, "data_file": rec}
            for rec in data_adds
        ]
        write_avro_file(dm, _entry_schema_for(part_avro), adds_entries)
        data_manifests.append(
            {
                "manifest_path": dm,
                "manifest_length": os.path.getsize(dm),
                "partition_spec_id": spec_id,
                "content": 0,
                "added_snapshot_id": snap_id,
                "sequence_number": seq,
                "partitions": (
                    _partition_summaries(
                        adds_entries, part_fields, schema
                    )
                    if part_fields
                    else None
                ),
            }
        )
    mlist = os.path.join(
        path, "metadata", f"snap-{snap_id}-{uuid.uuid4().hex}.avro"
    )
    write_avro_file(mlist, _MANIFEST_FILE_SCHEMA_SEQ, del_manifests
                    + data_manifests + [
        {
            "manifest_path": m["manifest_path"],
            "manifest_length": m["manifest_length"],
            "partition_spec_id": m.get("partition_spec_id", 0),
            "content": m.get("content", 0),
            "added_snapshot_id": m.get("added_snapshot_id"),
            "sequence_number": m.get("sequence_number"),
            "partitions": m.get("partitions"),
        }
        for m in prior
    ])

    def build(cur: dict) -> dict:
        new = dict(cur)
        new["current-snapshot-id"] = snap_id
        new["last-sequence-number"] = seq
        new["last-updated-ms"] = _now_ms_ice()
        new["snapshots"] = (cur.get("snapshots") or []) + [
            {
                "snapshot-id": snap_id,
                "timestamp-ms": _now_ms_ice(),
                "sequence-number": seq,
                "manifest-list": mlist,
                "summary": {"operation": "delete"},
            }
        ]
        return new

    _commit_metadata(path, build, base_cur)
    return snap_id


def iceberg_write_equality_deletes(
    spark: SparkSession,
    path: str,
    rows: list[dict],
    columns: list[str] | None = None,
) -> int:
    """Commit a v2 EQUALITY-delete snapshot jar-free (reference
    plugin/trino-iceberg/.../delete/EqualityDeleteFilter read side;
    spec: 'Equality delete files identify deleted rows ... by one or
    more column values'): write the delete rows as a parquet file over
    the named table columns, wrap it in a content=2 delete manifest
    whose data_file carries the columns' field ids as equality_ids,
    and commit at the next sequence number. The delete applies to data
    files with data_seq STRICTLY below it — rows appended AFTER the
    delete with the same key values stay visible, which is what makes
    equality deletes the MOR upsert primitive. ``rows``: dicts of
    column -> value (None matches NULL, null-equals-null semantics);
    ``columns`` defaults to the first row's keys. Returns the
    committed snapshot id."""
    import glob
    import shutil
    import uuid

    meta = _current_metadata(path)
    if meta.get("format-version", 1) != 2:
        raise IcebergProtocolError(
            "equality deletes are a format-v2 feature — this table is v1"
        )
    specs = {s["spec-id"]: s for s in meta.get("partition-specs") or []}
    # spec 'Equality delete files': a delete file stored with an
    # UNPARTITIONED spec applies as a GLOBAL delete — so a partitioned
    # table takes equality deletes through any unpartitioned spec in
    # its history (tables created unpartitioned then evolved always
    # have one); partition-SCOPED equality deletes stay on the jar
    eq_spec_id = next(
        (
            sid
            for sid, s in sorted(specs.items())
            if not s.get("fields")
        ),
        None if specs else 0,
    )
    if eq_spec_id is None:
        raise IcebergProtocolError(
            "equality deletes on a partitioned Iceberg table need an"
            " UNPARTITIONED spec in partition-specs (the spec's global"
            " delete shape) — or the iceberg-spark-runtime jar for"
            " partition-scoped deletes"
        )
    _maintenance_gate(meta, "write_equality_deletes")
    if not rows:
        return meta.get("current-snapshot-id")
    cols = list(columns or rows[0].keys())
    fields = {f["name"]: f["id"] for f in _table_schema(meta)["fields"]}
    unknown = [c for c in cols if c not in fields]
    if unknown:
        raise IcebergProtocolError(
            f"equality delete names non-table columns: {unknown}"
        )
    bad = [r for r in rows if set(r) != set(cols)]
    if bad:
        raise IcebergProtocolError(
            f"equality delete rows must carry exactly {cols}:"
            f" {bad[:2]}"
        )
    base_cur = meta.get("current-snapshot-id")
    cur_snap = _pick_snapshot(meta, None, None)
    _, prior = read_avro_file(_resolve(path, cur_snap["manifest-list"]))
    snaps = meta.get("snapshots") or []
    snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
    seq = (meta.get("last-sequence-number") or len(snaps)) + 1
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    dpath = os.path.join("data", f"eqdelete-{uuid.uuid4().hex}.parquet")
    # stage through Spark so the delete columns carry the TABLE's types
    # (a pyarrow-inferred int32 vs bigint mismatch would silently
    # mis-compare for library readers)
    type_of = {
        f["name"]: _ice_type_ddl(f["type"])
        for f in _table_schema(meta)["fields"]
    }
    sdf = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows],
        ", ".join(f"`{c}` {type_of[c]}" for c in cols),
    ).coalesce(1)
    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    sdf.write.mode("overwrite").parquet(staging)
    part = sorted(glob.glob(os.path.join(staging, "part-*.parquet")))[0]
    shutil.move(part, os.path.join(path, dpath))
    shutil.rmtree(staging, ignore_errors=True)
    return _commit_delete_snapshot(
        path, base_cur, prior, snap_id, seq, dpath, len(rows),
        [fields[c] for c in cols],
        spec_id=eq_spec_id,
    )


def _iceberg_rewrite_matched(
    spark: SparkSession,
    path: str,
    matcher,
    rewrite,
    commit_on_no_match: bool = False,
    op: str = "COW DELETE/UPDATE",
) -> dict:
    """Copy-on-write file rewrite shared by DELETE/UPDATE/MERGE
    (reference iceberg connector COW write mode): scan the current
    snapshot with input_file_name(), rewrite ONLY the files ``matcher``
    flags (it receives the scan and returns the matching ``__sf``
    column), and commit a self-contained snapshot whose single manifest
    lists the kept files as EXISTING (status 0) entries plus the
    rewritten outputs as ADDED (status 1). Old files stay on disk for
    time travel. ``commit_on_no_match`` keeps going when no file
    matched — MERGE's pure-insert case still commits new files.
    Returns {'snapshot_id', 'files_rewritten'}."""
    import glob
    import shutil
    import uuid

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from witdb_spark.sources.avro_codec import write_avro_file
    from witdb_spark.sources.delta_log import _strip_uri

    meta = _current_metadata(path)
    base_snap = _pick_snapshot(meta, None, None)["snapshot-id"]
    # DML gates beyond the read path's: a library-written table may be
    # non-identity-partitioned or format-v1 — re-encoding its kept
    # entries through this module's manifest schema would silently drop
    # structure (corrupting the table for library readers) or KeyError
    # mid-commit. Refuse loudly instead. Partitioned rewrites run
    # jar-free since r10 (identity, then bucket/truncate/temporal
    # transforms late-r10): kept entries re-emit their partition
    # structs, rewritten survivors re-stage partitionBy with the
    # transform recomputed (_stage_iceberg_data).
    if meta.get("format-version", 1) != 2:
        raise IcebergProtocolError(
            f"{op} on a format-v1 Iceberg table needs the"
            " iceberg-spark-runtime jar"
        )
    part_fields = _writable_part_fields(meta)
    # one manifest walk serves both the scan list and the kept-entry
    # re-emit (iceberg_data_files would walk the same chain again)
    cur_snap = _pick_snapshot(meta, None, None)
    _, manifests = read_avro_file(_resolve(path, cur_snap["manifest-list"]))
    all_entries: list[tuple[dict, str]] = []  # (entry, abs data path)
    _needed = (
        "content", "file_path", "file_format",
        "record_count", "file_size_in_bytes",
    ) + (("partition",) if part_fields else ())
    for mf in manifests:
        if mf.get("content", 0) == 1:
            raise IcebergProtocolError(
                "Iceberg DELETE manifests present (v2 row-level deletes"
                " need merge-on-read) — add the iceberg-spark-runtime jar"
            )
        _, prior = read_avro_file(_resolve(path, mf["manifest_path"]))
        for e in prior:
            if e.get("status", 1) == 2:
                continue
            d = e["data_file"]
            if any(k not in d for k in _needed) or d.get("content", 0) != 0:
                raise IcebergProtocolError(
                    "manifest entry shape outside this module's writer"
                    " subset — add the iceberg-spark-runtime jar"
                )
            if str(d.get("file_format", "PARQUET")).upper() != "PARQUET":
                raise IcebergProtocolError(
                    "non-parquet Iceberg data file — add the"
                    " iceberg-spark-runtime jar"
                )
            all_entries.append(
                (e, os.path.abspath(_resolve(path, d["file_path"])))
            )
    files = [ap for _, ap in all_entries]
    cols = _schema_fields(meta)
    by_abs = {ap: ap for ap in files}
    if not files and not commit_on_no_match:
        return {"snapshot_id": base_snap, "files_rewritten": 0}
    if files:
        df = spark.read.parquet(*sorted(set(files))).withColumn(
            "__sf", F.input_file_name()
        )
    else:
        df = read_iceberg_snapshot(spark, path).withColumn(
            "__sf", F.lit("")
        )
    if matcher is None:
        # compaction: the matched set is definitionally ALL active
        # files, already known driver-side — no scan-and-collect pass,
        # no isin over every file URI, and zero-row files (invisible to
        # a row-derived matcher) are retired too
        matched_abs = set(by_abs)
        touched = df.drop("__sf").select(*cols)
    else:
        matched_uris = [
            r["__sf"] for r in matcher(df).distinct().collect()
        ]
        matched_abs = set()
        for u in matched_uris:
            ap = os.path.abspath(_strip_uri(u))
            if ap not in by_abs:
                raise IcebergProtocolError(
                    f"scanned file {ap} not in the current snapshot"
                )
            matched_abs.add(ap)
        if not matched_abs and not commit_on_no_match:
            return {"snapshot_id": base_snap, "files_rewritten": 0}
        touched = (
            df.where(F.col("__sf").isin(matched_uris))
            if matched_uris
            else df.limit(0)
        ).drop("__sf").select(*cols)
    survivors = rewrite(touched).select(*cols)
    snaps = meta.get("snapshots") or []
    snap_id = max(s["snapshot-id"] for s in snaps) + 1
    entries = [
        {"status": 1, "snapshot_id": snap_id, "data_file": rec}
        for rec in _stage_iceberg_data(
            survivors, path, part_fields, _table_schema(meta)
        )
    ]
    if not entries and not matched_abs:
        # MERGE with nothing to insert and nothing matched: no-op
        return {"snapshot_id": base_snap, "files_rewritten": 0}
    # kept files: the walked entries whose file survives, re-emitted as
    # EXISTING with their original counts
    for e, ap in all_entries:
        if ap not in matched_abs:
            entries.append(dict(e, status=0, snapshot_id=snap_id))

    mpath = os.path.join(path, "metadata", f"m-{uuid.uuid4().hex}.avro")
    write_avro_file(
        mpath,
        _entry_schema_for(
            _part_avro_fields(part_fields, _table_schema(meta))
        ),
        entries,
    )
    mlist = os.path.join(
        path, "metadata", f"snap-{snap_id}-{uuid.uuid4().hex}.avro"
    )
    write_avro_file(mlist, _MANIFEST_FILE_SCHEMA, [
        {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": meta.get("default-spec-id", 0),
            "content": 0,
            "added_snapshot_id": snap_id,
            "partitions": _partition_summaries(
                entries, part_fields, _table_schema(meta)
            ),
        }
    ])
    new_meta = dict(
        meta,
        **{
            "current-snapshot-id": snap_id,
            "last-updated-ms": _now_ms_ice(),
            "snapshots": snaps
            + [
                {
                    "snapshot-id": snap_id,
                    "timestamp-ms": _now_ms_ice(),
                    "manifest-list": mlist,
                    "summary": {"operation": "overwrite"},
                }
            ],
        },
    )
    hint = os.path.join(path, "metadata", "version-hint.text")
    for _ in range(5):
        cur = _current_metadata(path)
        if _pick_snapshot(cur, None, None)["snapshot-id"] != base_snap:
            raise IcebergProtocolError(
                f"{path}: concurrent commit during COW rewrite —"
                " rewritten files are stale; re-run the statement"
            )
        version = (
            int(open(hint).read().strip()) + 1
            if os.path.exists(hint)
            else len(snaps) + 1
        )
        target = os.path.join(path, "metadata", f"v{version}.metadata.json")
        try:
            with open(target, "x") as f:
                json.dump(new_meta, f)
        except FileExistsError:
            continue  # version race with a reader-visible commit; recheck
        with open(hint, "w") as f:
            f.write(str(version))
        return {"snapshot_id": snap_id, "files_rewritten": len(matched_abs)}
    raise IcebergProtocolError(f"{path}: lost 5 consecutive commit races")


def iceberg_delete_where(
    spark: SparkSession, path: str, predicate_sql: str
) -> dict:
    """DELETE FROM ... WHERE. Mode follows the table's own
    write.delete.mode property, the same switch the reference honors:
    'merge-on-read' commits a POSITION-delete snapshot (row-targeted,
    no file rewrite); default 'copy-on-write' rewrites files
    containing matches without the matching rows — a file whose rows
    ALL match simply disappears from the new snapshot. Prior snapshots
    still see the old files (time travel)."""
    from pyspark.sql import functions as F

    meta = _current_metadata(path)
    mode = (meta.get("properties") or {}).get(
        "write.delete.mode", "copy-on-write"
    )
    if mode == "merge-on-read":
        # matched positions never reach the driver — the sorted delete
        # parquet files are written by the executors
        matched = read_iceberg_snapshot(
            spark, path, _row_tags=True
        ).where(predicate_sql)
        snap = _iceberg_posdelete_commit_df(spark, path, matched, None)
        if snap is None:
            return {
                "snapshot_id": meta.get("current-snapshot-id"),
                "files_rewritten": 0,
            }
        return {"snapshot_id": snap, "files_rewritten": 0}
    return _iceberg_rewrite_matched(
        spark, path,
        lambda df: df.where(predicate_sql).select("__sf"),
        lambda rows: rows.filter(f"NOT ({predicate_sql})"),
    )


def iceberg_update_where(
    spark: SparkSession,
    path: str,
    predicate_sql: str,
    assignments: dict[str, str],
) -> dict:
    """UPDATE ... SET ... WHERE. write.update.mode=merge-on-read
    commits ONE snapshot carrying a position-delete manifest that
    shadows the matched rows AND a data manifest with their
    post-update images (update = delete + insert atomically); default
    copy-on-write rewrites matched files. Every RHS and the predicate
    evaluate against the PRE-update row (delta_log._apply_assignments,
    the rule all three COW paths share)."""
    from witdb_spark.sources.delta_log import _apply_assignments

    meta = _current_metadata(path)
    if (meta.get("properties") or {}).get(
        "write.update.mode"
    ) == "merge-on-read":
        tagged = read_iceberg_snapshot(spark, path, _row_tags=True)
        matched = tagged.where(predicate_sql)
        if matched.isEmpty():
            return {
                "snapshot_id": meta.get("current-snapshot-id"),
                "files_rewritten": 0,
            }
        updated = _apply_assignments(
            matched.drop("__file", "__pos"),
            predicate_sql,
            assignments,
            IcebergProtocolError,
        )
        # the shared partition-aware staging (r11): post-update images
        # land in the table's spec layout with partition structs, so
        # MOR UPDATE works on partitioned tables too
        specs = {
            s["spec-id"]: s for s in meta.get("partition-specs") or []
        }
        pfs = specs.get(meta.get("default-spec-id", 0), {}).get(
            "fields"
        ) or []
        data_adds = _stage_iceberg_data(
            updated, path, pfs, _table_schema(meta)
        )
        snap = _iceberg_posdelete_commit_df(
            spark, path, matched, data_adds
        )
        return {"snapshot_id": snap, "files_rewritten": 0}
    return _iceberg_rewrite_matched(
        spark, path,
        lambda df: df.where(predicate_sql).select("__sf"),
        lambda rows: _apply_assignments(
            rows, predicate_sql, assignments, IcebergProtocolError
        ),
    )


def iceberg_merge_into(
    spark: SparkSession,
    path: str,
    source,
    on: list[str],
    **merge_kwargs,
) -> dict:
    """MERGE INTO an Iceberg table, file-level copy-on-write (reference
    iceberg connector MERGE): any file containing a key-matched row is
    rewritten through sources/merge.merge_into applied to just those
    files' rows plus the whole source — a source row matching a row in
    an untouched file is impossible (that file would be matched), so
    unmatched files stay as EXISTING entries and pure inserts commit as
    plain adds (commit_on_no_match). write.merge.mode=merge-on-read
    routes to ONE snapshot shadowing the matched-key rows with a
    position-delete manifest and appending their merged images + the
    inserts (r9). Accepts merge_into's clause kwargs
    (when_matched_update / when_matched_delete / insert_not_matched /
    the r9 conditional + projected-insert kwargs)."""
    from witdb_spark.sources.merge import merge_into

    meta = _current_metadata(path)
    if (meta.get("properties") or {}).get(
        "write.merge.mode"
    ) == "merge-on-read":
        tagged = read_iceberg_snapshot(spark, path, _row_tags=True)
        matched = tagged.join(
            source.select(*on).distinct(), on=on, how="left_semi"
        )
        has_matches = not matched.isEmpty()
        survivors = merge_into(
            matched.drop("__file", "__pos"), source, on, **merge_kwargs
        )
        if not has_matches and survivors.isEmpty():
            return {
                "snapshot_id": meta.get("current-snapshot-id"),
                "files_rewritten": 0,
            }
        if not has_matches:
            # pure insert: nothing to shadow — plain append staged
            # directly from the survivors frame. (Staging + moving
            # into data/ and THEN appending would commit a second
            # copy and orphan the moved files — write_iceberg stages
            # its own.)
            snap = write_iceberg(spark, survivors, path, mode="append")
            return {"snapshot_id": snap, "files_rewritten": 0}
        # partition-aware staging (r11) — see iceberg_update_where
        specs = {
            s["spec-id"]: s for s in meta.get("partition-specs") or []
        }
        pfs = specs.get(meta.get("default-spec-id", 0), {}).get(
            "fields"
        ) or []
        data_adds = _stage_iceberg_data(
            survivors, path, pfs, _table_schema(meta)
        )
        snap = _iceberg_posdelete_commit_df(
            spark, path, matched, data_adds
        )
        return {"snapshot_id": snap, "files_rewritten": 0}
    return _iceberg_rewrite_matched(
        spark, path,
        lambda df: df.join(
            source.select(*on).distinct(), on=on, how="left_semi"
        ).select("__sf"),
        lambda rows: merge_into(rows, source, on, **merge_kwargs),
        commit_on_no_match=True,
        op="MERGE",
    )


def _now_ms_ice() -> int:
    import time

    return int(time.time() * 1000)


def iceberg_set_properties(
    spark: SparkSession, path: str, properties: dict[str, str]
) -> None:
    """ALTER TABLE ... SET PROPERTIES as a metadata-only commit
    (reference trino-iceberg setTableProperties): merge into the
    metadata's ``properties`` map — the way write.delete.mode /
    write.merge.mode / write.update.mode flip to merge-on-read on an
    EXISTING table. A value of None unsets the key. ``partitioning``
    is spec evolution — route it through iceberg_evolve_spec."""
    if "partitioning" in properties:
        raise IcebergProtocolError(
            "'partitioning' is spec evolution — use"
            " iceberg_evolve_spec / ALTER TABLE ... SET PROPERTIES"
            " partitioning = ARRAY[...]"
        )
    meta = _current_metadata(path)

    def build(cur: dict) -> dict:
        new = dict(cur)
        props = dict(new.get("properties") or {})
        for k, v in properties.items():
            if v is None:
                props.pop(k, None)
            else:
                props[k] = str(v)
        new["properties"] = props
        new["last-updated-ms"] = _now_ms_ice()
        return new

    _commit_metadata(path, build, meta.get("current-snapshot-id"))


def iceberg_truncate(spark: SparkSession, path: str) -> int:
    """TRUNCATE TABLE (reference TruncateTableTask + the iceberg
    connector's executeDelete-with-no-filter shape): commit a snapshot
    whose manifest list is EMPTY — no file rewrite, no data deletion;
    prior snapshots still time-travel. Returns the new snapshot id."""
    import uuid as _uuid

    meta = _current_metadata(path)
    _maintenance_gate(meta, "truncate")
    snaps = meta.get("snapshots") or []
    snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
    seq = (meta.get("last-sequence-number") or len(snaps)) + 1
    mlist = os.path.join(
        path, "metadata", f"snap-{snap_id}-{_uuid.uuid4().hex}.avro"
    )
    write_avro_file(mlist, _MANIFEST_FILE_SCHEMA_SEQ, [])

    def build(cur: dict) -> dict:
        new = dict(cur)
        new["current-snapshot-id"] = snap_id
        new["last-sequence-number"] = seq
        new["last-updated-ms"] = _now_ms_ice()
        new["snapshots"] = (cur.get("snapshots") or []) + [
            {
                "snapshot-id": snap_id,
                "timestamp-ms": _now_ms_ice(),
                "sequence-number": seq,
                "manifest-list": mlist,
                "summary": {"operation": "delete"},
            }
        ]
        return new

    _commit_metadata(path, build, meta.get("current-snapshot-id"))
    return snap_id


def iceberg_create_ref(
    path: str,
    name: str,
    ref_type: str = "tag",
    snapshot_id: int | None = None,
) -> int:
    """Create (or move) a named REF — a tag or branch (spec 'Refs';
    the reference's iceberg connector reads them as `FOR VERSION AS OF
    '<name>'`): one metadata commit adds ``refs[name] = {snapshot-id,
    type}`` pointing at ``snapshot_id`` (default: current). Snapshots
    a ref points at are protected from expire_snapshots. Returns the
    referenced snapshot id."""
    if ref_type not in ("tag", "branch"):
        raise ValueError("ref_type must be 'tag' or 'branch'")
    if name == "main":
        raise IcebergProtocolError(
            "'main' is the implicit current branch — use"
            " rollback_to_snapshot to move it"
        )
    meta = _current_metadata(path)
    base_cur = meta.get("current-snapshot-id")
    sid = base_cur if snapshot_id is None else int(snapshot_id)
    if all(
        s["snapshot-id"] != sid for s in meta.get("snapshots") or []
    ):
        raise ValueError(f"no Iceberg snapshot {sid}")

    def build(cur: dict) -> dict:
        new = dict(cur)
        refs = dict(new.get("refs") or {})
        refs[name] = {"snapshot-id": sid, "type": ref_type}
        new["refs"] = refs
        new["last-updated-ms"] = _now_ms_ice()
        return new

    _commit_metadata(path, build, base_cur)
    return sid


def iceberg_drop_ref(path: str, name: str) -> None:
    """Drop a named tag/branch (its snapshot becomes expirable)."""
    meta = _current_metadata(path)
    if name not in (meta.get("refs") or {}):
        raise ValueError(f"no ref {name!r}")

    def build(cur: dict) -> dict:
        new = dict(cur)
        refs = dict(new.get("refs") or {})
        refs.pop(name, None)
        new["refs"] = refs
        new["last-updated-ms"] = _now_ms_ice()
        return new

    _commit_metadata(path, build, meta.get("current-snapshot-id"))


def iceberg_incremental_scan(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental APPEND scan — the spec's incremental-read primitive
    (Iceberg spec 'Incremental processing'; Spark's own
    start-snapshot-id/end-snapshot-id read options): the rows of data
    files ADDED by each snapshot after ``from_snapshot_id`` up to and
    including ``to_snapshot_id`` (default: current). Exclusive start,
    inclusive end — consumers chain calls by passing the last snapshot
    they saw. Every snapshot in the range must be an append (overwrite
    /delete/replace commits change or remove rows, which an
    append-only consumer cannot represent) — anything else raises,
    the same contract the library enforces. Each output row carries
    ``_snapshot_id``: the committing snapshot."""
    from pyspark.sql import functions as F

    meta = _current_metadata(path)
    snaps = sorted(
        meta.get("snapshots") or [],
        key=lambda s: (s["timestamp-ms"], s["snapshot-id"]),
    )
    # branch commits (r12) interleave in the snapshots list by
    # timestamp but are NOT part of main's lineage — exclude them so a
    # branch append never leaks into a main incremental range
    main_ids = _main_ancestry_ids(meta)
    if main_ids is not None:
        snaps = [s for s in snaps if s["snapshot-id"] in main_ids]
    by_id = {s["snapshot-id"]: s for s in snaps}
    if from_snapshot_id not in by_id:
        raise IcebergProtocolError(
            f"unknown from snapshot {from_snapshot_id}"
        )
    end_id = (
        meta.get("current-snapshot-id")
        if to_snapshot_id is None
        else int(to_snapshot_id)
    )
    if end_id not in by_id:
        raise IcebergProtocolError(f"unknown to snapshot {end_id}")
    order = [s["snapshot-id"] for s in snaps]
    lo, hi = order.index(from_snapshot_id), order.index(end_id)
    if hi < lo:
        raise IcebergProtocolError(
            "to snapshot precedes from snapshot"
        )
    cols = _schema_fields(meta)
    pieces: list[DataFrame] = []
    for sid in order[lo + 1 : hi + 1]:
        s = by_id[sid]
        op = str((s.get("summary") or {}).get("operation") or "")
        if op != "append":
            raise IcebergProtocolError(
                f"snapshot {sid} is {op or 'unknown'!r} — incremental"
                " scans cover APPEND-only ranges (read the full"
                " snapshot instead)"
            )
        _, manifests = read_avro_file(
            _resolve(path, s["manifest-list"])
        )
        added: list[str] = []
        for m in manifests:
            if m.get("content", 0) != 0:
                continue
            if (
                m.get("added_snapshot_id") is not None
                and m["added_snapshot_id"] != sid
            ):
                continue  # carried manifest: nothing added here
            _, entries = read_avro_file(
                _resolve(path, m["manifest_path"])
            )
            for e in entries:
                if e.get("status", 1) != 1:  # ADDED entries only
                    continue
                if (
                    e.get("snapshot_id") is not None
                    and e["snapshot_id"] != sid
                ):
                    continue
                added.append(_resolve(path, e["data_file"]["file_path"]))
        if not added:
            continue
        pieces.append(
            spark.read.parquet(*sorted(set(added)))
            .select(*cols)
            .withColumn("_snapshot_id", F.lit(sid).cast("bigint"))
        )
    if not pieces:
        ddl = ", ".join(
            f"`{f['name']}` {_ice_type_ddl(f['type'])}"
            for f in _table_schema(meta)["fields"]
        )
        return local_frame(spark, [], ddl).withColumn(
            "_snapshot_id", F.lit(None).cast("bigint")
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def iceberg_snapshots(path: str) -> list[dict]:
    """Snapshot history (reference `table$snapshots` metadata table)."""
    meta = _current_metadata(path)
    return [
        {
            "snapshot_id": s["snapshot-id"],
            "timestamp_ms": s["timestamp-ms"],
            "manifest_list": s["manifest-list"],
        }
        for s in meta.get("snapshots") or []
    ]


def _maintenance_gate(meta: dict, proc: str) -> None:
    """Gate shared by the writers/maintenance procedures. r11: the
    blanket branch/tag ``refs`` refusal is gone — refs are first-class
    now (iceberg_create_ref/iceberg_drop_ref, ref= reads, $refs), the
    writers only ever advance the implicit main, and
    expire_snapshots RETAINS every ref'd snapshot, so a named ref's
    reader always still resolves. r12: plain APPENDS are gate-exempt
    (they delete nothing and touch no other ref) and branch appends
    route through write_iceberg(branch=...); what still refuses with a
    DIVERGED branch present is the destructive/maintenance surface —
    overwrite, row-level deletes, expire, rollback, optimize — where
    the jar's branch-aware retention would be needed to not strand the
    branch's lineage."""
    cur = meta.get("current-snapshot-id")
    snaps = {s["snapshot-id"] for s in meta.get("snapshots") or []}
    for name, r in (meta.get("refs") or {}).items():
        if (
            r.get("type") == "branch"
            and name != "main"
            and r.get("snapshot-id") in snaps
            and r.get("snapshot-id") != cur
        ):
            raise IcebergProtocolError(
                f"{proc} on a table with the diverged branch {name!r}"
                " needs the iceberg-spark-runtime jar (branch-aware"
                " retention); tags and appends are fine"
            )


def _sync_main_ref(new_meta: dict) -> None:
    """Keep an EXPLICIT ``main`` ref pointing at the new current
    snapshot (in place): library readers resolve main from the ref,
    so a commit that moves current-snapshot-id must move the ref with
    it — what the library's own writers do. Named tags/branches are
    never touched."""
    refs = new_meta.get("refs")
    cur = new_meta.get("current-snapshot-id")
    if (
        refs
        and "main" in refs
        and cur is not None
        and refs["main"].get("snapshot-id") != cur
    ):
        refs = dict(refs)
        refs["main"] = dict(refs["main"], **{"snapshot-id": cur})
        new_meta["refs"] = refs


def _commit_metadata(path: str, build_new_meta, base_cur_id) -> dict:
    """The open-exclusive metadata commit shared by the maintenance
    procedures: re-read the current metadata each attempt, fence on the
    current snapshot id (a commit landing mid-procedure must abort the
    procedure, not be silently erased from history), pick the next
    version from the hint or the existing v*.metadata.json files, and
    put-if-absent. ``build_new_meta(cur_meta)`` derives the metadata to
    write from the freshly-read state."""
    mdir = os.path.join(path, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    for _ in range(5):
        cur = _current_metadata(path)
        if cur.get("current-snapshot-id") != base_cur_id:
            raise IcebergProtocolError(
                f"{path}: concurrent commit during the maintenance"
                " procedure — re-run it"
            )
        new_meta = build_new_meta(cur)
        # spec-shaped snapshot-log: every commit that moves
        # current-snapshot-id appends a history entry (what the
        # library writes; feeds the $history metadata table). Builders
        # that already managed the log (rollback truncation) win.
        new_cur = new_meta.get("current-snapshot-id")
        if (
            new_cur is not None
            and new_cur != cur.get("current-snapshot-id")
            and new_meta.get("snapshot-log") == cur.get("snapshot-log")
        ):
            ts = next(
                (
                    s["timestamp-ms"]
                    for s in new_meta.get("snapshots") or []
                    if s["snapshot-id"] == new_cur
                ),
                _now_ms_ice(),
            )
            new_meta["snapshot-log"] = list(
                cur.get("snapshot-log") or []
            ) + [{"timestamp-ms": ts, "snapshot-id": new_cur}]
        _sync_main_ref(new_meta)
        if os.path.exists(hint):
            version = int(open(hint).read().strip()) + 1
        else:
            existing = [
                int(m.group(1))
                for m in (
                    re.match(r"v(\d+)\.metadata\.json$", f)
                    for f in os.listdir(mdir)
                )
                if m
            ]
            version = max(existing, default=0) + 1
        target = os.path.join(mdir, f"v{version}.metadata.json")
        try:
            with open(target, "x") as f:
                json.dump(new_meta, f)
        except FileExistsError:
            continue  # version race — re-read and re-fence
        with open(hint, "w") as f:
            f.write(str(version))
        return new_meta
    raise IcebergProtocolError(f"{path}: lost 5 consecutive commit races")


def _manifest_file_paths(
    path: str, mpaths: list[str], spark=None
) -> dict[str, list[str]]:
    """manifest ABS path -> [entry data-file ABS paths] (ALL entry
    statuses — a DELETED entry's file may still exist and is still
    referenced). Decodes on executors when spark is given and the
    manifest count clears _DIST_MANIFEST_THRESHOLD (r14 — the
    maintenance twin of _scan_manifests_distributed: expire/orphan
    walks over thousands of manifests were serial driver-side avro)."""
    mpaths = sorted(set(mpaths))
    if spark is None or len(mpaths) < _DIST_MANIFEST_THRESHOLD:
        out: dict[str, list[str]] = {}
        for mp in mpaths:
            _, entries = read_avro_file(mp)
            out[mp] = [
                os.path.abspath(
                    _resolve(path, e["data_file"]["file_path"])
                )
                for e in entries
            ]
        return out
    bc = spark.sparkContext.broadcast(mpaths)
    n = len(mpaths)

    def decode(batches, _path=path):
        import pandas as _pd

        from witdb_spark.sources.iceberg_meta import (
            _resolve as _res,
            read_avro_file as _raf,
        )

        for pdf in batches:
            ms, fs = [], []
            for i in pdf["id"]:
                mp = bc.value[int(i)]
                _, entries = _raf(mp)
                for e in entries:
                    ms.append(mp)
                    fs.append(
                        os.path.abspath(
                            _res(_path, e["data_file"]["file_path"])
                        )
                    )
            yield _pd.DataFrame({"m": ms, "f": fs})

    rows = (
        spark.range(0, n, 1, min(n, 64))
        .mapInPandas(decode, "m string, f string")
        .collect()
    )
    bc.unpersist()
    out = {mp: [] for mp in mpaths}
    for r in rows:
        out[r["m"]].append(r["f"])
    return out


def iceberg_expire_snapshots(path: str, keep_last: int = 1, spark=None) -> dict:
    """Retention maintenance (reference iceberg connector
    expire_snapshots table procedure): keep the most recent
    ``keep_last`` snapshots (always including the current one), delete
    the files only expired snapshots reference — manifest lists,
    manifests, and data files — and commit a new metadata version
    whose history lists just the kept snapshots. Time travel to an
    expired snapshot becomes an error, as it should."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    meta = _current_metadata(path)
    _maintenance_gate(meta, "expire_snapshots")
    snaps = sorted(
        meta.get("snapshots") or [], key=lambda s: s["snapshot-id"]
    )
    cur_id = meta.get("current-snapshot-id")
    # spec: snapshots referenced by a branch/tag are retained by the
    # reference's retention policies regardless of count-based expiry
    ref_ids = {
        r.get("snapshot-id")
        for r in (meta.get("refs") or {}).values()
        if r.get("snapshot-id") is not None
    }
    kept_ids = {
        s["snapshot-id"] for s in snaps[-keep_last:]
    } | ref_ids
    kept = [s for s in snaps if s["snapshot-id"] in kept_ids]
    if cur_id is not None and all(
        s["snapshot-id"] != cur_id for s in kept
    ):
        raise IcebergProtocolError(
            "expire_snapshots would drop the CURRENT snapshot"
        )
    expired = [s for s in snaps if s["snapshot-id"] not in kept_ids]
    if not expired:
        return {"expired_snapshots": 0, "deleted_files": 0}

    def _lists_and_manifests(snap_list):
        mlists, mpaths = set(), set()
        for s in snap_list:
            ml = _resolve(path, s["manifest-list"])
            mlists.add(os.path.abspath(ml))
            _, manifests = read_avro_file(ml)
            for mf in manifests:
                mpaths.add(
                    os.path.abspath(_resolve(path, mf["manifest_path"]))
                )
        return mlists, mpaths

    keep_ml, keep_m = _lists_and_manifests(kept)
    exp_ml, exp_m = _lists_and_manifests(expired)
    # ONE decode pass over the union (append chains re-list the same
    # manifests in every snapshot — dedup makes the walk linear), on
    # executors when a session is provided (r14)
    by_manifest = _manifest_file_paths(
        path, sorted(keep_m | exp_m), spark
    )
    keep_d = {p for m in keep_m for p in by_manifest[m]}
    exp_d = {p for m in exp_m for p in by_manifest[m]}
    doomed = (exp_ml - keep_ml) | (exp_m - keep_m) | (exp_d - keep_d)
    kept_ids = {s["snapshot-id"] for s in kept}

    def build(cur: dict) -> dict:
        new = dict(cur, snapshots=kept)
        if "snapshot-log" in new:
            new["snapshot-log"] = [
                e
                for e in new["snapshot-log"]
                if e.get("snapshot-id") in kept_ids
            ]
        return new

    _commit_metadata(path, build, cur_id)
    deleted = 0
    for p in sorted(doomed):
        if os.path.exists(p):
            os.remove(p)
            deleted += 1
    return {"expired_snapshots": len(expired), "deleted_files": deleted}


def iceberg_remove_orphan_files(
    path: str, retention_ms: int = 7 * 24 * 3600 * 1000, spark=None
) -> dict:
    """remove_orphan_files (reference iceberg connector
    procedure/RemoveOrphanFilesTableProcedure.java): delete files
    under the table location that NO snapshot in the current metadata
    references — leftovers of failed/raced commits and task retries —
    and that are older than ``retention_ms`` (the reference's
    retention_threshold, default 7d; the age guard keeps in-flight
    writers' freshly staged files safe). Referenced = every
    snapshot's manifest list, every manifest they list, every
    data/delete file those carry, EVERY *.metadata.json in the
    metadata dir (regardless of naming — library writers use
    <seq>-<uuid>.metadata.json, not v<N>; the reference protects all
    reachable metadata via ReachableFileUtil.metadataFileLocations),
    version-hint.text, and the statistics / partition-statistics
    puffin files of every metadata version — not just the current
    one. Metadata commits are NOT made — orphans are by definition
    outside the metadata graph."""
    import time as _time

    _current_metadata(path)  # existence gate: refuse on a non-table
    root = os.path.abspath(path)
    referenced: set[str] = set()
    mdir = os.path.join(root, "metadata")
    for f in os.listdir(mdir):
        if f.endswith(".metadata.json") or f == "version-hint.text":
            full = os.path.abspath(os.path.join(mdir, f))
            referenced.add(full)
            if f == "version-hint.text":
                continue
            # Statistics of EVERY metadata version stay protected —
            # a rolled-back table's non-current puffin files are
            # reachable history, not orphans.
            try:
                hist = json.load(open(full))
            except (OSError, ValueError):
                continue
            for key in ("statistics", "partition-statistics"):
                for st in hist.get(key) or []:
                    sp = st.get("statistics-path") or st.get(
                        "partition-statistics-path"
                    )
                    if sp:
                        referenced.add(os.path.abspath(_resolve(path, sp)))
            for entry in hist.get("metadata-log") or []:
                mf = entry.get("metadata-file")
                if mf:
                    referenced.add(os.path.abspath(_resolve(path, mf)))
    meta = _current_metadata(path)
    mpaths: set[str] = set()
    for s in meta.get("snapshots") or []:
        ml = os.path.abspath(_resolve(path, s["manifest-list"]))
        referenced.add(ml)
        _, manifests = read_avro_file(ml)
        for mf in manifests:
            mpaths.add(
                os.path.abspath(_resolve(path, mf["manifest_path"]))
            )
    referenced |= mpaths
    # one deduplicated decode pass over every live manifest —
    # executor-parallel when a session is provided (r14)
    for files in _manifest_file_paths(path, sorted(mpaths), spark).values():
        referenced.update(files)
    cutoff = _time.time() - retention_ms / 1000.0
    scanned = deleted = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            fp = os.path.abspath(os.path.join(dirpath, f))
            scanned += 1
            if fp in referenced:
                continue
            if os.path.getmtime(fp) >= cutoff:
                continue  # young file: a concurrent writer may own it
            os.remove(fp)
            deleted += 1
    return {"scanned_files": scanned, "deleted_files": deleted}


def iceberg_rollback_to_snapshot(path: str, snapshot_id: int) -> int:
    """CALL system.rollback_to_snapshot (the reference iceberg
    connector's procedure, RollbackToSnapshotProcedure.java): point the
    table back at an earlier snapshot by committing a new metadata
    version with current-snapshot-id set to it. History is preserved —
    this is a new commit, not an erasure."""
    meta = _current_metadata(path)
    _maintenance_gate(meta, "rollback_to_snapshot")
    snaps = meta.get("snapshots") or []
    if all(s["snapshot-id"] != snapshot_id for s in snaps):
        raise IcebergProtocolError(
            f"snapshot {snapshot_id} not in table history"
        )
    _commit_metadata(
        path,
        lambda cur: dict(cur, **{"current-snapshot-id": int(snapshot_id)}),
        meta.get("current-snapshot-id"),
    )
    return snapshot_id


def iceberg_fast_forward(path: str, branch: str, to: str) -> dict:
    """CALL system.fast_forward (trino-iceberg's own procedure
    spelling, procedure/FastForwardProcedure semantics): move
    ``branch`` forward to the head of ``to`` when the move is a pure
    FAST-FORWARD — ``branch``'s current head must be an ancestor of
    ``to``'s head (walked via parent-snapshot-id). This publishes
    work staged on a branch (iceberg_create_ref + branch appends)
    back to main as one metadata commit: no snapshot is rewritten or
    removed, history is preserved, and main's readers immediately
    serve the branch's lineage. A DIVERGED branch (its head off
    ``to``'s lineage) refuses loudly — a true merge/cherry-pick
    rewrites snapshots and needs the iceberg library. 'main' is
    accepted on either side (the implicit current branch). Returns
    {'branch', 'previous_head', 'current_head'}."""
    meta = _current_metadata(path)
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots") or []}
    refs = meta.get("refs") or {}

    def head_of(name: str):
        if name == "main":
            return meta.get("current-snapshot-id")
        r = refs.get(name)
        if r is None or r.get("type") != "branch":
            raise IcebergProtocolError(
                f"no branch {name!r} — create it with"
                " iceberg_create_ref(..., ref_type='branch')"
            )
        return r["snapshot-id"]

    from_head = head_of(branch)
    to_head = head_of(to)
    if to_head is None or to_head not in snaps:
        raise IcebergProtocolError(
            f"branch {to!r} has no resolvable head snapshot"
        )
    if from_head == to_head:
        return {
            "branch": branch,
            "previous_head": from_head,
            "current_head": to_head,
        }
    ancestry: set[int] = set()
    cur = to_head
    while cur is not None and cur in snaps and cur not in ancestry:
        ancestry.add(cur)
        cur = snaps[cur].get("parent-snapshot-id")
    if from_head is not None and from_head not in ancestry:
        raise IcebergProtocolError(
            f"branch {branch!r} (head {from_head}) has diverged from"
            f" {to!r} (head {to_head}) — fast_forward only publishes"
            " an append lineage; re-apply the diverged APPEND"
            " snapshots with CALL system.cherrypick_snapshot (r14);"
            " rewriting ops need the iceberg library"
        )

    def build(cur_meta: dict) -> dict:
        new = dict(cur_meta)
        if branch == "main":
            new["current-snapshot-id"] = to_head
        else:
            refs2 = dict(new.get("refs") or {})
            refs2[branch] = dict(
                refs2[branch], **{"snapshot-id": to_head}
            )
            new["refs"] = refs2
        new["last-updated-ms"] = _now_ms_ice()
        return new

    _commit_metadata(path, build, meta.get("current-snapshot-id"))
    return {
        "branch": branch,
        "previous_head": from_head,
        "current_head": to_head,
    }


def iceberg_optimize(
    spark: SparkSession, path: str, target_files: int = 1
) -> dict:
    """Small-file compaction (reference iceberg connector's OPTIMIZE
    table procedure / rewrite_data_files): rewrite the whole active set
    into ``target_files`` files through the COW rewrite core — one new
    snapshot, old files retained for time travel. Small-file
    proliferation is THE operational cost of frequent COW commits at
    scale. Already-compact tables are a no-op (like delta_optimize) —
    a scheduled hourly run must not accrete a table copy per run.
    r9: a snapshot carrying live POSITION/EQUALITY deletes compacts
    them AWAY (reference rewrite_data_files with delete compaction):
    the merged rows rewrite as fresh files in one overwrite snapshot,
    after which plain file-list consumers work again."""
    meta = _current_metadata(path)
    _maintenance_gate(meta, "optimize")
    data, deletes, _cols = _iceberg_scan(path, spark=spark)
    if deletes:
        merged = read_iceberg_snapshot(spark, path).coalesce(
            max(1, int(target_files))
        )
        snap = write_iceberg(spark, merged, path, mode="overwrite")
        return {
            "snapshot_id": snap,
            "files_rewritten": len(data),
            "deletes_compacted": len(deletes),
        }
    files = [p for p, _ in data]
    if len(files) <= max(1, int(target_files)):
        return {
            "snapshot_id": meta.get("current-snapshot-id"),
            "files_rewritten": 0,
        }
    return _iceberg_rewrite_matched(
        spark, path,
        None,
        lambda rows: rows.coalesce(max(1, int(target_files))),
        op="OPTIMIZE",
    )


def iceberg_analyze(spark, path: str) -> dict:
    """ANALYZE iceberg.'<path>' (r14 — the reference trino-iceberg's
    TableStatisticsWriter + AnalyzeTask): per-column NDV is collected
    as an apache-datasketches-theta-v1 sketch, persisted in a Puffin
    statistics file under metadata/, and registered in the table
    metadata's ``statistics`` list keyed by the analyzed snapshot.
    SHOW STATS serves NDV from each blob's ``ndv`` property — exactly
    where the reference's TableStatisticsReader looks.

    Distributed shape: per column the table projects to its DISTINCT
    values (JVM shuffle), hashes executor-side (Arrow-batched pandas
    over murmur3_x64_128, sources/puffin.py), and only the k+1
    smallest hashes reach the driver via TakeOrderedAndProject —
    O(k) driver memory at any table size. Exact mode under k=4096
    distinct values; KMV extrapolation above."""
    import uuid as _uuid

    from witdb_spark.sources.puffin import (
        NOMINAL_K,
        THETA_BLOB_TYPE,
        build_theta_sketch,
        write_puffin,
    )

    meta = _current_metadata(path)
    snap = _pick_snapshot(meta, None, None)
    sid = snap["snapshot-id"]
    seq = snap.get("sequence-number", 0)
    fields = _table_schema(meta)["fields"]
    df = read_iceberg_snapshot(spark, path)
    n = df.count()

    def _hash_col(batches):
        import pandas as _pd

        from witdb_spark.sources.puffin import theta_hash

        for pdf in batches:
            col = pdf.iloc[:, 0]
            yield _pd.DataFrame(
                {
                    "h": _pd.Series(
                        [theta_hash(str(v).encode()) for v in col],
                        dtype="int64",
                    )
                }
            )

    blobs = []
    for f in fields:
        name = f["name"]
        hashes = [
            r["h"]
            for r in df.select(name)
            .where(f"`{name}` IS NOT NULL")
            .distinct()
            .mapInPandas(_hash_col, "h long")
            .orderBy("h")
            .limit(NOMINAL_K + 1)
            .collect()
        ]
        data, est = build_theta_sketch(sorted(set(hashes)))
        blobs.append(
            {
                "type": THETA_BLOB_TYPE,
                "fields": [f["id"]],
                "snapshot-id": sid,
                "sequence-number": seq,
                "data": data,
                "properties": {"ndv": str(int(round(est)))},
            }
        )
    # r15: table-level cardinality/size over the LIVE rows (post
    # pos/eq-delete) ride as extra properties on the first blob —
    # spec-legal (blob properties are an open string map, library
    # readers ignore unknown keys) and the numbers the engine's CBO
    # layer feeds into join-distribution choices; a file-byte estimate
    # cannot see deleted rows.
    if blobs:
        from pyspark.sql import functions as _F
        from pyspark.sql import types as _T

        sz_cols = [
            f["name"]
            for f, sf in zip(fields, df.schema.fields)
            if isinstance(sf.dataType, (_T.StringType, _T.BinaryType))
        ]
        sizes = {}
        if sz_cols:
            row = df.agg(
                *[
                    _F.sum(_F.octet_length(_F.col(c)))
                    .cast("double")
                    .alias(c)
                    for c in sz_cols
                ]
            ).collect()[0]
            sizes = row.asDict()
        from witdb_spark.engine import _cbo_size_estimate

        blobs[0]["properties"] = dict(
            blobs[0]["properties"],
            **{
                "witdb-row-count": str(float(n)),
                "witdb-table-size-bytes": str(
                    _cbo_size_estimate(df.schema, float(n), sizes)
                ),
            },
        )
    rel = os.path.join(
        "metadata", f"{sid}-{_uuid.uuid4()}.stats"
    )
    full = os.path.join(path, rel)
    entry = write_puffin(full, blobs)
    stats_entry = {
        "snapshot-id": sid,
        "statistics-path": full,
        "file-size-in-bytes": entry["file_size"],
        "file-footer-size-in-bytes": entry["footer_size"],
        "blob-metadata": entry["blob_metadata"],
    }

    def build(cur: dict) -> dict:
        keep = [
            s
            for s in (cur.get("statistics") or [])
            if s.get("snapshot-id") != sid
        ]
        return dict(cur, statistics=keep + [stats_entry])

    _commit_metadata(path, build, meta.get("current-snapshot-id"))
    return {
        "snapshot_id": sid,
        "analyzed_columns": len(fields),
        "row_count": float(n),
        "statistics_path": full,
    }


def iceberg_ndv_stats(path: str) -> dict[str, dict] | None:
    """NDV map {column: {'ndv': float}} from the CURRENT snapshot's
    Puffin statistics (blob ``ndv`` properties — the reference
    TableStatisticsReader's source); None when the current snapshot
    was never analyzed."""
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
    id_to_name = {
        f["id"]: f["name"] for f in _table_schema(meta)["fields"]
    }
    from witdb_spark.sources.puffin import THETA_BLOB_TYPE

    out: dict[str, dict] = {}
    for bm in entry.get("blob-metadata") or []:
        if bm.get("type") != THETA_BLOB_TYPE:
            continue
        ndv = (bm.get("properties") or {}).get("ndv")
        flds = bm.get("fields") or []
        if ndv is None or len(flds) != 1:
            continue
        name = id_to_name.get(flds[0])
        if name:
            out[name] = {"ndv": float(ndv)}
    return out or None


def iceberg_drop_statistics(path: str) -> bool:
    """CALL system.drop_extended_stats on an iceberg table (the
    reference trino-iceberg ships the same procedure name): remove
    every statistics entry from the metadata and delete the Puffin
    files. Returns whether anything was dropped."""
    meta = _current_metadata(path)
    entries = meta.get("statistics") or []
    if not entries:
        return False
    _commit_metadata(
        path,
        lambda cur: dict(cur, statistics=[]),
        meta.get("current-snapshot-id"),
    )
    for e in entries:
        p = _resolve(path, e["statistics-path"])
        if os.path.exists(p):
            os.remove(p)
    return True


def _part_tuple(rec: dict) -> tuple:
    """Canonical hashable rendering of a data_file record's partition
    struct (name-sorted items) — the identity dynamic overwrite and its
    cherry-pick conflict check compare partitions by. Values come out of
    the same avro codec on every path, so python-level equality is
    type-consistent."""
    p = rec.get("partition") or {}
    return tuple(sorted((str(k), v) for k, v in p.items()))


def _no_spec_evolution_gate(path: str, mlist: list[dict], meta: dict, proc: str):
    """Dynamic partition overwrite (and its cherry-pick) compares
    partition structs by value: entries staged under an EVOLVED spec
    could render the same field names with different transforms, so any
    live data manifest off the default spec refuses loudly instead of
    silently replacing the wrong files."""
    default_spec = meta.get("default-spec-id", 0)
    for mf in mlist:
        if mf.get("content", 0) == 0 and mf.get(
            "partition_spec_id", 0
        ) != default_spec:
            raise IcebergProtocolError(
                f"{proc} on a table with evolved partition specs needs"
                " the iceberg-spark-runtime jar (spec-aware partition"
                " replacement)"
            )


def _rewrite_without_partitions(
    path: str, cur_list: list[dict], replaced: set
) -> list[dict]:
    """Manifest-list entries for the current snapshot with every live
    content=0 entry whose partition is in ``replaced`` dropped. Manifests
    the replacement never touches carry through byte-identical; touched
    ones are rewritten with their own avro schema (surviving entries
    keep their status and explicit sequence numbers; the rewritten
    manifest keeps the ORIGINAL sequence_number/added_snapshot_id so
    entry-seq inheritance and delete scoping are unchanged). Driver-side
    and metadata-scale by design — the same O(manifests) bound every
    writer commit carries."""
    import uuid as _uuid

    out: list[dict] = []
    for mf in cur_list:
        if mf.get("content", 0) != 0:
            out.append(
                {**dict(mf), "sequence_number": mf.get("sequence_number")}
            )
            continue
        mpath = _resolve(path, mf["manifest_path"])
        schema, entries = read_avro_file(mpath)
        survivors = [
            e
            for e in entries
            if e.get("status", 1) == 2
            or e["data_file"].get("content", 0) != 0
            or _part_tuple(e["data_file"]) not in replaced
        ]
        if len(survivors) == len(entries):
            out.append(
                {**dict(mf), "sequence_number": mf.get("sequence_number")}
            )
            continue
        if not survivors:
            continue  # the whole manifest was replaced
        new_path = os.path.join(
            path, "metadata", f"m-{_uuid.uuid4().hex}.avro"
        )
        write_avro_file(new_path, schema, survivors)
        out.append(
            {
                **dict(mf),
                "manifest_path": new_path,
                "manifest_length": os.path.getsize(new_path),
                "sequence_number": mf.get("sequence_number"),
            }
        )
    return out


def _live_files_in_partitions(
    path: str, snap: dict, replaced: set
) -> set[tuple]:
    """(partition_tuple, normalized path) of the live data files whose
    partition is in ``replaced`` at ``snap`` — the per-partition state
    the cherry-pick conflict check compares between the picked
    snapshot's parent and the current head."""
    _, mlist = read_avro_file(_resolve(path, snap["manifest-list"]))
    out: set[tuple] = set()
    for mf in mlist:
        if mf.get("content", 0) != 0:
            continue
        _, entries = read_avro_file(_resolve(path, mf["manifest_path"]))
        for e in entries:
            if e.get("status", 1) == 2:
                continue
            rec = e["data_file"]
            if rec.get("content", 0) != 0:
                continue
            pt = _part_tuple(rec)
            if pt in replaced:
                out.add((pt, _norm_file_path(rec["file_path"])))
    return out


def iceberg_dynamic_overwrite(spark, df, path: str) -> int:
    """Dynamic partition overwrite (Spark's INSERT OVERWRITE with
    spark.sql.sources.partitionOverwriteMode=dynamic; iceberg-java's
    ReplacePartitions operation): replace exactly the partitions the
    incoming data touches, leave every other partition's files live.
    Commits one overwrite snapshot with the library's
    ``replace-partitions=true`` summary property and an explicit
    parent-snapshot-id — the two facts cherrypick_snapshot's conflict
    validation keys on. The partitions NOT being replaced never
    rewrite: their manifests carry through untouched; only manifests
    containing replaced entries are rewritten (metadata-scale, the
    standard commit bound).

    Reference analog: trino-iceberg executes this via the library's
    ReplacePartitions (IcebergMetadata.beginInsert overwrite path);
    jar-free here over the same metadata shapes write_iceberg emits."""
    if not os.path.isdir(os.path.join(path, "metadata")):
        raise IcebergProtocolError(f"{path} is not an Iceberg table")
    meta = _current_metadata(path)
    if meta.get("format-version", 1) != 2:
        raise IcebergProtocolError(
            "dynamic overwrite on a format-v1 Iceberg table needs the"
            " iceberg-spark-runtime jar"
        )
    _maintenance_gate(meta, "dynamic overwrite")
    part_fields = _writable_part_fields(meta)
    if not part_fields:
        raise IcebergProtocolError(
            "dynamic overwrite of an UNPARTITIONED table replaces"
            " everything — use write_iceberg(mode='overwrite')"
        )
    schema = _table_schema(meta)
    if [f["name"] for f in schema["fields"]] != list(df.columns):
        raise IcebergProtocolError(
            f"schema mismatch: table has"
            f" {[f['name'] for f in schema['fields']]},"
            f" data has {df.columns}"
        )
    cur_id = meta.get("current-snapshot-id")
    cur = _pick_snapshot(meta, None, None)
    _, cur_list = read_avro_file(_resolve(path, cur["manifest-list"]))
    _no_spec_evolution_gate(path, cur_list, meta, "dynamic overwrite")

    import uuid as _uuid

    staged = _stage_iceberg_data(df, path, part_fields, schema)
    replaced = {_part_tuple(rec) for rec in staged}
    snaps = meta.get("snapshots") or []
    snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
    seq = (meta.get("last-sequence-number") or 0) + 1
    part_avro = _part_avro_fields(part_fields, schema)
    entries = [
        {"status": 1, "snapshot_id": snap_id, "data_file": rec}
        for rec in staged
    ]
    mpath = os.path.join(path, "metadata", f"m-{_uuid.uuid4().hex}.avro")
    write_avro_file(mpath, _entry_schema_for(part_avro), entries)
    listed = [
        {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": meta.get("default-spec-id", 0),
            "content": 0,
            "added_snapshot_id": snap_id,
            "sequence_number": seq,
            "partitions": _partition_summaries(
                entries, part_fields, schema
            ),
        }
    ] + _rewrite_without_partitions(path, cur_list, replaced)
    mlist = os.path.join(
        path, "metadata", f"snap-{snap_id}-{_uuid.uuid4().hex}.avro"
    )
    write_avro_file(mlist, _MANIFEST_FILE_SCHEMA_SEQ, listed)
    new_snap = {
        "snapshot-id": snap_id,
        "parent-snapshot-id": cur_id,
        "timestamp-ms": _now_ms_ice(),
        "sequence-number": seq,
        "manifest-list": mlist,
        "summary": {
            "operation": "overwrite",
            "replace-partitions": "true",
        },
    }
    _commit_metadata(
        path,
        lambda cur_meta: dict(
            cur_meta,
            **{
                "snapshots": (cur_meta.get("snapshots") or []) + [new_snap],
                "current-snapshot-id": snap_id,
                "last-sequence-number": seq,
                "last-updated-ms": _now_ms_ice(),
            },
        ),
        cur_id,
    )
    return snap_id


def iceberg_cherry_pick(path: str, snapshot_id: int) -> dict:
    """CALL system.cherrypick_snapshot (the iceberg library's
    SnapshotManager.cherrypick, exposed by Spark's
    CherrypickSnapshotProcedure; complements r13's fast_forward for
    DIVERGED branches): re-apply one snapshot's changes on top of the
    CURRENT main head as a brand-new snapshot. Two shapes re-apply —
    the SAME two the library's CherryPickOperation accepts:
      - APPEND snapshots: added manifests re-list under the new
        commit's sequence number; appends cannot conflict (no files
        are removed or rewritten).
      - DYNAMIC OVERWRITES (summary replace-partitions=true, r15 —
        iceberg_dynamic_overwrite / the library's ReplacePartitions):
        re-applied with the library's conflict validation — the
        replaced partitions must be unchanged between the picked
        snapshot's parent and the current head, else the pick refuses
        with the changed partitions named (_cherry_pick_dynamic).
    Any other operation refuses loudly (the library's own
    "not an append and not a dynamic overwrite" ValidationException).
    Returns {'source_snapshot_id', 'current_snapshot_id'}."""
    import uuid as _uuid

    meta = _current_metadata(path)
    snaps = meta.get("snapshots") or []
    by_id = {s["snapshot-id"]: s for s in snaps}
    src = by_id.get(int(snapshot_id))
    if src is None:
        raise IcebergProtocolError(
            f"snapshot {snapshot_id} not in table history"
        )
    summary = src.get("summary") or {}
    op = summary.get("operation", "append")
    dynamic = (
        op == "overwrite" and summary.get("replace-partitions") == "true"
    )
    if op != "append" and not dynamic:
        raise IcebergProtocolError(
            f"cherrypick_snapshot: snapshot {snapshot_id} is"
            f" {op!r} — not an append and not a dynamic overwrite"
            " (the two shapes the iceberg library's"
            " CherryPickOperation re-applies); other rewrites need"
            " the iceberg-spark-runtime jar"
        )
    cur_id = meta.get("current-snapshot-id")
    if cur_id is None or cur_id not in by_id:
        raise IcebergProtocolError(
            "cherrypick_snapshot needs a current snapshot to apply"
            " onto"
        )
    # ancestor of main already? then its files are already live
    seen: set[int] = set()
    walk = cur_id
    while walk is not None and walk in by_id and walk not in seen:
        seen.add(walk)
        walk = by_id[walk].get("parent-snapshot-id")
    if int(snapshot_id) in seen:
        return {
            "source_snapshot_id": int(snapshot_id),
            "current_snapshot_id": cur_id,
        }
    if dynamic:
        return _cherry_pick_dynamic(path, meta, by_id, src, cur_id)
    _, src_list = read_avro_file(_resolve(path, src["manifest-list"]))
    parent_paths: set[str] = set()
    pid = src.get("parent-snapshot-id")
    if pid is not None and pid in by_id:
        _, pl = read_avro_file(
            _resolve(path, by_id[pid]["manifest-list"])
        )
        parent_paths = {m["manifest_path"] for m in pl}
    new_manifests = [
        m for m in src_list if m["manifest_path"] not in parent_paths
    ]
    if any(m.get("content", 0) != 0 for m in new_manifests):
        raise IcebergProtocolError(
            "cherrypick_snapshot: the snapshot added DELETE manifests"
            " — row-delete re-application needs conflict detection"
            " (iceberg-spark-runtime jar)"
        )
    if not new_manifests:
        return {
            "source_snapshot_id": int(snapshot_id),
            "current_snapshot_id": cur_id,
        }
    _, cur_list = read_avro_file(
        _resolve(path, by_id[cur_id]["manifest-list"])
    )
    seq = meta.get("last-sequence-number", 0) + 1
    snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
    mlist = os.path.join(
        path, "metadata", f"snap-{snap_id}-{_uuid.uuid4().hex}.avro"
    )
    listed = [
        {**dict(m), "sequence_number": seq, "added_snapshot_id": snap_id}
        for m in new_manifests
    ] + [
        {**dict(m), "sequence_number": m.get("sequence_number")}
        for m in cur_list
    ]
    write_avro_file(mlist, _MANIFEST_FILE_SCHEMA_SEQ, listed)
    new_snap = {
        "snapshot-id": snap_id,
        "parent-snapshot-id": cur_id,
        "timestamp-ms": _now_ms_ice(),
        "sequence-number": seq,
        "manifest-list": mlist,
        "summary": {
            "operation": "append",
            "source-snapshot-id": str(snapshot_id),
        },
    }

    def build(cur_meta: dict) -> dict:
        return dict(
            cur_meta,
            **{
                "snapshots": (cur_meta.get("snapshots") or [])
                + [new_snap],
                "current-snapshot-id": snap_id,
                "last-sequence-number": seq,
                "last-updated-ms": _now_ms_ice(),
            },
        )

    _commit_metadata(path, build, cur_id)
    return {
        "source_snapshot_id": int(snapshot_id),
        "current_snapshot_id": snap_id,
    }


def _cherry_pick_dynamic(
    path: str, meta: dict, by_id: dict, src: dict, cur_id: int
) -> dict:
    """Re-apply a DYNAMIC-OVERWRITE snapshot (summary
    replace-partitions=true — iceberg_dynamic_overwrite or the
    library's ReplacePartitions) onto the current head, with the
    library CherryPickOperation's conflict validation: the partitions
    the picked snapshot replaced must be UNCHANGED between the picked
    snapshot's parent and the current head — any file added to or
    removed from those partitions on main since the fork makes the
    replay ambiguous and refuses loudly (the library's "Cannot
    cherry-pick replace partitions with changed partition"
    ValidationException). Partitions main touched OUTSIDE the replaced
    set never conflict. Metadata-scale throughout (manifest decode,
    the standard commit bound)."""
    import uuid as _uuid

    src_id = src["snapshot-id"]
    pid = src.get("parent-snapshot-id")
    if pid is None or pid not in by_id:
        raise IcebergProtocolError(
            f"cherrypick_snapshot: dynamic-overwrite snapshot {src_id}"
            " has no resolvable parent-snapshot-id — the conflict"
            " check cannot establish the pre-overwrite partition state"
        )
    _, src_list = read_avro_file(_resolve(path, src["manifest-list"]))
    src_adds = [
        m for m in src_list if m.get("added_snapshot_id") == src_id
    ]
    if any(m.get("content", 0) != 0 for m in src_adds):
        raise IcebergProtocolError(
            "cherrypick_snapshot: the dynamic-overwrite snapshot added"
            " DELETE manifests — row-delete re-application needs the"
            " iceberg-spark-runtime jar"
        )
    replaced: set = set()
    for mf in src_adds:
        _, entries = read_avro_file(_resolve(path, mf["manifest_path"]))
        for e in entries:
            if e.get("status", 1) == 2:
                continue
            rec = e["data_file"]
            if rec.get("content", 0) != 0:
                continue
            if not rec.get("partition"):
                raise IcebergProtocolError(
                    "cherrypick_snapshot: replace-partitions snapshot"
                    " with unpartitioned files — full-table overwrite"
                    " replay needs the iceberg-spark-runtime jar"
                )
            replaced.add(_part_tuple(rec))
    if not replaced:
        return {
            "source_snapshot_id": int(src_id),
            "current_snapshot_id": cur_id,
        }
    cur = by_id[cur_id]
    _, cur_list = read_avro_file(_resolve(path, cur["manifest-list"]))
    _no_spec_evolution_gate(path, cur_list, meta, "cherrypick_snapshot")
    at_parent = _live_files_in_partitions(path, by_id[pid], replaced)
    at_head = _live_files_in_partitions(path, cur, replaced)
    if at_parent != at_head:
        changed = sorted(
            {pt for pt, _ in at_parent.symmetric_difference(at_head)}
        )
        pretty = ", ".join(
            "{" + ", ".join(f"{k}={v}" for k, v in pt) + "}"
            for pt in changed
        )
        raise IcebergProtocolError(
            "cherrypick_snapshot: cannot cherry-pick replace"
            f" partitions with changed partition: {pretty}"
            " (files in the replaced partitions moved on main since"
            f" snapshot {src_id}'s parent {pid} — the replay would"
            " clobber commits it never saw)"
        )
    snaps = meta.get("snapshots") or []
    seq = (meta.get("last-sequence-number") or 0) + 1
    snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1
    listed = [
        {
            **dict(m),
            "sequence_number": seq,
            "added_snapshot_id": snap_id,
        }
        for m in src_adds
    ] + _rewrite_without_partitions(path, cur_list, replaced)
    mlist = os.path.join(
        path, "metadata", f"snap-{snap_id}-{_uuid.uuid4().hex}.avro"
    )
    write_avro_file(mlist, _MANIFEST_FILE_SCHEMA_SEQ, listed)
    new_snap = {
        "snapshot-id": snap_id,
        "parent-snapshot-id": cur_id,
        "timestamp-ms": _now_ms_ice(),
        "sequence-number": seq,
        "manifest-list": mlist,
        "summary": {
            "operation": "overwrite",
            "replace-partitions": "true",
            "source-snapshot-id": str(src_id),
        },
    }
    _commit_metadata(
        path,
        lambda cur_meta: dict(
            cur_meta,
            **{
                "snapshots": (cur_meta.get("snapshots") or [])
                + [new_snap],
                "current-snapshot-id": snap_id,
                "last-sequence-number": seq,
                "last-updated-ms": _now_ms_ice(),
            },
        ),
        cur_id,
    )
    return {
        "source_snapshot_id": int(src_id),
        "current_snapshot_id": snap_id,
    }
