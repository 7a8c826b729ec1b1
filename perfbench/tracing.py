"""Traced-run instrumentation, kept entirely in the benchmark's own files.

Spans are recorded around each layer's public entry points by wrapping
them in place (each wrapper calls the original exactly once), kept in
memory, and written out when the run ends. Spark work is attributed to
each op by a job tag set around the op's build and collect; the REST
``/jobs``, ``/stages`` and ``/sql`` endpoints are read once at the end and
folded per tag.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None  # id of the op in flight
        self.py4j_calls: dict[str | None, int] = defaultdict(int)
        self._patches: list[tuple[object, str, object]] = []
        # perf_counter -> epoch seconds, to line spans up with REST times
        self._epoch0 = time.time() - time.perf_counter()

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({
            "name": name, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def epoch_ms(self, t: float) -> float:
        return (self._epoch0 + t) * 1000.0

    # -- wrapping ------------------------------------------------------
    def _wrap(self, owner, attr: str, name: str):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self):
        import py4j.java_gateway
        import pyspark.sql.classic.dataframe as classic_df

        import witdb_spark.catalog
        import witdb_spark.engine

        self._wrap(witdb_spark.catalog.Tables, "register_views", "catalog.register_views")
        self._wrap(witdb_spark.engine, "register_all", "functions.register_all")
        self._wrap(witdb_spark.engine, "transpile", "plans.transpile")
        self._wrap(witdb_spark.engine.Engine, "sql", "engine.sql")
        # pyspark.sql.DataFrame is the abstract facade in Spark 4; the
        # classic class is the one whose collect actually runs
        self._wrap(classic_df.DataFrame, "collect", "collect")

        client = py4j.java_gateway.GatewayClient
        orig_send = client.send_command
        tracer = self

        def send_command(self_, *args, **kwargs):
            tracer.py4j_calls[tracer.op] += 1
            return orig_send(self_, *args, **kwargs)

        client.send_command = send_command
        self._patches.append((client, "send_command", orig_send))

    def uninstall(self):
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- job tags ------------------------------------------------------
    @contextlib.contextmanager
    def tagged(self, spark, tag: str):
        """Tag every job the block starts. SparkSession tags reach only
        SQL-execution jobs; the SparkContext job tag also reaches schema
        inference and RDD jobs, so both are set."""
        sc = spark.sparkContext
        spark.addTag(tag)
        sc.addJobTag(tag)
        try:
            yield
        finally:
            sc.removeJobTag(tag)
            spark.removeTag(tag)

    def dump(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part its direct children cover
    (spans are recorded from one thread, so children never overlap)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [(s["end"] - s["start"]) - child[i] for i, s in enumerate(spans)]


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded on the DataFrame's query
    execution; parsing exists only for SQL-text plans."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("parsing", "analysis", "optimization", "planning"):
        o = phases.get(p)
        if o.isDefined():
            out[p] = float(o.get().durationMs())
    return out


def jvm_heap_peak_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    total = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if str(pool.getType().name()) == "HEAP":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


# -- REST --------------------------------------------------------------------


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}/{path}", timeout=30) as r:
        return json.loads(r.read())


def fetch_rest(spark, port: int, settle_s: float = 20.0) -> dict:
    """Read jobs, completed stages and SQL executions once the status
    store has caught up (no running jobs, job count stable)."""
    app = spark.sparkContext.applicationId
    base = f"http://127.0.0.1:{port}/api/v1/applications/{app}"
    deadline = time.monotonic() + settle_s
    last = -1
    while True:
        jobs = _get(base, "jobs")
        running = [j for j in jobs if j["status"] == "RUNNING"]
        if (not running and len(jobs) == last) or time.monotonic() > deadline:
            break
        last = len(jobs)
        time.sleep(0.5)
    return {
        "jobs": jobs,
        "stages": _get(base, "stages?status=complete"),
        "sql": _get(base, "sql?details=true&planDescription=false&offset=0&length=1000000"),
    }


def rest_epoch_ms(s: str | None) -> float | None:
    if not s:
        return None
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


_UNITS = {
    "": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-6, "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A SQL UI metric string as a number in B or ms: '6,000', '285 ms',
    '114.5 KiB', or 'total (min, med, max ...)\\n1.2 s (...)'."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


# SQL metric display names of Spark 4.1's PythonSQLMetrics
PY_METRICS = {
    "time to run Python workers": "pyworker.total_ms",
    "time to start Python workers": "pyworker.boot_ms",
    "time to initialize Python workers": "pyworker.init_ms",
    "data sent to Python workers": "pyworker.sent_b",
    "data returned from Python workers": "pyworker.received_b",
}

STAGE_FIELDS = {
    "exec.run_ms": lambda s: s["executorRunTime"],
    "exec.cpu_ms": lambda s: s["executorCpuTime"] / 1e6,
    "exec.gc_ms": lambda s: s["jvmGcTime"],
    "exec.shuffle_read_b": lambda s: s["shuffleReadBytes"],
    "exec.shuffle_write_b": lambda s: s["shuffleWriteBytes"],
    "exec.input_b": lambda s: s["inputBytes"],
    "exec.spill_b": lambda s: s["diskBytesSpilled"],
}


def _tag_of(job: dict, tags: set[str]) -> str | None:
    """The benchmark tag a job carries (session tags come back prefixed
    with the session and thread ids)."""
    for t in job.get("jobTags", []):
        if t in tags:
            return t
        for want in tags:
            if t.endswith("-" + want):
                return want
    return None


def attribute(rest: dict, tags: set[str]) -> tuple[dict[str, dict], dict, dict[str, list]]:
    """Fold REST data per tag. Returns (per-tag metrics, conservation
    record, jobs per tag). Conservation: every job carries a benchmark
    tag, and the per-tag stage totals equal the application's
    completed-stage totals."""
    per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    jobs_of: dict[str, list[dict]] = defaultdict(list)
    untagged = []
    stage_owner: dict[int, int] = {}
    job_tag: dict[int, str] = {}
    for j in sorted(rest["jobs"], key=lambda j: j["jobId"]):
        tag = _tag_of(j, tags)
        if tag is None:
            untagged.append(j["jobId"])
            continue
        job_tag[j["jobId"]] = tag
        jobs_of[tag].append(j)
        for sid in j["stageIds"]:
            stage_owner.setdefault(sid, j["jobId"])  # the first job runs it
    totals = defaultdict(float)
    unowned = []
    for s in rest["stages"]:
        for k, f in STAGE_FIELDS.items():
            totals[k] += f(s)
        owner = stage_owner.get(s["stageId"])
        if owner is None:
            unowned.append(s["stageId"])
            continue
        agg = per[job_tag[owner]]
        agg["exec.stages"] += 1
        agg["exec.tasks"] += s["numCompleteTasks"]
        for k, f in STAGE_FIELDS.items():
            agg[k] += f(s)
    for tag, js in jobs_of.items():
        agg = per[tag]
        agg["exec.jobs"] = len(js)
        for j in js:
            a, b = rest_epoch_ms(j.get("submissionTime")), rest_epoch_ms(j.get("completionTime"))
            if a is not None and b is not None:
                agg["exec.job_wall_ms"] += b - a
    exec_tag = {}
    for e in rest["sql"]:
        ids = e.get("successJobIds", []) + e.get("failedJobIds", []) + e.get("runningJobIds", [])
        owners = {job_tag[i] for i in ids if i in job_tag}
        if len(owners) == 1:
            exec_tag[e["id"]] = owners.pop()
    for e in rest["sql"]:
        tag = exec_tag.get(e["id"])
        if tag is None:
            continue
        agg = per[tag]
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                key = PY_METRICS.get(m["name"])
                if key is None and m["name"] == "number of files read":
                    key = "sources.files_read"
                if key is not None:
                    agg[key] += metric_value(m["value"])
    summed = defaultdict(float)
    for agg in per.values():
        for k in STAGE_FIELDS:
            summed[k] += agg.get(k, 0.0)
    mismatched = {
        k: [totals[k], summed[k]] for k in STAGE_FIELDS
        if abs(totals[k] - summed[k]) > 1e-6 * max(1.0, abs(totals[k]))
    }
    conservation = {
        "ok": not untagged and not unowned and not mismatched,
        "jobs": len(rest["jobs"]),
        "untagged_jobs": untagged,
        "stages_without_job": unowned,
        "mismatched_totals": mismatched,
        "stage_totals": dict(totals),
    }
    return {t: dict(v) for t, v in per.items()}, conservation, jobs_of
