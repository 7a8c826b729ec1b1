"""witdb_spark benchmark: single-client, closed-loop workloads that call
the program the way a user does.

One workload run (what the benchmark harness invokes):

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 12 --trace 0

prints a detail line and, last, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). Every workload,
untraced and traced, with the tracing overhead:

    python3 perfbench/run.py --all --seed 1

See perfbench/README.md for the metric table and the workload choices.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
OUT = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "setup_s": "s",
    "query_geomean_ms": "ms",
    "ops_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_ms": "ms",
    "catalog.register_views_ms": "ms",
    "catalog.schema_jobs": "count",
    "functions.register_ms": "ms",
    "plans.transpile_ms": "ms",
    "plans.transpile_calls": "count",
    "engine.sql_ms": "ms",
    "catalyst.parsing_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_wall_ms": "ms",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_read_b": "B",
    "exec.shuffle_write_b": "B",
    "exec.input_b": "B",
    "exec.spill_b": "B",
    "pyworker.total_ms": "ms",
    "pyworker.boot_ms": "ms",
    "pyworker.init_ms": "ms",
    "pyworker.sent_b": "B",
    "pyworker.received_b": "B",
    "driver.build_ms": "ms",
    "driver.build_jobs": "count",
    "driver.py4j_calls": "count",
    "collect.ms": "ms",
    "collect.rows": "count",
    "collect.gap_ms": "ms",
    "sources.files_added": "count",
    "sources.files_removed": "count",
    "sources.data_b_written": "B",
    "sources.meta_b_written": "B",
    "sources.files_read": "count",
    "sources.write_p50_ms": "ms",
    "sources.write_p90_ms": "ms",
    "sources.stored_bytes_per_row": "B/row",
    "driver.heap_peak_mb": "MB",
}

# per-layer metrics that are set once per run rather than summed per op
_RUN_LEVEL = {
    "session.start_ms", "catalog.register_views_ms", "catalog.schema_jobs",
    "functions.register_ms", "sources.write_p50_ms", "sources.write_p90_ms",
    "sources.stored_bytes_per_row", "driver.heap_peak_mb",
}


# per-layer metrics also broken down per op name in the traced detail line,
# so that e.g. tpch_q1 and its SQL twin tpch_sql_q1 can be compared
_BY_OP = (
    "plans.transpile_ms", "engine.sql_ms", "catalyst.parsing_ms", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "exec.jobs", "exec.run_ms",
    "exec.cpu_ms", "pyworker.total_ms", "driver.build_ms", "driver.py4j_calls",
    "collect.ms", "collect.gap_ms",
)


def p50(values: list[float]) -> float:
    """The lower median: always one measured sample, never the midpoint
    between two; of two samples, the faster."""
    return statistics.median_low(values)


def quantile(values: list[float], q: float) -> float:
    """Inclusive linear-interpolation quantile; q in (0, 1)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class _NoTrace:
    """Stands in for the Tracer in untraced runs: no spans, no tags."""

    op = None

    @contextlib.contextmanager
    def span(self, name):
        yield None

    @contextlib.contextmanager
    def tagged(self, spark, tag):
        yield


# -- lakehouse directory accounting (traced runs) ------------------------------


def _listing(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _is_data(table: str, p: str) -> bool:
    rel = os.path.relpath(p, table)
    return rel.endswith(".parquet") and not rel.startswith(("_delta_log", "metadata"))


def _live_files(table: str) -> set[str] | None:
    """Data files the table's current snapshot references, read through
    the sources layer's own metadata readers."""
    if not os.path.isdir(table):
        return set()
    if os.path.isdir(os.path.join(table, "_delta_log")):
        live: dict[str, bool] = {}
        log = os.path.join(table, "_delta_log")
        for name in sorted(os.listdir(log)):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(log, name)) as f:
                for line in f:
                    act = json.loads(line)
                    if "add" in act:
                        live[act["add"]["path"]] = True
                    elif "remove" in act:
                        live.pop(act["remove"]["path"], None)
        return set(live)
    from witdb_spark.sources.iceberg_meta import iceberg_data_files

    files, _ = iceberg_data_files(table)
    return {os.path.basename(p) for p in files}


def source_delta(table: str, before: dict, live_before) -> dict[str, float]:
    after = _listing(table)
    new = [p for p in after if p not in before]
    live_after = _live_files(table)
    return {
        "sources.files_added": sum(_is_data(table, p) for p in new),
        "sources.files_removed": len(live_before - live_after),
        "sources.data_b_written": sum(after[p] for p in new if _is_data(table, p)),
        "sources.meta_b_written": sum(after[p] for p in new if not _is_data(table, p)),
    }


# -- one workload run ----------------------------------------------------------


class Runner:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, sf_dir: str):
        from workloads import make_workload

        self.seconds = seconds
        self.trace = trace
        self.sf_dir = sf_dir
        self.work = os.path.join(OUT, "work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.wl = make_workload(workload, seed, sf_dir, self.work)
        if trace:
            from tracing import Tracer

            self.tracer = Tracer()
        else:
            self.tracer = _NoTrace()
        self.records: list[dict] = []
        self.ops: list = []  # the Op behind each record
        self.outputs: dict[int, tuple] = {}  # seq -> (rows, schema)

    def setup(self):
        if self.trace:
            self.tracer.install()
        from witdb_spark.engine import Engine
        from witdb_spark.queries import QUERIES
        from witdb_spark.session import get_spark

        self.queries = QUERIES
        extra = {"spark.ui.enabled": "true"} if self.trace else None
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(extra=extra)
        with self.tracer.tagged(self.spark, "setup"), self.tracer.span("setup.engine"):
            self.eng = Engine(self.spark, self.sf_dir)
        self.setup_s = time.perf_counter() - t0

    def context(self) -> dict:
        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": nproc(),
            "spark": self.spark.version,
            "java": str(jvm.java.lang.System.getProperty("java.version")),
            "python": platform.python_version(),
            "sf_dir": os.path.relpath(self.sf_dir, ROOT),
        }

    def calibrate(self) -> float:
        """A fixed JVM-only spin (bench.py's calibration, a tenth of its
        rows) so machine-speed drift between runs is visible. The first,
        untimed spin also pays the JVM's first-job cost before any op."""
        def spin():
            self.spark.range(0, 15_000_000, 1, 8).selectExpr("sum(id % 7919) AS s").collect()

        with self.tracer.tagged(self.spark, "calibration"):
            spin()
            walls = []
            for _ in range(3):
                t = time.perf_counter()
                spin()
                walls.append(time.perf_counter() - t)
        return statistics.median(walls) * 1000.0

    def execute(self, op, phase: str) -> dict:
        """Run one op: build plus collect, timed, under its own job tag."""
        seq = len(self.records)
        tag = f"perfbench-op-{seq}"
        rec = {"seq": seq, "op": op.name, "kind": op.kind, "phase": phase, "tag": tag}
        self.records.append(rec)
        self.ops.append(op)
        tr = self.tracer
        listing = live = None
        if self.trace and op.table:
            listing, live = _listing(op.table), _live_files(op.table)
        df = rows = None
        with tr.tagged(self.spark, tag):
            tr.op = tag
            t0 = time.perf_counter()
            try:
                with tr.span("op"):
                    if op.query is not None:
                        with tr.span("query.fn"):
                            df = self.queries[op.query].fn(self.spark, self.sf_dir)
                    else:
                        df = self.eng.sql(op.spark_sql)
                    rows = df.collect()
                rec["wall_ms"] = (time.perf_counter() - t0) * 1000.0
            except Exception as e:  # a failing op is a result, not a crash
                name = type(e).__name__
                lines = str(e).strip().splitlines()
                rec["error"] = f"{name}: {lines[0][:300] if lines else ''}"
                rec["known_defect"] = op.known_defect == name
            finally:
                tr.op = None
        if rows is not None:
            self.outputs[seq] = (rows, df.schema)
            rec["rows"] = len(rows)
            if self.trace:
                from tracing import catalyst_phases

                rec["phases"] = catalyst_phases(df)
                if listing is not None:
                    rec["sources"] = source_delta(op.table, listing, live)
        return rec

    def run(self) -> None:
        wl = self.wl
        self.calibration_ms = self.calibrate()
        for op in wl.prologue():
            self.execute(op, "prologue")
        for op in wl.warmup():
            self.execute(op, "warmup")
        # whole passes, so every run measures the same op mix
        t0 = time.perf_counter()
        self.passes = 0
        self.pass_s: list[float] = []
        while self.passes < wl.min_passes or time.perf_counter() - t0 < self.seconds:
            t = time.perf_counter()
            for op in wl.next_pass(self.passes):
                self.execute(op, "measured")
            self.pass_s.append(time.perf_counter() - t)
            self.passes += 1
        self.measured_s = time.perf_counter() - t0
        raised = {op.table for op, r in zip(self.ops, self.records) if "error" in r}
        for op in wl.final_reads():
            if op.table not in raised:
                self.execute(op, "final")
        if wl.name == "lakehouse_rw":
            self.lake = self.lakehouse_figures()

    def check(self) -> None:
        """Outside every timed interval: each op's output against DuckDB."""
        from workloads import OracleChecker, ReplayChecker

        lake = self.wl.name == "lakehouse_rw"
        checker = ReplayChecker(self.sf_dir) if lake else OracleChecker(self.sf_dir)
        try:
            for op, rec in zip(self.ops, self.records):
                if "error" in rec:
                    continue
                rows, schema = self.outputs[rec["seq"]]
                if lake:
                    problems = checker.apply(op, rows, schema.names)
                else:
                    problems = checker.check(op.query, rows, schema)
                if problems:
                    rec["mismatch"] = problems[:3]
        finally:
            checker.close()

    # -- metrics ---------------------------------------------------------------
    def measured(self, kind: str | None = None) -> list[dict]:
        return [
            r for r in self.records
            if r["phase"] == "measured" and "wall_ms" in r and kind in (None, r["kind"])
        ]

    def end_to_end(self) -> dict[str, float]:
        """Lower medians per op name and per pass, so neither an op mix
        whose costs differ tenfold nor one slow pass moves a run's figures."""
        walls = [r["wall_ms"] for r in self.measured()]
        by_op: dict[str, list[float]] = {}
        for r in self.measured():
            by_op.setdefault(r["op"], []).append(r["wall_ms"])
        return {
            "setup_s": self.setup_s,
            "query_geomean_ms": statistics.geometric_mean([p50(v) for v in by_op.values()]),
            "ops_per_s": len(walls) / self.passes / p50(self.pass_s),
            "driver_peak_rss_mb": self.peak_rss_mb,
            # detail only: pooled over ops of different cost, and a run
            # has too few samples to support a p90
            "query_p50_ms": p50(walls),
            "query_p90_ms": quantile(walls, 0.9),
        }

    def lakehouse_figures(self) -> dict[str, float]:
        writes = [r["wall_ms"] for r in self.measured("write")]
        reads = [r["wall_ms"] for r in self.measured("read")]
        tables = [op.table for op in self.wl.prologue()]  # the orders tables
        live = sum(
            r["rows"] for op, r in zip(self.ops, self.records)
            if r["phase"] == "final" and op.table in tables and "rows" in r
        )
        stored = sum(sum(_listing(t).values()) for t in tables)
        return {
            "write_p50_ms": p50(writes),
            "write_p90_ms": quantile(writes, 0.9),
            "read_p50_ms": p50(reads),
            "stored_bytes_per_row": stored / max(live, 1),
        }

    def finish_spark(self) -> None:
        """Read the process peaks and (traced) the REST store, then stop
        Spark and wait for the JVM to exit."""
        jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        if self.trace:
            from tracing import fetch_rest, jvm_heap_peak_mb

            self.heap_peak_mb = jvm_heap_peak_mb(self.spark)
            self.rest = fetch_rest(self.spark, self._ui_port())
        self.peak_rss_mb = peak_rss_mb(os.getpid()) + peak_rss_mb(jvm_pid)
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
        if self.trace:
            self.tracer.uninstall()

    def _ui_port(self) -> int:
        url = self.spark.sparkContext.uiWebUrl
        return int(url.rsplit(":", 1)[1])

    def per_layer(self) -> tuple[dict[str, float], dict]:
        from tracing import attribute, rest_epoch_ms, self_times

        tr = self.tracer
        tags = {"setup", "calibration"} | {r["tag"] for r in self.records}
        per_tag, conservation, jobs_of = attribute(self.rest, tags)
        selfs = self_times(tr.spans)
        by_op: dict[str, list[int]] = {}
        for i, s in enumerate(tr.spans):
            by_op.setdefault(s["op"], []).append(i)

        def dur(i):
            s = tr.spans[i]
            return (s["end"] - s["start"]) * 1000.0

        ops = self.measured()
        totals = {k: 0.0 for k in PER_LAYER if k not in _RUN_LEVEL}
        self.layers_by_op: dict[str, dict[str, list[float]]] = {}
        for r in ops:
            idx = by_op.get(r["tag"], [])
            op_span = next(i for i in idx if tr.spans[i]["name"] == "op")
            final = [i for i in idx if tr.spans[i]["name"] == "collect"
                     and tr.spans[i]["parent"] == op_span]
            collect_ms = dur(final[-1]) if final else 0.0
            c_start = tr.epoch_ms(tr.spans[final[-1]]["start"]) if final else float("inf")
            c_end = tr.epoch_ms(tr.spans[final[-1]]["end"]) if final else float("inf")
            v = dict(per_tag.get(r["tag"], {}))
            ph = r.get("phases", {})
            for p in ("parsing", "analysis", "optimization", "planning"):
                v[f"catalyst.{p}_ms"] = ph.get(p, 0.0)
            transp = [i for i in idx if tr.spans[i]["name"] == "plans.transpile"]
            v["plans.transpile_ms"] = sum(dur(i) for i in transp)
            v["plans.transpile_calls"] = len(transp)
            v["engine.sql_ms"] = sum(
                selfs[i] * 1000.0 for i in idx if tr.spans[i]["name"] == "engine.sql"
            )
            v["driver.build_ms"] = dur(op_span) - collect_ms
            v["driver.py4j_calls"] = tr.py4j_calls.get(r["tag"], 0)
            v["collect.ms"] = collect_ms
            v["collect.rows"] = r.get("rows", 0)
            intervals = []
            build_jobs = 0
            for j in jobs_of.get(r["tag"], []):
                a = rest_epoch_ms(j.get("submissionTime"))
                b = rest_epoch_ms(j.get("completionTime"))
                if a is None or b is None:
                    continue
                if a < c_start:
                    build_jobs += 1
                lo, hi = max(a, c_start), min(b, c_end)
                if hi > lo:
                    intervals.append((lo, hi))
            v["driver.build_jobs"] = build_jobs
            covered, edge = 0.0, float("-inf")
            for lo, hi in sorted(intervals):
                lo = max(lo, edge)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            v["collect.gap_ms"] = max(
                0.0, collect_ms - covered - ph.get("optimization", 0.0) - ph.get("planning", 0.0)
            )
            v.update(r.get("sources", {}))
            for k in totals:
                totals[k] += v.get(k, 0.0)
            per_op = self.layers_by_op.setdefault(r["op"], {})
            for k in _BY_OP:
                per_op.setdefault(k, []).append(v.get(k, 0.0))
        n = max(len(ops), 1)
        out = {k: t / n for k, t in totals.items()}

        def span_ms(name):
            return sum(dur(i) for i, s in enumerate(tr.spans) if s["name"] == name)

        out["session.start_ms"] = span_ms("session.get_spark")
        out["catalog.register_views_ms"] = span_ms("catalog.register_views")
        out["functions.register_ms"] = span_ms("functions.register_all")
        views = [s for s in tr.spans if s["name"] == "catalog.register_views"]
        out["catalog.schema_jobs"] = sum(
            1 for j in jobs_of.get("setup", []) for s in views
            if tr.epoch_ms(s["start"]) <= (rest_epoch_ms(j.get("submissionTime")) or 0)
            <= tr.epoch_ms(s["end"])
        )
        lake = getattr(self, "lake", {})
        out["sources.write_p50_ms"] = lake.get("write_p50_ms", 0.0)
        out["sources.write_p90_ms"] = lake.get("write_p90_ms", 0.0)
        out["sources.stored_bytes_per_row"] = lake.get("stored_bytes_per_row", 0.0)
        out["driver.heap_peak_mb"] = self.heap_peak_mb
        return out, conservation

    def op_table(self) -> dict[str, dict]:
        """Per op name: measured median wall, sample count and every wall."""
        walls: dict[str, list[float]] = {}
        for r in self.measured():
            walls.setdefault(r["op"], []).append(r["wall_ms"])
        return {
            k: {"median_ms": round(statistics.median(v), 2), "n": len(v),
                "walls_ms": [round(w, 2) for w in v]}
            for k, v in sorted(walls.items())
        }


def run_workload(workload: str, seed: int, seconds: float, trace: bool, sf_dir: str) -> tuple[dict, dict]:
    """One fresh-process run; returns (detail, result line)."""
    marks = {"start": time.perf_counter()}
    runner = Runner(workload, seed, seconds, trace, sf_dir)
    load_start = os.getloadavg()
    try:
        runner.setup()
        marks["setup"] = time.perf_counter()
        ctx = runner.context()
        runner.run()
        marks["run"] = time.perf_counter()
        ctx["calibration_ms"] = runner.calibration_ms
        runner.finish_spark()
        marks["stop"] = time.perf_counter()
        runner.check()
        marks["check"] = time.perf_counter()
    finally:
        shutil.rmtree(runner.work, ignore_errors=True)
    names = list(marks)
    ctx["timeline_s"] = {b: marks[b] - marks[a] for a, b in zip(names, names[1:])}
    ctx["loadavg_start"] = load_start
    ctx["loadavg_end"] = os.getloadavg()

    recs = runner.records
    defects = [r for r in recs if r.get("known_defect")]
    counted = [r for r in recs if not r.get("known_defect")]
    failures = [
        {"op": r["op"], "phase": r["phase"], "error": r.get("error") or r["mismatch"]}
        for r in counted if "error" in r or "mismatch" in r
    ]
    e2e = runner.end_to_end()
    detail = {
        "workload": workload, "seed": seed, "trace": trace, "context": ctx,
        "passes": runner.passes, "measured_s": runner.measured_s, "pass_s": runner.pass_s,
        "phase_s": {
            ph: sum(r.get("wall_ms", 0.0) for r in recs if r["phase"] == ph) / 1000.0
            for ph in ("prologue", "warmup", "measured", "final")
        },
        "samples": {"ops": len(runner.measured()), "reads": len(runner.measured("read")),
                    "writes": len(runner.measured("write"))},
        "end_to_end": e2e,
        "failed_frac": len(failures) / max(len(counted), 1),
        "failures": failures,
        "known_defects": [{"op": r["op"], "phase": r["phase"], "error": r["error"]} for r in defects],
        "ops": runner.op_table(),
    }
    if workload == "lakehouse_rw":
        detail["lakehouse"] = runner.lake
    correct = not failures
    if trace:
        layer, conservation = runner.per_layer()
        detail["conservation"] = conservation
        detail["layers_by_op"] = {
            op: {k: round(statistics.mean(v), 2) for k, v in ks.items()}
            for op, ks in sorted(runner.layers_by_op.items())
        }
        correct = correct and conservation["ok"]
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        os.makedirs(os.path.join(OUT, "spans"), exist_ok=True)
        runner.tracer.dump(os.path.join(OUT, "spans", f"{workload}-seed{seed}.jsonl"))
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": correct, "attempted": len(counted), "failed": len(failures),
              "metrics": metrics}
    return detail, result


# -- all workloads in one command ----------------------------------------------


def run_all(seed: int, seconds: float, sf: str) -> int:
    from workloads import WORKLOADS

    report = {}
    for w in WORKLOADS:
        report[w] = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                   "--sf", sf]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{w} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                return 1
            report[w][trace] = {"detail": json.loads(lines[-2])["detail"],
                                "result": json.loads(lines[-1])}
    for w, runs in report.items():
        d0, d1 = runs[0]["detail"], runs[1]["detail"]
        r0, r1 = runs[0]["result"], runs[1]["result"]
        print(f"== {w}: correct={r0['correct']} attempted={r0['attempted']} failed={r0['failed']}"
              f" failed_frac={d0['failed_frac']:.4f} samples={d0['samples']}")
        for f in d0["failures"]:
            print(f"   FAILED {f['op']} ({f['phase']}): {f['error']}")
        for f in d0["known_defects"][:1]:
            print(f"   known defect x{len(d0['known_defects'])}: {f['op']}: {f['error']}")
        for k, m in r0["metrics"].items():
            over = d1["end_to_end"][k] - d0["end_to_end"][k]
            print(f"   {k:<22} {m['value']:>12.3f} {m['unit']:<6} tracing overhead {over:+.3f}")
        for k in ("query_p50_ms", "query_p90_ms"):
            v = d0["end_to_end"][k]
            print(f"   {k:<22} {v:>12.3f} ms     (detail only; {d0['samples']['ops']} samples)")
        for k, v in d0.get("lakehouse", {}).items():
            print(f"   {k:<22} {v:>12.3f}")
        cons = d1["conservation"]
        print(f"   traced: correct={r1['correct']} job-tag conservation ok={cons['ok']}"
              f" jobs={cons['jobs']}")
        for k, m in r1["metrics"].items():
            print(f"   {k:<30} {m['value']:>14.2f} {m['unit']}")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0


# -- entry point ---------------------------------------------------------------


def _preflight(sf_dir: str) -> str | None:
    """Why the benchmark cannot run from this directory, or None."""
    if not os.path.isfile(os.path.join(ROOT, "witdb_spark", "engine.py")):
        return f"no witdb_spark package under {ROOT}"
    if not os.path.isfile(os.path.join(ROOT, "tests", "conftest.py")):
        return f"no tests/conftest.py (the exact comparator) under {ROOT}"
    if not os.path.isfile(os.path.join(sf_dir, "orders.parquet")):
        return f"no fixture tables in {sf_dir}"
    return None


def _configure_env() -> None:
    """Spark and Python workers find the repository, use every core, and
    keep their scratch files inside the checkout."""
    tmp = os.path.join(OUT, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files under /tmp: the JVM's perf counters are unused
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    from workloads import WORKLOADS

    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="sf0.01", help="fixture directory under perfbench/data")
    ap.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    args = ap.parse_args(argv)
    sf_dir = os.path.join(DATA, args.sf)
    why = _preflight(sf_dir)
    if why:
        print(f"perfbench: cannot run: {why}", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args.seed, args.seconds, args.sf)
    if not args.workload:
        ap.error("--workload is required without --all")
    _configure_env()
    tmp = os.environ["TMPDIR"]
    try:
        detail, result = run_workload(args.workload, args.seed, args.seconds,
                                      bool(args.trace), sf_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
