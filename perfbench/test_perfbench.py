"""The benchmark's own tests: the output schema is pinned to
BENCHMARK.json, the generators are seeded, the checkers reject wrong
output, the REST folding conserves totals, and every workload smoke-runs
end to end at sf0.001.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (ROOT, HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SMOKE_SF = os.path.join(run.DATA, "sf0.001")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_runner():
    spec = _spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _passes(name: str, seed: int, n: int = 3) -> list[list[str]]:
    wl = workloads.make_workload(name, seed, os.path.join(run.DATA, "sf0.01"), "/w")
    out = [[o.spark_sql or o.query for o in wl.prologue()]]
    out += [[o.spark_sql or o.query for o in wl.next_pass(i)] for i in range(n)]
    return out


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_generator_is_seeded(name):
    assert _passes(name, 3) == _passes(name, 3)
    assert _passes(name, 3) != _passes(name, 4)


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_every_measured_pass_has_the_same_mix(name):
    mixes = {tuple(sorted(o.split(" ")[0] for o in p)) for p in _passes(name, 5, 4)[1:]}
    assert len(mixes) == 1


def test_oracle_checker_rejects_a_wrong_value():
    from pyspark.sql.types import DoubleType, StructField, StructType

    from witdb_spark.queries import QUERIES

    chk = workloads.OracleChecker(SMOKE_SF)
    try:
        want = chk.con.execute(QUERIES["tpch_q6"].oracle).fetchall()
        cols = [d[0] for d in chk.con.description]
        schema = StructType([StructField(c, DoubleType()) for c in cols])
        assert chk.check("tpch_q6", want, schema) == []
        bad = [tuple(v + 1.0 for v in want[0])]
        assert chk.check("tpch_q6", bad, schema)
    finally:
        chk.close()


def test_replay_checker_rejects_a_wrong_row(tmp_path):
    wl = workloads.make_workload("lakehouse_rw", 1, SMOKE_SF, str(tmp_path))
    ctas, read = wl.prologue()[0], wl.final_reads()[0]
    chk = workloads.ReplayChecker(SMOKE_SF)
    try:
        chk.apply(ctas, None, None)
        rows = chk.con.execute(read.duck_sql[0]).fetchall()
        cols = [d[0] for d in chk.con.description]
        assert chk.apply(read, rows, cols) == []
        assert chk.apply(read, rows[1:], cols)
    finally:
        chk.close()


def test_metric_value_parsing():
    mv = tracing.metric_value
    assert mv("6,000") == 6000
    assert mv("285 ms") == 285
    assert mv("114.5 KiB") == 114.5 * 1024
    assert mv("total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") == 1500


def test_self_times():
    spans = [
        {"name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "engine.sql", "parent": 0, "start": 1.0, "end": 5.0},
        {"name": "plans.transpile", "parent": 1, "start": 1.5, "end": 2.5},
        {"name": "collect", "parent": 0, "start": 6.0, "end": 9.0},
    ]
    assert tracing.self_times(spans) == [3.0, 3.0, 1.0, 3.0]


def _stage(sid, run_ms):
    s = {k: 0 for k in ("executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleReadBytes",
                        "shuffleWriteBytes", "inputBytes", "diskBytesSpilled", "numCompleteTasks")}
    s.update(stageId=sid, executorRunTime=run_ms, numCompleteTasks=2)
    return s


def test_attribution_conserves_and_flags_untagged_jobs():
    jobs = [
        {"jobId": 0, "stageIds": [0], "jobTags": ["a"]},
        {"jobId": 1, "stageIds": [0, 1], "jobTags": ["spark-session-x-thread-y-b"]},
    ]
    rest = {"jobs": jobs, "stages": [_stage(0, 5), _stage(1, 7)], "sql": []}
    per, cons, _ = tracing.attribute(rest, {"a", "b"})
    assert cons["ok"]
    assert per["a"]["exec.run_ms"] == 5 and per["b"]["exec.run_ms"] == 7
    assert per["b"]["exec.jobs"] == 1 and per["b"]["exec.tasks"] == 2
    jobs.append({"jobId": 2, "stageIds": [2], "jobTags": []})
    rest["stages"].append(_stage(2, 1))
    _, cons, _ = tracing.attribute(rest, {"a", "b"})
    assert not cons["ok"] and cons["untagged_jobs"] == [2]


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "0", "--trace", str(trace), "--sf", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_workload_smoke(name):
    detail, result = _run(name, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], detail["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert {k: m["unit"] for k, m in result["metrics"].items()} == run.END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())
    if name == "lakehouse_rw":
        # defect (a) stays visible: the Delta DECIMAL(12,2) summary CTAS
        assert [d["op"] for d in detail["known_defects"]] == ["delta.summary_ctas"]


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_traced_smoke(name):
    detail, result = _run(name, 1)
    assert result["correct"], (detail["failures"], detail["conservation"])
    assert detail["conservation"]["ok"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == run.PER_LAYER
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["exec.jobs"] > 0 and m["plans.transpile_calls"] > 0
    by_op = detail["layers_by_op"]
    if name == "read_mix":
        assert m["pyworker.total_ms"] > 0
        # the front door is the difference between a DataFrame op and its SQL twin
        assert by_op["tpch_q1"]["plans.transpile_ms"] == 0
        assert by_op["tpch_sql_q1"]["plans.transpile_ms"] > 0
    else:
        assert m["sources.files_added"] > 0 and m["sources.stored_bytes_per_row"] > 0
