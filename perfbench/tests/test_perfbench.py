"""The benchmark's own tests: metric lists, event-log attribution, smoke
runs of each workload, and counters that must repeat across traced runs.

Run from the repository root: ``python -m pytest perfbench/tests -q``
(the smoke runs start Spark, a few minutes in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from spans import parse_event_log  # noqa: E402

# counters that depend only on the seed and the plan, never on timing
EXACT_SUFFIXES = (".rows", ".points", ".stages", ".files", ".input_rows")


def _bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def _smoke(workload: str, seed: int, trace: int) -> dict:
    code, out = _bench("--workload", workload, "--seed", str(seed), "--seconds", "1",
                       "--trace", str(trace), "--scale", "smoke")
    result = json.loads(out[-1])
    assert code == 0 and result["correct"] and result["failed"] == 0, out[-1]
    assert result["attempted"] >= 1
    return result


def test_benchmark_json_matches_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_event_log_credits_stages_to_span(tmp_path):
    def task(stage, run_ms, shuffle, py_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
                "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": py_ms}]},
                "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 5,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                                 "Disk Bytes Spilled": 0, "Peak Execution Memory": 2_000_000,
                                 "Input Metrics": {"Records Read": 10}}}

    def stage(kind, sid, desc=None):
        e = {"Event": kind, "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0}}
        if desc is not None:
            e["Properties"] = {"spark.job.description": desc}
        return e

    events = [
        stage("SparkListenerStageSubmitted", 0, "t0|rollup.write_1m"),
        task(0, 1500, 3_000_000, 400), task(0, 500, 1_000_000, 100),
        stage("SparkListenerStageCompleted", 0),
        stage("SparkListenerStageSubmitted", 1, None),  # outside any span
        task(1, 9000, 0, 0),
        stage("SparkListenerStageCompleted", 1),
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    log = parse_event_log(str(path))
    assert set(log) == {("t0", "rollup.write_1m")}
    c = log[("t0", "rollup.write_1m")]
    assert c["stages"] == 1 and c["input_rows"] == 20
    assert c["task_s"] == pytest.approx(2.0) and c["py_s"] == pytest.approx(0.5)
    assert c["shuffle_mb"] == pytest.approx(4.0) and c["peak_mem_mb"] == pytest.approx(2.0)


def test_corpus_inputs_follow_the_seed(tmp_path):
    import pyarrow.parquet as pq

    from inputs import CORPUS, write_corpus

    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        write_corpus(str(tmp_path / name), seed, CORPUS["smoke"])
    docs = {n: pq.read_table(tmp_path / n / "documents.parquet") for n in "abc"}
    assert docs["a"].equals(docs["b"]) and not docs["a"].equals(docs["c"])


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    code, out = _bench("--workload", "corpus", "--seed", "1", "--seconds", "1", "--trace", "0",
                       cwd=str(tmp_path))
    assert code != 0 and not any(line.startswith("{") for line in out)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run(workload):
    result = _smoke(workload, seed=5, trace=0)
    metrics = result["metrics"]
    assert {n: m["unit"] for n, m in metrics.items()} == run.END_TO_END
    assert all(m["value"] > 0 for m in metrics.values())


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_counts_repeat(workload):
    first, second = (_smoke(workload, seed=6, trace=1)["metrics"] for _ in range(2))
    assert set(first) == set(run.per_layer_units())
    exact = [n for n in first if n.endswith(EXACT_SUFFIXES)]
    assert any(first[n]["value"] for n in exact)
    assert {n: first[n]["value"] for n in exact} == {n: second[n]["value"] for n in exact}
