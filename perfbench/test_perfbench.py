"""The benchmark's own test: smoke-size runs pin the result schema, metric
names and units against BENCHMARK.json; the helpers the checks rely on are
tested against hand-made cases.

    python3 -m pytest perfbench/test_perfbench.py -q

Each smoke run starts its own Spark session (about a minute per traced
run on a 4-vCPU host).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=400)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail, res = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(res["correct"], bool)
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int) and 0 <= res["failed"] <= res["attempted"]
    for m in res["metrics"].values():
        assert set(m) == {"value", "unit"} and isinstance(m["value"], float)
    stamp = detail["perfbench"]["stamp"]
    for key in ("nproc", "ram_gb", "spark", "pyarrow", "numpy", "commit", "seed"):
        assert key in stamp
    assert detail["perfbench"]["failed_frac"]["unit"] == "ratio"
    return res


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_reports_every_end_to_end_metric(workload):
    res = _result(_run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
                       "--trace", "0", "--size", "smoke"))
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_reports_every_per_layer_metric(workload):
    res = _result(_run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
                       "--trace", "1", "--size", "smoke"))
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    # the layers each workload calls report something (others read 0)
    called = {"backfill_online": ("backfill.chunks", "pit_join.scan_rows",
                                  "arrow_engine.python_s", "catalog.files_written",
                                  "fetcher.upload_batch_s", "kv.calls_per_fetch"),
              "training_prep": ("pit_join.scan_rows", "arrow_engine.python_s",
                                "approx_engine.python_s", "join.jobs",
                                "dedup.candidate_pairs", "dedup.cc_rounds")}[workload]
    for name in ("session.start_s", *called):
        assert res["metrics"][name]["value"] > 0, name


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_union_find_groups_label_components_by_min_id():
    from workloads import union_find_groups

    assert union_find_groups([1, 2, 3, 4, 5], [(4, 2), (2, 5)]) == {
        1: 1, 2: 2, 3: 3, 4: 2, 5: 2}


def test_same_compares_cells_across_engines():
    from oracle import same

    assert same(None, float("nan"))
    assert same(3, 3.0)
    assert not same(None, 0)
    assert same({"key": ["a", "b"], "value": [1, 2]}, {"b": 2, "a": 1})
    assert same(["x", "y"], ("x", "y"))
    assert not same(1.0, 1.001)


def test_self_time_subtracts_overlapping_children():
    from tracing import Tracer

    tr = Tracer(enabled=True)
    tr.spans = [
        {"id": 0, "name": "run", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "c", "parent": 1, "start": 1.5, "end": 2.0},
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(6.0)
    assert tr.descendants({"a"}) == {1, 3}
