"""The benchmark's own tests: input determinism, seeded lane order, and a
smoke run of each workload at sf0.001 checked against the output
contract in BENCHMARK.json.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _digest(d: str) -> str:
    h = hashlib.md5()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_inputs_repeat(tmp_path):
    a, b = (str(tmp_path / x) for x in "ab")
    datagen.write_tables(a, workloads.SMOKE_SCALE, workloads.DATA_SEED)
    datagen.write_tables(b, workloads.SMOKE_SCALE, workloads.DATA_SEED)
    assert _digest(a) == _digest(b)


def test_pass_order_is_seeded_and_alternates():
    for wl in workloads.WORKLOADS:
        order = workloads.pass_order(wl, 3, 1)
        assert sorted(order) == sorted(workloads.lanes(wl))
        assert order == workloads.pass_order(wl, 3, 1)
        assert len({tuple(workloads.pass_order(wl, seed, 1)) for seed in range(10)}) > 1
    order = workloads.pass_order("store_rw", 3, 1)
    writes = set(workloads.write_lanes("store_rw"))
    assert [lane in writes for lane in order] == [True, False] * 3


def test_spec_names_match_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_meets_contract(workload, trace):
    out = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
               "--trace", str(trace), "--smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == \
        {m["name"]: m["unit"] for m in wanted}
    if trace == 0:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    else:
        lane_jobs = [res["metrics"][f"suite.{lane}.jobs"]["value"]
                     for lane in workloads.lanes(workload)]
        assert all(j > 0 for j in lane_jobs)
        assert res["metrics"]["codegen.compiles"]["value"] > 0
    assert not os.listdir(os.path.join(HERE, ".state"))


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".state", ".records", "__pycache__"))
    out = _run(str(tmp_path), "--workload", "pdi_lifecycle", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout.strip() == ""
