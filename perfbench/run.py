"""Benchmark entry point.

    python3 perfbench/run.py --workload pdi_lifecycle --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run gets a fresh run directory
under `perfbench/.state/` holding its TMPDIR, SPARK_LOCAL_DIRS, the
stores and the input tables, which this process generates from the
fixed `workloads.DATA_SEED` before any timing starts (`--seed` sets
only the lane order). Spark runs in a worker process (`worker.py`);
`setup_s` is the time from its spawn until it is ready. This process reaps every process the worker
leaves behind, removes the run directory and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`) named in
BENCHMARK.json. The full record of the run (every metric, host steal
and load, pass walls, jobs per lane, spans) is kept under
`perfbench/.records/`.

`--smoke` runs at sf0.001 for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procstat  # noqa: E402
import workloads  # noqa: E402

CORES = "4"
DRIVER_MEM = "1g"
RUN_LIMIT_S = 170
PR_SET_CHILD_SUBREAPER = 36


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def reap_all(grace_s: float = 10.0) -> None:
    """Terminate and wait for every remaining descendant. As child
    subreaper this process inherits the worker's orphans (the JVM and
    its Python daemon), so none outlives the run."""
    sig, deadline = signal.SIGTERM, time.time() + grace_s
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = procstat.descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    t_start = time.time()

    if a.workload not in workloads.WORKLOADS:
        return _fail(f"unknown workload {a.workload!r}")
    if not os.path.isfile(os.path.join(ROOT, "patientdataintegration_spark", "__init__.py")):
        return _fail("run from a checkout of the repository: the package is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        return _fail(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")

    run_dir = os.path.join(HERE, ".state", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    sf = workloads.SMOKE_SCALE if a.smoke else workloads.SCALE
    data = os.path.join(run_dir, "data")
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": CORES,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # spark-submit's launcher JVM: no hsperfdata file under /tmp
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    try:
        datagen.write_tables(data, sf, workloads.DATA_SEED)
        with open(log_path, "w") as log:
            t_spawn = time.time()
            cmd = [sys.executable, os.path.join(HERE, "worker.py"),
                   "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--run-dir", run_dir, "--data", data,
                   "--t0", repr(t_spawn), "--result", result_path]
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S - (time.time() - t_start))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = "timeout"
        reap_all()
        with open(log_path) as f:
            log_text = f.read()
        result = None
        if rc == 0 and os.path.isfile(result_path):
            with open(result_path) as f:
                result = json.load(f)
    finally:
        reap_all()
        shutil.rmtree(run_dir, ignore_errors=True)

    sys.stderr.write("\n".join(l for l in log_text.splitlines() if l.startswith("[perfbench]")) + "\n")
    if result is None:
        sys.stderr.write(log_text[-4000:])
        return _fail(f"worker failed ({rc})")

    values = result["per_layer" if a.trace else "end_to_end"]
    names = {m["name"] for m in wanted}
    if set(values) != names:
        return _fail(f"metric set differs from BENCHMARK.json: "
                     f"missing {sorted(names - set(values))}, extra {sorted(set(values) - names)}")
    result["record"]["sf"] = sf
    records = os.path.join(HERE, ".records")
    os.makedirs(records, exist_ok=True)
    rec = os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t_start)}.json")
    with open(rec, "w") as f:
        json.dump(result, f)
    host = result["per_layer"]
    print(f"perfbench: host steal {host['host.steal_pct']:.2f}% load1 {host['host.load1']:.2f}; "
          f"run {time.time() - t_start:.1f}s; record {os.path.relpath(rec, ROOT)}",
          file=sys.stderr)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
