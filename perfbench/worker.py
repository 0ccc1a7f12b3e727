"""One benchmark run inside its own process: set up, run the timed
passes, check every lane's result of the last pass against its DuckDB
oracle, write a result file.

Started by `run.py`, which gives it an isolated run directory
(TMPDIR, SPARK_LOCAL_DIRS, the generated inputs) and removes it
afterwards. The process is ready, and `setup_s` ends, once the
session is up, every input table has been scanned once and the
workload's stores are built.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import workloads  # noqa: E402
from layertrace import codegen_compiles, max_job_id  # noqa: E402


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build(run_dir: str):
    from patientdataintegration_spark.session import build_session

    tmp = os.path.join(run_dir, "tmp")
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    spark = build_session("perfbench", extra_conf={
        # a fixed-size heap (-Xms = the -Xmx that build_session takes
        # from SPARK_GRAFT_DRIVER_MEM) so RSS does not follow the
        # collector's grow/shrink decisions
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    start_python_workers(spark)
    return spark


def start_python_workers(spark) -> None:
    """Start one Arrow Python worker per core before anything is timed.
    Workers are reused, so they live through the timed window whatever
    lane first needs them; otherwise the lane order would decide for
    how much of the window their memory counts in rss_p50_mb."""
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, cores * 100, 1, cores).mapInPandas(lambda batches: batches, "id long") \
        .write.format("noop").mode("overwrite").save()


def warm_inputs(spark, data: str) -> None:
    """Scan every input table once, in one job."""
    from functools import reduce

    from pyspark.sql import functions as F

    from patientdataintegration_spark.sources.catalog import load_table
    from patientdataintegration_spark.verify import TABLES

    scans = [load_table(spark, data, t).select(F.lit(1).alias("one")) for t in TABLES]
    reduce(lambda x, y: x.unionAll(y), scans).count()


def duck(run_dir: str, data: str):
    import duckdb

    from patientdataintegration_spark.verify import TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(run_dir, 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def check(con, dfs: dict) -> dict:
    """Collect every lane's result of the last timed pass (a lane that
    raised maps to None) and compare it with the lane's DuckDB oracle.
    Lanes collect concurrently and the oracles run beside them; the
    check is outside every timing."""
    from concurrent.futures import ThreadPoolExecutor

    from patientdataintegration_spark.suite import ORACLES
    from patientdataintegration_spark.verify import compare_frames

    def oracles() -> dict:
        cur = con.cursor()
        return {lane: cur.execute(ORACLES[lane]).fetchdf() for lane in dfs}

    def collect(df):
        if df is None:
            raise RuntimeError("the lane raised in the timed pass")
        return df.toPandas()

    bad = {}
    with ThreadPoolExecutor(len(dfs) + 1) as pool:
        expected = pool.submit(oracles)
        got = {lane: pool.submit(collect, df) for lane, df in dfs.items()}
        expected = expected.result()
    for lane, fut in got.items():
        try:
            problems = compare_frames(fut.result(), expected[lane])
        except Exception as e:  # noqa: BLE001 - a raising lane is a failed check
            problems = [f"error: {type(e).__name__}: {e}"]
        if problems:
            bad[lane] = problems[:3]
            _log(f"check FAILED {lane}: {problems[:3]}")
    return {"bad": bad}


def timed_window(spark, data: str, workload: str, seed: int, seconds: float,
                 tracer, jvm_pid: int) -> dict:
    from patientdataintegration_spark.suite import QUERIES

    writes = set(workloads.write_lanes(workload))
    lane_s: dict[str, list[float]] = {lane: [] for lane in workloads.lanes(workload)}
    lane_jobs: dict[str, list[int]] = {lane: [] for lane in workloads.lanes(workload)}
    build_s = action_s = crud_s = serve_s = 0.0
    walls, failed = [], 0
    sampler = procstat.RssSampler(jvm_pid).start()
    t_start = time.perf_counter()
    pass_no = 1
    while True:
        pspan = tracer.open(f"pass{pass_no}", "pass") if tracer else None
        wall, ok, dfs = 0.0, True, {}
        for lane in workloads.pass_order(workload, seed, pass_no):
            job0 = max_job_id(spark)
            if tracer:
                tracer.lane_begin(pass_no, lane)
            lspan = tracer.open(lane, "lane", pass_no=pass_no) if tracer else None
            t0 = time.perf_counter()
            t1 = df = None
            try:
                bspan = tracer.open("builder", "builder") if tracer else None
                df = QUERIES[lane](spark, data)
                t1 = time.perf_counter()
                if tracer:
                    tracer.close(bspan)
                    aspan = tracer.open("action", "action")
                df.write.format("noop").mode("overwrite").save()
                if tracer:
                    tracer.close(aspan)
            except Exception:  # noqa: BLE001 - counted as a failed op
                ok, df = False, None
                _log(f"pass {pass_no} lane {lane} raised:\n{traceback.format_exc()}")
            t2 = time.perf_counter()
            job1 = max_job_id(spark)
            lane_jobs[lane].append(job1 - job0)
            if tracer:
                while tracer._stack and tracer._stack[-1] != lspan:
                    tracer.close(tracer._stack[-1])
                tracer.close(lspan)
                tracer.lane_end(job0, job1)
            dfs[lane] = df
            dt = t2 - t0
            wall += dt
            lane_s[lane].append(dt)
            build_s += (t1 or t2) - t0
            action_s += t2 - (t1 or t2)
            if lane in writes:
                crud_s += dt
            elif writes:
                serve_s += dt
        if tracer:
            tracer.close(pspan, wall=wall)
        walls.append(wall)
        failed += not ok
        if time.perf_counter() - t_start >= seconds:
            break
        pass_no += 1
    window_s = time.perf_counter() - t_start
    rss = sampler.stop() or [procstat.tree_rss_mb(jvm_pid)]
    n = len(walls)
    return {
        "walls": walls, "failed": failed, "window_s": window_s, "lane_s": lane_s,
        "lane_jobs": lane_jobs, "dfs": dfs,
        "rss_p50_mb": statistics.median(j + w for j, w in rss),
        "per_op": {"suite.build_s": build_s / n, "suite.action_s": action_s / n,
                   "streaming.crud_s": crud_s / n, "streaming.serve_s": serve_s / n,
                   "jvm.rss_p50_mb": statistics.median(j for j, _ in rss),
                   "pyworker.rss_p50_mb": statistics.median(w for _, w in rss)},
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--t0", type=float, required=True, help="process spawn time (epoch s)")
    ap.add_argument("--result", required=True)
    a = ap.parse_args()

    load_start = procstat.load1()
    spark = build(a.run_dir)
    boot_s = time.time() - a.t0
    jvm_pid = spark.sparkContext._gateway.proc.pid

    t0 = time.perf_counter()
    warm_inputs(spark, a.data)
    t1 = time.perf_counter()
    workloads.prebuild(spark, a.data, a.workload)
    inputs_s, prebuild_s = t1 - t0, time.perf_counter() - t1
    setup_s = time.time() - a.t0
    _log(f"setup {setup_s:.2f}s (boot {boot_s:.2f}, inputs {inputs_s:.2f}, prebuild {prebuild_s:.2f})")

    tracer = None
    if a.trace:
        from layertrace import Tracer

        tracer = Tracer(spark)
        tracer.install()

    c0 = procstat.cpu_times()
    cpu0 = (procstat.cpu_s(jvm_pid), procstat.tree_cpu_s(jvm_pid), procstat.cpu_s(os.getpid()))
    wb0 = procstat.write_bytes(jvm_pid)
    comp0 = codegen_compiles(spark)
    if tracer:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        tracer.progress.clear()
        jc0 = tracer.jvm_counters()
        tracer.record = True
    win = timed_window(spark, a.data, a.workload, a.seed, a.seconds, tracer, jvm_pid)
    if tracer:
        tracer.record = False
        jc1 = tracer.jvm_counters()
    comp1 = codegen_compiles(spark)
    cpu1 = (procstat.cpu_s(jvm_pid), procstat.tree_cpu_s(jvm_pid), procstat.cpu_s(os.getpid()))
    wb1 = procstat.write_bytes(jvm_pid)
    c1 = procstat.cpu_times()

    con = duck(a.run_dir, a.data)
    t0 = time.perf_counter()
    chk = check(con, win["dfs"])
    check_s = time.perf_counter() - t0
    con.close()
    _log(f"passes {win['walls']}; check {check_s:.2f}s, "
         f"{len(chk['bad'])} lanes failed the check")

    n = len(win["walls"])
    compiles = (comp1 - comp0) / n
    failed = n if chk["bad"] else win["failed"]
    ops_per_min = 60.0 * n / win["window_s"]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    layer = {
        **win["per_op"],
        "proc.cpu_s": (cpu1[0] - cpu0[0]) / n,
        "pyworker.cpu_s": (cpu1[1] - cpu0[1]) / n,
        "cpu_s_per_op": sum(b - a for a, b in zip(cpu0, cpu1)) / n,
        "streaming.disk_write_mb": (wb1 - wb0) / 1e6 / n,
        "session.boot_s": boot_s,
        "session.inputs_s": inputs_s,
        "session.prebuild_s": prebuild_s,
        "session.check_s": check_s,
        "host.steal_pct": procstat.steal_pct(c0, c1),
        "host.load1": load_start,
        "trace.ops_per_min": ops_per_min,
        "spark.jobs": sum(map(sum, win["lane_jobs"].values())) / n,
        "codegen.compiles": compiles,
    }
    all_lanes = [lane for w in workloads.WORKLOADS for lane in workloads.lanes(w)]
    for lane in all_lanes:
        times, jobs = win["lane_s"].get(lane), win["lane_jobs"].get(lane)
        layer[f"suite.{lane}.p50_s"] = statistics.median(times) if times else 0.0
        layer[f"suite.{lane}.jobs"] = statistics.median(jobs) if jobs else 0.0
    if tracer:
        st = tracer.stage_totals
        mat_calls = tracer.fn_calls["materialize"]
        layer.update({
            "spark.stages": st["stages"] / n,
            "spark.tasks": st["tasks"] / n,
            "spark.executor_run_s": st["executor_run_ms"] / 1e3 / n,
            "spark.core_busy_frac": st["executor_run_ms"] / 1e3 / (sum(win["walls"]) * cores),
            "spark.shuffle_read_mb": st["shuffle_read_bytes"] / 1e6 / n,
            "spark.shuffle_write_mb": st["shuffle_write_bytes"] / 1e6 / n,
            "spark.spill_mb": st["spill_bytes"] / 1e6 / n,
            "sources.input_mb": st["input_bytes"] / 1e6 / n,
            "codegen.compile_s": (jc1["compile_ns"] - jc0["compile_ns"]) / 1e9 / n,
            "jvm.gc_s": (jc1["gc_ms"] - jc0["gc_ms"]) / 1e3 / n,
            "jvm.heap_live_mb": jc1["heap_live_bytes"] / 1e6,
            "plans.materialize_hit_ratio": (tracer.materialize_hits / mat_calls) if mat_calls else 0.0,
            **tracer.stream_summary(n),
        })
        for key in ("read_store", "freeze_small", "compact"):
            layer[f"streaming.{key}_calls"] = tracer.fn_calls[key] / n
            layer[f"streaming.{key}_s"] = tracer.fn_s[key] / n

    result = {
        "correct": not chk["bad"] and failed == 0,
        "attempted": n,
        "failed": failed,
        "end_to_end": {
            "ops_per_min": ops_per_min,
            "op_p50_s": statistics.median(win["walls"]),
            "rss_p50_mb": win["rss_p50_mb"],
            "setup_s": setup_s,
        },
        "per_layer": layer,
        "record": {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "pass_walls_s": win["walls"], "window_s": win["window_s"],
            "check_failures": chk["bad"],
            "lane_jobs": win["lane_jobs"], "codegen_compiles": compiles,
            "spans": tracer.spans if tracer else None,
        },
    }
    with open(a.result, "w") as f:
        json.dump(result, f)
    _log(f"result written at {time.time() - a.t0:.1f}s")
    shutdown(spark)
    return 0


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = [proc.pid] + procstat.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    procstat.wait_gone(pids, 10)


if __name__ == "__main__":
    sys.exit(main())
