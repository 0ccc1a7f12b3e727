"""Instrumentation for the traced run (`--trace 1`).

Everything here lives in the benchmark; the package is not modified.
The tracer

- gives every lane call its own Spark job group, covering the builder
  call and the action;
- after each lane, outside the lane's timing, reads the stage metrics
  of the lane's jobs from the status store (per-stage lookups);
- collects `StreamingQueryProgress` through a query listener;
- wraps the public store functions of `streaming/components` and
  `plans/materialize.ensure_materialized` to count calls and time;
- keeps spans (pass > lane > builder/action > wrapped function) in
  memory; `spans` is written out when the run ends.
"""

from __future__ import annotations

import functools
import statistics
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

WRAPPED = {
    # metric key -> (module, function names)
    "read_store": ("patientdataintegration_spark.streaming.components",
                   ("read_store", "read_rowstore")),
    "freeze_small": ("patientdataintegration_spark.streaming.components",
                     ("freeze_small",)),
    "compact": ("patientdataintegration_spark.streaming.components",
                ("compact_store",)),
    "materialize": ("patientdataintegration_spark.plans.materialize",
                    ("ensure_materialized",)),
}
STREAM_PHASES = {"addBatch": "add_batch_ms", "queryPlanning": "planning_ms",
                 "walCommit": "wal_commit_ms"}


def max_job_id(spark) -> int:
    """The scheduler's job-id counter: jobs from every thread and job
    group, unlike the retained-job list. Every run, traced or not,
    counts a lane's jobs as its delta."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs() - 1


def codegen_compiles(spark) -> int:
    """Whole-stage and expression classes compiled so far
    (`CodegenMetrics`); read by every run around the timed window."""
    source = spark._jvm.org.apache.spark.metrics.source
    return getattr(source, "CodegenMetrics$").__getattr__("MODULE$") \
        .METRIC_COMPILATION_TIME().getCount()


def _progress_listener(sink: list):
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(dict(event.progress.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.progress: list[dict] = []
        self.fn_calls: dict[str, int] = defaultdict(int)
        self.fn_s: dict[str, float] = defaultdict(float)
        self.materialize_hits = 0
        self.stage_totals: dict[str, float] = defaultdict(float)
        self.record = False  # count only inside the timed window

    # -- spans ---------------------------------------------------------
    def open(self, name: str, level: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": self._stack[-1] if self._stack else None,
                           "name": name, "level": level, "t0": time.time(),
                           "t1": None, **attrs})
        self._stack.append(sid)
        return sid

    def close(self, sid: int, **attrs) -> None:
        self.spans[sid]["t1"] = time.time()
        self.spans[sid].update(attrs)
        if self._stack and self._stack[-1] == sid:
            self._stack.pop()

    # -- install -------------------------------------------------------
    def install(self) -> None:
        self.spark.streams.addListener(_progress_listener(self.progress))
        for key, (mod_name, names) in WRAPPED.items():
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
            for name in names:
                orig = getattr(mod, name)
                self._patch_everywhere(orig, self._wrap(key, name, orig))

    def _patch_everywhere(self, orig, wrapper) -> None:
        # callers that imported the function by name hold their own
        # reference; replace it in every loaded package module
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("patientdataintegration_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)

    def _wrap(self, key: str, name: str, orig):
        from patientdataintegration_spark.plans.materialize import is_materialized

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            hit = None
            if key == "materialize":
                hit = is_materialized(args[0], args[1])
            sid = self.open(name, "function")
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self.close(sid, hit=hit)
                if self.record:
                    self.fn_calls[key] += 1
                    self.fn_s[key] += dt
                    self.materialize_hits += bool(hit)

        return wrapper

    # -- per lane ------------------------------------------------------
    def lane_begin(self, pass_no: int, lane: str) -> None:
        self.sc.setJobGroup(f"pass{pass_no}:{lane}", lane)

    def lane_end(self, job0: int, job1: int) -> None:
        """Outside the lane's timing: wait for the listener bus, then
        read the stages of jobs job0+1..job1 from the status store."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.jsc.listenerBus().waitUntilEmpty()
        if not self.record:
            return
        tracker, store = self.sc.statusTracker(), self.jsc.statusStore()
        stages = set()
        for jid in range(job0 + 1, job1 + 1):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tot = self.stage_totals
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage no longer in the status store
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numTasks()
            tot["executor_run_ms"] += sd.executorRunTime()
            tot["input_bytes"] += sd.inputBytes()
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    # -- JVM counters --------------------------------------------------
    def jvm_counters(self) -> dict:
        jvm = self.spark._jvm
        cg = getattr(jvm.org.apache.spark.sql.catalyst.expressions.codegen,
                     "CodeGenerator$").__getattr__("MODULE$")
        mf = jvm.java.lang.management.ManagementFactory
        live = 0
        for pool in mf.getMemoryPoolMXBeans():
            usage = pool.getCollectionUsage()
            if usage is not None and str(pool.getType()) == "Heap memory":
                live += usage.getUsed()
        return {
            "compile_ns": cg.compileTime(),
            "gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
            "heap_live_bytes": live,
        }

    def stream_summary(self, n_ops: int) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        batches = self.progress
        out = {"streaming.batches": len(batches) / n_ops,
               "streaming.batch_p50_ms": statistics.median(
                   [b.get("triggerExecution", 0) for b in batches]) if batches else 0.0}
        for phase, name in STREAM_PHASES.items():
            out[f"streaming.{name}"] = sum(b.get(phase, 0) for b in batches) / n_ops
        return out
