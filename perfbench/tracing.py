"""Traced-run instrumentation: spans from the benchmark's side, JVM counters,
and the per-layer split derived from a Spark event log.

Nothing here is active in an untraced run.  A traced run:

* wraps the package's source-view registration functions and
  ``Observation.get`` (one call per converged-loop round) so their calls
  become spans and counts;
* tags every Spark job with a job group ``perfbench-<op>-<phase>``;
* reads ``QueryExecution.tracker`` phases of each forcing query and the JVM
  ``CodegenMetrics`` histogram around each operation;
* listens to streaming progress;
* parses the uncompressed ``file://`` event log after the session stops.

Spans are kept in memory and written out at the end of the run.
"""

from __future__ import annotations

import glob
import json
import statistics
import sys
import time
from contextlib import contextmanager

PKG = "geospatial_analysis_integrity_tool_spark"

#: physical operators that run the package's Python/Arrow kernels
PYTHON_NODES = (
    "MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
    "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow", "AggregateInPandas",
    "ArrowWindowPython", "WindowInPandas", "PythonMapInArrow",
)

#: SQL metric of a Python node -> counter (timings are published in ms)
PYTHON_METRICS = {
    "number of output rows": "py_rows_out",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_start_ms",
}

#: per-layer metrics a traced run reports, in BENCHMARK.json order:
#: name -> (unit, better)
LAYER_METRICS = {
    "sources.register_s": ("s", "lower"),
    "sources.register_calls": ("count", "lower"),
    "queries.construct_s": ("s", "lower"),
    "queries.construct_jobs": ("count", "lower"),
    "catalyst.plan_s": ("s", "lower"),
    "codegen.compiles": ("count", "lower"),
    "codegen.compile_s": ("s", "lower"),
    "exec.action_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.slot_busy_ratio": ("ratio", "higher"),
    "shuffle.write_bytes": ("bytes", "lower"),
    "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "spill.disk_bytes": ("bytes", "lower"),
    "spill.memory_bytes": ("bytes", "lower"),
    "python.rows_out": ("count", "lower"),
    "python.bytes_in": ("bytes", "lower"),
    "python.bytes_out": ("bytes", "lower"),
    "python.worker_s": ("s", "lower"),
    "python.worker_start_s": ("s", "lower"),
    "loops.rounds": ("count", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.batch_ms_p50": ("ms", "lower"),
    "streaming.batch_ms_max": ("ms", "lower"),
    "streaming.addbatch_ms": ("ms", "lower"),
    "streaming.commit_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mem_bytes": ("bytes", "lower"),
    "io.output_bytes": ("bytes", "lower"),
    "mem.peak_rss_mb": ("MB", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}


class Tracer:
    """Spans and counters for one traced pass (single client thread)."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = -1
        self.op_counts: dict[int, dict[str, float]] = {}
        self.progress: list[dict] = []
        jvm = spark.sparkContext._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._arrays = jvm.java.util.Arrays

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def count(self, key: str) -> None:
        c = self.op_counts.setdefault(self.op_id, {})
        c[key] = c.get(key, 0) + 1

    @contextmanager
    def phase(self, phase: str):
        """A span that also tags the Spark jobs it launches."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{self.op_id}-{phase}", phase)
        try:
            with self.span(phase) as rec:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    # -- JVM counters ----------------------------------------------------------
    def codegen(self) -> tuple[int, float]:
        """(compilations, summed compile ms) from the JVM histogram."""
        h = self._codegen.METRIC_COMPILATION_TIME()
        vals = h.getSnapshot().getValues()
        return int(h.getCount()), float(self._arrays.stream(vals).sum())

    @staticmethod
    def plan_seconds(jdf) -> float:
        """Analysis + optimization + planning time of a forced query."""
        it = jdf.queryExecution().tracker().phases().values().iterator()
        ms = 0
        while it.hasNext():
            ms += it.next().durationMs()
        return ms / 1000.0

    def attach(self) -> None:
        self.spark.streams.addListener(_progress_listener(self))

    def drain_progress(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
        """Wait until streaming progress events stop arriving."""
        t_end = time.time() + limit_s
        n = -1
        while time.time() < t_end and n != len(self.progress):
            n = len(self.progress)
            time.sleep(quiet_s)


class Hooks:
    """Wraps registration and loop-round calls the package makes.

    Installed once per process; the wrappers record into ``tracer`` while it
    is set and pass straight through otherwise.
    """

    def __init__(self):
        self.tracer: Tracer | None = None

    def install(self) -> "Hooks":
        from pyspark.sql.observation import Observation

        from geospatial_analysis_integrity_tool_spark.sources import synthetic

        def wrap(fn):
            def traced(*a, **k):
                t = self.tracer
                if t is None or any(t.spans[i]["name"] == "register" for i in t._stack):
                    return fn(*a, **k)
                t.count("register_calls")
                with t.span("register"):
                    return fn(*a, **k)

            traced.__wrapped__ = fn
            return traced

        wrapped = {
            id(f): wrap(f)
            for f in (synthetic.register_testdata_views, synthetic.register_geo_views)
        }
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in wrapped:
                    setattr(mod, attr, wrapped[id(val)])

        get = Observation.get

        def observed(obs):
            if self.tracer is not None:
                self.tracer.count("loop_rounds")
            return get.fget(obs)

        Observation.get = property(observed)
        return self


def _progress_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = dict(p.durationMs or {})
            rec = {
                "t": time.time(),
                "batch_ms": d.get("triggerExecution", p.batchDuration),
                "addbatch_ms": d.get("addBatch", 0),
                "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
            tracer.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


# -- event log -------------------------------------------------------------------
def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Collect accumulator ids -> metric name of Python-kernel plan nodes."""
    name = plan.get("nodeName", "")
    if any(name.startswith(n) for n in PYTHON_NODES):
        for m in plan.get("metrics", []):
            out[int(m["accumulatorId"])] = m["name"]
    for c in plan.get("children", []):
        _python_accumulators(c, out)


def parse_event_log(log_dir: str, ops: list[dict]) -> dict:
    """Engine counters of the traced pass per (operation id, phase).

    ``ops`` holds each operation's id and its phase windows.  A job belongs to
    the op/phase in its job group; jobs from other groups (streaming
    micro-batches) are placed by submission time.  Jobs outside every window
    (set-up) are ignored.
    """
    files = glob.glob(f"{log_dir}/*")
    if len(files) != 1 or files[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log under {log_dir}: {files}")
    windows = [
        (ph["start"] * 1000, ph["end"] * 1000, op["op"], ph["name"])
        for op in ops for ph in op["phases"]
    ]
    stage_owner: dict[int, tuple[int, str]] = {}
    py_acc: dict[int, str] = {}
    per: dict[tuple[int, str], dict[str, float]] = {}

    def bump(key, name, v):
        d = per.setdefault(key, {})
        d[name] = d.get(name, 0) + v

    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                owner = None
                if grp.startswith("perfbench-"):
                    _, op, ph = grp.split("-", 2)
                    owner = (int(op), ph)
                else:
                    t = ev["Submission Time"]
                    for s, e, op, ph in windows:
                        if s <= t <= e:
                            owner = (op, ph)
                            break
                if owner is None:
                    continue
                bump(owner, "jobs", 1)
                for sid in ev.get("Stage IDs", []):
                    stage_owner.setdefault(sid, owner)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_owner and "Completion Time" in ev["Stage Info"]:
                    bump(stage_owner[sid], "stages", 1)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
            elif kind == "SparkListenerTaskEnd":
                owner = stage_owner.get(ev["Stage ID"])
                if owner is None:
                    continue
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                bump(owner, "tasks", 1)
                bump(owner, "task_run_s", m.get("Executor Run Time", 0) / 1e3)
                bump(owner, "task_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
                bump(owner, "gc_s", m.get("JVM GC Time", 0) / 1e3)
                bump(owner, "spill_memory", m.get("Memory Bytes Spilled", 0))
                bump(owner, "spill_disk", m.get("Disk Bytes Spilled", 0))
                sr = m.get("Shuffle Read Metrics") or {}
                bump(owner, "shuffle_read",
                     sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                bump(owner, "fetch_wait_s", sr.get("Fetch Wait Time", 0) / 1e3)
                sw = m.get("Shuffle Write Metrics") or {}
                bump(owner, "shuffle_write", sw.get("Shuffle Bytes Written", 0))
                om = m.get("Output Metrics") or {}
                bump(owner, "output_bytes", om.get("Bytes Written", 0))
                for acc in info.get("Accumulables", []):
                    name = py_acc.get(int(acc.get("ID", -1)))
                    if name is None or "Update" not in acc:
                        continue
                    v = float(acc["Update"])
                    key = PYTHON_METRICS.get(name)
                    if key:
                        bump(owner, key, v)
    return per


def layer_metrics(ops: list[dict], per: dict, progress: list[dict],
                  cores: int, traced_wall: float, overhead: float,
                  peak_rss_mb: float) -> dict:
    """Fold spans, per-op counters and engine counters into LAYER_METRICS."""
    def tot(key, phase=None):
        return sum(
            v.get(key, 0) for (op, ph), v in per.items()
            if phase is None or ph == phase
        )

    action_s = sum(o["split"]["exec_s"] for o in ops)
    task_run_force = tot("task_run_s", "force")
    batch = [p["batch_ms"] for p in progress]
    m = {
        "sources.register_s": sum(o["split"]["register_s"] for o in ops),
        "sources.register_calls": sum(o["counts"].get("register_calls", 0) for o in ops),
        "queries.construct_s": sum(o["split"]["construct_s"] for o in ops),
        "queries.construct_jobs": tot("jobs", "construct"),
        "catalyst.plan_s": sum(o["split"]["plan_s"] for o in ops),
        "codegen.compiles": sum(o["counts"].get("compiles", 0) for o in ops),
        "codegen.compile_s": sum(o["counts"].get("compile_ms", 0) for o in ops) / 1e3,
        "exec.action_s": action_s,
        "exec.jobs": tot("jobs"),
        "exec.stages": tot("stages"),
        "exec.tasks": tot("tasks"),
        "exec.task_run_s": tot("task_run_s"),
        "exec.task_cpu_s": tot("task_cpu_s"),
        "exec.gc_s": tot("gc_s"),
        "exec.slot_busy_ratio": task_run_force / (action_s * cores) if action_s else 0.0,
        "shuffle.write_bytes": tot("shuffle_write"),
        "shuffle.read_bytes": tot("shuffle_read"),
        "shuffle.fetch_wait_s": tot("fetch_wait_s"),
        "spill.disk_bytes": tot("spill_disk"),
        "spill.memory_bytes": tot("spill_memory"),
        "python.rows_out": tot("py_rows_out"),
        "python.bytes_in": tot("py_bytes_in"),
        "python.bytes_out": tot("py_bytes_out"),
        "python.worker_s": tot("py_run_ms") / 1e3,
        "python.worker_start_s": tot("py_start_ms") / 1e3,
        "loops.rounds": sum(o["counts"].get("loop_rounds", 0) for o in ops),
        "streaming.batches": len(batch),
        "streaming.batch_ms_p50": statistics.median(batch) if batch else 0.0,
        "streaming.batch_ms_max": max(batch) if batch else 0.0,
        "streaming.addbatch_ms": sum(p["addbatch_ms"] for p in progress),
        "streaming.commit_ms": sum(p["commit_ms"] for p in progress),
        "streaming.state_rows": max((p["state_rows"] for p in progress), default=0),
        "streaming.state_mem_bytes": max((p["state_mem"] for p in progress), default=0),
        "io.output_bytes": tot("output_bytes"),
        "mem.peak_rss_mb": peak_rss_mb,
        "trace.wall_s": traced_wall,
        "trace.overhead_ratio": overhead,
    }
    assert set(m) == set(LAYER_METRICS)
    return m
