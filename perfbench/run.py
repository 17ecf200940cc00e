"""GAIT-Spark benchmark: one closed-loop client, one workload per process.

    python3 perfbench/run.py --workload spatial_joins --seed 0 --seconds 15 --trace 0

Run from the root of a checkout.  The process is the PySpark driver on
``local[<cores>]``: it sets up (session, seeded inputs, warm-up, fixtures,
feature count) several times and reports the median as ``setup_s``, then runs
timed passes over the workload's operations until ``--seconds`` have elapsed,
one operation after another.  Each operation is forced by a row count plus an
order-insensitive digest over all of its columns, computed inside Spark, and
compared with the expectation recorded for the seed's input variant; a
mismatch, exception or timeout counts as a failed operation and the run goes
on.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a traced pass in a fresh JVM and the tracing overhead
measured on the warmed JVM (see traced_run and tracing.py).  The
last line of stdout is one JSON object; a copy with per-operation detail goes
to ``.perfbench_out/``.  Everything the run writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import (  # noqa: E402
    FEATURE_VIEWS,
    WORKLOADS,
    variant_of,
    write_fixtures,
    write_inputs,
)

OUT_DIR = os.path.join(ROOT, ".perfbench_out")
EXPECTED = os.path.join(HERE, "expected")
SETUPS = 3
OP_TIMEOUT_S = 90.0
DRIVER_MEM = "4g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "features_per_s": "features/s",
}


# -- environment -------------------------------------------------------------------
def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the JVM spark-submit runs to build the driver command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers import the package from the checkout
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    sys.path.insert(0, ROOT)


def start_session(work: str, event_log: str | None = None):
    from geospatial_analysis_integrity_tool_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    # set either way: the first session's conf persists as JVM system
    # properties and would carry event logging into later sessions
    conf["spark.eventLog.enabled"] = "true" if event_log else "false"
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(wl, variant: int, work: str, event_log: str | None = None):
    """Everything a user pays once per run, not per inspection."""
    from geospatial_analysis_integrity_tool_spark.sources.synthetic import (
        register_geo_views,
    )

    t0 = time.perf_counter()
    spark = start_session(work, event_log)
    sf_dir = write_inputs(variant, os.path.join(work, "data"))
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "fixtures")
    write_fixtures(wl, sf_dir)
    register_geo_views(spark, sf_dir)
    n_features = sum(spark.table(v).count() for v in FEATURE_VIEWS)
    # spawn the Python worker daemons every Arrow kernel reuses
    n = cores()
    spark.range(0, 1024, 1, n).mapInPandas(lambda it: it, schema="id long").count()
    return spark, sf_dir, n_features, time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session, the JVM and every process under this one."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


# -- memory ------------------------------------------------------------------------
def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of the JVM and its Python workers (children of this process)."""

    def __init__(self, interval: float = 0.05):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_ev = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._stop_ev.wait(self.interval):
            total = 0
            for pid in descendants(os.getpid()):
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except OSError:
                    pass
            self.peak = max(self.peak, total)

    def stop(self) -> int:
        self._stop_ev.set()
        self.join()
        return self.peak


# -- operations --------------------------------------------------------------------
def digest_frame(df):
    """Row count and bit_xor(xxhash64) over every column, computed in Spark.

    Unlike count(), this keeps every projected column (including UDF outputs)
    in the plan.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        cols.append(F.to_json(c) if isinstance(f.dataType, MapType) else c)
    return df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h"))


def build(spark, wl, name: str, sf_dir: str):
    if name == "suite_conditions":
        from geospatial_analysis_integrity_tool_spark.suite import suite_conditions

        return suite_conditions(spark, sf_dir, families=wl.suite_families)
    import __spark_entry__

    return __spark_entry__.queries()[name](spark, sf_dir)


def cleanup(spark) -> None:
    for q in spark.streams.active:
        q.stop()
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.endswith("_sink"):
            spark.catalog.dropTempView(t.name)
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def _phase(tracer, name: str):
    return tracer.phase(name) if tracer else nullcontext({})


def run_op(spark, wl, op_id: int, name: str, sf_dir: str, want, tracer=None) -> dict:
    """Build, force and check one operation; never raises."""
    sc = spark.sparkContext
    timed_out = threading.Event()

    def cancel():
        timed_out.set()
        sc.cancelAllJobs()
        for q in spark.streams.active:
            q.stop()

    rec = {"op": op_id, "name": name, "ok": False}
    watchdog = threading.Timer(OP_TIMEOUT_S, cancel)
    watchdog.start()
    if tracer:
        tracer.op_id = op_id
        c0 = tracer.codegen()
    t0 = time.time()
    try:
        with _phase(tracer, "construct") as ph_c:
            df = build(spark, wl, name, sf_dir)
        with _phase(tracer, "force") as ph_f:
            agg = digest_frame(df)
            row = agg.collect()[0]
        rec["rows"], rec["digest"] = int(row["n"]), int(row["h"] or 0)
        rec["ok"] = not timed_out.is_set() and [rec["rows"], rec["digest"]] == want
        if not rec["ok"]:
            print(f"perfbench: {name} gave {rec['rows']} rows digest {rec['digest']}, "
                  f"expected {want}{' (timed out)' if timed_out.is_set() else ''}",
                  file=sys.stderr)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        print(f"perfbench: {name} failed", file=sys.stderr)
    finally:
        watchdog.cancel()
    rec["wall_s"] = time.time() - t0
    if tracer and rec["ok"]:
        c1 = tracer.codegen()
        counts = tracer.op_counts.get(op_id, {})
        counts["compiles"] = c1[0] - c0[0]
        counts["compile_ms"] = c1[1] - c0[1]
        register_s = sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["op"] == op_id and s["name"] == "register"
        )
        plan_s = tracer.plan_seconds(agg._jdf)
        construct = ph_c["end"] - ph_c["start"]
        force = ph_f["end"] - ph_f["start"]
        rec["phases"] = [ph_c, ph_f]
        rec["counts"] = counts
        rec["split"] = {
            "register_s": register_s,
            "construct_s": construct - register_s,
            "plan_s": plan_s,
            "exec_s": force - plan_s,
            "other_s": rec["wall_s"] - construct - force,
        }
    try:
        cleanup(spark)
    except Exception:
        traceback.print_exc(file=sys.stderr)
    return rec


def run_pass(spark, wl, sf_dir: str, expected: dict, tracer=None):
    t0 = time.perf_counter()
    recs = [
        run_op(spark, wl, i, name, sf_dir, expected.get(name), tracer)
        for i, name in enumerate(wl.ops)
    ]
    return time.perf_counter() - t0, recs


def load_expected(workload: str, variant: int) -> dict:
    path = os.path.join(EXPECTED, f"{workload}.json")
    with open(path) as f:
        return json.load(f).get(str(variant), {})


# -- runs --------------------------------------------------------------------------
def timed_run(wl, variant: int, seconds: float, work: str) -> dict:
    expected = load_expected(wl.name, variant)
    spark, setups = None, []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, sf_dir, n_features, dt = setup(wl, variant, os.path.join(work, f"s{i}"))
        setups.append(dt)
    walls, recs = [], []
    t0 = time.perf_counter()
    while not walls or time.perf_counter() - t0 < seconds:
        wall, r = run_pass(spark, wl, sf_dir, expected)
        walls.append(wall)
        recs.extend(r)
    wall = statistics.median(walls)
    return {
        "metrics": {
            "setup_s": statistics.median(setups),
            "wall_s": wall,
            "features_per_s": n_features / wall,
        },
        "ops": recs,
        "detail": {"setups_s": setups, "pass_walls_s": walls, "features": n_features},
    }


def traced_run(wl, variant: int, work: str) -> dict:
    """Per-layer metrics of a traced pass in a fresh JVM, as the timed pass
    runs; then the tracing overhead: a traced pass on the warmed JVM against
    the mean of the untraced passes just before and after it."""
    from tracing import Hooks, Tracer, layer_metrics, parse_event_log

    expected = load_expected(wl.name, variant)
    hooks = Hooks().install()
    walls, peaks, recs, tracers = {}, {}, [], {}
    for step in ("traced", "untraced", "traced_warm", "untraced_after"):
        log_dir = os.path.join(work, f"eventlog-{step}") if "untraced" not in step else None
        spark, sf_dir, _, _ = setup(wl, variant, os.path.join(work, step), log_dir)
        tracer = tracers[step] = Tracer(spark) if log_dir else None
        try:
            if tracer:
                tracer.attach()
            hooks.tracer = tracer
            sampler = RssSampler()
            sampler.start()
            try:
                walls[step], r = run_pass(spark, wl, sf_dir, expected, tracer)
            finally:
                peaks[step] = sampler.stop()
            recs += r
            if tracer:
                tracer.drain_progress()
        finally:
            hooks.tracer = None
            spark.stop()
    ops = [r for r in recs[: len(wl.ops)] if r["ok"]]
    per = parse_event_log(os.path.join(work, "eventlog-traced"), ops)
    metrics = layer_metrics(ops, per, tracers["traced"].progress, cores(),
                            walls["traced"],
                            2 * walls["traced_warm"] / (walls["untraced"] + walls["untraced_after"]),
                            peaks["traced"] / 2**20)
    for r in ops:
        r["engine"] = {ph: v for (op, ph), v in per.items() if op == r["op"]}
    return {
        "metrics": metrics,
        "ops": recs,
        "detail": {"pass_walls_s": walls, "spans": tracers["traced"].spans,
                   "progress": tracers["traced"].progress},
    }


def print_ops(recs: list[dict]) -> None:
    for r in recs:
        line = f"  {r['name']:<28} {r['wall_s']:7.2f} s  ok={r['ok']}"
        if "split" in r:
            line += "  " + "  ".join(f"{k}={v:.2f}" for k, v in r["split"].items())
        print(line, file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: no GAIT-Spark checkout at {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    variant = variant_of(args.seed)
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-{os.getpid()}")
    prepare_env(work)
    import __spark_entry__  # noqa: F401  (imports every query module)

    from pyspark.sql import SparkSession

    try:
        if args.trace:
            from tracing import LAYER_METRICS

            res = traced_run(wl, variant, work)
            units = {k: u for k, (u, _) in LAYER_METRICS.items()}
        else:
            res = timed_run(wl, variant, args.seconds, work)
            units = END_TO_END
    finally:
        shutdown(SparkSession.getActiveSession())
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not r["ok"] for r in res["ops"])
    out = {
        "correct": failed == 0,
        "attempted": len(res["ops"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()},
    }
    print_ops(res["ops"])
    for k, v in res["metrics"].items():
        print(f"  {k} = {v:.6g} {units[k]}", file=sys.stderr)
    os.makedirs(OUT_DIR, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(
        OUT_DIR, f"{wl.name}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    ), "w") as f:
        json.dump({"workload": wl.name, "seed": args.seed, "variant": variant,
                   "trace": args.trace, **out, **res}, f, default=str)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
