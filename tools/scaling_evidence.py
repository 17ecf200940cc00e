"""Scaling-evidence harness (BASELINE.md §3 protocol).

The north rule's two-cluster-size criterion, evidenced in-sandbox: the SAME
check job over the SAME parquet input at local[8] and local[32].

    python tools/scaling_evidence.py gen      # build input once (untimed)
    python tools/scaling_evidence.py run 8    # one timed run -> JSON line
    python tools/scaling_evidence.py main     # full protocol -> report JSON

The job is the engine's check stage (compute-bound, shuffle-real):
  1. PIP spatial hash join: 8M points x 200 12-gon zones (ray-cast kernel)
  2. k-ring proximity self-join: 300k sites, 500 m tolerance (JVM distance)
  3. single-feature checks on 3M 24-vertex lines (edge stats + LOOPS
     segment-pair kernel) -> scalable two-phase consolidation
Input generation is deterministic (pure functions of ids) and excluded from
timing.  Each run reports per-stage wall, rows, and a bit_xor content hash;
`main` asserts the hashes match across parallelism levels (the
parallelism-invariance contract) and computes efficiency = (T8/T32)/4.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

INPUT_DIR = os.environ.get("GAIT_SCALING_INPUT", "/tmp/gait_scaling_input")
N_POINTS = 16_000_000
N_ZONES = 200
N_SITES = 600_000
N_LINES = 4_000_000
N_VERTS = 24
PROX_TOL_M = 500.0


def _spark(cpus: int):
    from geospatial_analysis_integrity_tool_spark.session import get_spark

    s = get_spark(
        f"gait-scaling-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        # small inputs (100MB-1.5GB) need fine splits or task parallelism
        # caps at a handful regardless of cores (SCALE.md sizing rule)
        extra_conf={"spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024)},
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def gen() -> None:
    if os.path.exists(os.path.join(INPUT_DIR, "_SUCCESS_ALL")):
        print("input exists:", INPUT_DIR)
        return
    spark = _spark(32)
    points = spark.range(N_POINTS).selectExpr(
        "id AS point_id",
        "CAST((id * 9973) % 7200000 AS DOUBLE) / 20000.0 - 180.0 AS lon",
        "CAST((id * 7919) % 2400000 AS DOUBLE) / 20000.0 - 60.0 AS lat",
    )
    points.write.mode("overwrite").parquet(f"{INPUT_DIR}/points")
    # 12-gon zones: center from id, radius ~6 deg, vertices via poly-cos-free
    # rational ring offsets (fixed 12 offsets, non-round to avoid lattice hits)
    offs = [
        (6.01234, 0.0123), (5.2071, 3.0172), (3.0183, 5.2041), (0.0147, 6.0092),
        (-3.0121, 5.2113), (-5.2167, 3.0091), (-6.0151, 0.0172), (-5.2033, -3.0147),
        (-3.0092, -5.2171), (-0.0133, -6.0141), (3.0151, -5.2093), (5.2123, -3.0061),
    ]
    xs = "array(" + ", ".join(f"cx + {dx}" for dx, _ in offs) + ")"
    ys = "array(" + ", ".join(f"cy + {dy}" for _, dy in offs) + ")"
    zones = spark.range(N_ZONES).selectExpr(
        "id AS zone_id",
        "CAST((id * 2641) % 6400 AS DOUBLE) / 20.0 - 160.0 AS cx",
        "CAST((id * 1871) % 1600 AS DOUBLE) / 20.0 - 40.0 AS cy",
    ).selectExpr("zone_id", f"{xs} AS xs", f"{ys} AS ys")
    zones.write.mode("overwrite").parquet(f"{INPUT_DIR}/zones")
    sites = spark.range(N_SITES).selectExpr(
        "id AS site_id",
        "CAST((id * 641) % 4000000 AS DOUBLE) / 1000000.0 + 10.0 AS lon",
        "CAST((id * 331) % 4000000 AS DOUBLE) / 1000000.0 + 40.0 AS lat",
    )
    sites.write.mode("overwrite").parquet(f"{INPUT_DIR}/sites")
    # 24-vertex wiggly lines; every 37th gets a planted self-crossing tail
    vx = ", ".join(
        f"x0 + CAST({i} AS DOUBLE) / 2000.0"
        if i < N_VERTS - 1
        else "x0 + CASE WHEN feature_id % 37 = 0 THEN 0.0005 ELSE CAST(23 AS DOUBLE) / 2000.0 END"
        for i in range(N_VERTS)
    )
    vy = ", ".join(
        f"y0 + CAST((feature_id * {7 + i}) % 11 AS DOUBLE) / 20000.0"
        if i < N_VERTS - 1
        else "y0 + CASE WHEN feature_id % 37 = 0 THEN -0.0008 ELSE CAST((feature_id * 31) % 11 AS DOUBLE) / 20000.0 END"
        for i in range(N_VERTS)
    )
    lines = spark.range(N_LINES).selectExpr(
        "id AS feature_id",
        "CASE CAST(id % 3 AS INT) WHEN 0 THEN 'AP030' WHEN 1 THEN 'AT030' ELSE 'AN010' END AS fcode",
        "CAST(2 AS INT) AS geom_type",
        "CAST((id * 487) % 4000000 AS DOUBLE) / 1000000.0 + 10.0 AS x0",
        "CAST((id * 257) % 4000000 AS DOUBLE) / 1000000.0 + 40.0 AS y0",
    ).selectExpr(
        "feature_id", "fcode", "geom_type", f"array({vx}) AS xs", f"array({vy}) AS ys"
    )
    lines.write.mode("overwrite").parquet(f"{INPUT_DIR}/lines")
    open(os.path.join(INPUT_DIR, "_SUCCESS_ALL"), "w").write("ok")
    spark.stop()
    print("generated:", INPUT_DIR)


def _hash_count(df):
    from pyspark.sql import functions as F

    cols = ", ".join(df.columns)
    row = df.agg(
        F.count("*").alias("n"), F.expr(f"bit_xor(xxhash64({cols}))").alias("h")
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def run(cpus: int) -> dict:
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.conditions import (
        consolidate_scalable,
    )
    from geospatial_analysis_integrity_tool_spark.operators.checks_single import (
        single_feature_checks,
    )
    from geospatial_analysis_integrity_tool_spark.operators.pip import pip_join
    from geospatial_analysis_integrity_tool_spark.operators.proximity import (
        point_proximity_pairs,
    )

    spark = _spark(cpus)
    points = spark.read.parquet(f"{INPUT_DIR}/points")
    zones = spark.read.parquet(f"{INPUT_DIR}/zones")
    sites = spark.read.parquet(f"{INPUT_DIR}/sites")
    lines = spark.read.parquet(f"{INPUT_DIR}/lines")
    # warm the page cache / JVM (untimed)
    points.count(), zones.count(), sites.count(), lines.count()

    def _stat(df, name):
        cols = ", ".join(df.columns)
        return df.agg(
            F.count("*").alias("rows"),
            F.expr(f"bit_xor(xxhash64({cols}))").alias("hash"),
        ).select(F.lit(name).alias("stage"), "rows", "hash")

    pip = pip_join(points, zones, point_id="point_id", poly_id="zone_id", cell_deg=4.0)
    prox = point_proximity_pairs(
        sites, id_col="site_id", tol_m=PROX_TOL_M, max_abs_lat_deg=44.1
    )
    conds = single_feature_checks(lines)
    conds = conds.select(
        "errtype",
        F.lit(1).alias("instance"),
        F.lit(0).cast("bigint").alias("cond_num"),
        "magnitude_mm",
        F.expr("CAST(feature_id AS STRING)").alias("sedrisid"),
        "geom_kind",
        F.expr("pmod(xxhash64(feature_id), 1024)").alias("cell"),
    )
    consolidated = consolidate_scalable(conds, order_keys=["magnitude_mm", "sedrisid"])

    # ONE action for all three stage DAGs: branches overlap (python-kernel
    # stages run while JVM shuffle stages proceed), fixed costs paid once
    out: dict = {"cpus": cpus, "stages": {}}
    t_all = time.time()
    stats = (
        _stat(pip.select("point_id", "zone_id"), "pip")
        .unionAll(_stat(prox, "proximity"))
        .unionAll(_stat(consolidated, "single_checks"))
        .collect()
    )
    out["total_sec"] = round(time.time() - t_all, 2)
    for r in stats:
        out["stages"][r["stage"]] = {"rows": int(r["rows"]), "hash": int(r["hash"] or 0)}
    # stage-decomposed timings (round-5 verdict item 8): each stage as its
    # own action, so the 8->32 ratio can be attributed per stage —
    # pip / single_checks are codegen+Arrow-kernel bound, proximity is
    # shuffle/bandwidth bound.  Adds one extra pass per stage; the combined
    # run above stays the headline number.
    out["stage_wall"] = {}
    for name, df in (
        ("pip", pip.select("point_id", "zone_id")),
        ("proximity", prox),
        ("single_checks", consolidated),
    ):
        t0 = time.time()
        _stat(df, name).collect()
        out["stage_wall"][name] = round(time.time() - t0, 2)
    nfeat = N_POINTS + N_SITES + N_LINES
    out["features_per_sec"] = round(nfeat / out["total_sec"], 1)
    spark.stop()
    return out


def _ceiling_work(_):
    import numpy as np

    a = np.random.default_rng(0).uniform(size=200_000)
    acc = 0.0
    for _i in range(400):
        acc += float((a * 1.000001 + 0.5).sum())
    return acc


_STREAM_A = None


def _stream_init():
    # 160 MB per worker, written once at pool start (untimed) — defeats every
    # cache level so the timed reads stream from DRAM.
    global _STREAM_A
    import numpy as np

    _STREAM_A = np.empty(20_000_000)
    _STREAM_A[:] = 1.0000001


def _stream_warm(_):
    return float(_STREAM_A[:100].sum())


def _stream_sum(_):
    # pure-read stream, no temporaries (A*k would allocate 160 MB per call
    # and the page churn of 32 concurrent allocators swamps the signal)
    acc = 0.0
    for _i in range(16):
        acc += float(_STREAM_A.sum())
    return acc


def machine_ceiling() -> dict:
    """All-core compute ceiling of this box: fixed numpy work per process at
    8 vs 32 concurrent processes (pure compute, no Spark).  A VM/CPU whose
    per-core speed drops under all-core load cannot show 4x speedup for 4x
    cores no matter how well the engine scales; efficiency is reported both
    raw and normalized by this ceiling."""
    import multiprocessing as mp

    def throughput(nproc: int, fn=_ceiling_work, per: int = 3) -> float:
        t0 = time.time()
        with mp.Pool(nproc) as pool:
            pool.map(fn, range(nproc * per))
        return nproc * per / (time.time() - t0)

    def stream_tp(nproc: int) -> float:
        with mp.Pool(nproc, initializer=_stream_init) as pool:
            pool.map(_stream_warm, range(nproc * 2))
            t0 = time.time()
            pool.map(_stream_sum, range(nproc * 4))
            return nproc * 4 / (time.time() - t0)

    th8 = throughput(8)
    th32 = throughput(32)
    # DRAM-bandwidth ceiling — the relevant bound for the engine's streaming
    # Arrow kernels.  Reported as THREE interleaved trials because this VM's
    # effective memory bandwidth swings heavily minute to minute (noisy
    # neighbors): the spread IS the finding, a single number would overclaim.
    stream_trials = []
    for _t in range(3):
        s8 = stream_tp(8)
        s32 = stream_tp(32)
        stream_trials.append(round(s32 / s8, 3))
    stream_trials.sort()
    return {
        "throughput_8": round(th8, 2),
        "throughput_32": round(th32, 2),
        "ceiling_speedup": round(th32 / th8, 3),
        "ceiling_efficiency": round(th32 / th8 / 4.0, 3),
        "stream_ceiling_trials": stream_trials,
        "stream_ceiling_speedup": stream_trials[1],
        "stream_ceiling_efficiency": round(stream_trials[1] / 4.0, 3),
    }


def main() -> None:
    gen()
    results: dict[int, list[dict]] = {8: [], 32: []}

    def one(cpus: int) -> dict:
        # pin the WHOLE process tree (JVM + python workers) to the core
        # budget — local[8] otherwise runs its UDF workers on all cores
        pin = ["taskset", "-c", f"0-{cpus - 1}"]
        p = subprocess.run(
            pin + [sys.executable, __file__, "run", str(cpus)],
            capture_output=True, text=True, check=True,
        )
        return json.loads(p.stdout.strip().splitlines()[-1])

    # warm-ups (untimed), then INTERLEAVED (8, 32) pairs: this VM's absolute
    # speed drifts over minutes, so per-pair ratios + median-of-ratios cancel
    # drift that batched back-to-back runs would absorb into the comparison
    one(8)
    one(32)
    ratios = []
    for _ in range(3):
        r8 = one(8)
        r32 = one(32)
        results[8].append(r8)
        results[32].append(r32)
        ratios.append(r8["total_sec"] / r32["total_sec"])

    t8 = statistics.median(r["total_sec"] for r in results[8])
    t32 = statistics.median(r["total_sec"] for r in results[32])
    ratio = statistics.median(ratios)
    f8 = statistics.median(r["features_per_sec"] for r in results[8])
    f32 = statistics.median(r["features_per_sec"] for r in results[32])
    hashes8 = {s: results[8][0]["stages"][s]["hash"] for s in results[8][0]["stages"]}
    hashes32 = {s: results[32][0]["stages"][s]["hash"] for s in results[32][0]["stages"]}
    # per-stage 8->32 ratios (median over interleaved pairs) with the bound
    # class each stage exercises — the reviewable denominator for the >=0.8
    # criterion: codegen-bound stages should approach the compute ceiling,
    # shuffle/stream stages the DRAM ceiling.
    stage_class = {
        "pip": "codegen+arrow-kernel",
        "proximity": "shuffle/bandwidth",
        "single_checks": "arrow-kernel+shuffle",
    }
    per_stage = {}
    for s in stage_class:
        rs = [
            results[8][i]["stage_wall"][s] / results[32][i]["stage_wall"][s]
            for i in range(len(results[8]))
            if results[8][i].get("stage_wall") and results[32][i].get("stage_wall")
        ]
        if rs:
            m = statistics.median(rs)
            per_stage[s] = {
                "bound": stage_class[s],
                "speedup_8_to_32": round(m, 3),
                "efficiency": round(m / 4.0, 3),
                "wall_8": statistics.median(
                    r["stage_wall"][s] for r in results[8]
                ),
                "wall_32": statistics.median(
                    r["stage_wall"][s] for r in results[32]
                ),
            }
    ceiling = machine_ceiling()
    eff = round(ratio / 4.0, 3)
    report = {
        "protocol": "BASELINE.md §3: same job, same input, local[8] vs local[32],"
        " interleaved pairs, median of per-pair ratios",
        "t8_sec": t8,
        "t32_sec": t32,
        "features_per_sec_8": f8,
        "features_per_sec_32": f32,
        "speedup": round(ratio, 3),
        "pair_ratios": [round(r, 3) for r in ratios],
        "scaling_efficiency": eff,
        "machine_ceiling": ceiling,
        "efficiency_vs_machine_ceiling": round(
            eff / ceiling["ceiling_efficiency"], 3
        ),
        "efficiency_vs_stream_ceiling": round(
            eff / ceiling["stream_ceiling_efficiency"], 3
        ),
        "parallelism_invariant": hashes8 == hashes32,
        "per_stage": per_stage,
        "runs": results,
    }
    with open(ROOT / "BENCH_SCALING.json", "w") as fp:
        json.dump(report, fp, indent=1)
    print(json.dumps({k: v for k, v in report.items() if k != "runs"}))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "main"
    if cmd == "gen":
        gen()
    elif cmd == "run":
        print(json.dumps(run(int(sys.argv[2]))))
    else:
        main()
