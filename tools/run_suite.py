"""Whole-suite CheckRegion-style evidence run (round-5 verdict item 7).

Executes geospatial_analysis_integrity_tool_spark.suite.suite_conditions —
every gated check family as ONE pipeline into one consolidated conditions
table — at the sf1 stress scale, under two parallelism levels, and asserts
the outputs are bit-identical (the north rule's cluster-size criterion,
evidenced the only way a single-box sandbox can).

    python tools/run_suite.py gen          # build sf1 input (untimed)
    python tools/run_suite.py run 8        # one timed run -> JSON line
    python tools/run_suite.py main         # 8 + 32, hash assert, report

The driver heap comes from ``SPARK_GRAFT_DRIVER_MEM`` (default 8g, as for
every entry point).  The sf1 legs were run at 48g and ran out of memory
there once, so set it for them:

    SPARK_GRAFT_DRIVER_MEM=48g python tools/run_suite.py main

features/s denominator: the geo feature layers the suite inspects (points,
lines, areas, sites, zones) plus attr/metadata rows — counted untimed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF1_DIR = os.path.join(REPO, "spark-warehouse", "fixtures", "sf1_synth")


def _spark(cpus: int):
    from geospatial_analysis_integrity_tool_spark.session import get_spark

    scratch = os.path.join(REPO, "spark-warehouse", "scratch")
    os.makedirs(scratch, exist_ok=True)
    s = get_spark(
        f"gait-suite-{cpus}",
        master=f"local[{cpus}]",
        # the suite's widest shuffles carry ~10^8 witness rows at sf1: size
        # partitions for the DATA, not the core count (AQE coalesces the
        # small families' stages back down) — exactly the 100 TB sizing rule
        shuffle_partitions=256,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            # shuffle/cache blocks live under the repo, not /tmp: a ~30 min
            # leg must survive ambient tmp cleaners (one 32-core leg died to
            # blockmgr files vanishing mid-job)
            "spark.local.dir": scratch,
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def gen() -> None:
    if os.path.exists(os.path.join(SF1_DIR, "lineitem.parquet")):
        print("sf1 input exists:", SF1_DIR)
        return
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_sf1.py"), SF1_DIR],
        check=True,
    )


def run(cpus: int) -> dict:
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.sources.synthetic import (
        register_geo_views,
    )
    from geospatial_analysis_integrity_tool_spark.suite import suite_conditions

    spark = _spark(cpus)
    # feature denominator, untimed (same definition at every parallelism)
    register_geo_views(spark, SF1_DIR)
    nfeat = 0
    for v in ("geo_points", "geo_lines", "geo_areas", "geo_sites", "geo_zones"):
        try:
            nfeat += spark.table(v).count()
        except Exception:
            pass

    conds = suite_conditions(spark, SF1_DIR)
    cols = ", ".join(conds.columns)
    t0 = time.time()
    row = conds.agg(
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({cols}))").alias("h"),
        F.countDistinct("errtype").alias("fams"),
    ).collect()[0]
    wall = time.time() - t0
    out = {
        "cpus": cpus,
        "suite_wall_sec": round(wall, 2),
        "conditions": int(row["n"]),
        "families": int(row["fams"]),
        "content_hash": int(row["h"] or 0),
        "n_features": int(nfeat),
        "features_per_sec": round(nfeat / wall, 1),
    }
    spark.stop()
    return out


def load_cached_legs(paths: list[str]) -> dict[int, dict]:
    """Parse completed-leg JSON lines (from a prior run's log) keyed by cpus.

    Lines that are not leg records (progress noise, the final report, which
    has no "cpus" key) are skipped; the last record per cpu count wins.
    """
    cached: dict[int, dict] = {}
    for path in paths:
        with open(path) as f:
            for ln in f:
                ln = ln.strip()
                if ln.endswith(" (reused)"):
                    ln = ln[: -len(" (reused)")]
                if ln.startswith("{") and '"cpus"' in ln:
                    try:
                        r = json.loads(ln)
                    except json.JSONDecodeError:
                        continue
                    if "cpus" in r and "content_hash" in r:
                        cached[int(r["cpus"])] = r
    return cached


def main(reuse: dict[int, dict] | None = None) -> int:
    gen()
    results = dict(reuse or {})
    for cpus in (8, 32):
        if cpus in results:
            print(json.dumps(results[cpus]), "(reused)")
            continue
        # pin the WHOLE process tree (JVM + python workers) to the core
        # budget — same methodology as scaling_evidence.py: an unpinned
        # local[8] leaks its Arrow workers onto all 32 cores and overstates
        # the 8-core point
        p = subprocess.run(
            ["taskset", "-c", f"0-{cpus - 1}",
             sys.executable, os.path.abspath(__file__), "run", str(cpus)],
            capture_output=True, text=True,
        )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")][-1]
        results[cpus] = json.loads(line)
        print(line)
    r8, r32 = results[8], results[32]
    assert r8["content_hash"] == r32["content_hash"], (
        f"PARALLELISM-VARIANT OUTPUT: {r8['content_hash']} != {r32['content_hash']}"
    )
    assert r8["conditions"] == r32["conditions"]
    eff = (r8["suite_wall_sec"] / r32["suite_wall_sec"]) / 4.0
    report = {
        "metric": "suite_features_per_sec",
        "value": r32["features_per_sec"],
        "unit": "features/sec",
        "sf": 1,
        "families": r32["families"],
        "conditions": r32["conditions"],
        "hash_match_8_vs_32": True,
        "wall_8": r8["suite_wall_sec"],
        "wall_32": r32["suite_wall_sec"],
        "scaling_efficiency_8_to_32": round(eff, 3),
    }
    print(json.dumps(report))
    with open(os.path.join(REPO, "BENCH_SUITE.json"), "w") as f:
        f.write(json.dumps(report) + "\n")
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "gen":
        gen()
    elif len(sys.argv) > 1 and sys.argv[1] == "run":
        print(json.dumps(run(int(sys.argv[2]))))
    elif len(sys.argv) > 1 and sys.argv[1] == "finish":
        # reuse a completed leg (JSON line file) and run only the missing one
        raise SystemExit(main(load_cached_legs(sys.argv[2:])))
    else:
        raise SystemExit(main())
