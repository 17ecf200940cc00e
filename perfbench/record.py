"""Record the expected (rows, digest) of every operation for every input variant.

    python3 perfbench/record.py --workload spatial_joins [--variants 0,1,...]

Run at the commit whose outputs are the reference; it rewrites
``perfbench/expected/<workload>.json``.  One session serves all variants.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run
from workloads import N_VARIANTS, WORKLOADS


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--variants", default=",".join(map(str, range(N_VARIANTS))))
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{wl.name}-{os.getpid()}")
    run.prepare_env(work)
    import __spark_entry__  # noqa: F401

    path = os.path.join(run.EXPECTED, f"{wl.name}.json")
    table = {}
    if os.path.exists(path):
        with open(path) as f:
            table = json.load(f)
    spark = None
    try:
        for v in map(int, args.variants.split(",")):
            if spark is not None:
                spark.stop()
            spark, sf_dir, _, _ = run.setup(wl, v, os.path.join(work, f"v{v}"))
            _, recs = run.run_pass(spark, wl, sf_dir, {})
            if any("rows" not in r for r in recs):
                print(f"variant {v}: an operation raised", file=sys.stderr)
                return 1
            table[str(v)] = {r["name"]: [r["rows"], r["digest"]] for r in recs}
            print(v, table[str(v)], flush=True)
    finally:
        run.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(run.EXPECTED, exist_ok=True)
    with open(path, "w") as f:
        json.dump(dict(sorted(table.items(), key=lambda kv: int(kv[0]))), f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
