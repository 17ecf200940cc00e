"""Full five-stage pipeline end to end: extract -> encode -> plan -> check ->
checkpointed export with lineage; resumability asserted."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import json

RUN_PIPELINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "run_pipeline.py"
)


def test_pipeline_end_to_end_and_resume():
    out = tempfile.mkdtemp(prefix="gait_pipe_")
    try:
        def run():
            p = subprocess.run(
                [sys.executable, RUN_PIPELINE, "600", out],
                capture_output=True,
                text=True,
                check=True,
            )
            return json.loads(p.stdout.strip().splitlines()[-1])

        m1 = run()
        assert m1["n_conditions"] > 0
        assert m1["lineage_partitions"] > 1
        # resume: identical output counts, all partitions already done
        m2 = run()
        assert m2["n_conditions"] == m1["n_conditions"]
        assert m2["lineage_partitions"] == m1["lineage_partitions"]
    finally:
        shutil.rmtree(out, ignore_errors=True)
