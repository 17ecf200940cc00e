"""The query registry imports from the ``--py-files`` zip alone.

``all_queries()`` loads every query module, and some of them read package
data files (the schema-table JSON) at import time; those reads must work
when the package lives inside a zip, not only next to ``__file__`` on disk.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json
import sys
sys.path.insert(0, sys.argv[1])
import geospatial_analysis_integrity_tool_spark as pkg
assert pkg.__file__.startswith(sys.argv[1]), pkg.__file__
from geospatial_analysis_integrity_tool_spark.queries import all_queries
q, o = all_queries()
print("QUERIES", json.dumps([sorted(q), sorted(o)]))
"""


def test_all_queries_imports_from_pyfiles_zip(tmp_path):
    sys.path.insert(0, REPO)
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "dist" / "gait_spark.zip"))
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY package source
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, zip_path],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    names = json.loads(proc.stdout.split("QUERIES", 1)[1])
    from geospatial_analysis_integrity_tool_spark.queries import all_queries

    q, o = all_queries()
    assert names == [sorted(q), sorted(o)]
