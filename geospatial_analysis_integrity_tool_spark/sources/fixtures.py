"""Shared fixture/warehouse paths for file-format gate queries.

Format round-trip gates (shp/dbf, Grid-ASCII, DTED, GeoTIFF, WARC) and the
micro-batch streams write a small fixture at query time and read it back
through the DISTRIBUTED readers.  The fixture must live on storage every
executor can read: driver-local /tmp only works in local mode (ADVICE round
2).  ``fixture_dir`` resolves to ``$SPARK_GRAFT_WAREHOUSE`` when set — point
it at a shared filesystem (HDFS/NFS/object-store mount) on a real cluster —
and falls back to the repo-local ``spark-warehouse/fixtures`` for local runs.

``write_once`` is the one way a gate writes its fixture: the directory is
written into a hidden temporary sibling and renamed into place, so it either
exists complete or not at all.  A writer that raises or is killed never
exposes a half-written directory (a killed one leaves its hidden temporary
behind, which no reader globs), and of two concurrent writers the first
rename wins.  Completed directories live under ``written/``, apart from the
older ``<name>/_done`` layout, whose batch files carry no pinned mtimes and
must never be served.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fixture_dir(name: str) -> str:
    base = os.environ.get(
        "SPARK_GRAFT_WAREHOUSE",
        os.path.join(_REPO_ROOT, "spark-warehouse", "fixtures"),
    )
    path = os.path.join(base, name)
    os.makedirs(path, exist_ok=True)
    return path


def write_once(name: str, write: Callable[[str], None]) -> str:
    """Return the completed fixture directory ``name``; ``write(dir)`` fills
    an empty directory and runs only when no completed one exists yet."""
    parent = fixture_dir("written")
    final = os.path.join(parent, name)
    if os.path.isdir(final):
        return final
    # makedirs, not mkdtemp: mkdtemp's 0700 would hide the fixture from
    # executors that run as another user on a shared filesystem
    tmp = os.path.join(parent, f".{name}.{uuid.uuid4().hex}")
    os.makedirs(tmp)
    try:
        write(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent writer completed ``final`` first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise
    return final
