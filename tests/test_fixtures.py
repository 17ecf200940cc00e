"""Write-once fixture directories (sources/fixtures.write_once) and the
micro-batch stream fixtures (streaming/replay.write_batches)."""

from __future__ import annotations

import glob
import os

import pytest

from tests.conftest import SF_SMALL


def _stream_writer(name: str):
    from geospatial_analysis_integrity_tool_spark.queries import streamdedup, streamq

    return {
        "stream_v1": streamq.write_stream_fixture,
        "stream_win_v1": streamq.write_windowed_fixture,
        "stream_caps_v1": streamq.write_capture_fixture,
        "pages_stream_500": lambda: streamq._write_pages_stream_fixture(500),
        "stream_pip_v1": streamq.write_pip_stream_fixture,
        "stream_utm_pip_v1": streamq.write_utm_stream_fixture,
        "stream_lsh": lambda: streamdedup.write_lsh_stream_fixture(SF_SMALL),
    }[name]


@pytest.mark.parametrize(
    "name",
    [
        "stream_v1",
        "stream_win_v1",
        "stream_caps_v1",
        "pages_stream_500",
        "stream_pip_v1",
        "stream_utm_pip_v1",
        "stream_lsh",
    ],
)
def test_stream_batch_mtimes_increase_in_batch_order(name, tmp_path, monkeypatch):
    """The file source replays files oldest mtime first (ties in listing
    order), so batch order must be written into the mtimes: strictly
    increasing in batch (file-name) order, at least 2 s apart so that 1-s
    and 2-s timestamp filesystems keep it."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path))
    d = _stream_writer(name)()
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    assert len(files) >= 4
    mtimes = [os.stat(f).st_mtime for f in files]
    gaps = [b - a for a, b in zip(mtimes, mtimes[1:])]
    assert min(gaps) >= 2, (name, gaps)


def test_write_once_is_atomic_and_writes_once(tmp_path, monkeypatch):
    from geospatial_analysis_integrity_tool_spark.sources.fixtures import (
        fixture_dir,
        write_once,
    )

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path))
    # the older layout: files beside a _done marker, never served
    old = fixture_dir("fx")
    for f in ("_done", "part.txt"):
        with open(os.path.join(old, f), "w") as fh:
            fh.write("old")

    def crash(d: str) -> None:
        with open(os.path.join(d, "part.txt"), "w") as fh:
            fh.write("half")
        raise RuntimeError("writer died")

    with pytest.raises(RuntimeError, match="writer died"):
        write_once("fx", crash)

    calls = []

    def write(d: str) -> None:
        calls.append(d)
        with open(os.path.join(d, "part.txt"), "w") as fh:
            fh.write("whole")

    d = write_once("fx", write)
    assert write_once("fx", write) == d
    assert len(calls) == 1
    assert d != old
    # same permissions as any other fixture directory (executors may run as
    # another user)
    assert os.stat(d).st_mode & 0o777 == os.stat(old).st_mode & 0o777
    assert os.listdir(d) == ["part.txt"]
    with open(os.path.join(d, "part.txt")) as fh:
        assert fh.read() == "whole"
    # the crashed writer's temporary is gone: only the completed directory
    assert os.listdir(os.path.dirname(d)) == ["fx"]


def test_write_once_concurrent_writers_share_one_directory(tmp_path, monkeypatch):
    import threading

    from geospatial_analysis_integrity_tool_spark.sources.fixtures import write_once

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path))
    both_writing = threading.Barrier(2, timeout=30)

    def write(d: str) -> None:
        with open(os.path.join(d, "part.txt"), "w") as fh:
            fh.write("whole")
        both_writing.wait()  # neither renames before both have written

    out = []
    threads = [
        threading.Thread(target=lambda: out.append(write_once("fx", write)))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert len(out) == 2 and out[0] == out[1]
    assert os.listdir(out[0]) == ["part.txt"]
    assert os.listdir(os.path.dirname(out[0])) == ["fx"]
