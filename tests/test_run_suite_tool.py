"""Unit tests for the suite-harness leg-reuse parsing (tools/run_suite.py).

Pure python — no Spark.  The `finish` mode exists so a completed ~30 min
8-core leg survives a harness restart; these tests pin its log parsing.
"""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from run_suite import load_cached_legs  # noqa: E402

LEG8 = {
    "cpus": 8,
    "suite_wall_sec": 1789.9,
    "conditions": 163301189,
    "families": 36,
    "content_hash": 2532664038104904136,
    "n_features": 3160025,
    "features_per_sec": 1765.5,
}


def test_parses_leg_line(tmp_path):
    p = tmp_path / "leg8.json"
    p.write_text(json.dumps(LEG8) + "\n")
    cached = load_cached_legs([str(p)])
    assert cached == {8: LEG8}


def test_skips_noise_and_report_lines(tmp_path):
    report = {"metric": "suite_features_per_sec", "value": 3177.8}
    p = tmp_path / "log.txt"
    p.write_text(
        "sf1 input exists: /x/y\n"
        + json.dumps(LEG8)
        + "\n"
        + json.dumps(report)  # no "cpus" key -> skipped
        + "\n{broken json\n"
    )
    cached = load_cached_legs([str(p)])
    assert list(cached) == [8]


def test_reused_suffix_tolerated(tmp_path):
    # main() echoes reused legs with a trailing " (reused)" marker
    p = tmp_path / "log.txt"
    p.write_text(json.dumps(LEG8) + " (reused)\n")
    cached = load_cached_legs([str(p)])
    assert cached[8]["content_hash"] == LEG8["content_hash"]


def test_last_record_per_cpu_wins(tmp_path):
    older = dict(LEG8, suite_wall_sec=9999.0)
    p = tmp_path / "log.txt"
    p.write_text(json.dumps(older) + "\n" + json.dumps(LEG8) + "\n")
    assert load_cached_legs([str(p)])[8]["suite_wall_sec"] == 1789.9


def test_suite_driver_memory_comes_from_environment(monkeypatch):
    """The suite takes spark.driver.memory from session.get_spark
    (SPARK_GRAFT_DRIVER_MEM), like every other entry point: its own
    extra_conf sets no driver-memory key."""
    from types import SimpleNamespace

    import run_suite

    from geospatial_analysis_integrity_tool_spark import session

    captured = {}

    def fake_get_spark(app_name, master=None, shuffle_partitions=None, extra_conf=None):
        captured.update(extra_conf or {})
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    run_suite._spark(2)
    assert captured, "run_suite._spark passed no extra_conf"
    assert [k for k in captured if "driver.memory" in k] == []
