"""Workload definitions and seeded input generation for the GAIT-Spark benchmark.

A workload is a fixed list of operations.  Each operation is one call into the
package that returns a DataFrame; the runner forces it with a digest over all
of its columns.  Inputs are the shipped sf0.001 tables in ``perfbench/data``
with the fact-table keys shifted by a seed-derived variant, so every seed gives
same-size inputs with different derived geometry.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DATA = os.path.join(HERE, "data")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: table -> {key column: stride}.  Variant v adds v * stride, so primary and
#: foreign keys move together and stay disjoint from the base key range.
#: customer, nation and region stay intact: the geometry views use low
#: customer keys as a vertex-index table.  documents and embeddings stay
#: intact too: their row order fixes the stream batches and k-means seeds.
SHIFTS = {
    "orders": {"o_orderkey": 1500},
    "lineitem": {"l_orderkey": 1500, "l_partkey": 200, "l_suppkey": 10},
    "part": {"p_partkey": 200},
    "supplier": {"s_suppkey": 10},
    "events": {"event_id": 1000},
}

#: seeds map onto this many input variants; expectations exist for each
N_VARIANTS = 16

#: geo layers whose rows are the inspected features (tools/run_suite.py)
FEATURE_VIEWS = ("geo_points", "geo_lines", "geo_areas", "geo_sites", "geo_zones")


def variant_of(seed: int) -> int:
    return seed % N_VARIANTS


def write_inputs(variant: int, out_dir: str) -> str:
    """Write the ten source tables for ``variant`` into ``out_dir``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        src = os.path.join(BASE_DATA, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        shifts = SHIFTS.get(t) if variant else None
        if not shifts:
            shutil.copyfile(src, dst)
            continue
        tb = pq.read_table(src)
        for col, stride in shifts.items():
            i = tb.schema.get_field_index(col)
            tb = tb.set_column(i, col, pc.add(tb[col], variant * stride))
        pq.write_table(tb, dst)
    return out_dir


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: operations, in order: registry query names, or "suite_conditions"
    ops: tuple[str, ...]
    #: check families the "suite_conditions" operation unions
    suite_families: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "spatial_joins",
            "pairwise spatial joins (point x zone, line x line, line x area): the "
            "largest execution and shuffle share; PIP refine in Arrow workers",
            ops=(
                "geo_pip",
                "geo_line_intersections",
                "geo_line_area",
            ),
        ),
        Workload(
            "suite_loops_streams",
            "fixed per-operation costs: a CheckRegion suite DAG with a converged "
            "loop family, a stateful stream replay and a resumed parquet sink",
            ops=(
                "suite_conditions",
                "streaming_windowed_counts",
                "checkpoint_sink_roundtrip",
            ),
            suite_families=(
                "geo_network_components",
                "metadata_xml_checks",
            ),
        ),
    )
}


def write_fixtures(wl: Workload, sf_dir: str) -> None:
    """Write the replay fixtures that streaming operations would otherwise
    write on their first timed call."""
    from geospatial_analysis_integrity_tool_spark.queries import streamdedup, streamq

    writers = {
        "streaming_windowed_counts": lambda: streamq.write_windowed_fixture(),
        "streaming_pip": lambda: streamq.write_pip_stream_fixture(),
        "streaming_lsh_dedup": lambda: streamdedup.write_lsh_stream_fixture(sf_dir),
    }
    for op in wl.ops:
        if op in writers:
            writers[op]()
