"""Network formation + connected components — GAIT's graph check group.

Reference: networks are formed from line endpoints (AddEdgesToNetwork
TT.c:54437, CREATENET 63) and transitive counters propagate over them
(InitializeBucketsOfTransNets / PropagateTransitiveCounters /
PerformTransitiveChecks, moregeomchecks.c:2749-2854) to drive isolation
checks (NETISOFEAT 120, EXTRA_NET 50, INTRA_NET 56).

Spark-native shape: nodes are quantized endpoint keys (exact micro-degree
coincidence — deterministic, no tolerance fuzz), the line-adjacency edge list
is a self-join on node key, and components run as iterative min-label
propagation with DataFrame joins — the standard Catalyst-planned CC loop
(converges in O(diameter) rounds; GAIT's per-region graphs are tiny stars, so
a handful of rounds suffices; a large-star/small-star variant drops in for
continental graphs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.fixpoint import fixpoint


def endpoint_nodes(
    lines: DataFrame,
    id_col: str = "line_id",
    ends: list[tuple[str, str]] = (("x1", "y1"), ("x3", "y3")),
) -> DataFrame:
    """(line, node_key) rows; node key = exact micro-degree quantized endpoint."""
    parts = []
    for x, y in ends:
        parts.append(
            lines.selectExpr(
                f"{id_col} AS line_id",
                f"CAST(floor({x} * 1000000.0) AS BIGINT) * 1000000000"
                f" + CAST(floor({y} * 1000000.0) AS BIGINT) AS node_key",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def line_adjacency(nodes: DataFrame) -> DataFrame:
    """(a, b) line pairs sharing a node, both directions (self excluded)."""
    l = nodes.select(F.col("line_id").alias("a"), "node_key")
    r = nodes.select(F.col("line_id").alias("b"), "node_key")
    return (
        l.join(r, "node_key")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )


def min_label_components(
    ids: DataFrame,
    edges: DataFrame,
    max_iter: int = 48,
) -> DataFrame:
    """Generic connected components: ``ids`` has one column ``id``; ``edges``
    has (a, b) both directions.  Returns (id, component_id) with
    component_id = min id in the component.  Same pointer-doubling
    min-label loop as :func:`connected_components` (which now delegates
    here) — reused by the raster wavefront checks (grid 4-neighbor
    components, moregeomchecks.c:7150 AltRep wavefront)."""
    edges = edges.localCheckpoint(eager=False)
    labels = (
        ids.select(F.col("id").alias("line_id"))
        .withColumn("label", F.col("line_id"))
        .localCheckpoint(eager=False)
    )

    def step(labels: DataFrame) -> DataFrame:
        neigh = (
            edges.join(labels.withColumnRenamed("line_id", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("a", "line_id")
        )
        chased = (
            labels.select(F.col("line_id"), F.col("label").alias("_l"))
            .join(
                labels.select(
                    F.col("line_id").alias("_l"), F.col("label").alias("llabel")
                ),
                "_l",
            )
            .select("line_id", "llabel")
        )
        # pl (the previous label) feeds only the changed count
        return (
            labels.join(neigh, "line_id", "left")
            .join(chased, "line_id", "left")
            .select(
                "line_id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nlabel"), F.col("label")),
                    F.coalesce(F.col("llabel"), F.col("label")),
                ).alias("nl"),
                F.col("label").alias("pl"),
            )
        )

    labels, _ = fixpoint(
        "min_label_components",
        labels,
        step,
        F.sum(F.expr("CASE WHEN nl <> pl THEN 1 ELSE 0 END")),
        ["line_id", F.col("nl").alias("label")],
        max_iter,
    )
    return labels.select(
        F.col("line_id").alias("id"), F.col("label").alias("component_id")
    )


def connected_components(
    lines: DataFrame,
    id_col: str = "line_id",
    max_iter: int = 48,
) -> DataFrame:
    """(line_id, component_id) with component_id = min line id in component.

    Min-label propagation **with pointer doubling**: each round takes the min
    over (a) neighbors' labels and (b) the label of the current label
    (label chasing).  Doubling halves the remaining label distance every
    round, so convergence is O(log diameter) — a continental road network
    with diameter in the thousands finishes in ~12 rounds, where plain
    one-hop propagation (the previous implementation) needed thousands.

    The rounds run on the fixed-point driver (plans/fixpoint.py): each
    materializes via ``localCheckpoint`` (truncates lineage — the plan would
    otherwise grow superlinearly) and the changed count is an observed
    metric riding that same job.  If ``max_iter`` rounds do not converge the
    function RAISES instead of silently returning partial labels (the
    default 48 covers diameter ~2^48).

    Reference: InitializeBucketsOfTransNets / PropagateTransitiveCounters,
    moregeomchecks.c:2749-2854.
    """
    nodes = endpoint_nodes(lines, id_col)
    edges = line_adjacency(nodes)
    ids = lines.select(F.col(id_col).alias("id"))
    return min_label_components(ids, edges, max_iter).select(
        F.col("id").alias("line_id"), "component_id"
    )


def component_stats(components: DataFrame) -> DataFrame:
    """Per-component rollup (NETISOFEAT-style isolation = size-1 components)."""
    return components.groupBy("component_id").agg(F.count("*").alias("n_lines"))
