"""Density-adaptive partitioning + hot-cell skew handling (the north rule's
"skew detected per-cell-histogram and hot cells split before shuffle").

The reference sizes its region grid from feature density:
``featurefraction = featureverts / 5e6; RegionSize ~ extent / (262..329 *
sqrt(ff))`` (TTformat.c:28570-28612) and special-cases features much larger
than a region (``AreaSizeCutoff = RegionSize^2 * 4``, TT.c:44196).  The Spark
engine does not size cells from density: each caller passes its cell width
(tolerance joins derive theirs with ``operators.pip.cell_deg_for_tolerance``).
Hot cells are split with explicit, data-derived decisions instead:

* ``cell_histogram``       — one cheap aggregation over the encoded cells;
* ``salt_plan``            — cells whose row count exceeds the per-task target
  get a salt factor ceil(count / target), capped;
* ``salted_join``          — probe side takes ``hash(id) % k`` as salt, build
  side is exploded into all k salts (the classic skew-join recipe, expressed
  declaratively so AQE still applies on top).

All decisions are deterministic functions of the data, never of run order —
the salt is derived from stable ids, not ``rand()``, so results remain
row-identical across runs and parallelism (the parity contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cell_histogram(df: DataFrame, cell_col: str = "cell") -> DataFrame:
    return df.groupBy(cell_col).agg(F.count("*").alias("n_rows"))


def salt_plan(
    hist: DataFrame,
    cell_col: str = "cell",
    target_rows_per_task: int = 100_000,
    max_salt: int = 64,
) -> DataFrame:
    """(cell, n_salts) for cells that need splitting; absent cells mean 1."""
    return (
        hist.filter(F.col("n_rows") > target_rows_per_task)
        .select(
            cell_col,
            F.least(
                F.ceil(F.col("n_rows") / F.lit(target_rows_per_task)),
                F.lit(max_salt),
            )
            .cast("int")
            .alias("n_salts"),
        )
    )


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    plan: DataFrame,
    cell_col: str = "cell",
    probe_id: str = "feature_id",
    how: str = "inner",
) -> DataFrame:
    """Equi-join on (cell, salt) with hot cells split per the plan.

    probe rows in a hot cell scatter over k salts via a stable hash of their
    id; build rows in a hot cell replicate into every salt.  Cold cells join
    with salt 0 on both sides — no extra cost.
    """
    p = F.broadcast(plan)
    probe_s = (
        probe.join(p, cell_col, "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("n_salts").isNotNull(),
                F.pmod(F.xxhash64(F.col(probe_id)), F.col("n_salts")).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("n_salts")
    )
    build_s = (
        build.join(p, cell_col, "left")
        .withColumn(
            "_salt",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.coalesce(F.col("n_salts"), F.lit(1)) - F.lit(1),
                )
            ),
        )
        .drop("n_salts")
    )
    return probe_s.join(build_s, [cell_col, "_salt"], how).drop("_salt")
