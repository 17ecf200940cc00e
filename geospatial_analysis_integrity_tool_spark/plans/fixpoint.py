"""Fixed-point loop driver: sweep until nothing changes, or raise.

The reference's transitive checks share one loop contract — sweep until no
counter changes (PropagateTransitiveCounters, moregeomchecks.c:2774).  Every
converged loop in the engine (pointer-doubling components, PageRank,
Lloyd's k-means) runs on this driver, so they share one round shape and one
failure policy.  Per round:

1. ``step(state)`` builds the next round; it may carry convergence-only
   columns (the previous label, rank or cluster);
2. ``delta`` — how much changed — is observed on that same plan;
3. ``keep`` projects the convergence-only columns away, so the cached
   rounds never store them;
4. ``localCheckpoint(eager=True)`` runs the round: ONE job that also
   computes the observed delta, and truncates lineage so the plan stays
   O(1) across rounds;
5. the delta is read once; 0 or null (an empty input) means converged.

A loop that has not converged after ``max_rounds`` raises instead of
returning partial results.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql.observation import Observation


def fixpoint(
    name: str,
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    delta: Column,
    keep: list,
    max_rounds: int,
    first_round: int = 1,
) -> tuple[DataFrame, int]:
    """Iterate ``step`` from ``state`` to its fixed point; returns
    (fixed-point frame, rounds).  Rounds are numbered from ``first_round``
    (a loop whose round 1 ran before the driver starts at 2)."""
    for rnd in range(first_round, max_rounds + 1):
        obs = Observation()
        state = (
            step(state)
            .observe(obs, delta.alias("delta"))
            .select(*keep)
            .localCheckpoint(eager=True)
        )
        if not obs.get["delta"]:
            return state, rnd
    raise RuntimeError(
        f"{name} did not converge in {max_rounds} rounds — refusing to "
        "return partial results"
    )
