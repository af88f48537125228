"""Scratch-pin helper: the one place intra-query intermediates get pinned.

Several operators compute an intermediate that is consumed by more than
one downstream branch of the SAME returned plan (a MinHash signature
table feeding both sides of its self-join, an adjacency list reused
across PageRank iterations). Recomputing it per branch is wasteful;
pinning it raises a lifecycle question because our query contract
returns LAZY DataFrames — there is no post-execution hook where the
operator could call unpersist.

One pin strategy: ``localCheckpoint``. Its blocks are executor-local
and the ContextCleaner releases them when the driver-side DataFrame is
garbage-collected, so a long-lived session that runs thousands of
queries never accumulates pinned blocks. The tradeoff: the blocks are
not replicated and the lineage behind them is cut, so on a real
multi-executor cluster losing an executor fails the job and the caller
retries it. On local[N] executor loss is process death, so the
tradeoff is free.

Driver-side fixpoint loops (sparql._plus_frame, reasoning.owl_extend,
the distributed branch of dedupe.connected_components) are step
functions run by ``iterate``: at most ``MAX_ROUNDS`` rounds, then a
ValueError naming the loop, never partial results. ``pin_now`` is the
EAGER twin of ``scratch`` for their round frames, and it is the round's
only job: the checkpoint swaps the round's plan for a LogicalRDD, so
the next round's plan is constant-size instead of re-deriving every
earlier round, and an Observation on the same job reports the metric
the loop's stop test needs (a row count by default).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# Round cap of every fixpoint loop. Path doubling and the OWL closure
# need ~log2(diameter) rounds; the linear loops (seeded `<p>+`, hash-min
# labels) need one round per hop of the diameter.
MAX_ROUNDS = 64


def scratch(df: DataFrame) -> DataFrame:
    """Pin an intra-query intermediate that multiple downstream branches
    of the same returned plan consume (lazy; see module docstring)."""
    return df.localCheckpoint(eager=False)


def pin_now(df: DataFrame, metric: Column | None = None) -> tuple[DataFrame, Any]:
    """Eagerly pin one round of a fixpoint loop and return
    ``(pinned, value)``: ``value`` is ``metric`` (default ``count(1)``)
    aggregated over ``df`` by the checkpoint job itself."""
    obs = Observation()
    m = F.count(F.lit(1)) if metric is None else metric
    pinned = df.observe(obs, m.alias("m")).localCheckpoint(eager=True)
    return pinned, obs.get["m"]


def iterate(step: Callable[[Any], tuple[Any, bool]], state: Any, what: str) -> Any:
    """Run ``state, done = step(state)`` until ``done``; raise ValueError
    naming ``what`` if ``MAX_ROUNDS`` rounds pass without convergence."""
    for _ in range(MAX_ROUNDS):
        state, done = step(state)
        if done:
            return state
    raise ValueError(f"{what} did not converge within {MAX_ROUNDS} rounds")
