"""Scratch-pin helper: the one place intra-query intermediates get pinned.

Several operators compute an intermediate that is consumed by more than
one downstream branch of the SAME returned plan (a MinHash signature
table feeding both sides of its self-join, an adjacency list reused
across PageRank iterations). Recomputing it per branch is wasteful;
pinning it raises a lifecycle question because our query contract
returns LAZY DataFrames — there is no post-execution hook where the
operator could call unpersist.

Two pin strategies, one explicit tradeoff:

- default — ``localCheckpoint(eager=False)``: blocks are executor-local
  and are released by the ContextCleaner when the driver-side DataFrame
  is garbage-collected, so a long-lived session that runs thousands of
  queries never accumulates pinned blocks (``DataFrame.persist`` pins in
  the CacheManager by logical plan and is NEVER GC-released — the r2/r4
  leak class). The cost: localCheckpoint truncates lineage with
  non-replicated blocks, so on a real multi-executor cluster the loss of
  an executor mid-job makes its blocks unrecoverable and the JOB fails
  (callers must tolerate job-level retry). On local[N] — tests, bench,
  the driver — executor loss is process death, so the tradeoff is free.

- ``RECON_RELIABLE_SCRATCH=1`` — ``persist(MEMORY_AND_DISK)``: lineage
  is kept, executor loss recomputes the lost partitions and the job
  survives — the right mode for a 1000-executor cluster where retry is
  expensive. The cost: blocks stay pinned until the CALLER releases
  them (``spark.catalog.clearCache()`` between jobs, or session end);
  a session that never releases accumulates scratch blocks.

This knob is the resolution of the round-3 ADVICE item on
operators/graph.py:71: neither strategy dominates — pick per
deployment, in one place, documented.

Driver-side fixpoint loops (sparql._plus_frame, reasoning.owl_extend,
the distributed branch of dedupe.connected_components) are step
functions run by ``iterate``: at most ``MAX_ROUNDS`` rounds, then a
ValueError naming the loop, never partial results. ``pin_now`` is the
EAGER twin of ``scratch`` for their round frames: each round runs an
action anyway, and an eager checkpoint swaps the round's plan for a
LogicalRDD, so the next round's plan is constant-size instead of
re-deriving every earlier round. Reliable mode persists instead.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame

# Round cap of every fixpoint loop. Path doubling and the OWL closure
# need ~log2(diameter) rounds; the linear loops (seeded `<p>+`, hash-min
# labels) need one round per hop of the diameter.
MAX_ROUNDS = 64


def reliable_mode() -> bool:
    return os.environ.get("RECON_RELIABLE_SCRATCH", "") == "1"


def scratch(df: DataFrame) -> DataFrame:
    """Pin an intra-query intermediate that multiple downstream branches
    of the same returned plan consume. See module docstring for the
    lifecycle / fault-tolerance tradeoff the mode switch expresses."""
    if reliable_mode():
        from pyspark.storagelevel import StorageLevel

        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df.localCheckpoint(eager=False)


def pin_now(df: DataFrame) -> DataFrame:
    """Eagerly pin one round of a fixpoint loop (see module docstring)."""
    return scratch(df) if reliable_mode() else df.localCheckpoint(eager=True)


def iterate(step: Callable[[Any], tuple[Any, bool]], state: Any, what: str) -> Any:
    """Run ``state, done = step(state)`` until ``done``; raise ValueError
    naming ``what`` if ``MAX_ROUNDS`` rounds pass without convergence."""
    for _ in range(MAX_ROUNDS):
        state, done = step(state)
        if done:
            return state
    raise ValueError(f"{what} did not converge within {MAX_ROUNDS} rounds")
