"""Round discipline for the iterative operators (the Pregel loop of
Malewicz et al., SIGMOD 2010): every round's state is eagerly
``localCheckpoint``-ed, which cuts the lineage so a k-round plan never
stacks k copies of the round, and the round it replaced is then freed.

Release rule: a checkpoint is freed only after its SUCCESSOR has
materialized (a released checkpoint cannot be recomputed), and only the
checkpoint at the ROOT of the superseded frame — the ``LogicalRDD`` the
frame is — is freed. Never a before/after diff of the persistent-RDD
registry: such a diff also catches a cache that the checkpoint's own job
materialized first (a caller's lazy ``persist()`` of the input), and
releasing it would drop the caller's cache. A loop therefore leaves one
checkpoint registered: the one its result reads.

Cap rule: a fixpoint loop (one given ``until``) that spends its round cap
without ``until`` holding raises ``ValueError`` naming the cap, after
releasing its last round — a state short of the fixpoint is a wrong
answer, not a partial one. A loop without ``until`` runs exactly its
rounds.

:func:`iterate` runs such a loop over a step function; :func:`checkpointed`
holds a fixed input (an edge list read every round) for the loop's life.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame


def _release(df: DataFrame) -> None:
    """Free the checkpoint at the root of an eagerly ``localCheckpoint``-ed
    frame: unpersist its ``LogicalRDD``'s RDD by id via
    ``JavaSparkContext.getPersistentRDDs``. ``Dataset.unpersist()`` on a
    ``localCheckpoint``-ed frame is a **no-op** — the checkpoint RDD is
    persisted at RDD level and never registered with the Dataset cache
    manager (measured on Spark 4.1: the id stays in getPersistentRDDs and
    the blocks stay resident; ``df.rdd.unpersist()`` is equally
    ineffective, it targets the derived Row-conversion RDD). Iterative
    loops must therefore free superseded rounds through the RDD registry
    or leak one snapshot per round until the ContextCleaner GCs them."""
    rid = df._jdf.logicalPlan().rdd().id()
    jrdd = df.sparkSession.sparkContext._jsc.getPersistentRDDs().get(rid)
    if jrdd is not None:
        jrdd.unpersist(False)


@contextmanager
def checkpointed(df: DataFrame) -> Iterator[DataFrame]:
    """Yield ``df.localCheckpoint(eager=True)`` and release that checkpoint
    on exit. Whatever the block returns must not read it: return frames
    that read a round's checkpoint instead."""
    cp = df.localCheckpoint(eager=True)
    try:
        yield cp
    finally:
        _release(cp)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    until: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """Run ``rounds`` rounds ``state = step(state, i)`` for ``i`` = 1, 2, …
    over an eagerly checkpointed initial ``state``. Each new state is
    checkpointed eagerly, then the checkpoint at the root of the state it
    replaced is released (the module's release rule). When ``until`` is
    given and returns true for a new state, the loop stops there; when it
    never does, the loop raises (the module's cap rule). Returns the last
    state, whose checkpoint stays registered."""
    for i in range(1, rounds + 1):
        nxt = step(state, i).localCheckpoint(eager=True)
        _release(state)
        state = nxt
        if until is not None and until(state):
            return state
    if until is not None:
        _release(state)
        raise ValueError(f"no fixpoint within the round cap of {rounds} rounds")
    return state
