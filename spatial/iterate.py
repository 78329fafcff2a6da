"""The round loop shared by every iterative operator.

Connected components, PageRank, personalized PageRank, HITS, k-core, label
propagation, cheapest path and D8 flow accumulation are all the same loop:
a state frame, one step that maps it to the next state, a round bound and
sometimes a convergence test.  :func:`fixpoint` runs that loop and
checkpoints every new state, so each round's plan starts from a checkpoint
scan and the plan stays the same size however many rounds run.  Frames the
step reads every round (edge sets, neighbour lists) are held in
:func:`persisted` for the length of the loop; the returned frame reads only
the checkpointed final state, so releasing them on return is safe.

The checkpoint is ``localCheckpoint``: its blocks live on the executors, so
losing an executor inside the loop fails the query.  On a real cluster
prefer ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` over
``localCheckpoint`` if executor loss during the loop must be survivable.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Optional

from pyspark.sql import DataFrame


def checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint + STATISTICS RESET -- required for iterative loops.

    Dataset.localCheckpoint snapshots the optimized plan's sizeInBytes
    into the LogicalRDD it returns. In a loop, the next round's join
    estimates MULTIPLY that snapshot, the following checkpoint snapshots
    the product, and the estimate grows doubly-exponentially: measured on
    a 64-node path graph, the BigInt doubled its digit count every round
    (13 -> 9.2 MILLION digits by round 19), at which point plan-JSON
    consumers die on Jackson's number-length cap ("BigInteger would
    overflow supported range") -- first hit in round 4 by DBSCAN's giant
    supercritical component, whose ~10 pointer-jump rounds exceed the 2-3
    the near-clique dedup graphs ever needed. Rewrapping the checkpointed
    rows via the JVM-side createDataFrame(RDD[Row], schema) drops the
    snapshot so every round restarts from the default size estimate
    (constant digits, measured 44 forever); rows stay in the JVM -- no
    Python serialization enters the loop."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _ConcreteDF
    except ImportError:  # pyspark < 4: pyspark.sql.DataFrame is concrete
        _ConcreteDF = DataFrame
    jdf = df.localCheckpoint(True)._jdf
    fresh = jdf.sparkSession().createDataFrame(jdf.rdd(), jdf.schema())
    return _ConcreteDF(fresh, df.sparkSession)


def fixpoint(state: DataFrame, step: Callable[[DataFrame], DataFrame],
             rounds: int,
             done: Optional[Callable[[DataFrame], bool]] = None) -> DataFrame:
    """Apply ``step`` to ``state`` up to ``rounds`` times, checkpointing
    every new state; stop early once ``done(state)`` holds for a new
    state.  Returns the last state (``state`` itself when ``rounds`` is 0)."""
    for _ in range(int(rounds)):
        state = checkpoint(step(state))
        if done is not None and done(state):
            break
    return state


@contextmanager
def persisted(df: DataFrame):
    """Persist ``df`` for the block and release its blocks on exit, also
    when the block fails."""
    cached = df.persist()
    try:
        yield cached
    finally:
        cached.unpersist()
