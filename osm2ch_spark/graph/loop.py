"""The one iteration driver of the checkpointed graph loops (PageRank,
connected components, label propagation).

The driver owns what the loops share:

- resume: the latest lineage row gives the state and the iteration to
  continue from; otherwise ``init()`` builds the initial state;
- the commit rule: iteration ``it`` is committed (parquet state + lineage
  row, checkpoint.py) iff a checkpoint_dir is set and
  ``it % checkpoint_every == 0``.  Convergence and ``max_iter`` do not
  force a commit: every iteration is deterministic, so a resumed run
  re-computes at most ``checkpoint_every - 1`` iterations to reach the
  same state;
- the stop test: the step's ``converged`` flag, or ``max_iter``.

An algorithm supplies ``init()`` and ``begin(state)``.  ``begin`` sees the
starting state (fresh or resumed), sets up the algorithm's own carry
(PageRank's dangling mass, CC's edge-set signature) and returns the step:
``step(state) -> (state, delta, rows, converged)``, where ``rows`` is the
state's row count for the lineage row.

Each step ends in ONE aggregate over its new state (delta, rows, carry),
never in a join of the new state against the old: the state may carry
the value it replaces (PageRank's and LPA's ``old``), which the step
strips before returning, so a commit holds only the algorithm's columns.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from osm2ch_spark.graph.checkpoint import CheckpointManager

Step = Callable[[DataFrame], tuple[DataFrame, float, int, bool]]


def iterate(
    spark: SparkSession,
    algo: str,
    init: Callable[[], DataFrame],
    begin: Callable[[DataFrame], Step],
    max_iter: int,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """Run ``step`` from the resumed or initial state; return the last state."""
    ckpt = CheckpointManager(checkpoint_dir, algo, every=checkpoint_every)
    got = ckpt.resume(spark) if resume else None
    state, start = got if got is not None else (init(), 0)
    step = begin(state)
    for it in range(start + 1, max_iter + 1):
        state, delta, rows, converged = step(state)
        if ckpt.should_commit(it):
            state = ckpt.commit(state, it, delta, rows)
        if converged:
            break
    return state
