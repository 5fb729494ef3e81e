"""Deterministic gapless 1-based sequential IDs in a distributed engine.

The reference assigns edge IDs with a driver-side counter in scan order
(`osm_loader.go:228-271`, invariant EdgeID == index+1 at
`osm_loader.go:305`) and expanded-edge IDs the same way
(`osm_loader.go:313-314`).  No Spark built-in produces gapless
input-ordered IDs across partitions.  Both numberings (ID1 edges, ID2
expanded edges) go through the one two-level prefix sum here:

  id = offset(group)
       + SUM(weight) OVER (PARTITION BY group ORDER BY key
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       + 1

i.e. each row owns the block of ``weight`` consecutive ids starting at
``id`` (ID1: weight 1 per edge, so ``id = offset + row_number``; ID2:
weight = surviving continuations of the source edge, each pair adding
its explode position).  ``group`` is a caller-chosen column set that
(a) is CONTIGUOUS in the global order — all rows of a group sort
together — and (b) has bounded per-group size.  The offsets are an
exclusive running sum over the per-group weight totals (one row per
group — metadata-scale), broadcast back on the group key.

The ranked table feeds two branches (the data branch and the counts
branch), so it is eagerly local-checkpointed: the expensive input
pipeline runs EXACTLY once, both branches scan the materialized RDD, and
the frozen rows also make the assigned IDs immune to AQE re-planning
between actions.  The alternatives measured worse:
  * ``persist()`` — concurrent AQE stage jobs race to build the same
    cache blocks; the losers block on cache-block locks while OCCUPYING
    task slots (a ~19 s non-scaling wall floor on the flagship run);
  * relying on exchange reuse — per-branch column pruning makes the
    "identical" exchanges canonically different, so AQE's stage cache
    misses and the subtree re-executes once per branch (measured 6×
    split-UDF runs).
Local checkpoint blocks are owned by the RDD and freed by the context
cleaner when the result DataFrame is dropped — no cache-manager entry
outlives the caller (the round-3 cache-lifetime leak).

Scale notes: the data-level windows are partitioned (parallel); only the
counts prefix-sum is a global window over per-group rows, and the
broadcast offsets table grows with the group count.  At 10^12 files that
one window shards hierarchically (prefix-sum tree over (repo-bucket,
repo, path)); at sandbox scale a single level suffices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2ch_spark import workerenv
from osm2ch_spark.session import shuffle_partitions


def with_sequential_id(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    id_col: str,
    weight: str | None = None,
) -> DataFrame:
    """Add ``id_col`` = the first id of the row's block under the total
    order ``(group_cols, order_cols)``, which must be duplicate-free:
    the group offset plus the sum of ``weight`` over the group's earlier
    rows plus 1.  Groups must be contiguous in that total order (true
    for per-file grouping when the order key starts with the file
    identity or with ids assigned in file order).

    ``weight``: name of a non-negative integer column; None counts every
    row once (a 1-based gapless rank).  A row of weight 0 still gets a
    value but owns no ids.

    The ranked table is eagerly local-checkpointed (module docstring), so
    Spark jobs run during this call.
    """
    wt = F.col(weight) if weight else F.lit(1)
    w_before = (
        Window.partitionBy(*group_cols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # explicit-N repartition on the window's partition keys: satisfies
    # the window's required distribution (no second exchange) AND pins
    # the checkpointed RDD's partition count — AQE would otherwise
    # coalesce the planner-inserted exchange below target parallelism
    # (observed 16 partitions feeding 32 cores), under-parallelizing
    # every later phase that scans the materialized table.
    n = shuffle_partitions(df.sparkSession)
    df = df.repartition(n, *[F.col(c) for c in group_cols])
    ranked = workerenv.materialize_df(
        df.withColumn("_rk", F.coalesce(F.sum(wt).over(w_before), F.lit(0)) + 1)
    )

    # per-group totals — derived from the ranked table (not from df) so
    # the input never re-runs.
    counts = ranked.groupBy(*group_cols).agg(F.sum(wt).alias("_grp_cnt"))
    w_off = (
        Window.orderBy(*[F.col(c) for c in group_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # BROADCAST the offsets: one row per group (metadata-scale by the
    # contract above).  Catalyst cannot estimate a window-over-aggregate
    # subtree and falls back to a sort-merge join, which SORTS the full
    # data table by the group key a second time — measured 2× the whole
    # stage's CPU on the 21M-row expansion table.  (At 10^12-file scale
    # the offsets table itself shards hierarchically — module docstring.)
    offsets = F.broadcast(
        counts.select(
            *group_cols,
            F.coalesce(F.sum("_grp_cnt").over(w_off), F.lit(0)).alias("_grp_off"),
        )
    )
    return (
        ranked.join(offsets, list(group_cols), "inner")
        .withColumn(id_col, (F.col("_grp_off") + F.col("_rk")).cast("long"))
        .drop("_grp_off", "_rk")
    )
