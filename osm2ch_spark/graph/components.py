"""GA2 — connected components via alternating small-star / large-star
(Kiveris et al., "Connected Components in MapReduce and Beyond").

Undirected semantics over the directed edge table.  Converges in
O(log n) rounds regardless of graph diameter (a min-propagation loop is
O(diameter) — unacceptable on road grids).  Each round is two window
passes (large-star, then small-star: a per-vertex min over one
exchange each) plus one ``distinct``, and no round joins; convergence is
detected with a deterministic (count and two xor-of-hash) signature of
the edge set, confirmed by one anti-join only when the signatures match.

Result: (vertex BIGINT, component BIGINT) with component = min vertex id
of the component (exact, oracle-comparable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2ch_spark.graph.adjacency import canonical_edges, symmetrize
from osm2ch_spark.graph.loop import iterate
# the one lineage cut, under the name the traced benchmark counts rounds by
from osm2ch_spark.workerenv import materialize_df as localcheckpoint


def _large_star(e: DataFrame) -> DataFrame:
    """For each u over symmetric neighbors: connect strictly larger
    neighbors v to m = min(Γ(u) ∪ {u}).  The per-key min is a window
    over partitionBy(u), as in small-star: narrow rows, no collect_set
    arrays, so hub vertices cost O(degree) rows instead of one giant list
    row.  Every output row has v > u >= m, so none is a self-link."""
    m = F.least("u", F.min("v").over(Window.partitionBy("u")))
    # no distinct here: small_star's min is duplicate-insensitive and
    # its final distinct restores set semantics — saves a shuffle per round
    return (
        symmetrize(e).withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Canonicalize so u = max: for each u connect all smaller-or-equal
    neighbors (and u itself) to their min.

    The per-key min is a WINDOW over partitionBy(u) rather than a
    groupBy+self-join: ``e`` here is the UNMATERIALIZED large-star plan,
    and the join+agg shape scanned that plan twice per round (once for
    the mins aggregate, once as the join probe).  The window makes one
    pass over one exchange of ``canon`` (guide §2.4), and the ``mins``
    rows for the union drop out of the same pass with a partition-local
    dedup (no extra shuffle — the window's partitioning already satisfies
    the aggregate)."""
    canon = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    proj = canon.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    # one pass over the window output: every row emits (v, m); the row(s)
    # achieving the min additionally emit the (u, m) self-link that the
    # old shape union'd from the mins table.  (A duplicated (u, m) input
    # row emits the self-link more than once — a multiset difference the
    # trailing distinct erases.)  The exploded array holds primitive LONGS
    # with the shared min carried as a plain column — an array of structs
    # here allocated one object per emitted edge and showed up as ~50 s
    # of GC in the round's Generate stage (guide §5).
    firsts = F.when(
        F.col("v") == F.col("m"), F.array(F.col("v"), F.col("u"))
    ).otherwise(F.array(F.col("v")))
    out = proj.select(F.explode(firsts).alias("u"), F.col("m").alias("v"))
    out = out.filter(F.col("u") != F.col("v"))
    return out.distinct()


def _signature(e: DataFrame):
    """Deterministic set signature (count + two order-insensitive 64-bit
    hash XORs) — e is already distinct, no extra canonicalization pass.
    xxhash64 (not the 32-bit murmur F.hash) keeps the collision
    probability negligible; bit_xor (not SUM) is overflow-free under ANSI
    mode.  Convergence is still CONFIRMED exactly with one anti-join
    before the loop breaks (see connected_components)."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("s"),
        F.expr("bit_xor(xxhash64(v, u))").alias("s2"),
    ).collect()[0]
    return (row["n"], row["s"], row["s2"])


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> DataFrame:
    """Returns (vertex, component) for every vertex of the edge table."""

    def init() -> DataFrame:
        # Seed with the CANONICAL pair set, not the symmetric one:
        # _large_star symmetrizes its input internally, so a symmetric
        # seed made round 1 process every edge TWICE and the initial
        # checkpoint carry 2× the rows.  sym(canonical) == sym(undirected)
        # — the fixed point is identical.  eager=False: the signature
        # aggregate in begin() is the first action and materializes the
        # blocks — an eager checkpoint here paid a separate full pass.
        return localcheckpoint(canonical_edges(edges), eager=False)

    def begin(e: DataFrame):
        sig = _signature(e)

        def step(e: DataFrame):
            nonlocal sig
            # eager=False: the signature aggregate below materializes it
            new_e = localcheckpoint(_small_star(_large_star(e)), eager=False)
            new_sig = _signature(new_e)
            # a matching signature is confirmed EXACTLY (counts already
            # equal, so a one-sided anti-join against the previous set
            # suffices)
            converged = new_sig == sig and new_e.join(e, ["u", "v"], "left_anti").isEmpty()
            delta = float(abs(new_sig[0] - sig[0]))
            sig = new_sig
            return new_e, delta, new_sig[0], converged

        return step

    e = iterate(edges.sparkSession, "connected_components", init, begin, max_iter,
                checkpoint_dir, checkpoint_every, resume)
    # every state row after a round has v < u, v on u's component, and at
    # convergence v is its root: each endpoint sends itself as its own
    # candidate, so one min per vertex labels every vertex (a root, or an
    # endpoint of self-loops only, keeps its own id) with no join
    ends = edges.select(F.col("source_vertex").alias("vertex")).unionAll(
        edges.select(F.col("target_vertex").alias("vertex")))
    return (
        ends.select("vertex", F.col("vertex").alias("component"))
        .unionAll(e.select(F.col("u").alias("vertex"), F.col("v").alias("component")))
        .groupBy("vertex").agg(F.min("component").alias("component"))
    )
