"""GA2 — connected components via alternating small-star / large-star
(Kiveris et al., "Connected Components in MapReduce and Beyond").

Undirected semantics over the directed edge table.  Converges in
O(log n) rounds regardless of graph diameter (a min-propagation loop is
O(diameter) — unacceptable on road grids).  Each round is two
groupBy+explode passes; convergence is detected with a deterministic
(count, xor-of-hash, sum-of-hash) signature of the edge set — no
expensive set-difference join.

Result: (vertex BIGINT, component BIGINT) with component = min vertex id
of the component (exact, oracle-comparable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2ch_spark.graph.adjacency import canonical_edges, symmetrize, vertices_table
from osm2ch_spark.graph.loop import iterate
# the one lineage cut, under the name the traced benchmark counts rounds by
from osm2ch_spark.workerenv import materialize_df as localcheckpoint


def _large_star(e: DataFrame) -> DataFrame:
    """For each u over symmetric neighbors: connect strictly larger
    neighbors to m = min(Γ(u) ∪ {u}).  Join-based (a per-key min + an
    equi-join) — no collect_set arrays, so hub vertices cost O(degree)
    narrow rows instead of one giant list row."""
    sym = symmetrize(e)
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("u", "mv").alias("m"))
    out = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    # no distinct here: small_star's min-agg is duplicate-insensitive and
    # its final distinct restores set semantics — saves a shuffle per round
    return out.filter(F.col("u") != F.col("v"))


def _small_star(e: DataFrame) -> DataFrame:
    """Canonicalize so u = max: for each u connect all smaller-or-equal
    neighbors (and u itself) to their min.

    The per-key min is a WINDOW over partitionBy(u) rather than a
    groupBy+self-join: ``e`` here is the UNMATERIALIZED large-star plan
    (a join), and the join+agg shape scanned that plan twice per round
    (once for the mins aggregate, once as the join probe — the exchanges
    dedup via reuse, but the join itself re-executed).  The window makes
    one pass over one exchange of ``canon`` (guide §2.4), and the
    ``mins`` rows for the union drop out of the same pass with a
    partition-local dedup (no extra shuffle — the window's partitioning
    already satisfies the aggregate)."""
    from pyspark.sql import Window

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
    # at convergence every edge points a vertex at its component root
    roots = e.select(F.col("u").alias("vertex"), F.col("v").alias("component"))
    roots = roots.groupBy("vertex").agg(F.min("component").alias("component"))
    # single-use vertex set — no persist: caching a 10^8-row vertex set
    # bought nothing and competed with execution memory for the whole loop
    verts = vertices_table(edges).select("vertex")
    return verts.join(roots, "vertex", "left").select(
        "vertex", F.coalesce("component", F.col("vertex")).alias("component")
    )
