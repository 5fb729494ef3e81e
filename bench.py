"""Headline benchmark.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default: ``SF_DIR``
below) on local[$SPARK_GRAFT_CPUS] (default: the CPUs in this process's
affinity mask); prints ONE JSON line
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per-layer timings, A/B pairs and N-vs-4N scaling are measured with
``perfbench/run.py`` (see README.md, "Scaling").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
# warmup runs use the small sibling sf dir of SF_DIR (overridable) so the
# harness works on any testdata layout, not just /root/testdata
WARMUP_SF_DIR = os.environ.get(
    "SPARK_GRAFT_WARMUP_SF_DIR",
    os.path.join(os.path.dirname(SF_DIR.rstrip("/")) or "/root/testdata", "sf0.01"),
)


def _sf_of(path: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else 0.0


def headline_queries(sf_dir=None):
    """name -> fn(spark) -> rows_processed (forces full computation)."""
    sf_dir = sf_dir or SF_DIR
    from pyspark.sql import functions as F

    from osm2ch_spark import fixtures, pipeline
    from osm2ch_spark import tpch_world as W
    from osm2ch_spark.graph import pagerank, connected_components, triangle_count

    def q_edge_pipeline(spark):
        # full pipeline over the TPC-H-projected world (W1 UDF + IDs +
        # expansion + restrictions)
        return W.tpch_final_expanded(spark, sf_dir).count()

    def q_osm_parse_pipeline(spark):
        # OSM-native path incl. JSON parse, on the synthetic grid source
        src = fixtures.synth_source(spark, n_files=48, grid=10)
        return pipeline.build_expanded(src).count()

    def q_pagerank(spark):
        # PageRank over the line graph produced by the pipeline (large)
        edges = pipeline.edge_table(
            W.tpch_expanded(spark, sf_dir).select(
                F.col("src_edge_id").alias("source_vertex"),
                F.col("dst_edge_id").alias("target_vertex"),
                "weight",
                "one_way",
            )
        )
        edges = edges.localCheckpoint(eager=True)
        n_edges = edges.count()
        pagerank(edges, max_iter=5, tol=0.0).count()
        return n_edges * 5  # edge-visits processed

    def q_connected_components(spark):
        edges = W.tpch_expanded(spark, sf_dir).select(
            F.col("src_edge_id").alias("source_vertex"),
            F.col("dst_edge_id").alias("target_vertex"),
        ).withColumn("weight", F.lit(1.0)).withColumn("one_way", F.lit(False))
        edges = edges.localCheckpoint(eager=True)
        connected_components(edges).count()
        return edges.count()

    def q_triangles(spark):
        return triangle_count(W.tpch_edge_graph(spark, sf_dir))

    def q_dedup_minhash(spark):
        from osm2ch_spark.data_ops import QUERIES

        return QUERIES["dedup_minhash_lsh"](spark, sf_dir).count()

    def q_cosine_topk(spark):
        from osm2ch_spark.data_ops import QUERIES

        return QUERIES["embedding_cosine_topk"](spark, sf_dir).count()

    return {
        "edge_pipeline": q_edge_pipeline,
        "osm_parse_pipeline": q_osm_parse_pipeline,
        "pagerank5": q_pagerank,
        "connected_components": q_connected_components,
        "triangles": q_triangles,
        "dedup_minhash": q_dedup_minhash,
        "cosine_topk": q_cosine_topk,
    }


# the per-round bench set: every headline query, in run order
DEFAULT_QUERIES = (
    "edge_pipeline", "osm_parse_pipeline", "pagerank5",
    "connected_components", "triangles", "dedup_minhash", "cosine_topk",
)


def run_once(cpus: int, reps: int = 1) -> dict:
    """Run the headline queries; with reps>1 keep the per-query MIN
    (steady-state — first-touch costs are not a property of the plan)."""
    from osm2ch_spark import get_spark

    spark = get_spark(
        app_name=f"bench-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warmup: run the same paths at sf0.01 untimed — absorbs JIT, heap
    # page-faulting, and Python-worker spawn so timings measure the plan,
    # not first-touch costs.
    for fn in headline_queries(WARMUP_SF_DIR).values():
        fn(spark)
    qs = headline_queries()

    def settle_heap():
        """Drop the previous pass's checkpoint blocks and collect its
        garbage before a timed rep, so the next rep's first full GC does
        not inherit the previous heap.  Two GC cycles: the first enqueues
        the dropped RDDs' weak refs (ContextCleaner unpersists
        asynchronously), the second reclaims the freed block memory."""
        import gc

        from osm2ch_spark import tpch_world as W

        W.reset_world()
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(3)
        spark.sparkContext._jvm.System.gc()
        time.sleep(1)

    best: dict[str, float] = {}
    # reps are INTERLEAVED round-robin across queries (q1..qN, q1..qN,
    # ...) with the per-query MIN kept: interleaving spreads any
    # host-load drift window across every query instead of poisoning one.
    for _ in range(reps):
        for name, fn in qs.items():
            # drop memoized world tables + any cached plans so every rep
            # honestly rebuilds from the parquet inputs
            settle_heap()
            t0 = time.perf_counter()
            fn(spark)
            dt = time.perf_counter() - t0
            best[name] = min(best.get(name, dt), dt)
    spark.stop()
    return {
        "queries": {name: round(b, 3) for name, b in best.items()},
        "total_sec": round(sum(best.values()), 3),
    }


def main():
    res = run_once(CPUS, reps=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    print(
        json.dumps(
            {
                "metric": "headline_total_wall",
                "value": res["total_sec"],
                "unit": "sec",
                "queries": res["queries"],
                "sf": _sf_of(SF_DIR),
            }
        )
    )


if __name__ == "__main__":
    main()
