"""Phase-isolation benchmarks (guide §1.4) — NOT the driver contract.

bench.py is frozen for measurement; this file answers "where inside each
headline query does the wall go" by timing sub-phases with the noop sink
and by counting Spark jobs per phase.  Run:

    python bench_extra.py phases        # phase breakdown of the big three

Per-round CC and per-iteration PageRank figures come from the engine's
own loops: ``python3 perfbench/run.py --workload hub_e2e --seed 1
--trace 1`` (``graph.components.rounds``/``round_s``,
``graph.pagerank.iter_s``).

Same session config as bench.py (local[$SPARK_GRAFT_CPUS], shuffle
partitions max(cpus, 8)), same sf dir ($SPARK_GRAFT_SF_DIR), untimed
sf0.01 warmup of the same paths first.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = os.environ.get("SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.01")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def get_session():
    from osm2ch_spark import get_spark

    spark = get_spark(app_name="bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Phase:
    """Times a phase and counts the Spark jobs it launched."""

    def __init__(self, spark, out):
        self.spark = spark
        self.out = out

    def run(self, name, fn):
        st = self.spark.sparkContext.statusTracker()
        j0 = len(st.getJobIdsForGroup(None) or [])
        self.spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        r = fn()
        dt = time.perf_counter() - t0
        j1 = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])
        self.spark.sparkContext.setJobDescription(None)
        self.out[name] = {"sec": round(dt, 3), "jobs": j1 - j0}
        print(f"  {name:40s} {dt:8.3f} s  ({j1 - j0} jobs)", flush=True)
        return r


def settle(spark):
    import gc

    from osm2ch_spark import tpch_world as W

    W.reset_world()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)


def warmup(spark):
    """Same untimed warmup as bench.run_once, restricted to the used paths."""
    import bench

    for name, fn in bench.headline_queries(WARM_DIR).items():
        if name in ("edge_pipeline", "osm_parse_pipeline", "pagerank5",
                    "connected_components", "triangles"):
            fn(spark)
    settle(spark)


def phases(spark):
    from pyspark.sql import functions as F

    from osm2ch_spark import fixtures, pipeline
    from osm2ch_spark import tpch_world as W

    out = {}
    p = Phase(spark, out)
    print("== edge_pipeline phase split ==", flush=True)
    settle(spark)
    p.run("ways (memo materialize)", lambda: W._memo(spark, SF_DIR, "ways", lambda: W.tpch_ways(spark, SF_DIR)).count())
    p.run("edges (split_ways W1+ID1)", lambda: W.tpch_edges(spark, SF_DIR).count())
    p.run("expanded (J3+ID2, memo)", lambda: W.tpch_expanded(spark, SF_DIR).count())
    p.run("final (rules+anti-joins+splice)", lambda: W.tpch_final_expanded(spark, SF_DIR).count())

    print("== connected_components phase split ==", flush=True)
    settle(spark)
    p.run("cc: expanded rebuild", lambda: W.tpch_expanded(spark, SF_DIR).count())
    edges = W.tpch_expanded(spark, SF_DIR).select(
        F.col("src_edge_id").alias("source_vertex"),
        F.col("dst_edge_id").alias("target_vertex"),
    ).withColumn("weight", F.lit(1.0)).withColumn("one_way", F.lit(False))
    edges = edges.localCheckpoint(eager=True)
    from osm2ch_spark.graph import connected_components

    p.run("cc: loop only", lambda: connected_components(edges).count())

    print("== pagerank5 phase split ==", flush=True)
    settle(spark)
    p.run("pr: expanded rebuild", lambda: W.tpch_expanded(spark, SF_DIR).count())
    pe = pipeline.edge_table(
        W.tpch_expanded(spark, SF_DIR).select(
            F.col("src_edge_id").alias("source_vertex"),
            F.col("dst_edge_id").alias("target_vertex"),
            "weight", "one_way",
        )
    ).localCheckpoint(eager=True)
    pe.count()
    from osm2ch_spark.graph import pagerank

    p.run("pr: pagerank(5) only", lambda: pagerank(pe, max_iter=5, tol=0.0).count())

    print("== osm_parse_pipeline phase split ==", flush=True)
    settle(spark)
    src = fixtures.synth_source(spark, n_files=48, grid=10)
    p.run("parse: build_expanded", lambda: pipeline.build_expanded(src).count())
    return out


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "phases"
    spark = get_session()
    warmup(spark)
    fn = {"phases": phases}[mode]
    out = fn(spark)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
