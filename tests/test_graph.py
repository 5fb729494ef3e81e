"""GA1–GA4 vs numpy oracles on fixture-derived and seeded graphs,
plus the checkpoint/resume contract (FIXTURES.md §4)."""

import numpy as np
import pytest

from osm2ch_spark import fixtures, pipeline
from osm2ch_spark.graph import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
    triangles_per_vertex,
)
from osm2ch_spark.graph.adjacency import build_adjacency
from tests import graph_oracle as O


def edge_df(spark, edge_list):
    return spark.createDataFrame(
        [(int(u), int(v), 1.0, False) for u, v in edge_list],
        "source_vertex long, target_vertex long, weight double, one_way boolean",
    )


@pytest.fixture(scope="module")
def graphs(spark):
    out = {
        "power_law": O.seeded_graph("power_law"),
        "multi_component": O.seeded_graph("multi_component"),
    }
    # expanded line graph of the t_junction fixture
    src = fixtures.micrograph_source(spark, ["t_junction", "split_shared_node"])
    exp = pipeline.build_expanded(src)
    out["expanded_fixture"] = [
        (r["source_vertex"], r["target_vertex"]) for r in exp.collect()
    ]
    return out


GRAPH_KEYS = ["power_law", "multi_component", "expanded_fixture"]


@pytest.mark.parametrize("key", GRAPH_KEYS)
def test_pagerank_allclose(spark, key, graphs):
    edges = graphs[key]
    oracle = O.pagerank_oracle(edges)
    got = {r["vertex"]: r["rank"] for r in pagerank(edge_df(spark, edges)).collect()}
    assert set(got) == set(oracle)
    g = np.array([got[v] for v in sorted(got)])
    o = np.array([oracle[v] for v in sorted(oracle)])
    assert np.allclose(g, o, atol=1e-6), f"{key}: max diff {np.abs(g - o).max()}"
    assert abs(g.sum() - 1.0) < 1e-9


@pytest.mark.parametrize("key", GRAPH_KEYS)
def test_connected_components_exact(spark, key, graphs):
    edges = graphs[key]
    oracle = O.cc_oracle(edges)
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(edge_df(spark, edges)).collect()
    }
    assert got == oracle


@pytest.mark.parametrize("key", ["multi_component", "expanded_fixture"])
def test_label_propagation_exact(spark, key, graphs):
    edges = graphs[key]
    oracle = O.lpa_oracle(edges, max_iter=20)
    got = {
        r["vertex"]: r["label"]
        for r in label_propagation(edge_df(spark, edges), max_iter=20).collect()
    }
    # oracle only covers vertices with neighbors; ours covers the same set
    assert got == oracle


@pytest.mark.parametrize("key", GRAPH_KEYS)
def test_triangle_count_exact(spark, key, graphs):
    edges = graphs[key]
    assert triangle_count(edge_df(spark, edges)) == O.triangles_oracle(edges)


def test_triangles_per_vertex(spark, graphs):
    edges = graphs["power_law"]
    per_v = {
        r["vertex"]: r["triangles"]
        for r in triangles_per_vertex(edge_df(spark, edges)).collect()
    }
    # sum over vertices counts each triangle 3 times
    assert sum(per_v.values()) == 3 * O.triangles_oracle(edges)


def test_triangles_skewed_hub(spark):
    """Degree-orientation keeps hub wedge work bounded: a degree-200 hub
    with low vertex id would pay C(200,2)=19900 wedges under
    id-orientation; oriented low-degree→high-degree the hub receives the
    edges instead and generates ZERO wedges.  Count stays exact."""
    from osm2ch_spark.graph.adjacency import canonical_edges
    from osm2ch_spark.graph.triangles import _oriented

    hub = 0  # lowest id — the id-orientation worst case
    spokes = list(range(1, 201))
    edges = [(hub, s) for s in spokes]
    # a few closures among spokes → triangles through the hub
    edges += [(1, 2), (3, 4), (5, 6)]
    assert O.triangles_oracle(edges) == 3
    df = edge_df(spark, edges)
    assert triangle_count(df) == 3
    oe = _oriented(canonical_edges(df))
    out_deg = {
        r["x"]: r["cnt"]
        for r in oe.groupBy("x").count().withColumnRenamed("count", "cnt").collect()
    }
    # every spoke points AT the hub; the hub has no out-edges at all
    assert out_deg.get(hub, 0) == 0
    assert max(out_deg.values()) <= 3


def test_adjacency_chunking(spark):
    # a hub with 10 out-edges, chunk size 4 → 3 chunks, degree preserved
    edges = edge_df(spark, [(1, t) for t in range(2, 12)])
    adj = build_adjacency(edges, max_chunk=4).collect()
    hub = [r for r in adj if r["source_vertex"] == 1]
    assert len(hub) == 3
    assert all(r["out_degree"] == 10 for r in hub)
    assert sorted(sum((r["neighbors"] for r in hub), [])) == list(range(2, 12))


def test_pagerank_resume(spark, tmp_path, graphs):
    """Kill after k iterations, resume from checkpoint → identical result."""
    edges = graphs["multi_component"]
    df = edge_df(spark, edges)
    full = {r["vertex"]: r["rank"] for r in pagerank(df, max_iter=12, tol=0.0).collect()}

    ck = str(tmp_path / "ck")
    pagerank(df, max_iter=5, tol=0.0, checkpoint_dir=ck, checkpoint_every=1)
    resumed = {
        r["vertex"]: r["rank"]
        for r in pagerank(
            df, max_iter=12, tol=0.0, checkpoint_dir=ck, checkpoint_every=1, resume=True
        ).collect()
    }
    g = np.array([full[v] for v in sorted(full)])
    r = np.array([resumed[v] for v in sorted(resumed)])
    assert np.allclose(g, r, atol=1e-12)


# the committed state holds only the algorithm's own columns: a value a
# step carries for its sync never reaches the parquet state, so every
# commit resumes under any version of the step
STATE_COLUMNS = {
    "pagerank": ["vertex", "has_out", "rank"],
    "connected_components": ["u", "v"],
    "label_propagation": ["vertex", "label"],
}


@pytest.mark.parametrize("algo", [pagerank, connected_components, label_propagation],
                         ids=lambda f: f.__name__)
def test_lineage_rows(spark, tmp_path, graphs, algo):
    """One commit rule for every loop: commit iff the iteration is a
    multiple of checkpoint_every — neither convergence nor max_iter
    forces a commit.  Each commit writes the state's own columns only."""
    import json
    import os

    ck = str(tmp_path / "ck2")
    kwargs = {"tol": 0.0} if algo is pagerank else {}
    algo(edge_df(spark, graphs["multi_component"]), max_iter=5,
         checkpoint_dir=ck, checkpoint_every=2, **kwargs)
    lineage = [
        json.loads(l)
        for l in open(os.path.join(ck, algo.__name__, "lineage.json"))
        if l.strip()
    ]
    iters = [m["iteration"] for m in lineage]
    assert iters and all(it % 2 == 0 for it in iters)
    if algo is pagerank:
        assert iters == [2, 4]
    for m in lineage:
        assert m["rows"] > 0 and m["checkpoint_path"] and "delta" in m and m["partitions"] > 0
        # per-partition lineage (north rule): one entry per committed
        # parquet part with its row count, summing to the state total
        assert m["partition_rows"], "per-partition lineage missing"
        assert sum(p["rows"] for p in m["partition_rows"]) == m["rows"]
        assert spark.read.parquet(m["checkpoint_path"]).columns == STATE_COLUMNS[algo.__name__]


def test_pagerank_fixed_iteration_lineage_delta(spark, tmp_path, graphs):
    """tol=0 runs exactly max_iter iterations and still measures each
    one: every lineage delta is the L1 distance between consecutive
    committed states (the first against the uniform 1/n start)."""
    import json
    import os

    ck = str(tmp_path / "ck_delta")
    pagerank(edge_df(spark, graphs["multi_component"]), max_iter=4, tol=0.0,
             checkpoint_dir=ck, checkpoint_every=1)
    lineage = [json.loads(l) for l in open(os.path.join(ck, "pagerank", "lineage.json"))
               if l.strip()]
    assert [m["iteration"] for m in lineage] == [1, 2, 3, 4]
    prev = None
    for m in lineage:
        state = {r["vertex"]: r["rank"] for r in spark.read.parquet(m["checkpoint_path"]).collect()}
        if prev is None:
            prev = dict.fromkeys(state, 1.0 / len(state))
        l1 = sum(abs(state[v] - prev[v]) for v in state)
        assert m["delta"] > 0.0 and np.isclose(m["delta"], l1, rtol=1e-9, atol=1e-15), (m, l1)
        prev = state


def test_resume_skips_torn_lineage_tail(spark, tmp_path, graphs):
    """A crash mid-append can tear lineage.json's last line; resume must
    fall back to the previous complete row instead of raising."""
    import json
    import os

    from osm2ch_spark.graph.checkpoint import CheckpointManager

    ck = str(tmp_path / "torn")
    pagerank(edge_df(spark, graphs["multi_component"]), max_iter=4, tol=0.0,
             checkpoint_dir=ck, checkpoint_every=2)
    lineage_path = os.path.join(ck, "pagerank", "lineage.json")
    with open(lineage_path, "a") as f:
        f.write('{"algorithm": "pagerank", "iteration": 6, "rows"')  # torn
    mgr = CheckpointManager(ck, "pagerank")
    meta = mgr.latest()
    assert meta is not None and meta["iteration"] == 4
    state, it = mgr.resume(spark)
    assert it == 4 and state.count() > 0


def test_commit_after_torn_lineage_tail_is_latest(spark, tmp_path):
    """The first commit after a crash cuts the torn tail off before it
    appends, so resume picks up the new row, not the one before it."""
    import json

    from osm2ch_spark.graph.checkpoint import CheckpointManager

    mgr = CheckpointManager(str(tmp_path / "torn"), "pagerank", every=2)
    state = spark.range(3).withColumnRenamed("id", "vertex")
    mgr.commit(state, 4, delta=0.5, rows=3)
    with open(mgr._lineage_path(), "a") as f:
        f.write('{"algorithm": "pagerank", "iteration": 6, "rows"')  # torn
    mgr.commit(state, 6, delta=0.25, rows=3)
    meta = mgr.latest()
    assert meta["iteration"] == 6 and meta["delta"] == 0.25
    with open(mgr._lineage_path()) as f:
        assert [json.loads(line)["iteration"] for line in f] == [4, 6]


def test_resume_checks_state_against_lineage(spark, tmp_path, graphs):
    """Resume checks each state directory against its lineage row's
    partition_rows (parquet footers only): a part file replaced by one
    with another row count, a deleted part file or a missing directory
    makes resume fall back to the previous commit, and the resumed run
    still ends in the uninterrupted result."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from osm2ch_spark.graph.checkpoint import CheckpointManager

    df = edge_df(spark, graphs["multi_component"])
    ck = str(tmp_path / "faulty")
    pagerank(df, max_iter=4, tol=0.0, checkpoint_dir=ck, checkpoint_every=1)
    mgr = CheckpointManager(ck, "pagerank")

    def biggest_part(it):
        parts = glob.glob(os.path.join(ck, "pagerank", f"iter={it}", "part-*.parquet"))
        return max(parts, key=lambda f: pq.ParquetFile(f).metadata.num_rows)

    victim = biggest_part(4)
    table = pq.read_table(victim)
    pq.write_table(table.slice(0, table.num_rows - 1), victim)
    assert mgr.latest()["iteration"] == 4 and mgr.resume(spark)[1] == 3
    os.remove(biggest_part(3))
    assert mgr.resume(spark)[1] == 2
    shutil.rmtree(os.path.join(ck, "pagerank", "iter=2"))
    assert mgr.resume(spark)[1] == 1

    full = {r["vertex"]: r["rank"] for r in pagerank(df, max_iter=6, tol=0.0).collect()}
    resumed = {r["vertex"]: r["rank"] for r in pagerank(
        df, max_iter=6, tol=0.0, checkpoint_dir=ck, checkpoint_every=1, resume=True).collect()}
    assert resumed.keys() == full.keys()
    assert np.allclose([resumed[v] for v in full], list(full.values()), atol=1e-12)
    assert mgr.resume(spark)[1] == 6


def test_partition_rows_tolerates_nonlocal_path():
    from osm2ch_spark.graph.checkpoint import CheckpointManager

    # non-local URI: os.listdir raises; lineage enrichment must degrade
    # to [] instead of killing the run
    assert CheckpointManager._partition_rows("hdfs://nn/ck/iter=1") == []


def test_cc_lpa_resume(spark, tmp_path, graphs):
    """Resume mid-run → identical final state (CC edge-set, LPA labels)."""
    edges = graphs["multi_component"]
    df = edge_df(spark, edges)

    full_cc = {r["vertex"]: r["component"] for r in connected_components(df).collect()}
    ck = str(tmp_path / "cc")
    connected_components(df, max_iter=1, checkpoint_dir=ck, checkpoint_every=1)
    resumed_cc = {
        r["vertex"]: r["component"]
        for r in connected_components(
            df, checkpoint_dir=ck, checkpoint_every=1, resume=True
        ).collect()
    }
    assert resumed_cc == full_cc

    full_lpa = {r["vertex"]: r["label"] for r in label_propagation(df, max_iter=8).collect()}
    ck2 = str(tmp_path / "lpa")
    label_propagation(df, max_iter=3, checkpoint_dir=ck2, checkpoint_every=1)
    resumed_lpa = {
        r["vertex"]: r["label"]
        for r in label_propagation(
            df, max_iter=8, checkpoint_dir=ck2, checkpoint_every=1, resume=True
        ).collect()
    }
    assert resumed_lpa == full_lpa


# Runs in a child process: PageRank for a fixed number of iterations,
# then connected components, both committing every iteration.
_KILLED_RUN = """
import sys
from osm2ch_spark import get_spark
from osm2ch_spark.graph import connected_components, pagerank

src, ck, pr_iters = sys.argv[1], sys.argv[2], int(sys.argv[3])
spark = get_spark(master="local[2]", shuffle_partitions=4)
edges = spark.read.parquet(src)
pagerank(edges, max_iter=pr_iters, tol=0.0, checkpoint_dir=ck, checkpoint_every=1).count()
connected_components(edges, checkpoint_dir=ck, checkpoint_every=1).count()
"""


def test_resume_after_kill(spark, tmp_path):
    """Resume survives a real kill, not just a clean re-entry: a child
    session (its JVM and Python workers in one process group) runs
    PageRank, then connected components, and is SIGKILLed as soon as
    CC's first lineage row appears, mid-loop.  Resumed here, PageRank
    continues from the killed session's last commit and CC from
    whatever its commits left; both equal uninterrupted runs."""
    import json
    import os
    import signal
    import subprocess
    import sys
    import time

    # a path over shuffled ids: CC needs several rounds, so the kill
    # lands mid-loop
    perm = np.random.RandomState(7).permutation(400)
    pairs = [(int(perm[i]), int(perm[i + 1])) for i in range(399)]
    pairs += [(int(perm[i]), int(perm[(i * 37) % 400])) for i in range(0, 400, 50)]
    df = edge_df(spark, pairs)
    src = str(tmp_path / "edges.parquet")
    df.write.parquet(src)
    ck = str(tmp_path / "ck")
    cc_lineage = os.path.join(ck, "connected_components", "lineage.json")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([repo] + paths),
           "SPARK_DRIVER_MEMORY": "1g"}
    child = subprocess.Popen([sys.executable, "-c", _KILLED_RUN, src, ck, "3"], env=env,
                             stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                             start_new_session=True)
    try:
        deadline = time.monotonic() + 150
        while not (os.path.exists(cc_lineage) and os.path.getsize(cc_lineage)):
            assert child.poll() is None, "child exited before it could be killed"
            assert time.monotonic() < deadline, "no CC lineage row"
            time.sleep(0.02)
    finally:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    assert child.returncode == -signal.SIGKILL
    killed_at = [json.loads(l)["iteration"] for l in open(cc_lineage) if l.endswith("\n")]

    full_pr = {r["vertex"]: r["rank"] for r in pagerank(df, max_iter=6, tol=0.0).collect()}
    pr = {r["vertex"]: r["rank"] for r in pagerank(
        df, max_iter=6, tol=0.0, checkpoint_dir=ck, checkpoint_every=1, resume=True).collect()}
    assert pr.keys() == full_pr.keys()
    assert np.allclose([pr[v] for v in full_pr], list(full_pr.values()), rtol=0, atol=1e-12)

    full_ck = str(tmp_path / "full")
    full_cc = {r["vertex"]: r["component"] for r in connected_components(
        df, checkpoint_dir=full_ck, checkpoint_every=1).collect()}
    rounds = [json.loads(l)["iteration"]
              for l in open(os.path.join(full_ck, "connected_components", "lineage.json"))]
    assert max(killed_at) < max(rounds), "the kill landed after CC's last round"
    cc = {r["vertex"]: r["component"] for r in connected_components(
        df, checkpoint_dir=ck, checkpoint_every=1, resume=True).collect()}
    assert cc == full_cc
