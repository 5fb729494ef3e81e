"""Driver-contract smoke: entry() runs, queries() have matching oracle
keys, and a sample of queries runs against testdata + DuckDB."""

import duckdb
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def test_entry_runs(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == [
        "expanded_id", "src_edge_id", "dst_edge_id", "source_way",
        "target_way", "weight", "one_way",
    ]


def test_registry_shape():
    qs, os_ = E.queries(), E.oracle_sql()
    assert len(qs) >= 50
    # every oracle key must have a query
    assert set(os_) <= set(qs)
    # the non-oracled set is the explicitly iterative/stub set
    assert set(qs) - set(os_) == {"multimodal_decode_stub"}


@pytest.mark.parametrize(
    "name",
    ["agg_node_use_count", "self_join_edge_expansion", "dedup_minhash_lsh",
     "embedding_cosine_topk", "pagerank", "geom_way_scalars"],
)
def test_query_matches_oracle(spark, ducks, name):
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from check_correctness import compare

    qs, os_ = E.queries(), E.oracle_sql()
    sdf = qs[name](spark, SF).toPandas()
    odf = ducks.execute(os_[name]).fetchdf()
    assert compare(name, sdf, odf) == []


def test_cli_parser_defaults():
    """Flag parity with cmd/osm2ch/main.go:16-23 (names re-spelled for the
    table-source world; -contract scope-excluded)."""
    from osm2ch_spark.cli import DEFAULT_TAGS, build_parser

    p = build_parser()
    a = p.parse_args(["--source", "/x/y"])
    assert a.geomf == "wkt" and a.units == "km" and a.out == "my_graph.csv"
    assert "residential" in DEFAULT_TAGS and "motorway_link" in DEFAULT_TAGS
    assert len(DEFAULT_TAGS.split(",")) == 13  # same 13-tag default set
    a2 = p.parse_args(["--source", "/x", "--geomf", "geojson", "--units", "m"])
    assert a2.geomf == "geojson" and a2.units == "m"


def test_cli_sink_autoswitch():
    """The CLI auto-selects the distributed sink above the row threshold
    (driver-side collect would OOM at scale); --single-file forces the
    reference-parity single file, --distributed-sink forces parts."""
    from osm2ch_spark.cli import build_parser, pick_distributed

    a = build_parser().parse_args(["--source", "/x"])
    assert a.sink_threshold == 5_000_000 and not a.single_file
    assert pick_distributed(100, False, False, 5_000_000) is False
    assert pick_distributed(5_000_001, False, False, 5_000_000) is True
    assert pick_distributed(5_000_001, True, False, 5_000_000) is False  # forced parity
    assert pick_distributed(100, False, True, 5_000_000) is True  # forced dist


def test_cli_error_line():
    """The CLI turns two failures into one clean line, whatever traceback
    wraps them, and lets every other failure raise."""
    from osm2ch_spark.cli import error_line

    strict = RuntimeError(
        "PythonException:\n  Traceback (most recent call last):\n"
        "ValueError: way-node reference(s) missing from the node scan, e.g. node 2\n"
        "\tat org.apache.spark.api.python.BasePythonRunner")
    line = error_line(strict)
    assert line.startswith("ValueError: way-node reference(s) missing") and "node 2" in line
    assert "--permissive" in line

    disk = RuntimeError(
        "An error occurred while calling o123.count.\n"
        "java.io.IOException: No space left on device\n\tat java.io.FileOutputStream")
    line = error_line(disk)
    assert "spark.local.dir" in line and "OSM2CH_LOCAL_DIR" in line
    assert "\n" not in line

    assert error_line(RuntimeError("java.lang.OutOfMemoryError: Java heap space")) is None


def test_tpch_ways_wide_partkeys(spark, tmp_path):
    """The packed (l_linenumber, l_partkey) sort key keeps node ids and
    their order exact for partkeys at and above 2^32."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osm2ch_spark import tpch_world as W

    big = 2**32
    pq.write_table(pa.table({"o_orderkey": pa.array([1, 2], pa.int64())}),
                   str(tmp_path / "orders.parquet"))
    lines = [(1, 2, big + 5), (1, 1, 2 * big), (1, 1, big + 1), (1, 3, 7),
             (1, 7, 2**59 + 3), (2, 1, 2**40)]
    pq.write_table(pa.table({
        "l_orderkey": pa.array([o for o, _, _ in lines], pa.int64()),
        "l_linenumber": pa.array([ln for _, ln, _ in lines], pa.int32()),
        "l_partkey": pa.array([pk for _, _, pk in lines], pa.int64()),
    }), str(tmp_path / "lineitem.parquet"))
    got = {r["way_id"]: list(r["nodes"]) for r in W.tpch_ways(spark, str(tmp_path)).collect()}
    # (l_linenumber, l_partkey) order
    assert got == {1: [big + 1, 2 * big, big + 5, 7, 2**59 + 3], 2: [2**40]}


def test_default_session_starts():
    """get_spark() with no cores/heap/JVM overrides sizes itself from the
    host (affinity cores, half the available memory) and runs a job."""
    import os
    import subprocess
    import sys

    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "SPARK_DRIVER_JAVA_OPTS")}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = "from osm2ch_spark import get_spark; print(get_spark().range(10).count())"
    r = subprocess.run([sys.executable, "-c", code], cwd=repo, env=env,
                       capture_output=True, text=True, timeout=180)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.split()[-1] == "10"


def test_bench_defaults_from_host():
    """bench.py sizes itself from the host (affinity cores) and its query
    set is exactly the headline set."""
    import json
    import os
    import subprocess
    import sys

    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import json, bench; print(json.dumps([bench.CPUS, "
            "list(bench.headline_queries()), list(bench.DEFAULT_QUERIES)]))")
    r = subprocess.run([sys.executable, "-c", code], cwd=repo, env=env,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    cpus, keys, default = json.loads(r.stdout.splitlines()[-1])
    assert cpus == len(os.sched_getaffinity(0))
    assert keys == default


def test_cli_strict_missing_node(tmp_path):
    """The CLI's strict mode (the default) fails fast on a way-node
    reference absent from the node scan (osm_loader.go:216-218): exit 1,
    one clean ``ERROR:`` line naming the node, and no edges CSV.
    ``--permissive`` proceeds: exit 0 and a header-only edges CSV."""
    import os
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    from osm2ch_spark import fixtures, sinks

    records = [
        fixtures.node(1, 37.0, 55.0),
        fixtures.way(1, [1, 2], fixtures.HW),  # node 2 absent
    ]
    row = fixtures.records_to_row(records)
    names = [f.name for f in fixtures.SOURCE_SCHEMA.fields]
    src = str(tmp_path / "source.parquet")
    pq.write_table(pa.table({n: [v] for n, v in zip(names, row)}), src)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([repo] + paths),
           "SPARK_DRIVER_MEMORY": "2g"}
    out = tmp_path / "graph.csv"

    def cli(*flags):
        return subprocess.run(
            [sys.executable, "-m", "osm2ch_spark", "--source", src, "--out", str(out), *flags],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)

    r = cli()
    assert r.returncode == 1, r.stderr[-2000:]
    errors = [l for l in r.stderr.splitlines() if l.startswith("ERROR:")]
    assert errors and "node 2" in errors[0], r.stderr[-2000:]
    assert not out.exists()

    r = cli("--permissive")
    assert r.returncode == 0, r.stderr[-2000:]
    assert out.read_text() == sinks.EDGES_HEADER + "\n"
