"""Golden parity: Spark pipeline vs the single-threaded reference
reimplementation, on every micro-graph fixture (FIXTURES.md §2)."""

import hashlib

import pytest

from osm2ch_spark import fixtures, pipeline, sinks
from tests import reference_impl as R


def spark_expanded_rows(spark, records):
    src = fixtures.source_df(spark, [fixtures.records_to_row(records)])
    expanded = pipeline.build_expanded(src)
    return sorted(
        expanded.collect(), key=lambda r: r["expanded_id"]
    )


def ref_expanded(records):
    return R.run(records)["expanded"]


ALL_FIXTURES = sorted(fixtures.micrographs())


@pytest.mark.parametrize("name", ALL_FIXTURES)
def test_expanded_parity(spark, name):
    records = fixtures.micrographs()[name]
    exp = ref_expanded(records)
    got = spark_expanded_rows(spark, records)
    assert len(got) == len(exp), f"{name}: row count {len(got)} != {len(exp)}"
    for g, e in zip(got, exp):
        assert g["expanded_id"] == e["id"]
        assert g["source_vertex"] == e["source"]
        assert g["target_vertex"] == e["target"]
        assert g["source_way"] == e["src_way"]
        assert g["target_way"] == e["dst_way"]
        assert g["src_source_node"] == e["src_src_node"]
        assert g["src_target_node"] == e["src_dst_node"]
        assert g["dst_source_node"] == e["dst_src_node"]
        assert g["dst_target_node"] == e["dst_dst_node"]
        assert g["one_way"] == e["oneway"]
        assert g["weight"] == e["cost"], f"{name} id={e['id']}: weight bit mismatch"
        got_geom = list(zip(g["geom_lons"], g["geom_lats"]))
        assert got_geom == [tuple(p) for p in e["geom"]], f"{name} id={e['id']}: geom"


@pytest.mark.parametrize("name", ALL_FIXTURES)
def test_csv_sha256_parity(spark, name):
    """S4 sink — per-row sha256 equality against the reference CSV layout
    (cmd/osm2ch/main.go:139-150)."""
    records = fixtures.micrographs()[name]
    exp_rows = R.expanded_csv_rows(ref_expanded(records))
    src = fixtures.source_df(spark, [fixtures.records_to_row(records)])
    got = sinks.edges_csv_rows(pipeline.build_expanded(src))
    got_rows = [r["csv_row"] for r in sorted(got.collect(), key=lambda r: r["expanded_id"])]
    assert len(got_rows) == len(exp_rows)
    for g, e in zip(got_rows, exp_rows):
        assert hashlib.sha256(g.encode()).hexdigest() == hashlib.sha256(e.encode()).hexdigest(), (
            f"{name}: {g!r} != {e!r}"
        )


def test_gap_ids_preserved(spark):
    """restriction_gap_ids: IDs numbered before deletion → gaps survive
    (osm_loader.go:313-314 vs :348-432)."""
    records = fixtures.micrographs()["restriction_gap_ids"]
    exp = ref_expanded(records)
    base = ref_expanded(fixtures.micrographs()["t_junction"])
    assert len(exp) < len(base)  # something was deleted
    got = spark_expanded_rows(spark, records)
    assert [g["expanded_id"] for g in got] == [e["id"] for e in exp]
    ids = [g["expanded_id"] for g in got]
    assert ids != list(range(1, len(ids) + 1))  # the gap is real


def test_units_m(spark):
    records = fixtures.micrographs()["t_junction"]
    exp_rows = R.expanded_csv_rows(ref_expanded(records), units="m")
    src = fixtures.source_df(spark, [fixtures.records_to_row(records)])
    got = sinks.edges_csv_rows(pipeline.build_expanded(src), units="m")
    got_rows = [r["csv_row"] for r in sorted(got.collect(), key=lambda r: r["expanded_id"])]
    assert got_rows == exp_rows


def test_multi_file_order(spark):
    """Two files: scan order is (repo, path, seq) — IDs must follow it."""
    g = fixtures.micrographs()
    rows = [
        fixtures.records_to_row(g["straight_twoway"], repo="osm/a", path="d/1.osmjson"),
        fixtures.records_to_row(g["split_shared_node"], repo="osm/b", path="d/2.osmjson"),
    ]
    combined = g["straight_twoway"] + g["split_shared_node"]
    exp = R.run(combined)["expanded"]
    src = fixtures.source_df(spark, rows)
    got = sorted(pipeline.build_expanded(src).collect(), key=lambda r: r["expanded_id"])
    assert [(g_["expanded_id"], g_["source_vertex"], g_["target_vertex"]) for g_ in got] == [
        (e["id"], e["source"], e["target"]) for e in exp
    ]


def test_no_ways_no_edges(spark):
    """A source with node records and no ways numbers nothing: the ID1
    table has no partitions, and the expansion still plans its layout."""
    records = [r for r in fixtures.micrographs()["t_junction"] if r["type"] == "node"]
    src = fixtures.source_df(spark, [fixtures.records_to_row(records)])
    assert pipeline.build_expanded(src).count() == 0


def test_with_sequential_id_over_range_barrier(spark):
    """with_sequential_id numbers a range-ordered barrier 1..N in
    partition order, also behind a posexplode: the ids equal a row_number
    oracle over the (key, position) order whether the numbered table is
    read whole, behind a downstream filter or behind a broadcast join.
    The layout holds arrays that explode to nothing and one empty
    partition.  The id projection is nondeterministic to Catalyst; a
    filter or join pushed below it would renumber the surviving rows."""
    import random

    from pyspark.sql import functions as F

    from osm2ch_spark import workerenv
    from osm2ch_spark.operators.ids import with_sequential_id

    rng = random.Random(7)
    # partition p holds keys [100p, 100p + 40) in shuffled order, each
    # with 0-6 values; partition 2 holds no rows
    parts = []
    for p in range(5):
        rows = [(100 * p + k, [rng.randrange(50) for _ in range(rng.choice([0, 0, 1, 3, 6]))])
                for k in range(0 if p == 2 else 40)]
        rng.shuffle(rows)
        parts.append(rows)
    assert any(not a for rows in parts for _, a in rows)
    rdd = spark.sparkContext.parallelize(parts, len(parts)).flatMap(lambda rows: rows)
    layout = workerenv.materialize_df(
        spark.createDataFrame(rdd, "k long, a array<long>").sortWithinPartitions("k"))
    assert layout.rdd.getNumPartitions() == 5
    pairs = layout.select("k", F.posexplode("a").alias("pos", "v"))
    out = with_sequential_id(pairs, "id")

    order = sorted((k, pos, v) for rows in parts for k, a in rows for pos, v in enumerate(a))
    oracle = {(k, pos): i for i, (k, pos, _) in enumerate(order, start=1)}

    def ids(df):
        return {(r["k"], r["pos"]): r["id"] for r in df.collect()}

    assert ids(out) == oracle
    kept = {kp: i for (kp, i), (_, _, v) in zip(oracle.items(), order) if v % 3 == 0}
    assert 0 < len(kept) < len(oracle)
    assert ids(out.filter(F.col("v") % 3 == 0)) == kept
    keys = spark.createDataFrame([(k,) for k in range(0, 500, 7)], "k long")
    joined = {kp: i for kp, i in oracle.items() if kp[0] % 7 == 0}
    assert joined and ids(out.join(F.broadcast(keys), "k")) == joined


def ref_vertices_csv(exp_rows):
    """Reference vertex-CSV semantics (cmd/osm2ch/main.go:165-187):
    first-occurrence order over (expanded_id, source-then-target);
    geometry first-wins from rows passing F7, Go zero value otherwise."""
    order, geom = [], {}
    for e in sorted(exp_rows, key=lambda r: r["id"]):
        valid = len(e["geom"]) >= 2
        for vid, pt in ((e["source"], e["geom"][0] if valid else None),
                        (e["target"], e["geom"][-1] if valid else None)):
            if vid not in geom:
                geom[vid] = None
                order.append(vid)
            if valid and geom[vid] is None:
                geom[vid] = pt
    out = []
    for vid in order:
        lon, lat = geom[vid] if geom[vid] is not None else (0.0, 0.0)
        out.append(f"{vid};0;0;POINT({lon:.6f} {lat:.6f})")
    return out


@pytest.mark.parametrize(
    "name", ["t_junction", "split_shared_node", "zero_length_line", "long_segment"]
)
def test_vertices_csv_parity(spark, name):
    """S5 sink incl. the %.6f POINT text the W1 split formats."""
    records = fixtures.micrographs()[name]
    exp_rows = ref_vertices_csv(ref_expanded(records))
    src = fixtures.source_df(spark, [fixtures.records_to_row(records)])
    got = sinks.vertices_csv_rows(pipeline.build_expanded(src))
    got_rows = [r["csv_row"] for r in sorted(got.collect(), key=lambda r: r["first_seen"])]
    assert got_rows == exp_rows


def test_vertices_rows_rejects_unknown_format():
    with pytest.raises(ValueError, match="wkt|geojson"):
        sinks.vertices_rows(None, geom_format="kml")


def test_geojson_edges_sink(spark):
    """-geomf geojson parity (converter_geojson.go:10-21): parsed-value
    equality with the expanded geometry and with the Python converter."""
    import json

    import numpy as np

    from osm2ch_spark import geom as G

    records = fixtures.micrographs()["t_junction"]
    src = fixtures.source_df(spark, [fixtures.records_to_row(records)])
    expanded = pipeline.build_expanded(src)
    rows = {
        r["expanded_id"]: r["csv_row"]
        for r in sinks.edges_csv_rows(expanded, geom_format="geojson").collect()
    }
    for e in expanded.collect():
        got = json.loads(rows[e["expanded_id"]].split(";")[3])
        assert got["type"] == "LineString"
        want = np.column_stack([e["geom_lons"], e["geom_lats"]])
        assert np.allclose(np.array(got["coordinates"]), want, atol=0, rtol=0)
        ref = json.loads(G.geojson_linestring(want))
        assert np.allclose(np.array(got["coordinates"]), np.array(ref["coordinates"]))


def test_geojson_vertices_sink(spark):
    import json

    records = fixtures.micrographs()["t_junction"]
    src = fixtures.source_df(spark, [fixtures.records_to_row(records)])
    expanded = pipeline.build_expanded(src)
    wkt_rows = [
        r["csv_row"]
        for r in sorted(
            sinks.vertices_csv_rows(expanded).collect(), key=lambda r: r["first_seen"]
        )
    ]
    gj_rows = [
        r["csv_row"]
        for r in sorted(
            sinks.vertices_csv_rows(expanded, geom_format="geojson").collect(),
            key=lambda r: r["first_seen"],
        )
    ]
    for w, g in zip(wkt_rows, gj_rows):
        pt = json.loads(g.split(";")[3])
        assert pt["type"] == "Point"
        lon, lat = w.split(";")[3][6:-1].split(" ")
        assert abs(pt["coordinates"][0] - float(lon)) < 1e-6
        assert abs(pt["coordinates"][1] - float(lat)) < 1e-6


def test_strict_missing_node_raises(spark):
    """build_expanded(strict=True) mirrors the reference fail-fast on a
    way-node reference absent from the node scan (osm_loader.go:216-218).
    The check is folded into the W1 Arrow pass (no extra job), so it
    surfaces as a PythonException wrapping the ValueError on the first
    action rather than an eager driver-side ValueError."""
    records = [
        fixtures.node(1, 37.0, 55.0),
        fixtures.way(1, [1, 2], fixtures.HW),  # node 2 absent
    ]
    src = fixtures.source_df(spark, [fixtures.records_to_row(records)])
    with pytest.raises(Exception, match="missing from the node scan"):
        pipeline.build_expanded(src).count()
    # strict=False keeps the permissive behavior for clipped extracts
    assert pipeline.build_expanded(src, strict=False).count() == 0


def test_write_csv_dist(spark, tmp_path):
    """Distributed CSV sink: concatenating part files in name order must
    equal the single-file driver-side sink output."""
    import glob

    records = fixtures.micrographs()["t_junction"]
    src = fixtures.source_df(spark, [fixtures.records_to_row(records)])
    rows = sinks.edges_csv_rows(pipeline.build_expanded(src))

    single = str(tmp_path / "single.csv")
    sinks.write_csv(rows, "expanded_id", single, sinks.EDGES_HEADER)
    expected = open(single).read().splitlines()[1:]  # drop header

    dist_dir = str(tmp_path / "dist")
    sinks.write_csv_dist(rows, "expanded_id", dist_dir, num_files=2)
    got = []
    for part in sorted(glob.glob(dist_dir + "/part-*")):
        got.extend(open(part).read().splitlines())
    assert got == expected
