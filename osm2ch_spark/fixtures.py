"""Deterministic synthesis of the engine's source table.

The engine input (BASELINE.json ``input_hint``) is an Iceberg-style table
``(repo, path, commit, lang, content)`` where ``content`` holds OSM-style
records as JSON lines.  Everything here is seed-free-deterministic (pure
functions of indices — no wall clock, no RNG state leakage).

Two layers:
 - micro-graph fixtures (FIXTURES.md §2) as literal record lists, used by
   the golden-parity tests;
 - a scalable grid-road-network generator used by bench.py, generated
   DISTRIBUTED (spark.range → mapInPandas) so synthesis itself scales.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

SOURCE_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), False),
    ]
)

LANG = "osmjson"


def _commit(repo: str, path: str) -> str:
    return hashlib.sha256(f"{repo}/{path}".encode()).hexdigest()[:40]


def records_to_row(records, repo="osm/fixture-0", path="data/part-00000.osmjson"):
    """Serialize record dicts to one source-table row (JSON lines)."""
    content = "\n".join(json.dumps(r, separators=(",", ":"), sort_keys=True) for r in records)
    return (repo, path, _commit(repo, path), LANG, content)


def source_df(spark: SparkSession, rows) -> DataFrame:
    return spark.createDataFrame(rows, SOURCE_SCHEMA)


def node(nid, lon, lat):
    return {"type": "node", "id": nid, "lon": lon, "lat": lat}


def way(wid, nodes, tags):
    return {"type": "way", "id": wid, "nodes": nodes, "tags": tags}


def relation(rid, tags, members):
    return {"type": "relation", "id": rid, "tags": tags, "members": members}


def member(mtype, ref, role):
    return {"type": mtype, "ref": ref, "role": role}


HW = {"highway": "residential"}
HW1 = {"highway": "residential", "oneway": "yes"}


def micrographs() -> dict[str, list]:
    """FIXTURES.md §2 micro-graphs. Coordinates are Moscow-ish, chosen so
    no two distinct nodes share a coordinate (F6 compares raw floats)."""
    g = {}
    g["straight_oneway"] = [
        node(101, 37.6400, 55.7500),
        node(102, 37.6410, 55.7505),
        node(103, 37.6420, 55.7510),
        way(1, [101, 102, 103], HW1),
    ]
    g["straight_twoway"] = [
        node(101, 37.6400, 55.7500),
        node(102, 37.6410, 55.7505),
        node(103, 37.6420, 55.7510),
        way(1, [101, 102, 103], HW),
    ]
    g["split_shared_node"] = [
        node(201, 37.6000, 55.7000),
        node(202, 37.6010, 55.7005),
        node(203, 37.6020, 55.7010),
        node(204, 37.6030, 55.7000),
        node(205, 37.6020, 55.6990),
        way(1, [201, 202, 203], HW1),  # ends at 203
        way(2, [204, 203, 205], HW1),  # 203 interior → split point
    ]
    g["t_junction"] = [
        node(301, 37.6100, 55.7100),
        node(302, 37.6110, 55.7105),
        node(303, 37.6120, 55.7110),  # the junction
        node(304, 37.6130, 55.7105),
        node(305, 37.6120, 55.7120),
        way(1, [301, 302, 303], HW),
        way(2, [303, 304], HW),
        way(3, [303, 305], HW1),
    ]
    g["uturn_pair"] = [
        node(401, 37.6200, 55.7200),
        node(402, 37.6210, 55.7205),
        way(1, [401, 402], HW),  # two-way single segment → fwd+rev pair
    ]
    g["self_loop_way"] = [
        node(501, 37.6300, 55.7300),
        node(502, 37.6310, 55.7305),
        node(503, 37.6320, 55.7310),
        node(504, 37.6310, 55.7315),
        # revisits 502 mid-way: interior node counted twice → split
        way(1, [501, 502, 503, 504, 502], HW1),
    ]
    g["no_left_turn"] = [
        node(601, 37.6500, 55.7600),
        node(602, 37.6510, 55.7605),  # via
        node(603, 37.6520, 55.7610),
        node(604, 37.6510, 55.7615),
        way(1, [601, 602], HW),
        way(2, [602, 603], HW),
        way(3, [602, 604], HW),
        relation(
            9001,
            {"restriction": "no_left_turn"},
            [member("way", 1, "from"), member("node", 602, "via"), member("way", 3, "to")],
        ),
    ]
    g["only_straight_on"] = [
        node(701, 37.6600, 55.7700),
        node(702, 37.6610, 55.7705),  # via
        node(703, 37.6620, 55.7710),
        node(704, 37.6610, 55.7715),
        node(705, 37.6620, 55.7695),
        way(1, [701, 702], HW),
        way(2, [702, 703], HW),
        way(3, [702, 704], HW),
        way(4, [702, 705], HW),
        relation(
            9002,
            {"restriction": "only_straight_on"},
            [member("way", 1, "from"), member("way", 2, "to"), member("node", 702, "via")],
        ),
    ]
    g["restriction_gap_ids"] = [r for r in g["t_junction"]] + [
        relation(
            9003,
            {"restriction": "no_right_turn"},
            [member("way", 1, "from"), member("node", 303, "via"), member("way", 2, "to")],
        ),
    ]
    g["bad_restriction"] = [r for r in g["no_left_turn"][:7]] + [
        relation(9004, {"restriction": "no_left_turn"}, [member("way", 1, "from"), member("way", 2, "to")]),
        relation(
            9005,
            {"restriction": "no_left_turn"},
            [member("way", 1, "frm"), member("node", 602, "via"), member("way", 3, "to")],
        ),
    ]
    g["zero_length_line"] = [
        node(801, 37.6700, 55.7800),
        node(802, 37.6700, 55.7800),  # duplicate coordinate
        node(803, 37.6710, 55.7805),
        way(1, [801, 802, 803], HW1),
        way(2, [803, 801], HW1),
    ]
    # a 700-node two-way way crossed at its 650th node: one 649-distance
    # segment whose spacing shrinks after 50 nodes, so its midpoint sits
    # early and the spliced lines keep 600+ points
    g["long_segment"] = [
        node(1000 + i, round(37.69 + 0.001 * min(i, 50) + 0.00001 * max(i - 50, 0), 7), 55.81)
        for i in range(700)
    ] + [node(1700, 37.74599, 55.809), node(1701, 37.74599, 55.811),
         way(1, list(range(1000, 1700)), HW), way(2, [1700, 1649, 1701], HW)]
    # the junction and an interior node are repeated after the ways with
    # other coordinates: the first record of each id wins
    g["duplicate_node"] = [
        node(1101, 37.7000, 55.8200),
        node(1102, 37.7010, 55.8205),
        node(1103, 37.7020, 55.8210),  # the junction
        node(1104, 37.7030, 55.8205),
        way(1, [1101, 1102, 1103], HW),
        way(2, [1103, 1104], HW),
        node(1103, 37.7025, 55.8215),
        node(1102, 37.7015, 55.8195),
    ]
    # an only_* rule whose `to` way is a footway (not kept): the rule is
    # skipped, so no continuation from way 1 at the via node is deleted
    g["only_to_filtered_way"] = [
        node(1201, 37.7100, 55.8300),
        node(1202, 37.7110, 55.8305),  # via
        node(1203, 37.7120, 55.8310),
        node(1204, 37.7110, 55.8315),
        node(1205, 37.7120, 55.8295),
        way(1, [1201, 1202], HW),
        way(2, [1202, 1203], HW),
        way(3, [1202, 1204], {"highway": "footway"}),
        way(4, [1202, 1205], HW),
        relation(
            9006,
            {"restriction": "only_straight_on"},
            [member("way", 1, "from"), member("node", 1202, "via"), member("way", 3, "to")],
        ),
    ]
    # non-highway + non-whitelisted tags (filter tests)
    g["tag_filters"] = [
        node(901, 37.6800, 55.7900),
        node(902, 37.6810, 55.7905),
        way(1, [901, 902], {"waterway": "river"}),
        way(2, [901, 902], {"highway": "footway"}),  # not in default whitelist
        way(3, [901, 902], HW1),
    ]
    return g


def micrograph_source(spark: SparkSession, names=None) -> DataFrame:
    """All (or selected) micro-graphs as one source table, one file each."""
    g = micrographs()
    names = names or sorted(g)
    rows = [
        records_to_row(g[n], repo=f"osm/fixture-{n}", path=f"data/{n}.osmjson")
        for n in names
    ]
    return source_df(spark, rows)


# ---------------------------------------------------------------------------
# Scalable synthetic road network: per-file W×H grid of streets.
# ---------------------------------------------------------------------------

def _grid_records(file_idx: int, grid: int) -> str:
    """One file == one grid block of (grid+1)² nodes and 2·grid·(grid+1)
    single-segment streets plus long multi-node avenues; deterministic in
    file_idx.  Returns the JSON-lines content string."""
    n1 = grid + 1
    base = file_idx * n1 * n1 + 1
    lon0 = 37.0 + (file_idx % 100) * 0.05
    lat0 = 55.0 + (file_idx // 100 % 100) * 0.05
    out = []
    app = out.append
    for r in range(n1):
        for c in range(n1):
            nid = base + r * n1 + c
            app('{"type":"node","id":%d,"lon":%.7f,"lat":%.7f}' % (nid, lon0 + c * 0.001, lat0 + r * 0.001))
    wid = file_idx * 10 * n1 + 1
    rel_id = 10_000_000 + file_idx * 100
    # horizontal avenues: one way per row spanning all columns (interior
    # nodes shared with verticals → use_count splits)
    for r in range(n1):
        nodes = [base + r * n1 + c for c in range(n1)]
        oneway = ',"oneway":"yes"' if (r % 3 == 0) else ""
        app('{"type":"way","id":%d,"nodes":%s,"tags":{"highway":"residential"%s}}' % (wid, nodes, oneway))
        wid += 1
    # vertical streets: one way per column
    for c in range(n1):
        nodes = [base + r * n1 + c for r in range(n1)]
        oneway = ',"oneway":"1"' if (c % 4 == 0) else ""
        app('{"type":"way","id":%d,"nodes":%s,"tags":{"highway":"tertiary"%s}}' % (wid, nodes, oneway))
        wid += 1
    # a few turn restrictions at inner crossings
    wid_h0 = file_idx * 10 * n1 + 1
    for k in range(grid // 2):
        via = base + (k + 1) * n1 + (k + 1)
        app(
            '{"type":"relation","id":%d,"tags":{"restriction":"%s"},"members":['
            '{"type":"way","ref":%d,"role":"from"},'
            '{"type":"node","ref":%d,"role":"via"},'
            '{"type":"way","ref":%d,"role":"to"}]}'
            % (
                rel_id + k,
                "no_left_turn" if k % 2 == 0 else "only_straight_on",
                wid_h0 + k + 1,
                via,
                wid_h0 + n1 + k + 1,
            )
        )
    return "\n".join(out).replace(" ", "")


def synth_source(spark: SparkSession, n_files: int = 64, grid: int = 8) -> DataFrame:
    """Distributed deterministic synthesis: ``n_files`` grid blocks."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            idx = pdf["id"].to_numpy()
            repos = [f"osm/synth-{i // 16:04d}" for i in idx]
            paths = [f"data/part-{i:06d}.osmjson" for i in idx]
            yield pd.DataFrame(
                {
                    "repo": repos,
                    "path": paths,
                    "commit": [_commit(r, p) for r, p in zip(repos, paths)],
                    "lang": LANG,
                    "content": [_grid_records(int(i), grid) for i in idx],
                }
            )

    return spark.range(n_files).mapInPandas(gen, SOURCE_SCHEMA)
