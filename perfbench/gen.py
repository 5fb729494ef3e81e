"""Seeded, versioned generators for the benchmark's OSM-style source tables.

Two worlds, both emitted as the engine's source table
``(repo, path, commit, lang, content)`` with JSON-lines ``content``:

* ``grid`` -- per file, a (g+1) x (g+1) street grid: one long way per row
  and per column, so every way crosses g+1 others and node degree is at
  most 4.  Between two crossings a way bends through ``shape`` shape nodes,
  which add parse and split work but no road edge.  The seed picks which
  interior rows/columns are oneway (a fixed number of each), where the turn
  restrictions sit (always on a crossing of two two-way ways) and the
  coordinate offsets.
* ``hub`` -- per file, ``junctions`` star junctions: a hub node shared by
  d single-segment spoke ways, closed by a two-way ring road through the
  spoke tips (every ring segment closes two road triangles).  The degrees
  come from one fixed Zipf histogram capped at ``dmax``; the seed permutes
  it over the junction slots and picks the oneway spokes and restriction
  placement.

The seed changes where things are placed, never how much work there is:
the record counts and the reference's expanded-edge count are the same
for every seed (``test_gen.py`` checks both on tiny sizes).

Inputs are materialized once per (generator version, world, size, seed)
under the cache directory, so a stale input can never be benched.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random

GEN_VERSION = 2
LANG = "osmjson"
SPACING = 0.001  # degrees between neighbouring grid nodes
NO_TYPES = ("no_left_turn", "no_right_turn", "no_straight_on")
ONLY_TYPES = ("only_left_turn", "only_right_turn", "only_straight_on")


def _node(nid, lon, lat):
    return {"type": "node", "id": nid, "lon": round(lon, 7), "lat": round(lat, 7)}


def _way(wid, nodes, highway, oneway=False):
    tags = {"highway": highway}
    if oneway:
        tags["oneway"] = "yes"
    return {"type": "way", "id": wid, "nodes": nodes, "tags": tags}


def _restriction(rid, rtype, from_way, via_node, to_way):
    return {
        "type": "relation",
        "id": rid,
        "tags": {"restriction": rtype},
        "members": [
            {"type": "way", "ref": from_way, "role": "from"},
            {"type": "node", "ref": via_node, "role": "via"},
            {"type": "way", "ref": to_way, "role": "to"},
        ],
    }


def grid_file(rng: random.Random, f: int, g: int, shape: int) -> list[dict]:
    """Records of grid file ``f``; ``rng`` supplies every seeded choice."""
    n1 = g + 1
    base = f * (n1 * n1 + 2 * n1 * g * shape) + 1
    lon0 = 37.0 + (f % 100) * 0.05 + rng.uniform(0.0, 0.01)
    lat0 = 55.0 + (f // 100) * 0.05 + rng.uniform(0.0, 0.01)
    jitter = SPACING / 5
    recs = [
        _node(base + r * n1 + c,
              lon0 + c * SPACING + rng.uniform(-jitter, jitter),
              lat0 + r * SPACING + rng.uniform(-jitter, jitter))
        for r in range(n1) for c in range(n1)
    ]
    # shape nodes follow the crossings: block k of way w gets ids
    # shape_id(w, k) .. shape_id(w, k) + shape - 1, w < n1 the rows
    def shape_id(w, k):
        return base + n1 * n1 + (w * g + k) * shape

    def bend(a, b, first):
        (lon_a, lat_a), (lon_b, lat_b) = pos[a], pos[b]
        out = []
        for i in range(shape):
            t = (i + 1) / (shape + 1)
            out.append(_node(first + i,
                             lon_a + t * (lon_b - lon_a) + rng.uniform(-jitter, jitter) / 4,
                             lat_a + t * (lat_b - lat_a) + rng.uniform(-jitter, jitter) / 4))
        return out

    pos = {r["id"]: (r["lon"], r["lat"]) for r in recs}
    lines = {}
    for w in range(2 * n1):
        cross = ([base + w * n1 + c for c in range(n1)] if w < n1
                 else [base + r * n1 + (w - n1) for r in range(n1)])
        line = [cross[0]]
        for k in range(g):
            shp = bend(cross[k], cross[k + 1], shape_id(w, k))
            recs.extend(shp)
            line += [x["id"] for x in shp] + [cross[k + 1]]
        lines[w] = line
    interior = list(range(1, g))
    oneway_rows = set(rng.sample(interior, (g - 1) // 3))
    oneway_cols = set(rng.sample(interior, (g - 1) // 4))
    row_way = {r: f * 2 * n1 + r + 1 for r in range(n1)}
    col_way = {c: f * 2 * n1 + n1 + c + 1 for c in range(n1)}
    for r in range(n1):
        nodes = list(lines[r])
        if r in oneway_rows and rng.random() < 0.5:
            nodes.reverse()
        recs.append(_way(row_way[r], nodes, "residential", r in oneway_rows))
    for c in range(n1):
        nodes = list(lines[n1 + c])
        if c in oneway_cols and rng.random() < 0.5:
            nodes.reverse()
        recs.append(_way(col_way[c], nodes, "tertiary", c in oneway_cols))
    # restrictions on crossings of two two-way interior ways, no row or
    # column used twice: a "no" rule then always deletes 4 turns and an
    # "only" rule 2, wherever the seed puts them
    n_rules = g // 2
    rows = rng.sample([r for r in interior if r not in oneway_rows], n_rules)
    cols = rng.sample([c for c in interior if c not in oneway_cols], n_rules)
    kinds = [NO_TYPES] * (n_rules - n_rules // 2) + [ONLY_TYPES] * (n_rules // 2)
    rng.shuffle(kinds)
    for k, (r, c, types) in enumerate(zip(rows, cols, kinds)):
        a, b = row_way[r], col_way[c]
        if rng.random() < 0.5:
            a, b = b, a
        recs.append(_restriction(10_000_000 + f * 100 + k, rng.choice(types),
                                 a, base + r * n1 + c, b))
    return recs


def hub_degrees(n_slots: int, dmax: int) -> list[int]:
    """The fixed degree histogram: Zipf over the junction ranks, >= 8."""
    return [max(8, dmax // k) for k in range(1, n_slots + 1)]


def hub_file(rng: random.Random, f: int, degrees: list[int]) -> list[dict]:
    """Records of hub file ``f`` with one junction per entry of ``degrees``."""
    recs, ways = [], []
    nid = f * 100_000 + 1
    wid = f * 100_000 + 1
    rid = 20_000_000 + f * 100
    for j, d in enumerate(degrees):
        cx = 37.0 + (f % 50) * 0.2 + j * 0.05 + rng.uniform(0.0, 0.01)
        cy = 55.0 + (f // 50) * 0.2 + rng.uniform(0.0, 0.01)
        radius = 0.002 * (1 + d / 64)
        hub = nid
        recs.append(_node(hub, cx, cy))
        tips = list(range(nid + 1, nid + 1 + d))
        nid += 1 + d
        for i, t in enumerate(tips):
            ang = 2 * math.pi * (i + rng.uniform(-0.1, 0.1)) / d
            recs.append(_node(t, cx + radius * math.cos(ang), cy + radius * math.sin(ang)))
        # oneway spokes (outbound) on even ring positions only, so no two
        # are adjacent: each then removes exactly two road triangles
        even = [i for i in range(0, d - 1, 2)]
        oneway = set(rng.sample(even, d // 4))
        spoke = list(range(wid, wid + d))
        ring = wid + d
        wid += d + 1
        for i, t in enumerate(tips):
            ways.append(_way(spoke[i], [hub, t], "primary", i in oneway))
        ways.append(_way(ring, tips + [tips[0]], "secondary"))
        # one "only" and one "no" rule per junction, via the hub, between
        # two-way spokes: they delete d-2 and 1 turns wherever they sit
        odd = rng.sample(range(1, d, 2), 4)
        recs.append(_restriction(rid, rng.choice(ONLY_TYPES),
                                 spoke[odd[0]], hub, spoke[odd[1]]))
        recs.append(_restriction(rid + 1, rng.choice(NO_TYPES),
                                 spoke[odd[2]], hub, spoke[odd[3]]))
        rid += 2
    return recs + ways


def _content(records: list[dict]) -> str:
    return "\n".join(json.dumps(r, separators=(",", ":"), sort_keys=True) for r in records)


def generate(world: str, seed: int, size: dict) -> tuple[list[tuple], list[list[dict]]]:
    """(source rows, each file's records) for one world, seed and size.

    Files are named so that (repo, path) order is generation order; the
    files' records concatenated are therefore the reference's scan order."""
    rng = random.Random(f"{world}/{seed}")
    files = size["files"]
    if world == "grid":
        per_file = [grid_file(rng, f, size["grid"], size["shape"]) for f in range(files)]
    elif world == "hub":
        degrees = hub_degrees(files * size["junctions"], size["dmax"])
        rng.shuffle(degrees)
        j = size["junctions"]
        per_file = [hub_file(rng, f, degrees[f * j:(f + 1) * j]) for f in range(files)]
    else:
        raise ValueError(f"unknown world {world!r}")
    rows = []
    for f, recs in enumerate(per_file):
        repo = f"osm/{world}-{f // 16:04d}"
        path = f"data/part-{f:06d}.osmjson"
        commit = hashlib.sha256(f"{repo}/{path}".encode()).hexdigest()[:40]
        rows.append((repo, path, commit, LANG, _content(recs)))
    return rows, per_file


def digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for row in rows:
        for field in row:
            h.update(field.encode())
            h.update(b"\0")
    return h.hexdigest()


def counts(per_file: list[list[dict]]) -> dict:
    out = {"node": 0, "way": 0, "relation": 0}
    for recs in per_file:
        for r in recs:
            out[r["type"]] += 1
    return out


def input_dir(cache_root: str, world: str, seed: int, size: dict) -> str:
    tag = "-".join(f"{k}{size[k]}" for k in sorted(size))
    return os.path.join(cache_root, f"{world}-v{GEN_VERSION}-{tag}-seed{seed}")


def write_source(rows: list[tuple], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = ["repo", "path", "commit", "lang", "content"]
    schema = pa.schema([pa.field(n, pa.string(), nullable=False) for n in names])
    table = pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)}, schema=schema)
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
