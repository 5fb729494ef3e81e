"""Expected outputs, computed once per (workload, seed, size) and cached,
and the comparisons run after each pass, outside the timed region.

* edges CSV: per-row sha256 against ``tests/reference_impl.py``
  (``run`` + ``expanded_csv_rows``), in file order, header included;
* graph results against ``tests/graph_oracle.py``: PageRank within 1e-6
  at the same iteration count, components, labels and the triangle count
  exactly.

The generated source files share no node, way or restriction, so the
reference runs file by file in a process pool and the per-file results
are joined by shifting their edge and expanded-edge IDs.
``test_gen.py`` checks that the joined result equals one reference run
over the whole input.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os

CHECK_VERSION = 2
PR_ATOL = 1e-6
ID_FIELDS = (0, 1, 5)  # source, target and expanded id in a CSV row


def row_digests(rows) -> bytes:
    return b"".join(hashlib.sha256(r.encode()).digest() for r in rows)


def _pair_count(edges: list[dict]) -> int:
    """Turn pairs the reference numbers before its restriction passes
    delete some: the expansion loop of ``reference_impl.run``, counted."""
    by_src = {}
    for e in edges:
        by_src.setdefault(e["src"], []).append(e)
    n = 0
    for e1 in edges:
        for e2 in by_src.get(e1["dst"], []):
            if e2["id"] != e1["id"] and not (e1["geom"][0] == e2["geom"][-1]
                                             and e1["geom"][-1] == e2["geom"][0]):
                n += 1
    return n


def _file_reference(records: list[dict]):
    """Reference outputs of one source file, with file-local IDs."""
    from osm2ch_spark import geom
    from tests import reference_impl as R

    # the reference recomputes the midpoint of one road edge for every
    # turn pair it is in; the kernel is pure, so its results are reused
    orig, memo = geom.find_middle_point, {}

    def find_middle_point(line):
        key = line.tobytes()
        if key not in memo:
            memo[key] = orig(line)
        return memo[key]

    geom.find_middle_point = find_middle_point
    try:
        ref = R.run(records)
    finally:
        geom.find_middle_point = orig
    pairs = [(x["source"], x["target"], x["cost"], x["oneway"]) for x in ref["expanded"]]
    return len(ref["edges"]), _pair_count(ref["edges"]), pairs, R.expanded_csv_rows(ref["expanded"])


def reference(per_file: list[list[dict]], procs: int) -> dict:
    """The reference run over every file, joined: the expected CSV rows,
    the expanded edges as (source, target, cost, oneway) and the road
    edge count."""
    procs = max(1, min(procs, len(per_file)))
    with multiprocessing.get_context("fork").Pool(procs) as pool:
        parts = pool.map(_file_reference, per_file, chunksize=1)
    rows, expanded = [], []
    e_off = x_off = 0
    for n_edges, n_pairs, pairs, file_rows in parts:
        expanded += [(s + e_off, t + e_off, c, o) for s, t, c, o in pairs]
        for row in file_rows:
            f = row.split(";")
            for i in ID_FIELDS:
                f[i] = str(int(f[i]) + (x_off if i == 5 else e_off))
            rows.append(";".join(f))
        e_off += n_edges
        x_off += n_pairs
    return {"rows": rows, "expanded": expanded, "road_edges": e_off}


def graph_expected(edges: list[tuple[int, int]], pr_iters: int, lpa_rounds: int) -> dict:
    from tests import graph_oracle as O

    return {
        "pagerank": sorted(O.pagerank_oracle(edges, tol=0.0, max_iter=pr_iters).items()),
        "components": sorted(O.cc_oracle(edges).items()),
        "labels": sorted(O.lpa_oracle(edges, max_iter=lpa_rounds).items()),
        "triangles": O.triangles_oracle(edges),
    }


def cached_bytes(path: str, compute) -> bytes:
    """Bytes at ``path``, computed and stored on first use."""
    if os.path.exists(path):
        with open(path, "rb") as f:
            return f.read()
    value = compute()
    with open(path + ".tmp", "wb") as f:
        f.write(value)
    os.replace(path + ".tmp", path)
    return value


def cached_json(path: str, compute):
    return json.loads(cached_bytes(path, lambda: json.dumps(compute()).encode()))


def check_edges_csv(path: str, header: str, expected: bytes) -> list[str]:
    """Problems found in the single-file edges CSV (empty = correct)."""
    with open(path) as f:
        lines = f.read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    if not lines or lines[0] != header:
        return ["edges CSV header differs from the reference layout"]
    got = row_digests(lines[1:])
    if got == expected:
        return []
    n_got, n_exp = (len(got) // 32, len(expected) // 32)
    if n_got != n_exp:
        return [f"edges CSV has {n_got} rows, reference {n_exp}"]
    first = next(i for i in range(n_got) if got[32 * i:32 * i + 32] != expected[32 * i:32 * i + 32])
    return [f"edges CSV row {first + 1} sha256 differs from the reference"]


def check_graph(got: dict, expected: dict) -> list[str]:
    problems = []
    pr_exp = dict(expected["pagerank"])
    pr_got = dict(got["pagerank"])
    if pr_got.keys() != pr_exp.keys():
        problems.append("pagerank vertex set differs from the oracle")
    elif any(abs(pr_got[v] - r) > PR_ATOL for v, r in pr_exp.items()):
        problems.append(f"pagerank differs from the oracle by more than {PR_ATOL}")
    for key in ("components", "labels"):
        if dict(got[key]) != dict(expected[key]):
            problems.append(f"{key} differ from the oracle")
    if got["triangles"] != expected["triangles"]:
        problems.append(f"triangle count {got['triangles']} != oracle {expected['triangles']}")
    return problems
