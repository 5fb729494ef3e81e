"""Tiny-size checks of the input generators.

    python3 -m pytest perfbench/test_gen.py -q      (from the repository root)
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import gen  # noqa: E402
from tests import graph_oracle as O  # noqa: E402
from tests import reference_impl as R  # noqa: E402

TINY = {
    "grid": {"files": 2, "grid": 6, "shape": 2},
    "hub": {"files": 2, "junctions": 3, "dmax": 24},
}


@pytest.mark.parametrize("world", sorted(TINY))
def test_same_seed_same_digest(world):
    a, _ = gen.generate(world, 7, TINY[world])
    b, _ = gen.generate(world, 7, TINY[world])
    assert gen.digest(a) == gen.digest(b)


@pytest.mark.parametrize("world", sorted(TINY))
def test_seed_moves_placement_not_work(world):
    seen = set()
    shapes = set()
    for seed in range(5):
        rows, per_file = gen.generate(world, seed, TINY[world])
        ref = R.run([r for recs in per_file for r in recs])
        pairs = [(x["source"], x["target"]) for x in ref["expanded"]]
        seen.add(gen.digest(rows))
        shapes.add((
            len(rows),
            tuple(sorted(gen.counts(per_file).items())),
            len(ref["edges"]),
            len(ref["expanded"]),
            O.triangles_oracle(pairs),
        ))
    assert len(seen) == 5, "different seeds must give different inputs"
    assert len(shapes) == 1, f"row counts moved with the seed: {shapes}"


def test_parquet_round_trip(tmp_path):
    import pyarrow.parquet as pq

    rows, _ = gen.generate("grid", 3, TINY["grid"])
    path = str(tmp_path / "source.parquet")
    gen.write_source(rows, path)
    back = pq.read_table(path).to_pylist()
    assert [tuple(r.values()) for r in back] == rows


@pytest.mark.parametrize("world", sorted(TINY))
def test_per_file_reference_equals_whole_run(world):
    _, per_file = gen.generate(world, 5, TINY[world])
    whole = R.run([r for recs in per_file for r in recs])
    joined = check.reference(per_file, procs=2)
    assert joined["rows"] == R.expanded_csv_rows(whole["expanded"])
    assert joined["expanded"] == [(x["source"], x["target"], x["cost"], x["oneway"])
                                  for x in whole["expanded"]]
    assert joined["road_edges"] == len(whole["edges"])
    # the restriction passes leave gaps in the expanded ids; the join
    # must carry them across file boundaries
    assert len(whole["expanded"]) < whole["expanded"][-1]["id"]
