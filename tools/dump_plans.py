"""Dump .explain("formatted") for declared queries to plans/<tag>/.

Usage: python tools/dump_plans.py <tag_suffix> [query ...]
e.g.   python tools/dump_plans.py before connected_components pagerank

Writes plans/r06/<query>_<tag_suffix>.txt.  Uses sf0.001 (plan shape is
scale-independent; the driver gate runs there too).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.001")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", "r06")


def main():
    tag = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT, exist_ok=True)
    from osm2ch_spark import get_spark

    import __spark_entry__ as E

    spark = get_spark(app_name="dump-plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    for name in names:
        df = qs[name](spark, SF)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(OUT, f"{name}_{tag}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name}_{tag}.txt ({len(txt.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
