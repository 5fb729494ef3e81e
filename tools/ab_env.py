"""Generic interleaved env-var A/B for one headline bench query.

VERDICT r4 items 2/5/6 all reduce to "alternate one env knob across
interleaved rounds on a drifting host and report per-value minima with
bracketing raw-CPU calibrations" — this tool is that protocol, for any
env knob (the preferSortMergeJoin verdict it generalizes is in
BENCH/ab_cc.json).

Usage:
    python tools/ab_env.py --var OSM2CH_CKPT_LEVEL --values ser,deser,disk \
        --query connected_components --rounds 3 [--cpus 32] [--out f.json]

Protocol per round: for each value (fixed order, values interleave across
rounds), run the query in a FRESH subprocess (own JVM) with the env var
set; inside the worker, one untimed warmup pass at WARMUP_SF_DIR absorbs
JIT/first-touch, then one timed pass at SF_DIR.  A cpu_calibration sample
(bench.cpu_calibration) brackets every round so host drift during the
A/B is recorded in the artifact, not inferred afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def worker():
    qname = os.environ["AB_QUERY"]
    import bench
    from osm2ch_spark import get_spark

    cpus = int(os.environ.get("AB_CPUS", "32"))
    spark = get_spark(app_name=f"ab-{qname}", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    bench.headline_queries(bench.WARMUP_SF_DIR)[qname](spark)
    spark.catalog.clearCache()
    import gc

    from osm2ch_spark import tpch_world as W

    W.reset_world()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    t0 = time.perf_counter()
    bench.headline_queries()[qname](spark)
    print("AB_RESULT", round(time.perf_counter() - t0, 3))
    spark.stop()


def main():
    if "--worker" in sys.argv:
        worker()
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("--var", required=True)
    ap.add_argument("--values", required=True, help="comma-separated")
    ap.add_argument("--query", default="connected_components")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    values = args.values.split(",")

    import bench

    res: dict[str, list[float]] = {v: [] for v in values}
    cals = [bench.cpu_calibration()["hw_speedup_8_to_32"]]
    for r in range(args.rounds):
        for v in values:
            env = {**os.environ, "AB_QUERY": args.query,
                   "AB_CPUS": str(args.cpus), args.var: v}
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker"],
                capture_output=True, text=True, env=env,
            )
            lines = [l for l in p.stdout.splitlines() if l.startswith("AB_RESULT")]
            if not lines:
                print(p.stdout[-1500:], p.stderr[-1500:], file=sys.stderr)
                sys.exit(1)
            t = float(lines[-1].split()[1])
            res[v].append(t)
            print(f"round {r} {args.var}={v}: {t}s", flush=True)
        cals.append(bench.cpu_calibration()["hw_speedup_8_to_32"])
        print(f"  calibration after round {r}: {cals[-1]}", flush=True)
    out = {
        "what": f"interleaved A/B of {args.var} on headline {args.query}",
        "protocol": f"{args.rounds} rounds, fresh subprocess per run, "
                    "untimed warmup at WARMUP_SF_DIR, per-value MIN; "
                    "bracketing cpu calibrations recorded",
        "query": f"{args.query} @ {bench.SF_DIR}, local[{args.cpus}]",
        "hw_calibrations_bracketing": cals,
        "results": {v: {"all": res[v], "min": min(res[v])} for v in values},
    }
    print(json.dumps(out, indent=2))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=2)


if __name__ == "__main__":
    main()
