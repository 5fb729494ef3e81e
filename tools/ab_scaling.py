"""Paired 8-vs-32 scaling A/B over one knob.

For each knob value, runs the bench scaling worker (same protocol as
``bench.py --scaling``: pre-materialized inputs, untimed warmup +
fault-warming pass, pinned shuffle partitions at BOTH levels) at
local[8] and local[32], interleaved across rounds so host drift spreads
over every cell.  Reports per-value speedup so a knob can be judged by
what the NORTH RULE grades — scaling efficiency — not by single-level
wall time.

Knobs:
  --shuffle 64,192      pinned shuffle-partition count (wave granularity)
  --env NAME=v1,v2      any env var read by the engine (e.g. OSM2CH_CKPT_LEVEL=disk,ser)

Usage:
  python tools/ab_scaling.py --shuffle 64,192 --rounds 2 --out BENCH/ab_waves.json
  python tools/ab_scaling.py --env OSM2CH_CKPT_LEVEL=disk,ser --rounds 2 --out BENCH/ab_ckpt.json
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def wait_for_memory(need_gb: int = 95, timeout_s: int = 180):
    t0 = time.time()
    avail = -1  # stays -1 if timeout_s <= 0 (loop body never runs)
    while time.time() - t0 < timeout_s:
        avail = int(
            [l for l in open("/proc/meminfo") if l.startswith("MemAvailable")][0].split()[1]
        ) // (1024 * 1024)
        if avail >= need_gb:
            return
        time.sleep(2)
    print(f"WARN: proceeding with {avail}G available", file=sys.stderr)


def run_worker(cpus: int, shuffle: int | None, env_kv: tuple[str, str] | None,
               queries: str | None = None):
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench.py"),
        "--worker", str(cpus), "--scaling-set", "--reps", "1"]
    if shuffle is not None:
        cmd += ["--shuffle", str(shuffle)]
    if queries:
        cmd += ["--queries", queries]
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "80g"),
        "SPARK_DRIVER_JAVA_OPTS": (
            f"-Xms{os.environ.get('SPARK_DRIVER_MEMORY', '80g')} "
            "-XX:+UseParallelGC -XX:+UseTransparentHugePages "
            f"-XX:ParallelGCThreads={cpus}"
        ),
    }
    if env_kv is not None:
        env[env_kv[0]] = env_kv[1]
    for attempt in (1, 2):
        wait_for_memory()
        p = subprocess.run(cmd, capture_output=True, text=True, env=env)
        line = [l for l in p.stdout.splitlines() if l.startswith("BENCH_RESULT ")]
        if line:
            return json.loads(line[-1][len("BENCH_RESULT "):])
        # persist the FULL transcript (the stderr tail alone is usually
        # pure shutdown noise) so a failed multi-round A/B is diagnosable
        fd, fail_path = tempfile.mkstemp(
            prefix=f"ab_scaling_fail_cpus{cpus}_attempt{attempt}_", suffix=".log")
        with os.fdopen(fd, "w") as f:
            f.write(p.stdout + "\n===== STDERR =====\n" + p.stderr)
        print(f"WARN: worker cpus={cpus} attempt {attempt} failed; "
              f"full transcript at {fail_path}", file=sys.stderr)
    raise SystemExit(1)


def main():
    args = sys.argv[1:]
    rounds = int(args[args.index("--rounds") + 1]) if "--rounds" in args else 2
    out = args[args.index("--out") + 1] if "--out" in args else None
    queries = args[args.index("--queries") + 1] if "--queries" in args else None
    cells: list[dict] = []
    if "--shuffle" in args:
        for v in args[args.index("--shuffle") + 1].split(","):
            cells.append({"label": f"shuffle={v}", "shuffle": int(v), "env": None})
    elif "--env" in args:
        name, vals = args[args.index("--env") + 1].split("=", 1)
        for v in vals.split(","):
            cells.append({"label": f"{name}={v}", "shuffle": None, "env": (name, v)})
    else:
        raise SystemExit("need --shuffle v1,v2 or --env NAME=v1,v2")

    bench.prepare_big_inputs_subprocess()
    cals = [bench.cpu_calibration()["hw_speedup_8_to_32"]]
    results: dict[str, dict[int, list]] = {c["label"]: {8: [], 32: []} for c in cells}
    for rnd in range(rounds):
        for cell in cells:  # interleaved: every cell visited per round
            for cpus in (8, 32):
                r = run_worker(cpus, cell["shuffle"], cell["env"], queries)
                results[cell["label"]][cpus].append(r)
                print(f"round {rnd} {cell['label']} local[{cpus}]: "
                      f"{r['total_sec']}s {r['queries']}", flush=True)
        cals.append(bench.cpu_calibration()["hw_speedup_8_to_32"])

    report = {"rounds": rounds, "hw_calibrations": cals,
              # statistics.median averages the middle pair on even-length
              # lists (rounds=1 gives 2 samples; the old upper-middle pick
              # biased the reported ceiling upward)
              "hw_speedup_8_to_32": statistics.median(cals), "cells": {}}
    for label, by_cpu in results.items():
        qs = list(by_cpu[8][0]["queries"])
        best8 = {q: min(r["queries"][q] for r in by_cpu[8]) for q in qs}
        best32 = {q: min(r["queries"][q] for r in by_cpu[32]) for q in qs}
        report["cells"][label] = {
            "local8_sec": round(sum(best8.values()), 3),
            "local32_sec": round(sum(best32.values()), 3),
            "speedup": round(sum(best8.values()) / sum(best32.values()), 3),
            "per_query": {
                q: {"local8": best8[q], "local32": best32[q],
                    "speedup": round(best8[q] / best32[q], 3),
                    "rounds8": [r["queries"][q] for r in by_cpu[8]],
                    "rounds32": [r["queries"][q] for r in by_cpu[32]]}
                for q in qs
            },
        }
    print(json.dumps(report, indent=2))
    if out:
        with open(out, "w") as f:
            json.dump(report, f, indent=2)


if __name__ == "__main__":
    main()
