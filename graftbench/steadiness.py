#!/usr/bin/env python3
"""Steadiness check: runs every workload of BENCHMARK.json over several
seeds and reports, per end-to-end metric, the median, quartiles, min and
max of the per-run values, and the spread (Q3 - Q1) / median against the
metric's bound.

    python3 graftbench/steadiness.py [--seeds 1,2,...] [--workload NAME]

Run from the root of a checkout. Quartiles are those of Python's
statistics.quantiles(values, n=4). Before each run a 3 s single-thread
loop times the host (`host_ms`, lower is faster), so runs made while a
shared host was slow can be told apart. Each run's JSON line, wall time
and host probe go to graftbench/work/steadiness/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_ms():
    """Median time of a fixed pure-Python loop over 3 s, in ms."""
    xs, t_end = [], time.time() + 3
    while time.time() < t_end:
        t0 = time.perf_counter()
        s = 0
        for i in range(300_000):
            s += i * i
        xs.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(xs)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default=",".join(str(s) for s in range(1, 11)))
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    out_dir = os.path.join(HERE, "work", "steadiness")
    os.makedirs(out_dir, exist_ok=True)
    print("| workload | metric | median | Q1 | Q3 | min | max | spread | bound |")
    print("|---|---|---|---|---|---|---|---|---|")
    for wl in workloads:
        vals, walls, probes = {}, [], []
        with open(os.path.join(out_dir, wl + ".jsonl"), "a") as log:
            for seed in seeds:
                probes.append(host_ms())
                t0 = time.time()
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(seed),
                     "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                    cwd=ROOT, capture_output=True, text=True)
                walls.append(time.time() - t0)
                lines = p.stdout.strip().splitlines()
                res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                log.write(json.dumps({"seed": seed, "wall_s": walls[-1], "host_ms": probes[-1],
                                      "exit": p.returncode, "result": res}) + "\n")
                log.flush()
                if res is None or not res["correct"]:
                    print("%s seed %d: exit %d, result %s" % (wl, seed, p.returncode, res), file=sys.stderr)
                    print(p.stderr[-3000:], file=sys.stderr)
                    continue
                for k, v in res["metrics"].items():
                    vals.setdefault(k, []).append(v["value"])
        for m in bench["end_to_end"]:
            xs = vals.get(m["name"], [])
            if len(xs) < 2:
                print("| %s | %s | (%d runs) |" % (wl, m["name"], len(xs)))
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            print("| %s | %s (%s) | %.4g | %.4g | %.4g | %.4g | %.4g | %.3f | %.2f |" % (
                wl, m["name"], m["unit"], med, q1, q3, min(xs), max(xs), (q3 - q1) / med, m["bound"]))
        print("| %s | run wall (s) | %.1f | | | %.1f | %.1f | | |" % (
            wl, statistics.median(walls), min(walls), max(walls)))
        print("| %s | host probe (ms) | %.1f | | | %.1f | %.1f | | |" % (
            wl, statistics.median(probes), min(probes), max(probes)), flush=True)


if __name__ == "__main__":
    main()
