"""Two sets of runs of one commit, and whether they agree.

    python3 perfbench/compare.py --runs 10 [--workload kg_build ...]
                                 [--seed-base 700] [--seconds N] [--trace]

Runs ``run.py`` (as ``BENCHMARK.json`` names it) in two sets of ``runs``
runs per workload, one process after another, each with its own seed. For
every end-to-end metric it prints, per set, the median and quartiles and
the spread (quartile distance ÷ median), then whether each spread stays
within the metric's bound and whether the two sets' medians differ by no
more than the bound, in either direction. It also checks that every run
was correct and that the share of failed operations is the same in both
sets. The raw results go to ``.perfbench_work/compare-<time>.json``.

With ``--trace`` it instead runs each seed once untraced and once traced
and prints the overhead of tracing: the traced run's median operation
wall against the untraced run's, per seed and as the median over seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec: dict, workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    result["seed"], result["run_s"], result["loadavg"] = seed, wall, os.getloadavg()
    return result


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workload", action="append")
    p.add_argument("--seed-base", type=int, default=700)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", action="store_true")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    seconds = args.seconds or spec["run_seconds"]
    if args.trace:
        return trace_overhead(spec, workloads, args.runs, args.seed_base, seconds)

    results: dict = {}
    ok = True
    for w in workloads:
        sets = []
        for s in range(2):
            seeds = range(args.seed_base + s * args.runs, args.seed_base + (s + 1) * args.runs)
            sets.append([run_once(spec, w, seed, seconds) for seed in seeds])
        results[w] = sets
        print(f"== {w}: 2 sets x {args.runs} runs, "
              f"run wall {statistics.median(r['run_s'] for rs in sets for r in rs):.1f} s median")
        shares = {sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in sets}
        correct = all(r["correct"] for rs in sets for r in rs)
        ok &= correct and len(shares) == 1
        print(f"   correct in every run: {correct}; failed share per set: {sorted(shares)}")
        for m in spec["end_to_end"]:
            stats = [summary([r["metrics"][m["name"]]["value"] for r in rs]) for rs in sets]
            cells = "  ".join(f"{st['median']:.4g} [{st['q1']:.4g}, {st['q3']:.4g}] "
                              f"spread {st['spread']:.3f}" for st in stats)
            spread_ok = all(st["spread"] <= m["bound"] for st in stats)
            change = (stats[1]["median"] - stats[0]["median"]) / stats[0]["median"]
            agree = abs(change) <= m["bound"]
            ok &= spread_ok and agree
            verdict = (f"spread {'ok' if spread_ok else 'WIDE'}, "
                       f"set 2 vs 1 {100 * change:+.1f}% {'agree' if agree else 'DISAGREE'}")
            print(f"   {m['name']:<20} bound {m['bound']:.2f}  {cells}  {verdict}")
    out = os.path.join(ROOT, ".perfbench_work", f"compare-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(results, f)
    print(f"{'ALL AGREE' if ok else 'NOT STEADY'}; raw results in {out}")
    return 0 if ok else 1


def trace_overhead(spec: dict, workloads: list[str], runs: int, seed_base: int,
                   seconds: int) -> int:
    for w in workloads:
        ratios = []
        for seed in range(seed_base, seed_base + runs):
            plain = run_once(spec, w, seed, seconds)["metrics"]["latency_p50_s"]["value"]
            traced = run_once(spec, w, seed, seconds, trace=1)["metrics"]["trace.op_wall_s"]["value"]
            ratios.append(traced / plain - 1)
            print(f"{w} seed {seed}: untraced {plain:.3f} s, traced {traced:.3f} s, "
                  f"{100 * ratios[-1]:+.1f}%", flush=True)
        print(f"== {w}: tracing overhead, median over {runs} seeds: "
              f"{100 * statistics.median(ratios):+.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main())
