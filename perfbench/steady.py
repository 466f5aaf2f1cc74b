#!/usr/bin/env python3
"""Steadiness check for the benchmark: run every workload in two sets of
five runs with distinct seeds and compare the sets metric by metric.

    python3 perfbench/steady.py [--first-seed 1000]

Run from the root of a checkout. Each workload of BENCHMARK.json runs ten
times, seeds first-seed to first-seed + 9 (the first five make set 0);
runs are interleaved across workloads.
For each workload and end-to-end metric it prints each set's median and
quartiles, the spread of all runs (quartile distance / median), the
drift of the second set's median from the first in the metric's worse
direction, and the metric's bound from BENCHMARK.json. A metric is
steady when both stay below a third of the bound (the spread of setup_s
is only reported). It also prints the failed share of each set and the
mean wall time of one run with the time an evaluation's 4 + 22 runs
per workload would take. The raw results go to perfbench/out/steady-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUNS = 5  # per workload and set
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec, workload, seed, seconds):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["host"] = next((json.loads(ln[len("# host "):]) for ln in lines
                        if ln.startswith("# host ")), {})
    res["wall_s"] = wall
    res["seed"] = seed
    return res


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]

    sets = []
    seed = args.first_seed
    for s in range(2):
        results = {w: [] for w in workloads}
        for _ in range(RUNS):
            for w in workloads:
                r = run_once(spec, w, seed, spec["run_seconds"])
                results[w].append(r)
                print(f"set {s} {w} seed {seed} wall {r['wall_s']:.1f}s "
                      f"ref_s {r['host'].get('ref_s_start')}/{r['host'].get('ref_s_end')} "
                      f"steal {r['host'].get('steal')} "
                      f"failed {r['failed']}/{r['attempted']} " +
                      " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
            seed += 1
        sets.append(results)

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    out = os.path.join(HERE, "out", time.strftime("steady-%Y%m%d-%H%M%S.json"))
    with open(out, "w") as f:
        json.dump(sets, f, indent=1)

    steady = True
    for w in workloads:
        print(f"\n== {w}")
        print(f"{'metric':26s} {'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s}"
              f" {'spread':>7s} {'drift':>7s} {'bound':>6s}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sign = 1 if m["better"] == "lower" else -1
            per_set = [[r["metrics"][name]["value"] for r in st[w]] for st in sets]
            pooled = [v for vs in per_set for v in vs]
            med0 = statistics.median(per_set[0])
            for i, vs in enumerate(per_set):
                q1, med, q3, _ = spread(vs)
                drift = sign * (med - med0) / med0 if med0 else 0.0
                print(f"{name:26s} {i:3d} {med:12.5g} {q1:12.5g} {q3:12.5g} "
                      f"{'':>7s} {drift:+7.3f} {bound:6.2f}")
                if i > 0 and drift > bound / 3:
                    steady = False
            _, _, _, sp = spread(pooled)
            print(f"{name:26s} all {'':>12s} {'':>12s} {'':>12s} {sp:7.3f} {'':>7s} {bound:6.2f}")
            if name != "setup_s" and sp > bound / 3:
                steady = False
        shares = [sum(r["failed"] for r in st[w]) / sum(r["attempted"] for r in st[w])
                  for st in sets]
        print(f"failed share per set: {shares}")
        if len(set(shares)) != 1:
            steady = False
    walls = [r["wall_s"] for st in sets for w in workloads for r in st[w]]
    per_run = statistics.mean(walls)
    n_runs = 4 + 22 * len(spec["workloads"])
    print(f"\nmean run wall {per_run:.1f}s (max {max(walls):.1f}s); "
          f"{n_runs} runs take about {per_run * n_runs:.0f}s")
    print(f"results: {os.path.relpath(out, ROOT)}")
    print("STEADY" if steady else "NOT STEADY")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
