#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds and report, for
each end-to-end metric, the median and the quartile spread as a share of
the median, against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload serve_mixed --runs 10 [--first-seed 1]

Run from the root of a checkout. Each run's last stdout line is kept in
`.bench_build/steady/<workload>.jsonl`.
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
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    out_dir = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(out_dir, exist_ok=True)
    values = {}
    with open(os.path.join(out_dir, f"{a.workload}.jsonl"), "a") as log:
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                                   "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                sys.exit(f"seed {seed}: exit {p.returncode}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            res.update(seed=seed, wall_s=time.time() - t0)
            log.write(json.dumps(res) + "\n")
            log.flush()
            print(f"seed {seed}: {time.time() - t0:.0f}s correct={res['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        sp = metrics.spread(vs) if len(vs) >= 2 else float("nan")
        b = bounds.get(k, float("nan"))
        print(f"{k:<20} median {statistics.median(vs):<12.5g} spread {sp:.3f} "
              f"bound {b} {'ok' if sp <= b / 3 else 'WIDE' if sp <= b else 'OVER'}")


if __name__ == "__main__":
    main()
