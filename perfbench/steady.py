"""Steadiness check: run each workload repeatedly on one commit and
compare each end-to-end metric's spread with the benchmark's bounds.

    python3 perfbench/steady.py [--workloads lake_day,log_history] [--runs 10]
                                [--first-seed 1] [--traced]

For every metric it prints the median over the runs and the distance
between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``).  A metric is ``steady`` when that
spread is below a third of its bound and ``ok`` when it is within the
bound; every declared bound is checked, ``setup_s``'s too.  With
``--traced`` one more traced run per workload prints the per-layer
metrics and the tracing overhead: the traced op wall-time median minus
the untraced one, raw and over each run's reference-loop time.  Exits 1
when a run fails or a spread exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(lines[-2])["run_record"], json.loads(lines[-1])


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--traced", action="store_true")
    args = p.parse_args(argv)

    bad = False
    for workload in args.workloads.split(","):
        values = {m["name"]: [] for m in spec["end_to_end"]}
        walls = []
        for i in range(args.runs):
            seed = args.first_seed + i
            record, res = run_once(workload, seed, spec["run_seconds"], 0)
            if not res["correct"] or res["failed"]:
                print(f"{workload} seed {seed}: correctness check failed")
                bad = True
            for name in values:
                values[name].append(res["metrics"][name]["value"])
            walls.append((record["op_wall_p50_ms"], record["cpu_ref_p50_ms"]))
            print(f"{workload} seed {seed}: " + " ".join(
                f"{n}={v[-1]:.4g}" for n, v in values.items())
                + f" (cpu_ref {record['cpu_ref_p50_ms']:.3g} ms)", flush=True)
        print(f"\n{workload}: {args.runs} runs")
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            q1, q2, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / q2
            if spread < m["bound"] / 3:
                verdict = "steady"
            elif spread <= m["bound"]:
                verdict = "ok"
            else:
                verdict = "TOO NOISY"
                bad = True
            print(f"  {m['name']:<18} median {q2:12.4f} {m['unit']:<6} "
                  f"iqr/median {spread:7.4f}  bound {m['bound']:.2f}  {verdict}")
        if args.traced:
            record, res = run_once(workload, args.first_seed, spec["run_seconds"], 1)
            print(f"  traced run (seed {args.first_seed}):")
            for name, m in res["metrics"].items():
                print(f"    {name:<34} {m['value']:14.4f} {m['unit']}")
            untraced = statistics.median(w for w, _ in walls)
            traced = record["op_wall_p50_ms"]
            print(f"  tracing overhead: op wall p50 {traced:.2f} ms traced, "
                  f"{untraced:.2f} ms untraced ({traced / untraced - 1:+.2%})")
            # the same, each run's wall over its reference-loop time, which
            # takes out the box's drift for driver-bound (Python) ops
            untraced = statistics.median(w / r for w, r in walls)
            traced /= record["cpu_ref_p50_ms"]
            print(f"  tracing overhead on the reference CPU: {traced / untraced - 1:+.2%}")
        print(flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
