"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of ``BENCHMARK.json`` at the tiny scale, untraced
and traced, and checks that each run exits 0, passes its correctness
checks, and prints exactly the declared metrics with their units (the
end-to-end ones nonzero).  Then checks that the benchmark fails, without
printing a result, in a directory that holds only ``BENCHMARK.json`` and
the benchmark's own files.  Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def fail(msg: str) -> None:
    print(f"FAIL: {msg}")
    raise SystemExit(1)


def run(cwd: str, workload: str, trace: int, scale: str = "tiny"):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", scale]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(out, workload: str, trace: int, declared) -> None:
    what = f"{workload} trace={trace}"
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        fail(f"{what}: exit code {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{what}: result keys {sorted(res)}")
    if res["correct"] is not True or res["failed"] != 0 or res["attempted"] < 1:
        fail(f"{what}: correct={res['correct']} failed={res['failed']} "
             f"attempted={res['attempted']}")
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        fail(f"{what}: metrics {got} differ from the declared {want}")
    for name, m in res["metrics"].items():
        v = m["value"]
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"{what}: {name} = {v!r}")
        if not trace and v <= 0:
            fail(f"{what}: end-to-end metric {name} is {v}")
    print(f"ok   {what}: {len(got)} metrics, {res['attempted']} checked calls")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            check_result(run(ROOT, w["name"], trace), w["name"], trace, declared)

    bare = os.path.join(ROOT, ".perfbench_work", f"smoke-bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        out = run(bare, spec["workloads"][0]["name"], 0, scale="full")
        if out.returncode == 0 or '"metrics"' in out.stdout:
            fail("the benchmark did not fail in a directory without the program")
        print(f"ok   bare directory: exit code {out.returncode}, no result printed")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
