"""Run pytest and write an attestation of the run: outcome counts, wall
time and the commit it ran on.

    python scripts/attest_tests.py [--out pytest_tier1.json] -- PYTEST_ARGS...

Everything after ``--`` goes to ``python -m pytest`` unchanged; the
script exits with pytest's exit code.  The JSON holds ``passed``,
``failed``, ``errors``, ``skipped``, ``deselected``, ``xfailed``,
``xpassed``, ``wall_s``, ``exit_code``, ``args``, ``sha``
(``git rev-parse HEAD``) and ``dirty`` (paths ``git status --porcelain``
reported before the run, the output file excepted), so a reader can tell
whether the counts belong to exactly that commit.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# pytest's closing summary line, e.g. "736 passed, 15 skipped, 62
# deselected, 3 warnings in 861.20s (0:14:21)"
_COUNT_RE = re.compile(
    r"(\d+) (passed|failed|errors?|skipped|deselected|xfailed|xpassed)\b"
)
_KEYS = ("passed", "failed", "errors", "skipped", "deselected", "xfailed", "xpassed")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


def summary_counts(output: str) -> dict:
    """Outcome counts from pytest's last summary line (zeros when absent)."""
    counts = dict.fromkeys(_KEYS, 0)
    lines = [ln for ln in output.splitlines() if re.search(r" in [\d.]+s\b", ln)]
    for n, kind in _COUNT_RE.findall(lines[-1] if lines else ""):
        counts["errors" if kind.startswith("error") else kind] += int(n)
    return counts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default="pytest_tier1.json")
    ap.add_argument("pytest_args", nargs=argparse.REMAINDER)
    ns = ap.parse_args(argv)
    args = ns.pytest_args[1:] if ns.pytest_args[:1] == ["--"] else ns.pytest_args
    out = os.path.abspath(ns.out)
    sha = _git("rev-parse", "HEAD").strip()
    dirty = [
        ln[3:] for ln in _git("status", "--porcelain").splitlines()
        if os.path.join(ROOT, ln[3:]) != out
    ]
    t0 = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, "-m", "pytest", *args], cwd=ROOT,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
    )
    lines = []
    for line in proc.stdout:
        sys.stdout.write(line)
        lines.append(line)
    code = proc.wait()
    doc = {
        **summary_counts("".join(lines)),
        "wall_s": round(time.monotonic() - t0, 1),
        "exit_code": code,
        "args": args,
        "sha": sha,
        "dirty": dirty,
    }
    with open(out, "w") as f:
        json.dump(doc, f, indent=2)
        f.write("\n")
    return code


if __name__ == "__main__":
    sys.exit(main())
