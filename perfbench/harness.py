"""Shared machinery of the benchmark: the run record, the storage walk,
process CPU counters and the in-memory span tracer.

Nothing here imports the program under test, so this module also loads
in a directory that holds only the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import platform
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from typing import Dict, List, Optional


def now() -> float:
    return time.perf_counter()


_T0 = now()


def progress(msg: str) -> None:
    """Progress marker on stderr (stdout carries the result)."""
    print(f"[perfbench +{now() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# run environment


def read_cpu_times() -> List[int]:
    """Aggregate jiffies of the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: List[int], after: List[int]) -> float:
    """Share of all CPU time that the hypervisor stole between two
    /proc/stat readings (field 8 of the ``cpu`` line)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user/nice
    return delta[7] / total if total > 0 else 0.0


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (longest prefix)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1].replace("\\040", " ")
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind


def java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True,
            timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def cpu_ref_ms() -> float:
    """Time of a fixed pure-Python loop, in ms (about 1 ms on the 4-vCPU
    VM the benchmark was built on): the single-thread CPU speed at this
    moment."""
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000):
        x += i
    return (time.perf_counter() - t0) * 1000


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class RunRecord:
    """The run-environment block printed with every result."""

    def __init__(self, workload: str, seed: int, storage_root: str) -> None:
        self.info: Dict[str, object] = {
            "workload": workload,
            "seed": seed,
            "nproc": os.cpu_count(),
            "loadavg_start": list(os.getloadavg()),
            "storage_root_fs": fs_type(storage_root),
            "python": platform.python_version(),
        }
        self._cpu0 = read_cpu_times()

    def finish(self, **extra) -> Dict[str, object]:
        self.info["loadavg_end"] = list(os.getloadavg())
        self.info["steal_frac"] = steal_share(self._cpu0, read_cpu_times())
        self.info.update(extra)
        return self.info


# ---------------------------------------------------------------------------
# process CPU


_TICK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """utime + stime of one process, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def java_descendants(root_pid: int) -> List[int]:
    """Pids of the ``java`` processes descending from ``root_pid``."""
    parent: Dict[int, int] = {}
    comm: Dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        head, tail = raw.rsplit(")", 1)
        comm[int(name)] = head.split("(", 1)[1]
        parent[int(name)] = int(tail.split()[1])
    out = []
    for pid, c in comm.items():
        p = pid
        while p in parent and p != root_pid and p > 1:
            p = parent[p]
        if p == root_pid and pid != root_pid and c == "java":
            out.append(pid)
    return out


# ---------------------------------------------------------------------------
# storage


def walk_sizes(root: str) -> Dict[str, int]:
    """``{path: bytes}`` of every regular file under ``root``."""
    out: Dict[str, int] = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.stat(p).st_size
            except FileNotFoundError:
                pass
    return out


def bytes_added(before: Dict[str, int], after: Dict[str, int]) -> int:
    """Bytes of files that appeared or changed between two walks: data
    files are immutable, so this is the bytes written in between."""
    return sum(s for p, s in after.items() if before.get(p) != s)


# ---------------------------------------------------------------------------
# tracing


ROOT = "op"  # name of the root span of one op


@dataclass
class Span:
    sid: int
    name: str
    parent: Optional[int]
    start: float
    end: float = 0.0


class Tracer:
    """In-memory spans: one root span per op, one child span per layer
    call.  Disabled, every method is a cheap no-op, so untraced runs pay
    nothing but an attribute check."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._thread: Optional[int] = None
        # hooks called with the span entered, and with the span exited
        # and the one innermost again (None at the root); the Spark
        # workload sets the job group there
        self.on_enter = None
        self.on_exit = None

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _enter(self, name: str) -> Optional[Span]:
        # layer calls made outside an op (setup, checks) are not recorded,
        # nor those of helper threads: the op's thread waits for them, so
        # their time is in the span that started them
        if not self.enabled:
            return None
        if not self._stack:
            if name != ROOT:
                return None
            self._thread = threading.get_ident()
        elif threading.get_ident() != self._thread:
            return None
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, now())
        self.spans.append(s)
        self._stack.append(s)
        if self.on_enter:
            self.on_enter(s)
        return s

    def _exit(self, s: Optional[Span]) -> None:
        if s is None:
            return
        s.end = now()
        self._stack.pop()
        if self.on_exit:
            self.on_exit(s, self._stack[-1] if self._stack else None)

    def roots(self) -> List[Span]:
        return [s for s in self.spans if s.parent is None]

    def children(self) -> Dict[int, List[Span]]:
        kids: Dict[int, List[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def check_nesting(self) -> None:
        """Raise unless every span lies inside its parent and no two
        children of one span overlap, the condition under which a span's
        children cover exactly the sum of their durations.  A layer call
        made from another thread, or a span left open, breaks it."""
        by_id = {s.sid: s for s in self.spans}
        for parent, kids in self.children().items():
            p = by_id[parent]
            prev_end = p.start
            for c in sorted(kids, key=lambda k: k.start):
                if c.start < prev_end or c.end > p.end or c.end < c.start:
                    raise RuntimeError(f"span {c.name} ({c.sid}) overlaps a sibling "
                                       f"or leaves its parent {p.name} ({p.sid})")
                prev_end = c.end

    def layer_self_times(self) -> List[Dict[str, float]]:
        """Per root span: ``{layer: self seconds}`` plus ``other`` (the
        root's own self time).  Children of one span run one after
        another on the driver thread (:meth:`check_nesting`), so the time
        they cover is the sum of their durations and each op's layer self
        times plus ``other`` equal its wall time."""
        kids = self.children()
        out = []

        def visit(s: Span, acc: Dict[str, float]) -> None:
            covered = sum(c.end - c.start for c in kids.get(s.sid, ()))
            key = "other" if s.parent is None else s.name
            acc[key] = acc.get(key, 0.0) + (s.end - s.start) - covered
            for c in kids.get(s.sid, ()):
                visit(c, acc)

        for r in self.roots():
            acc: Dict[str, float] = {}
            visit(r, acc)
            acc["_wall"] = r.end - r.start
            out.append(acc)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    __slots__ = ("tracer", "name", "span")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        self.span = self.tracer._enter(self.name)
        return self.span

    def __exit__(self, *exc):
        self.tracer._exit(self.span)
        return False


# ---------------------------------------------------------------------------
# result


def metric(value: float, unit: str) -> Dict[str, object]:
    return {"value": value, "unit": unit}


def emit(record: Dict[str, object], correct: bool, attempted: int, failed: int,
         metrics: Dict[str, Dict[str, object]]) -> None:
    """Print the run record, then the result as the LAST stdout line."""
    print(json.dumps({"run_record": record}, sort_keys=True))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }), flush=True)
