"""Driver-action profiler: attribute every Spark action to its call site.

Wraps DataFrame.collect / count / take / localCheckpoint (the repo's
driver-action shapes), DataFrameWriter.save/parquet and
DataFrameReader.load/parquet (a schema-less parquet load runs one
footer-inference job), recording wall duration, thread, and the nearest
chronicles_spark / bench call frame.  An action run on a
``ThreadPoolExecutor`` thread with no such frame of its own (e.g.
``pool.submit(df.collect)``) is attributed to the frame that submitted
it.  Usage:

    from scripts.profile_actions import trace_actions
    with trace_actions() as log:
        ... run the operator ...
    log.report()

Diagnostic tooling only — never imported by operators or bench.
"""
from __future__ import annotations

import contextlib
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

try:  # Spark 4: concrete methods live on the classic subclass
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # pragma: no cover - Spark 3 fallback
    from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

# call site of the submit that runs the current pool task, if any
_SUBMITTER = threading.local()


def _call_site() -> str:
    for fr in reversed(traceback.extract_stack()):
        fn = fr.filename
        if "profile_actions" in fn or "/pyspark/" in fn:
            continue
        if "chronicles_spark" in fn or "bench" in fn or "profile_" in fn:
            short = fn.rsplit("/", 1)[-1]
            return f"{short}:{fr.lineno}:{fr.name}"
    return getattr(_SUBMITTER, "site", "?")


class ActionLog:
    def __init__(self):
        self.rows: list[tuple[float, float, str, str, str]] = []
        self._lock = threading.Lock()
        self.t0 = time.perf_counter()

    def add(self, kind: str, dt: float, site: str):
        with self._lock:
            self.rows.append(
                (time.perf_counter() - self.t0 - dt, dt, kind, site,
                 threading.current_thread().name)
            )

    def report(self, min_dt: float = 0.0):
        print(f"{'start':>8} {'dur':>7}  {'kind':<10} {'thread':<12} site")
        for start, dt, kind, site, thr in sorted(self.rows):
            if dt >= min_dt:
                print(f"{start:8.2f} {dt:7.3f}  {kind:<10} {thr:<12} {site}")
        total = sum(r[1] for r in self.rows)
        print(f"-- {len(self.rows)} actions, {total:.2f}s summed action time")


@contextlib.contextmanager
def trace_actions():
    log = ActionLog()
    wrapped = [
        (DataFrame, "collect"), (DataFrame, "count"), (DataFrame, "take"),
        (DataFrame, "localCheckpoint"),
        (DataFrameWriter, "save"), (DataFrameWriter, "parquet"),
        (DataFrameReader, "load"), (DataFrameReader, "parquet"),
    ]
    orig = {(cls, name): getattr(cls, name) for cls, name in wrapped}
    orig_submit = ThreadPoolExecutor.submit

    def wrap(kind, fn):
        def inner(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                log.add(kind, time.perf_counter() - t0, _call_site())
        return inner

    def submit(self, fn, /, *args, **kwargs):
        site = _call_site()

        def run(*a, **kw):
            prev = getattr(_SUBMITTER, "site", "?")
            _SUBMITTER.site = site
            try:
                return fn(*a, **kw)
            finally:
                _SUBMITTER.site = prev
        return orig_submit(self, run, *args, **kwargs)

    for (cls, name), fn in orig.items():
        kind = "read." + name if cls is DataFrameReader else name
        setattr(cls, name, wrap(kind, fn))
    ThreadPoolExecutor.submit = submit
    try:
        yield log
    finally:
        for (cls, name), fn in orig.items():
            setattr(cls, name, fn)
        ThreadPoolExecutor.submit = orig_submit
