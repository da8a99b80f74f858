"""Driver-action profiler: attribute every Spark action to its call site.

Wraps DataFrame.collect / count / take / localCheckpoint (the repo's
driver-action shapes), DataFrameWriter.save/parquet and
DataFrameReader.load/parquet (a schema-less parquet load runs one
footer-inference job), recording wall duration, thread, the nearest
chronicles_spark / bench call frame and the number of Spark jobs the
action launched.  Each wrapped call runs under a job group of its own
(``statusTracker`` counts that group's jobs once the listener bus has
drained); an action nested in another is counted by the inner one.  An
action run on a ``ThreadPoolExecutor`` thread with no such frame of its
own (e.g. ``pool.submit(df.collect)``) is charged to the frame that
submitted it.  Library usage:

    from scripts.profile_actions import trace_actions
    with trace_actions(spark) as log:
        ... run the operator ...
    log.report()

Command line: one ``lake_day`` day (perfbench's composed chain: versioned
write, dedup extend, cluster fold, ANN upsert, group publish) on the
perfbench inputs, after ``--days - 1`` untraced days, printing every
action of the last day and a per-step summary of actions, Spark jobs and
wall time (all jobs of a step, wrapped or not, are counted through an
outer job group per step):

    python scripts/profile_actions.py --seed 1 --days 3

Diagnostic tooling only — never imported by operators or bench.
"""
from __future__ import annotations

import argparse
import contextlib
import os
import sys
import tempfile
import threading
import time
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor

try:  # Spark 4: concrete methods live on the classic subclass
    from pyspark.sql.classic.dataframe import DataFrame
except ImportError:  # pragma: no cover - Spark 3 fallback
    from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

_GROUP = "spark.jobGroup.id"

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


def _wait_for_listeners(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty()


class ActionLog:
    def __init__(self, sc=None):
        self.sc = sc
        # (start, dur, kind, site, thread, job group or None)
        self.rows: list[tuple] = []
        self._lock = threading.Lock()
        self.t0 = time.perf_counter()

    def add(self, kind: str, dt: float, site: str, group=None):
        with self._lock:
            self.rows.append(
                (time.perf_counter() - self.t0 - dt, dt, kind, site,
                 threading.current_thread().name, group)
            )

    def jobs(self) -> list:
        """Per row, the Spark jobs its action launched (None without a
        SparkContext)."""
        if self.sc is None:
            return [None] * len(self.rows)
        _wait_for_listeners(self.sc)
        st = self.sc.statusTracker()
        return [len(st.getJobIdsForGroup(r[5])) if r[5] else None
                for r in self.rows]

    def report(self, min_dt: float = 0.0):
        print(f"{'start':>8} {'dur':>7} {'jobs':>4}  {'kind':<10} "
              f"{'thread':<12} site")
        jobs = self.jobs()
        for (start, dt, kind, site, thr, _g), n in sorted(
            zip(self.rows, jobs), key=lambda x: x[0][:2]
        ):
            if dt >= min_dt:
                nj = "-" if n is None else str(n)
                print(f"{start:8.2f} {dt:7.3f} {nj:>4}  {kind:<10} "
                      f"{thr:<12} {site}")
        total = sum(r[1] for r in self.rows)
        n_jobs = sum(n for n in jobs if n is not None)
        print(f"-- {len(self.rows)} actions, {n_jobs} jobs, "
              f"{total:.2f}s summed action time")


@contextlib.contextmanager
def trace_actions(spark=None):
    """Record every wrapped action run inside the block; with ``spark``
    each action also runs under its own job group so its jobs count."""
    sc = spark.sparkContext if spark is not None else None
    log = ActionLog(sc)
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
            group = prev = None
            if sc is not None:
                prev = sc.getLocalProperty(_GROUP)
                group = "action-" + uuid.uuid4().hex
                sc.setLocalProperty(_GROUP, group)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                log.add(kind, time.perf_counter() - t0, _call_site(), group)
                if sc is not None:
                    sc.setLocalProperty(_GROUP, prev)
        return inner

    def submit(self, fn, /, *args, **kwargs):
        site = _call_site()
        # the submitter's job group: a pool thread's jobs outside any
        # wrapped action are charged to it, as its actions are to ``site``
        group = sc.getLocalProperty(_GROUP) if sc is not None else None

        def run(*a, **kw):
            prev = getattr(_SUBMITTER, "site", "?")
            _SUBMITTER.site = site
            if sc is not None:
                prev_group = sc.getLocalProperty(_GROUP)
                sc.setLocalProperty(_GROUP, group)
            try:
                return fn(*a, **kw)
            finally:
                _SUBMITTER.site = prev
                if sc is not None:
                    sc.setLocalProperty(_GROUP, prev_group)
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


# ---------------------------------------------------------------------------
# command line: one traced lake_day day


def _lake_day(seed: int, days: int, min_dt: float) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    import pyarrow.parquet as pq

    import data as gen
    from harness import Tracer
    from lake_day import SIZES, Lake, start_spark, stop_spark

    from chronicles_spark.operators import ann_index as AX
    from chronicles_spark.operators import cluster_index as CX
    from chronicles_spark.operators import dedup_index as DX
    from chronicles_spark.spark import versioned_insert_group, versioned_insert_into

    size = SIZES["full"]
    with tempfile.TemporaryDirectory(prefix="profile_actions_") as work:
        spark = start_spark(work, None)
        try:
            sc = spark.sparkContext
            corpus = gen.Corpus(seed, size["base_docs"], size["base_vecs"],
                                size["day_docs"], size["day_vecs"])
            base_docs, base_emb = corpus.base()
            inputs = os.path.join(work, "input")
            os.makedirs(inputs)
            paths = [os.path.join(inputs, f"{k}_base.parquet") for k in ("docs", "emb")]
            pq.write_table(base_docs, paths[0])
            pq.write_table(base_emb, paths[1])
            lake = Lake(spark, os.path.join(work, "lake"), Tracer(False))
            docs, emb = lake.read_inputs(*paths)
            lake.build(docs, emb, *corpus.ann_artifacts(base_emb), [])
            for day in range(1, days + 1):
                rows, vecs = corpus.day(day)
                paths = [os.path.join(inputs, f"{k}_{day:04d}.parquet")
                         for k in ("docs", "emb")]
                pq.write_table(rows, paths[0])
                pq.write_table(vecs, paths[1])
                day_docs, day_emb = lake.read_inputs(*paths)
                chain = (
                    ("writer.data", lambda: versioned_insert_into(
                        day_docs, lake.raw, lake.tracker, "bench", f"day {day}")),
                    ("operators.dedup_extend", lambda: DX.extend_dedup_index(
                        day_docs.select("doc_id", "text"), lake.bands, lake.tracker,
                        pairs_table=lake.pairs)),
                    ("operators.cluster_fold", lambda: CX.fold_new_dedup_pairs(
                        spark, lake.pairs, lake.clusters, lake.tracker)),
                    ("operators.ann_extend", lambda: AX.extend_ann_index(
                        day_emb.select("vec_id", "embedding"), lake.ann,
                        lake.tracker)),
                    ("operators.group_publish", lambda: versioned_insert_group(
                        [(day_docs, lake.pub_docs), (day_emb, lake.pub_emb)],
                        lake.tracker, "bench", f"publish day {day}",
                        metastore=lake.metastore)),
                )
                if day < days:
                    for _name, step in chain:
                        step()
                    continue
                summary = []
                with trace_actions(spark) as log:
                    for name, step in chain:
                        group = "step-" + uuid.uuid4().hex
                        sc.setLocalProperty(_GROUP, group)
                        n0, t0 = len(log.rows), time.perf_counter()
                        try:
                            step()
                        finally:
                            sc.setLocalProperty(_GROUP, None)
                        summary.append((name, group, n0, len(log.rows),
                                        time.perf_counter() - t0))
                print(f"lake_day seed {seed}, day {days}: every action")
                log.report(min_dt)
                jobs = log.jobs()
                st = sc.statusTracker()
                print(f"\n{'step':<26} {'actions':>7} {'jobs':>5} "
                      f"{'unwrapped':>9} {'wall_s':>7}")
                for name, group, lo, hi, wall in summary:
                    wrapped_jobs = sum(n or 0 for n in jobs[lo:hi])
                    # jobs outside any wrapped action (an rdd collect, a
                    # pool thread's unwrapped job) ran in the step's group
                    loose = len(st.getJobIdsForGroup(group))
                    print(f"{name:<26} {hi - lo:>7} {wrapped_jobs + loose:>5} "
                          f"{loose:>9} {wall:>7.2f}")
        finally:
            stop_spark(spark)


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--days", type=int, default=3,
                   help="days to run; the last one is profiled")
    p.add_argument("--min-ms", type=float, default=0.0,
                   help="list only actions at least this long")
    a = p.parse_args(argv)
    _lake_day(a.seed, max(1, a.days), a.min_ms / 1000)


if __name__ == "__main__":
    main()
