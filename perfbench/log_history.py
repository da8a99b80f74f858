"""log_history: the metadata plane alone — ``core`` folds and a files
tracker's commit log, plus ``VersionedMetastore`` checkouts over the
in-memory metastore.  No SparkSession is started in this process: a live
JVM beside the tracker made per-call timings swing by 2x between
identical runs.

One op = four rounds.  Each round commits a chunk of 25 seeded updates
touching a few partitions and resolves one seeded past commit
(``version_at`` and ``commit_at_timestamp`` in turn); every other round
also checks the table out to a seeded past commit and back to head, and
the last one lists ``updates()``.  A sample is one kind's time summed
over the op's rounds, so it spreads over the whole op.

Times are reported on a reference CPU: a fixed pure-Python loop
(``harness.cpu_ref_ms``) runs before and after every timed region, and
the region's time is divided by the mean of the two loop times, giving
ms on a CPU that runs the loop in 1 ms.  On the shared VM this benchmark
was built on, single-thread speed changes 1.5x between phases of
50-200 ms and drifts as much over minutes with the load of other
tenants; raw per-run medians tracked the loop's speed and spread 0.2-0.4
over ten runs.  The raw medians are kept in the run record.
The table has 2,000 partitions (bulk-loaded by the first commit) and the
log grows to thousands of commits, so resolutions cross many fold
checkpoints.

The log lives on the program's in-process ``memory://`` filesystem.  On
the ext4 disk the benchmark may write to (mounted with ``discard``), a
commit cost 2.5 ms of CPU against 0.33 ms on tmpfs and 0.08 ms in
memory, and its median moved 2.6x between identical runs: that measures
the disk, not the tracker.  The counting facade over the store gives the
reads, listings and bytes the tracker would have issued to any store.
"""

from __future__ import annotations

import gc
import os
import random
import statistics
import traceback
import uuid
from datetime import datetime, timedelta, timezone
from typing import Dict, List

from chronicles_spark.core.diff import compute_changes
from chronicles_spark.core.model import (
    Partition, PartitionSchema, TableDefinition, TableName,
)
from chronicles_spark.core.ops import (
    AddPartitionVersion, RemovePartition, TableUpdate, TableUpdateMetadata,
)
from chronicles_spark.core.version import Version, make_label
from chronicles_spark.spark.metastore import InMemoryMetastore
from chronicles_spark.versioned_metastore import VersionedMetastore

from harness import Tracer, cpu_ref_ms, now, proc_cpu_s, read_cpu_times, steal_share
from layers import TimedInMemoryMetastore, make_tracker

N_PARTS = 2000
SIZES = {
    # history commits made in setup, commits per op, rounds per op (one
    # resolution each, a checkout pair every other one), seconds of
    # nominal run time per op
    "full": dict(history=1500, commits=100, rounds=4, op_s=2.0),
    "tiny": dict(history=60, commits=8, rounds=2, op_s=1.0),
}
SETUP_REPEATS = 5
# per-layer metrics of layers this workload never calls
NOT_EXERCISED = (
    "writer.jobs", "writer.files", "writer.bytes",
    "reader.jobs", "reader.files_read",
    "operators.dedup_extend_jobs", "operators.cluster_fold_jobs",
    "operators.ann_extend_jobs", "operators.group_publish_jobs",
    "vacuum.paths_removed", "spark.jobs", "spark.job_ms", "spark.gap_ms",
    "proc.jvm_cpu_s",
)
BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)


class History:
    """The bench's own record of every commit it submitted, and the dict
    fold that serves as the reference for every resolution."""

    SNAP_EVERY = 64

    def __init__(self, init_id: str) -> None:
        self.ids: List[str] = [init_id]
        self.ops: List[list] = [[]]  # per commit: (path, label or None)
        self._snaps: Dict[int, Dict[str, str]] = {0: {}}
        self.head: Dict[str, str] = {}

    def add(self, commit_id: str, ops: list) -> None:
        self.ids.append(commit_id)
        self.ops.append(ops)
        _apply(self.head, ops)
        if (len(self.ids) - 1) % self.SNAP_EVERY == 0:
            self._snaps[len(self.ids) - 1] = dict(self.head)

    def state_at(self, k: int) -> Dict[str, str]:
        base = max(i for i in self._snaps if i <= k)
        state = dict(self._snaps[base])
        for ops in self.ops[base + 1:k + 1]:
            _apply(state, ops)
        return state


def _apply(state: Dict[str, str], ops) -> None:
    for path, label in ops:
        if label is None:
            state.pop(path, None)
        else:
            state[path] = label


def _as_dict(table_version) -> Dict[str, str]:
    return {p.path: v.label for p, v in table_version.partition_versions.items()}


class Log:
    """One table's log under a fresh directory, fed seeded commits."""

    def __init__(self, bucket: str, rng: random.Random, tracer: Tracer) -> None:
        self.rng = rng
        self.tracker, self.fs = make_tracker(f"memory://{bucket}/log", tracer)
        self.table = TableDefinition(
            TableName("bench", "events"), f"memory://{bucket}/data",
            PartitionSchema(("p",)),
        )
        self.log_dir = self.tracker._table_dir(self.table.name)
        self.parts = [Partition.of(("p", f"{i:04d}")) for i in range(N_PARTS)]
        self.tracker.init_table(self.table.name, False, "bench", "init", BASE_TS)
        self.hist = History(self.tracker.updates(self.table.name)[0].commit_id)
        self.metastore = (
            TimedInMemoryMetastore(tracer) if tracer.enabled else InMemoryMetastore()
        )
        self.metastore.create_table(self.table)
        self.vm = VersionedMetastore(self.tracker, self.metastore)

    def _uuid(self) -> uuid.UUID:
        return uuid.UUID(int=self.rng.getrandbits(128), version=4)

    def ts(self, k: int) -> datetime:
        return BASE_TS + timedelta(seconds=k)

    def next_update(self, parts, k: int) -> TableUpdate:
        """Seeded update for the ``k``-th commit of the log."""
        ts = self.ts(k)
        ops = []
        for p in parts:
            if self.rng.random() < 0.05:
                ops.append(RemovePartition(p))
            else:
                label = make_label(ts, self.rng.randrange(10**9), self._uuid())
                ops.append(AddPartitionVersion(p, Version(label)))
        meta = TableUpdateMetadata(str(self._uuid()), "bench", f"c{k}", ts)
        return TableUpdate(meta, tuple(ops))

    def commit(self, update: TableUpdate) -> None:
        self.tracker.commit(self.table.name, update)
        self.hist.add(update.metadata.commit_id, _ops_of(update))

    def small_update(self, k: int) -> TableUpdate:
        return self.next_update(self.rng.sample(self.parts, self.rng.randint(1, 4)), k)

    def files(self) -> Dict[str, int]:
        """``{name: bytes}`` of the table's log directory."""
        fs = self.fs.inner
        return {n: len(fs.read_text(fs.join(self.log_dir, n)))
                for n in fs.list_dir(self.log_dir) if not fs.is_dir(fs.join(self.log_dir, n))}

    def drop(self) -> None:
        self.fs.inner.remove_tree(self.tracker.root)

    def build(self, history: int) -> None:
        self.commit(self.next_update(self.parts, 1))
        for k in range(2, history + 2):
            self.commit(self.small_update(k))
        self.metastore.update(
            self.table,
            compute_changes(self.metastore.current_version(self.table),
                            self.tracker.current_version(self.table.name)),
        )


def run(work: str, seed: int, seconds: int, scale: str, tracer: Tracer) -> dict:
    size = SIZES[scale]
    rng = random.Random(seed)

    log = name = None  # the fixture of the current set-up repetition
    n_ops = max(3, round(seconds / size["op_s"]))

    writes, reads, rollbacks, walls, op_refs = [], [], [], [], []
    samples_of = {"write": writes, "read": reads, "rollback": rollbacks}
    raw_ms = {kind: [] for kind in samples_of}
    failures: List[str] = []
    attempted = failed = 0
    fs_deltas, cpu = [], []

    def depths(n: int, k: int, shift: float) -> List[int]:
        """``k`` seeded commit indexes spread evenly over the history (one
        per stratum), so every op resolves shallow and deep commits."""
        width = (n - 1) / k
        return [1 + int(width * (i + shift / 2 + rng.random() / 2)) for i in range(k)]

    def one_op(timed: bool) -> None:
        """``rounds`` rounds, each a chunk of the op's commits and one
        resolution, every other one also a checkout to a past commit and
        back.  Each kind's time is summed over the rounds, so every sample
        spreads over the whole op rather than one burst of it."""
        nonlocal attempted, failed
        n_commits = len(log.hist.ids)
        rounds = size["rounds"]
        updates = [log.small_update(n_commits + i) for i in range(size["commits"])]
        chunk = len(updates) // rounds
        targets = depths(n_commits, rounds, 0.0)
        back_ks = depths(n_commits, rounds // 2, 0.5)
        fs0 = dict(log.fs.n)
        got_at, got_ts, backs, heads = [], [], [], []
        raw = dict.fromkeys(("write", "read", "rollback"), 0.0)
        ref = dict.fromkeys(raw, 0.0)  # the same, in reference-loop units
        refs = []

        def timed_by_ref(kind: str, t0: float, t1: float) -> None:
            # a region's time over the mean of the loop times around it
            raw[kind] += t1 - t0
            ref[kind] += (t1 - t0) * 1000 / ((refs[-2] + refs[-1]) / 2)
        # the cyclic collector runs between ops, never inside one (as
        # timeit does): the bench keeps a large reference state, and a
        # full collection inside a commit chunk would be charged to it
        gc.collect()
        gc.disable()
        try:
            cpu0 = proc_cpu_s(os.getpid())
            with tracer.span("op"):
                t_op = now()
                for r in range(rounds):
                    refs.append(cpu_ref_ms())
                    t0 = now()
                    for u in updates[r * chunk:(r + 1) * chunk]:
                        log.tracker.commit(name, u)
                    t1 = now()
                    refs.append(cpu_ref_ms())
                    timed_by_ref("write", t0, t1)
                    k = targets[r]
                    t1 = now()
                    if r % 2 == 0:
                        got_at.append((k, log.tracker.version_at(name, log.hist.ids[k])))
                    else:
                        at = log.ts(k) + timedelta(milliseconds=500)
                        got_ts.append((k, log.tracker.commit_at_timestamp(name, at)))
                    if r == rounds - 1:
                        listing = log.tracker.updates(name)
                    t2 = now()
                    refs.append(cpu_ref_ms())
                    timed_by_ref("read", t1, t2)
                    if r % 2 == 0:
                        continue
                    k = back_ks[r // 2]
                    head_k = n_commits + (r + 1) * chunk - 1
                    t2 = now()
                    with tracer.span("versioned_metastore.checkout"):
                        state, _ = log.vm.checkout(log.table, log.hist.ids[k])
                    t3 = now()
                    refs.append(cpu_ref_ms())
                    timed_by_ref("rollback", t2, t3)
                    with tracer.span("versioned_metastore.checkout"):
                        head_state, _ = log.vm.checkout(
                            log.table, updates[head_k - n_commits].metadata.commit_id)
                    backs.append((k, state))
                    heads.append((head_k, head_state))
            t_end = now()
        finally:
            gc.enable()
        fs_deltas.append({k: log.fs.n[k] - fs0[k] for k in fs0})
        cpu.append(proc_cpu_s(os.getpid()) - cpu0)
        for u in updates:
            log.hist.add(u.metadata.commit_id, _ops_of(u))
        # the metastore after a checkout, read outside the op: one more
        # checkout to a past commit, then back to head
        k = back_ks[0]
        log.vm.checkout(log.table, log.hist.ids[k])
        in_ms_back = _as_dict(log.metastore.current_version(log.table))
        log.vm.checkout(log.table, log.hist.ids[-1])
        n = {"write": len(updates), "read": len(got_at) + len(got_ts) + 1,
             "rollback": len(backs)}
        op_refs.append(refs)
        if timed:
            for kind, samples in samples_of.items():
                samples.append(ref[kind] / n[kind])
                raw_ms[kind].append(raw[kind] * 1000 / n[kind])
            walls.append((t_end - t_op) * 1000)
        checks = [
            *(_as_dict(g) == log.hist.state_at(k) for k, g in got_at),
            *(g == log.hist.ids[k] for k, g in got_ts),
            [m.commit_id for m in listing] == log.hist.ids[::-1],
            *(_as_dict(g) == log.hist.state_at(k) for k, g in backs + heads),
            in_ms_back == log.hist.state_at(k),
            _as_dict(log.metastore.current_version(log.table)) == log.hist.head,
        ]
        n_calls = len(updates) + len(checks)
        bad = sum(1 for c in checks if not c)
        if timed:
            attempted += n_calls
            failed += bad
        if bad:
            failures.append(f"op {len(writes)}: {bad} mismatched results")

    # set-up is repeated and its median reported: each repetition builds a
    # fresh log and runs one untimed warm-up op on it
    setup_times, raw_setup = [], []
    for rep in range(SETUP_REPEATS):
        if log is not None:
            log.drop()
        before_ref = cpu_ref_ms()
        t0 = now()
        log = Log(f"perfbench-{os.getpid()}-{rep}", random.Random(rng.getrandbits(64)), tracer)
        name = log.table.name
        log.build(size["history"])
        after_ref = cpu_ref_ms()
        one_op(timed=False)
        raw_setup.append(now() - t0)
        # in seconds of a CPU on which the reference loop takes 1 ms
        setup_times.append(raw_setup[-1] / statistics.fmean(
            [before_ref, after_ref, *op_refs[-1]]))
    tracer.spans.clear()
    fs_deltas.clear()
    cpu.clear()
    before = log.files()
    cpu_all0 = read_cpu_times()
    for i in range(n_ops):
        try:
            one_op(timed=True)
        except Exception:  # a failing op is counted and the run goes on
            traceback.print_exc()
            attempted += 1
            failed += 1
            failures.append(f"op {i} raised")
    after = log.files()
    log.drop()
    new_records = sum(s for n, s in after.items()
                      if n not in before and n.startswith("table_update_"))
    records = sum(s for n, s in after.items() if n.startswith("table_update_"))

    out = {
        "ops": n_ops,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "setup_s": statistics.median(setup_times),
        "write_ms": writes,
        "read_ms": reads,
        "rollback_ms": rollbacks,
        "op_wall_ms": walls,
        "cpu_ref_ms": [r for refs in op_refs for r in refs],
        "raw_p50_ms": {f"{kind}_p50_ms": statistics.median(v) for kind, v in raw_ms.items()},
        "raw_setup_s": statistics.median(raw_setup),
        "write_amp": sum(d["write_bytes"] for d in fs_deltas) / new_records,
        "space_amp": sum(after.values()) / records,
        "log_commits": len(log.hist.ids),
    }
    if tracer.enabled:
        extra = dict.fromkeys(NOT_EXERCISED, 0.0)
        extra["proc.driver_cpu_s"] = statistics.fmean(cpu)
        extra["proc.steal_frac"] = steal_share(cpu_all0, read_cpu_times())
        out["layers"] = {"fs": fs_deltas, "extra": extra}
    return out


def _ops_of(update: TableUpdate) -> list:
    return [
        (op.partition.path, op.version.label)
        if isinstance(op, AddPartitionVersion) else (op.partition.path, None)
        for op in update.operations
    ]
