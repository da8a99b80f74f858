"""Concurrent commits: the reference allows concurrent writers (conflict
resolution out of scope, README.md:53-55) with SERIALIZABLE commit
transactions on the DB tracker (DbVersionTracker.scala:118-124) and
last-writer-wins on the file tracker (FileBackedVersionTracker.scala:23-25).
These tests pin the rebuild to the same guarantees: no commit is lost or
torn under concurrency, and the log stays totally ordered."""

import sys
import threading
from datetime import datetime, timezone

import pytest

from chronicles_spark.core.model import Partition, TableName
from chronicles_spark.core.ops import (
    AddPartitionVersion,
    TableUpdate,
    TableUpdateMetadata,
)
from chronicles_spark.core.version import generate_version
from chronicles_spark.trackers import (
    FileBackedVersionTracker,
    InMemoryVersionTracker,
    SqliteVersionTracker,
)

T = TableName("db", "hot")
N_THREADS = 8
COMMITS_PER_THREAD = 25


def _hammer(tracker):
    tracker.init_table(T, is_snapshot=False, user_id="init")
    errors = []

    def work(tid):
        try:
            for i in range(COMMITS_PER_THREAD):
                meta = TableUpdateMetadata.new(f"w{tid}", f"commit {tid}/{i}")
                op = AddPartitionVersion(
                    Partition((("date", f"2020-01-{tid + 1:02d}"),)),
                    generate_version(),
                )
                tracker.commit(T, TableUpdate(meta, (op,)))
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(N_THREADS)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads' commit steps
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    return tracker.table_state(T)


@pytest.mark.parametrize("backend", ["memory", "sqlite", "files"])
def test_concurrent_commits_none_lost(backend, tmp_path):
    tracker = {
        "memory": lambda: InMemoryVersionTracker(),
        "sqlite": lambda: SqliteVersionTracker(str(tmp_path / "log.db")),
        "files": lambda: FileBackedVersionTracker(str(tmp_path / "log")),
    }[backend]()
    state = _hammer(tracker)
    # init + every commit from every thread, none lost or torn
    assert len(state.updates) == 1 + N_THREADS * COMMITS_PER_THREAD
    commit_ids = [u.metadata.commit_id for u in state.updates]
    assert len(set(commit_ids)) == len(commit_ids)
    # every commit carries exactly its one operation (no torn writes)
    assert all(len(u.operations) == 1 for u in state.updates[1:])
    # the head is the newest commit (a late head write of an older
    # commit would park it behind) and the folded state resolves
    assert state.current_version == commit_ids[-1]
    live = tracker.current_version(T)
    assert len(live.partition_versions) == N_THREADS  # one date per thread


def test_flock_guard_blocks_other_threads(tmp_path):
    """The flock re-entrancy memo must be per-THREAD: a second thread
    sharing one use_lock tracker has to open its own fd and BLOCK while the
    first holds the lock (an instance-shared memo would let it skip the
    lock and interleave an optimistic check-then-append)."""
    tracker = FileBackedVersionTracker(str(tmp_path / "log"), use_lock=True)
    tracker.init_table(T, is_snapshot=False, user_id="init")
    d = tracker._table_dir(T)

    a_holds, release_a, b_entered = (
        threading.Event(), threading.Event(), threading.Event(),
    )

    def hold():
        with tracker._commit_guard(d):
            a_holds.set()
            release_a.wait(30)

    def contend():
        with tracker._commit_guard(d):
            b_entered.set()

    ta = threading.Thread(target=hold)
    ta.start()
    assert a_holds.wait(10)
    tb = threading.Thread(target=contend)
    tb.start()
    try:
        # B must still be blocked on the flock while A holds it
        assert not b_entered.wait(1.0)
    finally:
        release_a.set()
    assert b_entered.wait(10)  # ... and proceed once A releases
    ta.join(10)
    tb.join(10)


@pytest.mark.parametrize("mode", ["plain", "cas", "lock"])
def test_in_process_commits_never_move_the_head_backwards(tmp_path, monkeypatch, mode):
    """Two threads of one process commit to one table while the first
    commit's head advance is held back (the interleaving overlapped
    saves whose callbacks commit can produce).  The plain-mode head
    write is last-writer-wins, so unless the process serializes its
    commits per table the older commit's late write parks the head
    behind the newest commit.  The head must end at the newest commit in
    every mode."""
    tracker = FileBackedVersionTracker(
        str(tmp_path / "log"), use_cas=(mode == "cas"),
        use_lock=(mode == "lock"),
    )
    tracker.init_table(T, is_snapshot=False, user_id="init")
    first_in_advance, second_done = threading.Event(), threading.Event()
    orig = FileBackedVersionTracker._advance_head
    calls = []

    def slow_first_advance(self, d, commit_id, seq):
        calls.append(commit_id)
        if len(calls) == 1:
            first_in_advance.set()
            # serialized: the second commit cannot finish meanwhile, so
            # this waits out the timeout; unserialized it lands first
            second_done.wait(2.0)
        orig(self, d, commit_id, seq)

    monkeypatch.setattr(
        FileBackedVersionTracker, "_advance_head", slow_first_advance
    )

    def commit(tag):
        meta = TableUpdateMetadata.new(tag, tag)
        op = AddPartitionVersion(Partition((("p", tag),)), generate_version())
        tracker.commit(T, TableUpdate(meta, (op,)))
        return meta.commit_id

    ids = {}
    ta = threading.Thread(target=lambda: ids.setdefault("a", commit("a")))
    ta.start()
    assert first_in_advance.wait(10)
    tb = threading.Thread(target=lambda: ids.setdefault("b", commit("b")))
    tb.start()
    tb.join(10)
    second_done.set()
    ta.join(10)
    tb.join(10)
    updates = tracker.table_state(T).updates
    assert [u.metadata.commit_id for u in updates[1:]] == [ids["a"], ids["b"]]
    assert tracker.head_commit_id(T) == ids["b"]
    assert {p.path for p in tracker.current_version(T).partition_versions} == {
        "p=a", "p=b"
    }


def test_optimistic_commits_serialized_across_threads(tmp_path):
    """Same-partition OCC race on one shared use_lock tracker: every commit
    either lands or raises CommitConflictError; retries drain, nothing is
    lost, and the final log holds every attempt exactly once."""
    from chronicles_spark.trackers.base import CommitConflictError

    tracker = FileBackedVersionTracker(str(tmp_path / "log"), use_lock=True)
    tracker.init_table(T, is_snapshot=False, user_id="init")
    n_threads, per_thread = 4, 10
    errors = []

    def work(tid):
        try:
            for i in range(per_thread):
                while True:
                    head = tracker.table_state(T).current_version
                    meta = TableUpdateMetadata.new(f"w{tid}", f"occ {tid}/{i}")
                    op = AddPartitionVersion(
                        Partition((("date", "2020-01-01"),)), generate_version()
                    )
                    try:
                        tracker.commit(T, TableUpdate(meta, (op,)), expected_head=head)
                        break
                    except CommitConflictError:
                        continue  # somebody else won; re-read and retry
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    msgs = [u.metadata.message for u in tracker.table_state(T).updates]
    assert len(msgs) == 1 + n_threads * per_thread  # init + every attempt
    assert len(set(msgs)) == len(msgs)  # exactly once each
