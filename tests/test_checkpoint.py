"""Fold-checkpoint behaviour of the file-backed tracker.

The checkpoint (``checkpoint_<seq>.json`` + ``_last_checkpoint`` pointer)
must make ``current_version`` O(tail) — reading only commits AFTER the
checkpoint seq — while reproducing the reference fold semantics exactly
(VersionTracker.scala:37-55,156-172), including rollback heads that predate
the checkpoint and rolled-back commits re-surfacing after a later write.
Differential style: every fast-path result is compared against the
checkpoint-free full fold of the same log directory.
"""

import json

import pytest

from chronicles_spark.core.model import Partition, SnapshotTableVersion, TableName
from chronicles_spark.core.ops import (
    AddPartitionVersion,
    AddTableVersion,
    RemovePartition,
    TableUpdate,
    TableUpdateMetadata,
)
from chronicles_spark.core.version import generate_version
from chronicles_spark.trackers import FileBackedVersionTracker
from chronicles_spark.trackers.fs import FileSystem

T = TableName("db", "events")


class CountingFs(FileSystem):
    """Facade proxy recording every read_text path AND every directory
    listing (call count + dirents returned) — lets tests assert WHICH
    log files a resolution actually touched and how much LISTING it paid
    (the round-12 archival work's unit of cost: on an object store a
    listing is ~one paginated LIST call per 1000 dirents)."""

    def __init__(self, inner):
        self.inner = inner
        self.reads = []
        self.read_bytes = 0  # total characters returned across all reads
        self.lists = []     # one path per list_dir call
        self.dirents = 0    # total entries returned across all listings

    def exists(self, path):
        return self.inner.exists(path)

    def mkdirs(self, path):
        return self.inner.mkdirs(path)

    def read_text(self, path):
        self.reads.append(path)
        out = self.inner.read_text(path)
        self.read_bytes += len(out)
        return out

    def write_text(self, path, text):
        return self.inner.write_text(path, text)

    def list_dir(self, path):
        out = self.inner.list_dir(path)
        self.lists.append(path)
        self.dirents += len(out)
        return out

    def is_dir(self, path):
        return self.inner.is_dir(path)

    def remove_tree(self, path):
        return self.inner.remove_tree(path)

    def remove_file(self, path):
        return self.inner.remove_file(path)

    def join(self, *parts):
        return self.inner.join(*parts)

    # conditional-put surface must delegate too: without it the proxy
    # silently downgrades commits to the legacy overwrite-capable path
    # (exactly the hazard test_fresh_instance_commit... pins)
    def supports_put_if_absent(self):
        return self.inner.supports_put_if_absent()

    def write_text_if_absent(self, path, text):
        return self.inner.write_text_if_absent(path, text)

    def supports_put_if_match(self):
        return self.inner.supports_put_if_match()

    def read_text_and_token(self, path):
        self.reads.append(path)
        return self.inner.read_text_and_token(path)

    def write_text_if_match(self, path, text, token):
        return self.inner.write_text_if_match(path, text, token)

    def mtime(self, path):
        return self.inner.mtime(path)


def _commit(tracker, *ops, msg="u"):
    meta = TableUpdateMetadata.new("alice", msg)
    tracker.commit(T, TableUpdate(meta, tuple(ops)))
    return meta.commit_id


def _add(p, v=None):
    return AddPartitionVersion(Partition.parse(p), v or generate_version())


def _full_fold(root):
    """Ground truth: a checkpoint-free tracker over the same directory."""
    return FileBackedVersionTracker(root, checkpoint_interval=None).current_version(T)


def _build_log(root, n_commits=25, interval=10):
    tr = FileBackedVersionTracker(root, checkpoint_interval=interval)
    tr.init_table(T, is_snapshot=False, user_id="alice")
    commits = []
    for i in range(n_commits):
        p = f"date=2024-01-{(i % 7) + 1:02d}"
        if i % 9 == 8:
            commits.append(_commit(tr, RemovePartition(Partition.parse(p))))
        else:
            commits.append(_commit(tr, _add(p)))
    return tr, commits


def _ckpt_files(tr):
    d = tr._table_dir(T)
    return sorted(n for n in tr.fs.list_dir(d) if n.startswith("checkpoint_"))


def test_checkpoint_written_every_interval(tmp_path):
    tr, _ = _build_log(str(tmp_path / "log"), n_commits=25, interval=10)
    # init + 25 commits = 26 files → checkpoints at 10 and 20 commits seen
    assert len(_ckpt_files(tr)) == 2
    d = tr._table_dir(T)
    ptr = json.loads(tr.fs.read_text(tr.fs.join(d, "_last_checkpoint")))
    assert f"checkpoint_{ptr['seq']:013d}.json" == _ckpt_files(tr)[-1]


def test_fast_path_matches_full_fold(tmp_path):
    root = str(tmp_path / "log")
    tr, _ = _build_log(root, n_commits=25, interval=10)
    assert tr.current_version(T).partition_versions == _full_fold(
        root
    ).partition_versions


def test_resolution_reads_only_tail(tmp_path):
    root = str(tmp_path / "log")
    _build_log(root, n_commits=25, interval=10)
    # cold tracker instance: no in-process state, everything from disk
    cold = FileBackedVersionTracker(root, checkpoint_interval=10)
    cfs = CountingFs(cold.fs)
    cold.fs = cfs
    cold.current_version(T)
    update_reads = [p for p in cfs.reads if "table_update_" in p]
    ckpt_reads = [p for p in cfs.reads if "checkpoint_" in p]
    assert len(ckpt_reads) == 1
    d = cold._table_dir(T)
    ckpt_seq = json.loads(cold.fs.read_text(cold.fs.join(d, "_last_checkpoint")))[
        "seq"
    ]
    # ONLY commits after the checkpoint seq were read: 26 files total,
    # checkpoint covers the first 20, tail = 6
    assert update_reads, "expected some tail reads"
    for p in update_reads:
        seq = int(p.rsplit("table_update_", 1)[1].split(".")[0])
        assert seq > ckpt_seq, f"read a pre-checkpoint commit file: {p}"
    assert len(update_reads) == 26 - 20


def test_rollback_before_checkpoint_falls_back(tmp_path):
    root = str(tmp_path / "log")
    tr, commits = _build_log(root, n_commits=25, interval=10)
    early = commits[3]  # inside the checkpointed prefix
    tr.set_current_version(T, early)
    got = tr.current_version(T)
    want = FileBackedVersionTracker(root, checkpoint_interval=None)
    want._set_head(T, early)  # same head on the ground-truth instance
    assert got.partition_versions == want.current_version(T).partition_versions


def test_write_after_rollback_resurfaces_commits(tmp_path):
    # reference semantics: a write after checkout re-advances the head past
    # the rolled-back commits, so they fold back into view
    # (DatePartitionedTableSpec.scala:129-151 behaviour)
    root = str(tmp_path / "log")
    tr, commits = _build_log(root, n_commits=25, interval=10)
    tr.set_current_version(T, commits[3])
    _commit(tr, _add("date=2024-02-01"))
    assert tr.current_version(T).partition_versions == _full_fold(
        root
    ).partition_versions


def test_corrupt_pointer_degrades_to_full_fold(tmp_path):
    root = str(tmp_path / "log")
    tr, _ = _build_log(root, n_commits=25, interval=10)
    d = tr._table_dir(T)
    want = _full_fold(root).partition_versions
    tr.fs.write_text(tr.fs.join(d, "_last_checkpoint"), "not json{")
    assert tr.current_version(T).partition_versions == want
    tr.fs.write_text(tr.fs.join(d, "_last_checkpoint"), json.dumps({"seq": 999}))
    assert tr.current_version(T).partition_versions == want


def test_snapshot_table_checkpoint(tmp_path):
    root = str(tmp_path / "log")
    tr = FileBackedVersionTracker(root, checkpoint_interval=5)
    tr.init_table(T, is_snapshot=True, user_id="alice")
    versions, commits = [], []
    for _ in range(12):
        v = generate_version()
        versions.append(v)
        commits.append(_commit(tr, AddTableVersion(v)))
    assert _ckpt_files(tr)
    got = tr.current_version(T)
    assert isinstance(got, SnapshotTableVersion)
    assert got.version == versions[-1]
    # rollback into the checkpointed prefix
    tr.set_current_version(T, commits[2])
    assert tr.current_version(T).version == versions[2]


def test_memory_fs_checkpoints(tmp_path):
    tr = FileBackedVersionTracker(
        f"memory://ckpt-{tmp_path.name}/log", checkpoint_interval=4
    )
    tr.init_table(T, is_snapshot=False, user_id="alice")
    for i in range(9):
        _commit(tr, _add(f"date=2024-01-{i + 1:02d}"))
    assert _ckpt_files(tr)
    assert len(tr.current_version(T).partition_versions) == 9


def test_disabled_interval_writes_no_checkpoints(tmp_path):
    root = str(tmp_path / "log")
    tr = FileBackedVersionTracker(root, checkpoint_interval=None)
    tr.init_table(T, is_snapshot=False, user_id="alice")
    for i in range(30):
        _commit(tr, _add(f"date=2024-01-{i + 1:02d}"))
    assert _ckpt_files(tr) == []


def test_interval_validation(tmp_path):
    with pytest.raises(ValueError):
        FileBackedVersionTracker(str(tmp_path / "log"), checkpoint_interval=0)


def test_tombstone_across_checkpoint_boundary(tmp_path):
    # a partition added BEFORE the checkpoint and removed AFTER it must be
    # absent; re-added after that, present with the fresh version
    root = str(tmp_path / "log")
    tr = FileBackedVersionTracker(root, checkpoint_interval=5)
    tr.init_table(T, is_snapshot=False, user_id="alice")
    p = Partition.parse("date=2024-01-01")
    _commit(tr, _add("date=2024-01-01"))
    for i in range(5):  # push a checkpoint past the add
        _commit(tr, _add(f"date=2024-02-{i + 1:02d}"))
    assert _ckpt_files(tr)
    _commit(tr, RemovePartition(p))
    assert p not in tr.current_version(T).partition_versions
    fresh = generate_version()
    _commit(tr, _add("date=2024-01-01", fresh))
    assert tr.current_version(T).partition_versions[p] == fresh
    assert tr.current_version(T).partition_versions == _full_fold(
        root
    ).partition_versions


def test_version_at_fast_path_reads_only_tail(tmp_path):
    root = str(tmp_path / "log")
    _, commits = _build_log(root, n_commits=25, interval=10)
    cold = FileBackedVersionTracker(root, checkpoint_interval=10)
    cfs = CountingFs(cold.fs)
    cold.fs = cfs
    target = commits[-2]  # in the tail (after the seq-20 checkpoint)
    got = cold.version_at(T, target)
    ckpt_seq = 20  # init + 25 commits; checkpoints at 10 and 20 files... read pointer
    d = cold._table_dir(T)
    import json as _json

    ckpt_seq = _json.loads(cold.fs.read_text(cold.fs.join(d, "_last_checkpoint")))[
        "seq"
    ]
    for p in (p for p in cfs.reads if "table_update_" in p):
        seq = int(p.rsplit("table_update_", 1)[1].split(".")[0])
        assert seq > ckpt_seq, f"read a pre-checkpoint commit file: {p}"
    # differential: equals the checkpoint-free fold at the same commit
    want = FileBackedVersionTracker(root, checkpoint_interval=None).version_at(
        T, target
    )
    assert got.partition_versions == want.partition_versions


def test_version_at_deep_history_falls_back(tmp_path):
    root = str(tmp_path / "log")
    _, commits = _build_log(root, n_commits=25, interval=10)
    tr = FileBackedVersionTracker(root, checkpoint_interval=10)
    got = tr.version_at(T, commits[2])
    want = FileBackedVersionTracker(root, checkpoint_interval=None).version_at(
        T, commits[2]
    )
    assert got.partition_versions == want.partition_versions


def test_version_at_unknown_commit_raises(tmp_path):
    from chronicles_spark.trackers import UnknownCommitError

    root = str(tmp_path / "log")
    tr, _ = _build_log(root, n_commits=25, interval=10)
    from chronicles_spark.trackers import UnknownCommitError as _UCE

    with pytest.raises(_UCE):
        tr.version_at(T, "no-such-commit")
    # and on the checkpoint-free path too
    with pytest.raises(UnknownCommitError):
        FileBackedVersionTracker(root, checkpoint_interval=None).version_at(
            T, "no-such-commit"
        )


# -- sqlite checkpoints (same contract as the files tracker's) --------------


def _sqlite_log(path, n_commits=25, interval=10):
    from chronicles_spark.trackers import SqliteVersionTracker

    tr = SqliteVersionTracker(path, checkpoint_interval=interval)
    tr.init_table(T, is_snapshot=False, user_id="alice")
    commits = []
    for i in range(n_commits):
        p = f"date=2024-01-{(i % 7) + 1:02d}"
        if i % 9 == 8:
            commits.append(_commit(tr, RemovePartition(Partition.parse(p))))
        else:
            commits.append(_commit(tr, _add(p)))
    return tr, commits


def test_sqlite_checkpoint_fast_path_matches_full_fold(tmp_path):
    from chronicles_spark.trackers import SqliteVersionTracker

    path = str(tmp_path / "log.db")
    tr, commits = _sqlite_log(path, n_commits=25, interval=10)
    # checkpoint row exists and summarizes a prefix
    row = tr._read_checkpoint_row(T.fully_qualified)
    assert row is not None and row[0] >= 10
    # fast path == checkpoint-free ground truth over the same db
    want = SqliteVersionTracker(path, checkpoint_interval=None).current_version(T)
    assert tr.current_version(T) == want
    # cold instance takes the fast path too
    cold = SqliteVersionTracker(path, checkpoint_interval=10)
    assert cold.current_version(T) == want


def test_sqlite_version_at_and_rollback_fall_back(tmp_path):
    from chronicles_spark.trackers import SqliteVersionTracker

    path = str(tmp_path / "log.db")
    tr, commits = _sqlite_log(path, n_commits=25, interval=10)
    truth = SqliteVersionTracker(path, checkpoint_interval=None)
    # time travel to every commit agrees with the full fold (deep commits
    # exercise the precedes-checkpoint fallback, late ones the fast path)
    for cid in commits[::4]:
        assert tr.version_at(T, cid) == truth.version_at(T, cid)
    # head rolled back BEFORE the checkpoint still resolves correctly
    tr.set_current_version(T, commits[2])
    assert tr.current_version(T) == truth.version_at(T, commits[2])
    from chronicles_spark.trackers import UnknownCommitError as _UCE

    with pytest.raises(_UCE):
        tr.version_at(T, "no-such-commit")


def test_sqlite_snapshot_checkpoint_and_group_commit(tmp_path):
    from chronicles_spark.core.ops import AddTableVersion
    from chronicles_spark.trackers import SqliteVersionTracker

    path = str(tmp_path / "log.db")
    tr = SqliteVersionTracker(path, checkpoint_interval=5)
    snap = TableName("db", "snap")
    tr.init_table(snap, is_snapshot=True, user_id="alice")
    versions = []
    for i in range(12):
        v = generate_version()
        versions.append(v)
        meta = TableUpdateMetadata.new("alice", f"s{i}")
        tr.commit(snap, TableUpdate(meta, (AddTableVersion(v),)))
    assert tr._read_checkpoint_row(snap.fully_qualified) is not None
    assert tr.current_version(snap).version == versions[-1]
    truth = SqliteVersionTracker(path, checkpoint_interval=None)
    assert tr.current_version(snap) == truth.current_version(snap)


class ListCountingFs(CountingFs):
    """CountingFs that also counts directory LISTINGS — the per-commit
    cost the round-7 O(1) cadence fast path removes."""

    def __init__(self, inner):
        super().__init__(inner)
        self.listings = 0

    def list_dir(self, path):
        self.listings += 1
        return self.inner.list_dir(path)


def test_commit_does_not_list_per_commit(tmp_path):
    """Bulk loads must not pay a full directory LISTING per commit: the
    exact checkpoint check (which lists) runs once per interval via the
    instance-local pending counter, so N commits cost O(N/interval)
    listings — not O(N) (which made bulk loads O(N²) in dirents before
    round 7).  Cadence is unchanged: checkpoints still cut and the
    fast-path fold still agrees with the full fold."""
    from chronicles_spark.trackers.fs import LocalFileSystem

    fs = ListCountingFs(LocalFileSystem())
    tr = FileBackedVersionTracker(str(tmp_path), fs=fs, checkpoint_interval=50)
    tr.init_table(T, is_snapshot=False, user_id="alice")
    fs.listings = 0
    for i in range(300):
        _commit(tr, _add(f"date=2024-01-{(i % 7) + 1:02d}"))
    # 300 commits / interval 50 → ~6 exact checks (each may list a couple
    # of times); anywhere near 300 means the fast path regressed
    assert fs.listings < 40, f"{fs.listings} listings for 300 commits"
    assert len(_ckpt_files(tr)) >= 5  # cadence preserved
    assert tr.current_version(T) == _full_fold(str(tmp_path))

    # a FRESH instance (cold counter) keeps committing and checkpointing
    tr2 = FileBackedVersionTracker(str(tmp_path), fs=fs, checkpoint_interval=50)
    before = len(_ckpt_files(tr))
    for i in range(60):
        meta = TableUpdateMetadata.new("bob", "x")
        tr2.commit(T, TableUpdate(meta, (_add(f"date=2024-02-{(i % 7) + 1:02d}"),)))
    assert len(_ckpt_files(tr2)) > before
    assert tr2.current_version(T) == _full_fold(str(tmp_path))


def test_fresh_instance_commit_never_overwrites_a_slot(tmp_path):
    """A burst of >1 commit/ms runs the per-instance monotonic clock
    ahead of wall time; a FRESH tracker's next commit then lands on an
    already-claimed sequence slot.  Before round 7 the plain (no-lock)
    path write_text'd over it — silently destroying the committed update
    it replaced.  The conditional-create + bump fix must keep EVERY
    commit: file count grows by exactly one and all prior commit ids
    stay readable."""
    import os as _os

    tr = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    tr.init_table(T, is_snapshot=False, user_id="a")
    ids = [_commit(tr, _add(f"date=2024-01-{(i % 7) + 1:02d}")) for i in range(300)]
    d = tr._table_dir(T)

    def n_files():
        return sum(1 for n in _os.listdir(d) if n.startswith("table_update"))

    before = n_files()
    tr2 = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    meta = TableUpdateMetadata.new("b", "fresh")
    tr2.commit(T, TableUpdate(meta, (_add("date=2024-02-01"),)))
    assert n_files() == before + 1  # landed as a NEW file, no overwrite
    got = [u.metadata.commit_id for u in tr2.table_state(T).updates]
    assert meta.commit_id in got
    for cid in ids:
        assert cid in got  # nothing was destroyed


# -- locate, then fold: read counts of checkout and time travel -------------


def _commit_reads(cfs):
    return [p for p in cfs.reads if "table_update_" in p]


def _checkpoint_reads(cfs):
    return [p for p in cfs.reads if "checkpoint_" in p]


def _counted(root, interval=10):
    tr = FileBackedVersionTracker(root, checkpoint_interval=interval)
    cfs = CountingFs(tr.fs)
    tr.fs = cfs
    return tr, cfs


def test_checkout_reads_o_distance_from_head(tmp_path):
    """Moving the head k commits back proves the target exists by the
    one-pass checkout (a newest-first id scan, then the fold): at most
    k+1 commit files and the one checkpoint body the fold starts from,
    not the whole 250-commit log."""
    root = str(tmp_path / "log")
    _, commits = _build_log(root, n_commits=250, interval=10)
    for k in (0, 7, 23):
        tr, cfs = _counted(root)
        tr.set_current_version(T, commits[-1 - k])
        assert len(_commit_reads(cfs)) <= k + 1, (k, len(_commit_reads(cfs)))
        assert len(_checkpoint_reads(cfs)) == 1, _checkpoint_reads(cfs)
        assert tr.head_commit_id(T) == commits[-1 - k]


def test_deep_version_at_reads_one_checkpoint_and_each_commit_once(tmp_path):
    """Time travel several checkpoint segments deep reads exactly one
    checkpoint body (the newest one at or below the target) and no commit
    file twice; the answer equals the checkpoint-free fold."""
    root = str(tmp_path / "log")
    _, commits = _build_log(root, n_commits=250, interval=10)
    truth = FileBackedVersionTracker(root, checkpoint_interval=None)
    for target in (commits[-75], commits[-131], commits[-44]):
        tr, cfs = _counted(root)
        assert tr.version_at(T, target) == truth.version_at(T, target)
        assert len(_checkpoint_reads(cfs)) == 1, _checkpoint_reads(cfs)
        reads = _commit_reads(cfs)
        assert len(reads) == len(set(reads)), "a commit file was read twice"


def test_checkout_back_to_head_after_deep_checkout_reads_o_tail(tmp_path):
    """After a deep checkout, checking out the newest commit again and
    resolving it reads O(checkpoint_interval) commit files and one
    checkpoint body per fold (the checkout's and the resolve's)."""
    root = str(tmp_path / "log")
    _, commits = _build_log(root, n_commits=250, interval=10)
    tr, cfs = _counted(root)
    tr.set_current_version(T, commits[-120])
    deep = tr.current_version(T)
    truth = FileBackedVersionTracker(root, checkpoint_interval=None)
    assert deep == truth.version_at(T, commits[-120])
    cfs.reads.clear()
    tr.set_current_version(T, commits[-1])
    head = tr.current_version(T)
    assert head == truth.version_at(T, commits[-1])
    reads = _commit_reads(cfs)
    assert len(reads) <= 2 * 10 + 2, len(reads)
    assert len(_checkpoint_reads(cfs)) == 2


def test_locate_then_fold_differential_every_commit(tmp_path):
    """Differential: on a seeded 120-commit log with removals, a rollback,
    a write that re-surfaces the rolled-back commits, equal and
    out-of-order timestamps, the checkpointed tracker answers every
    version_at, checkout + current_version and commit_at_timestamp
    exactly like a checkpoint-free tracker on the same directory — also
    after archive_commits packed the log's prefix."""
    import random
    from datetime import datetime, timedelta, timezone

    from chronicles_spark.trackers import UnknownCommitError

    rng = random.Random(7)
    root = str(tmp_path / "log")
    fast = FileBackedVersionTracker(root, checkpoint_interval=10)
    truth = FileBackedVersionTracker(root, checkpoint_interval=None)
    base = datetime(2024, 3, 1, tzinfo=timezone.utc)
    fast.init_table(T, is_snapshot=False, user_id="u", timestamp=base)
    ms = 0
    for i in range(120):
        ms += rng.choice((0, 1, 2, 5, 10))  # equal timestamps included
        ts = base + timedelta(milliseconds=ms + 1)
        if i == 90:
            ts -= timedelta(milliseconds=30)  # a lagging writer clock
        p = f"date=2024-01-{rng.randrange(1, 13):02d}"
        op = (
            RemovePartition(Partition.parse(p))
            if rng.random() < 0.15 else _add(p)
        )
        fast.commit(T, TableUpdate(TableUpdateMetadata.new("u", f"c{i}", ts), (op,)))
        if i == 70:  # roll back; the next write re-surfaces 41..70
            fast.set_current_version(
                T, truth.table_state(T).updates[41].metadata.commit_id
            )
    updates = truth.table_state(T).updates
    head = fast.head_commit_id(T)

    def check(u):
        cid = u.metadata.commit_id
        assert fast.version_at(T, cid) == truth.version_at(T, cid), cid
        fast.set_current_version(T, cid)
        got = fast.current_version(T)
        truth.set_current_version(T, cid)
        assert got == truth.current_version(T), cid
        for delta in (-1, 0, 1):
            at = u.metadata.timestamp + timedelta(milliseconds=delta)
            try:
                want = truth.commit_at_timestamp(T, at)
            except UnknownCommitError:
                with pytest.raises(UnknownCommitError):
                    fast.commit_at_timestamp(T, at)
            else:
                assert fast.commit_at_timestamp(T, at) == want, (cid, delta)

    for u in updates:
        check(u)
    before_genesis = base - timedelta(milliseconds=1)
    for tr in (fast, truth):
        with pytest.raises(UnknownCommitError):
            tr.commit_at_timestamp(T, before_genesis)
        with pytest.raises(UnknownCommitError):
            tr.version_at(T, "no-such-commit")
        with pytest.raises(UnknownCommitError):
            tr.set_current_version(T, "no-such-commit")

    fast.set_current_version(T, head)
    out = fast.archive_commits(T, retain_checkpoints=2)
    assert out["archived"] > 0
    for u in updates[:3] + updates[out["archived"] - 2:out["archived"] + 2] + updates[-3:]:
        check(u)
    with pytest.raises(UnknownCommitError):
        fast.set_current_version(T, "no-such-commit")
    with pytest.raises(UnknownCommitError):
        fast.commit_at_timestamp(T, before_genesis)


# -- one-pass checkout and metadata-only history ----------------------------


def test_metastore_checkout_lists_once_and_reads_each_commit_once(tmp_path):
    """A VersionedMetastore checkout k commits behind the newest lists the
    log directory once and reads no commit file twice: the tracker proves
    the target exists and folds it in the same newest-first pass."""
    from chronicles_spark.core.model import PartitionSchema, TableDefinition
    from chronicles_spark.spark.metastore import InMemoryMetastore
    from chronicles_spark.versioned_metastore import VersionedMetastore

    root = str(tmp_path / "log")
    _, commits = _build_log(root, n_commits=250, interval=10)
    table = TableDefinition(T, str(tmp_path / "data"), PartitionSchema(("date",)))
    truth = FileBackedVersionTracker(root, checkpoint_interval=None)
    for k in (0, 7, 23):
        tr, cfs = _counted(root)
        ms = InMemoryMetastore()
        ms.create_table(table)
        desired, _ = VersionedMetastore(tr, ms).checkout(table, commits[-1 - k])
        reads = _commit_reads(cfs)
        assert len(reads) == len(set(reads)), (k, len(reads), len(set(reads)))
        assert len(cfs.lists) == 1, (k, cfs.lists)
        assert desired == truth.version_at(T, commits[-1 - k])
        assert ms.current_version(table) == desired
        assert tr.head_commit_id(T) == commits[-1 - k]
    # below the oldest checkpoint the one-pass path cannot answer: the
    # full fold checks the id and folds the whole log once, after the
    # failed scan (2 listings, each file read <= 2 times)
    from collections import Counter

    tr, cfs = _counted(root)
    ms = InMemoryMetastore()
    ms.create_table(table)
    desired, _ = VersionedMetastore(tr, ms).checkout(table, commits[3])
    assert desired == truth.version_at(T, commits[3])
    assert len(cfs.lists) <= 2, cfs.lists
    assert max(Counter(_commit_reads(cfs)).values()) <= 2
    assert tr.head_commit_id(T) == commits[3]


def test_checkout_and_updates_differential(tmp_path):
    """Differential: on a seeded log with removals, a rollback, commits
    re-surfaced by a later write and equal timestamps, the files
    tracker's metadata-only ``updates()`` equals the metadata of its full
    ``table_state`` (newest first), and its one-pass ``_checkout``
    returns the version and leaves the head that ``set_current_version``
    + ``current_version`` give on a checkpoint-free tracker — also after
    ``archive_commits``, with a crash-leftover live copy of an archived
    commit, and an unknown id still raises UnknownCommitError."""
    import random
    from datetime import datetime, timedelta, timezone

    from chronicles_spark.core.ops import update_to_json
    from chronicles_spark.trackers import UnknownCommitError

    rng = random.Random(11)
    root = str(tmp_path / "log")
    fast = FileBackedVersionTracker(root, checkpoint_interval=10)
    truth = FileBackedVersionTracker(root, checkpoint_interval=None)
    base = datetime(2024, 5, 1, tzinfo=timezone.utc)
    fast.init_table(T, is_snapshot=False, user_id="u", timestamp=base)
    ms = 0
    for i in range(90):
        ms += rng.choice((0, 0, 1, 3))  # many equal timestamps
        p = f"date=2024-02-{rng.randrange(1, 10):02d}"
        op = (
            RemovePartition(Partition.parse(p))
            if rng.random() < 0.2 else _add(p)
        )
        meta = TableUpdateMetadata.new(
            "u", f"c{i}", base + timedelta(milliseconds=ms + 1)
        )
        fast.commit(T, TableUpdate(meta, (op,)))
        if i == 60:  # roll back; the next write re-surfaces 31..60
            fast.set_current_version(
                T, truth.table_state(T).updates[31].metadata.commit_id
            )
    updates = truth.table_state(T).updates
    head = fast.head_commit_id(T)

    def check_updates():
        want = [u.metadata for u in reversed(truth.table_state(T).updates)]
        assert fast.updates(T) == want
        assert truth.updates(T) == want

    def check_checkout(u):
        cid = u.metadata.commit_id
        got = fast._checkout(T, cid)
        got_head = fast.head_commit_id(T)
        truth.set_current_version(T, cid)
        assert got == truth.current_version(T), cid
        assert got_head == truth.head_commit_id(T) == cid
        assert fast.current_version(T) == got, cid

    def check_unknown():
        before = fast.head_commit_id(T)
        for tr in (fast, truth):
            with pytest.raises(UnknownCommitError):
                tr._checkout(T, "no-such-commit")
        assert fast.head_commit_id(T) == before

    check_updates()
    for u in updates:
        check_checkout(u)
    check_unknown()

    fast.set_current_version(T, head)
    out = fast.archive_commits(T, retain_checkpoints=2)
    n = out["archived"]
    assert n > 0
    check_updates()
    for u in updates[:3] + updates[n - 2:n + 2] + updates[-3:]:
        check_checkout(u)
    check_unknown()

    # a crash between an archive write and its live-file deletes leaves
    # identical live copies of archived commits: deduped, not doubled
    d = fast._table_dir(T)
    floor = fast._read_floor_seq(d)
    fast.fs.write_text(
        fast.fs.join(d, f"table_update_{floor:013d}.json"),
        update_to_json(updates[n - 1]),
    )
    check_updates()
    assert len(fast.updates(T)) == len(updates)
    for u in updates[n - 2:n + 1] + updates[-2:]:
        check_checkout(u)

    # a DIFFERENT commit in an archived slot fails the metadata read too
    forged = TableUpdate(TableUpdateMetadata.new("evil", "reclaimed"), ())
    fast.fs.write_text(
        fast.fs.join(d, f"table_update_{floor:013d}.json"),
        update_to_json(forged),
    )
    with pytest.raises(RuntimeError, match="DIFFERENT commits"):
        fast.updates(T)


# -- commit index per checkpoint cut -----------------------------------------


def _sidecar_reads(cfs):
    return [p for p in cfs.reads if p.rsplit("/", 1)[-1].startswith("commits_")]


def _sidecar_names(tr):
    d = tr._table_dir(T)
    return sorted(n for n in tr.fs.list_dir(d) if n.startswith("commits_"))


def _seeded_log(root, seed, n=90):
    """A seeded log for the commit-index differentials: removals, a
    rollback whose commits a later write re-surfaces, runs of equal
    timestamps, a lagging writer clock, and a free seq slot between any
    two commits (a 2 ms sleep after each) so a commit can be gap-filled
    into any segment."""
    import random
    import time
    from datetime import datetime, timedelta, timezone

    rng = random.Random(seed)
    fast = FileBackedVersionTracker(root, checkpoint_interval=10)
    truth = FileBackedVersionTracker(root, checkpoint_interval=None)
    base = datetime(2024, 6, 1, tzinfo=timezone.utc)
    fast.init_table(T, is_snapshot=False, user_id="u", timestamp=base)
    ms = 0
    for i in range(n):
        ms += rng.choice((0, 0, 1, 4))
        ts = base + timedelta(milliseconds=ms + 1)
        if i == 50:
            ts -= timedelta(milliseconds=20)  # a lagging writer clock
        p = f"date=2024-03-{rng.randrange(1, 11):02d}"
        op = RemovePartition(Partition.parse(p)) if rng.random() < 0.2 else _add(p)
        fast.commit(T, TableUpdate(TableUpdateMetadata.new("u", f"c{i}", ts), (op,)))
        if i == 60:  # roll back; the next write re-surfaces 31..60
            fast.set_current_version(
                T, truth.table_state(T).updates[31].metadata.commit_id
            )
        time.sleep(0.002)
    return fast, truth


def _gap_fill(tr):
    """Write one commit into a free seq slot inside the oldest indexed
    segment (as a CAS writer with a lagging clock can); returns it."""
    from datetime import datetime, timezone

    from chronicles_spark.core.ops import update_to_json

    d = tr._table_dir(T)
    live, _, _, sides = tr._scan_cuts(d)
    seqs = {s for s, _ in live}
    cut = sides[1]
    slot = next(s for s in range(cut - 1, sides[0], -1) if s not in seqs)
    u = TableUpdate(
        TableUpdateMetadata(
            "gap-filled", "late", "gap", datetime(2024, 6, 1, tzinfo=timezone.utc)
        ),
        (_add("date=2024-03-04"),),
    )
    tr.fs.write_text(tr.fs.join(d, f"table_update_{slot:013d}.json"), update_to_json(u))
    return u


def _check_against_truth(fast, truth, commits):
    """version_at, _checkout, commit_at_timestamp (at, just before and
    just after each commit's timestamp) and updates() of the checkpointed
    tracker equal those of a checkpoint-free tracker on the same log."""
    from datetime import timedelta

    from chronicles_spark.trackers import UnknownCommitError

    head = fast.head_commit_id(T)
    want = [u.metadata for u in reversed(truth.table_state(T).updates)]
    assert fast.updates(T) == want
    for u in commits:
        cid = u.metadata.commit_id
        assert fast.version_at(T, cid) == truth.version_at(T, cid), cid
        got = fast._checkout(T, cid)
        truth.set_current_version(T, cid)
        assert got == truth.current_version(T), cid
        assert fast.head_commit_id(T) == cid
        for delta in (-1, 0, 1):
            at = u.metadata.timestamp + timedelta(milliseconds=delta)
            try:
                expect = truth.commit_at_timestamp(T, at)
            except UnknownCommitError:
                with pytest.raises(UnknownCommitError):
                    fast.commit_at_timestamp(T, at)
            else:
                assert fast.commit_at_timestamp(T, at) == expect, (cid, delta)
    fast._set_head(T, head)
    with pytest.raises(UnknownCommitError):
        fast.version_at(T, "no-such-commit")
    with pytest.raises(UnknownCommitError):
        fast._checkout(T, "no-such-commit")
    assert fast.head_commit_id(T) == head


@pytest.mark.parametrize(
    "case", ["valid", "gap_filled", "missing_and_corrupt", "no_sidecars"]
)
def test_commit_index_differential_every_commit(tmp_path, case):
    """Differential over the commit-index cases: every version_at,
    checkout, timestamp lookup and updates() of the checkpointed tracker
    equals the checkpoint-free fold — with valid indexes, with a stale
    one (a commit gap-filled into its segment), with a deleted one and
    corrupt ones (unparseable, a malformed record, a bad ``lo``), and on
    a log that has no index at all (written before indexes existed)."""
    root = str(tmp_path / "log")
    fast, truth = _seeded_log(root, seed=23)
    d = fast._table_dir(T)
    names = _sidecar_names(fast)
    assert len(names) >= 8
    if case == "gap_filled":
        _gap_fill(fast)
    elif case == "missing_and_corrupt":
        fast.fs.remove_file(fast.fs.join(d, names[-2]))
        fast.fs.write_text(fast.fs.join(d, names[-3]), '{"lo": 1, "commits": [')
        doc = json.loads(fast.fs.read_text(fast.fs.join(d, names[-4])))
        doc["commits"][3] = doc["commits"][3][:4]
        fast.fs.write_text(fast.fs.join(d, names[-4]), json.dumps(doc))
        doc = json.loads(fast.fs.read_text(fast.fs.join(d, names[-5])))
        doc["lo"] = "0"
        fast.fs.write_text(fast.fs.join(d, names[-5]), json.dumps(doc))
    elif case == "no_sidecars":
        for n in names:
            fast.fs.remove_file(fast.fs.join(d, n))
    _check_against_truth(fast, truth, truth.table_state(T).updates)


def test_commit_index_differential_after_archival(tmp_path):
    """After archive_commits packs the log's prefix, the indexes at or
    below the cut are gone and the header walk still answers like the
    checkpoint-free fold (which reads the archive) — also with a commit
    gap-filled into a live indexed segment."""
    root = str(tmp_path / "log")
    fast, truth = _seeded_log(root, seed=29, n=120)
    head = fast.head_commit_id(T)
    out = fast.archive_commits(T, retain_checkpoints=3)
    n = out["archived"]
    assert n > 0 and out["pruned_sidecars"] > 0
    d = fast._table_dir(T)
    assert all(
        int(x[len("commits_"):-len(".json")]) > out["through_seq"]
        for x in _sidecar_names(fast)
    )
    fast._set_head(T, head)
    updates = truth.table_state(T).updates
    sample = updates[:3] + updates[n - 2:n + 2] + updates[-40:]
    _check_against_truth(fast, truth, sample)
    assert len(fast._scan_cuts(d)[3]) >= 2
    _gap_fill(fast)
    updates = truth.table_state(T).updates
    _check_against_truth(fast, truth, updates[:2] + updates[n - 1:])


def test_commit_index_matches_commit_files(tmp_path):
    """Each index record is its commit file's own metadata: the
    TableUpdateMetadata built from it equals the file's, its segment is
    exactly the live commits in (lo, cut], and the JSON is compact."""
    from chronicles_spark.core.ops import metadata_from_dict
    from chronicles_spark.trackers.files import _header_metadata

    root = str(tmp_path / "log")
    tr, _ = _build_log(root, n_commits=45, interval=10)
    d = tr._table_dir(T)
    live, _, cks, sides = tr._scan_cuts(d)
    assert sides == cks and len(sides) == 4
    seqs = [s for s, _ in live]
    names = dict(live)
    for c in sides:
        text = tr.fs.read_text(tr.fs.join(d, f"commits_{c:013d}.json"))
        assert ", " not in text and ": " not in text
        doc = json.loads(text)
        assert [r[0] for r in doc["commits"]] == [
            s for s in seqs if doc["lo"] < s <= c
        ]
        for rec in doc["commits"]:
            file_doc = json.loads(tr.fs.read_text(tr.fs.join(d, names[rec[0]])))
            assert _header_metadata(rec) == metadata_from_dict(file_doc)


def test_reads_never_write_a_commit_index(tmp_path):
    """A log with no indexes stays without them: reads (time travel,
    timestamp lookup, history, resolution) never write a file."""
    root = str(tmp_path / "log")
    fast, _ = _seeded_log(root, seed=31, n=40)
    d = fast._table_dir(T)
    for n in _sidecar_names(fast):
        fast.fs.remove_file(fast.fs.join(d, n))
    writes = []
    for name in ("write_text", "write_text_if_absent", "write_text_if_match"):
        real = getattr(fast.fs, name)
        setattr(
            fast.fs, name,
            lambda path, *a, _real=real: (writes.append(path), _real(path, *a))[1],
        )
    for u in fast.updates(T):
        fast.version_at(T, u.commit_id)
        fast.commit_at_timestamp(T, u.timestamp)
    fast.current_version(T)
    assert writes == [] and _sidecar_names(fast) == []


def test_deep_reads_cost_cuts_plus_interval(tmp_path):
    """Read-count pins, commit indexes counted on their own: updates()
    reads the tail above the newest cut and each index once, and a deep
    version_at or timestamp lookup reads at most (cuts + interval + 3)
    files beyond the tail, each at most once — not every commit newer
    than its target."""
    from datetime import timedelta

    root = str(tmp_path / "log")
    _, commits = _build_log(root, n_commits=250, interval=10)
    tr, cfs = _counted(root)
    d = tr._table_dir(T)
    live, _, cks, sides = tr._scan_cuts(d)
    cuts = len(sides)
    tail = sum(1 for s, _ in live if s > sides[-1])
    assert cuts >= 20

    history = tr.updates(T)
    assert len(history) == 251
    assert len(_sidecar_reads(cfs)) == cuts
    assert len(set(_sidecar_reads(cfs))) == cuts
    assert len(_commit_reads(cfs)) == tail
    assert len(cfs.reads) <= cuts + 10 + 3

    for target in (commits[5], commits[40], commits[131], commits[-60]):
        cfs.reads.clear()
        tr.version_at(T, target)
        reads = [p for p in cfs.reads if "table_update_" in p or "commits_" in p]
        assert len(reads) == len(set(reads)), "a file was read twice"
        assert len(_sidecar_reads(cfs)) <= cuts
        assert len(cfs.reads) <= cuts + 10 + 3 + tail, len(cfs.reads)
        cfs.reads.clear()
        ts = next(m.timestamp for m in history if m.commit_id == target)
        tr.commit_at_timestamp(T, ts + timedelta(microseconds=1))
        assert len(cfs.reads) <= cuts + tail, len(cfs.reads)


def test_genesis_segment_fold_lists_once_reads_each_commit_once(tmp_path):
    """Time travel and a metastore checkout to a commit below the oldest
    checkpoint of a log with no archive fold from the empty state over
    the live files up to it: one listing, no commit file read twice, no
    checkpoint body, and the checkpoint-free answer."""
    from chronicles_spark.core.model import PartitionSchema, TableDefinition
    from chronicles_spark.spark.metastore import InMemoryMetastore
    from chronicles_spark.versioned_metastore import VersionedMetastore

    root = str(tmp_path / "log")
    _, commits = _build_log(root, n_commits=250, interval=10)
    truth = FileBackedVersionTracker(root, checkpoint_interval=None)
    table = TableDefinition(T, str(tmp_path / "data"), PartitionSchema(("date",)))
    for k in (1, 5):
        want = truth.version_at(T, commits[k])
        tr, cfs = _counted(root)
        assert tr.version_at(T, commits[k]) == want
        reads = _commit_reads(cfs)
        assert len(cfs.lists) == 1, cfs.lists
        assert len(reads) == len(set(reads)), k
        assert _checkpoint_reads(cfs) == []

        tr, cfs = _counted(root)
        ms = InMemoryMetastore()
        ms.create_table(table)
        desired, _ = VersionedMetastore(tr, ms).checkout(table, commits[k])
        reads = _commit_reads(cfs)
        assert desired == want and ms.current_version(table) == want
        assert len(cfs.lists) == 1, cfs.lists
        assert len(reads) == len(set(reads)), k
        assert tr.head_commit_id(T) == commits[k]
