"""Shared black-box behaviour suite run against every tracker backend —
the reference's key test pattern (VersionTrackerSpec.scala:26-495,
instantiated for in-memory / H2 / filesystem backends)."""

import random
from datetime import datetime, timezone

import pytest

from chronicles_spark.core.model import Partition, PartitionedTableVersion, SnapshotTableVersion, TableName
from chronicles_spark.core.ops import (
    AddPartitionVersion,
    AddTableVersion,
    RemovePartition,
    TableUpdate,
    TableUpdateMetadata,
)
from chronicles_spark.core.version import Version, generate_version
from chronicles_spark.trackers import (
    FileBackedVersionTracker,
    InMemoryVersionTracker,
    SqliteVersionTracker,
    UnknownCommitError,
    UnknownTableError,
)

T = TableName("db", "events")


@pytest.fixture(params=["memory", "files", "files-memfs", "files-cas", "sqlite"])
def tracker(request, tmp_path):
    if request.param == "memory":
        return InMemoryVersionTracker()
    if request.param == "files":
        return FileBackedVersionTracker(str(tmp_path / "log"))
    if request.param == "files-memfs":
        # same tracker through the FS facade on a memory:// URL — proves the
        # commit log is storage-agnostic (PureFileSystem.scala:13-52 parity)
        return FileBackedVersionTracker(f"memory://t-{tmp_path.name}/log")
    if request.param == "files-cas":
        # the conditional-put commit protocol must preserve every tracker
        # behaviour (it only changes HOW files/pointers are published)
        return FileBackedVersionTracker(str(tmp_path / "log"), use_cas=True)
    return SqliteVersionTracker(str(tmp_path / "log.db"))


def _commit(tracker, *ops, msg="update"):
    meta = TableUpdateMetadata.new("alice", msg)
    tracker.commit(T, TableUpdate(meta, tuple(ops)))
    return meta.commit_id


def test_init_idempotent(tracker):
    # VersionTrackerSpec.scala:57-77
    tracker.init_table(T, is_snapshot=False, user_id="alice")
    state1 = tracker.table_state(T)
    tracker.init_table(T, is_snapshot=False, user_id="bob")
    state2 = tracker.table_state(T)
    assert [u.metadata.commit_id for u in state1.updates] == [
        u.metadata.commit_id for u in state2.updates
    ]
    assert tracker.tables() == [T]


def test_unknown_table_errors(tracker):
    with pytest.raises(UnknownTableError):
        tracker.table_state(T)
    with pytest.raises(UnknownTableError):
        tracker.commit(T, TableUpdate(TableUpdateMetadata.new("a", "m"), ()))


def test_partition_add_update_remove_fold(tracker):
    tracker.init_table(T, is_snapshot=False, user_id="alice")
    p1, p2 = Partition.parse("date=2019-01-01"), Partition.parse("date=2019-01-02")
    v1, v2, v3 = generate_version(), generate_version(), generate_version()
    _commit(tracker, AddPartitionVersion(p1, v1), AddPartitionVersion(p2, v1))
    _commit(tracker, AddPartitionVersion(p1, v2))
    cv = tracker.current_version(T)
    assert cv == PartitionedTableVersion({p1: v2, p2: v1})
    _commit(tracker, RemovePartition(p2))
    assert tracker.current_version(T) == PartitionedTableVersion({p1: v2})
    # re-add with fresh version (VersionTrackerSpec.scala:184-190)
    _commit(tracker, AddPartitionVersion(p2, v3))
    assert tracker.current_version(T) == PartitionedTableVersion({p1: v2, p2: v3})


def test_snapshot_versions(tracker):
    tracker.init_table(T, is_snapshot=True, user_id="alice")
    assert tracker.is_snapshot_table(T)
    v1, v2 = generate_version(), generate_version()
    _commit(tracker, AddTableVersion(v1))
    _commit(tracker, AddTableVersion(v2))
    assert tracker.current_version(T) == SnapshotTableVersion(v2)


def test_log_ordering_many_commits(tracker):
    # VersionTrackerSpec.scala:408-435 — 100 commits, strict log order
    tracker.init_table(T, is_snapshot=False, user_id="alice")
    ids = []
    rng = random.Random(42)
    for i in rng.sample(range(100), 100):
        p = Partition.parse(f"date=2019-01-{(i % 28) + 1:02d}")
        ids.append(_commit(tracker, AddPartitionVersion(p, generate_version()), msg=f"c{i}"))
    history = tracker.updates(T)
    # most recent first, init last
    assert [m.commit_id for m in history[:-1]] == list(reversed(ids))


def test_time_travel_every_commit(tracker):
    # VersionTrackerSpec: setCurrentVersion to every historical point
    tracker.init_table(T, is_snapshot=False, user_id="alice")
    p = Partition.parse("date=2019-01-01")
    versions = [generate_version() for _ in range(5)]
    commit_ids = [_commit(tracker, AddPartitionVersion(p, v)) for v in versions]
    init_id = tracker.table_state(T).updates[0].metadata.commit_id

    for cid, expect in zip(commit_ids, versions):
        tracker.set_current_version(T, cid)
        assert tracker.current_version(T) == PartitionedTableVersion({p: expect})
        assert tracker.table_state(T).current_version == cid
    # rollback to empty init state
    tracker.set_current_version(T, init_id)
    assert tracker.current_version(T) == PartitionedTableVersion({})
    # roll forward to latest
    tracker.set_current_version(T, commit_ids[-1])
    assert tracker.current_version(T) == PartitionedTableVersion({p: versions[-1]})


def test_set_current_version_unknown_commit(tracker):
    tracker.init_table(T, is_snapshot=False, user_id="alice")
    with pytest.raises(UnknownCommitError):
        tracker.set_current_version(T, "no-such-commit")
    with pytest.raises(UnknownTableError):
        tracker.set_current_version(TableName("x", "y"), "whatever")


def test_head_not_at_latest_hides_later_commits(tracker):
    tracker.init_table(T, is_snapshot=False, user_id="alice")
    p = Partition.parse("date=2019-01-01")
    v1, v2 = generate_version(), generate_version()
    c1 = _commit(tracker, AddPartitionVersion(p, v1))
    _commit(tracker, AddPartitionVersion(p, v2))
    tracker.set_current_version(T, c1)
    assert tracker.current_version(T) == PartitionedTableVersion({p: v1})


def test_json_roundtrip_files(tmp_path):
    # codec round-trips (JsonCodecsSpec) via a real file tracker reload
    tr = FileBackedVersionTracker(str(tmp_path / "log"))
    tr.init_table(T, is_snapshot=False, user_id="alice")
    p = Partition.parse("year=2019/month=01")
    v = generate_version()
    meta = TableUpdateMetadata.new("bob", "add jan")
    tr.commit(T, TableUpdate(meta, (AddPartitionVersion(p, v), RemovePartition(p))))
    # fresh instance re-reads from disk
    tr2 = FileBackedVersionTracker(str(tmp_path / "log"))
    state = tr2.table_state(T)
    assert state.updates[-1].operations[0] == AddPartitionVersion(p, v)
    assert state.updates[-1].operations[1] == RemovePartition(p)
    assert state.current_version == meta.commit_id
    assert tr2.tables() == [T]


# -- optimistic (expected_head) commits -------------------------------------
# Beyond reference parity (the reference documents last-writer-wins,
# FileBackedVersionTracker.scala:23-25); Delta/Iceberg-style conflict
# detection with partition-level auto-merge.


def _occ_commit(tracker, *ops, expected_head, allow_disjoint=True, msg="occ"):
    meta = TableUpdateMetadata.new("alice", msg)
    tracker.commit(
        T,
        TableUpdate(meta, tuple(ops)),
        expected_head=expected_head,
        allow_disjoint=allow_disjoint,
    )
    return meta.commit_id


def test_occ_commit_at_unmoved_head(tracker):
    tracker.init_table(T, is_snapshot=False, user_id="alice")
    head = tracker.table_state(T).current_version
    p = Partition.parse("date=2019-01-01")
    v = generate_version()
    _occ_commit(tracker, AddPartitionVersion(p, v), expected_head=head)
    assert tracker.current_version(T) == PartitionedTableVersion({p: v})


def test_occ_disjoint_partitions_auto_merge(tracker):
    tracker.init_table(T, is_snapshot=False, user_id="alice")
    base = tracker.table_state(T).current_version
    p1, p2 = Partition.parse("date=2019-01-01"), Partition.parse("date=2019-01-02")
    v1, v2 = generate_version(), generate_version()
    # writer B lands first; writer A (still holding the old head) touches a
    # DIFFERENT partition → both commits land
    _commit(tracker, AddPartitionVersion(p2, v2), msg="writer B")
    _occ_commit(tracker, AddPartitionVersion(p1, v1), expected_head=base)
    assert tracker.current_version(T) == PartitionedTableVersion({p1: v1, p2: v2})


def test_occ_overlapping_partition_conflicts(tracker):
    from chronicles_spark.trackers import CommitConflictError

    tracker.init_table(T, is_snapshot=False, user_id="alice")
    base = tracker.table_state(T).current_version
    p = Partition.parse("date=2019-01-01")
    _commit(tracker, AddPartitionVersion(p, generate_version()), msg="writer B")
    with pytest.raises(CommitConflictError) as e:
        _occ_commit(tracker, AddPartitionVersion(p, generate_version()), expected_head=base)
    assert e.value.overlapping == ("date=2019-01-01",)
    # a remove also counts as touching the partition
    with pytest.raises(CommitConflictError):
        _occ_commit(tracker, RemovePartition(p), expected_head=base)


def test_occ_strict_mode_rejects_any_head_move(tracker):
    from chronicles_spark.trackers import CommitConflictError

    tracker.init_table(T, is_snapshot=False, user_id="alice")
    base = tracker.table_state(T).current_version
    p1, p2 = Partition.parse("date=2019-01-01"), Partition.parse("date=2019-01-02")
    _commit(tracker, AddPartitionVersion(p2, generate_version()))
    with pytest.raises(CommitConflictError):
        _occ_commit(
            tracker,
            AddPartitionVersion(p1, generate_version()),
            expected_head=base,
            allow_disjoint=False,
        )


def test_occ_snapshot_writes_always_conflict(tracker):
    from chronicles_spark.trackers import CommitConflictError

    tracker.init_table(T, is_snapshot=True, user_id="alice")
    base = tracker.table_state(T).current_version
    _commit(tracker, AddTableVersion(generate_version()), msg="writer B")
    with pytest.raises(CommitConflictError):
        _occ_commit(tracker, AddTableVersion(generate_version()), expected_head=base)


def test_occ_rollback_disables_auto_merge(tracker):
    from chronicles_spark.trackers import CommitConflictError

    tracker.init_table(T, is_snapshot=False, user_id="alice")
    p1, p2 = Partition.parse("date=2019-01-01"), Partition.parse("date=2019-01-02")
    first = _commit(tracker, AddPartitionVersion(p1, generate_version()))
    newest = _commit(tracker, AddPartitionVersion(p2, generate_version()))
    tracker.set_current_version(T, first)  # rollback AFTER the writer read
    # the writer read its base at the newest entry; zero interim commits and
    # all partitions disjoint, but the head was rolled back beneath it → its
    # base is not the current state; must conflict, not silently resurrect
    # the rolled-back commits
    with pytest.raises(CommitConflictError):
        _occ_commit(
            tracker,
            AddPartitionVersion(Partition.parse("date=2019-01-03"), generate_version()),
            expected_head=newest,
        )


def test_occ_unknown_expected_head(tracker):
    tracker.init_table(T, is_snapshot=False, user_id="alice")
    _commit(tracker, AddPartitionVersion(Partition.parse("date=2019-01-01"), generate_version()))
    with pytest.raises(UnknownCommitError):
        _occ_commit(
            tracker,
            AddPartitionVersion(Partition.parse("date=2019-01-02"), generate_version()),
            expected_head="no-such-commit",
        )


# -- tags (extension: git-tag-style data-version pinning) --------------------


def test_tags_roundtrip_all_backends(tracker):
    """set/list/resolve/delete across every backend, with head-default,
    explicit-commit, immutability, and validation semantics."""
    from chronicles_spark.trackers import UnknownTagError

    tracker.init_table(T, is_snapshot=False, user_id="alice")
    p = Partition((("date", "2020-01-01"),))
    c1 = _commit(tracker, AddPartitionVersion(p, generate_version()))
    c2 = _commit(tracker, AddPartitionVersion(p, generate_version()))

    assert tracker.tags(T) == {}
    assert tracker.set_tag(T, "corpus-v1", c1) == c1
    assert tracker.set_tag(T, "latest") == c2  # default: current head
    assert tracker.tags(T) == {"corpus-v1": c1, "latest": c2}
    assert tracker.tag_commit(T, "corpus-v1") == c1

    # the tag resolves the PINNED state even after more commits
    c3 = _commit(tracker, AddPartitionVersion(p, generate_version()))
    tv_tag = tracker.version_at_tag(T, "corpus-v1")
    tv_c1 = tracker.version_at(T, c1)
    assert tv_tag == tv_c1 != tracker.current_version(T)

    # immutability: re-pinning raises unless forced
    with pytest.raises(ValueError, match="immutable"):
        tracker.set_tag(T, "corpus-v1", c2)
    assert tracker.set_tag(T, "corpus-v1", c3, force=True) == c3

    # validation: unknown commit / bad name / unknown tag / unknown table
    with pytest.raises(UnknownCommitError):
        tracker.set_tag(T, "bad", "no-such-commit")
    with pytest.raises(ValueError, match="invalid tag name"):
        tracker.set_tag(T, "has/slash")
    with pytest.raises(UnknownTagError):
        tracker.tag_commit(T, "nope")
    with pytest.raises(UnknownTableError):
        tracker.tags(TableName("db", "ghost"))

    tracker.delete_tag(T, "latest")
    assert set(tracker.tags(T)) == {"corpus-v1"}
    with pytest.raises(UnknownTagError):
        tracker.delete_tag(T, "latest")


def test_tags_survive_reload(tmp_path):
    """Durable backends re-read tags from storage with a fresh instance."""
    for make in (
        lambda: FileBackedVersionTracker(str(tmp_path / "log")),
        lambda: SqliteVersionTracker(str(tmp_path / "log.db")),
    ):
        tr = make()
        tr.init_table(T, is_snapshot=False, user_id="a")
        c1 = _commit(tr, AddPartitionVersion(
            Partition((("date", "2020-01-01"),)), generate_version()
        ))
        tr.set_tag(T, "pin", c1)
        again = make()
        assert again.tags(T) == {"pin": c1}


def test_commit_at_timestamp_resolution(tracker):
    """Timestamp time travel: newest commit at-or-before ts; naive = UTC;
    ISO strings accepted; too-early timestamps raise."""
    from datetime import timedelta

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    tracker.init_table(T, is_snapshot=False, user_id="a", timestamp=t0)
    p = Partition((("date", "2020-01-01"),))
    ids = []
    for i in range(3):
        meta = TableUpdateMetadata.new("a", f"c{i}", t0 + timedelta(hours=i + 1))
        tracker.commit(T, TableUpdate(meta, (AddPartitionVersion(p, generate_version()),)))
        ids.append(meta.commit_id)

    mid = t0 + timedelta(hours=2)
    assert tracker.commit_at_timestamp(T, mid) == ids[1]        # exact hit
    assert tracker.commit_at_timestamp(T, mid + timedelta(minutes=30)) == ids[1]
    assert tracker.commit_at_timestamp(T, "2024-01-01T03:30:00") == ids[2]
    assert tracker.commit_at_timestamp(
        T, datetime(2024, 1, 2)  # naive → UTC
    ) == ids[2]
    assert (
        tracker.version_at_timestamp(T, mid) == tracker.version_at(T, ids[1])
    )
    with pytest.raises(UnknownCommitError):
        tracker.commit_at_timestamp(T, t0 - timedelta(seconds=1))


def test_checkout_moves_head_and_returns_the_fold(tracker):
    """``_checkout`` (the tracker half of VersionedMetastore.checkout)
    returns what ``version_at`` gives and leaves the head on the commit,
    on every backend; the log crosses the files tracker's default
    checkpoint interval, so its one-pass path runs too.  Unknown ids and
    tables raise without moving the head."""
    rng = random.Random(5)
    tracker.init_table(T, is_snapshot=False, user_id="alice")
    ids = []
    for i in range(130):
        p = Partition.parse(f"date=2019-01-{rng.randrange(1, 8):02d}")
        op = RemovePartition(p) if rng.random() < 0.2 else AddPartitionVersion(p, generate_version())
        ids.append(_commit(tracker, op))
        if i == 110:  # roll back; the next write re-surfaces 90..110
            tracker.set_current_version(T, ids[90])
    for cid in ids[::10] + ids[-3:] + ids[85:95]:
        got = tracker._checkout(T, cid)
        assert got == tracker.version_at(T, cid), cid
        assert tracker.table_state(T).current_version == cid
        assert tracker.current_version(T) == got
    with pytest.raises(UnknownCommitError):
        tracker._checkout(T, "no-such-commit")
    assert tracker.table_state(T).current_version == cid
    with pytest.raises(UnknownTableError):
        tracker._checkout(TableName("x", "y"), ids[0])
