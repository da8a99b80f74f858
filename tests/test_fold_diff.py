"""Fold + diff algebra unit tests (reference: VersionTrackerObjectSpec.scala:18-89,
MetastoreObjectSpec.scala:16-78)."""

from datetime import datetime, timezone

import pytest

from chronicles_spark.core.diff import (
    AddPartition,
    RemovePartitionOp,
    UpdatePartitionVersion,
    UpdateTableVersion,
    compute_changes,
)
from chronicles_spark.core.fold import (
    apply_partition_updates,
    current_version,
    take_through,
)
from chronicles_spark.core.model import (
    Partition,
    PartitionedTableVersion,
    SnapshotTableVersion,
)
from chronicles_spark.core.ops import (
    AddPartitionVersion,
    AddTableVersion,
    InitTable,
    RemovePartition,
    TableUpdate,
    TableUpdateMetadata,
)
from chronicles_spark.core.version import UNVERSIONED, Version


def _upd(cid, *ops):
    meta = TableUpdateMetadata(cid, "user", "msg", datetime(2019, 1, 1, tzinfo=timezone.utc))
    return TableUpdate(meta, tuple(ops))


P1 = Partition.parse("date=2019-01-01")
P2 = Partition.parse("date=2019-01-02")
V1, V2, V3 = Version("v1"), Version("v2"), Version("v3")


def test_partition_fold_add_update_remove():
    updates = [
        _upd("c0", InitTable("s.t", False)),
        _upd("c1", AddPartitionVersion(P1, V1), AddPartitionVersion(P2, V1)),
        _upd("c2", AddPartitionVersion(P1, V2)),
        _upd("c3", RemovePartition(P2)),
    ]
    tv = apply_partition_updates(updates)
    assert tv.partition_versions == {P1: V2}


def test_removed_then_readded_needs_fresh_version():
    # VersionTrackerSpec.scala:184-190 — re-add after remove with a fresh version
    updates = [
        _upd("c0", InitTable("s.t", False)),
        _upd("c1", AddPartitionVersion(P1, V1)),
        _upd("c2", RemovePartition(P1)),
        _upd("c3", AddPartitionVersion(P1, V3)),
    ]
    assert apply_partition_updates(updates).partition_versions == {P1: V3}
    # time-travel to c2 must show it removed
    cut = take_through(updates, "c2")
    assert apply_partition_updates(cut).partition_versions == {}


def test_take_through_includes_head():
    updates = [_upd("a"), _upd("b"), _upd("c")]
    assert [u.metadata.commit_id for u in take_through(updates, "b")] == ["a", "b"]
    assert len(take_through(updates, None)) == 3


def test_snapshot_fold_last_wins():
    updates = [
        _upd("c0", InitTable("s.t", True)),
        _upd("c1", AddTableVersion(V1)),
        _upd("c2", AddTableVersion(V2)),
    ]
    assert current_version(updates, None) == SnapshotTableVersion(V2)
    assert current_version(updates, "c1") == SnapshotTableVersion(V1)
    assert current_version(updates, "c0") == SnapshotTableVersion(UNVERSIONED)


def test_diff_partitioned():
    cur = PartitionedTableVersion({P1: V1, P2: V1})
    tgt = PartitionedTableVersion({P1: V2, Partition.parse("date=2019-01-03"): V1})
    ops = compute_changes(cur, tgt)
    assert AddPartition(Partition.parse("date=2019-01-03"), V1) in ops
    assert UpdatePartitionVersion(P1, V2) in ops
    assert RemovePartitionOp(P2) in ops
    assert len(ops) == 3
    assert compute_changes(cur, cur) == []


def test_diff_snapshot():
    assert compute_changes(SnapshotTableVersion(V1), SnapshotTableVersion(V2)) == [
        UpdateTableVersion(V2)
    ]
    assert compute_changes(SnapshotTableVersion(V1), SnapshotTableVersion(V1)) == []
    with pytest.raises(TypeError):
        compute_changes(SnapshotTableVersion(V1), PartitionedTableVersion({}))


def _reference_changes(current, target):
    """The diff spelled out with freshly joined paths: adds and updates
    in target path order, then removes in current path order."""
    def path(p):
        return "/".join(f"{k}={v}" for k, v in p.column_values)

    cur, tgt = current.partition_versions, target.partition_versions
    ops = []
    for p in sorted(tgt, key=path):
        if p not in cur:
            ops.append(AddPartition(p, tgt[p]))
        elif cur[p] != tgt[p]:
            ops.append(UpdatePartitionVersion(p, tgt[p]))
    ops.extend(RemovePartitionOp(p) for p in sorted(cur, key=path) if p not in tgt)
    return ops


def test_diff_2000_partitions_matches_reference_order():
    """A seeded 2,000-partition pair: memoized parses on one side, fresh
    instances on the other; ops and their order equal the reference."""
    import hashlib
    import random

    rng = random.Random(2000)
    paths = [f"date=2019-{m:02d}-{d:02d}/h={h}" for m in range(1, 13)
             for d in range(1, 29) for h in (0, 1, 2, 3, 5, 7)][:2000]
    rng.shuffle(paths)
    labels = [Version(f"v{i}") for i in range(5)]
    cur = PartitionedTableVersion(
        {Partition.parse(s): rng.choice(labels) for s in paths if rng.random() > 0.1}
    )
    tgt = PartitionedTableVersion({
        Partition(tuple(tuple(kv.split("=", 1)) for kv in s.split("/"))):
        rng.choice(labels)
        for s in paths if rng.random() > 0.1
    })
    ops = compute_changes(cur, tgt)
    assert ops == _reference_changes(cur, tgt)
    # digest of the same diff before the partition kernels were memoized
    digest = hashlib.sha256("\n".join(map(repr, ops)).encode()).hexdigest()
    assert (len(ops), digest) == (
        1686, "39d2f0433bed977163721390c6f51269456c5df8d1aa7a0dbf78625c013e5c39"
    )
    kinds = {type(op) for op in ops}
    assert kinds == {AddPartition, UpdatePartitionVersion, RemovePartitionOp}
    assert compute_changes(tgt, tgt) == []
