"""Pure commit-log fold: updates stream → resolved TableVersion.

Reference semantics: core/src/main/scala/dev/chronicles/core/VersionTracker.scala:
* ``currentVersion`` folds the operations stream *up to the current head*
  — the time-travel cutoff is ``takeThrough(_.metadata.id != head)``
  (:37-55), i.e. the head commit itself is INCLUDED;
* partitioned fold ``applyPartitionUpdates``: ``Map + (p→v)`` on
  AddPartitionVersion, ``Map - p`` on RemovePartition (:156-172) — a
  re-added partition needs a fresh Add (tombstone semantics, tested at
  VersionTrackerSpec.scala:184-190);
* snapshot fold ``latestSnapshotTableVersion``: the LAST AddTableVersion
  wins (:177-183).

The same algebra is re-expressed as a distributed DataFrame computation
(windowed argmax over an ops-log table) in
``chronicles_spark.plans.log_queries`` — this module is the tiny
driver-side metadata version used by the trackers.

:func:`fold_onto` + :func:`state_version` continue the same fold from a
SAVED state (a fold checkpoint, a stream's previous batch): the one
incremental form every checkpointed resolution, checkpoint cut and the
CDC source use.
"""

from __future__ import annotations

from typing import Dict, Iterable, Optional, Tuple

from .model import Partition, PartitionedTableVersion, SnapshotTableVersion
from .ops import AddPartitionVersion, AddTableVersion, InitTable, RemovePartition, TableUpdate
from .version import UNVERSIONED, Version


def take_through(updates: Iterable[TableUpdate], head_commit_id: Optional[str]) -> list:
    """Updates up to AND INCLUDING the head commit (VersionTracker.scala:41-44).

    ``head_commit_id=None`` means no cutoff (use the full stream).
    """
    if head_commit_id is None:
        return list(updates)
    out = []
    for u in updates:
        out.append(u)
        if u.metadata.commit_id == head_commit_id:
            break
    return out


def apply_partition_updates(updates: Iterable[TableUpdate]) -> PartitionedTableVersion:
    """Fold for partitioned tables (VersionTracker.scala:156-172)."""
    state: Dict[Partition, Version] = {}
    for u in updates:
        for op in u.operations:
            if isinstance(op, AddPartitionVersion):
                state[op.partition] = op.version
            elif isinstance(op, RemovePartition):
                state.pop(op.partition, None)
    return PartitionedTableVersion(state)


def latest_snapshot_version(updates: Iterable[TableUpdate]) -> SnapshotTableVersion:
    """Fold for snapshot tables: last AddTableVersion wins
    (VersionTracker.scala:177-183). Raises if none exists."""
    version: Optional[Version] = None
    for u in updates:
        for op in u.operations:
            if isinstance(op, AddTableVersion):
                version = op.version
    if version is None:
        raise ValueError("no table version found in update history")
    return SnapshotTableVersion(version)


def is_snapshot_from_updates(updates: Iterable[TableUpdate]) -> bool:
    """Read the isSnapshot flag off the InitTable op (VersionTracker.scala:76)."""
    for u in updates:
        for op in u.operations:
            if isinstance(op, InitTable):
                return op.is_snapshot
    raise ValueError("no InitTable operation found in update history")


def current_version(updates: Iterable[TableUpdate], head_commit_id: Optional[str]):
    """Full currentVersion semantics (VersionTracker.scala:37-55)."""
    upto = take_through(updates, head_commit_id)
    if is_snapshot_from_updates(upto):
        try:
            return latest_snapshot_version(upto)
        except ValueError:
            # table initialised but nothing written yet → empty partitioned-ish
            return SnapshotTableVersion(UNVERSIONED)
    return apply_partition_updates(upto)


def fold_onto(
    partitions, snapshot: Optional[str], updates: Iterable[TableUpdate]
) -> Tuple[Dict[str, str], Optional[str]]:
    """A saved fold state ``(partition path → version label, snapshot
    label or None)`` — the string form checkpoints persist — advanced by
    ``updates`` with the :func:`apply_partition_updates` and
    :func:`latest_snapshot_version` rules.  ``partitions`` (a mapping or
    ``(path, label)`` pairs) is copied, never mutated."""
    state = dict(partitions)
    for u in updates:
        for op in u.operations:
            if isinstance(op, AddPartitionVersion):
                state[op.partition.path] = op.version.label
            elif isinstance(op, RemovePartition):
                state.pop(op.partition.path, None)
            elif isinstance(op, AddTableVersion):
                snapshot = op.version.label
    return state, snapshot


def state_version(is_snapshot: bool, partitions, snapshot: Optional[str]):
    """The ``TableVersion`` of a :func:`fold_onto` state, as
    :func:`current_version` resolves the same prefix."""
    if is_snapshot:
        return SnapshotTableVersion(
            UNVERSIONED if snapshot is None else Version(snapshot)
        )
    return PartitionedTableVersion(
        {Partition.parse(p): Version(v) for p, v in partitions.items()}
    )
