"""Commit-log operations (the TableOperation / TableUpdate ADTs) + JSON codecs.

Reference semantics:
* ADTs: core/src/main/scala/dev/chronicles/core/VersionTracker.scala:91-135
  — a commit (``TableUpdate``) is metadata ``(CommitId, UserId, message,
  timestamp)`` plus an *ordered* list of operations; operations are
  ``InitTable | AddTableVersion | AddPartitionVersion | RemovePartition``.
* JSON wire format: files/src/main/scala/dev/chronicles/files/JsonCodecs.scala:18-135
  — operations tagged by a ``type`` field; db string tags
  (db/.../DbVersionTracker.scala:281-308) are also honored on decode.
"""

from __future__ import annotations

import json
import uuid as _uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import List, Sequence, Union

from .model import Partition
from .version import Version

# ---------------------------------------------------------------------------
# operation ADT


@dataclass(frozen=True)
class InitTable:
    table_name: str
    is_snapshot: bool

    TYPE = "init-table"


@dataclass(frozen=True)
class AddTableVersion:
    version: Version

    TYPE = "add-table-version"


@dataclass(frozen=True)
class AddPartitionVersion:
    partition: Partition
    version: Version

    TYPE = "add-partition-version"


@dataclass(frozen=True)
class RemovePartition:
    partition: Partition

    TYPE = "remove-partition"


TableOperation = Union[InitTable, AddTableVersion, AddPartitionVersion, RemovePartition]


@dataclass(frozen=True)
class TableUpdateMetadata:
    """Commit metadata (VersionTracker.scala:91-109)."""

    commit_id: str
    user_id: str
    message: str
    timestamp: datetime

    @staticmethod
    def new(user_id: str, message: str, timestamp: datetime | None = None) -> "TableUpdateMetadata":
        ts = timestamp or datetime.now(timezone.utc)
        return TableUpdateMetadata(str(_uuid.uuid4()), user_id, message, ts)


@dataclass(frozen=True)
class TableUpdate:
    metadata: TableUpdateMetadata
    operations: Sequence[TableOperation] = field(default_factory=tuple)


# ---------------------------------------------------------------------------
# JSON codecs (files/.../JsonCodecs.scala:18-135)

_DB_TAGS = {  # db string tags → canonical type tags (DbVersionTracker.scala:288-292)
    "init_table": InitTable.TYPE,
    "add_table_version": AddTableVersion.TYPE,
    "add_part_version": AddPartitionVersion.TYPE,
    "remove_part": RemovePartition.TYPE,
}


def op_to_dict(op: TableOperation) -> dict:
    if isinstance(op, InitTable):
        return {"type": InitTable.TYPE, "table_name": op.table_name, "is_snapshot": op.is_snapshot}
    if isinstance(op, AddTableVersion):
        return {"type": AddTableVersion.TYPE, "version": op.version.label}
    if isinstance(op, AddPartitionVersion):
        return {
            "type": AddPartitionVersion.TYPE,
            "partition": op.partition.path,
            "version": op.version.label,
        }
    if isinstance(op, RemovePartition):
        return {"type": RemovePartition.TYPE, "partition": op.partition.path}
    raise TypeError(f"unknown operation: {op!r}")


def op_from_dict(d: dict) -> TableOperation:
    tag = d["type"]
    tag = _DB_TAGS.get(tag, tag)
    if tag == InitTable.TYPE:
        return InitTable(d["table_name"], bool(d["is_snapshot"]))
    if tag == AddTableVersion.TYPE:
        return AddTableVersion(Version(d["version"]))
    if tag == AddPartitionVersion.TYPE:
        return AddPartitionVersion(Partition.parse(d["partition"]), Version(d["version"]))
    if tag == RemovePartition.TYPE:
        return RemovePartition(Partition.parse(d["partition"]))
    raise ValueError(f"unknown operation type: {tag!r}")


def update_to_dict(u: TableUpdate) -> dict:
    return {
        "commit_id": u.metadata.commit_id,
        "user_id": u.metadata.user_id,
        "message": u.metadata.message,
        "timestamp": u.metadata.timestamp.isoformat(),
        "operations": [op_to_dict(op) for op in u.operations],
    }


def metadata_from_dict(d: dict) -> TableUpdateMetadata:
    """A commit document's metadata alone; its operations stay undecoded."""
    return TableUpdateMetadata(
        commit_id=d["commit_id"],
        user_id=d["user_id"],
        message=d["message"],
        timestamp=datetime.fromisoformat(d["timestamp"]),
    )


def update_from_dict(d: dict) -> TableUpdate:
    return TableUpdate(
        metadata_from_dict(d), tuple(op_from_dict(o) for o in d["operations"])
    )


def update_to_json(u: TableUpdate) -> str:
    return json.dumps(update_to_dict(u), sort_keys=True)


def update_from_json(s: str) -> TableUpdate:
    return update_from_dict(json.loads(s))
