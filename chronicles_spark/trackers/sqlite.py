"""Sqlite-backed VersionTracker — the serializable option.

Reference: db/src/main/scala/dev/chronicles/db/DbVersionTracker.scala
(schema S1-S4 :140-190, queries :192-279, op (de)serialization :281-328,
SERIALIZABLE isolation rationale :19-23,:118-124). Same four-table shape:

    chronicle_tables_v1          — tables registry
    chronicle_table_updates_v1   — commits, identity sequence_id = total order
    chronicle_table_operations_v1— ops, PK (commit_id, index_in_commit)
    chronicles_version_refs_v1   — head pointer per table

Sqlite transactions are serializable by default; every multi-statement
commit runs in one transaction.
"""

from __future__ import annotations

import json
import sqlite3
import threading
from datetime import datetime
from typing import List

from ..core import fold
from ..core.markers import PAIR_MARKER_PREFIX, newest_pair_label
from ..core.model import Partition, TableName
from ..core.ops import (
    AddPartitionVersion,
    AddTableVersion,
    InitTable,
    RemovePartition,
    TableOperation,
    TableUpdate,
    TableUpdateMetadata,
)
from ..core.version import Version
from .base import TableState, UnknownTableError, VersionTracker

# db string tags (DbVersionTracker.scala:288-292)
_TAG = {
    InitTable: "init_table",
    AddTableVersion: "add_table_version",
    AddPartitionVersion: "add_part_version",
    RemovePartition: "remove_part",
}

_SCHEMA = """
CREATE TABLE IF NOT EXISTS chronicle_tables_v1 (
  table_name TEXT PRIMARY KEY,
  creation_time TEXT NOT NULL
);
CREATE TABLE IF NOT EXISTS chronicle_table_updates_v1 (
  sequence_id INTEGER PRIMARY KEY AUTOINCREMENT,
  commit_id TEXT UNIQUE NOT NULL,
  table_name TEXT NOT NULL REFERENCES chronicle_tables_v1(table_name),
  update_time TEXT NOT NULL,
  user_id TEXT NOT NULL,
  message TEXT NOT NULL
);
CREATE TABLE IF NOT EXISTS chronicle_table_operations_v1 (
  commit_id TEXT NOT NULL REFERENCES chronicle_table_updates_v1(commit_id),
  index_in_commit INTEGER NOT NULL,
  operation_type TEXT NOT NULL,
  version TEXT,
  partition TEXT,
  is_snapshot_table INTEGER,
  PRIMARY KEY (commit_id, index_in_commit)
);
CREATE TABLE IF NOT EXISTS chronicles_version_refs_v1 (
  table_name TEXT PRIMARY KEY REFERENCES chronicle_tables_v1(table_name),
  current_version TEXT NOT NULL REFERENCES chronicle_table_updates_v1(commit_id)
);
CREATE TABLE IF NOT EXISTS chronicles_tags_v1 (
  table_name TEXT NOT NULL REFERENCES chronicle_tables_v1(table_name),
  tag_name TEXT NOT NULL,
  commit_id TEXT NOT NULL REFERENCES chronicle_table_updates_v1(commit_id),
  PRIMARY KEY (table_name, tag_name)
);
CREATE TABLE IF NOT EXISTS chronicles_checkpoints_v1 (
  table_name TEXT PRIMARY KEY REFERENCES chronicle_tables_v1(table_name),
  last_seq INTEGER NOT NULL,
  last_commit_id TEXT NOT NULL,
  is_snapshot INTEGER NOT NULL,
  snapshot_version TEXT,
  partitions TEXT NOT NULL
);
"""


def _op_row(op: TableOperation, idx: int, commit_id: str):
    if isinstance(op, InitTable):
        return (commit_id, idx, _TAG[InitTable], None, None, 1 if op.is_snapshot else 0)
    if isinstance(op, AddTableVersion):
        return (commit_id, idx, _TAG[AddTableVersion], op.version.label, None, None)
    if isinstance(op, AddPartitionVersion):
        return (commit_id, idx, _TAG[AddPartitionVersion], op.version.label, op.partition.path, None)
    if isinstance(op, RemovePartition):
        return (commit_id, idx, _TAG[RemovePartition], None, op.partition.path, None)
    raise TypeError(f"unknown op {op!r}")


def _row_op(operation_type, version, partition, is_snapshot, table_name) -> TableOperation:
    """Typed op from a row (DbVersionTracker.scala:281-293)."""
    if operation_type == "init_table":
        return InitTable(table_name, bool(is_snapshot))
    if operation_type == "add_table_version":
        return AddTableVersion(Version(version))
    if operation_type == "add_part_version":
        return AddPartitionVersion(Partition.parse(partition), Version(version))
    if operation_type == "remove_part":
        return RemovePartition(Partition.parse(partition))
    raise ValueError(f"unknown operation_type {operation_type!r}")


class SqliteVersionTracker(VersionTracker):
    def __init__(
        self, path: str = ":memory:", checkpoint_interval: int | None = 100
    ) -> None:
        """``checkpoint_interval``: every N commits, the folded state is
        persisted into ``chronicles_checkpoints_v1`` INSIDE the commit
        transaction, and ``current_version``/``version_at`` then read only
        the checkpoint row plus the commits after it — O(tail) table
        resolution on million-commit logs, same contract as the files
        tracker's Delta-style checkpoints.  ``None`` disables."""
        if checkpoint_interval is not None and checkpoint_interval < 1:
            raise ValueError("checkpoint_interval must be >= 1 (or None to disable)")
        self._checkpoint_interval = checkpoint_interval
        self._conn = sqlite3.connect(path, check_same_thread=False)
        self._lock = threading.RLock()
        with self._lock, self._conn:
            self._conn.executescript(_SCHEMA)

    def tables(self) -> List[TableName]:
        with self._lock:
            rows = self._conn.execute(
                "SELECT table_name FROM chronicle_tables_v1 ORDER BY table_name"
            ).fetchall()
        return [TableName.parse(r[0]) for r in rows]

    def _table_exists(self, table: TableName) -> bool:
        with self._lock:
            row = self._conn.execute(
                "SELECT 1 FROM chronicle_tables_v1 WHERE table_name = ?",
                (table.fully_qualified,),
            ).fetchone()
        return row is not None

    def _create_table(self, table: TableName, init_update: TableUpdate, is_snapshot: bool) -> None:
        m = init_update.metadata
        with self._lock, self._conn:  # one txn: 4 inserts (DbVersionTracker.scala:41-65)
            self._conn.execute(
                "INSERT INTO chronicle_tables_v1 VALUES (?, ?)",
                (table.fully_qualified, m.timestamp.isoformat()),
            )
            self._insert_update(table, init_update)
            self._conn.execute(
                "INSERT INTO chronicles_version_refs_v1 VALUES (?, ?)",
                (table.fully_qualified, m.commit_id),
            )

    def _drop_table(self, table: TableName) -> None:
        fq = table.fully_qualified
        with self._lock, self._conn:  # one txn, FK-safe order
            self._conn.execute(
                "DELETE FROM chronicles_checkpoints_v1 WHERE table_name = ?", (fq,)
            )
            self._conn.execute(
                "DELETE FROM chronicles_version_refs_v1 WHERE table_name = ?", (fq,)
            )
            self._conn.execute(
                "DELETE FROM chronicles_tags_v1 WHERE table_name = ?", (fq,)
            )
            self._conn.execute(
                "DELETE FROM chronicle_table_operations_v1 WHERE commit_id IN "
                "(SELECT commit_id FROM chronicle_table_updates_v1 WHERE table_name = ?)",
                (fq,),
            )
            self._conn.execute(
                "DELETE FROM chronicle_table_updates_v1 WHERE table_name = ?", (fq,)
            )
            self._conn.execute(
                "DELETE FROM chronicle_tables_v1 WHERE table_name = ?", (fq,)
            )

    def _insert_update(self, table: TableName, update: TableUpdate) -> None:
        m = update.metadata
        self._conn.execute(
            "INSERT INTO chronicle_table_updates_v1 "
            "(commit_id, table_name, update_time, user_id, message) VALUES (?,?,?,?,?)",
            (m.commit_id, table.fully_qualified, m.timestamp.isoformat(), m.user_id, m.message),
        )
        self._conn.executemany(
            "INSERT INTO chronicle_table_operations_v1 VALUES (?,?,?,?,?,?)",
            [_op_row(op, i, m.commit_id) for i, op in enumerate(update.operations)],
        )

    def _serialized_commit(self, table: TableName):
        # connection RLock: optimistic check-then-append is atomic for every
        # writer sharing this tracker/connection; cross-process writers on
        # one sqlite FILE still serialize their individual transactions but
        # keep the documented best-effort check window
        return self._lock

    def _append_commit(self, table: TableName, update: TableUpdate) -> None:
        with self._lock, self._conn:
            self._insert_update(table, update)
            self._conn.execute(
                "UPDATE chronicles_version_refs_v1 SET current_version = ? WHERE table_name = ?",
                (update.metadata.commit_id, table.fully_qualified),
            )
            self._maybe_checkpoint_locked(table)

    def _set_head(self, table: TableName, commit_id: str) -> None:
        with self._lock, self._conn:
            self._conn.execute(
                "UPDATE chronicles_version_refs_v1 SET current_version = ? WHERE table_name = ?",
                (commit_id, table.fully_qualified),
            )

    def commit_group(self, updates, expected_heads=None, allow_disjoint=True) -> None:
        """Cross-table group commit as ONE SERIALIZABLE transaction —
        every table's log row, op rows, and head pointer land atomically;
        a failure (or crash) rolls the whole group back (S8 isolation
        stance, DbVersionTracker.scala:118-124, extended across tables).
        ``expected_heads`` adds per-table optimistic conflict checks run
        inside the same transaction, before any insert."""
        with self._lock, self._conn:
            ordered = sorted(updates, key=lambda t: t.fully_qualified)
            for table in ordered:
                row = self._conn.execute(
                    "SELECT 1 FROM chronicle_tables_v1 WHERE table_name = ?",
                    (table.fully_qualified,),
                ).fetchone()
                if row is None:
                    raise UnknownTableError(table)
            if expected_heads:
                for table in ordered:
                    if table in expected_heads:
                        self._check_expected_head(
                            table, updates[table],
                            expected_heads[table], allow_disjoint,
                        )
            for table in ordered:
                update = updates[table]
                self._insert_update(table, update)
                self._conn.execute(
                    "UPDATE chronicles_version_refs_v1 SET current_version = ? "
                    "WHERE table_name = ?",
                    (update.metadata.commit_id, table.fully_qualified),
                )
                self._maybe_checkpoint_locked(table)

    def _write_tag(self, table: TableName, name: str, commit_id: str) -> None:
        with self._lock, self._conn:
            self._conn.execute(
                "INSERT INTO chronicles_tags_v1 VALUES (?, ?, ?) "
                "ON CONFLICT(table_name, tag_name) DO UPDATE SET commit_id = excluded.commit_id",
                (table.fully_qualified, name, commit_id),
            )

    def _read_tags(self, table: TableName) -> dict:
        with self._lock:
            rows = self._conn.execute(
                "SELECT tag_name, commit_id FROM chronicles_tags_v1 WHERE table_name = ?",
                (table.fully_qualified,),
            ).fetchall()
        return dict(rows)

    def _delete_tag(self, table: TableName, name: str) -> None:
        with self._lock, self._conn:
            self._conn.execute(
                "DELETE FROM chronicles_tags_v1 WHERE table_name = ? AND tag_name = ?",
                (table.fully_qualified, name),
            )

    # S5 join shape (DbVersionTracker.scala:239-256) with the ops side
    # LEFT-joined so zero-operation commits (e.g. versioned insert of an
    # empty DataFrame) survive as empty-ops updates, matching the
    # memory/files backends.
    _UPDATES_SQL = """
        SELECT u.commit_id, u.update_time, u.user_id, u.message,
               o.index_in_commit, o.operation_type, o.version, o.partition,
               o.is_snapshot_table
        FROM chronicle_tables_v1 t
        JOIN chronicle_table_updates_v1 u ON u.table_name = t.table_name
        LEFT JOIN chronicle_table_operations_v1 o ON o.commit_id = u.commit_id
        WHERE t.table_name = ? {extra}
        ORDER BY u.sequence_id ASC, o.index_in_commit ASC
        """

    @staticmethod
    def _assemble(rows, name: str) -> tuple:
        """Commits from adjacent joined rows (DbVersionTracker.scala:67-84)."""
        updates: List[TableUpdate] = []
        cur_id = None
        cur_meta = None
        cur_ops: List[TableOperation] = []
        for commit_id, update_time, user_id, message, _idx, op_t, ver, part, snap in rows:
            if commit_id != cur_id:
                if cur_meta is not None:
                    updates.append(TableUpdate(cur_meta, tuple(cur_ops)))
                cur_id = commit_id
                cur_meta = TableUpdateMetadata(
                    commit_id, user_id, message, datetime.fromisoformat(update_time)
                )
                cur_ops = []
            if op_t is not None:  # NULL from LEFT JOIN = zero-op commit
                cur_ops.append(_row_op(op_t, ver, part, snap, name))
        if cur_meta is not None:
            updates.append(TableUpdate(cur_meta, tuple(cur_ops)))
        return tuple(updates)

    def table_state(self, table: TableName) -> TableState:
        name = table.fully_qualified
        with self._lock:
            if not self._table_exists(table):
                raise UnknownTableError(table)
            head = self._conn.execute(
                "SELECT current_version FROM chronicles_version_refs_v1 WHERE table_name = ?",
                (name,),
            ).fetchone()[0]
            rows = self._conn.execute(
                self._UPDATES_SQL.format(extra=""), (name,)
            ).fetchall()
        return TableState(head, self._assemble(rows, name))

    # -- tail access (streaming-source support; files.py:206-210 contract) --
    # ``sequence_id`` is AUTOINCREMENT: per-table sequences are strictly
    # monotonic and never reused, and inserts are transaction-serialized, so
    # — unlike the unlocked files tracker — a commit can never appear inside
    # an already-consumed prefix here.

    def head_commit_id(self, table: TableName) -> str:
        """The current head commit id — one indexed point read, no log scan."""
        with self._lock:
            if not self._table_exists(table):
                raise UnknownTableError(table)
            return self._conn.execute(
                "SELECT current_version FROM chronicles_version_refs_v1 "
                "WHERE table_name = ?",
                (table.fully_qualified,),
            ).fetchone()[0]

    def update_seqs(self, table: TableName) -> List[int]:
        """Commit sequence ids, ascending — an indexed id scan, no op rows."""
        with self._lock:
            if not self._table_exists(table):
                raise UnknownTableError(table)
            rows = self._conn.execute(
                "SELECT sequence_id FROM chronicle_table_updates_v1 "
                "WHERE table_name = ? ORDER BY sequence_id ASC",
                (table.fully_qualified,),
            ).fetchall()
        return [r[0] for r in rows]

    def update_count(self, table: TableName) -> int:
        """Number of commits — one COUNT(*), no rows materialized."""
        with self._lock:
            if not self._table_exists(table):
                raise UnknownTableError(table)
            return self._conn.execute(
                "SELECT COUNT(*) FROM chronicle_table_updates_v1 WHERE table_name = ?",
                (table.fully_qualified,),
            ).fetchone()[0]

    def updates_slice(self, table: TableName, start: int, end: int) -> tuple:
        """Updates at log positions [start, end) in commit order."""
        seqs = self.update_seqs(table)[start:end]
        if not seqs:
            return ()
        return self.updates_in_seq_range(table, seqs[0] - 1, seqs[-1])

    # -- fold checkpoints (same contract as files.py:304-308: a checkpoint
    # is the fold of the full log prefix up to sequence ``last_seq``, a
    # pure function of log ORDER — one checkpoint serves every head at or
    # after it, and rollbacks before it fall back to the full fold) ------

    def _read_checkpoint_row(self, name: str):
        return self._conn.execute(
            "SELECT last_seq, last_commit_id, is_snapshot, snapshot_version, "
            "partitions FROM chronicles_checkpoints_v1 WHERE table_name = ?",
            (name,),
        ).fetchone()

    def _maybe_checkpoint_locked(self, table: TableName) -> None:
        """Refresh the checkpoint row when ``checkpoint_interval`` commits
        accumulated past it.  Runs INSIDE the commit transaction (caller
        holds lock + txn), so the checkpoint can never be observed ahead
        of or torn from the log it summarizes; incremental — reads only
        the tail rows since the previous checkpoint."""
        if not self._checkpoint_interval:
            return
        name = table.fully_qualified
        row = self._read_checkpoint_row(name)
        base_seq = row[0] if row else -1
        n_tail = self._conn.execute(
            "SELECT count(*) FROM chronicle_table_updates_v1 "
            "WHERE table_name = ? AND sequence_id > ?",
            (name, base_seq),
        ).fetchone()[0]
        if n_tail < self._checkpoint_interval:
            return
        rows = self._conn.execute(
            self._UPDATES_SQL.format(extra="AND u.sequence_id > ?"),
            (name, base_seq),
        ).fetchall()
        tail = self._assemble(rows, name)
        state, snapshot_version = fold.fold_onto(
            json.loads(row[4]) if row else (), row[3] if row else None, tail
        )
        is_snapshot = bool(row[2]) if row else fold.is_snapshot_from_updates(tail)
        last_seq, last_id = self._conn.execute(
            "SELECT sequence_id, commit_id FROM chronicle_table_updates_v1 "
            "WHERE table_name = ? ORDER BY sequence_id DESC LIMIT 1",
            (name,),
        ).fetchone()
        self._conn.execute(
            "INSERT OR REPLACE INTO chronicles_checkpoints_v1 VALUES (?,?,?,?,?,?)",
            (
                name, last_seq, last_id, 1 if is_snapshot else 0,
                snapshot_version, json.dumps(sorted(state.items())),
            ),
        )

    def _fast_resolve(self, table: TableName, commit_id: str):
        """Checkpoint + tail fold at ``commit_id``, or None when the fast
        path does not apply (no checkpoint, or the commit precedes it)."""
        if not self._checkpoint_interval:
            return None  # None disables the read side too (full-fold truth)
        with self._lock:
            if not self._table_exists(table):
                raise UnknownTableError(table)
            row = self._read_checkpoint_row(table.fully_qualified)
        if row is None:
            return None
        last_seq, last_id, is_snap, snap_v, parts_json = row
        tail = self.updates_in_seq_range(
            table, last_seq, 9_223_372_036_854_775_807
        )
        if commit_id == last_id:
            upto = ()
        elif any(u.metadata.commit_id == commit_id for u in tail):
            upto = fold.take_through(tail, commit_id)
        else:
            return None  # precedes the checkpoint: full fold
        return fold.state_version(
            bool(is_snap), *fold.fold_onto(json.loads(parts_json), snap_v, upto)
        )

    def head_resolution(self, table: TableName):
        """O(tail) base resolution for the paired-table read-modify-write
        operators (``operators.pairing.pinned_state``): ``(folded_state,
        head_commit_id, newest_pair_label_in_prefix)`` — the fold rides
        the checkpoint row + tail, and the newest-marker lookup is one
        indexed backwards LIKE scan that stops at the first parseable
        marker, so neither reads (or assembles) the whole commit
        history.  Returns None when the fast path cannot answer (no
        checkpoint, or the head precedes it) — the caller's full
        ``table_state`` walk is the degrade.  Sequence ids are
        append-only and transaction-serialized here, so the files
        tracker's listing/head race cannot occur."""
        head = self.head_commit_id(table)  # raises UnknownTableError
        tv = self._fast_resolve(table, head)
        if tv is None:
            return None
        name = table.fully_qualified
        with self._lock:
            row = self._conn.execute(
                "SELECT sequence_id FROM chronicle_table_updates_v1 "
                "WHERE table_name = ? AND commit_id = ?",
                (name, head),
            ).fetchone()
            if row is None:
                return None
            cur = self._conn.execute(
                "SELECT message FROM chronicle_table_updates_v1 "
                "WHERE table_name = ? AND sequence_id <= ? "
                "AND message LIKE ? ORDER BY sequence_id DESC",
                (name, row[0], f"%{PAIR_MARKER_PREFIX}%"),
            )
            marker = newest_pair_label(msg for (msg,) in cur)
        return tv, head, marker

    def current_version(self, table: TableName):
        """O(tail) resolution via the checkpoint row (falls back to the
        base-class full fold; cutoff semantics identical in both paths)."""
        tv = self._fast_resolve(table, self.head_commit_id(table))
        return tv if tv is not None else super().current_version(table)

    def version_at(self, table: TableName, commit_id: str):
        tv = self._fast_resolve(table, commit_id)
        return tv if tv is not None else super().version_at(table, commit_id)

    def updates_in_seq_range(self, table: TableName, lo: int, hi: int) -> tuple:
        """Updates with ``lo < sequence_id <= hi``, in commit order — reads
        only those commits' rows."""
        name = table.fully_qualified
        with self._lock:
            if not self._table_exists(table):
                raise UnknownTableError(table)
            rows = self._conn.execute(
                self._UPDATES_SQL.format(
                    extra="AND u.sequence_id > ? AND u.sequence_id <= ?"
                ),
                (name, lo, hi),
            ).fetchall()
        return self._assemble(rows, name)
