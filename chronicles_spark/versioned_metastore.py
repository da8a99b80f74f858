"""VersionedMetastore — the transaction composition tying tracker + metastore.

Reference: core/src/main/scala/dev/chronicles/core/VersionedMetastore.scala:
* ``commit`` (:53-66): tracker.commit → tracker.currentVersion →
  metastore.currentVersion → computeChanges → metastore.update; returns
  (TableVersion, changes applied).
* ``checkout`` (:71-78): tracker.setCurrentVersion → re-fold →
  diff → metastore.update. Rollback moves NO data (docs/concepts.md:80-82).
"""

from __future__ import annotations

from typing import List, Tuple

from .core.diff import MetastoreOperation, compute_changes
from .core.model import TableDefinition
from .core.ops import TableUpdate
from .spark.metastore import Metastore
from .trackers.base import VersionTracker


class VersionedMetastore:
    def __init__(self, tracker: VersionTracker, metastore: Metastore) -> None:
        self.tracker = tracker
        self.metastore = metastore

    # -- tracker forwarders (VersionedMetastore.scala:18-45) ----------------

    def tables(self):
        return self.tracker.tables()

    def init_table(self, table, is_snapshot, user_id, message, timestamp=None):
        return self.tracker.init_table(table, is_snapshot, user_id, message, timestamp)

    def current_version(self, table):
        return self.tracker.current_version(table)

    def updates(self, table):
        return self.tracker.updates(table)

    def commit(
        self, table: TableDefinition, update: TableUpdate
    ) -> Tuple[object, List[MetastoreOperation]]:
        """V9 (VersionedMetastore.scala:53-66)."""
        self.tracker.commit(table.name, update)
        desired = self.tracker.current_version(table.name)
        actual = self.metastore.current_version(table)
        changes = compute_changes(actual, desired)
        self.metastore.update(table, changes)
        return desired, changes

    def checkout(
        self, table: TableDefinition, commit_id: str
    ) -> Tuple[object, List[MetastoreOperation]]:
        """V10 — metadata-only rollback (VersionedMetastore.scala:71-78).
        The tracker moves the head and re-folds in one call
        (``_checkout``), so a backend can locate the commit once."""
        desired = self.tracker._checkout(table.name, commit_id)
        actual = self.metastore.current_version(table)
        changes = compute_changes(actual, desired)
        self.metastore.update(table, changes)
        return desired, changes
