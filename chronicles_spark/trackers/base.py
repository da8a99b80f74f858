"""VersionTracker interface + shared default logic.

Reference: core/src/main/scala/dev/chronicles/core/VersionTracker.scala:14-87.
Backends implement the small primitive set (``table_state``, appends,
head-pointer update); the derived operations (``current_version``,
``updates``, ``is_snapshot_table``) are shared default methods folding the
ops stream, exactly like the reference's trait default methods (:37-61,:76).
"""

from __future__ import annotations

import abc
import contextlib
import re
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Dict, List, Optional, Sequence, Set, Tuple

from ..core import fold
from ..core.model import Partition, TableName
from ..core.ops import (
    AddPartitionVersion,
    AddTableVersion,
    InitTable,
    RemovePartition,
    TableUpdate,
    TableUpdateMetadata,
)


class UnknownTableError(KeyError):
    def __init__(self, table: TableName):
        super().__init__(f"unknown table: {table}")
        self.table = table


class UnknownCommitError(KeyError):
    def __init__(self, commit_id: Optional[str], message: Optional[str] = None):
        super().__init__(message or f"unknown commit: {commit_id}")
        self.commit_id = commit_id


class UnknownTagError(KeyError):
    def __init__(self, name: str):
        super().__init__(f"unknown tag: {name}")
        self.name = name


# tag names must be safe as a filesystem path fragment (files backend) and
# unambiguous in CLI output; same spirit as git's refname rules
TAG_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,99}$")


class CommitConflictError(RuntimeError):
    """An optimistic (``expected_head``) commit lost its race: the head
    moved since the writer read its base state, and the interim commits
    are not provably disjoint from this write."""

    def __init__(
        self,
        table: TableName,
        expected_head: str,
        actual_head: str,
        overlapping: Sequence[str] = (),
    ):
        detail = (
            f" (overlapping partitions: {', '.join(overlapping)})"
            if overlapping
            else ""
        )
        super().__init__(
            f"commit conflict on {table}: head moved "
            f"{expected_head} -> {actual_head}{detail}"
        )
        self.table = table
        self.expected_head = expected_head
        self.actual_head = actual_head
        self.overlapping = tuple(overlapping)


def _touched_partitions(update: TableUpdate) -> Tuple[Set[Partition], bool]:
    """(partitions this commit writes or removes, touches-whole-table?)."""
    parts: Set[Partition] = set()
    whole = False
    for op in update.operations:
        if isinstance(op, (AddPartitionVersion, RemovePartition)):
            parts.add(op.partition)
        elif isinstance(op, AddTableVersion):
            whole = True
    return parts, whole


def _as_utc(ts) -> datetime:
    """A datetime or ISO-8601 string as an aware datetime; naive = UTC
    (the timestamp time-travel convention)."""
    if isinstance(ts, str):
        ts = datetime.fromisoformat(ts)
    return ts if ts.tzinfo is not None else ts.replace(tzinfo=timezone.utc)


def head_of(tracker, table: TableName) -> str:
    """The current head commit id, from the head POINTER alone where the
    backend offers the cheap read (files: one small-file read; sqlite:
    one indexed point read) — calling ``table_state(...).current_version``
    for just the head materializes the whole update log, which is the
    O(history)-per-call tax the round-11 metadata-plane work removed
    from every operator that pins an optimistic base."""
    fn = getattr(tracker, "head_commit_id", None)
    if fn is not None:
        return fn(table)
    return tracker.table_state(table).current_version


@dataclass(frozen=True)
class TableState:
    """Head commit id + updates in ascending time order
    (VersionTracker.scala:137-151)."""

    current_version: str  # head commit id
    updates: Sequence[TableUpdate]


class VersionTracker(abc.ABC):
    # -- backend primitives -------------------------------------------------

    @abc.abstractmethod
    def tables(self) -> List[TableName]:
        """All tracked tables (VersionTracker.scala:19)."""

    @abc.abstractmethod
    def table_state(self, table: TableName) -> TableState:
        """Head + ascending updates stream (VersionTracker.scala:85).
        Raises UnknownTableError."""

    @abc.abstractmethod
    def _append_commit(self, table: TableName, update: TableUpdate) -> None:
        """Append a commit and advance the head pointer."""

    @abc.abstractmethod
    def _set_head(self, table: TableName, commit_id: str) -> None:
        """Move the head pointer to an existing commit."""

    @abc.abstractmethod
    def _table_exists(self, table: TableName) -> bool: ...

    @abc.abstractmethod
    def _write_tag(self, table: TableName, name: str, commit_id: str) -> None:
        """Store/overwrite a named tag pointer."""

    @abc.abstractmethod
    def _read_tags(self, table: TableName) -> Dict[str, str]:
        """All tag pointers for a table: name → commit id."""

    @abc.abstractmethod
    def _delete_tag(self, table: TableName, name: str) -> None:
        """Remove a stored tag pointer (caller validated existence)."""

    @abc.abstractmethod
    def _drop_table(self, table: TableName) -> None:
        """Remove the table's log, head pointer, and tags from the store."""

    @abc.abstractmethod
    def _create_table(self, table: TableName, init_update: TableUpdate, is_snapshot: bool) -> None:
        """Create tracking state with the initial commit."""

    # -- shared derived operations -----------------------------------------

    def init_table(
        self,
        table: TableName,
        is_snapshot: bool,
        user_id: str,
        message: str = "init",
        timestamp: Optional[datetime] = None,
    ) -> None:
        """Begin tracking; idempotent no-op if already tracked
        (VersionTracker.scala:27-32, VersionTrackerSpec.scala:57-77)."""
        if self._table_exists(table):
            return
        meta = TableUpdateMetadata.new(user_id, message, timestamp or datetime.now(timezone.utc))
        init = TableUpdate(meta, (InitTable(table.fully_qualified, is_snapshot),))
        self._create_table(table, init, is_snapshot)

    def _serialized_commit(self, table: TableName):
        """Context under which a check-then-append is atomic for this
        backend.  Default: no serialization (last-writer-wins, the
        reference's documented stance) — backends override with their
        native mutual exclusion (RLock, flock)."""
        return contextlib.nullcontext()

    def drop_table(self, table: TableName) -> None:
        """Stop tracking ``table``: remove its log, head pointer, and tags.

        Beyond reference parity (the reference has no deletion surface) —
        needed so branches (:mod:`chronicles_spark.branching`) can be
        discarded after merge.  DATA DIRECTORIES ARE NOT TOUCHED: version
        directories only this log referenced become unreferenced storage,
        reclaimable by ``vacuum(..., sweep_orphans=True)``.  Raises
        ``UnknownTableError``."""
        if not self._table_exists(table):
            raise UnknownTableError(table)
        self._drop_table(table)

    def commit(
        self,
        table: TableName,
        update: TableUpdate,
        expected_head: Optional[str] = None,
        allow_disjoint: bool = True,
    ) -> None:
        """Append a commit; errors on unknown table (VersionTracker.scala:66).

        ``expected_head`` turns the append into an OPTIMISTIC commit
        (beyond reference parity — the reference documents last-writer-wins,
        FileBackedVersionTracker.scala:23-25; this is the Delta/Iceberg-style
        alternative).  The caller passes the head commit id it READ its base
        state at; if the head has moved since:

        - with ``allow_disjoint=True`` (default), the commit still lands
          when every interim commit touched a DISJOINT set of partitions
          (pure appends, no rollback, no whole-table snapshot writes) —
          two writers filling different dates of a 100k-partition table
          never conflict;
        - otherwise :class:`CommitConflictError` is raised and the caller
          re-reads and retries.

        Atomicity of the check-then-append follows the backend's commit
        serialization: full for sqlite/in-memory within a process and for
        the files tracker with ``use_lock=True`` across processes; for an
        unlocked files tracker the check is best-effort (same window its
        plain commits already have).
        """
        if not self._table_exists(table):
            raise UnknownTableError(table)
        if expected_head is None:
            self._append_commit(table, update)
            return
        with self._serialized_commit(table):
            self._check_expected_head(table, update, expected_head, allow_disjoint)
            self._append_commit(table, update)

    def _check_expected_head(
        self,
        table: TableName,
        update: TableUpdate,
        expected_head: str,
        allow_disjoint: bool,
    ) -> None:
        """The optimistic-commit conflict check (shared by :meth:`commit`
        and :meth:`commit_group`); the caller holds the table's commit
        serialization across check-then-append.

        The no-race happy path — head still equals the writer's pin — is
        decided from the head pointer ALONE where the backend offers a
        cheap read (files: one small-file read; sqlite: one indexed point
        read), because materializing the full update stream here would
        make every optimistic commit O(commit history): the round-11
        real-extend read-count test caught exactly that (the RMW
        operators' base resolution was O(tail) while their commit's
        conflict check silently re-read the whole log).  Only a moved
        head (a real race) pays the full interim analysis."""
        head_fn = getattr(self, "head_commit_id", None)
        if head_fn is not None and head_fn(table) == expected_head:
            return
        resolved = self._interim_since(table, expected_head)
        if resolved is None:
            state = self.table_state(table)
            if state.current_version == expected_head:
                return
            ids = [u.metadata.commit_id for u in state.updates]
            if expected_head not in ids:
                raise UnknownCommitError(expected_head)
            interim = list(state.updates)[ids.index(expected_head) + 1:]
            current_head = state.current_version
            head_at_top = current_head == ids[-1]
        else:
            interim, current_head, head_at_top = resolved
            if current_head == expected_head:
                return
        mine, mine_whole = _touched_partitions(update)
        theirs: Set[Partition] = set()
        theirs_whole = False
        for u in interim:
            t, w = _touched_partitions(u)
            theirs |= t
            theirs_whole = theirs_whole or w
        overlap = mine & theirs
        # auto-merge is sound only if the head advanced by pure
        # appends (head == newest log entry): after a rollback the
        # writer's base state is not a prefix of the current state
        mergeable = (
            allow_disjoint
            and head_at_top
            and not mine_whole
            and not theirs_whole
            and not overlap
        )
        if not mergeable:
            raise CommitConflictError(
                table,
                expected_head,
                current_head,
                sorted(p.path for p in overlap),
            )

    def _interim_since(self, table: TableName, expected_head: str):
        """Backwards chunked resolution of the commits AFTER
        ``expected_head`` — O(distance the head moved since the writer's
        pin), never O(commit history).  Returns ``(interim_updates_in_
        log_order, current_head, head_at_top)`` or None when the backend
        lacks the seq-slice surface (memory tracker: table_state is
        in-process-cheap there).  Raises UnknownCommitError when
        ``expected_head`` is not in the log at all — discovered only
        after the full backwards walk, the same worst case the
        positional path pays for a bogus pin."""
        update_seqs = getattr(self, "update_seqs", None)
        in_range = getattr(self, "updates_in_seq_range", None)
        head_fn = getattr(self, "head_commit_id", None)
        if update_seqs is None or in_range is None or head_fn is None:
            return None
        seqs = update_seqs(table)
        if not seqs:
            raise UnknownCommitError(expected_head)
        current_head = head_fn(table)
        newest_id = None
        interim_rev: list = []
        hi = len(seqs)
        found = False
        while hi > 0 and not found:
            lo = max(0, hi - 64)
            chunk = in_range(table, seqs[lo] - 1, seqs[hi - 1])
            for u in reversed(list(chunk)):
                if newest_id is None:
                    newest_id = u.metadata.commit_id
                if u.metadata.commit_id == expected_head:
                    found = True
                    break
                interim_rev.append(u)
            hi = lo
        if not found:
            raise UnknownCommitError(expected_head)
        interim_rev.reverse()
        return interim_rev, current_head, current_head == newest_id

    def commit_group(
        self,
        updates: "Dict[TableName, TableUpdate]",
        expected_heads: "Optional[Dict[TableName, str]]" = None,
        allow_disjoint: bool = True,
    ) -> None:
        """Append one commit to EACH table as a group — the cross-table
        transaction for pipelines whose tables must stay mutually
        consistent (e.g. ``documents`` + ``embeddings`` refreshed
        together).  Beyond reference parity (the reference commits one
        table at a time).

        Atomicity is the backend's native best:

        * sqlite — ONE SERIALIZABLE transaction: readers see all of the
          group's commits or none (overridden there);
        * in-memory — all appends under the single state lock;
        * files — per-table appends under each table's commit guard, in
          sorted table order (deterministic, deadlock-free with
          ``use_lock=True``); a crash mid-group leaves a prefix of the
          group committed — the same exposure its single-table commits
          already have, one table at a time.

        All tables are validated up front so an unknown table fails the
        whole group before anything lands, and every table's commit
        serialization is HELD ACROSS the whole loop (acquired in sorted
        table order — deadlock-free), so backends with real locks
        (in-memory RLock, files+flock) never expose or interleave a
        half-appended group.

        ``expected_heads`` makes the group OPTIMISTIC per table (same
        semantics as :meth:`commit`'s ``expected_head``): every listed
        table's conflict check runs UNDER the held serialization BEFORE
        any table's append, so a conflict anywhere fails the whole group
        with nothing landed — the cross-table read-modify-write primitive
        (e.g. an ANN index + its id-map companion extended from one
        pinned base)."""
        import contextlib as _ctx

        ordered = sorted(updates, key=lambda t: t.fully_qualified)
        with _ctx.ExitStack() as stack:
            for table in ordered:
                stack.enter_context(self._serialized_commit(table))
            # validation runs UNDER the held serialization so a concurrent
            # drop_table cannot slip between the check and the appends and
            # leave a half-committed group
            for table in ordered:
                if not self._table_exists(table):
                    raise UnknownTableError(table)
            if expected_heads:
                # ALL conflict checks precede ANY append: a conflict on
                # the second table must not leave the first one committed
                for table in ordered:
                    if table in expected_heads:
                        self._check_expected_head(
                            table, updates[table],
                            expected_heads[table], allow_disjoint,
                        )
            for table in ordered:
                self._append_commit(table, updates[table])

    def set_current_version(self, table: TableName, commit_id: str) -> None:
        """Move head to an existing commit — rollback/forward
        (VersionTracker.scala:71) — by :meth:`_checkout`, whose
        ``version_at`` proves the commit exists (raising
        UnknownTableError / UnknownCommitError before the head moves)."""
        self._checkout(table, commit_id)

    def _checkout(self, table: TableName, commit_id: str):
        """Move the head to an existing commit and return the folded table
        version there — the tracker half of ``VersionedMetastore.checkout``
        (VersionedMetastore.scala:71-78).  :meth:`version_at` proves the
        commit exists and folds it in one pass (O(tail) on the
        checkpointed backends); it raises UnknownTableError /
        UnknownCommitError before the head moves."""
        tv = self.version_at(table, commit_id)
        self._set_head(table, commit_id)
        return tv

    # -- tags (beyond reference parity: git-tag-style data-version pinning) --
    # A tag is an IMMUTABLE named pointer to a commit — "the exact corpus
    # state training run X consumed".  Tags never move the head and never
    # affect folds; their one side effect is on vacuum, which keeps every
    # tagged state's live directories so a pinned read can never break.

    def set_tag(
        self,
        table: TableName,
        name: str,
        commit_id: Optional[str] = None,
        force: bool = False,
    ) -> str:
        """Pin ``name`` to ``commit_id`` (default: the current head).
        Returns the pinned commit id.  Re-tagging an existing name raises
        unless ``force=True`` (git tag semantics); unknown commits raise
        ``UnknownCommitError``."""
        if not TAG_NAME_RE.match(name):
            raise ValueError(
                f"invalid tag name {name!r}: use letters/digits/._- "
                "(max 100 chars, must start alphanumeric)"
            )
        # the exists-check-then-write is bracketed by the backend's commit
        # serialization (flock / RLock / sqlite txn lock) so two racing
        # set_tag calls cannot both pass the immutability check — same
        # atomicity story (and same unlocked-files caveat) as commits
        with self._serialized_commit(table):
            state = self.table_state(table)  # raises UnknownTableError
            if commit_id is None:
                commit_id = state.current_version
            elif not any(u.metadata.commit_id == commit_id for u in state.updates):
                raise UnknownCommitError(commit_id)
            if not force and name in self._read_tags(table):
                raise ValueError(
                    f"tag {name!r} already exists on {table}; tags are "
                    "immutable — pass force=True to move it"
                )
            self._write_tag(table, name, commit_id)
        return commit_id

    def tags(self, table: TableName) -> Dict[str, str]:
        """All tags: name → commit id.  Raises UnknownTableError."""
        if not self._table_exists(table):
            raise UnknownTableError(table)
        return dict(self._read_tags(table))

    def tag_commit(self, table: TableName, name: str) -> str:
        """The commit id a tag pins.  Raises UnknownTagError."""
        tags = self.tags(table)
        if name not in tags:
            raise UnknownTagError(name)
        return tags[name]

    def delete_tag(self, table: TableName, name: str) -> None:
        """Drop a tag (its versions become vacuum-eligible again)."""
        self.tag_commit(table, name)  # raises if missing
        self._delete_tag(table, name)

    def version_at_tag(self, table: TableName, name: str):
        """Resolved table state at a tag — ``version_at`` sugar."""
        return self.version_at(table, self.tag_commit(table, name))

    def current_version(self, table: TableName):
        """Fold ops up to head (VersionTracker.scala:37-55)."""
        state = self.table_state(table)
        return fold.current_version(state.updates, state.current_version)

    def commit_at_timestamp(self, table: TableName, ts) -> str:
        """The NEWEST commit (in log order) whose metadata timestamp is
        ≤ ``ts`` — Delta-style timestamp time travel resolution.  ``ts``
        may be a datetime (naive = UTC) or an ISO-8601 string.  Raises
        ``UnknownCommitError`` when the table has no commit that early.

        Commit timestamps come from writer clocks; the log ORDER stays
        authoritative — on (rare) non-monotonic timestamps the latest
        log-ordered qualifying commit wins, so resolution is deterministic.
        """
        ts = _as_utc(ts)

        def _qualifies(u) -> bool:
            return _as_utc(u.metadata.timestamp) <= ts

        # "newest log-ordered qualifying commit" means a BACKWARD scan can
        # stop at the first qualifying commit it meets — O(commits newer
        # than ts), not O(history), on trackers with the positional tail
        # surface (round 11; the stream-epoch probe's chunk pattern).  A
        # forward full scan keeping the last qualifying commit is the
        # identical answer by construction, including under (rare)
        # non-monotonic cross-writer timestamps.
        count = getattr(self, "update_count", None)
        sl = getattr(self, "updates_slice", None)
        if count is not None and sl is not None:
            hi = count(table)
            chunk = 256
            while hi > 0:
                lo = max(0, hi - chunk)
                for u in reversed(sl(table, lo, hi)):
                    if _qualifies(u):
                        return u.metadata.commit_id
                hi = lo
            raise UnknownCommitError(
                None, f"no commit at or before {ts.isoformat()}"
            )
        best: Optional[str] = None
        for u in self.table_state(table).updates:
            if _qualifies(u):
                best = u.metadata.commit_id
        if best is None:
            raise UnknownCommitError(
                None, f"no commit at or before {ts.isoformat()}"
            )
        return best

    def version_at_timestamp(self, table: TableName, ts):
        """Resolved table state as of a wall-clock time — ``version_at``
        at :meth:`commit_at_timestamp`'s resolution."""
        return self.version_at(table, self.commit_at_timestamp(table, ts))

    def version_at(self, table: TableName, commit_id: str):
        """Fold ops up to an ARBITRARY existing commit — the read-only
        time-travel resolution (same cutoff semantics as current_version,
        without moving the head).  Raises UnknownCommitError for ids not in
        the log: ``take_through`` past an unknown id would silently fold
        the WHOLE log, so a typo'd commit must fail, not read head state.
        Backends with fold checkpoints override this with an O(tail) path."""
        state = self.table_state(table)
        if not any(u.metadata.commit_id == commit_id for u in state.updates):
            raise UnknownCommitError(commit_id)
        return fold.current_version(state.updates, commit_id)

    def updates(self, table: TableName) -> List[TableUpdateMetadata]:
        """Commit history, most recent first (VersionTracker.scala:58-61)."""
        state = self.table_state(table)
        return [u.metadata for u in reversed(list(state.updates))]

    def is_snapshot_table(self, table: TableName) -> bool:
        state = self.table_state(table)
        return fold.is_snapshot_from_updates(state.updates)
