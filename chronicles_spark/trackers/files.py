"""Filesystem-backed VersionTracker: one JSON file per commit.

Reference: files/src/main/scala/dev/chronicles/files/FileBackedVersionTracker.scala:30-176
and layout helpers :157-175. Layout under a root directory:

    <root>/_chronicles_table_<schema>.<name>/
        table-metadata                # {"is_snapshot": bool}
        head_ref                      # {"head_ref": "<commit uuid>"}
        table_update_<ms13>.json      # one commit per file; the 13-digit
                                      # zero-padded monotonic-ms filename
                                      # sorts in commit order
        checkpoint_<seq13>.json       # fold checkpoint (see below)
        commits_<seq13>.json          # commit index of one checkpoint cut:
                                      # {"lo": seq, "commits": [[seq, id,
                                      # timestamp, user, message], ...]}
                                      # for the live commits in (lo, seq]

Storage goes through the :mod:`.fs` facade (≙ PureFileSystem.scala:13-52),
so the commit log can live on local disk (default), in memory
(``memory://`` URLs, tests), or any fsspec scheme (s3://, hdfs://, ...)
where fsspec is installed — a versioned lake at 100 TB keeps its log next
to the data on the object store.

Like the reference (FileBackedVersionTracker.scala:23-25) this backend is
last-writer-wins on head_ref by DEFAULT — weaker concurrency guarantees
than the sqlite tracker, documented and accepted.  Two opt-in upgrades:

* ``use_lock=True`` — serialized multi-writer commits on a HOST-LOCAL
  filesystem: an exclusive POSIX ``flock`` per table directory brackets
  each commit (file write + head_ref advance), and commit filenames are
  collision-checked against the directory under the lock, so concurrent
  writers from separate OS processes lose nothing (raced in
  ``tests/test_concurrency_multiprocess.py``).  POSIX advisory locks are
  host-local — do not use on NFS or object stores.
* ``use_cas=True`` — lock-free multi-writer commit safety for OBJECT
  STORES (and anywhere without shared flock): each commit file is
  published with an atomic create-if-absent (S3 ``If-None-Match: *``,
  GCS generation preconditions, POSIX ``link(2)`` locally); a name
  collision means another writer claimed that sequence slot, and the
  loser retries one higher — no commit file is ever overwritten (the
  silent-loss hazard of two same-millisecond writers in the default
  mode).  The head_ref advance is monotonic on commit sequence and
  best-effort (see ``_advance_head``); requires a filesystem whose
  ``supports_put_if_absent()`` is True.  Full design + per-backend
  guarantee matrix: docs/scale.md "Multi-writer commit safety".

The commit-file-per-commit design is the same shape as a Delta log
directory, so the live log is also readable distributed via
``spark.read.json(<root>/_chronicles_table_*/table_update_*.json)``
(after :meth:`archive_commits`, archived history lives in
``archive_*.json`` chunk artifacts whose ``entries`` hold the same
update documents — the tracker surfaces merge both transparently, and
``spark/log_reader.py::commit_log_df`` is the distributed read that
merges live files + archived chunks into one DataFrame).

Fold checkpoints (beyond reference parity; Delta-checkpoint-style):
every ``checkpoint_interval`` commits the tracker persists the folded
``(partition → version)`` state of the full log prefix as
``checkpoint_<seq>.json`` plus a ``_last_checkpoint`` pointer, and
``current_version`` then reads ONLY the checkpoint and the commits after
it — O(tail), not O(log), table resolution on a million-commit table.
The checkpoint is a pure function of log ORDER (never of the head), so it
stays valid across rollbacks: a head at or after the checkpoint folds as
checkpoint+tail; a head rolled back BEFORE it is located by a newest-first
commit-id walk and folds from the newest retained checkpoint at or below
it (reference cutoff semantics, VersionTracker.scala:37-55, including
re-surfacing rolled-back commits when a later write re-advances the head
past them).  A missing or corrupt checkpoint is never an error — readers
degrade to the full fold; commit files remain the only source of truth.

Commit index: each cut also writes ``commits_<seq>.json``, the header
(id, timestamp, user, message) of every commit in its segment, copied
verbatim from the commit files the cut folds.  Locating a commit by id
or timestamp and listing ``updates()`` walk the log newest-first over the
tail files above the newest cut and then one index per cut, so checkout,
time travel and history read about (cuts + ``checkpoint_interval``)
files rather than every commit newer than their target, and each commit
file is read and decoded at most once per resolution.  An index is used
only when its seq list equals the live seqs the same listing shows in its
segment; any other segment (gap-filled, archived, index missing or
corrupt, log written before the index existed) is read file by file.
"""

from __future__ import annotations

import bisect
import heapq
import json
import re
import threading
import time
import uuid as _uuid
import zlib
from contextlib import contextmanager
from datetime import datetime
from typing import List

from ..core import fold
from ..core.clock import MonotonicClock
from ..core.markers import newest_pair_label
from ..core.model import TableName
from ..core.ops import (
    TableUpdate,
    TableUpdateMetadata,
    update_from_dict,
    update_from_json,
    update_to_json,
)
from .base import (
    TableState,
    UnknownCommitError,
    UnknownTableError,
    VersionTracker,
    _as_utc,
)
from .fs import FileSystem, LocalFileSystem, filesystem_for

_TABLE_DIR_RE = re.compile(r"^_chronicles_table_([\w\-]+)\.([\w\-]+)$")
_UPDATE_FILE_RE = re.compile(r"^table_update_(\d+)\.json$")
_CHECKPOINT_FILE_RE = re.compile(r"^checkpoint_(\d+)\.json$")
# a cut's commit index (module docstring); the name matches neither a
# commit, an archive nor a checkpoint, so readers that predate it skip it
_SIDECAR_FILE_RE = re.compile(r"^commits_(\d+)\.json$")
# commit-log archive: a checkpoint-covered PREFIX of commit files packed
# into size-capped CHUNK artifacts (docs/scale.md "commit-log archival").
# The filename carries (first_seq, last_seq, n_entries, crc32-of-body):
# the middle two let every fast path count archived commits from the
# directory LISTING alone (no archive reads on hot paths), first/last let
# ranged reads touch ONLY the chunks overlapping their seq window, and
# the crc makes the name content-unique so the process-wide parse cache
# below needs no invalidation I/O.  The legacy round-12 single-blob name
# (no ``first-`` part) still parses — its bounds are (unknown, last), so
# it is never range-pruned, only read.
_ARCHIVE_FILE_RE = re.compile(
    r"^archive_(?:(?P<first>\d{13})-)?(?P<last>\d{13})"
    r"_(?P<n>\d{8})_(?P<crc>[0-9a-f]{8})\.json$"
)
_ARCHIVE_FLOOR_FILE = "_archive_floor"
_ARCHIVE_LEASE_FILE = "_archive_lease"


def _archive_first_seq(name: str) -> "int | None":
    """Lowest seq in a chunk artifact, from its NAME alone (None for a
    legacy blob name — callers must then read it rather than prune it)."""
    m = _ARCHIVE_FILE_RE.match(name)
    return int(m.group("first")) if m and m.group("first") else None


def _entry_pair(e) -> tuple:
    """One archive entry → ``(seq, update doc)``.  Format 3 entries are
    ``{"s": seq, "u": doc}`` objects — a uniform struct Spark's JSON
    reader can type, which is what makes the archived log distributed-
    readable (spark/log_reader.py); format ≤2 wrote ``[seq, doc]``
    tuples, still parsed here so a consolidation absorbs them."""
    if isinstance(e, dict):
        return int(e["s"]), e["u"]
    return int(e[0]), e[1]


def _doc_header(seq: int, doc: dict) -> list:
    """A commit's commit-index record, ``[seq, commit_id, timestamp,
    user_id, message]``: the commit document's own metadata strings."""
    return [
        seq, doc["commit_id"], doc["timestamp"], doc["user_id"], doc["message"]
    ]


def _header_metadata(rec) -> TableUpdateMetadata:
    """The metadata of a commit-index record — equal to
    ``metadata_from_dict`` of the commit document it was copied from."""
    return TableUpdateMetadata(
        commit_id=rec[1],
        user_id=rec[3],
        message=rec[4],
        timestamp=datetime.fromisoformat(rec[2]),
    )


def _select_disjoint_cover(seqs_by: dict) -> set:
    """Names of the artifacts to KEEP so the set is a DISJOINT exact
    cover of the archived seq union — the crash/race repair's core
    (hypothesis-fuzzed in tests/test_commit_archive.py).

    Every artifact is a contiguous slice of the union (incremental runs
    pack complete prefix slices; chunks are consecutive slices of the
    merged stream), so a disjoint cover is a CHAIN of slices: pick one
    by DP over union positions, preferring the LONGEST artifact at each
    start — a completed consolidation beats the generation it replaced,
    and a partial (mid-write crash) one loses to the still-complete old
    generation because its chain dead-ends.  Degrades to keep-everything
    when an artifact is not a contiguous slice (foreign/corrupt) or no
    chain covers the union (should not happen: at least one complete
    generation always exists).  O(total archived seqs +
    artifacts·log(artifacts)), never O(artifacts²) set math."""
    if not seqs_by:
        return set()
    union = sorted(set().union(*seqs_by.values()))
    pos = {s: i for i, s in enumerate(union)}
    n_pos = len(union)
    starts: dict = {}
    for name, t in seqs_by.items():
        i, j = pos[t[0]], pos[t[-1]]
        if len(t) != j - i + 1:
            return set(seqs_by)  # foreign/corrupt: repair declines
        starts.setdefault(i, []).append((j, name))
    ok = [False] * (n_pos + 1)
    ok[n_pos] = True
    choice: list = [None] * n_pos
    for i in range(n_pos - 1, -1, -1):
        for j, name in sorted(starts.get(i, ()), reverse=True):
            if ok[j + 1]:
                ok[i], choice[i] = True, (j, name)
                break
    if not ok[0]:
        return set(seqs_by)  # no disjoint chain: keep everything
    kept = set()
    i = 0
    while i < n_pos:
        j, name = choice[i]
        kept.add(name)
        i = j + 1
    return kept


# process-wide archive parse caches.  Sound because archive files are
# immutable by construction (content-unique names: same path+name ⇒ same
# bytes).  Seqs ride a FIFO-capped map (8 bytes/commit per chunk — the
# CDC source's per-poll update_seqs stays O(live listing) after the
# first poll; the cap keeps a long-lived driver from accumulating one
# generation of superseded chunks per consolidation); full update bodies
# are only needed on degrade/deep-travel paths, so they ride a small
# LRU.  _MERGED holds ONE generation per table directory — the union seq
# tuple for the CURRENT archive set; a consolidation that changes the
# set evicts the stale generation on the next poll instead of leaking
# O(history) ints per archival run.
_ARCHIVE_SEQ_CACHE: dict = {}
_ARCHIVE_SEQ_CACHE_MAX = 128
_ARCHIVE_MERGED_CACHE: "dict[str, tuple]" = {}
_ARCHIVE_BODY_CACHE: "dict[str, list]" = {}
_ARCHIVE_BODY_CACHE_MAX = 4


class _ArchiveVanished(Exception):
    """An archive artifact listed a moment ago is gone: a consolidation
    replaced it with a superseding artifact between our listing and our
    read.  Retryable — a fresh listing sees the superseding artifact."""


class FileBackedVersionTracker(VersionTracker):
    def __init__(
        self,
        root: str,
        fs: FileSystem | None = None,
        use_lock: bool = False,
        checkpoint_interval: int | None = 100,
        use_cas: bool = False,
    ) -> None:
        if fs is None:
            fs, root = filesystem_for(str(root))
        self.fs = fs
        self.root = str(root)
        self.fs.mkdirs(self.root)
        self._clock = MonotonicClock()
        self._use_lock = bool(use_lock)
        self._use_cas = bool(use_cas)
        if self._use_cas and self._use_lock:
            raise ValueError(
                "use_cas and use_lock are alternative commit protocols — "
                "pick one (flock for host-local logs, CAS for object stores)"
            )
        if self._use_cas and not fs.supports_put_if_absent():
            raise ValueError(
                "use_cas needs an atomic create-if-absent filesystem "
                "(local disk, memory://, or an fsspec backend constructed "
                "with conditional_put=True over S3 If-None-Match / GCS "
                "generation preconditions)"
            )
        # re-entrancy guard must be per-THREAD: flock is per open file
        # description, so two threads sharing this instance must each take
        # their own fd and block each other — an instance-shared set would
        # let a second thread skip the lock a first thread holds
        self._held_locks = threading.local()
        # per-table-dir cache of the archive floor (highest archived commit
        # seq): read once per instance, refreshed by archive_commits and by
        # the CAS post-claim check — keeps the plain-mode commit path at
        # one extra small read per DIRECTORY, not per commit
        self._floor_cache: dict = {}
        self._lease_owner: dict = {}  # table dir → our live lease token
        # per-table-dir count of commits since the last EXACT checkpoint
        # check (the exact check lists the dir — see _maybe_checkpoint's
        # O(1) fast path); cadence hint only, never a correctness input
        self._ck_pending: dict = {}
        if checkpoint_interval is not None and checkpoint_interval < 1:
            raise ValueError("checkpoint_interval must be >= 1 (or None to disable)")
        self._checkpoint_interval = checkpoint_interval
        if self._use_lock and not isinstance(self.fs, LocalFileSystem):
            raise ValueError(
                "use_lock needs a local filesystem path (POSIX flock); "
                "for object-store logs use the default last-writer-wins "
                "mode or the sqlite tracker"
            )

    # -- layout -------------------------------------------------------------

    def _table_dir(self, table: TableName) -> str:
        return self.fs.join(self.root, f"_chronicles_table_{table.fully_qualified}")

    # -- primitives ---------------------------------------------------------

    def tables(self) -> List[TableName]:
        out = []
        for name in self.fs.list_dir(self.root):
            m = _TABLE_DIR_RE.match(name)
            if m and self.fs.is_dir(self.fs.join(self.root, name)):
                out.append(TableName(m.group(1), m.group(2)))
        return sorted(out)

    def _table_exists(self, table: TableName) -> bool:
        return self.fs.exists(self.fs.join(self._table_dir(table), "table-metadata"))

    def _create_table(self, table: TableName, init_update: TableUpdate, is_snapshot: bool) -> None:
        d = self._table_dir(table)
        self.fs.mkdirs(d)
        self.fs.write_text(
            self.fs.join(d, "table-metadata"), json.dumps({"is_snapshot": is_snapshot})
        )
        seq = self._write_commit_file(d, init_update)
        self._advance_head(d, init_update.metadata.commit_id, seq)

    def _drop_table(self, table: TableName) -> None:
        # remove the metadata marker FIRST so a racing reader that lists
        # mid-delete sees a not-a-table dir, not a half-table
        self.fs.remove_file(self.fs.join(self._table_dir(table), "table-metadata"))
        self.fs.remove_tree(self._table_dir(table))

    @contextmanager
    def _commit_guard(self, d: str):
        """Exclusive per-table-directory flock when ``use_lock`` is on;
        no-op otherwise (default last-writer-wins).  Re-entrant within one
        THREAD of the instance: an optimistic commit holds the guard across
        its check-then-append, and the nested append must not flock a
        second fd against itself (flock from two fds of one thread
        deadlocks) — while a DIFFERENT thread must still open its own fd
        and block, so the held-set is thread-local."""
        held = getattr(self._held_locks, "dirs", None)
        if held is None:
            held = self._held_locks.dirs = set()
        if not self._use_lock or d in held:
            yield
            return
        import fcntl

        self.fs.mkdirs(d)
        with open(self.fs.join(d, ".commit_lock"), "a+") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            held.add(d)
            try:
                yield
            finally:
                held.discard(d)
                fcntl.flock(f, fcntl.LOCK_UN)

    def _serialized_commit(self, table: TableName):
        """Optimistic check-then-append atomicity: cross-process via flock
        with ``use_lock=True``; best-effort otherwise (the same window the
        default last-writer-wins commits already have)."""
        return self._commit_guard(self._table_dir(table))

    def hold_commit_lock(self, table: TableName):
        """PUBLIC context manager holding this table's commit flock for
        the caller's whole critical section — the supported surface for
        read-modify-write operators that must serialize across OS
        processes (e.g. ``extend_ann_index(exclusive=True)``), so they
        need not reach into tracker internals.  Re-entrant within the
        holding thread: commits issued inside the block take the guard
        without re-flocking.  Requires ``use_lock=True`` — without the
        flock the context would be a silent no-op that callers would
        mistake for mutual exclusion."""
        if not self._use_lock:
            raise ValueError(
                "hold_commit_lock requires use_lock=True (the per-table "
                "flock is what provides the cross-process exclusion)"
            )
        return self._commit_guard(self._table_dir(table))

    def _write_commit_file(self, d: str, update: TableUpdate) -> int:
        ts = self._clock.next_timestamp_ms()
        # archived sequence slots must never be re-claimed: their files
        # were DELETED by archive_commits, so conditional-create alone no
        # longer protects them.  The floor (highest archived seq) is read
        # once per instance per directory — sequential fresh instances
        # with lagging clocks land above it; concurrent-archival windows
        # are closed per mode below (flock / CAS post-claim re-check).
        floor = self._floor_cache.get(d)
        if floor is None:
            floor = self._floor_cache[d] = self._read_floor_seq(d)
        if ts <= floor:
            ts = floor + 1
        if self._use_lock or self._use_cas:
            # the per-process monotonic clock cannot see OTHER processes'
            # filenames; under flock a directory check is race-free, and
            # in CAS mode it just seeds the first create attempt.  Archive
            # artifact names carry their cut seq, so the same listing also
            # seeds above anything a racer archived since the floor read.
            live, archives = self._scan_dir(d)
            existing = [s for s, _ in live] + [a for a, _, _ in archives]
            if existing:
                ts = max(ts, max(existing) + 1)
        payload = update_to_json(update)
        if self._use_cas:
            # rename-if-absent commit protocol (Delta-log style): claim
            # the next free sequence number with an ATOMIC conditional
            # put; a racer claiming the same name loses the create and
            # retries one higher — no commit file is ever overwritten
            for _ in range(4096):
                if self.fs.write_text_if_absent(
                    self.fs.join(d, f"table_update_{ts:013d}.json"), payload
                ):
                    # post-claim floor re-check: a concurrent archiver
                    # CAS-advances the floor BEFORE deleting any file, so
                    # if our create landed on a slot a delete just freed,
                    # this read (strongly consistent on S3) must see the
                    # new floor — release the slot and go above it.  One
                    # small GET per CAS commit buys the no-duplicate-seq
                    # invariant across archival.
                    f2 = self._read_floor_seq(d)
                    if ts <= f2:
                        self.fs.remove_file(
                            self.fs.join(d, f"table_update_{ts:013d}.json")
                        )
                        self._floor_cache[d] = f2
                        ts = f2 + 1
                        continue
                    return ts
                ts += 1
            raise RuntimeError(
                "CAS commit could not claim a filename after 4096 attempts "
                "(pathological contention or a misbehaving filesystem)"
            )
        if self.fs.supports_put_if_absent():
            # PLAIN mode must not overwrite either: a burst of >1 commit
            # per ms runs the per-instance monotonic clock AHEAD of wall
            # time, so a FRESH instance's next commit can land on an
            # already-claimed sequence slot — a plain write_text there
            # silently DESTROYS the committed update it replaces (found
            # by the round-7 cadence regression test, latent since round
            # 3).  Conditional-create + bump-one-higher costs the same
            # single syscall on the happy path and turns the collision
            # into an append; the multi-WRITER head race stays the
            # documented last-writer-wins (that is about head_ref, never
            # about losing a committed file).
            for _ in range(4096):
                if self.fs.write_text_if_absent(
                    self.fs.join(d, f"table_update_{ts:013d}.json"), payload
                ):
                    return ts
                ts += 1
            raise RuntimeError(
                "commit could not claim a filename after 4096 attempts "
                "(pathological clock skew or a misbehaving filesystem)"
            )
        # backend without conditional create (fsspec sans conditional_put):
        # keep the historical best-effort write — its docstring already
        # carries the multi-writer caveat
        self.fs.write_text(
            self.fs.join(d, f"table_update_{ts:013d}.json"), payload
        )
        return ts

    def _append_commit(self, table: TableName, update: TableUpdate) -> None:
        d = self._table_dir(table)
        with self._commit_guard(d):
            seq = self._write_commit_file(d, update)
            self._advance_head(d, update.metadata.commit_id, seq)
            self._maybe_checkpoint(d)

    def _advance_head(self, d: str, commit_id: str, seq: int) -> None:
        """Point head_ref at a just-landed commit.  In CAS mode the
        advance is MONOTONIC on the commit sequence: if a concurrent
        writer already moved the head past ``seq``, skip — the fold
        through the newer head includes this commit anyway, and writing
        an older head would be indistinguishable from a rollback.

        Where the filesystem has a compare-and-swap (``write_text_if_
        match``: S3 If-Match on ETag, GCS generation preconditions, the
        local/memory implementations), the monotonic advance is FULLY
        atomic — a lost swap re-reads and re-decides, so the head can
        never move backwards.  Without it, the read-check-write window
        can briefly park the head one commit back; readers already treat
        newer files ahead of the head as in-flight, and the next advance
        converges (docs/scale.md "Multi-writer commit safety")."""
        head_path = self.fs.join(d, "head_ref")
        if not self._use_cas:
            self.fs.write_text(head_path, json.dumps({"head_ref": commit_id}))
            return
        doc = json.dumps({"head_ref": commit_id, "seq": seq})
        if self.fs.supports_put_if_match():
            for _ in range(64):
                try:
                    cur_text, token = self.fs.read_text_and_token(head_path)
                    cur_seq = int(json.loads(cur_text).get("seq", -1))
                except (FileNotFoundError, ValueError, KeyError):
                    cur_seq, token = -1, None
                if cur_seq >= seq:
                    return
                if self.fs.write_text_if_match(head_path, doc, token):
                    return
            # pathological churn: fall through to the best-effort path
        try:
            cur = json.loads(self.fs.read_text(head_path))
        except (FileNotFoundError, ValueError, KeyError):
            cur = {}
        if int(cur.get("seq", -1)) >= seq:
            return
        self.fs.write_text(head_path, doc)

    def _set_head(self, table: TableName, commit_id: str) -> None:
        d = self._table_dir(table)
        self.fs.write_text(self.fs.join(d, "head_ref"), json.dumps({"head_ref": commit_id}))

    def _retry_vanished(self, fn):
        """Re-run ``fn`` (which starts from a FRESH directory listing)
        when an archive artifact vanished mid-read — a consolidation
        replaced it; the new listing sees the superseding artifact.  The
        final attempt lets the error surface (a genuinely deleted archive
        is log corruption and must be loud)."""
        for _ in range(4):
            try:
                return fn()
            except _ArchiveVanished:
                continue
        try:
            return fn()
        except _ArchiveVanished as e:
            raise RuntimeError(
                f"a listed commit record kept vanishing mid-read across 5 "
                f"fresh listings ({e}) — a log file was deleted without a "
                "superseding archive artifact (corruption, not a racing "
                "consolidation)"
            ) from None

    def table_state(self, table: TableName) -> TableState:
        """Full log state — archived commits included (the archive is the
        log relocated, never a derived artifact), so every full-fold
        degrade path stays the ground truth after archival."""
        d = self._table_dir(table)
        if not self.fs.exists(self.fs.join(d, "table-metadata")):
            raise UnknownTableError(table)

        def _go():
            live, archives = self._scan_dir(d)
            updates = tuple(
                u for _, u in self._merged_updates(d, live, archives)
            )
            head = json.loads(
                self.fs.read_text(self.fs.join(d, "head_ref"))
            )["head_ref"]
            return TableState(head, updates)

        return self._retry_vanished(_go)

    def updates(self, table: TableName) -> List[TableUpdateMetadata]:
        """Commit history, most recent first (VersionTracker.scala:58-61),
        over the same merged, seq-deduped log as :meth:`table_state`
        (archived commits included), but metadata only: live commits come
        from the newest-first header walk (:meth:`_headers`), so a
        checkpointed log reads its tail files and one commit index per
        cut, and no commit's operations are decoded."""
        d = self._table_dir(table)
        if not self.fs.exists(self.fs.join(d, "table-metadata")):
            raise UnknownTableError(table)

        def _go():
            live, archives, _, sides = self._scan_cuts(d)
            merged = self._merged_updates(
                d, live, archives, metadata_only=True, sides=sides
            )
            return [m for _, m in reversed(merged)]

        return self._retry_vanished(_go)

    # -- tail access (streaming source support) -----------------------------
    # Commit files sort in commit order, so a position in the log maps to a
    # filename slice: a consumer that already folded the first n commits
    # needs one directory LISTING to learn the new count and then parses
    # ONLY the new files — O(new commits) per poll, never O(log).

    def update_count(self, table: TableName) -> int:
        """Number of commits — one listing plus the (per-process cached)
        archived seq union, so the count stays DEDUPED and positionally
        consistent with ``update_seqs``/``updates_slice`` even through a
        consolidation's transient artifact overlap or a crash leftover
        (summing archive-name counts would double-count those windows)."""
        return len(self.update_seqs(table))

    def updates_slice(self, table: TableName, start: int, end: int) -> tuple:
        """Updates at log positions [start, end) in commit order, parsing
        only those files (archive bodies only when the slice reaches
        below the archive floor)."""
        d = self._table_dir(table)
        if not self.fs.exists(self.fs.join(d, "table-metadata")):
            raise UnknownTableError(table)

        def _go():
            live, archives = self._scan_dir(d)
            seqs = self._merged_seq_list(d, live, archives)
            window = seqs[start:end]
            if not window:
                return ()
            return tuple(
                u
                for _, u in self._merged_updates(
                    d, live, archives, lo=window[0] - 1, hi=window[-1]
                )
            )

        return self._retry_vanished(_go)

    # -- tags: one tiny `tag_<name>` JSON file per tag in the table dir
    # (names are pre-validated to the filesystem-safe TAG_NAME_RE charset)

    def _write_tag(self, table: TableName, name: str, commit_id: str) -> None:
        d = self._table_dir(table)
        self.fs.write_text(
            self.fs.join(d, f"tag_{name}"), json.dumps({"commit_id": commit_id})
        )

    def _read_tags(self, table: TableName) -> dict:
        d = self._table_dir(table)
        out = {}
        for n in self.fs.list_dir(d):
            if n.startswith("tag_"):
                try:
                    out[n[len("tag_"):]] = json.loads(
                        self.fs.read_text(self.fs.join(d, n))
                    )["commit_id"]
                except (FileNotFoundError, KeyError, ValueError):
                    continue  # torn/foreign file is not a tag
        return out

    def _delete_tag(self, table: TableName, name: str) -> None:
        self.fs.remove_file(self.fs.join(self._table_dir(table), f"tag_{name}"))

    def head_commit_id(self, table: TableName) -> str:
        """The current head commit id — one small-file read, no log scan."""
        d = self._table_dir(table)
        if not self.fs.exists(self.fs.join(d, "table-metadata")):
            raise UnknownTableError(table)
        return self._read_head(d)

    def update_seqs(self, table: TableName) -> List[int]:
        """Commit sequence numbers (the filename timestamps), ascending,
        archived prefix included — one directory listing, no file reads
        after an archive's seqs are in the process cache (archives are
        immutable, so the first read per process is the last).  Unlike
        bare positions, sequence numbers are STABLE identifiers: a late
        writer whose clock lags cannot shift them, which is what lets the
        streaming source detect an insert inside an already-consumed
        prefix instead of silently skipping a commit — and archival keeps
        every consumed seq visible here, so CDC offsets recorded before
        an archival cut keep verifying after it."""
        d = self._table_dir(table)
        if not self.fs.exists(self.fs.join(d, "table-metadata")):
            raise UnknownTableError(table)

        def _go():
            live, archives = self._scan_dir(d)
            return self._merged_seq_list(d, live, archives)

        return self._retry_vanished(_go)

    def updates_in_seq_range(self, table: TableName, lo: int, hi: int) -> tuple:
        """Updates whose sequence ``s`` satisfies ``lo < s <= hi``, in
        commit order, parsing only those files; archive bodies are read
        only when the range reaches below the archive floor (the CDC
        source's polls stay live-files-only)."""
        d = self._table_dir(table)
        if not self.fs.exists(self.fs.join(d, "table-metadata")):
            raise UnknownTableError(table)

        def _go():
            live, archives = self._scan_dir(d)
            return tuple(
                u
                for _, u in self._merged_updates(
                    d, live, archives, lo=lo, hi=hi
                )
            )

        return self._retry_vanished(_go)

    # -- fold checkpoints ----------------------------------------------------
    # A checkpoint is the fold of the full log prefix up to (and including)
    # commit-file sequence ``last_seq`` — a pure function of log ORDER, never
    # of the head pointer, so one checkpoint serves every head at or after it
    # (the same invariant Delta's _last_checkpoint relies on).

    # -- commit-log archive access (docs/scale.md "commit-log archival") --

    def _scan_dir(self, d: str, with_checkpoints: bool = False):
        """ONE directory listing → (live [(seq, name)] ascending,
        archives [(last_seq, n_entries, name)] ascending[, checkpoint
        seqs ascending]) — every fast path derives its counts from this
        single listing, never from archive reads."""
        live, archives, cks, _ = self._scan_cuts(d)
        return (live, archives, cks) if with_checkpoints else (live, archives)

    def _scan_cuts(self, d: str):
        """:meth:`_scan_dir` with checkpoints, plus the commit-index seqs
        (ascending) of the same listing."""
        live, archives, cks, sides = [], [], [], []
        for n in self.fs.list_dir(d):
            if (m := _UPDATE_FILE_RE.match(n)):
                live.append((int(m.group(1)), n))
            elif (m := _ARCHIVE_FILE_RE.match(n)):
                archives.append((int(m.group("last")), int(m.group("n")), n))
            elif (m := _CHECKPOINT_FILE_RE.match(n)):
                cks.append(int(m.group(1)))
            elif (m := _SIDECAR_FILE_RE.match(n)):
                sides.append(int(m.group(1)))
        live.sort()
        archives.sort()
        cks.sort()
        sides.sort()
        return live, archives, cks, sides

    @staticmethod
    def _arch_stats(archives) -> "tuple[int | None, int]":
        """(highest archived seq | None, total archived commit count) —
        from archive NAMES alone.  The count is truthful only while the
        artifact set is DISJOINT (see :meth:`_archives_overlap`)."""
        if not archives:
            return None, 0
        return archives[-1][0], sum(n for _, n, _ in archives)

    @staticmethod
    def _names_prove_disjoint(archives) -> bool:
        """True when every artifact carries name bounds (format 3) and the
        spans are pairwise disjoint — provable with ZERO body reads.  A
        legacy name (no ``first-`` part) returns False: the caller must
        resolve its true span through the body/seq cache.  This is the
        read-free fast path of :meth:`_archives_overlap`, used by the
        archival repair step so a healthy incremental run stays O(new
        commits) bytes even in a fresh process."""
        spans = []
        for _, _, name in archives:
            first = _archive_first_seq(name)
            if first is None:
                return False
            spans.append((first, int(_ARCHIVE_FILE_RE.match(name).group("last"))))
        spans.sort()
        reach = None
        for first, last in spans:
            if reach is not None and first <= reach:
                return False
            reach = last if reach is None else max(reach, last)
        return True

    def _archives_overlap(self, d: str, archives) -> bool:
        """True when any two artifacts' seq ranges overlap (a crash
        between a consolidation's chunk writes and its deletes) — the
        window where summing name-carried counts double-counts, so
        nothing derived from that sum may be PERSISTED.  Chunk names
        carry their bounds; a legacy round-12 blob name (no first part)
        resolves its true first seq through the per-process seq cache
        (one body read per legacy artifact per process — treating it as
        unbounded instead would flag two DISJOINT legacy blobs as
        permanently overlapping and stall checkpoint cuts forever on an
        upgraded table)."""
        prev_last = None
        spans = []
        for last, _, name in archives:
            first = _archive_first_seq(name)
            if first is None:
                try:
                    seqs = self._archive_seqs(d, name)
                except _ArchiveVanished:
                    continue  # a racing consolidation replaced it
                first = seqs[0] if seqs else last
            spans.append((first, last))
        for first, last in sorted(spans):
            if prev_last is not None and first <= prev_last:
                return True
            prev_last = last
        return False

    def _archive_entries(self, d: str, name: str) -> list:
        """[(seq, TableUpdate)] of one archive artifact, via the process
        cache (sound: archive names are content-unique)."""
        path = self.fs.join(d, name)
        got = _ARCHIVE_BODY_CACHE.get(path)
        if got is None:
            try:
                body = json.loads(self.fs.read_text(path))
            except FileNotFoundError:
                raise _ArchiveVanished(path) from None
            got = [
                (s, update_from_dict(o))
                for s, o in map(_entry_pair, body["entries"])
            ]
            if len(_ARCHIVE_BODY_CACHE) >= _ARCHIVE_BODY_CACHE_MAX:
                _ARCHIVE_BODY_CACHE.pop(next(iter(_ARCHIVE_BODY_CACHE)))
            _ARCHIVE_BODY_CACHE[path] = got
            if path not in _ARCHIVE_SEQ_CACHE:
                if len(_ARCHIVE_SEQ_CACHE) >= _ARCHIVE_SEQ_CACHE_MAX:
                    _ARCHIVE_SEQ_CACHE.pop(next(iter(_ARCHIVE_SEQ_CACHE)))
                _ARCHIVE_SEQ_CACHE[path] = tuple(s for s, _ in got)
        return got

    def _archive_seqs(self, d: str, name: str) -> tuple:
        path = self.fs.join(d, name)
        got = _ARCHIVE_SEQ_CACHE.get(path)
        if got is None:
            got = tuple(s for s, _ in self._archive_entries(d, name))
        return got

    def _merged_seq_list(self, d: str, live, archives) -> list:
        """All commit seqs, archived + live, ascending, deduped (a crash
        between an archive write and its live-file deletes leaves benign
        identical duplicates until the next archival repairs them).

        Per-call cost is O(live + one list copy): the archived prefix is
        immutable per archive-set, so its sorted union is cached process-
        wide and live seqs (all above the floor on the happy path) are
        appended without a re-sort.  A 10⁶-commit log would otherwise pay
        a ~10⁶-element sorted(set()) rebuild on EVERY CDC poll — O(history)
        CPU hiding under the O(tail) I/O."""
        if not archives:
            return [s for s, _ in live]
        key = tuple(self.fs.join(d, name) for _, _, name in archives)
        cached = _ARCHIVE_MERGED_CACHE.get(d)
        merged = cached[1] if cached is not None and cached[0] == key else None
        if merged is None:
            seen = set()
            for _, _, name in archives:
                seen.update(self._archive_seqs(d, name))
            merged = tuple(sorted(seen))
            # one generation per directory: a consolidation that swaps the
            # archive set REPLACES the stale union instead of leaking it
            _ARCHIVE_MERGED_CACHE[d] = (key, merged)
        live_seqs = [s for s, _ in live]
        if not live_seqs:
            return list(merged)
        if live_seqs[0] > merged[-1]:
            return list(merged) + live_seqs
        # crash leftover / gap-fill below the floor: full sort-merge
        return sorted(set(merged) | set(live_seqs))

    def _merged_updates(
        self, d: str, live, archives, lo: "int | None" = None,
        hi: "int | None" = None, metadata_only: bool = False, sides=(),
    ) -> list:
        """[(seq, update)] over archives + live files, ``lo < seq <= hi``
        (None = unbounded), seq-deduped.  A sequence slot present both
        archived and live must hold the SAME commit (crash leftover —
        benign, live wins); different commits in one slot means an
        archived slot was re-claimed, which the write-side floor guards
        exist to prevent — fail loudly rather than pick an order.

        With ``metadata_only`` each record is the commit's
        ``TableUpdateMetadata`` instead: live commits come from the
        header walk over the listing's commit indexes ``sides``, so no
        live commit's operations are decoded, and an archived one's
        comes from the process cache's already-decoded update."""

        def _in(s) -> bool:
            return (lo is None or s > lo) and (hi is None or s <= hi)

        def _decoded():
            for s, n in live:
                if _in(s):
                    path = self.fs.join(d, n)
                    try:
                        u = update_from_json(self.fs.read_text(path))
                    except FileNotFoundError:
                        # deleted between listing and read: a racing
                        # archival PACKED this commit into an artifact
                        # our stale listing doesn't know — skipping it
                        # would silently drop a committed update from the
                        # merged view, so force a retry from a fresh
                        # listing instead
                        raise _ArchiveVanished(path) from None
                    yield s, n, u

        if metadata_only:
            meta = lambda m: m  # noqa: E731
            records = (
                (*live[i], _header_metadata(rec))
                for i, rec, _ in self._headers(d, live, archives, sides)
                if _in(live[i][0])
            )
        else:
            meta = lambda u: u.metadata  # noqa: E731
            records = _decoded()
        by: dict = {}
        for last, _, name in archives:
            if lo is not None and last <= lo:
                continue  # whole chunk below the range: zero reads
            first = _archive_first_seq(name)
            if hi is not None and first is not None and first > hi:
                continue  # whole chunk above the range: zero reads
            for s, u in self._archive_entries(d, name):
                if _in(s):
                    by[s] = u.metadata if metadata_only else u
        for s, n, u in records:
            prev = by.get(s)
            if prev is not None and meta(prev).commit_id != meta(u).commit_id:
                path = self.fs.join(d, n)
                # a CAS writer that claimed a just-freed slot holds it
                # only for the instant between its conditional create
                # and its own post-claim floor check (which removes the
                # file and re-claims above).  Give that window one beat;
                # a claim still present is a writer that BYPASSED the
                # floor protocol (pre-archival code version) — ambiguous
                # log order, fail loudly.
                time.sleep(0.05)
                if not self.fs.exists(path):
                    continue  # transient claim resolved; archived wins
                raise RuntimeError(
                    f"commit sequence slot {s} holds DIFFERENT commits "
                    f"archived ({meta(prev).commit_id}) and live "
                    f"({meta(u).commit_id}) — an archived slot was "
                    "re-claimed by a writer that bypassed the archive "
                    "floor (all writers must run an archival-aware "
                    "version); the log order is ambiguous and no read "
                    "can be trusted until repaired"
                )
            by[s] = u
        return [(s, by[s]) for s in sorted(by)]

    def _read_floor_seq(self, d: str) -> int:
        """Highest archived commit seq per the floor doc (-1 when no
        archive exists).  The doc exists for WRITERS (plain mode commits
        don't list the directory); readers derive the floor from archive
        names in the listing they already have."""
        try:
            return int(
                json.loads(
                    self.fs.read_text(self.fs.join(d, _ARCHIVE_FLOOR_FILE))
                )["seq"]
            )
        except (FileNotFoundError, ValueError, KeyError, TypeError):
            return -1

    def _read_doc(self, d: str, name: str) -> dict:
        """One live commit file, ``json.loads``-ed but not decoded into a
        TableUpdate: the newest-first scans compare only its
        ``commit_id`` or ``timestamp``.  A file deleted since the listing
        (a racing archival packed it) raises _ArchiveVanished."""
        path = self.fs.join(d, name)
        try:
            return json.loads(self.fs.read_text(path))
        except FileNotFoundError:
            raise _ArchiveVanished(path) from None

    def _headers(self, d: str, live, archives, sides, stop: int = 0):
        """Newest-first ``(i, rec, doc)`` for ``live[i]``, ``i >= stop``:
        ``rec`` is the commit's ``_doc_header`` record and ``doc`` its
        parsed file, or None when the record came from a commit index.

        The walk reads the live files above the newest cut one by one,
        then each cut's commit index in turn (``sides``, the listing's
        index seqs), and the files of any segment whose index is missing,
        corrupt or stale one by one — so a checkpointed log costs about
        (cuts + ``checkpoint_interval``) reads.  An index is used only
        when no live file sits at or below the archive floor, its cut
        lies above the floor, and its seq list equals the live seqs of
        ``(lo, cut]`` in this same listing; then its records are exactly
        what reading those (immutable) files would give.  A file deleted
        since the listing raises _ArchiveVanished."""
        seqs = [s for s, _ in live]
        floor = archives[-1][0] if archives else None
        if floor is not None and seqs and seqs[0] <= floor:
            sides = ()  # a gap-fill or crash leftover below the floor
        hi, top = len(live), None  # live[hi:] (seqs above top) are done
        for c in reversed(sides):
            if hi <= stop or (floor is not None and c <= floor):
                break
            if top is not None and c > top:
                continue  # inside a segment an index already covered
            j = bisect.bisect_right(seqs, c)
            for i in range(hi - 1, max(j, stop) - 1, -1):
                doc = self._read_doc(d, live[i][1])
                yield i, _doc_header(seqs[i], doc), doc
            hi, top = j, c
            if j <= stop:
                return
            got = self._read_sidecar(d, c, seqs, j)
            if got is None:
                continue  # this segment is read file by file
            lo, recs = got
            for k in range(len(recs) - 1, -1, -1):
                i = j - len(recs) + k
                if i < stop:
                    return
                yield i, recs[k], None
            hi, top = j - len(recs), lo
        for i in range(hi - 1, stop - 1, -1):
            doc = self._read_doc(d, live[i][1])
            yield i, _doc_header(seqs[i], doc), doc

    def _read_sidecar(self, d: str, cut: int, seqs, j: int):
        """``(lo, records)`` of ``commits_<cut>.json`` when its records'
        seqs equal ``seqs`` in ``(lo, cut]`` (``seqs[:j]`` are the ones
        at or below the cut), else None: missing, corrupt, or stale — a
        commit gap-filled into the segment, or one archived or vanished
        since the cut."""
        try:
            doc = json.loads(
                self.fs.read_text(self.fs.join(d, f"commits_{cut:013d}.json"))
            )
            lo, recs = doc["lo"], doc["commits"]
            if not isinstance(lo, int) or lo >= cut:
                return None
            # a malformed record (not five fields, a field not a string)
            # drops out here and fails the seq comparison
            got = [
                r[0]
                for r in recs
                if len(r) == 5
                and str is type(r[1]) is type(r[2]) is type(r[3]) is type(r[4])
            ]
            if got != seqs[bisect.bisect_right(seqs, lo):j]:
                return None
            return lo, recs
        except (FileNotFoundError, KeyError, ValueError, TypeError, IndexError):
            return None

    def _locate(self, d: str, live, archives, sides, commit_id: str, stop: int = 0):
        """``(index in live, parsed doc or None)`` of the newest live
        commit holding ``commit_id`` at index ``>= stop``, by the header
        walk; None when the id is not there."""
        for i, rec, doc in self._headers(d, live, archives, sides, stop):
            if rec[1] == commit_id:
                return i, doc
        return None

    def _read_head(self, d: str) -> str:
        return json.loads(self.fs.read_text(self.fs.join(d, "head_ref")))["head_ref"]

    def _is_snapshot_dir(self, d: str) -> bool:
        return bool(
            json.loads(self.fs.read_text(self.fs.join(d, "table-metadata")))[
                "is_snapshot"
            ]
        )

    def _read_pointer_seq(self, d: str) -> "int | None":
        """The seq the ``_last_checkpoint`` pointer names (its body is
        not read), or None when the pointer is missing or corrupt."""
        try:
            return int(
                json.loads(
                    self.fs.read_text(self.fs.join(d, "_last_checkpoint"))
                )["seq"]
            )
        except (FileNotFoundError, KeyError, ValueError, TypeError):
            return None

    @staticmethod
    def _checkpoint_covers_prefix(
        ck: dict, live_seqs, arch_last: "int | None" = None, arch_n: int = 0
    ) -> bool:
        """Gap-fill guard: a checkpoint is usable ONLY if every commit
        now present at seq <= last_seq was folded into it.  Without
        this, a CAS writer whose (per-process) clock ran behind a racer's
        can claim a still-free sequence slot BELOW an already-cut
        checkpoint, and that committed update would silently never reach
        any checkpointed reader.  ``n_folded`` (the prefix commit count at
        cut time) makes the omission detectable from the directory
        listing readers already have — after archival the archived share
        of that count comes from the archive NAMES in the same listing
        (archives pack only strictly checkpoint-covered prefixes, so the
        detectability survives the cut).  A mismatch, a pre-upgrade
        checkpoint without the field, a checkpoint cut below the archive
        floor (its tail files are no longer live), or any live file at or
        below the floor (gap-fill into archived history, or a crash
        leftover awaiting repair) degrades to the full fold, which is
        always correct."""
        n = ck.get("n_folded")
        if n is None:
            return False
        last = int(ck["last_seq"])
        if arch_last is not None:
            if last < arch_last:
                return False
            if live_seqs and live_seqs[0] <= arch_last:
                return False
        return sum(1 for s in live_seqs if s <= last) + arch_n == int(n)

    def _maybe_checkpoint(self, d: str) -> None:
        """Write a new checkpoint when ``checkpoint_interval`` commits have
        accumulated since the last one.  Incremental: reads only the tail
        commits after the previous checkpoint, so checkpointing stays O(1)
        amortized per commit.  Crash-safe ordering: the cut's commit index,
        then the checkpoint file, then the pointer; a crash between any
        two leaves the old pointer valid."""
        if not self._checkpoint_interval:
            return
        # O(1) fast path: the exact check below LISTS the whole table dir
        # (O(log size) dirents) — per commit that turns a bulk load into
        # O(N²).  An instance-local count of commits since the last exact
        # check skips the listing until the interval could possibly have
        # accumulated.  The counter cannot see OTHER writers' commits, so
        # under concurrency a checkpoint may be cut a little late — a
        # cadence (not correctness) property: checkpoints are derived
        # artifacts and every reader verifies/degrades independently.
        pend = self._ck_pending.get(d)
        if pend is not None and pend + 1 < self._checkpoint_interval:
            self._ck_pending[d] = pend + 1
            return
        # read the checkpoint BEFORE listing: the listing is then at least
        # as fresh as the checkpoint, so a checkpoint cut concurrently by
        # another writer can never spuriously fail the covers-prefix guard
        # (a stale listing would under-count its prefix); a missing or
        # corrupt pointer or checkpoint reads as None (a rebuild)
        ptr = self._read_pointer_seq(d)
        ck = None if ptr is None else self._checkpoint_body(d, ptr)
        live, archives = self._scan_dir(d)
        arch_last, arch_n = self._arch_stats(archives)
        live_seqs = [s for s, _ in live]
        if arch_last is not None and (
            (live_seqs and live_seqs[0] <= arch_last)
            or self._archives_overlap(d, archives)
        ):
            # crash leftover / gap-fill below the archive floor, or an
            # OVERLAPPING artifact set (consolidation crash window —
            # summed name counts double-count): a cut here would bake an
            # ambiguous count into n_folded and park every fast path on
            # the full fold until a later cut supersedes it — skip
            # (cadence only; archive_commits repairs, reads stay correct
            # via the full fold)
            self._ck_pending[d] = 0
            return
        if ck is not None and not self._checkpoint_covers_prefix(
            ck, live_seqs, arch_last, arch_n
        ):
            ck = None  # gap-filled prefix: rebuild from the full log
        base_seq = int(ck["last_seq"]) if ck else -1
        tail = [(s, n) for s, n in live if s > base_seq]
        if len(tail) < self._checkpoint_interval:
            self._ck_pending[d] = len(tail)
            return
        self._ck_pending[d] = 0  # cutting now (every exit below counts)
        try:
            docs = [self._read_doc(d, n) for _, n in tail]
            # a full rebuild must fold the ARCHIVED prefix too (every live
            # file lies above the floor, checked above)
            prefix = () if ck else tuple(
                u for _, u in self._merged_updates(d, [], archives)
            )
        except _ArchiveVanished:
            return  # consolidation raced the cut: skip it
        updates = prefix + tuple(update_from_dict(o) for o in docs)
        state, snapshot_version = fold.fold_onto(
            ck["partitions"] if ck else (),
            ck.get("snapshot_version") if ck else None,
            updates,
        )
        last_seq = tail[-1][0]
        body = {
            "last_seq": last_seq,
            "n_folded": sum(1 for s in live_seqs if s <= last_seq) + arch_n,
            "last_commit_id": updates[-1].metadata.commit_id,
            "is_snapshot": self._is_snapshot_dir(d),
            "snapshot_version": snapshot_version,
            "partitions": sorted(state.items()),
        }
        # newest pair marker in the checkpointed prefix — what lets
        # head_resolution answer the index families' base resolution
        # without reading the whole log.  Tri-state on purpose: a value
        # (newest marker), an explicit null (full prefix scanned, no
        # marker anywhere — legacy/non-pair tables), or ABSENT (an
        # incremental cut over a pre-upgrade checkpoint that never
        # recorded the field — unknown, so head_resolution degrades);
        # ``...`` stands for the absent field
        marker = newest_pair_label(
            (u.metadata.message for u in reversed(updates)),
            ck.get("pair_label", ...) if ck else None,
        )
        if marker is not ...:
            body["pair_label"] = marker
        # the cut's commit index, written BEFORE the checkpoint so an
        # orphaned one is harmless: the tail's headers — on a rebuild only
        # the newest checkpoint_interval of them, so its size stays
        # bounded (older segments are read file by file).  A pure function
        # of the commit files, so racers at the same cut write the same
        # bytes; readers validate it against their own listing.
        k = 0 if ck else max(0, len(tail) - self._checkpoint_interval)
        self.fs.write_text(
            self.fs.join(d, f"commits_{last_seq:013d}.json"),
            json.dumps(
                {
                    "lo": tail[k - 1][0] if k else base_seq,
                    "commits": [
                        _doc_header(s, o) for (s, _), o in zip(tail[k:], docs[k:])
                    ],
                },
                separators=(",", ":"),
            ),
        )
        ck_path = self.fs.join(d, f"checkpoint_{last_seq:013d}.json")
        ptr_path = self.fs.join(d, "_last_checkpoint")
        ptr_doc = json.dumps({"seq": last_seq})
        if self._use_cas:
            # two racers checkpointing the same COMPLETE prefix produce
            # identical bytes, so losing the conditional create is
            # normally a free no-op — EXCEPT after a gap-fill rebuild,
            # where the existing same-seq file is known-stale (its
            # n_folded misses the late commit) and would keep every
            # reader on the full fold forever.  Detect that case and
            # overwrite: checkpoints are derived artifacts (readers
            # verify n_folded and degrade safely mid-swap), never the
            # source of truth.  The pointer advance stays monotonic —
            # atomic via token CAS where the store has it.
            body_json = json.dumps(body)
            if not self.fs.write_text_if_absent(ck_path, body_json):
                # overwrite only when OURS folds strictly more of the
                # prefix (higher n_folded) — never clobber a racer's more
                # complete rebuild; an unreadable/unparseable existing
                # file is replaced (readers already treat it as corrupt)
                try:
                    existing_n = int(
                        json.loads(self.fs.read_text(ck_path)).get(
                            "n_folded", -1
                        )
                    )
                except (FileNotFoundError, OSError, ValueError, KeyError):
                    existing_n = -1
                if existing_n < int(body["n_folded"]):
                    self.fs.write_text(ck_path, body_json)
            if self.fs.supports_put_if_match():
                for _ in range(16):
                    try:
                        cur_text, token = self.fs.read_text_and_token(ptr_path)
                        cur_seq = int(json.loads(cur_text)["seq"])
                    except (FileNotFoundError, ValueError, KeyError):
                        cur_seq, token = -1, None
                    if cur_seq >= last_seq or self.fs.write_text_if_match(
                        ptr_path, ptr_doc, token
                    ):
                        return
                return  # pathological churn: skip, next checkpoint converges
            try:
                cur_seq = int(json.loads(self.fs.read_text(ptr_path))["seq"])
            except (FileNotFoundError, ValueError, KeyError):
                cur_seq = -1
            if cur_seq < last_seq:
                self.fs.write_text(ptr_path, ptr_doc)
            return
        self.fs.write_text(ck_path, json.dumps(body))
        self.fs.write_text(ptr_path, ptr_doc)

    # how many retained checkpoints (newest first) _fast_resolve may
    # resolve from before degrading to the full fold: bounds the locate
    # scan's wasted reads for a very deep (or unknown — the error path
    # re-reads via the full walk) commit at ~32·interval files, while
    # covering every realistic lag-behind-head window (a CDC poll or time
    # travel a few checkpoint cuts behind) at O(distance-from-head) cost
    _FAST_RESOLVE_MAX_SEGMENTS = 32

    def _fast_resolve(
        self, d: str, commit_id: "str | None" = None, fallback: bool = True
    ):
        """``(table_version, commit_id, newest_pair_label_in_prefix)``
        folded from a checkpoint (the label ``...`` when that checkpoint
        lacks the field).  ``commit_id=None`` is the head, read after the
        pointer and before the listing, so its commit file (written before
        the head moves) is listed.  None when the fast path cannot
        answer (checkpoints disabled, no pointer, live files at or below
        the archive floor, no covering checkpoint at or below the commit,
        or a commit deeper than the newest ``_FAST_RESOLVE_MAX_SEGMENTS``
        retained checkpoints — e.g. an unknown id, or travel below them
        on an archived log).

        Locate, then fold: the newest-first header walk
        (:meth:`_headers`) finds the commit's seq, comparing only each
        record's ``commit_id`` and reading one commit index per cut;
        then the newest retained checkpoint at or below that seq is read
        (older ones only when it fails ``_checkpoint_covers_prefix``;
        ``fallback=False`` answers None instead) and only the commits in
        (checkpoint seq, target seq] are decoded and folded on it.  So
        each commit file is read and decoded at most once per
        resolution, one checkpoint body is read in the common case, and
        the cost is O(cuts + checkpoint_interval), never the whole log.
        A commit below the oldest checkpoint of a log with no archive
        (the genesis segment) folds from the empty state over the live
        files up to it, the table kind read from ``table-metadata`` as
        the cuts do.  Checkpoints are never deleted above the archive
        floor (only the pointer advances), and each is a pure function of
        log order, so cutoff semantics equal the full fold's (including
        rolled-back commits re-surfacing after a later write).  Retained
        checkpoints below the archive floor are never used: their tail
        segments are archived, so deeper travel takes the full fold
        (which reads the archives).  ``checkpoint_interval=None``
        disables the READ side too, so a None-interval tracker is a true
        full-fold ground truth even over a directory that already
        carries checkpoints."""
        if not self._checkpoint_interval:
            return None
        # the pointer is read BEFORE listing, so its checkpoint file is in
        # the listing (checkpoint files are written before the pointer)
        ptr = self._read_pointer_seq(d)
        if ptr is None:
            return None
        if commit_id is None:
            commit_id = self._read_head(d)
        live, archives, ck_seqs, sides = self._scan_cuts(d)
        arch_last, arch_n = self._arch_stats(archives)
        seqs = [s for s, _ in live]
        if ptr not in ck_seqs or (
            arch_last is not None and seqs and seqs[0] <= arch_last
        ):
            return None  # dangling pointer, or gap-fill below the floor
        cands = [
            s
            for s in reversed(ck_seqs)
            if s <= ptr and (arch_last is None or s >= arch_last)
        ]
        if not cands:
            return None  # the pointer's cut lies below the archive floor
        # the walk reaches the genesis segment when nothing is archived
        # and every retained cut is within the segment bound
        genesis = not archives and len(cands) <= self._FAST_RESOLVE_MAX_SEGMENTS
        cands = cands[: self._FAST_RESOLVE_MAX_SEGMENTS]
        stop = 0 if genesis else bisect.bisect_left(seqs, cands[-1])
        try:
            hit = self._locate(d, live, archives, sides, commit_id, stop)
            if hit is None:
                return None  # deeper than the walked checkpoints, or unknown
            i, doc = hit
            for c in cands:
                if c > seqs[i]:
                    continue
                ck = self._checkpoint_body(d, c)
                if ck is not None and self._checkpoint_covers_prefix(
                    ck, seqs, arch_last, arch_n
                ):
                    j = bisect.bisect_right(seqs, c)
                    tv, marker = self._fold_segment(d, ck, live, j, i, doc)
                    return tv, commit_id, marker
                if not fallback:
                    return None
                # corrupt or gap-filled cut: try an older one
            if genesis and seqs[i] < cands[-1]:
                empty = {
                    "is_snapshot": self._is_snapshot_dir(d),
                    "snapshot_version": None,
                    "partitions": [],
                    "pair_label": None,
                }
                tv, marker = self._fold_segment(d, empty, live, 0, i, doc)
                return tv, commit_id, marker
        except _ArchiveVanished:
            return None  # a racing archival: the full fold re-lists
        return None  # no usable checkpoint at or below the commit

    def _fold_segment(self, d: str, ck: dict, live, j: int, i: int, doc):
        """``(table_version, newest_pair_label)`` of ``ck`` + the commits
        ``live[j..i]``; ``doc`` is ``live[i]``'s parsed file when the
        locate already read it."""
        docs = [self._read_doc(d, n) for _, n in live[j:i]]
        if j <= i:
            docs.append(doc if doc is not None else self._read_doc(d, live[i][1]))
        upto = [update_from_dict(o) for o in docs]
        tv = fold.state_version(
            ck["is_snapshot"],
            *fold.fold_onto(ck["partitions"], ck.get("snapshot_version"), upto),
        )
        if "pair_label" not in ck:
            return tv, ...
        msgs = (u.metadata.message for u in reversed(upto))
        return tv, newest_pair_label(msgs, ck["pair_label"])

    def _checkpoint_body(self, d: str, seq: int) -> dict | None:
        """Parse + validate ``checkpoint_<seq>.json`` (any retained cut,
        not just the pointer's); missing/corrupt → None."""
        try:
            ck = json.loads(
                self.fs.read_text(self.fs.join(d, f"checkpoint_{seq:013d}.json"))
            )
            if int(ck["last_seq"]) != seq or "last_commit_id" not in ck:
                return None
            return ck
        except (FileNotFoundError, KeyError, ValueError, TypeError):
            # TypeError: JSON-null last_seq or a non-dict body; the
            # multi-checkpoint walk reads older (possibly pre-upgrade)
            # cuts, so every malformed shape must degrade, not crash
            return None

    def head_resolution(self, table: TableName):
        """O(tail) base resolution for the paired-table read-modify-write
        operators (``operators.pairing.pinned_state``): ``(folded_state,
        head_commit_id, newest_pair_label_in_prefix)`` — the
        :meth:`current_version` resolution (a rolled-back head included),
        whose checkpoint records the newest marker of its prefix; never
        the whole log.  None when that resolution cannot answer, when the
        newest checkpoint at or below the head is unusable (a gap-filled
        or corrupt cut: the log is in flux, and a pinned write's base
        takes no older cut), or when it lacks the ``pair_label`` field —
        the caller's self-consistent full walk is the degrade."""
        d = self._table_dir(table)
        if not self.fs.exists(self.fs.join(d, "table-metadata")):
            raise UnknownTableError(table)
        got = self._fast_resolve(d, fallback=False)
        return None if got is None or got[2] is ... else got

    def current_version(self, table: TableName):
        """Checkpointed table resolution at the head: ``_fast_resolve``
        locates the head commit and folds it from the newest usable
        checkpoint at or below it, O(distance from the newest commit +
        checkpoint_interval) — a rolled-back head included.  Falls back
        to the base-class full fold when the fast path cannot answer
        (VersionTracker.scala:37-55 cutoff semantics are preserved
        exactly in both paths)."""
        d = self._table_dir(table)
        if not self.fs.exists(self.fs.join(d, "table-metadata")):
            raise UnknownTableError(table)
        got = self._fast_resolve(d)
        return got[0] if got is not None else super().current_version(table)

    def version_at(self, table: TableName, commit_id: str):
        """Time travel with the same locate-then-fold path as
        current_version; a commit the fast path cannot answer (archived,
        deeper than the walked checkpoints, or unknown — the base class
        raises UnknownCommitError) takes the full fold."""
        d = self._table_dir(table)
        if not self.fs.exists(self.fs.join(d, "table-metadata")):
            raise UnknownTableError(table)
        got = self._fast_resolve(d, commit_id)
        return got[0] if got is not None else super().version_at(table, commit_id)

    def set_current_version(self, table: TableName, commit_id: str) -> None:
        """Move head to an existing commit — rollback/forward
        (VersionTracker.scala:71) — proving the commit exists by the
        newest-first header walk over the live commits (:meth:`_locate`):
        at most k+1 commit reads for a commit k back, and no fold.  An id
        not among them (archived prefix or unknown id), or a file that
        vanished mid-walk, takes the inherited checkout, which reads the
        archives and raises UnknownTableError / UnknownCommitError
        before the head moves."""
        d = self._table_dir(table)
        if self.fs.exists(self.fs.join(d, "table-metadata")):
            live, archives, _, sides = self._scan_cuts(d)
            try:
                found = (
                    self._locate(d, live, archives, sides, commit_id)
                    is not None
                )
            except _ArchiveVanished:
                found = False
            if found:
                self._set_head(table, commit_id)
                return
        super().set_current_version(table, commit_id)

    def commit_at_timestamp(self, table: TableName, ts) -> str:
        """The newest log-ordered commit whose timestamp is ≤ ``ts`` (the
        base class's contract) from one listing and the newest-first
        header walk (:meth:`_headers`), stopping at the first qualifying
        commit and comparing only each record's ``timestamp``.  Once the
        walk reaches the archived prefix, or a file vanished mid-walk,
        the base class's ranged walk answers (it reads the archives)."""
        ts = _as_utc(ts)
        d = self._table_dir(table)
        if not self.fs.exists(self.fs.join(d, "table-metadata")):
            raise UnknownTableError(table)
        live, archives, _, sides = self._scan_cuts(d)
        arch_last, _ = self._arch_stats(archives)
        try:
            for i, rec, _ in self._headers(d, live, archives, sides):
                if arch_last is not None and live[i][0] <= arch_last:
                    break
                if _as_utc(datetime.fromisoformat(rec[2])) <= ts:
                    return rec[1]
        except _ArchiveVanished:
            return super().commit_at_timestamp(table, ts)
        if archives:
            return super().commit_at_timestamp(table, ts)
        raise UnknownCommitError(
            None, f"no commit at or before {ts.isoformat()}"
        )

    # -- commit-log archival --------------------------------------------
    # The last O(history) term on the metadata plane after round 11 was
    # the directory LISTING itself: every checkpointed fast path lists
    # the commit log once, O(log length) dirents — ~one paginated LIST
    # per 1000 commits on S3, seconds per resolution at the 10^6-commit
    # design point (docs/scale.md "commit-log archival").  Archival packs
    # a strictly checkpoint-covered prefix of commit files into immutable
    # size-capped CHUNK artifacts and deletes the packed files (and the
    # checkpoint files below the cut, unreachable by fast paths
    # afterwards), so the live listing stays O(tail + chunks).  The
    # archive is the log
    # RELOCATED, not a derived artifact: table_state and every full-fold
    # degrade path read through it, commit order and content preserved
    # byte-for-byte, so "commit files are the only source of truth"
    # becomes "commit records are" — the CAS gap-fill guard keeps its
    # detectability because the archive NAME carries the packed count.

    def archive_commits(
        self,
        table: TableName,
        retain_checkpoints: int = 2,
        through_seq: "int | None" = None,
        dry_run: bool = False,
        consolidate: bool = False,
        max_chunk_bytes: int = 32 * 2**20,
        lease_ttl_seconds: float = 900.0,
    ) -> dict:
        """Pack the commit files at-or-below a retained checkpoint into
        size-capped archive chunk artifacts; delete the packed files.
        Returns a summary ``{"archived", "through_seq", "repaired",
        "pruned_checkpoints", "pruned_sidecars", "archive", "archives",
        "consolidated_artifacts"}``; a dry run reports the same counts
        an apply run would.  The cut prunes the checkpoints below it and
        the commit indexes at or below it (their segments are archived).

        The cut is the newest retained checkpoint after skipping
        ``retain_checkpoints`` of them that COVERS its prefix (keeping
        recent checkpoint segments live preserves the O(lag) fast
        resolution window for CDC consumers/time travel near the head;
        deeper travel degrades to the full fold, which reads archives).
        A checkpoint a racing CAS writer gap-filled under is skipped in
        favour of a deeper covered one — archiving less this run, never
        erroring (round 13: a maintenance cron racing live writers).
        ``through_seq`` pins the cut to a specific retained checkpoint
        seq instead, and THAT raises when it cannot cover.

        Default runs are INCREMENTAL (LSM-style): each packs only the
        new prefix, O(new commits) bytes per run, artifact count
        O(runs).  ``consolidate=True`` additionally folds every existing
        artifact into the new run and deletes them (the OPTIMIZE-cadence
        companion).  Either way the output is CHUNKED at
        ``max_chunk_bytes`` (round 13): entries stream through a
        fixed-size buffer, so archival memory and the largest PUT are
        O(max_chunk_bytes + one absorbed artifact) — never O(archived
        history) — and each chunk's name carries its own ``(first_seq,
        last_seq, n, crc)`` so ranged reads below the floor parse ONLY
        the chunks overlapping their seq window while listing-only
        counts keep summing name fields.  A reader that listed the old
        artifacts mid-swap retries from a fresh listing
        (``_retry_vanished``); a crash between the superseding writes
        and the old deletes leaves OVERLAPPING artifacts whose duplicate
        slots hold identical commits — reads dedupe, fast paths degrade,
        and the next call's repair step removes the subsumed artifacts.

        Crash-safe ordering: chunk files → floor doc → deletes; a crash
        anywhere leaves reads correct (duplicate slots hold identical
        commits and every fast path degrades until the next call's
        repair step finishes the deletes).  Concurrency follows the
        tracker's commit discipline: under ``use_lock`` the table flock
        is held; under CAS the floor doc advances monotonically BEFORE
        any delete and writers re-check it post-claim, so an archived
        slot can never be silently re-claimed.  Archiver-vs-ARCHIVER,
        apply-mode runs additionally serialize on a per-table lease
        (conditional create + ``lease_ttl_seconds`` staleness break —
        see :meth:`_acquire_archival_lease` for why two unserialized
        artifact mutators can lose history): a run that finds a live
        competitor returns a no-op summary with ``"skipped_lease":
        True`` — rerun later.  Readers whose listing goes stale under an
        archiver retry from fresh listings as before.  Maintenance
        cadence, like vacuum — not a per-commit step.  No reference
        counterpart (the reference has no checkpoint or archival tier;
        its full-log fold is the only read path)."""
        d = self._table_dir(table)
        if not self.fs.exists(self.fs.join(d, "table-metadata")):
            raise UnknownTableError(table)
        if retain_checkpoints < 0:
            raise ValueError("retain_checkpoints must be >= 0")
        if max_chunk_bytes < 4096:
            raise ValueError("max_chunk_bytes must be >= 4096")
        with self._commit_guard(d):
            if dry_run:  # read-only: no artifact mutation to serialize
                return self._archive_locked(
                    d, retain_checkpoints, through_seq, dry_run,
                    consolidate, max_chunk_bytes,
                )
            if not self._acquire_archival_lease(d, lease_ttl_seconds):
                return {
                    "archived": 0, "through_seq": None, "repaired": 0,
                    "pruned_checkpoints": 0, "pruned_sidecars": 0,
                    "archive": None, "archives": [],
                    "consolidated_artifacts": 0, "skipped_lease": True,
                }
            try:
                return self._archive_locked(
                    d, retain_checkpoints, through_seq, dry_run,
                    consolidate, max_chunk_bytes,
                )
            finally:
                self._release_archival_lease(d)

    def _archive_locked(
        self, d: str, retain_checkpoints: int, through_seq, dry_run: bool,
        consolidate: bool = False, max_chunk_bytes: int = 32 * 2**20,
    ) -> dict:
        """Retry shell: under CAS/plain mode ``_commit_guard`` is a
        no-op, so a CONCURRENT archiver's deletes can surface mid-pack as
        vanished commit files or artifacts.  That is a benign race, not
        corruption — each retry restarts from a fresh listing, where the
        racer's superseding artifact (and advanced floor) is visible.
        Under ``use_lock`` the flock makes this loop one-shot."""
        last_err = None
        for _ in range(4):
            try:
                return self._archive_attempt(
                    d, retain_checkpoints, through_seq, dry_run,
                    consolidate, max_chunk_bytes,
                )
            except _ArchiveVanished as e:
                last_err = e
        raise RuntimeError(
            f"archival kept losing listed files mid-pack across 4 fresh "
            f"listings ({last_err}) — pathological archiver contention; "
            "rerun, or serialize archival jobs (use_lock / one scheduler)"
        )

    def _archive_attempt(
        self, d: str, retain_checkpoints: int, through_seq, dry_run: bool,
        consolidate: bool, max_chunk_bytes: int,
    ) -> dict:
        live, archives, ck_seqs = self._scan_dir(d, with_checkpoints=True)
        out = {
            "archived": 0, "through_seq": None, "repaired": 0,
            "pruned_checkpoints": 0, "pruned_sidecars": 0, "archive": None,
            "archives": [], "consolidated_artifacts": 0,
        }
        # 0. repair a crashed/raced consolidation: overlapping artifacts
        # (duplicate slots hold identical commits by the immutability
        # invariant) must collapse back to a DISJOINT exact cover of the
        # archived history — disjointness is what keeps the listing-only
        # count (sum of name n fields) truthful for the covers-prefix
        # guard.  Cover selection: _select_disjoint_cover (module level,
        # hypothesis-fuzzed).  The healthy steady state (every artifact
        # a format-3 name whose span is disjoint from the others) is
        # PROVEN from the listing alone — reading every artifact body
        # here would make each incremental cron run O(archived history)
        # bytes in a fresh process, undercutting the O(new commits)
        # claim (r13 advice); bodies are read only when a name lacks
        # bounds (legacy blob) or two name spans overlap.
        if len(archives) > 1 and not self._names_prove_disjoint(archives):
            seqs_by = {}
            for _, _, name in archives:
                try:
                    t = self._archive_seqs(d, name)
                except _ArchiveVanished:
                    continue  # a racing repair got it first
                if t:
                    seqs_by[name] = t
            kept = _select_disjoint_cover(seqs_by)
            subsumed = sorted(set(seqs_by) - kept)
            for name in subsumed:
                if not dry_run:
                    try:
                        self.fs.remove_file(self.fs.join(d, name))
                    except FileNotFoundError:
                        pass  # a racing repair got it first
                out["consolidated_artifacts"] += 1
            if subsumed:
                # filter for COUNTING in dry-run too (only the deletes are
                # gated): the downstream arch stats, cut choice and
                # archived counts must report what an apply run would do
                gone = set(subsumed)
                archives = [x for x in archives if x[2] not in gone]
        arch_last, arch_n = self._arch_stats(archives)
        # 1. repair a crashed prior run: live files at-or-below the floor
        # must be identical duplicates of archived entries — finish their
        # deletes.  A DIFFERENT commit in an archived slot means a writer
        # bypassed the floor guards; refuse loudly (reads are already
        # failing loudly on it too).  Only the chunks OVERLAPPING the
        # leftover seqs are parsed for the identity check.
        if arch_last is not None:
            below = [(s, n) for s, n in live if s <= arch_last]
            if below:
                lo_need, hi_need = below[0][0], below[-1][0]
                ids = {}
                for last, _, name in archives:
                    if last < lo_need:
                        continue
                    first = _archive_first_seq(name)
                    if first is not None and first > hi_need:
                        continue
                    for s, u in self._archive_entries(d, name):
                        ids[s] = u.metadata.commit_id
                for s, n in below:
                    path = self.fs.join(d, n)
                    try:
                        u = update_from_json(self.fs.read_text(path))
                    except FileNotFoundError:
                        continue  # already gone (a racing repair/writer)
                    if ids.get(s) != u.metadata.commit_id:
                        # same one-beat tolerance as _merged_updates: a CAS
                        # writer's transient claim of a freed slot removes
                        # itself; a persistent claim bypassed the protocol
                        time.sleep(0.05)
                        if not self.fs.exists(path):
                            continue
                        raise RuntimeError(
                            f"live commit file at seq {s} inside the archived "
                            "prefix holds a different commit than the archive "
                            "— an archived slot was re-claimed; refusing to "
                            "archive (reads degrade loudly on this state)"
                        )
                    if not dry_run:
                        try:
                            self.fs.remove_file(path)
                        except FileNotFoundError:
                            pass  # a racing repair finished this delete
                    out["repaired"] += 1
                # filter for COUNTING in dry-run too: an apply run would
                # have deleted these duplicates, so they must not also be
                # reported as newly archived below (round-12 advice)
                live = [(s, n) for s, n in live if s > arch_last]
            if not dry_run and self._read_floor_seq(d) < arch_last:
                self._write_floor(d, arch_last, arch_n)
        # 2. choose the cut.  Auto mode walks the retained checkpoints
        # newest-first (below the retention window) and takes the FIRST
        # one that covers its prefix: a racing CAS writer whose commit
        # gap-filled below the newest cut makes that checkpoint
        # transiently unusable (n_folded undercounts — readers degrade
        # by design until the next cut supersedes it), which for a
        # maintenance op means "archive a little less this run", never
        # an error.  An EXPLICIT through_seq that cannot cover still
        # raises — the caller pinned that exact cut.
        live_seqs = [s for s, _ in live]
        repack_only = False
        if through_seq is not None:
            if through_seq not in ck_seqs:
                raise ValueError(
                    f"through_seq {through_seq} does not name a retained "
                    "checkpoint cut"
                )
            cut = through_seq
        else:
            cut = None
            for cand in sorted(ck_seqs, reverse=True)[retain_checkpoints:]:
                if arch_last is not None and cand <= arch_last:
                    break  # already archived past here: nothing deeper
                body = self._checkpoint_body(d, cand)
                if body is not None and self._checkpoint_covers_prefix(
                    body, live_seqs, arch_last, arch_n
                ):
                    cut = cand
                    break
        # a consolidating run with several artifacts can proceed even
        # with nothing NEW below the cut — a pure repack at the current
        # floor (no checkpoint needed: the artifacts are already
        # validated prefixes)
        if cut is None or (arch_last is not None and cut <= arch_last):
            # a consolidating repack proceeds even for a SINGLE artifact:
            # rewriting it migrates entry formats / applies a new chunk
            # cap, and an already-current artifact round-trips to the
            # same content-unique name (a free no-op)
            if not (consolidate and archives):
                return out  # nothing (new) safely archivable right now
            cut, to_pack, repack_only = arch_last, [], True
        else:
            ck = self._checkpoint_body(d, cut)
            if ck is None or not self._checkpoint_covers_prefix(
                ck, live_seqs, arch_last, arch_n
            ):
                raise ValueError(
                    f"checkpoint {cut} does not cover the current prefix "
                    "(gap-filled history or corrupt cut) — archive only "
                    "checkpoint-covered prefixes"
                )
            to_pack = [(s, n) for s, n in live if s <= cut]
            if not to_pack and not (consolidate and archives):
                return out
        absorb = list(archives) if consolidate else []
        out["through_seq"] = cut
        out["archived"] = len(to_pack)
        # step 5 prunes the checkpoints below the cut and the commit
        # indexes at or below it (their segments are archived now)
        # (the indexes from one more listing: maintenance cadence)
        doomed_cks = [s for s in ck_seqs if s < cut]
        doomed_sides = [s for s in self._scan_cuts(d)[3] if s <= cut]
        if dry_run:
            out["consolidated_artifacts"] += len(absorb)
            out["pruned_checkpoints"] = len(doomed_cks)
            out["pruned_sidecars"] = len(doomed_sides)
            return out
        # 3. stream the entries (absorbed artifacts in seq order, then
        # the newly packed live files — raw documents copied verbatim, no
        # serde round-trip) through a fixed-size buffer, flushing a chunk
        # artifact whenever it fills.  Memory and largest PUT are
        # O(max_chunk_bytes + one absorbed artifact); a vanished source
        # mid-stream is a racing archiver → retry from a fresh listing.
        def _raw_entries(aname: str) -> list:
            try:
                raw = json.loads(self.fs.read_text(self.fs.join(d, aname)))
            except FileNotFoundError:
                raise _ArchiveVanished(aname) from None
            # normalized (seq, doc) tuples either input format
            return [_entry_pair(e) for e in raw["entries"]]

        # absorbed artifacts sorted by their true bounds; overlapping
        # ranges (crash/race debris the repair above could not collapse)
        # are clustered and k-way-merged with seq dedup — clusters stay
        # O(debris), the common case is one artifact per cluster
        bounds = []
        for last, _, aname in absorb:
            first = _archive_first_seq(aname)
            if first is None:
                seqs = self._archive_seqs(d, aname)
                first = seqs[0] if seqs else last
            bounds.append((first, last, aname))
        bounds.sort()
        clusters: list = []
        cur: list = []
        cur_max = None
        for first, last, aname in bounds:
            if cur and first <= cur_max:
                cur.append(aname)
                cur_max = max(cur_max, last)
            else:
                if cur:
                    clusters.append(cur)
                cur, cur_max = [aname], last
        if cur:
            clusters.append(cur)

        def _stream():
            for cl in clusters:
                if len(cl) == 1:
                    yield from _raw_entries(cl[0])
                else:
                    its = [iter(_raw_entries(nm)) for nm in cl]
                    prev = None
                    for ent in heapq.merge(*its, key=lambda e: e[0]):
                        if ent[0] == prev:
                            continue  # duplicate slot: identical commit
                        prev = ent[0]
                        yield ent
            for s, n in to_pack:
                path = self.fs.join(d, n)
                try:
                    yield s, json.loads(self.fs.read_text(path))
                except FileNotFoundError:
                    # a racing archiver packed this commit after our
                    # listing — its artifact holds it; restart fresh
                    raise _ArchiveVanished(path) from None

        chunk_names: list = []
        buf: list = []  # per-entry JSON strings, ascending seq
        buf_first = buf_last = None
        buf_bytes = 0

        def _flush():
            nonlocal buf, buf_first, buf_last, buf_bytes
            if not buf:
                return
            body = (
                '{"format": 3, "first_seq": %d, "last_seq": %d, "n": %d,'
                ' "entries": [%s]}'
                % (buf_first, buf_last, len(buf), ", ".join(buf))
            )
            crc = zlib.crc32(body.encode("utf-8")) & 0xFFFFFFFF
            cname = (
                f"archive_{buf_first:013d}-{buf_last:013d}"
                f"_{len(buf):08d}_{crc:08x}.json"
            )
            cpath = self.fs.join(d, cname)
            if self.fs.supports_put_if_absent():
                # losing the create is benign: same name ⇒ same bytes (crc)
                self.fs.write_text_if_absent(cpath, body)
            else:
                self.fs.write_text(cpath, body)
            chunk_names.append(cname)
            buf, buf_first, buf_last, buf_bytes = [], None, None, 0

        prev_seq = None
        for ent in _stream():
            s = int(ent[0])
            if prev_seq is not None and s <= prev_seq:
                raise RuntimeError(
                    f"archive pack saw non-ascending seq {s} after "
                    f"{prev_seq} — an artifact's name bounds disagree "
                    "with its contents (corrupt artifact)"
                )
            prev_seq = s
            if buf_first is None:
                buf_first = s
            buf_last = s
            es = json.dumps({"s": s, "u": ent[1]})
            buf.append(es)
            buf_bytes += len(es) + 2
            if buf_bytes >= max_chunk_bytes:
                _flush()
        _flush()
        out["archives"] = chunk_names
        out["archive"] = chunk_names[-1] if chunk_names else None
        # 4. advance the floor BEFORE any delete (writers' post-claim
        # check depends on this ordering; _write_floor also moves this
        # instance's cached floor).  n_archived counts DISTINCT archived
        # commits: absorbed artifacts moved, they didn't add.
        if not repack_only:
            self._write_floor(d, cut, arch_n + len(to_pack))
        # 5. delete the packed commit files, the absorbed artifacts, then
        # the checkpoint files strictly below the cut (unreachable by
        # fast paths now — the covers-prefix guard rejects any checkpoint
        # below the floor) and the commit indexes at or below it (the
        # header walk never reads an index at or below the floor).  A file a racing archiver already removed is
        # that racer finishing the same delete — never an error.
        written = set(chunk_names)
        for _, n in to_pack:
            try:
                self.fs.remove_file(self.fs.join(d, n))
            except FileNotFoundError:
                pass
        for _, _, aname in absorb:
            if aname not in written:  # never delete a chunk just written
                try:
                    self.fs.remove_file(self.fs.join(d, aname))
                except FileNotFoundError:
                    pass
            # counted either way: an artifact that round-tripped to the
            # same content-unique name was still absorbed — dry-run
            # (which counts len(absorb)) and apply must report alike
            out["consolidated_artifacts"] += 1
        for key, names in (
            ("pruned_checkpoints", (f"checkpoint_{s:013d}.json" for s in doomed_cks)),
            ("pruned_sidecars", (f"commits_{s:013d}.json" for s in doomed_sides)),
        ):
            for n in names:
                try:
                    self.fs.remove_file(self.fs.join(d, n))
                except FileNotFoundError:
                    continue
                out[key] += 1
        return out

    def _acquire_archival_lease(self, d: str, ttl_seconds: float) -> bool:
        """Claim the per-table ARCHIVAL lease (conditional create) that
        serializes artifact-set MUTATORS across unserialized archivers.
        Two concurrent apply-mode archivers are not merely racy — one's
        step-0 repair can delete the other's partially-written chunk
        generation, after which the other's absorb deletes remove the
        old generation too and committed history is LOST (round-13
        review finding).  The floor protocol protects writers-vs-
        archiver; this lease protects archiver-vs-archiver.

        Returns False when another archiver holds a live lease (the
        caller no-ops — maintenance can rerun any time).  A lease older
        than ``ttl_seconds`` is a crashed archiver: broken via token CAS
        where the store has it (an unconditional remove could delete a
        FRESH competitor's claim), best-effort remove+recreate
        otherwise.  Under ``use_lock`` the table flock already
        serializes archivers; a backend without conditional create keeps
        the documented single-archiver stance."""
        if self._use_lock or not self.fs.supports_put_if_absent():
            return True
        path = self.fs.join(d, _ARCHIVE_LEASE_FILE)
        owner = _uuid.uuid4().hex  # release matches on THIS, never blind
        doc = json.dumps({"ts": time.time(), "owner": owner})
        if self.fs.write_text_if_absent(path, doc):
            self._lease_owner[d] = owner
            return True
        token = None
        try:
            if self.fs.supports_put_if_match():
                cur, token = self.fs.read_text_and_token(path)
            else:
                cur = self.fs.read_text(path)
            ts = float(json.loads(cur).get("ts", 0.0))
        except FileNotFoundError:
            # freed between the claim and the read: one more attempt
            if self.fs.write_text_if_absent(path, doc):
                self._lease_owner[d] = owner
                return True
            return False
        except (ValueError, TypeError, KeyError, AttributeError):
            # corrupt lease (bad JSON, or valid JSON that is not an
            # object — .get would raise AttributeError): treat as stale
            ts = 0.0
        if time.time() - ts <= ttl_seconds:
            return False  # live competitor
        if token is not None:
            if self.fs.write_text_if_match(path, doc, token):
                self._lease_owner[d] = owner
                return True
            return False
        try:
            self.fs.remove_file(path)
        except FileNotFoundError:
            pass
        if self.fs.write_text_if_absent(path, doc):
            self._lease_owner[d] = owner
            return True
        return False

    def _release_archival_lease(self, d: str) -> None:
        """Release only OUR lease.  An archiver that overran its TTL and
        was staleness-broken by a competitor must not, in its finally
        block, delete the competitor's LIVE claim — an unconditional
        remove here would admit a third concurrent artifact mutator,
        exactly the history-loss scenario the lease exists to prevent
        (r13 advice).  Ownership is the ``owner`` token stamped at
        acquire time: token-CAS replace with an already-stale doc where
        the store supports conditional puts (a racer re-claiming between
        our read and the write mismatches the token and we no-op);
        read-check-remove best effort otherwise."""
        owner = self._lease_owner.pop(d, None)
        if owner is None:
            return  # never acquired (flock mode / no conditional create)
        path = self.fs.join(d, _ARCHIVE_LEASE_FILE)
        token = None
        try:
            if self.fs.supports_put_if_match():
                cur, token = self.fs.read_text_and_token(path)
            else:
                cur = self.fs.read_text(path)
            if json.loads(cur).get("owner") != owner:
                return  # a competitor staleness-broke us: their lease now
        except FileNotFoundError:
            return
        except (ValueError, TypeError, KeyError, AttributeError):
            pass  # corrupt doc (incl. valid non-object JSON): clear it
        if token is not None:
            self.fs.write_text_if_match(path, json.dumps({"ts": 0.0}), token)
            return
        try:
            self.fs.remove_file(path)
        except FileNotFoundError:
            pass

    def _write_floor(self, d: str, seq: int, n_archived: int) -> None:
        """Advance the archive-floor doc, monotonic on seq (token CAS
        where the store supports it — mirrors ``_advance_head``).  The
        instance floor cache moves with it: a stale cached floor after a
        repair bump could let THIS instance's next commit claim a slot
        the repair just deleted."""
        self._floor_cache[d] = max(self._floor_cache.get(d, -1), seq)
        path = self.fs.join(d, _ARCHIVE_FLOOR_FILE)
        doc = json.dumps({"seq": seq, "n_archived": n_archived})
        if self._use_cas and self.fs.supports_put_if_match():
            for _ in range(64):
                try:
                    cur_text, token = self.fs.read_text_and_token(path)
                    cur_seq = int(json.loads(cur_text).get("seq", -1))
                except (FileNotFoundError, ValueError, KeyError, TypeError):
                    cur_seq, token = -1, None
                if cur_seq >= seq:
                    return
                if self.fs.write_text_if_match(path, doc, token):
                    return
            return  # pathological churn: the next archival converges
        if self._read_floor_seq(d) >= seq:
            return
        self.fs.write_text(path, doc)
