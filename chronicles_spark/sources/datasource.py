"""``spark.read.format("chronicles")`` — a PySpark Python Data Source over
versioned tables.

The catalog-free reader (`read_current`) resolves live directories in
Python driver code and hands Spark a path list; this module packages the
same resolution as a first-class data source, so any Spark reader — SQL,
DataFrame, other sessions — consumes versioned tables with standard
syntax::

    spark.dataSource.register(ChroniclesDataSource)
    df = (spark.read.format("chronicles")
          .option("root", "/lake/_log")         # commit-log root: any FS URL,
                                                # or a sqlite log via
                                                # "sqlite:///lake/log.db"
          .option("table", "db.events")
          .option("location", "/lake/events")   # table storage location
          .option("commit", "<commit-id>")      # optional time travel
          .option("tag", "corpus-v1")           # …or by pinned tag
          .option("timestamp", "2024-01-01T00:00:00")  # …or as-of wall clock
          .option("branch", "staging")          # read a WAP staging branch
          .option("pushdown", "true")           # partition-filter pruning
          .load())

Execution shape: planning (log fold → live dirs) is driver-side metadata
work; each live ``_version=`` directory becomes one InputPartition, and
executors read it with pyarrow.dataset streaming Arrow RecordBatches —
zero row-at-a-time Python.  Equality filters on partition columns are
pushed down at planning time and prune whole directories before any I/O
(``pushFilters``); everything else stays in Spark.

Partition columns surface as strings (Hive path semantics, §1.4 of
SURVEY.md); the reference has no comparable integration point — this is
the Spark-native equivalent of its Hive-metastore LOCATION pointers.

The same format also registers a STREAMING source
(:class:`ChroniclesStreamReader`): ``spark.readStream.format("chronicles")``
tails the commit log and emits each commit range's changed partitions as a
micro-batch — incremental CDC with Structured Streaming's own offset
checkpointing for exactly-once progress.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Sequence, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StringType, StructField, StructType


class _LiveDir(InputPartition):
    def __init__(self, path: str, part_values: Tuple[Tuple[str, str], ...], fmt: str):
        self.path = path
        self.part_values = part_values
        self.fmt = fmt


def _iter_live_dir_batches(
    partition: _LiveDir, schema: StructType
) -> Iterator["object"]:
    """Stream one live ``_version=`` directory as Arrow RecordBatches,
    appending the Hive-style partition values as string columns — the
    shared executor-side read for the batch and streaming readers."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    data_fields = [
        f for f in schema.fields
        if f.name not in {c for c, _ in partition.part_values}
    ]
    dataset = ds.dataset(partition.path, format=partition.fmt)
    for batch in dataset.to_batches(columns=[f.name for f in data_fields]):
        arrays = list(batch.columns)
        names = list(batch.schema.names)
        for col, val in partition.part_values:
            arrays.append(pa.array([val] * batch.num_rows, type=pa.string()))
            names.append(col)
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def _resolve_live_dirs(options) -> tuple[list[tuple[str, tuple]], str]:
    """(live_dir, ((col, value), ...)) list + file format, from the log."""
    from ..core import paths as vpaths
    from ..core.model import (
        PartitionedTableVersion,
        SnapshotTableVersion,
        TableName,
    )
    from ..trackers import tracker_for_url

    root = options.get("root")
    table = options.get("table")
    location = options.get("location")
    if not (root and table and location):
        raise ValueError(
            "chronicles data source needs options: root, table, location"
        )
    fmt = options.get("format", "parquet")
    tracker = tracker_for_url(root)
    name = TableName.parse(table)
    branch = options.get("branch")
    if branch:
        # audit reads in the Write-Audit-Publish flow: resolve against the
        # branch's log (same storage location; only the line of history
        # differs).  Composes with commit/tag/timestamp WITHIN the branch.
        from ..branching import branch_table_name

        name = branch_table_name(name, branch)
    commit = options.get("commit")
    tag = options.get("tag")
    timestamp = options.get("timestamp")
    if sum(1 for o in (commit, tag, timestamp) if o) > 1:
        raise ValueError("pass at most one of commit, tag, timestamp")
    if tag:
        commit = tracker.tag_commit(name, tag)  # raises UnknownTagError
    elif timestamp:
        commit = tracker.commit_at_timestamp(name, timestamp)
    if commit:
        # version_at raises UnknownCommitError on a typo'd id (a bare fold
        # would silently return HEAD) and takes the checkpoint+tail fast
        # path when the commit is at/after the latest fold checkpoint
        tv = tracker.version_at(name, commit)
    else:
        tv = tracker.current_version(name)

    out: list[tuple[str, tuple]] = []
    if isinstance(tv, SnapshotTableVersion):
        out.append((vpaths.path_for(location, tv.version), ()))
    else:
        assert isinstance(tv, PartitionedTableVersion)
        for partition, version in sorted(
            tv.partition_versions.items(), key=lambda kv: kv[0].path
        ):
            out.append(
                (
                    vpaths.path_for(partition.resolve_path(location), version),
                    partition.column_values,
                )
            )
    return out, fmt


class ChroniclesReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self._dirs, self._fmt = _resolve_live_dirs(options)
        self._schema = schema
        self._part_cols = (
            [c for c, _ in self._dirs[0][1]] if self._dirs else []
        )

    def partitions(self) -> Sequence[InputPartition]:
        if not self._dirs:
            # pushdown can prune EVERY directory; Spark substitutes a bare
            # InputPartition for an empty list, so plan one explicit
            # zero-row sentinel instead
            return [_LiveDir("", (), self._fmt)]
        return [_LiveDir(p, tuple(pv), self._fmt) for p, pv in self._dirs]

    def read(self, partition: _LiveDir) -> Iterator["object"]:
        if not partition.path:  # all-pruned sentinel
            return iter(())
        return _iter_live_dir_batches(partition, self._schema)


class ChroniclesPushdownReader(ChroniclesReader):
    """Adds partition pruning and stats-based data skipping — surfaced as a
    separate class because Spark refuses a reader that declares
    ``pushFilters`` while ``spark.sql.python.filterPushdown.enabled`` is
    false."""

    def __init__(self, options, schema: StructType):
        super().__init__(options, schema)
        self._location = options.get("location")

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Directory pruning at planning time, two layers:

        1. equality/IN filters on PARTITION columns drop directories by
           their path values (consumed — Spark need not re-evaluate);
        2. comparison filters (=, <, <=, >, >=) on DATA columns drop
           directories whose ``_chronicles_stats.json`` sidecar proves the
           range empty (``spark/stats.py``; written by
           ``versioned_insert_into(..., stats_columns=...)``).  These are
           RETURNED to Spark — stats skipping is conservative planning,
           the row filter must still run.  Strict bounds are relaxed to
           inclusive for the overlap test (conservative), and directories
           without sidecars are never skipped.

        Everything else is returned for Spark to evaluate."""
        bounds: dict = {}

        def _tighten(col, lo, hi):
            cur_lo, cur_hi = bounds.get(col, (None, None))
            if lo is not None:
                cur_lo = lo if cur_lo is None else max(cur_lo, lo)
            if hi is not None:
                cur_hi = hi if cur_hi is None else min(cur_hi, hi)
            bounds[col] = (cur_lo, cur_hi)

        for f in filters:
            simple_col = f.attribute[0] if len(f.attribute) == 1 else None
            on_part_col = simple_col is not None and simple_col in self._part_cols
            if isinstance(f, EqualTo) and on_part_col:
                want = str(f.value)
                self._dirs = [
                    (p, pv) for p, pv in self._dirs if dict(pv).get(simple_col) == want
                ]
            elif isinstance(f, In) and on_part_col:
                wanted = {str(v) for v in f.value}
                self._dirs = [
                    (p, pv) for p, pv in self._dirs if dict(pv).get(simple_col) in wanted
                ]
            elif simple_col is not None and not on_part_col and isinstance(
                f, (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                if isinstance(f, EqualTo):
                    _tighten(simple_col, f.value, f.value)
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    _tighten(simple_col, f.value, None)
                else:
                    _tighten(simple_col, None, f.value)
                yield f  # stats pruning never replaces the row filter
            else:
                yield f

        if bounds and self._location:
            # pushFilters runs in the planning worker (no SparkSession), so
            # the executor fan-out stats.py uses on the read_current path is
            # unavailable here; sidecar probes are tiny I/O-bound GETs, so a
            # thread pool keeps a 100k-partition table's planning latency at
            # max(GET) · ceil(n/32) instead of sum(GET)
            from concurrent.futures import ThreadPoolExecutor

            from ..spark.stats import DISTRIBUTE_THRESHOLD, dir_passes, load_sidecar
            from ..trackers.fs import filesystem_for

            fs, _ = filesystem_for(self._location)
            if len(self._dirs) <= DISTRIBUTE_THRESHOLD:
                keep = [dir_passes(load_sidecar(fs, p), bounds) for p, _ in self._dirs]
            else:
                with ThreadPoolExecutor(max_workers=32) as pool:
                    keep = list(
                        pool.map(
                            lambda d: dir_passes(load_sidecar(fs, d[0]), bounds),
                            self._dirs,
                        )
                    )
            self._dirs = [d for d, k in zip(self._dirs, keep) if k]


class ChroniclesStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("chronicles")`` — incremental CDC over the
    commit log.

    Offsets are positions in the append-only update log —
    ``{"commits": n, "last_seq": s}`` = the first ``n`` commit files
    consumed, the newest of which carries filename sequence ``s`` — so
    every micro-batch range is deterministic and replayable: the log
    prefix below an offset is immutable, and re-planning the same
    ``(start, end]`` range always yields the same directories.  Ranges are
    folded BY SEQUENCE (``start.last_seq < seq <= end.last_seq``), not by
    list position, and each planning pass re-counts the consumed prefix:
    if a writer with a lagging clock ever inserted a commit file inside an
    already-consumed prefix (possible only in the default unlocked
    multi-writer mode — ``use_lock=True`` and the sqlite tracker make
    filenames collision-checked/monotonic), the stream FAILS with a clear
    error instead of silently never delivering that commit.

    Rollbacks: ``checkout``/``set_current_version`` move the head pointer
    without writing a commit file, so while a head is parked in the past
    the CDC stream (which follows commit order) diverges from
    ``read_current``.  The source serves only commits AT OR BELOW the head
    pointer each poll (an append caught between its commit-file write and
    its head_ref update is just "not visible yet", never misread as a
    rollback) and fails with a clear error when the head parks below an
    offset this stream already served (the Delta-streaming-source
    precedent for non-append changes); pass ``.option("rollback",
    "ignore")`` to keep tailing raw commit order — safe because reference
    fold semantics re-surface rolled-back commits once the head
    re-advances, at which point consumer state and live view converge
    again.

    A batch emits the rows of exactly the
    partitions whose live version CHANGED across the range — the streaming
    twin of :func:`chronicles_spark.spark.reader.read_changes` — read at
    their end-of-range version.  Remove-only commits emit no rows
    (enumerate tombstones with ``changed_partitions``).

    ``starting`` option: ``earliest`` (default — first batch replays the
    full current state) or ``latest`` (only commits after stream start).

    Scale/ops notes:
    - Planning is O(log tail) driver-side metadata; each changed directory
      becomes one InputPartition read by executors as Arrow batches.
    - Exactly-once delivery relies on the normal Structured Streaming
      offset checkpoint; version retention must exceed consumer lag —
      ``vacuum(keep_last=N)`` can delete a superseded version directory
      that a lagging/replaying stream still needs (same contract as
      Delta's ``delete file retention`` vs streaming reads).
    - The tracker root must be visible to the planning worker (file-based,
      fsspec URL, or a ``sqlite://``/``*.db`` log — sequence ids there are
      transaction-serialized, so the prefix hazard below cannot occur);
      process-local ``memory://`` state is not.

    The reference has no streaming surface at all — this is the
    Spark-native extension point its Hive-pointer design cannot express.
    """

    def __init__(self, options, schema: StructType):
        root = options.get("root")
        table = options.get("table")
        location = options.get("location")
        if not (root and table and location):
            raise ValueError(
                "chronicles stream source needs options: root, table, location"
            )
        self._root = root
        self._table = table
        self._location = location
        self._fmt = options.get("format", "parquet")
        self._schema = schema
        starting = str(options.get("starting", "earliest")).lower()
        if starting not in ("earliest", "latest"):
            raise ValueError(f"starting must be earliest|latest, got {starting!r}")
        self._starting = starting
        rollback = str(options.get("rollback", "error")).lower()
        if rollback not in ("error", "ignore"):
            raise ValueError(f"rollback must be error|ignore, got {rollback!r}")
        self._rollback = rollback
        # incremental-fold cache: (last seq folded through, ``fold.fold_onto``
        # state: partition path → version label, snapshot label | None);
        # seq=-1 is the empty state
        self._fold_cache = (-1, ({}, None))
        self._snapshot_kind: Optional[bool] = None
        self._last_file_id: Tuple[int, Optional[str]] = (-1, None)  # seq → id
        self._served_commits = 0  # high-water mark of offsets handed to Spark

    # -- log access ---------------------------------------------------------
    # Per-poll cost is O(new commits), never O(log): latestOffset is one
    # directory LISTING (update_seqs — no commit-file parses) plus, with
    # the default rollback=error, one head_ref read and a single-commit
    # -file read memoized per tail seq; partitions() folds only the commit
    # files in its seq range on top of the previous batch's cached folded
    # state.  A restart/replay whose start precedes the cache falls back
    # to a full refold of the prefix — correctness never depends on the
    # cache.

    def _make_tracker(self):
        from ..trackers import tracker_for_url

        return tracker_for_url(self._root)

    def _table_name(self):
        from ..core.model import TableName

        return TableName.parse(self._table)

    def _is_snapshot(self) -> bool:
        if self._snapshot_kind is None:
            from ..core import fold

            first = self._make_tracker().updates_slice(self._table_name(), 0, 1)
            self._snapshot_kind = fold.is_snapshot_from_updates(first)
        return self._snapshot_kind

    def _fold_onto(self, state, start_seq: int, end_seq: int):
        """Fold commits with ``start_seq < seq <= end_seq`` onto
        ``state``, a :func:`~chronicles_spark.core.fold.fold_onto` state."""
        from ..core import fold

        if start_seq >= end_seq:
            return state
        updates = self._make_tracker().updates_in_seq_range(
            self._table_name(), start_seq, end_seq
        )
        return fold.fold_onto(*state, updates)

    def _state_at(self, seq: int):
        cs, cstate = self._fold_cache
        if cs <= seq:
            return self._fold_onto(cstate, cs, seq)
        return self._fold_onto(({}, None), -1, seq)  # replay before the cache

    def _offset_pos(self, offset: dict, seqs) -> Tuple[int, int]:
        """(commits, last_seq) from an offset; a legacy offset without
        ``last_seq`` (pre-seq-range checkpoint) recovers it positionally."""
        n = int(offset["commits"])
        if "last_seq" in offset:
            return n, int(offset["last_seq"])
        return n, (seqs[n - 1] if 0 < n <= len(seqs) else -1)

    def _check_prefix(self, n: int, last_seq: int, seqs, which: str) -> None:
        """A consumed prefix must still hold exactly the files it held when
        its offset was recorded; a mismatch means an unlocked multi-writer
        inserted a commit inside it (lagging clock) and positional
        consumption would silently skip a commit — fail loudly instead."""
        import bisect

        if n == 0:
            return
        found = bisect.bisect_right(seqs, last_seq)
        if found != n:
            raise RuntimeError(
                f"commit log prefix changed under the stream: the {which} "
                f"offset recorded {n} commit file(s) up to seq {last_seq}, "
                f"but the log now holds {found} there — an unlocked "
                "multi-writer with a lagging clock inserted a commit into "
                "an already-consumed range. Use FileBackedVersionTracker("
                "use_lock=True) or the sqlite tracker for multi-writer "
                "logs, then restart this stream from a fresh checkpoint."
            )

    def _visible_commits(self, tracker, name, seqs) -> int:
        """Leading commits VISIBLE through the head pointer.

        The files tracker appends the commit file BEFORE advancing
        head_ref, so a poll can land in that window and see a newer file
        than the head acknowledges.  That is an append in progress, not a
        rollback: the batch is simply capped at the head and the new
        commit is served once the head advances.  A head parked BELOW an
        offset this stream already served is the genuine rollback case,
        handled in :meth:`latestOffset`.  ``rollback="ignore"`` keeps the
        old tail-the-file-order behavior (serve everything).

        The MIRROR race also exists (round-14 fix): the caller takes its
        listing FIRST and this method reads the head SECOND, so a writer
        landing commit N+1 and advancing the head in that window hands us
        a head that matches no listed seq — the head ran AHEAD of a stale
        listing, which is an append in progress too, never corruption.
        The head's commit file is always written before the head
        advances, so one FRESH listing taken after our head read must
        contain it: we locate the head there and count how many of the
        caller's seqs sit at or below it (all of them, in the common
        case).  Only a head matching nothing in a fresh listing is
        corruption (the house ``_retry_vanished`` stance: retry once from
        fresh state, then fail loudly)."""
        if not seqs:
            return 0
        if self._rollback == "ignore":
            return len(seqs)
        head = tracker.head_commit_id(name)
        n = self._scan_for_head(tracker, name, seqs, head)
        if n is not None:
            return n
        import bisect

        fresh = tracker.update_seqs(name)
        m = self._scan_for_head(tracker, name, fresh, head)
        if m is not None:
            return bisect.bisect_right(seqs, fresh[m - 1])
        raise RuntimeError(
            f"table head ({head}) does not match any commit in the log — "
            "the log root is corrupted or points at a different table"
        )

    def _scan_for_head(self, tracker, name, seqs, head):
        """Newest-first scan for the commit file carrying ``head``;
        returns the 1-based count of leading seqs at or below it, or
        ``None`` when no listed file carries the head (the caller decides
        whether that is a stale listing or corruption).  Memoizes the
        newest file's commit id so a steady-state poll re-parses nothing."""
        i = len(seqs) - 1
        while i >= 0:
            seq = seqs[i]
            cached_seq, cached_id = self._last_file_id
            if cached_seq == seq and cached_id is not None:
                cid = cached_id
            else:
                tail = tracker.updates_in_seq_range(name, seq - 1, seq)
                cid = tail[0].metadata.commit_id if tail else None
                if i == len(seqs) - 1:
                    self._last_file_id = (seq, cid)
            if cid == head:
                return i + 1
            i -= 1
        return None

    # -- DataSourceStreamReader API ----------------------------------------

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        if self._starting == "latest":
            tracker = self._make_tracker()
            name = self._table_name()
            seqs = tracker.update_seqs(name)
            n = self._visible_commits(tracker, name, seqs)
            return {"commits": n, "last_seq": seqs[n - 1] if n else -1}
        return {"commits": 0, "last_seq": -1}

    def latestOffset(self) -> dict:  # noqa: N802 (API name)
        tracker = self._make_tracker()
        name = self._table_name()
        seqs = tracker.update_seqs(name)
        n = self._visible_commits(tracker, name, seqs)
        if n < self._served_commits:
            raise RuntimeError(
                f"table head is rolled back behind offsets this stream "
                f"already served ({n} visible commits < {self._served_commits} "
                "served): the live view no longer matches commit order, so "
                "this CDC stream would diverge from read_current. Either "
                "restart the stream from a fresh checkpoint once the head "
                're-advances, or pass .option("rollback", "ignore") to keep '
                "tailing commit order (consumer state re-converges with the "
                "live view when a later commit re-advances the head)."
            )
        self._served_commits = n
        return {"commits": n, "last_seq": seqs[n - 1] if n else -1}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from ..core import paths as vpaths
        from ..core.model import Partition
        from ..core.version import Version

        seqs = self._make_tracker().update_seqs(self._table_name())
        n0, s0 = self._offset_pos(start, seqs)
        n1, s1 = self._offset_pos(end, seqs)
        self._check_prefix(n0, s0, seqs, "start")
        self._check_prefix(n1, s1, seqs, "end")
        # checkpoint-replayed batches raise the high-water mark too, so a
        # rollback that happened across a restart is still detected
        self._served_commits = max(self._served_commits, n1)
        pv0, snap0 = self._state_at(s0)
        pv1, snap1 = self._fold_onto((pv0, snap0), s0, s1)
        self._fold_cache = (s1, (pv1, snap1))  # the next batch starts at s1

        out: List[InputPartition] = []
        # n=0 empty state is kind-agnostic ({}, None): no table kind read
        if n1 > 0 and self._is_snapshot():
            if snap1 is not None and snap1 != snap0:
                out.append(
                    _LiveDir(
                        vpaths.path_for(self._location, Version(snap1)), (), self._fmt
                    )
                )
        else:
            for path, label in sorted(pv1.items()):
                if pv0.get(path) != label:
                    partition = Partition.parse(path)
                    out.append(
                        _LiveDir(
                            vpaths.path_for(
                                partition.resolve_path(self._location),
                                Version(label),
                            ),
                            partition.column_values,
                            self._fmt,
                        )
                    )
        # a remove-only / no-op range still needs one (empty) partition:
        # Spark requires a non-empty partition list per planned batch
        if not out:
            out.append(_LiveDir("", (), self._fmt))
        return out

    def read(self, partition: _LiveDir) -> Iterator["object"]:
        if not partition.path:  # empty-range sentinel
            return iter(())
        return _iter_live_dir_batches(partition, self._schema)

    def commit(self, end: dict) -> None:
        # the commit log is the source of truth; Spark's offset checkpoint
        # carries stream progress — nothing to release on our side
        pass


class ChroniclesDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "chronicles"

    def schema(self):
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import from_arrow_schema

        dirs, fmt = _resolve_live_dirs(self.options)
        if not dirs:
            raise ValueError("table has no live data (empty state)")
        path, part_values = dirs[0]
        arrow_schema = ds.dataset(path, format=fmt).schema
        base = from_arrow_schema(arrow_schema)
        fields: List[StructField] = list(base.fields)
        for col, _ in part_values:
            fields.append(StructField(col, StringType()))
        return StructType(fields)

    def reader(self, schema: StructType) -> DataSourceReader:
        # planning runs in a separate Python worker (no SparkSession), so
        # pushdown is opted into per-read; it additionally requires the
        # session conf spark.sql.python.filterPushdown.enabled=true
        pushdown = str(self.options.get("pushdown", "false")).lower() == "true"
        cls = ChroniclesPushdownReader if pushdown else ChroniclesReader
        return cls(self.options, schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:  # noqa: N802
        return ChroniclesStreamReader(self.options, schema)
