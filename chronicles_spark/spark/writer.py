"""Versioned write path (the reference's ``versionedInsertInto``).

Reference semantics: spark/src/main/scala/dev/chronicles/spark/VersionContext.scala:
* W1 ``partitionValues`` (:109-128): distinct-projection of the partition
  columns → list of Partitions. Scales: the shuffle is over partition
  tuples only (column-pruned scan + hash-distinct), and only #partitions
  rows ever reach the driver.
* W2 ``versionedInsertInto`` (:51-104): stamp a ``_version`` literal
  column (W4, :85), then ``write.partitionBy(parts + _version)`` in
  APPEND mode to the table location (:81-96). Appending under a fresh
  ``_version=<label>`` directory never rewrites existing data — writes
  are immutable, crash before commit leaves the live table untouched
  (docs/concepts.md:71-75).
* The commit itself (log append + metastore/pointer sync) is metadata-only
  and O(#changed partitions), independent of data size.

Scale notes (100 TB design):
- The data write is a single Spark job with no extra shuffle beyond what
  ``partitionBy`` needs; we do NOT repartition by partition columns by
  default (AQE handles small-file coalescing; callers with heavy skew can
  pre-repartition).
- The reference computes ``partitionValues`` as a SECOND full scan of the
  input (distinct-projection job) before the write
  (VersionContext.scala:72-78) — at 100 TB that doubles the read cost.
  ``versioned_insert_into`` offers three discovery strategies via
  ``partitions=`` / ``partition_discovery=``: pass the partition list when
  the caller already knows it (streaming sink — zero cost), ``"listing"``
  (default) walks the fresh ``_version=<label>`` dirs after the write —
  O(total table partitions) FS metadata, zero data scans, right for bulk
  loads that touch most partitions — and ``"scan"`` keeps the reference's
  pre-write distinct projection — O(input) extra scan but independent of
  table width, right for small writes into very wide tables.
  ``partition_values`` (W1) remains the faithful scan-based operator for
  callers that need partition tuples WITHOUT writing.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, functions as F

from ..core.diff import compute_changes
from ..core.model import Partition, PartitionedTableVersion, SnapshotTableVersion, TableDefinition
from ..core.ops import (
    AddPartitionVersion,
    AddTableVersion,
    RemovePartition,
    TableOperation,
    TableUpdate,
    TableUpdateMetadata,
)
from ..core.paths import VERSION_COLUMN, unescape_path_name
from ..core.version import Version, generate_version
from ..trackers.base import VersionTracker, head_of
from .reader import _memo_key, _memo_pop, _seed_from_write


def partition_values(df: DataFrame, partition_columns: Tuple[str, ...]) -> List[Partition]:
    """Distinct partition tuples present in ``df`` (VersionContext.scala:109-128).

    Values use Hive string semantics — cast to string exactly as the path
    encoding will render them.
    """
    if not partition_columns:
        return []
    rows = (
        df.select([F.col(c).cast("string").alias(c) for c in partition_columns])
        .distinct()
        .collect()
    )
    # Reject null/empty partition values up front: Spark's partitionBy would
    # write them as __HIVE_DEFAULT_PARTITION__, which the commit log can't
    # point back at (the reference fails before commit via NPE; committing
    # a silently-broken pointer would be worse).
    for r in rows:
        for c in partition_columns:
            # the literal sentinel string would be written verbatim but read
            # back by Spark as a NULL partition value — same broken-pointer
            # hazard as a real null, and rejected by all discovery paths
            if r[c] is None or r[c] == "" or r[c] == "__HIVE_DEFAULT_PARTITION__":
                raise ValueError(
                    f"partition column {c!r} contains null/empty values; "
                    "versioned writes require concrete partition values"
                )
    return [Partition(tuple((c, r[c]) for c in partition_columns)) for r in rows]


def _walk_partitions(fs, path: str, part_cols, version_dir: str, acc: tuple):
    """Depth-first walk collecting partitions whose dir holds a child named
    ``version_dir``.  Module-level so executor tasks can run subtree walks
    (the closure must not capture a driver-side FileSystem)."""
    out: List[Partition] = []
    if len(acc) == len(part_cols):
        if fs.is_dir(fs.join(path, version_dir)):
            out.append(Partition(acc))
        return out
    col = part_cols[len(acc)]
    prefix = col + "="
    for name in fs.list_dir(path):
        if not name.startswith(prefix):
            continue
        # directory names carry Hive-escaped values; Partition stores RAW
        value = unescape_path_name(name[len(prefix):])
        if value == "__HIVE_DEFAULT_PARTITION__":
            raise ValueError(
                f"partition column {col!r} contains null/empty values; "
                "versioned writes require concrete partition values"
            )
        out.extend(
            _walk_partitions(
                fs, fs.join(path, name), part_cols, version_dir,
                acc + ((col, value),),
            )
        )
    return out


def partitions_written(
    table: TableDefinition,
    version: Version,
    spark=None,
    distribute_threshold: int = 256,
) -> List[Partition]:
    """Partition tuples actually written under ``version``, recovered from a
    walk of the table location (no data scan).

    Only directories containing a ``_version=<label>`` child for THIS
    version are returned, so pre-existing partitions/versions never leak
    in.  Null/empty partition values surface as Hive's
    ``__HIVE_DEFAULT_PARTITION__`` directory and are rejected — the commit
    log cannot point back at them, so the uncommitted files stay invisible
    to every reader.  The default vacuum cannot reclaim them either (its
    candidate set comes from log-recorded (partition, version) pairs);
    ``vacuum(..., sweep_orphans=True)`` sweeps such never-committed
    version directories once they are older than ``orphan_min_age``.

    Scale: the walk is one FS listing per partition directory.  With
    ``spark`` given and at least ``distribute_threshold`` first-level
    entries, the subtree walks FAN OUT to executors (one FS client per
    task, like distributed vacuum) — on a 100k-partition table that turns
    100k serial driver round-trips into a cluster-wide listing job.
    ``memory://`` storage is process-local and always walks on the driver.
    """
    from ..trackers.fs import filesystem_for

    fs, root = filesystem_for(table.location)
    part_cols = table.partition_schema.columns
    version_dir = f"{VERSION_COLUMN}={version.label}"

    if spark is not None and len(part_cols) >= 1 and not table.location.startswith(
        "memory://"
    ):
        # prefix-only filter, like the serial walk — no per-entry is_dir
        # round-trips on the driver (the whole point of fanning out);
        # executors is_dir-check their own slice.  This ONE root listing
        # is reused by the sub-threshold serial path below, so the common
        # narrow-table write never lists the root twice.
        first = [n for n in fs.list_dir(root) if n.startswith(part_cols[0] + "=")]
        col0 = part_cols[0]

        def _serial_first_level_walk() -> List[Partition]:
            out: List[Partition] = []
            for name in first:
                value = unescape_path_name(name[len(col0) + 1:])
                if value == "__HIVE_DEFAULT_PARTITION__":
                    raise ValueError(
                        f"partition column {col0!r} contains null/empty "
                        "values; versioned writes require concrete "
                        "partition values"
                    )
                out.extend(
                    _walk_partitions(
                        fs, fs.join(root, name), part_cols, version_dir,
                        ((col0, value),),
                    )
                )
            return out

        if len(first) < distribute_threshold:
            return _serial_first_level_walk()
        if len(first) >= distribute_threshold:
            # the null-sentinel contract (ValueError on the DRIVER) holds
            # for the first level here; deeper levels re-raise below
            for name in first:
                if unescape_path_name(name[len(col0) + 1:]) == "__HIVE_DEFAULT_PARTITION__":
                    raise ValueError(
                        f"partition column {col0!r} contains null/empty values; "
                        "versioned writes require concrete partition values"
                    )
            location_url = table.location

            def _walk_subtrees(names):
                from chronicles_spark.core.paths import VERSION_COLUMN as _VC
                from chronicles_spark.spark.writer import _walk_partitions as _wp
                from chronicles_spark.trackers.fs import filesystem_for as _ff

                efs, eroot = _ff(location_url)
                out = []
                col = part_cols[0]
                for name in names:
                    p = efs.join(eroot, name)
                    if not efs.is_dir(p):
                        continue  # stray file named like a partition
                    value = unescape_path_name(name[len(col) + 1:])
                    out.extend(
                        _wp(
                            efs, p, part_cols,
                            f"{_VC}={version.label}", ((col, value),),
                        )
                    )
                return out

            sc = spark.sparkContext
            n_slices = max(1, min(len(first), sc.defaultParallelism))
            try:
                return (
                    sc.parallelize(first, n_slices)
                    .mapPartitions(lambda it: _walk_subtrees(list(it)))
                    .collect()
                )
            except Exception as e:  # keep the documented ValueError contract
                if "contains null/empty values" in str(e):
                    raise ValueError(
                        "partition columns contain null/empty values; "
                        "versioned writes require concrete partition values"
                    ) from e
                # versioned_insert_into always passes `spark`, so on a
                # cluster whose executors lack the chronicles_spark
                # package this fan-out would fail AFTER the data job
                # already landed.  An executor-side import failure is a
                # deployment shape, not an error: degrade to the serial
                # driver walk (correct, just slower) instead of stranding
                # the written files uncommitted.
                msg = str(e)
                if "chronicles_spark" in msg and (
                    "ModuleNotFoundError" in msg or "ImportError" in msg
                ):
                    import warnings

                    warnings.warn(
                        "partition discovery fan-out failed because "
                        "executors cannot import chronicles_spark; "
                        "falling back to the serial driver walk — "
                        "install the package on executors to restore "
                        "distributed discovery",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                    return _serial_first_level_walk()
                raise

    return _walk_partitions(fs, root, part_cols, version_dir, ())


def _check_remove_clash(parts, remove_partitions) -> None:
    """A partition both written and removed in one commit is a
    self-contradictory caller plan — reject it (pre-write when the
    written set is known early; re-checked at ops assembly otherwise)."""
    written_set = set(parts)
    clash = [p.path for p in remove_partitions if p in written_set]
    if clash:
        raise ValueError(
            f"partitions {clash} are both written and removed in "
            "one commit — self-contradictory plan"
        )


def write_versioned(
    df: DataFrame,
    table: TableDefinition,
    version: Version,
) -> None:
    """W2+W4: stamp ``_version`` and append under versioned directories
    (VersionContext.scala:81-96).

    Keeps the reader's schema memo exact: a successful write seeds the
    data schema of ``(table.location, version.label)``, so reads of the
    fresh directories skip footer inference.  Every library writer lands
    ONE write job per (table, label); an explicit ``version=`` that
    appends into a label the memo already knows drops the entry instead
    (the directory's first footer may now be either write's)."""
    part_cols = list(table.partition_schema.columns)
    writer = (
        df.withColumn(VERSION_COLUMN, F.lit(version.label))
        .write.partitionBy(*part_cols, VERSION_COLUMN)
        .mode("append")
        .format(table.format)
    )
    for k, v in table.format_options:
        writer = writer.option(k, v)
    key = _memo_key(df.sparkSession, table, version.label)
    appended = key is not None and _memo_pop(key)
    writer.save(table.location)
    if appended:
        _memo_pop(key)  # a read racing the append may have re-learned it
    elif key is not None:
        _seed_from_write(key, df.schema, table)


def versioned_insert_group(
    writes,
    tracker: VersionTracker,
    user_id: str,
    message: str,
    metastore=None,
    expected_heads=None,
    allow_disjoint: bool = True,
):
    """Write SEVERAL tables and flip their live views together — the
    cross-table transaction for pipelines whose outputs must stay
    mutually consistent (``documents`` + ``embeddings`` refreshed from
    the same batch).  Beyond reference parity.

    ``writes`` is a list of ``(df, table)`` pairs.  All data lands first
    under fresh invisible ``_version=`` directories (a crash here leaves
    every live view untouched, docs/concepts.md:71-75); then ONE
    ``tracker.commit_group`` publishes all the commits with the backend's
    native atomicity — all-or-nothing on sqlite, one lock on in-memory,
    ordered per-table appends on files.  Partition discovery uses the
    written-directory listing (zero extra scans).  Returns
    ``{table_name: table_version}`` for the new states; with
    ``metastore``, each table is then synced by diff (the ALTERs
    themselves are per-statement, as in the reference).

    ``expected_heads`` (``{table_name: head_commit_id}``) makes the
    group OPTIMISTIC per listed table — every conflict check runs before
    any append, so a conflict anywhere lands nothing (round 7; the
    cross-table read-modify-write primitive, same semantics as
    ``versioned_insert_into``'s ``concurrency="optimistic"`` with
    ``allow_disjoint`` controlling disjoint-partition auto-merge)."""
    if not writes:
        raise ValueError("versioned_insert_group needs at least one (df, table)")
    names = [t.name for _df, t in writes]
    if len(set(names)) != len(names):
        raise ValueError("duplicate table in group write")
    mode = writes[0][0].sparkSession.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    if (mode or "").lower() != "dynamic":
        raise RuntimeError(
            "The Spark configuration must have spark.sql.sources."
            "partitionOverwriteMode set to 'dynamic'"
        )
    tracked = set(tracker.tables())  # ONE registry read, not a per-table
    for _df, table in writes:  # full-log materialization
        if table.name not in tracked:
            from ..trackers.base import UnknownTableError

            raise UnknownTableError(table.name)

    group: dict = {}
    meta_ts = datetime.now(timezone.utc)
    # one GROUP marker label shared by every member commit (the pairing
    # protocol generalized, round 14): read_group_states resolves a
    # mutually consistent snapshot across the members by comparing the
    # newest marker in each table's folded prefix — without it, a reader
    # resolving each table independently mid-group sees A-new/B-old on
    # the files backend (ordered per-table appends)
    from ..core.markers import pair_message

    stamped = pair_message(message, generate_version().label)
    for df, table in writes:
        version = generate_version()
        write_versioned(df, table, version)
        if table.is_snapshot:
            ops: List[TableOperation] = [AddTableVersion(version)]
        else:
            parts = partitions_written(table, version, spark=df.sparkSession)
            ops = [
                AddPartitionVersion(p, version)
                for p in sorted(parts, key=lambda p: p.path)
            ]
        meta = TableUpdateMetadata.new(user_id, stamped, meta_ts)
        group[table.name] = TableUpdate(meta, tuple(ops))

    tracker.commit_group(
        group, expected_heads=expected_heads, allow_disjoint=allow_disjoint
    )

    out = {}
    for _df, table in writes:
        new_state = tracker.current_version(table.name)
        out[table.name] = new_state
        if metastore is not None:
            actual = metastore.current_version(table)
            metastore.update(table, compute_changes(actual, new_state))
    return out


def versioned_insert_into(
    df: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str,
    message: str,
    version: Optional[Version] = None,
    metastore=None,
    partitions: Optional[List[Partition]] = None,
    partition_discovery: str = "listing",
    concurrency: str = "last-writer-wins",
    base_head: Optional[str] = None,
    stats_columns=None,
    schema_mode: str = "off",
    remove_partitions: Optional[List[Partition]] = None,
):
    """Full write flow (VersionContext.scala:51-104 + VersionedMetastore.scala:53-66).

    1. generate a fresh version (injectable for tests, like the reference's
       ``generateVersion`` injection point, VersionContext.scala:18-21),
    2. plan ops: snapshot → [AddTableVersion]; partitioned → one
       AddPartitionVersion per distinct partition tuple (Spark job #1),
    3. append the data under versioned paths (Spark job #2),
    4. commit to the tracker log, then sync the metastore (if attached) by
       diffing desired vs. actual state.

    Returns ``(table_version, changes)`` — the resolved state after the
    commit and the metastore operations applied.

    Partition discovery (partitioned tables): ``partitions`` short-circuits
    discovery when the caller already knows the touched partition tuples;
    ``partition_discovery="listing"`` (default) walks the written
    ``_version`` directories after the write (no data scan; FS cost is
    O(total table partitions) — right for bulk loads);
    ``partition_discovery="scan"`` runs the reference's pre-write distinct
    projection (one extra scan of the input, independent of table width —
    right for small writes into very wide tables, e.g. micro-batches).
    Caveat shared with the reference (VersionContext.scala:72-96): "scan"
    evaluates ``df`` twice (discovery job + write job) — a nondeterministic
    partition column (rand()-derived, mutable source) can diverge between
    the two; persist the input or use "listing", which reads what actually
    landed on disk.

    ``concurrency``: ``"last-writer-wins"`` (default — the reference's
    documented stance, FileBackedVersionTracker.scala:23-25),
    ``"optimistic"`` (commit with ``expected_head`` = the head read before
    the write; concurrent commits to DISJOINT partitions auto-merge, an
    overlapping one raises ``CommitConflictError`` — re-run to retry), or
    ``"strict"`` (any head movement conflicts).  On conflict the written
    ``_version`` directories stay invisible-but-unreclaimed, exactly like
    a crash between write and commit.  ``base_head`` pins the expectation
    to a head the caller read EARLIER — the read-modify-write pattern
    (read_current → transform → write back) passes the head it read under
    so any commit since, not just one racing the write itself, is
    detected; default is the head at entry to this call.

    ``stats_columns``: ``"*"`` or a list of column names harvests min/max
    footer statistics for the written directories into per-version
    sidecars (zero data scan) so later reads can data-skip with
    ``stats_filter`` — see :mod:`chronicles_spark.spark.stats`.  Default
    ``None`` records nothing.

    ``schema_mode``: ``"off"`` (reference behavior — no enforcement),
    ``"additive"`` (new columns allowed; drops/type changes raise
    :class:`~chronicles_spark.spark.schema_guard.SchemaDriftError` before
    any bytes land), or ``"strict"`` (any schema change raises) — see
    :mod:`chronicles_spark.spark.schema_guard`.  The recorded schema is
    only advanced AFTER the commit succeeds.

    ``remove_partitions``: partitions to DROP from the live view in the
    SAME commit as the write — the primitive for read-modify-write
    operators whose rewrite can empty a partition (e.g. an ANN-index
    upsert that moves a bucket's last row elsewhere: without the atomic
    removal the emptied partition's old version directory would stay
    live and resurrect the moved rows).  A partition both written and
    listed here raises — the caller's plan is self-contradictory.
    """
    if partition_discovery not in ("listing", "scan"):
        raise ValueError(
            f"partition_discovery must be 'listing' or 'scan', got {partition_discovery!r}"
        )
    if concurrency not in ("last-writer-wins", "optimistic", "strict"):
        raise ValueError(
            "concurrency must be 'last-writer-wins', 'optimistic' or "
            f"'strict', got {concurrency!r}"
        )
    # W3 config guard (VersionContext.scala:62-69): without dynamic
    # partition-overwrite semantics, a true overwrite write would clobber
    # sibling partitions. Fail fast like the reference.
    # NB: the fallback must be a VALID value for this conf — Spark 4
    # validates the passed default on unset keys, so "" would raise
    # INVALID_CONF_VALUE on a vanilla session instead of our guard below
    mode = df.sparkSession.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    if (mode or "").lower() != "dynamic":
        raise RuntimeError(
            "The Spark configuration must have spark.sql.sources."
            "partitionOverwriteMode set to 'dynamic'"
        )

    # caller-plan validation BEFORE any bytes land: a misconfigured
    # retry loop would otherwise leak an invisible version directory per
    # attempt until the orphan sweep
    if remove_partitions and table.is_snapshot:
        raise ValueError("remove_partitions applies to partitioned tables only")

    # schema guard runs BEFORE any bytes are written, so a drifting input
    # never even leaves invisible files behind
    record_after_commit = False
    if schema_mode != "off":
        from .schema_guard import check_schema

        record_after_commit = check_schema(table, df.schema, schema_mode)

    version = version or generate_version()
    if base_head is None:
        base_head = head_of(tracker, table.name)
    prev_state = tracker.current_version(table.name)

    # data first (invisible until commit), then metadata. By default,
    # partition ops are planned AFTER the write from the fresh _version
    # directory listing — one data scan total, vs the reference's extra
    # distinct-projection job (VersionContext.scala:72-78); a failure
    # between write and commit leaves only invisible files
    # (docs/concepts.md:71-75), as before.
    parts: Optional[List[Partition]] = None
    if not table.is_snapshot:
        if partitions is not None:
            parts = list(partitions)
            # same null/empty validation both discovery strategies enforce:
            # a pointer at 'd=' with data under __HIVE_DEFAULT_PARTITION__
            # must never reach the commit log
            for p in parts:
                for c, v in p.column_values:
                    if v is None or v == "" or v == "__HIVE_DEFAULT_PARTITION__":
                        raise ValueError(
                            f"partition column {c!r} contains null/empty values; "
                            "versioned writes require concrete partition values"
                        )
        elif partition_discovery == "scan":
            # pre-write discovery: null values rejected before any bytes land
            parts = partition_values(df, table.partition_schema.columns)
        if parts is not None and remove_partitions:
            # clash check pre-write whenever the written set is known early
            # (the listing path re-checks in the ops assembly below)
            _check_remove_clash(parts, remove_partitions)
        elif remove_partitions:
            # listing mode discovers the written set only AFTER the data
            # lands, so a self-contradictory caller plan would leak an
            # invisible version directory per retry until the orphan
            # sweep.  remove_partitions callers opted into RMW semantics:
            # spend one distinct projection on the input to fail BEFORE
            # any bytes land.  Best-effort fail-fast only — the listing
            # path's post-write check below stays authoritative (a
            # nondeterministic partition column can diverge between this
            # pre-scan and what actually lands, the "scan" caveat above).
            _check_remove_clash(
                partition_values(df, table.partition_schema.columns),
                remove_partitions,
            )

    write_versioned(df, table, version)

    ops: List[TableOperation]
    if table.is_snapshot:
        ops = [AddTableVersion(version)]
    else:
        if parts is None:
            parts = partitions_written(table, version, spark=df.sparkSession)
        ops = [AddPartitionVersion(p, version) for p in sorted(parts, key=lambda p: p.path)]
        if remove_partitions:
            _check_remove_clash(parts, remove_partitions)
            ops += [
                RemovePartition(p)
                for p in sorted(set(remove_partitions), key=lambda p: p.path)
            ]

    if stats_columns is not None:
        from .stats import write_stats_sidecars

        write_stats_sidecars(
            df.sparkSession,
            table,
            version,
            None if table.is_snapshot else parts,
            None if stats_columns == "*" else list(stats_columns),
        )

    meta = TableUpdateMetadata.new(user_id, message, datetime.now(timezone.utc))
    if concurrency == "last-writer-wins":
        tracker.commit(table.name, TableUpdate(meta, tuple(ops)))
    else:
        tracker.commit(
            table.name,
            TableUpdate(meta, tuple(ops)),
            expected_head=base_head,
            allow_disjoint=(concurrency == "optimistic"),
        )

    if record_after_commit:
        from .schema_guard import record_schema

        record_schema(table, df.schema, version.label)

    new_state = tracker.current_version(table.name)
    if metastore is not None:
        actual = metastore.current_version(table)
        changes = compute_changes(actual, new_state)
        metastore.update(table, changes)
    else:
        changes = compute_changes(prev_state, new_state)
    return new_state, changes
