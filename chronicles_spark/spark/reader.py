"""Current-view and time-travel reads (metastore-free path).

The reference reads the current view through the metastore: partition
LOCATION pointers select the live version, so ``spark.table(t)`` never sees
more than one version per partition (docs/concepts.md:65-67, W5 in SURVEY
§2.1). The metastore-free equivalent implemented here resolves the live
``(partition → version)`` map from the commit log (V4 fold), builds the
concrete directory list, and hands it to one ``spark.read`` — driver-side
partition *selection*, with Spark's normal partition pruning still applying
on top for query filters (W7: acceptance-tests/.../DatePartitionedTableSpec.scala:95-105).

Scale notes:
- The path list is O(#live partitions) driver-side metadata (the same
  cardinality the Hive metastore client would hand Spark); data listing and
  reading stay fully distributed.
- ``basePath`` keeps partition-column recovery from directory names, so
  filters on partition columns prune directories before any file is read
  (verify via PartitionFilters in .explain).
- A 100k-partition table costs a 100k-element path list — same order as
  Hive partition listing; for bigger metadata, checkpoint the folded map
  (Delta-style) — see plans/log_queries.py which computes the fold
  distributed.
- Schema-known reads: a parquet ``load`` without a schema runs one Spark
  job to read a footer and infer the data columns.  Version directories
  are immutable, so that inference is memoized per directory label
  (:func:`_memo_key`); a write seeds its own entry and a cold read stores
  what Spark inferred, and every later read of the label passes the
  schema and skips the job (docs/scale.md "Schema-known reads").
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..core import paths as vpaths
from ..core.model import (
    PartitionedTableVersion,
    SnapshotTableVersion,
    TableDefinition,
)
from ..core.paths import VERSION_COLUMN
from ..trackers.base import VersionTracker

# serializes the session-global partition-inference conf swap in
# read_version; process-wide by design (coarser than strictly needed for
# multi-SparkSession processes, but those are rare and correctness wins)
_PARTITION_INFERENCE_LOCK = threading.Lock()

# Data schemas of immutable version directories: ``(location, label)`` →
# the data columns (no partition columns, no ``_version``, all nullable)
# that a schema-less parquet read infers when the read's first data file
# lies under ``_version=<label>``.  One write job per (table, label) is
# the invariant that makes the entry a fixed fact (every library writer
# mints a fresh label per table; an explicit ``version=`` appending into
# a known label drops the entry, see ``writer.write_versioned``).  LRU-bounded:
# new labels keep arriving in a long-running process and reads favour
# recent ones; 4,096 entries of ten-column schemas take about 10 MB.
_SCHEMA_MEMO: "OrderedDict[Tuple[str, str], StructType]" = OrderedDict()
_SCHEMA_MEMO_MAX = 1 << 12
_SCHEMA_MEMO_LOCK = threading.Lock()

# reader options that change which files Spark infers from, or merge
# their footers: a read carrying any of them infers as it always did
_INFERENCE_OPTIONS = frozenset(
    ("mergeschema", "pathglobfilter", "recursivefilelookup",
     "modifiedbefore", "modifiedafter")
)

# atomic types whose parquet round trip returns the written type exactly
# (Spark reads its own schema back from the footer metadata); anything
# else (char/varchar, collated strings, UDTs, variant, intervals, null)
# is learned from the first read instead of seeded by the write
_SEEDABLE_ATOMIC = frozenset(
    (BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
     DoubleType, DecimalType, BinaryType, DateType, TimestampType,
     TimestampNTZType)
)


def _memo_key(
    spark: SparkSession, table: TableDefinition, label: str
) -> Optional[Tuple[str, str]]:
    """The schema-memo key of ``table``'s version directories labelled
    ``label``, or None when the memo does not apply: the bare unversioned
    location (adopted in place, not immutable), a non-parquet format, or
    footer merging / file filtering in the table's options or the
    session's ``spark.sql.parquet.mergeSchema``."""
    if not label or table.format.lower() != "parquet":
        return None
    if any(k.lower() in _INFERENCE_OPTIONS for k, _ in table.format_options):
        return None
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    return (table.location.rstrip("/"), label)


def _memo_get(key) -> Optional[StructType]:
    with _SCHEMA_MEMO_LOCK:
        schema = _SCHEMA_MEMO.get(key)
        if schema is not None:
            _SCHEMA_MEMO.move_to_end(key)
        return schema


def _memo_put(key, schema: StructType) -> None:
    with _SCHEMA_MEMO_LOCK:
        _SCHEMA_MEMO[key] = schema
        _SCHEMA_MEMO.move_to_end(key)
        while len(_SCHEMA_MEMO) > _SCHEMA_MEMO_MAX:
            _SCHEMA_MEMO.popitem(last=False)


def _memo_pop(key) -> bool:
    with _SCHEMA_MEMO_LOCK:
        return _SCHEMA_MEMO.pop(key, None) is not None


def _data_columns(schema: StructType, table: TableDefinition) -> StructType:
    """``schema`` without the partition columns and ``_version``
    (matched case-insensitively, as Spark's default resolution does)."""
    drop = {c.lower() for c in table.partition_schema.columns}
    drop.add(VERSION_COLUMN.lower())
    return StructType([f for f in schema.fields if f.name.lower() not in drop])


def _as_nullable(dt):
    """Spark's ``DataType.asNullable``: what a file-source read reports
    for a data schema, whatever nullability the writer declared."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _seedable(dt) -> bool:
    """True when parquet inference provably returns ``dt`` as written:
    the atomic types of ``_SEEDABLE_ATOMIC``, the default-collation
    string, and arrays, maps and structs of them with no field metadata."""
    if isinstance(dt, StructType):
        return all(not f.metadata and _seedable(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _seedable(dt.elementType)
    if isinstance(dt, MapType):
        return _seedable(dt.keyType) and _seedable(dt.valueType)
    return type(dt) in _SEEDABLE_ATOMIC or dt == StringType()


def _seed_from_write(key, schema: StructType, table: TableDefinition) -> None:
    """Seed ``key`` with the data columns of a df just written under its
    label, when their types pass :func:`_seedable` (else the first read
    learns the entry)."""
    data = _data_columns(schema, table)
    if _seedable(data):
        _memo_put(key, _as_nullable(data))


def _first_footer_dir(paths_: List[str]) -> str:
    """The directory whose footer a schema-less parquet read infers
    from.  Spark sorts the listed files by path (Java string order, i.e.
    UTF-16 code units) and reads the first footer; no directory of a
    state is a prefix of another, so that is the least directory, which
    is not always ``paths_[0]`` (``a=1-x/`` sorts before ``a=1/``)."""
    if all(map(str.isascii, paths_)):
        return min(paths_)
    return min(paths_, key=lambda d: d.encode("utf-16-be", "surrogatepass"))


def live_paths(table: TableDefinition, table_version) -> List[str]:
    """Concrete directories holding the live data for a resolved state.

    This list is the driver-side O(partitions) term of every
    current-view read (measured: scripts/measure_read_current.py;
    bound recorded in docs/scale.md "wide-table reads") — built in one
    pass with ``Partition.path`` computed once per partition, not once
    for the sort key and again for the directory."""
    if isinstance(table_version, SnapshotTableVersion):
        return [vpaths.path_for(table.location, table_version.version)]
    assert isinstance(table_version, PartitionedTableVersion)
    items = [
        (p.path, p, v) for p, v in table_version.partition_versions.items()
    ]
    items.sort(key=lambda t: t[0])
    loc = table.location
    return [
        vpaths.path_for(p.resolve_path(loc), v) for _, p, v in items
    ]


def restrict_partitions(table_version, column: str, values):
    """Metadata-plane partition pruning for WIDE tables: subset a folded
    state to the partitions whose ``column`` value is in ``values``
    BEFORE :func:`read_version` materializes the path list.  A
    current-view read pays O(partitions) driver time and memory building
    the ``load(paths)`` plan (measured at 10⁵–10⁶ partitions in
    ``scripts/measure_read_current.py``; bound recorded in docs/scale.md
    "wide-table reads") — a read that needs a slice should prune here,
    O(selected), and leave row-level filters to the parquet scan's
    pushdown as usual.  This is the public spelling of the structural
    pruning the index families already use internally
    (``_restrict_to_values``)."""
    wanted = {str(v) for v in values}
    kept = {
        p: v
        for p, v in table_version.partition_versions.items()
        if dict(p.column_values).get(column) in wanted
    }
    return PartitionedTableVersion(kept)


def read_version(
    spark: SparkSession,
    table: TableDefinition,
    table_version,
    keep_version_column: bool = False,
    infer_partition_types: bool = True,
    stats_filter=None,
) -> DataFrame:
    """Read a specific resolved state (current or historical).

    ``infer_partition_types=False`` keeps partition columns as the EXACT
    strings of the directory names (no date/int inference) — required by
    read-modify-write paths (compaction, streaming append-union) where a
    value like ``'01'`` must not round-trip through int 1 and land back
    under a different directory.

    ``stats_filter`` (column → inclusive ``(lo, hi)`` bounds) data-skips:
    version directories whose recorded footer stats prove no row can
    match are dropped before Spark plans the scan (see
    :mod:`chronicles_spark.spark.stats`; directories without sidecars are
    kept).  It is a PLANNING optimization, not a row filter — apply the
    real predicate with ``.where`` as usual.  An empty post-prune list
    returns an empty DataFrame with the correct schema."""
    paths_ = live_paths(table, table_version)
    if not paths_:
        raise ValueError(f"table {table.name} has no live data (empty state)")
    pruned_all = False
    if stats_filter:
        from .stats import prune_paths_by_stats

        kept = prune_paths_by_stats(spark, paths_, stats_filter, table.location)
        if kept:
            paths_ = kept
        else:
            # keep ONE path for schema, emit zero rows below
            paths_, pruned_all = paths_[:1], True
    reader = spark.read.format(table.format).option("basePath", table.location)
    for k, v in table.format_options:
        reader = reader.option(k, v)
    # a known data schema skips the footer-inference job inside load();
    # partition columns are still inferred from the directory names
    key = _memo_key(
        spark, table, vpaths.parse_version(_first_footer_dir(paths_)).label
    )
    known = _memo_get(key) if key is not None else None
    if known is not None:
        reader = reader.schema(known)
    if infer_partition_types:
        df = reader.load(paths_)
    else:
        # the flag is session-global (Spark has no per-read option), so the
        # set → load → restore must be atomic across THIS process's threads
        # (e.g. two foreachBatch sinks) or an interleaved restore could
        # re-enable inference mid-load and resurrect the '01' → int 1
        # corruption; unrelated concurrent reads may briefly observe
        # string-typed partition columns — values stay correct
        conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        with _PARTITION_INFERENCE_LOCK:
            prev = spark.conf.get(conf_key, "true")
            spark.conf.set(conf_key, "false")
            try:
                # listing + partition-schema inference happen inside load()
                df = reader.load(paths_)
            finally:
                spark.conf.set(conf_key, prev)
    if key is not None and known is None:
        _memo_put(key, _data_columns(df.schema, table))
    if not keep_version_column and VERSION_COLUMN in df.columns:
        df = df.drop(VERSION_COLUMN)
    if pruned_all:
        df = df.limit(0)
    return df


def read_current(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    keep_version_column: bool = False,
    stats_filter=None,
) -> DataFrame:
    """W5, metastore-free: fold the log at head → read live directories."""
    return read_version(
        spark,
        table,
        tracker.current_version(table.name),
        keep_version_column,
        stats_filter=stats_filter,
    )


def read_group(
    spark: SparkSession,
    tables,
    tracker: VersionTracker,
    keep_version_column: bool = False,
) -> dict:
    """DataFrames over ONE mutually consistent snapshot of a
    ``commit_group`` publication's member tables (round 14) — a reader
    resolving each member independently mid-group on the files backend
    sees A-new/B-old; this resolves all members to one group generation
    first (``operators.pairing.read_group_states``: O(tail) per member,
    retry-forward through an in-flight group, pin-backward past a
    crashed one).  ``tables``: TableDefinitions published together via
    ``versioned_insert_group`` / ``publish_group``.  Returns
    ``{table_name: DataFrame}``."""
    from ..operators.pairing import read_group_states

    tables = list(tables)  # a generator must survive both passes below
    states = read_group_states(tracker, [t.name for t in tables])
    return {
        t.name: read_version(
            spark, t, states[t.name][0], keep_version_column
        )
        for t in tables
    }


def read_at_commit(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    commit_id: str,
    keep_version_column: bool = False,
) -> DataFrame:
    """Time travel WITHOUT moving the head: resolve the state at
    ``commit_id`` and read it (the read-only cousin of checkout,
    VersionTracker.scala:37-55).  Unknown commit ids raise
    (UnknownCommitError) — folding past a typo'd id would silently read
    the head state.  On a checkpointed tracker a commit at or after the
    checkpoint resolves reading only the log tail."""
    return read_version(
        spark, table, tracker.version_at(table.name, commit_id), keep_version_column
    )


def read_at_timestamp(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    ts,
    keep_version_column: bool = False,
) -> DataFrame:
    """Delta-style timestamp time travel: read the state as of the newest
    commit at or before ``ts`` (datetime, naive = UTC, or ISO-8601 string).
    Raises UnknownCommitError when the table has no commit that early."""
    return read_at_commit(
        spark, table, tracker, tracker.commit_at_timestamp(table.name, ts),
        keep_version_column,
    )


def read_at_tag(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    tag: str,
    keep_version_column: bool = False,
) -> DataFrame:
    """Read the exact state a tag pins (``tracker.set_tag``) — the
    data-version-pinning read: vacuum keeps every tagged state's
    directories, so this read stays reproducible for the life of the tag.
    Unknown tags raise UnknownTagError."""
    return read_at_commit(
        spark, table, tracker, tracker.tag_commit(table.name, tag),
        keep_version_column,
    )


def _changed_states(
    table: TableDefinition,
    tracker: VersionTracker,
    from_commit: str,
    to_commit: Optional[str] = None,
):
    """(ops, tv_from, tv_to) — internal triple behind changed_partitions.

    Endpoint resolution rides ``version_at`` (round 11) — the fold
    checkpoint + commit tail on checkpointed trackers — so an incremental
    CDC consumer polling ``(from=last seen, to=head)`` against a deep log
    reads O(checkpoint_interval) commit records per poll, never the whole
    log (this previously materialized ``table_state``: O(history) per
    poll, quadratic cumulative — the same shape the round-11 metadata
    plane removed from the index extends).  An endpoint deeper than the
    checkpoint degrades to that endpoint's full fold, which is always
    correct (docs/scale.md "Resolution is O(tail)")."""
    from ..core.diff import compute_changes
    from ..trackers.base import UnknownCommitError, head_of

    to_commit = to_commit or head_of(tracker, table.name)
    resolved = []
    for label, cid in (("from_commit", from_commit), ("to_commit", to_commit)):
        try:
            resolved.append(tracker.version_at(table.name, cid))
        except UnknownCommitError:
            raise ValueError(
                f"unknown {label} {cid!r} for table {table.name}"
            ) from None
    tv_from, tv_to = resolved
    return compute_changes(tv_from, tv_to), tv_from, tv_to


def changed_partitions(
    table: TableDefinition,
    tracker: VersionTracker,
    from_commit: str,
    to_commit: Optional[str] = None,
):
    """Metastore ops describing what changed between two commits: the M12
    diff (Metastore.scala:56-84) applied to the folds at ``from_commit``
    and ``to_commit`` (default: head), returned as ``(ops, to_state)``.
    Pure metadata.  Unknown commit ids raise — ``take_through`` would
    otherwise silently fold the WHOLE log and a CDC consumer would read an
    empty change set for a typo'd id."""
    ops, _, tv_to = _changed_states(table, tracker, from_commit, to_commit)
    return ops, tv_to


def read_changes(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    from_commit: str,
    to_commit: Optional[str] = None,
    keep_version_column: bool = False,
) -> DataFrame:
    """Incremental (CDC-style) read: rows of exactly the partitions whose
    live version CHANGED between ``from_commit`` (exclusive baseline) and
    ``to_commit`` (default head) — added partitions and overwritten
    partitions, at their ``to`` state.  Removed partitions have no rows to
    read; enumerate them with :func:`changed_partitions`.

    This is the downstream-consumer primitive at scale: after a commit
    touches 3 of 100k partitions, an incremental pipeline reads those 3
    directories, not the table.  Snapshot tables: any version change means
    the WHOLE table is the change set."""
    from pyspark.errors import AnalysisException

    from ..core.diff import AddPartition, UpdatePartitionVersion, UpdateTableVersion

    ops, tv_from, tv_to = _changed_states(table, tracker, from_commit, to_commit)

    def _empty_like() -> DataFrame:
        # schema must come from SOME live state; a pure-deletion interval
        # can leave tv_to empty, so fall back to the from-state's files.
        # AnalysisException is tolerated ONLY for the never-written
        # snapshot sentinel (it folds to one nonexistent path rather than
        # zero paths) — a missing path for a state that claims live data
        # is corruption and must propagate.
        for tv in (tv_to, tv_from):
            never_written = (
                isinstance(tv, SnapshotTableVersion) and tv.version.is_unversioned
            )
            try:
                return read_version(spark, table, tv, keep_version_column).limit(0)
            except ValueError:
                continue
            except AnalysisException:
                if never_written:
                    continue
                raise
        raise ValueError(
            f"table {table.name} has no live data at either commit to "
            "derive a schema from"
        )

    if isinstance(tv_to, SnapshotTableVersion):
        if any(isinstance(op, UpdateTableVersion) for op in ops):
            return read_version(spark, table, tv_to, keep_version_column)
        return _empty_like()

    touched = {
        op.partition: op.version
        for op in ops
        if isinstance(op, (AddPartition, UpdatePartitionVersion))
    }
    if not touched:
        return _empty_like()
    return read_version(
        spark, table, PartitionedTableVersion(touched), keep_version_column
    )
