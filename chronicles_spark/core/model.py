"""Table / partition data model.

Reference semantics: core/src/main/scala/dev/chronicles/core/model.scala
(TableName :89-104, TableDefinition :106-108, Partition + ColumnValue
:10-69, PartitionSchema :76-83, TableVersion ADT :113-115, FileFormat
:117-122). Hive string semantics throughout: partition values are raw
strings exactly as they appear in paths.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass, field
from typing import Dict, Optional, Tuple

from .paths import escape_path_name
from .version import Version

# reference: core/.../model.scala:45-50 — column names are lowercase identifiers
_COLVAL_RE = re.compile(r"^([a-z][a-z0-9_]*)=(.+)$")
_TABLE_NAME_RE = re.compile(r"^([\w\-]+)\.([\w\-]+)$")


@dataclass(frozen=True, order=True)
class TableName:
    """Fully-qualified ``schema.name`` (reference: model.scala:89-104)."""

    schema: str
    name: str

    @property
    def fully_qualified(self) -> str:
        return f"{self.schema}.{self.name}"

    def __str__(self) -> str:
        return self.fully_qualified

    @staticmethod
    def parse(s: str) -> "TableName":
        m = _TABLE_NAME_RE.match(s)
        if not m:
            raise ValueError(f"invalid table name (want schema.table): {s!r}")
        return TableName(m.group(1), m.group(2))


@dataclass(frozen=True, order=True)
class Partition:
    """Non-empty ordered list of (column, string-value) pairs.

    Renders/parses as the Hive path fragment ``k1=v1/k2=v2``
    (reference: model.scala:10-69).
    """

    column_values: Tuple[Tuple[str, str], ...]

    def __post_init__(self) -> None:
        if not self.column_values:
            raise ValueError("partition must have at least one column value")

    def __hash__(self) -> int:
        """The dataclass hash, computed once per instance: every fold
        state and metastore diff looks partitions up in dicts, and
        re-hashing the ``column_values`` tuple per lookup dominated them.
        The cached value stays out of the pickled state
        (:meth:`__getstate__`), because string hashes are seeded per
        process."""
        try:
            return self._hash
        except AttributeError:
            h = self.__dict__["_hash"] = hash((self.column_values,))
            return h

    def __getstate__(self) -> dict:
        state = dict(self.__dict__)
        state.pop("_hash", None)
        return state

    @functools.cached_property
    def path(self) -> str:
        """The raw ``k1=v1/k2=v2`` fragment, joined once per instance
        (it keys every fold state and orders every metastore diff)."""
        return "/".join(f"{k}={v}" for k, v in self.column_values)

    def __str__(self) -> str:
        return self.path

    def resolve_path(self, table_location: str) -> str:
        """Partition DIRECTORY under the table location (model.scala:57-69).

        Values are Hive-escaped here — this is the value→directory-name
        boundary, matching what Spark's partitionBy writes on disk; the
        ``path`` property (used in the commit log) stays raw.  Module-
        level import + the escape fast path keep this ~O(µs): it runs
        once per partition per current-view read, 10⁶ times for a wide
        table (scripts/measure_read_current.py)."""
        base = table_location.rstrip("/")
        frag = "/".join(
            f"{k}={escape_path_name(v)}" for k, v in self.column_values
        )
        return f"{base}/{frag}"

    def hive_expr(self) -> str:
        """Render ``(k1='v1',k2='v2')`` for ALTER TABLE statements
        (reference: spark/.../SparkHiveMetastore.scala:163-171; unlike the
        reference, quotes/backslashes in values are escaped so the DDL
        fragment can't break or inject)."""

        def q(v: str) -> str:
            return v.replace("\\", "\\\\").replace("'", "\\'")

        inner = ",".join(f"{k}='{q(v)}'" for k, v in self.column_values)
        return f"({inner})"

    @staticmethod
    def of(*pairs: Tuple[str, str]) -> "Partition":
        return Partition(tuple(pairs))

    @staticmethod
    def parse(s: str) -> "Partition":
        """Parse ``k1=v1/k2=v2`` (reference: model.scala:13-16, 45-50).

        Memoized: every checkpoint fold parses the same partition strings
        again, and a ``Partition`` is immutable, so equal strings share one
        instance (its joined ``path``, and identity hits in dict lookups).
        The memo keeps the first ``_PARSE_MEMO_MAX`` distinct strings and
        then stops adding: a fold over more partitions than that, in the
        same order each time, would evict every entry before its reuse
        under LRU and pay the bookkeeping for no hit.  An invalid string
        is not memoized and raises on every call."""
        p = _PARSE_MEMO.get(s)
        if p is None:
            p = Partition._parse(s)
            if len(_PARSE_MEMO) < _PARSE_MEMO_MAX:
                _PARSE_MEMO[s] = p
        return p

    @staticmethod
    def _parse(s: str) -> "Partition":
        parts = s.split("/")
        out = []
        for p in parts:
            m = _COLVAL_RE.match(p)
            if not m:
                raise ValueError(f"invalid partition string: {s!r}")
            out.append((m.group(1), m.group(2)))
        return Partition(tuple(out))


# Partition.parse's memo: string → shared instance.  16,384 entries take
# about 11 MB with their keys and joined paths (two-column strings of
# ~25 characters), eight times a 2,000-partition table.
_PARSE_MEMO: Dict[str, Partition] = {}
_PARSE_MEMO_MAX = 1 << 14


@dataclass(frozen=True)
class PartitionSchema:
    """Ordered partition columns; empty = snapshot table (model.scala:76-83)."""

    columns: Tuple[str, ...] = ()

    @property
    def is_snapshot(self) -> bool:
        return len(self.columns) == 0


SNAPSHOT = PartitionSchema(())


class FileFormat:
    """Open string wrapper (reference: model.scala:117-122)."""

    PARQUET = "parquet"
    ORC = "orc"


@dataclass(frozen=True)
class TableDefinition:
    """name + location + partition schema + format (model.scala:106-108).

    ``format_options`` carry source options a non-self-describing format
    needs on both sides (e.g. ``{"header": "true"}`` for csv); columnar
    formats leave it empty.  Stored as a tuple of pairs so the dataclass
    stays hashable/frozen."""

    name: TableName
    location: str
    partition_schema: PartitionSchema = field(default_factory=PartitionSchema)
    format: str = FileFormat.PARQUET
    format_options: tuple = ()

    @property
    def is_snapshot(self) -> bool:
        return self.partition_schema.is_snapshot


@dataclass(frozen=True)
class PartitionedTableVersion:
    """Resolved state of a partitioned table: partition → version
    (reference: model.scala:113-114)."""

    partition_versions: Dict[Partition, Version] = field(default_factory=dict)


@dataclass(frozen=True)
class SnapshotTableVersion:
    """Resolved state of a snapshot table (reference: model.scala:115)."""

    version: Version


TableVersion = object  # union alias: PartitionedTableVersion | SnapshotTableVersion
