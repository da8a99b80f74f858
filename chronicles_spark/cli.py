"""``chronicles`` command-line interface.

Mirrors the reference CLI surface (cli/src/main/scala/dev/chronicles/cli/
ChroniclesCli.scala:95-158 parser, CliClient.scala:19-96 execution,
Config.scala:7-45 + docs/usage.md:63-78 config):

    chronicles tables
    chronicles init [--isSnapshot] --message <m> <schema.table>
    chronicles log <schema.table>
    chronicles partitions <schema.table>
    chronicles partition add <schema.table> <k=v[/k2=v2]> --message <m>
    chronicles partition remove <schema.table> <k=v[/k2=v2]> --message <m>

Config lives at ``~/.chronicles/config`` (override: ``--config`` flag or
``CHRONICLES_CONFIG`` env var), in the reference's ``key: value`` shape:

    type: mem-config                      # in-memory (useful for tests only)
    type: files-config\\nroot: /path      # JSON commit files (our default)
    type: db-config\\ndb-name: /path.db   # sqlite (the serializable option)

Divergences from the reference, on purpose:
* ``partition remove`` prints "Removed partition ..." — the reference
  prints "Added" by copy-paste mistake (CliClient.scala:94); not copied.
* The stub metastore is a no-op instead of raising "Not implemented"
  (cli/.../StubMetastore.scala:9-14), so commit-carrying verbs actually
  work end-to-end against the tracker.
"""

from __future__ import annotations

import argparse
import getpass
import os
import sys
from dataclasses import dataclass
from pathlib import Path
from typing import List, Optional, Sequence

from .core.model import (
    Partition,
    PartitionSchema,
    PartitionedTableVersion,
    SnapshotTableVersion,
    TableDefinition,
    TableName,
)
from .core.ops import AddPartitionVersion, RemovePartition, TableUpdate, TableUpdateMetadata
from .core.version import UNVERSIONED, generate_version
from .spark.metastore import Metastore
from .branching import MergeConflictError
from .operators.pairing import TornPairError
from .trackers.base import head_of
from .trackers import (
    CommitConflictError,
    FileBackedVersionTracker,
    InMemoryVersionTracker,
    SqliteVersionTracker,
    VersionTracker,
)
from .versioned_metastore import VersionedMetastore

DEFAULT_CONFIG_PATH = "~/.chronicles/config"


class CliError(Exception):
    """User-facing CLI failure (bad arguments, bad config, bad state)."""


# ---------------------------------------------------------------------------
# actions (cli/.../Action.scala:19-28)


@dataclass(frozen=True)
class ListTables:
    pass


@dataclass(frozen=True)
class InitTableAction:
    table: TableName
    is_snapshot: bool
    message: str


@dataclass(frozen=True)
class ShowTableHistory:
    table: TableName


@dataclass(frozen=True)
class ListPartitions:
    table: TableName


@dataclass(frozen=True)
class AddPartitionAction:
    table: TableName
    partition_name: str
    message: str


@dataclass(frozen=True)
class RemovePartitionAction:
    table: TableName
    partition_name: str
    message: str


@dataclass(frozen=True)
class CheckoutAction:
    """Extension beyond the reference CLI verbs: metadata-only rollback /
    roll-forward to an existing commit (V10, VersionedMetastore.scala:71-78
    — the composition exists in the reference, just not as a CLI verb)."""

    table: TableName
    commit_id: str


@dataclass(frozen=True)
class ChangesAction:
    """Extension beyond the reference CLI verbs: the CDC ops surface —
    the partition-level metastore-operation diff between two commits
    (spark/reader.py changed_partitions; round 11 resolves both
    endpoints O(distance-from-head)).  Pure metadata, no Spark."""

    table: TableName
    from_commit: str
    to_commit: Optional[str] = None


@dataclass(frozen=True)
class TagAction:
    """Extension beyond the reference CLI verbs: git-tag-style data-version
    pinning (trackers/base.py set_tag).  ``name=None`` lists tags;
    ``delete=True`` drops one; otherwise pins ``name`` at ``--commit`` (or
    the current head).  Vacuum keeps every tagged state's directories."""

    table: TableName
    name: Optional[str] = None
    commit_id: Optional[str] = None
    delete: bool = False
    force: bool = False


@dataclass(frozen=True)
class BranchAction:
    """Extension beyond the reference CLI verbs: git-style branches
    (chronicles_spark/branching.py) for Write-Audit-Publish staging.
    ``name=None`` lists branches; ``delete=True`` drops one; otherwise
    creates ``name`` at ``--commit`` (or the current head)."""

    table: TableName
    name: Optional[str] = None
    commit_id: Optional[str] = None
    delete: bool = False
    location: Optional[str] = None


@dataclass(frozen=True)
class MergeAction:
    """Extension beyond the reference CLI verbs: publish a branch into its
    source table as one commit (partition-level three-way merge; conflicts
    error out unless ``on_conflict`` overrides).  ``drop_branch`` deletes
    the branch after the merge."""

    table: TableName
    branch: str
    message: str
    drop_branch: bool = False
    on_conflict: str = "error"
    location: Optional[str] = None


@dataclass(frozen=True)
class RebaseAction:
    """Extension beyond the reference CLI verbs: re-base a branch onto its
    source table's current state so a conflicted branch can be re-audited
    and merged clean."""

    table: TableName
    branch: str
    on_conflict: str = "error"


@dataclass(frozen=True)
class RestoreAction:
    """Extension beyond the reference CLI verbs: partition-level restore
    (spark/restore.py) — one NEW commit re-points the named partitions at
    the versions they had as of ``--commit`` / ``--tag`` / ``--timestamp``,
    leaving all other partitions and the history untouched (git-revert
    scoped to paths, vs ``checkout``'s whole-table rewind).  With
    ``--location`` the target version directories are probed first so a
    restore never points at vacuumed data."""

    table: TableName
    partition_names: tuple
    message: str
    commit_id: Optional[str] = None
    tag: Optional[str] = None
    timestamp: Optional[str] = None
    location: Optional[str] = None


@dataclass(frozen=True)
class ManifestAction:
    """Extension beyond the reference CLI verbs: symlink-format manifest
    export (spark/manifest.py) for external engines.  ``incremental=True``
    rewrites only partitions changed since the last export."""

    table: TableName
    location: str
    incremental: bool = False


@dataclass(frozen=True)
class VacuumAction:
    """Extension beyond the reference CLI verbs: reclaim superseded version
    directories (spark/vacuum.py) — dry-run by default, ``--apply`` deletes.
    Needs ``--location`` because the commit log records partitions and
    versions, not the table's storage root."""

    table: TableName
    location: str
    keep_last: int
    apply: bool
    sweep_orphans: bool = False
    orphan_min_age_days: float = 7.0


@dataclass(frozen=True)
class ArchiveAction:
    """Extension beyond the reference CLI verbs: commit-log archival
    (trackers/files.py::archive_commits) — pack checkpoint-covered commit
    files into size-capped chunk artifacts so resolutions list O(tail)
    dirents.  Dry-run by default, ``--apply`` packs and deletes.
    Files-backed logs only (the sqlite tracker has no listing to bound —
    docs/scale.md)."""

    table: TableName
    retain_checkpoints: int
    through_seq: Optional[int]
    apply: bool
    consolidate: bool = False
    max_chunk_bytes: int = 32 * 2**20


@dataclass(frozen=True)
class MaintainAction:
    """Extension beyond the reference CLI verbs: ONE lake-wide
    maintenance sweep (round 13) — enumerate every tracked table and
    apply the cadence policies the per-table verbs expose individually:
    commit-log archival past ``--retain-checkpoints`` (files-backed
    trackers), version-directory vacuum + BOTH artifact-sidecar sweeps
    (ANN and dedup families) for tables whose storage root is given via
    repeatable ``--location db.t=/path``, journal fold catch-up for
    ``--fold-clusters db.pairs=db.assign`` mappings (dry-run reports
    the pending backlog from metadata alone; apply folds), and
    (apply-only, Spark required) folded-journal compaction for
    ``--compact-pairs db.pairs=db.assign``
    mappings.  Dry-run by default; ``--apply`` mutates.  The sweep is
    per-table fail-soft: one table's error is reported and the sweep
    continues (a fleet cron must not stop at the first torn log)."""

    apply: bool
    retain_checkpoints: int = 2
    keep_last: int = 1
    locations: tuple = ()       # ((fq_table, path), ...)
    compact_pairs: tuple = ()   # ((fq_pairs, fq_primary), ...)
    skip_archive: bool = False
    skip_vacuum: bool = False
    max_chunk_bytes: int = 32 * 2**20
    consolidate: bool = False
    sweep_orphans: bool = False
    orphan_min_age_days: float = 7.0
    fold_clusters: tuple = ()   # ((fq_pairs, fq_assign), ...) catch-up


@dataclass(frozen=True)
class AnnIndexAction:
    """Ops surface for the materialized ANN index family
    (operators/ann_index.py) — the one lifecycle family a pipeline
    operator previously could not drive from the shell.  ``build`` /
    ``extend`` / ``verify`` / ``rebuild`` obtain a SparkSession
    (``getOrCreate`` — under spark-submit that is the submitted
    session); ``vacuum-artifacts`` is pure metadata and needs none."""

    operation: str  # build | extend | verify | rebuild | vacuum-artifacts
    table: TableName
    location: str
    input_path: Optional[str] = None
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    message: str = ""
    mode: str = "upsert"
    n_clusters: int = 8
    m: int = 8
    k_sub: int = 16
    iters: int = 3
    train_fraction: Optional[float] = None
    id_map_shards: Optional[int] = 64
    max_bucket_rows: Optional[int] = None
    apply: bool = False
    orphan_min_age_days: float = 7.0


@dataclass(frozen=True)
class DedupIndexAction:
    """Ops surface for the incremental dedup index families
    (operators/dedup_index.py text MinHash, operators/emb_dedup_index.py
    embedding sign-LSH, operators/simhash_index.py banded fingerprints,
    operators/semantic_dedup_index.py k-means-bucketed SemDeDup —
    selected by ``family``).  ``build`` / ``extend`` / ``verify`` /
    ``rebuild`` obtain a SparkSession; ``repair-pairs`` and
    ``vacuum-artifacts`` are pure metadata and need none.  Geometry
    flags left unset take the operator defaults on build and mean "keep
    the current value" on rebuild."""

    operation: str  # build|extend|verify|rebuild|repair-pairs|
    #                 vacuum-artifacts|fold-clusters|verify-clusters|
    #                 compact-pairs
    table: TableName
    location: str
    family: str = "text"  # text | embedding | simhash | semantic
    input_path: Optional[str] = None
    id_col: Optional[str] = None  # default: doc_id / vec_id (embedding)
    text_col: str = "text"
    vec_col: str = "embedding"
    message: str = ""
    mode: str = "upsert"
    threshold: Optional[float] = None  # default: 0.5 (text) / 0.95 (embedding)
    bands: Optional[int] = None
    rows: Optional[int] = None
    width: Optional[int] = None
    n_planes: Optional[int] = None
    dim: Optional[int] = None  # embedding build only (required there)
    bits: Optional[int] = None  # simhash family
    max_hamming: int = 3  # simhash family
    n_clusters: Optional[int] = None  # semantic family
    iters: int = 3  # semantic family (k-means fit)
    train_fraction: Optional[float] = None  # semantic family
    band_shards: Optional[int] = None
    doc_shards: Optional[int] = None
    pairs: bool = False
    apply: bool = False
    orphan_min_age_days: float = 7.0
    coalesce_batches: int = 1  # fold-clusters backlog knob
    min_batches: int = 2  # compact-pairs candidate floor
    max_batches: Optional[int] = None  # compact-pairs per-call rewrite bound
    # fold-clusters: the assignment table the pairs journal folds into
    # (the action's table/location then name the PAIRS table);
    # verify-clusters audits table/location as the assignment table
    clusters_table: Optional[TableName] = None
    clusters_location: Optional[str] = None
    cluster_shards: Optional[int] = None


# ---------------------------------------------------------------------------
# console (cli/.../Console.scala — capture-able for tests like StubConsole)


class Console:
    def println(self, line: str) -> None:
        print(line)

    def errorln(self, line: str) -> None:
        print(line, file=sys.stderr)


class CapturingConsole(Console):
    """Test double ≙ cli/src/test/.../StubConsole.scala."""

    def __init__(self) -> None:
        self.out: List[str] = []
        self.err: List[str] = []

    def println(self, line: str) -> None:
        self.out.append(line)

    def errorln(self, line: str) -> None:
        self.err.append(line)


# ---------------------------------------------------------------------------
# config (cli/.../Config.scala:7-45; format per docs/usage.md:63-78)


@dataclass(frozen=True)
class Config:
    type: str  # "mem-config" | "files-config" | "db-config"
    root: Optional[str] = None  # files-config
    db_name: Optional[str] = None  # db-config (sqlite file path)
    # files-config multi-writer protocol (beyond reference): "lock" =
    # host-local flock serialization, "cas" = object-store conditional-put
    # commits (docs/scale.md "Multi-writer commit safety"); None = the
    # reference's last-writer-wins default
    commit_mode: Optional[str] = None


def parse_config(text: str) -> Config:
    """Parse the reference's flat ``key: value`` config shape."""
    values = {}
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        if ":" not in line:
            raise CliError(f"Invalid configuration line: {line!r}")
        k, v = line.split(":", 1)
        values[k.strip().lower().replace("_", "-")] = v.strip().strip('"')
    ctype = values.get("type")
    if ctype == "mem-config":
        return Config(type=ctype)
    if ctype == "files-config":
        if not values.get("root"):
            raise CliError("Invalid configuration: files-config requires 'root'")
        mode = values.get("commit-mode")
        if mode not in (None, "", "lock", "cas"):
            raise CliError(
                f"Invalid configuration: commit-mode must be 'lock' or 'cas', "
                f"got '{mode}'"
            )
        return Config(type=ctype, root=values["root"], commit_mode=mode or None)
    if ctype == "db-config":
        db_type = values.get("db-type", "sqlite")
        if db_type not in ("sqlite", "h2"):  # h2 name accepted, backed by sqlite
            raise CliError(f"Invalid configuration: unsupported db-type '{db_type}'")
        if not values.get("db-name"):
            raise CliError("Invalid configuration: db-config requires 'db-name'")
        return Config(type=ctype, db_name=values["db-name"])
    raise CliError(f"Invalid configuration: unknown type '{ctype}'")


def load_config(path: Optional[str] = None) -> Config:
    p = Path(
        path
        or os.environ.get("CHRONICLES_CONFIG")
        or os.path.expanduser(DEFAULT_CONFIG_PATH)
    ).expanduser()
    if not p.exists():
        raise CliError(
            f"Failed to read configuration: {p} not found "
            f"(write 'type: files-config' + 'root: <dir>' there, or pass --config)"
        )
    return parse_config(p.read_text())


def tracker_from_config(config: Config) -> VersionTracker:
    if config.type == "mem-config":
        return InMemoryVersionTracker()
    if config.type == "files-config":
        return FileBackedVersionTracker(
            config.root,
            use_lock=config.commit_mode == "lock",
            use_cas=config.commit_mode == "cas",
        )
    if config.type == "db-config":
        return SqliteVersionTracker(config.db_name)
    raise CliError(f"Invalid configuration: unknown type '{config.type}'")


class StubMetastore(Metastore):
    """CLI metastore stand-in: reports the empty state and applies nothing,
    so VersionedMetastore.commit still folds + diffs but syncs nowhere.
    (The reference stub raises instead — CLI metastore clients are WIP
    there, cli/.../StubMetastore.scala:9-14.)"""

    def current_version(self, table: TableDefinition):
        if table.is_snapshot:
            return SnapshotTableVersion(UNVERSIONED)
        return PartitionedTableVersion({})

    def add_partition(self, table, p, v):
        pass

    def update_partition_version(self, table, p, v):
        pass

    def remove_partition(self, table, p):
        pass

    def update_table_version(self, table, v):
        pass


# ---------------------------------------------------------------------------
# argument parsing (ChroniclesCli.scala:95-158)


def _table_name(s: str) -> TableName:
    try:
        return TableName.parse(s)
    except ValueError:
        raise CliError(
            f"Invalid table name: '{s}'. Should be in format <schema>.<table name>"
        )


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="chronicles", description="Version control for tables", add_help=True
    )
    parser.add_argument("--config", help="Path to config file", default=None)
    sub = parser.add_subparsers(dest="command")

    sub.add_parser("tables", help="List details about tables")

    p_init = sub.add_parser("init", help="Initialise version tracking for table")
    p_init.add_argument("table")
    p_init.add_argument(
        "--isSnapshot",
        action="store_true",
        help="The new table is a snapshot (non-partitioned) table",
    )
    p_init.add_argument("--message", required=True, help="Commit message")

    p_log = sub.add_parser("log", help="List version history for table")
    p_log.add_argument("table")

    p_ch = sub.add_parser(
        "changes",
        help="Partition-level diff between two commits (the CDC ops "
        "surface: what changed from --from to --to/head)",
    )
    p_ch.add_argument("table")
    p_ch.add_argument(
        "--from", dest="from_commit", required=True,
        help="Baseline commit id (exclusive)",
    )
    p_ch.add_argument(
        "--to", dest="to_commit", default=None,
        help="Target commit id (default: current head)",
    )

    p_parts = sub.add_parser("partitions", help="List partitions for table")
    p_parts.add_argument("table")

    p_part = sub.add_parser("partition", help="Modify table partition")
    p_part.add_argument("operation", choices=["add", "remove"])
    p_part.add_argument("table")
    p_part.add_argument("partition")
    p_part.add_argument("--message", required=True, help="Commit message")

    p_co = sub.add_parser(
        "checkout", help="Roll table back (or forward) to an existing commit"
    )
    p_co.add_argument("table")
    p_co.add_argument("commit_id")

    p_tag = sub.add_parser(
        "tag", help="List tags, or pin/delete a named tag (data-version pinning)"
    )
    p_tag.add_argument("table")
    p_tag.add_argument("name", nargs="?", help="Tag name (omit to list tags)")
    p_tag.add_argument(
        "--commit", help="Commit id to pin (default: the current head)"
    )
    p_tag.add_argument("--delete", action="store_true", help="Drop the tag")
    p_tag.add_argument(
        "--force", action="store_true", help="Move an existing tag (tags are immutable by default)"
    )

    p_br = sub.add_parser(
        "branch",
        help="List branches, or create/delete a staging branch "
        "(Write-Audit-Publish)",
    )
    p_br.add_argument("table")
    p_br.add_argument("name", nargs="?", help="Branch name (omit to list)")
    p_br.add_argument(
        "--commit", help="Branch point commit id (default: the current head)"
    )
    p_br.add_argument("--delete", action="store_true", help="Drop the branch")
    p_br.add_argument(
        "--location",
        help="Table storage root; when given, schema-guard sidecars for "
        "the branch are cleaned up on create/delete",
    )

    p_mg = sub.add_parser(
        "merge", help="Publish a branch into its source table as one commit"
    )
    p_mg.add_argument("table")
    p_mg.add_argument("branch")
    p_mg.add_argument("--message", required=True, help="Commit message")
    p_mg.add_argument(
        "--drop-branch", action="store_true",
        help="Delete the branch after a successful merge",
    )
    p_mg.add_argument(
        "--on-conflict", choices=["error", "theirs", "ours"], default="error",
        help="Contested partitions: error (default), theirs (branch wins), "
        "ours (main wins)",
    )
    p_mg.add_argument(
        "--location",
        help="Table storage root; when given, the branch's schema-guard "
        "sidecar is promoted to main on merge and cleaned up on "
        "--drop-branch",
    )

    p_rb = sub.add_parser(
        "rebase", help="Re-base a branch onto its source table's current state"
    )
    p_rb.add_argument("table")
    p_rb.add_argument("branch")
    p_rb.add_argument(
        "--on-conflict", choices=["error", "theirs", "ours"], default="error",
        help="Partitions changed on both sides: error (default), theirs "
        "(keep the branch change), ours (main's version stands)",
    )

    p_res = sub.add_parser(
        "restore",
        help="Re-point chosen partitions at an older commit/tag/timestamp "
        "via one new commit (partial rollback; history preserved)",
    )
    p_res.add_argument("table")
    p_res.add_argument(
        "partitions", nargs="+", help="Partition path(s), e.g. date=2024-01-05"
    )
    p_res.add_argument("--message", required=True, help="Commit message")
    p_res.add_argument("--commit", help="Restore point: commit id")
    p_res.add_argument("--tag", help="Restore point: tag name")
    p_res.add_argument("--timestamp", help="Restore point: ISO-8601 timestamp")
    p_res.add_argument(
        "--location",
        help="Table storage root; when given, target version directories "
        "are probed before committing (refuse to point at vacuumed data)",
    )

    p_man = sub.add_parser(
        "manifest", help="Export symlink-format manifests for external engines"
    )
    p_man.add_argument("table")
    p_man.add_argument("--location", required=True, help="Table storage root")
    p_man.add_argument(
        "--incremental", action="store_true",
        help="Rewrite only partitions changed since the last export",
    )

    p_vac = sub.add_parser(
        "vacuum", help="Reclaim superseded version directories (dry-run by default)"
    )
    p_vac.add_argument("table")
    p_vac.add_argument("--location", required=True, help="Table storage root")
    p_vac.add_argument(
        "--keep-last", type=int, default=1,
        help="Newest N versions kept per partition besides the live one",
    )
    p_vac.add_argument(
        "--apply", action="store_true", help="Actually delete (default: dry-run)"
    )
    p_vac.add_argument(
        "--sweep-orphans", action="store_true",
        help="Also reclaim version directories no commit ever recorded "
        "(crashed-write debris), once older than --orphan-min-age-days",
    )
    p_vac.add_argument(
        "--orphan-min-age-days", type=float, default=7.0,
        help="Minimum age before an unrecorded version directory is "
        "considered abandoned rather than in-flight (default 7)",
    )

    p_arch = sub.add_parser(
        "archive",
        help="Pack old commit-log files into one archive artifact so "
        "resolutions list O(tail) dirents (dry-run by default)",
    )
    p_arch.add_argument("table")
    p_arch.add_argument(
        "--retain-checkpoints", type=int, default=2,
        help="Newest N checkpoint segments kept live (the O(lag) fast-"
        "resolution window for CDC consumers; default 2)",
    )
    p_arch.add_argument(
        "--through-seq", type=int, default=None,
        help="Pin the cut to a specific retained checkpoint seq",
    )
    p_arch.add_argument(
        "--apply", action="store_true",
        help="Actually pack and delete (default: dry-run)",
    )
    p_arch.add_argument(
        "--consolidate", action="store_true",
        help="Also fold existing archive artifacts into this run's "
        "chunks (O(archived history) bytes rewritten, O(chunk) memory)",
    )
    p_arch.add_argument(
        "--max-chunk-bytes", type=int, default=32 * 2**20,
        help="Size cap per archive chunk artifact (default 32 MiB) — "
        "bounds archival memory and the largest PUT",
    )

    p_mt = sub.add_parser(
        "maintain",
        help="Lake-wide maintenance sweep over every tracked table: "
        "archive old commit logs, vacuum superseded versions and "
        "sidecars (for tables with --location), compact folded dedup "
        "journals (--compact-pairs, apply-only).  Dry-run by default",
    )
    p_mt.add_argument(
        "--apply", action="store_true",
        help="Actually archive/delete/compact (default: dry-run report)",
    )
    p_mt.add_argument(
        "--retain-checkpoints", type=int, default=2,
        help="Archive policy: newest N checkpoint segments kept live "
        "(default 2)",
    )
    p_mt.add_argument(
        "--keep-last", type=int, default=1,
        help="Vacuum policy: newest N superseded versions kept per "
        "partition besides the live one (default 1)",
    )
    p_mt.add_argument(
        "--location", action="append", default=[], metavar="TABLE=PATH",
        help="Storage root for a table (repeatable) — enables the vacuum "
        "and sidecar sweeps for it; tables without one are archive-only",
    )
    p_mt.add_argument(
        "--compact-pairs", action="append", default=[],
        metavar="PAIRS=PRIMARY",
        help="Folded-journal compaction mapping (repeatable): the pairs "
        "journal table and its primary assignment table, both of which "
        "need --location entries.  Runs only with --apply (it is a "
        "commit, not a delete) and needs a SparkSession",
    )
    p_mt.add_argument(
        "--fold-clusters", action="append", default=[],
        metavar="PAIRS=ASSIGN",
        help="Fold-catch-up mapping (repeatable): fold the pairs "
        "journal's unfolded batches into its assignment table; both "
        "need --location entries.  Dry-run reports the pending backlog "
        "(pure metadata); --apply folds (a commit, Spark required)",
    )
    p_mt.add_argument("--skip-archive", action="store_true")
    p_mt.add_argument("--skip-vacuum", action="store_true")
    p_mt.add_argument(
        "--max-chunk-bytes", type=int, default=32 * 2**20,
        help="Archive chunk size cap (default 32 MiB)",
    )
    p_mt.add_argument(
        "--consolidate", action="store_true",
        help="Archive policy: also re-chunk existing archive artifacts "
        "(the OPTIMIZE cadence — O(archived history) bytes rewritten "
        "per table at O(chunk) memory)",
    )
    p_mt.add_argument(
        "--sweep-orphans", action="store_true",
        help="Vacuum policy: also reclaim version directories no commit "
        "ever recorded (crashed-write debris), once older than "
        "--orphan-min-age-days",
    )
    p_mt.add_argument(
        "--orphan-min-age-days", type=float, default=7.0,
        help="Minimum age before an unrecorded version directory is "
        "considered abandoned rather than in-flight (default 7)",
    )

    p_idx = sub.add_parser(
        "index",
        help="Maintain a materialized ANN index "
        "(build/extend/verify/rebuild/vacuum-artifacts)",
    )
    p_idx.add_argument(
        "operation",
        choices=["build", "extend", "verify", "rebuild", "vacuum-artifacts"],
    )
    p_idx.add_argument("table")
    p_idx.add_argument("--location", required=True, help="Index storage root")
    p_idx.add_argument(
        "--input", default=None,
        help="Parquet path of (id, embedding) rows (build/extend)",
    )
    p_idx.add_argument("--id-col", default="vec_id")
    p_idx.add_argument("--vec-col", default="embedding")
    p_idx.add_argument("--message", default="")
    p_idx.add_argument("--mode", choices=["upsert", "append"], default="upsert")
    p_idx.add_argument("--n-clusters", type=int, default=8)
    p_idx.add_argument("--m", type=int, default=8)
    p_idx.add_argument("--k-sub", type=int, default=16)
    p_idx.add_argument("--iters", type=int, default=3)
    p_idx.add_argument("--train-fraction", type=float, default=None)
    p_idx.add_argument(
        "--id-map-shards", type=int, default=64,
        help="Companion id-map shard count (0 = build without a map)",
    )
    p_idx.add_argument(
        "--max-bucket-rows", type=int, default=None,
        help="Bucket-skew hard cap (rows per physical partition)",
    )
    p_idx.add_argument(
        "--apply", action="store_true",
        help="vacuum-artifacts: actually delete (default: dry-run)",
    )
    p_idx.add_argument("--orphan-min-age-days", type=float, default=7.0)

    p_dd = sub.add_parser(
        "dedup",
        help="Maintain an incremental dedup index — text MinHash or "
        "embedding sign-LSH "
        "(build/extend/verify/rebuild/repair-pairs/vacuum-artifacts/"
        "fold-clusters/verify-clusters/compact-pairs)",
    )
    p_dd.add_argument(
        "operation",
        choices=["build", "extend", "verify", "rebuild", "repair-pairs",
                 "vacuum-artifacts", "fold-clusters", "verify-clusters",
                 "compact-pairs"],
    )
    p_dd.add_argument("table")
    p_dd.add_argument("--location", required=True, help="Index storage root")
    p_dd.add_argument(
        "--family",
        choices=["text", "embedding", "simhash", "semantic"],
        default="text",
        help="text = MinHash shingles (doc_id, text); "
        "embedding = sign-LSH (vec_id, embedding); "
        "simhash = banded fingerprints (doc_id, text); "
        "semantic = pinned k-means clusters (vec_id, embedding)",
    )
    p_dd.add_argument(
        "--input", default=None,
        help="Parquet path of (id, text|embedding) rows (build/extend)",
    )
    p_dd.add_argument(
        "--id-col", default=None,
        help="Default: doc_id (text) / vec_id (embedding)",
    )
    p_dd.add_argument("--text-col", default="text")
    p_dd.add_argument("--vec-col", default="embedding")
    p_dd.add_argument("--message", default="")
    p_dd.add_argument("--mode", choices=["upsert", "append"], default="upsert")
    p_dd.add_argument(
        "--threshold", type=float, default=None,
        help="Exact-verify cutoff (default: 0.5 jaccard / 0.95 cosine)",
    )
    p_dd.add_argument("--bands", type=int, default=None)
    p_dd.add_argument("--rows", type=int, default=None, help="text family")
    p_dd.add_argument("--width", type=int, default=None, help="text family")
    p_dd.add_argument(
        "--bits", type=int, default=None, help="simhash family"
    )
    p_dd.add_argument(
        "--max-hamming", type=int, default=3, help="simhash family"
    )
    p_dd.add_argument(
        "--n-planes", type=int, default=None, help="embedding family"
    )
    p_dd.add_argument(
        "--n-clusters", type=int, default=None, help="semantic family"
    )
    p_dd.add_argument(
        "--iters", type=int, default=3, help="semantic family k-means fit"
    )
    p_dd.add_argument(
        "--train-fraction", type=float, default=None,
        help="semantic family: sample fraction for the k-means fit",
    )
    p_dd.add_argument(
        "--dim", type=int, default=None,
        help="Embedding dimension (required for an embedding build)",
    )
    p_dd.add_argument("--band-shards", type=int, default=None)
    p_dd.add_argument("--doc-shards", type=int, default=None)
    p_dd.add_argument(
        "--pairs", action="store_true",
        help="Journal verified pairs into <table>_pairs in the same "
        "pair commit (extend/rebuild)",
    )
    p_dd.add_argument(
        "--apply", action="store_true",
        help="vacuum-artifacts: actually delete (default: dry-run)",
    )
    p_dd.add_argument("--orphan-min-age-days", type=float, default=7.0)
    p_dd.add_argument(
        "--clusters-table", default=None,
        help="fold-clusters: assignment table the journal folds into "
        "(positional table/--location then name the PAIRS table)",
    )
    p_dd.add_argument(
        "--clusters-location", default=None,
        help="fold-clusters: assignment table storage root",
    )
    p_dd.add_argument(
        "--cluster-shards", type=int, default=None,
        help="fold-clusters bootstrap: members-table shard count",
    )
    p_dd.add_argument(
        "--coalesce-batches", type=int, default=1,
        help="fold-clusters: fold up to N journal batches per commit "
        "(backlog catch-up)",
    )
    p_dd.add_argument(
        "--min-batches", type=int, default=2,
        help="compact-pairs: skip unless at least N folded/consolidated "
        "journal partitions exist",
    )
    p_dd.add_argument(
        "--max-batches", type=int, default=None,
        help="compact-pairs: bound one call's rewrite to the oldest N "
        "candidate partitions (incremental compaction)",
    )

    return parser


def parse_action(argv: Sequence[str]):
    """argv (without program name) → Action dataclass. Raises CliError."""
    parser = build_parser()
    try:
        ns, extra = parser.parse_known_args(list(argv))
    except SystemExit:
        raise CliError("Invalid arguments")
    if extra:
        raise CliError(f"Invalid arguments: unexpected {extra!r}")
    if ns.command is None:
        raise CliError("Usage: chronicles {tables|init|log|partitions|partition} ...")
    if ns.command == "tables":
        return ns, ListTables()
    if ns.command == "init":
        return ns, InitTableAction(_table_name(ns.table), ns.isSnapshot, ns.message)
    if ns.command == "log":
        return ns, ShowTableHistory(_table_name(ns.table))
    if ns.command == "partitions":
        return ns, ListPartitions(_table_name(ns.table))
    if ns.command == "changes":
        return ns, ChangesAction(
            _table_name(ns.table), ns.from_commit, ns.to_commit
        )
    if ns.command == "partition":
        act = AddPartitionAction if ns.operation == "add" else RemovePartitionAction
        return ns, act(_table_name(ns.table), ns.partition, ns.message)
    if ns.command == "checkout":
        return ns, CheckoutAction(_table_name(ns.table), ns.commit_id)
    if ns.command == "tag":
        if ns.delete and not ns.name:
            raise CliError("tag --delete needs a tag name")
        if ns.commit and not ns.name:
            raise CliError("tag --commit needs a tag name")
        return ns, TagAction(
            _table_name(ns.table), ns.name, ns.commit, ns.delete, ns.force
        )
    if ns.command == "branch":
        if ns.delete and not ns.name:
            raise CliError("branch --delete needs a branch name")
        if ns.commit and not ns.name:
            raise CliError("branch --commit needs a branch name")
        return ns, BranchAction(
            _table_name(ns.table), ns.name, ns.commit, ns.delete, ns.location
        )
    if ns.command == "merge":
        return ns, MergeAction(
            _table_name(ns.table), ns.branch, ns.message, ns.drop_branch,
            ns.on_conflict, ns.location,
        )
    if ns.command == "rebase":
        return ns, RebaseAction(_table_name(ns.table), ns.branch, ns.on_conflict)
    if ns.command == "restore":
        selectors = [s for s in (ns.commit, ns.tag, ns.timestamp) if s]
        if len(selectors) != 1:
            raise CliError(
                "restore needs exactly one of --commit / --tag / --timestamp"
            )
        return ns, RestoreAction(
            _table_name(ns.table), tuple(ns.partitions), ns.message,
            ns.commit, ns.tag, ns.timestamp, ns.location,
        )
    if ns.command == "manifest":
        return ns, ManifestAction(_table_name(ns.table), ns.location, ns.incremental)
    if ns.command == "vacuum":
        return ns, VacuumAction(
            _table_name(ns.table), ns.location, ns.keep_last, ns.apply,
            ns.sweep_orphans, ns.orphan_min_age_days,
        )
    if ns.command == "archive":
        return ns, ArchiveAction(
            _table_name(ns.table), ns.retain_checkpoints, ns.through_seq,
            ns.apply, ns.consolidate, ns.max_chunk_bytes,
        )
    if ns.command == "maintain":
        def _pairs(spec, flag):
            if "=" not in spec:
                raise CliError(
                    f"{flag} expects NAME=VALUE, got {spec!r}"
                )
            k, v = spec.split("=", 1)
            return k, v

        locations = tuple(_pairs(s, "--location") for s in ns.location)
        compact = tuple(_pairs(s, "--compact-pairs") for s in ns.compact_pairs)
        fold = tuple(_pairs(s, "--fold-clusters") for s in ns.fold_clusters)
        loc_names = {k for k, _ in locations}
        for flag, mappings in (
            ("--compact-pairs", compact), ("--fold-clusters", fold)
        ):
            for pairs_fq, primary_fq in mappings:
                missing = {pairs_fq, primary_fq} - loc_names
                if missing:
                    raise CliError(
                        f"{flag} needs --location entries for "
                        f"{sorted(missing)}"
                    )
        return ns, MaintainAction(
            ns.apply, ns.retain_checkpoints, ns.keep_last,
            locations, compact, ns.skip_archive, ns.skip_vacuum,
            ns.max_chunk_bytes, ns.consolidate, ns.sweep_orphans,
            ns.orphan_min_age_days, fold_clusters=fold,
        )
    if ns.command == "index":
        if ns.operation in ("build", "extend") and not ns.input:
            raise CliError(f"index {ns.operation} needs --input <parquet path>")
        return ns, AnnIndexAction(
            ns.operation, _table_name(ns.table), ns.location,
            input_path=ns.input, id_col=ns.id_col, vec_col=ns.vec_col,
            message=ns.message or f"cli index {ns.operation}",
            mode=ns.mode, n_clusters=ns.n_clusters, m=ns.m, k_sub=ns.k_sub,
            iters=ns.iters, train_fraction=ns.train_fraction,
            id_map_shards=(ns.id_map_shards or None),
            max_bucket_rows=ns.max_bucket_rows,
            apply=ns.apply, orphan_min_age_days=ns.orphan_min_age_days,
        )
    if ns.command == "dedup":
        if ns.operation in ("build", "extend") and not ns.input:
            raise CliError(f"dedup {ns.operation} needs --input <parquet path>")
        if ns.operation == "build" and ns.family in (
            "embedding", "semantic"
        ) and not ns.dim:
            raise CliError(f"dedup build --family {ns.family} needs --dim")
        if ns.operation in ("fold-clusters", "compact-pairs") and not (
            ns.clusters_table and ns.clusters_location
        ):
            raise CliError(
                f"dedup {ns.operation} needs --clusters-table and "
                "--clusters-location (the positional table/--location "
                "name the pairs journal)"
            )
        return ns, DedupIndexAction(
            ns.operation, _table_name(ns.table), ns.location,
            family=ns.family, input_path=ns.input, id_col=ns.id_col,
            text_col=ns.text_col, vec_col=ns.vec_col,
            message=ns.message or f"cli dedup {ns.operation}",
            mode=ns.mode, threshold=ns.threshold, bands=ns.bands,
            rows=ns.rows, width=ns.width, n_planes=ns.n_planes, dim=ns.dim,
            bits=ns.bits, max_hamming=ns.max_hamming,
            n_clusters=ns.n_clusters, iters=ns.iters,
            train_fraction=ns.train_fraction,
            band_shards=ns.band_shards, doc_shards=ns.doc_shards,
            pairs=ns.pairs, apply=ns.apply,
            orphan_min_age_days=ns.orphan_min_age_days,
            clusters_table=(
                _table_name(ns.clusters_table) if ns.clusters_table else None
            ),
            clusters_location=ns.clusters_location,
            cluster_shards=ns.cluster_shards,
            min_batches=ns.min_batches,
            max_batches=ns.max_batches,
            coalesce_batches=ns.coalesce_batches,
        )
    raise CliError(f"Unknown command {ns.command!r}")


# ---------------------------------------------------------------------------
# execution (CliClient.scala:19-96)


class CliClient:
    def __init__(self, delegate: VersionedMetastore, console: Console) -> None:
        self.delegate = delegate
        self.console = console

    def _table_def(self, table: TableName) -> TableDefinition:
        """Location-less TableDefinition for commit/diff against the stub
        metastore; partition schema only carries the snapshot-ness bit."""
        is_snapshot = self.delegate.tracker.is_snapshot_table(table)
        schema = PartitionSchema(() if is_snapshot else ("p",))
        return TableDefinition(table, location="", partition_schema=schema)

    def execute(self, action, user_id: str) -> None:
        if isinstance(action, ListTables):
            self.list_tables()
        elif isinstance(action, InitTableAction):
            self.init_table(action.table, action.is_snapshot, user_id, action.message)
        elif isinstance(action, ListPartitions):
            self.list_partitions(action.table)
        elif isinstance(action, ShowTableHistory):
            self.show_table_history(action.table)
        elif isinstance(action, AddPartitionAction):
            self.add_partition(action.table, action.partition_name, user_id, action.message)
        elif isinstance(action, RemovePartitionAction):
            self.remove_partition(action.table, action.partition_name, user_id, action.message)
        elif isinstance(action, CheckoutAction):
            self.checkout(action.table, action.commit_id)
        elif isinstance(action, ChangesAction):
            self.changes(action)
        elif isinstance(action, TagAction):
            self.tag(action)
        elif isinstance(action, RestoreAction):
            self.restore(action, user_id)
        elif isinstance(action, BranchAction):
            self.branch(action, user_id)
        elif isinstance(action, MergeAction):
            self.merge(action, user_id)
        elif isinstance(action, RebaseAction):
            self.rebase(action, user_id)
        elif isinstance(action, ManifestAction):
            self.manifest(action)
        elif isinstance(action, VacuumAction):
            self.vacuum(action)
        elif isinstance(action, ArchiveAction):
            self.archive(action)
        elif isinstance(action, MaintainAction):
            self.maintain(action, user_id)
        elif isinstance(action, AnnIndexAction):
            self.ann_index(action, user_id)
        elif isinstance(action, DedupIndexAction):
            self.dedup_index(action, user_id)
        else:
            raise CliError(f"Unknown action {action!r}")

    def list_tables(self) -> None:
        for t in self.delegate.tables():
            self.console.println(t.fully_qualified)

    def init_table(self, table: TableName, is_snapshot: bool, user_id: str, message: str) -> None:
        self.delegate.init_table(table, is_snapshot, user_id, message)
        self.console.println(f"Initialised table {table.fully_qualified}")

    def list_partitions(self, table: TableName) -> None:
        version = self.delegate.current_version(table)
        if isinstance(version, SnapshotTableVersion):
            raise CliError(f"Table {table} is unpartitioned")
        lines = [
            f"{p} {v.label}" for p, v in version.partition_versions.items()
        ]
        self.console.println("\n".join(lines))

    def show_table_history(self, table: TableName) -> None:
        for u in self.delegate.updates(table):
            self.console.println(
                f"{u.commit_id}\t{u.timestamp.isoformat()}\t{u.user_id}\t{u.message}"
            )

    def changes(self, action: ChangesAction) -> None:
        """One line per metastore operation in the (from, to] diff —
        what an incremental consumer would act on."""
        from .core.diff import (
            AddPartition,
            RemovePartitionOp,
            UpdatePartitionVersion,
            UpdateTableVersion,
        )
        from .spark.reader import changed_partitions

        tdef = TableDefinition(action.table, "")  # diff needs only the name
        ops, _ = changed_partitions(
            tdef, self.delegate.tracker, action.from_commit, action.to_commit
        )
        if not ops:
            self.console.println("No changes")
            return
        for op in ops:
            if isinstance(op, AddPartition):
                self.console.println(f"add\t{op.partition}\t{op.version.label}")
            elif isinstance(op, UpdatePartitionVersion):
                self.console.println(
                    f"update\t{op.partition}\t{op.version.label}"
                )
            elif isinstance(op, RemovePartitionOp):
                self.console.println(f"remove\t{op.partition}")
            elif isinstance(op, UpdateTableVersion):
                self.console.println(f"update-table\t{op.version.label}")

    def add_partition(self, table: TableName, partition_name: str, user_id: str, message: str) -> None:
        try:
            partition = Partition.parse(partition_name)
        except ValueError as e:
            raise CliError(str(e))
        update = TableUpdate(
            TableUpdateMetadata.new(user_id, message),
            (AddPartitionVersion(partition, generate_version()),),
        )
        self.delegate.commit(self._table_def(table), update)
        self.console.println(
            f"Added partition '{partition_name}' to table '{table.fully_qualified}'"
        )

    def remove_partition(self, table: TableName, partition_name: str, user_id: str, message: str) -> None:
        try:
            partition = Partition.parse(partition_name)
        except ValueError as e:
            raise CliError(str(e))
        update = TableUpdate(
            TableUpdateMetadata.new(user_id, message),
            (RemovePartition(partition),),
        )
        self.delegate.commit(self._table_def(table), update)
        # reference prints "Added ..." here by mistake (CliClient.scala:94)
        self.console.println(
            f"Removed partition '{partition_name}' from table '{table.fully_qualified}'"
        )

    def checkout(self, table: TableName, commit_id: str) -> None:
        self.delegate.checkout(self._table_def(table), commit_id)
        self.console.println(
            f"Checked out commit '{commit_id}' on table '{table.fully_qualified}'"
        )

    def tag(self, action: TagAction) -> None:
        tracker = self.delegate.tracker
        if action.name is None:
            for name, cid in sorted(tracker.tags(action.table).items()):
                self.console.println(f"{name} {cid}")
            return
        if action.delete:
            tracker.delete_tag(action.table, action.name)
            self.console.println(
                f"Deleted tag '{action.name}' on table '{action.table.fully_qualified}'"
            )
            return
        cid = tracker.set_tag(
            action.table, action.name, action.commit_id, force=action.force
        )
        self.console.println(
            f"Tagged commit '{cid}' as '{action.name}' on table "
            f"'{action.table.fully_qualified}'"
        )

    def branch(self, action: BranchAction, user_id: str) -> None:
        from . import branching as B

        tracker = self.delegate.tracker
        if action.name is None:
            for name, btn in sorted(B.branches(tracker, action.table).items()):
                head = head_of(tracker, btn)
                self.console.println(f"{name} {head}")
            return
        if action.delete:
            B.delete_branch(
                tracker, action.table, action.name, location=action.location
            )
            self.console.println(
                f"Deleted branch '{action.name}' of "
                f"'{action.table.fully_qualified}'"
            )
            return
        B.create_branch(
            tracker, action.table, action.name, user_id, action.commit_id,
            location=action.location,
        )
        point = action.commit_id or "the current head"
        self.console.println(
            f"Created branch '{action.name}' of "
            f"'{action.table.fully_qualified}' at {point}"
        )

    def merge(self, action: MergeAction, user_id: str) -> None:
        from . import branching as B

        tdef = self._table_def(action.table)
        if action.location:
            tdef = TableDefinition(
                tdef.name, action.location, tdef.partition_schema
            )
        B.merge_branch(
            tdef,
            self.delegate.tracker,
            action.branch,
            user_id,
            action.message,
            metastore=None,
            drop_branch=action.drop_branch,
            on_conflict=action.on_conflict,
        )
        self.console.println(
            f"Merged branch '{action.branch}' into "
            f"'{action.table.fully_qualified}'"
            f"{' and deleted it' if action.drop_branch else ''}"
        )

    def rebase(self, action: RebaseAction, user_id: str) -> None:
        from . import branching as B

        _state, conflicts = B.rebase_branch(
            self._table_def(action.table),
            self.delegate.tracker,
            action.branch,
            user_id,
            on_conflict=action.on_conflict,
        )
        note = (
            f" ({len(conflicts)} contested partition"
            f"{'s' if len(conflicts) != 1 else ''} resolved: "
            f"{action.on_conflict})"
            if conflicts
            else ""
        )
        self.console.println(
            f"Rebased branch '{action.branch}' onto "
            f"'{action.table.fully_qualified}'{note}"
        )

    def restore(self, action: RestoreAction, user_id: str) -> None:
        from .core.model import Partition
        from .spark.restore import restore_partitions

        parts = [Partition.parse(p) for p in action.partition_names]
        # partition columns come from the parsed partitions themselves; the
        # placeholder _table_def schema is only right for the snapshot bit
        is_snapshot = self.delegate.tracker.is_snapshot_table(action.table)
        table = TableDefinition(
            action.table,
            location=action.location or "",
            partition_schema=PartitionSchema(
                () if is_snapshot else tuple(c for c, _ in parts[0].column_values)
            ),
        )
        new_state, _changes = restore_partitions(
            table,
            self.delegate.tracker,
            parts,
            user_id,
            action.message,
            at_commit=action.commit_id,
            at_tag=action.tag,
            at_timestamp=action.timestamp,
            metastore=None,
            verify_exists=action.location is not None,
        )
        point = action.commit_id or action.tag or action.timestamp
        self.console.println(
            f"Restored {len(parts)} partition{'s' if len(parts) != 1 else ''} "
            f"of '{action.table.fully_qualified}' to their state as of "
            f"'{point}'"
        )

    def manifest(self, action: ManifestAction) -> None:
        from .spark.manifest import generate_manifest

        is_snapshot = self.delegate.tracker.is_snapshot_table(action.table)
        table = TableDefinition(
            action.table,
            location=action.location,
            partition_schema=PartitionSchema(() if is_snapshot else ("p",)),
        )
        written = generate_manifest(
            table, self.delegate.tracker, incremental=action.incremental
        )
        for path in written:
            self.console.println(path)
        self.console.println(
            f"Wrote {len(written)} manifest file{'s' if len(written) != 1 else ''}"
            f"{' (incremental)' if action.incremental else ''}"
        )

    def vacuum(self, action: VacuumAction) -> None:
        from .spark.vacuum import vacuum as run_vacuum

        is_snapshot = self.delegate.tracker.is_snapshot_table(action.table)
        table = TableDefinition(
            action.table,
            location=action.location,
            partition_schema=PartitionSchema(() if is_snapshot else ("p",)),
        )
        from datetime import timedelta

        doomed = run_vacuum(
            table,
            self.delegate.tracker,
            keep_last=action.keep_last,
            dry_run=not action.apply,
            sweep_orphans=action.sweep_orphans,
            orphan_min_age=timedelta(days=action.orphan_min_age_days),
        )
        for path in doomed:
            self.console.println(path)
        verb = "Removed" if action.apply else "Would remove"
        self.console.println(
            f"{verb} {len(doomed)} superseded version director"
            f"{'y' if len(doomed) == 1 else 'ies'} "
            f"(keep_last={action.keep_last})"
        )

    def archive(self, action: ArchiveAction) -> None:
        tracker = self.delegate.tracker
        fn = getattr(tracker, "archive_commits", None)
        if fn is None:
            raise CliError(
                "archive applies to files-backed commit logs only (the "
                "sqlite tracker has no directory listing to bound)"
            )
        out = fn(
            action.table,
            retain_checkpoints=action.retain_checkpoints,
            through_seq=action.through_seq,
            dry_run=not action.apply,
            consolidate=action.consolidate,
            max_chunk_bytes=action.max_chunk_bytes,
        )
        if out.get("skipped_lease"):
            self.console.println(
                "Archive skipped: a competing archiver holds the lease "
                "(rerun after it finishes, or after the TTL if it crashed)"
            )
            return
        verb = "Archived" if action.apply else "Would archive"
        chunks = out.get("archives") or []
        self.console.println(
            f"{verb} {out['archived']} commit file(s) through seq "
            f"{out['through_seq']} (repaired {out['repaired']}, pruned "
            f"{out['pruned_checkpoints']} checkpoint and "
            f"{out['pruned_sidecars']} commit-index file(s))"
            + (
                f" -> {len(chunks)} chunk(s), newest {out['archive']}"
                if chunks else ""
            )
        )

    def maintain(self, action: MaintainAction, user_id: str) -> None:
        """Lake-wide maintenance sweep: the fleet-cadence driver for the
        per-table verbs.  Policies per tracked table, fail-soft (one torn
        table must not stop the fleet's cron): commit-log archival (files
        trackers), then — for tables with a ``--location`` mapping —
        version-directory vacuum plus BOTH index families' artifact-
        sidecar sweeps (ANN and dedup — each mints one geometry sidecar
        per micro-batch at streaming cadence), then journal fold
        catch-up for ``--fold-clusters`` mappings (dry-run counts the
        backlog via :func:`pending_fold_labels`, no Spark), then
        (apply-only) folded-journal compaction for ``--compact-pairs``
        mappings.  Everything dry-runs by default and prints one
        summary line per table."""
        tracker = self.delegate.tracker
        dry = not action.apply
        locations = dict(action.locations)
        can_archive = hasattr(tracker, "archive_commits")
        if not can_archive and not action.skip_archive:
            self.console.println(
                "archive: skipped (tracker keeps no listing to bound — "
                "files-backed logs only)"
            )
        errors = 0
        for t in tracker.tables():
            fq = t.fully_qualified
            parts = []
            try:
                if can_archive and not action.skip_archive:
                    out = tracker.archive_commits(
                        t,
                        retain_checkpoints=action.retain_checkpoints,
                        dry_run=dry,
                        consolidate=action.consolidate,
                        max_chunk_bytes=action.max_chunk_bytes,
                    )
                    if out.get("skipped_lease"):
                        # NOT a no-op: a competing archiver holds the
                        # lease (possibly crashed and not yet stale) —
                        # the operator must see the sweep was blocked
                        parts.append("archive skipped (lease held)")
                    else:
                        parts.append(
                            f"archive {out['archived']} commit(s)"
                            + (f" [repair {out['repaired']}]"
                               if out["repaired"] else "")
                        )
                loc = locations.get(fq)
                if loc and not action.skip_vacuum:
                    from datetime import timedelta

                    from .operators.ann_index import vacuum_ann_artifacts
                    from .operators.dedup_index import (
                        vacuum_dedup_artifacts,
                    )
                    from .spark.vacuum import vacuum as run_vacuum

                    is_snapshot = tracker.is_snapshot_table(t)
                    tdef = TableDefinition(
                        t, location=loc,
                        partition_schema=PartitionSchema(
                            () if is_snapshot else ("p",)
                        ),
                    )
                    doomed = run_vacuum(
                        tdef, tracker, keep_last=action.keep_last,
                        dry_run=dry,
                        sweep_orphans=action.sweep_orphans,
                        orphan_min_age=timedelta(
                            days=action.orphan_min_age_days
                        ),
                    )
                    # BOTH sidecar families: at streaming cadence the
                    # dedup indexes mint one geometry sidecar per
                    # micro-batch too — a fleet running only `maintain`
                    # must not re-accumulate exactly those orphans
                    sidecars = vacuum_ann_artifacts(tdef, tracker, dry_run=dry)
                    sidecars += vacuum_dedup_artifacts(
                        tdef, tracker, dry_run=dry,
                        orphan_min_age=timedelta(
                            days=action.orphan_min_age_days
                        ),
                    )
                    parts.append(
                        f"vacuum {len(doomed)} version dir(s), "
                        f"{len(sidecars)} sidecar(s)"
                    )
            except Exception as e:  # fail-soft: report, keep sweeping
                errors += 1
                parts.append(f"ERROR {type(e).__name__}: {e}")
            verb = "maintained" if action.apply else "would maintain"
            self.console.println(
                f"{fq}: {verb} — " + ("; ".join(parts) if parts else "no-op")
            )
        for pairs_fq, assign_fq in action.fold_clusters:
            # fold BEFORE compact: a sweep's fresh folds become folded
            # partitions the same sweep's compaction may consolidate
            try:
                from .operators import cluster_index as CX

                pt = TableDefinition(
                    _table_name(pairs_fq), locations[pairs_fq],
                    PartitionSchema((CX.PAIRS_BATCH_COL,)),
                )
                at = TableDefinition(
                    _table_name(assign_fq), locations[assign_fq],
                    PartitionSchema((CX.DOC_SHARD_COL,)),
                )
                pending = CX.pending_fold_labels(tracker, pt, at)
                if dry:
                    # pure metadata: the backlog an apply run would fold
                    self.console.println(
                        f"{pairs_fq}: would fold {len(pending)} pending "
                        f"journal batch(es) into {assign_fq}"
                    )
                    continue
                if not pending:
                    self.console.println(
                        f"{pairs_fq}: no pending journal batches"
                    )
                    continue
                from pyspark.sql import SparkSession

                spark = SparkSession.builder.getOrCreate()
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", "dynamic"
                )
                folded = CX.fold_new_dedup_pairs(
                    spark, pt, at, tracker, user_id=user_id
                )
                self.console.println(
                    f"{pairs_fq}: folded {len(folded)} journal "
                    f"batch(es) into {assign_fq}"
                )
            except Exception as e:  # fail-soft, same stance
                errors += 1
                self.console.println(
                    f"{pairs_fq}: ERROR {type(e).__name__}: {e}"
                )
        for pairs_fq, primary_fq in action.compact_pairs:
            if dry:
                self.console.println(
                    f"{pairs_fq}: compact-pairs skipped in dry-run (a "
                    "compaction is a commit, not a delete — rerun with "
                    "--apply)"
                )
                continue
            try:
                from pyspark.sql import SparkSession

                from .operators import cluster_index as CX

                spark = SparkSession.builder.getOrCreate()
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", "dynamic"
                )
                pt = _table_name(pairs_fq)
                mt = _table_name(primary_fq)
                label = CX.compact_dedup_pairs(
                    spark,
                    TableDefinition(pt, locations[pairs_fq],
                                    PartitionSchema((CX.PAIRS_BATCH_COL,))),
                    TableDefinition(mt, locations[primary_fq],
                                    PartitionSchema((CX.DOC_SHARD_COL,))),
                    tracker,
                    user_id=user_id,
                )
                self.console.println(
                    f"{pairs_fq}: compacted folded journal"
                    + (f" -> batch={label}" if label
                       else " (nothing to compact)")
                )
            except Exception as e:  # fail-soft, same stance
                errors += 1
                self.console.println(
                    f"{pairs_fq}: compact-pairs ERROR "
                    f"{type(e).__name__}: {e}"
                )
        if errors:
            raise CliError(f"maintain finished with {errors} error(s)")

    def ann_index(self, action: AnnIndexAction, user_id: str) -> None:
        """The ANN family's shell surface.  build/extend read the input
        parquet through the CURRENT SparkSession (spark-submit's, or a
        local one when run standalone); verify/rebuild read the index
        itself; vacuum-artifacts is pure metadata."""
        from .operators import ann_index as AX

        table = TableDefinition(
            action.table,
            location=action.location,
            partition_schema=PartitionSchema((AX.BUCKET_COL,)),
        )
        tracker = self.delegate.tracker

        if action.operation == "vacuum-artifacts":
            from datetime import timedelta

            doomed = AX.vacuum_ann_artifacts(
                table, tracker, dry_run=not action.apply,
                orphan_min_age=timedelta(days=action.orphan_min_age_days),
            )
            for path in doomed:
                self.console.println(path)
            verb = "Removed" if action.apply else "Would remove"
            self.console.println(
                f"{verb} {len(doomed)} orphan artifact sidecar"
                f"{'' if len(doomed) == 1 else 's'}"
            )
            return

        from pyspark.sql import SparkSession

        spark = SparkSession.builder.getOrCreate()
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        if action.operation == "build":
            tracker.init_table(
                action.table, is_snapshot=False, user_id=user_id
            )
            df = spark.read.parquet(action.input_path)
            state, arts = AX.build_ann_index(
                df, table, tracker, user_id, action.message,
                n_clusters=action.n_clusters, m=action.m,
                k_sub=action.k_sub, iters=action.iters,
                train_fraction=action.train_fraction,
                id_map_shards=action.id_map_shards,
                max_bucket_rows=action.max_bucket_rows,
                id_col=action.id_col, vec_col=action.vec_col,
            )
            self.console.println(
                f"Built index '{action.table.fully_qualified}' "
                f"({len(state.partition_versions)} bucket partitions, "
                f"version {arts.version_label})"
            )
        elif action.operation == "extend":
            df = spark.read.parquet(action.input_path)
            state, arts = AX.extend_ann_index(
                df, table, tracker, user_id, action.message,
                mode=action.mode, id_col=action.id_col,
                vec_col=action.vec_col,
            )
            self.console.println(
                f"Extended index '{action.table.fully_qualified}' "
                f"(mode={action.mode}, now "
                f"{len(state.partition_versions)} bucket partitions, "
                f"version {arts.version_label})"
            )
        elif action.operation == "verify":
            bad = AX.verify_ann_id_map(
                spark, table, tracker, id_col=action.id_col
            )
            rows = bad.limit(21).collect()
            for r in rows[:20]:
                self.console.println(
                    f"{r[action.id_col]}\tindex={r['index_bucket']}\t"
                    f"map={r['map_bucket']}"
                )
            if rows:
                more = " (first 20 shown)" if len(rows) > 20 else ""
                self.console.println(
                    f"Index and id map DISAGREE{more} — run "
                    "'index rebuild' to repair"
                )
                raise CliError(
                    f"id map inconsistent for {action.table.fully_qualified}"
                )
            self.console.println(
                f"Index '{action.table.fully_qualified}' and its id map agree"
            )
        elif action.operation == "rebuild":
            AX.rebuild_ann_id_map(
                spark, table, tracker, user_id, action.message,
                id_col=action.id_col,
            )
            self.console.println(
                f"Rebuilt id map for '{action.table.fully_qualified}'"
            )
        else:
            raise CliError(f"Unknown index operation {action.operation!r}")

    def dedup_index(self, action: DedupIndexAction, user_id: str) -> None:
        """The dedup index families' shell surface (text MinHash /
        embedding sign-LSH / simhash share one verb set — same core).
        build/extend read the input parquet through the CURRENT
        SparkSession; verify/rebuild read the index itself;
        repair-pairs and vacuum-artifacts are pure metadata."""
        from .operators import dedup_index as DX

        if action.operation in (
            "fold-clusters", "verify-clusters", "compact-pairs"
        ):
            self._dedup_clusters(action, user_id)
            return

        emb = action.family == "embedding"
        sim = action.family == "simhash"
        sem = action.family == "semantic"
        id_col = action.id_col or ("vec_id" if emb or sem else "doc_id")
        table = TableDefinition(
            action.table,
            location=action.location,
            partition_schema=PartitionSchema((DX.BAND_SHARD_COL,)),
        )
        tracker = self.delegate.tracker
        what = f"{action.family} dedup index '{action.table.fully_qualified}'"

        if action.operation == "vacuum-artifacts":
            from datetime import timedelta

            doomed = DX.vacuum_dedup_artifacts(
                table, tracker, dry_run=not action.apply,
                orphan_min_age=timedelta(days=action.orphan_min_age_days),
            )
            for path in doomed:
                self.console.println(path)
            verb = "Removed" if action.apply else "Would remove"
            self.console.println(
                f"{verb} {len(doomed)} orphan artifact sidecar"
                f"{'' if len(doomed) == 1 else 's'}"
            )
            return
        if action.operation == "repair-pairs":
            relanded = DX.repair_dedup_pairs(table, tracker, user_id=user_id)
            self.console.println(
                f"Re-landed torn pairs batch '{relanded}' on {what}"
                if relanded is not None
                else f"Pairs journal already paired with {what} — "
                "nothing to repair"
            )
            return

        from pyspark.sql import SparkSession

        if emb:
            from .operators import emb_dedup_index as EX
        if sim:
            from .operators import simhash_index as SX
        if sem:
            from .operators import semantic_dedup_index as SDX
        spark = SparkSession.builder.getOrCreate()
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        pairs_table = DX.dedup_pairs_table(table) if action.pairs else None
        geo = {
            k: v
            for k, v in dict(
                bands=action.bands, band_shards=action.band_shards,
                doc_shards=action.doc_shards,
            ).items()
            if v is not None
        }
        if emb:
            if action.n_planes is not None:
                geo["n_planes"] = action.n_planes
        elif sim:
            if action.bits is not None:
                geo["bits"] = action.bits
        elif sem:
            if "bands" in geo:  # no banding knob: one band per vector
                raise CliError(
                    "--bands does not apply to --family semantic (one "
                    "cluster band per vector; tune --n-clusters instead)"
                )
            if action.n_clusters is not None:
                geo["n_clusters"] = action.n_clusters
        else:
            for k, v in (("rows", action.rows), ("width", action.width)):
                if v is not None:
                    geo[k] = v
        if action.operation == "build":
            tracker.init_table(
                action.table, is_snapshot=False, user_id=user_id
            )
            df = spark.read.parquet(action.input_path)
            if emb:
                state, arts = EX.build_embedding_dedup_index(
                    df, table, tracker, dim=action.dim, user_id=user_id,
                    message=action.message, id_col=id_col,
                    vec_col=action.vec_col, **geo,
                )
            elif sem:
                state, arts = SDX.build_semantic_dedup_index(
                    df, table, tracker, dim=action.dim, user_id=user_id,
                    message=action.message, id_col=id_col,
                    vec_col=action.vec_col, iters=action.iters,
                    train_fraction=action.train_fraction, **geo,
                )
            elif sim:
                state, arts = SX.build_simhash_dedup_index(
                    df, table, tracker, user_id, action.message,
                    id_col=id_col, text_col=action.text_col, **geo,
                )
            else:
                state, arts = DX.build_dedup_index(
                    df, table, tracker, user_id, action.message,
                    id_col=id_col, text_col=action.text_col, **geo,
                )
            self.console.println(
                f"Built {what} ({len(state.partition_versions)} band-shard "
                f"partitions, version {arts.version_label})"
            )
        elif action.operation == "extend":
            df = spark.read.parquet(action.input_path)
            thr = action.threshold if action.threshold is not None else (
                0.95 if emb else 0.9 if sem else 0.5
            )
            if emb:
                pairs, state, arts = EX.extend_embedding_dedup_index(
                    df, table, tracker, user_id, action.message,
                    threshold=thr, mode=action.mode, id_col=id_col,
                    vec_col=action.vec_col, pairs_table=pairs_table,
                )
            elif sem:
                pairs, state, arts = SDX.extend_semantic_dedup_index(
                    df, table, tracker, user_id, action.message,
                    threshold=thr, mode=action.mode, id_col=id_col,
                    vec_col=action.vec_col, pairs_table=pairs_table,
                )
            elif sim:
                pairs, state, arts = SX.extend_simhash_dedup_index(
                    df, table, tracker, user_id, action.message,
                    max_hamming=action.max_hamming, mode=action.mode,
                    id_col=id_col, text_col=action.text_col,
                    pairs_table=pairs_table,
                )
            else:
                pairs, state, arts = DX.extend_dedup_index(
                    df, table, tracker, user_id, action.message,
                    threshold=thr, mode=action.mode, id_col=id_col,
                    text_col=action.text_col, pairs_table=pairs_table,
                )
            self.console.println(
                f"Extended {what} (mode={action.mode}, "
                f"{pairs.count()} verified duplicate pairs, "
                f"version {arts.version_label})"
            )
        elif action.operation == "verify":
            if emb:
                bad = EX.verify_embedding_dedup_index(
                    spark, table, tracker, id_col=id_col,
                    vec_col=action.vec_col,
                )
            elif sem:
                bad = SDX.verify_semantic_dedup_index(
                    spark, table, tracker, id_col=id_col,
                    vec_col=action.vec_col,
                )
            elif sim:
                bad = SX.verify_simhash_dedup_index(
                    spark, table, tracker, id_col=id_col
                )
            else:
                bad = DX.verify_dedup_index(
                    spark, table, tracker, id_col=id_col
                )
            rows = bad.limit(21).collect()
            for r in rows[:20]:
                self.console.println(
                    f"{r[id_col]}\tband={r['band_id']}\t"
                    f"want={r['want_key']}\thave={r['have_key']}"
                )
            if rows:
                more = " (first 20 shown)" if len(rows) > 20 else ""
                self.console.println(
                    f"Band table and doc store DISAGREE{more} — run "
                    "'dedup rebuild' to repair"
                )
                raise CliError(
                    f"dedup index inconsistent for "
                    f"{action.table.fully_qualified}"
                )
            self.console.println(
                f"Band table and doc store agree for {what}"
            )
        elif action.operation == "rebuild":
            if emb:
                state, arts = EX.rebuild_embedding_dedup_index(
                    spark, table, tracker, user_id, action.message,
                    id_col=id_col, vec_col=action.vec_col,
                    pairs_table=pairs_table, **geo,
                )
            elif sem:
                if "n_clusters" in geo:  # immutable: pinned quantizer
                    raise CliError(
                        "--n-clusters cannot change on 'dedup rebuild' "
                        "(the centroids are the index's pinned quantizer); "
                        "run a fresh 'dedup build' to re-fit"
                    )
                state, arts = SDX.rebuild_semantic_dedup_index(
                    spark, table, tracker, user_id, action.message,
                    id_col=id_col, vec_col=action.vec_col,
                    pairs_table=pairs_table, **geo,
                )
            elif sim:
                if "bits" in geo:  # immutable: the payload IS the fingerprint
                    raise CliError(
                        "--bits cannot change on 'dedup rebuild' (the stored "
                        "fingerprint is the payload itself); run a fresh "
                        "'dedup build' over the raw corpus to re-fingerprint"
                    )
                state, arts = SX.rebuild_simhash_dedup_index(
                    spark, table, tracker, user_id, action.message,
                    id_col=id_col, pairs_table=pairs_table, **geo,
                )
            else:
                if "width" in geo:  # immutable: shingles derive from raw text
                    raise CliError(
                        "--width cannot change on 'dedup rebuild' (shingles "
                        "derive from the raw text, which the index does not "
                        "keep); run a fresh 'dedup build' to re-shingle"
                    )
                state, arts = DX.rebuild_dedup_index(
                    spark, table, tracker, user_id, action.message,
                    id_col=id_col, pairs_table=pairs_table, **geo,
                )
            self.console.println(
                f"Rebuilt {what} under geometry "
                f"{sorted(arts.geometry().items())} "
                f"(version {arts.version_label})"
            )
        else:
            raise CliError(f"Unknown dedup operation {action.operation!r}")

    def _dedup_clusters(self, action: DedupIndexAction, user_id: str) -> None:
        """The incremental duplicate-cluster surface
        (operators/cluster_index.py): ``fold-clusters`` catches the
        assignment table up with the pairs journal (bootstrapping an
        empty index on first use), ``verify-clusters`` audits the
        paired tables and exits non-zero on divergence, and
        ``compact-pairs`` consolidates the journal's already-folded
        batch partitions into one (the positional table/--location name
        the PAIRS table; --clusters-table/--clusters-location name the
        assignment table whose fold watermarks decide what is safe)."""
        from pyspark.sql import SparkSession

        from .operators import cluster_index as CX
        from .operators.pairing import pinned_state

        tracker = self.delegate.tracker
        spark = SparkSession.builder.getOrCreate()
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

        if action.operation == "verify-clusters":
            assign = TableDefinition(
                action.table, location=action.location,
                partition_schema=PartitionSchema((CX.DOC_SHARD_COL,)),
            )
            bad = CX.verify_dedup_clusters(spark, assign, tracker)
            rows = bad.limit(21).collect()
            for r in rows[:20]:
                self.console.println(
                    f"{r['doc_id']}\tassign={r['assign_cluster']}\t"
                    f"members={r['members_cluster']}\t{r['problem']}"
                )
            if rows:
                raise CliError(
                    f"cluster assignment inconsistent for "
                    f"{action.table.fully_qualified}"
                )
            self.console.println(
                f"Assignment and members tables agree for "
                f"'{action.table.fully_qualified}'"
            )
            return

        pairs_table = TableDefinition(
            action.table, location=action.location,
            partition_schema=PartitionSchema((CX.PAIRS_BATCH_COL,)),
        )
        assign = TableDefinition(
            action.clusters_table, location=action.clusters_location,
            partition_schema=PartitionSchema((CX.DOC_SHARD_COL,)),
        )
        if action.operation == "compact-pairs":
            value = CX.compact_dedup_pairs(
                spark, pairs_table, assign, tracker, user_id=user_id,
                message=action.message, min_batches=action.min_batches,
                max_batches=action.max_batches,
            )
            if value is None:
                self.console.println(
                    f"Nothing to compact (fewer than {action.min_batches} "
                    "folded journal partitions)"
                )
            else:
                self.console.println(
                    f"Compacted folded journal partitions of "
                    f"'{action.table.fully_qualified}' into "
                    f"'batch={value}'"
                )
            return

        tracker.init_table(assign.name, is_snapshot=False, user_id=user_id)
        state, _, head_pair = pinned_state(tracker, assign.name)
        if head_pair is None and not getattr(
            state, "partition_versions", None
        ):
            # first use: bootstrap an empty index (sidecar + marker)
            CX.build_dedup_clusters(
                None, assign, tracker, user_id=user_id,
                doc_shards=action.doc_shards or 32,
                cluster_shards=action.cluster_shards or 32,
            )
            self.console.println(
                f"Bootstrapped empty cluster index "
                f"'{action.clusters_table.fully_qualified}'"
            )
        folded = CX.fold_new_dedup_pairs(
            spark, pairs_table, assign, tracker, user_id=user_id,
            message=action.message,
            coalesce_batches=action.coalesce_batches,
        )
        for label in folded:
            self.console.println(f"Folded pairs batch '{label}'")
        self.console.println(
            f"Folded {len(folded)} new pairs batch"
            f"{'' if len(folded) == 1 else 'es'} into "
            f"'{action.clusters_table.fully_qualified}'"
        )


def run(argv: Sequence[str], client: CliClient, console: Console, user_id: str) -> int:
    """Parse + execute; console-reported errors → exit code 1."""
    try:
        _, action = parse_action(argv)
        client.execute(action, user_id)
        return 0
    except CliError as e:
        console.errorln(str(e))
        return 1
    except KeyError as e:  # UnknownTableError / UnknownCommitError / UnknownTagError
        console.errorln(str(e.args[0]) if e.args else str(e))
        return 1
    except ValueError as e:  # e.g. re-tagging without --force, bad tag name
        console.errorln(str(e))
        return 1
    except (CommitConflictError, MergeConflictError) as e:
        # expected WAP/restore failure paths: a conflicting merge or a
        # racing commit is a user-visible outcome, not a crash
        console.errorln(str(e))
        return 1
    except TornPairError as e:
        # a torn derived-state pair refusing an extend is a user-visible
        # outcome whose message names the repair tool
        console.errorln(str(e))
        return 1
    except FileNotFoundError as e:  # restore target vacuumed
        console.errorln(str(e))
        return 1


def main(argv: Optional[Sequence[str]] = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    console = Console()
    # peel --config before action parsing so `chronicles --config x tables` works
    config_path = None
    if "--config" in argv:
        i = argv.index("--config")
        if i + 1 >= len(argv):
            console.errorln("--config requires a path")
            return 1
        config_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    try:
        config = load_config(config_path)
        tracker = tracker_from_config(config)
    except CliError as e:
        console.errorln(str(e))
        return 1
    client = CliClient(VersionedMetastore(tracker, StubMetastore()), console)
    return run(argv, client, console, getpass.getuser())


if __name__ == "__main__":
    sys.exit(main())
