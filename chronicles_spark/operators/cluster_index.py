"""Incremental duplicate-CLUSTER maintenance: the connected-components
state materialized on the versioned lake, so folding a new batch of
verified duplicate pairs into the corpus-wide drop-decision is
O(batch + relabeled members), not O(all-pairs-to-date).

:func:`~chronicles_spark.operators.dedup.dedup_clusters` computes
connected components over EVERY pair per run — correct, but a curation
pipeline that extends a dedup index daily (the pairs journal,
:func:`~chronicles_spark.operators.dedup_index.dedup_pairs_table`)
would re-cluster all history each cycle just to refresh the survivor
list.  This module applies the repo's paired-companion-table pattern
(the ANN index + id map; the dedup band + doc stores) to the cluster
assignment itself:

* the **assignment table** (the caller's primary table) persists
  ``(doc_id, cluster_id)`` partitioned by ``doc_shard =
  pmod(xxhash64(doc_id), doc_shards)`` with files SORTED by id — the
  O(batch) "which cluster is this doc in?" lookup surface (shard-pruned
  + IN-list row-group pruned, the id-map convention);
* the **members table** (``<name>_members``) persists the SAME rows
  partitioned by ``cluster_shard = pmod(xxhash64(cluster_id),
  cluster_shards)`` with files sorted by cluster_id — the O(touched
  clusters) "who is in this cluster?" surface a cross-batch merge needs
  to relabel exactly the rows whose label changes.

:func:`extend_dedup_clusters` folds ONE pairs batch: look up the batch
endpoints' current clusters (reads only the endpoints' assign shards),
run min-label connected components over the SMALL graph of {new pairs}
∪ {endpoint → its current cluster representative} (bounded by the
batch and the clusters it touches — never the corpus), then relabel
the members of exactly the clusters whose representative changed (reads
only those clusters' member shards).  Both tables rewrite only their
touched shards in ONE optimistic pair commit.

Label semantics are the one-shot's: ``cluster_id`` is the MINIMUM
member id, so after any fold sequence the assignment table equals
``dedup_clusters`` over the union of all folded pairs exactly (the
differential contract; min-label components are confluent, so fold
order never matters).  The rows rewritten by a merge are precisely the
rows whose VALUE changes — a union-by-size representative-pointer
scheme would bound rewrites further but break the min-member label
contract the one-shot (and its DuckDB oracle) defines.  When a merge
relabels a giant cluster (a new smallest id arrives), that rewrite is
semantic, not amplification.

Exactly-once over the pairs journal: pass ``batch_label`` (the journal
partition's ``batch=<label>`` value) and the fold stamps
``[folds:<label>]`` into its commit message; a re-submitted label is
skipped (crash replay), and :func:`fold_new_dedup_pairs` drives the
catch-up loop — one fold commit per unfolded journal partition in
label order, or one per ``coalesce_batches`` of them (confluence makes
folding a union of batches equivalent — the backlog knob).  The fold is a SEPARATE maintainer from the index extend
(documented protocol): the journal partition is the exactly-once
hand-off, landed by the extend's own pair commit, consumed here by
watermark.

Doc-id TYPE must stay stable across folds (shard routing hashes the
typed value — the id-map convention shared by every index family).

No reference counterpart: stettix/chronicles versions tables
(core/.../VersionTracker.scala); this composes the repo's commit
protocol with its LLM-pipeline operators.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..core.model import (
    Partition,
    PartitionedTableVersion,
    PartitionSchema,
    TableDefinition,
    TableName,
)
from ..core.version import Version, generate_version
from ..trackers.base import UnknownTableError, VersionTracker
from . import dedup as DD
from .dedup_index import (
    _FETCH_PUSHDOWN_MAX_IDS,
    _artifact_path,
    _check_extend_args,
    _doc_shard_col,
    _IndexArtifacts,
    _load_artifacts,
    _positive,
    _rebuild_geometry,
    _require_dynamic_overwrite,
    _restrict_to_values,
    _run_maybe_exclusive,
    _sync_metastore,
    _write_artifact_sidecar,
    DedupGeometryDriftWarning,
    DOC_SHARD_COL,
    PAIRS_BATCH_COL,
)

from .pairing import check_pair, pinned_state, publish_group

CLUSTER_SHARD_COL = "cluster_shard"

# assignment rows are ~two ids (~20-40 bytes) — 10M rows ≈ the "few
# hundred MB per shard" sizing target the other families document
DRIFT_MAX_ASSIGN_SHARD_ROWS = 10_000_000

# a single fold relabeling this many MEMBER rows is semantically correct
# (the min-member label contract: a merge that hands a giant cluster a
# new smaller representative rewrites every member) but operationally
# noteworthy — the fold warns so the rewrite is never mistaken for a bug
RELABEL_WARN_ROWS = 10_000_000


class ClusterRelabelWarning(UserWarning):
    """One fold relabeled more member rows than ``relabel_warn_rows`` —
    a giant-cluster merge under the min-member label contract (the
    rewrite is the contract's cost, not amplification; see the module
    docstring and :func:`rebuild_dedup_clusters` for re-sharding if the
    shards themselves have outgrown their sizing target)."""

_FOLDS_RE = re.compile(r"\[folds:([^\]]+)\]")

_CLUSTER_REPAIR_ADVICE = (
    "rebuild with build_dedup_clusters over the full pair history (or "
    "checkout both tables to a matching pair) before folding"
)


def cluster_members_table(table: TableDefinition) -> TableDefinition:
    """The companion cluster-keyed view of the assignment rows:
    ``<name>_members`` at ``<location>_members``, partitioned by
    ``cluster_shard`` with files sorted by cluster_id — so a merge that
    relabels cluster C reads at most C's one shard (IN-list row-group
    pruned), never the assignment table.  Same rows as the primary,
    different routing — the ANN id-map move applied to clusters.  The
    ``_members`` suffix sorts after the primary's name, so the group
    commit lands primary-first (torn-pair refusal covers the gap)."""
    return TableDefinition(
        TableName(table.name.schema, table.name.name + "_members"),
        table.location.rstrip("/") + "_members",
        PartitionSchema((CLUSTER_SHARD_COL,)),
        format=table.format,
        format_options=table.format_options,
    )


def _cluster_shard_col(cluster_col: str, cluster_shards: int):
    return F.pmod(
        F.xxhash64(F.col(cluster_col)), F.lit(cluster_shards)
    ).cast("string")


# the family name the cluster index's sidecar writes and loads report
_CLUSTER_WHAT = "dedup cluster"


@dataclass(frozen=True)
class ClusterArtifacts(_IndexArtifacts):
    """Geometry sidecar (the shared dedup-artifacts contract: named by
    data version label, every live label must agree; swept by
    :func:`~chronicles_spark.operators.dedup_index.
    vacuum_dedup_artifacts` — same ``_dedup_artifacts_`` prefix)."""

    doc_shards: int
    cluster_shards: int
    version_label: str


def load_cluster_artifacts(
    table: TableDefinition, table_version, head_pair_label: "str | None" = None
) -> ClusterArtifacts:
    """Geometry pinned by the assignment table's resolved state.  Unlike
    the band-table families an EMPTY cluster index is legitimate (built
    before any pairs exist), so the head's pair label also anchors a
    sidecar lookup when no partitions are live yet."""
    return _load_artifacts(
        table, table_version, ClusterArtifacts.from_json,
        f"{_CLUSTER_WHAT} geometries",
        extra_labels=(head_pair_label,) if head_pair_label else (),
    )


def _require_cluster_partitioning(table: TableDefinition) -> None:
    if tuple(table.partition_schema.columns) != (DOC_SHARD_COL,):
        raise ValueError(
            "dedup cluster assignment table must be partitioned by "
            f"({DOC_SHARD_COL!r},), got {table.partition_schema.columns}"
        )


_FOLDS_CURSOR_FILE = "_chronicles_folds_cursor.json"


def _folds_cursor_path(table: TableDefinition):
    from ..trackers.fs import filesystem_for

    fs, root = filesystem_for(table.location)
    return fs, root, fs.join(root, _FOLDS_CURSOR_FILE)


def _folded_labels_fast(tracker, table: TableDefinition) -> "set | None":
    """Position-cursor watermark read: the labels in all commits at
    sequence <= the cursor's ``through_seq`` are a pure function of log
    ORDER (rollbacks never remove commit files), so the cursor stays
    valid forever and each call parses only the commits SINCE it —
    O(new commits), not O(history).  Preconditions: the tracker exposes
    the seq-slice surface (files + sqlite) and the head sits at the top
    of the log (the streaming-maintainer steady state; a rollback or an
    in-flight racing commit degrades to the full prefix walk, which is
    always correct).  A CAS gap-fill below the cursor can only make the
    cursor UNDER-report — a re-fold of an already-folded batch is a
    harmless no-op, the safe direction.  The cursor file is a pure
    cache (last-writer-wins, derived from the log); missing/corrupt
    degrades to a full scan that rewrites it."""
    update_seqs = getattr(tracker, "update_seqs", None)
    in_range = getattr(tracker, "updates_in_seq_range", None)
    head_id = getattr(tracker, "head_commit_id", None)
    if update_seqs is None or in_range is None or head_id is None:
        return None
    seqs = update_seqs(table.name)
    if not seqs:
        return None
    top = seqs[-1]
    newest = in_range(table.name, top - 1, top)
    if not newest or newest[-1].metadata.commit_id != head_id(table.name):
        return None  # head not at the top of the log: full-walk semantics
    fs, root, cpath = _folds_cursor_path(table)
    labels: set = set()
    base_seq = -1
    try:
        doc = json.loads(fs.read_text(cpath))
        cseq = int(doc["through_seq"])
        if cseq <= top:
            labels = set(doc["labels"])
            base_seq = cseq
    except (FileNotFoundError, ValueError, KeyError, TypeError):
        pass
    for u in in_range(table.name, base_seq, top):
        labels.update(_FOLDS_RE.findall(u.metadata.message or ""))
    if base_seq != top:
        try:
            fs.mkdirs(root)
            fs.write_text(
                cpath,
                json.dumps({"through_seq": top, "labels": sorted(labels)}),
            )
        except OSError:
            pass  # cache write is best-effort; the log stays the truth
    return labels


def folded_batch_labels(
    tracker: VersionTracker, table: "TableDefinition | TableName"
) -> set:
    """The pairs-journal batch labels already folded into the assignment
    table, parsed from the ``[folds:<label>]`` stamps in the folded
    commit prefix — the fold's exactly-once watermark (the label lands
    in the SAME commit as the fold's data, so a crash can never record
    a fold that didn't land or land a fold it didn't record).

    Pass the TableDefinition (both maintainer call sites do) and the
    read is O(new commits) via a position-cursor sidecar
    (``_chronicles_folds_cursor.json`` at the table location — see
    :func:`_folded_labels_fast`); a bare TableName (or a tracker
    without the seq-slice surface) takes the full prefix walk."""
    from ..core import fold

    if isinstance(table, TableDefinition):
        fast = _folded_labels_fast(tracker, table)
        if fast is not None:
            return fast
        table_name = table.name
    else:
        table_name = table
    st = tracker.table_state(table_name)
    prefix = fold.take_through(st.updates, st.current_version)
    out = set()
    for u in prefix:
        out.update(_FOLDS_RE.findall(u.metadata.message or ""))
    return out


def build_dedup_clusters(
    pairs: "DataFrame | None",
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "build dedup clusters",
    doc_shards: int = 32,
    cluster_shards: int = 32,
    id_col: str = "doc_id",
    metastore=None,
):
    """One-shot bootstrap: run the connected-components resolution over
    the base corpus' verified pairs (``pairs`` — e.g. a full
    :func:`~chronicles_spark.operators.dedup.minhash_dedup` run) and
    publish the assignment + members tables in one pair commit.
    ``pairs=None`` publishes an EMPTY index (sidecar + marker pair
    commit only) — the from-scratch streaming shape where every pair
    arrives through the journal.  Returns ``(assignment_table_state,
    ClusterArtifacts)``.  ``table`` must be partitioned by exactly
    ``(doc_shard,)`` and already ``init_table``-ed; the members
    companion is initialized here."""
    _require_cluster_partitioning(table)
    geo = _positive(doc_shards=doc_shards, cluster_shards=cluster_shards)
    members_table = cluster_members_table(table)
    tracker.init_table(members_table.name, is_snapshot=False, user_id=user_id)
    version = generate_version()
    artifacts = ClusterArtifacts(version_label=version.label, **geo)
    _write_artifact_sidecar(table, artifacts, _CLUSTER_WHAT)
    if pairs is None:
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        _require_dynamic_overwrite(spark)
        writes = [(table, None, (), ()), (members_table, None, (), ())]
        publish_group(spark, tracker, version, user_id, message, writes)
    else:
        spark = pairs.sparkSession
        _require_dynamic_overwrite(spark)
        assigned = DD.dedup_clusters(pairs, id_col).select(
            F.col(id_col), F.col("cluster_id")
        )
        writes = [
            (
                table,
                assigned.withColumn(
                    DOC_SHARD_COL, _doc_shard_col(id_col, doc_shards)
                )
                .repartition(F.col(DOC_SHARD_COL))
                .sortWithinPartitions(DOC_SHARD_COL, id_col),
                None,
                (),
            ),
            (
                members_table,
                assigned.withColumn(
                    CLUSTER_SHARD_COL,
                    _cluster_shard_col("cluster_id", cluster_shards),
                )
                .repartition(F.col(CLUSTER_SHARD_COL))
                .sortWithinPartitions(CLUSTER_SHARD_COL, "cluster_id"),
                None,
                (),
            ),
        ]
        publish_group(spark, tracker, version, user_id, message, writes)
    state = tracker.current_version(table.name)
    _sync_metastore(metastore, table, state)
    return state, artifacts


def rebuild_dedup_clusters(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "rebuild dedup clusters",
    doc_shards: "int | None" = None,
    cluster_shards: "int | None" = None,
    id_col: str = "doc_id",
    metastore=None,
):
    """Re-shard the assignment + members tables in place under NEW shard
    counts — the family's re-geometry escape hatch (the other index
    families' sizing rule applies: roughly double the shard counts when
    the corpus doubles; folds WARN via
    :class:`~chronicles_spark.operators.dedup_index.
    DedupGeometryDriftWarning` when a touched shard outgrows the
    target).  Cost: ONE pass over the assignment table (both layouts
    re-derive from the same rows).  Publishes both rewrites — removing
    every prior partition not overwritten — as one STRICT pair commit
    pinned on both lines, so a racing fold conflicts loudly.  The
    ``[folds:...]`` watermark history is untouched (it lives in the
    commit log, not the data).  Returns ``(assignment_table_state,
    ClusterArtifacts)``."""
    from ..spark.reader import read_version
    from ..spark.writer import partitions_written, write_versioned

    _require_cluster_partitioning(table)
    _require_dynamic_overwrite(spark)
    members_table = cluster_members_table(table)
    state, base_head, head_pair = pinned_state(tracker, table.name)
    mstate, m_head, m_pair = pinned_state(tracker, members_table.name)
    check_pair(table, head_pair, m_pair, _CLUSTER_REPAIR_ADVICE)
    old = load_cluster_artifacts(table, state, head_pair)
    new_geo = _rebuild_geometry(
        old, doc_shards=doc_shards, cluster_shards=cluster_shards
    )
    version = generate_version()
    artifacts = ClusterArtifacts(version_label=version.label, **new_geo)
    _write_artifact_sidecar(table, artifacts, _CLUSTER_WHAT)

    assign_parts: list = []
    member_parts: list = []
    if state.partition_versions:
        rows = read_version(
            spark, table, state, infer_partition_types=False
        ).select(F.col(id_col), "cluster_id")
        write_versioned(
            rows.withColumn(
                DOC_SHARD_COL, _doc_shard_col(id_col, artifacts.doc_shards)
            )
            .repartition(F.col(DOC_SHARD_COL))
            .sortWithinPartitions(DOC_SHARD_COL, id_col),
            table, version,
        )
        assign_parts = partitions_written(table, version, spark=spark)
        write_versioned(
            rows.withColumn(
                CLUSTER_SHARD_COL,
                _cluster_shard_col("cluster_id", artifacts.cluster_shards),
            )
            .repartition(F.col(CLUSTER_SHARD_COL))
            .sortWithinPartitions(CLUSTER_SHARD_COL, "cluster_id"),
            members_table, version,
        )
        member_parts = partitions_written(members_table, version, spark=spark)

    rm_assign = [
        p for p in state.partition_versions if p not in set(assign_parts)
    ]
    rm_members = [
        p for p in mstate.partition_versions if p not in set(member_parts)
    ]
    publish_group(
        spark, tracker, version, user_id, message,
        [
            (table, None, assign_parts, rm_assign),
            (members_table, None, member_parts, rm_members),
        ],
        expected_heads={table.name: base_head, members_table.name: m_head},
        allow_disjoint=False,
    )
    new_state = tracker.current_version(table.name)
    _sync_metastore(metastore, table, new_state)
    return new_state, artifacts


def extend_dedup_clusters(
    pairs_new: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "fold dedup pairs",
    batch_label: "str | list | tuple | None" = None,
    concurrency: str = "optimistic",
    artifacts: "ClusterArtifacts | None" = None,
    id_col: str = "doc_id",
    metastore=None,
    exclusive: bool = False,
    drift_shard_rows: "int | None" = DRIFT_MAX_ASSIGN_SHARD_ROWS,
    relabel_warn_rows: "int | None" = RELABEL_WARN_ROWS,
):
    """Fold ONE batch of verified duplicate pairs into the assignment —
    in O(batch + members of relabeled clusters), independent of how many
    pairs were ever folded.  Returns ``(changed_assignments,
    assignment_table_state, artifacts)`` where ``changed_assignments``
    is ``(doc_id, cluster_id)`` for every row whose label this fold set
    (new docs + relabeled members; pre-materialized, so the returned
    relation never depends on superseded shard versions).
    ``batch_label`` takes one journal label or a SEQUENCE (a coalesced
    fold of several batches' union — see
    :func:`fold_new_dedup_pairs`'s ``coalesce_batches``); when every
    named label is already folded the fold is SKIPPED (crash-replay
    idempotence, ``changed_assignments`` None), and a partial overlap
    re-folds harmlessly (already-reflected edges are no-ops).

    Cost shape, per stage (P = batch pairs, E = endpoints ≤ 2P):
    endpoint lookup reads ONLY E's ≤ min(E, doc_shards) assign shards
    (IN-list row-group pruned over the sorted files); the
    connected-components run is over the {pairs ∪ endpoint→current-rep}
    graph — bounded by the batch and its touched clusters, never the
    corpus; the relabel reads ONLY the changed clusters' member shards;
    the publish is a read-modify-write of exactly the touched shards of
    both tables, one optimistic pair commit.  Nothing is O(corpus) or
    O(pair history).

    Concurrency mirrors the index families: ``expected_heads`` pins
    both lines, racing folds with overlapping shards conflict loudly,
    ``exclusive=True`` holds the primary's flock across the whole RMW
    (run ONE fold maintainer per assignment table — the journal
    watermark assumes a single consumer)."""
    _require_cluster_partitioning(table)
    _check_extend_args(concurrency)
    labels = _norm_labels(batch_label)
    if labels and set(labels) <= folded_batch_labels(tracker, table):
        state = tracker.current_version(table.name)
        arts = artifacts
        if arts is None:
            _, _, head_pair = pinned_state(tracker, table.name)
            arts = load_cluster_artifacts(table, state, head_pair)
        return None, state, arts

    def _run():
        return _fold_batch(
            pairs_new, table, tracker, user_id, message, labels,
            concurrency, artifacts, id_col, metastore, drift_shard_rows,
            relabel_warn_rows,
        )

    return _run_maybe_exclusive(tracker, table, exclusive, _run)


def _collect_shards_and_ids(df, id_expr, shard_expr):
    """ONE capped collect yielding (shard values, IN-list ids or None) —
    the shared pushdown move: small sets get a row-group-pruning id
    IN-list over the sorted shard files; above the cap only the DISTINCT
    shard values are collected (bounded by the shard count) and
    structural pruning alone bounds the read."""
    sample = (
        df.select(id_expr.alias("_id"), shard_expr.alias("_s"))
        .distinct()
        .limit(_FETCH_PUSHDOWN_MAX_IDS + 1)
        .collect()
    )
    if len(sample) <= _FETCH_PUSHDOWN_MAX_IDS:
        return sorted({r["_s"] for r in sample}), [r["_id"] for r in sample]
    shards = sorted(
        r["_s"] for r in df.select(shard_expr.alias("_s")).distinct().collect()
    )
    return shards, None


# a fold whose batch has at most this many pairs runs on the driver: its
# whole graph is {batch pairs} ∪ {endpoint → current representative},
# ≤ 3·n_pairs edges by construction (never the corpus), so the pairs and
# the endpoints' labels arrive in one bounded collect each — the same
# bounded-collect class as the IN-list pushdown sample — and the
# min-label connected components, the relabel map and the endpoint rows
# of the changed set are derived there (:func:`_driver_fold_plan`).
# Batches over the cap keep the scale-safe distributed path.
_LOCAL_CC_PAIR_CAP = 100_000

# id types whose Python ordering provably equals Spark's min() ordering
# (ints trivially; a UTF8_BINARY string because UTF-8 byte order ==
# codepoint order) — anything else, a collated string included, falls
# back to the distributed run
_LOCAL_CC_ID_TYPES = ("byte", "short", "integer", "long")


def _local_id_type(type_a, type_b) -> bool:
    """Both endpoint columns share one type whose Python order is Spark's
    min() order (exactly UTF8_BINARY for strings: a collated StringType
    also names itself 'string', but its min() order is not Python's
    codepoint order)."""
    return type_a == type_b and (
        type_a.typeName() in _LOCAL_CC_ID_TYPES or type_a == T.StringType()
    )


def _min_labels(edges) -> "dict | None":
    """Union-find over ``(a, b)`` edge tuples: every node → the MINIMUM
    member of its component (the label contract of
    :func:`~chronicles_spark.operators.dedup.dedup_clusters`).  None when
    an endpoint is NULL — upstream validation makes that unreachable, and
    the caller degrades to the distributed run rather than guess a
    NULL-ordering here."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a is None or b is None:
            return None
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    min_of: dict = {}
    for v in parent:
        root = find(v)
        m = min_of.get(root)
        if m is None or v < m:
            min_of[root] = v
    return {v: min_of[find(v)] for v in parent}


def _local_components(spark, edges, id_col: str, n_pairs: int):
    """Driver-side min-label connected components over a bounded edge
    frame: ``(id, cluster_id)`` with cluster_id = MIN member id of the
    component — the same label contract as
    :func:`~chronicles_spark.operators.dedup.dedup_clusters` over the
    same edges, computed in ONE driver action.  It is the driver fold's
    gate (``_local_id_type``) and union-find (``_min_labels``) over a
    frame, the unit the differential tests pin against
    ``dedup_clusters``; folds reach both through
    :func:`_driver_fold_plan`.  Returns ``None`` when the batch is over
    the cap or the id type's ordering is not provably identical across
    engines."""
    if n_pairs > _LOCAL_CC_PAIR_CAP:
        return None
    f_a, f_b = edges.schema.fields[0], edges.schema.fields[1]
    if not _local_id_type(f_a.dataType, f_b.dataType):
        return None
    labels = _min_labels((r[0], r[1]) for r in edges.collect())
    if labels is None:
        return None
    return spark.createDataFrame(
        list(labels.items()), _pair_schema(id_col, "cluster_id", f_a.dataType)
    )


def _pair_schema(first: str, second: str, id_type):
    return T.StructType(
        [T.StructField(first, id_type), T.StructField(second, id_type)]
    )


def _norm_labels(batch_label) -> tuple:
    """``batch_label`` accepts one label or a sequence (a COALESCED
    fold of several journal batches — min-label components are
    confluent, so folding the union in one commit equals folding each
    batch in turn, and the commit stamps every covered label)."""
    if batch_label is None:
        return ()
    if isinstance(batch_label, str):
        return (batch_label,)
    return tuple(batch_label)


class _FoldPlan(NamedTuple):
    """What a fold writes, however it was derived: ``changed`` holds the
    ``(id, cluster_id)`` rows whose label this fold sets (an empty frame,
    and no ``a_shards``, when nothing changes), ``a_shards`` and
    ``c_shards`` their assign and cluster shards, ``r_shards`` the
    member shards of the relabeled clusters and ``n_relabel`` how many
    changed rows are relabeled members rather than batch endpoints."""

    changed: DataFrame
    a_shards: list
    c_shards: list
    r_shards: list
    n_relabel: int


def _check_no_null_endpoints(nn: int) -> None:
    if nn:
        raise ValueError(
            f"pairs batch contains {nn} NULL endpoint(s) — "
            "every pair needs two concrete ids"
        )


def _changed_stats(changed, endpoints, arts, id_col):
    """Barrier the changed frame and take, in ONE job over it, the
    relabel count (rows that are not batch endpoints) and both touched
    shard sets — the plan of a fold whose changed set holds relabeled
    members, which the batch does not bound."""
    # the barrier feeds three consumers (this stats job and both RMW
    # writes) with a frame the batch does not bound. eager=False: the
    # stats collect below is the first action and lands the final stage;
    # the map stages still run at this call under AQE (lineage_barrier
    # docstring)
    changed = DD.lineage_barrier(changed, eager=False)
    stats = (
        changed.join(
            endpoints.withColumn("_ep", F.lit(1)), id_col, "left"
        )
        .agg(
            F.count(F.when(F.col("_ep").isNull(), 1)).alias("n_relabel"),
            F.collect_set(
                _doc_shard_col(id_col, arts.doc_shards)
            ).alias("a_shards"),
            F.collect_set(
                _cluster_shard_col("cluster_id", arts.cluster_shards)
            ).alias("c_shards"),
        )
        .collect()[0]
    )
    return (
        changed, sorted(stats["a_shards"]), sorted(stats["c_shards"]),
        stats["n_relabel"],
    )


def _driver_fold_plan(
    spark, pairs_new, table, members_table, state, mstate, arts, id_col
) -> "_FoldPlan | None":
    """The fold of a batch-bounded graph, derived on the driver: one
    capped collect of the batch's pairs (with every endpoint's assign
    and cluster shard) and one collect of the endpoints' current labels
    feed the union-find, the relabel map, the endpoint rows of the
    changed set and, when no existing cluster is relabeled, the whole
    changed set and its shard sets.  Only a relabel's members (not
    bounded by the batch) are read and joined in Spark.  Its rows equal
    the distributed plan's (the differential test pins both against the
    one-shot ``dedup_clusters``).  None — the caller takes the
    distributed path — when the batch has more than
    ``_LOCAL_CC_PAIR_CAP`` rows that are not self-pairs, the id type is
    outside the ``_local_id_type`` gate, the assignment table stores
    another id type than the batch, or a stored label is NULL."""
    from ..spark.reader import read_version

    pairs = pairs_new.select(F.col("id_a"), F.col("id_b"))
    f_a, f_b = pairs.schema.fields
    if not _local_id_type(f_a.dataType, f_b.dataType):
        return None
    id_type = f_a.dataType
    schema = _pair_schema(id_col, "cluster_id", id_type)
    ep_schema = T.StructType([T.StructField(id_col, id_type)])
    # self-pairs carry no edge; null-safe so a NULL endpoint survives
    # into the loud check instead of being dropped by three-valued logic.
    # The batch's rows as they are: the take stops at the cap, so a batch
    # over it costs a scan of cap + 1 rows, not a distinct over the whole
    # batch; the distinct is taken here (Python equality is Spark's for
    # the gated types)
    raw = (
        pairs.where(~F.col("id_a").eqNullSafe(F.col("id_b")))
        .select(
            "id_a", "id_b",
            _doc_shard_col("id_a", arts.doc_shards),
            _doc_shard_col("id_b", arts.doc_shards),
            _cluster_shard_col("id_a", arts.cluster_shards),
            _cluster_shard_col("id_b", arts.cluster_shards),
        )
        .limit(_LOCAL_CC_PAIR_CAP + 1)
        .collect()
    )
    if len(raw) > _LOCAL_CC_PAIR_CAP:
        return None
    rows = list({(r[0], r[1]): r for r in raw}.values())
    _check_no_null_endpoints(
        sum(1 for r in rows if r[0] is None or r[1] is None)
    )
    # endpoint → its assign shard; every node of the graph (endpoints
    # and the touched clusters' labels) → its cluster shard
    e_shard: dict = {}
    c_shard: dict = {}
    for a, b, da, db, ca, cb in rows:
        e_shard[a], e_shard[b] = da, db
        c_shard[a], c_shard[b] = ca, cb

    # -- endpoint lookup: ONLY the endpoints' assign shards, one collect --
    known: dict = {}
    esub = _restrict_to_values(state, DOC_SHARD_COL, set(e_shard.values()))
    if esub.partition_versions:
        live = read_version(
            spark, table, esub, infer_partition_types=False
        ).select(F.col(id_col), F.col("cluster_id"))
        if [f.dataType for f in live.schema.fields] != [id_type, id_type]:
            return None
        if len(e_shard) <= _FETCH_PUSHDOWN_MAX_IDS:
            live = live.where(DD.in_list(id_col, list(e_shard)))
        else:
            live = live.join(
                DD.local_relation(spark, [(e,) for e in e_shard], ep_schema),
                id_col, "left_semi",
            )
        for r in live.select(
            id_col, "cluster_id",
            _cluster_shard_col("cluster_id", arts.cluster_shards),
        ).collect():
            known[r[0]] = r[1]
            c_shard[r[1]] = r[2]

    # -- min-label components over {new pairs} ∪ {endpoint → current rep}
    labels = _min_labels(
        [(r[0], r[1]) for r in rows] + list(known.items())
    )
    if labels is None:
        return None
    # touched clusters whose representative changed
    relabel = {
        old: labels[old] for old in set(known.values()) if labels[old] != old
    }
    # endpoint rows minus no-ops (an endpoint already holding its label)
    ep_changed = [
        (e, labels[e]) for e in e_shard if known.get(e) != labels[e]
    ]
    changed = DD.local_relation(spark, ep_changed, schema)
    if not relabel:
        return _FoldPlan(
            changed,
            sorted({e_shard[e] for e, _ in ep_changed}),
            sorted({c_shard[c] for _, c in ep_changed}),
            [],
            0,
        )

    # -- relabeled members: the one part the batch does not bound -------
    r_shards = sorted({c_shard[old] for old in relabel})
    rsub = _restrict_to_values(mstate, CLUSTER_SHARD_COL, r_shards)
    if rsub.partition_versions:
        mem = read_version(
            spark, members_table, rsub, infer_partition_types=False
        ).select(F.col(id_col), F.col("cluster_id"))
        if len(relabel) <= _FETCH_PUSHDOWN_MAX_IDS:
            mem = mem.where(DD.in_list("cluster_id", list(relabel)))
        moved = (
            mem.withColumnRenamed("cluster_id", "old_cluster")
            .join(
                DD.local_relation(
                    spark, list(relabel.items()),
                    _pair_schema("old_cluster", "new_cluster", id_type),
                ),
                "old_cluster",
            )
            .select(F.col(id_col), F.col("new_cluster").alias("cluster_id"))
        )
        # an endpoint of a relabeled cluster is in both; the values agree
        # by construction and min() collapses the duplicate
        changed = (
            changed.unionByName(moved)
            .groupBy(id_col)
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
    endpoints = DD.local_relation(spark, [(e,) for e in e_shard], ep_schema)
    changed, a_shards, c_shards, n_relabel = _changed_stats(
        changed, endpoints, arts, id_col
    )
    return _FoldPlan(changed, a_shards, c_shards, r_shards, n_relabel)


def _distributed_fold_plan(
    spark, pairs_new, table, members_table, state, mstate, arts, id_col
) -> _FoldPlan:
    """The fold over Spark frames end to end — batches over
    ``_LOCAL_CC_PAIR_CAP`` and id types outside the driver gate."""
    from ..spark.reader import read_version

    # bounded: one batch's distinct pairs (self-pairs carry no edge;
    # null-safe so a NULL endpoint survives into the loud check below
    # instead of being silently dropped by three-valued logic)
    # eager=False: the counts agg right below is the barrier's first
    # action and lands the final stage; the distinct's map stage still
    # runs at this call under AQE (lineage_barrier docstring)
    pairs = DD.lineage_barrier(
        pairs_new.select(F.col("id_a"), F.col("id_b"))
        .where(~F.col("id_a").eqNullSafe(F.col("id_b")))
        .distinct(),
        eager=False,
    )
    counts = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(
            F.when(F.col("id_a").isNull() | F.col("id_b").isNull(), 1)
        ).alias("nn"),
    ).collect()[0]
    _check_no_null_endpoints(counts["nn"])

    empty_changed = pairs.select(
        F.col("id_a").alias(id_col), F.col("id_a").alias("cluster_id")
    ).limit(0)
    if not counts["n"]:
        # an empty journal batch still lands its watermark marker (the
        # exactly-once accounting must record the label as folded)
        return _FoldPlan(
            empty_changed.localCheckpoint(eager=True), [], [], [], 0
        )

    # -- endpoint lookup: ONLY the endpoints' assign shards -------------
    endpoints = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    e_shards, e_ids = _collect_shards_and_ids(
        endpoints, F.col(id_col), _doc_shard_col(id_col, arts.doc_shards)
    )
    esub = _restrict_to_values(state, DOC_SHARD_COL, e_shards)
    known = empty_changed  # (id_col, cluster_id) schema, zero rows
    if esub.partition_versions:
        live = read_version(
            spark, table, esub, infer_partition_types=False
        ).select(F.col(id_col), F.col("cluster_id"))
        if e_ids is not None:
            # superset of the semi-join keys — pure row-group pruning
            live = live.where(DD.in_list(id_col, e_ids))
        known = live.join(endpoints, id_col, "left_semi")
    # eager=False: the next action — the local-CC edges collect, or the
    # fallback's eager edges checkpoint — lands the final stage; the
    # semi-join's map stages run at this call under AQE (lineage_barrier
    # docstring)
    known = DD.lineage_barrier(known, eager=False)

    # -- components over {new pairs} ∪ {endpoint → current rep} ---------
    # every node is a batch endpoint or a touched cluster's min-member
    # representative, so the graph (and the CC run) is O(batch)
    edges = pairs.unionByName(
        known.select(
            F.col(id_col).alias("id_a"), F.col("cluster_id").alias("id_b")
        )
    )
    local = DD.dedup_clusters(edges, id_col).select(
        F.col(id_col), "cluster_id"
    )

    # -- relabel map: touched clusters whose representative changed -----
    touched = known.select(F.col("cluster_id").alias("old_cluster")).distinct()
    # eager=False: _collect_shards_and_ids' capped collect is the first
    # action and lands the final stage; the join's map stages run at this
    # call under AQE (lineage_barrier docstring)
    relabel = DD.lineage_barrier(
        touched.join(local, touched.old_cluster == local[id_col])
        .where(F.col("old_cluster") != F.col("cluster_id"))
        .select("old_cluster", F.col("cluster_id").alias("new_cluster")),
        eager=False,
    )
    r_shards, r_ids = _collect_shards_and_ids(
        relabel,
        F.col("old_cluster"),
        _cluster_shard_col("old_cluster", arts.cluster_shards),
    )
    moved = empty_changed
    rsub = _restrict_to_values(mstate, CLUSTER_SHARD_COL, r_shards)
    if rsub.partition_versions:
        mem = read_version(
            spark, members_table, rsub, infer_partition_types=False
        ).select(F.col(id_col), F.col("cluster_id"))
        if r_ids is not None:
            mem = mem.where(DD.in_list("cluster_id", r_ids))
        moved = (
            mem.withColumnRenamed("cluster_id", "old_cluster")
            .join(relabel, "old_cluster")
            .select(F.col(id_col), F.col("new_cluster").alias("cluster_id"))
        )

    # -- changed rows: exactly the rows whose label this fold sets ------
    # (endpoints keep the local run's label; relabeled members map
    # through the relabel table — where both apply the values agree by
    # construction, min() just collapses the duplicate); no-op rows
    # (an endpoint already holding its final label) are dropped, so the
    # RMW touches only shards something actually changed in
    changed = (
        local.join(endpoints, id_col, "left_semi")
        .unionByName(moved)
        .groupBy(id_col)
        .agg(F.min("cluster_id").alias("cluster_id"))
        .join(
            known.withColumnRenamed("cluster_id", "_old_label"),
            id_col,
            "left",
        )
        .where(
            F.col("_old_label").isNull()
            | (F.col("_old_label") != F.col("cluster_id"))
        )
        .select(id_col, "cluster_id")
    )
    changed, a_shards, c_shards, n_relabel = _changed_stats(
        changed, endpoints, arts, id_col
    )
    if not a_shards:
        # no changed rows (every changed row carries a doc shard)
        changed = empty_changed.localCheckpoint(eager=True)
    return _FoldPlan(changed, a_shards, c_shards, r_shards, n_relabel)


def _fold_batch(
    pairs_new, table, tracker, user_id, message, labels,
    concurrency, artifacts, id_col, metastore,
    drift_shard_rows: "int | None" = DRIFT_MAX_ASSIGN_SHARD_ROWS,
    relabel_warn_rows: "int | None" = RELABEL_WARN_ROWS,
):
    from ..spark.reader import read_version

    spark = pairs_new.sparkSession
    _require_dynamic_overwrite(spark)
    members_table = cluster_members_table(table)
    tracker.init_table(members_table.name, is_snapshot=False, user_id=user_id)
    state, base_head, head_pair = pinned_state(tracker, table.name)
    mstate, m_head, m_pair = pinned_state(tracker, members_table.name)
    check_pair(table, head_pair, m_pair, _CLUSTER_REPAIR_ADVICE)
    if not isinstance(state, PartitionedTableVersion) or not isinstance(
        mstate, PartitionedTableVersion
    ):
        raise ValueError("dedup cluster tables are partitioned by shard")
    arts = artifacts
    if arts is None:
        arts = load_cluster_artifacts(table, state, head_pair)

    stamped_message = message + "".join(f" [folds:{l}]" for l in labels)
    version = generate_version()
    new_arts = arts.with_label(version.label)
    expected = None
    if concurrency != "last-writer-wins":
        expected = {table.name: base_head, members_table.name: m_head}

    plan_args = (
        spark, pairs_new, table, members_table, state, mstate, arts, id_col
    )
    plan = _driver_fold_plan(*plan_args) or _distributed_fold_plan(*plan_args)
    changed = plan.changed

    if not plan.a_shards:
        # Empty-batch and no-change folds land ONLY the watermark stamp
        # (the exactly-once accounting must record the label as folded),
        # RE-USING the head's existing pair label — minting a fresh label
        # here would create a data-less sidecar that
        # ``vacuum_artifact_sidecars`` ages out as a commit-less orphan,
        # after which every load anchored on that head-pair label fails
        # on a perfectly healthy index.  A legacy pre-marker log
        # (``head_pair`` None) mints a new label + sidecar, the old
        # behavior (and the bootstrap shape).
        if head_pair is not None:
            mv, m_arts = Version(head_pair), arts
        else:
            mv, m_arts = version, new_arts
            _write_artifact_sidecar(table, m_arts, _CLUSTER_WHAT)
        publish_group(
            spark, tracker, mv, user_id, stamped_message,
            [(table, None, (), ()), (members_table, None, (), ())],
            expected_heads=expected,
            allow_disjoint=(concurrency == "optimistic"),
        )
        new_state = tracker.current_version(table.name)
        _sync_metastore(metastore, table, new_state)
        return changed, new_state, m_arts

    # rows that are NOT batch endpoints are exactly the relabeled members
    # of merged clusters
    if relabel_warn_rows is not None and plan.n_relabel > relabel_warn_rows:
        import warnings

        warnings.warn(
            f"cluster index {table.name}: this fold relabels "
            f"{plan.n_relabel} member rows (> {relabel_warn_rows}) — a "
            "giant-cluster merge handed a large cluster a new "
            "min-member representative.  The rewrite is SEMANTIC "
            "under the min-member label contract (the assignment "
            "must equal the one-shot dedup_clusters oracle), not "
            "write amplification; if touched shards have also "
            "outgrown their sizing target, re-shard with "
            "rebuild_dedup_clusters",
            ClusterRelabelWarning,
            stacklevel=4,
        )

    # -- assign-table RMW: exactly the changed docs' shards -------------
    a_shards = plan.a_shards
    asub = _restrict_to_values(state, DOC_SHARD_COL, a_shards)
    assign_out = changed.withColumn(
        DOC_SHARD_COL, _doc_shard_col(id_col, arts.doc_shards)
    )
    if asub.partition_versions:
        live_a = read_version(
            spark, table, asub, infer_partition_types=False
        ).select(F.col(id_col), "cluster_id", DOC_SHARD_COL)
        assign_out = assign_out.unionByName(
            live_a.join(changed.select(id_col), id_col, "left_anti")
        )

    # -- members-table RMW: losers' shards + winners' shards ------------
    m_touched = sorted(set(plan.r_shards) | set(plan.c_shards))
    msub = _restrict_to_values(mstate, CLUSTER_SHARD_COL, m_touched)
    members_out = changed.withColumn(
        CLUSTER_SHARD_COL, _cluster_shard_col("cluster_id", arts.cluster_shards)
    )
    if msub.partition_versions:
        live_m = read_version(
            spark, members_table, msub, infer_partition_types=False
        ).select(F.col(id_col), "cluster_id", CLUSTER_SHARD_COL)
        members_out = members_out.unionByName(
            live_m.join(changed.select(id_col), id_col, "left_anti")
        )

    # a relabeled-away cluster can empty its member shard; assign shards
    # never empty (every touched one receives its changed rows back).
    # The same pass that finds the written shards yields per-shard row
    # counts for the geometry-drift guard (members rows == assignment
    # rows overall, so observing the members side covers both tables
    # without an extra evaluation of assign_out).
    # Lineage barrier first: the frame is consumed TWICE (this count and
    # the data write below) and each full evaluation re-reads the touched
    # member shards from the table — the barrier reads them once.
    # eager=False: the m_counts action right below lands the final stage;
    # the map stages run at this call under AQE (lineage_barrier docstring).
    members_out = DD.lineage_barrier(members_out, eager=False)
    m_counts = members_out.groupBy(
        F.col(CLUSTER_SHARD_COL).alias("_s")
    ).agg(F.count(F.lit(1)).alias("_n")).collect()
    written_m_shards = {r["_s"] for r in m_counts}
    if drift_shard_rows is not None and m_counts:
        worst = max(m_counts, key=lambda r: r["_n"])
        if worst["_n"] > drift_shard_rows:
            import warnings

            warnings.warn(
                f"cluster index {table.name}: touched member shard "
                f"{worst['_s']!r} now holds {worst['_n']} rows (> "
                f"{drift_shard_rows} sizing target) — the index has "
                "outgrown its shard geometry; run rebuild_dedup_clusters "
                "with scaled doc_shards/cluster_shards",
                DedupGeometryDriftWarning,
                stacklevel=3,
            )
    had_live_m = {
        dict(p.column_values)[CLUSTER_SHARD_COL]
        for p in msub.partition_versions
    }
    emptied_m = [
        Partition.of((CLUSTER_SHARD_COL, s))
        for s in sorted(had_live_m - written_m_shards)
    ]

    # sidecar BEFORE the data commit (the families' crash-ordering
    # contract) — but only for folds that actually write data: a crash
    # here leaves an orphan sidecar for vacuum, never a committed index
    # without geometry
    _write_artifact_sidecar(table, new_arts, _CLUSTER_WHAT)
    writes = [
        (
            table,
            assign_out.repartition(F.col(DOC_SHARD_COL))
            .sortWithinPartitions(DOC_SHARD_COL, id_col),
            [Partition.of((DOC_SHARD_COL, s)) for s in a_shards],
            (),
        ),
        (
            members_table,
            members_out.repartition(F.col(CLUSTER_SHARD_COL))
            .sortWithinPartitions(CLUSTER_SHARD_COL, "cluster_id"),
            [
                Partition.of((CLUSTER_SHARD_COL, s))
                for s in sorted(written_m_shards)
            ],
            emptied_m,
        ),
    ]
    publish_group(
        spark, tracker, version, user_id, stamped_message, writes,
        expected_heads=expected,
        allow_disjoint=(concurrency == "optimistic"),
    )
    new_state = tracker.current_version(table.name)
    _sync_metastore(metastore, table, new_state)
    return changed, new_state, new_arts


def pending_fold_labels(
    tracker,
    pairs_table: TableDefinition,
    table: TableDefinition,
    _pstate=None,
) -> list:
    """Journal ``batch=<label>`` partitions not yet stamped
    ``[folds:<label>]`` on the assignment table, in label order — the
    fold BACKLOG.  Pure metadata (two O(tail) log reads, no Spark), so
    a maintenance sweep's dry-run can report what an apply run would
    fold without starting a session; :func:`fold_new_dedup_pairs` folds
    exactly this list (dry-run/apply parity by construction).
    Consolidated partitions (``folded-`` prefix) hold only
    already-folded pairs by construction — never fold candidates."""
    pstate = _pstate if _pstate is not None else tracker.current_version(
        pairs_table.name
    )
    if not isinstance(pstate, PartitionedTableVersion):
        raise ValueError("pairs journal is partitioned by batch")
    labels = sorted(
        dict(p.column_values)[PAIRS_BATCH_COL]
        for p in pstate.partition_versions
    )
    done = folded_batch_labels(tracker, table)
    return [
        l for l in labels
        if l not in done and not l.startswith(FOLDED_BATCH_PREFIX)
    ]


def fold_new_dedup_pairs(
    spark: SparkSession,
    pairs_table: TableDefinition,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "fold dedup pairs",
    id_a: str = "id_a",
    id_b: str = "id_b",
    coalesce_batches: int = 1,
    **extend_kwargs,
) -> list:
    """Catch the assignment table up with the pairs journal: fold every
    ``batch=<label>`` partition not yet stamped ``[folds:<label>]``, in
    label order.  The exactly-once hand-off between the index extend
    (which lands the journal partition in its own pair commit) and this
    separate maintainer: a crash mid-loop re-runs and skips the folded
    prefix; re-running after a fold's commit but before its return is
    skipped by the in-commit watermark.  Reads only the unfolded batch
    partitions (structural pruning on ``batch``).

    ``coalesce_batches`` is the BACKLOG knob: at 1 (default) each
    journal batch folds as its own commit; at N a catch-up after an
    outage reads up to N unfolded partitions together and folds their
    UNION as one commit stamping every covered label — sound because
    min-label components are confluent (fold(a∪b) ≡ fold(a);fold(b),
    differential-tested), and it turns a 1000-batch backlog's 1000
    fixed Spark-job overheads into 1000/N.  Returns the labels folded
    this call."""
    from ..spark.reader import read_version

    if coalesce_batches < 1:
        raise ValueError("coalesce_batches must be >= 1")
    pstate = tracker.current_version(pairs_table.name)
    todo = pending_fold_labels(tracker, pairs_table, table, _pstate=pstate)
    folded = []
    for i in range(0, len(todo), coalesce_batches):
        chunk = todo[i:i + coalesce_batches]
        sub = _restrict_to_values(pstate, PAIRS_BATCH_COL, chunk)
        batch = read_version(
            spark, pairs_table, sub, infer_partition_types=False
        ).select(F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b"))
        extend_dedup_clusters(
            batch, table, tracker, user_id, message,
            batch_label=chunk, **extend_kwargs,
        )
        folded.extend(chunk)
    return folded


# consolidated journal partitions get this prefix on their ``batch``
# value; real batch labels are version labels (digit-leading timestamps,
# core/version.py::make_label), so the prefix cannot collide
FOLDED_BATCH_PREFIX = "folded-"


def compact_dedup_pairs(
    spark: SparkSession,
    pairs_table: TableDefinition,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "compact folded pairs journal",
    min_batches: int = 2,
    max_batches: "int | None" = None,
    exclusive: bool = False,
) -> "str | None":
    """Consolidate the journal's already-FOLDED ``batch=<label>``
    partitions (plus any prior consolidations) into ONE
    ``batch=folded-<version>`` partition, content preserved
    row-for-row.

    Why this exists at 100 TB: the journal lands one partition per
    extend, forever — at streaming cadence that is ~500k partitions a
    year, and every live partition rides every fold state, checkpoint
    document, and partition listing of the pairs table from then on
    (the commit machinery is O(live partitions) per resolution by
    design).  Folded batches are exactly the ones whose per-batch
    identity no longer matters — the assignment table consumed them,
    the ``[folds:...]`` watermark history lives in the commit log (not
    the data), and every remaining consumer (verify differentials,
    ``rebuild_dedup_clusters``, duplicate listings) reads the journal
    as a whole.  Compaction caps the partition map at O(unfolded + 1).

    Cost class: O(all folded pairs) read+write per call — a maintenance
    sweep (compaction cadence), not a per-batch step.  Exactly-once is
    preserved structurally: ``fold_new_dedup_pairs`` never treats a
    ``folded-`` partition as a fold candidate.  Concurrency: the commit
    pins the journal head with ``allow_disjoint=False`` and retries the
    COMMIT (never the Spark rewrite) on conflict after re-reading
    ``pinned_state`` — a racing extend's new batch partition survives
    untouched and the retry picks up the extend's FRESH pair marker, so
    the consolidation never appends a stale marker as the journal's
    newest-in-prefix (which would TornPairError every later extend); a
    racing compaction consumed our source partitions, so the retry
    detects the changed versions and re-raises ``CommitConflictError``
    to the loser.  The commit re-stamps the journal's CURRENT pair
    marker (minting a new one would trip the pair protocol's
    primary/companion check on the next extend — the marker-only-fold
    precedent).

    Returns the consolidated partition's ``batch`` value, or None when
    fewer than ``min_batches`` candidate partitions exist.

    ``max_batches`` bounds ONE call's rewrite to the oldest N candidate
    partitions (raw batch labels sort before ``folded-`` consolidations,
    so capped calls drain the raw backlog first) — the incremental
    (LSM-style) alternative to the default full consolidation: each call
    is O(those batches' pairs) and the partition count converges to
    O(calls-not-yet-merged + unfolded) instead of 1 + unfolded.

    ``exclusive=True`` holds the journal's commit flock across the whole
    read-modify-write (the families' shared contract, `use_lock`
    trackers only) — for one-host deployments where a compaction may
    genuinely overlap a flocked extend and the Spark staging clash must
    be serialized away, not just detected.

    Downstream consumers tailing the journal through the CDC source see
    a compaction as one changed partition holding rows they already
    consumed — filter out ``batch LIKE 'folded-%'`` partitions to treat
    the journal as append-only deltas (a consolidated partition never
    contains a first-delivery pair by construction).

    No reference counterpart: the journal itself is this repo's
    extension (operators/dedup_index.py); this is its OPTIMIZE-style
    lifecycle companion."""
    from ..core.ops import (
        AddPartitionVersion,
        RemovePartition,
        TableUpdate,
        TableUpdateMetadata,
    )
    from ..spark.reader import read_version
    from ..spark.writer import write_versioned
    from .pairing import pair_message

    _require_dynamic_overwrite(spark)
    if min_batches < 1:
        raise ValueError("min_batches must be >= 1")
    # validated at entry, not after the min_batches early return — a
    # bad cap must raise on the FIRST call, not lie latent until the
    # backlog grows past min_batches (round-12 advice)
    if max_batches is not None and max_batches < 2:
        raise ValueError("max_batches must be >= 2 (a 1-batch "
                         "consolidation only renames a partition)")

    def _run():
        pstate, pairs_head, pairs_marker = pinned_state(
            tracker, pairs_table.name
        )
        if not isinstance(pstate, PartitionedTableVersion):
            raise ValueError("pairs journal is partitioned by batch")
        try:
            done = folded_batch_labels(tracker, table)
        except UnknownTableError:
            # no assignment table yet = nothing has ever been folded —
            # an honest "nothing to compact", not an error (the journal
            # may predate its cluster index)
            done = set()
        todo = sorted(
            l
            for p in pstate.partition_versions
            if (l := dict(p.column_values)[PAIRS_BATCH_COL]) in done
            or l.startswith(FOLDED_BATCH_PREFIX)
        )
        if len(todo) < min_batches:
            return None
        if max_batches is not None:
            todo = todo[:max_batches]
        version = generate_version()
        batch_value = FOLDED_BATCH_PREFIX + version.label
        sub = _restrict_to_values(pstate, PAIRS_BATCH_COL, todo)
        rows = (
            read_version(spark, pairs_table, sub, infer_partition_types=False)
            .drop(PAIRS_BATCH_COL)
            .withColumn(PAIRS_BATCH_COL, F.lit(batch_value))
        )
        # parallelism follows the source partitions; no repartition — a
        # single consolidated partition may hold the corpus's full
        # duplicate history and must not funnel through one task
        write_versioned(rows, pairs_table, version)
        todo_set = set(todo)
        removes = [
            p
            for p in pstate.partition_versions
            if dict(p.column_values)[PAIRS_BATCH_COL] in todo_set
        ]
        ops = [
            AddPartitionVersion(
                Partition.of((PAIRS_BATCH_COL, batch_value)), version
            )
        ] + [RemovePartition(p) for p in sorted(removes, key=lambda p: p.path)]
        # The re-stamped marker must be the journal's newest at COMMIT
        # time, not at pin time: a racing extend mints a fresh pair
        # marker on both tables during the long Spark rewrite window
        # above, and appending the pin-time marker here would leave the
        # journal's newest-in-prefix marker STALE vs the primary's —
        # bricking every later extend with TornPairError (round-12
        # advice).  So commit with allow_disjoint=False: ANY head
        # movement (even a disjoint racing batch) forces a re-read that
        # picks up the fresh marker, and we retry the commit — never the
        # Spark rewrite — while our source partitions are untouched.  A
        # racing compaction consumed them (version changed / partition
        # gone), so that conflict surfaces to the caller unchanged.
        from ..trackers.base import CommitConflictError

        base_versions = {p: pstate.partition_versions[p] for p in removes}
        head, marker = pairs_head, pairs_marker
        for _ in range(8):
            msg = message if marker is None else pair_message(message, marker)
            try:
                tracker.commit(
                    pairs_table.name,
                    TableUpdate(TableUpdateMetadata.new(user_id, msg),
                                tuple(ops)),
                    expected_head=head,
                    allow_disjoint=False,
                )
                return batch_value
            except CommitConflictError:
                fresh, head, marker = pinned_state(tracker, pairs_table.name)
                if not isinstance(fresh, PartitionedTableVersion) or any(
                    fresh.partition_versions.get(p) != v
                    for p, v in base_versions.items()
                ):
                    raise
        raise RuntimeError(
            f"compact_dedup_pairs on {pairs_table.name} could not land "
            "after 8 attempts (the journal head kept moving)"
        )

    return _run_maybe_exclusive(tracker, pairs_table, exclusive, _run)


def verify_dedup_clusters(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    id_col: str = "doc_id",
) -> DataFrame:
    """Differential audit of the paired tables: (a) the assignment and
    members tables must hold the SAME (doc, cluster) rows; (b) every
    cluster's id must equal its minimum member id (the one-shot label
    contract).  Returns the disagreeing rows (empty = consistent) with
    a ``problem`` discriminator — the offline deep audit behind the hot
    path's cheap pair-marker check.  One column-pruned scan of each
    table."""
    from ..spark.reader import read_version

    members_table = cluster_members_table(table)
    a = read_version(
        spark, table, tracker.current_version(table.name),
        infer_partition_types=False,
    ).select(F.col(id_col), F.col("cluster_id").alias("assign_cluster"))
    m = read_version(
        spark, members_table, tracker.current_version(members_table.name),
        infer_partition_types=False,
    ).select(F.col(id_col), F.col("cluster_id").alias("members_cluster"))
    mismatch = (
        a.join(m, id_col, "full_outer")
        .where(
            F.col("assign_cluster").isNull()
            | F.col("members_cluster").isNull()
            | (F.col("assign_cluster") != F.col("members_cluster"))
        )
        .select(
            F.col(id_col),
            "assign_cluster",
            "members_cluster",
            F.lit("assign_members_mismatch").alias("problem"),
        )
    )
    bad_min = (
        m.groupBy("members_cluster")
        .agg(F.min(id_col).alias("min_member"))
        .where(F.col("members_cluster") != F.col("min_member"))
        .select(
            F.col("min_member").alias(id_col),
            F.col("members_cluster").alias("assign_cluster"),
            F.col("members_cluster"),
            F.lit("cluster_id_not_min_member").alias("problem"),
        )
    )
    return mismatch.unionByName(bad_min)
