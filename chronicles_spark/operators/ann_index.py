"""Lake-native ANN index: the IVF/PQ search family materialized ON the
versioned lake, so probes prune at the SCAN.

This is where the two halves of the engine meet.  The in-memory
:func:`~chronicles_spark.operators.similarity.ivfpq_topk` re-encodes the
corpus from raw embeddings on every call and can only prune via a join;
here the encoded corpus ``(vec_id, pq_codes)`` is written ONCE as a
versioned table partitioned by the coarse-quantizer ``bucket`` (through
the ordinary :func:`~chronicles_spark.spark.writer.versioned_insert_into`
commit path), and each search resolves its probed buckets to concrete
live ``bucket=<b>/_version=<label>`` directories through the same
driver-side partition selection the versioned reader uses — unprobed
buckets are never listed, never opened, never read.  At 100 TB with
n_probe/n_clusters = 2/1024 a query batch reads ~0.2% of the index.

Structural-pruning stance shared with the reference's metastore reads
(spark/src/main/scala/dev/chronicles/spark/SparkHiveMetastore.scala:58-61:
partition LOCATIONs select what a read sees); the index build is a plain
versioned write, so it inherits commit atomicity, time travel, branches,
rollback and vacuum for free — an index rebuild is an ordinary commit and
a bad rebuild is one ``checkout`` away from undone.

Fit artifacts (coarse centroids + PQ codebooks, metadata-scale: k·dim +
k_sub·dim doubles) are stored as a JSON sidecar next to the data, named
by the DATA VERSION label (``_ann_artifacts_<label>.json``), so every
committed index version pins exactly the artifacts that encoded it —
time-traveling the table to an older version finds that version's
artifacts under the same naming rule.  Sidecars of vacuumed versions
become inert orphan files (bytes: ~k_sub·dim floats as text; harmless,
and removable with the same sweep that removes orphan data directories).
"""

from __future__ import annotations

import functools
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.model import (
    PartitionedTableVersion,
    PartitionSchema,
    TableDefinition,
    TableName,
)
from ..core.version import generate_version
from ..trackers.base import VersionTracker
from ..trackers.fs import filesystem_for
from . import similarity as SIM
from . import dedup_index as DX
from .dedup_index import _restrict_to_values

ARTIFACT_PREFIX = "_ann_artifacts_"
BUCKET_COL = "bucket"
ID_SHARD_COL = "id_shard"

# collecting this many ids to the driver for an IN-list parquet pushdown
# is cheap; above it the locate relies on shard pruning + the broadcast
# semi-join alone (a bulk extend's locate cost is dominated by its own
# write anyway)
_LOCATE_PUSHDOWN_MAX_IDS = 10_000

# pair-commit protocol (markers, pinned reads, group publish) shared
# with the other primary+companion families (operators/pairing.py)
from .pairing import (  # noqa: E402
    TornPairError as TornAnnPairError,
    pair_label as _pair_label,
    pair_message as _pair_message,
)


def ann_id_map_table(table: TableDefinition) -> TableDefinition:
    """The companion ``(id -> physical bucket)`` map table derived from an
    index table definition: ``<name>_ids`` at ``<location>_ids``,
    partitioned by ``id_shard`` (= ``pmod(xxhash64(id), id_shards)``).

    This is what makes an upsert's locate O(batch) instead of O(index):
    a batch's ids resolve to at most ``min(|batch|, id_shards)`` shard
    partitions, read through the same structural pruning as the index's
    probed buckets; within a shard the files are written SORTED by id so
    a small batch's IN-list filter prunes at parquet row-group level.
    Sizing rule: pick ``id_shards`` ≈ index_rows / a-few-million so one
    shard is a few tens of MB of (id, bucket) pairs at target scale —
    more shards = finer locate pruning, at the cost of more (tiny)
    partition dirs."""
    return TableDefinition(
        TableName(table.name.schema, table.name.name + "_ids"),
        table.location.rstrip("/") + "_ids",
        PartitionSchema((ID_SHARD_COL,)),
        format=table.format,
        format_options=table.format_options,
    )


def _apply_split_tree(df: DataFrame, id_col: str, tree: "dict[str, int]"):
    """Route rows through the skew-split TREE: an entry ``parent -> m``
    rewrites bucket value ``parent`` to ``parent_<sub>`` with ``sub =
    pmod(hash(id), m)`` — the bucket-skew guard's layout step
    (``semantic_dedup``'s ``max_cluster_size`` pattern applied to the
    index).  Entries apply shallow-to-deep, so a row whose logical
    bucket is split at depth 1 AND whose sub-partition was later
    re-split at depth 2 (``{"3": 2, "3_0": 2}``) lands in the nested
    leaf (``3_0_1``) in ONE pass — routing depends only on the id hash,
    so rows already sitting in an intermediate physical partition and
    rows arriving from the logical bucket converge on the same leaf.
    Depth ``d`` uses ``xxhash64(id, d)`` (depth 1 keeps the pre-nesting
    ``xxhash64(id)`` so existing layouts stay valid): re-splitting a
    sub-partition with the SAME hash that created it would send every
    row to child 0.  Search stays transparent: probes of logical bucket
    ``b`` read every live ``b``-prefixed physical partition
    (:func:`restrict_to_buckets`) and scoring recovers the logical id
    with :func:`_logical_bucket`."""
    if not tree:
        return df
    by_depth: "dict[int, dict[str, int]]" = {}
    for k, m in tree.items():
        by_depth.setdefault(k.count("_") + 1, {})[k] = int(m)
    out = df
    for depth in sorted(by_depth):
        h = (
            F.xxhash64(F.col(id_col))
            if depth == 1
            else F.xxhash64(F.col(id_col), F.lit(depth))
        )
        expr = None
        for b, s in sorted(by_depth[depth].items()):
            sub = F.concat_ws(
                "_", F.col(BUCKET_COL), F.pmod(h, F.lit(int(s))).cast("string")
            )
            cond = F.col(BUCKET_COL) == F.lit(b)
            expr = F.when(cond, sub) if expr is None else expr.when(cond, sub)
        out = out.withColumn(BUCKET_COL, expr.otherwise(F.col(BUCKET_COL)))
    return out


def _split_to_cap(
    encoded: DataFrame, id_col: str, cap: int, counts: "dict | None" = None
) -> "tuple[DataFrame, dict[str, int]]":
    """Skew-split oversized buckets until EVERY physical partition holds
    ≤ ``cap`` rows — a hard guarantee, not an expectation.  Returns
    ``(df, new_entries)`` where ``new_entries`` are the split-tree
    entries this call ADDED (record them in the artifact sidecar so
    later writers route identically).  Works on logical values (build)
    and on physical sub-partition values (extend's in-commit re-split
    of a breached bucket) alike: an entry keyed by a physical value
    nests one suffix level deeper.  The initial modulus is
    ``ceil(rows / cap)``; because the sub-assignment is an id HASH (the
    only split that needs no hot-key shuffle), small buckets can
    overshoot by sampling variance, so the split re-counts and DOUBLES
    any still-oversized value's parent modulus until the cap holds.
    Each round is one map-side groupBy-count; at production caps
    (millions of rows per partition, where hash deviation is ~0.1%) the
    first assignment virtually always passes, so the expected cost is
    the one counting pass plus one verification pass.  ``counts`` seeds
    the initial per-bucket counts when the caller already computed
    them."""
    if cap < 1:
        raise ValueError("max_bucket_rows must be >= 1")
    import math

    if counts is None:
        counts = {
            r[BUCKET_COL]: r["n"]
            for r in encoded.groupBy(BUCKET_COL)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    new = {b: math.ceil(n / cap) for b, n in counts.items() if n > cap}
    if not new:
        return encoded, {}
    for _ in range(12):
        out = _apply_split_tree(encoded, id_col, new)
        over = {
            r[BUCKET_COL]
            for r in out.groupBy(BUCKET_COL)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
            if r["n"] > cap
        }
        if not over:
            return out, new
        for phys in over:
            parent = phys if phys in new else phys.rsplit("_", 1)[0]
            new[parent] = new.get(parent, 1) * 2
    raise RuntimeError(
        f"bucket skew split did not converge to max_bucket_rows={cap} "
        "after 12 doublings — cap is likely smaller than the duplicate "
        "multiplicity of a single hashed id"
    )


def _live_splits(table_version) -> "dict[str, int]":
    """Split tree inferred from the LIVE physical layout (``3_0``/``3_1``
    ⇒ ``{"3": 2}``; nested ``3_0_1`` additionally ⇒ ``{"3_0": 2}``) —
    the FALLBACK placement rule for indexes whose sidecars predate the
    recorded ``bucket_splits`` tree.  Each parent's modulus is inferred
    as ``max(live child suffix) + 1``, which UNDERCOUNTS when the
    highest sub-partition was emptied by an upsert — new sidecars record
    the tree explicitly for exactly that reason; this stays for
    compatibility with pre-recording layouts (search and locate are
    unaffected either way: they match by prefix and exact physical
    values, never through this inference)."""
    subs: dict = {}
    for p in table_version.partition_versions:
        parts = dict(p.column_values)[BUCKET_COL].split("_")
        for i in range(1, len(parts)):
            parent = "_".join(parts[:i])
            subs[parent] = max(subs.get(parent, 0), int(parts[i]) + 1)
    return subs


def _logical_bucket(col=None):
    """Logical (probe-comparable) bucket id of a physical partition value:
    ``"3" -> 3``, ``"3_1" -> 3``."""
    c = F.col(BUCKET_COL) if col is None else col
    return F.split(c, "_").getItem(0).cast("int")


@dataclass(frozen=True)
class AnnArtifacts:
    """The metadata-scale fit outputs an index version pins: coarse
    centroids ``[(cid, vec), ...]`` and PQ ``codebooks[sub][code] ->
    subvector``, plus the data-version label they encoded.

    ``max_bucket_rows`` records the build's skew cap so an extend whose
    rewrite grows a touched physical partition past it re-splits that
    partition IN the same commit (nested split suffixes).

    ``id_shards`` records the companion id-map table's shard count when
    the index was built with one (``build_ann_index(id_map_shards=...)``)
    — it is part of the index GEOMETRY like the quantizer (an extend must
    hash batch ids with the same modulus), so it rides the sidecar and
    the loader's agreement check.  ``None`` = no id map (pre-round-7
    sidecars deserialize to this, keeping old indexes readable).

    ``bucket_splits`` records the skew-split TREE (``(parent, modulus)``
    pairs — see :func:`_apply_split_tree`) so writers route new rows
    exactly as the layout was built, instead of inferring moduli from
    the live directory layout (which undercounts when the highest
    sub-partition was emptied by an upsert).  Unlike the quantizer
    fields it legitimately EVOLVES across extends (an in-commit
    re-split adds entries), so it is excluded from the loader's
    agreement check and taken from the NEWEST live label.  ``None`` =
    pre-recording sidecar (placement falls back to layout inference)."""

    centroids: tuple
    codebooks: tuple
    version_label: str
    id_shards: "int | None" = None
    max_bucket_rows: "int | None" = None
    bucket_splits: "tuple | None" = None

    def geometry(self) -> dict:
        """The fields every live label's sidecar must agree on — the
        quantizer, ``id_shards`` and ``max_bucket_rows``; the evolving
        ``bucket_splits`` and the label are left out."""
        d = self.__dict__.copy()
        d.pop("version_label")
        d.pop("bucket_splits")
        return d

    def to_json(self) -> str:
        return json.dumps(
            {
                "version_label": self.version_label,
                "centroids": [[cid, list(c)] for cid, c in self.centroids],
                "codebooks": [
                    [list(c) for c in cb] for cb in self.codebooks
                ],
                "id_shards": self.id_shards,
                "max_bucket_rows": self.max_bucket_rows,
                "bucket_splits": (
                    None
                    if self.bucket_splits is None
                    else dict(self.bucket_splits)
                ),
            }
        )

    @staticmethod
    def from_json(text: str) -> "AnnArtifacts":
        d = json.loads(text)
        return AnnArtifacts(
            centroids=tuple((int(cid), tuple(c)) for cid, c in d["centroids"]),
            codebooks=tuple(
                tuple(tuple(c) for c in cb) for cb in d["codebooks"]
            ),
            version_label=d["version_label"],
            id_shards=d.get("id_shards"),
            max_bucket_rows=d.get("max_bucket_rows"),
            bucket_splits=_freeze_splits(d.get("bucket_splits")),
        )

    @property
    def split_tree(self) -> "dict[str, int] | None":
        """The recorded split tree as a dict (``None`` = unrecorded —
        legacy sidecar, caller falls back to layout inference)."""
        return None if self.bucket_splits is None else dict(self.bucket_splits)

    @property
    def centroid_list(self) -> list:
        return [(cid, list(c)) for cid, c in self.centroids]

    @property
    def codebook_list(self) -> list:
        return [[list(c) for c in cb] for cb in self.codebooks]


def _freeze_splits(splits) -> "tuple | None":
    """Canonical hashable form of a split tree: sorted (parent, modulus)
    pairs (``AnnArtifacts`` is a frozen dataclass — a dict field would
    break its hashability and equality canonicalization)."""
    if splits is None:
        return None
    return tuple(sorted((str(k), int(v)) for k, v in dict(splits).items()))


_artifact_path = functools.partial(DX._artifact_path, prefix=ARTIFACT_PREFIX)


def _write_artifact_sidecar(
    table: TableDefinition, version_label: str, centroids, codebooks,
    id_shards: "int | None" = None,
    max_bucket_rows: "int | None" = None,
    bucket_splits=None,
) -> AnnArtifacts:
    """Stamp the artifacts under ``version_label`` and persist them through
    the shared sidecar writer BEFORE the data commit — a crash leaves an
    orphan sidecar (reclaimable via :func:`vacuum_ann_artifacts`'s age
    guard), never a committed index whose artifacts are missing."""
    stamped = AnnArtifacts(
        centroids=tuple((cid, tuple(c)) for cid, c in centroids),
        codebooks=tuple(tuple(tuple(x) for x in cb) for cb in codebooks),
        version_label=version_label,
        id_shards=id_shards,
        max_bucket_rows=max_bucket_rows,
        bucket_splits=_freeze_splits(bucket_splits),
    )
    DX._write_artifact_sidecar(table, stamped, "ann", ARTIFACT_PREFIX)
    return stamped


def build_ann_index(
    df: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "ann",
    message: str = "build ann index",
    n_clusters: int = 8,
    m: int = 8,
    k_sub: int = 16,
    iters: int = 3,
    train_fraction: "float | None" = None,
    centroids: "list | None" = None,
    codebooks: "list | None" = None,
    id_map_shards: "int | None" = 64,
    max_bucket_rows: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
):
    """Fit (or reuse injected) IVF centroids + PQ codebooks, encode the
    corpus, and PUBLISH it as a versioned table partitioned by ``bucket``.

    Returns ``(table_version, AnnArtifacts)``.  ``table`` must be
    partitioned by exactly (``bucket``,) and already ``init_table``-ed on
    the tracker.  Injecting ``centroids``/``codebooks`` re-encodes under
    an EXISTING quantizer (periodic refresh without drifting bucket
    geometry between builds); omitted artifacts are fit here
    (``train_fraction`` samples the training set — see
    :func:`~chronicles_spark.operators.similarity.kmeans_fit`).

    Scale shape: after the fits, ONE map-side pass over a single corpus
    scan assigns the bucket and PQ-encodes (no self-join recombine); the
    write shuffles nothing beyond what ``partitionBy`` needs, and the
    commit is O(#buckets) metadata.  The artifact sidecar (k_sub·dim
    floats) is written BEFORE the data commit under the pre-generated
    version label — a crash leaves an orphan sidecar and invisible data
    directories, never a committed index whose artifacts are missing.

    Storing ``pq_codes`` instead of raw vectors is the PQ compression
    claim on disk: D float32 -> m small ints (e.g. 768×4B -> 8×1B), so
    the whole searchable index is ~1/100 the corpus bytes and a full
    index scan (the n_probe = n_clusters worst case) reads ~1% of what
    a brute-force pass over raw embeddings would.

    ``id_map_shards`` (default 64): ALSO publish the companion
    ``(id -> physical bucket)`` map table (:func:`ann_id_map_table`) in
    the SAME ``commit_group``, making later upsert locates O(batch) —
    see :func:`extend_ann_index`.  ``None`` skips it (upserts then fall
    back to the column-pruned whole-index locate scan).  Sizing: shards
    of a few million ids each; the sidecar records the modulus so every
    extend shards identically.

    ``max_bucket_rows``: the bucket-skew guard.  Buckets whose row count
    exceeds the cap are sub-partitioned ``b_0..b_{s-1}`` by id hash
    (``s = ceil(rows / cap)``) so one mega-cluster at 100 TB cannot
    become one mega-partition every probe touching it must scan in
    full; probes of logical bucket ``b`` transparently read all of
    ``b``'s live sub-partitions.  Costs one extra counting pass over the
    (map-side) encode lineage — nothing corpus-scale is persisted.
    Extends place new rows into the live sub-layout; a periodic rebuild
    re-balances drifted splits."""
    DX._require_partitioning(table, _ANN)
    if centroids is not None or codebooks is not None:
        # only injected artifacts need the dim probe; the fit-here path
        # derives dims from the data and raises its own clearer errors
        SIM.validate_ann_artifacts(df, vec_col, centroids, codebooks)
    # the two fits are INDEPENDENT (PQ codebooks fit on raw vector
    # subspaces, not residuals against the coarse centroids), and each is
    # a short serial chain of driver actions — when both run they overlap
    # on threads in the caller's job group, so one fit's job tails
    # back-fill the other's (guide §2.6).  Results are identical to the
    # sequential calls (same functions, same deterministic inputs)
    from ..spark.writer import overlapped

    fits = []
    if centroids is None:
        fits.append(lambda: SIM.kmeans_fit(
            df, n_clusters, iters, id_col, vec_col,
            train_fraction=train_fraction,
        ))
    if codebooks is None:
        fits.append(lambda: SIM.pq_fit(
            df, m, k_sub, iters, id_col, vec_col,
            train_fraction=train_fraction,
        ))
    fitted = iter(overlapped(df.sparkSession, lambda fit: fit(), fits))
    if centroids is None:
        centroids = next(fitted)
    if codebooks is None:
        codebooks = next(fitted)

    vd = df.select(F.col(id_col), SIM.as_double(F.col(vec_col)).alias("v"))
    encoded = SIM.pq_encode(
        SIM._assign_nearest(vd, centroids).withColumnRenamed("cluster", BUCKET_COL),
        codebooks,
        id_col=id_col,
        vec_col="v",
        keep_cols=True,
    ).select(
        F.col(id_col),
        F.col(BUCKET_COL).cast("string").alias(BUCKET_COL),
        "pq_codes",
    )
    splits: "dict[str, int]" = {}
    if max_bucket_rows is not None:
        encoded, splits = _split_to_cap(encoded, id_col, max_bucket_rows)

    from ..spark.writer import versioned_insert_into

    version = generate_version()
    artifacts = _write_artifact_sidecar(
        table, version.label, centroids, codebooks, id_map_shards,
        max_bucket_rows, bucket_splits=splits,
    )
    if id_map_shards is None:
        state, _ = versioned_insert_into(
            encoded, table, tracker, user_id, message,
            version=version, metastore=metastore,
        )
        return state, artifacts

    # index + id map published by ONE commit_group: the map is derived
    # state and must never be observable ahead of/behind the index data
    # it describes (sqlite: one transaction; files: both appends under
    # held guards — crash exposure documented on extend_ann_index)
    if id_map_shards < 1:
        raise ValueError("id_map_shards must be >= 1 (or None for no map)")
    from ..spark.reader import read_version
    from ..spark.writer import partitions_written, write_versioned

    spark = df.sparkSession
    map_table = ann_id_map_table(table)
    tracker.init_table(map_table.name, is_snapshot=False, user_id=user_id)
    DX._require_dynamic_overwrite(spark)
    # the index lands FIRST and the map derives from the JUST-WRITTEN
    # files (a column-pruned (id, bucket) read of the new version
    # directories, ~1/100 the corpus bytes) — materializing the mapping
    # from `encoded` would re-run the corpus-scale encode lineage
    # (centroid assignment + PQ + skew-split CASE) a second time
    write_versioned(encoded, table, version)
    index_parts = partitions_written(table, version, spark=spark)
    written = PartitionedTableVersion({p: version for p in index_parts})
    map_df = DX._shard_layout(
        read_version(spark, table, written, infer_partition_types=False)
        .select(F.col(id_col), F.col(BUCKET_COL)),
        ID_SHARD_COL, [id_col], DX._shard_col(id_map_shards, id_col),
    )
    state, _ = DX._publish(
        spark, tracker, version, user_id, message,
        [(table, None, index_parts, ()), (map_table, map_df, None, ())],
        metastore,
    )
    return state, artifacts


def load_ann_artifacts(
    table: TableDefinition, table_version
) -> AnnArtifacts:
    """Artifacts pinned by a resolved index state.

    A full rebuild leaves every live partition at one version label; an
    :func:`extend_ann_index` upsert leaves TOUCHED buckets at a newer
    label than untouched ones.  Both are valid index states as long as
    every live label's sidecar carries the SAME quantizer (extend writes
    its sidecar with the artifacts it encoded under, so this holds by
    construction).  The loader therefore reads each distinct label's
    sidecar and requires the artifact payloads to AGREE — disagreement
    means the table mixes data encoded under different quantizers (a
    write outside this module, or a partial-rollback interleaving) and
    no single artifact set can score it: pass ``artifacts=`` explicitly
    after deciding which geometry is right, or rebuild.  Returns the
    artifacts stamped with the NEWEST live label.

    Cost: one sidecar read + payload comparison per DISTINCT live label
    — bounded by the number of extends since the last full rebuild (a
    rebuild collapses every bucket to one label), all driver-side
    metadata.  Latency-sensitive repeat callers (the streaming sink's
    per-batch default) should pass ``artifacts=`` and skip resolution.

    ``bucket_splits`` is deliberately NOT part of the agreement set
    (:meth:`AnnArtifacts.geometry`): the split tree legitimately evolves
    across extends (in-commit re-splits add entries), and the shared
    loader returns the NEWEST label's sidecar, so placement takes the
    newest tree."""
    return DX._load_artifacts(
        table, table_version, AnnArtifacts.from_json, "quantizers",
        prefix=ARTIFACT_PREFIX,
    )


# the extend front end's inputs (DX._extend_front).  The id map is the
# companion only when the sidecar names id_shards.  The torn-pair advice:
# extending from a torn pair would locate upserts through a map that
# does not describe the index (silently wrong results), so the hot path
# fails loudly with it
_ANN = DX._Maintainer(
    what="ANN index table",
    partition_col=BUCKET_COL,
    advice=(
        "run verify_ann_id_map to audit and rebuild_ann_id_map to repair "
        "before extending"
    ),
    load=lambda table, state, _pair: load_ann_artifacts(table, state),
    companion=lambda table, arts: (
        None if arts.id_shards is None else ann_id_map_table(table)
    ),
)


def extend_ann_index(
    df_new: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "ann",
    message: str = "extend ann index",
    artifacts: "AnnArtifacts | None" = None,
    mode: str = "upsert",
    concurrency: str = "optimistic",
    exclusive: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
):
    """Incremental write into a materialized ANN index: encode ONLY the
    new/changed vectors under the index's EXISTING quantizer and publish
    fresh versions for exactly the touched buckets.  Returns
    ``(table_version, AnnArtifacts)`` — artifacts unchanged, re-stamped
    under the new version label so :func:`load_ann_artifacts`'s
    sidecar-per-label agreement contract keeps holding.

    ``mode="upsert"`` (default): rows whose id already exists anywhere in
    the index are REPLACED.  Old rows are located through the companion
    id map when the index was built with one (``build_ann_index``'s
    ``id_map_shards``, the default): the batch's ids resolve to at most
    ``min(|batch|, id_shards)`` shard partitions of the map, read through
    the same structural pruning as probed buckets (plus a parquet
    IN-list row-group prune for small batches over the shards'
    sorted-by-id files) — **O(batch), independent of index size**, then
    filtered against the broadcast new-id set.  A replacement whose new
    embedding lands in a DIFFERENT coarse bucket still removes the stale
    row from its old bucket, and a bucket emptied by such a move is
    removed from the live view in the same commit (RemovePartition —
    without it the old version directory would stay live and resurrect
    the moved row).  Indexes WITHOUT a map fall back to one
    column-pruned (id, bucket) scan of the whole index — honest
    O(index); build with a map for streaming-cadence upserts.
    ``mode="append"``: the caller asserts every id is new; the locate is
    skipped entirely and cost is O(new data + touched buckets' current
    data) with no index-wide read (the id map, when present, is still
    extended with the new ids' rows).

    ``concurrency``: an extend is a read-modify-write, so the DEFAULT is
    ``"optimistic"`` — the commit pins the head(s) read at entry
    (``expected_heads``: the index AND its id map go into one optimistic
    ``commit_group``) and a racing commit conflicts
    (``CommitConflictError``; re-run to retry on the new base) instead
    of silently dropping rows.  The conflict SCOPE follows the read set:
    WITH an id map the upsert reads only its touched buckets + batch
    shards, so disjoint racers auto-merge under ``"optimistic"`` — a
    racer carrying any of our ids must touch one of our shards (ids hash
    to fixed shards), so id collisions always surface as partition
    overlap; WITHOUT a map the upsert reads the whole index, so
    ``"optimistic"`` escalates to ``"strict"`` (any interim commit
    conflicts).  ``"strict"`` conflicts on any head movement in all
    modes; ``"last-writer-wins"`` restores the plain-write default for
    single-writer pipelines (note it also skips the id-map head pin — a
    lost race can silently drop map rows, the same lost-update class the
    optimistic default exists to prevent).  (Stronger defaults than
    ``versioned_insert_into``'s because a plain write only ADDS data —
    an RMW that loses the race rewrites buckets from a stale base.)

    CRASH EXPOSURE (files backend only): the pair's two commit appends
    are serialized but not one atomic write — a driver crash BETWEEN
    them leaves index and map at different bases (sqlite commits the
    group as a single transaction and has no such window).
    :func:`verify_ann_id_map` detects the divergence;
    :func:`rebuild_ann_id_map` repairs it from the live index.

    MULTI-APPLICATION note: beyond commit-log safety, two SIMULTANEOUS
    Spark applications writing under one table location contend on the
    output committer's shared ``_temporary`` staging — a Spark-level
    clash the commit protocol cannot see (it fails jobs loudly, never
    silently).  Run ONE index maintainer per table (the stream sink);
    the optimistic pin turns an accidental second maintainer into a
    loud failure.  Where genuinely concurrent maintainers are needed on
    a HOST-LOCAL log, pass ``exclusive=True`` with a ``use_lock=True``
    tracker: the per-table flock is held across the WHOLE
    read-modify-write, serializing extends from separate OS processes —
    no staging clash, no conflicts, every batch lands (raced for real
    in tests/test_ann_index_multiprocess.py).

    Scale shape: one map-side encode pass over the NEW data; a driver
    collect of the touched bucket ids (≤ n_clusters ints); a
    read-modify-write of ONLY the touched buckets (the streaming sink's
    append pattern — partition values read as exact strings, never
    type-inferred); ONE commit carrying adds and removals atomically.
    When a batch spreads uniformly over ALL buckets the rewrite
    approaches a full rebuild — the honest LSM-style trade; the right
    cadence is batched extends punctuated by a periodic
    :func:`build_ann_index` refresh (which also re-fits drifted
    centroids).  Untouched buckets keep their version; vacuum reclaims
    superseded touched-bucket versions as usual."""
    return DX._extend_front(
        _ANN, df_new, table, tracker, artifacts, concurrency, exclusive,
        lambda pinned, arts, encoded_new: _extend_publish(
            df_new.sparkSession, table, tracker, pinned, encoded_new, arts,
            mode, concurrency, user_id, message, id_col, metastore,
        ),
        encode=lambda df, arts, state: _encode_batch(
            df, arts, state, id_col, vec_col
        ),
        mode=mode,
    )


def _split_tree(artifacts, state) -> "dict[str, int]":
    """The skew-split tree new rows route through: the sidecar's
    recorded ``bucket_splits``; pre-recording sidecars fall back to
    layout inference."""
    tree = artifacts.split_tree
    return _live_splits(state) if tree is None else tree


def _encode_batch(df_new, artifacts, state, id_col, vec_col):
    """The batch encoded under the index's quantizer, ``(id, bucket,
    pq_codes)``, routed through the split tree (:func:`_split_tree`) so
    a split bucket keeps its per-partition cap.  The front end persists
    it (bounded — one batch, never the index): it is consumed up to five
    times (bucket collect, duplicate check, shard collect, locate
    semi-join, RMW union+write), and re-running an expensive upstream
    lineage per consumer would dominate the extend."""
    centroids = artifacts.centroid_list
    codebooks = artifacts.codebook_list
    SIM.validate_ann_artifacts(df_new, vec_col, centroids, codebooks)
    vd = df_new.select(F.col(id_col), SIM.as_double(F.col(vec_col)).alias("v"))
    return _apply_split_tree(
        SIM.pq_encode(
            SIM._assign_nearest(vd, centroids).withColumnRenamed("cluster", BUCKET_COL),
            codebooks,
            id_col=id_col,
            vec_col="v",
            keep_cols=True,
        ).select(
            F.col(id_col),
            F.col(BUCKET_COL).cast("string").alias(BUCKET_COL),
            "pq_codes",
        ),
        id_col,
        _split_tree(artifacts, state),
    )


def _extend_publish(
    spark, table, tracker, pinned, encoded_new, artifacts,
    mode, concurrency, user_id, message, id_col, metastore,
):
    # the id map's base is pinned alongside the index's (the front end
    # refused a torn pair before any read the locate trusts): both heads
    # go into the SAME optimistic group commit, so any interleaved extend
    # (which must touch both lines) conflicts loudly
    state, base_head = pinned.state, pinned.head
    map_table, map_state, map_head = pinned.companion, pinned.cstate, pinned.chead
    split_tree = _split_tree(artifacts, state)
    # ONE aggregation job yields every piece of batch metadata the plan
    # needs: row/dup/null counts plus the distinct bucket and shard sets
    # (both bounded — ≤ n_clusters / ≤ id_shards values), instead of a
    # separate collect per set
    agg_cols = DX._batch_stats(id_col) + [
        F.collect_set(F.col(BUCKET_COL)).alias("bks")
    ]
    if map_table is not None:
        agg_cols.append(
            F.collect_set(
                DX._shard_col(artifacts.id_shards, id_col)
            ).alias("shs")
        )
    counts = encoded_new.agg(*agg_cols).collect()[0]
    DX._check_batch(counts, id_col, "ann")
    new_buckets = sorted(counts["bks"])

    from ..spark.reader import read_version

    touched = set(new_buckets)
    new_ids = encoded_new.select(id_col).distinct()
    batch_shards: "list | None" = None
    if map_table is not None:
        # the batch's id shards: at most min(|batch|, id_shards) values —
        # the locate's (and the map RMW's) pruning key
        batch_shards = sorted(counts["shs"])
    if mode == "upsert" and state.partition_versions:
        if map_table is not None:
            # O(batch) locate through the id map: read ONLY the batch's
            # shard partitions (structural pruning — unrelated shards are
            # never listed or opened); within them, a small batch pushes
            # an IN-list filter down to the parquet scan, where the
            # shard files' sorted-by-id layout prunes at row-group
            # level.  The broadcast semi-join stays authoritative either
            # way.  Cost is O(|batch| × shard size), independent of how
            # many buckets/rows the INDEX has grown to — this is the
            # whole point of the companion table.
            msub = _restrict_to_values(map_state, ID_SHARD_COL, batch_shards)
            if msub.partition_versions:
                located = read_version(
                    spark, map_table, msub, infer_partition_types=False
                ).select(F.col(id_col), F.col(BUCKET_COL))
                if (
                    counts["n"] <= _LOCATE_PUSHDOWN_MAX_IDS
                    and len(batch_shards) * 2 <= artifacts.id_shards
                ):
                    # IN-list pushdown prunes row groups WITHIN the read
                    # shards; when the batch already covers most shards
                    # the list spans most row groups too, so the extra
                    # collect job buys nothing — skip it (the broadcast
                    # semi-join below is authoritative either way)
                    from .dedup import in_list as _in_list

                    ids = [r[0] for r in encoded_new.select(id_col).collect()]
                    located = located.where(_in_list(id_col, ids))
                old_locs = (
                    located.join(F.broadcast(new_ids), id_col, "left_semi")
                    .select(BUCKET_COL)
                    .distinct()
                    .collect()
                )
                touched |= {r[BUCKET_COL] for r in old_locs}
        else:
            # no id map (index built with id_map_shards=None): locate old
            # rows of re-submitted ids ANYWHERE in the index with a
            # column-pruned (id, bucket) scan filtered map-side against
            # the broadcast new-id set — honest O(index) fallback
            old_locs = (
                read_version(spark, table, state, infer_partition_types=False)
                .select(F.col(id_col), F.col(BUCKET_COL))
                .join(F.broadcast(new_ids), id_col, "left_semi")
                .select(BUCKET_COL)
                .distinct()
                .collect()
            )
            touched |= {r[BUCKET_COL] for r in old_locs}
    # current rows of exactly the touched buckets; in upsert mode same-id
    # rows are superseded via a broadcast anti-join
    out, sub_state = DX._rmw_shards(
        spark, table, state, BUCKET_COL, sorted(touched), encoded_new,
        [id_col, BUCKET_COL, "pq_codes"], id_col,
        replaced=F.broadcast(new_ids) if mode == "upsert" else None,
        restrict=lambda st, _, buckets: restrict_to_buckets(st, buckets),
    )
    if sub_state.partition_versions:
        # the union re-routes through the recorded split tree (idempotent
        # for rows already at a leaf) so live rows of a partition the
        # tree has since split MIGRATE to their leaf in this rewrite —
        # the self-heal that lets a stale layout converge without a
        # rebuild
        out = _apply_split_tree(out, id_col, split_tree)

    # which physical buckets the rewrite lands — ONE small aggregation
    # over the touched slice (never an FS walk over every bucket
    # directory of the index; at n_clusters in the tens of thousands a
    # per-batch walk would dwarf the batch itself); every physical
    # partition the RMW read but did not write back is emptied (its rows
    # were replaced, or migrated by a re-split)
    out, written_counts, emptied = DX._observe_written(
        out, BUCKET_COL, sub_state
    )
    if None in written_counts:
        raise ValueError(
            "encoded batch contains a NULL bucket (null embedding?) — "
            "versioned writes require concrete partition values"
        )
    if artifacts.max_bucket_rows is not None:
        # skew-cap ENFORCEMENT, not just detection: a touched physical
        # partition the rewrite grew past the cap is re-split IN this
        # commit with a nested suffix level (the breached partition is
        # already in the RMW's touched set, so splitting exactly it
        # rewrites nothing the extend wasn't rewriting anyway — reads
        # stay O(touched); untouched partitions are never expanded).
        # The added tree entries ride this commit's sidecar so every
        # later writer routes identically.
        out, new_entries = _split_to_cap(
            out, id_col, artifacts.max_bucket_rows, counts=written_counts
        )
        if new_entries:
            split_tree = {**split_tree, **new_entries}
            written_counts = DX._shard_counts(out, BUCKET_COL)
            emptied = DX._emptied(sub_state, BUCKET_COL, written_counts)

    # sidecar BEFORE the data commit (build's crash-ordering contract);
    # it records the (possibly just-extended) split tree
    version = generate_version()
    stamped = _write_artifact_sidecar(
        table, version.label, artifacts.centroids, artifacts.codebooks,
        artifacts.id_shards, artifacts.max_bucket_rows,
        bucket_splits=split_tree,
    )

    written_parts = DX._shard_parts(BUCKET_COL, written_counts)

    if map_table is None:
        from ..spark.writer import versioned_insert_into

        # the SAME commit carries the Add ops for written buckets and the
        # Remove ops for buckets a moved upsert emptied.  Conflict scope
        # WITHOUT an id map: an UPSERT's read set is the whole index (the
        # locate scan), so "optimistic" pins the head strictly — ANY
        # interim commit could e.g. have landed the same new id in
        # another bucket, and a disjoint-merge would leave that id live
        # twice; an APPEND only reads the touched buckets, so
        # disjoint-bucket racers auto-merge.
        eff = concurrency
        if concurrency == "optimistic" and mode == "upsert":
            eff = "strict"
        new_state, _ = versioned_insert_into(
            out, table, tracker, user_id, message,
            version=version, metastore=metastore,
            partitions=written_parts,
            concurrency=eff, base_head=base_head,
            remove_partitions=emptied,
        )
        return new_state, stamped

    # -- id-map read-modify-write of exactly the batch's shards ------------
    # an id never leaves its shard, so the touched shard set = the batch's
    # shard set on both the read and the write side, and shards are never
    # emptied by an extend.  Batch ids' map rows take their FINAL physical
    # bucket from `out` (encoded_new's values predate a possible
    # in-commit re-split); non-batch rows migrated by a re-split keep
    # their old map value, which stays resolvable as a prefix ancestor
    # (locate restricts to the recorded value's whole subtree, verify
    # tolerates ancestors)
    new_map, _ = DX._rmw_shards(
        spark, map_table, map_state, ID_SHARD_COL, batch_shards,
        out.join(F.broadcast(new_ids), id_col, "left_semi").select(
            F.col(id_col), F.col(BUCKET_COL)
        ),
        [id_col, BUCKET_COL], id_col,
        replaced=F.broadcast(new_ids) if mode == "upsert" else None,
    )
    out_map = DX._shard_layout(
        new_map, ID_SHARD_COL, [id_col],
        DX._shard_col(artifacts.id_shards, id_col),
    )

    # WITH the id map the upsert's read set is bounded (touched buckets +
    # batch shards), so "optimistic" genuinely disjoint-merges in BOTH
    # modes: a racer carrying any of our ids must touch one of our shards
    # (ids hash to fixed shards) → partition overlap → conflict; a racer
    # on disjoint buckets AND disjoint shards is provably unrelated.
    # Crash exposure (files backend only): the group's two appends are
    # not one atomic write — a crash between them leaves the pair
    # inconsistent; verify_ann_id_map detects it and rebuild_ann_id_map
    # repairs it (sqlite commits the group as one transaction).
    expected = None
    if concurrency != "last-writer-wins":
        expected = {table.name: base_head, map_table.name: map_head}
    new_state, _ = DX._publish(
        spark, tracker, version, user_id, message,
        [
            (table, out, written_parts, emptied),
            (
                map_table, out_map,
                DX._shard_parts(ID_SHARD_COL, batch_shards), (),
            ),
        ],
        metastore,
        expected_heads=expected,
        allow_disjoint=(concurrency == "optimistic"),
    )
    return new_state, stamped


def commit_ann_stream_batch(
    batch_df: DataFrame,
    epoch_id: int,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "ann",
    artifacts: "AnnArtifacts | None" = None,
    message_prefix: str = "ann-stream",
    mode: str = "upsert",
    epoch_cache: "dict | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
) -> None:
    """Land ONE embedding micro-batch as an index extend (the
    ``foreachBatch`` body of :func:`ann_stream_sink`, exposed for direct
    use/testing).  Same epoch-replay contract as the streaming ingest
    sink (:mod:`chronicles_spark.streaming.ingest`): an epoch EQUAL to
    the latest committed one is a crash-replay and is skipped; an epoch
    BEHIND it (wiped checkpoint reusing ids under the same
    ``message_prefix``) raises.  ``epoch_cache`` amortizes the guard's
    log read to once per (re)start.  A concurrent index writer surfaces
    as :class:`~chronicles_spark.trackers.base.CommitConflictError`
    (extend's optimistic default) and fails the stream loudly — two
    writers maintaining one index is a deployment error, not a race to
    arbitrate silently."""
    DX._commit_index_stream_batch(extend=extend_ann_index, **locals())


def ann_stream_sink(
    stream_df: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str,
    checkpoint_dir: str,
    artifacts: "AnnArtifacts | None" = None,
    message_prefix: str = "ann-stream",
    mode: str = "upsert",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
):
    """Streaming maintenance of a materialized ANN index: every embedding
    micro-batch becomes one :func:`extend_ann_index` commit — the
    versioned-ingest sink's shape, composed with the index family.
    Caller starts it (and picks the trigger)::

        q = ann_stream_sink(emb_stream, index, tracker, "ml",
                            "/ckpt/index").trigger(availableNow=True).start()

    Pass ``artifacts=`` (the build's output) to skip the per-batch
    sidecar resolution; with the default every batch re-resolves from
    the live state, which also picks up an out-of-band full rebuild
    mid-stream (the next batch encodes under the NEW quantizer).
    Replayed epochs are skipped (batch-level exactly-once, keyed on
    ``message_prefix`` like the ingest sink — one sink per prefix).

    Per-batch cost: for an index built with an id map (the build
    default) the upsert locate is O(batch) — batch shards only, never
    an index-wide read — so ``mode="upsert"`` is safe at streaming
    cadence.  Only an index built with ``id_map_shards=None`` pays the
    whole-index (id, bucket) locate scan per micro-batch; there, prefer
    ``mode="append"`` + periodic rebuild, or run
    :func:`rebuild_ann_id_map` once to migrate."""
    return DX._index_stream_sink(commit_fn=commit_ann_stream_batch, **locals())


def vacuum_ann_artifacts(
    table: TableDefinition,
    tracker: VersionTracker,
    dry_run: bool = False,
    orphan_min_age=None,
    version_index: bool = True,
) -> list:
    """Reclaim artifact sidecars whose index version's DATA is gone —
    the companion sweep to :func:`~chronicles_spark.spark.vacuum.vacuum`
    (which reclaims the version directories but knows nothing about this
    module's sidecars).  Returns the removed (dry-run: doomed) paths.

    A sidecar is doomed when every version directory the commit log
    recorded for its label has already been deleted — pure storage
    truth, so this can never outrun vacuum's retention policy (tags,
    keep_last windows, branch pins all resolve to data directories that
    still exist).  Like :func:`~chronicles_spark.spark.vacuum.vacuum`,
    the sweep enumerates EVERY line of history over this storage
    location (the table plus all its branches) when mapping labels to
    directories — a label committed only on a branch must never be
    misread as a commit-less orphan — and refuses to run against a
    branch name (a branch shares its source's storage).  A sidecar whose
    label NO line's log recorded (a build that crashed between sidecar
    write and commit) is doomed only once older than ``orphan_min_age``
    (default 7 days — vacuum's orphan retention), and kept when the
    backend cannot report an mtime.  Cost: one root listing +
    O(#doomed-candidate labels × their partition count) existence
    probes — metadata-scale.  The label→directory mapping resolves
    through the persisted versions index + log tail
    (``spark/version_index.py``, shared with vacuum's) so the sweep
    costs O(new commits) log reads instead of re-parsing every commit
    of every line; ``version_index=False`` restores the full walk.
    The sweep itself is the family-generic
    :func:`~chronicles_spark.operators.sidecars.vacuum_artifact_sidecars`
    (shared with the dedup indexes' ``_dedup_artifacts_`` sidecars)."""
    from .sidecars import vacuum_artifact_sidecars

    return vacuum_artifact_sidecars(
        table, tracker, ARTIFACT_PREFIX,
        dry_run=dry_run, orphan_min_age=orphan_min_age,
        version_index=version_index,
    )


def verify_ann_id_map(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    id_col: str = "vec_id",
) -> DataFrame:
    """Differential audit of the index against its companion id map:
    returns the rows where they DISAGREE — an id live in the index whose
    map row is missing or points at a different bucket, or a map row
    whose id is gone from the index.  Empty result = consistent pair.

    This is the detection half of the files-backend crash exposure
    documented on :func:`extend_ann_index` (the group's two appends are
    not one atomic write); :func:`rebuild_ann_id_map` is the repair
    half.  Cost: one column-pruned scan of each table plus a join keyed
    on id — an OFFLINE audit, not a per-batch path."""
    from ..spark.reader import read_version

    state = tracker.current_version(table.name)
    map_state = tracker.current_version(ann_id_map_table(table).name)
    idx = read_version(spark, table, state, infer_partition_types=False).select(
        F.col(id_col), F.col(BUCKET_COL).alias("index_bucket")
    )
    mp = read_version(
        spark, ann_id_map_table(table), map_state, infer_partition_types=False
    ).select(F.col(id_col), F.col(BUCKET_COL).alias("map_bucket"))
    # a map value that is a PREFIX ANCESTOR of the index value agrees:
    # an in-commit re-split migrates live rows one suffix level deeper
    # without rewriting non-batch ids' map rows (the locate reads the
    # recorded value's whole subtree, so ancestors resolve correctly)
    agrees = (F.col("index_bucket") == F.col("map_bucket")) | F.col(
        "index_bucket"
    ).startswith(F.concat(F.col("map_bucket"), F.lit("_")))
    return DX._disagreements(
        idx, mp, [id_col], "index_bucket", "map_bucket", agrees
    )


def rebuild_ann_id_map(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "ann",
    message: str = "rebuild ann id map",
    artifacts: "AnnArtifacts | None" = None,
    id_col: str = "vec_id",
):
    """Re-derive the companion id map from the LIVE index — the repair
    tool for a files-backend crash that landed the index commit without
    its map commit (or vice versa), and the migration path for an index
    built before it had a map (pass ``artifacts=`` carrying the desired
    ``id_shards`` in that case).  One column-pruned scan of the index,
    one commit on the map table; shards the index no longer populates
    are removed from the live view in the same commit.  Returns the map
    table's new state.

    Migration completeness: every LIVE label's artifact sidecar is
    re-stamped with the map's ``id_shards`` — without that, future
    extends resolving artifacts from the sidecars would see ``None``,
    take the scan-locate path, and silently stop MAINTAINING the map
    just created (leaving it to rot stale)."""
    from ..spark.reader import read_version

    state = tracker.current_version(table.name)
    if not isinstance(state, PartitionedTableVersion):
        raise ValueError("ANN index tables are partitioned by bucket")
    if artifacts is None:
        artifacts = load_ann_artifacts(table, state)
    if artifacts.id_shards is None:
        raise ValueError(
            "this index has no id map (built with id_map_shards=None) — "
            "pass artifacts= with id_shards set to create one"
        )
    map_table = ann_id_map_table(table)
    tracker.init_table(map_table.name, is_snapshot=False, user_id=user_id)
    mapping = (
        read_version(spark, table, state, infer_partition_types=False)
        .select(F.col(id_col), F.col(BUCKET_COL))
        .withColumn(ID_SHARD_COL, DX._shard_col(artifacts.id_shards, id_col))
    )
    written = sorted(
        r["s"]
        for r in mapping.select(F.col(ID_SHARD_COL).alias("s")).distinct().collect()
    )
    map_state = tracker.current_version(map_table.name)
    if not isinstance(map_state, PartitionedTableVersion):
        map_state = PartitionedTableVersion({})
    # publish the repaired map AS A PAIR: the index side contributes an
    # empty update so both heads land the same pair marker — the repair
    # itself must re-establish the invariant the hot path checks (and a
    # crash between the rebuild's own two appends re-tears loudly, never
    # silently)
    DX._publish(
        spark, tracker, generate_version(), user_id, message,
        [
            (table, None, None, ()),
            (
                map_table,
                DX._shard_layout(mapping, ID_SHARD_COL, [id_col]),
                DX._shard_parts(ID_SHARD_COL, written),
                DX._emptied(map_state, ID_SHARD_COL, written),
            ),
        ],
        None,
    )
    new_map_state = tracker.current_version(map_table.name)
    # migration completeness: pin the shard modulus into every live
    # label's sidecar so auto-resolved extends keep maintaining the map
    from .artifact_payload import resolve_text

    fs, root = filesystem_for(table.location)
    for label in sorted({v.label for v in state.partition_versions.values()}):
        _, apath = _artifact_path(table, label)
        if fs.exists(apath):
            side = AnnArtifacts.from_json(
                resolve_text(fs, root, fs.read_text(apath))
            )
            if side.id_shards != artifacts.id_shards:
                # only id_shards changes: dropping max_bucket_rows here
                # would silently erase the recorded skew cap (and a crash
                # mid-loop would leave live sidecars disagreeing on BOTH
                # fields, making load_ann_artifacts raise).  Re-stamp via
                # the shared writer so an externalized payload keeps its
                # (content-unchanged) reference instead of re-inlining.
                _write_artifact_sidecar(
                    table, side.version_label,
                    side.centroid_list, side.codebook_list,
                    id_shards=artifacts.id_shards,
                    max_bucket_rows=side.max_bucket_rows,
                    bucket_splits=side.split_tree,
                )
    return new_map_state


def ann_recall_at_k(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    n_probes=(1, 2, 4),
    shortlist_k: "int | None" = None,
    metric: str = "cosine",
    artifacts: "AnnArtifacts | None" = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Measured recall@k of the indexed search (:func:`search_ann_index`,
    the full IVFPQ+refine recipe) against the exact answer, per
    ``n_probe`` — the tuning/monitoring surface for every knob that
    trades recall (n_probe, shortlist_k, and the build's m/k_sub).
    Returns a metadata-scale DataFrame ``(n_probe, k, shortlist_k,
    recall)`` with recall = |approx ∩ exact| / |exact| over all queries.

    The exact side is ONE broadcast-query pass over ``vectors`` (shared
    across all n_probe settings); run it on a SAMPLED query set — recall
    estimation needs tens-to-hundreds of queries, not the corpus.
    ``shortlist_k`` defaults to ``4 * k``."""
    if shortlist_k is None:
        shortlist_k = 4 * k
    from pyspark.sql import Window as W

    # norms once per query/vector, not once per crossJoin pair —
    # bit-equal cosine (the brute_topk note in similarity.py)
    q = queries.select(
        F.col(query_id_col), SIM.as_double(F.col(query_vec_col)).alias("qv")
    ).select(F.col(query_id_col), "qv", SIM.norm(F.col("qv")).alias("nq"))
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        SIM.as_double(F.col(vec_col)).alias("v"),
    ).select(F.col("neighbor_id"), "v", SIM.norm(F.col("v")).alias("nv"))
    if metric == "cosine":
        score = F.round(
            SIM.dot(F.col("qv"), F.col("v")) / (F.col("nq") * F.col("nv")), 6
        )
        order = [F.col("s").desc(), F.col("neighbor_id").asc()]
    elif metric == "l2":
        score = F.round(
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("v"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda acc, x: acc + x,
            ),
            6,
        )
        order = [F.col("s").asc(), F.col("neighbor_id").asc()]
    else:
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    w = W.partitionBy(query_id_col).orderBy(*order)
    exact = (
        v.crossJoin(F.broadcast(q))
        .select(query_id_col, "neighbor_id", score.alias("s"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "neighbor_id")
        .localCheckpoint(eager=True)  # one exact pass shared by all n_probe runs
    )
    n_exact = exact.count()
    rows = []
    for np_ in n_probes:
        approx = search_ann_index(
            spark, table, tracker, queries, vectors, k=k,
            shortlist_k=shortlist_k, n_probe=np_, metric=metric,
            artifacts=artifacts, query_id_col=query_id_col,
            query_vec_col=query_vec_col, id_col=id_col, vec_col=vec_col,
        ).select(query_id_col, F.col("neighbor_id"))
        hits = approx.join(exact, [query_id_col, "neighbor_id"], "left_semi").count()
        rows.append(
            (int(np_), int(k), int(shortlist_k),
             round(hits / n_exact, 6) if n_exact else None)
        )
    return spark.createDataFrame(
        rows, "n_probe int, k int, shortlist_k int, recall double"
    )


def search_ann_index(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    shortlist_k: int = 100,
    n_probe: int = 2,
    metric: str = "cosine",
    artifacts: "AnnArtifacts | None" = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full IVFPQ+refine recipe in one call: scan-pruned approximate
    search over the materialized index (``shortlist_k`` candidates per
    query — the recall knob), then exact re-ranking of the shortlist
    against ``vectors`` (the original full-precision embedding table)
    down to the final ``k``.  Returns
    :func:`~chronicles_spark.operators.similarity.rerank_topk`'s shape:
    (query_id, rank, neighbor_id, cosine|l2_dist).

    The corpus-scale cost profile composes from its parts: the index
    read touches only probed buckets; the exact pass touches only
    Q·shortlist_k original vectors (broadcast shortlist into one
    map-side pass over ``vectors``)."""
    if shortlist_k < k:
        raise ValueError(
            f"shortlist_k ({shortlist_k}) must be >= k ({k}) — it is the "
            "recall knob over the final exact top-k"
        )
    shortlist = ivfpq_topk_indexed(
        spark, table, tracker, queries, k=shortlist_k, n_probe=n_probe,
        artifacts=artifacts, query_id_col=query_id_col,
        query_vec_col=query_vec_col, id_col=id_col,
    )
    return SIM.rerank_topk(
        shortlist, vectors, queries, k=k, metric=metric,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )


def restrict_to_buckets(table_version, buckets) -> PartitionedTableVersion:
    """The sub-state holding ONLY the given buckets' live partitions —
    the partition-pruning step: feeding this to the versioned reader
    builds a path list that never mentions an unprobed bucket.  Bucket
    values compare as strings (partition values are strings at the
    metadata layer).  EVERY requested value also matches its whole
    split subtree: a LOGICAL bucket id matches its skew-split
    sub-partitions (probe ``3`` reads ``3``, ``3_0``, ``3_0_1``, ...),
    and a physical value (``3_0``) matches itself plus any NESTED
    re-splits (``3_0_1``) — the latter is what keeps an id-map entry
    recorded before an in-commit re-split resolvable afterwards."""
    wanted = {str(b) for b in buckets}
    prefixes = tuple(w + "_" for w in wanted)
    kept = {
        p: v
        for p, v in table_version.partition_versions.items()
        if (val := dict(p.column_values).get(BUCKET_COL)) in wanted
        or (prefixes and val is not None and val.startswith(prefixes))
    }
    return PartitionedTableVersion(kept)


def probed_bucket_paths(
    table: TableDefinition, table_version, buckets
) -> list:
    """Concrete live directories for exactly the probed buckets (audit /
    test surface for the scan-pruning claim)."""
    from ..spark.reader import live_paths

    return live_paths(table, restrict_to_buckets(table_version, buckets))


def ivfpq_topk_indexed(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    artifacts: "AnnArtifacts | None" = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    id_col: str = "vec_id",
    id_type: str = "long",
) -> DataFrame:
    """IVF+PQ search against a MATERIALIZED index, pruning at the scan.

    1. resolve the current index state and its pinned artifacts (or take
       ``artifacts=`` for a caller-cached / mixed-version index);
    2. probe selection — each query's ``n_probe`` nearest coarse buckets
       (:func:`~chronicles_spark.operators.similarity.select_probes`,
       tiny centroid broadcast);
    3. collect the DISTINCT probed bucket ids (metadata-scale: at most
       n_clusters ints, independent of Q — the same driver-side
       cardinality class as the reader's live-path resolution) and read
       ONLY those buckets' live directories through the versioned
       reader's path selection — unprobed buckets are never listed or
       opened, which is the scan-level pruning the in-memory
       :func:`~chronicles_spark.operators.similarity.ivfpq_topk` cannot
       do (its docstring's shuffle caveat);
    4. asymmetric-distance scoring of the pruned slice
       (:func:`~chronicles_spark.operators.similarity.adc_over_probes`).

    Returns (query_id, rank, neighbor_id, adc_dist), ranks 1..k by
    ascending approximate squared L2, id tie-break — byte-identical to
    ``ivfpq_topk`` under the same artifacts (pinned in the driver gate).
    Exact refinement: feed the result to
    :func:`~chronicles_spark.operators.similarity.rerank_topk` with a
    ``shortlist_k > k`` search.

    Probe-selection cost note: the probe relation is evaluated twice
    (once to collect the distinct bucket ids, once in the ADC join).
    Stage 1 is a map-side pass over the QUERY set against a k·dim
    broadcast — for the corpus-scale-Q regime cache ``queries`` first;
    the corpus side is read exactly once either way."""
    state = tracker.current_version(table.name)
    if not isinstance(state, PartitionedTableVersion):
        # checked up front on BOTH artifact paths: with artifacts= the
        # loader's identical check is skipped and a snapshot-table state
        # would otherwise surface later as an opaque AttributeError
        raise ValueError("ANN index tables are partitioned by bucket")
    if artifacts is None:
        artifacts = load_ann_artifacts(table, state)
    centroids = artifacts.centroid_list
    codebooks = artifacts.codebook_list

    # pin the probe relation (bounded: Q·n_probe rows) — it is consumed
    # twice (distinct-bucket collect + the ADC join) and without the pin
    # the query-side lineage would be re-evaluated per consumer.  An
    # eager localCheckpoint (not persist) because the second consumer is
    # the RETURNED plan, evaluated after this function exits: a
    # finally-unpersist would drop the cache before it runs, while the
    # checkpoint blocks live exactly as long as the returned DataFrame
    # (freed by the context cleaner when it is garbage-collected)
    probes = SIM.select_probes(
        queries, centroids, n_probe, query_id_col, query_vec_col
    ).localCheckpoint(eager=True)
    probed = sorted(
        r[BUCKET_COL] for r in probes.select(BUCKET_COL).distinct().collect()
    )

    from ..spark.reader import read_version

    sub_state = restrict_to_buckets(state, probed)
    if not sub_state.partition_versions:
        # Legitimate states, both yielding an EMPTY result (the in-memory
        # ivfpq_topk contract): no queries at all, or every probed bucket
        # is a memberless k-means cluster (kmeans_fit keeps empty
        # clusters' centroids; the build writes no partition for them).
        # The schema must match the non-empty path exactly — derive it by
        # running the normal pipeline over a zero-row slice of ANY live
        # partition instead of hardcoding column types.
        live = list(
            state.partition_versions.items()
            if isinstance(state, PartitionedTableVersion)
            else []
        )
        if not live:
            # initialized-but-empty index (artifacts passed explicitly,
            # no build yet): a no-op query must stay a no-op.  With no
            # data to derive the corpus id type from, neighbor_id takes
            # ``id_type`` (default long — pass the corpus id's Spark
            # type name when it differs so pre-build and post-build
            # schemas line up); the query-id type comes from the probes.
            qt = probes.schema[query_id_col].dataType.simpleString()
            return spark.createDataFrame(
                [],
                f"{query_id_col} {qt}, rank int, neighbor_id {id_type}, "
                "adc_dist double",
            )
        sub_state = PartitionedTableVersion(dict(live[:1]))
        codes = read_version(spark, table, sub_state).limit(0)
    else:
        codes = read_version(spark, table, sub_state)
    corpus = codes.select(
        F.col(id_col),
        # physical partition value -> logical probe-comparable bucket id
        # ("3" and its skew-split "3_0"/"3_1" all score as bucket 3)
        _logical_bucket().alias(BUCKET_COL),
        F.posexplode("pq_codes").alias("sub", "code"),
    )
    return SIM.adc_over_probes(
        corpus, probes, codebooks, k, id_col, query_id_col
    )
