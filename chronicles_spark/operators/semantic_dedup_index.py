"""Incremental SEMANTIC dedup: the SemDeDup recipe (Abbas et al. 2023 —
k-means clusters as the candidate generator, exact cosine as the
verifier) materialized on the versioned lake, so a daily embedding
batch semantic-dedups against the whole corpus in O(batch).

:func:`~chronicles_spark.operators.dedup.semantic_dedup` is
deliberately one-shot: its candidate structure is a LEARNED global
partition, and re-fitting per delta IS the one-shot (the design note in
``docs/usage.md`` §8f).  This module is the missing middle: pin the
learned centroids in the index's geometry sidecar — exactly how the ANN
index pins its quantizer — and the k-means assignment becomes a
deterministic bander over the stored payload, which is all the
family-generic core (:mod:`~chronicles_spark.operators.dedup_index`)
needs.  The FOURTH family instance, supplying only its artifacts
fields (:class:`SemanticDedupArtifacts`: the pinned centroids plus
``n_clusters``/``dim`` and the shard counts), its encoder, its
``_IndexFamily`` (bander + verifier) and its ``_Maintainer`` record:

* **encoder**: identity over ``(vec_id, embedding)`` — the doc store
  keeps raw vectors (exact-cosine verify needs them; PQ codes live in
  the ANN index, a different trade);
* **bander**: nearest pinned centroid (``band_id=0``, ``band_key`` =
  the cluster id as a string) — ONE band per vector, so candidates are
  exactly the one-shot's same-cluster pairs;
* **verifier**: exact cosine at or above ``threshold``.

Extends therefore read only the batch's clusters' band shards and the
candidates' vector shards; a re-submitted id re-derives its old cluster
from the stored vector (no corpus scan) — every structural guarantee
(sidecar serialization and agreement, the extend front end, shard
pruning, row-group pushdown, RMW pair commits, torn-pair refusal,
exactly-once pairs journal, the stream kernel with its epoch guard,
the verify audit's differential join, sidecar GC, ``exclusive``
flock) is inherited.

Centroid lifecycle: ``n_clusters``/``dim``/``centroids`` are IMMUTABLE
on rebuild (re-geometry re-shards from the stored vectors under the
SAME centroids; re-FITTING the quantizer is a fresh build — the same
refresh cadence as the ANN index's quantizer, and the drift story the
design note documents).  Size: small quantizers ride the JSON sidecar
inline; past ``PAYLOAD_INLINE_MAX`` (4 MB) the centroids externalize
automatically to ONE content-addressed parquet payload shared by every
label's re-stamp (:mod:`~chronicles_spark.operators.artifact_payload`
— resolved transparently on load, swept with the sidecars), bounded at
``PAYLOAD_MAX_BYTES`` (512 MB) beyond which the quantizer belongs in a
versioned table of its own.

Differential contract (tested, and gated on the driver's
``q_ann_ivf_kmeans`` row): build+extend equals the one-shot
``semantic_dedup`` under the SAME injected centroids (skew sub-buckets
off) restricted to batch-endpoint pairs.

No reference counterpart: stettix/chronicles versions tables
(core/.../VersionTracker.scala).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.model import TableDefinition
from ..core.version import generate_version
from ..trackers.base import VersionTracker
from . import dedup as DD
from .dedup_index import (
    DRIFT_MAX_BAND_SHARD_ROWS,
    _band_maintainer,
    _build_index,
    _commit_index_stream_batch,
    _extend_family_index,
    _index_stream_sink,
    _IndexArtifacts,
    _IndexFamily,
    _load_artifacts,
    _positive,
    _rebuild_geometry,
    _rebuild_index,
    _require_partitioning,
    _verify_index,
)
from .emb_dedup_index import _vec_encode
from .pairing import pinned_state


def _norm_centroids(centroids) -> list:
    """JSON-normalized centroid list ``[[cid, [floats...]], ...]`` so a
    freshly-fitted stamp and a sidecar-roundtripped one compare equal in
    the loader's geometry-agreement check."""
    return json.loads(json.dumps(
        [[int(cid), [float(x) for x in vec]] for cid, vec in centroids]
    ))


@dataclass(frozen=True)
class SemanticDedupArtifacts(_IndexArtifacts):
    """Geometry sidecar (the shared contract): the pinned CENTROIDS are
    part of the geometry — they define what band keys mean, exactly as
    ``width`` defines shingles — so extending under different centroids
    is refused by the same agreement check as every other family."""

    n_clusters: int
    dim: int
    band_shards: int
    doc_shards: int
    centroids: "list"  # [[cid, [floats...]], ...] — JSON-normalized
    version_label: str

    def centroid_list(self) -> list:
        """The ``[(cid, vec), ...]`` shape the similarity helpers take."""
        return [(int(cid), list(vec)) for cid, vec in self.centroids]


def load_semantic_dedup_artifacts(
    table: TableDefinition, table_version
) -> SemanticDedupArtifacts:
    return _load_artifacts(
        table, table_version, SemanticDedupArtifacts.from_json,
        "semantic dedup geometries",
    )


_SEMANTIC = _band_maintainer("semantic_dedup", load_semantic_dedup_artifacts)


def _sem_family(
    artifacts: SemanticDedupArtifacts, id_col: str, vec_col: str,
    threshold: "float | None",
):
    from .similarity import _assign_nearest, as_double

    cents = artifacts.centroid_list()

    def band_fn(payload: DataFrame) -> DataFrame:
        v = payload.select(
            F.col(id_col), as_double(F.col(vec_col)).alias("v")
        )
        return _assign_nearest(v, cents).select(
            F.col(id_col),
            F.lit(0).alias("band_id"),
            F.col("cluster").cast("string").alias("band_key"),
        )

    return _IndexFamily(
        kind="semantic_dedup",
        payload_col=vec_col,
        band_fn=band_fn,
        verify_fn=lambda payload, cand: DD.cosine_verify(
            payload, cand, id_col, vec_col, threshold
        ),
    )


def build_semantic_dedup_index(
    df: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    dim: int,
    user_id: str = "dedup",
    message: str = "build semantic dedup index",
    n_clusters: int = 64,
    iters: int = 3,
    train_fraction: "float | None" = None,
    centroids=None,
    band_shards: int = 32,
    doc_shards: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
):
    """Fit (or accept) the k-means coarse partition, assign the corpus
    ONCE, and publish the banded state as a versioned band table +
    vector store in one pair commit — the SemDeDup twin of
    :func:`~chronicles_spark.operators.dedup_index.build_dedup_index`.
    ``centroids`` injects an existing quantizer (the ANN build's
    refresh-without-drift move); omitted, ``kmeans_fit`` learns one here
    (``train_fraction`` samples the training set).  Returns
    ``(band_table_state, SemanticDedupArtifacts)``."""
    from .similarity import kmeans_fit

    _require_partitioning(table, _SEMANTIC)
    _positive(n_clusters=n_clusters, dim=dim, band_shards=band_shards,
              doc_shards=doc_shards)
    encoded = _vec_encode(df, id_col, vec_col, dim)
    if centroids is None:
        centroids = kmeans_fit(
            df, n_clusters, iters, id_col, vec_col,
            train_fraction=train_fraction,
        )
    if len(centroids) != n_clusters:
        raise ValueError(
            f"{len(centroids)} centroids supplied but n_clusters={n_clusters}"
        )
    if centroids and len(centroids[0][1]) != dim:
        raise ValueError(
            f"centroid dim {len(centroids[0][1])} does not match dim={dim}"
        )
    version = generate_version()
    artifacts = SemanticDedupArtifacts(
        n_clusters=n_clusters, dim=dim, band_shards=band_shards,
        doc_shards=doc_shards, centroids=_norm_centroids(centroids),
        version_label=version.label,
    )
    family = _sem_family(artifacts, id_col, vec_col, threshold=None)
    return _build_index(
        encoded, table, tracker, family, artifacts, version,
        user_id, message, id_col, metastore,
    )


def extend_semantic_dedup_index(
    df_new: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "extend semantic dedup index",
    threshold: float = 0.9,
    mode: str = "upsert",
    concurrency: str = "optimistic",
    artifacts: "SemanticDedupArtifacts | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
    exclusive: bool = False,
    drift_shard_rows: "int | None" = DRIFT_MAX_BAND_SHARD_ROWS,
):
    """Semantic-dedup ONE new embedding batch against the indexed corpus
    — and fold the batch in — in O(batch).  Returns ``(verified_pairs,
    band_table_state, artifacts)`` with ``verified_pairs`` =
    ``(id_a, id_b, cosine)`` for every SAME-CLUSTER pair at or above
    ``threshold`` with at least one batch endpoint — exactly the rows a
    one-shot :func:`~chronicles_spark.operators.dedup.semantic_dedup`
    under the pinned centroids would add for these vectors.  All other
    contracts (upsert/append, pairs journal, concurrency, drift
    warning, ``exclusive``) are the shared core's."""
    return _extend_family_index(
        _SEMANTIC,
        lambda df, arts, _: _vec_encode(df, id_col, vec_col, arts.dim),
        lambda arts: _sem_family(arts, id_col, vec_col, threshold),
        df_new, table, tracker, user_id, message, mode, concurrency,
        artifacts, id_col, metastore, pairs_table, exclusive,
        drift_shard_rows,
    )


def verify_semantic_dedup_index(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Differential audit: cluster assignments re-derived from the
    stored vectors under the pinned centroids vs the band table
    (empty = consistent)."""
    return _verify_index(
        spark, table, tracker, _SEMANTIC,
        lambda arts: _sem_family(arts, id_col, vec_col, threshold=None), id_col,
    )


def rebuild_semantic_dedup_index(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "rebuild semantic dedup index",
    band_shards: "int | None" = None,
    doc_shards: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs_table: "TableDefinition | None" = None,
    metastore=None,
):
    """Re-shard in place from ONE vector-store pass under the SAME
    pinned centroids (``n_clusters``/``dim``/``centroids`` are
    immutable — re-fitting the quantizer is a fresh build).  Shared
    strict pair-commit semantics."""
    _require_partitioning(table, _SEMANTIC)
    state, _, _ = pinned_state(tracker, table.name)
    old = load_semantic_dedup_artifacts(table, state)
    new_geo = _rebuild_geometry(
        old, band_shards=band_shards, doc_shards=doc_shards
    )
    version = generate_version()
    artifacts = SemanticDedupArtifacts(
        n_clusters=old.n_clusters, dim=old.dim, centroids=old.centroids,
        version_label=version.label, **new_geo,
    )
    family = _sem_family(artifacts, id_col, vec_col, threshold=None)
    return _rebuild_index(
        spark, table, tracker, _SEMANTIC, family, artifacts, version,
        user_id, message, id_col, pairs_table, metastore,
    )


def commit_semantic_dedup_stream_batch(
    batch_df: DataFrame,
    epoch_id: int,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    artifacts: "SemanticDedupArtifacts | None" = None,
    message_prefix: str = "semantic-dedup-stream",
    threshold: float = 0.9,
    mode: str = "upsert",
    epoch_cache: "dict | None" = None,
    on_pairs=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
) -> None:
    """``foreachBatch`` body — the shared epoch-replay and
    exactly-once-pairs contracts."""
    _commit_index_stream_batch(extend=extend_semantic_dedup_index, **locals())


def semantic_dedup_stream_sink(
    stream_df: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str,
    checkpoint_dir: str,
    artifacts: "SemanticDedupArtifacts | None" = None,
    message_prefix: str = "semantic-dedup-stream",
    threshold: float = 0.9,
    mode: str = "upsert",
    on_pairs=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
):
    """Streaming maintenance: one O(batch) extend commit per
    micro-batch (the shared shape)."""
    return _index_stream_sink(
        commit_fn=commit_semantic_dedup_stream_batch, **locals()
    )
