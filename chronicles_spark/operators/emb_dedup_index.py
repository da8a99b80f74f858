"""Incremental EMBEDDING dedup: the sign-LSH state materialized on the
versioned lake, so near-dup-checking a new embedding batch against a
100 TB corpus is O(batch), not O(corpus).

:func:`~chronicles_spark.operators.dedup.embedding_lsh_dedup` recomputes
sign bits, band buckets, and exact cosines over the WHOLE corpus per
run — the exact gap :mod:`~chronicles_spark.operators.dedup_index`
closed for text MinHash in round 8.  This module is the embedding
instance of that family-generic core:

* the **band table** persists ``(vec_id, band_id, band_key)`` where
  ``band_key`` is the band's concatenated hyperplane sign bits
  (:func:`~chronicles_spark.operators.dedup.sign_lsh_banded` — the same
  deterministic md5-derived hyperplanes as the one-shot operator, so a
  DuckDB oracle reproduces the keys bit-for-bit), sharded and sorted
  exactly like the text band table;
* the **doc table** (``<name>_docs``) persists ``(vec_id, embedding)``
  — the exact-cosine verify source, sharded by id, files sorted by id;
* the optional **pairs table** journals each extend's verified
  ``(id_a, id_b, cosine)`` pairs exactly-once in the same pair commit.

Everything structural — sidecar serialization and agreement, the
extend front end, shard pruning, band-key row-group pushdown,
upsert/append semantics, the RMW pair-commit publish, torn-pair
refusal, re-geometry rebuild, the stream kernel behind its stream
wrappers, the differential join behind its verify audit, sidecar GC —
is the shared core in :mod:`~chronicles_spark.operators.dedup_index`;
this module supplies only its artifacts fields
(:class:`EmbeddingDedupArtifacts`: ``dim``/``n_planes`` in place of
``width``/``rows``), its encoder (identity over the vector column,
after a dim check), its ``_IndexFamily`` (the sign-LSH bander and the
exact-cosine verifier) and its ``_Maintainer`` record.

A replaced id's old vector re-derives its old band rows from the doc
store (sign bits are a pure function of the stored vector), so upserts
remove stale buckets without any corpus scan — the same argument as
text.  Recall matches :func:`embedding_lsh_dedup`'s documented LSH
trade-off: pairs at or above the cosine threshold that never collide
in any band are missed; tune ``(n_planes, bands)``.

No reference counterpart: stettix/chronicles versions tables
(core/.../VersionTracker.scala); this composes the repo's commit
protocol with its LLM-pipeline operators.
"""

from __future__ import annotations

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
from .pairing import pinned_state


@dataclass(frozen=True)
class EmbeddingDedupArtifacts(_IndexArtifacts):
    """The geometry an embedding dedup index version pins (the
    :class:`~chronicles_spark.operators.dedup_index.DedupArtifacts`
    contract: sidecar per data version label, all live labels must
    agree).  ``dim`` and ``n_planes`` define the hyperplanes; ``bands``
    slices the n_planes sign bits into band keys."""

    n_planes: int
    bands: int
    dim: int
    band_shards: int
    doc_shards: int
    version_label: str


def load_embedding_dedup_artifacts(
    table: TableDefinition, table_version
) -> EmbeddingDedupArtifacts:
    return _load_artifacts(
        table, table_version, EmbeddingDedupArtifacts.from_json,
        "embedding dedup geometries",
    )


_EMBEDDING = _band_maintainer("embedding_dedup", load_embedding_dedup_artifacts)


def _emb_family(
    artifacts: EmbeddingDedupArtifacts, id_col: str, vec_col: str,
    threshold: "float | None",
):
    return _IndexFamily(
        kind="embedding_dedup",
        payload_col=vec_col,
        band_fn=lambda payload: DD.sign_lsh_banded(
            payload, artifacts.dim, id_col, vec_col,
            artifacts.n_planes, artifacts.bands,
        ),
        verify_fn=lambda payload, cand: DD.cosine_verify(
            payload, cand, id_col, vec_col, threshold
        ),
    )


def _check_dim(df, vec_col: str, dim: int) -> None:
    """Milliseconds vs silently-wrong sign bits: a mismatched dim would
    NULL-poison the hyperplane dot products (zip_with pads the shorter
    array) — the semantic_dedup guard applied here."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if row and row[0]["d"] != dim:
        raise ValueError(
            f"dim={dim} does not match the embedding dimension "
            f"{row[0]['d']} observed in {vec_col!r}"
        )


def _vec_encode(df: DataFrame, id_col: str, vec_col: str, dim: int):
    """The vector families' encoder: the dim check, then the identity
    ``(id, vector)`` projection."""
    _check_dim(df, vec_col, dim)
    return df.select(F.col(id_col), F.col(vec_col))


def build_embedding_dedup_index(
    df: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    dim: int,
    user_id: str = "dedup",
    message: str = "build embedding dedup index",
    n_planes: int = 16,
    bands: int = 4,
    band_shards: int = 32,
    doc_shards: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
):
    """Band the corpus' embeddings ONCE and publish the sign-LSH state
    as a versioned band table + vector store, both in one pair commit —
    the embedding twin of
    :func:`~chronicles_spark.operators.dedup_index.build_dedup_index`
    (same table shapes, same commit protocol, same O(batch) extends
    afterwards).  Returns ``(band_table_state,
    EmbeddingDedupArtifacts)``.  The build produces no pairs — dedup of
    the base corpus is :func:`embedding_lsh_dedup`'s job (same
    hyperplanes, so build-then-extend agrees with it exactly)."""
    _require_partitioning(table, _EMBEDDING)
    geo = _positive(n_planes=n_planes, bands=bands, dim=dim,
                    band_shards=band_shards, doc_shards=doc_shards)
    if n_planes % bands:
        raise ValueError(
            f"bands={bands} must divide n_planes={n_planes} evenly"
        )
    encoded = _vec_encode(df, id_col, vec_col, dim)
    version = generate_version()
    artifacts = EmbeddingDedupArtifacts(version_label=version.label, **geo)
    family = _emb_family(artifacts, id_col, vec_col, threshold=None)
    return _build_index(
        encoded, table, tracker, family, artifacts, version,
        user_id, message, id_col, metastore,
    )


def extend_embedding_dedup_index(
    df_new: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "extend embedding dedup index",
    threshold: float = 0.95,
    mode: str = "upsert",
    concurrency: str = "optimistic",
    artifacts: "EmbeddingDedupArtifacts | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
    exclusive: bool = False,
    drift_shard_rows: "int | None" = DRIFT_MAX_BAND_SHARD_ROWS,
):
    """Near-dup-check ONE new embedding batch against the indexed
    corpus — and fold the batch in — in O(batch), independent of corpus
    size.  Returns ``(verified_pairs, band_table_state, artifacts)``
    where ``verified_pairs`` is ``(id_a, id_b, cosine)`` for every pair
    at or above ``threshold`` with at least one endpoint in the batch,
    id_a < id_b — exactly the rows a full :func:`embedding_lsh_dedup`
    re-run over corpus+batch would add for these vectors.  Semantics,
    cost shape, upsert/append/pairs/concurrency/``exclusive`` contracts
    are the text family's (:func:`~chronicles_spark.operators.
    dedup_index.extend_dedup_index`) — one shared core, different
    encoder/verifier."""
    return _extend_family_index(
        _EMBEDDING,
        lambda df, arts, _: _vec_encode(df, id_col, vec_col, arts.dim),
        lambda arts: _emb_family(arts, id_col, vec_col, threshold),
        df_new, table, tracker, user_id, message, mode, concurrency,
        artifacts, id_col, metastore, pairs_table, exclusive,
        drift_shard_rows,
    )


def verify_embedding_dedup_index(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Differential audit: re-derives every vector's band rows from the
    stored embeddings and returns disagreements with the band table
    (empty = consistent) — the embedding twin of
    :func:`~chronicles_spark.operators.dedup_index.verify_dedup_index`."""
    return _verify_index(
        spark, table, tracker, _EMBEDDING,
        lambda arts: _emb_family(arts, id_col, vec_col, threshold=None), id_col,
    )


def rebuild_embedding_dedup_index(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "rebuild embedding dedup index",
    n_planes: "int | None" = None,
    bands: "int | None" = None,
    band_shards: "int | None" = None,
    doc_shards: "int | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs_table: "TableDefinition | None" = None,
    metastore=None,
):
    """Re-geometry in place from ONE doc-store pass (the stored vectors
    re-derive everything; only ``dim`` — a property of the data — is
    immutable).  Same strict pair-commit semantics and sizing rule as
    :func:`~chronicles_spark.operators.dedup_index.rebuild_dedup_index`."""
    _require_partitioning(table, _EMBEDDING)
    state, _, _ = pinned_state(tracker, table.name)
    old = load_embedding_dedup_artifacts(table, state)
    new_geo = _rebuild_geometry(
        old, n_planes=n_planes, bands=bands, band_shards=band_shards,
        doc_shards=doc_shards,
    )
    if new_geo["n_planes"] % new_geo["bands"]:
        raise ValueError(
            f"bands={new_geo['bands']} must divide "
            f"n_planes={new_geo['n_planes']} evenly"
        )
    version = generate_version()
    artifacts = EmbeddingDedupArtifacts(
        version_label=version.label, dim=old.dim, **new_geo
    )
    family = _emb_family(artifacts, id_col, vec_col, threshold=None)
    return _rebuild_index(
        spark, table, tracker, _EMBEDDING, family, artifacts, version,
        user_id, message, id_col, pairs_table, metastore,
    )


def commit_embedding_dedup_stream_batch(
    batch_df: DataFrame,
    epoch_id: int,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    artifacts: "EmbeddingDedupArtifacts | None" = None,
    message_prefix: str = "emb-dedup-stream",
    threshold: float = 0.95,
    mode: str = "upsert",
    epoch_cache: "dict | None" = None,
    on_pairs=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
) -> None:
    """Land ONE embedding micro-batch as an index extend — the
    ``foreachBatch`` body of :func:`embedding_dedup_stream_sink`; same
    epoch-replay and exactly-once-pairs contracts as the text family's
    :func:`~chronicles_spark.operators.dedup_index.
    commit_dedup_stream_batch`."""
    _commit_index_stream_batch(extend=extend_embedding_dedup_index, **locals())


def embedding_dedup_stream_sink(
    stream_df: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str,
    checkpoint_dir: str,
    artifacts: "EmbeddingDedupArtifacts | None" = None,
    message_prefix: str = "emb-dedup-stream",
    threshold: float = 0.95,
    mode: str = "upsert",
    on_pairs=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
):
    """Streaming maintenance of the embedding dedup index: every
    micro-batch becomes one O(batch) extend commit — the daily-delta
    shape for embedding pipelines (each batch near-dup-checked against
    everything ever embedded, then folded in)."""
    return _index_stream_sink(
        commit_fn=commit_embedding_dedup_stream_batch, **locals()
    )
