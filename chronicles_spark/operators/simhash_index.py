"""Incremental SIMHASH dedup: the banded-fingerprint state materialized
on the versioned lake — the third instance of the family-generic dedup
index core (:mod:`~chronicles_spark.operators.dedup_index`), and the
existence proof that a new similarity family supplies ONLY its
artifacts fields (:class:`SimhashDedupArtifacts`: ``bits``/``bands``
plus the shard counts), its encoder, its ``_IndexFamily`` (bander and
verifier) and its ``_Maintainer`` record (one ``_band_maintainer``
call).  Everything structural — sidecar serialization and agreement,
the extend front end, shard routing, band-key row-group pushdown,
upsert/append, the RMW pair-commit publish, torn-pair refusal, the
exactly-once pairs journal, re-geometry rebuild, the stream kernel
behind its stream wrappers (epoch guard, ``foreachBatch`` chain), the
differential join behind its verify audit, sidecar GC — is inherited:

* **encoder**: :func:`~chronicles_spark.operators.dedup.simhash_expr`
  — one map-side pass folds each doc to a ``bits``-wide fingerprint
  string, the ONLY payload the doc store keeps (a few bytes per doc —
  this family's store is ~1000× smaller than MinHash's shingle store,
  the classic simhash trade: cheaper state, coarser similarity);
* **bander**: the fingerprint's ``bands`` equal substring slices
  (pigeonhole: hamming(a,b) <= bands-1 ⇒ at least one shared slice) —
  band keys are short bit strings, sharded and sorted exactly like the
  other families';
* **verifier**: exact hamming distance over the stored fingerprints of
  candidate pairs, kept at or below ``max_hamming``.

Matches :func:`~chronicles_spark.operators.dedup.
simhash_near_dup_candidates` (with ``max_band_freq=None``) restricted
to batch-endpoint pairs — the family contract, differential-tested.
The one-shot operator's hot-piece skew guard is a CANDIDATE-side
concern; at index scale run exact/fingerprint dedup first so
template-heavy families are collapsed before simhash sees them (the
one-shot's own documented guidance).

No reference counterpart (stettix/chronicles versions tables only).
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
class SimhashDedupArtifacts(_IndexArtifacts):
    """Geometry sidecar (the shared contract): ``bits`` defines the
    stored fingerprint (immutable on rebuild — the payload IS the
    fingerprint); ``bands`` slices it into band keys."""

    bits: int
    bands: int
    band_shards: int
    doc_shards: int
    version_label: str


def load_simhash_dedup_artifacts(
    table: TableDefinition, table_version
) -> SimhashDedupArtifacts:
    return _load_artifacts(
        table, table_version, SimhashDedupArtifacts.from_json,
        "simhash dedup geometries",
    )


_SIMHASH = _band_maintainer("simhash_dedup", load_simhash_dedup_artifacts)


def _sim_encode(df: DataFrame, id_col: str, text_col: str, bits: int):
    return df.select(
        F.col(id_col), DD.simhash_expr(text_col, bits).alias("simhash")
    )


def _sim_family(
    artifacts: SimhashDedupArtifacts, id_col: str, max_hamming: "int | None"
):
    width = artifacts.bits // artifacts.bands

    def band_fn(payload: DataFrame) -> DataFrame:
        return payload.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            F.substring(
                                "simhash", b * width + 1, width
                            ).alias("band_key"),
                        )
                        for b in range(artifacts.bands)
                    ]
                )
            ).alias("bk"),
        ).select(id_col, "bk.band_id", "bk.band_key")

    def verify_fn(payload: DataFrame, cand: DataFrame) -> DataFrame:
        fa = payload.select(
            F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a")
        )
        fb = payload.select(
            F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b")
        )
        # exact hamming on the bit strings (simhash_near_dup_candidates'
        # own arithmetic — F.split takes a regex; "" is the established
        # per-character split)
        ham = F.size(
            F.filter(
                F.zip_with(
                    F.split(F.col("sim_a"), ""),
                    F.split(F.col("sim_b"), ""),
                    lambda x, y: x != y,
                ),
                lambda v: v,
            )
        )
        return (
            cand.join(fa, "id_a")
            .join(fb, "id_b")
            .select("id_a", "id_b", ham.alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
        )

    return _IndexFamily(
        kind="simhash_dedup",
        payload_col="simhash",
        band_fn=band_fn,
        verify_fn=verify_fn,
    )


def _validate_geometry(bits: int, bands: int) -> None:
    if bits > 32:
        # simhash_expr derives one vote per md5 hex digit — 32 of them;
        # substr past digit 32 yields '' so bits 33+ would be CONSTANT
        # '0': bands covering those positions get near-constant band
        # keys (quadratic in-bucket candidate blowup) and the weakened
        # similarity would persist as index geometry
        raise ValueError(
            f"bits={bits} exceeds the 32 votes one md5 provides; use "
            "bits <= 32 (chaining a second hash for wider fingerprints "
            "is not implemented)"
        )
    if bits % bands:
        raise ValueError(f"bands={bands} must divide bits={bits} evenly")


def build_simhash_dedup_index(
    df: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "build simhash dedup index",
    bits: int = 32,
    bands: int = 4,
    band_shards: int = 32,
    doc_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    metastore=None,
):
    """Fingerprint the corpus ONCE and publish the banded-simhash state
    as a versioned band table + fingerprint store, one pair commit —
    the simhash twin of :func:`~chronicles_spark.operators.dedup_index.
    build_dedup_index`.  Returns ``(band_table_state,
    SimhashDedupArtifacts)``."""
    _require_partitioning(table, _SIMHASH)
    geo = _positive(bits=bits, bands=bands, band_shards=band_shards,
                    doc_shards=doc_shards)
    _validate_geometry(bits, bands)
    version = generate_version()
    artifacts = SimhashDedupArtifacts(version_label=version.label, **geo)
    family = _sim_family(artifacts, id_col, max_hamming=None)
    return _build_index(
        _sim_encode(df, id_col, text_col, bits), table, tracker, family,
        artifacts, version, user_id, message, id_col, metastore,
    )


def extend_simhash_dedup_index(
    df_new: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "extend simhash dedup index",
    max_hamming: int = 3,
    mode: str = "upsert",
    concurrency: str = "optimistic",
    artifacts: "SimhashDedupArtifacts | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
    exclusive: bool = False,
    drift_shard_rows: "int | None" = DRIFT_MAX_BAND_SHARD_ROWS,
):
    """Near-dup-check ONE new batch against the indexed corpus — and
    fold the batch in — in O(batch).  Returns ``(verified_pairs,
    band_table_state, artifacts)`` with ``verified_pairs`` =
    ``(id_a, id_b, hamming)`` for every candidate pair (at least one
    shared fingerprint slice, at least one batch endpoint) with hamming
    at or below ``max_hamming`` — the rows :func:`~chronicles_spark.
    operators.dedup.simhash_near_dup_candidates` (no skew cap) would
    add for these docs.  All other contracts (upsert/append, pairs
    journal, concurrency, ``exclusive``) are the shared core's."""
    return _extend_family_index(
        _SIMHASH,
        lambda df, arts, _: _sim_encode(df, id_col, text_col, arts.bits),
        lambda arts: _sim_family(arts, id_col, max_hamming),
        df_new, table, tracker, user_id, message, mode, concurrency,
        artifacts, id_col, metastore, pairs_table, exclusive,
        drift_shard_rows,
    )


def verify_simhash_dedup_index(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    id_col: str = "doc_id",
) -> DataFrame:
    """Differential audit: band slices re-derived from the stored
    fingerprints vs the band table (empty = consistent)."""
    return _verify_index(
        spark, table, tracker, _SIMHASH,
        lambda arts: _sim_family(arts, id_col, max_hamming=None), id_col,
    )


def rebuild_simhash_dedup_index(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "rebuild simhash dedup index",
    bands: "int | None" = None,
    band_shards: "int | None" = None,
    doc_shards: "int | None" = None,
    id_col: str = "doc_id",
    pairs_table: "TableDefinition | None" = None,
    metastore=None,
):
    """Re-geometry from ONE fingerprint-store pass (``bits`` — the
    payload itself — cannot change; re-fingerprint from raw text via a
    fresh build instead).  Shared strict pair-commit semantics."""
    _require_partitioning(table, _SIMHASH)
    state, _, _ = pinned_state(tracker, table.name)
    old = load_simhash_dedup_artifacts(table, state)
    new_geo = _rebuild_geometry(
        old, bands=bands, band_shards=band_shards, doc_shards=doc_shards
    )
    _validate_geometry(old.bits, new_geo["bands"])
    version = generate_version()
    artifacts = SimhashDedupArtifacts(
        version_label=version.label, bits=old.bits, **new_geo
    )
    family = _sim_family(artifacts, id_col, max_hamming=None)
    return _rebuild_index(
        spark, table, tracker, _SIMHASH, family, artifacts, version,
        user_id, message, id_col, pairs_table, metastore,
    )


def commit_simhash_dedup_stream_batch(
    batch_df: DataFrame,
    epoch_id: int,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    artifacts: "SimhashDedupArtifacts | None" = None,
    message_prefix: str = "simhash-dedup-stream",
    max_hamming: int = 3,
    mode: str = "upsert",
    epoch_cache: "dict | None" = None,
    on_pairs=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
) -> None:
    """``foreachBatch`` body — the shared epoch-replay and
    exactly-once-pairs contracts."""
    _commit_index_stream_batch(extend=extend_simhash_dedup_index, **locals())


def simhash_dedup_stream_sink(
    stream_df: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str,
    checkpoint_dir: str,
    artifacts: "SimhashDedupArtifacts | None" = None,
    message_prefix: str = "simhash-dedup-stream",
    max_hamming: int = 3,
    mode: str = "upsert",
    on_pairs=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
):
    """Streaming maintenance: one O(batch) extend commit per
    micro-batch (the shared shape)."""
    return _index_stream_sink(
        commit_fn=commit_simhash_dedup_stream_batch, **locals()
    )
