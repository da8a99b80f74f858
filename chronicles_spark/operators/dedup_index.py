"""Incremental corpus-delta dedup: the LSH state materialized ON the
versioned lake, so deduping a NEW batch against a 100 TB corpus is
O(batch), not O(corpus).

:func:`~chronicles_spark.operators.dedup.minhash_dedup` recomputes
shingles, signatures, and band buckets over the WHOLE corpus per
invocation — correct, banded, but a daily crawl dump cannot re-run LSH
over everything it was ever deduped against.  This module applies the
repo's "index the derived state" move (the ANN family's companion
id-map pattern, ``operators/ann_index.py``) to fuzzy dedup:

* the **band table** (the caller's primary table) persists
  ``(doc_id, band_id, band_key)`` — b tiny rows per doc — partitioned by
  ``band_shard = pmod(xxhash64(band_id, band_key), band_shards)``: a new
  batch's band keys resolve to at most ``min(b·|batch|, band_shards)``
  shard partitions, read through the same structural pruning as the ANN
  index's probed buckets; files are written SORTED by ``(band_id,
  band_key)`` so the candidate read's pushed IN-list of the batch's
  band keys prunes at parquet row-group level WITHIN each touched
  shard — the per-extend read cost is O(batch's row groups), not
  O(shard bytes), even as shards grow with the corpus;
* the **doc table** (``<name>_docs``) persists ``(doc_id, payload)`` —
  the exact-verify source — partitioned by ``doc_shard =
  pmod(xxhash64(doc_id), doc_shards)`` with files sorted by id, so
  fetching the candidates' payloads reads only the candidate ids'
  shards (row-group pruned), never the corpus;
* optionally a **pairs table** (``<name>_pairs``) journals each
  extend's verified duplicate pairs as one ``batch=<label>`` partition
  landed in the SAME pair commit group — the exactly-once surface for
  the operator's actual product (``on_pairs`` callbacks stay sugar).

:func:`extend_dedup_index` then dedups a batch by: encode the batch →
read ONLY its band shards (row-group pruned to its band keys) →
candidate pairs (batch × corpus and batch × batch) → exact verify
against payloads fetched from ONLY the candidates' doc shards →
publish the batch's band/doc rows as a read-modify-write of exactly
the touched shards, all tables in ONE optimistic pair commit
(``operators/pairing.py`` — same torn-pair refusal as the ANN family).
Every per-invocation cost is bounded by the batch and its candidates;
nothing scales with corpus size.

The machinery is a FAMILY-GENERIC core: the text family here (MinHash
shingles + exact Jaccard), the simhash, embedding and semantic families
(:mod:`~chronicles_spark.operators.simhash_index`,
:mod:`~chronicles_spark.operators.emb_dedup_index`,
:mod:`~chronicles_spark.operators.semantic_dedup_index`) and the
cluster index share one build/extend/verify/rebuild protocol, one
geometry-sidecar lifecycle (:class:`_IndexArtifacts`), one extend front
end (:func:`_extend_front`, which the ANN index and the cluster fold
run too), one stream kernel (:func:`_commit_index_stream_batch`,
:func:`_index_stream_sink`) and one differential audit join
(:func:`_disagreements`).  A family supplies only its artifacts fields,
its encoder (``df -> (id, payload)``), its :class:`_Maintainer` record
and its :class:`_IndexFamily` (bander + verifier).

All text hashes are md5-hex (the in-memory operators' convention) so
DuckDB oracles reproduce results bit-for-bit; shard routing uses
xxhash64 on typed values (the id-map convention — keep id/band column
TYPES stable across batches).

No reference counterpart: stettix/chronicles versions tables
(core/.../VersionTracker.scala); the dedup index composes its commit
protocol with this repo's LLM-pipeline operators.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, replace
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..core.model import (
    Partition,
    PartitionedTableVersion,
    PartitionSchema,
    TableDefinition,
    TableName,
)
from ..core.version import generate_version, parse_version
from ..trackers.base import VersionTracker
from ..trackers.fs import filesystem_for
from . import dedup as DD
from .pairing import (
    TornPairError,
    _require_dynamic_overwrite,
    check_pair,
    pair_message,
    pinned_state,
    publish_group,
)

ARTIFACT_PREFIX = "_dedup_artifacts_"
BAND_SHARD_COL = "band_shard"
DOC_SHARD_COL = "doc_shard"
PAIRS_BATCH_COL = "batch"

# collecting this many candidate ids / batch band keys to the driver for
# an IN-list parquet pushdown is cheap; above it the reads rely on shard
# pruning + the semi-join alone (same constant class as the ANN locate)
_FETCH_PUSHDOWN_MAX_IDS = 10_000

# geometry-drift guard: warn when an extend observes a touched band
# shard holding more rows than this after its RMW — band rows are
# ~60-100 bytes, so 5M rows ≈ the "few hundred MB per shard" sizing
# target (docs/scale.md §"Sizing the dedup index"); staying under it is
# what keeps the RMW rewrite O(batch's share of bounded shards)
DRIFT_MAX_BAND_SHARD_ROWS = 5_000_000


class DedupGeometryDriftWarning(UserWarning):
    """An extend observed per-shard row counts beyond the sizing target —
    the index has outgrown its shard geometry; run ``rebuild_dedup_index``
    (or the family's rebuild) with scaled shard counts."""


# ---------------------------------------------------------------------------
# family strategy: what distinguishes text dedup from embedding dedup


@dataclass(frozen=True)
class _IndexFamily:
    """The points where the dedup families differ; everything else —
    shard routing, structural pruning, row-group pushdown, the RMW
    pair-commit publish, upsert/append semantics, the pairs journal,
    rebuild, the extend front end (:class:`_Maintainer`) — is the
    shared core.

    ``band_fn(payload_df) -> (id, band_id, band_key)`` must be
    DETERMINISTIC across invocations (extends must reproduce the
    build's band keys bit-for-bit) and derive ONLY from the stored
    payload column, so replacement lookups and offline verification
    can re-derive band rows without the raw source.
    ``verify_fn(payload_df, cand) -> (id_a, id_b, <score>)`` is the
    exact (not estimated) similarity check over candidate pairs."""

    kind: str
    payload_col: str
    band_fn: "object"
    verify_fn: "object"


def _family_name(kind: str) -> str:
    """A family's name in messages (``simhash_dedup`` -> ``simhash dedup``)."""
    return kind.replace("_", " ")


@dataclass(frozen=True)
class _Maintainer:
    """What one lake-index maintainer supplies the shared extend front
    end (:func:`_extend_front`): ``what`` names its primary table in the
    partitioning refusal, ``partition_col`` is that table's one
    partition column, ``advice`` ends the torn-pair refusal,
    ``load(table, state, pair label)`` resolves the geometry when the
    caller passes none, and ``companion(table, artifacts)`` is the
    paired table (``None``: nothing to pin)."""

    what: str
    partition_col: str
    advice: str
    load: "object"
    companion: "object"


def _band_maintainer(kind: str, load) -> _Maintainer:
    """A dedup family's maintainer: the band table with the doc store as
    its companion; the advice names the family's own build."""
    return _Maintainer(
        what=f"{_family_name(kind)} band table",
        partition_col=BAND_SHARD_COL,
        advice=(
            f"rebuild with build_{kind}_index over the full corpus (or "
            "checkout both tables to a matching pair) before extending"
        ),
        load=lambda table, state, _pair: load(table, state),
        companion=lambda table, _arts: dedup_docs_table(table),
    )


def _text_family(artifacts: "DedupArtifacts", id_col: str, threshold: float):
    return _IndexFamily(
        kind="dedup",
        payload_col="shingles",
        band_fn=lambda payload: DD.lsh_banded(
            payload, id_col, artifacts.bands, artifacts.rows
        ),
        verify_fn=lambda payload, cand: DD.jaccard_verify(
            payload, cand, id_col, threshold
        ),
    )


# ---------------------------------------------------------------------------
# companion table shapes


def dedup_docs_table(table: TableDefinition) -> TableDefinition:
    """The companion ``(doc_id -> payload)`` store derived from a band
    table definition: ``<name>_docs`` at ``<location>_docs``, partitioned
    by ``doc_shard``.  This is what makes exact verification O(candidates)
    instead of O(corpus): candidate ids resolve to at most
    ``min(|candidates|, doc_shards)`` shard partitions, and within a
    shard the files are written SORTED by id so a small candidate set's
    IN-list filter prunes at parquet row-group level.  Sizing rule: pick
    ``doc_shards`` so one shard's payload is a few hundred MB at
    target scale (text shingles are ~3× doc bytes; this table is the
    index's dominant storage cost and the price of EXACT — not
    signature-estimated — similarity).  See ``docs/scale.md`` for the
    geometry sizing rule and :func:`rebuild_dedup_index` for changing
    it in place."""
    return TableDefinition(
        TableName(table.name.schema, table.name.name + "_docs"),
        table.location.rstrip("/") + "_docs",
        PartitionSchema((DOC_SHARD_COL,)),
        format=table.format,
        format_options=table.format_options,
    )


def dedup_pairs_table(table: TableDefinition) -> TableDefinition:
    """The optional verified-pairs journal: ``<name>_pairs`` at
    ``<location>_pairs``, partitioned by ``batch`` — ONE partition per
    extend, valued by the extend's pair version label and landed in the
    SAME pair commit group as the band/doc RMW.  That makes the pairs
    exactly-once: a replayed streaming epoch is skipped before the
    extend runs (no double-landing), and a crash can only tear the
    GROUP, which the next extend refuses loudly and
    :func:`repair_dedup_pairs` heals from the already-written files.
    Pass it to :func:`extend_dedup_index` CONSISTENTLY (every extend or
    never): the pairs line's pair marker must track the primary's."""
    return TableDefinition(
        TableName(table.name.schema, table.name.name + "_pairs"),
        table.location.rstrip("/") + "_pairs",
        PartitionSchema((PAIRS_BATCH_COL,)),
        format=table.format,
        format_options=table.format_options,
    )


# ---------------------------------------------------------------------------
# the shard kernel every lake index shares (dedup families, ANN, cluster)


def _shard_col(n: int, *cols: str):
    """A row's shard, the routing rule of every index table: xxhash64 is
    stable across Spark versions, so extends route as the build did; it
    hashes TYPED values, so column types must stay stable."""
    route = F.pmod(F.xxhash64(*(F.col(c) for c in cols)), F.lit(n))
    return route.cast("string")


def _shard_layout(df, shard: str, keys, route=None):
    """``df`` laid out for a shard-partitioned write (``shard`` set to
    ``route`` when given), files sorted by ``(shard, *keys)`` so IN-list
    reads prune row groups."""
    if route is not None:
        df = df.withColumn(shard, route)
    return df.repartition(F.col(shard)).sortWithinPartitions(shard, *keys)


def _shard_parts(shard: str, values) -> list:
    """The shard values' partitions, sorted."""
    return [Partition.of((shard, s)) for s in sorted(values)]


def _rmw_shards(
    spark, table, state, shard, values, new_rows, cols, id_col,
    replaced=None, restrict=None,
):
    """RMW of the touched shards: ``new_rows`` ∪ the live ``cols`` of the
    partitions ``restrict`` picks for ``values`` (default
    :func:`_restrict_to_values`), minus live rows whose ``id_col`` is in
    ``replaced``.  Returns ``(rows, sub)``, ``sub`` the state read."""
    from ..spark.reader import read_version

    sub = (restrict or _restrict_to_values)(state, shard, values)
    if not sub.partition_versions:
        return new_rows, sub
    live = read_version(
        spark, table, sub, infer_partition_types=False
    ).select(*cols)
    if replaced is not None:
        live = live.join(replaced, id_col, "left_anti")
    return new_rows.unionByName(live), sub


def _shard_counts(df, shard: str) -> dict:
    """``{shard value: rows}`` of ``df``."""
    return {
        r["s"]: r["n"]
        for r in df.groupBy(F.col(shard).alias("s"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _emptied(sub, shard: str, written) -> list:
    """The partitions an RMW read (``sub``) but wrote no row back into;
    they leave the live view in the same commit."""
    had_live = {dict(p.column_values)[shard] for p in sub.partition_versions}
    return _shard_parts(shard, had_live - set(written))


def _observe_written(
    df, shard: str, sub, table=None, drift_rows=None, family="", what="",
    advice="",
):
    """``(df, {shard: rows}, emptied)`` of an RMW output consumed twice
    (this count and its write): the lineage barrier reads the touched
    shards once; ``eager=False`` as the count lands its final stage.
    A written shard over ``drift_rows`` warns (the sizing rule is only
    enforced by rebuilds an operator remembers to run)."""
    df = DD.lineage_barrier(df, eager=False)
    counts = _shard_counts(df, shard)
    if drift_rows is not None and counts:
        s, n = max(counts.items(), key=lambda kv: kv[1])
        if n > drift_rows:
            import warnings

            warnings.warn(
                f"{family} {table.name}: touched {what} {s!r} now holds "
                f"{n} rows (> {drift_rows} sizing target) — the index has "
                f"outgrown its shard geometry; {advice}",
                DedupGeometryDriftWarning,
                stacklevel=4,
            )
    return df, counts, _emptied(sub, shard, counts)


def _batch_stats(id_col: str) -> list:
    """A batch's row, distinct-id and NULL-id counts (:func:`_check_batch`)."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.col(id_col)).alias("nd"),
        F.count(F.when(F.col(id_col).isNull(), 1)).alias("nn"),
    ]


def _check_batch(counts, id_col: str, kind: str) -> None:
    """Refuse NULL ids (they would never match the upsert anti-join),
    duplicate ids and empty batches by name."""
    if counts["nn"]:
        raise ValueError(
            f"df_new contains {counts['nn']} NULL {id_col} value(s) — "
            "every row needs a concrete id"
        )
    if counts["n"] != counts["nd"]:
        raise ValueError(
            f"df_new contains duplicate {id_col} values ({counts['n']} rows, "
            f"{counts['nd']} distinct ids) — deduplicate the batch first "
            "(exact_duplicate_groups)"
        )
    if not counts["n"]:
        raise ValueError(f"extend_{kind}_index got an empty batch")


def _require_partitioned(table, state) -> None:
    """Refuse an index line whose state is not partitioned (a snapshot
    log under an index table definition)."""
    if not isinstance(state, PartitionedTableVersion):
        raise ValueError(
            f"index table {table.name} must resolve to a state partitioned "
            f"by {', '.join(table.partition_schema.columns)}"
        )


def _pin_companion(tracker, table, pair, companion, advice):
    """The companion line pinned (``pinned_state``), a torn pair against
    the primary's ``pair`` label refused: ``(state, head)``."""
    cstate, chead, cpair = pinned_state(tracker, companion.name)
    check_pair(table, pair, cpair, advice)
    _require_partitioned(companion, cstate)
    return cstate, chead


def _pin_pair(tracker, table, companion, advice):
    """Both lines pinned, a torn pair refused: ``(state, head, pair
    label, companion state, companion head)``."""
    state, head, pair = pinned_state(tracker, table.name)
    _require_partitioned(table, state)
    return (state, head, pair,
            *_pin_companion(tracker, table, pair, companion, advice))


def _publish(spark, tracker, version, user_id, message, writes, metastore,
             **group):
    """``publish_group``, then ``(new state, added partitions)`` of the
    primary (first) table, synced to the metastore when given."""
    table = writes[0][0]
    added = publish_group(
        spark, tracker, version, user_id, message, writes, **group
    )
    state = tracker.current_version(table.name)
    _sync_metastore(metastore, table, state)
    return state, added


# ---------------------------------------------------------------------------
# geometry sidecars


class _IndexArtifacts:
    """Sidecar serialization shared by the dedup families' and the
    cluster index's frozen-dataclass artifacts: every field but
    ``version_label`` is geometry, so ALL of it rides the sidecar (named
    by data version label, the AnnArtifacts convention) and the
    loader's agreement check.  ``from_json`` is driven by the dataclass
    fields: ``int`` fields are cast, the rest are taken as stored."""

    def geometry(self) -> dict:
        d = self.__dict__.copy()
        d.pop("version_label")
        return d

    def with_label(self, label: str):
        return replace(self, version_label=label)

    def to_json(self) -> str:
        return json.dumps({"version_label": self.version_label, **self.geometry()})

    @classmethod
    def from_json(cls, text: str):
        d = json.loads(text)
        return cls(**{
            f.name: int(d[f.name]) if f.type == "int" else d[f.name]
            for f in cls.__dataclass_fields__.values()
        })


def _positive(**geo) -> dict:
    """Every geometry value must be >= 1; returns ``geo``."""
    for n, v in geo.items():
        if v < 1:
            raise ValueError(f"{n} must be >= 1, got {v}")
    return geo


def _rebuild_geometry(old, **new) -> dict:
    """A rebuild's geometry: each given value replaces the old sidecar's,
    ``None`` keeps it."""
    return _positive(
        **{n: getattr(old, n) if v is None else v for n, v in new.items()}
    )


@dataclass(frozen=True)
class DedupArtifacts(_IndexArtifacts):
    """The geometry a dedup index version pins: every field changes what
    band keys / shard routes mean — extending under different geometry
    would silently miss duplicates."""

    bands: int
    rows: int
    width: int
    band_shards: int
    doc_shards: int
    version_label: str


def _artifact_path(
    table: TableDefinition, label: str, prefix: str = ARTIFACT_PREFIX
):
    fs, root = filesystem_for(table.location)
    return fs, fs.join(root, prefix + label + ".json")


# the geometry sidecar is a small JSON document re-read on EVERY
# extend/load resolution — a quantizer-scale payload (10⁵ clusters ×
# 768 dims ≈ hundreds of MB of JSON) does not fit that contract and is
# refused loudly at the single write choke point instead of silently
# turning each base resolution into a multi-hundred-MB parse
# (docs/scale.md "artifact sidecars").  32 MB comfortably holds the
# documented 10⁵–10⁶-float centroid range (~20 MB of JSON) and every
# non-quantizer family's geometry (a handful of ints).
ARTIFACT_JSON_MAX_BYTES = 32 * 1024 * 1024


def _check_artifact_size(payload: str, table, what: str) -> None:
    if len(payload) > ARTIFACT_JSON_MAX_BYTES:
        raise ValueError(
            f"{what} geometry sidecar for {table.name} serializes to "
            f"{len(payload):,} bytes (> the sidecar bound of "
            f"{ARTIFACT_JSON_MAX_BYTES:,} bytes) — sidecars are re-parsed "
            "on every extend/load, so quantizer-scale payloads don't fit "
            "this contract.  Reduce n_clusters / sub-quantizer size, "
            "pre-reduce the embedding dim, or keep the coarse quantizer "
            "in the ANN index family at a size under the bound"
        )


def _write_artifact_sidecar(
    table, stamped, what: str = "index", prefix: str = ARTIFACT_PREFIX
) -> None:
    """Sidecar BEFORE the data commit (the ANN build's crash-ordering
    contract): a crash leaves an orphan sidecar (reclaimed by
    :func:`vacuum_dedup_artifacts` / ``vacuum_ann_artifacts``), never a
    committed index whose geometry is missing.  Quantizer-scale bulk
    fields externalize to a content-addressed parquet payload
    (``operators/artifact_payload``, landed before the sidecar
    referencing it — the crash ordering extends one link); whatever
    stays inline is bounded by ``ARTIFACT_JSON_MAX_BYTES`` (see
    :func:`_check_artifact_size`, whose refusal names the caller's
    family ``what``)."""
    from .artifact_payload import externalize_doc

    fs, root = filesystem_for(table.location)
    text = stamped.to_json()
    orig = json.loads(text)
    doc = externalize_doc(fs, root, orig)
    payload = text if doc is orig else json.dumps(doc)
    _check_artifact_size(payload, table, what)
    _, apath = _artifact_path(table, stamped.version_label, prefix)
    fs.mkdirs(root)
    fs.write_text(apath, payload)


def _load_artifacts(
    table: TableDefinition, table_version, from_json, what: str,
    extra_labels=(), prefix: str = ARTIFACT_PREFIX,
):
    """Geometry pinned by a resolved table state: every distinct live
    label's sidecar must AGREE on ``geometry()`` (extends re-stamp the
    same geometry under their new label).  Returns the NEWEST label's
    sidecar — for the dedup families that equals the first one
    re-stamped, for ANN it also carries the newest evolving split tree.
    ``what`` names the disagreeing geometry in the refusal.
    ``extra_labels`` joins the check for families whose index may
    legitimately be EMPTY (the cluster index anchors the head's pair
    label so a partition-less state still resolves its sidecar)."""
    _require_partitioned(table, table_version)
    labels = sorted(
        {v.label for v in table_version.partition_versions.values()}
        | set(extra_labels)
    )
    if not labels:
        raise ValueError(f"table {table.name} has no live index data")
    from .artifact_payload import resolve_text

    pfs, proot = filesystem_for(table.location)
    loaded = []
    for label in labels:
        fs, apath = _artifact_path(table, label, prefix)
        if not fs.exists(apath):
            raise ValueError(
                f"no artifact sidecar for live index version {label} at {apath}"
            )
        loaded.append(from_json(resolve_text(pfs, proot, fs.read_text(apath))))
    first = loaded[0]
    for other in loaded[1:]:
        if other.geometry() != first.geometry():
            raise ValueError(
                f"table {table.name} has live partitions written under "
                f"DIFFERENT {what} (labels {labels}) — pass artifacts= "
                "explicitly or rebuild the index"
            )
    return replace(loaded[-1], version_label=labels[-1])


def load_dedup_artifacts(
    table: TableDefinition, table_version
) -> DedupArtifacts:
    return _load_artifacts(
        table, table_version, DedupArtifacts.from_json, "dedup geometries"
    )


_TEXT = _band_maintainer("dedup", load_dedup_artifacts)


def _shingle_batch(df, id_col, text_col, width):
    return df.select(
        F.col(id_col), DD.shingles_of(F.col(text_col), width).alias("shingles")
    )


def _require_partitioning(table, m: _Maintainer) -> None:
    """Refuse an index table not partitioned by exactly the maintainer's
    one partition column."""
    if tuple(table.partition_schema.columns) != (m.partition_col,):
        raise ValueError(
            f"{m.what} must be partitioned by ({m.partition_col!r},), "
            f"got {table.partition_schema.columns}"
        )


def _sync_metastore(metastore, table, state) -> None:
    if metastore is None:
        return
    from ..core.diff import compute_changes

    actual = metastore.current_version(table)
    metastore.update(table, compute_changes(actual, state))


# ---------------------------------------------------------------------------
# build


def build_dedup_index(
    df: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "build dedup index",
    bands: int = 8,
    rows: int = 2,
    width: int = DD.SHINGLE_WIDTH,
    band_shards: int = 32,
    doc_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    metastore=None,
):
    """Shingle + MinHash the corpus ONCE and publish the LSH state as a
    versioned band table + doc (shingle) store, both in one pair commit.
    Returns ``(band_table_state, DedupArtifacts)``.

    ``table`` must be partitioned by exactly ``(band_shard,)`` and
    already ``init_table``-ed; the companion doc table
    (:func:`dedup_docs_table`) is initialized here.

    Scale shape: ONE pass over the raw text lands the doc table (the
    shingle expression evaluates exactly once — it is written, not
    cached); the band table then derives from the WRITTEN shingle
    parquet (the ANN build's derive-the-companion-from-disk move), so
    the corpus text is read once and the expensive tokenize+shingle
    step never re-evaluates.  Both writes shuffle only on their shard
    columns; commits are O(#shards) metadata.  The build produces no
    pairs — dedup of the base corpus is
    :func:`~chronicles_spark.operators.dedup.minhash_dedup`'s job (same
    md5 signatures, so build-then-extend agrees with it exactly);
    this function only materializes the state that makes every LATER
    batch O(batch)."""
    _require_partitioning(table, _TEXT)
    geo = _positive(bands=bands, rows=rows, width=width,
                    band_shards=band_shards, doc_shards=doc_shards)
    version = generate_version()
    artifacts = DedupArtifacts(version_label=version.label, **geo)
    family = _text_family(artifacts, id_col, threshold=None)
    encoded = _shingle_batch(df, id_col, text_col, width)
    return _build_index(
        encoded, table, tracker, family, artifacts, version,
        user_id, message, id_col, metastore,
    )


def _build_index(
    encoded, table, tracker, family, artifacts, version,
    user_id, message, id_col, metastore,
):
    """Family-generic build: one pass over the encoded corpus lands the
    doc (payload) store; the band table derives from the WRITTEN
    payload parquet; both publish as one pair commit."""
    spark = encoded.sparkSession
    _require_dynamic_overwrite(spark)
    docs_table = dedup_docs_table(table)
    tracker.init_table(docs_table.name, is_snapshot=False, user_id=user_id)
    _write_artifact_sidecar(table, artifacts, _family_name(family.kind))
    # one pass over the raw source → the doc store (payload evaluated
    # ONCE, into parquet — never a corpus-scale persist)
    doc_parts = _write_docs(encoded, docs_table, version, artifacts, id_col)
    bands_df = _bands_of_written(
        spark, docs_table, doc_parts, version, family, artifacts
    )
    state, _ = _publish(
        spark, tracker, version, user_id, message,
        [(table, bands_df, None, ()), (docs_table, None, doc_parts, ())],
        metastore,
    )
    return state, artifacts


def _write_docs(encoded, docs_table, version, artifacts, id_col) -> list:
    """Land the ``(id, payload)`` rows as the doc store's ``version``;
    returns the written partitions."""
    from ..spark.writer import partitions_written, write_versioned

    write_versioned(
        _shard_layout(
            encoded, DOC_SHARD_COL, [id_col],
            _shard_col(artifacts.doc_shards, id_col),
        ),
        docs_table, version,
    )
    return partitions_written(docs_table, version, spark=encoded.sparkSession)


def _bands_of_written(
    spark, docs_table, doc_parts, version, family, artifacts
):
    """The band rows, laid out for the band table, derived from the doc
    store's WRITTEN payload parquet — columnar and already encoded, so
    the raw corpus is not read a second time."""
    from ..spark.reader import read_version

    written_state = PartitionedTableVersion({p: version for p in doc_parts})
    return _shard_layout(
        family.band_fn(
            read_version(spark, docs_table, written_state,
                         infer_partition_types=False)
        ),
        BAND_SHARD_COL, ["band_id", "band_key"],
        _shard_col(artifacts.band_shards, "band_id", "band_key"),
    )


# ---------------------------------------------------------------------------
# extend


def extend_dedup_index(
    df_new: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "extend dedup index",
    threshold: float = 0.5,
    mode: str = "upsert",
    concurrency: str = "optimistic",
    artifacts: "DedupArtifacts | None" = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
    exclusive: bool = False,
    drift_shard_rows: "int | None" = DRIFT_MAX_BAND_SHARD_ROWS,
):
    """Dedup ONE new batch against the indexed corpus — and fold the
    batch into the index — in O(batch), independent of corpus size.
    Returns ``(verified_pairs, band_table_state, artifacts)`` where
    ``verified_pairs`` is ``(id_a, id_b, jaccard)`` for every pair at or
    above ``threshold`` with at least one endpoint in the batch
    (batch × corpus AND batch × batch), id_a < id_b — exactly the rows
    a full :func:`~chronicles_spark.operators.dedup.minhash_dedup`
    re-run over corpus+batch would add for these docs.  With
    ``pairs_table`` the returned relation reads the journal partition
    this call wrote, at its own version (a later consolidation of the
    journal does not change it; a vacuum that reclaims that version
    does), so it never depends on superseded shard versions; without
    it, it is a lazy checkpoint
    (``lineage_barrier(eager=False)``) that the caller's first action
    lands.

    ``mode="upsert"`` (default): a re-submitted id REPLACES its corpus
    entry — its OLD band rows are removed (recomputed from the stored
    shingles, so removal touches exactly the old rows' shards) and its
    old content never pairs against the batch.  ``mode="append"``
    ENFORCES that every id is new (one column-pruned read of the
    batch's own doc shards — strictly cheaper than upsert's replacement
    lookup — raising ``ValueError`` on any hit) and skips the
    replacement lookup.

    ``pairs_table`` (see :func:`dedup_pairs_table`): when given, the
    verified pairs ALSO land as one ``batch=<label>`` partition in the
    SAME pair commit group — the exactly-once journal of the operator's
    product.  Pass it consistently (every extend or never); its name
    must sort after the band/doc tables' (commit order is what makes a
    crash prefix never contain pairs without their extend — enforced).

    ``drift_shard_rows``: the geometry-drift guard — when the RMW
    observes a touched band shard above this row count (the pass is
    already made; the count is free) a
    :class:`DedupGeometryDriftWarning` names the family's rebuild.
    ``None`` disables.

    Cost shape, per stage (B = batch rows, b = bands): encode = one
    map-side pass over the batch; candidate generation reads ONLY the
    batch's ≤ min(b·B, band_shards) band-shard partitions (structural
    pruning — unrelated shards are never listed or opened), row-group
    pruned to the batch's own band keys over the sorted band files, and
    joins them against the b·B batch band rows; exact verification
    fetches shingles for candidate ids only, reading ≤
    min(|cands|, doc_shards) doc shards with an IN-list row-group prune
    for small candidate sets; the publish is a read-modify-write of
    exactly the touched shards.  Nothing is O(corpus) — provided the
    geometry follows the sizing rule (:func:`rebuild_dedup_index`:
    shard counts scale with the corpus, so per-shard bytes stay
    bounded); the measured claim is ``b9_dedup_extend_geo_full_over_
    half`` in ``bench.py`` (same small batch, full-size corpus at 2×
    the shards vs half-size at 1× — equal touched bytes by
    construction) plus the ``dedup_band_read_fraction`` structural
    ratio.

    Concurrency/pairing: all tables commit as ONE optimistic pair
    (``expected_heads`` pins every line) stamped with a shared pair
    marker; racing extends with overlapping shards conflict loudly,
    disjoint ones auto-merge (an id collision always surfaces as a
    doc-shard overlap, the ANN id-map argument), and a torn pair (files
    backend crash between the group's appends) is REFUSED on the next
    extend (:class:`~chronicles_spark.operators.pairing.TornPairError`).
    Run ONE maintainer per index (the stream sink) — an accidental
    second maintainer fails loudly; where genuinely concurrent
    maintainers are needed on a HOST-LOCAL log, ``exclusive=True`` with
    a ``use_lock=True`` tracker holds the primary table's flock across
    the whole read-modify-write (the ANN family's contract — see
    :func:`~chronicles_spark.operators.ann_index.extend_ann_index`)."""
    return _extend_family_index(
        _TEXT,
        lambda df, arts, _: _shingle_batch(df, id_col, text_col, arts.width),
        lambda arts: _text_family(arts, id_col, threshold),
        df_new, table, tracker, user_id, message, mode, concurrency,
        artifacts, id_col, metastore, pairs_table, exclusive,
        drift_shard_rows,
    )


def _check_extend_args(concurrency: str, mode: str = "upsert") -> None:
    """The argument checks every index extend/fold makes up front."""
    if mode not in ("upsert", "append"):
        raise ValueError(f"mode must be 'upsert' or 'append', got {mode!r}")
    if concurrency not in ("last-writer-wins", "optimistic", "strict"):
        raise ValueError(
            "concurrency must be 'last-writer-wins', 'optimistic' or "
            f"'strict', got {concurrency!r}"
        )


class _Pinned(NamedTuple):
    """The lines an extend body works from (:func:`_extend_front`): the
    primary's pinned state, head and pair label, and the companion
    table with its pinned state and head (all ``None`` without one)."""

    state: PartitionedTableVersion
    head: "str | None"
    pair: "str | None"
    companion: "TableDefinition | None"
    cstate: "PartitionedTableVersion | None"
    chead: "str | None"


def _extend_front(
    m: _Maintainer, df_new, table, tracker, artifacts, concurrency,
    exclusive, body, encode=None, mode="upsert", done=None,
):
    """The one extend front end of every lake index (the dedup families,
    the ANN index, the cluster fold).  Checks the table's partitioning
    and the arguments; returns ``done()`` when that is not None (a
    replay already applied).  Then, under the primary's flock when
    ``exclusive``: pins the primary, resolves the artifacts
    (``artifacts=None`` loads them through ``m.load``), pins the
    companion ``m.companion`` names and refuses a torn pair, and returns
    ``body(pinned, artifacts, batch)`` (:class:`_Pinned`).  ``batch`` is
    ``encode(df_new, artifacts, state)`` persisted for the body's run —
    one bounded batch the body consumes several times — or ``df_new``
    itself without an encoder."""
    _require_partitioning(table, m)
    _check_extend_args(concurrency, mode)
    if done is not None:
        skipped = done()
        if skipped is not None:
            return skipped

    def _run():
        state, head, pair = pinned_state(tracker, table.name)
        _require_partitioned(table, state)
        arts = artifacts
        if arts is None:
            arts = m.load(table, state, pair)
        companion = m.companion(table, arts)
        cstate = chead = None
        if companion is not None:
            cstate, chead = _pin_companion(
                tracker, table, pair, companion, m.advice
            )
        pinned = _Pinned(state, head, pair, companion, cstate, chead)
        if encode is None:
            return body(pinned, arts, df_new)
        batch = encode(df_new, arts, state).persist()
        try:
            return body(pinned, arts, batch)
        finally:
            batch.unpersist()

    return _run_maybe_exclusive(tracker, table, exclusive, _run)


def _extend_family_index(
    m, encode, make_family, df_new, table, tracker, user_id, message,
    mode, concurrency, artifacts, id_col, metastore, pairs_table,
    exclusive, drift_shard_rows,
):
    """A dedup family's extend: the shared front end around
    :func:`_extend_index`.  The family passes its :class:`_Maintainer`,
    its encoder ``encode(df_new, artifacts, state) -> (id, payload)``
    and its family builder ``make_family(artifacts)``; the rest of the
    arguments are the public extend's."""
    return _extend_front(
        m, df_new, table, tracker, artifacts, concurrency, exclusive,
        lambda pinned, arts, base_new: _extend_index(
            table, tracker, make_family(arts), pinned, base_new, arts,
            mode, concurrency, user_id, message, id_col, metastore,
            pairs_table, drift_shard_rows,
        ),
        encode=encode, mode=mode,
    )


def _run_maybe_exclusive(tracker, table, exclusive: bool, fn):
    """The ANN family's ``exclusive=True`` contract, shared: hold the
    primary table's commit flock for the ENTIRE read-modify-write so
    extends from separate OS processes serialize (no Spark
    output-committer staging clash, no conflicts to retry; the inner
    commits' guard is re-entrant within this thread)."""
    if not exclusive:
        return fn()
    hold = getattr(tracker, "hold_commit_lock", None)
    if hold is None or not getattr(tracker, "_use_lock", False):
        raise ValueError(
            "exclusive=True needs a FileBackedVersionTracker with "
            "use_lock=True (the per-table flock is what serializes "
            "the whole read-modify-write across processes)"
        )
    with hold(table.name):
        return fn()


def _band_key_filter(band_rows) -> "object | None":
    """Row-group pruning predicate for the candidate read: the batch's
    band keys as a per-band_id IN-list disjunction.  Band files are
    written sorted by ``(band_id, band_key)`` (build + every extend),
    so parquet min/max stats prune this to the few row groups actually
    holding the batch's keys — the read-side fix for the r8 finding
    that each touched band shard was scanned IN FULL (shard bytes grow
    with the corpus at fixed ``band_shards``; row groups don't).
    ``band_rows`` are collected Rows with band_id/band_key; returns a
    Column (never None for non-empty input)."""
    keys_by_band: "dict[int, set]" = {}
    for r in band_rows:
        keys_by_band.setdefault(r["band_id"], set()).add(r["band_key"])
    clause = None
    for band_id, keys in sorted(keys_by_band.items()):
        c = (F.col("band_id") == F.lit(band_id)) & DD.in_list(
            "band_key", sorted(keys)
        )
        clause = c if clause is None else (clause | c)
    return clause


def _require_pairs_last(pairs_table, *index_tables) -> None:
    """The exactly-once pairs claim rests on COMMIT ORDER: commit_group
    lands commits in sorted fully-qualified-name order, so the pairs
    line must sort AFTER every index line — a crash prefix then never
    contains pairs without their extend.  ``dedup_pairs_table``'s
    ``<name>_pairs`` naming satisfies this by construction; a
    caller-supplied name that sorts earlier would invert the crash
    exposure (a phantom ``batch=<label>`` pairs partition for an extend
    that never landed), so it is refused here."""
    pq = pairs_table.name.fully_qualified
    for t in index_tables:
        if pq <= t.name.fully_qualified:
            raise ValueError(
                f"pairs_table {pq!r} must sort after {t.name.fully_qualified!r} "
                "(commit groups land in sorted table-name order; the pairs "
                "journal must commit LAST so a crash never lands pairs "
                "without their extend) — use dedup_pairs_table(table)"
            )


def _check_payload_types(spark, docs_table, docs_state, base_new, id_col, payload_col):
    """Refuse a batch whose id/payload column TYPES differ from the
    stored doc schema: the RMW's unionByName would silently coerce to
    the wider common type (e.g. a double-array batch against a
    float-built index), rewriting only the touched shards and leaving
    MIXED parquet physical types across shards — which Spark's
    vectorized reader can fail on at later reads, and which breaks the
    typed-value xxhash64 shard routing contract.  One parquet footer
    (a single live doc partition) is read for the stored schema."""
    if not docs_state.partition_versions:
        return
    from ..spark.reader import read_version

    first = min(docs_state.partition_versions, key=lambda p: p.path)
    one = PartitionedTableVersion({first: docs_state.partition_versions[first]})
    stored = read_version(
        spark, docs_table, one, infer_partition_types=False
    ).schema
    batch = base_new.schema
    for c in (id_col, payload_col):
        st = stored[c].dataType.simpleString()
        bt = batch[c].dataType.simpleString()
        if st != bt:
            raise ValueError(
                f"batch column {c!r} has type {bt} but the index stores "
                f"{st} — keep column types stable across batches (shard "
                "routing hashes the typed value); cast the batch or "
                "rebuild the index from a fresh build"
            )


def _restrict_to_values(table_version, column, values) -> PartitionedTableVersion:
    """Exact-value partition restriction (the ANN module's structural-
    pruning move; shard values have no split hierarchy here)."""
    wanted = {str(v) for v in values}
    kept = {
        p: v
        for p, v in table_version.partition_versions.items()
        if dict(p.column_values).get(column) in wanted
    }
    return PartitionedTableVersion(kept)


def _extend_index(
    table, tracker, family, pinned, base_new, artifacts, mode,
    concurrency, user_id, message, id_col, metastore, pairs_table,
    drift_shard_rows,
):
    from ..spark.writer import overlapped

    spark = base_new.sparkSession
    docs_table = pinned.companion
    _require_dynamic_overwrite(spark)
    _check_payload_types(
        spark, docs_table, pinned.cstate, base_new, id_col, family.payload_col
    )
    pairs_head = None
    if pairs_table is not None:
        _require_pairs_last(pairs_table, table, docs_table)
        tracker.init_table(pairs_table.name, is_snapshot=False, user_id=user_id)
        _, pairs_head, pairs_marker = pinned_state(tracker, pairs_table.name)
        if pairs_marker is not None and pairs_marker != pinned.pair:
            raise TornPairError(
                f"{pairs_table.name} heads pair commit {pairs_marker!r} but "
                f"the index heads {pinned.pair!r} — a crash between the "
                "group's appends tore the pairs journal off its extend "
                "(or pairs_table was not passed on every extend); run "
                "repair_dedup_pairs to re-land the torn batch partition"
            )

    # batch band rows (payloads the family's bander drops — e.g. empty
    # shingle sets — excluded) with their shard routes; bounded: b rows
    # per batch doc
    banded_new = (
        family.band_fn(base_new)
        .withColumn(
            BAND_SHARD_COL,
            _shard_col(artifacts.band_shards, "band_id", "band_key"),
        )
        .persist()
    )
    # the batch-stats agg and the band-key sample are independent bounded
    # jobs over the persisted batch frames — overlap them (guide §2.6)
    # instead of paying two serial job launches.  ONE aggregation yields
    # the batch's row/dup/null counts plus its doc-shard set (≤
    # doc_shards values)
    counts_plan = base_new.agg(
        *_batch_stats(id_col),
        F.collect_set(_shard_col(artifacts.doc_shards, id_col)).alias("ds"),
    )
    band_sample_plan = (
        banded_new.select(F.col(BAND_SHARD_COL), "band_id", "band_key")
        .distinct()
        .limit(_FETCH_PUSHDOWN_MAX_IDS + 1)
    )
    try:
        counts, band_sample = overlapped(
            spark, lambda plan: plan.collect(), [counts_plan, band_sample_plan]
        )
        counts = counts[0]
        _check_batch(counts, id_col, family.kind)
        return _extend_publish(
            spark, table, tracker, family, pinned, pairs_head, base_new,
            banded_new, base_new.select(id_col).distinct(),
            sorted(counts["ds"]),
            band_sample, artifacts, mode, concurrency,
            user_id, message, id_col, metastore, pairs_table,
            drift_shard_rows,
        )
    finally:
        banded_new.unpersist()


def _extend_publish(
    spark, table, tracker, family, pinned, pairs_head, base_new,
    banded_new, new_ids, batch_doc_shards, band_sample, artifacts, mode,
    concurrency, user_id, message, id_col, metastore, pairs_table,
    drift_shard_rows,
):
    from ..spark.reader import read_version
    from ..spark.writer import overlapped

    state, docs_table, docs_state = pinned.state, pinned.companion, pinned.cstate
    payload = family.payload_col
    # ONE capped collect (overlapped with the batch-stats agg by
    # _extend_index) yields both the batch's band-shard set (the
    # structural partition prune) and, for normal-size batches, its
    # (band_id, band_key) pairs — pushed at the candidate read as a
    # row-group prune over the sorted band files (the doc store's
    # IN-list move applied to the band table).  Above the cap only the
    # DISTINCT shard values are collected (bounded ≤ band_shards) and
    # shard pruning alone bounds the read.
    if len(band_sample) <= _FETCH_PUSHDOWN_MAX_IDS:
        batch_band_shards = sorted({r[BAND_SHARD_COL] for r in band_sample})
        band_filter = _band_key_filter(band_sample)
    else:
        batch_band_shards = sorted(
            r["s"]
            for r in banded_new.select(
                F.col(BAND_SHARD_COL).alias("s")
            ).distinct().collect()
        )
        band_filter = None

    # -- replacement lookup (upsert): OLD band rows of re-submitted ids --
    # Their payloads live in the batch's own doc shards (same id → same
    # shard), so the lookup reads only those; band keys recompute
    # deterministically from the stored payloads, locating the stale
    # band rows WITHOUT any band-table scan.
    #
    # The lookup and the touched-shard RMW union it feeds are independent
    # of the candidate/verify chain (candidates read only the BATCH's
    # band shards; replaced shards matter only to the write set), so the
    # two chains run OVERLAPPED (``overlapped``, guide §2.6: in the
    # caller's job group) — their results are consumed, and any error
    # either raises surfaces, strictly before anything is written.
    dsub = _restrict_to_values(docs_state, DOC_SHARD_COL, batch_doc_shards)

    def _lookup_and_rmw_bands():
        replaced: "list[str]" = []
        if mode == "append" and dsub.partition_versions:
            # append promises every id is NEW — enforce it (a silent hit
            # would write duplicate id rows into both tables, and the
            # offline verify can't flag it because the duplicated band rows
            # still re-derive from the duplicated payload rows).  One
            # column-pruned read of the batch's own doc shards — strictly
            # cheaper than upsert's replacement lookup.
            # no forced broadcast on new_ids anywhere in this function: it
            # is the whole batch's id set — small for a daily delta (AQE
            # broadcasts it then) but not provably small for a bulk
            # backfill, where a forced hint would push a multi-GB set
            # through the driver; every join it feeds is against an
            # already-shard-restricted read, so AQE's runtime choice is
            # safe on both ends
            hit = (
                read_version(spark, docs_table, dsub, infer_partition_types=False)
                .select(F.col(id_col))
                .join(new_ids, id_col, "left_semi")
                .limit(1)
                .collect()
            )
            if hit:
                raise ValueError(
                    f"mode='append' but {id_col}={hit[0][id_col]!r} already "
                    "exists in the index — use mode='upsert' to replace "
                    "re-submitted ids"
                )
        if mode == "upsert" and dsub.partition_versions:
            old_docs = (
                read_version(spark, docs_table, dsub, infer_partition_types=False)
                .select(F.col(id_col), F.col(payload))
                .join(new_ids, id_col, "left_semi")
            )
            old_banded = family.band_fn(old_docs).withColumn(
                BAND_SHARD_COL,
                _shard_col(artifacts.band_shards, "band_id", "band_key"),
            )
            replaced = sorted(
                r["s"]
                for r in old_banded.select(
                    F.col(BAND_SHARD_COL).alias("s")
                ).distinct().collect()
            )
        # -- RMW of exactly the touched band shards (the write set) --
        bands_out_, wsub_ = _rmw_shards(
            spark, table, state, BAND_SHARD_COL,
            set(batch_band_shards) | set(replaced), banded_new,
            [id_col, "band_id", "band_key", BAND_SHARD_COL], id_col,
            replaced=new_ids if mode == "upsert" else None,
        )
        # which touched band shards still hold rows (a replaced doc's
        # removal can empty one); doc shards never empty (the batch
        # writes into every shard it touches).  This half is the
        # frame's only toucher until ``overlapped`` returns
        return _observe_written(
            bands_out_, BAND_SHARD_COL, wsub_, table, drift_shard_rows,
            f"{family.kind} index", "band shard",
            "rebuild with scaled band_shards/doc_shards "
            "(rebuild_dedup_index or the family's rebuild; see "
            "docs/scale.md sizing rule)",
        )

    def _verify_candidates():
        # -- candidates: batch band keys vs ONLY the batch's band shards --
        bsub = _restrict_to_values(state, BAND_SHARD_COL, batch_band_shards)
        cand = None
        if bsub.partition_versions:
            live_bands = read_version(
                spark, table, bsub, infer_partition_types=False
            )
            if band_filter is not None:
                # superset of the equi-join keys — pure row-group pruning,
                # never a semantic restriction
                live_bands = live_bands.where(band_filter)
            live_bands = live_bands.select(
                F.col(id_col).alias("_old"), "band_id", "band_key"
            )
            # no forced broadcast: the batch side is b rows per doc — small
            # for a daily delta (AQE picks a broadcast join then) but not
            # provably small for a bulk backfill; the shard-pruned live side
            # is bounded by the batch's shards either way
            cand_old = (
                live_bands.join(
                    banded_new.select(
                        F.col(id_col).alias("_new"), "band_id", "band_key"
                    ),
                    ["band_id", "band_key"],
                )
                .where(F.col("_old") != F.col("_new"))
            )
            if mode == "upsert":
                # a replaced id's OLD content must not pair with anything
                cand_old = cand_old.join(
                    new_ids.select(F.col(id_col).alias("_old")),
                    "_old", "left_anti",
                )
            cand = cand_old.select(
                F.least("_old", "_new").alias("id_a"),
                F.greatest("_old", "_new").alias("id_b"),
            )
        # batch × batch pairs (the bounded self-join)
        a = banded_new.select(F.col(id_col).alias("id_a"), "band_id", "band_key")
        b = banded_new.select(F.col(id_col).alias("id_b"), "band_id", "band_key")
        cand_new = (
            a.join(b, ["band_id", "band_key"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = cand_new if cand is None else cand.unionByName(cand_new)
        # lineage cut: the pair set is referenced three times by verify
        # (minhash_dedup's measured Catalyst-analysis blowup otherwise).
        # eager=False: the capped `sample` collect below is the first action
        # on this chain and lands the final stage; the shuffle map stages
        # still run at this call under AQE, so this saves the eager shape's
        # result-stage pass, not whole jobs (lineage_barrier docstring)
        cand = DD.lineage_barrier(cand.distinct(), eager=False)

        # -- exact verify: payloads from base_new + ONLY candidate shards --
        old_cand_ids = (
            cand.select(F.col("id_a").alias(id_col))
            .union(cand.select("id_b"))
            .distinct()
            .join(new_ids, id_col, "left_anti")
        )
        # small candidate sets (the normal case) collect every candidate id:
        # the exact IN-list both restricts the payload read to them and
        # prunes row groups over the sorted shard files, so old_cand_ids is
        # never evaluated again.  Above the cap only the DISTINCT shard
        # values are collected (bounded ≤ doc_shards), shard pruning bounds
        # the read and a semi-join against old_cand_ids restricts it
        sample = old_cand_ids.select(
            F.col(id_col),
            _shard_col(artifacts.doc_shards, id_col).alias("s"),
        ).limit(_FETCH_PUSHDOWN_MAX_IDS + 1).collect()
        verify_base = base_new.select(F.col(id_col), payload)
        if sample:
            if len(sample) <= _FETCH_PUSHDOWN_MAX_IDS:
                cand_shards = sorted({r["s"] for r in sample})
                in_ids = [r[id_col] for r in sample]
            else:
                # two consumers (the shard collect and the semi-join) of a
                # frame the pushdown cap does not bound. eager=False: the
                # shard collect right below lands the final stage
                old_cand_ids = DD.lineage_barrier(old_cand_ids, eager=False)
                cand_shards = sorted(
                    r["s"]
                    for r in old_cand_ids.select(
                        _shard_col(artifacts.doc_shards, id_col).alias("s")
                    ).distinct().collect()
                )
                in_ids = None
            csub = _restrict_to_values(docs_state, DOC_SHARD_COL, cand_shards)
            if csub.partition_versions:
                old_payloads = read_version(
                    spark, docs_table, csub, infer_partition_types=False
                ).select(F.col(id_col), payload)
                if in_ids is not None:
                    old_payloads = old_payloads.where(
                        DD.in_list(id_col, in_ids)
                    )
                else:
                    old_payloads = old_payloads.join(
                        old_cand_ids, id_col, "left_semi"
                    )
                verify_base = verify_base.unionByName(old_payloads)
        verified = family.verify_fn(verify_base, cand)
        if pairs_table is None:
            # the returned frame is the only product: its map stages run at
            # this call under AQE and the caller's first action lands the
            # final stage (lineage_barrier docstring)
            verified = DD.lineage_barrier(verified, eager=False)
        return verified

    # -- publish: RMW of exactly the touched shards, one pair commit --
    # the overlapped halves have both returned: the lookup's append-hit
    # ValueError or any read error of either half surfaces HERE, before
    # anything is written
    (bands_out, band_counts, emptied), verified = overlapped(
        spark, lambda half: half(), [_lookup_and_rmw_bands, _verify_candidates]
    )
    docs_out, _ = _rmw_shards(
        spark, docs_table, docs_state, DOC_SHARD_COL, batch_doc_shards,
        base_new.select(F.col(id_col), payload).withColumn(
            DOC_SHARD_COL, _shard_col(artifacts.doc_shards, id_col)
        ),
        [id_col, payload, DOC_SHARD_COL], id_col,
        replaced=new_ids if mode == "upsert" else None,
    )

    version = generate_version()
    stamped = artifacts.with_label(version.label)
    _write_artifact_sidecar(table, stamped, _family_name(family.kind))
    expected = None
    if concurrency != "last-writer-wins":
        expected = {table.name: pinned.head, docs_table.name: pinned.chead}
    writes = [
        (
            table,
            _shard_layout(bands_out, BAND_SHARD_COL, ["band_id", "band_key"]),
            _shard_parts(BAND_SHARD_COL, band_counts),
            emptied,
        ),
        (
            docs_table,
            _shard_layout(docs_out, DOC_SHARD_COL, [id_col]),
            _shard_parts(DOC_SHARD_COL, batch_doc_shards),
            (),
        ),
    ]
    if pairs_table is not None:
        # the exactly-once pairs journal: one batch=<label> partition in
        # the SAME commit group (sorted table order puts it LAST, so a
        # crash prefix never lands pairs without their extend); an empty
        # pair set lands a data-less marker commit
        writes.append(
            (
                pairs_table,
                verified.withColumn(PAIRS_BATCH_COL, F.lit(version.label)),
                None,
                (),
            )
        )
        if expected is not None:
            expected[pairs_table.name] = pairs_head
    new_state, added = _publish(
        spark, tracker, version, user_id, message, writes, metastore,
        expected_heads=expected,
        allow_disjoint=(concurrency == "optimistic"),
    )
    if pairs_table is not None:
        # the journal save (overlapped with the band and doc saves by
        # publish_group) is verify's one evaluation; the caller gets the
        # partition that save wrote, at this commit's version — not the
        # journal's head, which a concurrent consolidation may already
        # have moved — so the returned pairs never depend on superseded
        # shard versions
        written = PartitionedTableVersion(
            {p: version for p in added[pairs_table.name]}
        )
        if written.partition_versions:
            verified = read_version(
                spark, pairs_table, written, infer_partition_types=False
            ).select(*verified.schema.names)
        else:  # no pair verified: a data-less marker commit
            verified = spark.createDataFrame([], verified.schema)
    return verified, new_state, stamped


# ---------------------------------------------------------------------------
# verify / rebuild / repair / vacuum


def verify_dedup_index(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    id_col: str = "doc_id",
) -> DataFrame:
    """Differential audit of the band table against the doc store:
    re-derives every doc's band rows from its stored shingles and
    returns the rows where the two disagree (band row with no/differing
    doc entry, doc whose band rows are missing).  Empty = consistent.
    One column-pruned scan of each table — the OFFLINE deep audit
    backing the hot path's cheap pair-marker check."""
    return _verify_index(
        spark, table, tracker, _TEXT,
        lambda arts: _text_family(arts, id_col, threshold=None), id_col,
    )


def _disagreements(want, have, keys, want_col, have_col, agrees=None):
    """The differential audit join every index ``verify_*`` shares: the
    rows of ``want`` full-outer-joined with ``have`` on ``keys`` where
    either side is missing or the two values disagree (``agrees``
    defaults to equality), as ``(*keys, want_col, have_col)``."""
    if agrees is None:
        agrees = F.col(want_col) == F.col(have_col)
    return (
        want.join(have, keys, "full_outer")
        .where(F.col(want_col).isNull() | F.col(have_col).isNull() | ~agrees)
        .select(*keys, want_col, have_col)
    )


def _verify_index(spark, table, tracker, m, make_family, id_col) -> DataFrame:
    """A dedup family's audit: every doc's band rows re-derived from its
    stored payload under the live geometry vs the band table."""
    from ..spark.reader import read_version

    state = tracker.current_version(table.name)
    family = make_family(m.load(table, state, None))
    docs_state = tracker.current_version(dedup_docs_table(table).name)
    docs = read_version(
        spark, dedup_docs_table(table), docs_state, infer_partition_types=False
    ).select(F.col(id_col), family.payload_col)
    want = family.band_fn(docs).select(
        F.col(id_col), "band_id", F.col("band_key").alias("want_key")
    )
    have = read_version(
        spark, table, state, infer_partition_types=False
    ).select(F.col(id_col), "band_id", F.col("band_key").alias("have_key"))
    return _disagreements(want, have, [id_col, "band_id"], "want_key", "have_key")


def rebuild_dedup_index(
    spark: SparkSession,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    message: str = "rebuild dedup index",
    bands: "int | None" = None,
    rows: "int | None" = None,
    band_shards: "int | None" = None,
    doc_shards: "int | None" = None,
    id_col: str = "doc_id",
    pairs_table: "TableDefinition | None" = None,
    metastore=None,
):
    """Re-shard (and/or re-band) the index in place under NEW geometry —
    the re-geometry escape hatch that bounds shard size: at fixed
    ``band_shards``/``doc_shards`` the per-shard bytes grow with the
    corpus, and with them the extend's RMW rewrite cost.  The sizing
    rule (``docs/scale.md``): re-geometry when the average shard
    outgrows a few hundred MB — i.e. roughly double the shard counts
    every time the corpus doubles.  Cost: ONE pass over the doc store
    (the payload is never re-encoded from raw text — which is also why
    ``width`` cannot change here; geometry derivable from the stored
    payload — bands/rows/shard counts — can).  Publishes both rewritten
    tables (and, when given, a data-less marker on ``pairs_table`` so
    the pairs journal's marker keeps tracking the primary's) as one
    STRICT pair commit pinned on every line — any racing extend
    conflicts loudly.  Returns ``(band_table_state, DedupArtifacts)``."""
    _require_partitioning(table, _TEXT)
    state, _, _ = pinned_state(tracker, table.name)
    old = load_dedup_artifacts(table, state)
    new_geo = _rebuild_geometry(
        old, bands=bands, rows=rows, band_shards=band_shards,
        doc_shards=doc_shards,
    )
    version = generate_version()
    artifacts = DedupArtifacts(
        version_label=version.label, width=old.width, **new_geo
    )
    family = _text_family(artifacts, id_col, threshold=None)
    return _rebuild_index(
        spark, table, tracker, _TEXT, family, artifacts, version,
        user_id, message, id_col, pairs_table, metastore,
    )


def _rebuild_index(
    spark, table, tracker, m, family, artifacts, version,
    user_id, message, id_col, pairs_table, metastore,
):
    """Family-generic re-geometry: one doc-store pass re-shards the
    payloads, the band table re-derives from the WRITTEN files (the
    build's move), and every prior partition not overwritten is removed
    in the same strict pair commit."""
    from ..spark.reader import read_version
    from ..spark.writer import partitions_written, write_versioned

    _require_dynamic_overwrite(spark)
    docs_table = dedup_docs_table(table)
    state, base_head, _, docs_state, docs_head = _pin_pair(
        tracker, table, docs_table, m.advice
    )
    _write_artifact_sidecar(table, artifacts, _family_name(family.kind))

    encoded = read_version(
        spark, docs_table, docs_state, infer_partition_types=False
    ).select(F.col(id_col), family.payload_col)
    doc_parts = _write_docs(encoded, docs_table, version, artifacts, id_col)
    write_versioned(
        _bands_of_written(
            spark, docs_table, doc_parts, version, family, artifacts
        ),
        table, version,
    )
    band_parts = partitions_written(table, version, spark=spark)

    writes = [
        (table, None, band_parts,
         set(state.partition_versions) - set(band_parts)),
        (docs_table, None, doc_parts,
         set(docs_state.partition_versions) - set(doc_parts)),
    ]
    expected = {table.name: base_head, docs_table.name: docs_head}
    if pairs_table is not None:
        _require_pairs_last(pairs_table, table, docs_table)
        tracker.init_table(pairs_table.name, is_snapshot=False, user_id=user_id)
        _, pairs_head, _ = pinned_state(tracker, pairs_table.name)
        writes.append((pairs_table, None, (), ()))
        expected[pairs_table.name] = pairs_head
    new_state, _ = _publish(
        spark, tracker, version, user_id, message, writes, metastore,
        expected_heads=expected, allow_disjoint=False,
    )
    return new_state, artifacts


def repair_dedup_pairs(
    table: TableDefinition,
    tracker: VersionTracker,
    pairs_table: "TableDefinition | None" = None,
    user_id: str = "dedup",
    message: str = "repair dedup pairs line",
) -> "str | None":
    """Re-land a pairs-journal commit torn off its extend (a crash
    between the group's band/doc appends and the pairs append).  The
    pairs DATA for the torn batch was written BEFORE any commit
    (``publish_group`` lands data first), so the repair is pure
    metadata: commit the already-written ``batch=<label>`` partition —
    or a data-less marker when the torn extend verified zero pairs —
    stamped with the index head's pair label.  Requires the index
    itself (band + doc lines) to be WHOLE; a torn index needs the
    family's full rebuild.  Returns the re-landed pair label, or None
    when the lines already agree.  Shared by both index families (the
    embedding module's wrapper passes its own tables)."""
    from datetime import datetime, timezone

    from ..core import paths as vpaths
    from ..core.ops import AddPartitionVersion, TableUpdate, TableUpdateMetadata

    pairs_table = pairs_table if pairs_table is not None else dedup_pairs_table(table)
    docs_table = dedup_docs_table(table)
    _, _, head_pair = pinned_state(tracker, table.name)
    _, _, docs_pair = pinned_state(tracker, docs_table.name)
    check_pair(
        table, head_pair, docs_pair,
        "the index itself is torn — run the family's full rebuild first",
    )
    _, pairs_head, pairs_marker = pinned_state(tracker, pairs_table.name)
    if head_pair is None or pairs_marker == head_pair:
        return None
    version = parse_version(head_pair)
    part = Partition.of((PAIRS_BATCH_COL, head_pair))
    fs, root = filesystem_for(pairs_table.location)
    dirpath = vpaths.path_for(part.resolve_path(root), version)
    ops = (
        (AddPartitionVersion(part, version),) if fs.is_dir(dirpath) else ()
    )
    tracker.commit(
        pairs_table.name,
        TableUpdate(
            TableUpdateMetadata.new(
                user_id,
                pair_message(message, head_pair),
                datetime.now(timezone.utc),
            ),
            ops,
        ),
        expected_head=pairs_head,
    )
    return head_pair


def vacuum_dedup_artifacts(
    table: TableDefinition,
    tracker: VersionTracker,
    dry_run: bool = False,
    orphan_min_age=None,
    version_index: bool = True,
) -> list:
    """Reclaim ``_dedup_artifacts_*`` sidecars whose index version's
    data is gone — the dedup twin of
    :func:`~chronicles_spark.operators.ann_index.vacuum_ann_artifacts`
    (one orphan JSON per micro-batch at streaming cadence otherwise).
    Same storage-truth rules (see
    :func:`~chronicles_spark.operators.sidecars.vacuum_artifact_sidecars`):
    never outruns vacuum's retention, branch-committed labels protected,
    commit-less orphans age-guarded.  Serves BOTH index families — the
    embedding index uses the same sidecar prefix at its own location."""
    from .sidecars import vacuum_artifact_sidecars

    return vacuum_artifact_sidecars(
        table, tracker, ARTIFACT_PREFIX,
        dry_run=dry_run, orphan_min_age=orphan_min_age,
        version_index=version_index,
    )


# ---------------------------------------------------------------------------
# streaming maintenance


def _commit_index_stream_batch(
    extend, batch_df, epoch_id, table, tracker, message_prefix,
    epoch_cache, on_pairs=None, **kw,
) -> None:
    """Family-generic ``foreachBatch`` body (every dedup family and the
    ANN index; a family's ``commit_*_stream_batch`` passes its public
    ``extend`` and its own parameters, ``**locals()``): epoch-replay
    guard → O(batch) ``extend(batch_df, table, tracker, message=...,
    **kw)`` → optional callback on the extend's first result (the
    verified pairs; the ANN index takes none).  Same epoch-replay
    contract as the other versioned sinks
    (:mod:`chronicles_spark.streaming.ingest`): an epoch EQUAL to the
    latest committed one is a crash-replay and is skipped; an epoch
    BEHIND it (wiped checkpoint reusing ids under the same
    ``message_prefix``) raises."""
    from ..streaming.ingest import epoch_replay_guard

    if batch_df.isEmpty():
        return
    message = f"{message_prefix} epoch {epoch_id}"
    if epoch_replay_guard(
        tracker, table.name, message_prefix, epoch_id, epoch_cache
    ):
        return  # checkpoint replay of the just-committed epoch
    try:
        result = extend(batch_df, table, tracker, message=message, **kw)
        if epoch_cache is not None:
            epoch_cache["latest_epoch"] = epoch_id
    except BaseException:
        # stale-cache hazard: re-derive from the log on the next attempt
        if epoch_cache is not None:
            epoch_cache.pop("latest_epoch", None)
        raise
    if on_pairs is not None:
        on_pairs(result[0], epoch_id)


def _index_stream_sink(stream_df, checkpoint_dir, commit_fn, **kw):
    """Family-generic stream sink (a family's ``*_stream_sink`` passes
    its ``commit_*_stream_batch`` and its own parameters,
    ``**locals()``): every micro-batch runs ``commit_fn(batch_df,
    epoch_id, epoch_cache=..., **kw)`` with one epoch cache per sink,
    the stream checkpointed at ``checkpoint_dir``."""
    epoch_cache: dict = {}
    return stream_df.writeStream.foreachBatch(
        lambda batch_df, epoch_id: commit_fn(
            batch_df, epoch_id, epoch_cache=epoch_cache, **kw
        )
    ).option("checkpointLocation", checkpoint_dir)


def commit_dedup_stream_batch(
    batch_df: DataFrame,
    epoch_id: int,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str = "dedup",
    artifacts: "DedupArtifacts | None" = None,
    message_prefix: str = "dedup-stream",
    threshold: float = 0.5,
    mode: str = "upsert",
    epoch_cache: "dict | None" = None,
    on_pairs=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
) -> None:
    """Land ONE document micro-batch as a dedup-index extend (the
    ``foreachBatch`` body of :func:`dedup_stream_sink`, exposed for
    direct use/testing).

    ``pairs_table`` makes the batch's verified pairs EXACTLY-ONCE: they
    land as a ``batch=<label>`` partition in the extend's own pair
    commit, so a crash anywhere after the commit loses nothing and an
    epoch replay double-lands nothing.  ``on_pairs(pairs_df, epoch_id)``
    remains as sugar (e.g. alerting); its delivery alone is best-effort
    per epoch — a crash between the extend's commit and the callback
    skips the epoch on replay WITHOUT re-delivering (recover from the
    pairs journal, which is why it is the primary surface)."""
    _commit_index_stream_batch(extend=extend_dedup_index, **locals())


def dedup_stream_sink(
    stream_df: DataFrame,
    table: TableDefinition,
    tracker: VersionTracker,
    user_id: str,
    checkpoint_dir: str,
    artifacts: "DedupArtifacts | None" = None,
    message_prefix: str = "dedup-stream",
    threshold: float = 0.5,
    mode: str = "upsert",
    on_pairs=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    metastore=None,
    pairs_table: "TableDefinition | None" = None,
):
    """Streaming maintenance of the dedup index: every document
    micro-batch becomes one O(batch) :func:`extend_dedup_index` commit —
    the crawl-firehose shape (each dump deduped against everything ever
    ingested, then folded in).  Caller starts it (and picks the
    trigger)::

        q = dedup_stream_sink(doc_stream, bands, tracker, "etl",
                              "/ckpt/dedup",
                              pairs_table=dedup_pairs_table(bands)
            ).trigger(availableNow=True).start()

    Replayed epochs are skipped (batch-level exactly-once for the index
    AND, with ``pairs_table``, for the verified pairs — see
    :func:`commit_dedup_stream_batch`).  Per-batch cost is O(batch +
    candidates) regardless of corpus size — the module's whole point,
    which is what makes ``mode="upsert"`` safe at streaming cadence."""
    return _index_stream_sink(commit_fn=commit_dedup_stream_batch, **locals())
