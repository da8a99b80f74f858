"""Round-8: the incremental dedup index (operators/dedup_index.py).

House-style differentials:
* build-then-extend == one full minhash_dedup re-run over the same
  corpus, pair for pair and jaccard for jaccard — across multiple
  batches and across re-submissions that CHANGE a doc's content;
* verify_dedup_index (band rows re-derived from stored shingles) empty
  after every step;
* structural O(batch) pruning pinned on the partition metadata;
* torn-pair crash injection (the pairing.py protocol, dedup flavor).
"""

import os

import pytest
from pyspark.sql import functions as F

from chronicles_spark.core.model import (
    PartitionSchema,
    TableDefinition,
    TableName,
)
from chronicles_spark.operators import dedup as DD, dedup_index as DX
from chronicles_spark.operators.pairing import TornPairError
from chronicles_spark.sources import load_table
from chronicles_spark.trackers import FileBackedVersionTracker

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _mk_index(tmp_path, name):
    tracker = FileBackedVersionTracker(str(tmp_path / f"_log_{name}"))
    table = TableDefinition(
        TableName("demo", name), str(tmp_path / name),
        PartitionSchema(("band_shard",)),
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    return table, tracker


def _pairs(df):
    return sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in df.collect()
    )


def _full_pairs(docs, where):
    return _pairs(DD.minhash_dedup(docs, threshold=0.5).where(where))


@pytest.mark.slow
def test_incremental_equals_full_rerun(spark, tmp_path):
    """build(corpus) + extend(B1) + extend(B2) finds, across the base
    run and the two extends, exactly the pairs one full minhash_dedup
    over corpus∪B1∪B2 finds — same endpoints, same exact jaccard."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where("doc_id < 300")
    b1 = docs.where("doc_id >= 300 AND doc_id < 400")
    b2 = docs.where("doc_id >= 400")

    table, tracker = _mk_index(tmp_path, "inc")
    DX.build_dedup_index(corpus, table, tracker, band_shards=16, doc_shards=8)
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0

    p1, _, _ = DX.extend_dedup_index(b1, table, tracker, threshold=0.5)
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0
    p2, _, _ = DX.extend_dedup_index(b2, table, tracker, threshold=0.5)
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0

    # the base corpus' own pairs come from the one-shot operator (the
    # build indexes, it does not re-dedup the base)
    base_pairs = _full_pairs(corpus, "1=1")
    got = sorted(base_pairs + _pairs(p1) + _pairs(p2))
    want = _full_pairs(docs, "1=1")
    assert got == want and want  # fixture has known near-dups

    # each extend reported exactly the pairs its batch introduced
    assert _pairs(p1) == _full_pairs(
        docs.where("doc_id < 400"),
        "id_b >= 300",  # id_a < id_b, so any batch endpoint implies id_b in B1
    )


def test_resubmission_replaces_content(spark, tmp_path):
    """Upsert semantics: re-submitting an id with NEW text replaces its
    band rows and shingles — the incremental result equals a full re-run
    over the UPDATED corpus, and the STALE content never pairs."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where("doc_id < 200")
    table, tracker = _mk_index(tmp_path, "resub")
    DX.build_dedup_index(corpus, table, tracker, band_shards=16, doc_shards=8)

    # re-submit doc 7 carrying doc 11's text (forms a near-exact pair
    # with 11), plus one genuinely new doc carrying doc 13's text
    donor11 = corpus.where("doc_id = 11").collect()[0]["text"]
    donor13 = corpus.where("doc_id = 13").collect()[0]["text"]
    batch = spark.createDataFrame(
        [(7, donor11), (900, donor13)], "doc_id long, text string"
    )
    pairs, _, _ = DX.extend_dedup_index(batch, table, tracker, threshold=0.5)
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0

    updated = corpus.where("doc_id <> 7").unionByName(batch)
    want = _full_pairs(updated, "id_a IN (7, 900) OR id_b IN (7, 900)")
    assert _pairs(pairs) == want
    assert (7, 11, 1.0) in _pairs(pairs)

    # the index state equals a from-scratch build over the updated corpus
    table2, tracker2 = _mk_index(tmp_path, "resub2")
    DX.build_dedup_index(updated, table2, tracker2, band_shards=16, doc_shards=8)
    from chronicles_spark.spark.reader import read_version

    def contents(t, tr):
        st = tr.current_version(t.name)
        return sorted(
            map(tuple, read_version(spark, t, st, infer_partition_types=False)
                .select("doc_id", "band_id", "band_key").collect())
        )

    assert contents(table, tracker) == contents(table2, tracker2)


def test_extend_reads_only_batch_shards(spark, tmp_path):
    """The O(batch) claim, structurally: a one-doc batch's band keys and
    doc id resolve to strict subsets of the live shard partitions —
    unrelated shards are never part of the restricted read state."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table, tracker = _mk_index(tmp_path, "prune")
    _, arts = DX.build_dedup_index(
        docs, table, tracker, band_shards=32, doc_shards=16
    )
    state = tracker.current_version(table.name)
    docs_state = tracker.current_version(DX.dedup_docs_table(table).name)
    live_band_shards = {
        dict(p.column_values)["band_shard"]
        for p in state.partition_versions
    }
    assert len(live_band_shards) > 8  # fixture discriminates

    one = docs.where("doc_id = 3")
    banded = DD.lsh_banded(
        one.select("doc_id", DD.shingles_of(F.col("text")).alias("shingles")),
        "doc_id", arts.bands, arts.rows,
    ).withColumn("band_shard", DX._shard_col(arts.band_shards, "band_id", "band_key"))
    batch_shards = {
        r["band_shard"] for r in banded.select("band_shard").distinct().collect()
    }
    assert 0 < len(batch_shards) <= arts.bands
    sub = DX._restrict_to_values(state, DX.BAND_SHARD_COL, sorted(batch_shards))
    pruned = {
        dict(p.column_values)["band_shard"] for p in sub.partition_versions
    }
    assert pruned <= batch_shards and len(pruned) < len(live_band_shards)

    dsub = DX._restrict_to_values(
        docs_state, DX.DOC_SHARD_COL,
        [r["s"] for r in one.select(
            DX._shard_col(arts.doc_shards, "doc_id").alias("s")
        ).collect()],
    )
    assert len(dsub.partition_versions) <= 1


def test_candidate_band_read_pushes_band_keys(spark, tmp_path):
    """Round-9 (r8 `weak` fix): the candidate read over a touched band
    shard pushes the batch's (band_id, band_key) IN-list to the parquet
    scan — band files are written sorted by (band_id, band_key), so the
    pushed filter prunes at row-group level instead of scanning the
    shard in full.  Pinned structurally: PushedFilters carries band_key,
    and the filtered read returns exactly the full read's rows for the
    batch's keys (pure pruning, no semantic restriction)."""
    from chronicles_spark.spark.reader import read_version

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table, tracker = _mk_index(tmp_path, "push")
    _, arts = DX.build_dedup_index(
        docs, table, tracker, band_shards=8, doc_shards=4
    )
    state = tracker.current_version(table.name)

    banded = DD.lsh_banded(
        docs.where("doc_id = 3").select(
            "doc_id", DD.shingles_of(F.col("text")).alias("shingles")
        ),
        "doc_id", arts.bands, arts.rows,
    ).withColumn("band_shard", DX._shard_col(arts.band_shards, "band_id", "band_key"))
    sample = banded.select("band_shard", "band_id", "band_key").collect()
    assert sample
    flt = DX._band_key_filter(sample)
    bsub = DX._restrict_to_values(
        state, DX.BAND_SHARD_COL, sorted({r["band_shard"] for r in sample})
    )
    full = read_version(spark, table, bsub, infer_partition_types=False)
    filtered = full.where(flt)

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    pushed_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("band_key" in ln for ln in pushed_lines), plan

    keys = {(r["band_id"], r["band_key"]) for r in sample}
    want = sorted(
        map(tuple, full.collect()),
        key=str,
    )
    want = [t for t in want if (t[1], t[2]) in keys]
    got = sorted(map(tuple, filtered.collect()), key=str)
    assert got == want and got  # doc 3's own band rows at minimum


def test_append_mode_rejects_existing_id(spark, tmp_path):
    """mode='append' promises every id is new — a re-submitted id must
    raise (ADVICE r8: a silent hit would duplicate id rows in both
    tables, invisible to verify_dedup_index)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table, tracker = _mk_index(tmp_path, "appmode")
    DX.build_dedup_index(
        docs.where("doc_id < 50"), table, tracker, band_shards=8, doc_shards=4
    )
    with pytest.raises(ValueError, match="mode='append'"):
        DX.extend_dedup_index(
            docs.where("doc_id IN (3, 60)"), table, tracker, mode="append"
        )
    # genuinely-new ids pass in append mode
    pairs, _, _ = DX.extend_dedup_index(
        docs.where("doc_id >= 60 AND doc_id < 70"), table, tracker,
        mode="append",
    )
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0


@pytest.mark.slow
def test_torn_pair_refused_and_rebuild_repairs(spark, tmp_path):
    """Crash injection between the pair's two appends (bands commit
    lands, docs' doesn't): the next extend refuses loudly; a fresh
    build_dedup_index over the full corpus re-establishes the pair."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where("doc_id < 100")
    table, tracker = _mk_index(tmp_path, "torn")
    DX.build_dedup_index(corpus, table, tracker, band_shards=8, doc_shards=4)

    calls = {"n": 0}
    orig = tracker._append_commit

    def boom(tbl, update):
        if calls["n"] == 1:
            raise RuntimeError("simulated crash between pair appends")
        calls["n"] += 1
        return orig(tbl, update)

    tracker._append_commit = boom
    batch = docs.where("doc_id >= 100 AND doc_id < 110")
    with pytest.raises(RuntimeError, match="simulated crash"):
        DX.extend_dedup_index(batch, table, tracker)

    tracker2 = FileBackedVersionTracker(str(tmp_path / "_log_torn"))
    with pytest.raises(TornPairError, match="build_dedup_index"):
        DX.extend_dedup_index(batch, table, tracker2)

    # repair: full rebuild over the corpus the caller knows is right
    DX.build_dedup_index(
        docs.where("doc_id < 110"), table, tracker2,
        band_shards=8, doc_shards=4,
    )
    assert DX.verify_dedup_index(spark, table, tracker2).count() == 0
    pairs, _, _ = DX.extend_dedup_index(
        docs.where("doc_id >= 110 AND doc_id < 120"), table, tracker2
    )
    assert DX.verify_dedup_index(spark, table, tracker2).count() == 0


def test_batch_validation_and_empty_shingles(spark, tmp_path):
    """Null ids, duplicate ids and empty batches are rejected by name;
    empty-shingle (short) docs index cleanly — doc rows stored, no band
    rows, never a constant-key bucket pairing every short doc."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table, tracker = _mk_index(tmp_path, "valid")
    DX.build_dedup_index(
        docs.where("doc_id < 50"), table, tracker, band_shards=8, doc_shards=4
    )

    with pytest.raises(ValueError, match="NULL doc_id"):
        DX.extend_dedup_index(
            spark.createDataFrame(
                [(None, "some text here")], "doc_id long, text string"
            ),
            table, tracker,
        )
    with pytest.raises(ValueError, match="duplicate doc_id"):
        DX.extend_dedup_index(
            spark.createDataFrame(
                [(901, "a"), (901, "b")], "doc_id long, text string"
            ),
            table, tracker,
        )
    with pytest.raises(ValueError, match="empty batch"):
        DX.extend_dedup_index(
            spark.createDataFrame([], "doc_id long, text string"),
            table, tracker,
        )

    # two short docs (no 3-gram shingles): stored, unbanded, unpaired
    pairs, _, _ = DX.extend_dedup_index(
        spark.createDataFrame(
            [(902, "too short"), (903, "too short")],
            "doc_id long, text string",
        ),
        table, tracker,
    )
    assert pairs.count() == 0
    from chronicles_spark.spark.reader import read_version

    dt = DX.dedup_docs_table(table)
    stored = read_version(
        spark, dt, tracker.current_version(dt.name), infer_partition_types=False
    ).where("doc_id IN (902, 903)")
    assert stored.count() == 2
    bands = read_version(
        spark, table, tracker.current_version(table.name),
        infer_partition_types=False,
    ).where("doc_id IN (902, 903)")
    assert bands.count() == 0
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0


def test_rebuild_regeometry(spark, tmp_path):
    """rebuild_dedup_index re-shards (and re-bands) in place from ONE
    doc-store pass: the rebuilt index equals a from-scratch build under
    the new geometry, the offline verify is empty, every live partition
    carries the rebuild's label, and extends keep agreeing with the
    full re-run under the NEW banding — the re-geometry path that
    bounds shard growth (round-9 directive #3)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where("doc_id < 300")
    table, tracker = _mk_index(tmp_path, "regeo")
    DX.build_dedup_index(corpus, table, tracker, band_shards=8, doc_shards=4)
    DX.extend_dedup_index(
        docs.where("doc_id >= 300 AND doc_id < 350"), table, tracker
    )

    _, arts = DX.rebuild_dedup_index(
        spark, table, tracker, bands=4, band_shards=16, doc_shards=8
    )
    assert (arts.bands, arts.rows, arts.band_shards, arts.doc_shards) == (
        4, 2, 16, 8
    )
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0
    state = tracker.current_version(table.name)
    assert DX.load_dedup_artifacts(table, state).geometry() == arts.geometry()
    assert {v.label for v in state.partition_versions.values()} == {
        arts.version_label
    }

    # equality with a from-scratch build under the new geometry
    table2, tracker2 = _mk_index(tmp_path, "regeo2")
    DX.build_dedup_index(
        docs.where("doc_id < 350"), table2, tracker2, bands=4,
        band_shards=16, doc_shards=8,
    )
    from chronicles_spark.spark.reader import read_version

    def contents(t, tr):
        st = tr.current_version(t.name)
        return sorted(
            map(tuple, read_version(spark, t, st, infer_partition_types=False)
                .select("doc_id", "band_id", "band_key", "band_shard")
                .collect())
        )

    assert contents(table, tracker) == contents(table2, tracker2)

    # extends after the rebuild agree with the full re-run at 4 bands
    p, _, _ = DX.extend_dedup_index(
        docs.where("doc_id >= 350"), table, tracker, threshold=0.5
    )
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0
    want = _pairs(
        DD.minhash_dedup(docs, bands=4, threshold=0.5).where(
            "id_a >= 350 OR id_b >= 350"
        )
    )
    assert _pairs(p) == want


def test_pairs_table_exactly_once(spark, tmp_path):
    """The verified-pairs journal (round-9 directive #4): pairs land in
    the extend's OWN pair commit, so (a) a crash after the commit loses
    nothing — the epoch replay is skipped and the pairs are already in
    the table, no double-landing; (b) a crash that tears the pairs
    append off the group is refused loudly on the next extend and
    repair_dedup_pairs re-lands the torn batch partition from the
    already-written files; (c) a zero-pair extend lands a data-less
    marker commit that keeps the lines paired."""
    from chronicles_spark.spark.reader import read_version

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where("doc_id < 200")
    table, tracker = _mk_index(tmp_path, "pairs")
    DX.build_dedup_index(corpus, table, tracker, band_shards=8, doc_shards=4)
    pt = DX.dedup_pairs_table(table)
    donor13 = corpus.where("doc_id = 13").collect()[0]["text"]

    def stored_pairs():
        return sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 9), r["batch"])
            for r in read_version(
                spark, pt, tracker.current_version(pt.name),
                infer_partition_types=False,
            ).collect()
        )

    # (a) crash BETWEEN commit and callback: on_pairs raises after the
    # extend committed; the replayed epoch is skipped, the pairs are in
    # the journal exactly once
    batch1 = spark.createDataFrame(
        [(900, donor13)], "doc_id long, text string"
    )
    with pytest.raises(RuntimeError, match="crash before callback"):
        DX.commit_dedup_stream_batch(
            batch1, 0, table, tracker, "t", pairs_table=pt,
            on_pairs=lambda p, e: (_ for _ in ()).throw(
                RuntimeError("crash before callback")
            ),
        )
    n_before = len(tracker.table_state(table.name).updates)
    DX.commit_dedup_stream_batch(
        batch1, 0, table, tracker, "t", pairs_table=pt,
    )  # checkpoint replay of epoch 0 → skipped
    assert len(tracker.table_state(table.name).updates) == n_before
    got = stored_pairs()
    assert [(a, b, j) for a, b, j, _ in got] == [(13, 900, 1.0)]
    batch1_label = got[0][3]

    # (c) a zero-pair extend lands a marker-only commit; lines stay paired
    DX.extend_dedup_index(
        spark.createDataFrame(
            [(901, "utterly unique zebra quine flux " * 3)],
            "doc_id long, text string",
        ),
        table, tracker, pairs_table=pt,
    )
    assert [(a, b) for a, b, _, _ in stored_pairs()] == [(13, 900)]

    # (b) tear the pairs append off the group (crash on the 3rd append)
    calls = {"n": 0}
    orig = tracker._append_commit

    def boom(tbl, update):
        if calls["n"] == 2:
            raise RuntimeError("simulated crash before pairs append")
        calls["n"] += 1
        return orig(tbl, update)

    tracker._append_commit = boom
    donor17 = corpus.where("doc_id = 17").collect()[0]["text"]
    batch2 = spark.createDataFrame(
        [(902, donor17)], "doc_id long, text string"
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        DX.extend_dedup_index(batch2, table, tracker, pairs_table=pt)
    tracker._append_commit = orig

    batch3 = spark.createDataFrame(
        [(903, donor13)], "doc_id long, text string"
    )
    with pytest.raises(TornPairError, match="repair_dedup_pairs"):
        DX.extend_dedup_index(batch3, table, tracker, pairs_table=pt)
    relanded = DX.repair_dedup_pairs(table, tracker, pt)
    assert relanded is not None
    # the torn batch's pairs are recovered from the already-written files
    assert [(a, b) for a, b, _, _ in stored_pairs()] == [(13, 900), (17, 902)]
    assert DX.repair_dedup_pairs(table, tracker, pt) is None  # idempotent

    # and the line is whole again: the next extend journals normally
    p3, _, _ = DX.extend_dedup_index(batch3, table, tracker, pairs_table=pt)
    assert [(a, b) for a, b, _, _ in stored_pairs()] == [
        (13, 900), (13, 903), (17, 902), (900, 903),
    ]
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0


def test_extend_returns_its_journal_partition_after_the_head_moves(
    spark, tmp_path, monkeypatch
):
    """The pairs an extend returns are the journal partition it wrote,
    at its own version: a journal commit that lands between the extend's
    commit and its return (here one that drops every batch partition, as
    a consolidation does) changes neither the rows nor their count; a
    zero-pair extend returns an empty frame."""
    from datetime import datetime, timezone

    from chronicles_spark.core.ops import (
        RemovePartition,
        TableUpdate,
        TableUpdateMetadata,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where("doc_id < 200")
    table, tracker = _mk_index(tmp_path, "moved")
    DX.build_dedup_index(corpus, table, tracker, band_shards=8, doc_shards=4)
    pt = DX.dedup_pairs_table(table)
    donor13 = corpus.where("doc_id = 13").collect()[0]["text"]
    real_sync = DX._sync_metastore

    def sync_then_move(metastore, tbl, state):
        # runs after the extend's commit group, before its return
        real_sync(metastore, tbl, state)
        live = tracker.current_version(pt.name).partition_versions
        tracker.commit(pt.name, TableUpdate(
            TableUpdateMetadata.new(
                "t", "drop the journal", datetime.now(timezone.utc)
            ),
            tuple(RemovePartition(p) for p in sorted(live, key=str)),
        ))

    monkeypatch.setattr(DX, "_sync_metastore", sync_then_move)
    pairs, _, _ = DX.extend_dedup_index(
        spark.createDataFrame([(900, donor13)], "doc_id long, text string"),
        table, tracker, pairs_table=pt,
    )
    assert not tracker.current_version(pt.name).partition_versions
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(13, 900)]

    none, _, _ = DX.extend_dedup_index(
        spark.createDataFrame(
            [(901, "utterly unique zebra quine flux " * 3)],
            "doc_id long, text string",
        ),
        table, tracker, pairs_table=pt,
    )
    assert none.count() == 0
    assert none.columns == pairs.columns


def test_vacuum_dedup_artifacts_follows_data_vacuum(spark, tmp_path):
    """Sidecar GC mirrors storage truth (round-9 directive #5, the ANN
    sweep generalized): live/retained labels keep their sidecars; a
    label whose band data vacuum reclaimed loses its sidecar; a
    commit-less orphan (crashed build) waits out the age guard."""
    from datetime import timedelta

    from chronicles_spark.spark import vacuum

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where("doc_id < 100")
    table, tracker = _mk_index(tmp_path, "gc")
    _, a1 = DX.build_dedup_index(
        corpus, table, tracker, band_shards=8, doc_shards=4
    )
    _, a2 = DX.build_dedup_index(
        corpus, table, tracker, band_shards=8, doc_shards=4,
        message="rebuild",
    )
    fs, p1 = DX._artifact_path(table, a1.version_label)
    _, p2 = DX._artifact_path(table, a2.version_label)

    # before any data vacuum: both labels' band data exist → nothing doomed
    assert DX.vacuum_dedup_artifacts(table, tracker, dry_run=True) == []

    removed = vacuum(table, tracker, keep_last=1)
    assert removed  # the superseded build's band dirs really went away
    assert DX.vacuum_dedup_artifacts(table, tracker, dry_run=True) == [p1]
    assert fs.exists(p1)
    assert DX.vacuum_dedup_artifacts(table, tracker) == [p1]
    assert not fs.exists(p1) and fs.exists(p2)
    assert DX.load_dedup_artifacts(
        table, tracker.current_version(table.name)
    ) == a2

    # crashed-build orphan: sidecar without any commit — age-guarded
    fs.write_text(
        fs.join(*p1.rsplit("/", 1)[:1]) + "/"
        + DX.ARTIFACT_PREFIX + "20200101-000000.000000000-"
        + "0" * 8 + "-0000-0000-0000-" + "0" * 12 + ".json",
        a1.to_json(),
    )
    assert DX.vacuum_dedup_artifacts(
        table, tracker, dry_run=True, orphan_min_age=timedelta(days=7)
    ) == []  # too young (mtime is now)
    aged = DX.vacuum_dedup_artifacts(
        table, tracker, orphan_min_age=timedelta(seconds=-1)
    )
    assert len(aged) == 1 and aged[0].endswith("-000000000000.json")
    assert fs.exists(p2)


@pytest.mark.slow
def test_dedup_stream_sink_and_epoch_replay(spark, tmp_path):
    """A real document stream (file source, several micro-batches) keeps
    the dedup index current and surfaces each batch's verified pairs via
    on_pairs; after the drain the union of streamed pairs equals the
    full re-run's pairs for the streamed docs, and a replayed epoch is
    skipped without touching the index."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where("doc_id < 250")
    table, tracker = _mk_index(tmp_path, "stream")
    DX.build_dedup_index(corpus, table, tracker, band_shards=16, doc_shards=8)

    src = str(tmp_path / "docs_src")
    docs.where("doc_id >= 250").repartition(3).write.parquet(src)
    got_pairs = []
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = DX.dedup_stream_sink(
        stream, table, tracker, "t", str(tmp_path / "ckpt"),
        threshold=0.5,
        on_pairs=lambda p, e: got_pairs.extend(_pairs(p)),
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert not q.isActive
    if q.exception() is not None:
        raise q.exception()

    msgs = [
        u.metadata.message
        for u in tracker.table_state(table.name).updates
        if u.metadata.message.startswith("dedup-stream epoch ")
    ]
    assert len(msgs) >= 2  # several micro-batches committed
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0

    # streamed pairs ⊇-check: every full-run pair with a streamed
    # endpoint was reported exactly once (batch boundaries differ from
    # the one-shot run, but the UNION must match pairs touching ≥1
    # streamed doc)
    want = _full_pairs(docs, "id_b >= 250 OR id_a >= 250")
    assert sorted(got_pairs) == want

    # replay of the latest committed epoch is skipped (no new commit)
    last_epoch = max(
        int(m.split(" epoch ", 1)[1].split(" ", 1)[0]) for m in msgs
    )
    n_before = len(tracker.table_state(table.name).updates)
    DX.commit_dedup_stream_batch(
        docs.where("doc_id >= 490"), last_epoch, table, tracker, "t",
    )
    assert len(tracker.table_state(table.name).updates) == n_before
    # an epoch BEHIND the latest raises (wiped checkpoint)
    with pytest.raises(RuntimeError, match="behind the latest"):
        DX.commit_dedup_stream_batch(
            docs.where("doc_id >= 490"), last_epoch - 1, table, tracker, "t",
        )


def test_upsert_that_empties_a_band_shard_removes_it(spark, tmp_path):
    """A re-submitted doc whose OLD band rows were the only rows of a
    band shard, and whose new content routes elsewhere, empties that
    shard: the extend's commit removes it from the live view, and the
    offline verify stays empty (a stale live shard would keep the old
    band rows)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table, tracker = _mk_index(tmp_path, "empties")
    _, arts = DX.build_dedup_index(
        docs.where("doc_id < 12"), table, tracker, band_shards=64, doc_shards=2,
    )

    def shards_of(df):
        banded = DD.lsh_banded(
            df.select("doc_id", DD.shingles_of(F.col("text")).alias("shingles")),
            "doc_id", arts.bands, arts.rows,
        ).select(
            "doc_id",
            DX._shard_col(arts.band_shards, "band_id", "band_key").alias("s"),
        ).distinct()
        out = {}
        for r in banded.collect():
            out.setdefault(r["doc_id"], set()).add(r["s"])
        return out

    held = shards_of(docs.where("doc_id < 12"))
    owners = {}
    for d, ss in held.items():
        for s_ in ss:
            owners.setdefault(s_, set()).add(d)
    alone = sorted(
        (d, s_) for s_, ds in owners.items() if len(ds) == 1 for d in ds
    )
    assert alone  # fixture: some shard holds one doc's band rows only
    others = shards_of(docs.where("doc_id >= 100 AND doc_id < 140"))
    doc_id, shard, text_of = next(
        (d, s_, o) for d, s_ in alone for o, ss in sorted(others.items())
        if s_ not in ss
    )
    id_type = docs.schema["doc_id"].dataType
    batch = docs.where(f"doc_id = {text_of}").withColumn(
        "doc_id", F.lit(doc_id).cast(id_type)
    )
    _, state, _ = DX.extend_dedup_index(batch, table, tracker, threshold=0.5)
    live = {dict(p.column_values)["band_shard"] for p in state.partition_versions}
    assert shard not in live
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0


def test_extend_optimistic_conflict_and_exclusive(spark, tmp_path, monkeypatch):
    """An extend is a read-modify-write: a racer committing to one of ITS
    band shards between write and commit must raise CommitConflictError
    (default optimistic), a racer on a DISJOINT shard auto-merges,
    last-writer-wins opts out entirely, and exclusive=True demands the
    flock tracker that actually serializes cross-process extends (the
    ANN family's contract, shared core)."""
    import chronicles_spark.spark.writer as writer_mod
    from chronicles_spark.core.model import Partition
    from chronicles_spark.core.ops import (
        RemovePartition, TableUpdate, TableUpdateMetadata,
    )
    from chronicles_spark.trackers.base import CommitConflictError

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table, tracker = _mk_index(tmp_path, "race")
    _, arts = DX.build_dedup_index(
        docs.where("doc_id < 200"), table, tracker,
        band_shards=16, doc_shards=8,
    )
    batch = docs.where("doc_id = 200")  # 1 doc → ≤ bands shards touched
    banded = DD.lsh_banded(
        batch.select("doc_id", DD.shingles_of(F.col("text")).alias("shingles")),
        "doc_id", arts.bands, arts.rows,
    ).withColumn("band_shard", DX._shard_col(arts.band_shards, "band_id", "band_key"))
    touched = {
        r["band_shard"] for r in banded.select("band_shard").distinct().collect()
    }
    live = {
        dict(p.column_values)["band_shard"]
        for p in tracker.current_version(table.name).partition_versions
    }
    assert touched and (live - touched)  # fixture discriminates
    racer_shard = {"value": sorted(touched)[0]}

    orig = writer_mod.write_versioned

    def racing_write(df, table_, version_):
        orig(df, table_, version_)
        # metadata-only racer (a RemovePartition needs no data directory)
        tracker.commit(
            table.name,
            TableUpdate(
                TableUpdateMetadata.new("racer", "concurrent"),
                (RemovePartition(
                    Partition.of(("band_shard", racer_shard["value"])),
                ),),
            ),
        )

    monkeypatch.setattr(writer_mod, "write_versioned", racing_write)
    with pytest.raises(CommitConflictError):
        DX.extend_dedup_index(batch, table, tracker, artifacts=arts)

    # disjoint racer auto-merges (an id collision would necessarily
    # surface as a doc- or band-shard overlap)
    racer_shard["value"] = sorted(live - touched)[0]
    DX.extend_dedup_index(batch, table, tracker, artifacts=arts)
    # overlapping racer again, but last-writer-wins opts out of detection
    racer_shard["value"] = sorted(touched)[0]
    DX.extend_dedup_index(
        batch, table, tracker, artifacts=arts,
        concurrency="last-writer-wins",
    )
    monkeypatch.setattr(writer_mod, "write_versioned", orig)

    # exclusive=True needs the flock tracker…
    with pytest.raises(ValueError, match="use_lock"):
        DX.extend_dedup_index(
            batch, table, tracker, artifacts=arts, exclusive=True
        )
    # …and with one, the flock-held RMW extends normally
    locked = FileBackedVersionTracker(
        str(tmp_path / "_log_locked"), use_lock=True
    )
    table2 = TableDefinition(
        TableName("demo", "racex"), str(tmp_path / "racex"),
        PartitionSchema(("band_shard",)),
    )
    locked.init_table(table2.name, is_snapshot=False, user_id="t")
    DX.build_dedup_index(
        docs.where("doc_id < 100"), table2, locked,
        band_shards=8, doc_shards=4,
    )
    DX.extend_dedup_index(
        docs.where("doc_id >= 100 AND doc_id < 110"), table2, locked,
        exclusive=True,
    )
    assert DX.verify_dedup_index(spark, table2, locked).count() == 0


def test_dedup_index_over_cas_tracker_and_vacuum(spark, tmp_path):
    """The dedup index composes with the object-store commit protocol
    and with GC: build+extend over a use_cas tracker (checkpoint cuts
    on), vacuum superseded shard versions + sidecars, and the extend's
    pairs still equal the full re-run's batch slice."""
    from chronicles_spark.spark import vacuum

    tracker = FileBackedVersionTracker(
        str(tmp_path / "_log"), use_cas=True, checkpoint_interval=2
    )
    table = TableDefinition(
        TableName("demo", "ddcas"), str(tmp_path / "ddcas"),
        PartitionSchema(("band_shard",)),
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    DX.build_dedup_index(
        docs.where("doc_id < 200"), table, tracker,
        band_shards=16, doc_shards=8,
    )
    pairs, _, _ = DX.extend_dedup_index(
        docs.where("doc_id >= 200 AND doc_id < 250"), table, tracker,
        threshold=0.5,
    )
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0
    want = _full_pairs(docs.where("doc_id < 250"), "id_b >= 200")
    assert _pairs(pairs) == want

    removed = vacuum(table, tracker, keep_last=1)
    assert removed  # superseded touched-shard versions reclaimed
    DX.vacuum_dedup_artifacts(table, tracker)
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0

    # checkpointed CAS resolution agrees with a full-fold ground truth
    truth = FileBackedVersionTracker(
        str(tmp_path / "_log"), checkpoint_interval=None
    )
    assert tracker.current_version(table.name) == truth.current_version(
        table.name
    )


def _tpl_docs(spark, ids, mod):
    """Deterministic synthetic docs where i and j share text iff
    i ≡ j (mod ``mod``) — guaranteed exact near-dups across any split."""
    words = [
        F.concat(
            F.lit("w"),
            (((F.col("id") % mod) * F.lit(7 + 13 * j) + F.lit(j * j)) % 97)
            .cast("string"),
        )
        for j in range(20)
    ]
    return ids.select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", *words).alias("text")
    )


def test_bulk_batch_extend_no_forced_broadcast(spark, tmp_path):
    """Round-10 (VERDICT r9 wrong #2): the batch-id-set joins carry no
    forced broadcast hint any more — a BULK batch (hundreds of docs,
    every one a replacement candidate lookup) extends without driver
    pressure and the incremental == one-shot differential still holds."""
    corpus = _tpl_docs(spark, spark.range(1000), 100)
    batch = _tpl_docs(spark, spark.range(10000, 10400), 100)
    table, tracker = _mk_index(tmp_path, "bulk")
    DX.build_dedup_index(corpus, table, tracker, band_shards=16, doc_shards=8)
    pairs, _, _ = DX.extend_dedup_index(batch, table, tracker, threshold=0.5)
    assert DX.verify_dedup_index(spark, table, tracker).count() == 0
    want = _pairs(
        DD.minhash_dedup(corpus.unionByName(batch), threshold=0.5).where(
            "id_a >= 10000 OR id_b >= 10000"
        )
    )
    assert _pairs(pairs) == want and want


def test_geometry_drift_warning(spark, tmp_path):
    """Round-10 directive #4: an extend that OBSERVES a touched band
    shard beyond the sizing target warns, naming the rebuild; under the
    default target the same extend stays silent."""
    import warnings

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table, tracker = _mk_index(tmp_path, "drift")
    DX.build_dedup_index(
        docs.where("doc_id < 100"), table, tracker, band_shards=2, doc_shards=2
    )
    with pytest.warns(DX.DedupGeometryDriftWarning, match="rebuild"):
        DX.extend_dedup_index(
            docs.where("doc_id >= 100 AND doc_id < 120"), table, tracker,
            drift_shard_rows=10,
        )
    with warnings.catch_warnings():
        warnings.simplefilter("error", DX.DedupGeometryDriftWarning)
        DX.extend_dedup_index(
            docs.where("doc_id >= 120 AND doc_id < 140"), table, tracker
        )


def test_pairs_table_name_must_sort_last(spark, tmp_path):
    """ADVICE r9: the exactly-once pairs claim rests on commit order —
    a caller-supplied pairs table whose name sorts BEFORE the index
    tables would commit first on the files backend, so it is refused."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table, tracker = _mk_index(tmp_path, "pairsname")
    DX.build_dedup_index(
        docs.where("doc_id < 50"), table, tracker, band_shards=4, doc_shards=2
    )
    bad = TableDefinition(
        TableName("demo", "aaa_pairs"), str(tmp_path / "aaa_pairs"),
        PartitionSchema(("batch",)),
    )
    with pytest.raises(ValueError, match="must sort after"):
        DX.extend_dedup_index(
            docs.where("doc_id >= 50 AND doc_id < 60"), table, tracker,
            pairs_table=bad,
        )
    with pytest.raises(ValueError, match="must sort after"):
        DX.rebuild_dedup_index(spark, table, tracker, pairs_table=bad)
    # the derived naming always satisfies the order
    DX.extend_dedup_index(
        docs.where("doc_id >= 50 AND doc_id < 60"), table, tracker,
        pairs_table=DX.dedup_pairs_table(table),
    )


def test_batch_id_type_mismatch_rejected(spark, tmp_path):
    """ADVICE r9: a batch whose id column type differs from the stored
    docs schema must raise instead of letting unionByName coerce the
    touched shards to a wider type (mixed parquet physical types +
    broken typed-hash shard routing)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table, tracker = _mk_index(tmp_path, "dtype")
    DX.build_dedup_index(
        docs.where("doc_id < 50"), table, tracker, band_shards=4, doc_shards=2
    )
    bad = spark.createDataFrame(
        [("900", "some new text about ducks and rivers")],
        "doc_id string, text string",
    )
    with pytest.raises(ValueError, match="keep column types stable"):
        DX.extend_dedup_index(bad, table, tracker)


def test_delta_lookup_join_broadcasts_via_aqe(spark, tmp_path):
    """Round-10 directive #5 evidence: with the forced hint gone, a
    DELTA-scale batch's lookup join still ends up broadcast — chosen by
    AQE from runtime stats, instead of decreed for all batch sizes."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    table, tracker = _mk_index(tmp_path, "aqe")
    _, arts = DX.build_dedup_index(
        docs, table, tracker, band_shards=8, doc_shards=4
    )
    from chronicles_spark.spark.reader import read_version

    docs_state = tracker.current_version(DX.dedup_docs_table(table).name)
    new_ids = docs.where("doc_id IN (3, 5)").select("doc_id")
    lookup = (
        read_version(
            spark, DX.dedup_docs_table(table), docs_state,
            infer_partition_types=False,
        )
        .select("doc_id")
        .join(new_ids, "doc_id", "left_semi")
    )
    assert lookup.count() == 2
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in plan
    assert "BroadcastHashJoin" in plan, plan
