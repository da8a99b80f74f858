"""Round-10: incremental duplicate-cluster maintenance
(operators/cluster_index.py).

House-style differentials:
* fold-by-fold == one-shot ``dedup_clusters`` over the union of all
  folded pairs — including cross-batch merges (a pair bridging two
  existing clusters) and late arrival of a new minimum id (the
  relabel-the-winner case);
* fold order never matters (min-label components are confluent);
* ``verify_dedup_clusters`` (assign ⟷ members + min-member invariant)
  empty after every step;
* exactly-once over the pairs journal (``[folds:<label>]`` watermark,
  replayed labels skipped, empty batches still recorded);
* structural O(batch) pruning pinned on the partition metadata;
* torn-pair crash injection (the pairing.py protocol, cluster flavor).
"""

import os

import pytest
from pyspark.sql import functions as F

from chronicles_spark.core.model import (
    PartitionSchema,
    TableDefinition,
    TableName,
)
from chronicles_spark.operators import cluster_index as CX, dedup as DD
from chronicles_spark.operators import dedup_index as DX
from chronicles_spark.operators.pairing import TornPairError, publish_group
from chronicles_spark.core.version import generate_version
from chronicles_spark.sources import load_table
from chronicles_spark.trackers import FileBackedVersionTracker

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _mk(tmp_path, name):
    tracker = FileBackedVersionTracker(str(tmp_path / f"_log_{name}"))
    table = TableDefinition(
        TableName("demo", name), str(tmp_path / name),
        PartitionSchema(("doc_shard",)),
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    return table, tracker


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _assignments(spark, table, tracker):
    from chronicles_spark.spark.reader import read_version

    state = tracker.current_version(table.name)
    if not state.partition_versions:
        return []
    return sorted(
        (r["doc_id"], r["cluster_id"])
        for r in read_version(spark, table, state, infer_partition_types=False)
        .select("doc_id", "cluster_id")
        .collect()
    )


def _want(pairs_df):
    return sorted(
        (r["doc_id"], r["cluster_id"])
        for r in DD.dedup_clusters(pairs_df).select("doc_id", "cluster_id").collect()
    )


def test_folds_equal_one_shot_over_real_pairs(spark, tmp_path):
    """Minhash pairs over the documents fixture, split into three
    batches and folded sequentially == one-shot dedup_clusters over all
    pairs — clusters formed by pairs straddling batches exercise the
    cross-batch merge path organically."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    all_pairs = DD.lineage_barrier(
        DD.minhash_dedup(docs, threshold=0.5).select("id_a", "id_b")
    )
    assert all_pairs.count() > 3  # fixture has known near-dups

    table, tracker = _mk(tmp_path, "real")
    CX.build_dedup_clusters(
        None, table, tracker, doc_shards=8, cluster_shards=4
    )
    for i in range(3):
        batch = all_pairs.where((F.col("id_a") + F.col("id_b")) % 3 == i)
        changed, _, _ = CX.extend_dedup_clusters(batch, table, tracker)
        assert changed is not None
        assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0

    assert _assignments(spark, table, tracker) == _want(all_pairs)


@pytest.mark.slow
def test_cross_batch_merge_and_new_min(spark, tmp_path):
    """Explicit merge choreography: two separate clusters, a bridging
    pair (union), then a NEW smallest id joining one end — every member
    of the merged cluster must relabel (min-member contract), members
    table moving shards included."""
    table, tracker = _mk(tmp_path, "merge")
    CX.build_dedup_clusters(None, table, tracker, doc_shards=4, cluster_shards=4)

    batches = [
        [(1, 2), (2, 3), (10, 11)],   # clusters {1,2,3} and {10,11}
        [(3, 10)],                    # bridge: one cluster {1,2,3,10,11}
        [(0, 11), (20, 21)],          # new min 0 relabels all; fresh cluster
    ]
    folded = []
    for b in batches:
        folded.extend(b)
        changed, _, _ = CX.extend_dedup_clusters(
            _pairs_df(spark, b), table, tracker
        )
        assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0
        assert _assignments(spark, table, tracker) == _want(
            _pairs_df(spark, folded)
        )

    got = dict(_assignments(spark, table, tracker))
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 0, 11: 0, 20: 20, 21: 20}

    # the bridge fold reported exactly the rows it relabeled
    changed2, _, _ = CX.extend_dedup_clusters(
        _pairs_df(spark, [(1, 21)]), table, tracker
    )
    moved = sorted(
        (r["doc_id"], r["cluster_id"]) for r in changed2.collect()
    )
    assert moved == [(20, 0), (21, 0)]  # smaller cluster joined 0's


@pytest.mark.slow
def test_fold_order_is_confluent(spark, tmp_path):
    """Min-label components are order-independent: folding the same
    batches in reverse yields the identical assignment table."""
    batches = [
        [(1, 2), (7, 8)],
        [(2, 7)],
        [(5, 8), (3, 4)],
    ]
    results = []
    for name, order in (("fwd", batches), ("rev", batches[::-1])):
        table, tracker = _mk(tmp_path, name)
        CX.build_dedup_clusters(
            None, table, tracker, doc_shards=4, cluster_shards=2
        )
        for b in order:
            CX.extend_dedup_clusters(_pairs_df(spark, b), table, tracker)
        assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0
        results.append(_assignments(spark, table, tracker))
    assert results[0] == results[1] == _want(
        _pairs_df(spark, [p for b in batches for p in b])
    )


def test_build_with_base_pairs_then_extend(spark, tmp_path):
    """The bootstrap shape: build from a one-shot pair run, then fold a
    delta — equals the one-shot over the union."""
    base = [(1, 2), (4, 5)]
    delta = [(2, 4), (9, 1)]
    table, tracker = _mk(tmp_path, "boot")
    CX.build_dedup_clusters(
        _pairs_df(spark, base), table, tracker, doc_shards=4, cluster_shards=4
    )
    assert _assignments(spark, table, tracker) == _want(_pairs_df(spark, base))
    assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0
    CX.extend_dedup_clusters(_pairs_df(spark, delta), table, tracker)
    assert _assignments(spark, table, tracker) == _want(
        _pairs_df(spark, base + delta)
    )
    assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0


def test_batch_label_exactly_once(spark, tmp_path):
    """A batch label folds ONCE: the label rides the fold's own commit
    message, a replay is skipped (changed=None, no new commit), and an
    EMPTY labeled batch still records its watermark."""
    table, tracker = _mk(tmp_path, "once")
    CX.build_dedup_clusters(None, table, tracker, doc_shards=4, cluster_shards=2)

    changed, _, _ = CX.extend_dedup_clusters(
        _pairs_df(spark, [(1, 2)]), table, tracker, batch_label="b-one"
    )
    assert changed is not None
    assert CX.folded_batch_labels(tracker, table.name) == {"b-one"}
    head = tracker.table_state(table.name).current_version

    replay, _, _ = CX.extend_dedup_clusters(
        _pairs_df(spark, [(1, 2), (3, 4)]), table, tracker, batch_label="b-one"
    )
    assert replay is None
    assert tracker.table_state(table.name).current_version == head
    assert _assignments(spark, table, tracker) == [(1, 1), (2, 1)]

    empty = _pairs_df(spark, [(1, 2)]).where("id_a < 0")
    changed3, _, _ = CX.extend_dedup_clusters(
        empty, table, tracker, batch_label="b-empty"
    )
    assert changed3.count() == 0
    assert CX.folded_batch_labels(tracker, table.name) == {"b-one", "b-empty"}


def test_fold_new_dedup_pairs_consumes_journal(spark, tmp_path):
    """End-to-end with the text dedup index's exactly-once pairs
    journal: extends land batch partitions, fold_new_dedup_pairs folds
    exactly the unfolded ones (in label order), the assignment equals
    the one-shot over the journal's union, and a second sweep is a
    no-op."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx_tracker = FileBackedVersionTracker(str(tmp_path / "_log_idx"))
    idx_table = TableDefinition(
        TableName("demo", "bands"), str(tmp_path / "bands"),
        PartitionSchema(("band_shard",)),
    )
    idx_tracker.init_table(idx_table.name, is_snapshot=False, user_id="t")
    pt = DX.dedup_pairs_table(idx_table)
    DX.build_dedup_index(
        docs.where("doc_id < 300"), idx_table, idx_tracker,
        band_shards=8, doc_shards=4,
    )
    DX.extend_dedup_index(
        docs.where("doc_id >= 300 AND doc_id < 400"), idx_table, idx_tracker,
        threshold=0.5, pairs_table=pt,
    )
    DX.extend_dedup_index(
        docs.where("doc_id >= 400"), idx_table, idx_tracker,
        threshold=0.5, pairs_table=pt,
    )

    table = TableDefinition(
        TableName("demo", "fromjournal"), str(tmp_path / "fromjournal"),
        PartitionSchema(("doc_shard",)),
    )
    idx_tracker.init_table(table.name, is_snapshot=False, user_id="t")
    CX.build_dedup_clusters(
        None, table, idx_tracker, doc_shards=4, cluster_shards=4
    )
    folded = CX.fold_new_dedup_pairs(spark, pt, table, idx_tracker)
    assert len(folded) == 2 and folded == sorted(folded)
    assert CX.fold_new_dedup_pairs(spark, pt, table, idx_tracker) == []
    assert CX.verify_dedup_clusters(spark, table, idx_tracker).count() == 0

    from chronicles_spark.spark.reader import read_version

    journal = read_version(
        spark, pt, idx_tracker.current_version(pt.name),
        infer_partition_types=False,
    ).select("id_a", "id_b")
    assert journal.count() > 0
    assert _assignments(spark, table, idx_tracker) == _want(journal)


def test_lookup_reads_only_endpoint_shards(spark, tmp_path):
    """The O(batch) claim, structurally: one pair's endpoints resolve to
    strict subsets of the live assign shards, and a relabel's old
    cluster to a subset of the member shards."""
    table, tracker = _mk(tmp_path, "prune")
    many = [(i, i + 1000) for i in range(200)]
    CX.build_dedup_clusters(
        _pairs_df(spark, many), table, tracker, doc_shards=16, cluster_shards=8
    )
    state = tracker.current_version(table.name)
    live = {
        dict(p.column_values)["doc_shard"] for p in state.partition_versions
    }
    assert len(live) > 8

    one = _pairs_df(spark, [(3, 1003)])
    endpoints = one.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    shards = {
        r["s"]
        for r in endpoints.select(
            CX._shard_col(16, "doc_id").alias("s")
        ).collect()
    }
    sub = CX._restrict_to_values(state, CX.DOC_SHARD_COL, sorted(shards))
    assert 0 < len(sub.partition_versions) <= 2 < len(live)

    mstate = tracker.current_version(CX.cluster_members_table(table).name)
    msub = CX._restrict_to_values(
        mstate, CX.CLUSTER_SHARD_COL,
        sorted({
            r["s"]
            for r in spark.createDataFrame([(3,)], "old_cluster long").select(
                CX._shard_col(8, "old_cluster").alias("s")
            ).collect()
        }),
    )
    assert len(msub.partition_versions) <= 1


def test_torn_pair_refused_and_crash_injection(spark, tmp_path):
    """A crash between the group's two appends leaves the assignment
    and members lines on different pair commits — the next fold refuses
    loudly instead of relabeling from a stale companion."""
    table, tracker = _mk(tmp_path, "torn")
    CX.build_dedup_clusters(None, table, tracker, doc_shards=4, cluster_shards=2)
    CX.extend_dedup_clusters(_pairs_df(spark, [(1, 2)]), table, tracker)

    orig = tracker._append_commit
    calls = {"n": 0}

    def boom(tbl, update):
        calls["n"] += 1
        if calls["n"] == 2:  # first append (primary) lands, second dies
            raise RuntimeError("simulated crash")
        return orig(tbl, update)

    tracker._append_commit = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        CX.extend_dedup_clusters(_pairs_df(spark, [(2, 5)]), table, tracker)
    tracker._append_commit = orig

    tracker2 = FileBackedVersionTracker(str(tmp_path / "_log_torn"))
    with pytest.raises(TornPairError, match="build_dedup_clusters"):
        CX.extend_dedup_clusters(_pairs_df(spark, [(5, 6)]), table, tracker2)


def test_validation_and_empty_index_artifacts(spark, tmp_path):
    """Null endpoints are rejected by name; an EMPTY built index (no
    partitions yet) still resolves its geometry through the head pair
    label's sidecar; self-pairs carry no edge."""
    table, tracker = _mk(tmp_path, "valid")
    _, arts = CX.build_dedup_clusters(
        None, table, tracker, doc_shards=4, cluster_shards=2
    )
    assert (arts.doc_shards, arts.cluster_shards) == (4, 2)

    with pytest.raises(ValueError, match="NULL endpoint"):
        CX.extend_dedup_clusters(
            spark.createDataFrame(
                [(1, None)], "id_a long, id_b long"
            ),
            table, tracker,
        )
    # self-pairs alone are an empty batch (no edges)
    changed, _, _ = CX.extend_dedup_clusters(
        _pairs_df(spark, [(7, 7)]), table, tracker
    )
    assert changed.count() == 0
    assert _assignments(spark, table, tracker) == []


def test_rebuild_reshards_and_folds_continue(spark, tmp_path):
    """Re-geometry: rebuild under doubled shard counts keeps every
    assignment byte-identical, later folds agree with the one-shot over
    the union, and the fold watermark survives (it lives in the log)."""
    batches = [[(1, 2), (10, 11)], [(2, 10)]]
    table, tracker = _mk(tmp_path, "regeo")
    CX.build_dedup_clusters(None, table, tracker, doc_shards=2, cluster_shards=2)
    CX.extend_dedup_clusters(
        _pairs_df(spark, batches[0]), table, tracker, batch_label="b0"
    )
    before = _assignments(spark, table, tracker)

    state, arts = CX.rebuild_dedup_clusters(
        spark, table, tracker, doc_shards=8, cluster_shards=8
    )
    assert (arts.doc_shards, arts.cluster_shards) == (8, 8)
    assert len(state.partition_versions) > 2  # actually re-sharded
    assert _assignments(spark, table, tracker) == before
    assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0
    assert CX.folded_batch_labels(tracker, table.name) == {"b0"}

    CX.extend_dedup_clusters(
        _pairs_df(spark, batches[1]), table, tracker, batch_label="b1"
    )
    assert _assignments(spark, table, tracker) == _want(
        _pairs_df(spark, batches[0] + batches[1])
    )
    assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0


def test_fold_drift_warning(spark, tmp_path):
    """A fold observing a touched member shard beyond the sizing target
    warns, naming rebuild_dedup_clusters; the default stays silent."""
    import warnings

    table, tracker = _mk(tmp_path, "drift")
    CX.build_dedup_clusters(None, table, tracker, doc_shards=2, cluster_shards=1)
    with pytest.warns(
        DX.DedupGeometryDriftWarning, match="rebuild_dedup_clusters"
    ):
        CX.extend_dedup_clusters(
            _pairs_df(spark, [(i, i + 100) for i in range(10)]),
            table, tracker, drift_shard_rows=5,
        )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        CX.extend_dedup_clusters(
            _pairs_df(spark, [(200, 300)]), table, tracker
        )


@pytest.mark.slow
def test_seeded_fuzz_folds_match_one_shot(spark, tmp_path):
    """Seeded random pair batches (duplicate pairs within and across
    batches, chains, re-touched clusters, singletons) folded in sequence
    == one-shot over the union — the shapes the structured cases don't
    enumerate."""
    import random

    rng = random.Random(20260815)
    ids = list(range(40))
    batches = [
        [
            tuple(rng.sample(ids, 2))
            for _ in range(rng.randint(1, 8))
        ]
        for _ in range(5)
    ]
    table, tracker = _mk(tmp_path, "fuzz")
    CX.build_dedup_clusters(None, table, tracker, doc_shards=4, cluster_shards=4)
    folded = []
    for i, b in enumerate(batches):
        folded.extend(b)
        CX.extend_dedup_clusters(
            _pairs_df(spark, b), table, tracker, batch_label=f"fz-{i}"
        )
        assert _assignments(spark, table, tracker) == _want(
            _pairs_df(spark, folded)
        )
    assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0
    assert CX.folded_batch_labels(tracker, table.name) == {
        f"fz-{i}" for i in range(5)
    }


@pytest.mark.slow
def test_coalesced_backlog_fold(spark, tmp_path):
    """The backlog knob: three journal batches fold in TWO commits
    (coalesce_batches=2), every label recorded, result == one-shot over
    the union; a replay of the coalesced label set is skipped."""
    idx_tracker = FileBackedVersionTracker(str(tmp_path / "_log_cidx"))
    idx_table = TableDefinition(
        TableName("demo", "cbands"), str(tmp_path / "cbands"),
        PartitionSchema(("band_shard",)),
    )
    idx_tracker.init_table(idx_table.name, is_snapshot=False, user_id="t")
    pt = DX.dedup_pairs_table(idx_table)
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    DX.build_dedup_index(
        docs.where("doc_id < 200"), idx_table, idx_tracker,
        band_shards=8, doc_shards=4,
    )
    for lo, hi in ((200, 300), (300, 400), (400, 10**9)):
        DX.extend_dedup_index(
            docs.where(f"doc_id >= {lo} AND doc_id < {hi}"),
            idx_table, idx_tracker, threshold=0.5, pairs_table=pt,
        )

    table = TableDefinition(
        TableName("demo", "cfold"), str(tmp_path / "cfold"),
        PartitionSchema(("doc_shard",)),
    )
    idx_tracker.init_table(table.name, is_snapshot=False, user_id="t")
    CX.build_dedup_clusters(None, table, idx_tracker, doc_shards=4,
                            cluster_shards=4)
    n_commits_before = len(idx_tracker.table_state(table.name).updates)
    folded = CX.fold_new_dedup_pairs(
        spark, pt, table, idx_tracker, coalesce_batches=2
    )
    assert len(folded) == 3
    n_commits = len(
        idx_tracker.table_state(table.name).updates
    ) - n_commits_before
    assert n_commits == 2  # ceil(3/2) fold commits, not 3
    assert CX.folded_batch_labels(idx_tracker, table.name) == set(folded)
    assert CX.fold_new_dedup_pairs(
        spark, pt, table, idx_tracker, coalesce_batches=2
    ) == []
    assert CX.verify_dedup_clusters(spark, table, idx_tracker).count() == 0

    from chronicles_spark.spark.reader import read_version

    journal = read_version(
        spark, pt, idx_tracker.current_version(pt.name),
        infer_partition_types=False,
    ).select("id_a", "id_b")
    assert _assignments(spark, table, idx_tracker) == _want(journal)


def test_coalesced_partial_overlap_refolds_harmlessly(spark, tmp_path):
    """A coalesced label set PARTIALLY overlapping the watermark
    re-folds the union (already-reflected edges are no-ops — the
    documented contract) and records the new labels; a full-overlap
    replay is skipped."""
    table, tracker = _mk(tmp_path, "overlap")
    CX.build_dedup_clusters(None, table, tracker, doc_shards=4, cluster_shards=2)
    CX.extend_dedup_clusters(
        _pairs_df(spark, [(1, 2)]), table, tracker, batch_label="a"
    )
    changed, _, _ = CX.extend_dedup_clusters(
        _pairs_df(spark, [(1, 2), (3, 4)]), table, tracker,
        batch_label=["a", "b"],
    )
    assert changed is not None  # partial overlap folds
    assert CX.folded_batch_labels(tracker, table.name) == {"a", "b"}
    assert _assignments(spark, table, tracker) == _want(
        _pairs_df(spark, [(1, 2), (3, 4)])
    )
    replay, _, _ = CX.extend_dedup_clusters(
        _pairs_df(spark, [(1, 2), (3, 4)]), table, tracker,
        batch_label=["a", "b"],
    )
    assert replay is None  # full overlap skips
    assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0


def _sidecar_files(table):
    from chronicles_spark.trackers.fs import filesystem_for

    fs, root = filesystem_for(table.location)
    if not fs.is_dir(root):
        return set()
    return {n for n in fs.list_dir(root) if n.startswith(DX.ARTIFACT_PREFIX)}


def test_marker_only_folds_mint_no_sidecar(spark, tmp_path):
    """Round-11 (ADVICE): empty-batch and no-change folds re-stamp the
    head's EXISTING pair label instead of minting a fresh data-less
    sidecar — so the sidecar sweep can never age out a label a healthy
    index's loads anchor on.  Real folds still mint one per version."""
    table, tracker = _mk(tmp_path, "nomint")
    CX.build_dedup_clusters(None, table, tracker, doc_shards=4, cluster_shards=2)
    after_build = _sidecar_files(table)
    assert len(after_build) == 1  # the bootstrap geometry

    # empty batch: watermark lands, no new sidecar
    changed, _, arts0 = CX.extend_dedup_clusters(
        _pairs_df(spark, []).limit(0), table, tracker, batch_label="b-empty"
    )
    assert changed is not None and changed.count() == 0
    assert CX.folded_batch_labels(tracker, table.name) == {"b-empty"}
    assert _sidecar_files(table) == after_build

    # real fold: mints its sidecar
    CX.extend_dedup_clusters(
        _pairs_df(spark, [(1, 2)]), table, tracker, batch_label="b1"
    )
    after_real = _sidecar_files(table)
    assert len(after_real) == 2

    # no-change fold (same pair again under a new label): no new sidecar
    CX.extend_dedup_clusters(
        _pairs_df(spark, [(1, 2)]), table, tracker, batch_label="b2"
    )
    assert _sidecar_files(table) == after_real
    assert CX.folded_batch_labels(tracker, table.name) == {
        "b-empty", "b1", "b2",
    }
    # pairing stays coherent: the next real fold proceeds from the pair
    CX.extend_dedup_clusters(
        _pairs_df(spark, [(2, 3)]), table, tracker, batch_label="b3"
    )
    assert _assignments(spark, table, tracker) == _want(
        _pairs_df(spark, [(1, 2), (2, 3)])
    )
    assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0


def test_vacuum_sidecars_protects_head_pair_label(spark, tmp_path):
    """Round-11 (ADVICE): the bootstrap's marker-only pair label maps to
    NO data directory — the sidecar sweep must protect each line's
    current head-pair label from the orphan age-doom path, or a weekly
    vacuum bricks every later fold of a healthy (empty or rebuilt)
    index.  A genuinely orphaned foreign label still ages out."""
    from datetime import timedelta

    table, tracker = _mk(tmp_path, "protect")
    _, arts = CX.build_dedup_clusters(
        None, table, tracker, doc_shards=4, cluster_shards=2
    )
    fs, apath = DX._artifact_path(table, arts.version_label)
    # even with a zero age guard, the head-pair label survives
    assert DX.vacuum_dedup_artifacts(
        table, tracker, orphan_min_age=timedelta(seconds=-1)
    ) == []
    assert fs.exists(apath)

    # a crashed-build orphan under another label still ages out
    junk = fs.join(
        *apath.rsplit("/", 1)[:1]
    ) + "/" + DX.ARTIFACT_PREFIX + "19990101-000000.000000000-" + "0" * 8 \
        + "-0000-0000-0000-" + "0" * 12 + ".json"
    fs.write_text(junk, arts.to_json())
    doomed = DX.vacuum_dedup_artifacts(
        table, tracker, orphan_min_age=timedelta(seconds=-1)
    )
    assert doomed == [junk]

    # loads and folds keep working after the sweep
    CX.extend_dedup_clusters(
        _pairs_df(spark, [(5, 6)]), table, tracker, batch_label="b0"
    )
    assert _assignments(spark, table, tracker) == _want(
        _pairs_df(spark, [(5, 6)])
    )


@pytest.mark.slow
def test_giant_relabel_warning(spark, tmp_path):
    """Round-11: a fold that relabels more member rows than
    relabel_warn_rows warns (the min-member contract's semantic rewrite,
    flagged so it is never mistaken for amplification); the default
    threshold stays silent at toy scale."""
    import warnings

    table, tracker = _mk(tmp_path, "relabel")
    CX.build_dedup_clusters(None, table, tracker, doc_shards=4, cluster_shards=4)
    # cluster {10..15}, then a new minimum 1 arrives: 6 members relabel
    CX.extend_dedup_clusters(
        _pairs_df(spark, [(10, i) for i in range(11, 16)]), table, tracker
    )
    with pytest.warns(CX.ClusterRelabelWarning, match="min-member"):
        CX.extend_dedup_clusters(
            _pairs_df(spark, [(1, 10)]), table, tracker, relabel_warn_rows=3
        )
    # default threshold (10M): silent on the same shape
    table2, tracker2 = _mk(tmp_path, "relabel2")
    CX.build_dedup_clusters(None, table2, tracker2, doc_shards=4, cluster_shards=4)
    CX.extend_dedup_clusters(
        _pairs_df(spark, [(10, i) for i in range(11, 16)]), table2, tracker2
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        CX.extend_dedup_clusters(
            _pairs_df(spark, [(1, 10)]), table2, tracker2
        )
    assert _assignments(spark, table2, tracker2) == _want(
        _pairs_df(spark, [(10, i) for i in range(11, 16)] + [(1, 10)])
    )


@pytest.mark.slow
def test_compact_dedup_pairs_preserves_journal_and_folds(spark, tmp_path):
    """Journal compaction (round 11): consolidating the FOLDED batch
    partitions into one ``batch=folded-<v>`` partition preserves the
    journal's content row-for-row, drops the partition count to
    O(unfolded + 1), never re-enters the fold path (exactly-once
    structural), leaves unfolded batches alone, and a later extend +
    fold + re-compaction still equals the one-shot over the whole
    journal."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx_tracker = FileBackedVersionTracker(str(tmp_path / "_log_idx"))
    idx_table = TableDefinition(
        TableName("demo", "bands"), str(tmp_path / "bands"),
        PartitionSchema(("band_shard",)),
    )
    idx_tracker.init_table(idx_table.name, is_snapshot=False, user_id="t")
    pt = DX.dedup_pairs_table(idx_table)
    DX.build_dedup_index(
        docs.where("doc_id < 250"), idx_table, idx_tracker,
        band_shards=8, doc_shards=4,
    )
    for lo, hi in ((250, 320), (320, 400), (400, 10**9)):
        DX.extend_dedup_index(
            docs.where(f"doc_id >= {lo} AND doc_id < {hi}"),
            idx_table, idx_tracker, threshold=0.5, pairs_table=pt,
        )

    table = TableDefinition(
        TableName("demo", "cx"), str(tmp_path / "cx"),
        PartitionSchema(("doc_shard",)),
    )
    idx_tracker.init_table(table.name, is_snapshot=False, user_id="t")
    CX.build_dedup_clusters(
        None, table, idx_tracker, doc_shards=4, cluster_shards=4
    )

    from chronicles_spark.spark.reader import read_version

    def journal_rows():
        st = idx_tracker.current_version(pt.name)
        return sorted(
            (r["id_a"], r["id_b"])
            for r in read_version(spark, pt, st, infer_partition_types=False)
            .select("id_a", "id_b").collect()
        )

    def journal_batches():
        st = idx_tracker.current_version(pt.name)
        return sorted(
            dict(p.column_values)[DX.PAIRS_BATCH_COL]
            for p in st.partition_versions
        )

    # nothing folded yet: compaction has no candidates
    assert CX.compact_dedup_pairs(spark, pt, table, idx_tracker) is None

    # fold only the first two batches, leave the third unfolded
    all_labels = journal_batches()
    before = journal_rows()
    CX.fold_new_dedup_pairs(
        spark, pt, table, idx_tracker, coalesce_batches=2
    )
    # a capped call (max_batches) is the incremental/LSM flavor: it
    # consolidates only the OLDEST candidates and a 1-batch cap is
    # refused (it would only rename a partition)
    with pytest.raises(ValueError, match="max_batches"):
        CX.compact_dedup_pairs(
            spark, pt, table, idx_tracker, max_batches=1
        )
    # re-land a third unfolded batch AFTER the fold by extending again?
    # no — instead compact with everything folded vs partially: first
    # exercise the partial case by folding all, then extend once more
    consolidated = CX.compact_dedup_pairs(spark, pt, table, idx_tracker)
    assert consolidated is not None
    assert consolidated.startswith(CX.FOLDED_BATCH_PREFIX)
    assert journal_rows() == before  # content preserved row-for-row
    batches = journal_batches()
    assert consolidated in batches
    assert all(l not in batches for l in all_labels)
    assert len(batches) == 1

    # the consolidated partition is never a fold candidate
    assert CX.fold_new_dedup_pairs(spark, pt, table, idx_tracker) == []
    assert CX.verify_dedup_clusters(spark, table, idx_tracker).count() == 0

    # a later extend lands a NEW batch; only it folds; re-compaction
    # folds consolidated + new into one again; assignment == one-shot
    DX.extend_dedup_index(
        docs.where("doc_id >= 100 AND doc_id < 180"), idx_table,
        idx_tracker, threshold=0.4, pairs_table=pt,
    )
    new_labels = [
        l for l in journal_batches()
        if not l.startswith(CX.FOLDED_BATCH_PREFIX)
    ]
    assert len(new_labels) == 1
    # below min_batches (1 folded-eligible consolidated + 0 folded new):
    # the new batch is unfolded, so only the consolidated partition
    # qualifies — min_batches=2 declines
    assert CX.compact_dedup_pairs(spark, pt, table, idx_tracker) is None
    folded = CX.fold_new_dedup_pairs(spark, pt, table, idx_tracker)
    assert folded == new_labels
    before2 = journal_rows()
    again = CX.compact_dedup_pairs(spark, pt, table, idx_tracker)
    assert again is not None and again != consolidated
    assert journal_rows() == before2
    assert len(journal_batches()) == 1
    assert CX.verify_dedup_clusters(spark, table, idx_tracker).count() == 0

    journal = read_version(
        spark, pt, idx_tracker.current_version(pt.name),
        infer_partition_types=False,
    ).select("id_a", "id_b")
    assert _assignments(spark, table, idx_tracker) == _want(journal)

    # a torn marker cannot be introduced: the compaction re-stamped the
    # journal's current pair marker, so the next extend still passes the
    # primary/companion check
    DX.extend_dedup_index(
        docs.where("doc_id >= 180 AND doc_id < 200"), idx_table,
        idx_tracker, threshold=0.4, pairs_table=pt,
    )


@pytest.mark.slow
def test_compact_dedup_pairs_race_semantics(spark, tmp_path, monkeypatch):
    """The compaction commit's optimistic pin behaves as documented: a
    racing EXTEND's new batch partition is disjoint (auto-merge — the
    consolidation lands and the interim batch survives untouched), while
    a racing COMPACTION overlaps on the removed partitions and the loser
    raises CommitConflictError.  Simulated by pinning a stale
    pinned_state around real interim commits."""
    from chronicles_spark.trackers.base import CommitConflictError

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx_tracker = FileBackedVersionTracker(str(tmp_path / "_log_idx"))
    idx_table = TableDefinition(
        TableName("demo", "bands"), str(tmp_path / "bands"),
        PartitionSchema(("band_shard",)),
    )
    idx_tracker.init_table(idx_table.name, is_snapshot=False, user_id="t")
    pt = DX.dedup_pairs_table(idx_table)
    DX.build_dedup_index(
        docs.where("doc_id < 300"), idx_table, idx_tracker,
        band_shards=8, doc_shards=4,
    )
    for lo, hi in ((300, 400), (400, 10**9)):
        DX.extend_dedup_index(
            docs.where(f"doc_id >= {lo} AND doc_id < {hi}"),
            idx_table, idx_tracker, threshold=0.5, pairs_table=pt,
        )
    table = TableDefinition(
        TableName("demo", "cxr"), str(tmp_path / "cxr"),
        PartitionSchema(("doc_shard",)),
    )
    idx_tracker.init_table(table.name, is_snapshot=False, user_id="t")
    CX.build_dedup_clusters(
        None, table, idx_tracker, doc_shards=4, cluster_shards=4
    )
    CX.fold_new_dedup_pairs(spark, pt, table, idx_tracker)

    from chronicles_spark.spark.reader import read_version

    def journal_rows():
        st = idx_tracker.current_version(pt.name)
        return sorted(
            (r["id_a"], r["id_b"])
            for r in read_version(spark, pt, st, infer_partition_types=False)
            .select("id_a", "id_b").collect()
        )

    def journal_batches():
        st = idx_tracker.current_version(pt.name)
        return sorted(
            dict(p.column_values)[DX.PAIRS_BATCH_COL]
            for p in st.partition_versions
        )

    real_pinned = CX.pinned_state
    stale = real_pinned(idx_tracker, pt.name)
    before = journal_rows()
    batches_before = set(journal_batches())
    # a racing extend lands AFTER the compaction read its base
    DX.extend_dedup_index(
        docs.where("doc_id >= 100 AND doc_id < 160"), idx_table,
        idx_tracker, threshold=0.4, pairs_table=pt,
    )
    after_extend = journal_rows()
    assert len(after_extend) > len(before)
    interim_label = [
        l for l in journal_batches() if l not in batches_before
    ]
    assert len(interim_label) == 1

    def stale_once(value):
        # stale on the FIRST journal read only: the compaction re-reads
        # pinned_state on its conflict retry, and the retry must see the
        # REAL head (and the racing extend's FRESH pair marker)
        box = {"used": False}

        def pinned(tracker, name):
            if name == pt.name and not box["used"]:
                box["used"] = True
                return value
            return real_pinned(tracker, name)

        return pinned

    monkeypatch.setattr(CX, "pinned_state", stale_once(stale))
    consolidated = CX.compact_dedup_pairs(spark, pt, table, idx_tracker)
    monkeypatch.setattr(CX, "pinned_state", real_pinned)
    assert consolidated is not None
    # racing-extend merge: consolidation landed AND the interim batch
    # partition survived with every row
    assert journal_rows() == after_extend
    assert sorted(journal_batches()) == sorted([consolidated] + interim_label)
    # round-12 regression (advice): the merged consolidation must have
    # re-stamped the racing extend's FRESH pair marker at commit time —
    # a stale pin-time marker as the journal's newest-in-prefix bricks
    # every later extend with TornPairError.  Extend again: must land.
    DX.extend_dedup_index(
        docs.where("doc_id >= 160 AND doc_id < 200"), idx_table,
        idx_tracker, threshold=0.4, pairs_table=pt,
    )
    after_extend = journal_rows()

    # a racing COMPACTION overlaps on the removed partitions: loser raises
    stale2 = real_pinned(idx_tracker, pt.name)
    CX.fold_new_dedup_pairs(spark, pt, table, idx_tracker)
    winner = CX.compact_dedup_pairs(
        spark, pt, table, idx_tracker, min_batches=1
    )
    assert winner is not None
    # loser pins stale2, loses the commit, re-reads the REAL state on
    # retry, finds its source partitions consumed by the winner, and
    # surfaces the conflict instead of retrying forever
    monkeypatch.setattr(CX, "pinned_state", stale_once(stale2))
    with pytest.raises(CommitConflictError):
        CX.compact_dedup_pairs(spark, pt, table, idx_tracker, min_batches=1)
    monkeypatch.setattr(CX, "pinned_state", real_pinned)
    # nothing lost: the winner's consolidation holds every row
    assert journal_rows() == after_extend


@pytest.mark.slow
def test_compact_dedup_pairs_max_batches_incremental(spark, tmp_path):
    """``max_batches`` caps one call's rewrite to the OLDEST candidates
    (raw labels sort before consolidations): with three folded batches a
    cap of 2 consolidates the first two and leaves the third, and a
    follow-up uncapped call drains the rest — content preserved
    throughout."""
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    ((F.col("id") * F.lit(7 + 13 * j) + F.lit(j * j)) % 61)
                    .cast("string"),
                )
                for j in range(18)
            ],
        ).alias("text"),
    )
    idx_tracker = FileBackedVersionTracker(str(tmp_path / "_log_idx"))
    idx_table = TableDefinition(
        TableName("demo", "bandsm"), str(tmp_path / "bandsm"),
        PartitionSchema(("band_shard",)),
    )
    idx_tracker.init_table(idx_table.name, is_snapshot=False, user_id="t")
    pt = DX.dedup_pairs_table(idx_table)
    DX.build_dedup_index(
        docs.where("doc_id < 10"), idx_table, idx_tracker,
        band_shards=4, doc_shards=4,
    )
    for i, (lo, hi) in enumerate(((10, 20), (20, 30), (30, 40))):
        # plant an exact duplicate of an already-indexed doc in every
        # batch so each extend journals at least one pair (a pair-less
        # extend lands a data-less marker commit, no batch partition)
        batch = docs.where(f"doc_id >= {lo} AND doc_id < {hi}").unionByName(
            docs.where(f"doc_id = {5 + i}").select(
                (F.col("doc_id") + 1000).alias("doc_id"), "text"
            )
        )
        DX.extend_dedup_index(
            batch, idx_table, idx_tracker, threshold=0.3, pairs_table=pt,
        )
    table = TableDefinition(
        TableName("demo", "cxm"), str(tmp_path / "cxm"),
        PartitionSchema(("doc_shard",)),
    )
    idx_tracker.init_table(table.name, is_snapshot=False, user_id="t")
    CX.build_dedup_clusters(
        None, table, idx_tracker, doc_shards=4, cluster_shards=4
    )
    CX.fold_new_dedup_pairs(spark, pt, table, idx_tracker)

    from chronicles_spark.spark.reader import read_version

    def journal_rows():
        st = idx_tracker.current_version(pt.name)
        return sorted(
            (r["id_a"], r["id_b"])
            for r in read_version(spark, pt, st, infer_partition_types=False)
            .select("id_a", "id_b").collect()
        )

    def journal_batches():
        st = idx_tracker.current_version(pt.name)
        return sorted(
            dict(p.column_values)[DX.PAIRS_BATCH_COL]
            for p in st.partition_versions
        )

    before = journal_rows()
    raw = journal_batches()
    assert len(raw) == 3 and not any(
        l.startswith(CX.FOLDED_BATCH_PREFIX) for l in raw
    )
    capped = CX.compact_dedup_pairs(
        spark, pt, table, idx_tracker, max_batches=2
    )
    assert capped is not None
    batches = journal_batches()
    # oldest two consolidated; the newest raw batch survived
    assert raw[2] in batches and capped in batches and len(batches) == 2
    assert raw[0] not in batches and raw[1] not in batches
    assert journal_rows() == before
    # uncapped follow-up drains the rest into one
    final = CX.compact_dedup_pairs(spark, pt, table, idx_tracker)
    assert final is not None
    assert journal_batches() == [final]
    assert journal_rows() == before


def test_compact_dedup_pairs_exclusive_contract(spark, tmp_path):
    """``exclusive=True`` follows the families' shared contract: refused
    without a use_lock tracker; serializes (and succeeds) with one."""
    table, tracker = _mk(tmp_path, "excl")
    idx_table = TableDefinition(
        TableName("demo", "exclbands"), str(tmp_path / "exclbands"),
        PartitionSchema(("band_shard",)),
    )
    pt = DX.dedup_pairs_table(idx_table)
    with pytest.raises(ValueError, match="use_lock"):
        CX.compact_dedup_pairs(
            spark, pt, table, tracker, exclusive=True
        )
    lock_tracker = FileBackedVersionTracker(
        str(tmp_path / "_log_locked"), use_lock=True
    )
    lock_tracker.init_table(pt.name, is_snapshot=False, user_id="t")
    lock_tracker.init_table(table.name, is_snapshot=False, user_id="t")
    # empty journal → honest None, lock held and released cleanly
    assert CX.compact_dedup_pairs(
        spark, pt, table, lock_tracker, exclusive=True
    ) is None


@pytest.mark.slow
@pytest.mark.parametrize("seed", [20260816, 7])
def test_seeded_fuzz_compaction_interleave(spark, tmp_path, seed):
    """Seeded random interleave of journal-batch lands, folds (with
    random coalescing), and compactions (random max_batches caps): the
    journal's row multiset always equals everything ever landed, the
    fold path never re-consumes a consolidation, and the final
    assignment equals the one-shot over the whole journal — the
    orderings the structured compaction cases don't enumerate."""
    import random

    rng = random.Random(seed)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    table, tracker = _mk(tmp_path, f"cfz{seed}")
    CX.build_dedup_clusters(None, table, tracker, doc_shards=4, cluster_shards=4)
    pt = DX.dedup_pairs_table(
        TableDefinition(
            TableName("demo", f"cfz{seed}bands"),
            str(tmp_path / f"cfz{seed}bands"),
            PartitionSchema(("band_shard",)),
        )
    )
    tracker.init_table(pt.name, is_snapshot=False, user_id="t")
    ids = list(range(30))
    expected = []  # multiset of every pair ever landed

    def journal_rows():
        from chronicles_spark.spark.reader import read_version

        st = tracker.current_version(pt.name)
        if not getattr(st, "partition_versions", None):
            return []
        return sorted(
            (r["id_a"], r["id_b"])
            for r in read_version(spark, pt, st, infer_partition_types=False)
            .select("id_a", "id_b").collect()
        )

    def land_batch():
        pairs = [tuple(rng.sample(ids, 2)) for _ in range(rng.randint(1, 6))]
        version = generate_version()
        df = _pairs_df(spark, pairs).withColumn(
            DX.PAIRS_BATCH_COL, F.lit(version.label)
        )
        publish_group(
            spark, tracker, version, "f", "land pairs", [(pt, df, None, ())]
        )
        expected.extend(pairs)

    land_batch()  # never start empty
    for _ in range(10):
        action = rng.random()
        if action < 0.45:
            land_batch()
        elif action < 0.75:
            CX.fold_new_dedup_pairs(
                spark, pt, table, tracker,
                coalesce_batches=rng.choice([1, 2, 3]),
            )
        else:
            CX.compact_dedup_pairs(
                spark, pt, table, tracker, min_batches=1,
                max_batches=rng.choice([None, 2, 3]),
            )
        assert journal_rows() == sorted(expected), "journal content drifted"
    CX.fold_new_dedup_pairs(spark, pt, table, tracker)
    assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0
    assert _assignments(spark, table, tracker) == _want(_pairs_df(spark, expected))


def test_compact_dedup_pairs_sqlite_backend(spark, tmp_path):
    """Backend breadth: the compaction's tracker surfaces (pinned_state,
    current_version, optimistic commit) are backend-agnostic — the same
    land/fold/compact sequence on the SERIALIZABLE sqlite tracker
    preserves content and caps the partition map."""
    from chronicles_spark.operators.pairing import publish_group as _pg
    from chronicles_spark.trackers.sqlite import SqliteVersionTracker

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    tracker = SqliteVersionTracker(str(tmp_path / "log.db"))
    pt = TableDefinition(
        TableName("demo", "sqlc_pairs"), str(tmp_path / "sqlc_pairs"),
        PartitionSchema((DX.PAIRS_BATCH_COL,)),
    )
    table = TableDefinition(
        TableName("demo", "sqlc"), str(tmp_path / "sqlc"),
        PartitionSchema(("doc_shard",)),
    )
    tracker.init_table(pt.name, is_snapshot=False, user_id="t")
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    CX.build_dedup_clusters(
        None, table, tracker, doc_shards=4, cluster_shards=4
    )
    all_pairs = []
    for b in range(3):
        pairs = [(10 * b, 10 * b + 1), (10 * b + 1, b)]
        all_pairs += pairs
        version = generate_version()
        df = _pairs_df(spark, pairs).withColumn(
            DX.PAIRS_BATCH_COL, F.lit(version.label)
        )
        _pg(spark, tracker, version, "t", "land", [(pt, df, None, ())])
    assert len(CX.fold_new_dedup_pairs(spark, pt, table, tracker)) == 3
    value = CX.compact_dedup_pairs(spark, pt, table, tracker)
    assert value is not None and value.startswith(CX.FOLDED_BATCH_PREFIX)

    from chronicles_spark.spark.reader import read_version

    st = tracker.current_version(pt.name)
    assert [
        dict(p.column_values)[DX.PAIRS_BATCH_COL]
        for p in st.partition_versions
    ] == [value]
    assert sorted(
        (r["id_a"], r["id_b"])
        for r in read_version(spark, pt, st, infer_partition_types=False)
        .select("id_a", "id_b").collect()
    ) == sorted(all_pairs)
    assert _assignments(spark, table, tracker) == _want(
        _pairs_df(spark, all_pairs)
    )
    assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0


def test_local_components_differential_vs_dedup_clusters(spark):
    """The driver-side union-find must label EXACTLY like the
    distributed min-label propagation over the same edges — chains
    (pointer-doubling territory), stars, self-loops, singleton-rep
    edges, and string ids all pinned."""
    import random

    rng = random.Random(1510)
    cases = []
    # chain of 60 + a star + disjoint pairs + self-loops
    chain = [(i, i + 1) for i in range(100, 160)]
    star = [(500, 500 + k) for k in range(1, 9)]
    loops = [(900, 900), (901, 902)]
    cases.append(chain + star + loops)
    # random sparse graph
    cases.append(
        [(rng.randrange(50), rng.randrange(50)) for _ in range(120)]
    )
    for pairs in cases:
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = sorted(
            map(tuple, CX._local_components(spark, edges, "doc_id", len(pairs)).collect())
        )
        want = sorted(
            (r["doc_id"], r["cluster_id"])
            for r in DD.dedup_clusters(edges).collect()
        )
        assert got == want
    # string ids: Python min ordering == Spark min (UTF-8/codepoint)
    spairs = [("b", "aa"), ("aa", "z"), ("x", "y"), ("É", "e")]
    edges = spark.createDataFrame(spairs, "id_a string, id_b string")
    got = sorted(
        map(tuple, CX._local_components(spark, edges, "doc_id", len(spairs)).collect())
    )
    want = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in DD.dedup_clusters(edges).collect()
    )
    assert got == want
    # over-cap and exotic id types fall back (None => caller goes distributed)
    assert CX._local_components(spark, edges, "doc_id", CX._LOCAL_CC_PAIR_CAP + 1) is None
    dpairs = spark.createDataFrame(
        [(1.5, 2.5)], "id_a double, id_b double"
    )
    assert CX._local_components(spark, dpairs, "doc_id", 1) is None


def test_local_components_refuses_collated_string_ids(spark):
    """A non-binary collation also names itself 'string', but Spark's
    min() under it is not Python's codepoint min — such an id column
    must take the distributed path (None)."""
    edges = spark.createDataFrame(
        [("b", "A"), ("a", "c")], "id_a string, id_b string"
    ).select(
        F.collate("id_a", "UTF8_LCASE").alias("id_a"),
        F.collate("id_b", "UTF8_LCASE").alias("id_b"),
    )
    assert edges.schema.fields[0].dataType.typeName() == "string"
    assert CX._local_components(spark, edges, "doc_id", 2) is None


def test_fold_local_vs_distributed_cc_identical(spark, tmp_path, monkeypatch):
    """Same fold sequence with the driver-side CC (default) and with the
    cap forced to 0 (distributed propagation) — assignment tables must
    be byte-identical, and the cap=0 run must actually take the
    distributed path."""
    batches = [
        [(1, 2), (3, 4)],
        [(2, 3), (10, 11)],          # cross-batch merge
        [(0, 4), (11, 12), (7, 7)],  # new minimum + growth + self-pair
    ]
    t_loc, k_loc = _mk(tmp_path, "cc_loc")
    CX.build_dedup_clusters(None, t_loc, k_loc, doc_shards=4, cluster_shards=4)
    for i, pairs in enumerate(batches):
        CX.extend_dedup_clusters(
            _pairs_df(spark, pairs), t_loc, k_loc, batch_label=f"b{i}",
        )
    calls = {"n": 0}
    real = DD.dedup_clusters

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(CX, "_LOCAL_CC_PAIR_CAP", 0)
    monkeypatch.setattr(DD, "dedup_clusters", counting)
    t_dist, k_dist = _mk(tmp_path, "cc_dist")
    CX.build_dedup_clusters(
        None, t_dist, k_dist, doc_shards=4, cluster_shards=4
    )
    for i, pairs in enumerate(batches):
        CX.extend_dedup_clusters(
            _pairs_df(spark, pairs), t_dist, k_dist, batch_label=f"b{i}",
        )
    assert calls["n"] == len(batches)  # every fold went distributed
    assert _assignments(spark, t_loc, k_loc) == _assignments(
        spark, t_dist, k_dist
    )
    assert CX.verify_dedup_clusters(spark, t_loc, k_loc).count() == 0


def test_driver_fold_equals_distributed_and_one_shot(spark, tmp_path, monkeypatch):
    """The driver-side fold against the distributed path (cap forced to
    0) and the one-shot ``dedup_clusters``, over a seeded three-batch
    pairs journal: a fold of seeded pairs into an empty index, one of
    only new components (empty relabel map: the whole changed set is
    derived on the driver) and one that merges two existing clusters
    and hands a third a new minimum (non-empty relabel map, relabeled
    members moved in Spark).  After every fold the assignment and
    members tables of both paths equal the one-shot over the journal
    so far."""
    import random
    import sys

    from chronicles_spark.spark.writer import versioned_insert_into

    rng = random.Random(20261019)
    seeded = [tuple(rng.sample(range(200, 260), 2)) for _ in range(40)]
    batches = [
        [(110, 120), (120, 130), (140, 150), (300, 310)] + seeded,
        # new components only, whose labels spread over the cluster shards
        [(1000 + 2 * k, 1001 + 2 * k) for k in range(30)] + [(1001, 1002)],
        [(130, 150), (5, 310)],  # merge 110 with 140; new minimum for 300
    ]

    def run(name):
        table, tracker = _mk(tmp_path, name)
        journal = TableDefinition(
            TableName("demo", name + "_journal"),
            str(tmp_path / (name + "_journal")),
            PartitionSchema(("batch",)),
        )
        tracker.init_table(journal.name, is_snapshot=False, user_id="t")
        # sparse shard sets: a fold touches few of the 16 cluster shards
        CX.build_dedup_clusters(
            None, table, tracker, doc_shards=8, cluster_shards=16
        )
        members = CX.cluster_members_table(table)
        seen, out = [], []
        for i, pairs in enumerate(batches):
            versioned_insert_into(
                _pairs_df(spark, pairs).withColumn("batch", F.lit(f"b{i}")),
                journal, tracker, "t", f"journal b{i}",
            )
            assert CX.fold_new_dedup_pairs(spark, journal, table, tracker) == [
                f"b{i}"
            ]
            assert CX.verify_dedup_clusters(spark, table, tracker).count() == 0
            seen.extend(pairs)
            want = _want(_pairs_df(spark, seen))
            got = (
                _assignments(spark, table, tracker),
                _assignments(spark, members, tracker),
            )
            assert got == (want, want), i
            out.append(got)
        return out

    plans = []
    real_plan = CX._driver_fold_plan

    def spy(*a):
        plans.append(real_plan(*a))
        return plans[-1]

    monkeypatch.setattr(CX, "_driver_fold_plan", spy)
    local = run("drv_local")
    assert all(p is not None for p in plans)
    assert [bool(p.r_shards) for p in plans] == [False, False, True]
    assert plans[2].n_relabel == 2  # 140 and 300: relabeled, not endpoints

    calls = {"n": 0}
    real_cc = DD.dedup_clusters

    def counting(*a, **kw):
        # the folds' calls, not the one-shot oracle's
        calls["n"] += sys._getframe(1).f_globals["__name__"] == CX.__name__
        return real_cc(*a, **kw)

    monkeypatch.setattr(CX, "_LOCAL_CC_PAIR_CAP", 0)
    monkeypatch.setattr(DD, "dedup_clusters", counting)
    del plans[:]
    dist = run("drv_dist")
    assert plans == [None] * len(batches)
    assert calls["n"] == len(batches)  # every fold went distributed
    assert local == dist
