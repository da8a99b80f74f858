"""O(tail) base resolution for the index families' read-modify-write.

``operators.pairing.pinned_state`` must resolve (folded state, pinned
head, newest pair marker) through the tracker's fold CHECKPOINT plus
the commit tail — O(checkpoint_interval) commit-file reads per extend,
never O(commit history) — because the streaming maintenance sinks
commit once per micro-batch: an O(history) read per extend is
quadratic cumulative (docs/scale.md "metadata plane").  Differential
style: every fast-path triple is compared against the checkpoint-free
full walk of the same log; the structural tests count the commit-file
reads themselves (the round-7 cadence-regression pattern, via
CountingFs)."""

import json

import pytest

from chronicles_spark.core import fold
from chronicles_spark.core.markers import pair_label
from chronicles_spark.core.model import Partition, PartitionSchema, TableDefinition, TableName
from chronicles_spark.core.ops import (
    AddPartitionVersion,
    TableUpdate,
    TableUpdateMetadata,
)
from chronicles_spark.core.version import generate_version
from chronicles_spark.trackers import FileBackedVersionTracker
from chronicles_spark.trackers.sqlite import SqliteVersionTracker
from chronicles_spark.operators.pairing import pair_message, pinned_state
from tests.test_checkpoint import CountingFs

T = TableName("db", "idx")


def _commit(tr, i, marked=True):
    v = generate_version()
    msg = pair_message(f"extend {i}", v.label) if marked else f"note {i}"
    meta = TableUpdateMetadata.new("u", msg)
    tr.commit(
        T,
        TableUpdate(
            meta, (AddPartitionVersion(Partition.of(("p", str(i % 16))), v),)
        ),
    )
    return meta.commit_id, v.label


def _truth(tracker_factory):
    """(state, head, marker) via the always-correct full walk."""
    tr = tracker_factory()
    st = tr.table_state(T)
    prefix = list(fold.take_through(st.updates, st.current_version))
    marker = next(
        (
            pl
            for u in reversed(prefix)
            if (pl := pair_label(u.metadata.message)) is not None
        ),
        None,
    )
    return (
        fold.current_version(st.updates, st.current_version),
        st.current_version,
        marker,
    )


def _build(root, n, interval=100, mark_every=1):
    tr = FileBackedVersionTracker(root, checkpoint_interval=interval)
    tr.init_table(T, is_snapshot=False, user_id="u")
    for i in range(n):
        _commit(tr, i, marked=(i % mark_every == 0))
    return tr


def _commit_file_reads(cfs):
    return [p for p in cfs.reads if "table_update_" in p]


def test_fast_triple_equals_full_walk(tmp_path):
    tr = _build(str(tmp_path), 257, interval=50, mark_every=3)
    got = pinned_state(tr, T)
    want = _truth(
        lambda: FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    )
    assert got == want
    # and the fast path really answered (not the slow-path degrade)
    assert tr.head_resolution(T) == want


@pytest.mark.slow
def test_commit_file_reads_bounded_by_interval_not_log(tmp_path):
    """The structural O(tail) guarantee at the VERDICT r10 scale: one
    pinned_state against a 20k-commit log reads at most
    ~checkpoint_interval commit files (tail past the checkpoint) —
    never the whole log.  The bound is scale-independent (at 1M
    commits the tail stays O(interval) while the full walk grows
    linearly); the bench pair b11_extend_deep/shallow_log records the
    wall-clock twin of this file-unit claim."""
    interval = 100
    tr = _build(str(tmp_path), 20_000, interval=interval)
    cfs = CountingFs(tr.fs)
    counted = FileBackedVersionTracker(
        str(tmp_path), fs=cfs, checkpoint_interval=interval
    )
    got = pinned_state(counted, T)
    reads = _commit_file_reads(cfs)
    assert len(reads) <= interval + 5, (
        f"pinned_state read {len(reads)} commit files on a 20000-commit "
        f"log — O(history), not O(checkpoint_interval={interval})"
    )
    want = _truth(
        lambda: FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    )
    assert got == want


def test_rollback_before_checkpoint_degrades_correctly(tmp_path):
    tr = _build(str(tmp_path), 120, interval=50)
    st = tr.table_state(T)
    early = st.updates[10].metadata.commit_id
    tr.set_current_version(T, early)
    want = _truth(
        lambda: FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    )
    # the head precedes every checkpoint: the fast path folds the genesis
    # segment and answers
    assert tr.head_resolution(T) == want
    got = pinned_state(tr, T)
    assert got == want
    assert got[1] == early


def test_pre_upgrade_checkpoint_without_marker_field_degrades(tmp_path):
    tr = _build(str(tmp_path), 120, interval=50)
    d = tr._table_dir(T)
    seq = json.loads(tr.fs.read_text(tr.fs.join(d, "_last_checkpoint")))["seq"]
    ck_path = tr.fs.join(d, f"checkpoint_{seq:013d}.json")
    body = json.loads(tr.fs.read_text(ck_path))
    assert "pair_label" in body
    del body["pair_label"]
    tr.fs.write_text(ck_path, json.dumps(body))
    assert tr.head_resolution(T) is None  # unknown marker: must degrade
    got = pinned_state(tr, T)
    want = _truth(
        lambda: FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    )
    assert got == want


def test_checkpoint_inherits_marker_across_unmarked_tail(tmp_path):
    """Tri-state field: a cut whose tail holds no marker inherits the
    previous checkpoint's newest-marker value, so the fast path stays
    correct when markers are sparse in a busy log."""
    tr = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=10)
    tr.init_table(T, is_snapshot=False, user_id="u")
    _, lbl = _commit(tr, 0, marked=True)
    for i in range(1, 35):
        _commit(tr, i, marked=False)  # three cuts, all-unmarked tails
    out = tr.head_resolution(T)
    assert out is not None and out[2] == lbl
    assert out == _truth(
        lambda: FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    )


def test_markerless_log_records_known_none(tmp_path):
    tr = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=10)
    tr.init_table(T, is_snapshot=False, user_id="u")
    for i in range(25):
        _commit(tr, i, marked=False)
    out = tr.head_resolution(T)
    assert out is not None  # known no-marker, NOT an unknown degrade
    assert out[2] is None


def test_head_resolution_unavailable_without_checkpoint(tmp_path):
    tr = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=100)
    tr.init_table(T, is_snapshot=False, user_id="u")
    for i in range(5):
        _commit(tr, i)
    assert tr.head_resolution(T) is None  # no checkpoint cut yet
    none_tr = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    assert none_tr.head_resolution(T) is None  # disabled read side
    got = pinned_state(tr, T)
    assert got == _truth(
        lambda: FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    )


def test_sqlite_fast_triple_equals_full_walk():
    tr = SqliteVersionTracker(checkpoint_interval=25)
    tr.init_table(T, is_snapshot=False, user_id="u")
    for i in range(130):
        _commit(tr, i, marked=(i % 4 == 0))
    got = pinned_state(tr, T)
    st = tr.table_state(T)
    prefix = list(fold.take_through(st.updates, st.current_version))
    marker = next(
        (
            pl
            for u in reversed(prefix)
            if (pl := pair_label(u.metadata.message)) is not None
        ),
        None,
    )
    assert got == (
        fold.current_version(st.updates, st.current_version),
        st.current_version,
        marker,
    )
    assert tr.head_resolution(T) == got


def test_sqlite_rollback_degrades():
    tr = SqliteVersionTracker(checkpoint_interval=20)
    tr.init_table(T, is_snapshot=False, user_id="u")
    ids = [_commit(tr, i)[0] for i in range(50)]
    tr.set_current_version(T, ids[3])
    assert tr.head_resolution(T) is None
    got = pinned_state(tr, T)
    st = tr.table_state(T)
    assert got[1] == ids[3]
    assert got[0] == fold.current_version(st.updates, ids[3])


# ---------------------------------------------------------------------------
# folded_batch_labels position cursor (the cluster fold's exactly-once
# watermark must not re-read every commit message per fold)

from chronicles_spark.operators.cluster_index import (
    _FOLDS_CURSOR_FILE,
    folded_batch_labels,
)


def _fold_commit(tr, labels):
    v = generate_version()
    msg = "fold" + "".join(f" [folds:{l}]" for l in labels)
    meta = TableUpdateMetadata.new("u", msg)
    tr.commit(
        T, TableUpdate(meta, (AddPartitionVersion(Partition.of(("doc_shard", "0")), v),))
    )
    return meta.commit_id


def _tdef(tmp_path):
    return TableDefinition(
        T, str(tmp_path / "data"), PartitionSchema(("doc_shard",))
    )


def test_folded_labels_cursor_equals_full_walk(tmp_path):
    tr = FileBackedVersionTracker(str(tmp_path / "log"), checkpoint_interval=None)
    tr.init_table(T, is_snapshot=False, user_id="u")
    td = _tdef(tmp_path)
    want = set()
    for i in range(30):
        lbls = {f"b{i}a", f"b{i}b"} if i % 3 == 0 else {f"b{i}"}
        _fold_commit(tr, sorted(lbls))
        want |= lbls
    assert folded_batch_labels(tr, td) == want  # first call: full scan + cursor write
    fs = tr.fs
    cursor = json.loads(fs.read_text(fs.join(str(tmp_path / "data"), _FOLDS_CURSOR_FILE)))
    assert set(cursor["labels"]) == want
    # TableName (no location) keeps the walk semantics
    assert folded_batch_labels(tr, T) == want


def test_folded_labels_second_call_reads_o_new_commits(tmp_path):
    tr = FileBackedVersionTracker(str(tmp_path / "log"), checkpoint_interval=None)
    tr.init_table(T, is_snapshot=False, user_id="u")
    td = _tdef(tmp_path)
    for i in range(200):
        _fold_commit(tr, [f"b{i}"])
    folded_batch_labels(tr, td)  # warms the cursor
    _fold_commit(tr, ["b_new"])
    cfs = CountingFs(tr.fs)
    counted = FileBackedVersionTracker(
        str(tmp_path / "log"), fs=cfs, checkpoint_interval=None
    )
    got = folded_batch_labels(counted, td)
    assert "b_new" in got and "b0" in got and len(got) == 201
    reads = _commit_file_reads(cfs)
    assert len(reads) <= 4, (
        f"cursor-warmed watermark read {len(reads)} commit files for one "
        "new commit — O(history), not O(new commits)"
    )


def test_folded_labels_rollback_degrades_to_prefix_walk(tmp_path):
    tr = FileBackedVersionTracker(str(tmp_path / "log"), checkpoint_interval=None)
    tr.init_table(T, is_snapshot=False, user_id="u")
    td = _tdef(tmp_path)
    keep = _fold_commit(tr, ["early"])
    _fold_commit(tr, ["late"])
    folded_batch_labels(tr, td)  # cursor now covers both
    tr.set_current_version(T, keep)
    # head is no longer at the top: the fast path must refuse and the
    # prefix walk must EXCLUDE the rolled-back label
    assert folded_batch_labels(tr, td) == {"early"}


def test_folded_labels_corrupt_cursor_degrades(tmp_path):
    tr = FileBackedVersionTracker(str(tmp_path / "log"), checkpoint_interval=None)
    tr.init_table(T, is_snapshot=False, user_id="u")
    td = _tdef(tmp_path)
    for i in range(5):
        _fold_commit(tr, [f"b{i}"])
    folded_batch_labels(tr, td)
    fs = tr.fs
    cpath = fs.join(str(tmp_path / "data"), _FOLDS_CURSOR_FILE)
    fs.write_text(cpath, "{not json")
    assert folded_batch_labels(tr, td) == {f"b{i}" for i in range(5)}
    # and the scan healed the cursor
    assert set(json.loads(fs.read_text(cpath))["labels"]) == {
        f"b{i}" for i in range(5)
    }


def test_folded_labels_sqlite_fast_path():
    tr = SqliteVersionTracker(checkpoint_interval=None)
    tr.init_table(T, is_snapshot=False, user_id="u")
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        td = TableDefinition(T, d + "/data", PartitionSchema(("doc_shard",)))
        for i in range(8):
            _fold_commit(tr, [f"s{i}"])
        want = {f"s{i}" for i in range(8)}
        assert folded_batch_labels(tr, td) == want
        _fold_commit(tr, ["s8"])
        assert folded_batch_labels(tr, td) == want | {"s8"}


def test_real_extend_commit_file_reads_o_interval(spark, tmp_path):
    """The wiring, not just the mechanism: a REAL dedup-index extend
    against a deep log (2000 noise commits past the last checkpoint
    cut) must read O(checkpoint_interval) commit files across ALL its
    log resolutions (primary + docs + artifact anchoring) — the
    VERDICT r10 weak: pinned_state used to read every commit file 2-3
    times per extend."""
    from chronicles_spark.core.model import PartitionSchema, TableDefinition
    from chronicles_spark.operators import dedup_index as DX

    interval = 100
    log_dir = str(tmp_path / "_log")
    tracker = FileBackedVersionTracker(log_dir, checkpoint_interval=interval)
    table = TableDefinition(
        TableName("demo", "deepidx"), str(tmp_path / "deepidx"),
        PartitionSchema(("band_shard",)),
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    docs = spark.range(200).selectExpr(
        "id as doc_id",
        "concat('common text words here shared ', id % 7) as text",
    )
    DX.build_dedup_index(docs, table, tracker, band_shards=4, doc_shards=4)
    # the streaming-maintenance shape: thousands of commits since
    noise = TableUpdateMetadata.new
    for i in range(2000):
        tracker.commit(
            table.name, TableUpdate(noise("t", f"noise {i}"), ())
        )
    batch = spark.range(300, 304).selectExpr(
        "id as doc_id",
        "concat('common text words here shared ', id % 7) as text",
    )
    cfs = CountingFs(tracker.fs)
    counted = FileBackedVersionTracker(
        log_dir, fs=cfs, checkpoint_interval=interval
    )
    pairs, _, _ = DX.extend_dedup_index(batch, table, counted)
    pairs.count()
    reads = _commit_file_reads(cfs)
    assert len(reads) <= 3 * interval + 30, (
        f"one extend read {len(reads)} commit files against a "
        f"~2000-commit log — the O(tail) fast path is not wired"
    )


def test_latest_stream_epoch_backwards_chunk_scan(tmp_path):
    """The streaming restart probe reads O(1) commit records on a
    maintained stream log (newest commit carries the prefix), O(gap)
    when trailing manual commits sit on top — never the whole log."""
    from chronicles_spark.streaming.ingest import _latest_stream_epoch

    tr = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    tr.init_table(T, is_snapshot=False, user_id="u")
    for i in range(300):
        meta = TableUpdateMetadata.new("u", f"sink epoch {i}")
        tr.commit(T, TableUpdate(meta, ()))
    cfs = CountingFs(tr.fs)
    counted = FileBackedVersionTracker(
        str(tmp_path), fs=cfs, checkpoint_interval=None
    )
    assert _latest_stream_epoch(counted, T, "sink") == 299
    assert len(_commit_file_reads(cfs)) <= 65

    # 70 manual commits on top: found across the chunk boundary
    for i in range(70):
        tr.commit(T, TableUpdate(TableUpdateMetadata.new("u", "manual"), ()))
    cfs2 = CountingFs(tr.fs)
    counted2 = FileBackedVersionTracker(
        str(tmp_path), fs=cfs2, checkpoint_interval=None
    )
    assert _latest_stream_epoch(counted2, T, "sink") == 299
    assert len(_commit_file_reads(cfs2)) <= 130

    # absent prefix: the documented full walk, returns None
    assert _latest_stream_epoch(tr, T, "other-sink") is None


def test_gap_filled_prefix_degrades_head_resolution(tmp_path):
    """A CAS writer with a lagging clock can claim a free sequence slot
    BELOW an already-cut checkpoint (the n_folded hazard) — the fast
    path must refuse the checkpoint and pinned_state must fall back to
    the full walk that sees the gap-filled commit."""
    from chronicles_spark.core.ops import update_to_json

    tr = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=20)
    # space commit seqs 10 apart so a free below-checkpoint slot exists
    # deterministically (consecutive-ms commits leave no gap to fill)
    ctr = {"v": 1_000_000_000_000}
    tr._clock.next_timestamp_ms = lambda: ctr.__setitem__("v", ctr["v"] + 10) or ctr["v"]
    tr.init_table(T, is_snapshot=False, user_id="u")
    for i in range(60):
        _commit(tr, i)
    assert tr.head_resolution(T) is not None
    d = tr._table_dir(T)
    # forge a commit file below the checkpoint's last_seq, in a free slot
    seqs = tr.update_seqs(T)
    free = seqs[5] + 1
    assert free not in set(seqs)
    v = generate_version()
    gap = TableUpdate(
        TableUpdateMetadata.new("laggard", "gap-fill"),
        (AddPartitionVersion(Partition.of(("p", "gap")), v),),
    )
    tr.fs.write_text(
        tr.fs.join(d, f"table_update_{free:013d}.json"), update_to_json(gap)
    )
    assert tr.head_resolution(T) is None  # covers-prefix guard refuses
    got = pinned_state(tr, T)
    want = _truth(
        lambda: FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    )
    assert got == want


def test_moved_head_conflict_check_reads_o_interim(tmp_path):
    """A lost-race optimistic commit's interim analysis reads O(distance
    the head moved), not the whole log: pin the head, land 3 disjoint
    commits, then commit with the stale pin — the auto-merge must
    succeed having read ~one backwards chunk of a 3000-commit log."""
    tr = _build(str(tmp_path), 3000, interval=100)
    pin = tr.head_commit_id(T)
    for i in range(3):
        _commit(tr, 100_000 + i)  # disjoint-ish partitions p=0..2 ... 
    # make the racer commits truly disjoint from ours below
    cfs = CountingFs(tr.fs)
    counted = FileBackedVersionTracker(
        str(tmp_path), fs=cfs, checkpoint_interval=100
    )
    v = generate_version()
    mine = TableUpdate(
        TableUpdateMetadata.new("u", "stale-pin write"),
        (AddPartitionVersion(Partition.of(("p", "fresh")), v),),
    )
    counted.commit(T, mine, expected_head=pin)  # auto-merge, no raise
    reads = [p for p in cfs.reads if "table_update_" in p]
    assert len(reads) <= 80, (
        f"conflict check read {len(reads)} commit files for a 3-commit "
        "race window on a 3000-commit log — O(history), not O(interim)"
    )
    # and a genuinely overlapping racer still conflicts
    pin2 = tr.head_commit_id(T)
    _commit(tr, 100_000)  # touches p=<same shard> as the next write
    clash = TableUpdate(
        TableUpdateMetadata.new("u", "clash"),
        (AddPartitionVersion(
            Partition.of(("p", str(100_000 % 16))), generate_version()
        ),),
    )
    from chronicles_spark.trackers.base import CommitConflictError

    with pytest.raises(CommitConflictError):
        tr.commit(T, clash, expected_head=pin2, allow_disjoint=True)


def test_changed_partitions_reads_o_tail(tmp_path):
    """The incremental CDC batch surface (changed_partitions/read_changes)
    resolves BOTH endpoints through version_at's checkpoint+tail path: a
    consumer polling (from=recent, to=head) against a 3000-commit log
    reads O(checkpoint_interval) commit files — previously this
    materialized table_state per poll (O(history), quadratic cumulative
    over a poll loop, the same shape the round-11 metadata plane removed
    from the index extends)."""
    from chronicles_spark.spark.reader import changed_partitions

    interval = 100
    tr = _build(str(tmp_path), 3000, interval=interval)
    recent = tr.table_state(T).updates[-20].metadata.commit_id
    tdef = TableDefinition(T, str(tmp_path) + "/data", PartitionSchema(("p",)))
    cfs = CountingFs(tr.fs)
    counted = FileBackedVersionTracker(
        str(tmp_path), fs=cfs, checkpoint_interval=interval
    )
    ops, tv_to = changed_partitions(tdef, counted, recent)
    reads = _commit_file_reads(cfs)
    assert len(reads) <= 2 * interval + 10, (
        f"changed_partitions read {len(reads)} commit files on a "
        f"3000-commit log — O(history), not O(checkpoint_interval)"
    )
    # differential: identical to the checkpoint-free full-fold answer
    truth_tr = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    t_ops, t_tv_to = changed_partitions(tdef, truth_tr, recent)
    assert (ops, tv_to) == (t_ops, t_tv_to)
    # a MULTI-segment walk (endpoint several checkpoint cuts behind the
    # head) stays O(lag): ~5 segments of `interval` commit files each
    lagged = tr.table_state(T).updates[-450].metadata.commit_id
    cfs2 = CountingFs(tr.fs)
    counted2 = FileBackedVersionTracker(
        str(tmp_path), fs=cfs2, checkpoint_interval=interval
    )
    ops2, tv2 = changed_partitions(tdef, counted2, lagged)
    reads2 = _commit_file_reads(cfs2)
    assert len(reads2) <= 6 * interval + 10, (
        f"a 450-commit-lagged poll read {len(reads2)} commit files — "
        "O(history), not O(lag)"
    )
    assert (ops2, tv2) == changed_partitions(tdef, truth_tr, lagged)
    # a from-endpoint DEEPER than the checkpoint degrades to the full
    # fold and stays correct
    deep = tr.table_state(T).updates[5].metadata.commit_id
    assert changed_partitions(tdef, tr, deep) == changed_partitions(
        tdef, truth_tr, deep
    )
    # the unknown-commit contract is version_at's now — same ValueError
    with pytest.raises(ValueError, match="unknown from_commit"):
        changed_partitions(tdef, tr, "no-such-commit")
    with pytest.raises(ValueError, match="unknown to_commit"):
        changed_partitions(tdef, tr, recent, "nope")


def test_commit_at_timestamp_reads_o_recency(tmp_path):
    """Timestamp time travel scans BACKWARDS and stops at the first
    qualifying commit: resolving a near-head timestamp against a
    2000-commit log reads O(commits newer than ts), not the whole log —
    and the answer equals the forward-full-scan ground truth, including
    under non-monotonic cross-writer timestamps."""
    from datetime import timezone as _tz

    tr = _build(str(tmp_path), 2000, interval=100)
    st = tr.table_state(T)
    target = st.updates[-8].metadata.timestamp
    cfs = CountingFs(tr.fs)
    counted = FileBackedVersionTracker(
        str(tmp_path), fs=cfs, checkpoint_interval=100
    )
    got = counted.commit_at_timestamp(T, target)
    reads = _commit_file_reads(cfs)
    assert len(reads) <= 300, (
        f"a near-head timestamp resolution read {len(reads)} commit files "
        "on a 2000-commit log — O(history), not O(recency)"
    )

    def _truth_at(ts):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_tz.utc)
        best = None
        for u in tr.table_state(T).updates:
            uts = u.metadata.timestamp
            if uts.tzinfo is None:
                uts = uts.replace(tzinfo=_tz.utc)
            if uts <= ts:
                best = u.metadata.commit_id
        return best

    assert got == _truth_at(target)
    # non-monotonic cross-writer timestamps: land a commit whose metadata
    # timestamp PRECEDES every earlier commit's — the latest log-ordered
    # qualifying commit must win (it is the only qualifying one here)
    from datetime import datetime as _dt

    old_ts = _dt(2001, 1, 1, tzinfo=_tz.utc)
    meta = TableUpdateMetadata.new("u", "skewed clock", old_ts)
    tr.commit(
        T,
        TableUpdate(
            meta,
            (AddPartitionVersion(Partition.of(("p", "skew")), generate_version()),),
        ),
    )
    assert tr.commit_at_timestamp(T, old_ts) == meta.commit_id
    assert tr.commit_at_timestamp(T, old_ts) == _truth_at(old_ts)
    # and a timestamp before EVERY commit still raises after the full
    # backward walk
    from chronicles_spark.trackers.base import UnknownCommitError

    with pytest.raises(UnknownCommitError):
        tr.commit_at_timestamp(T, _dt(1999, 1, 1, tzinfo=_tz.utc))


def test_checkpoint_walk_skips_corrupt_older_checkpoints(tmp_path):
    """The retained-checkpoint walk validates every OLDER checkpoint
    independently: a corrupted intermediate cut is skipped (the walk
    continues to the next older one) and resolution stays equal to the
    full-fold ground truth; corrupting ALL older cuts degrades a
    pre-newest-checkpoint commit to the full fold, still correct."""
    interval = 50
    tr = _build(str(tmp_path), 500, interval=interval)
    st = tr.table_state(T)
    lagged = st.updates[-(2 * interval + 10)].metadata.commit_id
    truth = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    want = truth.version_at(T, lagged)
    assert tr.version_at(T, lagged) == want

    d = tr._table_dir(T)
    cks = sorted(
        n for n in tr.fs.list_dir(d)
        if n.startswith("checkpoint_") and n.endswith(".json")
    )
    assert len(cks) >= 3
    # corrupt the checkpoint the lagged commit would resolve from
    # (the second-newest); the walk must skip to an older valid one
    tr.fs.write_text(tr.fs.join(d, cks[-2]), "{not json")
    assert tr.version_at(T, lagged) == want
    # corrupt every older cut: degrade to the full fold, still correct
    for n in cks[:-1]:
        tr.fs.write_text(tr.fs.join(d, n), "{not json")
    assert tr.version_at(T, lagged) == want


@pytest.mark.slow
def test_version_at_walk_exhaustive_every_commit(tmp_path):
    """Exhaustive differential: version_at through the retained-
    checkpoint walk equals the checkpoint-free full fold at EVERY commit
    of a 317-commit log (interval 50) — checkpoint boundary positions,
    mid-segment positions, genesis-deep positions past the walk's reach,
    and the head.  No Spark; pure metadata."""
    interval = 50
    tr = _build(str(tmp_path), 317, interval=interval)
    truth = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    st = truth.table_state(T)
    ids = [u.metadata.commit_id for u in st.updates]
    assert len(ids) >= 317  # + the init commit
    for cid in ids:
        assert tr.version_at(T, cid) == truth.version_at(T, cid), cid


def test_sqlite_version_at_exhaustive_every_commit():
    """Backend twin of the exhaustive sweep: the sqlite tracker's
    checkpoint-row fast path (single row, no retained walk — the
    degrade there is one indexed SQL scan) equals the checkpoint-free
    full fold at every commit position."""
    tr = SqliteVersionTracker(checkpoint_interval=25)
    tr.init_table(T, is_snapshot=False, user_id="u")
    for i in range(130):
        _commit(tr, i, marked=(i % 4 == 0))
    st = tr.table_state(T)
    for u in st.updates:
        cid = u.metadata.commit_id
        want = fold.current_version(st.updates, cid)
        assert tr.version_at(T, cid) == want, cid


def test_hot_path_listing_call_counts_bounded(tmp_path):
    """Round 12: the LISTING dimension of the metadata plane, pinned in
    both units.  CountingFs now counts list_dir CALLS and DIRENTS
    returned; this test pins the CALL count per hot operation to a small
    constant (each op should list the log directory once or twice, never
    per-commit), while the DIRENTS-per-listing bound — O(tail) after
    commit-log archival — is pinned by
    tests/test_commit_archive.py::test_archive_listing_stays_o_tail."""
    from chronicles_spark.spark.reader import changed_partitions

    interval = 100
    tr = _build(str(tmp_path), 1200, interval=interval)
    tdef = TableDefinition(T, str(tmp_path) + "/data", PartitionSchema(("p",)))
    recent = tr.table_state(T).updates[-10].metadata.commit_id

    def counted():
        cfs = CountingFs(tr.fs)
        return cfs, FileBackedVersionTracker(
            str(tmp_path), fs=cfs, checkpoint_interval=interval
        )

    cfs, tr2 = counted()
    pinned_state(tr2, T)
    assert len(cfs.lists) <= 2, f"pinned_state listed {len(cfs.lists)}×"

    cfs, tr2 = counted()
    tr2.current_version(T)
    assert len(cfs.lists) <= 2, f"current_version listed {len(cfs.lists)}×"

    cfs, tr2 = counted()
    changed_partitions(tdef, tr2, recent)
    assert len(cfs.lists) <= 4, (
        f"a CDC poll listed {len(cfs.lists)}× — once per endpoint is the "
        "contract"
    )

    cfs, tr2 = counted()
    tr2.commit_at_timestamp(T, tr.table_state(T).updates[-5].metadata.timestamp)
    assert len(cfs.lists) <= 4, (
        f"near-head timestamp travel listed {len(cfs.lists)}×"
    )

    # optimistic-commit happy path: the conflict check must not list at
    # all (head-pointer read only); the append itself lists at most once
    # for the checkpoint cadence probe
    st, head, _ = pinned_state(tr, T)
    from chronicles_spark.core.ops import (
        AddPartitionVersion as _APV,
        TableUpdate as _TU,
        TableUpdateMetadata as _TUM,
    )
    from chronicles_spark.core.version import generate_version as _gv

    cfs, tr2 = counted()
    tr2.commit(
        T,
        _TU(_TUM.new("u", "happy"), (_APV(Partition.of(("p", "7")), _gv()),)),
        expected_head=head,
    )
    assert len(cfs.lists) <= 2, (
        f"an optimistic commit listed {len(cfs.lists)}× on the happy path"
    )
