"""Commit-log archival (round 12): pack checkpoint-covered commit-file
prefixes into one immutable artifact so every fast resolution's directory
LISTING is O(live tail + archives) dirents instead of O(commit history) —
the last O(history) term on the metadata plane after round 11's O(tail)
file-read work (docs/scale.md "commit-log archival").

House style: every fast-path answer is differentially compared against a
checkpoint-free ground-truth tracker over the SAME directory (which reads
through the archives — the archive is the log relocated, not a derived
artifact), and the structural costs (listing calls, dirents seen,
commit-file reads) are pinned with CountingFs."""

import json

import pytest

from chronicles_spark.core import fold
from chronicles_spark.core.markers import pair_label
from chronicles_spark.core.model import (
    Partition,
    TableName,
)
from chronicles_spark.core.ops import (
    AddPartitionVersion,
    TableUpdate,
    TableUpdateMetadata,
    update_to_json,
)
from chronicles_spark.core.version import generate_version
from chronicles_spark.operators.pairing import pair_message, pinned_state
from chronicles_spark.trackers import FileBackedVersionTracker
from chronicles_spark.trackers.base import UnknownCommitError
from chronicles_spark.trackers.files import (
    _ARCHIVE_FILE_RE,
    _UPDATE_FILE_RE,
)
from tests.test_checkpoint import CountingFs

T = TableName("db", "arch")


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
    return meta.commit_id


def _build(root, n, interval=10, **kw):
    tr = FileBackedVersionTracker(root, checkpoint_interval=interval, **kw)
    tr.init_table(T, is_snapshot=False, user_id="u")
    for i in range(n):
        _commit(tr, i)
    return tr


def _truth(root):
    """Checkpoint-free full-walk tracker over the same directory."""
    return FileBackedVersionTracker(root, checkpoint_interval=None)


def _live_commit_files(tr):
    d = tr._table_dir(T)
    return sorted(n for n in tr.fs.list_dir(d) if _UPDATE_FILE_RE.match(n))


def _archives(tr):
    d = tr._table_dir(T)
    return sorted(n for n in tr.fs.list_dir(d) if _ARCHIVE_FILE_RE.match(n))


def test_archive_roundtrip_full_history_preserved(tmp_path):
    """Archival relocates the log: table_state, update_seqs, update_count,
    updates_slice and version_at at EVERY commit position are
    byte-identical before and after, and equal to the ground truth."""
    tr = _build(str(tmp_path), 60, interval=10)
    before = tr.table_state(T)
    seqs_before = tr.update_seqs(T)
    out = tr.archive_commits(T, retain_checkpoints=2)
    assert out["archived"] > 0 and out["archive"] is not None
    assert len(_archives(tr)) == 1
    # packed files really left the live directory
    assert len(_live_commit_files(tr)) == len(seqs_before) - out["archived"]

    after = tr.table_state(T)
    assert after.current_version == before.current_version
    assert [u.metadata.commit_id for u in after.updates] == [
        u.metadata.commit_id for u in before.updates
    ]
    assert tr.update_seqs(T) == seqs_before
    assert tr.update_count(T) == len(seqs_before)
    assert [
        u.metadata.commit_id for u in tr.updates_slice(T, 3, 9)
    ] == [u.metadata.commit_id for u in before.updates[3:9]]

    # exhaustive sweep: version_at answers identically at every position,
    # on the archived tracker AND the checkpoint-free ground truth
    gt = _truth(str(tmp_path))
    for u in before.updates:
        cid = u.metadata.commit_id
        want = fold.current_version(
            fold.take_through(before.updates, cid), cid
        )
        assert tr.version_at(T, cid) == want
        assert gt.version_at(T, cid) == want
    with pytest.raises(UnknownCommitError):
        tr.version_at(T, "no-such-commit")


def test_archive_listing_stays_o_tail(tmp_path):
    """The round's thesis, in structural units: after archival a
    pinned_state against a deep log sees O(tail + archives) DIRENTS per
    listing — not O(commit history) — with commit-file reads still
    O(checkpoint_interval) and a bounded number of list_dir calls."""
    interval = 100
    n = 5_000
    tr = _build(str(tmp_path), n, interval=interval)

    cfs0 = CountingFs(tr.fs)
    counted0 = FileBackedVersionTracker(
        str(tmp_path), fs=cfs0, checkpoint_interval=interval
    )
    want = pinned_state(counted0, T)
    per_list_before = cfs0.dirents / max(1, len(cfs0.lists))
    assert per_list_before > n  # the pre-archival listing IS O(history)

    out = tr.archive_commits(T, retain_checkpoints=2)
    assert out["archived"] >= n - 2 * interval - interval

    cfs = CountingFs(tr.fs)
    counted = FileBackedVersionTracker(
        str(tmp_path), fs=cfs, checkpoint_interval=interval
    )
    got = pinned_state(counted, T)
    assert got == want  # same triple through the archived layout
    # structural pins: bounded listing calls, O(tail) dirents per call
    assert len(cfs.lists) <= 2, cfs.lists
    per_list = cfs.dirents / max(1, len(cfs.lists))
    assert per_list <= 3 * interval + 16, (
        f"a post-archival resolution saw {per_list} dirents per listing "
        f"on a {n}-commit log — the listing is still O(history)"
    )
    reads = [p for p in cfs.reads if "table_update_" in p]
    assert len(reads) <= interval + 5
    # and no archive body was read on the hot path
    assert not any(
        _ARCHIVE_FILE_RE.match(p.rsplit("/", 1)[-1]) for p in cfs.reads
    )


def test_archive_auto_cut_respects_retention(tmp_path):
    """retain_checkpoints keeps the newest N checkpoint segments live (the
    O(lag) fast-resolution window); through_seq pins the cut; dry_run
    reports without mutating."""
    tr = _build(str(tmp_path), 55, interval=10)
    d = tr._table_dir(T)
    ck_seqs = sorted(
        int(n.split("_")[1].split(".")[0])
        for n in tr.fs.list_dir(d)
        if n.startswith("checkpoint_")
    )
    assert len(ck_seqs) >= 5
    cut = sorted(ck_seqs, reverse=True)[2]

    dry = tr.archive_commits(T, retain_checkpoints=2, dry_run=True)
    assert dry["through_seq"] == cut and dry["archived"] > 0
    assert _archives(tr) == [] and len(_live_commit_files(tr)) == 56

    with pytest.raises(ValueError, match="retained checkpoint"):
        tr.archive_commits(T, through_seq=cut + 1)

    out = tr.archive_commits(T, retain_checkpoints=2)
    assert (out["through_seq"], out["archived"]) == (
        dry["through_seq"], dry["archived"]
    )
    # live files all strictly above the cut; checkpoints below it pruned
    live = [int(x.split("_")[2].split(".")[0]) for x in _live_commit_files(tr)]
    assert min(live) > cut
    remaining_cks = [s for s in ck_seqs if tr.fs.exists(
        tr.fs.join(d, f"checkpoint_{s:013d}.json")
    )]
    assert all(s >= cut for s in remaining_cks)
    assert out["pruned_checkpoints"] == sum(1 for s in ck_seqs if s < cut)

    # a second call with nothing new below the retention is a no-op
    again = tr.archive_commits(T, retain_checkpoints=2)
    assert again["archived"] == 0 and len(_archives(tr)) == 1


def test_archive_incremental_second_run(tmp_path):
    """More commits → a second archival packs only the NEW prefix into a
    second artifact; merged reads agree with ground truth throughout."""
    tr = _build(str(tmp_path), 40, interval=10)
    assert tr.archive_commits(T, retain_checkpoints=1)["archived"] > 0
    for i in range(40, 80):
        _commit(tr, i)
    out2 = tr.archive_commits(T, retain_checkpoints=1)
    assert out2["archived"] > 0
    assert len(_archives(tr)) == 2
    assert tr.update_count(T) == 81
    assert tr.current_version(T) == _truth(str(tmp_path)).current_version(T)
    # marker plumbing survives: pinned_state's triple equals full walk
    st = tr.table_state(T)
    prefix = list(fold.take_through(st.updates, st.current_version))
    want_marker = next(
        (pl for u in reversed(prefix)
         if (pl := pair_label(u.metadata.message)) is not None),
        None,
    )
    got = pinned_state(tr, T)
    assert got[1] == st.current_version and got[2] == want_marker


def test_archive_crash_between_write_and_deletes_is_repaired(tmp_path):
    """Crash-safe ordering: if the artifact lands but (some) live-file
    deletes don't, reads stay correct (identical-duplicate slots dedupe,
    fast paths degrade), and the next archive_commits call repairs."""
    tr = _build(str(tmp_path), 45, interval=10)
    want_state = tr.table_state(T)
    want_cv = tr.current_version(T)

    calls = {"n": 0}
    real_remove = tr.fs.remove_file

    def dying_remove(path):
        if "table_update_" in path and calls["n"] >= 3:
            raise OSError("injected crash mid-deletes")
        calls["n"] += 1
        return real_remove(path)

    tr.fs.remove_file = dying_remove
    with pytest.raises(OSError, match="injected"):
        tr.archive_commits(T, retain_checkpoints=1)
    tr.fs.remove_file = real_remove

    # torn state: artifact + floor written, most dup files still live
    assert len(_archives(tr)) == 1
    fresh = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=10)
    assert fresh.current_version(T) == want_cv  # degrade path, correct
    st = fresh.table_state(T)
    assert [u.metadata.commit_id for u in st.updates] == [
        u.metadata.commit_id for u in want_state.updates
    ]
    # checkpoint cuts refuse to bake the ambiguous count while torn
    # (cadence-only skip) — and repair restores everything
    out = fresh.archive_commits(T, retain_checkpoints=1)
    assert out["repaired"] > 0
    live = [int(x.split("_")[2].split(".")[0]) for x in _live_commit_files(fresh)]
    floor = fresh._read_floor_seq(fresh._table_dir(T))
    assert min(live) > floor
    assert fresh.current_version(T) == want_cv
    assert fresh.head_resolution(T) is not None  # fast path green again


def test_reclaimed_archived_slot_fails_loudly(tmp_path):
    """A DIFFERENT commit sitting live in an archived sequence slot means
    a writer bypassed the floor guards: full reads raise rather than pick
    an order, and archival refuses."""
    tr = _build(str(tmp_path), 30, interval=5)
    out = tr.archive_commits(T, retain_checkpoints=1)
    assert out["archived"] > 0
    d = tr._table_dir(T)
    floor = tr._read_floor_seq(d)
    # forge a foreign commit into an archived slot
    meta = TableUpdateMetadata.new("evil", "reclaimed slot")
    forged = TableUpdate(
        meta, (AddPartitionVersion(Partition.of(("p", "99")), generate_version()),)
    )
    tr.fs.write_text(
        tr.fs.join(d, f"table_update_{floor:013d}.json"), update_to_json(forged)
    )
    with pytest.raises(RuntimeError, match="DIFFERENT commits"):
        tr.table_state(T)
    with pytest.raises(RuntimeError, match="re-claimed"):
        tr.archive_commits(T, retain_checkpoints=1)
    # fast paths refuse too (covers-prefix guard sees a live file at the
    # floor) and the degrade is the loud error, never a silent answer
    assert tr.head_resolution(T) is None


def test_fresh_writer_commits_above_every_listed_commit(tmp_path):
    """A burst of more than one commit per ms runs an instance's clock
    ahead of wall time.  A fresh instance on wall time that has listed
    the log must still commit above every commit it saw: a free name
    below the top would make its commit a head in the middle of the log,
    folding out every commit above it."""
    import time as _time

    root = str(tmp_path)
    ahead = FileBackedVersionTracker(root, checkpoint_interval=5)
    ahead._clock._last_ms = int(_time.time() * 1000) + 60_000
    ahead.init_table(T, is_snapshot=False, user_id="u")
    for i in range(12):
        _commit(ahead, i)
    fresh = FileBackedVersionTracker(root, checkpoint_interval=5)
    fresh.current_version(T)  # lists the log
    mine = _commit(fresh, 99)
    assert _truth(root).table_state(T).updates[-1].metadata.commit_id == mine
    assert {p.path for p in fresh.current_version(T).partition_versions} == {
        f"p={i}" for i in range(12)
    }


def test_writer_floor_guards_sequence_slots(tmp_path):
    """A fresh tracker instance whose clock lags behind the archive floor
    must claim slots ABOVE it (plain mode: cached floor read; CAS mode:
    listing seed + post-claim re-check)."""
    tr = _build(str(tmp_path), 30, interval=5)
    tr.archive_commits(T, retain_checkpoints=1)
    d = tr._table_dir(T)
    floor = tr._read_floor_seq(d)
    assert floor > 0

    for kw in ({}, {"use_cas": True}):
        fresh = FileBackedVersionTracker(
            str(tmp_path), checkpoint_interval=5, **kw
        )
        fresh._clock.next_timestamp_ms = lambda: 5  # force a lagging clock
        before = set(_live_commit_files(fresh))
        _commit(fresh, 1000)
        new = set(_live_commit_files(fresh)) - before
        assert len(new) == 1
        assert int(new.pop().split("_")[2].split(".")[0]) > floor

    # CAS post-claim re-check: simulate the in-flight-archival race by
    # blinding the seeding listing (as if the archive landed between the
    # writer's listing and its claim) — the claim below the floor must be
    # released and re-made above it
    cas = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=5,
                                   use_cas=True)
    cas._clock.next_timestamp_ms = lambda: 5
    cas._floor_cache[d] = -1
    real_scan = cas._scan_dir

    def blind_scan(path, with_checkpoints=False):
        if path == d and not with_checkpoints:
            return [], []
        return real_scan(path, with_checkpoints)

    cas._scan_dir = blind_scan
    before = set(_live_commit_files(tr))
    _commit(cas, 2000)
    cas._scan_dir = real_scan
    new = set(_live_commit_files(tr)) - before
    assert len(new) == 1
    assert int(new.pop().split("_")[2].split(".")[0]) > floor
    # no orphan claim left inside the archived prefix
    live = [int(x.split("_")[2].split(".")[0]) for x in _live_commit_files(tr)]
    assert min(live) > floor
    assert tr.current_version(T) == _truth(str(tmp_path)).current_version(T)


def test_cdc_offsets_survive_archival(tmp_path):
    """A CDC consumer's offsets recorded BEFORE an archival cut keep
    verifying and folding after it: update_seqs still exposes archived
    seqs, prefix verification counts are stable, and range folds below
    the floor read through the archive."""
    from chronicles_spark.sources.datasource import ChroniclesStreamReader

    root = str(tmp_path / "log")
    tr = FileBackedVersionTracker(root, checkpoint_interval=5)
    tr.init_table(T, is_snapshot=False, user_id="u")
    for i in range(24):
        _commit(tr, i)

    reader = ChroniclesStreamReader(
        {"root": root, "table": T.fully_qualified, "location": str(tmp_path / "t")},
        None,
    )
    end0 = reader.latestOffset()
    assert end0["commits"] == 25

    tr.archive_commits(T, retain_checkpoints=1)
    assert len(_archives(tr)) == 1

    for i in range(24, 30):
        _commit(tr, i)
    end1 = reader.latestOffset()
    assert end1["commits"] == 31
    # ranges spanning the floor replay identically to a fresh reader
    parts = reader.partitions({"commits": 0, "last_seq": -1}, end1)
    fresh = ChroniclesStreamReader(
        {"root": root, "table": T.fully_qualified, "location": str(tmp_path / "t")},
        None,
    )
    parts2 = fresh.partitions({"commits": 0, "last_seq": -1}, end1)
    assert sorted(p.path for p in parts) == sorted(p.path for p in parts2)
    # and the pre-archival offset still verifies as a start
    tail = reader.partitions(end0, end1)
    assert len(tail) >= 1


def test_timestamp_travel_reaches_archived_history(tmp_path):
    """commit_at_timestamp below the archive floor resolves through the
    archive identically to the ground truth (tight-loop commits can share
    a timestamp, so the pin is parity + archived-depth, not a fixed
    position)."""
    tr = _build(str(tmp_path), 30, interval=5)
    st = tr.table_state(T)
    ts = st.updates[7].metadata.timestamp
    tr.archive_commits(T, retain_checkpoints=1)
    gt = _truth(str(tmp_path))
    got = tr.commit_at_timestamp(T, ts)
    assert got == gt.commit_at_timestamp(T, ts)
    # the resolved commit sits in the ARCHIVED prefix (deep travel)
    early_ids = [u.metadata.commit_id for u in st.updates[:15]]
    assert got in early_ids


def test_rollback_into_archived_history(tmp_path):
    """A head rolled back to an ARCHIVED commit still resolves (full fold
    through the archive), and a later commit re-advances normally."""
    tr = _build(str(tmp_path), 30, interval=5)
    st = tr.table_state(T)
    early = st.updates[4].metadata.commit_id
    tr.archive_commits(T, retain_checkpoints=1)
    tr.set_current_version(T, early)
    want = fold.current_version(
        fold.take_through(st.updates, early), early
    )
    assert tr.current_version(T) == want
    assert _truth(str(tmp_path)).current_version(T) == want
    _commit(tr, 999)
    assert tr.current_version(T) != want


def test_archive_on_memory_and_cas_backends(tmp_path):
    """Backend breadth: archival works over memory:// and a CAS-mode
    tracker (token-CAS floor advance), with ground-truth equality."""
    for root, kw in (
        (f"memory://arch-{tmp_path.name}/log", {}),
        (str(tmp_path / "cas"), {"use_cas": True}),
    ):
        tr = _build(root, 30, interval=5, **kw)
        want = tr.current_version(T)
        out = tr.archive_commits(T, retain_checkpoints=1)
        assert out["archived"] > 0
        assert tr.current_version(T) == want
        assert FileBackedVersionTracker(
            root, checkpoint_interval=None
        ).current_version(T) == want
        assert tr.update_count(T) == 31


def test_vacuum_candidates_identical_after_archival(tmp_path):
    """Vacuum derives its superseded-version candidates from the LOG's
    full history; archival must not change the doomed set (the archive
    is the log relocated).  Dry-run doomed lists pre/post archival are
    identical, and apply still deletes exactly them."""
    import os as _os

    from chronicles_spark.core.model import PartitionSchema, TableDefinition
    from chronicles_spark.core.version import generate_version as _gv
    from chronicles_spark.spark.vacuum import vacuum

    tr = FileBackedVersionTracker(str(tmp_path / "_log"), checkpoint_interval=5)
    tr.init_table(T, is_snapshot=False, user_id="u")
    tdef = TableDefinition(T, str(tmp_path / "data"), PartitionSchema(("p",)))
    p = Partition.of(("p", "z"))  # outside the noise commits' p=0..15 range
    versions = [_gv() for _ in range(4)]
    for v in versions:
        tr.commit(
            T,
            TableUpdate(
                TableUpdateMetadata.new("u", "w"),
                (AddPartitionVersion(p, v),),
            ),
        )
        d = _os.path.join(str(tmp_path / "data"), "p=z", f"_version={v.label}")
        _os.makedirs(d)
        with open(_os.path.join(d, "part-0.parquet"), "wb") as f:
            f.write(b"x")
    for i in range(20):  # push checkpoints past the writes
        _commit(tr, i)

    doomed_before = sorted(vacuum(tdef, tr, keep_last=1, dry_run=True))
    assert len(doomed_before) == 3  # 4 versions, keep_last=1 keeps the live
    out = tr.archive_commits(T, retain_checkpoints=1)
    assert out["archived"] > 0
    doomed_after = sorted(vacuum(tdef, tr, keep_last=1, dry_run=True))
    assert doomed_after == doomed_before
    removed = sorted(vacuum(tdef, tr, keep_last=1))
    assert removed == doomed_before
    assert all(not _os.path.exists(x) for x in removed)
    live_dir = _os.path.join(
        str(tmp_path / "data"), "p=z", f"_version={versions[-1].label}"
    )
    assert _os.path.exists(live_dir)


def test_consolidate_folds_artifacts_into_one(tmp_path):
    """consolidate=True absorbs every existing artifact into the new one
    (and a pure repack works with nothing new to pack): one artifact
    total, full history preserved at every commit position."""
    tr = _build(str(tmp_path), 30, interval=5)
    tr.archive_commits(T, retain_checkpoints=1)
    for i in range(30, 60):
        _commit(tr, i)
    tr.archive_commits(T, retain_checkpoints=1)
    for i in range(60, 90):
        _commit(tr, i)
    assert len(_archives(tr)) == 2
    before = tr.table_state(T)

    out = tr.archive_commits(T, retain_checkpoints=1, consolidate=True)
    assert out["consolidated_artifacts"] == 2 and out["archived"] > 0
    assert len(_archives(tr)) == 1
    after = tr.table_state(T)
    assert [u.metadata.commit_id for u in after.updates] == [
        u.metadata.commit_id for u in before.updates
    ]
    gt = _truth(str(tmp_path))
    for u in before.updates[::7]:  # sampled exhaustive sweep
        cid = u.metadata.commit_id
        assert tr.version_at(T, cid) == gt.version_at(T, cid)

    # pure repack: two artifacts, no new commits below the retention —
    # consolidate still merges them at the unchanged floor
    for i in range(90, 120):
        _commit(tr, i)
    tr.archive_commits(T, retain_checkpoints=1)
    assert len(_archives(tr)) == 2
    d = tr._table_dir(T)
    floor = tr._read_floor_seq(d)
    out2 = tr.archive_commits(T, retain_checkpoints=6, consolidate=True)
    assert out2["archived"] == 0 and out2["consolidated_artifacts"] == 2
    assert len(_archives(tr)) == 1
    assert tr._read_floor_seq(d) == floor  # repack moves no floor
    assert tr.current_version(T) == gt.current_version(T)
    assert tr.update_count(T) == 121


def test_consolidation_crash_overlap_repairs(tmp_path):
    """Crash between the superseding artifact write and the old-artifact
    deletes: OVERLAPPING artifacts (duplicate slots, identical commits).
    Reads dedupe and stay correct; the next run's repair step removes the
    subsumed artifacts."""
    tr = _build(str(tmp_path), 40, interval=5)
    tr.archive_commits(T, retain_checkpoints=2)
    for i in range(40, 70):
        _commit(tr, i)
    want = tr.table_state(T)

    real_remove = tr.fs.remove_file

    def dying_remove(path):
        if path.rsplit("/", 1)[-1].startswith("archive_"):
            raise OSError("injected crash before artifact delete")
        return real_remove(path)

    tr.fs.remove_file = dying_remove
    with pytest.raises(OSError, match="injected"):
        tr.archive_commits(T, retain_checkpoints=1, consolidate=True)
    tr.fs.remove_file = real_remove
    assert len(_archives(tr)) == 2  # overlapping: old + superseding

    # reads dedupe through the overlap, on a fresh tracker
    fresh = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=5)
    st = fresh.table_state(T)
    assert [u.metadata.commit_id for u in st.updates] == [
        u.metadata.commit_id for u in want.updates
    ]
    assert fresh.update_count(T) == len(want.updates)
    assert fresh.current_version(T) == _truth(str(tmp_path)).current_version(T)

    # the next run's repair step deletes the subsumed artifact
    out = fresh.archive_commits(T, retain_checkpoints=1)
    assert out["consolidated_artifacts"] == 1
    assert len(_archives(fresh)) == 1
    assert fresh.table_state(T).updates == st.updates


def test_stale_listing_retries_through_consolidation(tmp_path):
    """A reader whose directory listing predates a consolidation (or an
    incremental archival that packed live files) retries from a fresh
    listing instead of serving a view with missing commits."""
    tr = _build(str(tmp_path), 40, interval=5)
    tr.archive_commits(T, retain_checkpoints=2)
    reader = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=5)
    d = reader._table_dir(T)
    stale = reader._scan_dir(d)  # listing BEFORE the consolidation
    for i in range(40, 60):
        _commit(tr, i)
    tr.archive_commits(T, retain_checkpoints=1, consolidate=True)
    want = _truth(str(tmp_path)).table_state(T)

    calls = {"n": 0}
    real_scan = reader._scan_dir

    def stale_once(path, with_checkpoints=False):
        if path == d and not with_checkpoints and calls["n"] == 0:
            calls["n"] += 1
            return stale
        return real_scan(path, with_checkpoints)

    reader._scan_dir = stale_once
    st = reader.table_state(T)
    assert calls["n"] == 1  # the stale listing really was consumed
    assert [u.metadata.commit_id for u in st.updates] == [
        u.metadata.commit_id for u in want.updates
    ]


# -- round 13: size-capped chunk artifacts ------------------------------------


def _clear_archive_caches():
    from chronicles_spark.trackers import files as F

    F._ARCHIVE_SEQ_CACHE.clear()
    F._ARCHIVE_MERGED_CACHE.clear()
    F._ARCHIVE_BODY_CACHE.clear()


def test_chunked_archive_names_carry_bounds_and_counts(tmp_path):
    """max_chunk_bytes splits the packed prefix into several artifacts;
    each name carries (first_seq, last_seq, n, crc), the n fields sum to
    the archived count (listing-only counting intact), ranges are
    disjoint ascending, every body stays under the cap plus one entry,
    and the full history is preserved at every position."""
    tr = _build(str(tmp_path), 120, interval=10)
    before = tr.table_state(T)
    seqs_before = tr.update_seqs(T)
    out = tr.archive_commits(T, retain_checkpoints=2, max_chunk_bytes=4096)
    assert out["archived"] > 0
    names = _archives(tr)
    assert len(names) >= 3  # the cap really chunked
    assert out["archives"] == sorted(out["archives"]) and set(
        out["archives"]
    ) == set(names)
    d = tr._table_dir(T)
    total_n, prev_last = 0, -1
    for n in names:
        m = _ARCHIVE_FILE_RE.match(n)
        first, last = int(m.group("first")), int(m.group("last"))
        assert prev_last < first <= last  # disjoint, ascending
        prev_last = last
        total_n += int(m.group("n"))
        body = tr.fs.read_text(tr.fs.join(d, n))
        assert len(body) <= 4096 + 2048  # cap + one-entry overshoot
        parsed = json.loads(body)
        ss = [int(e["s"]) for e in parsed["entries"]]
        assert (ss[0], ss[-1], len(ss)) == (first, last, parsed["n"])
    assert total_n == out["archived"]

    after = tr.table_state(T)
    assert [u.metadata.commit_id for u in after.updates] == [
        u.metadata.commit_id for u in before.updates
    ]
    assert tr.update_seqs(T) == seqs_before
    gt = _truth(str(tmp_path))
    for u in before.updates[::11]:
        cid = u.metadata.commit_id
        assert tr.version_at(T, cid) == gt.version_at(T, cid)


def test_below_floor_slice_reads_only_overlapping_chunks(tmp_path):
    """The round-13 'done' pin: a bounded seq-range read BELOW the
    archive floor parses only the chunks overlapping the window —
    O(slice) archive files and bytes, never the whole archived history."""
    tr = _build(str(tmp_path), 400, interval=20)
    out = tr.archive_commits(T, retain_checkpoints=2, max_chunk_bytes=4096)
    assert len(out["archives"]) >= 8
    d = tr._table_dir(T)
    total_archive_bytes = sum(
        len(tr.fs.read_text(tr.fs.join(d, n))) for n in _archives(tr)
    )
    seqs = tr.update_seqs(T)
    lo, hi = seqs[99], seqs[109]  # 10 commits, deep below the floor

    _clear_archive_caches()
    cfs = CountingFs(tr.fs)
    counted = FileBackedVersionTracker(
        str(tmp_path), fs=cfs, checkpoint_interval=20
    )
    got = counted.updates_in_seq_range(T, lo - 1, hi)
    assert len(got) == 11
    want = [u for u in tr.table_state(T).updates]
    want_ids = [
        u.metadata.commit_id for u in want[99:110]
    ]
    assert [u.metadata.commit_id for u in got] == want_ids

    chunk_reads = [
        p for p in cfs.reads
        if _ARCHIVE_FILE_RE.match(p.rsplit("/", 1)[-1])
    ]
    assert len(chunk_reads) <= 3, (
        f"a 10-commit below-floor slice read {len(chunk_reads)} chunks "
        f"of {len(_archives(tr))} — ranged reads are not pruning"
    )
    assert cfs.read_bytes <= total_archive_bytes / 5, (
        f"slice read {cfs.read_bytes} of {total_archive_bytes} archived "
        "bytes — O(history), not O(slice)"
    )


def test_consolidate_rechunks_incremental_runs(tmp_path):
    """Several incremental chunked runs + growth, then consolidate with a
    different cap: the artifact set is re-chunked (old generation gone),
    history identical, floor unmoved by the repack portion."""
    tr = _build(str(tmp_path), 60, interval=10)
    tr.archive_commits(T, retain_checkpoints=1, max_chunk_bytes=4096)
    for i in range(60, 120):
        _commit(tr, i)
    tr.archive_commits(T, retain_checkpoints=1, max_chunk_bytes=4096)
    gen1 = set(_archives(tr))
    assert len(gen1) >= 4
    before = tr.table_state(T)

    out = tr.archive_commits(
        T, retain_checkpoints=1, consolidate=True, max_chunk_bytes=64 * 2**20
    )
    assert out["consolidated_artifacts"] == len(gen1)
    gen2 = set(_archives(tr))
    assert gen2.isdisjoint(gen1) and len(gen2) == 1
    after = tr.table_state(T)
    assert [u.metadata.commit_id for u in after.updates] == [
        u.metadata.commit_id for u in before.updates
    ]
    assert tr.current_version(T) == _truth(str(tmp_path)).current_version(T)


def test_crash_mid_chunk_writes_rolls_back_partial_generation(tmp_path):
    """A consolidation that dies BETWEEN chunk writes leaves a partial
    new generation overlapping the old one: reads dedupe (correct
    throughout), and the next run's repair removes the partial chunks —
    the completed old generation wins, a full rerun converges."""
    tr = _build(str(tmp_path), 80, interval=10)
    tr.archive_commits(T, retain_checkpoints=1, max_chunk_bytes=4096)
    old_gen = set(_archives(tr))
    assert len(old_gen) >= 3
    want = tr.table_state(T)

    writes = {"n": 0}
    real_put = tr.fs.write_text_if_absent

    def dying_put(path, text):
        if path.rsplit("/", 1)[-1].startswith("archive_"):
            writes["n"] += 1
            if writes["n"] >= 2:
                raise OSError("injected crash between chunk writes")
        return real_put(path, text)

    tr.fs.write_text_if_absent = dying_put
    with pytest.raises(OSError, match="injected"):
        tr.archive_commits(
            T, retain_checkpoints=1, consolidate=True,
            max_chunk_bytes=8192,
        )
    tr.fs.write_text_if_absent = real_put
    partial = set(_archives(tr)) - old_gen
    assert len(partial) == 1  # exactly the one chunk that landed

    # reads dedupe through the overlap on a fresh tracker
    _clear_archive_caches()
    fresh = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=10)
    st = fresh.table_state(T)
    assert [u.metadata.commit_id for u in st.updates] == [
        u.metadata.commit_id for u in want.updates
    ]
    assert fresh.update_count(T) == len(want.updates)

    # repair restores a DISJOINT exact cover: when the partial chunk's
    # boundary does not align with the old generation's it rolls back
    # (old gen survives); when byte-size caps happen to align it may
    # instead displace exactly the old chunks it covers — either end
    # state is a valid disjoint cover, and that is the invariant.
    # Dry-run reports exactly what the apply run then does.
    dry = fresh.archive_commits(T, retain_checkpoints=1, dry_run=True)
    out = fresh.archive_commits(T, retain_checkpoints=1)
    assert out["consolidated_artifacts"] >= 1
    assert dry["consolidated_artifacts"] == out["consolidated_artifacts"]
    assert dry["archived"] == out["archived"]
    bounds = []
    for n in _archives(fresh):
        m = _ARCHIVE_FILE_RE.match(n)
        bounds.append((int(m.group("first")), int(m.group("last"))))
    bounds.sort()
    assert all(b[0] > a[1] for a, b in zip(bounds, bounds[1:]))  # disjoint
    assert fresh.table_state(T).updates == st.updates
    # idempotent: a second repair pass finds nothing left to collapse
    again = fresh.archive_commits(T, retain_checkpoints=1)
    assert again["consolidated_artifacts"] == 0


def test_racing_archiver_vanished_files_retry_not_crash(tmp_path):
    """ADVICE r12: two unserialized archivers — the loser's listing goes
    stale mid-pack when the winner deletes packed files; it must retry
    from a fresh listing and finish benignly, never die on a raw
    FileNotFoundError."""
    tr = _build(str(tmp_path), 60, interval=10)
    loser = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=10)
    d = loser._table_dir(T)
    stale = loser._scan_dir(d, with_checkpoints=True)
    # the winner archives (deleting the packed live files)
    tr.archive_commits(T, retain_checkpoints=1, max_chunk_bytes=4096)
    want = _truth(str(tmp_path)).table_state(T)

    calls = {"n": 0}
    real_scan = loser._scan_dir

    def stale_once(path, with_checkpoints=False):
        if path == d and with_checkpoints and calls["n"] == 0:
            calls["n"] += 1
            return stale
        return real_scan(path, with_checkpoints)

    loser._scan_dir = stale_once
    out = loser.archive_commits(T, retain_checkpoints=1)
    assert calls["n"] == 1  # the stale listing really was consumed
    assert out["archived"] == 0  # fresh listing: nothing new to pack
    st = loser.table_state(T)
    assert [u.metadata.commit_id for u in st.updates] == [
        u.metadata.commit_id for u in want.updates
    ]


def test_dry_run_crash_leftovers_not_double_counted(tmp_path):
    """ADVICE r12: after a crash-between-artifact-and-deletes, a dry run
    must report the leftovers as `repaired` only — `archived` must equal
    what the subsequent apply run NEWLY packs."""
    tr = _build(str(tmp_path), 45, interval=10)
    calls = {"n": 0}
    real_remove = tr.fs.remove_file

    def dying_remove(path):
        if "table_update_" in path and calls["n"] >= 3:
            raise OSError("injected crash mid-deletes")
        calls["n"] += 1
        return real_remove(path)

    tr.fs.remove_file = dying_remove
    with pytest.raises(OSError, match="injected"):
        tr.archive_commits(T, retain_checkpoints=1)
    tr.fs.remove_file = real_remove

    for i in range(45, 60):
        _commit(tr, i)
    dry = tr.archive_commits(T, retain_checkpoints=1, dry_run=True)
    assert dry["repaired"] > 0  # the crash leftovers, reported
    assert _archives(tr) and len(_live_commit_files(tr)) > 0
    apply = tr.archive_commits(T, retain_checkpoints=1)
    assert apply["archived"] == dry["archived"]
    assert apply["through_seq"] == dry["through_seq"]
    assert tr.current_version(T) == _truth(str(tmp_path)).current_version(T)


def test_archive_caches_stay_bounded_per_generation(tmp_path):
    """ADVICE r12: the merged-seq cache holds ONE generation per table
    directory (a consolidation evicts the stale union), and the seq
    cache rides a FIFO cap — a long-lived CDC driver does not accumulate
    O(history) ints per archival run."""
    from chronicles_spark.trackers import files as F

    _clear_archive_caches()
    tr = _build(str(tmp_path), 40, interval=5)
    d = tr._table_dir(T)
    tr.archive_commits(T, retain_checkpoints=1, max_chunk_bytes=4096)
    tr.update_seqs(T)
    gen1 = F._ARCHIVE_MERGED_CACHE.get(d)
    assert gen1 is not None
    for i in range(40, 80):
        _commit(tr, i)
    tr.archive_commits(T, retain_checkpoints=1, max_chunk_bytes=4096)
    tr.update_seqs(T)
    gen2 = F._ARCHIVE_MERGED_CACHE.get(d)
    assert gen2 is not None and gen2[0] != gen1[0]
    # one generation per directory, not one per archival run
    assert sum(1 for k in F._ARCHIVE_MERGED_CACHE if k == d) == 1
    assert len(F._ARCHIVE_MERGED_CACHE) == 1
    assert len(F._ARCHIVE_SEQ_CACHE) <= F._ARCHIVE_SEQ_CACHE_MAX


def test_branch_merge_rebase_through_archived_history(tmp_path):
    """Round-13 composition proof: archive BOTH the base table's and the
    branch's commit logs so the branch-point (the three-way base) sits in
    ARCHIVED history, then rebase + merge — outcomes must be identical to
    an unarchived twin directory (the archive is the log relocated, so
    `version_at` into it must feed branching's three-way exactly)."""
    import shutil

    from chronicles_spark import branching as B
    from chronicles_spark.core.model import PartitionSchema, TableDefinition

    pa, pb, pc = (
        Partition.of(("p", "a")), Partition.of(("p", "b")),
        Partition.of(("p", "c")),
    )

    def commit_to(tr, tn, *ops, msg="w"):
        meta = TableUpdateMetadata.new("u", msg)
        tr.commit(tn, TableUpdate(meta, tuple(ops)))
        return meta.commit_id

    root = str(tmp_path / "log")
    tr = FileBackedVersionTracker(root, checkpoint_interval=5)
    tr.init_table(T, is_snapshot=False, user_id="u")
    va, vb = generate_version(), generate_version()
    commit_to(tr, T, AddPartitionVersion(pa, va))
    commit_to(tr, T, AddPartitionVersion(pb, vb))
    btn = B.create_branch(tr, T, "staging", "u")
    base_commit = tr.tag_commit(btn, B.BRANCH_POINT_TAG)

    # branch changes p=b and adds p=c; main changes p=a (disjoint)
    vb2, vc, va2 = generate_version(), generate_version(), generate_version()
    commit_to(tr, btn, AddPartitionVersion(pb, vb2))
    commit_to(tr, btn, AddPartitionVersion(pc, vc))
    commit_to(tr, T, AddPartitionVersion(pa, va2))
    # filler on both logs pushes checkpoints well past the branch point
    for i in range(25):
        commit_to(tr, T, AddPartitionVersion(
            Partition.of(("p", f"m{i % 7}")), generate_version()))
        commit_to(tr, btn, AddPartitionVersion(
            Partition.of(("p", f"s{i % 7}")), generate_version()))

    # twin BEFORE archival: same commit ids, same versions, never archived
    twin_root = str(tmp_path / "log_twin")
    shutil.copytree(root, twin_root)
    tw = FileBackedVersionTracker(twin_root, checkpoint_interval=5)

    for tn in (T, btn):
        out = tr.archive_commits(tn, retain_checkpoints=1,
                                 max_chunk_bytes=4096)
        assert out["archived"] > 0
    # the branch point really sits in archived history
    d_btn = tr._table_dir(btn)
    seq_of = dict(zip(
        (u.metadata.commit_id for u in tr.table_state(btn).updates),
        tr.update_seqs(btn),
    ))
    assert seq_of[base_commit] <= tr._read_floor_seq(d_btn)

    tdef = TableDefinition(T, str(tmp_path / "data"), PartitionSchema(("p",)))

    # rebase reads the archived branch point for its three-way base
    st_a, conf_a = B.rebase_branch(tdef, tr, "staging", "u")
    st_u, conf_u = B.rebase_branch(tdef, tw, "staging", "u")
    assert conf_a == conf_u == []
    assert st_a.partition_versions == st_u.partition_versions
    assert st_a.partition_versions[pa] == va2  # picked up main's progress
    assert st_a.partition_versions[pb] == vb2  # kept the branch change

    # merge publishes identically through the archived logs
    main_a, _ = B.merge_branch(tdef, tr, "staging", "u", "publish")
    main_u, _ = B.merge_branch(tdef, tw, "staging", "u", "publish")
    assert main_a.partition_versions == main_u.partition_versions
    assert main_a.partition_versions[pb] == vb2
    assert main_a.partition_versions[pc] == vc
    assert main_a.partition_versions[pa] == va2


def test_gap_filled_newest_checkpoint_archives_deeper_cut(tmp_path):
    """Round 13 (flake found by the OS-process race): a commit gap-filled
    below the newest retained checkpoint (a racing CAS writer's claim
    that landed after the cut's listing) makes that checkpoint
    transiently unusable.  Auto-cut archival must fall back to a deeper
    covered checkpoint — archiving less this run — never raise; an
    EXPLICIT through_seq pinned to the uncovered cut still raises."""
    import time as _time

    tr = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=5)
    tr.init_table(T, is_snapshot=False, user_id="u")
    for i in range(12):
        _commit(tr, i)
        _time.sleep(0.002)  # guarantee free ms slots between seqs
    for i in range(12, 30):
        _commit(tr, i)
    d = tr._table_dir(T)
    live, _, ck_seqs = tr._scan_dir(d, with_checkpoints=True)
    newest_ck = max(ck_seqs)
    # a free sequence slot BETWEEN the first two checkpoints: every
    # checkpoint at-or-after the slot undercounts, the first still covers
    ck_sorted = sorted(ck_seqs)
    early = [
        s for s, _ in live if ck_sorted[0] < s < ck_sorted[1]
    ]
    gaps = [
        a + 1 for a, b in zip(early, early[1:]) if b - a > 1
    ]
    assert gaps, "fixture needs a free ms slot (sleep too short?)"
    slot = gaps[0]
    forged = TableUpdate(
        TableUpdateMetadata.new("laggard", "gap-fill"),
        (AddPartitionVersion(Partition.of(("p", "gf")), generate_version()),),
    )
    tr.fs.write_text(
        tr.fs.join(d, f"table_update_{slot:013d}.json"), update_to_json(forged)
    )

    # the gap-filled newest cut is skipped for an older covering one
    assert tr.head_resolution(T) == pinned_state(_truth(str(tmp_path)), T)
    # the pinned cut cannot cover: loud
    with pytest.raises(ValueError, match="does not cover"):
        tr.archive_commits(T, through_seq=newest_ck)
    # auto mode archives what IS safely archivable — the checkpoints at
    # or above the forged slot are skipped, a deeper covered one is used
    out = tr.archive_commits(T, retain_checkpoints=0)
    assert out["through_seq"] is not None and out["through_seq"] < slot
    assert out["archived"] > 0
    # the forged commit survives in the merged log, above the floor
    st = tr.table_state(T)
    assert any(
        u.metadata.commit_id == forged.metadata.commit_id for u in st.updates
    )
    floor = tr._read_floor_seq(d)
    assert floor < slot
    # once later checkpoints supersede the gap, archival proceeds deeper
    for i in range(30, 45):
        _commit(tr, i)
    out2 = tr.archive_commits(T, retain_checkpoints=0)
    assert out2["archived"] > 0 and out2["through_seq"] > slot
    assert tr.current_version(T) == _truth(str(tmp_path)).current_version(T)


def test_head_resolution_in_gap_filled_state_equals_full_walk(tmp_path):
    """Differential: with a commit gap-filled below the newest retained
    checkpoints, ``head_resolution`` folds from an older covering cut and
    answers the full walk's ``(state, head, newest pair label)`` — at the
    newest commit, after an unmarked commit on top, and at a rolled-back
    head."""
    import time as _time

    root = str(tmp_path)
    tr = FileBackedVersionTracker(root, checkpoint_interval=4)
    tr.init_table(T, is_snapshot=False, user_id="u")
    ids = []
    for i in range(8):
        ids.append(_commit(tr, i))
        _time.sleep(0.002)  # free ms slots between the early seqs
    for i in range(8, 20):
        ids.append(_commit(tr, i))
    d = tr._table_dir(T)
    live, _, ck_seqs = tr._scan_dir(d, with_checkpoints=True)
    first_ck = min(ck_seqs)
    seqs = [s for s, _ in live if s > first_ck]
    slot = next(a + 1 for a, b in zip(seqs, seqs[1:]) if b - a > 1)
    assert slot < max(ck_seqs)  # the newest cut no longer covers
    forged = TableUpdate(
        TableUpdateMetadata.new("laggard", pair_message("gap-fill", "gf")),
        (AddPartitionVersion(Partition.of(("p", "gf")), generate_version()),),
    )
    tr.fs.write_text(
        tr.fs.join(d, f"table_update_{slot:013d}.json"), update_to_json(forged)
    )

    def agree():
        got = tr.head_resolution(T)
        assert got is not None
        assert got == pinned_state(_truth(root), T)

    agree()
    _commit(tr, 20, marked=False)
    agree()
    tr.set_current_version(T, ids[-3])
    agree()


def test_no_checkpoint_cut_while_artifacts_overlap(tmp_path):
    """A consolidation crash leaves OVERLAPPING artifacts whose summed
    name counts double-count; a checkpoint cut in that window would bake
    the inflated count into n_folded and park every fast path on the
    full fold until a later cut supersedes it.  The cut must be skipped
    (cadence-only) while overlapped, and the fast path must answer
    immediately after the repair."""
    tr = _build(str(tmp_path), 40, interval=10)
    tr.archive_commits(T, retain_checkpoints=1, max_chunk_bytes=4096)
    d = tr._table_dir(T)

    real_remove = tr.fs.remove_file

    def dying_remove(path):
        if path.rsplit("/", 1)[-1].startswith("archive_"):
            raise OSError("injected crash before artifact delete")
        return real_remove(path)

    tr.fs.remove_file = dying_remove
    with pytest.raises(OSError, match="injected"):
        tr.archive_commits(
            T, retain_checkpoints=1, consolidate=True,
            max_chunk_bytes=64 * 2**20,
        )
    tr.fs.remove_file = real_remove
    assert tr._archives_overlap(
        d, [a for a in tr._scan_dir(d)[1]]
    )

    cks_before = {
        n for n in tr.fs.list_dir(d) if n.startswith("checkpoint_")
    }
    for i in range(40, 55):  # well past the interval: would normally cut
        _commit(tr, i)
    cks_after = {
        n for n in tr.fs.list_dir(d) if n.startswith("checkpoint_")
    }
    assert cks_after == cks_before  # no cut baked the inflated count

    # repair collapses the overlap; the very next interval cuts again
    # and the fast path answers without waiting out a poisoned cut
    out = tr.archive_commits(T, retain_checkpoints=1)
    assert out["consolidated_artifacts"] >= 1
    assert not tr._archives_overlap(d, [a for a in tr._scan_dir(d)[1]])
    for i in range(55, 66):
        _commit(tr, i)
    assert len({
        n for n in tr.fs.list_dir(d) if n.startswith("checkpoint_")
    }) > len(cks_before)
    assert tr.head_resolution(T) is not None
    assert tr.current_version(T) == _truth(str(tmp_path)).current_version(T)


# -- property fuzz of the repair's cover selection ----------------------------


def test_disjoint_cover_selection_properties():
    """Hypothesis fuzz of `_select_disjoint_cover`: for ANY crash/race
    overlap state whose artifacts are contiguous slices of the union and
    that contains at least one complete generation (always true — a
    crash never deletes a generation before its replacement is fully
    written), the kept set is (a) an EXACT cover of every archived seq
    and (b) DISJOINT.  Losing a seq here would lose a committed update;
    overlap here would poison sum-of-name-counts forever."""
    from hypothesis import given, settings, strategies as st

    from chronicles_spark.trackers.files import _select_disjoint_cover

    @settings(max_examples=300, deadline=None)
    @given(st.data())
    def run(data):
        n = data.draw(st.integers(min_value=3, max_value=40))
        seqs = sorted(data.draw(st.sets(
            st.integers(min_value=0, max_value=10_000),
            min_size=n, max_size=n,
        )))
        arts = {}
        n_gens = data.draw(st.integers(min_value=1, max_value=4))
        for g in range(n_gens):
            cuts = sorted(data.draw(st.sets(
                st.integers(min_value=1, max_value=n - 1), max_size=8
            ))) + [n]
            chunks, lo = [], 0
            for c in cuts:
                if c > lo:
                    chunks.append(tuple(seqs[lo:c]))
                    lo = c
            # generation 0 stays COMPLETE; later ones may be partial
            # (mid-write crash) — drop a suffix of their chunks
            if g > 0 and len(chunks) > 1 and data.draw(st.booleans()):
                chunks = chunks[: data.draw(
                    st.integers(min_value=1, max_value=len(chunks) - 1)
                )]
            for i, ch in enumerate(chunks):
                arts[f"g{g}c{i}"] = ch

        kept = _select_disjoint_cover(arts)
        assert kept and kept <= set(arts)
        union = sorted(set().union(*arts.values()))
        covered = sorted(set().union(*(arts[k] for k in kept)))
        assert covered == union  # exact cover: no committed seq lost
        spans = sorted((arts[k][0], arts[k][-1]) for k in kept)
        assert all(
            b[0] > a[1] for a, b in zip(spans, spans[1:])
        ), f"kept set overlaps: {spans}"

    run()


def test_disjoint_cover_degrades_on_non_slice_artifact():
    """An artifact that is NOT a contiguous slice of the union (foreign
    or corrupt) makes the repair decline — keep everything, never guess
    a removal."""
    from chronicles_spark.trackers.files import _select_disjoint_cover

    arts = {"a": (1, 2, 3), "b": (4, 6)}  # b skips 5... but 5 not in union
    # union = {1,2,3,4,6}: b IS a slice of the union -> normal selection
    assert _select_disjoint_cover(arts) == {"a", "b"}
    arts = {"a": (1, 2, 3, 4, 5), "b": (2, 4)}  # b skips 3 (in union)
    assert _select_disjoint_cover(arts) == {"a", "b"}  # declined: keep all


def test_disjoint_legacy_blobs_do_not_stall_checkpoints(tmp_path):
    """Round-13 review finding: two DISJOINT legacy round-12 blob names
    (no first- part) must NOT read as permanently overlapping — an
    upgraded table would otherwise never cut another checkpoint.  The
    overlap check resolves a legacy name's true first seq through the
    seq cache instead."""
    tr = _build(str(tmp_path), 30, interval=5)
    tr.archive_commits(T, retain_checkpoints=1)
    for i in range(30, 60):
        _commit(tr, i)
    tr.archive_commits(T, retain_checkpoints=1)
    d = tr._table_dir(T)
    # rewrite both chunk artifacts under legacy (bound-less) names
    import zlib

    for name in _archives(tr):
        body = tr.fs.read_text(tr.fs.join(d, name))
        parsed = json.loads(body)
        crc = zlib.crc32(body.encode()) & 0xFFFFFFFF
        lname = (
            f"archive_{parsed['last_seq']:013d}"
            f"_{parsed['n']:08d}_{crc:08x}.json"
        )
        tr.fs.write_text(tr.fs.join(d, lname), body)
        tr.fs.remove_file(tr.fs.join(d, name))
    legacy = _archives(tr)
    assert all(n.count("-") == 0 for n in legacy)

    from tests.test_commit_archive import _ARCHIVE_FILE_RE  # self-import ok

    fresh = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=5)
    archives = fresh._scan_dir(d)[1]
    assert not fresh._archives_overlap(d, archives)  # disjoint: no flag
    # checkpoints keep cutting on an upgraded table
    cks_before = {
        n for n in fresh.fs.list_dir(d) if n.startswith("checkpoint_")
    }
    for i in range(60, 72):
        _commit(fresh, i)
    cks_after = {
        n for n in fresh.fs.list_dir(d) if n.startswith("checkpoint_")
    }
    assert len(cks_after) > len(cks_before)
    assert fresh.current_version(T) == _truth(str(tmp_path)).current_version(T)


def test_archival_lease_serializes_apply_runs(tmp_path):
    """Round-13 review finding (archiver-vs-archiver history loss): an
    apply-mode archive_commits that finds another archiver's LIVE lease
    no-ops with skipped_lease=True and mutates nothing; a STALE lease
    (crashed archiver past the TTL) is broken and the run proceeds; the
    lease is released even when the run dies mid-flight."""
    tr = _build(str(tmp_path), 40, interval=5)
    d = tr._table_dir(T)
    lease = tr.fs.join(d, "_archive_lease")

    def lease_free():
        # released = absent, or token-CAS tombstoned to ts=0 (the
        # owner-scoped release on conditional-put stores, r14): either
        # way the next acquirer claims without waiting out a TTL
        try:
            return float(json.loads(tr.fs.read_text(lease))["ts"]) == 0.0
        except FileNotFoundError:
            return True

    # live competitor: no-op, nothing mutated
    tr.fs.write_text(lease, json.dumps({"ts": __import__("time").time()}))
    before_files = sorted(tr.fs.list_dir(d))
    out = tr.archive_commits(T, retain_checkpoints=1)
    assert out.get("skipped_lease") is True and out["archived"] == 0
    assert sorted(tr.fs.list_dir(d)) == before_files
    # dry-run is read-only: allowed through a held lease
    dry = tr.archive_commits(T, retain_checkpoints=1, dry_run=True)
    assert dry["archived"] > 0 and "skipped_lease" not in dry

    # stale competitor: broken, run proceeds, lease cleaned up
    tr.fs.write_text(lease, json.dumps({"ts": 12345.0}))
    out2 = tr.archive_commits(
        T, retain_checkpoints=1, lease_ttl_seconds=60.0
    )
    assert out2["archived"] > 0
    assert lease_free()

    # a crash mid-run still releases the in-process lease (try/finally)
    for i in range(40, 60):
        _commit(tr, i)
    real_remove = tr.fs.remove_file
    calls = {"n": 0}

    def dying(path):
        if "table_update_" in path and calls["n"] >= 1:
            raise OSError("injected")
        calls["n"] += 1
        return real_remove(path)

    tr.fs.remove_file = dying
    with pytest.raises(OSError, match="injected"):
        tr.archive_commits(T, retain_checkpoints=1)
    tr.fs.remove_file = real_remove
    assert lease_free()
    # and the next run repairs as usual
    out3 = tr.archive_commits(T, retain_checkpoints=1)
    assert out3["repaired"] > 0 or out3["archived"] >= 0
    assert tr.current_version(T) == _truth(str(tmp_path)).current_version(T)


def test_lease_release_is_owner_scoped(tmp_path):
    """An archiver that overruns its TTL and is staleness-broken by a
    competitor must NOT, on release, clear the competitor's LIVE lease —
    the old unconditional finally-block remove admitted a third
    concurrent artifact mutator, exactly the history-loss scenario the
    lease exists to prevent (r13 advice).  Ownership is the token
    stamped at acquire time."""
    tr_a = _build(str(tmp_path), 10, interval=5)
    tr_b = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=5)
    d = tr_a._table_dir(T)
    lease = tr_a.fs.join(d, "_archive_lease")

    assert tr_a._acquire_archival_lease(d, ttl_seconds=3600.0)
    # B sees A's lease as overrun (ttl=0 → instantly stale) and breaks it
    assert tr_b._acquire_archival_lease(d, ttl_seconds=0.0)
    b_doc = json.loads(tr_b.fs.read_text(lease))
    assert b_doc["owner"] == tr_b._lease_owner[d]

    # A's late release is a no-op on B's live claim...
    tr_a._release_archival_lease(d)
    assert json.loads(tr_a.fs.read_text(lease)) == b_doc
    # ...so a third archiver still sees a LIVE lease
    tr_c = FileBackedVersionTracker(str(tmp_path), checkpoint_interval=5)
    assert not tr_c._acquire_archival_lease(d, ttl_seconds=3600.0)

    # B's own release frees it: the next acquirer claims immediately
    tr_b._release_archival_lease(d)
    assert tr_c._acquire_archival_lease(d, ttl_seconds=3600.0)
    tr_c._release_archival_lease(d)


def test_lease_survives_valid_non_object_json_doc(tmp_path):
    """Review finding (r14): a lease file overwritten with VALID JSON
    that is not an object ('0', '[]') raised AttributeError out of the
    apply run's finally-block release, replacing a successful archival
    result with a crash.  Acquire must treat it as stale; release must
    clear it without raising."""
    tr = _build(str(tmp_path), 10, interval=5)
    d = tr._table_dir(T)
    lease = tr.fs.join(d, "_archive_lease")

    for doc in ("0", "[]", '"x"'):
        tr.fs.write_text(lease, doc)
        assert tr._acquire_archival_lease(d, ttl_seconds=3600.0)  # stale
        tr._release_archival_lease(d)  # no AttributeError
        # and an apply-mode archival over a corrupt lease completes
        tr.fs.write_text(lease, doc)
        out = tr.archive_commits(T, retain_checkpoints=1)
        assert "skipped_lease" not in out
        try:
            tr.fs.remove_file(lease)
        except FileNotFoundError:
            pass


def test_incremental_archival_reads_no_archive_bodies(tmp_path):
    """The steady-state incremental cron (disjoint format-3 artifacts on
    disk) must prove step-0 disjointness from NAME bounds alone: reading
    every artifact body per run is O(archived history) bytes in a fresh
    process, undercutting the documented O(new commits) incremental
    claim (r13 advice).  Bodies are read only on an actual overlap or a
    legacy blob name."""
    tr = _build(str(tmp_path), 60, interval=5)
    tr.archive_commits(T, retain_checkpoints=2, max_chunk_bytes=4096)
    for i in range(60, 120):
        _commit(tr, i)
    tr.archive_commits(T, retain_checkpoints=2, max_chunk_bytes=4096)
    assert len(_archives(tr)) >= 3  # several disjoint artifacts on disk
    for i in range(120, 150):
        _commit(tr, i)

    _clear_archive_caches()  # a FRESH cron process: no warm seq cache
    cfs = CountingFs(tr.fs)
    fresh = FileBackedVersionTracker(
        str(tmp_path), fs=cfs, checkpoint_interval=5
    )
    out = fresh.archive_commits(
        T, retain_checkpoints=2, max_chunk_bytes=4096
    )
    assert out["archived"] > 0
    arch_reads = [
        p for p in cfs.reads
        if _ARCHIVE_FILE_RE.match(p.rsplit("/", 1)[-1])
    ]
    assert arch_reads == [], arch_reads  # zero archived bytes re-read
    # and the archived log is still the full history
    assert fresh.update_count(T) == 151
    assert fresh.current_version(T) == _truth(str(tmp_path)).current_version(T)


def test_consolidation_crash_sweep_every_mutation_point(tmp_path):
    """Systematic crash sweep: inject a failure at the k-th MUTATING
    filesystem op (chunk write / any delete) of a consolidating run, for
    every k until a run completes uninjected.  After every crash point:
    reads equal the ground truth (nothing lost, nothing duplicated), the
    next run's repair converges to a disjoint cover, and a second repair
    is a no-op — the hand-picked crash tests, generalized."""
    k = 1
    while True:
        root = str(tmp_path / f"sweep{k}")
        tr = FileBackedVersionTracker(root, checkpoint_interval=10)
        tr.init_table(T, is_snapshot=False, user_id="u")
        for i in range(60):
            _commit(tr, i)
        tr.archive_commits(T, retain_checkpoints=1, max_chunk_bytes=4096)
        for i in range(60, 90):
            _commit(tr, i)
        tr.archive_commits(T, retain_checkpoints=1, max_chunk_bytes=4096)
        want_ids = [
            u.metadata.commit_id for u in tr.table_state(T).updates
        ]

        ops = {"n": 0}
        real_put = tr.fs.write_text_if_absent
        real_remove = tr.fs.remove_file

        def _tick():
            ops["n"] += 1
            if ops["n"] == k:
                raise OSError(f"injected at mutation {k}")

        def put(path, text):
            if path.rsplit("/", 1)[-1].startswith("archive_"):
                _tick()
            return real_put(path, text)

        def remove(path):
            bn = path.rsplit("/", 1)[-1]
            if bn != "_archive_lease":
                _tick()
            return real_remove(path)

        tr.fs.write_text_if_absent = put
        tr.fs.remove_file = remove
        crashed = True
        try:
            tr.archive_commits(
                T, retain_checkpoints=1, consolidate=True,
                max_chunk_bytes=8192,
            )
            crashed = False
        except OSError:
            pass
        finally:
            tr.fs.write_text_if_absent = real_put
            tr.fs.remove_file = real_remove

        # reads correct at EVERY crash point, on a cold tracker
        _clear_archive_caches()
        fresh = FileBackedVersionTracker(root, checkpoint_interval=10)
        got = [u.metadata.commit_id for u in fresh.table_state(T).updates]
        assert got == want_ids, f"crash point {k} corrupted reads"
        assert fresh.update_count(T) == len(want_ids)
        assert [m.commit_id for m in fresh.updates(T)] == want_ids[::-1]

        # repair converges: disjoint cover, idempotent second pass
        fresh.archive_commits(T, retain_checkpoints=1)
        spans = []
        for n in _archives(fresh):
            m = _ARCHIVE_FILE_RE.match(n)
            spans.append((int(m.group("first")), int(m.group("last"))))
        spans.sort()
        assert all(
            b[0] > a[1] for a, b in zip(spans, spans[1:])
        ), f"crash point {k}: overlapping artifacts after repair"
        again = fresh.archive_commits(T, retain_checkpoints=1)
        assert again["consolidated_artifacts"] == 0
        assert [
            u.metadata.commit_id for u in fresh.table_state(T).updates
        ] == want_ids

        d = fresh._table_dir(T)
        assert all(
            c > fresh._read_floor_seq(d) for c in fresh._scan_cuts(d)[3]
        ), f"crash point {k}: a commit index at or below the floor"

        if not crashed:
            break  # k exceeded the run's mutation count: sweep complete
        k += 1
    assert k >= 8, f"sweep covered only {k} mutation points"

    # the same sweep over an incremental run that cuts above the floor,
    # so its deletes include commit indexes: reads through the header
    # walk stay exact at every crash point and after the repair run
    k = 1
    while True:
        root = str(tmp_path / f"index{k}")
        tr = FileBackedVersionTracker(root, checkpoint_interval=10)
        tr.init_table(T, is_snapshot=False, user_id="u")
        for i in range(60):
            _commit(tr, i)
        want = tr.table_state(T).updates
        want_ids = [u.metadata.commit_id for u in want]
        ops, removed = {"n": 0}, []
        real_put = tr.fs.write_text_if_absent
        real_remove = tr.fs.remove_file

        def _tick():
            ops["n"] += 1
            if ops["n"] == k:
                raise OSError(f"injected at mutation {k}")

        def put(path, text):
            if path.rsplit("/", 1)[-1].startswith("archive_"):
                _tick()
            return real_put(path, text)

        def remove(path):
            bn = path.rsplit("/", 1)[-1]
            if bn != "_archive_lease":
                _tick()
                removed.append(bn)
            return real_remove(path)

        tr.fs.write_text_if_absent = put
        tr.fs.remove_file = remove
        crashed = True
        try:
            tr.archive_commits(T, retain_checkpoints=1, max_chunk_bytes=4096)
            crashed = False
        except OSError:
            pass
        finally:
            tr.fs.write_text_if_absent = real_put
            tr.fs.remove_file = real_remove

        for repaired in (False, True):
            _clear_archive_caches()
            fresh = FileBackedVersionTracker(root, checkpoint_interval=10)
            if repaired:
                fresh.archive_commits(T, retain_checkpoints=1)
            assert [m.commit_id for m in fresh.updates(T)] == want_ids[::-1]
            truth = _truth(root)
            for u in want[::7] + want[-3:]:
                cid = u.metadata.commit_id
                assert fresh.version_at(T, cid) == truth.version_at(T, cid)
                assert fresh.commit_at_timestamp(
                    T, u.metadata.timestamp
                ) == truth.commit_at_timestamp(T, u.metadata.timestamp)

        if not crashed:
            # the uninjected run deleted commit indexes among its mutations
            assert any(n.startswith("commits_") for n in removed), removed
            break
        k += 1
    assert k >= 8, f"index sweep covered only {k} mutation points"


def test_archive_prunes_commit_indexes_and_dry_run_reports_alike(tmp_path):
    """archive_commits deletes the commit indexes at or below its cut
    (their segments are archived) with the checkpoints below it, keeps
    the ones above, and a dry run reports the counts the apply run
    then has."""
    tr = _build(str(tmp_path), 75, interval=10)
    d = tr._table_dir(T)
    live, _, cks, sides = tr._scan_cuts(d)
    assert sides == cks and len(sides) == 7
    dry = tr.archive_commits(T, retain_checkpoints=2, dry_run=True)
    assert tr._scan_cuts(d)[3] == sides  # a dry run deletes nothing
    out = tr.archive_commits(T, retain_checkpoints=2)
    cut = out["through_seq"]
    for key in ("through_seq", "archived", "pruned_checkpoints", "pruned_sidecars"):
        assert dry[key] == out[key], key
    assert out["pruned_sidecars"] == sum(1 for s in sides if s <= cut) > 0
    assert out["pruned_checkpoints"] == sum(1 for s in cks if s < cut)
    _, _, cks_after, sides_after = tr._scan_cuts(d)
    assert sides_after == [s for s in sides if s > cut]
    assert cks_after == [s for s in cks if s >= cut]
    # nothing new to archive: nothing more to prune either
    again = tr.archive_commits(T, retain_checkpoints=2)
    assert again["pruned_sidecars"] == again["pruned_checkpoints"] == 0
