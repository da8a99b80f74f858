"""The fold-onto-state kernel (``core.fold.fold_onto`` + ``state_version``)
behind every checkpointed resolution.

* differential: the files tracker, the sqlite tracker and the CDC
  source's incremental fold all answer through the kernel, and each
  must equal the reference ``fold.current_version`` at every commit of
  a seeded log (snapshot + partitioned tables, removals, a rollback,
  sparse pair markers, a checkpoint whose ``pair_label`` is absent);
* format: a checkpoint cut writes ``checkpoint_*`` / ``commits_*`` /
  ``_last_checkpoint`` bytes identical to golden files recorded from
  the fold the kernel replaced (``tests/golden/checkpoint_cut.json``);
* cost: ``head_resolution`` answers a head rolled back below the
  pointer's checkpoint from the newest checkpoint at or below it.
"""

import itertools
import json
import random
import types
import uuid
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone
from pathlib import Path
from unittest import mock

from chronicles_spark.core import fold
from chronicles_spark.core import ops as ops_mod
from chronicles_spark.core.markers import pair_label, pair_message
from chronicles_spark.core.model import Partition, TableName
from chronicles_spark.core.ops import (
    AddPartitionVersion,
    AddTableVersion,
    RemovePartition,
    TableUpdate,
    TableUpdateMetadata,
)
from chronicles_spark.core.version import Version, make_label
from chronicles_spark.trackers import FileBackedVersionTracker
from chronicles_spark.trackers.sqlite import SqliteVersionTracker
from tests.test_checkpoint import CountingFs

GOLDEN = Path(__file__).parent / "golden" / "checkpoint_cut.json"
BASE = datetime(2024, 6, 1, tzinfo=timezone.utc)
P = TableName("db", "golden_p")
S = TableName("db", "golden_s")


def _label(k: int) -> str:
    return make_label(BASE + timedelta(seconds=k), k, uuid.UUID(int=k))


@contextmanager
def _deterministic(tr):
    """Commit ids, commit-file seqs and timestamps that repeat run to run:
    ``uuid4`` (commit ids) counts up and the tracker's clock steps 10 ms."""
    ids = itertools.count(1)
    seqs = itertools.count(1_717_200_000_000, 10)
    fake = types.SimpleNamespace(uuid4=lambda: uuid.UUID(int=next(ids)))
    with mock.patch.object(ops_mod, "_uuid", fake), mock.patch.object(
        tr._clock, "next_timestamp_ms", lambda: next(seqs)
    ):
        yield


def _golden_log(root: str) -> dict:
    """Build the golden log under ``root`` and return ``{table/file: text}``
    for every checkpoint, commit index and checkpoint pointer in it."""
    tr = FileBackedVersionTracker(root, checkpoint_interval=4)
    k = itertools.count(1)

    def commit(table, *ops, marked=False):
        n = next(k)
        msg = f"c{n}"
        if marked:
            msg = pair_message(msg, _label(n))
        meta = TableUpdateMetadata.new("u", msg, BASE + timedelta(seconds=n))
        tr.commit(table, TableUpdate(meta, tuple(ops)))
        return meta.commit_id

    def add(p):
        return AddPartitionVersion(Partition.parse(p), Version(_label(next(k))))

    def drop_marker_field(table):
        d = tr._table_dir(table)
        seq = json.loads(tr.fs.read_text(tr.fs.join(d, "_last_checkpoint")))["seq"]
        path = tr.fs.join(d, f"checkpoint_{seq:013d}.json")
        body = json.loads(tr.fs.read_text(path))
        del body["pair_label"]
        tr.fs.write_text(path, json.dumps(body))

    with _deterministic(tr):
        tr.init_table(P, is_snapshot=False, user_id="u", timestamp=BASE)
        tr.init_table(S, is_snapshot=True, user_id="u", timestamp=BASE)
        # partitioned: removals, a re-add, sparse markers, a rollback whose
        # rolled-back commits a later write re-surfaces
        first = commit(P, add("d=a"), add("d=b"), marked=True)
        commit(P, add("d=c"))
        commit(P, RemovePartition(Partition.parse("d=a")))
        commit(P, add("d=a"), add("d=c"))
        commit(P, add("d=e"), marked=True)
        tr.set_current_version(P, first)
        for _ in range(4):
            commit(P, add("d=b"))
        # a cut over a checkpoint without the marker field: the field stays
        # absent while the tail holds no marker, then a marker restores it
        drop_marker_field(P)
        for i in range(4):
            commit(P, add(f"d=f{i}"), RemovePartition(Partition.parse("d=b")))
        for i in range(5):
            commit(P, add(f"d=g{i}"), marked=(i == 3))
        for i in range(4):
            commit(P, add("d=a"))
        # snapshot: the last table version wins, markers on some commits
        for i in range(11):
            commit(S, AddTableVersion(Version(_label(next(k)))), marked=(i % 4 == 3))
    out = {}
    for table in (P, S):
        d = tr._table_dir(table)
        for n in sorted(tr.fs.list_dir(d)):
            if n.startswith(("checkpoint_", "commits_", "_last_checkpoint")):
                out[f"{table.name}/{n}"] = tr.fs.read_text(tr.fs.join(d, n))
    return out


def test_checkpoint_cut_bytes_match_golden(tmp_path):
    got = _golden_log(str(tmp_path / "log"))
    want = json.loads(GOLDEN.read_text())
    assert sorted(got) == sorted(want)
    for name in want:
        assert got[name] == want[name], name
    # the golden log covers the marker field's three states
    bodies = [json.loads(t) for n, t in want.items() if "/checkpoint_" in n]
    states = {("pair_label" in b, b.get("pair_label") is None) for b in bodies}
    assert states == {(True, True), (True, False), (False, True)}


# -- differential: files, sqlite and the CDC source against the reference ---


def _seeded_updates(seed: int, n: int):
    """``(table, update)`` pairs for a partitioned and a snapshot table,
    interleaved: removals, re-adds, commits without operations (a
    marker-only publish), sparse pair markers."""
    rng = random.Random(seed)
    base = datetime(2024, 7, 1, tzinfo=timezone.utc)
    out = []
    for i in range(n):
        ts = base + timedelta(seconds=i)
        msg = f"c{i}"
        label = make_label(ts, i, uuid.UUID(int=rng.getrandbits(128)))
        if rng.random() < 0.15:
            msg = pair_message(msg, label)
        if rng.random() < 0.3:
            table, ops = S, (AddTableVersion(Version(label)),)
            if rng.random() < 0.3:
                ops = ()
        else:
            table, ops = P, tuple(
                RemovePartition(Partition.parse(f"d={rng.randrange(8)}"))
                if rng.random() < 0.2
                else AddPartitionVersion(
                    Partition.parse(f"d={rng.randrange(8)}"), Version(f"{label}{j}")
                )
                for j in range(rng.randint(1, 3))
            )
        out.append((table, TableUpdate(TableUpdateMetadata.new("u", msg, ts), ops)))
    return out


def _full_walk_triple(updates, head):
    prefix = fold.take_through(updates, head)
    marker = next(
        (
            pl
            for u in reversed(prefix)
            if (pl := pair_label(u.metadata.message)) is not None
        ),
        None,
    )
    return fold.current_version(updates, head), head, marker


def test_kernel_differential_every_commit(tmp_path):
    """At every commit of a seeded log the files tracker (version_at,
    rollback + current_version, head_resolution), the sqlite tracker
    (version_at) and the CDC source's incremental batch fold equal the
    reference ``fold.current_version``.  The log holds a snapshot and a
    partitioned table, removals, a rollback whose rolled-back commits a
    later write re-surfaces, sparse pair markers, and checkpoints
    without the ``pair_label`` field."""
    from chronicles_spark.sources.datasource import ChroniclesStreamReader

    root = str(tmp_path / "log")
    files = FileBackedVersionTracker(root, checkpoint_interval=5)
    truth = FileBackedVersionTracker(root, checkpoint_interval=None)
    sql = SqliteVersionTracker(checkpoint_interval=5)
    for tr in (files, sql):
        tr.init_table(P, is_snapshot=False, user_id="u", timestamp=BASE)
        tr.init_table(S, is_snapshot=True, user_id="u", timestamp=BASE)
    for i, (table, u) in enumerate(_seeded_updates(3, 140)):
        for tr in (files, sql):
            tr.commit(table, u)
        if i == 60:  # roll back; later writes re-surface the skipped commits
            back = truth.table_state(P).updates[9].metadata.commit_id
            for tr in (files, sql):
                tr.set_current_version(P, back)
        if i == 80:  # the newest checkpoint loses its marker field
            d = files._table_dir(P)
            seq = json.loads(files.fs.read_text(files.fs.join(d, "_last_checkpoint")))["seq"]
            path = files.fs.join(d, f"checkpoint_{seq:013d}.json")
            body = json.loads(files.fs.read_text(path))
            del body["pair_label"]
            files.fs.write_text(path, json.dumps(body))

    answered = unknown = 0
    for table in (P, S):
        updates = truth.table_state(table).updates
        # the same log but for its init commit, whose id each tracker draws
        sql_ids = [u.metadata.commit_id for u in sql.table_state(table).updates]
        assert sql_ids[1:] == [u.metadata.commit_id for u in updates[1:]]
        reader = ChroniclesStreamReader(
            {"root": root, "table": table.fully_qualified, "location": str(tmp_path / "t")},
            None,
        )
        seqs = files.update_seqs(table)
        prev = {"commits": 0, "last_seq": -1}
        for k, u in enumerate(updates):
            cid = u.metadata.commit_id
            want = fold.current_version(updates, cid)
            assert files.version_at(table, cid) == want, (table, k)
            assert sql.version_at(table, sql_ids[k]) == want, (table, k)
            files.set_current_version(table, cid)
            assert files.current_version(table) == want, (table, k)
            got = files.head_resolution(table)
            if got is None:
                unknown += 1
            else:
                answered += 1
                assert got == _full_walk_triple(updates, cid), (table, k)
            end = {"commits": k + 1, "last_seq": seqs[k]}
            reader.partitions(prev, end)
            prev = end
            state = reader._fold_cache[1]
            assert fold.state_version(table == S, *state) == want, (table, k)
    # both the marker-carrying and the field-less checkpoints were met
    assert answered > 100 and unknown > 0


# -- cost: head_resolution below the pointer's checkpoint ------------------


def test_head_resolution_below_pointer_checkpoint_reads_o_interval(tmp_path):
    """A head rolled back below the pointer's checkpoint resolves from the
    newest checkpoint at or below it: at most ``checkpoint_interval`` + 5
    commit files, and the triple of the full walk."""
    from tests.test_pinned_state_fast import T, _build, _commit_file_reads, _truth

    interval = 50
    tr = _build(str(tmp_path), 230, interval=interval, mark_every=7)
    d = tr._table_dir(T)
    cks = sorted(
        int(n[len("checkpoint_"):-len(".json")])
        for n in tr.fs.list_dir(d)
        if n.startswith("checkpoint_")
    )
    assert len(cks) >= 3
    seqs = tr.update_seqs(T)
    ids = [u.metadata.commit_id for u in tr.table_state(T).updates]
    # a few commits past the second-newest cut, below the pointer's
    k = seqs.index(cks[-2]) + 5
    assert seqs[k] < cks[-1]
    tr.set_current_version(T, ids[k])
    cfs = CountingFs(tr.fs)
    counted = FileBackedVersionTracker(str(tmp_path), fs=cfs, checkpoint_interval=interval)
    got = counted.head_resolution(T)
    reads = _commit_file_reads(cfs)
    assert len(reads) <= interval + 5, len(reads)
    assert got == _truth(
        lambda: FileBackedVersionTracker(str(tmp_path), checkpoint_interval=None)
    )
    assert got[1] == ids[k]
