"""Cross-table group commits (tracker.commit_group +
versioned_insert_group) — the multi-table transaction surface, run
against every tracker backend per the shared behaviour-suite pattern.
"""

import pytest

from chronicles_spark.core.model import (
    Partition,
    PartitionSchema,
    TableDefinition,
    TableName,
)
from chronicles_spark.core.ops import (
    AddPartitionVersion,
    TableUpdate,
    TableUpdateMetadata,
)
from chronicles_spark.core.version import generate_version
from chronicles_spark.trackers import (
    FileBackedVersionTracker,
    InMemoryVersionTracker,
    SqliteVersionTracker,
    UnknownTableError,
)

TA = TableName("db", "docs")
TB = TableName("db", "embs")
P1 = Partition.of(("d", "1"))


@pytest.fixture(params=["memory", "files", "files-cas", "sqlite"])
def tracker(request, tmp_path):
    if request.param == "memory":
        return InMemoryVersionTracker()
    if request.param == "files":
        return FileBackedVersionTracker(str(tmp_path / "log"))
    if request.param == "files-cas":
        # cross-table group commits over the conditional-put protocol
        return FileBackedVersionTracker(str(tmp_path / "log"), use_cas=True)
    return SqliteVersionTracker(str(tmp_path / "log.db"))


def _group(msg="group"):
    v1, v2 = generate_version(), generate_version()
    return {
        TA: TableUpdate(
            TableUpdateMetadata.new("u", msg), (AddPartitionVersion(P1, v1),)
        ),
        TB: TableUpdate(
            TableUpdateMetadata.new("u", msg), (AddPartitionVersion(P1, v2),)
        ),
    }, v1, v2


def test_commit_group_lands_on_all_tables(tracker):
    tracker.init_table(TA, is_snapshot=False, user_id="u")
    tracker.init_table(TB, is_snapshot=False, user_id="u")
    group, v1, v2 = _group()
    tracker.commit_group(group)
    assert tracker.current_version(TA).partition_versions == {P1: v1}
    assert tracker.current_version(TB).partition_versions == {P1: v2}
    # head pointers advanced to the group's commits
    assert (
        tracker.table_state(TA).current_version
        == group[TA].metadata.commit_id
    )


def test_commit_group_unknown_table_fails_whole_group(tracker):
    tracker.init_table(TA, is_snapshot=False, user_id="u")
    group, _v1, _v2 = _group()  # TB never initialised
    before = len(tracker.updates(TA))
    with pytest.raises(UnknownTableError):
        tracker.commit_group(group)
    # nothing landed anywhere — validation precedes any append
    assert len(tracker.updates(TA)) == before


def test_sqlite_group_is_atomic_on_midway_failure(tmp_path):
    """sqlite: a failure inside the group txn rolls back EVERY table's
    append — readers can never observe half a group."""
    tracker = SqliteVersionTracker(str(tmp_path / "log.db"))
    tracker.init_table(TA, is_snapshot=False, user_id="u")
    tracker.init_table(TB, is_snapshot=False, user_id="u")
    good, _v1, _v2 = _group()
    # second table's update reuses the FIRST's commit id → UNIQUE violation
    # fires after TA's rows are already inserted in the txn
    bad = {
        TA: good[TA],
        TB: TableUpdate(good[TA].metadata, good[TB].operations),
    }
    import sqlite3

    before_a = len(tracker.updates(TA))
    with pytest.raises(sqlite3.IntegrityError):
        tracker.commit_group(bad)
    assert len(tracker.updates(TA)) == before_a  # TA's insert rolled back
    assert tracker.current_version(TA).partition_versions == {}


def test_versioned_insert_group_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from chronicles_spark.spark import read_current, versioned_insert_group

    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    docs = TableDefinition(
        TableName("db", "docs"), str(tmp_path / "docs"), PartitionSchema(("d",))
    )
    embs = TableDefinition(
        TableName("db", "embs"), str(tmp_path / "embs"), PartitionSchema(())
    )
    tracker.init_table(docs.name, is_snapshot=False, user_id="u")
    tracker.init_table(embs.name, is_snapshot=True, user_id="u")
    ddf = spark.range(4).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("d")
    )
    edf = spark.range(4).select(F.col("id"), (F.col("id") * 2).alias("v"))

    states = versioned_insert_group(
        [(ddf, docs), (edf, embs)], tracker, "u", "batch 7"
    )
    assert set(states) == {docs.name, embs.name}
    assert read_current(spark, docs, tracker).count() == 4
    assert read_current(spark, embs, tracker).count() == 4
    # both tables carry the SAME commit message = one logical batch,
    # stamped with ONE shared group marker (round 14: what makes
    # read_group_states able to resolve a consistent snapshot)
    from chronicles_spark.core.markers import pair_label

    ma = tracker.updates(docs.name)[0].message
    mb = tracker.updates(embs.name)[0].message
    assert ma == mb and ma.startswith("batch 7")
    assert pair_label(ma) is not None and pair_label(ma) == pair_label(mb)

    # unknown table fails the whole group before any bytes are written
    ghost = TableDefinition(
        TableName("db", "ghost"), str(tmp_path / "ghost"), PartitionSchema(("d",))
    )
    with pytest.raises(UnknownTableError):
        versioned_insert_group([(ddf, docs), (ddf, ghost)], tracker, "u", "x")
    import os

    assert not os.path.exists(ghost.location)


def test_versioned_insert_group_failed_save_commits_nothing(
    spark, tmp_path, monkeypatch
):
    """The members' saves overlap: when one fails, every other save has
    returned before the error propagates, and no member commits."""
    import time

    from chronicles_spark.spark import writer as W
    from chronicles_spark.trackers.base import head_of

    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    fail, slow = (
        TableDefinition(TableName("db", n), str(tmp_path / n),
                        PartitionSchema(("d",)))
        for n in ("fail", "slow")
    )
    for t in (fail, slow):
        tracker.init_table(t.name, is_snapshot=False, user_id="u")
    saved = []

    def write(df, table, version):
        if table is fail:
            raise RuntimeError("save failed")
        time.sleep(0.3)
        saved.append(table.name)

    monkeypatch.setattr(W, "write_versioned", write)
    monkeypatch.setattr(W, "partitions_written", lambda *a, **kw: [P1])
    heads = [head_of(tracker, t.name) for t in (fail, slow)]
    df = spark.range(2)
    with pytest.raises(RuntimeError, match="save failed"):
        W.versioned_insert_group([(df, fail), (df, slow)], tracker, "u", "g")
    assert saved == [slow.name]
    assert [head_of(tracker, t.name) for t in (fail, slow)] == heads


def test_inmemory_group_commit_is_atomic_under_threads():
    """Concurrent readers never observe one table of a group advanced
    without the other; concurrent groups never interleave (the per-table
    serialization is held across the whole loop, round-4 review finding)."""
    import threading

    tracker = InMemoryVersionTracker()
    tracker.init_table(TA, is_snapshot=False, user_id="u")
    tracker.init_table(TB, is_snapshot=False, user_id="u")

    N = 50
    torn = []
    stop = threading.Event()

    def writer():
        for i in range(N):
            group, _v1, _v2 = _group(msg=f"g{i}")
            tracker.commit_group(group)
        stop.set()

    def _idx(m):
        return int(m[1:]) if m.startswith("g") else -1

    def reader():
        while not stop.is_set():
            # TA ("db.docs") appends FIRST in sorted group order, so a torn
            # group is observable only as TA ahead of TB.  The two reads
            # are separate lock acquisitions, so TB may legitimately be
            # AHEAD of TA (a full group landed between the reads) — only
            # the torn direction is a failure.
            ma = tracker.updates(TA)[0].message
            mb = tracker.updates(TB)[0].message
            if _idx(ma) > _idx(mb):
                torn.append((ma, mb))

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=reader) for _ in range(3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert torn == [], f"observed torn groups: {torn[:3]}"


def test_group_write_syncs_metastore(spark, tmp_path):
    """versioned_insert_group's metastore path: after the group publish,
    each table's catalog pointers match the new live state."""
    from pyspark.sql import functions as F

    from chronicles_spark.spark import versioned_insert_group
    from chronicles_spark.spark.metastore import InMemoryMetastore

    tracker = InMemoryVersionTracker()
    ms = InMemoryMetastore()
    docs = TableDefinition(
        TableName("db", "docs"), str(tmp_path / "docs"), PartitionSchema(("d",))
    )
    embs = TableDefinition(
        TableName("db", "embs"), str(tmp_path / "embs"), PartitionSchema(())
    )
    for t in (docs, embs):
        tracker.init_table(t.name, is_snapshot=t.is_snapshot, user_id="u")
        ms.create_table(t)
    ddf = spark.range(4).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("d")
    )
    edf = spark.range(3).select(F.col("id"))

    states = versioned_insert_group(
        [(ddf, docs), (edf, embs)], tracker, "u", "sync", metastore=ms
    )
    assert ms.current_version(docs) == states[docs.name]
    assert ms.current_version(embs) == states[embs.name]


def test_versioned_insert_group_optimistic(spark, tmp_path):
    """Round 7: the group WRITE surface exposes expected_heads — a
    conflict on one table lands neither table's commit, and a disjoint
    interim commit auto-merges."""
    import pytest
    from pyspark.sql import functions as F

    from chronicles_spark.core.model import (
        Partition, PartitionSchema, TableDefinition, TableName,
    )
    from chronicles_spark.core.ops import (
        AddPartitionVersion, TableUpdate, TableUpdateMetadata,
    )
    from chronicles_spark.core.version import generate_version
    from chronicles_spark.spark.writer import versioned_insert_group
    from chronicles_spark.trackers import FileBackedVersionTracker
    from chronicles_spark.trackers.base import CommitConflictError

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    ta = TableDefinition(
        TableName("g", "a"), str(tmp_path / "a"), PartitionSchema(("p",))
    )
    tb = TableDefinition(
        TableName("g", "b"), str(tmp_path / "b"), PartitionSchema(("p",))
    )
    for t in (ta, tb):
        tracker.init_table(t.name, is_snapshot=False, user_id="t")
    df = spark.createDataFrame([(1, "x")], "v long, p string")
    heads = {
        t.name: tracker.table_state(t.name).current_version for t in (ta, tb)
    }
    # interim commit on b touching partition p=x → overlap → conflict
    tracker.commit(
        tb.name,
        TableUpdate(
            TableUpdateMetadata.new("r", "racer"),
            (AddPartitionVersion(Partition.of(("p", "x")), generate_version()),),
        ),
    )
    head_a_before = tracker.table_state(ta.name).current_version
    with pytest.raises(CommitConflictError):
        versioned_insert_group(
            [(df, ta), (df, tb)], tracker, "t", "grp", expected_heads=heads
        )
    assert tracker.table_state(ta.name).current_version == head_a_before

    # disjoint interim (p=y vs our p=x write on a only?) — write p=z on
    # both; the racer touched p=x on b → disjoint → merges
    df2 = spark.createDataFrame([(1, "z")], "v long, p string")
    out = versioned_insert_group(
        [(df2, ta), (df2, tb)], tracker, "t", "grp2", expected_heads=heads
    )
    assert set(out) == {ta.name, tb.name}


# -- round 14: group-consistent cross-table READS ----------------------------


def _marked_group(tables, i, label=None):
    """A group update dict stamped with ONE shared marker label — what
    versioned_insert_group / publish_group land (metadata-only here)."""
    from chronicles_spark.core.markers import pair_message

    label = label or generate_version().label
    msg = pair_message(f"gen {i}", label)
    return {
        t: TableUpdate(
            TableUpdateMetadata.new("w", msg),
            (AddPartitionVersion(
                Partition.of(("p", str(i % 4))), generate_version()
            ),),
        )
        for t in tables
    }, label


def test_read_group_states_on_every_backend(tracker):
    """The group-consistent resolve is backend-generic: after marked
    group publications on ANY tracker (sqlite's all-or-nothing txn makes
    it trivially consistent; files needs the marker protocol), every
    member resolves to the newest shared generation."""
    from chronicles_spark.operators.pairing import read_group_states

    for t in (TA, TB):
        tracker.init_table(t, is_snapshot=False, user_id="u")
    for i in range(3):
        g, lbl = _marked_group((TA, TB), i)
        tracker.commit_group(g)
    out = read_group_states(tracker, [TA, TB])
    assert {l for _, _, l in out.values()} == {lbl}
    assert out[TA][0] == tracker.current_version(TA)
    assert out[TB][0] == tracker.current_version(TB)


def test_read_group_states_consistent_and_backward_pin(tmp_path):
    """read_group_states resolves every member to ONE group generation:
    the agree fast path (unmarked individual commits ride along), the
    pin-backward path past a crashed mid-group writer (newest generation
    EVERY member has), convergence once the group completes, and the
    loud mixed-marker refusal."""
    from chronicles_spark.core import fold
    from chronicles_spark.operators.pairing import (
        TornGroupError,
        read_group_states,
    )

    tr = FileBackedVersionTracker(str(tmp_path / "log"), checkpoint_interval=3)
    for t in (TA, TB):
        tr.init_table(t, is_snapshot=False, user_id="u")

    g1, l1 = _marked_group((TA, TB), 1)
    tr.commit_group(g1)
    out = read_group_states(tr, [TA, TB])
    assert {lbl for _, _, lbl in out.values()} == {l1}
    assert out[TA][0] == tr.current_version(TA)

    # an unmarked individual commit on A is per-table state: still one
    # generation, and A's snapshot INCLUDES it
    solo_v = generate_version()
    tr.commit(
        TA,
        TableUpdate(
            TableUpdateMetadata.new("u", "solo"),
            (AddPartitionVersion(Partition.of(("p", "solo")), solo_v),),
        ),
    )
    out = read_group_states(tr, [TA, TB])
    assert {lbl for _, _, lbl in out.values()} == {l1}
    assert out[TA][0].partition_versions[Partition.of(("p", "solo"))] == solo_v

    # crashed mid-group: generation 2 landed only on A → pin BACKWARD at
    # g1 (the newest generation both members have); A resolves AT its g1
    # commit (retries kept small: the in-flight window cannot close here)
    g2, l2 = _marked_group((TA, TB), 2)
    tr.commit(TA, g2[TA])
    out = read_group_states(tr, [TA, TB], retries=2)
    assert {lbl for _, _, lbl in out.values()} == {l1}
    g1_cid = g1[TA].metadata.commit_id
    st = tr.table_state(TA)
    assert out[TA][1] == g1_cid
    assert out[TA][0] == fold.current_version(st.updates, g1_cid)
    assert out[TB][0] == tr.current_version(TB)

    # the group completes on B → converges forward to generation 2
    tr.commit(TB, g2[TB])
    out = read_group_states(tr, [TA, TB])
    assert {lbl for _, _, lbl in out.values()} == {l2}
    assert out[TA][0] == tr.current_version(TA)

    # a member that was never group-published cannot be reconciled
    tc = TableName("db", "lonely")
    tr.init_table(tc, is_snapshot=False, user_id="u")
    tr.commit(
        tc,
        TableUpdate(
            TableUpdateMetadata.new("u", "unmarked"),
            (AddPartitionVersion(Partition.of(("p", "0")), generate_version()),),
        ),
    )
    with pytest.raises(TornGroupError, match="no group marker"):
        read_group_states(tr, [TA, tc], retries=2)


def test_spark_read_group_returns_one_generation(spark, tmp_path):
    """The Spark surface: read_group hands back DataFrames resolved at
    one shared group generation (and versioned_insert_group's stamped
    marker is what it keys on)."""
    from pyspark.sql import functions as F

    from chronicles_spark.spark import read_group, versioned_insert_group

    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    docs = TableDefinition(
        TableName("db", "docs"), str(tmp_path / "docs"), PartitionSchema(("d",))
    )
    embs = TableDefinition(
        TableName("db", "embs"), str(tmp_path / "embs"), PartitionSchema(("d",))
    )
    for t in (docs, embs):
        tracker.init_table(t.name, is_snapshot=False, user_id="u")
    ddf = spark.range(4).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("d")
    )
    versioned_insert_group([(ddf, docs), (ddf, embs)], tracker, "u", "b1")
    out = read_group(spark, [docs, embs], tracker)
    assert set(out) == {docs.name, embs.name}
    assert out[docs.name].count() == 4 and out[embs.name].count() == 4

    # generation 2 torn after the first member (simulated crash):
    # read_group still serves generation 1 for BOTH
    from chronicles_spark.core.markers import pair_message
    from chronicles_spark.spark.writer import write_versioned

    v = generate_version()
    ddf2 = spark.range(8).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("d")
    )
    write_versioned(ddf2, docs, v)
    tracker.commit(
        docs.name,
        TableUpdate(
            TableUpdateMetadata.new("u", pair_message("b2", generate_version().label)),
            tuple(
                AddPartitionVersion(Partition.of(("d", str(i))), v)
                for i in (0, 1)
            ),
        ),
    )
    from chronicles_spark.operators.pairing import read_group_states

    states = read_group_states(tracker, [docs.name, embs.name], retries=2)
    out2 = read_group(spark, [docs, embs], tracker)
    assert out2[docs.name].count() == 4  # NOT the torn generation's 8
    assert out2[embs.name].count() == 4
    assert len({lbl for _, _, lbl in states.values()}) == 1


_GROUP_RACE_WRITER = """
import sys
from chronicles_spark.core.markers import pair_message
from chronicles_spark.core.model import Partition, TableName
from chronicles_spark.core.ops import (
    AddPartitionVersion, TableUpdate, TableUpdateMetadata,
)
from chronicles_spark.core.version import generate_version
from chronicles_spark.trackers import FileBackedVersionTracker

root, n = sys.argv[1], int(sys.argv[2])
tr = FileBackedVersionTracker(root, checkpoint_interval=3)
a, b = TableName("db", "gdocs"), TableName("db", "gembs")
for i in range(1, n + 1):
    label = generate_version().label
    msg = pair_message(f"gen {i}", label)
    tr.commit_group({
        t: TableUpdate(
            TableUpdateMetadata.new("w", msg),
            (AddPartitionVersion(
                Partition.of(("p", str(i % 4))), generate_version()
            ),),
        )
        for t in (a, b)
    })
print(f"DONE {n}", flush=True)
"""


def test_read_group_never_observes_torn_pair_across_processes(tmp_path):
    """Round-14 directive #4's race: a reader polling read_group_states
    while a REAL OS process publishes group generations never observes
    a torn pair — every poll resolves both members to ONE generation,
    and the observed generation sequence is non-decreasing."""
    import os
    import subprocess
    import sys
    import time

    from chronicles_spark.core.markers import pair_label, pair_message
    from chronicles_spark.operators.pairing import read_group_states

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = str(tmp_path / "_log")
    tr = FileBackedVersionTracker(root, checkpoint_interval=3)
    a, b = TableName("db", "gdocs"), TableName("db", "gembs")
    for t in (a, b):
        tr.init_table(t, is_snapshot=False, user_id="u")
    # generation 0 so every poll has at least one complete group
    g0 = pair_message("gen 0", generate_version().label)
    tr.commit_group({
        t: TableUpdate(
            TableUpdateMetadata.new("u", g0),
            (AddPartitionVersion(Partition.of(("p", "0")), generate_version()),),
        )
        for t in (a, b)
    })

    n_gens = 25
    proc = subprocess.Popen(
        [sys.executable, "-c", _GROUP_RACE_WRITER, root, str(n_gens)],
        env=dict(os.environ, PYTHONPATH=repo), cwd=repo,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    reader = FileBackedVersionTracker(root, checkpoint_interval=3)
    seen = []
    polls = 0
    try:
        while proc.poll() is None or polls == 0:
            out = read_group_states(reader, [a, b])  # never raises mid-race
            labels = {lbl for _, _, lbl in out.values()}
            assert len(labels) == 1, f"torn pair observed: {out}"
            (lbl,) = labels
            assert lbl is not None
            if seen:
                assert lbl >= seen[-1], "generation went backward"
            if not seen or lbl != seen[-1]:
                seen.append(lbl)
            polls += 1
            time.sleep(0.01)
    finally:
        sout, serr = proc.communicate(timeout=600)
    assert proc.returncode == 0, serr[-2000:]
    assert f"DONE {n_gens}" in sout
    assert polls > 1  # the loop really raced the writer

    # final state: both members at the writer's last generation
    out = read_group_states(reader, [a, b])
    final = {lbl for _, _, lbl in out.values()}
    assert len(final) == 1
    last = tr.table_state(a).updates[-1].metadata.message
    assert final == {pair_label(last)}


def test_read_group_states_matches_model_under_random_interleavings():
    """Property differential (house style): random sequences of complete
    group publications, PREFIX-crashed groups (a writer dying after the
    first k members), and unmarked solo commits.  A pure-python model
    predicts the resolution: all-None → trivial; mixed marked/unmarked →
    TornGroupError; all-agree → current states; else pin-backward at the
    newest generation every member has, each member's state equal to the
    tracker's own version_at that commit.  Hypothesis shrinks any
    divergence to a minimal event sequence."""
    from hypothesis import given, settings, strategies as st

    from chronicles_spark.core.markers import pair_message
    from chronicles_spark.operators.pairing import (
        TornGroupError,
        read_group_states,
    )

    names = [TableName("db", n) for n in ("ga", "gb", "gc")]  # sorted order

    @settings(max_examples=60, deadline=None)
    @given(
        events=st.lists(
            st.one_of(
                st.tuples(st.just("group"), st.integers(1, 3)),
                st.tuples(st.just("solo"), st.integers(0, 2)),
            ),
            max_size=12,
        )
    )
    def run(events):
        tr = InMemoryVersionTracker()
        for n in names:
            tr.init_table(n, is_snapshot=False, user_id="u")
        history = {n: [] for n in names}  # [(commit_id, label|None)]
        for kind, k in events:
            if kind == "group":
                label = generate_version().label
                msg = pair_message("g", label)
                for n in names[:k]:  # k<3 = the writer died mid-group
                    u = TableUpdate(
                        TableUpdateMetadata.new("u", msg),
                        (AddPartitionVersion(
                            Partition.of(("p", "x")), generate_version()
                        ),),
                    )
                    tr.commit(n, u)
                    history[n].append((u.metadata.commit_id, label))
            else:
                n = names[k]
                u = TableUpdate(
                    TableUpdateMetadata.new("u", "solo"),
                    (AddPartitionVersion(
                        Partition.of(("p", f"s{k}")), generate_version()
                    ),),
                )
                tr.commit(n, u)
                history[n].append((u.metadata.commit_id, None))

        newest = {
            n: next((l for _, l in reversed(history[n]) if l), None)
            for n in names
        }
        labels = set(newest.values())
        if labels == {None}:  # no member ever group-published
            out = read_group_states(tr, names, retries=1)
            assert {l for _, _, l in out.values()} == {None}
            return
        if None in labels:  # mixed marked/unmarked members
            with pytest.raises(TornGroupError):
                read_group_states(tr, names, retries=1)
            return
        out = read_group_states(tr, names, retries=1)
        if len(labels) == 1:  # agree: current states, solos included
            (lbl,) = labels
            for n in names:
                state, cid, got = out[n]
                assert got == lbl
                assert state == tr.current_version(n)
                assert cid == tr.table_state(n).current_version
        else:  # pin-backward at the newest generation EVERY member has
            target = min(labels)
            for n in names:
                state, cid, got = out[n]
                assert got == target
                want_cid = next(
                    c for c, l in reversed(history[n]) if l == target
                )
                assert cid == want_cid
                assert state == tr.version_at(n, cid)

    run()


def test_backward_pin_is_commit_order_not_label_order(tmp_path):
    """Review finding (r14): labels are wall-clock strings — a writer
    with a LAGGING clock publishing the newer generation must not steer
    the backward pin.  Complete generation G1 carries a lexicographically
    HIGH label; a crashed G2 (first member only) carries a SMALLER one.
    The pin must land on G1 — the newest generation both members share
    by COMMIT order — never raise, and never pick G2."""
    from chronicles_spark.core.markers import pair_message
    from chronicles_spark.operators.pairing import read_group_states

    tr = FileBackedVersionTracker(str(tmp_path / "log"), checkpoint_interval=3)
    for t in (TA, TB):
        tr.init_table(t, is_snapshot=False, user_id="u")

    hi = "20300101-000000.000000000-aaaaaaaa-0000-0000-0000-000000000000"
    lo = "20200101-000000.000000000-bbbbbbbb-0000-0000-0000-000000000000"
    g1 = {
        t: TableUpdate(
            TableUpdateMetadata.new("u", pair_message("g1", hi)),
            (AddPartitionVersion(Partition.of(("p", "1")), generate_version()),),
        )
        for t in (TA, TB)
    }
    tr.commit_group(g1)
    tr.commit(  # skewed writer's crashed G2: smaller label, LATER commit
        TA,
        TableUpdate(
            TableUpdateMetadata.new("u", pair_message("g2", lo)),
            (AddPartitionVersion(Partition.of(("p", "2")), generate_version()),),
        ),
    )
    out = read_group_states(tr, [TA, TB], retries=2)
    assert {lbl for _, _, lbl in out.values()} == {hi}
    assert out[TA][1] == g1[TA].metadata.commit_id
    assert out[TB][0] == tr.current_version(TB)


def test_read_group_accepts_a_generator(spark, tmp_path):
    """Review finding (r14): a generator `tables` argument was consumed
    by the name pass and the result pass returned {} silently."""
    from pyspark.sql import functions as F

    from chronicles_spark.spark import read_group, versioned_insert_group

    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    defs = [
        TableDefinition(
            TableName("db", n), str(tmp_path / n), PartitionSchema(("d",))
        )
        for n in ("docs", "embs")
    ]
    for t in defs:
        tracker.init_table(t.name, is_snapshot=False, user_id="u")
    df = spark.range(4).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("d")
    )
    versioned_insert_group([(df, t) for t in defs], tracker, "u", "b")
    out = read_group(spark, (t for t in defs), tracker)
    assert set(out) == {t.name for t in defs}
    assert out[defs[0].name].count() == 4
