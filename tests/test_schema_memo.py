"""Schema-known reads (spark/reader.py): the data schema of an immutable
version directory is memoized per ``(location, label)``, seeded by the
write that lands it or learned by the first read, so later reads pass a
schema and skip Spark's footer-inference job.

House-style differential: for every table the library writes, a memo
read equals a cold read (memo entry removed) in ``df.schema`` and rows,
under both partition-inference settings, and the write's seed equals
what the cold read infers.  Job counts are pinned through a
``statusTracker`` job group: 0 jobs at ``load()`` for a known directory,
exactly 1 cold, and per-call ceilings for the three index maintainers
and a two-table group publish.
"""

import datetime
import decimal
import shutil
import sys
import threading
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    CharType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
    VarcharType,
)

from chronicles_spark.core import paths as vpaths
from chronicles_spark.core.model import (
    Partition,
    PartitionedTableVersion,
    PartitionSchema,
    TableDefinition,
    TableName,
)
from chronicles_spark.core.version import generate_version
from chronicles_spark.operators import ann_index as AX
from chronicles_spark.operators import cluster_index as CX
from chronicles_spark.operators import dedup_index as DX
from chronicles_spark.operators import similarity as SIM
from chronicles_spark.sources import load_table
from chronicles_spark.spark import reader as R
from chronicles_spark.spark.reader import live_paths, read_version
from chronicles_spark.spark.writer import versioned_insert_group, versioned_insert_into
from chronicles_spark.trackers import FileBackedVersionTracker

# per-call job ceilings on the tiny fixture below, set at the counts
# measured (Spark 4.1, local[4], AQE on) with schema-known reads, the
# driver-side cluster fold and the capped candidate-id sample; before the
# fold and the sample the first two launched 37 and 20, and with an
# inference job per read_version the first three 43, 21 and 23
DEDUP_EXTEND_MAX_JOBS = 34
CLUSTER_FOLD_MAX_JOBS = 7
ANN_EXTEND_MAX_JOBS = 20
GROUP_PUBLISH_MAX_JOBS = 2


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs it launched)``: the jobs of a fresh
    job group (this thread) plus those submitted without a group (by a
    thread that did not inherit the group)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(st.getJobIdsForGroup(None))
    group = "pin-" + uuid.uuid4().hex
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    n = len(st.getJobIdsForGroup(group))
    n += len(set(st.getJobIdsForGroup(None)) - before)
    return out, n


def _new_loose_jobs(st, loose) -> set:
    """Retained jobs without a job group that are not in ``loose``: the
    tracker keeps a bounded number of jobs, so older loose ones may be
    dropped meanwhile, and only a NEW ungrouped job counts."""
    return set(st.getJobIdsForGroup(None)) - loose


def _key(spark, table, state):
    first = R._first_footer_dir(live_paths(table, state))
    return R._memo_key(spark, table, vpaths.parse_version(first).label)


def _labels(state):
    return {v.label for v in state.partition_versions.values()}


def _rows(df):
    return sorted(map(repr, df.collect()))


def _assert_memo_read_equals_cold(spark, table, state, seeded=True):
    """A read through the memo equals a cold read (entry removed), in
    schema and rows, under both partition-inference settings; with
    ``seeded``, every live label was seeded by its write and the seed
    equals what the cold read infers."""
    key = _key(spark, table, state)
    assert key is not None
    if seeded:
        for label in _labels(state):
            assert R._memo_get((key[0], label)) is not None, label
    for infer in (True, False):
        known = R._memo_get(key)
        warm, n_warm = _jobs(spark, lambda: read_version(
            spark, table, state, infer_partition_types=infer))
        assert known is not None and n_warm == 0
        R._memo_pop(key)
        cold, n_cold = _jobs(spark, lambda: read_version(
            spark, table, state, infer_partition_types=infer))
        assert n_cold == 1
        assert R._memo_get(key) == known  # the seed is what Spark infers
        assert warm.schema == cold.schema
        assert _rows(warm) == _rows(cold)


# ---------------------------------------------------------------- job pins


def test_read_of_known_directory_launches_no_job_cold_read_one(spark, tmp_path):
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    table = TableDefinition(
        TableName("demo", "pins"), str(tmp_path / "pins"), PartitionSchema(("d",))
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("d")
    )
    state, _ = versioned_insert_into(df, table, tracker, "t", "w")
    key = _key(spark, table, state)

    # written by this process: the write seeded the entry
    _, n = _jobs(spark, lambda: read_version(spark, table, state))
    assert n == 0
    _, n = _jobs(spark, lambda: read_version(
        spark, table, state, infer_partition_types=False))
    assert n == 0

    # a cold reader pays exactly one inference, the first time only
    assert R._memo_pop(key)
    cold, n = _jobs(spark, lambda: read_version(spark, table, state))
    assert n == 1
    again, n = _jobs(spark, lambda: read_version(spark, table, state))
    assert n == 0
    assert again.schema == cold.schema and _rows(again) == _rows(cold)


@pytest.fixture(scope="module")
def lake(spark, sf_dir, tmp_path_factory):
    """Every index table the library writes, on a tiny fixture: the
    dedup index (bands, doc store, pairs journal), the cluster index
    (assign, members) and the ANN index (index, id map), each built and
    then extended or folded once; the extend/fold job counts are taken
    on the way."""
    tmp = tmp_path_factory.mktemp("schema_memo")
    tracker = FileBackedVersionTracker(str(tmp / "_log"))

    def table(name, col):
        t = TableDefinition(TableName("demo", name), str(tmp / name),
                            PartitionSchema((col,)))
        tracker.init_table(t.name, is_snapshot=False, user_id="t")
        return t

    bands = table("bands", "band_shard")
    clusters = table("clusters", "doc_shard")
    ann = table("ann", "bucket")
    pairs = DX.dedup_pairs_table(bands)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    DX.build_dedup_index(docs.where("doc_id < 300"), bands, tracker,
                         band_shards=4, doc_shards=2)
    CX.build_dedup_clusters(None, clusters, tracker, doc_shards=2,
                            cluster_shards=2)
    jobs = {}
    _, jobs["dedup_extend"] = _jobs(spark, lambda: DX.extend_dedup_index(
        docs.where("doc_id >= 300 AND doc_id < 400"), bands, tracker,
        threshold=0.5, pairs_table=pairs))
    folded, jobs["cluster_fold"] = _jobs(spark, lambda: CX.fold_new_dedup_pairs(
        spark, pairs, clusters, tracker))
    assert folded

    emb = load_table(spark, sf_dir, "embeddings")
    cents = SIM.kmeans_fit(emb, 4, 2)
    books = SIM.pq_fit(emb, m=4, k_sub=4, iters=2)
    AX.build_ann_index(emb.where("vec_id < 25").select("vec_id", "embedding"),
                       ann, tracker, centroids=cents, codebooks=books,
                       id_map_shards=2)
    _, jobs["ann_extend"] = _jobs(spark, lambda: AX.extend_ann_index(
        emb.where("vec_id >= 20").select("vec_id", "embedding"), ann, tracker))

    tables = {
        "bands": bands,
        "doc_store": DX.dedup_docs_table(bands),
        "pairs_journal": pairs,
        "cluster_assign": clusters,
        "cluster_members": CX.cluster_members_table(clusters),
        "ann_index": ann,
        "ann_id_map": AX.ann_id_map_table(ann),
    }
    return tracker, tables, jobs


@pytest.mark.parametrize("name,ceiling", [
    ("dedup_extend", DEDUP_EXTEND_MAX_JOBS),
    ("cluster_fold", CLUSTER_FOLD_MAX_JOBS),
    ("ann_extend", ANN_EXTEND_MAX_JOBS),
])
def test_index_maintainer_job_ceilings(lake, name, ceiling):
    _, _, jobs = lake
    assert 0 < jobs[name] <= ceiling, jobs


def test_group_publish_job_ceiling(spark, tmp_path):
    """One 2-table ``versioned_insert_group``: a save job per member and
    nothing else — discovery lists directories, the schemas are seeded.
    The saves overlap on pool threads that run in the caller's job group,
    so none of their jobs runs outside it (a cancel of the group reaches
    them)."""
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    tables = [
        TableDefinition(TableName("demo", n), str(tmp_path / n),
                        PartitionSchema(("d",)))
        for n in ("docs", "emb")
    ]
    for t in tables:
        tracker.init_table(t.name, is_snapshot=False, user_id="t")
    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("d")
    )
    st = spark.sparkContext.statusTracker()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    loose = set(st.getJobIdsForGroup(None))
    out, n = _jobs(spark, lambda: versioned_insert_group(
        [(df, t) for t in tables], tracker, "t", "publish"))
    assert 0 < n <= GROUP_PUBLISH_MAX_JOBS, n
    assert not _new_loose_jobs(st, loose)
    for t in tables:
        assert {p.path for p in out[t.name].partition_versions} == {
            "d=0", "d=1", "d=2"
        }
        assert _rows(read_version(spark, t, out[t.name]).select("id")) == \
            _rows(df.select("id"))


def test_ann_build_fits_run_in_the_callers_job_group(spark, sf_dir, tmp_path):
    """A fitting ``build_ann_index`` overlaps its k-means and PQ fits on
    threads that run in the caller's job group, like the group publish's
    saves: no job of the build runs outside it."""
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    ann = TableDefinition(TableName("demo", "annfit"), str(tmp_path / "annfit"),
                          PartitionSchema(("bucket",)))
    tracker.init_table(ann.name, is_snapshot=False, user_id="t")
    emb = load_table(spark, sf_dir, "embeddings").where("vec_id < 40").select(
        "vec_id", "embedding")
    st = spark.sparkContext.statusTracker()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    loose = set(st.getJobIdsForGroup(None))
    (state, _), n = _jobs(spark, lambda: AX.build_ann_index(
        emb, ann, tracker, n_clusters=4, m=4, k_sub=4, iters=2,
        id_map_shards=2))
    assert n > 0 and state.partition_versions
    assert not _new_loose_jobs(st, loose)


def test_dedup_extend_runs_in_the_callers_job_group(spark, sf_dir, tmp_path):
    """A dedup extend overlaps its replacement lookup + band RMW with
    the candidate/verify chain on threads that run in the caller's job
    group: no job of the extend runs outside it."""
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    bands = TableDefinition(TableName("demo", "bandsjg"), str(tmp_path / "bandsjg"),
                            PartitionSchema(("band_shard",)))
    tracker.init_table(bands.name, is_snapshot=False, user_id="t")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    DX.build_dedup_index(docs.where("doc_id < 60"), bands, tracker,
                         band_shards=4, doc_shards=2)
    st = spark.sparkContext.statusTracker()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    loose = set(st.getJobIdsForGroup(None))
    (_, state, _), n = _jobs(spark, lambda: DX.extend_dedup_index(
        docs.where("doc_id >= 50 AND doc_id < 90"), bands, tracker,
        threshold=0.5))
    assert n > 0 and state.partition_versions
    assert not _new_loose_jobs(st, loose)


# ------------------------------------------------------------ differential


@pytest.mark.parametrize("name", [
    "bands", "doc_store", "pairs_journal", "cluster_assign",
    "cluster_members", "ann_index", "ann_id_map",
])
def test_memo_read_equals_cold_read_for_index_tables(spark, lake, name):
    tracker, tables, _ = lake
    table = tables[name]
    state = tracker.current_version(table.name)
    assert state.partition_versions
    _assert_memo_read_equals_cold(spark, table, state)


def test_memo_read_equals_cold_read_for_typed_insert(spark, tmp_path):
    """versioned_insert_into with non-nullable, array, map, struct,
    date, timestamp, timestamp_ntz, decimal and binary columns: seeded
    by the write (non-nullable columns read back nullable, as Spark
    reports any file-source data schema)."""
    schema = StructType([
        StructField("id", LongType(), False),
        StructField("day", StringType(), False),
        StructField("tags", ArrayType(StringType(), False), False),
        StructField("attrs", MapType(StringType(), IntegerType(), False)),
        StructField("pt", StructType([
            StructField("x", IntegerType(), False),
            StructField("ys", ArrayType(DecimalType(10, 3))),
        ]), False),
        StructField("dt", DateType()),
        StructField("ts", TimestampType()),
        StructField("ntz", TimestampNTZType()),
        StructField("amount", DecimalType(18, 4), False),
        StructField("blob", StringType()),
    ])
    rows = [
        (i, f"d{i % 2}", [f"t{i}"], {"k": i}, (i, [decimal.Decimal("1.250")]),
         datetime.date(2024, 1, 1 + i), datetime.datetime(2024, 1, 1, i),
         datetime.datetime(2024, 1, 2, i), decimal.Decimal(f"{i}.5"), None)
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, schema).withColumn(
        "blob", F.col("id").cast("string").cast("binary"))
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    table = TableDefinition(
        TableName("demo", "typed"), str(tmp_path / "typed"),
        PartitionSchema(("day",)),
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    state, _ = versioned_insert_into(df, table, tracker, "t", "w")
    _assert_memo_read_equals_cold(spark, table, state)
    got = read_version(spark, table, state).schema
    assert all(f.nullable for f in got.fields)

    snap = TableDefinition(TableName("demo", "typed_snap"), str(tmp_path / "snap"))
    tracker.init_table(snap.name, is_snapshot=True, user_id="t")
    sstate, _ = versioned_insert_into(df, snap, tracker, "t", "w")
    key = R._memo_key(spark, snap, sstate.version.label)
    assert R._memo_get(key) is not None
    warm = read_version(spark, snap, sstate)
    R._memo_pop(key)
    cold = read_version(spark, snap, sstate)
    assert warm.schema == cold.schema and _rows(warm) == _rows(cold)


def test_types_outside_the_gate_are_learned_not_seeded(spark, tmp_path):
    """Field metadata (and char/varchar, collated strings) is not seeded
    by the write; the first read learns the entry from Spark."""
    assert not R._seedable(StructType([StructField("c", CharType(3))]))
    assert not R._seedable(StructType([StructField("c", VarcharType(3))]))
    assert not R._seedable(StructType([StructField("c", StringType("UTF8_LCASE"))]))
    assert not R._seedable(StructType([
        StructField("c", StringType(), metadata={"comment": "x"})]))
    assert R._seedable(StructType([StructField("c", ArrayType(StringType()))]))

    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    table = TableDefinition(
        TableName("demo", "meta"), str(tmp_path / "meta"), PartitionSchema(("d",))
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    df = spark.range(4).select(
        F.col("id").alias("id", metadata={"comment": "doc id"}),
        F.lit("a").alias("d"),
    )
    state, _ = versioned_insert_into(df, table, tracker, "t", "w")
    key = _key(spark, table, state)
    assert R._memo_get(key) is None
    cold, n = _jobs(spark, lambda: read_version(spark, table, state))
    assert n == 1 and R._memo_get(key) is not None
    warm, n = _jobs(spark, lambda: read_version(spark, table, state))
    assert n == 0
    assert warm.schema == cold.schema and _rows(warm) == _rows(cold)


def test_schema_evolved_table_first_footer_wins(spark, tmp_path):
    """Version A (id) under ``p=1`` and ``p=2``, version B (id, extra)
    under ``p=1-x``: Spark infers from the path-wise first data file,
    which lies under ``p=1-x`` ('-' sorts before '/'), although the
    read's first path is ``p=1``."""
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    table = TableDefinition(
        TableName("demo", "evolved"), str(tmp_path / "evolved"),
        PartitionSchema(("p",)),
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    versioned_insert_into(
        spark.range(3).select("id", F.lit("1").alias("p")).union(
            spark.range(3).select("id", F.lit("2").alias("p"))),
        table, tracker, "t", "A")
    state, _ = versioned_insert_into(
        spark.range(3).select("id", F.lit("e").alias("extra"),
                              F.lit("1-x").alias("p")),
        table, tracker, "t", "B")
    paths_ = live_paths(table, state)
    assert "/p=1/" in paths_[0] and "/p=1-x/" in R._first_footer_dir(paths_)
    _assert_memo_read_equals_cold(spark, table, state)
    assert "extra" in read_version(spark, table, state).columns

    # without p=1-x the first footer is version A's: no `extra` column
    only_a = PartitionedTableVersion({
        p: v for p, v in state.partition_versions.items()
        if p != Partition.of(("p", "1-x"))
    })
    _assert_memo_read_equals_cold(spark, table, only_a)
    assert "extra" not in read_version(spark, table, only_a).columns


def test_first_footer_follows_java_string_order(spark, tmp_path):
    """Spark orders paths by UTF-16 code units: a partition value outside
    the BMP (a surrogate pair, 0xD83D...) sorts before U+FF01, although
    Python's code-point order says the opposite."""
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    table = TableDefinition(
        TableName("demo", "utf16"), str(tmp_path / "utf16"), PartitionSchema(("p",))
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    versioned_insert_into(spark.range(2).select("id", F.lit("\uff01").alias("p")),
                          table, tracker, "t", "A")
    state, _ = versioned_insert_into(
        spark.range(2).select("id", F.lit("e").alias("extra"),
                              F.lit("\U0001f600").alias("p")),
        table, tracker, "t", "B")
    paths_ = live_paths(table, state)
    assert "\U0001f600" in R._first_footer_dir(paths_) and "\uff01" in min(paths_)
    _assert_memo_read_equals_cold(spark, table, state)
    assert "extra" in read_version(spark, table, state).columns


def test_second_write_into_explicit_version_drops_the_entry(spark, tmp_path):
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    table = TableDefinition(
        TableName("demo", "twice"), str(tmp_path / "twice"), PartitionSchema(("p",))
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    version = generate_version()
    versioned_insert_into(
        spark.range(3).select("id", F.lit("b").alias("p")),
        table, tracker, "t", "first", version=version)
    key = R._memo_key(spark, table, version.label)
    assert R._memo_get(key) is not None
    state, _ = versioned_insert_into(
        spark.range(3).select("id", F.lit("z").alias("extra"),
                              F.lit("a").alias("p")),
        table, tracker, "t", "second", version=version)
    assert R._memo_get(key) is None
    # the first footer is now the second write's (p=a sorts first)
    got, n = _jobs(spark, lambda: read_version(spark, table, state))
    assert n == 1 and "extra" in got.columns
    _assert_memo_read_equals_cold(spark, table, state, seeded=False)


def test_merge_schema_bypasses_the_memo(spark, tmp_path):
    # in the table's format options: never seeded, never learned
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    merged = TableDefinition(
        TableName("demo", "merged"), str(tmp_path / "merged"),
        PartitionSchema(("p",)), format_options=(("mergeSchema", "true"),),
    )
    tracker.init_table(merged.name, is_snapshot=False, user_id="t")
    state, _ = versioned_insert_into(
        spark.range(3).select("id", F.lit("a").alias("p")),
        merged, tracker, "t", "w")
    assert _key(spark, merged, state) is None
    assert not any(k[0] == merged.location for k in list(R._SCHEMA_MEMO))
    _, n = _jobs(spark, lambda: read_version(spark, merged, state))
    assert n == 1 and not any(k[0] == merged.location for k in list(R._SCHEMA_MEMO))

    # in the session conf: a known entry is not used, footers merge
    tracker = FileBackedVersionTracker(str(tmp_path / "_log2"))
    table = TableDefinition(
        TableName("demo", "conf"), str(tmp_path / "conf"), PartitionSchema(("p",))
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    versioned_insert_into(spark.range(3).select("id", F.lit("0").alias("p")),
                          table, tracker, "t", "A")
    state, _ = versioned_insert_into(
        spark.range(3).select("id", F.lit("e").alias("extra"),
                              F.lit("1").alias("p")),
        table, tracker, "t", "B")
    df, n = _jobs(spark, lambda: read_version(spark, table, state))
    assert n == 0 and "extra" not in df.columns  # p=0's footer wins
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert _key(spark, table, state) is None
        df, n = _jobs(spark, lambda: read_version(spark, table, state))
        assert n == 1 and "extra" in df.columns
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    df, n = _jobs(spark, lambda: read_version(spark, table, state))
    assert n == 0 and "extra" not in df.columns


def test_vacuumed_directory_still_fails(spark, tmp_path):
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    table = TableDefinition(
        TableName("demo", "gone"), str(tmp_path / "gone"), PartitionSchema(("p",))
    )
    tracker.init_table(table.name, is_snapshot=False, user_id="t")
    state, _ = versioned_insert_into(
        spark.range(3).select("id", F.lit("a").alias("p")),
        table, tracker, "t", "w")
    key = _key(spark, table, state)
    assert R._memo_get(key) is not None
    (d,) = live_paths(table, state)
    shutil.rmtree(d)
    with pytest.raises(AnalysisException):
        read_version(spark, table, state)
    R._memo_pop(key)
    with pytest.raises(AnalysisException):
        read_version(spark, table, state)


def test_memo_is_bounded_lru_and_thread_safe(monkeypatch):
    monkeypatch.setattr(R, "_SCHEMA_MEMO", type(R._SCHEMA_MEMO)())
    monkeypatch.setattr(R, "_SCHEMA_MEMO_MAX", 8)
    s = StructType([StructField("x", LongType())])
    for i in range(8):
        R._memo_put(("loc", str(i)), s)
    assert R._memo_get(("loc", "0")) is s  # refreshed: "1" is now oldest
    R._memo_put(("loc", "8"), s)
    assert R._memo_get(("loc", "1")) is None
    assert R._memo_get(("loc", "0")) is s and len(R._SCHEMA_MEMO) == 8

    # more threads than cores and a short switch interval; a lost
    # update would drop a key (below the bound) or overshoot the bound
    def churn(t, n_keys, out):
        for i in range(n_keys):
            key = ("loc", f"{t}-{i}")
            R._memo_put(key, s)
            R._memo_get(key)
            R._memo_pop(("loc", f"{t}-gone"))
        out.append(t)

    def run_threads(n_keys):
        done = []
        threads = [threading.Thread(target=churn, args=(t, n_keys, done))
                   for t in range(16)]
        prev = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(prev)
        assert not any(t.is_alive() for t in threads) and len(done) == 16

    R._SCHEMA_MEMO.clear()
    monkeypatch.setattr(R, "_SCHEMA_MEMO_MAX", 16 * 200)
    run_threads(200)
    assert len(R._SCHEMA_MEMO) == 16 * 200
    monkeypatch.setattr(R, "_SCHEMA_MEMO_MAX", 64)
    run_threads(200)
    assert len(R._SCHEMA_MEMO) == 64
