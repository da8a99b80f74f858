"""The stream wrappers of every index family, through the shared stream
kernel (``dedup_index._commit_index_stream_batch`` and
``_index_stream_sink``): each ``commit_*_stream_batch`` lands one extend
commit per epoch, skips a replay of the latest epoch, refuses an epoch
behind it and hands the verified pairs to ``on_pairs`` (dedup
families); each ``*_stream_sink`` drains a small file stream with
``availableNow``."""

from dataclasses import dataclass

import pytest
from pyspark.sql import functions as F

from chronicles_spark.core.model import PartitionSchema, TableDefinition, TableName
from chronicles_spark.operators import ann_index as AX
from chronicles_spark.operators import dedup_index as DX
from chronicles_spark.operators import emb_dedup_index as EX
from chronicles_spark.operators import semantic_dedup_index as SDX
from chronicles_spark.operators import simhash_index as SX
from chronicles_spark.sources import load_table
from chronicles_spark.trackers import FileBackedVersionTracker

# corpus ids < CORPUS; the commit test's batch takes the next ten ids
# plus a copy of row DONOR under id DUP_ID; the sink streams the ten after
CORPUS, DONOR, DUP_ID = 60, 13, 9000


@dataclass(frozen=True)
class Family:
    name: str
    source: str
    id_col: str
    payload: str
    part_col: str
    prefix: str
    build: object  # (src, table, tracker) -> None
    commit: object
    sink: object
    verify: object  # (spark, table, tracker) -> disagreement frame
    kw: dict
    pairs: bool = True


FAMILIES = [
    Family(
        "dedup", "documents", "doc_id", "text", "band_shard", "dedup-stream",
        lambda src, t, tr: DX.build_dedup_index(
            src, t, tr, band_shards=4, doc_shards=2),
        DX.commit_dedup_stream_batch, DX.dedup_stream_sink,
        DX.verify_dedup_index, {"threshold": 0.5},
    ),
    Family(
        "simhash", "documents", "doc_id", "text", "band_shard",
        "simhash-dedup-stream",
        lambda src, t, tr: SX.build_simhash_dedup_index(
            src, t, tr, band_shards=4, doc_shards=2),
        SX.commit_simhash_dedup_stream_batch, SX.simhash_dedup_stream_sink,
        SX.verify_simhash_dedup_index, {"max_hamming": 3},
    ),
    Family(
        "embedding", "embeddings", "vec_id", "embedding", "band_shard",
        "emb-dedup-stream",
        lambda src, t, tr: EX.build_embedding_dedup_index(
            src, t, tr, dim=64, band_shards=4, doc_shards=2),
        EX.commit_embedding_dedup_stream_batch, EX.embedding_dedup_stream_sink,
        EX.verify_embedding_dedup_index, {"threshold": 0.4},
    ),
    Family(
        "semantic", "embeddings", "vec_id", "embedding", "band_shard",
        "semantic-dedup-stream",
        lambda src, t, tr: SDX.build_semantic_dedup_index(
            src, t, tr, dim=64, n_clusters=4, iters=1, band_shards=4,
            doc_shards=2),
        SDX.commit_semantic_dedup_stream_batch, SDX.semantic_dedup_stream_sink,
        SDX.verify_semantic_dedup_index, {"threshold": 0.4},
    ),
    Family(
        "ann", "embeddings", "vec_id", "embedding", "bucket", "ann-stream",
        lambda src, t, tr: AX.build_ann_index(
            src, t, tr, n_clusters=4, m=4, k_sub=4, iters=1,
            id_map_shards=2),
        AX.commit_ann_stream_batch, AX.ann_stream_sink,
        AX.verify_ann_id_map, {}, pairs=False,
    ),
]
IDS = [f.name for f in FAMILIES]


@pytest.fixture(scope="module")
def indexes(spark, sf_dir, tmp_path_factory):
    """``get(family) -> (source frame, table, tracker)``: each family's
    index built once over ids < CORPUS, shared by the tests below (they
    commit under distinct message prefixes)."""
    tmp = tmp_path_factory.mktemp("index_streams")
    built = {}

    def get(fam):
        if fam.name not in built:
            src = load_table(spark, sf_dir, fam.source).select(
                fam.id_col, fam.payload)
            tracker = FileBackedVersionTracker(str(tmp / f"_log_{fam.name}"))
            table = TableDefinition(
                TableName("demo", fam.name), str(tmp / fam.name),
                PartitionSchema((fam.part_col,)))
            tracker.init_table(table.name, is_snapshot=False, user_id="t")
            fam.build(src.where(F.col(fam.id_col) < CORPUS), table, tracker)
            built[fam.name] = (src, table, tracker)
        return built[fam.name]

    return get


def _messages(tracker, table, prefix):
    """The table's commit messages under ``prefix``, pair markers cut."""
    return [
        u.metadata.message.split(" [", 1)[0]
        for u in tracker.table_state(table.name).updates
        if u.metadata.message.startswith(prefix + " epoch ")
    ]


@pytest.mark.parametrize("fam", FAMILIES, ids=IDS)
def test_commit_stream_batch_epochs(spark, indexes, fam):
    src, table, tracker = indexes(fam)
    idc = F.col(fam.id_col)
    batch = src.where((idc >= CORPUS) & (idc < CORPUS + 10)).unionByName(
        src.where(idc == DONOR).withColumn(fam.id_col, F.lit(DUP_ID).cast("long"))
    )
    got = []
    kw = dict(fam.kw)
    if fam.pairs:
        kw["on_pairs"] = lambda pairs, epoch: got.extend(
            (epoch, r["id_a"], r["id_b"]) for r in pairs.collect())
    cache: dict = {}

    def commit(epoch, epoch_cache):
        fam.commit(batch, epoch, table, tracker, "t", epoch_cache=epoch_cache,
                   **kw)

    n0 = len(tracker.table_state(table.name).updates)
    commit(0, cache)
    assert _messages(tracker, table, fam.prefix) == [f"{fam.prefix} epoch 0"]
    assert len(tracker.table_state(table.name).updates) == n0 + 1
    if fam.pairs:
        assert (0, DONOR, DUP_ID) in got

    # a replay of the latest epoch is skipped, from a warm or a cold cache
    delivered = list(got)
    commit(0, cache)
    commit(0, {})
    assert len(tracker.table_state(table.name).updates) == n0 + 1
    assert got == delivered

    # an epoch behind the latest one is a wiped checkpoint: refused
    with pytest.raises(RuntimeError, match="behind the latest"):
        commit(-1, {})
    assert fam.verify(spark, table, tracker).count() == 0


@pytest.mark.parametrize("fam", FAMILIES, ids=IDS)
def test_stream_sink_available_now(spark, indexes, fam, tmp_path):
    src, table, tracker = indexes(fam)
    idc = F.col(fam.id_col)
    path = str(tmp_path / "src")
    src.where((idc >= CORPUS + 10) & (idc < CORPUS + 20)).repartition(2).write.parquet(path)
    stream = spark.readStream.schema(src.schema).option(
        "maxFilesPerTrigger", 1).parquet(path)
    prefix = "sink-" + fam.prefix
    q = fam.sink(
        stream, table, tracker, "t", str(tmp_path / "ckpt"),
        message_prefix=prefix, **fam.kw,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert not q.isActive
    if q.exception() is not None:
        raise q.exception()
    assert _messages(tracker, table, prefix) == [
        f"{prefix} epoch 0", f"{prefix} epoch 1"]
    assert fam.verify(spark, table, tracker).count() == 0
