"""The lake-index protocol pieces every index family shares
(operators/dedup_index.py): the artifacts' sidecar serialization, the
newest-label sidecar load, and the extend front end's argument checks.
All run without a Spark job."""

import pytest

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
from chronicles_spark.operators import emb_dedup_index as EX
from chronicles_spark.operators import semantic_dedup_index as SDX
from chronicles_spark.operators import simhash_index as SHX
from chronicles_spark.operators.cluster_index import ClusterArtifacts
from chronicles_spark.trackers import FileBackedVersionTracker

ARTIFACTS = [
    DX.DedupArtifacts(
        bands=8, rows=2, width=5, band_shards=32, doc_shards=16,
        version_label="v1",
    ),
    SHX.SimhashDedupArtifacts(
        bits=32, bands=4, band_shards=8, doc_shards=4, version_label="v1"
    ),
    EX.EmbeddingDedupArtifacts(
        n_planes=16, bands=4, dim=8, band_shards=8, doc_shards=4,
        version_label="v1",
    ),
    SDX.SemanticDedupArtifacts(
        n_clusters=2, dim=2, band_shards=4, doc_shards=2,
        centroids=[[0, [0.25, -1.5]], [1, [3.0, 0.125]]],
        version_label="v1",
    ),
    ClusterArtifacts(doc_shards=4, cluster_shards=2, version_label="v1"),
    AX.AnnArtifacts(
        centroids=((0, (0.25, -1.5)), (1, (3.0, 0.125))),
        codebooks=(((0.5,), (1.5,)), ((-0.5,), (2.0,))),
        version_label="v1",
        id_shards=4,
        max_bucket_rows=100,
        bucket_splits=(("0", 2),),
    ),
]


@pytest.mark.parametrize("arts", ARTIFACTS, ids=lambda a: type(a).__name__)
def test_artifacts_json_round_trip_and_geometry(arts):
    back = type(arts).from_json(arts.to_json())
    assert back == arts
    geo = arts.geometry()
    assert "version_label" not in geo
    left_out = {"version_label"}
    if isinstance(arts, AX.AnnArtifacts):
        # the split tree evolves across extends: not agreement geometry
        assert "bucket_splits" not in geo
        left_out.add("bucket_splits")
    assert set(geo) == set(arts.__dataclass_fields__) - left_out


def _two_label_state(tmp_path, part_col):
    table = TableDefinition(
        TableName("db", "idx"), str(tmp_path / "idx"), PartitionSchema((part_col,))
    )
    v1, v2 = generate_version(), generate_version()
    assert v1.label < v2.label
    state = PartitionedTableVersion(
        {Partition.of((part_col, "0")): v1, Partition.of((part_col, "1")): v2}
    )
    return table, v1.label, v2.label, state


def test_load_returns_newest_label_sidecar_for_every_family(tmp_path):
    """The shared loader returns the NEWEST label's sidecar: for the
    dedup families (geometry = every field but the label) that equals
    the oldest sidecar re-stamped; for ANN it also carries the newest
    evolving split tree."""
    for arts in ARTIFACTS[:5]:
        table, l1, l2, state = _two_label_state(
            tmp_path / type(arts).__name__, "band_shard"
        )
        DX._write_artifact_sidecar(table, arts.with_label(l1))
        DX._write_artifact_sidecar(table, arts.with_label(l2))
        got = DX._load_artifacts(table, state, type(arts).from_json, "x")
        assert got == arts.with_label(l1).with_label(l2)

    table, l1, l2, state = _two_label_state(tmp_path / "ann", "bucket")
    ann = ARTIFACTS[5]
    AX._write_artifact_sidecar(
        table, l1, ann.centroid_list, ann.codebook_list,
        ann.id_shards, ann.max_bucket_rows, bucket_splits={"0": 2},
    )
    AX._write_artifact_sidecar(
        table, l2, ann.centroid_list, ann.codebook_list,
        ann.id_shards, ann.max_bucket_rows, bucket_splits={"0": 2, "1": 4},
    )
    got = AX.load_ann_artifacts(table, state)
    assert got.version_label == l2
    assert got.split_tree == {"0": 2, "1": 4}
    assert got.geometry() == ann.geometry()


EXTENDS = [
    (DX.extend_dedup_index, "band_shard"),
    (SHX.extend_simhash_dedup_index, "band_shard"),
    (EX.extend_embedding_dedup_index, "band_shard"),
    (SDX.extend_semantic_dedup_index, "band_shard"),
    (AX.extend_ann_index, "bucket"),
    (CX.extend_dedup_clusters, "doc_shard"),
]

ARG_CHECKS = {
    "mode": ({"mode": "merge"}, "mode must be 'upsert' or 'append'"),
    "concurrency": ({"concurrency": "pessimistic"}, "concurrency must be"),
    "exclusive": ({"exclusive": True}, "exclusive=True needs"),
}


@pytest.mark.parametrize(
    "extend, part_col, kwargs, match",
    [
        pytest.param(extend, part_col, *ARG_CHECKS[case],
                     id=f"{extend.__name__}-{case}")
        for case in ARG_CHECKS
        for extend, part_col in EXTENDS
        # the cluster fold has no mode: it only ever upserts labels
        if not (case == "mode" and extend is CX.extend_dedup_clusters)
    ],
)
def test_extend_argument_checks_come_first(tmp_path, extend, part_col, kwargs, match):
    """Every extend entry point refuses a bad ``mode``, a bad
    ``concurrency`` and ``exclusive=True`` on a tracker without
    ``use_lock`` before it touches the batch (``df_new=None`` here — any
    Spark job would need it) or the log (the table was never
    initialized)."""
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    table = TableDefinition(
        TableName("db", "idx"), str(tmp_path / "idx"), PartitionSchema((part_col,))
    )
    with pytest.raises(ValueError, match=match):
        extend(None, table, tracker, **kwargs)
