"""Geometry-sidecar size bound: the JSON sidecar is re-parsed on every
extend/load base resolution, so quantizer-scale payloads (a 10⁵-cluster
× 768-dim SemDeDup quantizer is ~1.5 GB of JSON) must be refused loudly
at BUILD time — at the single sidecar write choke point every family
shares — instead of silently degrading every later extend."""

import pytest

from chronicles_spark.core.model import PartitionSchema, TableDefinition, TableName
from chronicles_spark.operators import dedup_index as di
from chronicles_spark.operators import ann_index as ai
from chronicles_spark.operators.dedup_index import DedupArtifacts


def _tdef(tmp_path, part="band_shard"):
    return TableDefinition(
        TableName("db", "idx"), str(tmp_path / "idx"), PartitionSchema((part,))
    )


class _Fake:
    """Stamped-artifact stub whose serialized JSON has an EXACT byte
    length (valid JSON — the writer parses it for payload
    externalization; no payload fields, so it always stays inline)."""

    def __init__(self, n_bytes):
        self.version_label = "v1"
        self._n = n_bytes

    def to_json(self):
        return '{"pad": "' + "x" * (self._n - 11) + '"}'


def test_oversized_sidecar_refused_and_nothing_written(tmp_path):
    td = _tdef(tmp_path)
    with pytest.raises(ValueError, match="sidecar bound"):
        di._write_artifact_sidecar(td, _Fake(di.ARTIFACT_JSON_MAX_BYTES + 1))
    idx = tmp_path / "idx"
    assert not idx.exists() or not list(idx.iterdir())


def test_exactly_at_bound_accepted(tmp_path, monkeypatch):
    monkeypatch.setattr(di, "ARTIFACT_JSON_MAX_BYTES", 1000)
    td = _tdef(tmp_path)
    di._write_artifact_sidecar(td, _Fake(1000))  # == bound: allowed
    with pytest.raises(ValueError, match="sidecar bound"):
        di._write_artifact_sidecar(td, _Fake(1001))


def test_normal_family_geometry_is_far_under_bound(tmp_path):
    td = _tdef(tmp_path)
    arts = DedupArtifacts(
        bands=16, rows=8, width=5, band_shards=64, doc_shards=64,
        version_label="v1",
    )
    assert len(arts.to_json()) < 1000
    di._write_artifact_sidecar(td, arts)  # no raise


def test_ann_sidecar_shares_the_bound(tmp_path, monkeypatch):
    monkeypatch.setattr(di, "ARTIFACT_JSON_MAX_BYTES", 500)
    td = _tdef(tmp_path, part="bucket")
    big_centroids = [(i, [0.125] * 32) for i in range(16)]  # > 500 bytes
    with pytest.raises(ValueError, match="sidecar bound"):
        ai._write_artifact_sidecar(td, "v1", big_centroids, [])
    small = [(0, [0.5, 0.5])]
    monkeypatch.setattr(di, "ARTIFACT_JSON_MAX_BYTES", 10_000)
    ai._write_artifact_sidecar(td, "v2", small, [])  # no raise


def test_oversized_family_sidecar_names_its_family(spark, tmp_path, monkeypatch):
    """The shared writer reports the family its caller names — not a
    generic 'index' — and refuses before any data is written."""
    from chronicles_spark.operators import simhash_index as SHX
    from chronicles_spark.trackers import FileBackedVersionTracker

    monkeypatch.setattr(di, "ARTIFACT_JSON_MAX_BYTES", 10)
    td = _tdef(tmp_path)
    tracker = FileBackedVersionTracker(str(tmp_path / "_log"))
    tracker.init_table(td.name, is_snapshot=False, user_id="t")
    docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    with pytest.raises(ValueError, match="simhash dedup geometry sidecar"):
        SHX.build_simhash_dedup_index(docs, td, tracker)
    assert tracker.current_version(td.name).partition_versions == {}


def test_sub_mb_refusal_reports_both_sizes_in_bytes(tmp_path, monkeypatch):
    """Both sizes in the refusal are exact byte counts in one unit, so a
    sub-MB bound does not round either of them to 0."""
    import re

    monkeypatch.setattr(di, "ARTIFACT_JSON_MAX_BYTES", 1000)
    with pytest.raises(ValueError, match="sidecar bound") as err:
        di._write_artifact_sidecar(_tdef(tmp_path), _Fake(1500))
    m = re.search(
        r"serializes to ([\d,]+) (\w+) \(> the sidecar bound of ([\d,]+) (\w+)\)",
        str(err.value),
    )
    assert m, str(err.value)
    size, size_unit, bound, bound_unit = m.groups()
    assert int(size.replace(",", "")) == 1500
    assert int(bound.replace(",", "")) == 1000
    assert size_unit == bound_unit == "bytes"
