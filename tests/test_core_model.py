"""Pure-logic unit tests, mirroring the reference's ModelSpec / VersionSpec /
VersionPathsSpec / MonotonicClockSpec fixtures (see FIXTURES.md F6)."""

import uuid
from datetime import datetime

import pytest

from chronicles_spark.core import paths
from chronicles_spark.core.clock import MonotonicClock
from chronicles_spark.core.model import Partition, TableName
from chronicles_spark.core.version import (
    UNVERSIONED,
    Version,
    generate_version,
    is_valid_label,
    make_label,
    parse_version,
)


# --- partitions (ModelSpec.scala:33-59) ------------------------------------

@pytest.mark.parametrize(
    "s,cols",
    [
        ("date=2019-01-31", (("date", "2019-01-31"),)),
        (
            "event_date=2019-01-30/processed_date=2019-01-31",
            (("event_date", "2019-01-30"), ("processed_date", "2019-01-31")),
        ),
        ("year=2019/month=01/day=31", (("year", "2019"), ("month", "01"), ("day", "31"))),
        ("date_2=2019-01-31", (("date_2", "2019-01-31"),)),
    ],
)
def test_partition_parse_valid(s, cols):
    p = Partition.parse(s)
    assert p.column_values == cols
    assert p.path == s  # round trip


@pytest.mark.parametrize("s", ["invalid partition string", "invalid partition string=42", "/", ""])
def test_partition_parse_invalid(s):
    with pytest.raises(ValueError):
        Partition.parse(s)


def test_partition_resolve_and_hive_expr():
    p = Partition.parse("event_date=2019-01-30/processed_date=2019-01-31")
    assert p.resolve_path("s3://bucket/t/") == "s3://bucket/t/event_date=2019-01-30/processed_date=2019-01-31"
    # SparkHiveMetastoreSpec.scala:31-56
    assert p.hive_expr() == "(event_date='2019-01-30',processed_date='2019-01-31')"
    assert Partition.parse("date=2019-01-30").hive_expr() == "(date='2019-01-30')"


def test_partition_parse_memo_equals_fresh_instances():
    """Memoized parses are equal, and hash-equal, to freshly built
    partitions, so they mix with them as dict keys."""
    s = "event_date=2019-01-30/processed_date=2019-01-31"
    fresh = Partition.of(("event_date", "2019-01-30"), ("processed_date", "2019-01-31"))
    a, b = Partition.parse(s), Partition.parse(s)
    assert a == b == fresh
    assert hash(a) == hash(b) == hash(fresh)
    assert {fresh: 1}[a] == 1
    assert a.path == fresh.path == s


def test_partition_parse_invalid_raises_every_call():
    for _ in range(2):
        with pytest.raises(ValueError, match="invalid partition string"):
            Partition.parse("no-equals-sign")


def test_partition_parse_memo_stops_adding_when_full(monkeypatch):
    """Past its bound the memo keeps what it holds and adds nothing; the
    strings beyond it still parse correctly, to fresh instances."""
    from chronicles_spark.core import model

    monkeypatch.setattr(model, "_PARSE_MEMO", {})
    monkeypatch.setattr(model, "_PARSE_MEMO_MAX", 3)
    strings = [f"day={i}" for i in range(6)]
    first = [Partition.parse(s) for s in strings]
    again = [Partition.parse(s) for s in strings]
    assert len(model._PARSE_MEMO) == 3
    assert all(a is b for a, b in zip(first[:3], again[:3]))
    assert all(a is not b and a == b for a, b in zip(first[3:], again[3:]))
    assert [p.path for p in again] == strings


def test_partition_path_survives_pickle():
    import pickle

    computed = Partition.parse("year=2019/month=01")
    assert computed.path == "year=2019/month=01"  # cached before pickling
    untouched = Partition.of(("day", "31"))
    for p in (computed, untouched):
        q = pickle.loads(pickle.dumps(p))
        assert q == p and hash(q) == hash(p)
        assert q.path == "/".join(f"{k}={v}" for k, v in q.column_values)


# --- table names (ModelSpec.scala:67-87) -----------------------------------

def test_table_name_parse():
    t = TableName.parse("schema.table")
    assert (t.schema, t.name) == ("schema", "table")
    for bad in ["", "foo", "foo.bar.baz", "foo.", ".foo"]:
        with pytest.raises(ValueError):
            TableName.parse(bad)


# --- versions (VersionSpec.scala:24-53) ------------------------------------

VALID_LABEL = "20181102-235912.987654321-4920d06f-2233-4b4a-9521-8e730eee89c5"


def test_version_label_parse():
    assert parse_version(VALID_LABEL).label == VALID_LABEL
    assert parse_version("") is UNVERSIONED
    for bad in ["invalidLabel", "20181102-235900-foobar"]:
        with pytest.raises(ValueError):
            parse_version(bad)
    assert not is_valid_label("invalidLabel")


def test_generate_version_parses_and_is_unique():
    vs = {generate_version().label for _ in range(50)}
    assert len(vs) == 50
    for v in vs:
        assert is_valid_label(v)


def test_make_label_format():
    u = uuid.UUID("4920d06f-2233-4b4a-9521-8e730eee89c5")
    lbl = make_label(datetime(2018, 11, 2, 23, 59, 12), 987654321, u)
    assert lbl == VALID_LABEL


# --- version paths (VersionPathsSpec.scala:13-47) --------------------------

def test_path_for_and_parse():
    v = Version(VALID_LABEL)
    p = paths.path_for("s3://bucket/pageview/date=2019-01-21", v)
    assert p == f"s3://bucket/pageview/date=2019-01-21/_version={VALID_LABEL}"
    assert paths.parse_version(p) == v
    assert paths.parse_version("s3://bucket/identity") is UNVERSIONED
    assert paths.versioned_to_base_path(p) == "s3://bucket/pageview/date=2019-01-21"
    assert paths.versioned_to_base_path("s3://bucket/x") == "s3://bucket/x"
    assert paths.path_for("s3://bucket/x", UNVERSIONED) == "s3://bucket/x"


# --- monotonic clock (MonotonicClockSpec.scala:9-22) -----------------------

def test_monotonic_clock_unique_increasing():
    c = MonotonicClock()
    ts = [c.next_timestamp_ms() for _ in range(1000)]
    assert ts == sorted(ts)
    assert len(set(ts)) == len(ts)


def test_partition_hash_is_cached_and_left_out_of_pickles():
    """The hash is computed once per instance and never pickled: another
    process seeds string hashes differently, so an unpickled partition
    must hash like a fresh equal one there."""
    import os
    import pickle
    import subprocess
    import sys

    p = Partition.parse("year=2019/month=02")
    h = hash(p)
    assert p.__dict__["_hash"] == h == hash(p)
    assert "_hash" not in p.__getstate__()
    q = pickle.loads(pickle.dumps(p))
    assert "_hash" not in q.__dict__ and hash(q) == hash(Partition.parse(p.path))
    assert {p: 1}[q] == 1
    code = (
        "import pickle, sys\n"
        "from chronicles_spark.core.model import Partition\n"
        "q = pickle.loads(sys.stdin.buffer.read())\n"
        "fresh = Partition.of(('year', '2019'), ('month', '02'))\n"
        "assert q == fresh and hash(q) == hash(fresh), 'stale hash'\n"
        "assert {fresh: 1}[q] == 1\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for seed in ("1", "2"):
        env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH=root)
        done = subprocess.run(
            [sys.executable, "-c", code], input=pickle.dumps(p),
            env=env, capture_output=True,
        )
        assert done.returncode == 0, done.stderr.decode()
