"""Layer probes, built from outside the program: subclasses and facades
that time or count the calls into each layer's public surface.  The
program's own code is not changed; a traced run swaps these in where an
untraced run uses the plain classes.
"""

from __future__ import annotations

import json
import os
import threading
from typing import Dict, List

from chronicles_spark.spark.metastore import InMemoryMetastore
from chronicles_spark.trackers import FileBackedVersionTracker
from chronicles_spark.trackers.fs import FileSystem, filesystem_for

from harness import Tracer

# tracker calls that append to the log or move its head, and calls that
# only read it; only the outermost call of a nest is timed
TRACKER_COMMIT_CALLS = ("commit", "commit_group", "set_current_version")
TRACKER_RESOLVE_CALLS = (
    "current_version", "version_at", "table_state", "updates",
    "commit_at_timestamp", "head_commit_id", "head_resolution", "tables",
    "update_seqs", "updates_in_seq_range", "update_count", "updates_slice",
    "tags", "version_at_tag", "is_snapshot_table",
)


def _timed_tracker_method(name: str, layer: str):
    base = getattr(FileBackedVersionTracker, name)

    def wrapper(self, *args, **kwargs):
        depth = self._depth
        if getattr(depth, "n", 0):
            return base(self, *args, **kwargs)
        depth.n = 1
        try:
            with self._tracer.span(layer):
                return base(self, *args, **kwargs)
        finally:
            depth.n = 0

    wrapper.__name__ = name
    wrapper.__doc__ = base.__doc__
    return wrapper


class TimedFilesTracker(FileBackedVersionTracker):
    """Files tracker whose outermost public calls open a
    ``trackers.commit`` or ``trackers.resolve`` span."""

    def __init__(self, root: str, tracer: Tracer, **kwargs) -> None:
        self._tracer = tracer
        self._depth = threading.local()  # nesting level per thread
        super().__init__(root, **kwargs)


for _n in TRACKER_COMMIT_CALLS:
    setattr(TimedFilesTracker, _n, _timed_tracker_method(_n, "trackers.commit"))
for _n in TRACKER_RESOLVE_CALLS:
    setattr(TimedFilesTracker, _n, _timed_tracker_method(_n, "trackers.resolve"))


class CountingFs(FileSystem):
    """Facade over a tracker filesystem counting reads, listings and
    writes with their bytes and directory entries."""

    KEYS = ("reads", "read_bytes", "lists", "dirents", "writes", "write_bytes")

    def __init__(self, inner: FileSystem) -> None:
        self.inner = inner
        self.n: Dict[str, int] = dict.fromkeys(self.KEYS, 0)

    def _read(self, out):
        self.n["reads"] += 1
        self.n["read_bytes"] += len(out)
        return out

    def _wrote(self, data) -> None:
        self.n["writes"] += 1
        self.n["write_bytes"] += len(data)

    def exists(self, path):
        return self.inner.exists(path)

    def mkdirs(self, path):
        return self.inner.mkdirs(path)

    def read_text(self, path):
        return self._read(self.inner.read_text(path))

    def write_text(self, path, text):
        self._wrote(text)
        return self.inner.write_text(path, text)

    def list_dir(self, path):
        out = self.inner.list_dir(path)
        self.n["lists"] += 1
        self.n["dirents"] += len(out)
        return out

    def is_dir(self, path):
        return self.inner.is_dir(path)

    def remove_tree(self, path):
        return self.inner.remove_tree(path)

    def remove_file(self, path):
        return self.inner.remove_file(path)

    def mtime(self, path):
        return self.inner.mtime(path)

    def supports_bytes(self):
        return self.inner.supports_bytes()

    def read_bytes(self, path):
        return self._read(self.inner.read_bytes(path))

    def write_bytes(self, path, data):
        self._wrote(data)
        return self.inner.write_bytes(path, data)

    def supports_put_if_absent(self):
        return self.inner.supports_put_if_absent()

    def write_text_if_absent(self, path, text):
        self._wrote(text)
        return self.inner.write_text_if_absent(path, text)

    def supports_put_if_match(self):
        return self.inner.supports_put_if_match()

    def read_text_and_token(self, path):
        text, token = self.inner.read_text_and_token(path)
        self._read(text)
        return text, token

    def write_text_if_match(self, path, text, token):
        self._wrote(text)
        return self.inner.write_text_if_match(path, text, token)

    def join(self, *parts):
        return self.inner.join(*parts)


def make_tracker(root: str, tracer: Tracer):
    """A files tracker at ``root`` (a path or a ``memory://`` URL) over a
    counting facade of its filesystem, and the facade.  A traced run gets
    the timed subclass."""
    fs, path = filesystem_for(root)
    counting = CountingFs(fs)
    if tracer.enabled:
        return TimedFilesTracker(path, tracer, fs=counting), counting
    return FileBackedVersionTracker(path, fs=counting), counting


class TimedInMemoryMetastore(InMemoryMetastore):
    """In-memory metastore whose resolve and update calls open
    ``metastore.resolve`` and ``metastore.update`` spans."""

    def __init__(self, tracer: Tracer) -> None:
        super().__init__()
        self._tracer = tracer

    def current_version(self, table):
        with self._tracer.span("metastore.resolve"):
            return super().current_version(table)

    def update(self, table, changes) -> None:
        with self._tracer.span("metastore.update"):
            super().update(table, changes)


# ---------------------------------------------------------------------------
# Spark event log


def read_event_log(directory: str) -> List[dict]:
    """Jobs of a stopped session's event log:
    ``[{"group", "start", "end"}]`` with epoch-second times."""
    jobs: Dict[int, dict] = {}
    files = sorted(os.path.join(d, n) for d, _, names in os.walk(directory)
                   for n in names if n.startswith("events_"))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
    return [j for j in jobs.values() if j["end"] is not None]


def union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
