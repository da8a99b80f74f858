"""MemoryFileSystem's per-bucket children index: ``list_dir`` answers
from a parent → children map kept by every mutation, and must equal the
walk over every file and directory key of the bucket that it replaced."""

import posixpath
import random
import uuid

from chronicles_spark.trackers.fs import MemoryFileSystem


def _walk_listing(fs, path):
    """The listing as a walk over the whole bucket computes it."""
    p = fs._norm(path)
    return sorted(
        {
            posixpath.basename(k)
            for k in list(fs._files) + list(fs._d)
            if k != p and posixpath.dirname(k) == p
        }
    )


def test_list_dir_index_equals_bucket_walk_seeded():
    """Seeded differential: random writes (text and bytes, conditional
    and token-CAS), mkdirs, file removals and nested remove_tree calls,
    issued through two instances on one bucket; after every step each
    instance's listing of every known directory (and of the root, a
    file and a missing path) equals the walk."""
    bucket = f"idx-{uuid.uuid4().hex}"
    a, b = MemoryFileSystem(bucket), MemoryFileSystem(bucket)
    rng = random.Random(1234)
    dirs = ["r", "r/x", "r/x/y", "r/z", "q", "r/x/y/w"]
    names = ["f1", "f2.json", "g", "x", "y"]

    def rand_path():
        return f"/{rng.choice(dirs)}/{rng.choice(names)}"

    for step in range(1500):
        fs = rng.choice((a, b))
        op = rng.random()
        path = rand_path()
        if op < 0.3:
            fs.write_text(path, f"t{step}")
        elif op < 0.4:
            fs.write_bytes(path, b"\x00\x01")
        elif op < 0.5:
            fs.write_text_if_absent(path, "first")
        elif op < 0.55:
            try:
                _, token = fs.read_text_and_token(path)
            except (FileNotFoundError, ValueError):
                token = None
            fs.write_text_if_match(path, "swapped", token)
        elif op < 0.65:
            fs.mkdirs("/" + rng.choice(dirs) + "/" + rng.choice(names))
        elif op < 0.85:
            fs.remove_file(path)
        elif op < 0.93:
            fs.remove_tree("/" + rng.choice(dirs))
        else:
            fs.remove_file("/" + rng.choice(dirs))  # a dir: a no-op
        probes = {"", "/", "/r/x/f1", "/nope", "/r/x/y/w/deeper"}
        probes.update("/" + k for k in fs._d)
        for p in probes:
            want = _walk_listing(a, p)
            assert a.list_dir(p) == want, (step, p)
            assert b.list_dir(p) == want, (step, p)


def test_remove_tree_unlinks_nested_dirs_and_keeps_siblings():
    bucket = f"idx-{uuid.uuid4().hex}"
    fs = MemoryFileSystem(bucket)
    fs.write_text("/t/a/b/c/f", "1")
    fs.write_text("/t/a/b/g", "2")
    fs.write_text("/t/ab/h", "3")  # shares a name prefix with /t/a
    fs.mkdirs("/t/a/empty")
    fs.remove_tree("/t/a")
    assert fs.list_dir("/t") == ["ab"]
    assert fs.list_dir("/t/a") == [] and fs.list_dir("/t/a/b") == []
    assert fs.list_dir("/t/ab") == ["h"]
    assert MemoryFileSystem(bucket).list_dir("/t") == ["ab"]
    fs.write_text("/t/a/new", "4")  # a re-created tree lists afresh
    assert fs.list_dir("/t") == ["a", "ab"] and fs.list_dir("/t/a") == ["new"]


def test_token_cas_generations_are_per_bucket():
    """Two buckets never share a path's write generation."""
    one = MemoryFileSystem(f"gen-{uuid.uuid4().hex}")
    two = MemoryFileSystem(f"gen-{uuid.uuid4().hex}")
    one.write_text("/p", "a")
    one.write_text("/p", "b")
    two.write_text("/p", "c")
    _, t1 = one.read_text_and_token("/p")
    _, t2 = two.read_text_and_token("/p")
    assert (t1, t2) == (2, 1)
    assert not two.write_text_if_match("/p", "x", t1)
    assert two.write_text_if_match("/p", "x", t2)
