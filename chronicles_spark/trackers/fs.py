"""Minimal filesystem facade for the file-backed tracker.

Mirrors the reference's PureFileSystem (files/src/main/scala/dev/chronicles/
files/PureFileSystem.scala:13-52: exists / mkdirs / read / write / list on a
Hadoop FileSystem) so the commit log can live on any storage a real lake
uses — local disk by default, ``memory://`` for tests, and any
fsspec-registered scheme (s3://, gs://, hdfs://, ...) when fsspec is
installed on the cluster.  All paths are plain strings; the facade is the
only place that touches storage.
"""

from __future__ import annotations

import abc
import posixpath
import threading
import time
from pathlib import Path
from typing import Dict, List, Tuple


class FileSystem(abc.ABC):
    """exists/mkdirs/read/write/list — the full surface the tracker needs."""

    @abc.abstractmethod
    def exists(self, path: str) -> bool: ...

    @abc.abstractmethod
    def mkdirs(self, path: str) -> None: ...

    @abc.abstractmethod
    def read_text(self, path: str) -> str: ...

    @abc.abstractmethod
    def write_text(self, path: str, text: str) -> None: ...

    @abc.abstractmethod
    def list_dir(self, path: str) -> List[str]:
        """Names (not full paths) of entries directly under ``path``;
        empty list if the directory doesn't exist."""

    @abc.abstractmethod
    def is_dir(self, path: str) -> bool: ...

    @abc.abstractmethod
    def remove_tree(self, path: str) -> None:
        """Recursively delete a directory (no-op if absent)."""

    @abc.abstractmethod
    def remove_file(self, path: str) -> None:
        """Delete a single file (no-op if absent)."""

    def mtime(self, path: str) -> "float | None":
        """Last-modified epoch seconds, or None when the backend does not
        track it (non-abstract default so wrappers/stubs keep working) —
        callers must treat None conservatively."""
        return None

    # -- binary blobs (artifact payload files: parquet quantizers) ----------
    # Optional capability: the artifact-payload path (operators/
    # artifact_payload.py) externalizes quantizer-scale geometry to
    # content-addressed parquet files next to the JSON sidecars.  A
    # backend without the capability keeps geometry inline (bounded by
    # ARTIFACT_JSON_MAX_BYTES) — a degrade, never an error.

    def supports_bytes(self) -> bool:
        """True iff :meth:`read_bytes`/:meth:`write_bytes` are available."""
        return False

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError(f"{type(self).__name__} has no binary reads")

    def write_bytes(self, path: str, data: bytes) -> None:
        raise NotImplementedError(f"{type(self).__name__} has no binary writes")

    # -- conditional put (atomic create-if-absent) --------------------------
    # The primitive behind multi-writer commit safety without a lock
    # service: S3 PutObject with `If-None-Match: *`, GCS preconditions
    # (ifGenerationMatch=0), Azure If-None-Match, HDFS create-no-overwrite,
    # POSIX link(2).  Backends that can't guarantee atomicity keep the
    # False default and the tracker refuses CAS mode up front.

    def supports_put_if_absent(self) -> bool:
        """True iff :meth:`write_text_if_absent` is ATOMIC on this backend
        (two racers → exactly one winner, full content visible at once)."""
        return False

    def write_text_if_absent(self, path: str, text: str) -> bool:
        """Create ``path`` with ``text`` only if it does not already exist.
        Returns True when THIS call created it, False when it existed.
        Only meaningful where :meth:`supports_put_if_absent` is True."""
        raise NotImplementedError(
            f"{type(self).__name__} has no atomic create-if-absent"
        )

    # -- conditional replace (compare-and-swap on an opaque token) ----------
    # The second object-store primitive: S3 PutObject + `If-Match: <etag>`,
    # GCS ifGenerationMatch=<generation>, Azure If-Match.  Closes the
    # head-pointer advance window that create-if-absent alone cannot
    # (head_ref is REPLACED on every commit, not created).

    def supports_put_if_match(self) -> bool:
        """True iff :meth:`write_text_if_match` is an ATOMIC compare-and-
        swap against the token from :meth:`read_text_and_token`."""
        return False

    def read_text_and_token(self, path: str) -> "tuple[str, object]":
        """(content, opaque CAS token) — the token identifies the exact
        object version read (ETag / generation / content hash)."""
        raise NotImplementedError(
            f"{type(self).__name__} has no token reads"
        )

    def write_text_if_match(self, path: str, text: str, token) -> bool:
        """Replace ``path`` with ``text`` only if it still carries
        ``token``.  ``token=None`` means "only if absent".  Returns True
        when THIS call performed the swap, False when the object moved
        (re-read and retry)."""
        raise NotImplementedError(
            f"{type(self).__name__} has no atomic compare-and-swap"
        )

    def join(self, *parts: str) -> str:
        return posixpath.join(*parts)


class LocalFileSystem(FileSystem):
    def exists(self, path: str) -> bool:
        return Path(path).exists()

    def mkdirs(self, path: str) -> None:
        Path(path).mkdir(parents=True, exist_ok=True)

    def read_text(self, path: str) -> str:
        return Path(path).read_text()

    def write_text(self, path: str, text: str) -> None:
        # atomic publish: head_ref is rewritten in place on every commit and
        # commit files become visible to `list_dir` the moment they exist, so
        # a plain truncate-then-write lets a concurrent reader (another
        # thread/process folding the log) observe an empty or partial JSON
        # file.  Write-to-temp + os.replace makes the content appear all at
        # once (POSIX rename atomicity).
        import os
        import tempfile

        p = Path(path)
        fd, tmp = tempfile.mkstemp(prefix=f".{p.name}.", dir=str(p.parent))
        try:
            with os.fdopen(fd, "w") as f:
                f.write(text)
            os.replace(tmp, path)
        except BaseException:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
            raise

    def list_dir(self, path: str) -> List[str]:
        p = Path(path)
        if not p.is_dir():
            return []
        return [c.name for c in p.iterdir()]

    def is_dir(self, path: str) -> bool:
        return Path(path).is_dir()

    def remove_tree(self, path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)

    def remove_file(self, path: str) -> None:
        Path(path).unlink(missing_ok=True)

    def mtime(self, path: str) -> "float | None":
        try:
            return Path(path).stat().st_mtime
        except OSError:
            return None

    def supports_put_if_absent(self) -> bool:
        return True

    def supports_put_if_match(self) -> bool:
        return True

    def supports_bytes(self) -> bool:
        return True

    def read_bytes(self, path: str) -> bytes:
        return Path(path).read_bytes()

    def write_bytes(self, path: str, data: bytes) -> None:
        # same atomic tmp+rename publish as write_text: payload files are
        # content-addressed and may be read the moment they are listed
        import os
        import tempfile

        p = Path(path)
        fd, tmp = tempfile.mkstemp(prefix=f".{p.name}.", dir=str(p.parent))
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        except BaseException:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
            raise

    def read_text_and_token(self, path: str) -> "tuple[str, object]":
        import hashlib

        text = Path(path).read_text()
        return text, hashlib.sha256(text.encode()).hexdigest()

    def write_text_if_match(self, path: str, text: str, token) -> bool:
        # POSIX has no native content-CAS; a per-path sidecar flock
        # brackets the compare + os.replace.  Honest for LocalFileSystem:
        # the whole filesystem is host-local, so host-local exclusion is
        # exactly the coherence domain (object stores do this server-side
        # via ETag If-Match instead).
        import fcntl
        import hashlib

        # dot-prefixed like flock mode's .commit_lock, so directory
        # listings/prefix matchers over the log dir never see it; left in
        # place for the table's lifetime (same precedent)
        p0 = Path(path)
        lock_path = str(p0.with_name(f".{p0.name}.caslock"))
        with open(lock_path, "a+") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                p = Path(path)
                if token is None:
                    if p.exists():
                        return False
                else:
                    try:
                        cur = p.read_text()
                    except FileNotFoundError:
                        return False
                    if hashlib.sha256(cur.encode()).hexdigest() != token:
                        return False
                self.write_text(path, text)  # atomic replace (tmp+rename)
                return True
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    def write_text_if_absent(self, path: str, text: str) -> bool:
        # write the full content to a temp file, then hard-link it to the
        # target: link(2) fails with EEXIST when the target exists, giving
        # an ATOMIC create-if-absent whose content appears all at once
        # (O_EXCL alone would expose a partially-written file to readers)
        import os
        import tempfile

        p = Path(path)
        fd, tmp = tempfile.mkstemp(prefix=f".{p.name}.", dir=str(p.parent))
        try:
            with os.fdopen(fd, "w") as f:
                f.write(text)
            try:
                os.link(tmp, path)
                return True
            except FileExistsError:
                return False
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def join(self, *parts: str) -> str:
        return str(Path(parts[0]).joinpath(*parts[1:]))


class MemoryFileSystem(FileSystem):
    """Dict-backed store, shared per-bucket across instances (like fsspec's
    global memory filesystem) so a second tracker instance opened on the
    same ``memory://bucket/...`` URL sees the same log."""

    _buckets: Dict[str, Dict[str, str]] = {}
    _dirs: Dict[str, set] = {}
    _mtimes: Dict[str, Dict[str, float]] = {}
    # parent path → names of its direct files and dirs, so a listing
    # costs O(children), not O(keys in the bucket)
    _children: Dict[str, Dict[str, set]] = {}
    # RLock: write_text calls mkdirs while holding the lock
    _lock = threading.RLock()

    def __init__(self, bucket: str) -> None:
        with MemoryFileSystem._lock:
            self._files = MemoryFileSystem._buckets.setdefault(bucket, {})
            self._d = MemoryFileSystem._dirs.setdefault(bucket, set())
            self._mt = MemoryFileSystem._mtimes.setdefault(bucket, {})
            self._kids = MemoryFileSystem._children.setdefault(bucket, {})
            self._gens = MemoryFileSystem._gens.setdefault(bucket, {})

    def _link(self, p: str) -> None:
        """Enter ``p`` in its parent's children (callers hold the lock)."""
        self._kids.setdefault(posixpath.dirname(p), set()).add(
            posixpath.basename(p)
        )

    def _unlink(self, p: str) -> None:
        """Drop ``p`` from its parent's children once it is neither a file
        nor a dir (callers hold the lock)."""
        if p in self._files or p in self._d:
            return
        kids = self._kids.get(posixpath.dirname(p))
        if kids is not None:
            kids.discard(posixpath.basename(p))

    @staticmethod
    def _norm(path: str) -> str:
        return posixpath.normpath(path).lstrip("/")

    def exists(self, path: str) -> bool:
        p = self._norm(path)
        return p in self._files or p in self._d

    def mkdirs(self, path: str) -> None:
        p = self._norm(path)
        with MemoryFileSystem._lock:
            while p and p != ".":
                self._d.add(p)
                self._link(p)
                p = posixpath.dirname(p)

    def read_text(self, path: str) -> str:
        p = self._norm(path)
        if p not in self._files:
            raise FileNotFoundError(path)
        v = self._files[p]
        if isinstance(v, (bytes, bytearray)):
            raise ValueError(f"{path} holds binary data; use read_bytes")
        return v

    def write_text(self, path: str, text: str) -> None:
        p = self._norm(path)
        with MemoryFileSystem._lock:
            parent = posixpath.dirname(p)
            if parent:
                self.mkdirs(parent)
            self._files[p] = text
            self._link(p)
            self._mt[p] = time.time()
            self._gens[p] = self._gens.get(p, 0) + 1  # EVERY write is a new generation

    def supports_put_if_absent(self) -> bool:
        return True

    def write_text_if_absent(self, path: str, text: str) -> bool:
        p = self._norm(path)
        with MemoryFileSystem._lock:
            if p in self._files:
                return False
            self.write_text(path, text)
            return True

    # binary blobs share the file map (one namespace, like a real store);
    # the two read methods police the type so a text reader can never
    # silently receive payload bytes
    def supports_bytes(self) -> bool:
        return True

    def read_bytes(self, path: str) -> bytes:
        p = self._norm(path)
        if p not in self._files:
            raise FileNotFoundError(path)
        v = self._files[p]
        return v if isinstance(v, (bytes, bytearray)) else v.encode()

    def write_bytes(self, path: str, data: bytes) -> None:
        p = self._norm(path)
        with MemoryFileSystem._lock:
            parent = posixpath.dirname(p)
            if parent:
                self.mkdirs(parent)
            self._files[p] = bytes(data)
            self._link(p)
            self._mt[p] = time.time()
            self._gens[p] = self._gens.get(p, 0) + 1

    # token CAS: the per-path "generation" is the write count (the same
    # model as GCS object generations), one map per bucket
    _gens: Dict[str, Dict[str, int]] = {}

    def supports_put_if_match(self) -> bool:
        return True

    def read_text_and_token(self, path: str) -> "tuple[str, object]":
        p = self._norm(path)
        with MemoryFileSystem._lock:
            if p not in self._files:
                raise FileNotFoundError(path)
            return self._files[p], self._gens.get(p, 0)

    def write_text_if_match(self, path: str, text: str, token) -> bool:
        p = self._norm(path)
        with MemoryFileSystem._lock:
            if token is None:
                if p in self._files:
                    return False
            else:
                if p not in self._files or self._gens.get(p, 0) != token:
                    return False
            self.write_text(path, text)  # bumps the generation
            return True

    def mtime(self, path: str) -> "float | None":
        # files only (matching object stores: directory prefixes have no
        # LastModified) — exercises callers' newest-child fallback paths
        return self._mt.get(self._norm(path))

    def list_dir(self, path: str) -> List[str]:
        p = self._norm(path)
        with MemoryFileSystem._lock:
            return sorted(self._kids.get(p, ()))

    def is_dir(self, path: str) -> bool:
        return self._norm(path) in self._d

    def remove_tree(self, path: str) -> None:
        p = self._norm(path)
        with MemoryFileSystem._lock:
            for known in list(self._files):
                if known == p or known.startswith(p + "/"):
                    del self._files[known]
                    self._mt.pop(known, None)
            for known in list(self._d):
                if known == p or known.startswith(p + "/"):
                    self._d.discard(known)
            for known in list(self._kids):
                if known == p or known.startswith(p + "/"):
                    for n in list(self._kids[known]):
                        self._unlink(posixpath.join(known, n))
                    if not self._kids[known]:
                        del self._kids[known]
            self._unlink(p)

    def remove_file(self, path: str) -> None:
        with MemoryFileSystem._lock:
            p = self._norm(path)
            self._files.pop(p, None)
            self._mt.pop(p, None)
            self._unlink(p)


class FsspecFileSystem(FileSystem):
    """Adapter over an fsspec filesystem (s3://, gs://, hdfs://, ...).
    Only constructed when fsspec is importable — clusters that talk to
    object stores have it; this container does not, and that's fine.

    ``conditional_put=True`` declares that mode-"x" opens on this backend
    are genuinely atomic server-side (S3 `If-None-Match: *` on current
    s3fs/boto3, GCS ``ifGenerationMatch=0``, Azure `If-None-Match`) —
    fsspec itself cannot promise this for every backend, so the caller
    who knows the deployment opts in explicitly.  Left False, CAS commit
    mode refuses the filesystem up front rather than racing unsafely."""

    def __init__(self, fs, conditional_put: bool = False) -> None:
        self._fs = fs
        self._conditional_put = bool(conditional_put)

    def supports_put_if_absent(self) -> bool:
        return self._conditional_put

    def write_text_if_absent(self, path: str, text: str) -> bool:
        if not self._conditional_put:
            return super().write_text_if_absent(path, text)  # raises
        try:
            with self._fs.open(path, "x") as f:
                f.write(text)
            return True
        except FileExistsError:
            return False
        except Exception as put_err:
            # object-store precondition failures (HTTP 412) surface at
            # close() time as backend-specific errors (ClientError/OSError
            # on s3fs, depending on version), not FileExistsError.  If the
            # object now exists, read it back to disambiguate: OUR bytes
            # mean the put actually succeeded server-side and only the
            # client response was lost (returning False there would make
            # the commit retry loop publish the same commit twice at two
            # sequence slots); different bytes are a lost race.  If the
            # disambiguating read ALSO fails, the outcome is genuinely
            # indeterminate — surface the original error rather than
            # silently choosing retry (which risks the duplicate) or
            # success (which risks claiming another writer's slot).
            if self._fs.exists(path):
                try:
                    with self._fs.open(path, "r") as f:
                        cur = f.read()
                except Exception as read_err:
                    # indeterminate: surface the ORIGINAL put error (with
                    # the read failure chained) — caller decides, we never
                    # guess between duplicate-retry and slot-stealing
                    raise put_err from read_err
                return cur == text
            raise

    def exists(self, path: str) -> bool:
        return self._fs.exists(path)

    def mkdirs(self, path: str) -> None:
        self._fs.makedirs(path, exist_ok=True)

    def read_text(self, path: str) -> str:
        with self._fs.open(path, "r") as f:
            return f.read()

    def write_text(self, path: str, text: str) -> None:
        with self._fs.open(path, "w") as f:
            f.write(text)

    def supports_bytes(self) -> bool:
        return True

    def read_bytes(self, path: str) -> bytes:
        with self._fs.open(path, "rb") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        with self._fs.open(path, "wb") as f:
            f.write(data)

    def list_dir(self, path: str) -> List[str]:
        if not self._fs.exists(path):
            return []
        return [posixpath.basename(p.rstrip("/")) for p in self._fs.ls(path, detail=False)]

    def is_dir(self, path: str) -> bool:
        return self._fs.isdir(path)

    def remove_tree(self, path: str) -> None:
        if self._fs.exists(path):
            self._fs.rm(path, recursive=True)

    def remove_file(self, path: str) -> None:
        if self._fs.exists(path):
            self._fs.rm(path)

    def mtime(self, path: str) -> "float | None":
        try:
            info = self._fs.info(path)
        except (FileNotFoundError, OSError):
            return None
        ts = info.get("mtime") or info.get("LastModified")
        if ts is None:
            return None
        if hasattr(ts, "timestamp"):
            return ts.timestamp()
        return float(ts)


class BotoS3FileSystem(FileSystem):
    """Direct boto3-backed S3 filesystem — the no-fsspec path to a real
    object store.  Paths are full ``s3://bucket/key`` URLs.

    Conditional put maps to the REAL S3 primitive: ``PutObject`` with
    ``If-None-Match: *`` (generally available on S3 since 2024; honoured
    by MinIO and moto ≥5), whose losing writer gets HTTP 412
    ``PreconditionFailed`` — exactly the rename-if-absent semantics the
    CAS commit protocol (trackers/files.py) needs, with the same
    lost-response disambiguation as the fsspec adapter: if the put
    errors but the object now holds OUR bytes, the put actually landed
    and only the response was lost.

    ``endpoint_url`` (or ``CHRONICLES_S3_ENDPOINT`` /
    ``AWS_ENDPOINT_URL_S3`` in the environment) points the client at a
    local MinIO/moto for integration tests; credentials follow the
    standard boto3 chain.  S3 has no directories: ``mkdirs`` is a no-op,
    ``is_dir``/``list_dir`` are prefix queries with ``/`` delimiter, and
    ``remove_tree`` is a batched prefix delete."""

    def __init__(self, endpoint_url: "str | None" = None, client=None) -> None:
        if client is not None:
            self._s3 = client
        else:
            import os as _os

            import boto3  # noqa: F401 — import error surfaces to caller

            endpoint_url = (
                endpoint_url
                or _os.environ.get("CHRONICLES_S3_ENDPOINT")
                or _os.environ.get("AWS_ENDPOINT_URL_S3")
            )
            self._s3 = boto3.client("s3", endpoint_url=endpoint_url)

    @staticmethod
    def _split(path: str) -> Tuple[str, str]:
        if not path.startswith("s3://"):
            raise ValueError(f"BotoS3FileSystem paths are s3:// URLs, got {path!r}")
        bucket, _, key = path[len("s3://"):].partition("/")
        return bucket, key

    def _client_error_code(self, err) -> str:
        return getattr(err, "response", {}).get("Error", {}).get("Code", "")

    def exists(self, path: str) -> bool:
        from botocore.exceptions import ClientError

        bucket, key = self._split(path)
        try:
            self._s3.head_object(Bucket=bucket, Key=key)
            return True
        except ClientError:
            pass
        # a "directory": any key under the prefix
        r = self._s3.list_objects_v2(
            Bucket=bucket, Prefix=key.rstrip("/") + "/", MaxKeys=1
        )
        return r.get("KeyCount", 0) > 0

    def mkdirs(self, path: str) -> None:
        pass  # S3 has no directories; prefixes exist implicitly

    def read_text(self, path: str) -> str:
        from botocore.exceptions import ClientError

        bucket, key = self._split(path)
        try:
            body = self._s3.get_object(Bucket=bucket, Key=key)["Body"]
        except ClientError as e:
            # facade contract: a missing file is FileNotFoundError, the
            # signal every degrade-to-fallback path (checkpoints, heads,
            # sidecars) already catches
            if self._client_error_code(e) in ("NoSuchKey", "404", "NotFound"):
                raise FileNotFoundError(path) from e
            raise
        return body.read().decode("utf-8")

    def write_text(self, path: str, text: str) -> None:
        bucket, key = self._split(path)
        self._s3.put_object(Bucket=bucket, Key=key, Body=text.encode("utf-8"))

    def supports_bytes(self) -> bool:
        return True

    def read_bytes(self, path: str) -> bytes:
        from botocore.exceptions import ClientError

        bucket, key = self._split(path)
        try:
            body = self._s3.get_object(Bucket=bucket, Key=key)["Body"]
        except ClientError as e:
            if self._client_error_code(e) in ("NoSuchKey", "404", "NotFound"):
                raise FileNotFoundError(path) from e
            raise
        return body.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        bucket, key = self._split(path)
        self._s3.put_object(Bucket=bucket, Key=key, Body=bytes(data))

    def supports_put_if_absent(self) -> bool:
        return True

    def write_text_if_absent(self, path: str, text: str) -> bool:
        from botocore.exceptions import ClientError

        bucket, key = self._split(path)
        try:
            self._s3.put_object(
                Bucket=bucket, Key=key, Body=text.encode("utf-8"), IfNoneMatch="*"
            )
            return True
        except ClientError as put_err:
            code = self._client_error_code(put_err)
            if code not in ("PreconditionFailed", "ConditionalRequestConflict"):
                raise
            # same lost-response disambiguation as FsspecFileSystem: our
            # own bytes there = the put landed and the 412 raced our
            # retry of a lost response; other bytes = a genuinely lost race
            # (read_text translates NoSuchKey to FileNotFoundError — the
            # object vanishing after the 412 means the slot is free
            # again: report failure so the CAS loop retries)
            try:
                cur = self.read_text(path)
            except FileNotFoundError:
                return False
            except ClientError as read_err:
                raise put_err from read_err
            return cur == text

    def list_dir(self, path: str) -> List[str]:
        bucket, key = self._split(path)
        prefix = key.rstrip("/") + "/" if key else ""
        names: List[str] = []
        token = None
        while True:
            kw = {"Bucket": bucket, "Prefix": prefix, "Delimiter": "/"}
            if token:
                kw["ContinuationToken"] = token
            r = self._s3.list_objects_v2(**kw)
            names += [
                posixpath.basename(c["Key"])
                for c in r.get("Contents", [])
                if c["Key"] != prefix
            ]
            names += [
                posixpath.basename(p["Prefix"].rstrip("/"))
                for p in r.get("CommonPrefixes", [])
            ]
            token = r.get("NextContinuationToken")
            if not token:
                break
        return names

    def is_dir(self, path: str) -> bool:
        bucket, key = self._split(path)
        r = self._s3.list_objects_v2(
            Bucket=bucket, Prefix=key.rstrip("/") + "/", MaxKeys=1
        )
        return r.get("KeyCount", 0) > 0

    def remove_tree(self, path: str) -> None:
        bucket, key = self._split(path)
        prefix = key.rstrip("/") + "/"
        token = None
        while True:
            kw = {"Bucket": bucket, "Prefix": prefix}
            if token:
                kw["ContinuationToken"] = token
            r = self._s3.list_objects_v2(**kw)
            objs = [{"Key": c["Key"]} for c in r.get("Contents", [])]
            if objs:
                self._s3.delete_objects(Bucket=bucket, Delete={"Objects": objs})
            token = r.get("NextContinuationToken")
            if not token:
                break
        # the bare-key object too (rare: a file where a dir was expected)
        self._s3.delete_object(Bucket=bucket, Key=key)

    def remove_file(self, path: str) -> None:
        bucket, key = self._split(path)
        self._s3.delete_object(Bucket=bucket, Key=key)

    def mtime(self, path: str) -> "float | None":
        from botocore.exceptions import ClientError

        bucket, key = self._split(path)
        try:
            ts = self._s3.head_object(Bucket=bucket, Key=key)["LastModified"]
        except ClientError:
            return None
        return ts.timestamp()

    def join(self, *parts: str) -> str:
        out = parts[0].rstrip("/")
        for p in parts[1:]:
            out += "/" + p.strip("/")
        return out


def filesystem_for(url: str) -> Tuple[FileSystem, str]:
    """URL/path → (filesystem, root path within it).

    * no scheme → local filesystem
    * ``memory://bucket/path`` → shared in-memory store (tests)
    * ``s3://`` → fsspec if installed, else the direct boto3 backend
    * any other scheme → fsspec (raises a clear error if not installed)
    """
    if "://" not in url:
        return LocalFileSystem(), url
    scheme, rest = url.split("://", 1)
    if scheme == "memory":
        bucket, _, path = rest.partition("/")
        return MemoryFileSystem(bucket), path or "root"
    try:
        import fsspec  # type: ignore
    except ImportError as e:
        if scheme == "s3":
            try:
                return BotoS3FileSystem(), url
            except ImportError:
                pass
        raise ImportError(
            f"scheme {scheme!r} needs the fsspec package (not installed); "
            "use a local path or memory:// instead"
        ) from e
    return FsspecFileSystem(fsspec.filesystem(scheme)), url
