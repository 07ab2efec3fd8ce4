"""Filesystem adapter for lifecycle/state file operations.

Every table-lifecycle operator in this package (partition detach/
attach/move/replace in sink.py, TTL markers, backup manifests,
streaming buffer commits in streaming/rates.py, committed-batch
markers in streaming/job.py, the schema-evolution sidecar in
evolve.py, skip-index directories, rollup freshness markers, the
query-result cache) needs a handful of small file operations next to
the parquet data Spark reads and writes. On one box those are
pathlib/os calls; on the cluster a 100 TB deployment actually runs
on, the table roots are ``hdfs://`` / ``s3a://`` / ``abfs://`` URIs
and raw ``os`` calls silently see "nothing there" (the fail-open
failure mode guards.py exists to prevent).

This module is the seam: one small FS interface with two
implementations, chosen per-path.

- :class:`LocalFS` — plain local paths (no scheme). pathlib/os/shutil;
  ``write_text_atomic`` is write-temp + ``os.replace`` (atomic), and
  ``create_exclusive`` is ``O_CREAT|O_EXCL`` (atomic).
- :class:`HadoopFS` — any URI-form path (``hdfs://``, ``s3a://``,
  ``file:/``, ...). Wraps the JVM's ``org.apache.hadoop.fs.FileSystem``
  obtained from the active SparkSession, so every store Spark itself
  can read/write is covered with zero new dependencies, and the exact
  same connector configuration (credentials, endpoints) applies.

Semantics notes, where stores genuinely differ:

- ``write_text_atomic``: LocalFS is rename-atomic. HadoopFS writes the
  final object in ONE ``create(overwrite=True)`` + close — atomic on
  object stores (PUT either lands whole or not at all); on HDFS a
  reader racing the close can see a short read, which surfaces as a
  loud parse error in every caller (all sidecars are JSON), never as
  silently-empty state. Rename-based publish is deliberately NOT used
  on object stores: their rename is copy+delete, leaving a
  missing-target window that DOES read as silently-empty. The ``file:``
  scheme is the exception both ways — RawLocalFileSystem's
  create(overwrite) is truncate-then-stream (concurrent writers
  interleave into corrupt bytes; observed in the DDL-lease race
  drives) while local rename-replace is atomic with no missing-target
  window — so local-scheme URIs publish via temp + ``os.replace``,
  matching LocalFS semantics exactly.
- ``create_exclusive`` (lock primitive): atomic on local disk
  (``O_CREAT|O_EXCL``) and on HDFS (namenode-serialized
  ``create(overwrite=false)``). On S3A and the other object-store
  connectors it is exists-check-then-PUT — NOT compare-and-set —
  so it must never be the sole guard there.
  ``supports_atomic_create`` reports which regime a path is in
  (conservative scheme allowlist for HadoopFS: only HDFS-family
  schemes answer True; s3a/gs/abfs/wasb/oss — and even ``file:``
  through Hadoop's RawLocalFileSystem, whose create(overwrite=false)
  is check-then-create — answer False). Callers that need a mutual-
  exclusion lock on a False store use the uuid-stamped lease protocol
  in evolve.py (write lease, read-back-verify, heartbeat while held,
  observed-silence takeover) instead
  of trusting create_exclusive.
- ``rename_no_replace`` (cache publish): both implementations fail if
  the destination exists, which callers treat as "lost the publish
  race — serve the winner's entry".

Reference parity note: the reference delegates all of this to
ClickHouse's MergeTree storage layer (parts live wherever the disk
config points, including S3-backed disks). This adapter is the Spark
engine's equivalent of that disk abstraction.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import uuid
from pathlib import Path
from typing import Iterator

__all__ = [
    "FS",
    "LocalFS",
    "HadoopFS",
    "get_fs",
    "is_uri",
    "join",
    "parent",
    "basename",
]


def is_uri(path: str) -> bool:
    """True when the path must go through Hadoop (scheme-qualified)."""
    p = str(path)
    return "://" in p or p.startswith("file:/")


def join(base: str, *parts: str) -> str:
    """POSIX-style join that works for both local paths and URIs
    (``Path /`` would mangle ``scheme://``)."""
    out = str(base).rstrip("/")
    for p in parts:
        out += "/" + str(p).strip("/")
    return out


def basename(path: str) -> str:
    return str(path).rstrip("/").rsplit("/", 1)[-1]


def parent(path: str) -> str:
    p = str(path).rstrip("/")
    head = p.rsplit("/", 1)[0]
    return head


def _is_hidden_segment(name: str) -> bool:
    """Spark's hiddenFileFilter: ``_``-prefixed names are hidden except
    ``key=value`` partition-style names (``_bid=3`` is data), and
    ``.``-prefixed names are ALWAYS hidden (Spark hides ``.k=v`` too —
    verified against its reader)."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


class FS:
    """The operation set lifecycle code needs. Paths are strings
    (local paths for LocalFS, URIs for HadoopFS)."""

    def canonical(self, path: str) -> str:
        """The path in the SAME spelling ``walk_files`` yields — callers
        that slice relative paths out of walked results must slice
        against this, never against their own spelling (``file:///x``
        vs the canonical ``file:/x`` would silently break the
        hidden-segment filter and every rel computation)."""
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def is_dir(self, path: str) -> bool:
        raise NotImplementedError

    def is_file(self, path: str) -> bool:
        raise NotImplementedError

    def mkdirs(self, path: str) -> None:
        raise NotImplementedError

    def list_names(self, path: str) -> list[str]:
        """Immediate child names (files and dirs), sorted."""
        raise NotImplementedError

    def walk_files(self, path: str) -> Iterator[tuple[str, int, int]]:
        """All files under ``path`` recursively as
        ``(full_path, size_bytes, mtime_ns)``, hidden dirs/files
        (``_``/``.`` prefixed) INCLUDED — callers filter."""
        raise NotImplementedError

    def glob_parquet(self, path: str, include_hidden: bool = False) -> list[str]:
        """Full paths of ``*.parquet`` files under ``path``, sorted.
        By default applies SPARK'S hidden-path rule (a segment starting
        with ``_`` or ``.`` is hidden UNLESS it contains ``=`` — so
        ``_temporary`` debris from a crashed write never reads as data,
        while deliberate ``_bid=N``-style partition dirs, which Spark
        itself reads, do)."""
        out = []
        base = self.canonical(path)
        for full, _size, _mt in self.walk_files(path):
            if not full.endswith(".parquet"):
                continue
            rel = full[len(base) :].lstrip("/")
            segs = rel.split("/")
            if not include_hidden and any(_is_hidden_segment(s) for s in segs):
                continue
            out.append(full)
        return sorted(out)

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        raise NotImplementedError

    def write_text_atomic(self, path: str, text: str) -> None:
        self.write_bytes_atomic(path, text.encode("utf-8"))

    def create_exclusive(self, path: str) -> None:
        """Create an empty file, failing with FileExistsError if it
        already exists. A correct lock primitive ONLY where
        ``supports_atomic_create`` is True."""
        raise NotImplementedError

    def supports_atomic_create(self, path: str) -> bool:
        """True when ``create_exclusive`` on this store is a real
        compare-and-set (two racing creators: exactly one wins).
        False means check-then-create under the hood — lock callers
        must use the lease protocol instead (evolve._ddl_lock)."""
        raise NotImplementedError

    def remove_file(self, path: str) -> None:
        raise NotImplementedError

    def delete_dir(self, path: str, ignore_missing: bool = True) -> None:
        raise NotImplementedError

    def rename_no_replace(self, src: str, dst: str) -> None:
        """Move ``src`` to ``dst``; FileExistsError if ``dst`` exists."""
        raise NotImplementedError

    def copy_file(self, src: str, dst: str) -> None:
        raise NotImplementedError

    def copy_tree(self, src: str, dst: str) -> None:
        """Recursive copy of a directory (dst created)."""
        self.mkdirs(dst)
        base = self.canonical(src)
        for full, _size, _mt in self.walk_files(src):
            rel = full[len(base) :].lstrip("/")
            target = join(dst, rel)
            tparent = parent(target)
            if tparent:
                self.mkdirs(tparent)
            self.copy_file(full, target)

    def file_size(self, path: str) -> int:
        raise NotImplementedError

    def open_seekable(self, path: str):
        """A read-only seekable binary file object — what pyarrow
        footer reads need (they seek to EOF-8, never scan the file, so
        on remote stores only footer-sized ranges transfer)."""
        raise NotImplementedError

    # JSON sidecar helpers (the dominant use)
    def read_json(self, path: str) -> dict:
        return json.loads(self.read_text(path))

    def write_json_atomic(self, path: str, obj: dict) -> None:
        self.write_text_atomic(path, json.dumps(obj))


class LocalFS(FS):
    """Plain local paths — pathlib/os/shutil, all-atomic primitives."""

    def canonical(self, path: str) -> str:
        # os.walk yields paths prefixed with exactly the argument
        # string, so the canonical form is the trimmed argument
        return str(path).rstrip("/")

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def is_file(self, path: str) -> bool:
        return os.path.isfile(path)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def list_names(self, path: str) -> list[str]:
        return sorted(os.listdir(path))

    def walk_files(self, path: str) -> Iterator[tuple[str, int, int]]:
        for dirpath, _dirs, files in os.walk(path):
            for f in files:
                full = os.path.join(dirpath, f)
                try:
                    st = os.stat(full)
                except OSError:
                    continue
                yield full, st.st_size, st.st_mtime_ns

    def read_bytes(self, path: str) -> bytes:
        return Path(path).read_bytes()

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        target = Path(path)
        # Temp name must be unique PER CALL, not per process: two
        # threads of one driver writing the same sidecar (e.g. both
        # staking a DDL lease) would otherwise share a pid-only temp
        # name — one replace wins, the other hits FileNotFoundError
        # and, worse, can publish the OTHER thread's bytes.
        tmp = target.with_name(
            f".{target.name}.tmp.{os.getpid()}.{uuid.uuid4().hex[:12]}"
        )
        tmp.write_bytes(data)
        os.replace(tmp, target)

    def create_exclusive(self, path: str) -> None:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)

    def supports_atomic_create(self, path: str) -> bool:
        return True  # O_CREAT|O_EXCL is a kernel compare-and-set

    def remove_file(self, path: str) -> None:
        os.unlink(path)

    def delete_dir(self, path: str, ignore_missing: bool = True) -> None:
        try:
            shutil.rmtree(path)
        except FileNotFoundError:
            if not ignore_missing:
                raise

    def rename_no_replace(self, src: str, dst: str) -> None:
        if os.path.exists(dst):
            raise FileExistsError(dst)
        # os.rename onto an existing EMPTY dir would succeed on POSIX
        # only if dst is empty; the exists() check above keeps the
        # contract uniform with HadoopFS.
        os.rename(src, dst)

    def copy_file(self, src: str, dst: str) -> None:
        shutil.copy2(src, dst)

    def copy_tree(self, src: str, dst: str) -> None:
        shutil.copytree(src, dst)

    def file_size(self, path: str) -> int:
        return os.stat(path).st_size

    def open_seekable(self, path: str):
        return open(path, "rb")


class HadoopFS(FS):
    """URI-form paths through the JVM's Hadoop ``FileSystem`` — the
    same connector stack Spark's own reads/writes use, so hdfs/s3a/gs/
    abfs/file all work with the session's existing configuration."""

    def __init__(self, spark=None) -> None:
        if spark is None:
            from pyspark.sql import SparkSession

            # getActiveSession is THREAD-LOCAL: lifecycle ops invoked
            # from a worker thread (e.g. two in-process drivers racing
            # a DDL lease in tests, or a foreachBatch callback thread)
            # would see None even though the JVM session is alive —
            # fall back to the process-wide instantiated session.
            spark = (
                SparkSession.getActiveSession()
                or SparkSession._instantiatedSession
            )
        if spark is None:
            raise RuntimeError(
                "HadoopFS needs an active SparkSession (URI-form table "
                "paths are resolved through the JVM Hadoop FileSystem)"
            )
        self._jvm = spark._jvm
        # resolved once: each JVM class lookup through py4j is a
        # roundtrip, and every operation below builds a Path
        self._Path = spark._jvm.org.apache.hadoop.fs.Path
        self._gateway = spark.sparkContext._gateway
        self._conf = spark._jsc.hadoopConfiguration()

    def _jpath(self, path: str):
        return self._Path(str(path))

    def _fs(self, jpath):
        return jpath.getFileSystem(self._conf)

    def canonical(self, path: str) -> str:
        # Hadoop statuses render as the FULLY QUALIFIED Path string
        # (scheme + authority + single-slash form) — 'file:///x' and
        # 'file:/x' both canonicalize to the same spelling walk_files
        # yields, so rel-slicing is spelling-independent
        p = self._jpath(path)
        fs = self._fs(p)
        return str(fs.makeQualified(p).toString()).rstrip("/")

    def exists(self, path: str) -> bool:
        p = self._jpath(path)
        return bool(self._fs(p).exists(p))

    def is_dir(self, path: str) -> bool:
        p = self._jpath(path)
        fs = self._fs(p)
        return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())

    def is_file(self, path: str) -> bool:
        p = self._jpath(path)
        fs = self._fs(p)
        return bool(fs.exists(p) and fs.getFileStatus(p).isFile())

    def mkdirs(self, path: str) -> None:
        p = self._jpath(path)
        self._fs(p).mkdirs(p)

    def list_names(self, path: str) -> list[str]:
        p = self._jpath(path)
        statuses = self._fs(p).listStatus(p)
        return sorted(s.getPath().getName() for s in statuses)

    def walk_files(self, path: str) -> Iterator[tuple[str, int, int]]:
        p = self._jpath(path)
        fs = self._fs(p)
        if not fs.exists(p):
            return
        it = fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            yield (
                st.getPath().toString(),
                int(st.getLen()),
                int(st.getModificationTime()) * 1_000_000,
            )

    def read_bytes(self, path: str) -> bytes:
        p = self._jpath(path)
        fs = self._fs(p)
        stream = fs.open(p)
        try:
            bos = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, bos, 65536, False
            )
            return bytes(bos.toByteArray())
        finally:
            stream.close()

    def write_bytes_atomic(self, path: str, data: bytes) -> None:
        # One create(overwrite=True) + close: atomic PUT on object
        # stores; on HDFS a racing reader can see a short read, which
        # every caller surfaces loudly (JSON parse error), never as
        # empty state. See module docstring for why rename-publish is
        # NOT used on object stores.
        #
        # file: is the exception BOTH ways: Hadoop's RawLocalFileSystem
        # create(overwrite) is truncate-then-stream — two concurrent
        # writers interleave into corrupt bytes (observed in the DDL
        # lease race drives) — while a local rename-replace IS atomic
        # with no missing-target window. So local-scheme paths publish
        # via temp file + os.replace (atomic on POSIX), matching LocalFS
        # semantics. Hadoop's create() would have made parent dirs
        # implicitly; os.makedirs keeps that contract on this branch.
        p = self._jpath(path)
        fs = self._fs(p)
        scheme = str(fs.makeQualified(p).toUri().getScheme())
        if scheme == "file":
            local = str(fs.makeQualified(p).toUri().getPath())
            d, name = os.path.split(local)
            os.makedirs(d, exist_ok=True)
            tmp = os.path.join(
                d, f".{name}.tmp.{os.getpid()}.{uuid.uuid4().hex[:12]}"
            )
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, local)
            return
        out = fs.create(p, True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()

    def create_exclusive(self, path: str) -> None:
        p = self._jpath(path)
        fs = self._fs(p)
        try:
            out = fs.create(p, False)
            out.close()
        except Exception as exc:  # py4j wraps FileAlreadyExistsException
            msg = str(exc)
            if "FileAlreadyExists" in msg or "already exists" in msg:
                raise FileExistsError(path) from None
            raise

    # Schemes where create(overwrite=false) is serialized by a real
    # metadata service (HDFS namenode / Ozone OM) and therefore IS a
    # compare-and-set. Everything else — s3a/gs/abfs/wasb/oss/cos, and
    # even file: through Hadoop's RawLocalFileSystem — implements it as
    # exists-check-then-create, which two racing drivers can both pass.
    # Conservative by design: an unknown scheme gets the lease protocol,
    # which is correct (just two settle-reads slower), whereas wrongly
    # trusting create_exclusive is the silent-corruption path.
    _ATOMIC_CREATE_SCHEMES = frozenset(
        {"hdfs", "viewfs", "webhdfs", "swebhdfs", "ofs", "o3fs"}
    )

    def supports_atomic_create(self, path: str) -> bool:
        p = self._jpath(path)
        fs = self._fs(p)
        scheme = fs.makeQualified(p).toUri().getScheme()
        return str(scheme) in self._ATOMIC_CREATE_SCHEMES

    def remove_file(self, path: str) -> None:
        p = self._jpath(path)
        fs = self._fs(p)
        if not fs.delete(p, False):
            raise FileNotFoundError(path)

    def delete_dir(self, path: str, ignore_missing: bool = True) -> None:
        p = self._jpath(path)
        fs = self._fs(p)
        if not fs.delete(p, True) and not ignore_missing:
            raise FileNotFoundError(path)

    def rename_no_replace(self, src: str, dst: str) -> None:
        s, d = self._jpath(src), self._jpath(dst)
        fs = self._fs(s)
        if fs.exists(d):
            raise FileExistsError(dst)
        if not fs.rename(s, d):
            # Hadoop rename returns false (rather than raising) on a
            # lost race or missing parent; both are publish failures.
            raise FileExistsError(dst)

    def copy_file(self, src: str, dst: str) -> None:
        s, d = self._jpath(src), self._jpath(dst)
        self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            self._fs(s), s, self._fs(d), d, False, True, self._conf
        )

    def file_size(self, path: str) -> int:
        p = self._jpath(path)
        return int(self._fs(p).getFileStatus(p).getLen())

    def open_seekable(self, path: str):
        p = self._jpath(path)
        fs = self._fs(p)
        size = int(fs.getFileStatus(p).getLen())
        return _HadoopSeekableFile(self, fs.open(p), size)


class _HadoopSeekableFile(io.RawIOBase):
    """Read-only seekable view over a Hadoop FSDataInputStream.
    Positioned ``readFully(pos, buf)`` per read — pyarrow footer reads
    (seek EOF-8, read footer, read row-group metadata) transfer only
    the ranges they touch, never the object body."""

    def __init__(self, hfs: "HadoopFS", jstream, size: int) -> None:
        super().__init__()
        self._hfs = hfs
        self._jstream = jstream
        self._size = size
        self._pos = 0

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        elif whence == 2:
            self._pos = self._size + offset
        else:  # pragma: no cover - io contract
            raise ValueError(f"bad whence {whence}")
        return self._pos

    def tell(self) -> int:
        return self._pos

    def readinto(self, b) -> int:
        n = min(len(b), self._size - self._pos)
        if n <= 0:
            return 0
        self._jstream.seek(self._pos)
        # InputStream.readNBytes(int) (Java 9+) returns EXACTLY the
        # requested count (short only at EOF) as a byte[] py4j converts
        # once. NOT IOUtils.copyBytes(in, out, n, close): py4j binds
        # its int overload where n is the BUFFER size, not a count —
        # that copied from pos to EOF and broke bounded footer reads.
        data = bytes(self._jstream.readNBytes(n))
        b[: len(data)] = data
        self._pos += len(data)
        return len(data)

    def close(self) -> None:
        if not self.closed:
            try:
                self._jstream.close()
            finally:
                super().close()


_LOCAL = LocalFS()


def get_fs(path: str, spark=None) -> FS:
    """The right FS for ``path``: HadoopFS for any scheme-qualified
    URI, LocalFS otherwise. ``spark`` is only needed for URIs (and
    defaults to the active session)."""
    if is_uri(path):
        return HadoopFS(spark)
    return _LOCAL
