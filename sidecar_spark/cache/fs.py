"""Scheme-agnostic filesystem access.

The reference ships 10 per-vendor FileSystem subclasses
(``fs/s3a/SidecarS3AFileSystem.java`` etc., SURVEY.md §2.6) whose only
job is delegating the 9 cached verbs to the shared core. Here the whole
connector matrix collapses into one adapter over
``pyarrow.fs.FileSystem.from_uri`` — ``file://``, ``s3://``, ``gs://``,
``hdfs://``… all dispatch for free, mirroring the reference's
``RemoteFileSystemAccess`` pass-throughs (RemoteFileSystemAccess.java:34-180).

All verbs operate on positional ranged reads so the caching input
stream can fetch individual pages (the S3 ranged-GET analog of
``readFromRemoteFS``, SidecarCachingInputStream.java:990-1006).
"""

from __future__ import annotations

import calendar
import os
import posixpath
import shutil
import threading
import time
from dataclasses import dataclass
from typing import List, Optional, Tuple

import pyarrow.fs as pafs


@dataclass(frozen=True)
class FileStat:
    """Subset of FileStatus the reference caches: length / mtime / is_dir
    (17-byte meta value, SidecarCachingFileSystem.java:1101-1116)."""

    path: str
    length: int
    mtime: int  # integer milliseconds (reference uses Java epoch millis)
    is_dir: bool


def _mtime_ms(info: pafs.FileInfo) -> int:
    mt = info.mtime_ns
    if mt is None:
        return 0
    return mt // 1_000_000


def _opened_stat(path: str, fh) -> Optional[FileStat]:
    """The status an open already fetched, or None when the handle
    carries none. pyarrow's S3 input file keeps the headers of the HEAD
    its open sent in ``metadata()``: ``str`` keys, ``bytes`` values,
    ``Last-Modified`` as ISO 8601 UTC (``b"2023-11-14T22:13:21Z"``).
    Local, HDFS and ``mem://`` handles carry no ``Last-Modified``."""
    try:
        modified = fh.metadata().get("Last-Modified")
        if modified is None:
            return None
        stamp, _, frac = modified.decode().rstrip("Z").partition(".")
        secs = calendar.timegm(time.strptime(stamp, "%Y-%m-%dT%H:%M:%S"))
        ms = int((frac + "000")[:3]) if frac else 0
        return FileStat(path=path, length=fh.size(),
                        mtime=secs * 1000 + ms, is_dir=False)
    except (AttributeError, ValueError, OSError):
        return None


class RemoteFS:
    """Thin verb layer over a pyarrow FileSystem.

    ``key_prefix`` keeps cache identities scheme-qualified: callers
    (CacheManager meta/page keys) pass scheme-qualified paths like
    ``mem://bucket/f`` — globally unique across providers, so
    ``s3://b/x`` and ``gs://b/x`` can never share a page key — and
    each verb strips the prefix before touching the native fs."""

    def __init__(self, fs: pafs.FileSystem, root: str = "",
                 key_prefix: str = "") -> None:
        self.fs = fs
        self.root = root
        self.key_prefix = key_prefix
        # an S3 open is a HEAD whose result the handle keeps
        # (``_opened_stat``); other stores' opens carry no status
        self.status_on_open = isinstance(fs, pafs.S3FileSystem)

    def _p(self, path: str) -> str:
        """Scheme-qualified cache key → native in-fs path."""
        if self.key_prefix and path.startswith(self.key_prefix):
            return path[len(self.key_prefix):]
        return path

    def _q(self, path: str) -> str:
        """Native in-fs path → scheme-qualified cache key."""
        return self.key_prefix + path if self.key_prefix else path

    @classmethod
    def from_uri(cls, uri: str) -> Tuple["RemoteFS", str]:
        """Dispatch on scheme; returns (fs, scheme-qualified path —
        pass it to every verb; the fs strips the scheme itself).

        ``mem://store/path`` routes to the in-process object store
        (cache/memfs.py) — a second, non-local scheme with cloud
        whole-object semantics, so the dispatcher and every caching
        verb are exercised beyond ``file://`` even without cloud
        credentials (the reference's s3a/gs/abfs wrappers,
        ``fs/s3a/SidecarS3AFileSystem.java:50-188``)."""
        if "://" not in uri:
            return cls(pafs.LocalFileSystem()), os.path.abspath(uri)
        scheme = uri.split("://", 1)[0]
        if scheme == "mem":
            from sidecar_spark.cache.memfs import memory_filesystem

            # one process-global store; the first path segment acts
            # as the bucket (scheme-level fs caching in CacheManager
            # requires one fs instance per scheme)
            return cls(memory_filesystem(), key_prefix="mem://"), uri
        if scheme == "s3" and os.environ.get("SIDECAR_S3_ENDPOINT"):
            # explicit endpoint override — the pyarrow analog of the
            # reference's Hadoop activation config (fs.s3a.endpoint /
            # fs.s3a.impl, README.md:20-88).  Lets the full S3 REST
            # dialect (ranged GET, multipart PUT, ListObjectsV2,
            # CopyObject) run against a localhost or private endpoint;
            # credentials come from the environment as with any SDK.
            fs = pafs.S3FileSystem(
                endpoint_override=os.environ["SIDECAR_S3_ENDPOINT"],
                access_key=os.environ.get("AWS_ACCESS_KEY_ID", "sidecar"),
                secret_key=os.environ.get(
                    "AWS_SECRET_ACCESS_KEY", "sidecar"),
                region=os.environ.get("AWS_REGION", "us-east-1"),
                allow_bucket_creation=True,
                allow_bucket_deletion=True)
            return cls(fs, key_prefix="s3://"), uri
        fs, path = pafs.FileSystem.from_uri(uri)
        # keep the AUTHORITY in the qualified key: hdfs://nn1/x and
        # hdfs://nn2/x are different files on different clusters —
        # a bare scheme prefix would give them one cache identity
        netloc = uri.split("://", 1)[1].split("/", 1)[0]
        prefix = f"{scheme}://{netloc}"
        return cls(fs, key_prefix=prefix), prefix + path

    @classmethod
    def local(cls) -> "RemoteFS":
        return cls(pafs.LocalFileSystem())

    # ---- metadata ------------------------------------------------------

    def stat(self, path: str) -> Optional[FileStat]:
        info = self.fs.get_file_info(self._p(path))
        if info.type == pafs.FileType.NotFound:
            return None
        is_dir = info.type == pafs.FileType.Directory
        return FileStat(path=path, length=info.size or 0,
                        mtime=_mtime_ms(info), is_dir=is_dir)

    def exists(self, path: str) -> bool:
        return self.stat(path) is not None

    def list(self, path: str, recursive: bool = True) -> List[FileStat]:
        sel = pafs.FileSelector(self._p(path), recursive=recursive,
                                allow_not_found=True)
        out = []
        for info in self.fs.get_file_info(sel):
            out.append(FileStat(path=self._q(info.path),
                                length=info.size or 0,
                                mtime=_mtime_ms(info),
                                is_dir=info.type == pafs.FileType.Directory))
        return out

    # ---- data ----------------------------------------------------------

    def open_read(self, path: str):
        """Random-access reader supporting read_at(nbytes, offset)."""
        return self.fs.open_input_file(self._p(path))

    def open_stat(self, path: str):
        """``(status, handle)`` of ``path`` for one remote request
        where the store allows it — the S3A
        ``openFile().withFileStatus()`` economy taken the other way
        round: instead of handing the open a known status, the status
        is taken from the open. ``handle`` is the opened reader when
        its open supplied the status, else None and the status is a
        plain ``stat`` (stores whose opens carry none, and paths that
        do not open as a file). A missing file is ``(None, None)``."""
        if not self.status_on_open:
            return self.stat(path), None
        try:
            fh = self.open_read(path)
        except FileNotFoundError:
            return None, None
        except OSError:  # a bucket or a directory marker: not a file
            return self.stat(path), None
        st = _opened_stat(path, fh)
        if st is None:
            fh.close()
            return self.stat(path), None
        return st, fh

    def read_range(self, path: str, offset: int, length: int) -> bytes:
        with self.fs.open_input_file(self._p(path)) as f:
            return f.read_at(length, offset)

    def read_all(self, path: str) -> bytes:
        with self.fs.open_input_file(self._p(path)) as f:
            return f.read()

    def open_write(self, path: str):
        return self.fs.open_output_stream(self._p(path))

    def open_append(self, path: str):
        """HDFS-style byte append on an existing file.  Object stores
        reject this, exactly as the reference notes for its
        ``appendRemote`` ('Object storage FS do not support this
        operation, at least S3' — SidecarCachingFileSystem.java:
        1778-1782); pyarrow surfaces that as NotImplementedError,
        which we normalize to OSError for the caller."""
        try:
            return self.fs.open_append_stream(self._p(path))
        except NotImplementedError as e:
            raise OSError(
                f"append not supported by this filesystem: {e}") from e

    def write_all(self, path: str, data: bytes) -> None:
        self.mkdirs(posixpath.dirname(self._p(path)))
        with self.fs.open_output_stream(self._p(path)) as f:
            f.write(data)

    # ---- mutation verbs (the cached FS verb set, SURVEY.md §2.1) --------

    def mkdirs(self, path: str) -> None:
        path = self._p(path)
        if path:
            self.fs.create_dir(path, recursive=True)

    def delete(self, path: str, recursive: bool = False) -> bool:
        """Hadoop ``FileSystem.delete`` semantics: a directory with
        ``recursive=False`` is deleted only when EMPTY — a non-empty
        one raises (callers use recursive=False as a safety guard;
        silently wiping the contents would defeat it).

        A file is deleted outright: on S3 that is pyarrow's HEAD and
        the DELETE, with no status request of our own. Only when that
        fails does one LIST tell a directory from a missing path."""
        p = self._p(path)
        try:
            self.fs.delete_file(p)
            return True
        except OSError as e:  # missing, a directory, or a real failure
            failed = e
        try:
            children = self.fs.get_file_info(pafs.FileSelector(p))
        except (FileNotFoundError, NotADirectoryError):
            if isinstance(failed, FileNotFoundError):
                return False
            raise failed from None
        if children and not recursive:
            raise OSError(f"directory not empty (recursive=False): {path}")
        self.fs.delete_dir(p)
        return True

    def rename(self, src: str, dst: str) -> bool:
        if not self.exists(src):
            return False
        src, dst = self._p(src), self._p(dst)
        parent = posixpath.dirname(dst)
        if parent:
            self.fs.create_dir(parent, recursive=True)
        self.fs.move(src, dst)
        return True

    def copy(self, src: str, dst: str) -> None:
        src, dst = self._p(src), self._p(dst)
        parent = posixpath.dirname(dst)
        if parent:
            self.fs.create_dir(parent, recursive=True)
        self.fs.copy_file(src, dst)

    def concat(self, target: str, sources: List[str]) -> None:
        """Concatenate source files onto target (ADL Gen1 verb,
        SidecarCachingFileSystem.java:1560-1586). Hadoop
        ``FileSystem.concat`` semantics: the target KEEPS its existing
        bytes and the sources are appended to it in order, then
        deleted. Emulated by a staged streaming copy (target first,
        then sources, atomic swap) since generic stores lack
        server-side concat; a missing target starts empty."""
        # hidden staging name: list_files/resolve_for_spark filter
        # basenames starting with "." or "_", so a concurrent listing
        # (or a crash leftover) never hands the half-built file to
        # Spark; thread ident keeps same-pid threads from colliding
        base = posixpath.basename(target)
        tmp = posixpath.join(
            posixpath.dirname(target),
            f".{base}.concat-tmp-{os.getpid()}-{threading.get_ident()}")
        with self.fs.open_output_stream(self._p(tmp)) as out:
            for s in [target] + list(sources):
                try:
                    src = self.fs.open_input_stream(self._p(s))
                except (OSError, FileNotFoundError):
                    if s == target:
                        continue  # fresh target: nothing to preserve
                    raise
                with src as f:
                    while True:
                        chunk = f.read(4 * 1024 * 1024)
                        if not chunk:
                            break
                        out.write(chunk)
        self.fs.move(self._p(tmp), self._p(target))
        for s in sources:
            self.fs.delete_file(self._p(s))


def download(fs: RemoteFS, st: FileStat, dest: str) -> None:
    """Copy the version ``st`` of a file on ``fs`` to the local file
    ``dest`` atomically — the one fill copy of both whole-file tiers
    (``FileMirror.materialize``, the write mirror): a chunked read into
    a ``.tmp-`` staging file beside ``dest``, then ``os.replace``, so a
    reader never sees a partial file. A failed copy must not leak its
    staging file: the tiers skip ``.tmp-`` names when they rebuild, so
    an orphan would sit outside capacity accounting forever.

    The tiers key a copy by ``st``, so only that version is stored:
    the opened file must have ``st``'s length and, where the open
    carries a status, its mtime to the second (some S3-compatible
    stores list with milliseconds and HEAD with seconds). A file
    replaced since it was listed raises ``OSError``."""
    tmp = f"{dest}.tmp-{os.getpid()}-{threading.get_ident()}"
    try:
        with fs.open_read(st.path) as src:
            size, got = src.size(), _opened_stat(st.path, src)
            if size != st.length or (
                    got is not None
                    and got.mtime // 1000 != st.mtime // 1000):
                raise OSError(
                    f"{st.path} changed since it was listed: "
                    f"{st.length} B at {st.mtime} ms, now {size} B"
                    f" at {got.mtime if got else '?'} ms")
            with open(tmp, "wb") as dst:
                shutil.copyfileobj(src, dst, 8 * 1024 * 1024)
        os.replace(tmp, dest)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise
