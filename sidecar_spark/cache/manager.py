"""CacheManager — the engine's counterpart of the
``SidecarCachingFileSystem`` singleton (``get``/``initialize``,
:273-288, :521-638).

One instance per cache root, holding the three caches (meta cache,
page store, write cache — field trio at :96-119), an async worker pool
(:617-627), admission policy, statistics and persistence. It exposes:

* the cached FileSystem verb set (open/create/rename/delete/concat/
  mkdirs/get_file_status, SURVEY.md §2.1) over any pyarrow-supported
  scheme;
* ``resolve_for_spark`` — file-granular path resolution: admitted
  files are materialized into a local content-addressed mirror and
  Spark is pointed at the local copies (the Alluxio-style answer to
  "a Python cache can't hook JVM parquet reads per page",
  SURVEY.md §7.4); page-granular caching stays available for the
  byte-level ``open()`` API (a faithful ``readInternal`` port).

The mirror's fill policy lives here once: ``admit`` decides which
files of a listing are admitted and whether the scan veto applies,
``_on_tasks`` decides whether a fill runs on Spark tasks or in this
process, ``run_tasks`` is the one task fan-out, and
``cache.fs.download`` the one atomic whole-file copy.

A file version costs one remote status request on the byte-level
path: ``open()`` and the post-write refresh take the status from
opening the file (``RemoteFS.open_stat``), and the manager keeps that
handle (``_Handles``), so the version's later page misses are one
ranged GET each.

A file version is dropped from every version-keyed tier in one place:
``_retire``, called by the status check and every mutation verb.
"""

from __future__ import annotations

import concurrent.futures
import dataclasses
import functools
import os
import threading
import time
from collections import OrderedDict
from typing import Dict, List, Optional, Tuple

from sidecar_spark.cache.fs import FileStat, RemoteFS, download
from sidecar_spark.cache.meta import FileMeta, MetaCache
from sidecar_spark.cache.pages import PageStore
from sidecar_spark.cache.streams import CachingInputStream, CachingOutputStream
from sidecar_spark.cache.write_cache import WriteCache
from sidecar_spark.config import (
    DataCacheMode,
    SidecarConfig,
    SidecarDataCacheType,
    WriteCacheMode,
)
from sidecar_spark.stats import Statistics
from sidecar_spark.util.hashing import base_key
from sidecar_spark.util.lrc_queue import LRCQueue
from sidecar_spark.util.scan_detector import ScanDetector


class FileMirror:
    """Whole-file local data cache, content-addressed by
    ``md5(path + '/' + mtime)`` — the file-granular tier backing
    ``resolve_for_spark``. Same self-invalidation property as page
    keys: a changed mtime yields a new key, stale copies age out via
    LRC eviction.

    Multi-node design note: the reference's caches are JVM singletons
    *per node* (``SidecarCachingFileSystem.java:96-119`` — every
    worker that loads the class gets its own local tiers over the same
    remote). The mirror reproduces that shape: one ``FileMirror``
    per (cache_dir, process), no cross-instance state, and cache keys
    derived purely from (remote path, remote mtime). Two managers on
    two machines (or two cache roots in one process — see
    ``tests/test_cache.py`` two-node test) therefore stay coherent by
    construction: each materializes its own copy, and a remote
    mutation flips the mtime so every node's stale copy simply stops
    matching. On a real cluster the executor-side deployment is the
    same class pointed at node-local NVMe (one cache root per host),
    with the resolve run PER SCAN TASK against that node's manager —
    ``sidecar.resolve.mode = executor`` routes ``Engine.read_parquet``
    through ``sources/cached_parquet.py``, whose ``read(partition)``
    does hit-or-materialize-or-remote node-locally (an unwarmed node
    self-heals by materializing instead of erroring); no coordination
    protocol is required because keys are content-addressed and the
    remote is the single source of truth. Driver-side
    ``resolve_for_spark`` remains the default for local[k]/shared
    mirror roots, where the JVM-native parquet scan is faster.

    Every fill is ``materialize``: on the driver pool from
    ``CacheManager.resolve_for_spark``, or on a Spark task from its
    warm step; a task fill reaches this instance by adoption in
    ``lookup``. Which files are admitted, whether a fill is vetoed and
    where it runs is decided once, by ``CacheManager``.

    Concurrency: cold fetches run OUTSIDE the instance lock with a
    per-key in-flight guard, so N distinct cold files materialize in
    parallel (the reference does invalidation/upload on an 8-thread
    pool, ``SidecarCachingFileSystem.java:617-627``) while duplicate
    requests for the SAME file block on one fetch instead of
    double-copying."""

    #: soft eviction grace: a mirror file SERVED within this window is
    #: likely referenced by a still-running Spark plan (resolve hands
    #: out concrete local paths; evicting one mid-query would fail the
    #: scan). Eviction prefers victims outside the window; the hard
    #: capacity contract still wins when every victim is recent.
    SERVED_GRACE_S = 300.0

    def __init__(self, root: str, capacity: int, conf: SidecarConfig,
                 stats: Statistics) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.capacity = capacity
        self.conf = conf
        self.stats = stats
        self.files = LRCQueue()
        self._size = 0
        self._lock = threading.RLock()
        self._inflight: Dict[str, threading.Event] = {}
        self._served: Dict[str, float] = {}
        self._rebuild()

    def _local(self, path: str, mtime: int) -> str:
        name = os.path.basename(path.rstrip("/")) or "file"
        return os.path.join(self.root, base_key(path, mtime) + "-" + name)

    def _rebuild(self) -> None:
        from sidecar_spark.util.tmp_sweep import sweep_if_stale

        now = time.time()
        for name in sorted(os.listdir(self.root)):
            if ".tmp-" in name:
                # another process's in-flight copy (tmp + atomic
                # replace): not an entry — counting it would leave a
                # phantom in the file list and inflate _size forever
                # once the tmp is renamed away. Old ones are crash
                # leftovers from a killed fetch — sweep them.
                sweep_if_stale(os.path.join(self.root, name), now)
                continue
            p = os.path.join(self.root, name)
            if os.path.isfile(p):
                try:
                    sz = os.path.getsize(p)
                except OSError:
                    continue  # vanished between list and stat
                self.files.put(p, sz)
                self._size += sz

    def lookup(self, path: str, mtime: int) -> Optional[str]:
        lp = self._local(path, mtime)
        if self.files.exists(lp) and os.path.exists(lp):
            self._served[lp] = time.monotonic()
            return lp
        if os.path.exists(lp):
            # materialized out-of-band (an executor-side warm wrote the
            # shared node-local cache root, CacheManager.warm_distributed)
            # — adopt it: keys are content-addressed, so an existing
            # file under this name IS the current bytes by construction
            with self._lock:
                if not self.files.exists(lp):
                    try:
                        sz = os.path.getsize(lp)
                    except OSError:
                        # evicted by another process between exists()
                        # and stat — a miss, never an error (cache
                        # trouble must not fail the read)
                        return None
                    self.files.put(lp, sz)
                    self._size += sz
                    # pin BEFORE evicting: the adopted file must not
                    # be its own eviction's first victim
                    self._served[lp] = time.monotonic()
                    # adopted bytes count toward occupancy like any
                    # other fill — without this a distributed warm
                    # could overshoot capacity unbounded
                    self._evict_if_needed()
            self._served[lp] = time.monotonic()
            return lp
        return None

    def materialize(self, fs: RemoteFS, st: FileStat) -> str:
        """Copy the remote file into the mirror (tier-③ fill) with
        ``fs.download``.

        The byte copy runs outside ``_lock`` — the lock covers only
        bookkeeping, so concurrent cold fetches of *different* files
        overlap. A per-key event dedups concurrent fetches of the
        *same* file: late arrivals wait for the winner, then re-check
        (and take over the fetch if the winner failed)."""
        lp = self._local(st.path, st.mtime)
        while True:
            with self._lock:
                if self.files.exists(lp) and os.path.exists(lp):
                    return lp
                ev = self._inflight.get(lp)
                if ev is None:
                    ev = threading.Event()
                    self._inflight[lp] = ev
                    break  # this thread owns the fetch
            ev.wait()
        try:
            t0 = time.monotonic_ns()
            download(fs, st, lp)
            with self._lock:
                self.stats.add("total_read_requests_from_remote")
                self.stats.add("total_bytes_read_remote", st.length)
                self.stats.add("total_remote_fs_read_time_ns",
                               time.monotonic_ns() - t0)
                # lookup()'s out-of-band adoption may have registered
                # this key between os.replace and here — size must move
                # only when the entry is NEW, or occupancy inflates
                # permanently and eviction fires early
                if not self.files.exists(lp):
                    self.files.put(lp, st.length)
                    self._size += st.length
                # pin BEFORE evicting: the fresh fill must not be its
                # own eviction's first victim (it has no served stamp
                # yet, which would read as "stale")
                self._served[lp] = time.monotonic()
                self._evict_if_needed()
            return lp
        finally:
            with self._lock:
                self._inflight.pop(lp, None)
            ev.set()

    def invalidate(self, path: str, mtime: int) -> bool:
        lp = self._local(path, mtime)
        with self._lock:  # _size is read-modify-written under _lock
            ln = self.files.remove(lp)  # everywhere else — an async
            self._served.pop(lp, None)  # invalidation must not race it
            if ln is not None:
                self._size -= ln
        if ln is not None:
            try:
                os.remove(lp)
            except OSError:
                pass
            return True
        return False

    def size_bytes(self) -> int:
        return self._size

    def _evict_if_needed(self) -> None:
        if not self.capacity:
            return
        hi = self.capacity * self.conf.eviction_start_occupancy
        lo = self.capacity * self.conf.eviction_stop_occupancy
        if self._size <= hi:
            return
        # LRC order, but PREFER victims not served within the grace
        # window — a recently-served path is likely inside a running
        # Spark plan. Hard capacity contract still wins: when the
        # stale candidates run out, recent ones go oldest-first. ONE
        # snapshot + two ordered passes keeps an eviction burst O(n)
        # (a per-victim rescan would be O(n²) on a 100k-file mirror).
        now = time.monotonic()
        snapshot = list(self.files.items())
        stale_then_recent = (
            [k for k, _ in snapshot
             if now - self._served.get(k, -1e18) >= self.SERVED_GRACE_S]
            + [k for k, _ in snapshot
               if now - self._served.get(k, -1e18) < self.SERVED_GRACE_S])
        for victim in stale_then_recent:
            if self._size <= lo:
                break
            ln = self.files.remove(victim)
            if ln is None:
                continue  # already gone (raced)
            self._size -= ln
            self._served.pop(victim, None)
            try:
                os.remove(victim)
            except OSError:
                pass


#: remote handles a manager keeps, one per file version (``_Handles``)
KEPT_HANDLES = 128


class _Handles:
    """Opened remote readers kept per file version ``(path, mtime,
    length)``: a bounded LRU, so a version's page misses after its
    first open cost one ranged GET each and no status request. Only
    handles whose open supplied the version's status are kept — object
    store handles, which hold no fd and no socket (pyarrow's S3 file
    is a client plus the HEAD's headers). Reads on one handle may run
    concurrently. Eviction, ``drop`` and ``close`` only let go of the
    manager's reference: a handle is freed when its last read ends."""

    def __init__(self, capacity: int) -> None:
        self.capacity = capacity
        self._lock = threading.Lock()
        self._lru: "OrderedDict[tuple, object]" = OrderedDict()

    def read_at(self, version: tuple, offset: int,
                length: int) -> Optional[bytes]:
        """The bytes from the kept handle, or None when none is kept."""
        with self._lock:
            fh = self._lru.get(version)
            if fh is None:
                return None
            self._lru.move_to_end(version)
        return fh.read_at(length, offset)

    def put(self, version: tuple, fh) -> None:
        with self._lock:
            self._lru[version] = fh
            self._lru.move_to_end(version)
            while len(self._lru) > self.capacity:
                self._lru.popitem(last=False)

    def drop(self, version: tuple) -> None:
        with self._lock:
            self._lru.pop(version, None)

    def close(self) -> None:
        with self._lock:
            self._lru.clear()


class CacheManager:
    _instances: Dict[str, "CacheManager"] = {}
    _instances_lock = threading.Lock()

    # ---- singleton protocol (double-checked get, :273-288) ---------------

    @classmethod
    def _key(cls, conf: SidecarConfig) -> str:
        """Singleton key: cache root PLUS a policy fingerprint. Keyed
        on the root alone, a long-lived process (a reused Spark Python
        worker, the planner) would silently serve a NEW query's conf
        with a STALE manager — mirror capacity, admission and veto
        decisions frozen at whatever conf arrived first. Distinct
        policies over one root get distinct managers; that is exactly
        the already-proven two-process shape (content-addressed mirror
        + adoption), just within one process."""
        import hashlib

        digest = hashlib.md5(conf.to_json().encode()).hexdigest()[:12]
        key = (conf.cache_dir or "<default>") + "|" + digest
        h = conf.hint_detector
        if h is not None and callable(h):
            # to_json() serializes a CALLABLE hint as its import
            # string when possible and drops it otherwise — two confs
            # differing only in their hint callable must not collapse
            # to one singleton (one Engine's admission policy would
            # silently govern the other's reads). id() distinguishes
            # distinct callables; module.qualname keeps the marker
            # readable in diagnostics.
            key += (f"|hint:{getattr(h, '__module__', '')}."
                    f"{getattr(h, '__qualname__', '')}:{id(h)}")
        return key

    @classmethod
    def get_or_create(cls, conf: SidecarConfig) -> "CacheManager":
        key = cls._key(conf)
        with cls._instances_lock:
            inst = cls._instances.get(key)
            if inst is None:
                inst = cls(conf)
                cls._instances[key] = inst
            # refcount the shared singleton: each holder that obtained
            # it here must release() it — a direct close() from one
            # Engine would shut the pool under every other holder
            inst._refs += 1
        return inst

    def release(self) -> None:
        """Drop one holder's reference; the LAST release closes.
        Directly-constructed managers (tests) have zero refs and their
        explicit close() keeps working unchanged.

        Deregistration happens INSIDE the same critical section as the
        refcount-zero decision: were the lock dropped first, a
        concurrent ``get_or_create`` could hand out this instance
        (refs 0→1) while ``close()`` proceeds to shut the pool under
        the new holder."""
        with CacheManager._instances_lock:
            self._refs -= 1
            live = self._refs > 0
            if not live:
                key = CacheManager._key(self.conf)
                if CacheManager._instances.get(key) is self:
                    del CacheManager._instances[key]
        if not live:
            self.close()

    @classmethod
    def clear_instances(cls) -> None:
        """Test hook (clearFSCache, :1483-1485)."""
        with cls._instances_lock:
            instances = list(cls._instances.values())
            cls._instances.clear()
        # close() re-acquires _instances_lock to deregister itself, so it
        # must run after the lock is released
        for inst in instances:
            inst.close(save=False)

    def __init__(self, conf: SidecarConfig) -> None:
        if conf.cache_dir:
            os.makedirs(conf.cache_dir, exist_ok=True)
        self.conf = conf
        self.stats = Statistics()
        self.meta = MetaCache()
        self.pages = (
            PageStore(conf, self.stats)
            if conf.data_cache_type != SidecarDataCacheType.DISABLED
            else None
        )
        self.write_cache = (
            WriteCache(conf, self.stats)
            if conf.write_cache_mode != WriteCacheMode.DISABLED and conf.cache_dir
            else None
        )
        self.mirror = (
            FileMirror(os.path.join(conf.cache_dir, "mirror"),
                       conf.mirror_size or conf.data_cache_size,
                       conf, self.stats)
            if conf.cache_dir and conf.data_cache_type != SidecarDataCacheType.DISABLED
            else None
        )
        self.pool = concurrent.futures.ThreadPoolExecutor(
            max_workers=conf.thread_pool_size, thread_name_prefix="sidecar")
        self._refs = 0
        self._pending: List[concurrent.futures.Future] = []
        self._fs_cache: Dict[str, RemoteFS] = {}
        self._handles = _Handles(KEPT_HANDLES)
        self._closed = False
        if conf.cache_persistent:
            self.load()

    # ---- fs dispatch ------------------------------------------------------

    def _resolve(self, uri: str):
        """(RemoteFS, scheme-qualified path) for a uri or local path.

        Cache key is scheme PLUS authority: ``hdfs://nn1`` and
        ``hdfs://nn2`` are different filesystems and must not share an
        instance (or cache identities). ``file://`` URIs normalize to
        plain local paths so they share the one unprefixed local fs
        instead of shadowing it with a prefixed twin (whose ``_p``
        would then mis-strip plain paths).

        The qualified path is normalized ONCE, independent of the
        fs-cache hit/miss (``posixpath.normpath`` of the path part):
        a non-normalized uri (trailing slash, doubled separators,
        ``.``/``..`` segments) must yield the SAME meta/mirror keys
        whether or not the fs instance was already cached — a
        branch-dependent key would split one file's cache identity.
        These are Hadoop ``Path`` semantics (the reference is a Hadoop
        FileSystem: ``new Path("s3a://b/a//c")`` collapses to
        ``a/c``), so an object-store key that deliberately contains
        ``//`` or dot segments is not addressable — exactly as it is
        not through any Hadoop-API engine."""
        if "://" in uri:
            import posixpath
            scheme, rest = uri.split("://", 1)
            if scheme == "file":
                path = rest[rest.index("/"):] if "/" in rest else "/"
                return (self._fs_cache.setdefault("file",
                                                  RemoteFS.local()),
                        os.path.abspath(path))
            netloc, sep, tail = rest.partition("/")
            key = scheme + "://" + netloc
            # lstrip before normpath: POSIX keeps a leading "//", which
            # would survive normalization as a doubled separator
            qualified = key + posixpath.normpath("/" + tail.lstrip("/")) \
                if sep and tail.strip("/") else key
            cached = self._fs_cache.get(key)
            if cached is not None:
                return cached, qualified
            fs, _ = RemoteFS.from_uri(uri)
            self._fs_cache[key] = fs
            return fs, qualified
        return self._fs_cache.setdefault("file", RemoteFS.local()), os.path.abspath(uri)

    # ---- admission (isCacheableFile, :739-748) ------------------------------

    def is_cacheable_file(self, path: str, length: int) -> bool:
        if self.conf.read_excluded(path):
            return False
        mode = self.conf.data_cache_mode
        if mode == DataCacheMode.ALL:
            return True
        if mode == DataCacheMode.NOT_IN_WRITE_CACHE:
            return not (self.write_cache and self.write_cache.contains(path))
        if mode == DataCacheMode.MINSIZE:
            in_wc = self.write_cache and self.write_cache.contains(path)
            return length >= self.conf.minsize_threshold or not in_wc
        return True

    # ---- getFileStatus protocol (:1529-1550) --------------------------------

    def get_file_status(self, uri: str) -> Optional[FileStat]:
        fs, path = self._resolve(uri)
        return self._status(path, fs.stat)

    def _status(self, path: str, probe) -> Optional[FileStat]:
        """getFileStatus of ``path``, with ``probe(path)`` as the remote
        status source: ``RemoteFS.stat`` for ``get_file_status``, which
        may be asked about a directory, ``_open_status`` for ``open``."""
        # local-first (ASYNC_COPY) read-your-writes: while a moniker
        # marks the upload pending, the remote copy may be absent OR
        # half-written — the mirror is authoritative until sync
        if self.write_cache is not None:
            lp = self.write_cache.local_path(path)
            if lp is not None and os.path.exists(lp) \
                    and self.write_cache.has_moniker(lp):
                lst = os.stat(lp)
                return FileStat(path=path, length=lst.st_size,
                                mtime=int(lst.st_mtime * 1000), is_dir=False)
        cached = self.meta.get(path)
        if cached is not None and not self.conf.remote_files_mutable:
            return FileStat(path=path, length=cached.length,
                            mtime=cached.mtime, is_dir=cached.is_dir)
        st = probe(path)
        if st is None:
            if self.write_cache is not None:
                lp = self.write_cache.local_path(path)
                if lp is not None and os.path.exists(lp):
                    lst = os.stat(lp)
                    return FileStat(path=path, length=lst.st_size,
                                    mtime=int(lst.st_mtime * 1000), is_dir=False)
            self._retire(path)
            return None
        if cached is not None and (cached.mtime, cached.length) \
                != (st.mtime, st.length):
            # the file changed: the write-cache mirror is the FIRST read
            # tier (readFromWriteCacheFS order) and would keep serving
            # the old bytes
            self._retire(path)
            # only a SYNCED mirror may be dropped: a moniker marks a
            # pending ASYNC upload or a create() still mid-write, whose
            # local bytes are the only copy of newer data
            if self.write_cache is not None and not self.write_cache \
                    .has_moniker(self.write_cache.caching_path(path)):
                self.write_cache.delete_file(path)
            cached = None
        if cached is None and not st.is_dir:
            self.meta.put_stat(st)
        return st

    def _open_status(self, fs: RemoteFS, path: str) -> Optional[FileStat]:
        """The remote status of ``path`` from opening it
        (``RemoteFS.open_stat``); a handle whose open supplied the
        status is kept for the version it names."""
        st, fh = fs.open_stat(path)
        if fh is not None:
            self._handles.put((path, st.mtime, st.length), fh)
        return st

    def _retire(self, path: str, below: bool = False) -> None:
        """Drop the cached version of ``path`` from every version-keyed
        tier: its meta entry, kept handles, pages and mirror copy; with
        ``below``, also those of every path under ``path/``. The one
        coherence step of the mutation verbs and the status check. It
        runs synchronously, and a version is ``(mtime, length)``: a
        republish within one mtime tick at a new length is a new
        version too. The write cache is keyed by path, not version, so
        callers drop it themselves."""
        for p, old in self.meta.pop(path, below=below):
            self._handles.drop((p, old.mtime, old.length))
            if self.pages is not None:
                self.pages.delete_file_pages(p, old.mtime, old.length)
            if self.mirror is not None:
                self.mirror.invalidate(p, old.mtime)

    def _submit(self, fn) -> None:
        self._pending.append(self.pool.submit(fn))

    def drain(self) -> None:
        """Wait for all async upload work (test aid)."""
        pending, self._pending = self._pending, []
        for f in pending:
            f.result()

    # ---- open (read path, :1596-1619) ----------------------------------------

    def open(self, uri: str) -> CachingInputStream:
        fs, path = self._resolve(uri)
        st = self._status(path, functools.partial(self._open_status, fs))
        if st is None:
            raise FileNotFoundError(uri)
        self.stats.add("total_files_opened")
        cacheable = (self.is_cacheable_file(path, st.length)
                     and self.pages is not None
                     and self.conf.should_cache(path, "read"))
        detector = None
        if self.conf.scan_detector_enabled and self.pages is not None:
            detector = ScanDetector(self.conf.scan_detector_threshold,
                                    self.pages.page_size)
        wc_read = None
        if self.write_cache is not None and self.write_cache.contains(path):
            self.stats.add("total_files_opened_in_write_cache")
            wc_read = lambda off, ln: self.write_cache.read_range(path, off, ln)  # noqa: E731

        # the remote reader: the manager's kept handle of this version,
        # else the stream's own, opened lazily (the reference wraps both
        # streams in Callables, :1599-1608) — with a warm cache or a
        # pending local-first write the remote may never be opened
        version = (path, st.mtime, st.length)
        owned: list = []

        def remote_read(off: int, ln: int) -> bytes:
            if not owned:
                data = self._handles.read_at(version, off, ln)
                if data is not None:
                    return data
                owned.append(fs.open_read(path))
            return owned[0].read_at(ln, off)

        def release_remote() -> None:
            # stream.close() releases a handle the stream opened itself
            # (otherwise the fd/connection lives until GC — a leak on
            # long-lived drivers opening many cache-missing files); a
            # kept handle stays with the manager
            if owned:
                owned.pop().close()

        return CachingInputStream(
            path=path, mtime=st.mtime, length=st.length,
            page_store=self.pages if self.pages is not None else PageStore(
                SidecarConfig(data_cache_type=SidecarDataCacheType.DISABLED)),
            remote_read=remote_read, write_cache_read=wc_read,
            stats=self.stats, io_buffer_size=self.conf.io_buffer_size,
            scan_detector=detector, cache_on_read=cacheable,
            on_close=release_remote)

    # ---- create (write path, :1635-1691) + closingRemote (:1268-1326) ---------

    def create(self, uri: str) -> CachingOutputStream:
        fs, path = self._resolve(uri)
        self.stats.add("total_files_created")
        caching_fh = None
        caching_path = None
        if self.write_cache is not None and not self.conf.write_excluded(path) \
                and self.conf.should_cache(path, "write"):
            caching_fh, caching_path = self.write_cache.open_write(path)
        # ASYNC_COPY: local-first — the write lands in the cache only and
        # a background task uploads after close (WriteCacheMode.java:20-24)
        local_first = (self.conf.write_cache_mode == WriteCacheMode.ASYNC_COPY
                       and caching_fh is not None)
        remote_fh = None if local_first else fs.open_write(path)

        def on_close(stream: CachingOutputStream) -> None:
            self._closing_remote(fs, path, caching_path, stream)

        def on_cache_error(_exc: Exception) -> None:
            # reportException: delete half-written cache file, keep remote
            if caching_path is not None and self.write_cache is not None:
                self.write_cache.delete_moniker(caching_path)
                try:
                    os.remove(caching_path)
                except OSError:
                    pass

        return CachingOutputStream(
            remote_fh=remote_fh, caching_fh=caching_fh,
            on_close=on_close, on_cache_error=on_cache_error)

    def create_non_recursive(self, uri: str) -> CachingOutputStream:
        """createNonRecursive (SidecarCachingFileSystem.java:1720-1775):
        the same dual-stream create, but the parent directory must
        already exist — no implicit parent creation on the remote."""
        fs, path = self._resolve(uri)
        parent = os.path.dirname(path.rstrip("/"))
        pst = fs.stat(parent) if parent else None
        if pst is None or not pst.is_dir:
            raise FileNotFoundError(
                f"createNonRecursive: parent does not exist: {parent!r}")
        return self.create(uri)

    def append(self, uri: str) -> CachingOutputStream:
        """``append(Path,int,Progressable)``
        (SidecarCachingFileSystem.java:1778-1805): dual-stream byte
        append — the remote append stream plus, when the file already
        has a write-cache mirror, an append stream on that mirror under
        a fresh moniker.  A file with no mirror appends remote-only
        (the reference's cacheOut=null fallback).  Cloud object stores
        reject remote append (OSError from RemoteFS.open_append), as
        in the reference.  The close retires the pre-append version
        (``_retire``), seeded from the stat taken here when the file
        has no meta entry, then records the new one."""
        fs, path = self._resolve(uri)
        st = fs.stat(path)
        if st is None or st.is_dir:
            raise FileNotFoundError(f"append: no such file: {uri!r}")
        self.stats.add("total_files_opened")
        remote_fh = fs.open_append(path)
        caching_fh = caching_path = None
        if self.write_cache is not None \
                and not self.conf.write_excluded(path) \
                and self.conf.should_cache(path, "write"):
            caching_fh, caching_path = self.write_cache.open_append(path)

        def on_close(stream: CachingOutputStream) -> None:
            stream.remote_fh.close()
            self.meta.save(path, FileMeta(st.mtime, st.length, False))
            self._retire(path)
            nst = fs.stat(path)
            if nst is not None:
                self.meta.put_stat(nst)
            if caching_path is not None and self.write_cache is not None:
                self.write_cache.register_append(caching_path,
                                                 stream.bytes_written)
                self.write_cache.delete_moniker(caching_path)
                self.write_cache.check_eviction()

        def on_cache_error(_exc: Exception) -> None:
            # reportException for append: the half-appended mirror is
            # corrupt — drop it from the cache entirely; remote holds
            # the authoritative bytes
            if caching_path is not None and self.write_cache is not None:
                self.write_cache.drop_mirror(caching_path)

        return CachingOutputStream(
            remote_fh=remote_fh, caching_fh=caching_fh,
            on_close=on_close, on_cache_error=on_cache_error)

    def _closing_remote(self, fs: RemoteFS, path: str,
                        caching_path: Optional[str],
                        stream: CachingOutputStream) -> None:
        def finish_remote() -> None:
            if stream.remote_fh is not None:
                stream.remote_fh.close()
            elif caching_path is not None:
                # ASYNC_COPY upload: copy the finished cache file to
                # remote, unless a delete, rename or concat dropped it
                try:
                    src = open(caching_path, "rb")
                except FileNotFoundError:
                    return
                with src:
                    dst = fs.open_write(path)
                    try:
                        while True:
                            chunk = src.read(8 * 1024 * 1024)
                            if not chunk:
                                break
                            dst.write(chunk)
                    finally:
                        dst.close()
            # an overwrite retires the version it replaced (a hardening
            # over the reference, whose put-if-absent metaSave,
            # SidecarCachingFileSystem.java:1283-1289, keeps it); the
            # refresh opens the new version (one HEAD on S3), and the
            # manager keeps the handle for the version's reads
            self._retire(path)
            st = self._open_status(fs, path)
            if st is not None:
                self.meta.put_stat(st)
            if caching_path is not None and self.write_cache is not None:
                self.write_cache.delete_moniker(caching_path)
                self.write_cache.check_eviction()

        if caching_path is not None and self.write_cache is not None \
                and os.path.exists(caching_path):
            # a mid-write cache error already dropped and deleted the
            # mirror (reportException) — registering it anyway would
            # create a phantom file-list entry and inflate occupancy
            # by the full bytes_written
            self.write_cache.register(caching_path, stream.bytes_written)

        if self.conf.write_cache_mode in (WriteCacheMode.ASYNC_CLOSE,
                                          WriteCacheMode.ASYNC_COPY):
            self._submit(finish_remote)
        else:  # SYNC: remote upload completes inline with the caller
            finish_remote()

    # ---- mutation verbs with cache coherence ----------------------------------

    def delete(self, uri: str, recursive: bool = False) -> bool:
        fs, path = self._resolve(uri)
        ok = fs.delete(path, recursive=recursive)
        self.stats.add("total_files_deleted")
        self._retire(path, below=recursive)
        if self.write_cache is not None:
            self.write_cache.delete_file(path, below=recursive)
        return ok

    def rename(self, src_uri: str, dst_uri: str) -> bool:
        fs, src = self._resolve(src_uri)
        _, dst = self._resolve(dst_uri)
        if src != dst:
            # POSIX rename keeps the source's mtime, so an overwritten
            # destination of the same ms shares its page keys; _retire
            # finds its pages only through a meta entry, and pages
            # outlive a restart, so seed one from the remote
            self._seed(fs, dst)
        if not fs.rename(src, dst):
            return False
        st = fs.stat(dst)
        below = st is None or st.is_dir
        self._retire(src, below=below)
        self._retire(dst, below=below)
        if st is not None and not self.conf.write_excluded(dst):
            self.meta.put_stat(st)
        if self.write_cache is not None and src != dst:
            self.write_cache.delete_file(dst, below=below)
            self.write_cache.rename(src, dst, below=below)
        return True

    def rename_with_options(self, src_uri: str, dst_uri: str, *,
                            overwrite: bool = False) -> None:
        """``rename(Path, Path, Rename...)`` — the void, exception-
        throwing Hadoop overload (SidecarCachingFileSystem.java:
        1859-1907). Contract differences from the boolean ``rename``:
        a missing source raises ``FileNotFoundError``; an existing
        destination raises ``FileExistsError`` unless
        ``Rename.OVERWRITE`` was passed, in which case the destination
        is deleted first (with full cache coherence — meta drop, page
        eviction, write-cache mirror removal) before the move."""
        fs, src = self._resolve(src_uri)
        _, dst = self._resolve(dst_uri)
        if fs.stat(src) is None:
            raise FileNotFoundError(f"rename source missing: {src_uri}")
        dst_st = fs.stat(dst)
        if dst_st is not None:
            if not overwrite:
                raise FileExistsError(
                    f"rename destination exists: {dst_uri}")
            self.delete(dst_uri, recursive=dst_st.is_dir)
        if not self.rename(src_uri, dst_uri):
            raise OSError(f"rename failed: {src_uri} -> {dst_uri}")

    def mkdirs(self, uri: str) -> None:
        fs, path = self._resolve(uri)
        fs.mkdirs(path)

    def concat(self, target_uri: str, source_uris: List[str]) -> None:
        """concat (:1560-1586): delegate, then retire the sources and
        the target, whose bytes changed too — in every tier, the
        write-cache mirror included (the first read tier)."""
        fs, target = self._resolve(target_uri)
        self._seed(fs, target)
        srcs = [self._resolve(s)[1] for s in source_uris]
        fs.concat(target, srcs)
        for p in srcs + [target]:
            self._retire(p)
            if self.write_cache is not None:
                self.write_cache.delete_file(p)

    def _seed(self, fs: RemoteFS, path: str) -> None:
        """Give a file without a meta entry one from the remote, so
        ``_retire`` reaches the pages an earlier process left."""
        if self.meta.get(path) is None:
            st = fs.stat(path)
            if st is not None and not st.is_dir:
                self.meta.put_stat(st)

    def list_files(self, uri: str, suffix: str = "",
                   spark=None) -> List[FileStat]:
        """The data files of a table location — the one listing of
        the read path, the answer the reference's wrapped FileSystem
        gives once per path (``SidecarCachingFileSystem.java:
        1596-1619``).

        One shallow (delimiter) LIST of the root comes first. A root
        with no visible subdirectories is fully listed by it. A tree
        takes one recursive LIST, or, with a session and more than
        ``spark.sidecar.parallelListing.threshold`` visible
        subdirectories (default 32, the JVM's
        parallelPartitionDiscovery threshold; negative disables), one
        Spark job of per-subtree LISTs (``_list_slice``) — the
        ``bulkListLeafFiles`` analog, so a multi-million-object
        prefix does not serialize on the driver. Job trouble falls
        back to the recursive LIST.

        A stat runs only when the listing comes back empty: it tells a
        single-file location (served as itself) from a missing or
        empty one, and it self-heals the race of a mutating remote (a
        path absent at the LIST and recreated as a file before the
        stat is served as the file it now is — a concurrent mutation
        never fails the read).

        Files below the root follow Spark's hidden-path rule
        (``_hidden``) and must end in ``suffix``."""
        fs, root = self._resolve(uri)
        top = _ls(fs, root, recursive=False)
        dirs = sorted(s.path for s in top or ()
                      if s.is_dir and not _hidden(root, s.path))
        listed = top
        if dirs:
            listed = None
            if spark is not None and 0 <= _listing_threshold(spark) \
                    < len(dirs):
                try:
                    chunks = self.run_tasks(
                        spark, dirs, functools.partial(_list_slice, root),
                        slices=min(len(dirs), _LIST_JOB_MAX_SLICES))
                    listed = ([s for s in top if not s.is_dir]
                              + [s for chunk in chunks for s in chunk])
                except Exception:  # noqa: BLE001 — job trouble: the
                    pass           # recursive LIST is always correct
            if listed is None:
                listed = _ls(fs, root, recursive=True)
        if not listed:
            st = fs.stat(root)
            return [st] if st is not None and not st.is_dir else []
        return [s for s in listed if not s.is_dir
                and s.path.endswith(suffix) and not _hidden(root, s.path)]

    # ---- Spark integration: the mirror's fill policy ------------------------------

    def run_tasks(self, spark, items: list, fn,
                  slices: Optional[int] = None) -> list:
        """Run ``fn(mgr, partition_iterator)`` over ``items`` as ONE
        Spark job and collect everything it yields — the one task
        fan-out of the cache (listing, warm, write mirror, and the
        Engine's mergeSchema footer fold). ``mgr`` is the worker's own
        node-local manager for this conf: the per-node singleton shape
        (``SidecarCachingFileSystem.java:96-119``), kept alive for the
        worker's lifetime like the executor sources' (no release).

        The conf crosses as ``to_json()``, which drops a callable
        ``hint_detector`` (no callable crosses the task boundary), and
        the current ``SIDECAR_S3_ENDPOINT`` rides in the closure.
        ``fn`` must be picklable without this manager (a module-level
        function, or a closure over plain values)."""
        conf_json = self.conf.to_json()
        endpoint = os.environ.get("SIDECAR_S3_ENDPOINT")

        def task(it):
            if endpoint:
                # propagate the CURRENT S3 endpoint to worker procs —
                # assignment, not setdefault: Spark REUSES Python
                # workers across jobs, and a stale endpoint from an
                # earlier job must not shadow this one's
                os.environ["SIDECAR_S3_ENDPOINT"] = endpoint
            from sidecar_spark.cache.manager import CacheManager as CM
            from sidecar_spark.config import SidecarConfig as SC
            return fn(CM.get_or_create(SC.from_json(conf_json)), it)

        sc = spark.sparkContext
        n = slices or min(len(items), sc.defaultParallelism)
        return sc.parallelize(items, n).mapPartitions(task).collect()

    def admit(self, files: List[FileStat]
              ) -> Tuple[List[FileStat], bool]:
        """Mirror admission for one table listing: ``(admitted files,
        veto)``. Admitted means ``is_cacheable_file``; nothing is
        admitted without a mirror.

        The veto is the ``ScanDetector`` admission idea
        (``util/ScanDetector.java:43-69``) lifted from pages to
        tables: when the admitted bytes exceed what the mirror can
        hold below its eviction floor, cold files are NOT filled —
        filling would evict everything just written (at 100 TB, a
        table bigger than the node cache must stream from remote, not
        churn the cache). Existing hits still serve locally. This is
        the one place the rule lives; each caller counts
        ``total_scans_detected`` once per decision it acts on."""
        if self.mirror is None:
            return [], False
        admitted = [st for st in files
                    if self.is_cacheable_file(st.path, st.length)]
        floor = self.mirror.capacity * self.conf.eviction_stop_occupancy
        veto = bool(self.mirror.capacity) and sum(
            st.length for st in admitted) > floor
        return admitted, veto

    def _on_tasks(self, path: str, nbytes: int) -> bool:
        """Where a fill of ``nbytes`` runs: on Spark tasks (each node
        fills its own tier) once it reaches ``auto_warm_bytes``, else
        in this process — below the threshold a Spark job costs more
        than the copy. 0 disables the task fan-out. A ``mem://`` store
        is process-local and unreachable from worker processes, so it
        always fills here (no scale concern: a process-local store is
        by definition not the 100 TB path)."""
        return (bool(self.conf.auto_warm_bytes)
                and not path.startswith("mem://")
                and nbytes >= self.conf.auto_warm_bytes)

    def _serve_hits(self, files: List[FileStat],
                    local: Dict[str, str]) -> List[FileStat]:
        """Record each mirrored file's local copy in ``local``, counted
        as a data-cache read; returns the files still cold."""
        cold = []
        for st in files:
            hit = self.mirror.lookup(st.path, st.mtime)
            if hit is None:
                cold.append(st)
                continue
            self.stats.add("total_read_requests_from_data_cache")
            self.stats.add("total_bytes_read_data_cache", st.length)
            self.stats.add("total_bytes_read", st.length)
            local[st.path] = hit
        return cold

    def resolve_for_spark(self, uri: str, suffix: str = "",
                          files: Optional[List[FileStat]] = None,
                          spark=None) -> List[str]:
        """Resolve a table location to concrete local-or-remote file
        paths — the single fill path of the mirror. For each data
        file: admitted and mirrored (current mtime) → the local copy,
        counted as a data-cache hit; admitted but cold → filled, then
        the local copy; else → the original path (Spark reads remote
        directly). This is the read path of SURVEY.md §3.1 at file
        granularity. Pass ``files`` (a prior ``list_files`` result)
        to reuse one listing instead of re-listing the remote.

        Admission and the file-level scan veto come from ``admit``; a
        vetoed resolve fills nothing and counts one
        ``total_scans_detected``. Cold files fill where ``_on_tasks``
        says: with a session and at least ``auto_warm_bytes`` of them,
        Spark tasks fill them first (``warm_distributed``'s task step
        — each node fills its own mirror, so the driver never funnels
        table bytes) and the driver adopts what landed. Whatever is
        still cold fills IN PARALLEL over the manager's pool (the
        reference's 8-thread pool for async work,
        ``SidecarCachingFileSystem.java:617-627``): a 1000-file cold
        table warms at pool-width concurrency instead of one file per
        loop iteration. A failed fill — task or pool — self-heals to
        the remote path (cache trouble must never fail the read — the
        ``readFromWriteCacheFS`` error contract,
        ``SidecarCachingInputStream.java:1008-1038``)."""
        fs, path = self._resolve(uri)
        if files is None:
            files = self.list_files(path, suffix=suffix, spark=spark)
        admitted, veto = self.admit(files)
        if veto:
            self.stats.add("total_scans_detected")
        local: Dict[str, str] = {}
        cold = self._serve_hits(admitted, local)
        if cold and not veto:
            if spark is not None and self._on_tasks(
                    path, sum(st.length for st in cold)):
                try:
                    self.run_tasks(spark, cold, _warm_slice)
                except Exception:  # noqa: BLE001 — warm trouble never
                    pass           # fails the read; the pool fills
                cold = self._serve_hits(cold, local)

            def fetch(st: FileStat) -> None:
                try:
                    local[st.path] = self.mirror.materialize(fs, st)
                    self.stats.add("total_bytes_read", st.length)
                except Exception:  # noqa: BLE001 - self-heal to remote
                    pass

            if len(cold) == 1:
                fetch(cold[0])
            elif cold:
                concurrent.futures.wait(
                    [self.pool.submit(fetch, st) for st in cold])
        for st in files:
            self.stats.add("total_files_opened")
            self.meta.save(st.path, FileMeta(st.mtime, st.length, st.is_dir))
        return [local.get(st.path, st.path) for st in files]

    def warm_distributed(self, spark, uri: str, suffix: str = "",
                         files: Optional[List[FileStat]] = None) -> int:
        """Cluster-wide cache warm (the Alluxio ``distributedLoad``
        shape): fan cold-file materialization over Spark TASKS, each of
        which opens the node-local CacheManager for the same cache_dir
        on whatever node it runs and fills THAT node's mirror — the
        executor-side deployment of the per-node singleton design
        (``SidecarCachingFileSystem.java:96-119``; see the FileMirror
        multi-node note). ``resolve_for_spark`` runs the same task
        step on its own for a cold table of ``auto_warm_bytes`` or
        more; this is the explicit pre-warm.

        On local[k] every task lands on this machine, so the warmed
        files appear in this manager's mirror root out-of-band;
        ``FileMirror.lookup`` adopts them (content-addressed names make
        adoption safe), and the next ``resolve_for_spark`` serves them
        as data-cache hits with zero driver-side fetches. The remote
        must be reachable from every node (file/S3/cloud schemes —
        exactly the real-cluster constraint; a ``mem://`` store is
        process-local and cannot warm remotely).

        Returns the number of files fetched by tasks (cluster-wide;
        already-local files are skipped driver-side). A vetoed table
        (``admit``) is not warmed — filling it would only churn every
        node's cache — and counts one ``total_scans_detected``."""
        if files is None:
            files = self.list_files(uri, suffix=suffix, spark=spark)
        admitted, veto = self.admit(files)
        cold = [st for st in admitted
                if self.mirror.lookup(st.path, st.mtime) is None]
        if not cold:
            return 0
        if veto:
            self.stats.add("total_scans_detected")
            return 0
        return int(sum(self.run_tasks(spark, cold, _warm_slice)))

    def mirror_writes_distributed(self, spark, uri: str,
                                  suffix: str = "") -> int:
        """Write mirroring — the reference's on-the-writing-node tee
        (``SidecarCachingOutputStream.java:181-223``) applied
        post-commit at file granularity: after a Spark job commits
        files at ``uri``, each committed file is copied into the write
        cache by ``_mirror_write`` (atomic copy; synced, so no
        ``.toupload`` moniker — the remote commit already happened).
        Returns the files mirrored.

        Where the copies run is ``_on_tasks``: a SMALL commit (a
        manifest, a summary table) or a ``mem://`` one tees through
        this process directly — a Spark job costs more than the copy.
        Real-cluster caveat: that fills the DRIVER node's write cache,
        not an executor's — fine for the manifests it is sized for
        (any node's read self-heals to remote), wrong for data tables,
        which is why the threshold gates it. At ``auto_warm_bytes``
        and above the copies fan over Spark TASKS, each on whatever
        node it runs, into THAT node's write cache; the driver reads
        ZERO data bytes. It only adopts files that landed on its own
        disk into its file list (size-verified bookkeeping) and
        refreshes meta. On local[k] every task lands on this machine
        so the driver adopts everything; on a real cluster each
        node's cache ends up holding the files its own tasks mirrored
        — the per-node singleton shape
        (``SidecarCachingFileSystem.java:96-119``).

        Per-file tolerant: a failed copy leaves that file un-mirrored
        (remote stays authoritative; the next read self-heals), never
        fails the write."""
        if self.write_cache is None:
            return 0
        fs_uri = uri if "://" in uri else os.path.abspath(uri)
        work = [st for st in self.list_files(fs_uri, suffix=suffix,
                                             spark=spark)
                if not self.conf.write_excluded(st.path)]
        if not self._on_tasks(fs_uri, sum(st.length for st in work)):
            return sum(_mirror_write(self, st) for st in work)
        fetched = int(sum(self.run_tasks(spark, work, _mirror_write_slice)))
        # driver-side adoption: register whatever landed on THIS
        # node's disk (size-verified) — pure bookkeeping, no data reads
        for st in work:
            _, p = self._resolve(st.path)
            cp = self.write_cache.caching_path(p)
            try:
                ok = os.path.getsize(cp) == st.length
            except OSError:
                ok = False
            if ok:
                if not self.write_cache.file_list.exists(cp):
                    self.write_cache.register(cp, st.length)
                self.meta.save(p, FileMeta(st.mtime, st.length, False))
        self.write_cache.check_eviction()
        return fetched

    # ---- persistence (save/load on shutdown, :779-842,931-968) -------------------

    def _snap_dir(self) -> Optional[str]:
        if not self.conf.cache_dir:
            return None
        d = os.path.join(self.conf.cache_dir, "snapshots")
        os.makedirs(d, exist_ok=True)
        return d

    def save(self) -> None:
        d = self._snap_dir()
        if d is None:
            return
        self.meta.save_snapshot(os.path.join(d, "meta.json"))
        self.stats.save(os.path.join(d, "stats.json"))
        if self.write_cache is not None:
            self.write_cache.save_snapshot(os.path.join(d, "filelist.json"))

    def load(self) -> None:
        d = self._snap_dir()
        if d is None:
            return
        self.meta.load_snapshot(os.path.join(d, "meta.json"))
        self.stats.load(os.path.join(d, "stats.json"))
        if self.write_cache is not None:
            self.write_cache.load_snapshot(os.path.join(d, "filelist.json"))

    def close(self, save: bool = True) -> None:
        if self._closed:
            return
        self._closed = True
        try:
            self.drain()
        except Exception:  # noqa: BLE001
            pass
        if save and self.conf.cache_persistent:
            self.save()
        self.pool.shutdown(wait=True)
        self._handles.close()
        with CacheManager._instances_lock:
            key = CacheManager._key(self.conf)
            if CacheManager._instances.get(key) is self:
                del CacheManager._instances[key]


# ---- listing rules --------------------------------------------------------

#: session conf: visible subdirectories above which ``list_files`` lists
#: a tree as a Spark job (negative disables the job)
_LIST_JOB_THRESHOLD_KEY = "spark.sidecar.parallelListing.threshold"
#: slices of that job at most (one per subdirectory below this)
_LIST_JOB_MAX_SLICES = 10000


def _listing_threshold(spark) -> int:
    try:
        return int(spark.conf.get(_LIST_JOB_THRESHOLD_KEY, "32"))
    except Exception:  # noqa: BLE001 — unreadable or malformed: default
        return 32


def _ls(fs: RemoteFS, path: str, recursive: bool) -> Optional[List[FileStat]]:
    """One LIST of ``path``; None when it is a file or vanished."""
    try:
        return fs.list(path, recursive=recursive)
    except (NotADirectoryError, FileNotFoundError):
        return None


def _hidden(root: str, path: str) -> bool:
    """Spark's hidden-path rule (``HadoopFSUtils.shouldFilterOutPathName``)
    over every segment of ``path`` below ``root``: a name starting with
    ``_`` and holding no ``=``, starting with ``.``, or ending in
    ``._COPYING_`` hides itself and everything under it. Directories
    named ``_metadata*``/``_common_metadata*`` are Spark's exceptions and
    are still descended; as a leaf such a file is not data (the index's
    ``isDataPath``), so the leaf takes the rule without them."""
    *dirs, leaf = path[len(root.rstrip("/")):].strip("/").split("/")

    def excluded(name: str) -> bool:
        return ((name.startswith("_") and "=" not in name)
                or name.startswith(".") or name.endswith("._COPYING_"))

    return excluded(leaf) or any(
        excluded(d) and not d.startswith(("_metadata", "_common_metadata"))
        for d in dirs)


# ---- task steps (run by ``CacheManager.run_tasks`` on a worker's manager) ----

def _list_slice(root: str, mgr: CacheManager, dirs):
    """Recursive LIST of each directory under ``root``, visible files
    only (``list_files``' job)."""
    out = []
    for d in dirs:
        fs, p = mgr._resolve(d)  # noqa: SLF001
        # vanished mid-job: absent means empty, as in the serial path
        out.extend(s for s in _ls(fs, p, recursive=True) or ()
                   if not s.is_dir and not _hidden(root, s.path))
    yield out


def _warm_slice(mgr: CacheManager, files):
    """Fill each file into this node's mirror; yields the count."""
    n = 0
    for st in files:
        # per-file tolerance: one unreadable/mutated remote file must
        # not fail the whole warm job (cache trouble never fails the
        # caller — the resolve_for_spark self-heal contract applied to
        # the warm path); the file simply stays cold and the next read
        # self-heals to remote
        try:
            fs, _ = mgr._resolve(st.path)  # noqa: SLF001
            mgr.mirror.materialize(fs, st)
            n += 1
        except Exception:  # noqa: BLE001
            pass
    yield n


def _mirror_write(mgr: CacheManager, st: FileStat) -> bool:
    """Copy one committed file into ``mgr``'s write cache and record
    its meta — the one write-mirror step, run inline or on a task.
    Registered synced (no moniker): the remote commit already
    happened. False when the copy fails (per-file tolerance)."""
    try:
        fs, p = mgr._resolve(st.path)  # noqa: SLF001
        cp = mgr.write_cache.caching_path(p)
        os.makedirs(os.path.dirname(cp), exist_ok=True)
        download(fs, dataclasses.replace(st, path=p), cp)
        mgr.write_cache.register(cp, st.length)
        mgr.meta.save(p, FileMeta(st.mtime, st.length, False))
        mgr.write_cache.check_eviction()
        return True
    except Exception:  # noqa: BLE001
        return False


def _mirror_write_slice(mgr: CacheManager, files):
    if mgr.write_cache is None:
        yield 0
        return
    yield sum(_mirror_write(mgr, st) for st in files)
