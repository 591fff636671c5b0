"""Write cache — local mirror of recently written files.

Port of the write-cache half of ``SidecarCachingFileSystem``:

* bijective remote→local path mapping ``cacheRoot/scheme/host/path``
  (remoteToCachingPath, :983-997 / cachingToRemotePath, :999-1014);
* ``.toupload`` moniker files marking "written locally but not yet
  synced to remote" (createMoniker/deleteMoniker, :1704-1717);
* insertion-ordered (Least-Recently-Created) file list driving
  eviction (util/LRCQueue.java) with high/low occupancy watermarks
  0.95/0.90 (:124-129) and the unsynced-victim guard of evictFiles
  (:1397-1465): a victim that still has a moniker must not be deleted.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from typing import List, Optional
from urllib.parse import urlparse

from sidecar_spark.config import SidecarConfig
from sidecar_spark.stats import Statistics
from sidecar_spark.util.lrc_queue import LRCQueue

MONIKER_SUFFIX = ".toupload"


class WriteCache:
    def __init__(self, conf: SidecarConfig, stats: Optional[Statistics] = None) -> None:
        if not conf.cache_dir:
            raise ValueError("cache_dir required for write cache")
        self.conf = conf
        self.stats = stats or Statistics()
        self.root = os.path.join(conf.cache_dir, "write-cache")
        os.makedirs(self.root, exist_ok=True)
        self.max_size = conf.write_cache_size  # 0 = unbounded
        self.file_list = LRCQueue()
        self._size = 0
        self._size_lock = threading.Lock()
        self._evictor_running = threading.Event()
        self.disabled = False  # set when eviction can't make progress
        self.unsynced_retry_delay = 60.0  # evictFiles sleeps 60 s (:1432)
        # disk adoption: a prior process (a recycled Spark Python
        # worker that ran a write-mirror task, a crashed driver)
        # may have left synced mirror files on this node that exist
        # only on disk — register them so eviction can account for and
        # reclaim them; without this, worker-mirrored bytes on a real
        # cluster grow the cache root unbounded across worker recycles
        self.adopt_disk()

    def adopt_disk(self) -> int:
        """Register size-verified on-disk mirror files that the file
        list does not know about (the ``FileMirror.lookup`` adoption
        idea applied at startup): the write-cache path mapping is
        bijective, so any regular file under the root IS a mirror of
        its mapped remote path. Skips ``.tmp-`` staging files (another
        process's in-flight copy — but sweeps ones old enough to be
        crash leftovers) and files that currently carry a moniker (a
        live writer owns them; their size is not final). Returns the
        number of files adopted."""
        from sidecar_spark.util.tmp_sweep import sweep_if_stale

        adopted = 0
        now = time.time()
        for dirpath, _dirs, files in os.walk(self.root):
            for name in files:
                if name.endswith(MONIKER_SUFFIX):
                    continue
                p = os.path.join(dirpath, name)
                if ".tmp-" in name:
                    sweep_if_stale(p, now)
                    continue
                if self.file_list.exists(p) or self.has_moniker(p):
                    continue
                try:
                    sz = os.path.getsize(p)
                except OSError:
                    continue  # vanished between walk and stat
                self.file_list.put(p, sz)
                with self._size_lock:
                    self._size += sz
                adopted += 1
        return adopted

    # ---- path mapping ----------------------------------------------------

    def caching_path(self, remote_uri: str) -> str:
        """remoteToCachingPath: cacheRoot/scheme/host/path (:983-997)."""
        u = urlparse(remote_uri)
        scheme = u.scheme or "file"
        host = u.netloc or "localhost"
        path = (u.path if u.scheme else os.path.abspath(remote_uri)).lstrip("/")
        return os.path.join(self.root, scheme, host, path)

    def remote_path(self, caching_path: str) -> str:
        """cachingToRemotePath inverse mapping (:999-1014)."""
        rel = os.path.relpath(caching_path, self.root)
        parts = rel.split(os.sep)
        scheme, host, rest = parts[0], parts[1], parts[2:]
        if scheme == "file":
            return "/" + "/".join(rest)
        return f"{scheme}://{host}/" + "/".join(rest)

    # ---- moniker protocol --------------------------------------------------

    def moniker_path(self, caching_path: str) -> str:
        return caching_path + MONIKER_SUFFIX

    def create_moniker(self, caching_path: str) -> None:
        os.makedirs(os.path.dirname(caching_path), exist_ok=True)
        with open(self.moniker_path(caching_path), "wb"):
            pass

    def delete_moniker(self, caching_path: str) -> None:
        try:
            os.remove(self.moniker_path(caching_path))
        except FileNotFoundError:
            pass

    def has_moniker(self, caching_path: str) -> bool:
        return os.path.exists(self.moniker_path(caching_path))

    def moniker_count(self) -> int:
        n = 0
        for dirpath, _dirs, files in os.walk(self.root):
            n += sum(1 for f in files if f.endswith(MONIKER_SUFFIX))
        return n

    # ---- membership / IO ----------------------------------------------------

    def contains(self, remote_uri: str) -> bool:
        """inWriteCache (:728-737): file-list membership + stat."""
        cp = self.caching_path(remote_uri)
        return self.file_list.exists(cp) and os.path.exists(cp)

    def local_path(self, remote_uri: str) -> Optional[str]:
        cp = self.caching_path(remote_uri)
        if self.file_list.exists(cp) and os.path.exists(cp):
            return cp
        return None

    def open_write(self, remote_uri: str):
        """Create the mirror file + its moniker; returns (fh, caching_path)."""
        cp = self.caching_path(remote_uri)
        os.makedirs(os.path.dirname(cp), exist_ok=True)
        self.create_moniker(cp)
        return open(cp, "wb"), cp

    def open_append(self, remote_uri: str):
        """Append stream on an EXISTING mirror, under a fresh moniker;
        (None, None) when the file has no mirror — the reference's
        ``writeCacheFS.append`` throws on a missing cachePath and the
        caller degrades to remote-only
        (SidecarCachingFileSystem.java:1793-1800)."""
        cp = self.caching_path(remote_uri)
        if not os.path.exists(cp):
            return None, None
        self.create_moniker(cp)
        return open(cp, "ab"), cp

    def register_append(self, caching_path: str, appended: int) -> None:
        """File-list/size accounting for an append: the entry's length
        becomes the mirror's FULL size (eviction subtracts entry
        lengths), while the running size counter grows by the appended
        delta only (the pre-append bytes are already counted)."""
        try:
            total = os.path.getsize(caching_path)
        except OSError:
            return
        self.file_list.put(caching_path, total)
        with self._size_lock:
            self._size += appended

    def drop_mirror(self, caching_path: str) -> None:
        """Remove a mirror file and ALL its accounting (moniker, file
        list, size counter) — the corrupt-mirror teardown used when a
        cache-side append fails mid-stream."""
        self.delete_moniker(caching_path)
        ln = self.file_list.remove(caching_path)
        if ln is not None:
            with self._size_lock:
                self._size -= ln
        try:
            os.remove(caching_path)
        except OSError:
            pass

    def register(self, caching_path: str, length: int) -> None:
        """Record a completed mirror write in the file list + size counters
        (the file-list half of closingRemote, :1286-1294).  Re-creating
        an existing mirror REPLACES its entry, so the size counter
        moves by the delta, not the full new length."""
        prev = self.file_list.get(caching_path)
        self.file_list.put(caching_path, length)
        with self._size_lock:
            self._size += length - (prev or 0)

    def put_file(self, remote_uri: str, data: bytes, synced: bool = True) -> str:
        """Convenience: mirror a whole file from bytes in memory."""
        fh, cp = self.open_write(remote_uri)
        with fh:
            fh.write(data)
        if synced:
            self.delete_moniker(cp)
        self.register(cp, len(data))
        return cp

    def read_range(self, remote_uri: str, offset: int, length: int) -> Optional[bytes]:
        lp = self.local_path(remote_uri)
        if lp is None:
            return None
        t0 = time.monotonic_ns()
        try:
            with open(lp, "rb") as f:
                f.seek(offset)
                data = f.read(length)
        except OSError:
            return None
        self.stats.add("total_write_cache_read_time_ns", time.monotonic_ns() - t0)
        return data

    # ---- mutation coherence ---------------------------------------------------

    def _listed(self, caching_path: str, below: bool) -> List[str]:
        """``caching_path`` and, with ``below``, every listed mirror
        under it."""
        under = caching_path.rstrip(os.sep) + os.sep
        return [caching_path] + ([cp for cp, _ in self.file_list.items()
                                  if cp.startswith(under)] if below else [])

    def delete_file(self, remote_uri: str, below: bool = False) -> None:
        """Drop the mirror of ``remote_uri`` and, with ``below``, every
        listed mirror under it, monikers included: a pending upload of
        a dropped mirror then finds nothing to publish."""
        for cp in self._listed(self.caching_path(remote_uri), below):
            self.drop_mirror(cp)

    def rename(self, src_uri: str, dst_uri: str, below: bool = True) -> bool:
        """Mirror a remote rename (rename handling, :1807-1857): move
        the mirror of ``src_uri`` and, with ``below``, each listed
        mirror under it to its place under ``dst_uri``, with its moniker
        and file-list entry. True when a mirror moved."""
        src = self.caching_path(src_uri)
        dst = self.caching_path(dst_uri)
        moved = False
        for cp in self._listed(src, below):
            ln, to = self.file_list.get(cp), dst + cp[len(src):]
            if ln is None or to == cp or not os.path.exists(cp):
                continue
            self.drop_mirror(to)  # an overwritten mirror and its bytes
            os.makedirs(os.path.dirname(to), exist_ok=True)
            shutil.move(cp, to)
            if self.has_moniker(cp):
                self.delete_moniker(cp)
                self.create_moniker(to)
            self.file_list.remove(cp)
            self.file_list.put(to, ln)
            moved = True
        return moved

    # ---- capacity / eviction ------------------------------------------------

    def size_bytes(self) -> int:
        with self._size_lock:
            return self._size

    def occupancy(self) -> float:
        if not self.max_size:
            return 0.0
        return self.size_bytes() / self.max_size

    def check_eviction(self, blocking: bool = True) -> None:
        """Start eviction when occupancy > 0.95 (checkEviction, :1020-1051).
        The reference spawns a CAS-guarded thread; we run inline by
        default (deterministic for tests) or on a daemon thread.

        ``disabled`` self-heals: it exists to stop busy-spinning on an
        unsynced (monikered) eviction head, but the blocking upload
        eventually completes — a permanent disable would let the cache
        grow unbounded while admission keeps writing. Each call
        re-checks the head cheaply and re-enables once it is synced."""
        if not self.max_size:
            return
        if self.occupancy() <= self.conf.eviction_start_occupancy:
            return
        if self.disabled:
            head = self.file_list.eviction_candidate()
            if head is None or self.has_moniker(head):
                return  # still blocked on an unsynced head
            self.disabled = False
        if blocking:
            self.evict_files()
        elif not self._evictor_running.is_set():
            self._evictor_running.set()
            t = threading.Thread(target=self._evict_entry, daemon=True)
            t.start()

    def _evict_entry(self) -> None:
        try:
            self.evict_files()
        finally:
            self._evictor_running.clear()

    def evict_files(self, max_unsynced_retries: int = 1) -> int:
        """Evict oldest-created files until occupancy < 0.90
        (evictFiles, :1397-1465). A victim whose moniker still exists is
        unsynced: the reference disables the write cache and retries
        after 60 s; we retry up to ``max_unsynced_retries`` times then
        mark the cache disabled (same terminal behavior)."""
        evicted = 0
        retries = 0
        while self.occupancy() > self.conf.eviction_stop_occupancy:
            victim = self.file_list.eviction_candidate()
            if victim is None:
                break
            if self.has_moniker(victim):
                retries += 1
                if retries > max_unsynced_retries:
                    self.disabled = True
                    break
                time.sleep(min(self.unsynced_retry_delay, 0.05))
                continue
            ln = self.file_list.remove(victim)
            try:
                os.remove(victim)
            except OSError:
                pass
            if ln is not None:
                with self._size_lock:
                    self._size -= ln
            evicted += 1
        return evicted

    # ---- persistence ------------------------------------------------------

    def save_snapshot(self, path: str) -> None:
        self.file_list.save(path)

    def load_snapshot(self, path: str) -> bool:
        ok = self.file_list.load(path)
        if ok:
            total = 0
            for cp, ln in list(self.file_list.items()):
                if os.path.exists(cp):
                    total += ln
                else:
                    self.file_list.remove(cp)
            with self._size_lock:
                self._size = total
            # the snapshot REPLACES the list — re-adopt disk files the
            # snapshot predates (e.g. worker-mirrored after the last
            # save) so they stay accounted and evictable
            self.adopt_disk()
        return ok
