"""Page-granular data cache.

The engine-side replacement for the reference's carrot-cache data cache
(``SidecarCachingFileSystem.java:882-929`` wires it; page get/put in
``SidecarCachingInputStream.java:650-699``). Pages are fixed-size
chunks of a file version (a ``FileStat``), content-addressed by
``md5(path + '/' + mtime + '/' + length)`` plus the page-aligned offset
(``util/hashing.page_key``), so a changed file's pages self-invalidate.

Three media, mirroring ``SidecarDataCacheType`` {MEMORY, FILE, HYBRID}:

* MEMORY — bytes live in an in-process LRU dict;
* FILE   — one file per page under ``dir/<key[:2]>/<key>``;
* HYBRID — MEMORY with a FILE-backed victim tier: pages evicted from
  memory demote to disk; disk hits promote back to memory
  (the reference's "hybrid cache", SidecarCachingFileSystem.java:916-929).

Eviction uses the same high/low watermark protocol as the reference's
write cache (start 0.95 / stop 0.90 occupancy,
SidecarCachingFileSystem.java:124-129) over an LRU order (carrot-cache
uses SLRU; plain LRU keeps the same observable behavior for our tests).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Optional

from sidecar_spark.cache.fs import FileStat
from sidecar_spark.config import SidecarConfig, SidecarDataCacheType
from sidecar_spark.stats import Statistics
from sidecar_spark.util.hashing import page_key


class _MemTier:
    def __init__(self) -> None:
        self.d: "OrderedDict[str, bytes]" = OrderedDict()
        self.bytes = 0

    def get(self, key: str) -> Optional[bytes]:
        v = self.d.get(key)
        if v is not None:
            self.d.move_to_end(key)
        return v

    def put(self, key: str, data: bytes) -> None:
        old = self.d.pop(key, None)
        if old is not None:
            self.bytes -= len(old)
        self.d[key] = data
        self.bytes += len(data)

    def pop_lru(self):
        key, data = self.d.popitem(last=False)
        self.bytes -= len(data)
        return key, data

    def delete(self, key: str) -> bool:
        v = self.d.pop(key, None)
        if v is not None:
            self.bytes -= len(v)
            return True
        return False


class _FileTier:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.index: "OrderedDict[str, int]" = OrderedDict()
        self.bytes = 0
        self._rebuild()

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key[:2], key)

    def _rebuild(self) -> None:
        """Disk pages are inherently persistent — rebuild the index by
        scanning (replaces the reference's explicit saveDataCache)."""
        for sub in os.listdir(self.root):
            subdir = os.path.join(self.root, sub)
            if not os.path.isdir(subdir):
                continue
            for name in os.listdir(subdir):
                try:
                    sz = os.path.getsize(os.path.join(subdir, name))
                except OSError:
                    continue
                self.index[name] = sz
                self.bytes += sz

    def get(self, key: str) -> Optional[bytes]:
        if key not in self.index:
            return None
        try:
            with open(self._path(key), "rb") as f:
                data = f.read()
        except OSError:
            self.delete(key)
            return None
        self.index.move_to_end(key)
        return data

    def put(self, key: str, data: bytes) -> None:
        p = self._path(key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, p)
        old = self.index.pop(key, None)
        if old is not None:
            self.bytes -= old
        self.index[key] = len(data)
        self.bytes += len(data)

    def pop_lru(self) -> None:
        key, sz = self.index.popitem(last=False)
        self.bytes -= sz
        try:
            os.remove(self._path(key))
        except OSError:
            pass

    def delete(self, key: str) -> bool:
        sz = self.index.pop(key, None)
        if sz is None:
            return False
        self.bytes -= sz
        try:
            os.remove(self._path(key))
        except OSError:
            pass
        return True


class PageStore:
    def __init__(self, conf: SidecarConfig, stats: Optional[Statistics] = None) -> None:
        self.conf = conf
        self.stats = stats or Statistics()
        self.page_size = conf.data_page_size
        self.capacity = conf.data_cache_size  # 0 = unbounded
        self.cache_type = conf.data_cache_type
        self._lock = threading.RLock()
        self._mem: Optional[_MemTier] = None
        self._disk: Optional[_FileTier] = None
        if self.cache_type in (SidecarDataCacheType.MEMORY, SidecarDataCacheType.HYBRID):
            self._mem = _MemTier()
        if self.cache_type in (SidecarDataCacheType.FILE, SidecarDataCacheType.HYBRID):
            if not conf.cache_dir:
                raise ValueError("cache_dir required for FILE/HYBRID data cache")
            self._disk = _FileTier(os.path.join(conf.cache_dir, "pages"))

    @property
    def enabled(self) -> bool:
        return self.cache_type != SidecarDataCacheType.DISABLED

    # ---- keys -----------------------------------------------------------

    def key(self, st: FileStat, offset: int) -> str:
        return page_key(st, offset, self.page_size)

    # ---- core ops (dataPageGetRange/dataPageExists/dataPagePut) ----------

    def exists(self, key: str) -> bool:
        with self._lock:
            if self._mem and key in self._mem.d:
                return True
            if self._disk and key in self._disk.index:
                return True
            return False

    def get(self, key: str) -> Optional[bytes]:
        with self._lock:
            if self._mem is not None:
                v = self._mem.get(key)
                if v is not None:
                    return v
            if self._disk is not None:
                v = self._disk.get(key)
                if v is not None and self._mem is not None:
                    # hybrid promote-on-hit back into the memory tier
                    self._disk.delete(key)
                    self._mem.put(key, v)
                    self._evict_if_needed()
                return v
            return None

    def get_range(self, key: str, rel_offset: int, length: int) -> Optional[bytes]:
        data = self.get(key)
        if data is None:
            return None
        return data[rel_offset:rel_offset + length]

    def put(self, key: str, data: bytes) -> bool:
        """Admit one page. Double-insert of the same key is harmless —
        content-addressed keys mean same key ⇒ same bytes
        (dedup rationale at SidecarCachingInputStream.java:683-698)."""
        if not self.enabled:
            return False
        with self._lock:
            if self.exists(key):
                return False
            if self._mem is not None:
                self._mem.put(key, data)
            elif self._disk is not None:
                self._disk.put(key, data)
            self._evict_if_needed()
            return True

    def delete(self, key: str) -> bool:
        with self._lock:
            hit = False
            if self._mem is not None:
                hit = self._mem.delete(key) or hit
            if self._disk is not None:
                hit = self._disk.delete(key) or hit
            return hit

    def delete_file_pages(self, st: FileStat) -> int:
        """Evict every page of the file version ``st``: enumerate keys
        0..len step page_size (dataDeleteFile,
        SidecarCachingFileSystem.java:1227-1248)."""
        n = 0
        for off in range(0, max(st.length, 1), self.page_size):
            if self.delete(self.key(st, off)):
                n += 1
        return n

    # ---- capacity -------------------------------------------------------

    def size_bytes(self) -> int:
        with self._lock:
            total = 0
            if self._mem is not None:
                total += self._mem.bytes
            if self._disk is not None:
                total += self._disk.bytes
            return total

    def page_count(self) -> int:
        with self._lock:
            n = 0
            if self._mem is not None:
                n += len(self._mem.d)
            if self._disk is not None:
                n += len(self._disk.index)
            return n

    def _evict_if_needed(self) -> None:
        if not self.capacity:
            return
        hi = self.capacity * self.conf.eviction_start_occupancy
        lo = self.capacity * self.conf.eviction_stop_occupancy
        if self.cache_type == SidecarDataCacheType.HYBRID:
            # memory tier: trigger at the high watermark, demote down
            # to the LOW one (stopping at hi would re-trigger on the
            # very next put — the hysteresis is the watermarks' point)
            if self._mem.bytes > hi:
                while self._mem.bytes > lo and self._mem.d:
                    k, data = self._mem.pop_lru()
                    self._disk.put(k, data)
            # victim (disk) tier bounded at 4x capacity
            while self._disk.bytes > 4 * self.capacity:
                self._disk.pop_lru()
        else:
            tier = self._mem if self._mem is not None else self._disk
            if tier.bytes > hi:
                while tier.bytes > lo and (len(tier.d) if self._mem else len(tier.index)):
                    tier.pop_lru()

    def clear(self) -> None:
        with self._lock:
            if self._mem is not None:
                while self._mem.d:
                    self._mem.pop_lru()
            if self._disk is not None:
                while self._disk.index:
                    self._disk.pop_lru()
