"""File-metadata cache — port of the meta-cache CRUD in
``SidecarCachingFileSystem.java:1064-1212`` and the lookup/invalidation
protocol of ``getFileStatus`` (:1529-1550).

Caches each path's ``FileStat`` (length, mtime, is_dir) so hot paths
never pay a remote ``getFileStatus`` round-trip: a plain path-keyed
dict, where the reference keys by MD5(path). An entry is the cached
version of its file; ``pop`` hands the versions it removes to the
caller, which drops their handles, pages and copies.
"""

from __future__ import annotations

import json
import os
import threading
from typing import Dict, List, Optional

from sidecar_spark.cache.fs import FileStat


class MetaCache:
    def __init__(self) -> None:
        self._lock = threading.RLock()
        self._d: Dict[str, FileStat] = {}

    # ---- CRUD (metaPut/metaGet/metaSave; ``pop`` is metaDelete)

    def put(self, st: FileStat) -> None:
        with self._lock:
            self._d[st.path] = st

    def save(self, st: FileStat) -> bool:
        """Put-if-absent (metaSave, SidecarCachingFileSystem.java:1190-1199)."""
        with self._lock:
            return self._d.setdefault(st.path, st) is st

    def get(self, path: str) -> Optional[FileStat]:
        return self._d.get(path)

    def pop(self, path: str, below: bool = False) -> List[FileStat]:
        """Remove and return ``path``'s entry and, with ``below``, the
        entry of every path under ``path/``."""
        under = path.rstrip("/") + "/"
        with self._lock:
            keys = [path] + ([p for p in self._d if p.startswith(under)]
                             if below else [])
            return [self._d.pop(p) for p in keys if p in self._d]

    def size(self) -> int:
        return len(self._d)

    def clear(self) -> None:
        with self._lock:
            self._d.clear()

    # ---- persistence (saveMetaCache/loadMetaCache, :844-880,931-946) ----

    def save_snapshot(self, file_path: str) -> None:
        with self._lock:
            entries = [(m.path, m.mtime, m.length, m.is_dir)
                       for m in self._d.values()]
        tmp = file_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entries, f)
        os.replace(tmp, file_path)

    def load_snapshot(self, file_path: str) -> bool:
        if not os.path.exists(file_path):
            return False
        with open(file_path) as f:
            entries = json.load(f)
        with self._lock:
            self._d.clear()
            for p, mtime, length, is_dir in entries:
                self._d[p] = FileStat(p, int(length), int(mtime), bool(is_dir))
        return True
