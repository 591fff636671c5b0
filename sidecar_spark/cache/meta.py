"""File-metadata cache — port of the meta-cache CRUD in
``SidecarCachingFileSystem.java:1064-1212`` and the lookup/invalidation
protocol of ``getFileStatus`` (:1529-1550).

Caches (length, mtime, is_dir) per path so hot paths never pay a remote
``getFileStatus`` round-trip. Keys are MD5(path) like the reference's
(we keep the plain path alongside for introspection). An entry names
the cached version of its file; ``pop`` hands the versions it removes
to the caller, which drops their pages and copies.
"""

from __future__ import annotations

import json
import os
import threading
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from sidecar_spark.cache.fs import FileStat
from sidecar_spark.util.hashing import meta_key


@dataclass(frozen=True)
class FileMeta:
    mtime: int
    length: int
    is_dir: bool


class MetaCache:
    def __init__(self) -> None:
        self._lock = threading.RLock()
        self._d: Dict[str, FileMeta] = {}  # md5(path) -> meta
        self._paths: Dict[str, str] = {}  # md5(path) -> path (for snapshot)

    # ---- CRUD (metaPut/metaGet/metaSave; ``pop`` is metaDelete)

    def put(self, path: str, meta: FileMeta) -> None:
        k = meta_key(path)
        with self._lock:
            self._d[k] = meta
            self._paths[k] = path

    def save(self, path: str, meta: FileMeta) -> bool:
        """Put-if-absent (metaSave, SidecarCachingFileSystem.java:1190-1199)."""
        k = meta_key(path)
        with self._lock:
            if k in self._d:
                return False
            self._d[k] = meta
            self._paths[k] = path
            return True

    def get(self, path: str) -> Optional[FileMeta]:
        return self._d.get(meta_key(path))

    def pop(self, path: str, below: bool = False) -> List[Tuple[str, FileMeta]]:
        """Remove and return ``path``'s entry and, with ``below``, the
        entry of every path under ``path/``."""
        under = path.rstrip("/") + "/"
        with self._lock:
            keys = [meta_key(path)] + ([k for k, p in self._paths.items()
                                        if p.startswith(under)]
                                       if below else [])
            return [(self._paths.pop(k), self._d.pop(k))
                    for k in keys if k in self._d]

    def put_stat(self, st: FileStat) -> None:
        self.put(st.path, FileMeta(mtime=st.mtime, length=st.length, is_dir=st.is_dir))

    def size(self) -> int:
        return len(self._d)

    def clear(self) -> None:
        with self._lock:
            self._d.clear()
            self._paths.clear()

    # ---- persistence (saveMetaCache/loadMetaCache, :844-880,931-946) ----

    def save_snapshot(self, file_path: str) -> None:
        with self._lock:
            entries = [
                (self._paths[k], m.mtime, m.length, m.is_dir)
                for k, m in self._d.items() if k in self._paths
            ]
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
            self._paths.clear()
            for p, mtime, length, is_dir in entries:
                self.put(p, FileMeta(int(mtime), int(length), bool(is_dir)))
        return True
