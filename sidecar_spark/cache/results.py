"""Query-result cache — the reference's content-addressed page-key
idea (``util/Utils.java:100-123``: key = MD5(path + mtime) so stale
entries passively never match) lifted from byte pages to QUERY
RESULTS.

An entry's key is ``md5(sql_text ‖ sorted (path, mtime, length) of
every input file the resolved plan reads)``.  Any change to the query
or to any input file (new mtime/length) produces a different key, so
invalidation is passive and exact — the same self-invalidation
guarantee the page cache gives, with zero coordination.  Capacity is
bounded by an LRC (least-recently-created) eviction loop over entry
directories, mirroring the write-cache victim policy
(``util/LRCQueue.java:41-106``, watermark loop
``SidecarCachingFileSystem.java:1397-1465`` — simplified: results are
always re-computable, so no unsynced-victim guard is needed).

Scale note: entries are parquet directories written by the cluster
(no driver materialization) — a hit replaces an arbitrary plan with
a local parquet scan, which is exactly the Alluxio-style promise the
file mirror makes for raw tables, applied to derived results.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import time
from typing import List, Optional, Tuple


class ResultCache:
    META = "entry.json"

    #: marker-less entry dirs younger than this may be mid-store by a
    #: concurrent writer — only older orphans are swept
    ORPHAN_AGE_S = 3600.0

    #: soft eviction grace (same rationale as FileMirror.SERVED_GRACE_S):
    #: a hit hands the caller a concrete parquet path a running plan
    #: may still scan — prefer evicting entries not served recently
    SERVED_GRACE_S = 300.0

    def __init__(self, root: str, capacity_bytes: Optional[int] = None):
        self.root = root
        self.capacity_bytes = capacity_bytes
        self.hits = 0
        self.misses = 0
        self.evictions = 0
        self._served: dict = {}
        os.makedirs(root, exist_ok=True)
        self._sweep_orphans()

    # ---- keys -----------------------------------------------------------

    @staticmethod
    def key_for(sql_text: str, inputs: List[Tuple[str, int, int]]) -> str:
        """md5 over the query text and every input file's
        (path, mtime_ns, length) — the result-granular analog of the
        page key's md5(path/mtime/length)."""
        h = hashlib.md5()
        h.update(sql_text.encode("utf-8"))
        for path, mtime_ns, length in sorted(inputs):
            h.update(f"|{path}:{mtime_ns}:{length}".encode("utf-8"))
        return h.hexdigest()

    # ---- lookup / store -------------------------------------------------

    def _entry_dir(self, key: str) -> str:
        return os.path.join(self.root, key)

    def lookup(self, key: str) -> Optional[str]:
        d = self._entry_dir(key)
        if os.path.exists(os.path.join(d, self.META)):
            self.hits += 1
            self._served[key] = time.monotonic()
            return os.path.join(d, "data")
        self.misses += 1
        return None

    def meta(self, key: str) -> Optional[dict]:
        """Entry metadata (or None) without touching hit/miss counters."""
        p = os.path.join(self._entry_dir(key), self.META)
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as fh:
            return json.load(fh)

    def store(self, key: str, write_fn, sql_text: str,
              validate_fn=None, extra_meta: Optional[dict] = None) -> str:
        """Materialize a result: ``write_fn(tmp_dir/data)`` writes the
        parquet into a PRIVATE staging dir, the meta marker lands
        inside it, then one atomic ``os.rename`` publishes the whole
        entry (build → marker → atomic publish: the tmp-then-replace
        discipline of ``FileMirror.materialize``, applied to entry
        directories, so two PROCESSES storing the same key never see
        each other's half-written bytes — executors share one
        node-local cache root).  A staging dir that never publishes
        (crash, lost race, failed validation) has no marker and is
        swept by ``_sweep_orphans``.

        ``validate_fn()`` runs AFTER the write; returning False (an
        input file changed between keying and materialization) skips
        the publish, so the just-written data is served once to this
        caller but never registered under a key that no longer
        describes it."""
        d = self._entry_dir(key)
        tmpd = f"{d}.tmp-{os.getpid()}-{threading.get_ident()}"
        shutil.rmtree(tmpd, ignore_errors=True)
        os.makedirs(tmpd, exist_ok=True)
        data = os.path.join(tmpd, "data")
        write_fn(data)
        if validate_fn is not None and not validate_fn():
            return data  # unpublished: swept as an orphan later
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(data) for f in fs)
        with open(os.path.join(tmpd, self.META), "w",
                  encoding="utf-8") as fh:
            json.dump({"sql": sql_text, "bytes": size,
                       "created": time.time(), **(extra_meta or {})}, fh)
        for _attempt in (0, 1):
            if os.path.exists(os.path.join(d, self.META)):
                # a concurrent writer published first: theirs is
                # complete (marker implies fully-written data) and
                # describes the same key — serve it, drop ours
                shutil.rmtree(tmpd, ignore_errors=True)
                self._served[key] = time.monotonic()
                return os.path.join(d, "data")
            if os.path.exists(d):
                # marker-less leftover (crashed writer): clear it
                shutil.rmtree(d, ignore_errors=True)
            try:
                os.rename(tmpd, d)
                # pin BEFORE evicting: the just-published entry's path
                # goes straight into the caller's (lazy) plan and must
                # not be the eviction pass's first stale victim
                self._served[key] = time.monotonic()
                self._check_eviction()
                return os.path.join(d, "data")
            except OSError:
                continue  # raced: re-check who won
        # could not publish (persistent race/filesystem refusal): the
        # staged result is still valid for THIS caller; orphan-swept
        return data

    # ---- maintenance ----------------------------------------------------

    def _entries(self):
        out = []
        for key in os.listdir(self.root):
            if ".tmp-" in key:
                # a concurrent writer's staging dir (it may already
                # hold its META, written just before the atomic
                # publish) — NOT an entry: counting it would let the
                # eviction loop rmtree a fully-staged publish
                continue
            meta = os.path.join(self.root, key, self.META)
            if os.path.exists(meta):
                try:
                    with open(meta, encoding="utf-8") as fh:
                        m = json.load(fh)
                except (OSError, ValueError):
                    continue  # entry vanished / torn mid-read
                out.append((m.get("created", 0), key, m.get("bytes", 0)))
        return sorted(out)

    def total_bytes(self) -> int:
        return sum(b for _, _, b in self._entries())

    def _sweep_orphans(self) -> None:
        """Collect marker-less entry dirs (a crash between write_fn and
        the META write leaves one): they are invisible to lookup but
        occupy real disk the capacity loop cannot see.  An age guard
        spares entries another process is storing right now."""
        now = time.time()
        try:
            keys = os.listdir(self.root)
        except OSError:
            return
        for key in keys:
            d = os.path.join(self.root, key)
            if ".tmp-" not in key and os.path.exists(
                    os.path.join(d, self.META)):
                continue  # a published entry — never an orphan
            # marker-less dirs AND aged staging dirs (a crashed or
            # twice-raced writer can leave a .tmp- dir that already
            # holds its META — it is still an orphan: nothing serves
            # from a staging name)
            try:
                if now - os.path.getmtime(d) > self.ORPHAN_AGE_S:
                    shutil.rmtree(d, ignore_errors=True)
            except OSError:
                pass

    def _check_eviction(self) -> None:
        self._sweep_orphans()
        if self.capacity_bytes is None:
            return
        entries = self._entries()
        total = sum(b for _, _, b in entries)
        # oldest-first (LRC) until under capacity; the newest entry is
        # never a victim — evicting what was just produced would turn
        # an over-capacity store into a guaranteed re-miss loop.
        # Entries served within the grace window are deferred (a
        # running plan may still scan them) unless nothing else can
        # make room — the capacity contract wins on the second pass.
        now = time.monotonic()
        victims = entries[:-1]
        stale_first = (
            [e for e in victims
             if now - self._served.get(e[1], -1e9) >= self.SERVED_GRACE_S]
            + [e for e in victims
               if now - self._served.get(e[1], -1e9) < self.SERVED_GRACE_S])
        for _, key, b in stale_first:
            if total <= self.capacity_bytes:
                break
            shutil.rmtree(self._entry_dir(key), ignore_errors=True)
            self._served.pop(key, None)
            total -= b
            self.evictions += 1

    def invalidate_all(self) -> None:
        for key in os.listdir(self.root):
            shutil.rmtree(self._entry_dir(key), ignore_errors=True)

    def snapshot(self) -> dict:
        return {"hits": self.hits, "misses": self.misses,
                "evictions": self.evictions,
                "entries": len(self._entries()),
                "bytes": self.total_bytes()}
