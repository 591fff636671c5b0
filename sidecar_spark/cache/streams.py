"""Caching input/output streams.

``CachingInputStream`` ports the 3-tier read resolution of
``SidecarCachingInputStream.readInternal`` (:796-877):

  ① the request window sits inside the prefetch buffer → serve from it
    and backfill any missing pages into the page cache (:808-815,703-733);
  ② every needed page is in the page cache → assemble from cached pages
    (fullyReadFromCache, :889-923); a surprise per-page miss re-fetches
    that page externally and re-admits it (readCachedPage, :491-539);
  ③ otherwise bulk-read the whole page-aligned span externally — write
    cache first, remote FS second (readExternalPage order, :961-988) —
    admit the missing pages (scan detector may veto, dataPagePut
    :665-699) and refresh the prefetch buffer (:869-872). Sequential
    reads over-read up to ``io_buffer_size`` (:830-832).

``CachingOutputStream`` ports the tee write path
(``SidecarCachingOutputStream.java:181-223``): every byte goes to the
local caching stream (errors tolerated — caching failure never fails
the write, reportException :1329-1348) then to the remote stream; a
listener receives byte counts and the close event (``closingRemote``
is where ASYNC upload completes, :1268-1326).
"""

from __future__ import annotations

import time
from typing import Callable, Optional

from sidecar_spark.cache.fs import FileStat
from sidecar_spark.cache.pages import PageStore
from sidecar_spark.stats import Statistics
from sidecar_spark.util.scan_detector import ScanDetector


class CachingInputStream:
    """Random-access reader for one file version (a ``FileStat``)."""

    def __init__(
        self,
        version: FileStat,
        page_store: PageStore,
        remote_read: Callable[[int, int], bytes],
        write_cache_read: Optional[Callable[[int, int], Optional[bytes]]] = None,
        stats: Optional[Statistics] = None,
        io_buffer_size: Optional[int] = None,
        scan_detector: Optional[ScanDetector] = None,
        cache_on_read: bool = True,
        on_close: Optional[Callable[[], None]] = None,
    ) -> None:
        self.version = version
        self.length = version.length
        self.pages = page_store
        self.page_size = page_store.page_size
        self.remote_read = remote_read
        self.write_cache_read = write_cache_read
        self.stats = stats or Statistics()
        self.io_buffer_size = io_buffer_size or 4 * self.page_size
        self.scan_detector = scan_detector
        self.cache_on_read = cache_on_read and page_store.enabled
        self._scan_vetoed = False
        self._on_close = on_close
        self._pos = 0
        # prefetch buffer window [start, end)
        self._buf: bytes = b""
        self._buf_start = 0
        self._closed = False

    # ---- positional bookkeeping (seek/getPos, :339-376) -------------------

    def seek(self, pos: int) -> None:
        if pos < 0 or pos > self.length:
            raise ValueError(f"seek out of range: {pos}")
        self._pos = pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n < 0:
            n = self.length - self._pos
        data = self.read_at(self._pos, n)
        self._pos += len(data)
        return data

    def close(self) -> None:
        if self._closed:
            return
        self._buf = b""
        self._closed = True
        if self._on_close is not None:
            try:
                self._on_close()  # release a remote handle it owns
            except Exception:  # noqa: BLE001 — close is best-effort
                pass

    # ---- the core (readInternal, :796-877) ---------------------------------

    def read_at(self, offset: int, length: int) -> bytes:
        if self._closed:
            raise ValueError("stream closed")
        if offset >= self.length or length <= 0:
            return b""
        length = min(length, self.length - offset)
        self.stats.add("total_read_requests")

        # tier ① — prefetch buffer window hit
        buf_end = self._buf_start + len(self._buf)
        if self._buf and self._buf_start <= offset and offset + length <= buf_end:
            rel = offset - self._buf_start
            data = self._buf[rel:rel + length]
            self.stats.add("total_read_requests_from_prefetch")
            self.stats.add("total_bytes_read_prefetch", length)
            self.stats.add("total_bytes_read", length)
            self._backfill_from_buffer()
            return data

        # page-align the request
        start_page = (offset // self.page_size) * self.page_size
        end = offset + length
        end_page = -(-end // self.page_size) * self.page_size
        end_page = min(end_page, self._ceil_page(self.length))
        needed = list(range(start_page, end_page, self.page_size))

        # tier ② — all pages cached
        if self.cache_on_read and all(
            self.pages.exists(self._key(p)) for p in needed
        ):
            data = self._fully_read_from_cache(needed, offset, length)
            if data is not None:
                self.stats.add("total_read_requests_from_data_cache")
                self.stats.add("total_bytes_read_data_cache", length)
                self.stats.add("total_bytes_read", length)
                return data

        # tier ③ — external bulk read; sequential reads prefetch ahead.
        # fetch_end is page-ALIGNED (ceil): an io_buffer_size that is
        # not a page multiple would otherwise end the span mid-page and
        # admit a SHORT interior page under a full-page key — cache
        # assembly would then return wrong bytes for any request
        # crossing it.
        fetch_end = end_page
        if length <= self.io_buffer_size:
            fetch_end = min(
                self._ceil_page(start_page + max(
                    self.io_buffer_size, end_page - start_page)),
                self._ceil_page(self.length))
        span = self._read_external(start_page, fetch_end - start_page)

        # admit pages (scan detector may veto, :665-699); belt-and-
        # braces: only full pages (or the file's true last page) are
        # admissible, whatever the span length turned out to be
        if self.cache_on_read:
            for p in range(start_page, fetch_end, self.page_size):
                if self._scan_veto(p):
                    continue
                pg = span[p - start_page:p - start_page + self.page_size]
                if pg and (len(pg) == self.page_size
                           or p + len(pg) >= self.length):
                    self.pages.put(self._key(p), pg)

        # refresh prefetch window (:869-872)
        self._buf = span
        self._buf_start = start_page

        rel = offset - start_page
        self.stats.add("total_bytes_read", length)
        return span[rel:rel + length]

    def read_fully(self, offset: int, length: int) -> bytes:
        """readFully semantics (:417-437): EOF if the request cannot be
        filled completely."""
        data = self.read_at(offset, length)
        if len(data) < length:
            raise EOFError(f"short read at {offset}: {len(data)} < {length}")
        return data

    # ---- helpers ------------------------------------------------------------

    def _key(self, page_offset: int) -> str:
        return self.pages.key(self.version, page_offset)

    def _ceil_page(self, n: int) -> int:
        return -(-n // self.page_size) * self.page_size

    def _scan_veto(self, page_offset: int) -> bool:
        if self.scan_detector is None:
            return False
        if self._scan_vetoed:
            return True
        if self.scan_detector.record(page_offset):
            self._scan_vetoed = True
            self.stats.add("total_scans_detected")
            return True
        return False

    def _fully_read_from_cache(self, pages, offset: int, length: int) -> Optional[bytes]:
        """Assemble from cached pages; surprise miss → external re-fetch
        + re-admit (readCachedPage, :491-539)."""
        parts = []
        for p in pages:
            pg = self.pages.get(self._key(p))
            if pg is None:
                pg = self._read_external(p, min(self.page_size, self.length - p))
                self.pages.put(self._key(p), pg)
            parts.append(pg)
        blob = b"".join(parts)
        rel = offset - pages[0]
        if rel + length > len(blob):
            return None
        return blob[rel:rel + length]

    def _read_external(self, offset: int, length: int) -> bytes:
        """Write-cache FS first, remote second (:961-988). A write-cache
        IOException permanently disables that tier for this stream
        (self-heal to remote, :1008-1038)."""
        length = min(length, self.length - offset)
        if self.write_cache_read is not None:
            t0 = time.monotonic_ns()
            try:
                data = self.write_cache_read(offset, length)
            except OSError:
                data = None
                self.write_cache_read = None
            if data is not None and len(data) == length:
                self.stats.add("total_read_requests_from_write_cache")
                self.stats.add("total_bytes_read_write_cache", length)
                self.stats.add("total_write_cache_read_time_ns",
                               time.monotonic_ns() - t0)
                return data
        t0 = time.monotonic_ns()
        data = self.remote_read(offset, length)
        self.stats.add("total_read_requests_from_remote")
        self.stats.add("total_bytes_read_remote", len(data))
        self.stats.add("total_remote_fs_read_time_ns", time.monotonic_ns() - t0)
        if self._scan_vetoed:
            self.stats.add("total_scan_read_requests_from_remote")
            self.stats.add("total_scan_bytes_read_remote", len(data))
        return data

    def _backfill_from_buffer(self) -> None:
        """Admit buffered pages absent from the cache
        (cacheDataFromPrefetchBuffer, :718-733)."""
        if not self.cache_on_read or not self._buf:
            return
        start = self._buf_start
        if start % self.page_size:
            return
        for p in range(start, start + len(self._buf), self.page_size):
            pg = self._buf[p - start:p - start + self.page_size]
            if not pg:
                break
            if len(pg) < self.page_size and p + len(pg) < self.length:
                break  # short interior slice: never admissible
            k = self._key(p)
            if not self.pages.exists(k) and not self._scan_vetoed:
                self.pages.put(k, pg)


class CachingOutputStream:
    """Tee writer: local caching stream + remote stream.

    Caching-stream errors are reported and the caching stream dropped;
    the remote write always proceeds (error isolation per
    reportException, SidecarCachingFileSystem.java:1329-1348).

    ``remote_fh`` may be None (ASYNC_COPY mode: the file is written to
    the write cache only and uploaded by a background task after
    close — WriteCacheMode.java:20-24)."""

    def __init__(self, remote_fh, caching_fh=None,
                 on_bytes: Optional[Callable[[int], None]] = None,
                 on_close: Optional[Callable[["CachingOutputStream"], None]] = None,
                 on_cache_error: Optional[Callable[[Exception], None]] = None) -> None:
        self.remote_fh = remote_fh
        self.caching_fh = caching_fh
        self.on_bytes = on_bytes
        self.on_close = on_close
        self.on_cache_error = on_cache_error
        self.bytes_written = 0
        self._closed = False

    def write(self, data: bytes) -> int:
        if self.caching_fh is not None:
            try:
                self.caching_fh.write(data)
            except Exception as e:  # noqa: BLE001 — cache failure must not fail the write
                if self.remote_fh is None:
                    raise  # local-first mode: the cache file IS the write
                self._drop_caching_stream(e)
        if self.remote_fh is not None:
            self.remote_fh.write(data)
        self.bytes_written += len(data)
        if self.on_bytes:
            self.on_bytes(len(data))
        return len(data)

    def flush(self) -> None:
        if self.caching_fh is not None:
            try:
                self.caching_fh.flush()
            except Exception as e:  # noqa: BLE001
                if self.remote_fh is None:
                    raise
                self._drop_caching_stream(e)
        if self.remote_fh is not None:
            self.remote_fh.flush()

    def _drop_caching_stream(self, exc: Exception) -> None:
        try:
            self.caching_fh.close()
        except Exception:  # noqa: BLE001
            pass
        self.caching_fh = None
        if self.on_cache_error:
            self.on_cache_error(exc)

    def close(self) -> None:
        if self._closed:
            return
        self._closed = True
        if self.caching_fh is not None:
            try:
                self.caching_fh.close()
            except Exception as e:  # noqa: BLE001
                if self.remote_fh is None:
                    # local-first (ASYNC_COPY): the cache file IS the
                    # write — swallowing a failed close (e.g. disk
                    # full flushing buffered bytes) would delete the
                    # only copy and report success: silent data loss.
                    # Same re-raise discipline as write()/flush().
                    raise
                self._drop_caching_stream(e)
        if self.on_close:
            self.on_close(self)  # closingRemote: may defer remote close
        elif self.remote_fh is not None:
            self.remote_fh.close()
