"""Cache-layer tests, carrying over the reference's test strategy
(SURVEY.md §5 / FIXTURES.md):

* differential oracle against offset-deterministic content
  (VirtualFileInputStream.java:43-50 → ``byte_at(pos) = pos % 256``);
* tier-provenance assertions via Statistics deltas
  (TestCachingFileSystemBase.java:222-316);
* eviction watermark math (TestSidecarCachingOutputStream.java:171-250);
* persistence round-trip (TestCachingFileSystemBase.java:410-498).
"""

import os
import random
import threading
import time

import pytest

from sidecar_spark.cache import CacheManager, CachingInputStream, PageStore, WriteCache
from sidecar_spark.cache.fs import FileStat, RemoteFS
from sidecar_spark.config import (
    DataCacheMode,
    SidecarConfig,
    SidecarDataCacheType,
    WriteCacheMode,
)
from sidecar_spark.stats import Statistics
from sidecar_spark.util.scan_detector import ScanDetector

PAGE = 4096
KiB = 1024
MiB = 1024 * 1024


def virtual_read(offset: int, length: int) -> bytes:
    """Offset-derived content oracle (VirtualFileInputStream.java:43-50)."""
    return bytes((offset + i) % 256 for i in range(length))


def make_stream(cache_dir, length=1 * MiB, stats=None, **kw):
    conf = SidecarConfig.create(
        cache_dir=cache_dir, data_page_size=PAGE, io_buffer_size=4 * PAGE,
        data_cache_type="file", **{k: v for k, v in kw.items() if k.startswith("data_")})
    stats = stats or Statistics()
    store = PageStore(conf, stats)
    stream = CachingInputStream(
        path="/virtual/file", mtime=42, length=length, page_store=store,
        remote_read=virtual_read, stats=stats,
        io_buffer_size=conf.io_buffer_size,
        scan_detector=kw.get("scan_detector"),
    )
    return stream, store, stats


class TestCachingInputStream:
    def test_sequential_reads_match_oracle(self, cache_dir):
        stream, _, _ = make_stream(cache_dir, length=100_000)
        pos = 0
        while pos < 100_000:
            data = stream.read(8 * KiB)
            assert data == virtual_read(pos, len(data))
            pos += len(data)
        assert stream.tell() == 100_000
        assert stream.read(10) == b""

    def test_random_reads_match_oracle(self, cache_dir):
        # Zipf-ish random access differential test
        # (TestSidecarCachingInputStreamBase.java:361-423)
        length = 300_000
        stream, _, _ = make_stream(cache_dir, length=length)
        rng = random.Random(42)
        for _ in range(500):
            off = rng.randrange(length)
            n = rng.randrange(1, 3 * PAGE)
            data = stream.read_at(off, n)
            expect = virtual_read(off, min(n, length - off))
            assert data == expect

    def test_second_read_served_from_cache(self, cache_dir):
        stats = Statistics()
        stream, store, _ = make_stream(cache_dir, length=64 * KiB, stats=stats)
        stream.read_at(0, 64 * KiB)
        assert stats.get("total_read_requests_from_remote") == 1
        before = stats.get("total_bytes_read_data_cache")
        # new stream (cold prefetch buffer) over the same store
        stream2 = CachingInputStream(
            path="/virtual/file", mtime=42, length=64 * KiB, page_store=store,
            remote_read=virtual_read, stats=stats, io_buffer_size=4 * PAGE)
        data = stream2.read_at(0, 64 * KiB)
        assert data == virtual_read(0, 64 * KiB)
        assert stats.get("total_read_requests_from_remote") == 1  # no new remote IO
        assert stats.get("total_bytes_read_data_cache") - before == 64 * KiB

    def test_prefetch_buffer_hit(self, cache_dir):
        stats = Statistics()
        stream, _, _ = make_stream(cache_dir, length=64 * KiB, stats=stats)
        stream.read_at(0, PAGE)  # fills 4-page prefetch window
        stream.read_at(PAGE, PAGE)  # inside the window
        assert stats.get("total_read_requests_from_prefetch") == 1
        assert stats.get("total_read_requests_from_remote") == 1

    def test_mtime_invalidates_pages(self, cache_dir):
        stats = Statistics()
        conf = SidecarConfig.create(cache_dir=cache_dir, data_page_size=PAGE,
                                    data_cache_type="file")
        store = PageStore(conf, stats)
        s1 = CachingInputStream("/f", 1, 8 * KiB, store, virtual_read, stats=stats)
        s1.read_at(0, 8 * KiB)
        # same path, new mtime → different keys → remote again
        s2 = CachingInputStream("/f", 2, 8 * KiB, store, virtual_read, stats=stats)
        s2.read_at(0, 8 * KiB)
        assert stats.get("total_read_requests_from_remote") == 2

    def test_write_cache_tier_preferred(self, cache_dir):
        stats = Statistics()
        conf = SidecarConfig.create(cache_dir=cache_dir, data_page_size=PAGE,
                                    data_cache_type="disabled")
        store = PageStore(conf, stats)

        def wc_read(off, ln):
            return virtual_read(off, ln)

        def remote_read(off, ln):  # must never be called
            raise AssertionError("remote read should not happen")

        s = CachingInputStream("/f", 1, 32 * KiB, store, remote_read,
                               write_cache_read=wc_read, stats=stats,
                               cache_on_read=False)
        assert s.read_at(0, 32 * KiB) == virtual_read(0, 32 * KiB)
        assert stats.get("total_read_requests_from_write_cache") == 1

    def test_scan_detector_stops_admission(self, cache_dir):
        stats = Statistics()
        det = ScanDetector(threshold=4, page_size=PAGE)
        conf = SidecarConfig.create(cache_dir=cache_dir, data_page_size=PAGE,
                                    data_cache_type="file")
        store = PageStore(conf, stats)
        s = CachingInputStream("/f", 1, 1 * MiB, store, virtual_read,
                               stats=stats, io_buffer_size=PAGE,
                               scan_detector=det)
        for i in range(16):  # pure sequential scan, 1 page per request
            s.read_at(i * PAGE, PAGE)
        assert stats.get("total_scans_detected") == 1
        # admission stopped at the threshold: far fewer than 16 pages cached
        assert store.page_count() < 8

    def test_read_fully_raises_on_eof(self, cache_dir):
        stream, _, _ = make_stream(cache_dir, length=100)
        with pytest.raises(EOFError):
            stream.read_fully(90, 50)


class TestPageStore:
    def _store(self, cache_dir, ctype, capacity=0):
        conf = SidecarConfig.create(cache_dir=cache_dir, data_page_size=PAGE,
                                    data_cache_type=ctype, data_cache_size=capacity)
        return PageStore(conf)

    @pytest.mark.parametrize("ctype", ["memory", "file", "hybrid"])
    def test_put_get_delete(self, cache_dir, ctype):
        st = self._store(cache_dir, ctype)
        k = st.key("/f", 1, 0)
        assert st.get(k) is None
        st.put(k, b"x" * PAGE)
        assert st.exists(k)
        assert st.get(k) == b"x" * PAGE
        assert st.get_range(k, 10, 5) == b"xxxxx"
        assert st.delete(k)
        assert not st.exists(k)

    def test_file_store_survives_restart(self, cache_dir):
        st = self._store(cache_dir, "file")
        k = st.key("/f", 1, 0)
        st.put(k, b"y" * PAGE)
        # new store over the same dir rebuilds the index from disk
        st2 = self._store(cache_dir, "file")
        assert st2.get(k) == b"y" * PAGE

    def test_capacity_eviction_lru(self, cache_dir):
        st = self._store(cache_dir, "memory", capacity=10 * PAGE)
        keys = [st.key("/f", 1, i * PAGE) for i in range(12)]
        for k in keys:
            st.put(k, b"z" * PAGE)
        assert st.size_bytes() <= 10 * PAGE
        assert not st.exists(keys[0])  # oldest evicted
        assert st.exists(keys[-1])

    def test_delete_file_pages(self, cache_dir):
        st = self._store(cache_dir, "file")
        for i in range(4):
            st.put(st.key("/f", 7, i * PAGE), bytes([i]) * PAGE)
        assert st.delete_file_pages("/f", 7, 4 * PAGE) == 4
        assert st.page_count() == 0


class TestWriteCache:
    def _wc(self, cache_dir, size):
        conf = SidecarConfig.create(cache_dir=cache_dir, write_cache_size=size)
        return WriteCache(conf)

    def test_path_mapping_bijective(self, cache_dir):
        # remoteToCachingPath/cachingToRemotePath (:983-1014)
        wc = self._wc(cache_dir, 0)
        for uri in ("s3://bucket/a/b.parquet", "/local/x/y.parquet"):
            cp = wc.caching_path(uri)
            assert cp.startswith(wc.root)
            back = wc.remote_path(cp)
            if "://" in uri:
                assert back == uri
            else:
                assert back == os.path.abspath(uri)

    def test_moniker_protocol(self, cache_dir):
        wc = self._wc(cache_dir, 0)
        fh, cp = wc.open_write("/data/f1")
        fh.write(b"abc"), fh.close()
        assert wc.has_moniker(cp)
        assert wc.moniker_count() == 1
        wc.delete_moniker(cp)
        assert wc.moniker_count() == 0

    def test_eviction_watermark_math(self, cache_dir):
        """1000 × 64 KiB files into a 20 MiB write cache ⇒ exactly 303
        survivors and zero monikers — the reference's constant
        (TestSidecarCachingOutputStream.java:69,222). The math: start
        watermark 0.95·20 MiB = exactly 304 files, so eviction triggers
        at file #305 (> 0.95) and evicts to 0.90·20 MiB = 288 files
        (stop at not-> 0.90); the 17-file cycle's last trigger is at
        write #985, leaving 288 + 15 = 303."""
        wc = self._wc(cache_dir, 20 * MiB)
        data = b"d" * (64 * KiB)
        for i in range(1000):
            wc.put_file(f"/data/f{i}", data, synced=True)
            wc.check_eviction(blocking=True)
        assert wc.moniker_count() == 0
        assert wc.file_list.size() == 303
        assert wc.size_bytes() == 303 * 64 * KiB
        # survivors are the newest files (LRC evicts oldest-created)
        assert wc.file_list.eviction_candidate().endswith("f697")

    def test_unsynced_victim_guard(self, cache_dir):
        # evictFiles refuses victims with a live moniker (:1423-1435)
        wc = self._wc(cache_dir, 1 * MiB)
        wc.unsynced_retry_delay = 0.01
        big = b"b" * (512 * KiB)
        cp0 = wc.put_file("/d/f0", big, synced=False)  # unsynced!
        wc.put_file("/d/f1", big, synced=True)
        wc.put_file("/d/f2", big, synced=True)
        wc.evict_files(max_unsynced_retries=2)
        assert os.path.exists(cp0)  # unsynced victim survived
        assert wc.disabled  # cache disabled after retries exhausted

    def test_rename_fixes_filelist(self, cache_dir):
        wc = self._wc(cache_dir, 0)
        wc.put_file("/d/a", b"123", synced=True)
        assert wc.rename("/d/a", "/d/b")
        assert wc.contains("/d/b")
        assert not wc.contains("/d/a")
        assert wc.read_range("/d/b", 0, 3) == b"123"


class TestRemoteFSDispatch:
    def test_local_roundtrip(self, remote_dir):
        from sidecar_spark.cache.fs import RemoteFS

        fs, path = RemoteFS.from_uri(os.path.join(remote_dir, "x"))
        fs.write_all(path, b"abc")
        assert fs.read_range(path, 1, 2) == b"bc"
        assert fs.stat(path).length == 3

    def test_cloud_scheme_parsing(self):
        """§2.6: one dispatcher replaces 10 vendor wrappers. Cloud
        schemes construct + parse without network (skip any scheme this
        pyarrow build lacks)."""
        from sidecar_spark.cache.fs import RemoteFS

        for uri, want_path in [
            ("s3://bucket/a/b.parquet", "s3://bucket/a/b.parquet"),
            ("gs://bucket/a/b.parquet", "gs://bucket/a/b.parquet"),
        ]:
            try:
                fs, path = RemoteFS.from_uri(uri)
            except (ImportError, OSError) as e:  # missing SDK/creds in env
                import pytest as _pytest
                _pytest.skip(f"{uri.split(':')[0]} unavailable: {e}")
            assert path == want_path
            assert fs.fs is not None


@pytest.fixture(params=["file", "mem", "s3"])
def remote_base(request, remote_dir):
    """Remote location under three schemes: a local directory, the
    in-process ``mem://`` object store, and ``s3://`` against a live
    localhost S3-dialect HTTP endpoint — (base_uri, exists_fn)."""
    if request.param == "file":
        yield remote_dir, os.path.exists
    elif request.param == "mem":
        from sidecar_spark.cache.fs import RemoteFS
        from sidecar_spark.cache.memfs import reset_store

        reset_store()
        fs, _ = RemoteFS.from_uri("mem://crud-bucket")
        yield "mem://crud-bucket", fs.exists
        reset_store()
    else:
        from sidecar_spark.cache.fs import RemoteFS
        from sidecar_spark.testing.s3server import S3StubServer

        with S3StubServer() as srv:
            os.environ["SIDECAR_S3_ENDPOINT"] = srv.endpoint
            try:
                fs, _ = RemoteFS.from_uri("s3://crud-bucket")
                fs.mkdirs("s3://crud-bucket")
                yield "s3://crud-bucket", fs.exists
            finally:
                os.environ.pop("SIDECAR_S3_ENDPOINT", None)


class TestCacheManager:
    def _conf(self, cache_dir, **kw):
        base = dict(cache_dir=cache_dir, data_page_size=PAGE,
                    io_buffer_size=4 * PAGE, data_cache_type="file",
                    write_cache_size=100 * MiB, cache_persistent=False)
        base.update(kw)
        return SidecarConfig.create(**base)

    def test_singleton_per_cache_dir(self, cache_dir):
        conf = self._conf(cache_dir)
        a = CacheManager.get_or_create(conf)
        b = CacheManager.get_or_create(conf)
        assert a is b
        a.close(save=False)

    def test_clear_instances_does_not_deadlock(self, cache_dir):
        # close() deregisters under _instances_lock; clear_instances must
        # not hold that lock while closing
        CacheManager.get_or_create(self._conf(cache_dir))
        done = threading.Event()

        def work():
            CacheManager.clear_instances()
            done.set()

        t = threading.Thread(target=work, daemon=True)
        t.start()
        assert done.wait(timeout=30), "clear_instances deadlocked"

    def test_async_copy_local_first_write(self, cache_dir, remote_dir):
        """ASYNC_COPY mode: the write lands only in the write cache; a
        background task uploads after close. Before the upload drains,
        the file is already readable (read-your-writes via the mirror);
        after drain the remote copy exists, content-identical, and the
        moniker is gone."""
        mgr = CacheManager(self._conf(
            cache_dir, write_cache_mode="async_copy"))
        path = os.path.join(remote_dir, "lf1")
        payload = virtual_read(0, 3 * PAGE)
        out = mgr.create(path)
        out.write(payload)
        out.close()
        # read-your-writes before the upload necessarily finished
        s = mgr.open(path)
        assert s.read_at(0, 3 * PAGE) == payload
        mgr.drain()
        assert os.path.exists(path)
        with open(path, "rb") as f:
            assert f.read() == payload
        assert mgr.write_cache.moniker_count() == 0
        assert mgr.meta.get(path) is not None
        mgr.close(save=False)

    def test_rename_onto_existing_purges_dst_cache(self, cache_dir,
                                                   remote_dir):
        """Rename onto an EXISTING destination must purge the old
        destination's cache identity (hypothesis-found via the
        mutation-verb model): POSIX rename preserves the source
        inode's mtime, so when src and old-dst were created within the
        same mtime-ms tick the (dst, mtime) page key does not change
        across the rename and stale dst pages / the stale dst
        write-cache mirror would serve the overwritten content."""
        import time as _time

        mgr = CacheManager(self._conf(cache_dir))
        a = os.path.join(remote_dir, "ren_src")
        b = os.path.join(remote_dir, "ren_dst")
        pa = bytes((3 + i) % 251 for i in range(3 * PAGE))
        pb = bytes((4 + i) % 251 for i in range(3 * PAGE))
        for path, payload in ((a, pa), (b, pb)):
            out = mgr.create(path)
            out.write(payload)
            out.close()
        mgr.drain()
        # force the mtime collision that same-ms creates produce
        now = _time.time()
        os.utime(a, (now, now))
        os.utime(b, (now, now))
        # prime the dst's page cache under the collided mtime
        s = mgr.open(b)
        assert s.read_at(0, 3 * PAGE) == pb
        assert mgr.rename(a, b)
        mgr.drain()
        # all tiers (pages, mirror, write cache) must now serve src's
        # bytes — a stale-tier hit returns pb here
        s2 = mgr.open(b)
        assert s2.read_at(0, 3 * PAGE) == pa
        mgr.close(save=False)

    def test_hint_detector_spi(self, cache_dir, remote_dir):
        """Caching-hint SPI (CachingHintDetector port): a hint denying
        'read' stops page admission; denying 'write' stops mirroring.
        The I/O itself always succeeds."""
        denied = []

        def hint(path, op):
            denied.append((path, op))
            return op != "read"

        mgr = CacheManager(self._conf(cache_dir, hint_detector=hint))
        path = os.path.join(remote_dir, "h1")
        with open(path, "wb") as f:
            f.write(virtual_read(0, 2 * PAGE))
        s = mgr.open(path)
        assert s.read_at(0, 2 * PAGE) == virtual_read(0, 2 * PAGE)
        assert mgr.pages.page_count() == 0  # read hint denied admission
        assert any(op == "read" for _p, op in denied)

        mgr2 = CacheManager(self._conf(
            os.path.join(cache_dir, "w"),
            hint_detector=lambda p, op: op != "write"))
        out = mgr2.create(os.path.join(remote_dir, "h2"))
        out.write(b"x" * 100)
        out.close()
        assert not mgr2.write_cache.contains(os.path.join(remote_dir, "h2"))
        assert os.path.exists(os.path.join(remote_dir, "h2"))
        mgr.close(save=False)
        mgr2.close(save=False)

    def test_crud_lifecycle_tier_provenance(self, cache_dir, remote_base):
        """The §5.3 CRUD scenario: write 4 pages → read#1 from write
        cache, read#2 from data cache; rename keeps content; delete
        drains both caches (TestCachingFileSystemBase.java:179-334).

        Parametrized over the local filesystem AND the ``mem://``
        object-store scheme, proving the RemoteFS dispatcher
        (cache/fs.py) is a working connector beyond URI parsing —
        the sandbox stand-in for the reference's s3a/gs/abfs wrappers
        (fs/s3a/SidecarS3AFileSystem.java:50-188)."""
        remote_dir, remote_exists = remote_base
        mgr = CacheManager(self._conf(cache_dir))
        path = remote_dir + "/f1"
        payload = virtual_read(0, 4 * PAGE)

        out = mgr.create(path)
        out.write(payload)
        out.close()
        mgr.drain()
        assert mgr.write_cache.moniker_count() == 0
        assert mgr.meta.get(path) is not None

        # read #1: bytes come from the write cache tier
        s = mgr.open(path)
        assert s.read_at(0, 4 * PAGE) == payload
        assert mgr.stats.get("total_bytes_read_write_cache") == 4 * PAGE
        assert mgr.stats.get("total_bytes_read_remote") == 0

        # read #2 (fresh stream): all pages now in the data cache
        s2 = mgr.open(path)
        assert s2.read_at(0, 4 * PAGE) == payload
        assert mgr.stats.get("total_bytes_read_data_cache") == 4 * PAGE

        # rename: content follows, meta moves
        dst = remote_dir + "/f2"
        assert mgr.rename(path, dst)
        mgr.drain()
        assert mgr.meta.get(path) is None
        assert mgr.meta.get(dst) is not None
        s3 = mgr.open(dst)
        assert s3.read_at(0, PAGE) == payload[:PAGE]

        # delete: meta gone, pages purged, mirror empty
        assert mgr.delete(dst)
        mgr.drain()
        assert mgr.meta.get(dst) is None
        assert not remote_exists(dst)
        mgr.close(save=False)

    def test_persistence_round_trip(self, cache_dir, remote_dir):
        """Shutdown → reload → meta/file-list restored, reads hit the
        data cache 100% (TestCachingFileSystemBase.java:410-498)."""
        conf = self._conf(cache_dir, cache_persistent=True)
        mgr = CacheManager(conf)
        path = os.path.join(remote_dir, "p1")
        out = mgr.create(path)
        out.write(virtual_read(0, 2 * PAGE))
        out.close()
        s = mgr.open(path)
        s.read_at(0, 2 * PAGE)  # fill page cache
        meta_n = mgr.meta.size()
        mgr.close(save=True)

        mgr2 = CacheManager(conf)
        assert mgr2.meta.size() == meta_n
        remote_before = mgr2.stats.get("total_read_requests_from_remote")
        s2 = mgr2.open(path)
        assert s2.read_at(0, 2 * PAGE) == virtual_read(0, 2 * PAGE)
        assert mgr2.stats.get("total_read_requests_from_remote") == remote_before
        mgr2.close(save=False)

    def test_resolve_for_spark_mirror_hit(self, cache_dir, remote_dir):
        mgr = CacheManager(self._conf(cache_dir))
        src = os.path.join(remote_dir, "t.parquet")
        with open(src, "wb") as f:
            f.write(b"PAR1" + b"x" * 1000)
        # cold: materializes locally (remote read)
        paths1 = mgr.resolve_for_spark(remote_dir)
        assert len(paths1) == 1 and paths1[0].startswith(cache_dir)
        remote_reads = mgr.stats.get("total_read_requests_from_remote")
        # warm: served from mirror
        paths2 = mgr.resolve_for_spark(remote_dir)
        assert paths2 == paths1
        assert mgr.stats.get("total_read_requests_from_remote") == remote_reads
        assert mgr.stats.get("total_read_requests_from_data_cache") >= 1
        mgr.close(save=False)

    def test_resolve_for_spark_mem_scheme(self, cache_dir, spark):
        """The Alluxio-style mirror over a NON-local scheme: parquet
        objects living in the mem:// store materialize into the local
        mirror on first resolve (remote read) and serve locally on the
        second (data-cache hit) — with Spark actually reading the
        mirrored file. This is the end-to-end shape of the reference's
        cloud wrappers with the object store swapped in-process."""
        import io as _io

        import pyarrow as pa
        import pyarrow.parquet as pq

        from sidecar_spark.cache.fs import RemoteFS
        from sidecar_spark.cache.memfs import reset_store

        reset_store()
        mgr = CacheManager(self._conf(cache_dir))
        fs, _ = RemoteFS.from_uri("mem://lake")
        buf = _io.BytesIO()
        pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}),
                       buf)
        fs.write_all("mem://lake/t.parquet/part-0.parquet",
                     buf.getvalue())

        paths1 = mgr.resolve_for_spark("mem://lake/t.parquet")
        assert len(paths1) == 1 and paths1[0].startswith(cache_dir)
        remote = mgr.stats.get("total_read_requests_from_remote")
        paths2 = mgr.resolve_for_spark("mem://lake/t.parquet")
        assert paths2 == paths1
        assert mgr.stats.get("total_read_requests_from_remote") == remote
        assert mgr.stats.get("total_read_requests_from_data_cache") >= 1
        rows = spark.read.parquet(*paths2).orderBy("a").collect()
        assert [(r["a"], r["b"]) for r in rows] == \
            [(1, "x"), (2, "y"), (3, "z")]
        mgr.close(save=False)
        reset_store()

    def test_resolve_for_spark_s3_scheme(self, cache_dir, spark):
        """Same mirror shape as the mem:// test, but over the real S3
        REST dialect: parquet objects served by a localhost S3 endpoint
        (testing/s3server.py) materialize through pyarrow's
        S3FileSystem — ranged HTTP GETs on the wire — into the local
        mirror, then Spark reads the mirrored file. This is the
        reference's S3A wrapper scenario end-to-end
        (fs/s3a/SidecarS3AFileSystem.java:50-188) minus only vendor
        auth."""
        import io as _io

        import pyarrow as pa
        import pyarrow.parquet as pq

        from sidecar_spark.cache.fs import RemoteFS
        from sidecar_spark.testing.s3server import S3StubServer

        with S3StubServer() as srv:
            os.environ["SIDECAR_S3_ENDPOINT"] = srv.endpoint
            try:
                mgr = CacheManager(self._conf(cache_dir))
                fs, _ = RemoteFS.from_uri("s3://lake")
                buf = _io.BytesIO()
                pq.write_table(
                    pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), buf)
                fs.write_all("s3://lake/t.parquet/part-0.parquet",
                             buf.getvalue())

                paths1 = mgr.resolve_for_spark("s3://lake/t.parquet")
                assert len(paths1) == 1 and paths1[0].startswith(cache_dir)
                remote = mgr.stats.get("total_read_requests_from_remote")
                paths2 = mgr.resolve_for_spark("s3://lake/t.parquet")
                assert paths2 == paths1
                assert mgr.stats.get(
                    "total_read_requests_from_remote") == remote
                rows = spark.read.parquet(*paths2).orderBy("a").collect()
                assert [(r["a"], r["b"]) for r in rows] == \
                    [(1, "x"), (2, "y"), (3, "z")]
                mgr.close(save=False)
            finally:
                os.environ.pop("SIDECAR_S3_ENDPOINT", None)

    def test_exclude_list_bypasses_mirror(self, cache_dir, remote_dir):
        conf = self._conf(cache_dir, read_exclude_paths=[r".*\.csv"])
        mgr = CacheManager(conf)
        src = os.path.join(remote_dir, "raw.csv")
        with open(src, "w") as f:
            f.write("a,b\n1,2\n")
        paths = mgr.resolve_for_spark(remote_dir)
        assert paths == [src]  # not mirrored
        mgr.close(save=False)

    def test_concat(self, cache_dir, remote_dir):
        mgr = CacheManager(self._conf(cache_dir))
        parts = []
        for i in range(3):
            p = os.path.join(remote_dir, f"part{i}")
            with open(p, "wb") as f:
                f.write(bytes([i]) * 10)
            parts.append(p)
        target = os.path.join(remote_dir, "merged")
        mgr.concat(target, parts)
        mgr.drain()
        with open(target, "rb") as f:
            assert f.read() == b"\x00" * 10 + b"\x01" * 10 + b"\x02" * 10
        assert all(not os.path.exists(p) for p in parts)
        mgr.close(save=False)

    def test_append_dual_stream(self, cache_dir, remote_dir):
        """append (SidecarCachingFileSystem.java:1778-1805): bytes land
        on the remote AND on the existing write-cache mirror; a
        subsequent read returns the full old+new content (served
        locally), the meta cache records the new length, and the
        mirror's file-list accounting reflects the full size."""
        mgr = CacheManager(self._conf(cache_dir))
        path = os.path.join(remote_dir, "ap1")
        head = virtual_read(0, 2 * PAGE)
        tail = virtual_read(2 * PAGE, PAGE)

        out = mgr.create(path)
        out.write(head)
        out.close()
        mgr.drain()

        ap = mgr.append(path)
        ap.write(tail)
        ap.close()
        mgr.drain()

        with open(path, "rb") as f:  # remote holds old+new
            assert f.read() == head + tail
        # the mirror holds old+new too, and its accounting is full-size
        cp = mgr.write_cache.caching_path(path)
        with open(cp, "rb") as f:
            assert f.read() == head + tail
        assert mgr.write_cache.file_list.get(cp) == 3 * PAGE
        assert mgr.write_cache.moniker_count() == 0
        # meta refreshed to the appended length
        assert mgr.meta.get(path).length == 3 * PAGE
        # read-through returns the appended content
        s = mgr.open(path)
        assert s.read_at(0, 3 * PAGE) == head + tail
        mgr.close(save=False)

    def test_append_remote_only_without_mirror(self, cache_dir, remote_dir):
        """Appending a file that has NO write-cache mirror degrades to
        remote-only (the reference's cacheOut=null fallback): content
        is correct, and no mirror materializes."""
        mgr = CacheManager(self._conf(cache_dir))
        path = os.path.join(remote_dir, "ap2")
        with open(path, "wb") as f:  # created OUTSIDE the cache layer
            f.write(b"abc")
        ap = mgr.append(path)
        ap.write(b"def")
        ap.close()
        mgr.drain()
        with open(path, "rb") as f:
            assert f.read() == b"abcdef"
        assert not os.path.exists(mgr.write_cache.caching_path(path))
        with pytest.raises(FileNotFoundError):
            mgr.append(os.path.join(remote_dir, "missing"))
        mgr.close(save=False)

    def test_append_invalidates_stale_pages(self, cache_dir, remote_dir):
        """(path, mtime)-addressed data pages self-invalidate on append:
        pages admitted before the append are unreachable after the
        close-time meta refresh, so no reader can ever see pre-append
        content lengths."""
        import time as _time

        mgr = CacheManager(self._conf(cache_dir, write_cache_size=0))
        path = os.path.join(remote_dir, "ap3")
        head = virtual_read(0, 2 * PAGE)
        with open(path, "wb") as f:
            f.write(head)
        s = mgr.open(path)
        assert s.read_at(0, 2 * PAGE) == head  # pages admitted
        assert mgr.pages.page_count() > 0
        _time.sleep(1.1)  # ensure the append moves mtime(ms)
        ap = mgr.append(path)
        ap.write(virtual_read(2 * PAGE, PAGE))
        ap.close()
        mgr.drain()
        s2 = mgr.open(path)
        got = s2.read_at(0, 3 * PAGE)
        assert got == virtual_read(0, 3 * PAGE)
        mgr.close(save=False)

    def test_create_non_recursive_requires_parent(self, cache_dir,
                                                  remote_dir):
        """createNonRecursive (SidecarCachingFileSystem.java:1720-1775):
        refuses when the parent is missing; succeeds (full dual-stream
        create) once the parent exists."""
        mgr = CacheManager(self._conf(cache_dir))
        missing = os.path.join(remote_dir, "no_such_dir", "f1")
        with pytest.raises(FileNotFoundError):
            mgr.create_non_recursive(missing)
        mgr.mkdirs(os.path.join(remote_dir, "no_such_dir"))
        out = mgr.create_non_recursive(missing)
        out.write(b"ok")
        out.close()
        mgr.drain()
        with open(missing, "rb") as f:
            assert f.read() == b"ok"
        mgr.close(save=False)

    def test_rename_with_options_overwrite(self, cache_dir, remote_dir):
        """rename(Path,Path,Rename...) (:1859-1907): void overload —
        missing src raises, existing dst raises without OVERWRITE,
        OVERWRITE deletes dst (cache-coherently) then moves."""
        mgr = CacheManager(self._conf(cache_dir))
        src = os.path.join(remote_dir, "ra")
        dst = os.path.join(remote_dir, "rb")
        with pytest.raises(FileNotFoundError):
            mgr.rename_with_options(src, dst)
        with open(src, "wb") as f:
            f.write(b"src-bytes")
        with open(dst, "wb") as f:
            f.write(b"old-dst")
        # warm the meta cache for dst so coherence is observable
        assert mgr.get_file_status(dst).length == 7
        with pytest.raises(FileExistsError):
            mgr.rename_with_options(src, dst)
        mgr.rename_with_options(src, dst, overwrite=True)
        mgr.drain()
        assert not os.path.exists(src)
        with open(dst, "rb") as f:
            assert f.read() == b"src-bytes"
        # meta must reflect the moved file, not the deleted old dst
        assert mgr.get_file_status(dst).length == 9
        mgr.close(save=False)

    @pytest.mark.parametrize("change", ["mtime", "length"])
    def test_mutable_mtime_change_invalidates(self, cache_dir, remote_dir,
                                              change):
        """A republish is a new version when its mtime moves, and also
        when it lands in the same mtime tick at a new length."""
        conf = self._conf(cache_dir, remote_files_mutable=True)
        mgr = CacheManager(conf)
        path = os.path.join(remote_dir, "m1")
        with open(path, "wb") as f:
            f.write(b"v1" * PAGE)
        s = mgr.open(path)
        s.read_at(0, 100)
        old_ns = os.stat(path).st_mtime_ns
        if change == "mtime":
            with open(path, "wb") as f:
                f.write(b"v2" * PAGE)
            os.utime(path, (1e9, 2e9))  # force distinct mtime
        else:
            with open(path, "wb") as f:
                f.write(b"v2" * (2 * PAGE))
            os.utime(path, ns=(old_ns, old_ns))  # the same mtime
        st = mgr.get_file_status(path)
        assert st.length == (2 if change == "mtime" else 4) * PAGE
        mgr.drain()
        s2 = mgr.open(path)
        assert s2.read_at(0, 4) == b"v2v2"
        mgr.close(save=False)


class TestParallelMaterialization:
    """Round-3 additions: the cold path of ``resolve_for_spark`` fans
    fetches over the manager pool (reference analog: the 8-thread
    async pool, SidecarCachingFileSystem.java:617-627), and the mirror
    is per-node by construction (JVM-singleton-per-node shape,
    SidecarCachingFileSystem.java:96-119)."""

    DELAY = 0.3

    def _conf(self, cache_dir, **kw):
        base = dict(cache_dir=cache_dir, data_cache_type="file",
                    cache_persistent=False)
        base.update(kw)
        return SidecarConfig.create(**base)

    class _SlowFS:
        """Delegating RemoteFS whose reads carry a fixed latency —
        models a high-RTT object store so fetch overlap is observable."""

        def __init__(self, inner, delay):
            self._inner = inner
            self._delay = delay
            self.opens = []
            self._olock = threading.Lock()

        def open_read(self, path):
            time.sleep(self._delay)
            with self._olock:
                self.opens.append(path)
            return self._inner.open_read(path)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    def test_cold_resolve_overlaps_fetches(self, cache_dir, remote_dir):
        """N-file cold warm must take ~max(fetch), not sum(fetch);
        tier accounting identical to the serial path."""
        n = 8
        sizes = {}
        for i in range(n):
            p = os.path.join(remote_dir, f"f{i}.parquet")
            with open(p, "wb") as f:
                f.write(b"PAR1" + bytes([i]) * (1000 + i))
            sizes[p] = os.path.getsize(p)
        mgr = CacheManager(self._conf(cache_dir))
        slow = self._SlowFS(RemoteFS.local(), self.DELAY)
        mgr._fs_cache["file"] = slow
        t0 = time.monotonic()
        paths = mgr.resolve_for_spark(remote_dir)
        wall = time.monotonic() - t0
        assert len(paths) == n and all(p.startswith(cache_dir) for p in paths)
        # overlap: serial would be >= n * DELAY
        assert wall < (n * self.DELAY) * 0.7
        assert mgr.stats.get("total_read_requests_from_remote") == n
        assert mgr.stats.get("total_bytes_read_remote") == sum(sizes.values())
        assert mgr.stats.get("total_bytes_read") == sum(sizes.values())
        # order preserved: resolve output aligns with sorted listing
        warm = mgr.resolve_for_spark(remote_dir)
        assert warm == paths
        assert mgr.stats.get("total_read_requests_from_remote") == n
        mgr.close(save=False)

    def test_same_file_concurrent_fetch_dedups(self, cache_dir, remote_dir):
        """K threads materializing ONE cold file produce exactly one
        remote fetch; the rest wait on the in-flight guard."""
        p = os.path.join(remote_dir, "one.parquet")
        with open(p, "wb") as f:
            f.write(b"PAR1" + b"z" * 5000)
        mgr = CacheManager(self._conf(cache_dir))
        slow = self._SlowFS(RemoteFS.local(), self.DELAY)
        st = RemoteFS.local().stat(os.path.abspath(p))
        results = []
        def go():
            results.append(mgr.mirror.materialize(slow, st))
        threads = [threading.Thread(target=go) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(set(results)) == 1
        assert len(slow.opens) == 1
        assert mgr.stats.get("total_read_requests_from_remote") == 1
        mgr.close(save=False)

    def test_fetch_failure_self_heals_to_remote(self, cache_dir, remote_dir):
        """A cold fetch that dies mid-copy must NOT fail the resolve:
        the file is served remote-direct (readFromWriteCacheFS error
        contract, SidecarCachingInputStream.java:1008-1038)."""
        good = os.path.join(remote_dir, "a.parquet")
        bad = os.path.join(remote_dir, "b.parquet")
        for p in (good, bad):
            with open(p, "wb") as f:
                f.write(b"PAR1" + b"q" * 800)
        mgr = CacheManager(self._conf(cache_dir))

        inner = RemoteFS.local()
        class FailOne:
            def open_read(self, path):
                if path.endswith("b.parquet"):
                    raise OSError("injected remote failure")
                return inner.open_read(path)
            def __getattr__(self, name):
                return getattr(inner, name)
        mgr._fs_cache["file"] = FailOne()
        paths = mgr.resolve_for_spark(remote_dir)
        assert len(paths) == 2
        mirrored = [p for p in paths if p.startswith(cache_dir)]
        direct = [p for p in paths if not p.startswith(cache_dir)]
        assert len(mirrored) == 1 and mirrored[0].endswith("a.parquet")
        assert direct == [os.path.abspath(bad)]        # b: remote-direct
        mgr.close(save=False)

    def test_two_node_mirror_coherence(self, cache_dir, remote_dir):
        """Two 'nodes' = two CacheManagers with distinct cache roots
        over one remote (the per-node singleton shape). Each warms its
        own mirror; a remote mutation flips the mtime and both nodes
        re-materialize independently — no cross-node protocol."""
        import shutil as _sh
        node_b_root = cache_dir + "-nodeB"
        src = os.path.join(remote_dir, "t.parquet")
        with open(src, "wb") as f:
            f.write(b"PAR1" + b"v1" * 700)
        a = CacheManager(self._conf(cache_dir))
        b = CacheManager(self._conf(node_b_root))
        try:
            pa1 = a.resolve_for_spark(remote_dir)
            pb1 = b.resolve_for_spark(remote_dir)
            assert pa1[0].startswith(cache_dir)
            assert pb1[0].startswith(node_b_root)
            assert open(pa1[0], "rb").read() == open(pb1[0], "rb").read()
            assert a.stats.get("total_read_requests_from_remote") == 1
            assert b.stats.get("total_read_requests_from_remote") == 1
            # warm on both nodes: no further remote traffic
            assert a.resolve_for_spark(remote_dir) == pa1
            assert b.resolve_for_spark(remote_dir) == pb1
            assert a.stats.get("total_read_requests_from_remote") == 1
            assert b.stats.get("total_read_requests_from_remote") == 1
            # remote mutation (new mtime) → both nodes self-invalidate
            time.sleep(1.1)  # mtime(ms) granularity guard
            with open(src, "wb") as f:
                f.write(b"PAR1" + b"v2" * 900)
            pa2 = a.resolve_for_spark(remote_dir)
            pb2 = b.resolve_for_spark(remote_dir)
            assert pa2 != pa1 and pb2 != pb1
            assert open(pa2[0], "rb").read() == open(pb2[0], "rb").read() \
                == open(src, "rb").read()
            assert a.stats.get("total_read_requests_from_remote") == 2
            assert b.stats.get("total_read_requests_from_remote") == 2
        finally:
            a.close(save=False)
            b.close(save=False)
            _sh.rmtree(node_b_root, ignore_errors=True)


class TestDistributedWarm:
    """warm_distributed: the Alluxio-distributedLoad shape — Spark
    tasks fill the (node-local) mirror; the driver adopts the
    out-of-band files via content-addressed lookup."""

    def _conf(self, cache_dir, **kw):
        base = dict(cache_dir=cache_dir, data_cache_type="file",
                    cache_persistent=False)
        base.update(kw)
        return SidecarConfig.create(**base)

    def test_warm_distributed_then_local_serve(self, cache_dir,
                                               remote_dir, spark):
        n = 6
        for i in range(n):
            with open(os.path.join(remote_dir, f"f{i}.parquet"), "wb") as f:
                f.write(b"PAR1" + bytes([i]) * (900 + i))
        mgr = CacheManager(self._conf(cache_dir))
        try:
            warmed = mgr.warm_distributed(spark, remote_dir)
            assert warmed == n
            # driver-side: all local, ZERO driver remote fetches
            paths = mgr.resolve_for_spark(remote_dir)
            assert len(paths) == n
            assert all(p.startswith(cache_dir) for p in paths)
            assert mgr.stats.get("total_read_requests_from_remote") == 0
            assert mgr.stats.get(
                "total_read_requests_from_data_cache") == n
            # idempotent: nothing left to warm
            assert mgr.warm_distributed(spark, remote_dir) == 0
        finally:
            mgr.close(save=False)

    def test_warm_distributed_respects_admission(self, cache_dir,
                                                 remote_dir, spark):
        """Excluded paths are never warmed (read exclude regex)."""
        for name in ("keep.parquet", "skip.tmp"):
            with open(os.path.join(remote_dir, name), "wb") as f:
                f.write(b"data" * 100)
        mgr = CacheManager(self._conf(
            cache_dir, read_exclude_paths=[r".*\.tmp$"]))
        try:
            assert mgr.warm_distributed(spark, remote_dir) == 1
            paths = mgr.resolve_for_spark(remote_dir)
            by_name = {os.path.basename(p).split("-")[-1]
                       if p.startswith(cache_dir) else os.path.basename(p): p
                       for p in paths}
            assert by_name["keep.parquet"].startswith(cache_dir)
            assert not by_name["skip.tmp"].startswith(cache_dir)
        finally:
            mgr.close(save=False)


class TestDistributedWriteMirror:
    """mirror_writes_distributed: the write-path tee runs in Spark
    TASKS on the writing nodes (SidecarCachingOutputStream.java:
    181-223 shape) — the driver does bookkeeping only, never bytes."""

    def _engine(self, spark, cache_dir, remote_dir, **kw):
        from sidecar_spark import Engine
        # auto_warm_bytes=1 forces the TASK fan-out path (the subject
        # under test) even for these small fixtures; the default
        # threshold tees small commits driver-side by design
        kw.setdefault("auto_warm_bytes", 1)
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False, **kw)
        return Engine(spark, base_dir=remote_dir, conf=conf)

    def test_write_mirrors_with_zero_driver_byte_reads(
            self, cache_dir, remote_dir, spark):
        eng = self._engine(spark, cache_dir, remote_dir)
        try:
            df = spark.range(2000).selectExpr(
                "id", "id % 7 AS k").repartition(4)
            out = os.path.join(remote_dir, "out.parquet")
            s0 = eng.cache.stats.snapshot()
            eng.write(df, out)
            s1 = eng.cache.stats.snapshot()
            # the driver never pulled a data byte: all mirror fills ran
            # in Spark tasks (worker processes with their own stats)
            assert s1["total_bytes_read_remote"] == s0[
                "total_bytes_read_remote"]
            assert s1["total_read_requests_from_remote"] == s0[
                "total_read_requests_from_remote"]
            # yet every committed file IS mirrored + registered here
            files = eng.cache.list_files(out)
            assert len(files) >= 4
            for st in files:
                assert eng.cache.write_cache.contains(st.path), st.path
                with open(st.path, "rb") as f:
                    want = f.read()
                got = eng.cache.write_cache.read_range(
                    st.path, 0, st.length)
                assert got == want
                # synced: remote committed first, so no moniker
                assert not eng.cache.write_cache.has_moniker(
                    eng.cache.write_cache.caching_path(st.path))
            # CRUD coherence intact: reading back through the engine
            # serves write-cache'd bytes and matches the frame
            assert eng.read_parquet(out).count() == 2000
        finally:
            eng.close()
            CacheManager.clear_instances()

    def test_write_mirror_respects_exclude_list(
            self, cache_dir, remote_dir, spark):
        eng = self._engine(spark, cache_dir, remote_dir,
                           write_exclude_paths=[r".*excluded.*"])
        try:
            df = spark.range(100).coalesce(1)
            kept = os.path.join(remote_dir, "kept.parquet")
            skipped = os.path.join(remote_dir, "excluded.parquet")
            eng.write(df, kept)
            eng.write(df, skipped)
            kept_files = eng.cache.list_files(kept)
            assert all(eng.cache.write_cache.contains(st.path)
                       for st in kept_files)
            for st in eng.cache.list_files(skipped):
                assert not eng.cache.write_cache.contains(st.path)
        finally:
            eng.close()
            CacheManager.clear_instances()

    def test_write_mirror_partial_failure_tolerated(
            self, cache_dir, remote_dir, spark):
        """One unreadable committed file must not fail the write
        (per-file tolerance, the resolve_for_spark self-heal contract
        applied to the write tee)."""
        eng = self._engine(spark, cache_dir, remote_dir)
        try:
            out = os.path.join(remote_dir, "p.parquet")
            eng.write(spark.range(50).coalesce(1), out)
            # mutate one committed file to vanish mid-mirror next time
            files = eng.cache.list_files(out)
            assert files
            # a second write over the same location re-mirrors; remove
            # a file between list and task copy via a hostile rewrite
            eng.write(spark.range(60).coalesce(1), out)
            assert eng.read_parquet(out).count() == 60
        finally:
            eng.close()
            CacheManager.clear_instances()


class TestMirrorAccounting:
    """FileMirror size accounting under the adoption race: an
    out-of-band adoption (lookup) interleaving with materialize's
    bookkeeping must not double-count _size, and adopted bytes must
    participate in eviction."""

    def test_adoption_then_materialize_single_count(
            self, cache_dir, remote_dir, monkeypatch):
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False)
        mgr = CacheManager(conf)
        try:
            rp = os.path.join(remote_dir, "a.bin")
            with open(rp, "wb") as f:
                f.write(b"x" * 10_000)
            fs, p = mgr._resolve(rp)
            st = fs.stat(p)
            # interleave: right after materialize's os.replace lands,
            # an adoption (executor-warm discovery) registers the file
            # BEFORE materialize's own bookkeeping block runs
            import sidecar_spark.cache.manager as mmod
            real_replace = os.replace

            def replace_then_adopt(src, dst):
                real_replace(src, dst)
                mgr.mirror.lookup(p, st.mtime)  # adopts: puts + sizes

            monkeypatch.setattr(mmod.os, "replace", replace_then_adopt)
            lp = mgr.mirror.materialize(fs, st)
            assert os.path.exists(lp)
            # exactly one accounting entry: size equals the file, not 2x
            assert mgr.mirror.size_bytes() == st.length
        finally:
            mgr.close(save=False)

    def test_adoption_triggers_eviction(self, cache_dir, remote_dir):
        """Adopted warm files count toward capacity and can evict."""
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            data_cache_size=20_000, cache_persistent=False)
        mgr = CacheManager(conf)
        try:
            fs = RemoteFS.local()
            # fill near capacity through the normal path
            for i in range(2):
                rp = os.path.join(remote_dir, f"f{i}.bin")
                with open(rp, "wb") as f:
                    f.write(bytes([i]) * 9_000)
                mgr.mirror.materialize(fs, fs.stat(rp))
            assert mgr.mirror.size_bytes() == 18_000
            # an out-of-band (executor-written) file appears: adoption
            # must run the eviction loop, not grow unbounded
            rp = os.path.join(remote_dir, "warm.bin")
            with open(rp, "wb") as f:
                f.write(b"w" * 9_000)
            st = fs.stat(rp)
            oob = mgr.mirror._local(st.path, st.mtime)
            with open(oob, "wb") as f:
                f.write(b"w" * 9_000)
            assert mgr.mirror.lookup(st.path, st.mtime) == oob
            lo = conf.eviction_stop_occupancy * 20_000
            assert mgr.mirror.size_bytes() <= lo
        finally:
            mgr.close(save=False)


class TestAutoWarm:
    """resolve_for_spark auto-warm (as Engine.read_parquet calls it,
    with the session): a cold table at/over auto_warm_bytes is filled
    by Spark tasks (zero driver fetches); below the threshold the
    driver pool fills as before."""

    def test_cold_read_over_threshold_warms_distributed(
            self, cache_dir, remote_dir, spark):
        from sidecar_spark import Engine
        for i in range(4):
            with open(os.path.join(remote_dir, f"f{i}.parquet"), "wb") as f:
                f.write(b"PAR1" + bytes([i]) * 2000)
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False, auto_warm_bytes=1)
        eng = Engine(spark, base_dir=remote_dir, conf=conf)
        try:
            paths = eng.cache.resolve_for_spark(remote_dir, spark=spark)
            # the task warm filled every admitted file: all of them
            # are in the mirror and the resolve is all local ...
            assert eng.cache.mirror.size_bytes() == sum(
                os.path.getsize(os.path.join(remote_dir, n))
                for n in os.listdir(remote_dir))
            assert len(paths) == 4
            assert all(p.startswith(cache_dir) for p in paths)
            # ... without one driver-side remote fetch
            assert eng.cache.stats.get(
                "total_read_requests_from_remote") == 0
        finally:
            eng.close()
            CacheManager.clear_instances()

    def test_read_parquet_autowarm_end_to_end(self, cache_dir,
                                              remote_dir, spark):
        """Real parquet through Engine.read_parquet with a 1-byte
        threshold: the cold read itself must do ZERO driver-side
        remote fetches (tasks warmed it) and still return the rows."""
        from sidecar_spark import Engine
        src = os.path.join(remote_dir, "t.parquet")
        spark.range(1000).selectExpr("id", "id % 3 AS k") \
            .repartition(3).write.parquet(src)
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False, auto_warm_bytes=1)
        eng = Engine(spark, base_dir=remote_dir, conf=conf)
        try:
            df = eng.read_parquet(src)
            assert df.count() == 1000
            assert eng.cache.stats.get(
                "total_read_requests_from_remote") == 0
            # and the scan really is local (mirror paths)
            paths = eng.cache.resolve_for_spark(src)
            assert all(p.startswith(cache_dir) for p in paths)
        finally:
            eng.close()
            CacheManager.clear_instances()

    def test_below_threshold_uses_driver_pool(self, cache_dir,
                                              remote_dir, spark):
        from sidecar_spark import Engine
        src = os.path.join(remote_dir, "t.parquet")
        spark.range(100).coalesce(1).write.parquet(src)
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False)  # default 256 MiB threshold
        eng = Engine(spark, base_dir=remote_dir, conf=conf)
        try:
            assert eng.read_parquet(src).count() == 100
            # small table: driver pool filled it (remote reqs > 0)
            assert eng.cache.stats.get(
                "total_read_requests_from_remote") > 0
        finally:
            eng.close()
            CacheManager.clear_instances()


class TestFileScanVeto:
    """File-level scan resistance: a resolve/warm whose admitted bytes
    exceed the mirror's eviction floor must NOT fill (it would evict
    everything it just wrote — at 100 TB, a table bigger than the node
    cache streams from remote). The ScanDetector admission idea
    (util/ScanDetector.java:43-69) lifted from pages to tables."""

    def _mgr(self, cache_dir, cap):
        return CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            data_cache_size=cap, cache_persistent=False))

    def test_over_capacity_resolve_streams_remote(self, cache_dir,
                                                  remote_dir):
        for i in range(8):
            with open(os.path.join(remote_dir, f"f{i}.parquet"), "wb") as f:
                f.write(bytes([i]) * 64 * 1024)
        mgr = self._mgr(cache_dir, 3 * 64 * 1024)
        try:
            paths = mgr.resolve_for_spark(remote_dir)
            # nothing filled, everything served remote — zero churn
            assert all(p.startswith(remote_dir) for p in paths)
            assert mgr.mirror.size_bytes() == 0
            assert mgr.stats.get("total_scans_detected") == 1
            assert mgr.stats.get("total_read_requests_from_remote") == 0
        finally:
            mgr.close(save=False)

    def test_over_capacity_existing_hits_still_served(self, cache_dir,
                                                      remote_dir):
        """The veto blocks FILLS, not hits: files already mirrored
        (e.g. from earlier smaller resolves) keep serving locally."""
        for i in range(8):
            with open(os.path.join(remote_dir, f"f{i}.parquet"), "wb") as f:
                f.write(bytes([i]) * 64 * 1024)
        mgr = self._mgr(cache_dir, 3 * 64 * 1024)
        try:
            fs = RemoteFS.local()
            one = os.path.join(remote_dir, "f0.parquet")
            mgr.mirror.materialize(fs, fs.stat(one))
            paths = mgr.resolve_for_spark(remote_dir)
            local = [p for p in paths if p.startswith(cache_dir)]
            assert len(local) == 1
            assert mgr.stats.get(
                "total_read_requests_from_data_cache") == 1
        finally:
            mgr.close(save=False)

    def test_fitting_table_still_fills(self, cache_dir, remote_dir):
        for i in range(2):
            with open(os.path.join(remote_dir, f"f{i}.parquet"), "wb") as f:
                f.write(bytes([i]) * 8 * 1024)
        mgr = self._mgr(cache_dir, 1024 * 1024)
        try:
            paths = mgr.resolve_for_spark(remote_dir)
            assert all(p.startswith(cache_dir) for p in paths)
            assert mgr.stats.get("total_scans_detected") == 0
        finally:
            mgr.close(save=False)

    def test_engine_vetoed_read_counts_one_scan(self, cache_dir,
                                                remote_dir, spark):
        """One vetoed read through Engine counts ONE detected scan,
        also when the auto-warm is on: the resolve decides the veto
        and the task warm together (8 x 64 KiB files over a 192 KiB
        mirror)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sidecar_spark import Engine
        src = os.path.join(remote_dir, "t.parquet")
        os.makedirs(src)
        for i in range(8):
            pq.write_table(
                pa.table({"i": [i], "b": [os.urandom(64 * 1024)]}),
                os.path.join(src, f"part-{i}.parquet"),
                compression="none")
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False, mirror_size=3 * 64 * 1024,
            auto_warm_bytes=1)
        eng = Engine(spark, base_dir=remote_dir, conf=conf)
        try:
            assert eng.read_parquet(src).count() == 8
            assert eng.cache.stats.get("total_scans_detected") == 1
            assert eng.cache.mirror.size_bytes() == 0
        finally:
            eng.close()
            CacheManager.clear_instances()

    def test_over_capacity_warm_refuses(self, cache_dir, remote_dir,
                                        spark):
        for i in range(8):
            with open(os.path.join(remote_dir, f"f{i}.parquet"), "wb") as f:
                f.write(bytes([i]) * 64 * 1024)
        mgr = self._mgr(cache_dir, 3 * 64 * 1024)
        try:
            assert mgr.warm_distributed(spark, remote_dir) == 0
            assert mgr.mirror.size_bytes() == 0
            assert mgr.stats.get("total_scans_detected") == 1
        finally:
            mgr.close(save=False)

    def test_single_file_larger_than_cache_never_admitted(
            self, cache_dir, remote_dir):
        """Previously a file bigger than the whole mirror would
        materialize then immediately evict — pure churn."""
        big = os.path.join(remote_dir, "big.parquet")
        with open(big, "wb") as f:
            f.write(b"x" * 256 * 1024)
        mgr = self._mgr(cache_dir, 64 * 1024)
        try:
            paths = mgr.resolve_for_spark(big)
            assert paths == [big]
            assert mgr.mirror.size_bytes() == 0
        finally:
            mgr.close(save=False)


class TestServedGraceEviction:
    """Eviction prefers victims NOT served within SERVED_GRACE_S —
    a recently-served mirror path is likely referenced by a running
    Spark plan (resolve hands out concrete local paths). The hard
    capacity contract still wins when every candidate is recent."""

    def _mgr(self, cache_dir, cap):
        return CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            data_cache_size=cap, cache_persistent=False))

    def test_stale_victim_preferred_over_lrc_head(self, cache_dir,
                                                  remote_dir):
        mgr = self._mgr(cache_dir, 30_000)
        try:
            fs = RemoteFS.local()
            lps = []
            for i in range(3):
                rp = os.path.join(remote_dir, f"f{i}.bin")
                with open(rp, "wb") as f:
                    f.write(bytes([i]) * 9_000)
                lps.append(mgr.mirror.materialize(fs, fs.stat(rp)))
            # age f1 out of the grace window; f0 (the LRC head) and f2
            # stay recently-served
            mgr.mirror._served[lps[1]] -= (
                mgr.mirror.SERVED_GRACE_S + 1)
            rp = os.path.join(remote_dir, "f3.bin")
            with open(rp, "wb") as f:
                f.write(b"3" * 9_000)
            mgr.mirror.materialize(fs, fs.stat(rp))  # triggers eviction
            # the stale f1 went, not the older-but-recent f0
            assert not os.path.exists(lps[1])
            assert os.path.exists(lps[0]) and os.path.exists(lps[2])
        finally:
            mgr.close(save=False)

    def test_all_recent_falls_back_to_lrc_oldest(self, cache_dir,
                                                 remote_dir):
        mgr = self._mgr(cache_dir, 30_000)
        try:
            fs = RemoteFS.local()
            lps = []
            for i in range(3):
                rp = os.path.join(remote_dir, f"f{i}.bin")
                with open(rp, "wb") as f:
                    f.write(bytes([i]) * 9_000)
                lps.append(mgr.mirror.materialize(fs, fs.stat(rp)))
            rp = os.path.join(remote_dir, "f3.bin")
            with open(rp, "wb") as f:
                f.write(b"3" * 9_000)
            mgr.mirror.materialize(fs, fs.stat(rp))
            # every candidate recent: capacity wins, LRC head evicted
            assert not os.path.exists(lps[0])
            lo = 30_000 * mgr.conf.eviction_stop_occupancy
            assert mgr.mirror.size_bytes() <= lo
        finally:
            mgr.close(save=False)


class TestWriteCacheMutationCoherence:
    """A remote out-of-band mutation must also drop the write-cache
    mirror: it is the FIRST read tier, so a stale synced mirror would
    serve old bytes forever (pages and the file mirror were already
    invalidated on mtime change; this closes the third tier)."""

    def test_remote_mutation_drops_stale_write_mirror(self, cache_dir,
                                                      remote_dir):
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False, remote_files_mutable=True))
        try:
            p = os.path.join(remote_dir, "f1")
            out = mgr.create(p)
            out.write(b"OLD" * 100)
            out.close()
            mgr.drain()
            assert mgr.write_cache.contains(p)
            with open(p, "wb") as f:
                f.write(b"NEW" * 100)
            os.utime(p, (1e9, 2e9))  # force a distinct mtime
            mgr.get_file_status(p)
            mgr.drain()
            assert not mgr.write_cache.contains(p)
            s = mgr.open(p)
            assert s.read_at(0, 3) == b"NEW"
        finally:
            mgr.close(save=False)

    @pytest.mark.parametrize("verb", ["delete", "rename"])
    def test_directory_verb_leaves_no_child_mirror(self, cache_dir,
                                                   remote_dir, verb):
        """A recursive delete or a rename of a directory takes the
        write-cache mirrors below it along: no status of a child
        survives at the old path, even with the meta cache empty, and
        a renamed child is still served from the write cache."""
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False, write_cache_mode="sync"))
        try:
            d = os.path.join(remote_dir, "d")
            child = os.path.join(d, "child")
            os.makedirs(d)
            out = mgr.create(child)
            out.write(b"CHILD" * 10)
            out.close()
            assert mgr.write_cache.contains(child)
            moved = os.path.join(remote_dir, "e", "child")
            if verb == "delete":
                assert mgr.delete(d, recursive=True)
            else:
                assert mgr.rename(d, os.path.dirname(moved))
            mgr.meta.clear()
            assert mgr.get_file_status(child) is None
            assert not mgr.write_cache.contains(child)
            if verb == "rename":
                assert mgr.write_cache.contains(moved)
                s = mgr.open(moved)
                assert s.read_at(0, 5) == b"CHILD"
                assert mgr.stats.get("total_bytes_read_write_cache") > 0
        finally:
            mgr.close(save=False)

    def test_pending_async_upload_not_dropped(self, cache_dir,
                                              remote_dir):
        """The unsynced (moniker) case must NOT be dropped: with a
        pending ASYNC_COPY upload the local mirror is AHEAD of the
        remote, and the local-first branch serves it."""
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            write_cache_mode="async_copy",
            cache_persistent=False, remote_files_mutable=True))
        try:
            p = os.path.join(remote_dir, "f2")
            out = mgr.create(p)
            out.write(b"LOCALFIRST")
            out.close()  # upload queued async; moniker still possible
            st = mgr.get_file_status(p)
            assert st is not None and st.length == 10
            mgr.drain()
        finally:
            mgr.close(save=False)

    @pytest.mark.parametrize("verb", ["delete", "rename"])
    def test_verb_drops_pending_async_upload(self, cache_dir, remote_dir,
                                             verb):
        """A delete of a file whose ASYNC_COPY upload is still pending,
        or a rename onto it, drops its mirror: the upload then
        publishes nothing, and neither the deleted file nor the
        overwritten bytes come back."""
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            write_cache_mode="async_copy", cache_persistent=False))
        held = []
        submit, mgr._submit = mgr._submit, held.append
        try:
            p = os.path.join(remote_dir, "pending")
            out = mgr.create(p)
            out.write(b"PENDING")
            out.close()
            assert len(held) == 1  # the upload has not run
            if verb == "delete":
                mgr.delete(p)
            else:
                src = os.path.join(remote_dir, "src")
                with open(src, "wb") as f:
                    f.write(b"RENAMED")
                assert mgr.rename(src, p)
            for fn in held:
                submit(fn)
            mgr.drain()
            if verb == "delete":
                assert not os.path.exists(p)
                assert mgr.get_file_status(p) is None
            else:
                with open(p, "rb") as f:
                    assert f.read() == b"RENAMED"
                assert mgr.open(p).read_at(0, 7) == b"RENAMED"
        finally:
            mgr.close(save=False)


class TestMutationTierCoherence:
    """Round-4 coherence audit: every mutation verb must purge EVERY
    tier whose key would still match afterwards — write-cache mirror
    (first read tier), pages and file mirror under same-ms mtime
    reuse."""

    def _mgr(self, cache_dir):
        return CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False))

    def test_concat_purges_target_tiers(self, cache_dir, remote_dir):
        """concat changes the TARGET's bytes: its pre-concat
        write-cache mirror must not keep serving the short content."""
        mgr = self._mgr(cache_dir)
        try:
            tgt = os.path.join(remote_dir, "t")
            src = os.path.join(remote_dir, "s")
            for p, b in ((tgt, b"TGT"), (src, b"SRC")):
                o = mgr.create(p)
                o.write(b * 10)
                o.close()
            mgr.drain()
            assert mgr.write_cache.contains(tgt)
            mgr.concat(tgt, [src])
            mgr.drain()
            assert not mgr.write_cache.contains(tgt)
            s = mgr.open(tgt)
            data = s.read_at(0, 60)
            assert data == b"TGT" * 10 + b"SRC" * 10
        finally:
            mgr.close(save=False)

    def test_same_ms_append_invalidates_mirror(self, cache_dir,
                                               remote_dir, monkeypatch):
        """An append that completes within one mtime(ms) tick leaves
        the (path, mtime) mirror key matching — it must be evicted
        explicitly or resolve serves the short pre-append copy."""
        mgr = self._mgr(cache_dir)
        try:
            p = os.path.join(remote_dir, "a")
            with open(p, "wb") as f:
                f.write(b"AA" * 100)
            fs = RemoteFS.local()
            st0 = fs.stat(p)
            lp = mgr.mirror.materialize(fs, st0)
            assert os.path.getsize(lp) == 200
            out = mgr.append(p)
            out.write(b"BB" * 50)
            # force the same-ms identity: pin mtime back to st0's
            out.remote_fh.flush()
            close_orig = out.close

            def close_with_pinned_mtime():
                close_orig()
            os.utime(p, ns=(st0.mtime * 10**6, st0.mtime * 10**6))
            close_with_pinned_mtime()
            os.utime(p, ns=(st0.mtime * 10**6, st0.mtime * 10**6))
            mgr.drain()
            # the stale 200-byte mirror copy is gone
            assert mgr.mirror.lookup(p, st0.mtime) is None
            paths = mgr.resolve_for_spark(p)
            # resolve re-materializes (or serves remote) the FULL file
            with open(paths[0], "rb") as f:
                assert len(f.read()) == 300
        finally:
            mgr.close(save=False)

    def test_same_ms_overwrite_invalidates_mirror(self, cache_dir,
                                                  remote_dir):
        """Re-creating an existing path within one mtime(ms) tick must
        purge the old mirror copy (pages already were)."""
        mgr = self._mgr(cache_dir)
        try:
            p = os.path.join(remote_dir, "o")
            o = mgr.create(p)
            o.write(b"OLDBYTES")
            o.close()
            mgr.drain()
            fs = RemoteFS.local()
            st0 = fs.stat(p)
            lp = mgr.mirror.materialize(fs, st0)
            assert os.path.exists(lp)
            o = mgr.create(p)  # overwrite through the manager
            o.write(b"NEWCONTENT")
            o.close()
            os.utime(p, ns=(st0.mtime * 10**6, st0.mtime * 10**6))
            mgr.drain()
            # even if the new file landed on the SAME ms tick, the old
            # mirror copy is unreachable
            hit = mgr.mirror.lookup(p, st0.mtime)
            if hit is not None:
                with open(hit, "rb") as f:
                    assert f.read() != b"OLDBYTES"
        finally:
            mgr.close(save=False)


class TestDistributedOverS3:
    """Task-side paths against the real S3 REST dialect: Spark worker
    PROCESSES hit the localhost S3 endpoint (testing/s3server.py)
    directly — the actual cluster deployment shape, where every node
    talks to object storage itself and the driver moves no data."""

    def _conf(self, cache_dir):
        # auto_warm_bytes=1: these tests exercise the TASK paths
        return SidecarConfig.create(cache_dir=cache_dir,
                                    data_cache_type="file",
                                    cache_persistent=False,
                                    auto_warm_bytes=1)

    def test_warm_distributed_over_s3(self, cache_dir, spark):
        import io as _io

        import pyarrow as pa
        import pyarrow.parquet as pq

        from sidecar_spark.testing.s3server import S3StubServer

        with S3StubServer() as srv:
            os.environ["SIDECAR_S3_ENDPOINT"] = srv.endpoint
            try:
                mgr = CacheManager(self._conf(cache_dir))
                fs, _ = RemoteFS.from_uri("s3://lake")
                for i in range(3):
                    buf = _io.BytesIO()
                    pq.write_table(pa.table({"a": list(range(i, i + 5))}),
                                   buf)
                    fs.write_all(f"s3://lake/w.parquet/part-{i}.parquet",
                                 buf.getvalue())
                warmed = mgr.warm_distributed(spark, "s3://lake/w.parquet")
                assert warmed == 3
                # driver-side: all hits, zero driver remote fetches
                paths = mgr.resolve_for_spark("s3://lake/w.parquet")
                assert len(paths) == 3
                assert all(p.startswith(cache_dir) for p in paths)
                assert mgr.stats.get(
                    "total_read_requests_from_remote") == 0
                assert spark.read.parquet(*paths).count() == 15
                mgr.close(save=False)
            finally:
                os.environ.pop("SIDECAR_S3_ENDPOINT", None)

    def test_write_mirror_distributed_over_s3(self, cache_dir, spark):
        """The post-commit mirror fan-out against S3: the committed
        part files live only in the object store (uploaded here via
        pyarrow, standing in for the Spark commit — this environment's
        Spark JVM has no S3A jars), and the task-side copies pull them
        over the S3 REST dialect into the node-local write cache with
        zero driver byte reads."""
        import io as _io

        import pyarrow as pa
        import pyarrow.parquet as pq

        from sidecar_spark.testing.s3server import S3StubServer

        with S3StubServer() as srv:
            os.environ["SIDECAR_S3_ENDPOINT"] = srv.endpoint
            try:
                mgr = CacheManager(self._conf(cache_dir))
                fs, _ = RemoteFS.from_uri("s3://lake")
                for i in range(2):
                    buf = _io.BytesIO()
                    pq.write_table(
                        pa.table({"id": list(range(i * 100,
                                                   i * 100 + 100))}), buf)
                    fs.write_all(
                        f"s3://lake/out.parquet/part-{i}.parquet",
                        buf.getvalue())
                s0 = mgr.stats.snapshot()
                n = mgr.mirror_writes_distributed(
                    spark, "s3://lake/out.parquet")
                s1 = mgr.stats.snapshot()
                assert n == 2
                assert s1["total_bytes_read_remote"] == s0[
                    "total_bytes_read_remote"]
                files = mgr.list_files("s3://lake/out.parquet")
                assert len(files) == 2
                for st in files:
                    assert mgr.write_cache.contains(st.path), st.path
                    got = mgr.write_cache.read_range(st.path, 0,
                                                     st.length)
                    assert got == fs.read_all(st.path)
                mgr.close(save=False)
            finally:
                os.environ.pop("SIDECAR_S3_ENDPOINT", None)


class TestMismatchDropGuards:
    """Review findings: the mtime-mismatch write-cache drop must never
    destroy monikered (in-flight / pending-upload) local bytes."""

    def test_mismatch_drop_spares_monikered_file(self, cache_dir,
                                                 remote_dir):
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False, remote_files_mutable=True))
        try:
            p = os.path.join(remote_dir, "f")
            # simulate a create() mid-write: mirror file + moniker on
            # disk, NOT yet in the file list (registration happens at
            # close) — the only copy of the new bytes
            fh, cp = mgr.write_cache.open_write(p)
            fh.write(b"HALFWRITTEN")
            fh.flush()
            # meanwhile the remote is created+mutated out-of-band
            with open(p, "wb") as f:
                f.write(b"R1")
            mgr.get_file_status(p)
            with open(p, "wb") as f:
                f.write(b"R2" * 5)
            os.utime(p, (1e9, 2e9))
            mgr.get_file_status(p)  # mismatch path runs
            mgr.drain()
            # the monikered half-written mirror survived
            assert os.path.exists(cp)
            assert mgr.write_cache.has_moniker(cp)
            fh.close()
        finally:
            mgr.close(save=False)


class TestSmallWriteDriverTee:
    """Below auto_warm_bytes the write tee goes through the driver
    directly — a Spark job costs more than the copy for a manifest-
    sized commit (symmetric with the read-side auto-warm policy)."""

    def test_small_write_mirrors_without_spark_job(self, cache_dir,
                                                   remote_dir, spark,
                                                   monkeypatch):
        from sidecar_spark import Engine
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False)  # default 256 MiB threshold
        eng = Engine(spark, base_dir=remote_dir, conf=conf)
        try:
            out = os.path.join(remote_dir, "small.parquet")
            df = spark.range(50).coalesce(1)
            # the driver tee must never launch a mirror fan-out job:
            # poison parallelize so any task-path use fails loudly
            monkeypatch.setattr(
                spark.sparkContext, "parallelize",
                lambda *a, **k: (_ for _ in ()).throw(
                    AssertionError("small write used the task path")))
            eng.write(df, out)
            files = eng.cache.list_files(out)
            assert files
            for st in files:
                assert eng.cache.write_cache.contains(st.path)
                with open(st.path, "rb") as f:
                    assert eng.cache.write_cache.read_range(
                        st.path, 0, st.length) == f.read()
        finally:
            eng.close()
            CacheManager.clear_instances()


class TestCacheCoreReviewFixes:
    """Regression pins for the cache-core review findings."""

    def test_local_first_close_error_raises(self):
        """ASYNC_COPY (remote_fh=None): the cache file IS the write —
        a failed close must raise, not silently drop the only copy."""
        class FailingClose:
            def write(self, d):
                return len(d)

            def close(self):
                raise OSError("disk full flushing buffer")

        out = CachingInputStream  # noqa: F841 — module import sanity
        from sidecar_spark.cache.streams import CachingOutputStream
        dropped = []
        s = CachingOutputStream(
            remote_fh=None, caching_fh=FailingClose(),
            on_cache_error=lambda e: dropped.append(e))
        s.write(b"precious")
        with pytest.raises(OSError):
            s.close()
        assert not dropped  # the destructive drop path never ran

    def test_unaligned_io_buffer_never_corrupts(self, cache_dir):
        """io_buffer_size not a page multiple: the prefetch span is
        page-ceiled and short interior slices are never admitted, so
        every read still byte-matches the oracle."""
        length = 4 * MiB
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_page_size=1 * MiB,
            io_buffer_size=1 * MiB + 512 * KiB,  # 1.5 pages
            data_cache_type="file")
        stats = Statistics()
        store = PageStore(conf, stats)
        s = CachingInputStream(
            path="/v", mtime=1, length=length, page_store=store,
            remote_read=virtual_read, stats=stats,
            io_buffer_size=conf.io_buffer_size)
        # the finding's exact sequence
        assert s.read_at(0, 4096) == virtual_read(0, 4096)
        assert s.read_at(2 * MiB, 4096) == virtual_read(2 * MiB, 4096)
        got = s.read_at(1 * MiB, 1 * MiB + 400 * KiB)
        assert got == virtual_read(1 * MiB, 1 * MiB + 400 * KiB)
        # random sweep for good measure
        rng = random.Random(7)
        for _ in range(200):
            off = rng.randrange(length)
            n = rng.randrange(1, 2 * MiB)
            assert s.read_at(off, n) == virtual_read(
                off, min(n, length - off))

    def test_delete_nonempty_dir_requires_recursive(self, remote_dir):
        fs = RemoteFS.local()
        d = os.path.join(remote_dir, "dir")
        os.makedirs(d)
        with open(os.path.join(d, "f"), "wb") as f:
            f.write(b"x")
        with pytest.raises(OSError):
            fs.delete(d, recursive=False)
        assert os.path.exists(os.path.join(d, "f"))  # nothing wiped
        # empty dir: recursive=False deletes the dir itself
        e = os.path.join(remote_dir, "empty")
        os.makedirs(e)
        assert fs.delete(e, recursive=False)
        assert not os.path.exists(e)
        assert fs.delete(d, recursive=True)
        assert not os.path.exists(d)

    def test_write_cache_disable_self_heals(self, cache_dir):
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="disabled",
            write_cache_size=10_000)
        wc = WriteCache(conf)
        wc.unsynced_retry_delay = 0.01
        # head is unsynced: eviction blocks and disables
        cp1 = wc.put_file("/r/a", b"a" * 6_000, synced=False)
        wc.put_file("/r/b", b"b" * 6_000, synced=True)
        wc.check_eviction()
        assert wc.disabled
        size_when_disabled = wc.size_bytes()
        # the blocking upload completes: moniker clears
        wc.delete_moniker(cp1)
        wc.check_eviction()
        assert not wc.disabled
        assert wc.size_bytes() < size_when_disabled  # evicted again

    def test_mid_write_cache_error_leaves_no_phantom(self, cache_dir,
                                                     remote_dir):
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False))
        try:
            p = os.path.join(remote_dir, "f")
            out = mgr.create(p)
            out.write(b"ok")
            # sabotage the caching stream: next write errors and drops it
            real_fh = out.caching_fh

            class Boom:
                def write(self, d):
                    raise OSError("cache disk died")

                def close(self):
                    real_fh.close()

            out.caching_fh = Boom()
            out.write(b"more")   # drops the caching stream
            out.close()
            mgr.drain()
            # remote write intact; NO phantom file-list entry
            with open(p, "rb") as f:
                assert f.read() == b"okmore"
            assert not mgr.write_cache.contains(p)
            assert mgr.write_cache.size_bytes() == 0
        finally:
            mgr.close(save=False)

    def test_file_uri_and_plain_path_share_identity(self, cache_dir,
                                                    remote_dir):
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False))
        try:
            p = os.path.join(remote_dir, "f")
            with open(p, "wb") as f:
                f.write(b"DATA" * 100)
            # plain path first (caches the unprefixed local fs) ...
            s1 = mgr.open(p)
            assert s1.read_at(0, 4) == b"DATA"
            # ... then the file:// form of the SAME file must resolve
            # through the same fs and the same cache identity
            s2 = mgr.open("file://" + p)
            assert s2.read_at(0, 4) == b"DATA"
            assert s2.path == s1.path
        finally:
            mgr.close(save=False)

    def test_resolve_suffix_honored(self, cache_dir, remote_dir):
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False))
        try:
            for name in ("a.parquet", "notes.txt"):
                with open(os.path.join(remote_dir, name), "wb") as f:
                    f.write(b"x" * 100)
            got = mgr.resolve_for_spark(remote_dir, suffix=".parquet")
            assert len(got) == 1
            assert got[0].endswith("a.parquet")
        finally:
            mgr.close(save=False)

    def test_stream_close_releases_remote_handle(self, cache_dir,
                                                 remote_dir):
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False))
        try:
            p = os.path.join(remote_dir, "f")
            with open(p, "wb") as f:
                f.write(b"y" * 10_000)
            import resource
            s = mgr.open(p)
            s.read_at(0, 100)  # forces the lazy remote open
            before = len(os.listdir("/proc/self/fd"))
            s.close()
            after = len(os.listdir("/proc/self/fd"))
            assert after < before  # the remote handle was released
            with pytest.raises(ValueError):
                s.read_at(0, 1)  # closed stream stays closed
        finally:
            mgr.close(save=False)


class TestHybridWatermarksAndMemfsMove:
    def test_hybrid_demotes_to_low_watermark(self, cache_dir):
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_page_size=PAGE,
            data_cache_type="hybrid", data_cache_size=10 * PAGE)
        store = PageStore(conf)
        for i in range(12):
            store.put(store.key("/f", 1, i * PAGE), b"x" * PAGE)
        lo = 10 * PAGE * conf.eviction_stop_occupancy
        # memory tier settled at/below the LOW watermark, not the high
        assert store._mem.bytes <= lo

    def test_memfs_move_renames_nested_dirs(self):
        from sidecar_spark.cache.memfs import memory_filesystem
        import pyarrow.fs as pafs
        fs = memory_filesystem()
        fs.create_dir("mvtest/a/sub", recursive=True)
        with fs.open_output_stream("mvtest/a/sub/f") as o:
            o.write(b"x")
        fs.move("mvtest/a", "mvtest/b")
        assert fs.get_file_info("mvtest/b/sub").type == \
            pafs.FileType.Directory
        assert fs.get_file_info("mvtest/a/sub").type == \
            pafs.FileType.NotFound
        with fs.open_input_stream("mvtest/b/sub/f") as i:
            assert i.read() == b"x"


class TestSecondReviewFixes:
    def test_s3_suffix_range_returns_tail(self):
        """bytes=-N must return the LAST N bytes (the parquet-footer
        read shape), and an unsatisfiable start must 416."""
        import urllib.request

        from sidecar_spark.cache.fs import RemoteFS
        from sidecar_spark.testing.s3server import S3StubServer

        with S3StubServer() as srv:
            os.environ["SIDECAR_S3_ENDPOINT"] = srv.endpoint
            try:
                fs, _ = RemoteFS.from_uri("s3://rng")
                fs.write_all("s3://rng/o", bytes(range(100)))
                req = urllib.request.Request(
                    f"{srv.endpoint}/rng/o",
                    headers={"Range": "bytes=-10"})
                with urllib.request.urlopen(req) as r:
                    assert r.status == 206
                    assert r.read() == bytes(range(90, 100))
                    assert r.headers["Content-Range"] == "bytes 90-99/100"
                req = urllib.request.Request(
                    f"{srv.endpoint}/rng/o",
                    headers={"Range": "bytes=500-"})
                try:
                    urllib.request.urlopen(req)
                    assert False, "expected 416"
                except urllib.error.HTTPError as e:
                    assert e.code == 416
            finally:
                os.environ.pop("SIDECAR_S3_ENDPOINT", None)

    def test_engine_close_is_refcounted(self, cache_dir, remote_dir,
                                        spark):
        """Two Engines share one CacheManager: closing one must not
        shut the pool under the other."""
        from sidecar_spark import Engine
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False)
        with open(os.path.join(remote_dir, "f.parquet"), "wb") as f:
            f.write(b"PAR1" + b"x" * 500)
        e1 = Engine(spark, base_dir=remote_dir, conf=conf)
        e2 = Engine(spark, base_dir=remote_dir, conf=conf)
        assert e1.cache is e2.cache
        e1.close()
        # e2 still fully functional: cold resolve uses the shared pool
        paths = e2.cache.resolve_for_spark(remote_dir)
        assert paths and paths[0].startswith(cache_dir)
        e2.close()
        # last holder closed it for real
        assert e2.cache is None
        CacheManager.clear_instances()

    def test_config_list_items_stripped(self):
        conf = SidecarConfig.create(
            read_exclude_paths="/tmp/a.*, /tmp/b.*")
        assert conf.read_excluded("/tmp/b-file")
        assert conf.read_excluded("/tmp/a-file")

    def test_default_cache_dir_keeps_user_settings(self, spark):
        """Engine's cache_dir defaulting must not discard the rest of
        the configuration (exclude lists etc.)."""
        from sidecar_spark import Engine
        conf = SidecarConfig.create(
            data_cache_type="file", cache_persistent=False,
            read_exclude_paths=[r".*\.secret"])
        eng = Engine(spark, base_dir="/tmp", conf=conf)
        try:
            assert eng.conf.cache_dir  # defaulted
            assert eng.conf.read_excluded("/x/creds.secret")  # kept
        finally:
            eng.close()
            CacheManager.clear_instances()


class TestRound5AdviceFixes:
    """Regression pins for the round-4 ADVICE findings."""

    def test_write_cache_adopts_disk_files(self, cache_dir):
        """A mirror file written by another process (a recycled Spark
        Python worker's mirror_writes_distributed) must be adopted —
        accounted and evictable — by the next WriteCache over the same
        root, not grow the disk unbounded."""
        conf = SidecarConfig.create(cache_dir=cache_dir,
                                    write_cache_size=10 * MiB)
        wc1 = WriteCache(conf)
        cp = wc1.put_file("/data/worker-made", b"x" * 4096, synced=True)
        # simulate the worker process dying: its in-memory accounting
        # is gone, only the bytes remain
        wc2 = WriteCache(conf)
        assert wc2.file_list.exists(cp)
        assert wc2.size_bytes() == 4096
        # adopted entries are synced (no moniker) — evictable
        wc2.file_list.put(cp, 4096)  # idempotent re-put keeps position
        assert wc2.evict_files() == 0  # under watermark: nothing to do

    def test_adopt_skips_live_monikers_and_sweeps_old_tmp(self, cache_dir):
        conf = SidecarConfig.create(cache_dir=cache_dir,
                                    write_cache_size=10 * MiB)
        wc1 = WriteCache(conf)
        fh, cp = wc1.open_write("/data/mid-write")  # moniker stays
        fh.write(b"partial")
        fh.close()
        old_tmp = os.path.join(wc1.root, "f.tmp-123-456")
        with open(old_tmp, "wb") as f:
            f.write(b"stale")
        os.utime(old_tmp, (time.time() - 7200, time.time() - 7200))
        fresh_tmp = os.path.join(wc1.root, "g.tmp-123-457")
        with open(fresh_tmp, "wb") as f:
            f.write(b"live")
        wc2 = WriteCache(conf)
        assert not wc2.file_list.exists(cp)  # live writer owns it
        assert not os.path.exists(old_tmp)   # crash leftover swept
        assert os.path.exists(fresh_tmp)     # in-flight copy kept
        assert not wc2.file_list.exists(fresh_tmp)

    def test_snapshot_load_readopts_disk(self, cache_dir):
        """load_snapshot REPLACES the file list — files mirrored after
        the last save must be re-adopted, not orphaned."""
        conf = SidecarConfig.create(cache_dir=cache_dir,
                                    write_cache_size=10 * MiB)
        wc1 = WriteCache(conf)
        wc1.put_file("/data/before-save", b"a" * 100, synced=True)
        snap = os.path.join(cache_dir, "filelist.json")
        wc1.save_snapshot(snap)
        cp2 = wc1.put_file("/data/after-save", b"b" * 200, synced=True)
        wc2 = WriteCache(SidecarConfig.create(
            cache_dir=cache_dir, write_cache_size=10 * MiB))
        wc2.load_snapshot(snap)
        assert wc2.file_list.exists(cp2)
        assert wc2.size_bytes() == 300

    def test_materialize_failure_leaves_no_tmp(self, cache_dir):
        """A failed remote copy must remove its staging file — a
        leaked .tmp- sits outside capacity accounting forever."""
        conf = SidecarConfig.create(cache_dir=cache_dir,
                                    data_cache_type="file",
                                    cache_persistent=False)
        mgr = CacheManager(conf)
        try:
            class BoomFS:
                def open_read(self, path):
                    raise OSError("remote unreachable")

            st = FileStat(path="/r/f", length=10, mtime=1, is_dir=False)
            with pytest.raises(OSError):
                mgr.mirror.materialize(BoomFS(), st)
            leftovers = [n for n in os.listdir(mgr.mirror.root)
                         if ".tmp-" in n]
            assert leftovers == []
        finally:
            mgr.close(save=False)

    def test_mirror_rebuild_sweeps_old_tmp(self, cache_dir):
        conf = SidecarConfig.create(cache_dir=cache_dir,
                                    data_cache_type="file",
                                    cache_persistent=False)
        mgr = CacheManager(conf)
        old_tmp = os.path.join(mgr.mirror.root, "k-f.tmp-1-2")
        with open(old_tmp, "wb") as f:
            f.write(b"stale")
        os.utime(old_tmp, (time.time() - 7200, time.time() - 7200))
        mgr.close(save=False)
        mgr2 = CacheManager(conf)
        try:
            assert not os.path.exists(old_tmp)
        finally:
            mgr2.close(save=False)

    def test_release_deregisters_before_close_finishes(self, cache_dir):
        """get_or_create racing the last release must get a FRESH
        manager, never the one whose close() is still running."""
        import threading as th

        conf = SidecarConfig.create(cache_dir=cache_dir,
                                    data_cache_type="file",
                                    cache_persistent=False)
        inst = CacheManager.get_or_create(conf)
        gate = th.Event()
        real_close = inst.close

        def slow_close(save=True):
            gate.wait(5)
            real_close(save=save)

        inst.close = slow_close
        t = th.Thread(target=inst.release)
        t.start()
        # release() deregisters under the lock before calling close();
        # poll until the deregistration is visible, then get_or_create
        deadline = time.time() + 5
        while time.time() < deadline:
            with CacheManager._instances_lock:
                gone = inst not in CacheManager._instances.values()
            if gone:
                break
            time.sleep(0.01)
        fresh = CacheManager.get_or_create(conf)
        try:
            assert fresh is not inst
            assert not fresh._closed
        finally:
            gate.set()
            t.join(10)
            fresh.release()
            CacheManager.clear_instances()

    def test_resolve_uri_normalization_hit_miss_consistent(self, cache_dir):
        """Doubled separators / trailing slashes / dot segments must
        map to ONE cache identity on both the fs-cache miss (first
        call) and hit (second call) branches."""
        conf = SidecarConfig.create(cache_dir=cache_dir,
                                    data_cache_type="file",
                                    cache_persistent=False)
        mgr = CacheManager(conf)
        try:
            variants = ["mem://b//x/./y", "mem://b/x/y/", "mem://b/x/y"]
            seen = set()
            for u in variants:
                _, q1 = mgr._resolve(u)   # miss branch on first call
                _, q2 = mgr._resolve(u)   # hit branch
                assert q1 == q2
                seen.add(q1)
            assert seen == {"mem://b/x/y"}
        finally:
            mgr.close(save=False)


class TestListFilesMutationRace:
    def test_stat_to_list_race_self_heals(self, cache_dir, remote_dir,
                                          monkeypatch):
        """A path that is ABSENT at list time but reappears as a FILE
        before the stat runs (delete+recreate cycling remote) must
        resolve to that file, not to an empty table — the race first
        caught live by the warm+evict soak, in list_files' order of
        requests (LIST first, stat only on an empty listing)."""
        p = os.path.join(remote_dir, "f0.parquet")
        with open(p, "wb") as f:
            f.write(b"x" * 128)
        conf = SidecarConfig.create(cache_dir=cache_dir,
                                    data_cache_type="file",
                                    cache_persistent=False)
        mgr = CacheManager(conf)
        try:
            real_list = RemoteFS.list
            state = {"first": True}

            def flaky_list(self, path, recursive=True):
                if state["first"]:
                    state["first"] = False
                    return []  # the mid-recreate window
                return real_list(self, path, recursive)

            monkeypatch.setattr(RemoteFS, "list", flaky_list)
            out = mgr.list_files(p)
            assert len(out) == 1 and out[0].path == p
            # and resolve_for_spark over the same window stays whole
            state["first"] = True
            paths = mgr.resolve_for_spark(p)
            assert len(paths) == 1
        finally:
            mgr.close(save=False)


@pytest.fixture()
def s3_stub():
    from sidecar_spark.testing.s3server import S3StubServer

    with S3StubServer() as srv:
        os.environ["SIDECAR_S3_ENDPOINT"] = srv.endpoint
        try:
            yield srv
        finally:
            os.environ.pop("SIDECAR_S3_ENDPOINT", None)


def _wire(srv):
    """Request methods on the stub's journal since the last call."""
    with srv.store.lock:
        out = [m for m, _ in srv.store.requests]
        srv.store.requests.clear()
    return out


class TestOneHeadPerVersion:
    """A file version costs one remote HEAD on the byte-level path:
    ``open()`` and the post-write refresh take its status from opening
    it, and the manager keeps that handle for the version's reads."""

    URI = "s3://heads/obj"

    def _mgr(self, cache_dir, **kw):
        base = dict(cache_dir=cache_dir, data_cache_type="file",
                    cache_persistent=False, data_page_size=PAGE,
                    io_buffer_size=PAGE)
        base.update(kw)
        return CacheManager(SidecarConfig.create(**base))

    def _publish(self, data):
        fs, path = RemoteFS.from_uri(self.URI)
        fs.write_all(path, data)

    def test_cold_open_read_is_one_head_one_get(self, cache_dir, s3_stub):
        data = os.urandom(8 * PAGE)
        self._publish(data)
        mgr = self._mgr(cache_dir)
        try:
            _wire(s3_stub)
            s = mgr.open(self.URI)
            assert s.read_at(10, 100) == data[10:110]
            s.close()
            assert _wire(s3_stub) == ["HEAD", "GET"]
        finally:
            mgr.close(save=False)

    def test_page_miss_of_known_version_is_one_get(self, cache_dir,
                                                   s3_stub):
        data = os.urandom(8 * PAGE)
        self._publish(data)
        mgr = self._mgr(cache_dir)
        try:
            s = mgr.open(self.URI)
            s.read_at(0, 100)
            s.close()
            _wire(s3_stub)
            s = mgr.open(self.URI)
            assert s.read_at(5 * PAGE, 100) == data[5 * PAGE:5 * PAGE + 100]
            s.close()
            assert _wire(s3_stub) == ["GET"]
        finally:
            mgr.close(save=False)

    def test_write_refresh_serves_next_read(self, cache_dir, s3_stub):
        self._publish(os.urandom(4 * PAGE))
        mgr = self._mgr(cache_dir, write_cache_mode="disabled")
        try:
            s = mgr.open(self.URI)
            s.read_at(0, 100)
            s.close()
            new = os.urandom(6 * PAGE)
            _wire(s3_stub)
            out = mgr.create(self.URI)
            out.write(new)
            out.close()
            assert _wire(s3_stub) == ["POST", "PUT", "POST", "HEAD"]
            s = mgr.open(self.URI)
            assert s.length == len(new)
            assert s.read_at(PAGE, 100) == new[PAGE:PAGE + 100]
            s.close()
            assert _wire(s3_stub) == ["GET"]
        finally:
            mgr.close(save=False)

    def test_mutable_republish_between_opens(self, cache_dir, s3_stub):
        old = os.urandom(4 * PAGE)
        self._publish(old)
        mgr = self._mgr(cache_dir, remote_files_mutable=True)
        try:
            s = mgr.open(self.URI)
            assert s.read_at(0, 100) == old[:100]
            s.close()
            new = os.urandom(5 * PAGE)
            self._publish(new)
            with s3_stub.store.lock:  # a strictly newer Last-Modified
                s3_stub.store.buckets["heads"]["obj"].mtime += 10
            s = mgr.open(self.URI)
            assert s.length == len(new)
            assert s.read_at(0, 100) == new[:100]
            s.close()
        finally:
            mgr.close(save=False)

    def test_delete_then_open_raises(self, cache_dir, s3_stub):
        self._publish(os.urandom(2 * PAGE))
        mgr = self._mgr(cache_dir)
        try:
            s = mgr.open(self.URI)
            s.read_at(0, 100)
            s.close()
            _wire(s3_stub)
            assert mgr.delete(self.URI)
            # one status request: pyarrow's own before the DELETE
            assert _wire(s3_stub) == ["HEAD", "DELETE"]
            with pytest.raises(FileNotFoundError):
                mgr.open(self.URI)
        finally:
            mgr.close(save=False)

    def test_threads_share_one_version(self, cache_dir, s3_stub):
        data = os.urandom(80 * PAGE)
        self._publish(data)
        mgr = self._mgr(cache_dir)
        try:
            mgr.open(self.URI).close()
            _wire(s3_stub)
            bad = []

            def reader(t):
                for i in range(10):
                    off = (t * 10 + i) * PAGE + t
                    s = mgr.open(self.URI)
                    if s.read_at(off, 100) != data[off:off + 100]:
                        bad.append(off)
                    s.close()

            threads = [threading.Thread(target=reader, args=(t,))
                       for t in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            assert bad == []
            assert _wire(s3_stub) == ["GET"] * 80
        finally:
            mgr.close(save=False)

    # pyarrow's S3 move renames files only, so the object-store rename
    # runs on the mem:// store
    @pytest.mark.parametrize("remote,verb", [
        ("s3", "delete"), ("local", "delete"), ("local", "rename"),
        ("mem", "rename")])
    def test_delete_dir_then_open_child_raises(self, cache_dir, remote_dir,
                                               request, remote, verb):
        """A recursive delete or a rename of a directory retires every
        file below it: a warm child's next open finds it gone instead
        of serving its cached meta and pages."""
        base = {"s3": "s3://heads", "mem": "mem://heads",
                "local": remote_dir}[remote]
        if remote == "s3":
            request.getfixturevalue("s3_stub")
        child = base + "/dir/child"
        fs, path = RemoteFS.from_uri(child)
        fs.write_all(path, os.urandom(4 * PAGE))
        mgr = self._mgr(cache_dir)
        try:
            s = mgr.open(child)
            s.read_at(0, 100)
            s.close()
            if verb == "delete":
                assert mgr.delete(base + "/dir", recursive=True)
            else:
                assert mgr.rename(base + "/dir", base + "/moved")
            with pytest.raises(FileNotFoundError):
                mgr.open(child).read_at(0, 4)  # a warm page
        finally:
            mgr.close(save=False)
            if remote == "mem":
                from sidecar_spark.cache.memfs import reset_store
                reset_store()

    def test_kept_handles_bounded_and_released(self):
        import gc
        import weakref

        from sidecar_spark.cache.manager import _Handles

        class Fh:
            def read_at(self, n, off):
                return b"x" * n

        def put(h, version):
            fh = Fh()
            h.put(version, fh)
            return weakref.ref(fh)

        h = _Handles(2)
        a = put(h, ("p", 1, 1))
        b = put(h, ("q", 1, 1))
        c = put(h, ("r", 1, 1))  # evicts the least recently used
        d = put(h, ("d/x", 1, 1))  # evicts q
        gc.collect()
        assert a() is None and b() is None and c() is not None
        assert h.read_at(("p", 1, 1), 0, 1) is None
        assert h.read_at(("r", 1, 1), 0, 2) == b"xx"
        h.drop(("d/x", 2, 1))
        assert d() is not None  # another version of d/x
        h.drop(("d/x", 1, 1))
        gc.collect()
        assert d() is None
        h.close()
        gc.collect()
        assert c() is None


class TestMirrorFillVersion:
    def test_stale_listing_fills_nothing(self, cache_dir, s3_stub):
        """The mirror stores only the version it was asked for: a file
        republished with a new length since it was listed is not
        copied under the listed key, and resolves to its remote path."""
        fs, path = RemoteFS.from_uri("s3://lake/t/part-0.parquet")
        fs.write_all(path, b"PAR1" + b"a" * 100)
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_cache_type="file",
            cache_persistent=False))
        try:
            stale = mgr.list_files("s3://lake/t")
            assert [st.length for st in stale] == [104]
            fs.write_all(path, b"PAR1" + b"b" * 300)
            got = mgr.resolve_for_spark("s3://lake/t", files=stale)
            assert got == [path]
            assert mgr.mirror.lookup(path, stale[0].mtime) is None
            assert not os.path.exists(
                mgr.mirror._local(path, stale[0].mtime))
        finally:
            mgr.close(save=False)
