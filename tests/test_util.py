"""Unit tests for the pure-logic ports: ScanDetector, LRCQueue, keys,
config parsing. Mirrors the reference's util tests
(util/TestScanDetector.java, util/TestFileListCache.java,
util/TestUtilMethods.java)."""

import os

import pytest

from sidecar_spark.config import DataCacheMode, SidecarConfig, WriteCacheMode
from sidecar_spark.stats import Statistics
from sidecar_spark.util import LRCQueue, ScanDetector, base_key, page_key


PAGE = 4096


class TestScanDetector:
    def test_fires_at_threshold_consecutive(self):
        # scan fires exactly at the threshold-th consecutive page
        # (util/TestScanDetector.java:24-41)
        d = ScanDetector(threshold=10, page_size=PAGE)
        for i in range(9):
            assert d.record(i * PAGE) is False
        assert d.record(9 * PAGE) is True

    def test_noise_prefix_tolerated(self):
        d = ScanDetector(threshold=5, page_size=PAGE)
        for off in (7 * PAGE, 3 * PAGE, 11 * PAGE):  # noise
            d.record(off)
        for i in range(4):
            d.record(i * PAGE)
        assert d.record(4 * PAGE) is True

    def test_wrong_stride_never_fires(self):
        d = ScanDetector(threshold=5, page_size=PAGE)
        for i in range(50):
            assert d.record(i * 2 * PAGE) is False  # stride 2 pages

    def test_reset(self):
        d = ScanDetector(threshold=3, page_size=PAGE)
        d.record(0), d.record(PAGE), d.record(2 * PAGE)
        assert d.current() is True
        d.reset()
        assert d.current() is False

    def test_unaligned_offsets_align_down(self):
        d = ScanDetector(threshold=3, page_size=PAGE)
        d.record(10)  # page 0
        d.record(PAGE + 99)  # page 1
        assert d.record(2 * PAGE + 5) is True


class TestLRCQueue:
    def test_eviction_order_is_creation_order(self, tmp_path):
        # LRC order + serialization round-trip (util/TestFileListCache.java:40-63)
        q = LRCQueue()
        for i in range(10):
            q.put(f"f{i}", i * 100)
        assert q.eviction_candidate() == "f0"
        q.get("f0")  # access must NOT refresh position
        q.put("f0", 999)  # re-put must NOT refresh position
        assert q.eviction_candidate() == "f0"
        q.remove("f0")
        assert q.eviction_candidate() == "f1"
        p = str(tmp_path / "q.json")
        q.save(p)
        q2 = LRCQueue()
        assert q2.load(p)
        assert q2.size() == 9
        assert q2.eviction_candidate() == "f1"
        assert q2.get("f5") == 500

    def test_total_length(self):
        q = LRCQueue()
        q.put("a", 10), q.put("b", 20)
        assert q.total_length() == 30


class TestKeys:
    def test_mtime_changes_key(self):
        # mtime participation makes pages self-invalidating
        # (util/Utils.java:100-123)
        assert base_key("/a/b", 1) != base_key("/a/b", 2)

    def test_page_key_aligns_down(self):
        k1 = page_key("/a", 5, 4096 + 100, 4096)
        k2 = page_key("/a", 5, 4096, 4096)
        assert k1 == k2
        assert page_key("/a", 5, 0, 4096) != k1


class TestConfig:
    def test_defaults_match_reference(self):
        c = SidecarConfig()
        # SidecarConfig.java:121-155 defaults
        assert c.data_page_size == 1024 * 1024
        assert c.io_buffer_size == 4 * 1024 * 1024
        assert c.thread_pool_size == 8
        assert c.scan_detector_threshold == 10
        assert c.minsize_threshold == 100 * 1024 * 1024
        assert c.write_cache_mode == WriteCacheMode.SYNC
        assert c.data_cache_mode == DataCacheMode.ALL
        assert c.eviction_start_occupancy == 0.95
        assert c.eviction_stop_occupancy == 0.90

    def test_from_mapping_prefixes(self):
        c = SidecarConfig.from_mapping({
            "spark.sidecar.data.page.size": "64kb",
            "sidecar.write.cache.mode": "async_close",
            "spark.sidecar.scan.detector.enabled": "true",
            "spark.executor.memory": "2g",  # ignored non-sidecar key
        })
        assert c.data_page_size == 65536
        assert c.write_cache_mode == WriteCacheMode.ASYNC_CLOSE
        assert c.scan_detector_enabled is True

    def test_ignored_reference_keys_load(self):
        # reference keys with no subject here are accepted, not stored
        for key, value in (("sidecar.io.pool.size", "32"),
                           ("sidecar.jmx.metrics.enabled", "true"),
                           ("sidecar.jmx.metrics.domain.name", "SidecarFS"),
                           ("spark.sidecar.test.mode", "false"),
                           ("sidecar.install.shutdown.hook", "true")):
            assert SidecarConfig.from_mapping({key: value}) == SidecarConfig()

    def test_unknown_key_raises(self):
        with pytest.raises(KeyError):
            SidecarConfig.from_mapping({"sidecar.not.a.key": "1"})

    def test_exclude_regexes_whole_path(self):
        # patterns match the WHOLE path (util/TestUtilMethods.java:30-61)
        c = SidecarConfig.create(read_exclude_paths=[r".*/oldWALs/.*"])
        assert c.read_excluded("/hbase/oldWALs/wal.123")
        assert not c.read_excluded("/hbase/data/t1")
        assert not c.read_excluded("oldWALs")  # substring, not whole match

    def test_write_include_exclude(self):
        c = SidecarConfig.create(
            write_include_paths=[r"/data/.*"],
            write_exclude_paths=[r"/data/tmp/.*"])
        assert not c.write_excluded("/data/a.parquet")
        assert c.write_excluded("/other/a.parquet")
        assert c.write_excluded("/data/tmp/x")


class TestStatistics:
    def test_counters_and_persistence(self, tmp_path):
        s = Statistics()
        s.add("total_bytes_read", 100)
        s.add("total_read_requests")
        assert s.get("total_bytes_read") == 100
        p = str(tmp_path / "stats.json")
        s.save(p)
        s2 = Statistics.loaded(p)
        assert s2.get("total_bytes_read") == 100
        s2.reset()
        assert s2.get("total_bytes_read") == 0

    def test_unknown_counter_raises(self):
        with pytest.raises(KeyError):
            Statistics().add("nope")

    def test_derived(self):
        s = Statistics()
        s.add("total_bytes_read_remote", 1000)
        s.add("total_read_requests_from_remote", 10)
        assert s.derived()["avg_read_size_remote"] == 100.0
