"""Property-based tests (hypothesis) over the cache read path and the
pure-logic utilities — deepening the reference's differential-oracle
technique (SURVEY.md §5.1) from example-based to generated inputs.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sidecar_spark.cache import CachingInputStream, PageStore
from sidecar_spark.cache.fs import FileStat
from sidecar_spark.config import SidecarConfig
from sidecar_spark.stats import Statistics
from sidecar_spark.util.lrc_queue import LRCQueue
from sidecar_spark.util.scan_detector import ScanDetector

PAGE = 1024
LENGTH = 64 * PAGE


def virtual_read(offset: int, length: int) -> bytes:
    return bytes((offset + i) % 256 for i in range(length))


def _stream(tmp_path):
    conf = SidecarConfig.create(
        cache_dir=str(tmp_path), data_page_size=PAGE,
        io_buffer_size=4 * PAGE, data_cache_type="file")
    stats = Statistics()
    store = PageStore(conf, stats)
    return CachingInputStream(
        FileStat("/v/f", LENGTH, 1, False), page_store=store,
        remote_read=virtual_read, stats=stats,
        io_buffer_size=conf.io_buffer_size)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(
    st.tuples(st.integers(0, LENGTH - 1), st.integers(1, 3 * PAGE)),
    min_size=1, max_size=40))
def test_read_sequences_match_oracle(tmp_path, ops):
    """ANY sequence of (offset, length) reads — cold, cached, buffered,
    page-straddling, EOF-clipped — returns exactly the oracle bytes."""
    stream = _stream(tmp_path)
    for off, ln in ops:
        ln = min(ln, LENGTH - off)
        assert stream.read_at(off, ln) == virtual_read(off, ln)


@settings(max_examples=50, deadline=None)
@given(keys=st.lists(st.text(
    alphabet="ab/c123", min_size=1, max_size=8), min_size=1, max_size=30))
def test_lrc_queue_victim_is_oldest_creation(keys):
    """The eviction candidate is always the earliest-created surviving
    key, regardless of re-puts (re-putting must not refresh position)."""
    q = LRCQueue()
    order: list = []
    for k in keys:
        if not q.exists(k):
            order.append(k)
        q.put(k, 1)
    assert q.eviction_candidate() == order[0]
    q.remove(order[0])
    assert q.eviction_candidate() == (order[1] if len(order) > 1 else None)


@settings(max_examples=50, deadline=None)
@given(noise=st.integers(0, 5), threshold=st.integers(2, 8))
def test_scan_detector_fires_exactly_at_threshold(noise, threshold):
    """A scan is declared on the Nth CONSECUTIVE page and not before;
    a leading noise prefix must not prevent detection
    (util/TestScanDetector.java:24-57)."""
    d = ScanDetector(threshold, PAGE)
    for i in range(noise):
        d.record(i * 17 * PAGE + PAGE)  # non-consecutive noise
    base = 100 * PAGE
    for i in range(threshold - 1):
        d.record(base + i * PAGE)
        assert not d.current(), f"fired early at {i + 1} pages"
    d.record(base + (threshold - 1) * PAGE)
    assert d.current()


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.binary(min_size=1, max_size=3 * PAGE),
       mtime=st.integers(1, 2**40))
def test_page_store_roundtrip(tmp_path, data, mtime):
    """Round-trip under the content-address contract: keys derive from
    (path, mtime, length), so distinct contents must use distinct keys (put is
    put-if-absent by design — the dedup-put of :683-698)."""
    import hashlib

    conf = SidecarConfig.create(
        cache_dir=str(tmp_path), data_page_size=PAGE, data_cache_type="file")
    store = PageStore(conf, Statistics())
    path = "/p/" + hashlib.md5(data).hexdigest()
    key = store.key(FileStat(path, len(data), mtime, False), 0)
    store.put(key, data)
    assert store.get(key) == data
    assert store.get_range(key, 0, len(data)) == data
    # dedup put: re-putting different bytes under the SAME key is a
    # no-op (content-addressed keys make double-insert harmless)
    store.put(key, b"\x00" * len(data))
    assert store.get(key) == data


# ---------------------------------------------------------------------------
# mutation-verb model test: any op sequence vs an in-memory oracle
# ---------------------------------------------------------------------------

_VERB_PAGE = 1024


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(st.tuples(
    st.sampled_from(["create", "append", "rename", "delete", "read"]),
    st.integers(0, 3),            # file slot
    st.integers(0, 3),            # second slot (rename dst)
    st.integers(1, 3 * _VERB_PAGE)),  # payload length
    min_size=1, max_size=25))
def test_mutation_verbs_match_model(tmp_path, ops):
    """ANY sequence of create/append/rename/delete/read over a small
    file-slot space matches a dict-of-bytes model: content equality on
    every read, existence parity on every verb — the differential
    oracle extended to the full mutation surface (including the new
    byte-append path and its page self-invalidation)."""
    import shutil

    from sidecar_spark.cache.manager import CacheManager

    cache_dir = os.path.join(str(tmp_path), "cache")
    remote = os.path.join(str(tmp_path), "remote")
    os.makedirs(remote, exist_ok=True)
    conf = SidecarConfig.create(
        cache_dir=cache_dir, data_page_size=_VERB_PAGE,
        io_buffer_size=4 * _VERB_PAGE, data_cache_type="file",
        write_cache_size=64 * 1024 * 1024, cache_persistent=False)
    mgr = CacheManager(conf)
    model: dict = {}
    seed = 0
    try:
        for verb, a, b, ln in ops:
            pa = os.path.join(remote, f"f{a}")
            pb = os.path.join(remote, f"f{b}")
            seed += 1
            payload = bytes(((seed + i) % 251 for i in range(ln)))
            if verb == "create":
                out = mgr.create(pa)
                out.write(payload)
                out.close()
                mgr.drain()
                model[pa] = payload
            elif verb == "append":
                if pa in model:
                    ap = mgr.append(pa)
                    ap.write(payload)
                    ap.close()
                    mgr.drain()
                    model[pa] = model[pa] + payload
                else:
                    try:
                        mgr.append(pa)
                        assert False, "append on missing file must raise"
                    except FileNotFoundError:
                        pass
            elif verb == "rename":
                did = mgr.rename(pa, pb)
                mgr.drain()
                if pa in model and pa != pb:
                    assert did
                    model[pb] = model.pop(pa)
            elif verb == "delete":
                did = mgr.delete(pa)
                mgr.drain()
                assert did == (pa in model)
                model.pop(pa, None)
            elif verb == "read":
                if pa in model:
                    s = mgr.open(pa)
                    want = model[pa]
                    assert s.read_at(0, len(want)) == want
        # final full sweep: every surviving file byte-identical
        for path, want in model.items():
            s = mgr.open(path)
            assert s.read_at(0, len(want)) == want
    finally:
        mgr.close(save=False)
        CacheManager.clear_instances()
        shutil.rmtree(str(tmp_path), ignore_errors=True)
