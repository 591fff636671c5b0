"""Workload-distribution and concurrency tests — the reference's §5
techniques 2 and 5 (SURVEY.md):

* Zipf(α=0.9)-distributed random page access with byte-compare against
  the offset-deterministic oracle
  (TestSidecarCachingInputStreamBase.java:361-423);
* random/sequential mixed access (:425-480);
* multi-thread concurrent random access, one stream per thread over a
  SHARED page store (:284-313 — streams are @NotThreadSafe, caches are
  shared);
* writer/reader race with create/delete cycling and content
  verification (TestCachingFileSystemMultithreadedBase.java:164-307,
  bounded to seconds instead of 10 minutes).
"""

from __future__ import annotations

import os
import random
import threading
import time

from sidecar_spark.cache import CacheManager, CachingInputStream, PageStore
from sidecar_spark.cache.fs import FileStat
from sidecar_spark.config import SidecarConfig
from sidecar_spark.stats import Statistics

from tests.test_cache import MiB, PAGE, make_stream, virtual_read


def _zipf_offsets(rng: random.Random, n_pages: int, count: int, alpha=0.9):
    """Deterministic Zipf(α)-ish page sampler (inverse-CDF over the
    harmonic weights — no numpy RNG state)."""
    weights = [1.0 / (i + 1) ** alpha for i in range(n_pages)]
    total = sum(weights)
    cdf = []
    acc = 0.0
    for w in weights:
        acc += w
        cdf.append(acc / total)
    out = []
    for _ in range(count):
        u = rng.random()
        lo, hi = 0, n_pages - 1
        while lo < hi:
            mid = (lo + hi) // 2
            if cdf[mid] < u:
                lo = mid + 1
            else:
                hi = mid
        out.append(lo)
    return out


class TestWorkloads:
    def test_zipf_random_access(self, cache_dir):
        """Zipf-distributed page reads: every read byte-compares against
        the oracle; the hot head of the distribution must be served from
        the page cache (cache hits strictly exceed remote fills)."""
        length = 2 * MiB
        stream, store, stats = make_stream(cache_dir, length=length)
        rng = random.Random(42)
        n_pages = length // PAGE
        for page in _zipf_offsets(rng, n_pages, 1500):
            off = page * PAGE + rng.randrange(0, PAGE // 2)
            ln = rng.randrange(1, PAGE)
            assert stream.read_at(off, min(ln, length - off)) == \
                virtual_read(off, min(ln, length - off))
        hits = stats.get("total_read_requests_from_data_cache")
        remote = stats.get("total_read_requests_from_remote")
        assert hits > remote, (hits, remote)

    def test_random_sequential_mix(self, cache_dir):
        stream, _store, _stats = make_stream(cache_dir, length=1 * MiB)
        rng = random.Random(7)
        pos = 0
        for i in range(400):
            if rng.random() < 0.5:
                pos = rng.randrange(0, 1 * MiB - PAGE)
            ln = rng.randrange(1, 2 * PAGE)
            ln = min(ln, 1 * MiB - pos)
            assert stream.read_at(pos, ln) == virtual_read(pos, ln)
            pos += ln
            if pos >= 1 * MiB - 1:
                pos = 0

    def test_concurrent_readers_shared_store(self, cache_dir):
        """4 threads × private streams over one shared PageStore; all
        reads byte-exact under concurrent cache fills (the dedup-put
        path: same content-addressed key from two threads is benign)."""
        length = 1 * MiB
        conf = SidecarConfig.create(
            cache_dir=cache_dir, data_page_size=PAGE,
            io_buffer_size=4 * PAGE, data_cache_type="file")
        stats = Statistics()
        store = PageStore(conf, stats)
        errors: list = []

        def reader(seed: int) -> None:
            stream = CachingInputStream(
                FileStat("/virtual/file", length, 42, False),
                page_store=store, remote_read=virtual_read, stats=stats,
                io_buffer_size=conf.io_buffer_size)
            rng = random.Random(seed)
            try:
                for _ in range(300):
                    off = rng.randrange(0, length - PAGE)
                    ln = rng.randrange(1, PAGE)
                    if stream.read_at(off, ln) != virtual_read(off, ln):
                        errors.append(f"mismatch at {off}+{ln} (seed {seed})")
                        return
            except Exception as e:  # noqa: BLE001
                errors.append(f"seed {seed}: {e!r}")

        threads = [threading.Thread(target=reader, args=(s,)) for s in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not errors, errors

    def test_writer_reader_race(self, cache_dir, remote_dir):
        """Bounded §5-technique-5 race: a writer cycles create/delete
        while readers verify full contents of whatever files exist.
        No read may return corrupt bytes; missing files are expected."""
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_page_size=PAGE,
            io_buffer_size=4 * PAGE, data_cache_type="file",
            write_cache_size=64 * MiB, cache_persistent=False))
        n_files, file_len = 8, 64 * 1024
        stop = threading.Event()
        errors: list = []

        def payload(i: int) -> bytes:
            return virtual_read(i * 1000, file_len)

        # The reference soaks this race for 10 minutes
        # (TestCachingFileSystemMultithreadedBase.java:92-95). Default
        # is a bounded smoke (30 cycles); set SIDECAR_SOAK_SECONDS to
        # run the full-length soak, e.g. SIDECAR_SOAK_SECONDS=600.
        soak_s = float(os.environ.get("SIDECAR_SOAK_SECONDS", "0"))
        deadline = time.monotonic() + soak_s if soak_s > 0 else None

        def writer() -> None:
            rng = random.Random(1)
            try:
                round_no = 0
                while (round_no < 30 if deadline is None
                       else time.monotonic() < deadline):
                    round_no += 1
                    i = rng.randrange(n_files)
                    path = os.path.join(remote_dir, f"f{i}")
                    if os.path.exists(path):
                        mgr.delete(path)
                    else:
                        out = mgr.create(path)
                        out.write(payload(i))
                        out.close()
            except Exception as e:  # noqa: BLE001
                errors.append(f"writer: {e!r}")
            finally:
                stop.set()

        def reader(seed: int) -> None:
            rng = random.Random(seed)
            while not stop.is_set():
                i = rng.randrange(n_files)
                path = os.path.join(remote_dir, f"f{i}")
                try:
                    s = mgr.open(path)
                    data = s.read_at(0, file_len)
                except (FileNotFoundError, OSError):
                    continue  # deleted under us — allowed
                except Exception as e:  # noqa: BLE001
                    errors.append(f"reader {seed}: {e!r}")
                    return
                # a file observed mid-write is legitimately short; only a
                # FULL-length read with wrong bytes indicates staleness
                if len(data) == file_len and data != payload(i):
                    errors.append(f"reader {seed}: corrupt read of f{i}")
                    return

        threads = [threading.Thread(target=reader, args=(s,)) for s in (2, 3)]
        wt = threading.Thread(target=writer)
        for t in threads + [wt]:
            t.start()
        for t in threads + [wt]:
            t.join(timeout=120 + soak_s)
        mgr.drain()
        mgr.close(save=False)
        assert not errors, errors


class TestWarmEvictRace:
    """§5-technique-5 race EXTENDED with the round-3 warm machinery
    (VERDICT r3 item 8): while a writer cycles create/delete and
    readers byte-verify, a resolve actor keeps materializing the
    mutating files into a capacity-starved mirror (constant eviction)
    and an out-of-band SUBPROCESS fills the same mirror root like an
    executor-side warm would, so adoption (FileMirror.lookup), LRC
    eviction and reads interleave for the whole run.  Invariant: zero
    corrupt full-length reads from any actor."""

    def test_writer_reader_warm_race(self, cache_dir, remote_dir):
        import json
        import subprocess
        import sys

        n_files, file_len = 8, 64 * 1024
        mgr = CacheManager(SidecarConfig.create(
            cache_dir=cache_dir, data_page_size=PAGE,
            io_buffer_size=4 * PAGE, data_cache_type="file",
            # mirror holds ~3 of 8 files: every warm evicts something
            data_cache_size=3 * file_len,
            write_cache_size=64 * MiB, cache_persistent=False))
        stop = threading.Event()
        errors: list = []

        def payload(i: int) -> bytes:
            return virtual_read(i * 1000, file_len)

        soak_s = float(os.environ.get("SIDECAR_SOAK_SECONDS", "0"))
        deadline = time.monotonic() + (soak_s if soak_s > 0 else 0)

        def writer() -> None:
            rng = random.Random(1)
            try:
                round_no = 0
                while (round_no < 40 if soak_s <= 0
                       else time.monotonic() < deadline):
                    round_no += 1
                    i = rng.randrange(n_files)
                    path = os.path.join(remote_dir, f"f{i}")
                    if os.path.exists(path):
                        mgr.delete(path)
                    else:
                        out = mgr.create(path)
                        out.write(payload(i))
                        out.close()
                    time.sleep(0.002)
            except Exception as e:  # noqa: BLE001
                errors.append(f"writer: {e!r}")
            finally:
                stop.set()

        def reader(seed: int) -> None:
            rng = random.Random(seed)
            while not stop.is_set():
                i = rng.randrange(n_files)
                path = os.path.join(remote_dir, f"f{i}")
                try:
                    s = mgr.open(path)
                    data = s.read_at(0, file_len)
                except (FileNotFoundError, OSError):
                    continue  # deleted under us — allowed
                except Exception as e:  # noqa: BLE001
                    errors.append(f"reader {seed}: {e!r}")
                    return
                if len(data) == file_len and data != payload(i):
                    errors.append(f"reader {seed}: corrupt read of f{i}")
                    return

        def resolver() -> None:
            """Driver-side warm path: materialize + adopt + evict,
            then byte-verify whatever resolve handed back.  Per-FILE
            resolves: a whole-dir resolve over this capacity-starved
            mirror is scan-vetoed; per-file keeps the fills (and the
            eviction churn this test exists to exercise)."""
            def resolve_all():
                out = []
                try:
                    names = sorted(os.listdir(remote_dir))
                except OSError:
                    return out
                for name in names:
                    try:
                        out.extend(mgr.resolve_for_spark(
                            os.path.join(remote_dir, name), suffix=""))
                    except FileNotFoundError:
                        continue  # deleted between list and resolve
                return out

            while not stop.is_set():
                try:
                    for p in resolve_all():
                        name = os.path.basename(p).rsplit("f", 1)[-1]
                        try:
                            i = int(name)
                        except ValueError:
                            continue
                        try:
                            with open(p, "rb") as f:
                                data = f.read()
                        except OSError:
                            continue  # evicted/deleted under us
                        if (len(data) == file_len
                                and data != payload(i)):
                            errors.append(f"resolver: corrupt f{i}")
                            return
                except Exception as e:  # noqa: BLE001
                    errors.append(f"resolver: {e!r}")
                    return

        # out-of-band warm: a separate interpreter (executor stand-in)
        # filling the SAME mirror root until told to stop
        oob_code = (
            "import os, sys, time\n"
            "sys.path.insert(0, sys.argv[4])\n"
            "from sidecar_spark.cache.manager import CacheManager\n"
            "from sidecar_spark.config import SidecarConfig\n"
            "mgr = CacheManager.get_or_create(SidecarConfig.create(\n"
            "    cache_dir=sys.argv[1], data_cache_type='file',\n"
            "    data_cache_size=3 * 64 * 1024, cache_persistent=False))\n"
            "while not os.path.exists(sys.argv[3]):\n"
            "    try:\n"
            "        for n in sorted(os.listdir(sys.argv[2])):\n"
            "            mgr.resolve_for_spark(\n"
            "                os.path.join(sys.argv[2], n), suffix='')\n"
            "    except Exception:\n"
            "        pass\n"
            "    time.sleep(0.01)\n"
            "mgr.close(save=False)\n")
        stop_file = os.path.join(cache_dir, "..", "stop-oob")
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        oob = subprocess.Popen(
            [sys.executable, "-c", oob_code, cache_dir, remote_dir,
             stop_file, repo],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)

        threads = [threading.Thread(target=reader, args=(s,))
                   for s in (2, 3)]
        threads.append(threading.Thread(target=resolver))
        wt = threading.Thread(target=writer)
        try:
            for t in threads + [wt]:
                t.start()
            for t in threads + [wt]:
                t.join(timeout=180 + soak_s)
        finally:
            with open(stop_file, "w"):
                pass
            try:
                oob.wait(timeout=30)
            except subprocess.TimeoutExpired:
                oob.kill()
        mgr.drain()
        mgr.close(save=False)
        assert not errors, errors
        assert oob.returncode == 0, oob.stderr and oob.stderr
        # no torn mirror files left behind by either process
        mroot = os.path.join(cache_dir, "mirror")
        if os.path.isdir(mroot):
            assert not [n for n in os.listdir(mroot) if ".tmp-" in n]


class TestExecutorScanEvictRace:
    """Round-6 soak: the executor-resolved SPARK scan under mirror
    churn. A background actor unlinks mirror copies while repeated
    executor-mode scans (with byte-range splits) run over an S3-stub
    table. Invariants: every scan's count/sum is exact (open-before-
    read + materialize self-heal absorb the churn), and with the
    mirror INTACT a scan issues zero object GETs. Bounded smoke by
    default; SIDECAR_SOAK_SECONDS=600 for the full-length run."""

    def test_executor_scan_survives_mirror_churn(self, spark, cache_dir):
        import io

        import pyarrow as pa
        import pyarrow.parquet as pq

        from sidecar_spark import Engine
        from sidecar_spark.cache.fs import RemoteFS
        from sidecar_spark.testing.s3server import S3StubServer

        n_files, rows_per = 4, 30_000
        expected_sum = sum(range(n_files * rows_per))
        with S3StubServer() as srv:
            os.environ["SIDECAR_S3_ENDPOINT"] = srv.endpoint
            try:
                fs, _ = RemoteFS.from_uri("s3://lake")
                for i in range(n_files):
                    buf = io.BytesIO()
                    pq.write_table(
                        pa.table({"a": list(range(i * rows_per,
                                                  (i + 1) * rows_per))}),
                        buf, row_group_size=5_000)
                    fs.write_all(
                        f"s3://lake/soak.parquet/part-{i}.parquet",
                        buf.getvalue())
                conf = SidecarConfig.create(
                    cache_dir=cache_dir, data_cache_type="file",
                    cache_persistent=False, resolve_mode="executor",
                    auto_warm_bytes=1)
                eng = Engine(spark, conf=conf)
                spark.conf.set("spark.sidecar.scan.splitBytes",
                               str(64 * 1024))
                stop = threading.Event()
                errors: list = []

                def churn() -> None:
                    rng = random.Random(7)
                    mroot = os.path.join(cache_dir, "mirror")
                    while not stop.is_set():
                        try:
                            names = [n for n in os.listdir(mroot)
                                     if ".tmp-" not in n]
                        except OSError:
                            names = []
                        if names:
                            victim = os.path.join(
                                mroot, rng.choice(names))
                            try:
                                os.unlink(victim)  # eviction analog
                            except OSError:
                                pass
                        time.sleep(0.02)

                th = threading.Thread(target=churn, daemon=True)
                soak_s = float(os.environ.get("SIDECAR_SOAK_SECONDS",
                                              "0"))
                deadline = time.monotonic() + soak_s
                try:
                    eng.cache.warm_distributed(spark,
                                               "s3://lake/soak.parquet")
                    # intact-mirror pass first: the wire-level zero-GET
                    # invariant, BEFORE churn starts
                    srv.store.clear_requests()
                    df = eng.read_parquet("s3://lake/soak.parquet")
                    row = df.agg({"a": "sum"}).collect()[0]
                    assert row[0] == expected_sum
                    assert srv.store.object_gets(".parquet") == 0
                    th.start()
                    cycle = 0
                    while (cycle < 6 if soak_s <= 0
                           else time.monotonic() < deadline):
                        cycle += 1
                        df = eng.read_parquet("s3://lake/soak.parquet")
                        got = df.agg({"a": "sum"}).collect()[0][0]
                        if got != expected_sum:
                            errors.append((cycle, got))
                            break
                    assert not errors, errors
                finally:
                    stop.set()
                    th.join(timeout=5)
                    spark.conf.unset("spark.sidecar.scan.splitBytes")
                    eng.close()
                    CacheManager.clear_instances()
            finally:
                os.environ.pop("SIDECAR_S3_ENDPOINT", None)
