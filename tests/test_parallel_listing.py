"""Distributed file listing and the hidden-path rule.

``CacheManager.list_files(uri, spark=...)`` is the one listing of a
table. Above ``spark.sidecar.parallelListing.threshold`` visible
subdirectories it lists the tree as a Spark job — the
``spark.sql.sources.parallelPartitionDiscovery`` analog. In executor
mode the Engine always ships its listing to the plan worker as a
driver-local JSONL manifest (``files_manifest`` option →
``load_manifest``). Every listing hides names the way Spark's
``HadoopFSUtils.shouldFilterOutPathName`` does.

Also covers the S3 stub's round-10 ListObjectsV2 pagination (LISTs
truncate at max-keys with NextContinuationToken, like real S3) —
without it a 100k-object prefix listed in one response and the
serial-vs-distributed comparison measured nothing.
"""

import glob
import json
import os
import shutil
import uuid

import pytest

THRESHOLD = "spark.sidecar.parallelListing.threshold"


def _conf(cache_dir, resolve_mode="executor"):
    from sidecar_spark.config import SidecarConfig

    return SidecarConfig.create(
        cache_dir=cache_dir, data_cache_type="file",
        cache_persistent=False, resolve_mode=resolve_mode)


def _key(s):
    return (s.path, s.length, s.mtime)


def _with_jobs(spark, fn):
    """``(fn(), ids of the Spark jobs fn ran)``, told apart from other
    jobs by a job group the statusTracker reports on."""
    sc = spark.sparkContext
    group = f"listing-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "listing probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture()
def deep_tree(tmp_path):
    """41 subdirs (> default threshold 32) + root files + hidden
    entries + nesting."""
    root = tmp_path / "t"
    for d in range(41):
        sub = root / f"k={d}"
        sub.mkdir(parents=True)
        for i in range(3):
            (sub / f"f{i}.bin").write_bytes(b"x" * (d + i + 1))
        (sub / "_hidden.bin").write_bytes(b"x")  # filtered (basename)
        (sub / ".dot.bin").write_bytes(b"x")     # filtered (basename)
    (root / "nest").mkdir()  # a non-hive 42nd dir, nested two deep
    (root / "nest" / "deep").mkdir()
    (root / "nest" / "deep" / "leaf.bin").write_bytes(b"xyz")
    (root / "_temporary" / "0").mkdir(parents=True)  # hidden dir
    (root / "_temporary" / "0" / "stale.bin").write_bytes(b"s")
    (root / "root_file.bin").write_bytes(b"r")
    (root / "_SUCCESS").write_bytes(b"")
    return str(root)


class TestManagerJob:
    def test_job_equals_serial(self, spark, cache_dir, deep_tree):
        from sidecar_spark.cache.manager import CacheManager

        mgr = CacheManager.get_or_create(_conf(cache_dir))
        try:
            serial = sorted(map(_key, mgr.list_files(deep_tree)))
            assert len(serial) == 41 * 3 + 2
            job, jobs = _with_jobs(
                spark, lambda: mgr.list_files(deep_tree, spark=spark))
            assert len(jobs) == 1
            assert sorted(map(_key, job)) == serial
            # suffix filter applies identically
            s2 = sorted(map(_key, mgr.list_files(deep_tree,
                                                 suffix="1.bin")))
            j2 = mgr.list_files(deep_tree, suffix="1.bin", spark=spark)
            assert sorted(map(_key, j2)) == s2 and len(s2) == 41
        finally:
            mgr.release()
            CacheManager.clear_instances()

    def test_below_threshold_disabled_and_file_run_no_job(
            self, spark, cache_dir, deep_tree):
        from sidecar_spark.cache.manager import CacheManager

        mgr = CacheManager.get_or_create(_conf(cache_dir))
        serial = sorted(map(_key, mgr.list_files(deep_tree)))
        one = os.path.join(deep_tree, "root_file.bin")
        try:
            for thr, path, want in (("100", deep_tree, serial),
                                    ("-1", deep_tree, serial),
                                    # a FILE path is listed as itself
                                    ("0", one, [_key(mgr.list_files(
                                        one)[0])])):
                spark.conf.set(THRESHOLD, thr)
                got, jobs = _with_jobs(
                    spark, lambda: mgr.list_files(path, spark=spark))
                assert jobs == [], (thr, path)
                assert sorted(map(_key, got)) == want, (thr, path)
        finally:
            spark.conf.unset(THRESHOLD)
            mgr.release()
            CacheManager.clear_instances()

    def test_s3_paginated_equality(self, spark, cache_dir):
        """>1000 objects through the stub: the serial LIST now pages
        (ListObjectsV2 truncation) and the job result still matches
        element-for-element."""
        from sidecar_spark.cache.manager import CacheManager
        from sidecar_spark.testing.s3server import S3StubServer, _Obj

        with S3StubServer() as srv:
            os.environ["SIDECAR_S3_ENDPOINT"] = srv.endpoint
            try:
                st = srv.store
                st.buckets["pl"] = {}
                for d in range(40):
                    for i in range(30):
                        st.buckets["pl"][
                            f"t/k={d}/f{i:03d}.bin"] = _Obj(b"y")
                mgr = CacheManager.get_or_create(_conf(cache_dir))
                try:
                    serial = sorted(map(_key,
                                        mgr.list_files("s3://pl/t")))
                    assert len(serial) == 1200
                    # pagination actually engaged: >1 page of keys
                    lists = [p for m, p in st.requests
                             if m == "GET" and "prefix=" in p]
                    assert len(lists) >= 3  # shallow + 2 pages
                    job, jobs = _with_jobs(spark, lambda: mgr.list_files(
                        "s3://pl/t", spark=spark))
                    assert len(jobs) == 1
                    assert sorted(map(_key, job)) == serial
                finally:
                    mgr.release()
                    CacheManager.clear_instances()
            finally:
                os.environ.pop("SIDECAR_S3_ENDPOINT", None)


class TestHiddenPaths:
    def test_rule_matches_spark_names(self):
        from sidecar_spark.cache.manager import _hidden

        for rel, hidden in (
                ("part-0.parquet", False),
                ("k=1/part-0.parquet", False),
                ("_k=1/part-0.parquet", False),  # "=": a partition dir
                ("_SUCCESS", True),
                (".part-0.parquet.crc", True),
                ("part-9.parquet._COPYING_", True),
                ("_temporary/0/part-0.parquet", True),
                ("k=1/.hive-staging/part-0.parquet", True),
                ("_metadata", True),  # a leaf: not data
                ("_common_metadata", True),
                ("_metadata/part-0.parquet", False)):  # descended
            assert _hidden("/t", "/t/" + rel) is hidden, rel

    def test_stray_files_match_spark_read(self, spark, cache_dir,
                                          tmp_path):
        """A Spark-written table plus a stale task-attempt copy of its
        part file under ``_temporary/0/`` and an in-flight
        ``._COPYING_`` upload: Spark's listing hides both, so every
        Engine read must return Spark's rows, and the driver-mode
        resolve must fill only the real data file."""
        from sidecar_spark import Engine
        from sidecar_spark.cache.manager import CacheManager

        root = str(tmp_path / "t")
        (spark.range(0, 100).selectExpr("id", "id * 2 AS v")
         .coalesce(1).write.parquet(root))
        part = glob.glob(os.path.join(root, "part-*.parquet"))[0]
        os.makedirs(os.path.join(root, "_temporary", "0"))
        shutil.copy(part, os.path.join(root, "_temporary", "0",
                                       "part-stale.parquet"))
        shutil.copy(part, os.path.join(root, "part-9.parquet._COPYING_"))
        want = sorted(map(tuple, spark.read.parquet(root).collect()))
        assert len(want) == 100
        for mode in ("driver", "executor"):
            eng = Engine(spark, conf=_conf(os.path.join(cache_dir, mode),
                                           resolve_mode=mode))
            try:
                got = sorted(map(tuple, eng.read_parquet(root).collect()))
                assert got == want, mode
            finally:
                eng.close()
                CacheManager.clear_instances()
        mirrored = os.listdir(os.path.join(cache_dir, "driver", "mirror"))
        assert [n.split("-", 1)[1] for n in mirrored] == [
            os.path.basename(part)]


class TestManifestChannel:
    def test_load_manifest_roundtrip_and_fallbacks(self, tmp_path):
        from sidecar_spark.sources.cached_parquet import load_manifest

        p = tmp_path / "m.jsonl"
        rows = [{"p": "/a/b.parquet", "l": 10, "m": 123},
                {"p": "/a/c.parquet", "l": 20, "m": 456}]
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        got = load_manifest(str(p))
        assert [(s.path, s.length, s.mtime) for s in got] == [
            ("/a/b.parquet", 10, 123), ("/a/c.parquet", 20, 456)]
        assert all(not s.is_dir for s in got)
        assert load_manifest(None) is None
        assert load_manifest("") is None
        assert load_manifest(str(tmp_path / "gone.jsonl")) is None

    def test_engine_ships_manifest_and_scan_matches_jvm(
            self, spark, cache_dir, tmp_path):
        """41-partition tree: the Engine writes a manifest, the scan
        is served by the cached source, and rows match the JVM's own
        read of the same tree."""
        from sidecar_spark import Engine

        root = str(tmp_path / "t")
        (spark.range(0, 4100)
         .selectExpr("id", "id % 41 AS k")
         .repartition(4)
         .write.partitionBy("k").mode("overwrite").parquet(root))
        eng = Engine(spark, conf=_conf(cache_dir))
        got = eng.read_format(root, "parquet")
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "sidecar_cached_parquet" in plan
        jvm = spark.read.parquet(root)
        assert (sorted(map(str, got.collect()))
                == sorted(map(str, jvm.collect())))
        mans = [f for f in os.listdir(
            os.path.join(cache_dir, ".listing_manifests"))
            if f.startswith("listing-")]
        assert mans, "expected a listing manifest above threshold"

    def test_deleted_manifest_falls_back_to_own_listing(
            self, spark, cache_dir, tmp_path):
        """Manifest pruned/unreadable → the source lists itself; the
        read stays correct (the safety property pruning relies on)."""
        from sidecar_spark import Engine

        root = str(tmp_path / "t")
        (spark.range(0, 820)
         .selectExpr("id", "id % 41 AS k")
         .coalesce(1)
         .write.partitionBy("k").mode("overwrite").parquet(root))
        eng = Engine(spark, conf=_conf(cache_dir))
        got = eng.read_format(root, "parquet")
        n1 = got.count()
        shutil.rmtree(os.path.join(cache_dir, ".listing_manifests"),
                      ignore_errors=True)
        # re-execution re-plans; with the manifest gone the source
        # must re-list and still produce every row
        assert got.count() == n1 == 820

    def test_threshold_conf_disables(self, spark, cache_dir,
                                     tmp_path):
        """Threshold -1: the 41-partition read lists without a Spark
        job; by default the same read runs exactly one."""
        from sidecar_spark import Engine

        root = str(tmp_path / "t")
        (spark.range(0, 410)
         .selectExpr("id", "id % 41 AS k")
         .coalesce(1)
         .write.partitionBy("k").mode("overwrite").parquet(root))
        eng = Engine(spark, conf=_conf(cache_dir))
        _, jobs = _with_jobs(spark,
                             lambda: eng.read_format(root, "parquet"))
        assert len(jobs) == 1
        spark.conf.set(THRESHOLD, "-1")
        try:
            got, jobs = _with_jobs(
                spark, lambda: eng.read_format(root, "parquet"))
            assert jobs == []
            assert got.count() == 410
        finally:
            spark.conf.unset(THRESHOLD)
