"""mergeSchema=true through the executor-mode Python source (round-6
verdict directive #1), plus the case-resolution parity it surfaced.

Every rule was probed against the live Spark 4.1 JVM first (round-7
probe sweep): the declared schema is the left fold of EVERY footer in
path order — new columns append, name match is case-insensitive (the
first spelling wins) unless spark.sql.caseSensitive, decimals with
equal scale take the max precision, and any other type conflict is
CANNOT_MERGE_SCHEMAS. The tests below re-derive the ground truth live:
``spark.read.option("mergeSchema", ...)`` on the same directory IS the
oracle, so a Spark behavior change fails loudly.
"""

import decimal
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sidecar_spark.cache.manager import CacheManager
from sidecar_spark.config import SidecarConfig


def _conf(cache_dir, mode="executor", **kw):
    return SidecarConfig.create(
        cache_dir=tempfile.mkdtemp(prefix=f"ms-{mode}-", dir=cache_dir),
        data_cache_type="file", cache_persistent=False,
        resolve_mode=mode, **kw)


def _mk(files):
    d = tempfile.mkdtemp(prefix="mstbl-")
    for name, tbl in files:
        sub = os.path.join(d, name)
        os.makedirs(os.path.dirname(sub), exist_ok=True)
        pq.write_table(tbl, sub)
    return d


def _parity(spark, cache_dir, root, modes=("executor", "driver"),
            **read_opts):
    """Engine.read_parquet(root, mergeSchema=...) vs the live JVM."""
    from sidecar_spark import Engine

    jvm = spark.read.options(**read_opts).parquet(root)
    want_schema = jvm.schema
    want = sorted(map(str, jvm.collect()))
    for mode in modes:
        eng = Engine(spark, conf=_conf(cache_dir, mode))
        try:
            got = eng.read_parquet(root, **read_opts)
            assert got.schema == want_schema, (mode, got.schema,
                                               want_schema)
            assert sorted(map(str, got.collect())) == want, mode
        finally:
            eng.close()
            CacheManager.clear_instances()


class TestMergeSchemaParity:
    def test_additive_union_and_order(self, spark, cache_dir):
        """New columns append; the path-sorted FIRST file seeds field
        order (probed: 4 files named against creation order)."""
        root = _mk([
            ("dd.parquet", pa.table({"x": pa.array([3], pa.int64()),
                                     "cdd": pa.array([3], pa.int64())})),
            ("aa.parquet", pa.table({"x": pa.array([0], pa.int64()),
                                     "caa": pa.array([0], pa.int64())})),
            ("cc.parquet", pa.table({"x": pa.array([2], pa.int64()),
                                     "ccc": pa.array([2], pa.int64())})),
            ("bb.parquet", pa.table({"x": pa.array([1], pa.int64()),
                                     "cbb": pa.array([1], pa.int64())})),
        ])
        _parity(spark, cache_dir, root, mergeSchema="true")

    def test_decimal_same_scale_widens(self, spark, cache_dir):
        root = _mk([
            ("a.parquet", pa.table({"x": pa.array(
                [decimal.Decimal("1.25")], pa.decimal128(5, 2))})),
            ("b.parquet", pa.table({"x": pa.array(
                [decimal.Decimal("2.50")], pa.decimal128(10, 2))})),
        ])
        _parity(spark, cache_dir, root, mergeSchema="true")

    def test_case_insensitive_merge_keeps_first_spelling(self, spark,
                                                         cache_dir):
        root = _mk([
            ("a.parquet", pa.table({"X": pa.array([1], pa.int64())})),
            ("b.parquet", pa.table({"x": pa.array([2], pa.int64())})),
        ])
        _parity(spark, cache_dir, root, mergeSchema="true")

    def test_nested_struct_subfield_union(self, spark, cache_dir):
        root = _mk([
            ("a.parquet", pa.table({"s": pa.array(
                [{"a": 1}], pa.struct([("a", pa.int64())]))})),
            ("b.parquet", pa.table({"s": pa.array(
                [{"a": 2, "b": "x"}],
                pa.struct([("a", pa.int64()), ("b", pa.string())]))})),
        ])
        _parity(spark, cache_dir, root, mergeSchema="true")

    def test_map_value_struct_subfield_union(self, spark, cache_dir):
        """Nested evolution inside a MAP value type: the merged value
        struct gains a subfield and older files null-fill it (Arrow
        cast refuses to add struct fields — the conform path rebuilds
        through the map's list<struct> view)."""
        t_old = pa.map_(pa.string(), pa.struct([("a", pa.int64())]))
        t_new = pa.map_(pa.string(), pa.struct([("a", pa.int64()),
                                                ("b", pa.string())]))
        root = _mk([
            ("a.parquet", pa.table({"m": pa.array(
                [{"k": {"a": 1}}, None], type=t_old)})),
            ("b.parquet", pa.table({"m": pa.array(
                [{"k": {"a": 2, "b": "x"}}], type=t_new)})),
        ])
        _parity(spark, cache_dir, root, mergeSchema="true")

    def test_list_struct_subfield_union(self, spark, cache_dir):
        """Same evolution inside a LIST element struct."""
        t_old = pa.list_(pa.struct([("a", pa.int64())]))
        t_new = pa.list_(pa.struct([("a", pa.int64()),
                                    ("b", pa.string())]))
        root = _mk([
            ("a.parquet", pa.table({"l": pa.array(
                [[{"a": 1}], None, []], type=t_old)})),
            ("b.parquet", pa.table({"l": pa.array(
                [[{"a": 2, "b": "x"}]], type=t_new)})),
        ])
        _parity(spark, cache_dir, root, mergeSchema="true")

    def test_merge_with_hive_partitions(self, spark, cache_dir):
        root = _mk([
            ("k=1/a.parquet", pa.table({"x": pa.array([1], pa.int64()),
                                        "y": pa.array(["a"])})),
            ("k=2/b.parquet", pa.table({"x": pa.array([2], pa.int64()),
                                        "z": pa.array([0.5])})),
        ])
        _parity(spark, cache_dir, root, mergeSchema="true")

    def test_merge_shadowed_partition_column(self, spark, cache_dir):
        """A data column named like the partition key: directory value
        wins, at the file position, partition-inferred type (probed
        P14 — same as the non-merge shadow rule)."""
        root = _mk([
            ("k=1/a.parquet", pa.table({"x": pa.array([1], pa.int64()),
                                        "k": pa.array([99], pa.int64())})),
            ("k=2/b.parquet", pa.table({"x": pa.array([2], pa.int64()),
                                        "z": pa.array([0.5])})),
        ])
        _parity(spark, cache_dir, root, mergeSchema="true")

    def test_type_conflict_raises_like_jvm(self, spark, cache_dir):
        """int32 vs int64 is CANNOT_MERGE_SCHEMAS in the JVM — the
        Python source must refuse identically, never guess a type."""
        from sidecar_spark import Engine

        root = _mk([
            ("a.parquet", pa.table({"x": pa.array([1], pa.int32())})),
            ("b.parquet", pa.table({"x": pa.array([2], pa.int64())})),
        ])
        with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
            spark.read.option("mergeSchema", "true").parquet(root)
        eng = Engine(spark, conf=_conf(cache_dir))
        try:
            with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
                eng.read_parquet(root, mergeSchema="true").schema
        finally:
            eng.close()
            CacheManager.clear_instances()

    def test_session_conf_enables_and_option_overrides(self, spark,
                                                       cache_dir):
        """spark.sql.parquet.mergeSchema=true merges with no option;
        an explicit mergeSchema=false option overrides it (probed)."""
        from sidecar_spark import Engine

        root = _mk([
            ("a.parquet", pa.table({"x": pa.array([1], pa.int64()),
                                    "y": pa.array(["a"])})),
            ("b.parquet", pa.table({"x": pa.array([2], pa.int64()),
                                    "z": pa.array([0.5])})),
        ])
        spark.conf.set("spark.sql.parquet.mergeSchema", "true")
        try:
            _parity(spark, cache_dir, root)
            jvm_off = (spark.read.option("mergeSchema", "false")
                       .parquet(root))
            eng = Engine(spark, conf=_conf(cache_dir))
            try:
                got = eng.read_parquet(root, mergeSchema="false")
                assert got.schema == jvm_off.schema
                assert "z" not in got.columns
            finally:
                eng.close()
                CacheManager.clear_instances()
        finally:
            spark.conf.unset("spark.sql.parquet.mergeSchema")

    def test_merge_with_projection(self, spark, cache_dir):
        """columns=[...] over a merged schema: a projected column that
        only SOME files carry still reads correctly (null-filled
        where absent)."""
        from sidecar_spark import Engine

        root = _mk([
            ("a.parquet", pa.table({"x": pa.array([1], pa.int64()),
                                    "y": pa.array(["a"])})),
            ("b.parquet", pa.table({"x": pa.array([2], pa.int64()),
                                    "z": pa.array([0.5])})),
        ])
        jvm = (spark.read.option("mergeSchema", "true").parquet(root)
               .select("z", "x"))
        eng = Engine(spark, conf=_conf(cache_dir))
        try:
            got = eng.read_parquet(root, columns=["z", "x"],
                                   mergeSchema="true")
            assert got.schema == jvm.schema
            assert (sorted(map(str, got.collect()))
                    == sorted(map(str, jvm.collect())))
        finally:
            eng.close()
            CacheManager.clear_instances()

    def test_merged_read_serves_from_cache(self, cache_dir):
        """The point of the exercise: a mergeSchema read in executor
        mode is CACHED. Driven in-process (scan workers' stats are
        invisible from the driver): cold fills the mirror, the warm
        pass does zero remote reads — schema footers AND data both
        serve from the node-local mirror."""
        from sidecar_spark.sources.cached_parquet import (
            CachedParquetSource,
        )

        root = _mk([
            ("a.parquet", pa.table({"x": pa.array(
                list(range(1000)), pa.int64()),
                "y": pa.array(["a"] * 1000)})),
            ("b.parquet", pa.table({"x": pa.array(
                list(range(1000, 2000)), pa.int64()),
                "z": pa.array([0.5] * 1000)})),
        ])
        conf = _conf(cache_dir)
        opts = {"path": root, "conf": conf.to_json(), "merge": "true"}
        mgr = CacheManager.get_or_create(conf)
        try:
            def one_scan():
                src = CachedParquetSource(opts)
                schema = src.schema()
                assert [f.name for f in schema.fields] == ["x", "y", "z"]
                reader = src.reader(schema)
                return sum(b.num_rows for part in reader.partitions()
                           for b in reader.read(part))

            assert one_scan() == 2000          # cold: fills the mirror
            before = mgr.stats.snapshot()
            # footer reads go through fs.open_read, which bumps no
            # remote-bytes counter — spy on it so a regressed
            # mirror-first footer path fails here, not silently
            fs_cls = type(mgr._resolve(root)[0])  # noqa: SLF001
            orig_open = fs_cls.open_read
            remote_opens = []

            def spy(self, p):
                remote_opens.append(p)
                return orig_open(self, p)

            fs_cls.open_read = spy
            try:
                assert one_scan() == 2000      # warm
            finally:
                fs_cls.open_read = orig_open
            after = mgr.stats.snapshot()
            assert remote_opens == []          # footers from mirror
            assert (after["total_bytes_read_remote"]
                    == before["total_bytes_read_remote"])
            assert (after["total_read_requests_from_data_cache"]
                    > before["total_read_requests_from_data_cache"])
        finally:
            mgr.release()
            CacheManager.clear_instances()


class TestCaseResolutionParity:
    """File-column name resolution follows spark.sql.caseSensitive
    (probed): default serves a file spelling "x" into a declared "X";
    caseSensitive=true null-fills instead."""

    def _root(self):
        return _mk([
            ("a.parquet", pa.table({"X": pa.array([1], pa.int64()),
                                    "y": pa.array(["a"])})),
            ("b.parquet", pa.table({"x": pa.array([2], pa.int64()),
                                    "y": pa.array(["b"])})),
        ])

    def test_default_resolves_case_insensitively(self, spark, cache_dir):
        _parity(spark, cache_dir, self._root())

    def test_case_sensitive_null_fills(self, spark, cache_dir):
        spark.conf.set("spark.sql.caseSensitive", "true")
        try:
            # executor mode only: driver mode hands Spark the resolved
            # paths and the JVM applies its own case rule either way
            _parity(spark, cache_dir, self._root())
        finally:
            spark.conf.unset("spark.sql.caseSensitive")

    def test_case_sensitive_merge_keeps_both(self, spark, cache_dir):
        spark.conf.set("spark.sql.caseSensitive", "true")
        try:
            _parity(spark, cache_dir, self._root(), mergeSchema="true")
        finally:
            spark.conf.unset("spark.sql.caseSensitive")

    def test_duplicate_columns_one_file_error(self, spark, cache_dir):
        """ONE file carrying both "x" and "X", read case-insensitively:
        the JVM refuses at PLAN time (COLUMN_ALREADY_EXISTS, probed) —
        the executor source's schema() must refuse too, never silently
        serve whichever spelling enumerates last. caseSensitive=true
        reads it fine in both (parity)."""
        from sidecar_spark import Engine

        root = _mk([
            ("a.parquet", pa.table(
                [pa.array([1], pa.int64()), pa.array([2], pa.int64()),
                 pa.array(["v"])],
                names=["x", "X", "y"])),
        ])
        with pytest.raises(Exception):  # ground truth re-derived
            spark.read.parquet(root)
        eng = Engine(spark, conf=_conf(cache_dir))
        try:
            with pytest.raises(Exception, match="ALREADY_EXISTS"):
                eng.read_parquet(root).collect()
        finally:
            eng.close()
            CacheManager.clear_instances()
        spark.conf.set("spark.sql.caseSensitive", "true")
        try:
            _parity(spark, cache_dir, root)
        finally:
            spark.conf.unset("spark.sql.caseSensitive")


class TestDistributedMergeJob:
    """Round-8 verdict #2: above a file-count threshold the Engine
    pre-folds footers in a Spark JOB and ships the merged schema to
    the source. The job path must be schema- AND value-identical to
    the in-worker thread fold and to the JVM."""

    def _evolving_table(self, n_files=12):
        files = []
        for i in range(n_files):
            cols = {"a": pa.array([i], type=pa.int64())}
            if i % 3 == 1:
                cols["b"] = pa.array([f"s{i}"], type=pa.string())
            if i % 3 == 2:
                cols["c"] = pa.array(
                    [decimal.Decimal(i)],
                    type=pa.decimal128(12 if i % 2 else 7, 0))
            files.append((f"f{i:03d}.parquet", pa.table(cols)))
        return _mk(files)

    def test_job_path_matches_thread_path_and_jvm(self, spark,
                                                  cache_dir,
                                                  monkeypatch):
        from sidecar_spark import Engine, engine

        root = self._evolving_table()
        jvm = spark.read.option("mergeSchema", "true").parquet(root)
        want_schema = jvm.schema.simpleString()
        want = sorted(map(str, jvm.collect()))
        with monkeypatch.context() as m:
            m.setattr(engine, "MERGE_SCHEMA_JOB_THRESHOLD", 4)
            eng = Engine(spark, conf=_conf(cache_dir))
            try:
                got = eng.read_parquet(root, mergeSchema="true")
                assert got.schema.simpleString() == want_schema
                assert sorted(map(str, got.collect())) == want
            finally:
                eng.close()
        # threshold back at default (1000): the same read folds in
        # the plan worker — results identical
        eng = Engine(spark, conf=_conf(cache_dir))
        try:
            got = eng.read_parquet(root, mergeSchema="true")
            assert got.schema.simpleString() == want_schema
            assert sorted(map(str, got.collect())) == want
        finally:
            eng.close()

    def test_job_used_above_threshold(self, spark, cache_dir,
                                      monkeypatch):
        """The job actually runs above the threshold (and not below):
        observed via the merged-schema option hook."""
        from sidecar_spark import Engine, engine

        root = self._evolving_table(6)
        calls = []
        monkeypatch.setattr(engine, "MERGE_SCHEMA_JOB_THRESHOLD", 4)
        eng = Engine(spark, conf=_conf(cache_dir))
        orig = Engine._maybe_merged_schema_job

        def spy(self, *a, **kw):
            out = orig(self, *a, **kw)
            calls.append(out)
            return out

        monkeypatch.setattr(Engine, "_maybe_merged_schema_job", spy)
        try:
            eng.read_parquet(root, mergeSchema="true").collect()
            assert calls and calls[-1] is not None
            monkeypatch.setattr(engine, "MERGE_SCHEMA_JOB_THRESHOLD", 100)
            eng.read_parquet(root, mergeSchema="true").collect()
            assert calls[-1] is None  # below threshold: no job
        finally:
            eng.close()

    def test_type_conflict_still_raises(self, spark, cache_dir,
                                        monkeypatch):
        """A CANNOT_MERGE conflict under the job path still fails the
        read loudly (job falls back, the sequential fold raises)."""
        from sidecar_spark import Engine, engine

        root = _mk([
            ("a.parquet", pa.table({"x": pa.array([1], pa.int64())})),
            ("b.parquet", pa.table({"x": pa.array(["s"], pa.string())})),
            ("c.parquet", pa.table({"x": pa.array([2], pa.int64())})),
            ("d.parquet", pa.table({"x": pa.array([3], pa.int64())})),
            ("e.parquet", pa.table({"x": pa.array([4], pa.int64())})),
        ])
        monkeypatch.setattr(engine, "MERGE_SCHEMA_JOB_THRESHOLD", 3)
        eng = Engine(spark, conf=_conf(cache_dir))
        try:
            with pytest.raises(Exception, match="(?i)merge"):
                eng.read_parquet(root, mergeSchema="true").collect()
        finally:
            eng.close()

    def test_job_folds_filtered_listing_only(self, spark, cache_dir,
                                             monkeypatch):
        """ADVICE r8 #2: mergeSchema + pathGlobFilter above the job
        threshold must fold footers of the SURVIVING files only — a
        column that exists only in glob-excluded files must not leak
        into the merged schema (the JVM's own filtered fold is the
        oracle)."""
        from sidecar_spark import Engine, engine

        files = [(f"keep{i:02d}.parquet",
                  pa.table({"a": pa.array([i], pa.int64())}))
                 for i in range(6)]
        # excluded by the glob, and the ONLY files carrying column z
        files += [(f"drop{i:02d}.parquet",
                   pa.table({"a": pa.array([100 + i], pa.int64()),
                             "z": pa.array([f"v{i}"], pa.string())}))
                  for i in range(3)]
        root = _mk(files)
        jvm = (spark.read.option("mergeSchema", "true")
               .option("pathGlobFilter", "keep*")
               .parquet(root))
        assert "z" not in jvm.columns  # oracle sanity
        want = sorted(map(str, jvm.collect()))
        monkeypatch.setattr(engine, "MERGE_SCHEMA_JOB_THRESHOLD", 4)
        eng = Engine(spark, conf=_conf(cache_dir))
        try:
            got = eng.read_parquet(root, mergeSchema="true",
                                   pathGlobFilter="keep*")
            assert got.schema.simpleString() == \
                jvm.schema.simpleString()
            assert sorted(map(str, got.collect())) == want
        finally:
            eng.close()
