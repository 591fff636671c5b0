"""``ignoreCorruptFiles`` / ``ignoreMissingFiles`` through the cached
executor sources — VERDICT r9 #7.

Probed JVM rules (round 10), asserted against the live scan:

* option AND session conf both enable the skip; the reader option
  wins (FileSourceOptions precedence);
* a corrupt file skips from the point of failure — rows already
  emitted STAY (probed P4c: a half-truncated gzip csv serves its
  decodable prefix, and DEFLATE prefixes decode identically in
  zlib and Java's Inflater, so the kept-row count matches exactly);
* FileNotFound skips only under ignoreMissingFiles (the JVM keeps
  the two catches separate); schema inference skips corrupt/missing
  footers and infers from the next file;
* binaryFile skips a vanished file's row even when ``content`` is
  not projected (probed P7 — one stat, paid only under the flag);
* the cast-gate's loud refuse-to-guess errors still raise under
  ignoreCorruptFiles: the wrap sits upstream of _finalize_batches,
  mirroring the JVM's schema-convert carve-out.

Cache-semantics note (documented, not a defect): a file deleted
remotely but still warm in the node mirror keeps serving from cache —
exactly what the reference's caching FileSystem would do. The tests
below use cold caches so the remote miss is real.
"""

import glob
import gzip
import os
import shutil

import pytest


def _engine(spark, cache_dir):
    from sidecar_spark.config import SidecarConfig
    from sidecar_spark.engine import Engine

    return Engine(spark, conf=SidecarConfig.create(
        cache_dir=cache_dir, data_cache_type="file",
        cache_persistent=False, resolve_mode="executor"))


def _mk_parquet(spark, path, vals):
    (spark.createDataFrame([(v,) for v in vals], "a int").coalesce(1)
     .write.mode("overwrite").parquet(path + "_tmp"))
    os.makedirs(path, exist_ok=True)
    src = glob.glob(path + "_tmp/part-*.parquet")[0]
    out = os.path.join(path, os.path.basename(src))
    shutil.copy(src, out)
    shutil.rmtree(path + "_tmp")
    return out


def _parity(spark, eng, d, fmt="parquet", schema=None, **opts):
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    for k, v in opts.items():
        reader = reader.option(k, v)
    jvm = reader.format(fmt).load(d)
    got = eng.read_format(d, fmt, schema=schema, **opts)
    assert (sorted(map(str, got.collect()))
            == sorted(map(str, jvm.collect())))
    return got


def _is_cached_plan(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "sidecar_cached" in plan


class TestIgnoreCorrupt:
    def test_parquet_truncated_and_garbage(self, spark, cache_dir,
                                           tmp_path):
        eng = _engine(spark, cache_dir)
        d = str(tmp_path / "p1")
        good = _mk_parquet(spark, d, list(range(100)))
        with open(good, "rb") as f:
            b = f.read()
        with open(os.path.join(d, "part-bad.parquet"), "wb") as f:
            f.write(b[:len(b) // 2])
        with open(os.path.join(d, "part-junk.parquet"), "wb") as f:
            f.write(b"PAR1" + b"\x00" * 400)
        got = _parity(spark, eng, d, ignoreCorruptFiles="true")
        assert _is_cached_plan(got)
        assert got.count() == 100
        # without the flag: loud error (ours and the JVM's)
        with pytest.raises(Exception):
            eng.read_format(d, "parquet").collect()

    def test_parquet_schema_inference_head_file_rule(
            self, spark, cache_dir, tmp_path):
        # WITHOUT mergeSchema the JVM infers from the HEAD file only:
        # a corrupt head under ignoreCorruptFiles fails
        # UNABLE_TO_INFER_SCHEMA (probed — no fall-through to the
        # next footer); a corrupt tail file skips at scan. WITH
        # mergeSchema the corrupt footer is skipped from the fold.
        eng = _engine(spark, cache_dir)
        d = str(tmp_path / "p2")
        _mk_parquet(spark, d, [1, 2, 3])
        with open(os.path.join(d, "zzz-bad.parquet"), "wb") as f:
            f.write(b"PAR1" + b"\xff" * 99)
        got = _parity(spark, eng, d, ignoreCorruptFiles="true")
        assert _is_cached_plan(got)
        assert got.count() == 3
        got = _parity(spark, eng, d, ignoreCorruptFiles="true",
                      mergeSchema="true")
        assert _is_cached_plan(got)
        assert got.count() == 3
        d2 = str(tmp_path / "p2h")
        _mk_parquet(spark, d2, [1])
        with open(os.path.join(d2, "aaa-bad.parquet"), "wb") as f:
            f.write(b"PAR1" + b"\xff" * 99)
        with pytest.raises(Exception):
            (spark.read.option("ignoreCorruptFiles", "true")
             .parquet(d2).collect())
        with pytest.raises(Exception):
            eng.read_format(d2, "parquet",
                            ignoreCorruptFiles="true").collect()

    def test_session_conf_enables(self, spark, cache_dir, tmp_path):
        eng = _engine(spark, cache_dir)
        d = str(tmp_path / "p3")
        _mk_parquet(spark, d, [1, 2])
        with open(os.path.join(d, "part-junk.parquet"), "wb") as f:
            f.write(b"PAR1junkjunk")
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        try:
            got = _parity(spark, eng, d)
            assert _is_cached_plan(got)
            assert got.count() == 2
        finally:
            spark.conf.unset("spark.sql.files.ignoreCorruptFiles")

    def test_orc_garbage(self, spark, cache_dir, tmp_path):
        eng = _engine(spark, cache_dir)
        d = str(tmp_path / "orc")
        (spark.createDataFrame([(1,), (2,)], "a int").coalesce(1)
         .write.mode("overwrite").orc(d))
        with open(os.path.join(d, "part-junk.orc"), "wb") as f:
            f.write(b"ORC" + b"\x01" * 300)
        got = _parity(spark, eng, d, fmt="orc",
                      ignoreCorruptFiles="true")
        assert _is_cached_plan(got)
        assert got.count() == 2

    def test_csv_gz_partial_rows_kept(self, spark, cache_dir,
                                      tmp_path):
        # the probed P4c shape: a half-truncated gzip member decodes
        # its prefix on BOTH sides — kept-row parity must be exact
        eng = _engine(spark, cache_dir)
        d = str(tmp_path / "gz")
        os.makedirs(d)
        with open(os.path.join(d, "good.csv.gz"), "wb") as f:
            f.write(gzip.compress(b"1,x\n2,y\n"))
        gz = gzip.compress(
            b"".join(b"%d,zz\n" % i for i in range(5000)))
        with open(os.path.join(d, "bad.csv.gz"), "wb") as f:
            f.write(gz[:len(gz) // 2])
        got = _parity(spark, eng, d, fmt="csv",
                      schema="a int, b string",
                      ignoreCorruptFiles="true")
        assert _is_cached_plan(got)
        assert got.count() > 2  # partial rows from the corrupt file
        # and a fully-garbage member skips cleanly
        with open(os.path.join(d, "junk.csv.gz"), "wb") as f:
            f.write(b"\x1f\x8b\x08\x00" + b"\x55" * 64)
        got = _parity(spark, eng, d, fmt="csv",
                      schema="a int, b string",
                      ignoreCorruptFiles="true")
        assert _is_cached_plan(got)

    def test_corrupt_record_column_with_header(self, spark,
                                               cache_dir, tmp_path):
        # P9: columnNameOfCorruptRecord interplay with the round-9
        # header framing — the malformed row lands in the corrupt
        # column, the header is gone
        eng = _engine(spark, cache_dir)
        d = str(tmp_path / "p9")
        os.makedirs(d)
        with open(os.path.join(d, "f.csv"), "wb") as f:
            f.write(b"h1,h2\n1,x\nnotint,y\n")
        sch = "a int, b string, _bad string"
        got = _parity(spark, eng, d, fmt="csv", schema=sch,
                      header="true", columnNameOfCorruptRecord="_bad")
        assert _is_cached_plan(got)
        rows = {str(r) for r in got.collect()}
        assert any("notint,y" in r for r in rows)


class TestIgnoreMissing:
    def test_parquet_missing_after_plan(self, spark, cache_dir,
                                        tmp_path):
        # the NON-head file vanishes after the schema read but before
        # the scan: it is still COLD (never warmed into the mirror),
        # so the remote miss is real and the scan skips it. (A warmed
        # file would keep serving from the mirror — the documented
        # caching-FS semantics, exercised nowhere here.)
        eng = _engine(spark, cache_dir)
        d = str(tmp_path / "m1")
        f1 = _mk_parquet(spark, d, [1, 2, 3])
        shutil.copy(f1, os.path.join(d, "zz-second.parquet"))
        got = eng.read_format(d, "parquet",
                              ignoreMissingFiles="true")
        os.remove(os.path.join(d, "zz-second.parquet"))
        assert got.count() == 3  # the head file's rows only

    def test_reader_scan_skip_unit(self, spark, cache_dir, tmp_path):
        # drive the reader directly with a shipped listing naming a
        # ghost file: the SCAN-level skip (not a listing refresh)
        import json

        import pyarrow as pa

        from sidecar_spark.cache.fs import FileStat
        from sidecar_spark.config import SidecarConfig
        from sidecar_spark.sources.cached_parquet import (
            CachedParquetReader,
        )

        d = str(tmp_path / "m2")
        real = _mk_parquet(spark, d, [7, 8])
        st = os.stat(real)
        ghost = os.path.join(d, "zz-ghost.parquet")
        files = [
            FileStat(path=real, length=st.st_size,
                     mtime=int(st.st_mtime * 1000), is_dir=False),
            FileStat(path=ghost, length=1234,
                     mtime=int(st.st_mtime * 1000), is_dir=False),
        ]
        conf = SidecarConfig.create(
            cache_dir=str(tmp_path / "cache"),
            data_cache_type="file", cache_persistent=False,
            resolve_mode="executor")
        manifest = tmp_path / "listing.jsonl"
        manifest.write_text("".join(
            json.dumps({"p": f.path, "l": f.length, "m": f.mtime})
            + "\n" for f in files))
        base = {"path": d, "conf": conf.to_json(),
                "split_bytes": "0", "files_manifest": str(manifest)}
        for flags, expect_rows, expect_err in (
                ({"ignore_missing": "true"}, 2, False),
                ({}, None, True)):
            rdr = CachedParquetReader({**base, **flags}, None)
            parts = rdr.partitions()
            if expect_err:
                with pytest.raises(Exception):
                    for p in parts:
                        list(rdr.read(p))
            else:
                n = 0
                for p in parts:
                    for b in rdr.read(p):
                        n += b.num_rows
                assert n == expect_rows

    def test_text_and_binaryfile_missing(self, spark, cache_dir,
                                         tmp_path):
        eng = _engine(spark, cache_dir)
        d = str(tmp_path / "m3")
        os.makedirs(d)
        with open(os.path.join(d, "a.txt"), "w") as f:
            f.write("x\ny\n")
        with open(os.path.join(d, "b.txt"), "w") as f:
            f.write("z\n")
        # delete BEFORE any action: the file is cold (never warmed),
        # so whichever stage notices — a fresh listing or the scan's
        # remote miss — the row set must drop it, like the JVM
        got = eng.read_format(d, "text", ignoreMissingFiles="true")
        os.remove(os.path.join(d, "b.txt"))
        assert sorted(r.value for r in got.collect()) == ["x", "y"]
        d2 = str(tmp_path / "m4")
        os.makedirs(d2)
        with open(os.path.join(d2, "a.bin"), "wb") as f:
            f.write(b"AB")
        with open(os.path.join(d2, "b.bin"), "wb") as f:
            f.write(b"CD")
        got = eng.read_format(d2, "binaryFile",
                              ignoreMissingFiles="true")
        os.remove(os.path.join(d2, "b.bin"))
        assert got.select("path").count() == 1  # P7: stat-gated row
        assert got.count() == 1
