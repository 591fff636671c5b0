"""Planning-time bench for distributed file listing (VERDICT r9 #1).

Measures wall time to produce the full leaf-file listing of a
many-directory tree four ways:

* ``serial``  — ``CacheManager.list_files`` without a session (one
  shallow plus one recursive LIST, driver-side);
* ``threads`` — driver-side 16-thread pool over per-subdir recursive
  LISTs (the mergeSchema plan-worker shape — measured here to justify
  choosing a Spark job over a bigger thread pool);
* ``job``     — ``CacheManager.list_files`` with a session and the
  threshold at 0 (the parallelPartitionDiscovery analog: shallow
  root LIST + one Spark job over the subdirectories);
* ``jvm``     — Spark's own InMemoryFileIndex listing of the same
  tree (``spark.read.format("binaryFile")`` load + inputFiles, which
  forces the file index; schema is fixed so planning IS listing).

Two media:

* ``local``   — tree on local disk (pyarrow LocalFileSystem walk);
  serial is fast here, the job pays task overhead — the honest
  no-win case;
* ``s3``      — the same tree as objects in the localhost S3 stub,
  which (round 10) paginates ListObjectsV2 at 1000 keys like real
  S3 — the serial LIST becomes ceil(N/1000) sequential round-trips,
  the medium the distributed path exists for. (The JVM has no
  credentials/endpoint wiring for the stub in this env, so ``jvm``
  runs on the local tree only.)

Usage: python tools/bench_listing.py [--dirs 128] [--files 800]
Writes a markdown table to stdout.
"""

import argparse
import concurrent.futures as cf
import os
import shutil
import tempfile
import time


def build_local_tree(dirs: int, files: int) -> str:
    root = tempfile.mkdtemp(prefix="listbench-") + "/t"
    for d in range(dirs):
        dd = os.path.join(root, f"k={d}")
        os.makedirs(dd)
        for i in range(files):
            with open(os.path.join(dd, f"f{i:05d}.bin"), "wb") as f:
                f.write(b"x")
    return root


def build_s3_tree(store, dirs: int, files: int) -> str:
    from sidecar_spark.testing.s3server import _Obj

    store.buckets.setdefault("bench", {})
    for d in range(dirs):
        for i in range(files):
            store.buckets["bench"][
                f"t/k={d}/f{i:05d}.bin"] = _Obj(b"x")
    return "s3://bench/t"


def t_serial(mgr, root):
    t0 = time.perf_counter()
    n = len(mgr.list_files(root))
    return time.perf_counter() - t0, n


def t_threads(mgr, root, workers=16):
    t0 = time.perf_counter()
    fs, path = mgr._resolve(root)  # noqa: SLF001
    top = fs.list(path, recursive=False)
    dirs = [s.path for s in top if s.is_dir]
    out = [s for s in top if not s.is_dir]

    def one(d):
        dfs, dp = mgr._resolve(d)  # noqa: SLF001
        return [s for s in dfs.list(dp) if not s.is_dir]

    with cf.ThreadPoolExecutor(max_workers=workers) as ex:
        for part in ex.map(one, dirs):
            out.extend(part)
    n = sum(1 for s in out
            if not os.path.basename(s.path).startswith(("_", ".")))
    return time.perf_counter() - t0, n


def t_job(mgr, spark, root):
    spark.conf.set("spark.sidecar.parallelListing.threshold", "0")
    try:
        t0 = time.perf_counter()
        n = len(mgr.list_files(root, spark=spark))
        return time.perf_counter() - t0, n
    finally:
        spark.conf.unset("spark.sidecar.parallelListing.threshold")


def t_jvm(spark, root):
    t0 = time.perf_counter()
    df = spark.read.format("binaryFile").load(root)
    n = len(df.inputFiles())
    return time.perf_counter() - t0, n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", type=int, default=128)
    ap.add_argument("--files", type=int, default=800)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .appName("bench-listing").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from sidecar_spark.cache.manager import CacheManager
    from sidecar_spark.config import SidecarConfig
    from sidecar_spark.testing.s3server import S3StubServer

    total = args.dirs * args.files
    print(f"tree: {args.dirs} dirs x {args.files} files = {total}")

    rows = []
    cache = tempfile.mkdtemp(prefix="listbench-cache-")
    conf = SidecarConfig.create(cache_dir=cache, data_cache_type="file",
                                cache_persistent=False)
    mgr = CacheManager.get_or_create(conf)
    try:
        root = build_local_tree(args.dirs, args.files)
        for name, fn in (("serial", lambda: t_serial(mgr, root)),
                         ("threads", lambda: t_threads(mgr, root)),
                         ("job", lambda: t_job(mgr, spark, root)),
                         ("jvm", lambda: t_jvm(spark, root))):
            sec, n = fn()
            assert n == total, (name, n, total)
            rows.append(("local", name, sec))
            print(f"local/{name}: {sec:.2f}s ({n} files)")
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)

        with S3StubServer() as srv:
            os.environ["SIDECAR_S3_ENDPOINT"] = srv.endpoint
            s3root = build_s3_tree(srv.store, args.dirs, args.files)
            # latency sweep: 0 = localhost CPU floor; 25/50 ms ≈ a
            # real object store's LIST round trip — serial pays
            # ceil(N/1000) sequential pages, the job overlaps them
            for lat in (0, 25, 50):
                os.environ["SIDECAR_S3_STUB_LATENCY_MS"] = str(lat)
                med = f"s3+{lat}ms"
                for name, fn in (
                        ("serial", lambda: t_serial(mgr, s3root)),
                        ("threads", lambda: t_threads(mgr, s3root)),
                        ("job", lambda: t_job(mgr, spark, s3root))):
                    sec, n = fn()
                    assert n == total, (name, n, total)
                    rows.append((med, name, sec))
                    print(f"{med}/{name}: {sec:.2f}s ({n} files)")
            os.environ.pop("SIDECAR_S3_STUB_LATENCY_MS", None)
            os.environ.pop("SIDECAR_S3_ENDPOINT", None)
    finally:
        mgr.release()
        CacheManager.clear_instances()
        shutil.rmtree(cache, ignore_errors=True)

    print("\n| medium | method | seconds |")
    print("|---|---|---|")
    for med, name, sec in rows:
        print(f"| {med} | {name} | {sec:.2f} |")


if __name__ == "__main__":
    main()
