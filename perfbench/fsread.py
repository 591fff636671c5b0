"""``fs_pread_mixed``: the byte-level FileSystem API, no Spark.

95% of ops are positional reads, ``CacheManager.open(uri)`` then
``read_at(off, 4-64 KiB)`` with Zipf(0.9) over the pages of 32 x 1 MiB
objects; 5% overwrite a whole object through ``create()``/``close()``
(write cache in ``sync`` mode). The page store and the write cache each
hold half the objects, so both evict. (With a quarter in the page store
about half the reads hit and the median read sat on the edge between
page hits and fetches, jumping 0.24-0.41 ms from run to run.) With one client and
no timers the op sequence, and every count, depends only on the seed:
counts are taken over the first ``COUNT_OPS`` ops so they repeat
exactly from run to run.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np

from perfbench import datagen
from perfbench.common import closed_loop, dir_listing, p50, peak_rss_mb, tail
from perfbench.remote import KINDS, Remote, calibrate, journal_delta

OBJECTS = 32
OBJECT_BYTES = 1 << 20
PAGE = 64 << 10
PAGES_CAP = OBJECTS * OBJECT_BYTES // 2
WRITE_CACHE_CAP = OBJECTS * OBJECT_BYTES // 2
WRITE_SHARE = 0.05
ZIPF_S = 0.9
LATENCY_MS = 5.0
SETUPS = 3
WARM_OPS = 300           # set-up's first fill: untimed ops of the same mix
COUNT_OPS = 500
CACHE_METHODS = ("get_file_status", "open", "create")


class Ops:
    """The seeded op sequence: is_write, object, offset, length."""

    def __init__(self, seed: int, stream: int, n: int = 200_000) -> None:
        rng = np.random.default_rng([seed, stream])
        per_obj = OBJECT_BYTES // PAGE
        pages = OBJECTS * per_obj
        w = 1.0 / np.arange(1, pages + 1) ** ZIPF_S
        # rank -> page: one seeded permutation, shared by every stream
        page = np.random.default_rng([seed, 0]).permutation(pages)[
            rng.choice(pages, size=n, p=w / w.sum())]
        self.write = rng.random(n) < WRITE_SHARE
        self.obj = np.where(self.write, rng.integers(0, OBJECTS, n),
                            page // per_obj)
        self.off = (page % per_obj) * PAGE + rng.integers(0, PAGE, n)
        self.len = np.minimum(rng.integers(4 << 10, (64 << 10) + 1, n),
                              OBJECT_BYTES - self.off)


def run(args, run, tracer, work: str) -> None:
    from sidecar_spark.cache.manager import CacheManager
    from sidecar_spark.config import SidecarConfig

    run.info.update(data_bytes=OBJECTS * OBJECT_BYTES,
                    pages_bytes_cap=PAGES_CAP,
                    write_cache_bytes_cap=WRITE_CACHE_CAP,
                    latency_ms=LATENCY_MS, write_cache_mode="sync",
                    nproc=os.cpu_count())
    state = {"version": 0, "current": {}}

    def next_blob() -> bytes:
        state["version"] += 1
        return datagen.blob(args.seed, state["version"], OBJECT_BYTES)

    with Remote(LATENCY_MS) as remote:
        os.environ["SIDECAR_S3_ENDPOINT"] = remote.endpoint
        run.layers.update(calibrate(remote))
        mgr = None
        fills = []
        try:
            for rep in range(SETUPS):
                if mgr is not None:
                    mgr.close(save=False)
                    shutil.rmtree(cache_dir, ignore_errors=True)
                cache_dir = os.path.join(work, f"cache{rep}")
                bucket = f"fs{rep}"
                state["version"] = 0
                blobs = [next_blob() for _ in range(OBJECTS)]
                t0 = time.perf_counter()
                for k, b in enumerate(blobs):
                    remote.put(bucket, f"obj-{k:02d}", b)
                    state["current"][k] = b
                mgr = CacheManager(SidecarConfig.create(
                    cache_dir=cache_dir, data_cache_type="file",
                    cache_persistent=False, data_page_size=PAGE,
                    data_cache_size=PAGES_CAP, io_buffer_size=PAGE,
                    write_cache_size=WRITE_CACHE_CAP,
                    write_cache_mode="sync"))
                warm = Ops(args.seed, 1, WARM_OPS)
                t1 = time.perf_counter()
                for i in range(WARM_OPS):
                    _op(mgr, bucket, warm, i, state, next_blob, None)
                fills.append((time.perf_counter() - t1) * 1000.0)
                run.setup_s.append(time.perf_counter() - t0)
            run.layers["cache.cold_fill_ms"] = float(np.median(fills))

            if args.trace:
                tracer.wrap(mgr, "cache", CACHE_METHODS)
            ops = Ops(args.seed, 2)
            snaps = {}

            def snap():
                return (mgr.stats.snapshot(), remote.journal(),
                        {d: sum(dir_listing(os.path.join(cache_dir,
                                                         d)).values())
                         for d in ("pages", "write-cache", "mirror")})

            def op(i: int) -> None:
                if i in (0, COUNT_OPS):
                    snaps[i] = snap()
                traced = bool(args.trace) and i % 2 == 0
                tracer.op = i if traced else None
                with tracer.span("op.fs") if traced \
                        else contextlib.nullcontext():
                    kind, ms, ok = _op(mgr, bucket, ops, i, state, next_blob,
                                       tracer if traced else None)
                run.record(kind, ms, ok, traced if args.trace else None)

            run.wall_s = closed_loop(args.seconds, op)
            run.metrics["peak_rss_mb"] = peak_rss_mb()
            run.layers["mem.driver_rss_mb"] = run.metrics["peak_rss_mb"]
            final = snap()
            j = journal_delta(final[1], snaps[0][1])
            run.metrics.update(
                remote_requests_per_op=sum(j[k] for k in KINDS)
                / run.attempted,
                remote_bytes_per_op=(j["bytes_out"] + j["bytes_in"])
                / run.attempted,
                cache_bytes_per_data_byte=sum(final[2].values())
                / (OBJECTS * OBJECT_BYTES))
            end = COUNT_OPS if COUNT_OPS in snaps else run.attempted
            snaps.setdefault(end, final)
            run.info["count_ops"] = end
            _layers(run, tracer, snaps[0], snaps[end], end)
        finally:
            if mgr is not None:
                mgr.close(save=False)


def _op(mgr, bucket, ops, i, state, next_blob, tracer):
    """One op; returns (kind, ms, output correct)."""
    k = int(ops.obj[i])
    uri = f"s3://{bucket}/obj-{k:02d}"
    if ops.write[i]:
        data = next_blob()
        t0 = time.perf_counter()
        out = mgr.create(uri)
        out.write(data)
        with tracer.span("cache.close") if tracer else contextlib.nullcontext():
            out.close()
        ms = (time.perf_counter() - t0) * 1000.0
        state["current"][k] = data
        return "write", ms, True
    off, ln = int(ops.off[i]), int(ops.len[i])
    t0 = time.perf_counter()
    s = mgr.open(uri)
    try:
        with tracer.span("cache.read_at") if tracer \
                else contextlib.nullcontext():
            got = s.read_at(off, ln)
    finally:
        s.close()
    ms = (time.perf_counter() - t0) * 1000.0
    return "read", ms, got == state["current"][k][off:off + ln]


def _layers(run, tracer, first, last, n) -> None:
    """Counts and sizes over the op window ``first``..``last`` (n ops);
    latencies over the whole run."""
    st = {k: last[0][k] - first[0][k] for k in last[0]}
    j = journal_delta(last[1], first[1])
    reads = st["total_read_requests"]
    external = (st["total_read_requests_from_write_cache"]
                + st["total_read_requests_from_remote"])
    sizes = last[2]
    run.info.update(cache_bytes=sizes, remote=j,
                    stats_delta={k: v for k, v in st.items() if v})
    lat = run.latencies_ms
    run.layers.update({
        "cache.read_requests": reads,
        "cache.data_cache_hit_ratio":
            st["total_read_requests_from_data_cache"] / max(reads, 1),
        "cache.prefetch_hit_ratio":
            st["total_read_requests_from_prefetch"] / max(reads, 1),
        "cache.remote_fetch_ratio":
            st["total_read_requests_from_remote"] / max(reads, 1),
        "cache.external_reads": external,
        "cache.write_cache_hit_ratio":
            st["total_read_requests_from_write_cache"] / max(external, 1),
        "cache.pages_bytes": sizes["pages"],
        "cache.write_cache_bytes": sizes["write-cache"],
        "cache.mirror_bytes": sizes["mirror"],
        "remote.busy_ms": j["busy_ns"] / n / 1e6,
        "fs.read_p50_ms": p50(lat["read"]),
        "fs.read_tail_ms": tail(lat["read"])[0],
        "fs.write_p50_ms": p50(lat["write"]),
        "fs.write_tail_ms": tail(lat["write"])[0],
    })
    for k in ("get", "head", "list", "put", "post", "bytes_out", "bytes_in"):
        run.layers[f"remote.{k}"] = j[k] / n
    if tracer.spans:
        for name in ("cache.open", "cache.read_at", "cache.create",
                     "cache.close"):
            run.layers[f"{name}_ms"] = (tracer.total_ms(name)
                                        / max(tracer.count(name), 1))
        traced_ops = len({s[4] for s in tracer.spans})
        for layer, ms in tracer.self_ms_by_layer().items():
            run.layers[f"{layer}.self_ms"] = ms / traced_ops
