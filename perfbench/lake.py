"""``lake_sql``: TPC-H-shaped SQL over ``s3://``.

One op resolves the tables a query reads through ``Engine`` (each
``register`` is an ``Engine.table``), runs the query and collects it.
Every 10th op an untimed external writer first republishes one
``lineitem`` object: same bytes, a newer version.

Two shapes are not plain driver-mode SQL. ``q6x`` is Q6 through a
second ``Engine`` with ``resolve_mode="executor"``: its scan tasks
resolve and decode through the program's Python DataSources
(``sources/``), so ``q6x`` against ``q6`` isolates that read path.
``bloom`` runs one battery entry (``BATTERY``), ``QUERIES[name](spark,
dir)`` over the same seeded tables on local disk, checked against the
entry's DuckDB oracle: it puts the ``queries`` and ``functions`` layers
under load and skips the cache.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import datagen
from perfbench.common import (closed_loop, dir_listing, jvm_heap_live_mb,
                              jvm_pid, peak_rss_mb, spark_session, stop_jvm)
from perfbench.remote import KINDS, Remote, calibrate, journal_delta
from perfbench.trace import plan_ms, read_event_log

ORDERS = 150_000         # TPC-H sf0.1: ~600k lineitem rows, ~12.7 MB
SPLIT = {"lineitem": 8, "orders": 8}
LATENCY_MS = 5.0
SETUPS = 2               # set-ups per run; setup_s takes their median
REPUBLISH_EVERY = 10
# the op in each ten that follows a republish: early, so that even a
# short run has one
REPUBLISH_AT = 4
# battery shape -> QUERIES entry; it reads orders and lineitem and
# builds its bloom buckets with functions.dedup.hash60
BATTERY = {"bloom": "bloom_prefilter_join"}

SQL = {
    "q1": """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        sum(l_extendedprice) AS sum_base_price,
        sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
        avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price,
        avg(l_discount) AS avg_disc, count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= date '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""",
    "q3": """SELECT l_orderkey,
        sum(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey AND o_orderdate < date '1995-03-15'
          AND l_shipdate > date '1995-03-15'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "q4": """SELECT o_orderpriority, count(*) AS order_count FROM orders
        WHERE o_orderdate >= date '1993-07-01'
          AND o_orderdate < date '1993-10-01'
          AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
                      AND l_shipdate > date_add(o_orderdate, 30))
        GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q5": """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA' AND o_orderdate >= date '1994-01-01'
          AND o_orderdate < date '1995-01-01'
        GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q6": """SELECT sum(l_extendedprice * l_discount) AS revenue FROM lineitem
        WHERE l_shipdate >= date '1994-01-01' AND l_shipdate < date '1995-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
}
SQL["q6x"] = SQL["q6"]
READS = {"q1": ("lineitem",), "q3": ("customer", "orders", "lineitem"),
         "q4": ("orders", "lineitem"),
         "q5": ("customer", "orders", "lineitem", "supplier", "nation",
                "region"),
         "q6": ("lineitem",), "q6x": ("lineitem",)}
MIX = ("q1", "q3", "q4", "q5", "q6", "q6x", "bloom")
# resolve mode of the Engine each SQL shape registers its tables through
MODE = dict.fromkeys(SQL, "driver") | {"q6x": "executor"}
CACHE_METHODS = ("get_file_status", "list_files", "maybe_list_files_job",
                 "resolve_for_spark", "cold_admitted_bytes",
                 "warm_distributed")


def same_rows(got, want) -> bool:
    """Row lists equal; floats within 1e-9 relative (the 8-object split
    changes summation order)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True


def cost_per_op(costs, cost) -> float:
    """Remote cost per op at the workload's republish rate: the mean
    over shapes of an ordinary op's cost, plus the refill ops' extra
    cost (one refill op per resolve mode and republish) spread over the
    ``REPUBLISH_EVERY`` ops a republish stands for. A run holds only a
    few dozen ops, so a plain total over ops would move with how many
    ops and republishes fit in it."""
    base = {}
    for q, refill, c in costs:
        if not refill:
            base.setdefault(q, []).append(cost(c))
    base = {q: statistics.fmean(v) for q, v in base.items()}
    extra = [cost(c) - base.get(q, 0.0) for q, refill, c in costs if refill]
    return (statistics.fmean(base.values())
            + statistics.fmean(extra or [0.0]) * len(set(MODE.values()))
            / REPUBLISH_EVERY)


def run(args, run, tracer, work: str) -> None:
    from sidecar_spark import Engine
    from sidecar_spark.cache.manager import CacheManager
    from sidecar_spark.config import SidecarConfig

    parts = {t: datagen.parquet_parts(tb, SPLIT.get(t, 1))
             for t, tb in datagen.tables(args.seed, ORDERS).items()}
    data_bytes = sum(len(p) for ps in parts.values() for p in ps)
    local = os.path.join(work, "local")
    for t, ps in parts.items():
        os.makedirs(os.path.join(local, f"{t}.parquet"))
        for i, p in enumerate(ps):
            with open(os.path.join(local, f"{t}.parquet",
                                   f"part-{i:04d}.parquet"), "wb") as f:
                f.write(p)
    run.info.update(data_bytes=data_bytes, mirror_bytes_cap=2 * data_bytes,
                    latency_ms=LATENCY_MS, nproc=os.cpu_count())

    with Remote(LATENCY_MS) as remote:
        # Python workers inherit the JVM's environment: set it first
        os.environ["SIDECAR_S3_ENDPOINT"] = remote.endpoint
        run.layers.update(calibrate(remote))
        t0 = time.perf_counter()
        spark = spark_session(work, event_log=args.trace)
        run.setup_once_s = time.perf_counter() - t0
        try:
            _measure(args, run, tracer, work, remote, spark, parts,
                     data_bytes, Engine, CacheManager, SidecarConfig)
        finally:
            CacheManager.clear_instances()
            stop_jvm(spark)


def _oracle(name: str, local: str):
    """The battery entry's DuckDB oracle over the local tables."""
    import duckdb

    from sidecar_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in os.listdir(local):
            con.sql(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM "
                    f"read_parquet('{local}/{t}/*.parquet')")
        return con.sql(ORACLES[name]).df()
    finally:
        con.close()


def _battery_ok(df, rows, want) -> bool:
    """``tools/check_oracle.compare``, except that a float column may
    differ by one cent: the oracle rounds a float sum to cents, and
    where the sum sits on a half cent its rounding follows the
    summation order, which follows Spark's partitioning (seed 14 at
    ``local[3]``: 166229293.23 vs 166229293.22)."""
    import pandas as pd

    from tools.check_oracle import compare, normalize

    got = pd.DataFrame.from_records([tuple(r) for r in rows],
                                    columns=df.columns)
    if compare(got, want)[2]:
        return True
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns) or len(g) != len(w):
        return False
    return all(np.allclose(g[c], w[c], rtol=0, atol=0.0100001)
               if g[c].dtype.kind == "f" else (g[c] == w[c]).all()
               for c in g.columns)


def _nospan(name):
    return contextlib.nullcontext()


def _measure(args, run, tracer, work, remote, spark, parts,
             data_bytes, Engine, CacheManager, SidecarConfig) -> None:
    from sidecar_spark.queries import QUERIES

    # expected results: plain Spark over the same bytes on local disk;
    # a battery entry's DuckDB oracle over them
    local = os.path.join(work, "local")
    modes = sorted(set(MODE.values()))
    for t in parts:
        spark.read.parquet(os.path.join(local, f"{t}.parquet")) \
            .createOrReplaceTempView(t)
    expected = {q: spark.sql(SQL[q]).collect() for q in MIX
                if q in SQL and q != "q6x"}
    expected["q6x"] = expected["q6"]
    oracle = {q: _oracle(BATTERY[q], local) for q in MIX if q in BATTERY}
    sc = spark.sparkContext

    def shape(q: str, span=_nospan):
        """One op of shape ``q``: (result is right, DataFrame, jobs run
        while the battery entry was being built)."""
        if q in BATTERY:
            group = sc.getLocalProperty("spark.jobGroup.id")
            before = len(sc.statusTracker().getJobIdsForGroup(group))
            with span("queries.construct"):
                df = QUERIES[BATTERY[q]](spark, local)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group)) - before
            with span("queries.action"):
                rows = df.collect()
            return _battery_ok(df, rows, oracle[q]), df, jobs
        for t in READS[q]:
            engines[MODE[q]].register(t)
        df = spark.sql(SQL[q])
        return same_rows(df.collect(), expected[q]), df, 0

    fills = []
    engines = {}
    for rep in range(SETUPS):
        if engines:
            for e in engines.values():
                e.close()
            CacheManager.clear_instances()
            shutil.rmtree(cache_dir, ignore_errors=True)
        t0 = time.perf_counter()
        bucket = f"lake{rep}"
        for t, ps in parts.items():
            for i, p in enumerate(ps):
                remote.put(bucket, f"sf/{t}.parquet/part-{i:04d}.parquet", p)
        cache_dir = os.path.join(work, f"cache{rep}")
        # one Engine, and one cache directory, per resolve mode
        engines = {m: Engine(spark, base_dir=f"s3://{bucket}/sf",
                             conf=SidecarConfig.create(
                                 cache_dir=os.path.join(cache_dir, m),
                                 data_cache_type="file",
                                 cache_persistent=False,
                                 mirror_size=2 * data_bytes,
                                 resolve_mode=m))
                   for m in modes}
        eng = engines["driver"]
        t1 = time.perf_counter()
        for t in parts:
            eng.register(t)
        engines["executor"].register("lineitem")
        fills.append((time.perf_counter() - t1) * 1000.0)
        sc.setJobGroup("warmup", "warmup")
        for q in MIX:  # warm-up: every shape once
            if not shape(q)[0]:
                raise RuntimeError(f"warm-up {q}: wrong result")
        run.setup_s.append(time.perf_counter() - t0)
    run.layers["cache.cold_fill_ms"] = float(np.median(fills))

    if args.trace:
        for e in engines.values():
            tracer.wrap(e, "engine", ("table",))
            tracer.wrap(e.cache, "cache",
                        [m for m in CACHE_METHODS if hasattr(e.cache, m)])

    def mirrors() -> dict:
        return {p: n for m in modes for p, n in
                dir_listing(os.path.join(cache_dir, m, "mirror")).items()}
    # lineitem objects in turn: all about the same size, so a refill
    # moves the same bytes whichever object it is
    republish = SPLIT["lineitem"]
    per_op = []   # traced ops, one dict each
    costs = []    # every op: (shape, follows a republish, journal delta)
    seen = dict.fromkeys(MIX, 0)
    j0 = last = remote.journal()
    s0 = eng.cache.stats.snapshot()
    run.by_shape = True

    run.info["op_ms"] = []  # (shape, ms) of every op, in order
    refills = []  # (shape, ms) of refill ops
    pending = set()  # resolve modes whose cache no op has refilled yet

    def cache_sizes() -> dict:
        """Bytes per tier, both Engines' caches together."""
        return {d: sum(sum(dir_listing(os.path.join(cache_dir, m, d))
                           .values()) for m in modes)
                for d in ("mirror", "pages", "write-cache")}
    # taken after the first ten ops, so every run has seen exactly one
    # refill (or at the end of a shorter run)
    sizes = {}

    def op(i: int) -> None:
        nonlocal last, pending
        if i % REPUBLISH_EVERY == REPUBLISH_AT:
            k = (i // REPUBLISH_EVERY) % republish
            remote.put(bucket, f"sf/lineitem.parquet/part-{k:04d}.parquet",
                       parts["lineitem"][k])
            pending = set(modes)
        # the shapes in one fixed order: an op's time depends on the op
        # before it (the garbage it left, the views it replaced; bloom
        # after q1 took 1.0-1.3 s, else 0.5-0.7 s), so a seeded order
        # moved each shape's median from run to run
        q = MIX[i % len(MIX)]
        # a refill op: the first one after the republish that reads
        # lineitem through its mode's cache
        refill = MODE.get(q) in pending and "lineitem" in READS[q]
        if refill:
            pending.discard(MODE[q])
        # every other op of each shape is traced, starting with the
        # first: traced and untraced ops see the same shape mix, and a
        # short run still traces every shape
        traced = bool(args.trace) and seen[q] % 2 == 0
        seen[q] += 1
        sc.setJobGroup(f"op{i}", q)
        if traced:
            tracer.op = i
            jb, mb = remote.journal(), mirrors()
        else:
            tracer.op = None
        t0 = time.perf_counter()
        with tracer.span("op.query") if traced else contextlib.nullcontext():
            ok, df, jobs = shape(q, tracer.span if traced else _nospan)
        ms = (time.perf_counter() - t0) * 1000.0
        run.record(q, ms, ok, traced if args.trace else None)
        run.info["op_ms"].append((q, round(ms, 1)))
        if refill:
            refills.append((q, ms))
        now = remote.journal()
        costs.append((q, refill, journal_delta(now, last)))
        last = now
        if i == REPUBLISH_EVERY - 1:
            sizes.update(cache_sizes())
        if traced:
            ma = mirrors()
            new = [p for p in ma if p not in mb]
            per_op.append({
                "group": f"op{i}", "battery": q in BATTERY,
                "remote": journal_delta(remote.journal(), jb),
                "fills": len(new), "fill_bytes": sum(ma[p] for p in new),
                "files": sum(len(parts[t]) for t in READS.get(q, ())),
                "plan_ms": plan_ms(df), "construct_jobs": jobs})

    run.wall_s = closed_loop(args.seconds, op, block=len(MIX))
    sc.setJobGroup("idle", "idle")
    j = journal_delta(remote.journal(), j0)
    run.metrics["peak_rss_mb"] = peak_rss_mb(jvm_pid())
    run.layers.update({"mem.driver_rss_mb": peak_rss_mb(),
                       "mem.jvm_heap_live_mb": jvm_heap_live_mb(spark)})
    run.info["remote"] = j
    # what a republish adds: each refill op over its shape's median
    run.info["refill_op_over_shape_p50"] = [
        round(ms / statistics.median(run.latencies_ms[q]), 3)
        for q, ms in refills]
    # live for the driver-mode Engine only: executor-mode reads count
    # in the Python workers
    s1 = eng.cache.stats.snapshot()
    run.info["stats_delta"] = {k: s1[k] - s0[k] for k in s1
                               if s1[k] != s0[k]}
    sizes = sizes or cache_sizes()
    run.info["cache_bytes"] = sizes
    run.metrics.update(
        remote_requests_per_op=cost_per_op(
            costs, lambda c: sum(c[k] for k in KINDS)),
        remote_bytes_per_op=cost_per_op(
            costs, lambda c: c["bytes_out"] + c["bytes_in"]),
        cache_bytes_per_data_byte=sum(sizes.values()) / data_bytes)
    run.layers.update({"cache.mirror_bytes": sizes["mirror"],
                       "cache.pages_bytes": sizes["pages"],
                       "cache.write_cache_bytes": sizes["write-cache"]})
    if not args.trace:
        for e in engines.values():
            e.close()
        return

    n = len(per_op)
    ids = {int(p["group"][2:]) for p in per_op}
    bat = {int(p["group"][2:]) for p in per_op if p["battery"]}
    nb = max(len(bat), 1)

    def mean(key, sub=None):
        return sum(p[key] if sub is None else p[key][sub]
                   for p in per_op) / n
    for k in ("get", "head", "list", "put", "post", "bytes_out", "bytes_in"):
        run.layers[f"remote.{k}"] = mean("remote", k)
    run.layers["remote.busy_ms"] = mean("remote", "busy_ns") / 1e6
    run.layers.update({
        "engine.table_ms": tracer.total_ms("engine.table", ids) / n,
        "engine.tables_per_op": tracer.count("engine.table", ids) / n,
        "cache.list_files_ms": tracer.total_ms("cache.list_files", ids) / n,
        "cache.resolve_ms": tracer.total_ms("cache.resolve_for_spark",
                                            ids) / n,
        "cache.mirror_fills": mean("fills"),
        "cache.fill_bytes": mean("fill_bytes"),
        "cache.mirror_hits": mean("files") - mean("fills"),
        "spark.plan_ms": mean("plan_ms"),
        # per battery op, not per op
        "queries.construct_ms": tracer.total_ms("queries.construct",
                                                bat) / nb,
        "queries.action_ms": tracer.total_ms("queries.action", bat) / nb,
        "queries.construct_jobs": sum(p["construct_jobs"]
                                      for p in per_op) / nb,
    })
    for e in engines.values():
        e.close()
    spark.stop()  # flushes the event log
    groups = read_event_log(os.path.join(work, "eventlog"))
    g = [groups.get(p["group"], {}) for p in per_op]

    def tot(k):
        return sum(x.get(k, 0) for x in g)
    run.layers.update({
        "spark.jobs_per_op": tot("jobs") / n,
        "spark.tasks_per_op": tot("tasks") / n,
        "spark.task_run_ms": tot("run_ms") / n,
        "spark.task_cpu_ms": tot("cpu_ms") / n,
        "spark.task_cpu_ratio": tot("cpu_ms") / max(tot("run_ms"), 1e-9),
        "spark.gc_ms": tot("gc_ms") / n,
        "spark.shuffle_bytes": tot("shuffle_bytes") / n,
        "spark.spill_bytes": tot("spill_bytes") / n,
        "sources.scan_task_run_ms": tot("py_run_ms") / n,
        "sources.scan_task_cpu_ms": tot("py_cpu_ms") / n,
    })
    for layer, ms in tracer.self_ms_by_layer(ids).items():
        run.layers[f"{layer}.self_ms"] = ms / n
