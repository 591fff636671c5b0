#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. Each invocation is one fresh process
(and, for the Spark workloads, one fresh JVM) driving one closed-loop
client. Inputs come from ``--seed``. Every op checks its output; a
wrong output counts as a failed op. Scratch files live under
``.perfbench_work/`` and are removed on exit; a traced run leaves its
spans in ``.perfbench_out/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it carries
context that is not gated: tail percentile and sample count, per-kind
latencies, error rate, sizes, the 0 ms remote calibration.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("lake_sql", "fs_pread_mixed")

END_TO_END = {"setup_s": "s", "throughput_ops_s": "1/s", "op_p50_ms": "ms",
              "op_tail_ms": "ms", "remote_requests_per_op": "count",
              "remote_bytes_per_op": "B", "cache_bytes_per_data_byte": "ratio",
              "peak_rss_mb": "MiB"}

# name -> unit; perfbench/README.md says which end-to-end metric each
# should move, and on which workload
PER_LAYER = {
    "engine.table_ms": "ms", "engine.tables_per_op": "count",
    "engine.self_ms": "ms",
    "cache.list_files_ms": "ms", "cache.resolve_ms": "ms",
    "cache.mirror_hits": "count", "cache.mirror_fills": "count",
    "cache.fill_bytes": "B", "cache.cold_fill_ms": "ms",
    "cache.open_ms": "ms", "cache.read_at_ms": "ms",
    "cache.create_ms": "ms", "cache.close_ms": "ms",
    "cache.read_requests": "count", "cache.data_cache_hit_ratio": "ratio",
    "cache.prefetch_hit_ratio": "ratio", "cache.remote_fetch_ratio": "ratio",
    "cache.external_reads": "count", "cache.write_cache_hit_ratio": "ratio",
    "cache.pages_bytes": "B", "cache.write_cache_bytes": "B",
    "cache.mirror_bytes": "B",
    "cache.self_ms": "ms",
    "fs.read_p50_ms": "ms", "fs.read_tail_ms": "ms",
    "fs.write_p50_ms": "ms", "fs.write_tail_ms": "ms",
    "remote.get": "count", "remote.head": "count", "remote.list": "count",
    "remote.put": "count", "remote.post": "count",
    "remote.bytes_out": "B", "remote.bytes_in": "B",
    "remote.busy_ms": "ms",
    "remote.calib_get_ms": "ms", "remote.calib_put_ms": "ms",
    "spark.plan_ms": "ms", "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count", "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms", "spark.task_cpu_ratio": "ratio",
    "spark.gc_ms": "ms", "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "sources.scan_task_run_ms": "ms", "sources.scan_task_cpu_ms": "ms",
    "queries.construct_ms": "ms", "queries.construct_jobs": "count",
    "queries.action_ms": "ms", "queries.self_ms": "ms",
    "mem.driver_rss_mb": "MiB", "mem.jvm_heap_live_mb": "MiB",
    "op.self_ms": "ms", "trace.overhead_ms": "ms",
}


def _pin_env(work: str) -> None:
    """Environment every process of the run inherits: the checkout on
    PYTHONPATH (Spark's Python workers import the program from it),
    one BLAS/OpenMP thread, scratch space inside the checkout, and no
    EC2 instance-metadata lookup by the AWS SDK (off EC2 each new
    S3FileSystem waits seconds for it to time out)."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("SIDECAR_S3_STUB_LATENCY_MS", None)
    os.environ["AWS_EC2_METADATA_DISABLED"] = "true"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _end_to_end(run) -> dict:
    from perfbench.common import p50, shape_p50, shape_tail, tail

    ms = run.all_ms()
    out = {"setup_s": run.setup_once_s + statistics.median(run.setup_s),
           "throughput_ops_s": run.attempted / run.wall_s,
           "op_p50_ms": (shape_p50(run.latencies_ms) if run.by_shape
                         else p50(ms)),
           "op_tail_ms": (shape_tail(run.latencies_ms) if run.by_shape
                          else tail(ms)[0])}
    out.update(run.metrics)
    return {k: out[k] for k in END_TO_END}


def _info(run) -> dict:
    from perfbench.common import p50, tail

    info = dict(run.info)
    info["error_rate"] = run.failed / run.attempted
    info["setup_s_each"] = run.setup_s
    info["setup_once_s"] = run.setup_once_s
    _, pct, beyond = tail(run.all_ms())
    info["op_samples"] = run.attempted
    info["op_tail_pct"] = round(pct, 2)
    info["op_tail_beyond"] = beyond
    for kind, ms in run.latencies_ms.items():
        v, pct, beyond = tail(ms)
        info[f"{kind}_p50_ms"] = p50(ms)
        info[f"{kind}_tail_ms"] = v
        info[f"{kind}_tail_pct"] = round(pct, 2)
        info[f"{kind}_tail_beyond"] = beyond
        info[f"{kind}_samples"] = len(ms)
    return info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sidecar_spark")):
        print("perfbench: no sidecar_spark package next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _pin_env(work)

    from perfbench.common import Run
    from perfbench.trace import Tracer

    run, tracer = Run(), Tracer()
    try:
        if args.workload == "lake_sql":
            from perfbench import lake
            lake.run(args, run, tracer, work)
        else:
            from perfbench import fsread
            fsread.run(args, run, tracer, work)
    except Exception:  # noqa: BLE001 — report, exit non-zero, no result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(_info(run), default=str), flush=True)
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(
            out, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        split = run.by_tracing
        if split.get(True) and split.get(False):
            from perfbench.common import p50
            run.layers["trace.overhead_ms"] = (p50(split[True])
                                               - p50(split[False]))
        metrics = {k: {"value": float(run.layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                   for k, v in _end_to_end(run).items()}
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
