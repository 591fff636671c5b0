#!/usr/bin/env python
"""Driver-mimic: run every queries() entry against its oracle_sql()
via DuckDB at sf0.01 (or --sf-dir) and compare row count, column
names, and order-insensitive values — strict, like the driver's hash.

Usage: python tools/check_oracle.py [--sf-dir DIR] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def _list_columns(df: pd.DataFrame) -> list[str]:
    """Columns holding list/ndarray/dict values — the driver's hasher
    cannot hash these (CORRECTNESS_r01 `unhashable type: 'list'`), so
    the strict checker fails them outright: stringify arrays on BOTH
    the Spark and oracle side instead (to_json / array_to_string)."""
    bad = []
    for c in df.columns:
        if df[c].dtype == object:
            head = df[c].dropna().head(50)
            if head.map(lambda v: isinstance(
                    v, (list, np.ndarray, dict))).any():
                bad.append(c)
    return bad


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    import decimal

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            # unify bytes/str for stable sorting; decimals → float64
            # (DuckDB DECIMAL vs Spark double — same value class).
            # Only decimal-bearing columns get numeric coercion: a
            # string-vs-int drift must stay visible to the checker.
            has_dec = df[c].dropna().head(50).map(
                lambda v: isinstance(v, decimal.Decimal)).any()
            df[c] = df[c].map(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray))
                else (float(v) if isinstance(v, decimal.Decimal) else v))
            if has_dec:
                try:
                    df[c] = pd.to_numeric(df[c])
                except (ValueError, TypeError):
                    pass
        # width-normalize within a kind only — int-vs-float drift must
        # stay visible (the driver's hash distinguishes 3 from 3.0)
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        if str(df[c].dtype) in ("int32", "int16", "int8", "uint32",
                                "uint64", "uint16", "uint8"):
            df[c] = df[c].astype("int64")
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="first")
    return df.reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame):
    """Return (rows_match, schema_match, hash_match, reason) —
    driver-shaped fields.  Driver-strict: any list-typed output
    column and any int-vs-float dtype drift between the Spark frame
    and the oracle frame is a hash FAILURE even when the values are
    equal, because the driver's value hash sees them as different."""
    schema_ok = sorted(a.columns) == sorted(b.columns)
    if len(a) != len(b):
        # row-count failure says nothing about the schema — record
        # the column comparison truthfully so the artifact
        # distinguishes wrong-shape from wrong-cardinality results
        return (False, schema_ok, False,
                f"row count {len(a)} vs {len(b)}")
    if not schema_ok:
        return (True, False, False,
                f"columns {sorted(a.columns)} vs {sorted(b.columns)}")
    listy = sorted(set(_list_columns(a)) | set(_list_columns(b)))
    if listy:
        return True, True, False, (
            f"list-typed output columns {listy} — driver hash "
            "cannot hash lists; stringify on both sides")
    a, b = normalize(a), normalize(b)
    drift = [(c, str(a[c].dtype), str(b[c].dtype)) for c in a.columns
             if len(a) and a[c].dtype.kind != b[c].dtype.kind]
    if drift:
        return True, True, False, (
            "dtype drift (spark vs oracle, driver hash "
            f"mismatch): {drift}")
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if str(a[c].dtype) == "float64":
            ok = np.allclose(av, bv, rtol=0, atol=1e-9, equal_nan=True)
        else:
            ok = (pd.Series(av).fillna("\x00NULL") ==
                  pd.Series(bv).fillna("\x00NULL")).all()
        if not ok:
            mism = None
            for i in range(len(av)):
                x, y = av[i], bv[i]
                same = (x == y) or (pd.isna(x) and pd.isna(y))
                if not same:
                    mism = (i, x, y)
                    break
            return (True, True, False,
                    f"column {c} differs, first at row {mism}")
    return True, True, True, ""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "CORRECTNESS_local.json"),
        help="per-query artifact (driver record shape); '' disables")
    args = ap.parse_args()

    def _new_session():
        from pyspark.sql import SparkSession
        s = (SparkSession.builder.master("local[8]")
             .appName("check-oracle")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
        s.sparkContext.setLogLevel("ERROR")
        return s

    spark = _new_session()

    con = duckdb.connect()
    for tb in TABLES:
        p = os.path.join(args.sf_dir, f"{tb}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {tb} AS SELECT * FROM '{p}'")

    from sidecar_spark.queries import ORACLES, QUERIES

    only = set(args.only.split(",")) if args.only else None
    failures, no_oracle = [], []
    record = {}
    ran = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        sdf = None
        errs = []
        # retry once on a Spark-side failure: under CPU contention
        # (e.g. a concurrent pytest run) the bounded streaming guard
        # can abort a CORRECT query — a transient that must not be
        # recorded as a wrong answer (round-3 finding). BOTH attempts'
        # errors are kept: the first failure mode must stay visible.
        # a wedged streaming stop() (py4j callback breakdown) poisons
        # EVERY later streaming attempt in the session — observed as
        # back-to-back 120 s timeouts on a query that passes in a
        # fresh interpreter. When the second attempt still shows a
        # wedge signature, restart the SparkSession and try once more.
        # round-6 addition: host THREAD exhaustion ("can't start new
        # thread") poisons the session's worker pools the same way —
        # both in-session retries fail identically while a fresh
        # session (after a cooldown for the pressure spike to pass)
        # succeeds. Observed live: 4 resource-class failures in one
        # pressured run, all green on immediate re-run.
        wedge_markers = ("did not terminate within", "STREAM_FAILED",
                         "FOREACH_BATCH_USER_FUNCTION_ERROR",
                         "Error while sending a command",
                         "Py4JNetworkError",
                         "can't start new thread")
        for attempt in (0, 1, 2):
            try:
                sdf = fn(spark, args.sf_dir).toPandas()
                break
            except Exception as e:  # noqa: BLE001
                errs.append(f"attempt {attempt + 1}: {e}")
                if attempt == 1:
                    if not any(m in str(e) for m in wedge_markers):
                        break  # real failure: keep 2-attempt semantics
                    try:
                        spark.stop()
                    except Exception:  # noqa: BLE001
                        pass
                    time.sleep(10)  # let a transient pressure spike pass
                    spark = _new_session()
                    errs.append("(session restarted for attempt 3)")
        err = " | ".join(errs) if sdf is None and errs else None
        secs = round(time.time() - t0, 2)
        if sdf is None:
            failures.append(name)
            record[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": str(err)[:300],
                            "secs": secs}
            print(f"FAIL  {name}: {err}")
            continue
        if name not in ORACLES:
            no_oracle.append(name)
            record[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": len(sdf),
                            "err": None, "rows_only": True, "secs": secs}
            print(f"~     {name}: no oracle (rows-only) rows={len(sdf)} "
                  f"[{secs:.1f}s]")
            continue
        try:
            odf = con.sql(ORACLES[name]).df()
        except duckdb.OutOfMemoryException:
            # transient allocator pressure (seen once as a 16 KB OOM
            # mid-battery): one fresh connection, one retry
            con = duckdb.connect()
            for tb in TABLES:
                p = os.path.join(args.sf_dir, f"{tb}.parquet")
                if os.path.exists(p):
                    con.sql(f"CREATE VIEW {tb} AS SELECT * FROM '{p}'")
            try:
                odf = con.sql(ORACLES[name]).df()
            except Exception as e:  # noqa: BLE001
                failures.append(name)
                record[name] = {"rows_match": False,
                                "schema_match": False,
                                "hash_match": False,
                                "err": f"duckdb error: {e}"[:300],
                                "secs": secs}
                print(f"FAIL  {name}: duckdb error: {e}")
                continue
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            record[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False,
                            "err": f"duckdb error: {e}"[:300],
                            "secs": secs}
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        rows_ok, schema_ok, hash_ok, reason = compare(sdf, odf)
        ok = rows_ok and schema_ok and hash_ok
        if not ok:
            failures.append(name)
        record[name] = {"rows_match": rows_ok, "schema_match": schema_ok,
                        "hash_match": hash_ok, "spark_rows": len(sdf),
                        "oracle_rows": len(odf),
                        "err": reason[:300] if reason else None,
                        "secs": secs}
        status = "OK   " if ok else "FAIL "
        print(f"{status} {name}: rows={len(sdf)} [{secs:.1f}s] {reason}")
    if args.out and record:
        import json
        if getattr(args, "only", None) and os.path.exists(args.out):
            # an --only rerun must MERGE into the existing full record,
            # not overwrite 400+ entries with a handful (a footgun that
            # twice destroyed the round-6 record mid-round)
            try:
                with open(args.out, encoding="utf-8") as fh:
                    full = json.load(fh)
            except Exception:  # noqa: BLE001 — corrupt file: rewrite
                full = {}
            # unconditionally: a truncated existing record's entries
            # outside the rerun must survive too (round-6 advice #4)
            full.update(record)
            record = full
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        print(f"wrote {args.out} ({len(record)} queries)")
    print(f"\n{ran - len(failures)}/{ran} pass; "
          f"{len(no_oracle)} rows-only")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
