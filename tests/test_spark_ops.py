"""Spark-session tests: engine read path end-to-end and operator
physical-strategy equivalences at sf0.001 (kept small — the full
battery correctness gate is tools/check_oracle.py against DuckDB).
"""

from __future__ import annotations

import os
import tempfile

import pytest


class TestEngine:
    def test_cold_warm_tier_provenance(self, spark, sf_dir):
        from sidecar_spark import Engine, SidecarConfig
        from sidecar_spark.cache.manager import CacheManager

        CacheManager.clear_instances()
        tmp = tempfile.mkdtemp(prefix="sidecar-eng-")
        eng = Engine(spark, base_dir=sf_dir, conf=SidecarConfig.create(
            cache_dir=tmp, data_cache_type="file", cache_persistent=False))
        c1 = eng.table("lineitem").count()
        s1 = eng.cache.stats.snapshot()
        c2 = eng.table("lineitem").count()
        s2 = eng.cache.stats.snapshot()
        assert c1 == c2 > 0
        assert s1["total_read_requests_from_remote"] > 0
        assert s2["total_read_requests_from_data_cache"] > 0
        # byte-level API over the same cache
        st = eng.cache.open(os.path.join(sf_dir, "lineitem.parquet"))
        assert st.read_at(0, 4) == b"PAR1"
        eng.close()

    def test_write_then_read_back(self, spark, sf_dir):
        from sidecar_spark import Engine, SidecarConfig
        from sidecar_spark.cache.manager import CacheManager

        CacheManager.clear_instances()
        tmp = tempfile.mkdtemp(prefix="sidecar-eng-")
        eng = Engine(spark, base_dir=sf_dir, conf=SidecarConfig.create(
            cache_dir=tmp, data_cache_type="file", cache_persistent=False))
        out = tempfile.mkdtemp(prefix="sidecar-out-") + "/t"
        eng.write(eng.table("region"), out)
        assert eng.read_parquet(out).count() == eng.table("region").count()
        eng.close()


class TestOperatorEquivalence:
    def test_near_dup_blocked_equals_broadcast(self, spark, sf_dir):
        """The 100 TB blocked-GEMM plan and the broadcast plan are the
        same operator: identical pair sets on the same input."""
        from sidecar_spark.functions.similarity import cosine_near_dup_pairs

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        bc = cosine_near_dup_pairs(emb, threshold=0.3)
        blk = cosine_near_dup_pairs(emb, threshold=0.3, broadcast_threshold=10)
        ra = sorted(map(tuple, bc.collect()))
        rb = sorted(map(tuple, blk.collect()))
        assert ra == rb

    def test_salted_join_equals_plain(self, spark, sf_dir):
        from sidecar_spark.queries import QUERIES

        salted = QUERIES["skew_salted_join"](spark, sf_dir)
        from pyspark.sql import functions as F
        from sidecar_spark.queries.registry import t

        e = t(spark, sf_dir, "events")
        c = t(spark, sf_dir, "customer")
        plain = (e.join(c, e.user_id == c.c_custkey)
                 .groupBy("c_mktsegment")
                 .agg(F.count(F.lit(1)).alias("n_events"),
                      F.round(F.sum("value"), 2).alias("sum_value")))
        assert sorted(map(tuple, salted.collect())) == \
            sorted(map(tuple, plain.collect()))


    def test_sql_text_builders_equal_column_builders(self, spark, sf_dir):
        """The SQL-text twins (one JVM-side parse, used on the hot
        path) must produce bit-identical shingle hashes, signatures,
        and band hashes to the Column-API builders."""
        from pyspark.sql import functions as F

        import sidecar_spark.functions.dedup as D

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        col_side = docs.select(
            "doc_id",
            D.shingle_hashes(D.shingles(F.col("text"), 3)).alias("sh"),
        ).withColumn(
            "sig", D.minhash_signature_from_hashes(F.col("sh"), 16)
        ).withColumn("bands", D.band_hashes(F.col("sig"), 4, 4))
        sql_side = docs.selectExpr(
            "doc_id",
            f"{D.shingle_hashes_sql(D.shingles_sql('text', 3))} AS sh",
        ).selectExpr(
            "doc_id", "sh", f"{D.minhash_signature_sql('sh', 16)} AS sig",
        ).selectExpr(
            "doc_id", "sh", "sig", f"{D.band_hashes_sql('sig', 4, 4)} AS bands",
        )
        a = {r["doc_id"]: (list(r["sh"]), list(r["sig"]), list(r["bands"]))
             for r in col_side.collect()}
        b = {r["doc_id"]: (list(r["sh"]), list(r["sig"]), list(r["bands"]))
             for r in sql_side.collect()}
        assert a == b


class TestApproximateAggregates:
    """The sketch-based family can't hash-match a DuckDB oracle (HLL /
    KLL internals differ per engine), so it is verified here against
    its exact counterpart within the algorithms' error bounds — the
    100 TB substitutes for countDistinct and exact percentile."""

    def test_approx_count_distinct_within_rsd(self, spark, sf_dir):
        from pyspark.sql import functions as F

        o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        row = o.agg(
            F.countDistinct("o_custkey").alias("exact"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        ).first()
        assert abs(row["approx"] - row["exact"]) <= max(3, 0.06 * row["exact"])

    def test_approx_percentile_within_accuracy(self, spark, sf_dir):
        from pyspark.sql import functions as F

        o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        row = o.agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("exact"),
            F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("approx"),
        ).first()
        assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.01


class TestDriverContract:
    def test_entry_smoke(self, spark):
        import __spark_entry__ as e

        rows = e.entry(spark).collect()
        assert len(rows) > 0

    def test_contract_shape(self):
        import __spark_entry__ as e

        qs = e.queries()
        oracles = e.oracle_sql()
        assert len(qs) >= 60
        assert set(oracles) <= set(qs)
        missing = set(qs) - set(oracles)
        assert not missing, f"rows-only entries present: {missing}"


class TestConnectedComponents:
    def test_chain_transitivity(self, spark):
        """A~B, B~C, C~D must collapse into one cluster labeled by the
        minimum id, even though A~C, A~D, B~D are never edges — the
        propagation needs multiple rounds on this diameter-3 chain."""
        from sidecar_spark.functions.dedup import connected_components_star

        nodes = spark.createDataFrame(
            [(i,) for i in range(1, 8)], "doc_id long")
        edges = spark.createDataFrame(
            [(1, 3), (3, 5), (5, 7), (2, 4)], "doc_a long, doc_b long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components_star(edges, nodes).collect()}
        assert got == {1: 1, 3: 1, 5: 1, 7: 1, 2: 2, 4: 2, 6: 6}

    def test_deep_chain_converges_in_log_rounds(self, spark):
        """A 20-hop chain component (diameter 20) must converge well
        inside the iteration budget: large-star/small-star halves star
        depth per round (Kiveris et al. SoCC'14), so max_iter=8 ≪ 20
        suffices where plain min-label propagation would need 20
        rounds. Also pins a 200-node star and a singleton."""
        from sidecar_spark.functions.dedup import connected_components_star

        chain = [(i, i + 1) for i in range(100, 120)]       # 21 nodes
        star = [(500, 500 + i) for i in range(1, 200)]      # 200 nodes
        node_ids = sorted({n for e in chain + star for n in e} | {999})
        nodes = spark.createDataFrame([(i,) for i in node_ids],
                                      "doc_id long")
        edges = spark.createDataFrame(chain + star,
                                      "doc_a long, doc_b long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components_star(
                   edges, nodes, max_iter=8).collect()}
        assert all(got[i] == 100 for i in range(100, 121))
        assert all(got[500 + i] == 500 for i in range(200))
        assert got[999] == 999

    def test_import_without_session(self):
        """The query battery must import with no active SparkContext —
        the driver may call queries() before building its session."""
        import subprocess
        import sys

        r = subprocess.run(
            [sys.executable, "-c",
             "import sidecar_spark.queries as q; print(len(q.QUERIES))"],
            capture_output=True, text=True, cwd="/root/repo")
        assert r.returncode == 0, r.stderr
        assert int(r.stdout.strip()) >= 80


class TestObservability:
    def test_observation_metrics_on_battery_query(self, spark, sf_dir):
        """`Observation` attaches accumulator-style metrics to a
        DataFrame action — the per-query observable surface that
        mirrors the reference's Statistics counters on the relational
        side (rows seen, bytes-ish volume) without a second pass."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation("lineitem_scan")
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        observed = li.observe(
            obs,
            F.count(F.lit(1)).alias("rows_seen"),
            F.sum("l_quantity").alias("qty_total"))
        out = observed.groupBy("l_returnflag").count().collect()
        assert len(out) > 0
        m = obs.get
        assert m["rows_seen"] == li.count()
        assert m["qty_total"] > 0

    def test_observed_metrics_wait_is_bounded(self, spark):
        """A metric that never lands (the observed DataFrame runs no
        action) raises TimeoutError after the bound instead of
        blocking forever; a dataset that ran returns its metrics."""
        import time

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from sidecar_spark.functions.dedup import observed_metrics

        lost = Observation()
        spark.range(3).observe(lost, F.count(F.lit(1)).alias("n"))
        t0 = time.monotonic()
        with pytest.raises(TimeoutError):
            observed_metrics(lost, timeout_s=0.5)
        assert time.monotonic() - t0 < 10
        ran = Observation()
        spark.range(3).observe(ran, F.count(F.lit(1)).alias("n")).collect()
        assert observed_metrics(ran, timeout_s=60) == {"n": 3}

    def test_python_datasource_batch_and_stream_agree(self, spark, sf_dir):
        """The telemetry connector's batch reader and stream reader
        must describe the same feed: identical totals either way."""
        from sidecar_spark.sources.pyds import TelemetrySource

        try:
            spark.dataSource.register(TelemetrySource)
        except Exception:
            pass
        batch = (spark.read.format("sidecar_telemetry")
                 .option("rows", 5000).load())
        got = batch.agg({"metric": "sum"}).collect()[0][0]
        expected = sum((i * 2654435761) % 1000 for i in range(5000))
        assert got == expected


class TestChainedStatefulStreaming:
    def test_two_pass_flush_obeys_watermark_cutoff(self, spark, tmp_path):
        """Chained stateful ops (stream-stream join → windowed agg,
        append mode): the first availableNow pass ingests the backlog
        and advances the watermark; the second pass's no-data batch
        flushes finalized windows. Emission cutoff is the global
        watermark MINUS the join's event-time slack on the aggregated
        column (watermark propagation): here ts may trail ts2 by up
        to 12 s, so windows finalize at wm − 12 s — pinned with a
        synthetic stream whose last windows straddle that cutoff.
        (When the join condition makes the aggregated timestamp ≥ the
        other side's, the slack is zero and the cutoff is the global
        watermark itself — the battery query's contract.)"""
        import pyspark.sql.functions as F

        from sidecar_spark.streaming import run_append_two_pass

        src = str(tmp_path / "src")
        (spark.range(200)
         .select(F.col("id"),
                 F.timestamp_micros(
                     (F.lit(1700000000_000000)
                      + F.col("id") * 1_000_000).cast("long")).alias("ts"),
                 (F.col("id") % 5).alias("k"))
         .write.mode("overwrite").parquet(src))

        def build():
            s1 = (spark.readStream.schema("id long, ts timestamp, k long")
                  .parquet(src).withWatermark("ts", "10 seconds"))
            s2 = (spark.readStream.schema("id long, ts timestamp, k long")
                  .parquet(src)
                  .select(F.col("k").alias("k2"), F.col("ts").alias("ts2"),
                          F.col("id").alias("id2"))
                  .withWatermark("ts2", "10 seconds"))
            joined = s1.join(s2, F.expr(
                "k = k2 AND ts2 BETWEEN ts AND ts + INTERVAL 12 SECONDS "
                "AND id2 > id"))
            return (joined.groupBy(F.window("ts", "30 seconds"), "k")
                    .agg(F.count(F.lit(1)).alias("cnt")))

        res = run_append_two_pass(spark, build, "test-chain")
        # data spans [t0, t0+199 s]; global wm = t0+189; ts may trail
        # ts2 by 12 s → agg cutoff = t0+177. Epoch-aligned 30 s
        # windows end at t0+10, +40, …; ends ≤ 177 → 6 windows × 5
        # keys = 30 rows, last emitted end t0+160 (+190 is withheld
        # even though it is ≤ the global wm+1 — the propagation
        # subtraction is observable).
        assert res.count() == 30
        max_end = res.agg(
            F.max(F.col("window.end").cast("long"))).collect()[0][0]
        assert max_end == 1700000000 + 160


class TestTransformWithState:
    def test_user_acc_matches_batch_groundtruth(self, spark):
        """The stream_transform_with_state operator (StatefulProcessor
        when protobuf is importable, applyInPandasWithState fallback
        otherwise — the seam contract in streaming/ops.py::
        transform_with_state_user_acc) must reproduce the batch
        per-user aggregates exactly."""
        import pyspark.sql.functions as F

        from sidecar_spark.queries import QUERIES
        from sidecar_spark.streaming.ops import tws_available

        sf = "/root/testdata/sf0.001"
        res = {r["user_id"]: r for r in
               QUERIES["stream_transform_with_state"](spark, sf).collect()}
        batch = spark.read.parquet(f"{sf}/events.parquet").groupBy(
            "user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.sum("value"), 4).alias("total_value")).collect()
        assert len(res) == len(batch) > 0
        for row in batch:
            got = res[row["user_id"]]
            assert got["n_events"] == row["n_events"]
            assert got["n_types"] == row["n_types"]
            assert abs(got["total_value"] - row["total_value"]) < 1e-6
        # record which path ran so a protobuf-equipped env exercises
        # the real StatefulProcessor and this env the fallback
        assert isinstance(tws_available(), bool)

    def test_tws_path_requires_protobuf(self):
        """tws_available() must be False exactly when google.protobuf
        is missing (this container) and never raise."""
        import importlib.util

        from sidecar_spark.streaming.ops import tws_available
        try:
            has = importlib.util.find_spec("google.protobuf") is not None
        except ModuleNotFoundError:
            has = False
        assert tws_available() == has


class TestEngineOverObjectStore:
    def test_engine_sql_over_s3_base_dir(self, spark, sf_dir):
        """The reference's deployment scenario at Engine level: the
        base_dir is an s3:// location (localhost S3-dialect endpoint),
        tables resolve through the cache mirror, and a SQL join/agg
        over the registered views equals the same query on the local
        originals — the full 'switch fs.s3a.impl and keep your
        queries' contract."""
        import shutil

        from sidecar_spark import Engine, SidecarConfig
        from sidecar_spark.cache.fs import RemoteFS
        from sidecar_spark.cache.manager import CacheManager
        from sidecar_spark.testing.s3server import S3StubServer

        CacheManager.clear_instances()
        tmp = tempfile.mkdtemp(prefix="sidecar-engs3-")
        with S3StubServer() as srv:
            os.environ["SIDECAR_S3_ENDPOINT"] = srv.endpoint
            try:
                fs, _ = RemoteFS.from_uri("s3://lake2")
                for tbl in ("nation", "region"):
                    with open(os.path.join(sf_dir, f"{tbl}.parquet"),
                              "rb") as f:
                        fs.write_all(
                            f"s3://lake2/{tbl}.parquet/part-0.parquet",
                            f.read())
                eng = Engine(spark, base_dir="s3://lake2",
                             conf=SidecarConfig.create(
                                 cache_dir=os.path.join(tmp, "cache"),
                                 data_cache_type="file",
                                 cache_persistent=False))
                eng.register("nation")
                eng.register("region")
                got = eng.sql("""
                    SELECT r_name, count(*) AS n
                    FROM nation JOIN region ON n_regionkey = r_regionkey
                    GROUP BY r_name ORDER BY r_name
                """).collect()
                nat = spark.read.parquet(
                    os.path.join(sf_dir, "nation.parquet"))
                reg = spark.read.parquet(
                    os.path.join(sf_dir, "region.parquet"))
                nat.createOrReplaceTempView("nat_l")
                reg.createOrReplaceTempView("reg_l")
                want = spark.sql("""
                    SELECT r_name, count(*) AS n
                    FROM nat_l JOIN reg_l ON n_regionkey = r_regionkey
                    GROUP BY r_name ORDER BY r_name
                """).collect()
                assert [tuple(r) for r in got] == [tuple(r) for r in want]
                # provenance: the mirror served the bytes locally
                assert eng.cache.stats.get(
                    "total_read_requests_from_remote") > 0
                eng.close()
            finally:
                os.environ.pop("SIDECAR_S3_ENDPOINT", None)
                shutil.rmtree(tmp, ignore_errors=True)


class TestContainmentPairs:
    def test_subset_doc_has_containment_one(self, spark):
        """A document fully embedded in a longer one must surface with
        containment 1.0 even though its Jaccard is diluted below any
        symmetric threshold."""
        from sidecar_spark.functions.dedup import containment_pairs

        small = "alpha beta gamma delta epsilon"
        big = small + " " + " ".join(f"filler{i} word{i} tok{i}"
                                     for i in range(30))
        other = "totally unrelated content about nothing shared here"
        df = spark.createDataFrame(
            [(1, small), (2, big), (3, other)], "doc_id long, text string")
        rows = {(r["doc_a"], r["doc_b"]): r
                for r in containment_pairs(df, threshold=0.7).collect()}
        assert (1, 2) in rows
        r = rows[(1, 2)]
        assert r["contain_a_in_b"] == 1.0       # small fully inside big
        assert r["jaccard"] < 0.7               # symmetric metric misses it
        assert len(rows) == 1                   # no pair with doc 3

    def test_identical_docs_both_directions_one(self, spark):
        from sidecar_spark.functions.dedup import containment_pairs

        txt = "one two three four five six seven eight"
        df = spark.createDataFrame(
            [(1, txt), (2, txt)], "doc_id long, text string")
        [r] = containment_pairs(df, threshold=0.7).collect()
        assert r["contain_a_in_b"] == r["contain_b_in_a"] == 1.0
        assert r["jaccard"] == 1.0
