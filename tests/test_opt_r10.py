"""Round-10 optimization pins: value-identity of the evaluation-count
rewrites (let1 binding in the shingle family; bound-attribute gram
construction).  These changes are pure plumbing — every test asserts
byte-identical values against the naive unbound construction."""

import os

import pytest
from pyspark.sql import functions as F

import sidecar_spark.functions.dedup as D


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


class TestLet1Binding:
    def test_let1_value_identity(self, spark):
        df = spark.createDataFrame(
            [("a b c d",), ("",), (None,), ("x",)], "t string")
        bound = df.select(
            D.let1(F.split(F.col("t"), " "),
                   lambda w: F.size(w) + F.size(w)).alias("v"))
        plain = df.select(
            (F.size(F.split(F.col("t"), " "))
             + F.size(F.split(F.col("t"), " "))).alias("v"))
        assert [r["v"] for r in bound.collect()] == \
            [r["v"] for r in plain.collect()]

    def test_shingles_match_unbound_reference(self, docs):
        """let1-bound shingles == the naive (unbound) construction."""
        def unbound_shingles(col, k=3):
            from sidecar_spark.functions.text import normalized_text, words
            ws = words(normalized_text(col))
            n = F.size(ws)
            acc = ws
            for shift in range(1, k):
                shifted = F.slice(ws, shift + 1,
                                  F.greatest(n - shift, F.lit(0)))
                acc = F.zip_with(acc, shifted,
                                 lambda a, b: F.concat_ws(" ", a, b))
            full = F.slice(acc, 1, F.greatest(n - (k - 1), F.lit(0)))
            return F.when(
                n < k,
                F.array_distinct(F.array(F.concat_ws(" ", ws)))
            ).otherwise(F.array_distinct(full))

        got = {r["doc_id"]: list(r["sh"]) for r in docs.select(
            "doc_id", D.shingles(F.col("text"), 3).alias("sh")).collect()}
        want = {r["doc_id"]: list(r["sh"]) for r in docs.select(
            "doc_id", unbound_shingles(F.col("text"), 3).alias("sh"))
            .collect()}
        assert got == want

    def test_shingles_sql_matches_column(self, docs):
        a = {r["doc_id"]: list(r["sh"]) for r in docs.select(
            "doc_id", D.shingles(F.col("text"), 3).alias("sh")).collect()}
        b = {r["doc_id"]: list(r["sh"]) for r in docs.selectExpr(
            "doc_id", f"{D.shingles_sql('text', 3)} AS sh").collect()}
        assert a == b

    def test_shingles_seq_keeps_order_and_duplicates(self, spark):
        df = spark.createDataFrame(
            [("a b a b a b",), ("one two",)], "t string")
        rows = df.select(
            D.shingles_seq(F.col("t"), 3).alias("s")).collect()
        assert list(rows[0]["s"]) == ["a b a", "b a b", "a b a", "b a b"]
        assert list(rows[1]["s"]) == ["one two"]


class TestConnectedComponentsGate:
    """The round-10 fixpoint gate (count+xor signature, one-directional
    exceptAll on signature match) must yield the exact same components
    as before — min-id labels over chains, cliques, isolated nodes."""

    def test_components_chain_clique_isolated(self, spark):
        # chain 1-2-3-4-5 (needs label propagation through hops),
        # clique {10,11,12}, isolated 20
        edges = spark.createDataFrame(
            [(2, 1), (2, 3), (4, 3), (5, 4),
             (10, 11), (11, 12), (10, 12)],
            "doc_a bigint, doc_b bigint").withColumn(
                "jaccard", F.lit(1.0))
        nodes = spark.createDataFrame(
            [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 12, 20]],
            "doc_id bigint")
        got = {(r["doc_id"], r["cluster_id"])
               for r in D.connected_components_star(edges, nodes).collect()}
        want = {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
                (10, 10), (11, 10), (12, 10), (20, 20)}
        assert got == want

    def test_components_empty_edges(self, spark):
        edges = spark.createDataFrame(
            [], "doc_a bigint, doc_b bigint, jaccard double")
        nodes = spark.createDataFrame([(7,), (9,)], "doc_id bigint")
        got = {(r["doc_id"], r["cluster_id"])
               for r in D.connected_components_star(edges, nodes).collect()}
        assert got == {(7, 7), (9, 9)}
