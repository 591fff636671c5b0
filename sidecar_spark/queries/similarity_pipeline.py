"""Similarity-search and multimodal query battery over ``embeddings``
and ``documents``.

Cosine parity: both engines compute in double precision with a
sequential fold over the 64 elements; results are rounded to 6
decimals before comparison.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sidecar_spark.functions import multimodal as M
from sidecar_spark.functions.common import spread
from sidecar_spark.functions import similarity as S
from sidecar_spark.queries.registry import query, t

_DIM = 64


def _sql_dot(a: str, b: str) -> str:
    return (f"list_sum(list_transform(range(1, {_DIM + 1}), "
            f"i -> ({a}[i]::DOUBLE) * ({b}[i]::DOUBLE)))")


def _sql_cos(a: str, b: str) -> str:
    na = f"sqrt({_sql_dot(a, a)})"
    nb = f"sqrt({_sql_dot(b, b)})"
    return (f"CASE WHEN {na} * {nb} = 0 THEN 0.0 "
            f"ELSE {_sql_dot(a, b)} / ({na} * {nb}) END")


@query(
    "ann_brute_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, v.vec_id,
             round({_sql_cos('q.q_vec', 'v.embedding')}, 6) AS cos_sim
      FROM embeddings v CROSS JOIN q
      WHERE v.vec_id <> q.query_id)
    SELECT query_id, vec_id, cos_sim, rk FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored)
    WHERE rk <= 10
    """,
)
def ann_brute_topk(spark, sf_dir):
    """Exact cosine top-10 for 5 query vectors — the correctness
    baseline ANN. Scale path: broadcast queries, one corpus pass."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return S.brute_force_topk(emb, queries, k=10,
                              query_id_col="query_id")


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH planes AS (
      SELECT v.vec_id, v.embedding,
             array_to_string(list_transform(range(0, 8), p ->
               CASE WHEN list_sum(list_transform(range(1, {_DIM + 1}), i ->
                     (v.embedding[i]::DOUBLE) *
                     ((('0x' || substr(md5('hp' || p::VARCHAR || ':' || (i-1)::VARCHAR), 1, 15))::BIGINT
                       % 2001 - 1000) / 1000.0))) >= 0
                    THEN '1' ELSE '0' END), '') AS bucket
      FROM embeddings v),
    q AS (SELECT vec_id AS query_id, embedding AS q_vec, bucket
          FROM planes WHERE vec_id < 50),
    scored AS (
      SELECT q.query_id, v.vec_id,
             round({_sql_cos('q.q_vec', 'v.embedding')}, 6) AS cos_sim
      FROM planes v JOIN q ON v.bucket = q.bucket
      WHERE v.vec_id <> q.query_id)
    SELECT query_id, vec_id, cos_sim, rk FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored)
    WHERE rk <= 10
    """,
)
def ann_lsh_topk(spark, sf_dir):
    """Approximate top-10 via 8 random-hyperplane LSH buckets — the
    100 TB path: candidate generation is an equi-join on 8-char
    signatures instead of a cross join."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return S.lsh_topk(emb, queries, dim=_DIM, k=10, num_planes=8,
                      query_id_col="query_id")


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS list_id, embedding AS cvec
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
    ), vdist AS (
      SELECT v.vec_id, c.list_id, v.embedding,
             list_sum(list_transform(range(1, {_DIM + 1}),
                 i -> (v.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)
                      * (v.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE))) AS d
      FROM embeddings v CROSS JOIN cent c
    ), vassign AS (
      SELECT vec_id, list_id, embedding FROM (
        SELECT vec_id, list_id, embedding,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
        FROM vdist) WHERE rn = 1
    ), qprobe AS (
      SELECT vec_id AS query_id, list_id, embedding AS q_vec FROM (
        SELECT vec_id, list_id, embedding,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
        FROM vdist WHERE vec_id < 20) WHERE rn <= 2
    ), scored AS (
      SELECT q.query_id, v.vec_id,
             round({_sql_cos('q.q_vec', 'v.embedding')}, 6) AS cos_sim
      FROM vassign v JOIN qprobe q ON v.list_id = q.list_id
      WHERE v.vec_id <> q.query_id)
    SELECT query_id, vec_id, cos_sim, rk FROM (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored)
    WHERE rk <= 10
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-10: 16 inverted lists (first-16 codebook),
    nprobe=2, exact-cosine rerank — the third ANN flavor next to brute
    force and hyperplane LSH. Assignment is map-side (numpy over Arrow
    batches); only (list_id, id, vec) shuffles."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return S.ivf_topk(emb, queries, n_lists=16, nprobe=2, k=10,
                      query_id_col="query_id")


@query(
    "emb_near_dup_pairs",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_sql_cos('a.embedding', 'b.embedding')}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round({_sql_cos('a.embedding', 'b.embedding')}, 6) >= 0.4
    """,
)
def emb_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate detection (threshold 0.4 — the
    testdata embeddings are near-orthogonal random vectors)."""
    return S.cosine_near_dup_pairs(
        t(spark, sf_dir, "embeddings"), threshold=0.4)


# ---------------------------------------------------------------------------
# multimodal plumbing (binary payloads derived from documents.text so the
# fake-decode pipeline is oracle-checkable end to end)
# ---------------------------------------------------------------------------

@query(
    "multimodal_image_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum,
           64 + ('0x' || substr(md5(text), 1, 2))::INT % 192 AS width,
           64 + ('0x' || substr(md5(text), 3, 2))::INT % 192 AS height,
           ('0x' || substr(md5(text), 5, 4))::INT / 65535.0 AS mean_luma
    FROM documents
    """,
)
def multimodal_image_features(spark, sf_dir):
    """Image decode/feature plumbing over mapInPandas (Arrow-batched).
    The decode itself is the documented deterministic stub; schema,
    batching and distribution are the real thing."""
    d = spread(t(spark, sf_dir, "documents")).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return M.extract_image_features(d, binary_col="payload", fake=True)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH base AS (
      SELECT doc_id, md5(text) AS digest,
             1 + ('0x' || substr(md5(text), 1, 2))::INT % 8 AS n_frames
      FROM documents)
    SELECT doc_id, (f - 1) * 30 AS frame_idx,
           md5(digest || ':' || (f - 1)::VARCHAR) AS frame_checksum
    FROM base CROSS JOIN generate_series(1, 8) AS g(f)
    WHERE f <= n_frames
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: 1 row in → n frame rows out
    (flatMap shape through mapInPandas)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return M.sample_video_frames(d, binary_col="payload", every_n=30, fake=True)


@query(
    "multimodal_audio_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum,
           CASE (('0x' || substr(md5(text), 1, 2))::INT % 4)
                WHEN 0 THEN 8000 WHEN 1 THEN 16000
                WHEN 2 THEN 22050 ELSE 44100 END AS sample_rate,
           1000 + ('0x' || substr(md5(text), 3, 4))::BIGINT AS n_samples,
           ('0x' || substr(md5(text), 7, 2))::INT / 255.0 AS rms
    FROM documents
    """,
)
def multimodal_audio_features(spark, sf_dir):
    """Audio decode/feature plumbing over mapInPandas (deterministic
    stub decoder; Spark-side schema/batching/distribution real)."""
    d = spread(t(spark, sf_dir, "documents")).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return M.extract_audio_features(d, binary_col="payload", fake=True)


@query(
    "multimodal_resize",
    oracle="""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           md5(text) AS resized_checksum, 224 AS target_size
    FROM documents
    """,
)
def multimodal_resize(spark, sf_dir):
    """Resize plumbing (1 row in → 1 row out, payload column rewritten;
    the fake path is a checksummed pass-through so the full pipeline is
    oracle-checkable)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    r = M.resize_images(d, binary_col="payload", target=224, fake=True)
    return r.select(
        "doc_id",
        F.octet_length("resized").cast("long").alias("n_bytes"),
        F.md5("resized").alias("resized_checksum"),
        F.col("target_size").cast("int").alias("target_size"),
    )


@query(
    "multimodal_media_meta",
    oracle="""
    SELECT doc_id, 'image' AS media_type, 'png' AS format,
           octet_length(encode(text)) AS n_bytes, md5(text) AS checksum
    FROM documents
    """,
)
def multimodal_media_meta(spark, sf_dir):
    """Typed media metadata attachment (pure column expressions)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    d = M.attach_media_meta(d, "payload", "image", "png")
    return d.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.format").alias("format"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.checksum").alias("checksum"),
    )


@query(
    "multimodal_real_png_decode",
    oracle="""
    SELECT doc_id,
           CAST(3 + doc_id % 6 AS INT) AS width,
           CAST(2 + doc_id % 5 AS INT) AS height,
           round((doc_id % 256) / 255.0, 6) AS mean_luma
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def multimodal_real_png_decode(spark, sf_dir):
    """REAL image decode end to end: spec-valid PNG payloads are
    synthesized per document (constant-gray, dimensions and fill
    derived from doc_id), then decoded by the NON-fake path
    (``decode_image(fake=False)`` — PIL when importable, else the
    stdlib zlib+unfilter decoder) inside mapInPandas executors.  The
    oracle recomputes width/height/luma arithmetically, so the hash
    match proves actual pixel decoding, not plumbing alone."""
    import pandas as pd

    d = (spread(t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 3 == 0)
         .select("doc_id",
                 (F.col("doc_id") % 6 + 3).cast("int").alias("w"),
                 (F.col("doc_id") % 5 + 2).cast("int").alias("h"),
                 (F.col("doc_id") % 256).cast("int").alias("v")))

    def synth(it):
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "payload": [M.synthesize_png(int(w), int(h), int(v))
                            for w, h, v in zip(pdf["w"], pdf["h"],
                                               pdf["v"])]})

    payloads = d.mapInPandas(synth, "doc_id long, payload binary")
    feats = M.extract_image_features(payloads, fake=False)
    return feats.select("doc_id", "width", "height",
                        F.round("mean_luma", 6).alias("mean_luma"))


@query(
    "multimodal_real_wav_decode",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END
                AS INT) AS sample_rate,
           CAST(100 + doc_id % 400 AS BIGINT) AS n_samples,
           round((doc_id % 10000) / 32768.0, 6) AS rms
    FROM documents WHERE doc_id % 3 = 0
    """,
)
def multimodal_real_wav_decode(spark, sf_dir):
    """REAL audio decode end to end: mono PCM16 WAV payloads with a
    constant doc_id-derived amplitude are synthesized per document,
    then decoded by the NON-fake path (soundfile when importable,
    else the stdlib ``wave`` decoder).  rms == amp/32768 exactly for
    a constant signal, so the oracle is pure arithmetic."""
    import pandas as pd

    d = (spread(t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 3 == 0)
         .select("doc_id",
                 F.when(F.col("doc_id") % 2 == 0, 8000)
                 .otherwise(16000).cast("int").alias("rate"),
                 (F.col("doc_id") % 400 + 100).cast("int").alias("n"),
                 (F.col("doc_id") % 10000).cast("int").alias("amp")))

    def synth(it):
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "payload": [M.synthesize_wav(int(n), int(r), int(a))
                            for n, r, a in zip(pdf["n"], pdf["rate"],
                                               pdf["amp"])]})

    payloads = d.mapInPandas(synth, "doc_id long, payload binary")
    feats = M.extract_audio_features(payloads, fake=False)
    return feats.select("doc_id", "sample_rate", "n_samples",
                        F.round("rms", 6).alias("rms"))


@query(
    "emb_label_centroids",
    oracle="""
    SELECT label, dim_idx, round(avg(component), 6) AS mean_val
    FROM (SELECT label,
                 unnest(embedding) AS component,
                 generate_subscripts(embedding, 1) - 1 AS dim_idx
          FROM embeddings)
    GROUP BY label, dim_idx
    """,
)
def emb_label_centroids(spark, sf_dir):
    """Per-label embedding centroids in long form: posexplode the
    vector, aggregate per (label, dimension). The explode's dim-fold
    blowup collapses map-side (partial avg per label×dim before the
    shuffle); the output is label-cardinality × dims — tiny at any
    scale. The k-means-update / class-prototype building block."""
    e = t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding")
                 .alias("dim_idx", "component"))
        .groupBy("label", "dim_idx")
        .agg(F.round(F.avg("component"), 6).alias("mean_val"))
    )


@query(
    "emb_norm_stats",
    oracle="""
    SELECT label, count(*) AS n,
           round(avg(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * x)))), 6) AS avg_l2
    FROM embeddings
    GROUP BY label
    """,
)
def emb_norm_stats(spark, sf_dir):
    """Per-label L2-norm statistics: one `aggregate` fold per row (no
    explode), then a tiny-key groupBy — the vector-quality audit pass
    (detects unnormalized / degenerate embeddings) at corpus scale."""
    e = t(spark, sf_dir, "embeddings")
    l2 = F.sqrt(F.aggregate(
        "embedding", F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x))
    return (
        e.select("label", l2.alias("l2"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("l2"), 6).alias("avg_l2"))
    )


@query(
    "emb_quantize",
    oracle="""
    WITH scaled AS (
      SELECT vec_id, label,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      FROM embeddings
    ), q AS (
      SELECT e.vec_id, e.label, s.max_abs,
             list_transform(e.embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 127.0
                                 / s.max_abs) AS BIGINT)) AS qv
      FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id)
    SELECT vec_id, label,
           round(max_abs / 127.0, 6) AS scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           list_max(qv) AS q_max,
           list_min(qv) AS q_min
    FROM q
    """,
)
def emb_quantize(spark, sf_dir):
    """Int8 scalar quantization of embeddings (per-vector max-abs
    scale) — the compression step before shipping vectors to an ANN
    index; 4× smaller payloads change the shuffle volume of every
    downstream similarity job. Pure per-row array math (two folds, no
    explode). floor() instead of round() keeps the integer grid
    bit-portable across engines (round-half behaviors differ; floor
    on identical doubles cannot)."""
    e = t(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")
    max_abs = F.array_max(F.transform("embedding", lambda x: F.abs(xd(x))))
    base = e.select(
        "vec_id", "label", "embedding", max_abs.alias("max_abs"))
    qv = F.transform(
        "embedding",
        lambda x: F.floor(xd(x) * 127.0 / F.col("max_abs")).cast("long"))
    return base.select(
        "vec_id", "label",
        F.round(F.col("max_abs") / 127.0, 6).alias("scale"),
        F.aggregate(qv, F.lit(0).cast("long"),
                    lambda acc, v: acc + v).alias("q_sum"),
        F.array_max(qv).alias("q_max"),
        F.array_min(qv).alias("q_min"),
    )


@query(
    "arrow_map_batches",
    oracle="""
    WITH per_vec AS (
      SELECT label,
             list_sum(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS l1,
             len(list_filter(embedding, x -> x > 0)) AS n_pos
      FROM embeddings)
    SELECT label, count(*) AS n,
           round(avg(l1), 6) AS avg_l1,
           CAST(sum(n_pos) AS BIGINT) AS total_pos
    FROM per_vec GROUP BY label
    """,
)
def arrow_map_batches(spark, sf_dir):
    """`mapInArrow` — the last member of the Arrow UDF family (scalar
    pandas UDF / grouped-agg UDAF / mapInPandas / cogrouped / UDTF are
    already in the battery): the vector stage receives raw
    pyarrow.RecordBatch objects, flattens the list<float> column once
    via its offsets (no per-row Python), and emits per-vector L1 norm
    + positive-component count with vectorized numpy. Zero
    serialization beyond Arrow itself — the fastest Python escape
    hatch when even pandas conversion overhead matters; at 100 TB
    this runs batch-at-a-time per task exactly like the JVM stages
    around it, and the only shuffle is the final per-label agg."""
    import numpy as np
    import pyarrow as pa

    def per_batch(batches):
        for b in batches:
            col = b.column(b.schema.get_field_index("embedding"))
            if isinstance(col, pa.ChunkedArray):  # defensive; RecordBatch cols are flat
                col = col.combine_chunks()
            offs = col.offsets.to_numpy()
            vals = np.abs(col.values.to_numpy(zero_copy_only=False)
                          .astype("float64"))
            l1 = np.add.reduceat(vals, offs[:-1])
            n_pos = np.add.reduceat(
                (col.values.to_numpy(zero_copy_only=False) > 0.0)
                .astype("int64"), offs[:-1])
            label = b.column(b.schema.get_field_index("label"))
            yield pa.RecordBatch.from_arrays(
                [label.cast(pa.int32()),
                 pa.array(l1, type=pa.float64()),
                 pa.array(n_pos, type=pa.int64())],
                names=["label", "l1", "n_pos"])

    e = t(spark, sf_dir, "embeddings").select("label", "embedding")
    per_vec = e.mapInArrow(per_batch, "label int, l1 double, n_pos long")
    return (
        per_vec.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("l1"), 6).alias("avg_l1"),
             F.sum("n_pos").alias("total_pos"))
    )


# ---------------------------------------------------------------------------
# Distributed k-means (3 unrolled Lloyd iterations, broadcast centroids)
# ---------------------------------------------------------------------------

_KM_K = 4

# one Lloyd iteration in DuckDB SQL: assignment (argmin squared
# distance via min_by over the k-row centroid table) then per-position
# means re-packed into a list
_KM_ASSIGN = """
    {a} AS (
      SELECT e.vec_id,
             min_by({c}.cid, list_sum(list_transform(
               range(1, 65),
               i -> (e.embedding[i]::DOUBLE - {c}.c[i])
                    * (e.embedding[i]::DOUBLE - {c}.c[i])))) AS cid
      FROM embeddings e CROSS JOIN {c}
      GROUP BY e.vec_id
    )"""

_KM_MEANS = """
    {cn} AS (
      SELECT cid, list(v ORDER BY pos) AS c FROM (
        SELECT {a}.cid, t.pos, avg(e.embedding[t.pos]::DOUBLE) AS v
        FROM {a} JOIN embeddings e USING (vec_id)
             CROSS JOIN generate_series(1, 64) t(pos)
        GROUP BY {a}.cid, t.pos)
      GROUP BY cid
    )"""

_KM_ORACLE = f"""
    WITH c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
             embedding::DOUBLE[] AS c
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_KM_K})
    ),
    {_KM_ASSIGN.format(a='a1', c='c0')},
    {_KM_MEANS.format(cn='c1', a='a1')},
    {_KM_ASSIGN.format(a='a2', c='c1')},
    {_KM_MEANS.format(cn='c2', a='a2')},
    {_KM_ASSIGN.format(a='a3', c='c2')},
    {_KM_MEANS.format(cn='c3', a='a3')}
    SELECT c3.cid,
           (SELECT count(*) FROM a3 WHERE a3.cid = c3.cid) AS n_members,
           round(c3.c[1], 4) AS c_first,
           round(sqrt(list_sum(list_transform(c3.c, x -> x * x))), 4)
               AS c_norm
    FROM c3
    ORDER BY cid
"""


@query("kmeans_iterations", oracle=_KM_ORACLE)
def kmeans_iterations(spark, sf_dir):
    """Distributed k-means: 3 Lloyd iterations, k=4, deterministic
    init (the 4 lowest vec_ids).  The Spark shape per iteration is
    the MLlib template:

    * assignment — the k x dim centroid matrix (a few KB, ALWAYS
      driver-size) is collected and inlined as literals, i.e.
      broadcast; each vector's argmin is then a PURE MAP expression
      (array of k squared distances -> array_position of the min) —
      zero shuffle, zero join of the big table;
    * update — posexplode to (cid, pos, val) with map-side partial
      aggregation: the shuffle carries only partitions x k x dim
      partial sums; re-pack with sort_array(collect_list(struct)) —
      and the SAME aggregation carries n_members (count per
      (cid, pos) is the member count, positions are fixed-width), so
      no separate counting pass or final join is needed.

    Per iteration the only data-sized cost is one map pass + one
    combine-collapsed shuffle; all driver state is O(k*dim).  The
    vector table is persisted for the loop (the MLlib idiom for
    iterative algorithms — re-decoding parquet per Lloyd pass is pure
    waste; at cluster scale this is MEMORY_AND_DISK on executors) and
    unpersisted once the final centroids are checkpointed.  The
    oracle replays the identical 3 iterations in chained CTEs;
    matching cluster SIZES and centroid stats to 4 decimals proves
    every assignment decision matched."""
    from pyspark import StorageLevel
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    first4 = e.orderBy("vec_id").limit(_KM_K)
    cents = first4.select(
        (F.row_number().over(W.orderBy("vec_id")) - 1).alias("cid"),
        F.col("v").alias("c"))

    def sqdist(c_vals):
        lit_c = F.array(*[F.lit(float(x)) for x in c_vals])
        return F.aggregate(
            F.zip_with("v", lit_c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)

    def assign(centroid_rows):
        # centroid_rows: list of (cid, vector), cid-ordered.  dists is
        # let1-bound: argmin mentions it twice and the HOF subtree is
        # interpreted (no CSE) — unbound, every row paid 2k squared-
        # distance folds instead of k
        from sidecar_spark.functions.dedup import let1

        dists = F.array(*[sqdist(c) for _, c in centroid_rows])
        cid = let1(dists, lambda dd: (
            F.array_position(dd, F.array_min(dd)) - 1).cast("int"))
        return e.select("vec_id", cid.alias("cid"), "v")

    def means(assigned):
        per_pos = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"),
                 F.count(F.lit(1)).alias("n")))
        return (
            per_pos.groupBy("cid")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"]).alias("c"),
                 F.max("n").alias("n_members"))
        )

    for _ in range(3):
        rows = sorted((r["cid"], r["c"])
                      for r in cents.select("cid", "c").collect())
        cents = means(assign(rows))
    cents = cents.localCheckpoint(eager=True)
    e.unpersist()
    norm = F.sqrt(F.aggregate(
        F.transform("c", lambda x: x * x), F.lit(0.0),
        lambda acc, x: acc + x))
    return (
        cents.select("cid", "n_members",
                     F.round(F.element_at("c", 1), 4).alias("c_first"),
                     F.round(norm, 4).alias("c_norm"))
        .orderBy("cid")
    )


@query(
    "negative_sampling_pairs",
    oracle="""
    WITH anchors AS (
      SELECT vec_id, label FROM embeddings WHERE vec_id < 50
    ), cand AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             CAST((a.vec_id * 2654435761 + k.k * 40503) %
                  (SELECT count(*) FROM embeddings) AS BIGINT) AS neg_id
      FROM anchors a CROSS JOIN generate_series(1, 8) k(k)
    )
    SELECT c.anchor_id, c.neg_id, e.label AS neg_label
    FROM cand c JOIN embeddings e ON c.neg_id = e.vec_id
    WHERE e.label <> c.anchor_label AND c.neg_id <> c.anchor_id
    ORDER BY c.anchor_id, c.neg_id
    """,
)
def negative_sampling_pairs(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: each
    anchor draws 8 pseudo-random candidates via a Knuth
    multiplicative hash of (anchor, draw) — reproducible on any
    engine, no rand() — then filters to true negatives (different
    label, not self) with one broadcast-able join against the
    id→label table.  At 100 TB the candidate generation is a narrow
    8× row expansion and the label check is the only join; no
    shuffle of the embedding vectors themselves."""
    e = t(spark, sf_dir, "embeddings")
    n = e.count()
    anchors = e.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"))
    cand = anchors.select(
        "anchor_id", "anchor_label",
        F.explode(F.sequence(F.lit(1), F.lit(8))).alias("k"))
    cand = cand.select(
        "anchor_id", "anchor_label",
        ((F.col("anchor_id") * F.lit(2654435761) + F.col("k") * 40503)
         % F.lit(n)).cast("bigint").alias("neg_id"))
    labels = e.select(F.col("vec_id").alias("neg_id"),
                      F.col("label").alias("neg_label"))
    return (
        cand.join(F.broadcast(labels), "neg_id")
        .where((F.col("neg_label") != F.col("anchor_label"))
               & (F.col("neg_id") != F.col("anchor_id")))
        .select("anchor_id", "neg_id", "neg_label")
        .orderBy("anchor_id", "neg_id")
    )


@query(
    "multimodal_real_gif_frames",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             2 + doc_id % 3 AS n_frames,
             doc_id % 100 AS base
      FROM documents WHERE doc_id % 5 = 0),
    frames AS (
      SELECT doc_id, n_frames, base, f,
             base + 10 * f + 7.0 AS mean_luma
      FROM docs, LATERAL (SELECT unnest(generate_series(0, n_frames - 1))
                          AS f))
    SELECT doc_id,
           CAST(any_value(n_frames) AS INT) AS n_frames,
           round(avg(mean_luma), 6) AS avg_luma,
           round(avg(CASE WHEN f % 2 = 0 THEN mean_luma END), 6)
               AS sampled_luma
    FROM frames
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_real_gif_frames(spark, sf_dir):
    """REAL multi-frame decode end to end — the video/animation
    stand-in with actual bytes: per document an animated GIF is
    synthesized (REAL LZW compression, gradient frames whose pixel
    (x,y) = base + 10f + x + y on an 8x8 canvas), then decoded by the
    pure-stdlib LZW decoder (functions/multimodal.py::decode_gif_frames)
    inside mapInPandas executors; frame counting, per-frame mean luma,
    and every-2nd-frame sampling (the frame-sample operator) all come
    from DECODED pixels.  Mean of (base+10f+x+y) over 8x8 is exactly
    base+10f+7, so the oracle is pure arithmetic — a hash match
    proves real LZW + palette decode, not plumbing."""
    import numpy as np
    import pandas as pd

    d = (spread(t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 5 == 0)
         .select("doc_id",
                 (F.col("doc_id") % 3 + 2).cast("int").alias("nf"),
                 (F.col("doc_id") % 100).cast("int").alias("base")))

    def synth(it):
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "payload": [M.synthesize_gif_gradient(
                    8, 8, [int(b) + 10 * f for f in range(int(nf))])
                    for nf, b in zip(pdf["nf"], pdf["base"])]})

    payloads = d.mapInPandas(synth, "doc_id long, payload binary")

    def decode(it):
        for pdf in it:
            rows = {"doc_id": [], "n_frames": [], "avg_luma": [],
                    "sampled_luma": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = M.decode_gif_frames(bytes(payload))
                means = [float(f.mean()) for f in frames]
                rows["doc_id"].append(int(doc_id))
                rows["n_frames"].append(len(frames))
                rows["avg_luma"].append(round(float(np.mean(means)), 6))
                rows["sampled_luma"].append(
                    round(float(np.mean(means[::2])), 6))
            yield pd.DataFrame(rows)

    out = payloads.mapInPandas(
        decode, "doc_id long, n_frames int, avg_luma double, "
                "sampled_luma double")
    return out.orderBy("doc_id")


@query(
    "multimodal_audio_spectrum",
    oracle="""
    SELECT doc_id,
           CAST(2000 AS BIGINT) AS n_samples,
           CAST(round((10 + doc_id % 50) * 4.0, 3) AS DOUBLE)
               AS centroid_hz,
           CAST(round((10 + doc_id % 50) * 4.0, 3) AS DOUBLE)
               AS peak_hz
    FROM documents WHERE doc_id % 7 = 0
    ORDER BY doc_id
    """,
)
def multimodal_audio_spectrum(spark, sf_dir):
    """REAL audio DSP end to end: pure-sine PCM16 WAVs (frequency
    pinned to FFT bin k = 10 + doc_id%50 at rate 8000 / 2000 samples,
    i.e. 4k Hz) are synthesized per document, decoded by the stdlib
    wave path, and FFT-analyzed (numpy.rfft) inside mapInPandas
    executors; the spectral centroid and the peak-bin frequency must
    BOTH equal the synthesis frequency to 3 decimals — int16
    quantization spreads <1e-4 relative energy, so this hash-checks
    genuine spectrum math, not metadata."""
    import numpy as np
    import pandas as pd

    d = (spread(t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 7 == 0)
         .select("doc_id",
                 (F.col("doc_id") % 50 + 10).cast("int").alias("k")))

    def synth(it):
        for pdf in it:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "payload": [M.synthesize_sine_wav(8000, 2000,
                                                  int(k) * 4.0)
                            for k in pdf["k"]]})

    payloads = d.mapInPandas(synth, "doc_id long, payload binary")

    def analyze(it):
        for pdf in it:
            rows = {"doc_id": [], "n_samples": [], "centroid_hz": [],
                    "peak_hz": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, samples = M.decode_audio_samples(bytes(payload))
                cen, peak = M.spectral_features(samples, rate)
                rows["doc_id"].append(int(doc_id))
                rows["n_samples"].append(len(samples))
                rows["centroid_hz"].append(round(cen, 3))
                rows["peak_hz"].append(round(peak, 3))
            yield pd.DataFrame(rows)

    out = payloads.mapInPandas(
        analyze, "doc_id long, n_samples long, centroid_hz double, "
                 "peak_hz double")
    return out.orderBy("doc_id")


@query(
    "multimodal_real_resize",
    oracle="""
    SELECT doc_id,
           4 AS target_size,
           round((doc_id % 100 + 6) / 255.0, 6) AS resized_luma
    FROM documents WHERE doc_id % 11 = 0
    ORDER BY doc_id
    """,
)
def multimodal_real_resize(spark, sf_dir):
    """REAL image resize end to end: gradient PNGs (pixel (x,y) =
    base + x + y on 8x8, base = doc_id%100) are encoded with the
    stdlib PNG writer, nearest-neighbor resized to 4x4 by the real
    path (decode pixels -> index-map -> re-encode PNG), and the
    RESIZED payload is then re-decoded for its mean luma.  The 4x4
    grid samples x,y in {0,2,4,6} whose mean is 3+3, so resized mean
    luma = (base+6)/255 exactly — the oracle hash-checks the full
    decode -> resample -> encode -> decode loop."""
    import numpy as np
    import pandas as pd

    d = (spread(t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 11 == 0)
         .select("doc_id",
                 (F.col("doc_id") % 100).cast("int").alias("base")))

    def synth(it):
        for pdf in it:
            payloads = []
            for b in pdf["base"]:
                arr = (np.add.outer(np.arange(8), np.arange(8))
                       + int(b)).astype(np.uint8)
                payloads.append(M.encode_png_gray(arr))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values,
                                "payload": payloads})

    payloads = d.mapInPandas(synth, "doc_id long, payload binary")
    resized = M.resize_images(payloads, target=4, fake=False)
    feats = M.extract_image_features(
        resized.select("doc_id", F.col("resized").alias("payload")),
        fake=False)
    # target_size is the plan literal 4 — joining it back to `resized`
    # would re-run the whole Python decode pipeline a second time
    return (feats
            .select("doc_id", F.lit(4).alias("target_size"),
                    F.round("mean_luma", 6).alias("resized_luma"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Covariance of the leading embedding dims — the PCA input at scale
# ---------------------------------------------------------------------------

@query(
    "embedding_covariance",
    oracle="""
    WITH e AS (
      SELECT embedding[1]::DOUBLE AS x0, embedding[2]::DOUBLE AS x1,
             embedding[3]::DOUBLE AS x2, embedding[4]::DOUBLE AS x3
      FROM embeddings)
    SELECT 'cov' AS stat,
           round(covar_pop(x0, x0), 6) AS c00,
           round(covar_pop(x0, x1), 6) AS c01,
           round(covar_pop(x0, x2), 6) AS c02,
           round(covar_pop(x0, x3), 6) AS c03,
           round(covar_pop(x1, x1), 6) AS c11,
           round(covar_pop(x1, x2), 6) AS c12,
           round(covar_pop(x1, x3), 6) AS c13,
           round(covar_pop(x2, x2), 6) AS c22,
           round(covar_pop(x2, x3), 6) AS c23,
           round(covar_pop(x3, x3), 6) AS c33,
           round(covar_pop(x0, x0) + covar_pop(x1, x1)
                 + covar_pop(x2, x2) + covar_pop(x3, x3), 6)
             AS trace_var
    FROM e
    """,
)
def embedding_covariance(spark, sf_dir):
    """The upper triangle of the population covariance matrix over
    the leading 4 embedding dimensions plus its trace (total
    variance) — the exact aggregation a distributed PCA runs before
    the driver-side eigendecomposition: covariance is a pure
    map-side-partial aggregate (sum, sum of products), one reduce,
    O(d^2) state regardless of row count, so the same plan covers
    100 TB of vectors.  covar_pop on both engines pins the parity."""
    e = t(spark, sf_dir, "embeddings")
    cols = [F.col("embedding")[i].cast("double").alias(f"x{i}")
            for i in range(4)]
    v = e.select(*cols)
    names = [(i, j) for i in range(4) for j in range(i, 4)]
    aggs = ([F.round(F.covar_pop(f"x{i}", f"x{j}"), 6)
             .alias(f"c{i}{j}") for i, j in names]
            + [F.round(sum(F.covar_pop(f"x{i}", f"x{i}")
                           for i in range(4)), 6).alias("trace_var")])
    return v.agg(*aggs).select(F.lit("cov").alias("stat"), "*")


# ---------------------------------------------------------------------------
# PCA top eigenvector by power iteration — all-SQL, oracle-replayable
# ---------------------------------------------------------------------------

@query(
    "embedding_pca_power_iteration",
    oracle="""
    WITH e AS (
      SELECT embedding[1]::DOUBLE AS x0, embedding[2]::DOUBLE AS x1,
             embedding[3]::DOUBLE AS x2, embedding[4]::DOUBLE AS x3
      FROM embeddings),
    c AS (
      SELECT covar_pop(x0,x0) AS c00, covar_pop(x0,x1) AS c01,
             covar_pop(x0,x2) AS c02, covar_pop(x0,x3) AS c03,
             covar_pop(x1,x1) AS c11, covar_pop(x1,x2) AS c12,
             covar_pop(x1,x3) AS c13, covar_pop(x2,x2) AS c22,
             covar_pop(x2,x3) AS c23, covar_pop(x3,x3) AS c33
      FROM e),
    it1 AS (
      SELECT c00, c01, c02, c03, c11, c12, c13, c22, c23, c33,
             c00*0.5 + c01*0.5 + c02*0.5 + c03*0.5 AS v0,
             c01*0.5 + c11*0.5 + c12*0.5 + c13*0.5 AS v1,
             c02*0.5 + c12*0.5 + c22*0.5 + c23*0.5 AS v2,
             c03*0.5 + c13*0.5 + c23*0.5 + c33*0.5 AS v3
      FROM c),
    u1 AS (
      SELECT c00, c01, c02, c03, c11, c12, c13, c22, c23, c33,
             v0/sqrt(v0*v0+v1*v1+v2*v2+v3*v3) AS u0,
             v1/sqrt(v0*v0+v1*v1+v2*v2+v3*v3) AS u1,
             v2/sqrt(v0*v0+v1*v1+v2*v2+v3*v3) AS u2,
             v3/sqrt(v0*v0+v1*v1+v2*v2+v3*v3) AS u3
      FROM it1),
    it2 AS (
      SELECT c00, c01, c02, c03, c11, c12, c13, c22, c23, c33,
             c00*u0 + c01*u1 + c02*u2 + c03*u3 AS w0,
             c01*u0 + c11*u1 + c12*u2 + c13*u3 AS w1,
             c02*u0 + c12*u1 + c22*u2 + c23*u3 AS w2,
             c03*u0 + c13*u1 + c23*u2 + c33*u3 AS w3
      FROM u1),
    u2t AS (
      SELECT c00, c01, c02, c03, c11, c12, c13, c22, c23, c33,
             w0/sqrt(w0*w0+w1*w1+w2*w2+w3*w3) AS p0,
             w1/sqrt(w0*w0+w1*w1+w2*w2+w3*w3) AS p1,
             w2/sqrt(w0*w0+w1*w1+w2*w2+w3*w3) AS p2,
             w3/sqrt(w0*w0+w1*w1+w2*w2+w3*w3) AS p3
      FROM it2),
    it3 AS (
      SELECT p0, p1, p2, p3,
             c00*p0 + c01*p1 + c02*p2 + c03*p3 AS z0,
             c01*p0 + c11*p1 + c12*p2 + c13*p3 AS z1,
             c02*p0 + c12*p1 + c22*p2 + c23*p3 AS z2,
             c03*p0 + c13*p1 + c23*p2 + c33*p3 AS z3
      FROM u2t)
    SELECT round(abs(z0 / sqrt(z0*z0+z1*z1+z2*z2+z3*z3)), 6) AS ev0,
           round(abs(z1 / sqrt(z0*z0+z1*z1+z2*z2+z3*z3)), 6) AS ev1,
           round(abs(z2 / sqrt(z0*z0+z1*z1+z2*z2+z3*z3)), 6) AS ev2,
           round(abs(z3 / sqrt(z0*z0+z1*z1+z2*z2+z3*z3)), 6) AS ev3,
           round(p0*z0 + p1*z1 + p2*z2 + p3*z3, 6) AS rayleigh
    FROM it3
    """,
)
def embedding_pca_power_iteration(spark, sf_dir):
    """Distributed PCA without leaving SQL: ONE covariance pass over
    the corpus (map-side-partial aggregate, O(d^2) state) reduces
    100 TB of vectors to a 4x4 matrix; three unrolled power
    iterations from a fixed start vector then run entirely on that
    tiny aggregate — pure scalar arithmetic replayed identically by
    the oracle, no driver-side eigensolver, no second data pass.
    Output: the leading eigenvector (|components|, sign-free) and
    its Rayleigh-quotient eigenvalue estimate."""
    e = t(spark, sf_dir, "embeddings")
    v = e.select(*[F.col("embedding")[i].cast("double").alias(f"x{i}")
                   for i in range(4)])
    v.createOrReplaceTempView("pca_v")
    return spark.sql("""
        WITH c AS (
          SELECT covar_pop(x0,x0) AS c00, covar_pop(x0,x1) AS c01,
                 covar_pop(x0,x2) AS c02, covar_pop(x0,x3) AS c03,
                 covar_pop(x1,x1) AS c11, covar_pop(x1,x2) AS c12,
                 covar_pop(x1,x3) AS c13, covar_pop(x2,x2) AS c22,
                 covar_pop(x2,x3) AS c23, covar_pop(x3,x3) AS c33
          FROM pca_v),
        it1 AS (
          SELECT c00, c01, c02, c03, c11, c12, c13, c22, c23, c33,
                 c00*0.5 + c01*0.5 + c02*0.5 + c03*0.5 AS v0,
                 c01*0.5 + c11*0.5 + c12*0.5 + c13*0.5 AS v1,
                 c02*0.5 + c12*0.5 + c22*0.5 + c23*0.5 AS v2,
                 c03*0.5 + c13*0.5 + c23*0.5 + c33*0.5 AS v3
          FROM c),
        u1 AS (
          SELECT c00, c01, c02, c03, c11, c12, c13, c22, c23, c33,
                 v0/sqrt(v0*v0+v1*v1+v2*v2+v3*v3) AS u0,
                 v1/sqrt(v0*v0+v1*v1+v2*v2+v3*v3) AS u1,
                 v2/sqrt(v0*v0+v1*v1+v2*v2+v3*v3) AS u2,
                 v3/sqrt(v0*v0+v1*v1+v2*v2+v3*v3) AS u3
          FROM it1),
        it2 AS (
          SELECT c00, c01, c02, c03, c11, c12, c13, c22, c23, c33,
                 c00*u0 + c01*u1 + c02*u2 + c03*u3 AS w0,
                 c01*u0 + c11*u1 + c12*u2 + c13*u3 AS w1,
                 c02*u0 + c12*u1 + c22*u2 + c23*u3 AS w2,
                 c03*u0 + c13*u1 + c23*u2 + c33*u3 AS w3
          FROM u1),
        u2t AS (
          SELECT c00, c01, c02, c03, c11, c12, c13, c22, c23, c33,
                 w0/sqrt(w0*w0+w1*w1+w2*w2+w3*w3) AS p0,
                 w1/sqrt(w0*w0+w1*w1+w2*w2+w3*w3) AS p1,
                 w2/sqrt(w0*w0+w1*w1+w2*w2+w3*w3) AS p2,
                 w3/sqrt(w0*w0+w1*w1+w2*w2+w3*w3) AS p3
          FROM it2),
        it3 AS (
          SELECT p0, p1, p2, p3,
                 c00*p0 + c01*p1 + c02*p2 + c03*p3 AS z0,
                 c01*p0 + c11*p1 + c12*p2 + c13*p3 AS z1,
                 c02*p0 + c12*p1 + c22*p2 + c23*p3 AS z2,
                 c03*p0 + c13*p1 + c23*p2 + c33*p3 AS z3
          FROM u2t)
        SELECT round(abs(z0 / sqrt(z0*z0+z1*z1+z2*z2+z3*z3)), 6) AS ev0,
               round(abs(z1 / sqrt(z0*z0+z1*z1+z2*z2+z3*z3)), 6) AS ev1,
               round(abs(z2 / sqrt(z0*z0+z1*z1+z2*z2+z3*z3)), 6) AS ev2,
               round(abs(z3 / sqrt(z0*z0+z1*z1+z2*z2+z3*z3)), 6) AS ev3,
               round(p0*z0 + p1*z1 + p2*z2 + p3*z3, 6) AS rayleigh
        FROM it3
    """)


@query(
    "ann_mips_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, v.vec_id,
             round({_sql_dot('q.q_vec', 'v.embedding')}, 6) AS dot_score
      FROM embeddings v CROSS JOIN q
      WHERE v.vec_id <> q.query_id)
    SELECT query_id, vec_id, dot_score, rk FROM (
      SELECT query_id, vec_id, dot_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot_score DESC, vec_id) AS rk
      FROM scored)
    WHERE rk <= 10
    """,
)
def ann_mips_topk(spark, sf_dir):
    """Maximum-inner-product top-10 via the norm-augmentation
    reduction to cosine (append sqrt(M²−|x|²) / 0, rank by augmented
    cosine) — the oracle ranks by raw inner product directly, so a
    hash match PROVES the reduction preserves the MIPS order."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return S.mips_topk(emb, queries, k=10, query_id_col="query_id")


@query(
    "ann_radius_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, v.vec_id,
             {_sql_cos('q.q_vec', 'v.embedding')} AS cos_sim
      FROM embeddings v CROSS JOIN q
      WHERE v.vec_id <> q.query_id)
    SELECT query_id,
           count(*) FILTER (WHERE cos_sim >= 0.25) AS n_within,
           round(max(cos_sim), 6) AS max_cos,
           round(avg(cos_sim) FILTER (WHERE cos_sim >= 0.25), 6)
             AS mean_within
    FROM scored GROUP BY query_id ORDER BY query_id
    """,
)
def ann_radius_search(spark, sf_dir):
    """Range (radius) search: per query, how many corpus vectors lie
    within cosine ≥ 0.25, their mean similarity, and the nearest
    score — the fixed-threshold retrieval mode (near-duplicate
    harvesting, recall sweeps) as opposed to top-k.  Same broadcast
    one-pass shape as the brute-force baseline; the threshold
    comparison runs on UNROUNDED doubles (both engines fold the 64
    dims sequentially in double precision, so the boundary decision
    is bit-identical)."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        S.as_double(F.col("embedding")).alias("q_vec"))
    v = spread(emb).select(
        F.col("vec_id").alias("vec_id"),
        S.as_double(F.col("embedding")).alias("v_vec"))
    cos = S.cosine(F.col("q_vec"), F.col("v_vec"))
    scored = (v.crossJoin(F.broadcast(q))
              .where(F.col("vec_id") != F.col("query_id"))
              .select("query_id", cos.alias("cos_sim")))
    within = F.col("cos_sim") >= 0.25
    return (
        scored.groupBy("query_id")
        .agg(F.count(F.when(within, 1)).alias("n_within"),
             F.round(F.max("cos_sim"), 6).alias("max_cos"),
             F.round(F.avg(F.when(within, F.col("cos_sim"))), 6)
             .alias("mean_within"))
        .orderBy("query_id")
    )


# Rademacher ±1 sign for JL projection plane p, dim i (md5-derived,
# identical on both engines)
_SQL_JL_SIGN = ("CASE WHEN ('0x' || substr(md5('jl' || CAST({p} AS VARCHAR)"
                " || ':' || CAST({i} AS VARCHAR)), 1, 15))::BIGINT % 2 = 0"
                " THEN 1.0 ELSE -1.0 END")


def _jl_sign(p: int, i: int) -> float:
    """Driver-side twin of _SQL_JL_SIGN (plan literal, no per-row md5)."""
    import hashlib

    h = int(hashlib.md5(f"jl{p}:{i}".encode()).hexdigest()[:15], 16)
    return 1.0 if h % 2 == 0 else -1.0


@query(
    "jl_random_projection",
    oracle=f"""
    WITH proj AS (
      SELECT vec_id,
             list_transform(range(0, 8), p ->
               list_sum(list_transform(range(1, {_DIM + 1}), i ->
                 (embedding[i]::DOUBLE) *
                 {_SQL_JL_SIGN.format(p='p', i='i - 1')}))
               / sqrt(8.0)) AS pv,
             embedding
      FROM embeddings WHERE vec_id < 40
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i ->
               (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE)
               * (a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE))))
               AS d_full,
             sqrt(list_sum(list_transform(range(1, 9), j ->
               (a.pv[j] - b.pv[j]) * (a.pv[j] - b.pv[j])))) AS d_proj
      FROM proj a JOIN proj b ON a.vec_id < b.vec_id
    )
    SELECT count(*) AS n_pairs,
           round(avg(d_proj / d_full), 6) AS mean_ratio,
           round(min(d_proj / d_full), 6) AS min_ratio,
           round(max(d_proj / d_full), 6) AS max_ratio
    FROM pairs WHERE d_full > 0
    """,
)
def jl_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss sketching: project 64-dim embeddings to
    8 dims with a deterministic Rademacher ±1/√8 matrix and measure
    pairwise-distance distortion over all pairs of a 40-vector sample
    — the dimensionality-reduction step that makes downstream
    clustering/dedup cheaper at 100 TB (projection is a stateless map
    pass; the matrix is 8×64 plan literals, the same
    constant-folding trick as the LSH hyperplanes — no per-row
    hashing)."""
    emb = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 40)
    v = S.as_double(F.col("embedding"))
    # the double-cast is materialized as its own projection and the 8
    # projection folds reference the bound attribute: inline, each of
    # the 9 mentions of v re-ran the array cast per row (interpreted
    # HOF subtree, no CSE; CollapseProject keeps the split because vv
    # is referenced many times and non-cheap)
    proj = F.array(*[
        (F.aggregate(
            F.zip_with(F.col("vv"), F.array(*[F.lit(_jl_sign(p, i))
                                              for i in range(_DIM)]),
                       lambda x, s: x * s),
            F.lit(0.0), lambda acc, x: acc + x)
         / F.lit(8.0 ** 0.5))
        for p in range(8)])
    base = (emb.select("vec_id", v.alias("vv"))
            .select("vec_id", "vv", proj.alias("pv")))
    a, b = base.alias("a"), base.alias("b")

    def sqdist(x, y):
        return F.aggregate(F.zip_with(x, y, lambda u, w: (u - w) * (u - w)),
                           F.lit(0.0), lambda acc, e: acc + e)

    pairs = (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
             .select(F.sqrt(sqdist(F.col("a.vv"), F.col("b.vv")))
                     .alias("d_full"),
                     F.sqrt(sqdist(F.col("a.pv"), F.col("b.pv")))
                     .alias("d_proj")))
    ratio = F.col("d_proj") / F.col("d_full")
    return (pairs.where(F.col("d_full") > 0)
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.round(F.avg(ratio), 6).alias("mean_ratio"),
                 F.round(F.min(ratio), 6).alias("min_ratio"),
                 F.round(F.max(ratio), 6).alias("max_ratio")))


@query(
    "embedding_int8_quantization",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_min(embedding::DOUBLE[]) AS lo,
             list_max(embedding::DOUBLE[]) AS hi,
             embedding
      FROM embeddings
    ), rt AS (
      SELECT vec_id, label,
             list_sum(list_transform(range(1, {_DIM + 1}), i ->
               CASE WHEN hi = lo THEN 0.0 ELSE
                 ((lo + round((embedding[i]::DOUBLE - lo)
                              / (hi - lo) * 255.0)
                         * (hi - lo) / 255.0)
                  - embedding[i]::DOUBLE)
                 * ((lo + round((embedding[i]::DOUBLE - lo)
                                / (hi - lo) * 255.0)
                           * (hi - lo) / 255.0)
                    - embedding[i]::DOUBLE) END)) / {_DIM} AS mse
      FROM q
    )
    SELECT label, count(*) AS n_vecs,
           round(avg(mse) * 1e6, 6) AS mean_mse_ppm,
           round(max(mse) * 1e6, 6) AS max_mse_ppm
    FROM rt GROUP BY label ORDER BY label
    """,
)
def embedding_int8_quantization(spark, sf_dir):
    """Int8 scalar quantization round-trip (per-vector min/max scale,
    the FAISS SQ8 layout that cuts embedding storage 4×): quantize →
    dequantize → per-vector reconstruction MSE, summarized per label
    in parts-per-million.  Everything is row-local column math — the
    100 TB story IS the point: quantization needs no corpus pass, no
    codebook state, and composes with any ANN index upstream."""
    from sidecar_spark.functions.dedup import let1

    emb = t(spark, sf_dir, "embeddings")

    # v, lo and hi are let1-bound: the naive form captures lo/hi (each
    # an array_min/array_max fold) inside the per-element dequantize
    # lambda — interpreted HOF, no CSE, so every ELEMENT re-ran ~4
    # array folds (O(dim^2) per row); and every textual mention of v
    # re-cast the float array.  Bound: 1 cast + 1 min + 1 max per row.
    def mse_of(vv):
        def with_range(mm):
            lo, hi = mm["lo"], mm["hi"]
            scale = (hi - lo) / 255.0
            dq = F.transform(
                vv, lambda x: lo + F.round((x - lo) / (hi - lo) * 255.0)
                * scale)
            return F.when(hi == lo, F.lit(0.0)).otherwise(
                F.aggregate(F.zip_with(dq, vv, lambda a, b: (a - b) * (a - b)),
                            F.lit(0.0), lambda acc, e: acc + e))
        return let1(F.struct(F.array_min(vv).alias("lo"),
                             F.array_max(vv).alias("hi")), with_range)

    err2 = let1(S.as_double(F.col("embedding")), mse_of)
    mse = (err2 / _DIM).alias("mse")
    return (emb.select("label", mse)
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.avg("mse") * 1e6, 6).alias("mean_mse_ppm"),
                 F.round(F.max("mse") * 1e6, 6).alias("max_mse_ppm"))
            .orderBy("label"))


@query(
    "ann_recall_audit",
    oracle=f"""
    WITH planes AS (
      SELECT v.vec_id, v.embedding,
             array_to_string(list_transform(range(0, 8), p ->
               CASE WHEN list_sum(list_transform(range(1, {_DIM + 1}), i ->
                     (v.embedding[i]::DOUBLE) *
                     ((('0x' || substr(md5('hp' || p::VARCHAR || ':' || (i-1)::VARCHAR), 1, 15))::BIGINT
                       % 2001 - 1000) / 1000.0))) >= 0
                    THEN '1' ELSE '0' END), '') AS bucket
      FROM embeddings v),
    q AS (SELECT vec_id AS query_id, embedding AS q_vec, bucket
          FROM planes WHERE vec_id < 30),
    truth AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, v.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {_sql_cos('q.q_vec', 'v.embedding')} DESC,
                          v.vec_id) AS rk
        FROM embeddings v CROSS JOIN q
        WHERE v.vec_id <> q.query_id) WHERE rk <= 10
    ), approx AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, v.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {_sql_cos('q.q_vec', 'v.embedding')} DESC,
                          v.vec_id) AS rk
        FROM planes v JOIN q ON v.bucket = q.bucket
        WHERE v.vec_id <> q.query_id) WHERE rk <= 10
    ), per_q AS (
      SELECT t.query_id,
             count(a.vec_id) AS n_hit,
             count(*) AS n_truth
      FROM truth t
      LEFT JOIN approx a ON a.query_id = t.query_id
                        AND a.vec_id = t.vec_id
      GROUP BY t.query_id)
    SELECT count(*) AS n_queries,
           CAST(sum(n_hit) AS BIGINT) AS total_hits,
           CAST(sum(n_truth) AS BIGINT) AS total_truth,
           round(sum(n_hit) * 1.0 / sum(n_truth), 6) AS recall_at_10
    FROM per_q
    """,
)
def ann_recall_audit(spark, sf_dir):
    """Recall@10 of the hyperplane-LSH index against brute-force
    ground truth, for 30 queries — the eval loop every ANN deployment
    runs before trusting an index (the number that justifies the
    bucket join's speedup).  Composes the battery's two ANN operators
    and joins their result sets; at 100 TB the ground-truth side runs
    on a fixed query SAMPLE (here all 30), which is exactly how
    production recall audits bound the brute-force cost."""
    # both operators project + double-cast the same embeddings table
    # (the before plan scanned it 8×: truth side, approx side, two
    # query sides, AQE duplicates) — persist the casted projection once
    # and feed it to both; the 30-query sides are already broadcast
    # inside brute_force_topk/lsh_topk (the simhash-hamming pattern)
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding")) \
        .persist()
    queries = emb.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), "embedding")
    truth = S.brute_force_topk(emb, queries, k=10,
                               query_id_col="query_id") \
        .select("query_id", "vec_id")
    approx = S.lsh_topk(emb, queries, dim=_DIM, k=10, num_planes=8,
                        query_id_col="query_id") \
        .select("query_id", F.col("vec_id").alias("a_vec"))
    per_q = (
        truth.join(approx,
                   (truth.query_id == approx.query_id)
                   & (truth.vec_id == approx.a_vec), "left")
        .groupBy(truth.query_id)
        .agg(F.count("a_vec").alias("n_hit"),
             F.count(F.lit(1)).alias("n_truth")))
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("n_hit").cast("bigint").alias("total_hits"),
        F.sum("n_truth").cast("bigint").alias("total_truth"),
        F.round(F.sum("n_hit") / F.sum("n_truth"), 6)
        .alias("recall_at_10"))


@query(
    "multimodal_perceptual_hash_dedup",
    oracle="""
    WITH imgs AS (
      SELECT doc_id, doc_id % 16 AS base FROM documents
      WHERE doc_id % 7 = 0
    ), bits AS (
      -- pixel(x,y) = (base*7 + x*13 + y*31) % 256 on the 8x8 grid;
      -- aHash bit p (p = y*8+x) = pixel > mean(pixels)
      SELECT i.doc_id, i.base, g.p,
             CASE WHEN (i.base * 7 + (g.p % 8) * 13 + (g.p // 8) * 31)
                       % 256 >
                  (SELECT avg((i.base * 7 + (h.q % 8) * 13
                               + (h.q // 8) * 31) % 256)
                   FROM generate_series(0, 63) h(q))
                  THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      FROM imgs i CROSS JOIN generate_series(0, 62) g(p)
    ), hashes AS (
      SELECT doc_id, CAST(sum(bit << p) AS BIGINT) AS ahash
      FROM bits GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, ahash, g.b AS band_idx,
             (ahash >> (16 * g.b)) & 65535 AS bv
      FROM hashes CROSS JOIN generate_series(0, 3) g(b)
    ), cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.ahash AS ha, b.ahash AS hb
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.bv = b.bv
       AND a.doc_id < b.doc_id
    )
    SELECT bit_count(xor(ha, hb)) AS hamming, count(*) AS n_pairs
    FROM cands WHERE bit_count(xor(ha, hb)) <= 6
    GROUP BY hamming ORDER BY hamming
    """,
)
def multimodal_perceptual_hash_dedup(spark, sf_dir):
    """IMAGE near-dup detection by perceptual hash over the REAL
    decode path: 8×8 PNGs (pixel = (base·7 + x·13 + y·31) mod 256)
    are encoded with the stdlib PNG writer, decoded back to pixels
    inside mapInPandas, aHashed (bit = pixel > image mean), and
    paired via 4×16-bit pigeonhole bands + ``bit_count(xor)`` ≤ 6
    verify — the image-dedup pipeline (pHash family) end to end.
    The oracle computes every aHash bit arithmetically from the
    synthesis formula, so a hash match PROVES the decoder returned
    the exact pixels.  Scale shape identical to simhash banding:
    map-side hash, band equi-join, integer verify."""
    import numpy as np
    import pandas as pd

    d = (spread(t(spark, sf_dir, "documents"))
         .where(F.col("doc_id") % 7 == 0)
         .select("doc_id", (F.col("doc_id") % 16).cast("int").alias("base")))

    def synth_hash(it):
        for pdf in it:
            hashes = []
            for b in pdf["base"]:
                x = np.arange(8)
                px = ((int(b) * 7 + x[None, :] * 13 + x[:, None] * 31)
                      % 256).astype(np.uint8)
                payload = M.encode_png_gray(px)          # real encode
                a = M.decode_image_array(payload)        # real decode
                bits = (a.astype("float64") > a.mean()).flatten()
                # 63-bit aHash: bit 63 would overflow signed int64
                hashes.append(int(sum(1 << p for p, v in
                                      enumerate(bits[:63]) if v)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values,
                                "ahash": pd.array(hashes, dtype="int64")})

    hashes = d.mapInPandas(synth_hash, "doc_id long, ahash long")
    banded = hashes.select(
        "doc_id", "ahash",
        F.posexplode(F.array(*[
            F.shiftright("ahash", 16 * b).bitwiseAND(F.lit(65535))
            for b in range(4)])).alias("band_idx", "bv"))
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.bv") == F.col("b.bv"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.ahash").alias("ha"), F.col("b.ahash").alias("hb"))
        .distinct())
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (cands.select(ham.alias("hamming"))
            .where(F.col("hamming") <= 6)
            .groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("hamming"))


@query(
    "knn_classifier_eval",
    oracle=f"""
    WITH test AS (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE vec_id % 25 = 0
    ), train AS (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE vec_id % 25 <> 0
    ), nn AS (
      SELECT vec_id, true_label, n_label FROM (
        SELECT t.vec_id, t.label AS true_label,
               r.label AS n_label,
               row_number() OVER (PARTITION BY t.vec_id
                 ORDER BY {_sql_cos('t.embedding', 'r.embedding')} DESC,
                          r.vec_id) AS rk
        FROM test t CROSS JOIN train r) WHERE rk <= 5
    ), votes AS (
      SELECT vec_id, true_label, n_label, count(*) AS n_votes
      FROM nn GROUP BY vec_id, true_label, n_label
    ), pred AS (
      SELECT vec_id, true_label, n_label AS pred_label FROM (
        SELECT vec_id, true_label, n_label,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY n_votes DESC, n_label) AS rk
        FROM votes) WHERE rk = 1
    )
    SELECT true_label,
           count(*) AS n_test,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(avg(CASE WHEN pred_label = true_label
                     THEN 1.0 ELSE 0.0 END), 6) AS accuracy
    FROM pred GROUP BY true_label ORDER BY true_label
    """,
)
def knn_classifier_eval(spark, sf_dir):
    """k-NN classification eval (k=5, cosine) on the labeled
    embeddings: a held-out sample (1 in 25) is classified by
    majority vote of its 5 nearest training vectors (vote ties →
    smallest label; neighbor ties → smallest id), reported as
    per-label accuracy — the standard embedding-quality probe
    (label-coherence of the vector space).  Same broadcast one-pass
    scoring shape as the ANN baseline: the small test side
    broadcasts, train never shuffles, top-5 is a per-query window
    rank."""
    from pyspark.sql import Window as W

    emb = t(spark, sf_dir, "embeddings")
    # norms are per-row, computed BEFORE the cross join (the
    # brute_force_topk pattern): S.cosine inline evaluates each norm
    # fold twice per PAIR (zero-guard + divisor; interpreted HOF, no
    # CSE) — 5 array folds per pair where 1 (the dot) suffices.
    # norm(q)*norm(r) is commutative in IEEE, so values are unchanged.
    test = emb.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("true_label"),
        S.as_double(F.col("embedding")).alias("q_vec")) \
        .withColumn("q_nrm", S.norm(F.col("q_vec")))
    train = spread(emb.where(F.col("vec_id") % 25 != 0)).select(
        F.col("vec_id").alias("rid"), F.col("label").alias("n_label"),
        S.as_double(F.col("embedding")).alias("r_vec")) \
        .withColumn("r_nrm", S.norm(F.col("r_vec")))
    cos = S.cosine_of(S.dot(F.col("q_vec"), F.col("r_vec")),
                      F.col("q_nrm") * F.col("r_nrm"))
    nn = (train.crossJoin(F.broadcast(test))
          .withColumn("rk", F.row_number().over(
              W.partitionBy("qid").orderBy(F.desc(cos), F.asc("rid"))))
          .where(F.col("rk") <= 5)
          .select("qid", "true_label", "n_label"))
    votes = nn.groupBy("qid", "true_label", "n_label") \
        .agg(F.count(F.lit(1)).alias("n_votes"))
    pred = (votes.withColumn("rk", F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("n_votes"), F.asc("n_label"))))
        .where(F.col("rk") == 1))
    correct = F.when(F.col("n_label") == F.col("true_label"), 1).otherwise(0)
    return (pred.groupBy("true_label")
            .agg(F.count(F.lit(1)).alias("n_test"),
                 F.sum(correct).cast("bigint").alias("n_correct"),
                 F.round(F.avg(correct), 6).alias("accuracy"))
            .orderBy("true_label"))


_DB_EPS = 0.25   # cosine radius
_DB_MINPTS = 8   # neighbors (excluding self) to be a core point


@query(
    "dbscan_density_clusters",
    oracle=f"""
    WITH RECURSIVE buckets AS (
      SELECT v.vec_id, v.embedding,
             array_to_string(list_transform(range(0, 4), p ->
               CASE WHEN list_sum(list_transform(range(1, {_DIM + 1}), i ->
                     (v.embedding[i]::DOUBLE) *
                     ((('0x' || substr(md5('hp' || p::VARCHAR || ':' || (i-1)::VARCHAR), 1, 15))::BIGINT
                       % 2001 - 1000) / 1000.0))) >= 0
                    THEN '1' ELSE '0' END), '') AS bucket
      FROM embeddings v
    ), pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb
      FROM buckets a JOIN buckets b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_sql_cos('a.embedding', 'b.embedding')} >= {_DB_EPS}
    ), sym AS (
      SELECT ida AS x, idb AS y FROM pairs
      UNION ALL SELECT idb, ida FROM pairs
    ), degree AS (
      SELECT x AS vec_id, count(*) AS n_nbr FROM sym GROUP BY x
    ), core AS (
      SELECT vec_id FROM degree WHERE n_nbr >= {_DB_MINPTS}
    ), core_edges AS (
      SELECT p.ida AS a, p.idb AS b FROM pairs p
      JOIN core ca ON ca.vec_id = p.ida
      JOIN core cb ON cb.vec_id = p.idb
    ), cs AS (
      SELECT a, b FROM core_edges UNION SELECT b, a FROM core_edges
    ), reach(id, r) AS (
      SELECT vec_id, vec_id FROM core
      UNION
      SELECT re.id, e.b FROM reach re JOIN cs e ON e.a = re.r
    ), clusters AS (
      SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id
    ), sizes AS (
      SELECT cluster_id, count(*) AS n_core FROM clusters
      GROUP BY cluster_id
    )
    SELECT (SELECT count(*) FROM embeddings) AS n_points,
           (SELECT count(*) FROM core) AS n_core,
           (SELECT count(*) FROM sizes) AS n_clusters,
           (SELECT coalesce(max(n_core), 0) FROM sizes)
             AS largest_cluster,
           (SELECT count(*) FROM embeddings)
             - (SELECT count(*) FROM core) AS n_non_core
    """,
)
def dbscan_density_clusters(spark, sf_dir):
    """DBSCAN's core machinery over the embedding space: radius
    neighbors (cosine ≥ {_DB_EPS}) → core points (≥ {_DB_MINPTS}
    neighbors) → density-connected clusters as connected components
    of the core-core graph — the density clustering that finds
    variable-shape structure k-means can't, used in curation to
    discover content pockets and outliers (non-core points).
    Candidate pairs come from a 4-plane hyperplane-LSH bucket join
    (the quadratic all-pairs scan is infeasible at scale; bucketing
    makes this the standard approximate DBSCAN — neighbors missed by
    bucketing lower the observed density identically on both
    sides), then a degree count and the battery's min-label
    component machinery.  Summary: core/cluster/noise census."""
    from sidecar_spark.functions.dedup import connected_components_star

    emb = t(spark, sf_dir, "embeddings")
    v = spread(emb).select(
        "vec_id", S.as_double(F.col("embedding")).alias("vv"),
        S.hyperplane_signature(F.col("embedding"), _DIM, num_planes=4)
        .alias("bucket"))

    # per-bucket pairwise cosine as a BLAS GEMM (Arrow-batched, one
    # group per LSH bucket) — the bucket bound keeps each GEMM
    # quadratic-in-bucket, never in the corpus, and replaces ~250k
    # fold-expression cosines with one matrix multiply per bucket
    def bucket_pairs(pdf):
        import numpy as np
        import pandas as pd
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(pdf["vv"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        sims = (mat / norms[:, None]) @ (mat / norms[:, None]).T
        iu, ju = np.triu_indices(len(ids), 1)
        keep = sims[iu, ju] >= _DB_EPS
        return pd.DataFrame({"ida": ids[iu[keep]], "idb": ids[ju[keep]]})

    pairs = (v.groupBy("bucket")
             .applyInPandas(bucket_pairs, "ida bigint, idb bigint")
             .localCheckpoint(eager=True))
    sym = (pairs.select(F.col("ida").alias("x"))
           .union(pairs.select("idb")))
    core = (sym.groupBy("x").agg(F.count(F.lit(1)).alias("n_nbr"))
            .where(F.col("n_nbr") >= _DB_MINPTS)
            .select(F.col("x").alias("vec_id")))
    core_edges = (pairs
                  .join(core.withColumnRenamed("vec_id", "ida"), "ida")
                  .join(core.withColumnRenamed("vec_id", "idb"), "idb")
                  .select(F.col("ida").alias("doc_a"),
                          F.col("idb").alias("doc_b"),
                          F.lit(0.0).alias("jaccard")))
    clusters = connected_components_star(
        core_edges, core.withColumnRenamed("vec_id", "doc_id"))
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_core"))
    n_points = emb.count()
    n_core = core.count()
    stats = sizes.agg(F.count(F.lit(1)).alias("n_clusters"),
                      F.coalesce(F.max("n_core"), F.lit(0))
                      .alias("largest_cluster")).first()
    return spark.createDataFrame(
        [(n_points, n_core, stats["n_clusters"],
          stats["largest_cluster"], n_points - n_core)],
        "n_points bigint, n_core bigint, n_clusters bigint,"
        " largest_cluster bigint, n_non_core bigint")


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic deduplication


@query(
    "semdedup_prune",
    oracle=f"""
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
             embedding AS cvec
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT 8)
    ), dist AS (
      SELECT v.vec_id, c.cid, v.embedding,
             list_sum(list_transform(range(1, {_DIM + 1}),
                 i -> (v.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)
                      * (v.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE))) AS d
      FROM embeddings v CROSS JOIN cent c
    ), assign AS (
      SELECT vec_id, cid, embedding FROM (
        SELECT vec_id, cid, embedding,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d, cid) AS rk
        FROM dist) WHERE rk = 1
    ), pairs AS (
      SELECT a.cid, a.vec_id AS keeper, b.vec_id AS pruned,
             {_sql_cos('a.embedding', 'b.embedding')} AS cos_sim
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {_sql_cos('a.embedding', 'b.embedding')} >= 0.35)
    SELECT cid AS cluster_id, pruned AS vec_id,
           min(keeper) AS keeper_id,
           round(max(cos_sim), 6) AS max_cos,
           count(*) AS n_closer
    FROM pairs
    GROUP BY cid, pruned
    """,
)
def semdedup_prune(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-style bucketing makes
    semantic dedup sub-quadratic — pairwise cosine is computed ONLY
    inside a cluster, never across the corpus.  A vector is pruned
    when a lower-id cluster-mate is >= 0.35 cosine-similar.

    100 TB plan: the k x dim centroid matrix is driver-size and
    broadcast (assignment = pure map argmin, zero shuffle of the big
    table); ONE shuffle groups each cluster, and the intra-cluster
    pairwise cosine runs as a BLAS GEMM inside applyInPandas (the
    same Arrow-batched shape as the blocked near-dup GEMM in
    functions/similarity.py) — the quadratic term is bounded by the
    largest cluster, not the corpus, which is the whole point of
    SemDeDup; at larger corpora k grows to hold cluster sizes flat.
    Deterministic centroids (8 lowest vec_ids) keep the oracle
    replayable."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = [(r["vec_id"], r["v"])
             for r in e.orderBy("vec_id").limit(8).collect()]

    def sqdist(c_vals):
        lit_c = F.array(*[F.lit(float(x)) for x in c_vals])
        return F.aggregate(
            F.zip_with("v", lit_c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)

    from sidecar_spark.functions.dedup import let1

    # let1-bound argmin: unbound, the 2 mentions of dists re-ran all
    # 8 squared-distance folds (interpreted HOF subtree, no CSE)
    dists = F.array(*[sqdist(c) for _, c in cents])
    assigned = e.select(
        "vec_id",
        let1(dists, lambda dd: (
            F.array_position(dd, F.array_min(dd)) - 1).cast("bigint"))
        .alias("cluster_id"),
        "v")

    def prune(pdf):
        import numpy as np
        import pandas as pd
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        sims = (mat / norms[:, None]) @ (mat / norms[:, None]).T
        rows = []
        for j in range(1, len(ids)):
            close = np.where(sims[:j, j] >= 0.35)[0]
            if len(close):
                rows.append((int(pdf["cluster_id"].iloc[0]), int(ids[j]),
                             int(ids[close[0]]),
                             round(float(sims[close, j].max()), 6),
                             int(len(close))))
        return pd.DataFrame(
            rows, columns=["cluster_id", "vec_id", "keeper_id",
                           "max_cos", "n_closer"])

    return assigned.groupBy("cluster_id").applyInPandas(
        prune, "cluster_id bigint, vec_id bigint, keeper_id bigint,"
               " max_cos double, n_closer bigint")


# ---------------------------------------------------------------------------
# Hybrid retrieval: Reciprocal Rank Fusion of BM25 and dense cosine


def _rrf_oracle() -> str:
    # Compose the registered BM25 oracle as a CTE (single source of
    # truth for the lexical ranking) and fuse with a dense cosine
    # ranking for the query vector (= embedding of vec 0).
    from sidecar_spark.queries import text_pipeline  # registers bm25
    from sidecar_spark.queries.registry import ORACLES

    bm25 = ORACLES["bm25_doc_search"]
    return f"""
    WITH lex0 AS ({bm25}),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
      FROM lex0),
    qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS dense_rank
      FROM (
        SELECT v.vec_id,
               round({_sql_cos('q.q_vec', 'v.embedding')}, 6) AS cos_sim
        FROM embeddings v CROSS JOIN qv q
        WHERE v.vec_id <> 0)
      QUALIFY dense_rank <= 20),
    fused AS (
      SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
             coalesce(l.lex_rank, 0) AS lex_rank,
             coalesce(d.dense_rank, 0) AS dense_rank,
             coalesce(1.0 / (60 + l.lex_rank), 0.0)
             + coalesce(1.0 / (60 + d.dense_rank), 0.0) AS s
      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
    SELECT doc_id, lex_rank, dense_rank, round(s, 6) AS rrf_score,
           row_number() OVER (ORDER BY s DESC, doc_id) AS rk
    FROM fused
    QUALIFY rk <= 10
    """


@query("hybrid_search_rrf", oracle=_rrf_oracle())
def hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009): fuse the BM25 lexical top-20 with the dense cosine top-20
    (query vector = embedding of vec 0, standing in for the encoded
    query) by s = sum 1/(60+rank), keep the fused top-10.

    100 TB plan: each leg is a TakeOrdered top-k (no global sort);
    the fusion join touches only 2k candidate rows — driver-size —
    while ranking stays distributed.  Absent-from-list ranks surface
    as 0 (contribution 0), keeping the output schema null-free for
    the strict hash."""
    from pyspark.sql import Window as W

    from sidecar_spark.queries.text_pipeline import bm25_doc_search

    lex = bm25_doc_search(spark, sf_dir).select(
        "doc_id",
        F.row_number().over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("bigint").alias("lex_rank"))

    emb = t(spark, sf_dir, "embeddings")
    q_vec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    lit_q = F.array(*[F.lit(float(x)) for x in q_vec])
    # the query-vector norm is a constant: fold it driver-side (same
    # sequential IEEE accumulation as S.norm, so the value is
    # bit-identical) instead of re-folding the 64-literal array per
    # row — and per MENTION, since S.cosine names each norm twice
    # inside an interpreted HOF subtree with no CSE
    q_acc = 0.0
    for _x in q_vec:
        q_acc += float(_x) * float(_x)
    q_nrm = F.lit(math.sqrt(q_acc))
    v_nrm = S.norm(F.col("embedding").cast("array<double>"))
    cos = S.cosine_of(
        S.dot(F.col("embedding").cast("array<double>"), lit_q),
        v_nrm * q_nrm)
    dense = (emb.where(F.col("vec_id") != 0)
             .select(F.col("vec_id").alias("doc_id"),
                     F.round(cos, 6).alias("cos_sim"))
             .orderBy(F.desc("cos_sim"), F.asc("doc_id")).limit(20)
             .select("doc_id",
                     F.row_number().over(
                         W.orderBy(F.desc("cos_sim"), F.asc("doc_id")))
                     .cast("bigint").alias("dense_rank")))

    fused = (lex.join(dense, "doc_id", "full_outer")
             .select("doc_id",
                     F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
                     F.coalesce("dense_rank", F.lit(0)).alias("dense_rank"))
             .withColumn(
                 "s",
                 F.when(F.col("lex_rank") > 0,
                        1.0 / (60 + F.col("lex_rank"))).otherwise(0.0)
                 + F.when(F.col("dense_rank") > 0,
                          1.0 / (60 + F.col("dense_rank"))).otherwise(0.0)))
    return (fused
            .orderBy(F.desc("s"), F.asc("doc_id")).limit(10)
            .select("doc_id", "lex_rank", "dense_rank",
                    F.round("s", 6).alias("rrf_score"),
                    F.row_number().over(
                        W.orderBy(F.desc("s"), F.asc("doc_id")))
                    .cast("bigint").alias("rk")))


# ---------------------------------------------------------------------------
# DSIR: data selection via hashed-n-gram importance resampling


@query(
    "dsir_importance_weights",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(lower(text)), '\\s+')
                    END) AS w
      FROM documents
    ), feats AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(w), 1, 15))::BIGINT % 256 AS bucket
      FROM toks
    ), counts AS (
      SELECT bucket,
             count(*) FILTER (WHERE source = 'src0') AS n_t,
             count(*) FILTER (WHERE source <> 'src0') AS n_r
      FROM feats GROUP BY bucket
    ), totals AS (
      SELECT sum(n_t) AS tot_t, sum(n_r) AS tot_r FROM counts
    ), ratios AS (
      SELECT bucket,
             ln(((n_t + 1.0) / (tot_t + 256.0))
                / ((n_r + 1.0) / (tot_r + 256.0))) AS lr
      FROM counts CROSS JOIN totals
    ), scored AS (
      SELECT f.doc_id, count(*) AS n_tokens,
             round(sum(r.lr), 5) AS log_weight
      FROM feats f JOIN ratios r ON f.bucket = r.bucket
      WHERE f.source <> 'src0'
      GROUP BY f.doc_id)
    SELECT doc_id, n_tokens, log_weight,
           row_number() OVER (ORDER BY log_weight DESC, doc_id) AS rk
    FROM scored
    QUALIFY rk <= 20
    """,
)
def dsir_importance_weights(spark, sf_dir):
    """DSIR (Xie et al. 2023): select raw-corpus documents that look
    like a target domain by importance weights over hashed unigram
    features.  Target = source 'src0'; raw = everything else; per-
    bucket log-ratio of Laplace-smoothed (+1 over 256 buckets)
    unigram probabilities; a doc's log-weight is the sum over its
    tokens; keep the top-20 raw docs.

    100 TB plan: the feature table is one explode pass; the 256-row
    bucket-ratio table is a broadcast join back onto the token
    stream (never a shuffle of the corpus); top-k is TakeOrdered.
    Ranking on the ROUNDED weight keeps the frontier stable across
    engines."""
    from pyspark.sql import Window as W

    d = spread(t(spark, sf_dir, "documents"))
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    toks = (d.where(F.trim(F.col("text")) != "")
            .select("doc_id", "source", F.explode(words).alias("w")))
    # feats feeds both the bucket-ratio aggregation and the scoring
    # join — plan branches are not CSE'd, so unpersisted the corpus
    # explode + per-token md5 ran twice.  The persisted rows are the
    # narrow hashed-feature table (doc_id, source, int bucket), not
    # raw text — exactly what DSIR materializes once at scale.
    feats = toks.select(
        "doc_id", "source",
        (F.conv(F.substring(F.md5("w"), 1, 15), 16, 10)
         .cast("bigint") % 256).alias("bucket")).persist()
    counts = feats.groupBy("bucket").agg(
        F.count_if(F.col("source") == "src0").alias("n_t"),
        F.count_if(F.col("source") != "src0").alias("n_r"))
    totals = counts.agg(F.sum("n_t").alias("tot_t"),
                        F.sum("n_r").alias("tot_r"))
    ratios = counts.join(F.broadcast(totals)).select(
        "bucket",
        F.log(((F.col("n_t") + 1.0) / (F.col("tot_t") + 256.0))
              / ((F.col("n_r") + 1.0) / (F.col("tot_r") + 256.0)))
        .alias("lr"))
    scored = (feats.where(F.col("source") != "src0")
              .join(F.broadcast(ratios), "bucket")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.round(F.sum("lr"), 5).alias("log_weight")))
    return (scored
            .orderBy(F.desc("log_weight"), F.asc("doc_id")).limit(20)
            .select("doc_id", "n_tokens", "log_weight",
                    F.row_number().over(
                        W.orderBy(F.desc("log_weight"), F.asc("doc_id")))
                    .cast("bigint").alias("rk")))


# ---------------------------------------------------------------------------
# MMR: maximal-marginal-relevance diversification

_MMR_LAMBDA = 0.7
_MMR_K = 5


def _mmr_oracle() -> str:
    lam = _MMR_LAMBDA
    steps, final = [], ["SELECT rk, vec_id, round(mmr, 6) AS mmr FROM s1"]
    for i in range(2, _MMR_K + 1):
        p = i - 1
        steps.append(f"""
    s{i} AS (
      SELECT c.vec_id, c.rel, {i} AS rk,
             {lam} * c.rel - {1 - lam:.1f} * max(s.s) AS mmr
      FROM cand c JOIN sim s
        ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM sel{p})
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{p})
      GROUP BY c.vec_id, c.rel
      ORDER BY mmr DESC, c.vec_id LIMIT 1
    ), sel{i} AS (
      SELECT vec_id FROM sel{p} UNION ALL SELECT vec_id FROM s{i})""")
        final.append(f"SELECT rk, vec_id, round(mmr, 6) AS mmr FROM s{i}")
    return f"""
    WITH qv AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT vec_id, embedding, rel FROM (
        SELECT v.vec_id, v.embedding,
               round({_sql_cos('q.q_vec', 'v.embedding')}, 6) AS rel,
               row_number() OVER (
                 ORDER BY round({_sql_cos('q.q_vec', 'v.embedding')}, 6)
                          DESC, v.vec_id) AS rk
        FROM embeddings v CROSS JOIN qv q WHERE v.vec_id <> 0)
      WHERE rk <= 20),
    sim AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             round({_sql_cos('a.embedding', 'b.embedding')}, 6) AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
    s1 AS (SELECT vec_id, rel, 1 AS rk, rel AS mmr
           FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
    sel1 AS (SELECT vec_id FROM s1),{','.join(steps)}
    {' UNION ALL '.join(final)}
    ORDER BY rk
    """


@query("mmr_diversification", oracle=_mmr_oracle())
def mmr_diversification(spark, sf_dir):
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998):
    re-rank the dense top-20 for query vec 0 into a diverse top-5,
    greedily maximizing lambda*rel - (1-lambda)*max-sim-to-selected
    (lambda=0.7).

    100 TB plan: relevance ranking and the candidate pairwise-cosine
    matrix are computed DISTRIBUTED (TakeOrdered top-k + a self-join
    of the 20-row candidate set); only the greedy selection over the
    collected k x k rounded-similarity matrix runs driver-side —
    O(k^2) state, exactly like collecting k-means centroids.  Both
    engines make every greedy decision on 6-decimal-rounded
    similarities, so tie-breaks (by vec_id) agree exactly."""
    emb = t(spark, sf_dir, "embeddings")
    q_vec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    lit_q = F.array(*[F.lit(float(x)) for x in q_vec])
    cos_q = S.cosine(F.col("embedding").cast("array<double>"), lit_q)
    cand = (emb.where(F.col("vec_id") != 0)
            .select("vec_id", "embedding", F.round(cos_q, 6).alias("rel"))
            .orderBy(F.desc("rel"), F.asc("vec_id")).limit(20)
            .localCheckpoint(eager=True))
    a = cand.select(F.col("vec_id").alias("ia"),
                    F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("ib"),
                    F.col("embedding").alias("eb"))
    sims = (a.join(b, F.col("ia") != F.col("ib"))
            .select("ia", "ib",
                    F.round(S.cosine(F.col("ea").cast("array<double>"),
                                     F.col("eb").cast("array<double>")),
                            6).alias("s")))
    rel = {r["vec_id"]: r["rel"] for r in cand.select("vec_id", "rel").collect()}
    sim = {(r["ia"], r["ib"]): r["s"] for r in sims.collect()}
    selected, out = [], []
    for rk in range(1, _MMR_K + 1):
        best = None
        for v in sorted(rel):
            if v in selected:
                continue
            if not selected:
                score = rel[v]
            else:
                score = (_MMR_LAMBDA * rel[v]
                         - (1 - _MMR_LAMBDA)
                         * max(sim[(v, s)] for s in selected))
            if best is None or score > best[1]:
                best = (v, score)
        selected.append(best[0])
        out.append((rk, best[0], round(best[1], 6)))
    return spark.createDataFrame(
        out, "rk int, vec_id bigint, mmr double").orderBy("rk")


# ---------------------------------------------------------------------------
# Product quantization audit


@query(
    "pq_quantization_audit",
    oracle=f"""
    WITH cb AS (
      SELECT vec_id AS code, embedding AS cv FROM embeddings
      WHERE vec_id < 4
    ), sub AS (
      SELECT v.vec_id, g.s AS subspace, c.code,
             list_sum(list_transform(range(1, 9), i ->
               (v.embedding[g.s * 8 + i]::DOUBLE
                - c.cv[g.s * 8 + i]::DOUBLE)
               * (v.embedding[g.s * 8 + i]::DOUBLE
                  - c.cv[g.s * 8 + i]::DOUBLE))) AS sqd
      FROM embeddings v
      CROSS JOIN generate_series(0, 7) g(s)
      CROSS JOIN cb c
    ), assigned AS (
      SELECT vec_id, subspace, code, sqd FROM (
        SELECT vec_id, subspace, code, sqd,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY sqd, code) AS rk
        FROM sub) WHERE rk = 1
    )
    SELECT subspace, code,
           count(*) AS n_assigned,
           round(avg(sqd), 6) AS mean_sqdist
    FROM assigned GROUP BY subspace, code
    """,
)
def pq_quantization_audit(spark, sf_dir):
    """Product quantization (Jegou et al. 2011), the workhorse ANN
    compression: split the 64-dim embedding into 8 subspaces of 8
    dims, quantize each subvector to its nearest of 4 codebook
    entries (deterministic codebook: subvectors of vecs 0-3), and
    audit code usage + mean squared reconstruction error per
    (subspace, code) cell — 64 doubles compress to 8 code bytes.

    100 TB plan: the codebook is driver-size and inlined (assignment
    is a PURE MAP argmin per subspace — zero joins of the corpus);
    the only shuffle is the final 32-cell aggregate."""
    from sidecar_spark.functions.dedup import let1

    emb = t(spark, sf_dir, "embeddings")
    cb = [(r["vec_id"], [float(x) for x in r["embedding"]])
          for r in emb.where(F.col("vec_id") < 4)
          .select("vec_id", "embedding").collect()]
    v = emb.select("vec_id",
                   F.col("embedding").cast("array<double>").alias("v"))

    # sub and dists are let1-bound: this subtree is a CodegenFallback
    # HOF (interpreted, no common-subexpression elimination), and the
    # naive form mentions dists 3x (argmin, min, element_at) and sub
    # once per codebook entry — 12 squared-distance folds per
    # (row, subspace) where 4 suffice (measured 22.5 s -> the bound
    # form's fold count; same bug class as the r10 shingle fix)
    def cell(s):
        def dists_of(sub):
            return F.array(*[
                F.aggregate(
                    F.zip_with(sub,
                               F.array(*[F.lit(c[1][s * 8 + i])
                                         for i in range(8)]),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda acc, x: acc + x)
                for c in cb])

        def pick(dists):
            code = (F.array_position(dists, F.array_min(dists)) - 1)
            return F.struct(F.lit(s).alias("subspace"),
                            code.cast("bigint").alias("code"),
                            F.element_at(dists, code.cast("int") + 1)
                            .alias("sqd"))

        return let1(let1(F.slice("v", s * 8 + 1, 8), dists_of), pick)

    cells = v.select(
        "vec_id", F.explode(F.array(*[cell(s) for s in range(8)]))
        .alias("c"))
    return (cells
            .groupBy(F.col("c.subspace").alias("subspace"),
                     F.col("c.code").alias("code"))
            .agg(F.count(F.lit(1)).alias("n_assigned"),
                 F.round(F.avg("c.sqd"), 6).alias("mean_sqdist")))
