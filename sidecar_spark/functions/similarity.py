"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant (random-hyperplane signs → bucket equi-join) is the scale path:
at 100 TB the cross join is infeasible, but hyperplane bucketing turns
it into an equi-join on short signatures with a verify step — the same
candidate-generation shape as MinHash LSH.

All vector math is JVM-side (zip_with/aggregate) in double precision,
sequential over the array — bit-identical to DuckDB's list functions,
so cosine scores are oracle-checkable after round(., 6).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sidecar_spark.functions.common import spread
from sidecar_spark.functions.dedup import hash60


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_of(dot_ab, denom) -> Column:
    """Cosine from a dot product and its norm product: 0.0 when the
    product is 0 (a zero vector), the one zero-denominator guard."""
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot_ab / denom)


def cosine(a, b) -> Column:
    return cosine_of(dot(a, b), norm(a) * norm(b))


def as_double(a) -> Column:
    return F.col(a).cast("array<double>") if isinstance(a, str) else a.cast("array<double>")


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    vector corpus, rank per query. One pass over the corpus, no
    corpus-side shuffle beyond the per-query top-k aggregation."""
    from pyspark.sql import Window as W

    # norms are per-row, computed before the join — the per-pair work
    # is the dot product only (same IEEE ops as the naive per-pair
    # cosine, so oracle parity is unaffected)
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("q_vec"),
    ).withColumn("q_nrm", norm(F.col("q_vec")))
    v = spread(vectors).select(
        F.col(id_col).alias("vec_id"),
        as_double(F.col(vec_col)).alias("v_vec"),
    ).withColumn("v_nrm", norm(F.col("v_vec")))
    cos = cosine_of(dot(F.col("q_vec"), F.col("v_vec")),
                    F.col("v_nrm") * F.col("q_nrm"))
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


def _plane_weight(p: int, i: int) -> float:
    """Hyperplane component: hash60('hp{p}:{i}') % 2001 scaled to
    [-1, 1]. Computed driver-side with hashlib — EXACTLY the value the
    DuckDB oracle derives from md5 in SQL — so the weights ship to
    executors as plan literals and no md5 runs per row. (The previous
    in-plan formulation cost dim × num_planes md5 calls per ROW.)"""
    import hashlib

    h = int(hashlib.md5(f"hp{p}:{i}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def hyperplane_signature(vec_col, dim: int, num_planes: int = 8) -> Column:
    """Sign-of-projection LSH signature as a ``num_planes``-char bit
    string. Hyperplane components are deterministic pseudo-random
    values derived from md5(plane:i) scaled to [-1, 1] — fully
    reproducible in SQL, no RNG state; materialized as literal arrays
    (constant-folded), so the per-row work is num_planes × dim
    multiply-adds."""

    def plane_sign(p: int) -> Column:
        weights = F.array(*[F.lit(_plane_weight(p, i)) for i in range(dim)])
        proj = F.aggregate(
            F.zip_with(vec_col.cast("array<double>"), weights,
                       lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0"))

    return F.concat(*[plane_sign(p) for p in range(num_planes)])


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane
    bucket; exact cosine + rank within the bucket. At scale the bucket
    join replaces the cross join — recall is tunable via num_planes
    (fewer planes → bigger buckets → higher recall, more compute)."""
    from pyspark.sql import Window as W

    v = spread(vectors).select(
        F.col(id_col).alias("vec_id"),
        as_double(F.col(vec_col)).alias("v_vec"),
    ).withColumn("bucket", hyperplane_signature(F.col("v_vec"), dim, num_planes)) \
     .withColumn("v_nrm", norm(F.col("v_vec")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("q_vec"),
    ).withColumn("bucket", hyperplane_signature(F.col("q_vec"), dim, num_planes)) \
     .withColumn("q_nrm", norm(F.col("q_vec")))
    cos = cosine_of(dot(F.col("q_vec"), F.col("v_vec")),
                    F.col("q_nrm") * F.col("v_nrm"))
    scored = (
        v.join(F.broadcast(q), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


def _ivf_assign(df: DataFrame, cent, id_out: str, vec_out: str,
                nprobe: int = 1) -> DataFrame:
    """Map-side IVF list assignment: exact L2² distance to every
    centroid, emit the ``nprobe`` nearest list ids (ties break on list
    order, matching SQL's ORDER BY d, list_id). numpy over Arrow
    batches — assignment never shuffles N×C rows."""
    import numpy as np
    import pandas as pd

    def batches(it):
        for pdf in it:
            ids = pdf["vid"].to_numpy(dtype=np.int64)
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
            # exact per-pair L2² (not the |x|²-2xc+|c|² expansion) so the
            # value matches the oracle's per-element fold
            d = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
            out_ids = np.repeat(ids, nprobe)
            out_vecs = [v for v in pdf["vec"] for _ in range(nprobe)]
            out_lists = order.reshape(-1)
            yield pd.DataFrame({
                id_out: out_ids,
                vec_out: out_vecs,
                "list_id": out_lists.astype(np.int64),
            })

    return df.mapInPandas(
        batches,
        schema=f"{id_out} long, {vec_out} array<double>, list_id long")


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    n_lists: int = 16,
    nprobe: int = 2,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: a coarse quantizer partitions the corpus
    into ``n_lists`` inverted lists; queries probe the ``nprobe``
    nearest lists and rank candidates by exact cosine.

    Centroids here are the ``n_lists`` lowest-id vectors (an externally
    supplied codebook — k-means training is upstream of the engine, as
    in production IVF). Assignment is map-side numpy over Arrow
    batches; the candidate join shuffles only (list_id, id, vec); the
    exact-cosine verify is the sequential JVM fold, bit-identical to
    the DuckDB oracle."""
    from pyspark.sql import Window as W
    import numpy as np

    cent_rows = (vectors.select(F.col(id_col).alias("vid"),
                                as_double(F.col(vec_col)).alias("vec"))
                 .orderBy("vid").limit(n_lists).collect())
    cent = np.stack([np.asarray(r["vec"], dtype=np.float64) for r in cent_rows])

    v = spread(vectors).select(F.col(id_col).alias("vid"),
                               as_double(F.col(vec_col)).alias("vec"))
    q = queries.select(F.col(query_id_col).alias("vid"),
                       as_double(F.col(vec_col)).alias("vec"))
    v_assigned = _ivf_assign(v, cent, "vec_id", "v_vec", nprobe=1) \
        .withColumn("v_nrm", norm(F.col("v_vec")))
    q_probes = _ivf_assign(q, cent, "query_id", "q_vec", nprobe=nprobe) \
        .withColumn("q_nrm", norm(F.col("q_vec")))
    cos = cosine_of(dot(F.col("q_vec"), F.col("v_vec")),
                    F.col("q_nrm") * F.col("v_nrm"))
    scored = (
        v_assigned.join(F.broadcast(q_probes), "list_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cos, 6).alias("cos_sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "cos_sim", "rk")
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: Optional[int] = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    use_lsh: bool = False,
    num_planes: int = 6,
    broadcast_threshold: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ t).

    Exact all-pairs via matrix multiplication, two physical plans with
    identical results:

    * corpus ≤ ``broadcast_threshold`` rows → broadcast GEMM: the
      corpus matrix ships once to every executor and each Arrow batch
      of probe rows computes ``batch @ corpus.T`` with BLAS;
    * larger → both-sides-blocked GEMM: vectors land in
      ``hash(id) % B`` blocks, replicate ~B× to their block PAIRS, and
      one applyInPandas group per unordered block pair runs the same
      kernel — shuffle volume B×corpus, per-task memory two blocks.
      This is the 100 TB path; the broadcast form is its fast case.

    Expression-level per-pair dot products are ~100× slower
    (interpreted array folds, quadratic pair rows materialized); the
    GEMM forms never materialize the pair table at all. ``use_lsh``
    instead generates candidates by hyperplane bucket (approximate;
    recall documented by the bucket predicate)."""
    import numpy as np
    import pandas as pd

    if use_lsh:
        if dim is None:
            raise ValueError("dim required for LSH mode")
        v = spread(vectors).select(
            F.col(id_col).alias("vid"),
            as_double(F.col(vec_col)).alias("vec"),
        ).withColumn("nrm", norm(F.col("vec"))) \
         .withColumn("bucket", hyperplane_signature(F.col("vec"), dim, num_planes))
        a = v.alias("a")
        b = v.alias("b")
        pairs = a.join(
            b, (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")))
        cos = cosine_of(dot(F.col("a.vec"), F.col("b.vec")),
                        F.col("a.nrm") * F.col("b.nrm"))
        return (
            pairs.select(
                F.col("a.vid").alias("id_a"),
                F.col("b.vid").alias("id_b"),
                F.round(cos, 6).alias("cos_sim"),
            )
            .where(F.col("cos_sim") >= threshold)
        )

    v = vectors.select(F.col(id_col).alias("vid"),
                       as_double(F.col(vec_col)).alias("vec"))
    n = v.count()
    if n <= broadcast_threshold:
        return _near_dup_broadcast_gemm(v, threshold)
    return _near_dup_blocked_gemm(v, threshold,
                                  n_blocks=max(2, int(n // broadcast_threshold) + 1))


def _gemm_pairs(a_ids, a_mat, b_ids, b_mat, threshold: float,
                overlapping_ids: bool = True):
    """Shared kernel: above-threshold cosine pairs between two
    id/matrix blocks, emitted as (id_a < id_b).

    ``overlapping_ids=True`` (same or overlapping id sets — each
    unordered pair appears in the matrix twice) keeps the a<b half.
    ``False`` (disjoint blocks — each pair appears once) keeps every
    hit and normalizes to (min, max); an a<b mask there would drop
    pairs whose role-A id is the larger one."""
    import numpy as np
    import pandas as pd

    a_nrm = np.sqrt((a_mat * a_mat).sum(axis=1))
    b_nrm = np.sqrt((b_mat * b_mat).sum(axis=1))
    sims = a_mat @ b_mat.T
    denom = a_nrm[:, None] * b_nrm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(denom == 0, 0.0, sims / denom)
    cos = np.round(cos, 6)
    keep = cos >= threshold
    if overlapping_ids:
        keep &= a_ids[:, None] < b_ids[None, :]
    ai, bj = np.nonzero(keep)
    left, right = a_ids[ai], b_ids[bj]
    if not overlapping_ids:
        left, right = np.minimum(left, right), np.maximum(left, right)
    return pd.DataFrame({
        "id_a": left, "id_b": right, "cos_sim": cos[ai, bj],
    })


def _near_dup_broadcast_gemm(v: DataFrame, threshold: float) -> DataFrame:
    """Corpus fits in a broadcast: one matrix ships to every executor,
    each Arrow batch of probe rows GEMMs against it."""
    import numpy as np

    spark = v.sparkSession
    rows = v.collect()
    b_ids = np.array([r["vid"] for r in rows], dtype=np.int64)
    b_mat = np.array([r["vec"] for r in rows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((b_ids, b_mat))

    def batches(it):
        ids_b, mat_b = bc.value
        for pdf in it:
            a_ids = pdf["vid"].to_numpy(dtype=np.int64)
            a_mat = np.stack([np.asarray(x, dtype=np.float64)
                              for x in pdf["vec"]])
            yield _gemm_pairs(a_ids, a_mat, ids_b, mat_b, threshold)

    return spread(v).mapInPandas(
        batches, schema="id_a long, id_b long, cos_sim double")


def _near_dup_blocked_gemm(v: DataFrame, threshold: float,
                           n_blocks: int) -> DataFrame:
    """Corpus too large to broadcast: both-sides-blocked exact all-pairs.

    Each vector lands in block ``hash(id) % B`` and is replicated to
    every block PAIR it participates in (≈B copies — linear, versus the
    quadratic pair table); one ``applyInPandas`` group per unordered
    block pair runs the same GEMM kernel. This is the standard
    distributed exact all-pairs decomposition: shuffle volume B×corpus,
    compute unchanged, memory per task = two blocks."""
    B = n_blocks
    blk = (F.abs(F.hash(F.col("vid"))) % B).alias("blk")
    base = v.select("vid", "vec", blk)
    # role A in pairs (blk, j) for j >= blk; role B in pairs (i, blk) i <= blk
    a_side = base.select(
        "vid", "vec", F.lit(0).alias("role"),
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("bj"))
    b_side = base.select(
        "vid", "vec", F.lit(1).alias("role"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"))
    both = a_side.select("bi", "bj", "role", "vid", "vec").unionByName(
        b_side.select("bi", "bj", "role", "vid", "vec"))

    def block_pair(pdf):
        import numpy as np

        a = pdf[pdf["role"] == 0]
        b = pdf[pdf["role"] == 1]
        if not len(a) or not len(b):
            import pandas as pd
            return pd.DataFrame(columns=["id_a", "id_b", "cos_sim"])
        same_block = bool(pdf["bi"].iloc[0] == pdf["bj"].iloc[0])
        a_ids = a["vid"].to_numpy(dtype=np.int64)
        a_mat = np.stack([np.asarray(x, dtype=np.float64) for x in a["vec"]])
        b_ids = b["vid"].to_numpy(dtype=np.int64)
        b_mat = np.stack([np.asarray(x, dtype=np.float64) for x in b["vec"]])
        # same block: both roles carry the full block (pairs appear
        # twice) → keep the a<b half; cross block: disjoint id sets
        # (pairs appear once) → keep all, normalized
        return _gemm_pairs(a_ids, a_mat, b_ids, b_mat, threshold,
                           overlapping_ids=same_block)

    return both.groupBy("bi", "bj").applyInPandas(
        block_pair, schema="id_a long, id_b long, cos_sim double")


def mips_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximum-inner-product top-k via the norm-augmentation reduction
    (Bachrach et al., RecSys'14): append sqrt(M² − |x|²) to every
    corpus vector (M = max corpus norm) and 0 to every query, making
    every augmented corpus vector length exactly M — then
    cos(q′, x′) = ⟨q,x⟩ / (|q|·M), so COSINE ranking of the augmented
    vectors IS the inner-product ranking.  This is the standard trick
    that lets any cosine-ANN index (LSH/IVF above) serve MIPS
    workloads (un-normalized recommender scores).  M is a driver
    scalar (one aggregate); augmentation is pure map math."""
    from pyspark.sql import Window as W

    v = spread(vectors).select(
        F.col(id_col).alias("vec_id"),
        as_double(F.col(vec_col)).alias("v_vec"),
    ).withColumn("v_nrm", norm(F.col("v_vec")))
    m = v.agg(F.max("v_nrm")).first()[0]
    v_aug = v.withColumn(
        "v_aug",
        F.concat("v_vec", F.array(F.sqrt(F.greatest(
            F.lit(0.0), F.lit(float(m)) * F.lit(float(m))
            - F.col("v_nrm") * F.col("v_nrm"))))))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("q_vec"),
    ).withColumn("q_aug", F.concat("q_vec", F.array(F.lit(0.0))))
    scored = (
        v_aug.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id",
            cosine(F.col("q_aug"), F.col("v_aug")).alias("aug_cos"),
            F.round(dot(F.col("q_vec"), F.col("v_vec")), 6).alias("dot_score"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("aug_cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "vec_id", "dot_score", "rk")
    )
