"""Deduplication query battery over ``documents``.

Every stage of every dedup operator is reproduced in the DuckDB oracle
(shingling, 60-bit md5 hashing, minhash banding, Jaccard verify), so
the driver checks the full pipeline, not just row counts. Shared SQL
fragments mirror functions/dedup.py expression-for-expression.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sidecar_spark.functions import dedup as D
from sidecar_spark.functions.common import spread
from sidecar_spark.queries.registry import query, t

# --- SQL fragments mirroring functions/dedup.py ---------------------------

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WS = f"regexp_split_to_array({_NORM}, '\\s+')"


def _h60(x: str) -> str:
    return f"('0x' || substr(md5({x}), 1, 15))::BIGINT"


# distinct word 3-shingles (k=3; k-1=2 in the slice/stop bounds)
_SHINGLES = f"""
    CASE WHEN len({_WS}) < 3
         THEN list_distinct([array_to_string({_WS}, ' ')])
         ELSE list_distinct(list_transform(range(1, len({_WS}) - 1),
                            i -> array_to_string({_WS}[i:i+2], ' ')))
    END"""

# universal-hash permutations over one md5 per shingle (must mirror
# functions/dedup.py:_perm_params exactly)
_P31 = 2_147_483_647


def _sig16_sql() -> str:
    from sidecar_spark.functions.dedup import _perm_params
    parts = []
    for i in range(16):
        a, b = _perm_params(i)
        parts.append(f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {_P31}))")
    return "[" + ", ".join(parts) + "]"


_HS = f"list_transform(sh, s -> {_h60('s')} % {_P31})"

# verification Jaccard over the hashed shingle sets (mirrors the Spark
# side, which never carries string arrays through the candidate joins)
_JACCARD = ("len(list_intersect(a.hs, b.hs)) * 1.0 / "
            "len(list_distinct(list_concat(a.hs, b.hs)))")


@query(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_NORM}) AS content_hash,
           count(*) AS n_copies,
           min(doc_id) AS keep_id
    FROM documents
    GROUP BY md5({_NORM})
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash groupBy — one shuffle on a uniform
    128-bit key; at 100 TB this is the cheapest and first pass."""
    return D.exact_duplicates(t(spark, sf_dir, "documents"))


@query(
    "dedup_exact_keep",
    oracle=f"""
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    JOIN (SELECT min(doc_id) AS keep_id
          FROM documents GROUP BY md5({_NORM})) k
      ON d.doc_id = k.keep_id
    """,
)
def dedup_exact_keep(spark, sf_dir):
    """The materializing form of exact dedup: keep exactly one row
    (min doc_id) per distinct normalized content — the left-semi join
    against the canonical-id set. This is the operator a pipeline
    actually runs; dedup_exact is its report."""
    d = t(spark, sf_dir, "documents")
    kept = D.dedup_exact(d)
    return kept.select("doc_id", "lang", "source", "n_chars")


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SHINGLES} AS sh FROM documents
    ), hashed AS (
      SELECT doc_id, sh, {_HS} AS hs FROM base
    ), sigs AS (
      SELECT doc_id, hs, {_sig16_sql()} AS sig FROM hashed
    ), banded AS (
      SELECT doc_id, b AS band_idx,
             md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS band_hash
      FROM sigs CROSS JOIN generate_series(0, 3) AS g(b)
    ), cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, round({_JACCARD}, 6) AS jaccard
    FROM cands c
    JOIN sigs a ON a.doc_id = c.doc_a
    JOIN sigs b ON b.doc_id = c.doc_b
    WHERE {_JACCARD} >= 0.1
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16 hashes) + LSH(4 bands × 4 rows) near-dup pairs with
    exact-Jaccard verification at 0.1."""
    return D.minhash_candidate_pairs(
        t(spark, sf_dir, "documents"),
        num_hashes=16, bands=4, shingle_k=3, jaccard_threshold=0.1)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             list_transform(list_distinct(CASE WHEN trim({_NORM}) = ''
                 THEN []::VARCHAR[] ELSE {_WS} END),
                 tk -> {_h60('tk')}) AS hashes
      FROM documents)
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 16), b ->
               CASE WHEN list_sum(list_transform(hashes,
                        h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash16
    FROM base
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash(16-bit) fingerprints — map-side only; near-dup pairing
    on hamming distance is a follow-on equi-join by hash bands."""
    d = spread(t(spark, sf_dir, "documents"))
    return d.select("doc_id", D.simhash(F.col("text"), bits=16).alias("simhash16"))


# positional shingle sequence (NO list_distinct — winnowing windows
# run over the document-order k-gram sequence)
_SHINGLES_SEQ = f"""
    CASE WHEN len({_WS}) < 3
         THEN [array_to_string({_WS}, ' ')]
         ELSE list_transform(range(1, len({_WS}) - 1),
                             i -> array_to_string({_WS}[i:i+2], ' '))
    END"""


@query(
    "dedup_winnowing",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, list_transform({_SHINGLES_SEQ}, s -> {_h60('s')}) AS hs
      FROM documents)
    SELECT doc_id,
           coalesce(array_to_string(
             list_sort(list_distinct(list_transform(
               range(1, greatest(len(hs) - 3, 1) + 1),
               j -> list_min(hs[j:j+3])))), ','), '') AS fingerprints
    FROM hashed
    """,
)
def dedup_winnowing(spark, sf_dir):
    """Winnowing fingerprints (k=3 shingles, window=4): the
    rolling-window-min fingerprint set used for plagiarism/near-dup
    detection — any shared run of ≥6 words guarantees a shared
    fingerprint. Map-side only; pairing is a follow-on equi-join on
    exploded fingerprints (the ngram_jaccard count-join shape).
    The set is serialized to a CSV string for the driver hash (lists
    are unhashable there); downstream consumers use
    ``D.winnowing_table`` directly for the typed array."""
    d = spread(t(spark, sf_dir, "documents"))
    fp = D.winnowing_table(d, k=3, window=4)
    return fp.select(
        "doc_id",
        F.array_join(F.col("fingerprints").cast("array<string>"), ",")
        .alias("fingerprints"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SHINGLES} AS sh FROM documents
    ), sized AS (
      SELECT doc_id, len(sh) AS n_sh FROM base
    ), exploded AS (
      SELECT doc_id, unnest(list_transform(sh, s -> {_h60('s')})) AS sh_hash
      FROM base
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM exploded a JOIN exploded b
        ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sized sa ON sa.doc_id = doc_a
    JOIN sized sb ON sb.doc_id = doc_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.12
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs via the set-similarity count-join
    (|A∩B| from the grouped shared-shingle join; arrays never shuffle)."""
    return D.ngram_jaccard_pairs(
        t(spark, sf_dir, "documents"), shingle_k=3, threshold=0.12)


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, {_SHINGLES} AS sh FROM documents
    ), hashed AS (
      SELECT doc_id, {_HS} AS hs FROM base
    ), sigs AS (
      SELECT doc_id, hs, {_sig16_sql()} AS sig FROM hashed
    ), banded AS (
      SELECT doc_id, b AS band_idx,
             md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS band_hash
      FROM sigs CROSS JOIN generate_series(0, 3) AS g(b)
    ), cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cands c
      JOIN sigs a ON a.doc_id = c.doc_a
      JOIN sigs b ON b.doc_id = c.doc_b
      WHERE {_JACCARD} >= 0.1
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r
    )
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    """,
)
def dedup_clusters(spark, sf_dir):
    """Duplicate-cluster assignment: transitive closure over the
    MinHash-LSH near-dup graph (A~B, B~C ⇒ one cluster even when A~C
    was never a candidate pair), via iterative min-label propagation —
    the genuinely iterative operator of the dedup family. The DuckDB
    oracle computes the same fixpoint with a recursive CTE, so even
    the iteration is hash-checked, not rows-only."""
    d = t(spark, sf_dir, "documents")
    pairs = D.minhash_candidate_pairs(
        d, num_hashes=16, bands=4, shingle_k=3, jaccard_threshold=0.1)
    return D.connected_components_star(pairs, d.select("doc_id"))


@query(
    "dedup_contamination_check",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, lang, {_HS.replace('sh', _SHINGLES)} AS hs,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS bucket
      FROM documents),
    train_set AS (
      SELECT DISTINCT unnest(hs) AS h FROM hashed WHERE bucket < 80),
    test_docs AS (
      SELECT doc_id, lang, len(hs) AS n_sh, hs FROM hashed
      WHERE bucket >= 90),
    hits AS (
      SELECT t.doc_id, count(*) AS n_hit
      FROM (SELECT doc_id, unnest(hs) AS h FROM test_docs) t
      JOIN train_set s ON t.h = s.h
      GROUP BY t.doc_id),
    rated AS (
      SELECT d.lang, coalesce(n_hit, 0) * 1.0 / d.n_sh AS ratio
      FROM test_docs d LEFT JOIN hits USING (doc_id))
    SELECT lang,
           count(*) AS n_test,
           CAST(sum(CASE WHEN ratio >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           round(avg(ratio), 6) AS avg_overlap
    FROM rated GROUP BY lang
    """,
)
def dedup_contamination_check(spark, sf_dir):
    """Train/test contamination audit — the decontamination pass every
    training pipeline needs before an eval split ships: for each TEST
    document (hash bucket >= 90, the same deterministic split as
    train_val_split), measure what fraction of its word 3-shingles
    already occur anywhere in the TRAIN corpus (bucket < 80); flag
    docs above 50% overlap. Per-language rates summarize the leak.

    Scale shape: the train shingle set is hashes-only and DISTINCT
    (vocabulary-sized, not corpus-sized), so it broadcasts; the test
    side explodes only the 10% split. No shuffle touches full text —
    the same hashes-not-strings discipline as the MinHash pipeline."""
    d = spread(t(spark, sf_dir, "documents"))
    hs = F.transform(D.shingles(F.col("text"), k=3),
                     lambda s: D.hash60(s) % F.lit(D.MERSENNE31))
    bucket = D.hash60(F.col("doc_id").cast("string")) % 100
    # both the train and test branches scan this projection; without
    # persist() the shingle-hash transform (md5 per 3-gram, the
    # dominant cost) runs twice — at any scale you materialize the
    # hashed projection once (persist here; a checkpoint table on a
    # real pipeline) and fan out from it
    hashed = d.select("doc_id", "lang", hs.alias("hs"),
                      bucket.alias("bucket")).persist()
    train_set = (hashed.where(F.col("bucket") < 80)
                 .select(F.explode("hs").alias("h")).distinct())
    test_docs = (hashed.where(F.col("bucket") >= 90)
                 .select("doc_id", "lang", F.size("hs").alias("n_sh"), "hs"))
    hits = (
        test_docs.select("doc_id", F.explode("hs").alias("h"))
        .join(F.broadcast(train_set), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    ratio = F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_sh")
    return (
        test_docs.join(hits, "doc_id", "left_outer")
        .select("lang", ratio.alias("ratio"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_test"),
             F.sum(F.when(F.col("ratio") >= 0.5, 1).otherwise(0))
             .alias("n_contaminated"),
             F.round(F.avg("ratio"), 6).alias("avg_overlap"))
    )


@query(
    "curation_pipeline_manifest",
    oracle="""
    WITH deduped AS (
      SELECT doc_id, text, n_chars FROM (
        SELECT doc_id, text, n_chars,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1
    ), quality AS (
      SELECT doc_id, n_chars FROM deduped
      WHERE n_chars >= 100
        AND length(regexp_replace(text, '[^0-9]', '', 'g'))
            <= 0.2 * length(text)
    ), assigned AS (
      SELECT CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       ::BIGINT % 100 < 90 THEN 'train' ELSE 'val' END
                 AS split,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 15))
                 ::BIGINT % 4 AS shard,
             n_chars
      FROM quality
    )
    SELECT split, shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM assigned
    GROUP BY split, shard
    ORDER BY split, shard
    """,
)
def curation_pipeline_manifest(spark, sf_dir):
    """The full curation funnel COMPOSED in one job — exact dedup
    (keep lowest doc_id per content hash) → quality gate (length
    floor + digit-ratio cap) → deterministic 90/10 split → 4-way
    shard — emitting the training manifest (docs/chars per
    split × shard).  Each stage is an operator proven individually
    elsewhere in the battery; this entry proves they COMPOSE without
    materialization barriers: Catalyst pipelines dedup's window, the
    quality projection, and both hash assignments into one shuffle
    (content-hash partitioning) plus the final tiny manifest
    aggregate.  At 100 TB that composition — not any single stage —
    is what keeps the pipeline at two passes over the corpus."""
    from sidecar_spark.functions.dedup import hash60
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    keep = (
        d.withColumn("rn", F.row_number().over(
            W.partitionBy(F.md5("text")).orderBy("doc_id")))
        .where(F.col("rn") == 1))
    quality = keep.where(
        (F.col("n_chars") >= 100)
        & (F.length(F.regexp_replace("text", "[^0-9]", ""))
           <= 0.2 * F.length("text")))
    split = F.when(
        hash60(F.col("doc_id").cast("string")) % 100 < 90, "train"
    ).otherwise("val")
    shard = hash60(F.concat(F.col("doc_id").cast("string"),
                            F.lit(":shard"))) % 4
    return (
        quality.select(split.alias("split"), shard.alias("shard"),
                       "n_chars")
        .groupBy("split", "shard")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("total_chars"))
        .orderBy("split", "shard")
    )


# ---------------------------------------------------------------------------
# exact-substring decontamination (character-window membership)
# ---------------------------------------------------------------------------

_WIN = 40  # character window length (the "50-token overlap" idea at char level)


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, lang,
             list_transform(
               generate_series(1, greatest(length(text) - {_WIN - 1}, 1)),
               i -> ('0x' || substr(md5(substr(text, i, {_WIN})), 1, 15))::BIGINT)
               AS ws,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS bucket
      FROM documents),
    train_w AS (SELECT DISTINCT unnest(ws) AS h FROM hashed WHERE bucket < 80),
    test_docs AS (SELECT doc_id, lang, ws FROM hashed WHERE bucket >= 90),
    hits AS (
      SELECT DISTINCT t.doc_id
      FROM (SELECT doc_id, unnest(ws) AS h FROM test_docs) t
      JOIN train_w USING (h))
    SELECT lang,
           count(*) AS n_test,
           CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM hits)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
    FROM test_docs
    GROUP BY lang
    ORDER BY lang
    """,
)
def dedup_exact_substring(spark, sf_dir):
    """Exact-substring decontamination — the second decontamination
    contract next to the shingle-RATIO audit (dedup_contamination_check):
    a TEST document is contaminated if ANY {_WIN}-character window of
    its text appears verbatim anywhere in the TRAIN split (the
    'N-token exact overlap' rule LLM eval decontamination uses, at
    character granularity).  Same deterministic hash-bucket split as
    train_val_split (train <80, test >=90).

    Scale shape: windows are md5-hashed map-side, so the join carries
    60-bit hashes, never text; stride-1 windows multiply the corpus
    ~300x, which at 100 TB is exactly why production pipelines stream
    train windows into a Bloom/sorted probe structure — here both
    sides stay an equi-join on the hash, one shuffle, linear in
    window count, and the explode never materializes the window
    STRINGS (hash is computed inside the transform)."""
    d = spread(t(spark, sf_dir, "documents"))
    win_hashes = F.expr(
        f"transform(sequence(1, greatest(length(text) - {_WIN - 1}, 1)), "
        f"i -> cast(conv(substring(md5(substring(text, i, {_WIN})), 1, 15), "
        f"16, 10) as bigint))")
    bucket = D.hash60(F.col("doc_id").cast("string")) % 100
    # three consumers (train windows, test docs, test-window explode)
    # would each re-run the md5-per-window transform — materialize it
    # once, as the contamination check does
    hashed = d.select("doc_id", "lang", win_hashes.alias("ws"),
                      bucket.alias("bucket")).persist()
    train_w = (hashed.where(F.col("bucket") < 80)
               .select(F.explode("ws").alias("h")))
    test_docs = hashed.where(F.col("bucket") >= 90)
    # LEFT SEMI: stops at the first matching train window per test
    # window — no fan-out on duplicated train windows, and no
    # pre-DISTINCT pass over the (corpus x ~300) train window set,
    # which is the expensive shuffle at any scale
    hits = (
        test_docs.select("doc_id", F.explode("ws").alias("h"))
        .join(train_w, "h", "left_semi")
        .select("doc_id").distinct()
    )
    return (
        test_docs.join(hits.withColumn("hit", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_test"),
             F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
             .alias("n_contaminated"))
        .orderBy("lang")
    )


@query(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             list_transform(list_distinct(CASE WHEN trim({_NORM}) = ''
                 THEN []::VARCHAR[] ELSE {_WS} END),
                 tk -> {_h60('tk')}) AS hashes
      FROM documents
    ), sigs AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 32), b ->
                 CASE WHEN list_sum(list_transform(hashes,
                          h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                      THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS sh
      FROM base
    ), banded AS (
      SELECT doc_id, sh, g.b AS band_idx, (sh >> (8 * g.b)) & 255 AS bv
      FROM sigs CROSS JOIN generate_series(0, 3) g(b)
    ), cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.sh AS sa, b.sh AS sb
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.bv = b.bv
       AND a.doc_id < b.doc_id
    )
    SELECT bit_count(xor(sa, sb)) AS hamming, count(*) AS n_pairs
    FROM cands
    WHERE bit_count(xor(sa, sb)) <= 3
    GROUP BY hamming ORDER BY hamming
    """,
)
def dedup_simhash_hamming(spark, sf_dir):
    """SimHash near-dup PAIRING — completes the simhash story (the
    ``dedup_simhash`` entry stops at fingerprints): 32-bit simhash,
    4 bands × 8 bits; by pigeonhole any pair within hamming distance
    3 shares at least one intact band, so candidates come from a
    band-value equi-join (never all-pairs) and the verify step is one
    integer ``bit_count(xor)`` per candidate.  Histogram of verified
    pair counts per hamming distance.  At 100 TB: signatures are
    map-side, the band join shuffles (id, 8-byte sig) only, and band
    width tunes the candidate volume exactly like MinHash-LSH band
    count."""
    d = spread(t(spark, sf_dir, "documents"))
    # persist the signature projection: the 32-bit simhash expression
    # (tokenize + 32 bit-vote aggregates per row) is the dominant cost
    # and feeds BOTH sides of the band self-join — materialize it once
    # (16 bytes/doc; at 100 TB this is the ~100×-smaller signature
    # table you'd checkpoint before any LSH self-join).
    sigs = d.select(
        "doc_id", D.simhash(F.col("text"), bits=32).alias("sh")).persist()
    banded = sigs.select(
        "doc_id", "sh",
        F.posexplode(F.array(*[
            F.shiftright("sh", 8 * b).bitwiseAND(F.lit(255))
            for b in range(4)])).alias("band_idx", "bv"))
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.bv") == F.col("b.bv"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.sh").alias("sa"), F.col("b.sh").alias("sb"))
        .distinct())
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (cands.select(ham.alias("hamming"))
            .where(F.col("hamming") <= 3)
            .groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))
            .orderBy("hamming"))


def _sql_quality(tbl: str = "documents") -> str:
    """DuckDB twin of functions/text.py::quality_score (same weights,
    same rounding) — inlined here for the canonical-selection query."""
    from sidecar_spark.functions import text as X

    stops = "['" + "','".join(X.ALL_STOPWORDS) + "']"
    ws = ("CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[] "
          "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END")
    return f"""
      SELECT doc_id,
             round(0.4 * (CASE WHEN length(text) = 0 THEN 0.0
                     ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                          * 1.0 / length(text) END)
                 + 0.3 * least(length(text) / 500.0, 1.0)
                 + 0.2 * least((CASE WHEN len({ws}) = 0 THEN 0.0
                     ELSE len(list_filter({ws},
                              x -> list_contains({stops}, x)))
                          * 1.0 / len({ws}) END) * 5, 1.0)
                 + 0.1 * (1 - least((CASE WHEN length(text) = 0 THEN 0.0
                     ELSE length(regexp_replace(text,
                              '[^.,;:!?''"()\\-]', '', 'g'))
                          * 1.0 / length(text) END) * 10, 1.0)),
               6) AS q
      FROM {tbl}"""


@query(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, {_SHINGLES} AS sh FROM documents
    ), hashed AS (
      SELECT doc_id, {_HS} AS hs FROM base
    ), sigs AS (
      SELECT doc_id, hs, {_sig16_sql()} AS sig FROM hashed
    ), banded AS (
      SELECT doc_id, b AS band_idx,
             md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS band_hash
      FROM sigs CROSS JOIN generate_series(0, 3) AS g(b)
    ), cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cands c
      JOIN sigs a ON a.doc_id = c.doc_a
      JOIN sigs b ON b.doc_id = c.doc_b
      WHERE {_JACCARD} >= 0.1
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r
    ), clusters AS (
      SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    ), sized AS (
      SELECT cluster_id, count(*) AS n_members
      FROM clusters GROUP BY cluster_id HAVING count(*) > 1
    ), quality AS ({_sql_quality()})
    SELECT s.cluster_id, c.doc_id AS canonical_doc, s.n_members,
           c.q AS best_quality
    FROM sized s
    JOIN (
      SELECT cl.cluster_id, q.doc_id, q.q,
             row_number() OVER (PARTITION BY cl.cluster_id
                                ORDER BY q.q DESC, q.doc_id) AS rk
      FROM clusters cl JOIN quality q USING (doc_id)) c
      ON c.cluster_id = s.cluster_id AND c.rk = 1
    ORDER BY s.cluster_id
    """,
)
def dedup_cluster_canonical(spark, sf_dir):
    """Canonical-document selection — the step AFTER clustering that
    actually curates: within every multi-member duplicate cluster,
    keep the highest-quality member (quality_score desc, doc_id
    tie-break).  This composes three battery primitives (MinHash-LSH
    pairs → connected components → quality scoring) into the
    keep-best pass every dedup pipeline ends with; one window rank
    per cluster on top of the cluster assignment, no new data-scale
    stage."""
    from pyspark.sql import Window as W

    from sidecar_spark.functions import text as X

    d = t(spark, sf_dir, "documents")
    pairs = D.minhash_candidate_pairs(
        d, num_hashes=16, bands=4, shingle_k=3, jaccard_threshold=0.1)
    clusters = D.connected_components_star(pairs, d.select("doc_id"))
    quality = spread(d).select(
        "doc_id", X.quality_score(F.col("text")).alias("q"))
    sized = (clusters.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("n_members"))
             .where(F.col("n_members") > 1))
    ranked = (
        clusters.join(quality, "doc_id")
        .join(F.broadcast(sized), "cluster_id")
        .withColumn("rk", F.row_number().over(
            W.partitionBy("cluster_id").orderBy(F.desc("q"), "doc_id")))
        .where(F.col("rk") == 1))
    return (ranked.select("cluster_id",
                          F.col("doc_id").alias("canonical_doc"),
                          "n_members",
                          F.col("q").alias("best_quality"))
            .orderBy("cluster_id"))


@query(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, {_SHINGLES} AS sh FROM documents
    ), hashed AS (
      SELECT doc_id, {_HS} AS hs FROM base
    ), sigs AS (
      SELECT doc_id, hs, {_sig16_sql()} AS sig FROM hashed
    ), banded AS (
      SELECT doc_id, b AS band_idx,
             md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS band_hash
      FROM sigs CROSS JOIN generate_series(0, 3) AS g(b)
    ), cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cands c
      JOIN sigs a ON a.doc_id = c.doc_a
      JOIN sigs b ON b.doc_id = c.doc_b
      WHERE {_JACCARD} >= 0.1
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT re.id, e.b FROM reach re JOIN edges e ON e.a = re.r
    ), clusters AS (
      SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    ), assigned AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':naive'),
                             1, 15))::BIGINT % 100 < 80 AS naive_train,
             ('0x' || substr(md5(CAST(cluster_id AS VARCHAR) || ':grp'),
                             1, 15))::BIGINT % 100 < 80 AS grouped_train
      FROM clusters
    ), audit AS (
      SELECT 'naive' AS scheme,
             CAST(sum(CASE WHEN naive_train THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN naive_train THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_test,
             CAST((SELECT count(*) FROM pairs p
                   JOIN assigned x ON x.doc_id = p.doc_a
                   JOIN assigned y ON y.doc_id = p.doc_b
                   WHERE x.naive_train <> y.naive_train)
                  AS BIGINT) AS n_leaked_pairs
      FROM assigned
      UNION ALL
      SELECT 'grouped',
             CAST(sum(CASE WHEN grouped_train THEN 1 ELSE 0 END)
                  AS BIGINT),
             CAST(sum(CASE WHEN grouped_train THEN 0 ELSE 1 END)
                  AS BIGINT),
             CAST((SELECT count(*) FROM pairs p
                   JOIN assigned x ON x.doc_id = p.doc_a
                   JOIN assigned y ON y.doc_id = p.doc_b
                   WHERE x.grouped_train <> y.grouped_train)
                  AS BIGINT)
      FROM assigned
    )
    SELECT scheme, n_train, n_test, n_leaked_pairs
    FROM audit ORDER BY scheme
    """,
)
def leakage_safe_split(spark, sf_dir):
    """GROUP-AWARE train/test splitting — the leakage-safe split every
    careful eval needs: hashing the doc_id sends near-duplicate pair
    members to opposite splits (train/test contamination), while
    hashing the duplicate-CLUSTER id keeps whole clusters on one side
    by construction.  Reports both schemes' sizes and their leaked
    (cross-split near-dup) pair counts — grouped is provably 0.
    Composes LSH pairs → connected components → salted-hash split;
    the audit join touches only the pairs table."""
    from sidecar_spark.functions.dedup import hash60

    d = t(spark, sf_dir, "documents")
    pairs = D.minhash_candidate_pairs(
        d, num_hashes=16, bands=4, shingle_k=3, jaccard_threshold=0.1) \
        .select("doc_a", "doc_b").localCheckpoint(eager=True)
    clusters = D.connected_components_star(pairs.select(
        "doc_a", "doc_b", F.lit(0.0).alias("jaccard")), d.select("doc_id"))
    assigned = clusters.select(
        "doc_id",
        (hash60(F.concat(F.col("doc_id").cast("string"),
                         F.lit(":naive"))) % 100 < 80).alias("naive_train"),
        (hash60(F.concat(F.col("cluster_id").cast("string"),
                         F.lit(":grp"))) % 100 < 80).alias("grouped_train"),
    ).localCheckpoint(eager=True)

    # one join pass and two actions audit BOTH schemes: the pair
    # table is decorated with each endpoint's two flags once, then a
    # single aggregate counts cross-split pairs per scheme
    x = assigned.select(F.col("doc_id").alias("doc_a"),
                        F.col("naive_train").alias("na"),
                        F.col("grouped_train").alias("ga"))
    y = assigned.select(F.col("doc_id").alias("doc_b"),
                        F.col("naive_train").alias("nb"),
                        F.col("grouped_train").alias("gb"))
    leak = (pairs.join(x, "doc_a").join(y, "doc_b")
            .agg(F.coalesce(F.sum((F.col("na") != F.col("nb"))
                                  .cast("bigint")), F.lit(0))
                 .alias("naive_leak"),
                 F.coalesce(F.sum((F.col("ga") != F.col("gb"))
                                  .cast("bigint")), F.lit(0))
                 .alias("grouped_leak")).first())
    sizes = assigned.agg(
        *[F.sum(F.when(F.col(flag), tr).otherwise(1 - tr)).cast("bigint")
          .alias(f"{flag}_{'train' if tr else 'test'}")
          for flag in ("naive_train", "grouped_train") for tr in (1, 0)]
    ).first()

    rows = [("grouped", sizes["grouped_train_train"],
             sizes["grouped_train_test"], leak["grouped_leak"]),
            ("naive", sizes["naive_train_train"],
             sizes["naive_train_test"], leak["naive_leak"])]
    return spark.createDataFrame(
        rows, "scheme string, n_train bigint, n_test bigint,"
              " n_leaked_pairs bigint").orderBy("scheme")


@query(
    "incremental_dedup_batch",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SHINGLES} AS sh,
             doc_id % 10 < 8 AS is_existing
      FROM documents
    ), hashed AS (
      SELECT doc_id, is_existing, {_HS} AS hs FROM base
    ), sigs AS (
      SELECT doc_id, is_existing, hs, {_sig16_sql()} AS sig FROM hashed
    ), banded AS (
      SELECT doc_id, is_existing, b AS band_idx,
             md5(array_to_string(sig[b*4+1 : b*4+4], ',')) AS band_hash
      FROM sigs CROSS JOIN generate_series(0, 3) AS g(b)
    ), cands AS (
      SELECT DISTINCT n.doc_id AS new_doc, e.doc_id AS old_doc
      FROM banded n JOIN banded e
        ON n.band_idx = e.band_idx AND n.band_hash = e.band_hash
      WHERE NOT n.is_existing AND e.is_existing
    ), verified AS (
      SELECT c.new_doc, count(*) AS n_matches
      FROM cands c
      JOIN sigs a ON a.doc_id = c.new_doc
      JOIN sigs b ON b.doc_id = c.old_doc
      WHERE {_JACCARD} >= 0.1
      GROUP BY c.new_doc
    )
    SELECT (SELECT count(*) FROM base WHERE NOT is_existing)
             AS n_incoming,
           (SELECT count(*) FROM verified) AS n_rejected,
           (SELECT count(*) FROM base WHERE NOT is_existing)
             - (SELECT count(*) FROM verified) AS n_admitted
    """,
)
def incremental_dedup_batch(spark, sf_dir):
    """INCREMENTAL dedup — the nightly-crawl shape: near-dup-check an
    incoming batch (20% of docs by id-hash) against the EXISTING
    corpus only, never incoming-vs-incoming or existing-vs-existing.
    The band equi-join is restricted to cross-side candidates, so the
    per-ingest cost is |incoming| × collision rate, independent of
    corpus history size beyond the (precomputable, persisted)
    signature table — the property that makes LSH dedup sustainable
    when the corpus grows forever.  Reports admitted/rejected
    counts."""
    d = t(spark, sf_dir, "documents")
    base = spread(d).selectExpr(
        "doc_id", "doc_id % 10 < 8 AS is_existing",
        f"{D.shingle_hashes_sql(D.shingles_sql('text', 3))} AS hs")
    sigs = base.selectExpr(
        "doc_id", "is_existing", "hs",
        f"{D.minhash_signature_sql('hs', 16)} AS sig").persist()
    banded = sigs.selectExpr(
        "doc_id", "is_existing",
        f"posexplode({D.band_hashes_sql('sig', 4, 4)}) "
        "AS (band_idx, band_hash)")
    n = banded.where(~F.col("is_existing")).alias("n")
    e = banded.where("is_existing").alias("e")
    cands = (
        n.join(e, (F.col("n.band_idx") == F.col("e.band_idx"))
               & (F.col("n.band_hash") == F.col("e.band_hash")))
        .select(F.col("n.doc_id").alias("new_doc"),
                F.col("e.doc_id").alias("old_doc"))
        .distinct())
    sh = sigs.select("doc_id", "hs")
    verified = (
        cands.join(sh.select(F.col("doc_id").alias("new_doc"),
                             F.col("hs").alias("hs_a")), "new_doc")
        .join(sh.select(F.col("doc_id").alias("old_doc"),
                        F.col("hs").alias("hs_b")), "old_doc")
        .where(D.jaccard(F.col("hs_a"), F.col("hs_b")) >= 0.1)
        .select("new_doc").distinct())
    n_incoming = base.where(~F.col("is_existing")).count()
    n_rejected = verified.count()
    return spark.createDataFrame(
        [(n_incoming, n_rejected, n_incoming - n_rejected)],
        "n_incoming bigint, n_rejected bigint, n_admitted bigint")


@query(
    "dedup_shingle_containment",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SHINGLES} AS sh FROM documents
    ), sized AS (
      SELECT doc_id, len(sh) AS n_sh FROM base
    ), exploded AS (
      SELECT doc_id, unnest(list_transform(sh, s -> {_h60('s')})) AS sh_hash
      FROM base
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM exploded a JOIN exploded b
        ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(n_inter * 1.0 / sa.n_sh, 6) AS contain_a_in_b,
           round(n_inter * 1.0 / sb.n_sh, 6) AS contain_b_in_a,
           round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6)
             AS jaccard
    FROM inter
    JOIN sized sa ON sa.doc_id = doc_a
    JOIN sized sb ON sb.doc_id = doc_b
    WHERE greatest(round(n_inter * 1.0 / sa.n_sh, 6),
                   round(n_inter * 1.0 / sb.n_sh, 6)) >= 0.7
    """,
)
def dedup_shingle_containment(spark, sf_dir):
    """Asymmetric containment dedup — catches doc-inside-doc
    subsumption (C = |A∩B|/|A| ~ 1 while Jaccard stays low) that the
    symmetric `dedup_ngram_jaccard` threshold misses.  Same
    scale-safe count-join plan; see functions/dedup.py
    ::containment_pairs."""
    return D.containment_pairs(
        t(spark, sf_dir, "documents"), shingle_k=3, threshold=0.7)


@query(
    "dedup_jaccard_prefix_filter",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SHINGLES} AS sh FROM documents
    ), sized AS (
      SELECT doc_id, len(sh) AS n_sh FROM base
    ), exploded AS (
      SELECT doc_id, unnest(list_transform(sh, s -> {_h60('s')})) AS sh_hash
      FROM base
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM exploded a JOIN exploded b
        ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sized sa ON sa.doc_id = doc_a
    JOIN sized sb ON sb.doc_id = doc_b
    WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    """,
)
def dedup_jaccard_prefix_filter(spark, sf_dir):
    """Prefix-filtered exact Jaccard join (PPJoin/AllPairs family,
    Xiao et al. 2008): sort each doc's shingle hashes into the
    global canonical order and index ONLY the first
    |A| - ceil(t*|A|) + 1 of them — any pair with Jaccard >= t MUST
    share a prefix token, so the filter is LOSSLESS.  Candidates
    from the tiny prefix join are then verified with the exact
    Jaccard over the full sets.

    The oracle runs the EXHAUSTIVE shared-shingle join at the same
    threshold (t=0.5): an exact hash match proves the pruning lost
    nothing — the correctness claim of the prefix filter itself.

    100 TB plan: the candidate join explodes ~(1-t)|A|+1 tokens per
    doc instead of |A| (at t=0.5, half the index), and the full
    arrays travel only for surviving candidate pairs."""
    from sidecar_spark.functions.dedup import hash60, shingles

    d = spread(t(spark, sf_dir, "documents"))
    base = (d.select(
        "doc_id",
        F.array_sort(F.transform(shingles(F.col("text"), 3), hash60))
        .alias("sh"))
        .select("doc_id", "sh", F.size("sh").alias("n_sh"))
        .persist())
    p_len = (F.col("n_sh") - F.ceil(0.5 * F.col("n_sh")) + 1).cast("int")
    prefix = base.select(
        "doc_id", F.explode(F.slice("sh", 1, p_len)).alias("tok"))
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    sa = base.select(F.col("doc_id").alias("doc_a"),
                     F.col("sh").alias("sh_a"),
                     F.col("n_sh").alias("n_a"))
    sb = base.select(F.col("doc_id").alias("doc_b"),
                     F.col("sh").alias("sh_b"),
                     F.col("n_sh").alias("n_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (cands.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard",
                        F.round(n_inter
                                / (F.col("n_a") + F.col("n_b") - n_inter),
                                6))
            .where(F.col("jaccard") >= 0.5)
            .select("doc_a", "doc_b", "jaccard"))


@query(
    "minhash_jaccard_error_audit",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SHINGLES} AS sh FROM documents
    ), hashed AS (
      SELECT doc_id, {_HS} AS hs FROM base
    ), sigs AS (
      SELECT doc_id, len(hs) AS n_sh, {_sig16_sql()} AS sig FROM hashed
    ), exploded AS (
      SELECT doc_id, unnest(hs) AS h FROM hashed
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM exploded a JOIN exploded b
        ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ), pairs AS (
      SELECT n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) AS exact_j,
             len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i]))
               / 16.0 AS est_j
      FROM inter
      JOIN sigs sa ON sa.doc_id = doc_a
      JOIN sigs sb ON sb.doc_id = doc_b
    )
    SELECT least(4, CAST(floor(exact_j * 5) AS BIGINT)) AS bucket,
           count(*) AS n_pairs,
           round(avg(exact_j), 6) AS mean_exact,
           round(avg(est_j), 6) AS mean_est,
           round(avg(abs(est_j - exact_j)), 6) AS mean_abs_err,
           round(max(abs(est_j - exact_j)), 6) AS max_abs_err
    FROM pairs GROUP BY bucket
    """,
)
def minhash_jaccard_error_audit(spark, sf_dir):
    """Sketch-accuracy audit for the 16-permutation MinHash: for
    every pair sharing at least one shingle (the same count-join
    that powers `dedup_ngram_jaccard` — disjoint pairs have exact
    Jaccard 0 and carry no signal), compare the signature-agreement
    estimate (matching coordinates / 16) against exact Jaccard,
    bucketed by true similarity — the calibration check that
    justifies the LSH band thresholds of `dedup_minhash_lsh`
    (expected |err| ~ 1/sqrt(16)).

    100 TB plan: candidate generation is the linear shared-shingle
    equi-join (never all-pairs); the 16-slot signatures join back on
    the pair's two ids; the rest is one aggregate."""
    d = spread(t(spark, sf_dir, "documents"))
    hashed = (d.select(
        "doc_id",
        F.transform(D.shingles(F.col("text"), 3),
                    lambda s: D.hash60(s) % 2_147_483_647).alias("hs"))
        .persist())
    sigs = hashed.select(
        "doc_id", F.size("hs").alias("n_sh"),
        D.minhash_signature_from_hashes(F.col("hs")).alias("sig"))
    exploded = hashed.select("doc_id", F.explode("hs").alias("h"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (a.join(b, (F.col("a.h") == F.col("b.h"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sa = sigs.select(F.col("doc_id").alias("doc_a"),
                     F.col("n_sh").alias("n_a"),
                     F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"),
                     F.col("n_sh").alias("n_b"),
                     F.col("sig").alias("sig_b"))
    exact = (F.col("n_inter")
             / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                      lambda x, y: x == y),
                           lambda v: v)) / F.lit(16.0))
    scored = (inter.join(F.broadcast(sa), "doc_a")
              .join(F.broadcast(sb), "doc_b")
              .select(exact.alias("exact_j"), est.alias("est_j")))
    bucket = F.least(F.lit(4),
                     F.floor(F.col("exact_j") * 5)).cast("bigint")
    return scored.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("exact_j"), 6).alias("mean_exact"),
        F.round(F.avg("est_j"), 6).alias("mean_est"),
        F.round(F.avg(F.abs(F.col("est_j") - F.col("exact_j"))), 6)
        .alias("mean_abs_err"),
        F.round(F.max(F.abs(F.col("est_j") - F.col("exact_j"))), 6)
        .alias("max_abs_err"))
