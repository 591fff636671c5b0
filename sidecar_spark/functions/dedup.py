"""Deduplication operators for training-data pipelines.

Five families, each designed for 100 TB scale:

* exact       — hash-groupBy on a canonical fingerprint (one shuffle
                on a 128-bit key; key-space uniform → no skew);
* minhash LSH — shingle → k min-hashes → bands → bucket join. The
                signature is computed entirely map-side as a column
                expression (array_min over transformed shingles — NO
                explode/shuffle); only the band-bucket join shuffles,
                and it shuffles short (band_id, hash) keys, not text;
* simhash     — bit-vote fingerprint, map-side only;
* n-gram Jaccard — banded candidate generation + exact verify on
                candidate pairs (never all-pairs);
* embedding cosine — see functions/similarity.py.

Hash parity note: the portable 60-bit hash is
``bigint(substr(md5(x), 1, 15) as hex)`` which DuckDB spells
``('0x' || substr(md5(x), 1, 15))::BIGINT`` — identical values in both
engines, so every stage is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sidecar_spark.functions.common import spread
from sidecar_spark.functions.text import normalized_text, words


def let1(col, body) -> Column:
    """Single-use let binding: evaluate ``col`` ONCE per row and feed
    the bound value to ``body`` as a lambda variable.

    Spark has no SQL ``let``; ``element_at(transform(array(x), v ->
    body(v)), 1)`` is the standard encoding.  It matters inside
    higher-order-function subtrees: HOFs never enter whole-stage
    codegen (they are CodegenFallback), and the INTERPRETED expression
    evaluator has no common-subexpression elimination — every textual
    occurrence of ``x`` re-evaluates the whole subtree, per row (and,
    when the occurrence sits inside a lambda body, per element).  A
    shingle expression that mentions the words-split 6 times pays 6
    regex splits per row interpreted; bound once, it pays 1.  Values
    are unchanged — this is pure evaluation-count plumbing."""
    return F.element_at(F.transform(F.array(col), body), 1)


def let1_sql(expr: str, var: str, body: str) -> str:
    """SQL-text twin of :func:`let1`: bind ``expr`` to lambda variable
    ``var`` inside ``body`` (which must reference it as ``var``)."""
    return f"element_at(transform(array({expr}), {var} -> {body}), 1)"


def hash60(col) -> Column:
    """Portable 60-bit hash: first 15 hex digits of md5, as bigint.
    (Spark's xxhash64 has no DuckDB twin; md5 exists in both.)"""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def shingles(col, k: int = 3) -> Column:
    """Distinct word k-shingles of the normalized text, as an array
    column (map-side; no explode).

    Built by zipping the word array with its k-1 shifted copies
    (zip_with pads the short side with null, which concat_ws skips),
    then truncating to the n-k+1 real shingles — one linear pass,
    measurably faster than a transform(sequence, slice) formulation
    because no per-position sub-array is allocated.

    The words array is ``let1``-bound: this subtree is interpreted
    (zip_with is CodegenFallback) and mentions the array 6 times for
    k=3 — unbound, every mention re-runs normalize+regex-split per
    row (measured as the dominant cost of the shingle family under a
    cold/deoptimized JIT)."""
    def build(ws):
        n = F.size(ws)
        acc = ws
        for shift in range(1, k):
            shifted = F.slice(ws, shift + 1, F.greatest(n - shift, F.lit(0)))
            acc = F.zip_with(acc, shifted,
                             lambda a, b: F.concat_ws(" ", a, b))
        full = F.slice(acc, 1, F.greatest(n - (k - 1), F.lit(0)))
        return F.when(
            n < k, F.array_distinct(F.array(F.concat_ws(" ", ws)))
        ).otherwise(F.array_distinct(full))

    return let1(words(normalized_text(col)), build)


# Mersenne prime 2^31-1: universal-hash modulus. Products stay < 2^62,
# inside int64 on both engines (DuckDB errors on BIGINT overflow — no
# silent wraparound allowed in the formula).
MERSENNE31 = 2_147_483_647

# deterministic (a, b) parameters for the permutation family
# h_i(x) = (a_i * x + b_i) mod p — classic MinHash universal hashing
def _perm_params(i: int):
    a = (1_103_515_245 * (i + 1) + 12_345) % MERSENNE31
    b = (69_069 * (i + 1) + 362_437) % MERSENNE31
    return a or 1, b


def shingle_hashes(shingle_col) -> Column:
    """60-bit hash of every shingle, reduced mod 2^31-1 — the one
    md5 pass; everything downstream is integer math."""
    return F.transform(shingle_col, lambda s: hash60(s) % MERSENNE31)


def minhash_signature(shingle_col, num_hashes: int = 16) -> Column:
    """MinHash signature as an array<bigint> of length ``num_hashes``.

    Each shingle is md5-hashed ONCE (the expensive step), then the i-th
    permutation is the universal hash (a_i·h + b_i) mod (2^31-1) — 16
    integer ops instead of 16 md5s per shingle. Computed as a SINGLE
    ``aggregate`` fold carrying a struct of running minima: one
    traversal of the array per row. (The naive form — num_hashes
    separate ``array_min(transform(...))`` expressions — re-evaluates
    the shared hash array per expression because higher-order-function
    subtrees are not CSE'd, turning 1 md5 pass into 16.)"""
    return minhash_signature_from_hashes(shingle_hashes(shingle_col), num_hashes)


def minhash_signature_from_hashes(hash_col, num_hashes: int = 16) -> Column:
    """Signature fold over a pre-hashed shingle array (see
    ``shingle_hashes``) — use when the hash array is a materialized
    (e.g. persisted) column so md5 is never re-run."""
    names = [f"m{i}" for i in range(num_hashes)]
    zero = F.struct(*[F.lit(MERSENNE31).cast("bigint").alias(nm) for nm in names])

    def merge(acc, h):
        cols = []
        for i, nm in enumerate(names):
            a, b = _perm_params(i)
            cols.append(F.least(acc[nm], (h * a + b) % MERSENNE31).alias(nm))
        return F.struct(*cols)

    # finish() runs once per row — the struct→array splay happens inside
    # the single fold, never re-evaluating it per element
    return F.aggregate(hash_col, zero, merge,
                       lambda st: F.array(*[st[nm] for nm in names]))


def band_hashes(sig_col, bands: int, rows_per_band: int) -> Column:
    """LSH band hashes: md5 over each signature slice."""
    return F.array(*[
        F.md5(F.concat_ws(",", *[
            F.element_at(sig_col, b * rows_per_band + r + 1).cast("string")
            for r in range(rows_per_band)
        ]))
        for b in range(bands)
    ])


# --- SQL-text builders (hot path) -------------------------------------
#
# Same formulas as the Column builders above, emitted as Spark-SQL text
# and parsed JVM-side in ONE F.expr call. The Column API builds these
# trees through thousands of py4j round-trips (~1.5 s of driver time
# for the 16-hash fold); at 100 TB the driver builds the same plan for
# thousands of tasks, so plan-construction latency is pure overhead.
# Parity with the Column builders is pinned by tests.


def normalized_text_sql(c: str) -> str:
    return f"trim(regexp_replace(lower({c}), '\\\\s+', ' '))"


def words_sql(c: str) -> str:
    n = normalized_text_sql(c)
    return (f"CASE WHEN {n} = '' THEN array() "
            f"ELSE split({n}, '\\\\s+') END")


def shingles_sql(c: str, k: int = 3) -> str:
    """Distinct word k-shingles (SQL text twin of ``shingles``).
    The words array is ``let1_sql``-bound for the same
    evaluation-count reason as :func:`shingles`."""
    ws = "__ws"
    n = f"size({ws})"
    acc = ws
    for shift in range(1, k):
        shifted = f"slice({ws}, {shift + 1}, greatest({n} - {shift}, 0))"
        acc = f"zip_with({acc}, {shifted}, (a, b) -> concat_ws(' ', a, b))"
    full = f"slice({acc}, 1, greatest({n} - {k - 1}, 0))"
    body = (f"CASE WHEN {n} < {k} "
            f"THEN array_distinct(array(concat_ws(' ', {ws}))) "
            f"ELSE array_distinct({full}) END")
    return let1_sql(words_sql(c), ws, body)


def hash60_sql(c: str) -> str:
    return f"cast(conv(substring(md5({c}), 1, 15), 16, 10) as bigint)"


def shingle_hashes_sql(shingle_expr: str) -> str:
    return f"transform({shingle_expr}, s -> {hash60_sql('s')} % {MERSENNE31})"


def minhash_signature_sql(hash_attr: str, num_hashes: int = 16) -> str:
    """Signature fold over a bound hash-array attribute (SQL twin of
    ``minhash_signature_from_hashes``)."""
    names = [f"m{i}" for i in range(num_hashes)]
    zero = ", ".join(f"'{nm}', cast({MERSENNE31} as bigint)" for nm in names)
    merged = ", ".join(
        f"'{nm}', least(acc.{nm}, (h * {a} + {b}) % {MERSENNE31})"
        for nm, (a, b) in ((nm, _perm_params(i)) for i, nm in enumerate(names)))
    finish = ", ".join(f"st.{nm}" for nm in names)
    return (f"aggregate({hash_attr}, named_struct({zero}), "
            f"(acc, h) -> named_struct({merged}), "
            f"st -> array({finish}))")


def band_hashes_sql(sig_attr: str, bands: int, rows_per_band: int) -> str:
    parts = []
    for b in range(bands):
        cols = ", ".join(
            f"cast(element_at({sig_attr}, {b * rows_per_band + r + 1}) as string)"
            for r in range(rows_per_band))
        parts.append(f"md5(concat_ws(',', {cols}))")
    return f"array({', '.join(parts)})"


def jaccard(a_col, b_col) -> Column:
    """Exact Jaccard over two (distinct-element) array columns."""
    inter = F.size(F.array_intersect(a_col, b_col))
    union = F.size(F.array_union(a_col, b_col))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def shingles_seq(col, k: int = 3) -> Column:
    """POSITIONAL word k-shingles (duplicates kept, document order
    preserved) — winnowing needs the sequence; ``shingles`` returns the
    distinct set for Jaccard/minhash.  Words array ``let1``-bound (see
    :func:`shingles`)."""
    def build(ws):
        n = F.size(ws)
        acc = ws
        for shift in range(1, k):
            shifted = F.slice(ws, shift + 1, F.greatest(n - shift, F.lit(0)))
            acc = F.zip_with(acc, shifted,
                             lambda a, b: F.concat_ws(" ", a, b))
        full = F.slice(acc, 1, F.greatest(n - (k - 1), F.lit(0)))
        return F.when(n < k, F.array(F.concat_ws(" ", ws))).otherwise(full)

    return let1(words(normalized_text(col)), build)


def winnowing_fingerprints_from_hashes(hs, window: int = 4) -> Column:
    """Rolling-window-min fingerprint set over a PRE-MATERIALIZED hash
    sequence column. ``hs`` must be a bound attribute (not an inline
    expression): HOF lambda bodies are outside common-subexpression
    elimination, so an inline ``hs`` subtree would be re-evaluated —
    md5 per shingle — once per window position, turning the linear
    pass quadratic. See ``winnowing_table`` for the two-projection
    composition that keeps it linear."""
    n = F.size(hs)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (window - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(hs, j, window)),
    )
    return F.array_sort(F.array_distinct(mins))


def winnowing_fingerprints(col, k: int = 3, window: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer et al., MOSS): hash
    every k-shingle IN DOCUMENT ORDER, slide a ``window`` over the hash
    sequence, keep each window's minimum — guaranteeing any match of
    length ≥ k+window-1 words shares a fingerprint — then dedupe+sort
    for a canonical set. Pure map-side column math.

    NOTE: as a single Column the shingle-hash subtree sits inside the
    window lambda and gets re-evaluated per window position (no CSE
    into HOF bodies) — fine for ad-hoc use, but pipelines should use
    ``winnowing_table``, which materializes the hash sequence in its
    own projection first (one md5 per shingle, not per window)."""
    hs = F.transform(shingles_seq(col, k), hash60)
    return winnowing_fingerprints_from_hashes(hs, window)


def winnowing_table(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3,
                    window: int = 4) -> DataFrame:
    """Winnowing fingerprints as a two-projection pipeline: stage 1
    materializes the per-document shingle-hash sequence (one md5 per
    shingle), stage 2 takes the rolling-window minima over the bound
    ``hs`` attribute. CollapseProject leaves the split alone because
    ``hs`` is non-cheap and referenced more than once, so the hash
    work stays linear in document length."""
    hashed = df.select(
        F.col(id_col),
        F.transform(shingles_seq(F.col(text_col), k), hash60).alias("hs"))
    return hashed.select(
        F.col(id_col),
        winnowing_fingerprints_from_hashes(F.col("hs"), window)
        .alias("fingerprints"))


def simhash(col, bits: int = 16) -> Column:
    """SimHash fingerprint (``bits`` wide) of the word set: for each bit
    position, the sign of the vote sum over token hashes decides the
    bit. One ``aggregate`` fold over the token hashes carrying all
    ``bits`` vote counters in a struct — a single traversal, a single
    md5 per token (per-bit separate aggregates would re-hash the
    tokens ``bits`` times; HOF subtrees are not CSE'd)."""
    tokens = F.array_distinct(words(normalized_text(col)))
    hashes = F.transform(tokens, hash60)
    names = [f"v{b}" for b in range(bits)]
    zero = F.struct(*[F.lit(0).cast("bigint").alias(nm) for nm in names])

    def merge(acc, h):
        return F.struct(*[
            (acc[nm] + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
             ).alias(nm)
            for b, nm in enumerate(names)
        ])

    def finish(st):
        out = F.lit(0).cast("bigint")
        for b, nm in enumerate(names):
            out = out + F.when(st[nm] > 0, F.lit(1 << b).cast("bigint")).otherwise(0)
        return out

    return F.aggregate(hashes, zero, merge, finish)


# ---------------------------------------------------------------------------
# DataFrame-level operators
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup report: one row per distinct content fingerprint
    with its cardinality and canonical (min) id. Scale: single shuffle
    on the md5 key."""
    return (
        df.select(F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row per distinct content (the min-id row)."""
    h = F.md5(normalized_text(F.col(text_col)))
    w_min = exact_duplicates(df, text_col, id_col).select("keep_id")
    return df.join(w_min, df[id_col] == w_min.keep_id, "left_semi")


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    Plan shape (the 100 TB story):
      1. scan-stage column math: shingles → signature → band hashes
         (no shuffle, no Python);
      2. explode band hashes (rows × bands — small, fixed blowup);
      3. self-join on (band_idx, band_hash) → candidate pairs
         (shuffles only ids + 32-byte hashes, never documents);
      4. join candidates back to the shingle arrays and verify exact
         Jaccard ≥ threshold (shuffles only candidate ids).
    """
    rows_per_band = num_hashes // bands
    df = spread(df)
    # persist the (small) signature table at the branch point: it feeds
    # the band explode AND both verification joins, and persisting also
    # guarantees the md5 shingle-hash pass runs exactly once. At 100 TB
    # this is the standard LSH materialization step (hashed shingles +
    # signature are ~10× smaller than the text they derive from).
    # Verification Jaccard runs on the hashed shingle sets (int
    # compares, no string arrays carried through the joins).
    # Expressions are emitted as SQL text (one JVM-side parse) — the
    # Column-API twins cost ~1.5 s of py4j chatter per plan build.
    # `sh` stays a bound attribute between the two projections, so the
    # md5 pass is planned once (CollapseProject keeps non-cheap
    # expressions single-use).
    base = df.selectExpr(
        f"{id_col} AS doc_id",
        f"{shingle_hashes_sql(shingles_sql(text_col, shingle_k))} AS sh",
    ).selectExpr(
        "doc_id", "sh",
        f"{minhash_signature_sql('sh', num_hashes)} AS sig",
    ).persist()
    banded = base.selectExpr(
        "doc_id",
        f"posexplode({band_hashes_sql('sig', bands, rows_per_band)}) "
        "AS (band_idx, band_hash)",
    )
    left = banded.alias("a")
    right = banded.alias("b")
    cands = (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = base.select("doc_id", "sh")
    return (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the set-similarity join
    (Vernica et al.): shingles are distinct per doc, so the shared-
    shingle equi-join GROUPed by pair yields |A∩B| directly, and
    |A∪B| = |A| + |B| − |A∩B|. No array payloads ever shuffle — only
    (doc_id, hash60) pairs — and no per-pair array_intersect runs.
    At 100 TB the further step is prefix filtering; at low thresholds
    the count-join IS the standard plan."""
    df = spread(df)
    # persisted at the branch point: the hashed-shingle table feeds the
    # self-joined explode (twice) and the size lookup — one md5 pass
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(shingles(F.col(text_col), shingle_k), hash60).alias("sh_h"),
    ).select("doc_id", "sh_h", F.size("sh_h").alias("n_sh")).persist()
    sizes = base.select("doc_id", "n_sh")
    exploded = base.select("doc_id", F.explode("sh_h").alias("sh_hash"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.sh_hash") == F.col("b.sh_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(F.broadcast(sizes.withColumnRenamed("doc_id", "doc_a")
                               .withColumnRenamed("n_sh", "n_a")), "doc_a")
        .join(F.broadcast(sizes.withColumnRenamed("doc_id", "doc_b")
                          .withColumnRenamed("n_sh", "n_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


#: seconds ``observed_metrics`` waits for an Observation's metrics.
#: They land on the listener bus right behind the observed action, so
#: the bound only matters for a metric that never arrives.
OBSERVATION_TIMEOUT_S = 120.0


def observed_metrics(obs, timeout_s: float = OBSERVATION_TIMEOUT_S) -> dict:
    """``obs.get``, bounded. ``Observation.get`` blocks until the
    observed dataset's first action reports its metrics — forever if
    they never arrive (the action never ran, or its event was lost).
    This polls the JVM observation's public ``future()`` against a
    deadline and raises ``TimeoutError`` past ``timeout_s``."""
    import time

    if obs._jo is None:
        return obs.get  # not attached to a DataFrame: PySpark's error
    fut = obs._jo.future()
    deadline = time.monotonic() + timeout_s
    delay = 0.001
    while not fut.isCompleted():
        if time.monotonic() >= deadline:
            raise TimeoutError(
                f"observed metrics did not arrive within {timeout_s:g} s"
                " — the observed DataFrame ran no action, or its"
                " metrics were lost")
        time.sleep(delay)
        delay = min(2 * delay, 0.05)
    return obs.get


def connected_components_star(edges: DataFrame, nodes: DataFrame,
                              id_col: str = "doc_id",
                              src_col: str = "doc_a",
                              dst_col: str = "doc_b",
                              max_iter: int = 50) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): the transitive-closure step exact/LSH dedup needs (A~B
    and B~C land A, B, C in ONE cluster, labeled by its minimum id,
    even when A~C was never a candidate pair). It is the 100 TB-scale
    variant of min-label propagation:
    rounds grow with log(component size), not graph diameter, so a
    20-hop (or 20,000-hop) chain converges in a handful of rounds
    where plain label propagation needs one round per hop.

    Per round: large-star hangs every neighbor v > u off
    min(Γ(u) ∪ {u}); small-star re-hangs the smaller neighbors.  Both
    are one groupBy + one equi-join over (node, node) pairs — no step
    ever materializes more than O(|E|) rows.  At fixpoint the edge set
    is a forest of depth-1 stars whose centers are the component
    minima; ``localCheckpoint`` cuts lineage so plan size stays
    constant across rounds (the standard Spark iterative pattern)."""
    def ck_with_sig(df):
        """Checkpoint the edge set AND collect its fixpoint signature
        (count, xor of row hashes) in the SAME job: the signature is an
        ``observe`` metric on the checkpoint action, so each round runs
        ONE job where r10's gate ran two (checkpoint + separate
        aggregate).  bit_xor cannot overflow under ANSI, unlike sum.
        A signature mismatch PROVES the sets differ, so the expensive
        definitive check (exceptAll) only runs on the (rare) signature
        match; with equal counts over two DISTINCT sets,
        one-directional exceptAll-empty proves equality."""
        from pyspark.sql import Observation

        obs = Observation()
        ck = df.observe(obs, F.count(F.lit(1)).alias("n"),
                        F.bit_xor(F.xxhash64("u", "v")).alias("h")) \
            .localCheckpoint(eager=True)
        # bounded wait for the checkpoint job's metrics: a lost
        # metric raises instead of hanging the loop
        m = observed_metrics(obs)
        return ck, (m["n"], m["h"])

    e, e_sig = ck_with_sig(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"),
                F.least("u", "v").alias("v"))
        .distinct())

    for _ in range(max_iter):
        # large-star over the symmetric view: every strictly larger
        # neighbor of u re-attaches to m = min(Γ(u) ∪ {u})
        sym = e.union(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
        lmin = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("u", "mn").alias("m")))
        large = (sym.join(lmin, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .where(F.col("u") != F.col("v")))
        # small-star on the (hi → lo) orientation: u and all its
        # smaller neighbors re-attach to the smallest of them
        dir_ = (large.select(F.greatest("u", "v").alias("u"),
                             F.least("u", "v").alias("v")).distinct())
        smin = dir_.groupBy("u").agg(F.min("v").alias("m"))
        small, s_sig = ck_with_sig(
            dir_.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"))
            .distinct())
        # signature gate first (free — same job as the checkpoint);
        # definitive set-equality check only on a match
        if s_sig == e_sig and small.exceptAll(e).isEmpty():
            e = small
            break
        e, e_sig = small, s_sig

    # converged edge set is (member → component-min) stars; isolated
    # nodes label themselves
    members = (e.groupBy(F.col("u").alias("id"))
               .agg(F.min("v").alias("label")))
    return (nodes.select(F.col(id_col).alias("id"))
            .join(members, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.coalesce("label", "id").alias("cluster_id")))


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Asymmetric shingle-containment pairs: C(A in B) = |A∩B|/|A|.

    Containment catches doc-inside-doc duplication (quotes, mirrors,
    prefix crawls) that symmetric Jaccard dilutes away — a short doc
    fully embedded in a long one has Jaccard ~ |A|/|B| but
    containment 1.0.  Same count-join plan as
    :func:`ngram_jaccard_pairs` (only (doc_id, hash) pairs shuffle;
    |A∩B| falls out of the grouped shared-shingle join), with the
    max of both direction-containments thresholded."""
    df = spread(df)
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(shingles(F.col(text_col), shingle_k), hash60).alias("sh_h"),
    ).select("doc_id", "sh_h", F.size("sh_h").alias("n_sh")).persist()
    sizes = base.select("doc_id", "n_sh")
    exploded = base.select("doc_id", F.explode("sh_h").alias("sh_hash"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.sh_hash") == F.col("b.sh_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    both = (
        inter.join(F.broadcast(sizes.withColumnRenamed("doc_id", "doc_a")
                               .withColumnRenamed("n_sh", "n_a")), "doc_a")
        .join(F.broadcast(sizes.withColumnRenamed("doc_id", "doc_b")
                          .withColumnRenamed("n_sh", "n_b")), "doc_b"))
    c_ab = F.col("n_inter") / F.col("n_a")
    c_ba = F.col("n_inter") / F.col("n_b")
    return (both
            .select("doc_a", "doc_b",
                    F.round(c_ab, 6).alias("contain_a_in_b"),
                    F.round(c_ba, 6).alias("contain_b_in_a"),
                    F.round(F.col("n_inter")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("n_inter")), 6).alias("jaccard"))
            .where(F.greatest(F.col("contain_a_in_b"),
                              F.col("contain_b_in_a")) >= threshold))
