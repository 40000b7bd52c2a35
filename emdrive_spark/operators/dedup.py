"""Deduplication operators — exact, MinHash/LSH, SimHash, n-gram
Jaccard, embedding-cosine.

ABSENT in the reference; first-class north-star surface for LLM
training-data pipelines. The fixture corpus has no natural duplicates
(500/500 distinct texts), so the dup-pair ops run on ``_doubled()`` — the
corpus unioned with an id-shifted copy of itself — giving deterministic,
non-empty known answers (every doc has exactly one exact duplicate).

Scale design:
- Exact dedup = hash-groupBy on a digest: one shuffle of (16-byte md5,
  id), never of the payload. At 100 TB you shuffle ~2% of the bytes.
- MinHash+LSH = the linear-cost near-dup path: signatures are a
  projection; candidate pairs come from equality joins on band buckets
  (shuffle on bucket id), so cost ~ #colliding pairs, not n².
- The exact n-gram Jaccard join is the quadratic-in-collisions
  verifier — at scale you run it only on LSH candidates; here it also
  serves as the DuckDB-checkable oracle twin.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from emdrive_spark.functions.ckpt import ckpt
from emdrive_spark.functions.layout import spread
from emdrive_spark.operators.text import (
    _winnow_ctes,
    minhash_lane_sql,
    minhash_sig_array,
    shingles,
    tokens,
)
from emdrive_spark.registry import register
from emdrive_spark.sources.tables import load

_SHIFT = 1_000_000  # id offset for the duplicated copy

# Buckets up to this size expand to pairs via one in-row array
# expression (worst case cap²/2 ≈ 524k structs ≈ 8 MB per row); larger
# buckets — stop-shingle territory — take the AQE-splittable self-join
# path instead. See dedup_edit_verified.
_BUCKET_CAP = 1024

_DOUBLED_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_SHIFT} AS doc_id, text FROM documents
"""


def _doubled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.select((F.col("doc_id") + _SHIFT).alias("doc_id"), "text")
    return docs.unionByName(shifted)


def _bucket_pairs(sh: DataFrame) -> DataFrame:
    """(doc_id, key) rows → (id_a, id_b) candidate pairs with EXACTLY
    the multiplicity of the equality self-join ``a.key = b.key AND
    a.doc_id < b.doc_id`` (one row per same-key row combination), but
    generated bucket-locally: ONE shuffle of the keys instead of two
    join shuffles, and each bucket's member list expands to ordered
    pairs in a single codegen'd array expression. Buckets larger than
    _BUCKET_CAP — stop-shingle territory, where one collect_list row
    would explode m² structs that AQE cannot split — fall back to the
    real self-join, whose m² output spreads across m rows and IS
    AQE-splittable. The two paths partition the buckets, so downstream
    pair counts are identical to the pure self-join (pytest-pinned by
    forcing the cap to 0 and to ∞). The bucket frame is checkpointed:
    both branches read it, and un-materialized they would recompute
    the upstream projection and race (measured 16.9 s tail vs 4.1 s)."""
    key = next(c for c in sh.columns if c != "doc_id")
    # spread BEFORE the checkpoint (guide §2.5/§2.2): AQE coalesces the
    # slim collect_list shuffle to a handful of partitions (6 at sf0.1,
    # it only sees the 7 MB bucket frame), but the next stage explodes
    # m² pair structs per bucket — amplification AQE cannot see — so
    # the expansion ran near-serial. Repartitioning the narrow bucket
    # frame across every core first is one cheap exchange; the
    # checkpoint then materializes that layout. Profile: the expansion
    # stage went 6 tasks / 9.3 s run → 32 tasks (stage_profile,
    # dedup_edit_verified sf0.1).
    buckets = (
        sh.groupBy(key)
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .transform(spread)
        .transform(ckpt)
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "filter(transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(least(x, y) AS id_a, greatest(x, y) AS id_b)), "
        "p -> p.id_a <> p.id_b)))"
    )
    pairs_small = (
        buckets.filter(F.size("ids") <= _BUCKET_CAP)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
    )
    hot = buckets.filter(F.size("ids") > _BUCKET_CAP).select(
        key, F.explode("ids").alias("doc_id")
    )
    pairs_hot = (
        hot.alias("a")
        .join(
            hot.alias("b"),
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    return pairs_small.unionByName(pairs_hot)


def band_members(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig_arr[8]) → (doc_id, bkt): the shared 4-band × 2-lane
    LSH bucket membership used by dedup_lsh_verified, dedup_components,
    and the skew profiler (tools/stress_dedup.py). One definition so the
    candidate generator and its diagnostics can never drift apart."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}|"),
                        F.col("sig_arr")[2 * b],
                        F.lit("|"),
                        F.col("sig_arr")[2 * b + 1],
                    )
                    for b in range(4)
                ]
            )
        ).alias("bkt"),
    )


@register(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS ({_DOUBLED_SQL})
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS dup_count
    FROM corpus GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on content digest, keep the smallest id.
    Shuffles only (digest, id) — payload never moves."""
    return (
        _doubled(spark, sf_dir)
        .select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


@register(
    "dedup_ngram",
    oracle=rf"""
    WITH corpus AS ({_DOUBLED_SQL}),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM corpus)
    ),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(common / (ca.n + cb.n - common), 4) AS jaccard
    FROM pairs
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE common / (ca.n + cb.n - common) >= 0.8
    """,
)
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (threshold 0.8): explode
    distinct 3-shingles, pair docs via equality join on shingle,
    jaccard = |∩| / (|A|+|B|-|∩|). The shingle equi-join is the only
    shuffle; at 100 TB this runs on LSH candidates, not the full corpus."""
    sh = (
        _doubled(spark, sf_dir)
        .select("doc_id", F.explode(shingles(F.col("text"))).alias("shingle"))
    )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    jac = F.col("common") / (F.col("ca.n") + F.col("cb.n") - F.col("common"))
    return (
        pairs.join(ca, F.col("id_a") == F.col("ca.doc_id"))
        .join(cb, F.col("id_b") == F.col("cb.doc_id"))
        .filter(jac >= 0.8)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


@register("dedup_minhash", oracle=None)  # LSH signatures are engine-specific
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle sets → seeded MinHash signatures →
    approxSimilarityJoin (band-bucket equality join) at Jaccard distance
    ≤ 0.2. The linear-cost scale path; the exact twin is dedup_ngram."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    corpus = _doubled(spark, sf_dir).withColumn("sh", shingles(F.col("text")))
    cv = CountVectorizer(inputCol="sh", outputCol="features", binary=True)
    model = cv.fit(corpus)
    feat = model.transform(corpus)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    mh_model = mh.fit(feat)
    joined = mh_model.approxSimilarityJoin(feat, feat, 0.2, distCol="jaccard_dist")
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.round("jaccard_dist", 4).alias("jaccard_dist"),
        )
    )


@register("dedup_simhash", oracle=None)  # xxhash64 is Spark-specific
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit fingerprint = sign of per-bit sums of
    token hashes; candidate pairs = equality on 8-bit bands (8 bands →
    Hamming ≤ 3 can corrupt at most 3 bands, so ≥5 still collide);
    verify with exact Hamming. 64 bits, not 32 (r4 review): a 32-bit
    fingerprint's hamming<=3 ball is so dense that unrelated documents
    collide ~100x more often than real near-dups at even a 2k-doc
    corpus, and the false-flag rate grows quadratically — the full 64
    hash bits are already computed per token, so the wider fingerprint
    costs only the extra bit-sum columns. All codegen arithmetic
    (xxhash64 + bit ops), one explode, one band join."""
    nbits = 64
    n_bands = 8
    corpus = _doubled(spark, sf_dir)
    tok = corpus.select("doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"))
    h = tok.withColumn("h", F.xxhash64("tok"))
    # per-bit contribution: +1 if bit set else -1, summed per doc
    bit_sums = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(nbits)
        ]
    )
    # shiftleft(1L, i), not 2**i: the bit-63 literal overflows a signed
    # long in Python; Java shift wraps to the sign bit, and summing
    # distinct powers reproduces the exact bit pattern.
    fp = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
                ).otherwise(F.lit(0).cast("long"))
                for i in range(nbits)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), F.shiftright(F.col("simhash"), i * 8).bitwiseAND(F.lit(255)).alias("key"))
                for i in range(n_bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= 3)


# --- deterministic sign-LSH for cosine (shared Spark + DuckDB) -----------
#
# 32 Rademacher (±1) hyperplanes derived from md5("h:i") — reproducible
# in any engine, no library RNG. Signature bit h = sign(R_h · w) where
# w = floor(v·10⁶ + 0.5) per element: integer-valued terms keep every
# dot product EXACT in double arithmetic (|terms| ≪ 2⁵³), so both
# engines compute identical bits regardless of summation order (a raw
# float dot could flip a sign at the last ulp). Sign bits are invariant
# to the positive scale factor, so no normalization is needed first.

_EMB_DIM = 64  # fixture contract (TESTDATA.md: embeddings.embedding)
# 12 bands × 16 bits (round 5; was 4 × 8). Identical vectors still
# collide with p = 1 in every band (equal quantized inputs ⇒ equal
# bits). For cos 0.95 pairs (per-bit agreement 1 − θ/π ≈ 0.899) the
# whole-band hit rate is 0.899¹⁶ ≈ 0.18, so ≥1 of 12 bands fires with
# p ≈ 0.91 — the same documented recall trade as before (0.89). The
# win is the FALSE-candidate rate: near-orthogonal pairs collide per
# band at 2⁻¹⁶ ≈ 1.5e-5 instead of 2⁻⁸, which cut measured candidates
# at sf0.1 from 149,624 pairs (7.5% of all pairs — effectively
# quadratic) to ~the true-duplicate count, and the exact-cosine rerank
# only ever pays for candidates.
_BAND_BITS = 16
_SIGN_BANDS = 12
_SIGN_BITS = _BAND_BITS * _SIGN_BANDS  # 192 hyperplanes


def _rademacher(h: int, dim: int = _EMB_DIM) -> list[int]:
    import hashlib

    return [
        1 if int(hashlib.md5(f"{h}:{i}".encode()).hexdigest()[0], 16) >= 8 else -1
        for i in range(dim)
    ]


_PLANES = [_rademacher(h) for h in range(_SIGN_BITS)]

_W_SQL = "list_transform(v, x -> floor(x * 1000000 + 0.5))"


def _band_key_sql(b: int) -> str:
    bits = []
    for h in range(_BAND_BITS):
        plane = _PLANES[_BAND_BITS * b + h]
        arr = "[" + ", ".join(str(c) for c in plane) + "]"
        bits.append(
            f"(CASE WHEN list_dot_product(w, {arr}::DOUBLE[]) >= 0 "
            f"THEN {1 << h} ELSE 0 END)"
        )
    return " + ".join(bits)


def _sign_keys_udf():
    """All 12 band keys in one vectorized Arrow pass: quantize, multiply
    by the (64 × 192) ±1 plane matrix as an exact int64 numpy matmul,
    threshold to sign bits, pack 16 bits per band.

    Why Python here, in an engine that keeps hot paths JVM-side: a
    dense 192-plane projection has no compact Catalyst form. The
    higher-order aggregate/zip_with fold is interpreted per element
    (~2 s at sf0.1 for a QUARTER of these planes), and unrolling the
    signed sums into 12k expression nodes made Catalyst
    analysis/codegen the bottleneck (minutes per plan). The
    Arrow-batched matmul is the documented exception for dense linear
    algebra — compute is |corpus| × 12k fused int multiply-adds at
    numpy speed, transfer is one 64-double column in, 12 longs out.
    Bit-identical to the DuckDB oracle: both floor-quantize the same
    doubles and sum the same exact integers (|Σ| < 2⁵³), so a sign can
    never diverge."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mat = np.array(_PLANES, dtype=np.int64).T  # (dim, planes)

    @pandas_udf("array<bigint>")
    def sign_keys(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(v.to_numpy())  # (batch, dim) float64
        wq = np.floor(m * 1000000.0 + 0.5).astype(np.int64)
        bits = (wq @ mat) >= 0  # (batch, planes)
        shifts = np.arange(_BAND_BITS, dtype=np.int64)
        keys = np.empty((bits.shape[0], _SIGN_BANDS), dtype=np.int64)
        for b in range(_SIGN_BANDS):
            band = bits[:, b * _BAND_BITS : (b + 1) * _BAND_BITS]
            keys[:, b] = (band.astype(np.int64) << shifts).sum(axis=1)
        return pd.Series(list(keys))

    return sign_keys


_EMB_COSINE_ORACLE = f"""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + {_SHIFT} AS vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    sig AS (
      SELECT vec_id, v,
             {', '.join(f"{_band_key_sql(b)} AS k{b}" for b in range(_SIGN_BANDS))}
      FROM (SELECT vec_id, v, {_W_SQL} AS w FROM corpus)
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT vec_id, v, {b} AS band, k{b} AS key FROM sig" for b in range(_SIGN_BANDS))}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, a.v AS va, b.vec_id AS id_b, b.v AS vb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           round(list_dot_product(va, vb)
                 / nullif(sqrt(list_dot_product(va, va))
                          * sqrt(list_dot_product(vb, vb)), 0.0), 6) AS cos_sim
    FROM cand
    WHERE round(list_dot_product(va, vb)
                / nullif(sqrt(list_dot_product(va, va))
                         * sqrt(list_dot_product(vb, vb)), 0.0), 6) >= 0.95
    """


def _embedding_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return emb.unionByName(emb.select((F.col("vec_id") + _SHIFT).alias("vec_id"), "v"))


def dedup_embedding_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs exact cosine twin — O(n²), pytest-only oracle for
    dedup_embedding. NOT registered: at 100 TB an ungated theta join is
    unrunnable; the registered op must gate candidates (r1 verdict)."""
    from emdrive_spark.functions.distance import cosine_similarity

    corpus = _embedding_corpus(spark, sf_dir)
    a = corpus.alias("a")
    b = corpus.alias("b")
    sim = F.round(cosine_similarity(F.col("a.v"), F.col("b.v")), 6)
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.95)
    )


@register("dedup_embedding", oracle=_EMB_COSINE_ORACLE)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (sim ≥ 0.95): deterministic
    sign-LSH candidates + exact cosine rerank — the same two-stage
    shape as dedup_lsh_verified, value-checked end-to-end (the oracle
    reproduces the Rademacher hyperplanes and band keys bit-for-bit,
    see _EMB_COSINE_ORACLE).

    Why not an exact-complete grid: concentration of measure makes any
    1-D feature of a near-isotropic high-dim vector cluster within
    ~1/√d, so cells wide enough to guarantee the 0.3162 chord at
    cos 0.95 barely discriminate — measured effectively quadratic at
    sf0.1. Sign-LSH discriminates where geometry actually varies (the
    angle): orthogonal pairs collide on a 16-bit band with p≈2⁻¹⁶,
    identical/duplicate vectors collide with p=1 (equal quantized
    inputs ⇒ equal bits), and cos-0.95 pairs are caught by ≥1 of 12
    bands with p≈0.91 — the documented LSH recall trade, exactly as in
    dedup_minhash (band-width rationale at _BAND_BITS). Exact
    duplicates can NEVER be missed (pinned by pytest against the
    brute-force twin).

    Scale shape: signature = 192 exact integer signed sums per row via
    ONE Arrow-batched numpy matmul (_sign_keys_udf — the deliberate
    Python node in this hot path; the 192-column codegen expansion it
    replaced was measured slower), shuffle on (band, key), rerank cost
    ~ collisions — no cartesian product anywhere (pinned by tests)."""
    from emdrive_spark.functions.distance import cosine_similarity

    corpus = _embedding_corpus(spark, sf_dir)
    # Bands carry IDS ONLY and are materialized once (localCheckpoint):
    # a lazy self-join would re-evaluate the signature pass on both
    # sides, and carrying the 64-double payload through the collision
    # shuffle + distinct costs far more than re-fetching vectors by id
    # afterwards (measured 6.2s → 1.7s at sf0.1). Keys come from the
    # Arrow matmul (_sign_keys_udf — see its docstring for why this is
    # the one deliberate Python node in a dedup hot path).
    bands = (
        corpus.select("vec_id", _sign_keys_udf()(F.col("v")).alias("keys"))
        .select("vec_id", F.posexplode("keys").alias("band", "key"))
        .transform(ckpt)
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    va = corpus.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = corpus.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    sim = F.round(cosine_similarity(F.col("va"), F.col("vb")), 6)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.95)
    )


@register(
    "dedup_components",
    oracle=rf"""
    WITH RECURSIVE
    corpus AS ({_DOUBLED_SQL}),
    sigs AS (
      SELECT doc_id,
             {', '.join(f"list_min(list_transform(sh, s -> {minhash_lane_sql(j)})) AS sig{j}" for j in range(8))}
      FROM (
        SELECT doc_id,
               list_distinct(
                 list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                                i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM corpus)
      )
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, sig{2*b} || '|' || sig{2*b+1} AS key FROM sigs" for b in range(4))}
    ),
    edges AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id <> b.doc_id
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM sigs
      UNION
      SELECT e.src, r.label FROM reach r JOIN edges e ON r.node = e.dst
    )
    SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    LSH-band collision graph (4 bands × 2 minhash sigs), by bucket-min
    label propagation — each round, every bucket takes the least label
    of its members and every doc takes the least label of its buckets,
    until fixpoint. This turns pairwise near-dup hits into canonical
    clusters (A~B, B~C ⇒ {{A,B,C}} share one keep-id even when A≁C).

    Scale: the graph is never materialized as PAIRS — a hot bucket with
    m members would emit m² edges (the quadratic blowup that kills
    edge-list connected components on skewed dup corpora); propagating
    through the bucket node keeps every round linear in |memberships|
    (4 rows/doc). Per round = two key-shuffled min-aggs (by bucket, by
    doc) + one left join for the convergence flag; a bucket is a
    clique, so bucket-hops preserve exactly the edge graph's
    connectivity and reach fixpoint in ~half the rounds (2 hops per
    round). localCheckpoint() truncates lineage each round. The oracle
    is a recursive-CTE transitive closure — same fixpoint,
    declaratively."""
    from emdrive_spark.operators.text import minhash_sig_array, shingles

    sh = F.array_distinct(shingles(F.col("text")))
    # Signatures are read 8× downstream (4 bands × 2) — materialize the
    # one-pass array once instead of letting projection pushdown
    # recompute the shingle pipeline per band.
    corpus = (
        spread(_doubled(spark, sf_dir))  # few-split scan, ~100× amplification
        .select("doc_id", minhash_sig_array(sh).alias("sig_arr"))
        .transform(ckpt, eager=False)
    )

    member = band_members(corpus).transform(ckpt)
    # r12 measured and REJECTED (OPTIMIZATION_r12.md, iterative loops):
    # pinning member by doc_id + bkt (layout.pin) with shuffle_hash-
    # hinted label sides ran 3.9 -> 4.3 s / cpu 31 -> 40 s — the
    # per-round label frames here are small enough that AQE's broadcast
    # already makes the member joins exchange-free, so the two columnar
    # cache builds are pure overhead. Keep the ckpt shape.

    labels = corpus.select("doc_id", F.col("doc_id").alias("component")).transform(ckpt)
    for _ in range(12):  # ceil(diameter/2) bound; dup clusters are shallow
        bucket_min = (
            member.join(labels, "doc_id")
            .groupBy("bkt")
            .agg(F.min("component").alias("bmin"))
        )
        nbr = (
            member.join(bucket_min, "bkt")
            .groupBy("doc_id")
            .agg(F.min("bmin").alias("nbr_min"))
        )
        # new label + changed-flag in ONE checkpointed frame: the
        # convergence check is then a scan of the checkpoint, not a
        # second old⋈new join per round.
        new_component = F.least(
            F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
        )
        stepped = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                new_component.alias("component"),
                (new_component < F.col("component")).alias("chg"),
            )
            .transform(ckpt)
        )
        changed = stepped.filter("chg").count()
        labels = stepped.select("doc_id", "component")
        if changed == 0:
            break
    return labels


@register(
    "dedup_embedding_components",
    oracle=f"""
    WITH RECURSIVE
    corpus AS (
      SELECT vec_id FROM embeddings
      UNION ALL
      SELECT vec_id + {_SHIFT} AS vec_id FROM embeddings
    ),
    pairs AS (SELECT id_a, id_b FROM ({_EMB_COSINE_ORACLE}) q),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, label) AS (
      SELECT vec_id, vec_id FROM corpus
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src
    )
    SELECT node AS vec_id, min(label) AS component FROM reach GROUP BY node
    """,
)
def dedup_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment over the embedding near-dup graph:
    connected components across dedup_embedding's verified pairs
    (cos ≥ 0.95 after sign-LSH gating), by iterative min-label
    propagation — the embedding twin of dedup_components, turning
    pairwise hits into canonical keep-groups (A~B, B~C ⇒ one cluster).

    Unlike the text version (which propagates through BUCKET nodes —
    its 64-bit minhash band keys are selective enough to treat a bucket
    as a clique), embedding clusters propagate over the RERANKED edge
    list: sign bands still collide on near-orthogonal vectors (2⁻¹⁶
    per band), so bucket-cliques would merge unrelated clusters at
    corpus scale; after the exact
    cosine rerank the edge list is sparse (~true duplicates), making
    edge propagation linear. Per round: one join + two key-shuffled
    min-aggs; localCheckpoint keeps lineage flat. Oracle = recursive
    transitive closure over the identical (deterministically
    reproducible) edge set."""
    edges_fwd = dedup_embedding(spark, sf_dir).select("id_a", "id_b")
    edges = (
        edges_fwd.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            edges_fwd.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .transform(ckpt)
    )
    labels = (
        _embedding_corpus(spark, sf_dir)
        .select("vec_id", F.col("vec_id").alias("component"))
        .transform(ckpt)
    )
    for _ in range(12):  # dup clusters are shallow; fixpoint long before
        nbr = (
            edges.join(labels, edges["dst"] == labels["vec_id"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_component = F.least(
            F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
        )
        stepped = (
            labels.join(nbr, labels["vec_id"] == nbr["src"], "left")
            .select(
                "vec_id",
                new_component.alias("component"),
                (new_component < F.col("component")).alias("chg"),
            )
            .transform(ckpt)
        )
        changed = stepped.filter("chg").count()
        labels = stepped.select("vec_id", "component")
        if changed == 0:
            break
    return labels


@register(
    "dedup_lsh_verified",
    oracle=rf"""
    WITH corpus AS ({_DOUBLED_SQL}),
    shl AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM corpus)
    ),
    sigs AS (
      SELECT doc_id,
             {', '.join(f"list_min(list_transform(sh, s -> {minhash_lane_sql(j)})) AS sig{j}" for j in range(8))}
      FROM shl
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, sig{2*b} || '|' || sig{2*b+1} AS key FROM sigs" for b in range(4))}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id, unnest(sh) AS shingle FROM shl),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           round(common / (ca.n + cb.n - common), 4) AS jaccard
    FROM common
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE common / (ca.n + cb.n - common) >= 0.8
    """,
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production near-dup composition at 100 TB: deterministic
    MinHash band buckets generate candidates (linear in collisions),
    exact n-gram Jaccard reranks ONLY those candidates (the expensive
    verifier never sees the full corpus). dedup_ngram is the all-pairs
    twin of the rerank; dedup_components shares the identical band
    construction (4 bands × 2 md5-lane sigs), so both stages are
    value-checked end-to-end against DuckDB — the whole pipeline is
    engine-portable, no Spark-specific hashing anywhere.

    Scale shape: shuffles are (band-key) for candidates, then two
    doc_id-keyed joins carrying the shingle arrays to the candidate
    rows — cost bounded by |candidates|, never an all-pairs product.
    A hot band bucket (m members → m² candidate pairs) is the known
    LSH skew risk; AQE skew-join splitting plus the 2-sig band width
    (collision prob ≈ j² per band at Jaccard j) keep buckets shallow
    on real corpora."""
    from emdrive_spark.operators.text import minhash_sig_array

    # The shingle frame feeds BOTH the signature pass and the Jaccard
    # explode; materialize it once (shingling the corpus is the
    # expensive projection — recomputing it per consumer doubles the
    # dominant cost).
    corpus = (
        spread(_doubled(spark, sf_dir))  # few-split scan, ~100× amplification
        .select("doc_id", shingles(F.col("text")).alias("sh"))  # already distinct
        .transform(ckpt)
    )
    sigs = corpus.select(
        "doc_id", "sh", minhash_sig_array(F.col("sh")).alias("sig_arr")
    )
    member = band_members(sigs)
    a = member.alias("a")
    b = member.alias("b")
    cand = (
        a.join(b, (F.col("a.bkt") == F.col("b.bkt")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    # Verify via array_intersect on the checkpointed shingle ARRAYS:
    # the exploded-shingle twin of this stage (join candidates against
    # a (doc_id, shingle) explode twice, count equal shingles, then
    # join per-doc counts) costs two corpus-wide shuffles; carrying
    # the arrays to the candidate rows costs two hash joins bounded by
    # |candidates| and computes |A∩B| in-row (measured ~15% faster at
    # sf0.1, identical 6,024 pairs). The intersection of distinct
    # arrays IS the equal-shingle count, so the oracle's exploded
    # formulation matches value-for-value.
    A = corpus.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    B = corpus.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    j = cand.join(A, "id_a").join(B, "id_b")
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = common / (F.size("sh_a") + F.size("sh_b") - common)
    return j.filter(jac >= 0.8).select(
        "id_a", "id_b", F.round(jac, 4).alias("jaccard")
    )


@register(
    "dedup_minhash_det",
    oracle=rf"""
    WITH corpus AS ({_DOUBLED_SQL}),
    sigs AS (
      SELECT doc_id,
             {', '.join(f"list_min(list_transform(sh, s -> {minhash_lane_sql(j)})) AS sig{j}" for j in range(8))}
      FROM (
        SELECT doc_id,
               list_distinct(
                 list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                                i -> array_to_string(toks[i:i+2], ' '))) AS sh
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM corpus)
      )
    )
    SELECT min(doc_id) AS keep_id, count(*) AS dup_count
    FROM sigs
    GROUP BY {', '.join(f'sig{j}' for j in range(8))}
    """,
)
def dedup_minhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup by FULL MinHash-signature equality, with the
    deterministic md5 hash family (portable across engines, unlike
    MLlib's) — groupBy on the 8-wide signature is the linear-cost dedup
    path: one shuffle of (signature, id), payload never moves, exactly
    like dedup_exact but tolerant to shingle-set sampling. The doubled
    corpus yields a known answer: every doc collapses with its copy."""
    from emdrive_spark.operators.text import minhash_sig_array, shingles

    sh = F.array_distinct(shingles(F.col("text")))
    mid = spread(_doubled(spark, sf_dir)).select(
        "doc_id", minhash_sig_array(sh).alias("sig_arr")
    )
    corpus = mid.select("doc_id", *[F.col("sig_arr")[j].alias(f"sig{j}") for j in range(8)])
    return corpus.groupBy(*[f"sig{j}" for j in range(8)]).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count")
    ).select("keep_id", "dup_count")


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH corpus AS ({_DOUBLED_SQL})
    SELECT md5(text) AS fp,
           arg_max(doc_id, len(text) * 1000000 - doc_id) AS keep_id,
           count(*) AS dup_count
    FROM corpus GROUP BY md5(text)
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy dedup: within each duplicate cluster keep the BEST
    representative (here: longest text, lowest id as tiebreak) — the
    realistic corpus-dedup decision, vs dedup_exact's min-id. One
    max_by aggregate; the quality score rides the shuffle as part of
    the (digest, id, score) triple, payload still never moves."""
    score = F.length("text") * F.lit(1_000_000) - F.col("doc_id")
    return (
        _doubled(spark, sf_dir)
        .select(F.md5("text").alias("fp"), "doc_id", score.alias("score"))
        .groupBy("fp")
        .agg(
            F.max_by("doc_id", "score").alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


_SIMHASH_BITS = 32
_SIMHASH_BANDS = 4

_DET_TOKHASH_SQL = "CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)"
_DET_BITSUMS_SQL = ", ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(_SIMHASH_BITS)
)
_DET_FP_SQL = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_BITS)
)
_DET_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, simhash, {b} AS band, (simhash >> {b * 8}) & 255 AS key FROM fp"
    for b in range(_SIMHASH_BANDS)
)


@register(
    "dedup_simhash_det",
    oracle=rf"""
    WITH corpus AS ({_DOUBLED_SQL}),
    tok AS (
      SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS tok
      FROM corpus
    ),
    h AS (SELECT doc_id, {_DET_TOKHASH_SQL} AS h FROM tok),
    bits AS (SELECT doc_id, {_DET_BITSUMS_SQL} FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, {_DET_FP_SQL} AS simhash FROM bits),
    bands AS ({_DET_BANDS_SQL})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with a DETERMINISTIC md5-derived 32-bit token
    hash (the rows-only dedup_simhash uses Spark's xxhash64, which no
    oracle can reproduce): per-bit ±1 vote sums → sign fingerprint →
    8-bit band candidates → exact Hamming ≤ 3. Every stage is portable
    integer arithmetic, so the full pipeline is value-checked. Same
    scale shape as dedup_simhash: one explode, two hash aggregates, one
    band equi-join."""
    corpus = _doubled(spark, sf_dir)
    tok = corpus.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    )
    h = tok.select(
        "doc_id", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h")
    )
    bit_sums = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(_SIMHASH_BITS)
        ]
    )
    fp = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for i in range(_SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * 8)
                        .bitwiseAND(F.lit(255))
                        .alias("key"),
                    )
                    for b in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


@register(
    "dedup_edit_verified",
    oracle=rf"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_SHIFT} AS doc_id,
             'prefix ' || substr(text, 9) || ' suffix tok' AS text
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS sh_key
      FROM (
        SELECT doc_id,
               unnest(list_distinct(
                 list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                                i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM corpus)
      )
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT id_a, id_b, CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
    FROM cand
    JOIN corpus ta ON ta.doc_id = id_a
    JOIN corpus tb ON tb.doc_id = id_b
    WHERE levenshtein(ta.text, tb.text) <= 30
    """,
)
def dedup_edit_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup with an EDIT-DISTANCE verifier: shingle-equality
    candidates (the same generator as dedup_ngram), then exact
    Levenshtein <= 30 on the candidate pairs only — the
    candidates-then-verify composition for typo-level / templated
    near-dups where token-set Jaccard over-matches (it ignores order)
    and under-matches short edits. The corpus gains a perturbed twin
    per doc (prefix swap + suffix append, distance 16-19 vs >= 47 for
    unrelated fixture pairs), so the threshold provably separates.
    Levenshtein is unit-cost in both engines — identical integers. At
    100 TB the shingle join runs on LSH candidates and the O(len^2)
    verifier touches only pairs that survive banding; full text moves
    exactly once, to the verify join."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    twin = docs.select(
        (F.col("doc_id") + _SHIFT).alias("doc_id"),
        F.concat(F.lit("prefix "), F.expr("substring(text, 9)"), F.lit(" suffix tok")).alias(
            "text"
        ),
    )
    corpus = docs.unionByName(twin)
    # the join key is a PORTABLE 60-bit md5 prefix of the shingle, not
    # the string: the candidate shuffle carries 8-byte ints (the same
    # key the oracle computes, so any hash collision is seen by both
    # engines and exactness is preserved)
    sh = spread(corpus).select(
        "doc_id", F.explode(shingles(F.col("text"))).alias("shingle")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long").alias("sh_key"),
    )
    # Candidates come from the shared bucket-local pair generator
    # (_bucket_pairs: one key shuffle, in-row pair expansion, hot-bucket
    # self-join fallback — measured 2.1× over the plain self-join here).
    # >= 5 shared shingles (every perturbed twin clears it; measured
    # min twin overlap = 5) — drops 48.7k loose 1-shingle collisions to
    # 600 candidates, keeping the O(len^2) verifier off random pairs.
    cand = (
        _bucket_pairs(sh)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= 5)
        .select("id_a", "id_b")
    )
    ta = corpus.alias("ta")
    tb = corpus.alias("tb")
    dist = F.levenshtein(F.col("ta.text"), F.col("tb.text"))
    return (
        cand.join(ta, F.col("id_a") == F.col("ta.doc_id"))
        .join(tb, F.col("id_b") == F.col("tb.doc_id"))
        .filter(dist <= 30)
        .select("id_a", "id_b", dist.cast("long").alias("edit_dist"))
    )


@register(
    "dedup_containment",
    oracle=rf"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_SHIFT} AS doc_id,
             array_to_string(toks[1:greatest(len(toks) // 2, 1)], ' ') AS text
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents)
    ),
    sh AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS sh_key
      FROM (
        SELECT doc_id,
               unnest(list_distinct(
                 list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                                i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
              FROM corpus)
      )
    ),
    n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
      FROM sh a JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT id_a, id_b,
           floor(CAST(common AS DOUBLE) / least(na.n, nb.n) * 10000 + 0.5)
             / 10000 AS containment
    FROM cand
    JOIN n na ON na.doc_id = id_a
    JOIN n nb ON nb.doc_id = id_b
    WHERE CAST(common AS DOUBLE) / least(na.n, nb.n) >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-verified near-dup (asymmetric Jaccard): shingle-key
    candidates, then C(A,B) = |sh(A) ∩ sh(B)| / min(|sh(A)|, |sh(B)|)
    >= 0.9 on the survivors. Symmetric Jaccard MISSES excerpt/quote
    duplication — a doc fully contained in a 4× longer one scores
    J ≈ 0.25 but C = 1.0 — and containment is the standard gate for
    "this page quotes that page" dedup in web-corpus pipelines. The
    fixture has no organic excerpts, so the corpus gains a half-length
    prefix twin per doc (C = 1.0 against its source, J ≈ 0.5).

    Scale shape: identical to dedup_edit_verified's candidate stage
    (one 8-byte-key shuffle, bucket-local pair counts, >= 5-shingle
    floor), then two id-keyed joins against the per-doc shingle counts
    (one narrow (id, n) row per doc; at 100 TB the count frame
    shuffles on id like any dim) — the verifier is pure arithmetic on
    the candidate rows, no second pass over text. The threshold
    compares the SAME raw double in both engines; only the reported
    value is floor-rounded."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    half = F.array_join(
        F.slice(toks, 1, F.greatest(F.floor(F.size(toks) / 2).cast("int"), F.lit(1))),
        " ",
    )
    twin = docs.select((F.col("doc_id") + _SHIFT).alias("doc_id"), half.alias("text"))
    corpus = docs.unionByName(twin)
    sh = (
        spread(corpus)
        .select("doc_id", F.explode(shingles(F.col("text"))).alias("shingle"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long").alias("sh_key"),
        )
        .transform(ckpt)  # feeds the bucket pass AND the per-doc counts
    )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    cand = (
        _bucket_pairs(sh)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= 5)
    )
    na = counts.alias("na")
    nb = counts.alias("nb")
    ratio = F.col("common").cast("double") / F.least(F.col("na.n"), F.col("nb.n"))
    return (
        cand.join(na, F.col("id_a") == F.col("na.doc_id"))
        .join(nb, F.col("id_b") == F.col("nb.doc_id"))
        .filter(ratio >= 0.9)
        .select(
            "id_a",
            "id_b",
            (F.floor(ratio * 1e4 + F.lit(0.5)) / 1e4).alias("containment"),
        )
    )


def _ingest_batch(docs):
    """The fixture's deterministic ingest batch: the corpus re-ingested
    with ids shifted by _SHIFT and a doc_id-dependent fraction (0-40%,
    doc_id % 5) of LEADING TOKENS DROPPED — heavily truncated docs fall
    below the Jaccard threshold, lightly truncated ones stay above it,
    so the verdict mix is non-degenerate and fully deterministic."""
    toks = tokens(F.col("text"))
    k = F.floor((F.size(toks) * (F.col("doc_id") % 5)) / 10).cast("int")
    dropped = F.array_join(
        F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0))), " "
    )
    return docs.select((F.col("doc_id") + _SHIFT).alias("doc_id"), dropped.alias("text"))


def _ingest_verdicts(
    batch_sh: DataFrame, hist_sh: DataFrame, hist_bands: DataFrame
) -> DataFrame:
    """Verdict rows for ONE ingest batch against the stored history:
    the batch's band keys join the history band table (batch x history
    only — the history x history quadratic term never exists),
    survivors verify with the candidate-bounded array_intersect, and
    every batch doc gets exactly one row (is_dup under exact Jaccard
    >= 0.8, best-match history doc with ties to the smallest id, and
    the integer DIV score — no float compare anywhere).

    batch_sh: (doc_id, sh); hist_sh: (id_h, sh_h); hist_bands:
    (id_h, bkt). A doc's verdict depends ONLY on the static history,
    never on other batch members — so any micro-batch split of the
    same ingest set produces identical rows (the property
    stream_ingest_dedup's full value-hash oracle rests on)."""
    sigs = batch_sh.select("doc_id", minhash_sig_array(F.col("sh")).alias("sig_arr"))
    bb = band_members(sigs).select(F.col("doc_id").alias("id_b"), "bkt")
    cand = bb.join(hist_bands, "bkt").select("id_b", "id_h").distinct()
    B = batch_sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    common = F.size(F.array_intersect("sh_b", "sh_h"))
    denom = F.size("sh_b") + F.size("sh_h") - common
    kept = (
        cand.join(B, "id_b")
        .join(hist_sh, "id_h")
        .filter(5 * common >= 4 * denom)
        .select("id_b", "id_h", common.alias("common"), denom.alias("denom"))
        .select(
            "id_b",
            "id_h",
            F.expr("CAST(common * 1000000 DIV denom AS BIGINT)").alias("jscore"),
        )
    )
    best = kept.groupBy("id_b").agg(F.max("jscore").alias("jscore"))
    pick = (
        kept.join(best, ["id_b", "jscore"])
        .groupBy("id_b", "jscore")
        .agg(F.min("id_h").alias("dup_of"))
    )
    return (
        batch_sh.select("doc_id")
        .join(pick, F.col("doc_id") == pick["id_b"], "left")
        .select(
            "doc_id",
            F.col("id_b").isNotNull().alias("is_dup"),
            F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long").alias("dup_of"),
            F.coalesce(F.col("jscore"), F.lit(0)).cast("long").alias("jscore"),
        )
    )


_INGEST_ORACLE = rf"""
    WITH hist AS (SELECT doc_id, text FROM documents),
    batch AS (
      SELECT doc_id + {_SHIFT} AS doc_id,
             array_to_string(
               toks[(len(toks) * (doc_id % 5)) // 10 + 1 : len(toks)],
               ' ') AS text
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents)
    ),
    corpus AS (SELECT * FROM hist UNION ALL SELECT * FROM batch),
    shl AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM corpus)
    ),
    sigs AS (
      SELECT doc_id, sh,
             {', '.join(f"list_min(list_transform(sh, s -> {minhash_lane_sql(j)})) AS sig{j}" for j in range(8))}
      FROM shl
    ),
    bands AS (
      {' UNION ALL '.join(f"SELECT doc_id, {b} AS band, sig{2*b} || '|' || sig{2*b+1} AS key FROM sigs" for b in range(4))}
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS id_b, h.doc_id AS id_h
      FROM bands b JOIN bands h ON b.band = h.band AND b.key = h.key
      WHERE b.doc_id >= {_SHIFT} AND h.doc_id < {_SHIFT}
    ),
    scored AS (
      SELECT c.id_b, c.id_h,
             len(list_intersect(sb.sh, sh2.sh)) AS common,
             len(sb.sh) + len(sh2.sh) - len(list_intersect(sb.sh, sh2.sh)) AS denom
      FROM cand c
      JOIN shl sb  ON sb.doc_id  = c.id_b
      JOIN shl sh2 ON sh2.doc_id = c.id_h
    ),
    kept AS (
      SELECT id_b, id_h, CAST(common * 1000000 // denom AS BIGINT) AS jscore
      FROM scored WHERE 5 * common >= 4 * denom
    ),
    best AS (SELECT id_b, max(jscore) AS jscore FROM kept GROUP BY id_b),
    pick AS (
      SELECT k.id_b, b.jscore, min(k.id_h) AS dup_of
      FROM kept k JOIN best b ON b.id_b = k.id_b AND k.jscore = b.jscore
      GROUP BY k.id_b, b.jscore
    )
    SELECT d.doc_id,
           p.id_b IS NOT NULL AS is_dup,
           CAST(coalesce(p.dup_of, -1) AS BIGINT) AS dup_of,
           CAST(coalesce(p.jscore, 0) AS BIGINT) AS jscore
    FROM (SELECT doc_id FROM batch) d
    LEFT JOIN pick p ON p.id_b = d.doc_id
    """


@register("dedup_incremental", oracle=_INGEST_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: an incoming BATCH is near-dup-checked
    against the HISTORICAL corpus only — the production shape every
    batch self-dedup op here deliberately isn't. At 100 TB you cannot
    re-pair the whole corpus per ingest; the history's band table is
    computed once, stored bucketed by band key, and each ingest joins
    only the batch's bands against it — per-batch cost is proportional
    to batch size x collision rate, the history x history quadratic
    term never exists, and accepted docs append their bands for the
    next ingest. The fixture has no natural batch, so the batch is the
    corpus re-ingested with ids shifted and a doc_id-dependent
    fraction (0-40%, doc_id % 5) of LEADING TOKENS DROPPED — heavily
    truncated docs fall below the threshold, lightly truncated ones
    stay above it, so the verdict mix is non-degenerate and fully
    deterministic.

    One row per batch doc: is_dup under exact Jaccard >= 0.8 against
    any banded history candidate, the matched history doc (highest
    Jaccard, ties to the smallest id), and the score. The threshold is
    the INTEGER cross-multiplication 5*common >= 4*(na+nb-common) and
    the reported score an integer DIV — no float compare anywhere, so
    the driver hash is safe at any partitioning. Candidates reuse
    band_members (the shared 4-band x 2-lane construction); the
    verifier is the candidate-bounded array_intersect of
    dedup_lsh_verified."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    batch_docs = _ingest_batch(docs)
    # shingle frame feeds signatures AND the verify join: materialize once
    corpus = (
        spread(docs.unionByName(batch_docs))
        .select("doc_id", shingles(F.col("text")).alias("sh"))
        .transform(ckpt)
    )
    batch_sh = corpus.filter(F.col("doc_id") >= _SHIFT)
    hist = corpus.filter(F.col("doc_id") < _SHIFT)
    hist_sh = hist.select(F.col("doc_id").alias("id_h"), F.col("sh").alias("sh_h"))
    hist_bands = band_members(
        hist.select("doc_id", minhash_sig_array(F.col("sh")).alias("sig_arr"))
    ).select(F.col("doc_id").alias("id_h"), "bkt")
    return _ingest_verdicts(batch_sh, hist_sh, hist_bands)


@register("stream_ingest_dedup", oracle=_INGEST_ORACLE)
def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of dedup_incremental: the SAME ingest
    set arrives as four file-per-trigger micro-batches, each
    foreachBatch verifies against the SAME static history band table,
    and each epoch writes its verdicts to its own epoch_id=N directory
    with overwrite (the at-least-once idempotence recipe of
    stream_foreach_upsert — a redelivered batch re-materializes its
    partition instead of double-emitting). Because a doc's verdict
    depends only on the static history, never on other batch members
    (_ingest_verdicts' documented property), the union over epochs is
    row-identical to the one-shot batch op — a STREAMING operator
    under the full value-hash oracle, not a rows-only check.

    At 100 TB this is the production ingest topology: history shingles
    and bands are computed once and reused across triggers (here
    localCheckpointed; on a cluster, a band-key-bucketed table —
    sink_bucketed_join's layout — makes the per-trigger candidate join
    shuffle-free on the history side), each arriving micro-batch
    probes them at batch x collision-rate cost, and accepted docs
    append their bands for the next trigger."""
    import os
    import shutil

    from emdrive_spark.sources.tables import staging_dir

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    stage = staging_dir(spark, "ingest_stream")
    shutil.rmtree(stage, ignore_errors=True)  # stale epochs from a prior rep
    in_dir = os.path.join(stage, "in")
    out_dir = os.path.join(stage, "out")
    _ingest_batch(docs).repartition(4).write.mode("overwrite").parquet(in_dir)

    # static history: shingle frame + band table, computed ONCE and
    # reused by every micro-batch (not re-derived per trigger)
    hist_sh_frame = (
        spread(docs)
        .select("doc_id", shingles(F.col("text")).alias("sh"))
        .transform(ckpt)
    )
    hist_sh = hist_sh_frame.select(
        F.col("doc_id").alias("id_h"), F.col("sh").alias("sh_h")
    )
    hist_bands = band_members(
        hist_sh_frame.select(
            "doc_id", minhash_sig_array(F.col("sh")).alias("sig_arr")
        )
    ).select(F.col("doc_id").alias("id_h"), "bkt").transform(ckpt)

    def verify_batch(bdf: DataFrame, epoch_id: int) -> None:
        batch_sh = bdf.select("doc_id", shingles(F.col("text")).alias("sh"))
        (
            _ingest_verdicts(batch_sh, hist_sh, hist_bands)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"epoch_id={epoch_id}"))
        )

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.outputMode("append")
        .foreachBatch(verify_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out_dir).select("doc_id", "is_dup", "dup_of", "jscore")


# --- substring-level exact dedup -------------------------------------

_SPAN_K = 8  # tokens per gram: long enough that a match means reuse

# Shared oracle CTE block: tokenize -> position-keyed 8-gram hashes ->
# corpus-duplicated keys -> flagged positions -> merged maximal spans.
# One builder so the detect op and both cut ops can never drift.
# keep_first=True elects the minimal doc_id holding each duplicated
# gram as its canonical host: the host's occurrence is NOT flagged, so
# one verbatim copy of every duplicated gram survives corpus-wide.
def _span_ctes(keep_first: bool) -> str:
    if keep_first:
        dup_hits = (
            "dup AS (SELECT gk, min(doc_id) AS owner FROM grams\n"
            "           GROUP BY gk HAVING count(DISTINCT doc_id) > 1),\n"
            "    hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gk)\n"
            "             WHERE g.doc_id <> dup.owner),"
        )
    else:
        dup_hits = (
            "dup AS (SELECT gk FROM grams GROUP BY gk"
            " HAVING count(DISTINCT doc_id) > 1),\n"
            "    hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gk)),"
        )
    return rf"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             CAST(('0x' || substr(md5(
               array_to_string(t[i : i + {_SPAN_K} - 1], ' ')), 1, 15)) AS BIGINT) AS gk
      FROM toks, unnest(generate_series(1, greatest(len(t) - {_SPAN_K} + 1, 0))) AS u(i)
    ),
    {dup_hits}
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > {_SPAN_K} THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    isl2 AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl
    ),
    spans AS (
      SELECT doc_id, island, min(pos) AS s, max(pos) + {_SPAN_K} - 1 AS e
      FROM isl2 GROUP BY doc_id, island
    )
"""


# SQL tail shared by both rebuild ops (cut-everywhere and keep-first)
_CUT_TAIL = """
    , pos AS (
      SELECT doc_id, i AS p, t[i] AS tok
      FROM toks, unnest(generate_series(1, len(t))) AS u(i)
    ),
    keep AS (
      SELECT p.doc_id, p.p, p.tok
      FROM pos p
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = p.doc_id AND p.p BETWEEN s.s AND s.e
      )
    )
    SELECT t.doc_id,
           CAST(max(len(t.t)) AS BIGINT) AS n_tokens,
           CAST(max(len(t.t)) - count(k.p) AS BIGINT) AS n_cut,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text
    FROM toks t LEFT JOIN keep k USING (doc_id)
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """


def _dup_spans(
    spark: SparkSession, sf_dir: str, keep_first: bool = False
) -> DataFrame:
    """Maximal corpus-duplicated token spans, one row per (doc, span):
    (doc_id, span_start, span_end), 1-based inclusive token positions.

    Every whitespace-token 8-gram is keyed by a portable md5-prefix
    BIGINT (both engines hash identically, so oracle exactness survives
    while the corpus-wide duplicate groupBy shuffles 8-byte keys, never
    gram text); positions of grams appearing in >= 2 distinct docs are
    merged into maximal spans by a doc_id-partitioned window (two
    flagged positions belong to one span when their 8-gram windows
    touch or overlap). With keep_first=True the minimal doc_id holding
    each duplicated gram is elected its canonical host and that host's
    occurrence is not flagged — one verbatim copy of every duplicated
    gram survives corpus-wide (the per-gram min is one extra column on
    the same dup-key aggregate, no additional shuffle). The gram frame is localCheckpointed so the
    dup-key agg and the position probe share one tokenization pass;
    spread() parallelizes the high-amplification gram projection past
    the fixture's single input split."""
    from pyspark.sql import Window as W

    K = _SPAN_K
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    def _grams(t):
        n = F.size(t) - (K - 1)
        return F.when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), n),  # guarded: sequence descends for n < 1
                lambda i: F.struct(
                    i.alias("pos"),
                    F.conv(
                        F.substring(
                            F.md5(F.array_join(F.slice(t, i, K), " ")), 1, 15
                        ),
                        16,
                        10,
                    )
                    .cast("long")
                    .alias("gk"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,gk:bigint>>"))

    gram_arr = F.transform(F.array(toks), _grams)[0]
    grams = (
        spread(d.select("doc_id", "text"))
        .select("doc_id", F.explode(gram_arr).alias("x"))
        .select("doc_id", F.col("x.pos").alias("pos"), F.col("x.gk").alias("gk"))
        .transform(ckpt)
    )
    aggs = [F.countDistinct("doc_id").alias("nd")]
    if keep_first:
        aggs.append(F.min("doc_id").alias("owner"))
    dup_keys = (
        grams.groupBy("gk")
        .agg(*aggs)
        .filter(F.col("nd") > 1)
        .select("gk", *(["owner"] if keep_first else []))
    )
    hits = grams.join(dup_keys, "gk")
    if keep_first:
        hits = hits.filter(F.col("doc_id") != F.col("owner"))
    hits = hits.select("doc_id", "pos")
    w = W.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > K, 1).otherwise(0)
    isl = hits.select("doc_id", "pos", brk.alias("brk"))
    isl2 = isl.select("doc_id", "pos", F.sum("brk").over(w).alias("island"))
    return isl2.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + K - 1).alias("span_end"),
    )


@register(
    "dedup_spans_exact",
    oracle=_span_ctes(False)
    + """
    , perdoc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
             CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_spans, p.dup_tokens,
           CAST(len(t.t) AS BIGINT) AS n_tokens
    FROM perdoc p JOIN toks t USING (doc_id)
    ORDER BY p.doc_id
    """,
)
def dedup_spans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup, detection side: per document, the
    maximal token spans that also occur verbatim in ANOTHER document.
    Doc-level dedup misses this entirely — two unique articles quoting
    the same paragraph both keep it; span dedup reports exactly which
    token ranges are corpus-repeated. See _dup_spans for the
    construction and scale shape; dedup_spans_cut is the transform
    twin that removes the spans."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sp = _dup_spans(spark, sf_dir)
    perdoc = sp.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("dup_tokens"),
    )
    ntok = d.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
    return (
        perdoc.join(ntok, "doc_id")
        .select("doc_id", "n_spans", "dup_tokens", "n_tokens")
        .orderBy("doc_id")
    )


def _cut_rebuild(spark: SparkSession, sf_dir: str, keep_first: bool) -> DataFrame:
    """Shared rebuild for the two span-cutting ops: collect each doc's
    few spans into ONE array row, join back at document cardinality,
    and filter token positions IN-ROW with a nested higher-order
    exists — the corpus text crosses the wire once for the join and
    never explodes to token rows."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sparr = (
        _dup_spans(spark, sf_dir, keep_first=keep_first)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("spans"))
    )
    joined = (
        spread(d.select("doc_id", "text"))
        .join(sparr, "doc_id", "left")
        .select(
            "doc_id",
            "text",
            F.coalesce(
                "spans",
                F.array().cast("array<struct<span_start:int,span_end:int>>"),
            ).alias("spans"),
        )
    )

    def _clean(t):
        # the kept-position array is referenced 2x (size + rebuild):
        # let-bind it through a second single-element transform, the
        # same no-CSE-for-higher-order-lambdas fix as shingles()
        # (A/B at the 250k-doc stress corpus: ~2x faster let-bound)
        keep_expr = F.filter(
            F.sequence(F.lit(1), F.size(t)),
            lambda i: ~F.exists(
                "spans",
                lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
            ),
        )
        return F.transform(
            F.array(keep_expr),
            lambda keep: F.struct(
                F.size(t).cast("long").alias("n_tokens"),
                (F.size(t) - F.size(keep)).cast("long").alias("n_cut"),
                F.array_join(
                    F.transform(keep, lambda i: F.element_at(t, i)), " "
                ).alias("clean_text"),
            ),
        )[0]

    return (
        joined.select("doc_id", F.transform(F.array(toks), _clean)[0].alias("c"))
        .select("doc_id", "c.n_tokens", "c.n_cut", "c.clean_text")
        .orderBy("doc_id")
    )


@register(
    "dedup_spans_cut",
    oracle=_span_ctes(False) + _CUT_TAIL,
)
def dedup_spans_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup, transform side: rebuild every
    document with its corpus-repeated token spans REMOVED. Like
    dedup_lines_global's chunk contract, a repeated span is dropped
    from EVERY occurrence — the boilerplate reading of span
    duplication (dedup_spans_keep_first is the sibling that elects a
    canonical host and keeps one copy). Scale shape: detection is
    _dup_spans (8-byte key groupBy + window merge), rebuild is
    _cut_rebuild (in-row position filter, no token-row explosion)."""
    return _cut_rebuild(spark, sf_dir, keep_first=False)


@register("dedup_spans_keep_first", oracle=_span_ctes(True) + _CUT_TAIL)
def dedup_spans_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-occurrence span cutting — the Lee et al. regime proper:
    for every duplicated 8-gram the minimal doc_id holding it is
    elected canonical host, the host's occurrence is left intact, and
    every OTHER occurrence is cut. Exactly one verbatim copy of each
    duplicated gram survives corpus-wide (dedup_spans_cut, the
    boilerplate reading, removes all of them). The election is the
    per-gram min(doc_id) — one extra column on the dup-key aggregate,
    no additional shuffle, and fully deterministic on any
    partitioning, which is why the op keeps the full value-hash
    oracle. Spans are merged per doc AFTER the owner filter, so a
    position in the canonical host survives unless a DIFFERENT gram
    owned elsewhere also covers it."""
    return _cut_rebuild(spark, sf_dir, keep_first=True)


@register(
    "entity_match_blocked",
    oracle="""
    WITH c AS (SELECT c_custkey AS k, c_name AS n FROM customer),
    keys AS (
      SELECT k, n, i AS p, substr(n, 1, i - 1) || substr(n, i + 1) AS dk
      FROM c, unnest(range(1, len(n) + 1)) AS t(i)
    ),
    cand AS (
      SELECT DISTINCT a.k AS ak, b.k AS bk, a.n AS an, b.n AS bn
      FROM keys a JOIN keys b ON a.p = b.p AND a.dk = b.dk AND a.k < b.k
    )
    SELECT ak AS a_key, bk AS b_key,
           CAST(levenshtein(an, bn) AS BIGINT) AS lev
    FROM cand WHERE levenshtein(an, bn) <= 1
    """,
)
def entity_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by DELETION-NEIGHBORHOOD blocking + exact
    edit-distance verify — the record-linkage shape (customer records
    that are the same entity under a one-character typo) generalizing
    the document near-dup family to keyed records. Each record emits
    one blocking key per CHARACTER POSITION, derived from the record's
    own length (the name with that character deleted, tagged by
    position — the SymSpell/k-deletion index); two equal-length
    strings within one substitution NECESSARILY share the deletion key
    at their differing position, so candidate recall is EXACT for any
    name format, unlike prefix blocking whose blind spot is edits
    inside the prefix (and unlike the earlier hard-coded 10-18
    position range, whose recall silently broke on names of any other
    shape — r6 ADVICE). Candidates come from an equality join on
    (position, deleted-key), then pay the exact Levenshtein verify.

    A naive prefix block degenerates on this table (sequential names
    share long prefixes -> one giant bucket, O(n^2) expansion;
    measured 124k candidates for 500 records); deletion neighborhoods
    measured EXACTLY the true pair count (19,500 candidates = 19,500
    matches at sf0.01) — perfect precision comes from fixed-length
    names where sharing 8 of 9 digits forces lev = 1.

    Scale shape: the key expansion is len(name) rows per record
    (explode, map-side), one hash shuffle keyed by (position,
    deleted-key) with bucket-local pair expansion, one distinct, and
    the verify is a codegen projection on candidates only. Block sizes
    are the number of records identical up to one position —
    telemetry-friendly and naturally tiny; the LSH hot-bucket
    monitoring applies verbatim."""
    # r12 (guide §2.5, the sketch_countmin pattern): the deletion-key
    # expansion amplifies each record to len(name) rows + a substring
    # pair per row, and it rode the one-effective-reader customer scan
    # — spread() the narrow (k, n) frame once before the explode so
    # the expansion runs cluster-wide; both self-join branches reuse
    # the one exchange.
    c = spread(
        load(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("k"), F.col("c_name").alias("n")
        )
    )
    keys = c.filter(F.length("n") >= 1).select(
        # length guard: F.sequence DESCENDS when start > stop, so an empty
        # name would explode to bogus p=1,0 deletion keys while the
        # oracle's range(1, len+1) is empty — filter the degenerate rows
        # out before the explode (r7 ADVICE).
        "k",
        "n",
        F.explode(F.sequence(F.lit(1), F.length("n"))).alias("p"),
    ).select(
        "k",
        "n",
        "p",
        F.expr(
            "concat(substring(n, 1, p - 1), substring(n, p + 1, length(n)))"
        ).alias("dk"),
    )
    a = keys.select("p", "dk", F.col("k").alias("ak"), F.col("n").alias("an"))
    b = keys.select("p", "dk", F.col("k").alias("bk"), F.col("n").alias("bn"))
    cand = (
        a.join(b, ["p", "dk"])
        .filter(F.col("ak") < F.col("bk"))
        .select("ak", "bk", "an", "bn")
        .distinct()
    )
    lev = F.levenshtein("an", "bn")
    return cand.filter(lev <= 1).select(
        F.col("ak").alias("a_key"),
        F.col("bk").alias("b_key"),
        lev.cast("long").alias("lev"),
    )


_WINDUP_MIN_FP = 2  # shared-fingerprint floor for a candidate pair


@register(
    "dedup_winnowing_verified",
    oracle=(
        "WITH "
        + _winnow_ctes()
        + f""",
    fsets AS (SELECT DISTINCT doc_id, fp FROM sel),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_fp
      FROM fsets a JOIN fsets b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= {_WINDUP_MIN_FP}
    ),
    gsets AS (SELECT DISTINCT doc_id, gk FROM grams),
    gn AS (SELECT doc_id, count(*) AS ng FROM gsets GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, c.n_shared_fp, count(*) AS n_common
      FROM cand c
      JOIN gsets ga ON ga.doc_id = c.doc_a
      JOIN gsets gb ON gb.doc_id = c.doc_b AND gb.gk = ga.gk
      GROUP BY 1, 2, 3
    )
    SELECT m.doc_a, m.doc_b, CAST(m.n_shared_fp AS BIGINT) AS n_shared_fp,
           CAST(m.n_common AS BIGINT) AS n_common,
           CAST(m.n_common * 1000000
                // (na.ng + nb.ng - m.n_common) AS BIGINT) AS jaccard_ppm
    FROM common m
    JOIN gn na ON na.doc_id = m.doc_a
    JOIN gn nb ON nb.doc_id = m.doc_b
    """
    ),
)
def dedup_winnowing_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate generation by WINNOWING fingerprints + exact
    gram-Jaccard verify — the MOSS/plagiarism-detection pipeline as a
    corpus dedup pass, and the actionable consumer of text_winnowing:
    docs sharing >= 2 selected fingerprints become candidate pairs
    (winnowing guarantees any >= 7-token verbatim overlap shares a
    fingerprint, so recall for substantial overlaps is structural,
    at ~2/(w+1) the index size of all-grams LSH banding), then each
    candidate pays an EXACT distinct-4-gram Jaccard — integer ppm,
    full value-hash oracle. Complements dedup_lsh_verified (which
    targets whole-document similarity via MinHash bands): winnowing
    fires on LOCAL verbatim reuse regardless of how different the
    rest of the documents are.

    Scale shape: the fingerprint index is the winnowing selection
    (one doc-partitioned window, ~40% of grams); candidates come
    from an 8-byte fp equality self-join with bucket-local pair
    expansion (the LSH band-join shape — hot-fp telemetry applies
    verbatim); the verify joins gram SETS through candidates only —
    corpus text never re-shuffles. The gram frame is checkpointed
    once and shared by the selection window and the verify sets."""
    from emdrive_spark.operators.text import _WIN_POS, _WIN_W, _winnow_grams

    g = _winnow_grams(spark, sf_dir).transform(ckpt)
    byd = W.partitionBy("doc_id")
    win = byd.orderBy("pos").rowsBetween(0, _WIN_W - 1)
    sel = (
        g.select(
            "doc_id",
            "pos",
            F.count("*").over(byd).alias("n"),
            F.min(F.col("gk") * _WIN_POS + F.col("pos")).over(win).alias("m"),
        )
        .filter(F.col("pos") <= F.col("n") - (_WIN_W - 1))
        .select("doc_id", F.expr(f"m DIV {_WIN_POS}").alias("fp"))
        .distinct()
    )
    a = sel.select(F.col("doc_id").alias("doc_a"), "fp")
    b = sel.select(F.col("doc_id").alias("doc_b"), "fp")
    cand = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_fp"))
        .filter(F.col("n_shared_fp") >= _WINDUP_MIN_FP)
    )
    gsets = g.select("doc_id", "gk").distinct().transform(ckpt)
    gn = gsets.groupBy("doc_id").agg(F.count("*").alias("ng"))
    common = (
        cand.join(gsets.select(F.col("doc_id").alias("doc_a"), "gk"), "doc_a")
        .join(gsets.select(F.col("doc_id").alias("doc_b"), "gk"), ["doc_b", "gk"])
        .groupBy("doc_a", "doc_b", "n_shared_fp")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(gn.select(F.col("doc_id").alias("doc_a"), F.col("ng").alias("na")), "doc_a")
        .join(gn.select(F.col("doc_id").alias("doc_b"), F.col("ng").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared_fp").cast("long").alias("n_shared_fp"),
            F.col("n_common").cast("long").alias("n_common"),
            F.expr("CAST(n_common * 1000000 DIV (na + nb - n_common) AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
    )
