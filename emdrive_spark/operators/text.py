"""Text-analysis operators for LLM training-data pipelines.

ABSENT in the reference (its scalar surface is ULID/NOW only,
/root/reference/src/constructs/functions.rs:10-13); these are the
north-star additions: language-ID, quality scoring, token counting,
fingerprinting — each expressed as pure Column arithmetic so the whole
pass over a 100 TB `documents` corpus is one codegen'd projection with
no Python in the loop.

Oracle determinism: every heuristic is defined by arithmetic/regex that
evaluates identically in Spark SQL and DuckDB SQL (verified by the
driver's value-hash compare).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from emdrive_spark.functions.ckpt import ckpt
from emdrive_spark.registry import register
from emdrive_spark.sources.tables import load

_ROLL_MOD = 1_000_000_007
_STOPWORDS = ("a", "the", "of", "and")
_STOP_SQL = "('a', 'the', 'of', 'and')"


def tokens(col):
    """Whitespace tokenizer (the BPE-ish path is the regex itself)."""
    return F.split(F.trim(col), r"\s+")


@register(
    "text_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: one projection, no shuffle, no Python."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )


@register(
    "text_quality",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             CAST(length(text) AS BIGINT) AS n_chars_m
      FROM documents
    )
    SELECT doc_id, n_chars_m,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / nullif(len(toks), 0), 4)
             AS avg_token_len,
           round(CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
                 / nullif(len(toks), 0), 4) AS stopword_ratio,
           round(least(1.0, len(toks) / 100.0)
                 * (1 - CAST(len(list_filter(toks, x -> x IN {_STOP_SQL})) AS DOUBLE)
                        / nullif(len(toks), 0)), 4) AS quality_score
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length / stopword-ratio features) —
    the standard pre-training corpus filter, as one codegen projection."""
    toks = tokens(F.col("text"))
    n_toks = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    stop_ratio = F.round(n_stop.cast("double") / F.nullif(n_toks, F.lit(0)), 4)
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_m"),
        n_toks.cast("long").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / F.nullif(n_toks, F.lit(0)),
            4,
        ).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        F.round(
            F.least(F.lit(1.0), n_toks / F.lit(100.0))
            * (1 - n_stop.cast("double") / F.nullif(n_toks, F.lit(0))),
            4,
        ).alias("quality_score"),
    )


@register(
    "lang_id",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 'en'
                WHEN ' ' || text || ' ' LIKE '% le %'  THEN 'fr'
                WHEN ' ' || text || ' ' LIKE '% der %' THEN 'de'
                WHEN ' ' || text || ' ' LIKE '% el %'  THEN 'es'
                ELSE 'unknown' END AS lang_pred
    FROM documents
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID. (The fixture's `lang` labels are
    synthetic — same vocabulary for every language — so this demonstrates
    the operator shape; a real corpus would use an n-gram profile table
    broadcast-joined against shingles.)"""
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    pred = (
        F.when(padded.like("% the %"), "en")
        .when(padded.like("% le %"), "fr")
        .when(padded.like("% der %"), "de")
        .when(padded.like("% el %"), "es")
        .otherwise("unknown")
    )
    return load(spark, sf_dir, "documents").select("doc_id", "lang", pred.alias("lang_pred"))


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(lower(trim(text))) AS fp_md5,
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
                          list_transform(string_split(text, ''),
                                         c -> CAST(ord(c) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % {_ROLL_MOD}) AS fp_roll
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 digest + a 31-ary polynomial rolling
    hash over characters (the Rabin-Karp shape), both as codegen'd
    expressions — no UDF."""
    from emdrive_spark.functions.layout import spread

    chars = F.split(F.col("text"), "")
    roll = F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("long")),
        F.lit(7).cast("long"),
        lambda acc, x: (acc * 31 + x) % _ROLL_MOD,
    )
    # A pure projection never exchanges, so without the rebalance the
    # per-character fold runs at scan parallelism (1 task per row
    # group) — see functions/layout.py.
    return spread(load(spark, sf_dir, "documents").select("doc_id", "text")).select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp_md5"),
        roll.alias("fp_roll"),
    )


def shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles as an array column. Pure
    sequence/transform/slice — evaluates inside codegen.

    The token array is LET-BOUND once via a single-element transform
    (`transform(array(toks), t -> …)[0]`): higher-order lambdas get no
    codegen CSE, so referencing the raw `tokens()` expression inside
    the per-position lambda would re-split the document once per
    shingle position — measured ~5× slower on the sf0.1 corpus."""

    def _sh(toks):
        k = F.size(toks) - (n - 1)
        sh = F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        # sequence(1, k) with k < 1 would *descend*; guard short docs
        # to [].
        return F.array_distinct(
            F.when(k >= 1, sh).otherwise(F.array().cast("array<string>"))
        )

    return F.transform(F.array(tokens(text_col)), _sh)[0]


@register(
    "text_shingle",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(list_distinct(
             list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                            i -> array_to_string(toks[i:i+2], ' ')))) AS BIGINT)
             AS n_shingles
    FROM t
    """,
)
def text_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-gram shingle count per document — the building block
    of MinHash/Jaccard dedup (see operators.dedup)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.size(shingles(F.col("text"))).cast("long").alias("n_shingles")
    )


@register(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization (lowercase, strip non-alnum, collapse
    whitespace) — the first stage of every dedup/fingerprint pipeline,
    as one codegen'd projection."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return load(spark, sf_dir, "documents").select("doc_id", norm.alias("norm_text"))


@register(
    "text_token_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
             AS n_tokens
    FROM documents
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: the pre-tokenizer regex split (letter
    runs | digit runs | single punctuation) that byte-pair encoders
    apply before merges — the standard proxy for LLM token budgeting at
    corpus scale. Pure regex projection, no shuffle."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
        .cast("long")
        .alias("n_tokens"),
    )


_N_HASHES = 8


def minhash_lane_sql(j: int) -> str:
    """DuckDB twin of lane j of minhash_sig_array: 8 hex chars carved
    out of the salt-(j//4) md5. Shared by every oracle that checks a
    signature value."""
    return f"substr(md5('{j // 4}:' || s), {1 + 8 * (j % 4)}, 8)"


def minhash_sig_array(sh, n: int = _N_HASHES):
    """All n MinHash sigs in ONE pass as an array<string> column.
    Each md5 yields 128 bits = four independent 32-bit (8-hex-char)
    lanes, so n sigs need only ceil(n/4) salted md5 calls per shingle
    (2 for the default n=8 — 4× less hashing than one md5 per sig,
    measured 5.9s→~2s on the sf0.1 signature pass). Per-shingle the
    salted md5s are concatenated in ONE transform lambda (higher-order
    exprs get no codegen CSE — building lanes directly would recompute
    each md5 4×), lanes are substrings of that bound value, and the
    lane arrays fold through aggregate with an element-wise least.
    Min over fixed-width lowercase-hex strings = numeric min, so
    string least() is the correct MinHash min. Keep the array in its
    own projection (sig_arr[j] extraction in a SECOND select):
    CollapseProject declines to inline a non-cheap alias referenced n
    times, so the fold really runs once."""
    n_salts = -(-n // 4)

    def _md5cat(s):
        return F.concat(*[F.md5(F.concat(F.lit(f"{k}:"), s)) for k in range(n_salts)])

    def _hashes(h):
        return F.array(*[F.substring(h, 1 + 8 * j, 8) for j in range(n)])

    md5s = F.transform(F.transform(sh, _md5cat), _hashes)
    init = F.array_repeat(F.lit("￿"), n)
    folded = F.aggregate(md5s, init, lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)))
    # Empty shingle set → the sentinel survives the fold; map it to NULL
    # (what array_min over an empty transform yields, and what the
    # oracle's list_min produces). Every real md5 is hex, so only the
    # empty case can still hold the sentinel. Checking the folded value
    # (not size(sh)) avoids a second evaluation of the shingle pipeline.
    def _desentinel(v):
        return F.when(v != "￿", v)

    return F.transform(folded, _desentinel)


@register(
    "minhash_signatures",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id,
             list_distinct(
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents)
    )
    SELECT doc_id,
           {', '.join(f"list_min(list_transform(sh, s -> {minhash_lane_sql(j)})) AS sig{j}" for j in range(_N_HASHES))}
    FROM t
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MinHash signatures: sig_j = min over shingles of
    md5(j || ':' || shingle). Engine-portable (md5 is identical
    everywhere) unlike MLlib's internal hash family — this is the
    signature scheme a cross-system dedup pipeline would standardize
    on. One projection per doc; cost O(shingles × hashes), no shuffle."""
    sh = shingles(F.col("text"))
    mid = load(spark, sf_dir, "documents").select(
        "doc_id", minhash_sig_array(sh).alias("sig_arr")
    )
    return mid.select(
        "doc_id", *[F.col("sig_arr")[j].alias(f"sig{j}") for j in range(_N_HASHES)]
    )


@register(
    "text_vocabulary",
    oracle=r"""
    SELECT tok, count(*) AS freq
    FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY freq DESC, tok
    LIMIT 20
    """,
)
def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-20 tokens by frequency — the first step of
    any tokenizer/vocab build. explode → count → TakeOrderedAndProject;
    the shuffle carries (token, partial count), map-side combined."""
    return (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("tok"))
        .limit(20)
    )


@register(
    "text_tfidf",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.tok,
           round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    WHERE tf * ln(CAST(n_docs AS DOUBLE) / df) > 1.0
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weights per (doc, term), thresholded — the classical
    relevance/quality signal, fully relational: term frequencies and
    document frequencies are two aggregations over one explode; idf
    joins back on the term as a plain vocabulary-sized equality join
    left to AQE, NOT a hinted broadcast — the df table has one row per
    DISTINCT TOKEN, which is corpus-unbounded (billions at 100 TB), so
    forcing it onto the driver is an OOM hazard (the r7 PMI precedent,
    text_collocation_pmi). AQE still broadcasts when the built side
    measures small. At 100 TB the only large shuffle is the
    (token, doc) pair stream."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = load(spark, sf_dir, "documents").count()
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    return (
        tf.join(df, "tok")
        .filter(tfidf > 1.0)
        .select("doc_id", "tok", F.round(tfidf, 6).alias("tfidf"))
    )


@register(
    "text_readability",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
             CAST(len(regexp_split_to_array(trim(text), '[.!?]+\s*'))
                  AS BIGINT) AS n_sents,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS n_syll
      FROM documents
    )
    SELECT doc_id, n_words, n_sents, n_syll,
           floor((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                  - 84.6 * (CAST(n_syll AS DOUBLE) / n_words))
                 * 10000 + 0.5) / 10000 AS flesch
    FROM t
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring with the standard cheap proxies
    (vowel-group runs ~ syllables, [.!?] runs ~ sentence breaks) — the
    document-quality signal corpus pipelines bucket on alongside
    perplexity. One whole-corpus projection: tokenizing, syllable
    counting, and the score are all codegen'd regex/array expressions —
    zero shuffle, zero Python; the regexes are in the RE2-compatible
    subset Java regex and DuckDB evaluate identically."""
    d = load(spark, sf_dir, "documents")
    n_words = F.size(tokens(F.col("text"))).cast("long")
    n_sents = F.size(F.split(F.trim(F.col("text")), r"[.!?]+\s*")).cast("long")
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    t = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sents"))
        - F.lit(84.6) * (F.col("n_syll").cast("double") / F.col("n_words"))
    )
    return t.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        (F.floor(flesch * 10000 + F.lit(0.5)) / 10000).alias("flesch"),
    )


@register(
    "text_keyword_extract",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000000 + 0.5)
               / 1000000 AS tfidf
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, tok, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, tok) AS INT) AS rank
      FROM scored
    )
    SELECT doc_id, tok, tfidf, rank FROM ranked WHERE rank <= 3
    """,
)
def text_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: the top-3 TF-IDF terms per document (rounded
    score ordering + lexicographic tiebreak, so the keyword set is
    engine-stable) — the metadata-enrichment step behind search facets
    and topic labeling. Same two aggregations as text_tfidf plus a
    doc-partitioned window; the per-doc rank never needs a global
    sort. The df join is unhinted (vocabulary-sized build side is
    corpus-unbounded — see text_tfidf); AQE broadcasts it only when
    it measures small."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = d.count()
    # floor(x*1e6+0.5)/1e6, not F.round: Spark and DuckDB disagree on
    # half-up at decimal midpoints, and the rank<=3 cutoff below makes a
    # one-ulp divergence change the row SET, not just a displayed value.
    tfidf = F.floor(
        F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * 1e6 + F.lit(0.5)
    ) / F.lit(1e6)
    scored = tf.join(df, "tok").select(
        "doc_id", "tok", tfidf.alias("tfidf")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.select(
            "doc_id", "tok", "tfidf", F.row_number().over(w).cast("int").alias("rank")
        )
        .filter(F.col("rank") <= 3)
    )


_LANG_PROFILE_K = 40  # trigrams kept per language profile


def _char_trigrams(text_col):
    """Distinct character 3-grams of the lowercased text, as a codegen
    array (let-bound via the single-element-transform idiom — see
    shingles() — so lower() evaluates once, not once per position)."""

    def _tg(t):
        k = F.length(t) - 2
        grams = F.transform(F.sequence(F.lit(1), k), lambda i: F.substring(t, i, 3))
        # sequence(1, k) with k < 1 would *descend*; guard short docs.
        return F.array_distinct(
            F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))
        )

    return F.transform(F.array(F.lower(text_col)), _tg)[0]


@register(
    "lang_id_ngram",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, lang, lower(text) AS tl FROM documents
    ),
    tg AS (
      SELECT doc_id, lang, unnest(list_distinct(
        list_transform(range(1, greatest(length(tl) - 2, 0) + 1),
                       i -> substr(tl, i, 3)))) AS g
      FROM t
    ),
    prof AS (
      SELECT lang AS plang, g FROM (
        SELECT lang, g,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY count(*) DESC, g ASC) AS rk
        FROM tg GROUP BY lang, g
      ) WHERE rk <= {_LANG_PROFILE_K}
    ),
    hits AS (
      SELECT tg.doc_id, prof.plang, count(*) AS n_hits
      FROM tg JOIN prof ON tg.g = prof.g
      GROUP BY 1, 2
    ),
    best AS (
      SELECT doc_id, plang, n_hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY n_hits DESC, plang ASC) AS rk
      FROM hits
    )
    SELECT t.doc_id, t.lang,
           coalesce(b.plang, 'unknown') AS lang_pred,
           CAST(coalesce(b.n_hits, 0) AS BIGINT) AS n_hits
    FROM t LEFT JOIN (SELECT * FROM best WHERE rk = 1) b
      ON t.doc_id = b.doc_id
    """,
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram-profile language ID — the textcat/fastText-
    style shape the stopword-marker `lang_id` demo stands in for:
    build a top-40 char-trigram profile per language from the labeled
    corpus (document frequency, ties broken lexically), broadcast the
    profile table, score every doc by distinct-trigram hits per
    profile, and predict the argmax (ties lexical, zero hits →
    'unknown'). All-integer scoring, so both engines agree bit-for-bit.

    Scale shape: profiles aggregate (lang, trigram) — bounded by
    vocabulary, not corpus — and collapse to K rows per language,
    which BROADCAST; the corpus side is one codegen trigram explode,
    one broadcast probe, and two doc_id-keyed shuffles. On a real
    deployment the profile table is trained offline once and the scan
    side is identical."""
    from pyspark.sql.window import Window as W

    from emdrive_spark.functions.layout import spread

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # spread: the trigram explode is ~length× amplification off a
    # few-split scan (A/B at sf0.1: 4.26 → 1.37 s median). A
    # localCheckpoint on tg measured WORSE (1.60 s) — materializing
    # the ~5M-row exploded frame costs more than recomputing it from
    # the 32-way input for the second consumer — so tg is deliberately
    # left lazy for both the profile and scoring branches.
    tg = spread(d).select(
        "doc_id", "lang", F.explode(_char_trigrams(F.col("text"))).alias("g")
    )
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(F.desc("df"), F.asc("g"))
    )
    profile = (
        tg.groupBy("lang", "g")
        .agg(F.count("*").alias("df"))
        .withColumn("rk", rk)
        .filter(F.col("rk") <= _LANG_PROFILE_K)
        .select(F.col("lang").alias("plang"), "g")
    )
    hits = (
        tg.join(F.broadcast(profile), "g")
        .groupBy("doc_id", "plang")
        .agg(F.count("*").alias("n_hits"))
    )
    best = hits.withColumn(
        "brk",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("plang"))
        ),
    ).filter(F.col("brk") == 1)
    return d.select("doc_id", "lang").join(best, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce(F.col("plang"), F.lit("unknown")).alias("lang_pred"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
    )


_ZIPF_TOPN = 100  # fit over each language's top-100 tokens


@register(
    "text_zipf_fit",
    oracle=rf"""
    WITH tok AS (
      SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    c AS (SELECT lang, tok, count(*) AS cnt FROM tok GROUP BY lang, tok),
    r AS (
      SELECT lang, cnt,
             row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS rnk
      FROM c
    ),
    p AS (
      SELECT lang,
             CAST(floor(ln(rnk) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS x,
             CAST(floor(ln(cnt) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS y
      FROM r WHERE rnk <= {_ZIPF_TOPN}
    ),
    g AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(19,6)) * x) AS DOUBLE) AS sxx
      FROM p GROUP BY lang
    )
    SELECT lang, CAST(n AS BIGINT) AS n_points,
           floor((sxy - sx * sy / n) / (sxx - sx * sx / n) * 1000000 + 0.5)
             / 1000000 + 0.0 AS zipf_slope,
           floor((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n
                 * 1000000 + 0.5) / 1000000 + 0.0 AS zipf_intercept
    FROM g
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: OLS of ln(frequency) on ln(rank)
    over each language's top-100 tokens — the corpus-statistics
    diagnostic that flags unnatural text (natural language sits near
    slope -1; template/boilerplate-heavy or synthetic corpora drift
    flat, machine-generated spam drifts steep), reading a distribution
    shape where quality_dsir reads a distribution distance.

    Exactness: ranks and counts are exact integers with deterministic
    ties (count desc, token asc), each ln runs over an exact integer
    and floor-rounds to 6 decimals, the OLS moments are DECIMAL sums
    of those rounded values (one operand widened to DECIMAL(19,6) so
    DuckDB's native-width product can't overflow int64), and the
    closed-form slope/intercept is the identical double expression in
    both engines — the agg_regression recipe pointed at an
    information-retrieval statistic.

    Scale shape: one token-keyed combinable groupBy (bounded by
    vocabulary, not corpus), a per-lang top-100 window over the
    VOCABULARY table (|vocab| rows, corpus never re-shuffles), then a
    |langs|-row closed-form projection. The '+ 0.0' normalizes IEEE
    negative zero (the r1 agg_regression finding)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    c = tok.groupBy("lang", "tok").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    r = c.select("lang", "cnt", F.row_number().over(w).alias("rnk")).filter(
        F.col("rnk") <= _ZIPF_TOPN
    )

    def f6(col):
        return F.floor(col * 1000000 + F.lit(0.5)) / 1000000

    p = r.select(
        "lang",
        f6(F.log("rnk")).cast("decimal(18,6)").alias("x"),
        f6(F.log("cnt")).cast("decimal(18,6)").alias("y"),
    )
    g = p.groupBy("lang").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,6)") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,6)") * F.col("x")).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    return g.select(
        "lang",
        n.cast("long").alias("n_points"),
        (f6(slope) + F.lit(0.0)).alias("zipf_slope"),
        (f6((sy - slope * sx) / n) + F.lit(0.0)).alias("zipf_intercept"),
    )


_PMI_TOPN = 20  # report the top-20 collocations by count


@register(
    "text_collocation_pmi",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
      FROM documents
    ),
    big AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM toks, unnest(range(1, len(ts))) AS t(i)
    ),
    uni AS (
      SELECT w, count(*) AS c FROM (
        SELECT ts[i] AS w FROM toks, unnest(range(1, len(ts) + 1)) AS t(i)
      ) GROUP BY w
    ),
    n AS (SELECT sum(c) AS n FROM uni),
    bc AS (SELECT w1, w2, count(*) AS cxy FROM big GROUP BY w1, w2),
    scored AS (
      SELECT bc.w1, bc.w2, bc.cxy,
             floor(ln(CAST(bc.cxy AS DOUBLE) * n.n
                      / (CAST(u1.c AS DOUBLE) * u2.c))
                   * 1000000 + 0.5) / 1000000 AS pmi
      FROM bc
      JOIN uni u1 ON u1.w = bc.w1
      JOIN uni u2 ON u2.w = bc.w2, n
    )
    SELECT w1, w2, CAST(cxy AS BIGINT) AS pair_cnt, pmi FROM scored
    QUALIFY row_number() OVER (ORDER BY cxy DESC, w1 ASC, w2 ASC)
            <= {_PMI_TOPN}
    """,
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the corpus's top-20 adjacent bigrams with
    their pointwise mutual information PMI = ln(c_xy*N / (c_x*c_y)) —
    the phrase-detection statistic behind tokenizer phrase merges and
    multi-word-entity discovery (high PMI = the pair co-occurs far
    more than its parts predict). Every count is an exact integer, so
    the one ln runs over an exact rational whose operands are
    identical doubles in both engines (the quality_dsir recipe) and a
    lexical-statistics op carries a full value-hash oracle; the top-N
    cut uses the deterministic (count desc, w1, w2) total order.

    Scale shape: bigram and unigram counts are map-side-combinable
    groupBys bounded by VOCABULARY size (|V| and |V-gram| rows, never
    corpus rows, reach the reduce side); the PMI join attaches two
    unigram counts to each distinct bigram — plain vocabulary-sized
    equality joins left to AQE, NOT hinted broadcasts: the vocabulary
    is corpus-unbounded, so a forced broadcast of the unigram table is
    a driver/executor-memory hazard at 100 TB (r6 ADVICE). AQE still
    broadcasts when the built side measures small. The global N stays
    a broadcast: it is one row by construction. The top-20 is
    TakeOrdered."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(tokens(F.col("text")).alias("ts"))
    big = toks.select(
        F.explode(
            F.expr("transform(slice(ts, 1, size(ts) - 1), (x, i) -> struct(x AS w1, ts[i + 1] AS w2))")
        ).alias("b")
    ).select("b.w1", "b.w2")
    uni = toks.select(F.explode("ts").alias("w")).groupBy("w").agg(
        F.count("*").alias("c")
    )
    n = uni.agg(F.sum("c").alias("n"))
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("cxy"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("cxy").cast("long").alias("pair_cnt"),
            (
                F.floor(
                    F.log(
                        F.col("cxy").cast("double")
                        * F.col("n")
                        / (F.col("c1").cast("double") * F.col("c2"))
                    )
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pair_cnt"), F.asc("w1"), F.asc("w2")
    ).limit(_PMI_TOPN)


@register(
    "eval_lang_confusion",
    oracle="""
    WITH p AS (
      SELECT lang,
             CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 'en'
                  WHEN ' ' || text || ' ' LIKE '% le %'  THEN 'fr'
                  WHEN ' ' || text || ' ' LIKE '% der %' THEN 'de'
                  WHEN ' ' || text || ' ' LIKE '% el %'  THEN 'es'
                  ELSE 'unknown' END AS lang_pred
      FROM documents
    ),
    cell AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY lang, lang_pred),
    tot AS (SELECT lang, sum(n) AS t FROM cell GROUP BY lang)
    SELECT cell.lang, cell.lang_pred, CAST(cell.n AS BIGINT) AS n,
           CAST(cell.n * 1000000 // tot.t AS BIGINT) AS share_ppm
    FROM cell JOIN tot ON tot.lang = cell.lang
    """,
)
def eval_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the lang_id classifier against the corpus's
    gold labels — the model-evaluation twin of events_holt_backtest
    for the classification side: one row per (true lang, predicted
    lang) with the count and the per-true-language share in exact ppm
    (integer DIV, no float division). This is the audit every
    production classifier ships with; aggregate the diagonal for
    accuracy, a row for recall, a column for precision.

    Scale shape: the prediction is the same zero-shuffle codegen
    projection lang_id runs; the matrix is one combinable groupBy to
    |langs|^2 cells and a |langs|-row broadcast join for the shares —
    everything after the scan is KB-sized."""
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    pred = (
        F.when(padded.like("% the %"), "en")
        .when(padded.like("% le %"), "fr")
        .when(padded.like("% der %"), "de")
        .when(padded.like("% el %"), "es")
        .otherwise("unknown")
    )
    p = load(spark, sf_dir, "documents").select("lang", pred.alias("lang_pred"))
    cell = p.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))
    tot = cell.groupBy("lang").agg(F.sum("n").alias("t"))
    return cell.join(F.broadcast(tot), "lang").select(
        "lang",
        "lang_pred",
        F.col("n").cast("long").alias("n"),
        F.expr("CAST(n * 1000000 DIV t AS BIGINT)").alias("share_ppm"),
    )


_FH_BUCKETS = 1024  # fixed feature dimension for the hashing trick


@register(
    "text_feature_hashing",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ),
    b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {_FH_BUCKETS} AS b
      FROM tok
    ),
    cnt AS (SELECT doc_id, b, count(*) AS c FROM b GROUP BY doc_id, b)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_buckets,
           string_agg(b || ':' || c, ' ' ORDER BY b) AS features
    FROM cnt GROUP BY doc_id
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009):
    every document becomes a FIXED-dimension sparse count vector by
    hashing tokens into 1024 buckets — the vocabulary-free
    featurization quality classifiers and fast dedup prefilters run
    at corpus scale, where a learned vocabulary would be a mutable
    global artifact. Buckets use the portable md5-prefix hash (both
    engines compute identical buckets, so the serialized vector is
    value-hash exact); the sparse vector is rendered 'bucket:count'
    sorted by bucket (driver arrays-unhashable rule).

    Scale shape: token explode -> ONE map-side-combinable groupBy to
    (doc, bucket) cells (<= 1024 per doc regardless of length), then
    a doc-keyed re-aggregation of cells. No vocabulary table, no
    broadcast, no Python; the feature dimension is a constant
    independent of corpus size — the entire point of the trick."""
    d = load(spark, sf_dir, "documents")
    # NO spread() (measured, r12): 0.96 -> 0.94 s — the 1024-bucket
    # hash is one md5 per token with no fan-out beyond the explode, so
    # the exchange buys nothing at this amplification; left scan-shaped.
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    b = tok.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
            % _FH_BUCKETS
        ).alias("b"),
    )
    cnt = b.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_buckets"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("b", "c"))),
                lambda s: F.concat_ws(
                    ":", s["b"].cast("string"), s["c"].cast("string")
                ),
            ),
            " ",
        ).alias("features"),
    )


_WIN_K = 4  # tokens per gram
_WIN_W = 4  # grams per winnowing window
_WIN_POS = 1_048_576  # 2^20: positions packed below the 40-bit gram hash


def _winnow_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-keyed 40-bit token-4-gram hashes, one row per (doc,
    pos): the shared input of the winnowing selection window
    (text_winnowing) and the exact gram-set verify
    (dedup_winnowing_verified)."""
    from emdrive_spark.functions.layout import spread

    K = _WIN_K
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    def _grams(t):
        n = F.size(t) - (K - 1)
        return F.when(
            # The gk*2^20+pos pack downstream is injective only for
            # pos < 2^20 — fail LOUDLY on longer docs instead of
            # silently corrupting fingerprints (r7 ADVICE); split such
            # docs upstream before fingerprinting.
            F.size(t) >= _WIN_POS,
            F.raise_error(
                F.concat(
                    F.lit("winnowing: document exceeds 2^20 tokens ("),
                    F.size(t).cast("string"),
                    F.lit(") — position packing would corrupt fingerprints; split upstream"),
                )
            ).cast("array<struct<pos:int,gk:bigint>>"),
        ).when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), n),  # guarded: sequence descends for n < 1
                lambda i: F.struct(
                    i.alias("pos"),
                    F.conv(
                        F.substring(
                            F.md5(F.array_join(F.slice(t, i, K), " ")), 1, 10
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
    return (
        spread(d.select("doc_id", "text"))
        .select("doc_id", F.explode(gram_arr).alias("x"))
        .select("doc_id", F.col("x.pos").alias("pos"), F.col("x.gk").alias("gk"))
    )


def _winnow_ctes() -> str:
    """Shared oracle CTE block: tokenize -> 40-bit 4-gram hashes ->
    packed window-min -> selected (doc_id, fp, pos) rows as `sel`.
    Used by text_winnowing and dedup_winnowing_verified so the
    selection semantics can never drift between the two.

    The >= 2^20 tokens/doc bound is mirrored from the engine
    (_winnow_grams): DuckDB's error() is evaluated lazily inside the
    CASE, so on an oversized doc BOTH sides raise instead of the
    oracle silently packing corrupted gk*2^20+pos fingerprints while
    the engine rejects (r8 ADVICE — the two sides now agree on the
    invalid-input contract, pinned in tests/test_round9_ops.py). The
    check sits in the per-DOC toks CTE, not the per-gram projection —
    one length test per document, same cost shape as the engine's
    guard (per-gram placement made the pin test pay ~2^20 O(n) array
    slices before the first error row surfaced)."""
    return rf"""
    toks AS (
      SELECT doc_id,
             CASE WHEN len(t) >= {_WIN_POS} THEN [CAST(error(
                    'winnowing: document exceeds 2^20 tokens — position packing '
                    || 'would corrupt fingerprints; split upstream') AS VARCHAR)]
                  ELSE t END AS t
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
            FROM documents)
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             CAST(('0x' || substr(md5(
               array_to_string(t[i : i + {_WIN_K} - 1], ' ')), 1, 10)) AS BIGINT) AS gk
      FROM toks,
           unnest(generate_series(1, greatest(len(t) - {_WIN_K} + 1, 0))) AS u(i)
    ),
    c AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY doc_id) AS n,
             min(gk * {_WIN_POS} + pos) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {_WIN_W} - 1 FOLLOWING) AS m
      FROM grams
    ),
    sel AS (
      SELECT DISTINCT doc_id, CAST(m // {_WIN_POS} AS BIGINT) AS fp,
             CAST(m % {_WIN_POS} AS BIGINT) AS pos
      FROM c WHERE pos <= n - {_WIN_W} + 1
    )
"""


@register(
    "text_winnowing",
    oracle="WITH " + _winnow_ctes() + "SELECT doc_id, fp, pos FROM sel",
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003) — the
    plagiarism-detection / local-dedup standard: hash every token
    4-gram, slide a 4-gram-wide window, keep each window's MINIMUM
    hash (leftmost on ties), dedupe. The selection guarantee: any
    verbatim overlap of >= k+w-1 = 7 tokens shares at least one
    selected fingerprint, at ~2/(w+1) the storage of all grams —
    the density/guarantee trade doc_fingerprint (one hash per doc)
    and dedup_spans_exact (every gram) bracket from either side.

    Exactness: the tie-aware window min runs on ONE packed BIGINT
    (40-bit md5-prefix gram hash * 2^20 + position; positions bound
    at 2^20 tokens/doc — split longer docs upstream), so both
    engines pick the identical (hash, pos) per window with no
    struct-comparison semantics in play.

    Scale shape: the gram projection amplifies the narrow (id, text)
    scan (spread() parallelizes past few input splits), then ONE
    doc_id-partitioned ordered window — per-doc O(n), parallel
    across docs, no corpus-global state — and an in-partition
    distinct. Fingerprint matching downstream is a plain equality
    join on fp, the same 8-byte-key shuffle shape as _dup_spans
    (dedup_winnowing_verified is exactly that consumer)."""
    W_, P = _WIN_W, _WIN_POS
    g = _winnow_grams(spark, sf_dir)

    byd = W.partitionBy("doc_id")
    win = byd.orderBy("pos").rowsBetween(0, W_ - 1)
    c = g.select(
        "doc_id",
        "pos",
        F.count("*").over(byd).alias("n"),
        F.min(F.col("gk") * P + F.col("pos")).over(win).alias("m"),
    )
    return (
        c.filter(F.col("pos") <= F.col("n") - (W_ - 1))
        .select(
            "doc_id",
            F.expr(f"m DIV {P}").cast("long").alias("fp"),
            (F.col("m") % P).cast("long").alias("pos"),
        )
        .distinct()
    )


_BPE_ROUNDS = 6


def _bpe_merge_cte(i: int, src: str, extra_cols: str = "") -> str:
    """One merge-application CTE: apply round-i's chosen pair b{i} to
    every word of ``src`` via a greedy left-to-right fold over the
    SYMBOL LIST (list_reduce with a string accumulator carrying a
    leading ';' sentinel, so "last symbol == l" is the exact test
    ``ends_with(acc, ';l;')`` — a naive ``replace('l;r;'→'lr;')``
    can match starting MID-symbol when l is a proper suffix of a
    preceding symbol, e.g. 'er;s;'→'ers;' under pair (r,s), which is
    the r7 ADVICE over-merge bug this fold fixes in both engines).

    The join against b{i} is a LEFT JOIN ON TRUE (not a cross join)
    so a DRY round — p{i} empty because every word is already a
    single symbol — leaves w{i} = w{i-1} unchanged (NULL l/r makes
    the CASE condition NULL -> ELSE on every fold step) instead of
    truncating the vocabulary to zero rows. This mirrors the
    engine's early-stop break in _bpe_train_loop (r8 ADVICE)."""
    return f"""w{i} AS (
      SELECT {extra_cols}substr(
        list_reduce(
          list_prepend(';', list_filter(string_split(w, ';'), x -> len(x) > 0)),
          (acc, x) -> CASE WHEN ends_with(acc, ';' || b{i}.l || ';') AND x = b{i}.r
                      THEN left(acc, len(acc) - len(b{i}.l) - 1) || b{i}.l || b{i}.r || ';'
                      ELSE acc || x || ';' END
        ), 2) AS w, freq
      FROM {src} LEFT JOIN b{i} ON TRUE
    )"""


def _bpe_train_ctes(carry_tok: bool = False) -> list[str]:
    """The shared train-side CTE ladder w0,p1,b1,w1..b{N},w{N} —
    reused verbatim by the bpe_train_merges oracle (emits b{i}) and
    the bpe_apply oracle (carries the source token through so w{N}
    is a tok -> merged-symbols lookup)."""
    carry = "tok, " if carry_tok else ""
    ctes = [
        rf"""w0 AS (
      SELECT {"word AS tok, " if carry_tok else ""}regexp_replace(word, '(.)', '\1;', 'g') AS w, freq FROM (
        SELECT tok AS word, count(*) AS freq FROM (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents
        ) WHERE regexp_matches(tok, '^[a-z0-9]+$')
        GROUP BY tok
      )
    )"""
    ]
    for i in range(1, _BPE_ROUNDS + 1):
        ctes.append(
            f"""p{i} AS (
      SELECT arr[j] AS l, arr[j + 1] AS r, sum(freq) AS cnt
      FROM (SELECT string_split(w, ';') AS arr, freq FROM w{i - 1}),
           unnest(generate_series(1, greatest(len(arr) - 2, 0))) AS t(j)
      GROUP BY 1, 2
    ),
    b{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
    {_bpe_merge_cte(i, f"w{i - 1}", carry)}"""
        )
    return ctes


def _bpe_oracle() -> str:
    """Unrolled BPE-merge oracle: one (pairs -> argmax -> fold-merge)
    CTE block per round; the merge itself is the symbol-list fold of
    _bpe_merge_cte (not string replace — see its docstring)."""
    sel = [
        f"SELECT {i} AS merge_round, l AS left_sym, r AS right_sym,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, _BPE_ROUNDS + 1)
    ]
    return (
        "WITH "
        + ",\n    ".join(_bpe_train_ctes())
        + "\n    "
        + "\n    UNION ALL ".join(sel)
    )


def _bpe_merge_word(w, l: str, r: str):
    """Apply one BPE merge (l, r) to a ';'-terminated symbol string,
    greedy left-to-right, SYMBOL-level: fold over the split symbol
    list with a string accumulator that carries a leading ';'
    sentinel, so "last accumulated symbol == l" is the exact test
    ``acc endswith ';l;'`` and a merge can never start mid-symbol.
    (The previous ``F.replace(w, 'l;r;', 'lr;')`` matched mid-symbol
    whenever l was a proper suffix of a preceding symbol —
    'er;s;'→'ers;' under pair (r, s) — the r7 ADVICE over-merge.)
    A freshly merged symbol is 'lr' != l (r is non-empty), so the
    fold cannot double-merge; this is exactly reference-Python
    greedy merging. l and r are [a-z0-9]+ by the corpus word filter,
    so embedding them as literals is injection-safe. The whole fold
    is a codegen higher-order function over vocabulary-sized rows —
    no Python, no shuffle.

    A substring PREFILTER on the fold (r8 verdict item 1 —
    ``F.when(contains(';'+w, ';l;r;'), fold).otherwise(w)``; exact,
    since symbols contain no ';') was A/B'd and REJECTED: at sf0.1
    (2.03s vs 2.01s ungated) and at the ×100-vocabulary stress
    (2.63s vs 2.42s) it is cost-neutral-to-slightly-slower — the
    per-round cost lives in the pair explode + aggregate, not this
    projection, and the r8 bench row that motivated it (3.57s) was
    ambient load: the same unchanged code's quiet median is ~2.0s
    (SCALING.md round-9 entry)."""
    syms = F.filter(F.split(w, ";"), lambda s: F.length(s) > 0)
    folded = F.aggregate(
        syms,
        F.lit(";"),
        lambda acc, x: F.when(
            acc.endswith(F.lit(f";{l};")) & (x == F.lit(r)),
            F.concat(
                acc.substr(F.lit(1), F.length(acc) - F.lit(len(l) + 1)),
                F.lit(f"{l}{r};"),
            ),
        ).otherwise(F.concat(acc, x, F.lit(";"))),
    )
    return folded.substr(F.lit(2), F.length(folded))


@register("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary training (Sennrich et al. 2016), the first 6
    merges: count corpus word frequencies ONCE, split words to
    characters, then per round count adjacent symbol pairs weighted
    by word frequency, merge the most frequent pair everywhere, and
    emit (round, left, right, count) — the tokenizer-training step
    every LLM data pipeline runs before packing.

    Determinism: the argmax is totally ordered (count desc, left,
    right asc), the merge is greedy left-to-right over the SYMBOL
    LIST (the _bpe_merge_word fold — identical construction in the
    DuckDB oracle via _bpe_merge_cte, so both engines merge at
    symbol boundaries only), and pair counts are exact integers —
    a training loop with a full value-hash oracle.

    Scale shape: the ONLY corpus-sized work is the word-frequency
    groupBy (one combinable shuffle); the training loop then runs
    entirely on the VOCABULARY table — per round one pair explode
    (|vocab| x word-length rows), one combinable aggregate, one
    1-row argmax collect, one codegen replace projection. This is
    the map-reduce BPE everybody ships: corpus pass once, vocab
    loop after. Symbols stay [a-z0-9]+ by the word filter, so the
    ';' separator and the pair literals are injection-safe."""
    merges, _ = _bpe_train_loop(_bpe_word_freqs(spark, sf_dir))
    return spark.createDataFrame(
        merges, "merge_round int, left_sym string, right_sym string, pair_count long"
    )


def _bpe_word_freqs(spark: SparkSession, sf_dir: str, carry_tok: bool = False) -> DataFrame:
    """The one corpus-sized pass: word frequencies over [a-z0-9]+
    tokens, words split to ';'-terminated character symbols. With
    ``carry_tok`` the source token rides along so the trained frame
    doubles as a tok -> merged-symbols lookup (bpe_apply)."""
    d = load(spark, sf_dir, "documents")
    base = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok").rlike("^[a-z0-9]+$"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    cols = (["tok"] if carry_tok else []) + [
        F.regexp_replace("tok", "(.)", "$1;").alias("w"),
        "freq",
    ]
    return base.select(*cols).transform(ckpt)  # loop below is vocab-bounded


def _bpe_train_loop(words: DataFrame):
    """Run the _BPE_ROUNDS-round merge-training loop on a (w, freq
    [, tok]) vocabulary frame. Returns (merges, merged_words): the
    (round, l, r, count) rules and the vocabulary frame with all
    rules applied. Per round: one pair explode (|vocab| x word-length
    rows), one combinable aggregate, one 1-row argmax collect, one
    codegen fold projection (_bpe_merge_word) — the vocabulary-bounded
    loop after the single corpus pass."""

    def _pairs(w):
        arr = F.split(w, ";")
        n = F.size(arr) - 2  # trailing '' element; n_pairs = n_sym - 1
        return F.when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), n),
                lambda j: F.struct(
                    F.element_at(arr, j).alias("l"),
                    F.element_at(arr, j + F.lit(1)).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))

    carry = [c for c in words.columns if c not in ("w", "freq")]
    merges = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        pc = (
            words.select(F.explode(_pairs(F.col("w"))).alias("p"), "freq")
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pc.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r")).limit(1).collect()
        if not top:
            # Training ran dry: every word is a single symbol, so no
            # round can ever produce a pair again — emit fewer than
            # _BPE_ROUNDS merges instead of IndexError (r8 ADVICE).
            # The oracle agrees by construction: its b{i} CTE is empty
            # for dry rounds (contributing no UNION ALL rows) and its
            # merge CTE left-joins b{i}, so w{i} = w{i-1} unchanged —
            # the same early-stop, expressed without control flow.
            break
        best = top[0]
        merges.append((rnd, best["l"], best["r"], int(best["cnt"])))
        words = words.select(
            *carry,
            _bpe_merge_word(F.col("w"), best["l"], best["r"]).alias("w"),
            "freq",
        ).transform(ckpt, eager=False)
        # lazy ckpt (r12, guide §5 driver latency): still truncates
        # lineage so each round's plan stays one fold deep, but the
        # blocks materialize inside the NEXT round's argmax job instead
        # of a dedicated eager job — the loop runs 1 driver action per
        # round instead of 2 (the train chain is latency-bound: ~0.6 s
        # of executor work across ~17 driver-sequential jobs per run).
    return merges, words


def _bpe_per_doc_ctes() -> list[str]:
    """The train ladder extended to a per-document count CTE `per`
    (doc_id, n_words, n_bpe over trainable tokens) — shared by the
    bpe_apply oracle and the pack_sequences_bpe oracle (pipeline.py)
    so tokenization semantics can never drift between the two."""
    ctes = _bpe_train_ctes(carry_tok=True)
    ctes.append(
        f"""nsym AS (
      SELECT tok, len(w) - len(replace(w, ';', '')) AS n_sym FROM w{_BPE_ROUNDS}
    ),
    dt AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
      ) WHERE regexp_matches(tok, '^[a-z0-9]+$')
    ),
    per AS (
      SELECT doc_id, count(*) AS n_words, sum(n_sym) AS n_bpe
      FROM dt JOIN nsym USING (tok) GROUP BY doc_id
    )"""
    )
    return ctes


def _bpe_apply_oracle() -> str:
    return (
        "WITH "
        + ",\n    ".join(_bpe_per_doc_ctes())
        + """
    SELECT d.doc_id,
           CAST(coalesce(per.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(per.n_bpe, 0) AS BIGINT) AS n_bpe
    FROM documents d LEFT JOIN per USING (doc_id)"""
    )


@register("bpe_apply", oracle=_bpe_apply_oracle())
def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize with the trained BPE: apply bpe_train_merges' rules
    back to the corpus and emit per-document token counts — (doc_id,
    n_words: trainable [a-z0-9]+ words, n_bpe: BPE symbols after all
    merges) — the train -> tokenize half of the train -> tokenize ->
    pack loop (pack_sequences packs on a token budget; these counts
    ARE that budget's unit — see examples/pipeline_sketch.py). Closes
    the r7 gap where merges were trained but nothing applied them.

    Scale shape: training is bpe_train_merges' own loop (one corpus
    pass, then vocabulary-bounded rounds) with the source token
    carried through, so the trained frame IS the tok -> n_sym lookup
    — applying merges costs nothing beyond training because merges
    were already applied to the VOCABULARY, never token-by-token to
    the corpus. The lookup then joins the (doc_id, tok) stream as an
    UNHINTED equality join (vocabulary build side is corpus-unbounded
    — the forced-broadcast hazard class; AQE broadcasts only when it
    measures small), and one doc_id-keyed combinable groupBy reduces
    counts. Docs with zero trainable words keep a row via the left
    join (count 0 in both engines)."""
    return _bpe_doc_counts(spark, sf_dir)


def _bpe_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, n_bpe) per document under the trained merges
    — bpe_apply's body, shared with pack_sequences_bpe (pipeline.py)
    which bins on n_bpe instead of whitespace n_tokens."""
    merges, merged = _bpe_train_loop(_bpe_word_freqs(spark, sf_dir, carry_tok=True))
    nsym = merged.select(
        "tok",
        (F.length("w") - F.length(F.replace(F.col("w"), F.lit(";"), F.lit("")))).alias(
            "n_sym"
        ),
    )
    d = load(spark, sf_dir, "documents")
    dt = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok")).filter(
        F.col("tok").rlike("^[a-z0-9]+$")
    )
    per = (
        dt.join(nsym, "tok")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_words"), F.sum("n_sym").alias("n_bpe"))
    )
    return d.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_words"), F.lit(0)).cast("long").alias("n_words"),
        F.coalesce(F.col("n_bpe"), F.lit(0)).cast("long").alias("n_bpe"),
    )
