"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All hot paths are JVM-side builtin expressions (split / higher-order
filters / regexp) — no Python in the loop — and every output column is
BIGINT/STRING or an integer-derived double, so DuckDB parity is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_gmall_spark.functions.tokenize import TOKEN_SPLIT_RE, tokens_col
from flink_gmall_spark.sources import load

# n-gram/stopword marker lists for the language-ID heuristic. The corpus
# vocabulary is synthetic English-ish; the heuristic is deliberately
# simple and deterministic (a fastText-style classifier would slot in as
# a pandas UDF behind the same output contract).
LANG_MARKERS = {
    "en": ["the", "a", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los", "y"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"]

MIN_TOKENS, MAX_TOKENS = 5, 10_000


def _marker_count(lang: str) -> F.Column:
    arr = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return F.expr(
        f"size(filter(t, x -> array_contains(array({arr}), x)))"
    ).cast("long")


def _duck_marker_count(lang: str) -> str:
    arr = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return f"CAST(len(list_filter(t, x -> list_contains([{arr}], x))) AS BIGINT)"


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID with a fixed tie order (en > es > de)."""
    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        tokens_col("text").alias("t"),
    ).select(
        "doc_id",
        _marker_count("en").alias("en_ct"),
        _marker_count("es").alias("es_ct"),
        _marker_count("de").alias("de_ct"),
    )
    pred = (
        F.when(
            (F.col("en_ct") >= F.col("es_ct")) & (F.col("en_ct") >= F.col("de_ct")),
            "en",
        )
        .when(F.col("es_ct") >= F.col("de_ct"), "es")
        .otherwise("de")
    )
    return scored.withColumn("pred_lang", pred)


_DUCK_T = (
    f"list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')"
)

ORACLE_LANG_ID = f"""
WITH toks AS (SELECT doc_id, {_DUCK_T} AS t FROM documents),
scored AS (
    SELECT doc_id,
           {_duck_marker_count('en')} AS en_ct,
           {_duck_marker_count('es')} AS es_ct,
           {_duck_marker_count('de')} AS de_ct
    FROM toks
)
SELECT doc_id, en_ct, es_ct, de_ct,
       CASE WHEN en_ct >= es_ct AND en_ct >= de_ct THEN 'en'
            WHEN es_ct >= de_ct THEN 'es'
            ELSE 'de' END AS pred_lang
FROM scored
"""


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality signals (length / stopword / alnum
    ratios) + a keep/drop gate — the C4/Gopher-style filter shape.
    Ratios stay integer-derived (x1000, integer division) for parity."""
    docs = load(spark, sf_dir, "documents")
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    base = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        tokens_col("text").alias("t"),
        F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""))
        .cast("long")
        .alias("alnum_chars"),
    ).select(
        "doc_id",
        "n_chars",
        "alnum_chars",
        F.size("t").cast("long").alias("n_tokens"),
        F.expr(f"size(filter(t, x -> array_contains(array({stop_arr}), x)))")
        .cast("long")
        .alias("stop_ct"),
    )
    return base.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "alnum_chars",
        "stop_ct",
        F.expr("CASE WHEN n_tokens = 0 THEN 0 ELSE (1000 * stop_ct) DIV n_tokens END")
        .cast("long")
        .alias("stop_ratio_x1000"),
        F.expr("CASE WHEN n_chars = 0 THEN 0 ELSE (1000 * alnum_chars) DIV n_chars END")
        .cast("long")
        .alias("alnum_ratio_x1000"),
        F.when(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("n_tokens") <= MAX_TOKENS)
            & (F.col("stop_ct") >= 1),
            "keep",
        )
        .otherwise("drop")
        .alias("verdict"),
    )


_DUCK_STOPS = ", ".join(f"'{s}'" for s in STOPWORDS)

ORACLE_QUALITY_SCORES = f"""
WITH base AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS alnum_chars,
           CAST(len({_DUCK_T}) AS BIGINT) AS n_tokens,
           CAST(len(list_filter({_DUCK_T}, x -> list_contains([{_DUCK_STOPS}], x))) AS BIGINT) AS stop_ct
    FROM documents
)
SELECT doc_id, n_chars, n_tokens, alnum_chars, stop_ct,
       CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE (1000 * stop_ct) // n_tokens END AS BIGINT) AS stop_ratio_x1000,
       CAST(CASE WHEN n_chars = 0 THEN 0 ELSE (1000 * alnum_chars) // n_chars END AS BIGINT) AS alnum_ratio_x1000,
       CASE WHEN n_tokens >= {MIN_TOKENS} AND n_tokens <= {MAX_TOKENS} AND stop_ct >= 1
            THEN 'keep' ELSE 'drop' END AS verdict
FROM base
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pieces + byte len
    (the budget triad of an LLM-data pipeline)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("size(filter(split(text, ' '), x -> x <> ''))")
        .cast("long")
        .alias("ws_tokens"),
        F.size(F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]', 0)"))
        .cast("long")
        .alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("char_len"),
        F.octet_length("text").cast("long").alias("byte_len"),
    )


ORACLE_TOKEN_COUNTS = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens,
       CAST(length(text) AS BIGINT) AS char_len,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
FROM documents
"""


# Java-regex/RE2 compatible subset (no lookarounds/backrefs) so Spark and
# DuckDB redact identically.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_DIGITS_RE = r"[0-9]{6,}"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: redact email addresses and long digit runs,
    emit redaction counts + the hash of the scrubbed text (the pipeline
    downstream consumes hashes/stats; full scrubbed text stays columnar).
    Pure JVM regexp — the standard pre-training scrub shape."""
    docs = load(spark, sf_dir, "documents")
    lower = F.lower("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(lower, PII_EMAIL_RE, "<EMAIL>"),
        PII_DIGITS_RE,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(lower, F.lit(PII_EMAIL_RE), 0))
        .cast("long")
        .alias("email_ct"),
        F.size(F.regexp_extract_all(lower, F.lit(PII_DIGITS_RE), 0))
        .cast("long")
        .alias("longnum_ct"),
        F.md5(scrubbed).alias("scrubbed_hash"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
    )


ORACLE_PII_SCRUB = f"""
WITH s AS (
    SELECT doc_id, lower(text) AS lt,
           regexp_replace(regexp_replace(lower(text), '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PII_DIGITS_RE}', '<NUM>', 'g') AS scrubbed
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(lt, '{PII_EMAIL_RE}')) AS BIGINT) AS email_ct,
       CAST(len(regexp_extract_all(lt, '{PII_DIGITS_RE}')) AS BIGINT) AS longnum_ct,
       md5(scrubbed) AS scrubbed_hash,
       CAST(length(scrubbed) AS BIGINT) AS scrubbed_len
FROM s
"""


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints over whitespace-normalized text (md5 + a short
    prefix usable as a shard/bucket key)."""
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        F.substring(F.md5(norm), 1, 8).alias("fp_prefix"),
        F.length(norm).cast("long").alias("norm_len"),
    )


ORACLE_FINGERPRINTS = r"""
WITH n AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
    FROM documents
)
SELECT doc_id, md5(norm) AS fp, substring(md5(norm), 1, 8) AS fp_prefix,
       CAST(length(norm) AS BIGINT) AS norm_len
FROM n
"""


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signal (the Gopher-style quality rule):
    the fraction of word-bigrams that are repeats of an earlier bigram in
    the same document. Entirely narrow — tokenize, bigram transform, and
    the distinct count all happen inside one projection per row, so the
    operator runs with ZERO shuffles at any corpus size (asserted in
    test_plans.py); a quality-filter pass over 100 TB is a pure scan."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("t")).filter(
        F.size("t") >= 2
    )
    g = toks.withColumn(
        "g2",
        F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))"),
    )
    return g.select(
        "doc_id",
        F.size("g2").cast("long").alias("n_bigrams"),
        F.size(F.array_distinct("g2")).cast("long").alias("distinct_bigrams"),
        (
            (F.size("g2") - F.size(F.array_distinct("g2"))).cast("double")
            / F.size("g2")
        ).alias("rep_ratio"),
    )


ORACLE_REPETITION_SCORES = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS t
    FROM documents
),
g AS (
    SELECT doc_id,
           list_transform(range(1, len(t)), i -> concat(t[i], ' ', t[i+1])) AS g2
    FROM toks
    WHERE len(t) >= 2
)
SELECT doc_id,
       CAST(len(g2) AS BIGINT) AS n_bigrams,
       CAST(len(list_distinct(g2)) AS BIGINT) AS distinct_bigrams,
       CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) AS rep_ratio
FROM g
"""


RARE_DF_THRESHOLD = 5  # a token is 'rare' if its corpus frequency is below this


def rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-informed quality signal (the integer-exact cousin of
    CCNet-style LM filtering): per document, the share of token
    OCCURRENCES whose corpus-wide frequency falls below
    RARE_DF_THRESHOLD. High ratios flag gibberish / OCR noise; near-zero
    flags boilerplate. Two bounded aggregations (corpus counts are
    vocabulary-sized, broadcast back to the token stream) and pure
    integer sums — order-independence for free, unlike log-prob scores
    whose float sums would be partition-order-dependent."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
    corpus = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))
    flagged = toks.join(F.broadcast(corpus), "tok")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("cf") < RARE_DF_THRESHOLD, 1).otherwise(0))
        .cast("long")
        .alias("n_rare"),
        (
            F.sum(F.when(F.col("cf") < RARE_DF_THRESHOLD, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("rare_ratio"),
    )


ORACLE_RARE_TOKEN_RATIO = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                              x -> x <> '')) AS tok
    FROM documents
),
corpus AS (
    SELECT tok, count(*) AS cf FROM toks GROUP BY tok
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN c.cf < {RARE_DF_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(sum(CASE WHEN c.cf < {RARE_DF_THRESHOLD} THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS rare_ratio
FROM toks t JOIN corpus c USING (tok)
GROUP BY t.doc_id
"""


HLL_LG_K = 12  # DataSketches HLL lgConfigK: rsd ~ 1.04 / sqrt(2^12) ~ 1.6%
HLL_TOL = 3 * 0.016  # 3x rsd — the same bound discipline as ads_approx_stats


def hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the mechanism that makes distinct counts
    feasible at 100 TB: build ONE DataSketches HLL sketch per language
    over the distinct document hashes (``hll_sketch_agg``), then answer
    the corpus-level question by MERGING the per-language sketches
    (``hll_union_agg``) instead of rescanning the corpus. In production
    the per-partition sketches are persisted with the data; any rollup
    (per-day, per-source, global) is then a metadata-sized merge.

    Raw sketch bytes are engine-specific, so the entry is SELF-VALIDATING
    like ads_approx_stats: exact distincts ride along in the same
    aggregations (hash-checked against DuckDB) and each sketch estimate
    is published only as a boolean asserting it landed within 3x rsd of
    exact — the oracle pins the booleans TRUE, so estimator drift is a
    hash mismatch, not a silent pass. The union row proves the MERGED
    sketch still honors the bound (merging never degrades HLL accuracy
    beyond its configured rsd).
    """
    docs = load(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(
        F.hll_sketch_agg(F.md5("text"), HLL_LG_K).alias("sk"),
        F.countDistinct("text").alias("exact_distinct"),
    )
    # empty-corpus guard: hll_union_agg over zero rows is NULL, which
    # would make the bound comparison NULL while the oracle pins TRUE —
    # an absent sketch with an exact count of 0 IS within bounds
    ok = F.coalesce(
        F.abs(F.hll_sketch_estimate("sk") - F.col("exact_distinct"))
        <= HLL_TOL * F.col("exact_distinct"),
        F.col("exact_distinct") == 0,
    ).alias("hll_ok")
    lang_rows = per.select("lang", "exact_distinct", ok)
    merged = per.agg(F.hll_union_agg("sk").alias("sk"))
    global_exact = docs.agg(F.countDistinct("text").alias("exact_distinct"))
    total_row = (
        merged.crossJoin(global_exact)
        .select(F.lit("*ALL*").alias("lang"), "exact_distinct", ok)
    )
    return lang_rows.unionByName(total_row)


ORACLE_HLL_UNION_ROLLUP = """
SELECT lang, CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct,
       TRUE AS hll_ok
FROM documents
GROUP BY lang
UNION ALL
SELECT '*ALL*' AS lang, CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct,
       TRUE AS hll_ok
FROM documents
"""


# Feature-hashed linear classifier: D buckets, deterministic demo weights.
# In production the weights come from offline training (fastText-style
# quality classifier / DSIR importance weights); serving only needs the
# frozen vector, which is what this operator exercises.
HASH_DIM = 256
CLS_WEIGHTS = [((7 * i * i + 3 * i + 5) % 21) - 10 for i in range(HASH_DIM)]

_HEXES = "0123456789abcdef"

# The 1..HASH_DIM bucket index of a token (two md5 hex digits) — ONE
# definition per engine, shared by the frozen-weight classifier here and
# curation's DSIR importance estimator ({tok} is the token expression).
HASH_IDX_SPARK = (
    f"(locate(substring(md5({{tok}}), 1, 1), '{_HEXES}') - 1) * 16"
    f" + locate(substring(md5({{tok}}), 2, 1), '{_HEXES}')"
)
HASH_IDX_DUCK = (
    f"(strpos('{_HEXES}', substring(md5({{tok}}), 1, 1)) - 1) * 16"
    f" + strpos('{_HEXES}', substring(md5({{tok}}), 2, 1))"
)


def hashed_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-filter SERVING — the feature-hashing linear classifier
    every production quality/domain filter ultimately is (fastText-style
    scorer, DSIR importance weights): each token hashes into one of
    HASH_DIM buckets (two md5 hex digits), the document score is the sum
    of the bucket weights, and the keep decision is the sign. Weights are
    a frozen integer vector, so scoring is BIGINT-exact and the oracle
    hash-matches bit-for-bit.

    Scale shape (100 TB): fully map-only — the weight vector rides into
    the expression as a literal array (at real dimensionality it would be
    a broadcast), each document scores in one JVM fold over its tokens,
    zero shuffles, zero Python. This is the entire serving cost of a
    trained text classifier done right: one streaming pass.
    """
    docs = load(spark, sf_dir, "documents")
    w_arr = ", ".join(str(w) for w in CLS_WEIGHTS)
    idx = HASH_IDX_SPARK.format(tok="tok")
    toks = docs.select("doc_id", tokens_col("text").alias("t")).filter(
        F.size("t") > 0
    )
    # score once, derive the label from the computed column — embedding
    # the fold twice would double the per-token hashing if Catalyst's
    # subexpression elimination declines to fuse across aliases
    scored = toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.expr(
            f"aggregate(transform(t, tok -> element_at(array({w_arr}), {idx})),"
            " cast(0 as bigint), (acc, x) -> acc + x)"
        ).alias("score"),
    )
    return scored.withColumn(
        "label", F.when(F.col("score") >= 0, "keep").otherwise("drop")
    )


def _oracle_hashed_classifier() -> str:
    w_arr = ", ".join(str(w) for w in CLS_WEIGHTS)
    idx = HASH_IDX_DUCK.format(tok="tok")
    score = (
        f"list_reduce(list_transform(t, tok -> [{w_arr}][{idx}]),"
        " (acc, x) -> acc + x)"
    )
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS t
    FROM documents
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST({score} AS BIGINT) AS score,
       CASE WHEN {score} >= 0 THEN 'keep' ELSE 'drop' END AS label
FROM toks
WHERE len(t) > 0
"""


ORACLE_HASHED_CLASSIFIER = _oracle_hashed_classifier()


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier SELF-EVALUATION — the confusion matrix of the marker
    heuristic ``lang_id`` against the labeled ``lang`` column, the third
    member of the hash-pinned evaluation family (with the ANN and LSH
    recall ledgers): per (actual, predicted) cell, document count and the
    per-actual-language recall as a HALF_UP-x100 integer. Classifier
    quality becomes an oracle contract — a heuristic regression (marker
    list edit, tie-order change) fails correctness, not a metrics
    dashboard.

    Scale shape: the prediction is lang_id's map-only pass; the matrix is
    one bounded-key (|langs|²) partial-agg count plus a per-actual window
    total. The labeled corpus at 100 TB is the sampled golden set; the
    predictor is the production path being audited.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    cells = (
        docs.join(pred, "doc_id")
        .groupBy(F.col("lang").alias("actual"), "pred_lang")
        .agg(F.count(F.lit(1)).alias("docs"))
    )
    return cells.select(
        "actual",
        "pred_lang",
        "docs",
        F.expr(
            "(200 * docs + sum(docs) OVER (PARTITION BY actual))"
            " DIV (2 * sum(docs) OVER (PARTITION BY actual))"
        ).alias("share_x100"),
    )


ORACLE_LANG_ID_CONFUSION = f"""
WITH pred AS (
    SELECT doc_id, pred_lang FROM ({ORACLE_LANG_ID}) t
),
cells AS (
    SELECT d.lang AS actual, p.pred_lang, CAST(count(*) AS BIGINT) AS docs
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY 1, 2
)
SELECT actual, pred_lang, docs,
       CAST((200 * docs + sum(docs) OVER (PARTITION BY actual))
            // (2 * sum(docs) OVER (PARTITION BY actual)) AS BIGINT) AS share_x100
FROM cells
"""


SPARSE_K = 3           # shingle width — same unit minhash proves discriminative
SPARSE_MIN_DF = 2      # a shingle in one doc can't create a pair
SPARSE_MAX_DF = 100    # hot-key cap: the inverted-index stop list
SPARSE_SCALE = 1_000_000
SPARSE_TOP_N = 50


def sparse_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE retrieval — the inverted-index complement to the dense ANN
    family: top-N most-similar document pairs by rare-feature weighted
    overlap, score = Σ_{shared shingles} SCALE DIV df². The posting unit
    is the word-3-gram shingle (single words are useless on this
    corpus's 31-term vocabulary — measured; shingles are the unit the
    minhash family already proves discriminative), and df² is the
    integer-exact stand-in for idf² in a tf-idf dot product (rare shared
    features dominate, ubiquitous ones vanish) — the whole score stays
    BIGINT so both engines agree bit-for-bit, no float log.

    Scale shape — the classic postings-list discipline: distinct
    shingle postings from the scan; the df table prunes shingles
    OUTSIDE [MIN_DF, MAX_DF] BEFORE the self-join, which is the step
    that kills hot-key quadratics (a boilerplate shingle's postings list
    would otherwise self-join |corpus|² — the same guard as
    MAX_SHINGLE_DF in minhash). The surviving join is keyed on the
    shingle with per-key fan-out ≤ MAX_DF², the pair scores
    partial-aggregate, and top-N is TakeOrderedAndProject.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("t")).filter(
        F.size("t") >= SPARSE_K
    )
    postings = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, size(t) - {SPARSE_K}),"
                    " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
                )
            )
        ).alias("s"),
    )
    df_tab = (
        postings.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            (F.col("df") >= SPARSE_MIN_DF) & (F.col("df") <= SPARSE_MAX_DF)
        )
        .withColumn("w", F.expr(f"{SPARSE_SCALE} DIV (df * df)"))
        .select("s", "w")
    )
    kept = postings.join(df_tab, "s")
    a = kept.alias("a")
    b = kept.alias("b")
    scored = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.w").alias("part"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("part").alias("score"))
    )
    return scored.orderBy(
        F.desc("score"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(SPARSE_TOP_N)


ORACLE_SPARSE_TOPK_PAIRS = f"""
WITH toks AS (SELECT doc_id, {_DUCK_T} AS t FROM documents),
postings AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, len(t) - {SPARSE_K - 2}),
               i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])))) AS s
    FROM toks
    WHERE len(t) >= {SPARSE_K}
),
df_tab AS (
    SELECT s, CAST({SPARSE_SCALE} AS BIGINT) // (count(*) * count(*)) AS w
    FROM postings
    GROUP BY s
    HAVING count(*) BETWEEN {SPARSE_MIN_DF} AND {SPARSE_MAX_DF}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(sum(d.w) AS BIGINT) AS score
FROM postings a
JOIN df_tab d ON a.s = d.s
JOIN postings b ON a.s = b.s AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY score DESC, doc_a ASC, doc_b ASC
LIMIT {SPARSE_TOP_N}
"""


# =============================================================================
# Round-7: two-pass heavy-hitter terms (sample-then-verify)
# =============================================================================

FREQ_SEED = "freq7:"
FREQ_SAMPLE_HEX = "4"  # first md5 hex digit < '4' → deterministic ~25% of docs
FREQ_CANDIDATES = 50
FREQ_TOPK = 20


def frequent_terms_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAVY-HITTER TERMS, TWO-PASS SAMPLE-THEN-VERIFY — the scale
    pattern for "top-k terms over 100 TB" when one exact global term
    groupBy is the bottleneck: pass 1 counts terms over a deterministic
    ~25 % document sample (md5-prefix membership — no RNG, no
    sampleBy seed drift) and keeps the top FREQ_CANDIDATES; pass 2
    computes EXACT counts for the candidate set only — the broadcast
    semi-join prunes the explode before the shuffle, so the full-corpus
    pass aggregates 50 terms instead of the whole vocabulary. Returned
    counts are EXACT; the sample can only cost a candidate that was
    absent from a quarter of the corpus — not a heavy hitter. This is
    the Misra-Gries/space-saving use case built from two deterministic
    passes, which (unlike the sketches) both engines replay bit-for-bit,
    so the oracle checks candidate selection AND the final counts.
    """
    docs = load(spark, sf_dir, "documents")
    sampled = docs.filter(
        F.expr(
            f"substring(md5(concat('{FREQ_SEED}', CAST(doc_id AS STRING))), 1, 1)"
            f" < '{FREQ_SAMPLE_HEX}'"
        )
    )
    cand = (
        sampled.select(F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("sample_ct"))
        .orderBy(F.desc("sample_ct"), F.asc("term"))
        .limit(FREQ_CANDIDATES)
    )
    exact = (
        docs.select(F.explode(tokens_col("text")).alias("term"))
        .join(F.broadcast(cand), "term")
        .groupBy("term", "sample_ct")
        .agg(F.count(F.lit(1)).alias("exact_ct"))
    )
    return (
        exact.orderBy(F.desc("exact_ct"), F.asc("term"))
        .limit(FREQ_TOPK)
        .select("term", "exact_ct", "sample_ct")
    )


ORACLE_FREQUENT_TERMS = f"""
WITH toks AS (SELECT doc_id, {_DUCK_T} AS t FROM documents),
sampled AS (
    SELECT doc_id, t FROM toks
    WHERE substring(md5('{FREQ_SEED}' || CAST(doc_id AS VARCHAR)), 1, 1) < '{FREQ_SAMPLE_HEX}'),
sterms AS (SELECT unnest(t) AS term FROM sampled),
cand AS (
    SELECT term, CAST(count(*) AS BIGINT) AS sample_ct
    FROM sterms GROUP BY 1
    ORDER BY sample_ct DESC, term ASC LIMIT {FREQ_CANDIDATES}),
allt AS (SELECT unnest(t) AS term FROM toks),
exact AS (
    SELECT a.term, c.sample_ct, CAST(count(*) AS BIGINT) AS exact_ct
    FROM allt a JOIN cand c USING (term)
    GROUP BY 1, 2)
SELECT term, exact_ct, sample_ct
FROM exact
ORDER BY exact_ct DESC, term ASC LIMIT {FREQ_TOPK}
"""


SWEEP_MIN_TOKENS = (0, 5, 10, 20, 40, 80, 160, 320)


def sweep_fold(docs: DataFrame) -> DataFrame:
    """The whole threshold grid as ONE global aggregation — the 1-row
    wide table (d{thr} survivors, k{thr} kept tokens) sweep_stack
    unpivots — over the per-doc gate terms (n_tokens, stop_ct), pure
    per-row expressions. On the stream it is the single complete-mode
    fold (|SWEEP| x 2 counters of state, constant in corpus size); the
    stack runs batch-side on the drained row, so the live curve and the
    backfill cannot drift."""
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    base = docs.select(tokens_col("text").alias("t")).select(
        F.size("t").cast("long").alias("n_tokens"),
        F.expr(f"size(filter(t, x -> array_contains(array({stop_arr}), x)))")
        .cast("long")
        .alias("stop_ct"),
    )
    aggs = []
    for thr in SWEEP_MIN_TOKENS:
        keep = (
            (F.col("n_tokens") >= thr)
            & (F.col("n_tokens") <= MAX_TOKENS)
            & (F.col("stop_ct") >= 1)
        )
        aggs.append(F.count(F.when(keep, 1)).alias(f"d{thr}"))
        aggs.append(
            F.coalesce(F.sum(F.when(keep, F.col("n_tokens"))), F.lit(0))
            .cast("long")
            .alias(f"k{thr}")
        )
    return base.agg(*aggs)


def sweep_stack(wide: DataFrame) -> DataFrame:
    """Unpivot the 1-row wide sweep aggregate to (min_tokens, n_docs,
    kept_tokens) rows."""
    stack_args = ", ".join(f"{thr}L, d{thr}, k{thr}" for thr in SWEEP_MIN_TOKENS)
    return wide.selectExpr(
        f"stack({len(SWEEP_MIN_TOKENS)}, {stack_args})"
        " AS (min_tokens, n_docs, kept_tokens)"
    )


def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter CALIBRATION curve: survivors (docs, tokens) of the
    quality gate at each candidate min-token threshold, holding the
    other gate terms (max length, >=1 stopword) fixed — the table a
    pipeline owner reads to pick MIN_TOKENS, produced the same way
    filter_funnel prices the fixed pipeline. Pinned as a hash contract
    so a tokenizer or stopword change that silently shifts the curve
    fails correctness.

    ONE corpus pass for the whole grid: per-threshold survivors are
    |SWEEP| conditional aggregates over the same base stats, stacked to
    rows afterwards — at 100 TB the sweep costs exactly one scan plus a
    map-side-combined aggregation to a single |SWEEP|-row result, vs
    |SWEEP| scans for the naive loop."""
    docs = load(spark, sf_dir, "documents")
    return sweep_stack(sweep_fold(docs))


_SWEEP_SQL = ", ".join(str(t) for t in SWEEP_MIN_TOKENS)

ORACLE_QUALITY_THRESHOLD_SWEEP = f"""
WITH base AS (
    SELECT CAST(len({_DUCK_T}) AS BIGINT) AS n_tokens,
           CAST(len(list_filter({_DUCK_T},
                x -> list_contains([{_DUCK_STOPS}], x))) AS BIGINT) AS stop_ct
    FROM documents
),
grid AS (SELECT unnest([{_SWEEP_SQL}]) AS min_tokens)
SELECT CAST(g.min_tokens AS BIGINT) AS min_tokens,
       CAST(count(CASE WHEN b.n_tokens >= g.min_tokens
                        AND b.n_tokens <= {MAX_TOKENS}
                        AND b.stop_ct >= 1 THEN 1 END) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(CASE WHEN b.n_tokens >= g.min_tokens
                               AND b.n_tokens <= {MAX_TOKENS}
                               AND b.stop_ct >= 1 THEN b.n_tokens END), 0)
            AS BIGINT) AS kept_tokens
FROM grid g CROSS JOIN base b
GROUP BY 1
"""


ROC_THRESHOLDS = (-200, -100, -50, 0, 50, 100, 200)  # score per 100 tokens


def classifier_roc_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER CALIBRATION against weak supervision — the table an
    operator reads before wiring the learned filter into the funnel:
    the hashed classifier's length-normalized score (100*score div
    n_tokens, integer-exact) thresholded at every grid point, confusion
    counts against the heuristic quality gate (the same MIN/MAX/stopword
    terms as text_quality_scores) standing in as the reference label —
    exactly how production quality classifiers are sanity-checked
    against the rule-based filter they replace.

    ONE corpus pass: per-doc (normalized score, gate verdict) in one
    projection, then |GRID| x 4 conditional confusion aggregates stacked
    to rows — the quality_threshold_sweep discipline. tpr/fpr are x1000
    integers (hash-pinned); NULL when a class is empty."""
    docs = load(spark, sf_dir, "documents")
    return roc_finish(roc_fold(docs))


def roc_fold(docs: DataFrame) -> DataFrame:
    """The whole confusion grid as ONE global aggregation — the 1-row
    wide table roc_finish stacks — over per-doc (nscore, truth), pure
    per-row expressions. On the stream it is the single complete-mode
    fold (|GRID| x 4 counters of state); stack and rate math run
    batch-side on the drained row."""
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    w_arr = ", ".join(str(w) for w in CLS_WEIGHTS)
    idx = (
        f"(locate(substring(md5(tok), 1, 1), '{_HEXES}') - 1) * 16"
        f" + locate(substring(md5(tok), 2, 1), '{_HEXES}')"
    )
    base = docs.select(tokens_col("text").alias("t")).filter(
        F.size("t") > 0
    ).select(
        F.size("t").cast("long").alias("n_tokens"),
        F.expr(
            f"aggregate(transform(t, tok -> element_at(array({w_arr}), {idx})),"
            " cast(0 as bigint), (acc, x) -> acc + x)"
        ).alias("score"),
        F.expr(f"size(filter(t, x -> array_contains(array({stop_arr}), x)))")
        .cast("long")
        .alias("stop_ct"),
    ).select(
        F.expr("(100 * score) div n_tokens").alias("nscore"),
        (
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("n_tokens") <= MAX_TOKENS)
            & (F.col("stop_ct") >= 1)
        ).alias("truth"),
    )
    aggs = []
    for i, thr in enumerate(ROC_THRESHOLDS):
        pred = F.col("nscore") >= thr
        aggs.append(F.count(F.when(pred & F.col("truth"), 1)).alias(f"tp{i}"))
        aggs.append(F.count(F.when(pred & ~F.col("truth"), 1)).alias(f"fp{i}"))
        aggs.append(F.count(F.when(~pred & F.col("truth"), 1)).alias(f"fn{i}"))
        aggs.append(F.count(F.when(~pred & ~F.col("truth"), 1)).alias(f"tn{i}"))
    return base.agg(*aggs)


def roc_finish(wide: DataFrame) -> DataFrame:
    """Stack the 1-row wide confusion fold to grid rows + the x1000
    rate math (NULL-guarded on empty classes, both engines)."""
    stack_args = ", ".join(
        f"{thr}L, tp{i}, fp{i}, fn{i}, tn{i}"
        for i, thr in enumerate(ROC_THRESHOLDS)
    )
    stacked = wide.selectExpr(
        f"stack({len(ROC_THRESHOLDS)}, {stack_args})"
        " AS (threshold, tp, fp, fn, tn)"
    )
    return stacked.select(
        "threshold",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.expr("(1000 * tp) DIV (tp + fn)")).cast("long").alias("tpr_x1000"),
        F.when(F.col("fp") + F.col("tn") > 0,
               F.expr("(1000 * fp) DIV (fp + tn)")).cast("long").alias("fpr_x1000"),
    )


def _oracle_classifier_roc() -> str:
    w_arr = ", ".join(str(w) for w in CLS_WEIGHTS)
    idx = (
        f"(strpos('{_HEXES}', substring(md5(tok), 1, 1)) - 1) * 16"
        f" + strpos('{_HEXES}', substring(md5(tok), 2, 1))"
    )
    score = (
        f"list_reduce(list_transform(t, tok -> [{w_arr}][{idx}]),"
        " (acc, x) -> acc + x)"
    )
    grid = ", ".join(str(t) for t in ROC_THRESHOLDS)
    return f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS t
    FROM documents
),
base AS (
    SELECT (100 * CAST({score} AS BIGINT)) // CAST(len(t) AS BIGINT) AS nscore,
           (CAST(len(t) AS BIGINT) >= {MIN_TOKENS}
            AND CAST(len(t) AS BIGINT) <= {MAX_TOKENS}
            AND len(list_filter(t, x -> list_contains([{_DUCK_STOPS}], x))) >= 1)
           AS truth
    FROM toks WHERE len(t) > 0
),
grid AS (SELECT unnest([{grid}]) AS threshold),
conf AS (
    SELECT CAST(g.threshold AS BIGINT) AS threshold,
           CAST(count(CASE WHEN b.nscore >= g.threshold AND b.truth THEN 1 END) AS BIGINT) AS tp,
           CAST(count(CASE WHEN b.nscore >= g.threshold AND NOT b.truth THEN 1 END) AS BIGINT) AS fp,
           CAST(count(CASE WHEN b.nscore < g.threshold AND b.truth THEN 1 END) AS BIGINT) AS fn,
           CAST(count(CASE WHEN b.nscore < g.threshold AND NOT b.truth THEN 1 END) AS BIGINT) AS tn
    FROM grid g CROSS JOIN base b
    GROUP BY 1
)
SELECT threshold, tp, fp, fn, tn,
       CASE WHEN tp + fn > 0 THEN (1000 * tp) // (tp + fn) END AS tpr_x1000,
       CASE WHEN fp + tn > 0 THEN (1000 * fp) // (fp + tn) END AS fpr_x1000
FROM conf
"""


ORACLE_CLASSIFIER_ROC = _oracle_classifier_roc()


# --- Lexical diversity (round 10) --------------------------------------------

DIVERSITY_SCALE = 1_000_000  # Gini-Simpson x 10^6, integer-exact
DIVERSITY_EXACT_MAX_N = 3_000_000  # n²·SCALE fits BIGINT below this


def _token_run_lengths(base: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, cnts): the per-doc token HISTOGRAM as the run
    lengths of the SORTED token array — sort once (O(n log n)), mark the
    positions where the sorted value changes (one indexed ``transform``
    pass), and difference consecutive boundary positions. Replaces the
    round-12 ``transform(array_distinct(t), x -> size(filter(t, ...)))``
    shape, whose O(types·tokens) comparisons per ROW made a single
    10⁵-token document (books and code files are routine in a 100 TB
    corpus) a ~10¹⁰-comparison straggler inside ONE task — exactly the
    documents a diversity/entropy gate exists to score (VERDICT r12).
    The histogram VALUES are identical (order differs: sorted-token vs
    first-occurrence), and every consumer is order-free (Σc², explode +
    group), so the DuckDB oracles keep the quadratic spelling — the
    equivalence is what the parity rows test.

    Still pure per-row array math: zero shuffle, zero join, runs
    unchanged on a streaming DataFrame. Each stage is its own projection
    so ``array_sort`` evaluates once (CollapseProject declines to inline
    non-cheap expressions referenced twice)."""
    return (
        base.select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.expr("array_sort(t)").alias("s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # 0-based run-start positions: i = 0, and every i whose token
            # differs from its predecessor (element_at is 1-based, so
            # element_at(s, i) IS s[i-1]; the CASE keeps it unevaluated
            # at i = 0 — no negative index under ANSI mode).
            F.expr(
                "filter(transform(s, (x, i) -> CASE WHEN i = 0 THEN 0"
                " WHEN x != element_at(s, i) THEN i END),"
                " v -> v IS NOT NULL)"
            ).alias("bnd"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # run lengths = next boundary − this boundary, with n as the
            # sentinel boundary after the last run
            F.expr(
                "zip_with(bnd,"
                " concat(slice(bnd, 2, size(bnd)),"
                "        array(CAST(n_tokens AS INT))),"
                " (a, b) -> CAST(b - a AS BIGINT))"
            ).alias("cnts"),
        )
    )


def token_diversity_transform(docs: DataFrame) -> DataFrame:
    """Per-doc lexical-diversity quality signals, INTEGER-EXACT (no
    float entropy — the repo's parity convention): type count,
    type-token ratio x1000, and the Gini-Simpson diversity index
    1 - Σ(c_i/n)² rendered as (n² − Σc_i²)·10^6 DIV n². Repetitive
    SEO/boilerplate text scores low on both — the same filter axis an
    entropy gate covers, in arithmetic both engines agree on
    bit-for-bit.

    Shape: pure per-row array math over the _token_run_lengths
    histogram (O(n log n) per row) — zero shuffle, zero join, and the
    transform runs unchanged on a streaming DataFrame. At 100 TB this
    is the shape you want: a map-only scan that never exchanges; the
    explode+two-level-agg alternative shuffles the entire token stream
    for the same answer. Docs with zero tokens are excluded (the
    ratios are undefined; the oracle applies the same WHERE)."""
    base = docs.select(
        "doc_id", tokens_col("text").alias("t")
    ).filter(F.size("t") >= 1)
    return _token_run_lengths(base).select(
        "doc_id",
        "n_tokens",
        F.size("cnts").cast("long").alias("n_types"),
        F.expr("aggregate(cnts, 0L, (a, c) -> a + c * c)").alias("_sum_sq"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.expr("(1000 * n_types) DIV n_tokens").cast("long").alias("ttr_x1000"),
        # (n² − Σc²)·10^6 overflows BIGINT past n ≈ 3.03e6 tokens (and the
        # two engines diverge there: Spark wraps, DuckDB raises) — past the
        # guard, divide by n BEFORE scaling: error < SCALE/n, i.e. below the
        # x1m grain exactly where the branch activates, and every term then
        # stays in range for any physically representable document.
        F.expr(
            f"CASE WHEN n_tokens <= {DIVERSITY_EXACT_MAX_N}"
            f" THEN ((n_tokens * n_tokens - _sum_sq) * {DIVERSITY_SCALE})"
            "      DIV (n_tokens * n_tokens)"
            f" ELSE (((n_tokens * n_tokens - _sum_sq) DIV n_tokens)"
            f"       * {DIVERSITY_SCALE}) DIV n_tokens END"
        )
        .cast("long")
        .alias("simpson_x1m"),
    )


def token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch entry over token_diversity_transform."""
    docs = load(spark, sf_dir, "documents")
    return token_diversity_transform(docs)


ORACLE_TOKEN_DIVERSITY = f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_T} AS t FROM documents
),
base AS (
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_types,
           list_reduce(
               list_transform(
                   list_transform(list_distinct(t),
                                  x -> CAST(len(list_filter(t, y -> y = x)) AS BIGINT)),
                   c -> c * c),
               (a, b) -> a + b) AS sum_sq
    FROM toks WHERE len(t) >= 1
)
SELECT doc_id, n_tokens, n_types,
       CAST((1000 * n_types) // n_tokens AS BIGINT) AS ttr_x1000,
       CAST(CASE WHEN n_tokens <= {DIVERSITY_EXACT_MAX_N}
            THEN ((n_tokens * n_tokens - sum_sq) * {DIVERSITY_SCALE})
                 // (n_tokens * n_tokens)
            ELSE (((n_tokens * n_tokens - sum_sq) // n_tokens)
                  * {DIVERSITY_SCALE}) // n_tokens END AS BIGINT) AS simpson_x1m
FROM base
"""


# --- Zipf slope (round 12) ----------------------------------------------------
ZIPF_N = 64  # fit over the top-N terms by collection frequency
ZIPF_LN_SCALE = 1_000_000  # ln values floor-scaled before the integer sums


def corpus_cf(docs: DataFrame) -> DataFrame:
    """(tok, cf): collection frequency — ONE keyed corpus aggregation.
    Shared by the batch entry and the streaming complete-mode fold
    (|vocab| keys x one counter of state; zipf_finish runs batch-side)."""
    return (
        docs.select(F.explode(tokens_col("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cf"))
    )


def zipf_finish(cf: DataFrame) -> DataFrame:
    """ZIPF SLOPE of the corpus frequency distribution — the classic
    corpus-quality diagnostic (natural text fits ln(cf) ≈ a + s·ln(rank)
    with s ≈ -1; template-spam or truncation bends the tail). Least
    squares over the top-ZIPF_N terms, integer-exact end to end:

    - top-N selection is the salted TWO-PHASE top-k (the
      triplets_finish discipline): phase 1 ranks per md5-first-hex-char
      bucket (16 deterministic buckets, the hex char itself is the
      partition key — no conv(), which DuckDB lacks), phase 2 ranks the
      ≤ 16·ZIPF_N survivors globally. No reducer ever sorts the whole
      vocabulary.
    - x = ln(rank), y = ln(cf) through the shared retrieval._ln_stages
      template (bit-identical doubles in both engines), floor-scaled by
      ZIPF_LN_SCALE to BIGINT, so every regression sum is an order-free
      integer. Bounds at N=64: X ≤ ln(64)·1e6 ≈ 4.2e6, Y ≤ ln(2^62)·1e6
      ≈ 4.3e7, so n·ΣXY ≤ 64·64·1.8e14 ≈ 7.4e17 < 2^63 — no overflow.
    - slope = (n·Sxy − Sx·Sy)/(n·Sxx − Sx²) emitted as slope_x1e6 via
      magnitude-only integer division (abs then re-sign: Spark DIV
      truncates toward zero, DuckDB // floors — identical only on
      non-negative operands) against the 1e6-predivided denominator;
      the predivide costs ≤ 1e-6 relative accuracy and keeps the
      numerator inside BIGINT. Denominator-zero (degenerate < 2-point
      fit) emits the 0 sentinel.

    Shared VERBATIM by the batch entry and the streaming twin."""
    from flink_gmall_spark.operators.retrieval import _ln_stages
    from pyspark.sql import Window

    salted = cf.withColumn("s1", F.substring(F.md5(F.col("tok")), 1, 1))
    wl = Window.partitionBy("s1").orderBy(F.desc("cf"), F.asc("tok"))
    local = salted.withColumn("lr", F.row_number().over(wl)).filter(
        F.col("lr") <= ZIPF_N
    )
    wg = Window.orderBy(F.desc("cf"), F.asc("tok"))
    ranked = (
        local.withColumn("rank", F.row_number().over(wg))
        .filter(F.col("rank") <= ZIPF_N)
        .withColumn("a_i", F.expr("CAST(rank AS BIGINT)"))
        .withColumn("b_i", F.expr("CAST(cf AS BIGINT)"))
    )
    for stage in _ln_stages("a_i", "a") + _ln_stages("b_i", "b"):
        for c, e in stage:
            ranked = ranked.withColumn(c, F.expr(e))
    xy = ranked.select(
        F.expr(
            f"CAST(floor(ln_a * CAST({ZIPF_LN_SCALE} AS DOUBLE)) AS BIGINT)"
        ).alias("x"),
        F.expr(
            f"CAST(floor(ln_b * CAST({ZIPF_LN_SCALE} AS DOUBLE)) AS BIGINT)"
        ).alias("y"),
        "cf",
    )
    fit = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.max("cf").cast("long").alias("top_cf"),
    )
    return fit.selectExpr(
        "n_terms",
        f"""CASE WHEN (n_terms * sxx - sx * sx) DIV {ZIPF_LN_SCALE} > 0
             THEN CASE WHEN n_terms * sxy - sx * sy < 0
                  THEN -(abs(n_terms * sxy - sx * sy)
                         DIV ((n_terms * sxx - sx * sx) DIV {ZIPF_LN_SCALE}))
                  ELSE (n_terms * sxy - sx * sy)
                       DIV ((n_terms * sxx - sx * sx) DIV {ZIPF_LN_SCALE})
                  END
             ELSE 0 END AS slope_x1e6""",
        "top_cf",
    )


def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-slope ledger over the documents corpus: one keyed corpus
    aggregation (cf), a two-phase bounded top-N, and a single-row
    integer least-squares fit."""
    return zipf_finish(corpus_cf(load(spark, sf_dir, "documents")))


def _oracle_zipf_slope() -> str:
    from flink_gmall_spark.operators.retrieval import _ln_stages

    ctes, prev = [], "zb"
    for i, stage in enumerate(_ln_stages("a_i", "a") + _ln_stages("b_i", "b")):
        cols = ", ".join(f"{e} AS {c}" for c, e in stage)
        ctes.append(f"zl{i} AS (\n    SELECT *, {cols} FROM {prev}\n)")
        prev = f"zl{i}"
    chain = ",\n".join(ctes)
    num = "(n_terms * sxy - sx * sy)"
    den6 = f"((n_terms * sxx - sx * sx) // {ZIPF_LN_SCALE})"
    return f"""
WITH tokz AS (
    SELECT unnest({_DUCK_T}) AS tok FROM documents
),
cf AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM tokz GROUP BY 1
),
zsalt AS (
    SELECT *, substring(md5(tok), 1, 1) AS s1 FROM cf
),
zloc AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY s1 ORDER BY cf DESC, tok ASC) AS lr
        FROM zsalt
    ) WHERE lr <= {ZIPF_N}
),
zrank AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (ORDER BY cf DESC, tok ASC) AS rank
        FROM zloc
    ) WHERE rank <= {ZIPF_N}
),
zb AS (
    SELECT tok, cf, CAST(rank AS BIGINT) AS a_i, cf AS b_i FROM zrank
),
{chain},
zxy AS (
    SELECT CAST(floor(ln_a * CAST({ZIPF_LN_SCALE} AS DOUBLE)) AS BIGINT) AS x,
           CAST(floor(ln_b * CAST({ZIPF_LN_SCALE} AS DOUBLE)) AS BIGINT) AS y,
           cf
    FROM {prev}
),
zfit AS (
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(max(cf) AS BIGINT) AS top_cf
    FROM zxy
)
SELECT n_terms,
       CAST(CASE WHEN {den6} > 0
            THEN CASE WHEN {num} < 0
                 THEN -(abs({num}) // {den6})
                 ELSE {num} // {den6}
                 END
            ELSE 0 END AS BIGINT) AS slope_x1e6,
       top_cf
FROM zfit
"""


ORACLE_ZIPF_SLOPE = _oracle_zipf_slope()


# --- Shannon entropy (round 12) ------------------------------------------------
ENTROPY_SCALE = 1_000_000


def entropy_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, c_i) — one row per DISTINCT token of each
    non-empty document, with the per-doc histogram computed INSIDE the
    row via the _token_run_lengths sorted run-length fold (O(n log n)
    per row; zero shuffle, zero join, runs unchanged on a stream). The
    explode only fans out to the distinct-type count, ln-chain-ready;
    the downstream group-by never sees c_i order, so the sorted-token
    histogram is interchangeable with the oracle's first-occurrence
    one."""
    base = docs.select("doc_id", tokens_col("text").alias("t")).filter(
        F.size("t") >= 1
    )
    # explode_OUTER, deliberately: a plain explode triggers
    # InferFiltersFromGenerate, whose size(cnts) > 0 guard is then
    # predicate-pushed through the staged projections — inlining the
    # whole run-length expression into one Filter where element_at's
    # array_sort argument re-evaluates PER LAMBDA ELEMENT (measured
    # O(n²): 8k-type doc = 161 s; with outer, the rule does not fire
    # and the same doc is sub-second). Outer semantics are unreachable:
    # size(t) >= 1 guarantees cnts is non-empty, so no null row is ever
    # emitted. Regression-pinned by
    # tests/test_plans.py::test_entropy_terms_no_inferred_generate_filter.
    return _token_run_lengths(base).select(
        "doc_id",
        "n_tokens",
        F.explode_outer("cnts").alias("c_i"),
    )


def entropy_finish(terms: DataFrame) -> DataFrame:
    """Per-doc SHANNON ENTROPY, integer-exact — the log-based member of
    the diversity family (TTR and Gini-Simpson live in token_diversity;
    entropy needed ln and therefore waited for the shared staged-ln
    template): H = ln(n) - (Σ c_i·ln(c_i))/n, emitted as
    entropy_x1e6 = floor(ln(n)·1e6) - (Σ floor(c_i·ln(c_i)·1e6) DIV n).
    Every operand is a non-negative BIGINT (c ≥ 1 so c·ln c ≥ 0, and
    s DIV n ≤ ln(n)·1e6 term-by-term so the result is ≥ 0), which keeps
    Spark's truncating DIV and DuckDB's flooring // identical. Shared
    VERBATIM by the batch entry and the streaming twin."""
    from flink_gmall_spark.operators.retrieval import _ln_stages

    for stage in _ln_stages("c_i", "c") + _ln_stages("n_tokens", "n"):
        for c, e in stage:
            terms = terms.withColumn(c, F.expr(e))
    scored = terms.select(
        "doc_id",
        "n_tokens",
        F.expr(
            f"CAST(floor(CAST(c_i AS DOUBLE) * ln_c"
            f" * CAST({ENTROPY_SCALE} AS DOUBLE)) AS BIGINT)"
        ).alias("clnc_i"),
        F.expr(
            f"CAST(floor(ln_n * CAST({ENTROPY_SCALE} AS DOUBLE)) AS BIGINT)"
        ).alias("lnn_f"),
    )
    return scored.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.expr("max(lnn_f) - (sum(clnc_i) DIV max(n_tokens))")
        .cast("long")
        .alias("entropy_x1e6"),
    )


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution."""
    return entropy_finish(entropy_terms(load(spark, sf_dir, "documents")))


def _oracle_token_entropy() -> str:
    from flink_gmall_spark.operators.retrieval import _ln_stages

    ctes, prev = [], "eterms"
    for i, stage in enumerate(_ln_stages("c_i", "c") + _ln_stages("n_tokens", "n")):
        cols = ", ".join(f"{e} AS {c}" for c, e in stage)
        ctes.append(f"el{i} AS (\n    SELECT *, {cols} FROM {prev}\n)")
        prev = f"el{i}"
    chain = ",\n".join(ctes)
    return f"""
WITH ebase AS (
    SELECT doc_id, {_DUCK_T} AS t FROM documents WHERE len({_DUCK_T}) >= 1
),
eterms AS (
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           unnest(list_transform(list_distinct(t),
               x -> CAST(len(list_filter(t, y -> y = x)) AS BIGINT))) AS c_i
    FROM ebase
),
{chain},
escored AS (
    SELECT doc_id, n_tokens,
           CAST(floor(CAST(c_i AS DOUBLE) * ln_c
                * CAST({ENTROPY_SCALE} AS DOUBLE)) AS BIGINT) AS clnc_i,
           CAST(floor(ln_n * CAST({ENTROPY_SCALE} AS DOUBLE)) AS BIGINT)
               AS lnn_f
    FROM {prev}
)
SELECT doc_id,
       CAST(max(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(max(lnn_f) - (sum(clnc_i) // max(n_tokens)) AS BIGINT)
           AS entropy_x1e6
FROM escored
GROUP BY doc_id
"""


ORACLE_TOKEN_ENTROPY = _oracle_token_entropy()
