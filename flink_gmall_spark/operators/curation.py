"""Corpus-curation operators for large-scale training-data pipelines.

The steps between "raw crawl" and "training shards" that the BASELINE
north star calls for, beyond dedup/similarity (operators.dedup /
operators.ann): length bucketing, concat-and-chunk sequence packing,
deterministic stratified sampling, benchmark decontamination, tf-idf
term salience, and quality-argmax near-dup resolution.

Parity conventions (memory: spark-duckdb-parity-playbook): outputs are
BIGINT/STRING only (scores are integer-scaled, sampling thresholds are
hex-string comparisons), so every operator is hash-exact against its
DuckDB oracle.

Scale design (100 TB point):
- Everything is groupBy/window/join on bounded keys — no driver loops,
  no collects.
- pack_chunks partitions its running sum by language; a production
  deployment shards the window key further ((lang, shard_id) with
  per-shard budgets) so no single window partition exceeds an executor —
  the chunk ids then become (shard, chunk) pairs, same plan shape.
- decontaminate joins train-side shingles against the (small) holdout
  shingle set — AQE broadcasts the holdout side at runtime; the join
  never materializes train x train.
- sample_stratified / keep_best are one narrow filter / one windowed
  shuffle respectively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_gmall_spark.functions.tokenize import TOKEN_SPLIT_RE, tokens_col
from flink_gmall_spark.operators.dedup import (
    MAX_SHINGLE_DF,
    ORACLE_SIMHASH,
    simhash_fingerprints,
)
from flink_gmall_spark.sources import load

# token arrays in DuckDB — identical tokenization to tokens_col
_DUCK_T = (
    f"list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')"
)

PACK_BUDGET = 1024  # tokens per packed training sequence

# per-language sampling rates as 6-hex-digit md5-prefix thresholds:
# keep iff substring(md5(seed || doc_id), 1, 6) < threshold. Lexicographic
# order on lowercase hex == numeric order, so rate r maps to the hex
# string of floor(r * 16^6) — portable bit-for-bit across engines, no
# int(hex) conversion needed.
SAMPLE_SEED = "strat42:"
SAMPLE_RATE_HEX = {
    "en": "800000",  # 0.5
    "es": "400000",  # 0.25
    "de": "400000",  # 0.25
    "fr": "200000",  # 0.125
    "zh": "200000",  # 0.125
}
SAMPLE_DEFAULT_HEX = "100000"  # 0.0625 for unconfigured languages

HOLDOUT_MOD = 97  # doc_id % 97 == 0 stands in for the benchmark/eval set
DECONTAM_MIN_OVERLAP = 5  # >= this many shared distinct shingles => contaminated

TFIDF_TOP_N = 3
TFIDF_SCALE = 1_000_000  # integer-scaled score: tf * SCALE DIV df


def length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram per language over power-of-two buckets —
    the curriculum/packing planner's input (how much corpus sits in each
    sequence-length class). One partial-aggregated shuffle."""
    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "lang", F.size(tokens_col("text")).cast("long").alias("n_tok")
    )
    bucket = F.when(F.col("n_tok") <= 0, F.lit(-1)).otherwise(
        F.floor(F.log2(F.col("n_tok").cast("double"))).cast("long")
    )
    return (
        sized.groupBy("lang", bucket.alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).alias("doc_ct"),
            F.sum("n_tok").alias("tok_ct"),
        )
    )


ORACLE_LENGTH_BUCKETS = f"""
WITH t AS (SELECT lang, CAST(len({_DUCK_T}) AS BIGINT) AS n_tok FROM documents)
SELECT lang,
       CASE WHEN n_tok <= 0 THEN -1
            ELSE CAST(floor(log2(CAST(n_tok AS DOUBLE))) AS BIGINT) END AS len_bucket,
       CAST(count(*) AS BIGINT) AS doc_ct,
       CAST(sum(n_tok) AS BIGINT) AS tok_ct
FROM t
GROUP BY 1, 2
"""


def pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per language, documents are
    concatenated in doc_id order and cut into PACK_BUDGET-token training
    chunks; each document reports the chunk span it lands in.

    This is the packing discipline LLM pretraining actually uses (concat
    with EOS, fixed-length chunks, documents may straddle boundaries) —
    unlike greedy bin packing it is a pure prefix-sum, so it scales as one
    window per language shard (see module docstring for the 100 TB
    sharding note).
    """
    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "lang", F.size(tokens_col("text")).cast("long").alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    res = sized.withColumn("start_off", start).select(
        "doc_id",
        "lang",
        "n_tok",
        F.expr(f"start_off DIV {PACK_BUDGET}").alias("first_chunk"),
        F.expr(f"(start_off + n_tok - 1) DIV {PACK_BUDGET}").alias("last_chunk"),
    )
    return res.withColumn(
        "chunks_spanned", (F.col("last_chunk") - F.col("first_chunk") + 1)
    )


ORACLE_PACK_CHUNKS = f"""
WITH sized AS (
    SELECT doc_id, lang, CAST(len({_DUCK_T}) AS BIGINT) AS n_tok
    FROM documents
    WHERE len({_DUCK_T}) > 0
),
off AS (
    SELECT doc_id, lang, n_tok,
           COALESCE(sum(n_tok) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
    FROM sized
)
SELECT doc_id, lang, n_tok,
       CAST(start_off // {PACK_BUDGET} AS BIGINT) AS first_chunk,
       CAST((start_off + n_tok - 1) // {PACK_BUDGET} AS BIGINT) AS last_chunk,
       CAST((start_off + n_tok - 1) // {PACK_BUDGET}
         - start_off // {PACK_BUDGET} + 1 AS BIGINT) AS chunks_spanned
FROM off
"""


def _rate_hex_col() -> F.Column:
    c = F.lit(SAMPLE_DEFAULT_HEX)
    for lang, hexthr in SAMPLE_RATE_HEX.items():
        c = F.when(F.col("lang") == lang, hexthr).otherwise(c)
    return c


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates applied
    via an md5-prefix threshold on the seeded doc_id — reproducible across
    engines, runs, and cluster layouts (no RNG state), and purely a narrow
    filter: zero shuffles at any scale."""
    docs = load(spark, sf_dir, "documents")
    keyed = docs.withColumn(
        "hx",
        F.expr(f"substring(md5(concat('{SAMPLE_SEED}', CAST(doc_id AS STRING))), 1, 6)"),
    )
    return (
        keyed.filter(F.col("hx") < _rate_hex_col())
        .select("doc_id", "lang", "source")
    )


_DUCK_RATE_HEX = (
    "CASE "
    + " ".join(f"WHEN lang = '{k}' THEN '{v}'" for k, v in SAMPLE_RATE_HEX.items())
    + f" ELSE '{SAMPLE_DEFAULT_HEX}' END"
)

ORACLE_SAMPLE_STRATIFIED = f"""
SELECT doc_id, lang, source
FROM documents
WHERE substring(md5('{SAMPLE_SEED}' || CAST(doc_id AS VARCHAR)), 1, 6) < {_DUCK_RATE_HEX}
"""


WEIGHTED_SEED = "wsample7:"
WEIGHTED_K = 200  # corpus sample size


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic QUALITY-WEIGHTED corpus sampling — priority sampling
    (the A-ES/Efraimidis-Spirakis family, integerized): each document
    draws a stable pseudo-random 48-bit integer from a seeded md5 of its
    id, divides it by its weight (here 1 + n_chars, the "prefer longer
    documents" curation policy), and the K smallest priorities win. A
    doc with twice the weight halves its expected priority — a
    WEIGHT-MONOTONE tilt toward high-quality documents, NOT exact A-ES
    weight-proportional inclusion (that scheme keys on u^(1/w), i.e.
    -ln(u)/w; u/w deliberately deviates so the whole draw stays in
    integer arithmetic — r6 ADVICE note). The point of the construction
    is determinism WITHOUT the bugs of rand(): retries, re-partitions,
    and re-runs all reproduce the same sample, and the integer
    arithmetic makes both engines agree bit-for-bit (floats in
    -ln(u)/w would not).

    Scale shape: one narrow map (md5 + DIV) per row, then a global top-K
    that plans as TakeOrderedAndProject (per-partition heaps + a K-row
    driver merge) — no global sort, no shuffle of the corpus. Works
    unchanged at 100 TB.
    """
    docs = load(spark, sf_dir, "documents")
    pri = F.expr(
        f"cast(conv(substring(md5(concat('{WEIGHTED_SEED}',"
        f" CAST(doc_id AS STRING))), 1, 12), 16, 10) as bigint)"
        f" DIV (1 + n_chars)"
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            pri.cast("long").alias("priority"),
        )
        .orderBy(F.asc("priority"), F.asc("doc_id"))
        .limit(WEIGHTED_K)
    )


ORACLE_WEIGHTED_SAMPLE = f"""
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(('0x' || substring(md5('{WEIGHTED_SEED}' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT
            // (1 + n_chars) AS BIGINT) AS priority
FROM documents
ORDER BY priority ASC, doc_id ASC
LIMIT {WEIGHTED_K}
"""


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing >=
    DECONTAM_MIN_OVERLAP distinct word-3-gram shingles with any holdout
    (eval-set) document — the n-gram-overlap rule used to scrub eval
    leakage from pretraining corpora. Holdout membership here is the
    deterministic doc_id % HOLDOUT_MOD == 0 slice standing in for an
    external benchmark table; swapping in a real one changes only the
    holdout DataFrame.

    Plan shape: train-shingles ⋈ holdout-shingles on the shingle string —
    the holdout side is tiny so AQE broadcasts it; cost is one pass over
    the train shingles. Reuses dedup._shingles (same DF-cap guard).
    """
    from flink_gmall_spark.operators.dedup import _shingles

    docs = load(spark, sf_dir, "documents")
    sh = _shingles(docs)
    hold = sh.filter(F.col("doc_id") % HOLDOUT_MOD == 0).select(
        F.col("doc_id").alias("hold_id"), "s"
    )
    train = sh.filter(F.col("doc_id") % HOLDOUT_MOD != 0)
    hits = train.join(hold, "s")
    agg = hits.groupBy("doc_id").agg(
        F.countDistinct("s").alias("overlap_ct"),
        F.countDistinct("hold_id").alias("hold_docs"),
    )
    return agg.filter(F.col("overlap_ct") >= DECONTAM_MIN_OVERLAP)


# mirrors _shingles (window strategy ≡ groupBy df — semantics identical)
_DUCK_SH = f"""
WITH toks AS (
    SELECT doc_id, {_DUCK_T} AS t FROM documents
),
sh_all AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, len(t) - 1),
               i -> concat(t[i], ' ', t[i+1], ' ', t[i+2])))) AS s
    FROM toks
    WHERE len(t) >= 3
),
rare AS (
    SELECT s FROM sh_all GROUP BY s HAVING count(*) <= {MAX_SHINGLE_DF}
),
sh AS (SELECT sh_all.doc_id, sh_all.s FROM sh_all JOIN rare USING (s))
"""

ORACLE_DECONTAMINATE = f"""{_DUCK_SH}
SELECT t.doc_id,
       count(DISTINCT t.s) AS overlap_ct,
       count(DISTINCT h.doc_id) AS hold_docs
FROM sh t
JOIN sh h ON t.s = h.s
WHERE h.doc_id % {HOLDOUT_MOD} = 0 AND t.doc_id % {HOLDOUT_MOD} <> 0
GROUP BY t.doc_id
HAVING count(DISTINCT t.s) >= {DECONTAM_MIN_OVERLAP}
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-N salient terms by integer-scaled df-normalized
    term frequency (score = tf * SCALE DIV df — monotone in tf/df, the
    tf-idf ranking family with an exact cross-engine total order; true
    log-idf would rank by floats whose ties are engine-dependent).

    Plan: one shuffle for per-(doc, term) tf, one partial-aggregated
    shuffle for df, a shuffle join back, one window for top-N — each keyed
    on term or doc, never all-pairs.
    """
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df, "tok").withColumn(
        "score", F.expr(f"tf * {TFIDF_SCALE} DIV df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TFIDF_TOP_N)
        .select("doc_id", "tok", "tf", "df", "score", "rank")
    )


ORACLE_TFIDF_TOP_TERMS = f"""
WITH tok AS (
    SELECT doc_id, unnest({_DUCK_T}) AS tok FROM documents
),
tf AS (
    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
),
df AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
scored AS (
    SELECT tf.doc_id, tf.tok, tf.tf, df.df,
           tf.tf * {TFIDF_SCALE} // df.df AS score
    FROM tf JOIN df USING (tok)
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rank
    FROM scored
)
SELECT doc_id, tok, tf, df, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TFIDF_TOP_N}
"""


def keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax near-dup resolution: group documents by their
    64-bit SimHash fingerprint (hamming-0 near-dup classes) and keep the
    highest-quality member (longest text, doc_id as the total-order
    tiebreak) — the keep-best upgrade of exact_dedup's keep-smallest-id.

    One windowed shuffle over the fingerprint table; at 100 TB the
    fingerprint groupBy is the same shuffle the dedup itself needs.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    fp = simhash_fingerprints(spark, sf_dir)
    g = fp.join(docs, "doc_id")
    w = Window.partitionBy("simhash")
    wr = w.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        g.withColumn("rn", F.row_number().over(wr))
        .withColumn("group_ct", F.count(F.lit(1)).over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "simhash",
            F.col("n_chars").cast("long").alias("n_chars"),
            "group_ct",
        )
    )


ORACLE_KEEP_BEST = f"""
WITH fp AS ({ORACLE_SIMHASH}),
g AS (
    SELECT d.doc_id, fp.simhash, CAST(d.n_chars AS BIGINT) AS n_chars,
           row_number() OVER (
               PARTITION BY fp.simhash ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
           count(*) OVER (PARTITION BY fp.simhash) AS group_ct
    FROM fp JOIN documents d USING (doc_id)
)
SELECT doc_id, simhash, n_chars, CAST(group_ct AS BIGINT) AS group_ct
FROM g WHERE rn = 1
"""


MIX_SEED = "mix42:"
_HEX6 = 16 ** 6  # 6-hex-digit threshold space


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: downsample over-represented sources to a per-source
    token budget (half the mean source size — self-scaling, so every SF
    exercises both branches). Rates are computed in pure integer
    arithmetic (budget * 16^6 DIV source_tokens) and applied as the same
    md5-prefix hex threshold sample_stratified uses; sources within
    budget keep everything.

    Plan shape: per-source token totals are one bounded-key aggregation,
    the resulting rate table is tiny and broadcast back onto the corpus,
    and the sample itself is a narrow filter. Output is the per-source
    mixture summary (docs/tokens kept + the applied threshold) — the
    mixture report a data-recipe pipeline logs.
    """
    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", F.size(tokens_col("text")).cast("long").alias("n_tok")
    )
    src = sized.groupBy("source").agg(F.sum("n_tok").alias("tok_s"))
    tot = src.agg(
        F.sum("tok_s").alias("total"), F.count(F.lit(1)).alias("ns")
    )
    rates = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "tok_s",
        F.expr("(total DIV ns) DIV 2").alias("budget"),
        F.expr(
            f"CASE WHEN tok_s <= (total DIV ns) DIV 2 THEN 'zzzzzz' "
            f"ELSE format_string('%06x', least({_HEX6 - 1}, "
            f"((total DIV ns) DIV 2) * {_HEX6} DIV tok_s)) END"
        ).alias("thr"),
    )
    kept = (
        sized.join(F.broadcast(rates), "source")
        .filter(
            F.expr(
                f"substring(md5(concat('{MIX_SEED}', CAST(doc_id AS STRING))), 1, 6)"
            )
            < F.col("thr")
        )
    )
    return kept.groupBy("source").agg(
        F.first("thr").alias("thr"),
        F.first("tok_s").alias("source_tokens"),
        F.first("budget").alias("budget"),
        F.count(F.lit(1)).alias("docs_kept"),
        F.sum("n_tok").alias("tokens_kept"),
    )


ORACLE_MIXTURE_SAMPLE = f"""
WITH sized AS (
    SELECT doc_id, source, CAST(len({_DUCK_T}) AS BIGINT) AS n_tok FROM documents
),
src AS (SELECT source, sum(n_tok) AS tok_s FROM sized GROUP BY 1),
tot AS (SELECT sum(tok_s) AS total, count(*) AS ns FROM src),
rates AS (
    SELECT source, tok_s, (total // ns) // 2 AS budget,
           CASE WHEN tok_s <= (total // ns) // 2 THEN 'zzzzzz'
                ELSE printf('%06x', CAST(least({_HEX6 - 1},
                     ((total // ns) // 2) * {_HEX6} // tok_s) AS BIGINT)) END AS thr
    FROM src, tot
)
SELECT s.source,
       any_value(r.thr) AS thr,
       CAST(any_value(r.tok_s) AS BIGINT) AS source_tokens,
       CAST(any_value(r.budget) AS BIGINT) AS budget,
       CAST(count(*) AS BIGINT) AS docs_kept,
       CAST(sum(s.n_tok) AS BIGINT) AS tokens_kept
FROM sized s
JOIN rates r USING (source)
WHERE substring(md5('{MIX_SEED}' || CAST(s.doc_id AS VARCHAR)), 1, 6) < r.thr
GROUP BY s.source
"""


BIGRAM_TOP_N = 100


def bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram language-model counts: the global top-N word
    bigrams by frequency — the classic LM-counts job (and the frequency
    table a tokenizer-training or contamination-analysis pass starts
    from). One explode + one partial→final count; the global top-N plans
    as TakeOrderedAndProject (per-partition heaps), never a full sort.
    Total order: count desc, then the bigram string — ties cannot float."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(tokens_col("text").alias("t")).filter(F.size("t") >= 2)
    g = toks.select(
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))")
        ).alias("bigram")
    )
    return (
        g.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("ct"))
        .orderBy(F.desc("ct"), F.asc("bigram"))
        .limit(BIGRAM_TOP_N)
    )


ORACLE_BIGRAM_COUNTS = f"""
WITH toks AS (
    SELECT list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                       x -> x <> '') AS t
    FROM documents
),
g AS (
    SELECT unnest(list_transform(range(1, len(t)),
                                 i -> concat(t[i], ' ', t[i+1]))) AS bigram
    FROM toks WHERE len(t) >= 2
)
SELECT bigram, CAST(count(*) AS BIGINT) AS ct
FROM g
GROUP BY bigram
ORDER BY ct DESC, bigram ASC
LIMIT {BIGRAM_TOP_N}
"""


# keep iff bigram-repetition ratio (n2-d2)/n2 <= REP_NUM/REP_DEN — integer
# cross-multiplication, so the gate is bit-exact with no float compare
REP_NUM, REP_DEN = 3, 50


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-side end-to-end: MinHash near-dedup (greedy
    keep-smallest-id) → repetition quality gate → concat-and-chunk
    packing, as ONE declarative plan. This is the actual
    crawl-to-training-shards shape; hash-matching its composed oracle
    proves the stages compose without drift (id policy, tokenization,
    gate arithmetic, prefix-sum) — the curation twin of
    pipeline_e2e_hourly. Output: every surviving document with its chunk
    span."""
    from flink_gmall_spark.operators.dedup import minhash_lsh_pairs

    docs = load(spark, sf_dir, "documents")
    losers = (
        minhash_lsh_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = docs.join(losers, "doc_id", "left_anti")
    toks = kept.select("doc_id", "lang", tokens_col("text").alias("t")).filter(
        F.size("t") >= 2
    )
    g = toks.withColumn(
        "g2",
        F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))"),
    )
    gate = g.filter(
        (F.size("g2") - F.size(F.array_distinct("g2"))) * REP_DEN
        <= F.size("g2") * REP_NUM
    ).select("doc_id", "lang", F.size("t").cast("long").alias("n_tok"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return gate.withColumn("start_off", start).select(
        "doc_id",
        "lang",
        "n_tok",
        F.expr(f"start_off DIV {PACK_BUDGET}").alias("first_chunk"),
        F.expr(f"(start_off + n_tok - 1) DIV {PACK_BUDGET}").alias("last_chunk"),
    )


def _oracle_curation_pipeline() -> str:
    from flink_gmall_spark.operators.dedup import (
        _DUCK_SHINGLES,
        _DUCK_SIG_CTES,
        JACCARD_THRESHOLD,
    )

    return f"""{_DUCK_SHINGLES},
{_DUCK_SIG_CTES},
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
losers AS (
    SELECT DISTINCT c.doc_b AS doc_id
    FROM common c
    JOIN cand USING (doc_a, doc_b)
    JOIN sizes x ON c.doc_a = x.doc_id
    JOIN sizes y ON c.doc_b = y.doc_id
    WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= {JACCARD_THRESHOLD}
),
keptt AS (
    SELECT d.doc_id, d.lang, {_DUCK_T} AS t
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
),
qual AS (
    SELECT doc_id, lang, t,
           list_transform(range(1, len(t)), i -> concat(t[i], ' ', t[i+1])) AS g2
    FROM keptt
    WHERE len(t) >= 2
),
gate AS (
    SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tok
    FROM qual
    WHERE (len(g2) - len(list_distinct(g2))) * {REP_DEN} <= len(g2) * {REP_NUM}
),
off AS (
    SELECT doc_id, lang, n_tok,
           COALESCE(sum(n_tok) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
    FROM gate
)
SELECT doc_id, lang, n_tok,
       CAST(start_off // {PACK_BUDGET} AS BIGINT) AS first_chunk,
       CAST((start_off + n_tok - 1) // {PACK_BUDGET} AS BIGINT) AS last_chunk
FROM off
"""


ORACLE_CURATION_PIPELINE = _oracle_curation_pipeline()


DOMAIN_CAP = 40  # max docs kept per source domain


def domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the Common-Crawl-style guard against one
    domain dominating the training mix: keep at most DOMAIN_CAP docs per
    ``source``, selected by a deterministic priority (longest text first,
    doc_id tiebreak — a stand-in for a quality score).

    Scale shape: rank-within-group plans with Spark's WindowGroupLimit
    pushdown (plan-gated) — each map task keeps only its local top-K per
    source BEFORE the shuffle, so a billion-doc hot domain moves K rows
    per partition, not the domain. This is the property that makes the
    cap runnable at corpus scale where a naive window would funnel the
    whole hot domain through one reducer's sort.
    """
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DOMAIN_CAP)
        .select("doc_id", "source", "n_chars", F.col("rk").cast("long").alias("rk"))
    )


ORACLE_DOMAIN_CAP = f"""
SELECT doc_id, source, n_chars, CAST(rk AS BIGINT) AS rk
FROM (
    SELECT doc_id, source, n_chars,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id) AS rk
    FROM documents
)
WHERE rk <= {DOMAIN_CAP}
"""


BPE_TOP_N = 50


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training corpus statistics: the first BPE merge
    iteration — adjacent symbol-pair frequencies, weighted by word
    frequency, global top-N (Sennrich et al. 2016). The table a BPE
    trainer consults to pick its first merge.

    Scale shape: the pair explosion runs over the DISTINCT-WORD frequency
    table, not the corpus (the classic BPE trick) — at 100 TB the word
    dictionary is orders of magnitude smaller than the token stream, and
    it is produced by one partial-agg count. Top-N plans as
    TakeOrderedAndProject (per-partition heaps, no global sort). Total
    order: count desc, then pair text — ties cannot float.
    """
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens_col("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("ct"))
        .orderBy(F.desc("ct"), F.asc("pair"))
        .limit(BPE_TOP_N)
    )


ORACLE_BPE_PAIR_COUNTS = f"""
WITH words AS (
    SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest({_DUCK_T}) AS w FROM documents
    ) GROUP BY w HAVING len(w) >= 2
),
pairs AS (
    SELECT freq, concat(w[i], ' ', w[i + 1]) AS pair
    FROM words, UNNEST(range(1, len(w))) AS u(i)
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS ct
FROM pairs
GROUP BY pair
ORDER BY ct DESC, pair ASC
LIMIT {BPE_TOP_N}
"""


LM_SCALE = 1000  # integer-scaled mean: sum(ct) * SCALE DIV n — hash-exact


def lm_commonness_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM fluency proxy (the CCNet perplexity-filter shape, made
    integer-exact): score each document by the mean corpus frequency of
    its word bigrams — text whose n-grams are common in the corpus LM
    scores as fluent, gibberish scores low. A real perplexity filter
    swaps the count table for KenLM probabilities; the dataflow (corpus
    LM table ⋈ document n-grams → per-doc reduce) is identical.

    Scale shape (100 TB): the bigram count table comes from one
    partial-agg pass; scoring is an equi-join keyed on the bigram (the
    LM table is corpus-sized, so this stays a shuffle join — broadcast
    would not survive; AQE decides) followed by a per-doc reduce. The
    arithmetic is BIGINT end to end (sum * SCALE DIV n), so the DuckDB
    oracle hash-matches exactly — no float log-probs to diverge.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", tokens_col("text").alias("t")).filter(
        F.size("t") >= 2
    )
    g = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i+1]))")
        ).alias("bigram"),
    )
    counts = g.groupBy("bigram").agg(F.count(F.lit(1)).alias("ct"))
    return (
        g.join(counts, "bigram")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr(f"CAST(sum(ct) * {LM_SCALE} AS BIGINT) DIV count(1)").alias(
                "lm_score"
            ),
        )
    )


ORACLE_LM_COMMONNESS = f"""
WITH toks AS (
    SELECT doc_id, lang, {_DUCK_T} AS t FROM documents WHERE len({_DUCK_T}) >= 2
),
g AS (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(t)), i -> concat(t[i], ' ', t[i+1]))) AS bigram
    FROM toks
),
counts AS (SELECT bigram, CAST(count(*) AS BIGINT) AS ct FROM g GROUP BY bigram)
SELECT g.doc_id,
       any_value(g.lang) AS lang,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(c.ct) * {LM_SCALE} // count(*) AS BIGINT) AS lm_score
FROM g JOIN counts c USING (bigram)
GROUP BY g.doc_id
"""


# --- log-probability LM scoring (round 12) ------------------------------------
LM_LOG_SCALE = 1_000_000  # per-bigram log-prob floor-scale before the doc sum


def _lm_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, w1, bigram) per document bigram occurrence — a
    stateless explode, so it runs unchanged on a stream."""
    toks = docs.select("doc_id", "lang", tokens_col("text").alias("t"))
    return toks.filter(F.size("t") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS w1, concat(t[i], ' ', t[i+1]) AS bigram))"
            )
        ).alias("bg"),
    ).select("doc_id", "lang", "bg.w1", "bg.bigram")


def _lm_count_tables(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The corpus LM: (bigram, c12), (w1, c1v = c1 + V), and the 1-row
    vocabulary size — three keyed partial-agg passes over the TRAINING
    corpus. V folds into the history table BEFORE any join AND rides
    along as the 1-row table, because scoring must keep a fallback for
    histories the LM never saw."""
    g = _lm_bigrams(docs)
    c12 = g.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    vocab = (
        docs.select(F.explode(tokens_col("text")).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    c1v = (
        g.groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
        .crossJoin(F.broadcast(vocab))
        .select("w1", F.expr("CAST(c1 + v AS BIGINT)").alias("c1v"))
    )
    return c12, c1v, vocab


def lm_attach_counts(
    g: DataFrame, c12: DataFrame, c1v: DataFrame, vocab: DataFrame
) -> DataFrame:
    """(doc_id, lang, a_i, b_i): attach the smoothed-probability
    operands — a_i = c(w1 w2) + 1, b_i = c(w1 ·) + V, so p(w2|w1) =
    a_i / b_i and ln p = ln(a_i) - ln(b_i). LEFT joins (review r12): an
    UNSEEN bigram scores the add-one floor a_i = 1 and an unseen
    history falls back to b_i = V — inner joins would silently DROP the
    very rows a perplexity filter must penalize (invisible on the
    shipped fixtures, where the scored stream replays the training
    corpus and every bigram matches by construction). The vocabulary
    rides a constant-key broadcast equi-join (the DSIR weight-array
    idiom — streaming-legal where a cross join on the stream is not).
    Shared VERBATIM by the batch entry and the stream twin's ingest."""
    return (
        g.join(c12, "bigram", "left")
        .join(c1v, "w1", "left")
        .withColumn("one", F.lit(1))
        .join(F.broadcast(vocab.withColumn("one", F.lit(1))), "one")
        .select(
            "doc_id",
            "lang",
            F.expr("CAST(COALESCE(c12, 0) + 1 AS BIGINT)").alias("a_i"),
            F.expr("CAST(COALESCE(c1v, v) AS BIGINT)").alias("b_i"),
        )
    )


def lm_log_tables(docs: DataFrame) -> DataFrame:
    """Batch composition: LM trained on and scored over the same corpus
    (where the left joins never miss — batch results are unchanged)."""
    return lm_attach_counts(_lm_bigrams(docs), *_lm_count_tables(docs))


def lm_logprob_finish(terms: DataFrame) -> DataFrame:
    """Per-document fold of the smoothed bigram log-probabilities —
    the REAL perplexity-filter arithmetic lm_commonness_score's
    docstring defers to, integer-exact: ln(a_i) and ln(b_i) run the
    shared retrieval._ln_stages template (bit-identical doubles in both
    engines), each per-bigram ln p = ln_a - ln_b floor-scales by
    LM_LOG_SCALE to BIGINT (always ≤ 0: c12 + 1 ≤ c1 + V since every
    bigram occurrence is also a history occurrence and w2 is in the
    vocabulary), and the per-doc sum is an order-free integer. The mean
    divides magnitude-only (Spark DIV truncates toward zero, DuckDB //
    floors — identical only on non-negative operands). PPL of the doc
    is exp(-avg/1e6) if a consumer wants the exponentiated form.
    Shared VERBATIM by the batch entry and the streaming twin."""
    from flink_gmall_spark.operators.retrieval import _ln_stages

    for stage in _ln_stages("a_i", "a") + _ln_stages("b_i", "b"):
        for c, e in stage:
            terms = terms.withColumn(c, F.expr(e))
    scored = terms.withColumn(
        "lp_i",
        F.expr(
            f"CAST(floor((ln_a - ln_b) * CAST({LM_LOG_SCALE} AS DOUBLE))"
            " AS BIGINT)"
        ),
    )
    return scored.groupBy("doc_id").agg(
        F.first("lang").alias("lang"),
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("lp_i").cast("long").alias("sum_logp_x1e6"),
        F.expr("-(abs(sum(lp_i)) DIV count(1))")
        .cast("long")
        .alias("avg_logp_x1e6"),
    )


def lm_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram log-probability per document — the CCNet
    perplexity-filter shape with actual log-probabilities (corpus LM
    table ⋈ document n-grams → per-doc reduce), hash-exact end to end."""
    # NO spread_small_scan — measured at sf0.1 (r16, interleaved):
    # 1.93 s spread vs 1.59 s unspread; the bigram fold is too cheap to
    # amortize an injected repartition of the docs scan.
    docs = load(spark, sf_dir, "documents")
    return lm_logprob_finish(lm_log_tables(docs))


def _oracle_lm_logprob() -> str:
    from flink_gmall_spark.operators.retrieval import _ln_stages

    ctes, prev = [], "lmterms"
    for i, stage in enumerate(_ln_stages("a_i", "a") + _ln_stages("b_i", "b")):
        cols = ", ".join(f"{e} AS {c}" for c, e in stage)
        ctes.append(f"lml{i} AS (\n    SELECT *, {cols} FROM {prev}\n)")
        prev = f"lml{i}"
    chain = ",\n".join(ctes)
    return f"""
WITH lmtoks AS (
    SELECT doc_id, lang, {_DUCK_T} AS t FROM documents
),
lmg AS (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
           unnest(list_transform(range(1, len(t)),
                                 i -> concat(t[i], ' ', t[i+1]))) AS bigram
    FROM lmtoks WHERE len(t) >= 2
),
lmc12 AS (
    SELECT bigram, CAST(count(*) AS BIGINT) AS c12 FROM lmg GROUP BY 1
),
lmv AS (
    SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM (
        SELECT unnest({_DUCK_T}) AS w FROM documents
    )
),
lmc1v AS (
    SELECT w1, CAST(c1 + v AS BIGINT) AS c1v FROM (
        SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM lmg GROUP BY 1
    ) CROSS JOIN lmv
),
lmterms AS (
    SELECT g.doc_id, g.lang,
           CAST(COALESCE(c.c12, 0) + 1 AS BIGINT) AS a_i,
           CAST(COALESCE(h.c1v, lmv.v) AS BIGINT) AS b_i
    FROM lmg g
    LEFT JOIN lmc12 c ON c.bigram = g.bigram
    LEFT JOIN lmc1v h ON h.w1 = g.w1
    CROSS JOIN lmv
),
{chain},
lmscored AS (
    SELECT doc_id, lang,
           CAST(floor((ln_a - ln_b) * CAST({LM_LOG_SCALE} AS DOUBLE))
                AS BIGINT) AS lp_i
    FROM {prev}
)
SELECT doc_id,
       any_value(lang) AS lang,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(lp_i) AS BIGINT) AS sum_logp_x1e6,
       CAST(-(abs(sum(lp_i)) // count(*)) AS BIGINT) AS avg_logp_x1e6
FROM lmscored
GROUP BY doc_id
"""


ORACLE_LM_LOGPROB = _oracle_lm_logprob()


BPE_TRAIN_MERGES = 5


def _bpe_merge_expr(a: str, b: str) -> str:
    """Greedy left-to-right BPE merge of adjacent (a, b) over the
    space-joined symbol string ``s`` — a string-accumulator fold, the
    exact same lambda the DuckDB oracle runs through list_reduce.
    ``a``/``b`` interpolate into the expression, which is why the trainer
    restricts the dictionary to /^[a-z]+$/ words (no quoting hazards)."""
    merged = a + b
    return f"""
aggregate(
  slice(split(s, ' '), 2, size(split(s, ' ')) - 1),
  element_at(split(s, ' '), 1),
  (acc, x) -> CASE
    WHEN element_at(split(acc, ' '), -1) = '{a}' AND x = '{b}'
    THEN CASE WHEN length(acc) > length('{a}')
              THEN concat(substring(acc, 1, length(acc) - length('{a}') - 1), ' ', '{merged}')
              ELSE '{merged}' END
    ELSE concat(acc, ' ', x) END
)
"""


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full iterative BPE trainer (Sennrich et al. 2016), not just the
    first merge: ``BPE_TRAIN_MERGES`` rounds of (count adjacent symbol
    pairs weighted by word frequency → pick the argmax → apply the merge
    greedily left-to-right in every word), returning the learned merge
    table (rank, pair, ct) — the artifact a tokenizer ships.

    Scale shape (100 TB): every round runs over the DISTINCT-WORD
    frequency table (one partial-agg pass over the corpus produces it;
    the rounds never touch the corpus again — the classic BPE trick).
    Per round: one pair explosion + partial-agg count, one
    TakeOrderedAndProject(1) argmax whose single row is the ONLY thing
    collected (bounded driver step, same pattern as the k-means centroid
    loop), and one narrow fold-rewrite of the symbol strings. The
    dictionary is persisted and re-materialized each round so plan depth
    stays O(1), not O(rounds). Dictionary restricted to lowercase-ascii
    words ≥2 chars — classic BPE pre-clean, and it keeps the interpolated
    merge symbols quoting-safe.
    """
    docs = load(spark, sf_dir, "documents")
    cur = _bpe_dictionary(docs).select(
        "freq", F.array_join(F.split("w", ""), " ").alias("s")
    ).persist()
    merges: list[tuple[int, str, int]] = []
    try:
        for rank in range(1, BPE_TRAIN_MERGES + 1):
            # NB: guard the single-symbol case — Spark's sequence(1, 0)
            # steps DOWN ([1, 0]), unlike DuckDB's empty range(1, 1), so a
            # fully-merged word would explode with out-of-bounds indices
            pairs = cur.select(
                "freq",
                F.explode(
                    F.expr(
                        "CASE WHEN size(split(s, ' ')) < 2 THEN array()"
                        " ELSE transform(sequence(1, size(split(s, ' ')) - 1),"
                        " i -> concat(element_at(split(s, ' '), i), ' ',"
                        " element_at(split(s, ' '), i + 1))) END"
                    )
                ).alias("pair"),
            )
            best = (
                pairs.groupBy("pair")
                .agg(F.sum("freq").alias("ct"))
                .orderBy(F.desc("ct"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            pair, ct = best[0]["pair"], int(best[0]["ct"])
            merges.append((rank, pair, ct))
            a, b = pair.split(" ")
            nxt = cur.select("freq", F.expr(_bpe_merge_expr(a, b)).alias("s")).persist()
            nxt.count()  # materialize before dropping the parent cache
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("rank", T.LongType()),
            T.StructField("pair", T.StringType()),
            T.StructField("ct", T.LongType()),
        ]
    )
    return spark.createDataFrame(merges, schema)


def _bpe_stage_ctes() -> list[str]:
    """The unrolled BPE training rounds as CTE stages (w0..wN, p/b per
    round); shared by the trainer oracle (reads b1..bN) and the encoder
    oracle (reads the final symbolized dictionary wN).

    Each w{k} takes its best-pair via LEFT JOIN ON TRUE with a NULL
    guard, NOT a plain cross join: when training dries up before
    BPE_TRAIN_MERGES rounds (every word fully merged), b{k} is EMPTY, and
    a cross join would empty w{k} and every later stage — the encoder
    oracle would return zero rows while the Spark twin (which simply
    breaks out of its loop) returns the symbolized dictionary. With the
    guard, an empty b{k} passes w{k-1} through unchanged, matching the
    loop-break semantics exactly. (Caught by review; regression-pinned in
    tests/test_round5b_ops.py on a corpus that dries up at round 4.)"""
    stages = [
        f"""w0 AS (
    SELECT freq, array_to_string(string_split(w, ''), ' ') AS s FROM (
        SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT unnest({_DUCK_T}) AS w FROM documents
        ) WHERE regexp_full_match(w, '[a-z]+') AND len(w) >= 2 GROUP BY w
    )
)"""
    ]
    for k in range(1, BPE_TRAIN_MERGES + 1):
        stages.append(
            f"""p{k} AS (
    SELECT concat(t[i], ' ', t[i+1]) AS pair, CAST(sum(freq) AS BIGINT) AS ct
    FROM (SELECT freq, string_split(s, ' ') AS t FROM w{k - 1}),
         UNNEST(range(1, len(t))) AS u(i)
    GROUP BY 1
),
b{k} AS (
    SELECT pair, string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b, ct
    FROM p{k} ORDER BY ct DESC, pair ASC LIMIT 1
),
w{k} AS (
    SELECT freq,
           CASE WHEN b{k}.a IS NULL THEN s
                ELSE list_reduce(string_split(s, ' '), (acc, x) ->
        CASE WHEN string_split(acc, ' ')[-1] = b{k}.a AND x = b{k}.b
             THEN CASE WHEN length(acc) > length(b{k}.a)
                       THEN concat(substring(acc, 1, length(acc) - length(b{k}.a) - 1),
                                   ' ', b{k}.a || b{k}.b)
                       ELSE b{k}.a || b{k}.b END
             ELSE concat(acc, ' ', x) END) END AS s
    FROM w{k - 1} LEFT JOIN b{k} ON TRUE
)"""
        )
    return stages


def _oracle_bpe_train() -> str:
    """Unroll BPE_TRAIN_MERGES rounds as CTE stages; each stage's lambda
    captures the joined best-pair row — the same greedy fold."""
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS rank, pair, ct FROM b{k}"
        for k in range(1, BPE_TRAIN_MERGES + 1)
    )
    return "WITH " + ",\n".join(_bpe_stage_ctes()) + "\n" + finals


ORACLE_BPE_TRAIN = _oracle_bpe_train()


KEEP_NUM, KEEP_DEN = 7, 10  # keep the top 70% per language


def adaptive_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style PER-LANGUAGE adaptive quality filtering: keep each
    language's top 70% of documents by stopword-density score — the
    cutoff adapts to every language's own score distribution instead of
    one global threshold (exactly why CCNet buckets perplexity per
    language). Exact top-⌊0.7·n⌋ with (score desc, doc_id asc) total
    order.

    Scale shape — the histogram-quantile plan, NOT a per-language global
    sort: the score domain is bounded (integer x1000 ratio, ≤1001 values),
    so the cutoff comes from a partial-agg histogram of ≤1001 rows per
    language; whole score-groups above the boundary join back by a
    broadcast keep-set, and ONLY the boundary score-group (the single
    score straddling the quota) pays a per-doc rank. At 100 TB the
    alternative — row_number over every (lang) partition — sorts the
    whole corpus per language; this plan sorts ≤1001-row histograms plus
    one score-group. The oracle IS that naive window form, proving the
    two agree."""
    from flink_gmall_spark.operators.textstats import STOPWORDS

    docs = load(spark, sf_dir, "documents")
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    scored = docs.select(
        "doc_id",
        "lang",
        tokens_col("text").alias("t"),
    ).select(
        "doc_id",
        "lang",
        F.expr(
            f"CASE WHEN size(t) = 0 THEN 0 ELSE"
            f" (1000 * size(filter(t, x -> array_contains(array({stop_arr}), x))))"
            f" DIV size(t) END"
        )
        .cast("long")
        .alias("score"),
    )
    hist = scored.groupBy("lang", "score").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        hist.withColumn("cum", F.sum("c").over(wcum))
        .withColumn("n", F.sum("c").over(Window.partitionBy("lang")))
        .withColumn("quota", F.expr(f"({KEEP_NUM} * n) DIV {KEEP_DEN}"))
    )
    full_scores = cum.filter(F.col("cum") <= F.col("quota")).select("lang", "score")
    bounds = cum.filter(
        (F.col("cum") > F.col("quota")) & (F.col("cum") - F.col("c") < F.col("quota"))
    ).select(
        F.col("lang").alias("blang"),
        F.col("score").alias("bscore"),
        (F.col("quota") - (F.col("cum") - F.col("c"))).alias("take"),
    )
    kept_full = scored.join(F.broadcast(full_scores), ["lang", "score"])
    boundary = scored.join(
        F.broadcast(bounds),
        (F.col("lang") == F.col("blang")) & (F.col("score") == F.col("bscore")),
    ).select("doc_id", "lang", "score", "take")
    wb = Window.partitionBy("lang").orderBy(F.asc("doc_id"))
    kept_boundary = (
        boundary.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") <= F.col("take"))
        .select("doc_id", "lang", "score")
    )
    return kept_full.select("doc_id", "lang", "score").unionByName(kept_boundary)


def _oracle_adaptive_quality() -> str:
    from flink_gmall_spark.operators.textstats import STOPWORDS

    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH scored AS (
    SELECT doc_id, lang,
           CASE WHEN len(t) = 0 THEN 0
                ELSE (1000 * len(list_filter(t, x -> list_contains([{stop_list}], x))))
                     // len(t) END AS score
    FROM (SELECT doc_id, lang, {_DUCK_T} AS t FROM documents)
),
ranked AS (
    SELECT doc_id, lang, CAST(score AS BIGINT) AS score,
           row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC) AS rk,
           count(*) OVER (PARTITION BY lang) AS n
    FROM scored
)
SELECT doc_id, lang, score
FROM ranked
WHERE rk <= ({KEEP_NUM} * n) // {KEEP_DEN}
"""


ORACLE_ADAPTIVE_QUALITY = _oracle_adaptive_quality()


COLLOC_MIN_CT = 5  # minimum bigram support before lift is meaningful
COLLOC_TOP_N = 50
COLLOC_SCALE = 1000


def collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — the PMI-shape phrase detector (Mikolov et al.
    2013's phrase pass; Manning & Schütze ch. 5) made integer-exact:
    score each corpus bigram by LIFT, observed co-occurrence over the
    independence expectation, lift = P(ab) / (P(a) * P(b)) =
    c_ab * N / (c_a * c_b), integer-scaled x1000 with DIV so both
    engines agree bit-for-bit (log-PMI ranks identically; the log is
    monotone). High-lift bigrams are the multi-word expressions a
    tokenizer or phrase-merger should treat as units.

    Scale shape (100 TB): two partial-agg passes build the unigram and
    bigram count tables (map-side combine absorbs hot tokens); scoring is
    two shuffle equi-joins keyed on the token (vocab-sized sides — NOT
    broadcast, AQE decides); the corpus token total is a 1-row broadcast.
    Top-N plans as TakeOrderedAndProject. Support floor COLLOC_MIN_CT
    prunes the long tail before the joins.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(tokens_col("text").alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    total = uni.agg(F.sum("cw").alias("n_total"))
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(0, size(t) - 2), i -> struct(t[i] AS a, t[i+1] AS b))")
            ).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= COLLOC_MIN_CT)
    )
    ca = uni.select(F.col("w").alias("a"), F.col("cw").alias("ca"))
    cb = uni.select(F.col("w").alias("b"), F.col("cw").alias("cb"))
    scored = (
        bi.join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(total))
        .select(
            F.concat_ws(" ", "a", "b").alias("pair"),
            F.col("cab").alias("ct"),
            F.expr(f"({COLLOC_SCALE} * cab * n_total) DIV (ca * cb)")
            .cast("long")
            .alias("lift_x1000"),
        )
    )
    return scored.orderBy(F.desc("lift_x1000"), F.asc("pair")).limit(COLLOC_TOP_N)


ORACLE_COLLOCATIONS_LIFT = f"""
WITH toks AS (
    SELECT {_DUCK_T} AS t FROM documents
),
uni AS (
    SELECT w, CAST(count(*) AS BIGINT) AS cw FROM (
        SELECT unnest(t) AS w FROM toks
    ) GROUP BY w
),
total AS (SELECT CAST(sum(cw) AS BIGINT) AS n_total FROM uni),
bi AS (
    SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM (
        SELECT t[i] AS a, t[i+1] AS b
        FROM toks, UNNEST(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2
    ) GROUP BY a, b
    HAVING count(*) >= {COLLOC_MIN_CT}
)
SELECT concat(a, ' ', b) AS pair, cab AS ct,
       CAST(({COLLOC_SCALE} * cab * n_total) // (ca.cw * cb.cw) AS BIGINT) AS lift_x1000
FROM bi
JOIN uni ca ON bi.a = ca.w
JOIN uni cb ON bi.b = cb.w
CROSS JOIN total
ORDER BY lift_x1000 DESC, pair ASC
LIMIT {COLLOC_TOP_N}
"""


def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE SERVE side — apply the TRAINED merge table to the corpus
    dictionary and report the resulting symbol vocabulary with usage
    counts (per symbol: corpus frequency and distinct words containing
    it). Train→serve twin of ``bpe_train_merges``, the same relationship
    ``sim_ivf_topk_trained`` has to ``kmeans_assign``: a tokenizer is
    trained once and then applied everywhere, and this entry exercises
    the apply path end to end against an oracle that unrolls the SAME
    training rounds.

    Scale shape (100 TB): training's argmax rows (the merge table,
    BPE_TRAIN_MERGES rows) are the ONLY driver-side data; encoding then
    re-applies each merge as a narrow per-row fold over the DISTINCT-WORD
    dictionary — never the token stream — and the symbol usage table is
    one partial-agg pass. Applying the dictionary back to a corpus is a
    broadcast/shuffle equi-join on the word, not recomputation. Plan
    depth grows with merge count; a production encoder with thousands of
    merges runs the fold inside one expression per word (or checkpoints
    every ~50 rounds) — at 5 unrolled rounds the declarative chain is the
    clearer plan.
    """
    docs = load(spark, sf_dir, "documents")
    sym = _bpe_symbolized_dictionary(spark, sf_dir, docs).select(
        "w", "freq", F.explode(F.split("s", " ")).alias("symbol")
    )
    return sym.groupBy("symbol").agg(
        F.sum("freq").alias("ct"), F.countDistinct("w").alias("n_words")
    )


def _word_occurrences(docs: DataFrame) -> DataFrame:
    """Per-OCCURRENCE word rows in the trainer's domain (lowercase-
    ascii, >= 2 chars) — the stateless pre-aggregation half of
    _bpe_dictionary, factored out so it runs unchanged on a STREAMING
    DataFrame (the raw_shingles discipline; the streaming encode twin
    explodes arriving docs through this exact definition)."""
    return docs.select(F.explode(tokens_col("text")).alias("w")).filter(
        F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2)
    )


def _bpe_dictionary(docs: DataFrame) -> DataFrame:
    """The trainer's dictionary domain — lowercase-ascii words >= 2 chars
    with corpus frequency. Single definition shared by the trainer,
    encoder, and token-budget entries so the domain cannot
    desynchronize between the train and serve twins."""
    return _word_occurrences(docs).groupBy("w").agg(
        F.count(F.lit(1)).alias("freq")
    )


def _bpe_symbolized_dictionary(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """(w, freq, s): the dictionary with every trained merge applied —
    the shared serve-side artifact. Trains (the merge table's
    BPE_TRAIN_MERGES rows are the only driver-side data), then applies
    each merge as the same narrow fold over distinct words."""
    merges = [
        r["pair"] for r in bpe_train_merges(spark, sf_dir).orderBy("rank").collect()
    ]
    cur = _bpe_dictionary(docs).select(
        "w", "freq", F.array_join(F.split("w", ""), " ").alias("s")
    )
    for pair in merges:
        a, b = pair.split(" ")
        cur = cur.select("w", "freq", F.expr(_bpe_merge_expr(a, b)).alias("s"))
    return cur


ORACLE_BPE_ENCODE = (
    "WITH "
    + ",\n".join(_bpe_stage_ctes())
    + f"""
SELECT symbol, CAST(sum(freq) AS BIGINT) AS ct,
       CAST(count(DISTINCT w) AS BIGINT) AS n_words
FROM (SELECT replace(s, ' ', '') AS w, freq,
             unnest(string_split(s, ' ')) AS symbol
      FROM w{BPE_TRAIN_MERGES})
GROUP BY symbol
"""
)


def multimodal_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-MODAL curation pipeline — the text table joined to its
    vector table, the core layout of a multimodal data lake: (1) the
    rule-based quality gate runs on ``documents`` (same keep rule as
    text_quality_scores), (2) survivors join to ``embeddings`` on
    doc_id = vec_id (left-semi — the embedding store is only probed for
    docs that passed), (3) SemDeDup-style semantic dedup runs on the
    surviving vectors only (global first-K codebook buckets; pairs only
    within a cell). Output: the per-cell curation ledger (docs in, dups
    dropped, docs out) a pipeline run would log.

    Scale shape (100 TB): the quality gate is map-only on the text side;
    the cross-modal hop is an equi-join on the id (both tables id-bucketed
    in production → zero-shuffle); semantic dedup inherits
    sim_semantic_dedup's audited cluster-bounded pair join — filtering
    FIRST shrinks the pair join's input, which is the right composition
    order (cheap filters before quadratic-ish candidates).
    """
    from flink_gmall_spark.operators.ann import (
        SEMDEDUP_K,
        SEMDEDUP_THRESHOLD,
        _DOT,
        _SQDIST,
        _with_norm,
    )
    from flink_gmall_spark.operators.textstats import (
        MAX_TOKENS,
        MIN_TOKENS,
        STOPWORDS,
    )

    docs = load(spark, sf_dir, "documents")
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    q = docs.select("doc_id", tokens_col("text").alias("t")).select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.expr(f"size(filter(t, x -> array_contains(array({stop_arr}), x)))")
        .cast("long")
        .alias("stop_ct"),
    )
    kept = q.filter(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("n_tokens") <= MAX_TOKENS)
        & (F.col("stop_ct") >= 1)
    ).select(F.col("doc_id").alias("vec_id"))
    e0 = _with_norm(load(spark, sf_dir, "embeddings"))
    e = e0.join(kept, "vec_id", "left_semi")
    cent = e0.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    d = e.join(F.broadcast(cent), how="cross").withColumn(
        "dist", F.expr(_SQDIST.format(a="v", b="cv"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cid"))
    asg = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "nrm", "cid")
    )
    a = asg.select("cid", F.col("vec_id").alias("dup_id"), F.col("v").alias("av"), F.col("nrm").alias("an"))
    b = asg.select("cid", F.col("vec_id").alias("keep_cand"), F.col("v").alias("bv"), F.col("nrm").alias("bn"))
    dups = (
        a.join(b, "cid")
        .filter(F.col("keep_cand") < F.col("dup_id"))
        .withColumn("cos", F.expr(_DOT.format(a="av", b="bv")) / (F.col("an") * F.col("bn")))
        .filter(F.col("cos") >= SEMDEDUP_THRESHOLD)
        .select("cid", "dup_id")
        .distinct()
    )
    n_docs = asg.groupBy("cid").agg(F.count(F.lit(1)).alias("n_docs"))
    n_drop = dups.groupBy("cid").agg(F.count(F.lit(1)).alias("n_dropped"))
    return (
        n_docs.join(n_drop, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cid"),
            "n_docs",
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_docs") - F.coalesce("n_dropped", F.lit(0))).alias("n_final"),
        )
    )


def _oracle_multimodal_pipeline() -> str:
    from flink_gmall_spark.operators.ann import (
        SEMDEDUP_K,
        SEMDEDUP_THRESHOLD,
        _DUCK_DOT,
        _DUCK_NORM,
        _DUCK_SQDIST,
    )
    from flink_gmall_spark.operators.textstats import (
        MAX_TOKENS,
        MIN_TOKENS,
        STOPWORDS,
    )

    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH t AS (SELECT doc_id, {_DUCK_T} AS t FROM documents),
q AS (
    SELECT doc_id FROM t
    WHERE len(t) BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
      AND len(list_filter(t, x -> list_contains([{stops}], x))) >= 1
),
e0 AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           {_DUCK_NORM.format(v='embedding::DOUBLE[]')} AS nrm
    FROM embeddings
),
e AS (SELECT e0.* FROM e0 JOIN q ON e0.vec_id = q.doc_id),
c AS (SELECT vec_id AS cid, v AS cv FROM e0 WHERE vec_id < {SEMDEDUP_K}),
asg AS (
    SELECT vec_id, v, nrm, cid FROM (
        SELECT e.vec_id, e.v, e.nrm, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_DUCK_SQDIST.format(a='e.v', b='c.cv')} ASC, c.cid ASC) AS rn
        FROM e CROSS JOIN c
    ) WHERE rn = 1
),
dups AS (
    SELECT DISTINCT a.cid, a.vec_id AS dup_id
    FROM asg a JOIN asg b ON a.cid = b.cid AND b.vec_id < a.vec_id
    WHERE {_DUCK_DOT.format(a='a.v', b='b.v')} / (a.nrm * b.nrm) >= {SEMDEDUP_THRESHOLD}
),
g AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_docs FROM asg GROUP BY cid),
dr AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_dropped FROM dups GROUP BY cid)
SELECT CAST(g.cid AS BIGINT) AS cid, g.n_docs,
       COALESCE(dr.n_dropped, 0) AS n_dropped,
       g.n_docs - COALESCE(dr.n_dropped, 0) AS n_final
FROM g LEFT JOIN dr ON g.cid = dr.cid
"""


ORACLE_MULTIMODAL_PIPELINE = _oracle_multimodal_pipeline()


def bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting under the TRAINED tokenizer — the most
    common measurement an LLM data pipeline runs (how many tokens does
    each document contribute at training time?): the corpus joins to the
    symbolized dictionary (word → symbol count after all learned merges)
    and reduces per document. Completes the BPE serve path the encode
    docstring promises: dictionary once, corpus by equi-join.

    Scale shape (100 TB): the symbolized dictionary is vocabulary-sized;
    the corpus word stream joins it on the word (broadcast while the
    vocab fits, AQE decides) and partial-aggregates per doc — no
    per-document re-tokenization, no Python. Words outside the trainer's
    dictionary domain (non-/^[a-z]+$/, len<2) count 1 symbol each — the
    byte/char fallback tier every production tokenizer has.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("w"))
    dict_syms = _bpe_symbolized_dictionary(spark, sf_dir, docs).select(
        "w", F.size(F.split("s", " ")).cast("long").alias("n_sym")
    )
    counted = toks.join(dict_syms, "w", "left").select(
        "doc_id",
        F.coalesce("n_sym", F.lit(1)).alias("n_sym"),  # OOV fallback tier
    )
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_sym").alias("n_bpe_tokens"),
    )


# The stage CTEs carry only (freq, s); the word key is recovered from the
# symbolization itself — merges never reorder or drop characters, so
# replace(s, ' ', '') IS the original word.
ORACLE_BPE_TOKEN_BUDGET = (
    "WITH "
    + ",\n".join(_bpe_stage_ctes())
    + f""",
dict_syms AS (
    SELECT replace(s, ' ', '') AS w,
           CAST(len(string_split(s, ' ')) AS BIGINT) AS n_sym
    FROM w{BPE_TRAIN_MERGES}
),
toks AS (SELECT doc_id, unnest({_DUCK_T}) AS w FROM documents)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(COALESCE(n_sym, 1)) AS BIGINT) AS n_bpe_tokens
FROM toks LEFT JOIN dict_syms USING (w)
GROUP BY doc_id
"""
)


GREEDY_MAX_WORD_LEN = 16  # oracle unroll bound; fixture dict max is 8


def greedy_token_count(w: str, vset: set, max_tok: int) -> int:
    """Longest-match-first token count of `w` against vocab `vset`, with
    single-character byte fallback when no multi-char token matches at a
    position (equivalent to the oracle's COALESCE(max(len(tok)), 1):
    a 1-char vocab match and the fallback both advance by exactly 1)."""
    pos, n = 0, 0
    while pos < len(w):
        step = 1  # single-char byte fallback
        for ln in range(min(max_tok, len(w) - pos), 1, -1):
            if w[pos : pos + ln] in vset:
                step = ln
                break
        pos += step
        n += 1
    return n


def bpe_greedy_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER SERVE-TIME DRIFT LEDGER — greedy longest-match-first
    segmentation (how WordPiece and several fast "BPE" implementations
    actually segment at inference) against the canonical merge-order BPE
    encode, over the SAME trained vocabulary. The two disagree on real
    words: greedy grabs the longest vocab token at each position while
    BPE replays merge ranks, so a served corpus can silently tokenize
    differently from the training corpus — this ledger is the audit a
    tokenizer rollout runs. Greedy uses single-character byte-fallback
    when no vocab token matches at a position (a char merged away in
    every training context is absent from the final vocab).

    One summary row: dictionary size, total dict/corpus token counts
    under both schemes, and how many words segment equal/shorter/longer
    under greedy. Oracle parity makes the drift EXACT, not sampled.

    Scale shape (100 TB): both encoders run over the bounded DISTINCT-
    WORD dictionary (one partial-agg corpus pass produces it — the BPE-
    family trick); the greedy matcher is an Arrow-batched pandas UDF
    with the trained vocab (chars + BPE_TRAIN_MERGES merges, driver-
    bounded by construction) captured — per-word iterative matching is
    the textbook case built-ins cannot express; corpus-weighted totals
    ride the dictionary's freq column, never the token stream. WORD
    ROWS longer than GREEDY_MAX_WORD_LEN are excluded on BOTH sides
    (the oracle unrolls that many advance stages; fixture max is 8),
    but the VOCAB is built from the FULL symbolized dictionary on both
    sides — a long word can contribute a merged token that shorter
    words then match, so filtering vocab construction too would
    desynchronize the engines. The symbolized dictionary is persisted
    across its two consumers (the vocab collect and the drift agg) and
    dropped after the eager one-row materialization.
    """
    docs = load(spark, sf_dir, "documents")
    sym_full = _bpe_symbolized_dictionary(spark, sf_dir, docs).persist()
    vset = {
        s
        for (s,) in sym_full.select(F.explode(F.split("s", " ")).alias("t"))
        .distinct()
        .collect()
    }
    out = _greedy_drift_agg(sym_full, vset).localCheckpoint(eager=True)
    sym_full.unpersist()
    return out


def _greedy_drift_agg(sym_full: DataFrame, vset: set) -> DataFrame:
    """The lazy drift plan: word-row length filter → one Arrow-batched
    MapInPandas greedy pass (full-dictionary vocab captured) → single
    global agg. Factored so the plan gate can assert the no-join /
    MapInPandas shape that the public wrapper's eager checkpoint hides."""
    max_tok = max((len(t) for t in vset), default=1)

    def add_greedy(batches):
        for pdf in batches:
            yield pdf.assign(
                greedy_n=[greedy_token_count(w, vset, max_tok) for w in pdf["w"]]
            )

    per_word = (
        sym_full.filter(F.length("w") <= GREEDY_MAX_WORD_LEN)
        .select(
            "w",
            "freq",
            F.size(F.split("s", " ")).cast("long").alias("bpe_n"),
        )
        .mapInPandas(add_greedy, "w string, freq long, bpe_n long, greedy_n long")
    )
    return per_word.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("bpe_n").cast("long").alias("bpe_dict_tokens"),
        F.sum("greedy_n").cast("long").alias("greedy_dict_tokens"),
        F.sum(F.col("freq") * F.col("bpe_n")).cast("long").alias("bpe_corpus_tokens"),
        F.sum(F.col("freq") * F.col("greedy_n"))
        .cast("long")
        .alias("greedy_corpus_tokens"),
        F.sum(F.when(F.col("greedy_n") == F.col("bpe_n"), 1).otherwise(0))
        .cast("long")
        .alias("n_equal"),
        F.sum(F.when(F.col("greedy_n") < F.col("bpe_n"), 1).otherwise(0))
        .cast("long")
        .alias("n_greedy_shorter"),
        F.sum(F.when(F.col("greedy_n") > F.col("bpe_n"), 1).otherwise(0))
        .cast("long")
        .alias("n_greedy_longer"),
    )


def _oracle_greedy_stages() -> str:
    """Unrolled greedy longest-match advance stages over the symbolized
    dictionary (w{BPE_TRAIN_MERGES} from the shared BPE CTEs): r0 seeds
    (word, pos=1, n=0); each stage advances undone rows by the LONGEST
    vocab token matching at pos (LEFT JOIN + max(len), single-char
    fallback via COALESCE), exactly the pandas matcher's rule."""
    parts = [
        f"""vocab AS MATERIALIZED (
    SELECT DISTINCT unnest(string_split(s, ' ')) AS tok FROM w{BPE_TRAIN_MERGES}
),
r0 AS MATERIALIZED (
    SELECT replace(s, ' ', '') AS w, freq,
           CAST(len(string_split(s, ' ')) AS BIGINT) AS bpe_n,
           1 AS pos, CAST(0 AS BIGINT) AS n
    FROM w{BPE_TRAIN_MERGES}
    WHERE len(replace(s, ' ', '')) <= {GREEDY_MAX_WORD_LEN}
)"""
    ]
    for k in range(1, GREEDY_MAX_WORD_LEN + 1):
        parts.append(
            f"""r{k} AS MATERIALIZED (
    SELECT w, freq, bpe_n,
           CASE WHEN pos > len(w) THEN pos ELSE pos + adv END AS pos,
           CASE WHEN pos > len(w) THEN n ELSE n + 1 END AS n
    FROM (
        SELECT r.w, r.freq, r.bpe_n, r.pos, r.n,
               COALESCE(max(CASE WHEN v.tok = substr(r.w, r.pos, len(v.tok))
                                 THEN len(v.tok) END), 1) AS adv
        FROM r{k - 1} r LEFT JOIN vocab v
          ON v.tok = substr(r.w, r.pos, len(v.tok))
        GROUP BY r.w, r.freq, r.bpe_n, r.pos, r.n
    )
)"""
        )
    return ",\n".join(parts)


ORACLE_BPE_GREEDY_DRIFT = (
    "WITH "
    + ",\n".join(_bpe_stage_ctes())
    + ",\n"
    + _oracle_greedy_stages()
    + f"""
SELECT CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(bpe_n) AS BIGINT) AS bpe_dict_tokens,
       CAST(sum(n) AS BIGINT) AS greedy_dict_tokens,
       CAST(sum(freq * bpe_n) AS BIGINT) AS bpe_corpus_tokens,
       CAST(sum(freq * n) AS BIGINT) AS greedy_corpus_tokens,
       CAST(sum(CASE WHEN n = bpe_n THEN 1 ELSE 0 END) AS BIGINT) AS n_equal,
       CAST(sum(CASE WHEN n < bpe_n THEN 1 ELSE 0 END) AS BIGINT) AS n_greedy_shorter,
       CAST(sum(CASE WHEN n > bpe_n THEN 1 ELSE 0 END) AS BIGINT) AS n_greedy_longer
FROM r{GREEDY_MAX_WORD_LEN}
"""
)


# Deterministic 3-way split thresholds on the 6-hex md5 prefix:
# [0, VAL) = val, [VAL, TEST) = test, [TEST, fff...] = train.
SPLIT_SEED = "split42:"
SPLIT_VAL_HEX = "0ccccc"  # 5%
SPLIT_TEST_HEX = "19999a"  # next 5%


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment — the canonical ML-data
    split, done the only way that survives a distributed, re-run,
    re-partitioned world: a seeded md5-prefix threshold on the stable key
    (doc_id), NOT random() (which changes under retry/relayout) and NOT
    modulo (which correlates with id-assignment order). Same hex-range
    trick as sample_stratified; ranges are disjoint and exhaustive by
    construction, so the split is a PARTITION (every doc exactly one
    split) — the property eval-leakage audits depend on.

    Scale shape: a narrow map (one md5 per row), zero shuffles; the
    summary is one partial-agg pass. Works identically on 100 TB because
    nothing depends on row order, partition count, or cluster layout.
    """
    docs = load(spark, sf_dir, "documents")
    hx = F.expr(
        f"substring(md5(concat('{SPLIT_SEED}', CAST(doc_id AS STRING))), 1, 6)"
    )
    split = (
        F.when(hx < SPLIT_VAL_HEX, "val")
        .when(hx < SPLIT_TEST_HEX, "test")
        .otherwise("train")
    )
    assigned = docs.select(
        "doc_id", "lang", split.alias("split"),
        F.size(tokens_col("text")).cast("long").alias("n_tok"),
    )
    return assigned.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tok").alias("tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


ORACLE_TRAIN_VAL_TEST_SPLIT = f"""
WITH a AS (
    SELECT doc_id, lang,
           CASE WHEN substring(md5('{SPLIT_SEED}' || CAST(doc_id AS VARCHAR)), 1, 6) < '{SPLIT_VAL_HEX}' THEN 'val'
                WHEN substring(md5('{SPLIT_SEED}' || CAST(doc_id AS VARCHAR)), 1, 6) < '{SPLIT_TEST_HEX}' THEN 'test'
                ELSE 'train' END AS split,
           CAST(len({_DUCK_T}) AS BIGINT) AS n_tok
    FROM documents
)
SELECT lang, split,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc
FROM a
GROUP BY lang, split
"""


BOILER_W = 3          # tokens per chunk — the "line" unit (dedup.CHUNK_DEDUP_W)
BOILER_FRAC_PCT = 40  # a chunk in >= 40% of a source's docs is boilerplate


def boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE BOILERPLATE DETECTION — the template-stripping step of
    every web-corpus pipeline (headers, footers, nav chrome repeat on
    most pages of a site): chunk each document into fixed-width token
    "lines" (the corpus stores single-line text, so the chunk unit
    stands in for physical lines), count per-source DOCUMENT frequency
    of each distinct chunk, and flag chunks present in at least
    BOILER_FRAC_PCT of that source's documents. Output is the
    boilerplate catalog: (source, chunk, docs carrying it, the source's
    doc count) — the subtraction list a strip pass applies map-side.

    Scale shape: chunking is a narrow map; per-doc ``array_distinct``
    caps any chunk's per-doc postings at 1 BEFORE the explode (hot-chunk
    discipline); the (source, chunk) count partial-aggregates, and the
    per-source doc totals are a tiny broadcast side. Integer threshold
    (100·df ≥ PCT·n) keeps the flag exact in both engines.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", tokens_col("text").alias("t")).filter(
        F.size("t") > 0
    )
    chunks = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, (size(t) - 1) DIV {BOILER_W}),"
                    f" i -> concat_ws(' ', slice(t, i * {BOILER_W} + 1, {BOILER_W})))"
                )
            )
        ).alias("chunk"),
    )
    per_chunk = chunks.groupBy("source", "chunk").agg(
        F.count(F.lit(1)).alias("doc_ct")
    )
    per_source = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        per_chunk.join(F.broadcast(per_source), "source")
        .filter(100 * F.col("doc_ct") >= BOILER_FRAC_PCT * F.col("n_docs"))
        .select("source", "chunk", "doc_ct", "n_docs")
    )


ORACLE_BOILERPLATE_LINES = f"""
WITH toks AS (
    SELECT doc_id, source, {_DUCK_T} AS t FROM documents
),
chunks AS (
    SELECT DISTINCT doc_id, source,
           unnest(list_distinct(list_transform(
               range(0, (len(t) - 1) // {BOILER_W} + 1),
               i -> array_to_string(t[i * {BOILER_W} + 1 : i * {BOILER_W} + {BOILER_W}], ' ')))) AS chunk
    FROM toks
    WHERE len(t) > 0
),
per_chunk AS (
    SELECT source, chunk, CAST(count(*) AS BIGINT) AS doc_ct
    FROM chunks GROUP BY 1, 2
),
per_source AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM toks WHERE len(t) > 0 GROUP BY source
)
SELECT c.source, c.chunk, c.doc_ct, s.n_docs
FROM per_chunk c JOIN per_source s ON c.source = s.source
WHERE 100 * c.doc_ct >= {BOILER_FRAC_PCT} * s.n_docs
"""


# =============================================================================
# Round-7: bloom decontamination, temperature mixing, filter-funnel ledger
# =============================================================================

BLOOM_BITS = 16384  # m: 2 KiB of filter — broadcast-trivial at any scale
BLOOM_WORD_BITS = 32  # 32-bit words keep 1<<bit inside BIGINT in BOTH engines
BLOOM_SEEDS = ("blm1:", "blm2:", "blm3:")  # k = 3 hash functions


def _bloom_pos(seed: str, engine: str) -> str:
    """One deterministic bit position for shingle column ``s``: a 48-bit
    integer from a seeded md5 prefix, mod m — identical arithmetic in
    Spark (conv hex) and DuckDB (('0x'||hex)::UBIGINT)."""
    if engine == "spark":
        return (
            f"CAST(conv(substring(md5(concat('{seed}', s)), 1, 12), 16, 10)"
            f" AS BIGINT) % {BLOOM_BITS}"
        )
    return (
        f"CAST(('0x' || substring(md5('{seed}' || s), 1, 12))::UBIGINT"
        f" % {BLOOM_BITS} AS BIGINT)"
    )


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER DECONTAMINATION — the scale path for eval-leakage
    scrubbing when the holdout is too large to shingle-join against
    every training batch: fold the holdout shingles into a 2 KiB Bloom
    filter AS DATA (per-shingle bit positions → groupBy word index →
    bit_or into 512 32-bit words), then probe every training shingle
    through ONE broadcast join against those ≤512 rows. The corpus side
    is a map-side explode plus a tiny broadcast hash join — no corpus
    shuffle, no shingle×shingle join; at 100 TB the filter build cost is
    one pass over the (much smaller) holdout. False positives
    quarantine a bounded extra fraction — measured here EXACTLY because
    the exact overlap verdict rides along; false negatives are
    impossible, and the oracle PINS that superset property per doc.

    Both engines compute the SAME filter (pure seeded-md5 integer
    arithmetic — no engine-private hash), so the whole report including
    every bloom verdict is exact-hash-checked, not merely error-bounded.
    Reference anchor: the same build-probe split as the reference's
    dim-cache warm path (SURVEY §2.1 S10 non-goal) but as pure data.
    """
    from flink_gmall_spark.operators.dedup import _shingles

    docs = load(spark, sf_dir, "documents")
    sh = _shingles(docs)
    hold = sh.filter(F.col("doc_id") % HOLDOUT_MOD == 0)
    train = sh.filter(F.col("doc_id") % HOLDOUT_MOD != 0)

    pos_exprs = [F.expr(_bloom_pos(seed, "spark")) for seed in BLOOM_SEEDS]
    bloom = (
        hold.select(F.explode(F.array(*pos_exprs)).alias("p"))
        .select(
            F.expr(f"p DIV {BLOOM_WORD_BITS}").alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_WORD_BITS} AS INT))"
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
    )

    # Probe row-wise: the k positions are k narrow COLUMNS (not an
    # explode), each checked through its own copy of the ≤512-row
    # broadcast join, and the k bit-tests AND in projection. This keeps
    # the corpus side to ONE shuffle (the per-doc rollup) — an exploded
    # (doc_id, s, p) form would pay an extra corpus-wide groupBy just to
    # reassemble the conjunction (round-7 review).
    probe = train
    for i, seed in enumerate(BLOOM_SEEDS):
        probe = (
            probe.withColumn(f"p{i}", F.expr(_bloom_pos(seed, "spark")))
            .join(
                F.broadcast(
                    bloom.select(
                        F.col("w").alias(f"w{i}"), F.col("word").alias(f"word{i}")
                    )
                ),
                F.expr(f"p{i} DIV {BLOOM_WORD_BITS}") == F.col(f"w{i}"),
                "left",
            )
            .withColumn(
                f"hit{i}",
                F.coalesce(
                    F.expr(
                        f"(shiftright(word{i},"
                        f" CAST(p{i} % {BLOOM_WORD_BITS} AS INT)) & 1) = 1"
                    ),
                    F.lit(False),
                ),
            )
            .drop(f"p{i}", f"w{i}", f"word{i}")
        )
    sh_hit = probe.withColumn(
        "hit",
        F.expr(" AND ".join(f"hit{i}" for i in range(len(BLOOM_SEEDS)))),
    )
    doc_bloom = sh_hit.groupBy("doc_id").agg(
        F.bool_or("hit").alias("bloom_flagged")  # any shingle hits
    )
    exact = (
        train.join(hold.select("s").distinct(), "s")
        .select("doc_id")
        .distinct()
        .withColumn("exact_any", F.lit(True))
    )
    return (
        doc_bloom.join(exact, "doc_id", "left")
        .withColumn("exact_flagged", F.coalesce("exact_any", F.lit(False)))
        .select(
            "doc_id",
            "bloom_flagged",
            "exact_flagged",
            # the no-false-negative pin: exact ⇒ bloom, per document
            (~F.col("exact_flagged") | F.col("bloom_flagged")).alias("superset_ok"),
        )
    )


def _bloom_ctes() -> str:
    """The holdout-filter CTE chain (build + probe + exact ride-along),
    shared by the standalone bloom oracle and the end-to-end recipe."""
    pos_list = ", ".join(_bloom_pos(seed, "duck") for seed in BLOOM_SEEDS)
    w = BLOOM_WORD_BITS
    return f"""{_DUCK_SH},
hold AS (SELECT DISTINCT s FROM sh WHERE doc_id % {HOLDOUT_MOD} = 0),
train AS (SELECT doc_id, s FROM sh WHERE doc_id % {HOLDOUT_MOD} <> 0),
hpos AS (SELECT unnest([{pos_list}]) AS p FROM hold),
bloom AS (
    SELECT p // {w} AS wi, bit_or(1::BIGINT << CAST(p % {w} AS INT)) AS word
    FROM hpos GROUP BY 1),
tpos AS (SELECT doc_id, s, unnest([{pos_list}]) AS p FROM train),
probed AS (
    SELECT t.doc_id, t.s,
           coalesce(((b.word >> CAST(t.p % {w} AS INT)) & 1) = 1, FALSE) AS bit_set
    FROM tpos t LEFT JOIN bloom b ON t.p // {w} = b.wi),
shh AS (SELECT doc_id, s, bool_and(bit_set) AS hit FROM probed GROUP BY 1, 2),
docb AS (SELECT doc_id, bool_or(hit) AS bloom_flagged FROM shh GROUP BY 1),
ex AS (SELECT DISTINCT t.doc_id FROM train t JOIN hold USING (s))"""


ORACLE_DECONTAMINATE_BLOOM = (
    _bloom_ctes()
    + """
SELECT d.doc_id, d.bloom_flagged,
       (ex.doc_id IS NOT NULL) AS exact_flagged,
       (ex.doc_id IS NULL OR d.bloom_flagged) AS superset_ok
FROM docb d LEFT JOIN ex ON d.doc_id = ex.doc_id
"""
)


TEMP_BUDGET = 150  # docs drawn across languages; quota_lang ∝ n_lang²
TEMP_SEED = "tmix7:"


def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED MIXTURE ALLOCATION — the "mix sources with a
    temperature" knob of pretraining data recipes (quota_i ∝ n_i^α:
    α>1 sharpens toward the largest corpora, α<1 flattens; α=2 here so
    the whole allocation stays in exact integer arithmetic): integer
    quotas by floor division over the Σn² normalizer, then a
    deterministic per-language draw of quota docs by seeded-md5
    priority — the weighted_sample determinism discipline (no rand();
    retries, re-partitions and re-runs reproduce the same sample).

    Scale shape: the language histogram is one partial-agg scan; quotas
    are a broadcast-sized table; the draw is one per-language window
    top-N whose rank filter pushes into the shuffle as WindowGroupLimit.
    No global sort, no driver loop.
    """
    docs = load(spark, sf_dir, "documents")
    return temperature_draw(docs.select("doc_id", "lang"))


def temperature_draw(pool: DataFrame) -> DataFrame:
    """The allocation + draw over any (doc_id, lang) pool — shared by the
    standalone entry (whole corpus) and the end-to-end recipe (post-
    filter, post-decontamination pool)."""
    hist = pool.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = hist.agg(F.sum(F.col("n") * F.col("n")).cast("long").alias("den"))
    quota = hist.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.expr(f"(n * n * {TEMP_BUDGET}) DIV den").alias("quota"),
    )
    pri = pool.select(
        "doc_id",
        "lang",
        F.expr(
            f"CAST(conv(substring(md5(concat('{TEMP_SEED}',"
            f" CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)"
        ).alias("pri"),
    )
    w = Window.partitionBy("lang").orderBy("pri", "doc_id")
    ranked = pri.withColumn("rk", F.row_number().over(w).cast("long"))
    # quota_i = n_i²·B DIV Σn² ≤ B always, so the LITERAL budget bound is a
    # safe pre-filter — and because it is a literal, the optimizer rewrites
    # the window into WindowGroupLimit (per-partition top-B heaps inside the
    # shuffle). Without it the data-dependent quota forces a full per-language
    # sort — the difference between heap-selecting 150 docs per language and
    # sorting every English document at 100 TB.
    return (
        ranked.filter(F.col("rk") <= TEMP_BUDGET)
        .join(F.broadcast(quota), "lang")
        .filter(F.col("rk") <= F.col("quota"))
        .select("doc_id", "lang", "quota")
    )


ORACLE_MIXTURE_TEMPERATURE = f"""
WITH hist AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
     tot AS (SELECT CAST(sum(n * n) AS BIGINT) AS den FROM hist),
     quota AS (
       SELECT lang, CAST((n * n * {TEMP_BUDGET}) // den AS BIGINT) AS quota
       FROM hist, tot),
     pri AS (
       SELECT doc_id, lang,
              CAST(('0x' || substring(md5('{TEMP_SEED}' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT AS BIGINT) AS pri
       FROM documents),
     ranked AS (
       SELECT doc_id, lang,
              CAST(row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS BIGINT) AS rk
       FROM pri)
SELECT r.doc_id, r.lang, q.quota
FROM ranked r JOIN quota q USING (lang)
WHERE r.rk <= q.quota
"""


FUNNEL_MIN_CHARS = 100
FUNNEL_LANGS = ("en", "zh", "es", "fr")
FUNNEL_MIN_WORDS = 30


def filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-FUNNEL LEDGER — per-stage survival accounting for the
    curation pipeline (the observability artifact a data team reviews
    before committing a recipe: what each rule kills, cumulatively).
    Stages apply IN ORDER — a doc reaches stage i only having passed
    1..i-1: min-length → supported-language → min-word-count →
    decontamination (holdout exclusion).

    Scale shape: ONE scan; each row evaluates its stage conjunctions as
    narrow boolean columns, a single partial-aggregated fold produces
    the per-stage counters, and stack() unpivots the 1-row result
    driver-side (the data_quality_report shape — column count, not row
    count, bounds the state). Survival percentage is integer HALF_UP so
    both engines hash-match bit-for-bit.
    """
    docs = load(spark, sf_dir, "documents")
    return funnel_ledger(funnel_wide_agg(docs))


def funnel_wide_agg(docs: DataFrame) -> DataFrame:
    """Stage conjunctions + the single wide fold — shared verbatim by the
    batch entry and the streaming twin (which runs this agg on the
    incremental engine in complete mode; its state is five counters)."""
    from flink_gmall_spark.functions.tokenize import tokens_col

    langs = ", ".join(f"'{l}'" for l in FUNNEL_LANGS)
    staged = docs.select(
        (F.col("n_chars") >= FUNNEL_MIN_CHARS).alias("f1"),
        F.expr(f"lang IN ({langs})").alias("f2"),
        (F.size(tokens_col("text")) >= FUNNEL_MIN_WORDS).alias("f3"),
        (F.col("doc_id") % HOLDOUT_MOD != 0).alias("f4"),
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("f1").cast("long")).alias("n1"),
        F.sum((F.col("f1") & F.col("f2")).cast("long")).alias("n2"),
        F.sum((F.col("f1") & F.col("f2") & F.col("f3")).cast("long")).alias("n3"),
        F.sum(
            (F.col("f1") & F.col("f2") & F.col("f3") & F.col("f4")).cast("long")
        ).alias("n4"),
    )


def funnel_ledger(wide: DataFrame) -> DataFrame:
    """stack() unpivot + HALF_UP survival arithmetic over the 1-row wide
    counters (batch side of both twins)."""
    stages = [
        ("1_min_length", "n0", "n1"),
        ("2_lang_supported", "n1", "n2"),
        ("3_min_words", "n2", "n3"),
        ("4_decontaminated", "n3", "n4"),
    ]
    stack = ", ".join(f"'{s}', {a}, {b}" for s, a, b in stages)
    return wide.select(
        F.expr(f"stack({len(stages)}, {stack}) as (stage, entering, passing)"),
        F.col("n0").alias("corpus_size"),
    ).select(
        "stage",
        "entering",
        "passing",
        (F.col("entering") - F.col("passing")).alias("dropped"),
        # empty-corpus guard BOTH sides: ANSI Spark DIV-by-zero and DuckDB
        # // 0 fail asymmetrically without it (repo half_up convention)
        F.expr(
            "CASE WHEN corpus_size = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE (200 * passing + corpus_size) DIV (2 * corpus_size) END"
        ).alias("survival_pct"),
    )


def _oracle_filter_funnel() -> str:
    langs = ", ".join(f"'{l}'" for l in FUNNEL_LANGS)
    return f"""
WITH staged AS (
  SELECT (n_chars >= {FUNNEL_MIN_CHARS}) AS f1,
         (lang IN ({langs})) AS f2,
         (len({_DUCK_T}) >= {FUNNEL_MIN_WORDS}) AS f3,
         (doc_id % {HOLDOUT_MOD} <> 0) AS f4
  FROM documents),
wide AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM staged),
stacked AS (
  SELECT '1_min_length' AS stage, n0 AS entering, n1 AS passing, n0 AS corpus_size FROM wide
  UNION ALL SELECT '2_lang_supported', n1, n2, n0 FROM wide
  UNION ALL SELECT '3_min_words', n2, n3, n0 FROM wide
  UNION ALL SELECT '4_decontaminated', n3, n4, n0 FROM wide)
SELECT stage, entering, passing,
       (entering - passing) AS dropped,
       CASE WHEN corpus_size = 0 THEN NULL
            ELSE (200 * passing + corpus_size) // (2 * corpus_size)
       END AS survival_pct
FROM stacked
"""


ORACLE_FILTER_FUNNEL = _oracle_filter_funnel()


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE CONTAMINATION MATRIX — the provenance artifact a
    corpus audit produces before mixing sources: for every source pair,
    how many distinct shingles they share and the HALF_UP Jaccard
    percentage (shared / union). High overlap between two "independent"
    crawls means double-counted content that dedup must reconcile and
    mixture weights double-weight silently.

    Scale shape: shingles collapse to distinct (source, shingle) pairs
    via partial agg FIRST (the corpus never self-joins row-wise); the
    pair join is keyed on the shingle string and inherits the rare-
    shingle DF cap from dedup._shingles, so a boilerplate shingle shared
    by every source cannot go quadratic; output is bounded by
    |sources|², tiny at any corpus size. Pure integer arithmetic for the
    percentage keeps both engines bit-identical.
    """
    from flink_gmall_spark.operators.dedup import _shingles

    docs = load(spark, sf_dir, "documents")
    src_sh = (
        _shingles(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "s")
        .distinct()
    )
    totals = src_sh.groupBy("source").agg(F.count(F.lit(1)).alias("total"))
    a = src_sh.select(F.col("source").alias("source_a"), "s")
    b = src_sh.select(F.col("source").alias("source_b"), "s")
    shared = (
        a.join(b, "s")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            F.broadcast(totals.select(F.col("source").alias("source_a"), F.col("total").alias("ta"))),
            "source_a",
        )
        .join(
            F.broadcast(totals.select(F.col("source").alias("source_b"), F.col("total").alias("tb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared",
            (F.col("ta") + F.col("tb") - F.col("shared")).alias("union_ct"),
            F.expr(
                "(200 * shared + (ta + tb - shared)) DIV (2 * (ta + tb - shared))"
            ).alias("jaccard_pct"),
        )
    )


ORACLE_SOURCE_OVERLAP = f"""{_DUCK_SH},
src_sh AS (
  SELECT DISTINCT d.source, sh.s
  FROM sh JOIN documents d USING (doc_id)),
totals AS (SELECT source, CAST(count(*) AS BIGINT) AS total FROM src_sh GROUP BY 1),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS shared
  FROM src_sh a JOIN src_sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2)
SELECT s.source_a, s.source_b, s.shared,
       (ta.total + tb.total - s.shared) AS union_ct,
       (200 * s.shared + (ta.total + tb.total - s.shared))
         // (2 * (ta.total + tb.total - s.shared)) AS jaccard_pct
FROM shared s
JOIN totals ta ON s.source_a = ta.source
JOIN totals tb ON s.source_b = tb.source
"""


def recipe_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE ROUND-7 CURATION RECIPE, END TO END — integration proof that
    the new primitives compose into the pipeline a data team actually
    ships: (1) the filter-funnel GATES select the quality pool (same
    stage conjunctions as curation_filter_funnel, per-doc); (2) the
    BLOOM decontamination quarantine removes flagged docs (broadcast
    filter-as-data, curation_decontaminate_bloom's verdicts); (3) the
    TEMPERATURE allocation draws the final mixture over the CLEAN pool
    (quotas recomputed on the survivors — a recipe that allocated on the
    dirty histogram would over-draw contaminated languages).

    Scale shape is the sum of its parts — every stage was individually
    plan-gated; the composition adds only a doc_id-keyed join of the
    pool against the bloom verdicts. Docs with no cappable shingles
    cannot be flagged (LEFT join, coalesce FALSE) — same rule both
    engines."""
    from flink_gmall_spark.functions.tokenize import tokens_col

    docs = load(spark, sf_dir, "documents")
    langs = ", ".join(f"'{l}'" for l in FUNNEL_LANGS)
    pool = docs.filter(
        (F.col("n_chars") >= FUNNEL_MIN_CHARS)
        & F.expr(f"lang IN ({langs})")
        & (F.size(tokens_col("text")) >= FUNNEL_MIN_WORDS)
        & (F.col("doc_id") % HOLDOUT_MOD != 0)
    ).select("doc_id", "lang")
    verdicts = decontaminate_bloom(spark, sf_dir).select(
        "doc_id", "bloom_flagged"
    )
    clean = (
        pool.join(verdicts, "doc_id", "left")
        .filter(~F.coalesce("bloom_flagged", F.lit(False)))
        .select("doc_id", "lang")
    )
    return temperature_draw(clean)


def _oracle_recipe_v2() -> str:
    langs = ", ".join(f"'{l}'" for l in FUNNEL_LANGS)
    return (
        _bloom_ctes()
        + f""",
docb2 AS (
    SELECT d.doc_id, d.bloom_flagged FROM docb d),
pool AS (
    SELECT doc_id, lang FROM documents
    WHERE n_chars >= {FUNNEL_MIN_CHARS}
      AND lang IN ({langs})
      AND len({_DUCK_T}) >= {FUNNEL_MIN_WORDS}
      AND doc_id % {HOLDOUT_MOD} <> 0),
clean AS (
    SELECT p.doc_id, p.lang
    FROM pool p LEFT JOIN docb2 b USING (doc_id)
    WHERE NOT coalesce(b.bloom_flagged, FALSE)),
hist AS (SELECT lang, count(*) AS n FROM clean GROUP BY 1),
tot AS (SELECT CAST(sum(n * n) AS BIGINT) AS den FROM hist),
quota AS (
    SELECT lang, CAST((n * n * {TEMP_BUDGET}) // den AS BIGINT) AS quota
    FROM hist, tot),
pri AS (
    SELECT doc_id, lang,
           CAST(('0x' || substring(md5('{TEMP_SEED}' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT AS BIGINT) AS pri
    FROM clean),
ranked AS (
    SELECT doc_id, lang,
           CAST(row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS BIGINT) AS rk
    FROM pri)
SELECT r.doc_id, r.lang, q.quota
FROM ranked r JOIN quota q USING (lang)
WHERE r.rk <= q.quota
"""
    )


ORACLE_RECIPE_V2 = _oracle_recipe_v2()


MASK_BLOCK = 5  # tokens per corruption block
MASK_MOD = 5  # 1-in-MASK_MOD blocks masked (~20% corruption)
MASK_SEED = "spanmask1"


def span_corruption_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SPAN-CORRUPTION spec (the T5/UL2 denoising-objective
    shape): partition each doc's token sequence into MASK_BLOCK-token
    blocks and mask the blocks a seeded hash selects (1 in MASK_MOD) —
    every engine replica, every rerun, every backfill picks the SAME
    spans, which is what makes cached corruption targets valid and the
    spec oracle-checkable (the hex-threshold-sampling discipline applied
    inside the document). Emits the per-doc ledger (blocks, masked
    blocks, masked tokens, corruption ratio x1000 integer); the actual
    target/input splice is a downstream map over the same hash, so
    pinning the ledger pins the splice.

    Pure per-row expression math — block list, seeded md5-prefix
    selection, sequential fold for masked token count — zero shuffle,
    zero UDF: at 100 TB this is a map-only pass whose cost is the token
    split it already shares with the quality operators."""
    return span_spec_transform(load(spark, sf_dir, "documents"))


def span_spec_transform(docs: DataFrame) -> DataFrame:
    """The per-row masking-spec transform behind span_corruption_spec —
    shared verbatim by the streaming twin (stream_span_corruption); the
    seeded hash makes ingest-time and backfill specs byte-identical."""
    base = docs.select(
        "doc_id", tokens_col("text").alias("t")
    ).select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    sel = (
        f"CAST(conv(substring(md5(concat('{MASK_SEED}',"
        " CAST(doc_id AS STRING), ':', CAST(b AS STRING))), 1, 8), 16, 10)"
        f" AS BIGINT) % {MASK_MOD} = 0"
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.expr(f"(n_tokens + {MASK_BLOCK - 1}) DIV {MASK_BLOCK}")
        .cast("long")
        .alias("n_blocks"),
        F.expr(
            f"CASE WHEN n_tokens = 0 THEN array() ELSE "
            f"filter(sequence(0, (n_tokens + {MASK_BLOCK - 1}) DIV {MASK_BLOCK} - 1),"
            f" b -> {sel}) END"
        ).alias("mb"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_blocks",
        F.size("mb").cast("long").alias("n_masked_blocks"),
        F.expr(
            f"aggregate(mb, CAST(0 AS BIGINT),"
            f" (acc, b) -> acc + least(CAST({MASK_BLOCK} AS BIGINT),"
            f" n_tokens - b * {MASK_BLOCK}))"
        ).alias("n_masked_tokens"),
    ).withColumn(
        "corruption_x1000",
        F.expr(
            "CASE WHEN n_tokens = 0 THEN 0"
            " ELSE (1000 * n_masked_tokens) DIV n_tokens END"
        ).cast("long"),
    )


ORACLE_SPAN_CORRUPTION = f"""
WITH base AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text),
                '{TOKEN_SPLIT_RE}'), x -> x <> '')) AS BIGINT) AS n_tokens
    FROM documents
),
blk AS (
    SELECT doc_id, n_tokens,
           (n_tokens + {MASK_BLOCK - 1}) // {MASK_BLOCK} AS n_blocks,
           CASE WHEN n_tokens = 0 THEN []::BIGINT[] ELSE
             list_filter(range(0, (n_tokens + {MASK_BLOCK - 1}) // {MASK_BLOCK}),
               b -> CAST(('0x' || substring(md5('{MASK_SEED}' ||
                    CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)),
                    1, 8))::UBIGINT % {MASK_MOD} AS BIGINT) = 0)
           END AS mb
    FROM base
)
SELECT doc_id, n_tokens, CAST(n_blocks AS BIGINT) AS n_blocks,
       CAST(len(mb) AS BIGINT) AS n_masked_blocks,
       CAST(coalesce(list_sum(list_transform(mb,
            b -> least({MASK_BLOCK}, n_tokens - b * {MASK_BLOCK}))), 0)
            AS BIGINT) AS n_masked_tokens,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE (1000 * CAST(coalesce(list_sum(list_transform(mb,
                 b -> least({MASK_BLOCK}, n_tokens - b * {MASK_BLOCK}))), 0)
                 AS BIGINT)) // n_tokens END AS corruption_x1000
FROM blk
"""


def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY ledger — BPE tokens per word, by language:
    the first number a multilingual data pipeline checks before fixing
    a token budget, because a tokenizer trained lopsidedly spends 2-4x
    more tokens per word on under-represented languages and silently
    shifts the effective data mixture. Per-doc budgets come from the
    audited serve path (bpe_token_budget's join against the symbolized
    dictionary — shared transform, shared oracle subquery), rolled up
    per document language; fertility is the x1000 integer ratio, so the
    whole ledger hash-pins. A fertility drift after retraining the
    merge table is a correctness failure here, not a surprise in the
    training-run token accounting."""
    docs = load(spark, sf_dir, "documents")
    budget = bpe_token_budget(spark, sf_dir)
    j = budget.join(docs.select("doc_id", "lang"), "doc_id")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.expr("(1000 * sum(n_bpe_tokens)) DIV sum(n_words)")
        .cast("long")
        .alias("fertility_x1000"),
    )


ORACLE_BPE_FERTILITY = f"""
WITH budget AS ({ORACLE_BPE_TOKEN_BUDGET})
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(b.n_words) AS BIGINT) AS n_words,
       CAST(sum(b.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       (1000 * CAST(sum(b.n_bpe_tokens) AS BIGINT))
         // CAST(sum(b.n_words) AS BIGINT) AS fertility_x1000
FROM budget b JOIN documents d USING (doc_id)
GROUP BY 1
"""


def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row DATASET CARD — the headline numbers a dataset release
    publishes (docs, bytes, language count, exact-dup rate, quality
    keep rate, mean tokens/doc), computed in ONE scan + ONE aggregation:
    every per-row signal (content hash, language, token stats, quality
    gate) is derived in a single projection and folded together, so the
    card costs a corpus pass regardless of how many numbers it carries.
    Rates are x1000 integers (hash-pinned); the same gate terms as
    text_quality_scores, so the card and the per-doc table cannot
    disagree."""
    from flink_gmall_spark.operators.textstats import (
        MAX_TOKENS,
        MIN_TOKENS,
        STOPWORDS,
    )

    docs = load(spark, sf_dir, "documents")
    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    base = docs.select(
        F.md5("text").alias("h"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        tokens_col("text").alias("t"),
    ).select(
        "h",
        "lang",
        "n_chars",
        F.size("t").cast("long").alias("n_tokens"),
        F.expr(f"size(filter(t, x -> array_contains(array({stop_arr}), x)))")
        .cast("long")
        .alias("stop_ct"),
    )
    agg = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("h").alias("n_distinct"),
        F.count(
            F.when(
                (F.col("n_tokens") >= MIN_TOKENS)
                & (F.col("n_tokens") <= MAX_TOKENS)
                & (F.col("stop_ct") >= 1),
                1,
            )
        ).alias("n_keep"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return agg.select(
        "n_docs",
        "total_chars",
        "n_langs",
        F.expr("(1000 * (n_docs - n_distinct)) DIV n_docs")
        .cast("long")
        .alias("exact_dup_x1000"),
        F.expr("(1000 * n_keep) DIV n_docs").cast("long").alias("quality_keep_x1000"),
        F.expr("(1000 * total_tokens) DIV n_docs")
        .cast("long")
        .alias("mean_tokens_x1000"),
    )


ORACLE_DATASET_CARD = f"""
WITH base AS (
    SELECT md5(text) AS h, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len({{T}}) AS BIGINT) AS n_tokens,
           CAST(len(list_filter({{T}}, x -> list_contains([{{STOPS}}], x)))
                AS BIGINT) AS stop_ct
    FROM documents
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
           CAST(count(CASE WHEN n_tokens >= {{MIN}} AND n_tokens <= {{MAX}}
                           AND stop_ct >= 1 THEN 1 END) AS BIGINT) AS n_keep,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM base
)
SELECT n_docs, total_chars, n_langs,
       (1000 * (n_docs - n_distinct)) // n_docs AS exact_dup_x1000,
       (1000 * n_keep) // n_docs AS quality_keep_x1000,
       (1000 * total_tokens) // n_docs AS mean_tokens_x1000
FROM agg
"""

# fill the gate constants from textstats so card and per-doc table share
# one definition (imported late to avoid a cycle at module load)
from flink_gmall_spark.operators.textstats import (  # noqa: E402
    _DUCK_STOPS as _CARD_STOPS,
    _DUCK_T as _CARD_T,
    MAX_TOKENS as _CARD_MAX,
    MIN_TOKENS as _CARD_MIN,
)

ORACLE_DATASET_CARD = ORACLE_DATASET_CARD.format(
    T=_CARD_T, STOPS=_CARD_STOPS, MIN=_CARD_MIN, MAX=_CARD_MAX
)


SHUFFLE_SEED = "gshuf1"


def global_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC GLOBAL SHUFFLE ledger — the pre-training delivery
    shuffle. Training wants documents in an order uncorrelated with
    source/time/crawl layout; at 100 TB the only shuffle that survives
    retries, re-partitioning, and incremental appends is a SEEDED HASH
    ORDER: key = md5(seed || doc_id), shard = first hex digit (16
    hash-range shards), within-shard order = the key itself. Nothing
    depends on row order or cluster layout, a re-run lands every doc in
    the same shard at the same position, and the physical write is one
    repartitionByRange on the key (range exchange, no skew — md5 is
    uniform).

    This entry emits the shard LEDGER (per shard: docs, tokens, key
    range) — the balance table an operator checks before submitting the
    actual rewrite; the hash math is the same expression the write path
    uses. Narrow map + one 16-group aggregation, no joins."""
    return shuffle_shard_agg(load(spark, sf_dir, "documents"))


def shuffle_shard_agg(docs: DataFrame) -> DataFrame:
    """The shard-ledger transform — shared VERBATIM by the batch entry
    and the streaming twin (both pair with ORACLE_GLOBAL_SHUFFLE) so the
    shard key expression cannot drift between the two engines. Pure
    per-row math + one keyed aggregation; runs unchanged on a stream
    (complete mode, exactly 16 groups of state)."""
    keyed = docs.select(
        F.expr(
            f"md5(concat('{SHUFFLE_SEED}', CAST(doc_id AS STRING)))"
        ).alias("k"),
        F.size(tokens_col("text")).cast("long").alias("n_tok"),
    ).withColumn("shard", F.substring("k", 1, 1))
    return keyed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tok").cast("long").alias("tokens"),
        F.min("k").alias("first_key"),
        F.max("k").alias("last_key"),
    )


ORACLE_GLOBAL_SHUFFLE = f"""
WITH keyed AS (
    SELECT md5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS k,
           CAST(len({{T}}) AS BIGINT) AS n_tok
    FROM documents
)
SELECT substring(k, 1, 1) AS shard,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens,
       min(k) AS first_key,
       max(k) AS last_key
FROM keyed
GROUP BY 1
"""


MAX_SEQ_LEN = 512   # model context length (tokens)
LEN_BUCKET = 64     # bucketed-batching width


def padding_waste_agg(docs: DataFrame) -> DataFrame:
    """Per-length-bucket training-batch efficiency ledger — shared
    VERBATIM by the batch entry and the streaming twin (both pair with
    ORACLE_PADDING_WASTE). For each doc: effective length = min(n_tok,
    MAX_SEQ_LEN), truncated tokens = max(n_tok - MAX_SEQ_LEN, 0); under
    BUCKETED batching each sequence pads to its bucket's upper bound
    (ceil(eff/LEN_BUCKET)*LEN_BUCKET), under NAIVE batching to
    MAX_SEQ_LEN. The ledger prices both against the token mass — the
    table that justifies sequence packing (curation_pack_chunks) over
    padded batching. Pure per-row integer math + one keyed aggregation;
    works unchanged on a stream (complete mode, at most
    MAX_SEQ_LEN/LEN_BUCKET + 1 groups of state)."""
    base = docs.select(
        F.size(tokens_col("text")).cast("long").alias("n_tok")
    ).select(
        F.least(F.col("n_tok"), F.lit(MAX_SEQ_LEN)).alias("eff"),
        F.greatest(F.col("n_tok") - MAX_SEQ_LEN, F.lit(0)).alias("trunc"),
    ).withColumn(
        "bucket_hi",
        (
            F.expr(f"(eff + {LEN_BUCKET - 1}) div {LEN_BUCKET}") * LEN_BUCKET
        ).cast("long"),
    )
    return base.groupBy("bucket_hi").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("eff").cast("long").alias("tokens"),
        F.sum(F.col("bucket_hi") - F.col("eff")).cast("long").alias("pad_bucketed"),
        F.sum(F.lit(MAX_SEQ_LEN) - F.col("eff")).cast("long").alias("pad_naive"),
        F.sum("trunc").cast("long").alias("trunc_tokens"),
    )


def padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch entry over padding_waste_agg — see its docstring."""
    return padding_waste_agg(load(spark, sf_dir, "documents"))


ORACLE_PADDING_WASTE = f"""
WITH base AS (
    SELECT least(CAST(len({{T}}) AS BIGINT), {MAX_SEQ_LEN}) AS eff,
           greatest(CAST(len({{T}}) AS BIGINT) - {MAX_SEQ_LEN}, 0) AS trunc
    FROM documents
),
b AS (
    SELECT eff, trunc,
           ((eff + {LEN_BUCKET - 1}) // {LEN_BUCKET}) * {LEN_BUCKET} AS bucket_hi
    FROM base
)
SELECT CAST(bucket_hi AS BIGINT) AS bucket_hi,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(eff) AS BIGINT) AS tokens,
       CAST(sum(bucket_hi - eff) AS BIGINT) AS pad_bucketed,
       CAST(sum({MAX_SEQ_LEN} - eff) AS BIGINT) AS pad_naive,
       CAST(sum(trunc) AS BIGINT) AS trunc_tokens
FROM b
GROUP BY 1
"""

# fill the tokenizer expression from textstats (same late-import pattern
# as ORACLE_DATASET_CARD, single definition of the token list)
from flink_gmall_spark.operators.textstats import _DUCK_T as _SHUF_T  # noqa: E402

ORACLE_GLOBAL_SHUFFLE = ORACLE_GLOBAL_SHUFFLE.format(T=_SHUF_T)
ORACLE_PADDING_WASTE = ORACLE_PADDING_WASTE.format(T=_SHUF_T)


# Candidate training sequence lengths priced by curation_seq_len_sweep:
# longer L loses less to truncation but pads more; the sweep prices the
# trade on the live corpus so L is picked on numbers.
SEQ_LEN_SWEEP = (128, 256, 512, 1024)


def seq_len_fold(docs: DataFrame) -> DataFrame:
    """Every candidate length priced in ONE global aggregation over the
    per-doc n_tok of non-empty docs (the corpus is never row-duplicated
    per L) — the 1-row wide table seq_len_finish unpivots. On the
    stream it is the single complete-mode fold (2 + 2·|SWEEP| counters
    of state). Truncation is not aggregated: it derives as tokens - eff
    in the finish, since greatest(n_tok - L, 0) == n_tok - least(n_tok, L)."""
    base = docs.select(
        F.size(tokens_col("text")).cast("long").alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("n_tok").cast("long").alias("tokens"),
    ]
    for L in SEQ_LEN_SWEEP:
        aggs += [
            F.sum(F.least(F.col("n_tok"), F.lit(L)))
            .cast("long")
            .alias(f"eff_{L}"),
            F.sum(F.expr(f"(n_tok + {L - 1}) div {L}"))
            .cast("long")
            .alias(f"chunks_{L}"),
        ]
    return base.agg(*aggs)


def seq_len_finish(wide: DataFrame) -> DataFrame:
    """Unpivot the wide sweep aggregates into the per-L ledger — shared
    VERBATIM by the batch entry and the streaming twin. Per candidate
    length: truncation loss and padding under one-sequence-per-doc
    (naive) batching, chunk count and tail padding under per-doc packed
    chunking (every token kept), and both utilizations x1000 in the
    repo's integer-DIV grain."""
    stack_args = ", ".join(
        f"{L}L, eff_{L}, chunks_{L}" for L in SEQ_LEN_SWEEP
    )
    per = wide.selectExpr(
        "docs",
        "tokens",
        f"stack({len(SEQ_LEN_SWEEP)}, {stack_args})"
        " AS (seq_len, eff, n_chunks)",
    )
    return per.select(
        "seq_len",
        "docs",
        "tokens",
        (F.col("tokens") - F.col("eff")).cast("long").alias("trunc_tokens"),
        "n_chunks",
        (F.col("seq_len") * F.col("docs") - F.col("eff"))
        .cast("long")
        .alias("pad_naive"),
        (F.col("seq_len") * F.col("n_chunks") - F.col("tokens"))
        .cast("long")
        .alias("pad_packed"),
        F.expr("CASE WHEN docs > 0 THEN (1000 * eff) DIV (docs * seq_len) END")
        .cast("long")
        .alias("util_naive_x1000"),
        F.expr(
            "CASE WHEN n_chunks > 0"
            " THEN (1000 * tokens) DIV (n_chunks * seq_len) END"
        )
        .cast("long")
        .alias("util_packed_x1000"),
    )


def seq_len_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-LENGTH CALIBRATION SWEEP — the padding_waste discipline
    widened into a knob sweep: for each candidate training sequence
    length in SEQ_LEN_SWEEP, the truncation loss and padding of naive
    one-sequence-per-doc batching AND the chunk volume and tail padding
    of per-doc packed chunking, with both utilizations x1000 — the table
    a pipeline owner reads to pick L (and to justify packing over padded
    batching at that L).

    Scale shape: ONE corpus scan, ZERO row duplication — every
    per-L metric is a conditional aggregate over the same (n_tok) row
    (map-side partials into a single global fold), and the per-L rows
    come from a driver-free stack() unpivot of the one wide row. The
    aggregation is complete-mode streamable; the streaming twin shares
    every stage verbatim. Overflow headroom: 1000·tokens stays under
    2^63 up to ~9e15 tokens — two orders past a 100 TB text corpus."""
    docs = load(spark, sf_dir, "documents")
    return seq_len_finish(seq_len_fold(docs))


def _seq_len_oracle() -> str:
    per_l_aggs = ",\n           ".join(
        f"CAST(sum(least(n_tok, {L})) AS BIGINT) AS eff_{L},\n"
        f"           CAST(sum((n_tok + {L - 1}) // {L}) AS BIGINT) AS chunks_{L}"
        for L in SEQ_LEN_SWEEP
    )
    per_l_rows = "\nUNION ALL\n".join(
        f"SELECT CAST({L} AS BIGINT) AS seq_len, docs, tokens,"
        f" CAST(tokens - eff_{L} AS BIGINT) AS trunc_tokens,"
        f" chunks_{L} AS n_chunks,"
        f" eff_{L} AS eff FROM agg"
        for L in SEQ_LEN_SWEEP
    )
    return f"""
WITH base AS (
    SELECT CAST(len({{T}}) AS BIGINT) AS n_tok FROM documents
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens,
           {per_l_aggs}
    FROM base WHERE n_tok > 0
)
SELECT seq_len, docs, tokens, trunc_tokens, n_chunks,
       CAST(seq_len * docs - eff AS BIGINT) AS pad_naive,
       CAST(seq_len * n_chunks - tokens AS BIGINT) AS pad_packed,
       CAST(CASE WHEN docs > 0 THEN (1000 * eff) // (docs * seq_len) END
            AS BIGINT) AS util_naive_x1000,
       CAST(CASE WHEN n_chunks > 0 THEN (1000 * tokens) // (n_chunks * seq_len)
            END AS BIGINT) AS util_packed_x1000
FROM (
{per_l_rows}
) t
"""


# _SHUF_T (the shared tokenizer expression) is imported just above the
# padding_waste oracle formats; interpolate it here at definition time.
ORACLE_SEQ_LEN_SWEEP = _seq_len_oracle().format(T=_SHUF_T)


CHUNK_TOKENS = 128  # RAG/pretraining window width (tokens)
CHUNK_STRIDE = 96   # window stride -> 32-token overlap between chunks


def chunk_overlap_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-WINDOW CHUNKING SPEC — overlapping fixed-width token
    windows (the RAG-ingest / long-doc-pretraining chunker: width
    CHUNK_TOKENS, stride CHUNK_STRIDE, so consecutive chunks share
    CHUNK_TOKENS - CHUNK_STRIDE tokens of context). Emits the chunk
    TABLE (doc_id, chunk_idx, tok_start, tok_len, is_tail): start
    positions are i*stride for i in [0, n_starts), where n_starts = 1
    for docs at-or-under one window and 1 + ceil((n_tok - width) /
    stride) otherwise — the last chunk is the only one allowed short.
    All integer arithmetic (div-based ceil), so the spec is
    hash-pinnable and byte-identical on re-run.

    Scale shape: map-only — one sequence() explode per doc, zero
    shuffles, zero joins; the chunk count per doc is ~n_tok/stride, the
    same output volume any chunker must produce. Slicing the actual
    token arrays is the trivial follow-on map (slice(t, tok_start+1,
    tok_len)); the spec is the testable contract."""
    return chunk_spec_transform(load(spark, sf_dir, "documents"))


def chunk_spec_transform(docs: DataFrame) -> DataFrame:
    """The chunk-spec transform — shared VERBATIM by the batch entry and
    the streaming twin (both pair with ORACLE_CHUNK_OVERLAP); pure
    per-row expression math, runs unchanged on a stream."""
    base = docs.select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    W, S = CHUNK_TOKENS, CHUNK_STRIDE
    n_starts = F.when(F.col("n_tok") <= W, F.lit(1)).otherwise(
        F.lit(1) + F.expr(f"(n_tok - {W} + {S - 1}) div {S}")
    )
    spec = base.withColumn("n_starts", n_starts.cast("long")).select(
        "doc_id",
        "n_tok",
        F.explode(F.expr("sequence(0, n_starts - 1)")).alias("chunk_idx"),
    )
    return spec.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        (F.col("chunk_idx") * S).cast("long").alias("tok_start"),
        F.least(F.lit(W), F.col("n_tok") - F.col("chunk_idx") * S)
        .cast("long")
        .alias("tok_len"),
        (F.col("chunk_idx") * S + W >= F.col("n_tok")).alias("is_tail"),
    )


ORACLE_CHUNK_OVERLAP = f"""
WITH base AS (
    SELECT doc_id, CAST(len({{T}}) AS BIGINT) AS n_tok FROM documents
),
nz AS (
    SELECT doc_id, n_tok,
           CASE WHEN n_tok <= {CHUNK_TOKENS} THEN 1
                ELSE 1 + (n_tok - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
           END AS n_starts
    FROM base WHERE n_tok > 0
),
spec AS (
    SELECT doc_id, n_tok, unnest(range(0, n_starts)) AS chunk_idx FROM nz
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * {CHUNK_STRIDE} AS BIGINT) AS tok_start,
       CAST(least({CHUNK_TOKENS}, n_tok - chunk_idx * {CHUNK_STRIDE}) AS BIGINT) AS tok_len,
       chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS} >= n_tok AS is_tail
FROM spec
"""


EPOCH_TARGET_TOKENS = 50_000  # per-source token budget the mixture wants
MAX_EPOCHS = 4                # repeat cap (data-constrained scaling)


def repeat_epochs_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UP-SAMPLING LEDGER — the other half of data mixing (mixture_
    sample/temperature draw DOWN from big sources; scarce high-value
    sources get repeated for multiple EPOCHS instead). Per source:
    epochs = min(ceil(EPOCH_TARGET_TOKENS / source_tokens), MAX_EPOCHS)
    — repeat until the target token budget is met or the repeat cap
    bites (repeating data beyond a few epochs has sharply diminishing
    returns, so the cap is first-class, and the shortfall column says
    what the cap cost). effective_tokens = tokens * epochs is the
    number the final mixture table sums. Integer-exact throughout.

    Scale shape: one partial-agg pass to |sources| rows, then pure
    row math — the physical repeat is a later map (explode(sequence(1,
    epochs))) that never needs to materialize here."""
    docs = load(spark, sf_dir, "documents")
    return repeat_epochs_finish(repeat_epochs_fold(docs))


def repeat_epochs_fold(docs: DataFrame) -> DataFrame:
    """The per-source (docs, tokens) fold — the only aggregation in the
    ledger, shared VERBATIM with the streaming twin (which runs it as a
    complete-mode streaming agg, |sources| groups of state, and applies
    repeat_epochs_finish batch-side on the memory table)."""
    return (
        docs.select("source", F.size(tokens_col("text")).cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
        )
    )


def repeat_epochs_finish(per_src: DataFrame) -> DataFrame:
    """Pure row math over the fold: epochs under the cap, effective
    tokens, and the cap's shortfall."""
    epochs = F.least(
        F.expr(f"(({EPOCH_TARGET_TOKENS} + tokens - 1) div tokens)"),
        F.lit(MAX_EPOCHS),
    )
    return per_src.filter(F.col("tokens") > 0).select(
        "source",
        "docs",
        "tokens",
        epochs.cast("long").alias("epochs"),
        (F.col("tokens") * epochs).cast("long").alias("effective_tokens"),
        F.greatest(
            F.lit(EPOCH_TARGET_TOKENS) - F.col("tokens") * epochs, F.lit(0)
        )
        .cast("long")
        .alias("shortfall"),
    )


ORACLE_REPEAT_EPOCHS = f"""
WITH per_src AS (
    SELECT source, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(len({{T}})) AS BIGINT) AS tokens
    FROM documents GROUP BY 1
),
e AS (
    SELECT source, docs, tokens,
           least(({EPOCH_TARGET_TOKENS} + tokens - 1) // tokens, {MAX_EPOCHS}) AS epochs
    FROM per_src WHERE tokens > 0
)
SELECT source, docs, tokens, CAST(epochs AS BIGINT) AS epochs,
       CAST(tokens * epochs AS BIGINT) AS effective_tokens,
       CAST(greatest({EPOCH_TARGET_TOKENS} - tokens * epochs, 0) AS BIGINT) AS shortfall
FROM e
"""

ORACLE_CHUNK_OVERLAP = ORACLE_CHUNK_OVERLAP.format(T=_SHUF_T)
ORACLE_REPEAT_EPOCHS = ORACLE_REPEAT_EPOCHS.format(T=_SHUF_T)


def pretrain_gate(docs: DataFrame) -> DataFrame:
    """Stage 1 of the pretrain-build capstone — the quality gate (the
    SAME terms as text_quality_scores / curation_dataset_card: token
    count in [MIN_TOKENS, MAX_TOKENS], >=1 stopword). Pure per-row
    expression math, shared VERBATIM by the batch entry and the
    streaming twin, so the two engines cannot drift on gate semantics.
    Returns the surviving (doc_id, text) rows."""
    from flink_gmall_spark.operators.textstats import (
        MAX_TOKENS,
        MIN_TOKENS,
        STOPWORDS,
    )

    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    base = docs.select(
        "doc_id",
        "text",
        tokens_col("text").alias("t"),
    ).select(
        "doc_id",
        "text",
        F.size("t").cast("long").alias("n_tokens"),
        F.expr(f"size(filter(t, x -> array_contains(array({stop_arr}), x)))")
        .cast("long")
        .alias("stop_ct"),
    )
    return base.filter(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("n_tokens") <= MAX_TOKENS)
        & (F.col("stop_ct") >= 1)
    ).select("doc_id", "text")


def pretrain_finish(deduped: DataFrame) -> DataFrame:
    """Stages 3-5 of the pretrain-build capstone — sliding-window
    chunking (chunk_spec_transform, shared verbatim with its standalone
    entry), seeded-hash shard assignment (the curation_global_shuffle
    key), and the per-shard delivery ledger. Shared VERBATIM by the
    batch entry and the streaming twin; input is the deduped
    (doc_id, text) corpus, whichever engine produced it."""
    chunks = chunk_spec_transform(deduped)
    sharded = chunks.withColumn(
        "shard",
        F.expr(
            f"substring(md5(concat('{SHUFFLE_SEED}', CAST(doc_id AS STRING))), 1, 1)"
        ),
    )
    return sharded.groupBy("shard").agg(
        F.countDistinct("doc_id").cast("long").alias("docs"),
        F.count(F.lit(1)).alias("chunks"),
        F.sum("tok_len").cast("long").alias("tokens"),
    )


def pretrain_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CAPSTONE COMPOSITION — a pretraining data build end to end in
    one declarative DAG, each stage a primitive this repo ships and
    oracle-checks standalone: (1) the quality gate (pretrain_gate,
    shared verbatim with the streaming twin); (2) exact dedup keeping
    the smallest doc_id per md5(text) (dedup_exact's policy);
    (3) sliding-window chunking (chunk_spec_transform, shared verbatim
    with its standalone entry); (4) seeded-hash shard assignment (the
    curation_global_shuffle key); (5) the per-shard delivery ledger
    (docs, chunks, tokens) a training job consumes — stages 3-5 via
    pretrain_finish, shared verbatim with the streaming twin.

    Scale shape: one corpus scan; the only shuffles are the dedup
    window on the 128-bit hash and the final 16-group aggregation — the
    chunk explode and shard key are pure maps between them. Every stage
    is deterministic (hash-keyed, integer arithmetic), so a re-run or a
    backfill produces the byte-identical build — the property that lets
    the shard manifests be content-addressed."""
    docs = load(spark, sf_dir, "documents")
    gated = pretrain_gate(docs)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        gated.withColumn("hrank", F.row_number().over(w))
        .filter(F.col("hrank") == 1)
        .select("doc_id", "text")
    )
    return pretrain_finish(deduped)


ORACLE_PRETRAIN_BUILD = f"""
WITH base AS (
    SELECT doc_id, text, CAST(len({{T}}) AS BIGINT) AS n_tokens,
           CAST(len(list_filter({{T}}, x -> list_contains([{{STOPS}}], x)))
                AS BIGINT) AS stop_ct
    FROM documents
),
gated AS (
    SELECT doc_id, text FROM base
    WHERE n_tokens >= {{MIN}} AND n_tokens <= {{MAX}} AND stop_ct >= 1
),
deduped AS (
    SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS hrank
        FROM gated
    ) WHERE hrank = 1
),
toks2 AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '{{RE}}'),
                                x -> x <> '')) AS BIGINT) AS n_tok
    FROM deduped
),
nz AS (
    SELECT doc_id, n_tok,
           CASE WHEN n_tok <= {CHUNK_TOKENS} THEN 1
                ELSE 1 + (n_tok - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
           END AS n_starts
    FROM toks2 WHERE n_tok > 0
),
spec AS (
    SELECT doc_id, n_tok, unnest(range(0, n_starts)) AS chunk_idx FROM nz
),
chunks AS (
    SELECT doc_id,
           least({CHUNK_TOKENS}, n_tok - chunk_idx * {CHUNK_STRIDE}) AS tok_len,
           substring(md5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard
    FROM spec
)
SELECT shard, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs,
       CAST(count(*) AS BIGINT) AS chunks,
       CAST(sum(tok_len) AS BIGINT) AS tokens
FROM chunks
GROUP BY 1
"""

from flink_gmall_spark.functions.tokenize import TOKEN_SPLIT_RE as _PB_RE  # noqa: E402
from flink_gmall_spark.operators.textstats import (  # noqa: E402
    _DUCK_STOPS as _PB_STOPS,
    _DUCK_T as _PB_T,
    MAX_TOKENS as _PB_MAX,
    MIN_TOKENS as _PB_MIN,
)

ORACLE_PRETRAIN_BUILD = ORACLE_PRETRAIN_BUILD.format(
    T=_PB_T, STOPS=_PB_STOPS, MIN=_PB_MIN, MAX=_PB_MAX, RE=_PB_RE
)


# --- Curriculum staging (round 10) -------------------------------------------

CURRICULUM_STAGES = 4  # equal-frequency quality stages, highest-score first


def _quality_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_tokens, score) — the stopword-ratio fluency
    score (quality_scores' stop_ratio_x1000 term) shared VERBATIM by
    curriculum_stages and preference_pairs so the two ranking consumers
    cannot drift on what "quality" means."""
    from flink_gmall_spark.operators.textstats import STOPWORDS

    stop_arr = ", ".join(f"'{s}'" for s in STOPWORDS)
    return docs.select(
        "doc_id",
        "source",
        tokens_col("text").alias("t"),
    ).select(
        "doc_id",
        "source",
        F.size("t").cast("long").alias("n_tokens"),
        F.expr(f"size(filter(t, x -> array_contains(array({stop_arr}), x)))")
        .cast("long")
        .alias("stop_ct"),
    ).select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(
            "CASE WHEN n_tokens = 0 THEN 0"
            " ELSE (1000 * stop_ct) DIV n_tokens END"
        )
        .cast("long")
        .alias("score"),
    )


def curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM SCHEDULE — split the corpus into CURRICULUM_STAGES
    equal-frequency stages by a quality score (stopword-ratio fluency
    proxy, the quality_scores term), highest quality first: the
    "clean data early, tail data late" ordering curriculum-learning
    recipes feed a trainer. Output is the per-stage delivery ledger
    (docs, tokens, score range).

    Scale shape — a DISTRIBUTED ntile, not a global sort: the score
    domain is bounded (integer x1000 ratio, <=1001 values), so the
    stage boundary arithmetic runs on the tiny per-score histogram
    (one partial-agg scan + a window over <=1001 rows), and each doc's
    global rank = (docs with a higher score) + (its doc_id rank within
    its own score value). The only corpus-sized operations are one
    aggregation and one bounded-key window; nothing global-sorts the
    corpus. Stage sizes follow SQL-standard NTILE (first N mod S
    stages take the extra row), and the oracle IS the textbook
    ntile(S) OVER (ORDER BY score DESC, doc_id) — the hash match
    proves the distributed form equals the single-sort form. At
    extreme skew (one score value holding a whole stage) the in-score
    rank window keys would widen to a composite score; documented, not
    hit at fixture scales (the skew bound is property-tested —
    tests/test_properties.py — and recorded in SCALE.md)."""
    docs = load(spark, sf_dir, "documents")
    return curriculum_finish(curriculum_scored(docs))


def curriculum_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, score) — curriculum_finish's input. Pure
    per-row scoring, so on the stream it runs at ingest in append mode
    with ZERO state; the stage boundaries need rank windows, which
    cannot follow an append stream, so curriculum_finish runs
    batch-side on the drained table."""
    return _quality_scored(docs).select("doc_id", "n_tokens", "score")


def curriculum_finish(base: DataFrame) -> DataFrame:
    """Stage assignment + per-stage ledger over the scored corpus
    (doc_id, n_tokens, score) — the distributed-ntile arithmetic of
    curriculum_stages, shared VERBATIM by the batch entry and the
    streaming twin so the two cannot drift on boundary semantics."""
    hist = base.groupBy("score").agg(F.count(F.lit(1)).alias("ct"))
    w_cum = (
        Window.orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # cum_before AND the corpus total ride the same tiny histogram —
    # ONE hist subtree, ONE broadcast join (the preference_pairs idiom;
    # a separate base.agg() total would re-scan the corpus a third time)
    # the join key re-aliases (fresh exprIds): base and hist descend from
    # the SAME relation, and when that relation is a memory-table view
    # (the streaming twin) the self-join otherwise fails analysis with
    # "conflicting references"
    cum = hist.select(
        F.col("score").alias("score"),
        F.coalesce(F.sum("ct").over(w_cum), F.lit(0)).alias("cum_before"),
        F.sum("ct").over(Window.partitionBy()).cast("long").alias("n_total"),
    )
    w_in = Window.partitionBy("score").orderBy("doc_id")
    S = CURRICULUM_STAGES
    staged = (
        base.withColumn("rk_in", F.row_number().over(w_in).cast("long"))
        .join(F.broadcast(cum), "score")
        .withColumn("grank", F.col("cum_before") + F.col("rk_in"))
        .withColumn(
            "stage",
            F.expr(
                f"CASE WHEN grank <= (n_total % {S}) * (n_total DIV {S} + 1)"
                f" THEN 1 + (grank - 1) DIV (n_total DIV {S} + 1)"
                f" ELSE 1 + (n_total % {S}) +"
                f" (grank - (n_total % {S}) * (n_total DIV {S} + 1) - 1)"
                f" DIV greatest(n_total DIV {S}, 1) END"
            ).cast("long"),
        )
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("score").cast("long").alias("min_score"),
        F.max("score").cast("long").alias("max_score"),
    )


ORACLE_CURRICULUM_STAGES = """
WITH base AS (
    SELECT doc_id,
           CAST(len({T}) AS BIGINT) AS n_tokens,
           CAST(len(list_filter({T}, x -> list_contains([{STOPS}], x)))
                AS BIGINT) AS stop_ct
    FROM documents
),
scored AS (
    SELECT doc_id, n_tokens,
           CAST(CASE WHEN n_tokens = 0 THEN 0
                ELSE (1000 * stop_ct) // n_tokens END AS BIGINT) AS score
    FROM base
),
staged AS (
    SELECT n_tokens, score,
           ntile({S}) OVER (ORDER BY score DESC, doc_id ASC) AS stage
    FROM scored
)
SELECT CAST(stage AS BIGINT) AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(min(score) AS BIGINT) AS min_score,
       CAST(max(score) AS BIGINT) AS max_score
FROM staged
GROUP BY 1
"""

from flink_gmall_spark.operators.textstats import _DUCK_STOPS as _CUR_STOPS  # noqa: E402

ORACLE_CURRICULUM_STAGES = ORACLE_CURRICULUM_STAGES.format(
    T=_PB_T, STOPS=_CUR_STOPS, S=CURRICULUM_STAGES
)


PREF_MIN_GAP = 1  # drop pairs whose quality scores tie — no training signal


def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR MINING — the contrastive/preference training-data
    mechanic: within each source, rank documents by the quality score
    (_quality_scored, shared verbatim with curriculum_stages) and pair
    rank i with rank n+1-i (best with worst, second-best with
    second-worst, ...), keeping pairs with a positive score gap. Output
    is the (chosen, rejected, gap) table a reward-model or DPO-style
    data build consumes; the nested pairing maximizes the minimum gap
    across pairs for a given ranking, and everything is deterministic
    (integer score, doc_id tiebreak) — a re-run mines byte-identical
    pairs.

    Scale shape — the curriculum_stages DISTRIBUTED-rank trick, per
    source: the score domain is bounded (<= 1001 integer values), so
    each doc's per-source global rank = (docs with a higher score in
    this source, from the broadcast (source, score) histogram) + (its
    doc_id rank within its own (source, score) group). No per-source
    global sort; the pairing itself is one equi-join on
    (source, pair_id). The oracle is the textbook row_number form —
    the hash match proves the distributed form equals it (skew bound
    property-tested, tests/test_properties.py; recorded in SCALE.md)."""
    docs = load(spark, sf_dir, "documents")
    return preference_finish(preference_scored(docs))


def preference_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, source, score) — preference_finish's input: the same
    zero-state, append-mode ingest scoring as curriculum_scored; the
    per-source rank and pairing run batch-side on the drained table."""
    return _quality_scored(docs).select("doc_id", "source", "score")


def preference_finish(base: DataFrame) -> DataFrame:
    """Per-source distributed rank + nested pairing over the scored
    corpus (doc_id, source, score) — the pairing arithmetic of
    preference_pairs, shared VERBATIM by the batch entry and the
    streaming twin so the two cannot drift on rank or gap semantics."""
    hist = base.groupBy("source", "score").agg(F.count(F.lit(1)).alias("ct"))
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.desc("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # cum_before AND the per-source total ride the same tiny histogram
    # windows — ONE hist subtree, ONE broadcast join (a separate ntot
    # aggregate would re-scan the corpus for the same numbers)
    # key re-aliases for the same conflicting-references reason as
    # curriculum_finish (memory-table view self-join in the stream twin)
    cum = hist.select(
        F.col("source").alias("source"),
        F.col("score").alias("score"),
        F.coalesce(F.sum("ct").over(w_cum), F.lit(0)).alias("cum_before"),
        F.sum("ct").over(Window.partitionBy("source")).alias("n"),
    )
    w_in = Window.partitionBy("source", "score").orderBy("doc_id")
    ranked = (
        base.withColumn("rk_in", F.row_number().over(w_in).cast("long"))
        .join(F.broadcast(cum), ["source", "score"])
        .withColumn("grank", F.col("cum_before") + F.col("rk_in"))
        .withColumn(
            "pair_id", F.least(F.col("grank"), F.col("n") + 1 - F.col("grank"))
        )
    )
    # Single-pass pairing (review r10): a chosen-vs-rejected SELF-JOIN
    # evaluates the whole tokenize/score/rank subtree twice; instead fold
    # both sides of each pair in ONE groupBy on (source, pair_id) with
    # conditional aggregates — each group holds exactly the rank-i and
    # rank-(n+1-i) rows. An odd source's middle element (grank*2 == n+1)
    # matches neither condition, leaves NULLs, and the gap filter drops
    # its group.
    is_chosen = F.col("grank") * 2 < F.col("n") + 1
    is_rejected = F.col("grank") * 2 > F.col("n") + 1
    paired = ranked.groupBy("source", F.col("pair_id").cast("long").alias("pair_id")).agg(
        F.max(F.when(is_chosen, F.col("doc_id"))).alias("chosen_doc"),
        F.max(F.when(is_chosen, F.col("score"))).alias("cs"),
        F.max(F.when(is_rejected, F.col("doc_id"))).alias("rejected_doc"),
        F.max(F.when(is_rejected, F.col("score"))).alias("rs"),
    )
    return (
        paired.withColumn("gap", (F.col("cs") - F.col("rs")).cast("long"))
        .filter(F.col("gap") >= PREF_MIN_GAP)
        .select("source", "pair_id", "chosen_doc", "rejected_doc", "gap")
    )


ORACLE_PREFERENCE_PAIRS = """
WITH base AS (
    SELECT doc_id, source,
           CAST(len({T}) AS BIGINT) AS n_tokens,
           CAST(len(list_filter({T}, x -> list_contains([{STOPS}], x)))
                AS BIGINT) AS stop_ct
    FROM documents
),
scored AS (
    SELECT doc_id, source,
           CAST(CASE WHEN n_tokens = 0 THEN 0
                ELSE (1000 * stop_ct) // n_tokens END AS BIGINT) AS score
    FROM base
),
ranked AS (
    SELECT doc_id, source, score,
           row_number() OVER (PARTITION BY source
                              ORDER BY score DESC, doc_id ASC) AS rk,
           count(*) OVER (PARTITION BY source) AS n
    FROM scored
),
c AS (
    SELECT source, CAST(rk AS BIGINT) AS pair_id,
           doc_id AS chosen_doc, score AS cs
    FROM ranked WHERE 2 * rk < n + 1
),
r AS (
    SELECT source, CAST(n + 1 - rk AS BIGINT) AS pair_id,
           doc_id AS rejected_doc, score AS rs
    FROM ranked WHERE 2 * rk > n + 1
)
SELECT c.source, c.pair_id, c.chosen_doc, r.rejected_doc,
       CAST(c.cs - r.rs AS BIGINT) AS gap
FROM c JOIN r ON c.source = r.source AND c.pair_id = r.pair_id
WHERE c.cs - r.rs >= {MIN_GAP}
"""

ORACLE_PREFERENCE_PAIRS = ORACLE_PREFERENCE_PAIRS.format(
    T=_PB_T, STOPS=_CUR_STOPS, MIN_GAP=PREF_MIN_GAP
)


# --- DSIR-style importance resampling (round 11) ------------------------------
#
# Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
# estimate per-hashed-n-gram-bucket importance weights from a target
# domain sample vs the raw corpus, score every document, and resample
# proportionally. This is the INTEGER-EXACT variant in the repo's parity
# conventions: bucket probabilities at a x100000 grain (Laplace
# smoothed), the per-doc score an arithmetic-mean weight x1000 (DSIR's
# log-ratio sum replaced by the linear-grain ratio mean so both engines
# agree bit-for-bit; same keep-the-target-like ordering in the smooth
# regime, documented as the proxy it is), and the resample draw a
# deterministic md5 32-bit uniform per doc_id.

DSIR_TARGET_SOURCE = "src0"  # the target-domain slice of the fixture
DSIR_P_SCALE = 100_000  # bucket-probability grain; (cnt+1)*1e5 < 2^63
#   up to ~9e13 tokens per side — an order past a 100 TB text corpus
DSIR_W_SCALE = 1000  # weight/score grain: w = 1000 * p_tgt / p_raw
DSIR_W_CAP = 2 * DSIR_W_SCALE  # keep-prob cap: >=2x target-like => always keep
DSIR_SEED = "dsir:"  # md5 domain separation for the resample draw
_DSIR_U32 = 4294967296  # the 8-hex-digit uniform's range (2^32)


def dsir_weight_table(docs: DataFrame) -> DataFrame:
    """(bucket, raw_ct, tgt_ct, w_x1000) for EVERY bucket 1..HASH_DIM —
    the trained artifact of the DSIR estimator. One tokenized corpus
    pass: raw and target counts fold in the same 256-key aggregation as
    conditional sums (map-side partials, so the shuffle moves <=256 rows
    per task); totals and the smoothed ratio ride a window over the
    256-row table. Buckets the corpus never hit still appear (literal
    range left-join) with the smoothing floor, so the serve-side array
    lookup is total."""
    return dsir_weight_finish(_dsir_counts(docs))


def _dsir_counts(docs: DataFrame) -> DataFrame:
    """The 256-key conditional count aggregation — shared VERBATIM by
    the batch estimator and the streaming twin (complete-mode
    streamable: <= HASH_DIM keys x 2 counters of state)."""
    from flink_gmall_spark.operators.textstats import HASH_IDX_SPARK

    return (
        docs.select("source", F.explode(tokens_col("text")).alias("tok"))
        .select(
            F.expr(HASH_IDX_SPARK.format(tok="tok")).cast("long").alias("bucket"),
            (F.col("source") == DSIR_TARGET_SOURCE).alias("is_t"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("raw_ct"),
            F.sum(F.when(F.col("is_t"), 1).otherwise(0))
            .cast("long")
            .alias("tgt_ct"),
        )
    )


def dsir_weight_finish(counts: DataFrame) -> DataFrame:
    """Bucket fill + totals + smoothed-ratio weight over the <=256-row
    count table — shared VERBATIM by the batch estimator and the
    streaming twin (window math cannot follow a streaming aggregation
    in one query)."""
    from flink_gmall_spark.operators.textstats import HASH_DIM

    all_b = counts.sparkSession.range(1, HASH_DIM + 1).select(
        F.col("id").cast("long").alias("bucket")
    )
    full = all_b.join(F.broadcast(counts), "bucket", "left").select(
        "bucket",
        F.coalesce("raw_ct", F.lit(0)).cast("long").alias("raw_ct"),
        F.coalesce("tgt_ct", F.lit(0)).cast("long").alias("tgt_ct"),
    )
    w_all = Window.partitionBy()
    return full.select(
        "bucket",
        "raw_ct",
        "tgt_ct",
        F.sum("raw_ct").over(w_all).alias("raw_tot"),
        F.sum("tgt_ct").over(w_all).alias("tgt_tot"),
    ).select(
        "bucket",
        "raw_ct",
        "tgt_ct",
        F.expr(
            f"({DSIR_W_SCALE} * (({DSIR_P_SCALE} * (tgt_ct + 1))"
            f" DIV (tgt_tot + {HASH_DIM})))"
            f" DIV greatest(({DSIR_P_SCALE} * (raw_ct + 1))"
            f" DIV (raw_tot + {HASH_DIM}), 1)"
        )
        .cast("long")
        .alias("w_x1000"),
    )


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch entry over dsir_weight_table — the 256-row weight table a
    deployment broadcasts to its ingest filters; pinned as its own hash
    contract so estimator regressions are localizable."""
    return dsir_weight_table(load(spark, sf_dir, "documents"))


def _dsir_warr(docs: DataFrame) -> DataFrame:
    """The weight table folded into ONE array row ordered by bucket —
    the broadcastable serve-side artifact (element_at(warr, idx) is the
    whole per-token lookup; buckets are exactly 1..HASH_DIM)."""
    return dsir_weight_table(docs).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(bucket, w_x1000))),"
            " s -> s.w_x1000)"
        ).alias("warr")
    )


def _dsir_scored(docs: DataFrame, warr: DataFrame) -> DataFrame:
    """(doc_id, source, n_tok, score, keep) — serve-side scoring + the
    deterministic resample draw, shared VERBATIM by the batch entry and
    the streaming twin. The weight array arrives on a constant join key
    (broadcast; stream-static-safe), each document scores in one JVM
    fold over its tokens (the hashed_classifier serving shape with
    LEARNED weights), and the keep decision compares a 32-bit md5
    uniform against min(score, W_CAP)/W_CAP in exact integers (both
    products stay under 2^45)."""
    from flink_gmall_spark.operators.textstats import HASH_IDX_SPARK

    idx = HASH_IDX_SPARK.format(tok="tok")
    toks = docs.select(
        "doc_id", "source", tokens_col("text").alias("t")
    ).filter(F.size("t") > 0)
    scored = (
        toks.withColumn("one", F.lit(1))
        .join(F.broadcast(warr.withColumn("one", F.lit(1))), "one")
        .select(
            "doc_id",
            "source",
            F.size("t").cast("long").alias("n_tok"),
            F.expr(
                f"aggregate(transform(t, tok -> element_at(warr,"
                f" CAST(({idx}) AS INT))),"
                " cast(0 as bigint), (acc, x) -> acc + x)"
            ).alias("wsum"),
        )
        .withColumn("score", F.expr("wsum DIV n_tok").cast("long"))
    )
    u32 = (
        f"CAST(conv(substring(md5(concat('{DSIR_SEED}',"
        f" CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    )
    return scored.withColumn(
        "keep",
        F.expr(
            f"{u32} * {DSIR_W_CAP}"
            f" < least(score, CAST({DSIR_W_CAP} AS BIGINT)) * {_DSIR_U32}"
        ),
    )


def _dsir_ledger(dec: DataFrame) -> DataFrame:
    """Per-source delivery ledger over the scored+decided rows — shared
    VERBATIM by the batch entry and the streaming twin (the one
    aggregation, complete-mode streamable on the bounded source key)."""
    agg = dec.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum("n_tok").cast("long").alias("tokens"),
        F.sum(F.when(F.col("keep"), F.col("n_tok")).otherwise(0))
        .cast("long")
        .alias("kept_tokens"),
        F.sum("score").cast("long").alias("score_sum"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_kept",
        "tokens",
        "kept_tokens",
        F.expr("score_sum DIV n_docs").cast("long").alias("mean_score_x1000"),
    )


def importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-STYLE IMPORTANCE RESAMPLING — the estimate-then-apply data
    selection job: hashed-bucket importance weights estimated from the
    target-domain slice vs the raw corpus (dsir_weight_table), every
    document scored by its mean bucket weight, and a deterministic
    md5-uniform draw keeping each doc with probability
    min(score, W_CAP)/W_CAP — target-like documents survive
    preferentially. Output is the per-source ledger (docs/kept/token
    masses/mean score) a mixture owner reads.

    Scale shape: the honest TWO corpus passes of any estimate-then-apply
    job — one tokenized pass folding into the 256-key count aggregation,
    one serve pass scoring each doc in a single JVM fold against the
    broadcast 256-long weight array (zero per-token shuffle; the only
    other exchange is the bounded per-source ledger fold). Every number
    is BIGINT-exact, so re-runs and backfills select the byte-identical
    subset."""
    docs = load(spark, sf_dir, "documents")
    return _dsir_ledger(_dsir_scored(docs, _dsir_warr(docs)))


from flink_gmall_spark.functions.tokenize import TOKEN_SPLIT_RE as _DSIR_RE  # noqa: E402
from flink_gmall_spark.operators.textstats import (  # noqa: E402
    HASH_DIM as _DSIR_DIM,
    HASH_IDX_DUCK as _DSIR_IDX_DUCK,
)

_DUCK_DSIR_WEIGHT_CTES = f"""
toks AS (
    SELECT doc_id, source,
           list_filter(string_split_regex(lower(text), '{_DSIR_RE}'),
                       x -> x <> '') AS t
    FROM documents
),
tok_rows AS (SELECT doc_id, source, unnest(t) AS tok FROM toks),
bucketed AS (
    SELECT doc_id, source,
           CAST({_DSIR_IDX_DUCK.format(tok='tok')} AS BIGINT) AS bucket
    FROM tok_rows
),
counts AS (
    SELECT bucket, CAST(count(*) AS BIGINT) AS raw_ct,
           CAST(count(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 END)
                AS BIGINT) AS tgt_ct
    FROM bucketed GROUP BY 1
),
allb AS (SELECT CAST(unnest(range(1, {_DSIR_DIM} + 1)) AS BIGINT) AS bucket),
filled AS (
    SELECT a.bucket, COALESCE(c.raw_ct, 0) AS raw_ct,
           COALESCE(c.tgt_ct, 0) AS tgt_ct
    FROM allb a LEFT JOIN counts c ON a.bucket = c.bucket
),
tot AS (SELECT sum(raw_ct) AS raw_tot, sum(tgt_ct) AS tgt_tot FROM filled),
weights AS (
    SELECT bucket, raw_ct, tgt_ct,
           CAST(({DSIR_W_SCALE} * (({DSIR_P_SCALE} * (tgt_ct + 1))
                 // (tgt_tot + {_DSIR_DIM})))
                // greatest(({DSIR_P_SCALE} * (raw_ct + 1))
                            // (raw_tot + {_DSIR_DIM}), 1) AS BIGINT) AS w_x1000
    FROM filled, tot
)"""

ORACLE_DSIR_WEIGHTS = f"""
WITH {_DUCK_DSIR_WEIGHT_CTES}
SELECT bucket, raw_ct, tgt_ct, w_x1000 FROM weights
"""

ORACLE_IMPORTANCE_RESAMPLE = f"""
WITH {_DUCK_DSIR_WEIGHT_CTES},
scored AS (
    SELECT b.doc_id, min(b.source) AS source,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(w.w_x1000) AS BIGINT) AS wsum
    FROM bucketed b JOIN weights w ON b.bucket = w.bucket
    GROUP BY b.doc_id
),
dec AS (
    SELECT source, n_tok, wsum // n_tok AS score,
           CAST(('0x' || substring(md5('{DSIR_SEED}'
                || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS BIGINT)
               * {DSIR_W_CAP}
             < least(wsum // n_tok, {DSIR_W_CAP}) * {_DSIR_U32} AS keep
    FROM scored
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
       CAST(sum(n_tok) AS BIGINT) AS tokens,
       CAST(COALESCE(sum(CASE WHEN keep THEN n_tok END), 0) AS BIGINT)
           AS kept_tokens,
       CAST(sum(score) // count(*) AS BIGINT) AS mean_score_x1000
FROM dec GROUP BY 1
"""


# =============================================================================
# Unigram-LM tokenizer training (round 14) — the SentencePiece-style
# counterpart to the BPE trio above (Kudo 2018, "Subword Regularization:
# Improving Neural Network Translation Models with Multiple Subword
# Candidates"). Deterministic Viterbi-EM: seed a substring vocabulary
# from the corpus dictionary, then alternate (E) Viterbi-segment every
# dictionary word under the current piece scores and (M) re-estimate
# piece scores from the freq-weighted segment counts, a fixed
# UNIGRAM_EM_ITERS times so the oracle can unroll the same rounds as
# CTE stages (the _bpe_stage_ctes discipline). Hard-EM (Viterbi counts,
# not forward-backward posteriors) keeps every quantity integer-exact:
# scores are floor-scaled log-probabilities (floor(ln(ct)*1e6) -
# floor(ln(total)*1e6), the ZIPF/ENTROPY ln convention), and the DP
# compares integer path costs, so both engines agree bit-for-bit.
#
# Scale shape (100 TB): everything runs over the DISTINCT-WORD
# dictionary (one partial-agg corpus pass), never the token stream —
# the same trick the BPE trainer uses. Per EM round: one equi-join of
# the candidate table (dictionary x <=L*4 substrings) against the
# vocabulary on the piece, one per-word rollup, and a per-ROW O(L^2)
# DP fold (L = word length, bounded by real-language word lengths) —
# zero driver collects, zero cross joins; the vocabulary is
# vocabulary-sized at any corpus scale. Applying the tokenizer to a
# corpus is a broadcast join on the word (unigram_fertility_vs_bpe),
# identical to bpe_token_budget's serve path.
# =============================================================================

UNIGRAM_MAX_PIECE = 4  # max piece length (chars) in the seed vocabulary
UNIGRAM_SEED_MULTI = 200  # multi-char seed pieces kept (top by count)
UNIGRAM_EM_ITERS = 2  # fixed EM rounds (oracle unrolls the same)
UNIGRAM_LN_SCALE = 1_000_000  # ln floor-scaled to BIGINT (ZIPF convention)
# Unreachable-position sentinel. Real path costs are bounded by
# L_word * ln(total)*SCALE ~ 2e11 for absurd 10k-char words, so a
# sentinel-prefixed path can never beat a real one, and -1e15 * 64
# chains stay far inside BIGINT. DIVISIBLE BY 64 by construction
# (10^15 = 2^15·5^15): an unreachable position decodes ln = 0, which
# stalls the backtrack walk harmlessly.
UNIGRAM_NEG_INF = -(10**15)
# Taint clamp: a DP step whose PREFIX cost is below this is a path
# through an unreachable position — propagate the EXACT sentinel
# instead of sentinel+score (otherwise a word with an unreachable
# prefix but matchable suffix would backtrack PARTIAL pieces under a
# pruned vocabulary, and the sweep would count it covered — caught by
# the Python-mirror test). Real costs stay above -2e11; the decoded
# sentinel is ~ -1.56e13.
UNIGRAM_TAINT = -(10**13)


def _ug_lnfloor(col: str) -> str:
    """floor(ln(col) * SCALE) as BIGINT — identical spelling in both
    engines (the textstats ZIPF/ENTROPY ln-parity convention)."""
    return (
        f"CAST(floor(ln(CAST({col} AS DOUBLE))"
        f" * CAST({UNIGRAM_LN_SCALE} AS DOUBLE)) AS BIGINT)"
    )


# Candidate geometry of one word — every substring of length
# 1..UNIGRAM_MAX_PIECE with its 1-indexed end position. A module
# constant (not inlined) so the batch dictionary path and the
# streaming ingest twin explode the IDENTICAL expression.
_UG_CANDS = (
    "flatten(transform(sequence(1, length(w)), st ->"
    f" transform(sequence(1, least({UNIGRAM_MAX_PIECE},"
    " length(w) - st + 1)), ln ->"
    " struct(st + ln - 1 AS en, ln AS ln,"
    " substring(w, st, ln) AS piece))))"
)


def _unigram_candidates(docs: DataFrame) -> DataFrame:
    """(w, freq, en, ln, piece): every substring of length
    1..UNIGRAM_MAX_PIECE of every dictionary word, with its 1-indexed
    end position — the iteration-INDEPENDENT candidate table (piece
    scores change across EM rounds; the candidate geometry does not).
    Domain = _bpe_dictionary, shared with the BPE trio so the two
    tokenizers train on the same words."""
    return (
        _bpe_dictionary(docs)
        .select("w", "freq", F.explode(F.expr(_UG_CANDS)).alias("c"))
        .select("w", "freq", "c.en", "c.ln", "c.piece")
    )


def _unigram_score(ct_df: DataFrame) -> DataFrame:
    """(piece, ct) -> (piece, ct, score): floor-scaled log-probability
    against the table's own total — ONE pass via a global window (the
    frame is vocabulary-sized, so the single-partition window is a
    few-KB sort at any corpus scale, not a data move)."""
    return ct_df.select(
        "piece",
        "ct",
        (
            F.expr(_ug_lnfloor("ct")) - F.expr(_ug_lnfloor("sum(ct) OVER ()"))
        )
        .cast("long")
        .alias("score"),
    )


def _unigram_seed(cand: DataFrame) -> DataFrame:
    """Seed vocabulary: every single character (coverage — with all
    1-char pieces present every word stays segmentable, and by
    induction stays segmentable across EM rounds because a chosen
    piece always has count >= 1 and therefore survives the M-step),
    plus the top UNIGRAM_SEED_MULTI multi-char substrings by
    (freq-weighted occurrence count desc, piece asc) — the exact
    deterministic total order."""
    ct = cand.groupBy("piece").agg(F.sum("freq").cast("long").alias("ct"))
    kept = ct.filter(F.length("piece") == 1).unionByName(
        ct.filter(F.length("piece") > 1)
        .orderBy(F.desc("ct"), F.asc("piece"))
        .limit(UNIGRAM_SEED_MULTI)
    )
    return _unigram_score(kept)


# Viterbi DP over word positions 1..L: acc[p+1] = best path cost to
# prefix p, ENCODED as cost*64 + ln_of_last_piece (ln <= UNIGRAM_MAX_PIECE
# < 64, and integer costs differ by >= 1, so the encoding is order-
# preserving: max cost wins, cost ties break to the LONGER piece; two
# candidates ending at p with equal length are the same substring, so
# the argmax is total). Decode on read:
# lnv = ((k % 64) + 64) % 64 (floor-mod, negative-cost safe in both
# engines), cost = (k - lnv) DIV 64 (exact division). Appending via
# concat is O(L^2) per row in the worst case — L is a word length,
# not a document length, so the quadratic is capped at ~1e3 ops.
_UG_DP = f"""
aggregate(sequence(1, L), array(0L),
 (acc, i) -> concat(acc, array(coalesce(
   array_max(transform(filter(cands, c -> c.en = i),
     c -> CASE WHEN (element_at(acc, c.en - c.ln + 1)
            - ((element_at(acc, c.en - c.ln + 1) % 64) + 64) % 64) DIV 64
            <= {UNIGRAM_TAINT}L THEN {UNIGRAM_NEG_INF}L
          ELSE ((element_at(acc, c.en - c.ln + 1)
            - ((element_at(acc, c.en - c.ln + 1) % 64) + 64) % 64) DIV 64
           + c.score) * 64 + c.ln END)),
   {UNIGRAM_NEG_INF}L))))
"""

# Backtrack: walk ln-s off the DP tail. The accumulator is ONLY the
# list of chosen piece lengths (rightmost piece first) — the cursor
# position is always L - sum(lns), so no struct accumulator is needed
# (DuckDB 1.0's list_reduce mutates struct accumulators field-by-field
# in place, which makes struct folds engine-divergent). DELIBERATELY
# BRANCH-FREE: once the cursor reaches 0 the step reads dp[1] = 0 and
# appends ln = 0, which leaves the position sum unchanged — the fold
# self-terminates into harmless zero steps without a CASE. (A CASE
# no-op guard here mis-lanes under DuckDB 1.0's vectorized
# list_reduce: rows nondeterministically took the ELSE branch after
# the walk finished, appending spurious zero-length pieces — observed
# on the sf0.001 fixture, different rows per threads= setting.) The
# consumers read only the positive entries.
_UG_LNS = """
filter(
  aggregate(sequence(1, L), CAST(array() AS array<bigint>),
   (acc, i) -> concat(acc, array(
     ((element_at(dp,
        CAST(L - coalesce(aggregate(acc, 0L, (s, v) -> s + v), 0L) AS INT) + 1)
       % 64) + 64) % 64))),
  v -> v > 0L)
"""

# lns (rightmost-first) -> the piece substrings: piece j ends at
# L - sum(lns[1..j-1]) and has length lns[j]. The empty-lns CASE guards
# an UNSEGMENTABLE word (possible only under a PRUNED vocabulary, the
# sweep): Spark's sequence(1, 0) steps DOWN to [1, 0] — the same trap
# the BPE pair explode guards — and element_at(lns, 0) throws under
# ANSI; DuckDB's range(1, 1) is [] and needs no guard.
_UG_PIECES = """
CASE WHEN size(lns) = 0 THEN CAST(array() AS array<string>)
ELSE transform(sequence(1, size(lns)),
 j -> substring(w,
       CAST(L - coalesce(aggregate(slice(lns, 1, j - 1), 0L,
                                   (s, v) -> s + v), 0L)
            - element_at(lns, j) + 1 AS INT),
       CAST(element_at(lns, j) AS INT))) END
"""


def _unigram_dp_finish(cw: DataFrame) -> DataFrame:
    """(w, freq, cands, L) -> (w, freq, pieces): the Viterbi DP +
    backtrack, PARAMETRIZED over where the candidate rows came from —
    the batch dictionary path and the streaming ingest twin feed the
    identical expressions (VERDICT r14 ask #4), so the two encoders
    cannot diverge."""
    return (
        cw.select("w", "freq", "L", F.expr(_UG_DP).alias("dp"))
        .select("w", "freq", "L", F.expr(_UG_LNS).alias("lns"))
        .select("w", "freq", F.expr(_UG_PIECES).alias("pieces"))
    )


def _unigram_segment(cand: DataFrame, vocab: DataFrame) -> DataFrame:
    """(w, freq, pieces): Viterbi segmentation of every dictionary word
    under the given piece scores — the E-step, and also the serve-time
    encoder. One piece-keyed equi-join + one per-word rollup + per-row
    folds; collect_list order does not matter (the DP's filter +
    array_max is order-insensitive)."""
    cw = (
        cand.join(vocab.select("piece", "score"), "piece")
        .groupBy("w", "freq")
        .agg(F.collect_list(F.struct("en", "ln", "score")).alias("cands"))
        .withColumn("L", F.length("w"))
    )
    return _unigram_dp_finish(cw)


def _unigram_mstep(seg: DataFrame) -> DataFrame:
    """Freq-weighted Viterbi piece counts -> re-scored vocabulary.
    Pieces a segmentation never chose drop out (Kudo's prune step, in
    its hard-EM form); chosen pieces always survive, which preserves
    segmentability round over round."""
    ct = (
        seg.select("freq", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("ct"))
    )
    return _unigram_score(ct)


def _unigram_vocab(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(cand, trained vocab) after UNIGRAM_EM_ITERS rounds."""
    cand = _unigram_candidates(docs)
    vocab = _unigram_seed(cand)
    for _ in range(UNIGRAM_EM_ITERS):
        vocab = _unigram_mstep(_unigram_segment(cand, vocab))
    return cand, vocab


def unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained unigram-LM vocabulary: (piece, ct, score_x1e6) after
    UNIGRAM_EM_ITERS Viterbi-EM rounds — the artifact a SentencePiece-
    style tokenizer ships (piece + log-probability), next to BPE's
    merge table (bpe_train_merges)."""
    docs = load(spark, sf_dir, "documents")
    _, vocab = _unigram_vocab(docs)
    return vocab.select(
        "piece", "ct", F.col("score").alias("score_x1e6")
    )


def unigram_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram SERVE side — segment the dictionary under the TRAINED
    vocabulary (one more Viterbi pass, exactly the deployment encoder)
    and report per-piece corpus usage: (piece, ct, n_words). Train→serve
    twin of unigram_train, mirroring bpe_encode_corpus."""
    docs = load(spark, sf_dir, "documents")
    cand, vocab = _unigram_vocab(docs)
    return _unigram_usage(_unigram_segment(cand, vocab))


def _unigram_usage(seg: DataFrame) -> DataFrame:
    """(w, freq, pieces) -> per-piece corpus usage (piece, ct, n_words)
    — the encode entries' output shape, shared by the batch and the
    streaming twin."""
    return (
        seg.select("w", "freq", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(
            F.sum("freq").cast("long").alias("ct"),
            F.countDistinct("w").cast("long").alias("n_words"),
        )
    )


def unigram_fertility_vs_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FERTILITY COMPARISON — unigram-LM vs BPE tokens-per-word by
    document language, both tokenizers trained on the SAME dictionary:
    the head-to-head a pipeline runs before choosing its tokenizer,
    because the two segment real words differently and fertility drives
    the token budget (bpe_fertility_by_lang's frame, with both columns).
    Serve path is dictionary-sized joins against the corpus word stream
    (broadcast while the vocab fits); OOV words (outside the trainer's
    /^[a-z]+$/ len>=2 domain) count 1 token under both — the shared
    byte-fallback tier."""
    docs = load(spark, sf_dir, "documents")
    cand, vocab = _unigram_vocab(docs)
    uni = _unigram_segment(cand, vocab).select(
        "w", F.size("pieces").cast("long").alias("n_uni")
    )
    bpe = _bpe_symbolized_dictionary(spark, sf_dir, docs).select(
        "w", F.size(F.split("s", " ")).cast("long").alias("n_bpe")
    )
    toks = docs.select("lang", F.explode(tokens_col("text")).alias("w"))
    j = (
        toks.join(uni, "w", "left")
        .join(bpe, "w", "left")
        .select(
            "lang",
            F.coalesce("n_uni", F.lit(1)).alias("n_uni"),
            F.coalesce("n_bpe", F.lit(1)).alias("n_bpe"),
        )
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_uni").cast("long").alias("n_unigram_tokens"),
        F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        F.expr("(1000 * sum(n_uni)) DIV count(1)")
        .cast("long")
        .alias("unigram_fertility_x1000"),
        F.expr("(1000 * sum(n_bpe)) DIV count(1)")
        .cast("long")
        .alias("bpe_fertility_x1000"),
    )


def _ug_duck_lnfloor(col: str) -> str:
    return (
        f"CAST(floor(ln(CAST({col} AS DOUBLE))"
        f" * CAST({UNIGRAM_LN_SCALE} AS DOUBLE)) AS BIGINT)"
    )


def _unigram_stage_ctes() -> list[str]:
    """The unigram trainer unrolled as DuckDB CTE stages (ugdict/ugcand
    seed geometry, ugv0 seed scores, then per EM round k: ugcw{k}
    candidate lists, ugdp{k} Viterbi fold, uglns{k} backtrack,
    ugseg{k} pieces, ugct{k} counts, ugv{k} re-scores) — the
    _bpe_stage_ctes discipline. The lambdas are the SAME folds the
    Spark expressions run; list_reduce's 2-arg form is seeded by
    prepending the DP seed to per-position dummy elements."""
    neg = UNIGRAM_NEG_INF
    stages = [
        f"""ugdict AS (
    SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest({_DUCK_T}) AS w FROM documents
    ) WHERE regexp_full_match(w, '[a-z]+') AND len(w) >= 2 GROUP BY w
)""",
        f"""ugcand AS (
    SELECT w, freq, CAST(st + ln - 1 AS INT) AS en, CAST(ln AS INT) AS ln,
           substring(w, CAST(st AS INT), CAST(ln AS INT)) AS piece
    FROM (SELECT w, freq, len(w) AS L FROM ugdict),
         UNNEST(range(1, L + 1)) AS a(st),
         UNNEST(range(1, {UNIGRAM_MAX_PIECE} + 1)) AS b(ln)
    WHERE ln <= L - st + 1
)""",
        """ugsd AS (
    SELECT piece, CAST(sum(freq) AS BIGINT) AS ct FROM ugcand GROUP BY piece
)""",
        f"""ugkeep AS (
    SELECT piece, ct FROM ugsd WHERE len(piece) = 1
    UNION ALL
    SELECT piece, ct FROM (
        SELECT piece, ct FROM ugsd WHERE len(piece) > 1
        ORDER BY ct DESC, piece ASC LIMIT {UNIGRAM_SEED_MULTI})
)""",
        f"""ugv0 AS (
    SELECT piece, ct,
           {_ug_duck_lnfloor('ct')}
           - {_ug_duck_lnfloor('sum(ct) OVER ()')} AS score
    FROM ugkeep
)""",
    ]
    for k in range(1, UNIGRAM_EM_ITERS + 1):
        stages.append(
            _ug_viterbi_ctes(f"ugi{k}", f"ugv{k - 1}")
            + f""",
ugct{k} AS (
    SELECT piece, CAST(sum(freq) AS BIGINT) AS ct
    FROM (SELECT freq, unnest(pieces) AS piece FROM ugi{k}seg) GROUP BY piece
),
ugv{k} AS (
    SELECT piece, ct,
           {_ug_duck_lnfloor('ct')}
           - {_ug_duck_lnfloor('sum(ct) OVER ()')} AS score
    FROM ugct{k}
)"""
        )
    return stages


def _ug_viterbi_ctes(p: str, vocab_cte: str) -> str:
    """The Viterbi-segmentation CTE chain — ugcand joined to
    ``vocab_cte``'s (piece, score), the DP fold, the branch-free
    backtrack, the piece reconstruction — names prefixed with ``p``
    ({p}cw/{p}dp/{p}lns/{p}seg). ONE definition reused by every EM
    round, the serve pass, and the vocab-size sweep (an unsegmentable
    word under a PRUNED vocabulary yields pieces = []: its DP tail is
    the NEG_INF sentinel, which is divisible by 64 BY CONSTRUCTION so
    the backtrack decodes ln = 0, stalls harmlessly, and the positive
    filter strips everything)."""
    return f"""{p}cw AS (
    SELECT w, freq, CAST(len(w) AS INT) AS L,
           list(struct_pack(en := en, ln := ln, score := score)) AS cands
    FROM ugcand JOIN {vocab_cte} USING (piece) GROUP BY w, freq
),
{p}dp AS (
    SELECT w, freq, L, list_reduce(
      list_prepend(CAST([0] AS BIGINT[]),
                   list_transform(range(1, L + 1), i -> CAST([i] AS BIGINT[]))),
      (acc, x) -> list_append(acc, coalesce(
        list_max(list_transform(list_filter(cands, c -> c.en = x[1]),
          c -> CASE WHEN (acc[c.en - c.ln + 1]
                 - ((acc[c.en - c.ln + 1] % 64) + 64) % 64) // 64
                 <= {UNIGRAM_TAINT} THEN CAST({UNIGRAM_NEG_INF} AS BIGINT)
               ELSE ((acc[c.en - c.ln + 1]
                 - ((acc[c.en - c.ln + 1] % 64) + 64) % 64) // 64
                + c.score) * 64 + c.ln END)),
        CAST({UNIGRAM_NEG_INF} AS BIGINT)))) AS dp
    FROM {p}cw
),
{p}lns AS (
    SELECT w, freq, L, list_filter(list_reduce(
      list_prepend(CAST([] AS BIGINT[]),
                   list_transform(range(1, L + 1), i -> CAST([] AS BIGINT[]))),
      (acc, x) -> list_append(acc,
          ((dp[CAST(L - coalesce(list_sum(acc), 0) AS INT) + 1]
            % 64) + 64) % 64)), v -> v > 0) AS lns
    FROM {p}dp
),
{p}seg AS (
    SELECT w, freq, list_transform(range(1, CAST(len(lns) AS BIGINT) + 1),
      j -> substring(w,
            CAST(L - coalesce(list_sum(list_slice(lns, 1, CAST(j AS INT) - 1)), 0)
                 - lns[CAST(j AS INT)] + 1 AS INT),
            CAST(lns[CAST(j AS INT)] AS INT))) AS pieces
    FROM {p}lns
)"""


_N = UNIGRAM_EM_ITERS

ORACLE_UNIGRAM_TRAIN = (
    "WITH "
    + ",\n".join(_unigram_stage_ctes())
    + f"""
SELECT piece, ct, score AS score_x1e6 FROM ugv{_N}
"""
)

# the serve pass = one more E-step under the trained vocabulary
_UG_SERVE_CTES = (
    ",\n".join(_unigram_stage_ctes())
    + ",\n"
    + _ug_viterbi_ctes("ugs", f"ugv{_N}")
)

ORACLE_UNIGRAM_ENCODE = (
    "WITH "
    + _UG_SERVE_CTES
    + """
SELECT piece, CAST(sum(freq) AS BIGINT) AS ct,
       CAST(count(DISTINCT w) AS BIGINT) AS n_words
FROM (SELECT w, freq, unnest(pieces) AS piece FROM ugsseg)
GROUP BY piece
"""
)

ORACLE_UNIGRAM_FERTILITY = (
    "WITH "
    + _UG_SERVE_CTES
    + ",\n"
    + ",\n".join(_bpe_stage_ctes())
    + f""",
ugn AS (
    SELECT w, CAST(len(pieces) AS BIGINT) AS n_uni FROM ugsseg
),
bpen AS (
    SELECT replace(s, ' ', '') AS w,
           CAST(len(string_split(s, ' ')) AS BIGINT) AS n_bpe
    FROM w{BPE_TRAIN_MERGES}
),
ftoks AS (SELECT lang, unnest({_DUCK_T}) AS w FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(COALESCE(n_uni, 1)) AS BIGINT) AS n_unigram_tokens,
       CAST(sum(COALESCE(n_bpe, 1)) AS BIGINT) AS n_bpe_tokens,
       (1000 * CAST(sum(COALESCE(n_uni, 1)) AS BIGINT)) // count(*)
           AS unigram_fertility_x1000,
       (1000 * CAST(sum(COALESCE(n_bpe, 1)) AS BIGINT)) // count(*)
           AS bpe_fertility_x1000
FROM ftoks LEFT JOIN ugn USING (w) LEFT JOIN bpen USING (w)
GROUP BY lang
"""
)


def unigram_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting under the TRAINED unigram tokenizer —
    completes the train/encode/budget symmetry with the BPE trio
    (bpe_token_budget's exact frame): the corpus word stream joins the
    per-word Viterbi piece counts and reduces per document; OOV words
    (outside the /^[a-z]+$/ len>=2 trainer domain) count 1 token — the
    shared byte-fallback tier. Scale shape identical to
    bpe_token_budget: the segmented dictionary is vocabulary-sized, the
    corpus joins it on the word (broadcast while it fits, AQE decides)
    and partial-aggregates per doc — no per-document re-tokenization."""
    docs = load(spark, sf_dir, "documents")
    cand, vocab = _unigram_vocab(docs)
    uni = _unigram_segment(cand, vocab).select(
        "w", F.size("pieces").cast("long").alias("n_sym")
    )
    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("w"))
    counted = toks.join(uni, "w", "left").select(
        "doc_id", F.coalesce("n_sym", F.lit(1)).alias("n_sym")
    )
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("n_sym").cast("long").alias("n_unigram_tokens"),
    )


ORACLE_UNIGRAM_BUDGET = (
    "WITH "
    + _UG_SERVE_CTES
    + f""",
ubn AS (
    SELECT w, CAST(len(pieces) AS BIGINT) AS n_sym FROM ugsseg
),
ubtoks AS (SELECT doc_id, unnest({_DUCK_T}) AS w FROM documents)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(COALESCE(n_sym, 1)) AS BIGINT) AS n_unigram_tokens
FROM ubtoks LEFT JOIN ubn USING (w)
GROUP BY doc_id
"""
)


# Vocab-size operating points for the ablation sweep: singles always
# kept (coverage tier), top-K multi-char pieces by (score desc, piece
# asc) from the TRAINED vocabulary.
UNIGRAM_SWEEP_KS = (10, 40, 160)


def _unigram_prune(vocab: DataFrame, k: int) -> DataFrame:
    """Budget-prune the trained vocabulary to all single-char pieces +
    the top-k multi-char pieces by (score desc, piece asc) — the exact
    deterministic total order; scores are NOT re-normalized (the sweep
    measures segmentation quality of the shipped subset, and Viterbi
    argmaxes are invariant to the constant total shift renormalizing
    would apply to every path of equal piece count — fertility compares
    paths of DIFFERENT counts, so the raw scores are the honest
    operating point)."""
    return vocab.filter(F.length("piece") == 1).unionByName(
        vocab.filter(F.length("piece") > 1)
        .orderBy(F.desc("score"), F.asc("piece"))
        .limit(k)
    )


def unigram_vocab_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCAB-SIZE ABLATION — the fertility-vs-budget curve a tokenizer
    release plots before fixing its vocabulary size: for each operating
    point K, prune the trained vocabulary (singles + top-K multis),
    re-segment the dictionary, and report corpus-weighted fertility
    plus the words the pruned vocabulary can no longer cover (a word is
    uncoverable when EM pruned some single char in training — it only
    survived via a multi piece that the budget cut; the honest ablation
    reports that count rather than hiding it). One row per K:
    (k, vocab_size, n_words, n_covered, n_uncovered, n_tokens,
    fertility_x1000 over covered words, corpus-freq-weighted).

    Scale shape: the sweep re-runs only the vocabulary-sized segment
    pass per K — the corpus is touched once (the dictionary build);
    each operating point is a broadcast-sized join + per-row DP."""
    docs = load(spark, sf_dir, "documents")
    cand, vocab = _unigram_vocab(docs)
    dictionary = _bpe_dictionary(docs)
    out = None
    for k in UNIGRAM_SWEEP_KS:
        vk = _unigram_prune(vocab, k)
        seg = _unigram_segment(cand, vk).select(
            "w", F.size("pieces").cast("long").alias("n_sym")
        )
        j = dictionary.join(seg, "w", "left").select(
            "freq",
            # n_sym NULL (no candidate in vk at all) or 0 (candidates
            # exist but no full cover) are both "uncovered"
            F.coalesce("n_sym", F.lit(0)).alias("n_sym"),
        )
        row = (
            j.crossJoin(
                F.broadcast(
                    vk.agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
                )
            )
            .withColumn("k", F.lit(k).cast("long"))
            # group by the two constants: ZERO output rows on an empty
            # corpus, matching the oracle's mirrored GROUP BY
            .groupBy("k", "vocab_size")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_words"),
                F.count(F.when(F.col("n_sym") > 0, 1))
                .cast("long")
                .alias("n_covered"),
                F.count(F.when(F.col("n_sym") == 0, 1))
                .cast("long")
                .alias("n_uncovered"),
                F.sum(F.col("freq") * F.col("n_sym"))
                .cast("long")
                .alias("n_tokens"),
                # all-uncovered K ⇒ NULL fertility, not a divide-by-zero
                # (ADVICE r14: ANSI DIV raises where DuckDB // NULLs;
                # guard BOTH engines explicitly)
                F.expr(
                    "CASE WHEN sum(CASE WHEN n_sym > 0 THEN freq ELSE 0 END) = 0"
                    " THEN NULL ELSE (1000 * sum(freq * n_sym))"
                    " DIV sum(CASE WHEN n_sym > 0 THEN freq ELSE 0 END) END"
                )
                .cast("long")
                .alias("fertility_x1000"),
            )
            .select(
                "k", "vocab_size", "n_words", "n_covered", "n_uncovered",
                "n_tokens", "fertility_x1000",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _oracle_unigram_sweep() -> str:
    blocks, finals = [], []
    for k in UNIGRAM_SWEEP_KS:
        blocks.append(
            f"""ugp{k} AS (
    SELECT piece, score FROM ugv{_N} WHERE len(piece) = 1
    UNION ALL
    SELECT piece, score FROM (
        SELECT piece, score FROM ugv{_N} WHERE len(piece) > 1
        ORDER BY score DESC, piece ASC LIMIT {k})
)"""
        )
        blocks.append(_ug_viterbi_ctes(f"ugk{k}", f"ugp{k}"))
        finals.append(
            f"""SELECT CAST({k} AS BIGINT) AS k, vocab_size,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(count(CASE WHEN n_sym > 0 THEN 1 END) AS BIGINT) AS n_covered,
       CAST(count(CASE WHEN n_sym = 0 THEN 1 END) AS BIGINT) AS n_uncovered,
       CAST(sum(freq * n_sym) AS BIGINT) AS n_tokens,
       CASE WHEN sum(CASE WHEN n_sym > 0 THEN freq ELSE 0 END) = 0
            THEN NULL
            ELSE (1000 * CAST(sum(freq * n_sym) AS BIGINT))
              // CAST(sum(CASE WHEN n_sym > 0 THEN freq ELSE 0 END) AS BIGINT)
       END AS fertility_x1000
FROM (SELECT d.freq, COALESCE(CAST(len(s.pieces) AS BIGINT), 0) AS n_sym
      FROM ugdict d LEFT JOIN ugk{k}seg s USING (w)),
     (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM ugp{k})
GROUP BY 1, 2"""
        )
    return (
        "WITH "
        + ",\n".join(_unigram_stage_ctes())
        + ",\n"
        + ",\n".join(blocks)
        + "\n"
        + "\nUNION ALL\n".join(finals)
    )


ORACLE_UNIGRAM_SWEEP = _oracle_unigram_sweep()


# =============================================================================
# Blocklist phrase scrub (round 14) — exact multi-token banned-phrase
# matching + span removal, the policy-filter step of a curation
# pipeline (licensing strings, spam CTAs, template boilerplate given
# as literal phrases). Aho-Corasick semantics, join-parallel form:
# every corpus token joins the (tiny, broadcast) blocklist term table,
# each hit votes for the anchor position `pos - term_idx`, and an
# anchor where all k terms voted is a match — repeated-token phrases
# work because the vote is per (term_idx), not per token value. The
# cut itself reuses the exact-substring machinery verbatim
# (dedup.merged_spans + dedup.apply_span_cuts), so the scrub and the
# dedup rewrite cannot diverge in span semantics.
# =============================================================================

# Fixture-realistic policy phrases (2- and 3-token; lowercase alpha so
# the SQL interpolation is quoting-safe).
BLOCKLIST_PHRASES = (
    "table hash",
    "customer join",
    "merge group",
    "slow hash batch",
    "window fast query",
)


def blocklist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc blocklist-scrub ledger: (doc_id, n_tokens, kept_tokens,
    removed_tokens, kept_md5, n_hits) — every occurrence of every
    banned phrase located (anchor voting over ONE tokens⋈terms
    equi-join), overlapping hits merged to disjoint spans, spans cut by
    the shared gap-slice rewrite, kept text hash-pinned.

    Scale shape (100 TB): the blocklist is policy-sized — the term
    table broadcasts; per-corpus work is one posexplode scan, one
    broadcast join, one (doc, phrase, anchor) partial-agg, and the
    map-side cut after a per-doc span rollup. No df caps (a policy
    filter must be exhaustive — unlike retrieval's capped index,
    missing a stop-phrase in a common document is the failure mode)."""
    from flink_gmall_spark.operators.dedup import apply_span_cuts, merged_spans

    docs = load(spark, sf_dir, "documents")
    terms = [
        (pid, ti, tok, len(p.split()))
        for pid, p in enumerate(BLOCKLIST_PHRASES)
        for ti, tok in enumerate(p.split())
    ]
    bl = spark.createDataFrame(
        terms, "pid int, ti int, tok string, k int"
    )
    toks = docs.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("pos", "tok")
    )
    hits = (
        toks.join(F.broadcast(bl), "tok")
        .filter(F.col("pos") >= F.col("ti"))
        .groupBy("doc_id", "pid", "k", (F.col("pos") - F.col("ti")).alias("anchor"))
        .agg(F.countDistinct("ti").alias("n_terms"))
        .filter(F.col("n_terms") == F.col("k"))
        .select("doc_id", "pid", "anchor", "k")
    )
    n_hits = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    spans = hits.select(
        "doc_id",
        F.col("anchor").alias("st"),
        (F.col("anchor") + F.col("k") - 1).alias("en"),
    ).distinct()
    span_arr = (
        merged_spans(spans)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("mst", "men"))).alias("cuts"))
    )
    t = docs.select("doc_id", tokens_col("text").alias("t"))
    return (
        apply_span_cuts(t.join(span_arr, "doc_id", "left_outer"))
        .join(n_hits, "doc_id", "left_outer")
        .select(
            "doc_id", "n_tokens", "kept_tokens", "removed_tokens", "kept_md5",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        )
    )


def _oracle_blocklist() -> str:
    rows = ",\n        ".join(
        f"({pid}, {ti}, '{tok}', {len(p.split())})"
        for pid, p in enumerate(BLOCKLIST_PHRASES)
        for ti, tok in enumerate(p.split())
    )
    return f"""
WITH bl(pid, ti, tok, k) AS (
    VALUES {rows}
),
blt AS (
    SELECT doc_id, {_DUCK_T} AS t FROM documents
),
bltok AS (
    SELECT doc_id, t, unnest(t) AS tok,
           generate_subscripts(t, 1) - 1 AS pos
    FROM blt
),
blhits AS (
    SELECT doc_id, pid, k, pos - ti AS anchor,
           count(DISTINCT ti) AS n_terms
    FROM bltok JOIN bl USING (tok)
    WHERE pos >= ti
    GROUP BY doc_id, pid, k, pos - ti
    HAVING count(DISTINCT ti) = k
),
blnh AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM blhits GROUP BY doc_id
),
blspans AS (
    SELECT DISTINCT doc_id, anchor AS st, anchor + k - 1 AS en FROM blhits
),
blflag AS (
    SELECT doc_id, st, en,
           CASE WHEN max(en) OVER (
                    PARTITION BY doc_id ORDER BY st, en
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                OR st > max(en) OVER (
                    PARTITION BY doc_id ORDER BY st, en
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) THEN 1 ELSE 0 END AS new_isl
    FROM blspans
),
blisl AS (
    SELECT doc_id, st, en,
           sum(new_isl) OVER (
               PARTITION BY doc_id ORDER BY st, en
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS isl
    FROM blflag
),
blmerged AS (
    SELECT doc_id, isl, min(st) AS mst, max(en) AS men
    FROM blisl GROUP BY doc_id, isl
),
blcut AS (
    SELECT b.doc_id, b.tok, b.pos
    FROM bltok b
    WHERE NOT EXISTS (
        SELECT 1 FROM blmerged m
        WHERE m.doc_id = b.doc_id AND b.pos >= m.mst AND b.pos <= m.men
    )
),
blkept AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS kept_text,
           CAST(count(*) AS BIGINT) AS kept_tokens
    FROM blcut GROUP BY doc_id
),
bllens AS (
    SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM blt
)
SELECT l.doc_id, l.n_tokens,
       CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       CAST(l.n_tokens - coalesce(k.kept_tokens, 0) AS BIGINT)
           AS removed_tokens,
       md5(coalesce(k.kept_text, '')) AS kept_md5,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
FROM bllens l
LEFT JOIN blkept k USING (doc_id)
LEFT JOIN blnh h USING (doc_id)
"""


ORACLE_BLOCKLIST_SCRUB = _oracle_blocklist()
