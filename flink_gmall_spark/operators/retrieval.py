"""Lexical retrieval (BM25) and hybrid lexical+semantic rank fusion (RRF)
over the ``documents`` / ``embeddings`` tables.

The reference's lexical surface stops at keyword extraction + windowed
counts (``KeywordStatsApp.java:40-67``, ``KeywordUDTF.java:14-24``); a
training-data pipeline at 100 TB also needs the retrieval direction —
"which documents match this query" — for targeted curation, eval-set
mining, and RAG corpus serving. ``bm25_topk`` is the classic
Robertson/Sparck Jones BM25 ranking function (public formula; Lucene /
Elasticsearch default) re-expressed as three keyed DataFrame
aggregations plus one broadcast join; ``hybrid_rrf`` fuses its ranks
with the brute-force cosine ranks of ``ann.ann_topk`` via Reciprocal
Rank Fusion (Cormack/Clarke/Buettcher, SIGIR'09: score = Σ 1/(k+rank)).

Query model: the documents with ``doc_id < N_RETR_QUERIES`` act as the
query set (a "more-like-this" workload — no external query table
exists in the fixtures), scored against every OTHER document. Query
term frequency participates naturally: the score is summed over query
token OCCURRENCES (BM25's qtf weighting with the usual k3→∞
simplification), which keeps the query side a stateless explode — the
property the streaming serve twin relies on (no distinct / no state at
ingest).

Cross-engine exactness (the module's parity contract):

- NO transcendentals. The idf is the Robertson–Sparck Jones ratio
  WITHOUT the log — ``(N - df + 0.5) / (df + 0.5)`` — because ``ln`` is
  not correctly-rounded in either engine (JVM ``Math.log`` vs libm) and
  a last-ulp divergence would flip ranks. The ratio is monotone in df
  exactly like the logged form, so ranking semantics are preserved; the
  docstring-visible tradeoff is a more aggressive rare-term boost.
- Every per-term score is a chain of correctly-rounded IEEE-double
  ops (+, -, *, /) evaluated in the SAME written order in both engines
  (all literals spelled identically, every int operand cast to DOUBLE
  before mixing — DuckDB would otherwise promote bare decimal literals
  to DECIMAL and diverge), so the doubles are bit-identical.
- The per-term double is floor-scaled to BIGINT (``floor(x * 1e6)``;
  floor is exact on doubles) BEFORE the per-document sum, so the sum is
  an order-free integer — the repo's integer-exact discipline. At a
  web-scale corpus (N ~ 1e10) the scaled per-term score reaches ~2e16;
  the BIGINT sum then bounds the per-(query,doc) matched-occurrence
  count at ~460 before overflow — widen to DECIMAL(38,0) or drop
  BM25_SCALE at that N (documented, not silently capped). The failure
  mode past that bound is ASYMMETRIC (review r11): Spark's non-ANSI
  ``sum(LONG)`` wraps silently (wrong ranks), while DuckDB's
  ``CAST(sum(...) AS BIGINT)`` raises — so an overflow surfaces as a
  driver hash MISMATCH (wrong Spark values vs a loud oracle error),
  not as matching wrong answers; the widen-at-1e10 note above is the
  operative guard, and any deployment at that N must flip Spark to
  ANSI mode (``spark.sql.ansi.enabled``) so both engines fail loud.

Scale shape: tf/df/dl are keyed corpus-sized aggregations (term- or
doc-keyed, never all-pairs); the 1-row corpus stats broadcast via the
repo's 1-row crossJoin idiom; the query side (≤ N_RETR_QUERIES docs of
tokens) broadcasts into the postings join, so the big corpus table is
never shuffled for the join itself. At 100 TB the posting list of a
stopword-grade term is the skew risk — the MAX_POSTING_DF guard caps
join fan-out per term exactly like dedup's MAX_SHINGLE_DF window idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_gmall_spark.functions.tokenize import TOKEN_SPLIT_RE, tokens_col
from flink_gmall_spark.sources import load

N_RETR_QUERIES = 8  # doc_id < 8 are the query documents
RETR_TOPK = 10
BM25_SCALE = 1_000_000  # per-term floor-scale before the integer sum
RRF_K = 60  # SIGIR'09 default
# Posting-list fan-out cap: terms present in more than this many docs are
# dropped from the match join (stopword-grade terms carry ~no idf signal
# and dominate join cost at scale). Fixture corpora stay far below it.
MAX_POSTING_DF = 100_000

_DUCK_T = (
    f"list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'), x -> x <> '')"
)

# BM25 parameter grid for the calibration sweep: (k1_x10, b_x100,
# (k1, k1+1, b, 1-b)) — constants pre-folded as LITERAL STRINGS so both
# engines parse the identical decimal text (computing 1-b or k1+1 in
# either engine could round differently from the folded literal). Config
# 0 is the default the single-config entries use.
BM25_SWEEP = [
    (12, 75, ("1.2", "2.2", "0.75", "0.25")),  # default (Lucene-classic)
    (9, 40, ("0.9", "1.9", "0.4", "0.6")),  # modern Lucene default
    (15, 75, ("1.5", "2.5", "0.75", "0.25")),  # stronger tf saturation
    (12, 0, ("1.2", "2.2", "0.0", "1.0")),  # no length normalization
]
_DEFAULT_CFG = BM25_SWEEP[0][2]


def tf_sat_sql(k1: str, k1p1: str, b: str, omb: str) -> str:
    """The tf-saturation / length-normalization factor of the BM25 term
    score, extracted so the unlogged and logged idf variants share ONE
    definition of it (the same drift-proofing as bm25_score_sql itself:
    identical literal text in both engines)."""
    return (
        f"((CAST(tf AS DOUBLE) * CAST({k1p1} AS DOUBLE))"
        f" / (CAST(tf AS DOUBLE) + CAST({k1} AS DOUBLE)"
        f" * (CAST({omb} AS DOUBLE) + (CAST({b} AS DOUBLE) * CAST(dl AS DOUBLE))"
        " / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
    )


def bm25_score_sql(k1: str, k1p1: str, b: str, omb: str) -> str:
    """The per-posting BM25 term score as ONE SQL expression string,
    valid verbatim in BOTH Spark SQL and DuckDB over the bare feature
    columns (tf, df, dl, n_docs, total_len) — a single definition so the
    engines cannot drift (every literal spelled identically, every op in
    the same written order; see the module parity contract). Composes
    tf_sat_sql byte-identically to the pre-extraction text
    (tests/test_retrieval.py pins the frozen default-config string)."""
    return (
        "CAST(floor(((CAST(n_docs - df AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        " / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))"
        f" * {tf_sat_sql(k1, k1p1, b, omb)}"
        f" * CAST({BM25_SCALE} AS DOUBLE)) AS BIGINT)"
    )


def _postings(docs: DataFrame) -> DataFrame:
    """(doc_id, tok, tf) term-frequency postings — one corpus shuffle."""
    return (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def posting_features(docs: DataFrame) -> DataFrame:
    """(tok, doc_id, tf, df, dl, n_docs, total_len) — everything a BM25
    variant needs per posting, one definition shared by the single-config
    score table and the parameter sweep. tf/df/dl are keyed corpus
    aggregations (Catalyst reuses the tf exchange for both consumers);
    the 1-row stats side rides the repo's broadcast-crossJoin idiom."""
    tf = _postings(docs)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(dfreq.filter(F.col("df") <= MAX_POSTING_DF), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )


def scored_postings(docs: DataFrame) -> DataFrame:
    """(tok, doc_id, score_i): the default-config BM25 term score of
    every posting, floor-scaled to BIGINT. Entirely static/corpus-side —
    the streaming serve twin joins a query stream against exactly this
    table. The score expression is the shared bm25_score_sql template
    (six double ops per posting, identical text in the DuckDB mirror)."""
    return posting_features(docs).select(
        "tok",
        "doc_id",
        F.expr(bm25_score_sql(*_DEFAULT_CFG)).alias("score_i"),
    )


def query_occurrences(docs: DataFrame) -> DataFrame:
    """(query_id, tok) — one row per query token OCCURRENCE (qtf kept by
    repetition, not by a distinct+weight; stateless on a stream)."""
    return docs.filter(F.col("doc_id") < N_RETR_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.explode(tokens_col("text")).alias("tok"),
    )


def bm25_match(occ: DataFrame, sp: DataFrame, broadcast: bool = True) -> DataFrame:
    """Term-level match rows against a tok-keyed posting table, self
    excluded — the ONE definition of the match semantics, shared by the
    batch entries and the streaming serve twins (which pass
    broadcast=False: a streaming side cannot take the hint; the
    stream-static join is already resolved per micro-batch).

    The occurrence side is ≤ N_RETR_QUERIES documents of tokens —
    broadcast — so the corpus-sized postings never shuffle for this join.
    """
    left = F.broadcast(occ) if broadcast else occ
    return left.join(sp, "tok").filter(
        F.col("doc_id") != F.col("query_id")
    )


def bm25_finish(matched: DataFrame) -> DataFrame:
    """Order-free integer sum per (query, doc), then windowed top-k.
    Shared VERBATIM by the batch entry and the streaming serve twin."""
    agg = matched.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_hits"), F.sum("score_i").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= RETR_TOPK)
        .select("query_id", "doc_id", "n_hits", "score", "rank")
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval: query docs (doc_id < N_RETR_QUERIES) against
    the rest of the corpus. Plan: three keyed corpus aggregations
    (tf, df, dl — Catalyst reuses the tf exchange for both consumers),
    a 1-row stats broadcast, one BROADCAST match join on tok, one
    bounded-key aggregation, one per-query window."""
    docs = load(spark, sf_dir, "documents")
    return bm25_finish(bm25_match(query_occurrences(docs), scored_postings(docs)))


# Shared CTE base: postings features + query occurrences + the matched
# feature rows. Composed (not string-sliced) into every oracle below;
# the score expression itself is the SAME bm25_score_sql template Spark
# compiles (bare feature-column names in both engines).
_DUCK_FEAT_BASE = f"""
tok AS (
    SELECT doc_id, unnest({_DUCK_T}) AS tok FROM documents
),
tf AS (
    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
),
dl AS (
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
),
stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl) AS BIGINT) AS total_len
    FROM dl
),
dfreq AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
feat AS (
    SELECT tf.tok, tf.doc_id, tf.tf, f.df, d.dl, s.n_docs, s.total_len
    FROM tf
    JOIN dfreq f ON f.tok = tf.tok AND f.df <= {MAX_POSTING_DF}
    JOIN dl d ON d.doc_id = tf.doc_id
    CROSS JOIN stats s
),
qocc AS (
    SELECT doc_id AS query_id, unnest({_DUCK_T}) AS tok
    FROM documents WHERE doc_id < {N_RETR_QUERIES}
),
matched AS (
    SELECT q.query_id, feat.doc_id, feat.tf, feat.df, feat.dl,
           feat.n_docs, feat.total_len
    FROM qocc q JOIN feat ON feat.tok = q.tok AND feat.doc_id <> q.query_id
)"""

_DUCK_BM25_BASE = f"""{_DUCK_FEAT_BASE},
bm25_agg AS (
    SELECT query_id, doc_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(sum({bm25_score_sql(*_DEFAULT_CFG)}) AS BIGINT) AS score
    FROM matched
    GROUP BY 1, 2
),
bm25_ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM bm25_agg
)"""

ORACLE_BM25_TOPK = f"""
WITH {_DUCK_BM25_BASE}
SELECT query_id, doc_id, n_hits, score, CAST(rank AS BIGINT) AS rank
FROM bm25_ranked WHERE rank <= {RETR_TOPK}
"""


def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: Reciprocal Rank Fusion of the BM25 lexical
    top-k (documents) and the brute-force cosine top-k (embeddings;
    ``ann.ann_topk``, the exactness baseline) — the standard two-tower
    fusion a RAG corpus serves. ``rrf = 1/(K+lex_rank) + 1/(K+sem_rank)``
    with absent ranks contributing 0 (rank sentinel 0 in the output).

    Exactness: each 1/(K+r) is one correctly-rounded division of
    bit-identical doubles and the two terms add in a FIXED written
    order (a 2-term expression, not a group sum) — hash-exact without
    integerization. Plan: both rank lists are query-bounded
    (N_RETR_QUERIES × RETR_TOPK rows), so the fusion join is a
    broadcast-able full-outer over tiny inputs; all corpus-scale work
    happened inside the two upstream retrievers.

    FIXTURE CONTRACT (review r11): the fusion treats ``documents.doc_id``
    and ``embeddings.vec_id`` as ONE id space — row i of ``embeddings``
    is the embedding OF document i. The import-time assert below pins
    only the query-set cardinality (ann.N_QUERIES == N_RETR_QUERIES);
    the id-alignment itself is pinned by
    ``tests/test_retrieval.py::test_fixture_vec_id_doc_id_alignment``
    (embeddings.vec_id ⊆ documents.doc_id at every shipped SF), so a
    fixture where the two id spaces diverge fails a named test instead
    of silently fusing unrelated items.
    """
    from flink_gmall_spark.operators.ann import ann_topk

    lex = bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    sem = ann_topk(spark, sf_dir).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    return rrf_finish(lex, sem)


def rrf_finish(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """The fusion step proper — full-outer join of the two rank lists,
    the fixed-order two-term RRF sum, and the final per-query window.
    Shared VERBATIM by the batch entry and the streaming serve twin
    (lex: (query_id, doc_id, lex_rank); sem: (query_id, doc_id,
    sem_rank))."""
    fused = lex.join(sem, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.coalesce(F.col("lex_rank"), F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce(F.col("sem_rank"), F.lit(0)).cast("long").alias("sem_rank"),
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("lex_rank").cast("double")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("sem_rank").cast("double")),
                F.lit(0.0),
            )
        ).alias("rrf"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= RETR_TOPK)
        .select("query_id", "doc_id", "lex_rank", "sem_rank", "rrf", "rank")
    )


def _oracle_lex_sem_ctes() -> str:
    # The semantic leg composes ann.DUCK_ANN_RANKED_CTES — the SAME CTE
    # chain ORACLE_ANN_TOPK is built from — and truncates at ann.TOPK /
    # ann.N_QUERIES, because the Spark side calls the real ann_topk. The
    # fusion presumes both retrievers rank the same query set; the assert
    # makes that coupling loud instead of a far-away hash mismatch.
    from flink_gmall_spark.operators.ann import (
        DUCK_ANN_RANKED_CTES,
        N_QUERIES,
        TOPK,
    )

    assert N_QUERIES == N_RETR_QUERIES, (
        "hybrid RRF fuses per-query rank lists: the lexical and semantic "
        "retrievers must share one query set"
    )
    return f"""{_DUCK_BM25_BASE},
{DUCK_ANN_RANKED_CTES},
lex AS (
    SELECT query_id, doc_id, rank FROM bm25_ranked WHERE rank <= {RETR_TOPK}
),
sem AS (
    SELECT query_id, neighbor_id AS doc_id, rank
    FROM ann_ranked WHERE rank <= {TOPK}
)"""


def _oracle_hybrid_ctes() -> str:
    return f"""{_oracle_lex_sem_ctes()},
fused AS (
    SELECT COALESCE(l.query_id, s.query_id) AS query_id,
           COALESCE(l.doc_id, s.doc_id) AS doc_id,
           CAST(COALESCE(l.rank, 0) AS BIGINT) AS lex_rank,
           CAST(COALESCE(s.rank, 0) AS BIGINT) AS sem_rank,
           COALESCE(CAST(1.0 AS DOUBLE) / (CAST({RRF_K} AS DOUBLE) + CAST(l.rank AS DOUBLE)),
                    CAST(0.0 AS DOUBLE))
           + COALESCE(CAST(1.0 AS DOUBLE) / (CAST({RRF_K} AS DOUBLE) + CAST(s.rank AS DOUBLE)),
                      CAST(0.0 AS DOUBLE)) AS rrf
    FROM lex l FULL OUTER JOIN sem s
      ON l.query_id = s.query_id AND l.doc_id = s.doc_id
),
final_ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
    FROM fused
),
fused_topk AS (
    SELECT query_id, doc_id, lex_rank, sem_rank, rrf,
           CAST(rank AS BIGINT) AS rank
    FROM final_ranked WHERE rank <= {RETR_TOPK}
)"""


def _oracle_hybrid_rrf() -> str:
    return f"""
WITH {_oracle_hybrid_ctes()}
SELECT * FROM fused_topk
"""


ORACLE_HYBRID_RRF = _oracle_hybrid_rrf()

ORACLE_FUSION_GAIN = f"""
WITH {_oracle_hybrid_ctes()}
SELECT query_id,
       CAST(count(*) AS BIGINT) AS n_fused,
       CAST(sum(CASE WHEN sem_rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lex_only,
       CAST(sum(CASE WHEN lex_rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_only,
       CAST(sum(CASE WHEN lex_rank > 0 AND sem_rank > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
FROM fused_topk
GROUP BY query_id
"""


# RRF_K calibration grid (VERDICT r11 ask #5): the PRODUCTION constant
# first (referenced, not re-spelled — review r12: a hardcoded 60 would
# silently drift if RRF_K is ever retuned, leaving the overlap ledger
# priced against a rank list no entry serves) — the overlap ledger
# prices every K against it, and the default row pins
# overlap == ranked_ct as a self-check (the BM25_SWEEP discipline).
RRF_K_SWEEP = [RRF_K, 10, 120, 480]
assert RRF_K_SWEEP[0] == RRF_K


def rrf_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF_K CALIBRATION SWEEP — the bm25_param_sweep discipline applied
    to the fusion knob: every K in RRF_K_SWEEP fused through ONE shared
    pass over the two rank lists, priced by top-k agreement with the
    default K and by the lex-only / sem-only / both provenance counts
    (the fusion_gain_report ledger), so the fusion constant is tuned on
    numbers like every other calibration entry.

    Plan shape: both retrievers run ONCE (their rank lists are
    query-bounded — N_RETR_QUERIES × top-k rows); all four per-K RRF
    scores are columns of the same fused row (pure expression math),
    unpivoted through a driver-free stack(), ranked per (K, query), and
    the default-K membership flag is a windowed max over the SAME
    stacked rows — no self-join, no second retriever pass (plan-gated:
    exactly one stack, scan count equal to hybrid_rrf's own plan).

    Parity: each 1/(K+rank) is one correctly-rounded division with the
    NULL-propagation idiom of rrf_finish (absent rank → NULL → COALESCE
    0.0), the two terms add in fixed written order, and only integer
    counts reach the output."""
    from flink_gmall_spark.operators.ann import ann_topk

    lex = bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    sem = ann_topk(spark, sf_dir).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    return rrf_k_sweep_finish(lex, sem)


def rrf_k_sweep_finish(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """The sweep proper — per-K score columns, stack, per-(K, query)
    rank, default-K overlap flag, ledger aggregation. Shared VERBATIM by
    the batch entry and the streaming serve twin (same signature as
    rrf_finish: lex (query_id, doc_id, lex_rank), sem (query_id, doc_id,
    sem_rank))."""
    fb = lex.join(sem, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.coalesce(F.col("lex_rank"), F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce(F.col("sem_rank"), F.lit(0)).cast("long").alias("sem_rank"),
        *[
            (
                F.coalesce(
                    F.lit(1.0)
                    / (F.lit(float(k)) + F.col("lex_rank").cast("double")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0)
                    / (F.lit(float(k)) + F.col("sem_rank").cast("double")),
                    F.lit(0.0),
                )
            ).alias(f"s{i}")
            for i, k in enumerate(RRF_K_SWEEP)
        ],
    )
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), s{i}" for i, k in enumerate(RRF_K_SWEEP)
    )
    stacked = fb.selectExpr(
        "query_id",
        "doc_id",
        "lex_rank",
        "sem_rank",
        f"stack({len(RRF_K_SWEEP)}, {stack_args}) AS (rrf_k, rrf)",
    )
    w = Window.partitionBy("rrf_k", "query_id").orderBy(
        F.desc("rrf"), F.asc("doc_id")
    )
    ranked = stacked.withColumn("rank", F.row_number().over(w))
    in_dflt = F.max(
        F.when(
            (F.col("rrf_k") == RRF_K_SWEEP[0]) & (F.col("rank") <= RETR_TOPK),
            1,
        ).otherwise(0)
    ).over(Window.partitionBy("query_id", "doc_id"))
    return (
        ranked.withColumn("in_dflt", in_dflt)
        .filter(F.col("rank") <= RETR_TOPK)
        .groupBy("rrf_k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ranked_ct"),
            F.sum("in_dflt").cast("long").alias("overlap_default_ct"),
            F.sum((F.col("sem_rank") == 0).cast("int"))
            .cast("long")
            .alias("n_lex_only"),
            F.sum((F.col("lex_rank") == 0).cast("int"))
            .cast("long")
            .alias("n_sem_only"),
            F.sum(
                ((F.col("lex_rank") > 0) & (F.col("sem_rank") > 0)).cast("int")
            )
            .cast("long")
            .alias("n_both"),
        )
    )


def _oracle_rrf_k_sweep() -> str:
    per_k = "\nUNION ALL\n".join(
        f"""    SELECT query_id, doc_id, lex_rank, sem_rank,
           CAST({k} AS BIGINT) AS rrf_k,
           COALESCE(CAST(1.0 AS DOUBLE) / (CAST({k} AS DOUBLE) + CAST(lrank_raw AS DOUBLE)),
                    CAST(0.0 AS DOUBLE))
           + COALESCE(CAST(1.0 AS DOUBLE) / (CAST({k} AS DOUBLE) + CAST(srank_raw AS DOUBLE)),
                      CAST(0.0 AS DOUBLE)) AS rrf
    FROM fb"""
        for k in RRF_K_SWEEP
    )
    return f"""
WITH {_oracle_lex_sem_ctes()},
fb AS (
    SELECT COALESCE(l.query_id, s.query_id) AS query_id,
           COALESCE(l.doc_id, s.doc_id) AS doc_id,
           CAST(COALESCE(l.rank, 0) AS BIGINT) AS lex_rank,
           CAST(COALESCE(s.rank, 0) AS BIGINT) AS sem_rank,
           l.rank AS lrank_raw, s.rank AS srank_raw
    FROM lex l FULL OUTER JOIN sem s
      ON l.query_id = s.query_id AND l.doc_id = s.doc_id
),
stacked AS (
{per_k}
),
swranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY rrf_k, query_id ORDER BY rrf DESC, doc_id ASC) AS rank
    FROM stacked
),
swflag AS (
    SELECT *,
           max(CASE WHEN rrf_k = {RRF_K_SWEEP[0]}
                     AND rank <= {RETR_TOPK} THEN 1 ELSE 0 END)
               OVER (PARTITION BY query_id, doc_id) AS in_dflt
    FROM swranked
)
SELECT rrf_k,
       CAST(count(*) AS BIGINT) AS ranked_ct,
       CAST(sum(in_dflt) AS BIGINT) AS overlap_default_ct,
       CAST(sum(CASE WHEN sem_rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lex_only,
       CAST(sum(CASE WHEN lex_rank = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_only,
       CAST(sum(CASE WHEN lex_rank > 0 AND sem_rank > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
FROM swflag WHERE rank <= {RETR_TOPK}
GROUP BY 1
"""


ORACLE_RRF_K_SWEEP = _oracle_rrf_k_sweep()


def bm25_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 PARAMETER CALIBRATION SWEEP — the band-tuning discipline
    (dedup.minhash_band_tuning precedent) applied to the (k1, b) knobs:
    every config in BM25_SWEEP scored through ONE shared postings/match
    pass, priced by its top-k agreement with the default config so the
    retrieval owner tunes saturation/length-normalization on numbers.

    Plan shape: the corpus work (tf/df/dl/stats + the broadcast match
    join) happens ONCE; all four per-config scores are columns of the
    same matched row (pure expression math — zero row duplication),
    folded in ONE (query, doc) aggregation, and only the bounded agg
    table (≤ queries × corpus-hits rows) unpivots through a driver-free
    stack() into config space. The overlap ledger deliberately avoids a
    self-join (which would duplicate the whole corpus subtree for the
    probe side — plan-gated): default-topk membership is a windowed
    max-flag over the SAME stacked rows, since every config's rank for a
    given (query, doc) lives in that one partition.

    Output: one row per config — (k1_x10, b_x100, ranked_ct,
    overlap_default_ct); the default config's row pins
    overlap == ranked_ct as a self-check.
    """
    docs = load(spark, sf_dir, "documents")
    return param_sweep_finish(
        bm25_match(query_occurrences(docs), posting_features(docs))
    )


def param_sweep_finish(matched: DataFrame) -> DataFrame:
    """The sweep proper — per-config score sums, stack, per-config rank,
    default-config overlap flag, ledger aggregation. Extracted from
    bm25_param_sweep (same expressions verbatim) so the streaming serve
    twin shares it: its query stream drains the SAME matched feature
    rows, so served and batch calibration cannot drift by construction
    (the bm25_finish / rrf_finish precedent)."""
    agg = matched.groupBy("query_id", "doc_id").agg(
        *[
            F.sum(F.expr(bm25_score_sql(*cfg))).alias(f"s{i}")
            for i, (_, _, cfg) in enumerate(BM25_SWEEP)
        ]
    )
    stack_args = ", ".join(
        f"CAST({k1x} AS BIGINT), CAST({bx} AS BIGINT), s{i}"
        for i, (k1x, bx, _) in enumerate(BM25_SWEEP)
    )
    stacked = agg.selectExpr(
        "query_id",
        "doc_id",
        f"stack({len(BM25_SWEEP)}, {stack_args}) AS (k1_x10, b_x100, score)",
    )
    w = Window.partitionBy("k1_x10", "b_x100", "query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    ranked = stacked.withColumn("rank", F.row_number().over(w))
    in_dflt = F.max(
        F.when(
            (F.col("k1_x10") == BM25_SWEEP[0][0])
            & (F.col("b_x100") == BM25_SWEEP[0][1])
            & (F.col("rank") <= RETR_TOPK),
            1,
        ).otherwise(0)
    ).over(Window.partitionBy("query_id", "doc_id"))
    return (
        ranked.withColumn("in_dflt", in_dflt)
        .filter(F.col("rank") <= RETR_TOPK)
        .groupBy("k1_x10", "b_x100")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ranked_ct"),
            F.sum("in_dflt").cast("long").alias("overlap_default_ct"),
        )
    )


def _oracle_bm25_param_sweep() -> str:
    per_cfg_sums = ",\n           ".join(
        f"CAST(sum({bm25_score_sql(*cfg)}) AS BIGINT) AS s{i}"
        for i, (_, _, cfg) in enumerate(BM25_SWEEP)
    )
    stacked = "\nUNION ALL\n".join(
        f"SELECT query_id, doc_id, CAST({k1x} AS BIGINT) AS k1_x10,"
        f" CAST({bx} AS BIGINT) AS b_x100, s{i} AS score FROM agg"
        for i, (k1x, bx, _) in enumerate(BM25_SWEEP)
    )
    return f"""
WITH {_DUCK_FEAT_BASE},
agg AS (
    SELECT query_id, doc_id,
           {per_cfg_sums}
    FROM matched GROUP BY 1, 2
),
stacked AS (
{stacked}
),
flagged AS (
    SELECT *,
           max(CASE WHEN k1_x10 = {BM25_SWEEP[0][0]}
                     AND b_x100 = {BM25_SWEEP[0][1]}
                     AND rank <= {RETR_TOPK} THEN 1 ELSE 0 END)
               OVER (PARTITION BY query_id, doc_id) AS in_dflt
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY k1_x10, b_x100, query_id
            ORDER BY score DESC, doc_id ASC) AS rank
        FROM stacked
    )
)
SELECT k1_x10, b_x100,
       CAST(count(*) AS BIGINT) AS ranked_ct,
       CAST(sum(in_dflt) AS BIGINT) AS overlap_default_ct
FROM flagged WHERE rank <= {RETR_TOPK}
GROUP BY 1, 2
"""


ORACLE_BM25_PARAM_SWEEP = _oracle_bm25_param_sweep()


FEEDBACK_K = 5  # PRF: top-K BM25 docs per query form the feedback set
EXPANSION_M = 5  # expansion terms emitted per query
PRF_SCALE = 1_000_000  # integer-scaled expansion weight: fb_tf * SCALE DIV df


def query_expansion_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback QUERY EXPANSION (the RM/RM3 family,
    Lavrenko & Croft SIGIR'01, reduced to the repo's integer-exact
    discipline): take each query's top-FEEDBACK_K BM25 documents as the
    relevance model, pool their term frequencies, drop terms the query
    already contains, and emit the top-EXPANSION_M new terms ranked by
    the df-normalized feedback weight ``fb_tf * PRF_SCALE DIV df`` (the
    tfidf_top_terms idiom — monotone in the RM ratio, totally ordered
    across engines; a true RM log-likelihood would rank by
    engine-dependent float ties).

    Plan shape: everything after the corpus-side postings pass is
    query-bounded — the feedback set is ≤ N_RETR_QUERIES × FEEDBACK_K
    rows BROADCAST into the postings join (doc-keyed), the original
    query vocabulary is a broadcast anti-join, and the final rank rides
    a per-query window over ≤ feedback-set-vocabulary rows. At 100 TB
    the only corpus-scale work is the tf/df aggregation already shared
    with the BM25 index build.
    """
    docs = load(spark, sf_dir, "documents")
    return prf_finish(
        bm25_topk(spark, sf_dir),
        _postings(docs),
        query_occurrences(docs).distinct(),
    )


def prf_finish(
    lex_ranked: DataFrame, tf: DataFrame, qvocab: DataFrame
) -> DataFrame:
    """The expansion mine proper — feedback pool, vocabulary anti-join,
    df-normalized rank. Shared VERBATIM by the batch entry and the
    streaming serve twin (lex_ranked: bm25_finish output; tf: corpus
    postings; qvocab: DISTINCT (query_id, tok))."""
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    fb = lex_ranked.filter(F.col("rank") <= FEEDBACK_K).select(
        "query_id", "doc_id"
    )
    pooled = (
        F.broadcast(fb)
        .join(tf, "doc_id")
        .groupBy("query_id", "tok")
        .agg(F.sum("tf").alias("fb_tf"), F.count(F.lit(1)).alias("fb_docs"))
    )
    fresh = pooled.join(
        F.broadcast(qvocab), ["query_id", "tok"], "left_anti"
    ).join(dfreq, "tok")
    scored = fresh.withColumn(
        "score", F.expr(f"fb_tf * {PRF_SCALE} DIV df")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.desc("fb_tf"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= EXPANSION_M)
        .select("query_id", "tok", "fb_tf", "fb_docs", "df", "score", "rank")
    )


def fusion_gain_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUSION SELF-MEASUREMENT (the recall-report discipline applied to
    RRF): for each query, how much of the fused top-k came only from
    the lexical retriever, only from the semantic one, or from both —
    the ledger that justifies (or kills) running two retrievers at 100
    TB. Pure integer counts over hybrid_rrf's own output (rank sentinel
    0 = absent), so the report is hash-exact by construction and costs
    one bounded aggregation over ≤ N_RETR_QUERIES × RETR_TOPK rows."""
    fused = hybrid_rrf(spark, sf_dir)
    return fused.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fused"),
        F.sum((F.col("sem_rank") == 0).cast("int")).cast("long").alias("n_lex_only"),
        F.sum((F.col("lex_rank") == 0).cast("int")).cast("long").alias("n_sem_only"),
        F.sum(
            ((F.col("lex_rank") > 0) & (F.col("sem_rank") > 0)).cast("int")
        )
        .cast("long")
        .alias("n_both"),
    )


ORACLE_QUERY_EXPANSION_PRF = f"""
WITH {_DUCK_BM25_BASE},
fb AS (
    SELECT query_id, doc_id FROM bm25_ranked WHERE rank <= {FEEDBACK_K}
),
pooled AS (
    SELECT fb.query_id, tf.tok,
           CAST(sum(tf.tf) AS BIGINT) AS fb_tf,
           CAST(count(*) AS BIGINT) AS fb_docs
    FROM fb JOIN tf ON tf.doc_id = fb.doc_id
    GROUP BY 1, 2
),
qvocab AS (
    SELECT DISTINCT query_id, tok FROM qocc
),
fresh AS (
    SELECT p.*, f.df,
           p.fb_tf * {PRF_SCALE} // f.df AS score
    FROM pooled p
    JOIN dfreq f ON f.tok = p.tok
    WHERE NOT EXISTS (
        SELECT 1 FROM qvocab q
        WHERE q.query_id = p.query_id AND q.tok = p.tok
    )
),
prf_ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY score DESC, fb_tf DESC, tok ASC) AS rank
    FROM fresh
)
SELECT query_id, tok, fb_tf, fb_docs, df, score, CAST(rank AS BIGINT) AS rank
FROM prf_ranked WHERE rank <= {EXPANSION_M}
"""


# --- logged-idf BM25 (VERDICT r11 ask #3) ------------------------------------
# The default BM25 here drops the log from the Robertson idf to stay
# transcendental-free (module parity contract); the documented cost is an
# over-boosted rare-term idf whose multi-term SUMS can order differently
# from textbook BM25. This variant closes that gap WITHOUT losing
# cross-engine bit-exactness: ln is evaluated as a shared SQL template of
# nothing but integer ops, one generated power-of-two CASE ladder, and
# correctly-rounded IEEE-double (+,-,*,/) in a fixed written order —
# identical text in both engines, so the doubles are bit-identical by the
# same argument as bm25_score_sql. Derivation: the idf ratio
# (N - df + 0.5)/(df + 0.5) equals p/q for the exact odd integers
# p = 2*(N - df) + 1, q = 2*df + 1, so ln(idf) = ln(p) - ln(q); for a
# positive BIGINT n, ln(n) = e*ln(2) + ln(m) with e = length(bin(n)) - 1
# (both engines' bin() renders minimal binary) and m = n / 2^e ∈ [1, 2);
# ln(m) is the atanh series 2z(1 + z²/3 + z⁴/5 + z⁶/7 + z⁸/9 + z¹⁰/11)
# at z = (m-1)/(m+1) ∈ [0, 1/3) — truncation error ≤ 2·(1/3)¹³/13 ≈ 1e-7
# absolute (measured 1.1e-7 max vs math.log over 1..2^62), far below any
# ranking tie the fixtures or a real corpus produce, and IDENTICAL in
# both engines so parity is unconditional. The chain is a list of
# (column, expression) stages — Spark applies them as withColumn steps,
# the oracle as stacked CTEs — because inlining the CASE ladder into one
# expression would duplicate it at every z² reuse.

_LN2_LIT = "0.6931471805599453"  # repr(math.log(2)): round-trips to the double


def _pow2_case_sql(e: str) -> str:
    whens = " ".join(f"WHEN {j} THEN CAST({1 << j} AS DOUBLE)" for j in range(63))
    return f"(CASE {e} {whens} ELSE CAST(0 AS DOUBLE) END)"


def _ln_stages(v: str, s: str) -> list[list[tuple[str, str]]]:
    """Staged ln(v) for a positive BIGINT column v, suffix s — each inner
    list is one projection level (columns may reference earlier levels
    only, so Spark withColumn and DuckDB CTE chains apply it alike)."""
    return [
        [(f"e_{s}", f"CAST(length(bin({v})) - 1 AS INT)")],
        [(f"p2_{s}", _pow2_case_sql(f"e_{s}"))],
        [(f"m_{s}", f"CAST({v} AS DOUBLE) / p2_{s}")],
        [(f"z_{s}", f"(m_{s} - CAST(1.0 AS DOUBLE)) / (m_{s} + CAST(1.0 AS DOUBLE))")],
        [(f"z2_{s}", f"z_{s} * z_{s}")],
        [(
            f"ln_{s}",
            f"CAST(e_{s} AS DOUBLE) * CAST({_LN2_LIT} AS DOUBLE)"
            f" + CAST(2.0 AS DOUBLE) * z_{s} * (CAST(1.0 AS DOUBLE)"
            f" + z2_{s} * (CAST(1.0 AS DOUBLE)/CAST(3.0 AS DOUBLE)"
            f" + z2_{s} * (CAST(1.0 AS DOUBLE)/CAST(5.0 AS DOUBLE)"
            f" + z2_{s} * (CAST(1.0 AS DOUBLE)/CAST(7.0 AS DOUBLE)"
            f" + z2_{s} * (CAST(1.0 AS DOUBLE)/CAST(9.0 AS DOUBLE)"
            f" + z2_{s} * (CAST(1.0 AS DOUBLE)/CAST(11.0 AS DOUBLE)))))))",
        )],
    ]


def _logidf_stages() -> list[list[tuple[str, str]]]:
    """(df, n_docs) → idf_ln, as parallel p/q ln chains merged level-wise."""
    head = [[
        ("p_i", "CAST(2 * (n_docs - df) + 1 AS BIGINT)"),
        ("q_i", "CAST(2 * df + 1 AS BIGINT)"),
    ]]
    lp, lq = _ln_stages("p_i", "p"), _ln_stages("q_i", "q")
    return head + [a + b for a, b in zip(lp, lq)] + [[("idf_ln", "ln_p - ln_q")]]


LOGIDF_STAGES = _logidf_stages()


def bm25_logidf_score_sql(k1: str, k1p1: str, b: str, omb: str) -> str:
    """Per-posting term score with the LOGGED idf (column idf_ln from
    LOGIDF_STAGES) and the SAME tf_sat_sql factor as the unlogged
    variant — one definition of the saturation math for both."""
    return (
        f"CAST(floor(idf_ln * {tf_sat_sql(k1, k1p1, b, omb)}"
        f" * CAST({BM25_SCALE} AS DOUBLE)) AS BIGINT)"
    )


def logidf_scored_postings(docs: DataFrame) -> DataFrame:
    """(tok, doc_id, score_i) with the logged idf. The ln chain runs
    per POSTING row (pure map-side whole-stage-codegen expression math —
    no extra join, unlike a per-term idf table that would shuffle tok
    twice), exactly where scored_postings computes its ratio."""
    feat = posting_features(docs)
    for stage in LOGIDF_STAGES:
        for c, e in stage:
            feat = feat.withColumn(c, F.expr(e))
    return feat.select(
        "tok",
        "doc_id",
        F.expr(bm25_logidf_score_sql(*_DEFAULT_CFG)).alias("score_i"),
    )


def bm25_topk_logidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k with the textbook LOGGED idf (ask r11 #3): same plan
    shape as bm25_topk (three keyed corpus aggregations, 1-row stats
    broadcast, broadcast match join, bounded agg, per-query window) —
    only the per-posting score expression differs. Registered alongside
    the unlogged entry precisely because their rankings CAN diverge
    (rare-term over-boost in the unlogged ratio);
    tests/test_retrieval.py::test_logidf_vs_unlogged_rank_divergence
    constructs the divergence — that divergence is the point."""
    docs = load(spark, sf_dir, "documents")
    return bm25_finish(
        bm25_match(query_occurrences(docs), logidf_scored_postings(docs))
    )


def _logidf_ranked_ctes() -> str:
    """The lg0..lgN staged-ln chain + lg_agg + lg_ranked CTE text,
    starting FROM the ``matched`` CTE of _DUCK_FEAT_BASE — extracted
    (byte-identical) from the single-entry oracle so the weighted-fusion
    oracle composes the SAME logged-idf rank list."""
    ctes, prev = [], "matched"
    for i, stage in enumerate(LOGIDF_STAGES):
        cols = ", ".join(f"{e} AS {c}" for c, e in stage)
        ctes.append(f"lg{i} AS (\n    SELECT *, {cols} FROM {prev}\n)")
        prev = f"lg{i}"
    chain = ",\n".join(ctes)
    return f"""{chain},
lg_agg AS (
    SELECT query_id, doc_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(sum({bm25_logidf_score_sql(*_DEFAULT_CFG)}) AS BIGINT) AS score
    FROM {prev}
    GROUP BY 1, 2
),
lg_ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM lg_agg
)"""


def _oracle_bm25_topk_logidf() -> str:
    return f"""
WITH {_DUCK_FEAT_BASE},
{_logidf_ranked_ctes()}
SELECT query_id, doc_id, n_hits, score, CAST(rank AS BIGINT) AS rank
FROM lg_ranked WHERE rank <= {RETR_TOPK}
"""


ORACLE_BM25_TOPK_LOGIDF = _oracle_bm25_topk_logidf()


# --- retrieval evaluation ledger (MRR / nDCG) --------------------------------
EVAL_MRR_SCALE = 1_000_000  # mrr = SCALE DIV first-relevant-rank (exact)
EVAL_DCG_SCALE = 10_000_000_000  # per-rank discount floor-scale
# (1e10, not 1e12: max DCG is RETR_TOPK * SCALE = 1e11, and the ndcg
# ratio multiplies by 1e6 before the integer divide — 1e11 * 1e6 = 1e17
# stays far inside BIGINT; at 1e12 the product would overflow)


def retrieval_eval_finish(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """RETRIEVAL EVALUATION LEDGER — MRR and nDCG of the lexical list
    AND the RRF-fused list, judged against the exact brute-force cosine
    top-k as binary pseudo-qrels (the repo's exactness baseline as the
    relevance truth: "how much semantic recall does each retriever
    capture, and how well does it order it"). Shared VERBATIM by the
    batch entry and the streaming serve twin (lex / sem: (query_id,
    doc_id, rank) lists).

    Metric arithmetic is integer-exact end to end: MRR is
    EVAL_MRR_SCALE DIV first-relevant-rank; each DCG discount
    1/log2(r+1) = ln(2)/ln(r+1) evaluates the shared _ln_stages chain
    on the BIGINT r+1 (r ≤ RETR_TOPK, so the chain runs on a bounded
    rank column, not the corpus), floor-scales to EVAL_DCG_SCALE, and
    sums order-free. nDCG here is the LOCAL-ideal form — IDCG re-ranks
    the RETRIEVED relevant rows to the top — because the pseudo-qrels
    are a constant-depth binary set (TOPK per query), which makes the
    textbook global IDCG@k a per-query constant; the local form prices
    ordering quality, the n_rel column prices recall, and together they
    reconstruct the global form if wanted.

    Plan shape: every input is a query-bounded rank list (≤ queries ×
    top-k rows); the fusion reuses rrf_finish verbatim; all corpus-scale
    work happened inside the upstream retrievers."""
    fused = rrf_finish(
        lex.select("query_id", "doc_id", F.col("rank").alias("lex_rank")),
        sem.select("query_id", "doc_id", F.col("rank").alias("sem_rank")),
    ).select("query_id", "doc_id", "rank")
    stacked = (
        lex.select(F.lit("lex").alias("eval_set"), "query_id", "doc_id", "rank")
        .unionByName(
            fused.select(
                F.lit("rrf").alias("eval_set"), "query_id", "doc_id", "rank"
            )
        )
    )
    qrels = sem.select("query_id", "doc_id")
    universe = stacked.select("eval_set", "query_id").distinct()
    rel = stacked.join(qrels, ["query_id", "doc_id"]).withColumn(
        "ideal_rank",
        F.row_number().over(
            Window.partitionBy("eval_set", "query_id").orderBy(F.asc("rank"))
        ),
    )
    rel = rel.withColumn("a_i", F.expr("CAST(rank + 1 AS BIGINT)")).withColumn(
        "b_i", F.expr("CAST(ideal_rank + 1 AS BIGINT)")
    )
    for stage in _ln_stages("a_i", "a") + _ln_stages("b_i", "b"):
        for c, e in stage:
            rel = rel.withColumn(c, F.expr(e))
    term = (
        f"CAST(floor(CAST({_LN2_LIT} AS DOUBLE) / ln_{{s}}"
        f" * CAST({EVAL_DCG_SCALE} AS DOUBLE)) AS BIGINT)"
    )
    per_q = (
        rel.withColumn("dcg_t", F.expr(term.format(s="a")))
        .withColumn("idcg_t", F.expr(term.format(s="b")))
        .groupBy("eval_set", "query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rel"),
            F.min("rank").alias("first_rel"),
            F.sum("dcg_t").cast("long").alias("dcg_x1e10"),
            F.sum("idcg_t").cast("long").alias("idcg_x1e10"),
        )
    )
    return universe.join(per_q, ["eval_set", "query_id"], "left").select(
        "eval_set",
        "query_id",
        F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
        F.coalesce(
            F.expr(f"{EVAL_MRR_SCALE} DIV first_rel"), F.lit(0)
        )
        .cast("long")
        .alias("mrr_x1e6"),
        F.coalesce(F.col("dcg_x1e10"), F.lit(0)).cast("long").alias("dcg_x1e10"),
        F.coalesce(F.col("idcg_x1e10"), F.lit(0))
        .cast("long")
        .alias("idcg_x1e10"),
        F.coalesce(
            F.expr("CASE WHEN idcg_x1e10 > 0"
                   " THEN dcg_x1e10 * 1000000 DIV idcg_x1e10 END"),
            F.lit(0),
        )
        .cast("long")
        .alias("ndcg_local_x1e6"),
    )


def retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evaluation ledger over the shipped retrievers: BM25 lexical
    list and its RRF fusion, judged by the exact cosine top-k."""
    from flink_gmall_spark.operators.ann import ann_topk

    lex = bm25_topk(spark, sf_dir).select("query_id", "doc_id", "rank")
    sem = ann_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return retrieval_eval_finish(lex, sem)


def _oracle_retrieval_eval() -> str:
    ctes, prev = [], "ev_rel"
    for i, stage in enumerate(_ln_stages("a_i", "a") + _ln_stages("b_i", "b")):
        cols = ", ".join(f"{e} AS {c}" for c, e in stage)
        ctes.append(f"ev{i} AS (\n    SELECT *, {cols} FROM {prev}\n)")
        prev = f"ev{i}"
    chain = ",\n".join(ctes)
    term = (
        f"CAST(floor(CAST({_LN2_LIT} AS DOUBLE) / ln_{{s}}"
        f" * CAST({EVAL_DCG_SCALE} AS DOUBLE)) AS BIGINT)"
    )
    return f"""
WITH {_oracle_hybrid_ctes()},
ev_stacked AS (
    SELECT 'lex' AS eval_set, query_id, doc_id, rank FROM lex
    UNION ALL
    SELECT 'rrf' AS eval_set, query_id, doc_id, rank FROM fused_topk
),
ev_universe AS (
    SELECT DISTINCT eval_set, query_id FROM ev_stacked
),
ev_rel AS (
    SELECT s.*,
           CAST(s.rank + 1 AS BIGINT) AS a_i,
           CAST(row_number() OVER (
               PARTITION BY s.eval_set, s.query_id ORDER BY s.rank ASC)
               + 1 AS BIGINT) AS b_i
    FROM ev_stacked s JOIN sem r
      ON r.query_id = s.query_id AND r.doc_id = s.doc_id
),
{chain},
ev_per_q AS (
    SELECT eval_set, query_id,
           CAST(count(*) AS BIGINT) AS n_rel,
           min(rank) AS first_rel,
           CAST(sum({term.format(s="a")}) AS BIGINT) AS dcg_x1e10,
           CAST(sum({term.format(s="b")}) AS BIGINT) AS idcg_x1e10
    FROM {prev}
    GROUP BY 1, 2
)
SELECT u.eval_set, u.query_id,
       CAST(COALESCE(p.n_rel, 0) AS BIGINT) AS n_rel,
       CAST(COALESCE({EVAL_MRR_SCALE} // p.first_rel, 0) AS BIGINT) AS mrr_x1e6,
       CAST(COALESCE(p.dcg_x1e10, 0) AS BIGINT) AS dcg_x1e10,
       CAST(COALESCE(p.idcg_x1e10, 0) AS BIGINT) AS idcg_x1e10,
       CAST(COALESCE(CASE WHEN p.idcg_x1e10 > 0
                THEN p.dcg_x1e10 * 1000000 // p.idcg_x1e10 END, 0) AS BIGINT)
           AS ndcg_local_x1e6
FROM ev_universe u LEFT JOIN ev_per_q p
  ON p.eval_set = u.eval_set AND p.query_id = u.query_id
"""


ORACLE_RETRIEVAL_EVAL = _oracle_retrieval_eval()


POS_K = 3  # positives per query: the top-POS_K BM25 docs
NEG_K = 4  # negatives per query, deterministically hash-sampled
# md5-threshold pre-sample for the negative pool: only (query, doc) pairs
# whose hash sorts below this hex prefix are candidates (~1/4 of the
# corpus per query) — the knob that bounds the negative-pool scan at
# 100 TB exactly like ann's exact_sample_hex audit discipline.
NEG_SAMPLE_HEX = "40"
# Two-phase top-k fan-out for the negative-pool ranking (VERDICT r11
# weak): phase 1 ranks per (query_id, salt) — NEG_SALTS × N_RETR_QUERIES
# reducer keys, each sorting ~pool/(queries×NEG_SALTS) rows — phase 2
# merges the ≤ NEG_SALTS × NEG_K survivors per query. Raise with cluster
# size; the salt is the TAIL of the md5 hex (independent of the rank
# order, which the PREFIX determines), so buckets stay balanced.
NEG_SALTS = 32


def retrieval_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIPLET MINING for embedding-model training — the standard
    (query, positive, negative) data builder over the lexical index:
    positives are each query's top-POS_K BM25 documents (lexical
    relevance as the weak label, the classic BM25-negatives setup from
    the DPR line of work, Karpukhin et al. 2020 — here inverted: BM25
    gives the positives and the negatives are random), negatives are
    NEG_K documents deterministically sampled per query by md5 order
    from outside the query's ENTIRE top-RETR_TOPK list (not just the
    positives — a rank-4 doc is too relevant to be a safe negative).

    Determinism/parity: the negative sample is the md5 hex order of
    (query_id '-' doc_id) under a threshold pre-filter (NEG_SAMPLE_HEX),
    so both engines pick the identical docs with no RNG; every output
    column is BIGINT/STRING. Plan shape: the negative pool is the ONLY
    corpus-scale piece — a doc_id-projected scan crossed with the ≤
    N_RETR_QUERIES broadcast query list, hash-filtered to ~1/4 BEFORE
    the anti-join and window (pushdown-visible), then ranked per query;
    positives and the final pos × neg pairing are query-bounded.
    """
    docs = load(spark, sf_dir, "documents")
    return triplets_finish(bm25_topk(spark, sf_dir), docs)


def triplets_finish(topk: DataFrame, docs: DataFrame) -> DataFrame:
    """Everything downstream of the BM25 rank list — positives slice,
    hash-sampled negative pool, pairing. Shared VERBATIM by the batch
    entry and the streaming serve twin (topk: bm25_finish output; docs:
    the STATIC corpus — the negative pool is corpus-side either way).

    Scale shape (VERDICT r11 weak, fixed): the per-query top-NEG_K over
    the ~pool/4 candidate rows is a TWO-PHASE top-k — phase 1 is a
    row_number window keyed by (query_id, neg_salt) where neg_salt is
    derived from the TAIL of the same md5 hex (NEG_SALTS buckets,
    deterministic — no spark_partition_id, so retries/AQE cannot change
    the result), phase 2 re-ranks the ≤ NEG_SALTS × NEG_K survivors per
    query. The global top-NEG_K by (h, doc_id) is contained in the union
    of the per-salt top-NEG_K (each bucket keeps its own best NEG_K), so
    the selection — and ORACLE_RETRIEVAL_TRIPLETS, which keeps the plain
    single window — is unchanged. No reducer ever sorts more than
    ~pool/(N_RETR_QUERIES × NEG_SALTS) rows, vs pool/N_RETR_QUERIES
    before (8 reducers each sorting a quarter of the corpus at 100 TB).

    UNDER-FILL (review r11): a query whose md5-threshold pool yields
    fewer than NEG_K eligible negatives emits fewer (or zero) triplets
    for that query — consistently in both engines, since the inner
    pos⋈negs join drops what the pool cannot supply. A small corpus plus
    a tight NEG_SAMPLE_HEX is the trigger; widen NEG_SAMPLE_HEX (the
    pool fraction knob) if whole queries vanish from the training set.
    ``tests/test_retrieval.py::test_retrieval_triplets_no_underfill``
    pins the shipped fixtures to the fully-filled regime so a silent
    fixture regression surfaces as a named failure, not a smaller
    training set."""
    pos = topk.filter(F.col("rank") <= POS_K).select(
        "query_id",
        F.col("doc_id").alias("pos_doc_id"),
        F.col("rank").alias("pos_rank"),
    )
    qids = (
        docs.filter(F.col("doc_id") < N_RETR_QUERIES)
        .select(F.col("doc_id").alias("query_id"))
        .distinct()
    )
    pool = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(qids))
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.col("query_id").cast("string"),
                    F.lit("-"),
                    F.col("doc_id").cast("string"),
                )
            ),
        )
        .filter(F.col("h") < NEG_SAMPLE_HEX)
        .filter(F.col("doc_id") != F.col("query_id"))
    )
    eligible = pool.join(
        F.broadcast(topk.select("query_id", "doc_id")),
        ["query_id", "doc_id"],
        "left_anti",
    )
    # phase 1: per-(query, salt) local top-NEG_K — the salt comes from
    # the md5 TAIL (chars 29-32; the ORDER key is the prefix), so bucket
    # membership is deterministic and order-independent
    salted = eligible.withColumn(
        "neg_salt",
        (F.conv(F.substring("h", 29, 4), 16, 10).cast("long") % NEG_SALTS),
    )
    w_local = Window.partitionBy("query_id", "neg_salt").orderBy(
        F.asc("h"), F.asc("doc_id")
    )
    survivors = salted.withColumn(
        "local_rank", F.row_number().over(w_local)
    ).filter(F.col("local_rank") <= NEG_K)
    # phase 2: global merge over ≤ NEG_SALTS × NEG_K rows per query
    w = Window.partitionBy("query_id").orderBy(F.asc("h"), F.asc("doc_id"))
    negs = (
        survivors.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= NEG_K)
        .select("query_id", F.col("doc_id").alias("neg_doc_id"), "neg_rank")
    )
    return pos.join(negs, "query_id").select(
        "query_id", "pos_doc_id", "pos_rank", "neg_doc_id", "neg_rank"
    )


ORACLE_RETRIEVAL_TRIPLETS = f"""
WITH {_DUCK_BM25_BASE},
topk AS (
    SELECT query_id, doc_id, rank FROM bm25_ranked WHERE rank <= {RETR_TOPK}
),
pos AS (
    SELECT query_id, doc_id AS pos_doc_id, rank AS pos_rank
    FROM topk WHERE rank <= {POS_K}
),
pool AS (
    SELECT q.query_id, d.doc_id,
           md5(concat(CAST(q.query_id AS VARCHAR), '-', CAST(d.doc_id AS VARCHAR))) AS h
    FROM (SELECT doc_id FROM documents) d
    CROSS JOIN (SELECT DISTINCT doc_id AS query_id FROM documents
                WHERE doc_id < {N_RETR_QUERIES}) q
),
eligible AS (
    SELECT p.* FROM pool p
    WHERE p.h < '{NEG_SAMPLE_HEX}' AND p.doc_id <> p.query_id
      AND NOT EXISTS (
          SELECT 1 FROM topk t
          WHERE t.query_id = p.query_id AND t.doc_id = p.doc_id
      )
),
negs AS (
    SELECT query_id, doc_id AS neg_doc_id,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY h ASC, doc_id ASC) AS BIGINT)
               AS neg_rank
    FROM eligible
    QUALIFY neg_rank <= {NEG_K}
)
SELECT pos.query_id, pos.pos_doc_id, pos.pos_rank, negs.neg_doc_id, negs.neg_rank
FROM pos JOIN negs ON negs.query_id = pos.query_id
"""

# --- weighted 3-system RRF (ROADMAP r11 item 6) -------------------------------
# Cormack/Clarke/Buettcher's RRF generalizes to per-system weights
# (score = Σ w_s / (K + rank_s) — the shape production fusion layers
# expose as a tuning surface, e.g. OpenSearch/Vespa weighted fusion).
# Three systems here: the unlogged BM25 list, the brute-force cosine
# list, and the logged-idf BM25 list at HALF weight — the two lexical
# lists are highly correlated, so full weight would double-count
# lexical evidence; 0.5 prices the logged list as a tie-breaking
# refinement. All weights are exactly-representable double literals
# spelled ONCE (shared template), so both engines fold the identical
# doubles.
WRRF_WEIGHTS = ("1.0", "1.0", "0.5")  # (lex, sem, logidf)


def rrf_term_sql(w: str, rank_col: str) -> str:
    """One weighted RRF term — w / (RRF_K + rank), NULL rank → 0.0 via
    the same NULL-propagation idiom as rrf_finish. Identical text in
    both engines (the bm25_score_sql discipline)."""
    return (
        f"COALESCE(CAST({w} AS DOUBLE) / (CAST({RRF_K} AS DOUBLE)"
        f" + CAST({rank_col} AS DOUBLE)), CAST(0.0 AS DOUBLE))"
    )


# The full weighted score: three terms added in FIXED written order
# (left-associated +), one definition compiled by Spark and DuckDB alike.
WRRF_SCORE_SQL = (
    rrf_term_sql(WRRF_WEIGHTS[0], "lex_rank")
    + " + " + rrf_term_sql(WRRF_WEIGHTS[1], "sem_rank")
    + " + " + rrf_term_sql(WRRF_WEIGHTS[2], "lgx_rank")
)


def rrf_weighted_finish(
    lex: DataFrame, sem: DataFrame, lgx: DataFrame
) -> DataFrame:
    """The 3-way weighted fusion — two chained full-outer joins of the
    query-bounded rank lists (N_RETR_QUERIES × top-k rows each), the
    fixed-order 3-term weighted sum, and the final per-query window.
    Shared VERBATIM by the batch entry and the streaming serve twin
    (inputs carry nullable lex_rank / sem_rank / lgx_rank)."""
    f3 = lex.join(sem, ["query_id", "doc_id"], "full_outer").join(
        lgx, ["query_id", "doc_id"], "full_outer"
    )
    scored = f3.withColumn("wrrf", F.expr(WRRF_SCORE_SQL))
    w = Window.partitionBy("query_id").orderBy(F.desc("wrrf"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= RETR_TOPK)
        .select(
            "query_id",
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).cast("long").alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).cast("long").alias("sem_rank"),
            F.coalesce("lgx_rank", F.lit(0)).cast("long").alias("lgx_rank"),
            "wrrf",
            "rank",
        )
    )


def rrf_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED 3-SYSTEM RRF — hybrid_rrf extended with the logged-idf
    lexical list as a half-weight third voter. Plan: all three rank
    lists are query-bounded, so the fusion is two broadcast-able
    full-outer joins over tiny inputs; the corpus-scale work (postings
    build, ln chain, cosine scan) lives in the upstream retrievers and
    the first two share their postings-feature subtree. Same fixture
    contract as hybrid_rrf (doc_id ≡ vec_id, pinned by
    test_fixture_vec_id_doc_id_alignment)."""
    from flink_gmall_spark.operators.ann import ann_topk

    lex = bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    sem = ann_topk(spark, sf_dir).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )
    lgx = bm25_topk_logidf(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("lgx_rank")
    )
    return rrf_weighted_finish(lex, sem, lgx)


def _oracle_rrf_weighted() -> str:
    return f"""
WITH {_oracle_lex_sem_ctes()},
{_logidf_ranked_ctes()},
glex AS (
    SELECT query_id, doc_id, rank FROM lg_ranked WHERE rank <= {RETR_TOPK}
),
wf2 AS (
    SELECT COALESCE(l.query_id, s.query_id) AS query_id,
           COALESCE(l.doc_id, s.doc_id) AS doc_id,
           l.rank AS lex_rank, s.rank AS sem_rank
    FROM lex l FULL OUTER JOIN sem s
      ON l.query_id = s.query_id AND l.doc_id = s.doc_id
),
wf3 AS (
    SELECT COALESCE(f.query_id, g.query_id) AS query_id,
           COALESCE(f.doc_id, g.doc_id) AS doc_id,
           f.lex_rank, f.sem_rank, g.rank AS lgx_rank
    FROM wf2 f FULL OUTER JOIN glex g
      ON f.query_id = g.query_id AND f.doc_id = g.doc_id
),
wscored AS (
    SELECT query_id, doc_id, lex_rank, sem_rank, lgx_rank,
           {WRRF_SCORE_SQL} AS wrrf
    FROM wf3
),
wranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY wrrf DESC, doc_id ASC) AS rank
    FROM wscored
)
SELECT query_id, doc_id,
       CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
       CAST(COALESCE(sem_rank, 0) AS BIGINT) AS sem_rank,
       CAST(COALESCE(lgx_rank, 0) AS BIGINT) AS lgx_rank,
       wrrf, CAST(rank AS BIGINT) AS rank
FROM wranked WHERE rank <= {RETR_TOPK}
"""


ORACLE_RRF_WEIGHTED = _oracle_rrf_weighted()


# --- BM25-mined hard negatives + recall ledger (ROADMAP r11 item 6) -----------
def bm25_negatives_finish(
    topk: DataFrame, emb_normed: DataFrame, exact: DataFrame
) -> DataFrame:
    """LEXICAL HARD-NEGATIVE MINING, PRICED — the 100 TB question this
    entry answers with numbers: can the cheap lexical index mine the
    hard negatives the expensive dense scan would (ann.hard_negatives),
    or does lexical-only mining miss them? Per query:

    - n_lex: BM25 top-k candidates that have an embedding (inner join —
      the doc_id ≡ vec_id fixture contract of hybrid_rrf applies),
    - n_excluded: candidates rejected by the near-dup ceiling
      (cos >= ann.COSINE_THRESHOLD — secretly positives, the same
      exclusion hard_negatives applies to ITS candidates),
    - n_negs: the mined lexical negatives (n_lex - n_excluded),
    - n_hits: how many mined negatives appear in the exact
      embedding-space hard-negative top-k — the recall numerator (the
      ann_recall_report discipline applied to negative mining).

    Shared VERBATIM by the batch entry and the streaming serve twin
    (topk: bm25_finish output; emb_normed: ann._with_norm(embeddings);
    exact: hard_negatives' (query_id, doc_id) pairs). Cosines are the
    module-shared _DOT/_with_norm folds, so the threshold compares the
    identical doubles in both engines; only integer counts reach the
    output. Plan: everything is query-bounded (≤ N_RETR_QUERIES × top-k
    rows broadcast into one embeddings lookup); the exact list is the
    brute-force audit twin — at a real query volume it swaps to the IVF
    probe plan (hard_negatives_ivf) unchanged."""
    from flink_gmall_spark.operators.ann import _DOT, COSINE_THRESHOLD

    q = emb_normed.filter(F.col("vec_id") < N_RETR_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cand = F.broadcast(topk.select("query_id", "doc_id")).join(
        emb_normed.select(F.col("vec_id").alias("doc_id"), "v", "nrm"),
        "doc_id",
    )
    scored = cand.join(F.broadcast(q), "query_id").withColumn(
        "cos",
        F.expr(_DOT.format(a="qv", b="v")) / (F.col("qn") * F.col("nrm")),
    )
    negs = scored.filter(F.col("cos") < COSINE_THRESHOLD).select(
        "query_id", "doc_id"
    )
    hits = (
        negs.join(exact, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    ledger = scored.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lex"),
        F.sum((F.col("cos") >= COSINE_THRESHOLD).cast("int"))
        .cast("long")
        .alias("n_excluded"),
        F.sum((F.col("cos") < COSINE_THRESHOLD).cast("int"))
        .cast("long")
        .alias("n_negs"),
    )
    return ledger.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        "n_lex",
        "n_excluded",
        "n_negs",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
    )


def bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch composition: BM25 candidates from the lexical index,
    exact hard negatives from ann.hard_negatives as the recall
    denominator."""
    from flink_gmall_spark.operators.ann import _with_norm, hard_negatives

    emb = _with_norm(load(spark, sf_dir, "embeddings"))
    exact = hard_negatives(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("doc_id")
    )
    return bm25_negatives_finish(bm25_topk(spark, sf_dir), emb, exact)


def _oracle_bm25_hard_negatives() -> str:
    from flink_gmall_spark.operators.ann import (
        _DUCK_DOT,
        _DUCK_NORM,
        COSINE_THRESHOLD,
        ORACLE_HARD_NEGATIVES,
    )

    return f"""
WITH {_DUCK_BM25_BASE},
lexl AS (
    SELECT query_id, doc_id FROM bm25_ranked WHERE rank <= {RETR_TOPK}
),
we AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           {_DUCK_NORM.format(v='embedding::DOUBLE[]')} AS nrm
    FROM embeddings
),
lsc AS (
    SELECT l.query_id, l.doc_id,
           {_DUCK_DOT.format(a='q.v', b='d.v')} / (q.nrm * d.nrm) AS cos
    FROM lexl l
    JOIN we d ON d.vec_id = l.doc_id
    JOIN we q ON q.vec_id = l.query_id
),
lneg AS (
    SELECT query_id, doc_id FROM lsc WHERE cos < {COSINE_THRESHOLD}
),
hnx AS (
    SELECT query_id, neighbor_id AS doc_id FROM ({ORACLE_HARD_NEGATIVES}) t
),
nhits AS (
    SELECT n.query_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM lneg n JOIN hnx ON hnx.query_id = n.query_id AND hnx.doc_id = n.doc_id
    GROUP BY 1
),
nledger AS (
    SELECT query_id,
           CAST(count(*) AS BIGINT) AS n_lex,
           CAST(sum(CASE WHEN cos >= {COSINE_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_excluded,
           CAST(sum(CASE WHEN cos < {COSINE_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_negs
    FROM lsc GROUP BY 1
)
SELECT g.query_id, g.n_lex, g.n_excluded, g.n_negs,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
FROM nledger g LEFT JOIN nhits h ON h.query_id = g.query_id
"""


ORACLE_BM25_HARD_NEGATIVES = _oracle_bm25_hard_negatives()


# --- positional phrase search (ROADMAP r11 item 6) ----------------------------
# Phrase retrieval: rank corpus documents by how many of a query's
# ADJACENT TOKEN PAIRS they contain at adjacent positions — the
# positional-index workload every Lucene-class engine serves, and the
# deliberate PLAN VARIANT of shingle equality: the ANSWERS are exactly
# what a bigram-shingle equi-join would produce (the oracle below IS
# that shingle plan), but the Spark side matches through a positional
# postings index (tok, doc_id, pos) with a two-leg join — at 100 TB the
# positional index never materializes corpus bigrams (vocabulary² blow-up
# for the shingle table's key space); only terms a live query contains
# are ever joined.


def pos_index(docs: DataFrame) -> DataFrame:
    """(tok, doc_id, pos) positional postings, df-capped — the static
    INDEX both the batch entry and the serve twin probe. The df cap is
    the same MAX_POSTING_DF guard as BM25's match join (a stopword-grade
    term's posting list dominates the positional join at scale) applied
    as a broadcast ANTI-join: the over-cap term list is tiny by
    construction (only stopword-grade terms exceed the cap), so the cap
    is map-side over the posexplode scan — the index build shuffles
    nothing beyond the df aggregation it needs anyway."""
    pp = docs.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("pos", "tok")
    )
    dfreq = _postings(docs).groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # NOT materialized (measured and declined, the minhash-signature /
    # tf-postings precedent): both join legs reference this subtree, so
    # the static plan recomputes the posexplode + df-cap per leg — but
    # the recompute is a whole-stage-codegen pipeline over page-cached
    # parquet, measured 3.7-4.3 s warm at sf0.1 vs 13-16 s with an
    # eager localCheckpoint of the full positional index (the write
    # dominates). A deployment with real query volume amortizes an index
    # build by bucket-materializing to parquet (the
    # scale_bucketed_postings_serve pattern), not by caching in-job.
    return pp.join(
        F.broadcast(dfreq.filter(F.col("df") > MAX_POSTING_DF).select("tok")),
        "tok",
        "left_anti",
    )


def query_bigram_occurrences(docs: DataFrame) -> DataFrame:
    """(query_id, w1, w2) — one row per ADJACENT-PAIR OCCURRENCE of the
    query documents (repetition kept, the query_occurrences discipline:
    a pure map-side transform, stateless on a stream)."""
    t = (
        docs.filter(F.col("doc_id") < N_RETR_QUERIES)
        .select(F.col("doc_id").alias("query_id"), tokens_col("text").alias("t"))
        .filter(F.size("t") >= 2)
    )
    return t.select(
        "query_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("bg"),
    ).select("query_id", "bg.w1", "bg.w2")


def phrase_adjacent_matches(
    qbg: DataFrame, idx: DataFrame, broadcast: bool = True
) -> DataFrame:
    """Both positional legs — one (query_id, doc_id) row per adjacency
    match (a query pair occurrence landing on a corpus position pair).
    The ONE definition shared by the batch entry and the serve twin
    (broadcast=False: a streaming side cannot take the hint, and the
    w2 vocabulary prune below would make the static leg depend on the
    stream — the serve twin's adjacency leg joins the full index per
    micro-batch instead, which is exactly what a deployed endpoint's
    resident index does). Draining happens AFTER leg 2 in the serve
    twin: adjacency matches are output-bounded (they aggregate to the
    top-k table), while leg-1 rows are posting-list-sized — an
    order-of-magnitude checkpoint/sink difference."""
    left = F.broadcast(qbg) if broadcast else qbg
    p1 = idx.select(F.col("tok").alias("w1"), "doc_id", "pos")
    m1 = (
        left.join(p1, "w1")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "w2", "doc_id", "pos")
    )
    p2 = idx.select(
        F.col("tok").alias("w2"), "doc_id", (F.col("pos") - 1).alias("pos")
    )
    if broadcast:
        # batch: prune the adjacency leg to the query vocabulary (a
        # broadcast semi-join — the shuffle on (doc_id, pos) then only
        # ever moves query-term postings, never the full index)
        p2 = p2.join(
            F.broadcast(qbg.select(F.col("w2").alias("tok")).distinct()),
            F.col("w2") == F.col("tok"),
            "left_semi",
        )
    return m1.join(p2, ["doc_id", "pos", "w2"]).select("query_id", "doc_id")


def phrase_finish(matches: DataFrame) -> DataFrame:
    """Aggregation + ranking over the adjacency matches, shared VERBATIM
    by batch and serve twin. n_hits counts (query pair occurrence ×
    positional occurrence) — exactly the shingle-equality multiplicity."""
    agg = matches.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_hits"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= RETR_TOPK)
        .select("query_id", "doc_id", "n_hits", "rank")
    )


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE SEARCH over the positional index: query docs
    (doc_id < N_RETR_QUERIES) against the rest of the corpus, ranked by
    adjacent-pair hits. Plan: one posexplode scan builds the index, the
    query side broadcasts into leg 1 (map-side), leg 2 shuffles only the
    w2-filtered slice on (doc_id, pos), one bounded agg, one per-query
    window. The oracle is the bigram-shingle plan — same answers, the
    equivalence IS the test."""
    docs = load(spark, sf_dir, "documents")
    return phrase_finish(
        phrase_adjacent_matches(query_bigram_occurrences(docs), pos_index(docs))
    )


ORACLE_PHRASE_SEARCH = f"""
WITH pt AS (
    SELECT doc_id, {_DUCK_T} AS t FROM documents
),
ptok AS (
    SELECT doc_id, unnest(t) AS tok FROM pt
),
pdf AS (
    SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM ptok GROUP BY 1
),
pcap AS (
    SELECT tok FROM pdf WHERE df <= {MAX_POSTING_DF}
),
pbg AS (
    SELECT doc_id, t[i] AS w1, t[i+1] AS w2
    FROM pt, UNNEST(range(1, len(t))) AS u(i)
    WHERE len(t) >= 2
),
cbg AS (
    SELECT doc_id, w1, w2 FROM pbg
    WHERE w1 IN (SELECT tok FROM pcap) AND w2 IN (SELECT tok FROM pcap)
),
qbg AS (
    SELECT doc_id AS query_id, w1, w2 FROM pbg
    WHERE doc_id < {N_RETR_QUERIES}
),
pm AS (
    SELECT q.query_id, c.doc_id
    FROM qbg q JOIN cbg c
      ON c.w1 = q.w1 AND c.w2 = q.w2 AND c.doc_id <> q.query_id
),
pagg AS (
    SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM pm GROUP BY 1, 2
),
pranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY n_hits DESC, doc_id ASC) AS rank
    FROM pagg
)
SELECT query_id, doc_id, n_hits, CAST(rank AS BIGINT) AS rank
FROM pranked WHERE rank <= {RETR_TOPK}
"""


# --- proximity-weighted retrieval (round 13) ----------------------------------
# Phrase search (above) rewards exact adjacency only; the standard next
# operator a retrieval consumer reaches for is WINDOWED PROXIMITY
# scoring — Lucene's SpanNear / InQuery-style ordered-window ranking
# (Metzler & Croft's sequential-dependence model uses exactly this
# ordered-window feature beside the exact-bigram one). Each adjacent
# query pair (w1, w2) scores every corpus position pair with
# 1 <= pos(w2) - pos(w1) <= PROX_WINDOW, weighted linearly by closeness
# (adjacent = PROX_WINDOW points, widest = 1), plus the min-span
# diagnostic rank fusion consumers read. Shares pos_index and
# query_bigram_occurrences with phrase search — ONE definition of the
# positional machinery; the delta is leg 2 joining on the (doc_id, w2)
# band with the position difference as a range residual instead of the
# shifted pure-equi key. At 100 TB the same argument as phrase search
# holds: only live-query terms are ever joined, never a corpus
# pair/bigram materialization; the band join's per-key group is one
# term's positions within one document — bounded by document length,
# not corpus size.

PROX_WINDOW = 5  # ordered window: 1 <= p2 - p1 <= 5


def _position_pair_rows(
    qbg: DataFrame, idx: DataFrame, broadcast: bool = True
) -> DataFrame:
    """One (query_id, w2, doc_id, p1, p2) row per (adjacent query pair ×
    matched corpus position pair), BEFORE any window filter — the shared
    two-leg core of every positional-window consumer (ADVICE r15: the
    SDM fusion had inlined a near-verbatim copy of this machinery; one
    definition keeps the df-cap/broadcast discipline from drifting).
    Leg 1 fans the (broadcast) query pairs onto the w1 postings
    map-side; leg 2 is an equi-join on (doc_id, w2) — under broadcast
    the band leg is first pruned to the query vocabulary (broadcast
    semi-join) so the shuffle only ever moves query-term postings.
    Callers apply their window inequality, which Catalyst folds into
    the join as its range residual, so the executed plan is unchanged
    from the former inline forms (string-key equi join, NOT df["col"]
    conditions: both legs share the idx lineage, the classic self-join
    ambiguity)."""
    left = F.broadcast(qbg) if broadcast else qbg
    p1 = idx.select(F.col("tok").alias("w1"), "doc_id", F.col("pos").alias("p1"))
    m1 = (
        left.join(p1, "w1")
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "w2", "doc_id", "p1")
    )
    p2 = idx.select(F.col("tok").alias("w2"), "doc_id", F.col("pos").alias("p2"))
    if broadcast:
        p2 = p2.join(
            F.broadcast(qbg.select(F.col("w2").alias("tok")).distinct()),
            F.col("w2") == F.col("tok"),
            "left_semi",
        )
    return m1.join(p2, ["doc_id", "w2"])


def proximity_matches(
    qbg: DataFrame,
    idx: DataFrame,
    broadcast: bool = True,
    ordered: bool = True,
) -> DataFrame:
    """One (query_id, doc_id, span) row per within-window position pair
    — the proximity analogue of phrase_adjacent_matches, shared by the
    batch entries and the serve twins (broadcast=False for the stream
    side, same contract as the phrase twin). ordered=True is the
    sequential-dependence model's ORDERED window (1 <= p2 - p1 <=
    PROX_WINDOW, span = the signed gap); ordered=False its UNORDERED
    window (1 <= |p2 - p1| <= PROX_WINDOW, span = the magnitude — both
    term orders count, the #uwN feature; for a repeated-token query
    pair each unordered position pair contributes once per direction,
    which the oracle mirrors exactly). Leg 1 fans the (broadcast) query
    pairs onto the w1 postings map-side; leg 2 is an equi-join on
    (doc_id, w2) with the window inequality as the hash join's range
    residual — the shuffle moves only w2-postings of docs that matched
    leg 1 (and under broadcast, only query-vocabulary postings), each
    (doc_id, w2) group no larger than that term's in-document
    positions."""
    gap = (
        (F.col("p2") - F.col("p1"))
        if ordered
        else F.abs(F.col("p2") - F.col("p1"))
    )
    return (
        _position_pair_rows(qbg, idx, broadcast)
        .filter((gap >= 1) & (gap <= PROX_WINDOW))
        .select(
            "query_id",
            "doc_id",
            gap.cast("long").alias("span"),
        )
    )


def proximity_finish(matches: DataFrame) -> DataFrame:
    """Aggregation + ranking over the span matches, shared VERBATIM by
    batch and serve twin: prox_score = Σ (PROX_WINDOW + 1 − span)
    (adjacency is worth PROX_WINDOW, the widest window hit 1), n_pairs,
    and min_span; rank by score desc, doc_id asc, top RETR_TOPK."""
    agg = matches.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.lit(PROX_WINDOW + 1) - F.col("span")).cast("long").alias("prox_score"),
        F.min("span").cast("long").alias("min_span"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("prox_score"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= RETR_TOPK)
        .select("query_id", "doc_id", "n_pairs", "prox_score", "min_span", "rank")
    )


def proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROXIMITY-WEIGHTED SEARCH over the positional index: query docs
    (doc_id < N_RETR_QUERIES) against the rest of the corpus, every
    adjacent query pair scoring ordered within-PROX_WINDOW corpus
    position pairs by closeness. Plan: one posexplode scan builds the
    df-capped index (shared pos_index — phrase search and this entry
    probe the SAME index, the point of positional postings), leg 1
    broadcasts the query pairs, leg 2 band-joins w2 postings on
    (doc_id, w2) with the window inequality as residual, one bounded
    agg, one per-query window."""
    docs = load(spark, sf_dir, "documents")
    return proximity_finish(
        proximity_matches(query_bigram_occurrences(docs), pos_index(docs))
    )


ORACLE_PROXIMITY_TOPK = f"""
WITH xt AS (
    SELECT doc_id, {_DUCK_T} AS t FROM documents
),
xtok AS (
    SELECT doc_id, unnest(t) AS tok,
           generate_subscripts(t, 1) - 1 AS pos
    FROM xt
),
xdf AS (
    SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM xtok GROUP BY 1
),
xidx AS (
    SELECT i.tok, i.doc_id, i.pos FROM xtok i
    JOIN xdf d ON i.tok = d.tok AND d.df <= {MAX_POSTING_DF}
),
xqbg AS (
    SELECT doc_id AS query_id, t[i] AS w1, t[i+1] AS w2
    FROM xt, UNNEST(range(1, len(t))) AS u(i)
    WHERE doc_id < {N_RETR_QUERIES} AND len(t) >= 2
),
xm AS (
    SELECT q.query_id, a.doc_id,
           CAST(b.pos - a.pos AS BIGINT) AS span
    FROM xqbg q
    JOIN xidx a ON a.tok = q.w1 AND a.doc_id <> q.query_id
    JOIN xidx b ON b.tok = q.w2 AND b.doc_id = a.doc_id
         AND b.pos > a.pos AND b.pos <= a.pos + {PROX_WINDOW}
),
xagg AS (
    SELECT query_id, doc_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum({PROX_WINDOW + 1} - span) AS BIGINT) AS prox_score,
           CAST(min(span) AS BIGINT) AS min_span
    FROM xm GROUP BY 1, 2
),
xranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY prox_score DESC, doc_id ASC) AS rank
    FROM xagg
)
SELECT query_id, doc_id, n_pairs, prox_score, min_span,
       CAST(rank AS BIGINT) AS rank
FROM xranked WHERE rank <= {RETR_TOPK}
"""


def proximity_unordered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNORDERED-window proximity search — the #uwN companion of
    proximity_topk (Metzler & Croft's sequential-dependence model
    scores exact bigrams, ordered windows, AND unordered windows; with
    phrase_search and proximity_topk this completes the trio on the ONE
    shared pos_index). Same plan as the ordered entry — the residual
    becomes 1 <= |p2 - p1| <= PROX_WINDOW and the closeness weight uses
    the magnitude — so a document phrasing the query terms in either
    order still scores."""
    docs = load(spark, sf_dir, "documents")
    return proximity_finish(
        proximity_matches(
            query_bigram_occurrences(docs), pos_index(docs), ordered=False
        )
    )


ORACLE_PROXIMITY_UNORDERED = f"""
WITH xt AS (
    SELECT doc_id, {_DUCK_T} AS t FROM documents
),
xtok AS (
    SELECT doc_id, unnest(t) AS tok,
           generate_subscripts(t, 1) - 1 AS pos
    FROM xt
),
xdf AS (
    SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM xtok GROUP BY 1
),
xidx AS (
    SELECT i.tok, i.doc_id, i.pos FROM xtok i
    JOIN xdf d ON i.tok = d.tok AND d.df <= {MAX_POSTING_DF}
),
xqbg AS (
    SELECT doc_id AS query_id, t[i] AS w1, t[i+1] AS w2
    FROM xt, UNNEST(range(1, len(t))) AS u(i)
    WHERE doc_id < {N_RETR_QUERIES} AND len(t) >= 2
),
xm AS (
    SELECT q.query_id, a.doc_id,
           CAST(abs(b.pos - a.pos) AS BIGINT) AS span
    FROM xqbg q
    JOIN xidx a ON a.tok = q.w1 AND a.doc_id <> q.query_id
    JOIN xidx b ON b.tok = q.w2 AND b.doc_id = a.doc_id
         AND abs(b.pos - a.pos) >= 1
         AND abs(b.pos - a.pos) <= {PROX_WINDOW}
),
xagg AS (
    SELECT query_id, doc_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum({PROX_WINDOW + 1} - span) AS BIGINT) AS prox_score,
           CAST(min(span) AS BIGINT) AS min_span
    FROM xm GROUP BY 1, 2
),
xranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY prox_score DESC, doc_id ASC) AS rank
    FROM xagg
)
SELECT query_id, doc_id, n_pairs, prox_score, min_span,
       CAST(rank AS BIGINT) AS rank
FROM xranked WHERE rank <= {RETR_TOPK}
"""


# --- sequential-dependence fusion (round 13) ----------------------------------
# With phrase search (exact adjacency), ordered proximity, and unordered
# proximity all probing the one positional index, the classic composite
# is Metzler & Croft's sequential-dependence model (SIGIR 2005): a
# linear combination of the unigram score and the two window features.
# The weights are a fixed configuration (SDM tunes them per collection;
# the published defaults weight unigrams heaviest) scaled so a window
# hit moves a ranking without drowning the lexical signal: BM25 sums
# land around 10^6-10^7 on this corpus (BM25_SCALE x n_hits) while
# proximity sums are 10^0-10^2, so the window weights carry the scale
# difference explicitly instead of pretending the features are
# commensurable.

SDM_UNI_W = 8  # x bm25_score (itself BM25_SCALE-scaled)
SDM_ORD_W = 100_000  # x ordered-window closeness sum
SDM_UNW_W = 40_000  # x unordered-window closeness sum


def sdm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL-DEPENDENCE retrieval — proximity-boosted BM25 (the
    ROADMAP item-6 candidate): sdm = SDM_UNI_W·bm25 + SDM_ORD_W·ordered
    + SDM_UNW_W·unordered, integer-exact. One corpus pass per feature
    family (scored_postings/bm25_match for the unigram leg, pos_index
    for the window legs — both orderings served by ONE band join with
    conditional sums, r15); the window agg LEFT-joins onto the BM25
    pairs — lossless, because a window match requires both terms in the
    capped index, which implies a BM25 term match (pinned by
    test_sdm_prox_pairs_subset_of_bm25)."""
    # NO spread_small_scan on the docs scan — measured at sf0.1 (r16,
    # interleaved): 4.07 s spread vs 2.88 s unspread (proximity_topk
    # 2.52 vs 2.17, lm_logprob 1.93 vs 1.59 — same pattern): the
    # retrieval probes' map work is light and the query legs broadcast,
    # so an injected repartition is pure added exchange here.
    docs = load(spark, sf_dir, "documents")
    bm = (
        bm25_match(query_occurrences(docs), scored_postings(docs))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score_i").alias("bm25_score"))
    )
    qbg, idx = query_bigram_occurrences(docs), pos_index(docs)
    # r15: ONE (doc_id, w2) band join serves BOTH window orderings — the
    # unordered residual |gap| <= W contains the ordered one, so ordered
    # closeness is a conditional sum over the same matched pairs (the
    # bucketed_sdm_serve fusion, ported back to the batch twin; the
    # serve's oracle equality is exactly this equivalence). Replaces two
    # proximity_matches legs + two aggs + two left joins with one of
    # each: rows matched only unordered contribute 0 to po, which is
    # what the former ordered-leg LEFT join's NULL coalesced to. The
    # two-leg machinery itself is the shared _position_pair_rows
    # (ADVICE r15: no more inline copy to drift).
    gap = F.col("p2") - F.col("p1")
    prox = (
        _position_pair_rows(qbg, idx)
        .filter((F.abs(gap) >= 1) & (F.abs(gap) <= PROX_WINDOW))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.when(gap >= 1, F.lit(PROX_WINDOW + 1) - gap).otherwise(0)
            ).alias("po"),
            F.sum(F.lit(PROX_WINDOW + 1) - F.abs(gap)).alias("pu"),
        )
    )
    return sdm_fuse(bm.join(prox, ["query_id", "doc_id"], "left_outer"))


def sdm_fuse(pairs: DataFrame) -> DataFrame:
    """Fusion scaling + rank window over the joined SDM feature frame —
    shared VERBATIM by the batch entry and the stream serve twin.
    ``pairs``: (query_id, doc_id, bm25_score, po nullable, pu nullable)
    with the LEXICAL matches as the base rows (the batch side LEFT-joins
    the window aggs onto them; the stream side pivots one tagged drain —
    either way, lossless by the window-match ⊆ lexical-match invariant,
    test_sdm_prox_pairs_subset_of_bm25)."""
    fused = pairs.select(
        "query_id",
        "doc_id",
        F.col("bm25_score").cast("long").alias("bm25_score"),
        F.coalesce("po", F.lit(0)).cast("long").alias("prox_ordered"),
        F.coalesce("pu", F.lit(0)).cast("long").alias("prox_unordered"),
    ).withColumn(
        "sdm_score",
        (
            F.lit(SDM_UNI_W) * F.col("bm25_score")
            + F.lit(SDM_ORD_W) * F.col("prox_ordered")
            + F.lit(SDM_UNW_W) * F.col("prox_unordered")
        ).cast("long"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sdm_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= RETR_TOPK)
        .select(
            "query_id", "doc_id", "bm25_score", "prox_ordered",
            "prox_unordered", "sdm_score", "rank",
        )
    )


ORACLE_SDM_TOPK = f"""
WITH {_DUCK_BM25_BASE},
sdt AS (
    SELECT doc_id, {_DUCK_T} AS t FROM documents
),
sdtok AS (
    SELECT doc_id, unnest(t) AS tok,
           generate_subscripts(t, 1) - 1 AS pos
    FROM sdt
),
sdidx AS (
    SELECT i.tok, i.doc_id, i.pos FROM sdtok i
    JOIN dfreq f ON i.tok = f.tok AND f.df <= {MAX_POSTING_DF}
),
sdqbg AS (
    SELECT doc_id AS query_id, t[i] AS w1, t[i+1] AS w2
    FROM sdt, UNNEST(range(1, len(t))) AS u(i)
    WHERE doc_id < {N_RETR_QUERIES} AND len(t) >= 2
),
sdo AS (
    SELECT q.query_id, a.doc_id,
           CAST(sum({PROX_WINDOW + 1} - (b.pos - a.pos)) AS BIGINT) AS po
    FROM sdqbg q
    JOIN sdidx a ON a.tok = q.w1 AND a.doc_id <> q.query_id
    JOIN sdidx b ON b.tok = q.w2 AND b.doc_id = a.doc_id
         AND b.pos - a.pos >= 1 AND b.pos - a.pos <= {PROX_WINDOW}
    GROUP BY 1, 2
),
sdu AS (
    SELECT q.query_id, a.doc_id,
           CAST(sum({PROX_WINDOW + 1} - abs(b.pos - a.pos)) AS BIGINT) AS pu
    FROM sdqbg q
    JOIN sdidx a ON a.tok = q.w1 AND a.doc_id <> q.query_id
    JOIN sdidx b ON b.tok = q.w2 AND b.doc_id = a.doc_id
         AND abs(b.pos - a.pos) >= 1 AND abs(b.pos - a.pos) <= {PROX_WINDOW}
    GROUP BY 1, 2
),
sdfused AS (
    SELECT m.query_id, m.doc_id,
           CAST(m.score AS BIGINT) AS bm25_score,
           CAST(coalesce(o.po, 0) AS BIGINT) AS prox_ordered,
           CAST(coalesce(u.pu, 0) AS BIGINT) AS prox_unordered,
           CAST({SDM_UNI_W} * m.score + {SDM_ORD_W} * coalesce(o.po, 0)
                + {SDM_UNW_W} * coalesce(u.pu, 0) AS BIGINT) AS sdm_score
    FROM bm25_agg m
    LEFT JOIN sdo o ON o.query_id = m.query_id AND o.doc_id = m.doc_id
    LEFT JOIN sdu u ON u.query_id = m.query_id AND u.doc_id = m.doc_id
),
sdranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sdm_score DESC, doc_id ASC) AS rank
    FROM sdfused
)
SELECT query_id, doc_id, bm25_score, prox_ordered, prox_unordered,
       sdm_score, CAST(rank AS BIGINT) AS rank
FROM sdranked WHERE rank <= {RETR_TOPK}
"""
