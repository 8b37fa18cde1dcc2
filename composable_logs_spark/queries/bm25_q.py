"""BM25 ranked retrieval (Robertson & Zaragoza 2009, Okapi BM25) —
query -> document top-k over an inverted index built from the
``documents`` table: the text-analytics retrieval shape ``text_ops``'s
TF-IDF top-terms summary does not cover.

The reference has no retrieval surface (its text handling is artifact
payloads, opentelemetry_task_span_parser.py:119-144) — north-star
scope.

Scoring, exactly the textbook formula with k1 = 1.2, b = 0.75:

    score(q, d) = sum_{t in q} idf(t) * tf * (k1+1)
                               / (tf + k1 * (1 - b + b * dl/avgdl))
    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)   [the Lucene form]

Cross-engine exactness: idf is frozen to integer micro-nats (the
``text_ops``/``dsir_q`` discipline); the tf saturation fraction is
cleared of doubles entirely by multiplying through by 10 * sum_dl —
    num = 22 * tf * sum_dl
    den = 10 * tf * sum_dl + 3 * sum_dl + 9 * dl * N
so each term contributes the integer (idf_micro * num) div den and
per-document scores are exact bigint sums, no float summation order
anywhere. Overflow envelope: the full PRODUCT must fit int64 —
    idf_micro * 22 * tf * sum_dl < 2^63
(idf_micro < 2^25 for any N, so the headroom lever is tf * sum_dl:
at idf_micro ~ 2^24 the corpus must keep tf * sum_dl < ~2^34.5;
past that, re-scale the micro-nat unit DOWN, because Spark's
non-ANSI mode would wrap silently while DuckDB raises, silently
breaking the cross-engine gate). The scoring expression carries a
per-row guard (one double compare) that raises instead of wrapping.

100 TB design: the postings (tf) table is the only corpus-sized
relation; queries, per-term idf, and the (N, sum_dl) totals are
broadcast onto it; the per-query top-k is the salted two-phase merge
(``similarity_q._topk_two_phase`` pattern) — a plain
row_number() OVER (PARTITION BY query_id) would collapse every scored
row into #queries reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import QuerySpec, load

_TOP_K = 5
_SALT_BUCKETS = 32

# fixed query workload over the corpus vocabulary (distinct terms per
# query: standard BM25 ignores query-side tf)
_BM25_QUERIES = [
    (1, "hash join"),
    (2, "window agg order"),
    (3, "fast scan filter"),
    (4, "stream batch merge"),
    (5, "customer query"),
    (6, "vector data table"),
]


def _postings(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf, dl): the inverted index with per-doc length."""
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("toks")
    )
    return (
        toks.select(
            "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )


def bm25_scores(
    tf: DataFrame,
    qterms: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact-integer BM25 per-document scores for any (query_id, term[,
    extra group cols]) query-terms frame over a (doc_id, term, tf, dl)
    postings frame — the scoring core shared by the batch registry
    query and the RRF hybrid fusion (rrf_q), so the two cannot drift.
    Returns one row per
    (*group_cols, doc_id) with ``n_terms_matched`` and ``score_micro``."""
    group_cols = ["query_id"] if group_cols is None else group_cols
    totals = tf.groupBy("doc_id").agg(F.max("dl").alias("dl")).agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(totals))
        .select(
            "term",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1
                )
                * 1e6
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    # NO broadcast hint on idf: it is VOCAB-sized (10^8+ rows at web
    # scale — the same boundary the BPE vocab join documents); joining
    # after the query filter keeps it query-vocab-sized anyway, and
    # AQE's runtime size gate upgrades to broadcast when it fits.
    # NO broadcast hint on qterms either: callers with a fixed bounded
    # workload (bm25_topk's 6 queries) pass F.broadcast(qterms)
    # themselves; corpus-DERIVED workloads (rrf_q samples the corpus)
    # must not be forced driver-side — AQE's size gate decides.
    scored = (
        tf.join(qterms, "term")
        .join(idf, "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "contrib",
            # guard BEFORE multiplying: Spark (non-ANSI) wraps int64
            # silently where DuckDB raises, so an overflow would break
            # the cross-engine gate with a plausible-looking wrong
            # score. The double-precision compare is conservative
            # (9.0e18 < 2^63-1 ~ 9.22e18) and costs one fused compare
            # per posting row.
            F.expr(
                "CASE WHEN CAST(idf_micro AS DOUBLE) * 22 * tf * sum_dl"
                "          >= 9.0e18"
                " THEN raise_error('bm25: idf_micro*22*tf*sum_dl exceeds"
                " int64 — re-scale the micro-nat unit down')"
                " ELSE (idf_micro * (22 * tf * sum_dl))"
                "      div (10 * tf * sum_dl + 3 * sum_dl + 9 * dl * n_docs)"
                " END"
            ),
        )
    )
    return scored.groupBy(*group_cols, "doc_id").agg(
        F.count("*").cast("long").alias("n_terms_matched"),
        F.sum("contrib").alias("score_micro"),
    )


def bm25_topk(
    spark: SparkSession,
    tf: DataFrame,
    queries: list[tuple[int, str]] | None = None,
    k: int = _TOP_K,
) -> DataFrame:
    """Rank any (doc_id, term, tf, dl) postings frame against the query
    workload."""
    queries = _BM25_QUERIES if queries is None else queries
    qterms = spark.createDataFrame(
        [(qid, q, t) for qid, q in queries for t in sorted(set(q.split()))],
        "query_id int, query string, term string",
    )
    # the fixed workload is a driver-built literal of a few dozen rows —
    # the one case where a hard broadcast is always right
    per_doc = bm25_scores(
        tf, F.broadcast(qterms), group_cols=["query_id", "query"]
    )
    # salted two-phase top-k per query (similarity_q pattern)
    order = [F.col("score_micro").desc(), F.col("doc_id")]
    salted = per_doc.withColumn(
        "_salt", F.pmod(F.hash(F.col("doc_id")), F.lit(_SALT_BUCKETS))
    )
    local = salted.withColumn(
        "_lr",
        F.row_number().over(W.partitionBy("query_id", "_salt").orderBy(*order)),
    ).where(F.col("_lr") <= k)
    return (
        local.withColumn(
            "rank",
            F.row_number().over(W.partitionBy("query_id").orderBy(*order)).cast("int"),
        )
        .where(F.col("rank") <= k)
        .select(
            "query_id", "query", "doc_id", "n_terms_matched",
            "score_micro", "rank",
        )
        .orderBy("query_id", "rank")
    )


def text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    return bm25_topk(spark, _postings(load(spark, sf, "documents")))


def _bm25_sql() -> str:
    qvals = ", ".join(
        f"({qid}, '{q}', '{t}')"
        for qid, q in _BM25_QUERIES
        for t in sorted(set(q.split()))
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM toks)
  GROUP BY doc_id, term
),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM (SELECT doc_id, max(dl) AS dl FROM tf GROUP BY doc_id)
),
idf AS (
  SELECT term,
         CAST(round(ln((t.n_docs - df + 0.5) / (df + 0.5) + 1) * 1e6)
           AS BIGINT) AS idf_micro
  FROM (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term)
  CROSS JOIN totals t
),
qterms(query_id, query, term) AS (VALUES {qvals}),
scored AS (
  SELECT q.query_id, q.query, tf.doc_id,
         (i.idf_micro * (22 * tf.tf * t.sum_dl))
           // (10 * tf.tf * t.sum_dl + 3 * t.sum_dl + 9 * tf.dl * t.n_docs)
           AS contrib
  FROM tf
  JOIN qterms q USING (term)
  JOIN idf i USING (term)
  CROSS JOIN totals t
),
per_doc AS (
  SELECT query_id, query, doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_matched,
         CAST(sum(contrib) AS BIGINT) AS score_micro
  FROM scored GROUP BY query_id, query, doc_id
)
SELECT query_id, query, doc_id, n_terms_matched, score_micro, rank
FROM (
  SELECT *, CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS INT)
           AS rank
  FROM per_doc
)
WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


QUERIES = {
    "text_bm25_topk": QuerySpec(text_bm25_topk, _bm25_sql()),
}
