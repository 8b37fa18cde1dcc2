"""Exact phrase search over a positional inverted index — the
retrieval op BM25 (bag-of-words) cannot express: "these words, in this
order, adjacent". Every search engine keeps term POSITIONS in its
postings for this; the operator here is the distributed form of the
classic positional-intersection algorithm.

Queries are three-word phrases lifted from the corpus itself (the
first three tokens of the three lowest-id documents that have at least
_PHRASE_LEN tokens — deterministic on both engines, and each phrase is
guaranteed >= 1 hit so the operator's positive path is always
exercised at any SF; query docs shorter than the phrase length are
excluded EXPLICITLY on both engines rather than dropped via a NULL w3).

Pipeline:
1. positional postings: one posexplode -> (doc_id, pos, tok) — the
   standard index layout; at 100 TB this relation is the search index
   itself, bucketed by tok, so the df lookup's SortMergeJoin needs no
   Exchange on the postings side.
2. document frequency for the query's words only: postings semi-join
   the BROADCAST query vocabulary, one hash agg — df comes from the
   postings themselves, no side table.
3. seed on the RAREST word (min df, ties to the earliest position):
   postings equi-join the broadcast seed table -> candidate
   (doc_id, phrase_start). Production engines seed this way precisely
   because a stopword-led phrase otherwise floods the candidate join
   with every posting of "the"; the rare-word candidate set is the
   minimum over the phrase's words (tests assert rare-seed candidates
   <= first-word candidates on a stopword-led phrase).
4. extend: for word k = 1..3, equi-join candidates to postings on
   (doc_id, phrase_start + k - 1) and filter tok = w_k. The join key
   is (doc_id, pos) — a plain shuffle equi-join whose size shrinks at
   every step. The seed's own position is re-joined too (its predicate
   is vacuously true): one redundant cheap join over the already-
   minimal candidate set buys a STATIC plan — the data-dependent seed
   choice lives in a 3-row broadcast, not in plan shape.
5. per-query rollup: matched docs + total occurrences.

Output (and the oracle) are identical to first-word seeding — the seed
only chooses the candidate-generation order, never the matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load

_N_QUERIES = 3
_PHRASE_LEN = 3


def _postings(d: DataFrame) -> DataFrame:
    toks = d.select(
        "doc_id",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("arr"),
    )
    return toks.select(
        "doc_id", F.posexplode("arr").alias("pos", "tok")
    )


def _qwords(d: DataFrame) -> DataFrame:
    """Query table: (query_id, w1..w_PHRASE_LEN), short docs excluded."""
    return (
        d.where(F.col("doc_id") < _N_QUERIES)
        .select(
            F.col("doc_id").alias("query_id"),
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("arr"),
        )
        .where(F.size("arr") >= _PHRASE_LEN)
        .select(
            "query_id",
            *[
                F.element_at("arr", i + 1).alias(f"w{i + 1}")
                for i in range(_PHRASE_LEN)
            ],
        )
    )


def _seed_table(post: DataFrame, qwords: DataFrame, strategy: str = "rarest") -> DataFrame:
    """(query_id, seed_k, seed_w, w1..wN): which word each query seeds on.

    ``rarest``: min document frequency (ties -> earliest position), df
    measured on the postings themselves. ``first``: always w1 (the
    pre-round-10 behaviour, kept for the candidate-count test)."""
    if strategy == "first":
        return qwords.select(
            "query_id", F.lit(1).alias("seed_k"), F.col("w1").alias("seed_w"),
            *[f"w{k}" for k in range(1, _PHRASE_LEN + 1)],
        )
    qw_long = qwords.select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"), F.col(f"w{k}").alias("w")
                    )
                    for k in range(1, _PHRASE_LEN + 1)
                ]
            )
        ).alias("kw"),
    ).select("query_id", "kw.k", "kw.w")
    # df for the query's words only: every query word occurs in the
    # corpus (query docs ARE corpus docs), so the inner join is total
    dfreq = (
        post.join(
            F.broadcast(qw_long.select("w").distinct()),
            post["tok"] == F.col("w"),
        )
        .groupBy("tok")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    best = (
        qw_long.join(dfreq, qw_long["w"] == dfreq["tok"])
        .groupBy("query_id")
        .agg(F.min(F.struct("df", "k", "w")).alias("s"))
        .select(
            "query_id",
            F.col("s.k").alias("seed_k"),
            F.col("s.w").alias("seed_w"),
        )
    )
    return best.join(qwords, "query_id")


def _candidates(post: DataFrame, seed_tbl: DataFrame) -> DataFrame:
    """Seed join: every posting of each query's seed word, rebased to the
    phrase-start position."""
    return post.join(
        F.broadcast(seed_tbl), post["tok"] == seed_tbl["seed_w"]
    ).select(
        "query_id",
        "doc_id",
        (F.col("pos") - (F.col("seed_k") - 1)).alias("pos"),
        *[f"w{k}" for k in range(1, _PHRASE_LEN + 1)],
    )


def text_phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "text")
    post = _postings(d)
    qwords = _qwords(d)
    cand = _candidates(post, _seed_table(post, qwords, "rarest"))
    for k in range(1, _PHRASE_LEN + 1):
        nxt = post.select(
            "doc_id",
            (F.col("pos") - (k - 1)).alias("pos"),
            F.col("tok").alias(f"t{k}"),
        )
        cand = (
            cand.join(nxt, ["doc_id", "pos"])
            .where(F.col(f"t{k}") == F.col(f"w{k}"))
            .drop(f"t{k}")
        )
    return (
        cand.groupBy(
            "query_id",
            F.concat_ws(" ", *[f"w{k}" for k in range(1, _PHRASE_LEN + 1)]).alias(
                "phrase"
            ),
        )
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .orderBy("query_id")
    )


_PHRASE_SQL = f"""
WITH arrs AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS arr
  FROM documents
),
post AS (
  SELECT doc_id, x - 1 AS pos, arr[x] AS tok
  FROM arrs, UNNEST(generate_series(1, len(arr))) AS u(x)
),
qwords AS (
  SELECT doc_id AS query_id, arr[1] AS w1, arr[2] AS w2, arr[3] AS w3
  FROM arrs WHERE doc_id < {_N_QUERIES} AND len(arr) >= {_PHRASE_LEN}
),
c1 AS (
  SELECT q.query_id, p.doc_id, p.pos, q.w2, q.w3
  FROM post p JOIN qwords q ON p.tok = q.w1
),
c2 AS (
  SELECT c.query_id, c.doc_id, c.pos, c.w3
  FROM c1 c JOIN post p ON p.doc_id = c.doc_id AND p.pos = c.pos + 1
  WHERE p.tok = c.w2
),
c3 AS (
  SELECT c.query_id, c.doc_id, c.pos
  FROM c2 c JOIN post p ON p.doc_id = c.doc_id AND p.pos = c.pos + 2
  WHERE p.tok = c.w3
)
SELECT c.query_id,
       q.w1 || ' ' || q.w2 || ' ' || q.w3 AS phrase,
       COUNT(DISTINCT c.doc_id) AS n_docs,
       COUNT(*) AS n_occurrences
FROM c3 c JOIN qwords q USING (query_id)
GROUP BY 1, 2
ORDER BY query_id
"""


QUERIES = {
    "text_phrase_search": QuerySpec(text_phrase_search, _PHRASE_SQL),
}
