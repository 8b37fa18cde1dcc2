"""Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009):
fuse a sparse BM25 ranking with a dense embedding-cosine ranking —
the standard two-tower retrieval shape a training-data / RAG pipeline
runs over its corpus, and the composition query the separate
``text_bm25_topk`` and ``ann_cosine_top5`` surfaces don't cover.

Workload: every 100th document is a query against the rest of the
corpus. The sparse side scores the query document's distinct terms
through the shared exact-integer BM25 core (``bm25_q.bm25_scores`` —
one implementation, zero drift); the dense side is round-6dp cosine
over the aligned ``embeddings`` row (vec_id == doc_id by construction,
TESTDATA.md). Each side keeps its top-``_CAND_K`` candidates
(self-match excluded), then

    rrf(d) = sum_i 1 / (60 + rank_i(d))      [missing list -> 0]

fuses them. Cross-engine exactness: the reciprocal is kept in INTEGER
micro-units — ``1_000_000 div (60 + rank)`` — so the fused score is an
exact bigint in both engines (a double 1/(60+r) sum would be ordered
differently only with >2 rankers, but the integer form removes the
class of problem outright); ties break by doc_id.

100 TB shape: the corpus-sized relations are the postings table and
the embedding scan, each touched ONCE. Query-side frames join onto
them — the fixed-size ones (vectors for the brute-force dense
baseline) under an explicit broadcast, the corpus-DERIVED terms frame
with no hint (AQE's size gate decides; forcing a 1%-of-corpus frame
driver-side is the OOM shape the repo bans). Both per-ranker top-k's
are the
salted two-phase merge (``similarity_q._topk_two_phase`` pattern) —
never a partition-less window — and the fusion join runs over
``#queries * 2 * _CAND_K`` rows only. The final per-query rank window
is bounded at 2*_CAND_K rows per partition key.

Reference anchor: none (north-star scope, SURVEY.md §2.10) — the
reference has no retrieval surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import QuerySpec, load
from .bm25_q import _postings, bm25_scores

_QUERY_STRIDE = 100  # every 100th doc queries the corpus
_CAND_K = 20  # per-ranker candidate depth
_TOP_K = 5  # fused results kept per query
_RRF_C = 60  # the standard RRF constant
_SALT_BUCKETS = 32


def _ranked_topk(scored: DataFrame, order_col, k: int, rank_name: str) -> DataFrame:
    """Salted two-phase per-query top-k (similarity_q pattern): local
    top-k inside hash-salt buckets, global merge over buckets*k rows."""
    order = [order_col.desc(), F.col("doc_id")]
    salted = scored.withColumn(
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
        .select("query_id", "doc_id", F.col("rank").alias(rank_name))
    )


def query_terms(docs: DataFrame, stride: int = _QUERY_STRIDE) -> DataFrame:
    """(query_id, term): distinct terms of every ``stride``-th document —
    the fixed sparse-side query workload."""
    return (
        docs.where(F.col("doc_id") % stride == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
        )
        .distinct()
    )


def query_vecs(vecs: DataFrame, stride: int = _QUERY_STRIDE) -> DataFrame:
    """(query_id, qv): the dense-side query vectors, aligned by id.
    Parity reference for ``_dense_scores_arrow``, used by its tests."""
    return vecs.where(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )


def dense_scores(vecs: DataFrame, qvecs: DataFrame) -> DataFrame:
    """(query_id, doc_id, cosine_r): round-6dp cosine of every corpus
    vector against every query vector, self-matches excluded. The qvecs
    side is explicitly broadcast: the brute-force baseline is a cross
    join, and replicating the (bounded-stride) query panel is the only
    sane physical strategy for it — the IVF family is the scale path.
    Parity reference for ``_dense_scores_arrow``, used by its tests."""
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda a, x: a + x * x)
    )
    return (
        vecs.crossJoin(F.broadcast(qvecs))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(dot / (norm("v") * norm("qv")), 6).alias("cosine_r"),
        )
    )


def _dense_scores_arrow(
    emb: DataFrame, emb_path: str, stride: int = _QUERY_STRIDE
) -> DataFrame:
    """The batch query's dense side as one ``mapInArrow`` pass — the
    ann_cosine_top5 pattern (guide §4.2/§4.5): the expression form
    (``dense_scores``) evaluates an interpreted
    zip_with + two aggregate lambdas per (corpus row x query), 64 dims
    of non-codegen work each. Here numpy accumulates the dot product
    and squared norms dimension-at-a-time in float64 — the SAME
    left-to-right fold, the same IEEE ops in the same order, so values
    are bit-identical (parity-locked by tests/test_rrf_dense_arrow.py);
    the 6dp rounding stays in Spark (HALF_UP). Query vectors (vec_id %
    stride == 0) are re-read per task from the input parquet — init
    once per task, no driver collect. The path must be
    executor-readable (true for any shared-storage deployment).

    r14 (ADVICE): the panel is extracted record-batch-at-a-time with a
    boolean mask, so a task holds only the ~1/stride query rows as
    float64 — the old form materialized the ENTIRE corpus embedding
    matrix per task before slicing, O(corpus) memory that contradicts
    the module's 100 TB notes. Same float64 values in the same sorted
    order, so scores stay bit-identical.

    Only top-level ``*.parquet`` files of a directory are read, so a
    nested or partitioned embeddings directory raises ``ValueError``
    rather than silently dropping query vectors."""
    if os.path.isdir(emb_path):
        nested = sorted(
            e.name for e in os.scandir(emb_path)
            if e.is_dir() and not e.name.startswith(("_", "."))
        )
        if nested:
            raise ValueError(
                f"embeddings directory {emb_path} has subdirectory "
                f"{nested[0]!r}; only its top-level *.parquet files are read"
            )

    def score(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        def seq_sq_norm(m):
            acc = np.zeros(m.shape[0], dtype=np.float64)
            for i in range(m.shape[1]):
                acc = acc + m[:, i] * m[:, i]
            return np.sqrt(acc)

        files = (
            sorted(
                os.path.join(emb_path, f)
                for f in os.listdir(emb_path)
                if f.endswith(".parquet")
            )
            if os.path.isdir(emb_path)
            else [emb_path]
        )
        id_chunks: list = []
        vec_chunks: list = []
        for path in files:
            for rb in pq.ParquetFile(path).iter_batches(
                columns=["vec_id", "embedding"]
            ):
                ids = rb.column(0).to_numpy()
                mask = ids % stride == 0
                if not mask.any():
                    continue
                col = rb.column(1)
                if col.null_count:
                    raise ValueError("query panel: null embedding rows")
                sub = col.take(pa.array(np.flatnonzero(mask)))
                flat = (
                    sub.flatten()
                    .to_numpy(zero_copy_only=False)
                    .astype(np.float64)
                )
                n_sel = int(mask.sum())
                if flat.size == 0 or flat.size % n_sel != 0:
                    raise ValueError(
                        "query panel: ragged or empty embedding lists "
                        f"({flat.size} values across {n_sel} rows)"
                    )
                id_chunks.append(ids[mask])
                vec_chunks.append(flat.reshape(n_sel, -1))
        if not id_chunks:
            # tiny/filtered corpus with no query vector: no output rows
            for _ in batches:
                pass
            return
        q_ids = np.concatenate(id_chunks)
        order = np.argsort(q_ids)
        q_ids = q_ids[order]
        qm = np.vstack(vec_chunks)[order]
        qnorm = seq_sq_norm(qm)
        dim = qm.shape[1]
        for batch in batches:
            ids = batch.column(0).to_numpy()
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            v = flat.astype(np.float64).reshape(len(ids), dim)
            norms = seq_sq_norm(v)
            out_q, out_d, out_c = [], [], []
            for k in range(len(q_ids)):
                dot = np.zeros(len(ids), dtype=np.float64)
                for i in range(dim):
                    dot = dot + v[:, i] * qm[k, i]
                cos = dot / (norms * qnorm[k])
                keep = ids != q_ids[k]
                out_q.append(np.full(int(keep.sum()), q_ids[k], dtype=np.int64))
                out_d.append(ids[keep])
                out_c.append(cos[keep])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q)),
                    pa.array(np.concatenate(out_d)),
                    pa.array(np.concatenate(out_c)),
                ],
                names=["query_id", "doc_id", "cosine"],
            )

    return (
        emb.select("vec_id", "embedding")
        .mapInArrow(score, "query_id long, doc_id long, cosine double")
        .select("query_id", "doc_id", F.round("cosine", 6).alias("cosine_r"))
    )


def fuse_rrf(sparse_top: DataFrame, dense_top: DataFrame) -> DataFrame:
    """Integer RRF fusion over the union of both candidate lists.
    Inputs are the per-ranker (query_id, doc_id, <rank>) frames; the
    final per-query window is bounded at 2*_CAND_K rows per key."""
    fused = (
        sparse_top.join(dense_top, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf_micro",
            F.coalesce(
                F.expr(f"{1_000_000} div ({_RRF_C} + bm25_rank)"), F.lit(0).cast("long")
            )
            + F.coalesce(
                F.expr(f"{1_000_000} div ({_RRF_C} + cos_rank)"), F.lit(0).cast("long")
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("rrf_micro").desc(), F.col("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .where(F.col("fused_rank") <= _TOP_K)
        .select(
            "query_id", "doc_id", "bm25_rank", "cos_rank", "rrf_micro", "fused_rank"
        )
    )


def rrf_rank(
    tf: DataFrame,
    qterms: DataFrame,
    dense_scored: DataFrame,
) -> DataFrame:
    """Fuse a BM25 postings frame with a pre-scored dense frame.
    ``dense_scored`` is any (query_id, doc_id, cosine_r) frame whose
    per-query top-_CAND_K equals the full corpus's."""
    # NO broadcast hint: qterms is corpus-DERIVED (every _QUERY_STRIDEth
    # doc x its distinct terms — ~1% of the token stream, unbounded in
    # corpus size), so forcing it driver-side risks OOM at scale; AQE's
    # size gate upgrades the join to broadcast whenever it actually fits
    sparse = bm25_scores(tf, qterms).where(
        F.col("doc_id") != F.col("query_id")
    )
    sparse_top = _ranked_topk(sparse, F.col("score_micro"), _CAND_K, "bm25_rank")
    dense_top = _ranked_topk(dense_scored, F.col("cosine_r"), _CAND_K, "cos_rank")
    return fuse_rrf(sparse_top, dense_top)


def to_vecs(emb: DataFrame) -> DataFrame:
    """(vec_id, v): embeddings widened to double for exact-6dp rounding
    parity with the DuckDB oracle. Parity reference for
    ``_dense_scores_arrow``, used by its tests."""
    return emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def retrieval_rrf_hybrid(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")
    return rrf_rank(
        _postings(docs),
        query_terms(docs),
        _dense_scores_arrow(emb, f"{sf}/embeddings.parquet"),
    )


_ORACLE = f"""
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
qterms AS (
  SELECT DISTINCT doc_id AS query_id, unnest(toks) AS term
  FROM toks WHERE doc_id % {_QUERY_STRIDE} = 0
),
sparse AS (
  SELECT q.query_id, tf.doc_id,
         CAST(sum((i.idf_micro * (22 * tf.tf * t.sum_dl))
           // (10 * tf.tf * t.sum_dl + 3 * t.sum_dl + 9 * tf.dl * t.n_docs))
           AS BIGINT) AS score_micro
  FROM tf
  JOIN qterms q USING (term)
  JOIN idf i USING (term)
  CROSS JOIN totals t
  WHERE tf.doc_id <> q.query_id
  GROUP BY q.query_id, tf.doc_id
),
sparse_top AS (
  SELECT query_id, doc_id, rank AS bm25_rank FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS INT) AS rank
    FROM sparse
  ) WHERE rank <= {_CAND_K}
),
dense AS (
  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
         round(
           list_sum(list_transform(range(1, 65),
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))),
           6) AS cosine_r
  FROM embeddings e
  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id % {_QUERY_STRIDE} = 0) q
  WHERE e.vec_id <> q.vec_id
),
dense_top AS (
  SELECT query_id, doc_id, rank AS cos_rank FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_r DESC, doc_id) AS INT) AS rank
    FROM dense
  ) WHERE rank <= {_CAND_K}
),
fused AS (
  SELECT coalesce(s.query_id, d.query_id) AS query_id,
         coalesce(s.doc_id, d.doc_id) AS doc_id,
         s.bm25_rank, d.cos_rank,
         CAST(coalesce({1_000_000} // ({_RRF_C} + s.bm25_rank), 0)
            + coalesce({1_000_000} // ({_RRF_C} + d.cos_rank), 0) AS BIGINT)
           AS rrf_micro
  FROM sparse_top s
  FULL OUTER JOIN dense_top d
    ON s.query_id = d.query_id AND s.doc_id = d.doc_id
)
SELECT query_id, doc_id, bm25_rank, cos_rank, rrf_micro, fused_rank
FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id) AS INT) AS fused_rank
  FROM fused
)
WHERE fused_rank <= {_TOP_K}
"""

QUERIES = {
    "retrieval_rrf_hybrid": QuerySpec(retrieval_rrf_hybrid, _ORACLE),
}
