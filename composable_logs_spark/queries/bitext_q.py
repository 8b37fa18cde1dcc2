"""Margin-based bitext mining (Artetxe & Schwenk 2019) — the parallel-
corpus mining op a multilingual training-data pipeline runs to pair
sentences across languages: a candidate pair (x, y) is mined when its
cosine similarity stands out RELATIVE to each side's own neighborhood
(the "ratio" margin), not merely when it clears an absolute threshold.
Absolute-threshold mining fails because cosine scales differ by
language pair and by hubness; the margin normalizes both away.

The reference has no vector surface (north-star scope). The two
"languages" here are the even- and odd-id halves of the embeddings
table — the split is arbitrary but the operator is exactly the
production shape: two disjoint corpora, candidates across them only.

Pipeline (all deterministic, both engines):

1. Candidates: SRP-LSH bands over the shared Charikar planes
   (``srp_lsh_q._PLANES``), re-banded 8 bands x 8 bits — wider recall
   than the near-dup 4x16 banding because mined pairs are merely
   *similar*, not near-identical. Candidate = src/tgt sharing any
   (band_idx, band_val) bucket: an equi-join, never a cross join.
2. Exact cosine per candidate, integer-ized to micro-cosine
   (``round(cos * 1e6)`` as BIGINT) so every downstream sum/compare is
   exact integer arithmetic — no float-accumulation-order hazard.
3. Margin denominator: each side's mean of its top-``_K`` candidate
   cosines, from the SAME candidate graph (no second kNN pass).
   margin(x,y) = cos(x,y) / ((avgK(x) + avgK(y)) / 2), computed as
   margin_milli = 2000 * cos * ka * kb / (suma*kb + sumb*ka) in exact
   int64 (bounded by 2000 * 1e6 * 16 < 2^45).
4. Mine: forward-best per src and backward-best per tgt (by margin,
   id tie-break), intersected ("mutual best" — the intersect strategy
   of the paper), kept when margin_milli >= ``_MARGIN_MILLI``.

100 TB design: the only corpus-x-corpus contact is the band equi-join
(collision rate ~N^2 / 2^band_bits per band — band width is the scale
lever, same as dedup_srp_lsh); every window is partitioned by a vector
id; the per-side top-K aggregates are one shuffle each on that same
id. Nothing is collected; nothing is cross-joined.

Knife-edge remedy (round 11, was a documented hazard before): band
bits come from a numpy BLAS matmul on the Spark side but a sequential
list-fold dot product in the DuckDB oracle, and the raw ``dot > 0``
sign test is summation-order-sensitive when a dot lands within an ulp
of 0 — an exact-zero attractor under ±1 planes with symmetric inputs.
Mutual-best mining is MORE sensitive to candidate-set perturbation
than near-dup dedup (a lost candidate can flip a best), so both
engines now HALF-AWAY-quantize every plane dot to integer micro-units
before the sign test (``srp_lsh_q._quantized_positive`` / ``round(dot
* 1e6, 0) > 0``): the whole (-0.5e-6, +0.5e-6) dead zone maps to bit 0
regardless of summation order. ``tests/test_srp_knife_edge.py`` plants
near-zero and exactly-zero dots and pins Spark == DuckDB == numpy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import QuerySpec, load
from .srp_lsh_q import _DIM, srp_band_sql_exprs, srp_bands

_N_BANDS = 8
_BAND_BITS = 8
_K = 4
_MARGIN_MILLI = 1200


def _side(e: DataFrame, parity: int, prefix: str) -> DataFrame:
    norm = F.sqrt(F.aggregate(F.col("vec"), F.lit(0.0), lambda a, x: a + x * x))
    return (
        e.where(F.col("vec_id") % 2 == parity)
        .select(
            F.col("vec_id").alias(f"{prefix}_id"),
            F.col("vec").alias(f"{prefix}_vec"),
            norm.alias(f"{prefix}_nrm"),
            srp_bands(_N_BANDS, _BAND_BITS)(F.col("vec")).alias("bands"),
        )
    )


def mine_bitext_margin(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    # cached (signatures + vectors, per side): each side feeds BOTH the
    # band-bucket explode and the vector re-attach join; intentionally
    # left pinned because the returned plan is lazy (dedup_minhash_lsh
    # discipline, dedup_q.py:255) — without it the SRP matmul runs twice
    src = _side(e, 0, "src").cache()
    tgt = _side(e, 1, "tgt").cache()

    sb = src.select("src_id", F.posexplode("bands").alias("band_idx", "band_val"))
    tb = tgt.select("tgt_id", F.posexplode("bands").alias("band_idx", "band_val"))
    # id-only candidate pairs, deduped before vectors are re-attached
    cand_ids = (
        sb.join(tb, ["band_idx", "band_val"]).select("src_id", "tgt_id").distinct()
    )
    dot = F.aggregate(
        F.zip_with(F.col("src_vec"), F.col("tgt_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # cached (three longs per candidate): BOTH per-side top-K windows
    # and the margin join read cand — without the cache the band join +
    # cosine pass would execute three times (dedup_q.py:255 discipline;
    # pinned because the returned plan is lazy)
    cand = (
        cand_ids.join(src.drop("bands"), "src_id")
        .join(tgt.drop("bands"), "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            F.round(dot / (F.col("src_nrm") * F.col("tgt_nrm")) * 1e6, 0)
            .cast("long")
            .alias("cos_micro"),
        )
        .cache()
    )

    def topk(df: DataFrame, key: str, other: str) -> DataFrame:
        w = Window.partitionBy(key).orderBy(F.desc("cos_micro"), F.col(other))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= _K)
            .groupBy(key)
            .agg(
                F.sum("cos_micro").alias(f"{key[:3]}_sum"),
                F.count("*").alias(f"{key[:3]}_k"),
            )
        )

    margined = (
        cand.join(topk(cand, "src_id", "tgt_id"), "src_id")
        .join(topk(cand, "tgt_id", "src_id"), "tgt_id")
        # a side whose best-K candidates sum <=0 has no meaningful
        # neighborhood scale (and would divide by <=0): drop, both engines
        .where(
            F.col("src_sum") * F.col("tgt_k") + F.col("tgt_sum") * F.col("src_k") > 0
        )
        .withColumn(
            # exact int64 `div`, matching DuckDB's `//` — double division
            # plus floor() could round 4.9999999999999996 up to 5
            "margin_milli",
            F.expr(
                "(2000 * cos_micro * src_k * tgt_k)"
                " div (src_sum * tgt_k + tgt_sum * src_k)"
            ),
        )
        .select("src_id", "tgt_id", "cos_micro", "margin_milli")
    )
    fwd = Window.partitionBy("src_id").orderBy(F.desc("margin_milli"), F.col("tgt_id"))
    bwd = Window.partitionBy("tgt_id").orderBy(F.desc("margin_milli"), F.col("src_id"))
    best = (
        margined.withColumn("_f", F.row_number().over(fwd))
        .withColumn("_b", F.row_number().over(bwd))
        .where((F.col("_f") == 1) & (F.col("_b") == 1))
        .where(F.col("margin_milli") >= _MARGIN_MILLI)
        .select("src_id", "tgt_id", "cos_micro", "margin_milli")
        .orderBy("src_id")
    )
    return best


def _bitext_sql() -> str:
    band_cols = ",\n         ".join(srp_band_sql_exprs(_N_BANDS, _BAND_BITS))
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {k} AS band_idx, band{k} AS band_val FROM sig"
        for k in range(_N_BANDS)
    )
    return f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
sig AS (
  SELECT vec_id, vec,
         sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm,
         {band_cols}
  FROM corpus
),
buckets AS (
  {band_union}
),
cand_ids AS (
  SELECT DISTINCT s.vec_id AS src_id, t.vec_id AS tgt_id
  FROM buckets s JOIN buckets t
    ON s.band_idx = t.band_idx AND s.band_val = t.band_val
  WHERE s.vec_id % 2 = 0 AND t.vec_id % 2 = 1
),
cand AS (
  SELECT c.src_id, c.tgt_id,
         CAST(round(list_sum(list_transform(range(1, {_DIM + 1}),
                                            j -> ss.vec[j] * tt.vec[j]))
                    / (ss.nrm * tt.nrm) * 1e6, 0) AS BIGINT) AS cos_micro
  FROM cand_ids c
  JOIN sig ss ON c.src_id = ss.vec_id
  JOIN sig tt ON c.tgt_id = tt.vec_id
),
src_top AS (
  SELECT src_id, SUM(cos_micro) AS src_sum, COUNT(*) AS src_k FROM (
    SELECT src_id, cos_micro,
           row_number() OVER (PARTITION BY src_id
                              ORDER BY cos_micro DESC, tgt_id) AS rn
    FROM cand
  ) WHERE rn <= {_K} GROUP BY src_id
),
tgt_top AS (
  SELECT tgt_id, SUM(cos_micro) AS tgt_sum, COUNT(*) AS tgt_k FROM (
    SELECT tgt_id, cos_micro,
           row_number() OVER (PARTITION BY tgt_id
                              ORDER BY cos_micro DESC, src_id) AS rn
    FROM cand
  ) WHERE rn <= {_K} GROUP BY tgt_id
),
margined AS (
  SELECT c.src_id, c.tgt_id, c.cos_micro,
         CAST((2000 * c.cos_micro * s.src_k * t.tgt_k)
              // (s.src_sum * t.tgt_k + t.tgt_sum * s.src_k) AS BIGINT)
           AS margin_milli
  FROM cand c
  JOIN src_top s ON c.src_id = s.src_id
  JOIN tgt_top t ON c.tgt_id = t.tgt_id
  WHERE s.src_sum * t.tgt_k + t.tgt_sum * s.src_k > 0
),
best AS (
  SELECT *,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY margin_milli DESC, tgt_id) AS f,
         row_number() OVER (PARTITION BY tgt_id
                            ORDER BY margin_milli DESC, src_id) AS b
  FROM margined
)
SELECT src_id, tgt_id, cos_micro, margin_milli
FROM best
WHERE f = 1 AND b = 1 AND margin_milli >= {_MARGIN_MILLI}
ORDER BY src_id
"""


QUERIES = {
    "mine_bitext_margin": QuerySpec(mine_bitext_margin, _bitext_sql()),
}
