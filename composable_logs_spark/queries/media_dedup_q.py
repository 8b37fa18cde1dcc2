"""Image perceptual near-dup (aHash): the multimodal dedup modality.

The text dedup family (``dedup_q``) has seven modalities; none sees a
re-encoded or slightly-retouched IMAGE. The canonical cheap answer is
average-hash (aHash): downsample the raster to 8x8, threshold each
pixel against the mean, pack the 64 bits, and treat small Hamming
distance as "same picture" — the same band-then-verify shape as
SimHash (``dedup_q.dedup_simhash``), just with pixels instead of
shingle hashes.

The reference has no media surface at all (binary artifacts flow
through its span log as opaque base64, task_opentelemetry_logging.py:
124-143) — north-star scope.

Pipeline (everything byte-real, nothing mocked):

1. Corpus: one 16x16 P5 (grayscale PNM) image per document, pixels
   derived deterministically from the text bytes (pixel[i] =
   byte(text[i mod len])), ENCODED with ``codecs.encode_pnm`` inside
   ``mapInPandas`` — plus one planted variant per image (media_id +
   offset, pixel[0] nudged by +3): perceptual near-dups exist by
   construction, exactly the ``semdedup_q``/``dedup_embedding_cosine``
   augmentation device.
2. aHash: ``codecs.decode_pnm`` (the real header parse + raster
   reader), ``codecs._resize_nearest`` to 8x8, bit_j = pixel_j * 64 >
   sum(pixels) (integer-exact mean compare, no doubles), bits packed
   into two 32-bit halves like the SimHash signature.
3. Candidates: 8x 8-bit band buckets — a pair within Hamming<=6 flips
   at most 6 of the 8 bands, so >=2 full bytes still agree
   (pigeonhole; identical to the SimHash guarantee).
4. Verify: exact Hamming via bit_count over the XOR'd halves, <= 6.

Cross-engine exactness: the oracle recomputes the SAMPLED pixels
straight from the text with the same integer arithmetic (the 8x8
nearest-neighbour grid over a 16x16 image is the even (row, col)
lattice, so sampled pixel j reads text byte (32*(j div 8) + 2*(j mod 8))
mod len) — the PNM encode/decode round-trip on the Spark side is
byte-real and the comparison proves it lossless.

100 TB design: the hash pass is ONE Arrow-batched ``mapInPandas`` over
payload bytes (media never hits the driver, no shuffle before the
per-image 16-byte signature); everything after the signature is the
SimHash plan — band equi-join on 8-bit buckets, no CartesianProduct,
candidate count bounded by bucket occupancy exactly like
``dedup_q.dedup_simhash`` at web scale.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load
from ..operators.codecs import _resize_nearest, decode_pnm, encode_pnm
from ..operators.lsh import banded_pairs, hamming
from .dedup_q import simhash_bands

_SIDE = 16  # source raster is _SIDE x _SIDE grayscale
_HASH_SIDE = 8  # aHash grid
_HAMMING_MAX = 6
_VARIANT_OFFSET = 100000
_PERTURB_STEP = 251  # prime > 16*16: nudges pixel[0] only


def pnm_corpus_from_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (media_id, payload) PNM images: one base image
    per document plus one planted perturbed variant (media_id + offset).

    Real ``encode_pnm`` bytes — downstream consumers must parse an
    actual P5 header, not trust a convention."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_px = _SIDE * _SIDE
        idx = np.arange(n_px)
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if doc_id >= _VARIANT_OFFSET:
                    # same guard as semdedup_q: an id collision would
                    # corrupt pairs identically on both engines
                    raise ValueError(
                        f"media_phash: doc_id {doc_id} >= variant offset"
                    )
                data = text.encode("utf-8")  # documents are pure ASCII
                base = np.frombuffer(data, np.uint8)[idx % len(data)]
                rows.append(
                    {
                        "media_id": doc_id,
                        "payload": encode_pnm(base.reshape(_SIDE, _SIDE)),
                    }
                )
                var = base.copy()
                var[idx % _PERTURB_STEP == 0] += 3  # ASCII <= 127: no wrap
                rows.append(
                    {
                        "media_id": doc_id + _VARIANT_OFFSET,
                        "payload": encode_pnm(var.reshape(_SIDE, _SIDE)),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return docs.select("doc_id", "text").mapInPandas(
        gen, "media_id long, payload binary"
    )


def ahash_signatures(media: DataFrame) -> DataFrame:
    """(media_id, payload[PNM]) -> (media_id, sim_lo, sim_hi): the
    64-bit aHash as two 32-bit halves (1<<63 overflows signed BIGINT
    identically awkwardly in both engines — the SimHash convention).

    bit_j = pixel_j * 64 > sum(sampled pixels): the mean compare kept
    in exact integers so no float mean can differ cross-engine."""

    weights = 1 << np.arange(32, dtype=np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                arr, _ = decode_pnm(bytes(payload))
                small = (
                    _resize_nearest(arr[:, :, 0], _HASH_SIDE, _HASH_SIDE)
                    .astype(np.int64)
                    .reshape(-1)
                )
                bits = (small * small.size > int(small.sum())).astype(np.int64)
                rows.append(
                    {
                        "media_id": media_id,
                        "sim_lo": int((bits[:32] * weights).sum()),
                        "sim_hi": int((bits[32:] * weights).sum()),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "sim_lo", "sim_hi"])

    return media.mapInPandas(run, "media_id long, sim_lo long, sim_hi long")


def phash_neardup_pairs(sig: DataFrame, hamming_max: int = _HAMMING_MAX) -> DataFrame:
    """Band-then-verify over any (media_id, sim_lo, sim_hi) signature
    frame — the dedup_simhash candidate plan verbatim."""
    words = ("sim_lo", "sim_hi")
    return (
        banded_pairs(sig, "media_id", simhash_bands(), ("media_a", "media_b"), carry=words)
        .withColumn("hamming", hamming(words))
        .where(F.col("hamming") <= hamming_max)
        .select("media_a", "media_b", "hamming")
    )


def media_phash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    media = pnm_corpus_from_documents(docs)
    # cache the 24-byte/row signatures: the band self-join reads them
    # on BOTH sides, and without the cache Catalyst re-runs the whole
    # decode+hash mapInPandas per side — 2x the image decode cost,
    # which at media scale dwarfs everything else in this query (the
    # minhash_pairs discipline; signatures are ~0.02% of payload bytes
    # so pinning them is safe at any corpus size)
    sig = ahash_signatures(media).cache()
    return phash_neardup_pairs(sig).orderBy("media_a", "media_b")


def _phash_sql() -> str:
    # sampled pixel j of the 8x8 nearest-neighbour grid over the 16x16
    # raster reads source index 32*(j div 8) + 2*(j mod 8); the raster
    # tiles the text, so the byte is text[(idx mod len) + 1] (1-indexed)
    src = "(32 * (j // 8) + 2 * (j % 8))"
    pixel = f"ascii(substring(text, CAST(({src} % n) + 1 AS INT), 1))"
    perturb = f"CASE WHEN {src} % {_PERTURB_STEP} = 0 THEN 3 ELSE 0 END"

    def half_expr(lo_bit: int) -> str:
        return " + ".join(
            f"CASE WHEN bv[{lo_bit + j + 1}] = 1 THEN {1 << j} ELSE 0 END"
            for j in range(32)
        )

    bucket_union = "\n  UNION ALL\n  ".join(
        f"SELECT media_id, sim_lo, sim_hi, {b} AS probe, "
        f"({'sim_lo' if b < 4 else 'sim_hi'} // {256 ** (b % 4)}) % 256 AS bucket FROM sig"
        for b in range(8)
    )
    return f"""
WITH docs AS (SELECT doc_id, text, length(text) AS n FROM documents),
px AS (
  SELECT doc_id AS media_id, j, {pixel} AS pixel
  FROM docs, range(0, 64) t(j)
  UNION ALL
  SELECT doc_id + {_VARIANT_OFFSET}, j, {pixel} + {perturb}
  FROM docs, range(0, 64) t(j)
),
bits AS (
  SELECT media_id, j,
         CASE WHEN pixel * 64 > sum(pixel) OVER (PARTITION BY media_id)
              THEN 1 ELSE 0 END AS bit
  FROM px
),
bv AS (SELECT media_id, list(bit ORDER BY j) AS bv FROM bits GROUP BY media_id),
sig AS (
  SELECT media_id,
         CAST({half_expr(0)} AS BIGINT) AS sim_lo,
         CAST({half_expr(32)} AS BIGINT) AS sim_hi
  FROM bv
),
buckets AS (
  {bucket_union}
),
cand AS (
  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
                  a.sim_lo AS lo_a, a.sim_hi AS hi_a,
                  b.sim_lo AS lo_b, b.sim_hi AS hi_b
  FROM buckets a JOIN buckets b ON a.probe = b.probe AND a.bucket = b.bucket
  WHERE a.media_id < b.media_id
)
SELECT media_a, media_b,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= {_HAMMING_MAX}
ORDER BY media_a, media_b
"""


# ---------------------------------------------------------------------------
# Wide aHash (256-bit, 8 x 32-bit bands): the SCALE path for image
# near-dup. Round 11 measured the 8-bit band keys of the 64-bit aHash
# saturating quadratically — 2.92 BILLION raw band-join rows at 160k
# images (~N^2/2^8 per band, worse than uniform because mean-threshold
# bits over text-derived pixels are highly correlated). This variant
# hashes the FULL 16x16 raster (the identity grid over these sources:
# bit_j = pixel_j * 256 > sum(pixels), integer-exact) into 8 words of
# 32 bits; candidates share any whole word, so the band key space is
# 2^32 per band — random collisions effectively vanish at any realistic
# corpus size — and Hamming <= 6 over all 256 bits keeps pigeonhole-
# exact recall (6 flips < 8 bands). The planted +3 variants sit at
# Hamming 0 for almost every doc (measured: 0 everywhere at
# sf0.001/0.01; at sf0.1, 4997/5000 at 0, one each at 1/7/14 — a +6
# mean shift flips every pixel whose value lands in one exact 6-wide
# boundary window, so the rare boundary doc jumps in steps of its
# value multiplicity; both engines agree exactly either way). The
# 64-bit queries keep their semantics.

_WIDE_BITS = _SIDE * _SIDE  # 256
_WIDE_WORDS = 8  # 8 x 32-bit signature words
_WIDE_HAMMING_MAX = 6


def ahash256_signatures(media: DataFrame) -> DataFrame:
    """(media_id, payload[PNM]) -> (media_id, w0..w7): the full-raster
    256-bit aHash as eight 32-bit words (32 bytes/image of state)."""

    weights = 1 << np.arange(32, dtype=np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_id"] + [f"w{k}" for k in range(_WIDE_WORDS)]
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                arr, _ = decode_pnm(bytes(payload))
                px = arr[:, :, 0].astype(np.int64).reshape(-1)
                bits = (px * px.size > int(px.sum())).astype(np.int64)
                row = {"media_id": media_id}
                for k in range(_WIDE_WORDS):
                    row[f"w{k}"] = int((bits[32 * k : 32 * k + 32] * weights).sum())
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    schema = "media_id long, " + ", ".join(
        f"w{k} long" for k in range(_WIDE_WORDS)
    )
    return media.select("media_id", "payload").mapInPandas(run, schema)


def media_phash_neardup_wide(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    media = pnm_corpus_from_documents(docs)
    # 32-byte/row signatures, read by both sides of the band self-join
    # (the media_phash_neardup cache discipline); each word is a band
    sig = ahash256_signatures(media).cache()
    words = [f"w{k}" for k in range(_WIDE_WORDS)]
    return (
        banded_pairs(
            sig, "media_id", [F.col(w) for w in words], ("media_a", "media_b"), carry=words
        )
        .withColumn("hamming", hamming(words))
        .where(F.col("hamming") <= _WIDE_HAMMING_MAX)
        .select("media_a", "media_b", "hamming")
        .orderBy("media_a", "media_b")
    )


def _phash_wide_sql() -> str:
    # identity grid: sampled pixel j of the 16x16 raster reads text
    # byte (j mod len) + 1 (1-indexed); variant pixels perturb by +3
    # where j % _PERTURB_STEP = 0
    pixel = "ascii(substring(text, CAST((j % n) + 1 AS INT), 1))"
    perturb = f"CASE WHEN j % {_PERTURB_STEP} = 0 THEN 3 ELSE 0 END"

    def word_expr(k: int) -> str:
        return " + ".join(
            f"CASE WHEN bv[{32 * k + j + 1}] = 1 THEN {1 << j} ELSE 0 END"
            for j in range(32)
        )

    word_cols = ",\n         ".join(
        f"CAST({word_expr(k)} AS BIGINT) AS w{k}" for k in range(_WIDE_WORDS)
    )
    bucket_union = "\n  UNION ALL\n  ".join(
        f"SELECT media_id, {', '.join(f'w{j}' for j in range(_WIDE_WORDS))}, "
        f"{k} AS probe, w{k} AS bucket FROM sig"
        for k in range(_WIDE_WORDS)
    )
    a_words = ", ".join(f"a.w{k} AS wa{k}" for k in range(_WIDE_WORDS))
    b_words = ", ".join(f"b.w{k} AS wb{k}" for k in range(_WIDE_WORDS))
    ham = " + ".join(
        f"bit_count(xor(wa{k}, wb{k}))" for k in range(_WIDE_WORDS)
    )
    return f"""
WITH docs AS (SELECT doc_id, text, length(text) AS n FROM documents),
px AS (
  SELECT doc_id AS media_id, j, {pixel} AS pixel
  FROM docs, range(0, {_WIDE_BITS}) t(j)
  UNION ALL
  SELECT doc_id + {_VARIANT_OFFSET}, j, {pixel} + {perturb}
  FROM docs, range(0, {_WIDE_BITS}) t(j)
),
bits AS (
  SELECT media_id, j,
         CASE WHEN pixel * {_WIDE_BITS} > sum(pixel) OVER (PARTITION BY media_id)
              THEN 1 ELSE 0 END AS bit
  FROM px
),
bv AS (SELECT media_id, list(bit ORDER BY j) AS bv FROM bits GROUP BY media_id),
sig AS (
  SELECT media_id,
         {word_cols}
  FROM bv
),
buckets AS (
  {bucket_union}
),
cand AS (
  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
                  {a_words}, {b_words}
  FROM buckets a JOIN buckets b ON a.probe = b.probe AND a.bucket = b.bucket
  WHERE a.media_id < b.media_id
)
SELECT media_a, media_b,
       CAST({ham} AS INT) AS hamming
FROM cand
WHERE {ham} <= {_WIDE_HAMMING_MAX}
ORDER BY media_a, media_b
"""


# ---------------------------------------------------------------------------
# dHash: the GRADIENT sibling of aHash. aHash compares each pixel to the
# global mean, so a uniform brightness shift flips no bit but a local
# retouch near the mean flips many; dHash compares each pixel to its
# right neighbour (bit = px[r,c] > px[r,c+1] over a 9-wide x 8-high
# grid), which is invariant to any monotone global tone change and is
# the standard second opinion every perceptual-dedup stack runs next to
# aHash. Same signature width (64 bits), same band-then-verify plan —
# only the hash function differs, so ``phash_neardup_pairs`` is reused
# verbatim.

_DH_W = 9  # dHash grid: 9 columns -> 8 horizontal gradients per row
_DH_H = 8

# nearest-neighbour source columns of the 9-wide grid over the 16-wide
# raster: (c * 16) // 9 — precomputed so the oracle can inline them
_DH_COLS = [(c * _SIDE) // _DH_W for c in range(_DH_W)]


def dhash_signatures(media: DataFrame) -> DataFrame:
    """(media_id, payload[PNM]) -> (media_id, sim_lo, sim_hi): 64-bit
    dHash (row-wise gradient sign) as two 32-bit halves.

    Pure integer pixel compares — no mean, no doubles — so the halves
    are exactly replicable from the sampled source bytes."""

    weights = 1 << np.arange(32, dtype=np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                arr, _ = decode_pnm(bytes(payload))
                grid = _resize_nearest(arr[:, :, 0], _DH_W, _DH_H).astype(np.int64)
                bits = (grid[:, :-1] > grid[:, 1:]).astype(np.int64).reshape(-1)
                rows.append(
                    {
                        "media_id": media_id,
                        "sim_lo": int((bits[:32] * weights).sum()),
                        "sim_hi": int((bits[32:] * weights).sum()),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "sim_lo", "sim_hi"])

    return media.mapInPandas(run, "media_id long, sim_lo long, sim_hi long")


def media_dhash_neardup(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    media = pnm_corpus_from_documents(docs)
    # same cache rationale as media_phash_neardup: the band self-join
    # reads the signatures twice; without the pin the image decode runs
    # per side
    sig = dhash_signatures(media).cache()
    return phash_neardup_pairs(sig).orderBy("media_a", "media_b")


def _dhash_sql() -> str:
    # grid pixel (r, c) of the 9x8 nearest-neighbour resize reads source
    # raster index 32*r + _DH_COLS[c]; the raster tiles the text bytes
    cols_lit = "[" + ", ".join(str(c) for c in _DH_COLS) + "]"

    # bit j (j = 8r + c, c in 0..7) compares grid (r, c) [side=0] with
    # grid (r, c+1) [side=1]; express both sampled pixels directly
    # (DuckDB lists are 1-indexed: cols[(j % 8) + side + 1])
    def pixel(side: int) -> str:
        idx = f"(32 * (j // 8) + cols[(j % 8) + {side + 1}])"
        base = f"ascii(substring(text, CAST(({idx} % n) + 1 AS INT), 1))"
        perturb = f"CASE WHEN {idx} % {_PERTURB_STEP} = 0 THEN 3 ELSE 0 END"
        return base, f"({base} + {perturb})"

    (l_base, l_pert), (r_base, r_pert) = pixel(0), pixel(1)

    def half_expr(lo_bit: int) -> str:
        return " + ".join(
            f"CASE WHEN bv[{lo_bit + j + 1}] = 1 THEN {1 << j} ELSE 0 END"
            for j in range(32)
        )

    bucket_union = "\n  UNION ALL\n  ".join(
        f"SELECT media_id, sim_lo, sim_hi, {b} AS probe, "
        f"({'sim_lo' if b < 4 else 'sim_hi'} // {256 ** (b % 4)}) % 256 AS bucket FROM sig"
        for b in range(8)
    )
    return f"""
WITH docs AS (SELECT doc_id, text, length(text) AS n,
                     {cols_lit} AS cols FROM documents),
bits AS (
  SELECT doc_id AS media_id, j,
         CASE WHEN {l_base} > {r_base} THEN 1 ELSE 0 END AS bit
  FROM docs, range(0, 64) t(j)
  UNION ALL
  SELECT doc_id + {_VARIANT_OFFSET}, j,
         CASE WHEN {l_pert} > {r_pert} THEN 1 ELSE 0 END
  FROM docs, range(0, 64) t(j)
),
bv AS (SELECT media_id, list(bit ORDER BY j) AS bv FROM bits GROUP BY media_id),
sig AS (
  SELECT media_id,
         CAST({half_expr(0)} AS BIGINT) AS sim_lo,
         CAST({half_expr(32)} AS BIGINT) AS sim_hi
  FROM bv
),
buckets AS (
  {bucket_union}
),
cand AS (
  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
                  a.sim_lo AS lo_a, a.sim_hi AS hi_a,
                  b.sim_lo AS lo_b, b.sim_hi AS hi_b
  FROM buckets a JOIN buckets b ON a.probe = b.probe AND a.bucket = b.bucket
  WHERE a.media_id < b.media_id
)
SELECT media_a, media_b,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= {_HAMMING_MAX}
ORDER BY media_a, media_b
"""


QUERIES = {
    "media_phash_neardup": QuerySpec(media_phash_neardup, _phash_sql()),
    "media_dhash_neardup": QuerySpec(media_dhash_neardup, _dhash_sql()),
    "media_phash_neardup_wide": QuerySpec(
        media_phash_neardup_wide, _phash_wide_sql()
    ),
}
