"""Image perceptual near-dup (aHash): a planted perturbed image must
pair with its base within the Hamming bound; a structurally different
image must not; and the signature must be computed off the REAL PNM
byte round-trip (header parse included), not a side channel."""

import numpy as np
import pytest

from composable_logs_spark.operators.codecs import decode_pnm, encode_pnm
from composable_logs_spark.queries.media_dedup_q import (
    _HAMMING_MAX,
    ahash_signatures,
    phash_neardup_pairs,
    pnm_corpus_from_documents,
)


def _media_df(spark, items):
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in items], "media_id long, payload binary"
    )


def _gradient(seed: int) -> np.ndarray:
    # high-contrast deterministic image: half dark, half bright, with a
    # seed-dependent bright block so different seeds differ structurally
    arr = np.zeros((16, 16), dtype=np.uint8)
    arr[8:, :] = 200
    r = seed % 8
    arr[r : r + 2, :] = 180
    return arr


def test_planted_perturbation_pairs_with_base(spark):
    base = _gradient(0)
    nudged = base.copy()
    nudged[0, 0] = min(255, int(nudged[0, 0]) + 4)  # one-pixel retouch
    other = 255 - _gradient(5)  # inverted: far in hash space
    media = _media_df(
        spark,
        [(1, encode_pnm(base)), (2, encode_pnm(nudged)), (3, encode_pnm(other))],
    )
    pairs = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in phash_neardup_pairs(ahash_signatures(media)).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= _HAMMING_MAX
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_signature_is_computed_from_pnm_bytes(spark):
    """Corrupting one raster byte of the encoded payload must change the
    signature — proves the hash reads the actual decoded bytes."""
    arr = _gradient(3)
    payload = encode_pnm(arr)
    # flip a pixel INSIDE the raster (after the header), hard enough to
    # cross the mean threshold
    raster_off = len(payload) - arr.size
    corrupted = bytearray(payload)
    corrupted[raster_off] = 255 if corrupted[raster_off] < 128 else 0
    media = _media_df(spark, [(1, payload), (2, bytes(corrupted))])
    sigs = {r["media_id"]: (r["sim_lo"], r["sim_hi"]) for r in ahash_signatures(media).collect()}
    assert sigs[1] != sigs[2]


def test_corpus_builder_plants_one_variant_per_doc(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "zz" * 40)], "doc_id long, text string"
    )
    media = pnm_corpus_from_documents(docs).collect()
    ids = sorted(r["media_id"] for r in media)
    assert ids == [1, 2, 100001, 100002]
    # payloads are real PNM: decodable, 16x16, variant differs from base
    by_id = {r["media_id"]: bytes(r["payload"]) for r in media}
    for i in (1, 2):
        b, _ = decode_pnm(by_id[i])
        v, _ = decode_pnm(by_id[i + 100000])
        assert b.shape == (16, 16, 1) and v.shape == (16, 16, 1)
        assert not np.array_equal(b, v)


def test_corpus_builder_rejects_id_collision(spark):
    docs = spark.createDataFrame([(100001, "abc")], "doc_id long, text string")
    with pytest.raises(Exception, match="variant offset"):
        pnm_corpus_from_documents(docs).collect()


def test_wide_ahash_finds_planted_pairs_with_narrow_buckets(spark, sf_dir):
    """media_phash_neardup_wide (the measured band-saturation remedy):
    every planted (base, variant) pair is found — at the test fixture's
    size the +3 perturbation never crosses a boundary, so Hamming 0 —
    and the 32-bit band keys admit far fewer raw candidates than the
    8-bit banding on the same corpus."""
    from composable_logs_spark.operators.lsh import BAND, BUCKET, band_rows
    from composable_logs_spark.queries.dedup_q import simhash_bands
    from composable_logs_spark.queries.media_dedup_q import (
        _VARIANT_OFFSET,
        _WIDE_WORDS,
        ahash256_signatures,
        ahash_signatures,
        media_phash_neardup_wide,
    )
    from pyspark.sql import functions as F

    pairs = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in media_phash_neardup_wide(spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    for d in doc_ids:
        assert pairs.get((d, d + _VARIANT_OFFSET)) == 0, d

    media = pnm_corpus_from_documents(docs.select("doc_id", "text"))

    def raw_candidates(sig, bands):
        b = band_rows(sig, "media_id", bands)
        return (
            b.alias("a")
            .join(b.alias("b"), [BAND, BUCKET])
            .where(F.col("a.media_id") < F.col("b.media_id"))
            .count()
        )

    wide = raw_candidates(
        ahash256_signatures(media), [F.col(f"w{k}") for k in range(_WIDE_WORDS)]
    )
    narrow = raw_candidates(ahash_signatures(media), simhash_bands())
    assert wide < narrow / 5, (wide, narrow)
