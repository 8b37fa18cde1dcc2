"""Audio fingerprinting over real WAV payloads — the audio modality's
gated counterpart to the image aHash (``media_dedup_q``): until now the
WAV codec path (``codecs.stdlib_codec``: RIFF parse, PCM decode, frame
chunking) was pytest-only; this query runs it under the cross-engine
oracle.

The fingerprint is the energy-delta shape every practical audio
fingerprinter reduces to (Haitsma-Kalker 2002 "A highly robust audio
fingerprint", stripped of the FFT: per-frame energies, one bit per
adjacent-frame comparison):

1. Corpus: one 8-bit mono 8 kHz WAV per document, PCM samples derived
   deterministically from the text bytes (sample[i] = byte(text[i mod
   len]))  — ENCODED with ``codecs.encode_wav`` inside ``mapInPandas``
   (the semdedup/phash augmentation device, without variants: this
   query gates the DECODE+FRAME pipeline, not a dedup).
2. Frames: the REAL codec's ``op="frames"`` path chops the PCM into
   4 ms chunks (32 samples at 8 kHz — the frame-alignment logic under
   test).
3. Per frame, integer energy sum((s - 128)^2) over the unsigned
   samples; fingerprint bit f = energy_f > energy_{f+1}, packed
   little-endian into one BIGINT.

Cross-engine exactness: everything is integer arithmetic on byte
values, so DuckDB recomputes the identical fingerprint straight from
the text — which proves the WAV round-trip (header + PCM + chunking)
byte-lossless.

100 TB design: one Arrow-batched ``mapInPandas`` per stage, payload
bytes never shuffle (the output row is ~24 bytes/track); zero joins,
zero windows — a narrow map end to end.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load
from ..operators.codecs import encode_wav, stdlib_codec
from ..operators.lsh import banded_pairs, hamming

_RATE = 8000
_N_SAMPLES = 1024  # 128 ms per track
_FRAME_MS = 4      # -> 32 samples per frame, 32 frames, 31 bits


def wav_corpus_from_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (media_id, payload) real RIFF/PCM WAV bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(_N_SAMPLES)
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = text.encode("utf-8")
                pcm = np.frombuffer(data, np.uint8)[idx % len(data)].tobytes()
                rows.append(
                    {
                        "media_id": doc_id,
                        "payload": encode_wav(
                            pcm, rate=_RATE, n_channels=1, sample_width=1
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return docs.select("doc_id", "text").mapInPandas(
        gen, "media_id long, payload binary"
    )


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """(media_id, payload[WAV]) -> (media_id, n_frames, energy_total,
    fingerprint): real codec decode + frame chunking, integer energy
    deltas packed as bits."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                out = stdlib_codec(
                    bytes(payload), "audio", op="frames", every_ms=_FRAME_MS
                )
                energies = [
                    int(
                        (
                            (
                                np.frombuffer(fb, np.uint8).astype(np.int64)
                                - 128
                            )
                            ** 2
                        ).sum()
                    )
                    for _idx, _ms, fb in out["frames"]
                ]
                fp = sum(
                    1 << f
                    for f in range(len(energies) - 1)
                    if energies[f] > energies[f + 1]
                )
                rows.append(
                    {
                        "media_id": media_id,
                        "n_frames": len(energies),
                        "energy_total": sum(energies),
                        "fingerprint": fp,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_frames", "energy_total", "fingerprint"],
            )

    return media.mapInPandas(
        run,
        "media_id long, n_frames int, energy_total long, fingerprint long",
    )


def media_audio_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    return audio_fingerprints(wav_corpus_from_documents(docs)).orderBy(
        "media_id"
    )


# --- audio near-dup: band-then-verify over a two-word fingerprint ------
#
# The audio counterpart of media_phash_neardup. The NEAR-DUP signature
# is two words decoded in one pass: fp1 = the gate query's 31
# adjacent-frame energy-delta bits (e_f > e_{f+1}), fp2 = 30 lag-2
# delta bits (e_f > e_{f+2}) — 61 bits total, banded 4 x 15 bits over
# the low 60, verified by exact Hamming <= _AUDIO_HAMMING_MAX over all
# 61. With a 3-bit budget over 4 bands the banding has EXACT recall by
# pigeonhole — <= 3 flipped bits touch at most 3 bands (a bit-60 flip
# touches none), so every true pair shares an intact band; no
# probabilistic miss rate at any corpus size.
#
# Why two words (measured, not hypothetical): an 8-bit band key space
# saturates quadratically — at the 64x replica (320k tracks) the 4 x
# 8-bit banding over fp1 alone produced 2.35 BILLION raw band-join rows
# (146M at 80k: ~N^2/2^8 per band), turning the "banded" plan into an
# all-pairs join in disguise. 15-bit keys cut collisions ~128x; the
# lag-2 word adds real signal (it is NOT derivable from fp1: adjacent
# deltas bound e_f vs e_{f+2} only when both steps agree). SCALE.md
# records the before/after curve.
#
# The planted variant bumps every frame-0 sample by +1 (documents are
# pure ASCII, no wrap), moving only frame 0's energy: at most fp1 bit 0
# and fp2 bit 0 flip, Hamming <= 2.

_AUDIO_VARIANT_OFFSET = 100000
_AUDIO_HAMMING_MAX = 3
_AUDIO_N_BANDS = 4
_AUDIO_BAND_BITS = 15
_FP2_SHIFT = 31  # fp2 packs above fp1's 31 bits in the banding word


def wav_variant_corpus_from_documents(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> base WAV per doc plus one planted variant
    (media_id + offset) whose frame-0 samples are +1."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = np.arange(_N_SAMPLES)
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if doc_id >= _AUDIO_VARIANT_OFFSET:
                    # id collision would corrupt pairs identically on
                    # both engines (the media_phash guard)
                    raise ValueError(
                        f"media_audio: doc_id {doc_id} >= variant offset"
                    )
                data = text.encode("utf-8")
                if not data:
                    # explicit guard (r11 advice): idx % 0 would raise a
                    # bare ZeroDivisionError here while the SQL oracle's
                    # (j % n) yields NULL pixels silently — fail loudly
                    # and identically-diagnosably instead of divergently
                    raise ValueError(
                        f"media_audio: doc_id {doc_id} has empty text; "
                        "no WAV can be synthesized from it"
                    )
                base = np.frombuffer(data, np.uint8)[idx % len(data)]
                rows.append(
                    {
                        "media_id": doc_id,
                        "payload": encode_wav(
                            base.tobytes(), rate=_RATE, n_channels=1, sample_width=1
                        ),
                    }
                )
                var = base.copy()
                var[:_SPF] += 1  # frame 0 only; ASCII <= 127: no wrap
                rows.append(
                    {
                        "media_id": doc_id + _AUDIO_VARIANT_OFFSET,
                        "payload": encode_wav(
                            var.tobytes(), rate=_RATE, n_channels=1, sample_width=1
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return docs.select("doc_id", "text").mapInPandas(
        gen, "media_id long, payload binary"
    )


def audio_signatures(media: DataFrame) -> DataFrame:
    """(media_id, payload[WAV]) -> (media_id, fp1, fp2): the 16-byte
    two-word signature the near-dup path keeps per track. One decode per track; fp1 is bit-identical to the
    gate query's fingerprint."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                out = stdlib_codec(
                    bytes(payload), "audio", op="frames", every_ms=_FRAME_MS
                )
                e = [
                    int(
                        (
                            (np.frombuffer(fb, np.uint8).astype(np.int64) - 128)
                            ** 2
                        ).sum()
                    )
                    for _idx, _ms, fb in out["frames"]
                ]
                fp1 = sum(1 << f for f in range(len(e) - 1) if e[f] > e[f + 1])
                fp2 = sum(1 << f for f in range(len(e) - 2) if e[f] > e[f + 2])
                rows.append({"media_id": media_id, "fp1": fp1, "fp2": fp2})
            yield pd.DataFrame(rows, columns=["media_id", "fp1", "fp2"])

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, fp1 long, fp2 long"
    )


def audio_neardup_pairs(
    sig: DataFrame, hamming_max: int = _AUDIO_HAMMING_MAX
) -> DataFrame:
    """Band-then-verify over any (media_id, fp1, fp2) frame: 15-bit
    bands of the packed 61-bit signature."""
    comb = F.col("fp1") + F.col("fp2") * F.lit(1 << _FP2_SHIFT)
    bands = [
        F.shiftright(comb, _AUDIO_BAND_BITS * k)
        .bitwiseAND(F.lit((1 << _AUDIO_BAND_BITS) - 1))
        .cast("int")
        for k in range(_AUDIO_N_BANDS)
    ]
    words = ("fp1", "fp2")
    return (
        banded_pairs(sig, "media_id", bands, ("media_a", "media_b"), carry=words)
        .withColumn("hamming", hamming(words))
        .where(F.col("hamming") <= hamming_max)
        .select("media_a", "media_b", "hamming")
    )


def media_audio_neardup(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    media = wav_variant_corpus_from_documents(docs)
    # cache the 16-byte/row signatures: the band self-join reads them on
    # BOTH sides — without the pin the WAV decode mapInPandas runs once
    # per side (the media_phash_neardup discipline)
    sig = audio_signatures(media).cache()
    return audio_neardup_pairs(sig).orderBy("media_a", "media_b")


_SPF = _RATE * _FRAME_MS // 1000  # samples per frame
_N_FRAMES = _N_SAMPLES // _SPF


def _audio_sql() -> str:
    # sample i of frame f reads text byte ((f*SPF + i) mod len) + 1
    sample = (
        "ascii(substring(text,"
        f" CAST(((f * {_SPF} + i) % n) + 1 AS INT), 1))"
    )
    return f"""
WITH docs AS (SELECT doc_id, text, length(text) AS n FROM documents),
fe AS (
  SELECT doc_id AS media_id, f,
         CAST(sum(({sample} - 128) * ({sample} - 128)) AS BIGINT) AS energy
  FROM docs, range(0, {_N_FRAMES}) t(f), range(0, {_SPF}) u(i)
  GROUP BY doc_id, f
),
bits AS (
  SELECT media_id, f,
         CASE WHEN energy > lead(energy) OVER (PARTITION BY media_id ORDER BY f)
              THEN 1 ELSE 0 END AS bit
  FROM fe
)
SELECT fe.media_id,
       CAST({_N_FRAMES} AS INT) AS n_frames,
       CAST(sum(fe.energy) AS BIGINT) AS energy_total,
       CAST((SELECT sum(b.bit * (1::BIGINT << b.f))
             FROM bits b
             WHERE b.media_id = fe.media_id AND b.f < {_N_FRAMES - 1})
            AS BIGINT) AS fingerprint
FROM fe
GROUP BY fe.media_id
ORDER BY fe.media_id
"""


def _audio_neardup_sql() -> str:
    # sample i of frame f reads text byte ((f*SPF + i) mod len) + 1,
    # +1 on every frame-0 sample of the planted variant
    sample = (
        "(ascii(substring(text,"
        f" CAST(((f * {_SPF} + i) % n) + 1 AS INT), 1))"
        " + CASE WHEN is_var = 1 AND f = 0 THEN 1 ELSE 0 END)"
    )
    return f"""
WITH docs AS (
  SELECT doc_id AS media_id, text, length(text) AS n, 0 AS is_var
  FROM documents
  UNION ALL
  SELECT doc_id + {_AUDIO_VARIANT_OFFSET}, text, length(text), 1
  FROM documents
),
fe AS (
  SELECT media_id, f,
         CAST(sum(({sample} - 128) * ({sample} - 128)) AS BIGINT) AS energy
  FROM docs, range(0, {_N_FRAMES}) t(f), range(0, {_SPF}) u(i)
  GROUP BY media_id, f
),
bits AS (
  SELECT media_id, f,
         CASE WHEN energy > lead(energy) OVER (PARTITION BY media_id ORDER BY f)
              THEN 1 ELSE 0 END AS bit1,
         CASE WHEN energy > lead(energy, 2) OVER (PARTITION BY media_id ORDER BY f)
              THEN 1 ELSE 0 END AS bit2
  FROM fe
),
fps AS (
  SELECT media_id,
         CAST(sum(CASE WHEN f < {_N_FRAMES - 1}
                       THEN bit1 * (1::BIGINT << f) ELSE 0 END) AS BIGINT) AS fp1,
         CAST(sum(CASE WHEN f < {_N_FRAMES - 2}
                       THEN bit2 * (1::BIGINT << f) ELSE 0 END) AS BIGINT) AS fp2
  FROM bits
  GROUP BY media_id
),
buckets AS (
  SELECT media_id, fp1, fp2, k AS probe,
         ((fp1 + fp2 * {1 << _FP2_SHIFT}) >> ({_AUDIO_BAND_BITS} * k))
           & {(1 << _AUDIO_BAND_BITS) - 1} AS bucket
  FROM fps, range(0, {_AUDIO_N_BANDS}) t(k)
),
cand AS (
  SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         a.fp1 AS fa1, a.fp2 AS fa2, b.fp1 AS fb1, b.fp2 AS fb2
  FROM buckets a JOIN buckets b
    ON a.probe = b.probe AND a.bucket = b.bucket AND a.media_id < b.media_id
)
SELECT media_a, media_b,
       CAST(bit_count(xor(fa1, fb1)) + bit_count(xor(fa2, fb2)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(fa1, fb1)) + bit_count(xor(fa2, fb2)) <= {_AUDIO_HAMMING_MAX}
ORDER BY media_a, media_b
"""


QUERIES = {
    "media_audio_fingerprint": QuerySpec(media_audio_fingerprint, _audio_sql()),
    "media_audio_neardup": QuerySpec(media_audio_neardup, _audio_neardup_sql()),
}
