"""Cross-modal video near-dup: TEMPORAL cut positions anchor SPATIAL
keyframe hashes — the composition the two single-modality video queries
cannot express alone (r12 verdict item 3).

``media_video_neardup`` pairs videos whose per-frame byte mass agrees
(the temporal fingerprint), so it survives intra-frame re-encodes that
PRESERVE each frame's mass — and documented its own blind spot: a
re-encode that *changes* per-frame byte mass (the canonical example is
a uniform brightness shift, +1 to every byte) moves every frame sum,
breaks the quantized profile key AND the exact verify tolerance, and
the pair is lost even though the video is visually identical.

This query closes that gap by composing the two fingerprint families:

- TEMPORAL: ``scene_fingerprints`` cut positions. Cut detection is a
  DELTA of consecutive frame sums, so a uniform brightness shift
  cancels — cut positions (and their md5) are invariant.
- SPATIAL: at each cut boundary, the frame AFTER the cut (the
  keyframe) is hashed with the exact aHash bit definition of
  ``media_dedup_q.ahash_signatures`` (bit_j = pixel_j * 64 >
  sum(pixels) — tests pin bit-identity against the PNM codec path).
  The mean-threshold compare is invariant under uniform shifts:
  (p+1)*64 > s+64  <=>  p*64 > s. A 64-byte frame is already the 8x8
  hash grid, so the hash is computed JVM-side with array expressions —
  no Python, no codec round-trip in the hot path.

Pairing is band-then-verify, cross-modally: CANDIDATES from the
(n_frames, cut_md5) equi-join — positions are a strong key, and the
collisions the temporal query measured (short clips sharing one cut
offset) are exactly what the spatial verify resolves — then VERIFY
that every aligned keyframe pair is within aHash Hamming
``_KF_HAMMING_MAX``. Never all-pairs; keyframe rows are bounded by the
cut count per video, not the frame count, so the verify join touches
O(candidates x cuts) rows.

Planted variants: every ``_KF_VAR_MOD``-th document gets a +1
brightness-shifted payload (media_id + ``_KF_OFFSET``). These pairs
are INVISIBLE to the temporal query by construction and found here —
the planted-variant test asserts exactly that asymmetry.

Reference anchor: none (north-star scope, SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load
from ..operators.lsh import hamming
from .multimodal_q import scene_fingerprints

_KF_OFFSET = 2_000_000
_KF_VAR_MOD = 4  # every 4th doc gets a planted brightness-shift variant
_KF_HAMMING_MAX = 6  # same verify tolerance as the image aHash family


def keyframe_corpus_from_documents(docs: DataFrame) -> DataFrame:
    """(media_id, payload) corpus: every document's utf-8 bytes as the
    base video, plus a +1-per-byte brightness-shift variant for every
    ``_KF_VAR_MOD``-th doc. Documents are ASCII (<= 0x7F), so +1 never
    wraps; the shift is computed through hex so it stays byte-true."""
    docs = docs.select(
        F.expr(
            f"CASE WHEN doc_id >= {_KF_OFFSET}"
            " THEN raise_error('media_keyframe: doc_id collides with the"
            " variant offset') ELSE doc_id END"
        ).alias("media_id"),
        "text",
    )
    base = docs.select("media_id", F.encode("text", "utf-8").alias("payload"))
    variants = docs.where(F.col("media_id") % _KF_VAR_MOD == 0).select(
        (F.col("media_id") + _KF_OFFSET).alias("media_id"),
        F.expr(
            "unhex(concat_ws('', transform("
            " sequence(0, length(text) - 1),"
            " j -> lpad(conv(cast(cast(conv(substring(hex(encode(text,"
            " 'utf-8')), j * 2 + 1, 2), 16, 10) as bigint) + 1 as string),"
            " 10, 16), 2, '0'))))"
        ).alias("payload"),
    )
    return base.unionByName(variants)


def keyframe_hashes(fp: DataFrame, corpus: DataFrame) -> DataFrame:
    """(media_id, n_frames, n_cuts, cut_md5, at, kf_lo, kf_hi): one row
    per cut-boundary keyframe, hash = the ``ahash_signatures`` bit rule
    over the keyframe's 64 bytes (already hash-grid-sized, so no
    resize), as two 32-bit halves (the repo's signed-overflow
    convention)."""
    return (
        fp.where(F.col("n_cuts") >= 1)
        .select("media_id", "n_frames", "n_cuts", "cut_md5", "cut_ats")
        .join(corpus, "media_id")
        .select(
            "media_id",
            "n_frames",
            "n_cuts",
            "cut_md5",
            F.explode("cut_ats").alias("at"),
            "payload",
        )
        # binary substring slices BYTES; hex -> per-pixel values stays
        # exact for any byte (the scene_fingerprints discipline)
        .withColumn(
            "barr",
            F.expr(
                "transform(sequence(0, 63), j -> cast(conv(substring("
                " hex(substring(payload, cast((at - 1) * 64 + 1 as int), 64)),"
                " j * 2 + 1, 2), 16, 10) as bigint))"
            ),
        )
        .withColumn(
            "fs", F.expr("aggregate(barr, cast(0 as bigint), (a, x) -> a + x)")
        )
        .withColumn(
            "kf_lo",
            F.expr(
                "aggregate(sequence(0, 31), cast(0 as bigint), (a, j) ->"
                " a + if(element_at(barr, j + 1) * 64 > fs,"
                "        shiftleft(cast(1 as bigint), j), cast(0 as bigint)))"
            ),
        )
        .withColumn(
            "kf_hi",
            F.expr(
                "aggregate(sequence(32, 63), cast(0 as bigint), (a, j) ->"
                " a + if(element_at(barr, j + 1) * 64 > fs,"
                "        shiftleft(cast(1 as bigint), j - 32),"
                "        cast(0 as bigint)))"
            ),
        )
        .select(
            "media_id", "n_frames", "n_cuts", "cut_md5", "at", "kf_lo", "kf_hi"
        )
    )


def _keyframe_rows_arrow(docs: DataFrame) -> DataFrame:
    """(media_id, n_frames, n_cuts, cut_md5, at, kf_lo, kf_hi) — the
    exact rows ``keyframe_hashes(scene_fingerprints(corpus), corpus)``
    yields over ``keyframe_corpus_from_documents(docs)``, computed in
    one vectorized numpy pass per Arrow batch (guide §4.2).

    r13: the expression pipeline was O(L^2) per variant document — the
    brightness-shift payload rebuilt ``hex(encode(text))`` inside a
    per-byte ``transform`` lambda, and every frame sum re-parsed hex
    digit pairs through interpreted ``aggregate`` lambdas; 5000 docs
    (1.5 MB!) took >180 s at sf0.1. Everything here is exact integer
    arithmetic on the same byte values (numpy int64 sums, the same
    strict ``> _CUT_T`` cut rule, the same ``pixel*64 > framesum`` bit
    rule) and the same md5-of-comma-joined-cut-positions join key, so
    the emitted rows are value-identical; test_media_keyframe pins the
    base/variant pairing and the aHash bit-identity, and the DuckDB
    oracle hashes the final pairs. The ASCII +1-never-wraps premise of
    ``keyframe_corpus_from_documents`` is enforced with the same
    raise-on-violation contract (here: any byte >= 0x80 raises, which
    subsumes the old silent assumption)."""
    import numpy as np  # driver-side import keeps worker pickle small

    kf_offset, var_mod, cut_t = _KF_OFFSET, _KF_VAR_MOD, 256

    def gen(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        weights_lo = (1 << np.arange(32, dtype=np.int64))
        weights_hi = (1 << np.arange(32, dtype=np.int64))

        def emit(media_id, arr, out):
            nf = arr.shape[0] // 64
            if nf < 2:
                return
            frames = arr[: nf * 64].reshape(nf, 64)
            fsum = frames.sum(axis=1)
            deltas = np.abs(np.diff(fsum))
            ats = np.nonzero(deltas > cut_t)[0] + 2  # 1-based frame after cut
            if len(ats) == 0:
                return
            cut_md5 = hashlib.md5(
                ",".join(str(a) for a in ats).encode()
            ).hexdigest()
            for at in ats:
                fr = frames[at - 1]
                bits = fr * 64 > fsum[at - 1]
                lo = int((weights_lo * bits[:32]).sum())
                hi = int((weights_hi * bits[32:]).sum())
                out.append((media_id, nf, len(ats), cut_md5, int(at), lo, hi))

        for batch in batches:
            ids = batch.column(0).to_numpy()
            texts = batch.column(1).to_pylist()
            out = []
            for doc_id, text in zip(ids, texts):
                if doc_id >= kf_offset:
                    raise ValueError(
                        "media_keyframe: doc_id collides with the variant offset"
                    )
                arr = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(
                    np.int64
                )
                if arr.size and arr.max() >= 0x80:
                    raise ValueError(
                        "media_keyframe: non-ASCII byte breaks the +1 "
                        "brightness-shift contract"
                    )
                emit(int(doc_id), arr, out)
                if doc_id % var_mod == 0:
                    emit(int(doc_id) + kf_offset, arr + 1, out)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([r[0] for r in out], type=pa.int64()),
                    pa.array([r[1] for r in out], type=pa.int32()),
                    pa.array([r[2] for r in out], type=pa.int64()),
                    pa.array([r[3] for r in out], type=pa.string()),
                    pa.array([r[4] for r in out], type=pa.int32()),
                    pa.array([r[5] for r in out], type=pa.int64()),
                    pa.array([r[6] for r in out], type=pa.int64()),
                ],
                names=[
                    "media_id", "n_frames", "n_cuts", "cut_md5",
                    "at", "kf_lo", "kf_hi",
                ],
            )

    return docs.mapInArrow(
        gen,
        "media_id long, n_frames int, n_cuts long, cut_md5 string,"
        " at int, kf_lo long, kf_hi long",
    )


def media_keyframe_spatial_neardup(spark: SparkSession, sf: str) -> DataFrame:
    kf = _keyframe_rows_arrow(
        load(spark, sf, "documents").select("doc_id", "text")
    )
    a = kf.select(
        F.col("media_id").alias("media_a"),
        "n_frames",
        F.col("n_cuts").alias("n_cuts"),
        "cut_md5",
        "at",
        F.col("kf_lo").alias("kf_lo_a"),
        F.col("kf_hi").alias("kf_hi_a"),
    )
    b = kf.select(
        F.col("media_id").alias("media_b"),
        "n_frames",
        "cut_md5",
        "at",
        F.col("kf_lo").alias("kf_lo_b"),
        F.col("kf_hi").alias("kf_hi_b"),
    )
    return (
        a.join(b, ["n_frames", "cut_md5", "at"])
        .where(F.col("media_a") < F.col("media_b"))
        .withColumn("h", hamming(("kf_lo", "kf_hi")))
        .groupBy("media_a", "media_b", "n_frames", "n_cuts")
        .agg(
            F.count("*").cast("long").alias("n_keyframes"),
            F.max("h").cast("int").alias("max_kf_hamming"),
        )
        .where(F.col("max_kf_hamming") <= _KF_HAMMING_MAX)
        .select(
            "media_a", "media_b", "n_frames", "n_cuts",
            "n_keyframes", "max_kf_hamming",
        )
    )


# DuckDB replica: the whole pipeline over hex strings — byte values via
# hex-digit strpos pairs (the scene oracle's discipline), the brightness
# variant rebuilt hex-pair by hex-pair, keyframe bits and halves exactly
# as the Spark expressions define them.
_HEXD = "'0123456789ABCDEF'"


def _byte_at(hx: str, pos: str) -> str:
    """Byte value at 0-based byte offset ``pos`` of hex string ``hx``."""
    return (
        f"((strpos({_HEXD}, substring({hx}, CAST(({pos}) * 2 + 1 AS INT), 1)) - 1)"
        f" * 16"
        f" + strpos({_HEXD}, substring({hx}, CAST(({pos}) * 2 + 2 AS INT), 1)) - 1)"
    )


_ORACLE = f"""
WITH basehx AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
),
corpus AS (
  SELECT media_id, hx, nb FROM basehx
  UNION ALL
  SELECT media_id + {_KF_OFFSET},
         upper(array_to_string(list_transform(range(0, nb),
           j -> lpad(to_hex({_byte_at('hx', 'j')} + 1), 2, '0')), '')),
         nb
  FROM basehx WHERE media_id % {_KF_VAR_MOD} = 0
),
m AS (
  SELECT media_id, hx, CAST(nb // 64 AS INT) AS nf FROM corpus
),
sums AS (
  SELECT media_id, nf,
    list_transform(range(0, nf), i ->
      CAST(list_sum(list_transform(range(0, 64), j ->
        {_byte_at('hx', 'i * 64 + j')})) AS BIGINT)) AS fsum,
    hx
  FROM m WHERE nf >= 2
),
cuts AS (
  SELECT media_id, nf, fsum, hx,
    list_filter(
      list_transform(range(2, nf + 1),
        j -> struct_pack(at := j, delta := abs(fsum[j] - fsum[j - 1]))),
      s -> s.delta > 256) AS cuts
  FROM sums
),
fpc AS (
  SELECT media_id, nf AS n_frames, CAST(len(cuts) AS BIGINT) AS n_cuts,
         md5(array_to_string(
               list_transform(cuts, s -> CAST(s.at AS VARCHAR)), ',')) AS cut_md5,
         list_transform(cuts, s -> s.at) AS cut_ats,
         hx
  FROM cuts WHERE len(cuts) >= 1
),
kf AS (
  SELECT media_id, n_frames, n_cuts, cut_md5, CAST(atv AS INT) AS at,
         list_transform(range(0, 64),
           j -> CAST({_byte_at('hx', '(atv - 1) * 64 + j')} AS BIGINT)) AS barr
  FROM fpc, UNNEST(cut_ats) AS u(atv)
),
kfh AS (
  SELECT media_id, n_frames, n_cuts, cut_md5, at,
         CAST(list_sum(list_transform(range(0, 32), j ->
           CASE WHEN barr[j + 1] * 64 > fs THEN (CAST(1 AS BIGINT) << j)
                ELSE 0 END)) AS BIGINT) AS kf_lo,
         CAST(list_sum(list_transform(range(32, 64), j ->
           CASE WHEN barr[j + 1] * 64 > fs THEN (CAST(1 AS BIGINT) << (j - 32))
                ELSE 0 END)) AS BIGINT) AS kf_hi
  FROM (SELECT *, CAST(list_sum(barr) AS BIGINT) AS fs FROM kf)
)
SELECT a.media_a, a.media_b, a.n_frames, a.n_cuts,
       CAST(count(*) AS BIGINT) AS n_keyframes,
       CAST(max(a.h) AS INT) AS max_kf_hamming
FROM (
  SELECT x.media_id AS media_a, y.media_id AS media_b, x.n_frames,
         x.n_cuts, x.at,
         bit_count(xor(x.kf_lo, y.kf_lo))
           + bit_count(xor(x.kf_hi, y.kf_hi)) AS h
  FROM kfh x JOIN kfh y
    ON x.n_frames = y.n_frames AND x.cut_md5 = y.cut_md5 AND x.at = y.at
  WHERE x.media_id < y.media_id
) a
GROUP BY a.media_a, a.media_b, a.n_frames, a.n_cuts
HAVING max(a.h) <= {_KF_HAMMING_MAX}
"""

QUERIES = {
    "media_keyframe_spatial_neardup": QuerySpec(
        media_keyframe_spatial_neardup, _ORACLE
    ),
}
