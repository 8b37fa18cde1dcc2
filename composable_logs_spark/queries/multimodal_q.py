"""Multimodal-column queries: binary payload plumbing with oracles.

The synthetic media table derives payloads from documents.text (pure
ASCII), so DuckDB can recompute byte-level results from the text and the
comparison checks the whole binary pipeline (encode → mapInPandas /
JVM-side md5 → aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load
from ..operators.multimodal import (
    extract_features,
    media_checksums,
    synthetic_media_from_documents,
)


def media_checksums_q(spark: SparkSession, sf: str) -> DataFrame:
    media = synthetic_media_from_documents(spark, sf)
    return media_checksums(media)


CHECKSUM_SQL = """
SELECT doc_id AS media_id, 'image' AS kind, md5(text) AS payload_md5,
       CAST(length(text) AS BIGINT) AS n_bytes
FROM documents
"""


def media_byte_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched byte-histogram features; project bucket 0-3 for the
    oracle (full array checked in unit tests)."""
    media = synthetic_media_from_documents(spark, sf)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.col("features").getItem(0), 6).alias("f0"),
        F.round(F.col("features").getItem(1), 6).alias("f1"),
        F.round(F.col("features").getItem(2), 6).alias("f2"),
        F.round(F.col("features").getItem(3), 6).alias("f3"),
    )


HISTOGRAM_SQL = """
WITH chars AS (
  SELECT doc_id, length(text) AS n, string_split_regex(text, '') AS cs FROM documents
)
SELECT doc_id AS media_id,
       CAST(n AS BIGINT) AS n_bytes,
       round(len(list_filter(cs, c -> ascii(c) % 16 = 0)) / CAST(n AS DOUBLE), 6) AS f0,
       round(len(list_filter(cs, c -> ascii(c) % 16 = 1)) / CAST(n AS DOUBLE), 6) AS f1,
       round(len(list_filter(cs, c -> ascii(c) % 16 = 2)) / CAST(n AS DOUBLE), 6) AS f2,
       round(len(list_filter(cs, c -> ascii(c) % 16 = 3)) / CAST(n AS DOUBLE), 6) AS f3
FROM chars
"""


def media_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling shape for video-ish payloads: treat the binary as
    fixed 64-byte frames, sample every 4th full frame, fingerprint the
    sampled bytes. Pure JVM-side binary slicing (substring on BINARY) —
    the decode-free fast path; a real codec plugs into extract_features
    for pixel-level work. Narrow map, zero shuffle."""
    media = synthetic_media_from_documents(spark, sf)
    staged = media.select(
        "media_id",
        F.expr("cast(meta.n_bytes div 64 as int)").alias("nf"),
        "payload",
    )
    return staged.select(
        "media_id",
        F.col("nf").alias("n_frames"),
        F.expr(
            "case when nf > 0 then"
            " cast(size(filter(sequence(0, nf - 1), i -> i % 4 = 0)) as int)"
            " else 0 end"
        ).alias("n_sampled"),
        F.expr(
            "case when nf > 0 then"
            " md5(concat_ws('', transform(filter(sequence(0, nf - 1), i -> i % 4 = 0),"
            " i -> cast(substring(payload, cast(i * 64 + 1 as int), 64) as string))))"
            " end"
        ).alias("sample_md5"),
    )


FRAME_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, text, CAST(length(text) // 64 AS INT) AS nf
  FROM documents
)
SELECT media_id,
       nf AS n_frames,
       CASE WHEN nf > 0
            THEN CAST(len(list_filter(range(0, nf), i -> i % 4 = 0)) AS INT)
            ELSE 0 END AS n_sampled,
       CASE WHEN nf > 0
            THEN md5(array_to_string(
                   list_transform(list_filter(range(0, nf), i -> i % 4 = 0),
                                  i -> substring(text, CAST(i * 64 + 1 AS INT), 64)),
                   ''))
            END AS sample_md5
FROM m
"""


def scene_fingerprints(media: DataFrame) -> DataFrame:
    """(media_id, n_frames, n_cuts, max_cut_delta, cut_md5,
    profile_md5, fsum) scene-cut fingerprints for any
    (media_id, payload) frame — the shared core of
    the per-video report query (``media_scene_cut``) and the temporal
    near-dup pair query (``media_video_neardup``), so the two cannot
    drift.

    Per 64-byte frame, an integer brightness proxy (byte sum); a cut
    wherever consecutive frames differ by more than ``_CUT_T``. The
    whole computation is per-row array math — frame sums via one
    ``transform`` over frame indices, adjacent deltas via ``zip_with``
    of the two shifted ``slice``s — so there is NO explode, NO window
    and NO shuffle: a 10^6-frame video stays one row whose arrays are
    bounded by the payload already in memory. (The per-frame explode +
    lag-window alternative shuffles every frame row by media_id for
    the sort the window needs — strictly worse at 100 TB.) Exact
    integer arithmetic end to end; the cut-index md5 pins the exact
    cut POSITIONS cross-engine, not just their count.

    ``profile_md5`` is the near-dup JOIN key: md5 of the QUANTIZED
    frame-sum sequence (fsum div 64 — byte-average granularity, so
    per-frame perturbations below one brightness step don't break it).
    Unlike the cut-position md5 — which short low-cut clips share by
    chance (measured: (n_frames, n_cuts = 1, same position) paired
    unrelated 8-frame clips) — the full quantized profile is a
    cryptographically strong key, so the pair join has bounded
    occupancy at any corpus size."""
    staged = (
        media.select(
            "media_id",
            F.expr("cast(length(payload) div 64 as int)").alias("nf"),
            "payload",
        )
        .withColumn(
            # substring on BINARY slices bytes (no decode, O(1) offsets);
            # hex() the 64-byte frame so the fold below reads TRUE byte
            # values — a cast-to-string here would UTF-8-decode and
            # collapse every byte >= 0x80 to U+FFFD (65533), making
            # distinct non-ASCII frames hash identical
            "fhex",
            F.expr(
                "transform(sequence(0, nf - 1),"
                " i -> hex(substring(payload, cast(i * 64 + 1 as int), 64)))"
            ),
        )
        .withColumn(
            "fsum",
            F.expr(
                "transform(fhex, fh -> aggregate(sequence(0, 63),"
                " cast(0 as bigint),"
                " (a, j) -> a + cast(conv(substring(fh, j * 2 + 1, 2), 16, 10)"
                "               as bigint)))"
            ),
        )
        .drop("fhex")
    )
    # greatest(nf - 1, 0): the nf >= 2 filter below makes the slice
    # lengths logically safe, but Catalyst may REORDER predicates when a
    # caller's filter (e.g. n_cuts >= 1 in the keyframe query) collapses
    # into the same conjunction — then slice evaluates on nf = 0 rows
    # and raises INVALID_PARAMETER_VALUE. Total expressions only.
    deltas = (
        "zip_with(slice(fsum, 2, greatest(nf - 1, 0)),"
        " slice(fsum, 1, greatest(nf - 1, 0)),"
        " (a, b) -> abs(a - b))"
    )
    return (
        staged.where(F.col("nf") >= 2)
        .withColumn(
            "cuts",
            F.expr(
                # delta position j is 0-based and sits between 1-based
                # frames j+1 and j+2: report the frame AFTER the cut
                f"filter(transform({deltas},"
                f" (d, j) -> struct(j + 2 AS at, d AS delta)),"
                f" s -> s.delta > {_CUT_T})"
            ),
        )
        .select(
            "media_id",
            F.col("nf").alias("n_frames"),
            F.size("cuts").cast("long").alias("n_cuts"),
            F.expr("cast(aggregate(cuts, cast(0 as bigint), (a, s) ->"
                   " greatest(a, s.delta)) as bigint)").alias("max_cut_delta"),
            # NULL (not md5('')) when no cuts: DuckDB's array_to_string
            # over an empty list is NULL, so pin the same convention
            F.when(
                F.size("cuts") > 0,
                F.md5(
                    F.expr(
                        "concat_ws(',', transform(cuts, s -> cast(s.at as string)))"
                    )
                ),
            ).alias("cut_md5"),
            F.md5(
                F.expr(
                    "concat_ws(',', transform(fsum, s -> cast(s div 64 as string)))"
                )
            ).alias("profile_md5"),
            "fsum",
            # the cut POSITIONS themselves (1-based frame-after-the-cut
            # indices) — the keyframe query anchors spatial hashes here
            F.expr("transform(cuts, s -> s.at)").alias("cut_ats"),
        )
    )


def media_scene_cut(spark: SparkSession, sf: str) -> DataFrame:
    """Scene-cut report over the synthetic media table — the TEMPORAL
    multimodal shape ``media_frame_sample`` (spatial sampling) doesn't
    cover. See ``scene_fingerprints`` for the plan."""
    return scene_fingerprints(
        synthetic_media_from_documents(spark, sf).select("media_id", "payload")
    ).drop("profile_md5", "fsum", "cut_ats")


_CUT_T = 256  # brightness-sum jump that counts as a scene change


def _scene_sql_over(src: str) -> str:
    """DuckDB replica of ``scene_fingerprints`` over any
    (media_id, text) relation — payloads are the utf-8 BYTES of the
    text, so the replica hexes the encoded blob and folds hex-digit
    pairs, mirroring the engine's byte-true sums (not a character/
    codepoint sum, which would diverge on any non-ASCII byte)."""
    return f"""
WITH m AS (
  SELECT media_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) // 64 AS INT) AS nf
  FROM {src}
),
sums AS (
  SELECT media_id, nf,
    list_transform(range(0, nf), i ->
      CAST(list_sum(list_transform(range(0, 64), j ->
        (strpos('0123456789ABCDEF',
                substring(hx, CAST((i * 64 + j) * 2 + 1 AS INT), 1)) - 1) * 16
        + strpos('0123456789ABCDEF',
                 substring(hx, CAST((i * 64 + j) * 2 + 2 AS INT), 1)) - 1
      )) AS BIGINT)) AS fsum
  FROM m WHERE nf >= 2
),
cuts AS (
  SELECT media_id, nf, fsum,
    list_filter(
      list_transform(range(2, nf + 1),
        j -> struct_pack(at := j, delta := abs(fsum[j] - fsum[j - 1]))),
      s -> s.delta > {_CUT_T}) AS cuts
  FROM sums
)
SELECT media_id,
       nf AS n_frames,
       CAST(len(cuts) AS BIGINT) AS n_cuts,
       CAST(coalesce(list_max(list_transform(cuts, s -> s.delta)), 0)
         AS BIGINT) AS max_cut_delta,
       CASE WHEN len(cuts) > 0
            THEN md5(array_to_string(
                   list_transform(cuts, s -> CAST(s.at AS VARCHAR)), ','))
            END AS cut_md5,
       md5(array_to_string(
             list_transform(fsum, s -> CAST(s // 64 AS VARCHAR)), ','))
         AS profile_md5,
       fsum
FROM cuts
"""


SCENE_SQL = f"""
SELECT media_id, n_frames, n_cuts, max_cut_delta, cut_md5
FROM ({_scene_sql_over("(SELECT doc_id AS media_id, text FROM documents)")})
"""


_VIDEO_VARIANT_OFFSET = 1_000_000
_VIDEO_VARIANT_MOD = 5  # every 5th doc gets a planted re-encode


def video_corpus_from_documents(docs: DataFrame) -> DataFrame:
    """(media_id, payload) video-ish corpus: one payload per document
    plus a planted RE-ENCODE variant (media_id + offset) for every
    ``_VIDEO_VARIANT_MOD``-th doc — the variant swaps the first two
    characters, i.e. changes bytes WITHIN frame 0 while preserving the
    frame's byte sum, so its temporal fingerprint is intact by
    construction (the invariance the near-dup query exploits: scene
    structure survives intra-frame re-encoding)."""
    docs = docs.select(
        F.expr(
            f"CASE WHEN doc_id >= {_VIDEO_VARIANT_OFFSET}"
            " THEN raise_error('media_video: doc_id collides with the"
            " variant offset') ELSE doc_id END"
        ).alias("media_id"),
        "text",
    )
    base = docs.select("media_id", F.encode("text", "utf-8").alias("payload"))
    variants = docs.where(
        (F.col("media_id") % _VIDEO_VARIANT_MOD == 0) & (F.length("text") >= 2)
    ).select(
        (F.col("media_id") + _VIDEO_VARIANT_OFFSET).alias("media_id"),
        F.encode(
            F.expr(
                "concat(substring(text, 2, 1), substring(text, 1, 1),"
                " substring(text, 3, length(text) - 2))"
            ),
            "utf-8",
        ).alias("payload"),
    )
    return base.unionByName(variants)


def media_video_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Video near-dup by TEMPORAL fingerprint: two payloads whose scene
    structure matches exactly — (n_frames, n_cuts, cut positions) — are
    the same video up to intra-frame re-encoding. This is the video
    modality's answer to aHash (spatial) and the audio energy-delta
    fingerprint (spectral): cut patterns survive transforms that
    preserve per-frame mass.

    The standard band-then-verify shape, temporally: CANDIDATES from an
    equi-join on (n_frames, profile_md5) — the quantized frame-sum
    profile, a strong key whose residual collisions are short clips
    whose per-frame averages happen to round together (the cut-position
    md5 alone was measurably worse: unrelated 8-frame clips sharing one
    cut offset) — then exact VERIFICATION: every frame's byte sums must
    agree within ``_V_TOL``. Measured at sf0.01, verification keeps the
    planted re-encodes AND the corpus's planted near-duplicate texts
    (Jaccard >= 0.94 — real matches) while cutting the quantization
    collisions 151 -> 26. NEVER all-pairs; fsum arrays ride only the
    candidate rows."""
    fp = scene_fingerprints(
        video_corpus_from_documents(
            load(spark, sf, "documents").select("doc_id", "text")
        )
    )
    a = fp.select(
        F.col("media_id").alias("media_a"),
        "n_frames",
        F.col("n_cuts").alias("n_cuts_a"),
        F.col("fsum").alias("fsum_a"),
        "profile_md5",
    )
    b = fp.select(
        F.col("media_id").alias("media_b"),
        "n_frames",
        F.col("n_cuts").alias("n_cuts_b"),
        F.col("fsum").alias("fsum_b"),
        "profile_md5",
    )
    return (
        a.join(b, ["n_frames", "profile_md5"])
        .where(F.col("media_a") < F.col("media_b"))
        .withColumn(
            "max_frame_delta",
            F.expr(
                "aggregate(zip_with(fsum_a, fsum_b, (x, y) -> abs(x - y)),"
                " cast(0 as bigint), (acc, d) -> greatest(acc, d))"
            ),
        )
        .where(F.col("max_frame_delta") <= _V_TOL)
        .select(
            "media_a", "media_b", "n_frames", "n_cuts_a", "n_cuts_b",
            "max_frame_delta",
        )
    )


_V_TOL = 3  # per-frame byte-mass tolerance for the verify stage


_VIDEO_SRC = f"""(
  SELECT doc_id AS media_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_VIDEO_VARIANT_OFFSET},
         substring(text, 2, 1) || substring(text, 1, 1)
           || substring(text, 3, length(text) - 2)
  FROM documents
  WHERE doc_id % {_VIDEO_VARIANT_MOD} = 0 AND length(text) >= 2
)"""

VIDEO_NEARDUP_SQL = f"""
WITH fp AS (
  SELECT media_id, n_frames, n_cuts, profile_md5, fsum
  FROM ({_scene_sql_over(_VIDEO_SRC)})
)
SELECT media_a, media_b, n_frames, n_cuts_a, n_cuts_b, max_frame_delta
FROM (
  SELECT a.media_id AS media_a, b.media_id AS media_b,
         a.n_frames, a.n_cuts AS n_cuts_a, b.n_cuts AS n_cuts_b,
         CAST(coalesce(list_max(list_transform(range(1, a.n_frames + 1),
                j -> abs(a.fsum[j] - b.fsum[j]))), 0) AS BIGINT)
           AS max_frame_delta
  FROM fp a JOIN fp b
    ON a.n_frames = b.n_frames AND a.profile_md5 = b.profile_md5
   AND a.media_id < b.media_id
)
WHERE max_frame_delta <= {_V_TOL}
"""


QUERIES = {
    "media_checksums": QuerySpec(media_checksums_q, CHECKSUM_SQL),
    "media_byte_histogram": QuerySpec(media_byte_histogram, HISTOGRAM_SQL),
    "media_frame_sample": QuerySpec(media_frame_sample, FRAME_SQL),
    "media_scene_cut": QuerySpec(media_scene_cut, SCENE_SQL),
    "media_video_neardup": QuerySpec(media_video_neardup, VIDEO_NEARDUP_SQL),
}
