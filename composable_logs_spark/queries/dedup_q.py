"""Deduplication operators (north-star L5): exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Real near-duplicates are rare in the synthetic corpus, so each query
builds its evaluation corpus as ``documents ∪ deterministic variant``
(variant ids offset by +100000): exact-dup copies for exact dedup,
truncated texts for MinHash/Jaccard/SimHash, perturbed vectors for the
embedding path. The operator then has planted positives to find, and the
DuckDB oracle checks the FULL pipeline (shingle → hash → band → candidate
→ verify) value-for-value, because both engines share md5 as the hash.

Scale design notes (the point of these operators):
- No O(n²) stage: candidates come from an equi-join on band/bucket keys
  (LSH banding / blocking), then only candidates are verified.
- All hashing is built-in md5 (JVM-side, codegen) — no Python UDFs.
- The shingle explode is the big intermediate; it shuffles on the
  band-hash key, which is uniform by construction (hash output), so no
  skew at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load
from ..operators.lsh import banded_pairs, hamming

_VARIANT_OFFSET = 100000


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy keep-min-id. Corpus = docs ∪ exact copies.
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.select((F.col("doc_id") + _VARIANT_OFFSET).alias("doc_id"), "text")
    )
    return (
        corpus.withColumn("text_hash", F.md5("text"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count("*").alias("group_size"),
        )
    )


DEDUP_EXACT_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_VARIANT_OFFSET}, text FROM documents
)
SELECT md5(text) AS text_hash,
       min(doc_id) AS kept_doc_id,
       count(*)    AS group_size
FROM corpus GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# Shared corpus for near-dup ops: original + text truncated by 3 words.
def _near_dup_corpus(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    variant = d.select(
        (F.col("doc_id") + _VARIANT_OFFSET).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1))), " ").alias(
            "text"
        ),
    )
    out = d.unionByName(variant)
    # Small-file parallelization: a compact parquet file arrives as 1-2
    # input partitions (row-group granularity), which would run the
    # expensive shingle+md5 stage on 2 of N cores. Decide from the file
    # size on disk (free — no plan/RDD materialisation): at real scale
    # the input is far past the threshold and the scan already yields
    # >= cores splits, so this never fires and adds no shuffle; locally
    # it spreads a trivially small shuffle across every core.
    import os

    try:
        small = os.path.getsize(f"{sf}/documents.parquet") < (64 << 20)
    except OSError:
        small = False
    if small:
        out = out.repartition(spark.sparkContext.defaultParallelism)
    return out


_NEAR_DUP_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_VARIANT_OFFSET} AS doc_id,
         array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 1,
                         greatest(len(string_split_regex(trim(text), '\\s+')) - 3, 1)),
                         ' ') AS text
  FROM documents
"""


def _shingles(text_col):
    """Word 3-gram shingles as strings (distinct).

    Built from three aligned slices zipped together — O(n) per doc.
    (The naive transform(sequence(...), i -> element_at(toks, i)) form is
    O(n²) per evaluation because element_at walks the array, and Catalyst
    re-evaluates the expression for every consumer column.)
    """
    toks = F.split(F.trim(text_col), r"\s+")
    n = F.greatest(F.size(toks) - 2, F.lit(1))
    a = F.slice(toks, 1, n)
    b = F.slice(toks, 2, n)
    c = F.slice(toks, 3, n)
    # coalesce, not concat_ws: for docs under 3 tokens the short slices
    # zip to nulls, and concat_ws would *skip* them ("tok") while the
    # DuckDB oracle's coalesce keeps the separators ("tok  ") — pad with
    # empty strings so both engines emit identical shingles
    empty = F.lit("")
    pairs = F.zip_with(
        a, b, lambda x, y: F.concat(F.coalesce(x, empty), F.lit(" "), F.coalesce(y, empty))
    )
    return F.array_distinct(
        F.zip_with(pairs, c, lambda xy, z: F.concat(xy, F.lit(" "), F.coalesce(z, empty)))
    )


_SHINGLES_SQL = """
  list_distinct(list_transform(
    range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
    i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
         coalesce(string_split_regex(trim(text), '\\s+')[i+1], '') || ' ' ||
         coalesce(string_split_regex(trim(text), '\\s+')[i+2], '')
  ))
"""


def _encoded_shingle_postings(docs: DataFrame):
    """Dictionary-encode a (doc_id, shingles array<string>) frame:
    returns (inv_enc, doc_sids) where

    - ``inv_enc``: one row per (doc, distinct shingle) —
      (doc_id, n, sid, df): n = the doc's shingle-set size, sid = the
      shingle's dense 64-bit id, df = its corpus document frequency;
    - ``doc_sids``: (doc_id, sids array<long>) — each doc's shingle set
      re-encoded as ids, for the exact verify stage.

    r14 (guide §2.3/§4.1, r13 verdict item 1): ids come from
    ``monotonically_increasing_id`` over the DISTINCT-shingle table,
    sorted on ``shingle`` within each post-aggregate partition — an
    injective relabeling (unlike md5-hashing the strings) that is a
    function of the shingle set and the shuffle partitioning, not of the
    order rows reach the aggregate, so a recomputed partition gets the
    same ids. An eager localCheckpoint pins the encoded postings so
    every consumer reads one materialization. Every downstream statistic
    the jaccard/containment family computes (equi-join candidate sets,
    shared-shingle counts, |A ∩ B|, |A|, |B|) is invariant under an
    injective relabeling, so results are bit-identical while the
    candidate self-joins shuffle 8-byte longs instead of ~25-char 3-gram
    strings and the per-pair verify builds long hashsets instead of
    string hashsets. The df agg is the same agg the DF-cut / prefix-rank
    already needed — the encode join replaces the old df-attach join, it
    does not add one."""
    docs = docs.cache()  # one shingle pass feeds both encode-join sides
    inv = docs.select(
        "doc_id", F.size("shingles").alias("n"), F.explode("shingles").alias("shingle")
    )
    dict_tab = (
        inv.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .sortWithinPartitions("shingle")
        .withColumn("sid", F.monotonically_increasing_id())
    )
    # the ONE materialization: dict_tab has a single consumer (this
    # join), so the id assignment is pinned by pinning inv_enc — every
    # downstream frame (self-joins, doc_sids) derives from it
    inv_enc = inv.join(dict_tab, "shingle").select(
        "doc_id", "n", "sid", "df"
    ).localCheckpoint(eager=True)
    docs.unpersist()
    # cheap int agg off the checkpoint; both verify-join sides re-run
    # it rather than paying another checkpoint round-trip
    doc_sids = inv_enc.groupBy("doc_id").agg(F.collect_list("sid").alias("sids"))
    return inv_enc, doc_sids


# ---------------------------------------------------------------------------
# MinHash + LSH banding. k=12 hash functions, 4 bands × 3 rows.
#
# One md5 per shingle, reduced to a 31-bit integer h; the K minhash
# functions are universal hashes (a_s*h + b_s) mod M over that single
# digest — the textbook construction, 12× fewer md5 evaluations than
# hashing (seed|shingle) per function. Constants generated once with
# random.Random(42); exact integer arithmetic reproduces in DuckDB.
_K = 12
_BANDS = 4
_ROWS = 3  # _K = _BANDS * _ROWS
_JACCARD_THRESHOLD = 0.5
_M = 2147483647  # 2^31 - 1 (Mersenne prime)
_A = [1373158607, 239081664, 53710185, 1592467582, 590620972, 525901257,
      479341424, 299655413, 1581559893, 220106708, 1453201079, 1590571866]
_B = [1915941032, 1171165722, 186699713, 1268073012, 906070220, 68252793,
      63989047, 201209005, 469521477, 499635468, 1085242216, 1292825378]


def minhash_mh(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, hashes, mh0..mh{K-1}).

    One ``mapInArrow`` pass: tokenize, shingle, md5 each distinct
    shingle once (60-bit hex prefix -> 31-bit int, first-occurrence
    distinct), then all K universal-hash minima in one numpy broadcast.
    Everything is exact integer arithmetic (h < 2^31, a < 2^31, so
    h*a+b < 2^63 — no overflow in int64), so the output is bit-identical
    to the former expression form (kept as ``_minhash_mh_expr`` below and
    parity-locked by tests/test_minhash_arrow.py).

    r13 (guide §4.1/§4.2): the expression form ran the shingle
    construction (two zip_with), the per-shingle md5 (inside transform)
    and the K-way fold (aggregate of zip_with over a 12-element array
    PER SHINGLE) as interpreted higher-order lambdas — no codegen, one
    expression-tree walk per element. The measured headline cost was
    2.0-2.7 s at sf0.1 for 10k docs; the Arrow pass does the same work
    as one hashlib loop + one numpy matmul-shaped broadcast per batch.

    Tokenization replicates the Spark expressions bit-for-bit: trim
    strips leading/trailing ASCII spaces only (StringTrim), the split
    regex [ \\t\\n\\x0B\\f\\r]+ is Java's \\s (Python's \\s also matches
    unicode whitespace — deliberately NOT used), short docs pad missing
    shingle slots with '' exactly like the zip_with/coalesce
    construction, and both distincts keep first-occurrence order.

    Reused by ``minhash_pairs`` (production banding) and the
    band-parameter sweep below.
    """

    def gen(batches):
        import hashlib
        import re

        import numpy as np
        import pyarrow as pa

        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        a_vec = np.array(_A, dtype=np.int64)
        b_vec = np.array(_B, dtype=np.int64)
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            hashes_col: list = []
            mh_cols: list[list] = [[] for _ in range(_K)]
            for t in texts:
                if t is None:
                    hashes_col.append(None)
                    for s in range(_K):
                        mh_cols[s].append(None)
                    continue
                toks = ws.split(t.strip(" "))
                n = max(len(toks) - 2, 1)
                padded = toks + ["", ""]
                shingles = dict.fromkeys(
                    "%s %s %s" % (toks[i], padded[i + 1], padded[i + 2])
                    for i in range(n)
                )
                hs = list(
                    dict.fromkeys(
                        (
                            int.from_bytes(
                                hashlib.md5(s.encode("utf-8")).digest()[:8], "big"
                            )
                            >> 4
                        )
                        % _M
                        for s in shingles
                    )
                )
                hashes_col.append(hs)
                if hs:
                    arr = np.asarray(hs, dtype=np.int64)
                    mins = ((arr[:, None] * a_vec + b_vec) % _M).min(axis=0)
                else:  # unreachable for non-null text (n >= 1); fold init
                    mins = np.full(_K, 1 << 62, dtype=np.int64)
                for s in range(_K):
                    mh_cols[s].append(int(mins[s]))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(hashes_col, type=pa.list_(pa.int64())),
                    *[pa.array(mh_cols[s], type=pa.int64()) for s in range(_K)],
                ],
                names=["doc_id", "hashes", *[f"mh{s}" for s in range(_K)]],
            )

    schema = "doc_id long, hashes array<long>, " + ", ".join(
        f"mh{s} long" for s in range(_K)
    )
    return docs.select("doc_id", "text").mapInArrow(gen, schema)


def _minhash_mh_expr(docs: DataFrame) -> DataFrame:
    """The original all-expression formulation of ``minhash_mh`` — kept
    as the parity reference for tests/test_minhash_arrow.py (the Arrow
    pass above must be bit-identical on any corpus)."""

    shingled = docs.select("doc_id", _shingles(F.col("text")).alias("shingles"))

    def h31(sh):
        return (
            F.conv(F.substring(F.md5(sh), 1, 15), 16, 10).cast("long") % _M
        )

    init = F.array(*[F.lit(1 << 62).cast("long") for _ in range(_K)])
    # materialise the per-shingle digest FIRST (transform = one md5 per
    # shingle, kept as `hashes` for the verify step: the Jaccard check
    # then compares 8-byte longs instead of shipping full shingle strings
    # through the verify join — same verdicts, ~4x smaller shuffle), then
    # fold pure-integer universal hashes over it
    hashed = shingled.select(
        "doc_id", F.array_distinct(F.transform(F.col("shingles"), h31)).alias("hashes")
    )
    sig = hashed.select(
        "doc_id",
        "hashes",
        F.aggregate(
            F.col("hashes"),
            init,
            lambda acc, h: F.zip_with(
                acc,
                F.array(*[(h * _A[s] + _B[s]) % _M for s in range(_K)]),
                lambda a, b: F.least(a, b),
            ),
        ).alias("mh"),
    ).select(
        "doc_id",
        "hashes",
        *[F.col("mh").getItem(s).alias(f"mh{s}") for s in range(_K)],
    )
    return sig


def _band_cols() -> list:
    """The production (b=4, r=3) band keys as column expressions over a
    frame carrying mh0..mh{K-1} (md5 of the '|'-joined row values)."""
    return [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"mh{b * _ROWS + r}").cast("string") for r in range(_ROWS)],
            )
        ).alias(f"band{b}")
        for b in range(_BANDS)
    ]


def jaccard_col(a: str, b: str):
    """Exact Jaccard over the hashed shingle sets (31-bit md5 prefixes:
    identical on both engines; within-doc collisions removed by
    array_distinct on BOTH sides).

    r13: |A ∪ B| computed as |A| + |B| - |A ∩ B| — exact for the
    distinct arrays every caller passes, same integers so the rounded
    double is bit-identical, and the per-pair array_union hashset build
    (the second of two per-row set constructions in the verify stage)
    disappears. Measured on dedup_minhash_bandsweep at sf0.1 (490k
    candidate pairs): 6.75 -> 5.87 s min-of-3, same-session A/B."""
    inter = F.size(F.array_intersect(a, b))
    return F.round(inter / (F.size(a) + F.size(b) - inter), 4)


def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return minhash_pairs(_near_dup_corpus(spark, sf))


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """Verified near-dup pairs (doc_a < doc_b, jaccard >= threshold) over
    any (doc_id, text) frame — the batch LSH pipeline."""
    # cache HERE (hashes + band keys, no raw shingle strings): both the
    # banding pass and the verify join read sig — without the cache
    # Catalyst re-derives shingles+md5 from text for each consumer
    sig = minhash_mh(docs.select("doc_id", "text"))
    sig = sig.select("doc_id", "hashes", *_band_cols()).cache()

    # candidates: docs sharing any band value
    cand = banded_pairs(
        sig, "doc_id", [F.col(f"band{b}") for b in range(_BANDS)], ("doc_a", "doc_b")
    )

    sh = sig.select("doc_id", "hashes")
    verified = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hashes", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hashes", "sh_b"), "doc_b")
        .withColumn("jaccard", jaccard_col("sh_a", "sh_b"))
        .where(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def _lsh_cte_prefix(corpus_sql: str) -> str:
    """The shared oracle CTE chain corpus -> shingles -> 31-bit hashes ->
    K minhashes -> band keys -> exploded bands -> candidate pairs, used by
    the pair oracle (`_minhash_sql`) and the sketch-calibration oracle
    (`_est_error_sql`)."""
    mh_cols = ",\n         ".join(
        f"list_min(list_transform(hs, h -> (h * {_A[s]} + {_B[s]}) % {_M})) AS mh{s}"
        for s in range(_K)
    )
    band_cols = ",\n         ".join(
        "md5({}) AS band{}".format(
            " || '|' || ".join(
                f"CAST(mh{b * _ROWS + r} AS VARCHAR)" for r in range(_ROWS)
            ),
            b,
        )
        for b in range(_BANDS)
    )
    band_union = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_idx, band{b} AS band_hash FROM sig" for b in range(_BANDS)
    )
    return f"""
WITH corpus AS ({corpus_sql}),
docs AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM corpus
),
hashed AS (
  SELECT doc_id,
         list_distinct(list_transform(shingles,
                        sh -> CAST('0x' || substring(md5(sh), 1, 15) AS BIGINT) % {_M})) AS hs
  FROM docs
),
mh AS (
  SELECT doc_id, hs,
         {mh_cols}
  FROM hashed
),
sig AS (
  SELECT *,
         {band_cols}
  FROM mh
),
bands_long AS (
  {band_union}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_long a JOIN bands_long b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
)"""


def _minhash_sql(corpus_sql: str | None = None) -> str:
    """The LSH pair oracle over any (doc_id, text) corpus source —
    defaults to the planted near-dup corpus; compositions (ccnet_q)
    pass their own survivor CTE so the oracle's pair stage runs over
    exactly the frame the Spark side hands minhash_pairs."""
    corpus_sql = _NEAR_DUP_CORPUS_SQL if corpus_sql is None else corpus_sql
    return f"""{_lsh_cte_prefix(corpus_sql)}
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.hs, sb.hs))), 4) AS jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
WHERE round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.hs, sb.hs))), 4) >= {_JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash sketch calibration: estimated vs exact Jaccard over the LSH
# candidate set. The "measure, don't guess" query for the sketch itself:
# the K-minhash match fraction is an unbiased Jaccard estimator with
# stddev ~ sqrt(J(1-J)/K); this query MEASURES its error on this corpus,
# bucketed by exact Jaccard decile, so a banding/threshold choice (and
# the bandsweep query's theoretical curve) can be checked against
# observed estimator quality before trusting a K=12 sketch at 100 TB.
#
# All aggregation is exact integer arithmetic (match counts, micro-unit
# Jaccard via the (x*20000+u) div (2u) HALF-UP device, error numerators
# over the common denominator 12*10000) — sums are order-independent, so
# the two engines agree to the digit regardless of partitioning.
def dedup_minhash_est_error(spark: SparkSession, sf: str) -> DataFrame:
    sig = minhash_mh(
        _near_dup_corpus(spark, sf).select("doc_id", "text")
    ).cache()

    cand = banded_pairs(sig, "doc_id", _band_cols(), ("doc_a", "doc_b"))

    feat = sig.select(
        "doc_id",
        "hashes",
        F.array(*[F.col(f"mh{s}") for s in range(_K)]).alias("mh"),
    )
    pairs = (
        cand.join(
            feat.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hashes").alias("sh_a"),
                F.col("mh").alias("mh_a"),
            ),
            "doc_a",
        )
        .join(
            feat.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hashes").alias("sh_b"),
                F.col("mh").alias("mh_b"),
            ),
            "doc_b",
        )
        .select(
            F.aggregate(
                F.zip_with(
                    "mh_a", "mh_b", lambda x, y: (x == y).cast("long")
                ),
                F.lit(0).cast("long"),
                lambda acc, e: acc + e,
            ).alias("n_match"),
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_inter"),
            # |A ∪ B| = |A| + |B| - |A ∩ B| for the distinct hash arrays
            # (r13, see jaccard_col): same integer, no second hashset
            (
                F.size("sh_a").cast("long")
                + F.size("sh_b").cast("long")
                - F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
            ).alias("n_union"),
        )
        # exact Jaccard in micro-units, HALF-UP, pure integer arithmetic
        .withColumn(
            "exact_micro",
            F.expr("(n_inter * 20000 + n_union) div (2 * n_union)"),
        )
        # |est - exact| over the common denominator K*10000
        .withColumn(
            "err_numer",
            F.abs(F.col("n_match") * 10000 - F.col("exact_micro") * _K),
        )
    )

    denom = float(_K * 10000)
    return (
        pairs.groupBy(
            F.least(F.expr("exact_micro div 1000"), F.lit(9).cast("long")).alias(
                "jaccard_decile"
            )
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.sum("n_match") / (F.count("*") * float(_K)), 4).alias("mean_est"),
            F.round(F.sum("exact_micro") / (F.count("*") * 10000.0), 4).alias(
                "mean_exact"
            ),
            F.round(F.sum("err_numer") / (F.count("*") * denom), 4).alias(
                "mean_abs_err"
            ),
            F.round(F.max("err_numer") / denom, 4).alias("max_abs_err"),
        )
        .orderBy("jaccard_decile")
    )


def _est_error_sql() -> str:
    match_sum = " + ".join(
        f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END" for s in range(_K)
    )
    return f"""{_lsh_cte_prefix(_NEAR_DUP_CORPUS_SQL)},
pairs AS (
  SELECT ({match_sum}) AS n_match,
         len(list_intersect(sa.hs, sb.hs)) AS n_inter,
         len(list_distinct(list_concat(sa.hs, sb.hs))) AS n_union
  FROM cand
  JOIN sig sa ON sa.doc_id = doc_a
  JOIN sig sb ON sb.doc_id = doc_b
),
scored AS (
  SELECT n_match,
         (n_inter * 20000 + n_union) // (2 * n_union) AS exact_micro
  FROM pairs
),
erred AS (
  SELECT n_match, exact_micro,
         abs(n_match * 10000 - exact_micro * {_K}) AS err_numer
  FROM scored
)
SELECT least(exact_micro // 1000, 9) AS jaccard_decile,
       count(*) AS n_pairs,
       round(sum(n_match) / (count(*) * {float(_K)}), 4) AS mean_est,
       round(sum(exact_micro) / (count(*) * 10000.0), 4) AS mean_exact,
       round(sum(err_numer) / (count(*) * {float(_K * 10000)}), 4) AS mean_abs_err,
       round(max(err_numer) / {float(_K * 10000)}, 4) AS max_abs_err
FROM erred
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# SimHash: 64-bit signature from per-shingle md5 bits, weighted majority
# (round 2: widened from the 32-bit demo width to the production width).
# The signature is carried as TWO 32-bit halves (lo = bits 0-31, hi =
# bits 32-63): a single 64-bit value would need 1<<63, which overflows
# signed BIGINT identically awkwardly in both engines.
# Candidates via 8x 8-bit band buckets (a pair within Hamming<=6 flips at
# most 6 of the 8 bands, so >=2 full bytes still agree — pigeonhole);
# exact Hamming verify (<= 6, the 64-bit analogue of 3/32).
_SIMHASH_BITS = 64
_HAMMING_MAX = 6


def _simhash_sig(corpus: DataFrame) -> DataFrame:
    """(doc_id, sim_lo, sim_hi): the 64-bit simhash signature, one
    ``mapInArrow`` pass per doc.

    r13 (guide §4.1/§4.2/§2.3): the expression form (kept as
    ``_simhash_sig_expr``, parity-locked by tests/test_simhash_arrow.py)
    built shingles with interpreted zip_with, md5-ed them inside an
    interpreted ``transform``, EXPLODED the hash strings (a corpus of
    33-char rows through a shuffle) and reduced them with a 64-column
    hash aggregate of conv(substring(...)) bit expressions. This pass
    emits the finished signature per doc — no explode, no per-doc
    aggregation exchange, nothing but (doc_id, 2 longs) ever leaves the
    scan stage. All-integer: nibble bits straight from the md5 digest
    bytes (hex char j, 1-based, = high nibble of byte (j-1)//2 for odd
    j), ±1 sums per bit, sign-packed exactly like the old half_col.
    """

    def gen(batches):
        import hashlib
        import re

        import numpy as np
        import pyarrow as pa

        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        weights = np.array([1 << j for j in range(32)], dtype=np.int64)
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            id_col, lo_col, hi_col = [], [], []
            for doc_id, t in zip(ids, texts):
                if t is None:
                    # parity with the expression form: explode(null
                    # hashes) drops the doc from the signature frame
                    continue
                toks = ws.split(t.strip(" "))
                n = max(len(toks) - 2, 1)
                padded = toks + ["", ""]
                shingles = dict.fromkeys(
                    "%s %s %s" % (toks[i], padded[i + 1], padded[i + 2])
                    for i in range(n)
                )
                digests = b"".join(
                    hashlib.md5(s.encode("utf-8")).digest() for s in shingles
                )
                arr = np.frombuffer(digests, dtype=np.uint8).reshape(-1, 16)
                nibs = np.empty((arr.shape[0], 32), dtype=np.int64)
                nibs[:, 0::2] = arr >> 4
                nibs[:, 1::2] = arr & 15
                # bit i of a shingle hash = bit (i % 2) of nibble (i // 2):
                # even i -> nibble bit 0, odd i -> nibble bit 1
                bit0 = nibs & 1
                bit1 = (nibs >> 1) & 1
                bits = np.empty((arr.shape[0], 64), dtype=np.int64)
                bits[:, 0::2] = bit0
                bits[:, 1::2] = bit1
                sums = (2 * bits - 1).sum(axis=0)  # per-bit ±1 totals
                pos = (sums > 0).astype(np.int64)
                id_col.append(doc_id)
                lo_col.append(int((pos[0:32] * weights).sum()))
                hi_col.append(int((pos[32:64] * weights).sum()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(id_col, type=pa.int64()),
                    pa.array(lo_col, type=pa.int64()),
                    pa.array(hi_col, type=pa.int64()),
                ],
                names=["doc_id", "sim_lo", "sim_hi"],
            )

    return corpus.select("doc_id", "text").mapInArrow(
        gen, "doc_id long, sim_lo long, sim_hi long"
    )


def _simhash_sig_expr(corpus: DataFrame) -> DataFrame:
    """The original expression formulation of the simhash signature —
    the parity reference for tests/test_simhash_arrow.py."""
    # hash 3-gram shingles, not single tokens: token-set simhash collapses
    # on a shared-vocabulary corpus (every doc within hamming<=6 of every
    # other) while shingles keep word order and separate documents
    d = corpus.select(
        "doc_id", F.transform(_shingles(F.col("text")), F.md5).alias("hashes")
    )

    # bit i of shingle-hash = bit (i mod 2) of hex char (i div 2 + 1).
    exploded = d.select("doc_id", F.explode("hashes").alias("h"))

    def bit_col(i: int):
        nib = F.conv(F.substring(F.col("h"), i // 2 + 1, 1), 16, 10).cast("int")
        bit = F.shiftright(nib, i % 2).bitwiseAND(F.lit(1))
        return F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)).alias(f"b{i}")

    sums = (
        exploded.select("doc_id", *[bit_col(i) for i in range(_SIMHASH_BITS)])
        .groupBy("doc_id")
        .agg(*[F.sum(f"b{i}").alias(f"s{i}") for i in range(_SIMHASH_BITS)])
    )

    def half_col(lo_bit: int):
        col = None
        for j in range(32):
            term = F.when(F.col(f"s{lo_bit + j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            col = term if col is None else col + term
        return col.cast("long")

    return sums.select(
        "doc_id", half_col(0).alias("sim_lo"), half_col(32).alias("sim_hi")
    )


def simhash_bands() -> list:
    """The eight 8-bit bands of a (sim_lo, sim_hi) signature: bytes 0-3
    of sim_lo, then bytes 0-3 of sim_hi."""
    return [
        F.shiftright(F.col("sim_lo" if b < 4 else "sim_hi"), 8 * (b % 4))
        .bitwiseAND(F.lit(255))
        .cast("int")
        for b in range(8)
    ]


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    sig = _simhash_sig(_near_dup_corpus(spark, sf))
    words = ("sim_lo", "sim_hi")
    return (
        banded_pairs(sig, "doc_id", simhash_bands(), ("doc_a", "doc_b"), carry=words)
        .withColumn("hamming", hamming(words))
        .where(F.col("hamming") <= _HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_sql() -> str:
    def half_expr(lo_bit: int) -> str:
        return " + ".join(
            f"CASE WHEN list_sum(list_transform(hashes, h -> "
            f"CASE WHEN ((instr('0123456789abcdef', substring(h, {(lo_bit + j) // 2 + 1}, 1)) - 1)"
            f" // {2 ** ((lo_bit + j) % 2)}) % 2 = 1 "
            f"THEN 1 ELSE -1 END)) > 0 THEN {1 << j} ELSE 0 END"
            for j in range(32)
        )

    bucket_union = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, sim_lo, sim_hi, {b} AS probe, "
        f"({'sim_lo' if b < 4 else 'sim_hi'} // {256 ** (b % 4)}) % 256 AS bucket FROM sig"
        for b in range(8)
    )
    return f"""
WITH corpus AS ({_NEAR_DUP_CORPUS_SQL}),
d AS (
  SELECT doc_id,
         list_transform({_SHINGLES_SQL}, t -> md5(t)) AS hashes
  FROM corpus
),
sig AS (
  SELECT doc_id,
         CAST({half_expr(0)} AS BIGINT) AS sim_lo,
         CAST({half_expr(32)} AS BIGINT) AS sim_hi
  FROM d
),
buckets AS (
  {bucket_union}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sim_lo AS lo_a, a.sim_hi AS hi_a,
                  b.sim_lo AS lo_b, b.sim_hi AS hi_b
  FROM buckets a JOIN buckets b ON a.probe = b.probe AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= {_HAMMING_MAX}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup WITHOUT minhash: candidates from shared-shingle
# inverted index (explode + equi-join), then exact Jaccard.
#
# Document-frequency cut (VERDICT r1 #3): a shingle shared by M documents
# contributes M² rows to the candidate self-join, so one piece of
# boilerplate text quadratically dominates at scale. Shingles with corpus
# DF > _MAX_DF are dropped from the index BEFORE the self-join, bounding
# the per-shingle fan-out at _MAX_DF². Recall trade-off: a near-dup pair
# sharing ONLY ultra-common shingles is missed — acceptable, because a
# jaccard >= 0.6 pair shares most of its shingles, which for real
# documents include plenty of rare ones.
_MAX_DF = 20
_MIN_COMMON = 3


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # r14 (guide §2.3/§4.1): dictionary-encoded postings — the candidate
    # self-join equi-joins on dense 8-byte ids and the exact verify
    # intersects long arrays; identical output by injectivity (see
    # _encoded_shingle_postings). The old rare-shingle join IS the
    # encode join now (df rides along instead of being pre-filtered).
    corpus = _near_dup_corpus(spark, sf)
    docs = corpus.select("doc_id", _shingles(F.col("text")).alias("shingles"))
    inv_enc, doc_sids = _encoded_shingle_postings(docs)
    inv_rare = inv_enc.where(F.col("df") <= _MAX_DF).select("doc_id", "sid")
    cand = (
        inv_rare.alias("a")
        .join(inv_rare.alias("b"), "sid")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_rare_common"))
        .where(F.col("n_rare_common") >= _MIN_COMMON)
        .select("doc_a", "doc_b")
    )
    # verify with EXACT jaccard over the full (encoded) shingle sets —
    # the DF cut only gates candidate generation, not the statistic
    sh = doc_sids
    return (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sids", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sids", "sh_b"), "doc_b")
        .withColumn(
            # shared jaccard_col: |A ∪ B| = |A|+|B|-|A ∩ B| (r13) — the
            # id arrays are distinct per doc, so values identical
            "jaccard",
            jaccard_col("sh_a", "sh_b"),
        )
        .where(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b", "jaccard")
    )


NGRAM_SQL = f"""
WITH corpus AS ({_NEAR_DUP_CORPUS_SQL}),
docs AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM corpus
),
inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM docs
),
rare AS (
  SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= {_MAX_DF}
),
inv_rare AS (
  SELECT i.doc_id, i.shingle FROM inv i JOIN rare r ON i.shingle = r.shingle
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM inv_rare a JOIN inv_rare b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING count(*) >= {_MIN_COMMON}
)
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) AS jaccard
FROM cand
JOIN docs sa ON sa.doc_id = doc_a
JOIN docs sb ON sb.doc_id = doc_b
WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
      / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.6
"""


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup with blocking: corpus ∪ perturbed vectors,
# blocked on label (the quantization key) AND a 4×16-bit SRP band
# signature WITHIN each block (VERDICT r1 #6). Round 1 compared all pairs
# inside a label block — O(B²) at real block sizes. Composing the block
# key with the banded SRP signature from srp_lsh_q bounds expected
# candidates at ~B²/2^16 per band for random pairs while near-identical
# vectors (cosine >= 0.99) still share ≥1 of 4 bands with miss
# probability < 1e-5. Signatures come from one Arrow-batched numpy
# matmul; the candidate dedup shuffles id pairs only, vectors are
# re-attached after.
def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    from .srp_lsh_q import _BAND_BITS, _N_BANDS, srp_bands

    e = load(spark, sf, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", dbl.alias("vec"), "label")
    variant = e.select(
        (F.col("vec_id") + _VARIANT_OFFSET).alias("vec_id"),
        F.transform(
            dbl, lambda x, i: F.when(i == 0, x * 1.01).otherwise(x)
        ).alias("vec"),
        "label",
    )
    corpus = base.unionByName(variant)
    norm = F.sqrt(F.aggregate(F.col("vec"), F.lit(0.0), lambda a, x: a + x * x))
    sig = (
        corpus.withColumn("norm", norm)
        .withColumn("bands", srp_bands(_N_BANDS, _BAND_BITS)(F.col("vec")))
        .cache()
    )
    cand_ids = banded_pairs(
        sig,
        "vec_id",
        [F.col("bands")[k] for k in range(_N_BANDS)],
        ("vec_a", "vec_b"),
        keys=("label",),
    )
    lhs = sig.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"), F.col("norm").alias("na")
    )
    rhs = sig.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"), F.col("norm").alias("nb")
    )
    raw_cos = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / (F.col("na") * F.col("nb"))
    return (
        cand_ids.join(lhs, "vec_a")
        .join(rhs, "vec_b")
        .withColumn("_raw", raw_cos)
        .where(F.col("_raw") >= 0.99)
        .select("vec_a", "vec_b", "label", F.round(F.col("_raw"), 4).alias("cosine"))
    )


def _emb_dedup_sql() -> str:
    from .srp_lsh_q import _BAND_BITS, _N_BANDS, srp_band_sql_exprs

    band_cols = ",\n         ".join(srp_band_sql_exprs(_N_BANDS, _BAND_BITS))
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, label, {k} AS band_idx, band{k} AS band_val FROM sig"
        for k in range(_N_BANDS)
    )
    return f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label FROM embeddings
  UNION ALL
  SELECT vec_id + {_VARIANT_OFFSET},
         list_transform(CAST(embedding AS DOUBLE[]),
                        (x, i) -> CASE WHEN i = 1 THEN x * 1.01 ELSE x END),
         label
  FROM embeddings
),
sig AS (
  SELECT vec_id, vec, label,
         sqrt(list_sum(list_transform(vec, x -> x * x))) AS nrm,
         {band_cols}
  FROM corpus
),
buckets AS (
  {band_union}
),
cand_ids AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label
  FROM buckets a JOIN buckets b
    ON a.label = b.label AND a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, c.label,
       round(list_sum(list_transform(range(1, 65),
                                     i -> sa.vec[i] * sb.vec[i])) / (sa.nrm * sb.nrm), 4) AS cosine
FROM cand_ids c
JOIN sig sa ON c.vec_a = sa.vec_id
JOIN sig sb ON c.vec_b = sb.vec_id
WHERE list_sum(list_transform(range(1, 65), i -> sa.vec[i] * sb.vec[i])) / (sa.nrm * sb.nrm) >= 0.99
"""


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin-style candidate
# generation; Chaudhuri/Ganti/Kaushik SSJoin + Xiao et al. PPJoin).
# Unlike dedup_ngram_jaccard's DF-cut — a HEURISTIC that can miss a
# pair sharing only frequent shingles — prefix filtering is COMPLETE:
# order every document's shingles by global rarity (df asc, shingle)
# and index only its first |d| - ceil(tau*|d|) + 1 shingles; any pair
# with Jaccard >= tau must intersect in at least one indexed prefix
# token (if two sets shared none of either's prefix, their overlap is
# at most min of the suffix lengths = ceil(tau*|d|) - 1 < the
# tau-required overlap). test_dedup_prefix_complete proves the
# no-miss property against an all-pairs brute force.
#
# Scale shape: one df agg, one per-doc window (partitioned by doc_id —
# never global), a self-join over PREFIX tokens only (the rarest ~40%
# of each doc), then exact verify on the candidate pairs. Rare-first
# ordering makes prefix postings short on both sides of the join.
_PREFIX_TAU = 0.6


def dedup_jaccard_prefix(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    # r14 (guide §2.3/§2.6/§4.1, r13 verdict item 1): dictionary-encoded
    # postings — the rank window, prefix self-join and exact verify all
    # run over dense 8-byte ids instead of 3-gram strings. The global
    # rarity order is (df, sid) rather than (df, shingle): prefix
    # filtering is COMPLETE under ANY consistent total token order
    # (test_dedup_prefix_complete proves no-miss against brute force),
    # and the verify keeps only true >= tau pairs, so the OUTPUT is the
    # exact >= tau pair set either way — identical to the oracle's.
    corpus = _near_dup_corpus(spark, sf)
    docs = corpus.select(
        "doc_id", _shingles(F.col("text")).alias("shingles")
    )
    inv_enc, doc_sids = _encoded_shingle_postings(docs)
    ranked = inv_enc.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy("df", "sid")
        ),
    )
    # prefix length = n - ceil(tau*n) + 1, ceil in exact integer math
    prefix = (
        ranked.where(
            F.col("rn") <= F.col("n") - F.expr("(6 * n + 9) div 10") + 1
        )
        .select("doc_id", "sid")
        # r13 (guide §3.3): materialized — both sides of the candidate
        # self-join reference prefix; un-materialized, the rank window
        # runs once per side
        .localCheckpoint(eager=True)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "sid")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
        # r14 (guide §2.6, the er_fellegi_sunter pattern): the verify is
        # a CPU-bound per-pair set intersection over ~1.1M candidate
        # pairs at sf0.1, but the deduped pair frame is only a few MB so
        # AQE coalesced it to 8 tasks on a 32-core box; round-robin
        # width restores full parallelism for the verify stage
        .repartition(spark.sparkContext.defaultParallelism)
    )
    sh = doc_sids
    return (
        cand.join(
            sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "sids", "sh_a"
            ),
            "doc_a",
        )
        .join(
            sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "sids", "sh_b"
            ),
            "doc_b",
        )
        .withColumn(
            # shared jaccard_col: |A ∪ B| = |A|+|B|-|A ∩ B| (r13) — the
            # id arrays are distinct per doc, so values identical
            "jaccard",
            jaccard_col("sh_a", "sh_b"),
        )
        .where(F.col("jaccard") >= _PREFIX_TAU)
        .select("doc_a", "doc_b", "jaccard")
    )


PREFIX_JACCARD_SQL = f"""
WITH corpus AS ({_NEAR_DUP_CORPUS_SQL}),
docs AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM corpus
),
inv AS (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS shingle FROM docs
),
dft AS (
  SELECT shingle, count(*) AS df FROM inv GROUP BY shingle
),
ranked AS (
  SELECT i.doc_id, i.n, i.shingle,
         row_number() OVER (PARTITION BY i.doc_id
                            ORDER BY d.df, i.shingle) AS rn
  FROM inv i JOIN dft d USING (shingle)
),
prefix AS (
  SELECT doc_id, shingle FROM ranked
  WHERE rn <= n - ((6 * n + 9) // 10) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.shingle = b.shingle
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) AS jaccard
FROM cand
JOIN docs sa ON sa.doc_id = doc_a
JOIN docs sb ON sb.doc_id = doc_b
WHERE round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
      / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) >= {_PREFIX_TAU}
"""


# ---------------------------------------------------------------------------
# LSH band-parameter sweep — the tuning curve a data team reads before
# fixing (b, r): for every banding of the SAME K=12 minhashes, how many
# candidate pairs the buckets emit, how many survive the exact-Jaccard
# verify, the resulting precision, recall relative to the sweep's union
# of verified pairs (every verified set is a subset of the true >= tau
# pairs, so the union is the tightest available exact reference without
# an all-pairs pass), and the textbook S-curve detection probability
# 1-(1-t^r)^b at t = threshold for comparison. More bands/shorter rows
# -> more candidates, lower precision, higher recall — the knob this
# query quantifies on the actual corpus instead of the idealised curve.
#
# 100 TB note: this is a measurement harness — at corpus scale you run
# it on a uniform doc_id SAMPLE (the curve is a property of the data
# distribution, not the row count), because the permissive r=1 config
# deliberately floods candidates (that is the data point it exists to
# record).
_SWEEP_CONFIGS = [(12, 1), (6, 2), (4, 3), (3, 4), (2, 6)]  # b * r = K


def dedup_minhash_bandsweep(spark: SparkSession, sf: str) -> DataFrame:
    sig = minhash_mh(_near_dup_corpus(spark, sf)).cache()
    entries = []
    for b, r in _SWEEP_CONFIGS:
        for j in range(b):
            entries.append(
                F.struct(
                    F.lit(b).alias("n_bands"),
                    F.lit(j).alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{j * r + i}").cast("string")
                                for i in range(r)
                            ],
                        )
                    ).alias("band_hash"),
                )
            )
    long = sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.n_bands", "e.band_idx", "e.band_hash")
    cand = (
        long.alias("a")
        .join(long.alias("b"), ["n_bands", "band_idx", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            "n_bands",
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ha = sig.select(F.col("doc_id").alias("doc_a"), F.col("hashes").alias("hs_a"))
    hb = sig.select(F.col("doc_id").alias("doc_b"), F.col("hashes").alias("hs_b"))
    verified = (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .where(jaccard_col("hs_a", "hs_b") >= _JACCARD_THRESHOLD)
        .select("n_bands", "doc_a", "doc_b")
    )
    union_n = verified.select("doc_a", "doc_b").distinct().agg(
        F.count("*").alias("n_union")
    )
    counts = (
        cand.groupBy("n_bands")
        .agg(F.count("*").alias("n_candidates"))
        .join(
            verified.groupBy("n_bands").agg(F.count("*").alias("n_verified")),
            "n_bands",
            "left",
        )
        .na.fill({"n_verified": 0})
        .crossJoin(F.broadcast(union_n))
    )
    # dsir_q cache discipline: pin the tiny per-config counts (one row
    # per banding), then drop the corpus-sized signature cache — the
    # sweep is the only consumer, so leaving `sig` pinned would hold a
    # K-minhash array per document in executor memory for the rest of
    # the session.
    counts = counts.cache()
    counts.count()
    sig.unpersist()
    theo = spark.createDataFrame(
        [
            (
                b,
                r,
                round(1 - (1 - _JACCARD_THRESHOLD**r) ** b, 4),
            )
            for b, r in _SWEEP_CONFIGS
        ],
        "n_bands int, n_rows int, theo_p_at_tau double",
    )
    return (
        theo.join(counts, "n_bands", "left")
        .na.fill({"n_candidates": 0, "n_verified": 0})
        .select(
            "n_bands",
            "n_rows",
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_verified").cast("long").alias("n_verified"),
            # integer half-step at 4dp (house convention for ratio ties)
            F.when(
                F.col("n_candidates") > 0,
                F.expr(
                    "(n_verified * 20000 + n_candidates)"
                    " div (n_candidates * 2) / CAST(10000 AS DOUBLE)"
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("precision"),
            F.when(
                F.col("n_union") > 0,
                F.expr(
                    "(n_verified * 20000 + n_union)"
                    " div (n_union * 2) / CAST(10000 AS DOUBLE)"
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("rel_recall"),
            "theo_p_at_tau",
        )
        .orderBy(F.col("n_bands").desc())
    )


def _bandsweep_sql() -> str:
    mh_cols = ",\n         ".join(
        f"list_min(list_transform(hs, h -> (h * {_A[s]} + {_B[s]}) % {_M})) AS mh{s}"
        for s in range(_K)
    )
    band_union = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS n_bands, {j} AS band_idx, md5("
        + " || '|' || ".join(
            f"CAST(mh{j * r + i} AS VARCHAR)" for i in range(r)
        )
        + ") AS band_hash FROM mh"
        for b, r in _SWEEP_CONFIGS
        for j in range(b)
    )
    theo_vals = ", ".join(
        f"({b}, {r}, {round(1 - (1 - _JACCARD_THRESHOLD**r) ** b, 4)})"
        for b, r in _SWEEP_CONFIGS
    )
    return f"""
WITH corpus AS ({_NEAR_DUP_CORPUS_SQL}),
docs AS (
  SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM corpus
),
hashed AS (
  SELECT doc_id,
         list_distinct(list_transform(shingles,
                        sh -> CAST('0x' || substring(md5(sh), 1, 15) AS BIGINT) % {_M})) AS hs
  FROM docs
),
mh AS (
  SELECT doc_id, hs,
         {mh_cols}
  FROM hashed
),
bands_long AS (
  {band_union}
),
cand AS (
  SELECT DISTINCT a.n_bands, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_long a JOIN bands_long b
    ON a.n_bands = b.n_bands AND a.band_idx = b.band_idx
   AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
),
verified AS (
  SELECT c.n_bands, c.doc_a, c.doc_b
  FROM cand c
  JOIN mh sa ON sa.doc_id = c.doc_a
  JOIN mh sb ON sb.doc_id = c.doc_b
  WHERE round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.hs, sb.hs))), 4)
        >= {_JACCARD_THRESHOLD}
),
un AS (
  SELECT CAST(count(*) AS BIGINT) AS n_union
  FROM (SELECT DISTINCT doc_a, doc_b FROM verified)
),
counts AS (
  SELECT c.n_bands,
         CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(coalesce(max(v.n_verified), 0) AS BIGINT) AS n_verified
  FROM cand c
  LEFT JOIN (SELECT n_bands, count(*) AS n_verified FROM verified
             GROUP BY n_bands) v ON v.n_bands = c.n_bands
  GROUP BY c.n_bands
),
theo(n_bands, n_rows, theo_p_at_tau) AS (VALUES {theo_vals})
SELECT t.n_bands, t.n_rows,
       CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(c.n_verified, 0) AS BIGINT) AS n_verified,
       CASE WHEN coalesce(c.n_candidates, 0) > 0
            THEN (c.n_verified * 20000 + c.n_candidates)
                 // (c.n_candidates * 2) / 10000.0
            ELSE 0.0 END AS precision,
       CASE WHEN u.n_union > 0
            THEN (coalesce(c.n_verified, 0) * 20000 + u.n_union)
                 // (u.n_union * 2) / 10000.0
            ELSE 0.0 END AS rel_recall,
       CAST(t.theo_p_at_tau AS DOUBLE) AS theo_p_at_tau
FROM theo t
LEFT JOIN counts c ON c.n_bands = t.n_bands
CROSS JOIN un u
ORDER BY t.n_bands DESC
"""


QUERIES = {
    "dedup_exact": QuerySpec(dedup_exact, DEDUP_EXACT_SQL),
    "dedup_minhash_bandsweep": QuerySpec(
        dedup_minhash_bandsweep, _bandsweep_sql()
    ),
    "dedup_minhash_lsh": QuerySpec(dedup_minhash_lsh, _minhash_sql()),
    "dedup_minhash_est_error": QuerySpec(dedup_minhash_est_error, _est_error_sql()),
    "dedup_simhash": QuerySpec(dedup_simhash, _simhash_sql()),
    "dedup_ngram_jaccard": QuerySpec(dedup_ngram_jaccard, NGRAM_SQL),
    "dedup_embedding_cosine": QuerySpec(dedup_embedding_cosine, _emb_dedup_sql()),
    "dedup_jaccard_prefix": QuerySpec(dedup_jaccard_prefix, PREFIX_JACCARD_SQL),
}
