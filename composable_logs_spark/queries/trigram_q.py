"""Trigram stupid-backoff language model (Brants et al. 2007) — the
next fidelity rung on the n-gram ladder above ``text_bigram_logprob``'s
add-1 bigram: score HELD-OUT documents under a model trained on the
REST of the corpus, backing off trigram -> bigram -> add-1 unigram
with the canonical 0.4 penalty per backoff step. This is the KenLM-
shaped quality scorer of a CCNet-style pipeline in its honest form:
unlike the self-trained bigram (where every scored n-gram was seen by
construction), the train/held-out split makes the backoff path REAL —
fluent held-out prose rides the trigram/bigram rungs, gibberish falls
through to the discounted unigram floor (property-tested on planted
prose in tests/test_trigram_lm.py).

Split: train = doc_id % 10 != 0 (90%), scored = doc_id % 10 == 0 —
deterministic, engine-agnostic, no RNG.

Score per held-out trigram (w1 w2 w3), alpha = 0.4:
  seen trigram:            ln(c(w1 w2 w3) / c(w1 w2))
  else seen bigram w2 w3:  ln(0.4 * c(w2 w3) / c(w2))
  else (unigram floor):    ln(0.16 * (c(w3) + 1) / (N + V))   [add-1: OOV-safe]
rounded per trigram to integer micro-nats (the text_ops discipline),
summed exactly; only the final per-doc average divides floats.

Scale shape — the bigram LM's plan with one more rung: three map-side-
combinable hash aggs build the count tables (trigram/bigram/unigram
types); the scored stream (10% of the corpus) takes three equi-joins
against them, each on the n-gram key. Nothing is broadcast except the
2-scalar (N, V) row: n-gram type tables are vocab-scale and treated as
non-broadcastable, exactly like bm25_q's postings. No window, no sort,
no doc-grain driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load

_ALPHA = 0.4
_ALPHA2 = 0.16  # one literal on both engines: NOT 0.4*0.4 (ulp drift)
_HOLDOUT_MOD = 10


def _with_arr(d: DataFrame) -> DataFrame:
    """Ensure the (doc_id, arr) tokenized form: frames already carrying
    an `arr` column pass through untouched, so a caller can hand the
    SAME cached tokenization to the trigram/bigram/unigram builders AND
    the scoring stream (the CCNet recipe's stage 3 previously re-split
    the cut text four times — train tri/bi/uni plus the scored
    stream)."""
    if "arr" in d.columns:
        return d
    return d.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("arr")
    )


def _ngrams(d: DataFrame, n: int, *names: str) -> DataFrame:
    """(doc_id, w1..wn) stream of adjacent n-grams per doc."""
    toks = _with_arr(d)
    fields = ", ".join(
        f"element_at(arr, i + {k}) AS {names[k]}" for k in range(n)
    )
    return (
        toks.where(F.size("arr") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform(sequence(1, size(arr) - {n - 1}), i -> struct({fields}))")
            ).alias("g"),
        )
        .select("doc_id", *[f"g.{nm}" for nm in names])
    )


def trigram_model(train: DataFrame) -> dict[str, DataFrame]:
    """The stupid-backoff count tables from a (doc_id, text) frame (or
    a pre-tokenized (doc_id, arr) frame — see ``_with_arr``):
    tri_s (w1 w2 w3, c3, cb12), bi_s (w2 w3, cb23, c2), uni (w, c1) and
    the 1-row nv (n_toks, v). Returned as plain frames so a caller can
    persist them and score later batches against them."""
    tri = _ngrams(train, 3, "w1", "w2", "w3")
    bi = _ngrams(train, 2, "a", "b")
    # drop zero-length tokens: split of an empty/whitespace-only doc
    # yields [''], which would otherwise enter the unigram table as a
    # phantom '' type and inflate N and V in the add-1 floor
    # denominator (round-10 ADVICE). Bigram/trigram streams need no
    # filter: the [''] array has size 1 and fails the size>=n guard.
    uni = (
        _with_arr(train)
        .select(F.explode("arr").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    nv = uni.agg(
        F.sum("c1").alias("n_toks"), F.count("*").alias("v")
    )
    bic = bi.groupBy("a", "b").agg(F.count("*").alias("cb"))
    # trigram rung carries its own denominator c(w1 w2): a trigram seen
    # in train implies its prefix bigram was seen, so this join is total
    tri_s = (
        tri.groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c3"))
        .join(
            bic.select(F.col("a").alias("w1"), F.col("b").alias("w2"), "cb"),
            ["w1", "w2"],
        )
        .select("w1", "w2", "w3", "c3", F.col("cb").alias("cb12"))
    )
    # bigram rung (w2 w3) with ITS denominator c(w2)
    bi_s = bic.join(uni.select(F.col("w").alias("a"), "c1"), "a").select(
        F.col("a").alias("w2"),
        F.col("b").alias("w3"),
        F.col("cb").alias("cb23"),
        F.col("c1").alias("c2"),
    )
    return {"tri_s": tri_s, "bi_s": bi_s, "uni": uni, "nv": nv}


def score_with_model(scored: DataFrame, model: dict[str, DataFrame]) -> DataFrame:
    """(doc_id, n_trigrams, lp_sum_micro) for every ``scored`` doc with
    >= 3 tokens under a prebuilt ``trigram_model`` — three equi-joins
    against the count tables plus the broadcast (N, V) row; used
    verbatim by both the batch query and the streaming scorer so their
    micro-nats cannot drift."""
    h = _ngrams(scored, 3, "w1", "w2", "w3")
    joined = (
        h.join(model["tri_s"], ["w1", "w2", "w3"], "left")
        .join(model["bi_s"], ["w2", "w3"], "left")
        .join(
            model["uni"].select(
                F.col("w").alias("w3"), F.col("c1").alias("c1w3")
            ),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(model["nv"]))
    )
    lp = (
        F.when(F.col("c3").isNotNull(), F.log(F.col("c3") / F.col("cb12")))
        .when(
            F.col("cb23").isNotNull(),
            F.log(F.lit(_ALPHA) * F.col("cb23") / F.col("c2")),
        )
        .otherwise(
            F.log(
                F.lit(_ALPHA2)
                * (F.coalesce(F.col("c1w3"), F.lit(0)) + 1)
                / (F.col("n_toks") + F.col("v"))
            )
        )
    )
    return (
        joined.select("doc_id", F.round(lp * 1e6).cast("long").alias("lp_micro"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_trigrams"),
            F.sum("lp_micro").alias("lp_sum_micro"),
        )
    )


def trigram_doc_scores(train: DataFrame, scored: DataFrame) -> DataFrame:
    """Frame-based core: (doc_id, n_trigrams, lp_sum_micro) for every
    ``scored`` doc with >= 3 tokens, under the stupid-backoff model
    trained on ``train``. Both inputs are (doc_id, text) frames."""
    return score_with_model(scored, trigram_model(train))


def self_trained_doc_scores(arr: DataFrame) -> DataFrame:
    """``trigram_doc_scores(arr, arr)`` specialized to SELF-scoring —
    bit-identical output (tests/test_trigram_lm.py parity lock), much
    less work (r14, guide §1.2/§2.3):

    - every scored trigram occurs in the training corpus (it IS the
      training corpus), so c3 >= 1 always, the stupid-backoff CASE
      always takes the seen-trigram rung ln(c3/cb12), and the bigram/
      unigram rung tables (bi_s backoff counts, uni, the (N, V) row)
      are provably never read — they are not built;
    - the scored stream and the model's trigram stream are the same
      explode, so the corpus type counts are derived FROM the per-doc
      type counts (one explode instead of two);
    - the score join runs at the (doc, trigram-type) grain instead of
      the token grain: a type occurring m times in a doc contributes
      exactly m * round(ln(c3/cb12) * 1e6) — the same integers the
      per-token sum adds one at a time.

    The one remaining extra pass is the bigram explode: cb12 is the
    count of (w1, w2) over BIGRAM tokens, which the trigram stream
    cannot supply (each doc's final bigram starts no trigram)."""
    dt = (
        _ngrams(arr, 3, "w1", "w2", "w3")
        .groupBy("doc_id", "w1", "w2", "w3")
        .agg(F.count("*").alias("m"))
    )
    tric = dt.groupBy("w1", "w2", "w3").agg(F.sum("m").alias("c3"))
    bic = (
        _ngrams(arr, 2, "a", "b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("cb"))
        .select(F.col("a").alias("w1"), F.col("b").alias("w2"), F.col("cb").alias("cb12"))
    )
    # inner joins are total: (w1,w2,w3) in dt => in tric by derivation,
    # and every trigram's prefix bigram occurs in the bigram stream
    typed = tric.join(bic, ["w1", "w2"]).withColumn(
        "lp_micro",
        F.round(F.log(F.col("c3") / F.col("cb12")) * 1e6).cast("long"),
    )
    return (
        dt.join(typed, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("int").alias("n_trigrams"),
            F.sum(F.col("m") * F.col("lp_micro")).alias("lp_sum_micro"),
        )
    )


def trigram_avg_logprob(train: DataFrame, scored: DataFrame) -> DataFrame:
    """(doc_id, n_trigrams, avg_logprob) — the per-doc average form of
    ``trigram_doc_scores``, reusable verbatim as a pipeline stage (the
    CCNet recipe's quality-LM gate trains on its cut corpus and scores
    the same frame, the ``bigram_logprob`` discipline)."""
    return trigram_doc_scores(train, scored).select(
        "doc_id",
        "n_trigrams",
        F.round(F.col("lp_sum_micro") / (F.col("n_trigrams") * 1e6), 4).alias(
            "avg_logprob"
        ),
    )


def trigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").select("doc_id", "text")
    train = d.where(F.col("doc_id") % _HOLDOUT_MOD != 0)
    heldout = d.where(F.col("doc_id") % _HOLDOUT_MOD == 0)
    return trigram_avg_logprob(train, heldout)


def trigram_sql_over(train_rel: str, scored_rel: str) -> str:
    """DuckDB oracle for ``trigram_avg_logprob`` over arbitrary
    (doc_id, text) relations — parameterised so the CCNet recipe's
    oracle can run the exact same model over its cut corpus. The uni
    CTE filters zero-length tokens, mirroring the Spark side."""
    return f"""
SELECT doc_id,
       CAST(n_trigrams AS INT) AS n_trigrams,
       round(lp_sum_micro / (n_trigrams * 1000000.0), 4) AS avg_logprob
FROM ({trigram_sums_sql_over(train_rel, scored_rel)}) sums
"""


def trigram_sums_sql_over(train_rel: str, scored_rel: str) -> str:
    """DuckDB oracle for ``trigram_doc_scores``: (doc_id, n_trigrams,
    lp_sum_micro) — the exact-integer level, for consumers (the CCNet
    recipe's tercile floor) that derive score_micro = sum div n."""
    return f"""
WITH tr AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS arr
  FROM {train_rel}
),
ho AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS arr
  FROM {scored_rel}
),
tri AS (
  SELECT arr[x] AS w1, arr[x + 1] AS w2, arr[x + 2] AS w3,
         CAST(count(*) AS BIGINT) AS c3
  FROM tr, UNNEST(generate_series(1, len(arr) - 2)) AS u(x)
  WHERE len(arr) >= 3
  GROUP BY 1, 2, 3
),
bic AS (
  SELECT arr[x] AS a, arr[x + 1] AS b, CAST(count(*) AS BIGINT) AS cb
  FROM tr, UNNEST(generate_series(1, len(arr) - 1)) AS u(x)
  WHERE len(arr) >= 2
  GROUP BY 1, 2
),
uni AS (
  SELECT tok AS w, CAST(count(*) AS BIGINT) AS c1
  FROM (SELECT unnest(arr) AS tok FROM tr) WHERE len(tok) > 0 GROUP BY tok
),
nv AS (SELECT CAST(sum(c1) AS BIGINT) AS n_toks, count(*) AS v FROM uni),
tri_s AS (
  SELECT t.w1, t.w2, t.w3, t.c3, b.cb AS cb12
  FROM tri t JOIN bic b ON b.a = t.w1 AND b.b = t.w2
),
bi_s AS (
  SELECT b.a AS w2, b.b AS w3, b.cb AS cb23, u.c1 AS c2
  FROM bic b JOIN uni u ON u.w = b.a
),
h AS (
  SELECT doc_id, arr[x] AS w1, arr[x + 1] AS w2, arr[x + 2] AS w3
  FROM ho, UNNEST(generate_series(1, len(arr) - 2)) AS u(x)
  WHERE len(arr) >= 3
),
scored AS (
  SELECT h.doc_id,
         CAST(round(CASE
           WHEN t.c3 IS NOT NULL THEN ln(CAST(t.c3 AS DOUBLE) / t.cb12)
           WHEN b.cb23 IS NOT NULL THEN ln({_ALPHA} * b.cb23 / b.c2)
           ELSE ln({_ALPHA2} * (coalesce(u.c1, 0) + 1)
                   / CAST((SELECT n_toks FROM nv) + (SELECT v FROM nv) AS DOUBLE))
         END * 1000000, 0) AS BIGINT) AS lp_micro
  FROM h
  LEFT JOIN tri_s t ON t.w1 = h.w1 AND t.w2 = h.w2 AND t.w3 = h.w3
  LEFT JOIN bi_s b ON b.w2 = h.w2 AND b.w3 = h.w3
  LEFT JOIN uni u ON u.w = h.w3
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(lp_micro) AS BIGINT) AS lp_sum_micro
FROM scored
GROUP BY doc_id
"""


_TRIGRAM_SQL = trigram_sql_over(
    f"(SELECT doc_id, text FROM documents WHERE doc_id % {_HOLDOUT_MOD} != 0)",
    f"(SELECT doc_id, text FROM documents WHERE doc_id % {_HOLDOUT_MOD} = 0)",
)


QUERIES = {
    "trigram_logprob": QuerySpec(trigram_logprob, _TRIGRAM_SQL),
}
