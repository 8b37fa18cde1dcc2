"""dedup_jaccard_prefix: prefix filtering must be COMPLETE — every pair
with Jaccard >= tau is found (the property the DF-cut heuristic in
dedup_ngram_jaccard does not guarantee). Verified against an all-pairs
brute force over the same planted near-dup corpus."""

from composable_logs_spark.queries.dedup_q import (
    _PREFIX_TAU,
    _encoded_shingle_postings,
    _near_dup_corpus,
    _shingles,
    dedup_jaccard_prefix,
)
from pyspark.sql import functions as F


def test_prefix_join_complete_vs_bruteforce(spark, sf_dir):
    corpus = _near_dup_corpus(spark, sf_dir)
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in corpus.select(
            "doc_id", _shingles(F.col("text")).alias("sh")
        ).collect()
    }
    ids = sorted(sets)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            union = len(sets[a] | sets[b])
            # HALF_UP at 4dp in exact rational arithmetic — Python's
            # round() is banker's and disagrees on ties like 29/32
            j = ((inter * 10000 * 2 + union) // (2 * union)) / 10000
            if j >= _PREFIX_TAU:
                expect[(a, b)] = j
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_jaccard_prefix(spark, sf_dir).collect()
    }
    # planted variants guarantee the result is non-trivial
    assert expect
    assert got == expect


def test_shingle_ids_do_not_depend_on_row_order(spark, sf_dir):
    """sid is a function of the shingle set: the same docs fed in
    reverse order over a different input partitioning get the same
    (doc_id, sid) rows, so a recomputed stage cannot reassign ids."""
    rows = _near_dup_corpus(spark, sf_dir).select(
        "doc_id", _shingles(F.col("text")).alias("shingles")
    ).collect()

    def encoded(rs, n_parts):
        docs = spark.createDataFrame(rs, "doc_id long, shingles array<string>")
        inv_enc, _ = _encoded_shingle_postings(docs.repartition(n_parts))
        return sorted(map(tuple, inv_enc.select("doc_id", "sid").collect()))

    assert encoded(rows, 1) == encoded(rows[::-1], 5)
