"""Corpus-wide line dedup: ``corpus_q.corpus_line_dedup`` strips the
boilerplate lines planted around variant documents."""


def test_corpus_line_dedup_strips_planted_boilerplate(spark, sf_dir):
    """Variant docs are original text wrapped in a subscribe header +
    copyright footer; corpus-wide line dedup must strip exactly those
    lines, reassembling the original text byte-for-byte."""
    from pyspark.sql import functions as F

    from composable_logs_spark.queries import load
    from composable_logs_spark.queries.corpus_q import (
        _VARIANT_OFFSET,
        corpus_line_dedup,
    )

    out = corpus_line_dedup(spark, sf_dir)
    originals = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    variants = {
        r["doc_id"] - _VARIANT_OFFSET: r
        for r in out.where(F.col("doc_id") >= _VARIANT_OFFSET).collect()
    }
    assert set(variants) == set(originals)
    for doc_id, row in variants.items():
        assert row["n_dropped"] >= 2  # header + footer gone
        # surviving lines == the original text, order preserved
        assert row["cleaned_text"] == originals[doc_id]
    # original docs contain no corpus-wide boilerplate -> nothing dropped
    orig_rows = out.where(F.col("doc_id") < _VARIANT_OFFSET).collect()
    assert len(orig_rows) == len(originals)
    assert all(r["n_dropped"] == 0 for r in orig_rows)
