"""Bit-identity lock for the r13 Arrow rewrite of the RRF dense side.

_dense_scores_arrow (numpy dot/norm folds + parquet-read query panel)
must produce EXACTLY the rows of the expression form dense_scores +
query_vecs (same query set, same cosine_r at 6dp, self-matches
excluded).
"""

from __future__ import annotations

import pytest

from composable_logs_spark.queries import load
from composable_logs_spark.queries.rrf_q import (
    _dense_scores_arrow,
    dense_scores,
    query_vecs,
    to_vecs,
)


def _rows(df):
    return sorted(
        (r["query_id"], r["doc_id"], r["cosine_r"]) for r in df.collect()
    )


def test_arrow_dense_scores_bit_identical(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    vecs = to_vecs(emb)
    want = _rows(dense_scores(vecs, query_vecs(vecs)))
    got = _rows(_dense_scores_arrow(emb, f"{sf_dir}/embeddings.parquet"))
    assert got == want and len(got) > 0


def test_nested_embeddings_directory_raises(spark, tmp_path):
    emb_dir = tmp_path / "embeddings"
    spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [2.0, 1.0])], "vec_id long, embedding array<float>"
    ).write.parquet(str(emb_dir / "part=0"))
    emb = spark.read.parquet(str(emb_dir))
    with pytest.raises(ValueError, match="part=0"):
        _dense_scores_arrow(emb, str(emb_dir))
