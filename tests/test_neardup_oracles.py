"""The band-then-verify near-dup queries against their DuckDB oracles.

Each query runs on Spark and its ``oracle_sql()`` on DuckDB at the test
fixture's scale; the two row multisets must match under
``tools/check_correctness.py``'s own canonicalisation, and the result
must not be empty (an empty pair set would pass against an equally
empty oracle while proving nothing about the candidate join).
"""

import importlib.util
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as E

_TOOL = Path(__file__).resolve().parent.parent / "tools" / "check_correctness.py"
_spec = importlib.util.spec_from_file_location("check_correctness", _TOOL)
check_correctness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_correctness)

NEAR_DUP_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_minhash_est_error",
    "dedup_simhash",
    "media_phash_neardup",
    "media_dhash_neardup",
    "media_phash_neardup_wide",
    "media_audio_neardup",
    "media_keyframe_spatial_neardup",
]


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in check_correctness.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", NEAR_DUP_QUERIES)
def test_neardup_query_matches_oracle(spark, sf_dir, oracle_con, name):
    sdf = E.queries()[name](spark, sf_dir)
    s_ms, s_cols = check_correctness.rows_to_multiset(sdf.columns, sdf.collect())
    res = oracle_con.execute(E.oracle_sql()[name])
    o_ms, o_cols = check_correctness.rows_to_multiset(
        [d[0] for d in res.description], res.fetchall()
    )
    assert s_cols == o_cols
    assert sum(s_ms.values()) > 0
    assert s_ms == o_ms
