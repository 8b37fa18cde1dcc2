"""SRP sign-test knife-edge (round-11 remedy): plane dots are
quantized HALF-AWAY to integer micro-units on BOTH engines before the
sign test, so band bits no longer depend on float summation order.
Plants vectors whose plane dots land exactly on / within an ulp of the
old ``> 0`` knife edge and pins Spark UDF == DuckDB SQL == numpy."""

import duckdb
import numpy as np

from composable_logs_spark.queries.srp_lsh_q import (
    _BAND_BITS,
    _DIM,
    _N_BANDS,
    _PLANES,
    _PLANES_NP,
    _quantized_positive,
    srp_band_sql_exprs,
    srp_bands,
)


def _planted_vectors():
    rng = np.random.default_rng(20260815)
    vecs = []
    # (a) all-tiny vector: every plane dot is ±(sum of ±1e-9 terms),
    # |dot| <= 64e-9 << 0.5e-6 -> the ENTIRE dead zone, all bits 0.
    # Under the old raw sign test roughly half these bits were 1 and
    # each sat an ulp from flipping.
    vecs.append(np.full(_DIM, 1e-9))
    # (b) exact-zero dot for plane 0: two equal components on dims
    # where plane 0 has opposite signs cancel exactly in ANY order
    p0 = _PLANES[0]
    d_pos = next(d for d in range(_DIM) if p0[d] == 1)
    d_neg = next(d for d in range(_DIM) if p0[d] == -1)
    v = np.zeros(_DIM)
    v[d_pos] = v[d_neg] = 0.7
    assert float(v @ _PLANES_NP[0]) == 0.0
    vecs.append(v)
    # (c) a dot an ulp either side of zero: tiny asymmetric perturbation
    w = v.copy()
    w[d_pos] += 1e-13  # dot(plane0) = +1e-13, inside the dead zone
    vecs.append(w)
    # (d) ordinary random vectors: quantization must NOT disturb them
    for _ in range(5):
        vecs.append(rng.normal(size=_DIM))
    return vecs


def _duckdb_bands(vecs):
    con = duckdb.connect()
    con.execute("CREATE TABLE v(vec_id BIGINT, vec DOUBLE[])")
    for i, v in enumerate(vecs):
        con.execute("INSERT INTO v VALUES (?, ?)", [i, [float(x) for x in v]])
    cols = ",\n".join(srp_band_sql_exprs(_N_BANDS, _BAND_BITS))
    rows = con.execute(f"SELECT vec_id, {cols} FROM v ORDER BY vec_id").fetchall()
    return {r[0]: list(r[1:]) for r in rows}


def test_planted_knife_edge_dots_band_identically(spark):
    vecs = _planted_vectors()
    # numpy reference (the UDF's own helper, called directly)
    bits = _quantized_positive(np.stack(vecs) @ _PLANES_NP.T)
    weights = 1 << np.arange(64 // _N_BANDS, dtype=np.int64)
    np_bands = bits.reshape(len(vecs), _N_BANDS, -1) @ weights
    # dead-zone assertions on the plants
    assert list(np_bands[0]) == [0] * _N_BANDS  # (a): all bits 0
    assert not bits[1][0] and not bits[2][0]    # (b),(c): plane-0 bit 0
    # Spark pandas UDF
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id: long, vec: array<double>",
    )
    bands = srp_bands(_N_BANDS, _BAND_BITS)("vec").alias("bands")
    got_spark = {
        r["vec_id"]: list(r["bands"]) for r in df.select("vec_id", bands).collect()
    }
    # DuckDB band expressions
    got_duck = _duckdb_bands(vecs)
    for i in range(len(vecs)):
        assert got_spark[i] == got_duck[i] == list(int(b) for b in np_bands[i]), i
