"""Banded LSH candidates: the filter step of the filter-then-verify
near-dup queries that self-join one signature frame.

A signature is cut into bands; two rows are candidates when they hold
the same value in the same band. ``banded_pairs`` turns that into one
equi-join: explode each row into one (band, bucket) row per band,
self-join on (keys, band, bucket), keep ``a < b`` and ``distinct`` the
pairs (a pair that shares several bands comes back once). No
CartesianProduct: the join fans out only inside a bucket, so the band
width is the scale lever (~N^2 / 2^band_bits raw rows per band for
random signatures).

The caller verifies the candidates: ``hamming`` for bit signatures, or
its own join back to wider state (Jaccard over hash sets, cosine over
vectors) when carrying that state through the ``distinct`` would
shuffle too much.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BAND = "_band"
BUCKET = "_bucket"


def band_rows(
    sig: DataFrame,
    id_col: str,
    bands: Sequence[Column],
    carry: Sequence[str] = (),
    keys: Sequence[str] = (),
) -> DataFrame:
    """(id, *keys, *carry, _band, _bucket): one row per band of each
    signature row, ``_band`` the band's position in ``bands`` and
    ``_bucket`` its value."""
    cols = [id_col, *keys, *carry]
    return sig.select(
        *cols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias(BAND), band.alias(BUCKET))
                    for i, band in enumerate(bands)
                ]
            )
        ).alias("_bk"),
    ).select(*cols, f"_bk.{BAND}", f"_bk.{BUCKET}")


def banded_pairs(
    sig: DataFrame,
    id_col: str,
    bands: Sequence[Column],
    out: tuple[str, str],
    carry: Sequence[str] = (),
    keys: Sequence[str] = (),
) -> DataFrame:
    """Distinct pairs ``out[0] < out[1]`` of ``id_col`` values that hold
    the same value in the same band and are equal on every ``keys``
    column: (out[0], out[1], *keys, *{c}_a, *{c}_b for c in carry).

    A null band value or key matches nothing. Each ``carry`` column
    comes back from both sides; it goes through the ``distinct``, so
    carry only narrow per-row state (signature words)."""
    rows = band_rows(sig, id_col, bands, carry, keys)
    a, b = out
    return (
        rows.alias("a")
        .join(rows.alias("b"), [*keys, BAND, BUCKET])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias(a),
            F.col(f"b.{id_col}").alias(b),
            *keys,
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
        .distinct()
    )


def hamming(words: Sequence[str]) -> Column:
    """Bit distance between the ``{w}_a`` and ``{w}_b`` columns of every
    signature word ``w``, as an int."""
    return reduce(
        operator.add,
        [F.bit_count(F.col(f"{w}_a").bitwiseXOR(F.col(f"{w}_b"))) for w in words],
    ).cast("int")
