"""``operators/lsh.py`` against a brute-force loop on a hand-built
signature frame: every pair of rows, kept when some band holds the same
non-null value on both sides and the keys agree."""

from itertools import combinations

from pyspark.sql import functions as F

from composable_logs_spark.operators.lsh import banded_pairs, hamming

# (id, label, band0, band1, band2, w): rows listed out of id order
ROWS = [
    (5, "x", 30, 31, None, 0b1010),
    (1, "x", 10, 11, 12, 0b0001),
    (2, "x", 10, 11, 99, 0b0111),  # shares bands 0 and 1 with id 1
    (3, "x", 40, 31, 41, 0b1111),  # shares band 1 with id 5 (5 listed first)
    (6, "y", 10, 50, 51, 0b0000),  # band 0 like ids 1 and 2, other label
    (7, "y", 60, 61, None, 0b1100),
    (8, "y", 70, 71, None, 0b0011),  # null band 2 like id 7: no pair
    (9, "y", None, 61, 90, 0b1000),  # null band 0; band 1 like id 7
]
N_BANDS = 3


def _frame(spark):
    return spark.createDataFrame(
        ROWS, "id long, label string, b0 long, b1 long, b2 long, w long"
    )


def _brute(keyed: bool):
    out = set()
    for r, s in combinations(sorted(ROWS), 2):
        shared = any(
            r[2 + k] is not None and r[2 + k] == s[2 + k] for k in range(N_BANDS)
        )
        if shared and (not keyed or r[1] == s[1]):
            out.add((r[0], s[0], *((r[1],) if keyed else ()), r[5], s[5]))
    return out


def _pairs(spark, keys):
    df = banded_pairs(
        _frame(spark),
        "id",
        [F.col(f"b{k}") for k in range(N_BANDS)],
        ("id_a", "id_b"),
        carry=("w",),
        keys=keys,
    )
    return df.columns, [tuple(r) for r in df.collect()]


def test_banded_pairs_matches_brute_force(spark):
    cols, rows = _pairs(spark, ())
    assert cols == ["id_a", "id_b", "w_a", "w_b"]
    assert len(rows) == len(set(rows))  # ids 1, 2 share two bands: once
    assert set(rows) == _brute(keyed=False)
    assert all(a < b for a, b, *_ in rows)
    assert (3, 5, 0b1111, 0b1010) in rows  # carry comes from its own side
    assert (1, 6, 0b0001, 0b0000) in rows
    assert not any({a, b} == {7, 8} for a, b, *_ in rows)  # null band 2


def test_banded_pairs_keys_keep_groups_apart(spark):
    cols, rows = _pairs(spark, ("label",))
    assert cols == ["id_a", "id_b", "label", "w_a", "w_b"]
    assert len(rows) == len(set(rows))
    assert set(rows) == _brute(keyed=True)
    assert not any(6 in (a, b) for a, b, *_ in rows)  # id 6 is alone in "y"
    assert (7, 9, "y", 0b1100, 0b1000) in rows


def test_hamming_counts_bits_over_all_words(spark):
    df = spark.createDataFrame(
        [(0b1011, 0, 0b0001, -1)], "lo_a long, hi_a long, lo_b long, hi_b long"
    )
    assert df.select(hamming(("lo", "hi")).alias("h")).first()["h"] == 2 + 64
