"""The span closure operators: ``descendants`` on deep chains, multi-run
inputs and null/duplicate edge rows, plus ``bound_under`` and
``contains_path``. The pinned values were computed with the earlier
per-depth self-join closure, so they hold the walk to join semantics."""

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from composable_logs_spark.operators import bound_under, contains_path, span_edges
from composable_logs_spark.operators.closure import descendants
from composable_logs_spark.spanlog import fixtures as FX
from composable_logs_spark.spanlog.digest import multiset_digest

from conftest import spans_df

_EDGES = "run_id string, parent_span_id string, span_id string"


def _chain_edges(spark, n, run_id="0xr"):
    rows = [(run_id, f"n{i}", f"n{i+1}") for i in range(n)]
    return spark.createDataFrame(rows, _EDGES)


def _pairs(closure):
    cols = ("run_id", "ancestor_span_id", "span_id", "depth")
    return [tuple(r[c] for c in cols) for r in closure.collect()]


def _nulls_first(row):
    return tuple((v is not None, v) for v in row)


def test_deep_chain_all_pairs(spark):
    pairs = _pairs(descendants(_chain_edges(spark, 20), max_depth=25))
    assert len(pairs) == 20 * 21 // 2  # all ancestor pairs of a 21-node chain
    assert {(a, s, d) for _, a, s, d in pairs} == {
        (f"n{i}", f"n{j}", j - i) for i in range(21) for j in range(i + 1, 21)
    }


def test_multi_run_isolation(spark):
    # both runs use the same span ids; pairs never cross runs
    e1 = _chain_edges(spark, 3, "0xa")
    e2 = _chain_edges(spark, 3, "0xb")
    closure = descendants(e1.unionByName(e2))
    per_run = {
        r["run_id"]: r["n"]
        for r in closure.groupBy("run_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_run == {"0xa": 6, "0xb": 6}


def _edge_cases(spark):
    """A 21-node chain plus duplicated edge rows, a null-run_id run that
    reuses run 0xd's ids, and null parent/span ids."""
    rows = [("0xc", f"n{i}", f"n{i+1}") for i in range(20)] + [
        ("0xd", "a", "b"), ("0xd", "a", "b"), ("0xd", "b", "c"), ("0xd", "b", "c"),
        (None, "a", "b"), (None, "b", "c"),
        ("0xe", None, "p"), ("0xe", "p", "q"), ("0xe", "q", None), ("0xe", None, None),
    ]
    return spark.createDataFrame(rows, _EDGES)


# join semantics: edge-row multiplicity is kept and a null id never
# matches, so a null run_id row gives only its depth-1 pair, a null
# parent ends the walk and a null span_id still gets its ancestors
_EDGE_CASE_PAIRS = [
    (None, "a", "b", 1), (None, "b", "c", 1),
    ("0xd", "a", "b", 1), ("0xd", "a", "b", 1),
    ("0xd", "a", "c", 2), ("0xd", "a", "c", 2), ("0xd", "a", "c", 2), ("0xd", "a", "c", 2),
    ("0xd", "b", "c", 1), ("0xd", "b", "c", 1),
    ("0xe", None, None, 1), ("0xe", None, None, 3), ("0xe", None, "p", 1),
    ("0xe", None, "q", 2), ("0xe", "p", None, 2), ("0xe", "p", "q", 1),
    ("0xe", "q", None, 1),
]


@pytest.mark.parametrize("max_depth", [8, 25])
def test_edge_case_rows_pinned(spark, max_depth):
    chain = [
        ("0xc", f"n{i}", f"n{j}", j - i)
        for i in range(21) for j in range(i + 1, 21) if j - i <= max_depth
    ]
    got = sorted(_pairs(descendants(_edge_cases(spark), max_depth=max_depth)), key=_nulls_first)
    assert got == sorted(chain + _EDGE_CASE_PAIRS, key=_nulls_first)
    assert len(got) == {8: 149, 25: 227}[max_depth]


def test_fixture_mix_digest_pinned(spark):
    # every FX fixture as its own run: span ids collide across runs
    mix = [s for make in FX.ALL_FIXTURES.values() for s in make()]
    closure = descendants(span_edges(spans_df(spark, mix)))
    assert multiset_digest(closure) == (174, 93444183495088, 93454245209140)


def test_big_fixture_digest_pinned(spark, tmp_path):
    from composable_logs_spark.spanlog.biggen import generate_big_spanlog
    from composable_logs_spark.spanlog.sources import read_span_jsonl

    generate_big_spanlog(tmp_path, n_runs=8, tasks_per_run=120)
    closure = descendants(span_edges(read_span_jsonl(spark, str(tmp_path))))
    assert multiset_digest(closure) == (8940, 4848979344471636, 4847290845098530)


def test_validate_raises_on_a_path_deeper_than_max_depth(spark):
    with pytest.raises((ValueError, PythonException), match="max_depth=8"):
        descendants(_edge_cases(spark), max_depth=8, validate=True).collect()


def test_validate_names_the_run_and_allows_exactly_max_depth(spark):
    chain = _chain_edges(spark, 20)
    assert descendants(chain, max_depth=20, validate=True).count() == 210
    with pytest.raises(PythonException, match="run '0xr' .* deeper than max_depth=19"):
        descendants(chain, max_depth=19, validate=True).collect()


def test_persistent_rdds_stay_flat(spark):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    counts = []
    for n in (3, 4, 5, 6):
        descendants(_chain_edges(spark, n, f"0x{n}")).count()
        counts.append(jsc.getPersistentRDDs().size())
    assert counts == [before] * 4


def _id(n: int) -> str:
    return f"0x{n:016x}"


@pytest.fixture(scope="module")
def two_compose3(spark):
    # compose3 twice: the same span ids in runs 0 and 1. Span 2 is task
    # input_1 (dag-top 1 -> 2 -> timeout-guard 3 -> call-python-function 4);
    # span 5 is its sibling task input_2.
    spans = spans_df(spark, FX.compose3(0) + FX.compose3(1))
    return spans, descendants(span_edges(spans))


@pytest.mark.parametrize(
    "run_idx, inclusive, want",
    [
        (0, True, [
            (0, 2, "execute-task"), (0, 3, "timeout-guard"), (0, 4, "call-python-function"),
        ]),
        (0, False, [(0, 3, "timeout-guard"), (0, 4, "call-python-function")]),
        (None, True, [
            (0, 2, "execute-task"), (0, 3, "timeout-guard"), (0, 4, "call-python-function"),
            (1, 2, "execute-task"), (1, 3, "timeout-guard"), (1, 4, "call-python-function"),
        ]),
        (None, False, [
            (0, 3, "timeout-guard"), (0, 4, "call-python-function"),
            (1, 3, "timeout-guard"), (1, 4, "call-python-function"),
        ]),
    ],
)
def test_bound_under(two_compose3, run_idx, inclusive, want):
    spans, closure = two_compose3
    run_id = None if run_idx is None else f"0x{run_idx:032x}"
    got = bound_under(spans, closure, _id(2), run_id=run_id, inclusive=inclusive)
    assert sorted(
        (int(r["context"]["trace_id"], 16), int(r["context"]["span_id"], 16), r["name"])
        for r in got.collect()
    ) == want


def test_contains_path(two_compose3):
    _, closure = two_compose3
    run0 = f"0x{0:032x}"
    assert contains_path(closure, run0, _id(1), _id(2), _id(4))  # intermediates allowed
    assert not contains_path(closure, run0, _id(2), _id(5))  # siblings
    assert not contains_path(closure, run0, _id(4), _id(2))  # wrong order
    assert not contains_path(closure, "0xabsent", _id(1), _id(2))  # another run
    assert contains_path(closure, run0, _id(4))  # fewer than 2 ids
    assert contains_path(closure, run0)
