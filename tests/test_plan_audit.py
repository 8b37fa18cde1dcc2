"""Physical-plan audits over the whole query surface.

Correctness is gated by the DuckDB oracle; these tests gate the PLAN —
the properties that decide whether a query survives a 100x scale-up:

- no accidental cartesian product anywhere on the surface,
- dimension joins actually broadcast (TPC-H shapes),
- filters reach the parquet scan (pushdown),
- unreferenced columns never leave the scan (pruning).
"""

import re

import pytest

from composable_logs_spark.queries import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_cartesian_product_anywhere(spark, sf_dir):
    """Build every registered query at the test SF and reject any plan
    containing a CartesianProduct. Intentional tiny cross joins (e.g. the
    q22 scalar threshold) must go through BroadcastNestedLoopJoin with a
    broadcast hint, which this still allows."""
    offenders = []
    for name, spec in sorted(all_queries().items()):
        df = spec.fn(spark, sf_dir)
        if "CartesianProduct" in _plan(df):
            offenders.append(name)
    assert offenders == []


def _iter_logical_nodes(plan):
    stack = [plan]
    while stack:
        n = stack.pop()
        yield n
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


def test_no_partitionless_window_anywhere(spark, sf_dir):
    """A Window with an empty PARTITION BY funnels the whole input
    through ONE reducer's sort — the classic 100x scale-killer (this bit
    q10_returned_items, pack_sequences and vocab_coverage_topk before
    their round-6 rewrites). Inspects the optimized logical plan's
    Window nodes directly (the plan's toString truncates long lines, so
    string-matching is unreliable)."""
    offenders = []
    for name, spec in sorted(all_queries().items()):
        df = spec.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan()
        for n in _iter_logical_nodes(plan):
            if (
                n.getClass().getSimpleName() == "Window"
                and n.partitionSpec().isEmpty()
            ):
                offenders.append(name)
    assert offenders == []


@pytest.mark.parametrize("name", ["q3_shipping_priority", "q5_local_supplier_volume"])
def test_dimension_joins_broadcast(spark, sf_dir, name):
    df = all_queries()[name].fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # none of the dimension joins degenerated into a sort-merge join of
    # two full scans on the fact table's join key
    if name == "q5_local_supplier_volume":
        assert plan.count("BroadcastHashJoin") >= 3, plan


def test_filter_pushed_to_scan(spark, sf_dir):
    """q6's l_shipdate/l_quantity predicates must reach the parquet
    reader as PushedFilters, not run as a post-scan Filter only.

    Uses the formatted explain string: the plan-tree toString truncates
    long PushedFilters lists.
    """
    df = all_queries()["q6_forecast_revenue"].fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(
        "GreaterThanOrEqual(l_shipdate" in p and "LessThan(l_quantity" in p
        for p in pushed
    ), plan


@pytest.mark.parametrize(
    "name",
    [
        "text_token_stats",
        "text_quality_scores",
        "text_repetition",
        "text_c4_filters",
        "text_fingerprint",
        "pii_scrub_customers",
        "pii_scrub_documents",
        "media_frame_sample",
    ],
)
def test_narrow_maps_have_no_exchange(spark, sf_dir, name):
    """The per-row text/media operators claim zero shuffle in SCALE.md —
    hold them to it: no Exchange anywhere in the plan."""
    df = all_queries()[name].fn(spark, sf_dir)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    """q1 touches 7 lineitem columns; the wide string column l_comment
    must not appear in the scan's ReadSchema."""
    df = all_queries()["q1_pricing_summary"].fn(spark, sf_dir)
    plan = _plan(df)
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    assert schemas, plan
    assert all("l_comment" not in s for s in schemas), schemas


def test_all_queries_rejects_a_name_two_modules_define(monkeypatch):
    import composable_logs_spark.queries as Q

    names = list(all_queries())
    assert len(names) == len(set(names))
    monkeypatch.setattr(Q, "_QUERY_MODULES", Q._QUERY_MODULES + ("span_q",))
    with pytest.raises(ValueError, match=r"query 'spanlog_\w+' is defined in both span_q and span_q"):
        Q.all_queries()
