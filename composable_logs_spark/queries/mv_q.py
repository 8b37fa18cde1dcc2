"""Incremental materialized-view maintenance, proven correct by
construction: the query computes the MV the INCREMENTAL way (partial
aggregates of a frozen base segment merged with partial aggregates of a
delta segment), while the oracle computes the same view with one flat
aggregation over all rows — the gate's hash equality IS the proof that
the merge algebra is lossless.

A 100 TB deployment never re-aggregates history, it folds deltas into
partial-agg state. The partial state here is (count, exact integer
micro-unit sum) per key — both mergeable by `+` — and every derived
column (avg, money-rounded sum) is computed only AFTER the merge, from
the merged state; computing them per-segment would be the classic
non-mergeable-aggregate bug this operator exists to avoid.

The full-outer merge join runs on the MV's key space (|keys|, not
|rows|), and both segment aggregations are map-side-combinable hash
aggs over a partition-pruned scan (the `ts` predicate reaches the
parquet reader).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load
from .relational import _money2, _money2_sql

_CUTOFF = "2024-01-20 00:00:00"


def _segment(d: DataFrame) -> DataFrame:
    """Mergeable partial-agg state per (event_type, day)."""
    return d.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.count("*").alias("cnt"),
        # exact integer micro-units: summing doubles would make the
        # merged total depend on addition order across segments
        F.sum(F.expr("CAST(round(value * 1000000, 0) AS BIGINT)")).alias(
            "sum_micro"
        ),
    )


def merge_partials(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold two mergeable (cnt, sum_micro) states — the `+` of the MV
    monoid: base + delta; runs on the KEY space."""
    return (
        base.alias("b")
        .join(delta.alias("d"), ["event_type", "day"], "full_outer")
        .select(
            "event_type",
            "day",
            (
                F.coalesce(F.col("b.cnt"), F.lit(0))
                + F.coalesce(F.col("d.cnt"), F.lit(0))
            ).alias("cnt"),
            (
                F.coalesce(F.col("b.sum_micro"), F.lit(0))
                + F.coalesce(F.col("d.sum_micro"), F.lit(0))
            ).alias("sum_micro"),
        )
    )


def mv_incremental_merge(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    base = _segment(ev.where(F.col("ts") < _CUTOFF))
    delta = _segment(ev.where(F.col("ts") >= _CUTOFF))
    merged = merge_partials(base, delta).select(
        "event_type",
        "day",
        F.col("cnt").alias("n_events"),
        "sum_micro",
    )
    return finalize_mv(merged)


def finalize_mv(merged: DataFrame) -> DataFrame:
    """Derived columns (money-rounded sum, 4dp avg) computed only AFTER
    the merge, from (event_type, day, n_events, sum_micro) state —
    computing them per-segment would be the classic non-mergeable-
    aggregate bug this operator exists to avoid.

    avg at 4dp via the exact integer half-step: round(sm/n/1e6, 4)
    ties whenever sm*1e4/(n*1e6) = sm/(n*100) lands on .5 exactly —
    observed at sf0.001 (307030000/8/1e6 = 38.37875: Spark HALF_UP
    38.3788 vs DuckDB binary-double 38.3787). Folding the 4dp scale
    into the divisor keeps every intermediate within i64.
    NB: a bare 10000.0 literal parses as DECIMAL in Spark SQL and
    would turn the whole column decimal — cast explicitly."""
    avg4 = F.expr(
        "(CASE WHEN sum_micro < 0 THEN -1 ELSE 1 END)"
        " * ((abs(sum_micro) + n_events * 50) div (n_events * 100))"
        " / CAST(10000 AS DOUBLE)"
    )
    return merged.select(
        "event_type",
        "day",
        "n_events",
        _money2(F.col("sum_micro"), 1000000).alias("sum_value"),
        avg4.alias("avg_value"),
    ).orderBy("event_type", "day")


MV_SQL = f"""
SELECT event_type,
       CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       {_money2_sql("sum(CAST(round(value * 1000000, 0) AS BIGINT))", 1000000)}
         AS sum_value,
       (CASE WHEN sum(CAST(round(value * 1000000, 0) AS BIGINT)) < 0
             THEN -1 ELSE 1 END)
       * ((abs(sum(CAST(round(value * 1000000, 0) AS BIGINT)))
           + count(*) * 50) // (count(*) * 100)) / 10000.0 AS avg_value
FROM events
GROUP BY 1, 2
ORDER BY event_type, day
"""


QUERIES = {
    "mv_incremental_merge": QuerySpec(mv_incremental_merge, MV_SQL),
}
