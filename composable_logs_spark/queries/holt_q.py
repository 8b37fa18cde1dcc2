"""Holt linear-trend exponential smoothing (Holt 1957) per event-type
daily series — the level+trend forecaster that complements the existing
time-series surface (forecast_linear_events fits ONE global OLS line;
seasonal/cusum/outlier queries detect, they don't forecast; Holt tracks
a drifting level with exponentially-discounted memory, the standard
capacity-planning smoother).

    lvl_t = α·y_t + (1-α)·(lvl_{t-1} + trd_{t-1})
    trd_t = β·(lvl_t - lvl_{t-1}) + (1-β)·trd_{t-1}

Cross-engine exactness, the interesting part: the recurrence is a
SEQUENTIAL fold, so both engines must consume identical inputs in
identical order with identical IEEE-754 ops.

- inputs: the daily series is summed in integer CENTS
  (``CAST(floor(value*100) AS BIGINT)`` — the explicit floor matters:
  DuckDB's double→BIGINT cast ROUNDS-to-nearest while Spark's
  truncates, a half-cent-per-row divergence the fold would compound),
  because a double SUM's addend order differs
  between Spark partial aggregation and DuckDB and the fold would
  propagate the difference into every later state. Integer sums are
  order-free.
- constants: α=0.5, β=0.25 are exact binary fractions.
- fold: Spark runs ``F.aggregate`` over the sort_array'd per-key
  series (JVM-side, no UDF); DuckDB runs the same recurrence as a
  recursive CTE stepping rn → rn+1. Same ops, same order → bitwise
  equal states; the 4dp round is pure belt-and-braces. Spark's lambda
  cannot name the intermediate lvl_t, so trd_t RECOMPUTES the lvl_t
  expression — bit-identical to computing it once.

100 TB shape: one hash-aggregate to days (the only corpus-sized step),
then one fold per key. Per-key state is 2 doubles; a series of D days
collects D rows per key — bounded by the calendar (36.5k rows per key
per century), not the corpus. Keys are independent → embarrassingly
parallel; no window over an unpartitioned frame anywhere.

Reference anchor: none (north-star scope, SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load

_ALPHA = "0.5"   # exact binary fractions, spelled identically both sides
_BETA = "0.25"
_H = 7  # forecast horizon, days


def holt_fold_expr(arr: str, init_lvl: str, init_trd: str) -> str:
    """The Holt recurrence as a JVM-side ``aggregate`` fold over an
    array of ``(day, y)`` structs (y in integer cents)."""
    lvl_t = (
        f"{_ALPHA} * (CAST(x.y AS DOUBLE) / 100.0)"
        f" + (1.0 - {_ALPHA}) * (acc.lvl + acc.trd)"
    )
    return f"""aggregate(
  {arr},
  named_struct('lvl', {init_lvl}, 'trd', {init_trd}),
  (acc, x) -> named_struct(
    'lvl', {lvl_t},
    'trd', {_BETA} * (({lvl_t}) - acc.lvl) + (1.0 - {_BETA}) * acc.trd),
  acc -> acc)"""


def ts_holt_linear(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    daily = (
        e.select(
            "event_type",
            F.to_date(F.date_trunc("day", "ts")).alias("day"),
            F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("y"))
    )
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("s"),
        F.count("*").alias("n_days"),
        F.max("day").alias("last_day"),
    )
    folded = series.select(
        "event_type",
        "n_days",
        "last_day",
        F.expr(
            holt_fold_expr(
                "slice(s, 2, size(s) - 1)",
                "CAST(s[0].y AS DOUBLE) / 100.0",
                "CAST(0.0 AS DOUBLE)",
            )
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        "last_day",
        F.round(F.col("st.lvl"), 4).alias("level_r"),
        F.round(F.col("st.trd"), 4).alias("trend_r"),
        F.round(F.col("st.lvl") + float(_H) * F.col("st.trd"), 4).alias(
            "forecast7_r"
        ),
    )


HOLT_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events
  GROUP BY 1, 2
),
ordered AS (
  SELECT event_type, day, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
bounds AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         max(day) AS last_day
  FROM ordered GROUP BY 1
),
fold AS (
  SELECT event_type, rn,
         CAST(y AS DOUBLE) / 100.0 AS lvl,
         CAST(0.0 AS DOUBLE) AS trd
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.rn,
         {_ALPHA} * (CAST(o.y AS DOUBLE) / 100.0)
           + (1.0 - {_ALPHA}) * (f.lvl + f.trd) AS lvl,
         {_BETA} * (({_ALPHA} * (CAST(o.y AS DOUBLE) / 100.0)
           + (1.0 - {_ALPHA}) * (f.lvl + f.trd)) - f.lvl)
           + (1.0 - {_BETA}) * f.trd AS trd
  FROM fold f
  JOIN ordered o ON o.event_type = f.event_type AND o.rn = f.rn + 1
)
SELECT b.event_type, b.n_days, b.last_day,
       round(f.lvl, 4) AS level_r,
       round(f.trd, 4) AS trend_r,
       round(f.lvl + {_H}.0 * f.trd, 4) AS forecast7_r
FROM fold f
JOIN bounds b ON b.event_type = f.event_type AND f.rn = b.n_days
"""


QUERIES = {
    "ts_holt_linear": QuerySpec(ts_holt_linear, HOLT_SQL),
}
