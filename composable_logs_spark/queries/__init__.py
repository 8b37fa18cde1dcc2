"""The engine's query surface, as (spark_fn, oracle_sql) pairs.

Each entry is one operator/query from SURVEY.md §2 (or a north-star
scale operator) expressed twice:

- a PySpark DataFrame program ``(spark, sf_dir) -> DataFrame``
- an equivalent ANSI-SQL string DuckDB can run over the same parquet
  views (or a VALUES-literal golden result for span-log queries whose
  fixtures are deterministic) — the driver hash-compares the two.

Column names and types are aligned on both sides; aggregates are rounded
(sums to 2dp, averages/ratios to 4dp) so double arithmetic-order
differences between engines can't flip the hash.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None => non-SQL-expressible, rows-only check


_SESSION_CONF_DONE: set[str] = set()


def _ensure_session_conf(spark: SparkSession) -> None:
    """Pin the two confs every query assumes — ONCE per session, never
    per call (r11 verdict: a per-call conf.set could silently change a
    concurrent TZ-sensitive query's semantics mid-flight).

    - UTC session timezone: events.ts becomes a session-TZ-sensitive
      TimestampType after the nanos conversion, and date_format output
      must match the TZ-naive oracle.
    - parquet nanosAsLong: TIMESTAMP(NANOS) columns are unreadable
      without the legacy flag; setting it up-front is free (it only
      affects nanos columns) and avoids a deliberately-failed probe job.

    Sessions built by ``session.get_spark`` already carry both, so this
    is a pure check for them; a FOREIGN session (the driver's harness
    builds its own) gets them set once at first use — the driver
    contract hands us the session, so asserting instead of setting
    would fail every query on a default-built session.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SESSION_CONF_DONE:
        return
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _SESSION_CONF_DONE.add(app_id)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one testdata table.

    events.parquet stores TIMESTAMP(NANOS) which Spark only reads as a
    long with the legacy flag; normalise to a proper TimestampType (µs)
    here so every query sees the same schema regardless of how the
    driver built the session.
    """
    path = f"{sf_dir}/{table}.parquet"
    _ensure_session_conf(spark)
    df = spark.read.parquet(path)
    from pyspark.sql import functions as F, types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # integer division: epoch-nanos exceed double's 2^53 exact
            # range, so `/ 1000` (double) could be off by 1 µs vs DuckDB
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


# One module per operator family; a query name belongs to one module.
_QUERY_MODULES = (
    "tpch_full", "asof_q", "session_q", "pipeline_q", "graph_q", "stats_q",
    "bloom_q", "multimodal_q", "streaming_q", "sketch_q", "srp_lsh_q",
    "tpch_extra", "cluster_q", "dedup_q", "relational", "text_ops",
    "similarity_q", "span_q", "span_ops_q", "corpus_q", "hll_q",
    "asof_extra_q", "mix_q", "basket_q", "fuzzy_q", "bpe_q", "profile_q",
    "mv_q", "seasonal_q", "audit_q", "drift_q", "substr_q", "dsir_q",
    "semdedup_q", "bm25_q", "cluster_docs_q", "media_dedup_q",
    "text_classifier_q", "doremi_q", "ccnet_q", "media_audio_q",
    "lang_classifier_q", "text_auc_q", "mips_q", "scd_q", "hardneg_q",
    "bitext_q", "layout_q", "lpa_q", "fs_linkage_q", "attribution_q",
    "perplexity_q", "cdc_q", "calibration_q", "phrase_q", "group_auc_q",
    "trigram_q", "pr_curve_q", "unimax_q", "components_q", "rrf_q",
    "matryoshka_q", "kn_q", "media_keyframe_q", "containment_q",
    "linkpred_q", "heaps_q", "anonymity_q", "kcore_q", "holt_q", "chi2_q",
    "holt_winters_q", "bootstrap_q", "conformal_q",
)


def all_queries() -> dict[str, QuerySpec]:
    """Every module's queries; a name two modules define raises ``ValueError``."""
    out: dict[str, QuerySpec] = {}
    home: dict[str, str] = {}
    for module in _QUERY_MODULES:
        for name, spec in importlib.import_module(f"{__name__}.{module}").QUERIES.items():
            if name in home:
                raise ValueError(f"query {name!r} is defined in both {home[name]} and {module}")
            out[name], home[name] = spec, module
    return out
