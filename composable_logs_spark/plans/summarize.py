"""parse_spans as one composed DataFrame pipeline (SURVEY §3.2).

Reference: opentelemetry_task_span_parser.py:413-445 plus its iterators
(_task_run_iterator :378-410, _artefact_iterator :147-167,
_get_logged_named_values :189-228). Output tables follow FIXTURES.md A3:

    workflow_runs(run_id, span_id, start_time, end_time, duration_s,
                  is_success, attributes)
    task_runs(run_id, span_id, parent_span_id, task_id, task_type,
              start_time, end_time, duration_s, is_success, n_exceptions,
              attributes)
    deps(run_id, from_span_id, to_span_id)
    logged_values(run_id, task_span_id, name, type, value_str, value_long,
                  value_double, value_bool, value_json)
    artifacts(run_id, task_span_id, name, type, content, length)

Design notes for scale:
- ONE descendants closure (operators.closure) per input; every per-task
  gather is then an equi-join + groupBy against it — replacing the
  reference's repeated subtree traversals (3 per task, SURVEY §4).
- Every join/groupBy keys on (run_id, span_id): OTel span ids are unique
  only within a trace; a production log holds millions of traces.
- The whole pipeline is built-in expressions (no Python UDF), so it stays
  inside whole-stage codegen.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.closure import descendants
from ..spanlog import schema as S

def _empty_map():
    # built lazily: Column construction needs an active SparkSession
    return F.map_from_arrays(F.array(), F.array())


@dataclass
class SpanSummary:
    workflow_runs: DataFrame
    task_runs: DataFrame
    deps: DataFrame
    logged_values: DataFrame
    artifacts: DataFrame
    validation_errors: DataFrame  # (run_id, task_span_id, kind, detail)
    # the sinks' one-collect report (sinks.report.collect_report)
    _report: object = field(default=None, init=False, repr=False, compare=False)


def _with_run_id(spans: DataFrame) -> DataFrame:
    """run_id = trace_id (constant within one workflow run, FIXTURES A1).

    The reference keys a run by its dag-top-span / workflow.workflow_run_id
    (opentelemetry_task_span_parser.py:430-433); trace_id carries the same
    grouping and is present on EVERY span, so multi-run inputs group
    without first locating each run's top span.
    """
    return spans.withColumn("run_id", F.col("context.trace_id"))


def _duration_s(start_col, end_col):
    """C2: round(µs-diff / 1e6, 3) — matches Timing.get_duration_s
    (opentelemetry_task_span_parser.py:250-253)."""
    return F.round(
        (F.unix_micros(F.to_timestamp(end_col)) - F.unix_micros(F.to_timestamp(start_col)))
        / F.lit(1_000_000.0),
        3,
    )


def summarize_spans(spans: DataFrame, legacy_deps: bool = True) -> SpanSummary:
    # --- pre-digested narrow cache (r13 optimization round) -------------
    # The cache used to hold FULL spans (context struct, raw events
    # array, links, attributes). Profiling the 940k-span big fixture
    # showed every consumer branch re-scanning that wide cache and the
    # attribute pass shuffling whole map-typed rows (SortMergeJoin with
    # 2.7 min cumulative shuffle-write time). Digest ONCE at cache time:
    # span_id hoisted out of the context struct, the per-span exception
    # count precomputed (drops the events array — with stacktrace
    # payloads — from the cache entirely; guide §2.3 "shuffle keys and
    # metadata instead of payloads"), status_code hoisted. Every value
    # below is derived exactly as before, so all outputs are
    # bit-identical (digest-locked by the bench goldens).
    spans = _with_run_id(spans).select(
        "run_id",
        F.col("context.span_id").alias("span_id"),
        "parent_id",
        "name",
        "start_time",
        "end_time",
        F.col("status.status_code").alias("status_code"),
        # == count of exploded events with name=='exception' (A5): the
        # old explode+filter+groupBy per-span count, folded to a size()
        F.coalesce(
            F.size(F.filter(F.col("events"), lambda e: e["name"] == F.lit("exception"))),
            F.lit(0),
        ).alias("n_exc_own"),
        "attributes",
        "links",
    ).cache()

    # --- closure: span -> owning execute-task span (computed ONCE) ------
    # cached: the bounded closure is a deep join tree consumed by several
    # branches (exceptions/attributes/values/artifacts) — without the
    # cache every consumer re-executes all max_depth joins (this is the
    # reference's _cached_graph memo, opentelemetry_helpers.py:407-419).
    # r14: dropping this cache in favour of only the owned_incl cache
    # below was measured 1.5x SLOWER cold on the 940k-span fixture
    # (18.5 -> 27.6 s min-of-4) — the union-of-step-caches feeding the
    # ownership join re-shuffles worse than one materialized relation —
    # so BOTH stay cached.
    edges = spans.where(F.col("parent_id").isNotNull()).select(
        "run_id", F.col("parent_id").alias("parent_span_id"), "span_id"
    )
    closure = descendants(edges).cache()

    # cached separately (r13): task_spans is read by four consumers
    # (owned, owned_incl, the task_runs base, run_success); uncached,
    # each re-filtered the full span cache (4 extra 940k-row scans on
    # the big fixture)
    task_spans = spans.where(F.col("name") == S.SPAN_EXECUTE_TASK).select(
        "run_id",
        F.col("span_id").alias("task_span_id"),
        F.col("parent_id").alias("task_parent_span_id"),
        "start_time",
        "end_time",
        "attributes",
    ).cache()
    task_keys = ["run_id", "task_span_id"]

    # Map every span to its execute-task ancestor. Tasks never nest in the
    # reference model, so each span has <= 1 execute-task ancestor.
    owned = (
        closure.alias("c")
        .join(
            task_spans.select(*task_keys).alias("t"),
            (F.col("c.ancestor_span_id") == F.col("t.task_span_id"))
            & (F.col("c.run_id") == F.col("t.run_id")),
            "inner",
        )
        .select(F.col("c.run_id"), F.col("t.task_span_id"), F.col("c.span_id"))
    )
    # inclusive variant (task span owns itself): lets the exception and
    # attribute passes run as ONE join + ONE groupBy instead of separate
    # subtree + own-span branches.
    # r14: cached — owned_incl is read by the exception pass, the
    # attribute pass, AND (new) the named-value/artifact gathers, so the
    # closure ⋈ task_spans ownership join above runs once instead of
    # once per consumer
    owned_incl = owned.unionByName(
        task_spans.select(
            "run_id", "task_span_id", F.col("task_span_id").alias("span_id")
        )
    ).cache()

    # --- per-task exception counts (A5/A6) ------------------------------
    # r13: the events array no longer rides the cache; the per-span count
    # was precomputed at digest time, so the old explode(events) pass
    # (1.9M generated rows on the big fixture) folds into a filtered
    # narrow join + sum — identical totals (count of exploded exception
    # rows == sum of per-span exception counts).
    span_exc = spans.where(F.col("n_exc_own") > 0).select(
        "run_id", "span_id", "n_exc_own"
    )
    task_exc = (
        owned_incl.join(span_exc, ["run_id", "span_id"], "inner")
        .groupBy(*task_keys)
        .agg(F.sum("n_exc_own").alias("n_exc"))
    )

    # --- per-task attribute union (A1/A3) --------------------------------
    # task.* attributes from the task span and its whole subtree, merged
    # with workflow.* attributes from the run's spans. Prefixes are
    # disjoint by validation (wrappers.py:255-260).
    #
    # r13: explode + prefix-filter BEFORE the join (guide §2.3 "project
    # before the exchange"). The old shape joined owned_incl against the
    # full cached span rows — shuffling map-typed attribute payloads both
    # ways through a SortMergeJoin (measured: the two exchanges cost
    # 2.7 min + 1.1 min cumulative shuffle-write on the 940k-span
    # fixture) — and exploded AFTER. Exploding a prefix-filtered map
    # first ships only the narrow (run_id, span_id, key, value) entries
    # that can survive, and the join carries no wide rows at all. Same
    # rows out: explode(map_filter(m, p)) == explode(m).where(p).
    task_attr_entries = spans.select(
        "run_id",
        "span_id",
        F.explode(
            F.map_filter("attributes", lambda k, _: k.startswith("task."))
        ).alias("key", "value"),
    )
    task_attr_union = (
        owned_incl.join(task_attr_entries, ["run_id", "span_id"], "inner")
        .groupBy(*task_keys, "key")
        .agg(F.collect_set("value").alias("vals"))
    )
    attr_conflicts = task_attr_union.where(F.size("vals") > 1).select(
        *task_keys,
        F.lit("attribute-conflict").alias("kind"),
        F.col("key").alias("detail"),
    )
    # conflict winner: array_min, not getItem(0) — collect_set's order is
    # nondeterministic; conflicts are reported separately above, but the
    # surviving value must be stable run-to-run
    task_attrs = task_attr_union.groupBy(*task_keys).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("key"), F.array_min("vals").alias("value")))
        ).alias("task_attributes")
    )

    # workflow.* attributes per run (A2) — union over ALL spans of the run
    # (r13: same map_filter-before-explode shape as the task.* pass — the
    # Generate emits only workflow.* entries instead of every attribute)
    wf_attr_union = (
        spans.select(
            "run_id",
            F.explode(
                F.map_filter("attributes", lambda k, _: k.startswith("workflow."))
            ).alias("key", "value"),
        )
        .groupBy("run_id", "key")
        .agg(F.collect_set("value").alias("vals"))
    )
    wf_attrs = wf_attr_union.groupBy("run_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("key"), F.array_min("vals").alias("value")))
        ).alias("workflow_attributes")
    )

    # --- task_runs --------------------------------------------------------
    task_runs = (
        task_spans.join(task_exc, task_keys, "left")
        .join(task_attrs, task_keys, "left")
        .join(wf_attrs, "run_id", "left")
        .select(
            "run_id",
            F.col("task_span_id").alias("span_id"),
            F.col("task_parent_span_id").alias("parent_span_id"),
            F.col("attributes").getItem("task.id").alias("task_id"),
            F.col("attributes").getItem("task.type").alias("task_type"),
            F.to_timestamp("start_time").alias("start_time"),
            F.to_timestamp("end_time").alias("end_time"),
            _duration_s(F.col("start_time"), F.col("end_time")).alias("duration_s"),
            F.coalesce(F.col("n_exc"), F.lit(0)).cast("int").alias("n_exceptions"),
            F.map_zip_with(
                F.coalesce(F.col("workflow_attributes"), _empty_map()),
                F.coalesce(F.col("task_attributes"), _empty_map()),
                lambda k, wv, tv: F.coalesce(tv, wv),
            ).alias("attributes"),
        )
        .withColumn("is_success", F.col("n_exceptions") == 0)
    )

    # --- deps (J7 links + J8 legacy) --------------------------------------
    link_deps = (
        spans.where(F.col("name") == S.SPAN_EXECUTE_TASK)
        .select(
            "run_id",
            F.col("span_id").alias("to_span_id"),
            F.explode("links").alias("link"),
        )
        .where(F.col("link.attributes").getItem("type") == "task-dependency")
        .select("run_id", F.col("link.context.span_id").alias("from_span_id"), "to_span_id")
    )
    deps = link_deps
    if legacy_deps:
        legacy = (
            spans.where(F.col("name") == S.SPAN_TASK_DEPENDENCY)
            .select(
                "run_id",
                F.col("attributes").getItem("from_task_span_id").alias("from_span_id"),
                F.col("attributes").getItem("to_task_span_id").alias("to_span_id"),
            )
        )
        deps = deps.unionByName(legacy)
    deps = deps.dropDuplicates(["run_id", "from_span_id", "to_span_id"])  # A11

    # --- logged values (named-value spans, F4 + A8 + decode) ---------------
    data_span_cols = [
        "run_id",
        "span_id",
        F.col("attributes").getItem("name").alias("name"),
        F.col("attributes").getItem("type").alias("type"),
        F.col("attributes").getItem("encoding").alias("encoding"),
        F.col("attributes").getItem("content_encoded").alias("content_encoded"),
        F.to_timestamp("start_time").alias("start_time"),
    ]
    # r14: joins owned_incl (the cached frame), not owned — identical
    # matches: the extra task-owns-itself rows pair only with spans that
    # ARE execute-task spans, which the named-value name filter excludes
    named_values = (
        spans.where(
            (F.col("name") == S.SPAN_NAMED_VALUE)
            & (F.col("status_code") == "OK")  # F4
        )
        .select(*data_span_cols)
        .join(owned_incl, ["run_id", "span_id"], "inner")
    )
    dup_values = (
        named_values.groupBy(*task_keys, "name")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .select(
            *task_keys,
            F.lit("duplicate-named-value").alias("kind"),
            F.col("name").alias("detail"),
        )
    )
    logged_values = named_values.select(
        "run_id",
        "task_span_id",
        "name",
        "type",
        F.when(F.col("type") == "utf-8", F.col("content_encoded")).alias("value_str"),
        F.when(F.col("type") == "int", F.col("content_encoded").cast("long")).alias("value_long"),
        F.when(F.col("type") == "float", F.col("content_encoded").cast("double")).alias("value_double"),
        F.when(F.col("type") == "bool", F.col("content_encoded").cast("boolean")).alias("value_bool"),
        F.when(F.col("type") == "json", F.col("content_encoded")).alias("value_json"),
    )

    # --- artifacts (artefact spans; notebook.html derived from .ipynb) ----
    # Last-value-wins per (task, name): repeated log_artefact calls with
    # one name keep only the NEWEST content — the reference's observable
    # semantics (its directory sink writes artifacts at name-derived
    # paths, so a re-log overwrites the same file,
    # cli_pynb_log_parser.py), and what makes papermill-style
    # incremental notebook checkpoints (functions/notebooks.py) collapse
    # to the final state instead of one row per executed cell. The
    # window partitions by (run_id, task_span_id, name) — per-task
    # artifact counts, never corpus-wide; span_id breaks same-µs ties
    # deterministically.
    from pyspark.sql import Window as _W

    _art_w = _W.partitionBy("run_id", "task_span_id", "name").orderBy(
        F.desc("start_time"), F.desc("span_id")
    )
    artifacts_base = (
        spans.where(
            (F.col("name") == S.SPAN_ARTEFACT) & (F.col("status_code") == "OK")
        )
        .select(*data_span_cols)
        # owned_incl, same argument as named_values: artefact spans are
        # never execute-task spans, so the self-rows cannot match
        .join(owned_incl, ["run_id", "span_id"], "inner")
        .withColumn("_rn", F.row_number().over(_art_w))
        .where(F.col("_rn") == 1)
        .select(
            "run_id",
            "task_span_id",
            "name",
            "type",
            F.when(F.col("encoding") == "base64", F.unbase64("content_encoded"))
            .otherwise(F.encode(F.col("content_encoded"), "utf-8"))
            .alias("content"),
        )
    )
    artifacts = artifacts_base.withColumn("length", F.length("content").cast("long"))

    # Per reference :161-167 a logged notebook.ipynb implies a derived
    # notebook.html artifact in the summary; content conversion (C14) is a
    # sink-side UDF — here we materialise the row with the source content.
    derived_html = (
        artifacts.where(F.col("name") == "notebook.ipynb")
        .withColumn("name", F.lit("notebook.html"))
        .withColumn("type", F.lit("utf-8"))
    )
    artifacts = artifacts.unionByName(derived_html)

    # --- workflow_runs (A2/A4/A7) ------------------------------------------
    run_bounds = spans.groupBy("run_id").agg(
        F.min(F.to_timestamp("start_time")).alias("start_time"),
        F.max(F.to_timestamp("end_time")).alias("end_time"),
    )
    top_spans = spans.where(F.col("name") == S.SPAN_DAG_TOP).select(
        "run_id", "span_id"
    )
    run_success = task_runs.groupBy("run_id").agg(
        F.min("is_success").alias("is_success")  # A7: all tasks succeeded
    )
    workflow_runs = (
        run_bounds.join(top_spans, "run_id", "left")
        .join(run_success, "run_id", "left")
        .join(wf_attrs, "run_id", "left")
        .select(
            "run_id",
            "span_id",
            "start_time",
            "end_time",
            _duration_s(F.col("start_time"), F.col("end_time")).alias("duration_s"),
            F.coalesce(F.col("is_success"), F.lit(True)).alias("is_success"),
            F.col("workflow_attributes").alias("attributes"),
        )
    )

    validation_errors = attr_conflicts.unionByName(dup_values).select(
        "run_id", "task_span_id", "kind", "detail"
    )

    return SpanSummary(
        workflow_runs=workflow_runs,
        task_runs=task_runs,
        deps=deps,
        logged_values=logged_values,
        artifacts=artifacts,
        validation_errors=validation_errors,
    )
