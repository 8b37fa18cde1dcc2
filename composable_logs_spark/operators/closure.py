"""Transitive closure over the span forest (SURVEY §2.3 J3-J5).

The reference walks a driver-side "union of directed trees" with
recursive DFS (UDT.traverse_from, opentelemetry_helpers.py:295-308).
``descendants`` does the same walk one run at a time: one
``groupBy("run_id").applyInArrow`` hands each run's edge rows to plain
Python, which walks up from every edge row through a child -> parents
map (``spanlog.schema.span_ancestors``, the walk ``summarize_run`` also
uses). Span trees have a hard structural depth bound (FIXTURES.md
invariant: depth <= 6; the walk stops at 8 hops for margin), so the
result is the exact closure, computed with one shuffle and nothing
cached.

All linkage is keyed by (run_id, span_id): OTel span ids are unique only
within one trace, and a 100 TB log holds millions of traces.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..spanlog import schema as S
from ..spanlog.schema import MAX_SPAN_DEPTH as DEFAULT_MAX_DEPTH, MAX_SPANS_PER_RUN

_CLOSURE_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("ancestor_span_id", pa.string()),
        ("span_id", pa.string()),
        ("depth", pa.int32()),
    ]
)


def _walk_run(table: pa.Table, max_depth: int, validate: bool, max_spans: int) -> pa.Table:
    """One run's closure rows. Join semantics: every edge row walks up
    on its own, and a null id (run, parent or span) matches no row."""
    c = table.to_pydict()
    run_id = c["run_id"][0]
    S.check_run_size(run_id, table.num_rows, max_spans)
    rows = list(zip(c["parent_span_id"], c["span_id"]))
    parents: dict[str, list] = {}
    if run_id is not None:
        for p, s in rows:
            if s is not None:
                parents.setdefault(s, []).append(p)
    # walk one hop further under ``validate``, only to see whether it exists
    walk_depth = max_depth + 1 if validate else max_depth
    ancestors, spans, depths = [], [], []
    for p, s in rows:
        for a, depth in S.span_ancestors(parents, p, walk_depth):
            if depth > max_depth:
                raise ValueError(
                    f"run {run_id!r} has a span path deeper than max_depth={max_depth}"
                )
            ancestors.append(a)
            spans.append(s)
            depths.append(depth)
    return pa.table(
        {
            "run_id": [run_id] * len(depths),
            "ancestor_span_id": ancestors,
            "span_id": spans,
            "depth": depths,
        },
        schema=_CLOSURE_SCHEMA,
    )


def descendants(
    edges: DataFrame, max_depth: int = DEFAULT_MAX_DEPTH, validate: bool = False
) -> DataFrame:
    """All (run_id, ancestor_span_id, span_id, depth) pairs, 1 <= depth <=
    ``max_depth``, one row per path of edge rows.

    ``edges`` must have columns (run_id, parent_span_id, span_id) — see
    ``spans_ops.span_edges``. Equivalent to the reference's
    UDT.traverse_from for every root at once (opentelemetry_helpers.py:295-308),
    as one lazy relation.

    With ``validate``, evaluating the result fails with a ``ValueError``
    naming the run when a path longer than ``max_depth`` exists; so does a
    run above ``MAX_SPANS_PER_RUN`` edge rows.
    """
    limit = MAX_SPANS_PER_RUN  # read on the driver; travels with the lambda
    return edges.select("run_id", "parent_span_id", "span_id").groupBy("run_id").applyInArrow(
        lambda table: _walk_run(table, max_depth, validate, limit),
        from_arrow_schema(_CLOSURE_SCHEMA),
    )


def bound_under(
    spans: DataFrame,
    closure: DataFrame,
    root_span_id: str,
    run_id: str | None = None,
    inclusive: bool = True,
) -> DataFrame:
    """J4: restrict a span table to the subtree under ``root_span_id``
    (reference: Spans.bound_under/bound_inclusive,
    opentelemetry_helpers.py:433-451). Semi-join against the closure."""
    sub = closure.where(F.col("ancestor_span_id") == root_span_id)
    if run_id is not None:
        sub = sub.where(F.col("run_id") == run_id)
    ids = sub.select("run_id", "span_id")
    out = spans.join(
        ids,
        (spans["context.span_id"] == ids["span_id"])
        & (spans["context.trace_id"] == ids["run_id"]),
        "left_semi",
    )
    if inclusive:
        root = spans.where(F.col("context.span_id") == root_span_id)
        if run_id is not None:
            root = root.where(F.col("context.trace_id") == run_id)
        out = out.unionByName(root)
    return out


def contains_path(closure: DataFrame, run_id: str, *span_ids: str) -> bool:
    """J5: do the given span ids lie on one ancestor chain, in order,
    intermediates allowed (reference: UDT.contains_path,
    opentelemetry_helpers.py:323-362)."""
    if len(span_ids) < 2:
        return True
    pairs = [(run_id, a, b) for a, b in zip(span_ids, span_ids[1:])]
    pairs_df = closure.sparkSession.createDataFrame(
        pairs, "run_id string, ancestor_span_id string, span_id string"
    )
    hits = pairs_df.join(
        closure, ["run_id", "ancestor_span_id", "span_id"], "left_semi"
    ).count()
    return hits == len(pairs)
