"""Iterative graph analytics beyond reachability: PageRank over the
customer↔supplier purchase graph.

The span-log side of the engine already walks trees (closure.py) and
labels components (components.py); PageRank adds the third classic graph
shape — fixed-point iteration with per-edge messaging — expressed as the
canonical Spark join→agg loop (the same plan GraphFrames/Pregel lowers
to):

    per iteration: ranks ⋈ edges on src   (contribution = rank/out_deg)
                   groupBy dst, sum       (one hash agg, map-side combine)
                   nodes ⟕ sums           (damping + dangling default)

Scale shape: each iteration is exactly one shuffle join keyed on src and
one hash aggregation keyed on dst — the textbook distributed PageRank;
partitioning by node id is reusable across iterations, and nothing is
ever collected to the driver.  At 100 TB the edge list would be
pre-bucketed by src (``bucketBy``) so the join side of every iteration
is Exchange-free.

Cross-engine exactness: ranks are SCALED INTEGERS (units of 1e-12) and
every step is integer arithmetic — `div` on positives truncates
identically in Spark and DuckDB (`//`), and integer sums are
associative, so parallel-summation order cannot flip a single bit.  The
damping factor 0.85 becomes ×85 `div` 100.  Mass lost to integer
truncation (and to dangling nodes) is NOT redistributed — the same
simplification on both engines, so results still match bit-for-bit.

Reference anchor: the reference has no PageRank; this is a north-star
extension (SURVEY.md §2.10) in the same family as connected components
(`operators/components.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load
from ..operators.pagerank import SCALE as _SCALE, pagerank

# Disjoint node-id encoding: customers on even ids (2k), suppliers on
# odd (2k+1). Collision-free for ANY scale factor — a fixed additive
# offset would collide once c_custkey grows past it (at TPC-H SF≥7,
# 150k×SF customers > 1e6).
_ITERS = 3


def _cust_node(col):
    return (col.cast("long") * 2).alias("node_id")


def _supp_node(col):
    return (col.cast("long") * 2 + 1).alias("node_id")


def _graph(spark: SparkSession, sf: str):
    c = load(spark, sf, "customer")
    s = load(spark, sf, "supplier")
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    nodes = c.select(
        _cust_node(F.col("c_custkey")),
        F.lit("customer").alias("kind"),
    ).unionAll(
        s.select(
            _supp_node(F.col("s_suppkey")),
            F.lit("supplier").alias("kind"),
        )
    )
    pairs = (
        o.select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_suppkey"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            _cust_node(F.col("o_custkey")).alias("cust"),
            _supp_node(F.col("l_suppkey")).alias("supp"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("cust").alias("src"), F.col("supp").alias("dst")).unionAll(
        pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst"))
    )
    return nodes, edges


def pagerank_purchase_graph(spark: SparkSession, sf: str) -> DataFrame:
    nodes, edges = _graph(spark, sf)
    return pagerank(nodes, edges, _ITERS)


def _pagerank_sql() -> str:
    ctes = [
        """nodes AS (
  SELECT CAST(c_custkey * 2 AS BIGINT) AS node_id, 'customer' AS kind FROM customer
  UNION ALL
  SELECT CAST(s_suppkey * 2 + 1 AS BIGINT), 'supplier' FROM supplier
)""",
        """pairs AS (
  SELECT DISTINCT CAST(o_custkey * 2 AS BIGINT) AS cust,
                  CAST(l_suppkey * 2 + 1 AS BIGINT) AS supp
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)""",
        """edges AS (
  SELECT cust AS src, supp AS dst FROM pairs
  UNION ALL
  SELECT supp AS src, cust AS dst FROM pairs
)""",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "edged AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src))",
        "nn AS (SELECT count(*) AS n_nodes FROM nodes)",
        f"""r0 AS (
  SELECT node_id, kind,
         CAST({_SCALE} // n_nodes AS BIGINT) AS rank,
         CAST((15 * ({_SCALE} // n_nodes)) // 100 AS BIGINT) AS base
  FROM nodes CROSS JOIN nn
)""",
    ]
    prev = "r0"
    for i in range(1, _ITERS + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT r.node_id, r.kind, r.base,
         CAST(r.base + (85 * coalesce(s.insum, 0)) // 100 AS BIGINT) AS rank
  FROM {prev} r LEFT JOIN (
    SELECT e.dst, sum(rr.rank // e.deg) AS insum
    FROM edged e JOIN {prev} rr ON rr.node_id = e.src
    GROUP BY e.dst
  ) s ON s.dst = r.node_id
)"""
        )
        prev = f"r{i}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node_id, kind, CAST(rank AS BIGINT) AS rank_e12 FROM {prev}"
    )


QUERIES = {
    "pagerank_purchase_graph": QuerySpec(pagerank_purchase_graph, _pagerank_sql()),
}
