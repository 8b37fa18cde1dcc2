"""Scaling-curve harness: time the SF-dependent headline queries at
sf0.01, sf0.1 and a synthetic K-fold replica of sf0.1 (built by
tools/gen_scaled.py), and report the runtime ratio per 10x/Kx row
growth — measured evidence for the would-this-survive-a-scale-up
question, beyond the largest driver-provided SF.

Each timing is the min of three noop-forced Spark-cache-cold passes
after a JIT warm-up pass (three, not two, so the min is never the
OS-page-cache-cold disk read of the single-file replica).
spanlog_task_runs is excluded (its input is the span fixture set,
independent of the SF directory).

Usage: python tools/bench_scaling.py [scaled_dir]
Prints one JSON line {"dirs", "queries": {name: {dir: sec}}, "ratios"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from composable_logs_spark.queries import all_queries
from composable_logs_spark.session import get_spark

SCALED = (
    sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_scaled_sf0p4"
)
DIRS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1", SCALED]

QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_top3_parts_per_supplier",
    "sessionize_user_events",
    "range_join_error_attribution",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_top5",
    "text_token_stats",
    "stream_tumbling_counts",
    # round-8 additions. NOT dedup_semantic: with K fixed at 8 its
    # within-cell pair stage is quadratic BY DESIGN at this harness's
    # parameters (production grows K with N — see SCALE.md), so a
    # fixed-K scaling curve would measure the wrong thing.
    "dedup_exact_substring",
    "substr_winnow_stats",
    "substr_cut_docs",
    "text_bm25_topk",
    "text_gopher_filters",
    "cluster_docs_hashed_tf",
    # round-13: the sub-linear-training variant, tracked alongside the
    # exact query so the slope difference is measured, not asserted
    "cluster_docs_minibatch",
    # round-14 (VERDICT #8): the r13 Arrow-rewritten per-row passes,
    # re-measured at 64x to confirm the wins hold when shuffles dominate
    "dedup_simhash",
    "text_repetition",
]

# SPARK_GRAFT_SCALING_QUERIES=a,b,c trims the list — the 128x+ replicas
# are only worth running for the steepest scalers, not all 17 queries.
_FILTER = os.environ.get("SPARK_GRAFT_SCALING_QUERIES")
if _FILTER:
    QUERIES = [q for q in QUERIES if q in set(_FILTER.split(","))]


def main() -> None:
    # The scaled inputs are ONE snappy parquet file per table; Spark's
    # scan split size is min(maxPartitionBytes, max(openCostInBytes,
    # bytes/defaultParallelism)) and the 4MB openCostInBytes default
    # floors it — e.g. the 39MB 64x documents file gets 10 splits, so
    # the hot map stage (tokenize/gram emit) runs 10-wide on a 32-core
    # box and the measured "scaling" is a parallelism floor, not the
    # algorithm (found r12). Lower both so every scale factor scans
    # full-width; a real cluster gets this for free from many input
    # files.
    spark = get_spark(
        "bench_scaling",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(256 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    def run(name: str, d: str) -> float:
        spark.catalog.clearCache()
        t0 = time.time()
        qs[name].fn(spark, d).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # uniform warm-up (JIT/codegen/footers) on the smallest dir
    for name in QUERIES:
        qs[name].fn(spark, DIRS[0]).write.format("noop").mode("overwrite").save()

    out: dict[str, dict[str, float]] = {}
    for name in QUERIES:
        out[name] = {}
        for d in DIRS:
            # 3 passes, min: pass 1 pays the OS-page-cache-cold read of
            # the (single-file) scaled parquet — at 64x that is ~0.9 GB
            # from disk, several times the query itself — so with only 2
            # passes the min was disk-bound, not query-bound, for every
            # cheap query. The min over 3 lands on a page-cached,
            # Spark-cache-cold pass: the number a warm cluster would see.
            passes = [run(name, d) for _ in range(3)]
            out[name][d] = round(min(passes), 3)

    ratios = {
        name: {
            "x10_sf001_to_sf01": round(t[DIRS[1]] / t[DIRS[0]], 2),
            "x4_sf01_to_scaled": round(t[DIRS[2]] / t[DIRS[1]], 2),
        }
        for name, t in out.items()
    }
    print(json.dumps({"dirs": DIRS, "queries": out, "ratios": ratios}))


if __name__ == "__main__":
    main()
