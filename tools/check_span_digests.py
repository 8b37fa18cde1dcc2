"""Check the summary digests of the ~3.8M-span generated log (512 runs x
1,600 tasks) against their pinned values. The 3,200- and 940,992-span
sizes are pinned in tests/test_span_bigfixture.py; this size takes
minutes, so it runs here instead of in the test suite.

Usage: python tools/check_span_digests.py
Generates the log in a temporary directory, summarises it, prints the
digests and exits 1 if any table differs from its pinned digest.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from composable_logs_spark.plans import summarize_spans  # noqa: E402
from composable_logs_spark.session import get_spark  # noqa: E402
from composable_logs_spark.spanlog.biggen import generate_big_spanlog  # noqa: E402
from composable_logs_spark.spanlog.digest import summaries_digest  # noqa: E402
from composable_logs_spark.spanlog.sources import read_span_jsonl  # noqa: E402

RUNS, TASKS = 512, 1600
GOLDEN = {
    "task_runs": (819200, 449739314444234080, 449750541166714400),
    "workflow_runs": (512, 281618652784460, 281647960557512),
    "deps": (1021568, 561990171510814949, 561986443402377477),
    "logged_values": (81920, 44962222465911948, 44963574405534489),
}


def main() -> int:
    spark = get_spark(
        "check_span_digests", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    with tempfile.TemporaryDirectory() as tmp:
        n = generate_big_spanlog(tmp, n_runs=RUNS, tasks_per_run=TASKS)
        got = summaries_digest(summarize_spans(read_span_jsonl(spark, tmp)))
    for t, want in GOLDEN.items():
        print(f"{t}: {got.get(t)} {'ok' if got.get(t) == want else 'MISMATCH'}")
    ok = got == GOLDEN
    print(f"{n} spans, {RUNS} runs x {TASKS} tasks: {'OK' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
