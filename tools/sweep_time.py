"""Time selected (or all) registry queries at $SPARK_GRAFT_SF_DIR with
the noop sink: per query, `build` = queries()[name](spark, sf) wall,
`exec` = noop-write wall. min-of-N (default 2) after one untimed warm
pass per query. Serialized, one session — a profiling tool, not the
benchmark (that is perfbench/).

Usage: python tools/sweep_time.py [--n 2] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from composable_logs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    n = 2
    if args and args[0] == "--n":
        n = int(args[1])
        args = args[2:]
    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    names = args or sorted(qs)
    rows = []
    for name in names:
        if name not in qs:
            print(f"?? unknown query {name}", flush=True)
            continue
        try:
            # untimed warm pass (JIT, parquet footers, python workers)
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            builds, execs = [], []
            for _ in range(n):
                spark.catalog.clearCache()
                t0 = time.time()
                df = qs[name](spark, SF_DIR)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
                builds.append(t1 - t0)
                execs.append(t2 - t1)
            b, e = min(builds), min(execs)
            rows.append((name, b, e))
            print(f"{name:45s} build {b:7.2f}s exec {e:7.2f}s", flush=True)
        except Exception as exc:  # keep sweeping
            print(f"{name:45s} ERROR {type(exc).__name__}: {exc}", flush=True)
    rows.sort(key=lambda r: -(r[1] + r[2]))
    print(f"\ntotal build {sum(r[1] for r in rows):.1f}s "
          f"exec {sum(r[2] for r in rows):.1f}s  n={len(rows)}")
    for name, b, e in rows[:40]:
        print(f"{name:45s} build {b:6.2f} exec {e:6.2f}")


if __name__ == "__main__":
    main()
