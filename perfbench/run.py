"""Span-log engine benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload run_report --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run generates the seed's inputs
(untimed), starts the Spark session several times (the median is
``setup_s``; the first, cold start is reported on its own), warms up
untimed, measures operations for ``--seconds`` seconds, checks every
output outside the timed region, prints each metric by name with its
unit, and prints as its last line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports its per-layer metrics (see ``README.md``). All
scratch files live under ``.perfbench-work/`` in the checkout and are
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 3


def _parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate_scratch(work: Path) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark
    into ``work`` so the run writes only inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def main(argv: list[str]) -> int:
    args = _parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; choose from {names}", file=sys.stderr)
        return 2
    # the program under test must come from this checkout
    if not (ROOT / "composable_logs_spark" / "__init__.py").is_file():
        print("composable_logs_spark not found next to perfbench/", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench-work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    _isolate_scratch(work)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(ROOT / "perfbench"))

    from workloads import WORKLOADS, Context

    ctx = Context(work=work, seed=args.seed, trace=bool(args.trace))
    wl = WORKLOADS[args.workload]()
    try:
        wl.prepare(ctx)
        for _ in range(SETUPS):
            ctx.start_session()
        t0 = time.perf_counter()
        wl.warmup(ctx)
        warmup_s = time.perf_counter() - t0

        if args.trace:
            # the same operations untraced, then traced: the difference
            # of the medians is the tracing overhead; the traced half
            # gives the per-layer numbers
            plain = wl.measure(ctx, args.seconds / 2)
            ctx.enable_tracing()
            traced = wl.measure(ctx, args.seconds / 2)
            layer = wl.layer_metrics(ctx)
            layer["trace.overhead_s"] = _median(traced) - _median(plain)
            layer["trace.spans"] = len(ctx.tracer.spans)
            for lname, secs in ctx.tracer.self_times().items():
                layer[f"{lname}.self_s"] = secs
            layer["session.start_s"] = ctx.session_starts[0]
            layer["session.self_s"] = sum(ctx.session_starts)
            samples = traced
        else:
            samples = wl.measure(ctx, args.seconds)
        peak_kb = _vm_hwm_kb("self") + _vm_hwm_kb(ctx.jvm_pid())
        wl.close()
        ctx.stop()
        if args.trace:
            layer.update(wl.event_log_metrics(ctx))
            ctx.tracer.write(work / "trace.jsonl")
    finally:
        wl.close()
        ctx.stop()
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.is_dir() and not any(parent.iterdir()):
            parent.rmdir()

    attempted, failed = wl.attempted, wl.failed
    report = {
        "setup_s": (statistics.median(ctx.session_starts), "s"),
        "cold_start_s": (ctx.session_starts[0], "s"),
        "warmup_s": (warmup_s, "s"),
        "peak_rss_mb": (peak_kb / 1024, "MB"),
        "ops_failed_frac": (failed / max(attempted, 1), "1"),
        "op_s": (_median(samples), "s"),
        wl.OP_NAME: (_median(samples), "s"),
        "op_max_s": (max(samples), "s"),
        **wl.report(),
    }
    for key, (value, unit) in report.items():
        print(f"{key:<28} {value:14.4f} {unit}")
    for problem in wl.problems[:20]:
        print(f"FAILED: {problem}")

    if args.trace:
        wanted = spec["per_layer"]
        values = {m["name"]: float(layer.get(m["name"], 0.0)) for m in wanted}
        for key, value in values.items():
            print(f"{key:<40} {value:16.4f}")
    else:
        wanted = spec["end_to_end"]
        values = {key: value for key, (value, _) in report.items()}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
