"""Command-line entry points matching the reference CLIs.

- ``pynb-log-parser`` (reference: otel_output_parser/cli_pynb_log_parser.py
  :85-148): expand one span-log JSON file into a directory tree + mermaid
  diagram input files. Same flags: ``--input_span_file``,
  ``--output_directory``, ``--output_filepath_mermaid_gantt``,
  ``--output_filepath_mermaid_dag`` (also writes the ``-nolinks`` DAG
  variant next to it, as the reference does).
- ``generate-static-data`` (reference: cli_generate_static_data.py:25-201):
  build the multi-run static-site dataset from GitHub Actions artifact
  zips and/or a local zip cache. Same flags: ``--github_repository``,
  ``--zip_cache_dir``, ``--output_www_root_directory``.

Usage: ``python -m composable_logs_spark.cli <command> [flags]``.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path


def _spark():
    from .session import get_spark

    return get_spark("composable_logs_spark_cli", cpus=8, shuffle_partitions=8)


def pynb_log_parser(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="pynb-log-parser")
    p.add_argument("--input_span_file", required=True, type=Path)
    p.add_argument("--output_directory", required=False, type=Path)
    p.add_argument("--output_filepath_mermaid_gantt", required=False, type=Path)
    p.add_argument("--output_filepath_mermaid_dag", required=False, type=Path)
    args = p.parse_args(argv)

    from .plans import summarize_spans
    from .sinks import make_mermaid_dag, make_mermaid_gantt, write_spans_to_directory
    from .sinks.report import collect_report
    from .spanlog import read_span_json

    spark = _spark()
    spans = read_span_json(spark, args.input_span_file)
    n = spans.count()
    print(f"--- pynb-log-parser (composable_logs_spark) ---")
    print(f"Number of spans loaded {n}")
    summary = summarize_spans(spans)
    report = collect_report(summary)  # every file renders from it
    summary.release()
    run_ids = [w["run_id"] for w in report.workflows]

    if args.output_directory is not None:
        write_spans_to_directory(report, args.output_directory)

    if args.output_filepath_mermaid_gantt is not None:
        out = args.output_filepath_mermaid_gantt
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text("\n".join(make_mermaid_gantt(report, rid) for rid in run_ids))

    if args.output_filepath_mermaid_dag is not None:
        out = args.output_filepath_mermaid_dag
        if out.suffix != ".mmd":
            raise SystemExit("--output_filepath_mermaid_dag must end in .mmd")
        out.parent.mkdir(parents=True, exist_ok=True)
        # reference also writes a -nolinks variant (cli_pynb_log_parser.py:134-146)
        nolinks = out.with_name(out.name.replace(".mmd", "-nolinks.mmd"))
        for path, links in ((out, True), (nolinks, False)):
            dags = (make_mermaid_dag(report, rid, generate_links=links) for rid in run_ids)
            path.write_text("\n".join(dags))

    print(" - Done")
    return 0


def generate_static_data(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="generate-static-data")
    p.add_argument("--github_repository", required=False, type=str)
    p.add_argument("--zip_cache_dir", required=False, type=Path)
    p.add_argument("--output_www_root_directory", required=True, type=Path)
    args = p.parse_args(argv)

    from .plans import summarize_spans
    from .sinks import write_static_data
    from .spanlog.sources import read_spans_from_zip

    spark = _spark()

    zips: list[bytes] = []
    if args.github_repository:
        from .sources.github import github_repo_artifact_zips

        zips.extend(
            github_repo_artifact_zips(args.github_repository, cache_dir=args.zip_cache_dir)
        )
    elif args.zip_cache_dir:
        for f in sorted(Path(args.zip_cache_dir).glob("*.zip")):
            zips.append(f.read_bytes())

    if not zips:
        print("No span zips found (need --github_repository and/or --zip_cache_dir)")
        return 1

    spans = read_spans_from_zip(spark, zips)
    print(f"Loaded {spans.count()} spans from {len(zips)} zip(s)")
    summary = summarize_spans(spans)
    try:
        out = write_static_data(summary, args.output_www_root_directory)
    finally:
        summary.release()
    print(f"Wrote {out}")
    return 0


def main() -> int:
    p = argparse.ArgumentParser(prog="composable_logs_spark")
    p.add_argument("command", choices=["pynb-log-parser", "generate-static-data"])
    ns, rest = p.parse_known_args()
    if ns.command == "pynb-log-parser":
        return pynb_log_parser(rest)
    return generate_static_data(rest)


def entry_pynb_log_parser() -> int:
    """console_script: same name the reference installs (setup.py:97)."""
    return pynb_log_parser(sys.argv[1:])


def entry_generate_static_data() -> int:
    """console_script: same name the reference installs (setup.py:98)."""
    return generate_static_data(sys.argv[1:])


if __name__ == "__main__":
    sys.exit(main())
