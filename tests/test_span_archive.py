"""Span archive: summarize(parquet archive) == summarize(raw JSONL), and
its layout: one parquet file per UTC start date, pruned on read."""

from datetime import datetime, timedelta, timezone

from composable_logs_spark.plans import summarize_spans
from composable_logs_spark.spanlog import SpanWriter, read_span_jsonl
from composable_logs_spark.spanlog import fixtures as FX
from composable_logs_spark.spanlog.archive import archive_spans, read_span_archive


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_archive_summarize_equivalence(spark, tmp_path):
    log_dir = tmp_path / "log"
    archive = tmp_path / "archive"
    log_dir.mkdir()
    SpanWriter(log_dir).write_many(FX.compose3(0))
    SpanWriter(log_dir).write_many(FX.parallel_fail(1))

    archive_spans(spark, log_dir, archive)

    raw = summarize_spans(read_span_jsonl(spark, log_dir))
    arch = summarize_spans(read_span_archive(spark, archive))
    assert _rows(arch.task_runs) == _rows(raw.task_runs)
    assert _rows(arch.workflow_runs) == _rows(raw.workflow_runs)
    assert _rows(arch.deps) == _rows(raw.deps)

    # layout: hive date partitions exist
    parts = [p.name for p in archive.iterdir() if p.name.startswith("archive_date=")]
    assert parts, list(archive.iterdir())


def _archive(spark, tmp_path, *logs):
    log_dir = tmp_path / "log"
    archive = tmp_path / "archive"
    log_dir.mkdir()
    for spans in logs:
        SpanWriter(log_dir).write_many(spans)
    archive_spans(spark, log_dir, archive)
    return log_dir, archive


def test_archive_one_file_per_utc_date(spark, tmp_path):
    # runs start one hour apart, so runs 30 and 31 fall on the day after
    # runs 0 and 1; each date's spans arrive in two files (two read tasks)
    logs = [FX.compose3(0), FX.parallel_fail(1), FX.compose3(30), FX.parallel_fail(31)]
    log_dir, archive = _archive(spark, tmp_path, *logs)
    dirs = sorted(p for p in archive.iterdir() if p.name.startswith("archive_date="))
    assert [p.name for p in dirs] == [
        "archive_date=2023-01-01",
        "archive_date=2023-01-02",
    ]
    assert all(len(list(p.glob("*.parquet"))) == 1 for p in dirs)
    n = read_span_jsonl(spark, log_dir).count()
    assert read_span_archive(spark, archive).count() == n == sum(map(len, logs))


def test_archive_date_read_prunes_partitions(spark, tmp_path):
    _, archive = _archive(spark, tmp_path, FX.compose3(0), FX.compose3(30))
    one = spark.read.parquet(str(archive)).where("archive_date = '2023-01-02'")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the date predicate lands in PartitionFilters (pruned directories),
    # not in a post-scan Filter over every partition
    assert "archive_date" in plan.split("PartitionFilters:")[1][:200]
    assert one.count() == len(FX.compose3(30))


def test_archive_date_is_utc_in_any_session_zone(spark, tmp_path):
    # 2024-01-02T02:00:00Z is still 2024-01-01 in Los Angeles
    idx = (datetime(2024, 1, 2, 2, tzinfo=timezone.utc) - FX.BASE_TS) // timedelta(hours=1)
    assert FX.compose3(idx)[0]["start_time"].startswith("2024-01-02T02:00:00")
    conf = "spark.sql.session.timeZone"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "America/Los_Angeles")
    try:
        _, archive = _archive(spark, tmp_path, FX.compose3(idx))
    finally:
        spark.conf.set(conf, old)
    assert [p.name for p in archive.iterdir() if p.name.startswith("archive_date=")] == [
        "archive_date=2024-01-02"
    ]
