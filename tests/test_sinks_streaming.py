"""Sinks (S6/S7/S9), streaming ingest (S5), SpanRecorder, multimodal."""

import json
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from composable_logs_spark.plans import summarize_spans
from composable_logs_spark.sinks import (
    make_mermaid_dag,
    make_mermaid_gantt,
    write_spans_to_directory,
    write_static_data,
)
from composable_logs_spark.sinks.report import collect_report
from composable_logs_spark.spanlog import SpanWriter, read_span_jsonl
from composable_logs_spark.spanlog import fixtures as FX
from composable_logs_spark.streaming import SpanRecorder, stream_task_runs
from composable_logs_spark.operators.multimodal import (
    extract_features,
    media_checksums,
    synthetic_media_from_documents,
)

from conftest import spans_df


def test_directory_sink(spark, tmp_path):
    # single run -> reference-identical layout at the base directory
    # (cli_pynb_log_parser.py:38-81): task dirs + top-level metadata json
    s = summarize_spans(spans_df(spark, FX.logged_values_fixture(4)))
    created = write_spans_to_directory(s, tmp_path)
    task_dirs = [p for p in Path(tmp_path).glob("python-task--*")]
    assert len(task_dirs) == 3
    assert all("--OK" in p.name for p in task_dirs)
    assert (Path(tmp_path) / "run-time-metadata.json").exists()
    # artifacts decoded to files under artifacts/ (reference :76-81)
    pngs = list(Path(tmp_path).glob("*/artifacts/plot.png"))
    assert len(pngs) == 1
    assert pngs[0].read_bytes() == bytes(range(256)) * 4
    # metadata json includes logged values
    meta = json.loads(
        next(Path(tmp_path).glob("python-task--h--*/run-time-metadata.json")).read_text()
    )
    assert meta["logged_values"]["an_int"] == 42
    assert meta["is_success"] is True


def test_directory_sink_failed_status(spark, tmp_path):
    s = summarize_spans(spans_df(spark, FX.parallel_fail(1)))
    write_spans_to_directory(s, tmp_path)
    assert len(list(Path(tmp_path).glob("python-task--g--*--FAILED"))) == 1
    assert len(list(Path(tmp_path).glob("*--OK"))) == 2


def test_directory_sink_reference_golden_parity(spark, tmp_path):
    """Byte-for-byte naming parity with the reference's task_dir builder
    (cli_pynb_log_parser.py:59-70): '--'.join([f'{type}-task',
    id.replace('/','-').replace('.','-'), span_id, OK|FAILED])."""
    spans = FX.compose3(7)
    # give one task an id exercising the '/' and '.' replacements
    for s in spans:
        if s.get("attributes", {}).get("task.id") == "input_1":
            s["attributes"]["task.id"] = "nb/ingest.py"
    summary = summarize_spans(spans_df(spark, spans))
    write_spans_to_directory(summary, tmp_path)
    rows = {r["task_id"]: r for r in summary.task_runs.collect()}

    def ref_task_dir(t):  # the reference's expression, verbatim semantics
        return "--".join(
            [
                f"{t['task_type']}-task",
                t["task_id"].replace("/", "-").replace(".", "-"),
                t["span_id"],
                "OK" if t["is_success"] else "FAILED",
            ]
        )

    expected = {ref_task_dir(t) for t in rows.values()}
    got = {p.name for p in Path(tmp_path).iterdir() if p.is_dir()}
    assert expected == got
    assert "python-task--nb-ingest-py--" in "".join(sorted(got))


def test_directory_sink_multi_run_layout(spark, tmp_path):
    spans = FX.compose3(0) + FX.parallel_fail(1)
    s = summarize_spans(spans_df(spark, spans))
    write_spans_to_directory(s, tmp_path)
    run_dirs = [p for p in Path(tmp_path).iterdir() if p.is_dir()]
    assert len(run_dirs) == 2
    for rd in run_dirs:
        assert (rd / "run-time-metadata.json").exists()
        assert list(rd.glob("python-task--*"))


def test_mermaid_dag(spark):
    # reference input-file format (mermaid_graphs.py:49-114):
    # TASK_SPAN_ID_ node ids, header "{id} ({Type} task)", <a href> links
    # with sorted task.* attribute lines, comment banner
    s = summarize_spans(spans_df(spark, FX.compose3(0)))
    run_id = s.workflow_runs.collect()[0]["run_id"]
    mmd = make_mermaid_dag(s, run_id)
    assert mmd.startswith("graph LR")
    assert "%% See https://mermaid-js.github.io/mermaid" in mmd
    assert "TASK_SPAN_ID_0x" in mmd
    assert "<b>input_1 (Python task) 🔗</b>" in mmd
    assert "task.x=1" in mmd
    assert mmd.count("-->") == 2
    assert "/#/experiments/input_1/runs/" in mmd
    # nolinks variant: plain headers, no <a href>
    nolinks = make_mermaid_dag(s, run_id, generate_links=False)
    assert "<a href" not in nolinks
    assert '["input_1 (Python task)"]' in nolinks


def test_mermaid_dag_marks_failures(spark):
    s = summarize_spans(spans_df(spark, FX.parallel_fail(1)))
    run_id = s.workflow_runs.collect()[0]["run_id"]
    mmd = make_mermaid_dag(s, run_id)
    assert "❌" in mmd


def test_mermaid_gantt(spark):
    s = summarize_spans(spans_df(spark, FX.compose3(0)))
    run_id = s.workflow_runs.collect()[0]["run_id"]
    g = make_mermaid_gantt(s, run_id)
    assert g.startswith("gantt")
    assert "    dateFormat x" in g  # unix-ms timestamps, reference :117-161
    assert "    section input_1 (Python task)" in g
    assert "    section process (Python task)" in g
    assert " - OK : " in g


def _jobs_in(spark, group: str) -> int:
    """Spark jobs run so far under ``group``. The status store is filled
    from the listener bus asynchronously, so drain the bus first."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sinks_render_collected_report_without_spark(spark, tmp_path):
    s = summarize_spans(spans_df(spark, FX.compose3(0) + FX.parallel_fail(1)))
    report = collect_report(s)
    sc = spark.sparkContext
    sc.setJobGroup("sinks-from-report", "render a collected report")
    try:
        write_spans_to_directory(report, tmp_path / "dir")
        for w in report.workflows:
            make_mermaid_dag(report, w["run_id"])
            make_mermaid_gantt(report, w["run_id"])
        write_static_data(report, tmp_path / "www")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _jobs_in(spark, "sinks-from-report") == 0
    assert len(json.loads((tmp_path / "www" / "static_data.json").read_text())) == 8


def test_sinks_share_one_collect_per_summary(spark, tmp_path):
    s = summarize_spans(spans_df(spark, FX.logged_values_fixture(4)))
    run_id = s.workflow_runs.first()["run_id"]  # outside the measured group
    sc = spark.sparkContext
    sc.setJobGroup("sinks-one-collect", "four sinks, one summary")
    try:
        write_spans_to_directory(s, tmp_path / "dir")
        after_first = _jobs_in(spark, "sinks-one-collect")
        make_mermaid_dag(s, run_id)
        make_mermaid_gantt(s, run_id)
        write_static_data(s, tmp_path / "www")
        after_fourth = _jobs_in(spark, "sinks-one-collect")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert after_first > 0
    assert after_fourth == after_first


def _dag_nodes(mmd: str) -> list[str]:
    """Task ids of a no-links DAG's node lines, in order."""
    return [ln.split('["')[1].split(" (")[0] for ln in mmd.splitlines() if '["' in ln]


def test_mermaid_dag_scoped_to_its_run(spark):
    # span ids collide across runs (counter-based per trace), so a DAG
    # keyed on span ids alone would pull in the other run's nodes/edges
    s = summarize_spans(spans_df(spark, FX.compose3(0) + FX.diamond5(2)))
    tasks: dict[str, set] = {}
    n_deps: dict[str, int] = {}
    for r in s.task_runs.collect():
        tasks.setdefault(r["run_id"], set()).add(r["task_id"])
    for r in s.deps.collect():
        n_deps[r["run_id"]] = n_deps.get(r["run_id"], 0) + 1
    assert sorted(map(len, tasks.values())) == [3, 5]
    assert sorted(n_deps.values()) == [2, 4]
    for run_id, task_ids in tasks.items():
        mmd = make_mermaid_dag(s, run_id, generate_links=False)
        assert set(_dag_nodes(mmd)) == task_ids
        assert mmd.count("-->") == n_deps[run_id]


def test_mermaid_unknown_run_id_raises(spark):
    s = summarize_spans(spans_df(spark, FX.compose3(0)))
    for render in (make_mermaid_dag, make_mermaid_gantt):
        with pytest.raises(ValueError, match="no-such-run"):
            render(s, "no-such-run")


def test_mermaid_equal_start_times_order_by_span_id(spark):
    # twelve tasks all starting at t=0, task ids not in span-id order,
    # spans loaded reversed: ties must break on span_id, not partitions
    b = FX.SpanFixtureBuilder(0)
    order = [f"task_{(7 * i) % 12:02d}" for i in range(12)]
    for i, task_id in enumerate(order):
        b.add_task(task_id, 0.0, 1.0 + i)
    s = summarize_spans(spans_df(spark, b.build()[::-1]))
    run_id = collect_report(s).workflows[0]["run_id"]
    gantt = make_mermaid_gantt(s, run_id)
    sections = [ln.split("section ")[1].split(" (")[0] for ln in gantt.splitlines() if "section" in ln]
    assert sections == order
    assert _dag_nodes(make_mermaid_dag(s, run_id, generate_links=False)) == order


def test_static_data_sink(spark, tmp_path):
    spans = FX.compose3(0) + FX.parallel_fail(1)
    s = summarize_spans(spans_df(spark, spans))
    out = write_static_data(s, tmp_path)
    data = json.loads(out.read_text())
    assert len(data) == 8  # 2 workflows + 6 tasks
    kinds = {e["entry_type"] for e in data}
    assert kinds == {"workflow", "task"}
    # mermaid reporting artifacts per run (multi-run: nested under run_id)
    assert len(list(Path(tmp_path).glob("*/artifacts/workflow/*/dag.mmd"))) == 2
    assert len(list(Path(tmp_path).glob("*/artifacts/workflow/*/gantt.mmd"))) == 2


def test_span_recorder(spark, tmp_path):
    w = SpanWriter(tmp_path)
    w.write_many(FX.compose3(0))
    with SpanRecorder(spark, tmp_path) as rec:
        w2 = SpanWriter(tmp_path)
        w2.write_many(FX.parallel_fail(1))
    new_names = {r["run_id"] for r in
                 rec.spans.select(F.col("context.trace_id").alias("run_id")).collect()}
    assert new_names == {f"0x{1:032x}"}
    assert rec.spans.count() == len(FX.parallel_fail(1))


def test_stream_matches_batch(spark, tmp_path):
    log_dir = tmp_path / "log"
    ckpt = tmp_path / "ckpt"
    log_dir.mkdir()
    SpanWriter(log_dir).write_many(FX.compose3(0))

    seen = []
    q = stream_task_runs(
        spark, log_dir, lambda df, bid: seen.append(df.collect()), str(ckpt)
    )
    try:
        q.processAllAvailable()
        # new file arrives -> new micro-batch
        SpanWriter(log_dir).write_many(FX.parallel_fail(1))
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {(r["run_id"], r["task_id"]) for batch in seen for r in batch}
    batch_rows = summarize_spans(read_span_jsonl(spark, log_dir)).task_runs
    expected = {(r["run_id"], r["task_id"]) for r in batch_rows.collect()}
    assert streamed == expected
    assert len(streamed) == 6


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Watermarked dedup drops re-emitted spans across micro-batches while
    keeping state bounded (vs. dropDuplicates' forever-state)."""
    log_dir = tmp_path / "log"
    ckpt = tmp_path / "ckpt"
    log_dir.mkdir()
    SpanWriter(log_dir).write_many(FX.compose3(0))

    seen = []
    q = stream_task_runs(
        spark,
        log_dir,
        lambda df, bid: seen.append(df.collect()),
        str(ckpt),
        dedup_within="48 hours",
    )
    try:
        q.processAllAvailable()
        # the same run re-emitted into a new file: every span is a
        # duplicate within the watermark window -> no new task rows
        SpanWriter(log_dir).write_many(FX.compose3(0))
        q.processAllAvailable()
        # a genuinely new run still flows through
        SpanWriter(log_dir).write_many(FX.parallel_fail(1))
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = [(r["run_id"], r["task_id"]) for batch in seen for r in batch]
    assert len(streamed) == len(set(streamed)) == 6  # no dup rows emitted
    batch_rows = summarize_spans(read_span_jsonl(spark, log_dir)).task_runs
    assert set(streamed) == {(r["run_id"], r["task_id"]) for r in batch_rows.collect()}


def test_stream_progress_metrics(spark, tmp_path):
    """ProgressRecorder captures per-batch rows + durations for an
    ingest query (the alert-on-lag observability hook)."""
    from composable_logs_spark.streaming.metrics import (
        attach_progress_recorder,
        detach,
    )

    log_dir = tmp_path / "log"
    ckpt = tmp_path / "ckpt"
    log_dir.mkdir()
    SpanWriter(log_dir).write_many(FX.compose3(0))

    rec = attach_progress_recorder(spark)
    try:
        q = stream_task_runs(spark, log_dir, lambda df, bid: df.count(), str(ckpt))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener events are delivered asynchronously
        import time

        deadline = time.time() + 30
        while time.time() < deadline and not rec.progress:
            time.sleep(0.5)
    finally:
        detach(spark, rec)

    batches = [p for p in rec.progress if p["num_input_rows"] > 0]
    assert batches, rec.progress
    assert all(p["duration_ms"] for p in batches)
    assert sum(p["num_input_rows"] for p in batches) >= 10  # compose3 spans


def test_media_features_roundtrip(spark, sf_dir):
    media = synthetic_media_from_documents(spark, sf_dir)
    feats = extract_features(media)
    row = feats.orderBy("media_id").first()
    assert len(row["features"]) == 16
    assert abs(sum(row["features"]) - 1.0) < 1e-9
    # cross-check one histogram in pure python
    doc = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .orderBy("doc_id")
        .first()
    )
    data = doc["text"].encode()
    hist = [0] * 16
    for b in data:
        hist[b % 16] += 1
    assert row["features"] == [h / len(data) for h in hist]
    assert row["n_bytes"] == len(data)


def test_media_decode_stub_raises(spark, sf_dir):
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    media = synthetic_media_from_documents(spark, sf_dir).limit(1)
    from composable_logs_spark.operators.multimodal import resize_images

    with _pytest.raises(Exception) as ei:
        resize_images(media, 64, 64).collect()
    assert "NotImplementedError" in str(ei.value) or "media codecs" in str(ei.value)


def test_static_data_reference_layout(spark, tmp_path):
    """Single-run www-root matches the reference CLI layout
    (cli_generate_static_data.py:75-175): workflow reporting artifacts
    under artifacts/workflow/{span}/, task artifacts + metadata under
    artifacts/task/{span}/, parent_span_id links in static_data.json."""
    s = summarize_spans(spans_df(spark, FX.logged_values_fixture(4)))
    out = write_static_data(s, tmp_path)
    data = json.loads(out.read_text())
    wf = [e for e in data if e["type"] == "workflow"]
    tasks = [e for e in data if e["type"] == "task"]
    assert len(wf) == 1 and len(tasks) == 3
    assert all(t["parent_span_id"] == wf[0]["span_id"] for t in tasks)

    wdir = Path(tmp_path) / "artifacts" / "workflow" / wf[0]["span_id"]
    assert {p.name for p in wdir.iterdir()} == {
        "dag.mmd", "dag-nolinks.mmd", "gantt.mmd", "run-time-metadata.json",
    }
    h = next(t for t in tasks if t["task_id"] == "h")
    tdir = Path(tmp_path) / "artifacts" / "task" / h["span_id"]
    assert (tdir / "plot.png").read_bytes() == bytes(range(256)) * 4
    assert "run-time-metadata.json" in h["artifacts"]
    assert h["logged_values"]["an_int"] == 42


def test_release_keeps_persistent_rdds_flat(spark):
    # every summary caches its per-run frame; release() must drop it, or
    # a long-lived caller (a stream, a server) piles up cached RDDs
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    counts = []
    for i in range(4):
        s = summarize_spans(spans_df(spark, FX.compose3(10 + i)))
        collect_report(s)
        assert jsc.getPersistentRDDs().size() > before  # the cache is live
        s.release()
        counts.append(jsc.getPersistentRDDs().size())
    assert counts == [before] * 4


def test_report_bytes_independent_of_shuffle_partitions(spark, tmp_path):
    spans = (
        FX.compose3(0) + FX.parallel_fail(1) + FX.diamond5(2)
        + FX.logged_values_fixture(4) + FX.notebook_ok(5)
    )
    outs = []
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (2, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            s = summarize_spans(spans_df(spark, spans))
            www = write_static_data(s, tmp_path / f"www{n}")
            run_id = collect_report(s).workflows[2]["run_id"]
            outs.append((www.read_bytes(), make_mermaid_dag(s, run_id)))
            s.release()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert outs[0] == outs[1]
