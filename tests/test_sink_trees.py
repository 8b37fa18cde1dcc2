"""The directory and static-data sinks' output trees, pinned as digests of
every (relative path, bytes) pair, and the sinks' escape rule for
pre-existing symlinks. Spark-free but for one input: reports are built
from ``summarize_run`` rows or by hand.

The sinks keep an attribute map's key order. The kernel's maps are
key-sorted; ``collect()`` hands a map over in the JVM's hash-map order.
So the fixture mix is pinned twice: as the kernel's rows and as Spark
collects them."""

import hashlib
import os
import re
import subprocess
import sys
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pytest

from composable_logs_spark.plans import summarize_spans
from composable_logs_spark.plans.summarize import summarize_run
from composable_logs_spark.sinks import write_spans_to_directory, write_static_data
from composable_logs_spark.sinks.report import Report, build_report, collect_report
from composable_logs_spark.sinks.tree import tree_path, write_tree
from composable_logs_spark.spanlog.schema import MAX_SPANS_PER_RUN

from conftest import spans_df
from test_sinks_streaming import _hostile_report
from test_summarize import _fixture_mix

_ATTRS = pa.map_(pa.string(), pa.string())
_SPAN_TABLE = pa.schema(
    [(c, pa.string()) for c in ("run_id", "span_id", "parent_id", "name", "start_time",
                                "end_time", "status_code")]
    + [
        ("attributes", _ATTRS),
        ("events", pa.list_(pa.string())),
        ("links", pa.list_(pa.struct([
            ("context", pa.struct([("trace_id", pa.string()), ("span_id", pa.string())])),
            ("attributes", _ATTRS),
        ]))),
    ]
)


def _maps_as_dicts(v):
    """Arrow gives a map as a list of pairs; ``Row.asDict`` gives a dict."""
    if isinstance(v, list):
        return [_maps_as_dicts(x) for x in v]
    if isinstance(v, dict):
        return {
            k: dict(x) if k == "attributes" and x is not None else _maps_as_dicts(x)
            for k, x in v.items()
        }
    return v


def report_without_spark(spans: list[dict]) -> Report:
    """The report ``collect_report(summarize_spans(spans))`` collects, with
    each run summarised by the kernel in process. Fixture attributes are
    all strings, so the JSON reader's raw-text rule does not arise."""
    by_run: dict[str, list[dict]] = {}
    for s in spans:
        by_run.setdefault(s["context"]["trace_id"], []).append(s)
    rows = []
    for run_id, run in by_run.items():
        table = pa.Table.from_pylist(
            [
                {
                    "run_id": run_id,
                    "span_id": s["context"]["span_id"],
                    "parent_id": s["parent_id"],
                    "name": s["name"],
                    "start_time": s["start_time"],
                    "end_time": s["end_time"],
                    "status_code": s["status"]["status_code"],
                    "attributes": list(s["attributes"].items()),
                    "events": [e["name"] for e in s["events"]],
                    "links": [
                        {"context": ln["context"], "attributes": list(ln["attributes"].items())}
                        for ln in s["links"]
                    ],
                }
                for s in run
            ],
            schema=_SPAN_TABLE,
        )
        rows += _maps_as_dicts(summarize_run(table, MAX_SPANS_PER_RUN).to_pylist())
    return build_report(rows)


def _hand_report(runs: list[tuple[str, dict[str, bytes]]]) -> Report:
    """One workflow and one task (span ``t1``, id ``task``) per run, the
    task logging ``artifacts``; every run has the same span ids."""
    t0, t1 = datetime(2024, 1, 1, 0, 0, 0), datetime(2024, 1, 1, 0, 0, 5)
    report = Report([], [], {}, {}, {}, {})
    for i, (run_id, artifacts) in enumerate(runs):
        common = dict(run_id=run_id, start_time=t0, end_time=t1, duration_s=5.0 + i,
                      is_success=True, attributes={"workflow.run": run_id})
        report.workflows.append(dict(common, span_id="w1"))
        task = dict(common, span_id="t1", task_id="task", task_type="python", n_exceptions=0)
        report.tasks.append(task)
        report.tasks_by_run[run_id] = [task]
        report.deps_by_run[run_id] = []
        report.artifacts_by_task[(run_id, "t1")] = [
            {"name": n, "content": c} for n, c in artifacts.items()
        ]
    return report


def _colliding_report() -> Report:
    """Run ids ``a.b`` and ``a/b`` both map to the directory ``a-b``."""
    return _hand_report(
        [("a.b", {"x": b"from a.b", "only-a.b": b"kept"}), ("a/b", {"x": b"from a/b"})]
    )


def tree_digest(root: Path) -> str:
    """sha256 over every directory and every (relative path, bytes) pair
    under ``root``, in path order."""
    h = hashlib.sha256()
    for p in sorted(root.rglob("*"), key=lambda p: p.relative_to(root).as_posix()):
        rel = os.fsencode(p.relative_to(root).as_posix())
        if p.is_dir():
            h.update(b"d" + len(rel).to_bytes(4, "big") + rel)
        else:
            data = p.read_bytes()
            h.update(b"f" + len(rel).to_bytes(4, "big") + rel + len(data).to_bytes(8, "big") + data)
    return h.hexdigest()


def _collected_fixture_mix(request) -> Report:
    s = summarize_spans(spans_df(request.getfixturevalue("spark"), _fixture_mix()))
    try:
        return collect_report(s)
    finally:
        s.release()


_INPUTS = {
    "fixture_mix": lambda request: report_without_spark(_fixture_mix()),
    "fixture_mix_collected": _collected_fixture_mix,
    "hostile": lambda request: _hostile_report(),
    "colliding_run_dirs": lambda request: _colliding_report(),
}

# (directory sink, static-data sink) digests of the trees the serial
# sinks wrote, before the shared writer
_PINNED = {
    "fixture_mix": (
        "c08ce0dc59e88e693c728c97c9a10268b783760eed7128ded8ff29e80da0919b",
        "1941155d185342ada566600f6209f1a1a1362137797518f7fa1200f7e8b4e47e",
    ),
    "fixture_mix_collected": (
        "7edd2bbe64d6bb92b88f8eda48ca2406b4f6b11202df171e9b02f8ed8d3930c3",
        "c1fddb3ef6d8b891093d38d8b94f3ca85d18373318d8b721f748e2d62d773ff7",
    ),
    "hostile": (
        "f1349ad66500d9d9f975ea5da51d4c06c33027450f58c036486d2674fef2cee8",
        "4af92ac4543d35938246d5ac90016d6066a5f2e56db1beed5735e26ca87e080f",
    ),
    "colliding_run_dirs": (
        "3b233c41ad37741cb4aa4502137a0eb69354b73c0edcffbf7bdc08b5afb37820",
        "5379473866f7aaddf3353323db5b0e5f0849cac8571092bff0a9478113d46512",
    ),
}


@pytest.mark.parametrize("name", sorted(_INPUTS))
def test_sink_trees_pinned(request, tmp_path, name):
    report = _INPUTS[name](request)
    got = set()
    for i in range(20):  # the writer runs on a pool: every run must agree
        root = tmp_path / str(i)
        write_spans_to_directory(report, root / "dir")
        write_static_data(report, root / "www")
        got.add((tree_digest(root / "dir"), tree_digest(root / "www")))
    assert got == {_PINNED[name]}


def test_colliding_run_dirs_later_run_wins(tmp_path):
    report = _colliding_report()
    write_spans_to_directory(report, tmp_path / "dir")
    write_static_data(report, tmp_path / "www")
    art = tmp_path / "dir" / "a-b" / "python-task--task--t1--OK" / "artifacts"
    assert (art / "x").read_bytes() == b"from a/b"
    assert (art / "only-a.b").read_bytes() == b"kept"
    assert '"run_id": "a/b"' in (tmp_path / "dir" / "a-b" / "run-time-metadata.json").read_text()
    meta = tmp_path / "www" / "a-b" / "artifacts" / "task" / "t1" / "run-time-metadata.json"
    assert '"run_id": "a/b"' in meta.read_text()


def test_write_tree_under_frequent_thread_switches(tmp_path):
    # jobs of sibling directories race to create their shared parents
    files = {tree_path(f"d{i % 7}", f"e{i % 13}", f"f{i}"): b"%d" % i for i in range(400)}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        write_tree(tmp_path / "t", files)
    finally:
        sys.setswitchinterval(old)
    root = tmp_path / "t"
    got = {p.relative_to(root).as_posix(): p.read_bytes() for p in root.rglob("*") if p.is_file()}
    assert got == files


@pytest.mark.parametrize(
    "sink, link",
    [
        ("dir", "python-task--task--t1--OK"),
        ("www", "artifacts"),
        ("www", "artifacts/task/t1"),
    ],
)
def test_sinks_refuse_a_symlink_out_of_the_root(tmp_path, sink, link):
    sibling = tmp_path / "sibling"
    sibling.mkdir()
    root = tmp_path / sink
    (root / link).parent.mkdir(parents=True)
    (root / link).symlink_to(sibling, target_is_directory=True)
    report = _hand_report([("run", {"plot.png": b"png"})])
    write = write_spans_to_directory if sink == "dir" else write_static_data
    with pytest.raises(ValueError, match=re.escape(Path(link).name)):
        write(report, root)
    assert list(sibling.iterdir()) == []


@pytest.mark.parametrize("name", ["fixture_mix", "hostile", "colliding_run_dirs"])
def test_directory_sink_returns_each_file_once_under_out_dir(request, tmp_path, monkeypatch, name):
    monkeypatch.chdir(tmp_path)
    created = write_spans_to_directory(_INPUTS[name](request), "out")
    assert all(Path(p).exists() for p in created)
    assert sorted(created) == sorted(str(p) for p in Path("out").rglob("*") if p.is_file())


_WRITE_FAILED_RUN = """
import locale, sys
from pathlib import Path
from composable_logs_spark.sinks import write_spans_to_directory, write_static_data
from composable_logs_spark.spanlog import fixtures as FX
from test_sink_trees import report_without_spark
b = FX.SpanFixtureBuilder(2, {"env": "umlaut"})
b.add_task("ingest-\\u00fc", 0.0, 1.0, artifacts={"bericht-\\u00e4.txt": "gr\\u00fc\\u00dfe"})
report = report_without_spark(FX.parallel_fail(1) + b.build())
write_spans_to_directory(report, Path(sys.argv[1], "dir"))
write_static_data(report, Path(sys.argv[1], "www"))
print(locale.getpreferredencoding(False))
"""


def test_report_bytes_independent_of_locale(tmp_path):
    tests = Path(__file__).parent
    path = os.pathsep.join([str(tests.parent), str(tests)])
    ascii_env = dict(LC_ALL="POSIX", PYTHONCOERCECLOCALE="0", PYTHONUTF8="0")
    digests, encodings = [], []
    for i, env in enumerate([ascii_env, dict(LC_ALL="C.UTF-8")]):
        out = subprocess.run(
            [sys.executable, "-c", _WRITE_FAILED_RUN, str(tmp_path / str(i))],
            env=dict(os.environ, PYTHONPATH=path, **env),
            capture_output=True, text=True, timeout=300,
        )
        assert out.returncode == 0, out.stderr
        encodings.append(out.stdout.split()[-1])
        digests.append([tree_digest(tmp_path / str(i) / sink) for sink in ("dir", "www")])
    assert encodings[0] == "ANSI_X3.4-1968" and encodings[1] == "UTF-8"
    assert digests[0] == digests[1]
    dags = (tmp_path / "0" / "www").rglob("dag.mmd")
    assert any("❌" in dag.read_text(encoding="utf-8") for dag in dags)
    names = [os.fsencode(p.name) for p in (tmp_path / "0").rglob("*")]
    assert b"python-task--ingest-\xc3\xbc--0x0000000000000002--OK" in names
    assert b"bericht-\xc3\xa4.txt" in names
