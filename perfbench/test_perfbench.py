"""Tests of the benchmark itself: generator, checker, metric names and
a smoke run of each workload at a tiny size.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import contextlib
import gzip
import json
import re
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from corpus import FileTruth, write_cv_corpus
from tables import write_tables
from tracing import read_event_log
from workloads import BatchWorkload, Sizes, check_stream_files, check_tallies

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _records(directory: Path) -> list[dict]:
    out = []
    for path in sorted(directory.iterdir()):
        raw = path.read_bytes()
        if path.suffix == ".gz":
            raw = gzip.decompress(raw)
        out += [json.loads(line) for line in raw.splitlines() if line.strip()]
    return out


def _invalid(directory: Path) -> list[bool]:
    return [
        r["metadata"]["securityResultCode"] == "bogus" for r in _records(directory)
    ]


def test_same_seed_same_bytes(tmp_path):
    a = write_cv_corpus(str(tmp_path / "a"), 7, 4, 50)
    b = write_cv_corpus(str(tmp_path / "b"), 7, 4, 50)
    assert a == b
    for t in a:
        assert (tmp_path / "a" / t.name).read_bytes() == (
            tmp_path / "b" / t.name
        ).read_bytes()
    assert [t.name.endswith(".gz") for t in a] == [False, True, False, True]


def test_other_seed_moves_invalid_records(tmp_path):
    write_cv_corpus(str(tmp_path / "a"), 1, 2, 500)
    write_cv_corpus(str(tmp_path / "b"), 2, 2, 500)
    a, b = _invalid(tmp_path / "a"), _invalid(tmp_path / "b")
    assert a != b
    # about one record in seven is invalid
    assert 0.09 < sum(a) / len(a) < 0.2


def test_truth_matches_files(tmp_path):
    truth = write_cv_corpus(str(tmp_path), 3, 3, 100)
    records = _records(tmp_path)
    assert sum(t.records for t in truth) == len(records)
    assert sum(t.invalid for t in truth) == sum(_invalid(tmp_path))
    for t in truth:
        assert t.bytes == (tmp_path / t.name).stat().st_size


TRUTH = [FileTruth("cv_0000.json", 10, 2, 100), FileTruth("cv_0001.json.gz", 5, 0, 50)]


def _tally(t: FileTruth, **change) -> dict:
    row = {
        "file_path": f"file:/x/{t.name}",
        "num_messages_total": t.records,
        "num_validations": 43 * t.records,
        "num_errors": 2 * t.invalid,
        "num_error_messages": t.invalid,
        "num_valid_messages": t.records - t.invalid,
    }
    return {**row, **change}


def _counts() -> list[dict]:
    return [
        {"file_path": f"file:/x/{t.name}", "MessageCount": t.records} for t in TRUTH
    ]


def test_checker_accepts_truth():
    assert check_tallies(TRUTH, [_tally(t) for t in TRUTH], _counts()) == []


def test_checker_flags_corrupted_tally():
    tallies = [_tally(TRUTH[0], num_errors=3), _tally(TRUTH[1])]
    assert len(check_tallies(TRUTH, tallies, _counts())) == 1
    assert check_tallies(TRUTH, [_tally(TRUTH[0])], _counts())
    counts = _counts()
    counts[1]["MessageCount"] = 4
    assert check_tallies(TRUTH, [_tally(t) for t in TRUTH], counts)


def test_stream_checker_flags_wrong_file():
    good = {t.name: (43 * t.records, 2 * t.invalid) for t in TRUTH}
    assert check_stream_files(TRUTH, good) == []
    bad = {**good, "cv_0000.json": (43 * 10, 3)}
    assert check_stream_files(TRUTH, bad) == ["cv_0000.json"]
    del bad["cv_0001.json.gz"]
    assert len(check_stream_files(TRUTH, bad)) == 2


class _Row(dict):
    def asDict(self):
        return dict(self)


class _Frame:
    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return [_Row(r) for r in self.rows]

    def count(self):
        return len(self.rows)


class _Spark:
    """Stands in for the session: ``read.parquet`` returns the rows
    the pass is supposed to have written."""

    def __init__(self, tables):
        self.read = self
        self.tables = tables
        self.reads_in_span = 0
        self.in_span = False

    def parquet(self, path):
        self.reads_in_span += self.in_span
        return _Frame(self.tables[path.rsplit("/", 1)[1]])


def _progress(truth):
    records = sum(t.records for t in truth)
    invalid = sum(t.invalid for t in truth)
    return {"validation": {"n_validations": 43 * records, "n_errors": 2 * invalid}}


def _written(corrupt=None):
    """The tables a correct pass over ``TRUTH`` writes, with one
    corruption applied."""
    tallies = [_tally(t) for t in TRUTH]
    validations = [{}] * (43 * sum(t.records for t in TRUTH))
    if corrupt == "tally":
        tallies = [_tally(TRUTH[0], num_valid_messages=9), tallies[1]]
    elif corrupt == "validation_rows":
        validations = validations[1:]
    elif corrupt == "sequential_rows":
        return {
            "file_tallies": tallies,
            "file_counts": _counts(),
            "validation_results": validations,
            "sequential_results": [{}],
        }
    return {
        "file_tallies": tallies,
        "file_counts": _counts(),
        "validation_results": validations,
        "sequential_results": [],
    }


def _batch(tmp_path, tables):
    wl = BatchWorkload(_Spark(tables), tmp_path, 1, Sizes(2, 10, 0), truth=TRUTH)
    wl.ruleset = SimpleNamespace(sequential=False)
    wl.run_pass = lambda: ([_tally(t) for t in TRUTH], _progress(TRUTH))
    return wl


@pytest.mark.parametrize(
    "corrupt", [None, "tally", "validation_rows", "sequential_rows"]
)
def test_corrupted_result_is_a_failed_op(tmp_path, corrupt):
    wl = _batch(tmp_path, _written(corrupt))
    op = wl.op()
    assert op.ok is (corrupt is None)
    assert bool(wl.problems) is (corrupt is not None)


def test_op_starts_from_an_empty_output_dir(tmp_path):
    wl = _batch(tmp_path, _written())
    stale = Path(wl.output_dir) / "file_tallies"
    stale.mkdir(parents=True)
    seen = []
    wl.run_pass = lambda: (
        seen.append(stale.exists()) or ([_tally(t) for t in TRUTH], _progress(TRUTH))
    )
    assert wl.op().ok
    assert seen == [False]


def test_span_covers_the_pass_but_not_the_check(tmp_path):
    wl = _batch(tmp_path, _written())
    spans = []

    @contextlib.contextmanager
    def span():
        spans.append("open")
        wl.spark.in_span = True
        try:
            yield
        finally:
            wl.spark.in_span = False

    assert wl.op(span).ok
    assert spans == ["open"]
    assert wl.spark.reads_in_span == 0


def test_tables_are_seeded(tmp_path):
    rows = write_tables(str(tmp_path / "a"), 5, 0.001)
    write_tables(str(tmp_path / "b"), 5, 0.001)
    write_tables(str(tmp_path / "c"), 6, 0.001)
    assert rows["lineitem"] == 6000 and rows["documents"] == 500
    same = [
        (tmp_path / "a" / f"{t}.parquet").read_bytes()
        == (tmp_path / "b" / f"{t}.parquet").read_bytes()
        for t in rows
    ]
    assert all(same)
    assert (tmp_path / "a" / "orders.parquet").read_bytes() != (
        tmp_path / "c" / "orders.parquet"
    ).read_bytes()


def test_event_log_sums_stage_metrics_per_group(tmp_path):
    def stage(kind, sid, group=None, acc=()):
        event = {"Event": kind, "Stage Info": {"Stage ID": sid}}
        if group is not None:
            event["Properties"] = {"spark.jobGroup.id": group}
        event["Stage Info"]["Accumulables"] = [
            {"Name": f"internal.metrics.{n}", "Value": v} for n, v in acc
        ]
        return json.dumps(event)

    lines = [
        stage("SparkListenerStageSubmitted", 1, "op.0"),
        stage("SparkListenerStageSubmitted", 2, "op.1"),
        stage("SparkListenerStageCompleted", 1, acc=[
            ("executorRunTime", 300), ("input.bytesRead", "1000"),
            ("memoryBytesSpilled", 5), ("diskBytesSpilled", 7),
        ]),
        stage("SparkListenerStageCompleted", 2, acc=[("jvmGCTime", 40)]),
        stage("SparkListenerStageCompleted", 2, acc=[
            ("shuffle.write.bytesWritten", 64), ("jvmGCTime", 2),
        ]),
    ]
    (tmp_path / "app-1").write_text("\n".join(lines) + "\n")
    totals = read_event_log(str(tmp_path))
    assert totals["op.0"]["run_ms"] == 300
    assert totals["op.0"]["input_bytes"] == 1000
    assert totals["op.0"]["spill_bytes"] == 12
    assert totals["op.1"]["gc_ms"] == 42
    assert totals["op.1"]["shuffle_bytes"] == 64


def test_spec_names_and_units():
    assert set(SPEC) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    names = [w["name"] for w in SPEC["workloads"]]
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    all_names = names + [m["name"] for m in metrics]
    assert len(all_names) == len(set(all_names))
    assert all(NAME.match(n) for n in all_names)
    assert all(UNIT.match(m["unit"]) for m in metrics)
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_smoke(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
