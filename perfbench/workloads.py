"""The benchmark's workloads: set-up, one timed op, and its check.

``BatchWorkload`` repeats the CLI batch sequence of
``python -m dev_dot_cvp_metadata_ingestion_spark --input --config
--output``: ``run_cv_pipeline`` -> ``observe_pipeline`` ->
``write_tables`` -> ``log_progress`` -> ``tallies.collect()``. One op is
one such pass over the whole corpus.

``StreamWorkload`` drains a directory with ``stream_cv_pipeline``
(availableNow, one file per trigger) into an appending parquet sink,
as ``--streaming`` does. One op is one micro-batch.

Every op is checked against the generator's ground truth; an op that
raises or disagrees with the truth counts as failed.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from corpus import (
    ERRORS_PER_INVALID,
    VALIDATIONS_PER_RECORD,
    FileTruth,
    write_cv_corpus,
)

CONFIG = (
    Path(__file__).resolve().parent.parent
    / "dev_dot_cvp_metadata_ingestion_spark"
    / "fixtures"
    / "config_2.ini"
)


@dataclass
class OpResult:
    seconds: float
    ok: bool
    records: int
    bytes: int


@dataclass
class Sizes:
    """Corpus shape of one workload. ``files`` is the batch corpus; a
    stream drain gets as many files as fill ``--seconds``."""

    files: int
    records_per_file: int
    warmup_ops: int


def check_tallies(
    truth: list[FileTruth], tallies: list[dict], counts: list[dict]
) -> list[str]:
    """Compare written ``file_tallies`` and ``file_counts`` rows with
    the ground truth; return one message per mismatch (empty = ok)."""
    want = {t.name: t for t in truth}
    errors = []
    for label, rows in (("file_tallies", tallies), ("file_counts", counts)):
        seen = {os.path.basename(r["file_path"]) for r in rows}
        if seen != set(want) or len(rows) != len(want):
            errors.append(f"{label}: files {sorted(seen)} != {sorted(want)}")
    for r in tallies:
        t = want.get(os.path.basename(r["file_path"]))
        if t is None:
            continue
        expect = {
            "num_messages_total": t.records,
            "num_validations": t.records * VALIDATIONS_PER_RECORD,
            "num_errors": t.invalid * ERRORS_PER_INVALID,
            "num_error_messages": t.invalid,
            "num_valid_messages": t.records - t.invalid,
        }
        got = {k: r[k] for k in expect}
        if got != expect:
            errors.append(f"file_tallies {t.name}: {got} != {expect}")
    for r in counts:
        t = want.get(os.path.basename(r["file_path"]))
        if t is not None and r["MessageCount"] != t.records:
            errors.append(
                f"file_counts {t.name}: {r['MessageCount']} != {t.records}"
            )
    return errors


def check_stream_files(
    truth: list[FileTruth], per_file: dict[str, tuple[int, int]]
) -> list[str]:
    """``per_file`` maps file name -> (validation rows, errors) read
    back from the stream sink; return the names of wrong files."""
    bad = []
    for t in truth:
        expect = (t.records * VALIDATIONS_PER_RECORD, t.invalid * ERRORS_PER_INVALID)
        if per_file.get(t.name) != expect:
            bad.append(t.name)
    return bad


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


@dataclass
class BatchWorkload:
    spark: object
    work: Path
    seed: int
    sizes: Sizes
    truth: list[FileTruth] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)

    @property
    def input_dir(self) -> str:
        return str(self.work / "in")

    @property
    def output_dir(self) -> str:
        return str(self.work / "out")

    def setup(self) -> None:
        from dev_dot_cvp_metadata_ingestion_spark.sources.rules import (
            load_rules_file,
        )

        self.truth = write_cv_corpus(
            self.input_dir,
            self.seed,
            self.sizes.files,
            self.sizes.records_per_file,
        )
        self.ruleset = load_rules_file(str(CONFIG))
        for _ in range(self.sizes.warmup_ops):
            if not self.op().ok:
                self.problems.append("a warm-up pass failed its check")

    def run_pass(self) -> tuple[list[dict], dict]:
        """The CLI batch sequence; returns the collected tallies and
        the observed progress counters."""
        from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import (
            log_progress,
            observe_pipeline,
            run_cv_pipeline,
            write_tables,
        )

        result = run_cv_pipeline(self.spark, self.input_dir, self.ruleset)
        result, observations = observe_pipeline(result)
        write_tables(result, self.output_dir)
        progress = log_progress(observations)
        tallies = _rows(result.tallies)
        return tallies, progress

    def op(self, span=contextlib.nullcontext) -> OpResult:
        """One timed pass, then its check. The output directory is
        removed first, as for a fresh CLI run, so tables left by an
        earlier pass cannot satisfy the check. ``span`` wraps the timed
        pass alone (the traced run passes a job-group tag)."""
        records = sum(t.records for t in self.truth)
        size = sum(t.bytes for t in self.truth)
        shutil.rmtree(self.output_dir, ignore_errors=True)
        t0 = time.perf_counter()
        try:
            with span():
                tallies, progress = self.run_pass()
        except Exception as exc:  # a failed op is counted, not fatal
            self.problems.append(f"pass raised {type(exc).__name__}: {exc}")
            return OpResult(time.perf_counter() - t0, False, records, size)
        dt = time.perf_counter() - t0
        return OpResult(dt, self.check(tallies, progress), records, size)

    def check(self, tallies: list[dict], progress: dict) -> bool:
        read = self.spark.read.parquet
        written = _rows(read(f"{self.output_dir}/file_tallies"))
        counts = _rows(read(f"{self.output_dir}/file_counts"))
        errors = check_tallies(self.truth, written, counts)
        errors += check_tallies(self.truth, tallies, counts)
        records = sum(t.records for t in self.truth)
        invalid = sum(t.invalid for t in self.truth)
        validations = read(f"{self.output_dir}/validation_results").count()
        if validations != records * VALIDATIONS_PER_RECORD:
            errors.append(
                f"validation_results: {validations} rows"
                f" != {records * VALIDATIONS_PER_RECORD}"
            )
        # config_2.ini turns the sequential checks off: an empty table
        sequential = read(f"{self.output_dir}/sequential_results").count()
        if not self.ruleset.sequential and sequential:
            errors.append(f"sequential_results: {sequential} rows != 0")
        expect = {
            "n_validations": records * VALIDATIONS_PER_RECORD,
            "n_errors": invalid * ERRORS_PER_INVALID,
        }
        got = {k: progress["validation"].get(k) for k in expect}
        if got != expect:
            errors.append(f"progress {got} != {expect}")
        self.problems += errors
        return not errors

    def run_ops(self, seconds: float) -> list[OpResult]:
        """Timed ops until their summed time reaches ``seconds``; the
        checks run between ops, outside the timed span."""
        ops: list[OpResult] = []
        while sum(o.seconds for o in ops) < seconds:
            ops.append(self.op())
        self.wall_s = sum(o.seconds for o in ops)
        return ops


@dataclass
class StreamWorkload:
    spark: object
    work: Path
    seed: int
    sizes: Sizes
    truth: list[FileTruth] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)

    def setup(self) -> None:
        from dev_dot_cvp_metadata_ingestion_spark.sources.rules import (
            load_rules_file,
        )

        self.ruleset = load_rules_file(str(CONFIG))
        warm = str(self.work / "warm_in")
        warm_truth = write_cv_corpus(
            warm,
            self.seed,
            self.sizes.warmup_ops,
            self.sizes.records_per_file,
            prefix="warm",
        )
        # the CLI infers the stream schema from the input directory
        self.schema = self.spark.read.json(warm).schema
        ops = self._drain(warm, warm_truth, "warm")
        tail = [o.seconds for o in ops[-3:]]
        self.batch_estimate_s = statistics.median(tail)

    def _drain(
        self, input_dir: str, truth: list[FileTruth], tag: str
    ) -> list[OpResult]:
        """One availableNow drain; op i spans from the end of batch
        i-1 (or the query start) to the end of batch i's sink write."""
        from dev_dot_cvp_metadata_ingestion_spark.streaming.stream import (
            stream_cv_pipeline,
        )

        out = str(self.work / f"{tag}_out" / "validation_results_stream")
        ends: list[float] = []

        def sink(df, batch_id):
            df.write.mode("append").parquet(out)
            ends.append(time.perf_counter())

        start = time.perf_counter()
        query = stream_cv_pipeline(
            self.spark,
            input_dir,
            self.ruleset,
            self.schema,
            sink,
            str(self.work / f"{tag}_checkpoint"),
            available_now=True,
        )
        try:
            query.awaitTermination()
        except Exception as exc:  # a failed drain fails its ops
            self.problems.append(f"drain raised {type(exc).__name__}: {exc}")
        self.drain_s = time.perf_counter() - start
        self.progress = list(query.recentProgress)
        per_file = self._read_back(out) if ends else {}
        wrong = set(check_stream_files(truth, per_file))
        if wrong:
            self.problems.append(f"{tag}: wrong files {sorted(wrong)}")
        if len(ends) != len(truth):
            self.problems.append(f"{tag}: {len(ends)} batches for {len(truth)} files")
        marks = [start] + ends
        return [
            OpResult(
                marks[i + 1] - marks[i] if i < len(ends) else 0.0,
                i < len(ends) and t.name not in wrong,
                t.records,
                t.bytes,
            )
            for i, t in enumerate(truth)
        ]

    def _read_back(self, out: str) -> dict[str, tuple[int, int]]:
        from pyspark.sql import functions as F

        rows = (
            self.spark.read.parquet(out)
            .groupBy("file_path")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((~F.col("valid")).cast("long")).alias("errors"),
            )
            .collect()
        )
        return {os.path.basename(r["file_path"]): (r["n"], r["errors"]) for r in rows}

    def run_ops(self, seconds: float) -> list[OpResult]:
        """One drain sized from the warm-up so that it lasts about
        ``seconds``; its files are written before the clock starts."""
        n = max(4, math.ceil(seconds / self.batch_estimate_s))
        n += n % 2  # as many gzip files as plain, so MB/s compares across runs
        src = str(self.work / "stream_in")
        shutil.rmtree(src, ignore_errors=True)
        self.truth = write_cv_corpus(
            src, self.seed, n, self.sizes.records_per_file, prefix="stream"
        )
        ops = self._drain(src, self.truth, "timed")
        # throughput counts the whole drain, commits included
        self.wall_s = self.drain_s
        return ops
