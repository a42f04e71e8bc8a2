"""Traced run: per-layer timings and Spark counters.

Tracing here is two things the untraced run does not do:

* every op and layer runs under its own ``setJobGroup`` tag, and the job
  and task counts of a tag come from ``statusTracker()``;
* Spark's event log is on (``get_spark(extra_conf=event_log_conf(..))``),
  and after the session stops the log is read for per-stage input,
  shuffle and spill bytes, GC time and executor run time, attributed to
  the tag that submitted the stage.

Layers are timed from the benchmark's own code by forcing each public
frame of a ``run_cv_pipeline`` result with a ``noop`` write. Each
layer's input is persisted first, so a layer's time is its own work on
materialised input, not a recomputation of everything upstream. The
registry's headline queries are checked against their oracles and
timed the same way, one tag per query.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import replace
from pathlib import Path

STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}

STREAMING_DURATIONS = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.add_batch_s": "addBatch",
    "streaming.wal_commit_s": "walCommit",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """One plain JSON-lines file per application under ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum completed-stage metrics per job group found in the event
    logs under ``log_dir``."""
    group_of: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = {}
    for path in Path(log_dir).iterdir():
        with open(path) as fh:
            for line in fh:
                event = json.loads(line)
                kind = event["Event"]
                if kind == "SparkListenerStageSubmitted":
                    props = event.get("Properties") or {}
                    stage = event["Stage Info"]["Stage ID"]
                    group_of[stage] = props.get("spark.jobGroup.id") or ""
                elif kind == "SparkListenerStageCompleted":
                    info = event["Stage Info"]
                    group = group_of.get(info["Stage ID"], "")
                    acc = totals.setdefault(
                        group, dict.fromkeys(set(STAGE_METRICS.values()), 0.0)
                    )
                    for item in info.get("Accumulables", []):
                        key = STAGE_METRICS.get(item.get("Name"))
                        if key:
                            acc[key] += float(item["Value"])
    return totals


class Tracker:
    """Job tags, span times and statusTracker counts per tag."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.seen_stages: set[int] = set()
        self.seconds: dict[str, float] = {}

    @contextmanager
    def span(self, group: str):
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[group] = time.perf_counter() - t0
            self.sc.setJobGroup("untagged", "between spans")

    def counts(self, group: str) -> tuple[int, int]:
        """(jobs, tasks) of a tag; a stage reused from an earlier tag
        is not counted again."""
        jobs = self.status.getJobIdsForGroup(group)
        tasks = 0
        for job in jobs:
            info = self.status.getJobInfo(job)
            for stage in info.stageIds if info else []:
                if stage in self.seen_stages:
                    continue
                self.seen_stages.add(stage)
                stage_info = self.status.getStageInfo(stage)
                tasks += stage_info.numCompletedTasks if stage_info else 0
        return len(jobs), tasks


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _bytes_under(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def trace_layers(
    spark, tracker: Tracker, input_dir: str, ruleset, out_dir: str
) -> dict:
    """Time each pipeline layer over ``input_dir`` on persisted input.

    ``config_2.ini`` sets ``Sequential = False``, so the CLI pass
    writes an empty sequential table; the trace turns the flag on so
    the sequential operator runs on the same records."""
    from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import (
        run_cv_pipeline,
        write_tables,
    )
    from dev_dot_cvp_metadata_ingestion_spark.sources.files import file_lines

    m: dict[str, float] = {}
    cached = []

    def materialise(df):
        with tracker.span("layer.persist"):
            df.persist()
            df.count()
        cached.append(df)

    try:
        lines = file_lines(spark, input_dir)
        with tracker.span("layer.file_lines"):
            _noop(lines)
        m["sources.files.file_lines_s"] = tracker.seconds["layer.file_lines"]
        m["sources.files.file_lines_tasks"] = tracker.counts("layer.file_lines")[1]
        materialise(lines)

        with tracker.span("layer.run_cv_pipeline"):
            result = run_cv_pipeline(
                spark, input_dir, replace(ruleset, sequential=True)
            )
        m["plans.pipeline.run_cv_pipeline_s"] = tracker.seconds[
            "layer.run_cv_pipeline"
        ]

        layers = [
            ("sources.parse_s", "layer.parse", result.records),
            ("operators.validation.validate_s", "layer.validate", result.validation),
            (
                "operators.sequential.sequential_results_s",
                "layer.sequential",
                result.sequential,
            ),
            ("plans.pipeline.tallies_s", "layer.tallies", result.tallies),
            ("plans.pipeline.file_counts_s", "layer.file_counts", result.file_counts),
        ]
        for metric, group, df in layers:
            with tracker.span(group):
                _noop(df)
            m[metric] = tracker.seconds[group]
            if group in ("layer.parse", "layer.validate"):
                materialise(df)

        n_records = result.records.count()
        m["operators.validation.rows_per_record"] = (
            result.validation.count() / n_records
        )

        with tracker.span("layer.write_tables"):
            paths = write_tables(result, out_dir)
        m["plans.pipeline.write_tables_s"] = tracker.seconds["layer.write_tables"]
        m["plans.pipeline.bytes_written"] = _bytes_under(out_dir)
        # counted from the table, not by running the window again
        sequential = spark.read.parquet(paths["sequential_results"])
        m["operators.sequential.rows_out"] = sequential.count()

        with tracker.span("layer.tallies_collect"):
            result.tallies.collect()
        m["cli.tallies_collect_s"] = tracker.seconds["layer.tallies_collect"]
    finally:
        for df in cached:
            df.unpersist()
    return m


def trace_headline(spark, tracker: Tracker, tables_dir: str) -> tuple[dict, list]:
    """Run ``bench.py``'s headline queries over ``tables_dir``. First
    compare each query once with its ``oracle_sql()`` twin on DuckDB,
    in ``tools/check_oracle.py``'s canonical form; that pass also warms
    the queries. Then time each query, forced by a ``noop`` write under
    its own tag. Returns the per-query times and one message per query
    that raised or differs from its oracle."""
    import duckdb

    import __spark_entry__ as entry
    from bench import HEADLINE
    from tools.check_oracle import canonical

    queries, oracles = entry.queries(), entry.oracle_sql()
    problems = []
    con = duckdb.connect()
    try:
        for path in sorted(Path(tables_dir).glob("*.parquet")):
            con.execute(
                f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')"
            )
        for name in HEADLINE:
            try:
                df = queries[name](spark, tables_dir)
                got = canonical([tuple(r) for r in df.collect()], df.columns)
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                want = canonical(res.fetchall(), cols)
            except Exception as exc:  # counted as a failed query
                problems.append(f"{name} raised {type(exc).__name__}: {exc}")
                continue
            if sorted(df.columns) != sorted(cols) or got != want:
                problems.append(f"{name}: differs from its oracle")
    finally:
        con.close()

    m = {}
    for name in HEADLINE:
        with tracker.span(f"registry.{name}"):
            _noop(queries[name](spark, tables_dir))
        m[f"registry.{name}_s"] = tracker.seconds[f"registry.{name}"]
    return m, problems


def op_counters(
    counts: list[tuple[int, int]],
    events: dict[str, dict[str, float]],
    groups: list[str],
    op_seconds: list[float],
    ops_per_group: list[int],
    corpus_bytes: list[int],
    cores: int,
) -> dict[str, float]:
    """Median per-op Spark counters over the traced ops. ``counts`` is
    (jobs, tasks) per group from :meth:`Tracker.counts`. A group may
    hold several ops (a stream drain); its totals are split evenly."""
    rows = []
    for (jobs, tasks), group, secs, n_ops, size in zip(
        counts, groups, op_seconds, ops_per_group, corpus_bytes
    ):
        ev = events.get(group, {})
        rows.append(
            {
                "spark.jobs": jobs / n_ops,
                "spark.tasks": tasks / n_ops,
                "spark.input_read_amplification": ev.get("input_bytes", 0.0) / size,
                "spark.shuffle_bytes": ev.get("shuffle_bytes", 0.0) / n_ops,
                "spark.spill_bytes": ev.get("spill_bytes", 0.0) / n_ops,
                "spark.core_utilization": ev.get("run_ms", 0.0) / 1000 / (secs * cores),
                "spark.gc_s": ev.get("gc_ms", 0.0) / 1000 / n_ops,
            }
        )
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def stream_once(spark, files: list[str], ruleset, work: str) -> list[dict]:
    """Drain a directory holding copies of ``files`` through
    ``stream_cv_pipeline`` in a single availableNow trigger; return the
    query's progress reports."""
    from dev_dot_cvp_metadata_ingestion_spark.streaming.stream import (
        stream_cv_pipeline,
    )

    input_dir = f"{work}/in"
    os.makedirs(input_dir)
    for path in files:
        shutil.copy(path, input_dir)
    out = f"{work}/validation_results_stream"
    query = stream_cv_pipeline(
        spark,
        input_dir,
        ruleset,
        spark.read.json(input_dir).schema,
        lambda df, _: df.write.mode("append").parquet(out),
        f"{work}/checkpoint",
        max_files_per_trigger=len(files),
        available_now=True,
    )
    query.awaitTermination()
    return list(query.recentProgress)


def streaming_progress(progress: list[dict]) -> dict[str, float]:
    """Median per-trigger durations from ``StreamingQuery.recentProgress``."""
    batches = [p["durationMs"] for p in progress if p.get("numInputRows")]
    return {
        name: statistics.median(d.get(key, 0) for d in batches) / 1000
        for name, key in STREAMING_DURATIONS.items()
    }
