"""End-to-end benchmark of the CVP ingest engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It generates its inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, builds one Spark
session on ``local[nproc]`` with a fixed driver heap, sets up and warms
the workload, times ops until their summed time reaches ``--seconds``,
checks every op against the generator's ground truth, and removes its
work directory.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a ``record`` object with the provenance and the
per-op times. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import replace  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "dev_dot_cvp_metadata_ingestion_spark"
# A fixed heap: the session's default follows MemAvailable, so on a
# shared machine heap, GC and RSS would follow other tenants.
DRIVER_MEMORY = "2g"
# Warm-up ops of the traced session, which starts in a JVM the
# untraced ops have already warmed. A stream drain needs one to size
# itself; the batch run has no time for one within its limit.
TRACED_WARMUP_OPS = {"batch_many_files": 0, "stream_drain": 1}
# Scale of the seeded tables the traced run's headline queries read;
# a larger one would not fit the traced batch run in its time limit.
HEADLINE_SF = 0.001


WORKLOADS = ("batch_many_files", "stream_drain")


def _sizes(workload: str, cores: int, tiny: bool):
    """Corpus and warm-up per workload; README.md gives the reasons."""
    from workloads import Sizes

    if tiny:
        return Sizes(files=2, records_per_file=20, warmup_ops=2)
    if workload == "batch_many_files":
        return Sizes(files=4 * cores, records_per_file=4000, warmup_ops=2)
    return Sizes(files=0, records_per_file=200, warmup_ops=12)


def _args(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--tiny", action="store_true", help="smoke-test sizes (not for timing)"
    )
    return p.parse_args(argv)


def _source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(path.relative_to(ROOT).as_posix().encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot; a run
    that took much of it was slowed by its neighbours."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _live_heap_mb(spark) -> float:
    """Heap still in use after a full collection once the timed ops
    are done: what the engine keeps between jobs, whatever heap size
    the JVM chose. Run after the last op, so no op is timed after it."""
    jvm = spark._jvm.java.lang
    jvm.System.gc()
    heap = jvm.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 1e6


def _pin_environment(work: Path) -> None:
    """Keep every file the run writes inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def _session(work: Path, cores: int, extra: dict[str, str]):
    from dev_dot_cvp_metadata_ingestion_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        **extra,
    }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _stop_jvm() -> None:
    """End the JVM behind the stopped sessions and wait for it; the
    gateway exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _provenance(spark, args, cores: int, truth) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": _git_sha(),
        "source_digest": _source_digest(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "corpus_files": len(truth),
        "corpus_bytes": sum(t.bytes for t in truth),
        "corpus_records": sum(t.records for t in truth),
    }


def _workload(args, spark, work: Path, cores: int, warmup_ops: int | None = None):
    from workloads import BatchWorkload, StreamWorkload

    kind = BatchWorkload if args.workload == "batch_many_files" else StreamWorkload
    sizes = _sizes(args.workload, cores, args.tiny)
    if warmup_ops is not None:
        sizes = replace(sizes, warmup_ops=warmup_ops)
    return kind(spark, work, args.seed, sizes)


def _end_to_end(ops, setup_s: float, heap_mb: float, wall_s: float) -> dict:
    records = sum(o.records for o in ops)
    size = sum(o.bytes for o in ops)
    return {
        "setup_s": setup_s,
        "records_per_s": records / wall_s,
        "input_mb_per_s": size / 1e6 / wall_s,
        "op_p50_s": statistics.median(o.seconds for o in ops),
        "jvm_live_heap_mb": heap_mb,
    }


def run_untraced(args, work: Path, cores: int) -> tuple[dict, dict]:
    """Set up, warm, time ops and check them, with tracing off."""
    spark, session_s = _session(work, cores, {})
    try:
        wl = _workload(args, spark, work / "untraced", cores)
        wl.setup()
        setup_s = time.perf_counter() - T0
        ops = wl.run_ops(args.seconds)
        rss_mb = _jvm_peak_rss_mb(spark)
        metrics = _end_to_end(ops, setup_s, _live_heap_mb(spark), wl.wall_s)
        record = _provenance(spark, args, cores, wl.truth)
    finally:
        spark.stop()
    record.update(
        session_s=session_s,
        jvm_peak_rss_mb=rss_mb,
        warmup_ops=wl.sizes.warmup_ops,
        op_seconds=[round(o.seconds, 4) for o in ops],
        ops_failed_ratio=sum(not o.ok for o in ops) / len(ops),
        problems=wl.problems[:20],
    )
    return record, {
        "correct": not wl.problems,
        "attempted": len(ops),
        "failed": sum(not o.ok for o in ops),
        "metrics": metrics,
    }


def run_traced(args, work: Path, cores: int) -> tuple[dict, dict]:
    """Run the untraced ops first, exactly as the untraced run does.
    Then run the workload again in a fresh session of the same JVM with
    job tags and the event log on, and time each layer and each
    headline query there. The tracing overhead is the ratio of the two
    op medians; the traced ops are the first of a new session, so it
    errs high."""
    from tables import write_tables
    from tracing import (
        Tracker,
        event_log_conf,
        op_counters,
        read_event_log,
        stream_once,
        streaming_progress,
        trace_headline,
        trace_layers,
    )

    spark, session_s = _session(work, cores, {})
    try:
        base = _workload(args, spark, work / "untraced", cores)
        base.setup()
        base_ops = base.run_ops(args.seconds)
    finally:
        spark.stop()
    problems = list(base.problems)

    log_dir = work / "eventlog"
    log_dir.mkdir()
    spark, _ = _session(work, cores, event_log_conf(str(log_dir)))
    try:
        tracker = Tracker(spark)
        wl = _workload(
            args, spark, work / "traced", cores, TRACED_WARMUP_OPS[args.workload]
        )
        wl.setup()
        if args.workload == "batch_many_files":
            ops, groups = [], []
            while sum(o.seconds for o in ops) < args.seconds:
                groups.append(f"op.{len(ops)}")
                ops.append(wl.op(lambda: tracker.span(groups[-1])))
            group_secs = [o.seconds for o in ops]
            group_ops = [1] * len(ops)
            group_bytes = [o.bytes for o in ops]
            layer_input = wl.input_dir
            # one plain and one gzip file: the streaming metrics only
            # have to exist here, and the whole corpus would not fit
            # the time limit
            once = [os.path.join(wl.input_dir, t.name) for t in wl.truth[:2]]
            with tracker.span("layer.stream"):
                progress = stream_once(
                    spark, once, wl.ruleset, str(work / "stream_once")
                )
            stream = streaming_progress(progress)
        else:
            ops = wl.run_ops(args.seconds)
            groups = [str(wl.progress[-1]["runId"])]
            group_secs, group_ops = [wl.wall_s], [len(ops)]
            group_bytes = [sum(o.bytes for o in ops)]
            layer_input = str(work / "traced" / "warm_in")
            stream = streaming_progress(wl.progress)
        # counted before the layers run, so a stage reused by a layer
        # stays with the op that first ran it
        op_counts = [tracker.counts(g) for g in groups]
        m = {"session.get_spark_s": session_s}
        m.update(
            trace_layers(
                spark, tracker, layer_input, wl.ruleset, str(work / "layers_out")
            )
        )
        m.update(stream)
        tables_dir = str(work / "tables")
        table_rows = write_tables(tables_dir, args.seed, HEADLINE_SF)
        queries, query_problems = trace_headline(spark, tracker, tables_dir)
        m.update(queries)
        record = _provenance(spark, args, cores, wl.truth)
    finally:
        spark.stop()
    problems += wl.problems + query_problems
    m.update(
        op_counters(
            op_counts,
            read_event_log(str(log_dir)),
            groups,
            group_secs,
            group_ops,
            group_bytes,
            cores,
        )
    )

    traced_p50 = statistics.median(o.seconds for o in ops)
    m["trace.op_p50_s"] = traced_p50
    m["trace.overhead_ratio"] = traced_p50 / statistics.median(
        o.seconds for o in base_ops
    )
    all_ops = ops + base_ops  # and each headline query is one op
    record.update(
        session_s=session_s,
        headline_sf=HEADLINE_SF,
        headline_table_rows=table_rows,
        traced_op_seconds=[round(o.seconds, 4) for o in ops],
        untraced_op_seconds=[round(o.seconds, 4) for o in base_ops],
        problems=problems[:20],
    )
    return record, {
        "correct": not problems,
        "attempted": len(all_ops) + len(queries),
        "failed": sum(not o.ok for o in all_ops) + len(query_problems),
        "metrics": m,
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    steal0 = _cpu_steal_s()
    try:
        _pin_environment(work)
        run = run_traced if args.trace else run_untraced
        try:
            record, result = run(args, work, cores)
        finally:
            _stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    record["cpu_steal_s"] = _cpu_steal_s() - steal0
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    result["metrics"] = {
        k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()
    }
    print(json.dumps({"record": {**record, "metrics": result["metrics"]}}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
