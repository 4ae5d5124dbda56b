"""Run one benchmark workload in a fresh process; print its metrics as JSON.

    python3 perfbench/run.py --workload corpus_curation --seed 7 --seconds 15 --trace 0

Run it from the repository root. The run generates (once per seed) and
reads its inputs under ``.perfbench/`` there, starts one Spark session at
``local[4]``, runs closed-loop rounds for about ``--seconds`` seconds (at
least one), checks every answer against its
DuckDB oracle, stops the session and its processes, and prints one JSON
object as the last line of standard output:

- ``--trace 0``: the end-to-end metrics (``setup_s``, ``round_s``,
  ``query_s``, ``query_p50_s``, ``query_tail_s``);
- ``--trace 1``: the per-layer metrics, read from the executed plans, the
  scheduler, the block manager and ``/proc`` around every call.

A full record of the run (and, when traced, every span) is written under
``.perfbench/results/``. Exit code 2 without a result means the engine is
not importable from the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
CORES = 4

WORKLOAD_NAMES = ("medallion_refresh", "corpus_curation")

END_TO_END_UNITS = {"setup_s": "s", "round_s": "s", "query_s": "s",
                    "query_p50_s": "s", "query_tail_s": "s"}

#: Per-layer metric -> unit. Layers a workload does not exercise read 0.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "medallion.bronze_s": "s",
    "medallion.silver_s": "s",
    "medallion.gold_s": "s",
    "sources.bytes_written.bronze": "bytes",
    "sources.bytes_written.silver": "bytes",
    "sources.bytes_written.gold": "bytes",
    "sources.files.bronze": "count",
    "sources.files.silver": "count",
    "sources.files.gold": "count",
    "sources.gold_fact_files_per_partition_max": "count",
    "sources.scan_files": "count",
    "sources.lake_bytes_per_source_byte": "ratio",
    "plans.build_s": "s",
    "catalyst.plan_ms": "ms",
    "exec.collect_s": "s",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.straggler_ratio": "ratio",
    "exec.aqe_collapsed_reads": "count",
    "operators.python_s": "s",
    "memo.persisted_bytes": "bytes",
    "memo.persisted_rdds": "count",
    "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.layer_s": "s",
}

#: Per-layer time metrics read from spans: metric -> span name.
SPAN_METRICS = {
    "medallion.bronze_s": "medallion.bronze",
    "medallion.silver_s": "medallion.silver",
    "medallion.gold_s": "medallion.gold",
    "plans.build_s": "plans.build",
    "exec.collect_s": "exec.collect",
    "trace.overhead_s": "trace.instrument",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def end_to_end(setup_s: float, walls: list[float], latencies: list[float]):
    """The end-to-end metrics, and the tail's percentile and sample count."""
    from stats import tail

    tail_s, pct, n = tail(latencies)
    return {
        "setup_s": setup_s,
        "round_s": statistics.median(walls),
        "query_s": sum(latencies) / len(walls),
        "query_p50_s": statistics.median(latencies),
        "query_tail_s": tail_s,
    }, {"tail_percentile": pct, "query_samples": n}


def per_layer(tracer, session_s: float) -> dict:
    from spans import self_times

    rounds = [s for s in tracer.spans if s["name"] == "round"]
    per_round = 1 / len(rounds)
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    out.update({k: v * per_round for k, v in tracer.sums.items() if k in out})
    out.update({k: v for k, v in tracer.peaks.items() if k in out})
    first = rounds[0]["id"]
    for metric, name in SPAN_METRICS.items():
        out[metric] = per_round * sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["name"] == name and s["id"] > first)
    # What the spans under the rounds account for, tracing's own spans
    # excluded: compare with the untraced run's round_s.
    selfs = self_times(tracer.spans)
    out["trace.layer_s"] = per_round * sum(
        selfs[s["id"]] for s in tracer.spans
        if s["id"] > first and s["name"] not in ("round", "trace.instrument"))
    out["session.start_s"] = session_s
    return out


def stop_session(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for each."""
    from spans import descendants

    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    workers = descendants(jvm.pid)
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    # The workers exit once the JVM that owns their sockets is gone.
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        # Only a worker still there past the deadline: a PID that has
        # exited may since belong to another process.
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass  # exited just now


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # Python workers import the engine's UDF modules by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import __spark_entry__  # noqa: F401
        from gravity_books_datalakehouse_spark.session import get_spark
        from tests.conftest import normalize
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import duckdb

    import gen
    from spans import Tracer
    from workloads import WORKLOADS, check

    inputs, manifest = gen.ensure(args.seed, os.path.join(WORK, "data"))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # Every JVM spark-submit starts (its launcher too) keeps its temporary
    # and performance-data files out of /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_conf={
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        w = WORKLOADS[args.workload](spark, tracer, inputs, run_dir)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        walls: list[float] = []
        start = time.perf_counter()
        while True:
            with tracer.span("round", index=len(walls)) as rec, \
                    tracer.python_cpu(jvm_pid):
                w.round(len(walls))
            walls.append(rec["end"] - rec["start"])
            tracer.record_rss(jvm_pid)
            w.after_round(len(walls) - 1)
            # Start another round only if it should end within --seconds.
            if time.perf_counter() - start + statistics.median(walls) > args.seconds:
                break

        con = duckdb.connect(config={"memory_limit": "2GB", "threads": str(CORES)})
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(inputs, t + '.parquet')}')")
        check(w, con, normalize)
        con.close()
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, tail_info = end_to_end(session_s, walls, [s for _, s in w.calls] or [float("nan")])
    values = per_layer(tracer, session_s) if args.trace else e2e
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    result = {
        "correct": not w.failures,
        "attempted": w.attempted,
        "failed": len(w.failures),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    record = {**result, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "cores": CORES,
              "rounds": len(walls), "round_walls_s": walls, **tail_info,
              "query_calls": w.calls,
              "error_rate": len(w.failures) / max(w.attempted, 1),
              "failures": w.failures, "inputs": manifest}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(WORK, "results", run_id + ".spans.json"))
    for failure in w.failures:
        print(f"perfbench: FAILED {failure}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
