"""hora_spark benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload search_batch --seed 1 \
        --seconds 15 --trace 0

Run it from the repository root (it imports `hora_spark` from the working
directory). It writes only under `.perfbench_work/` there and removes its
own run directory at the end. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for `--trace 0` and the per-layer metrics for
`--trace 1`. The line before it is a report with the run's fingerprint,
calibration probe, input properties and every named metric with its
sample count. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

E2E_UNITS = {
    "op_p50_ms": "ms",
    "first_search_after_write_ms": "ms",
    "setup_s": "s",
    "index_bytes_per_text_byte": "ratio",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "query.plan_ms": "ms", "query.idf_lookup_calls": "count", "query.idf_lookup_ms": "ms",
    "query.topk_merge_ms": "ms",
    "storage.calls_per_op": "count", "storage.ms_per_op": "ms", "storage.commit_ms": "ms",
    "storage.segment_dirs": "count", "storage.segment_bytes": "bytes",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.idle_ms_per_op": "ms", "spark.task_run_ms": "ms", "spark.cpu_util": "ratio",
    "spark.task_skew": "ratio", "spark.shuffle_write_bytes": "bytes",
    "scan.bytes_read": "bytes", "scan.rows_read": "count",
    "wand.shard_topk_calls": "count", "wand.shard_topk_ms": "ms", "codec.decode_calls": "count",
    "engine.collect_ms": "ms", "engine.result_rows": "count",
    "corpus.assign_ids_ms": "ms", "segments.tokenize_pack_ms": "ms",
    "segments.merge_encode_ms": "ms", "build_index.write_ms": "ms",
    "build_index.metadata_ms": "ms",
    "incremental.append_ms": "ms", "incremental.compact_ms": "ms",
    "incremental.compactions": "count", "incremental.bytes_rewritten": "bytes",
    "trace.overhead_ms": "ms", "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def calibrate() -> float:
    """Fixed CPU probe (ms, median of 5): pure-Python loop plus a numpy
    sort. Recorded so slow host windows are visible; never used to
    normalise a metric."""
    import numpy as np

    data = np.random.default_rng(12345).random(200_000)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        np.sort(data)
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def git_commit(root: str) -> str:
    """HEAD of the checkout, or "unknown" when it is not a git work tree
    (git is not asked to search the parent directories)."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def start_spark(work: str, cores: int, traced: bool):
    from hora_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    extra = {
        # sized for a small shared host rather than get_spark's 48g default
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # JVM temp files in the run dir, and no perf-data files elsewhere
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=cores, extra=extra)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit
    (its Python workers are stopped with the context)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(run, spark_ops: dict, spans: dict) -> dict:
    """The per-layer table of a traced run (see README for each entry)."""
    win = run.ops("window")
    search = [o for o in win if o.kind in ("search", "first_search", "batch")]
    builds = run.ops("setup", "build")
    appends = run.ops("window", "append")
    pw, ps = run.profiles["window"], run.profiles["setup"]

    def s(ops, key):
        return [spans[o.idx].get(key, 0) for o in ops]

    def sp(ops, key):
        return [spark_ops[o.idx][key] for o in ops]

    n_s = max(len(search), 1)
    n_b = max(len(builds), 1)
    traced_ops = builds + win
    commits = sum(s(traced_ops, "commits"))
    compactions = sum(s(win, "compactions"))
    wall_win = sum(o.e1 - o.e0 for o in win)
    untraced = statistics.median(run.op_samples("untraced"))
    traced = statistics.median(run.op_samples("window"))
    return {
        "query.plan_ms": mean(s(search, "plan_ms")),
        "query.idf_lookup_calls": mean(s(search, "idf_calls")),
        "query.idf_lookup_ms": mean(s(search, "idf_ms")),
        "query.topk_merge_ms": (pw["run_one_ms"] - pw["run_one_kernel_ms"]
                                + sum(sp(search, "window_merge_ms"))) / n_s,
        "storage.calls_per_op": mean(s(win, "storage_calls")),
        "storage.ms_per_op": mean(s(win, "storage_ms")),
        "storage.commit_ms": sum(s(traced_ops, "commit_ms")) / commits if commits else 0.0,
        "storage.segment_dirs": mean(o.info.get("segment_dirs", 0) for o in search),
        "storage.segment_bytes": mean(o.info.get("segment_bytes", 0) for o in search),
        "spark.jobs_per_op": mean(sp(win, "jobs")),
        "spark.stages_per_op": mean(sp(win, "stages")),
        "spark.tasks_per_op": mean(sp(win, "tasks")),
        "spark.idle_ms_per_op": mean(sp(win, "idle_ms")),
        "spark.task_run_ms": mean(sp(win, "task_run_ms")),
        "spark.cpu_util": sum(sp(win, "task_run_ms")) / (wall_win * run.cores) if wall_win else 0.0,
        "spark.task_skew": statistics.median(sp(builds, "task_skew")) if builds else 0.0,
        "spark.shuffle_write_bytes": mean(sp(builds, "shuffle_write_bytes")),
        "scan.bytes_read": mean(sp(search, "bytes_read")),
        "scan.rows_read": mean(sp(search, "rows_read")),
        "wand.shard_topk_calls": pw["shard_topk_calls"] / n_s,
        "wand.shard_topk_ms": pw["shard_topk_ms"] / n_s,
        "codec.decode_calls": pw["decode_calls"] / n_s,
        "engine.collect_ms": mean(o.info.get("collect_ms", 0) for o in search),
        "engine.result_rows": mean(o.info.get("rows", 0) for o in search),
        "corpus.assign_ids_ms": mean(s(builds, "assign_ids_ms")),
        "segments.tokenize_pack_ms": ps["tokenize_pack_ms"] / n_b,
        "segments.merge_encode_ms": ps["merge_encode_ms"] / n_b,
        "build_index.write_ms": mean(s(builds, "write_ms")),
        "build_index.metadata_ms": mean(s(builds, "metadata_ms")),
        "incremental.append_ms": mean(s(appends, "append_ms")),
        "incremental.compact_ms": (sum(s(win, "compact_ms")) / compactions
                                   if compactions else 0.0),
        "incremental.compactions": compactions,
        "incremental.bytes_rewritten": sum(s(win, "bytes_rewritten")),
        "trace.overhead_ms": traced - untraced,
        "trace.overhead_frac": (traced - untraced) / untraced,
    }


def named_metrics(run) -> dict:
    """The workload's own operations by name, with sample counts and
    tails (report line only; the gated metrics are E2E_UNITS)."""
    from stats import median, summarize
    from workloads import BATCH_SIZE

    def timed(kind, pred=lambda o: True):
        return summarize([o.ms for o in run.ops("window", kind) if pred(o)])

    out = {}
    if run.workload == "search_batch":
        out["batch_ms"] = timed("batch")
        out["batch_queries_per_s"] = 1e3 * BATCH_SIZE / out["batch_ms"]["p50"]
    else:
        out["append_ms"] = timed("append", lambda o: not o.info["compacted"])
        out["compact_append_ms"] = timed("append", lambda o: o.info["compacted"])
        out["delete_ms"] = timed("delete")
        out["write_round_ms"] = summarize(run.op_samples("window"))
    out["first_search_after_write_ms"] = summarize(run.first_search_ms())
    out["setup_build_ms"] = summarize(run.setup_builds_ms())
    out["build_turns_per_s"] = run.n_turns / (median(run.setup_builds_ms()) / 1e3)
    out["window"] = run.window_of("window")
    out["window_ms"] = [[o.kind, round(o.ms, 1)] for o in run.ops("window")]
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hora_spark", "__init__.py")):
        print("perfbench: no hora_spark package in the working directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(1, HERE)
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Spark's Python workers import hora_spark (and nothing from here)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cores = len(os.sched_getaffinity(0))

    import pandas
    import pyspark

    fingerprint = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores,
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 2),
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "pandas": pandas.__version__, "git_commit": git_commit(root),
    }
    t_start = time.perf_counter()
    calib_before = calibrate()
    run = None
    try:
        spark = start_spark(work, cores, bool(args.trace))
        try:
            fingerprint["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
            run = workloads.Run(spark, args.workload, args.seed, args.seconds,
                                bool(args.trace), work, cores)
            run.execute()
        finally:
            stop_spark(spark)
        rss_kb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                  + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss)
        attempted, failed = run.attempted_failed()
        e2e = run.e2e()
        e2e["peak_rss_mb"] = rss_kb / 1024.0
        report = {
            "fingerprint": fingerprint,
            "calibration_ms": {"before": calib_before, "after": calibrate()},
            "run_wall_s": time.perf_counter() - t_start,
            "phase_s": run.phase_s,
            "inputs": run.input_properties(),
            "failed_ops_frac": failed / attempted,
            "named": named_metrics(run),
            "e2e": e2e,
        }
        if args.trace:
            import tracing

            log = tracing.read_event_log(os.path.join(work, "eventlog"))
            spark_ops = tracing.spark_per_op(run.tracer.ops, log, cores)
            spans = tracing.span_table(run.tracer.spans, run.tracer.ops)
            layers = layer_metrics(run, spark_ops, spans)
            report["layers"] = layers
            metrics = {k: {"value": float(v), "unit": LAYER_UNITS[k]} for k, v in layers.items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    finally:
        if run is not None and hasattr(run, "oracle"):
            run.oracle.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".perfbench_work"))
        except OSError:
            pass
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
