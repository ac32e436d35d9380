"""Traced runs: per-layer numbers measured from outside the engine.

Three sources, none of which changes engine code:

1. Driver-side spans. `Tracer.install()` swaps a timing wrapper in for
   each module function named in `DRIVER_FUNCS` (and the public
   `SnapshotStore` methods). A span records name, start, end, its parent
   span and the benchmark operation it ran under. Only driver-side
   functions are wrapped: nothing a Spark UDF closure references is
   touched, so worker processes never see the wrappers.
2. The Spark event log (plain JSON, one file). Jobs are attributed to the
   operation whose wall interval contains their submission time; each
   operation also sets a Spark job group naming it.
3. `spark.sql.pyspark.udf.profiler=perf`: cProfile stats of the Python
   UDF workers, dumped per phase with `spark.profile.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import pstats
import statistics
import threading
import time
from dataclasses import dataclass, field

from stats import self_time, union_length

# (module, attribute) → span name. An attribute bound by `from x import f`
# in several modules is patched in each of them.
DRIVER_FUNCS = [
    ("hora_spark.operators.query", "search_topk", "query.search_topk"),
    ("hora_spark.operators.query", "_idf_lookup", "query.idf_lookup"),
    ("hora_spark.operators.build_index", "build_index", "build_index.build_index"),
    ("hora_spark.operators.build_index", "_commit_stats_and_lineage", "build_index.metadata"),
    ("hora_spark.operators.build_index", "assign_doc_ids", "corpus.assign_doc_ids"),
    ("hora_spark.streaming.incremental", "assign_doc_ids", "corpus.assign_doc_ids"),
    ("hora_spark.streaming.incremental", "append_build", "incremental.append_build"),
    ("hora_spark.streaming.incremental", "_compact_segments", "incremental.compact"),
    ("hora_spark.streaming.incremental", "delete_docs", "incremental.delete_docs"),
]
STORE_METHODS = ("read", "meta", "current_version", "exists", "tables", "table_bytes",
                 "deleted_ids", "commit", "write_table", "stage_dir")


@dataclass
class Span:
    name: str
    parent: "Span | None"
    op: int | None
    t0: float = 0.0
    t1: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


@dataclass
class Op:
    idx: int
    kind: str
    phase: str
    t0: float = 0.0
    t1: float = 0.0
    e0: float = 0.0          # epoch ms, for event-log alignment
    e1: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


def dir_bytes(path: str) -> int:
    """Bytes under a local directory, without the local filesystem's
    hidden checksum sidecars (which a cluster filesystem does not have)."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith("."))
    return total


class Tracer:
    """Spans and operations of one run. Inactive (a plain pass-through)
    until `install()`; `paused()` suspends recording around the
    benchmark's own bookkeeping calls into the engine."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self.active = False
        self._local = threading.local()
        self._cur_op: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans --
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn, post=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            st = tracer._stack()
            sp = Span(name, st[-1] if st else None, tracer._cur_op)
            st.append(sp)
            sp.t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                sp.t1 = time.perf_counter()
                st.pop()
                tracer.spans.append(sp)
            if post is not None:
                post(sp, out)
            return out

        return traced

    def install(self) -> None:
        from hora_spark.sources.storage import SnapshotStore

        posts = {"incremental.compact":
                 lambda sp, out: sp.info.update(bytes=dir_bytes(out))}
        for mod_name, attr, span in DRIVER_FUNCS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._patched.append((mod, attr, fn))
            setattr(mod, attr, self.wrap(span, fn, posts.get(span)))
        for m in STORE_METHODS:
            fn = SnapshotStore.__dict__[m]
            self._patched.append((SnapshotStore, m, fn))
            setattr(SnapshotStore, m, self.wrap(f"storage.{m}", fn))
        self.active = True

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()
        self.active = False

    @contextlib.contextmanager
    def paused(self):
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    # -------------------------------------------------------------- ops --
    @contextlib.contextmanager
    def op(self, kind: str, phase: str):
        """Time one benchmark operation. The operation is always recorded
        (untraced runs time themselves with it too); spans and a Spark job
        group naming it only when the tracer is active."""
        o = Op(len(self.ops), kind, phase)
        self.ops.append(o)
        if self.active and self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"perfbench-{o.idx}", f"{phase}:{kind}")
        self._cur_op = o.idx
        o.e0 = time.time() * 1e3
        o.t0 = time.perf_counter()
        try:
            yield o
        finally:
            o.t1 = time.perf_counter()
            o.e1 = time.time() * 1e3
            self._cur_op = None


# ----------------------------------------------------------------------
# event log
# ----------------------------------------------------------------------
def read_event_log(log_dir: str) -> dict:
    """Jobs, completed stages and task ends from the one plain event-log
    file Spark wrote into log_dir (call after the session stopped)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)
             and not os.path.basename(f).startswith(".")]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list] = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {"submit": e["Submission Time"],
                                         "stage_ids": e["Stage IDs"]}
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    scopes = set()
                    for r in si.get("RDD Info", []):
                        try:
                            scopes.add(json.loads(r.get("Scope") or "{}").get("name"))
                        except ValueError:
                            pass
                    stages[si["Stage ID"]] = {"scopes": scopes}
                elif ev == "SparkListenerTaskEnd":
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    inp = tm.get("Input Metrics") or {}
                    shw = tm.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(e["Stage ID"], []).append({
                        "launch": ti["Launch Time"], "finish": ti["Finish Time"],
                        "run_ms": tm.get("Executor Run Time", 0),
                        "bytes_read": inp.get("Bytes Read", 0),
                        "rows_read": inp.get("Records Read", 0),
                        "shuffle_write": shw.get("Shuffle Bytes Written", 0)})
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def spark_per_op(ops: list[Op], log: dict, cores: int) -> dict[int, dict]:
    """Per-operation Spark numbers: jobs submitted inside the operation's
    wall interval and the completed stages and tasks of those jobs."""
    out: dict[int, dict] = {}
    for o in ops:
        job_ids = [j for j, info in log["jobs"].items() if o.e0 <= info["submit"] <= o.e1]
        stage_ids = [s for j in job_ids for s in log["jobs"][j]["stage_ids"]
                     if s in log["stages"]]
        tl = [t for s in stage_ids for t in log["tasks"].get(s, [])]
        wall = max(o.e1 - o.e0, 1e-9)
        run_ms = sum(t["run_ms"] for t in tl)
        busy = union_length([(max(t["launch"], o.e0), min(t["finish"], o.e1)) for t in tl])
        skews = []
        for s in stage_ids:
            rt = [t["run_ms"] for t in log["tasks"].get(s, [])]
            if len(rt) >= 2 and statistics.median(rt) > 0:
                skews.append(max(rt) / statistics.median(rt))
        merge_ms = sum(t["run_ms"] for s in stage_ids if "Window" in log["stages"][s]["scopes"]
                       for t in log["tasks"].get(s, []))
        out[o.idx] = {
            "jobs": len(job_ids), "stages": len(stage_ids), "tasks": len(tl),
            "idle_ms": wall - busy, "task_run_ms": run_ms,
            "cpu_util": run_ms / (wall * cores),
            "task_skew": max(skews) if skews else 1.0,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tl),
            "bytes_read": sum(t["bytes_read"] for t in tl),
            "rows_read": sum(t["rows_read"] for t in tl),
            "window_merge_ms": merge_ms,
        }
    return out


# ----------------------------------------------------------------------
# UDF profiler
# ----------------------------------------------------------------------
def profile_phase(spark, dump_dir: str) -> dict:
    """Dump and clear the perf profiles collected so far; return the
    per-function totals the per-layer table needs (summed task time
    across all workers, ms)."""
    os.makedirs(dump_dir, exist_ok=True)
    spark.profile.dump(dump_dir, type="perf")
    spark.profile.clear(type="perf")
    acc = {"shard_topk_calls": 0, "shard_topk_ms": 0.0, "decode_calls": 0,
           "run_one_ms": 0.0, "run_one_kernel_ms": 0.0,
           "tokenize_pack_ms": 0.0, "merge_encode_ms": 0.0}
    for f in glob.glob(os.path.join(dump_dir, "*.pstats")):
        st = pstats.Stats(f).stats
        for (fname, _line, func), (_cc, nc, _tt, ct, callers) in st.items():
            if fname == "wand.py" and func == "shard_topk":
                acc["shard_topk_calls"] += nc
                acc["shard_topk_ms"] += ct * 1e3
            elif fname == "codec.py" and func == "decode_block":
                # query-side decodes only (compaction decodes too)
                acc["decode_calls"] += sum(c[1] for k, c in callers.items()
                                           if k[0] == "wand.py")
            elif fname == "query.py" and func == "run_one":
                acc["run_one_ms"] += ct * 1e3
            elif fname == "query.py" and func == "_shard_search":
                acc["run_one_kernel_ms"] += sum(
                    c[3] for k, c in callers.items() if k[2] == "run_one") * 1e3
            elif fname == "segments.py" and func == "run":
                acc["tokenize_pack_ms"] += ct * 1e3
            elif fname == "segments.py" and func == "merge_shard_rows":
                acc["merge_encode_ms"] += ct * 1e3
        os.remove(f)
    return acc


# ----------------------------------------------------------------------
# span aggregation
# ----------------------------------------------------------------------
def _children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(id(s.parent), []).append(s)
    return kids


def _outermost_storage(s: Span) -> bool:
    p = s.parent
    while p is not None:
        if p.name.startswith("storage."):
            return False
        p = p.parent
    return s.name.startswith("storage.")


def span_table(spans: list[Span], ops: list[Op]) -> dict[int, dict]:
    """Per-operation driver-side totals (ms and counts) from the spans."""
    kids = _children(spans)
    per: dict[int, dict] = {o.idx: {} for o in ops}

    def add(op, key, v):
        if op in per:
            per[op][key] = per[op].get(key, 0) + v

    for s in spans:
        op = s.op
        if s.name == "query.search_topk":
            add(op, "plan_ms", s.ms)
        elif s.name == "query.idf_lookup":
            add(op, "idf_calls", 1)
            add(op, "idf_ms", s.ms)
        elif s.name == "corpus.assign_doc_ids" and (s.parent is None or
                                                     s.parent.name == "build_index.build_index"):
            add(op, "assign_ids_ms", s.ms)
        elif s.name == "build_index.metadata":
            add(op, "metadata_ms", s.ms)
        elif s.name == "build_index.build_index":
            ch = [(c.t0, c.t1) for c in kids.get(id(s), [])]
            add(op, "write_ms", self_time(s.t0, s.t1, ch) * 1e3)
        elif s.name == "incremental.append_build":
            ch = [(c.t0, c.t1) for c in kids.get(id(s), []) if c.name == "incremental.compact"]
            add(op, "append_ms", self_time(s.t0, s.t1, ch) * 1e3)
            add(op, "appends", 1)
        elif s.name == "incremental.compact":
            add(op, "compact_ms", s.ms)
            add(op, "compactions", 1)
            add(op, "bytes_rewritten", s.info.get("bytes", 0))
        if _outermost_storage(s):
            add(op, "storage_calls", 1)
            add(op, "storage_ms", s.ms)
        if s.name == "storage.commit":
            add(op, "commits", 1)
            add(op, "commit_ms", s.ms)
    return per
