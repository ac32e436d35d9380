"""The benchmark's workloads, driven through the public hora_spark API by
one closed-loop client (the next call is sent when the previous returned).

- search_batch: back-to-back `Engine.searches(batch, k=10)` calls of 100
  distinct queries each (no term set repeats within or across batches).
- index_lifecycle: rounds of `streaming.incremental.append_build` (a small
  new-conversation batch), `Engine.delete` (a small id set) and the first
  search on the new snapshot, on the distributed search plan, with
  auto-compaction every MAX_DELTA_BATCHES appends.

Every run has the same shape:

  inputs (seeded parquet) → oracle tables (DuckDB) → set-up: SETUP_BUILDS
  index builds, each followed by the cold first search on its snapshot →
  untimed warm-up → timed window of `seconds` → oracle check.

A traced run installs the tracer before the set-up, then runs one
untraced window and one traced window; the tracing overhead is the
difference between the two.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import gen
import tracing
from oracle import Oracle, agrees
from stats import median

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.engine import Engine
from hora_spark.streaming import incremental

K = 10
BASE_TURNS = 4000          # rows of the base corpus
N_SHARDS = 8
SETUP_BUILDS = 3
BATCH_SIZE = 100
WARMUP_BATCHES = 1
ORACLE_CHECKS = 150        # query results checked against DuckDB per run
APPEND_TURNS = 50          # rows per appended batch
APPEND_BATCHES = 24        # pre-generated; a window stops if it runs out
DELETE_IDS = 20            # ids tombstoned per lifecycle round
REPEAT_SHARE = 0.25        # share of lifecycle searches that re-send a query
MAX_DELTA_BATCHES = 3      # lifecycle auto-compaction threshold

WORKLOADS = ("search_batch", "index_lifecycle")


def engine_config(workload: str) -> EngineConfig:
    index = IndexConfig(n_buckets=N_SHARDS)
    if workload == "index_lifecycle":
        # production corpora exceed the single-task scan ceiling; a
        # ceiling of 0 sends this small index down the distributed plan
        return EngineConfig(index=index, max_single_task_scan_bytes=0,
                            max_delta_batches=MAX_DELTA_BATCHES)
    return EngineConfig(index=index)


class Run:
    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 traced: bool, work: str, cores: int):
        self.spark, self.workload, self.seed = spark, workload, seed
        self.seconds, self.traced, self.work, self.cores = seconds, traced, work, cores
        self.cfg = engine_config(workload)
        self.tracer = tracing.Tracer(spark)
        self.checks: list[dict] = []
        self.sent: list[dict] = []         # window queries, for their properties
        self.batches_applied = 1           # base corpus
        self.deletes_applied = 0
        self.deleted: list[tuple[int, int]] = []
        self.windows: list[dict] = []
        self.profiles: dict = {}
        self.phase_s: dict[str, float] = {}
        self.eng: Engine | None = None

    # ------------------------------------------------------------ inputs --
    def make_inputs(self, mark) -> None:
        lifecycle = self.workload == "index_lifecycle"
        self.parts = gen.write_inputs(
            os.path.join(self.work, "inputs"), BASE_TURNS,
            APPEND_BATCHES if lifecycle else 0, APPEND_TURNS, self.seed)
        mark("datagen")
        if lifecycle:
            self.delete_pick = gen.delete_sets(self.seed)
            self.queries = gen.interactive_queries(self.seed, 1000, REPEAT_SHARE)
            self._qpos = 0
        else:
            self.batches = gen.distinct_batches(self.seed, 100, BATCH_SIZE)
            self._bpos = 0
        self.warm = gen.distinct_batches(self.seed, 2 * WARMUP_BATCHES + SETUP_BUILDS,
                                         BATCH_SIZE, stream="warmup")
        self._warm_next = 0
        self.oracle = Oracle([os.path.join(p, "*.parquet") for p in self.parts],
                             self.cfg.bm25)
        self.n_turns = self.oracle.batch_sizes()[0]
        self.text_bytes = self.oracle.con.execute(
            "SELECT sum(strlen(text)) FROM raw WHERE batch = 0").fetchone()[0]
        self.live = set(self.oracle.doc_ids(0))
        self.corpus_df = self.spark.read.parquet(self.parts[0])

    # ---------------------------------------------------------- queries --
    def _search(self, kind: str, phase: str, q: dict) -> None:
        with self.tracer.op(kind, phase) as o:
            t0 = time.perf_counter()
            df = self.eng.search(q["text"], k=K)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        o.info.update(plan_ms=(t1 - t0) * 1e3, collect_ms=(t2 - t1) * 1e3,
                      rows=len(rows), queries=1)
        self._index_info(o)
        if phase == "window":
            self.sent.append(q)
        self._check(o, q["text"], [(int(r["doc_id"]), float(r["score"])) for r in rows])

    def _batch(self, phase: str, batch: list[dict]) -> None:
        with self.tracer.op("batch", phase) as o:
            t0 = time.perf_counter()
            df = self.eng.searches([q["text"] for q in batch], k=K)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        o.info.update(plan_ms=(t1 - t0) * 1e3, collect_ms=(t2 - t1) * 1e3,
                      rows=len(rows), queries=len(batch))
        self._index_info(o)
        if phase == "window":
            self.sent.extend(batch)
        per: dict[int, list] = {i: [] for i in range(len(batch))}
        for r in rows:
            per[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
        for i, q in enumerate(batch):
            self._check(o, q["text"], per[i])

    def _check(self, op, text: str, rows: list) -> None:
        self.checks.append({"cid": len(self.checks), "op": op.idx, "text": text,
                            "batches": self.batches_applied,
                            "deletes": self.deletes_applied, "rows": rows})

    def _index_info(self, op) -> None:
        """Segment dirs and bytes of the snapshot just searched (traced
        runs only; untraced bookkeeping outside the operation)."""
        if not self.tracer.active:
            return
        with self.tracer.paused():
            store = self.eng.store
            v = store.current_version()
            op.info["segment_dirs"] = len(store.tables(v).get("segments", []))
            op.info["segment_bytes"] = store.table_bytes("segments", v) or 0

    # ------------------------------------------------------------ set-up --
    def setup(self) -> None:
        for i in range(SETUP_BUILDS):
            eng = Engine(self.spark, os.path.join(self.work, f"index{i}"), self.cfg)
            with self.tracer.op("build", "setup"):
                eng.build(self.corpus_df)
            if self.eng is not None:
                shutil.rmtree(self.eng.store.root, ignore_errors=True)
            self.eng = eng
            self._search("first_search", "setup", self.warm[-1 - i][0])
        self.index_bytes = tracing.dir_bytes(self.eng.store.root)
        with self.tracer.paused():
            self.segment_bytes = self.eng.store.table_bytes("segments") or 0

    def warmup(self) -> None:
        """Untimed: JIT, worker spawn and the snapshot's dictionary probe.
        The lifecycle warms its write path with one full round."""
        with self.tracer.paused():
            if self.workload == "index_lifecycle":
                self._lifecycle_round("warmup")
                return
            for batch in self.warm[self._warm_next:self._warm_next + WARMUP_BATCHES]:
                self._batch("warmup", batch)
            self._warm_next += WARMUP_BATCHES

    # ----------------------------------------------------------- window --
    def window(self, phase: str) -> None:
        first_op = len(self.tracer.ops)
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        exhausted = False
        while time.perf_counter() < deadline:
            if self.workload == "search_batch":
                self._batch(phase, self.batches[self._bpos])
                self._bpos += 1
            elif self.batches_applied > APPEND_BATCHES:
                exhausted = True
                break
            else:
                self._lifecycle_round(phase, deadline)
        self.windows.append({"phase": phase, "elapsed_s": time.perf_counter() - t0,
                             "ops": len(self.tracer.ops) - first_op,
                             "exhausted": exhausted})

    def _lifecycle_round(self, phase: str, deadline: float | None = None) -> None:
        """append → delete → first search on the new snapshot. A round
        stops early at the window deadline (checked before each call)."""
        def closed() -> bool:
            return deadline is not None and time.perf_counter() >= deadline

        b = self.batches_applied               # next appended part
        new_df = self.spark.read.parquet(self.parts[b])
        with self.tracer.op("append", phase) as o:
            out = incremental.append_build(self.spark, self.eng.store, new_df,
                                           cfg=self.cfg, batch_id=f"delta-{b}")
        o.info["compacted"] = bool(out.get("compacted"))
        self.batches_applied += 1
        self.live.update(self.oracle.doc_ids(b))
        if closed():
            return
        ids = self.delete_pick(sorted(self.live), DELETE_IDS)
        with self.tracer.op("delete", phase):
            self.eng.delete(ids)
        self.deletes_applied += 1
        self.live.difference_update(ids)
        self.deleted.extend((i, self.deletes_applied) for i in ids)
        if closed():
            return
        self._search("first_search", phase, self.queries[self._qpos])
        self._qpos += 1

    # ----------------------------------------------------------- oracle --
    def verify(self) -> set[int]:
        """Op indices with at least one sampled result the oracle
        disagrees with. The seeded sample holds at most ORACLE_CHECKS
        query results, drawn from every operation that searched."""
        rng = random.Random(gen.sub_seed(self.seed, "oracle"))
        sample = (self.checks if len(self.checks) <= ORACLE_CHECKS
                  else rng.sample(self.checks, ORACLE_CHECKS))
        self.checked = len(sample)
        expected = self.oracle.topk(sample, K, self.deleted)
        return {c["op"] for c in sample if not agrees(c["rows"], expected[c["cid"]], K)}

    # -------------------------------------------------------------- run --
    def _profile(self) -> dict:
        return tracing.profile_phase(self.spark, os.path.join(self.work, "profile"))

    def _profiler(self, on: bool) -> None:
        key = "spark.sql.pyspark.udf.profiler"
        if on:
            self.spark.conf.set(key, "perf")
        else:
            self.spark.conf.unset(key)

    def execute(self) -> None:
        t = time.perf_counter()

        def mark(name: str) -> None:
            nonlocal t
            now = time.perf_counter()
            self.phase_s[name] = self.phase_s.get(name, 0.0) + now - t
            t = now

        self.make_inputs(mark)
        mark("oracle")
        if self.traced:
            self.tracer.install()
            self._profiler(True)
        self.setup()
        mark("setup")
        if self.traced:
            self.profiles["setup"] = self._profile()
            # untraced reference window first, then the traced one
            self.tracer.active = False
            self._profiler(False)
            self.warmup()
            mark("warmup")
            self.window("untraced")
            mark("window")
            self.tracer.active = True
            self._profiler(True)
            self.warmup()
            self._profile()                   # drop the warm-up's profile
            mark("warmup")
            self.window("window")
            self.profiles["window"] = self._profile()
            self._profiler(False)
            self.tracer.uninstall()
            mark("window")
        else:
            self.warmup()
            mark("warmup")
            self.window("window")
            mark("window")
        self.bad_ops = self.verify()
        mark("verify")

    # ---------------------------------------------------------- metrics --
    def ops(self, phase: str, *kinds: str) -> list:
        return [o for o in self.tracer.ops
                if o.phase == phase and (not kinds or o.kind in kinds)]

    def op_samples(self, phase: str) -> list[float]:
        """The workload's unit operation, in ms: one 100-query batch, or
        one lifecycle write round (append + delete) whose append did not
        trigger a compaction (every round, if a slow window held none)."""
        if self.workload == "search_batch":
            return [o.ms for o in self.ops(phase, "batch")]
        ops = self.ops(phase, "append", "delete")
        rounds = [(a, d) for a, d in zip(ops, ops[1:])
                  if a.kind == "append" and d.kind == "delete"]
        clean = [a.ms + d.ms for a, d in rounds if not a.info["compacted"]]
        return clean or [a.ms + d.ms for a, d in rounds]

    def first_search_ms(self) -> list[float]:
        """Cold first searches on a new snapshot: after each set-up build
        and, in the lifecycle, after each write round."""
        return [o.ms for o in self.tracer.ops
                if o.kind == "first_search" and o.phase in ("setup", "window")]

    def setup_builds_ms(self) -> list[float]:
        return [o.ms for o in self.ops("setup", "build")]

    def window_of(self, phase: str) -> dict:
        return next(w for w in self.windows if w["phase"] == phase)

    def attempted_failed(self) -> tuple[int, int]:
        """Every recorded operation counts as attempted, untimed ones too;
        a sampled wrong result fails its operation."""
        return len(self.tracer.ops), len(self.bad_ops)

    def input_properties(self) -> dict:
        return {
            "base_turns": self.n_turns, "text_bytes": self.text_bytes,
            "shards": N_SHARDS, "segment_bytes": self.segment_bytes,
            "single_task_ceiling_bytes": self.cfg.max_single_task_scan_bytes,
            "plan": ("single-task" if 0 < self.segment_bytes
                     <= self.cfg.max_single_task_scan_bytes else "distributed"),
            "oracle_checked": self.checked,
            **gen.query_properties(self.sent),
        }

    def e2e(self) -> dict:
        return {
            "op_p50_ms": median(self.op_samples("window")),
            "first_search_after_write_ms": median(self.first_search_ms()),
            "setup_s": median(self.setup_builds_ms()) / 1e3,
            "index_bytes_per_text_byte": self.index_bytes / self.text_bytes,
        }
