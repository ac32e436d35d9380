"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import tracing  # noqa: E402
from oracle import Oracle, agrees  # noqa: E402
from stats import self_time, tail, union_length  # noqa: E402

from hora_spark.config import BM25Config  # noqa: E402


# ------------------------------------------------------------------ tails --
@pytest.mark.parametrize("n, p, beyond", [
    (20, 50.0, 10), (39, 50.0, 19), (40, 75.0, 10), (100, 90.0, 10),
    (199, 90.0, 19), (200, 95.0, 10), (1000, 99.0, 10), (10_000, 99.9, 10)])
def test_tail_is_highest_percentile_with_ten_beyond(n, p, beyond):
    t = tail(reversed(range(n)))
    assert (t["p"], t["n"], t["beyond"]) == (p, n, beyond)
    assert t["value"] == n - beyond - 1        # nearest rank n - beyond


def test_tail_needs_ten_samples_beyond_the_median():
    assert tail(range(19)) is None
    assert tail([]) is None


# ------------------------------------------------------------- self-time --
def test_self_time_subtracts_covered_child_interval_once():
    # children overlap ([1,3] and [2,5] cover 4) and one sticks out of the
    # parent ([8,12] is clipped to [8,10]): covered = 6 of 10
    assert self_time(0.0, 10.0, [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4.0)
    assert self_time(0.0, 10.0, []) == 10.0
    assert union_length([(0, 1), (1, 2), (5, 6)]) == 3.0


def test_span_table_write_ms_is_build_self_time():
    t = tracing.Tracer()
    t.active = True
    clock = iter([0.0, 0.0, 1.0, 3.0, 7.0, 9.0, 10.0, 10.0])

    def leaf():
        return None

    wrapped_leaf = t.wrap("corpus.assign_doc_ids", leaf)
    wrapped_meta = t.wrap("build_index.metadata", leaf)

    def build():
        wrapped_leaf()
        wrapped_meta()

    wrapped_build = t.wrap("build_index.build_index", build)
    real = tracing.time.perf_counter
    tracing.time.perf_counter = lambda: next(clock)
    try:
        with t.op("build", "setup"):
            wrapped_build()
    finally:
        tracing.time.perf_counter = real
    # build [0,10] with children assign [1,3] and metadata [7,9]
    per = tracing.span_table(t.spans, t.ops)[0]
    assert per["assign_ids_ms"] == pytest.approx(2000.0)
    assert per["metadata_ms"] == pytest.approx(2000.0)
    assert per["write_ms"] == pytest.approx(6000.0)
    parents = {s.name: (s.parent.name if s.parent else None) for s in t.spans}
    assert parents["corpus.assign_doc_ids"] == "build_index.build_index"


def test_inactive_tracer_records_nothing():
    t = tracing.Tracer()
    f = t.wrap("query.search_topk", lambda x: x + 1)
    assert f(1) == 2 and t.spans == []


def test_spark_per_op_attributes_jobs_by_submission_time(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "perfbench-0"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 2, "RDD Info": [
                {"Scope": json.dumps({"id": "1", "name": "Scan parquet "})}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1010, "Finish Time": 1050},
         "Task Metrics": {"Executor Run Time": 40,
                          "Input Metrics": {"Bytes Read": 100, "Records Read": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1020, "Finish Time": 1100},
         "Task Metrics": {"Executor Run Time": 80,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        # a job outside the operation's interval is not attributed to it
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = tracing.read_event_log(str(tmp_path))
    op = tracing.Op(0, "batch", "window", e0=1000.0, e1=1200.0)
    s = tracing.spark_per_op([op], log, cores=4)[0]
    assert (s["jobs"], s["stages"], s["tasks"]) == (1, 1, 2)
    assert s["idle_ms"] == pytest.approx(200 - 90)        # busy = [1010, 1100]
    assert s["task_run_ms"] == 120
    assert s["cpu_util"] == pytest.approx(120 / (200 * 4))
    assert s["task_skew"] == pytest.approx(80 / 60)
    assert (s["bytes_read"], s["rows_read"], s["shuffle_write_bytes"]) == (100, 7, 64)


# ---------------------------------------------------------------- oracle --
def _write(path, rows):
    os.makedirs(path, exist_ok=True)
    conv, turn, text = zip(*rows)
    pq.write_table(pa.table({"conv_id": list(conv), "turn_idx": pa.array(turn, pa.int32()),
                             "text": list(text)}), os.path.join(path, "part-0.parquet"))
    return os.path.join(path, "*.parquet")


def _bm25(tf, dl, n, df, avgdl, k1=1.2, b=0.75):
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    return idf * tf / (tf + k1 * (1 - b + b * dl / avgdl))


@pytest.fixture
def tiny(tmp_path):
    # doc ids follow (conv_id, turn_idx): d0 "A b", d1 "a a c", d2 "b, c d"
    base = _write(str(tmp_path / "base"), [("c1", 0, "b, c d"), ("c0", 1, "a a c"),
                                           ("c0", 0, "A b")])
    # appended: d3 "a z" ("z" is unknown to the frozen stats), d4 "b"
    app = _write(str(tmp_path / "app"), [("x0", 0, "a z"), ("x1", 0, "b")])
    o = Oracle([base, app], BM25Config(), threads=1)
    yield o
    o.close()


def test_oracle_matches_hand_computed_bm25(tiny):
    avgdl = (2 + 3 + 3) / 3
    got = tiny.topk([{"cid": 0, "text": "a", "batches": 1, "deletes": 0},
                     {"cid": 1, "text": "b d", "batches": 1, "deletes": 0}], 10, [])
    assert tiny.doc_ids(0) == [0, 1, 2] and tiny.doc_ids(1) == [3, 4]
    n0, rows0 = got[0]
    assert n0 == 2 and [d for d, _ in rows0] == [1, 0]
    assert rows0[0][1] == pytest.approx(_bm25(2, 3, 3, 2, avgdl), rel=1e-12)
    assert rows0[1][1] == pytest.approx(_bm25(1, 2, 3, 2, avgdl), rel=1e-12)
    n1, rows1 = got[1]
    d2 = _bm25(1, 3, 3, 2, avgdl) + _bm25(1, 3, 3, 1, avgdl)
    assert n1 == 2 and rows1[0] == (2, pytest.approx(d2, rel=1e-12))
    assert rows1[1] == (0, pytest.approx(_bm25(1, 2, 3, 2, avgdl), rel=1e-12))


def test_oracle_applies_frozen_stats_appends_and_tombstones(tiny):
    avgdl = 8 / 3
    got = tiny.topk([{"cid": 0, "text": "a z", "batches": 2, "deletes": 0},
                     {"cid": 1, "text": "a z", "batches": 2, "deletes": 1},
                     {"cid": 2, "text": "a z", "batches": 1, "deletes": 1}],
                    10, [(1, 1)])
    # d3 scores "a" with base idf/avgdl and its own dl; "z" never scores
    assert got[0][1][0] == (1, pytest.approx(_bm25(2, 3, 3, 2, avgdl)))
    assert (3, pytest.approx(_bm25(1, 2, 3, 2, avgdl))) in got[0][1]
    assert got[0][0] == 3
    assert [d for d, _ in got[1][1]] == [0, 3]        # d1 tombstoned in round 1
    assert [d for d, _ in got[2][1]] == [0]           # appended batch not applied


def test_agrees_tolerates_ties_but_not_wrong_docs_or_scores(tiny):
    expected = (3, [(4, 2.0), (1, 1.0), (2, 1.0)])
    assert agrees([(4, 2.0), (1, 1.0)], expected, 2)
    assert agrees([(4, 2.0), (2, 1.0 + 1e-12)], expected, 2)   # tied at the cut
    assert not agrees([(4, 2.0), (3, 1.0)], expected, 2)       # not a candidate
    assert not agrees([(4, 2.0), (1, 1.001)], expected, 2)     # wrong score
    assert not agrees([(4, 2.0)], expected, 2)                 # too few rows
    assert agrees([], (0, []), 10)


# ------------------------------------------------------------- generator --
def test_generators_are_deterministic_by_seed():
    assert gen.distinct_batches(7, 3, 50) == gen.distinct_batches(7, 3, 50)
    assert gen.distinct_batches(7, 3, 50) != gen.distinct_batches(8, 3, 50)
    assert gen.interactive_queries(7, 200, 0.25) == gen.interactive_queries(7, 200, 0.25)
    assert gen.sub_seed(7, "corpus") == gen.sub_seed(7, "corpus")
    assert gen.sub_seed(7, "corpus") != gen.sub_seed(7, "appends")
    pick_a, pick_b = gen.delete_sets(3), gen.delete_sets(3)
    live = list(range(1000))
    assert pick_a(live, 20) == pick_b(live, 20)


def test_batches_never_repeat_a_term_set():
    batches = gen.distinct_batches(5, 20, 100)
    keys = [gen.query_key(q["text"]) for b in batches for q in b]
    assert len(keys) == len(set(keys)) == 2000
    for q in (q for b in batches for q in b):
        terms = q["text"].split()
        assert 1 <= len(terms) <= gen.MAX_TERMS and len(set(terms)) == len(terms)


def test_query_properties_report_repeat_and_head_shares():
    qs = gen.interactive_queries(11, 4000, 0.25)
    props = gen.query_properties(qs)
    assert abs(props["repeat_share"] - 0.25) < 0.03
    assert 0.0 < props["head_term_share"] < 1.0
    assert gen.query_properties([]) == {"queries": 0, "repeat_share": 0.0,
                                        "head_term_share": 0.0, "mean_terms": 0.0}


def test_written_inputs_are_deterministic_by_seed(tmp_path):
    def read(path, seed):
        dirs = gen.write_inputs(str(path), 40, 2, 7, seed)
        return [pq.read_table(d).to_pylist() for d in dirs]

    a, b, c = read(tmp_path / "a", 3), read(tmp_path / "b", 3), read(tmp_path / "c", 4)
    assert a == b and a != c
    assert [len(p) for p in a] == [len(p) for p in c] == [40, 7, 7]
    assert all(r["conv_id"].startswith("a001-") for r in a[1])
    assert not {r["conv_id"] for r in a[0]} & {r["conv_id"][5:] for r in a[1] + a[2]}


def test_benchmark_json_matches_the_reported_metrics():
    import run
    import workloads

    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
