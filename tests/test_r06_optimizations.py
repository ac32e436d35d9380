"""Round-6 optimization pins.

The optimizations must be invisible in results: the single-task search
plan must equal the distributed shard-exchange plan row for row, the
one-shot dictionary cache must resolve exactly what per-term lookups
resolved, rescore's driver-resident keep-list must equal the filter_df
form, and the qstring phrase fixes must raise instead of silently
re-tokenizing residue.
"""

import dataclasses
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.engine import Engine
from hora_spark.functions.qstring import parse_query_string


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path_factory.mktemp("r06idx"))
    e = Engine(spark, path, EngineConfig(index=IndexConfig(block_size=8,
                                                           n_buckets=4)))
    e.build(docs, id_col="doc_id")
    return e


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def _exact_rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.fixture(scope="module")
def churned(spark, tmp_path_factory):
    """A positional 4-shard index with one append_build delta and one
    delete: multi-source postings and tombstones in the kernel."""
    from hora_spark.datagen import generate_transcripts
    from hora_spark.streaming.incremental import append_build

    cfg = EngineConfig(index=IndexConfig(block_size=8, n_buckets=4,
                                         store_positions=True))
    e = Engine(spark, str(tmp_path_factory.mktemp("r06churn")), cfg)
    e.build(generate_transcripts(spark, 40, seed=5), id_col=None,
            order_cols=["conv_id", "turn_idx"])
    n_base = int(e.store.meta()["n_docs"])
    append_build(spark, e.store, generate_transcripts(spark, 6, seed=6),
                 cfg=cfg, batch_id="d1")
    victim = e.search("water people", k=1).collect()[0]["doc_id"]
    e.delete([victim])
    return e, n_base, victim


def test_single_task_plan_equals_distributed(spark, eng, churned):
    """cfg.max_single_task_scan_bytes=0 forces the shard-exchange plan;
    both plans must return identical ordered rows, floats unrounded, for
    a mixed workload — including on an index with an append delta and a
    delete, where the single task chains each term's rows across shards
    and sources into one kernel call per query."""
    forced = Engine(spark, eng.store.root,
                    dataclasses.replace(eng.cfg, max_single_task_scan_bytes=0))
    for q, kw in [
        ("join hash row", {}),
        ("join hash row", {"mode": "all"}),
        ("join hash row", {"exclude": "dup"}),
        ("dup join", {"min_match": 0}),
    ]:
        fast = _exact_rows(eng.search(q, k=7, **kw))
        slow = _exact_rows(forced.search(q, k=7, **kw))
        assert fast == slow, (q, kw)
        if not kw:
            assert fast, "expected non-empty results for the base query"
    # the fast path really is exchange-free
    plan = eng.search("join hash row", k=7)._jdf.queryExecution().toString()
    assert "Exchange" not in plan
    plan2 = forced.search("join hash row", k=7)._jdf.queryExecution().toString()
    assert "Exchange" in plan2

    ce, n_base, victim = churned
    cforced = Engine(spark, ce.store.root,
                     dataclasses.replace(ce.cfg, max_single_task_scan_bytes=0))
    page1 = _exact_rows(ce.search("water people", k=9))
    cursor = (page1[-1][1], page1[-1][0])
    specs = [
        {"text": "water people"},
        {"text": "the and", "mode": "all"},
        {"text": "water people", "exclude": "time"},
        {"text": "the of and", "min_match": 2},
        {"text": "of the", "mode": "phrase"},
        {"text": "the of", "mode": "near", "near_window": 3},
        {"text": "water people", "boosts": {"people": 2.5}},
        {"text": "water people", "after": cursor},
    ]
    seen = set()
    for spec in specs:
        kw = {key: v for key, v in spec.items() if key != "text"}
        fast = _exact_rows(ce.search(spec["text"], k=9, **kw))
        assert fast == _exact_rows(cforced.search(spec["text"], k=9, **kw)), spec
        assert fast, spec
        seen.update(d for d, _ in fast)
    assert victim not in seen
    assert max(seen) >= n_base, "some hit must come from the append delta"
    # the same specs as one batch: one task, one kernel call per query
    batch = ce.searches(specs, k=9)
    assert _exact_rows(batch) == _exact_rows(cforced.searches(specs, k=9))
    assert "Exchange" not in batch._jdf.queryExecution().toString()
    # page 2 continues page 1 exactly
    assert _exact_rows(ce.search("water people", k=4, after=cursor)) == \
        _exact_rows(ce.search("water people", k=13))[9:]


def test_non_finite_snapshot_stats_raise(spark, eng, monkeypatch):
    """A NaN score would sort last in the single-task plan (numpy) and
    first in the distributed one (Spark), so search refuses non-finite
    idf or avgdl before it builds a plan."""
    v = eng.store.current_version()
    eng.search("join hash", k=3).collect()  # fills the snapshot's cache
    cache = eng._idf_caches[v]
    monkeypatch.setitem(cache, "join", float("nan"))
    with pytest.raises(ValueError, match="idf is not finite"):
        eng.search("join hash", k=3)
    monkeypatch.undo()
    assert eng.search("join hash", k=3).collect()
    real_meta = eng.store.meta
    monkeypatch.setattr(eng.store, "meta", lambda version=None: {
        **real_meta(version), "avgdl": float("inf")})
    with pytest.raises(ValueError, match="avgdl is not finite"):
        eng.search("join hash", k=3)


def test_single_task_batched_merge_equals_distributed(spark, eng):
    """The in-task pandas top-k merge (session 2: the Window/row_number +
    orderBy plan nodes folded into the scan task) must reproduce the
    distributed plan's per-query caps, tie-breaks, and global
    (query_id, score DESC, doc_id ASC) order for a multi-query batch."""
    forced = Engine(spark, eng.store.root,
                    dataclasses.replace(eng.cfg, max_single_task_scan_bytes=0))
    batch = ["join hash row", "dup join", "scan window spark",
             ("join hash row", "all", None)]
    fast = [(r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in eng.searches(batch, k=5).collect()]
    slow = [(r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in forced.searches(batch, k=5).collect()]
    assert fast == slow
    assert fast, "expected non-empty batched results"
    # per-query cap honored and order strictly (qid, -score, doc_id)
    from collections import Counter
    assert max(Counter(q for q, *_ in fast).values()) <= 5
    assert fast == sorted(fast, key=lambda t: (t[0], -t[2], t[1]))


def test_duplicate_specs_in_batch_equal_singletons(spark, eng):
    """Identical specs in one batch are computed once in the shard kernel
    (memoized by normalized-spec identity); every duplicate must still
    emit its own query_id with rows identical to the singleton run."""
    batch = ["join hash row", "dup join", "join hash row",
             {"text": "join hash row", "exclude": "dup"},
             "join hash row",
             {"text": "join hash row", "exclude": "dup"}]
    got = {}
    for r in eng.searches(batch, k=6).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9)))
    singles = [_rows(eng.search("join hash row", k=6)),
               _rows(eng.search("dup join", k=6)),
               _rows(eng.search("join hash row", k=6)),
               _rows(eng.search("join hash row", k=6, exclude="dup")),
               _rows(eng.search("join hash row", k=6)),
               _rows(eng.search("join hash row", k=6, exclude="dup"))]
    assert [got.get(i, []) for i in range(6)] == singles
    assert got[0] and got[0] == got[2] == got[4]
    assert got[3] == got[5]


def test_idf_cache_complete_matches_per_term(spark, eng):
    """The one-shot full-dictionary load must resolve idfs identically to
    the per-term isin path (cache disabled via max_idf_cache_terms=0)."""
    nocache = Engine(spark, eng.store.root,
                     dataclasses.replace(eng.cfg, max_idf_cache_terms=0))
    a = _rows(eng.search("join hash row absent_zzz", k=10))
    b = _rows(nocache.search("join hash row absent_zzz", k=10))
    assert a == b
    from hora_spark.operators.query import _CACHE_COMPLETE
    v = eng.store.current_version()
    assert eng._idf_caches[v].get(_CACHE_COMPLETE) is not None
    assert nocache._idf_caches[v].get(_CACHE_COMPLETE) is None


def test_driver_side_expansion_equals_scan(spark, eng):
    """Prefix/wildcard expansion from the cached dictionary must equal
    the stats-table scan expansion."""
    nocache = Engine(spark, eng.store.root,
                     dataclasses.replace(eng.cfg, max_idf_cache_terms=0))
    for q in ("jo*", "*ow", "h?sh"):
        a = _rows(eng.search(q, k=10, expand_prefixes=True))
        b = _rows(nocache.search(q, k=10, expand_prefixes=True))
        assert a == b, q


def test_rescore_allowed_ids_equals_filter_df(spark, eng):
    """matches(allowed_ids=...) must equal matches(filter_df=...)."""
    top = eng.search("join hash row", k=5).collect()
    ids = [r["doc_id"] for r in top]
    via_ids = sorted(_rows(eng.matches(["join row"], allowed_ids=ids)))
    fdf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    via_df = sorted(_rows(eng.matches(["join row"], filter_df=fdf)))
    assert via_ids == via_df


def test_qstring_phrase_boost_is_loud():
    with pytest.raises(ValueError, match="phrase boost"):
        parse_query_string('"a b"^2')
    with pytest.raises(ValueError, match="trailing"):
        parse_query_string('"a b"~3x')
    # plain phrases, slop, and boosts still parse
    spec = parse_query_string('+scan "part filter" "a b"~4 row^2 -dup')
    assert spec["phrases"] == [("part filter", None, False), ("a b", 4, True)]
    assert spec["boosts"] == {"row": 2.0}
