"""Incremental ingestion: append → merge-on-read correctness → compaction
identity → Structured Streaming ingest (the distributed version of the
reference's post-build `add_single_item`,
/root/reference/src/index/hnsw_idx.rs:498-521)."""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from hora_spark.config import EngineConfig, IndexConfig
from hora_spark.datagen import TRANSCRIPT_SCHEMA, generate_transcripts
from hora_spark.engine import Engine
from hora_spark.functions.codec import decode_block, decode_posting
from hora_spark.operators.corpus import prepare
from hora_spark.operators.oracle import bruteforce_topk
from hora_spark.operators.segments import NORMS_TERM
from hora_spark.streaming.incremental import append_build, merge_segments, stream_ingest

CFG = EngineConfig(index=IndexConfig(block_size=16, n_buckets=8))
QUERIES = ["the of and", "water people time", "w00123 the"]


@pytest.fixture(scope="module")
def split_data(spark):
    base = generate_transcripts(spark, 60, seed=21).cache()
    extra = (
        generate_transcripts(spark, 25, seed=87)
        .withColumn("conv_id", F.concat(F.lit("x"), F.col("conv_id")))
        .cache()
    )
    base.count(), extra.count()
    yield base, extra
    base.unpersist(), extra.unpersist()


@pytest.fixture(scope="module")
def appended_engine(spark, split_data, tmp_path_factory):
    base, extra = split_data
    path = str(tmp_path_factory.mktemp("inc"))
    eng = Engine(spark, path, CFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    info = append_build(spark, eng.store, extra, cfg=CFG, batch_id="delta-1")
    assert info["n_new_docs"] > 0
    yield eng
    shutil.rmtree(path, ignore_errors=True)


def _frozen_oracle(spark, eng, base, extra, query, k):
    """Brute-force oracle under FROZEN build-time stats: idf/avgdl from the
    base corpus, scores over base+appended docs."""
    c_base = prepare(base, id_col=None, order_cols=["conv_id", "turn_idx"],
                     use_pandas_udf=False)
    c_all = prepare(base.unionByName(extra), id_col=None,
                    order_cols=["conv_id", "turn_idx"], use_pandas_udf=False)
    # doc_id order: base convs sort before "xconv..." so appended ids extend
    frozen = type(c_all)(
        docs=c_all.docs, tf=c_all.tf, term_stats=c_base.term_stats,
        n_docs=c_base.n_docs, avgdl=c_base.avgdl,
    )
    return bruteforce_topk(spark, frozen, query, k=k)


def test_append_merge_on_read_exact(spark, split_data, appended_engine):
    base, extra = split_data
    for q in QUERIES:
        got = appended_engine.search(q, k=15).collect()
        want = _frozen_oracle(spark, appended_engine, base, extra, q, 15).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], q
        np.testing.assert_allclose(
            [r["score"] for r in got], [r["score"] for r in want], atol=1e-9
        )


def test_appended_docs_searchable(spark, split_data, appended_engine):
    """Some result must come from the appended range for a common query."""
    lin = appended_engine.store.read("lineage").collect()
    res = appended_engine.search("the of and", k=100).collect()
    meta = appended_engine.store.meta()
    base_max = int(meta["next_doc_id"]) - int(
        [r["doc_count"] for r in lin if r["build_id"] == "delta-1"][0]
    )
    assert any(r["doc_id"] >= base_max for r in res)


def test_compaction_identity(spark, split_data, appended_engine):
    """merge_segments must not change any query result, and must leave one
    row per (shard, term)."""
    before = {q: [(r["doc_id"], r["score"]) for r in appended_engine.search(q, k=15).collect()]
              for q in QUERIES}
    merge_segments(spark, appended_engine.store, CFG)
    segs = appended_engine.store.read("segments")
    dupes = segs.groupBy("shard_id", "term").count().filter(F.col("count") > 1).count()
    assert dupes == 0
    for q in QUERIES:
        after = [(r["doc_id"], r["score"]) for r in appended_engine.search(q, k=15).collect()]
        assert after == before[q], q


def test_stream_ingest(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "sidx")
    base = generate_transcripts(spark, 30, seed=5)
    eng = Engine(spark, idx, CFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    n0 = eng.nodes_size()
    extra = generate_transcripts(spark, 10, seed=99).withColumn(
        "conv_id", F.concat(F.lit("z"), F.col("conv_id"))
    )
    extra.write.mode("overwrite").parquet(src)
    q = stream_ingest(spark, eng.store, src, ckpt, TRANSCRIPT_SCHEMA, cfg=CFG)
    q.awaitTermination(120)
    assert eng.nodes_size() > n0
    assert eng.search("the", k=5).count() == 5


def test_append_batch_with_tokenless_rows(spark, tmp_path):
    """A batch containing empty/punct-only texts must still consume their
    doc_ids: next_doc_id advances by the PRE-filter count, so the following
    batch cannot reuse a live id (regression: two docs sharing a doc_id
    corrupts the norms lookup and merges postings of different docs)."""
    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    base = spark.createDataFrame(
        [("c0", 0, "u", "alpha beta", None), ("c0", 1, "u", "gamma", None)], schema
    )
    eng = Engine(spark, str(tmp_path / "tl"), CFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    next0 = int(eng.store.meta()["next_doc_id"])

    batch1 = spark.createDataFrame(
        [
            ("x0", 0, "u", "alpha", None),
            ("x0", 1, "u", "!!! ...", None),   # punct-only → 0 tokens
            ("x1", 0, "u", "", None),          # empty
            ("x1", 1, "u", "beta alpha", None),
        ],
        schema,
    )
    info1 = append_build(spark, eng.store, batch1, cfg=CFG, batch_id="d1")
    assert info1["n_new_docs"] == 2
    meta1 = eng.store.meta()
    assert int(meta1["next_doc_id"]) == next0 + 4          # raw rows, not live
    assert int(meta1["n_docs"]) == 2 + 2                   # live docs only

    batch2 = spark.createDataFrame([("y0", 0, "u", "alpha gamma", None)], schema)
    info2 = append_build(spark, eng.store, batch2, cfg=CFG, batch_id="d2")
    assert info2["base_doc_id"] == next0 + 4

    res = eng.search("alpha", k=20).collect()
    ids = [r["doc_id"] for r in res]
    assert len(ids) == len(set(ids)), f"duplicate doc_ids: {ids}"
    # batch2's doc is searchable at its non-colliding id
    assert next0 + 4 in ids
    # batch1's live docs sit at ids base+0 and base+3 (order-assigned)
    assert next0 in ids and next0 + 3 in ids


def test_append_all_tokenless_batch(spark, tmp_path):
    """An all-empty batch appends NO segment dir (a schema-less parquet dir
    would break later reads) but still advances next_doc_id."""
    schema = "conv_id string, turn_idx int, role string, text string, tool string"
    base = spark.createDataFrame([("c0", 0, "u", "alpha beta", None)], schema)
    eng = Engine(spark, str(tmp_path / "te"), CFG)
    eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
    next0 = int(eng.store.meta()["next_doc_id"])
    n_seg_dirs0 = len(eng.store.tables()["segments"])

    batch = spark.createDataFrame([("x0", 0, "u", "...", None)], schema)
    info = append_build(spark, eng.store, batch, cfg=CFG, batch_id="d0")
    assert info["n_new_docs"] == 0
    assert len(eng.store.tables()["segments"]) == n_seg_dirs0
    assert int(eng.store.meta()["next_doc_id"]) == next0 + 1
    assert [r["doc_id"] for r in eng.search("alpha", k=5).collect()] == [0]


def test_auto_compaction_bounds_posting_sources(spark, split_data, tmp_path):
    """max_delta_batches: appends accumulate segment dirs (merge-on-read
    posting sources) only up to the ceiling — the append that exceeds it
    compacts back to ONE dir, and search results are identical to a twin
    engine that never compacted."""
    base, extra = split_data
    slices = [extra.filter(F.col("conv_id") < "xconv00000008"),
              extra.filter((F.col("conv_id") >= "xconv00000008")
                           & (F.col("conv_id") < "xconv00000016")),
              extra.filter(F.col("conv_id") >= "xconv00000016")]

    import dataclasses
    cfg_auto = dataclasses.replace(CFG, max_delta_batches=2)
    cfg_off = dataclasses.replace(CFG, max_delta_batches=None)

    engines = {}
    for name, cfg in (("auto", cfg_auto), ("off", cfg_off)):
        eng = Engine(spark, str(tmp_path / name), cfg)
        eng.build(base, id_col=None, order_cols=["conv_id", "turn_idx"])
        compactions = 0
        for i, sl in enumerate(slices):
            out = append_build(spark, eng.store, sl, cfg=cfg,
                               batch_id=f"d{i}")
            compactions += int(bool(out.get("compacted")))
            # the invariant queries rely on: posting sources per term
            # never exceed ceiling + 1 (the dir that tripped it compacts
            # within the same append call)
            if cfg.max_delta_batches is not None:
                assert len(eng.store.tables()["segments"]) <= cfg.max_delta_batches
        engines[name] = (eng, compactions)

    # off: 1 base + 3 deltas accumulate; auto: the append that exceeded
    # the ceiling (build+2 deltas = 3 dirs > 2) compacted to 1, then the
    # final delta appended on top
    assert len(engines["off"][0].store.tables()["segments"]) == 4
    assert engines["off"][1] == 0
    assert len(engines["auto"][0].store.tables()["segments"]) == 2
    assert engines["auto"][1] == 1

    for q in QUERIES:
        a = engines["auto"][0].search(q, k=20).collect()
        b = engines["off"][0].search(q, k=20).collect()
        assert [(r["doc_id"], r["score"]) for r in a] == [
            (r["doc_id"], r["score"]) for r in b], q
    for name in engines:
        shutil.rmtree(str(tmp_path / name), ignore_errors=True)


def _postings_from(store, lo: int) -> dict:
    """Every decoded posting of a doc with id >= lo in the current
    snapshot: (term, doc_id) → (tf, dl, positions). Norms rows skipped."""
    out = {}
    for r in store.read("segments").collect():
        if r["term"] == NORMS_TERM:
            continue
        ids, tfs = decode_posting([bytes(b) for b in r["doc_blocks"]],
                                  [bytes(b) for b in r["tf_blocks"]])
        dls = np.concatenate([decode_block(bytes(b), delta=False)
                              for b in r["dl_blocks"]])
        pos = np.concatenate([decode_block(bytes(b), delta=False)
                              for b in r["pos_blocks"]])
        offs = np.concatenate([[0], np.cumsum(tfs)])
        for i, d in enumerate(ids.tolist()):
            if d < lo:
                continue
            key = (r["term"], d)
            assert key not in out, f"posting {key} stored twice"
            out[key] = (int(tfs[i]), int(dls[i]),
                        tuple(pos[offs[i]:offs[i + 1]].tolist()))
    return out


def test_append_postings_equal_single_build(spark, tmp_path):
    """An append runs the build's own tokenize+pack and shard merge: B
    appended to a positional, fielded index over A decodes to exactly the
    postings a single build over A ∪ B gives B's docs — every (term,
    doc_id, tf, dl, positions), field postings included. B's keys sort
    after A's (a token-less row first), so doc ids coincide."""
    cfg = EngineConfig(index=IndexConfig(
        block_size=16, n_buckets=4, store_positions=True,
        field_cols=("role", "tool")))
    a = generate_transcripts(spark, 12, seed=3)
    b = generate_transcripts(spark, 6, seed=4).withColumn(
        "conv_id", F.concat(F.lit("x"), F.col("conv_id"))
    ).unionByName(spark.createDataFrame(
        [("xa", 0, "user", "...", None, None),
         ("xa", 1, "user", "Alpha, beta ALPHA", "grep Tool", None)],
        TRANSCRIPT_SCHEMA))

    inc = Engine(spark, str(tmp_path / "inc"), cfg)
    inc.build(a, id_col=None, order_cols=["conv_id", "turn_idx"])
    lo = int(inc.store.meta()["next_doc_id"])
    append_build(spark, inc.store, b, cfg=cfg, batch_id="d1")
    one = Engine(spark, str(tmp_path / "one"), cfg)
    one.build(a.unionByName(b), id_col=None, order_cols=["conv_id", "turn_idx"])

    got = _postings_from(inc.store, lo)
    want = _postings_from(one.store, lo)
    assert got == want
    assert any(t.startswith("role:") for t, _ in got)
    assert ("tool:grep", lo + 1) in got and ("alpha", lo + 1) in got
    assert got[("alpha", lo + 1)] == (2, 3, (0, 2))
    assert not any(d == lo for _, d in got)  # the token-less row
