"""WAND pruned path must EXACTLY match the exhaustive decode-all path —
the strengthened version of the reference's index-vs-bruteforce agreement
harness (/root/reference/src/lib.rs:89-111), asserted instead of printed.

Pure numpy (no Spark): adversarial corpora with heavy ties, Zipf terms,
single-doc blocks, and degenerate one-term queries. Shard fusion (one
kernel call over a term's rows chained across doc-range shards) must
equal the merged per-shard top-k bit for bit.
"""

import numpy as np
import pytest

from hora_spark.functions.bm25 import idf_np
from hora_spark.config import BM25Config
from hora_spark.functions.codec import encode_block, encode_posting
from hora_spark.functions.wand import TermPosting, shard_topk

CFG = BM25Config()
K1, B = CFG.k1, CFG.b


def make_corpus(rng, n_docs, n_terms, zipf_s=1.2, max_tf=5, tie_heavy=False):
    """Random corpus → dict term -> (doc_ids, tfs), plus dls."""
    if tie_heavy:
        dls = np.full(n_docs, 10, np.int64)  # identical dl → massive ties
    else:
        dls = rng.integers(1, 50, n_docs).astype(np.int64)
    corpus = {}
    for t in range(n_terms):
        df = max(1, int(n_docs / ((t + 1) ** zipf_s)))
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = (np.ones(df, np.int64) if tie_heavy else rng.integers(1, max_tf + 1, df).astype(np.int64))
        corpus[f"t{t}"] = (docs, tfs)
    return corpus, dls


def postings_for(corpus, dls, terms, n_docs, avgdl, block_size):
    tps = []
    for t in sorted(terms):
        if t not in corpus:
            continue
        docs, tfs = corpus[t]
        idf = float(idf_np(n_docs, np.array([len(docs)]), CFG)[0])
        db, tb, last, ns = encode_posting(docs, tfs, block_size)
        dlb = [encode_block(dls[docs][i: i + block_size], delta=False)
               for i in range(0, len(docs), block_size)]
        sat = tfs / (tfs + K1 * (1 - B + B * dls[docs] / avgdl))
        contrib = idf * sat
        bmax = [float(contrib[i: i + block_size].max()) for i in range(0, len(docs), block_size)]
        tps.append(TermPosting(idf, list(db), list(tb), dlb, last, np.array(bmax)))
    return tps


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("block_size", [1, 4, 64])
@pytest.mark.parametrize("tie_heavy", [False, True])
def test_pruned_equals_exhaustive(seed, block_size, tie_heavy):
    rng = np.random.default_rng(seed)
    n_docs, n_terms = 500, 30
    corpus, dls = make_corpus(rng, n_docs, n_terms, tie_heavy=tie_heavy)
    avgdl = float(dls.mean())
    queries = [["t0"], ["t5", "t1"], ["t0", "t2", "t9", "t20"], ["t29"], ["t0", "t0absent"]]
    for q in queries:
        for k in (1, 5, 10, 100):
            tps = postings_for(corpus, dls, q, n_docs, avgdl, block_size)
            ids_e, sc_e = shard_topk(tps, k, avgdl, K1, B, prune=False)
            ids_p, sc_p = shard_topk(tps, k, avgdl, K1, B, prune=True)
            assert (ids_e == ids_p).all(), f"ids differ q={q} k={k}"
            np.testing.assert_allclose(sc_e, sc_p, rtol=0, atol=1e-12)


def test_empty_and_missing_terms():
    ids, sc = shard_topk([], 5, 1.0, K1, B)
    assert len(ids) == 0


def test_tiebreak_doc_id_asc():
    """Identical docs: scores tie exactly → smaller doc_id first; the
    pruned path must preserve this even when ub == θ (strict-< skip)."""
    n = 64
    docs = np.arange(n, dtype=np.int64)
    tfs = np.ones(n, np.int64)
    dls = np.full(n, 7, np.float64)
    idf = 1.5
    db, tb, last, ns = encode_posting(docs, tfs, 8)
    dlb = [encode_block(dls[i: i + 8].astype(np.int64), delta=False)
           for i in range(0, n, 8)]
    sat = 1 / (1 + K1 * (1 - B + B * 7 / 7.0))
    bmax = [idf * sat] * len(last)
    tp = TermPosting(idf, list(db), list(tb), dlb, last, np.array(bmax))
    for prune in (False, True):
        ids, sc = shard_topk([tp], 5, 7.0, K1, B, prune=prune)
        assert (ids == np.array([0, 1, 2, 3, 4])).all()
        assert np.allclose(sc, idf * sat)


def test_rare_term_decodes_only_its_posting(monkeypatch):
    """Scale property: a rare-term query must decode O(posting) bytes, NOT
    a shard-sized doc-length sidecar (the round-1 design decoded the whole
    shard's norms per query — rare-term cost scaled with shard size)."""
    import pandas as pd

    import hora_spark.functions.wand as wand_mod
    from hora_spark.operators.segments import encode_shard_rows
    from hora_spark.operators.query import _shard_search

    n_docs = 20_000
    rows = {
        "shard_id": np.zeros(n_docs + 5, np.int32),
        "doc_id": np.concatenate([np.arange(n_docs), np.arange(5) * 1000]),
        "dl": np.full(n_docs + 5, 10, np.int64),
        "term": np.array(["common"] * n_docs + ["rare"] * 5, dtype=object),
        "tf": np.ones(n_docs + 5, np.int64),
    }
    seg_pdf = encode_shard_rows(pd.DataFrame(rows), block_size=64)

    calls = {"n": 0}
    real = wand_mod.decode_block

    def counting(buf, base=0, delta=True):
        calls["n"] += 1
        return real(buf, base=base, delta=delta)

    monkeypatch.setattr(wand_mod, "decode_block", counting)
    out = _shard_search(seg_pdf, [(["rare"], "any", 5, [], 0, None, None, [], [], None, None, None)],
                        {"rare": 2.0}, k=10,
                        avgdl=10.0, k1=K1, b=B, prune=True)
    assert sorted(out["doc_id"]) == [0, 1000, 2000, 3000, 4000]
    # rare posting = 1 block → 3 decodes (doc, tf, dl); the 20k-doc common
    # posting and the shard norms sidecar must never be touched
    assert calls["n"] <= 3, f"decoded {calls['n']} blocks for a 5-doc posting"


# ---------------------------------------------------------- shard fusion --

STRIDE = 50  # doc d has id d * STRIDE: the id span needs several WAND batches


def _fusion_rows(rng, n_docs, shard_size, delta_from, block_size, store_dl,
                 tie_heavy):
    """Segment rows of a positional corpus split into doc-range shards
    (shard = doc_id // shard_size) and two sources: the base build
    (docs < delta_from) and one append delta (the rest), which spans
    more than one shard. Rows come base first, then delta, like a scan
    over the base files and then the delta files."""
    import pandas as pd

    from hora_spark.operators.segments import encode_shard_rows

    vocab = np.array([f"t{i}" for i in range(8)], dtype=object)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    docs = []
    for _ in range(n_docs):
        dl = 6 if tie_heavy else int(rng.integers(1, 25))
        docs.append(rng.choice(vocab, size=dl, p=p / p.sum()))
    frames = []
    for lo, hi in ((0, delta_from), (delta_from, n_docs)):
        ids = np.arange(lo, hi) * STRIDE
        for s in np.unique(ids // shard_size):
            cols = {"shard_id": [], "doc_id": [], "dl": [], "term": [], "tf": []}
            pos = []
            for d in ids[ids // shard_size == s]:
                toks = docs[d // STRIDE]
                for t in sorted(set(toks)):
                    at = np.flatnonzero(toks == t)
                    cols["shard_id"].append(int(s))
                    cols["doc_id"].append(int(d))
                    cols["dl"].append(len(toks))
                    cols["term"].append(t)
                    cols["tf"].append(len(at))
                    pos.extend(at.tolist())
            frames.append(encode_shard_rows(
                pd.DataFrame(cols), block_size, store_dl=store_dl,
                pos_flat=np.array(pos, np.int64)))
    rows = pd.concat(frames, ignore_index=True)
    dls = np.array([len(d) for d in docs], np.int64)
    dfs = {t: sum(t in set(d) for d in docs) for t in vocab}
    idf_map = {t: float(idf_np(n_docs, np.array([df]), CFG)[0])
               for t, df in dfs.items() if df}
    return rows, idf_map, float(dls.mean())


def _spec(terms, mode="any", near_window=5, exclude=(), min_match=0,
          after=None, boosts=None, demote=None):
    return (list(terms), mode, near_window, list(exclude), min_match, after,
            boosts, [], [], None, None, demote)


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("tie_heavy", [False, True])
@pytest.mark.parametrize("store_dl", [True, False])
def test_fused_shard_topk_equals_merged_per_shard(monkeypatch, seed,
                                                  tie_heavy, store_dl):
    """One fused shard_topk call per query over all shards (a term's rows
    chained per source across doc-range shards) must return exactly the
    merged per-shard top-k: same ids, same order, bit-identical floats."""
    import pandas as pd

    import hora_spark.operators.query as query_mod

    rng = np.random.default_rng(seed)
    rows, idf_map, avgdl = _fusion_rows(
        rng, n_docs=600, shard_size=100 * STRIDE, delta_from=430, block_size=4,
        store_dl=store_dl, tie_heavy=tie_heavy)
    n_shards = rows["shard_id"].nunique()
    assert n_shards == 6
    live = rows[rows["term"].isin(idf_map)]
    assert (live.groupby(["shard_id", "term"]).size() > 1).any(), \
        "some term must have a second (append-delta) source in a shard"

    def merged_per_shard(specs, k, **kw):
        outs = [query_mod._shard_search(g, specs, idf_map, k, avgdl, K1, B,
                                        True, **kw)
                for _, g in rows.groupby("shard_id")]
        allr = pd.concat(outs, ignore_index=True).sort_values(
            ["query_id", "score", "doc_id"], ascending=[True, False, True],
            kind="mergesort")
        return [tuple(r) for r in allr.groupby("query_id").head(k)
                .itertuples(index=False)]

    calls = {"n": 0}
    real = query_mod.shard_topk

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    def fused(specs, k, **kw):
        calls["n"] = 0
        monkeypatch.setattr(query_mod, "shard_topk", counting)
        out = query_mod._shard_search(rows, specs, idf_map, k, avgdl, K1, B,
                                      True, **kw)
        monkeypatch.setattr(query_mod, "shard_topk", real)
        assert calls["n"] == len(specs), "one kernel call per query"
        return [tuple(r) for r in out.itertuples(index=False)]

    del_ids = np.sort(rng.choice(600, 60, replace=False)) * STRIDE
    allow_ids = np.sort(rng.choice(600, 300, replace=False)) * STRIDE
    specs = [
        _spec(["t0", "t3"]),
        _spec(["t1", "t2"], mode="all"),
        _spec(["t0", "t1", "t4"], min_match=2),
        _spec(["t0", "t2"], exclude=["t5"]),
        _spec(["t1", "t3"], boosts={"t3": 2.5}),
        _spec(["t2"], demote=(["t4"], 0.5)),
        _spec(["t1", "t0"], mode="phrase"),
        _spec(["t0", "t2"], mode="near", near_window=3),
        _spec(["t2", "t0", "t1"], mode="near_unordered", near_window=4),
    ]
    for k in (1, 5, 40):
        for kw in ({}, {"deleted": del_ids}, {"allowed": allow_ids},
                   {"deleted": del_ids, "allowed": allow_ids}):
            got = fused(specs, k, **kw)
            assert got == merged_per_shard(specs, k, **kw), (k, kw)
            assert got, "expected hits"
    # deep paging: the cursor is a row of the fused first page
    page1 = fused([_spec(["t0", "t3"])], 7)
    cursor = (page1[3][2], page1[3][1])
    paged = [_spec(["t0", "t3"], after=cursor),
             _spec(["t1", "t0"], mode="phrase", after=cursor)]
    got = fused(paged, 7, deleted=del_ids)
    assert got == merged_per_shard(paged, 7, deleted=del_ids)
    assert [r for r in got if r[0] == 0] == [
        (0, d, s) for _, d, s in fused([_spec(["t0", "t3"])], 11)[4:]]


def test_chain_rejects_unordered_sources():
    """Chaining is only exact over ascending, disjoint doc ranges."""
    dlb = [encode_block(np.array([3]), delta=False)] * 2
    db, tb, last, _ = encode_posting(np.array([5, 9]), np.array([1, 1]), 1)
    a = TermPosting(1.0, db, tb, dlb, last, np.ones(2))
    db2, tb2, last2, _ = encode_posting(np.array([20, 30]), np.array([1, 2]), 1)
    b = TermPosting(1.0, db2, tb2, dlb, last2, np.ones(2))
    chained = TermPosting.chain([a, b])
    assert [int(chained.decode(j)[0][0]) for j in range(4)] == [5, 9, 20, 30]
    with pytest.raises(ValueError, match="ascending"):
        TermPosting.chain([b, a])
