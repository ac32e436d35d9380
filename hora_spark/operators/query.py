"""Top-k BM25 retrieval over the segment table — the `search(item, k)`
analog (/root/reference/src/core/ann_index.rs:74-97).

Lifecycle (mirrors SURVEY.md §3.2):
  tokenize query with THE SAME tokenizer (driver-side, tiny)
  → look up query-term idf from the stats table (predicate-pushed filter,
    small collect — the query-vs-centroid ranking analog,
    /root/reference/src/index/pq_idx.rs:413-421)
  → ONE segment scan WHERE term IN (query terms ∪ {norms row}): parquet
    row-group pruning via min/max on the term column — the
    `search_n_center` probe analog: only matching index data is read.
    The per-shard doc-length sidecar rides in the same scan as a
    reserved-term row, so no second table, no cogroup, no driver state.
  → per task: DAAT + block-max WAND in a pandas UDF, ONE kernel call
    (shard_topk) per query per task — a term's rows from every shard the
    task receives chain into one posting list per source, since shards
    are disjoint doc ranges → the task's top-k
  → global top-k: the single-task plan (small indexes) already holds it;
    the distributed plan (one task per shard) ranks per query with a
    window on (score DESC, doc_id ASC) (the distributed form of hora's
    heap truncation, src/index/hnsw_idx.rs:434-437 in hora)

Queries are BATCHED: one Spark job scores any number of queries; the
task's UDF loops over queries in numpy. Single-query latency is the batch
of one.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hora_spark.config import EngineConfig
from hora_spark.functions.tokenize import tokenize_py, tokens_col
from hora_spark.functions.wand import TermPosting, shard_topk
from hora_spark.operators.segments import NORMS_TERM
from hora_spark.sources.storage import SnapshotStore

RESULT_SCHEMA = "query_id int, doc_id long, score double"

POSITIONAL_MODES = ("phrase", "near", "near_unordered")

_EMPTY = pd.DataFrame(
    {"query_id": pd.Series([], dtype=np.int32),
     "doc_id": pd.Series([], dtype=np.int64),
     "score": pd.Series([], dtype=np.float64)}
)


def _shard_search(
    seg_pdf: pd.DataFrame,
    queries: list[tuple[list[str], str, int, list[str], int, tuple | None,
                        dict | None]],
    idf_map: dict,
    k: int | None,
    avgdl: float,
    k1: float,
    b: float,
    prune: bool,
    deleted: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
) -> pd.DataFrame:
    """The segment rows of every query term in the shards one task
    receives — one shard (the distributed and cogroup plans) or the whole
    scan (the single-task plan). Runs WAND once per query: a term's rows
    are chained across the shards, in shard_id order, into one posting
    chain per source ordinal (its k-th segment row within each shard —
    base, then each append delta), so one shard_topk call scores every
    shard. Exact because shards are disjoint ascending doc ranges and
    every doc lives in exactly one source. Each query's rows come out
    ranked (score DESC, doc_id ASC) and capped at k, in query_id order.

    Doc lengths are decoded from the postings' own dl_blocks — the query
    touches O(matched posting) bytes, never a shard-sized sidecar
    (rare-term cost ∝ posting size, not shard size). Exception: indexes
    built with store_dl=False carry no dl_blocks; the scan then includes
    the shards' norms rows and dls come from a sorted lookup over the
    decoded sidecars (scores byte-identical)."""
    is_norms = seg_pdf["term"] == NORMS_TERM
    norms_pdf = seg_pdf[is_norms]
    seg_pdf = seg_pdf[~is_norms]
    if len(seg_pdf) == 0:
        return _EMPTY
    dl_lookup = None
    if any(len(r) == 0 for r in seg_pdf["dl_blocks"]):
        from hora_spark.functions.codec import decode_block

        ids_all, dls_all = [], []
        for row in norms_pdf.itertuples(index=False):  # base + append deltas
            ids_all.append(decode_block(bytes(row.doc_blocks[0]), base=0, delta=True))
            dls_all.append(decode_block(bytes(row.tf_blocks[0]), delta=False))
        nids = np.concatenate(ids_all)
        ndls = np.concatenate(dls_all).astype(np.float64)
        order = np.argsort(nids, kind="mergesort")
        dl_lookup = (nids[order], ndls[order])
    # a term can have MULTIPLE segment rows per shard (base build +
    # appended deltas); each is an independent posting source — every doc
    # lives in exactly one source, so summing per-source contributions
    # stays exact and the per-source block maxima still add up to a true
    # upper bound. Rows are visited in shard_id order, so each source
    # ordinal's rows ascend in doc id and chain into one posting list.
    seg_pdf = seg_pdf.sort_values("shard_id", kind="mergesort")
    excl_all = ({t for q in queries for t in q[3]}
                | {t for q in queries if q[11] is not None
                   for t in q[11][0]})  # boosting-query negative terms
    # exclusion terms need only their DOC IDS (no idf, no tf/dl decode):
    # keep the raw compressed sources and decode ids lazily, once per term
    excl_raw: dict[str, list[tuple[list, np.ndarray]]] = {}
    sources: dict[str, list[list[TermPosting]]] = {}  # term → ordinal → rows
    ordinal: dict[tuple[int, str], int] = {}
    for row in seg_pdf.itertuples(index=False):
        if row.term in excl_all:
            excl_raw.setdefault(row.term, []).append(
                (list(row.doc_blocks), np.asarray(row.block_last, np.int64)))
        idf = idf_map.get(row.term)
        if idf is None:  # not a query term (scan is pre-filtered in prod)
            continue
        # stored bounds are avgdl-free (per-block max tf, min dl); the
        # block upper bound idf·sat(tf_max, dl_min) dominates every doc's
        # idf·sat(tf, dl) in the block (sat rises with tf, falls with dl)
        # — derived here, query-sized work (the ADC-LUT analog)
        tf_max = np.asarray(row.block_tf_max, dtype=np.float64)
        dl_min = np.asarray(row.block_dl_min, dtype=np.float64)
        ub = idf * tf_max / (tf_max + k1 * (1.0 - b + b * dl_min / avgdl))
        o = ordinal[row.shard_id, row.term] = ordinal.get(
            (row.shard_id, row.term), -1) + 1
        chains_t = sources.setdefault(row.term, [])
        if o == len(chains_t):
            chains_t.append([])
        chains_t[o].append(TermPosting(
            idf, row.doc_blocks, row.tf_blocks, row.dl_blocks, row.block_last,
            ub, dl_lookup=dl_lookup,
            # the scan includes pos_blocks only for phrase queries
            pos_blocks=(list(pb) if (pb := getattr(row, "pos_blocks", None))
                        is not None and len(pb) else None),
        ))
    postings = {t: [TermPosting.chain(rows) for rows in chains_t]
                for t, chains_t in sources.items()}
    excl_cache: dict[str, np.ndarray | None] = {}

    def _excl_ids(term: str) -> np.ndarray | None:
        """Sorted unique doc ids of one exclusion term in these shards —
        decoded once per (task call, term) regardless of how many queries
        exclude it. Decodes ONLY doc_blocks (ids): exclusion needs no
        tf/dl, so a store_dl=False layout needs no norms lookup here."""
        if term in excl_cache:
            return excl_cache[term]
        srcs = excl_raw.get(term)
        out = None
        if srcs:
            from hora_spark.functions.codec import decode_block

            parts = []
            for blocks, last in srcs:
                for j, blk in enumerate(blocks):
                    parts.append(decode_block(
                        bytes(blk), base=int(last[j - 1]) if j else 0,
                        delta=True))
            if parts:
                out = np.unique(np.concatenate(parts))
        excl_cache[term] = out
        return out

    _NO_HITS = (np.empty(0, np.int64), np.empty(0, np.float64))

    # mode rides PER QUERY (a mixed phrase + bag-of-words batch is the
    # normal shape of real traffic — one Spark job serves it)
    def _run_query(terms, mode, near_window, excl_terms, min_match,
                   after, boosts, req_toks, chain_specs,
                   dismax_tb, filter_groups, demote_spec):
        positional = mode in POSITIONAL_MODES
        # phrase/near modes ship RAW ordered token lists (order and, for
        # phrase, duplicates matter); other modes ship sorted distinct.
        # mode='any' boolean queries add must terms and positional-chain
        # terms to the slot universe (all matched terms score)
        if positional:
            distinct = sorted(set(terms))
        elif req_toks or chain_specs:
            distinct = sorted(set(terms) | set(req_toks)
                              | {tok for ct, _, _ in chain_specs for tok in ct})
        else:
            distinct = terms
        tp: list[TermPosting] = []
        idx_of: dict[str, list[int]] = {}
        for t in distinct:
            if t in postings:
                plist = postings[t]
                # per-term boost (term^w): boosted VIEWS share the
                # parent's decode caches, so blocks decode once per
                # task however many queries boost this term
                w = boosts.get(t, 1.0) if boosts else 1.0
                if w != 1.0:
                    plist = [p.boosted(w) for p in plist]
                idx_of[t] = list(range(len(tp), len(tp) + len(plist)))
                tp.extend(plist)
        if not tp:
            return _NO_HITS
        chains = None
        required = None
        mm_slots = None
        if positional:
            if len(idx_of) < len(distinct):
                return _NO_HITS  # an absent term makes the match unreachable
            if mode == "phrase":
                slots = [(off, idx_of[tok]) for off, tok in enumerate(terms)]
                chains = [(slots, None, False)]
            else:
                # near/near_unordered: one slot per DISTINCT term in
                # query order; anchored near uses the first as the
                # proximity anchor, unordered lets any slot anchor
                seen: list[str] = []
                for tok in terms:
                    if tok not in seen:
                        seen.append(tok)
                slots = [(i, idx_of[tok]) for i, tok in enumerate(seen)]
                chains = [(slots, near_window, mode == "near_unordered")]
        elif req_toks or chain_specs:
            # boolean query (query_string): must terms + positional
            # chains are REQUIRED clauses — a shard missing any of their
            # terms can contribute no results (shards partition the
            # doc-id space, so this is a per-shard skip, not a global one)
            if any(t not in idx_of for t in req_toks) or any(
                    tok not in idx_of
                    for ct, _, _ in chain_specs for tok in ct):
                return _NO_HITS
            required = [idx_of[t] for t in req_toks] or None
            built = []
            for c_toks, c_win, c_unord in chain_specs:
                if c_win is None:
                    slots = [(off, idx_of[tok])
                             for off, tok in enumerate(c_toks)]
                else:
                    seen = []
                    for tok in c_toks:
                        if tok not in seen:
                            seen.append(tok)
                    slots = [(i, idx_of[tok]) for i, tok in enumerate(seen)]
                built.append((slots, c_win, c_unord))
            chains = built or None
            if min_match >= 1:
                # minimum_should_match counts SHOULD clauses only (the
                # Lucene convention when must/phrase clauses are present)
                mm_slots = [i for t in sorted(set(terms))
                            if t in idx_of for i in idx_of[t]]
        # conjunctive/phrase/near: require every DISTINCT query term —
        # for mode="all", terms absent from the corpus are counted too
        # (len(terms) includes them), making min_match unreachable and
        # the query empty, which IS conjunctive semantics. mode="any"
        # honors an explicit per-query min_match (minimum_should_match:
        # at least that many distinct terms PRESENT in the doc — absent
        # terms can never count, matching Lucene's matched-clause count)
        mm = (len(terms) if mode == "all"
              else len(distinct) if positional else min_match)
        if filter_groups:
            # fielded filters: zero-score must clauses. Each group's
            # '<field>:<token>' postings join the slot list with idf 0 —
            # contribution 0, block upper bound 0 — so WAND interval
            # selection and θ are driven by scoring terms alone and
            # pruning stays exact. Groups are OR within (multi-value
            # filter), AND across (one group per field).
            scoring_slots = list(range(len(tp)))
            fgs = []
            absent = False
            for grp in filter_groups:
                slots: list[int] = []
                for ft in grp:
                    plist = postings.get(ft)
                    if plist:
                        slots.extend(range(len(tp), len(tp) + len(plist)))
                        tp.extend(plist)
                if not slots:
                    absent = True
                    break
                fgs.append(slots)
            if absent:
                return _NO_HITS  # no doc in this shard carries the field value
            required = (required or []) + fgs
            # qualification must count SCORING slots only: a filter entry
            # (contribution 0) may neither satisfy min_match nor surface
            # a doc with no scoring match as a score-0 result
            if req_toks or chain_specs:
                pass  # must/chain clauses already force a scoring match;
                # an explicit min_match kept its should-slot universe
            elif mm_slots is None:
                mm_slots = scoring_slots
                mm = max(mm, 1)
        # per-query NOT terms ride the tombstone machinery: their shard-
        # local doc ids union with the global deletes, applied pre-heap,
        # so θ tracks the k-th QUALIFIED score and pruning stays exact
        dels_q = deleted
        if excl_terms:
            arrs = [a for t in excl_terms
                    if (a := _excl_ids(t)) is not None and len(a)]
            if arrs:
                ex = arrs[0] if len(arrs) == 1 else np.unique(np.concatenate(arrs))
                dels_q = (ex if dels_q is None or not len(dels_q)
                          else np.union1d(dels_q, ex))
        # boosting query (ES `boosting`): the negative terms' doc ids
        # decode through the SAME lazy exclusion cache (ids only, no
        # tf/dl) — demotion is exclusion's softer sibling
        demote = None
        if demote_spec is not None:
            neg_terms, nb = demote_spec
            arrs = [a for t in neg_terms
                    if (a := _excl_ids(t)) is not None and len(a)]
            if arrs:
                ids_d = (arrs[0] if len(arrs) == 1
                         else np.unique(np.concatenate(arrs)))
                demote = (ids_d, nb)
        return shard_topk(tp, k, avgdl, k1, b, prune=prune,
                          deleted=dels_q, allowed=allowed,
                          min_match=mm, min_match_slots=mm_slots,
                          required=required, chains=chains,
                          after=after, dismax_tb=dismax_tb,
                          demote=demote)

    # identical specs in one batch compute ONCE (batches routinely repeat
    # queries — common-subexpression elimination across the batch): the
    # normalized spec tuples are plain python values, so identical specs
    # repr identically and the memo key is exact; results are reused by
    # reference and only the query_id label differs. No semantic change —
    # a duplicated spec's rows were already byte-identical by determinism.
    out_q, out_d, out_s = [], [], []
    memo: dict[str, tuple] = {}
    for qid, spec in enumerate(queries):
        key = repr(spec)
        res = memo.get(key)
        if res is None:
            res = _run_query(*spec)
            memo[key] = res
        ids, scores = res
        if len(ids):
            out_q.append(np.full(len(ids), qid, np.int32))
            out_d.append(ids)
            out_s.append(scores)
    if not out_q:
        return _EMPTY
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "doc_id": np.concatenate(out_d),
            "score": np.concatenate(out_s),
        }
    )


_FUZZY_RE = re.compile(r"^(?P<stem>.+?)~(?P<dist>[12])?$")

# idf-cache sentinel keys ('\x00' is unreachable by both tokenizer modes,
# so they can never collide with a real term; expansion keys '*stem',
# '~d:stem', '/pat' are likewise tokenizer-unreachable):
#   _CACHE_COMPLETE → the SORTED full term list of this snapshot's
#     dictionary (every term also has its idf cached) — set when the
#     vocabulary fit under cfg.max_idf_cache_terms;
#   _CACHE_PROBED → the one-shot full-load probe already ran (don't
#     re-probe a big vocabulary on every call).
_CACHE_COMPLETE = "\x00__vocab_complete__"
_CACHE_PROBED = "\x00__vocab_probed__"
_CACHE_DF = "\x00__df_map__"  # {term: df} — set only alongside _CACHE_COMPLETE


def _cached_vocab(cache: dict | None) -> list[str] | None:
    """The snapshot's full dictionary if the cache holds it, else None."""
    return cache.get(_CACHE_COMPLETE) if cache else None


def _idf_lookup(
    store: SnapshotStore,
    version: int | None,
    cache: dict,
    cfg: EngineConfig,
    missing: list[str],
) -> None:
    """Resolve `missing` terms' idfs into `cache` (None = absent).

    First call per snapshot: ONE limit-bounded collect probes the stats
    table; a vocabulary at or below cfg.max_idf_cache_terms loads whole
    (the collect doubles as the lookup), making every later lookup and
    prefix/wildcard/regex expansion a zero-job driver operation. Above
    the cap the probe's rows still seed the cache and lookups fall back
    to the pushed-down per-term isin scan — the limit stops the probe
    scan early, so big vocabularies pay one ordinary job, not a full
    dictionary read."""
    if cache.get(_CACHE_COMPLETE) is not None:
        for t in missing:
            cache.setdefault(t, None)  # complete dict: absent term
        return
    if not cache.get(_CACHE_PROBED) and cfg.max_idf_cache_terms > 0:
        cache[_CACHE_PROBED] = True
        cap = cfg.max_idf_cache_terms
        rows = (
            store.read("stats", version)
            .select("term", "idf", "df")
            .limit(cap + 1)
            .collect()
        )
        for r in rows:
            cache[r["term"]] = float(r["idf"])
        if len(rows) <= cap:
            cache[_CACHE_COMPLETE] = sorted(r["term"] for r in rows)
            cache[_CACHE_DF] = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                cache.setdefault(t, None)
            return
        missing = [t for t in missing if t not in cache]
        if not missing:
            return
    stats = store.read("stats", version).filter(F.col("term").isin(missing))
    found = {r["term"]: float(r["idf"])
             for r in stats.select("term", "idf").collect()}
    for t in missing:
        cache[t] = found.get(t)


def _parse_prefix_terms(
    text: str, unicode: bool,
) -> tuple[list[str], list[str], list[tuple[str, int]], list[str], list[str]]:
    """Split an expansion-syntax query into (plain tokens, prefix stems,
    fuzzy specs, wildcard patterns, regex patterns): whitespace words
    ending in a single trailing '*' are prefix stems (the
    pushdown-friendly special case), words ending in '~' or '~1'/'~2'
    are fuzzy terms (Lucene's fuzzy syntax; bare '~' means edit distance
    1), words with '*' / '?' anywhere ELSE are wildcard patterns ('*' =
    any run, '?' = one char — Lucene WildcardQuery, incl. leading/infix
    wildcards), '/pattern/' words are WHOLE-TERM regex queries (Lucene
    RegexpQuery: the pattern must match the entire term; keep to the
    portable regex subset — classes, alternation, quantifiers — since
    the dictionary scan uses the JVM engine and SQL twins use RE2),
    everything else tokenizes normally. A stem/fuzzy word must reduce to
    exactly ONE index token; a wildcard's literal chars must already BE
    one normalized index token (type patterns lowercase)."""
    import re as _re

    plains: list[str] = []
    stems: list[str] = []
    fuzz: list[tuple[str, int]] = []
    wilds: list[str] = []
    regexes: list[str] = []
    for w in (text or "").split():
        if len(w) > 2 and w.startswith("/") and w.endswith("/"):
            pat = w[1:-1]
            try:
                _re.compile(pat)
            except _re.error as e:
                raise ValueError(f"bad regex query {w!r}: {e}") from None
            regexes.append(pat)
            continue
        is_prefix = (len(w) > 1 and w.endswith("*")
                     and "*" not in w[:-1] and "?" not in w)
        is_wild = not is_prefix and ("*" in w or "?" in w)
        fm = None if (is_prefix or is_wild) else _FUZZY_RE.match(w)
        if is_wild:
            lit = w.replace("*", "").replace("?", "")
            if not lit:
                raise ValueError(
                    f"wildcard {w!r} has no literal characters (a "
                    "match-everything pattern is a full-dictionary scan, "
                    "not a query)")
            ts = tokenize_py(lit, unicode=unicode)
            if len(ts) != 1 or ts[0] != lit:
                raise ValueError(
                    f"wildcard {w!r}: the literal characters must form "
                    "exactly one normalized index token (lowercase, no "
                    "punctuation)")
            wilds.append(w)
        elif is_prefix or fm:
            raw = w.rstrip("*") if fm is None else fm.group("stem")
            st = tokenize_py(raw, unicode=unicode)
            if len(st) != 1:
                raise ValueError(
                    f"expansion token {w!r} must reduce to exactly one "
                    "index token"
                )
            if fm is None:
                stems.append(st[0])
            else:
                fuzz.append((st[0], int(fm.group("dist") or 1)))
        else:
            plains.extend(tokenize_py(w, unicode=unicode))
    return plains, stems, fuzz, wilds, regexes


def _expand_stems(
    store: SnapshotStore,
    version: int | None,
    stems: list[str],
    cache: dict,
    cfg: EngineConfig,
) -> dict[str, list[str]]:
    """Expand prefix stems against the index DICTIONARY (the stats table):
    ONE scan with OR'd startswith predicates (parquet pushes
    StringStartsWith, so only matching row groups are read) serves every
    stem in the batch. Expansions are capped at cfg.max_prefix_expansion
    per stem — a one-letter prefix over a web-scale vocabulary is a user
    error, not a job to run. Expanded terms' idfs enter the same
    per-snapshot cache the plain lookup uses (keyed '*stem' for the term
    list; terms themselves never contain '*')."""
    from functools import reduce
    from operator import or_

    cap = cfg.max_prefix_expansion
    missing = [s for s in stems if ("*" + s) not in cache]
    if missing:
        total_cap = cap * len(missing)
        vocab = _cached_vocab(cache)
        if vocab is not None:
            # full dictionary already on the driver: expand with ZERO
            # Spark jobs (same candidate set the scan would return)
            rows = [{"term": t, "idf": cache[t]} for t in vocab
                    if ":" not in t and any(t.startswith(s) for s in missing)
                    ][:total_cap + 1]
        else:
            # field terms ('lang:en') are filter vocabulary, not dictionary
            # words — a stem like 'lang' must not expand into them
            cond = reduce(or_, [F.col("term").startswith(s) for s in missing])
            cond = cond & ~F.col("term").contains(":")
            rows = (
                store.read("stats", version)
                .filter(cond)
                .select("term", "idf")
                .limit(total_cap + 1)
                .collect()
            )
        if len(rows) > total_cap:
            raise ValueError(
                f"prefix expansion exceeds {total_cap} terms for stems "
                f"{missing}; narrow the prefix or raise "
                "EngineConfig.max_prefix_expansion"
            )
        for s in missing:
            got = [(r["term"], float(r["idf"])) for r in rows
                   if r["term"].startswith(s)]
            if len(got) > cap:
                raise ValueError(
                    f"prefix '{s}*' expands to {len(got)} terms "
                    f"(> max_prefix_expansion={cap}); narrow the prefix"
                )
            cache["*" + s] = [t for t, _ in got]
            for t, i in got:
                cache[t] = i
    return {s: cache["*" + s] for s in stems}


def _expand_fuzzy(
    store: SnapshotStore,
    version: int | None,
    fuzz: list[tuple[str, int]],
    cache: dict,
    cfg: EngineConfig,
) -> dict[tuple[str, int], list[str]]:
    """Expand fuzzy terms ("tok~", "tok~2") against the index DICTIONARY:
    every index term within edit distance d of the stem (the stem itself
    included, like Lucene's FuzzyQuery). ONE scan serves the whole batch:
    a pushed-down length window (|len(term) − len(stem)| ≤ d — a necessary
    condition for edit distance ≤ d) prunes most of the dictionary before
    the JVM-side `levenshtein` verifies exactly; no Python runs per term.
    The dictionary is vocabulary-sized (terms, not docs), so even at
    10^12 turns the scan is the small side of the workload. Expansions
    cap at cfg.max_fuzzy_expansion per stem — same maxClauseCount
    reasoning as prefixes — and each expanded term scores with its OWN
    idf (Lucene's scoring-boolean rewrite)."""
    from functools import reduce
    from operator import or_

    cap = cfg.max_fuzzy_expansion

    def key(s: str, d: int) -> str:
        return f"~{d}:{s}"

    missing = [(s, d) for s, d in fuzz if key(s, d) not in cache]
    if missing:
        cond = reduce(or_, [
            F.length("term").between(len(s) - d, len(s) + d)
            & (F.levenshtein(F.col("term"), F.lit(s)) <= d)
            for s, d in missing
        ]) & ~F.col("term").contains(":")  # field terms aren't dictionary words
        total_cap = cap * len(missing)
        rows = (
            store.read("stats", version)
            .filter(cond)
            .select("term", "idf")
            .limit(total_cap + 1)
            .collect()
        )
        if len(rows) > total_cap:
            raise ValueError(
                f"fuzzy expansion exceeds {total_cap} terms for "
                f"{missing}; shorten the distance or raise "
                "EngineConfig.max_fuzzy_expansion"
            )

        def _lev(a: str, b: str) -> int:
            # tiny driver-side verify over the ≤cap collected rows only
            # (attributing shared scan rows to the right stem)
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[-1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        for s, d in missing:
            got = [(r["term"], float(r["idf"])) for r in rows
                   if abs(len(r["term"]) - len(s)) <= d
                   and _lev(r["term"], s) <= d]
            if len(got) > cap:
                raise ValueError(
                    f"fuzzy '{s}~{d}' expands to {len(got)} terms "
                    f"(> max_fuzzy_expansion={cap}); narrow it"
                )
            cache[key(s, d)] = [t for t, _ in got]
            for t, i in got:
                cache[t] = i
    return {(s, d): cache[key(s, d)] for s, d in fuzz}


def _expand_wildcards(
    store: SnapshotStore,
    version: int | None,
    pats: list[str],
    cache: dict,
    cfg: EngineConfig,
) -> dict[str, list[str]]:
    """Expand wildcard patterns ('*' = any run, '?' = one char, anywhere
    in the word — Lucene WildcardQuery) against the index DICTIONARY:
    ONE stats-table scan with OR'd LIKE predicates serves every pattern
    in the batch. Leading/infix wildcards cannot push a prefix down, so
    the scan reads the whole (dictionary-sized, term-sorted) stats table
    — the same cost Lucene documents for leading wildcards; the corpus
    itself is never touched. Tokens contain no '%'/'_' in either
    tokenizer mode, so '*'→'%' / '?'→'_' is escape-free. Same
    max_prefix_expansion cap and per-snapshot idf-cache seeding as
    prefix stems (keyed '*pattern'; patterns always contain a wildcard
    char, so stem keys can't collide)."""
    import fnmatch
    from functools import reduce
    from operator import or_

    cap = cfg.max_prefix_expansion
    missing = [p for p in pats if ("*" + p) not in cache]
    if missing:
        total_cap = cap * len(missing)
        vocab = _cached_vocab(cache)
        if vocab is not None:
            # full dictionary on the driver: fnmatch (the attribution
            # authority below either way) filters it with zero Spark jobs
            rows = [{"term": t, "idf": cache[t]} for t in vocab
                    if ":" not in t
                    and any(fnmatch.fnmatchcase(t, p) for p in missing)
                    ][:total_cap + 1]
        else:
            cond = reduce(or_, [
                F.col("term").like(p.replace("*", "%").replace("?", "_"))
                for p in missing]) & ~F.col("term").contains(":")
            # ^ field terms aren't dictionary words: '*ow' must not match
            # a hypothetical 'lang:yellow' posting
            rows = (
                store.read("stats", version)
                .filter(cond)
                .select("term", "idf")
                .limit(total_cap + 1)
                .collect()
            )
        if len(rows) > total_cap:
            raise ValueError(
                f"wildcard expansion exceeds {total_cap} terms for "
                f"patterns {missing}; narrow them or raise "
                "EngineConfig.max_prefix_expansion"
            )
        for p in missing:
            got = [(r["term"], float(r["idf"])) for r in rows
                   if fnmatch.fnmatchcase(r["term"], p)]
            if len(got) > cap:
                raise ValueError(
                    f"wildcard {p!r} expands to {len(got)} terms "
                    f"(> max_prefix_expansion={cap}); narrow it"
                )
            cache["*" + p] = [t for t, _ in got]
            for t, i in got:
                cache[t] = i
    return {p: cache["*" + p] for p in pats}


def search_topk(
    spark: SparkSession,
    store: SnapshotStore,
    queries: list[str],
    k: int | None = 10,
    cfg: EngineConfig | None = None,
    prune: bool = True,
    version: int | None = None,
    idf_cache: dict | None = None,
    filter_df: DataFrame | None = None,
    mode: str = "any",
    near_window: int = 5,
    exclude: str | None = None,
    min_match: int = 0,
    expand_prefixes: bool = False,
    after: tuple[float, int] | None = None,
    boosts: dict[str, float] | None = None,
    synonyms: dict[str, list] | None = None,
    score_mode: str = "sum",
    tie_breaker: float = 0.0,
    fields: dict | None = None,
    fields_not: dict | None = None,
    negative: str | None = None,
    negative_boost: float = 1.0,
    allowed_ids=None,
) -> DataFrame:
    """Batched top-k search → DataFrame(query_id, doc_id, score) with ≤ k
    rows per query, ordered (query_id, score DESC, doc_id ASC).

    allowed_ids: driver-resident keep-list (internal fast path for
    callers that ALREADY hold the ids — rescore's pass-1 window): same
    semantics as filter_df but skips its size-probe job entirely. Must
    fit the broadcast ceiling (callers pass config-bounded windows).

    fields: INDEX-RESIDENT fielded filters (ES filter context) —
    {field: value | [values]} over the build's IndexConfig.field_cols.
    Each value must tokenize to exactly one token with the index's
    pinned mode; multiple values for one field are OR'd, distinct
    fields AND'd. Matching docs' scores are the unchanged text-BM25
    scores (filter clauses score 0, the ES convention), and at least
    one scoring term must match (a filter alone never surfaces a doc).
    Unlike filter_df (a doc-id keep-list needing a documents-table
    scan), the '<field>:<token>' postings live in the SAME shard as the
    doc's text postings, so the filter intersects inside the shard UDF —
    no extra scan, no cogroup, no driver state, and WAND pruning stays
    exact (filter slots carry idf 0, hence block upper bound 0).
    Composes with every mode, boolean clauses, min_match, boosts,
    dismax, paging, deletes, and filter_df. Per-query via the dict key
    'fields'.

    fields_not: negative fielded filters — {field: value | [values]}
    whose matching docs are EXCLUDED (must_not in filter context); rides
    the per-query NOT-term machinery (doc ids only, no scoring impact).
    Per-query via the dict key 'fields_not'.

    negative / negative_boost: boosting query (the ES `boosting` query —
    exclusion's softer sibling): docs containing ANY token of `negative`
    stay eligible but their final score is multiplied by negative_boost
    ∈ (0, 1] (1 = identity). The negative postings decode doc ids only,
    in the same pushed-down scan as NOT terms; θ tracks demoted scores
    and factor ≤ 1 keeps every score under the undemoted block bounds,
    so WAND pruning stays exact. Composes with every mode, clause kind,
    dismax, fields, and paging. Per-query via the dict keys
    'negative' / 'negative_boost'.

    score_mode: 'sum' (default, the BM25 sum) or 'dismax' (Lucene
    DisjunctionMaxQuery / ES dis_max): each doc scores
    max_contrib + tie_breaker·(sum − max_contrib) over its matched
    terms — the classic combiner for synonym/expansion queries, where
    the BEST variant should count instead of stacking near-duplicates.
    tie_breaker ∈ [0, 1] (0 = pure best clause; 1 = the plain sum).
    A pure score combiner: composes with every mode, qualification
    (min_match/required/phrases), boosts, filters, and paging — WAND
    pruning stays exact because dismax ≤ sum ≤ the block upper bounds.
    Per-query via the dict keys 'score_mode' / 'tie_breaker'.

    queries: list of query strings, OR per-query (text, mode) /
    (text, mode, near_window) tuples — a MIXED batch (phrase + bag-of-
    words + conjunctive) runs as ONE Spark job: the shard UDF already
    loops per query, so the mode simply rides along; the scan reads
    pos_blocks only when some query in the batch is positional. Plain
    strings (and None tuple slots) fall back to the call-level
    mode/near_window arguments.

    mode: 'any' (default, bag-of-words OR), 'all' (conjunctive — only
    docs matching EVERY distinct query term, scored with the same sums;
    a query containing a corpus-absent term returns no rows), or
    'phrase' (exact adjacency: the query's token sequence must occur
    contiguously in the doc — verified from pos_blocks inside the index,
    no source-text join; requires IndexConfig.store_positions=True;
    scored like 'all' over the phrase's distinct terms), or 'near'
    (proximity: some occurrence of the FIRST query term has every other
    distinct term within near_window tokens; same positional layout
    requirement, same conjunctive scoring), or 'near_unordered'
    (order-free proximity, closer to Lucene slop: some occurrence of
    ANY query term has every other distinct term within near_window
    tokens — identical to 'near' for 2-term queries, strictly more
    permissive from 3 terms up).

    idf_cache: optional {term: idf | None} dict scoped to ONE snapshot
    version (the Engine keys it by version) — repeat terms skip the stats
    lookup job entirely. None marks a term known to be absent.

    filter_df: optional one-column DataFrame of ALLOWED doc ids (filtered
    search — 'only role=user turns', 'only English docs'): results are the
    exact top-k among those docs, with each doc's UNFILTERED global-stats
    BM25 score (the same frozen-stats convention as deletes, inverted).
    Physical forms mirror the delete path: small sets broadcast as one
    sorted array; above cfg.max_broadcast_deletes the keep-list cogroups
    with its own shard (doc-range sharding makes doc_id DIV shard_size
    the shard key), so driver state never grows with the filter. Costs
    one size-probe job (a limit-bounded collect of ≤ ceiling+1 ids, which
    doubles as the broadcast array when the filter is small).

    exclude: NOT terms (must_not) — docs containing ANY token of this
    string are excluded from the result; survivors' scores unchanged
    (frozen-stats, like deletes — the exclusion postings decode doc ids
    only, inside the same pushed-down scan). Per-query via dict specs.

    min_match: minimum_should_match for mode='any' — keep only docs
    matching at least this many DISTINCT query terms (absent-from-corpus
    terms can never count, matching Lucene's matched-clause semantics).

    expand_prefixes: parse dictionary-expansion syntax — trailing-'*'
    words are prefix queries ("tok*" matches every index term starting
    with 'tok'), trailing-'~' / '~1' / '~2' words are fuzzy queries
    ("tok~2" matches every index term within edit distance 2 of 'tok',
    the stem included), and words with '*' / '?' anywhere else are
    wildcard queries ("*ing", "t?ble", "s*am" — Lucene WildcardQuery,
    leading/infix included). Expansion happens against the stats-table
    dictionary (pushed-down startswith for prefixes; length-window + JVM
    levenshtein for fuzzy; LIKE over the dictionary for wildcards —
    leading wildcards scan the whole term-sorted stats table, never the
    corpus; all capped at cfg.max_prefix_expansion /
    cfg.max_fuzzy_expansion per stem) and each expanded term scores
    with its OWN idf (Lucene's scoring-boolean rewrite).

    k=None: return ALL matching docs (match enumeration — see
    search_matches) instead of a top-k; the result is unordered.

    after: (score, doc_id) deep-paging cursor (search_after, the scale-
    safe alternative to OFFSET): results are the top-k among docs
    STRICTLY AFTER the cursor in (score DESC, doc_id ASC) order, i.e.
    the next page when the cursor is the last row of the previous page.
    Page N costs the same as page 1 (the cursor filter is applied
    pre-heap inside each shard, so θ tightens just as fast and no shard
    ever materializes N·k rows — OFFSET-style paging would). Cursor
    equality is exact-float sound because the cursor comes from this
    engine's own previous page (pinned summation order ⇒ bit-identical
    recomputation). Composes with every mode/filter; per-query via the
    dict key 'after'.

    boosts: per-term query boosts (Lucene's term^w) — {term: weight},
    each weight > 0; a boosted term's BM25 contribution is multiplied by
    its weight (and the WAND block upper bounds scale with it, so
    pruning stays exact). Keys must tokenize to single index tokens and
    appear among the query's terms (post-expansion) — a stray key is an
    error, not a silent no-op. Composes with every mode; per-query via
    the dict key 'boosts'.

    synonyms: query-time synonym table {term: [synonym, ...]} (the
    Lucene/ES query-time synonym filter, in its scoring-boolean-rewrite
    form): each query token that appears as a key is expanded to itself
    plus its synonyms, and every expanded term scores with its OWN idf —
    the same rewrite as prefix/fuzzy expansion. Keys that match no query
    token are ignored (the table is corpus-level, passed whole; unlike
    boosts, a non-matching key is expected, not a typo). Keys and
    synonyms must each reduce to exactly ONE index token (multi-token
    synonyms would need phrase semantics). mode='any' without min_match
    or prefix parsing only — the count/position semantics of the other
    modes are ambiguous over expanded groups. Per-query via the dict
    key 'synonyms'.

    required: must clauses of a boolean query (Lucene '+term'): a string
    or list of words, each tokenized with the index mode; every result
    doc must contain EVERY required token. Required tokens score like
    any other matched term (Lucene scores must clauses); a required
    token absent from the corpus makes the query empty, the must
    semantics. Dict-spec key 'required'; mode='any' base only.

    phrases: positional clauses of a boolean query — a list of strings
    (exact adjacency), (text, window) / (text, window, unordered)
    tuples, or dicts {text, window, unordered}. Every clause must match
    (Lucene's '"exact phrase"' / '"loose terms"~N' inside a boolean
    query); windowed clauses default to unordered=True (slop is
    order-free). Clause terms join the scored term set; requires the
    positional index layout. Composes with required/exclude/min_match/
    boosts/after — min_match then counts SHOULD terms only (the text
    tokens), the Lucene minimum_should_match convention. Dict-spec key
    'phrases'; mode='any' base only.

    Per-query dict specs may set any of {text, mode, near_window,
    exclude, min_match, prefix, after, boosts, synonyms, required,
    phrases}; unset keys inherit the call-level arguments, so a mixed
    batch (phrase + NOT + prefix + plain + page-2 + boosted +
    synonym-expanded + boolean) is still ONE Spark job."""
    cfg = cfg or EngineConfig()
    meta = store.meta(version)
    if "avgdl" not in meta:
        raise FileNotFoundError(
            f"no built index at {store.root!r}: run build first "
            "(the analog of searching an un-built hora index)"
        )
    avgdl = float(meta["avgdl"])
    if not np.isfinite(avgdl):
        # a NaN score would sort last in the single-task plan (numpy) but
        # first in the distributed one (Spark): refuse corrupt stats
        raise ValueError(f"snapshot avgdl is not finite ({avgdl!r})")
    k1, b = cfg.bm25.k1, cfg.bm25.b

    # normalize to per-query (text, mode, near_window, exclude,
    # min_match, prefix) specs; plain strings and missing slots inherit
    # the call-level defaults. A dict spec may set any of the keys
    # {text, mode, near_window, exclude, min_match, prefix}.
    _VALID = ("any", "all") + POSITIONAL_MODES

    def _norm_after(a) -> tuple[float, int] | None:
        if a is None:
            return None
        s, d = a
        return (float(s), int(d))

    def _norm_boosts(bo) -> dict[str, float] | None:
        if not bo:
            return None
        out = {}
        for key, w in bo.items():
            w = float(w)
            if not w > 0:
                raise ValueError(
                    f"boost weight for {key!r} must be > 0 (got {w}): "
                    "block-max pruning scales its bounds by the boost, "
                    "which is only an upper bound for positive weights")
            out[key] = w
        return out

    def _norm_syn(sy) -> dict[str, list] | None:
        if not sy:
            return None
        return {key: ([vals] if isinstance(vals, str) else list(vals))
                for key, vals in sy.items()}

    def _norm_phrases(ph) -> list[tuple[str, int | None, bool]]:
        """Positional clauses of a boolean query: each a string (exact
        phrase), a (text, window) / (text, window, unordered) tuple, or a
        dict {text, window, unordered}. window=None → exact adjacency;
        a windowed clause defaults to unordered=True (Lucene "..."~N slop
        is order-free)."""
        out: list[tuple[str, int | None, bool]] = []
        for p in (ph or []):
            if isinstance(p, str):
                out.append((p, None, False))
            elif isinstance(p, dict):
                w = p.get("window")
                out.append((p["text"], None if w is None else int(w),
                            bool(p.get("unordered", w is not None))))
            else:
                parts = tuple(p)
                w = parts[1] if len(parts) > 1 else None
                unord = (bool(parts[2]) if len(parts) > 2
                         else w is not None)
                out.append((parts[0], None if w is None else int(w), unord))
        return out

    def _norm_dismax(sm, tb) -> float | None:
        """score_mode/tie_breaker → dismax_tb (None = plain sum)."""
        if sm not in ("sum", "dismax"):
            raise ValueError(
                f"unknown score_mode {sm!r}; valid: 'sum', 'dismax'")
        if sm == "sum":
            return None
        tb = float(tb)
        if not 0.0 <= tb <= 1.0:
            raise ValueError(
                f"tie_breaker must be in [0, 1] (got {tb}): the WAND "
                "bound argument (dismax ≤ sum) needs tb ≤ 1, and a "
                "negative tb is not a score combiner")
        return tb

    def _norm_negative(neg, nb) -> tuple[str, float] | None:
        """negative/negative_boost → (text, factor); None = no demotion."""
        if neg is None:
            return None
        nb = float(nb)
        if not 0.0 < nb <= 1.0:
            raise ValueError(
                f"negative_boost must be in (0, 1] (got {nb}): the WAND "
                "bound argument (demoted ≤ undemoted ≤ block bounds) "
                "needs nb ≤ 1, and nb ≤ 0 is exclusion, not demotion — "
                "use exclude/fields_not for that")
        return (str(neg), nb)

    def _norm_fieldspec(fd) -> dict[str, list[str]] | None:
        """fields / fields_not: {field: value | [values]} → {field:
        [values]}; tokenization (pinned index mode) happens later with
        the other token normalization."""
        if fd is None:
            return None
        if not isinstance(fd, dict) or not fd:
            raise ValueError(
                "fields/fields_not must be a non-empty dict "
                "{field: value | [values]}")
        out: dict[str, list[str]] = {}
        for f, v in fd.items():
            vals = list(v) if isinstance(v, (list, tuple, set)) else [v]
            if not vals:
                raise ValueError(f"field {f!r} has an empty value list")
            out[str(f)] = [str(x) for x in sorted(map(str, vals))]
        return out

    specs: list[tuple] = []
    for q in queries:
        if isinstance(q, str):
            specs.append((q, mode, near_window, exclude, min_match,
                          expand_prefixes, _norm_after(after),
                          _norm_boosts(boosts), _norm_syn(synonyms),
                          None, [], _norm_dismax(score_mode, tie_breaker),
                          _norm_fieldspec(fields), _norm_fieldspec(fields_not),
                          _norm_negative(negative, negative_boost)))
        elif isinstance(q, dict):
            q_mode = q.get("mode") or mode
            req = q.get("required")
            specs.append((
                q.get("text", ""), q_mode,
                int(q.get("near_window", near_window)),
                q.get("exclude", exclude),
                int(q.get("min_match", min_match)),
                bool(q.get("prefix", expand_prefixes)),
                _norm_after(q.get("after", after)),
                _norm_boosts(q.get("boosts", boosts)),
                _norm_syn(q.get("synonyms", synonyms)),
                ([req] if isinstance(req, str) else list(req)) if req else None,
                _norm_phrases(q.get("phrases")),
                _norm_dismax(q.get("score_mode", score_mode),
                             q.get("tie_breaker", tie_breaker)),
                _norm_fieldspec(q.get("fields", fields)),
                _norm_fieldspec(q.get("fields_not", fields_not)),
                _norm_negative(q.get("negative", negative),
                               q.get("negative_boost", negative_boost)),
            ))
        else:
            parts = tuple(q)
            q_mode = parts[1] if len(parts) > 1 and parts[1] else mode
            q_nw = (int(parts[2]) if len(parts) > 2 and parts[2] is not None
                    else near_window)
            specs.append((parts[0], q_mode, q_nw, exclude, min_match,
                          expand_prefixes, _norm_after(after),
                          _norm_boosts(boosts), _norm_syn(synonyms),
                          None, [], _norm_dismax(score_mode, tie_breaker),
                          _norm_fieldspec(fields), _norm_fieldspec(fields_not),
                          _norm_negative(negative, negative_boost)))
    bad = sorted({s[1] for s in specs if s[1] not in _VALID})
    if bad:
        raise ValueError(f"unknown search mode(s) {bad}; valid: {_VALID}")
    for _, m, _, _, mm, pf, _, _, sy, req, phs, _, _, _, _ in specs:
        if mm and m != "any":
            raise ValueError(
                "min_match applies to mode='any' only (mode='all' IS "
                "min_match=len(terms); positional modes imply it)")
        if pf and m != "any":
            raise ValueError(
                "prefix/fuzzy expansion applies to mode='any' only")
        if pf and mm:
            raise ValueError(
                "min_match over prefix/fuzzy expansions is ambiguous (one "
                "stem can satisfy many clauses) — use one or the other")
        if sy and (m != "any" or mm or pf):
            raise ValueError(
                "synonyms apply to plain mode='any' queries only (their "
                "count/position semantics over expanded groups are "
                "ambiguous in min_match/prefix/positional modes)")
        if (req or phs) and m != "any":
            raise ValueError(
                "required terms / phrase clauses are boolean-query parts "
                "(mode='any' base); the whole-query positional/conjunctive "
                "modes cannot host them")
        if (req or phs) and sy:
            raise ValueError(
                "synonyms cannot compose with required/phrase clauses "
                "(expansion semantics over must clauses are ambiguous)")
    any_positional = any(
        s[1] in POSITIONAL_MODES or s[10] for s in specs)
    if any_positional and not bool(meta.get("store_positions", False)):
        raise ValueError(
            "phrase/near search requires an index built with "
            "IndexConfig.store_positions=True"
        )

    # tokenize with the INDEX's pinned mode (recorded at build time) —
    # a unicode-built index must see unicode query terms and vice versa.
    # positional queries keep RAW ordered token lists (order and, for
    # phrase, duplicates define the match); others sorted distinct
    uni = bool(meta.get("unicode", False))
    cache = idf_cache if idf_cache is not None else {}
    idx_fields = set(meta.get("field_cols") or [])

    def _field_terms(fd: dict[str, list[str]], what: str) -> dict[str, list[str]]:
        """{field: [values]} → {field: ['field:tok', ...]} with the
        pinned tokenizer; validates against the index's field schema."""
        unknown = sorted(set(fd) - idx_fields)
        if unknown:
            raise ValueError(
                f"{what} names field(s) {unknown} the index was not "
                f"built with (IndexConfig.field_cols={sorted(idx_fields)})")
        out: dict[str, list[str]] = {}
        for f, vals in fd.items():
            terms_f = []
            for v in vals:
                ts = tokenize_py(v, unicode=uni)
                if len(ts) != 1:
                    raise ValueError(
                        f"{what} value {v!r} for field {f!r} must "
                        "tokenize to exactly one token (multi-token "
                        "field matching would need phrase semantics)")
                terms_f.append(f"{f}:{ts[0]}")
            out[f] = sorted(set(terms_f))
        return out

    q_specs: list[list] = []
    for text, m, nw, ex, mm, pf, af, bo, sy, req, phs, dmx, fds, fnot, neg in specs:
        ex_terms = sorted(set(tokenize_py(ex, unicode=uni))) if ex else []
        f_groups = None
        if fds:
            # one OR-group per field, AND across fields; sorted field
            # order pins the required-group order (determinism)
            ft = _field_terms(fds, "fields")
            f_groups = [ft[f] for f in sorted(ft)]
        if fnot:
            # negative filters ride the NOT-term machinery (doc ids only)
            fnt = _field_terms(fnot, "fields_not")
            ex_terms = sorted(set(ex_terms)
                              | {t for ts in fnt.values() for t in ts})
        demote_spec = None
        if neg is not None:
            neg_terms = sorted(set(tokenize_py(neg[0], unicode=uni)))
            if neg_terms:  # all-absent negative text = identity, not error
                demote_spec = (neg_terms, neg[1])
        if m in POSITIONAL_MODES:
            toks = tokenize_py(text, unicode=uni)
        elif pf:
            toks = ("*", *_parse_prefix_terms(text, uni))  # resolved below
        else:
            toks = sorted(set(tokenize_py(text, unicode=uni)))
        # boolean-query clauses: must terms tokenize plainly (each word
        # must reduce to index tokens — all become required); phrase
        # clauses keep RAW ordered token lists like whole-query phrases
        req_toks = (sorted({t for w in req
                            for t in tokenize_py(w, unicode=uni)})
                    if req else [])
        chain_specs = []
        for p_text, p_win, p_unord in phs:
            c_toks = tokenize_py(p_text, unicode=uni)
            if len(c_toks) < 2:
                raise ValueError(
                    f"phrase clause {p_text!r} must tokenize to at least "
                    "two tokens (a single token is just a required term)")
            chain_specs.append((c_toks, p_win, p_unord))
        if sy:
            # synonym keys/values tokenize with the SAME pinned index mode
            norm_sy: dict[str, list[str]] = {}
            for key, vals in sy.items():
                ks = tokenize_py(key, unicode=uni)
                if len(ks) != 1:
                    raise ValueError(
                        f"synonym key {key!r} must reduce to exactly one "
                        "index token")
                one = []
                for v in vals:
                    vs = tokenize_py(v, unicode=uni)
                    if len(vs) != 1:
                        raise ValueError(
                            f"synonym {v!r} for {key!r} must reduce to "
                            "exactly one index token (multi-token synonyms "
                            "would need phrase semantics)")
                    one.append(vs[0])
                norm_sy[ks[0]] = one
            toks = sorted(set(toks)
                          | {s for t in toks for s in norm_sy.get(t, ())})
        if bo:
            # boost keys tokenize with the SAME pinned index mode
            norm_bo: dict[str, float] = {}
            for key, w in bo.items():
                ts = tokenize_py(key, unicode=uni)
                if len(ts) != 1:
                    raise ValueError(
                        f"boost key {key!r} must reduce to exactly one "
                        "index token")
                norm_bo[ts[0]] = w
            bo = norm_bo
        q_specs.append([toks, m, nw, ex_terms, mm, af, bo, req_toks,
                        chain_specs, dmx, f_groups, demote_spec])
    need_stems = sorted({s for qs in q_specs if isinstance(qs[0], tuple)
                         for s in qs[0][2]})
    need_fuzz = sorted({f for qs in q_specs if isinstance(qs[0], tuple)
                        for f in qs[0][3]})
    need_wild = sorted({p for qs in q_specs if isinstance(qs[0], tuple)
                        for p in qs[0][4]})
    need_re = sorted({p for qs in q_specs if isinstance(qs[0], tuple)
                      for p in qs[0][5]})
    if need_stems or need_fuzz or need_wild or need_re:
        exp = (_expand_stems(store, version, need_stems, cache, cfg)
               if need_stems else {})
        fexp = (_expand_fuzzy(store, version, need_fuzz, cache, cfg)
                if need_fuzz else {})
        wexp = (_expand_wildcards(store, version, need_wild, cache, cfg)
                if need_wild else {})
        rexp = (_expand_regex(store, version, need_re, cache, cfg)
                if need_re else {})
        for qs in q_specs:
            if isinstance(qs[0], tuple):
                _, plains, stems, fuzz, wilds, regexes = qs[0]
                qs[0] = sorted(set(plains)
                               | {t for s in stems for t in exp[s]}
                               | {t for f in fuzz for t in fexp[f]}
                               | {t for p in wilds for t in wexp[p]}
                               | {t for p in regexes for t in rexp[p]})
    # boost keys must name actual query terms (post-expansion; corpus-
    # absent query terms still count — the boost is then a no-op, but
    # the user DID type that term). A stray key is a typo, not a no-op.
    for qs in q_specs:
        if qs[6]:
            scope = (set(qs[0]) | set(qs[7])
                     | {t for ct, _, _ in qs[8] for t in ct})
            stray = sorted(set(qs[6]) - scope)
            if stray:
                raise ValueError(
                    f"boost keys {stray} are not terms of their query "
                    f"(terms: {sorted(scope)})")
    q_specs = [tuple(qs) for qs in q_specs]
    all_terms = sorted(
        {t for ts, *_ in q_specs for t in ts}
        | {t for qs in q_specs for t in qs[7]}
        | {t for qs in q_specs for ct, _, _ in qs[8] for t in ct}
    )
    if not all_terms:
        return spark.createDataFrame([], RESULT_SCHEMA)

    # idf lookup: small vocabularies resolve from the one-shot full
    # dictionary cache (zero jobs after the first probe); big ones fall
    # back to a pushdown isin filter on the term-sorted stats parquet —
    # query-sized result, tiny collect. Prefix expansions pre-seeded the
    # cache, so they cost no extra job.
    missing = [t for t in all_terms if t not in cache]
    if missing:
        _idf_lookup(store, version, cache, cfg, missing)
    idf_map = {t: cache[t] for t in all_terms if cache[t] is not None}
    bad_idf = sorted(t for t, v in idf_map.items() if not np.isfinite(v))
    if bad_idf:  # same reason as the avgdl check: no NaN may be scored
        raise ValueError(f"snapshot idf is not finite for terms {bad_idf}")
    if not idf_map:
        # no scoring term is live: a fielded filter alone never
        # surfaces a doc (filter clauses score 0 by definition)
        return spark.createDataFrame([], RESULT_SCHEMA)
    # fielded-filter terms enter the scan and the shard postings with a
    # PINNED idf of 0.0 — never their stats-table idf (they must not
    # score) and never through the shared cache (which holds real idfs)
    for qs in q_specs:
        if qs[10]:
            for grp in qs[10]:
                for t in grp:
                    idf_map[t] = 0.0
    live_terms = sorted(idf_map)

    # store_dl=True (default): the scan reads strictly query-term rows
    # (positive terms plus any per-query NOT terms — exclusion postings
    # ride the same pushed-down IN filter; only their doc ids decode).
    # store_dl=False layout: postings carry no dl, so the reserved norms
    # row rides in the same pushed-down scan (one extra row per shard).
    excl_scan = sorted(
        ({t for qs in q_specs for t in qs[3]}
         | {t for qs in q_specs if qs[11] is not None for t in qs[11][0]})
        - set(live_terms))
    scan_terms = live_terms + excl_scan
    if not bool(meta.get("store_dl", True)):
        scan_terms = scan_terms + [NORMS_TERM]
    seg_cols = ["shard_id", "term", "doc_blocks", "tf_blocks", "dl_blocks",
                "block_last", "block_tf_max", "block_dl_min"]
    if any_positional:  # positions read ONLY when some query needs them
        seg_cols.append("pos_blocks")
    segs = (
        store.read("segments", version)
        .filter(F.col("term").isin(scan_terms))
        .select(*seg_cols)
    )

    # tombstoned ids (delete support; hora's has_deletion check,
    # hnsw_idx.rs:235-237): filtering happens INSIDE the shard UDF, before
    # top-k selection, so survivors' scores and ranks are exact. Two
    # physical forms, identical results:
    # - small sets (≤ cfg.max_broadcast_deletes, per meta's n_deletes
    #   upper bound): collect to a sorted array and broadcast;
    # - large sets (bulk purges): NEVER collected — doc-range sharding
    #   means doc_id // shard_size IS the shard key, so each shard's
    #   tombstones cogroup with its segment rows and no driver state
    #   grows with the delete volume.
    n_del = int(meta.get("n_deletes", 0))
    allow_pre = None
    if allowed_ids is not None:
        if filter_df is not None:
            raise ValueError("pass filter_df or allowed_ids, not both")
        allow_pre = np.unique(np.asarray(list(allowed_ids), dtype=np.int64))
        if len(allow_pre) > cfg.max_broadcast_deletes:
            raise ValueError(
                f"allowed_ids holds {len(allow_pre)} ids (> "
                f"max_broadcast_deletes={cfg.max_broadcast_deletes}); "
                "pass a filter_df instead — the driver-resident fast "
                "path exists for config-bounded windows only")
    has_filter = filter_df is not None or allow_pre is not None
    allow_rows = None
    if filter_df is not None:
        filter_df = filter_df.select(
            F.col(filter_df.columns[0]).cast("long").alias("doc_id"))
        # ONE size-probe job: collect up to ceiling+1 ids. Small filters
        # get their broadcast array from this same collect (no separate
        # count job); an over-ceiling probe aborts early via the limit.
        allow_rows = filter_df.limit(cfg.max_broadcast_deletes + 1).collect()
    big = ((n_del > cfg.max_broadcast_deletes and store.exists("deletes", version))
           or (allow_rows is not None
               and len(allow_rows) > cfg.max_broadcast_deletes))
    if big:
        # either auxiliary set is too large to broadcast → ship BOTH as
        # one tagged table cogrouped by shard. Exact integer DIV,
        # bit-identical to the build's numpy `ids // shard_size` — a
        # double-precision `/` would round the quotient near 2^53 and
        # silently map a row to the wrong shard (this path exists
        # precisely for the huge-corpus case).
        shard_size = int(meta["shard_size"])
        shard_col = F.expr(
            f"CAST(CAST(doc_id AS BIGINT) DIV {shard_size} AS INT)"
        ).alias("shard_id")
        aux = None
        if store.exists("deletes", version):
            aux = store.read("deletes", version).select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.lit(1).alias("is_del"))
        if has_filter:
            if filter_df is None:  # driver-resident keep-list, tiny
                filter_df = spark.createDataFrame(
                    [(int(i),) for i in allow_pre], "doc_id long")
            fa = filter_df.select("doc_id", F.lit(0).alias("is_del"))
            aux = fa if aux is None else aux.unionByName(fa)
        aux = aux.select("doc_id", "is_del", shard_col)
        b_queries = spark.sparkContext.broadcast(q_specs)
        b_idf = spark.sparkContext.broadcast(idf_map)

        def run_cg(seg_pdf: pd.DataFrame, aux_pdf: pd.DataFrame) -> pd.DataFrame:
            dels = None
            # a shard with NO filter rows under an active filter allows
            # nothing (empty array ≠ None = no filter)
            alw = np.empty(0, np.int64) if has_filter else None
            if len(aux_pdf):
                tag = aux_pdf["is_del"].to_numpy()
                ids_np = aux_pdf["doc_id"].to_numpy(np.int64)
                d = ids_np[tag == 1]
                if len(d):
                    dels = np.unique(d)
                if has_filter:
                    alw = np.unique(ids_np[tag == 0])
            return _shard_search(seg_pdf, b_queries.value, b_idf.value, k,
                                 avgdl, k1, b, prune, deleted=dels,
                                 allowed=alw)

        local = (
            segs.groupby("shard_id").cogroup(aux.groupby("shard_id"))
            .applyInPandas(run_cg, RESULT_SCHEMA)
        )
    single_scan = False
    if not big:
        del_arr = store.deleted_ids(version)
        allow_arr = None
        if allow_pre is not None:
            allow_arr = allow_pre
        elif has_filter:
            allow_arr = np.unique(np.array(
                [r["doc_id"] for r in allow_rows], np.int64))

        # SMALL-INDEX FAST PATH: when the whole segments table is at most
        # cfg.max_single_task_scan_bytes on disk, coalesce the scan to
        # one task and do the shard grouping inside it — scan, WAND, and
        # the top-k merge become a single Exchange-free stage (the two
        # shuffles of the distributed plan are pure overhead at this
        # size). The byte check is one cached getContentSummary per
        # immutable data dir; the shard-count pre-gate keeps that call
        # cheap on a NameNode even for pathological layouts. Real
        # corpora exceed the ceiling and keep the distributed plan.
        n_sh = int(meta.get("n_shards") or 0)
        if cfg.max_single_task_scan_bytes > 0 and 0 < n_sh <= 1024:
            try:
                tb = store.table_bytes("segments", version)
            except Exception:
                tb = None
            single_scan = (tb is not None
                           and tb <= cfg.max_single_task_scan_bytes)

        if single_scan:
            # ONE task: the query state (specs/idf/deletes/keep-list) is
            # query-sized and rides the task closure — four explicit
            # broadcast variables would only add py4j round trips here
            # (the distributed plans below keep their broadcasts). One
            # _shard_search over the whole scan chains every shard's
            # rows, so each query is ONE shard_topk call whose rows are
            # already its global top-k in (score DESC, doc_id ASC) order,
            # emitted in query_id order: the Window/row_number + orderBy
            # plan nodes and any re-sort disappear.
            def run_one(batches):
                parts = [p for p in batches if len(p)]
                if not parts:
                    return
                out = _shard_search(
                    pd.concat(parts, ignore_index=True), q_specs, idf_map,
                    k, avgdl, k1, b, prune, deleted=del_arr,
                    allowed=allow_arr)
                if len(out):
                    yield out

            # already capped at k per query, ranked, and globally ordered
            return segs.coalesce(1).mapInPandas(run_one, RESULT_SCHEMA)

        b_queries = spark.sparkContext.broadcast(q_specs)
        b_idf = spark.sparkContext.broadcast(idf_map)
        b_del = spark.sparkContext.broadcast(del_arr)
        b_allow = spark.sparkContext.broadcast(allow_arr)

        def run(seg_pdf: pd.DataFrame) -> pd.DataFrame:
            return _shard_search(seg_pdf, b_queries.value, b_idf.value, k,
                                 avgdl, k1, b, prune, deleted=b_del.value,
                                 allowed=b_allow.value)

        local = segs.groupBy("shard_id").applyInPandas(run, RESULT_SCHEMA)
    if k is None:
        # match ENUMERATION: every qualifying doc with its exact score,
        # no global rank, no sort — shards are disjoint doc ranges, so
        # the union needs no dedup and downstream aggregation (facets,
        # counting, exports) keeps its partial/final shape
        return local
    # global top-k: per-shard output is ≤ k rows per query, so the merge
    # input is bounded by n_shards·|queries|·k rows — driver-computable
    # from the snapshot meta. When that bound is small the whole merge
    # runs in ONE single-partition task (one exchange; the per-query rank
    # and the global (query_id, score DESC, doc_id ASC) order come from a
    # single local sort, and the separate range-partitioned orderBy —
    # with its sampling pass — disappears). Large fan-ins (huge shard
    # counts × batch sizes) keep the two-exchange window plan, whose
    # per-partition state never exceeds one query's candidate set.
    n_shards_meta = int(meta.get("n_shards") or 0)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    if n_shards_meta and n_shards_meta * len(q_specs) * k <= 2_000_000:
        ranked = local.repartition(1)
    else:
        ranked = local
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def search_matches(
    spark: SparkSession,
    store: SnapshotStore,
    queries: list,
    **kw,
) -> DataFrame:
    """ALL matching docs per query → DataFrame(query_id, doc_id, score),
    UNORDERED (no global top-k, no sort — callers aggregate or order).
    Accepts every search_topk option (modes, exclude, min_match, prefixes,
    filter_df, deletes honored). The enumeration is inherently exhaustive,
    so block-max pruning is bypassed; per-shard output is the shard's
    match set, and no driver-side state grows with the result."""
    kw.pop("k", None)
    kw.pop("prune", None)
    return search_topk(spark, store, queries, k=None, **kw)


_FACET_AGGS = {
    "avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum,
    # exact distinct (the honest form of ES `cardinality`): two-phase
    # partial-distinct aggregation, no sketch error — at any bucket size
    # the expanded rows stay (query, facet, value)-keyed, never driver-side
    "distinct": F.countDistinct,
    # exact percentiles (linear interpolation — the ES `percentiles` agg
    # with the TDigest replaced by Spark's exact sort-based percentile;
    # DuckDB's quantile_cont matches the same definition)
    "p50": lambda c: F.percentile(c, 0.5),
    "p90": lambda c: F.percentile(c, 0.9),
    "p99": lambda c: F.percentile(c, 0.99),
}
_ROUNDED_AGGS = ("avg", "p50", "p90", "p99")  # interpolated floats → 6dp


def facet_counts(
    spark: SparkSession,
    store: SnapshotStore,
    queries: list,
    docs_df: DataFrame,
    facet_col: str,
    id_col: str = "doc_id",
    metrics: dict[str, list] | None = None,
    **kw,
) -> DataFrame:
    """Facet counts over ALL matching docs (the search-engine facet
    panel): → DataFrame(query_id, facet, n_docs[, <col>_<agg>...]). The
    match set joins to the docs table on doc_id (sort-merge at scale;
    the facet value is per-doc, so no pre-aggregation is possible before
    the join), then a map-side-combined groupBy counts per (query,
    facet value).

    metrics (the ES stats sub-aggregation analog): {column: aggs} adds
    per-bucket aggregations of docs-table columns — aggs from {'avg',
    'min', 'max', 'sum', 'distinct', 'p50', 'p90', 'p99'}, output
    column '<col>_<agg>'. 'distinct' is an EXACT distinct count (the
    honest cardinality agg — no HLL error bars); the percentile aggs
    are exact with linear interpolation (ES `percentiles` minus the
    TDigest approximation; DuckDB's quantile_cont is the same
    definition). The reserved column name 'score' aggregates the
    match's BM25 score instead of a docs column. avg/percentiles (and
    every score agg — engines may differ in the last ulp) are rounded
    to 6dp; min/max/sum/distinct of integral docs columns stay exact."""
    matches = search_matches(spark, store, queries, **kw)
    metrics = {c: ([fns] if isinstance(fns, str) else list(fns))
               for c, fns in (metrics or {}).items()}
    for c, fns in metrics.items():
        bad = sorted(set(fns) - set(_FACET_AGGS))
        if bad:
            raise ValueError(
                f"unknown facet aggregation(s) {bad} for {c!r}; "
                f"valid: {sorted(_FACET_AGGS)}")
    doc_metric_cols = [c for c in metrics if c != "score"]
    facets = docs_df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(facet_col).alias("facet"),
        *[F.col(c) for c in doc_metric_cols],
    )
    aggs = [F.count("*").alias("n_docs")]
    for c, fns in metrics.items():
        for fn in fns:
            col = _FACET_AGGS[fn](c)
            if fn in _ROUNDED_AGGS or c == "score":
                col = F.round(col, 6)
            aggs.append(col.alias(f"{c}_{fn}"))
    return (
        matches.select("query_id", "doc_id", "score")
        .join(facets, "doc_id")
        .groupBy("query_id", "facet")
        .agg(*aggs)
    )


def _expand_regex(
    store: SnapshotStore,
    version: int | None,
    pats: list[str],
    cache: dict,
    cfg: EngineConfig,
) -> dict[str, list[str]]:
    """Expand whole-term regex patterns ('/pat/' — Lucene RegexpQuery:
    the pattern must match the ENTIRE term) against the index
    DICTIONARY: ONE stats-table scan with OR'd anchored rlike
    predicates serves every pattern in the batch. Like leading
    wildcards, a regex cannot push a prefix down, so the scan reads the
    (dictionary-sized, term-sorted) stats table; the corpus is never
    touched. Same max_prefix_expansion cap and per-snapshot idf-cache
    seeding as the other expansions (keyed '/pattern'); field terms
    are excluded (':' can only come from field postings)."""
    from functools import reduce
    from operator import or_

    cap = cfg.max_prefix_expansion
    missing = [p for p in pats if ("/" + p) not in cache]
    if missing:
        total_cap = cap * len(missing)
        vocab = _cached_vocab(cache)
        if vocab is not None:
            # full dictionary on the driver: the Python re attribution
            # below is the authority either way, so matching it directly
            # (zero Spark jobs) also closes the JVM-vs-Python pre-filter
            # asymmetry for non-portable patterns
            import re as _re0

            rxs = [_re0.compile(f"^(?:{p})$") for p in missing]
            rows = [{"term": t, "idf": cache[t]} for t in vocab
                    if ":" not in t and any(rx.match(t) for rx in rxs)
                    ][:total_cap + 1]
        else:
            cond = reduce(or_, [
                F.col("term").rlike(f"^(?:{p})$") for p in missing
            ]) & ~F.col("term").contains(":")
            rows = (
                store.read("stats", version)
                .filter(cond)
                .select("term", "idf")
                .limit(total_cap + 1)
                .collect()
            )
        if len(rows) > total_cap:
            raise ValueError(
                f"regex expansion exceeds {total_cap} terms for "
                f"{missing}; narrow the pattern or raise "
                "EngineConfig.max_prefix_expansion"
            )
        import re as _re

        for p in missing:
            rx = _re.compile(f"^(?:{p})$")
            # driver-side re-verify attributes shared scan rows to the
            # right pattern (the scan OR'd all patterns together)
            got = [(r["term"], float(r["idf"])) for r in rows
                   if rx.match(r["term"])]
            if len(got) > cap:
                raise ValueError(
                    f"regex '/{p}/' expands to {len(got)} terms "
                    f"(> max_prefix_expansion={cap}); narrow it")
            cache["/" + p] = [t for t, _ in got]
            for t, i in got:
                cache[t] = i
    return {p: cache["/" + p] for p in pats}


def significant_terms(
    spark: SparkSession,
    store: SnapshotStore,
    queries: list,
    docs_df: DataFrame,
    k_terms: int = 10,
    min_doc_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """Significant-terms aggregation (the ES significant_terms bucket agg,
    JLH heuristic): terms OVERREPRESENTED in each query's match set
    relative to the background corpus →
    DataFrame(query_id, term, fg_count, bg_count, score, rnk), top
    k_terms per query by (score DESC, term ASC).

    fg_count = matching docs containing the term (the match set comes
    from search_matches, so every search option composes — modes,
    filters, NOT terms); bg_count = the index's document frequency (the
    stats table, background INCLUDES the foreground — ES's default
    superset convention); score = JLH:
        (fg_rate − bg_rate) · (fg_rate / bg_rate)
    with fg_rate = fg_count/|matches|, bg_rate = bg_count/N. The score
    is ROUNDED to 6dp before ranking so the selection is reproducible
    across engines (same convention as mlt_select_terms); min_doc_count
    drops noise terms (ES's min_doc_count).

    Plan: one match-enumeration job → join matched ids to the docs
    table (sort-merge at scale) → tokenize ONLY matched docs (JVM
    split, codegen) → explode distinct tokens → map-side-combined
    count per (query, term) → join the vocabulary-sized stats table
    (broadcast-able) → per-query top-k window. No driver state, no
    corpus-wide tokenize: cost scales with the MATCH set, not the
    corpus."""
    version = kw.get("version")
    meta = store.meta(version)
    n_docs = int(meta["n_docs"])
    uni = bool(meta.get("unicode", False))
    matches = search_matches(spark, store, queries, **kw)
    fg_tot = matches.groupBy("query_id").agg(F.count("*").alias("fg_docs"))
    docs = docs_df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens_col(F.col(text_col), unicode=uni).alias("toks"),
    )
    fg = (
        matches.select("query_id", "doc_id")
        .join(docs, "doc_id")
        .select("query_id",
                F.explode(F.array_distinct("toks")).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("fg_count"))
        .filter(F.col("fg_count") >= int(min_doc_count))
    )
    bg = store.read("stats", version).select(
        "term", F.col("df").alias("bg_count"))
    fg_rate = F.col("fg_count") / F.col("fg_docs")
    bg_rate = F.col("bg_count") / F.lit(float(n_docs))
    # NB fg_tot is one row per query but deliberately NOT broadcast-
    # hinted: a broadcast build is its own job, so hinting would run the
    # match enumeration twice SEQUENTIALLY; the shuffle join keeps both
    # subtrees inside one parallel job (r6 A/B: the hint measured +20%)
    scored = (
        fg.join(bg, "term")  # every fg term is in the dictionary
        .join(fg_tot, "query_id")
        .withColumn("score",
                    F.round((fg_rate - bg_rate) * (fg_rate / bg_rate), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k_terms))
        .select("query_id", "term", "fg_count", "bg_count", "score", "rnk")
        .orderBy("query_id", "rnk")
    )


def mlt_select_terms(
    store: SnapshotStore,
    text: str,
    max_terms: int = 10,
    min_term_freq: int = 1,
    version: int | None = None,
    idf_cache: dict | None = None,
) -> list[str]:
    """More-like-this term selection (Elasticsearch MLT semantics,
    simplified): tokenize the source text with the index's pinned mode,
    weight each distinct term by tf_in_source · idf (the classic
    "interesting terms" heuristic), and keep the top max_terms by
    (weight DESC, term ASC). The weight is ROUNDED to 6 decimals before
    ranking so the selection is reproducible across engines (the SQL
    oracle ranks the same rounded weight — ln() may differ in the last
    ulp between libms). One pushed-down stats lookup, query-sized;
    corpus-absent source terms can never be selected (no idf)."""
    meta = store.meta(version)
    if "avgdl" not in meta:
        raise FileNotFoundError(
            f"no built index at {store.root!r}: run build first")
    uni = bool(meta.get("unicode", False))
    toks = tokenize_py(text, unicode=uni)
    tf: dict[str, int] = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    cand = sorted(t for t, n in tf.items() if n >= min_term_freq)
    if not cand:
        return []
    cache = idf_cache if idf_cache is not None else {}
    missing = [t for t in cand if t not in cache]
    if missing:
        _idf_lookup(store, version, cache, EngineConfig(), missing)
    weighted = [(round(tf[t] * cache[t], 6), t) for t in cand
                if cache[t] is not None]
    weighted.sort(key=lambda x: (-x[0], x[1]))
    return [t for _, t in weighted[:max_terms]]


def search_with_text(
    spark: SparkSession,
    store: SnapshotStore,
    source_df: DataFrame,
    queries: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """search_nodes analog (/root/reference/src/core/ann_index.rs:81-84):
    join the ≤ |queries|·k result ids back to the source table for payload
    columns — the result side is tiny, so it is the broadcast side."""
    res = search_topk(spark, store, queries, k=k, **kw)
    return source_df.join(F.broadcast(res), source_df[id_col] == res["doc_id"], "inner").drop(
        res["doc_id"]
    )
