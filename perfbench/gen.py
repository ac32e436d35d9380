"""Seeded inputs: transcripts, query streams and delete sets.

Everything here is a pure function of the benchmark seed. The engine only
ever sees the generated rows (parquet files) and query strings. The rows
follow the `hora_spark.datagen` model and vocabulary.

Query terms follow a Zipf law over the datagen vocabulary ranks (the same
exponent the corpus text uses), so head terms such as "the" and "of" are
frequent in queries just as they are in the text.
"""

from __future__ import annotations

import os
import random

import numpy as np

from hora_spark import datagen

ZIPF_S = datagen.ZIPF_S
HEAD_RANKS = 100          # a query term of rank < HEAD_RANKS is a head term
MAX_TERMS = 4


def zipf_cdf(n: int) -> np.ndarray:
    """Cumulative Zipf(ZIPF_S) probabilities over ranks 1..n."""
    p = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), ZIPF_S)
    return np.cumsum(p / p.sum())


def sub_seed(seed: int, stream: str) -> int:
    """Independent deterministic sub-seed per named input stream
    (stable across processes, unlike hash())."""
    h = 1469598103934665603
    for ch in f"{seed}:{stream}":
        h = ((h ^ ord(ch)) * 1099511628211) & ((1 << 63) - 1)
    return h


class QueryStream:
    """1-4 distinct terms per query, each term rank ~ Zipf(ZIPF_S)."""

    def __init__(self, seed: int):
        self.vocab = datagen.vocab()
        self._cdf = zipf_cdf(len(self.vocab))
        self._rng = np.random.Generator(np.random.PCG64(seed))

    def ranks(self) -> list[int]:
        n = int(self._rng.integers(1, MAX_TERMS + 1))
        out: list[int] = []
        while len(out) < n:
            r = int(np.searchsorted(self._cdf, self._rng.random(), side="right"))
            r = min(r, len(self.vocab) - 1)
            if r not in out:
                out.append(r)
        return out

    def next(self) -> tuple[str, list[int]]:
        rk = self.ranks()
        return " ".join(self.vocab[r] for r in rk), rk


def query_key(text: str) -> tuple[str, ...]:
    """Order-free identity of a query: two texts with the same term set
    are the same query to the engine's per-task memo."""
    return tuple(sorted(set(text.split())))


def interactive_queries(seed: int, n: int, repeat_share: float) -> list[dict]:
    """n single queries; with probability repeat_share a query re-sends
    one sent earlier in the stream (uniformly chosen)."""
    qs = QueryStream(sub_seed(seed, "interactive"))
    pick = random.Random(sub_seed(seed, "interactive-repeat"))
    out: list[dict] = []
    for _ in range(n):
        if out and pick.random() < repeat_share:
            prev = out[pick.randrange(len(out))]
            out.append({"text": prev["text"], "ranks": prev["ranks"], "repeat": True})
        else:
            text, rk = qs.next()
            out.append({"text": text, "ranks": rk, "repeat": False})
    return out


def distinct_batches(seed: int, n_batches: int, size: int,
                     stream: str = "batch") -> list[list[dict]]:
    """n_batches lists of `size` queries; no term set repeats within or
    across batches, so the engine's per-task spec memo never hits."""
    qs = QueryStream(sub_seed(seed, stream))
    seen: set[tuple[str, ...]] = set()
    batches: list[list[dict]] = []
    for _ in range(n_batches):
        batch: list[dict] = []
        while len(batch) < size:
            text, rk = qs.next()
            key = query_key(text)
            if key in seen:
                continue
            seen.add(key)
            batch.append({"text": text, "ranks": rk, "repeat": False})
        batches.append(batch)
    return batches


def query_properties(queries: list[dict]) -> dict:
    """Repeat share and head-term share of a sent query list."""
    n = len(queries)
    terms = [r for q in queries for r in q["ranks"]]
    return {
        "queries": n,
        "repeat_share": (sum(q["repeat"] for q in queries) / n) if n else 0.0,
        "head_term_share": (sum(r < HEAD_RANKS for r in terms) / len(terms)) if terms else 0.0,
        "mean_terms": (len(terms) / n) if n else 0.0,
    }


def turns(first_conv: int, n_turns: int, seed: int, vocab: np.ndarray,
          cdf: np.ndarray) -> tuple[dict, int]:
    """Exactly n_turns transcript rows from conversations first_conv,
    first_conv + 1, ... (the last one cut short), following the datagen
    model: 2-24 turns per conversation, 5-120 tokens per turn, token ranks
    ~ Zipf(ZIPF_S) over the datagen vocabulary. One Philox stream per
    conversation. Returns the rows and the next unused conversation."""
    conv, turn, text = [], [], []
    ci = first_conv
    while len(conv) < n_turns:
        rng = np.random.Generator(np.random.Philox(key=[seed, ci]))
        n = 2 + int(rng.integers(0, 23))
        lens = 5 + rng.integers(0, 116, size=n)
        toks = np.searchsorted(cdf, rng.random(int(lens.sum())), side="right")
        toks = np.minimum(toks, len(vocab) - 1)
        offs = np.concatenate(([0], np.cumsum(lens)))
        for t in range(min(n, n_turns - len(conv))):
            conv.append(f"conv{ci:08d}")
            turn.append(t)
            text.append(" ".join(vocab[toks[offs[t]:offs[t + 1]]]))
        ci += 1
    return {"conv_id": conv, "turn_idx": turn, "text": text}, ci


def write_inputs(path: str, base_turns: int, n_batches: int, batch_turns: int,
                 seed: int) -> list[str]:
    """The base transcripts table plus n_batches new-conversation batches,
    one parquet dir per part: path/part=0 is the base corpus (exactly
    base_turns rows) and path/part=<i> (i >= 1) the i-th appended batch
    (exactly batch_turns rows, conversation ids prefixed by the batch).
    Sizes are fixed so that seeds change the content, not the amount of
    work. Written by this process (no Spark job). Returns the part dirs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab = datagen.vocab()
    cdf = zipf_cdf(len(vocab))
    key = sub_seed(seed, "transcripts") % (1 << 32)
    dirs, next_conv = [], 0
    for i in range(n_batches + 1):
        rows, next_conv = turns(next_conv, batch_turns if i else base_turns, key, vocab, cdf)
        if i:
            rows["conv_id"] = [f"a{i:03d}-{c}" for c in rows["conv_id"]]
        d = os.path.join(path, f"part={i}")
        os.makedirs(d, exist_ok=True)
        table = pa.table({"conv_id": pa.array(rows["conv_id"], pa.string()),
                          "turn_idx": pa.array(rows["turn_idx"], pa.int32()),
                          "text": pa.array(rows["text"], pa.string())})
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        dirs.append(d)
    return dirs


def delete_sets(seed: int):
    """A seeded chooser: pick(live_ids, n) → sorted list of n live ids."""
    rng = random.Random(sub_seed(seed, "deletes"))

    def pick(live: list[int], n: int) -> list[int]:
        return sorted(rng.sample(live, min(n, len(live))))

    return pick
