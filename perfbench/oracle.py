"""Independent BM25 top-k oracle in DuckDB.

It recomputes every checked search from the generated parquet rows with
nothing from the engine but its pinned constants: the tokenizer regex
(`TOKEN_SPLIT_RE`), the `BM25Config` (k1, b and the idf expression) and
the result order (score DESC, doc_id ASC).

Index state follows the engine's documented contracts:
- doc ids: batch 0 (the build) numbers rows by (conv_id, turn_idx) from 0;
  each appended batch continues after every raw row numbered before it;
- corpus stats (N, avgdl, df) stay frozen at the build: appended docs
  score with base idf/avgdl, and terms the base never saw do not score;
- a tombstoned doc is excluded from every search sent after its delete.

A check names the state it ran against: `batches` = number of batches
applied (1 = base only) and `deletes` = number of delete rounds applied.
"""

from __future__ import annotations

import re

import duckdb

from hora_spark.config import TOKEN_SPLIT_RE, BM25Config

REL_TOL = 1e-9


class Oracle:
    def __init__(self, batch_globs: list[str], bm25: BM25Config, threads: int = 4):
        self.bm25 = bm25
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")
        parts = []
        for b, g in enumerate(batch_globs):
            parts.append(
                f"SELECT {b} AS batch, conv_id, turn_idx, text, "
                f"row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS rn "
                f"FROM read_parquet('{g}')")
        self.con.execute("CREATE TABLE raw AS " + " UNION ALL ".join(parts))
        # each batch's ids continue after every raw row of earlier batches
        self.con.execute("""
            CREATE TABLE offs AS
            SELECT batch, coalesce(sum(n) OVER (ORDER BY batch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
            FROM (SELECT batch, count(*) AS n FROM raw GROUP BY batch)""")
        self.con.execute(f"""
            CREATE TABLE tok AS
            SELECT r.batch, r.rn + o.off AS doc_id,
                   list_filter(string_split_regex(lower(coalesce(r.text, '')),
                               '{TOKEN_SPLIT_RE}'), x -> x <> '') AS toks
            FROM raw r JOIN offs o USING (batch)""")
        self.con.execute("""
            CREATE TABLE docs AS SELECT doc_id, batch, len(toks) AS dl
            FROM tok WHERE len(toks) > 0""")
        self.con.execute("""
            CREATE TABLE tf AS
            SELECT doc_id, batch, term, count(*) AS tf
            FROM (SELECT doc_id, batch, unnest(toks) AS term FROM tok)
            GROUP BY ALL""")
        self.con.execute("""
            CREATE TABLE stats AS
            SELECT count(*) AS N, avg(dl) AS avgdl FROM docs WHERE batch = 0""")
        self.con.execute(f"""
            CREATE TABLE idf AS
            SELECT term, {bm25.idf_sql} AS idf
            FROM (SELECT term, count(*) AS df FROM tf WHERE batch = 0 GROUP BY term)
            CROSS JOIN stats""")

    def batch_sizes(self) -> list[int]:
        rows = self.con.execute(
            "SELECT batch, count(*) FROM raw GROUP BY batch ORDER BY batch").fetchall()
        return [int(n) for _, n in rows]

    def doc_ids(self, batch: int) -> list[int]:
        return [int(r[0]) for r in self.con.execute(
            "SELECT doc_id FROM docs WHERE batch = ? ORDER BY doc_id", [batch]).fetchall()]

    def topk(self, checks: list[dict], k: int, deleted: list[tuple[int, int]]) -> dict:
        """checks: [{"cid", "text", "batches", "deletes"}]; deleted:
        [(doc_id, round)] with round 1-based. → {cid: (n_match,
        [(doc_id, score), ...])} — every doc scoring at least the k-th
        score (ties at the cut included), in (score DESC, doc_id ASC)."""
        split = re.compile(TOKEN_SPLIT_RE)
        qrows, crows = [], []
        for c in checks:
            crows.append((c["cid"], c["batches"], c["deletes"]))
            for t in sorted({t for t in split.split(c["text"].lower()) if t}):
                qrows.append((c["cid"], t))
        con = self.con
        con.execute("CREATE OR REPLACE TEMP TABLE chk (cid INT, batches INT, dels INT)")
        con.execute("CREATE OR REPLACE TEMP TABLE qt (cid INT, term VARCHAR)")
        con.execute("CREATE OR REPLACE TEMP TABLE del (doc_id BIGINT, round INT)")
        if crows:
            con.executemany("INSERT INTO chk VALUES (?, ?, ?)", crows)
        if qrows:
            con.executemany("INSERT INTO qt VALUES (?, ?)", qrows)
        if deleted:
            con.executemany("INSERT INTO del VALUES (?, ?)", list(deleted))
        k1, b = float(self.bm25.k1), float(self.bm25.b)
        rows = con.execute(f"""
            WITH sc AS (
              SELECT c.cid, t.doc_id,
                     sum(i.idf * t.tf / (t.tf + {k1} * (1 - {b} + {b} * d.dl / s.avgdl)))
                       AS score
              FROM chk c JOIN qt q USING (cid)
              JOIN tf t ON t.term = q.term AND t.batch < c.batches
              JOIN idf i ON i.term = q.term
              JOIN docs d ON d.doc_id = t.doc_id
              CROSS JOIN stats s
              WHERE NOT EXISTS (SELECT 1 FROM del x
                                WHERE x.doc_id = t.doc_id AND x.round <= c.dels)
              GROUP BY c.cid, t.doc_id),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY cid
                          ORDER BY score DESC, doc_id ASC) AS rn,
                     count(*) OVER (PARTITION BY cid) AS n_match
              FROM sc),
            cut AS (SELECT cid, min(score) AS kth FROM rk WHERE rn <= {int(k)} GROUP BY cid)
            SELECT rk.cid, rk.doc_id, rk.score, rk.n_match
            FROM rk JOIN cut USING (cid)
            WHERE rk.score >= cut.kth - {REL_TOL} * abs(cut.kth)
            ORDER BY rk.cid, rk.score DESC, rk.doc_id""").fetchall()
        out: dict = {c["cid"]: (0, []) for c in checks}
        for cid, doc, score, n in rows:
            out[cid] = (int(n), out[cid][1] + [(int(doc), float(score))])
        return out

    def close(self) -> None:
        self.con.close()


def agrees(engine_rows: list[tuple[int, float]], expected: tuple[int, list], k: int) -> bool:
    """Engine top-k (doc_id, score) in result order vs the oracle's
    (n_match, ranked candidates). Scores must match position by position
    within REL_TOL; each doc must be one the oracle ranks at that score
    (so docs whose scores tie within the tolerance may trade places)."""
    n_match, cand = expected
    if len(engine_rows) != min(k, n_match):
        return False
    for i, (doc, score) in enumerate(engine_rows):
        want = cand[i][1]
        tol = REL_TOL * max(1.0, abs(want))
        if abs(score - want) > tol:
            return False
        if not any(d == doc and abs(s - score) <= tol for d, s in cand):
            return False
    return len({d for d, _ in engine_rows}) == len(engine_rows)
