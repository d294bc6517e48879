"""Independent references for checking the engine's read results.

- Semantic scores: numpy, via ``providers.local.LocalHashEmbedder`` (the
  job's model). The engine stores float64 vectors and folds the dot
  product left to right, so the reference does the same fold, column by
  column, and scores compare exactly.
- Full-text tokens: the DuckDB oracle fragments (``oracle.sql_tokens``),
  an implementation of the analyzer independent of the Spark one; the
  overlap score is ``|doc ∩ query| / |query|``.
- Hybrid: reciprocal rank fusion of the two reference rankings, spelled
  out from the engine's documented semantics (windows of ``5 * k``,
  ``1 / (60 + rank)`` per branch, filters after fusion).

``Corpus`` holds one table state; ``check_read`` compares one engine
result against it and returns None when it agrees, else a reason.
"""

from __future__ import annotations

import numpy as np

from pg_vectorize_spark.oracle import sql_tokens
from pg_vectorize_spark.providers.local import LocalHashEmbedder

RRF_K = 60
WINDOW_MULT = 5
SCORE_COL = {
    "search": "similarity_score",
    "full_text_search": "fts_score",
    "hybrid_search": "rrf_score",
}


class Analyzer:
    """Doc and query tokens through DuckDB, memoized per distinct text."""

    def __init__(self):
        import duckdb

        self.con = duckdb.connect()
        self.memo: dict[str, frozenset] = {}

    def tokens(self, texts) -> None:
        todo = sorted({t for t in texts if t not in self.memo})
        if not todo:
            return
        self.con.execute("CREATE OR REPLACE TEMP TABLE t(x VARCHAR)")
        self.con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in todo])
        for x, toks in self.con.execute(f"SELECT x, {sql_tokens('x')} FROM t").fetchall():
            self.memo[x] = frozenset(toks)

    def __getitem__(self, text: str) -> frozenset:
        return self.memo[text]


class Embedder:
    def __init__(self):
        self.model = LocalHashEmbedder()
        self.memo: dict[str, np.ndarray] = {}

    def doc(self, text: str) -> np.ndarray:
        v = self.memo.get(text)
        if v is None:
            v = np.asarray(self.model.embed_one(text), dtype=np.float64)
            self.memo[text] = v
        return v

    def query(self, text: str) -> np.ndarray:
        return np.asarray(self.model.embed_one(text), dtype=np.float64)


def fold_dot(m: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise dot product folded left to right in float64 — the same
    operation order as the engine's ``aggregate(zip_with(...))``."""
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * q[j]
    return acc


def _passes(doc: dict, filters: dict | None) -> bool:
    for col, spec in (filters or {}).items():
        op, _, raw = spec.partition(".")
        v = doc[col]
        if op == "eq":
            ok = str(v) == raw
        elif op == "lte":
            ok = v is not None and v <= float(raw)
        else:
            raise ValueError(f"unsupported filter op in the benchmark: {op}")
        if not ok:
            return False
    return True


class Corpus:
    """One state of the job's source table, with reference rankings."""

    def __init__(self, docs: dict, emb: Embedder, ana: Analyzer):
        self.docs = docs
        self.ids = np.array(sorted(docs), dtype=np.int64)
        self.emb, self.ana = emb, ana
        ana.tokens(d["content"] for d in docs.values())
        self.mat = np.stack([emb.doc(docs[i]["content"]) for i in self.ids])
        self.toks = [ana[docs[i]["content"]] for i in self.ids]

    def semantic(self, query: str) -> np.ndarray:
        return fold_dot(self.mat, self.emb.query(query))

    def fts(self, query: str) -> np.ndarray:
        self.ana.tokens([query])
        terms = self.ana[query]
        if not terms:
            return np.zeros(len(self.ids))
        n = float(len(terms))
        return np.array([len(t & terms) / n for t in self.toks])

    @staticmethod
    def _order(ids: np.ndarray, scores: np.ndarray, mask=None) -> list[int]:
        idx = np.arange(len(ids)) if mask is None else np.nonzero(mask)[0]
        # score desc, key asc — the engine's tie-break
        return [int(i) for i in idx[np.lexsort((ids[idx], -scores[idx]))]]

    def expected(self, req: dict) -> list[tuple[int, float]]:
        kind, q, k, flt = req["kind"], req["query"], req["k"], req.get("filters")
        keep = np.array([_passes(self.docs[int(i)], flt) for i in self.ids])
        if kind == "search":
            s = self.semantic(q)
            order = self._order(self.ids, s, keep)[:k]
            return [(int(self.ids[i]), float(s[i])) for i in order]
        if kind == "full_text_search":
            f = self.fts(q)
            order = self._order(self.ids, f, keep & (f > 0))[:k]
            return [(int(self.ids[i]), float(f[i])) for i in order]
        w = WINDOW_MULT * k
        s, f = self.semantic(q), self.fts(q)
        sem_rank = {i: r + 1 for r, i in enumerate(self._order(self.ids, s)[:w])}
        fts_rank = {i: r + 1 for r, i in enumerate(self._order(self.ids, f, f > 0)[:w])}
        fused = []
        for i in set(sem_rank) | set(fts_rank):
            if not keep[i]:
                continue
            sr, fr = sem_rank.get(i), fts_rank.get(i)
            rrf = (1.0 / (RRF_K + sr) if sr else 0.0) + (1.0 / (RRF_K + fr) if fr else 0.0)
            fused.append((-rrf, int(self.ids[i]), rrf))
        fused.sort()
        return [(i, rrf) for _, i, rrf in fused[:k]]


def check_read(req: dict, rows: list[dict], ref: Corpus) -> str | None:
    """None when ``rows`` (an engine result) equals the reference top-k,
    ids, order, scores and returned columns alike."""
    col = SCORE_COL[req["kind"]]
    got = [(r.get("id"), r.get(col)) for r in rows]
    want = ref.expected(req)
    if got != want:
        return f"{req['kind']} {req['query']!r}: got {got[:3]}.. want {want[:3]}.."
    for r in rows:
        d = ref.docs[r["id"]]
        if (r.get("content"), r.get("category"), r.get("price")) != (
            d["content"], d["category"], d["price"]
        ):
            return f"{req['kind']} {req['query']!r}: stale columns for id {r['id']}"
    return None


def check_consistent(req: dict, rows: list[dict], ref: Corpus) -> str | None:
    """Check for reads on an approximate (IVF) index, where recall is not
    exact: every row is live, matches its filters and carries the current
    columns; semantic scores equal the exact score of the row's current
    vector; rows are ordered; full-text results are exact (the postings
    index is lossless)."""
    if req["kind"] == "full_text_search":
        return check_read(req, rows, ref)
    col = SCORE_COL[req["kind"]]
    pos = {int(i): n for n, i in enumerate(ref.ids)}
    sem = ref.semantic(req["query"]) if any(r.get("similarity_score") is not None for r in rows) else None
    prev = None
    for r in rows:
        i = r.get("id")
        if i not in ref.docs:
            return f"{req['kind']} {req['query']!r}: id {i} is not live"
        d = ref.docs[i]
        if (r.get("content"), r.get("category"), r.get("price")) != (
            d["content"], d["category"], d["price"]
        ) or not _passes(d, req.get("filters")):
            return f"{req['kind']} {req['query']!r}: stale or unfiltered row {i}"
        if r.get("similarity_score") is not None and r["similarity_score"] != float(sem[pos[i]]):
            return f"{req['kind']} {req['query']!r}: score of {i} is not its current vector's"
        key = (-r[col], i)
        if prev is not None and key < prev:
            return f"{req['kind']} {req['query']!r}: rows out of order at {i}"
        prev = key
    if len(rows) > req["k"]:
        return f"{req['kind']} {req['query']!r}: {len(rows)} rows for k={req['k']}"
    return None
