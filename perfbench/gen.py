"""Seeded input generators for the benchmark.

Everything the engine sees is built here from one integer seed, so the
same seed always yields byte-identical inputs:

- ``make_docs``: a document table with a Zipf-distributed vocabulary,
  typed filter columns (``category``, ``price``) and one unique id word
  per document;
- ``make_corpus``: a crawl-like corpus for the batch pipeline, with
  HTML noise, repeated boilerplate lines, low-quality stubs and planted
  exact and near duplicates;
- ``make_query_pool`` / ``request_stream``: a fixed pool of read
  requests (semantic, full-text, hybrid; some with typed filters) and a
  Zipf-skewed draw over it with a fixed kind mix;
- ``ChangeStream``: seeded change batches (insert, update_postimage,
  delete) against a live document table, with the state model the
  freshness checks compare against.

Only the standard library and numpy are used; nothing here imports the
engine.
"""

from __future__ import annotations

import numpy as np

CATEGORIES = ("news", "sports", "tech", "travel", "food", "health", "arts", "money")
STOP = (
    "the of and to in is for on with as at by from that this it was are "
    "be or an will"
).split()
# consonant-only digits for marker / id words: no vowel means no stemmer
# suffix (s, e, ed, ing) can fire, and ids never collide with vocabulary
# words (which always contain vowels)
_MARK_DIGITS = "bcdfghjklmnpqrtvwz"
_SYL_C = "bcdfgklmnprstvz"
_SYL_V = "aeiou"


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream: adding a stream never
    shifts another stream's draws."""
    salt = sum((i + 1) * ord(c) for i, c in enumerate(stream))
    return np.random.default_rng([int(seed), salt])


def make_vocab(seed: int, size: int) -> list[str]:
    """``size`` distinct pronounceable pseudo-words (2-4 syllables)."""
    rng = rng_for(seed, "vocab")
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < size:
        n = int(rng.integers(2, 5))
        w = "".join(
            _SYL_C[int(rng.integers(len(_SYL_C)))]
            + _SYL_V[int(rng.integers(len(_SYL_V)))]
            for _ in range(n)
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def mark_word(prefix: str, n: int) -> str:
    """Unique consonant-only word, e.g. ``mark_word("qx", 7)``. Digits in
    base 18 and a closing ``x`` (not a digit): distinct numbers give
    distinct words, and the word never ends in a doubled letter, so the
    undoubling stem rule cannot fire."""
    digits = []
    n = int(n)
    while True:
        digits.append(_MARK_DIGITS[n % len(_MARK_DIGITS)])
        n //= len(_MARK_DIGITS)
        if n == 0:
            break
    return prefix + "".join(reversed(digits)) + "x"


def id_word(doc_id: int) -> str:
    return mark_word("zq", doc_id)


class TextMaker:
    """Sentences drawn from a Zipf vocabulary plus stop words, so the
    quality filter keeps them and the analyzer has real work to do."""

    def __init__(self, seed: int, stream: str, vocab_size: int = 4000):
        self.vocab = make_vocab(seed, vocab_size)
        self.p = zipf_weights(len(self.vocab))
        self.rng = rng_for(seed, stream)

    def sentence(self) -> str:
        rng = self.rng
        n = int(rng.integers(8, 16))
        words = rng.choice(len(self.vocab), size=n, p=self.p)
        toks = []
        for i, w in enumerate(words):
            toks.append(self.vocab[int(w)])
            if i % 3 == 1:
                toks.append(STOP[int(rng.integers(len(STOP)))])
        s = " ".join(toks)
        return s[0].upper() + s[1:] + "."

    def paragraph(self, n_sent: int) -> str:
        return " ".join(self.sentence() for _ in range(n_sent))


def make_docs(seed: int, n_docs: int, first_id: int = 1) -> list[dict]:
    """Document table rows: id, content, category, price."""
    tm = TextMaker(seed, "docs")
    rng = rng_for(seed, "docs-cols")
    rows = []
    for i in range(n_docs):
        doc_id = first_id + i
        rows.append(
            {
                "id": doc_id,
                "content": tm.paragraph(int(rng.integers(2, 5)))
                + " "
                + id_word(doc_id),
                "category": CATEGORIES[int(rng.integers(len(CATEGORIES)))],
                "price": int(rng.integers(1, 1000)),
            }
        )
    return rows


def make_query_pool(seed: int, n_queries: int, docs: list[dict]) -> list[dict]:
    """Read requests: kind in (search, fts, hybrid) and a 3-word query of
    mid-frequency corpus words (ranks 100-400 of the Zipf vocabulary, so
    the full-text branch matches a moderate share of documents).

    Only the words depend on the seed: the kind and filter of an entry
    follow from its index (no filter, a category filter, a price filter,
    in turn within each kind), so every seed has the same request shapes
    at the same popularity ranks."""
    tm = TextMaker(seed, "queries")
    rng = rng_for(seed, "query-pool")
    kinds = ("search", "full_text_search", "hybrid_search")
    pool = []
    for i in range(n_queries):
        words = [tm.vocab[int(rng.integers(100, 400))] for _ in range(3)]
        req = {"kind": kinds[i % 3], "query": " ".join(words), "k": 10}
        shape = (i // 3) % 3
        if shape == 1:
            req["filters"] = {
                "category": "eq." + CATEGORIES[int(rng.integers(len(CATEGORIES)))]
            }
        elif shape == 2:
            req["filters"] = {"price": "lte.500"}
        pool.append(req)
    return pool


def request_stream(seed: int, stream: str, pool: list[dict], n: int) -> list[int]:
    """``n`` pool indexes whose request kinds cycle in a fixed order, each
    drawn Zipf-skewed (s = 1.1) among the pool entries of its kind in pool
    order, so popularity rank r always falls on the same request shape."""
    kinds = sorted({r["kind"] for r in pool})
    by_kind = [[i for i, r in enumerate(pool) if r["kind"] == k] for k in kinds]
    draws = [rng_for(seed, f"{stream}-{k}").choice(len(ix), size=n, p=zipf_weights(len(ix)))
             for k, ix in zip(kinds, by_kind)]
    return [by_kind[j % len(kinds)][int(draws[j % len(kinds)][j])] for j in range(n)]


def zipf_stream(seed: int, stream: str, pool_size: int, n: int) -> list[int]:
    """``n`` pool indexes drawn Zipf-skewed (s = 1.1), the popular ones
    placed at seeded positions: a few entries repeat often, most rarely."""
    rng = rng_for(seed, stream)
    order = rng.permutation(pool_size)
    draws = rng.choice(pool_size, size=n, p=zipf_weights(pool_size))
    return [int(order[d]) for d in draws]


def make_corpus(seed: int, n_docs: int, dup_share: float = 0.08,
                near_share: float = 0.08, junk_share: float = 0.04):
    """Crawl-like corpus rows (doc_id, text) plus the planted ground
    truth.

    Returns ``(rows, truth)`` where ``truth`` holds ``exact_groups`` (each
    a sorted list of the doc ids sharing one text) and ``planted``, the
    number of planted copies: exact ones and near ones (one word
    replaced). Every planted copy is a long, clean document, so the
    quality filter keeps it."""
    tm = TextMaker(seed, "corpus")
    rng = rng_for(seed, "corpus-plan")
    boiler = [tm.sentence() for _ in range(12)]
    n_exact = int(n_docs * dup_share)
    n_near = int(n_docs * near_share)
    n_junk = int(n_docs * junk_share)
    n_orig = n_docs - n_exact - n_near - n_junk
    texts: list[str] = []
    for _ in range(n_orig):
        lines = [tm.paragraph(int(rng.integers(2, 4))) for _ in range(int(rng.integers(3, 6)))]
        # repeated boilerplate lines inside a page: dedup_lines keeps one
        b = boiler[int(rng.integers(len(boiler)))]
        lines.insert(int(rng.integers(len(lines) + 1)), b)
        lines.append(b)
        if rng.random() < 0.3:
            lines[0] = "<p>" + lines[0] + "</p> &amp; <b>more</b>"
        texts.append("\n".join(lines))
    for _ in range(n_junk):
        texts.append("Buy now!!! $$$ " + tm.vocab[int(rng.integers(50))] + " ???")
    originals = list(range(n_orig))
    exact_src = rng.choice(originals, size=n_exact, replace=True)
    near_src = rng.choice(originals, size=n_near, replace=False)
    plan = [("exact", int(s)) for s in exact_src] + [("near", int(s)) for s in near_src]
    for kind, src in plan:
        t = texts[src]
        if kind == "near":
            words = t.split(" ")
            j = int(rng.integers(len(words) // 3, 2 * len(words) // 3))
            words[j] = tm.vocab[int(rng.integers(len(tm.vocab)))]
            t = " ".join(words)
        texts.append(t)
    # doc ids are a seeded permutation, so planted copies are scattered
    # across the key space and across input files
    ids = rng.permutation(len(texts)) + 1
    rows = [{"doc_id": int(ids[i]), "text": texts[i]} for i in range(len(texts))]
    groups: dict[int, list[int]] = {}
    for k, (kind, src) in enumerate(plan):
        copy_pos = n_orig + n_junk + k
        if kind == "exact":
            groups.setdefault(src, [int(ids[src])]).append(int(ids[copy_pos]))
    truth = {
        "exact_groups": [sorted(g) for g in groups.values()],
        "planted": n_exact + n_near,
    }
    return rows, truth


class ChangeStream:
    """Seeded change batches against a live document table.

    Each batch holds ``n_insert`` new documents, ``n_update`` post-images
    of live documents and ``n_delete`` deletes of other live documents;
    no key appears twice in one batch. Every inserted or updated text
    carries the batch's marker word, so one full-text read can confirm
    the whole batch. ``live`` is the table state after the batches
    applied so far."""

    def __init__(self, seed: int, docs: list[dict], n_insert: int,
                 n_update: int, n_delete: int):
        self.rng = rng_for(seed, "changes")
        self.tm = TextMaker(seed, "changes-text")
        self.live = {d["id"]: dict(d) for d in docs}
        self.next_id = max(self.live) + 1
        self.n_insert, self.n_update, self.n_delete = n_insert, n_update, n_delete
        self.batch_no = 0

    def next_batch(self) -> dict:
        rng = self.rng
        self.batch_no += 1
        marker = mark_word("qx", self.batch_no)
        keys = sorted(self.live)
        picked = rng.choice(len(keys), size=self.n_update + self.n_delete, replace=False)
        upd = [keys[int(i)] for i in picked[: self.n_update]]
        dele = [keys[int(i)] for i in picked[self.n_update:]]
        events = []
        changed = []
        for _ in range(self.n_insert):
            doc_id = self.next_id
            self.next_id += 1
            row = {
                "id": doc_id,
                "content": self.tm.paragraph(int(rng.integers(2, 4)))
                + f" {marker} {id_word(doc_id)}",
                "category": CATEGORIES[int(rng.integers(len(CATEGORIES)))],
                "price": int(rng.integers(1, 1000)),
            }
            events.append({**row, "_change_type": "insert"})
            changed.append(row)
        for doc_id in upd:
            row = dict(self.live[doc_id])
            row["content"] = (
                self.tm.paragraph(int(rng.integers(2, 4)))
                + f" {marker} {id_word(doc_id)}"
            )
            events.append({**row, "_change_type": "update_postimage"})
            changed.append(row)
        for doc_id in dele:
            events.append(
                {"id": doc_id, "content": None, "category": None,
                 "price": None, "_change_type": "delete"}
            )
        for row in changed:
            self.live[row["id"]] = row
        for doc_id in dele:
            del self.live[doc_id]
        return {
            "batch_no": self.batch_no,
            "marker": marker,
            "events": events,
            "changed": changed,
            "deleted": dele,
        }
