"""Property-based tests (hypothesis) for the pure-Python kernels.

The reference has no property testing (SURVEY.md §5) — these go beyond its
suite: invariants that must hold for ALL inputs, not just goldens.
"""

from __future__ import annotations

import math
import re

import pytest

from hypothesis import example, given, settings
from hypothesis import strategies as st

from pg_vectorize_spark.filters import (
    FilterParseError,
    parse_filter,
)
from pg_vectorize_spark.operators.change import pack_by_token_budget
from pg_vectorize_spark.operators.chunk import chunk_text_greedy
from pg_vectorize_spark.providers.local import (
    DEFAULT_DIM,
    LocalHashEmbedder,
    bucket,
    features,
    tokenize,
)
from pg_vectorize_spark.rag import trim_context


class TestFilterParserProperties:
    @given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
    def test_integers_roundtrip(self, n):
        fv = parse_filter(f"eq.{n}")
        assert fv.value == n and fv.op == "="

    @given(st.integers(-(2**63), 2**63 - 1), st.sampled_from(["gt", "gte", "lt", "lte"]))
    def test_comparison_ops_accept_any_int(self, n, op):
        fv = parse_filter(f"{op}.{n}")
        assert fv.value == n

    @given(st.floats(allow_nan=False, allow_infinity=False))
    def test_floats_roundtrip(self, x):
        fv = parse_filter(f"gte.{x!r}")
        assert fv.value == x or fv.value == int(x)  # 1.0 prints as '1.0'

    @given(st.text(alphabet=st.characters(exclude_characters="."), max_size=30))
    def test_never_crashes_on_equality(self, s):
        # any dot-free string must parse as an equality filter
        fv = parse_filter(s)
        assert fv.op == "="

    @given(st.text(max_size=30))
    def test_parse_total_function(self, s):
        # parse_filter either returns a FilterValue or raises FilterParseError
        try:
            fv = parse_filter(s)
            assert fv.op in {"=", ">", ">=", "<", "<="}
        except FilterParseError:
            pass


class TestChunkerProperties:
    @given(st.text(max_size=300), st.integers(min_value=1, max_value=50))
    @settings(max_examples=200)
    def test_chunks_within_limit(self, doc, max_chars):
        for ch in chunk_text_greedy(doc, max_chars):
            assert 0 < len(ch) <= max_chars

    @given(st.text(max_size=300), st.integers(min_value=1, max_value=50))
    @settings(max_examples=200)
    def test_reassembly_preserves_characters(self, doc, max_chars):
        # words longer than max_chars are hard-split, so the word list may
        # change — but the non-whitespace character stream never does
        chunks = chunk_text_greedy(doc, max_chars)
        got = "".join("".join(ch.split()) for ch in chunks)
        expect = "".join(doc.split())
        assert got == expect

    @given(st.text(max_size=200))
    def test_no_empty_chunks(self, doc):
        assert all(ch.strip() for ch in chunk_text_greedy(doc, 10))


class TestPackingProperties:
    @given(
        st.lists(
            st.tuples(st.text(max_size=5), st.integers(1, 20_000)), max_size=40
        ),
        st.integers(min_value=1, max_value=15_000),
    )
    def test_packing_partitions_all_items(self, items, budget):
        batches = pack_by_token_budget(items, budget)
        flat = [rid for b in batches for rid in b]
        assert flat == [rid for rid, _ in items]

    @given(
        st.lists(
            st.tuples(st.text(max_size=5), st.integers(1, 5_000)), max_size=40
        ),
        st.integers(min_value=5_000, max_value=15_000),
    )
    def test_batches_respect_budget_when_items_fit(self, items, budget):
        # when every item fits the budget, every batch must too
        tokens = dict()
        sizes = []
        batches = pack_by_token_budget(items, budget)
        i = 0
        for b in batches:
            total = 0
            for _ in b:
                total += items[i][1]
                i += 1
            sizes.append(total)
        assert all(s <= budget for s in sizes)


class TestEmbedderProperties:
    @given(st.text(max_size=200))
    @settings(max_examples=100)
    def test_unit_norm_or_zero(self, text):
        e = LocalHashEmbedder(dim=32)
        v = e.embed_one(text)
        n = sum(x * x for x in v)
        assert math.isclose(n, 1.0, rel_tol=1e-9) or n == 0.0

    @given(st.text(max_size=100))
    def test_deterministic(self, text):
        e = LocalHashEmbedder(dim=32)
        assert e.embed_one(text) == e.embed_one(text)

    @given(st.text(max_size=100))
    def test_tokens_lowercase_alnum(self, text):
        for t in tokenize(text):
            assert re.fullmatch(r"[a-z0-9]+", t)

    @given(st.text(alphabet="abc ", max_size=60), st.integers(2, 256))
    def test_bucket_in_range(self, text, dim):
        for f in features(text):
            assert 0 <= bucket(f, dim) < dim

    @given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=100))
    def test_case_insensitive_ascii(self, text):
        # ASCII only: Unicode case-folding is not involutive ('ß'.upper() ==
        # 'SS'), and the analyzer is spec'd over [a-z0-9] tokens
        e = LocalHashEmbedder(dim=DEFAULT_DIM)
        assert e.embed_one(text.lower()) == e.embed_one(text.upper())


class TestTrimProperties:
    @given(
        st.lists(st.text(alphabet="ab ", max_size=30), max_size=10),
        st.integers(min_value=0, max_value=50),
    )
    def test_trim_never_exceeds_budget(self, docs, budget):
        kept, used = trim_context(docs, budget)
        assert used <= budget
        assert sum(len(d.split()) for d in kept) == used

    @given(st.lists(st.text(alphabet="xy ", max_size=20), max_size=8))
    def test_zero_budget_keeps_zero_tokens(self, docs):
        # zero-token docs legitimately fit a zero budget; nothing else does
        kept, used = trim_context(docs, 0)
        assert used == 0
        assert all(len(d.split()) == 0 for d in kept)


class TestStemmerParity:
    """The light-stemmer spec must behave identically under Python re and
    DuckDB's RE2 for any analyzer token ([a-z0-9]+) — regex dialect
    differences here would silently break oracle parity."""

    @given(
        st.text(
            alphabet=st.characters(min_codepoint=ord("a"), max_codepoint=ord("z")),
            min_size=1,
            max_size=15,
        )
    )
    @settings(max_examples=150, deadline=None)
    def test_python_duckdb_stem_agree(self, token):
        import duckdb

        from pg_vectorize_spark.functions.text import light_stem
        from pg_vectorize_spark.oracle import sql_stem

        con = duckdb.connect()
        duck = con.execute(f"SELECT {sql_stem(repr(token))} AS s").fetchone()[0]
        con.close()
        assert duck == light_stem(token), token

    @given(
        st.text(
            alphabet=st.characters(min_codepoint=ord("0"), max_codepoint=ord("z")),
            min_size=1,
            max_size=12,
        )
    )
    @settings(max_examples=80, deadline=None)
    def test_stem_total_and_nonempty_on_long_tokens(self, token):
        from pg_vectorize_spark.functions.text import light_stem

        out = light_stem(token)
        assert isinstance(out, str)
        if len(token) >= 5:
            assert out, token  # stemming never erases a full-length token

    @given(
        st.text(
            alphabet=st.characters(min_codepoint=ord("a"), max_codepoint=ord("z")),
            min_size=1,
            max_size=15,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_stem_preserves_first_char_and_never_lengthens(self, token):
        """The two invariants that make the query-scoped candidate
        prefilter sound (functions/text.query_scoped_tokens_expr): a word
        can only stem to a term sharing its first character and no longer
        than itself. If a rule change breaks either, the prefilter would
        silently drop true matches — this test is the tripwire."""
        from pg_vectorize_spark.functions.text import light_stem

        out = light_stem(token)
        assert out[0] == token[0], (token, out)
        assert len(out) <= len(token), (token, out)


class TestFtsIndexProbeParity:
    """Property: the postings-index probe is LOSSLESS — for ANY corpus
    of token sets and ANY query term list, probe scores == the full
    arrays_overlap scan's scores (the invariant that lets the indexed
    gates share the full-scan oracles)."""

    @settings(max_examples=8, deadline=None)
    @given(
        docs=st.lists(
            st.lists(
                st.text(alphabet="abcdef", min_size=1, max_size=4),
                max_size=6,
            ),
            min_size=1,
            max_size=12,
        ),
        terms=st.lists(
            st.text(alphabet="abcdef", min_size=1, max_size=4),
            min_size=1,
            max_size=4,
            unique=True,
        ),
    )
    def test_probe_equals_scan(self, spark, tmp_path_factory, docs, terms):
        import pyspark.sql.functions as F

        from pg_vectorize_spark.fts_index import JobFtsIndexManager
        from pg_vectorize_spark.functions.text import (
            fts_match_expr,
            fts_score_expr,
        )

        tokens = spark.createDataFrame(
            [(i, sorted(set(d))) for i, d in enumerate(docs)],
            "doc_id long, search_tokens array<string>",
        )
        mgr = JobFtsIndexManager(
            spark,
            str(tmp_path_factory.mktemp("fidx")),
            {"term_buckets": 4},
        )
        mgr.build(tokens, "doc_id")
        got = {
            r["doc_id"]: r["fts_score"]
            for r in mgr.probe_scores(terms).collect()
        }
        want = {
            r["doc_id"]: r["fts_score"]
            for r in tokens.filter(
                fts_match_expr(F.col("search_tokens"), terms)
            )
            .select(
                "doc_id",
                fts_score_expr(F.col("search_tokens"), terms).alias(
                    "fts_score"
                ),
            )
            .collect()
        }
        assert got == want


class TestLocalCCProperties:
    """Driver-side union-find (_local_cc) must equal BFS min-reachable
    labels on EVERY edge multiset — order, duplicates, self-loops,
    string keys included."""

    @staticmethod
    def _bfs(edges):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        comp = {}
        for start in adj:
            if start in comp:
                continue
            seen = {start}
            stack = [start]
            while stack:
                n = stack.pop()
                for m in adj[n]:
                    if m not in seen:
                        seen.add(m)
                        stack.append(m)
            label = min(seen)
            for n in seen:
                comp[n] = label
        return comp

    @given(
        st.lists(
            st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=120
        )
    )
    @settings(max_examples=80, deadline=None)
    def test_matches_bfs_int_keys(self, edges):
        from pg_vectorize_spark.operators.dedup import _local_cc

        got = dict(_local_cc(edges))
        assert got == self._bfs(edges)

    @given(
        st.lists(
            st.tuples(
                st.text(alphabet="abcdef", min_size=1, max_size=3),
                st.text(alphabet="abcdef", min_size=1, max_size=3),
            ),
            max_size=60,
        )
    )
    @settings(max_examples=60, deadline=None)
    def test_matches_bfs_string_keys(self, edges):
        from pg_vectorize_spark.operators.dedup import _local_cc

        got = dict(_local_cc(edges))
        assert got == self._bfs(edges)

    @given(
        st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=80
        ),
        st.randoms(),
    )
    @settings(max_examples=40, deadline=None)
    def test_edge_order_invariant(self, edges, rng):
        from pg_vectorize_spark.operators.dedup import _local_cc

        shuffled = list(edges)
        rng.shuffle(shuffled)
        assert sorted(_local_cc(edges)) == sorted(_local_cc(shuffled))


class TestSparkComparisonSemanticsProperties:
    """The pure-Python mirrors of the cosine expression's degenerate-input
    behavior (see _pair_cosine_spark_semantics): total functions with the
    exact null/ragged/NaN rules."""

    # magnitudes bounded so norms can't overflow to inf: 0*inf -> NaN is
    # legitimate IEEE behavior BOTH engines share (verified by the
    # falsifying example [0.0] x [1.3e154]), but it would make the
    # clean-branch assertion below conditional
    _vec = st.lists(
        st.one_of(
            st.none(),
            st.just(float("nan")),
            st.floats(
                allow_nan=False,
                allow_infinity=False,
                width=64,
                min_value=-1e100,
                max_value=1e100,
                allow_subnormal=False,
            ),
        ),
        min_size=0,
        max_size=6,
    )

    @given(_vec, _vec)
    @settings(max_examples=200, deadline=None)
    def test_total_and_rule_ordered(self, a, b):
        from pg_vectorize_spark.operators.dedup import (
            _pair_cosine_spark_semantics,
        )

        c = _pair_cosine_spark_semantics(a, b)
        if any(x is None for x in a) or any(x is None for x in b):
            assert c == 0.0  # NULL element -> denom NULL -> otherwise 0.0
        elif len(a) != len(b):
            assert c is None  # ragged -> NULL score -> dropped
        elif any(math.isnan(x) for x in a + b):
            # NaN propagates through dot and norms; the score is NaN
            # unless a zero denominator won first — impossible here,
            # since a NaN element makes the norm NaN, not zero
            assert c is not None and math.isnan(c)
        else:
            assert c is not None and not math.isnan(c)

    @given(_vec)
    @settings(max_examples=100, deadline=None)
    def test_null_vector_scores_zero(self, b):
        from pg_vectorize_spark.operators.dedup import (
            _pair_cosine_spark_semantics,
        )

        assert _pair_cosine_spark_semantics(None, b) == 0.0
        assert _pair_cosine_spark_semantics(b, None) == 0.0

    @given(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        st.floats(allow_nan=False, allow_infinity=True, width=64),
    )
    @settings(max_examples=200, deadline=None)
    def test_spark_ge_nan_always_passes(self, v, thr):
        from pg_vectorize_spark.operators.dedup import _spark_ge

        if math.isnan(v):
            assert _spark_ge(v, thr)
        else:
            assert _spark_ge(v, thr) == (v >= thr)


class TestListMatrixProperties:
    """_list_matrix: clean uniform pyarrow list arrays round-trip to the
    exact float64 matrix; any null row, null element, or ragged batch
    returns None (the exact per-row fallback path takes over)."""

    @given(
        st.integers(1, 8),
        st.lists(
            st.lists(
                st.floats(allow_nan=True, allow_infinity=False, width=64),
                min_size=3,
                max_size=3,
            ),
            min_size=1,
            max_size=10,
        ),
    )
    @settings(max_examples=60, deadline=None)
    def test_clean_uniform_roundtrip(self, _seed, rows):
        import numpy as np
        import pyarrow as pa

        from pg_vectorize_spark.operators.dedup import _list_matrix

        arr = pa.array(rows, type=pa.list_(pa.float64()))
        m = _list_matrix(arr)
        assert m is not None and m.shape == (len(rows), 3)
        for i, row in enumerate(rows):
            assert all(
                (math.isnan(x) and math.isnan(y)) or x == y
                for x, y in zip(row, [float(v) for v in m[i]])
            )

    @given(
        st.lists(
            st.one_of(
                st.none(),
                st.lists(st.floats(allow_nan=False), min_size=0, max_size=4),
            ),
            min_size=1,
            max_size=8,
        )
    )
    @settings(max_examples=80, deadline=None)
    def test_degenerate_returns_none(self, rows):
        import pyarrow as pa

        from pg_vectorize_spark.operators.dedup import _list_matrix

        lens = {len(r) for r in rows if r is not None}
        degenerate = (
            any(r is None for r in rows)
            or len(lens) != 1
            or lens == {0}
        )
        arr = pa.array(rows, type=pa.list_(pa.float64()))
        m = _list_matrix(arr)
        if degenerate:
            assert m is None
        else:
            assert m is not None and m.shape[0] == len(rows)

    def test_sliced_array_offsets(self):
        # .offsets on a slice are parent-relative; the reconstruction
        # must honor them (regression for the vals[offs[0]:offs[-1]] form)
        import pyarrow as pa

        from pg_vectorize_spark.operators.dedup import _list_matrix

        arr = pa.array(
            [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]],
            type=pa.list_(pa.float64()),
        )
        m = _list_matrix(arr.slice(1, 2))
        assert m is not None and m.tolist() == [[3.0, 4.0], [5.0, 6.0]]


class TestUnimaxProperties:
    @given(
        st.lists(
            st.tuples(
                st.text(
                    alphabet=st.characters(
                        min_codepoint=97, max_codepoint=122
                    ),
                    min_size=1,
                    max_size=4,
                ),
                st.integers(min_value=1, max_value=10**9),
            ),
            min_size=0,
            max_size=20,
            unique_by=lambda t: t[0],
        ),
        st.integers(min_value=0, max_value=10**12),
        st.floats(min_value=0.1, max_value=16.0),
    )
    @settings(max_examples=300)
    def test_waterfill_invariants(self, langs, budget, cap):
        from pg_vectorize_spark.operators.curate import unimax_budgets

        eps = unimax_budgets(langs, budget, cap)
        sizes = dict(langs)
        # every epoch respects the cap (fp tolerance)
        assert all(e <= cap * (1 + 1e-9) for e in eps.values())
        total = sum(eps[l] * sizes[l] for l in eps)
        ceiling = min(budget, cap * sum(sizes.values()))
        # budgets sum to min(budget, all-caps ceiling), never exceed
        assert total <= ceiling * (1 + 1e-9) + 1e-6
        if langs:
            assert total == __import__("pytest").approx(ceiling, rel=1e-9)
        # monotone fairness: a smaller corpus never gets FEWER epochs
        by_size = sorted(eps, key=lambda l: (sizes[l], l))
        for a, b in zip(by_size, by_size[1:]):
            assert eps[a] >= eps[b] - 1e-9


class TestNtileClosedForm:
    @given(
        st.integers(min_value=1, max_value=500),
        st.integers(min_value=1, max_value=12),
    )
    @settings(max_examples=300)
    def test_matches_sql_ntile_definition(self, n, k):
        # the closed form used in perplexity_buckets, pure python replay
        q, r = divmod(n, k)
        tiles = []
        for rank in range(1, n + 1):
            if rank <= r * (q + 1):
                tiles.append((rank + q) // (q + 1))
            else:
                tiles.append(r + (rank - r * (q + 1) + q - 1) // q)
        # SQL NTILE: first r tiles have q+1 rows, rest q rows, in order
        want = []
        for t in range(1, k + 1):
            want += [t] * ((q + 1) if t <= r else q)
        want = want[:n]
        assert tiles == want


@pytest.mark.slow
class TestSpanRemovalProperties:
    @given(
        word_docs=st.lists(
            st.lists(
                st.integers(min_value=0, max_value=6),  # tiny vocab
                min_size=0,
                max_size=18,
            ),
            min_size=1,
            max_size=6,
        ),
        k=st.integers(min_value=1, max_value=4),
    )
    @settings(max_examples=25, deadline=None)
    def test_survivor_words_are_subsequence_and_audit_consistent(
        self, spark, word_docs, k
    ):
        """For any corpus: the cleaned word stream is a subsequence of
        the original; the first bearer of every duplicated window is
        untouched at that window; removed counts match was_rewritten."""
        from pg_vectorize_spark.operators.dedup import remove_dup_spans

        rows = [
            (i, " ".join(f"w{w}" for w in ws))
            for i, ws in enumerate(word_docs)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r
            for r in remove_dup_spans(
                df, "text", "doc_id", k=k, hash_ngrams=False
            ).collect()
        }
        for i, ws in enumerate(word_docs):
            orig = [f"w{w}" for w in ws]
            clean = out[i]["clean_text"].split() if out[i]["clean_text"] else []
            # subsequence check
            it = iter(orig)
            assert all(any(c == o for o in it) for c in clean)
            assert out[i]["n_words"] == len(orig)
            assert out[i]["n_removed_words"] == len(orig) - len(clean)
            if not out[i]["was_rewritten"]:
                assert out[i]["n_removed_words"] == 0


class TestSqlTextRenderer:
    """sqltext renders Python values as Spark SQL text: every rendering
    parses back to exactly the value. Each example set is ONE select, so
    the class costs a few Spark jobs."""

    @settings(max_examples=6, deadline=None)
    @given(st.lists(st.text(max_size=12), min_size=1, max_size=30))
    @example(["${spark.app.name}", "${x}", "$\\{y}", "$${z}", "it's",
              "back\\slash\\", "\\'", "nul\x00", "nl\ncr\r\ttab",
              "\x7f\x1b", "\U0001F600 astral", "", "'", "\\"])
    def test_strings_round_trip(self, spark, strings):
        from pg_vectorize_spark import sqltext as sq

        row = spark.range(1).selectExpr(
            *[f"{sq.string(v)} AS c{i}" for i, v in enumerate(strings)]
        ).collect()[0]
        assert list(row) == strings

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="ab `'\".-_$1{}\t\u4e2d\xe9\U0001F600",
                    min_size=1, max_size=8).filter(lambda n: "${" not in n),
            min_size=1,
            max_size=12,
            unique=True,
        )
    )
    @example(["a`b", "1abc", "with space", "``", "a.b", "` `"])
    def test_identifiers_round_trip(self, spark, names):
        from pg_vectorize_spark import sqltext as sq

        df = spark.range(1).selectExpr(
            *[f"{i} AS {sq.ident(n)}" for i, n in enumerate(names)]
        )
        assert df.columns == names
        row = df.selectExpr(*[sq.ident(n) for n in names]).collect()[0]
        assert list(row) == list(range(len(names)))
        with pytest.raises(ValueError):
            sq.ident("a${b}")

    @settings(max_examples=6, deadline=None)
    @given(st.lists(st.floats(width=64), min_size=1, max_size=40))
    @example([0.0, -0.0, 5e-324, -5e-324, 2.225073858507201e-308,
              1.7976931348623157e308, float("inf"), float("-inf"),
              float("nan"), 0.1, 1e-7, 1e22])
    def test_doubles_round_trip(self, spark, vals):
        from pg_vectorize_spark import sqltext as sq

        row = spark.range(1).selectExpr(
            f"{sq.vector(vals)} AS v",
            *[f"{sq.double(x)} AS c{i}" for i, x in enumerate(vals)],
        ).collect()[0]
        want = [x.hex() for x in vals]
        assert [float(x).hex() for x in row["v"]] == want
        assert [float(x).hex() for x in list(row)[1:]] == want

    def test_in_lists(self, spark):
        from pg_vectorize_spark import sqltext as sq

        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(["a", "it's", "${x}", "\\"])],
            "id long, s string",
        )
        assert sq.in_list("id", []) == "false"
        assert df.where(sq.in_list("id", [])).count() == 0
        assert df.where(sq.in_list("s", [])).count() == 0
        assert sorted(
            r["id"] for r in df.where(sq.in_list("id", [1, 3, 99])).collect()
        ) == [1, 3]
        assert sorted(
            r["id"]
            for r in df.where(sq.in_list("s", ["it's", "${x}", "\\"])).collect()
        ) == [1, 2, 3]
