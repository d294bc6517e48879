"""Search operator behavior tests on the products fixture (FIXTURES.md §1):
semantic ordering, filter placement + counts, hybrid RRF math goldens,
filter-order invariance — mirroring the reference's server test assertions
(server/tests/tests.rs:105-380, README.md:75-90)."""

from __future__ import annotations

import re
import math

from pyspark.sql import functions as F

from pg_vectorize_spark.filters import parse_filters
from pg_vectorize_spark.functions.vector import l2_normalize
from pg_vectorize_spark.operators.embed import embed_bulk_exploded
from pg_vectorize_spark.operators.search import (
    full_text_search,
    hybrid_search,
    semantic_search,
)
from pg_vectorize_spark.providers.local import LocalHashEmbedder

DIM = 64
EMB = LocalHashEmbedder(dim=DIM)


def _emb_df(products_df):
    src = products_df.withColumn(
        "content",
        F.concat_ws(
            " ",
            F.coalesce(F.col("product_name"), F.lit("")),
            F.coalesce(F.col("description"), F.lit("")),
        ),
    )
    return embed_bulk_exploded(src, "content", "product_id", DIM)


def test_semantic_topk_returns_relevant(products_df):
    emb = _emb_df(products_df)
    qv = EMB.embed_one("mobile phone charger devices")
    out = semantic_search(
        products_df, emb, "product_id", qv, num_results=3, pre_normalized=True
    ).collect()
    names = [r["product_name"] for r in out]
    assert len(out) == 3
    assert "Phone Charger" in names
    # scores descending
    scores = [r["similarity_score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_semantic_search_filters_post_ranking(products_df):
    emb = _emb_df(products_df)
    qv = EMB.embed_one("anything at all")
    out = semantic_search(
        products_df,
        emb,
        "product_id",
        qv,
        num_results=40,
        filters=parse_filters({"product_category": "eq.electronics"}),
        pre_normalized=True,
    ).collect()
    assert len(out) == 5  # electronics rows in the fixture
    assert all(r["product_category"] == "electronics" for r in out)


def test_filter_counts_match_reference_shapes(products_df):
    emb = _emb_df(products_df)
    qv = EMB.embed_one("q")

    def count_with(filters):
        return len(
            semantic_search(
                products_df,
                emb,
                "product_id",
                qv,
                num_results=100,
                filters=parse_filters(filters),
                pre_normalized=True,
            ).collect()
        )

    # price=eq.25 -> {Wireless Mouse, Alarm Clock}
    assert count_with({"price": "eq.25"}) == 2
    assert count_with({"price": "gt.20"}) == 6
    assert count_with({"price": "lte.25"}) == 11
    assert count_with({"price": "gte.24.5"}) == 6


def test_filter_order_invariance(products_df):
    emb = _emb_df(products_df)
    qv = EMB.embed_one("gadget")
    a = semantic_search(
        products_df, emb, "product_id", qv, num_results=40,
        filters=parse_filters(
            {"product_category": "eq.electronics", "price": "lte.25"}
        ),
        pre_normalized=True,
    ).collect()
    b = semantic_search(
        products_df, emb, "product_id", qv, num_results=40,
        filters=parse_filters(
            {"price": "lte.25", "product_category": "eq.electronics"}
        ),
        pre_normalized=True,
    ).collect()
    assert [r["product_id"] for r in a] == [r["product_id"] for r in b]


def test_where_sql(products_df):
    emb = _emb_df(products_df)
    qv = EMB.embed_one("kitchen tools")
    out = semantic_search(
        products_df, emb, "product_id", qv, num_results=40,
        where_sql="price > 5 AND product_category = 'kitchen'",
        pre_normalized=True,
    ).collect()
    assert {r["product_name"] for r in out} == {
        "Water Bottle", "Coffee Mug", "Pizza Cutter"
    }


def test_return_columns_projection(products_df):
    emb = _emb_df(products_df)
    qv = EMB.embed_one("pencil")
    out = semantic_search(
        products_df, emb, "product_id", qv, num_results=2,
        return_columns=["product_name"], pre_normalized=True,
    )
    assert out.columns == ["product_name", "similarity_score"]


def test_fts_search(products_df):
    out = full_text_search(
        products_df,
        "product_id",
        "bluetooth speaker",
        text_cols=["product_name", "description"],
        num_results=5,
    ).collect()
    assert out[0]["product_name"] == "Bluetooth Speaker"
    assert all(r["fts_score"] > 0 for r in out)


def test_fts_or_semantics(products_df):
    # plainto_tsquery & -> | rewrite: ANY term matches (OR semantics)
    out = full_text_search(
        products_df,
        "product_id",
        "pizza airplane",
        text_cols=["product_name", "description"],
        num_results=10,
    ).collect()
    names = {r["product_name"] for r in out}
    assert "Pizza Cutter" in names and "Airplane Model" in names


def test_hybrid_rrf_golden_math(products_df):
    """A doc ranked #1 in both branches gets rrf = 2/(60+1) (README.md:75-90)."""
    emb = _emb_df(products_df)
    qv = EMB.embed_one("Portable bluetooth speaker for mobile devices")
    out = hybrid_search(
        products_df,
        emb,
        "product_id",
        qv,
        "portable bluetooth speaker",
        text_cols=["product_name", "description"],
        num_results=5,
        pre_normalized=True,
    ).collect()
    top = out[0]
    assert top["product_name"] == "Bluetooth Speaker"
    assert top["semantic_rank"] == 1 and top["fts_rank"] == 1
    assert math.isclose(top["rrf_score"], 2.0 / 61.0, rel_tol=1e-12)


def test_hybrid_missing_rank_contributes_zero(products_df):
    emb = _emb_df(products_df)
    # query that matches "pizza" lexically; semantic branch still ranks all
    qv = EMB.embed_one("zzzz qqqq xxxx")
    out = hybrid_search(
        products_df, emb, "product_id", qv, "pizza",
        text_cols=["product_name", "description"], num_results=14,
        window_size=3,
    ).collect()
    by_name = {r["product_name"]: r for r in out}
    pz = by_name["Pizza Cutter"]
    if pz["semantic_rank"] is None:
        expected = 1.0 / (60 + pz["fts_rank"])
        assert math.isclose(pz["rrf_score"], expected, rel_tol=1e-12)


def test_hybrid_weights(products_df):
    emb = _emb_df(products_df)
    qv = EMB.embed_one("portable bluetooth speaker")
    out = hybrid_search(
        products_df, emb, "product_id", qv, "portable bluetooth speaker",
        text_cols=["product_name", "description"], num_results=3,
        semantic_weight=0.0, fts_weight=1.0,
    ).collect()
    # with semantic weight 0, rrf must equal fts-only contribution
    for r in out:
        if r["fts_rank"] is not None:
            assert math.isclose(
                r["rrf_score"], 1.0 / (60 + r["fts_rank"]), rel_tol=1e-12
            )


def test_hybrid_cover_density_reorders_fts_branch(spark):
    """With identical term overlap, rank='cover_density' must rank the
    adjacent-phrase doc above the scattered-terms doc in the FTS branch
    (and hence in the fused output when semantic is neutralized)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma filler filler filler filler filler"),
            (2, "alpha filler filler filler beta filler filler gamma"),
        ],
        "doc_id long, body string",
    )
    emb = embed_bulk_exploded(docs, "body", "doc_id", DIM)
    qv = EMB.embed_one("unrelated query text")
    out = hybrid_search(
        docs, emb, "doc_id", qv, "alpha beta gamma",
        text_cols=["body"], num_results=2,
        semantic_weight=0.0, fts_weight=1.0, rank="cover_density",
    ).collect()
    assert [r["doc_id"] for r in out] == [1, 2]
    assert out[0]["fts_rank"] == 1 and out[1]["fts_rank"] == 2


def test_query_scoped_tokens_equivalent_for_matching(spark):
    """query_scoped_tokens_expr must agree with the full analyzer on
    everything a search consumes: intersection with the query terms, for
    tricky vocab (inflections, stopwords, near-terms, short words)."""
    from pg_vectorize_spark.functions.text import (
        analyze_query,
        query_scoped_tokens_expr,
        tokens_expr,
    )

    docs = spark.createDataFrame(
        [
            (1, "running the merged windows batched"),
            (2, "runs merge window batch"),
            (3, "rum ran merging windowing"),  # near-terms and shorter words
            (4, "the a an of to"),  # stopwords only
            (5, ""),
            (6, None),
            (7, "runnings windowss mergeding"),  # over-inflected
        ],
        "id long, txt string",
    )
    for query in ("running merged window batch", "run", "zzz"):
        terms = analyze_query(query)
        out = docs.select(
            "id",
            F.array_sort(
                F.array_intersect(
                    tokens_expr(F.col("txt")), F.array(*[F.lit(t) for t in terms])
                )
            ).alias("full"),
            F.array_sort(
                F.array_intersect(
                    query_scoped_tokens_expr(F.col("txt"), terms),
                    F.array(*[F.lit(t) for t in terms]),
                )
            ).alias("scoped"),
        ).collect()
        for r in out:
            assert r["full"] == r["scoped"], (query, r)


def test_bm25_rank_prefers_tf_and_shorter_docs(spark):
    """BM25 semantics: higher term frequency wins; between equal tf, the
    shorter document wins (length normalization); docs without any term
    are excluded; rarer terms contribute more than common ones."""
    from pg_vectorize_spark.operators.search import full_text_search

    filler = " ".join(["alpha beta gamma delta"] * 5)
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark " + filler),  # tf=3, long
            (2, "spark " + filler),  # tf=1, long
            (3, "spark"),  # tf=1, short
            (4, filler),  # no match
            (5, "spark spark"),  # tf=2, short
        ],
        "id long, txt string",
    )
    out = full_text_search(
        docs, "id", "spark", text_cols=["txt"], rank="bm25"
    ).collect()
    ids = [r["id"] for r in out]
    assert 4 not in ids
    scores = {r["id"]: r["bm25_score"] for r in out}
    assert scores[3] > scores[2]  # same tf, shorter doc scores higher
    assert scores[5] > scores[3]  # higher tf, same-ish length
    assert scores[1] > scores[2]  # tf 3 beats tf 1 at same length
    assert all(v > 0 for v in scores.values())


def test_bm25_stems_query_and_documents(spark):
    """'running' (query) must match 'runs'/'run' (docs) through the default
    english analyzer, with tf counted over the stemmed multiset."""
    from pg_vectorize_spark.operators.search import bm25_scores

    docs = spark.createDataFrame(
        [(1, "run runs running"), (2, "walk walks"), (3, None)],
        "id long, txt string",
    )
    out = bm25_scores(docs, "id", "running", ["txt"]).collect()
    assert [r["id"] for r in out] == [1]
    # tf=3: all three inflections stem to the same token
    from pg_vectorize_spark.functions.text import light_stem

    assert light_stem("running") == light_stem("runs") == light_stem("run")


def test_bm25_scoring_pass_prunable_but_stats_global(spark):
    """candidates= prunes the scoring side only: scores must be identical
    to the unpruned run for the surviving keys (df/avgdl stay global)."""
    from pg_vectorize_spark.operators.search import bm25_scores

    docs = spark.createDataFrame(
        [(i, ("spark " * (i % 3 + 1)) + "filler text here") for i in range(20)],
        "id long, txt string",
    )
    full = {
        r["id"]: r["bm25_score"]
        for r in bm25_scores(docs, "id", "spark", ["txt"]).collect()
    }
    cand = docs.select("id").filter(F.col("id") < 5)
    pruned = {
        r["id"]: r["bm25_score"]
        for r in bm25_scores(
            docs, "id", "spark", ["txt"], candidates=cand
        ).collect()
    }
    assert set(pruned) == {i for i in range(5)}
    for k, v in pruned.items():
        assert v == full[k], (k, v, full[k])


def test_stemming_default_matches_inflected_forms(spark):
    """to_tsvector('english') parity: 'running' must match 'run' out of the
    box (default analyzer), in both directions."""
    docs = spark.createDataFrame(
        [
            (1, "I was running the spark job yesterday"),
            (2, "please run the job again"),
            (3, "completely unrelated content here"),
        ],
        "doc_id long, body string",
    )
    hits_run = full_text_search(
        docs, "doc_id", "run", text_cols=["body"], num_results=10
    ).collect()
    assert {r["doc_id"] for r in hits_run} == {1, 2}
    hits_running = full_text_search(
        docs, "doc_id", "running", text_cols=["body"], num_results=10
    ).collect()
    assert {r["doc_id"] for r in hits_running} == {1, 2}
    # 'simple' analyzer keeps the literal-token behavior
    hits_simple = full_text_search(
        docs, "doc_id", "running", text_cols=["body"], num_results=10,
        analyzer="simple",
    ).collect()
    assert {r["doc_id"] for r in hits_simple} == {1}


def test_light_stemmer_three_engine_parity(spark):
    """The Spark expression chain and the DuckDB SQL chain must reproduce
    the Python light_stem outputs token for token."""
    import duckdb

    from pg_vectorize_spark.functions.text import light_stem, stem_token_expr
    from pg_vectorize_spark.oracle import sql_stem

    words = [
        "running", "merged", "windows", "batched", "dresses", "ponies",
        "classes", "fitted", "seeing", "king", "data", "spark", "queries",
        "analyzes", "stopped", "hoping", "files", "uses", "used", "using",
    ]
    expected = [light_stem(w) for w in words]
    wdf = spark.createDataFrame([(w,) for w in words], "w string")
    spark_out = [
        r["s"] for r in wdf.select(stem_token_expr(F.col("w")).alias("s")).collect()
    ]
    assert spark_out == expected
    con = duckdb.connect()
    duck_out = [
        con.execute(f"SELECT {sql_stem(repr(w))} AS s").fetchone()[0]
        for w in words
    ]
    assert duck_out == expected


def test_cover_density_ranks_proximity(spark):
    """Same term overlap, different proximity: the doc where the query terms
    are adjacent must out-rank the doc where they are scattered."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma filler filler filler filler filler"),
            (2, "alpha filler filler filler beta filler filler gamma"),
            (3, "alpha only here nothing else matches more terms"),
        ],
        "doc_id long, body string",
    )
    out = full_text_search(
        docs, "doc_id", "alpha beta gamma", text_cols=["body"],
        num_results=10, rank="cover_density",
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # identical overlap for 1 and 2...
    assert by_id[1]["fts_score"] == by_id[2]["fts_score"]
    # ...but adjacency wins on cover density
    assert by_id[1]["cd_score"] > by_id[2]["cd_score"]
    assert [r["doc_id"] for r in out][0] == 1
    # single-term doc has no pairs -> zero bonus
    assert by_id[3]["cd_score"] == 0.0


def test_cover_density_fused_inline_parity(spark):
    """The fused inline cover_density path (r13 optimization round: one
    corpus tokenize instead of two) must reproduce the pre-change shape
    bit-for-bit: overlap scored via query-scoped tokens, cd via
    cover_density_scores, joined and ranked — on an adversarial fixture
    (NULL/empty text, stop-word-only doc, repeated terms), for both
    expression analyzers, a single-term query (no pairs), and with a
    typed filter applied."""
    from pg_vectorize_spark.filters import apply_filters
    from pg_vectorize_spark.functions.text import (
        fts_match_expr,
        fts_score_expr,
        query_scoped_tokens_expr,
    )
    from pg_vectorize_spark.operators.search import (
        _analyze,
        cover_density_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma filler filler", 5),
            (2, "alpha filler filler beta filler gamma", 10),
            (3, "alpha alpha beta alpha beta", 15),
            (4, "the and of is", 20),  # stop words only
            (5, "", 25),
            (6, None, 30),
            (7, "gamma beta alpha", 35),
        ],
        "doc_id long, body string, n int",
    )

    def old_shape(query, analyzer, filters=None):
        terms = _analyze(query, analyzer)
        concat = F.coalesce(F.col("body"), F.lit(""))
        scored = docs.withColumn(
            "search_tokens",
            query_scoped_tokens_expr(
                concat, terms, stem=(analyzer == "english")
            ),
        )
        scored = scored.filter(
            fts_match_expr(F.col("search_tokens"), terms)
        ).withColumn(
            "fts_score", fts_score_expr(F.col("search_tokens"), terms)
        )
        if filters:
            scored = apply_filters(scored, filters)
        cd = cover_density_scores(
            docs, "doc_id", query, ["body"], analyzer
        )
        scored = scored.join(cd, "doc_id", "left").withColumn(
            "cd_score", F.coalesce(F.col("cd_score"), F.lit(0.0))
        )
        scored = scored.withColumn(
            "rank_cd", F.col("fts_score") + F.col("cd_score")
        )
        return (
            scored.orderBy(F.desc("rank_cd"), F.asc("doc_id"))
            .select("doc_id", "n", "fts_score", "cd_score", "rank_cd")
            .limit(10)
        )

    cases = [
        ("alpha beta gamma", "english", None),
        ("alpha beta gamma", "simple", None),
        ("alpha", "english", None),  # single term: no pairs, cd == 0
        ("alpha beta", "english", parse_filters({"n": "gte.10"})),
    ]
    for query, analyzer, filters in cases:
        got = full_text_search(
            docs,
            "doc_id",
            query,
            text_cols=["body"],
            num_results=10,
            return_columns=["doc_id", "n"],
            analyzer=analyzer,
            rank="cover_density",
            filters=filters,
        ).collect()
        want = old_shape(query, analyzer, filters).collect()
        got_rows = [
            tuple(
                v.hex() if isinstance(v, float) else v
                for v in r.asDict().values()
            )
            for r in got
        ]
        want_rows = [
            tuple(
                v.hex() if isinstance(v, float) else v
                for v in r.asDict().values()
            )
            for r in want
        ]
        assert got_rows == want_rows, (query, analyzer, filters)


def test_hybrid_bm25_rank_reorders_fts_branch(spark):
    """rank='bm25' ranks the hybrid FTS branch by BM25 (tf + length norm)
    instead of plain overlap: a doc repeating the term beats a doc with a
    single mention that ties it on overlap."""
    from pg_vectorize_spark.operators.search import hybrid_search

    docs = spark.createDataFrame(
        [
            (1, "spark mentioned once here with many extra padding words"),
            (2, "spark spark spark spark tight doc"),
            (3, "nothing relevant at all"),
        ],
        "id long, txt string",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.6, 0.8])],
        "id long, embeddings array<double>",
    )
    out = hybrid_search(
        docs,
        emb,
        "id",
        [1.0, 0.0],
        "spark",
        text_cols=["txt"],
        num_results=3,
        pre_normalized=True,
        rank="bm25",
    ).collect()
    ranks = {r["id"]: r["fts_rank"] for r in out if r["fts_rank"] is not None}
    assert ranks[2] == 1 and ranks[1] == 2  # bm25: tf wins; overlap would tie
    assert 3 not in ranks


def test_rest_rank_param_roundtrip():
    """REST: rank= is a recognized search arg (not a filter) and invalid
    values 400."""
    from pg_vectorize_spark.rest import _search_args

    args, filters = _search_args(
        {"job_name": "j", "query": "q", "rank": "bm25", "lang": "eq.en"}
    )
    assert args["rank"] == "bm25"
    assert filters == {"lang": "eq.en"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _search_args({"job_name": "j", "query": "q", "rank": "nope"})


class TestMmrRerank:
    """MMR diversification (Carbonell & Goldstein 1998): greedy
    relevance-vs-redundancy trade over a bounded candidate pool."""

    def _pool(self, spark):
        # two tight clusters + one outlier; relevance favors cluster A
        import math

        def unit(x, y):
            n = math.sqrt(x * x + y * y)
            return [x / n, y / n, 0.0]

        rows = [
            (1, 0.99, unit(1.0, 0.00)),   # cluster A (near-dups)
            (2, 0.98, unit(1.0, 0.01)),
            (3, 0.97, unit(1.0, 0.02)),
            (4, 0.80, unit(0.0, 1.0)),    # cluster B
            (5, 0.60, unit(-1.0, 0.3)),   # outlier
        ]
        return spark.createDataFrame(
            rows, "id long, similarity_score double, embeddings array<double>"
        )

    def test_lambda_one_is_pure_relevance(self, spark):
        from pg_vectorize_spark.operators.search import mmr_rerank

        out = mmr_rerank(
            self._pool(spark), "id", "embeddings", "similarity_score",
            k=3, lambda_=1.0,
        ).collect()
        assert [r["id"] for r in out] == [1, 2, 3]
        assert [r["mmr_rank"] for r in out] == [1, 2, 3]

    def test_diversity_breaks_up_near_dup_cluster(self, spark):
        from pg_vectorize_spark.operators.search import mmr_rerank

        out = mmr_rerank(
            self._pool(spark), "id", "embeddings", "similarity_score",
            k=3, lambda_=0.5,
        ).collect()
        ids = [r["id"] for r in out]
        assert ids[0] == 1  # best relevance always first
        assert 4 in ids  # cluster B surfaces
        assert not {2, 3} <= set(ids)  # the near-dups don't BOTH survive

    def test_deterministic_tie_break(self, spark):
        from pg_vectorize_spark.operators.search import mmr_rerank

        rows = [
            (10, 0.9, [1.0, 0.0]),
            (2, 0.9, [1.0, 0.0]),  # identical row, smaller key
        ]
        df = spark.createDataFrame(
            rows, "id long, similarity_score double, embeddings array<double>"
        )
        out = mmr_rerank(
            df, "id", "embeddings", "similarity_score", k=2, lambda_=0.7
        ).collect()
        # ascending pkey in the key's NATIVE (numeric) order, matching
        # the engine's F.asc convention: 2 before 10
        assert [r["id"] for r in out][0] == 2
        # stable across repartition
        out2 = mmr_rerank(
            df.repartition(4), "id", "embeddings", "similarity_score",
            k=2, lambda_=0.7,
        ).collect()
        assert [r["id"] for r in out] == [r["id"] for r in out2]

    def test_k_exceeds_pool_and_validation(self, spark):
        import pytest as _pytest

        from pg_vectorize_spark.operators.search import mmr_rerank

        out = mmr_rerank(
            self._pool(spark), "id", "embeddings", "similarity_score",
            k=50, lambda_=0.7,
        ).collect()
        assert len(out) == 5
        with _pytest.raises(ValueError):
            mmr_rerank(
                self._pool(spark), "id", "embeddings",
                "similarity_score", k=0,
            )
        with _pytest.raises(ValueError):
            mmr_rerank(
                self._pool(spark), "id", "embeddings",
                "similarity_score", k=1, lambda_=1.5,
            )

    def test_engine_diversified_search(self, spark, tmp_path):
        from pg_vectorize_spark.engine import VectorizeSession

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select(
            F.col("doc_id").alias("id"), F.col("text").alias("content")
        ).filter(F.col("id") < 120)
        src = str(tmp_path / "mmr_src")
        docs.write.parquet(src)
        sess = VectorizeSession(spark, workspace=str(tmp_path / "ws_mmr"))
        sess.create_job("mjob", src, columns=["content"], primary_key="id")
        sess.scan_job("mjob")
        plain = sess.search("mjob", "spark merge data", num_results=5)
        div = sess.search(
            "mjob", "spark merge data", num_results=5, diversify=0.5
        )
        assert len(div) == 5
        assert [r["mmr_rank"] for r in div] == [1, 2, 3, 4, 5]
        # the top hit is relevance-first in both
        assert div[0]["id"] == plain[0]["id"]
        # lambda=1 over the same pool returns the plain top-5 ids in order
        div1 = sess.search(
            "mjob", "spark merge data", num_results=5, diversify=1.0
        )
        assert [r["id"] for r in div1] == [r["id"] for r in plain]
        # return_columns WITHOUT the pkey: the key rides the pool
        # internally and is dropped from the final rows
        div2 = sess.search(
            "mjob", "spark merge data", num_results=4,
            return_columns=["content"], diversify=0.5,
        )
        assert len(div2) == 4
        assert all("content" in r and "id" not in r for r in div2)
        assert [r["mmr_rank"] for r in div2] == [1, 2, 3, 4]

    def test_engine_hybrid_diversified(self, spark, tmp_path):
        from pg_vectorize_spark.engine import VectorizeSession

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select(
            F.col("doc_id").alias("id"), F.col("text").alias("content")
        ).filter(F.col("id") < 120)
        src = str(tmp_path / "hmmr_src")
        docs.write.parquet(src)
        sess = VectorizeSession(spark, workspace=str(tmp_path / "ws_hmmr"))
        sess.create_job("hjob", src, columns=["content"], primary_key="id")
        sess.scan_job("hjob")
        plain = sess.hybrid_search("hjob", "spark merge data", num_results=5)
        div = sess.hybrid_search(
            "hjob", "spark merge data", num_results=5, diversify=0.6
        )
        assert len(div) == 5
        assert [r["mmr_rank"] for r in div] == [1, 2, 3, 4, 5]
        assert div[0]["id"] == plain[0]["id"]  # top fused hit leads
        # pkey-less projection works on the hybrid path too
        div2 = sess.hybrid_search(
            "hjob", "spark merge data", num_results=3,
            return_columns=["content"], diversify=0.6,
        )
        assert len(div2) == 3
        assert all("content" in r and "id" not in r for r in div2)


def _fold_score(emb, q, pre_normalized):
    """Independent reference for ``_scored_semantic``: pure-Python
    left-to-right float64 folds (the folds of ann.probe_cells_local)
    under Spark's NULL rules — ``zip_with`` pads the shorter side with
    NULL, a NULL poisons the dot fold, a NULL or non-positive
    denominator scores 0.0, and NaN compares greater than any number
    (so a NaN denominator passes the ``> 0`` guard)."""
    dot = None
    if emb is not None and len(emb) == len(q):
        dot = 0.0
        for x, y in zip(emb, q):
            dot = dot + x * y
    if pre_normalized:
        return dot
    if emb is None:
        return 0.0
    ss = 0.0
    for x in emb:
        ss = ss + x * x
    qq = 0.0
    for y in q:
        qq = qq + y * y
    denom = math.sqrt(ss) * math.sqrt(qq)
    if not (denom > 0 or math.isnan(denom)):
        return 0.0
    return None if dot is None else dot / denom


def _hex(x):
    return None if x is None else float(x).hex()


class TestScoredSemanticSqlParity:
    """The one-parse score expression must be float-bit-equal to the
    independent pure-Python fold — adversarial doubles, non-finite
    components, the empty vector and awkward column names included."""

    VECS = [
        [0.5, -0.25, 3.0],
        [1e-12, 1e12, -1e-12],
        [5e-324, 1.7976931348623157e308 / 1e10, -0.1],
        [0.1, 0.2, 0.3],
        [-0.0, 0.0, 1.0],
    ]
    ROWS = [
        (1, [1.0, 2.0, 3.0]),
        (2, [0.0, 0.0, 0.0]),  # zero norm -> score 0.0
        (3, [-1e-300, 1e300, 0.5]),
        (4, [0.1, 0.2, 0.3]),
        (5, None),
        (6, [float("inf"), 1.0, -1.0]),
        (7, [1.0, 2.0]),  # length mismatch -> NULL dot
    ]

    def _check(self, spark, qv, pkey="id", emb_col="embeddings"):
        import pg_vectorize_spark.operators.search as S
        from pg_vectorize_spark import sqltext as sq

        df = spark.createDataFrame(
            self.ROWS,
            f"{sq.ident(pkey)} long, {sq.ident(emb_col)} array<double>",
        )
        for pre in (False, True):
            out = S._scored_semantic(df, pkey, qv, emb_col, pre)
            assert out.columns == [pkey, "similarity_score"]
            got = {
                r[pkey]: _hex(r["similarity_score"]) for r in out.collect()
            }
            want = {
                k: _hex(_fold_score(e, qv, pre)) for k, e in self.ROWS
            }
            assert got == want, (qv, pre)

    def test_sql_form_bit_equal_to_column_form(self, spark):
        # name kept from the Column-twin era; the reference is now the
        # pure-Python fold
        for qv in self.VECS:
            self._check(spark, qv)

    def test_empty_and_nonfinite_vectors_take_fallback(self, spark):
        # formerly routed to the Column twin; now the same single parse
        big = 1.7976931348623157e308
        for qv in (
            [],
            [float("nan"), 1.0, 2.0],
            [float("inf"), 1.0, 2.0],
            [float("-inf"), 0.0, 1.0],
            [big, big, 1.0],  # finite, but the squared norm overflows
        ):
            self._check(spark, qv)

    def test_awkward_column_names(self, spark):
        qv = [0.5, -0.25, 3.0]
        self._check(spark, qv, pkey="1abc", emb_col="emb vec")
        self._check(spark, qv, pkey="a`b", emb_col="1e`x")
        # and through the join-back / ordering / projection
        src = spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "z")], "`a``b` long, body string"
        )
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
            "`a``b` long, embeddings array<double>",
        )
        rows = semantic_search(src, emb, "a`b", [1.0, 0.0]).collect()
        assert [r["a`b"] for r in rows] == [1, 3, 2]
        assert rows[0].asDict().keys() == {"a`b", "body", "similarity_score"}


def _fused_reference(sem, fts, w_s, w_f, k):
    """Independent reference for the RRF fusion: id -> (rrf, sem_rank,
    fts_rank, similarity) with the coalesce-to-0.0 rule of
    core/src/query.rs:744-747, in Python float64."""
    out = {}
    for key in {r[0] for r in sem} | {r[0] for r in fts}:
        sr = next((r for r in sem if r[0] == key), None)
        fr = next((r for r in fts if r[0] == key), None)
        s_rank = sr[2] if sr else None
        f_rank = fr[1] if fr else None
        rrf = (0.0 if s_rank is None else w_s / (k + s_rank)) + (
            0.0 if f_rank is None else w_f / (k + f_rank)
        )
        out[key] = (_hex(rrf), s_rank, f_rank, _hex(sr[1] if sr else None))
    return out


class TestFuseSqlParity:
    """The selectExpr/F.expr fusion must reproduce the independent
    Python reference bit-for-bit, including NULL-rank coalesce,
    non-finite weights, a fractional ``rrf_k`` and awkward key names."""

    SEM = [(1, 0.9, 1), (2, 0.8, 2), (3, 0.7, 3), (7, 0.6, 4)]
    FTS = [(2, 5), (3, 1), (4, 2), (5, 3)]

    def _check(self, spark, w_s, w_f, k, pkey="id"):
        import pg_vectorize_spark.operators.search as S
        from pg_vectorize_spark import sqltext as sq

        qp = sq.ident(pkey)
        src = spark.createDataFrame(
            [(i, f"doc {i}", i % 3) for i in range(1, 9)],
            f"{qp} long, body string, grp int",
        )
        sem = spark.createDataFrame(
            self.SEM, f"{qp} long, similarity_score double, semantic_rank int"
        )
        fts = spark.createDataFrame(self.FTS, f"{qp} long, fts_rank int")
        rows = S._fuse_and_project(
            src, sem, fts, pkey, 10, k, w_s, w_f, None, None, None
        ).collect()
        got = {
            r[pkey]: (
                _hex(r["rrf_score"]),
                r["semantic_rank"],
                r["fts_rank"],
                _hex(r["similarity_score"]),
            )
            for r in rows
        }
        assert got == _fused_reference(self.SEM, self.FTS, w_s, w_f, k)
        return rows

    def test_fusion_bit_equal(self, spark):
        for w_s, w_f, k in [(1.0, 1.0, 60), (0.7, 0.3, 60), (2.5, 0.1, 7)]:
            rows = self._check(spark, w_s, w_f, k)
            # (desc rrf, asc key) order
            keys = [(-r["rrf_score"], r["id"]) for r in rows]
            assert keys == sorted(keys)

    def test_nonfinite_weights_and_fractional_k_take_fallback(self, spark):
        # formerly routed to the Column twin; now the same single parse
        inf, nan = float("inf"), float("nan")
        for w_s, w_f, k in [
            (inf, 1.0, 60), (nan, 1.0, 60), (1.0, -inf, 60),
            (1.0, 1.0, 60.5),
        ]:
            self._check(spark, w_s, w_f, k)
        # fractional k divides by 60.5, not a truncated 60
        rows = self._check(spark, 1.0, 1.0, 60.5)
        r1 = [r for r in rows if r["id"] == 1][0]
        assert r1["rrf_score"] == 1.0 / (60.5 + 1)

    def test_awkward_key_names(self, spark):
        self._check(spark, 0.7, 0.3, 60, pkey="1abc")
        self._check(spark, 0.7, 0.3, 60, pkey="a`b")
