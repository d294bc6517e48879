"""Search operators: semantic top-k, full-text, hybrid RRF fusion.

Reproduces the semantics of the reference's generated search SQL:

- semantic search: score every candidate with cosine similarity, join back
  to the source for return columns, apply typed filters POST-ranking, order
  by score desc, limit k (core/src/query.rs:653-701);
- full-text search: OR-semantics term match + rank by overlap score
  (core/src/query.rs:763-776, extension/src/search.rs:210-225);
- hybrid search: the server-side single-query RRF shape
  (core/src/query.rs:705-785): each branch ranks its own top-``window_size``
  candidates with ROW_NUMBER, FULL OUTER JOIN on the primary key, weighted
  reciprocal-rank-fusion ``Σ w_i/(k + rank_i)`` with missing ranks
  contributing 0 (COALESCE form, core/src/query.rs:744-747), join back to
  source, post-fusion filters, order by rrf desc, limit.

Scale design (100 TB notes):
- the score+limit stage compiles to TakeOrderedAndProject — no global sort;
- ranked candidate sets are <= window_size rows, so the join back to the
  source BROADCASTS the ranked side (never shuffles the big table);
- ROW_NUMBER windows run on <= window_size rows (post-limit), so the
  single-partition window is O(window), not O(table);
- every ordering carries a primary-key tiebreaker: the reference relies on
  Postgres sort stability (core/src/query.rs:781); distributed sorts have no
  such stability, so determinism must be explicit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pg_vectorize_spark import sqltext as sq
from pg_vectorize_spark.filters import FilterValue, apply_filters
from pg_vectorize_spark.functions.text import (
    STOP_WORDS,
    analyze_query,
    analyze_query_stemmed,
    fts_match_expr,
    fts_score_expr,
    query_scoped_tokens_expr,
    stem_token_expr,
    stemmed_tokens_udf,
    tokens_expr,
)


from pg_vectorize_spark.functions.vector import (
    cosine_similarity_to_query,
    dot_product_to_query,
)

DEFAULT_LIMIT = 10
DEFAULT_RRF_K = 60

#: the ONE analyzer registry (review r12): create_job validates against
#: it, and the dispatchers below raise on anything outside it — a
#: catalog written by a different version must fail loudly, not fall
#: through to english rules silently
ANALYZERS = (
    "english", "simple", "english_porter", "english_stem", "multilang",
)
#: analyzers whose doc tokens are pure expressions the cover_density /
#: bm25 re-scoring passes can re-derive per word; the UDF and
#: per-language-dispatch analyzers are overlap-rank only
EXPRESSION_ANALYZERS = ("english", "simple")

#: analyzer SPEC versions (ADVICE r12 + r13 stamping): bump an entry
#: whenever that analyzer's token OUTPUT changes for the same input —
#: the engine stamps "<name>@<version>" into each job's token-snapshot
#: dir at build time and refuses a query-time mismatch, so a stored
#: snapshot built under an older spec fails loudly instead of silently
#: losing recall. r13: 'multilang' -> 2 (Unicode \p{L}\p{N} split +
#: CJK character-bigram base replaced the [a-z0-9] tokenizer).
ANALYZER_SPEC_VERSIONS = {
    "english": 1,
    "simple": 1,
    "english_porter": 1,
    "english_stem": 1,
    "multilang": 2,
}


def _check_analyzer(analyzer: str) -> None:
    if analyzer not in ANALYZERS:
        raise ValueError(
            f"unknown analyzer {analyzer!r} (valid: {ANALYZERS}) — a "
            "job record from a different version? rejecting rather than "
            "silently analyzing with english rules"
        )


def _analyze(query: str, analyzer: str) -> list[str]:
    """'english' (default): light-stemmed, oracle-expressible; 'simple':
    unstemmed; 'english_porter' (alias 'english_stem'): Porter UDF path;
    'multilang' (r12): the QUERY's detected language picks its light-stem
    rule set — matching multilang_tokens_expr's per-document dispatch —
    with the unstemmed fallback for rule-set-less languages."""
    _check_analyzer(analyzer)
    if analyzer in ("english_porter", "english_stem"):
        return analyze_query_stemmed(query)
    if analyzer == "simple":
        return analyze_query(query, stem=False)
    if analyzer == "multilang":
        from pg_vectorize_spark.functions.text import (
            STEMMED_LANGS,
            detect_lang,
            py_unicode_tokens,
            script_lang,
        )

        # r13: the multilang analyzer's base tokenizer is Unicode-aware
        # (CJK character bigrams included), so QUERY analysis runs the
        # same py_unicode_tokens mirror — a Han query produces the
        # bigrams its documents were indexed under. The direct
        # unstemmed path keys on SCRIPT CHARACTERS in the query
        # (script_lang — the provenance helper), not on the detected
        # code: detect_lang can return 'zh' from romanized pinyin
        # markers alone, and such a Latin-script query must keep the
        # r12 union-of-variants broadening below — its Latin terms may
        # match any language's stemmed documents.
        if script_lang(query) is not None:
            return py_unicode_tokens(query, stem=False)
        lang = detect_lang(query)
        if lang in STEMMED_LANGS:
            return py_unicode_tokens(query, stem=True, lang=lang)
        # marker-free queries — which is MOST short keyword queries,
        # since the language markers are exactly the stop words users
        # omit — must still match documents stemmed under any rule
        # set: take the UNION of every variant (unstemmed + each
        # language's stems). OR-semantics search matches whichever
        # stem the document's own language applied; the broadening is
        # bounded (|terms| x (1 + |rule sets|)) (review r12).
        # ADVICE r12: tokens that are a stop word in ANY language are
        # excluded from CROSS-language stemming — otherwise other
        # languages' stop words enter mangled ('the' -> 'th' via the
        # es/fr final-e rule) and the junk stems produce spurious
        # low-score matches. A stop word of language L is dropped by
        # L's own variant anyway, so this only removes noise.
        from pg_vectorize_spark.functions.text import (
            STOP_WORDS_BY_LANG,
            light_stem,
        )

        all_stops = set().union(*STOP_WORDS_BY_LANG.values())
        base = py_unicode_tokens(query, stem=False)
        out: list[str] = list(base)
        seen: set[str] = set(base)
        for lng in STEMMED_LANGS:
            for t in base:
                if t in all_stops:
                    continue
                s = light_stem(t, lng)
                if s not in seen:
                    seen.add(s)
                    out.append(s)
        return out
    return analyze_query(query)


def _doc_tokens(concat: Column, analyzer: str) -> Column:
    _check_analyzer(analyzer)
    if analyzer in ("english_porter", "english_stem"):
        return stemmed_tokens_udf()(concat)
    if analyzer == "simple":
        return tokens_expr(concat, stem=False)
    if analyzer == "multilang":
        from pg_vectorize_spark.functions.text import multilang_tokens_expr

        return multilang_tokens_expr(concat)
    return tokens_expr(concat)


# public forms for cross-module callers (the engine's job-level
# analyzer wiring) — the underscore dispatchers stay the internal names
analyze_query_for = _analyze
doc_tokens_for = _doc_tokens


def _match_tokens(concat: Column, analyzer: str, terms: list[str]) -> Column:
    """Tokens for inline match/score against ``terms`` only: the
    expression analyzers take the query-scoped fast path (prefilter before
    the stem chain — see query_scoped_tokens_expr; result ∩ terms is
    provably identical to the full analyzer's), the Porter UDF analyzer
    keeps the full token set."""
    if analyzer == "english":
        return query_scoped_tokens_expr(concat, terms, stem=True)
    if analyzer == "simple":
        return query_scoped_tokens_expr(concat, terms, stem=False)
    return _doc_tokens(concat, analyzer)


def _scored_semantic(
    emb_df: DataFrame,
    pkey: str,
    query_vec: Sequence[float],
    emb_col: str = "embeddings",
    pre_normalized: bool = False,
) -> DataFrame:
    """(pkey, similarity_score) for every candidate vector — the score is
    one SQL parse (``cosine_similarity_to_query``; a plain dot product
    under normalize-at-write parity)."""
    if pre_normalized:
        score = dot_product_to_query(emb_col, query_vec)
    else:
        score = cosine_similarity_to_query(emb_col, query_vec)
    return emb_df.select(
        F.col(sq.ident(pkey)), score.alias("similarity_score")
    )


def semantic_search(
    source_df: DataFrame,
    emb_df: DataFrame,
    pkey: str,
    query_vec: Sequence[float],
    num_results: int = DEFAULT_LIMIT,
    return_columns: Sequence[str] | None = None,
    filters: dict[str, FilterValue] | None = None,
    where_sql: str | None = None,
    emb_col: str = "embeddings",
    pre_normalized: bool = False,
) -> DataFrame:
    """Semantic top-k with return-column projection and post-ranking filters."""
    scored = _scored_semantic(emb_df, pkey, query_vec, emb_col, pre_normalized)
    joined = source_df.join(scored, pkey, "inner")
    if filters:
        joined = apply_filters(joined, filters)
    if where_sql:
        joined = joined.filter(F.expr(where_sql))
    cols = list(return_columns) if return_columns else [c for c in source_df.columns]
    # order on the pre-projection frame so the pkey tiebreaker survives even
    # when return_columns drops the key; Catalyst still plans TakeOrdered.
    ordered = joined.orderBy(
        F.desc("similarity_score"), F.asc(sq.ident(pkey))
    )
    return ordered.select(*map(sq.ident, cols), "similarity_score").limit(
        num_results
    )


def full_text_search(
    source_df: DataFrame,
    pkey: str,
    query: str,
    text_cols: Sequence[str],
    num_results: int = DEFAULT_LIMIT,
    return_columns: Sequence[str] | None = None,
    filters: dict[str, FilterValue] | None = None,
    tokens_df: DataFrame | None = None,
    analyzer: str = "english",
    rank: str = "overlap",
    fts_scored_df: DataFrame | None = None,
) -> DataFrame:
    """Full-text top-k over an analyzed text column.

    ``tokens_df`` (pkey, search_tokens) is the precomputed _search_tokens
    dataset; when absent, tokens are derived inline from ``text_cols`` with
    the NULL-safe space concat (core/src/query.rs:184-190). ``analyzer``
    'english' (default: light stemming, oracle-expressible), 'simple'
    (unstemmed), or 'english_porter' (Porter via Arrow UDF).

    ``rank='overlap'`` orders by the term-overlap score; 'cover_density'
    adds the positional proximity bonus (``cover_density_scores``, the
    ts_rank_cd analog) and orders by ``rank_cd = fts_score + cd_score``,
    appending both columns to the output; 'bm25' orders by the Okapi BM25
    score (``bm25_scores``), appending ``bm25_score``.

    ``fts_scored_df`` (pkey, fts_score) is a precomputed match/score
    frame from the persisted postings index
    (``JobFtsIndexManager.probe_scores`` — the GIN-index probe analog):
    it REPLACES the tokens-snapshot scan entirely (the probe's matched
    set and overlap scores are lossless-identical to the scan's), and
    its keys prune the cover_density / bm25 re-scoring passes.
    """
    terms = _analyze(query, analyzer)
    if fts_scored_df is not None:
        scored = source_df.join(fts_scored_df, pkey, "inner")
        matched_keys: DataFrame | None = fts_scored_df.select(pkey)
    else:
        if tokens_df is not None:
            toks = tokens_df.select(pkey, "search_tokens")
            base = source_df.join(toks, pkey, "inner")
        else:
            concat = F.concat_ws(
                " ", *[F.coalesce(F.col(c), F.lit("")) for c in text_cols]
            )
            from pg_vectorize_spark.operators.skew import (
                ensure_min_partitions,
            )

            base = ensure_min_partitions(source_df).withColumn(
                "search_tokens", _match_tokens(concat, analyzer, terms)
            )
        matched = base.filter(fts_match_expr(F.col("search_tokens"), terms))
        scored = matched.withColumn(
            "fts_score", fts_score_expr(F.col("search_tokens"), terms)
        )
        # With a stored tokens table the matched set is known cheaply —
        # it prunes the positional/bm25 re-scoring passes. Without one,
        # the matched set itself costs a full tokenize, so those passes
        # scan the corpus once instead.
        matched_keys = (
            matched.select(pkey) if tokens_df is not None else None
        )
    if filters:
        scored = apply_filters(scored, filters)
    cols = list(return_columns) if return_columns else list(source_df.columns)
    if rank == "cover_density":
        cand = matched_keys
        if (
            cand is None
            and fts_scored_df is None
            and analyzer in ("english", "simple")
            and terms
        ):
            # Fused inline path (r13 optimization round): without a
            # stored tokens table the overlap branch's match/score scan
            # AND the positional pass each tokenized the whole corpus —
            # but the overlap score is derivable from the positional
            # matched frame itself: distinct matched terms per document
            # == query_scoped_tokens ∩ terms (the prefilter+stem chain
            # is the same in both passes, and _analyze never emits stop
            # words), so fts_score = countDistinct(_t)/|terms| exactly.
            # One corpus tokenize instead of two (§2.4 — the same
            # fusion the bm25 inline path already does); return columns
            # join back from a column-pruned source scan that never
            # reads the text.
            n_pairs = len(terms) * (len(terms) - 1) // 2
            matched_pos = _matched_term_positions(
                source_df, pkey, terms, text_cols, analyzer
            )
            per_doc = matched_pos.groupBy(pkey).agg(
                (
                    F.countDistinct("_t").cast("double")
                    / float(len(terms))
                ).alias("fts_score")
            )
            if n_pairs == 0:
                fused = per_doc.withColumn("cd_score", F.lit(0.0))
            else:
                cd = _cd_from_positions(matched_pos, pkey, n_pairs)
                fused = per_doc.join(cd, pkey, "left").withColumn(
                    "cd_score", F.coalesce(F.col("cd_score"), F.lit(0.0))
                )
            fused = fused.withColumn(
                "rank_cd", F.col("fts_score") + F.col("cd_score")
            )
            fused = source_df.join(fused, pkey, "inner")
            if filters:
                fused = apply_filters(fused, filters)
            ordered = fused.orderBy(F.desc("rank_cd"), F.asc(pkey))
            return ordered.select(
                *cols, "fts_score", "cd_score", "rank_cd"
            ).limit(num_results)
        cd = cover_density_scores(
            source_df, pkey, query, text_cols, analyzer, candidates=cand
        )
        scored = scored.join(cd, pkey, "left").withColumn(
            "cd_score", F.coalesce(F.col("cd_score"), F.lit(0.0))
        )
        scored = scored.withColumn(
            "rank_cd", F.col("fts_score") + F.col("cd_score")
        )
        ordered = scored.orderBy(F.desc("rank_cd"), F.asc(pkey))
        return ordered.select(
            *cols, "fts_score", "cd_score", "rank_cd"
        ).limit(num_results)
    if rank == "bm25":
        if matched_keys is None:
            # Fused inline path: tf>0 for some term ⇔ the distinct-token
            # overlap match, and the overlap score is the count of terms
            # with tf>0 — so match, fts_score and bm25_score all come from
            # the bm25 scoring pass (2 corpus passes total: stats +
            # scoring) with no separate tokenize-and-match pass.
            needed = set(cols) | (set(filters) if filters else set())
            keep = [
                c for c in source_df.columns if c != pkey and c in needed
            ]
            bm = bm25_scores(
                source_df,
                pkey,
                query,
                text_cols,
                analyzer,
                keep_cols=keep,
                overlap_denom=len(terms),
            )
            if filters:
                bm = apply_filters(bm, filters)
            ordered = bm.orderBy(F.desc("bm25_score"), F.asc(pkey))
            return ordered.select(
                *cols, "fts_score", "bm25_score"
            ).limit(num_results)
        # Stored-tokens / postings-index path: the matched set is known
        # cheaply and prunes the scoring pass (stats stay corpus-global).
        bm = bm25_scores(
            source_df,
            pkey,
            query,
            text_cols,
            analyzer,
            candidates=matched_keys,
        )
        scored = scored.join(bm, pkey, "inner")
        ordered = scored.orderBy(F.desc("bm25_score"), F.asc(pkey))
        return ordered.select(
            *cols, "fts_score", "bm25_score"
        ).limit(num_results)
    ordered = scored.orderBy(F.desc("fts_score"), F.asc(pkey))
    return ordered.select(*cols, "fts_score").limit(num_results)


def cover_density_scores(
    source_df: DataFrame,
    pkey: str,
    query: str,
    text_cols: Sequence[str],
    analyzer: str = "english",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Positional cover-density bonus per document — the ts_rank_cd analog
    (core/src/query.rs:764-776 ranks with ts_rank_cd; the overlap score
    alone ignores proximity).

    Spec: positions are 1-based indices into the non-empty lowercase word
    stream (stop-words hold positions but never match, like tsvector).
    For every unordered pair of DISTINCT matched query terms, take the
    minimum positional gap between any of their occurrences and contribute
    ``1/gap``; the per-document score is the sum over pairs divided by
    C(|terms|, 2) (0 when fewer than 2 terms). Adjacent full-phrase
    matches approach 1.0; scattered terms decay hyperbolically.

    Float parity: the pair contributions are summed by a left-to-right
    fold over the (term_a, term_b)-sorted pair list — never a
    shuffle-order-dependent SUM — so DuckDB's list_reduce reproduces the
    double bit-for-bit. Output: (pkey, cd_score). Only expression-based
    analyzers ('english', 'simple') are supported.

    ``candidates`` (a pkey-only DataFrame) restricts the positional scan to
    those documents via a semi-join. Callers that already know the matched
    set — e.g. from the precomputed _search_tokens dataset — pass it so the
    posexplode+stem pass reads only matching docs instead of the whole
    corpus; scores for non-matched docs are never consumed (they are
    dropped by the caller's left join), so this is a pure pruning step.
    """
    if analyzer not in ("english", "simple"):
        raise ValueError(
            f"cover_density_scores requires an expression analyzer, got "
            f"{analyzer!r}"
        )
    terms = _analyze(query, analyzer)
    n_pairs = len(terms) * (len(terms) - 1) // 2
    if n_pairs == 0:
        return source_df.select(
            F.col(pkey), F.lit(0.0).alias("cd_score")
        ).limit(0)
    if candidates is not None:
        source_df = source_df.join(
            candidates.select(pkey).distinct(), pkey, "left_semi"
        )
    matched = _matched_term_positions(
        source_df, pkey, terms, text_cols, analyzer
    )
    return _cd_from_positions(matched, pkey, n_pairs)


def _matched_term_positions(
    source_df: DataFrame,
    pkey: str,
    terms: Sequence[str],
    text_cols: Sequence[str],
    analyzer: str,
) -> DataFrame:
    """(pkey, _pos, _t): every occurrence of a query term in the word
    stream, with its 1-based position — the positional frame the
    cover-density rank consumes. Lazily checkpointed: the min-gap pair
    join reads it on BOTH sides (and the fused inline path adds the
    overlap aggregate as a third consumer), so the posexplode +
    stem-prefilter corpus scan runs once (§2.4). The frame holds only
    matched query-term occurrences (|docs| x |terms| upper bound), tiny
    next to the scan it replaces."""
    concat = F.concat_ws(
        " ", *[F.coalesce(F.col(c), F.lit("")) for c in text_cols]
    )
    words = F.filter(
        F.split(F.lower(concat), "[^a-z0-9]+"), lambda x: x != ""
    )
    from pg_vectorize_spark.operators.skew import ensure_min_partitions

    pos_words = ensure_min_partitions(source_df).select(
        F.col(pkey), F.posexplode(words).alias("_pos", "_w")
    ).filter(~F.col("_w").isin(*STOP_WORDS))
    if analyzer == "english":
        # Stem-candidate prefilter (see query_scoped_tokens_expr): the
        # stemmer preserves the first character and never lengthens, so
        # non-candidates can't stem to a term — skip their regex chain.
        first_chars = sorted({t[0] for t in terms})
        min_len = min(len(t) for t in terms)
        pos_words = pos_words.filter(
            F.substring(F.col("_w"), 1, 1).isin(first_chars)
            & (F.length(F.col("_w")) >= min_len)
        )
    term_col = (
        stem_token_expr(F.col("_w")) if analyzer == "english" else F.col("_w")
    )
    matched = pos_words.select(
        F.col(pkey), F.col("_pos"), term_col.alias("_t")
    ).filter(F.col("_t").isin(*list(terms)))
    return matched.localCheckpoint(eager=False)


def _cd_from_positions(
    matched: DataFrame, pkey: str, n_pairs: int
) -> DataFrame:
    """(pkey, cd_score) from the positional matched-term frame: min gap
    per unordered distinct-term pair contributes 1/gap; the per-document
    sum folds left-to-right over the (term_a, term_b)-sorted pair list
    (never a shuffle-order-dependent SUM) and divides by C(|terms|, 2)
    — the float-parity contract the DuckDB oracle reproduces."""
    a = matched.select(
        F.col(pkey), F.col("_t").alias("_ta"), F.col("_pos").alias("_pa")
    )
    b = matched.select(
        F.col(pkey), F.col("_t").alias("_tb"), F.col("_pos").alias("_pb")
    )
    gaps = (
        a.join(b, pkey)
        .filter(F.col("_ta") < F.col("_tb"))
        .groupBy(pkey, "_ta", "_tb")
        .agg(F.min(F.abs(F.col("_pa") - F.col("_pb"))).alias("_gap"))
    )
    pairs = gaps.groupBy(pkey).agg(
        F.sort_array(
            F.collect_list(F.struct("_ta", "_tb", "_gap"))
        ).alias("_pairs")
    )
    cd = F.aggregate(
        F.col("_pairs"),
        F.lit(0.0),
        lambda acc, p: acc + F.lit(1.0) / p["_gap"].cast("double"),
    ) / F.lit(float(n_pairs))
    return pairs.select(F.col(pkey), cd.alias("cd_score"))


def bm25_scores(
    source_df: DataFrame,
    pkey: str,
    query: str,
    text_cols: Sequence[str],
    analyzer: str = "english",
    k1: float = 1.2,
    b: float = 0.75,
    candidates: DataFrame | None = None,
    keep_cols: Sequence[str] = (),
    overlap_denom: int | None = None,
) -> DataFrame:
    """Okapi BM25 scores per matching document (Robertson/Lucene form).

    The reference ranks FTS with ts_rank/ts_rank_cd (core/src/query.rs:
    764-776); BM25 is the standard published alternative a search user
    expects as a rank option, so it is exposed as ``rank='bm25'``.

    Spec: tokens are the analyzer's word stream (lowercase alnum split,
    stop-words removed, light-stemmed for 'english') kept as a MULTISET —
    term frequency matters, unlike the distinct ``search_tokens``. With
    ``dl`` = per-doc token count, ``N``/``df_t``/``avgdl`` corpus stats:

        idf_t  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
        score  = Σ_t idf_t · tf_t·(k1+1) / (tf_t + k1·(1 - b + b·dl/avgdl))

    summed left-to-right over the SORTED unique query terms so the float
    fold order is deterministic and DuckDB-reproducible.

    Scale shape: one column-pruned corpus scan computes (dl, tf_t…) per
    doc; a map-side-combined aggregate reduces that to ONE stats row
    (N, Σdl, df_t…), collected to the driver and folded back into the
    scoring pass as literals — no shuffle of the corpus, no window, no
    Python-worker stage. (NB: this makes the call eager — the stats job
    runs at call time, freezing idf/avgdl and the corpus snapshot into the
    returned plan. Consequences for callers: (a) ``source_df`` must be a
    BATCH frame — a streaming DataFrame cannot run the stats job and will
    fail here, by design; (b) the result scores the corpus as of CALL
    time, so build the plan close to where it executes; (c) the lazy
    localCheckpoint below lives until the session GCs it — the
    per-request search path executes and drops it immediately, which is
    the intended use; callers composing long-lived lazy pipelines should
    prefer the window-based ts_rank ranks.) The checkpointed per-doc frame
    is reused by the scoring pass. The stem chain runs only on prefiltered
    candidate words (see query_scoped_tokens_expr). ``candidates`` (a
    pkey-only frame) prunes the SCORING pass via semi-join; the stats pass
    always reads the full corpus because df/avgdl are corpus-global.

    ``keep_cols`` ride through the scoring pass (a caller needing return
    columns avoids a join back to the source — one fewer corpus pass).
    ``overlap_denom`` additionally emits the plain term-overlap
    ``fts_score`` derived from the tf columns (count of terms with tf>0
    over the given denominator) — identical to ``fts_score_expr`` over the
    distinct token set, again saving a separate tokenize pass.
    """
    if analyzer not in ("english", "simple"):
        raise ValueError(
            f"bm25_scores requires an expression analyzer, got {analyzer!r}"
        )
    terms = sorted(set(_analyze(query, analyzer)))
    if not terms:
        empty_cols = [F.col(pkey), *[F.col(c) for c in keep_cols]]
        if overlap_denom is not None:
            empty_cols.append(F.lit(0.0).alias("fts_score"))
        empty_cols.append(F.lit(0.0).alias("bm25_score"))
        return source_df.select(*empty_cols).limit(0)
    concat = F.concat_ws(
        " ", *[F.coalesce(F.col(c), F.lit("")) for c in text_cols]
    )
    words = F.filter(
        F.split(F.lower(concat), "[^a-z0-9]+"), lambda x: x != ""
    )
    nonstop = F.filter(words, lambda w: ~w.isin(*STOP_WORDS))
    if analyzer == "english":
        first_chars = sorted({t[0] for t in terms})
        min_len = min(len(t) for t in terms)
        cand = F.filter(
            nonstop,
            lambda w: w.substr(1, 1).isin(*first_chars)
            & (F.length(w) >= min_len),
        )
        stems = F.transform(cand, lambda t: stem_token_expr(t))
    else:
        stems = nonstop
    # Two projections on purpose: _stems is aliased once here, and the tf
    # counts reference the alias — CollapseProject keeps non-cheap exprs
    # single-evaluated, so the stem chain runs once per doc, not per term.
    from pg_vectorize_spark.operators.skew import ensure_min_partitions

    tokd = ensure_min_partitions(source_df).select(
        F.col(pkey),
        *[F.col(c) for c in keep_cols],
        F.size(nonstop).alias("_dl"),
        stems.alias("_stems"),
    )
    def _tf(term: str) -> Column:
        # NB: closure, not a default-arg lambda — a 2-param lambda would
        # make F.filter pass the element INDEX as the second argument.
        return F.size(F.filter(F.col("_stems"), lambda x: x == F.lit(term)))

    per_doc = tokd.select(
        F.col(pkey),
        *[F.col(c) for c in keep_cols],
        F.col("_dl"),
        *[_tf(t).alias(f"_tf{i}") for i, t in enumerate(terms)],
    )
    # Both the stats aggregate and the scoring pass consume per_doc; a lazy
    # localCheckpoint materializes it ONCE, halving corpus passes. The
    # frame is O(docs x terms) narrow ints (+ keep_cols) — a rounding error
    # next to the corpus text it replaces reading twice.
    per_doc = per_doc.localCheckpoint(eager=False)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dl").alias("_sumdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    # idf driver-side from the ONE-row stats aggregate: JVM Math.log
    # differs from libm's correctly-rounded log by 1 ulp on some inputs,
    # which breaks bit-exact oracle parity; Python's math.log IS libm's,
    # matching DuckDB's ln. Collecting one aggregate row is the same
    # driver-side class as the IVF centroid probe (ann.py) — and folding
    # the stats back as LITERALS deletes both the per-query Python-worker
    # stage (ArrowEvalPython startup dominated repeat-query latency,
    # BENCH r3 fts_bm25 +52%) and the broadcast cross join.
    import math as _math

    srow = stats.first()
    n_rows = int(srow["_n"] or 0)
    if n_rows == 0:
        empty_cols = [F.col(pkey), *[F.col(c) for c in keep_cols]]
        if overlap_denom is not None:
            empty_cols.append(F.lit(0.0).alias("fts_score"))
        empty_cols.append(F.lit(0.0).alias("bm25_score"))
        return per_doc.select(*empty_cols).limit(0)
    n0 = float(n_rows)
    avgdl_v = float(srow["_sumdl"]) / n0
    idf_v = []
    for i in range(len(terms)):
        dfc0 = float(srow[f"_df{i}"])
        idf_v.append(_math.log(1.0 + (n0 - dfc0 + 0.5) / (dfc0 + 0.5)))
    scoring = per_doc
    if candidates is not None:
        scoring = scoring.join(
            candidates.select(pkey).distinct(), pkey, "left_semi"
        )
    scored = scoring
    dl = F.col("_dl").cast("double")
    score = None
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        idf = F.lit(idf_v[i])
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * (dl / F.lit(avgdl_v))
        )
        part = idf * ((tf * F.lit(k1 + 1.0)) / denom)
        score = part if score is None else score + part
    any_match = None
    for i in range(len(terms)):
        hit = F.col(f"_tf{i}") > 0
        any_match = hit if any_match is None else any_match | hit
    out_cols = [F.col(pkey), *[F.col(c) for c in keep_cols]]
    if overlap_denom is not None:
        overlap = None
        for i in range(len(terms)):
            h = (F.col(f"_tf{i}") > 0).cast("int")
            overlap = h if overlap is None else overlap + h
        out_cols.append(
            (overlap.cast("double") / F.lit(float(overlap_denom))).alias(
                "fts_score"
            )
        )
    out_cols.append(score.alias("bm25_score"))
    return scored.filter(any_match).select(*out_cols)


def _ranked(df: DataFrame, order: list[Column], window_size: int, rank_name: str) -> DataFrame:
    """Top-``window_size`` rows with a dense 1..N ROW_NUMBER rank.

    limit() first bounds the window input, so the single-partition
    ROW_NUMBER window touches <= window_size rows regardless of table size.
    """
    top = df.orderBy(*order).limit(window_size)
    w = Window.orderBy(*order)
    return top.withColumn(rank_name, F.row_number().over(w))


def hybrid_search(
    source_df: DataFrame,
    emb_df: DataFrame,
    pkey: str,
    query_vec: Sequence[float],
    query: str,
    text_cols: Sequence[str],
    num_results: int = DEFAULT_LIMIT,
    window_size: int | None = None,
    rrf_k: int = DEFAULT_RRF_K,
    semantic_weight: float = 1.0,
    fts_weight: float = 1.0,
    return_columns: Sequence[str] | None = None,
    filters: dict[str, FilterValue] | None = None,
    where_sql: str | None = None,
    emb_col: str = "embeddings",
    pre_normalized: bool = False,
    tokens_df: DataFrame | None = None,
    analyzer: str = "english",
    rank: str = "overlap",
    fts_scored_df: DataFrame | None = None,
) -> DataFrame:
    """Server-side hybrid RRF search (core/src/query.rs:705-785).

    ``rank='cover_density'`` ranks the FTS branch by overlap + positional
    proximity (``rank_cd``) instead of overlap alone — the reference's
    hybrid ranks its text branch with ts_rank_cd (core/src/query.rs:
    764-776), so this is the closer-parity mode; 'overlap' stays the
    default for the cheap token-table-only path.

    ``fts_scored_df`` (pkey, fts_score) is the postings-index probe
    (see ``full_text_search``): with it, the FTS branch never scans
    the tokens snapshot — overlap mode ranks the probe frame directly;
    cover_density / bm25 use its keys to prune their re-scoring pass.
    RRF semantics are unchanged (the probe is lossless).
    """
    if window_size is None:
        window_size = 5 * num_results  # server default (routes/search.rs:78-80)

    # --- semantic branch: top-window by similarity -------------------------
    sem_scored = _scored_semantic(emb_df, pkey, query_vec, emb_col, pre_normalized)
    sem = _ranked(
        sem_scored,
        [F.desc("similarity_score"), F.asc(pkey)],
        window_size,
        "semantic_rank",
    )

    # --- fts branch: top-window by term overlap ----------------------------
    terms = _analyze(query, analyzer)
    if rank == "bm25":
        # the BM25 score replaces overlap as the branch's ranking signal;
        # the postings-index probe (preferred) or a stored tokens table's
        # cheap overlap match prunes the scoring pass, otherwise bm25's
        # own tf>0 filter IS the match
        if fts_scored_df is not None:
            cand = fts_scored_df.select(pkey)
        elif tokens_df is not None:
            cand = (
                tokens_df.select(pkey, "search_tokens")
                .filter(fts_match_expr(F.col("search_tokens"), terms))
                .select(pkey)
            )
        else:
            cand = None
        fts_scored = bm25_scores(
            source_df, pkey, query, text_cols, analyzer, candidates=cand
        ).select(pkey, F.col("bm25_score").alias("fts_score"))
        fts = _ranked(
            fts_scored,
            [F.desc("fts_score"), F.asc(pkey)],
            window_size,
            "fts_rank",
        )
        return _fuse_and_project(
            source_df, sem, fts, pkey, num_results, rrf_k,
            semantic_weight, fts_weight, return_columns, filters, where_sql,
        )
    if fts_scored_df is not None:
        # postings-index probe: already (pkey, fts_score), lossless vs
        # the tokens scan — no snapshot read on this branch at all
        fts_scored = fts_scored_df.select(pkey, "fts_score")
    else:
        if tokens_df is not None:
            tok_base = tokens_df.select(pkey, "search_tokens")
        else:
            concat = F.concat_ws(
                " ", *[F.coalesce(F.col(c), F.lit("")) for c in text_cols]
            )
            from pg_vectorize_spark.operators.skew import (
                ensure_min_partitions,
            )

            tok_base = ensure_min_partitions(source_df).select(
                F.col(pkey),
                _match_tokens(concat, analyzer, terms).alias(
                    "search_tokens"
                ),
            )
        fts_scored = tok_base.filter(
            fts_match_expr(F.col("search_tokens"), terms)
        ).select(
            pkey,
            fts_score_expr(F.col("search_tokens"), terms).alias(
                "fts_score"
            ),
        )
    if rank == "cover_density":
        cand = (
            fts_scored.select(pkey)
            if (tokens_df is not None or fts_scored_df is not None)
            else None
        )
        cd = cover_density_scores(
            source_df, pkey, query, text_cols, analyzer, candidates=cand
        )
        fts_scored = (
            fts_scored.join(cd, pkey, "left")
            .withColumn("cd_score", F.coalesce(F.col("cd_score"), F.lit(0.0)))
            .select(
                pkey,
                (F.col("fts_score") + F.col("cd_score")).alias("fts_score"),
            )
        )
    fts = _ranked(
        fts_scored, [F.desc("fts_score"), F.asc(pkey)], window_size, "fts_rank"
    )

    return _fuse_and_project(
        source_df, sem, fts, pkey, num_results, rrf_k,
        semantic_weight, fts_weight, return_columns, filters, where_sql,
    )


def _fuse_and_project(
    source_df: DataFrame,
    sem: DataFrame,
    fts: DataFrame,
    pkey: str,
    num_results: int,
    rrf_k: int,
    semantic_weight: float,
    fts_weight: float,
    return_columns: Sequence[str] | None,
    filters: dict[str, FilterValue] | None,
    where_sql: str | None,
) -> DataFrame:
    """Rank fusion (J3 + A3) + join back to source.

    Semantically a FULL OUTER join of the two rank lists, expressed as
    union + hash-aggregate: Spark cannot broadcast a full-outer join, so
    the join form sort-merges even though both sides are <= window_size
    rows. The union form is one partial-aggregating shuffle, no sorts,
    and each branch contributes only its own columns so max() recovers
    exactly the joined row. rrf_score is computed over the aggregated
    (integer) ranks — bit-identical to the join form.

    Built as SQL strings (selectExpr / F.expr, one parse each), with the
    rrf projection folded into the aggregate's result expressions.
    ``rrf_k`` keeps its Python type: an int adds in integer arithmetic,
    a float in double.
    """
    qp = sq.ident(pkey)
    sem_part = sem.selectExpr(
        qp,
        "similarity_score",
        "semantic_rank",
        "CAST(NULL AS INT) AS fts_rank",
    )
    fts_part = fts.selectExpr(
        qp,
        "CAST(NULL AS DOUBLE) AS similarity_score",
        "CAST(NULL AS INT) AS semantic_rank",
        "fts_rank",
    )
    w_s = sq.double(semantic_weight)
    w_f = sq.double(fts_weight)
    k = sq.literal(rrf_k)
    fused = (
        sem_part.unionByName(fts_part)
        .groupBy(qp)
        .agg(
            F.expr("max(similarity_score) AS similarity_score"),
            F.expr("max(semantic_rank) AS semantic_rank"),
            F.expr("max(fts_rank) AS fts_rank"),
            F.expr(
                f"(coalesce({w_s} / ({k} + max(semantic_rank)), 0.0D)"
                f" + coalesce({w_f} / ({k} + max(fts_rank)), 0.0D))"
                " AS rrf_score"
            ),
        )
    )

    # --- join back to source (broadcast the tiny fused side) ---------------
    joined = source_df.join(F.broadcast(fused), pkey, "inner")
    if filters:
        joined = apply_filters(joined, filters)
    if where_sql:
        joined = joined.filter(F.expr(where_sql))
    cols = list(return_columns) if return_columns else list(source_df.columns)
    ordered = joined.orderBy(F.desc("rrf_score"), F.asc(qp))
    return ordered.select(
        *map(sq.ident, cols),
        "rrf_score", "semantic_rank", "fts_rank", "similarity_score",
    ).limit(num_results)


def mmr_rerank(
    candidates,
    pkey: str,
    emb_col: str,
    score_col: str,
    k: int,
    lambda_: float = 0.7,
    normalize_scores: bool = False,
):
    """Maximal Marginal Relevance diversification (Carbonell & Goldstein
    1998): greedily pick the candidate maximizing
    ``lambda * relevance - (1 - lambda) * max_cosine(selected)`` —
    relevance alone returns k near-duplicates when the corpus has them;
    MMR trades a little relevance for coverage.

    ``normalize_scores=True`` min-max scales relevance over the pool
    before the trade-off — required when the score's scale is far from
    cosine's (RRF scores live near 1/rrf_k, so unnormalized they would
    let the similarity penalty dominate any lambda). The returned
    ``score_col`` stays the ORIGINAL score either way.

    ``candidates`` is an already-ranked TOP-POOL result (relevance
    score + unit-norm embedding per row). MMR is inherently sequential
    in k, and the pool is bounded by the caller (pool <= a few hundred
    by construction — the upstream top-k did the corpus-scale work), so
    the greedy loop runs on the driver over the collected pool: numpy
    dot products over a (pool, dim) matrix, O(pool * k) — microseconds.
    This is a deliberate driver-side step on a BOUNDED set, the same
    contract as the reference's client-side fusion (engine.py ext
    mode), not a corpus-scale collect.

    Ties (equal MMR objective) break by ascending pkey for determinism.
    Returns a DataFrame (pkey, <score_col>, mmr_score, mmr_rank) with
    mmr_rank 1..k in selection order.
    """
    import numpy as np

    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rows = candidates.select(pkey, score_col, emb_col).collect()
    if not rows:
        schema = (
            f"{dict(candidates.dtypes)[pkey]}"  # keep the key's type
        )
        return candidates.sparkSession.createDataFrame(
            [],
            f"{pkey} {schema}, {score_col} double, "
            "mmr_score double, mmr_rank int",
        )
    keys = [r[pkey] for r in rows]
    raw_rel = np.array([float(r[score_col]) for r in rows])
    rel = raw_rel
    if normalize_scores and len(rows) > 1:
        lo, hi = raw_rel.min(), raw_rel.max()
        if hi > lo:
            rel = (raw_rel - lo) / (hi - lo)
    mat = np.array([[float(x) for x in r[emb_col]] for r in rows])
    n = len(rows)
    selected: list[int] = []
    max_sim = np.zeros(n)  # max cosine to any selected row
    picked = np.zeros(n, dtype=bool)
    scores: list[float] = []
    # ascending-pkey tie rank in the key's NATIVE order (numeric keys
    # compare numerically, matching the engine's F.asc convention);
    # string fallback only for un-orderable key types
    try:
        order = sorted(range(n), key=lambda i: keys[i])
    except TypeError:
        order = sorted(range(n), key=lambda i: str(keys[i]))
    key_rank = np.empty(n)
    key_rank[order] = np.arange(n)
    for _ in range(min(k, n)):
        obj = lambda_ * rel - (1.0 - lambda_) * max_sim
        obj = np.where(picked, -np.inf, obj)
        best = np.flatnonzero(obj == obj.max())
        i = int(best[np.argmin(key_rank[best])])
        selected.append(i)
        scores.append(float(obj[i]))
        picked[i] = True
        max_sim = np.maximum(max_sim, mat @ mat[i])
    out_rows = [
        (keys[i], float(raw_rel[i]), scores[j], j + 1)
        for j, i in enumerate(selected)
    ]
    key_type = dict(candidates.dtypes)[pkey]
    return candidates.sparkSession.createDataFrame(
        out_rows,
        f"{pkey} {key_type}, {score_col} double, "
        "mmr_score double, mmr_rank int",
    )
