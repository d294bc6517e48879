"""CorpusPipeline — the training-data-curation API over one document table.

The vectorize-parity surface (VectorizeSession) covers search jobs; this
class is the ergonomic front door for the corpus-curation extensions: a
fluent pipeline over a (pkey, text) table that composes the operators in
operators/dedup, operators/ann, operators/chunk, and functions/text.

    pipe = CorpusPipeline(spark, docs_df, pkey="doc_id", text_col="text")
    clean = (
        pipe.with_quality()
            .filter_quality(min_score=0.5)
            .dedup("exact")
            .dedup("minhash", threshold_bands=True)
            .df()
    )
    emb = pipe.embed(dim=64)
    idx = pipe.ann_index(emb, n_centroids=64)

Every step is lazy DataFrame composition — nothing executes until an action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_vectorize_spark.functions.text import (
    fingerprint_expr,
    lang_id_expr,
    quality_metrics_exprs,
    quality_score_bound_expr,
    quality_score_expr,
    token_count_expr,
    tokens_expr,
)
from pg_vectorize_spark.operators.ann import (
    assign_ivf_cells,
    ivf_topk,
    train_ivf_centroids_kmeans,
)
from pg_vectorize_spark.operators.chunk import chunk_table_distributed
from pg_vectorize_spark.operators.dedup import (
    cosine_neardup_pairs,
    dedup_survivors,
    dedup_survivors_transitive,
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from pg_vectorize_spark.operators.embed import embed_bulk_exploded


class CorpusPipeline:
    def __init__(
        self,
        spark: SparkSession,
        df: DataFrame,
        pkey: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self._df = df
        self.pkey = pkey
        self.text_col = text_col

    def df(self) -> DataFrame:
        return self._df

    def _derive(self, df: DataFrame) -> "CorpusPipeline":
        return CorpusPipeline(self.spark, df, self.pkey, self.text_col)

    # ------------------------------------------------------------ analysis

    def normalize_text(self, strip_html: bool = True) -> "CorpusPipeline":
        """Crawl cleanup as the usual FIRST pipeline step: HTML-ish tag
        strip + entity decode (optional) and whitespace collapse, replacing
        the text column in place so every downstream stage (tokens,
        quality, dedup shingles...) sees clean text. Pure JVM expressions —
        zero shuffle."""
        from pg_vectorize_spark.functions.text import (
            normalize_ws_expr,
            strip_html_expr,
        )

        expr = (
            strip_html_expr(F.col(self.text_col))
            if strip_html
            else normalize_ws_expr(F.col(self.text_col))
        )
        return self._derive(self._df.withColumn(self.text_col, expr))

    def with_tokens(self) -> "CorpusPipeline":
        return self._derive(
            self._df.withColumn(
                "search_tokens", tokens_expr(F.col(self.text_col))
            )
        )

    def with_quality(self) -> "CorpusPipeline":
        m = quality_metrics_exprs(F.col(self.text_col))
        df = self._df
        for name, expr in m.items():
            out_name = name if name not in df.columns else f"q_{name}"
            df = df.withColumn(out_name, expr)
        return self._derive(
            df.withColumn(
                "quality_score", quality_score_expr(F.col(self.text_col))
            )
        )

    def with_lang(self) -> "CorpusPipeline":
        return self._derive(
            self._df.withColumn("lang_pred", lang_id_expr(F.col(self.text_col)))
        )

    def with_token_count(self) -> "CorpusPipeline":
        return self._derive(
            self._df.withColumn(
                "n_tokens", token_count_expr(F.col(self.text_col))
            )
        )

    def with_fingerprint(self) -> "CorpusPipeline":
        return self._derive(
            self._df.withColumn(
                "fingerprint", fingerprint_expr(F.col(self.text_col))
            )
        )

    # ------------------------------------------------------------ filtering

    def filter_quality(self, min_score: float = 0.5) -> "CorpusPipeline":
        df = self._df
        if "quality_score" not in df.columns:
            # bound score behind an explode-singleton barrier: one
            # evaluation per row instead of Filter+Project duplicating
            # the whole tree (bit-identical values,
            # scripts/quality_bind_probe.py)
            df = df.withColumn(
                "quality_score",
                F.explode(
                    F.array(quality_score_bound_expr(F.col(self.text_col)))
                ),
            )
        return self._derive(df.filter(F.col("quality_score") >= min_score))

    def filter_lang(self, lang: str) -> "CorpusPipeline":
        df = self._df
        if "lang_pred" not in df.columns:
            df = df.withColumn("lang_pred", lang_id_expr(F.col(self.text_col)))
        return self._derive(df.filter(F.col("lang_pred") == lang))

    # ------------------------------------------------------------ curation

    def split(
        self,
        splits=(("train", 0.8), ("val", 0.1), ("test", 0.1)),
    ) -> "CorpusPipeline":
        """Deterministic train/val/test labels (operators/curate.hash_split)."""
        from pg_vectorize_spark.operators.curate import hash_split

        return self._derive(hash_split(self._df, self.pkey, splits))

    def mix(
        self,
        strata_col: str,
        weights: dict[str, float],
        default_weight: float = 1.0,
    ) -> "CorpusPipeline":
        """Weighted source mixing (operators/curate.weighted_mix): rows
        appear with expected multiplicity = their stratum's weight."""
        from pg_vectorize_spark.operators.curate import weighted_mix

        return self._derive(
            weighted_mix(
                self._df, self.pkey, strata_col, weights, default_weight
            )
        )

    def cap_domain(self, domain_col: str, cap: int) -> "CorpusPipeline":
        from pg_vectorize_spark.operators.curate import domain_cap

        return self._derive(domain_cap(self._df, self.pkey, domain_col, cap))

    def decontaminate(self, bench_df: DataFrame, k: int = 5) -> "CorpusPipeline":
        """Drop docs sharing any word k-gram with a benchmark set."""
        from pg_vectorize_spark.operators.curate import contamination_flags

        flagged = contamination_flags(
            self._df, bench_df, self.pkey, self.text_col, k=k
        ).select(self.pkey)
        return self._derive(self._df.join(flagged, self.pkey, "left_anti"))

    def with_logprob(self) -> "CorpusPipeline":
        """Attach the unigram-LM quality score (n_words, mean_logprob)."""
        from pg_vectorize_spark.operators.curate import unigram_logprob

        scores = unigram_logprob(self._df, self.text_col, self.pkey)
        return self._derive(self._df.join(scores, self.pkey, "left"))

    def with_bigram_logprob(self, alpha: float = 0.5) -> "CorpusPipeline":
        """Attach the order-aware bigram-LM quality score
        (n_bigrams, mean_logprob) — see operators/curate.bigram_logprob."""
        from pg_vectorize_spark.operators.curate import bigram_logprob

        scores = bigram_logprob(
            self._df, self.text_col, self.pkey, alpha=alpha
        )
        return self._derive(self._df.join(scores, self.pkey, "left"))

    def filter_gopher(self, min_words: int = 20) -> "CorpusPipeline":
        """Keep only docs passing the Gopher quality rules."""
        from pg_vectorize_spark.functions.text import gopher_pass_expr

        # r13 optimization round: single-consumer conjunction -> the
        # bound form (words tokenized once; see gopher_pass_expr)
        return self._derive(
            self._df.filter(
                gopher_pass_expr(F.col(self.text_col), min_words=min_words)
            )
        )

    def filter_dup_spans(
        self, max_fraction: float = 0.5, k: int = 20
    ) -> "CorpusPipeline":
        """Drop documents whose verbatim cross-doc window duplication
        exceeds ``max_fraction`` (exact-substring audit,
        operators/dedup.duplicated_span_stats) — the boilerplate/mirror
        filter that pairwise near-dup passes miss when a page is mostly
        template around little unique text."""
        from pg_vectorize_spark.operators.dedup import duplicated_span_stats

        stats = duplicated_span_stats(self._df, self.text_col, self.pkey, k=k)
        keep = stats.filter(F.col("dup_fraction") <= max_fraction).select(
            self.pkey
        )
        return self._derive(self._df.join(keep, self.pkey, "left_semi"))

    def classifier_filter(
        self,
        model,
        alpha: float | None = 9.0,
        threshold: float | None = None,
    ) -> "CorpusPipeline":
        """GPT-3-style curation filter (operators/classify.py): score
        every doc with the trained linear quality model, then keep via
        the deterministic Pareto lottery (``alpha``) or, when
        ``threshold`` is given instead, a plain score cutoff. Train the
        model with ``train_curation_classifier(curated, raw, ...)``."""
        from pg_vectorize_spark.operators.classify import (
            pareto_lottery_filter,
            score_quality,
        )

        scored = score_quality(model, self._df, self.text_col)
        if threshold is not None:
            kept = scored.filter(F.col("quality_prob") >= threshold)
        else:
            kept = pareto_lottery_filter(scored, self.pkey, alpha=alpha)
        return self._derive(kept.drop("quality_prob"))

    def remove_dup_spans(self, k: int = 20) -> "CorpusPipeline":
        """REWRITE documents instead of dropping them: every cross-doc
        verbatim k-word span survives only in its first bearer; later
        bearers keep their unique text with the span excised
        (operators/dedup.remove_dup_spans — Lee et al. 2022 §4's
        keep-one-occurrence rule). Complements ``filter_dup_spans``,
        which drops mostly-boilerplate docs outright."""
        from pg_vectorize_spark.operators.dedup import remove_dup_spans

        cleaned = remove_dup_spans(
            self._df, self.text_col, self.pkey, k=k
        ).select(self.pkey, "clean_text", "was_rewritten")
        out = (
            # a prior rewrite pass may have left was_rewritten — drop it
            # so chained calls keep a stable, unambiguous schema
            self._df.drop("was_rewritten")
            .join(cleaned, self.pkey)
            .withColumn(self.text_col, F.col("clean_text"))
            .drop("clean_text")
        )
        return self._derive(out)

    # ------------------------------------------------------------ dedup

    def duplicate_pairs(
        self,
        method: str = "jaccard",
        threshold: float = 0.8,
        embeddings: DataFrame | None = None,
        emb_col: str = "embeddings",
    ) -> DataFrame:
        """(a_id, b_id [, score]) candidate/verified duplicate pairs."""
        if method == "jaccard":
            return ngram_jaccard_pairs(
                self._df, self.text_col, self.pkey, threshold=threshold
            )
        if method == "minhash":
            # r13 optimization round: the banding collapse consumes the
            # signature pipeline from multiple differently-keyed
            # exchanges; checkpoint so the (often expression-heavy
            # upstream) corpus scan shingles once.
            sigs = minhash_signatures(
                self._df, self.text_col, self.pkey
            ).localCheckpoint(eager=False)
            return minhash_lsh_candidates(sigs)
        if method == "simhash":
            return simhash_pairs(self._df, self.text_col, self.pkey)
        if method == "embedding":
            if embeddings is None:
                embeddings = self.embed()
            return cosine_neardup_pairs(
                embeddings, self.pkey, emb_col, threshold=threshold
            )
        raise ValueError(f"unknown dedup method: {method}")

    def dedup(
        self,
        method: str = "exact",
        threshold: float = 0.8,
        transitive: bool = False,
    ) -> "CorpusPipeline":
        """Drop duplicates, keeping the min-pkey member of each group."""
        if method == "exact":
            keep = exact_dedup(self._df, self.text_col, self.pkey).select(
                F.col("keep_id").alias(self.pkey)
            )
            return self._derive(self._df.join(keep, self.pkey, "left_semi"))
        pairs = self.duplicate_pairs(method, threshold)
        if transitive:
            return self._derive(
                dedup_survivors_transitive(self._df, self.pkey, pairs)
            )
        return self._derive(dedup_survivors(self._df, self.pkey, pairs))

    def dedup_lines(self) -> "CorpusPipeline":
        """Intra-doc repeated-line removal (functions/text.line_dedup_exprs):
        rewrites the text column with each distinct line's first occurrence
        — the in-page cleanup that runs BEFORE any cross-corpus dedup.
        Zero shuffle."""
        from pg_vectorize_spark.functions.text import line_dedup_exprs

        clean = line_dedup_exprs(F.col(self.text_col))["clean_text"]
        return self._derive(self._df.withColumn(self.text_col, clean))

    # ------------------------------------------------------------ sampling

    def sample_weighted(self, k: int, weight_col: str | None = None) -> DataFrame:
        """Exact weighted draw without replacement (operators/curate.
        sample_weighted; Efraimidis-Spirakis race, TakeOrdered plan).
        Defaults the weight to quality_score (computing it if absent) —
        the quality-weighted corpus draw. Terminal: returns the k-row
        sample joined back to the pipeline's columns."""
        from pg_vectorize_spark.operators.curate import (
            sample_weighted as _sw,
        )

        df = self._df
        if weight_col is None:
            if "quality_score" not in df.columns:
                # single-consumer weight column: bound-words variant
                df = df.withColumn(
                    "quality_score",
                    quality_score_bound_expr(F.col(self.text_col)),
                )
            weight_col = "quality_score"
        top = _sw(df, self.pkey, weight_col, k)
        return top.select(self.pkey, "sample_rank").join(df, self.pkey)

    # ------------------------------------------------------------ packing

    def pack(self, block_size: int = 2048) -> DataFrame:
        """GPT-style sequence packing (operators/curate.sequence_pack):
        per-doc block placement under a deterministic shuffle order,
        token counts from the repo tokenizer. Terminal."""
        from pg_vectorize_spark.functions.text import token_count_expr
        from pg_vectorize_spark.operators.curate import sequence_pack

        base = self._df.select(
            F.col(self.pkey),
            token_count_expr(F.col(self.text_col)).alias("n_tokens"),
        )
        return sequence_pack(base, self.pkey, "n_tokens", block_size)

    def dedup_pack(
        self,
        block_size: int = 2048,
        method: str = "minhash",
        threshold: float = 0.8,
        order_buckets: int = 1024,
    ) -> DataFrame:
        """Fused ``dedup(method)`` + ``pack(block_size)`` — row-identical
        to the two-step chain, one corpus materialization instead of two
        (r14 optimization round, guide §2.3/§2.4 "shuffle keys and
        metadata instead of payloads").

        The two-step chain materializes the corpus TWICE: the dedup
        checkpoint carries full text into the survivor join-back, and the
        pack then re-tokenizes every surviving document. But packing only
        needs ``(pkey, n_tokens)`` — so this computes the token count IN
        the same pass that feeds the dedup's signatures (one tokenize,
        amortized into the single text materialization) and carries the
        survivors as narrow key/count rows. The survivor anti-join and
        everything downstream never touch text again. ``n_tokens`` is the
        same expression over the same text, and the survivor key set is
        the same anti-join — bit-identical output (pinned by
        tests/test_pipelines.py parity).

        ``method="exact"`` (``dedup``'s default) semi-joins the narrow
        rows on ``exact_dedup``'s keep-keys instead of anti-joining pairs.

        Terminal; returns the ``sequence_pack`` frame.
        """
        from pg_vectorize_spark.functions.text import token_count_expr
        from pg_vectorize_spark.operators.curate import sequence_pack

        base_all = self._df.select(
            F.col(self.pkey),
            F.col(self.text_col),
            token_count_expr(F.col(self.text_col)).alias("n_tokens"),
        ).localCheckpoint(eager=False)
        narrow = base_all.select(self.pkey, "n_tokens")
        if method == "exact":
            keep = exact_dedup(base_all, self.text_col, self.pkey).select(
                F.col("keep_id").alias(self.pkey)
            )
            base = narrow.join(keep, self.pkey, "left_semi")
        else:
            pairs = CorpusPipeline(
                self.spark, base_all, self.pkey, self.text_col
            ).duplicate_pairs(method, threshold)
            base = dedup_survivors(narrow, self.pkey, pairs)
        return sequence_pack(
            base, self.pkey, "n_tokens", block_size,
            order_buckets=order_buckets,
        )

    def write_shards(
        self,
        path: str,
        block_size: int = 2048,
        blocks_per_shard: int = 2048,
        n_merges: int = 200,
        merges=None,
        vocab=None,
    ) -> DataFrame:
        """Terminal: the full trainer hand-off. BPE-encode this corpus to
        token ids (training merges/vocab here unless committed ones are
        given), sequence-pack the id streams, materialize the blocks and
        write them as shard-partitioned parquet with a validating
        manifest (sources/training_shards.py). Returns the manifest."""
        from pg_vectorize_spark.operators.bpe import (
            bpe_encode_ids,
            bpe_train,
            bpe_vocab,
            bpe_word_counts,
        )
        from pg_vectorize_spark.operators.curate import pack_blocks
        from pg_vectorize_spark.operators.curate import (
            sequence_pack as _sp,
        )
        from pg_vectorize_spark.sources.training_shards import (
            materialize_blocks,
            write_training_shards,
        )

        if merges is None:
            merges = bpe_train(
                bpe_word_counts(self._df, self.text_col), n_merges
            )
        if vocab is None:
            vocab = bpe_vocab(self._df, self.text_col, merges)
        ids = bpe_encode_ids(
            self._df, self.pkey, self.text_col, merges, vocab
        ).localCheckpoint()  # read twice: counts for packing + slices
        counts = ids.select(
            F.col(self.pkey),
            F.size("token_ids").cast("long").alias("n_tokens"),
        )
        packed = _sp(counts, self.pkey, "n_tokens", block_size)
        mat = materialize_blocks(
            pack_blocks(packed, block_size), ids, self.pkey, "token_ids"
        )
        return write_training_shards(mat, path, blocks_per_shard)

    def write_shards_unimax(
        self,
        path: str,
        total_budget: int,
        max_epochs: float = 4.0,
        block_size: int = 2048,
        blocks_per_shard: int = 2048,
        n_merges: int = 200,
        merges=None,
        vocab=None,
    ) -> DataFrame:
        """Terminal: UniMax language-budget sampling feeding the shard
        sink end-to-end (VERDICT r10 stretch #7) — language budgets are
        waterfilled in MODEL tokens (BPE ids, not whitespace words),
        each document materializes its deterministic epoch copies, and
        every copy packs as its own stream element under a composite
        (doc, copy) key so two copies of one doc land at different,
        reproducible block positions. Returns the shard manifest.

        Scale shape: the language aggregate is inventory-sized; the
        epoch explode is linear in output tokens; everything downstream
        is the write_shards pipeline (one uniform-key shuffle + the
        distributed pack prefix sum + whole-shard write tasks).
        """
        from pg_vectorize_spark.operators.bpe import (
            bpe_encode_ids,
            bpe_train,
            bpe_vocab,
            bpe_word_counts,
        )
        from pg_vectorize_spark.operators.curate import (
            pack_blocks,
            sequence_pack,
            unimax_sample,
        )
        from pg_vectorize_spark.sources.training_shards import (
            materialize_blocks,
            write_training_shards,
        )

        if merges is None:
            merges = bpe_train(
                bpe_word_counts(self._df, self.text_col), n_merges
            )
        if vocab is None:
            vocab = bpe_vocab(self._df, self.text_col, merges)
        ids = bpe_encode_ids(
            self._df, self.pkey, self.text_col, merges, vocab
        ).localCheckpoint()  # read three times: budgets, counts, slices
        base = ids.join(
            self._df.select(
                F.col(self.pkey),
                lang_id_expr(F.col(self.text_col)).alias("_lang"),
            ),
            self.pkey,
        ).select(
            self.pkey,
            "_lang",
            F.size("token_ids").cast("long").alias("_n_ids"),
            "token_ids",
        )
        sampled = unimax_sample(
            base, self.pkey, "_lang", "_n_ids", total_budget, max_epochs
        )
        # composite (doc, copy) stream key: every epoch copy is its own
        # pack element with an independent deterministic position
        ck = F.concat_ws(
            "#", F.col(self.pkey).cast("string"), F.col("copy")
        )
        copies = sampled.select(
            F.col(self.pkey), ck.alias("_ck"), F.col("n_tokens")
        )
        packed = sequence_pack(
            copies.select("_ck", "n_tokens"), "_ck", "n_tokens", block_size
        )
        tok_by_copy = copies.join(
            ids.select(self.pkey, "token_ids"), self.pkey
        ).select("_ck", "token_ids")
        mat = materialize_blocks(
            pack_blocks(packed, block_size), tok_by_copy, "_ck", "token_ids"
        )
        return write_training_shards(mat, path, blocks_per_shard)

    def bpe_tokenize(
        self, n_merges: int = 200, merges=None
    ) -> "CorpusPipeline":
        """Learned-subword stats (operators/bpe.py): trains merges on this
        corpus (one distributed word-count pass) unless a committed merge
        list is given, then adds n_words / n_bpe_tokens / token_hash via
        the broadcast-merges encode."""
        from pg_vectorize_spark.operators.bpe import (
            bpe_encode_counts,
            bpe_train,
            bpe_word_counts,
        )

        if merges is None:
            merges = bpe_train(
                bpe_word_counts(self._df, self.text_col), n_merges
            )
        enc = bpe_encode_counts(self._df, self.pkey, self.text_col, merges)
        return self._derive(self._df.join(enc, self.pkey))

    # ------------------------------------------------------------ chunking

    def chunk(self, max_chunk_size: int = 1000) -> DataFrame:
        return chunk_table_distributed(
            self._df, self.text_col, self.pkey, max_chunk_size
        )

    # ------------------------------------------------------------ vectors

    def embed(self, dim: int = 64) -> DataFrame:
        """(pkey, embeddings) via the JVM bulk path."""
        return embed_bulk_exploded(self._df, self.text_col, self.pkey, dim)

    def chunk_embed_pool(
        self,
        max_chunk_size: int = 1000,
        dim: int = 64,
        mode: str = "mean",
    ) -> DataFrame:
        """RAG-ingest composite: chunk -> embed every chunk -> pool chunk
        vectors back to ONE document vector (element-wise ``mode``).
        Returns (pkey, pooled array<double>, n_vectors, n_vectors_min).
        Chunking is
        keyed explode+agg, embedding a zero-shuffle Arrow map, pooling
        two keyed shuffles — no driver collection at any stage, so the
        whole composite scales with the corpus."""
        from pg_vectorize_spark.functions.vector import pool_embeddings
        from pg_vectorize_spark.operators.embed import embed_bulk_pandas

        chunks = self.chunk(max_chunk_size)
        emb = embed_bulk_pandas(chunks, "chunk", "original_id", dim=dim)
        pooled = pool_embeddings(emb, "original_id", "embeddings", mode=mode)
        return pooled.withColumnRenamed("original_id", self.pkey)

    def ann_index(
        self,
        embeddings: DataFrame | None = None,
        n_centroids: int = 8,
        emb_col: str = "embeddings",
        use_kmeans: bool = True,
        seed: int = 42,
    ) -> tuple[DataFrame, DataFrame]:
        """Build the IVF index: (centroids, assignments)."""
        if embeddings is None:
            embeddings = self.embed()
        if use_kmeans:
            cents = train_ivf_centroids_kmeans(
                embeddings, self.pkey, emb_col, n_centroids, seed=seed
            )
        else:
            from pg_vectorize_spark.operators.ann import default_centroids

            cents = default_centroids(
                embeddings, self.pkey, emb_col, n_centroids
            )
        assigned = assign_ivf_cells(embeddings, cents, self.pkey, emb_col)
        return cents, assigned

    def ann_search(
        self,
        query_text: str,
        centroids: DataFrame,
        assigned: DataFrame,
        k: int = 10,
        nprobe: int = 2,
        dim: int = 64,
        emb_col: str = "embeddings",
    ) -> DataFrame:
        from pg_vectorize_spark.providers.local import LocalHashEmbedder

        qv = LocalHashEmbedder(dim=dim).embed_one(query_text)
        return ivf_topk(
            assigned,
            centroids,
            self.pkey,
            emb_col,
            qv,
            k=k,
            nprobe=nprobe,
            assigned_df=assigned,
        )
