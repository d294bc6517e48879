"""CorpusPipeline end-to-end: analysis columns, filtering, dedup flavors,
chunking, embedding, IVF index + search."""

from __future__ import annotations

import pytest

from pg_vectorize_spark.pipelines import CorpusPipeline

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3, "the quick brown fox jumps over the lazy dog near the river shore"),
    (4, "spark query engines optimize logical plans with catalyst rules ok"),
    (5, "short"),
    (6, "guitar melodies and rhythm sections in recorded music tracks"),
]


@pytest.fixture()
def pipe(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    return CorpusPipeline(spark, df)


def test_analysis_columns(pipe):
    out = (
        pipe.with_tokens()
        .with_quality()
        .with_lang()
        .with_token_count()
        .with_fingerprint()
        .df()
    )
    cols = set(out.columns)
    assert {
        "search_tokens", "quality_score", "lang_pred", "n_tokens",
        "fingerprint", "n_chars", "n_words",
    } <= cols
    assert out.count() == 6


def test_filter_quality_drops_short(pipe):
    ids = {r["doc_id"] for r in pipe.filter_quality(0.3).df().collect()}
    assert 5 not in ids
    assert 1 in ids


def test_dedup_exact(pipe):
    ids = {r["doc_id"] for r in pipe.dedup("exact").df().collect()}
    assert ids == {1, 3, 4, 5, 6}


def test_dedup_jaccard_transitive(pipe):
    ids = {
        r["doc_id"]
        for r in pipe.dedup("jaccard", threshold=0.5, transitive=True)
        .df()
        .collect()
    }
    # 2 (exact dup) and 3 (near dup) both fold into 1
    assert ids == {1, 4, 5, 6}


def test_dedup_minhash(pipe):
    ids = {r["doc_id"] for r in pipe.dedup("minhash").df().collect()}
    assert 2 not in ids  # identical doc always caught by LSH


def test_chunking(pipe):
    chunks = pipe.chunk(max_chunk_size=20).collect()
    assert all(r["chunk"] for r in chunks)
    doc1 = [r for r in chunks if r["original_id"] == 1]
    assert len(doc1) > 1


def test_embed_and_ann_roundtrip(spark, pipe):
    emb = pipe.embed(dim=32)
    assert emb.count() == 6
    cents, assigned = pipe.ann_index(emb, n_centroids=2, seed=42)
    assert cents.count() == 2
    assert assigned.count() == 6
    hits = pipe.ann_search(
        "quick brown fox river", cents, assigned, k=2, nprobe=2, dim=32
    ).collect()
    assert hits[0]["doc_id"] in {1, 2, 3}


def test_unknown_dedup_method(pipe):
    with pytest.raises(ValueError):
        pipe.dedup("nope")


def test_curation_steps(spark, pipe):
    # split labels every row
    labeled = pipe.split().df()
    assert labeled.filter("split not in ('train','val','test')").count() == 0
    # mix by a strata column (doc parity: weight 2 doubles, 0 drops)
    strat = pipe.df().withColumn(
        "bucket", (pipe.df().doc_id % 2 == 0).cast("string")
    )
    from pg_vectorize_spark.pipelines import CorpusPipeline

    mixed = CorpusPipeline(spark, strat).mix(
        "bucket", {"true": 2.0, "false": 0.0}
    ).df()
    assert mixed.filter("bucket = 'false'").count() == 0
    assert mixed.filter("bucket = 'true'").count() == 6  # 3 docs x2
    # domain cap
    capped = CorpusPipeline(spark, strat).cap_domain("bucket", 1).df()
    assert capped.count() == 2
    # decontamination drops the near-identical docs sharing 5-grams
    bench = spark.createDataFrame(
        [(99, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    clean = pipe.decontaminate(bench).df()
    assert {r["doc_id"] for r in clean.collect()} == {4, 5, 6}
    # gopher filter agrees with the flag expression it wraps
    from pyspark.sql import functions as F

    from pg_vectorize_spark.functions.text import gopher_flags_exprs

    ok = {r["doc_id"] for r in pipe.filter_gopher(min_words=5).df().collect()}
    want = {
        r["doc_id"]
        for r in pipe.df()
        .filter(gopher_flags_exprs(F.col("text"), min_words=5)["pass_gopher"])
        .collect()
    }
    assert ok == want


def test_normalize_text_step(spark):
    from pg_vectorize_spark.pipelines import CorpusPipeline

    df = spark.createDataFrame(
        [
            (1, "<p>Hello   <b>world</b></p>"),
            (2, "plain\t\ttext &amp; more"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in CorpusPipeline(spark, df).normalize_text().df().collect()
    }
    assert out == {1: "Hello world", 2: "plain text & more"}
    # ws-only mode leaves markup alone
    out_ws = {
        r["doc_id"]: r["text"]
        for r in CorpusPipeline(spark, df)
        .normalize_text(strip_html=False)
        .df()
        .collect()
    }
    assert out_ws[1] == "<p>Hello <b>world</b></p>"


def test_filter_dup_spans_step(spark):
    from pg_vectorize_spark.pipelines import CorpusPipeline

    boiler = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [
            (1, boiler + " unique tail one"),
            (2, boiler + " other tail"),
            (3, "entirely original content with no shared windows at all here"),
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in CorpusPipeline(spark, df)
        .filter_dup_spans(max_fraction=0.5, k=5)
        .df()
        .collect()
    }
    # 1 and 2 are mostly shared boilerplate -> dropped; 3 survives
    assert kept == {3}


def test_chunk_embed_pool_step(spark):
    """Composite chunk->embed->pool: one pooled vector per source doc,
    equal to the mean of its chunk embeddings."""
    import numpy as np

    from pg_vectorize_spark.pipelines import CorpusPipeline
    from pg_vectorize_spark.providers.local import LocalHashEmbedder

    long_text = " ".join(f"word{i} token{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, long_text), (2, "short single chunk text")],
        "doc_id long, text string",
    )
    pipe = CorpusPipeline(spark, df)
    out = {
        r["doc_id"]: r
        for r in pipe.chunk_embed_pool(max_chunk_size=80, dim=16).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_vectors"] > 1  # long doc really was chunked
    assert out[2]["n_vectors"] == 1

    # cross-check doc 1 against a driver-side recompute
    chunks = sorted(
        (r["chunk_index"], r["chunk"])
        for r in pipe.chunk(80).filter("original_id = 1").collect()
    )
    embedder = LocalHashEmbedder(dim=16)
    vecs = np.array([embedder.embed_one(c) for _, c in chunks])
    expected = vecs.mean(axis=0)
    got = np.array(out[1]["pooled"])
    assert np.allclose(got, expected, atol=1e-12)


def test_with_bigram_logprob(spark):
    from pg_vectorize_spark.pipelines import CorpusPipeline

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 5),
            (2, "dog lazy the over jumps fox brown quick the " * 5),
        ],
        "doc_id long, text string",
    )
    out = (
        CorpusPipeline(spark, df, text_col="text", pkey="doc_id")
        .with_bigram_logprob()
        .df()
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_bigrams"] == rows[2]["n_bigrams"]
    assert rows[1]["mean_logprob"] is not None


def test_late_r10_steps(spark):
    """dedup_lines / sample_weighted / pack / bpe_tokenize compose."""
    from pg_vectorize_spark.pipelines import CorpusPipeline

    df = spark.createDataFrame(
        [
            (i, f"the quick brown fox number {i} jumps\nbanner line\n"
                f"banner line\nover the lazy dog again and again")
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    pipe = CorpusPipeline(spark, df, text_col="text", pkey="doc_id")

    cleaned = pipe.dedup_lines()
    t0 = cleaned.df().filter("doc_id = 0").collect()[0]["text"]
    assert t0.count("banner line") == 1

    samp = cleaned.sample_weighted(5)
    rows = samp.collect()
    assert len(rows) == 5
    assert {"sample_rank", "text", "doc_id"} <= set(samp.columns)

    packed = cleaned.pack(block_size=32)
    assert packed.count() == 30
    assert packed.agg({"n_tokens": "sum"}).collect()[0][0] > 0

    enc = cleaned.bpe_tokenize(n_merges=20).df()
    r = enc.filter("doc_id = 1").collect()[0]
    assert r["n_bpe_tokens"] >= r["n_words"] > 0


def test_write_shards_end_to_end(spark, tmp_path):
    """Fluent trainer hand-off: corpus -> BPE ids -> packed shards on
    disk with a clean manifest."""
    from pg_vectorize_spark.pipelines import CorpusPipeline
    from pg_vectorize_spark.sources.training_shards import validate_shards

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta {i % 4}") for i in range(10)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "shards")
    manifest = CorpusPipeline(spark, docs, "doc_id", "text").write_shards(
        path, block_size=16, blocks_per_shard=2, n_merges=20
    )
    rows = manifest.collect()
    assert rows and sum(r["n_blocks"] for r in rows) >= 2
    assert validate_shards(spark, path).count() == 0


def test_remove_dup_spans_step(spark):
    from pg_vectorize_spark.pipelines import CorpusPipeline

    span = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, f"one two {span} three"),
            (2, f"intro {span} outro"),
            (3, "nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    out = (
        CorpusPipeline(spark, docs, "doc_id", "text")
        .remove_dup_spans(k=5)
        .df()
    )
    got = {r["doc_id"]: (r["text"], r["was_rewritten"]) for r in out.collect()}
    assert got[1] == (f"one two {span} three", False)
    assert got[2] == ("intro outro", True)
    assert got[3] == ("nothing shared here at all", False)


def test_corpus_to_shards_composite_roundtrip(spark, tmp_path):
    """VERDICT r10 #4 composite: the full curate chain (quality gate ->
    line dedup -> ws normalize -> MinHash dedup) feeding the shard sink,
    with the written shards read back block-exactly via
    read_training_shard. Mirrors the `corpus_to_shards` oracle gate,
    which pins the block manifest against DuckDB; this pins the FILES."""
    from pyspark.sql import functions as F

    from pg_vectorize_spark.pipelines import CorpusPipeline
    from pg_vectorize_spark.sources.training_shards import (
        read_training_shard,
        validate_shards,
    )

    rows = []
    for i in range(20):
        # distinct text per doc, except every 5th doc duplicates doc 0's
        # (minhash dedup keeps only the min key of that clique); each doc
        # repeats its own first line (line dedup must drop the repeat)
        j = 0 if i % 5 == 0 else i
        line = f"alpha{j} beta{j} gamma{j} delta run {j} epsilon zeta"
        rows.append((i, f"{line}\n{line}\nomega psi tail {j}"))
    # a garble row the quality gate should drop
    rows.append((99, "zzk qqp lnx vvb kjh zxw"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pipe = (
        CorpusPipeline(spark, docs, "doc_id", "text")
        .filter_quality(min_score=0.3)
        .dedup_lines()
        .normalize_text(strip_html=False)
        .dedup("minhash")
    )
    curated = pipe.df()
    kept = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert 99 not in kept  # quality gate
    # the doc-0 duplicate clique {0, 5, 10, 15} collapsed to its min key
    assert 0 in kept and not kept & {5, 10, 15}
    # line dedup applied: the repeated first line is gone (it would read
    # "... zeta alpha..." if the repeat survived the collapse)
    assert curated.filter(F.col("text").rlike("zeta alpha")).count() == 0
    assert curated.filter(
        F.col("text").contains("zeta omega psi")
    ).count() == curated.count()

    path = str(tmp_path / "cshards")
    manifest = pipe.write_shards(
        path, block_size=16, blocks_per_shard=2, n_merges=20
    )
    mrows = manifest.collect()
    assert mrows and validate_shards(spark, path).count() == 0
    shard0 = sorted(r["shard"] for r in mrows)[0]
    blocks = read_training_shard(spark, path, shard0).collect()
    assert blocks
    for b in blocks:
        assert len(b["tokens"]) == 16


def test_write_shards_unimax_epochs_and_determinism(spark, tmp_path):
    """UniMax -> shard sink end-to-end (r10 stretch #7): a rare-language
    corpus slice gets multiple epoch copies (distinct block positions),
    the dominant language is budget-capped below one epoch, the written
    shards validate, and the whole path is bit-deterministic (two runs
    produce identical manifests)."""
    from pg_vectorize_spark.pipelines import CorpusPipeline
    from pg_vectorize_spark.sources.training_shards import (
        read_training_shard,
        validate_shards,
    )

    rows = [
        (i, f"the quick brown fox number {i} jumps over the lazy dog")
        for i in range(40)
    ] + [
        (100 + i, f"der schnelle braune fuchs nummer {i} und der hund")
        for i in range(4)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pipe = CorpusPipeline(spark, docs, "doc_id", "text")

    def run(path):
        return (
            pipe.write_shards_unimax(
                path,
                total_budget=500,
                max_epochs=3.0,
                block_size=16,
                blocks_per_shard=4,
                n_merges=20,
            )
            .orderBy("shard")
            .collect()
        )

    m1 = run(str(tmp_path / "u1"))
    m2 = run(str(tmp_path / "u2"))
    assert [r.asDict() for r in m1] == [r.asDict() for r in m2]
    assert validate_shards(spark, str(tmp_path / "u1")).count() == 0
    blocks = read_training_shard(spark, str(tmp_path / "u1"), m1[0]["shard"])
    assert blocks.count() >= 1


class TestDedupPackParity:
    """dedup_pack must be row-identical to the two-step
    dedup(method) + pack(block_size) chain (r14 optimization round:
    the fusion carries n_tokens through the survivor anti-join instead
    of re-tokenizing the surviving text — same expression, same keys)."""

    def _docs(self, spark):
        rows = [
            (i, f"document number {i} with some shared words and body "
                + ("alpha beta gamma " * (i % 5 + 1)))
            for i in range(1, 31)
        ]
        # exact duplicate cluster + a near-dup pair so both the star and
        # band-join branches of the LSH produce pairs
        rows += [(100, rows[2][1]), (101, rows[2][1]), (102, rows[2][1])]
        rows += [(110, rows[4][1] + " tail"), (111, rows[4][1] + " tails")]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.mark.parametrize("method", ["minhash", "simhash", "exact"])
    def test_fused_equals_chain(self, spark, method):
        df = self._docs(spark)
        pipe = CorpusPipeline(spark, df)
        chain = pipe.dedup(method).pack(block_size=32)
        fused = pipe.dedup_pack(
            block_size=32, method=method, order_buckets=1024
        )
        cols = sorted(chain.columns)
        assert sorted(fused.columns) == cols
        a = sorted(map(tuple, chain.select(*cols).collect()))
        b = sorted(map(tuple, fused.select(*cols).collect()))
        assert a == b and len(a) > 0

    def test_order_buckets_passthrough(self, spark):
        df = self._docs(spark)
        pipe = CorpusPipeline(spark, df)
        a = sorted(
            map(tuple, pipe.dedup_pack(32, order_buckets=4).collect())
        )
        b = sorted(
            map(tuple, pipe.dedup_pack(32, order_buckets=1024).collect())
        )
        # bucket count is a layout knob, never a semantics knob
        assert a == b
