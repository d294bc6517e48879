"""Persisted FTS postings index (the GIN-index analog, VERDICT r6 #1/#2):

- probe == full tokens-snapshot scan, lossless (matched set AND scores);
- the probe plan prunes at the parquet source (PartitionFilters on tb);
- the engine routes full_text_search and hybrid_search's FTS branch
  through the index when the job has one, with identical results to an
  unindexed job across all three rank modes;
- freshness from every ingest path: batch scan (insert/update), orphan
  cascade (delete), streaming micro-batches — indexed results always
  equal a fresh full rebuild;
- maintenance details: empty->nonempty transition, emptied-bucket
  clearing, layout-mismatch refusal, op-count compaction.

Reference parity anchors: core/src/query.rs:242-252 (CREATE INDEX ...
USING gin(search_tokens) at job init); the Postgres planner probing it
transparently for every FTS/hybrid query.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pg_vectorize_spark.engine import VectorizeSession
from pg_vectorize_spark.fts_index import JobFtsIndexManager
from pg_vectorize_spark.functions.text import (
    analyze_query,
    fts_match_expr,
    fts_score_expr,
    tokens_expr,
)

QUERY = "mobile phone charger devices"


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "mobile phone charger for fast devices"),
        (2, "desk lamp with adjustable arm"),
        (3, "phone case and charger bundle"),
        (4, "wireless mobile devices need a charger"),
        (5, "garden hose"),
        (6, ""),
        (7, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def tokens(docs):
    return docs.select(
        "doc_id", tokens_expr(F.col("text")).alias("search_tokens")
    )


def _scan_scores(tokens, terms):
    """The full-scan ranking the probe must reproduce exactly."""
    return (
        tokens.filter(fts_match_expr(F.col("search_tokens"), terms))
        .select(
            "doc_id",
            fts_score_expr(F.col("search_tokens"), terms).alias(
                "fts_score"
            ),
        )
    )


class TestProbeParity:
    def test_probe_equals_full_scan(self, spark, tokens, tmp_path):
        terms = analyze_query(QUERY)
        mgr = JobFtsIndexManager(
            spark, str(tmp_path / "fidx"), {"term_buckets": 8}
        )
        mgr.build(tokens, "doc_id")
        got = {
            r["doc_id"]: r["fts_score"]
            for r in mgr.probe_scores(terms).collect()
        }
        want = {
            r["doc_id"]: r["fts_score"]
            for r in _scan_scores(tokens, terms).collect()
        }
        assert got == want and len(want) > 0

    def test_empty_terms_probe_is_empty(self, spark, tokens, tmp_path):
        mgr = JobFtsIndexManager(spark, str(tmp_path / "fidx"))
        mgr.build(tokens, "doc_id")
        assert mgr.probe_scores([]).collect() == []

    def test_probe_plan_partition_prunes(self, spark, tokens, tmp_path):
        """The probe scan must carry PartitionFilters on tb — pruning at
        the parquet SOURCE, the property that makes the FTS branch read
        |query buckets|/term_buckets of the postings at 100 TB."""
        terms = analyze_query(QUERY)
        mgr = JobFtsIndexManager(
            spark, str(tmp_path / "fidx"), {"term_buckets": 16}
        )
        mgr.build(tokens, "doc_id")
        plan = mgr.probe(terms)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert re.search(r"PartitionFilters: \[[^\]]*tb", plan), plan
        # and the bucket list is a strict subset of the layout
        assert 0 < len(mgr.query_buckets(terms)) <= len(terms)

    def test_empty_corpus_then_upsert(self, spark, tmp_path):
        """A tokenless corpus builds an empty (has_data=False) index;
        probes short-circuit; the first real upsert transitions it."""
        empty = spark.createDataFrame(
            [(1, [])], "doc_id long, search_tokens array<string>"
        )
        mgr = JobFtsIndexManager(spark, str(tmp_path / "fidx"))
        mgr.build(empty, "doc_id")
        assert mgr.exists()
        assert mgr.probe_scores(["phone"]).collect() == []
        new = spark.createDataFrame(
            [(2, ["phone", "charger"])],
            "doc_id long, search_tokens array<string>",
        )
        mgr.upsert(new, "doc_id", None)
        got = mgr.probe_scores(["phone"]).collect()
        assert [r["doc_id"] for r in got] == [2]

    def test_layout_mismatch_refused(self, spark, tokens, tmp_path):
        mgr = JobFtsIndexManager(
            spark, str(tmp_path / "fidx"), {"term_buckets": 8}
        )
        mgr.build(tokens, "doc_id")
        wrong = JobFtsIndexManager(
            spark, str(tmp_path / "fidx"), {"term_buckets": 4}
        )
        with pytest.raises(ValueError, match="term_buckets"):
            wrong.upsert(tokens, "doc_id", None)
        with pytest.raises(ValueError, match="keyed on"):
            mgr._check_meta("other_key")


class TestMaintenance:
    def test_upsert_replaces_old_terms(self, spark, tokens, tmp_path):
        """An updated document's OLD terms must stop matching — the
        affected-bucket rewrite covers buckets of old AND new terms."""
        mgr = JobFtsIndexManager(
            spark, str(tmp_path / "fidx"), {"term_buckets": 8}
        )
        mgr.build(tokens, "doc_id")
        # doc 5 ("garden hose") becomes about phones
        new_tokens = spark.createDataFrame(
            [(5, ["phone", "upgrad"])],
            "doc_id long, search_tokens array<string>",
        )
        old = tokens.filter(F.col("doc_id") == 5)
        mgr.upsert(new_tokens, "doc_id", old)
        assert 5 in {
            r["doc_id"] for r in mgr.probe_scores(["phone"]).collect()
        }
        assert mgr.probe_scores(["garden"]).collect() == []  # bucket emptied

    def test_delete_cascade(self, spark, tokens, tmp_path):
        mgr = JobFtsIndexManager(
            spark, str(tmp_path / "fidx"), {"term_buckets": 8}
        )
        mgr.build(tokens, "doc_id")
        keys = spark.createDataFrame([(1,), (4,)], "doc_id long")
        n = mgr.delete(keys, "doc_id")
        assert n > 0
        left = {
            r["doc_id"]
            for r in mgr.probe_scores(analyze_query(QUERY)).collect()
        }
        assert left.isdisjoint({1, 4}) and 3 in left

    def test_compaction_cadence(self, spark, tokens, tmp_path):
        mgr = JobFtsIndexManager(
            spark,
            str(tmp_path / "fidx"),
            {"term_buckets": 2, "compact_every": 3},
        )
        mgr.build(tokens, "doc_id")
        terms = analyze_query(QUERY)
        before = {
            r["doc_id"]: r["fts_score"]
            for r in mgr.probe_scores(terms).collect()
        }
        phone_stem = analyze_query("phone")[0]  # the stored-token stem
        for i in range(4):  # crosses the cadence -> forced compact
            extra = spark.createDataFrame(
                [(100 + i, [phone_stem, f"extra{i}"])],
                "doc_id long, search_tokens array<string>",
            )
            mgr.upsert(extra, "doc_id", None)
        after = {
            r["doc_id"]: r["fts_score"]
            for r in mgr.probe_scores(terms).collect()
        }
        for k, v in before.items():
            assert after[k] == v
        assert all(100 + i in after for i in range(4))


@pytest.fixture()
def products_path(spark, products_df, tmp_path):
    p = str(tmp_path / "products.parquet")
    products_df.write.mode("overwrite").parquet(p)
    return p


class TestEngineIntegration:
    """The engine must serve IDENTICAL results with and without the
    postings index, across all rank modes and after every ingest path."""

    def _two_sessions(self, spark, tmp_path, products_path):
        s_idx = VectorizeSession(spark, workspace=str(tmp_path / "ws_i"))
        s_raw = VectorizeSession(spark, workspace=str(tmp_path / "ws_r"))
        s_idx.create_job(
            "p", products_path, columns=["product_name", "description"],
            primary_key="product_id",
        )  # fts_index defaults ON (GIN-at-init parity)
        s_raw.create_job(
            "p", products_path, columns=["product_name", "description"],
            primary_key="product_id", fts_index=False,
        )
        return s_idx, s_raw

    def test_index_built_at_job_init(self, spark, tmp_path, products_path):
        s_idx, s_raw = self._two_sessions(spark, tmp_path, products_path)
        assert s_idx._fts_mgr(s_idx.catalog.get("p")).exists()
        assert s_raw._fts_mgr(s_raw.catalog.get("p")) is None

    @pytest.mark.parametrize("rank", ["overlap", "cover_density", "bm25"])
    def test_fts_results_identical(
        self, spark, tmp_path, products_path, rank
    ):
        s_idx, s_raw = self._two_sessions(spark, tmp_path, products_path)
        a = s_idx.full_text_search("p", QUERY, num_results=5, rank=rank)
        b = s_raw.full_text_search("p", QUERY, num_results=5, rank=rank)
        assert a == b and len(a) > 0

    def test_hybrid_results_identical(self, spark, tmp_path, products_path):
        s_idx, s_raw = self._two_sessions(spark, tmp_path, products_path)
        a = s_idx.hybrid_search("p", QUERY, num_results=5)
        b = s_raw.hybrid_search("p", QUERY, num_results=5)
        assert a == b and len(a) > 0

    @pytest.mark.slow
    def test_freshness_insert_update_delete(
        self, spark, tmp_path, products_path, products_df
    ):
        s_idx, s_raw = self._two_sessions(spark, tmp_path, products_path)
        # INSERT + UPDATE: new row about xylophones; row 1 re-described
        updated = products_df.withColumn(
            "description",
            F.when(
                F.col("product_id") == 1,
                F.lit("now a xylophone tuning wrench"),
            ).otherwise(F.col("description")),
        )
        extra = spark.createDataFrame(
            [(99, "Xylophone", "a wooden xylophone", "music", 49.0)],
            products_df.schema,
        )
        updated.unionByName(extra).write.mode("overwrite").parquet(
            products_path
        )
        for s in (s_idx, s_raw):
            s.scan_job("p")  # detects the INSERT (pkey-based)
            # the job has no update_time_col, so row 1's rewrite is
            # invisible to scan_job — push it through the explicit
            # id-list path (the reference's S3 handle_table_update)
            s.handle_update("p", [1])
        a = s_idx.full_text_search("p", "xylophone wrench", num_results=5)
        b = s_raw.full_text_search("p", "xylophone wrench", num_results=5)
        assert a == b
        assert {r["product_id"] for r in a} >= {1, 99}
        # DELETE: drop row 99 from the source -> cascade prunes the index
        updated.write.mode("overwrite").parquet(products_path)
        for s in (s_idx, s_raw):
            s.scan_job("p")
        a = s_idx.full_text_search("p", "xylophone", num_results=5)
        b = s_raw.full_text_search("p", "xylophone", num_results=5)
        assert a == b
        assert 99 not in {r["product_id"] for r in a}

    def test_delete_job_drops_fts_index(
        self, spark, tmp_path, products_path
    ):
        import os

        s_idx, _ = self._two_sessions(spark, tmp_path, products_path)
        fdir = s_idx._job_dir("p", "fts_index")
        assert os.path.isdir(fdir)
        s_idx.delete_job("p")
        assert not os.path.isdir(fdir)

    def test_engine_probe_plan_pruned(
        self, spark, tmp_path, products_path
    ):
        s_idx, _ = self._two_sessions(spark, tmp_path, products_path)
        job = s_idx.catalog.get("p")
        probe = s_idx._fts_probe_scores(job, QUERY)
        plan = probe._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert re.search(r"PartitionFilters: \[[^\]]*tb", plan), plan


class TestStreamingFreshness:
    def test_stream_batches_keep_index_fresh(
        self, spark, tmp_path, products_df
    ):
        """VERDICT r6 #8: realtime micro-batches flow through the same
        _tokens_upsert hook, so indexed FTS equals the full-scan ranking
        after every batch — stream == batch agreement."""
        from pg_vectorize_spark.streaming.incremental import (
            RealtimePipeline,
        )

        src = str(tmp_path / "src")
        feed = str(tmp_path / "feed")
        products_df.filter("product_id < 0").write.parquet(src)
        sess = VectorizeSession(spark, workspace=str(tmp_path / "ws"))
        sess.create_job(
            "sp", src, columns=["product_name", "description"],
            primary_key="product_id", run_initial_load=False,
        )
        # two micro-batches (one file each)
        products_df.filter("product_id <= 3").coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        products_df.filter(
            "product_id > 3 and product_id <= 8"
        ).coalesce(1).write.mode("append").parquet(feed)
        pipe = RealtimePipeline(sess, "sp", max_files_per_trigger=1)
        q = pipe.start(source_dir=feed, available_now=True)
        q.awaitTermination(120)
        job = sess.catalog.get("sp")
        mgr = sess._fts_mgr(job)
        assert mgr is not None and mgr.exists()
        terms = analyze_query(QUERY)
        got = {
            r["product_id"]: r["fts_score"]
            for r in mgr.probe_scores(terms).collect()
        }
        toks = sess._tok_ds("sp").read()
        want = {
            r["product_id"]: r["fts_score"]
            for r in toks.filter(
                fts_match_expr(F.col("search_tokens"), terms)
            )
            .select(
                "product_id",
                fts_score_expr(F.col("search_tokens"), terms).alias(
                    "fts_score"
                ),
            )
            .collect()
        }
        assert got == want and len(want) > 0


class TestAdaptiveOverlay:
    """The r9 adaptive escape: wide updates/deletes land in the
    pending/tombstone overlay even with fastupdate=False, and while
    that overlay lives EVERY maintenance op must route through it —
    a direct main write against a tombstoned key's hidden stale
    postings would desync the index (resurrection on re-insert)."""

    def _mk(self, spark, tokens, tmp_path):
        # term_buckets=2 so ANY multi-term batch exceeds the half-index
        # adaptive threshold and forces the overlay path
        mgr = JobFtsIndexManager(
            spark,
            str(tmp_path / "aidx"),
            {"term_buckets": 2, "compact_every": 99},
        )
        mgr.build(tokens, "doc_id")
        return mgr

    def _probe_ids(self, mgr, query):
        return {
            r["doc_id"]
            for r in mgr.probe_scores(analyze_query(query)).collect()
        }

    def test_wide_delete_tombstones_then_reinsert_via_add(
        self, spark, docs, tokens, tmp_path
    ):
        mgr = self._mk(spark, tokens, tmp_path)
        old = tokens.filter("doc_id in (1, 2)")
        mgr.delete_with_tokens(
            spark.createDataFrame([(1,), (2,)], "doc_id long"),
            "doc_id",
            old,
        )
        # adaptive escape took the tombstone path (fastupdate off)
        assert not mgr.fastupdate and mgr._overlay_live()
        assert self._probe_ids(mgr, "mobile charger") == {3, 4}
        # re-insert doc 1 with DIFFERENT terms through the insert fast
        # path: its old 'mobile'/'charger' postings are still physically
        # in main, hidden only by the tombstone — the add must not
        # clear it (resurrection), so the new row rides the overlay
        new_row = spark.createDataFrame(
            [(1, "garden gnome statue")], "doc_id long, text string"
        ).select("doc_id", tokens_expr(F.col("text")).alias("search_tokens"))
        mgr.add(new_row, "doc_id")
        assert self._probe_ids(mgr, "mobile charger") == {3, 4}
        assert 1 in self._probe_ids(mgr, "garden gnome")
        # fold clears the overlay and preserves exactly the same truth
        assert mgr.maybe_compact(force=True) > 0
        assert not mgr._overlay_live()
        assert self._probe_ids(mgr, "mobile charger") == {3, 4}
        assert 1 in self._probe_ids(mgr, "garden gnome")

    def test_upsert_while_overlay_live_routes_through_overlay(
        self, spark, docs, tokens, tmp_path
    ):
        mgr = self._mk(spark, tokens, tmp_path)
        # overlay a wide update of doc 1 (terms change completely)
        v2 = spark.createDataFrame(
            [(1, "quantum flux capacitor")], "doc_id long, text string"
        ).select("doc_id", tokens_expr(F.col("text")).alias("search_tokens"))
        mgr.upsert(v2, "doc_id", tokens.filter("doc_id = 1"))
        assert mgr._overlay_live()
        # second upsert of the SAME key while the overlay lives: a
        # narrow main rewrite would derive affected buckets from the
        # CURRENT terms and miss the hidden originals
        v3 = spark.createDataFrame(
            [(1, "solar panel array")], "doc_id long, text string"
        ).select("doc_id", tokens_expr(F.col("text")).alias("search_tokens"))
        mgr.upsert(v3, "doc_id", v2)
        assert self._probe_ids(mgr, "mobile charger") == {3, 4}
        assert self._probe_ids(mgr, "quantum flux") == set()
        assert self._probe_ids(mgr, "solar panel") == {1}
        mgr.maybe_compact(force=True)
        assert self._probe_ids(mgr, "mobile charger") == {3, 4}
        assert self._probe_ids(mgr, "quantum flux") == set()
        assert self._probe_ids(mgr, "solar panel") == {1}

    def test_overlay_probe_plan_still_prunes(
        self, spark, tokens, tmp_path
    ):
        """Plan lock: a live overlay must not cost the probe its
        partition pruning — the main scan keeps PartitionFilters on tb,
        the tombstone anti-join broadcasts (churn-bounded side), and the
        pending union stays a scan of the (batch-churn-sized) store."""
        mgr = JobFtsIndexManager(
            spark,
            str(tmp_path / "pidx"),
            {"term_buckets": 16, "compact_every": 99},
        )
        mgr.build(tokens, "doc_id")
        v2 = spark.createDataFrame(
            [(1, "quantum flux capacitor")], "doc_id long, text string"
        ).select(
            "doc_id", tokens_expr(F.col("text")).alias("search_tokens")
        )
        # force the overlay regardless of threshold via fastupdate-free
        # wide update: term_buckets=16 and the doc-1 old tokens + new
        # tokens span > 8 buckets is not guaranteed for this tiny text,
        # so drive the overlay deliberately through a wide DELETE of
        # docs 2..4 (their combined vocabulary spans the index)
        mgr.delete_with_tokens(
            spark.createDataFrame([(2,), (3,), (4,)], "doc_id long"),
            "doc_id",
            tokens.filter("doc_id in (2, 3, 4)"),
        )
        if not mgr._overlay_live():
            mgr.upsert(v2, "doc_id", tokens.filter("doc_id = 1"))
        assert mgr._overlay_live()
        terms = analyze_query(QUERY)
        plan = mgr.probe(terms)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert re.search(r"PartitionFilters: \[[^\]]*tb", plan), plan
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan

    def test_rebuild_clears_stale_overlay(self, spark, tokens, tmp_path):
        mgr = self._mk(spark, tokens, tmp_path)
        mgr.delete_with_tokens(
            spark.createDataFrame([(1,)], "doc_id long"),
            "doc_id",
            tokens.filter("doc_id = 1"),
        )
        assert mgr._overlay_live()
        # crash-recovery rebuild from the (unchanged) tokens snapshot:
        # doc 1 is back per the snapshot, and the stale tombstone must
        # not shadow it
        mgr.build(tokens, "doc_id")
        assert not mgr._overlay_live()
        assert 1 in self._probe_ids(mgr, "mobile charger")


class TestXxhash64Parity:
    """query_buckets maps terms to partition buckets with a pure-Python
    XXH64 (zero Spark jobs on the probe path); a single bit of drift
    from the layout's ``pmod(xxhash64(term), n)`` would make postings
    silently unfindable, so parity with the Spark expression is pinned
    property-style across byte-length regimes (empty, <4, 4-7, 8-31,
    >=32 — every tail branch of the algorithm) and non-ASCII."""

    def test_matches_spark_xxhash64(self, spark):
        import random
        import string

        from pg_vectorize_spark.fts_index import _xxh64, term_bucket

        rng = random.Random(20260815)
        samples = [
            "",
            "a",
            "abc",
            "abcd",
            "abcdefg",
            "abcdefgh",
            "x" * 31,
            "x" * 32,
            "x" * 33,
            "abcdefgh" * 8,
            "üñîçødé-тест-漢字",
            *(
                "".join(
                    rng.choices(string.printable, k=rng.randint(0, 64))
                )
                for _ in range(40)
            ),
            *(
                "".join(
                    chr(rng.randint(1, 0x10FF))
                    for _ in range(rng.randint(1, 40))
                )
                for _ in range(15)
            ),
        ]
        df = spark.createDataFrame([(s,) for s in samples], "term string")
        want_hash = [r[0] for r in df.select(F.xxhash64("term")).collect()]
        want_bucket = [
            r[0]
            for r in df.select(
                F.pmod(F.xxhash64("term"), F.lit(64)).cast("int")
            ).collect()
        ]
        for s, wh, wb in zip(samples, want_hash, want_bucket):
            h = _xxh64(s.encode("utf-8"))
            if h >= 1 << 63:
                h -= 1 << 64
            assert h == wh, repr(s)
            assert term_bucket(s, 64) == wb, repr(s)

class TestGatePlanLock:
    def test_fts_indexed_gate_partition_prunes(self, spark):
        """The fts_search_indexed gate's postings scan must prune at the
        parquet SOURCE (PartitionFilters on tb) — the plan that reads
        |query buckets|/64 of the postings at 100 TB."""
        import __spark_entry__ as entrymod

        df = entrymod.queries()["fts_search_indexed"](
            spark, "/root/testdata/sf0.001"
        )
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert re.search(r"PartitionFilters: \[[^\]]*tb", plan), plan
        assert "TakeOrderedAndProject" in plan, plan

    def test_hybrid_indexed_gate_partition_prunes(self, spark):
        import __spark_entry__ as entrymod

        df = entrymod.queries()["hybrid_rrf_indexed"](
            spark, "/root/testdata/sf0.001"
        )
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert re.search(r"PartitionFilters: \[[^\]]*tb", plan), plan


class TestDeleteWithTokens:
    def test_matches_scan_based_delete(self, spark, tokens, tmp_path):
        """The token-hinted delete must leave the index exactly as the
        scan-based delete would — including emptied-bucket cleanup."""
        from pg_vectorize_spark.functions.text import analyze_query

        a = JobFtsIndexManager(
            spark, str(tmp_path / "a"), {"term_buckets": 4}
        )
        b = JobFtsIndexManager(
            spark, str(tmp_path / "b"), {"term_buckets": 4}
        )
        a.build(tokens, "doc_id")
        b.build(tokens, "doc_id")
        keys = spark.createDataFrame([(5,), (2,)], "doc_id long")
        hint = tokens.join(keys, "doc_id", "left_semi")
        a.delete_with_tokens(keys, "doc_id", hint)
        b.delete(keys, "doc_id")
        terms = analyze_query(QUERY) + ["garden", "desk", "lamp"]
        got_a = {
            (r["doc_id"], r["fts_score"])
            for r in a.probe_scores(terms).collect()
        }
        got_b = {
            (r["doc_id"], r["fts_score"])
            for r in b.probe_scores(terms).collect()
        }
        assert got_a == got_b
        assert {d for d, _ in got_a}.isdisjoint({2, 5})

    def test_engine_cascade_uses_hint(self, spark, tmp_path, products_df):
        """End-to-end: a source delete cascades through cleanup_orphans
        with the token-hinted postings delete; the doc stops matching."""
        p = str(tmp_path / "products.parquet")
        products_df.write.mode("overwrite").parquet(p)
        sess = VectorizeSession(spark, workspace=str(tmp_path / "ws"))
        sess.create_job(
            "p", p, columns=["product_name", "description"],
            primary_key="product_id",
        )
        before = sess.full_text_search("p", "desk lamp", num_results=5)
        assert any(r["product_id"] == 3 for r in before)
        products_df.filter("product_id <> 3").write.mode(
            "overwrite"
        ).parquet(p)
        sess.scan_job("p")
        after = sess.full_text_search("p", "desk lamp", num_results=5)
        assert all(r["product_id"] != 3 for r in after)


class TestFastupdate:
    """GIN pending-list analog (fastupdate=True): identical probe
    results to the rewrite-per-batch default across mixed op sequences,
    before AND after the compaction fold."""

    def _probe_all(self, mgr, term_lists):
        out = []
        for terms in term_lists:
            out.append(
                sorted(
                    (r["doc_id"], r["fts_score"])
                    for r in mgr.probe_scores(terms).collect()
                )
            )
        return out

    @pytest.mark.slow
    def test_mixed_ops_equivalence_and_fold(self, spark, tokens, tmp_path):
        from pg_vectorize_spark.functions.text import analyze_query

        slow = JobFtsIndexManager(
            spark, str(tmp_path / "slow"), {"term_buckets": 4}
        )
        fast = JobFtsIndexManager(
            spark,
            str(tmp_path / "fast"),
            {"term_buckets": 4, "fastupdate": True, "compact_every": 99},
        )
        slow.build(tokens, "doc_id")
        fast.build(tokens, "doc_id")
        upd = spark.createDataFrame(
            [(5, ["phone", "upgrad"]), (2, ["charger", "lamp"])],
            "doc_id long, search_tokens array<string>",
        )
        old = tokens.filter(F.col("doc_id").isin([5, 2]))
        slow.upsert(upd, "doc_id", old)
        fast.upsert(upd, "doc_id", None)
        dels = spark.createDataFrame([(4,)], "doc_id long")
        slow.delete_with_tokens(
            dels, "doc_id", tokens.filter("doc_id = 4")
        )
        fast.delete(dels, "doc_id")
        new = spark.createDataFrame(
            [(9, ["phone", "fresh"])], "doc_id long, search_tokens array<string>"
        )
        slow.add(new, "doc_id")
        fast.add(new, "doc_id")
        term_lists = [
            analyze_query(QUERY),
            ["phone"],
            ["garden"],
            ["charger", "lamp", "upgrad", "fresh"],
        ]
        assert self._probe_all(fast, term_lists) == self._probe_all(
            slow, term_lists
        )
        # fold: overlay merges into main, stores cleared, results stable
        import os

        n = fast.maybe_compact(force=True)
        assert n > 0
        assert not os.path.isdir(os.path.join(fast.index_dir, "_pending"))
        assert not os.path.isdir(
            os.path.join(fast.index_dir, "_tombstones")
        )
        assert self._probe_all(fast, term_lists) == self._probe_all(
            slow, term_lists
        )

    def test_deleted_then_reinserted_key_visible(self, spark, tokens, tmp_path):
        fast = JobFtsIndexManager(
            spark,
            str(tmp_path / "f2"),
            {"term_buckets": 4, "fastupdate": True, "compact_every": 99},
        )
        fast.build(tokens, "doc_id")
        fast.delete(
            spark.createDataFrame([(3,)], "doc_id long"), "doc_id"
        )
        assert 3 not in {
            r["doc_id"] for r in fast.probe_scores(["phone"]).collect()
        }
        # re-insert through the append path: the old tombstone must not
        # hide the fresh postings
        fast.add(
            spark.createDataFrame(
                [(3, ["phone", "reborn"])],
                "doc_id long, search_tokens array<string>",
            ),
            "doc_id",
        )
        assert 3 in {
            r["doc_id"] for r in fast.probe_scores(["phone"]).collect()
        }

    def test_engine_opt_in(self, spark, tmp_path, products_df):
        p = str(tmp_path / "products.parquet")
        products_df.write.mode("overwrite").parquet(p)
        s_fast = VectorizeSession(spark, workspace=str(tmp_path / "wf"))
        s_slow = VectorizeSession(spark, workspace=str(tmp_path / "ws"))
        s_fast.create_job(
            "p", p, columns=["product_name", "description"],
            primary_key="product_id",
            fts_params={"fastupdate": True, "compact_every": 99},
        )
        s_slow.create_job(
            "p", p, columns=["product_name", "description"],
            primary_key="product_id",
        )
        for s in (s_fast, s_slow):
            s.handle_update("p", [1, 4])  # update cycle
        a = s_fast.full_text_search("p", QUERY, num_results=5)
        b = s_slow.full_text_search("p", QUERY, num_results=5)
        assert a == b and len(a) > 0

    def test_streaming_fastupdate_agrees_with_batch(
        self, spark, tmp_path, products_df
    ):
        """Micro-batched updates through a fastupdate job must leave the
        probe equal to the full-scan ranking (stream == batch), with the
        overlay still unfolded."""
        from pg_vectorize_spark.functions.text import (
            analyze_query,
            fts_match_expr,
            fts_score_expr,
        )
        from pg_vectorize_spark.streaming.incremental import (
            RealtimePipeline,
        )

        src = str(tmp_path / "src")
        feed = str(tmp_path / "feed")
        products_df.filter("product_id < 0").write.parquet(src)
        sess = VectorizeSession(spark, workspace=str(tmp_path / "ws"))
        sess.create_job(
            "sf", src, columns=["product_name", "description"],
            primary_key="product_id", run_initial_load=False,
            fts_params={"fastupdate": True, "compact_every": 99},
        )
        # batch 1 inserts; batch 2 RE-WRITES the same rows (update path)
        products_df.filter("product_id <= 6").coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        products_df.filter("product_id <= 6").withColumn(
            "description", F.concat(F.col("description"), F.lit(" updated"))
        ).coalesce(1).write.mode("append").parquet(feed)
        pipe = RealtimePipeline(sess, "sf", max_files_per_trigger=1)
        q = pipe.start(source_dir=feed, available_now=True)
        q.awaitTermination(120)
        job = sess.catalog.get("sf")
        mgr = sess._fts_mgr(job)
        assert mgr is not None and mgr.fastupdate and mgr.exists()
        terms = analyze_query("updated charger lamp pencil")
        got = {
            r["product_id"]: r["fts_score"]
            for r in mgr.probe_scores(terms).collect()
        }
        toks = sess._tok_ds("sf").read()
        want = {
            r["product_id"]: r["fts_score"]
            for r in toks.filter(
                fts_match_expr(F.col("search_tokens"), terms)
            )
            .select(
                "product_id",
                fts_score_expr(F.col("search_tokens"), terms).alias(
                    "fts_score"
                ),
            )
            .collect()
        }
        assert got == want and len(want) > 0
        # every updated row must now match the 'updated' term
        upd_stem = analyze_query("updated")[0]
        hit = {
            r["product_id"]
            for r in mgr.probe_scores([upd_stem]).collect()
        }
        assert hit == set(range(1, 7))


class TestMultiProbe:
    """probe_scores_multi: one shared pruned pass over the union of N
    term sets must be row-identical to N separate probe_scores calls —
    fresh-built, with fastupdate overlays pending, and after the fold
    (the q_fts_multilang_indexed gate relies on this parity)."""

    def _rows(self, df):
        return sorted(
            (r["doc_id"], r["fts_score"]) for r in df.collect()
        )

    def _assert_multi_equals_single(self, mgr, term_lists):
        multi = mgr.probe_scores_multi(term_lists)
        assert len(multi) == len(term_lists)
        for terms, got in zip(term_lists, multi):
            assert self._rows(got) == self._rows(
                mgr.probe_scores(terms)
            ), terms

    def test_parity_fresh_index(self, spark, tokens, tmp_path):
        mgr = JobFtsIndexManager(
            spark, str(tmp_path / "fidx"), {"term_buckets": 8}
        )
        mgr.build(tokens, "doc_id")
        self._assert_multi_equals_single(
            mgr,
            [
                analyze_query(QUERY),          # multi-term, overlaps next
                ["phone"],                      # subset of previous
                ["garden"],                     # disjoint, single doc
                ["nonexistent"],                # no matches
                [],                             # empty set -> empty frame
                ["lamp", "hose", "charger"],   # cross-bucket mix
            ],
        )

    def test_single_live_set_delegates(self, spark, tokens, tmp_path):
        mgr = JobFtsIndexManager(spark, str(tmp_path / "fidx"))
        mgr.build(tokens, "doc_id")
        self._assert_multi_equals_single(mgr, [["phone"], []])
        self._assert_multi_equals_single(mgr, [[]])

    def test_parity_with_overlays_and_after_fold(
        self, spark, tokens, tmp_path
    ):
        mgr = JobFtsIndexManager(
            spark,
            str(tmp_path / "fast"),
            {"term_buckets": 4, "fastupdate": True, "compact_every": 99},
        )
        mgr.build(tokens, "doc_id")
        mgr.upsert(
            spark.createDataFrame(
                [(5, ["phone", "upgrad"]), (2, ["charger", "lamp"])],
                "doc_id long, search_tokens array<string>",
            ),
            "doc_id",
            None,
        )
        mgr.delete(
            spark.createDataFrame([(4,)], "doc_id long"), "doc_id"
        )
        mgr.add(
            spark.createDataFrame(
                [(9, ["phone", "fresh"])],
                "doc_id long, search_tokens array<string>",
            ),
            "doc_id",
        )
        term_lists = [
            analyze_query(QUERY),
            ["phone", "fresh"],
            ["charger", "lamp", "upgrad"],
            ["garden"],
        ]
        # tombstones + pending store present: shared pass consults both
        self._assert_multi_equals_single(mgr, term_lists)
        assert mgr.maybe_compact(force=True) > 0
        self._assert_multi_equals_single(mgr, term_lists)


class TestAwkwardTermsAndKeys:
    """Terms and key names that used to take the Column fallback (quotes,
    backslashes, control characters, ``${...}``, a non-identifier key)
    go through the same one-parse predicate and must score exactly like
    an independent Python overlap count — fresh, under the fastupdate
    overlay, and through the shared multi-probe."""

    PKEY = "1abc"
    ODD = ["o'brien", "back\\slash", "nul\x00byte", "line\nbreak",
           "${x}", "${spark.app.name}", "$\\{esc}"]
    DOCS = {
        1: ["o'brien", "plain"],
        2: ["back\\slash", "nul\x00byte", "line\nbreak"],
        3: ["${x}", "plain"],
        4: ["${spark.app.name}", "$\\{esc}"],
        5: ["other"],
    }

    def _frame(self, spark, docs):
        return spark.createDataFrame(
            sorted(docs.items()),
            f"`{self.PKEY}` long, search_tokens array<string>",
        )

    @staticmethod
    def _reference(docs, terms):
        want = {}
        for key, toks in docs.items():
            n = len(set(toks) & set(terms))
            if n:
                want[key] = (float(n) / float(len(terms))).hex()
        return want

    def _got(self, df):
        return {r[self.PKEY]: r["fts_score"].hex() for r in df.collect()}

    def _check(self, mgr, docs):
        term_sets = [self.ODD, ["o'brien"], ["${x}", "plain"], ["absent"]]
        for terms, multi in zip(term_sets, mgr.probe_scores_multi(term_sets)):
            want = self._reference(docs, terms)
            assert self._got(mgr.probe_scores(terms)) == want, terms
            assert self._got(multi) == want, terms
        assert self._got(mgr.probe_scores([])) == {}

    def test_fresh_index(self, spark, tmp_path):
        mgr = JobFtsIndexManager(
            spark, str(tmp_path / "fidx"), {"term_buckets": 4}
        )
        mgr.build(self._frame(spark, self.DOCS), self.PKEY)
        self._check(mgr, self.DOCS)

    def test_fastupdate_overlay(self, spark, tmp_path):
        mgr = JobFtsIndexManager(
            spark,
            str(tmp_path / "fast"),
            {"term_buckets": 4, "fastupdate": True, "compact_every": 99},
        )
        mgr.build(self._frame(spark, self.DOCS), self.PKEY)
        changed = {5: ["${x}", "line\nbreak"], 1: ["plain"]}
        mgr.upsert(self._frame(spark, changed), self.PKEY, None)
        docs = {**self.DOCS, **changed}
        self._check(mgr, docs)
