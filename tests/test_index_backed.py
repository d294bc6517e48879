"""Index-backed job search (VERDICT r5 #1-#3): the engine's search()
routes through the persisted per-job index, ingest paths keep it fresh,
and IVF-PQ has incremental maintenance.

Reference behavior being reproduced: job creation builds a physical
vector index (core/src/query.rs:359-396, extension/src/init.rs:55-146),
vectorize.search() uses it transparently via the Postgres planner, and
Postgres maintains it on every INSERT/UPDATE/DELETE. Parity bar in these
tests: with probe parameters covering the whole corpus, an index-backed
search must return EXACTLY the brute-force ranking — same ids, same
scores — after any sequence of ingest mutations.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg_vectorize_spark.engine import VectorizeSession
from pg_vectorize_spark.operators.search import semantic_search

QUERY = "spark window merge batch data"

#: full-coverage probe parameters per method: every cell/bucket probed
#: (ivf/signbit) or every row in the rerank window (ivfpq), so the
#: indexed result is provably the exact ranking and the parity check is
#: deterministic for ANY corpus — the plumbing is what's under test
FULL_COVERAGE = {
    "ivf": {"n_centroids": 4, "nprobe": 4},
    "signbit": {"nbits": 3, "probe_hamming": 3},
    "ivfpq": {
        "n_centroids": 4,
        "nprobe": 4,
        "rerank_candidates": 1000,
        "pq_m": 8,
        "pq_k": 8,
        "residual": False,
    },
    "ivfpq_residual": {
        "n_centroids": 4,
        "nprobe": 4,
        "rerank_candidates": 1000,
        "pq_m": 8,
        "pq_k": 8,
        "residual": True,
    },
}


@pytest.fixture(scope="module")
def corpus_src(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("idxsrc")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.col("doc_id").alias("id"), F.col("text").alias("content"))
        .filter(F.col("id") < 150)
    )
    path = str(root / "docs")
    docs.write.parquet(path)
    return path


def _mk_job(spark, tmp_path, corpus_src, method, params, name="ijob"):
    sess = VectorizeSession(spark, workspace=str(tmp_path / f"ws_{name}"))
    sess.create_job(
        name,
        corpus_src,
        columns=["content"],
        primary_key="id",
        index_method=method,
        index_params=params,
    )
    return sess


def _brute_expected(sess, job_name, query, k=10, **kw):
    """The exact ranking over the job's CURRENT embeddings snapshot —
    what a brute job would return."""
    job = sess.catalog.get(job_name)
    qv = sess._query_vec(job, query, None)
    df = semantic_search(
        sess._source_df(job),
        sess._emb_ds(job_name).read().select(job.primary_key, "embeddings"),
        job.primary_key,
        qv,
        num_results=k,
        pre_normalized=True,
        **kw,
    )
    return [
        (r["id"], round(r["similarity_score"], 10)) for r in df.collect()
    ]


def _indexed_actual(sess, job_name, query, k=10, **kw):
    out = sess.search(job_name, query, num_results=k, **kw)
    return [(r["id"], round(r["similarity_score"], 10)) for r in out]


class TestIndexedSearchParity:
    @pytest.mark.parametrize("variant", sorted(FULL_COVERAGE))
    def test_search_equals_brute(
        self, spark, tmp_path, corpus_src, variant
    ):
        method = "ivfpq" if variant.startswith("ivfpq") else variant
        sess = _mk_job(
            spark, tmp_path, corpus_src, method, FULL_COVERAGE[variant],
            name=f"par_{variant}",
        )
        job = sess.catalog.get(f"par_{variant}")
        assert sess._index_mgr(job).exists()  # built by the initial scan
        assert _indexed_actual(sess, f"par_{variant}", QUERY) == (
            _brute_expected(sess, f"par_{variant}", QUERY)
        )

    def test_filter_placement_matches_brute(
        self, spark, tmp_path, corpus_src
    ):
        """Post-ranking where_sql placement is unchanged by the index
        routing (reference: filters apply to the scored join,
        core/src/query.rs:653-701)."""
        sess = _mk_job(
            spark, tmp_path, corpus_src, "ivf", FULL_COVERAGE["ivf"],
            name="filt",
        )
        kw = {"where_sql": "id % 2 = 0"}
        assert _indexed_actual(sess, "filt", QUERY, **kw) == (
            _brute_expected(sess, "filt", QUERY, **kw)
        )

    def test_delete_job_drops_index(self, spark, tmp_path, corpus_src):
        import os

        sess = _mk_job(
            spark, tmp_path, corpus_src, "ivf", FULL_COVERAGE["ivf"],
            name="drop",
        )
        idx_dir = sess._job_dir("drop", "index")
        assert os.path.isdir(idx_dir)
        sess.delete_job("drop")
        assert not os.path.isdir(idx_dir)

    def test_invalid_method_rejected(self, spark, tmp_path, corpus_src):
        from pg_vectorize_spark.errors import VectorizeError

        sess = VectorizeSession(spark, workspace=str(tmp_path / "ws_bad"))
        with pytest.raises(VectorizeError, match="index_method"):
            sess.create_job(
                "bad", corpus_src, columns=["content"], primary_key="id",
                index_method="hnsw",
            )


@pytest.mark.slow
class TestIndexFreshness:
    """VERDICT r5 #2 done-criterion: a stream of insert/update/delete
    micro-batches leaves the indexed search identical to the exact
    ranking over the resulting snapshot after EVERY batch."""

    def _batches(self, spark):
        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select(
                F.col("doc_id").alias("id"), F.col("text").alias("content")
            )
        )
        ins = docs.filter((F.col("id") >= 150) & (F.col("id") < 200)).select(
            "id", "content", F.lit("insert").alias("_change_type")
        )
        upd = docs.filter(F.col("id") < 30).select(
            "id",
            F.concat(F.lit("updated "), "content").alias("content"),
            F.lit("update_postimage").alias("_change_type"),
        )
        dele = docs.filter((F.col("id") % 5 == 0) & (F.col("id") < 100)).select(
            "id",
            F.lit(None).cast("string").alias("content"),
            F.lit("delete").alias("_change_type"),
        )
        return [ins, upd, dele]

    @pytest.mark.parametrize("method", ["ivf", "ivfpq"])
    def test_stream_batches_keep_index_exact(
        self, spark, tmp_path, corpus_src, method
    ):
        from pg_vectorize_spark.streaming.incremental import (
            ChangeFeedPipeline,
        )

        params = FULL_COVERAGE[method]
        name = f"fresh_{method}"
        sess = _mk_job(
            spark, tmp_path, corpus_src, method, params, name=name
        )
        pipe = ChangeFeedPipeline(sess, name)
        for i, batch in enumerate(self._batches(spark)):
            pipe.process_batch(batch, i)
            assert _indexed_actual(sess, name, QUERY) == (
                _brute_expected(sess, name, QUERY)
            ), f"divergence after batch {i}"
        # physical checks: deleted keys left the index, inserts landed
        idx = spark.read.parquet(sess._job_dir(name, "index"))
        ids = {r["id"] for r in idx.select("id").collect()}
        assert not any(i % 5 == 0 and i < 100 for i in ids)
        assert any(i >= 150 for i in ids)
        # snapshot and index hold the same key set
        snap_ids = {
            r["id"] for r in sess._emb_ds(name).read().select("id").collect()
        }
        assert ids == snap_ids

    def test_scan_job_keeps_index_exact(self, spark, tmp_path):
        """Batch-path freshness: source overwrite (updates + deletes) ->
        scan_job -> indexed search still the exact ranking; the orphan
        cascade pruned the index."""
        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select(
                F.col("doc_id").alias("id"), F.col("text").alias("content")
            )
            .filter(F.col("id") < 150)
        )
        src = str(tmp_path / "mut_src")
        docs.write.parquet(src)
        sess = VectorizeSession(spark, workspace=str(tmp_path / "ws_scan"))
        sess.create_job(
            "scanjob", src, columns=["content"], primary_key="id",
            update_time_col=None,
            index_method="ivf", index_params=FULL_COVERAGE["ivf"],
        )
        # mutate: drop ids % 7 == 0, rewrite text of ids < 20
        new = docs.filter(F.col("id") % 7 != 0).withColumn(
            "content",
            F.when(
                F.col("id") < 20, F.concat(F.lit("v2 "), "content")
            ).otherwise(F.col("content")),
        )
        new.write.mode("overwrite").parquet(src)
        sess.scan_job("scanjob")
        assert _indexed_actual(sess, "scanjob", QUERY) == (
            _brute_expected(sess, "scanjob", QUERY)
        )
        idx_ids = {
            r["id"]
            for r in spark.read.parquet(sess._job_dir("scanjob", "index"))
            .select("id")
            .collect()
        }
        assert not any(i % 7 == 0 for i in idx_ids)


@pytest.mark.slow
class TestIvfPqIncrementalMaintenance:
    """Operator-level IVF-PQ maintenance (VERDICT r5 #3), mirroring
    TestIvfIncrementalMaintenance: add lands in the frozen quantizer's
    cells with the frozen codebook, delete rewrites only affected cells,
    and search over the maintained index equals a from-scratch build of
    the same final corpus."""

    def _setup(self, spark, tmp_path, residual=False):
        from pg_vectorize_spark.operators.ann import default_centroids
        from pg_vectorize_spark.operators.pq import (
            build_ivfpq_index,
            pq_train_numpy,
            train_pq_residual_sample,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", F.col("embedding").alias("embeddings"))
        cents = default_centroids(emb, "vec_id", "embeddings", n_centroids=8)
        if residual:
            codebook = train_pq_residual_sample(
                emb, cents, "vec_id", "embeddings", m=8, k=8
            )
        else:
            sample = emb.orderBy("vec_id").limit(512).collect()
            codebook = pq_train_numpy(
                [[float(x) for x in r["embeddings"]] for r in sample],
                m=8,
                k=8,
            )
        old = emb.filter(F.col("vec_id") % 2 == 0)
        new = emb.filter(F.col("vec_id") % 2 == 1)
        idx = str(tmp_path / "ivfpq_incr")
        build_ivfpq_index(
            old, cents, codebook, "vec_id", "embeddings", idx,
            residual=residual,
        )
        return emb, cents, codebook, old, new, idx

    def _topk(self, spark, idx, cents, emb, codebook, residual, k=10):
        from pg_vectorize_spark.operators.pq import ivfpq_topk

        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).head()["embeddings"]
        ]
        return [
            (r["vec_id"], round(r["similarity_score"], 10))
            for r in ivfpq_topk(
                spark, idx, cents, emb, codebook, "vec_id", "embeddings",
                qv, k=k, nprobe=8, rerank_candidates=4000,
                residual=residual,
            ).collect()
        ]

    @pytest.mark.parametrize("residual", [False, True])
    def test_add_equals_full_rebuild(self, spark, tmp_path, residual):
        from pg_vectorize_spark.operators.pq import (
            build_ivfpq_index,
            ivfpq_index_add,
        )

        emb, cents, codebook, old, new, idx = self._setup(
            spark, tmp_path, residual
        )
        ivfpq_index_add(
            new, cents, codebook, "vec_id", "embeddings", idx,
            residual=residual,
        )
        full_idx = str(tmp_path / "ivfpq_full")
        build_ivfpq_index(
            emb, cents, codebook, "vec_id", "embeddings", full_idx,
            residual=residual,
        )
        a = self._topk(spark, idx, cents, emb, codebook, residual)
        b = self._topk(spark, full_idx, cents, emb, codebook, residual)
        assert a == b
        assert any(v % 2 == 1 for v, _ in a)  # added ids are findable
        # incremental codes must be BIT-IDENTICAL to build-time codes
        inc = {
            r["vec_id"]: (list(r["pq_codes"]), r["cell"])
            for r in spark.read.parquet(idx).collect()
        }
        full = {
            r["vec_id"]: (list(r["pq_codes"]), r["cell"])
            for r in spark.read.parquet(full_idx).collect()
        }
        assert inc == full

    def test_delete_prunes_and_meta_guard(self, spark, tmp_path):
        from pg_vectorize_spark.operators.pq import (
            ivfpq_index_add,
            ivfpq_index_delete,
            pq_train_numpy,
        )

        emb, cents, codebook, old, new, idx = self._setup(spark, tmp_path)
        keys = old.filter(F.col("vec_id") % 10 == 0).select("vec_id")
        n = ivfpq_index_delete(spark, idx, keys, "vec_id")
        assert n == keys.count()
        left = {
            r["vec_id"] for r in spark.read.parquet(idx).collect()
        }
        assert not any(v % 10 == 0 for v in left)
        # a mismatched codebook shape must be refused, not mis-encoded
        other = pq_train_numpy(
            [[float(i) / 64 for i in range(64)] for _ in range(16)],
            m=4,
            k=4,
        )
        with pytest.raises(ValueError, match="pq_m"):
            ivfpq_index_add(
                new, cents, other, "vec_id", "embeddings", idx
            )

    def test_residual_mode_mismatch_refused(self, spark, tmp_path):
        from pg_vectorize_spark.operators.pq import ivfpq_index_add

        emb, cents, codebook, old, new, idx = self._setup(
            spark, tmp_path, residual=True
        )
        with pytest.raises(ValueError, match="residual"):
            ivfpq_index_add(
                new, cents, codebook, "vec_id", "embeddings", idx,
                residual=False,
            )


class TestIndexedGatePlan:
    def test_gate_query_partition_prunes_index_scan(self, spark):
        """The semantic_search_indexed gate's index scan must prune at
        the parquet SOURCE (PartitionFilters on cell), and plan as scan
        -> broadcast join -> TakeOrdered with no shuffle — the plan that
        reads nprobe/n_centroids of the data at 100 TB."""
        import re

        import __spark_entry__ as entrymod
        from pg_vectorize_spark.plans.inspect import plan_report

        df = entrymod.queries()["semantic_search_indexed"](
            spark, "/root/testdata/sf0.001"
        )
        rep = plan_report(df)
        assert re.search(r"PartitionFilters: \[[^\]]*cell", rep.text), (
            rep.text
        )
        assert rep.has_take_ordered, rep.summary()
        assert rep.n_exchanges == 0, rep.summary()


class TestProbeAutoWiden:
    """A top-k search against a thin cell must widen the probe until k
    candidates exist (the reference's HNSW always yields k when the
    corpus has them), instead of silently returning fewer rows."""

    def _sparse_corpus(self, spark):
        # cluster A: 3 vectors near e1; cluster B: 37 vectors near e2 —
        # a query at e1 probes A first, which holds fewer than k=10
        rows = []
        for i in range(3):
            v = [0.0] * 8
            v[0] = 1.0
            v[1] = 0.001 * i
            rows.append((i, v))
        for i in range(3, 40):
            v = [0.0] * 8
            v[1] = 1.0
            v[2] = 0.001 * i
            rows.append((i, v))
        return spark.createDataFrame(
            rows, "id long, embeddings array<double>"
        )

    def test_ivf_widen_reaches_k(self, spark, tmp_path):
        from pg_vectorize_spark.index_manager import JobIndexManager

        emb = self._sparse_corpus(spark)
        mgr = JobIndexManager(
            spark,
            str(tmp_path / "widx"),
            "ivf",
            {"n_centroids": 4, "nprobe": 1, "train": "kmeans"},
        )
        mgr.build(emb, "id")
        q = [1.0] + [0.0] * 7
        thin = mgr.candidates(q)
        assert thin.count() < 10  # the un-widened probe IS too thin
        widened = mgr.candidates(q, min_rows=10)
        assert widened.count() >= 10

    def test_engine_search_returns_k_from_thin_cell(self, spark, tmp_path):
        """End-to-end: an indexed job whose query lands in a sparse cell
        still returns num_results rows, matching the brute ranking's
        row count."""
        from pg_vectorize_spark.engine import VectorizeSession

        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select(F.col("doc_id").alias("id"), F.col("text").alias("content"))
            .filter(F.col("id") < 60)
        )
        src = str(tmp_path / "src")
        docs.write.parquet(src)
        sess = VectorizeSession(spark, workspace=str(tmp_path / "ws"))
        # nprobe=1 of 8 cells over hash embeddings: high chance of a
        # thin first cell; the floor must still produce 10 rows
        sess.create_job(
            "thin", src, columns=["content"], primary_key="id",
            index_method="ivf",
            index_params={"n_centroids": 8, "nprobe": 1},
        )
        out = sess.search("thin", QUERY, num_results=10)
        assert len(out) == 10


class TestEnginePlanLock:
    def test_engine_indexed_search_partition_prunes(
        self, spark, tmp_path, corpus_src
    ):
        """The ENGINE's own indexed search plan (not just the gate's)
        must prune cell partitions at the parquet source and keep the
        scan-broadcast-TakeOrdered shape."""
        import re

        from pg_vectorize_spark.operators.search import semantic_search
        from pg_vectorize_spark.plans.inspect import plan_report

        sess = _mk_job(
            spark, tmp_path, corpus_src, "ivf",
            {"n_centroids": 8, "nprobe": 2}, name="plan",
        )
        job = sess.catalog.get("plan")
        qv = sess._query_vec(job, QUERY, None)
        df = semantic_search(
            sess._source_df(job),
            sess._emb_candidates(job, qv, 10),
            "id",
            qv,
            num_results=10,
            pre_normalized=True,
        )
        rep = plan_report(df)
        assert re.search(r"PartitionFilters: \[[^\]]*cell", rep.text), (
            rep.text
        )
        assert rep.has_take_ordered and rep.n_exchanges == 0, rep.summary()


class TestCompactionCadence:
    def test_adds_trigger_compaction_on_cadence(self, spark, tmp_path):
        """Every add/delete bumps the maintenance counter; hitting
        compact_every coalesces crowded partitions back to few files —
        the Delta-OPTIMIZE-style hygiene that keeps a high-frequency
        ingest loop from degrading probes into many-small-file scans."""
        import json
        import os

        from pg_vectorize_spark.index_manager import JobIndexManager

        def vecs(lo, hi):
            return spark.createDataFrame(
                [(i, [1.0, float(i) / 100, 0.0, 0.0]) for i in range(lo, hi)],
                "id long, embeddings array<double>",
            )

        mgr = JobIndexManager(
            spark,
            str(tmp_path / "cidx"),
            "ivf",
            {"n_centroids": 1, "nprobe": 1, "compact_every": 3},
        )
        mgr.build(vecs(0, 20), "id")

        def nfiles():
            cell_dir = os.path.join(str(tmp_path / "cidx"), "cell=0")
            return sum(
                1 for f in os.listdir(cell_dir)
                if not f.startswith((".", "_"))
            )

        # each add appends file(s) into the single cell; the 3rd op
        # crosses the cadence and compacts back down
        for i in range(3):
            mgr.add(vecs(20 + i * 5, 25 + i * 5), "id")
        assert nfiles() <= 4  # compacted (un-compacted would be ~7+)
        with open(os.path.join(str(tmp_path / "cidx"), "_MAINT.json")) as f:
            assert json.load(f)["ops_since_compact"] == 0  # counter reset
        # index contents intact after compaction
        got = {
            r["id"]
            for r in spark.read.parquet(str(tmp_path / "cidx")).collect()
        }
        assert got == set(range(35))


@pytest.mark.slow
class TestDriftRetrain:
    """Quantizer drift: the compaction cadence OBSERVES (per-cell count
    aggregate, growth + skew vs the build-time baseline), the next
    ingest ACTS (engine retrains from the merged snapshot). The frozen
    quantizer is otherwise never silently retrained — incremental adds
    must stay cheap."""

    def _vecs(self, spark, lo, hi, axis=0):
        base = [0.0, 0.0, 0.0, 0.0]

        def v(i):
            out = list(base)
            out[axis] = 1.0
            out[(axis + 1) % 4] = float(i % 97) / 97.0
            return out

        return spark.createDataFrame(
            [(i, v(i)) for i in range(lo, hi)],
            "id long, embeddings array<double>",
        )

    def _mgr(self, spark, tmp_path, **extra):
        from pg_vectorize_spark.index_manager import JobIndexManager

        params = {
            "n_centroids": 4,
            "nprobe": 4,
            "compact_every": 2,
            "train": "kmeans",
        }
        params.update(extra)
        return JobIndexManager(spark, str(tmp_path / "didx"), "ivf", params)

    def test_drift_stats_baseline(self, spark, tmp_path):
        mgr = self._mgr(spark, tmp_path)
        mgr.build(self._vecs(spark, 0, 40), "id")
        s = mgr.drift_stats()
        assert s["rows"] == 40 and s["built_rows"] == 40
        assert s["growth"] == pytest.approx(1.0)
        assert not mgr.retrain_recommended()

    def test_growth_triggers_recommendation(self, spark, tmp_path):
        mgr = self._mgr(spark, tmp_path)
        mgr.build(self._vecs(spark, 0, 10), "id")
        # 5x growth in two adds; compact_every=2 runs the observation
        mgr.add(self._vecs(spark, 10, 30), "id")
        mgr.add(self._vecs(spark, 30, 50), "id")
        s = mgr.drift_stats()
        assert s["growth"] == pytest.approx(5.0)
        assert mgr.retrain_recommended()

    def test_skew_triggers_recommendation(self, spark, tmp_path):
        mgr = self._mgr(spark, tmp_path, retrain_growth=100.0,
                        retrain_skew=2.5)
        mgr.build(self._vecs(spark, 0, 40, axis=0), "id")
        # drifted distribution: every new vector lands in one region
        mgr.add(self._vecs(spark, 100, 130, axis=2), "id")
        mgr.add(self._vecs(spark, 130, 160, axis=2), "id")
        s = mgr.drift_stats()
        assert s["skew"] >= 2.5
        assert mgr.retrain_recommended()

    def test_rebuild_clears_flag_and_resets_baseline(self, spark, tmp_path):
        mgr = self._mgr(spark, tmp_path)
        mgr.build(self._vecs(spark, 0, 10), "id")
        mgr.add(self._vecs(spark, 10, 30), "id")
        mgr.add(self._vecs(spark, 30, 50), "id")
        assert mgr.retrain_recommended()
        mgr.build(self._vecs(spark, 0, 50), "id")
        assert not mgr.retrain_recommended()
        s = mgr.drift_stats()
        assert s["built_rows"] == 50 and s["growth"] == pytest.approx(1.0)

    def test_irreducible_skew_does_not_reflag(self, spark, tmp_path):
        """ADVICE r10: a corpus whose fresh kmeans build is ALREADY past
        the skew threshold (many near-identical vectors) must not
        re-flag at every compaction — build() records the post-build
        skew and the observation flags only skew WORSE than that
        baseline, so the engine stops paying a full-corpus rebuild
        every compact_every batches for a partition no retrain can
        improve."""
        import json
        import os

        def dup_heavy(spark, lo, hi, n_distinct=4):
            # all but n_distinct rows collapse onto one point
            rows = []
            for i in range(lo, hi):
                if i - lo < n_distinct:
                    v = [0.0] * 4
                    v[i % 4] = 1.0
                else:
                    v = [0.5, 0.5, 0.0, 0.0]
                rows.append((i, v))
            return spark.createDataFrame(
                rows, "id long, embeddings array<double>"
            )

        mgr = self._mgr(spark, tmp_path, retrain_growth=100.0,
                        retrain_skew=2.5)
        mgr.build(dup_heavy(spark, 0, 40), "id")
        with open(
            os.path.join(str(tmp_path / "didx"), "_MAINT.json")
        ) as f:
            built_skew = json.load(f)["built_skew"]
        assert built_skew >= 2.5  # the corpus is irreducibly skewed
        # churn past the compaction cadence with the same distribution
        mgr.add(dup_heavy(spark, 40, 45, n_distinct=1), "id")
        mgr.add(dup_heavy(spark, 45, 50, n_distinct=1), "id")
        s = mgr.drift_stats()
        assert s["skew"] >= 2.5  # still past the absolute threshold...
        assert not mgr.retrain_recommended()  # ...but not worse: no flag

    def test_untrained_quantizers_never_flag(self, spark, tmp_path):
        """signbit buckets are data-independent and train='first'
        centroids reproduce on rebuild — flagging either would loop a
        pointless full rebuild every cycle (review finding)."""
        from pg_vectorize_spark.index_manager import JobIndexManager

        for method, params in (
            ("signbit", {"nbits": 3, "compact_every": 2}),
            ("ivf", {"n_centroids": 4, "compact_every": 2}),  # train=first
        ):
            mgr = JobIndexManager(
                spark, str(tmp_path / f"nf_{method}"), method, params
            )
            mgr.build(self._vecs(spark, 0, 10), "id")
            mgr.add(self._vecs(spark, 10, 60, axis=2), "id")  # 6x + skew
            mgr.add(self._vecs(spark, 60, 110, axis=2), "id")
            assert not mgr.retrain_recommended(), method

    def test_unknown_baseline_adopts_not_flags(self, spark, tmp_path):
        """An index whose _MAINT.json predates drift tracking has no
        built_rows: the first observation adopts the current size as
        the baseline instead of flagging (missing metadata != drift)."""
        import json
        import os

        mgr = self._mgr(spark, tmp_path)
        mgr.build(self._vecs(spark, 0, 30), "id")
        # simulate the pre-upgrade state
        with open(os.path.join(str(tmp_path / "didx"), "_MAINT.json"), "w") as f:
            json.dump({"ops_since_compact": 0}, f)
        assert mgr.drift_stats()["growth"] is None
        mgr.add(self._vecs(spark, 30, 35), "id")
        mgr.add(self._vecs(spark, 35, 40), "id")  # cadence observation
        assert not mgr.retrain_recommended()
        s = mgr.drift_stats()
        assert s["built_rows"] == 40 and s["growth"] == 1.0

    def test_engine_ingest_acts_on_recommendation(
        self, spark, tmp_path, corpus_src
    ):
        """End-to-end: grow an indexed job far past the drift threshold
        via scan_job batches; the recommendation appears at a compaction
        and the NEXT ingest retrains (baseline resets, flag clears,
        search parity holds)."""
        import json
        import os

        sess = VectorizeSession(
            spark, workspace=str(tmp_path / "ws_drift")
        )
        src = spark.read.parquet(corpus_src)
        inc_path = str(tmp_path / "drift_src")
        src.filter(F.col("id") < 20).write.parquet(inc_path)
        sess.create_job(
            "djob",
            inc_path,
            columns=["content"],
            primary_key="id",
            index_method="ivf",
            index_params={
                "n_centroids": 4,
                "nprobe": 4,
                "compact_every": 2,
                "retrain_growth": 3.0,
                "train": "kmeans",  # only trained quantizers auto-retrain
            },
        )
        sess.scan_job("djob")
        maint = os.path.join(
            str(tmp_path / "ws_drift"), "jobs", "djob", "index",
            "_MAINT.json",
        )
        built0 = json.load(open(maint))["built_rows"]
        assert built0 == 20
        # three growth batches of 40 each -> 140 rows >= 3x baseline;
        # compact_every=2 guarantees an observation fires along the way
        for lo in (20, 60, 100):
            src.filter(
                (F.col("id") >= lo) & (F.col("id") < lo + 40)
            ).write.mode("append").parquet(inc_path)
            sess.scan_job("djob")
        state = json.load(open(maint))
        # the retrain already ran on the ingest after the observation:
        # baseline moved past the build-time 20 and the flag is clear
        assert state["built_rows"] > 20
        assert not state.get("retrain_recommended", False)
        got = _indexed_actual(sess, "djob", QUERY, k=10)
        want = _brute_expected(sess, "djob", QUERY, k=10)
        assert got == want


class TestEmptyProbeLists:
    """An empty cell / Hamming-ball list renders as ``false`` — the probe
    selects no rows (``IN ()`` does not parse) instead of raising."""

    def _mgr(self, spark, tmp_path, method, params):
        from pg_vectorize_spark.index_manager import JobIndexManager

        emb = spark.createDataFrame(
            [(i, [float(i % 3) - 1.0, 1.0, 0.5 - (i % 2)]) for i in range(12)],
            "id long, embeddings array<double>",
        )
        mgr = JobIndexManager(spark, str(tmp_path / method), method, params)
        mgr.build(emb, "id")
        return mgr

    def test_ivf_no_cells(self, spark, tmp_path):
        mgr = self._mgr(spark, tmp_path, "ivf", {"n_centroids": 2})
        q = [1.0, 1.0, 0.0]
        assert mgr._ivf_candidates(q, 0).count() == 0
        assert mgr._ivf_candidates(q, 2).count() == 12

    def test_signbit_no_probes(self, spark, tmp_path, monkeypatch):
        import pg_vectorize_spark.operators.ann as ann

        mgr = self._mgr(spark, tmp_path, "signbit", {"nbits": 2})
        q = [1.0, 1.0, 0.0]
        assert mgr._signbit_candidates(q, 2).count() == 12
        monkeypatch.setattr(ann, "_hamming_ball", lambda *a: [])
        assert mgr._signbit_candidates(q, 2).count() == 0
