"""Salting utilities: results must equal the unsalted equivalents; the plan
must show the two-stage shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg_vectorize_spark.operators.skew import (
    salted_aggregate,
    salted_join,
    with_salt,
)
from pg_vectorize_spark.plans.inspect import plan_report


@pytest.fixture()
def skewed_df(spark):
    # hot key: 'hot' holds 80% of rows
    rows = [(i, "hot" if i % 5 != 0 else f"cold{i}", float(i % 7)) for i in range(500)]
    return spark.createDataFrame(rows, "id long, k string, v double")


def test_salt_in_range_and_deterministic(spark, skewed_df):
    s1 = with_salt(skewed_df, 8).select("id", "_salt").collect()
    s2 = with_salt(skewed_df, 8).select("id", "_salt").collect()
    assert {r["_salt"] for r in s1} <= set(range(8))
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    # the hot key's rows actually spread over multiple salts
    hot = with_salt(skewed_df.filter(F.col("k") == "hot"), 8)
    assert hot.select("_salt").distinct().count() > 1


def test_salted_aggregate_matches_direct(spark, skewed_df):
    direct = {
        r["k"]: (r["cnt"], r["s"], r["mn"], r["mx"])
        for r in skewed_df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r["k"]: (r["count"], r["v_sum"], r["v_min"], r["v_max"])
        for r in salted_aggregate(
            skewed_df, ["k"], counts=["*"], sums=["v"], mins=["v"], maxs=["v"]
        ).collect()
    }
    assert set(direct) == set(salted)
    for k in direct:
        dc, ds, dmn, dmx = direct[k]
        sc, ss, smn, smx = salted[k]
        assert dc == sc and dmn == smn and dmx == smx
        assert abs(ds - ss) < 1e-9


def test_salted_aggregate_two_stage_plan(spark, skewed_df):
    df = salted_aggregate(skewed_df, ["k"], counts=["*"], n_salts=8)
    rep = plan_report(df)
    # two logical aggregations -> at least two exchanges (salted + final)
    assert rep.text.count("HashAggregate") >= 2


def test_salted_join_matches_direct(spark, skewed_df):
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold0", "C0"), ("cold5", "C5")], "k string, label string"
    )
    direct = sorted(
        (r["id"], r["label"])
        for r in skewed_df.join(dim, "k", "inner").collect()
    )
    salted = sorted(
        (r["id"], r["label"])
        for r in salted_join(skewed_df, dim, "k", n_salts=4).collect()
    )
    assert direct == salted


def test_salted_left_join_preserves_probe(spark, skewed_df):
    dim = spark.createDataFrame([("hot", "H")], "k string, label string")
    out = salted_join(skewed_df, dim, "k", n_salts=4, how="left")
    assert out.count() == 500
    assert out.filter(F.col("label").isNull()).count() == 100


def test_unsupported_join_type(spark, skewed_df):
    dim = spark.createDataFrame([("hot", "H")], "k string, label string")
    with pytest.raises(ValueError):
        salted_join(skewed_df, dim, "k", how="full_outer")


def test_no_aggregates_requested(spark, skewed_df):
    with pytest.raises(ValueError):
        salted_aggregate(skewed_df, ["k"])


class TestSaltedPrecap:
    """Two-phase domain_cap/sample_exact: salted pre-cap bounds the exact
    window's per-group input without changing any output row."""

    @pytest.fixture()
    def mega_domain_df(self, spark):
        # one domain holds 90% of rows
        rows = [
            (i, "mega" if i % 10 != 0 else f"small{i % 100}", float(i))
            for i in range(2000)
        ]
        return spark.createDataFrame(rows, "doc_id long, domain string, v double")

    def test_domain_cap_salted_equals_unsalted(self, mega_domain_df):
        from pg_vectorize_spark.operators.curate import domain_cap

        salted = domain_cap(
            mega_domain_df, "doc_id", "domain", cap=7, salt_buckets=32
        )
        plain = domain_cap(
            mega_domain_df, "doc_id", "domain", cap=7, salt_buckets=0
        )
        key = lambda r: (r["domain"], r["domain_rank"], r["doc_id"])
        assert sorted(map(key, salted.collect())) == sorted(
            map(key, plain.collect())
        )

    def test_domain_cap_salted_with_order_by(self, mega_domain_df):
        from pg_vectorize_spark.operators.curate import domain_cap

        salted = domain_cap(
            mega_domain_df, "doc_id", "domain", cap=5,
            order_by=F.desc("v"), salt_buckets=8,
        )
        plain = domain_cap(
            mega_domain_df, "doc_id", "domain", cap=5,
            order_by=F.desc("v"), salt_buckets=0,
        )
        key = lambda r: (r["domain"], r["domain_rank"], r["doc_id"])
        assert sorted(map(key, salted.collect())) == sorted(
            map(key, plain.collect())
        )

    def test_sample_exact_salted_equals_unsalted(self, mega_domain_df):
        from pg_vectorize_spark.operators.curate import sample_exact

        for strata in (None, "domain"):
            salted = sample_exact(
                mega_domain_df, "doc_id", k=9, strata_col=strata,
                salt_buckets=16,
            )
            plain = sample_exact(
                mega_domain_df, "doc_id", k=9, strata_col=strata,
                salt_buckets=0,
            )
            key = lambda r: (r["domain"], r["sample_rank"], r["doc_id"])
            assert sorted(map(key, salted.collect())) == sorted(
                map(key, plain.collect())
            ), f"strata={strata}"

    def test_precap_bounds_group_input(self, mega_domain_df):
        """The exact window's input is bounded by salt_buckets * cap per
        group — the skew guarantee itself."""
        from pg_vectorize_spark.operators.curate import _salted_precap

        cap, buckets = 7, 8
        pre = _salted_precap(
            mega_domain_df,
            [F.col("domain")],
            [F.asc("doc_id")],
            cap,
            "doc_id",
            buckets,
        )
        sizes = {
            r["domain"]: r["n"]
            for r in pre.groupBy("domain").agg(F.count("*").alias("n")).collect()
        }
        assert sizes["mega"] <= buckets * cap
        # and every true survivor is still present
        from pg_vectorize_spark.operators.curate import domain_cap

        survivors = {
            r["doc_id"]
            for r in domain_cap(
                mega_domain_df, "doc_id", "domain", cap, salt_buckets=0
            ).collect()
        }
        pre_ids = {r["doc_id"] for r in pre.collect()}
        assert survivors <= pre_ids


class TestEnsureMinPartitions:
    """The fan-out helper: narrow inputs keep the zero-job metadata check;
    shuffle-bearing inputs are pinned (lazy local checkpoint) so the
    partition-count read and the consumers drain ONE upstream execution
    instead of two (under AQE, .rdd on a shuffle-bearing plan executes
    every intermediate stage and then the consumer re-plans from scratch).
    """

    def _jobs(self, spark):
        return len(
            spark.sparkContext.statusTracker().getJobIdsForGroup(None) or []
        )

    def test_narrow_input_fans_out_without_checkpoint(self, spark):
        from pg_vectorize_spark.operators.skew import ensure_min_partitions

        df = spark.range(100).coalesce(1)
        j0 = self._jobs(spark)
        out = ensure_min_partitions(df)
        # the narrow path stays a pure-metadata check: no job launched
        # during construction, no pinned RDD in the plan
        assert self._jobs(spark) == j0
        assert "LogicalRDD" not in out._jdf.queryExecution().analyzed().toString()
        assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
        assert sorted(r["id"] for r in out.collect()) == list(range(100))

    def test_wide_enough_narrow_input_is_untouched(self, spark):
        from pg_vectorize_spark.operators.skew import ensure_min_partitions

        want = spark.sparkContext.defaultParallelism
        df = spark.range(1000).repartition(want + 2).selectExpr("id")
        # repartition is itself an Exchange -> pinned path; partition
        # count already >= want so no further fan-out is added
        out = ensure_min_partitions(df)
        assert out.rdd.getNumPartitions() >= want
        assert sorted(r["id"] for r in out.collect()) == list(range(1000))

    def test_shuffle_input_pins_one_upstream_execution(self, spark):
        import pg_vectorize_spark.operators.skew as skew
        from pg_vectorize_spark.operators.skew import ensure_min_partitions

        def agg_df():
            return (
                spark.range(2000)
                .groupBy((F.col("id") % 7).alias("g"))
                .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
            )

        expected = sorted(map(tuple, agg_df().collect()))

        # new path: construction runs the upstream map stages once and
        # pins them; the collect drains the SAME RDD
        j0 = self._jobs(spark)
        out = ensure_min_partitions(agg_df())
        assert "LogicalRDD" in out._jdf.queryExecution().analyzed().toString()
        got = sorted(map(tuple, out.collect()))
        new_total = self._jobs(spark) - j0
        assert got == expected

        # old behavior (forced): the .rdd partition probe executes the
        # upstream, throws it away, and the collect re-executes it
        orig = skew._plan_has_exchange
        skew._plan_has_exchange = lambda df: False
        try:
            j0 = self._jobs(spark)
            out_old = ensure_min_partitions(agg_df())
            got_old = sorted(map(tuple, out_old.collect()))
            old_total = self._jobs(spark) - j0
        finally:
            skew._plan_has_exchange = orig
        assert got_old == expected
        # the pinned path saves the duplicate upstream pass
        assert new_total < old_total

    def test_broadcast_only_plan_is_not_pinned(self, spark):
        from pg_vectorize_spark.operators.skew import ensure_min_partitions

        big = spark.range(500).selectExpr("id", "id % 5 AS k")
        small = spark.createDataFrame(
            [(i, f"v{i}") for i in range(5)], "k long, v string"
        )
        df = big.join(F.broadcast(small), "k")
        # BroadcastExchange is not a shuffle: the pin predicate must
        # reject it (createDataFrame's own LogicalRDD makes a plan-text
        # probe on the OUTPUT ambiguous, so assert the predicate itself)
        import pg_vectorize_spark.operators.skew as skew

        assert not skew._plan_has_exchange(df)
        out = ensure_min_partitions(df)
        assert out.count() == 500

    def test_exchange_like_column_name_is_not_pinned(self, spark):
        from pg_vectorize_spark.operators.skew import ensure_min_partitions

        import pg_vectorize_spark.operators.skew as skew

        df = spark.range(100).selectExpr("id", "id * 2 AS ExchangeRate")
        assert not skew._plan_has_exchange(df)
        out = ensure_min_partitions(df)
        assert "LogicalRDD" not in out._jdf.queryExecution().analyzed().toString()
        assert out.count() == 100


class TestPlanHasExchangeLogsFallback:
    """Every fallback of the shuffle probe is logged at WARNING; the
    known shapes stay silent."""

    @staticmethod
    def _stub(plan=None, exc=None):
        from types import SimpleNamespace

        def to_string():
            if exc is not None:
                raise exc
            return plan

        executed = SimpleNamespace(toString=to_string)
        qe = SimpleNamespace(executedPlan=lambda: executed)
        return SimpleNamespace(
            _jdf=SimpleNamespace(queryExecution=lambda: qe)
        )

    def _probe(self, caplog, df):
        import logging

        from pg_vectorize_spark.operators import skew

        with caplog.at_level(logging.DEBUG, logger=skew.__name__):
            found = skew._plan_has_exchange(df)
        return found, [
            r for r in caplog.records if r.levelno >= logging.WARNING
        ]

    def test_unreadable_plan_warns(self, caplog):
        found, warned = self._probe(
            caplog, self._stub(exc=RuntimeError("py4j gone"))
        )
        assert found is False
        assert len(warned) == 1 and "unreadable" in warned[0].getMessage()
        assert "py4j gone" in warned[0].getMessage()

    def test_unknown_exchange_beside_broadcast_warns(self, caplog):
        found, warned = self._probe(
            caplog,
            self._stub(
                "BroadcastExchange HashedRelationBroadcastMode(List(k)) "
                "+- Exchange FooPartitioning(k, 8)"
            ),
        )
        assert found is False
        assert len(warned) == 1 and "stale" in warned[0].getMessage()

    @pytest.mark.parametrize(
        "plan, expect",
        [
            ("BroadcastExchange HashedRelationBroadcastMode(List(k))", False),
            ("Project [id, (id * 2) AS ExchangeRate#3L]", False),
            ("Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS", True),
        ],
    )
    def test_known_shapes_stay_silent(self, caplog, plan, expect):
        found, warned = self._probe(caplog, self._stub(plan))
        assert found is expect
        assert warned == []
