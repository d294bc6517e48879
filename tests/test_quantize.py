"""Scalar quantization of embeddings (functions/vector.quantize_exprs)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pg_vectorize_spark.functions.vector import (
    dequantize_expr,
    quantization_error_expr,
    quantize_exprs,
)


def _q(spark, vecs):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, v array<double>"
    )
    q = quantize_exprs(F.col("v"))
    return df.select(
        "id",
        "v",
        q["codes"].alias("codes"),
        q["mn"].alias("mn"),
        q["mx"].alias("mx"),
    )


def test_codes_bounded_and_endpoints_exact(spark):
    out = _q(spark, [[-1.0, 0.0, 0.5, 1.0]]).collect()[0]
    assert out["mn"] == -1.0 and out["mx"] == 1.0
    assert all(0 <= c <= 255 for c in out["codes"])
    assert out["codes"][0] == 0  # x == mn
    assert out["codes"][-1] == 255  # x == mx clamps to levels


def test_constant_vector_all_zero_codes(spark):
    out = _q(spark, [[0.7, 0.7, 0.7]]).collect()[0]
    assert out["codes"] == [0, 0, 0]
    assert out["mn"] == out["mx"] == 0.7


def test_reconstruction_error_bounded_by_step(spark):
    """|x - dequant(x)| < (mx-mn)/levels for every element."""
    vecs = [[0.013 * i - 1.1 for i in range(64)]]
    qdf = _q(spark, vecs)
    err = qdf.select(
        quantization_error_expr(
            F.col("v"), F.col("codes"), F.col("mn"), F.col("mx")
        ).alias("e"),
        ((F.col("mx") - F.col("mn")) / 255.0).alias("step"),
    ).collect()[0]
    assert 0 <= err["e"] < err["step"]


def test_dequantize_round_trip_monotone(spark):
    """Quantization preserves order: dequantized values are monotone in
    the original values."""
    vecs = [[5.0, -2.0, 0.0, 3.5, 3.6]]
    qdf = _q(spark, vecs)
    row = qdf.select(
        F.col("v"),
        dequantize_expr(F.col("codes"), F.col("mn"), F.col("mx")).alias("d"),
    ).collect()[0]
    orig_order = sorted(range(len(row["v"])), key=lambda i: row["v"][i])
    deq_sorted = [row["d"][i] for i in orig_order]
    assert deq_sorted == sorted(deq_sorted)


def test_quantized_topk_agrees_with_exact(spark):
    """ANN sanity: cosine top-3 over dequantized vectors matches exact
    top-3 on a spread-out fixture (quantization noise << separation)."""
    import numpy as np

    rng = np.random.RandomState(7)
    vecs = [list(map(float, rng.randn(16))) for _ in range(50)]
    qdf = _q(spark, vecs)
    from pg_vectorize_spark.functions.vector import cosine_similarity_to_query

    query = vecs[0]
    exact = [
        r["id"]
        for r in qdf.select(
            "id", cosine_similarity_to_query("v", query).alias("s")
        )
        .orderBy(F.desc("s"), "id")
        .limit(3)
        .collect()
    ]
    approx = [
        r["id"]
        for r in qdf.select(
            "id",
            dequantize_expr(F.col("codes"), F.col("mn"), F.col("mx")).alias(
                "d"
            ),
        )
        .select("id", cosine_similarity_to_query("d", query).alias("s"))
        .orderBy(F.desc("s"), "id")
        .limit(3)
        .collect()
    ]
    assert exact == approx


def test_quantize_table_matches_exprs(spark):
    """The staged operator and the single-projection exprs agree exactly."""
    from pg_vectorize_spark.functions.vector import quantize_table

    vecs = [[0.013 * i - 1.1 for i in range(16)], [3.0, 3.0, 3.0], [-1.0, 1.0]]
    a = _q(spark, vecs).orderBy("id").collect()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, v array<double>"
    )
    b = quantize_table(df, "v", keep_cols=["id"]).orderBy("id").collect()
    for ra, rb in zip(a, b):
        assert ra["codes"] == rb["codes"]
        assert ra["mn"] == rb["mn"] and ra["mx"] == rb["mx"]


class TestTruncateNormalize:
    def test_unit_norm_and_energy(self, spark):
        import math

        from pg_vectorize_spark.functions.vector import truncate_normalize_table

        vecs = [
            [3.0, 4.0, 0.0, 0.0],
            [1.0, 1.0, 1.0, 1.0],
            [0.0, 0.0, 5.0, 5.0],  # zero prefix: stays zero, energy 0
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)], "id long, v array<double>"
        )
        out = {
            r["id"]: r
            for r in truncate_normalize_table(df, "v", k=2, keep_cols=["id"]).collect()
        }
        assert out[0]["unit"] == [0.6, 0.8]
        assert math.isclose(out[0]["norm_k"] / out[0]["norm_full"], 1.0)
        assert math.isclose(
            sum(x * x for x in out[1]["unit"]), 1.0, rel_tol=1e-12
        )
        assert math.isclose(
            out[1]["norm_k"] / out[1]["norm_full"], math.sqrt(0.5), rel_tol=1e-12
        )
        assert out[2]["unit"] == [0.0, 0.0]
        assert out[2]["norm_k"] == 0.0

    def test_energy_monotonic_in_k(self, spark):
        from pg_vectorize_spark.functions.vector import truncate_normalize_table

        df = spark.createDataFrame(
            [(0, [float(i) for i in range(8, 0, -1)])], "id long, v array<double>"
        )
        fracs = []
        for k in (2, 4, 6, 8):
            r = truncate_normalize_table(df, "v", k=k, keep_cols=["id"]).collect()[0]
            fracs.append(r["norm_k"] / r["norm_full"])
        assert fracs == sorted(fracs)
        assert abs(fracs[-1] - 1.0) < 1e-12

    def test_k_validation(self, spark):
        import pytest as _pytest

        from pg_vectorize_spark.functions.vector import truncate_normalize_table

        df = spark.createDataFrame([(0, [1.0])], "id long, v array<double>")
        with _pytest.raises(ValueError):
            truncate_normalize_table(df, "v", k=0)


def test_pool_embeddings(spark):
    """Chunk->doc pooling: mean/sum match a driver-side sorted fold
    exactly (the determinism contract), n_vectors = group size."""
    from pg_vectorize_spark.functions.vector import pool_embeddings

    rows = [
        (1, [1.0, 2.0, 3.0]),
        (1, [0.5, -1.0, 2.0]),
        (1, [0.25, 0.5, 0.125]),
        (2, [4.0, 5.0, 6.0]),
    ]
    df = spark.createDataFrame(rows, "doc long, vec array<double>")

    def fold_mean(vals):
        acc = 0.0
        for x in sorted(vals):
            acc += x
        return acc / len(vals)

    got = {
        r["doc"]: (r["pooled"], r["n_vectors"])
        for r in pool_embeddings(df, "doc", "vec", mode="mean").collect()
    }
    expect1 = [
        fold_mean([v[i] for d, v in rows if d == 1]) for i in range(3)
    ]
    assert got[1] == (expect1, 3)
    assert got[2] == ([4.0, 5.0, 6.0], 1)
    s = {
        r["doc"]: r["pooled"]
        for r in pool_embeddings(df, "doc", "vec", mode="sum").collect()
    }
    assert s[2] == [4.0, 5.0, 6.0]
    import pytest

    with pytest.raises(ValueError, match="mode"):
        pool_embeddings(df, "doc", "vec", mode="max")
