"""Vector column expressions — all JVM-side (whole-stage-codegen friendly).

Replaces pgvector's ``<=>`` cosine-distance operator (used by the reference
at core/src/query.rs:679-684) with Spark built-in higher-order functions.
No Python UDFs in the hot path: ``zip_with`` + ``aggregate`` keep the dot
product inside codegen, and the query vector is a literal (broadcast by
value in the plan), so a semantic top-k compiles to
Scan -> Project(score) -> TakeOrderedAndProject.

All math is float64 with left-to-right fold order — chosen so the DuckDB
oracle (``list_reduce`` has the same fold order) reproduces results
bit-for-bit.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from pg_vectorize_spark import sqltext as sq
from pg_vectorize_spark.providers.local import HASH_MOD, HASH_MULT, HASH_SEED


def _as_double_array(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot_product(a: Column, b: Column) -> Column:
    """Σ a_i*b_i, float64, sequential fold (matches DuckDB list_reduce)."""
    return F.aggregate(
        F.zip_with(_as_double_array(a), _as_double_array(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            _as_double_array(a), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """1 - cosine_distance, i.e. the reference's similarity_score
    (``1 - (embeddings <=> $query::vector)``, core/src/query.rs:679-684).
    Zero-norm inputs score 0.0 rather than NaN."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot_product(a, b) / denom).otherwise(F.lit(0.0))


def _query_fold_sql(emb_col: str, vals: list[float]) -> tuple[str, str]:
    """(cast emb, dot) SQL text against a constant query vector — the
    ``dot_product`` fold (both sides cast to double, ``acc + x*y`` left
    to right from 0.0) spelled as one expression."""
    cast_e = f"transform({sq.ident(emb_col)}, x -> CAST(x AS DOUBLE))"
    cast_q = f"transform({sq.vector(vals)}, x -> CAST(x AS DOUBLE))"
    dot = (
        f"aggregate(zip_with({cast_e}, {cast_q}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )
    return cast_e, dot


def dot_product_to_query(emb_col: str, query_vec: Sequence[float]) -> Column:
    """``dot_product`` of column ``emb_col`` with a CONSTANT query vector,
    built as ONE SQL parse (the cosine of pre-normalized vectors)."""
    return F.expr(_query_fold_sql(emb_col, [float(v) for v in query_vec])[1])


def cosine_similarity_to_query(
    emb_col: str, query_vec: Sequence[float]
) -> Column:
    """Cosine similarity of column ``emb_col`` against a CONSTANT query
    vector, built as ONE SQL parse — the reference's
    ``1 - (embeddings <=> $1::vector)``.

    Same expression tree as ``cosine_similarity``: double casts,
    left-to-right float64 folds, zero-denominator rows score 0.0. The
    query norm is folded on the driver (same left-to-right fold, so the
    same bits as the in-plan one), so each row computes one norm instead
    of two — a third of the per-row vector math at brute-force-scan
    scale. A computed vector must be selected under a name first.
    """
    vals = [float(v) for v in query_vec]
    ss = 0.0
    for v in vals:
        ss = ss + v * v
    cast_e, dot = _query_fold_sql(emb_col, vals)
    denom = (
        f"(sqrt(aggregate({cast_e}, 0.0D, (acc, x) -> acc + x * x)) * "
        f"{sq.double(math.sqrt(ss))})"
    )
    return F.expr(
        f"CASE WHEN {denom} > 0 THEN {dot} / {denom} ELSE 0.0D END"
    )


def l2_normalize(a: Column) -> Column:
    """Normalize at write time (vector-serve ``normalize`` parity) so query-
    time cosine reduces to a dot product."""
    n = l2_norm(a)
    arr = _as_double_array(a)
    return F.when(n > 0, F.transform(arr, lambda x: x / n)).otherwise(arr)


def query_vector_lit(vec: Sequence[float]) -> Column:
    """A query vector as a literal array<double> column (plan-level constant —
    the Spark analog of binding ``$1::vector``), parsed from ONE SQL
    string: the element-wise ``F.array(F.lit, ...)`` form costs ~2 py4j
    round-trips per dimension on the query critical path. The literal
    rendering (``sqltext.vector``) is bit-identical to ``F.lit``."""
    return F.expr(sq.vector([float(v) for v in vec]))


# ---------------------------------------------------------------------------
# SQL-expressible deterministic embedder (spec in providers/local.py)
# ---------------------------------------------------------------------------


def hash_bucket_expr(token: Column, dim: int) -> Column:
    """Polynomial-roll hash of a token -> bucket index in [0, dim)."""
    h = F.aggregate(
        F.split(token, ""),
        F.lit(HASH_SEED).cast("long"),
        lambda acc, ch: (acc * HASH_MULT + F.ascii(ch)) % HASH_MOD,
    )
    return h % dim


def _word_tokens(text: Column) -> Column:
    return F.filter(
        F.split(F.lower(F.coalesce(text, F.lit(""))), "[^a-z0-9]+"),
        lambda t: t != "",
    )


def features_expr(text: Column) -> Column:
    """Word tokens + char 3-grams of each token (providers/local.features)."""
    toks = _word_tokens(text)
    grams = F.flatten(
        F.transform(
            toks,
            lambda t: F.transform(
                F.sequence(F.lit(0), F.greatest(F.length(t) - 3, F.lit(0))),
                lambda i: t.substr(i + 1, F.lit(3)),
            ),
        )
    )
    return F.concat(toks, grams)


def embed_expr(text: Column, dim: int, normalize: bool = True) -> Column:
    """Deterministic hashed-BoW embedding as ONE Spark column expression.

    Exactly the vector LocalHashEmbedder.embed_one produces, but computed
    JVM-side — the bulk-embedding scale path runs with zero Python workers.
    """
    buckets = F.transform(features_expr(text), lambda f: hash_bucket_expr(f, dim))
    # ONE aggregate pass over the bucket list: `buckets` (which folds over every
    # character of every feature) is evaluated once per row. The obvious
    # per-dimension formulation — transform(sequence(0,dim-1), i ->
    # size(filter(buckets, b -> b=i))) — re-evaluates the bucket list for every
    # dimension (dim× the work, interpreted): measured 100x slower.
    counts = F.aggregate(
        buckets,
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, b: F.transform(
            acc, lambda x, i: F.when(i.cast("long") == b, x + 1.0).otherwise(x)
        ),
    )
    if not normalize:
        return counts
    norm = F.sqrt(F.aggregate(counts, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(norm > 0, F.transform(counts, lambda x: x / norm)).otherwise(
        counts
    )


def quantize_exprs(vec: Column, levels: int = 255) -> dict[str, Column]:
    """Int8-style scalar quantization of a vector column (per-vector
    min/max affine codes) — the standard 4x storage reduction for
    embedding tables at 100-TB scale (pgvector's halfvec/scalar-quant
    analog; published as scalar quantization in the IVF/PQ literature).

    Returns {codes: array<int> in [0, levels], mn: double, mx: double}.
    A constant vector (mx == mn) encodes as all-zero codes. Codes are
    ``floor((x - mn) / (mx - mn) * levels)`` clamped to ``levels`` (the
    x == mx endpoint), computed in float64 with the identical expression
    tree mirrored by the DuckDB oracle — floor of an IEEE division is
    bit-stable, so codes hash exactly.
    """
    v = _as_double_array(vec)
    mn = F.array_min(v)
    mx = F.array_max(v)
    span = mx - mn
    codes = F.transform(
        v,
        lambda x: F.when(
            span > 0,
            F.least(
                F.floor((x - mn) / span * F.lit(float(levels))).cast("int"),
                F.lit(levels),
            ),
        ).otherwise(F.lit(0)),
    )
    return {"codes": codes, "mn": mn, "mx": mx}


def dequantize_expr(
    codes: Column, mn: Column, mx: Column, levels: int = 255
) -> Column:
    """Reconstruct the float64 vector from quantized codes:
    ``mn + code / levels * (mx - mn)``."""
    return F.transform(
        codes,
        lambda c: mn + c.cast("double") / F.lit(float(levels)) * (mx - mn),
    )


def quantization_error_expr(
    vec: Column, codes: Column, mn: Column, mx: Column, levels: int = 255
) -> Column:
    """Mean absolute reconstruction error, folded left-to-right
    (shuffle-order independent, oracle list_reduce parity)."""
    v = _as_double_array(vec)
    deq = dequantize_expr(codes, mn, mx, levels)
    abs_err = F.zip_with(v, deq, lambda a, b: F.abs(a - b))
    return F.when(
        F.size(v) > 0,
        F.aggregate(abs_err, F.lit(0.0), lambda acc, x: acc + x)
        / F.size(v).cast("double"),
    ).otherwise(F.lit(0.0))


def quantize_table(
    df, vec_col: str, levels: int = 255, keep_cols: Sequence[str] | None = None
):
    """Staged quantization over a DataFrame: (keep_cols…, codes, mn, mx).

    ``quantize_exprs`` composed in ONE projection re-evaluates mn/mx
    (array_min/max folds) PER ELEMENT inside the codes lambda — the
    interpreted higher-order-function trap (O(d²) per vector; measured 7s
    vs <1s at sf0.1). This operator materializes mn/mx as real columns
    first; Catalyst's CollapseProject keeps multiply-referenced non-cheap
    expressions in their own projection, so each fold runs once per row.
    """
    keep = list(keep_cols) if keep_cols is not None else list(df.columns)
    v = _as_double_array(F.col(vec_col))
    base = df.select(
        *keep,
        v.alias("_vd"),
        F.array_min(v).alias("mn"),
        F.array_max(v).alias("mx"),
    )
    span = F.col("mx") - F.col("mn")
    codes = F.transform(
        F.col("_vd"),
        lambda x: F.when(
            span > 0,
            F.least(
                F.floor((x - F.col("mn")) / span * F.lit(float(levels))).cast(
                    "int"
                ),
                F.lit(levels),
            ),
        ).otherwise(F.lit(0)),
    )
    return base.select(
        *keep, F.col("_vd"), codes.alias("codes"), F.col("mn"), F.col("mx")
    )


def truncate_normalize_table(
    df, vec_col: str, k: int, keep_cols: Sequence[str] | None = None
):
    """Matryoshka-style truncation: keep the first ``k`` dims, renormalize
    to unit length — the storage/serving tier trick for MRL-trained
    embeddings (a 64->16 cut is 4x less vector I/O at query time).

    Output columns: keep_cols…, ``unit`` (the renormalized prefix),
    ``norm_k`` (prefix L2 norm), ``norm_full`` (full L2 norm) —
    ``norm_k/norm_full`` is the retained-energy fraction, the quality
    metric to monitor when picking k.

    Same staging discipline as ``quantize_table``: the norms materialize
    as real columns BEFORE the per-element division, so the interpreted
    higher-order function never re-evaluates an O(d) fold per element.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    keep = list(keep_cols) if keep_cols is not None else list(df.columns)
    v = _as_double_array(F.col(vec_col))
    sliced = df.select(
        *keep, F.slice(v, 1, k).alias("_tv"), v.alias("_vd")
    )
    sq_sum = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, x: acc + x * x
    )
    normed = sliced.select(
        *keep,
        "_tv",
        F.sqrt(sq_sum(F.col("_tv"))).alias("norm_k"),
        F.sqrt(sq_sum(F.col("_vd"))).alias("norm_full"),
    )
    unit = F.when(
        F.col("norm_k") > 0,
        F.transform(F.col("_tv"), lambda x: x / F.col("norm_k")),
    ).otherwise(F.col("_tv"))
    return normed.select(
        *keep, unit.alias("unit"), F.col("norm_k"), F.col("norm_full")
    )


def pool_embeddings(
    df,
    group_col: str,
    vec_col: str,
    mode: str = "mean",
) -> "DataFrame":
    """Element-wise pooling of vectors per group — the chunk -> document
    aggregation every RAG/training pipeline needs after chunked embedding
    (chunk_table -> embed -> pool back to one vector per source row).

    Output: (group_col, pooled array<double>, n_vectors, n_vectors_min).
    ``mode`` is 'mean' or 'sum'.

    NULL/ragged semantics (explicit by design): a group whose vectors are
    ALL null/empty emits NO output row (posexplode yields nothing for it);
    ragged vector lengths within a group pool each position over only the
    vectors that have it. ``n_vectors`` is the max per-position count and
    ``n_vectors_min`` the min — equal for well-formed groups; a gap
    between them is the caller's signal that chunks disagreed on dimension
    (or some vectors were null) and per-position divisors differed.

    Scale + determinism shape: posexplode to (group, pos, value), then per
    (group, pos) a seeded left-to-right float64 fold over the VALUE-SORTED
    list (the repo-wide float-parity rule, ARCHITECTURE.md: a plain double
    SUM is shuffle-order-dependent, and double->decimal casts tie-break
    differently across engines). Group size per (group, pos) is the
    chunks-per-document count — bounded — so the collected list is small.
    Two keyed shuffles ((group, pos) then group), map-side partial
    aggregation; no driver involvement, no per-row Python.
    """
    if mode not in ("mean", "sum"):
        raise ValueError(f"mode must be 'mean' or 'sum', got {mode!r}")
    v = _as_double_array(F.col(vec_col))
    exploded = df.select(
        F.col(group_col), F.posexplode(v).alias("_pos", "_val")
    )
    per_pos = exploded.groupBy(group_col, "_pos").agg(
        F.sort_array(F.collect_list("_val")).alias("_vals"),
        F.count(F.lit(1)).alias("_n"),
    )
    folded = F.aggregate(
        F.col("_vals"), F.lit(0.0), lambda acc, x: acc + x
    )
    divisor = F.col("_n") if mode == "mean" else F.lit(1)
    per_pos = per_pos.select(
        F.col(group_col),
        F.col("_pos"),
        (folded / divisor.cast("double")).alias("_v"),
        F.col("_n"),
    )
    return (
        per_pos.groupBy(group_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_pos"), F.col("_v")))
            ).alias("_pairs"),
            F.max("_n").alias("n_vectors"),
            F.min("_n").alias("n_vectors_min"),
        )
        .select(
            F.col(group_col),
            F.transform(F.col("_pairs"), lambda p: p["_v"]).alias("pooled"),
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.col("n_vectors_min").cast("long").alias("n_vectors_min"),
        )
    )
