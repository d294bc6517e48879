"""Skew-handling utilities: salting for hot keys.

AQE's skew-join rule splits oversized SORT-MERGE join partitions at
runtime, but two shapes still need explicit salting at 100 TB:

- **aggregations with hot keys** — a groupBy where one key holds 1% of the
  table puts that 1% on one reducer. ``salted_aggregate`` runs the classic
  two-stage shape: groupBy(keys + salt) partial -> groupBy(keys) final.
  Legal only for ALGEBRAIC aggregates (count/sum/min/max — anything with an
  associative merge), which the helper enforces by construction.
- **skewed equi-joins against a mid-size build side** (too big to
  broadcast, too skewed to shuffle cleanly) — ``salted_join`` salts the
  probe side with a deterministic pseudo-random salt and EXPLODES the build
  side across all salt values, so each hot key spreads over ``n_salts``
  reducers.

Salts are deterministic (xxhash64 over the full row), so runs are
reproducible.
"""

from __future__ import annotations

import logging
import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "_salt"

_log = logging.getLogger(__name__)


_SHUFFLE_NODE = re.compile(
    # a SHUFFLE exchange node, not BroadcastExchange (\b rejects the
    # embedded match) and not a column/table that merely contains the
    # word (those never print with a partitioning argument)
    r"\bExchange (hashpartitioning|rangepartitioning"
    r"|RoundRobinPartitioning|SinglePartition)"
)
_BROADCAST_NODE = re.compile(r"\bBroadcastExchange\b")
_EXCHANGE_WORD = re.compile(r"\bExchange\b")


def _plan_has_exchange(df: DataFrame) -> bool:
    """True when ``df``'s (initial) physical plan contains a shuffle.

    Reads the pre-execution plan string only — physical planning is
    driver-side work; no stage runs. Only SHUFFLE exchanges count:
    BroadcastExchange does not make ``.rdd`` re-execute map stages, and
    identifiers that merely contain the word (an `ExchangeRate` column)
    never print with a partitioning argument. Unknown/unreadable plans
    report False, so callers fall back to the plain partition-count
    check — and say so at WARNING.
    """
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception as exc:  # py4j / analysis errors only
        _log.warning(
            "_plan_has_exchange: plan unreadable (%s); pin skipped, "
            "falling back to the partition-count check", exc,
        )
        return False
    found = bool(_SHUFFLE_NODE.search(plan))
    if not found and _EXCHANGE_WORD.search(_BROADCAST_NODE.sub("", plan)):
        # an "Exchange" node the regex does not know — e.g. a Spark
        # version renaming partitioning nodes would silently disable
        # the pin (perf regression with no signal)
        _log.warning(
            "_plan_has_exchange: plan contains an Exchange node with no "
            "known shuffle-partitioning form — regex may be stale; pin "
            "skipped"
        )
    return found


def ensure_min_partitions(
    df: DataFrame, target: int | None = None, pin: bool = True
) -> DataFrame:
    """Round-robin repartition ONLY when the plan has fewer input
    partitions than ``target`` (default: the cluster's defaultParallelism).

    Why: operators built as pure maps (mapInPandas embedding, zip_with
    shingling, per-doc tf scoring) inherit the SCAN's partitioning — a
    single small file, or a parquet file with one row group (unsplittable
    below row-group granularity), serializes all their per-row work onto
    one task. At cluster scale inputs arrive in many splits and this is a
    no-op; it only fans out narrow inputs, costing one exchange of data
    that is by definition small enough to have fit in one partition.

    Shuffle-bearing inputs take a pinned path (``pin=True``): under AQE,
    ``df.rdd.getNumPartitions()`` finalizes the adaptive plan, which
    EXECUTES every intermediate stage — and then throws that RDD away,
    so the consumer re-plans and re-executes the same stages (one full
    duplicate upstream pass per call; measured as an extra job at every
    such call site). A lazy local checkpoint pins the frame to the SAME
    RDD the partition count is read from, so the upstream runs once and
    every consumer drains it. Narrow-over-scan inputs keep the direct
    check — for them the count is pure metadata (zero jobs) and a
    checkpoint would needlessly cache scan output. With AQE OFF the
    finalize-executes hazard does not exist (``.rdd`` stays lazy), so
    the pin is skipped there too.

    The checkpoint trades lineage for the saved duplicate pass: blocks
    live until the session GCs the frame, and an executor lost before
    the consumers drain it fails the action instead of recomputing. It
    also inserts a LogicalRDD barrier that blocks downstream filter
    pushdown into the upstream plan. That trade is right for PER-QUERY /
    PER-MICRO-BATCH frames (serving probes, streaming ingest), whose
    consumers run immediately and whose upstreams are small. BATCH
    corpus pipelines (multi-hour jobs at 100 TB) should pass
    ``pin=False`` (ADVICE r13): there, losing recompute-on-failure for
    the whole upstream is a robustness regression that outweighs one
    duplicate pass — and in practice those call sites feed on raw scans
    (no shuffle below), so the pin never fired for them anyway;
    ``pin=False`` makes that contract explicit rather than incidental.
    """
    sc = df.sparkSession.sparkContext
    want = target or sc.defaultParallelism
    if (
        pin
        # Spark accepts TRUE/True for boolean confs (ADVICE r13) — the
        # case-sensitive compare silently skipped the pin there
        and str(
            df.sparkSession.conf.get("spark.sql.adaptive.enabled", "true")
        ).strip().lower()
        == "true"
        and _plan_has_exchange(df)
    ):
        df = df.localCheckpoint(eager=False)
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Deterministic salt in [0, n_salts): xxhash64 over ALL columns, so
    rows sharing a hot key still spread across salts. Caveat: fully
    identical rows land on the same salt (they hash identically) — for
    exact-duplicate-heavy data add a disambiguating column (e.g. a row id)
    before salting."""
    return df.withColumn(
        _SALT,
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts)).cast(
            "int"
        ),
    )


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    counts: Sequence[str] = (),
    sums: Sequence[str] = (),
    mins: Sequence[str] = (),
    maxs: Sequence[str] = (),
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed grouping keys.

    Output columns: ``<col>_count`` / ``<col>_sum`` / ``<col>_min`` /
    ``<col>_max`` (counts entries may be '*'). Results are identical to the
    direct groupBy — only the shuffle layout changes (hot keys fan out over
    n_salts partial groups before the small final merge).
    """
    salted = with_salt(df, n_salts)
    partial_aggs: list[Column] = []
    final_aggs: list[Column] = []
    for c in counts:
        name = "count" if c == "*" else f"{c}_count"
        src = F.lit(1) if c == "*" else F.col(c)
        if c == "*":
            partial_aggs.append(F.count(src).alias(f"_p_{name}"))
        else:
            partial_aggs.append(F.count(src).alias(f"_p_{name}"))
        final_aggs.append(F.sum(f"_p_{name}").alias(name))
    for c in sums:
        partial_aggs.append(F.sum(c).alias(f"_p_{c}_sum"))
        final_aggs.append(F.sum(f"_p_{c}_sum").alias(f"{c}_sum"))
    for c in mins:
        partial_aggs.append(F.min(c).alias(f"_p_{c}_min"))
        final_aggs.append(F.min(f"_p_{c}_min").alias(f"{c}_min"))
    for c in maxs:
        partial_aggs.append(F.max(c).alias(f"_p_{c}_max"))
        final_aggs.append(F.max(f"_p_{c}_max").alias(f"{c}_max"))
    if not partial_aggs:
        raise ValueError("no aggregates requested")
    partial = salted.groupBy(*keys, _SALT).agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-spreading equi-join: salt the probe side, explode the build side.

    Build-side rows replicate n_salts times (only viable when the build side
    is moderate — for truly small sides just broadcast; for two huge skewed
    sides, isolate the hot keys and union a broadcast sub-join). Supports
    inner and left joins (probe side preserved).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted_probe = with_salt(probe, n_salts)
    exploded_build = build.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = salted_probe.join(exploded_build, [key, _SALT], how)
    return out.drop(_SALT)
