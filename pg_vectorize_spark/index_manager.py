"""Per-job persisted ANN index — build / probe / incremental maintenance.

The reference builds a physical vector index per job at creation time
(HNSW or DiskANN, core/src/query.rs:359-396; extension/src/init.rs:55-146
issues the CREATE INDEX) and every ``vectorize.search()`` uses it
transparently through the Postgres planner (``ORDER BY embeddings <=> $1
LIMIT n``); Postgres maintains the index on each INSERT/UPDATE for free.

Spark has no secondary indexes, so the analog is a parquet dataset
partitioned by a pruning key, probed with partition-filter IN lists:

- ``ivf``     — IVF-Flat: rows (pkey, embeddings) partitioned by nearest-
                centroid cell; a query probes ``nprobe`` cells.
- ``ivfpq``   — IVF-PQ: rows (pkey, pq_codes) partitioned by cell; probe
                scans 8-byte codes, ADC-ranks to a candidate list, the
                engine reranks those keys' float vectors exactly.
                ``residual=True`` encodes residuals from the cell centroid
                (classic IVF-PQ, tighter quantization at the same m,k).
- ``signbit`` — data-independent LSH: partitioned by the sign-bit bucket
                of the first ``nbits`` coordinates, probed with a Hamming
                ball.
- ``brute``   — no index; the engine scans the embeddings snapshot
                (the default, and the exactness baseline).

Freshness (the Postgres-maintains-it-for-free analog): the engine's
ingest paths call ``upsert``/``delete`` after every embeddings-snapshot
mutation — batch ``scan_job``, explicit ``handle_update``,
``import_embeddings``, and both streaming pipelines — so an index-backed
deployment never serves a stale index after an ingest cycle.
``maybe_compact`` runs the small-file compaction on an op-count cadence
(Delta OPTIMIZE-style, off the query path).

Consistency contract: maintenance rewrites the live index path in place
(see ann._partitioned_index_delete) — single writer, rebuildable from the
primary store after a crash, same as a pgvector REINDEX.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_vectorize_spark import sqltext as sq
from pg_vectorize_spark.errors import VectorizeError

INDEX_METHODS = ("brute", "ivf", "ivfpq", "signbit")


class JobIndexManager:
    """Build/probe/maintain one job's persisted index under
    ``<workspace>/jobs/<job>/index/``. The trained quantizer state
    (centroids, PQ codebook) lives in ``_QUANTIZER.json`` inside the
    index dir (underscore-prefixed files are invisible to the parquet
    reader), so probes need no retraining and maintenance can verify it
    via the fingerprint in ``_INDEX_META``."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        method: str,
        params: dict | None = None,
    ):
        if method not in INDEX_METHODS:
            raise VectorizeError(
                f"unknown index method {method!r} (valid: {INDEX_METHODS})"
            )
        self.spark = spark
        self.index_dir = index_dir
        self.method = method
        p = dict(params or {})

        def _pos(name: str, default: int) -> int:
            # nprobe=0 would loop _widened_nprobe forever (2*0 stays 0);
            # zero centroids/bits/codebook sizes are equally nonsensical —
            # reject non-positive values at construction, not probe time
            v = int(p.get(name, default))
            if v < 1:
                raise VectorizeError(
                    f"index_params[{name!r}] must be >= 1, got {v}"
                )
            return v

        self.n_centroids = _pos("n_centroids", 8)
        self.nprobe = _pos("nprobe", 4)
        self.nbits = _pos("nbits", 8)
        # probe_hamming=0 is a valid single-bucket probe
        self.probe_hamming = max(0, int(p.get("probe_hamming", 2)))
        self.pq_m = _pos("pq_m", 8)
        self.pq_k = _pos("pq_k", 16)
        self.rerank_candidates = _pos("rerank_candidates", 100)
        self.pq_train_sample = _pos("pq_train_sample", 2048)
        self.residual = bool(p.get("residual", True))
        self.train = p.get("train", "first")  # first | kmeans
        self.compact_every = _pos("compact_every", 16)
        # drift thresholds (observed at the compaction cadence): corpus
        # grown >= 4x since the quantizer trained, or one cell holding
        # >= 8x its fair share, recommends a retrain
        self.retrain_growth = float(p.get("retrain_growth", 4.0))
        self.retrain_skew = float(p.get("retrain_skew", 8.0))
        if self.retrain_growth <= 1.0 or self.retrain_skew <= 1.0:
            raise VectorizeError(
                "retrain_growth and retrain_skew must be > 1"
            )

    # ------------------------------------------------------------ state io

    @property
    def _quantizer_path(self) -> str:
        return os.path.join(self.index_dir, "_QUANTIZER.json")

    @property
    def _maint_path(self) -> str:
        return os.path.join(self.index_dir, "_MAINT.json")

    def exists(self) -> bool:
        if self.method == "brute":
            return False
        return os.path.isfile(self._quantizer_path)

    def _save_quantizer(self, state: dict) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        with open(self._quantizer_path, "w") as f:
            json.dump(state, f)

    def _load_quantizer(self) -> dict:
        with open(self._quantizer_path) as f:
            return json.load(f)

    def centroids_df(self) -> DataFrame:
        state = self._load_quantizer()
        return self.spark.createDataFrame(
            [
                (i, [float(x) for x in c])
                for i, c in enumerate(state["centroids"])
            ],
            "centroid_id int, centroid_vec array<double>",
        )

    def _centroids_local(self, state: dict | None = None) -> list:
        """The quantizer's centroids as a driver-local (id, vec) list —
        the zero-Spark-job input to ``probe_cells`` (the centroids
        already live in _QUANTIZER.json; wrapping them in a DataFrame
        just to sort ~n_centroids rows cost a full Spark job per
        search)."""
        if state is None:
            state = self._load_quantizer()
        return [
            (i, [float(x) for x in c])
            for i, c in enumerate(state["centroids"])
        ]

    def _codebook(self):
        return self._load_quantizer()["codebook"]

    # --------------------------------------------------------------- build

    def _train_centroids(self, emb_df: DataFrame, pkey: str) -> list:
        if self.train == "kmeans":
            from pg_vectorize_spark.operators.ann import (
                train_ivf_centroids_kmeans,
            )

            cents = train_ivf_centroids_kmeans(
                emb_df, pkey, "embeddings", n_centroids=self.n_centroids
            )
        else:
            from pg_vectorize_spark.operators.ann import default_centroids

            cents = default_centroids(
                emb_df, pkey, "embeddings", n_centroids=self.n_centroids
            )
        rows = sorted(
            cents.collect(), key=lambda r: int(r["centroid_id"])
        )
        return [[float(x) for x in r["centroid_vec"]] for r in rows]

    def build(self, emb_df: DataFrame, pkey: str) -> None:
        """Full (re)build from the embeddings snapshot — the CREATE INDEX
        analog; also the recovery path after a crash mid-maintenance."""
        if self.method == "brute":
            return
        emb_df = emb_df.select(F.col(pkey), F.col("embeddings"))
        built_rows = emb_df.count()  # drift baseline (growth ratio)
        if self.method == "signbit":
            from pg_vectorize_spark.operators.ann import build_signbit_index

            build_signbit_index(
                emb_df, pkey, "embeddings", self.index_dir, nbits=self.nbits
            )
            self._save_quantizer(
                {"method": "signbit", "nbits": self.nbits, "pkey": pkey}
            )
            self._reset_maint(built_rows=built_rows, fresh_build=True)
            return
        centroids = self._train_centroids(emb_df, pkey)
        state: dict = {
            "method": self.method,
            "centroids": centroids,
            "pkey": pkey,
        }
        cents_df = self.spark.createDataFrame(
            [(i, c) for i, c in enumerate(centroids)],
            "centroid_id int, centroid_vec array<double>",
        )
        if self.method == "ivf":
            from pg_vectorize_spark.operators.ann import build_ivf_index

            build_ivf_index(
                emb_df, cents_df, pkey, "embeddings", self.index_dir
            )
        else:  # ivfpq
            from pg_vectorize_spark.operators.ann import assign_ivf_cells
            from pg_vectorize_spark.operators.pq import (
                build_ivfpq_index,
                pq_train_numpy,
                train_pq_residual_sample,
            )

            # assign once: codebook training AND the index write both
            # consume the (crossJoin + keyed-window) assignment — the
            # most expensive build stage must not run twice
            assigned = assign_ivf_cells(
                emb_df, cents_df, pkey, "embeddings"
            ).localCheckpoint()
            if self.residual:
                codebook = train_pq_residual_sample(
                    emb_df,
                    cents_df,
                    pkey,
                    "embeddings",
                    sample_n=self.pq_train_sample,
                    m=self.pq_m,
                    k=self.pq_k,
                    assigned_df=assigned,
                )
            else:
                sample = (
                    emb_df.orderBy(F.asc(pkey))
                    .limit(self.pq_train_sample)
                    .collect()
                )
                codebook = pq_train_numpy(
                    [
                        [float(x) for x in r["embeddings"]]
                        for r in sample
                    ],
                    m=self.pq_m,
                    k=self.pq_k,
                )
            state["codebook"] = codebook
            state["residual"] = self.residual
            build_ivfpq_index(
                emb_df,
                cents_df,
                codebook,
                pkey,
                "embeddings",
                self.index_dir,
                residual=self.residual,
                assigned_df=assigned,
            )
        self._save_quantizer(state)
        # Post-build skew baseline (ADVICE r10): an inherently skewed
        # corpus (many near-identical vectors) leaves max_share high
        # even after a FRESH kmeans, so an absolute skew threshold
        # re-flags at every compaction and engine._index_upsert then
        # rebuilds the full index every compact_every batches without
        # ever converging. Recording what a fresh build achieves lets
        # the drift observation flag only skew that a retrain could
        # plausibly fix (worse than the fresh-build baseline). One
        # per-cell count aggregate, on the rare build path only.
        built_skew = None
        if self.train == "kmeans":
            stats = self.drift_stats()
            if stats is not None:
                built_skew = stats["skew"]
        self._reset_maint(
            built_rows=built_rows, built_skew=built_skew, fresh_build=True
        )

    # --------------------------------------------------------- maintenance

    def add(self, emb_df: DataFrame, pkey: str) -> None:
        """Append NEW keys' vectors to their cells/buckets (frozen
        quantizer). Callers with possibly-existing keys use ``upsert``."""
        if self.method == "brute" or not self.exists():
            return
        emb_df = emb_df.select(F.col(pkey), F.col("embeddings"))
        if self.method == "signbit":
            from pg_vectorize_spark.operators.ann import signbit_index_add

            signbit_index_add(
                emb_df, pkey, "embeddings", self.index_dir, nbits=self.nbits
            )
        elif self.method == "ivf":
            from pg_vectorize_spark.operators.ann import ivf_index_add

            ivf_index_add(
                emb_df, self.centroids_df(), pkey, "embeddings",
                self.index_dir,
            )
        else:  # ivfpq
            from pg_vectorize_spark.operators.pq import ivfpq_index_add

            ivfpq_index_add(
                emb_df,
                self.centroids_df(),
                self._codebook(),
                pkey,
                "embeddings",
                self.index_dir,
                residual=self._load_quantizer().get(
                    "residual", self.residual
                ),
            )
        self._bump_maint()

    def delete(self, keys_df: DataFrame, pkey: str) -> int:
        if self.method == "brute" or not self.exists():
            return 0
        from pg_vectorize_spark.operators.ann import (
            _partitioned_index_delete,
        )

        part_col = "bucket" if self.method == "signbit" else "cell"
        n = _partitioned_index_delete(
            self.spark, self.index_dir, keys_df, pkey, part_col
        )
        self._bump_maint()
        return n

    def upsert(
        self,
        emb_df: DataFrame,
        pkey: str,
        delete_keys_df: DataFrame | None = None,
    ) -> None:
        """Delete-then-add: an updated vector may move cells, so the old
        row must leave its partition before the new one lands.

        ``delete_keys_df`` folds a micro-batch's delete cascade into the
        SAME delete pass (one partition rewrite covers updated ∪ deleted
        keys) instead of the caller paying a second ``delete()``
        transaction — the CDF-with-deletes shape (VERDICT r10 #1)."""
        if self.method == "brute" or not self.exists():
            return
        keys = emb_df.select(pkey)
        if delete_keys_df is not None:
            keys = keys.unionByName(delete_keys_df.select(pkey))
        self.delete(keys, pkey)
        self.add(emb_df, pkey)

    def _reset_maint(
        self,
        built_rows: int | None = None,
        built_skew: float | None = None,
        fresh_build: bool = False,
    ) -> None:
        """``fresh_build=True`` (the build() paths) distinguishes
        'build produced no skew baseline — CLEAR it' from the
        compaction paths' 'keep the prior baseline' (ADVICE r11: a
        rebuild that can't produce a baseline — signbit, train !=
        kmeans, drift_stats None — must not inherit a stale one from a
        different quantizer, or maybe_compact's 1.05x skew comparison
        runs against the wrong build)."""
        os.makedirs(self.index_dir, exist_ok=True)
        state: dict = {"ops_since_compact": 0}
        prev: dict = {}
        if built_rows is None or (built_skew is None and not fresh_build):
            # keep the build-time baselines across compactions
            try:
                with open(self._maint_path) as f:
                    prev = json.load(f)
            except (FileNotFoundError, ValueError):
                prev = {}
        if built_rows is not None:
            state["built_rows"] = int(built_rows)
        elif "built_rows" in prev:
            state["built_rows"] = prev["built_rows"]
        if built_skew is not None:
            state["built_skew"] = float(built_skew)
        elif "built_skew" in prev and not fresh_build:
            state["built_skew"] = prev["built_skew"]
        with open(self._maint_path, "w") as f:
            json.dump(state, f)

    def _bump_maint(self) -> None:
        try:
            with open(self._maint_path) as f:
                state = json.load(f)
        except (FileNotFoundError, ValueError):
            state = {"ops_since_compact": 0}
        state["ops_since_compact"] = state.get("ops_since_compact", 0) + 1
        with open(self._maint_path, "w") as f:
            json.dump(state, f)
        if state["ops_since_compact"] >= self.compact_every:
            self.maybe_compact(force=True)

    def maybe_compact(self, force: bool = False) -> int:
        """Small-file hygiene on an op-count cadence (every
        ``compact_every`` add/delete batches) — Delta OPTIMIZE-style,
        keeps a high-frequency ingest loop from degrading probes into
        many-small-file scans."""
        if self.method == "brute" or not self.exists():
            return 0
        if not force:
            try:
                with open(self._maint_path) as f:
                    if (
                        json.load(f).get("ops_since_compact", 0)
                        < self.compact_every
                    ):
                        return 0
            except (FileNotFoundError, ValueError):
                return 0
        from pg_vectorize_spark.operators.ann import compact_index

        part_col = "bucket" if self.method == "signbit" else "cell"
        n = compact_index(
            self.spark, self.index_dir, part_col=part_col, max_files=4
        )
        self._reset_maint()
        # piggyback drift observation on the compaction cadence: one
        # tiny per-cell count aggregate every compact_every batches, not
        # per micro-batch. The observation only RECOMMENDS — the next
        # ingest acts (engine._index_upsert), because a retrain needs
        # the embeddings snapshot this manager doesn't hold.
        #
        # Only flag when a retrain can actually CHANGE the quantizer:
        # signbit buckets are data-independent (sign patterns) and
        # train='first' centroids come from the snapshot's same leading
        # rows — rebuilding either reproduces the same cells, so a skew
        # flag would trigger a full-corpus rebuild on every cycle
        # forever without converging. kmeans is the only trained mode.
        if self.method == "signbit" or self.train != "kmeans":
            return n
        try:
            stats = self.drift_stats()
        except Exception:
            stats = None
        if stats is None:
            return n
        if stats["growth"] is None:
            # unknown baseline (index predates drift tracking): adopt
            # the current size as the baseline instead of flagging —
            # missing metadata is not drift
            self._reset_maint(
                built_rows=stats["rows"], built_skew=stats["skew"]
            )
            return n
        # Skew flags only when it WORSENED relative to what the fresh
        # build achieved (ADVICE r10: an inherently skewed corpus would
        # otherwise re-flag forever — build() resets the growth baseline
        # but cannot improve an irreducible partition). Unknown baseline
        # (pre-r11 index): adopt the current skew, mirroring the growth
        # adoption above — missing metadata is not drift.
        built_skew = None
        try:
            with open(self._maint_path) as f:
                built_skew = json.load(f).get("built_skew")
        except (FileNotFoundError, ValueError):
            pass
        skew_drifted = stats["skew"] >= self.retrain_skew
        if skew_drifted and built_skew is None:
            self._reset_maint(built_skew=stats["skew"])
            skew_drifted = False
        elif skew_drifted:
            skew_drifted = stats["skew"] > float(built_skew) * 1.05
        if stats["growth"] >= self.retrain_growth or skew_drifted:
            self._flag_retrain(stats)
        return n

    # --------------------------------------------------------------- drift

    def drift_stats(self) -> dict | None:
        """How far the frozen quantizer has drifted from the data it was
        trained on. Returns None for brute/absent indexes, else::

            rows        current indexed vectors
            built_rows  vectors at quantizer-training time (0 if unknown)
            growth      rows / built_rows (None when the baseline is
                        unknown — an index built before drift tracking;
                        the next compaction adopts the current size)
            max_share   largest cell's fraction of all rows
            skew        max_share * configured cell count (1.0 = perfectly
                        even; k = one cell holds k times its fair share)

        A grown corpus makes nprobe cells cover a smaller data fraction
        (recall decay); a skewed cell makes every probe that touches it
        scan-heavy (latency). Both mean the centroids no longer describe
        the data — the fix is a retrain, not more maintenance."""
        if self.method == "brute" or not self.exists():
            return None
        part_col = "bucket" if self.method == "signbit" else "cell"
        per = (
            self.spark.read.parquet(self.index_dir)
            .groupBy(part_col)
            .count()
            .collect()
        )
        rows = sum(r["count"] for r in per)
        max_rows = max((r["count"] for r in per), default=0)
        n_cells = (
            (1 << self.nbits)
            if self.method == "signbit"
            else self.n_centroids
        )
        try:
            with open(self._maint_path) as f:
                built = int(json.load(f).get("built_rows", 0))
        except (FileNotFoundError, ValueError):
            built = 0
        return {
            "rows": rows,
            "built_rows": built,
            "growth": (rows / built) if built > 0 else None,
            "max_share": (max_rows / rows) if rows > 0 else 0.0,
            "skew": (max_rows / rows * n_cells) if rows > 0 else 0.0,
            "n_cells": n_cells,
        }

    def _flag_retrain(self, stats: dict) -> None:
        try:
            with open(self._maint_path) as f:
                state = json.load(f)
        except (FileNotFoundError, ValueError):
            state = {"ops_since_compact": 0}
        state["retrain_recommended"] = True
        state["drift"] = stats  # growth is None-or-float: JSON-safe
        with open(self._maint_path, "w") as f:
            json.dump(state, f)

    def retrain_recommended(self) -> bool:
        """True when the last drift observation crossed the growth/skew
        thresholds. Cleared by the next ``build`` (which resets the
        maintenance state with a fresh baseline)."""
        try:
            with open(self._maint_path) as f:
                return bool(json.load(f).get("retrain_recommended"))
        except (FileNotFoundError, ValueError):
            return False

    # --------------------------------------------------------------- probe

    def candidates(
        self,
        query_vec: Sequence[float],
        min_rows: int | None = None,
    ) -> DataFrame:
        """The probe stage of an indexed search. ivf/signbit return
        (pkey, embeddings) straight off the pruned partitions; ivfpq
        returns candidate keys only (the engine reranks their float
        vectors from the primary store). Every variant's scan carries a
        PartitionFilters IN list — the pruning happens at the parquet
        source, not post-scan (plan-locked in tests).

        ``min_rows`` auto-widens the probe: when the probed cells /
        Hamming ball hold fewer candidates than requested (sparse cells
        near the query), the probe widens (nprobe doubles / radius
        grows) until the floor is met or the whole index is covered —
        so a top-k search never silently returns fewer than k rows just
        because the query landed in a thin cell (the reference's HNSW
        index always yields k when the corpus has them). Each widening
        step costs one count over the pruned scan; the steady state
        (well-filled cells) pays a single count."""
        if self.method == "brute" or not self.exists():
            raise VectorizeError(
                f"no persisted index at {self.index_dir}"
            )
        if self.method == "signbit":
            radius = self.probe_hamming
            if min_rows is not None:
                while (
                    radius < self.nbits
                    and self._pruned_rows(query_vec, radius=radius)
                    < min_rows
                ):
                    radius += 1
            return self._signbit_candidates(query_vec, radius)
        if self.method == "ivf":
            nprobe = self._widened_nprobe(query_vec, min_rows)
            return self._ivf_candidates(query_vec, nprobe)
        # ivfpq: the ADC candidate list is keys-only; widening raises
        # nprobe the same way (n_candidates >= min_rows is implied by
        # rerank_candidates >= k in any sane config, but enforce it)
        state = self._load_quantizer()
        n_cand = self.rerank_candidates
        if min_rows is not None:
            n_cand = max(n_cand, min_rows)
        nprobe = self._widened_nprobe(query_vec, min_rows)
        return self._ivfpq_candidates(query_vec, state, nprobe, n_cand)

    def _widened_nprobe(
        self, query_vec: Sequence[float], min_rows: int | None
    ) -> int:
        nprobe = self.nprobe
        if min_rows is None:
            return nprobe
        while (
            nprobe < self.n_centroids
            and self._pruned_rows(query_vec, nprobe=nprobe) < min_rows
        ):
            nprobe = min(2 * nprobe, self.n_centroids)
        return nprobe

    def _pruned_rows(
        self,
        query_vec: Sequence[float],
        nprobe: int | None = None,
        radius: int | None = None,
    ) -> int:
        """Row count of the pruned index scan at the given probe width —
        the widening check's metric. The count is pure partition-level
        metadata (no data filter), so it is read DRIVER-SIDE from the
        probed partition directories' parquet footers — zero Spark jobs
        on the steady-state search path (r13 optimization round; the
        footer ``num_rows`` is exactly what Spark's metadata-only
        count(*) resolves to over the same files). Falls back to the
        Spark count when the index dir is not a readable local
        partitioned layout."""
        if radius is not None:
            from pg_vectorize_spark.operators.ann import (
                _hamming_ball,
                query_signbit_bucket,
            )

            probes = _hamming_ball(
                query_signbit_bucket(query_vec, self.nbits),
                self.nbits,
                radius,
            )
            local = self._partition_rows_local("bucket", probes)
            if local is not None:
                return local
            return self._index_scan().where(
                sq.in_list("bucket", probes)
            ).count()
        from pg_vectorize_spark.operators.ann import probe_cells

        probed = probe_cells(self._centroids_local(), query_vec, nprobe)
        cells = [int(r["centroid_id"]) for r in probed]
        local = self._partition_rows_local("cell", cells)
        if local is not None:
            return local
        return self._index_scan().where(sq.in_list("cell", cells)).count()

    def _partition_rows_local(
        self, part_col: str, values: Sequence[int]
    ) -> int | None:
        """Total rows under the given partition values, read from the
        parquet file footers without a Spark job. An absent partition
        dir contributes 0 rows (same as the pruned scan). Returns None
        — caller falls back to a Spark count — when the index dir is
        not driver-local or a partition holds something other than
        plain parquet files. Cost is one footer read per data file in
        the PROBED partitions only (compaction caps files per
        partition), the same metadata Spark's count job would read."""
        if not os.path.isdir(self.index_dir):
            return None
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow ships w/ pyspark
            return None
        total = 0
        try:
            for v in values:
                part_dir = os.path.join(self.index_dir, f"{part_col}={v}")
                if not os.path.isdir(part_dir):
                    continue
                for name in os.listdir(part_dir):
                    if name.startswith(("_", ".")):
                        continue  # Spark metadata/hidden sidecars
                    path = os.path.join(part_dir, name)
                    if not name.endswith(".parquet") or not os.path.isfile(
                        path
                    ):
                        return None  # unexpected layout — let Spark decide
                    total += pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return None
        return total

    def _index_scan(self) -> DataFrame:
        """The full-index parquet scan every probe filters — memoized
        per (session, index_dir) behind a directory-entry mtime stamp
        (r13 optimization round): each probe was re-resolving the same
        unchanged layout (~0.1 s of driver/py4j work per query). Every
        index mutation creates/replaces/removes files inside a
        partition subdir (bumping that entry's mtime) or rewrites a
        meta/maintenance sidecar (an entry itself), so the stamp
        changes whenever the file set can have; a non-local dir stamps
        None and is simply never cached."""
        from pg_vectorize_spark.plan_cache import (
            cached_parquet_scan,
            dir_entries_stamp,
        )

        return cached_parquet_scan(
            self.spark, self.index_dir, dir_entries_stamp(self.index_dir)
        )

    def _signbit_candidates(
        self, query_vec: Sequence[float], radius: int
    ) -> DataFrame:
        from pg_vectorize_spark.operators.ann import (
            _hamming_ball,
            query_signbit_bucket,
        )

        probes = _hamming_ball(
            query_signbit_bucket(query_vec, self.nbits),
            self.nbits,
            radius,
        )
        return self._index_scan().where(sq.in_list("bucket", probes))

    def _ivf_candidates(
        self, query_vec: Sequence[float], nprobe: int
    ) -> DataFrame:
        from pg_vectorize_spark.operators.ann import probe_cells

        # driver-local centroids: no Spark job on the probe's critical
        # path (r13 optimization round — bit-parity probe_cells_local)
        probed = probe_cells(self._centroids_local(), query_vec, nprobe)
        cells = [int(r["centroid_id"]) for r in probed]
        return self._index_scan().where(sq.in_list("cell", cells))

    def _ivfpq_candidates(
        self,
        query_vec: Sequence[float],
        state: dict,
        nprobe: int,
        n_candidates: int,
    ) -> DataFrame:
        from pg_vectorize_spark.operators.pq import ivfpq_candidates

        return ivfpq_candidates(
            self.spark,
            self.index_dir,
            self._centroids_local(state),
            state["codebook"],
            state["pkey"],
            query_vec,
            nprobe=nprobe,
            n_candidates=n_candidates,
            residual=state.get("residual", self.residual),
        )

    def drop(self) -> None:
        import shutil

        shutil.rmtree(self.index_dir, ignore_errors=True)
