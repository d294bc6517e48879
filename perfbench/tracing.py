"""Benchmark-side tracing: spans around calls into the engine's modules,
and Spark status-store counters diffed around each operation.

Nothing here changes the engine. ``Tracer.install`` wraps public
functions and methods of the engine's modules with timing wrappers and
``uninstall`` puts the originals back, so an untraced run executes the
engine exactly as shipped.

Spans are kept in memory as (name, start, end, parent, request id) and
written out once the run ends. Work the engine runs on its own driver
threads (``_run_parallel``) has no span stack of its own; it is
attributed to the one serial operation in flight.
"""

from __future__ import annotations

import functools
import itertools
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PROBE_GROUP = "perfbench-probe"


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "rid")

    def __init__(self, sid, name, start, parent, rid):
        self.sid, self.name, self.start = sid, name, start
        self.end, self.parent, self.rid = None, parent, rid

    def as_dict(self) -> dict:
        return {"id": self.sid, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "rid": self.rid}


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._serial: Span | None = None
        self._patches: list[tuple] = []
        self.plan_cache = {"lookups": 0, "hits": 0}
        self._last_scan: dict = {}
        self.probes: dict = {}  # rid -> list of deferred count thunks
        self.result_rows: dict = {}  # rid -> rows a read returned

    # ------------------------------------------------------------- spans

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid=None, serial: bool = False):
        st = self._stack()
        parent = st[-1] if st else self._serial
        if rid is None:
            rid = parent.rid if parent is not None else None
        sp = Span(next(self._ids), name, time.perf_counter(),
                  parent.sid if parent is not None else None, rid)
        with self._lock:
            self.spans.append(sp)
        st.append(sp)
        if serial:
            self._serial = sp
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            if serial:
                self._serial = None

    def current_rid(self):
        st = self._stack()
        if st:
            return st[-1].rid
        return self._serial.rid if self._serial is not None else None

    # ------------------------------------------------------------ patches

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        own = vars(owner).get(attr)  # None when inherited
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs, out)
            return out

        setattr(owner, attr, staticmethod(wrapper) if isinstance(own, staticmethod) else wrapper)
        self._patches.append((owner, attr, own))

    def install(self) -> None:
        import pg_vectorize_spark.engine as engine
        import pg_vectorize_spark.plan_cache as plan_cache
        from pg_vectorize_spark.fts_index import JobFtsIndexManager
        from pg_vectorize_spark.index_manager import JobIndexManager
        from pg_vectorize_spark.pipelines import CorpusPipeline
        from pg_vectorize_spark.providers.local import LocalHashEmbedder
        from pg_vectorize_spark.sources import parquet_snapshot
        from pg_vectorize_spark.streaming.incremental import ChangeFeedPipeline

        VS = engine.VectorizeSession
        for attr in ("search", "full_text_search", "hybrid_search"):
            self.wrap(VS, attr, "engine.read", after=self._note_rows)
        self.wrap(VS, "create_job", "engine.create_job")
        # operators.search, as the engine module bound them at import
        for attr in ("_semantic_op", "_fts_op", "_hybrid_op"):
            self.wrap(engine, attr, "search.build")
        for attr in ("detect_changes_join", "detect_orphans", "fetch_by_ids"):
            self.wrap(engine, attr, "change.detect")
        self.wrap(VS, "_embed_changed", "embed", after=self._count_embedded)
        self.wrap(LocalHashEmbedder, "generate_embedding", "providers.embed")
        self.wrap(plan_cache, "cached_parquet_scan", "plan_cache.scan", after=self._plan_cache_hit)
        self.wrap(JobFtsIndexManager, "probe_scores", "fts.probe")
        for attr in ("build",):
            self.wrap(JobFtsIndexManager, attr, "fts.build")
        for attr in ("add", "upsert", "overlay_ingest", "delete_with_tokens", "delete"):
            self.wrap(JobFtsIndexManager, attr, "fts.upsert")
        self.wrap(JobFtsIndexManager, "maybe_compact", "fts.compact")
        self.wrap(JobIndexManager, "candidates", "index.probe", after=self._count_candidates)
        self.wrap(JobIndexManager, "build", "index.build")
        for attr in ("add", "upsert", "delete"):
            self.wrap(JobIndexManager, attr, "index.upsert")
        self.wrap(JobIndexManager, "maybe_compact", "index.compact")
        for cls in (parquet_snapshot.SnapshotDataset, parquet_snapshot.BucketedSnapshotDataset):
            for attr in ("merge_upsert", "delete_keys", "write_full"):
                if attr in cls.__dict__:
                    self.wrap(cls, attr, "snapshot.merge")
        self.wrap(ChangeFeedPipeline, "process_batch", "stream.batch")
        for attr in ("normalize_text", "filter_quality", "dedup_lines", "dedup"):
            self.wrap(CorpusPipeline, attr, "corpus.build")
        self.wrap(CorpusPipeline, "duplicate_pairs", "dedup.pairs", after=self._count_pairs)
        self.wrap(CorpusPipeline, "write_shards", "corpus.shards")

    def uninstall(self) -> None:
        for owner, attr, own in reversed(self._patches):
            if own is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, own)
        self._patches.clear()

    # ------------------------------------------------------ count probes
    # Counts that need a Spark action are deferred: they run after the
    # operation's counters are read, in a job group the counters skip.

    def _defer(self, key: str, thunk) -> None:
        rid = self.current_rid()
        with self._lock:
            self.probes.setdefault(rid, []).append((key, thunk))

    def _note_rows(self, args, kwargs, out) -> None:
        rid = self.current_rid()
        with self._lock:
            self.result_rows[rid] = self.result_rows.get(rid, 0) + len(out)

    def _count_embedded(self, args, kwargs, out) -> None:
        self._defer("embed.rows", out.count)

    def _count_candidates(self, args, kwargs, out) -> None:
        self._defer("index.candidates", out.count)

    def _count_pairs(self, args, kwargs, out) -> None:
        self._defer("dedup.pairs", out.count)

    def _plan_cache_hit(self, args, kwargs, out) -> None:
        path = args[1] if len(args) > 1 else kwargs["path"]
        stamp = args[2] if len(args) > 2 else kwargs.get("stamp")
        key = kwargs.get("key") or (args[3] if len(args) > 3 else None) or path
        key = os.path.abspath(key)
        with self._lock:
            self.plan_cache["lookups"] += 1
            if stamp is not None and self._last_scan.get(key) is out:
                self.plan_cache["hits"] += 1
            self._last_scan[key] = out

    def run_probes(self, spark, rid) -> dict:
        with self._lock:
            todo = self.probes.pop(rid, [])
        out: dict = {}
        if not todo:
            return out
        sc = spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", PROBE_GROUP)
        try:
            for key, thunk in todo:
                out[key] = out.get(key, 0) + int(thunk())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out

    # ------------------------------------------------------------ summary

    def self_times(self) -> dict:
        """Span id -> self time: duration minus the union of the
        intervals its child spans cover."""
        kids: dict = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out = {}
        for sp in self.spans:
            if sp.end is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(sp.sid, []), key=lambda c: c.start):
                s, e = max(c.start, sp.start), min(c.end or sp.end, sp.end)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.sid] = (sp.end - sp.start) - covered
        return out

    def per_rid(self, name: str) -> dict:
        """rid -> total inclusive seconds of the OUTERMOST spans called
        ``name`` (a wrapped method calling another wrapped method of the
        same layer is counted once)."""
        by_id = {sp.sid: sp for sp in self.spans}
        out: dict = {}
        for sp in self.spans:
            if sp.name != name or sp.end is None:
                continue
            p = by_id.get(sp.parent)
            nested = False
            while p is not None:
                if p.name == name:
                    nested = True
                    break
                p = by_id.get(p.parent)
            if not nested:
                out[sp.rid] = out.get(sp.rid, 0.0) + (sp.end - sp.start)
        return out

    def last_end(self, rid, name: str) -> float | None:
        ends = [sp.end for sp in self.spans if sp.rid == rid and sp.name == name and sp.end]
        return max(ends) if ends else None


class SparkCounters:
    """Status-store totals for the jobs one operation ran.

    Jobs are found by job group for operations that run concurrently
    (each read sets its own group), and as the new ungrouped jobs for
    serial phases. Stage metrics come from ``statusStore()``; JVM GC time
    from the GC MX beans (local mode: one JVM)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.tracker = self.sc.statusTracker()
        self.cores = self.sc.defaultParallelism

    def gc_ms(self) -> int:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return int(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def persisted(self) -> int:
        return int(self.jsc.getPersistentRDDs().size())

    def ungrouped(self) -> set:
        return set(self.tracker.getJobIdsForGroup(None))

    def group_jobs(self, group: str) -> set:
        return set(self.tracker.getJobIdsForGroup(group))

    def collect(self, job_ids, build_end_wall: float | None, wall_s: float) -> dict:
        """Totals over ``job_ids``; jobs submitted before
        ``build_end_wall`` (epoch seconds) count as build jobs."""
        self.jsc.listenerBus().waitUntilEmpty()
        out = {"jobs_build": 0, "jobs_exec": 0, "stages": 0, "tasks": 0,
               "exec_cpu_ms": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
        stages = set()
        for jid in sorted(job_ids):
            try:
                j = self.store.job(int(jid))
            except Py4JJavaError:  # evicted from the store
                continue
            sub = j.submissionTime()
            sub_ms = sub.get().getTime() if sub.isDefined() else None
            if build_end_wall is not None and sub_ms is not None and sub_ms <= build_end_wall * 1000.0:
                out["jobs_build"] += 1
            else:
                out["jobs_exec"] += 1
            stages.update(int(x) for x in j.stageIds().mkString(",").split(",") if x)
        for sid in stages:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += int(sd.numCompleteTasks())
            out["exec_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
            out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
        out["cpu_util"] = out["exec_cpu_ms"] / 1000.0 / max(wall_s * self.cores, 1e-9)
        return out
