"""One workload run in a fresh process: start Spark with the benchmark's
fixed settings, run the workload, print the record and the result line.

Started by ``run.py``, which sets the environment (PYTHONHASHSEED,
PYTHONPATH for the Python workers, TMPDIR) and owns the scratch dir.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
import workloads  # noqa: E402

#: the read-latency tail percentile; a run needs >= 40 reads so that at
#: least 10 reads lie beyond it
TAIL_PCT = 75
HEAP = "1536m"


def spark_session(tmp: str, cores: int):
    from pyspark.sql import SparkSession

    conf = {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.python.worker.reuse": "true",
    }
    b = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


# ------------------------------------------------------------------ tracing


class Untraced:
    """Tracing off: every hook is a no-op."""

    traced = False

    def op(self, kind, **_kw):
        return nullcontext()

    def build_done(self):
        pass

    def windows(self):
        yield 0


class Traced:
    """Tracing on. Spans for every layer call, Spark counters per
    operation, deferred count probes. ``windows`` runs an untraced, a
    traced and another untraced window, so the run reports its own
    tracing overhead against the untraced mean, free of warm-up drift."""

    traced = True

    def __init__(self, spark):
        import tracing as tr

        self.spark = spark
        self.tracer = tr.Tracer()
        self.counters = tr.SparkCounters(spark)
        self.ops: list[dict] = []
        self.window = None  # index of the current timed window
        self._rid = iter(range(1, 1 << 30))
        self._wall_off = time.time() - time.perf_counter()
        self.tracer.install()
        self.installed = True

    def _set(self, on: bool) -> None:
        if on and not self.installed:
            self.tracer.install()
        elif not on and self.installed:
            self.tracer.uninstall()
        self.installed = on

    def windows(self):
        self._set(False)
        self.window = 0
        yield 0
        self._set(True)
        self.window = 1
        gc0, pc0 = self.counters.gc_ms(), dict(self.tracer.plan_cache)
        yield 1
        self.gc_window_ms = self.counters.gc_ms() - gc0
        self.plan_cache_window = {k: self.tracer.plan_cache[k] - pc0[k] for k in pc0}
        self._set(False)
        self.window = 2
        yield 2
        self.window = None

    def build_done(self):
        self._build_end = time.perf_counter()

    @contextmanager
    def op(self, kind, payload=None, workspace=None, build=False):
        if not self.installed:
            yield
            return
        rid = next(self._rid)
        sc = self.spark.sparkContext
        concurrent = kind == "read"
        before = None if concurrent else self.counters.ungrouped()
        files0 = _tree(workspace) if workspace else None
        self._build_end = None
        if concurrent:
            sc.setLocalProperty("spark.jobGroup.id", f"pb-{rid}")
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, rid=rid, serial=not concurrent):
                yield
        finally:
            wall = time.perf_counter() - t0
            if concurrent:
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs = self.counters.group_jobs(f"pb-{rid}")
                build_end = self.tracer.last_end(rid, "search.build")
            else:
                jobs = self.counters.ungrouped() - before
                build_end = self._build_end if build else None
            rec = {"kind": kind, "rid": rid, "window": self.window, "wall_s": wall}
            rec.update(self.counters.collect(
                jobs, None if build_end is None else build_end + self._wall_off, wall))
            rec["rdds_persisted"] = self.counters.persisted()
            rec.update(self.tracer.run_probes(self.spark, rid))
            if workspace:
                rec["bytes_written"] = _written(files0, _tree(workspace))
                rec["payload_bytes"] = sum(
                    len(str(v).encode()) for e in payload for v in e.values() if v is not None)
            self.ops.append(rec)


def _tree(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


# ------------------------------------------------------------------ metrics


def _pct(xs, q):
    """Nearest-rank percentile: with 40 samples, p75 leaves 10 beyond it."""
    return sorted(xs)[max(math.ceil(q / 100.0 * len(xs)), 1) - 1]


def end_to_end(run, w: dict) -> dict:
    reads, fresh = w["reads"], w["fresh"]
    out = {
        "setup_s": statistics.median(run.setup_times[1:]),
        "fresh_p50_ms": statistics.median(fresh) * 1000 if fresh else None,
        "rows_per_s": w["events"] / sum(w["proc"]) if w["proc"] else None,
        "read_p50_ms": statistics.median(reads) * 1000 if reads else None,
        "read_tail_ms": _pct(reads, TAIL_PCT) * 1000 if reads else None,
        "reads_per_s": len(reads) / w["read_wall"] if w["read_wall"] else None,
    }
    return out


UNITS = {"setup_s": "s", "fresh_p50_ms": "ms", "rows_per_s": "1/s", "read_p50_ms": "ms",
         "read_tail_ms": "ms", "reads_per_s": "1/s", "peak_rss_mb": "MB"}

PER_LAYER = [
    # (name, unit)
    ("engine.exec_ms", "ms"), ("search.build_ms", "ms"), ("providers.embed_ms", "ms"),
    ("plan_cache.hit_share", "ratio"), ("plan_cache.lookups_per_read", "count"),
    ("fts.probe_ms", "ms"), ("fts.upsert_ms", "ms"), ("fts.compact_ms", "ms"),
    ("index.probe_ms", "ms"), ("index.rows_per_result", "ratio"),
    ("index.upsert_ms", "ms"), ("index.compact_ms", "ms"),
    ("snapshot.merge_ms", "ms"), ("snapshot.write_amp", "ratio"),
    ("change.detect_ms", "ms"), ("embed.ms", "ms"), ("embed.rows", "count"),
    ("setup.change_detect_ms", "ms"), ("setup.embed_ms", "ms"),
    ("stream.batch_ms", "ms"),
    ("corpus.build_ms", "ms"), ("corpus.shards_ms", "ms"),
    ("dedup.pairs", "count"), ("dedup.removed_share", "ratio"),
    *[(f"{k}.spark.{m}", u) for k in ("read", "batch") for m, u in (
        ("jobs_build", "count"), ("jobs_exec", "count"), ("stages", "count"),
        ("tasks", "count"), ("exec_cpu_ms", "ms"), ("cpu_util", "ratio"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"))],
    ("spark.rdds_persisted", "count"), ("jvm.gc_ms", "ms"),
    ("cold.first_op_ms", "ms"),
    ("trace.read_p50_overhead_ms", "ms"), ("trace.fresh_p50_overhead_ms", "ms"),
    ("trace.rows_per_s_overhead", "1/s"),
]


def _med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def per_layer(run, tr: Traced) -> dict:
    t = tr.tracer
    ops = [o for o in tr.ops if o["window"] == 1]
    by_kind = {k: [o for o in ops if o["kind"] == k] for k in ("read", "batch")}
    setups = [o for o in tr.ops if o["kind"] == "setup"]
    selft = t.self_times()
    eng_self: dict = {}
    for sp in t.spans:
        if sp.name == "engine.read" and sp.sid in selft:
            eng_self[sp.rid] = eng_self.get(sp.rid, 0.0) + selft[sp.sid]

    def span_ms(name, kind):
        per = t.per_rid(name)
        return _med([per.get(o["rid"], 0.0) * 1000 for o in by_kind[kind]])

    def setup_ms(name):
        per = t.per_rid(name)
        return _med([per.get(o["rid"], 0.0) * 1000 for o in setups])

    reads = by_kind["read"]
    pc = tr.plan_cache_window
    out = {
        "engine.exec_ms": _med([eng_self.get(o["rid"], 0.0) * 1000 for o in reads]),
        "search.build_ms": span_ms("search.build", "read"),
        "providers.embed_ms": span_ms("providers.embed", "read"),
        "plan_cache.hit_share": pc["hits"] / pc["lookups"] if pc["lookups"] else 0.0,
        "plan_cache.lookups_per_read": pc["lookups"] / len(reads) if reads else 0.0,
        "fts.probe_ms": span_ms("fts.probe", "read"),
        "fts.upsert_ms": span_ms("fts.upsert", "batch"),
        "fts.compact_ms": span_ms("fts.compact", "batch"),
        "index.probe_ms": span_ms("index.probe", "read"),
        "index.rows_per_result": _med([
            o["index.candidates"] / max(t.result_rows.get(o["rid"], 0), 1)
            for o in reads if "index.candidates" in o]),
        "index.upsert_ms": span_ms("index.upsert", "batch"),
        "index.compact_ms": span_ms("index.compact", "batch"),
        "snapshot.merge_ms": span_ms("snapshot.merge", "batch"),
        "snapshot.write_amp": _med([o["bytes_written"] / o["payload_bytes"]
                                    for o in by_kind["batch"] if o.get("payload_bytes")]),
        "change.detect_ms": span_ms("change.detect", "batch"),
        "embed.ms": span_ms("embed", "batch"),
        "embed.rows": _med([o.get("embed.rows", 0) for o in by_kind["batch"]]),
        "setup.change_detect_ms": setup_ms("change.detect"),
        "setup.embed_ms": setup_ms("embed"),
        "stream.batch_ms": span_ms("stream.batch", "batch"),
        "corpus.build_ms": span_ms("corpus.build", "batch"),
        "corpus.shards_ms": span_ms("corpus.shards", "batch"),
        "dedup.pairs": _med([o.get("dedup.pairs", 0) for o in by_kind["batch"]]),
        "dedup.removed_share": run.extra.get("dedup_removed_share", 0.0),
        "spark.rdds_persisted": _med([o["rdds_persisted"] for o in ops]),
        "jvm.gc_ms": tr.gc_window_ms / max(len(ops), 1),
        "cold.first_op_ms": run.setup_times[0] * 1000,
    }
    for kind in ("read", "batch"):
        for m in ("jobs_build", "jobs_exec", "stages", "tasks", "exec_cpu_ms", "cpu_util",
                  "shuffle_read_bytes", "shuffle_write_bytes"):
            out[f"{kind}.spark.{m}"] = _med([o[m] for o in by_kind[kind]])
    before, traced, after = (end_to_end(run, w) for w in run.windows)
    for key, name in (("read_p50_ms", "trace.read_p50_overhead_ms"),
                      ("fresh_p50_ms", "trace.fresh_p50_overhead_ms"),
                      ("rows_per_s", "trace.rows_per_s_overhead")):
        vals = (before[key], traced[key], after[key])
        out[name] = 0.0 if None in vals else vals[1] - (vals[0] + vals[2]) / 2
    return out


# --------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(workloads.SIZES), default="full")
    ap.add_argument("--inject-fault", action="store_true")
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    import pg_vectorize_spark

    if not os.path.abspath(pg_vectorize_spark.__file__).startswith(ROOT + os.sep):
        print(f"pg_vectorize_spark resolved outside the checkout: {pg_vectorize_spark.__file__}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    rss = host.PeakRss(os.getpid()).start()
    spark, conf = spark_session(a.tmp, cores)
    try:
        tracing = Traced(spark) if a.trace else Untraced()
        run = workloads.Run(spark, a.seed, a.seconds, a.size, a.tmp, tracing, a.inject_fault)
        run.phase("spark_ready")
        workloads.WORKLOADS[a.workload](run)
        run.phase("done")
        peak_mb = rss.stop()
        if a.trace:
            metrics = per_layer(run, tracing)
            units = dict(PER_LAYER)
        else:
            metrics = end_to_end(run, run.windows[0])
            metrics["peak_rss_mb"] = peak_mb
            units = UNITS
        missing = [k for k, v in metrics.items() if v is None]
        if missing and a.workload in workloads.LISTED:
            run.fail(f"no samples for {missing} (window too short for one operation?)")
        metrics = {k: v for k, v in metrics.items() if v is not None}
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "size": a.size, "attempted": run.attempted, "failed": run.failed,
            "succeeded": run.attempted - run.failed,
            "ops_failed_share": run.failed / max(run.attempted, 1),
            "failures": run.failures, "setup_times_s": run.setup_times, "phases": run.phases,
            "windows": run.windows,
            "reads_in_window": len(run.windows[0]["reads"]), "tail_percentile": TAIL_PCT,
            "controls": {"spark_conf": conf, "PYTHONHASHSEED": os.environ.get("PYTHONHASHSEED"),
                         "PYTHONPATH": os.environ.get("PYTHONPATH"), "cores": cores},
        }
        if a.trace:
            record["ops"] = tracing.ops
            with open(os.path.join(a.out, "spans.json"), "w") as fh:
                json.dump([sp.as_dict() for sp in tracing.tracer.spans], fh)
        with open(os.path.join(a.out, "record.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        result = {
            "correct": run.failed == 0,
            "attempted": max(run.attempted, 1),
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
