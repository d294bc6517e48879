"""The benchmark's workloads. Each drives the engine only through its
public API and returns raw observations; ``main.py`` turns them into
metrics.

- ``ingest_rw``: change batches through ``ChangeFeedPipeline.process_batch``
  on an IVF-indexed job; after each batch a full-text freshness read
  that must see the batch, then a burst of Zipf reads from two clients.
- ``corpus_batch``: ``CorpusPipeline`` normalize -> quality filter ->
  line dedup -> MinHash dedup -> ``write_shards`` over a seeded corpus
  with planted duplicates; each pass is validated, then two training
  loader clients read the shards.
- ``serve_zipf``: read-only Zipf traffic from two clients against a job
  built with ``create_job`` defaults, every result checked exactly.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

import gen
import reference

SIZES = {
    "full": {
        "ingest_docs": 1000, "batch": (60, 30, 10), "burst": 20, "warm_burst": 4,
        "corpus_docs": 2000, "corpus_files": 8, "loader_reads": 20,
        "serve_docs": 5000, "serve_warm_reads": 24,
        "pool": 48,
    },
    "tiny": {
        "ingest_docs": 200, "batch": (12, 6, 3), "burst": 3, "warm_burst": 1,
        "corpus_docs": 600, "corpus_files": 4, "loader_reads": 3,
        "serve_docs": 300, "serve_warm_reads": 4,
        "pool": 12,
    },
}
CLIENTS = 2
T0 = time.perf_counter()  # process start, for the phase record
N_SETUPS = 3
CDF_SCHEMA = "id long, content string, category string, price long, _change_type string"


class Run:
    """Per-run state shared by the workloads: the Spark session, seed,
    sizes, scratch dir, tracer hooks and the failure ledger."""

    def __init__(self, spark, seed, seconds, size, tmp, tracing, inject_fault):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.size = SIZES[size]
        self.tmp = tmp
        self.tracing = tracing  # main.Untraced or main.Traced
        self.inject_fault = inject_fault
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()
        self.setup_times: list[float] = []
        self.extra: dict = {}
        self.windows: list[dict] = []
        self.obs: dict = {}
        self.phases: list = []  # (phase, seconds since process start)

    def phase(self, name: str) -> None:
        self.phases.append((name, round(time.perf_counter() - T0, 2)))

    def timed_windows(self):
        """Yield one ``Window`` per timed window (the tracing mode decides
        how many, and which are traced)."""
        for w in self.tracing.windows():
            self.phase(f"window{w}")
            self.obs = {"reads": [], "fresh": [], "proc": [], "events": 0, "read_wall": 0.0}
            self.windows.append(self.obs)
            win = Window(self.seconds)
            yield win
            self.obs["wall"] = time.perf_counter() - win.t0
            self.obs["cycles"] = win.cycles
        self.phase("checks")

    def fail(self, why: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(why[:300])

    def attempt(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n

    def setups(self, fn) -> None:
        """N_SETUPS set-ups; the first runs cold and is also reported as
        the workload's first operation."""
        self.phase("setups")
        for i in range(N_SETUPS):
            t0 = time.perf_counter()
            with self.tracing.op("setup"):
                fn(i)
            self.setup_times.append(time.perf_counter() - t0)
        self.phase("warm")


class Window:
    """A timed window of ``seconds``. ``more()`` is asked before each
    cycle: the first cycle always runs, a later one only when it is
    predicted (from the previous cycle's length) to end inside the
    window. A run thus measures whole cycles and does not start one it
    expects to overrun."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.t0 = self.last = time.perf_counter()
        self.cycles = 0

    def more(self) -> bool:
        now = time.perf_counter()
        ok = self.cycles == 0 or (now - self.t0) + (now - self.last) <= self.seconds
        self.last = now
        self.cycles += ok
        return ok


def _write_table(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pylist(rows), tmp)
    os.replace(tmp, path)


def _clients(n_per_client: int, one_read) -> float:
    """Two closed-loop clients, each calling ``one_read()`` ``n_per_client``
    times (a client sends its next read only when the previous one
    returned); returns the wall time of the burst."""
    def client():
        for _ in range(n_per_client):
            one_read()

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def _read_burst(run: Run, sess, job: str, pool, stream_iter, n_per_client, on_result):
    """A burst of Zipf requests (search, full-text, hybrid) from the
    clients; ``on_result(req, rows, error, seconds)`` sees each."""
    lock = threading.Lock()

    def one_read():
        with lock:
            req = pool[next(stream_iter)]
        t0 = time.perf_counter()
        rows, err = None, None
        try:
            with run.tracing.op("read"):
                rows = getattr(sess, req["kind"])(
                    job, req["query"], num_results=req["k"],
                    filters=req.get("filters"),
                )
        except Exception as e:  # noqa: BLE001 - counted as failed
            err = f"{req['kind']} raised {type(e).__name__}: {e}"
        on_result(req, rows, err, time.perf_counter() - t0)

    return _clients(n_per_client, one_read)


def _maybe_corrupt(run: Run, rows):
    """Fault injection for the smoke test: drop the top row of the first
    result checked, which the reference check must count as failed."""
    if run.inject_fault and rows:
        run.inject_fault = False
        return rows[1:]
    return rows


# ---------------------------------------------------------------- ingest_rw


def ingest_rw(run: Run) -> None:
    from pg_vectorize_spark.engine import VectorizeSession
    from pg_vectorize_spark.streaming.incremental import ChangeFeedPipeline

    spark, sz, seed = run.spark, run.size, run.seed
    docs = gen.make_docs(seed, sz["ingest_docs"])
    pool = gen.make_query_pool(seed, sz["pool"], docs)
    stream = gen.ChangeStream(seed, docs, *sz["batch"])
    reads_iter = iter(gen.request_stream(seed, "ingest-reads", pool, 100_000))
    src_dir = os.path.join(run.tmp, "ingest_src")
    os.makedirs(src_dir)
    src_file = os.path.join(src_dir, "part-0.parquet")
    _write_table(docs, src_file)
    sess = VectorizeSession(spark, workspace=os.path.join(run.tmp, "ws"))
    job = "ingest"
    run.setups(lambda i: sess.create_job(
        job if i == 0 else f"setup{i}", src_dir, columns=["content"],
        primary_key="id", index_method="ivf",
    ))
    pipe = ChangeFeedPipeline(sess, job)
    emb, ana = reference.Embedder(), reference.Analyzer()
    states: dict[int, dict] = {}  # batch no -> table state after it
    pending: list = []  # (batch no, req, rows) checked after the window

    def cycle(timed: bool, burst: int) -> None:
        bt = stream.next_batch()
        b = bt["batch_no"]
        states[b] = dict(stream.live)
        _write_table(sorted(stream.live.values(), key=lambda r: r["id"]), src_file)
        batch_df = spark.createDataFrame(
            [(e["id"], e["content"], e["category"], e["price"], e["_change_type"])
             for e in bt["events"]], CDF_SCHEMA)
        terms = [bt["marker"]] + [gen.id_word(k) for k in bt["deleted"]]
        want = {r["id"]: r["content"] for r in bt["changed"]}
        run.attempt(2)
        t0 = time.perf_counter()
        try:
            with run.tracing.op("batch", payload=bt["events"], workspace=sess.workspace):
                pipe.process_batch(batch_df, b)
            t1 = time.perf_counter()
            rows = sess.full_text_search(job, " ".join(terms),
                                         num_results=len(want) + len(bt["deleted"]) + 5)
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001
            run.fail(f"batch {b} raised {type(e).__name__}: {e}")
            run.fail(f"batch {b}: freshness read not reached")
            return
        rows = _maybe_corrupt(run, rows)
        got = {r["id"]: r["content"] for r in rows}
        if got != want:
            run.fail(f"batch {b}: freshness read saw {len(got)} rows, "
                     f"want {len(want)}; stale or missing: "
                     f"{sorted(set(got.items()) ^ set(want.items()))[:3]}")
        if timed:
            run.obs["proc"].append(t1 - t0)
            run.obs["fresh"].append(t2 - t0)
            run.obs["events"] += len(bt["events"])

        def on_result(req, rows, err, dt):
            run.attempt()
            if err is not None:
                run.fail(err)
                return
            pending.append((b, req, rows))
            if timed:
                run.obs["reads"].append(dt)

        wall = _read_burst(run, sess, job, pool, reads_iter, burst, on_result)
        if timed:
            run.obs["read_wall"] += wall

    cycle(timed=False, burst=sz["warm_burst"])
    for win in run.timed_windows():
        while win.more():
            cycle(timed=True, burst=sz["burst"])

    # ---- checks, outside the timed window
    corpora: dict[int, reference.Corpus] = {}
    for b, req, rows in pending:
        if b not in corpora:
            corpora[b] = reference.Corpus(states[b], emb, ana)
        why = reference.check_consistent(req, _maybe_corrupt(run, rows), corpora[b])
        if why:
            run.fail(why)
    live = stream.live
    run.attempt()
    stats = sess.job_stats(job)
    if not (stats["embeddings"]["rows"] == stats["tokens"]["rows"] == len(live)):
        run.fail(f"end state: {stats['embeddings']['rows']} embeddings, "
                 f"{stats['tokens']['rows']} token rows, {len(live)} live docs")
    run.attempt()
    view = sess.job_view(job).select("id", "embeddings").collect()
    bad = [r["id"] for r in view
           if r["embeddings"] is None or r["id"] not in live
           or not np.array_equal(emb.doc(live[r["id"]]["content"]), r["embeddings"])]
    if bad or len(view) != len(live):
        run.fail(f"end state: {len(bad)} stale or missing embeddings, e.g. {bad[:3]}")


# ------------------------------------------------------------- corpus_batch


def corpus_batch(run: Run) -> None:
    from pg_vectorize_spark.pipelines import CorpusPipeline
    from pg_vectorize_spark.sources.training_shards import (
        read_training_shard,
        validate_shards,
    )

    spark, sz, seed = run.spark, run.size, run.seed
    rows, truth = gen.make_corpus(seed, sz["corpus_docs"])
    cdir = os.path.join(run.tmp, "corpus")
    os.makedirs(cdir)
    nf = sz["corpus_files"]
    for i in range(nf):
        _write_table(rows[i::nf], os.path.join(cdir, f"part-{i:03d}.parquet"))
    n_docs = len(rows)
    holder = {}

    def read_corpus(_i):
        df = spark.read.parquet(cdir)
        n = df.count()
        if n != n_docs:
            run.fail(f"corpus read: {n} rows, want {n_docs}")
        holder["df"] = df

    run.attempt(N_SETUPS)
    run.setups(read_corpus)
    df = holder["df"]

    def stages():
        return (CorpusPipeline(spark, df, pkey="doc_id", text_col="text")
                .normalize_text().filter_quality(0.5).dedup_lines())

    def one_pass(p: int):
        out = os.path.join(run.tmp, f"shards{p}")
        t0 = time.perf_counter()
        with run.tracing.op("batch", build=True):
            deduped = stages().dedup("minhash")
            run.tracing.build_done()
            manifest = deduped.write_shards(out, block_size=512, blocks_per_shard=96)
            t1 = time.perf_counter()
            bad = validate_shards(spark, out).count()
        t2 = time.perf_counter()
        man = sorted(tuple(r) for r in manifest.collect())
        return out, deduped, man, bad, t1 - t0, t2 - t0

    # warm pass, untimed, with the full correctness check of the dedup
    run.attempt(2)
    out, deduped, ref_manifest, bad, _, _ = one_pass(0)
    if bad:
        run.fail(f"warm pass: {bad} shards fail validate_shards")
    survivors = {r[0] for r in deduped.df().select("doc_id").collect()}
    leaked = [g for g in truth["exact_groups"] if sum(d in survivors for d in g) > 1]
    if leaked:
        run.fail(f"warm pass: {len(leaked)} planted exact-duplicate groups "
                 f"kept more than one doc, e.g. {leaked[0]}")
    if run.tracing.traced:
        kept_before = stages().df().count()
        run.extra["dedup_removed_share"] = (kept_before - len(survivors)) / max(truth["planted"], 1)

    def shard_reads(path, manifest, p, timed):
        shards = [m[0] for m in manifest]
        order = iter(gen.zipf_stream(seed, f"loader-{p}", len(shards), 100_000))
        want = {m[0]: m for m in manifest}
        lock = threading.Lock()

        def one_read():
            with lock:
                s = shards[next(order)]
            run.attempt()
            t0 = time.perf_counter()
            try:
                with run.tracing.op("read"):
                    got = read_training_shard(spark, path, s).select(
                        "block_id", "n_tokens").collect()
            except Exception as e:  # noqa: BLE001
                run.fail(f"shard {s} read raised {type(e).__name__}: {e}")
                return
            dt = time.perf_counter() - t0
            got = _maybe_corrupt(run, got)
            ids = [r[0] for r in got]
            m = want[s]  # (shard, n_blocks, n_tokens, min_block, max_block, checksum)
            if (len(ids) != m[1] or ids != sorted(ids) or (ids and (ids[0], ids[-1]) != (m[3], m[4]))
                    or sum(r[1] for r in got) != m[2]):
                run.fail(f"shard {s} read disagrees with its manifest row")
            if timed:
                with lock:
                    run.obs["reads"].append(dt)

        wall = _clients(sz["loader_reads"] if timed else sz["warm_burst"], one_read)
        if timed:
            run.obs["read_wall"] += wall

    shard_reads(out, ref_manifest, 0, timed=False)
    p = 0
    for win in run.timed_windows():
        while win.more():
            p += 1
            run.attempt(2)
            try:
                out, _, man, bad, proc, fresh = one_pass(p)
            except Exception as e:  # noqa: BLE001
                run.fail(f"pass {p} raised {type(e).__name__}: {e}")
                run.fail(f"pass {p}: validate_shards not reached")
                continue
            if bad:
                run.fail(f"pass {p}: {bad} shards fail validate_shards")
            if man != ref_manifest:
                run.fail(f"pass {p}: manifest differs from the warm pass")
            run.obs["proc"].append(proc)
            run.obs["fresh"].append(fresh)
            run.obs["events"] += n_docs
            shard_reads(out, man, p, timed=True)


# --------------------------------------------------------------- serve_zipf


def serve_zipf(run: Run) -> None:
    from pg_vectorize_spark.engine import VectorizeSession

    spark, sz, seed = run.spark, run.size, run.seed
    docs = gen.make_docs(seed, sz["serve_docs"])
    pool = gen.make_query_pool(seed, sz["pool"], docs)
    src_dir = os.path.join(run.tmp, "serve_src")
    os.makedirs(src_dir)
    n = len(docs)
    for i in range(4):
        _write_table(docs[i * n // 4:(i + 1) * n // 4], os.path.join(src_dir, f"part-{i}.parquet"))
    sess = VectorizeSession(spark, workspace=os.path.join(run.tmp, "ws"))
    job = "serve"
    run.setups(lambda i: sess.create_job(
        job if i == 0 else f"setup{i}", src_dir, columns=["content"], primary_key="id"))
    reads_iter = iter(gen.request_stream(seed, "serve-reads", pool, 100_000))
    results: list = []

    def on_result(timed):
        def f(req, rows, err, dt):
            run.attempt()
            if err is not None:
                run.fail(err)
                return
            results.append((req, rows))
            if timed:
                run.obs["reads"].append(dt)
        return f

    _read_burst(run, sess, job, pool, reads_iter, sz["serve_warm_reads"] // CLIENTS, on_result(False))
    for win in run.timed_windows():
        while win.more():
            run.obs["read_wall"] += _read_burst(run, sess, job, pool, reads_iter, 4, on_result(True))
    ref = reference.Corpus({d["id"]: d for d in docs}, reference.Embedder(), reference.Analyzer())
    for req, rows in results:
        why = reference.check_read(req, _maybe_corrupt(run, rows), ref)
        if why:
            run.fail(why)


WORKLOADS = {"ingest_rw": ingest_rw, "corpus_batch": corpus_batch, "serve_zipf": serve_zipf}
#: the workloads BENCHMARK.json lists; serve_zipf writes nothing, so it
#: has no freshness or ingest-rate metric and is run by hand
LISTED = ("ingest_rw", "corpus_batch")
