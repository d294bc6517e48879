"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_rw --seed 1 --seconds 20 --trace 0

Run from the repository root. Each call is one workload run in a fresh
child process (``main.py``) with the steadiness controls fixed here:
``PYTHONHASHSEED=0``, ``PYTHONPATH`` set to the checkout so the Spark
Python workers import the engine from source, and a fresh scratch dir
under ``.perfbench_tmp/`` (Spark local dir, workspace, inputs, JVM and
Python temp files) that is deleted when the run ends. The run record
(seed, controls, host noise, per-operation counts, failures) goes to
``.perfbench_out/<workload>-s<seed>-t<trace>/`` and to stdout; the last
stdout line is the result JSON.

Extra flags, not used by timed runs: ``--size tiny`` shrinks every
input (the smoke test uses it); ``--inject-fault`` corrupts one result
before it is checked, which must show up as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402

CHILD_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full")
    ap.add_argument("--inject-fault", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pg_vectorize_spark")):
        print("perfbench: the engine package pg_vectorize_spark is not in this "
              "checkout; run from a full checkout", file=sys.stderr)
        return 3
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{tag}-{os.getpid()}")
    out = os.path.join(ROOT, ".perfbench_out", tag)
    shutil.rmtree(tmp, ignore_errors=True)
    for d in (tmp, os.path.join(tmp, "py"), os.path.join(tmp, "jvm"), out):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": os.path.join(tmp, "py"),
        "OMP_NUM_THREADS": "1",
        "PYTHONUNBUFFERED": "1",
        # every JVM the launcher starts: no /tmp/hsperfdata, temp files
        # inside the scratch dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'jvm')}",
    })
    cmd = [sys.executable, os.path.join(HERE, "main.py"),
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--size", a.size, "--tmp", tmp, "--out", out]
    if a.inject_fault:
        cmd.append("--inject-fault")
    load0, calib0, cpu0 = host.loadavg(), host.calib_loop_s(), host.cpu_times()
    # own session: a timeout kills the child's whole tree (JVM, workers)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)

    def on_term(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)
    try:
        stdout, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {tag} exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        shutil.rmtree(tmp, ignore_errors=True)
        return 4
    finally:
        try:  # anything the child left behind in its session
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    noise = host.noise_record(cpu0, host.cpu_times(), load0)
    noise["calib_loop_s"] = [calib0, host.calib_loop_s()]
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout)
        print(f"perfbench: {tag} failed with exit code {proc.returncode}", file=sys.stderr)
        return proc.returncode or 5
    result = json.loads(lines[-1])
    rec_path = os.path.join(out, "record.json")
    with open(rec_path) as fh:
        record = json.load(fh)
    record["host_noise"] = noise
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1)
    summary = {k: record[k] for k in ("workload", "seed", "trace", "attempted", "succeeded",
                                      "failed", "ops_failed_share", "failures", "setup_times_s",
                                      "reads_in_window", "tail_percentile", "controls")}
    summary["host_noise"] = noise
    print("record " + json.dumps(summary))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
