"""Smoke test of the benchmark at tiny sizes (a few minutes on 4 cores).

    python3 perfbench/smoke.py

Checks, through the same command the timed runs use:

1. every workload runs end to end, all its operations check out, and the
   result line carries exactly the metrics BENCHMARK.json names (the
   end-to-end set untraced, the per-layer set traced);
2. a result corrupted on purpose (``--inject-fault``) is counted as a
   failed operation and the run reports ``correct: false``;
3. in a directory holding only BENCHMARK.json and the benchmark's own
   files, the command exits non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SECONDS = "3"


def bench(cwd: str, workload: str, *extra: str):
    cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cmd = [*cfg["command"], "--workload", workload, "--seed", "7",
           "--seconds", SECONDS, *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p.returncode, result, p.stderr


def main() -> int:
    cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    listed = [w["name"] for w in cfg["workloads"]]
    e2e = {m["name"]: m["unit"] for m in cfg["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in cfg["per_layer"]}
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in [*listed, "serve_zipf"]:
        for trace in ("0", "1") if w in listed else ("0",):
            code, res, err = bench(ROOT, w, "--trace", trace, "--size", "tiny")
            what = f"{w} trace={trace}"
            expect(code == 0 and res is not None, f"{what}: exit 0 with a result line")
            if res is None:
                sys.stderr.write(err[-3000:])
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{what}: result keys")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{what}: {res['attempted']} operations, {res['failed']} failed")
            if w in listed:
                want = layer if trace == "1" else e2e
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                expect(got == want, f"{what}: metric names and units match BENCHMARK.json")

    for w in listed:
        code, res, _ = bench(ROOT, w, "--size", "tiny", "--inject-fault")
        expect(code == 0 and res is not None and res["failed"] >= 1 and not res["correct"],
               f"{w}: an injected wrong result is counted as failed "
               f"({None if res is None else res['failed']} failed)")

    bare = os.path.join(ROOT, ".perfbench_tmp", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in cfg["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _ = bench(bare, listed[0])
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, "bare directory: non-zero exit, no result")

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
