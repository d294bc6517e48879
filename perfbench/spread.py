"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload ingest_rw --seeds 1-10

Runs the benchmark once per seed (one fresh process each, run_seconds
from BENCHMARK.json), then prints for every end-to-end metric its median,
quartiles (``statistics.quantiles(values, n=4)``) and the spread
``(q3 - q1) / median`` beside the metric's bound. Raw values go to
``.perfbench_out/spread-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values: dict[str, list[float]] = {}
    walls = []
    for seed in a.seeds:
        t0 = time.perf_counter()
        p = subprocess.run(
            [*cfg["command"], "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(cfg["run_seconds"]), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        res = json.loads(p.stdout.splitlines()[-1]) if p.returncode == 0 else None
        if res is None or not res["correct"]:
            print(f"seed {seed}: exit {p.returncode}, result {res}", file=sys.stderr)
            continue
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s", flush=True)
    bounds = {m["name"]: m.get("bound") for m in cfg["end_to_end"]}
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else (" ok" if spread <= b / 3 else " WIDE" if spread > b else " <bound")
        print(f"{k:28s} median {med:12.3f}  q1 {q1:12.3f}  q3 {q3:12.3f}  "
              f"spread {spread:6.3f}  bound {b}{flag}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_out", f"spread-{a.workload}.json"), "w") as fh:
        json.dump({"seeds": a.seeds, "values": values, "walls": walls}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
