"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py --workloads zonal_requests,near_dup --seeds 1-10
    python3 perfbench/sweep.py --workloads daily_drop --seeds 3 --trace 1 --out profile.json

For every workload and metric it prints the median over seeds and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, the
figure each end-to-end bound in BENCHMARK.json must stay above. ``--out``
writes the result lines, detail lines and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=int, default=None, help="default: run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    runs, summary = [], {}
    for w in a.workloads.split(","):
        values: dict[str, list[float]] = {}
        for seed in _seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True,
            )
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {seed}: exit {p.returncode}", file=sys.stderr)
                return 1
            result, detail = json.loads(lines[-1]), json.loads(lines[-2])
            runs.append({"workload": w, "seed": seed, "wall_s": time.time() - t0,
                         "detail": detail, "result": result})
            print(f"{w} seed {seed}: correct={result['correct']} "
                  f"{time.time() - t0:.1f} s", file=sys.stderr)
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        summary[w] = {
            k: {"median": statistics.median(v), "spread": spread(v) if len(v) >= 2 else None,
                "values": v}
            for k, v in values.items()
        }
        for k, s in summary[w].items():
            sp = "" if s["spread"] is None else f"  spread {s['spread']:.4f}"
            print(f"{w:16s} {k:32s} median {s['median']:.6g}{sp}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"seconds": seconds, "trace": a.trace, "runs": runs, "summary": summary},
                      f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
