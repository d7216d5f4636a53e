"""Request-level benchmark of ds_raster_pipelines_spark.

    python3 perfbench/run.py --workload zonal_requests --seed 1 --seconds 15 --trace 0

Builds the inputs once per checkout (prepare.py, outside every measured
run), runs the workload in a fresh process (runner.py) and prints two
lines on stdout: a detail object (host facts, tail percentile, error rate;
per-request samples are in the result file it names) and, last, the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer metrics. Exits non-zero without a result when the package
is not importable from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

RUN_TIMEOUT_S = 165.0
PREPARE_TIMEOUT_S = 700.0


def _session_pids(sid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getsid(int(d)) == sid:
                    out.append(int(d))
            except OSError:
                pass
    return out


def _run_child(cmd: list[str], env: dict, timeout: float) -> int:
    """Run cmd in its own session, stdout to our stderr; on exit (or
    timeout) make sure every process of that session has ended."""
    p = subprocess.Popen(cmd, env=env, cwd=common.ROOT, stdout=sys.stderr,
                         start_new_session=True)
    try:
        code = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = -1
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        pids = _session_pids(p.pid)
        if not pids:
            break
        for q in pids:
            try:
                os.kill(q, sig)
            except OSError:
                pass
        deadline = time.time() + wait
        while _session_pids(p.pid) and time.time() < deadline:
            time.sleep(0.1)
    p.wait()
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench = common.benchmark()
    names = [w["name"] for w in bench["workloads"]]
    if a.workload not in names:
        print(f"unknown workload {a.workload!r}; have {names}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(common.ROOT, "ds_raster_pipelines_spark", "__init__.py")):
        print("ds_raster_pipelines_spark is not in this checkout", file=sys.stderr)
        return 2
    env = common.child_env()
    t0 = time.perf_counter()
    if not os.path.exists(common.READY_MARKER):
        code = _run_child([sys.executable, os.path.join(common.BENCH_DIR, "prepare.py")],
                          env, PREPARE_TIMEOUT_S)
        if code != 0 or not os.path.exists(common.READY_MARKER):
            print(f"prepare.py failed (exit {code})", file=sys.stderr)
            return 3
    prepare_s = time.perf_counter() - t0

    os.makedirs(common.RESULTS, exist_ok=True)
    out = os.path.join(common.RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = [sys.executable, os.path.join(common.BENCH_DIR, "runner.py"),
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--out", out]
    code = _run_child(cmd, env, RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        print(f"runner.py failed (exit {code})", file=sys.stderr)
        return 4
    with open(out) as f:
        res = json.load(f)
    e2e = res["end_to_end"]

    if a.trace:
        layers = res["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    detail = {
        "workload": a.workload,
        "seed": a.seed,
        "host": res["host"],
        "error_rate": res["error_rate"],
        "latency_tail": e2e["_tail"],
        "steal_share": e2e["_steal_share"],
        "run_peak_rss_mb": e2e["_run_peak_rss_mb"],
        "prepare_s": prepare_s,
        "timed_requests": e2e["_timed_requests"],
        "wall_s": res["wall_s"],
        "result_file": os.path.relpath(out, common.ROOT),
    }
    if a.trace:
        detail["trace_overhead_s"] = res["layers"]["trace.overhead_s"]
        detail["untraced"] = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
