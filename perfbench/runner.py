"""One benchmark run of one workload, in a fresh process (run.py starts it).

Sequence:

1. set-up, nine times: ``session.get_spark`` + input presence check; the
   first repetition launches the JVM, the other eight restart the
   SparkContext in it (``spark.stop()``); ``setup_s`` is the median, so it
   is made of restarts only;
2. the first request (``first_request_s``, a layer metric: one cold sample
   per run), then the workload's untimed warm-up requests (``WARMUP``);
3. the timed loop: closed loop, one client, requests back to back until
   their summed wall time reaches ``--seconds``; every output is checked
   between requests, outside the timed region. ``peak_rss_mb`` is the
   median over these requests of the process tree's resident-memory peak
   during each;
4. with ``--trace 1`` only: a fresh session with the Spark event log on
   (a new SparkContext in the same, warm JVM) replays one warm-up and the
   timed requests with spans and probes (on zonal_requests it
   then runs the daily_drop write-path probe, workloads.DailyDrop), and
   the log is rolled up per request (eventlog.py). The traced median
   latency minus the timed loop's is the tracing overhead.

Writes one JSON document to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import eventlog  # noqa: E402
import kernels  # noqa: E402
import reference  # noqa: E402
from workloads import WORKLOADS, DailyDrop  # noqa: E402

SETUP_REPS = 9
WALL_GUARD_S = 120.0  # stop starting new timed requests after this much run time


def _session(event_log_dir: str | None = None):
    from ds_raster_pipelines_spark.session import get_spark

    return get_spark(common.SPARK_APP, extra_conf=common.spark_conf(event_log_dir))


def _request(spark, wl, j: int, trace: bool, log: list, rss) -> dict:
    req = wl.make(j)
    spark.sparkContext.setJobGroup(f"{wl.name}:{j}", f"{wl.name} request {j}")
    rec = {"j": j, "items": wl.items(req)}
    rss.window()
    st0 = common.steal_s()
    t0 = time.perf_counter()
    try:
        res = wl.run(spark, req)
    except Exception as e:  # a failed request counts as an error, the run goes on
        traceback.print_exc(file=sys.stderr)
        rec.update(ok=False, errors=[f"{type(e).__name__}: {e}"], spans={},
                   latency=time.perf_counter() - t0, peak_rss_mb=rss.window() / 2**20,
                   steal_s=common.steal_s() - st0)
        spark.sparkContext.setJobGroup("aux", "checks")
        log.append(rec)
        return rec
    rec["peak_rss_mb"] = rss.window() / 2**20
    rec["steal_s"] = common.steal_s() - st0
    spark.sparkContext.setJobGroup("aux", "checks")
    rec.update(latency=res.latency, spans=res.spans)
    try:
        errs = wl.check(req, res)
    except Exception as e:
        errs = [f"check failed: {type(e).__name__}: {e}"]
    if trace:
        rec["spans"].update(wl.probe(spark, req, res))
    rec.update(ok=not errs, errors=errs[:5])
    if errs:
        print(f"{wl.name} request {j}: {errs[:5]}", file=sys.stderr)
    log.append(rec)
    return rec


def _loop(spark, wl, seconds: float, t_start: float, log: list, rss) -> tuple[list, int]:
    """The first request, the warm-up, then the timed loop. Returns the
    timed requests and the index after the last request."""
    for j in range(1 + wl.WARMUP):
        _request(spark, wl, j, False, log, rss)
    j, timed, busy = 1 + wl.WARMUP, [], 0.0
    while busy < seconds and time.perf_counter() - t_start < WALL_GUARD_S:
        rec = _request(spark, wl, j, False, log, rss)
        j += 1
        timed.append(rec)
        busy += rec["latency"]
    return timed, j


def _end_to_end(first: dict, timed: list, setup: list, rss) -> dict:
    lats = [r["latency"] for r in timed]
    busy = sum(lats)
    tail = common.tail(lats)
    return {
        "setup_s": common.median(setup),
        "first_request_s": first["latency"],
        "latency_p50_s": common.median(lats),
        "items_per_s": sum(r["items"] for r in timed if r["ok"]) / busy,
        "peak_rss_mb": common.median([r["peak_rss_mb"] for r in timed]),
        "_run_peak_rss_mb": rss.peak / 2**20,
        "_tail": tail,
        "_steal_share": sum(r["steal_s"] for r in timed) / (busy * common.nproc()),
        "_timed_requests": len(timed),
        "_busy_s": busy,
    }


def _medians(per_req: list[dict]) -> dict:
    keys = sorted({k for m in per_req for k in m})
    return {k: common.median([m.get(k, 0.0) for m in per_req]) for k in keys}


def _request_layers(wl, rec: dict, g: dict, cores: int) -> dict:
    """Layer metrics of one traced request: its event-log roll-up, its
    spans and probes, and the ratios derived from them."""
    m = dict(g)
    m.update(rec["spans"])
    m["tasks.slot_utilization"] = g.get("tasks.run_s", 0.0) / (rec["latency"] * cores)
    if wl.name == "zonal_requests":
        scan = g.get("scan.rows", 0.0)
        cand = g.get("join.inner_rows", 0.0)
        m["pip.broadcast_rows"] = g.get("broadcast.rows", 0.0)
        m["pip.prune_kept_ratio"] = g.get("python.rows_out", 0.0) / scan if scan else 0.0
        m["pip.refine_yield"] = g.get("refine.rows", 0.0) / cand if cand else 0.0
        m["zonal.agg_s"] = g.get("agg.s", 0.0)
    return m


def _day_layers(rec: dict, g: dict) -> dict:
    """The incremental.* metrics of one day of the write-path probe (its
    other figures would mix with the workload's own)."""
    m = {k: v for k, v in rec["spans"].items() if k.startswith("incremental.")}
    m["incremental.jobs_per_day"] = g.get("jobs", 0)
    return m


def _traced(wl, seed: int, first_j: int, last_j: int, untraced_p50: float, log: list,
            rss) -> dict:
    """Replay the timed requests (first_j..last_j-1), after one warm-up
    request, in a fresh, event-logged session in the same (warm) JVM, with
    probes on the timed ones, and roll them up into layer
    metrics (medians over requests). On zonal_requests the same session
    then runs the daily_drop probe. The traced median latency minus the
    timed loop's is the tracing overhead (both run in a warm JVM)."""
    ev_dir = os.path.join(common.DATA, "eventlogs", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(ev_dir, ignore_errors=True)
    os.makedirs(ev_dir)
    spark = _session(ev_dir)
    wl.reset(spark)
    recs = [_request(spark, wl, j, j >= first_j, log, rss) for j in range(first_j - 1, last_j)]
    recs = recs[1:]  # the warm-up request of the new session
    days, write_amp = [], None
    if wl.name == "zonal_requests":
        day = DailyDrop(seed)
        day.open(spark)
        day.reset(spark)
        days = [_request(spark, day, j, False, log, rss) for j in range(day.DAYS)]
        write_amp = day.write_amp()
        day.close()
    cores = spark.sparkContext.defaultParallelism
    wl.close()
    spark.stop()
    (path,) = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
    groups = eventlog.parse(path)
    shutil.rmtree(ev_dir, ignore_errors=True)
    timed = [r for r in recs if r["ok"]]
    out = _medians([_request_layers(wl, r, groups.get(f"{wl.name}:{r['j']}", {}), cores)
                    for r in timed])
    if days:
        out.update(_medians([_day_layers(r, groups.get(f"daily_drop:{r['j']}", {}))
                             for r in days[1:] if r["ok"]]))
        out["write_amp"] = write_amp
    out["trace.latency_p50_s"] = common.median([r["latency"] for r in recs])
    out["untraced.latency_p50_s"] = untraced_p50
    out["trace.overhead_s"] = out["trace.latency_p50_s"] - untraced_p50
    out["_traced_requests"] = len(timed)
    out["_probe_days"] = len(days)
    return out


def host_facts() -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    from ds_raster_pipelines_spark import native

    return {
        "nproc": common.nproc(),
        "native.available": int(native.get_lib() is not None),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "duckdb": duckdb.__version__,
        "machine": platform.machine(),
        "corpus_tiles": common.N_TILES,
        "docs": common.N_DOCS,
        "day_slots": common.DAY_SLOTS,
        "corpus_bytes": reference.dir_bytes(common.CORPUS_CACHE),
        "days_bytes": reference.dir_bytes(os.path.join(common.INPUTS, "days")),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    t_start = time.perf_counter()
    rss = common.RssSampler(os.getpid())
    rss.start()
    wl = WORKLOADS[a.workload](a.seed)
    log: list = []
    setup, parts = [], []
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _session()
        t1 = time.perf_counter()
        wl.open(spark)
        t2 = time.perf_counter()
        setup.append(t2 - t0)
        parts.append({"session_s": t1 - t0, "check_s": t2 - t1})
    wl.reset(spark)
    timed, last_j = _loop(spark, wl, a.seconds, t_start, log, rss)
    wl.close()
    spark.stop()
    e2e = _end_to_end(log[0], timed, setup, rss)
    out = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "host": host_facts(),
        "end_to_end": e2e,
        "setup_reps": parts,
        "requests": log,
    }
    if a.trace:
        first_timed = last_j - len(timed)
        layers = _traced(wl, a.seed, first_timed, last_j, e2e["latency_p50_s"], log, rss)
        layers["first_request_s"] = e2e["first_request_s"]
        layers["session.start_s"] = parts[0]["session_s"]
        layers["corpus.check_s"] = common.median([p["check_s"] for p in parts])
        layers["native.available"] = out["host"]["native.available"]
        layers.update(kernels.us_per_blob())
        out["layers"] = layers
    attempted = len(log)
    failed = sum(1 for r in log if not r["ok"])
    out.update(attempted=attempted, failed=failed, error_rate=failed / attempted)
    out["wall_s"] = time.perf_counter() - t_start
    with open(a.out, "w") as f:
        json.dump(out, f, default=float)
    return 0


if __name__ == "__main__":
    sys.exit(main())
