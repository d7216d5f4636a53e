"""Self-check of the benchmark's own files (no Spark session needed).

    python3 perfbench/selfcheck.py

* every output checker accepts a right answer and flags a perturbed one
  (one wrong sum, one dropped zone, one wrong px_sum, one dropped dedup
  pair, one stray pair, one wrong component);
* the tail-percentile rule picks rank n - 10 (the maximum for n <= 10);
* every BENCHMARK.json metric has a catalog.json entry (its module), and
  the bounds are within the contract.

Exits 1 on the first failed expectation.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402

import common  # noqa: E402

sys.path.insert(0, common.ROOT)

import reference  # noqa: E402

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        FAILURES.append(what)


def check_tail_rule() -> None:
    for n, rank in ((1, 1), (5, 5), (10, 10), (11, 1), (20, 10), (100, 90), (1000, 990)):
        expect(common.tail_rank(n) == rank, f"tail rank for n={n} is {rank}")
    t = common.tail([float(x) for x in range(1, 101)])
    expect(t["value"] == 90.0 and t["percentile"] == 90.0 and t["samples_beyond"] == 10,
           "tail of 1..100 is p90 = 90 with 10 samples beyond")


def check_zonal() -> None:
    from workloads import ZonalRequests

    wl = ZonalRequests(seed=7)
    req = wl.make(3)
    want = wl.lattice.expected(req["geoms"])
    rows = [{"adm_id": k, "n_tiles": n, "sum_value": s, "min_value": lo, "max_value": hi,
             "avg_value": round(s / n, 6)} for k, (n, s, lo, hi) in want.items()]
    expect(len(rows) > 0 and not reference.check_zonal(want, rows), "zonal: right answer passes")
    bad = [dict(r) for r in rows]
    bad[0]["sum_value"] += 0.5
    expect(bool(reference.check_zonal(want, bad)), "zonal: one wrong sum_value is an error")
    expect(bool(reference.check_zonal(want, rows[1:])), "zonal: one dropped zone is an error")
    ring = req["geoms"][0][1]
    expect(wl.lattice.inside(ring)[1] >= reference.EDGE_EPS,
           "zonal: generated polygon edges stay off the tile-centre lattice")
    # independent spot check of the lattice reference on an axis rect
    rect = np.array([[-10.01, -5.01], [20.01, -5.01], [20.01, 15.01], [-10.01, 15.01],
                     [-10.01, -5.01]])
    inside, _ = wl.lattice.inside(rect)
    brute = (wl.lattice.lon > -10.01) & (wl.lattice.lon < 20.01) & \
        (wl.lattice.lat > -5.01) & (wl.lattice.lat < 15.01)
    expect(bool((inside == brute).all()), "zonal: lattice reference agrees with a rect test")


def check_daily_drop() -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = os.path.join(common.DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    orders = os.path.join(tmp, "selfcheck_orders.parquet")
    pq.write_table(pa.table({"o_orderkey": np.arange(common.N_TILES, dtype=np.int64)}), orders)
    con = duckdb.connect()
    want = reference.zps_expected(con, orders, [3, 17], common.DAY_SLOTS, 0.05)
    rows = [{"adm_id": k, "px_count": c, "px_sum": s, "px_mean": s / c} for k, (c, s) in want.items()]
    expect(len(rows) > 0 and not reference.check_view(want, rows), "daily_drop: right view passes")
    bad = [dict(r) for r in rows]
    bad[0]["px_sum"] += 1
    expect(bool(reference.check_view(want, bad)), "daily_drop: one wrong px_sum is an error")
    more = reference.zps_expected(con, orders, [3, 17, 40], common.DAY_SLOTS, 0.05)
    expect(bool(reference.check_view(more, rows)), "daily_drop: a missing day is an error")
    os.remove(orders)


def check_near_dup() -> None:
    lo, hi = 1000, 1999
    plant = sorted(reference.planted(lo, hi))
    expect(len(plant) == 200 and plant[0] == (1002, 1004), "near_dup: planted pairs of a window")
    want = [(a, b, 0.8) for a, b in plant]
    comps = sorted(reference.components(want).items())
    expect(not reference.check_near_dup(want, want, comps, lo, hi), "near_dup: right answer passes")
    expect(bool(reference.check_near_dup(want, want[1:], comps, lo, hi)),
           "near_dup: one dropped dedup pair is an error")
    stray = want + [(1000, 1001, 0.6)]
    expect(bool(reference.check_near_dup(stray, stray, comps, lo, hi)),
           "near_dup: a verified pair that was not planted is an error")
    bad_cc = [(n, c + 1 if n == comps[0][0] else c) for n, c in comps]
    expect(bool(reference.check_near_dup(want, want, bad_cc, lo, hi)),
           "near_dup: one wrong component is an error")
    chain = [(1, 3, 0.9), (3, 5, 0.9), (7, 9, 0.9)]
    expect(reference.components(chain) == {1: 1, 3: 1, 5: 1, 7: 7, 9: 7},
           "near_dup: union-find components")


def check_catalog() -> None:
    cat = common.catalog()
    bench = common.benchmark()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    expect(sorted(cat) == sorted(names), "catalog.json has one entry per BENCHMARK.json metric")
    expect(all(m["bound"] <= 0.25 for m in bench["end_to_end"]), "bounds are at most 0.25")
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    expect(bool(setup) and setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"]),
           "setup_s has the largest bound")


def main() -> int:
    check_tail_rule()
    check_zonal()
    check_daily_drop()
    check_near_dup()
    check_catalog()
    print(f"{len(FAILURES)} failures")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
