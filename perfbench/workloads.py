"""The benchmark's workloads: seeded request streams, one request through the
package's public entry points, output checks and traced-run probes.

A workload object is built from the seed alone; ``make(j)`` gives request
``j`` of the run (the same seed gives the same stream). ``run`` executes one
request and returns its result with spans; the request's wall time runs from
the first call into the package until its result is materialized on the
driver. ``check`` and ``probe`` run outside the timed region.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, field

from time import perf_counter as _perf

import numpy as np

import common
import reference

ADMIN_SCHEMA = (
    "adm_id string, adm_level int, min_lon double, min_lat double,"
    " max_lon double, max_lat double, geom_wkb binary, area_deg2 double"
)
GLOBE_DEG2 = 360.0 * 180.0


@dataclass
class Result:
    latency: float
    spans: dict = field(default_factory=dict)
    output: object = None


# ------------------------------------------------------------ zonal_requests


class ZonalRequests:
    """Seeded polygon sets through ``plans.flagship.flagship`` over the
    150k-tile corpus. Every request has the same shape, so the run's median
    is a median of like requests: 24 geometries covering 15 % of the globe
    together, whose areas spread log-evenly over a 30x range within the set
    (single geometries cover about 0.08-2 %). The seed draws the shapes:
    axis rects and near-circular / star rings whose vertex counts spread
    log-evenly over 16-1024 within the set, placed with every edge off the
    tile-centre lattice."""

    name = "zonal_requests"
    WARMUP = 3  # untimed requests after the first (cold) one, while the JIT catches up
    COVER = 0.15  # globe share of the whole set
    GEOMS = 24
    AREA_RANGE = 30.0  # largest over smallest geometry area within a set

    def __init__(self, seed: int):
        self.seed = seed
        self.lattice = reference.TileLattice(np.arange(common.N_TILES))

    # -- inputs
    def open(self, spark) -> None:
        from ds_raster_pipelines_spark import corpus

        self.corpus_path = _ready(
            corpus.materialized_images(spark, common.INPUTS, cache_root=common.CORPUS_CACHE)
        )
        spark.read.parquet(self.corpus_path).schema  # noqa: B018 - footer read

    def reset(self, spark) -> None:
        pass

    def close(self) -> None:
        pass

    def make(self, j: int) -> dict:
        rng = np.random.default_rng([self.seed, 2, j])
        n = self.GEOMS
        share = self.AREA_RANGE ** ((np.arange(n) + 0.5) / n)
        areas = rng.permutation(share / share.sum() * self.COVER * GLOBE_DEG2)
        n_rect = round(0.3 * n)
        kinds = ["rect"] * n_rect + ["circle", "star"] * n
        kinds = rng.permutation(kinds[:n])
        # vertex counts spread log-evenly over 16-1024 across the rings
        ring_vertices = iter(rng.permutation(16 * 64 ** ((np.arange(n - n_rect) + 0.5) / (n - n_rect))))
        geoms = []
        for g in range(n):
            nv = 5 if kinds[g] == "rect" else int(round(next(ring_vertices)))
            geoms.append((f"P{j:04d}_{g:02d}", self._shape(rng, str(kinds[g]), float(areas[g]), nv)))
        return {"j": j, "geoms": geoms, "admin": _admin_frame(geoms)}

    def _shape(self, rng, kind: str, area: float, nv: int) -> np.ndarray:
        stretch = float(np.exp(rng.uniform(-0.5, 0.5)))
        if kind == "rect":
            w, h = math.sqrt(area * stretch), math.sqrt(area / stretch)
            base = np.array([[-w / 2, -h / 2], [w / 2, -h / 2], [w / 2, h / 2],
                             [-w / 2, h / 2], [-w / 2, -h / 2]])
        else:
            nv += nv % 2
            theta = np.sort(rng.uniform(0, 2 * np.pi, nv)) if kind == "circle" else \
                np.linspace(0, 2 * np.pi, nv, endpoint=False)
            if kind == "circle":
                r = 1.0 + 0.04 * rng.standard_normal(nv)
            else:
                r = np.where(np.arange(nv) % 2 == 0, 1.0, 0.55)
            pts = np.column_stack([r * np.cos(theta) * stretch, r * np.sin(theta) / stretch])
            base = np.vstack([pts, pts[:1]])
            base *= math.sqrt(area / _ring_area(base))
        # keep inside the globe, then place off the tile-centre lattice
        half = np.abs(base).max(axis=0)
        shrink = min(1.0, 179.0 / half[0], 89.0 / half[1])
        base = base * shrink
        half = half * shrink
        for _ in range(50):
            cx = rng.uniform(-180.0 + half[0] + 0.5, 180.0 - half[0] - 0.5)
            cy = rng.uniform(-90.0 + half[1] + 0.5, 90.0 - half[1] - 0.5)
            ring = base + np.array([cx, cy])
            ring[-1] = ring[0]
            if self.lattice.inside(ring)[1] >= reference.EDGE_EPS:
                return ring
        raise RuntimeError("could not place polygon off the tile-centre lattice")

    def items(self, req: dict) -> int:
        return common.N_TILES

    # -- one request
    def run(self, spark, req: dict) -> Result:
        from ds_raster_pipelines_spark.plans.flagship import flagship

        t0 = _perf()
        admin = spark.createDataFrame(req["admin"], schema=ADMIN_SCHEMA)
        images = spark.read.parquet(self.corpus_path)
        df = flagship(images, admin)
        t1 = _perf()
        rows = [r.asDict() for r in df.collect()]
        t2 = _perf()
        spans = {"plan.build_s": t1 - t0, "zonal.output_rows": len(rows)}
        return Result(t2 - t0, spans, rows)

    def check(self, req: dict, res: Result) -> list[str]:
        return reference.check_zonal(self.lattice.expected(req["geoms"]), res.output)

    def probe(self, spark, req: dict, res: Result) -> dict:
        """A cover_local call on the request's polygons, timed directly."""
        from ds_raster_pipelines_spark.operators.pip import cover_local

        admin = spark.createDataFrame(req["admin"], schema=ADMIN_SCHEMA)
        t0 = _perf()
        _rows, _rings, cover = cover_local(spark, admin, common.FLAGSHIP_RES)
        t1 = _perf()
        return {"pip.cover_s": t1 - t0, "pip.cover_cells": cover.count()}


def _admin_frame(geoms: list):
    """The polygon set as an admin table (corpus.admin_df's schema)."""
    import pandas as pd

    from ds_raster_pipelines_spark import corpus

    return pd.DataFrame(
        [
            {
                "adm_id": adm_id,
                "adm_level": 1,
                "min_lon": float(ring[:, 0].min()),
                "min_lat": float(ring[:, 1].min()),
                "max_lon": float(ring[:, 0].max()),
                "max_lat": float(ring[:, 1].max()),
                "geom_wkb": corpus.wkb_polygon([ring.tolist()]),
                "area_deg2": _ring_area(ring),
            }
            for adm_id, ring in geoms
        ]
    )


def _ring_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return float(abs(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1])) / 2.0)


def _ready(path: str) -> str:
    """The corpus helpers build a missing corpus; inside a measured run the
    prepare step must already have done it."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise RuntimeError(f"input {path} missing; prepare.py has not run")
    return path


# ---------------------------------------------------------------- daily_drop


class DailyDrop:
    """The write path, run as a probe in the traced run of zonal_requests
    (it is not a workload of its own): one day per request on a table that
    starts empty. Commit the next day's tile partition with
    ``IncrementalRun.commit_partition`` (every fifth day re-delivers a
    seeded, already committed day), fold it with ``zonal_refresh`` and read
    the merged view."""

    name = "daily_drop"
    DAYS = 6  # day 0 warms the write path; days 1-5 are rolled up and hold one re-delivery
    OFFSETS = (0.03, 0.04, 0.05, 0.06, 0.07, 0.09)  # the registry's zonal admin offsets

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 3])
        self.offset = float(rng.choice(self.OFFSETS))
        perm = rng.permutation(common.DAY_SLOTS)
        ids = np.arange(common.N_TILES)
        self.slot_tiles = np.bincount((ids // 32) % common.DAY_SLOTS, minlength=common.DAY_SLOTS)
        self.schedule = []  # (part, slot, redelivered)
        new = 0
        while new < common.DAY_SLOTS:
            j = len(self.schedule)
            if j % 5 == 4:
                part = int(rng.integers(new))
                self.schedule.append((part, int(perm[part]), True))
            else:
                self.schedule.append((new, int(perm[new]), False))
                new += 1
        self.table = None
        self.generation = 0

    def open(self, spark) -> None:
        import duckdb

        from ds_raster_pipelines_spark import corpus

        _ready(corpus.materialized_images(spark, common.INPUTS, cache_root=common.CORPUS_CACHE))
        self.days_path = os.path.join(common.INPUTS, "days")
        spark.read.parquet(self.days_path).schema  # noqa: B018 - footer read
        self.orders_path = os.path.join(common.INPUTS, "orders.parquet")
        self.con = duckdb.connect()
        self.con.execute("SET threads=1")

    def reset(self, spark) -> None:
        """A new, empty table (the traced replay starts from day 0 again)."""
        from ds_raster_pipelines_spark import corpus
        from ds_raster_pipelines_spark.streaming.incremental import IncrementalRun

        self.close()
        self.generation += 1
        self.table = os.path.join(common.WORK, f"daily_drop-{os.getpid()}-{self.generation}")
        os.makedirs(self.table)
        self.run_ = IncrementalRun(spark, os.path.join(self.table, "run"))
        self.state_dir = os.path.join(self.table, "state")
        self.admin = corpus.admin_df(spark, offset=self.offset)
        self.committed: list[int] = []
        self.input_bytes = 0

    def close(self) -> None:
        if self.table and os.path.exists(self.table):
            shutil.rmtree(self.table)

    def make(self, j: int) -> dict:
        part, slot, again = self.schedule[j]
        return {"j": j, "part": part, "slot": slot, "redelivered": again}

    def items(self, req: dict) -> int:
        return int(self.slot_tiles[req["slot"]])

    def _markers(self) -> set:
        import glob

        return set(glob.glob(os.path.join(self.state_dir, "part=*", "_FOLDED_*")))

    def run(self, spark, req: dict) -> Result:
        from ds_raster_pipelines_spark.streaming.incremental import zonal_refresh

        before, size0 = self._markers(), reference.dir_bytes(self.table)
        t0 = _perf()
        src = spark.read.parquet(os.path.join(self.days_path, f"day_slot={req['slot']}"))
        t1 = _perf()
        self.run_.commit_partition(req["part"], src)
        t2 = _perf()
        view = zonal_refresh(self.run_, self.admin, res=common.FLAGSHIP_RES, state_dir=self.state_dir)
        rows = [r.asDict() for r in view.collect()]
        t3 = _perf()
        folded = len(self._markers() - before)
        self.committed.append(req["slot"])
        self.input_bytes += reference.dir_bytes(
            os.path.join(self.days_path, f"day_slot={req['slot']}")
        )
        spans = {
            "plan.build_s": t1 - t0,
            "incremental.commit_s": t2 - t1,
            "incremental.refresh_s": t3 - t2,
            "incremental.partitions_folded": folded,
            "incremental.partitions_skipped": len(set(self.committed)) - folded,
            "incremental.bytes_written": reference.dir_bytes(self.table) - size0,
            "zonal.output_rows": len(rows),
        }
        return Result(t3 - t0, spans, rows)

    def check(self, req: dict, res: Result) -> list[str]:
        want = reference.zps_expected(
            self.con, self.orders_path, self.committed, common.DAY_SLOTS, self.offset
        )
        errs = reference.check_view(want, res.output)
        bad = self.run_.verify().collect()
        if bad:
            errs.append(f"IncrementalRun.verify() flagged parts {[r['part'] for r in bad]}")
        return errs

    def write_amp(self) -> float:
        return reference.dir_bytes(self.table) / self.input_bytes


# ------------------------------------------------------------------ near_dup


class NearDup:
    """A seeded doc-id window of the 100k-doc synthetic corpus through
    ``operators.dedup.minhash_dedup_pairs(strategy="md5", threshold=0.5,
    max_bucket=50)`` and then ``connected_components``. Every window holds
    20k docs, so the run's median is a median of like requests; the seed
    places the windows."""

    name = "near_dup"
    WARMUP = 3  # untimed requests after the first (cold) one, while the JIT catches up
    WINDOW = 20_000  # docs per request

    def __init__(self, seed: int):
        self.seed = seed

    def open(self, spark) -> None:
        import duckdb

        from ds_raster_pipelines_spark import corpus

        self.docs_path = _ready(
            corpus.materialized_docs_n(spark, common.N_DOCS, cache_root=common.CORPUS_CACHE)
        )
        spark.read.parquet(self.docs_path).schema  # noqa: B018 - footer read
        self.con = duckdb.connect(os.path.join(common.INPUTS, "near_dup.duckdb"), read_only=True)
        self.con.execute("SET threads=4")

    def reset(self, spark) -> None:
        pass

    def close(self) -> None:
        # minhash_dedup_pairs keeps the plan's cached frames in a
        # thread-local scope; release them while their session is alive
        from ds_raster_pipelines_spark.operators.dedup import release_cached

        release_cached()

    def make(self, j: int) -> dict:
        rng = np.random.default_rng([self.seed, 5, j])
        lo = int(rng.integers(0, common.N_DOCS - self.WINDOW + 1))
        return {"j": j, "lo": lo, "hi": lo + self.WINDOW - 1}

    def items(self, req: dict) -> int:
        return req["hi"] - req["lo"] + 1

    def _window(self, spark, req: dict):
        from pyspark.sql import functions as F

        docs = spark.read.parquet(self.docs_path)
        return docs.where(F.col("doc_id").between(req["lo"], req["hi"]))

    def run(self, spark, req: dict) -> Result:
        from ds_raster_pipelines_spark.operators.dedup import (
            connected_components,
            minhash_dedup_pairs,
        )

        t0 = _perf()
        pairs_df = minhash_dedup_pairs(
            self._window(spark, req), strategy="md5", threshold=0.5, max_bucket=50
        )
        t1 = _perf()
        # materialize the pairs once: both the client and CC read them
        pairs_df = pairs_df.localCheckpoint(eager=True)
        pairs = [tuple(r) for r in pairs_df.collect()]
        t2 = _perf()
        stats: dict = {}
        comps = [tuple(r) for r in connected_components(pairs_df, stats=stats).collect()]
        t3 = _perf()
        spans = {
            "plan.build_s": t1 - t0,
            "dedup.pairs_s": t2 - t1,
            "dedup.cc_s": t3 - t2,
            "dedup.cc_rounds": stats.get("rounds", 0),
        }
        return Result(t3 - t0, spans, (pairs, comps))

    def check(self, req: dict, res: Result) -> list[str]:
        pairs, comps = res.output
        want = reference.pairs_expected(self.con, req["lo"], req["hi"])
        return reference.check_near_dup(want, pairs, comps, req["lo"], req["hi"])

    def probe(self, spark, req: dict, res: Result) -> dict:
        from ds_raster_pipelines_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        sigs = minhash_signatures(self._window(spark, req), "text", "md5")
        cand = lsh_candidate_pairs(sigs, 2, 50).count()
        pairs = res.output[0]
        plant = reference.planted(req["lo"], req["hi"])
        hits = sum(1 for a, b, _ in pairs if (a, b) in plant)
        return {
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": len(pairs),
            "dedup.verify_yield": len(pairs) / cand if cand else 0.0,
            "dedup.planted_recall": hits / len(plant) if plant else 0.0,
        }


WORKLOADS = {w.name: w for w in (ZonalRequests, NearDup)}
