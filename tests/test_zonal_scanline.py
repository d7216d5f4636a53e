"""Zonal rasterization: one geometry, one answer.

The zonal kernel rasterizes every geometry with the scanline runs of
``raster._scanline_runs`` under the half-open pixel-centre rule of
``pip._points_in_rings``. These tests pin that rule where it matters: on
pixel centres that lie exactly on a ring edge. A rectangle must give the
same pixels whether its ring has 5 vertices or 6 (one extra collinear
vertex), holes included, and every geometry must equal a brute-force ray
cast over the pixel centres in both the stats and the histogram mode.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ds_raster_pipelines_spark import corpus
from ds_raster_pipelines_spark.operators.pip import _points_in_rings

SPAN = 0.25
W = H = 64  # 256 px / deg, so pixel centres sit on k/256 + 1/512
LON0 = 10.0
LAT_TOP = 21.0
NT = 4  # 4 x 4 tiles


def _c(k: float) -> float:
    """Pixel-centre coordinate k (k + 0.5 pixels from the grid origin)."""
    return (k + 0.5) / 256.0


def _centres(lon0: float, lat_top: float, w: int, h: int):
    gx = lon0 + (np.arange(w) + 0.5) * (SPAN / w)
    gy = lat_top - (np.arange(h) + 0.5) * (SPAN / h)
    return np.meshgrid(gx, gy)


def _circle(cx: float, cy: float, r: float, n: int, phase: float = 0.0):
    a = phase + np.linspace(0.0, 2.0 * np.pi, n, endpoint=False)
    ring = [(cx + r * np.cos(t), cy + r * np.sin(t)) for t in a]
    return ring + ring[:1]


def _geometries() -> dict[str, list]:
    """adm_id -> rings (exterior first). Rect edges lie on pixel centres
    and straddle tile boundaries."""
    x0, x1 = LON0 + 0.25 - _c(9), LON0 + 0.25 + _c(20)
    y0, y1 = LAT_TOP - 0.5 - _c(12), LAT_TOP - 0.5 + _c(7)
    rect5 = corpus.rect_ring(x0, y0, x1, y1)
    rect6 = rect5[:1] + [(LON0 + 0.25 + _c(3), y0)] + rect5[1:]
    hole = corpus.rect_ring(
        LON0 + 0.25 - _c(2), y0 + 3 / 256.0, LON0 + 0.25 + _c(5), y1 - 2 / 256.0
    )
    tri = [
        (LON0 + 0.6, LAT_TOP - 0.9),
        (LON0 + 0.95, LAT_TOP - 0.7),
        (LON0 + 0.55 + _c(3), LAT_TOP - 0.55 - _c(4)),
        (LON0 + 0.6, LAT_TOP - 0.9),
    ]
    cx, cy = LON0 + 0.5, LAT_TOP - 0.5
    # tiles no edge touches: whole-tile runs inside, and one tile whole
    # inside the hole
    big = corpus.rect_ring(LON0 - 0.1, LAT_TOP - 1.1, LON0 + 0.9, LAT_TOP + 0.1)
    big_hole = corpus.rect_ring(LON0 + 0.24, LAT_TOP - 0.76, LON0 + 0.51, LAT_TOP - 0.49)
    return {
        "BIG": [big, big_hole],
        "BORDERS": [corpus.rect_ring(LON0 + 0.25, LAT_TOP - 0.75, LON0 + 0.75, LAT_TOP - 0.25)],
        "R5": [rect5],
        "R6": [rect6],
        "RH5": [rect5, hole],
        "RH6": [rect6, hole[::-1]],
        "TRI": [tri],
        "C1024": [_circle(cx, cy, 0.31, 1024), _circle(cx, cy, 0.12, 1024, 0.01)],
    }


def _tiles():
    rng = np.random.default_rng(7)
    rows = []
    for i in range(NT):
        for j in range(NT):
            px = rng.integers(0, 256, (H, W), dtype=np.uint8)
            rows.append(
                {
                    "bytes": px.tobytes(),
                    "w": W,
                    "h": H,
                    "fmt": "raw",
                    "lon0": LON0 + SPAN * j,
                    "lat_top": LAT_TOP - SPAN * i,
                    "px": px,
                }
            )
    return rows


def _brute(tiles, rings) -> np.ndarray:
    """Per-value pixel counts of the centres the ray cast puts inside."""
    hist = np.zeros(256, dtype=np.int64)
    flat = [np.asarray(r, dtype=np.float64) for r in rings]
    for t in tiles:
        lon, lat = _centres(t["lon0"], t["lat_top"], W, H)
        mask = _points_in_rings(lon.ravel(), lat.ravel(), flat).reshape(H, W)
        hist += np.bincount(t["px"][mask], minlength=256)
    return hist


def test_scanline_runs_match_ray_cast():
    """Runs are disjoint and cover exactly the ray-cast mask, for random
    star rings (with and without a hole) over mixed tile shapes."""
    from ds_raster_pipelines_spark.operators.raster import _ring_edges, _scanline_runs

    rng = np.random.default_rng(0)
    lon0 = np.array([0.0, 0.25, 0.5, 0.75, 0.3])
    lat_top = np.array([1.0, 0.75, 0.5, 0.25, 0.6])
    ws = np.array([64, 64, 32, 64, 17])
    hs = np.array([64, 48, 32, 64, 23])

    def star(r0, r1, n):
        a = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
        r = rng.uniform(r0, r1, n)
        ring = np.stack([0.5 + r * np.cos(a), 0.5 + r * np.sin(a)], 1)
        return np.vstack([ring, ring[:1]])

    square = np.array([[-1.0, -1.0], [2.0, -1.0], [2.0, 2.0], [-1.0, 2.0], [-1.0, -1.0]])
    hole = np.array([[0.49, 0.24], [0.76, 0.24], [0.76, 0.51], [0.49, 0.51], [0.49, 0.24]])
    for trial in range(40):
        rings = [star(0.05, 0.45, int(rng.integers(3, 300)))]
        if trial % 2:
            rings.append(star(0.01, 0.04, int(rng.integers(3, 50))))
        if trial % 4 == 1:  # only a horizontal edge cuts tile 1
            rings = [np.where(square == 2.0, [2.0, 0.6123], square)]
        if trial % 4 == 2:  # edges along tile borders
            rings = [np.where(square < 0, 0.25, np.where(square > 1, 0.75, square))]
        if trial % 4 == 3:  # whole tiles inside, and tile 2 whole in a hole
            rings = [square, hole]
        whole, t, start, length = _scanline_runs(
            lon0, lat_top, ws, hs, SPAN, _ring_edges([rings])
        )
        assert (length > 0).all() and (np.diff(t) >= 0).all()
        assert not np.isin(whole, t).any()
        if trial % 4 == 3:
            assert whole.tolist() == [0] and 2 not in t
        for k in range(len(ws)):
            got = np.full(hs[k] * ws[k], int(k in whole), dtype=np.int64)
            for a, n in zip(start[t == k], length[t == k]):
                got[a : a + n] += 1
            got = got.reshape(hs[k], ws[k])
            gx = lon0[k] + (np.arange(ws[k]) + 0.5) * (SPAN / ws[k])
            gy = lat_top[k] - (np.arange(hs[k]) + 0.5) * (SPAN / hs[k])
            lon, lat = np.meshgrid(gx, gy)
            want = _points_in_rings(lon.ravel(), lat.ravel(), rings).reshape(hs[k], ws[k])
            np.testing.assert_array_equal(got, want.astype(np.int64))


def test_zonal_edges_on_pixel_centres_one_answer(spark):
    from ds_raster_pipelines_spark.operators.raster import (
        zonal_pixel_stats,
        zonal_value_histogram,
    )

    tiles = _tiles()
    images = spark.createDataFrame(
        pd.DataFrame([{k: v for k, v in t.items() if k != "px"} for t in tiles]),
        schema="bytes binary, w int, h int, fmt string, lon0 double, lat_top double",
    )
    geoms = _geometries()
    admin = spark.createDataFrame(
        pd.DataFrame(
            {
                "adm_id": list(geoms),
                "geom_wkb": [corpus.wkb_polygon(r) for r in geoms.values()],
            }
        ),
        schema="adm_id string, geom_wkb binary",
    )
    stats = {
        r["adm_id"]: (r["px_count"], r["px_sum"])
        for r in zonal_pixel_stats(images, admin, res=6).collect()
    }
    hists: dict[str, np.ndarray] = {a: np.zeros(256, dtype=np.int64) for a in geoms}
    for r in zonal_value_histogram(images, admin, res=6).collect():
        hists[r["adm_id"]][r["value"]] += r["n_px"]

    for adm_id, rings in geoms.items():
        want = _brute(tiles, rings)
        want_stats = (int(want.sum()), int(want @ np.arange(256)))
        assert want_stats[0] > 0, adm_id
        assert stats[adm_id] == want_stats, adm_id
        np.testing.assert_array_equal(hists[adm_id], want, err_msg=adm_id)
    # the collinear vertex changes nothing, with or without the hole
    assert stats["R5"] == stats["R6"]
    assert stats["RH5"] == stats["RH6"]
    assert stats["RH5"][0] < stats["R5"][0]
