"""Point-in-polygon spatial join — filter-refine, the core new operator.

Distributed form of the reference's polygon clip
(``/root/reference/examples/era5_cogs.md:177,210`` — ``rio.clip`` with and
without ``all_touched``), SURVEY.md §2.3 J5:

  1. COVER   : polygons explode to the H3/S2-style cells intersecting them
               (coarse, integer keys).
  2. FILTER  : tiles equi-join polygons on cell_id — broadcast when the
               polygon side is small (admin tables are), salted SMJ when a
               cell is hot (operators/skew.py).
  3. REFINE  : exact geometric containment — a vectorized even-odd
               ray-cast over WKB rings, Arrow-batched (no per-row Python);
               or a JVM-only bbox predicate for axis-aligned geometries.

A tile belongs to a polygon iff its centroid is inside (the reference's
default clip), under one half-open on-edge rule (see pip_join). The
reference's ``all_touched`` variant (any intersection) is the
``pip_all_touched`` query in queries_registry.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import grid
from ..corpus import parse_wkb_geometry

# ----------------------------------------------------------- cover stage ---
#
# Geometry representations (r7: holes + MULTIPOLYGON, VERDICT r6 item 1):
#   * parts  : list[list[ndarray]] — parse_wkb_geometry output; part[0] is
#              the exterior ring, the rest are interior rings (holes).
#   * flat   : list[ndarray] — all rings of all parts concatenated; the
#              even-odd refine only needs parity across ALL rings, so the
#              part structure is irrelevant there (disjoint parts + simply
#              nested holes, per simple-features validity).
# Legacy single-ring ndarrays are normalized by the helpers below.


def _as_parts(g) -> list:
    """Normalize to parts structure. A flat ring list becomes one part
    PER RING — a superset cover (hole bboxes sit inside their exterior's
    bbox anyway) that keeps genuine multiparts covered."""
    if isinstance(g, np.ndarray):
        return [[g]]
    if g and isinstance(g[0], np.ndarray):
        return [[r] for r in g]
    return g


def _as_flat_rings(g) -> list:
    if isinstance(g, np.ndarray):
        return [g]
    if g and isinstance(g[0], np.ndarray):
        return list(g)
    return [r for part in g for r in part]


def _is_axis_rect(ring) -> bool:
    """True if the geometry is a single axis-aligned rectangle ring (exact
    refine is then a pure-JVM between-predicate — no Python stage)."""
    if isinstance(ring, list):
        return len(ring) == 1 and _is_axis_rect(ring[0])
    if len(ring) != 5:
        return False
    xs, ys = set(ring[:, 0].tolist()), set(ring[:, 1].tolist())
    return len(xs) == 2 and len(ys) == 2


def _cover_geometry(parts: list, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells of a (multi)polygon + per-cell 'full' flag.

    Cover = union over parts of the part-exterior bbox cover. full=True ⇒
    the closed cell is entirely inside the geometry: all 4 corners
    parity-inside across ALL rings (a corner in a hole is parity-outside)
    and no ring edge's bbox — hole edges included — overlaps the cell.
    Conservative: may flag interior cells near an edge as boundary, never
    the reverse; a hole or a whole small part strictly inside a cell puts
    its edges in the cell bbox, so that cell can never be 'full'. Full
    cells skip the exact refine — Raptor-style interior shortcut (at
    scale interior cells dominate)."""
    parts = _as_parts(parts)
    rings = [r for part in parts for r in part]
    covers = []
    for part in parts:
        ext = part[0]
        covers.append(
            grid.cover_rect_np(
                float(ext[:, 0].min()), float(ext[:, 1].min()),
                float(ext[:, 0].max()), float(ext[:, 1].max()), res,
            )
        )
    cells = np.unique(np.concatenate(covers)) if covers else np.array([], np.int64)
    a, b, c, d = grid.cell_bounds_np(cells)
    inside = np.ones(len(cells), dtype=bool)
    for cx, cy in ((a, b), (a, d), (c, b), (c, d)):
        inside &= _points_in_rings(cx, cy, rings)
    near_edge = np.zeros(len(cells), dtype=bool)
    for ring in rings:
        x, y = ring[:, 0], ring[:, 1]
        for e in range(len(ring) - 1):
            ex0, ex1 = min(x[e], x[e + 1]), max(x[e], x[e + 1])
            ey0, ey1 = min(y[e], y[e + 1]), max(y[e], y[e + 1])
            near_edge |= (a <= ex1) & (c >= ex0) & (b <= ey1) & (d >= ey0)
    return cells, inside & ~near_edge


def polygon_cover_cells(admin: DataFrame, res: int) -> DataFrame:
    """(adm_id, cell_id, full) covering triples at ``res``.

    Runs distributed (mapInPandas over the polygon table) so it scales to
    large polygon sets; the bbox of each WKB ring bounds the cover. For a
    1000-executor cluster the output is what gets broadcast — cap cell
    explosion by choosing ``res`` so |cells per polygon| stays ~1e2-1e3
    (SURVEY.md §7 risk register).
    """
    cols = admin.columns

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..corpus import wkb_polygon_rect

        for pdf in batches:
            adm_ids: list[str] = []
            cells: list[np.ndarray] = []
            fulls: list[np.ndarray] = []
            has_wkb = "geom_wkb" in cols
            wkbs = pdf["geom_wkb"] if has_wkb else [None] * len(pdf)
            bounds = (
                zip(pdf["min_lon"], pdf["min_lat"], pdf["max_lon"], pdf["max_lat"])
                if {"min_lon", "min_lat", "max_lon", "max_lat"} <= set(pdf.columns)
                else [(None,) * 4] * len(pdf)
            )
            # per-row loop is over GEOMETRIES (blobs) — plain column zip
            for adm_id, wkb, bb in zip(pdf["adm_id"], wkbs, bounds):
                parts = parse_wkb_geometry(
                    wkb if wkb is not None else wkb_polygon_rect(*bb)
                )
                cc, full = _cover_geometry(parts, res)
                adm_ids.append(adm_id)
                cells.append(cc)
                fulls.append(full)
            counts = [len(c) for c in cells]
            yield pd.DataFrame(
                {
                    "adm_id": np.repeat(np.array(adm_ids, dtype=object), counts),
                    "cell_id": np.concatenate(cells) if cells else np.array([], np.int64),
                    "full": np.concatenate(fulls) if fulls else np.array([], bool),
                }
            )

    return admin.mapInPandas(kernel, schema="adm_id string, cell_id bigint, full boolean")


# ---------------------------------------------------------- refine stage ---


def _points_in_rings(lon: np.ndarray, lat: np.ndarray, rings: list) -> np.ndarray:
    """Vectorized even-odd ray cast over ALL rings of a (multi)polygon
    (edge loops are over the few polygon vertices; points are the
    vectorized axis). Parity across exterior + interior rings classifies
    holes for free: a point inside a hole crosses both rings ⇒ even ⇒
    outside; a point in any disjoint part crosses only that part's
    exterior ⇒ odd ⇒ inside.

    On-edge points follow the bare ray cast's half-open rule (see
    pip_join): for an axis-aligned rectangle, left/bottom edges are
    inside, right/top are out. For a hole the rule MIRRORS: a point on
    the hole's left/bottom edge is inside-the-hole, hence OUTSIDE the
    polygon.
    """
    inside = np.zeros(lon.shape, dtype=bool)
    for ring in rings:
        x, y = ring[:, 0], ring[:, 1]
        for e in range(len(ring) - 1):  # closed ring
            x1, y1, x2, y2 = x[e], y[e], x[e + 1], y[e + 1]
            crosses = (y1 > lat) != (y2 > lat)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
            inside ^= crosses & (lon < xint)
    return inside


def contains_wkb_udf():
    """Exact PIP refine against a per-row WKB column (POLYGON with holes
    or MULTIPOLYGON). Groups the batch by polygon so the ray cast runs
    vectorized once per distinct geometry per batch. NOTE: prefer
    contains_indexed_udf — shipping WKB per candidate row pays the
    binary→pandas conversion on every row; the indexed form ships
    geometries once."""

    @F.pandas_udf(T.BooleanType())
    def _contains(lon: pd.Series, lat: pd.Series, wkb: pd.Series) -> pd.Series:
        lon_v = lon.to_numpy(np.float64)
        lat_v = lat.to_numpy(np.float64)
        out = np.zeros(len(lon_v), dtype=bool)
        codes, uniques = pd.factorize(wkb, use_na_sentinel=True)
        for g, blob in enumerate(uniques):
            mask = codes == g
            rings = _as_flat_rings(parse_wkb_geometry(blob))
            out[mask] = _points_in_rings(lon_v[mask], lat_v[mask], rings)
        return pd.Series(out)

    return _contains


def contains_indexed_udf(rings: list):
    """Exact PIP refine against a small geometry dictionary: candidates
    carry only an int geometry index; the parsed geometries (single ring
    or flat ring-lists incl. holes/multiparts) ship to executors once
    (closure/broadcast), not per row. Right-sized for admin-boundary
    workloads (1e2-1e5 polygons); for 1e7+ polygons switch to the
    per-row-WKB form with dictionary-encoded geometry batches."""
    flats = [_as_flat_rings(g) for g in rings]

    @F.pandas_udf(T.BooleanType())
    def _contains(lon: pd.Series, lat: pd.Series, gi: pd.Series) -> pd.Series:
        lon_v = lon.to_numpy(np.float64)
        lat_v = lat.to_numpy(np.float64)
        gi_v = gi.to_numpy(np.int64)
        out = np.zeros(len(lon_v), dtype=bool)
        for g in np.unique(gi_v):
            mask = gi_v == g
            if g < 0:  # interior-cell shortcut: inside by construction
                out[mask] = True
            else:
                out[mask] = _points_in_rings(lon_v[mask], lat_v[mask], flats[g])
        return pd.Series(out)

    return _contains


# ------------------------------------------------------------- full join ---


def cover_cells_driver(rings: list, res: int) -> list[int]:
    """Distinct covering cell ids at ``res`` for a list of geometries
    (single rings, flat ring-lists, or parts structures), computed
    driver-side (no Spark job) — used for partition-pruning isin lists."""
    out: set[int] = set()
    for g in rings:
        cells, _ = _cover_geometry(g, res)
        out.update(cells.tolist())
    return sorted(out)


COVER_SCHEMA = (
    "adm_id string, cell_id bigint, full boolean, _gi int,"
    " _mnx double, _mny double, _mxx double, _mxy double"
)


# Above this many polygons the driver-side cover build refuses (the
# collect + ring parse would silently funnel the whole geometry table
# through the driver) and pip_join switches to the distributed plan.
MAX_LOCAL_POLYGONS = 10_000


class PolygonSetTooLarge(ValueError):
    pass


def cover_local(spark, admin: DataFrame, res: int, max_polygons: int | None = None):
    """Driver-side cover build for broadcast-small polygon tables: one
    collect, zero extra Spark jobs (the distributed polygon_cover_cells
    costs a python stage + broadcast per query — measurable serial time
    when the parallel part is seconds).

    GUARDED: collects at most ``max_polygons``+1 rows and raises
    PolygonSetTooLarge beyond that — a million-polygon admin table must
    go through the distributed cover (polygon_cover_cells), never the
    driver. pip_join auto-switches on this signal.

    Returns (adm_rows, rings, cover_df). The cover carries everything a
    downstream refine needs (geometry index + bbox bounds), so ONE
    broadcast serves the whole PIP join — every extra tiny broadcast is a
    full defaultParallelism-task job (~0.3 s on this box).
    The cover DataFrame is single-slice (tiny local relation)."""
    if max_polygons is None:
        max_polygons = MAX_LOCAL_POLYGONS  # read at call time (testable)
    rows = admin.select("adm_id", "geom_wkb").limit(max_polygons + 1).collect()
    if len(rows) > max_polygons:
        raise PolygonSetTooLarge(
            f"admin table exceeds {max_polygons} polygons; use the "
            "distributed cover (polygon_cover_cells / pip_join auto-switch)"
        )
    parts_list = [parse_wkb_geometry(r["geom_wkb"]) for r in rows]
    # refine representation: flat ring list per geometry (holes included —
    # even-odd parity handles them); cover keeps the parts structure
    rings = [[rg for part in parts for rg in part] for parts in parts_list]
    recs = []
    for gi, (r, parts) in enumerate(zip(rows, parts_list)):
        cells, full = _cover_geometry(parts, res)
        allv = np.vstack([rg for part in parts for rg in part])
        mnx, mny = float(allv[:, 0].min()), float(allv[:, 1].min())
        mxx, mxy = float(allv[:, 0].max()), float(allv[:, 1].max())
        recs.extend(
            (r["adm_id"], int(c), bool(f), gi, mnx, mny, mxx, mxy)
            for c, f in zip(cells.tolist(), full.tolist())
        )
    # Arrow local relation, NOT createDataFrame(python_list): the pickled-
    # row RDD path costs ~7 s PER EVALUATION on this box (python worker
    # deserialization) even coalesced to 1 slice, and the cover is
    # re-evaluated by every broadcast — measured as the entire fixed
    # overhead of the sf0.1 flagship. The pandas→Arrow path is ~0.25 s.
    cover = spark.createDataFrame(
        pd.DataFrame(
            recs,
            columns=["adm_id", "cell_id", "full", "_gi", "_mnx", "_mny", "_mxx", "_mxy"],
        ),
        schema=COVER_SCHEMA,
    )
    return rows, rings, cover


def pip_join(
    points: DataFrame,
    admin: DataFrame,
    res: int,
    lon_col: str = "lon_c",
    lat_col: str = "lat_c",
    refine: str = "wkb",
    cover: DataFrame | None = None,
    rings: list[np.ndarray] | None = None,
    adm_rows: list | None = None,
) -> DataFrame:
    """points (with lon/lat) ⨝ admin polygons. Returns points + adm_id.

    ``refine='auto'`` : geometry specialization — if every ring is an
                        axis-aligned rectangle the exact refine lowers to a
                        pure-JVM between-predicate (zero extra Python
                        stages in the task pipeline); otherwise the generic
                        ray-cast UDF runs.
    ``refine='wkb'``  : force the generic exact ray-cast kernel.
    ``refine='bbox'`` : force the JVM between-predicate (rects only).

    On-edge points follow ONE half-open rule across every refine mode
    and the distributed path: a point on a rectangle's left/bottom edge
    is inside, right/top is out (the bare even-odd ray-cast convention,
    shared with raster.zonal_pixel_stats; a pixel belongs to exactly one
    of two abutting polygons — no double-count, no drop).
    """
    helper_cols = ["full", "_gi", "_mnx", "_mny", "_mxx", "_mxy"]
    pts = points.withColumn("cell_id", grid.encode_col(F.col(lon_col), F.col(lat_col), res))
    if cover is None or rings is None or adm_rows is None:
        try:
            adm_rows, rings, cover = cover_local(points.sparkSession, admin, res)
        except PolygonSetTooLarge:
            # large-geometry regime: nothing may pass through the driver —
            # switch to the fully distributed cover + per-row-WKB refine
            return pip_join_distributed(points, admin, res, lon_col, lat_col)
    if refine == "auto":
        refine = "bbox" if all(_is_axis_rect(r) for r in rings) else "wkb"
    cand = pts.join(F.broadcast(cover), "cell_id")
    if refine == "bbox":
        # exact refine for axis-rect geometries as codegen'd predicates
        # (the bounds travel inside the single cover broadcast) — zero
        # extra Python stages in the task pipeline. The half-open
        # intervals agree with the ray cast on edge points.
        in_rect = (
            (F.col(lon_col) >= F.col("_mnx")) & (F.col(lon_col) < F.col("_mxx"))
            & (F.col(lat_col) >= F.col("_mny")) & (F.col(lat_col) < F.col("_mxy"))
        )
        return cand.where(F.col("full") | in_rect).drop(*helper_cols)
    # interior shortcut: candidates in 'full' cells are inside by
    # construction (the UDF gets -1 and short-circuits them vectorized).
    # Kept as ONE plan branch: splitting full/edge into a union would
    # re-execute everything upstream of the candidates — including the
    # decode kernel — twice.
    refine_udf = contains_indexed_udf(rings)
    gi = F.when(F.col("full"), F.lit(-1)).otherwise(F.col("_gi"))
    return cand.where(refine_udf(F.col(lon_col), F.col(lat_col), gi)).drop(*helper_cols)


def pip_join_distributed(
    points: DataFrame,
    admin: DataFrame,
    res: int,
    lon_col: str = "lon_c",
    lat_col: str = "lat_c",
    cover: DataFrame | None = None,
    n_salt: int | None = None,
    hot_cells: DataFrame | None = None,
    hot_threshold: int | None = None,
) -> DataFrame:
    """PIP join for LARGE polygon tables (beyond MAX_LOCAL_POLYGONS): no
    driver collect, no geometry closure.

    Plan: distributed cover (polygon_cover_cells, one Arrow stage over the
    polygon table) → shuffle equi-join points⨝cover on cell_id → shuffle
    join on adm_id to attach each candidate's own WKB → exact ray-cast
    refine with contains_wkb_udf (batches factorized by geometry, so each ring
    parses once per batch, and interior-cell candidates skip the geometry
    entirely). Two shuffles + two Arrow stages — the shape that survives a
    10^6-polygon admin table on 1000 executors, where the broadcast plan
    cannot even build. Skew note: one giant polygon covering many cells
    concentrates its candidates on one adm_id; AQE skew-join handles the
    join side, and the refine is per-row so no single task must hold the
    polygon's whole candidate set.

    Semantics match pip_join(refine='wkb'): interior ('full') cells skip
    the ray cast, edge cells get the exact even-odd test.

    EXPLICIT skew handling (north rule): pass ``n_salt`` (with
    ``hot_cells`` or ``hot_threshold``) to salt the points⨝cover shuffle
    on hot cell ids — dense polygon areas concentrate cover rows on few
    cells, and in the beyond-broadcast regime (1e6+ polygons, where this
    plan is the only option) one hot cell otherwise pins its whole
    candidate set on one task. Hot cells spread n_salt ways; cover rows
    for hot cells replicate once per salt; results are IDENTICAL to the
    unsalted join (bench.py --pip-skew asserts this), only the shuffle
    layout changes. AQE's skew split remains the runtime fallback when
    salting is off.
    """
    pts = points.withColumn("cell_id", grid.encode_col(F.col(lon_col), F.col(lat_col), res))
    if cover is None:
        cover = polygon_cover_cells(admin, res)
    if n_salt is not None:
        from .skew import salted_join

        # ROW-unique salt, not value-derived: the canonical hot cell is
        # many points at the SAME coordinates (duplicated geotags, a
        # default location, a city centroid) — xxhash64(lon, lat) would
        # assign every such row ONE salt and spread nothing (measured:
        # 0.95x, i.e. pure overhead, on a planted same-coordinate hot
        # cell). monotonically_increasing_id is per-row; a task retry may
        # re-salt rows differently, which is harmless — any salt joins
        # the same replicated cover/geometry rows, so results are
        # identical under every salt assignment (pytest-asserted).
        salt_expr = F.xxhash64(
            F.col(lon_col), F.col(lat_col), F.monotonically_increasing_id()
        )
        cand = salted_join(
            pts, cover, "cell_id", n_salt,
            salt_expr=salt_expr,
            hot=hot_cells, threshold=hot_threshold,
        )
        # the WKB-attach join must be salted TOO: it keys on adm_id, and a
        # hot cell's candidates all carry the same adm_id — an unsalted
        # second exchange would re-funnel every candidate the first salt
        # just spread back onto ONE task, and the refine (whose per-row
        # cost is linear in ring vertices) would run hot-task-bound.
        # Measured on a planted 25%-hot cell with 512-vertex rings:
        # salting only the first join was a wash (1.03x); salting both
        # spreads the refine (bench.py --pip-skew).
        # When the caller selected hot CELLS explicitly (hot_cells given,
        # hot_threshold None — a combination that used to raise
        # ValueError inside the second salted_join, ADVICE r7), derive
        # the hot adm_ids by mapping those cells through the cover: an
        # adm_id is hot iff one of its cover cells is.
        if hot_threshold is None and hot_cells is not None:
            hot_adm = (
                cover.join(hot_cells, "cell_id")
                .select("adm_id")
                .distinct()
            )
            withwkb = salted_join(
                cand, admin.select("adm_id", "geom_wkb"), "adm_id", n_salt,
                salt_expr=salt_expr, hot=hot_adm,
            )
        else:
            withwkb = salted_join(
                cand, admin.select("adm_id", "geom_wkb"), "adm_id", n_salt,
                salt_expr=salt_expr, threshold=hot_threshold,
            )
    else:
        cand = pts.join(cover, "cell_id")
        withwkb = cand.join(admin.select("adm_id", "geom_wkb"), "adm_id")
    refine = contains_wkb_udf()
    keep = F.col("full") | refine(F.col(lon_col), F.col(lat_col), F.col("geom_wkb"))
    return withwkb.where(keep).drop("full", "geom_wkb")
