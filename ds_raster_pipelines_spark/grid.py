"""Pure-math hierarchical cell index (H3/S2-style) — the distribution key.

The reference avoids float-coordinate joins by rounding coordinates to 4 dp
(``/root/reference/src/utils/raster_utils.py:35-39``); we solve the same
problem structurally with integer cell ids so every spatial join is an exact
equi-join (SURVEY.md §4 "Grid-key snapping").

Scheme (quadtree-on-equirectangular, square cells):
  at resolution ``r``: nx = 2**(r+1) columns over lon [-180, 180),
                       ny = 2**r      rows    over lat [ 90, -90)  (north-up)
  ix = clamp(floor((lon + 180) / 360 * nx), 0, nx-1)
  iy = clamp(floor(( 90 - lat) / 180 * ny), 0, ny-1)
  cell_id = (r << 54) | (iy << 27) | ix          -- fits a signed int64, r <= 26

Everything here has three synchronized implementations:
  * numpy (vectorized, for Arrow kernels and goldens),
  * Spark Column expressions (JVM-side bit ops — stays in whole-stage
    codegen, NO Python UDF),
  * ANSI-SQL text (identical arithmetic, for the DuckDB oracle).
Cross-checked in tests/test_grid.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_SHIFT = 54
IY_SHIFT = 27
IX_MASK = (1 << 27) - 1
IY_MASK = (1 << 27) - 1
MAX_RES = 26

# ---------------------------------------------------------------- numpy ---


def nx_ny(res: int) -> tuple[int, int]:
    return 1 << (res + 1), 1 << res


def encode_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized lon/lat -> cell_id (int64)."""
    nx, ny = nx_ny(res)
    ix = np.clip(np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * nx), 0, nx - 1).astype(np.int64)
    iy = np.clip(np.floor((90.0 - np.asarray(lat, np.float64)) / 180.0 * ny), 0, ny - 1).astype(np.int64)
    return (np.int64(res) << RES_SHIFT) | (iy << IY_SHIFT) | ix


def decode_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell_id -> (res, ix, iy)."""
    cell = np.asarray(cell, np.int64)
    return (cell >> RES_SHIFT).astype(np.int64), cell & IX_MASK, (cell >> IY_SHIFT) & IY_MASK


def centroid_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    res, ix, iy = decode_np(cell)
    nx = (np.int64(1) << (res + 1)).astype(np.float64)
    ny = (np.int64(1) << res).astype(np.float64)
    lon = -180.0 + (ix + 0.5) * 360.0 / nx
    lat = 90.0 - (iy + 0.5) * 180.0 / ny
    return lon, lat


def cell_bounds_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(min_lon, min_lat, max_lon, max_lat) of each cell."""
    res, ix, iy = decode_np(cell)
    nx = (np.int64(1) << (res + 1)).astype(np.float64)
    ny = (np.int64(1) << res).astype(np.float64)
    wx, wy = 360.0 / nx, 180.0 / ny
    min_lon = -180.0 + ix * wx
    max_lat = 90.0 - iy * wy
    return min_lon, max_lat - wy, min_lon + wx, max_lat


def parent_np(cell: np.ndarray, parent_res: int) -> np.ndarray:
    res, ix, iy = decode_np(cell)
    dr = res - parent_res
    if np.any(dr < 0):
        raise ValueError("parent_res must be <= cell res")
    return (np.int64(parent_res) << RES_SHIFT) | ((iy >> dr) << IY_SHIFT) | (ix >> dr)


def grid_disk_np(cell: int, k: int) -> list[int]:
    """k-ring neighborhood (incl. centre), deterministic row-major order.

    Longitude wraps; latitude rows outside [0, ny) are dropped — mirrors
    the halo semantics of chunked COG neighbour reads (SURVEY J7).
    """
    res, ix, iy = decode_np(np.asarray([cell]))
    res, ix, iy = int(res[0]), int(ix[0]), int(iy[0])
    nx, ny = nx_ny(res)
    out = []
    for dy in range(-k, k + 1):
        y = iy + dy
        if y < 0 or y >= ny:
            continue
        for dx in range(-k, k + 1):
            x = (ix + dx) % nx
            out.append((res << RES_SHIFT) | (y << IY_SHIFT) | x)
    return out


def cover_rect_np(min_lon: float, min_lat: float, max_lon: float, max_lat: float, res: int) -> np.ndarray:
    """All cell ids at ``res`` intersecting the closed rectangle.

    The distributed form of the reference's polygon clip pre-filter
    (``examples/era5_cogs.md:177``): polygons explode to covering cells,
    tiles equi-join on cell_id, exact refine afterwards (filter-refine).
    """
    nx, ny = nx_ny(res)
    ix0 = int(np.clip(np.floor((min_lon + 180.0) / 360.0 * nx), 0, nx - 1))
    ix1 = int(np.clip(np.floor((max_lon + 180.0) / 360.0 * nx), 0, nx - 1))
    iy0 = int(np.clip(np.floor((90.0 - max_lat) / 180.0 * ny), 0, ny - 1))
    iy1 = int(np.clip(np.floor((90.0 - min_lat) / 180.0 * ny), 0, ny - 1))
    ixs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys)
    return (np.int64(res) << RES_SHIFT) | (gy.ravel() << IY_SHIFT) | gx.ravel()


# ---------------------------------------------------------------- spark ---


def encode_col(lon: Column, lat: Column, res: int) -> Column:
    """Spark Column: lon/lat -> cell_id. Pure JVM arithmetic (codegen'd)."""
    nx, ny = nx_ny(res)
    ix = F.least(F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(nx)), F.lit(0)), F.lit(nx - 1))
    iy = F.least(F.greatest(F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(ny)), F.lit(0)), F.lit(ny - 1))
    return (
        F.lit(int(res) << RES_SHIFT).cast("long")
        .bitwiseOR(F.shiftleft(iy.cast("long"), IY_SHIFT))
        .bitwiseOR(ix.cast("long"))
    )


def ix_col(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(IX_MASK))


def iy_col(cell: Column) -> Column:
    return F.shiftright(cell, IY_SHIFT).bitwiseAND(F.lit(IY_MASK))


def parent_col(cell: Column, parent_res: int, res: int) -> Column:
    """Parent cell at ``parent_res`` (caller states the child res so the
    shift is a literal — keeps the expression foldable)."""
    dr = res - parent_res
    if dr < 0:
        raise ValueError("parent_res must be <= res")
    return (
        F.lit(parent_res << RES_SHIFT).cast("long")
        .bitwiseOR(F.shiftleft(F.shiftright(iy_col(cell), dr), IY_SHIFT))
        .bitwiseOR(F.shiftright(ix_col(cell), dr))
    )


def centroid_cols(cell: Column, res: int) -> tuple[Column, Column]:
    nx, ny = nx_ny(res)
    lon = F.lit(-180.0) + (ix_col(cell).cast("double") + F.lit(0.5)) * F.lit(360.0 / nx)
    lat = F.lit(90.0) - (iy_col(cell).cast("double") + F.lit(0.5)) * F.lit(180.0 / ny)
    return lon, lat


def grid_disk_col(cell: Column, k: int, res: int) -> Column:
    """Array column of the k-ring neighbour cell ids (row-major, lon-wrap,
    lat-clip) — built from sequence/transform/filter/flatten: pure JVM,
    no UDF, exactly mirrors grid_disk_np."""
    nx, ny = nx_ny(res)
    ix, iy = ix_col(cell), iy_col(cell)
    res_bits = F.lit(int(res) << RES_SHIFT).cast("long")
    dys = F.sequence(F.lit(-k), F.lit(k))
    dxs = F.sequence(F.lit(-k), F.lit(k))
    rows = F.transform(
        dys,
        lambda dy: F.when(
            (iy + dy >= 0) & (iy + dy < ny),
            F.transform(
                dxs,
                lambda dx: res_bits
                .bitwiseOR(F.shiftleft(iy + dy, IY_SHIFT))
                .bitwiseOR(F.pmod(ix + dx, F.lit(nx)).cast("long")),
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )
    return F.flatten(rows)


# ------------------------------------------------------------------ sql ---
# Identical arithmetic as ANSI SQL text, for the DuckDB oracle. Keep these
# byte-for-byte in sync with encode_col/encode_np (tests cross-check).


def encode_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    nx, ny = nx_ny(res)
    ix = f"least(greatest(cast(floor((({lon_expr}) + 180.0) / 360.0 * {nx}) as bigint), 0), {nx - 1})"
    iy = f"least(greatest(cast(floor((90.0 - ({lat_expr})) / 180.0 * {ny}) as bigint), 0), {ny - 1})"
    return f"(cast({int(res) << RES_SHIFT} as bigint) | ({iy} << {IY_SHIFT}) | {ix})"


def ix_sql(cell_expr: str) -> str:
    return f"(({cell_expr}) & {IX_MASK})"


def iy_sql(cell_expr: str) -> str:
    return f"((({cell_expr}) >> {IY_SHIFT}) & {IY_MASK})"


def parent_sql(cell_expr: str, parent_res: int, res: int) -> str:
    dr = res - parent_res
    return (
        f"(cast({parent_res << RES_SHIFT} as bigint)"
        f" | (({iy_sql(cell_expr)} >> {dr}) << {IY_SHIFT})"
        f" | ({ix_sql(cell_expr)} >> {dr}))"
    )


# ------------------------------------------------- distributed compaction ---


def compact_cells(cells, res: int, min_res: int = 0, cell_col: str = "cell_id"):
    """H3-style ``compact``: the minimal mixed-resolution cover of a cell
    set — every complete 4-sibling group collapses into its parent,
    recursively (coverage manifests, mosaic footprints, prune lists
    shrink by orders of magnitude on dense regions).

    Closed-form lowering instead of an iterative collapse loop (r8 s4,
    ONE aggregation instead of one per level): each leaf explodes
    map-side to its ancestors at every res in [min_res, res] (self
    included), one groupBy(c, res) counts leaves under each candidate —
    ``a`` at res r is COMPLETE iff all 4**(res-r) leaves under it are
    present (at the leaf level every leaf is trivially complete) — and
    the compacted set is exactly the complete cells whose ONE-LEVEL
    parent is not complete, one anti-join on the parent cell id (the
    res field is embedded in the id, so a single equi key covers all
    levels; min_res rows survive because their parent level was never
    generated). Flat DAG: one exchange + one anti-join, no driver-side
    iteration, no lineage growth. Returns (cell_id, res) rows."""
    from pyspark.sql import functions as F  # noqa: F811

    if not 0 <= min_res < res:
        raise ValueError("need 0 <= min_res < res")
    base = cells.select(F.col(cell_col).cast("long").alias("c")).distinct()
    anc = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        parent_col(F.col("c"), r, res).alias("c"),
                        F.lit(r).alias("res"),
                    )
                    for r in range(min_res, res + 1)
                ]
            )
        ).alias("a")
    ).select("a.c", "a.res")
    comp = (
        anc.groupBy("c", "res")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.expr(f"n == shiftleft(cast(1 as bigint), cast(2 * ({res} - res) as int))"))
        .select("c", "res")
    )
    # dynamic one-level parent: res field (r-1) | iy>>1 | ix>>1 — the
    # per-row analog of parent_col(c, r-1, r)
    parent_dyn = (
        F.expr(f"shiftleft(cast(res - 1 as bigint), {RES_SHIFT})")
        .bitwiseOR(F.shiftleft(F.shiftright(iy_col(F.col("c")), 1), IY_SHIFT))
        .bitwiseOR(F.shiftright(ix_col(F.col("c")), 1))
    )
    parents = comp.where(F.col("res") < res).select(F.col("c").alias("_p"))
    out = comp.join(parents, parent_dyn == F.col("_p"), "left_anti")
    return out.select(F.col("c").alias(cell_col), "res")


def uncompact_cells(cells, res: int, cell_col: str = "cell_id"):
    """Inverse of compact_cells: mixed-resolution rows back to uniform
    leaves at ``res``. Pure Column ops: each cell explodes to its
    4**(res-r) descendants via one ``sequence``+``explode`` (no UDF);
    a compact→uncompact round trip reproduces the leaf set exactly
    (asserted in tests/test_grid.py)."""
    from pyspark.sql import functions as F  # noqa: F811

    c = f"cast({cell_col} as bigint)"
    out = cells.select(
        F.expr(f"({c}) & {IX_MASK}").alias("_ix"),
        F.expr(f"(({c}) >> {IY_SHIFT}) & {IY_MASK}").alias("_iy"),
        F.expr(f"cast({res} - (({c}) >> {RES_SHIFT}) as int)").alias("_dr"),
        F.expr(f"shiftleft(1L, cast({res} - (({c}) >> {RES_SHIFT}) as int))").alias("_s"),
    ).select(
        "_ix", "_iy", "_dr", "_s",
        F.explode(F.expr("sequence(0L, _s * _s - 1)")).alias("_k"),
    )
    leaf = F.expr(
        f"cast({res << RES_SHIFT} as bigint)"
        f" | (shiftleft(_iy, _dr) + (_k div _s)) << {IY_SHIFT}"
        f" | (shiftleft(_ix, _dr) + (_k % _s))"
    )
    return out.select(leaf.alias(cell_col))
