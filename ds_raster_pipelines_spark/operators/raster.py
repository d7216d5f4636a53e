"""Raster↔vector kernels: rasterize (polygon→per-tile pixel mask) and
pixel-level zonal statistics — the distributed form of the reference's
``ds.rio.clip(gdf.geometry)`` + per-admin mean loop
(``/root/reference/examples/era5_cogs.md:177,204-224``), at PIXEL
granularity (``all_touched``-style: every pixel whose *center* falls inside
the geometry contributes, matching rasterio's default clip semantics).

Plan shape (scale-first):
  1. PRUNE before decode: tiles whose cell intersects no polygon are
     dropped with a broadcast left-semi join on cell_id — the "clip when
     initially reading" move the reference wishes it did
     (era5_cogs.md:174-176).
  2. One Arrow kernel: decode tile → per-polygon reduction over the
     pixel runs inside the polygon. Pixels never leave the kernel.
  3. Integer sums → groupBy(adm_id) exact aggregation.

Geometry dictionary ships via closure (admin tables are broadcast-small).
Every geometry — rectangle, arbitrary ring, holed or multipart — goes
through one scanline rasterizer (Raptor-style run-length, see
``_scanline_runs``) with the half-open pixel-centre rule of ``pip_join``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import grid
from ..corpus import TILE_H, TILE_W, parse_wkb_geometry

ZONAL_PIXEL_SCHEMA = "gi int, px_count bigint, px_sum bigint"

# per-chunk budget (elements) for the edges x rows crossing matrix and the
# rows x cols pixel buffer of one geometry's hit tiles
_CHUNK_CELLS = 1 << 21


def _ring_edges(parts: list) -> tuple[tuple, tuple]:
    """For one geometry (``parse_wkb_geometry`` parts): the bounds
    (x_min, x_max, y_min, y_max) of every ring edge, and the endpoints
    (x1, y1, x2, y2) of the non-horizontal edges — a horizontal edge
    crosses no pixel-centre row."""
    seg = np.concatenate([np.hstack([r[:-1], r[1:]]) for part in parts for r in part])
    x1, y1, x2, y2 = seg.T
    box = (np.minimum(x1, x2), np.maximum(x1, x2), np.minimum(y1, y2), np.maximum(y1, y2))
    sloped = y1 != y2
    return box, (x1[sloped], y1[sloped], x2[sloped], y2[sloped])


def _first_centre_at(v, lon0, dx, w):
    """Per run edge: index of the first pixel whose centre
    ``lon0 + (c + 0.5) * dx`` is >= v, clipped to [0, w]. The closed-form
    estimate is corrected by one step against that exact centre value, so
    a run edge within rounding of a centre agrees with the ray cast."""
    c = np.minimum(np.maximum(np.ceil((v - lon0) / dx - 0.5), 0), w).astype(np.int64)
    c -= (c > 0) & (lon0 + (c - 0.5) * dx >= v)
    c += (c < w) & (lon0 + (c + 0.5) * dx < v)
    return c


def _scanline_runs(lon0, lat_top, ws, hs, span_deg: float, edges: tuple):
    """Pixels inside one geometry (half-open pixel-centre rule), over
    tiles given as arrays of their ``lon0`` / ``lat_top`` / ``w`` / ``h``;
    ``edges`` is the geometry's ``_ring_edges``.

    Each pixel-centre row is crossed with every edge by the test of
    ``pip._points_in_rings``: an edge crosses iff ``(y1 > lat) !=
    (y2 > lat)``, and a centre is left of the crossing iff ``lon < xint``.
    A closed ring crosses a row an even number of times, so the row's
    sorted crossings pair up even-odd into ``[x_a, x_b)`` spans; holes
    and multiparts follow from the parity. A tile whose open footprint no edge touches
    lies wholly inside or outside, so it is scanned as one pixel at its
    centre and taken whole if that pixel is in. Cost is
    O(rows x edges + runs) over the tiles an edge touches.

    Returns (whole, tile, start, length): the tiles wholly inside, and the
    runs of the others sorted by (tile, start) — pixels ``start ..
    start+length-1`` of the tile's row-major buffer. Tiles index the given
    arrays; every run holds at least one pixel.
    """
    (bx0, bx1, by0, by1), (x1, y1, x2, y2) = edges
    # open footprints: an edge along a tile's border leaves every pixel
    # centre (half a pixel inside) on one side of it
    touched = (
        (bx0[:, None] < lon0 + span_deg)
        & (bx1[:, None] > lon0)
        & (by0[:, None] < lat_top)
        & (by1[:, None] > lat_top - span_deg)
    ).any(axis=0)
    rw, rh = np.where(touched, ws, 1), np.where(touched, hs, 1)
    row_tile = np.repeat(np.arange(len(rh)), rh)
    row = np.arange(row_tile.size) - np.repeat(np.cumsum(rh) - rh, rh)
    lat = lat_top[row_tile] - (row + 0.5) * (span_deg / rh[row_tile])
    ei, ri = np.nonzero((y1[:, None] > lat) != (y2[:, None] > lat))
    xint = x1[ei] + (lat[ri] - y1[ei]) * (x2[ei] - x1[ei]) / (y2[ei] - y1[ei])
    order = np.lexsort((xint, ri))
    ri = ri[order]
    t = row_tile[ri]
    col = _first_centre_at(xint[order], lon0[t], span_deg / rw[t], rw[t])
    lo, hi, t, ri = col[0::2], col[1::2], t[0::2], ri[0::2]
    keep = hi > lo
    part = keep & touched[t]
    tp = t[part]
    return t[keep & ~touched[t]], tp, row[ri[part]] * ws[tp] + lo[part], (hi - lo)[part]


def zonal_pixel_stats(
    images: DataFrame,
    admin: DataFrame,
    res: int,
    span_deg: float = 0.25,
    overview_level: int = 0,
) -> DataFrame:
    """Per-admin pixel mean/count over decoded tiles.

    ``images`` must carry the footprint anchor columns ``lon0`` (west
    edge) and ``lat_top`` (north edge); each tile spans ``span_deg``
    degrees. The kernel is corpus-agnostic — it reads the geo-transform
    from columns, never from an id formula (attach them with e.g.
    corpus.footprint_cols_for_images). Tiles stored in flipped pixel
    order are normalized via optional ``lon_ascending`` /
    ``lat_descending`` boolean columns (F3 check-and-flip,
    reference raster_utils.py:42-73).

    ``overview_level`` > 0 reads the tiles' REDUCED-RESOLUTION pages
    instead of full resolution (COG corpora only — the zoomed-out read
    path a COG exists for: each level halves both dims, so level L scans
    4^-L of the pixels). The geo-transform scales automatically (runs
    derive from the per-level dims).

    A pixel belongs to a geometry iff its centre does under the half-open
    even-odd rule of ``pip_join``: a centre on
    a rectangle's left/bottom edge is in, on its right/top edge out, and
    mirrored on hole edges. So the answer does not depend on how the
    geometry's vertices are written, and abutting geometries share no
    pixel.

    Output: (adm_id, px_count, px_sum, px_mean) — integer-exact sums, so
    bit-identical across engines and parallelism levels. A geometry that
    holds no pixel centre has no row.
    """
    return _zonal_pixel_reduce(
        images, admin, res, span_deg, overview_level, mode="stats"
    )


def zonal_value_histogram(
    images: DataFrame,
    admin: DataFrame,
    res: int,
    span_deg: float = 0.25,
    overview_level: int = 0,
) -> DataFrame:
    """Per-admin pixel-VALUE histogram over decoded tiles — the
    landcover-fraction / class-composition zonal aggregate (per-zone
    per-class pixel counts; rasterstats' ``categorical=True``). Same
    prune + pixel-run machinery and the same half-open pixel-centre rule
    (shared with ``pip_join``) as zonal_pixel_stats, but the kernel's
    per-geometry reduction is a uint8 bincount instead of a sum: a batch
    leaves the kernel as <= n_geoms x 256 rows no matter how many pixels
    it decoded — the map-side-partial shape a 100 TB class-composition
    scan needs.

    Output: (adm_id, value, n_px), only (zone, value) pairs that occur.
    """
    return _zonal_pixel_reduce(
        images, admin, res, span_deg, overview_level, mode="hist"
    )


def zonal_majority(
    images: DataFrame,
    admin: DataFrame,
    res: int,
    span_deg: float = 0.25,
    overview_level: int = 0,
) -> DataFrame:
    """Per-admin MAJORITY pixel value (zonal mode — dominant landcover
    class per zone), with the deterministic (n_px desc, value asc)
    tie-break. Output: (adm_id, mode_value, mode_px, px_count)."""
    hist = zonal_value_histogram(images, admin, res, span_deg, overview_level)
    w = Window.partitionBy("adm_id").orderBy(F.col("n_px").desc(), F.col("value"))
    return (
        hist.withColumn("_rk", F.row_number().over(w))
        .withColumn("px_count", F.sum("n_px").over(Window.partitionBy("adm_id")))
        .where(F.col("_rk") == 1)
        .select(
            "adm_id",
            F.col("value").alias("mode_value"),
            F.col("n_px").alias("mode_px"),
            "px_count",
        )
        .orderBy("adm_id")
    )


def _zonal_pixel_reduce(
    images: DataFrame,
    admin: DataFrame,
    res: int,
    span_deg: float,
    overview_level: int,
    mode: str,
) -> DataFrame:
    missing = {"lon0", "lat_top"} - set(images.columns)
    if missing:
        raise ValueError(f"images needs footprint columns {sorted(missing)}")
    spark = images.sparkSession
    from .pip import MAX_LOCAL_POLYGONS, PolygonSetTooLarge

    rows = admin.select("adm_id", "geom_wkb").limit(MAX_LOCAL_POLYGONS + 1).collect()
    if len(rows) > MAX_LOCAL_POLYGONS:
        # the per-pixel masked kernel ships the ring dictionary in its
        # closure — refuse beyond the broadcast-small regime instead of
        # silently funneling the geometry table through the driver
        raise PolygonSetTooLarge(
            f"zonal_pixel_stats supports <= {MAX_LOCAL_POLYGONS} polygons; "
            "pre-partition the admin table (e.g. per region) and union the "
            "per-partition results"
        )
    # parts structure (holes + multiparts, r7)
    geoms = [parse_wkb_geometry(r["geom_wkb"]) for r in rows]
    adm_ids = [r["adm_id"] for r in rows]
    half = span_deg / 2.0

    # 1. prune tiles before decode (broadcast semi-join on covering cells)
    def with_cell(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "cell_id",
            grid.encode_col(F.col("lon0") + half, F.col("lat_top") - half, res),
        )

    pts = with_cell(images)
    # cover expanded by straddle rings: a tile can straddle a cell edge,
    # putting pixels in a covered cell while its centroid cell is outside.
    # The ring count scales with the tile span — a fixed one-ring disk
    # silently drops contributing tiles once span_deg exceeds the cell
    # width at ``res`` (5.625 deg at res 6).
    # All driver-side (admin is broadcast-small): zero planning-time jobs.
    from .pip import cover_cells_driver

    cell_width = 360.0 / grid.nx_ny(res)[0]
    n_rings = max(1, int(np.ceil(span_deg / cell_width)))
    expanded: set[int] = set()
    for c in cover_cells_driver(geoms, res):
        expanded.update(grid.grid_disk_np(c, n_rings))
    # pandas→Arrow local relation (the pickled-list path costs ~7 s per
    # evaluation on this box — see cover_local in pip.py)
    import pandas as pd

    cover = spark.createDataFrame(
        pd.DataFrame({"cell_id": sorted(int(c) for c in expanded)}), schema="cell_id bigint"
    )
    if "pcell" in images.columns:  # Iceberg-layout partition pruning
        from ..corpus import PCELL_RES

        parents = sorted({int(grid.parent_np(np.asarray([c]), PCELL_RES)[0]) for c in expanded})
        pts = with_cell(images.where(F.col("pcell").isin(parents)).drop("pcell"))
    pruned = pts.join(F.broadcast(cover), "cell_id", "left_semi").drop("cell_id")

    # 2. decode + per-polygon run reduction in one Arrow kernel. Each
    # geometry carries its ring edges and per-PART exterior bboxes (the
    # tile pre-check must hit any part, not the whole-geometry bbox — a
    # 2-part geometry spanning the globe would otherwise scan every tile
    # in between).
    prepared = [
        (
            _ring_edges(parts),
            [
                (
                    part[0][:, 0].min(), part[0][:, 1].min(),
                    part[0][:, 0].max(), part[0][:, 1].max(),
                )
                for part in parts
            ],
        )
        for parts in geoms
    ]

    def kernel(batches):
        import pyarrow as pa

        from ..codecs import decode_tile
        from ..sources.images import _binary_offsets_data

        for b in batches:
            names = b.schema.names
            col = {name: b.column(k) for k, name in enumerate(names)}
            fmts = np.asarray(col["fmt"].to_pylist(), dtype=object)
            ws = col["w"].to_numpy(zero_copy_only=False).astype(np.int64)
            hs = col["h"].to_numpy(zero_copy_only=False).astype(np.int64)
            if overview_level:  # run math follows the per-level dims
                # fail fast with a clear message on misuse: only COG blobs
                # carry overview pages, and the floor-shift window math is
                # only exact when the dims divide by 2^level — a mixed or
                # odd-dim corpus would otherwise die mid-decode (or worse,
                # silently diverge runs from decoded dims)
                bad_fmt = fmts[fmts != "cog"]
                if bad_fmt.size:
                    raise ValueError(
                        f"overview_level={overview_level} requires fmt='cog' "
                        f"for every tile; got {sorted(set(bad_fmt))[:3]}"
                    )
                step = 1 << overview_level
                odd = (ws % step != 0) | (hs % step != 0)
                if odd.any():
                    k = int(np.flatnonzero(odd)[0])
                    raise ValueError(
                        f"overview_level={overview_level} needs dims divisible "
                        f"by {step}; tile {int(ws[k])}x{int(hs[k])} is not"
                    )
                ws = ws >> overview_level
                hs = hs >> overview_level
            off, data = _binary_offsets_data(col["bytes"])
            lon0 = col["lon0"].to_numpy(zero_copy_only=False).astype(np.float64)
            lat_top = col["lat_top"].to_numpy(zero_copy_only=False).astype(np.float64)
            n = b.num_rows
            # F3 orientation normalization flags (default: canonical)
            if "lon_ascending" in names:
                flip_x = ~col["lon_ascending"].to_numpy(zero_copy_only=False).astype(bool)
            else:
                flip_x = np.zeros(n, dtype=bool)
            if "lat_descending" in names:
                flip_y = ~col["lat_descending"].to_numpy(zero_copy_only=False).astype(bool)
            else:
                flip_y = np.zeros(n, dtype=bool)
            # per-geometry totals for the batch: a batch leaves the kernel
            # as <= n_geoms rows (stats) or <= n_geoms x 256 rows (hist)
            # regardless of pixel count
            px_cnt = np.zeros(len(geoms), dtype=np.int64)
            px_sum = np.zeros(len(geoms), dtype=np.int64)
            hist2d = (
                np.zeros((len(geoms), 256), dtype=np.int64)
                if mode == "hist"
                else None
            )
            px_cache: dict[int, np.ndarray] = {}

            def tile(k: int) -> np.ndarray:
                px = px_cache.get(k)
                if px is None:
                    if overview_level:
                        from ..tiff import decode_tif_overview

                        px = decode_tif_overview(
                            data[off[k] : off[k + 1]].tobytes(), overview_level
                        )
                    else:
                        px = decode_tile(
                            data[off[k] : off[k + 1]].tobytes(), fmts[k], int(ws[k]), int(hs[k])
                        )
                    if flip_x[k]:
                        px = px[:, ::-1]
                    if flip_y[k]:
                        px = px[::-1, :]
                    px_cache[k] = px.reshape(-1)
                return px_cache[k]

            for g, (edges, part_bboxes) in enumerate(prepared):
                hit = np.zeros(n, dtype=bool)
                for rx0, ry0, rx1, ry1 in part_bboxes:
                    hit |= (
                        (lon0 <= rx1)
                        & (lon0 + span_deg >= rx0)
                        & (lat_top - span_deg <= ry1)
                        & (lat_top >= ry0)
                    )
                hit_k = np.nonzero(hit)[0]
                if not hit_k.size:
                    continue
                # chunk the hit tiles so the edges x rows crossing matrix
                # and the rows x cols pixel buffer stay bounded
                per_tile = int(hs[hit_k].max()) * max(len(edges[1][0]), int(ws[hit_k].max()))
                step = max(1, _CHUNK_CELLS // max(per_tile, 1))
                for c0 in range(0, len(hit_k), step):
                    ks = hit_k[c0 : c0 + step]
                    whole, t, start, length = _scanline_runs(
                        lon0[ks], lat_top[ks], ws[ks], hs[ks], span_deg, edges
                    )
                    if not (whole.size or t.size):
                        continue
                    # decode only the tiles with pixels inside, into one
                    # flat buffer: whole tiles first, then the run tiles
                    first = np.diff(t, prepend=-1) != 0
                    used = ks[np.concatenate((whole, t[first]))]
                    sizes = ws[used] * hs[used]
                    flat = np.concatenate([tile(k) for k in used])
                    n_whole = int(sizes[: whole.size].sum())
                    parts = [flat[:n_whole]]
                    if t.size:
                        # runs are sorted and disjoint: the run tiles' inside
                        # mask is (gap, run) pairs of False/True
                        start += (np.cumsum(sizes) - sizes)[whole.size + np.cumsum(first) - 1]
                        gap = start - np.concatenate(([n_whole], (start + length)[:-1]))
                        inside = np.repeat(
                            np.tile([False, True], t.size),
                            np.stack([gap, length], axis=1).ravel(),
                        )
                        parts.append(flat[n_whole : n_whole + inside.size][inside])
                    for v in parts:
                        if hist2d is not None:
                            # bincount widens its input to intp: slices keep
                            # that copy in cache
                            for i in range(0, v.size, 1 << 16):
                                hist2d[g] += np.bincount(v[i : i + (1 << 16)], minlength=256)
                        else:
                            px_cnt[g] += v.size
                            px_sum[g] += v.sum(dtype=np.int64)
            if hist2d is not None:
                gi_nz, val_nz = np.nonzero(hist2d)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(gi_nz.astype(np.int32)),
                        pa.array(val_nz.astype(np.int32)),
                        pa.array(hist2d[gi_nz, val_nz]),
                    ],
                    names=["gi", "value", "n_px"],
                )
                continue
            gi_nz = np.nonzero(px_cnt)[0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(gi_nz.astype(np.int32)),
                    pa.array(px_cnt[gi_nz]),
                    pa.array(px_sum[gi_nz]),
                ],
                names=["gi", "px_count", "px_sum"],
            )

    # project to EXACTLY the columns the kernel reads before the Python
    # boundary (guide §4.1): mapInArrow is opaque to column pruning, so
    # without this every tile also ships its caption/phash/id payload
    # through Arrow (and reads them off parquet).
    kernel_cols = ["bytes", "w", "h", "fmt", "lon0", "lat_top"] + [
        c for c in ("lon_ascending", "lat_descending") if c in pruned.columns
    ]
    pruned = pruned.select(*kernel_cols)
    if mode == "hist":
        partial = pruned.mapInArrow(kernel, schema="gi int, value int, n_px bigint")
    else:
        partial = pruned.mapInArrow(kernel, schema=ZONAL_PIXEL_SCHEMA)

    # 3. exact integer aggregation + name attach
    import pandas as pd

    idx_df = F.broadcast(
        spark.createDataFrame(
            pd.DataFrame({"gi": range(len(adm_ids)), "adm_id": adm_ids}),
            schema="gi int, adm_id string",
        )
    )
    if mode == "hist":
        return (
            partial.groupBy("gi", "value")
            .agg(F.sum("n_px").alias("n_px"))
            .join(idx_df, "gi")
            # no global orderBy: a range sort adds a sampling pass + extra
            # stage that zonal_majority/zonal_quantiles immediately
            # re-shuffle away, and the correctness gate row-sorts anyway
            .select("adm_id", "value", "n_px")
        )
    return (
        partial.groupBy("gi")
        .agg(F.sum("px_count").alias("px_count"), F.sum("px_sum").alias("px_sum"))
        .join(idx_df, "gi")
        .select(
            "adm_id",
            "px_count",
            "px_sum",
            (F.col("px_sum").cast("double") / F.col("px_count")).alias("px_mean"),
        )
        .orderBy("adm_id")
    )


def pixel_histogram(images: DataFrame) -> DataFrame:
    """Corpus-wide pixel-value histogram: decode each tile, per-batch
    uint8 bincount (one numpy pass, no per-pixel Python), emit per-batch
    partial counts, exact integer groupBy(value) aggregation.

    The map-side bincount is the partial-aggregate trick at kernel level:
    a batch of B 64x64 tiles leaves the kernel as ≤256 rows, so the
    shuffle is O(batches x 256) regardless of pixel count — the right
    shape for value-distribution scans (nodata audits, QC thresholds,
    radiometric drift) over a 100 TB corpus. Honors the F3 orientation
    flags trivially (histogram is flip-invariant; flags need no action).

    Output: (value int, n_px bigint), only values that occur.
    """

    def kernel(batches):
        import pyarrow as pa

        from ..codecs import decode_tile
        from ..sources.images import _binary_offsets_data

        for b in batches:
            names = b.schema.names
            col = {name: b.column(k) for k, name in enumerate(names)}
            fmts = np.asarray(col["fmt"].to_pylist(), dtype=object)
            ws = col["w"].to_numpy(zero_copy_only=False).astype(np.int64)
            hs = col["h"].to_numpy(zero_copy_only=False).astype(np.int64)
            off, data = _binary_offsets_data(col["bytes"])
            counts = np.zeros(256, dtype=np.int64)
            # fixed-size fmts: ONE bincount over the concatenated payloads
            # (raw and qnt both store decoded-domain bytes — qnt is
            # LSB-cleared at encode time, codecs.py:82)
            fixed = (fmts == "raw") | (fmts == "qnt")
            if fixed.any():
                idx = np.nonzero(fixed)[0]
                segs = [data[off[k] : off[k + 1]] for k in idx]
                raw = np.concatenate(segs) if len(segs) > 1 else segs[0]
                counts += np.bincount(raw, minlength=256)
            for k in np.nonzero(~fixed)[0]:
                px = decode_tile(
                    data[off[k] : off[k + 1]].tobytes(), fmts[k], int(ws[k]), int(hs[k])
                )
                counts += np.bincount(px.ravel(), minlength=256)
            nz = np.nonzero(counts)[0]
            yield pa.RecordBatch.from_arrays(
                [pa.array(nz.astype(np.int32)), pa.array(counts[nz])],
                names=["value", "n_px"],
            )

    images = images.select("bytes", "fmt", "w", "h")  # §4.1: opaque kernel
    partial = images.mapInArrow(kernel, schema="value int, n_px bigint")
    return partial.groupBy("value").agg(F.sum("n_px").alias("n_px"))


def coarsen_histogram(images: DataFrame, factor: int = 2, quant: int = 1000) -> DataFrame:
    """Spatial downsample (xarray ``coarsen``-style block mean, the
    reference's resample-to-coarser-grid step) fused with a value
    histogram: decode → (h/f, f, w/f, f) block-mean reduction per tile →
    milli-quantized exact counts. The coarsened pixels never leave the
    kernel; a batch exits as one row per distinct coarse value — the same
    map-side-partial shape as pixel_histogram, so resampling a 100 TB
    corpus shuffles kilobytes.

    Output: (value_milli bigint, n_px bigint) where value_milli =
    round(block_mean * quant).
    """

    def _block_sum(stack: np.ndarray, f: int) -> np.ndarray:
        """Exact integer block sums of a (n, h, w) uint8 stack.  For the
        practical factors (f <= 16, block sum <= 255*f*f < 2^16) the sum
        accumulates f*f strided uint16 adds — r8 measured 12x over the
        reshape + multi-axis int64 sum, which iterates the 5-D view with
        upcasting; bigger factors keep the general form."""
        n, h, w = stack.shape
        ch, cw = h // f, w // f
        v = stack[:, : ch * f, : cw * f]
        if 255 * f * f <= np.iinfo(np.uint16).max:
            acc = np.zeros((n, ch, cw), dtype=np.uint16)
            for dy in range(f):
                for dx in range(f):
                    acc += v[:, dy::f, dx::f]
            return acc.astype(np.int64)
        return v.reshape(n, ch, f, cw, f).sum(axis=(2, 4), dtype=np.int64)

    def kernel(batches):
        import pyarrow as pa

        from ..codecs import decode_tile
        from ..sources.images import _binary_offsets_data

        for b in batches:
            names = b.schema.names
            col = {name: b.column(k) for k, name in enumerate(names)}
            fmts = np.asarray(col["fmt"].to_pylist(), dtype=object)
            ws = col["w"].to_numpy(zero_copy_only=False).astype(np.int64)
            hs = col["h"].to_numpy(zero_copy_only=False).astype(np.int64)
            off, data = _binary_offsets_data(col["bytes"])
            # per-BATCH tally: r8 measured the old per-tile np.unique
            # (a sort per entropy-coded tile) at >half the kernel — all
            # coarse values accumulate into one array and a single
            # unique/bincount-style pass emits the partial counts
            parts: list[np.ndarray] = []
            scale = quant / (factor * factor)

            # fixed-size fmts, grouped by (w, h): bulk-reshape the whole
            # group's payload to (n, h, w) and block-reduce in ONE numpy
            # pass — no per-tile Python on the hot path
            fixed = (fmts == "raw") | (fmts == "qnt")
            done = np.zeros(b.num_rows, dtype=bool)
            if fixed.any():
                for w, h in {(int(ws[k]), int(hs[k])) for k in np.nonzero(fixed)[0]}:
                    grp = np.nonzero(fixed & (ws == w) & (hs == h))[0]
                    lens = off[grp + 1] - off[grp]
                    grp = grp[lens == w * h]  # defensive: malformed rows fall through
                    if not len(grp):
                        continue
                    stack = np.concatenate(
                        [data[off[k] : off[k + 1]] for k in grp]
                    ).reshape(len(grp), h, w)
                    blocks = _block_sum(stack, factor)
                    parts.append(np.rint(blocks * scale).astype(np.int64).ravel())
                    done[grp] = True
            # entropy-coded fmts: decode per tile (unavoidable), but
            # block-reduce same-shape tiles as small stacked chunks and
            # defer ALL counting to the batch tally (r8; chunk 8 per the
            # measured cache ceiling, same as the IDCT/resample kernels)
            rest = np.nonzero(~done)[0]
            if len(rest):
                pxs = [
                    decode_tile(
                        data[off[k] : off[k + 1]].tobytes(), fmts[k],
                        int(ws[k]), int(hs[k]),
                    )
                    for k in rest
                ]
                groups: dict[tuple[int, int], list[int]] = {}
                for j, px in enumerate(pxs):
                    groups.setdefault(px.shape, []).append(j)
                for (h, w), idxs in groups.items():
                    for c0 in range(0, len(idxs), 8):
                        sub = idxs[c0 : c0 + 8]
                        stack = np.stack([pxs[j] for j in sub])
                        blocks = _block_sum(stack, factor)
                        parts.append(np.rint(blocks * scale).astype(np.int64).ravel())
            if parts:
                # values are bounded (block means of uint8 pixels times
                # quant: 0..255*quant), so a bincount + nonzero replaces
                # the sort-based np.unique (r8 measured 83 -> 7 ms per
                # 2M-value batch); identical (value, count) pairs.
                allv = np.concatenate(parts)
                cnt_full = np.bincount(allv, minlength=255 * quant + 1)
                vals = np.nonzero(cnt_full)[0].astype(np.int64)
                cnts = cnt_full[vals]
            else:
                vals = cnts = np.array([], dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(vals, pa.int64()), pa.array(cnts.astype(np.int64), pa.int64())],
                names=["value_milli", "n_px"],
            )

    images = images.select("bytes", "fmt", "w", "h")  # §4.1: opaque kernel
    partial = images.mapInArrow(kernel, schema="value_milli bigint, n_px bigint")
    return partial.groupBy("value_milli").agg(F.sum("n_px").alias("n_px"))


def vectorize_mask(images: DataFrame, threshold: int, span_deg: float = 0.25) -> DataFrame:
    """Mask→vector extraction: per tile, the bounding boxes of the
    connected runs of pixels >= threshold, emitted as lon/lat rects —
    the inverse kernel of rasterize (reference writes rasters only; this
    gives the engine the mask→polygon direction). Row-run variant (exact
    for our column-gradient tiles; a full CCL is a plug-in kernel).

    Requires footprint columns ``lon0``/``lat_top`` (attach with
    corpus.footprint_cols_for_images); honors the F3 orientation flags."""
    missing = {"lon0", "lat_top"} - set(images.columns)
    if missing:
        raise ValueError(f"images needs footprint columns {sorted(missing)}")

    def kernel(batches):
        import pyarrow as pa

        from ..codecs import decode_tile
        from ..sources.images import _binary_offsets_data

        for b in batches:
            names = b.schema.names
            col = {name: b.column(k) for k, name in enumerate(names)}
            ii = col["i"].to_numpy(zero_copy_only=False)
            fmts = np.asarray(col["fmt"].to_pylist(), dtype=object)
            ws = col["w"].to_numpy(zero_copy_only=False)
            hs = col["h"].to_numpy(zero_copy_only=False)
            off, data = _binary_offsets_data(col["bytes"])
            lon0s = col["lon0"].to_numpy(zero_copy_only=False)
            lat_tops = col["lat_top"].to_numpy(zero_copy_only=False)
            if "lon_ascending" in names:
                flip_x = ~col["lon_ascending"].to_numpy(zero_copy_only=False).astype(bool)
            else:
                flip_x = np.zeros(b.num_rows, dtype=bool)
            if "lat_descending" in names:
                flip_y = ~col["lat_descending"].to_numpy(zero_copy_only=False).astype(bool)
            else:
                flip_y = np.zeros(b.num_rows, dtype=bool)
            o_i, o_minlon, o_minlat, o_maxlon, o_maxlat, o_npx = [], [], [], [], [], []
            for k in range(b.num_rows):
                i = int(ii[k])
                w, h = int(ws[k]), int(hs[k])
                px = decode_tile(data[off[k] : off[k + 1]].tobytes(), fmts[k], w, h)
                if flip_x[k]:
                    px = px[:, ::-1]
                if flip_y[k]:
                    px = px[::-1, :]
                mask = px >= threshold
                if not mask.any():
                    continue
                ys, xs = np.nonzero(mask)
                lon0 = float(lon0s[k])
                lat_top = float(lat_tops[k])
                o_i.append(i)
                o_minlon.append(lon0 + xs.min() * span_deg / w)
                o_maxlon.append(lon0 + (xs.max() + 1) * span_deg / w)
                o_maxlat.append(lat_top - ys.min() * span_deg / h)
                o_minlat.append(lat_top - (ys.max() + 1) * span_deg / h)
                o_npx.append(int(mask.sum()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_i, pa.int64()),
                    pa.array(o_minlon, pa.float64()),
                    pa.array(o_minlat, pa.float64()),
                    pa.array(o_maxlon, pa.float64()),
                    pa.array(o_maxlat, pa.float64()),
                    pa.array(o_npx, pa.int64()),
                ],
                names=["i", "min_lon", "min_lat", "max_lon", "max_lat", "n_px_masked"],
            )

    return images.mapInArrow(
        kernel,
        schema="i bigint, min_lon double, min_lat double, max_lon double, max_lat double, n_px_masked bigint",
    )


# ------------------------------------------------- bilinear resample ------


def bilinear_resample(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Arbitrary-ratio bilinear resample (float64 output) — the kernel of
    the reference's grid-alignment step (``reproject_match`` onto a
    differently-spaced lat/lon grid, examples/mars_aws_seas5_grid.md:61-72)
    for the axis-aligned EPSG:4326 case, where reprojection IS separable
    per-axis interpolation.

    Pixel-center convention (GDAL/rasterio): output center x maps to
    source coordinate u = (x + 0.5) * (w / out_w) - 0.5, clamped to the
    edge (replicate). Separable: one vectorized 1-D pass per axis — no
    per-pixel Python, no scipy."""
    a = px.astype(np.float64)

    def axis_interp(arr: np.ndarray, n_out: int, axis: int) -> np.ndarray:
        # axis is -2 (rows) or -1 (cols): arbitrary leading batch dims are
        # supported — the math is pure elementwise lerp + gather, so a
        # stacked call is bit-identical to per-tile calls (pytest-pinned)
        n_in = arr.shape[axis]
        u = (np.arange(n_out) + 0.5) * (n_in / n_out) - 0.5
        u = np.clip(u, 0.0, n_in - 1.0)
        lo = np.floor(u).astype(np.int64)
        hi = np.minimum(lo + 1, n_in - 1)
        frac = u - lo
        lo_v = np.take(arr, lo, axis=axis)
        hi_v = np.take(arr, hi, axis=axis)
        if axis == -2:
            frac = frac[:, None]
        return lo_v + (hi_v - lo_v) * frac

    return axis_interp(axis_interp(a, out_h, -2), out_w, -1)


def _interp_tables(n_in: int, n_out: int):
    """(lo, hi, frac) gather tables — the EXACT numpy expressions from
    bilinear_resample.axis_interp, shared with the native kernel so the
    C lerp consumes bit-identical inputs."""
    u = (np.arange(n_out) + 0.5) * (n_in / n_out) - 0.5
    u = np.clip(u, 0.0, n_in - 1.0)
    lo = np.floor(u).astype(np.int64)
    hi = np.minimum(lo + 1, n_in - 1)
    frac = np.ascontiguousarray(u - lo, dtype=np.float64)
    return lo, hi, frac


def resample_bilinear_stats(
    images: DataFrame, out_w: int, out_h: int, quant: int = 1_000_000
) -> DataFrame:
    """Decode each tile, bilinear-resample to (out_h, out_w), and emit the
    resampled mean in integer ``quant`` units — (i, w2, h2, rs_mean_q).
    One Arrow stage (decode + resample fused: resampled pixels never
    materialize outside the kernel, same scan-pipelining story as the
    zonal kernels). Exactness: means are rounded to integer units inside
    the kernel, so downstream aggregation is order-independent."""

    def kernel(batches):
        import pandas as pd

        from ..codecs import decode_tile

        for pdf in batches:
            n = len(pdf)
            pxs = [
                decode_tile(bytes(blob), fmt, int(w), int(h))
                for blob, fmt, w, h in zip(
                    pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"]
                )
            ]
            # group same-shape tiles and run ONE stacked separable interp
            # per group: the lerp is elementwise, so stacked results are
            # bit-identical to per-tile calls while the ~20 numpy ops per
            # tile amortize across the batch.  Row means reduce the same
            # contiguous 2304 floats in the same pairwise order as
            # rs.mean() did per tile.
            means = np.empty(n, dtype=np.float64)
            groups: dict[tuple[int, int], list[int]] = {}
            for k, px in enumerate(pxs):
                groups.setdefault(px.shape, []).append(k)
            from .. import native as _native

            for shape, idxs in groups.items():
                # native path (r8 s4): C replays the gather/lerp passes
                # elementwise with tables computed by the SAME numpy
                # expressions (bit-identical, pytest-pinned); the mean
                # stays in numpy so its pairwise order is untouched.
                # Measured 37.6 -> ~7 us/tile on the sf1.0 corpus.
                th, tw = shape
                tabs = (
                    *_interp_tables(th, out_h),
                    *_interp_tables(tw, out_w),
                )
                tmp = np.empty(out_h * tw, dtype=np.float64)
                use_native = (
                    pxs[idxs[0]].dtype == np.uint8
                    and _native.get_lib() is not None
                )
                for c0 in range(0, len(idxs), 128 if use_native else 8):
                    # numpy fallback keeps small chunks: large stacks
                    # spill L2 on the float64 intermediates (same
                    # measured effect as the JPEG IDCT chunking) — 8
                    # tiles measured 32.6 us/tile vs 85 per-tile
                    sub = idxs[c0 : c0 + (128 if use_native else 8)]
                    stack = np.ascontiguousarray(
                        np.stack([pxs[k] for k in sub])
                    )
                    if use_native:
                        rs = np.empty(
                            (len(sub), out_h, out_w), dtype=np.float64
                        )
                        if not _native.bilinear_stack(stack, tabs, rs, tmp):
                            rs = bilinear_resample(stack, out_h, out_w)
                    else:
                        rs = bilinear_resample(stack, out_h, out_w)
                    means[sub] = rs.reshape(len(sub), -1).mean(axis=1)
            yield pd.DataFrame(
                {
                    "i": pdf["i"],
                    "w2": np.full(n, out_w, dtype=np.int32),
                    "h2": np.full(n, out_h, dtype=np.int32),
                    "rs_mean_q": np.rint(means * quant).astype(np.int64),
                }
            )

    return images.select("i", "bytes", "fmt", "w", "h").mapInPandas(
        kernel, schema="i bigint, w2 int, h2 int, rs_mean_q bigint"
    )


# ------------------------------------------- cross-CRS reprojection -------


WEBMERC_MAX_LAT = 85.0511  # Web-Mercator domain clip (spec: ±85.051129)


def merc_y(lat_deg: np.ndarray) -> np.ndarray:
    """Unit-sphere Mercator northing: y = ln(tan(π/4 + φ/2)). The sphere
    radius cancels out of every grid mapping below, so R never appears."""
    return np.log(np.tan(np.pi / 4.0 + np.radians(lat_deg) / 2.0))


def webmercator_row_map(
    lat_top: float, span_deg: float, src_h: int, out_h: int
) -> np.ndarray:
    """Fractional SOURCE row index for each output row of an output grid
    that is uniform in Web-Mercator northing over the tile's lat span
    (the reproject_match analog for EPSG:4326 → EPSG:3857,
    /root/reference/examples/mars_aws_seas5_grid.md:61-72). The x axis
    needs no map: Mercator easting is linear in longitude, so for an
    axis-aligned tile the warp is separable and columns pass through.

    Pixel-center convention both ways (GDAL/rasterio): output row r sits
    at northing y_t − (r+0.5)·(y_t−y_b)/out_h; source rows are uniform in
    LATITUDE at lat_top − (s+0.5)·span/src_h. Clamped to [0, src_h−1]
    (edge replicate). Mirrors the SQL oracle's formula term for term."""
    lat_bot = lat_top - span_deg
    if lat_top > WEBMERC_MAX_LAT or lat_bot < -WEBMERC_MAX_LAT:
        raise ValueError("tile outside the Web-Mercator domain (|lat| > 85.0511)")
    y_t = merc_y(np.float64(lat_top))
    y_b = merc_y(np.float64(lat_bot))
    r = np.arange(out_h, dtype=np.float64)
    y_r = y_t - (r + 0.5) * (y_t - y_b) / out_h
    phi = np.degrees(2.0 * np.arctan(np.exp(y_r)) - np.pi / 2.0)
    u = (src_h / span_deg) * (lat_top - phi) - 0.5
    return np.clip(u, 0.0, src_h - 1.0)


def warp_rows(px: np.ndarray, u: np.ndarray, subpix: int = 256) -> np.ndarray:
    """1-D vertical warp: bilinear along axis 0 at fractional source rows
    ``u``, with source coordinates snapped to 1/subpix of a pixel first —
    the fixed-subpixel-precision discipline of real warpers (GDAL does
    the same), which ALSO makes every interpolated value an exact dyadic
    rational: downstream fixed-point sums are bit-reproducible across
    engines and partitionings."""
    uq = np.rint(u * subpix) / subpix
    lo = np.floor(uq).astype(np.int64)
    hi = np.minimum(lo + 1, px.shape[0] - 1)
    frac = (uq - lo)[:, None]
    a = px.astype(np.float64)
    return a[lo] + (a[hi] - a[lo]) * frac


def reproject_webmercator(
    px: np.ndarray, lat_top: float, span_deg: float = 0.25, out_h: int | None = None
) -> np.ndarray:
    """Equirectangular (EPSG:4326) tile → Web-Mercator (EPSG:3857) grid
    over the same footprint. Separable closed form: row warp only."""
    out_h = out_h or px.shape[0]
    return warp_rows(px, webmercator_row_map(lat_top, span_deg, px.shape[0], out_h))


def webmercator_inverse_row_map(
    lat_top: float, span_deg: float, src_h: int, out_h: int
) -> np.ndarray:
    """The opposite direction (EPSG:3857-gridded source → uniform-latitude
    output rows): fractional MERCATOR-grid row for each latitude-uniform
    output row. Composing the two maps round-trips (pytest gate)."""
    lat_bot = lat_top - span_deg
    if lat_top > WEBMERC_MAX_LAT or lat_bot < -WEBMERC_MAX_LAT:
        raise ValueError("tile outside the Web-Mercator domain (|lat| > 85.0511)")
    y_t = merc_y(np.float64(lat_top))
    y_b = merc_y(np.float64(lat_bot))
    r = np.arange(out_h, dtype=np.float64)
    lat_r = lat_top - (r + 0.5) * (span_deg / out_h)
    y_r = merc_y(lat_r)
    u = (src_h / (y_t - y_b)) * (y_t - y_r) - 0.5
    return np.clip(u, 0.0, src_h - 1.0)


def reproject_webmercator_sum256(images: DataFrame, quant_bits: int = 8) -> DataFrame:
    """Graded reprojection surface: decode each tile, TRANSPOSE it (the
    corpus gradient runs along x; the transpose makes pixel values vary
    with the warped axis, so a row-map bug becomes a value divergence —
    an unwarped-axis gradient would hide it), reproject to the
    Web-Mercator grid over the tile's own footprint, and emit the warped
    pixel sum in exact 1/256 fixed-point units as a bigint. With 1/256
    subpixel snapping every warped value is dyadic, so the ×256 sum is an
    exact integer — bit-reproducible across engines and partitionings.
    ONE Arrow stage (decode + transpose + warp + sum fused)."""

    def kernel(batches):
        import pandas as pd

        from ..codecs import decode_tile

        for pdf in batches:
            out_i, out_s = [], []
            for i, blob, fmt, w, h, lat_top in zip(
                pdf["i"], pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"], pdf["lat_top"]
            ):
                px = decode_tile(bytes(blob), fmt, int(w), int(h)).T
                rp = reproject_webmercator(px, float(lat_top))
                out_i.append(int(i))
                out_s.append(int(np.rint(rp.sum() * 256.0)))
            yield pd.DataFrame({"i": out_i, "rp_sum_256": out_s})

    return images.select("i", "bytes", "fmt", "w", "h", "lat_top").mapInPandas(
        kernel, schema="i bigint, rp_sum_256 bigint"
    )


def zonal_quantiles(
    images: DataFrame,
    admin: DataFrame,
    res: int,
    q_bps: tuple[int, ...] = (5000, 9000),
    span_deg: float = 0.25,
    overview_level: int = 0,
) -> DataFrame:
    """Per-admin EXACT pixel-value quantiles, derived from the
    zonal_value_histogram reduction: with uint8 pixels the full
    per-zone value distribution is <= 256 rows, so exact order
    statistics need no sort of pixels and no sketch — the q-th quantile
    is the smallest value whose cumulative count clears q (integer
    cross-multiplication: cum * 10000 >= q_bp * total, so quantile
    selection is bit-exact across engines). This is the bounded-domain
    special case where the exact answer costs the same as the
    approximate one; for continuous-valued rasters see
    operators/sketches.quantile_sketch (mergeable histogram state).

    Output: (adm_id, px_count, q<bp>_value ...) one column per q_bp.
    """
    hist = zonal_value_histogram(images, admin, res, span_deg, overview_level)
    w_cum = (
        Window.partitionBy("adm_id")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("n_px").over(w_cum)).withColumn(
        "total", F.sum("n_px").over(Window.partitionBy("adm_id"))
    )
    aggs = [F.max("total").alias("px_count")]
    for q in q_bps:
        aggs.append(
            F.min(
                F.when(F.col("cum") * 10000 >= F.lit(q) * F.col("total"), F.col("value"))
            ).alias(f"q{q}_value")
        )
    return cum.groupBy("adm_id").agg(*aggs).orderBy("adm_id")
