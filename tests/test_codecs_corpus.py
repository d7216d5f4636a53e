"""Codecs round-trip, PSNR gate, corpus determinism, PIP kernel goldens."""

from __future__ import annotations

import numpy as np
import pytest

from ds_raster_pipelines_spark import codecs, corpus
from ds_raster_pipelines_spark.operators.pip import _points_in_rings


@pytest.mark.parametrize("i", [0, 1, 4, 16, 96, 97, 1439, 123456])
def test_codec_roundtrip_and_psnr(i):
    px = corpus.pixels_for(i)
    fmt = corpus.fmt_for(i)
    blob = codecs.encode_tile(px, fmt)
    back = codecs.decode_tile(blob, fmt, corpus.TILE_W, corpus.TILE_H)
    if fmt in codecs.LOSSLESS_FMTS:
        assert np.array_equal(px, back)
        assert codecs.psnr(px, back) == float("inf")
    else:
        p = codecs.psnr(px, back)
        assert p >= 40.0, f"lossy PSNR gate failed: {p}"


def test_png_is_real_png():
    px = corpus.pixels_for(8)
    blob = codecs.encode_png(px)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    assert b"IHDR" in blob and b"IDAT" in blob and b"IEND" in blob


def test_expected_decoded_mean_closed_form():
    for i in [0, 1, 3, 4, 16, 32, 96, 97, 200, 991]:
        px = corpus.pixels_for(i)
        blob = codecs.encode_tile(px, corpus.fmt_for(i))
        back = codecs.decode_tile(blob, corpus.fmt_for(i), corpus.TILE_W, corpus.TILE_H)
        assert back.mean(dtype=np.float64) == corpus.expected_decoded_mean(i)


def test_wkb_roundtrip():
    blob = corpus.wkb_polygon_rect(-10, -5, 20, 15)
    ring = corpus.parse_wkb_polygon(blob)
    assert ring.shape == (5, 2)
    assert ring[0].tolist() == [-10, -5] and ring[2].tolist() == [20, 15]


def test_ray_cast_golden():
    ring = corpus.parse_wkb_polygon(corpus.wkb_polygon_rect(0, 0, 10, 10))
    lon = np.array([5.0, -1.0, 10.5, 0.125, 9.875])
    lat = np.array([5.0, 5.0, 5.0, 0.125, 9.875])
    assert _points_in_rings(lon, lat, [ring]).tolist() == [True, False, False, True, True]
    # non-rectangular: triangle
    import struct

    tri_pts = [(0, 0), (10, 0), (0, 10), (0, 0)]
    tri = struct.pack("<BIII", 1, 3, 1, 4) + b"".join(struct.pack("<dd", x, y) for x, y in tri_pts)
    ring = corpus.parse_wkb_polygon(tri)
    lon = np.array([1.0, 6.0, 4.0])
    lat = np.array([1.0, 6.0, 4.0])
    assert _points_in_rings(lon, lat, [ring]).tolist() == [True, False, True]


def test_admin_rects_disjoint_and_hot():
    rects = corpus.admin_rects()
    assert len(rects) == 32
    base = [r for r in rects if int(r["adm_id"][3:]) < 28]
    for a in range(len(base)):
        for b in range(a + 1, len(base)):
            ra, rb = base[a], base[b]
            sep = (
                ra["max_lon"] <= rb["min_lon"]
                or rb["max_lon"] <= ra["min_lon"]
                or ra["max_lat"] <= rb["min_lat"]
                or rb["max_lat"] <= ra["min_lat"]
            )
            assert sep, f"{ra['adm_id']} overlaps {rb['adm_id']}"
    hot = [r for r in rects if int(r["adm_id"][3:]) >= 28]
    # all four hot rects share a common region (induces skew)
    assert max(r["min_lon"] for r in hot) < min(r["max_lon"] for r in hot)
    assert max(r["min_lat"] for r in hot) < min(r["max_lat"] for r in hot)


def test_orientation_flip_normalization(spark):
    """F3: a lon-descending corpus (mirrored pixel rows + orientation
    flags) must produce pixel-level zonal stats identical to the canonical
    corpus once the kernel flip-normalizes; ignoring the flags diverges."""
    from ds_raster_pipelines_spark.operators.raster import zonal_pixel_stats

    ids = spark.range(0, 400).withColumnRenamed("id", "i")
    # fractional admin bounds: rect edges cut tile interiors, so pixel
    # windows are partial and position-sensitive (integer bounds see only
    # full windows, which are mirror-invariant — the flip would be hidden)
    adm = corpus.admin_df(spark, offset=0.07)
    canon = corpus.footprint_cols_for_images(corpus.images_from_ids(ids))
    flip = corpus.footprint_cols_for_images(
        corpus.images_from_ids(ids, orientation="flip_lon")
    )
    a = zonal_pixel_stats(canon, adm, res=6).toPandas()
    b = zonal_pixel_stats(flip, adm, res=6).toPandas()
    assert a.equals(b)
    # a reader that drops the orientation flags sees mirrored gradients
    c = zonal_pixel_stats(
        flip.drop("lon_ascending", "lat_descending"), adm, res=6
    ).toPandas()
    assert not a["px_sum"].equals(c["px_sum"])


def test_bilinear_resample_matches_bruteforce():
    """Separable fast path == direct per-output-pixel bilinear evaluation,
    on tiles varying along BOTH axes and for up/down/non-integer ratios."""
    import numpy as np

    from ds_raster_pipelines_spark.operators.raster import bilinear_resample

    def brute(px, oh, ow):
        h, w = px.shape
        a = px.astype(np.float64)
        out = np.empty((oh, ow))
        for y in range(oh):
            v = min(max((y + 0.5) * h / oh - 0.5, 0.0), h - 1.0)
            y0 = int(np.floor(v)); y1 = min(y0 + 1, h - 1); fy = v - y0
            for x in range(ow):
                u = min(max((x + 0.5) * w / ow - 0.5, 0.0), w - 1.0)
                x0 = int(np.floor(u)); x1 = min(x0 + 1, w - 1); fx = u - x0
                top = a[y0, x0] * (1 - fx) + a[y0, x1] * fx
                bot = a[y1, x0] * (1 - fx) + a[y1, x1] * fx
                out[y, x] = top * (1 - fy) + bot * fy
        return out

    rng = np.random.default_rng(7)
    for (h, w), (oh, ow) in [((8, 8), (6, 10)), ((5, 7), (7, 5)), ((4, 4), (4, 4)),
                             ((16, 16), (12, 12)), ((3, 9), (10, 2))]:
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        assert np.allclose(bilinear_resample(px, oh, ow), brute(px, oh, ow)), (h, w, oh, ow)
    # identity at equal size
    px = rng.integers(0, 256, size=(6, 6), dtype=np.uint8)
    assert np.array_equal(bilinear_resample(px, 6, 6), px.astype(np.float64))


def test_dct_codec_psnr_and_determinism():
    """The real lossy transform codec: JPEG-like 8x8 DCT + Annex-K
    quantization + zlib. Smooth corpus gradients survive q=90 BIT-exactly
    (all 97 classes); white noise (the adversarial input) clears the
    input_hint's 40 dB gate at q=95; encoding is deterministic."""
    import numpy as np

    from ds_raster_pipelines_spark import codecs

    for c in range(97):
        px = ((np.arange(64)[None, :] + c)).astype(np.uint8).repeat(64, axis=0)
        blob = codecs.encode_dct(px, 90)
        assert np.array_equal(codecs.decode_dct(blob), px), c
        assert len(blob) < 64 * 64 // 8  # >8x smaller than raw
    rng = np.random.default_rng(0)
    noise = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    assert codecs.psnr(noise, codecs.decode_dct(codecs.encode_dct(noise, 95))) >= 40.0
    assert codecs.encode_dct(noise, 95) == codecs.encode_dct(noise.copy(), 95)
    # container goes through the generic entry points
    assert np.array_equal(codecs.decode_tile(codecs.encode_tile(noise, "dct"), "dct", 64, 64),
                          codecs.decode_dct(codecs.encode_dct(noise, 90)))
    # dims guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        codecs.encode_dct(np.zeros((10, 10), np.uint8))


def test_corpus_chunked_build_resumes(spark, tmp_path, monkeypatch):
    """Kill/resume of the chunked range-corpus build: a restart must skip
    manifested chunks, scrub uncommitted staging, and produce the exact
    row set a clean build produces (ids 0..n-1, no dupes, no holes)."""
    import os

    from ds_raster_pipelines_spark import corpus

    monkeypatch.setenv("SPARK_GRAFT_CORPUS_CHUNK", "100")
    root = str(tmp_path / "cache")
    n = 350  # 4 chunks of 100

    # clean build as the golden
    p = corpus.materialized_images_n(spark, n, cache_root=root + "_golden")
    golden = sorted(r.i for r in spark.read.parquet(p).select("i").collect())
    assert golden == list(range(n))

    # simulated kill: run two chunks by hand, leave manifest + staging junk
    path = f"{root}/{corpus.CORPUS_VERSION}/range_{n}"
    tmp = f"{path}.__building__"
    os.makedirs(tmp)
    from pyspark.sql import functions as F

    for lo in (0, 100):
        ids = spark.range(lo, lo + 100).withColumnRenamed("id", "i")
        corpus._write_corpus(ids, tmp, n_rows=n, mode="append")
        with open(f"{tmp}/_CHUNKS_DONE", "a") as f:
            f.write(f"{lo} {lo + 100}\n")
    os.makedirs(f"{tmp}/_temporary/0")  # uncommitted staging from the kill

    p2 = corpus.materialized_images_n(spark, n, cache_root=root)
    got = sorted(r.i for r in spark.read.parquet(p2).select("i").collect())
    assert got == golden
    assert not os.path.exists(tmp)


def test_coarsen_histogram_batched_tally_matches_naive(spark):
    """r8: the per-batch tally + chunk-stacked entropy path must count
    exactly what a naive per-tile loop counts over a mixed-format
    corpus slice."""
    import numpy as np

    from ds_raster_pipelines_spark import codecs, corpus
    from ds_raster_pipelines_spark.operators.raster import coarsen_histogram

    images = spark.read.parquet(
        corpus.materialized_images(spark, "/root/testdata/sf0.001")
    )
    got = {
        r["value_milli"]: r["n_px"]
        for r in coarsen_histogram(images, factor=2).collect()
    }
    ref: dict[int, int] = {}
    for row in images.select("bytes", "fmt", "w", "h").collect():
        px = codecs.decode_tile(bytes(row["bytes"]), row["fmt"], row["w"], row["h"])
        h, w = px.shape
        ch, cw = h // 2, w // 2
        blocks = px[: ch * 2, : cw * 2].reshape(ch, 2, cw, 2).sum(
            axis=(1, 3), dtype=np.int64
        )
        for v in np.rint(blocks * (1000 / 4)).astype(np.int64).ravel().tolist():
            ref[v] = ref.get(v, 0) + 1
    assert got == ref
