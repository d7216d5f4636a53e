"""In-process decode-kernel timings: ``kernel.us_per_blob.<fmt>``.

Each format's public decode entry runs on a fixed sample of blobs built
with the corpus's own pixel formula (``corpus.pixels_for``), in the
benchmark's driver process, with no Spark in the way. The value is the
median over passes of the per-blob mean, in microseconds. When the native
library is unavailable (``native.available`` = 0) these time the Python
twins.
"""

from __future__ import annotations

import time

import numpy as np

SAMPLE = 64
PASSES = 5


def _samples(fmt: str) -> list[bytes]:
    from ds_raster_pipelines_spark import codecs, corpus

    out = []
    for i in range(1, SAMPLE + 1):
        lon0, _, _, lat_top = corpus.footprint(i)
        meta = {"lon0": lon0, "lat_top": lat_top, "span_deg": 0.25, "date_days": i % 366}
        out.append(codecs.encode_tile(corpus.pixels_for(i), fmt, meta))
    return out


def _grib_samples() -> list[bytes]:
    from ds_raster_pipelines_spark import grib

    g = np.arange(64, dtype=np.float64).reshape(8, 8)
    return [grib.encode_file([grib.encode_message((g * 3 + i * 7) % 1000)]) for i in range(SAMPLE)]


def _doc_sample() -> tuple[bytes, np.ndarray]:
    words = [f"tile_{k * 7919 % 99991}" for k in range(4000)]
    docs = [" ".join(words[(d * 37) % 3960:(d * 37) % 3960 + 22 + d % 17]) for d in range(SAMPLE)]
    raw = [d.encode() for d in docs]
    offs = np.zeros(len(raw) + 1, dtype=np.int64)
    offs[1:] = np.cumsum([len(r) for r in raw])
    return b"".join(raw), offs


def _time(fn) -> float:
    fn()  # first call builds LUTs / loads the library
    per = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        fn()
        per.append((time.perf_counter() - t0) / SAMPLE * 1e6)
    return float(np.median(per))


def us_per_blob() -> dict[str, float]:
    from ds_raster_pipelines_spark import codecs, grib, hdf5, jpeg, native, netcdf
    from ds_raster_pipelines_spark.operators.dedup import MINHASH_P, MINHASH_PARAMS

    out = {}
    for fmt in ("raw", "qnt", "png", "tif"):
        blobs = _samples(fmt)
        out[f"kernel.us_per_blob.{fmt}"] = _time(
            lambda b=blobs, f=fmt: [codecs.decode_tile(x, f, 64, 64) for x in b]
        )
    nc, nc4, jpg = _samples("nc"), _samples("nc4"), _samples("jpg")
    out["kernel.us_per_blob.nc"] = _time(lambda: [netcdf.decode_nc_tile(x) for x in nc])
    out["kernel.us_per_blob.nc4"] = _time(lambda: [hdf5.decode_nc4_tile(x) for x in nc4])
    out["kernel.us_per_blob.jpg"] = _time(lambda: jpeg.decode_jpeg_batch_stats(jpg))
    gribs = _grib_samples()
    out["kernel.us_per_blob.grib"] = _time(
        lambda: [grib.decode_values(x, m) for x in gribs for m in grib.scan_messages(x)]
    )
    texts, offs = _doc_sample()
    pa_np = np.asarray([a for a, _ in MINHASH_PARAMS], dtype=np.int64)
    pb_np = np.asarray([b for _, b in MINHASH_PARAMS], dtype=np.int64)
    if native.get_lib() is not None:
        out["kernel.us_per_blob.minhash"] = _time(
            lambda: native.minhash_doc_sigs(texts, offs, pa_np, pb_np, MINHASH_P)
        )
    else:
        out["kernel.us_per_blob.minhash"] = 0.0
    return out
