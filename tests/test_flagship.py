"""End-to-end flagship pipeline: decode → encode → PIP join → zonal agg."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ds_raster_pipelines_spark import corpus
from ds_raster_pipelines_spark.plans.flagship import flagship, flagship_from_orders
from ds_raster_pipelines_spark.sources.images import decode_stats, decode_verify

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def images(spark):
    return corpus.images_from_range(spark, 2000, partitions=4)


def test_decode_stats_matches_closed_form(spark, images):
    pdf = decode_stats(images).toPandas()
    assert len(pdf) == 2000
    for _, row in pdf.sample(50, random_state=0).iterrows():
        i = int(row["i"])
        assert row["mean_value"] == corpus.expected_decoded_mean(i)
        assert row["caption"] == corpus.caption_for(i)
        assert row["fmt"] == corpus.fmt_for(i)


def test_decode_verify_invariants(spark, images):
    pdf = decode_verify(images).toPandas()
    assert pdf["caption_ok"].all()
    lossless = pdf[pdf["fmt"] != "qnt"]
    assert lossless["lossless_exact"].all()
    assert (lossless["psnr"] == math.inf).all()
    lossy = pdf[pdf["fmt"] == "qnt"]
    assert len(lossy) == 125  # i % 16 == 0 of 2000
    assert (lossy["psnr"] >= 40.0).all()


def _sorted(pdf):
    return pdf.sort_values("adm_id").reset_index(drop=True)


def test_flagship_wkb_equals_bbox_refine(spark, images):
    adm = corpus.admin_df(spark)
    a = _sorted(flagship(images, adm, refine="wkb").toPandas())
    b = _sorted(flagship(images, adm, refine="bbox").toPandas())
    assert a.equals(b)
    assert len(a) > 0 and (a["n_tiles"] > 0).all()


def test_flagship_deterministic_across_parallelism(spark):
    """BASELINE.md gate: identical results regardless of partitioning."""
    adm = corpus.admin_df(spark)
    a = _sorted(flagship(corpus.images_from_range(spark, 1500, partitions=1), adm).toPandas())
    b = _sorted(flagship(corpus.images_from_range(spark, 1500, partitions=13), adm).toPandas())
    assert a.equals(b)


def test_entry_contract(spark):
    df = flagship_from_orders(spark, SF)
    pdf = df.toPandas()
    assert len(pdf) > 0
    assert set(pdf.columns) == {"adm_id", "avg_value", "min_value", "max_value", "sum_value", "n_tiles"}


def test_decode_stats_error_as_data(spark):
    """Poisoned-blob tolerance: corrupt payloads (truncated raw, garbage
    png bytes) must quarantine as decode_ok=false rows with NULL stats in
    on_error='null' mode, fail the job loudly in strict mode, and never
    silently mis-average a size-mismatched fixed-size payload."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ds_raster_pipelines_spark.sources.images import decode_stats

    images = corpus.images_from_range(spark, 60, partitions=2)

    def poison(pdf_iter):
        for pdf in pdf_iter:
            blobs = pdf["bytes"].tolist()
            for k, i in enumerate(pdf["i"]):
                if i == 7:  # raw tile truncated (size mismatch)
                    blobs[k] = blobs[k][: len(blobs[k]) // 2]
                elif i == 8:  # png tile replaced with garbage
                    blobs[k] = b"\x00garbage-not-a-png"
            pdf = pdf.assign(bytes=pd.Series(blobs, index=pdf.index, dtype=object))
            yield pdf
    poisoned = images.mapInPandas(poison, schema=images.schema)

    out = decode_stats(poisoned, on_error="null").toPandas().set_index("i")
    bad = out[~out["decode_ok"]]
    assert sorted(bad.index) == [7, 8]
    assert bad["mean_value"].isna().all()
    good = out[out["decode_ok"]]
    assert len(good) == 58 and good["mean_value"].notna().all()
    for i in [0, 5, 20]:
        assert good.loc[i, "mean_value"] == corpus.expected_decoded_mean(i)

    # strict mode: the same corpus fails the job (size mismatch is
    # DETECTED, not averaged over the wrong byte count)
    with pytest.raises(Exception, match="size mismatch|garbage|PNG|unknown"):
        decode_stats(poisoned).agg(F.count(F.lit(1))).collect()


def test_image_feature_ann_pipeline(spark):
    """End-to-end image near-dup: decode → intensity-histogram feature
    vectors (embeddings shape) → the EXISTING embedding LSH near-dup
    operator. Tiles with equal pixel offset (i ≡ j mod 97) decode to
    identical content → identical unit features → sim 1.0 pairs; the
    planted duplicates must all surface, distinct-content pairs must not
    reach sim 1.0."""
    from pyspark.sql import functions as F

    from ds_raster_pipelines_spark.operators.similarity import lsh_near_dup_pairs
    from ds_raster_pipelines_spark.sources.images import decode_features

    # ids 0..29 plus planted duplicates of 3 of them (content repeats mod 97)
    ids = spark.createDataFrame(
        [(i,) for i in list(range(30)) + [97, 98, 99]], "i long"
    )
    feats = decode_features(corpus.images_from_ids(ids, partitions=2))
    assert feats.schema.simpleString() == "struct<vec_id:bigint,embedding:array<float>>"
    pairs = lsh_near_dup_pairs(
        feats, threshold=0.999999, tables=[[1, 5, 9, 13], [3, 7, 11, 15]]
    ).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    assert {(0, 97), (1, 98), (2, 99)} <= got  # every planted dup found
    # only same-content pairs reach sim ~1 (histogram of c..c+63 differs
    # per c except at exact 97-shifts)
    assert all(b - a == 97 for a, b in got)


def test_large_polygon_set_switches_to_distributed(spark, images, monkeypatch):
    """VERDICT r3 guard: above MAX_LOCAL_POLYGONS nothing geometry-sized
    may pass through the driver — cover_local must refuse, and both
    pip_join and the flagship plan must auto-switch to the distributed
    cover + per-row-WKB refine WITH IDENTICAL RESULTS."""
    from ds_raster_pipelines_spark.operators import pip

    adm = corpus.admin_df(spark, offset=0.07)  # fractional bounds
    pts = corpus.centroid_cols_for_images(
        spark.range(0, 3000).select(F.col("id").alias("i"))
    )

    # baseline: broadcast path (threshold untouched)
    base_join = (
        pip.pip_join(pts, adm, res=6, refine="wkb")
        .select("i", "adm_id").orderBy("i", "adm_id").toPandas()
    )
    base_flag = _sorted(flagship(images, adm, refine="wkb").toPandas())

    # guard raises on its own
    with pytest.raises(pip.PolygonSetTooLarge):
        pip.cover_local(spark, adm, 6, max_polygons=5)

    # auto-switch: same results through the distributed plan
    monkeypatch.setattr(pip, "MAX_LOCAL_POLYGONS", 5)
    dist_join = (
        pip.pip_join(pts, adm, res=6, refine="wkb")
        .select("i", "adm_id").orderBy("i", "adm_id").toPandas()
    )
    assert base_join.equals(dist_join)
    dist_flag = _sorted(flagship(images, adm, refine="wkb").toPandas())
    assert base_flag.equals(dist_flag)


def test_pip_distributed_parity_non_rect(spark, monkeypatch):
    """Distributed PIP == broadcast PIP on GENERIC (non-rectangular)
    geometries too — triangles force the even-odd ray cast on both paths
    (the bbox fast path cannot apply)."""
    import struct

    import pandas as pd

    from ds_raster_pipelines_spark.operators import pip

    def wkb_poly(pts):
        out = struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(pts) + 1)
        for x, y in list(pts) + [pts[0]]:
            out += struct.pack("<dd", x, y)
        return out

    tris = []
    for g in range(12):
        x0, y0 = -30.0 + 7 * g, -20.0 + 3 * g
        tris.append(
            ("T%02d" % g, wkb_poly([(x0, y0), (x0 + 6.5, y0 + 1.2), (x0 + 2.3, y0 + 6.8)]))
        )
    adm = spark.createDataFrame(
        pd.DataFrame({"adm_id": [t[0] for t in tris], "geom_wkb": [t[1] for t in tris]})
    )
    pts = corpus.centroid_cols_for_images(
        spark.range(0, 4000).select(F.col("id").alias("i"))
    )
    base = (
        pip.pip_join(pts, adm, res=6, refine="wkb")
        .select("i", "adm_id").orderBy("i", "adm_id").toPandas()
    )
    assert len(base) > 0  # triangles actually catch tiles
    monkeypatch.setattr(pip, "MAX_LOCAL_POLYGONS", 3)
    dist = (
        pip.pip_join(pts, adm, res=6, refine="wkb")
        .select("i", "adm_id").orderBy("i", "adm_id").toPandas()
    )
    assert base.equals(dist)


def test_pip_boundary_semantics_consistent_on_edges(spark, monkeypatch):
    """VERDICT r4 item 9: points exactly ON polygon edges must classify
    IDENTICALLY under every refine mode (bbox fast path, indexed ray
    cast, distributed per-row-WKB) under the half-open rule: left/bottom
    edges in, right/top edges out."""
    import pandas as pd

    from ds_raster_pipelines_spark.operators import pip

    rect = corpus.wkb_polygon_rect(10.0, 20.0, 14.0, 26.0)
    adm = spark.createDataFrame(
        pd.DataFrame(
            {
                "adm_id": ["R"], "adm_level": [1],
                "min_lon": [10.0], "min_lat": [20.0],
                "max_lon": [14.0], "max_lat": [26.0],
                "geom_wkb": [rect], "area_deg2": [24.0],
            }
        )
    )
    # interior, exterior, all four edges, and all four corners
    probes = pd.DataFrame(
        {
            "i": range(10),
            "lon_c": [12.0, 9.0, 10.0, 14.0, 12.0, 12.0, 10.0, 14.0, 10.0, 14.0],
            "lat_c": [23.0, 23.0, 23.0, 23.0, 20.0, 26.0, 20.0, 20.0, 26.0, 26.0],
        }
    )
    pts = spark.createDataFrame(probes)
    # half-open: [min_lon, max_lon) x [min_lat, max_lat)
    want = {0, 2, 4, 6}

    results = {}
    for mode in ("bbox", "wkb"):
        got = pip.pip_join(pts, adm, res=4, refine=mode).select("i").toPandas()["i"]
        results[mode] = set(got.tolist())
    monkeypatch.setattr(pip, "MAX_LOCAL_POLYGONS", 0)
    got = pip.pip_join(pts, adm, res=4, refine="wkb").select("i").toPandas()["i"]
    results["distributed"] = set(got.tolist())
    assert results["bbox"] == results["wkb"] == results["distributed"] == want, results
