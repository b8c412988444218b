"""Spark-side integration tests: pandas-UDF kernels vs plain-numpy
kernels, native bit expressions, covering join vs brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_s2_spark.functions import (
    s2_biased,
    s2_cell_center_latlng,
    s2_cell_from_latlng,
    s2_cell_to_token,
    s2_cell_from_token,
    s2_face,
    s2_is_leaf,
    s2_level,
    s2_parent,
    s2_range_max,
    s2_range_min,
)
from rust_s2_spark.geometry import Cap, RegionCoverer
from rust_s2_spark.geometry import point as pt
from rust_s2_spark.kernels import cellid as k
from rust_s2_spark.operators.covering_join import region_filter, region_join
from rust_s2_spark.sources import images_from_orders


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    df = images_from_orders(spark, sf_dir, with_bytes=True).cache()
    df.count()
    return df


def test_udf_matches_numpy_kernels(images):
    rows = images.select("lat", "lng", "cell_id").limit(2000).collect()
    lat = np.array([r.lat for r in rows])
    lng = np.array([r.lng for r in rows])
    got = np.array([r.cell_id for r in rows], dtype=np.int64).view(np.uint64)
    want = k.cell_from_latlng(lat, lng)
    assert np.array_equal(got, want)


def test_native_bit_exprs_match_kernels(images, spark):
    df = images.select(
        "cell_id",
        s2_level("cell_id").alias("lvl"),
        s2_parent("cell_id", 5).alias("p5"),
        s2_range_min(s2_parent("cell_id", 12)).alias("rmin12"),
        s2_range_max(s2_parent("cell_id", 12)).alias("rmax12"),
        s2_face("cell_id").alias("face"),
        s2_is_leaf("cell_id").alias("leaf"),
        s2_biased("cell_id").alias("biased"),
    ).limit(2000)
    rows = df.collect()
    ids = np.array([r.cell_id for r in rows], dtype=np.int64).view(np.uint64)
    assert all(r.lvl == 30 for r in rows)
    assert np.array_equal(
        np.array([r.p5 for r in rows], dtype=np.int64).view(np.uint64),
        k.parent(ids, 5),
    )
    p12 = k.parent(ids, 12)
    assert np.array_equal(
        np.array([r.rmin12 for r in rows], dtype=np.int64).view(np.uint64),
        k.range_min(p12),
    )
    assert np.array_equal(
        np.array([r.rmax12 for r in rows], dtype=np.int64).view(np.uint64),
        k.range_max(p12),
    )
    assert np.array_equal(
        np.array([r.face for r in rows], dtype=np.uint64), k.face(ids)
    )
    assert all(r.leaf for r in rows)
    assert np.array_equal(
        np.array([r.biased for r in rows], dtype=np.int64), k.bias_u64(ids)
    )


def test_token_roundtrip_spark(images):
    df = images.limit(500).select(
        "cell_id", s2_cell_to_token("cell_id").alias("tok")
    )
    df = df.withColumn("back", s2_cell_from_token("tok"))
    assert df.where(F.col("back") != F.col("cell_id")).count() == 0


def test_cell_center_roundtrip_spark(images):
    df = images.limit(500).select(
        "cell_id", s2_cell_center_latlng("cell_id").alias("c")
    )
    df = df.withColumn("back", s2_cell_from_latlng(F.col("c.lat"), F.col("c.lng")))
    assert df.where(F.col("back") != F.col("cell_id")).count() == 0


def test_cell_from_latlng_null_for_null_or_nan_coordinates(spark):
    """A row whose lat or lng is NULL or NaN gets a NULL cell id (the
    kernel alone maps it to leaf id 1), and s2_biased / s2_parent carry
    the NULL, so the row can never be a ring or ancestor candidate. The
    UDF masks such rows before the kernel runs, so it warns nothing."""
    import warnings

    import pandas as pd

    from rust_s2_spark.functions.columns import _cell_from_latlng_udf

    nan = float("nan")
    rows = [(1, nan, 0.0), (2, 0.0, nan), (3, nan, nan), (4, None, 5.0), (5, 10.0, 20.0)]
    got = {
        r["id"]: (r["c"], r["b"], r["p"])
        for r in spark.createDataFrame(rows, "id long, lat double, lng double")
        .select("id", s2_cell_from_latlng("lat", "lng").alias("c"))
        .select("id", "c", s2_biased("c").alias("b"), s2_parent("c", 7).alias("p"))
        .collect()
    }
    for i in (1, 2, 3, 4):
        assert got[i] == (None, None, None), (i, got[i])
    leaf = int(k.cell_from_latlng(np.array([10.0]), np.array([20.0])).view(np.int64)[0])
    assert got[5][0] == leaf

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ids = _cell_from_latlng_udf.func(
            pd.Series([nan, 0.0, nan, None, 10.0]), pd.Series([0.0, nan, nan, 5.0, 20.0])
        )
    assert ids.isna().tolist() == [True, True, True, True, False]
    assert int(ids.iloc[4]) == leaf


def test_region_filter_matches_brute_force(images):
    cap = Cap.from_latlng_degrees(40.7128, -74.0060, 3.0)  # NYC hotspot
    got = region_filter(images, cap).select("image_id")
    # brute force: exact chord² filter only
    from rust_s2_spark.operators.covering_join import cap_exact_predicate

    want = images.where(cap_exact_predicate(cap, "lat", "lng")).select("image_id")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0  # hotspot guarantees matches


def test_region_join_matches_brute_force(images, spark):
    caps = [
        Cap.from_latlng_degrees(40.7128, -74.0060, 2.0),
        Cap.from_latlng_degrees(51.5074, -0.1278, 1.5),
        Cap.from_latlng_degrees(35.6762, 139.6503, 1.0),
    ]
    got = region_join(spark, images, caps, [0, 1, 2]).groupBy("region_id").count()
    got_map = {r.region_id: r["count"] for r in got.collect()}
    from rust_s2_spark.operators.covering_join import cap_exact_predicate

    for rid, cap in enumerate(caps):
        want = images.where(cap_exact_predicate(cap, "lat", "lng")).count()
        assert got_map.get(rid, 0) == want
        assert want > 0


def test_bytes_fidelity_roundtrip(images):
    # fmt='raw': decode is identity; PSNR is infinite (exact) — check
    # bytes survive the geo pipeline untouched
    cap = Cap.from_latlng_degrees(40.7128, -74.0060, 3.0)
    out = region_filter(images, cap).select("image_id", "bytes", "caption")
    row = out.first()
    assert row.bytes is not None and len(row.bytes) == 192
    src = images.where(F.col("image_id") == row.image_id).first()
    assert bytes(src.bytes) == bytes(row.bytes)
    assert src.caption == row.caption


def test_s2_latlng_distance_column(spark):
    """Native haversine column == scalar kernel bit-for-bit, and the
    reference's own distance goldens (latlng.rs:263-267) reproduce."""
    import math

    import rust_s2_spark.geometry.point as pt
    from rust_s2_spark.functions import s2_latlng_distance

    cases = [
        ((90.0, 0.0), (90.0, 0.0), 0.0),
        ((-37.0, 25.0), (-66.0, -155.0), 77.0),
        ((0.0, 165.0), (0.0, -80.0), 115.0),
    ]
    df = spark.createDataFrame(
        [(a1, b1, a2, b2) for (a1, b1), (a2, b2), _ in cases],
        "lat1 double, lng1 double, lat2 double, lng2 double",
    )
    got = [
        r.d
        for r in df.select(
            s2_latlng_distance("lat1", "lng1", "lat2", "lng2").alias("d")
        ).collect()
    ]
    for g, ((a1, b1), (a2, b2), want_deg) in zip(got, cases):
        assert g == pt.latlng_distance_rad(a1, b1, a2, b2)  # bit-exact
        assert abs(math.degrees(g) - want_deg) <= 1e-13
