"""DataFrame-native kNN join (knn_join_df): agreement with the
driver-list knn_join, exactness against brute force, and the plan pin
that the probe side is never materialized on the driver."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from rust_s2_spark.functions import chord2_expr, s2_cell_from_latlng, xyz_cols
from rust_s2_spark.operators.covering_join import _ring_join, _ring_udf
from rust_s2_spark.operators.knn import knn_join, knn_join_df
from rust_s2_spark.sources import images_from_orders


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    return images_from_orders(spark, sf_dir, with_bytes=False)


@pytest.fixture(scope="module")
def probes(images):
    return images.select(
        F.col("image_id").cast("long").alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lng").alias("qlng"),
    )


def test_matches_driver_list_knn(spark, images):
    """Same probes through both orchestrations → identical rows."""
    qs = [(0, 40.7128, -74.0060), (1, -33.8688, 151.2093), (2, 0.01, 0.02)]
    a = knn_join(spark, images, qs, 5, radius_guess_deg=2.0).toPandas()
    qdf = spark.createDataFrame(qs, "query_id long, qlat double, qlng double")
    b = knn_join_df(images, qdf, 5, radius_guess_deg=2.0).toPandas()
    cols = ["query_id", "rank", "image_id", "dist_chord2"]
    a = a[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_exact_vs_brute_force_self_probes(images, probes):
    """Every image probes for its own 3 nearest (itself at rank 1):
    widening must reproduce the brute-force cross-join answer exactly,
    including far-from-anything probes that widen several rounds."""
    got = knn_join_df(images, probes, 3, radius_guess_deg=2.0).toPandas()

    q = probes.select(
        "query_id", F.col("qlat").alias("blat"), F.col("qlng").alias("blng")
    )
    px, py, pz = xyz_cols("lat", "lng")
    qx, qy, qz = xyz_cols("blat", "blng")
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_chord2").asc(), F.col("image_id").asc()
    )
    want = (
        images.crossJoin(q)
        .withColumn("dist_chord2", chord2_expr(px, py, pz, qx, qy, qz))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "rank", F.col("image_id").cast("long").alias("image_id"))
        .toPandas()
    )
    got = (
        got[["query_id", "rank", "image_id"]]
        .astype("int64")
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    want = (
        want.astype("int64").sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert got.equals(want)


def test_empty_probe_set(spark, images, probes):
    """Empty probe DataFrame → empty result with the full schema (the
    knn_join contract; regression: used to raise AttributeError)."""
    out = knn_join_df(images, probes.limit(0), 3)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "rank", "image_id", "dist_chord2"}


def test_probe_side_not_driver_materialized(images, probes):
    """The plan pin VERDICT r6 asked for: the ring-join core's physical
    plan (what every relational widening attempt runs) must carry the
    probe side as a real scan/exchange — no LocalTableScan (the
    driver-list shape) anywhere, probe count free of the driver."""
    cand = probes.select(
        "query_id", "qlat", "qlng",
        F.explode(_ring_udf("qlat", "qlng", 8)).alias("__tc"),
    )
    ranked = _ring_join(
        images, cand, 8, "image_id", "lat", "lng", "cell_id", "qlat", "qlng"
    )
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert "Scan" in plan  # both sides come from real sources


def _brute(spark, facts, probes_rows, kk):
    q = spark.createDataFrame(probes_rows, "query_id long, blat double, blng double")
    px, py, pz = xyz_cols("lat", "lng")
    qx, qy, qz = xyz_cols("blat", "blng")
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_chord2").asc(), F.col("image_id").asc()
    )
    return (
        facts.crossJoin(q)
        .withColumn("dist_chord2", chord2_expr(px, py, pz, qx, qy, qz))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select("query_id", "rank", "image_id")
        .toPandas()
        .astype("int64")
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def test_adversarial_geometry_and_k_overflow(spark):
    """Poles, antimeridian, co-located duplicate points (tie-break by
    id), an isolated far probe, and k > n — every case must match brute
    force, and k > n returns all n rows rather than failing."""
    facts_rows = [
        (1, 89.99, 10.0),     # near north pole
        (2, 89.99, -170.0),   # near pole, other side (close via pole)
        (3, -89.99, 0.0),     # near south pole
        (4, 0.0, 179.999),    # antimeridian east
        (5, 0.0, -179.999),   # antimeridian west (nearly same point)
        (6, 0.0, 179.999),    # exact duplicate of 4 (tie-break on id)
        (7, 45.0, 45.0),      # isolated
    ]
    facts = spark.createDataFrame(
        facts_rows, "image_id long, lat double, lng double"
    ).withColumn("cell_id", s2_cell_from_latlng("lat", "lng"))
    probes_rows = [
        (100, 90.0, 0.0),      # exact pole: nearest are 1 and 2 via pole
        (101, 0.0, 180.0),     # exact antimeridian: 4, 5, 6 all ~equal; id order
        (102, -45.0, -135.0),  # far from everything — widens to level 0
    ]
    probes = spark.createDataFrame(
        probes_rows, "query_id long, qlat double, qlng double"
    )
    for kk in (3, 10):  # 10 > n=7: expect all 7 rows per probe
        got = (
            knn_join_df(facts, probes, kk, radius_guess_deg=2.0)
            .select("query_id", "rank", "image_id")
            .toPandas()
            .astype("int64")
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        want = _brute(spark, facts, probes_rows, kk)
        assert got.equals(want), f"k={kk}\n{got}\n{want}"
        per = got.groupby("query_id").size()
        assert (per == min(kk, len(facts_rows))).all()


class _TailBoom(RuntimeError):
    pass


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_failed_call_releases_persisted_frames(spark, images, probes, monkeypatch):
    """A knn_join_df call that raises mid-widening (here: in the
    driver-literal tail, after round 1 has materialized its persisted
    probe and rank frames) must leave no persisted RDD behind."""
    from rust_s2_spark.operators import knn

    def boom(*args, **kwargs):
        raise _TailBoom()

    monkeypatch.setattr(knn, "_tail_literal_rounds", boom)
    before = _persistent_rdd_ids(spark)
    with pytest.raises(_TailBoom):  # the tail is reached: round 1 ran
        knn_join_df(images, probes, 3, radius_guess_deg=2.0).count()
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"persisted RDDs left after the failed call: {leaked}"


def test_histogram_memo_reused_off_the_frame(images, probes, monkeypatch):
    """The level-7 histogram and the probe-prep UDF are memoized per
    source frame in module-level weak maps: a repeat call reuses both,
    no attribute is stored on the DataFrame, and the entries go away
    with the frame."""
    import gc

    from rust_s2_spark.operators import knn

    facts = images.select("*")  # a frame object no other test holds
    probe_head = probes.limit(20)
    first = knn_join_df(facts, probe_head, 3).collect()
    hist = knn._L7_HIST[facts]
    prep = knn._PREP_UDFS[facts][8 * 3]

    def no_rebuild(*args, **kwargs):
        raise AssertionError("repeat call rebuilt the probe-prep UDF")

    monkeypatch.setattr(knn, "_probe_prep_udf", no_rebuild)
    again = knn_join_df(facts, probe_head, 3).collect()
    assert sorted(again) == sorted(first)
    assert knn._L7_HIST[facts] is hist
    assert knn._PREP_UDFS[facts][8 * 3] is prep
    assert not [a for a in vars(facts) if a.startswith("_s2_")]

    n_memo = len(knn._L7_HIST)
    del facts
    gc.collect()
    assert len(knn._L7_HIST) == n_memo - 1
