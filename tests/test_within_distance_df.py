"""within_distance_join_df: exactness vs brute force, orchestration
parity with the self-join, and adversarial geometry."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rust_s2_spark.functions import chord2_expr, s2_cell_from_latlng, xyz_cols
from rust_s2_spark.operators.covering_join import (
    within_distance_join_df,
    within_distance_pairs,
)
from rust_s2_spark.sources import images_from_orders


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    return images_from_orders(spark, sf_dir, with_bytes=False)


def _brute_pairs(images, probes, radius_deg):
    rad = math.radians(radius_deg)
    s = 2.0 * math.sin(0.5 * min(rad, math.pi))
    t = s * s
    q = probes.select(
        "query_id", F.col("qlat").alias("blat"), F.col("qlng").alias("blng")
    )
    px, py, pz = xyz_cols("lat", "lng")
    qx, qy, qz = xyz_cols("blat", "blng")
    return (
        images.crossJoin(q)
        .where(chord2_expr(px, py, pz, qx, qy, qz) <= F.lit(t))
        .select("query_id", "image_id")
        .toPandas()
        .astype({"query_id": "int64"})
        .sort_values(["query_id", "image_id"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("radius", [0.5, 5.0, 40.0])
def test_matches_brute_force(spark, images, radius):
    iid = F.col("image_id").cast("long")
    probes = images.where(iid % 37 == 0).select(
        iid.alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lng").alias("qlng"),
    )
    got = (
        within_distance_join_df(images, probes, radius)
        .select("query_id", "image_id")
        .toPandas()
        .astype({"query_id": "int64"})
        .sort_values(["query_id", "image_id"])
        .reset_index(drop=True)
    )
    want = _brute_pairs(images, probes, radius)
    assert got.equals(want), f"radius={radius}: {len(got)} vs {len(want)}"


def test_self_configuration_equals_self_join(spark, images):
    """probes == facts → the pair set (a<b) must equal
    within_distance_pairs, pinning the two orchestrations together
    (the covering argument for the correctness-artifact twin)."""
    radius = 1.0
    iid = F.col("image_id").cast("long")
    probes = images.select(
        iid.alias("query_id"), F.col("lat").alias("qlat"), F.col("lng").alias("qlng")
    )
    # canonicalize as numeric (lo, hi): the self-join's a<b uses the
    # raw id column (string order — "12" < "2"), the probe filter here
    # is numeric, so compare the unordered pair SETS
    fid = F.col("image_id").cast("long")
    df_pairs = set(
        map(
            tuple,
            within_distance_join_df(images, probes, radius)
            .where(F.col("query_id") != fid)
            .select(
                F.least(F.col("query_id"), fid).alias("a"),
                F.greatest(F.col("query_id"), fid).alias("b"),
            )
            .distinct()
            .collect(),
        )
    )
    self_pairs = set(
        map(
            tuple,
            within_distance_pairs(images, radius)
            .select(
                F.least(F.col("a").cast("long"), F.col("b").cast("long")),
                F.greatest(F.col("a").cast("long"), F.col("b").cast("long")),
            )
            .collect(),
        )
    )
    assert df_pairs == self_pairs


def _run_form(form, facts, probes, radius):
    """One within-distance form as sorted (query_id, image_id) rows."""
    from rust_s2_spark.operators.covering_join import within_distance_join_df_var

    if form == "df":
        out = within_distance_join_df(facts, probes, radius)
    elif form == "var":
        out = within_distance_join_df_var(
            facts, probes.withColumn("chord2_max", F.lit(_c2_of(radius)))
        )
    else:
        # self-join over facts ∪ probes; probe ids (≥ 100) exceed fact
        # ids, so a cross pair (a < b) reads (fact, probe)
        as_facts = probes.select(
            F.col("query_id").alias("image_id"),
            F.col("qlat").alias("lat"),
            F.col("qlng").alias("lng"),
        ).withColumn("cell_id", s2_cell_from_latlng("lat", "lng"))
        out = (
            within_distance_pairs(facts.unionByName(as_facts), radius)
            .where((F.col("a") < 100) & (F.col("b") >= 100))
            .select(F.col("b").alias("query_id"), F.col("a").alias("image_id"))
        )
    return (
        out.select("query_id", "image_id")
        .toPandas()
        .astype("int64")
        .sort_values(["query_id", "image_id"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("form", ["df", "var", "pairs"])
def test_adversarial_geometry(spark, form):
    """Pole, antimeridian and face 4-5 (sign bit set) probes against a
    tiny synthetic table, through every within-distance form; rows with
    NULL or NaN coordinates match nothing and raise nothing."""
    nan = float("nan")
    facts = spark.createDataFrame(
        [
            (1, 89.5, 10.0),
            (2, 89.5, -170.0),
            (3, 0.0, 179.9),
            (4, 0.0, -179.9),
            (5, -45.0, 45.0),
            (6, 0.0, -90.0),      # face 4
            (7, 0.5, -89.5),      # face 4
            (8, -89.0, 30.0),     # face 5
            (9, -89.5, -150.0),   # face 5
            (10, None, 10.0),
            (11, 5.0, None),
            (12, nan, 0.0),
            (13, 0.0, nan),
        ],
        "image_id long, lat double, lng double",
    ).withColumn("cell_id", s2_cell_from_latlng("lat", "lng"))
    probes = spark.createDataFrame(
        [
            (100, 90.0, 0.0),
            (101, 0.0, 180.0),
            (102, 0.0, -90.5),    # face 4
            (103, -90.0, 0.0),    # face 5, south pole
            (104, None, 0.0),
            (105, 0.0, None),
            (106, nan, nan),
        ],
        "query_id long, qlat double, qlng double",
    )
    got = _run_form(form, facts, probes, 2.0)
    want = _brute_pairs(facts, probes, 2.0)
    assert got.equals(want), (got, want)
    # pole probe must see both near-pole points (crossing faces),
    # antimeridian probe both sides of the date line
    assert set(got[got.query_id == 100].image_id) == {1, 2}
    assert set(got[got.query_id == 101].image_id) == {3, 4}
    assert set(got[got.query_id == 102].image_id) == {6, 7}
    assert set(got[got.query_id == 103].image_id) == {8, 9}
    assert not set(got.query_id) & {104, 105, 106}
    assert not set(got.image_id) & {10, 11, 12, 13}


def test_variable_radius_matches_brute_force(spark, images):
    """Per-probe radii spanning four levels (0.2° to 30°) — every probe
    must get exactly the brute-force pair set for ITS OWN threshold."""
    import math as _math

    from rust_s2_spark.operators.covering_join import within_distance_join_df_var

    iid = F.col("image_id").cast("long")

    def c2_of(deg):
        s = 2.0 * _math.sin(0.5 * min(_math.radians(deg), _math.pi))
        return s * s

    # radius class from the id — deterministic, mixes levels in one call
    radii = [0.2, 1.5, 8.0, 30.0]
    cls = (iid % 4).cast("int")
    c2col = F.element_at(
        F.array(*[F.lit(c2_of(r)) for r in radii]), cls + 1
    )
    probes = images.where(iid % 53 == 0).select(
        iid.alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lng").alias("qlng"),
        c2col.alias("chord2_max"),
    )
    got = (
        within_distance_join_df_var(images, probes)
        .select("query_id", "image_id")
        .toPandas()
        .astype({"query_id": "int64"})
        .sort_values(["query_id", "image_id"])
        .reset_index(drop=True)
    )
    q = probes.select(
        "query_id", F.col("qlat").alias("blat"), F.col("qlng").alias("blng"),
        "chord2_max",
    )
    px, py, pz = xyz_cols("lat", "lng")
    qx, qy, qz = xyz_cols("blat", "blng")
    want = (
        images.crossJoin(q)
        .where(chord2_expr(px, py, pz, qx, qy, qz) <= F.col("chord2_max"))
        .select("query_id", "image_id")
        .toPandas()
        .astype({"query_id": "int64"})
        .sort_values(["query_id", "image_id"])
        .reset_index(drop=True)
    )
    assert got.equals(want), f"{len(got)} vs {len(want)}"
    # sanity: the classes really map to different ring levels
    assert len(set(r % 4 for r in want.query_id)) > 1


def _c2_of(deg):
    s = 2.0 * math.sin(0.5 * min(math.radians(deg), math.pi))
    return s * s


def test_variable_radius_single_fact_scan(spark, images, tmp_path):
    """The variable-radius join must scan the FACT side exactly once no
    matter how many radius classes the probes span (ancestor-expansion
    shape — the per-level-branch form rescanned it once per class)."""
    from rust_s2_spark.operators.covering_join import within_distance_join_df_var

    path = str(tmp_path / "facts.parquet")
    images.select("image_id", "lat", "lng", "cell_id").write.parquet(path)
    facts = spark.read.parquet(path)
    radii = [0.2, 1.5, 8.0, 30.0]
    probes = spark.createDataFrame(
        [(i, 10.0 * i - 20.0, 15.0 * i, _c2_of(radii[i % 4])) for i in range(8)],
        "query_id long, qlat double, qlng double, chord2_max double",
    )
    out = within_distance_join_df_var(facts, probes)
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    assert n_scans == 1, f"expected ONE fact scan, plan has {n_scans}:\n{plan}"


def test_variable_radius_null_threshold_dropped(spark, images):
    """A NULL chord² threshold can never satisfy the arithmetic gate —
    such probes are dropped up front instead of crashing the level
    collect (round-7 advice)."""
    from rust_s2_spark.operators.covering_join import within_distance_join_df_var

    probes = spark.createDataFrame(
        [
            (1, 0.0, 0.0, _c2_of(5.0)),
            (2, 45.0, 45.0, None),
            (3, -30.0, 100.0, _c2_of(1.0)),
        ],
        "query_id long, qlat double, qlng double, chord2_max double",
    )
    out = within_distance_join_df_var(images, probes)
    got_ids = {r["query_id"] for r in out.select("query_id").distinct().collect()}
    assert 2 not in got_ids
    # the non-null probes still get their exact brute-force sets
    q = probes.where(F.col("chord2_max").isNotNull()).select(
        "query_id", F.col("qlat").alias("blat"), F.col("qlng").alias("blng"),
        "chord2_max",
    )
    px, py, pz = xyz_cols("lat", "lng")
    qx, qy, qz = xyz_cols("blat", "blng")
    want = (
        images.crossJoin(q)
        .where(chord2_expr(px, py, pz, qx, qy, qz) <= F.col("chord2_max"))
        .groupBy("query_id").count()
        .collect()
    )
    got = dict(
        (r["query_id"], r["count"])
        for r in out.groupBy("query_id").count().collect()
    )
    for r in want:
        assert got.get(r["query_id"], 0) == r["count"]

    all_null = probes.where(F.lit(False) | F.col("chord2_max").isNull())
    assert within_distance_join_df_var(images, all_null).count() == 0


def test_variable_radius_ladder_picks_min_width_level(spark):
    """The SQL comparison ladder (size(filter(ladder, t >= c2)) - 1)
    must agree with the python metric computation at every level
    boundary: for a threshold exactly AT a level's min-width chord²
    the level itself is chosen; one ulp above drops one level coarser.
    Sweeps all 31 boundaries — the trig-free gate has no libm to
    diverge, so equality is exact. Drives the OPERATOR'S OWN expression
    (covering_join.radius_level_expr, the one
    within_distance_join_df_var uses) so the test cannot pass against
    a drifted copy."""
    import numpy as np

    from rust_s2_spark.kernels import metric as metrics
    from rust_s2_spark.operators.covering_join import radius_level_expr

    ladder = []
    for lvl in range(31):
        w = metrics.MIN_WIDTH.value(lvl)
        s = 2.0 * math.sin(0.5 * min(w, math.pi))
        ladder.append(s * s)
    cases = []  # (c2, expected_level)
    for lvl in range(31):
        c2 = ladder[lvl]
        cases.append((c2, lvl))  # exactly at the bound → that level
        up = float(np.nextafter(c2, np.inf))
        if lvl > 0:
            # one ulp wider than level lvl's guarantee → must coarsen
            exp = lvl - 1 if up > ladder[lvl] else lvl
            cases.append((up, exp))
    df = spark.createDataFrame(
        [(float(c2), int(e)) for c2, e in cases], "c2 double, expected int"
    )
    got = df.withColumn("got", radius_level_expr("c2"))
    bad = got.where(F.col("got") != F.col("expected")).collect()
    assert bad == [], bad


def test_variable_radius_levels_injection(spark, images, monkeypatch):
    """``levels=`` (the stats-injection pattern for variable radius):
    (a) bit-identical to the self-computed path, (b) ZERO driver
    collects while building the plan, (c) exact even when the provided
    set is a coarse SUBSET of the true histogram (coarsest-safe clamp),
    (d) out-of-range levels refuse."""
    from rust_s2_spark.operators.covering_join import (
        radius_level_expr,
        within_distance_join_df_var,
    )

    iid = F.col("image_id").cast("long")
    radii = [0.2, 1.5, 8.0, 30.0]
    c2col = F.element_at(
        F.array(*[F.lit(_c2_of(r)) for r in radii]), (iid % 4).cast("int") + 1
    )
    probes = images.where(iid % 53 == 0).select(
        iid.alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lng").alias("qlng"),
        c2col.alias("chord2_max"),
    )

    def _sorted(df):
        return (
            df.select("query_id", "image_id", "dist_chord2")
            .toPandas()
            .astype({"query_id": "int64"})
            .sort_values(["query_id", "image_id"])
            .reset_index(drop=True)
        )

    base = _sorted(within_distance_join_df_var(images, probes))

    # the true histogram, computed once by the caller (what a repeated
    # workload would cache)
    hist = sorted(
        int(r["l"])
        for r in probes.select(radius_level_expr("chord2_max").alias("l"))
        .distinct()
        .collect()
    )
    assert len(hist) == 4  # the four radius classes really span levels

    cls = type(images)
    orig = cls.collect
    n_collects = []

    def spy(self):
        n_collects.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "collect", spy)
    injected_plan = within_distance_join_df_var(images, probes, levels=hist)
    assert not n_collects, "levels= must build the plan with zero collects"
    monkeypatch.undo()
    assert _sorted(injected_plan).equals(base)

    # coarse subset: drop the finest two levels — probes clamp coarser,
    # result identical (only the ring width moves)
    subset = hist[:2]
    got = _sorted(within_distance_join_df_var(images, probes, levels=subset))
    assert got.equals(base)

    # superset with unused levels: still identical
    sup = sorted(set(hist) | {3, 12})
    got2 = _sorted(within_distance_join_df_var(images, probes, levels=sup))
    assert got2.equals(base)

    with pytest.raises(ValueError, match="0, 30"):
        within_distance_join_df_var(images, probes, levels=[7, 31])
