"""DataFrame-native kNN join (knn_join_df): agreement with the
driver-list knn_join, exactness against brute force in both regimes
(driver-literal for small probe sets, relational above
``_TAIL_COLLECT_MAX``), the NULL/NaN probe contract, and the plan pin
that the relational probe side is never materialized on the driver."""

from __future__ import annotations

import inspect

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


class _Regime:
    """Runs a test in one knn_join_df regime. ``probes(n)`` declares the
    probe count: the relational case lowers ``_TAIL_COLLECT_MAX`` below
    it (to 16 when there are more probes), so the relational rounds run
    at test scale and hand over to the literal tail once the unresolved
    probes fit the lowered cap. A spy on
    ``_tail_literal_rounds`` records the round each call starts at;
    ``check()`` asserts the regime the calls took."""

    def __init__(self, name, monkeypatch):
        from rust_s2_spark.operators import knn

        self.name, self._mp, self._knn = name, monkeypatch, knn
        self.starts: list[int] = []
        self.n = None
        real = knn._tail_literal_rounds

        def spy(*args, **kwargs):
            bound = inspect.signature(real).bind(*args, **kwargs)
            self.starts.append(bound.arguments["attempt0"])
            return real(*args, **kwargs)

        monkeypatch.setattr(knn, "_tail_literal_rounds", spy)

    def probes(self, n: int) -> None:
        self.n = n
        if self.name == "relational":
            self._mp.setattr(self._knn, "_TAIL_COLLECT_MAX", min(16, n - 1))

    def check(self) -> None:
        assert self.n is not None, "test did not declare its probe count"
        if self.name == "literal":
            # one literal call from round 0 per knn_join_df call
            assert set(self.starts) <= {0} and (self.starts or self.n == 0)
        else:
            assert 0 not in self.starts  # only tail handoffs, after round 0


@pytest.fixture(params=["literal", "relational"])
def regime(request, monkeypatch):
    r = _Regime(request.param, monkeypatch)
    yield r
    r.check()


def test_matches_driver_list_knn(spark, images, regime):
    """Same probes through both orchestrations → identical rows."""
    qs = [(0, 40.7128, -74.0060), (1, -33.8688, 151.2093), (2, 0.01, 0.02)]
    regime.probes(len(qs))
    a = knn_join(spark, images, qs, 5, radius_guess_deg=2.0).toPandas()
    qdf = spark.createDataFrame(qs, "query_id long, qlat double, qlng double")
    b = knn_join_df(images, qdf, 5, radius_guess_deg=2.0).toPandas()
    cols = ["query_id", "rank", "image_id", "dist_chord2"]
    a = a[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_exact_vs_brute_force_self_probes(images, probes, regime):
    """Every image probes for its own 3 nearest (itself at rank 1):
    widening must reproduce the brute-force cross-join answer exactly,
    including far-from-anything probes that widen several rounds."""
    regime.probes(probes.count())
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


def test_empty_probe_set(spark, images, probes, regime):
    """Empty probe DataFrame → empty result with the full schema (the
    knn_join contract; regression: used to raise AttributeError)."""
    regime.probes(0)
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


_ADV_FACTS = [
    (1, 89.99, 10.0),     # near north pole
    (2, 89.99, -170.0),   # near pole, other side (close via pole)
    (3, -89.99, 0.0),     # near south pole
    (4, 0.0, 179.999),    # antimeridian east
    (5, 0.0, -179.999),   # antimeridian west (nearly same point)
    (6, 0.0, 179.999),    # exact duplicate of 4 (tie-break on id)
    (7, 45.0, 45.0),      # isolated
]
_ADV_PROBES = [
    (100, 90.0, 0.0),      # exact pole: nearest are 1 and 2 via pole
    (101, 0.0, 180.0),     # exact antimeridian: 4, 5, 6 all ~equal; id order
    (102, -45.0, -135.0),  # far from everything — widens to level 0
]


def _adv_facts(spark):
    return spark.createDataFrame(
        _ADV_FACTS, "image_id long, lat double, lng double"
    ).withColumn("cell_id", s2_cell_from_latlng("lat", "lng"))


def test_adversarial_geometry_and_k_overflow(spark, regime):
    """Poles, antimeridian, co-located duplicate points (tie-break by
    id), an isolated far probe, and k > n — every case must match brute
    force, and k > n returns all n rows rather than failing."""
    facts = _adv_facts(spark)
    probes = spark.createDataFrame(
        _ADV_PROBES, "query_id long, qlat double, qlng double"
    )
    regime.probes(len(_ADV_PROBES))
    for kk in (3, 10):  # 10 > n=7: expect all 7 rows per probe
        got = (
            knn_join_df(facts, probes, kk, radius_guess_deg=2.0)
            .select("query_id", "rank", "image_id")
            .toPandas()
            .astype("int64")
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        want = _brute(spark, facts, _ADV_PROBES, kk)
        assert got.equals(want), f"k={kk}\n{got}\n{want}"
        per = got.groupby("query_id").size()
        assert (per == min(kk, len(_ADV_FACTS))).all()


def test_null_and_nan_probes_return_no_rows(spark, images, regime):
    """A probe with a NULL or NaN coordinate has no nearest neighbours:
    it returns no rows (the within-distance contract), and the valid
    probe beside it still matches brute force."""
    rows = [(1, 10.0, 10.0), (2, float("nan"), 0.0), (3, None, 5.0)]
    probes = spark.createDataFrame(rows, "query_id long, qlat double, qlng double")
    regime.probes(len(rows))
    got = (
        knn_join_df(images, probes, 3)
        .select("query_id", "rank", "image_id")
        .toPandas()
        .astype("int64")
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert got.equals(_brute(spark, images, rows[:1], 3)), got


class _TailBoom(RuntimeError):
    pass


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_failed_call_releases_persisted_frames(spark, images, probes, monkeypatch):
    """A relational-regime knn_join_df call that raises mid-widening
    (here: in the driver-literal tail, after round 1 has materialized
    its persisted probe and rank frames) must leave no persisted RDD
    behind."""
    from rust_s2_spark.operators import knn

    def boom(*args, **kwargs):
        raise _TailBoom()

    monkeypatch.setattr(knn, "_tail_literal_rounds", boom)
    # below the probe count: the relational regime runs, and every
    # unresolved tail of round 1 fits the handoff
    monkeypatch.setattr(knn, "_TAIL_COLLECT_MAX", probes.count() - 1)
    before = _persistent_rdd_ids(spark)
    with pytest.raises(_TailBoom):  # the tail is reached: round 1 ran
        knn_join_df(images, probes, 3, radius_guess_deg=2.0).count()
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"persisted RDDs left after the failed call: {leaked}"


def test_failed_literal_call_releases_persisted_frames(spark, monkeypatch):
    """A literal-regime knn_join_df call that raises in its second round
    (after the first round has persisted its ranks) must leave no
    persisted RDD behind. The far probe of the adversarial set cannot
    resolve in round 0."""
    from rust_s2_spark.operators import knn

    facts = _adv_facts(spark)
    probes = spark.createDataFrame(
        _ADV_PROBES, "query_id long, qlat double, qlng double"
    )
    real = knn._attempt_var
    mid_call: list[set[int]] = []

    def boom_in_round_1(*args, **kwargs):
        if mid_call:
            mid_call.append(_persistent_rdd_ids(spark) - before)
            raise _TailBoom()
        mid_call.append(set())
        return real(*args, **kwargs)

    monkeypatch.setattr(knn, "_attempt_var", boom_in_round_1)
    before = _persistent_rdd_ids(spark)
    with pytest.raises(_TailBoom):
        knn_join_df(facts, probes, 3).count()
    assert mid_call[-1], "round 0 persisted nothing before round 1 ran"
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"persisted RDDs left after the failed call: {leaked}"


def test_histogram_memo_reused_off_the_frame(images, probes, monkeypatch):
    """The level-7 histogram is memoized per source frame in a
    module-level weak map in both regimes: a repeat call reuses it, no
    attribute is stored on the DataFrame, and the entry goes away with
    the frame. The probe-prep UDF is memoized the same way in the
    relational regime (20 probes over a cap lowered to 16) and never
    built in the literal one."""
    import gc

    from rust_s2_spark.operators import knn

    def no_rebuild(*args, **kwargs):
        raise AssertionError("repeat call rebuilt the probe-prep UDF")

    probe_head = probes.limit(20)
    for regime in ("literal", "relational"):
        if regime == "relational":
            monkeypatch.setattr(knn, "_TAIL_COLLECT_MAX", 16)
        facts = images.select("*")  # a frame object no other test holds
        first = knn_join_df(facts, probe_head, 3).collect()
        hist = knn._L7_HIST[facts]
        if regime == "relational":
            prep = knn._PREP_UDFS[facts][8 * 3]
        else:
            assert facts not in knn._PREP_UDFS

        with monkeypatch.context() as m:
            m.setattr(knn, "_probe_prep_udf", no_rebuild)
            again = knn_join_df(facts, probe_head, 3).collect()
        assert sorted(again) == sorted(first)
        assert knn._L7_HIST[facts] is hist
        if regime == "relational":
            assert knn._PREP_UDFS[facts][8 * 3] is prep
        assert not [a for a in vars(facts) if a.startswith("_s2_")]

        n_memo = len(knn._L7_HIST)
        del facts
        gc.collect()
        assert len(knn._L7_HIST) == n_memo - 1


def test_small_probe_set_runs_literal_regime(spark, images, probes, monkeypatch):
    """≤ 100 probes take the driver-literal regime: no probe-prep UDF
    is built (patched to raise), the result equals brute force, and
    the call runs at most 12 Spark jobs once the histogram is memoized.
    Measured on these fixtures at local[4] and local[8]: 12 jobs; the
    relational round 0 + tail this regime replaces ran 23."""
    from rust_s2_spark.operators import knn

    def no_prep(*args, **kwargs):
        raise AssertionError("a small probe set built the probe-prep UDF")

    monkeypatch.setattr(knn, "_probe_prep_udf", no_prep)
    facts = images.select("*")  # a frame with no probe-prep UDF memo
    # one partition: the head collect is one job whatever the core count
    small = probes.where(F.col("query_id") % 17 == 3).coalesce(1)
    rows = [tuple(r) for r in small.collect()]
    assert 0 < len(rows) <= 100
    knn_join_df(facts, small, 3).count()  # fills the histogram memo

    sc = spark.sparkContext
    group = "knn-literal-regime-pin"
    sc.setJobGroup(group, "knn_join_df on a small probe set")
    try:
        got = knn_join_df(facts, small, 3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    got = (
        got.select("query_id", "rank", "image_id")
        .toPandas()
        .astype("int64")
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert got.equals(_brute(spark, facts, rows, 3))
    assert n_jobs <= 12, f"{n_jobs} Spark jobs for one small-probe call"
