"""The kNN joins: knn_join_df agrees with the driver-list knn_join,
both match brute force (knn_join_df in both regimes: driver-literal for
small probe sets, relational above ``_TAIL_COLLECT_MAX``), the NULL/NaN
probe contract, knn_join's lazy histogram read, and the plan pin that
the relational probe side is never materialized on the driver."""

from __future__ import annotations

import contextlib
import inspect

import numpy as np
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
    ``check()`` asserts the regime the calls took. knn_join runs the
    same engine, so a test runs it inside ``unrecorded()``."""

    def __init__(self, name, monkeypatch):
        from rust_s2_spark.operators import knn

        self.name, self._mp, self._knn = name, monkeypatch, knn
        self.starts: list[int] = []
        self.n = None
        self.recording = True
        real = knn._tail_literal_rounds

        def spy(*args, **kwargs):
            if self.recording:
                bound = inspect.signature(real).bind(*args, **kwargs)
                self.starts.append(bound.arguments["attempt0"])
            return real(*args, **kwargs)

        monkeypatch.setattr(knn, "_tail_literal_rounds", spy)

    def probes(self, n: int) -> None:
        self.n = n
        if self.name == "relational":
            self._mp.setattr(self._knn, "_TAIL_COLLECT_MAX", min(16, n - 1))

    @contextlib.contextmanager
    def unrecorded(self):
        self.recording = False
        try:
            yield
        finally:
            self.recording = True

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
    with regime.unrecorded():
        a = knn_join(spark, images, qs, 5, radius_guess_deg=2.0).toPandas()
    qdf = spark.createDataFrame(qs, "query_id long, qlat double, qlng double")
    b = knn_join_df(images, qdf, 5).toPandas()
    cols = ["query_id", "rank", "image_id", "dist_chord2"]
    a = a[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = b[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_exact_vs_brute_force_self_probes(images, probes, regime):
    """Every image probes for its own 3 nearest (itself at rank 1):
    widening must reproduce the brute-force cross-join answer exactly,
    including far-from-anything probes that widen several rounds."""
    regime.probes(probes.count())
    got = knn_join_df(images, probes, 3).toPandas()

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


def _ranks(out):
    """(query_id, rank, image_id) of a kNN result as sorted int64 pandas."""
    return (
        out.select("query_id", "rank", "image_id")
        .toPandas()
        .astype("int64")
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


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
    force in both forms (knn_join_df and the driver-list knn_join), and
    k > n returns all n rows rather than failing."""
    facts = _adv_facts(spark)
    probes = spark.createDataFrame(
        _ADV_PROBES, "query_id long, qlat double, qlng double"
    )
    regime.probes(len(_ADV_PROBES))
    for kk in (3, 10):  # 10 > n=7: expect all 7 rows per probe
        want = _brute(spark, facts, _ADV_PROBES, kk)
        with regime.unrecorded():
            listed = knn_join(spark, facts, _ADV_PROBES, kk)
        for form, out in (("df", knn_join_df(facts, probes, kk)), ("list", listed)):
            got = _ranks(out)
            assert got.equals(want), f"{form} k={kk}\n{got}\n{want}"
            per = got.groupby("query_id").size()
            assert (per == min(kk, len(_ADV_FACTS))).all()


def test_null_and_nan_probes_return_no_rows(spark, images, regime):
    """A probe with a NULL or NaN coordinate has no nearest neighbours:
    it returns no rows (the within-distance contract), and the valid
    probe beside it still matches brute force, in knn_join_df and in
    the driver-list knn_join (None or NaN in a query tuple)."""
    rows = [(1, 10.0, 10.0), (2, float("nan"), 0.0), (3, None, 5.0)]
    probes = spark.createDataFrame(rows, "query_id long, qlat double, qlng double")
    regime.probes(len(rows))
    want = _brute(spark, images, rows[:1], 3)
    got = _ranks(knn_join_df(images, probes, 3))
    assert got.equals(want), got
    with regime.unrecorded():
        listed = _ranks(knn_join(spark, images, rows + [(4, 5.0, float("nan"))], 3))
    assert listed.equals(want), listed


def test_knn_join_reads_histogram_only_for_sparse_probes(spark, images, monkeypatch):
    """knn_join reads the level-7 histogram only to size the next ring
    of a probe that found fewer than k rows: with the histogram helper
    patched to raise, dense city probes still equal brute force, and a
    mid-ocean probe at 0.05° reads it exactly once."""
    from rust_s2_spark.operators import knn

    def no_hist(*args, **kwargs):
        raise AssertionError("a dense knn_join call read the histogram")

    dense = [
        (0, 40.7128, -74.0060),
        (1, 51.5074, -0.1278),
        (2, 35.6762, 139.6503),
        (3, -33.8688, 151.2093),
    ]
    with monkeypatch.context() as m:
        m.setattr(knn, "_level7_tables", no_hist)
        got = _ranks(knn_join(spark, images, dense, 3, radius_guess_deg=2.0))
    assert got.equals(_brute(spark, images, dense, 3))

    real, calls = knn._level7_tables, []

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(knn, "_level7_tables", counted)
    ocean = [(9, -45.0, -135.0)]
    got = _ranks(knn_join(spark, images, ocean, 3, radius_guess_deg=0.05))
    assert got.equals(_brute(spark, images, ocean, 3))
    assert len(calls) == 1, f"{len(calls)} histogram reads for one sparse probe"


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
        knn_join_df(images, probes, 3).count()
    leaked = _persistent_rdd_ids(spark) - before
    assert not leaked, f"persisted RDDs left after the failed call: {leaked}"


def test_failed_literal_call_releases_persisted_frames(spark, monkeypatch):
    """A literal-regime knn_join_df call that raises in its round-1
    collect must leave no persisted RDD behind; the literal engine
    persists nothing, so none exists even mid-call. The far probe of the
    adversarial set cannot resolve in round 0."""
    facts = _adv_facts(spark)
    probes = spark.createDataFrame(
        _ADV_PROBES, "query_id long, qlat double, qlng double"
    )
    cls = type(facts)
    real = cls.toArrow
    mid_call: list[set[int]] = []

    def boom_in_round_1(self, *args, **kwargs):
        mid_call.append(_persistent_rdd_ids(spark) - before)
        if len(mid_call) > 1:
            raise _TailBoom()
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "toArrow", boom_in_round_1)
    before = _persistent_rdd_ids(spark)
    with pytest.raises(_TailBoom):
        knn_join_df(facts, probes, 3).count()
    assert len(mid_call) == 2 and mid_call == [set(), set()], mid_call
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
    the call runs at most 8 Spark jobs once the histogram is memoized.
    Measured on these fixtures at local[4]: 8 jobs (11 while a round
    also persisted its ranks and collected its flags); the relational
    round 0 + tail this regime replaces ran 23."""
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
    assert _ranks(got).equals(_brute(spark, facts, rows, 3))
    assert n_jobs <= 8, f"{n_jobs} Spark jobs for one small-probe call"


def _spark_order_brute(spark, facts, probe_rows, kk, id_col="image_id"):
    """(query_id, rank, id) of each probe's top kk by a Spark cross join
    ranked in the engines' order: dist ascending, then id ascending."""
    q = spark.createDataFrame(probe_rows, "query_id long, blat double, blng double")
    px, py, pz = xyz_cols("lat", "lng")
    qx, qy, qz = xyz_cols("blat", "blng")
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_chord2").asc(), F.col(id_col).asc()
    )
    return sorted(
        tuple(r)
        for r in facts.crossJoin(q)
        .withColumn("dist_chord2", chord2_expr(px, py, pz, qx, qy, qz))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select("query_id", "rank", id_col)
        .collect()
    )


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_distance_ties_break_by_id(spark, regime, id_type):
    """Co-located facts tie on distance; every engine breaks the tie on
    id ascending, as the rank window does: numerically for long ids,
    byte-wise for string ids ("11" < "3" < "5" < "7")."""
    spots = {(10.0, 10.0): [7, 3, 11, 5], (10.0, 10.01): [2, 30, 4], (10.02, 9.99): [21, 13]}
    cast = str if id_type == "string" else int
    facts = spark.createDataFrame(
        [(cast(i), *spot) for spot, ids in spots.items() for i in ids],
        f"image_id {id_type}, lat double, lng double",
    ).withColumn("cell_id", s2_cell_from_latlng("lat", "lng"))
    probe_rows = [(0, 10.0, 10.0), (1, 10.0, 10.01), (2, 10.02, 9.99)]
    probes = spark.createDataFrame(
        probe_rows, "query_id long, qlat double, qlng double"
    )
    regime.probes(len(probe_rows))
    want = _spark_order_brute(spark, facts, probe_rows, 4)
    got = sorted(
        tuple(r)
        for r in knn_join_df(facts, probes, 4)
        .select("query_id", "rank", "image_id")
        .collect()
    )
    assert got == want
    # the four co-located facts of probe 0, in id order
    assert [r[2] for r in got if r[0] == 0] == [cast(i) for i in sorted(map(cast, [3, 5, 7, 11]))]
    with regime.unrecorded():
        listed = sorted(
            tuple(r)
            for r in knn_join(spark, facts, probe_rows, 4)
            .select("query_id", "rank", "image_id")
            .collect()
        )
    assert listed == want


def _numpy_rank(facts_rows, probe_rows, kk):
    """Numpy brute force in the rank window's order: chord² ascending
    with NULL first and NaN after every number, then id ascending."""
    out = []
    ids = np.array([r[0] for r in facts_rows])
    lat = np.array([np.nan if r[1] is None else r[1] for r in facts_rows])
    lng = np.array([np.nan if r[2] is None else r[2] for r in facts_rows])
    null = np.array([r[1] is None or r[2] is None for r in facts_rows])

    def xyz(la, lo):
        la, lo = np.radians(la), np.radians(lo)
        return np.cos(lo) * np.cos(la), np.sin(lo) * np.cos(la), np.sin(la)

    fx, fy, fz = xyz(lat, lng)
    for qid, qla, qlo in probe_rows:
        qx, qy, qz = xyz(qla, qlo)
        d = (fx - qx) ** 2 + (fy - qy) ** 2 + (fz - qz) ** 2
        grp = np.where(null, 0, np.where(np.isnan(d), 2, 1))
        order = np.lexsort((ids, np.where(grp == 1, d, 0.0), grp))[:kk]
        out += [(qid, r + 1, int(ids[i])) for r, i in enumerate(order)]
    return sorted(out)


def test_planted_leaf1_rows_match_numpy_brute_force(spark, regime):
    """Fact rows with NULL or NaN coordinates that carry the leaf-1 cell
    id older tables hold (the kernel's id for such a row before the UDF
    returned NULL): probes on leaf 1 see them in every ring, so NULL
    distances rank first and NaN distances after every number, equally
    in the literal regime, the relational regime, knn_join and a numpy
    brute force; k = 70 > 65 facts reaches the NaN rows."""
    from rust_s2_spark.kernels import cellid as kc

    c_lat, c_lng = (float(v[0]) for v in kc.cell_to_latlng(np.array([1], np.uint64)))
    rng = np.random.default_rng(5)
    real = [
        (i, c_lat + float(a), c_lng + float(b))
        for i, (a, b) in enumerate(rng.uniform(-0.5, 0.5, size=(60, 2)), start=10)
    ]
    nan = float("nan")
    planted = [
        (1, None, c_lng), (2, c_lat, None), (3, nan, c_lng), (4, c_lat, nan), (5, nan, nan)
    ]
    leafs = kc.cell_from_latlng(
        np.array([r[1] for r in real]), np.array([r[2] for r in real])
    ).view(np.int64)
    facts = spark.createDataFrame(
        [(*r, int(c)) for r, c in zip(real, leafs)] + [(*r, 1) for r in planted],
        "image_id long, lat double, lng double, cell_id long",
    ).withColumn("cell_id_biased", F.col("cell_id").bitwiseXOR(F.lit(-(2**63))))
    probe_rows = [
        (0, c_lat, c_lng),
        (1, c_lat + 1e-5, c_lng + 1e-5),
        (2, c_lat + 2e-5, c_lng + 5e-6),
    ]
    probes = spark.createDataFrame(
        probe_rows, "query_id long, qlat double, qlng double"
    )
    regime.probes(len(probe_rows))
    for kk in (5, 70):
        want = _numpy_rank(real + planted, probe_rows, kk)
        got = sorted(
            tuple(r)
            for r in knn_join_df(facts, probes, kk)
            .select("query_id", "rank", "image_id")
            .collect()
        )
        assert got == want, kk
        with regime.unrecorded():
            listed = sorted(
                tuple(r)
                for r in knn_join(spark, facts, probe_rows, kk)
                .select("query_id", "rank", "image_id")
                .collect()
            )
        assert listed == want, kk
    assert [r[2] for r in want if r[0] == 0][:2] == [1, 2]
    assert [r[2] for r in want if r[0] == 0][-3:] == [3, 4, 5]


def _round_plans(monkeypatch, df_cls) -> list[str]:
    """Records the physical plan of every ``toArrow`` call (a literal
    round's one action)."""
    plans: list[str] = []
    real = df_cls.toArrow

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(df_cls, "toArrow", spy)
    return plans


def test_literal_round_plan_is_one_plain_join(
    spark, images, probes, monkeypatch, tmp_path
):
    """Plan pin: under the cap a literal round's collected plan is the
    ring join over the broadcast candidate frame with nothing after it:
    no Window, no shuffle Exchange (only the BroadcastExchange of the
    candidate frame) and no InMemoryRelation. The facts are a parquet
    table, so the fact side of the plan carries no exchange of its own."""
    import re

    images.write.parquet(str(tmp_path / "facts"))
    facts = spark.read.parquet(str(tmp_path / "facts"))
    small = probes.where(F.col("query_id") % 13 == 1).coalesce(1)
    rows = [tuple(r) for r in small.collect()]
    plans = _round_plans(monkeypatch, type(facts))
    got = _ranks(knn_join_df(facts, small, 3))
    assert got.equals(_brute(spark, facts, rows, 3))
    assert plans, "no literal round ran"
    for plan in plans:
        assert "Window" not in plan, plan
        assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
        assert not re.search(r"InMemory(Relation|TableScan)", plan), plan
        assert "BroadcastHashJoin" in plan, plan


def test_pre_trim_path_returns_same_rows(spark, images, probes, monkeypatch):
    """With ``_DRIVER_RANK_MAX_ROWS`` at 0 every literal round keeps each
    probe's top k in Spark before the collect (a Window in the round
    plan); the rows are the same as the raw-pair path's."""
    from rust_s2_spark.operators import knn

    small = probes.where(F.col("query_id") % 13 == 1).coalesce(1)
    rows = [tuple(r) for r in small.collect()]
    raw = _ranks(knn_join_df(images, small, 4))
    monkeypatch.setattr(knn, "_DRIVER_RANK_MAX_ROWS", 0)
    plans = _round_plans(monkeypatch, type(images))
    trimmed = _ranks(knn_join_df(images, small, 4))
    assert plans and all("Window" in p for p in plans)
    assert trimmed.equals(raw)
    assert raw.equals(_brute(spark, images, rows, 4))


def _null_coordinate_facts(spark):
    """Forty facts in two clusters around (0, 0) and (0, 5), plus rows at
    (NaN, 0), (NULL, 5), (0, NaN) and (NaN, NaN); cell ids come from
    ``s2_cell_from_latlng``, which gives the latter four a NULL cell id.
    Returns (the valid rows, the facts frame)."""
    rng = np.random.default_rng(11)
    real = [
        (i, float(a), float(b) + 5.0 * (i % 2))
        for i, (a, b) in enumerate(rng.uniform(-0.5, 0.5, size=(40, 2)), start=10)
    ]
    nan = float("nan")
    bad = [(1, nan, 0.0), (2, None, 5.0), (3, 0.0, nan), (4, nan, nan)]
    facts = spark.createDataFrame(
        real + bad, "image_id long, lat double, lng double"
    ).withColumn("cell_id", s2_cell_from_latlng("lat", "lng"))
    return real, facts


def test_null_coordinate_facts_join_nothing(spark, regime):
    """Fact rows whose lat or lng is NULL or NaN carry a NULL cell id, so
    the level-7 histogram has a NULL group, whether it is read off the
    facts or off ``build_cell_stats``. That group is skipped, the rows
    are never ring candidates, and knn_join_df (with and without stats)
    and knn_join match a numpy brute force over the valid rows; k = 25
    is more than one cluster holds, so probes widen."""
    from rust_s2_spark.plans.stats import build_cell_stats

    real, facts = _null_coordinate_facts(spark)
    stats = build_cell_stats(facts, levels=(7,))
    probe_rows = [(0, 0.0, 0.0), (1, 0.1, 5.0), (2, 0.0, 2.5)]
    probes = spark.createDataFrame(
        probe_rows, "query_id long, qlat double, qlng double"
    )
    regime.probes(len(probe_rows))
    for kk in (3, 25):
        want = _numpy_rank(real, probe_rows, kk)
        for st, n in ((None, None), (stats, None), (stats, 44)):
            got = sorted(
                tuple(r)
                for r in knn_join_df(facts, probes, kk, stats=st, n_rows=n)
                .select("query_id", "rank", "image_id")
                .collect()
            )
            assert got == want, (kk, st is None, n)
        with regime.unrecorded():
            listed = sorted(
                tuple(r)
                for r in knn_join(spark, facts, probe_rows, kk)
                .select("query_id", "rank", "image_id")
                .collect()
            )
        assert listed == want, kk


def test_injected_stats_bound_driver_rows_only_when_confirmed(
    spark, images, probes, monkeypatch
):
    """Injected stats bound a literal round's raw pairs only as far as
    ``n_rows`` confirms them. Without ``n_rows`` every round keeps each
    probe's top k in Spark (a Window in the round plan); with a matching
    ``n_rows`` the rounds ship raw pairs, as with a histogram read off
    the facts. Stats built before the table grew add the growth to every
    probe's ring count, so a cap just under the growth pre-trims every
    round however few rows the stale rings count. Every result matches
    brute force."""
    import warnings

    from rust_s2_spark.operators import knn
    from rust_s2_spark.plans.stats import build_cell_stats, stats_row_count

    small = probes.where(F.col("query_id") % 13 == 1).coalesce(1)
    rows = [tuple(r) for r in small.collect()]
    want = _brute(spark, images, rows, 3)
    n = images.count()
    full = build_cell_stats(images, levels=(7,))
    plans = _round_plans(monkeypatch, type(images))

    def run(stats, n_rows):
        plans.clear()
        got = _ranks(knn_join_df(images, small, 3, stats=stats, n_rows=n_rows))
        assert got.equals(want)
        assert plans, "no literal round ran"
        return ["Window" in p for p in plans]

    assert all(run(full, None))
    assert not any(run(full, n))
    older = build_cell_stats(
        images.where(F.col("image_id").cast("long") % 10 < 7), levels=(7,)
    )
    grown = n - stats_row_count(older, 7)
    monkeypatch.setattr(knn, "_DRIVER_RANK_MAX_ROWS", grown - 1)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # the stats drift more than 25%
        assert all(run(older, n))
