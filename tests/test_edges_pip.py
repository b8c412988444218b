"""Edge-kernel and point-in-polygon tests (goldens + properties)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from rust_s2_spark.geometry import point as pt
from rust_s2_spark.geometry.loop import Loop
from rust_s2_spark.kernels import edges as ek


def V(*rows):
    return np.array(rows, dtype=np.float64)


def norm(v):
    v = np.asarray(v, dtype=np.float64)
    return v / np.linalg.norm(v)


def test_simple_crossing_basic():
    # two great-circle arcs crossing at the origin-ish point
    a, b = norm([1, -0.1, 0]), norm([1, 0.1, 0])
    c, d = norm([1, 0, -0.1]), norm([1, 0, 0.1])
    assert ek.simple_crossing(a[None], b[None], c[None], d[None])[0]
    # non-crossing
    c2, d2 = norm([0.9, 0.5, 0.1]), norm([0.9, 0.6, 0.2])
    assert not ek.simple_crossing(a[None], b[None], c2[None], d2[None])[0]


def test_robust_sign_antisymmetry_and_cycle():
    rng = np.random.default_rng(3)
    p = rng.standard_normal((50, 3))
    p /= np.linalg.norm(p, axis=1, keepdims=True)
    a, b, c = p[:20], p[15:35], p[30:50]
    s1 = ek.robust_sign(a, b, c)
    assert np.array_equal(s1, ek.robust_sign(b, c, a))  # cyclic
    assert np.array_equal(s1, -ek.robust_sign(c, b, a))  # antisymmetric
    assert np.all(s1 != 0)


def test_robust_sign_collinear_exact_fallback():
    # exactly collinear points (same great circle) → exact sign 0
    a = norm([1, 0, 0])
    b = norm([0, 1, 0])
    c = norm([1, 1, 0])
    assert ek.exact_sign(a, b, c) == 0
    assert ek.robust_sign(a[None], b[None], c[None])[0] == 0


def test_interpolate_matches_reference_semantics():
    # ref edgeutil.rs: interpolate(0)=a, interpolate(1)=b, midpoint
    a = norm([1, 0, 0])
    b = norm([0, 1, 0])
    p0 = ek.interpolate(0.0, a, b)[0]
    p1 = ek.interpolate(1.0, a, b)[0]
    pm = ek.interpolate(0.5, a, b)[0]
    assert np.allclose(p0, a, atol=1e-15)
    assert np.allclose(p1, b, atol=1e-14)
    assert np.allclose(pm, norm([1, 1, 0]), atol=1e-14)


def test_project_and_distance():
    a = norm([1, 0, 0])
    b = norm([0, 1, 0])
    x = norm([1, 1, 0.5])
    closest = ek.project_to_segment(x, a, b)[0]
    d2 = ek.dist2_point_segment(x, a, b)[0]
    # closest point is on the equator arc between a and b
    assert abs(closest[2]) < 1e-15
    want = pt.chord2(tuple(x), tuple(closest))
    assert abs(d2 - want) < 1e-15
    # endpoint case: x nearest to a
    x2 = norm([1, -0.5, 0.0])
    c2 = ek.project_to_segment(x2, a, b)[0]
    assert np.allclose(c2, a)


def test_point_area_goldens():
    # ref point.rs:676-743: area of the octant triangle = π/2
    x = norm([1, 0, 0])
    y = norm([0, 1, 0])
    z = norm([0, 0, 1])
    assert abs(ek.point_area(x, y, z)[0] - math.pi / 2) < 1e-14
    # tiny triangle ~ planar area
    eps = 1e-5
    a = norm([1, eps, 0])
    b = norm([1, 0, eps])
    got = ek.point_area(a, b, z if False else norm([1, 0, 0]))[0]
    assert abs(got - 0.5 * eps * eps) < 1e-14


# ---------------------------------------------------------------------------
# Loop / PIP


def diamond_loop(lat0=10.0, lng0=20.0, r=5.0) -> Loop:
    return Loop.from_latlng_degrees(
        [
            (lat0, lng0 + r),
            (lat0 + r, lng0),
            (lat0, lng0 - r),
            (lat0 - r, lng0),
        ][::-1]  # CCW viewed from outside: counterclockwise in lat/lng
    )


def test_loop_contains_center_not_far():
    lp = Loop.from_latlng_degrees([(0, 0), (0, 10), (10, 10), (10, 0)])
    assert lp.contains_point(pt.latlng_to_xyz(5, 5))
    assert not lp.contains_point(pt.latlng_to_xyz(20, 5))
    assert not lp.contains_point(pt.latlng_to_xyz(-5, 5))
    assert not lp.contains_point(pt.latlng_to_xyz(5, -170))


def test_loop_concave():
    # concave hexagon (notch cut into the right side)
    lp = Loop.from_latlng_degrees(
        [(0, 0), (0, 10), (4, 10), (4, 4), (6, 4), (6, 10), (10, 10), (10, 0)]
    )
    assert lp.contains_point(pt.latlng_to_xyz(2, 8))  # below the notch
    assert not lp.contains_point(pt.latlng_to_xyz(5, 8))  # inside the notch
    assert lp.contains_point(pt.latlng_to_xyz(5, 2))  # left of the notch


def test_loop_rect_bound_contains_boundary_samples():
    lp = diamond_loop()
    bound = lp.rect_bound()
    v = lp.vertices
    for i in range(len(v)):
        a, b = v[i], v[(i + 1) % len(v)]
        for t in np.linspace(0, 1, 20):
            p = ek.interpolate(float(t), a, b)[0]
            la, lo = pt.xyz_to_latlng_rad(tuple(p))
            assert bound.contains_latlng_rad(la, lo)


def test_loop_coverer_and_membership():
    from rust_s2_spark.geometry import RegionCoverer
    from rust_s2_spark.kernels import cellid as k

    lp = diamond_loop()
    rc = RegionCoverer(min_level=0, max_level=16, level_mod=1, max_cells=32)
    cov = rc.covering(lp)
    inner = rc.interior_covering(lp)
    assert len(cov) >= 1
    # random points inside the loop are inside the covering
    rng = np.random.default_rng(9)
    hits = 0
    for _ in range(200):
        la = rng.uniform(4, 16)
        lo = rng.uniform(14, 26)
        p = pt.latlng_to_xyz(la, lo)
        if not lp.contains_point(p):
            continue
        hits += 1
        leaf = k.cell_from_latlng(np.array([la]), np.array([lo]))
        assert cov.contains_ids(leaf)[0]
        # interior covering must never cover outside points — and
        # points in the interior covering must be in the loop
        if inner.contains_ids(leaf)[0]:
            assert lp.contains_point(p)
    assert hits > 20


def test_pip_filter_matches_brute_force(spark, sf_dir):
    from pyspark.sql import functions as F

    from rust_s2_spark.operators.pip import loop_contains_expr, pip_filter
    from rust_s2_spark.sources import images_from_orders

    img = images_from_orders(spark, sf_dir, with_bytes=False).cache()
    # polygon around the NYC hotspot so matches exist
    lp = Loop.from_latlng_degrees(
        [(39.5, -75.5), (39.5, -72.5), (42.0, -72.5), (42.0, -75.5)]
    )
    got = pip_filter(img, lp).select("image_id")
    want = img.where(loop_contains_expr(lp, "lat", "lng")).select("image_id")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0


def test_polygon_with_hole_contains():
    import numpy as np

    from rust_s2_spark.geometry import point as pt
    from rust_s2_spark.geometry.polygon import Polygon

    poly = Polygon.from_latlng_degrees(
        [(0.0, 0.0), (0.0, 40.0), (90.0, 20.0)],
        [[(0.0, 10.0), (0.0, 30.0), (90.0, 20.0)]],
    )
    cases = [
        ((20.0, 5.0), True),    # in shell, west of hole
        ((20.0, 35.0), True),   # in shell, east of hole
        ((20.0, 20.0), False),  # inside the hole
        ((20.0, 50.0), False),  # outside the shell
        ((-20.0, 5.0), False),  # southern hemisphere
        ((89.0, 5.0), True),    # near the apex, outside the hole wedge
        ((89.0, 20.0), False),  # near the apex, inside the hole wedge
    ]
    for (lat, lng), want in cases:
        p = pt.latlng_to_xyz(lat, lng)
        assert poly.contains_point(p) == want, (lat, lng)
    # area = shell minus hole (both lunes: fraction of sphere = width/360 * half)
    import math
    assert poly.area() == pytest.approx(poly.shell.area() / 2, rel=1e-9)
    # region protocol is conservative
    from rust_s2_spark.geometry import RegionCoverer
    rc = RegionCoverer(max_level=8, max_cells=32)
    cov = rc.covering(poly)
    for lat, lng in [(20.0, 5.0), (20.0, 35.0), (89.0, 5.0)]:
        x, y, z = pt.latlng_to_xyz(lat, lng)
        assert cov.contains_point_xyz(x, y, z), (lat, lng)


def test_pip_indexed_equals_fullscan_big_polygon(spark, sf_dir):
    """Per-cell-edge-index PIP (the 100 TB shape: O(batch x edges-per-cell)
    memory) must agree row-for-row with the all-edges kernel on a
    1000-vertex polygon; and the index must actually localize edges."""
    import numpy as np

    from rust_s2_spark.geometry.loop import Loop
    from rust_s2_spark.operators.pip import (
        PIP_COVERER,
        _build_edge_index,
        pip_filter,
    )
    from rust_s2_spark.sources import images_from_orders

    img = images_from_orders(spark, sf_dir, with_bytes=False)
    t = np.linspace(0, 2 * np.pi, 1001)[:-1]
    coords = [
        (
            40.0 + 3.0 * np.cos(x) + 0.4 * np.sin(7 * x),
            -74.0 + 4.0 * np.sin(x) + 0.5 * np.cos(5 * x),
        )
        for x in t
    ]
    big = Loop.from_latlng_degrees(coords)
    a = sorted(r.image_id for r in pip_filter(img, big).collect())
    # without a cell_id column pip_filter runs the all-edges kernel
    b = sorted(
        r.image_id for r in pip_filter(img.drop("cell_id"), big).collect()
    )
    assert len(a) > 0
    assert a == b

    # index locality: mean edges-per-cell must be far below the total
    outer = PIP_COVERER.covering(big)
    inner = PIP_COVERER.interior_covering(big)
    boundary = outer.ids[~inner.contains_ids(outer.ids)]
    A, B, centers, state, indptr, edge_ids = _build_edge_index([big], boundary)
    per_cell = np.diff(indptr)
    assert per_cell.max() < len(A) / 2  # no cell sees most of the boundary
    assert per_cell.mean() < len(A) / 5


def test_edge_index_fast_matches_scalar_and_is_fast():
    """The vectorized edge-index build (one numpy pass over all edge
    RectBounder bounds + array-op cell x edge intersection) must produce
    the IDENTICAL per-cell candidate sets as the scalar per-edge walk it
    replaces, and build a 100k-edge polygon index in single-digit
    seconds (round-3 verdict: the scalar build was the next ceiling on
    the PIP path)."""
    import time

    import numpy as np

    from rust_s2_spark.geometry.loop import Loop
    from rust_s2_spark.operators.pip import PIP_COVERER, _build_edge_index

    t = np.linspace(0, 2 * np.pi, 2001)[:-1]
    coords = [
        (
            40.0 + 3.0 * np.cos(x) + 0.4 * np.sin(7 * x),
            -74.0 + 4.0 * np.sin(x) + 0.5 * np.cos(5 * x),
        )
        for x in t
    ]
    lp = Loop.from_latlng_degrees(coords)
    outer = PIP_COVERER.covering(lp)
    inner = PIP_COVERER.interior_covering(lp)
    boundary = outer.ids[~inner.contains_ids(outer.ids)]

    fa = _build_edge_index([lp], boundary, fast=True)
    sc = _build_edge_index([lp], boundary, fast=False)
    assert np.array_equal(fa[4], sc[4]), "indptr differs"
    assert np.array_equal(fa[5], sc[5]), "candidate edge sets differ"
    assert np.array_equal(fa[3], sc[3])  # center states

    # a date-line + near-pole polygon exercises the wrapped/inverted and
    # polar-closure branches of the vectorized bound math
    wrap = Loop.from_latlng_degrees(
        [(60.0, 175.0), (60.0, -175.0), (86.0, -170.0), (86.0, 170.0)]
    )
    wo = PIP_COVERER.covering(wrap)
    wi = PIP_COVERER.interior_covering(wrap)
    wb = wo.ids[~wi.contains_ids(wo.ids)]
    wf = _build_edge_index([wrap], wb, fast=True)
    ws = _build_edge_index([wrap], wb, fast=False)
    assert np.array_equal(wf[4], ws[4]) and np.array_equal(wf[5], ws[5])

    # speed: 100k edges, the covering's boundary cells, < 10 s
    t2 = np.linspace(0, 2 * np.pi, 100_001)[:-1]
    big = Loop.from_latlng_degrees(
        [
            (
                40.0 + 3.0 * np.cos(x) + 0.4 * np.sin(7 * x),
                -74.0 + 4.0 * np.sin(x) + 0.5 * np.cos(5 * x),
            )
            for x in t2
        ]
    )
    t0 = time.perf_counter()
    idx = _build_edge_index([big], boundary, fast=True)
    dt = time.perf_counter() - t0
    assert idx[4][-1] > 0
    assert dt < 10.0, f"index build took {dt:.1f}s for 100k edges"


def test_polyline_crossing_join_planted(spark):
    """Planted geometry: an X pair must cross exactly once, parallel
    tracks must not, a shared-region-but-disjoint pair must not; and
    the candidate join is a cell equi-join (no cartesian product)."""
    from rust_s2_spark.operators.polyline import polyline_crossing_join

    rows = [
        # an X: diagonal up vs diagonal down through the same center
        (1, [40.0, 40.4], [-74.4, -74.0]),
        (2, [40.4, 40.0], [-74.4, -74.0]),
        # parallel to traj 1, shifted north — same cells, no crossing
        (3, [40.5, 40.9], [-74.4, -74.0]),
        # far away entirely
        (4, [10.0, 10.4], [20.0, 20.4]),
        # V touching the X region: two segments, one crosses traj 1
        (5, [40.35, 40.05, 40.35], [-74.35, -74.2, -74.05]),
    ]
    df = spark.createDataFrame(
        rows, "traj_id long, lats array<double>, lngs array<double>"
    )
    out = {
        (r.a, r.b): r.n_crossings
        for r in polyline_crossing_join(df, max_seg_deg=0.8).collect()
    }
    assert out.get((1, 2)) == 1
    assert (1, 3) not in out and (2, 3) not in out
    assert all(4 not in pair for pair in out)
    assert (1, 5) in out  # the V's descending arm crosses the X diagonal

    exec_plan = polyline_crossing_join(df, 0.8)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in exec_plan
    assert "BroadcastNestedLoopJoin" not in exec_plan


def test_polyline_crossing_join_antimeridian(spark):
    """Date-line geometry needs no pre-rotation: unwrapped sampling must
    find crossings for dateline-spanning tracks, including MIXED pairs
    where only one side spans the line, and the span guard must raise on
    a segment longer than max_seg_deg instead of silently losing
    recall."""
    from rust_s2_spark.operators.polyline import polyline_crossing_join

    rows = [
        # A: along the equator THROUGH the dateline (179.7 -> -179.9)
        (1, [0.0, 0.0], [179.7, -179.9]),
        # B: meridian arc just WEST of the line (does not span it)
        (2, [-0.2, 0.2], [179.9, 179.9]),
        # C: meridian arc just EAST of the line (does not span it)
        (3, [-0.2, 0.2], [-179.95, -179.95]),
        # D: parallel to A, shifted north — spans the line, no crossing
        (4, [0.1, 0.1], [179.7, -179.9]),
    ]
    df = spark.createDataFrame(
        rows, "traj_id long, lats array<double>, lngs array<double>"
    )
    out = {
        (r.a, r.b): r.n_crossings
        for r in polyline_crossing_join(df, max_seg_deg=0.8).collect()
    }
    assert out.get((1, 2)) == 1  # dateline track x non-spanning track
    assert out.get((1, 3)) == 1  # crossing on the far side of the line
    assert (1, 4) not in out  # parallel dateline tracks don't cross

    import pytest as _pytest

    big = spark.createDataFrame(
        [(1, [0.0, 1.9], [10.0, 10.0]), (2, [1.0, 1.0], [9.0, 11.0])],
        "traj_id long, lats array<double>, lngs array<double>",
    )
    with _pytest.raises(Exception, match="segment span"):
        polyline_crossing_join(big, max_seg_deg=0.8).collect()
