"""Vectorized edge / predicate kernels (numpy-only).

Crossing tests, orientation predicates, geodesic interpolation and
point-to-segment distances — the machinery behind point-in-polygon
joins and polyline distance scoring. Semantics per the reference
(/root/reference/src/s2/edgeutil.rs, predicates.rs, point.rs), with
one deliberate upgrade: ``robust_sign`` falls back to exact Fraction
arithmetic where the reference returns Indeterminate
(predicates.rs:216-224 stubs exact_sign).

Shapes: points are (n,3) float64 arrays (or broadcastable); returns
are (n,) arrays.
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np

# max determinant error bounds (predicates.rs:46,56)
DBL_EPSILON = 2.220446049250313e-16
MAX_DETERMINANT_ERROR = 1.8274 * DBL_EPSILON
DET_ERROR_MULTIPLIER = 3.2321 * DBL_EPSILON


def _dot(a, b):
    return np.einsum("...i,...i->...", a, b)


def _cross(a, b):
    return np.cross(a, b)


def _norm(a):
    return np.sqrt(_dot(a, a))


def _normalize(a):
    n = _norm(a)
    return a / np.where(n == 0, 1.0, n)[..., None]


def triple_product(a, b, c):
    return _dot(a, _cross(b, c))


# ---------------------------------------------------------------------------
# orientation predicates


def triage_sign(a, b, c) -> np.ndarray:
    """Fast sign of det(a,b,c): ±1, or 0 when within error bound
    (ref predicates.rs:75-111)."""
    det = triple_product(a, b, c)
    max_err = MAX_DETERMINANT_ERROR  # valid for unit-length vectors
    out = np.zeros(det.shape, dtype=np.int8)
    out[det > max_err] = 1
    out[det < -max_err] = -1
    return out


def stable_sign(a, b, c) -> np.ndarray:
    """Error-adaptive sign using difference vectors
    (ref predicates.rs:113-160)."""
    ab = b - a
    ba = a - b
    bc = c - b
    cb = b - c
    ca = a - c
    ac = c - a
    ab2 = _dot(ab, ab)
    bc2 = _dot(bc, bc)
    ca2 = _dot(ca, ca)

    # use the two shortest edges, det = (x-z)×(y-z)·z with z the vertex
    # between them; three symmetric cases. Reference form is
    # det = -(e1×e2)·op (predicates.rs:137); the negation is folded in
    # by flipping e2: (ca×cb) ≡ -(ca×bc), (ab×ac) ≡ -(ab×ca),
    # (bc×ba) ≡ -(bc×ab). The original port forgot the flip in the
    # AB-longest branch ((ca, bc) verbatim — determinant NEGATED), a
    # live wrong-sign window whenever triage is uncertain but the
    # relative bound is confident; found by the hypothesis
    # rotation-invariance property, invisible to the goldens because
    # stable certainty in that branch needs short-edge triangles the
    # dumped cases never hit.
    det = np.where(
        (ab2 >= bc2) & (ab2 >= ca2),
        _dot(_cross(ca, cb), c),  # c between the two shortest
        np.where(
            bc2 >= ca2,
            _dot(_cross(ab, ac), a),
            _dot(_cross(bc, ba), b),
        ),
    )
    e2 = np.where(
        (ab2 >= bc2) & (ab2 >= ca2),
        ca2 * _dot(bc, bc),
        np.where(bc2 >= ca2, ab2 * _dot(ac, ac), bc2 * _dot(ba, ba)),
    )
    max_err = DET_ERROR_MULTIPLIER * np.sqrt(e2)
    out = np.zeros(det.shape, dtype=np.int8)
    # a certainty claim needs a NORMAL positive error bound: with
    # subnormal coordinates (hypothesis found lng ~ 2e-311) max_err
    # UNDERFLOWS below the det's own rounding garbage and stable_sign
    # confidently returned the WRONG sign (breaking robust_sign's
    # rotation invariance); a subnormal bound now reports uncertain so
    # the cascade falls through to exact_sign. Normal-range inputs —
    # including every reference-dumped verdict — are unaffected
    # (their bounds are far above the smallest normal double).
    certain = max_err >= np.finfo(np.float64).tiny
    out[(det > max_err) & certain] = 1
    out[(det < -max_err) & certain] = -1
    return out


def exact_sign(a, b, c) -> int:
    """Exact orientation via Fraction arithmetic (scalar; the slow
    path the reference leaves unimplemented)."""
    av = [Fraction(x) for x in np.asarray(a, dtype=np.float64)]
    bv = [Fraction(x) for x in np.asarray(b, dtype=np.float64)]
    cv = [Fraction(x) for x in np.asarray(c, dtype=np.float64)]
    det = (
        av[0] * (bv[1] * cv[2] - bv[2] * cv[1])
        - av[1] * (bv[0] * cv[2] - bv[2] * cv[0])
        + av[2] * (bv[0] * cv[1] - bv[1] * cv[0])
    )
    if det > 0:
        return 1
    if det < 0:
        return -1
    # exactly collinear: symbolic perturbation — deterministic
    # lexicographic tie-break (points are distinct in our callers)
    return 0


def robust_sign(a, b, c) -> np.ndarray:
    """Vectorized: triage, then stable, then exact Fraction fallback
    for the (rare) remaining rows. Never returns 0 for distinct,
    non-antipodal points except true collinearity."""
    a = np.atleast_2d(np.asarray(a, dtype=np.float64))
    b = np.atleast_2d(np.asarray(b, dtype=np.float64))
    c = np.atleast_2d(np.asarray(c, dtype=np.float64))
    n = max(a.shape[0], b.shape[0], c.shape[0])
    a, b, c = (np.broadcast_to(x, (n, 3)) for x in (a, b, c))
    out = triage_sign(a, b, c)
    need = out == 0
    if np.any(need):
        out[need] = stable_sign(a[need], b[need], c[need])
        need = out == 0
        for i in np.nonzero(need)[0]:
            out[i] = exact_sign(a[i], b[i], c[i])
    return out


def ordered_ccw(a, b, c, o) -> np.ndarray:
    """True if (a, b, c) appear in CCW order around o
    (ref point.rs:224-236)."""
    a = np.atleast_2d(a)
    b = np.atleast_2d(b)
    c = np.atleast_2d(c)
    o = np.atleast_2d(o)
    sum_ = np.zeros(max(a.shape[0], b.shape[0], c.shape[0], o.shape[0]), dtype=np.int8)
    sum_ = sum_ + (robust_sign(b, o, a) >= 0).astype(np.int8)
    sum_ = sum_ + (robust_sign(c, o, b) >= 0).astype(np.int8)
    sum_ = sum_ + (robust_sign(a, o, c) > 0).astype(np.int8)
    return sum_ >= 2


# ---------------------------------------------------------------------------
# crossings


def simple_crossing(a, b, c, d) -> np.ndarray:
    """Interior crossing of edges AB and CD (ref edgeutil.rs:96-113)."""
    a = np.atleast_2d(a)
    b = np.atleast_2d(b)
    c = np.atleast_2d(c)
    d = np.atleast_2d(d)
    ab = _cross(a, b)
    acb = -_dot(ab, c)
    bda = _dot(ab, d)
    early = acb * bda <= 0
    cd = _cross(c, d)
    cbd = -_dot(cd, b)
    dac = _dot(cd, a)
    return (~early) & (acb * cbd > 0) & (acb * dac > 0)


def crossing_sign(a, b, c, d) -> np.ndarray:
    """Robust crossing: +1 interior crossing, -1 none, 0 shared vertex
    (EdgeCrosser semantics via robust_sign)."""
    a = np.atleast_2d(a)
    b = np.atleast_2d(b)
    c = np.atleast_2d(c)
    d = np.atleast_2d(d)
    n = max(x.shape[0] for x in (a, b, c, d))
    a, b, c, d = (np.broadcast_to(x, (n, 3)).copy() for x in (a, b, c, d))
    shared = (
        np.all(a == c, axis=1)
        | np.all(a == d, axis=1)
        | np.all(b == c, axis=1)
        | np.all(b == d, axis=1)
    )
    acb = robust_sign(a, c, b)
    bda = robust_sign(b, d, a)
    cbd = robust_sign(c, b, d)
    dac = robust_sign(d, a, c)
    crossing = (acb == bda) & (bda == cbd) & (cbd == dac) & (acb != 0)
    out = np.where(crossing, 1, -1).astype(np.int8)
    out[shared] = 0
    return out


def vertex_crossing(a, b, c, d) -> np.ndarray:
    """Crossing parity contribution when edges share a vertex
    (golang/geo VertexCrossing semantics)."""
    a = np.atleast_2d(a)
    b = np.atleast_2d(b)
    c = np.atleast_2d(c)
    d = np.atleast_2d(d)
    n = max(x.shape[0] for x in (a, b, c, d))
    a, b, c, d = (np.broadcast_to(x, (n, 3)).copy() for x in (a, b, c, d))
    out = np.zeros(n, dtype=bool)
    deg = np.all(a == b, axis=1) | np.all(c == d, axis=1)
    ac = np.all(a == c, axis=1)
    bd = np.all(b == d, axis=1)
    ad = np.all(a == d, axis=1)
    bc = np.all(b == c, axis=1)
    # group by WHICH vertex is shared (the sweep pivot): a==c/a==d pivot
    # around a, b==d/b==c pivot around b. Round-8 property suite caught
    # the b==d and a==d cases mis-grouped under the wrong pivot (path
    # parity through a loop vertex came out even instead of odd).
    m = ac | ad
    if np.any(m):
        out[m] = ordered_ccw(
            _ref_dir(a[m]), np.where(ac[m, None], d[m], c[m]), b[m], a[m]
        )
    m2 = (bd | bc) & ~m
    if np.any(m2):
        out[m2] = ordered_ccw(
            _ref_dir(b[m2]), np.where(bd[m2, None], c[m2], d[m2]), a[m2], b[m2]
        )
    out[deg] = False
    return out


def _ref_dir(p):
    """A deterministic direction not equal to ±p (Ortho)."""
    return _normalize(_ortho(p))


def _ortho(p):
    """Unit vector orthogonal to p (golang/geo Ortho construction)."""
    idx = np.argmin(np.abs(p), axis=1)
    basis = np.zeros_like(p)
    basis[np.arange(len(p)), idx] = 1.0
    return _cross(p, basis)


def edge_or_vertex_crossing(a, b, c, d) -> np.ndarray:
    cs = crossing_sign(a, b, c, d)
    out = cs > 0
    shared = cs == 0
    if np.any(shared):
        a2 = np.atleast_2d(a)
        b2 = np.atleast_2d(b)
        c2 = np.atleast_2d(c)
        d2 = np.atleast_2d(d)
        n = max(x.shape[0] for x in (a2, b2, c2, d2))
        a2, b2, c2, d2 = (np.broadcast_to(x, (n, 3)) for x in (a2, b2, c2, d2))
        out = np.asarray(out).copy()
        out[shared] = vertex_crossing(a2[shared], b2[shared], c2[shared], d2[shared])
    return out


# ---------------------------------------------------------------------------
# interpolation / projection / distance


def interpolate(t, a, b):
    """Point at fraction t along geodesic AB (ref edgeutil.rs:120-135).

    Angle via atan2(‖a×b‖, a·b) — arccos of the dot loses ~half the
    significant digits for tiny segments (caught by the reference-dumped
    interpolate goldens on a 1e-6-degree segment)."""
    a = np.atleast_2d(np.asarray(a, dtype=np.float64))
    b = np.atleast_2d(np.asarray(b, dtype=np.float64))
    ab = np.arctan2(_norm(_cross(a, b)), _dot(a, b))
    return interpolate_at_distance(np.asarray(t) * ab, a, b)


def interpolate_at_distance(ax_rad, a, b):
    """Point at angle ax along geodesic AB (ref edgeutil.rs:137-148).

    Tangent built as point_cross(a,b)×a — point_cross is (a+b)×(b−a),
    numerically robust for nearly-identical a, b (ref point.rs:144-156) —
    and scaled by sin/‖tangent‖ exactly as the reference does, so the
    goldens match to the last compared digit."""
    a = np.atleast_2d(np.asarray(a, dtype=np.float64))
    b = np.atleast_2d(np.asarray(b, dtype=np.float64))
    ax_rad = np.asarray(ax_rad, dtype=np.float64)
    normal = _cross(a + b, b - a)
    tangent = _cross(normal, a)
    return _normalize(
        a * np.cos(ax_rad)[..., None]
        + tangent * (np.sin(ax_rad) / _norm(tangent))[..., None]
    )


def project_to_segment(x, a, b):
    """Closest point on geodesic segment AB to x (ref edgeutil.rs:157-172)."""
    x = np.atleast_2d(np.asarray(x, dtype=np.float64))
    a = np.atleast_2d(np.asarray(a, dtype=np.float64))
    b = np.atleast_2d(np.asarray(b, dtype=np.float64))
    n = max(x.shape[0], a.shape[0], b.shape[0])
    x, a, b = (np.broadcast_to(v, (n, 3)) for v in (x, a, b))
    ab_normal = _cross(a, b)
    # projection of x onto the great circle through a, b; for a == b the
    # normal is zero — the guarded denominator yields p = x and the
    # on_segment tests below fail, so the endpoint branch is taken (the
    # reference handles A == B the same way, edgeutil.rs:224 doc)
    nn = _dot(ab_normal, ab_normal)
    p = _normalize(
        x - (ab_normal * (_dot(x, ab_normal) / np.where(nn == 0.0, 1.0, nn))[..., None])
    )
    # within segment if p is between a and b along the circle
    da = _dot(x - a, x - a)
    db = _dot(x - b, x - b)
    on_segment = (_dot(_cross(ab_normal, a), p) > 0) & (_dot(_cross(b, ab_normal), p) > 0)
    closest = np.where(
        on_segment[..., None], p, np.where((da <= db)[..., None], a, b)
    )
    return closest


def dist2_point_segment(x, a, b) -> np.ndarray:
    """Squared chord distance from x to segment AB (min over the
    segment; ref edgeutil.rs:177-250 semantics)."""
    closest = project_to_segment(x, a, b)
    x = np.atleast_2d(np.asarray(x, dtype=np.float64))
    d = x - closest
    return np.minimum(4.0, _dot(d, d))


def distance_from_segment(x, a, b) -> np.ndarray:
    """Angle (radians) from x to segment AB — chord² converted via
    2·asin(√d²/2), matching ref edgeutil.rs:224-228 (checked against
    reference-dumped seg_dist goldens)."""
    d2 = dist2_point_segment(x, a, b)
    return 2.0 * np.arcsin(np.minimum(1.0, 0.5 * np.sqrt(d2)))


def max_dist2_point_segment(x, a, b) -> np.ndarray:
    """MAXIMUM squared chord distance from x to any point of segment AB
    (ref edgeutil.rs:202-218 update_max_distance): the max is attained
    at an endpoint unless it exceeds a right angle, in which case it is
    the antipodal reflection of the min distance from −x
    (max = STRAIGHT − min(−x))."""
    x = np.atleast_2d(np.asarray(x, dtype=np.float64))
    a = np.atleast_2d(np.asarray(a, dtype=np.float64))
    b = np.atleast_2d(np.asarray(b, dtype=np.float64))
    n = max(x.shape[0], a.shape[0], b.shape[0])
    x, a, b = (np.broadcast_to(v, (n, 3)) for v in (x, a, b))
    # endpoint chord² summed x² + y² + z² left to right, as the
    # reference's Point::norm2, so the max clamps to the same rounding
    # of an endpoint distance that a plain norm of x − a gives
    va, vb = x - a, x - b
    da = va[:, 0] * va[:, 0] + va[:, 1] * va[:, 1] + va[:, 2] * va[:, 2]
    db = vb[:, 0] * vb[:, 0] + vb[:, 1] * vb[:, 1] + vb[:, 2] * vb[:, 2]
    d = np.maximum(da, db)
    over_right = d > 2.0
    if np.any(over_right):
        d_anti = dist2_point_segment(-x[over_right], a[over_right], b[over_right])
        d = d.copy()
        # the true max is never below an endpoint distance; the
        # STRAIGHT − min(−x) reflection can round a few ulps under it
        # when the max sits at an endpoint near the antipode
        d[over_right] = np.maximum(d[over_right], 4.0 - d_anti)
    return d


# ---------------------------------------------------------------------------
# areas / centroids


def point_area(a, b, c) -> np.ndarray:
    """Spherical triangle area via l'Huilier with Girard fallback
    (ref point.rs:270-303)."""
    a = np.atleast_2d(np.asarray(a, dtype=np.float64))
    b = np.atleast_2d(np.asarray(b, dtype=np.float64))
    c = np.atleast_2d(np.asarray(c, dtype=np.float64))
    n = max(a.shape[0], b.shape[0], c.shape[0])
    a, b, c = (np.broadcast_to(x, (n, 3)) for x in (a, b, c))

    def angle(u, v):
        return np.arctan2(_norm(_cross(u, v)), _dot(u, v))

    sa = angle(b, c)
    sb = angle(c, a)
    sc = angle(a, b)
    s = 0.5 * (sa + sb + sc)

    def pc(u, v):
        # point_cross (a+b)×(b−a) = 2(a×b), robust near u≈±v
        # (ref point.rs:144-156); the exact-zero ortho fallback is not
        # needed here because Girard is only evaluated for s >= 3e-4
        return _cross(u + v, v - u)

    # Girard, evaluated only where it might be used (big skinny
    # triangles); small triangles MUST use l'Huilier — Girard cancels
    # catastrophically there (caught by reference-dumped cell_area
    # goldens at deep levels)
    def girard(u, v, w):
        ab_ = pc(u, v)
        bc_ = pc(v, w)
        ac_ = pc(u, w)
        with np.errstate(invalid="ignore"):
            aa = np.arctan2(_norm(_cross(ab_, ac_)), _dot(ab_, ac_))
            bb = np.arctan2(_norm(_cross(ab_, bc_)), _dot(ab_, bc_))
            cc = np.arctan2(_norm(_cross(ac_, bc_)), _dot(ac_, bc_))
        return np.maximum(0.0, aa - bb + cc)

    # ref point.rs:270-303 control flow, vectorized: Girard only when the
    # triangle is big (s >= 3e-4), skinny (dmin < 1e-2·s⁵), AND the
    # computed area confirms the skinny regime (dmin < 0.1·s·area)
    dmin = s - np.maximum(sa, np.maximum(sb, sc))
    maybe_girard = (s >= 3e-4) & (dmin < 1e-2 * s * s * s * s * s)
    g = girard(a, b, c)
    use_girard = maybe_girard & (dmin < 0.1 * s * g)

    with np.errstate(invalid="ignore"):
        t = np.tan(0.5 * s) * np.tan(0.5 * (s - sa)) * np.tan(0.5 * (s - sb)) * np.tan(
            0.5 * (s - sc)
        )
        lh = 4.0 * np.arctan(np.sqrt(np.maximum(0.0, t)))
    return np.where(use_girard, g, lh)


def regular_points(center, radius_rad: float, n: int) -> np.ndarray:
    """n vertices of a regular spherical polygon of the given angular
    radius around center, CCW (ref point.rs:185-209) — test-fixture and
    synthetic-region generator."""
    z = np.asarray(center, dtype=np.float64)
    z = z / np.linalg.norm(z)
    # orthonormal frame
    idx = int(np.argmin(np.abs(z)))
    basis = np.zeros(3)
    basis[idx] = 1.0
    x = np.cross(z, basis)
    x /= np.linalg.norm(x)
    y = np.cross(z, x)
    r = np.sin(radius_rad)
    h = np.cos(radius_rad)
    theta = 2.0 * np.pi * np.arange(n) / n
    pts = (
        (r * np.cos(theta))[:, None] * x[None, :]
        + (r * np.sin(theta))[:, None] * y[None, :]
        + h * z[None, :]
    )
    return pts / np.linalg.norm(pts, axis=1, keepdims=True)


def ortho(p) -> np.ndarray:
    """Unit vector orthogonal to each p, with the reference's exact seed
    vector (0.012, 0.0053, 0.00457) + largest-component rule
    (ref r3/vector.rs:221-233) so frames match the reference."""
    p = np.atleast_2d(np.asarray(p, dtype=np.float64))
    ov = np.tile(np.array([0.012, 0.0053, 0.00457]), (p.shape[0], 1))
    largest = np.argmax(np.abs(p), axis=1)
    # X largest -> z=1, Y -> x=1, Z -> y=1
    ov[largest == 0, 2] = 1.0
    ov[largest == 1, 0] = 1.0
    ov[largest == 2, 1] = 1.0
    return _normalize(_cross(p, ov))


def frame(p) -> np.ndarray:
    """Orthonormal frame at each unit point: columns (c0, c1, c2=p)
    with c1 = ortho(p), c0 = c1 × p (ref point.rs:185-191).
    Returns (n, 3, 3) column-major-equivalent arrays (frame[i,:,k] is
    column k)."""
    p = np.atleast_2d(np.asarray(p, dtype=np.float64))
    c1 = ortho(p)
    c0 = _cross(c1, p)
    return np.stack([c0, c1, p], axis=2)


def from_frame(m: np.ndarray, q) -> np.ndarray:
    """Standard coordinates of frame-local q: p = M·q (ref point.rs:198)."""
    q = np.atleast_2d(np.asarray(q, dtype=np.float64))
    return np.einsum("nij,nj->ni", np.atleast_3d(m).reshape(-1, 3, 3), q)


def to_frame(m: np.ndarray, p) -> np.ndarray:
    """Frame-local coordinates of p: q = Mᵀ·p (ref point.rs:206-209)."""
    p = np.atleast_2d(np.asarray(p, dtype=np.float64))
    return np.einsum("nji,nj->ni", np.atleast_3d(m).reshape(-1, 3, 3), p)


def planar_centroid(a, b, c) -> np.ndarray:
    """(a+b+c)/3 — centroid of the planar triangle through the sphere's
    interior (ref point.rs:371-376; NOT projected to the surface)."""
    a = np.atleast_2d(np.asarray(a, dtype=np.float64))
    b = np.atleast_2d(np.asarray(b, dtype=np.float64))
    c = np.atleast_2d(np.asarray(c, dtype=np.float64))
    return (a + b + c) / 3.0
