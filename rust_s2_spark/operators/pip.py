"""Point-in-polygon join (SURVEY.md §2.8).

Plan: cover the loop (RegionCoverer) → pushdown range predicate on
the biased cell id → rows in interior-covering cells pass without
geometry; boundary-cell rows get the crossing-parity kernel.

The boundary kernel uses a PER-CELL EDGE INDEX (the reference design:
SURVEY §2.8 PIP recipe / ref edge_clipping.rs:602-669 machinery): each
boundary covering cell is indexed driver-side with (a) the containment
state of its center and (b) the conservative set of polygon edges whose
bound intersects the cell's bound. A boundary row then only tests the
SHORT geodesic cell-center→point against its cell's candidate edges —
S2 cells are intersections of four hemispheres, hence geodesically
convex, so any edge crossing that segment must intersect the cell and
is guaranteed to be in the index. Kernel peak memory is
O(batch × edges-per-cell), not O(batch × total-edges): a 10k-vertex
polygon no longer builds a 2.4 GB array per Arrow batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..geometry import RegionCoverer
from ..geometry.loop import Loop
from ..kernels import cellid as k
from .covering_join import (
    CoveringRanges,
    covering_ranges,
    interior_predicate,
    range_predicate,
)

PIP_COVERER = RegionCoverer(min_level=0, max_level=18, level_mod=1, max_cells=64)


def loop_contains_expr(region, lat_col: str, lng_col: str) -> Column:
    """Exact PIP as an Arrow-batched pandas UDF: crossing parity per
    loop, XORed across loops for polygons with holes. Accepts a Loop or
    a Polygon (anything with ``.loops`` or ``.vertices``/``.anchor``)."""
    loops = getattr(region, "loops", None) or [region]
    loop_verts = [lp.vertices.copy() for lp in loops]
    loop_anchors = [lp.anchor.copy() for lp in loops]

    @pandas_udf(BooleanType())
    def _pip(lat: pd.Series, lng: pd.Series) -> pd.Series:
        from ..kernels import edges as ek

        la = np.radians(lat.to_numpy(np.float64))
        lo = np.radians(lng.to_numpy(np.float64))
        cl = np.cos(la)
        p = np.stack([np.cos(lo) * cl, np.sin(lo) * cl, np.sin(la)], axis=1)
        n = len(p)
        inside = np.zeros(n, dtype=bool)
        for verts, anchor in zip(loop_verts, loop_anchors):
            m = verts.shape[0]
            a = np.repeat(verts, n, axis=0)
            b = np.repeat(np.roll(verts, -1, axis=0), n, axis=0)
            pp = np.tile(p, (m, 1))
            q = np.broadcast_to(anchor, (m * n, 3))
            crossings = np.asarray(ek.simple_crossing(q, pp, a, b)).reshape(m, n)
            inside ^= crossings.sum(axis=0) % 2 == 1
        return pd.Series(inside)

    return _pip(F.col(lat_col), F.col(lng_col))


_EPS = 2.220446049250313e-16


def _edge_rect_bounds(A: np.ndarray, B: np.ndarray):
    """Vectorized per-edge RectBounder bounds: ONE numpy pass over all
    edges instead of one Python RectBounder + two add_point calls each
    (the round-3 verdict's driver-side ceiling on the PIP path — a
    100k-edge coastline built ~10M Python calls before the job started).

    Mirrors rect_bounder.py add_point(a); add_point(b); get_bound()
    branch for branch (ref rect_bounder.rs:83-264): the union with the
    first point's rect is a no-op (both endpoint lat/lngs are already in
    the edge intervals), so the result per edge is exactly the scalar
    bound. Returns (lat_lo, lat_hi, lng_lo, lng_hi) with S1 conventions
    (-pi normalized to pi; inverted lo > hi wraps the date line; full =
    (-pi, pi)); tests/test_edges_pip.py pins parity vs the scalar path.
    """
    pi, half = np.pi, np.pi / 2
    ax, ay, az = A[:, 0], A[:, 1], A[:, 2]
    bx, by, bz = B[:, 0], B[:, 1], B[:, 2]
    a_lat = np.arctan2(az, np.hypot(ax, ay))
    b_lat = np.arctan2(bz, np.hypot(bx, by))
    a_lng = np.arctan2(ay, ax)
    b_lng = np.arctan2(by, bx)
    a_lng = np.where(a_lng == -pi, pi, a_lng)
    b_lng = np.where(b_lng == -pi, pi, b_lng)

    # N = (A-B) x (A+B) — the robust 2*(A x B)
    d = A - B
    n = np.cross(d, A + B)
    n_norm = np.sqrt((n * n).sum(axis=1))
    degen = n_norm < 1.91346e-15
    anti = (A * B).sum(axis=1) < 0
    full = degen & anti

    lat_lo = np.minimum(a_lat, b_lat)
    lat_hi = np.maximum(a_lat, b_lat)
    # S1Interval.from_point_pair: shorter arc; may be inverted (wraps pi)
    pdist = b_lng - a_lng
    pdist = np.where(pdist >= 0, pdist, (b_lng + pi) - (a_lng - pi))
    lng_lo = np.where(pdist <= pi, a_lng, b_lng)
    lng_hi = np.where(pdist <= pi, b_lng, a_lng)
    ln = lng_hi - lng_lo
    ln = np.where(ln < 0, ln + 2 * pi, ln)
    lng_full = full | ((~degen) & (ln >= pi - 2 * _EPS))

    # interior min/max latitude (normal branch): M = N x Z = (n1,-n0,0)
    m_a = n[:, 1] * ax - n[:, 0] * ay
    m_b = n[:, 1] * bx - n[:, 0] * by
    m_err = 6.06638e-16 * n_norm + 6.83174e-31
    need = (~degen) & (
        (m_a * m_b < 0) | (np.abs(m_a) <= m_err) | (np.abs(m_b) <= m_err)
    )
    max_lat = np.minimum(
        np.arctan2(np.hypot(n[:, 0], n[:, 1]), np.abs(n[:, 2])) + 3 * _EPS, half
    )
    lat_budget_z = 0.5 * np.sqrt((d * d).sum(axis=1)) * np.sin(max_lat)
    lat_budget = 2 * np.arcsin(np.minimum((1 + 4 * _EPS) * lat_budget_z, 1.0))
    max_delta = 0.5 * (lat_budget - (lat_hi - lat_lo)) + _EPS
    hi_cond = need & (m_a <= m_err) & (m_b >= -m_err)
    lo_cond = need & (m_b <= m_err) & (m_a >= -m_err)
    lat_hi = np.where(hi_cond, np.minimum(max_lat, lat_hi + max_delta), lat_hi)
    lat_lo = np.where(lo_cond, np.maximum(-max_lat, lat_lo - max_delta), lat_lo)

    # get_bound(): expand lat by 2*eps, clamp to valid; polar closure
    lat_lo = np.where(full, -half, np.maximum(lat_lo - 2 * _EPS, -half))
    lat_hi = np.where(full, half, np.minimum(lat_hi + 2 * _EPS, half))
    lng_full = lng_full | (lat_lo == -half) | (lat_hi == half)
    lng_lo = np.where(lng_full, -pi, lng_lo)
    lng_hi = np.where(lng_full, pi, lng_hi)
    return lat_lo, lat_hi, lng_lo, lng_hi


def _rects_intersect_arrays(
    c_lat_lo, c_lat_hi, c_lng_lo, c_lng_hi, lat_lo, lat_hi, lng_lo, lng_hi
) -> np.ndarray:
    """One rect (scalars, S1 conventions) vs arrays of rects — the
    S1/R1 intersects logic (intervals.py:71,265) as array ops."""
    lat_ok = (c_lat_lo <= lat_hi) & (lat_lo <= c_lat_hi)
    e_inv = lng_lo > lng_hi
    touch = (lng_lo <= c_lng_hi) | (lng_hi >= c_lng_lo)
    if c_lng_lo > c_lng_hi:  # query interval inverted (wraps the date line)
        lng_ok = e_inv | touch
    else:
        both = (lng_lo <= c_lng_hi) & (lng_hi >= c_lng_lo)
        lng_ok = np.where(e_inv, touch, both)
    return lat_ok & lng_ok


def _candidate_edges_vec(cell_rect, lat_lo, lat_hi, lng_lo, lng_hi) -> np.ndarray:
    """Edge ids whose bound intersects ``cell_rect``."""
    return np.nonzero(
        _rects_intersect_arrays(
            cell_rect.lat.lo,
            cell_rect.lat.hi,
            cell_rect.lng.lo,
            cell_rect.lng.hi,
            lat_lo,
            lat_hi,
            lng_lo,
            lng_hi,
        )
    )[0]


def _centers_inside_prefiltered(lp, centers: np.ndarray, bounds) -> np.ndarray:
    """Crossing-parity state of each center vs ONE loop, with a rect
    prefilter: an edge can cross the anchor→center geodesic only if its
    RectBounder bound intersects that segment's bound (any crossing
    point lies on both geodesics, hence inside both bounds), so
    non-candidates contribute crossing=False and the parity over the
    candidate subset equals the parity over all edges. Cuts the exact
    simple_crossing work from O(centers x edges) to the few edges near
    each query segment — the piece that kept the 100k-edge index build
    at ~20 s even after the bound pass was vectorized."""
    from ..kernels import edges as ek

    verts = lp.vertices
    va = verts
    vb = np.roll(verts, -1, axis=0)
    anchors = np.broadcast_to(np.asarray(lp.anchor, dtype=np.float64), centers.shape)
    s_bounds = _edge_rect_bounds(np.ascontiguousarray(anchors), centers)
    out = np.zeros(len(centers), dtype=bool)
    for i in range(len(centers)):
        cand = _rects_intersect_arrays(
            s_bounds[0][i], s_bounds[1][i], s_bounds[2][i], s_bounds[3][i], *bounds
        )
        ids = np.nonzero(cand)[0]
        if len(ids) == 0:
            continue
        q = np.broadcast_to(np.asarray(lp.anchor, dtype=np.float64), (len(ids), 3))
        p = np.broadcast_to(centers[i], (len(ids), 3))
        crossings = np.asarray(ek.simple_crossing(q, p, va[ids], vb[ids]))
        out[i] = crossings.sum() % 2 == 1
    return out


def _build_edge_index(loops, boundary_cells: np.ndarray, fast: bool = True):
    """Driver-side per-cell edge index: for each boundary covering cell,
    (center, center-inside-state, conservative candidate edge ids).

    Candidates = edges whose RectBounder bound intersects the cell's
    rect_bound — both are conservative supersets, so every edge that
    truly intersects the cell is indexed (extra edges only cost cycles:
    simple_crossing is exact, non-crossing extras contribute parity 0).

    ``fast=True`` (default) computes all edge bounds in one vectorized
    numpy pass and the cell x edge intersection as array ops;
    ``fast=False`` keeps the scalar per-edge RectBounder walk as the
    parity oracle (tests pin identical candidate sets).
    """
    from ..geometry.cell import Cell

    A = np.concatenate([lp.vertices for lp in loops])
    B = np.concatenate([np.roll(lp.vertices, -1, axis=0) for lp in loops])
    cells = [Cell(int(c)) for c in boundary_cells]
    centers = np.array([c.center for c in cells], dtype=np.float64)
    indptr = [0]
    edge_ids: list[int] = []
    if fast:
        per_loop = [
            _edge_rect_bounds(lp.vertices, np.roll(lp.vertices, -1, axis=0))
            for lp in loops
        ]
        state = np.zeros(len(cells), dtype=bool)
        for lp, lb in zip(loops, per_loop):
            state ^= _centers_inside_prefiltered(lp, centers, lb)
        bounds = tuple(
            np.concatenate([pl[j] for pl in per_loop]) for j in range(4)
        )
        for c in cells:
            edge_ids.extend(_candidate_edges_vec(c.rect_bound(), *bounds).tolist())
            indptr.append(len(edge_ids))
    else:
        state = np.zeros(len(cells), dtype=bool)
        for lp in loops:
            state ^= np.asarray(
                lp.contains_points(centers[:, 0], centers[:, 1], centers[:, 2])
            )
        from ..geometry.rect_bounder import RectBounder

        edge_rects = []
        for ea, eb in zip(A, B):
            rb = RectBounder()
            rb.add_point((float(ea[0]), float(ea[1]), float(ea[2])))
            rb.add_point((float(eb[0]), float(eb[1]), float(eb[2])))
            edge_rects.append(rb.get_bound())
        for c in cells:
            cr = c.rect_bound()
            edge_ids.extend(
                i for i, er in enumerate(edge_rects) if cr.intersects_rect(er)
            )
            indptr.append(len(edge_ids))
    return (
        A,
        B,
        centers,
        state,
        np.asarray(indptr, dtype=np.int64),
        np.asarray(edge_ids, dtype=np.int64),
    )


def loop_contains_expr_indexed(
    region, boundary_cells: np.ndarray, lat_col: str, lng_col: str, cell_col: str
) -> Column:
    """Exact PIP for rows already known to lie in a boundary covering
    cell: parity of the short geodesic cell-center→point against the
    cell's indexed edges, XORed with the precomputed center state.
    Batches over (points-in-cell × edges-of-cell) only."""
    loops = getattr(region, "loops", None) or [region]
    A, B, centers, state, indptr, edge_ids = _build_edge_index(loops, boundary_cells)
    rmin_u = k.range_min(np.asarray(boundary_cells, dtype=np.uint64))

    @pandas_udf(BooleanType())
    def _pip(lat: pd.Series, lng: pd.Series, cid: pd.Series) -> pd.Series:
        from ..kernels import edges as ek

        la = np.radians(lat.to_numpy(np.float64))
        lo = np.radians(lng.to_numpy(np.float64))
        cl = np.cos(la)
        p = np.stack([np.cos(lo) * cl, np.sin(lo) * cl, np.sin(la)], axis=1)
        leaf = cid.to_numpy(np.int64).view(np.uint64)
        # boundary cells are a normalized (sorted, disjoint) union: the
        # containing cell is the one whose range_min is the closest <= leaf
        idx = np.searchsorted(rmin_u, leaf, side="right") - 1
        inside = np.zeros(len(p), dtype=bool)
        for g in np.unique(idx):
            m = idx == g
            lo_e, hi_e = int(indptr[g]), int(indptr[g + 1])
            if hi_e == lo_e:
                inside[m] = state[g]
                continue
            eids = edge_ids[lo_e:hi_e]
            a, b = A[eids], B[eids]
            pp = p[m]
            gn, ne = pp.shape[0], len(eids)
            c = np.broadcast_to(centers[g], (gn * ne, 3))
            pr = np.repeat(pp, ne, axis=0)
            ar = np.tile(a, (gn, 1))
            br = np.tile(b, (gn, 1))
            crossings = np.asarray(ek.simple_crossing(c, pr, ar, br)).reshape(gn, ne)
            inside[m] = state[g] ^ (crossings.sum(axis=1) % 2 == 1)
        return pd.Series(inside)

    return _pip(F.col(lat_col), F.col(lng_col), F.col(cell_col))


def pip_filter(
    df: DataFrame,
    loop,
    biased_col: str = "cell_id_biased",
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Rows of df inside the region (a Loop, or a Polygon with holes).

    Two pushed-down scans unioned: interior-covering cells need no
    geometry at all; only boundary-cell rows pay the crossing-parity
    UDF. (A single ``interior OR udf`` filter would evaluate the UDF
    on every candidate row — vectorized UDFs are computed per batch
    before any when()/or short-circuit — and would also break parquet
    filter pushdown.)

    Boundary rows use the per-cell edge index when ``df`` carries
    ``cell_col``, and the all-edges kernel otherwise."""
    outer = PIP_COVERER.covering(loop)
    inner = PIP_COVERER.interior_covering(loop)
    flags = inner.contains_ids(outer.ids)
    lo = [int(x) for x in k.bias_u64(k.range_min(outer.ids))]
    hi = [int(x) for x in k.bias_u64(k.range_max(outer.ids))]
    ranges = CoveringRanges(lo, hi, [bool(b) for b in flags])
    certain = interior_predicate(ranges, biased_col)
    boundary_cells = outer.ids[~flags]
    boundary = CoveringRanges(
        lo=[l for l, i in zip(ranges.lo, ranges.interior) if not i],
        hi=[h for h, i in zip(ranges.hi, ranges.interior) if not i],
        interior=[False] * int((~flags).sum()),
    )
    inner_rows = df.where(certain)
    if len(boundary_cells) == 0:
        return inner_rows
    if cell_col in df.columns:
        exact = loop_contains_expr_indexed(
            loop, boundary_cells, lat_col, lng_col, cell_col
        )
    else:
        exact = loop_contains_expr(loop, lat_col, lng_col)
    boundary_rows = df.where(range_predicate(boundary, biased_col)).where(exact)
    return inner_rows.unionByName(boundary_rows)
