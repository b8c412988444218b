"""Hypothesis property tests over the numpy cell-id kernels (no Spark
session — pure kernel invariants, the randomized half of the
reference's test strategy next to the dumped golden vectors)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from rust_s2_spark.kernels import cellid as k

lat_s = st.floats(min_value=-89.999, max_value=89.999, allow_nan=False)
lng_s = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
level_s = st.integers(min_value=0, max_value=30)


def _leaf(lat, lng):
    return k.cell_from_latlng(np.array([lat]), np.array([lng]))


@settings(max_examples=150, deadline=None)
@given(lat=lat_s, lng=lng_s)
def test_leaf_center_roundtrip(lat, lng):
    """The center of a leaf cell maps back to the same leaf."""
    ids = _leaf(lat, lng)
    clat, clng = k.cell_to_latlng(ids)
    again = k.cell_from_latlng(clat, clng)
    assert again[0] == ids[0]


@settings(max_examples=150, deadline=None)
@given(lat=lat_s, lng=lng_s, lvl=level_s)
def test_token_roundtrip(lat, lng, lvl):
    ids = k.parent(_leaf(lat, lng), lvl)
    tok = k.to_token(ids)
    back = k.from_token(tok)
    assert back[0] == ids[0]


@settings(max_examples=150, deadline=None)
@given(lat=lat_s, lng=lng_s, l1=level_s, l2=level_s)
def test_parent_is_monotone_composition(lat, lng, l1, l2):
    """parent(x, l2) == parent(parent(x, l1), l2) whenever l2 <= l1."""
    if l2 > l1:
        l1, l2 = l2, l1
    leaf = _leaf(lat, lng)
    direct = k.parent(leaf, l2)
    via = k.parent(k.parent(leaf, l1), l2)
    assert direct[0] == via[0]


@settings(max_examples=150, deadline=None)
@given(lat=lat_s, lng=lng_s, lvl=level_s)
def test_range_contains_descendants(lat, lng, lvl):
    """range_min <= leaf <= range_max (unsigned order) for any ancestor,
    and contains() agrees."""
    leaf = _leaf(lat, lng)
    anc = k.parent(leaf, lvl)
    lo, hi = k.range_min(anc), k.range_max(anc)
    b = lambda a: k.bias_u64(a).astype(np.int64)
    assert b(lo)[0] <= b(leaf)[0] <= b(hi)[0]
    assert bool(k.contains(anc, leaf)[0])


@settings(max_examples=100, deadline=None)
@given(lat=lat_s, lng=lng_s, lvl=st.integers(min_value=1, max_value=29),
       steps=st.integers(min_value=-100000, max_value=100000))
def test_advance_wrap_roundtrip(lat, lng, lvl, steps):
    """advance_wrap(advance_wrap(x, n), -n) == x — the wrap variant
    never clamps, so the roundtrip holds for EVERY step count (the
    clamping advance() is pinned against 357 reference-dumped cases
    instead)."""
    ids = k.parent(_leaf(lat, lng), lvl)
    fwd = k.advance_wrap(ids, steps)
    back = k.advance_wrap(fwd, -steps)
    assert back[0] == ids[0]


@settings(max_examples=80, deadline=None)
@given(lat=lat_s, lng=lng_s, lvl=st.integers(min_value=1, max_value=29))
def test_neighbor_symmetry(lat, lng, lvl):
    """Same-level neighborhood is symmetric: b in N(a) => a in N(b)."""
    a = k.parent(_leaf(lat, lng), lvl)
    # all_neighbors returns one array of neighbors PER input row
    for b_ in k.all_neighbors(a, lvl)[0]:
        back = k.all_neighbors(np.array([b_], dtype=np.uint64), lvl)[0]
        assert int(a[0]) in set(int(x) for x in back)


@settings(max_examples=100, deadline=None)
@given(lat=lat_s, lng=lng_s)
def test_xyz_roundtrip_is_unit_and_stable(lat, lng):
    """latlng->xyz is unit-norm and xyz->cell equals latlng->cell."""
    x, y, z = k.latlng_to_xyz(np.array([lat]), np.array([lng]))
    n = x * x + y * y + z * z
    assert abs(n[0] - 1.0) < 1e-12
    via_xyz = k.cell_from_xyz(x, y, z)
    direct = _leaf(lat, lng)
    assert via_xyz[0] == direct[0]


@settings(max_examples=200, deadline=None)
@given(lat=lat_s, lng=lng_s, lvl=level_s)
def test_curve_consecutive_cells_are_edge_neighbors(lat, lng, lvl):
    """The S2 space-filling curve is CONTINUOUS: consecutive cells at
    any level — including across face boundaries via advance_wrap —
    share an edge. (The property that makes Hilbert-clustered storage
    locality-preserving: a range scan walks physically adjacent
    cells.)"""
    c = k.parent(_leaf(lat, lng), np.array([lvl]))
    nxt = k.advance_wrap(c, np.array([1]))
    en = {int(x) for x in k.edge_neighbors(nxt)[0]}
    assert int(c[0]) in en, (lat, lng, lvl, hex(int(c[0])), hex(int(nxt[0])))
    # and symmetrically backwards
    prv = k.advance_wrap(c, np.array([-1]))
    ep = {int(x) for x in k.edge_neighbors(prv)[0]}
    assert int(c[0]) in ep


@settings(max_examples=200, deadline=None)
@given(lat=lat_s, lng=lng_s, lvl=level_s)
def test_curve_leaf_ranges_are_contiguous(lat, lng, lvl):
    """range_min of the next cell continues exactly where range_max of
    the current cell ends (unsigned order) — the invariant that makes
    covering range predicates equivalent to curve-position intervals.
    Leaf ids carry the trailing lsb set, so consecutive leaves differ
    by 2 in id space."""
    c = k.parent(_leaf(lat, lng), np.array([lvl]))
    nxt = k.advance_wrap(c, np.array([1]))
    hi = int(k.range_max(c)[0])
    lo = int(k.range_min(nxt)[0])
    wrapped = lo < int(k.range_min(c)[0])  # advance_wrap cycled past the end
    if not wrapped:
        assert lo == hi + 2, (hex(hi), hex(lo))


# biased toward faces 4-5 (sign bit set: lng ≈ -90° on the equator is
# face 4, lat ≈ -90° is face 5), the poles and the antimeridian
edge_lat_s = st.one_of(
    st.sampled_from([90.0, -90.0, -89.999, 0.0, -45.0]),
    st.floats(min_value=-90.0, max_value=90.0, allow_nan=False),
)
edge_lng_s = st.one_of(
    st.sampled_from([180.0, -180.0, -90.0, -135.0, -45.0]),
    st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
)


@settings(max_examples=150, deadline=None)
@given(
    rows=st.lists(st.tuples(edge_lat_s, edge_lng_s, level_s), min_size=1, max_size=6)
)
def test_ring_cells_own_cell_plus_all_neighbors(rows):
    """The ring-join core's ring, batched with per-row levels: exactly
    {own level-L cell} ∪ all_neighbors as a set, no duplicate (kNN sums
    row counts over it), and the six face cells at level 0."""
    from rust_s2_spark.operators.covering_join import _ring_cells_np

    lat, lng, lvl = (np.array(c) for c in zip(*rows))
    rings = _ring_cells_np(lat, lng, lvl)
    faces = {int(f) for f in k.from_face(np.arange(6))}
    for (la, ln, lv), ring in zip(rows, rings):
        assert len(np.unique(ring)) == len(ring), (la, ln, lv)
        got = {int(x) for x in ring.view(np.uint64)}
        if lv == 0:
            assert got == faces
        else:
            own = k.parent(_leaf(la, ln), lv)
            nbrs = {int(x) for x in k.all_neighbors(own, lv)[0]}
            assert got == {int(own[0])} | nbrs, (la, ln, lv)
