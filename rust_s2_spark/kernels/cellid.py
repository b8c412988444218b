"""Vectorized S2 CellID kernels (numpy-only; no Spark imports).

Every function operates on numpy arrays and is the bit-exact engine
behind the Spark pandas UDFs in ``rust_s2_spark.functions``. Semantics
match the public S2 cell decomposition as exercised by the reference
test suite (/root/reference/src/s2/cellid.rs, stuv.rs, latlng.rs);
golden vectors from those tests gate this module in
tests/test_kernels_golden.py.

Conventions
-----------
* cell ids are ``np.uint64`` inside kernels. At the Spark boundary they
  are reinterpreted as int64 (two's complement) via ``.view()``.
* Unsigned ordering: comparisons/sorts on the Spark side must use the
  biased column ``cell_id ^ (1 << 63)`` (see ``bias_i64``).
* All integer constants are wrapped in ``np.uint64`` — mixing python
  ints with uint64 arrays would silently upcast to float64 in numpy 1.x.
"""

from __future__ import annotations

import math

import numpy as np

from .hilbert import INVERT_MASK, LOOKUP_IJ, LOOKUP_POS, SWAP_MASK

U = np.uint64
I = np.int64

MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61
NUM_FACES = 6
MAX_SIZE = 1 << MAX_LEVEL  # 2^30
WRAP_OFFSET = U(NUM_FACES) << U(POS_BITS)
MIN_I64 = np.int64(-(2**63))

_FACE_UVW_X = np.array(
    # xyz = FACE_AXES[face] @ (u, v, 1) per the cube-face charts
    [
        [0.0, 0.0, 1.0],  # face 0: ( 1,  u,  v)
        [-1.0, 0.0, 0.0],  # face 1: (-u,  1,  v)
        [-1.0, 0.0, 0.0],  # face 2: (-u, -v,  1)
        [0.0, 0.0, -1.0],  # face 3: (-1, -v, -u)
        [0.0, 1.0, 0.0],  # face 4: ( v, -1, -u)
        [0.0, 1.0, 0.0],  # face 5: ( v,  u, -1)
    ]
)


# ---------------------------------------------------------------------------
# small bit helpers


def popcount64(x: np.ndarray) -> np.ndarray:
    """SWAR popcount over uint64 (numpy 1.x has no bitwise_count)."""
    x = x - ((x >> U(1)) & U(0x5555555555555555))
    x = (x & U(0x3333333333333333)) + ((x >> U(2)) & U(0x3333333333333333))
    x = (x + (x >> U(4))) & U(0x0F0F0F0F0F0F0F0F)
    return (x * U(0x0101010101010101)) >> U(56)


def lsb(ids: np.ndarray) -> np.ndarray:
    """Least significant set bit: id & -id (two's complement on uint64)."""
    return ids & ((~ids) + U(1))


def lsb_for_level(level) -> np.ndarray:
    return U(1) << (U(2) * (U(MAX_LEVEL) - np.asarray(level, dtype=np.uint64)))


def level(ids: np.ndarray) -> np.ndarray:
    """Subdivision level: 30 - trailing_zeros/2."""
    return U(MAX_LEVEL) - (popcount64(lsb(ids) - U(1)) >> U(1))


def is_leaf(ids: np.ndarray) -> np.ndarray:
    return (ids & U(1)) != U(0)


def is_face(ids: np.ndarray) -> np.ndarray:
    return (ids & (lsb_for_level(0) - U(1))) == U(0)


def is_valid(ids: np.ndarray) -> np.ndarray:
    return (face(ids) < U(NUM_FACES)) & ((lsb(ids) & U(0x1555555555555555)) != U(0))


def face(ids: np.ndarray) -> np.ndarray:
    return ids >> U(POS_BITS)


def pos(ids: np.ndarray) -> np.ndarray:
    return ids & (U(0xFFFFFFFFFFFFFFFF) >> U(3))


def parent(ids: np.ndarray, lvl) -> np.ndarray:
    b = lsb_for_level(lvl)
    return (ids & ((~b) + U(1))) | b


def immediate_parent(ids: np.ndarray) -> np.ndarray:
    nlsb = lsb(ids) << U(2)
    return (ids & ((~nlsb) + U(1))) | nlsb


def child_position(ids: np.ndarray, lvl) -> np.ndarray:
    shift = U(2) * (U(MAX_LEVEL) - np.asarray(lvl, dtype=np.uint64)) + U(1)
    return (ids >> shift) & U(3)


def children(ids: np.ndarray) -> np.ndarray:
    """(n,4) array of the four children in Hilbert order."""
    b = lsb(ids)
    ch0 = ids - b + (b >> U(2))
    half = b >> U(1)
    return np.stack([ch0, ch0 + half, ch0 + U(2) * half, ch0 + U(3) * half], axis=1)


def range_min(ids: np.ndarray) -> np.ndarray:
    return ids - (lsb(ids) - U(1))


def range_max(ids: np.ndarray) -> np.ndarray:
    return ids + (lsb(ids) - U(1))


def contains(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (range_min(a) <= b) & (b <= range_max(a))


def intersects(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (range_min(b) <= range_max(a)) & (range_max(b) >= range_min(a))


def child_begin_at_level(ids: np.ndarray, lvl) -> np.ndarray:
    return ids - lsb(ids) + lsb_for_level(lvl)


def child_end_at_level(ids: np.ndarray, lvl) -> np.ndarray:
    return ids + lsb(ids) + lsb_for_level(lvl)


def next_id(ids: np.ndarray) -> np.ndarray:
    return ids + (lsb(ids) << U(1))


def prev_id(ids: np.ndarray) -> np.ndarray:
    return ids - (lsb(ids) << U(1))


def next_wrap(ids: np.ndarray) -> np.ndarray:
    n = next_id(ids)
    return np.where(n < WRAP_OFFSET, n, n - WRAP_OFFSET)


def prev_wrap(ids: np.ndarray) -> np.ndarray:
    p = prev_id(ids)
    return np.where(p < WRAP_OFFSET, p, p + WRAP_OFFSET)


def common_ancestor_level(a: np.ndarray, b: np.ndarray):
    """Level of lowest common ancestor; -1 where there is none."""
    bits = a ^ b
    bits = np.maximum(bits, lsb(a))
    bits = np.maximum(bits, lsb(b))
    msb_pos = U(63) - _clz(bits)
    out = (I(60) - msb_pos.astype(np.int64)) >> I(1)
    return np.where(msb_pos > U(60), I(-1), out)


def _clz(x: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64 via float64 exponent extraction.

    Exact for any x: fold x to its MSB power of two first (integer ops),
    then a power of two converts to float64 exactly.
    """
    y = x.copy()
    for s in (1, 2, 4, 8, 16, 32):
        y |= y >> U(s)
    msb = y - (y >> U(1))  # isolated top bit (0 stays 0)
    # exponent of an exact power of two via frexp
    m = msb.astype(np.float64)
    exp = np.zeros(len(x), dtype=np.int64)
    nz = m > 0
    exp[nz] = np.frexp(m[nz])[1] - 1  # log2
    return np.where(nz, U(63) - exp.astype(np.uint64), U(64))


def distance_from_begin(ids: np.ndarray) -> np.ndarray:
    return ids >> (U(2) * (U(MAX_LEVEL) - level(ids)) + U(1))


def advance(ids: np.ndarray, steps: np.ndarray) -> np.ndarray:
    """Advance/retreat along the Hilbert curve at the current level,
    clamped to [begin, end] (ref cellid.rs:563-583)."""
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    steps = np.atleast_1d(np.asarray(steps, dtype=np.int64))
    step_shift = np.atleast_1d(
        (U(2) * (U(MAX_LEVEL) - level(ids)) + U(1)).astype(np.uint64)
    )
    min_steps = -((ids >> step_shift).astype(np.int64))
    max_steps = ((WRAP_OFFSET + lsb(ids) - ids) >> step_shift).astype(np.int64)
    s = np.clip(steps, min_steps, max_steps)
    out = ids + (s << step_shift.astype(np.int64)).view(np.uint64)
    return np.atleast_1d(out)


def advance_wrap(ids: np.ndarray, steps) -> np.ndarray:
    """Advance along the Hilbert curve with wraparound at the curve's
    ends (ref cellid.rs advance_wrap semantics)."""
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    steps = np.atleast_1d(np.asarray(steps, dtype=np.int64))
    steps = np.broadcast_to(steps, ids.shape).astype(np.int64).copy()
    shift = np.atleast_1d(
        (U(2) * (U(MAX_LEVEL) - level(ids)) + U(1)).astype(np.uint64)
    )
    wrap = (WRAP_OFFSET >> shift).astype(np.int64)
    neg = steps < 0
    min_steps = -((ids >> shift).astype(np.int64))
    m = neg & (steps < min_steps)
    # Rust's % is truncated (remainder in (-wrap, 0] for negative steps);
    # numpy's is floored (in [0, wrap)). Emulate: r_trunc = r_floor - wrap
    # when r_floor != 0 (ref cellid.rs:510-518).
    r = steps[m] % wrap[m]
    steps[m] = np.where(r != 0, r - wrap[m], r)
    m2 = neg & (steps < min_steps)
    steps[m2] += wrap[m2]
    pos = ~neg
    max_steps = ((WRAP_OFFSET - ids) >> shift).astype(np.int64)
    p = pos & (steps > max_steps)
    steps[p] = steps[p] % wrap[p]
    p2 = pos & (steps > max_steps)
    steps[p2] -= wrap[p2]
    return np.atleast_1d(ids + (steps << shift.astype(np.int64)).view(np.uint64))


def cell_area_exact(ids: np.ndarray) -> np.ndarray:
    """Exact spherical area of each cell: sum of the two triangles of
    its (normalized) vertex quad (ref cell.rs:213-228 via point_area)."""
    from . import edges as ek

    ids = np.asarray(ids, dtype=np.uint64)
    f, i, j, _ = to_face_ij_orientation(ids)
    lvl = level(ids).astype(np.int64)
    size = size_ij(lvl)
    x_lo = i & (-size)
    y_lo = j & (-size)
    corners = []
    for di, dj in ((0, 0), (1, 0), (1, 1), (0, 1)):
        u = st_to_uv(ij_to_stmin(x_lo + di * size))
        v = st_to_uv(ij_to_stmin(y_lo + dj * size))
        x, y, z = face_uv_to_xyz(f.astype(np.int64), u, v)
        p = np.stack([x, y, z], axis=1)
        p /= np.linalg.norm(p, axis=1, keepdims=True)
        corners.append(p)
    a, b, c, d = corners
    return ek.point_area(a, b, c) + ek.point_area(a, c, d)


def bound_uv(ids: np.ndarray):
    """(u_lo, u_hi, v_lo, v_hi) of each cell on its face
    (ref cellid.rs bound_uv via ij_to_stmin)."""
    ids = np.asarray(ids, dtype=np.uint64)
    _, i, j, _ = to_face_ij_orientation(ids)
    lvl = level(ids).astype(np.int64)
    size = size_ij(lvl)
    x_lo = i & (-size)
    y_lo = j & (-size)
    u_lo = st_to_uv(ij_to_stmin(x_lo))
    u_hi = st_to_uv(ij_to_stmin(x_lo + size))
    v_lo = st_to_uv(ij_to_stmin(y_lo))
    v_hi = st_to_uv(ij_to_stmin(y_lo + size))
    return u_lo, u_hi, v_lo, v_hi


def ij_level_to_bound_uv(i, j, level: int):
    """(u_lo, u_hi, v_lo, v_hi) of the level-L cell containing leaf
    (i, j) — ij may be out of [0, 2^30) and is truncated by the cell
    grid like the reference (ref cellid.rs:947-964)."""
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    cell_size = size_ij(np.int64(level))
    x_lo = i & (-cell_size)
    y_lo = j & (-cell_size)
    return (
        st_to_uv(ij_to_stmin(x_lo)),
        st_to_uv(ij_to_stmin(x_lo + cell_size)),
        st_to_uv(ij_to_stmin(y_lo)),
        st_to_uv(ij_to_stmin(y_lo + cell_size)),
    )


def _expand_endpoint(u, max_v, sin_dist):
    """ref cellid.rs:691-695."""
    sin_u_shift = sin_dist * np.sqrt((1.0 + u * u + max_v * max_v) / (1.0 + u * u))
    cos_u_shift = np.sqrt(1.0 - sin_u_shift * sin_u_shift)
    return (cos_u_shift * u + sin_u_shift) / (cos_u_shift - sin_u_shift * u)


def expanded_by_distance_uv(u_lo, u_hi, v_lo, v_hi, distance_rad: float):
    """Expand a (u,v)-rect so it contains all points within `distance_rad`
    (on the sphere) of its boundary; negative distance shrinks
    (ref cellid.rs:701-740, formula verbatim; verified against
    reference-dumped expanded_uv goldens). Vectorized over rect arrays —
    used for buffered point-radius joins without a covering pass."""
    u_lo, u_hi, v_lo, v_hi = (
        np.asarray(a, dtype=np.float64) for a in (u_lo, u_hi, v_lo, v_hi)
    )
    max_u = np.maximum(np.abs(u_lo), np.abs(u_hi))
    max_v = np.maximum(np.abs(v_lo), np.abs(v_hi))
    sin_dist = math.sin(distance_rad)
    return (
        _expand_endpoint(u_lo, max_v, -sin_dist),
        _expand_endpoint(u_hi, max_v, sin_dist),
        _expand_endpoint(v_lo, max_u, -sin_dist),
        _expand_endpoint(v_hi, max_u, sin_dist),
    )


def cell_area_average(ids: np.ndarray) -> np.ndarray:
    """AVG_AREA metric value at each cell's level."""
    from . import metric as metrics

    lvl = level(np.asarray(ids, dtype=np.uint64)).astype(np.int64)
    return metrics.AVG_AREA.deriv * np.power(2.0, -2.0 * lvl)


# ---------------------------------------------------------------------------
# st/uv projections (quadratic — the only projection in the reference)


def st_to_uv(s: np.ndarray) -> np.ndarray:
    s = np.asarray(s, dtype=np.float64)
    return np.where(
        s >= 0.5,
        (1.0 / 3.0) * (4.0 * s * s - 1.0),
        (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)),
    )


def uv_to_st(u: np.ndarray) -> np.ndarray:
    u = np.asarray(u, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        return np.where(
            u >= 0.0,
            0.5 * np.sqrt(1.0 + 3.0 * u),
            1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u),
        )


def siti_to_st(si: np.ndarray) -> np.ndarray:
    max_siti = float(MAX_SIZE * 2)
    si = np.asarray(si, dtype=np.float64)
    return np.where(si > max_siti, 1.0, si / max_siti)


def st_to_ij(s: np.ndarray) -> np.ndarray:
    v = np.floor(float(MAX_SIZE) * np.asarray(s, dtype=np.float64))
    return np.clip(v, 0, MAX_SIZE - 1).astype(np.int64)


def ij_to_stmin(i: np.ndarray) -> np.ndarray:
    return np.asarray(i, dtype=np.float64) / float(MAX_SIZE)


def size_ij(lvl) -> np.ndarray:
    return np.asarray(1, dtype=np.int64) << (
        np.int64(MAX_LEVEL) - np.asarray(lvl, dtype=np.int64)
    )


# ---------------------------------------------------------------------------
# xyz <-> face/(u,v)


def xyz_to_face(x, y, z):
    """Largest-|component| axis picks the face; sign picks front/back."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    f = np.zeros(np.shape(x), dtype=np.int64)
    value = np.array(x, dtype=np.float64, copy=True)
    m = ay > ax
    f[m] = 1
    value = np.where(m, y, value)
    m = az > np.abs(value)
    f[m] = 2
    value = np.where(m, z, value)
    return np.where(value < 0.0, f + 3, f)


def face_xyz_to_uv(f, x, y, z):
    """(u, v) on a known face chart (projection is scale-invariant)."""
    u = np.empty(np.shape(x), dtype=np.float64)
    v = np.empty(np.shape(x), dtype=np.float64)
    charts = [
        lambda: (y / x, z / x),
        lambda: (-x / y, z / y),
        lambda: (-x / z, -y / z),
        lambda: (z / x, y / x),
        lambda: (z / y, -x / y),
        lambda: (-y / z, -x / z),
    ]
    with np.errstate(divide="ignore", invalid="ignore"):
        for k in range(6):
            m = f == k
            if np.any(m):
                uk, vk = charts[k]()
                u = np.where(m, uk, u)
                v = np.where(m, vk, v)
    return u, v


def xyz_to_face_uv(x, y, z):
    f = xyz_to_face(x, y, z)
    u, v = face_xyz_to_uv(f, x, y, z)
    return f, u, v


def face_uv_to_xyz(f, u, v):
    """Inverse chart: face-local (u, v) to (non-unit) xyz."""
    one = np.ones(np.shape(u), dtype=np.float64)
    xs = [one, -u, -u, -one, v, v]
    ys = [u, one, -v, -v, -one, u]
    zs = [v, v, one, -u, -u, -one]
    x = np.empty(np.shape(u), dtype=np.float64)
    y = np.empty(np.shape(u), dtype=np.float64)
    z = np.empty(np.shape(u), dtype=np.float64)
    for k in range(6):
        m = f == k
        if np.any(m):
            x = np.where(m, xs[k], x)
            y = np.where(m, ys[k], y)
            z = np.where(m, zs[k], z)
    return x, y, z


# ---------------------------------------------------------------------------
# Hilbert encode/decode


def from_face_ij(f, i, j) -> np.ndarray:
    """(face, i, j) leaf coordinates -> 64-bit cell id.

    Eight rounds of 4-bit lookups against LOOKUP_POS, exactly the
    public S2 bit-interleaving scheme (ref cellid.rs:129-148).
    """
    f = np.asarray(f, dtype=np.uint64)
    i = np.asarray(i, dtype=np.uint64)
    j = np.asarray(j, dtype=np.uint64)
    n = f << U(POS_BITS - 1)
    bits = f & U(SWAP_MASK)
    mask = U((1 << 4) - 1)
    for k in range(7, -1, -1):
        sh = U(k * 4)
        bits += ((i >> sh) & mask) << U(6)
        bits += ((j >> sh) & mask) << U(2)
        bits = LOOKUP_POS[bits]
        n |= (bits >> U(2)) << U(k * 8)
        bits &= U(SWAP_MASK | INVERT_MASK)
    return n * U(2) + U(1)


_LOOKUP_IJ_LIST = None


def _to_face_ij_orientation_scalar(cid: int):
    """Pure-int fast path for single ids — same bit math as the
    vectorized version below (the driver-side coverer constructs Cells
    one at a time; numpy's per-call overhead dominates at ~150µs/cell,
    this path is ~10µs). Bit-identical by construction (integer ops on
    the same lookup table)."""
    global _LOOKUP_IJ_LIST
    if _LOOKUP_IJ_LIST is None:
        _LOOKUP_IJ_LIST = LOOKUP_IJ.tolist()
    f = cid >> POS_BITS
    orient = f & SWAP_MASK
    i = 0
    j = 0
    nbits = MAX_LEVEL - 7 * 4
    for kk in range(7, -1, -1):
        orient += ((cid >> (kk * 8 + 1)) & ((1 << (2 * nbits)) - 1)) << 2
        orient = _LOOKUP_IJ_LIST[orient]
        i += (orient >> 6) << (kk * 4)
        j += ((orient >> 2) & 15) << (kk * 4)
        orient &= SWAP_MASK | INVERT_MASK
        nbits = 4
    low = cid & ((1 << 64) - cid)  # lsb = cid & -cid (mod 2^64)
    if low & 0x1111111111111110:
        orient ^= SWAP_MASK
    return f, i, j, orient


def to_face_ij_orientation(ids: np.ndarray):
    """Inverse of from_face_ij: id -> (face, i, j, orientation)."""
    ids = np.asarray(ids, dtype=np.uint64)
    if ids.size == 1:
        f, i, j, o = _to_face_ij_orientation_scalar(int(ids.reshape(-1)[0]))
        return (
            np.full(ids.shape, f, dtype=np.uint64),
            np.full(ids.shape, i, dtype=np.int64),
            np.full(ids.shape, j, dtype=np.int64),
            np.full(ids.shape, o, dtype=np.uint64),
        )
    f = ids >> U(POS_BITS)
    orient = f & U(SWAP_MASK)
    i = np.zeros(ids.shape, dtype=np.uint64)
    j = np.zeros(ids.shape, dtype=np.uint64)
    nbits = MAX_LEVEL - 7 * 4  # 2 on the first round, 4 after
    for k in range(7, -1, -1):
        orient = orient + (
            ((ids >> U(k * 8 + 1)) & U((1 << (2 * nbits)) - 1)) << U(2)
        )
        orient = LOOKUP_IJ[orient]
        i += (orient >> U(6)) << U(k * 4)
        j += ((orient >> U(2)) & U(15)) << U(k * 4)
        orient &= U(SWAP_MASK | INVERT_MASK)
        nbits = 4
    flip = (lsb(ids) & U(0x1111111111111110)) != U(0)
    orient = orient ^ np.where(flip, U(SWAP_MASK), U(0))
    return f, i.astype(np.int64), j.astype(np.int64), orient


def from_face_ij_wrap(f, i, j) -> np.ndarray:
    """from_face_ij for (i, j) possibly one step beyond the face border:
    re-projects through xyz onto the adjacent face (ref cellid.rs:101-126).
    """
    i = np.clip(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    scale = 1.0 / float(MAX_SIZE)
    limit = 1.0 + np.finfo(np.float64).eps
    u = np.clip(scale * (2.0 * i + 1.0 - float(MAX_SIZE)), -limit, limit)
    v = np.clip(scale * (2.0 * j + 1.0 - float(MAX_SIZE)), -limit, limit)
    x, y, z = face_uv_to_xyz(np.asarray(f, dtype=np.int64), u, v)
    nf, nu, nv = xyz_to_face_uv(x, y, z)
    return from_face_ij(nf, st_to_ij(0.5 * (nu + 1.0)), st_to_ij(0.5 * (nv + 1.0)))


def from_face_ij_same(f, i, j, same_face) -> np.ndarray:
    inside = from_face_ij(f, np.maximum(i, 0), np.maximum(j, 0))
    outside = from_face_ij_wrap(f, i, j)
    return np.where(same_face, inside, outside)


def from_face(f) -> np.ndarray:
    return (np.asarray(f, dtype=np.uint64) << U(POS_BITS)) + lsb_for_level(0)


def from_face_pos_level(f, p, lvl) -> np.ndarray:
    """Cell at ``lvl`` containing Hilbert position ``p`` on face ``f``
    (ref cellid.rs:91-93: ``CellID((face << POS_BITS) + (pos | 1)).parent(level)``)."""
    ids = (np.asarray(f, dtype=np.uint64) << U(POS_BITS)) + (
        np.asarray(p, dtype=np.uint64) | U(1)
    )
    return parent(ids, lvl)


def child_iter(cid: int, lvl: int | None = None):
    """Hilbert-order iterator over the children (or level-``lvl``
    descendants) of a cell (ref cellid.rs:847-860). Scalar generator —
    set-oriented code should use ``children``/``child_begin_at_level``."""
    cid = int(cid)
    low = cid & -cid
    cur_lvl = 30 - ((low.bit_length() - 1) >> 1)
    target = cur_lvl + 1 if lvl is None else int(lvl)
    lsb_t = 1 << (2 * (30 - target))
    cur = cid - low + lsb_t
    end = cid + low + lsb_t
    while cur != end:
        yield cur
        cur += 2 * lsb_t


# ---------------------------------------------------------------------------
# lat/lng <-> cell id


def latlng_to_xyz(lat_deg, lng_deg):
    phi = np.radians(np.asarray(lat_deg, dtype=np.float64))
    theta = np.radians(np.asarray(lng_deg, dtype=np.float64))
    cosphi = np.cos(phi)
    return np.cos(theta) * cosphi, np.sin(theta) * cosphi, np.sin(phi)


def xyz_to_latlng_deg(x, y, z):
    lat = np.arctan2(z, np.sqrt(x * x + y * y))
    lng = np.arctan2(y, x)
    return np.degrees(lat), np.degrees(lng)


def cell_from_xyz(x, y, z) -> np.ndarray:
    f, u, v = xyz_to_face_uv(x, y, z)
    return from_face_ij(f, st_to_ij(uv_to_st(u)), st_to_ij(uv_to_st(v)))


def cell_from_latlng(lat_deg, lng_deg) -> np.ndarray:
    return cell_from_xyz(*latlng_to_xyz(lat_deg, lng_deg))


def face_siti(ids: np.ndarray):
    """Center (face, si, ti) of a cell with the leaf/parity delta rule."""
    f, i, j, _ = to_face_ij_orientation(ids)
    leaf = (ids & U(1)) != U(0)
    parity = ((i ^ (ids.view(np.int64) >> I(2))) & I(1)) != 0
    delta = np.where(leaf, I(1), np.where(parity, I(2), I(0)))
    return f, I(2) * i + delta, I(2) * j + delta


def cell_to_xyz(ids: np.ndarray):
    """Center of the cell as a (non-normalized) xyz triple."""
    f, si, ti = face_siti(ids)
    u = st_to_uv(siti_to_st(si))
    v = st_to_uv(siti_to_st(ti))
    return face_uv_to_xyz(f.astype(np.int64), u, v)


# reference name for the non-normalized center (cellid.rs:426-433)
raw_point = cell_to_xyz


def cell_to_latlng(ids: np.ndarray):
    x, y, z = cell_to_xyz(ids)
    return xyz_to_latlng_deg(x, y, z)


# ---------------------------------------------------------------------------
# tokens


def to_token(ids: np.ndarray) -> list[str]:
    """Hex tokens with trailing zeros stripped; id 0 -> 'X'.

    Vectorized via one bytes->hex pass over the big-endian view.
    """
    ids = np.ascontiguousarray(np.asarray(ids, dtype=np.uint64))
    hexstr = ids.astype(">u8").tobytes().hex()
    out = []
    for k in range(len(ids)):
        t = hexstr[k * 16 : (k + 1) * 16].rstrip("0")
        out.append(t if t else "X")
    return out


_HEX = set("0123456789abcdefABCDEF")


def from_token(tokens) -> np.ndarray:
    out = np.zeros(len(tokens), dtype=np.uint64)
    for k, t in enumerate(tokens):
        if not t or len(t) > 16 or not set(t) <= _HEX:
            continue
        out[k] = U(int(t, 16) << (4 * (16 - len(t))))
    return out


# ---------------------------------------------------------------------------
# neighbors


def edge_neighbors(ids: np.ndarray) -> np.ndarray:
    """(n, 4) neighbors across the four edges (down/right/up/left)."""
    lvl = level(ids)
    size = size_ij(lvl)
    f, i, j, _ = to_face_ij_orientation(ids)
    return np.stack(
        [
            parent(from_face_ij_wrap(f, i, j - size), lvl),
            parent(from_face_ij_wrap(f, i + size, j), lvl),
            parent(from_face_ij_wrap(f, i, j + size), lvl),
            parent(from_face_ij_wrap(f, i - size, j), lvl),
        ],
        axis=1,
    )


def vertex_neighbors(ids: np.ndarray, lvl) -> list[np.ndarray]:
    """Per-row list of 3-4 neighbors sharing the closest vertex at lvl."""
    lvl = int(lvl)
    half = size_ij(lvl + 1)
    size = half << I(1)
    f, i, j, _ = to_face_ij_orientation(ids)

    i_hi = (i & half) != 0
    isame = np.where(i_hi, i + size < MAX_SIZE, i - size >= 0)
    ioffset = np.where(i_hi, size, -size)
    j_hi = (j & half) != 0
    jsame = np.where(j_hi, j + size < MAX_SIZE, j - size >= 0)
    joffset = np.where(j_hi, size, -size)

    n0 = parent(from_face_ij(f, i, j), lvl)
    n1 = parent(from_face_ij_same(f, i + ioffset, j, isame), lvl)
    n2 = parent(from_face_ij_same(f, i, j + joffset, jsame), lvl)
    n3 = parent(
        from_face_ij_same(f, i + ioffset, j + joffset, isame & jsame), lvl
    )
    keep3 = isame | jsame
    out = []
    for k in range(len(ids)):
        row = [n0[k], n1[k], n2[k]]
        if keep3[k]:
            row.append(n3[k])
        out.append(np.array(row, dtype=np.uint64))
    return out


def _vertex_neighbors_padded(ids: np.ndarray, lvl: int):
    """(n,4) uint64 + per-row count (3 or 4): vertex_neighbors without the
    per-row list assembly (missing 4th slot = sentinel 2^64-1)."""
    lvl = int(lvl)
    half = size_ij(lvl + 1)
    size = half << I(1)
    f, i, j, _ = to_face_ij_orientation(ids)
    i_hi = (i & half) != 0
    isame = np.where(i_hi, i + size < MAX_SIZE, i - size >= 0)
    ioffset = np.where(i_hi, size, -size)
    j_hi = (j & half) != 0
    jsame = np.where(j_hi, j + size < MAX_SIZE, j - size >= 0)
    joffset = np.where(j_hi, size, -size)
    n0 = parent(from_face_ij(f, i, j), lvl)
    n1 = parent(from_face_ij_same(f, i + ioffset, j, isame), lvl)
    n2 = parent(from_face_ij_same(f, i, j + joffset, jsame), lvl)
    n3 = parent(from_face_ij_same(f, i + ioffset, j + joffset, isame & jsame), lvl)
    keep3 = isame | jsame
    pad = np.full((len(ids), 4), SENTINEL, dtype=np.uint64)
    pad[:, 0], pad[:, 1], pad[:, 2] = n0, n1, n2
    pad[keep3, 3] = n3[keep3]
    return pad, np.where(keep3, 4, 3).astype(np.int64)


SENTINEL = np.uint64(0xFFFFFFFFFFFFFFFF)


def cap_fast_covering(lat_deg, lng_deg, radius_deg):
    """Batched fast_covering of per-row caps (SURVEY.md §2.5 #41) at
    RegionCoverer defaults (min_level=0, max_level=30, level_mod=1,
    max_cells>=4) — the per-row image-footprint covering path, fully
    vectorized (no Python per row).

    Bit-parity contract: per row this equals
    ``RegionCoverer().fast_covering(Cap.from_latlng_degrees(...)).ids``
    (cap.rs:341-356 cell_union_bound + region.rs:504-549 normalize;
    pinned by tests/test_functions_extra.py against the scalar path,
    which itself matches tests/golden/refdump.jsonl cell-for-cell).

    Returns (padded (n,6) uint64 with SENTINEL fill, counts (n,)).
    Rows are sorted unsigned, deduped, 4-sibling-collapsed — i.e. each
    row is a normalized CellUnion.
    """
    lat = np.asarray(lat_deg, dtype=np.float64)
    lng = np.asarray(lng_deg, dtype=np.float64)
    rad = np.radians(np.asarray(radius_deg, dtype=np.float64))
    # Cap.from_latlng_degrees stores chord², cell_union_bound re-derives
    # the angle — replicate the round trip so ilogb sees the same double.
    s = 2.0 * np.sin(0.5 * np.minimum(np.maximum(rad, 0.0), math.pi))
    c2 = np.where(rad < 0.0, -1.0, s * s)
    x, y, z = latlng_to_xyz(lat, lng)
    return cap_fast_covering_xyz(x, y, z, c2)


def cap_fast_covering_xyz(x, y, z, radius2):
    """cap_fast_covering for caps given as (center xyz, squared-chord
    radius) — the exact Cap representation, so this is bit-identical to
    ``RegionCoverer().fast_covering(Cap(center, radius2))`` for ANY cap."""
    c2 = np.asarray(radius2, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        rr = np.where(c2 < 0.0, -1.0, 2.0 * np.arcsin(0.5 * np.sqrt(np.abs(c2))))
    # MIN_WIDTH.max_level (dim=1): ilogb(deriv/val), clamped; val<=0 -> 30
    deriv = 2.0 * math.sqrt(2.0) / 3.0
    with np.errstate(divide="ignore", invalid="ignore"):
        q = deriv / rr
    _, e = np.frexp(q)
    lvl = np.where(rr <= 0.0, 30, np.clip(e - 1, 0, 30)).astype(np.int64)

    n = len(c2)
    out = np.full((n, 6), SENTINEL, dtype=np.uint64)
    counts = np.zeros(n, dtype=np.int64)
    face_rows = lvl == 0
    if face_rows.any():
        faces = from_face(np.arange(6))
        out[face_rows, :] = faces[None, :]
        counts[face_rows] = 6
    rest = ~face_rows
    if rest.any():
        ids = cell_from_xyz(
            np.asarray(x, dtype=np.float64)[rest],
            np.asarray(y, dtype=np.float64)[rest],
            np.asarray(z, dtype=np.float64)[rest],
        )
        sub_lvl = lvl[rest]
        sub_out = np.full((len(ids), 4), SENTINEL, dtype=np.uint64)
        sub_cnt = np.zeros(len(ids), dtype=np.int64)
        for L in np.unique(sub_lvl):
            m = sub_lvl == L
            pad, cnt = _vertex_neighbors_padded(ids[m], int(L) - 1)
            sub_out[m] = pad
            sub_cnt[m] = cnt
        # normalize each row: sort unsigned (sentinel sorts last), dedup,
        # collapse 4 distinct siblings into the parent
        sub_out.sort(axis=1)
        dup = np.zeros_like(sub_out, dtype=bool)
        dup[:, 1:] = sub_out[:, 1:] == sub_out[:, :-1]
        if dup.any():
            sub_out[dup] = SENTINEL
            sub_cnt = sub_cnt - dup.sum(axis=1)
            sub_out.sort(axis=1)
        # faces (neighbor level 0, i.e. seed level 1) never collapse —
        # CellUnion.normalize's is_face guard
        four = (sub_cnt == 4) & (sub_lvl >= 2)
        if four.any():
            p = immediate_parent(sub_out[four])
            collapse = (
                (p[:, 0] == p[:, 1]) & (p[:, 1] == p[:, 2]) & (p[:, 2] == p[:, 3])
            )
            # (cells at level >= 1 here, so the parent always exists;
            # 4 distinct same-parent cells are exactly the 4 children)
            rows4 = np.flatnonzero(four)[collapse]
            if len(rows4):
                parent_ids = p[collapse, 0]
                sub_out[rows4, :] = SENTINEL
                sub_out[rows4, 0] = parent_ids
                sub_cnt[rows4] = 1
        out[rest, :4] = sub_out
        counts[rest] = sub_cnt
    return out, counts


def all_neighbors(ids: np.ndarray, lvl) -> list[np.ndarray]:
    """Per-row array of all neighbors (including diagonal) at lvl >= level,
    ascending and duplicate-free."""
    lvl = int(lvl)
    f, i, j, _ = to_face_ij_orientation(ids)
    size = size_ij(level(ids))
    i = i & (-size)
    j = j & (-size)
    nbr = size_ij(lvl)

    cols: list[np.ndarray] = []
    valid: list[np.ndarray] = []

    k = -nbr.astype(np.int64)
    size_i = size.astype(np.int64)
    # k runs from -nbr to size inclusive stepping nbr; since all rows share
    # lvl but not level(ids), handle per-row loop bounds via masking.
    max_steps = int(np.max(size_i // nbr)) + 2
    kk = k.copy()
    for _ in range(max_steps):
        active = kk <= size_i
        in_side = (kk >= 0) & (kk < size_i)
        same_low = (j + kk) >= 0
        same_high = (j + kk) < MAX_SIZE
        same_face = np.where(kk < 0, same_low, np.where(kk >= size_i, same_high, True))

        cols.append(from_face_ij_same(f, i + kk, j - nbr, (j - size_i) >= 0))
        valid.append(active & in_side)
        cols.append(from_face_ij_same(f, i + kk, j + size_i, (j + size_i) < MAX_SIZE))
        valid.append(active & in_side)
        cols.append(
            from_face_ij_same(f, i - nbr, j + kk, same_face & ((i - size_i) >= 0))
        )
        valid.append(active)
        cols.append(
            from_face_ij_same(
                f, i + size_i, j + kk, same_face & ((i + size_i) < MAX_SIZE)
            )
        )
        valid.append(active)
        kk = kk + nbr

    mat = parent(np.stack(cols, axis=1), lvl)
    vmat = np.stack(valid, axis=1)
    # per-row sorted unique of the valid entries without a per-row
    # np.unique: invalid slots and repeats of the previous sorted value
    # become 0 (no cell id is 0), a second sort moves them to the front,
    # and each row is the tail after them
    srt = np.sort(np.where(vmat, mat, np.uint64(0)), axis=1)
    rep = np.zeros_like(vmat)
    rep[:, 1:] = srt[:, 1:] == srt[:, :-1]
    srt = np.sort(np.where(rep, np.uint64(0), srt), axis=1)
    skip = np.count_nonzero(srt == 0, axis=1)
    return [srt[r, s:] for r, s in enumerate(skip)]


# ---------------------------------------------------------------------------
# tiling


def max_tile(ids: np.ndarray, limit: np.ndarray) -> np.ndarray:
    """Largest cell with the same range_min whose range_max < limit
    (per-row; bounded 30-step shrink/grow loops, fully vectorized)."""
    ci = np.asarray(ids, dtype=np.uint64).copy()
    limit = np.asarray(limit, dtype=np.uint64)
    start = range_min(ci)
    done = start >= range_min(limit)
    ci = np.where(done, limit, ci)

    shrink = (~done) & (range_max(ci) >= limit)
    for _ in range(MAX_LEVEL + 1):
        if not np.any(shrink):
            break
        ci = np.where(shrink, children(ci)[:, 0], ci)
        shrink = shrink & (range_max(ci) >= limit)
    grew = (~done) & ~shrink
    for _ in range(MAX_LEVEL + 1):
        can = grew & ~is_face(ci)
        if not np.any(can):
            break
        p = immediate_parent(ci)
        ok = can & (range_min(p) == start) & (range_max(p) < limit)
        if not np.any(ok):
            break
        ci = np.where(ok, p, ci)
        grew = ok
    return ci


def cellunion_from_range(begin: int, end: int) -> np.ndarray:
    """Tile the half-open leaf range [begin, end) (scalar loop, ≤ O(60))."""
    out = []
    b = np.array([begin], dtype=np.uint64)
    e = np.array([end], dtype=np.uint64)
    cur = max_tile(b, e)
    while cur[0] != e[0]:
        out.append(cur[0])
        cur = max_tile(next_id(cur), e)
    return np.array(out, dtype=np.uint64)


# ---------------------------------------------------------------------------
# Spark boundary helpers


def bias_u64(ids: np.ndarray) -> np.ndarray:
    """uint64 -> order-preserving int64 (XOR sign bit)."""
    return (np.asarray(ids, dtype=np.uint64) ^ U(1 << 63)).view(np.int64)


def bias_i64(ids_i64: np.ndarray) -> np.ndarray:
    """raw int64 cell id -> order-preserving biased int64."""
    return np.asarray(ids_i64, dtype=np.int64) ^ MIN_I64


def u64_to_i64(ids: np.ndarray) -> np.ndarray:
    return np.asarray(ids, dtype=np.uint64).view(np.int64)


def i64_to_u64(ids: np.ndarray) -> np.ndarray:
    return np.asarray(ids, dtype=np.int64).view(np.uint64)
