"""Spark column functions for S2 cell ids.

Two tiers, chosen per SURVEY.md §2.1:

* **Native column expressions** (pure JVM bitwise/arith → whole-stage
  codegen, zero Python) for everything that is bit arithmetic on the
  id: parent / level / range_min / range_max / face / is_leaf /
  biased ordering / child_position. These are the partitioning and
  join keys, so they must never cross into Python.

* **Arrow-batched pandas UDFs** backed by the numpy kernels for the
  table-lookup chains: lat/lng→id, id→center lat/lng, tokens,
  neighbors. One Python round trip per ~10k-row Arrow batch; no
  per-row Python anywhere. Each pandas-UDF task also pays a fixed
  Python-worker set-up cost whatever its row count (about 0.25 CPU-s
  measured on pyspark 4.1.2, 4 cores: ``setup_spark_files`` re-reads
  ``pyspark.zip`` for every cached zip importer), so a UDF stage over
  a few dozen rows is dominated by that cost.

Driver-built literal frames never cross into Python at all: they are
built as Arrow ``LocalRelation``s through ``plans.frames.local_frame``.

Cell ids are stored as LongType holding the same 64 bits
(two's-complement). Order-sensitive comparisons must use
``s2_biased`` (id XOR min-long), since unsigned id order differs from
signed Long order for faces 4-5.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels import cellid as k

MIN_LONG = -(2**63)


def _as_col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# native (JVM codegen) expressions — bit arithmetic is sign-agnostic


def s2_lsb(cell_id) -> Column:
    c = _as_col(cell_id)
    return c.bitwiseAND(-c)


def s2_level(cell_id) -> Column:
    """level = 30 - trailing_zeros/2, via bit_count(lsb - 1)."""
    c = _as_col(cell_id)
    return (F.lit(30) - (F.bit_count(s2_lsb(c) - F.lit(1)) / F.lit(2)).cast("int")).cast(
        "int"
    )


def s2_parent(cell_id, level: int | Column) -> Column:
    """Ancestor id at the given level (caller guarantees level <= cell level)."""
    c = _as_col(cell_id)
    if isinstance(level, int):
        b = F.lit(1 << (2 * (30 - level)))
    else:
        b = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            (F.lit(2) * (F.lit(30) - level)).cast("int"),
        )
    return c.bitwiseAND(-b).bitwiseOR(b)


def s2_range_min(cell_id) -> Column:
    c = _as_col(cell_id)
    return c - (s2_lsb(c) - F.lit(1))


def s2_range_max(cell_id) -> Column:
    c = _as_col(cell_id)
    return c + (s2_lsb(c) - F.lit(1))


def s2_face(cell_id) -> Column:
    """Top 3 bits; arithmetic shift then mask is sign-safe."""
    c = _as_col(cell_id)
    return F.shiftright(c, 61).bitwiseAND(F.lit(7)).cast("int")


def s2_is_leaf(cell_id) -> Column:
    return _as_col(cell_id).bitwiseAND(F.lit(1)) == F.lit(1)


def s2_is_valid(cell_id) -> Column:
    c = _as_col(cell_id)
    return (s2_face(c) < F.lit(6)) & (
        s2_lsb(c).bitwiseAND(F.lit(0x1555555555555555)) != F.lit(0)
    )


def s2_biased(cell_id) -> Column:
    """Order-preserving signed view of the unsigned id (XOR sign bit)."""
    return _as_col(cell_id).bitwiseXOR(F.lit(MIN_LONG))


def s2_child_position(cell_id, level: int) -> Column:
    c = _as_col(cell_id)
    return F.shiftrightunsigned(c, 2 * (30 - level) + 1).bitwiseAND(F.lit(3)).cast("int")


# E5/E6/E7 integer angle encodings (ref s1/angle.rs:316-351 convert_i32!):
# forward = round(value / MUL) with ties away from zero — Spark ROUND is
# HALF_UP, identical to Rust f64::round over the angle domain (|deg·1e7|
# < 2^51, where every .5 tie is exactly representable); backward =
# int * MUL (multiplication, matching the reference bit-for-bit).
_E_DEG_MUL = {5: 1.0 / 1e5, 6: 1.0 / 1e6, 7: 1.0 / 1e7}
_E_RAD_MUL = {k: 3.141592653589793 / 180.0 * m for k, m in _E_DEG_MUL.items()}


def s2_deg_to_e(deg, k: int) -> Column:
    """Degrees → E{k} int32, native SQL (codegen, no Python)."""
    return F.round(_as_col(deg) / F.lit(_E_DEG_MUL[k]), 0).cast("int")


def s2_e_to_deg(e, k: int) -> Column:
    """E{k} int → degrees (e * 10^-k, exactly the reference's expression)."""
    return _as_col(e).cast("double") * F.lit(_E_DEG_MUL[k])


def s2_rad_to_e(rad, k: int) -> Column:
    """Radians → E{k} int32 (Angle-based conversion path)."""
    return F.round(_as_col(rad) / F.lit(_E_RAD_MUL[k]), 0).cast("int")


def s2_e_to_rad(e, k: int) -> Column:
    """E{k} int → radians (e * pi/180/10^k)."""
    return _as_col(e).cast("double") * F.lit(_E_RAD_MUL[k])


def s2_latlng_distance(lat1, lng1, lat2, lng2) -> Column:
    """Haversine angle in RADIANS between two (degree) latlng pairs —
    the reference's exact formula (latlng.rs:62-68: 2·atan2(√x, √max(0,
    1−x))), pure native SQL (codegen; the geodesic-distance column for
    scoring without going through xyz)."""
    la1, lo1 = F.radians(_as_col(lat1)), F.radians(_as_col(lng1))
    la2, lo2 = F.radians(_as_col(lat2)), F.radians(_as_col(lng2))
    dlat = F.sin(F.lit(0.5) * (la2 - la1))
    dlng = F.sin(F.lit(0.5) * (lo2 - lo1))
    x = dlat * dlat + dlng * dlng * F.cos(la1) * F.cos(la2)
    return F.lit(2.0) * F.atan2(
        F.sqrt(x), F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - x))
    )


def chord2_expr(x1, y1, z1, x2, y2, z2) -> Column:
    """Squared chord distance between unit vectors — the kNN distance
    column; pure SQL arithmetic (ref point.rs:378-381)."""
    dx, dy, dz = _as_col(x1) - _as_col(x2), _as_col(y1) - _as_col(y2), _as_col(z1) - _as_col(z2)
    return dx * dx + dy * dy + dz * dz


def xyz_cols(lat_deg, lng_deg) -> tuple[Column, Column, Column]:
    """Unit-vector columns from degree columns; native trig, codegen-able."""
    lat = F.radians(_as_col(lat_deg))
    lng = F.radians(_as_col(lng_deg))
    return (
        F.cos(lng) * F.cos(lat),
        F.sin(lng) * F.cos(lat),
        F.sin(lat),
    )


# ---------------------------------------------------------------------------
# pandas UDFs (Arrow-batched numpy kernels)


@pandas_udf(LongType())
def _cell_from_latlng_udf(lat: pd.Series, lng: pd.Series) -> pd.Series:
    ids = k.cell_from_latlng(lat.to_numpy(np.float64), lng.to_numpy(np.float64))
    return pd.Series(ids.view(np.int64))


def s2_cell_from_latlng(lat_deg, lng_deg) -> Column:
    return _cell_from_latlng_udf(_as_col(lat_deg), _as_col(lng_deg))


@pandas_udf(LongType())
def _cell_from_xyz_udf(x: pd.Series, y: pd.Series, z: pd.Series) -> pd.Series:
    ids = k.cell_from_xyz(
        x.to_numpy(np.float64), y.to_numpy(np.float64), z.to_numpy(np.float64)
    )
    return pd.Series(ids.view(np.int64))


def s2_cell_from_xyz(x, y, z) -> Column:
    """Leaf cell id from a (not necessarily unit) xyz direction."""
    return _cell_from_xyz_udf(_as_col(x), _as_col(y), _as_col(z))


@pandas_udf(StructType([StructField("lat", DoubleType()), StructField("lng", DoubleType())]))
def _cell_center_udf(ids: pd.Series) -> pd.DataFrame:
    u = ids.to_numpy(np.int64).view(np.uint64)
    lat, lng = k.cell_to_latlng(u)
    return pd.DataFrame({"lat": lat, "lng": lng})


def s2_cell_center_latlng(cell_id) -> Column:
    return _cell_center_udf(_as_col(cell_id))


@pandas_udf(StringType())
def _to_token_udf(ids: pd.Series) -> pd.Series:
    u = ids.to_numpy(np.int64).view(np.uint64)
    return pd.Series(k.to_token(u))


def s2_cell_to_token(cell_id) -> Column:
    return _to_token_udf(_as_col(cell_id))


@pandas_udf(LongType())
def _from_token_udf(tokens: pd.Series) -> pd.Series:
    ids = k.from_token(tokens.fillna("").tolist())
    return pd.Series(ids.view(np.int64))


def s2_cell_from_token(token) -> Column:
    return _from_token_udf(_as_col(token))


@pandas_udf(ArrayType(LongType()))
def _edge_neighbors_udf(ids: pd.Series) -> pd.Series:
    u = ids.to_numpy(np.int64).view(np.uint64)
    nbrs = k.edge_neighbors(u).view(np.int64)
    return pd.Series(list(nbrs))


def s2_edge_neighbors(cell_id) -> Column:
    return _edge_neighbors_udf(_as_col(cell_id))


def s2_cap_covering(
    lat_deg,
    lng_deg,
    radius_deg,
    min_level: int = 0,
    max_level: int = 30,
    level_mod: int = 1,
    max_cells: int = 8,
    exact: bool = False,
) -> Column:
    """Per-row cap covering (image-footprint coverings).

    Default path (``exact=False`` at default levels): the fully
    VECTORIZED batch fast_covering — one numpy pass per Arrow batch,
    zero per-row Python, >100k rows/s (kernels.cellid.cap_fast_covering;
    per-row output equals RegionCoverer().fast_covering bit-for-bit).
    A fast covering is a valid covering (superset of the region), so
    joins built on it stay correct — the exact geometric post-filter
    (operators/covering_join.exact_predicate) removes the slop exactly
    as it does for boundary cells of exact coverings.

    ``exact=True`` (or non-default min_level/level_mod/max_level or
    max_cells<4) runs the heap-refined RegionCoverer per row — tighter
    candidates (fewer rows into the post-filter) at ~100× the CPU; right
    for small batches or reused/stored coverings, not 10⁹-row scans.
    """
    fast_ok = (
        not exact
        and min_level == 0
        and max_level == 30
        and level_mod == 1
        and max_cells >= 4
    )
    if fast_ok:

        @pandas_udf(ArrayType(LongType()))
        def _cover_fast(lat: pd.Series, lng: pd.Series, radius: pd.Series) -> pd.Series:
            pad, cnt = k.cap_fast_covering(
                lat.to_numpy(np.float64),
                lng.to_numpy(np.float64),
                radius.to_numpy(np.float64),
            )
            signed = pad.view(np.int64)
            return pd.Series(
                [signed[i, : cnt[i]] for i in range(len(cnt))]
            )

        return _cover_fast(_as_col(lat_deg), _as_col(lng_deg), _as_col(radius_deg))

    @pandas_udf(ArrayType(LongType()))
    def _cover(lat: pd.Series, lng: pd.Series, radius: pd.Series) -> pd.Series:
        from ..geometry import Cap, RegionCoverer

        rc = RegionCoverer(
            min_level=min_level,
            max_level=max_level,
            level_mod=level_mod,
            max_cells=max_cells,
        )
        out = []
        for la, lo, r in zip(
            lat.to_numpy(np.float64),
            lng.to_numpy(np.float64),
            radius.to_numpy(np.float64),
        ):
            cov = rc.covering(Cap.from_latlng_degrees(la, lo, r))
            out.append(cov.ids.view(np.int64))
        return pd.Series(out)

    return _cover(_as_col(lat_deg), _as_col(lng_deg), _as_col(radius_deg))


def s2_all_neighbors(cell_id, level: int) -> Column:
    @pandas_udf(ArrayType(LongType()))
    def _all_neighbors_udf(ids: pd.Series) -> pd.Series:
        u = ids.to_numpy(np.int64).view(np.uint64)
        out = k.all_neighbors(u, level)
        return pd.Series([row.view(np.int64) for row in out])

    return _all_neighbors_udf(_as_col(cell_id))
