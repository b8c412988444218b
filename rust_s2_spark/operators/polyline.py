"""Polyline proximity: distance-to-polyline scoring and within-radius
joins (SURVEY.md §2.6 #47-48 as DataFrame operators).

The polyline is a broadcast query artifact (driver-side vertices).
Candidate pruning: cover the polyline buffered by the radius (its exact
edge cells at the radius level, expanded by one neighbor ring), push
the ranges to the scan; the numpy point-to-segment kernel scores only
the candidates.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..geometry import CellUnion
from ..geometry import point as pt
from ..kernels import cellid as k
from .covering_join import CoveringRanges, range_predicate


def polyline_distance_expr(vertices: np.ndarray, lat_col: str, lng_col: str) -> Column:
    """Min squared-chord distance to the polyline, Arrow-batched."""
    verts = np.asarray(vertices, dtype=np.float64).copy()

    @pandas_udf(DoubleType())
    def _dist(lat: pd.Series, lng: pd.Series) -> pd.Series:
        from ..kernels import edges as ek

        la = np.radians(lat.to_numpy(np.float64))
        lo = np.radians(lng.to_numpy(np.float64))
        cl = np.cos(la)
        p = np.stack([np.cos(lo) * cl, np.sin(lo) * cl, np.sin(la)], axis=1)
        best = np.full(len(p), 4.0)
        for i in range(len(verts) - 1):
            a = verts[i][None, :]
            b = verts[i + 1][None, :]
            best = np.minimum(best, ek.dist2_point_segment(p, a, b))
        return pd.Series(best)

    return _dist(F.col(lat_col), F.col(lng_col))


def polyline_covering_ranges_tight(
    latlng_vertices: list[tuple[float, float]], radius_rad: float
) -> CoveringRanges:
    """Tight buffered covering: exact edge cells (face segmentation +
    uv-line rasterization, kernels/clipping.py) at the level where one
    cell min-width covers the radius, expanded by one neighbor ring."""
    from ..kernels import metric as metrics
    from ..kernels.clipping import polyline_cells

    level = max(0, min(18, metrics.MIN_WIDTH.max_level(radius_rad)))
    cells = polyline_cells(latlng_vertices, level)
    cu = CellUnion(cells).expand_at_level(level)
    lo = [int(x) for x in k.bias_u64(k.range_min(cu.ids))]
    hi = [int(x) for x in k.bias_u64(k.range_max(cu.ids))]
    return CoveringRanges(lo, hi, [False] * len(lo))


def near_polyline(
    df: DataFrame,
    latlng_vertices: list[tuple[float, float]],
    radius_deg: float,
    biased_col: str = "cell_id_biased",
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Rows within radius_deg of the polyline, with a
    ``dist_chord2`` column. Pruning ranges push to the scan."""
    verts = np.array([pt.latlng_to_xyz(la, lo) for la, lo in latlng_vertices])
    radius_rad = math.radians(radius_deg)
    ranges = polyline_covering_ranges_tight(latlng_vertices, radius_rad)
    d = polyline_distance_expr(verts, lat_col, lng_col)
    threshold = pt.angle_to_chord2(radius_rad)
    return (
        df.where(range_predicate(ranges, biased_col))
        .withColumn("dist_chord2", d)
        .where(F.col("dist_chord2") <= F.lit(threshold))
    )


def _crossing_udf():
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def _crossing(
        alat: pd.Series, alng: pd.Series, blat: pd.Series, blng: pd.Series,
        clat: pd.Series, clng: pd.Series, dlat: pd.Series, dlng: pd.Series,
    ) -> pd.Series:
        from ..kernels import edges as ek

        def xyz(lat, lng):
            la = np.radians(lat.to_numpy(np.float64))
            lo = np.radians(lng.to_numpy(np.float64))
            cl = np.cos(la)
            return np.stack([np.cos(lo) * cl, np.sin(lo) * cl, np.sin(la)], axis=1)

        out = ek.simple_crossing(
            xyz(alat, alng), xyz(blat, blng), xyz(clat, clng), xyz(dlat, dlng)
        )
        return pd.Series(np.asarray(out))

    return _crossing


def polyline_crossing_join(
    df: DataFrame,
    max_seg_deg: float,
    id_col: str = "traj_id",
    lats_col: str = "lats",
    lngs_col: str = "lngs",
) -> DataFrame:
    """Trajectory-intersection self-join: all trajectory pairs (a < b)
    with at least one interior segment crossing, plus the crossing
    count — the "do these two tracks cross?" shape.

    Candidates: each segment is SAMPLED along its lat/lng line at a
    spacing of half the cell min-width at a level 6 levels FINER than
    the segment-length level, and emits the distinct 1-rings of its
    sample cells. A crossing point X lies on both
    segments, so each side has a sample within half a cell width of X,
    whose cell is therefore X's cell or an adjacent one — both rings
    contain cell(X), and the plain cell EQUI-join matches. One shuffle
    on the cell key; the exact interior-crossing kernel
    (kernels/edges.simple_crossing — pure double arithmetic, bit-equal
    to the oracle's SQL port) decides on candidates only.

    Not on the within-distance ring core (covering_join._ring_join):
    that core joins probe rings against fact ANCESTORS, while this join
    dedups sample cells before the ring and joins ring to ring, so it
    would need a flag to fit. It keeps ``s2_all_neighbors`` over the
    deduped sample cells.

    Why fine cells: a ring at the segment-length level makes the join
    all-pairs-dense for clustered tracks (measured 1,169 s on 10k
    city-clustered trajectories); candidate pairs shrink roughly
    linearly with cell width, and at +6 levels the same input runs in
    seconds with identical output. Sampling uses the straight lat/lng
    line — its deviation from the geodesic is O(len²) and far below the
    half-cell margin for segments under ~1°.

    Antimeridian: each segment's lng delta is UNWRAPPED to the shortest
    signed difference before interpolating (179.9 → -179.9 walks through
    180.1, not 0), and the cell kernel is periodic in lng (cos/sin), so
    date-line-crossing segments sample the correct sphere cells with no
    pre-rotation — including mixed pairs where only one side spans the
    line (pinned by tests).

    The candidate guarantee needs every segment's arc length under
    ``max_seg_deg``; actual spans are VALIDATED inline (the great-circle
    length is bounded by sqrt(dlat² + dlng_unwrapped²) degrees), and an
    oversized segment raises rather than silently losing recall.
    """
    from ..functions import s2_all_neighbors, s2_cell_from_latlng, s2_parent
    from ..kernels import metric as metrics

    rad = math.radians(1.5 * max_seg_deg)
    seg_lvl = max(1, min(30, metrics.MIN_WIDTH.max_level(rad)))
    lvl = min(30, seg_lvl + 6)
    # samples spaced <= half the min cell width along the segment
    n_samples = int(math.ceil(math.radians(max_seg_deg) / (0.5 * metrics.MIN_WIDTH.value(lvl)))) + 1

    seg_expr = (
        f"transform(sequence(1, size({lats_col}) - 1), i -> named_struct("
        f"'alat', {lats_col}[i-1], 'alng', {lngs_col}[i-1],"
        f"'blat', {lats_col}[i], 'blng', {lngs_col}[i]))"
    )
    # trajectories need >= 2 vertices: sequence(1, size-1) DESCENDS for
    # size <= 1 ([1, 0]) and the transform would index lats[-1] — an
    # ANSI crash that would take the whole job down (review finding)
    df = df.where(F.size(F.col(lats_col)) >= 2)
    segs = df.select(F.col(id_col).alias("tid"), F.posexplode(F.expr(seg_expr))).select(
        "tid",
        F.col("pos").alias("sidx"),
        F.col("col.alat").alias("alat"),
        F.col("col.alng").alias("alng"),
        F.col("col.blat").alias("blat"),
        F.col("col.blng").alias("blng"),
    )
    t = F.col("t").cast("double") / F.lit(float(n_samples))
    dlat = F.col("blat") - F.col("alat")
    dlng_raw = F.col("blng") - F.col("alng")
    # shortest signed lng difference: unwrap so a 179.9 -> -179.9
    # segment interpolates through 180.1 (the cell kernel is periodic
    # in lng, so out-of-range sample lngs land on the right cells)
    du = dlng_raw - F.lit(360.0) * F.round(dlng_raw / F.lit(360.0), 0)
    span = F.sqrt(dlat * dlat + du * du)
    # arc length <= sqrt(dlat² + du²) deg; an oversized segment breaks
    # the half-cell candidate guarantee, so fail loudly instead of
    # silently missing crossings. coalesce(assert.cast, 0.0) folds the
    # check into the sample expression (assert_true is null on success)
    # where the optimizer cannot prune it.
    guard = F.coalesce(
        F.assert_true(
            span <= F.lit(max_seg_deg * (1.0 + 1e-9)),
            F.concat(
                F.lit(
                    "polyline_crossing_join: segment span (deg) exceeds "
                    f"max_seg_deg={max_seg_deg}: "
                ),
                span.cast("string"),
            ),
        ).cast("double"),
        F.lit(0.0),
    )
    samples = segs.select(
        "tid", "sidx", "alat", "alng", "blat", "blng",
        F.explode(F.sequence(F.lit(0), F.lit(n_samples))).alias("t"),
    ).select(
        "tid", "sidx", "alat", "alng", "blat", "blng",
        (F.col("alat") + dlat * t + guard).alias("slat"),
        (F.col("alng") + du * t).alias("slng"),
    )
    cells = samples.withColumn(
        "scell", s2_parent(s2_cell_from_latlng("slat", "slng"), lvl)
    )
    # samples are spaced half a cell width, so consecutive samples land
    # in the same cell ~half the time — dedup the sample CELLS before
    # the 9× ring explode and its neighbor kernel (round-10: the ring
    # UDF and the ring dedup below then see a fraction of the rows;
    # ring-of-union == union-of-rings, so the candidate set is
    # unchanged)
    cells = cells.dropDuplicates(["tid", "sidx", "scell"])
    ring = cells.select(
        "tid", "sidx", "alat", "alng", "blat", "blng",
        F.explode(
            F.array_union(
                F.array(F.col("scell")), s2_all_neighbors(F.col("scell"), lvl)
            )
        ).alias("tcell"),
    ).dropDuplicates(["tid", "sidx", "tcell"])
    other = ring.select(
        F.col("tid").alias("qid"),
        F.col("sidx").alias("qsidx"),
        F.col("alat").alias("clat"),
        F.col("alng").alias("clng"),
        F.col("blat").alias("dlat"),
        F.col("blng").alias("dlng"),
        F.col("tcell"),
    )
    cand = (
        ring.join(other, "tcell")
        .where(F.col("tid") < F.col("qid"))
        # the symmetric rings double-find the same segment pair through
        # several cells — dedupe BEFORE the exact kernel
        .dropDuplicates(["tid", "sidx", "qid", "qsidx"])
    )
    crossing = _crossing_udf()
    hits = cand.where(
        crossing(
            F.col("alat"), F.col("alng"), F.col("blat"), F.col("blng"),
            F.col("clat"), F.col("clng"), F.col("dlat"), F.col("dlng"),
        )
    )
    return (
        hits.groupBy(F.col("tid").alias("a"), F.col("qid").alias("b"))
        .agg(F.count("*").cast("long").alias("n_crossings"))
    )
