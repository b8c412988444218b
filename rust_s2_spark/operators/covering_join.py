"""Spatial covering joins (SURVEY.md §2.8).

The canonical S2 join: cover the query region with ≤ max_cells cells
(driver-side RegionCoverer), turn the covering into leaf-id ranges on
the *biased* long column, then either

* ``region_filter`` — ONE region: an OR-of-BETWEEN predicate literal.
  Pure Catalyst filter → pushed to the parquet/Iceberg scan, prunes
  row groups by cell_id_biased min/max. Boundary cells get the exact
  geometric post-filter; interior-covering cells skip it.

* ``region_join`` — MANY regions: a broadcast range join of the tiny
  (region_id, rmin, rmax, interior) table against the fact table.

At 100 TB both shapes avoid any shuffle of the fact table: the filter
is scan-local, and the ranges table broadcasts.

The distance operators share ONE ring-join core (``_ring_join``): at
the finest level L whose min cell width covers the radius, a probe's
own level-L cell plus its ``all_neighbors`` ring (the six faces at
L = 0) holds every qualifying point. One ring definition
(``_ring_cells_np``, executor-side through the single ``_ring_udf``
stage, level constant or per row — no level-0 branch) feeds one
equi-join of the ring cells against the fact side's ancestors and one
chord² score: ``within_distance_pairs`` (self-join, a < b),
``within_distance_join_df`` (constant level), the variable-radius
``within_distance_join_df_var`` (per-row level) and kNN's widening
attempts (operators/knn.py) are thin callers.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import chord2_expr, s2_parent, xyz_cols
from ..geometry import Cap, Rect, RegionCoverer
from ..kernels import cellid as k
from ..kernels import metric as metrics
from ..plans.frames import local_frame

DEFAULT_COVERER = RegionCoverer(min_level=0, max_level=30, level_mod=1, max_cells=24)


@dataclass(frozen=True)
class CoveringRanges:
    """Biased [lo, hi] leaf ranges + interior flags for one region."""

    lo: list[int]
    hi: list[int]
    interior: list[bool]


def covering_ranges(region, coverer: RegionCoverer = DEFAULT_COVERER) -> CoveringRanges:
    outer = coverer.covering(region)
    inner = coverer.interior_covering(region)
    lo = [int(x) for x in k.bias_u64(k.range_min(outer.ids))]
    hi = [int(x) for x in k.bias_u64(k.range_max(outer.ids))]
    interior = [bool(b) for b in inner.contains_ids(outer.ids)]
    return CoveringRanges(lo, hi, interior)


def range_predicate(ranges: CoveringRanges, biased_col) -> Column:
    c = F.col(biased_col) if isinstance(biased_col, str) else biased_col
    pred = F.lit(False)
    for lo, hi in zip(ranges.lo, ranges.hi):
        pred = pred | c.between(F.lit(lo), F.lit(hi))
    return pred


def interior_predicate(ranges: CoveringRanges, biased_col) -> Column:
    """True only inside interior-covering cells (no exact filter needed)."""
    c = F.col(biased_col) if isinstance(biased_col, str) else biased_col
    pred = F.lit(False)
    for lo, hi, inner in zip(ranges.lo, ranges.hi, ranges.interior):
        if inner:
            pred = pred | c.between(F.lit(lo), F.lit(hi))
    return pred


def cap_exact_predicate(cap: Cap, lat_col: str, lng_col: str) -> Column:
    """Exact cap membership as native SQL: chord²(p, center) ≤ radius²."""
    x, y, z = xyz_cols(lat_col, lng_col)
    return (
        chord2_expr(
            x, y, z, F.lit(cap.center[0]), F.lit(cap.center[1]), F.lit(cap.center[2])
        )
        <= F.lit(cap.radius2)
    )


def rect_exact_predicate(rect: Rect, lat_col: str, lng_col: str) -> Column:
    """Exact rect membership, wrap-aware, native SQL."""
    lat = F.radians(F.col(lat_col))
    lng = F.radians(F.col(lng_col))
    lat_ok = (lat >= F.lit(rect.lat.lo)) & (lat <= F.lit(rect.lat.hi))
    if rect.lng.is_full():
        lng_ok = F.lit(True)
    elif rect.lng.is_inverted():
        lng_ok = (lng >= F.lit(rect.lng.lo)) | (lng <= F.lit(rect.lng.hi))
    else:
        lng_ok = (lng >= F.lit(rect.lng.lo)) & (lng <= F.lit(rect.lng.hi))
    return lat_ok & lng_ok


def exact_predicate(region, lat_col: str, lng_col: str) -> Column:
    if isinstance(region, Cap):
        return cap_exact_predicate(region, lat_col, lng_col)
    if isinstance(region, Rect):
        return rect_exact_predicate(region, lat_col, lng_col)
    raise TypeError(f"no exact predicate for {type(region)}")


def region_filter(
    df: DataFrame,
    region,
    coverer: RegionCoverer = DEFAULT_COVERER,
    biased_col: str = "cell_id_biased",
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Rows of ``df`` inside ``region``: pushed-down covering ranges +
    exact geometric post-filter.

    Both predicates are ANDed as one conjunction: the range predicate
    stays a top-level conjunct so it reaches the parquet scan
    (PushedFilters + row-group min/max pruning on the Hilbert-sorted
    table). The exact filter is native codegen trig — cheap enough to
    evaluate on interior rows too. (An ``interior OR exact`` shape
    would make Catalyst distribute the AND and lose pushdown — that
    trick only pays when the exact test is a Python UDF; see
    operators/pip.py.)"""
    ranges = covering_ranges(region, coverer)
    candidate = range_predicate(ranges, biased_col)
    return df.where(candidate & exact_predicate(region, lat_col, lng_col))


def region_join(
    spark: SparkSession,
    df: DataFrame,
    regions: list,
    region_ids: list,
    coverer: RegionCoverer = DEFAULT_COVERER,
    biased_col: str = "cell_id_biased",
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Join ``df`` against many regions: broadcast range join + exact
    post-filter. Output = df columns + ``region_id``.

    Cap regions carry their (center, radius²) as columns of the
    broadcast ranges table, so the exact filter is ONE constant-size
    expression regardless of region count (a per-region CASE chain
    would grow the plan linearly — fatal with thousands of regions).
    Non-cap regions fall back to a per-region predicate chain.
    """
    all_caps = all(isinstance(r, Cap) for r in regions)
    cols: list[list] = [[] for _ in range(8 if all_caps else 4)]
    for rid, region in zip(region_ids, regions):
        rr = covering_ranges(region, coverer)
        n = len(rr.lo)
        cols[0] += [rid] * n
        cols[1] += rr.lo
        cols[2] += rr.hi
        cols[3] += rr.interior
        if all_caps:
            for col, v in zip(cols[4:], (*region.center, region.radius2)):
                col += [v] * n
    schema = "region_id long, rlo long, rhi long, rinterior boolean"
    if all_caps:
        schema += ", rcx double, rcy double, rcz double, rr2 double"
    ranges_df = local_frame(spark, cols, schema)

    j = df.join(
        F.broadcast(ranges_df),
        (F.col(biased_col) >= F.col("rlo")) & (F.col(biased_col) <= F.col("rhi")),
        "inner",
    )
    if all_caps:
        x, y, z = xyz_cols(lat_col, lng_col)
        exact = (
            chord2_expr(x, y, z, F.col("rcx"), F.col("rcy"), F.col("rcz"))
            <= F.col("rr2")
        )
        out = j.where(F.col("rinterior") | exact)
        return out.drop("rlo", "rhi", "rinterior", "rcx", "rcy", "rcz", "rr2")
    exact = F.lit(False)
    for rid, region in zip(region_ids, regions):
        exact = F.when(
            F.col("region_id") == F.lit(rid), exact_predicate(region, lat_col, lng_col)
        ).otherwise(exact)
    out = j.where(F.col("rinterior") | exact)
    return out.drop("rlo", "rhi", "rinterior")


def region_join_ancestors(
    spark: SparkSession,
    df: DataFrame,
    regions: list,
    region_ids: list,
    coverer: RegionCoverer = DEFAULT_COVERER,
    cell_col: str = "cell_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
    fast: bool = True,
) -> DataFrame:
    """Many-region containment join as a PURE EQUI-JOIN (SURVEY.md §2.8
    "containment join": ancestor expansion; semantics = reference range
    containment cellid.rs:393-410 — a covering cell contains a leaf iff
    it is the leaf's ancestor at its own level).

    ``region_join`` (range form) broadcasts the ranges table but the
    BETWEEN predicate forces a BroadcastNestedLoopJoin: every fact row is
    tested against ALL range rows — linear per row, fatal at 10⁴⁺ regions.
    Here each fact row instead explodes into its ancestors at exactly the
    levels present in the coverings (level histogram, ≤31 and typically
    ≤8 — native bit arithmetic, JVM Generate, no Python), and the join is
    `ancestor == covering_cell`: hashable/sort-merge-able, shuffle
    co-locatable with the table's cell_id partitioning, O(1) per probe.

    Output and semantics match ``region_join`` exactly: df columns +
    ``region_id``, with the exact geometric post-filter applied to
    boundary-cell rows (covering cells within one region are disjoint, so
    a row matches at most one covering cell per region — no dedup needed).

    ``fast=True`` (default): regions are covered with ``fast_covering``
    (cell_union_bound + normalize — no heap refinement) and the exact
    filter runs on every candidate row. With thousands of regions this is
    the scale shape twice over: driver-side covering cost drops ~10× and
    the level histogram collapses to a handful of adjacent levels, so the
    fact-side explode factor stays ~4 instead of ~17. ``fast=False``
    uses the exact coverer + interior coverings (tighter candidates,
    interior rows skip the exact filter) — right for few large regions.
    """
    all_caps = all(isinstance(r, Cap) for r in regions)
    batch_fast = (
        fast
        and all_caps
        and coverer.min_level == 0
        and coverer.max_level == 30
        and coverer.level_mod == 1
        and coverer.max_cells >= 4
    )
    if batch_fast:
        # one vectorized pass over ALL regions' fast coverings (bit-equal
        # to the scalar path) — ~1000 caps in ~10ms instead of ~2s
        cx = np.array([r.center[0] for r in regions])
        cy = np.array([r.center[1] for r in regions])
        cz = np.array([r.center[2] for r in regions])
        r2 = np.array([r.radius2 for r in regions])
        pad, cnt = k.cap_fast_covering_xyz(cx, cy, cz, r2)
        reg = np.repeat(np.arange(len(regions)), cnt)
        ids = pad[np.arange(pad.shape[1]) < cnt[:, None]]
        cols = [
            np.asarray(region_ids, dtype=np.int64)[reg],
            ids.view(np.int64),
            np.zeros(len(ids), dtype=bool),
            cx[reg], cy[reg], cz[reg], r2[reg],
        ]
    else:
        cols = [[] for _ in range(7 if all_caps else 3)]
        for rid, region in zip(region_ids, regions):
            if fast:
                outer = coverer.fast_covering(region)
                flags = np.zeros(len(outer.ids), dtype=bool)
            else:
                outer = coverer.covering(region)
                inner = coverer.interior_covering(region)
                flags = inner.contains_ids(outer.ids)
            n = len(outer.ids)
            cols[0] += [rid] * n
            cols[1] += outer.ids.view(np.int64).tolist()
            cols[2] += flags.tolist()
            if all_caps:
                for col, v in zip(cols[3:], (*region.center, region.radius2)):
                    col += [v] * n
    cells = np.asarray(cols[1], dtype=np.int64).view(np.uint64)
    levels = {int(lv) for lv in k.level(cells)}
    schema = "region_id long, ccell long, rinterior boolean"
    if all_caps:
        schema += ", rcx double, rcy double, rcz double, rr2 double"
    cov_df = local_frame(spark, cols, schema)
    anc = F.explode(
        F.array(*[s2_parent(cell_col, lv) for lv in sorted(levels)])
    ).alias("__anc")
    fact = df.select("*", anc)
    j = fact.join(cov_df, F.col("__anc") == F.col("ccell"), "inner")
    if all_caps:
        x, y, z = xyz_cols(lat_col, lng_col)
        exact = (
            chord2_expr(x, y, z, F.col("rcx"), F.col("rcy"), F.col("rcz"))
            <= F.col("rr2")
        )
        out = j.where(F.col("rinterior") | exact)
        return out.drop(
            "__anc", "ccell", "rinterior", "rcx", "rcy", "rcz", "rr2"
        )
    exact = F.lit(False)
    for rid, region in zip(region_ids, regions):
        exact = F.when(
            F.col("region_id") == F.lit(rid), exact_predicate(region, lat_col, lng_col)
        ).otherwise(exact)
    out = j.where(F.col("rinterior") | exact)
    return out.drop("__anc", "ccell", "rinterior")


def _ring_cells_np(lat, lng, lvls) -> list[np.ndarray]:
    """Per-row candidate ring at a per-row (or one scalar) level: the
    own level-L cell, then its ``all_neighbors`` ring (cellid.rs) — the
    six face cells at level 0, where the 3×3 ring only reaches 5 of the
    6 faces. numpy in, int64 arrays out. Each ring is duplicate-free
    without a per-row unique pass (``all_neighbors`` dedups and never
    returns the own cell), which kNN's exact ring row sums rely on.

    The only ring definition in the package: the executor-side
    ``_ring_udf`` and kNN's driver-side literal rounds both call it, so
    the two paths cannot drift."""
    leafs = k.cell_from_latlng(
        np.asarray(lat, dtype=np.float64), np.asarray(lng, dtype=np.float64)
    )
    lvls = np.broadcast_to(np.asarray(lvls, dtype=np.int64), leafs.shape)
    out: list[np.ndarray] = [None] * len(leafs)  # type: ignore[list-item]
    faces = k.from_face(np.arange(6, dtype=np.uint64)).view(np.int64)
    for lv in np.unique(lvls):
        idx = np.nonzero(lvls == lv)[0]
        if lv <= 0:
            for i in idx:
                out[i] = faces
        else:
            p = k.parent(leafs[idx], int(lv))
            rings = k.all_neighbors(p, int(lv))
            pv = p.view(np.int64)
            for n, i in enumerate(idx):
                out[i] = np.concatenate([pv[n : n + 1], rings[n].view(np.int64)])
    return out


def _ring_udf(lat_col: str, lng_col: str, level: int | Column) -> Column:
    """pandas UDF (lat, lng, level) → array<long>: ``_ring_cells_np`` on
    the executors, ONE Python crossing per probe batch. ``level`` is a
    constant or a per-row column."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def _ring(lat: pd.Series, lng: pd.Series, lv: pd.Series) -> pd.Series:
        return pd.Series(
            _ring_cells_np(
                lat.to_numpy(np.float64),
                lng.to_numpy(np.float64),
                lv.to_numpy(np.int64),
            )
        )

    lv = F.lit(level) if isinstance(level, int) else level
    return _ring(F.col(lat_col), F.col(lng_col), lv)


def _ring_join(
    facts: DataFrame,
    cand: DataFrame,
    active: "int | list[int] | DataFrame",
    id_col: str,
    lat_col: str,
    lng_col: str,
    cell_col: str,
    qlat_col: str,
    qlng_col: str,
) -> DataFrame:
    """The ring-join core behind the within-distance family and kNN.

    The guarantee (the paper's ring contract): at the finest level L
    whose min cell width covers the radius, the probe's own level-L
    cell plus its ``all_neighbors`` ring holds every qualifying point.
    ``cand`` carries probe rows already exploded to those ring cells as
    ``__tc``, each probe at its own level. The fact side is scanned ONCE
    and explodes to ``s2_parent(cell_col, L)`` for every L in
    ``active`` — one int, a list, or a lazy one-column (``__lvl``)
    level frame broadcast against it, so the driver never collects the
    set. A cell id encodes its level, so ONE equi-join column can never
    match across levels; a fact row has one ancestor per level and ring
    cells are distinct, so a (probe, fact) pair matches at most once per
    probe level and no dedup pass exists.

    Returns the fact columns (id, lat, lng, ``__pc``), the ``cand``
    columns and ``dist_chord2`` (fact to probe, native SQL)."""
    if isinstance(active, DataFrame):
        facts = facts.crossJoin(F.broadcast(active))
        pcell = s2_parent(cell_col, F.col("__lvl"))
    elif isinstance(active, int) or len(active) == 1:
        pcell = s2_parent(cell_col, active if isinstance(active, int) else active[0])
    else:
        pcell = F.explode(F.array(*[s2_parent(cell_col, lv) for lv in active]))
    f = facts.select(id_col, lat_col, lng_col, pcell.alias("__pc"))
    j = f.join(cand, F.col("__pc") == F.col("__tc"), "inner")
    px, py, pz = xyz_cols(lat_col, lng_col)
    qx, qy, qz = xyz_cols(qlat_col, qlng_col)
    return j.withColumn("dist_chord2", chord2_expr(px, py, pz, qx, qy, qz))


def _radius_level(radius_deg: float) -> tuple[int, float]:
    """(ring level, chord² threshold) of a constant radius: L is the
    finest level whose min cell width covers the radius."""
    rad = math.radians(radius_deg)
    lvl = max(0, min(30, metrics.MIN_WIDTH.max_level(rad)))
    s = 2.0 * math.sin(0.5 * min(rad, math.pi))
    return lvl, s * s


def within_distance_pairs(
    df: DataFrame,
    radius_deg: float,
    id_col: str = "image_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Spatial self-join: all pairs (a < b) within ``radius_deg`` of each
    other — the classic within-distance join.

    The ring core as a self-join: every point is a probe whose ring at
    the radius level (one ring UDF over its lat/lng; the six faces at
    level 0) joins every point's ``s2_parent(cell_col, L)`` — ONE
    shuffle on the cell key, broadcastable if one side is small,
    salt-able if skewed. The exact chord² predicate keeps true pairs,
    and a<b dedupes the symmetric ring double-finds.
    """
    lvl, chord2_max = _radius_level(radius_deg)
    cand = df.select(
        F.col(id_col).alias("__qid"),
        F.col(lat_col).alias("__qlat"),
        F.col(lng_col).alias("__qlng"),
        F.explode(_ring_udf(lat_col, lng_col, lvl)).alias("__tc"),
    )
    j = _ring_join(
        df, cand, lvl, id_col, lat_col, lng_col, cell_col, "__qlat", "__qlng"
    )
    return (
        j.where(F.col("__qid") < F.col(id_col))
        .where(F.col("dist_chord2") <= F.lit(chord2_max))
        .select(F.col("__qid").alias("a"), F.col(id_col).alias("b"))
        .distinct()
    )


def within_distance_join_df(
    df: DataFrame,
    probes: DataFrame,
    radius_deg: float,
    id_col: str = "image_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    query_id_col: str = "query_id",
    qlat_col: str = "qlat",
    qlng_col: str = "qlng",
) -> DataFrame:
    """Two-table within-distance join with a DATAFRAME probe side:
    (query_id, image_id, dist_chord2) for every fact row within
    ``radius_deg`` of every probe ROW — the cross-table counterpart of
    ``within_distance_pairs`` and the fixed-radius counterpart of
    ``knn_join_df`` (reference semantics: point_index range query).

    The ring core at one constant level, ONE round, no widening: the
    probe side explodes its ring executor-side in ONE pandas-UDF stage
    (the six faces at level 0, no separate branch); the fact side
    computes one native parent column; candidates are ONE equi-join on
    the cell key (shuffle co-locatable with the table's cell
    partitioning, AQE-broadcastable when the probe side is small,
    salt-able if skewed); the exact chord² predicate keeps true pairs.
    Runs no driver action, so ``streaming_within_distance`` lifts it
    onto a probe stream unchanged.
    """
    lvl, chord2_max = _radius_level(radius_deg)
    cand = probes.select(
        query_id_col, qlat_col, qlng_col,
        F.explode(_ring_udf(qlat_col, qlng_col, lvl)).alias("__tc"),
    )
    j = _ring_join(
        df, cand, lvl, id_col, lat_col, lng_col, cell_col, qlat_col, qlng_col
    )
    return j.where(F.col("dist_chord2") <= F.lit(chord2_max)).select(
        query_id_col, id_col, "dist_chord2"
    )


def radius_level_expr(chord2_col) -> Column:
    """Finest level whose MIN_WIDTH one-ring contract covers a per-row
    chord² threshold, clamped to [0, 30] — the trig-free 31-literal
    comparison ladder (no log/asin, no cross-engine libm in the gate):
    level L is valid for a probe iff min-width-chord²(L) >= its
    threshold, and the ladder is descending in L, so the answer is
    ``size(filter(ladder, t >= c2)) - 1``. Shared by
    ``within_distance_join_df_var`` and the boundary-sweep test so the
    two cannot drift."""
    ladder = []
    for lvl in range(31):
        w = metrics.MIN_WIDTH.value(lvl)
        s = 2.0 * math.sin(0.5 * min(w, math.pi))
        ladder.append(s * s)
    ladder_arr = F.array(*[F.lit(float(t)) for t in ladder])
    c2 = chord2_col if isinstance(chord2_col, Column) else F.col(chord2_col)
    lvl_col = F.size(F.filter(ladder_arr, lambda t: t >= c2)) - F.lit(1)
    return F.greatest(F.lit(0), F.least(F.lit(30), lvl_col))


def within_distance_join_df_var(
    df: DataFrame,
    probes: DataFrame,
    chord2_col: str = "chord2_max",
    id_col: str = "image_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    query_id_col: str = "query_id",
    qlat_col: str = "qlat",
    qlng_col: str = "qlng",
    levels: "list[int] | tuple[int, ...] | None" = None,
) -> DataFrame:
    """VARIABLE-radius within-distance join: each probe ROW carries its
    own chord² threshold (caps-as-a-DataFrame — footprint joins with
    per-row sizes). The threshold is taken in chord² form so the match
    predicate is pure arithmetic: no engine-side trig in the gate, so
    the result is bit-stable across engines (the repo's no-libm rule).

    Per-probe ring level = the finest level whose min cell width still
    covers the probe's radius, computed EXACTLY as a comparison count
    against the 31 Python-precomputed min-width chord² literals (no
    log/asin — a native size(filter(...)) over a literal array).

    The ring core with a per-row level: ONE ring-UDF stage explodes
    every probe's ring at its own level (the six faces at level 0), and
    ONE scan of the fact side explodes each fact row to its ancestors
    at exactly the ACTIVE levels (the probe-side level histogram, ≤ 31
    values driver-collected as a bounded list — the
    ``region_join_ancestors`` shape), however many radius classes the
    probes span. Candidates are ONE equi-join on the cell key alone —
    a cell id encodes its level. Per probe the exactness guarantee is
    exactly ``within_distance_join_df``'s one-round ring contract, and
    a fact row has ONE ancestor at the probe's level while ring
    targets are distinct — so no dedup pass exists.

    Probes with a NULL threshold are dropped up front: a pure-arithmetic
    ``<=`` gate can never match them (NULL-drop semantics, matching the
    literal-radius path's behavior for absent rows).

    ``levels``: optional precomputed ring-level set (the stats-injection
    pattern — plans.stats for kNN, this for variable radius). When
    given, the per-call probe-level ``distinct().collect()`` is SKIPPED
    entirely: on a repeated variable-radius workload the histogram is
    paid once by the caller, not once per call. Level 0 is implicitly
    added, and each probe joins at the COARSEST-SAFE clamp — the
    largest provided level ≤ its exact level. A coarser ring always
    covers a larger radius, so the one-round exactness contract holds
    for ANY clamp ≤ the exact level: ``levels`` can be a superset,
    subset, or guess of the true histogram and only performance moves
    (a probe clamped far coarser joins a wider ring; a level nothing
    clamps to costs one unused ancestor per fact row).
    """
    c2 = F.col(chord2_col)
    p = probes.where(c2.isNotNull()).select(
        query_id_col,
        qlat_col,
        qlng_col,
        c2.alias("__c2"),
        radius_level_expr(c2).alias("__lvl"),
    )
    if levels is None:
        active = sorted(
            int(r["__lvl"]) for r in p.select("__lvl").distinct().collect()
        )  # ≤ 31 rows to the driver
        if not active:  # empty (or all-NULL-threshold) probe set
            return df.select(
                F.lit(0).cast("long").alias(query_id_col),
                F.col(id_col),
                F.lit(0.0).alias("dist_chord2"),
            ).limit(0)
        jl = F.col("__lvl")
    else:
        active = sorted({int(x) for x in levels} | {0})
        if any(not (0 <= x <= 30) for x in active):
            raise ValueError(f"levels must each be in [0, 30]: {levels}")
        # coarsest-safe clamp: largest provided level ≤ the exact
        # level (level 0 is in the set, so the filter is never empty)
        arr = F.array(*[F.lit(x) for x in active])
        jl = F.array_max(F.filter(arr, lambda x: x <= F.col("__lvl")))
    cand = p.select(
        query_id_col, qlat_col, qlng_col, "__c2",
        F.explode(_ring_udf(qlat_col, qlng_col, jl)).alias("__tc"),
    )
    j = _ring_join(
        df, cand, active, id_col, lat_col, lng_col, cell_col, qlat_col, qlng_col
    )
    return j.where(F.col("dist_chord2") <= F.col("__c2")).select(
        query_id_col, id_col, "dist_chord2"
    )


def region_anti_filter(
    df: DataFrame,
    regions: list,
    coverer: RegionCoverer = DEFAULT_COVERER,
    biased_col: str = "cell_id_biased",
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Rows of ``df`` inside NONE of the regions — geofence EXCLUSION
    (the complement of ``region_filter`` over the region set; reference
    semantics: negated region containment, region.rs contains_point).

    One scan, zero shuffle: each region contributes its
    ``covering-range AND exact`` membership conjunction and the filter
    is ``NOT (OR over regions)``. Negation kills range pushdown by
    nature (an anti-join must look at every row), but the per-row cost
    stays native codegen trig. The OR chain grows with region count —
    right for tens of regions; for thousands use
    ``region_anti_join`` (equi-join candidates + left_anti).

    NULL coordinates are inside no region, so such rows are KEPT —
    the membership OR is coalesced to false (bare ``NOT(NULL)`` would
    silently drop them, diverging from the left_anti regime, which
    keeps unmatched rows by construction).
    """
    member = F.lit(False)
    for region in regions:
        ranges = covering_ranges(region, coverer)
        member = member | (
            range_predicate(ranges, biased_col)
            & exact_predicate(region, lat_col, lng_col)
        )
    return df.where(~F.coalesce(member, F.lit(False)))


def region_anti_join(
    spark: SparkSession,
    df: DataFrame,
    regions: list,
    coverer: RegionCoverer = DEFAULT_COVERER,
    cell_col: str = "cell_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
    id_col: str = "image_id",
    fast: bool = True,
) -> DataFrame:
    """Geofence exclusion at region-table scale: rows of ``df`` inside
    NONE of the ``regions``, as a LEFT ANTI join against the matched-id
    set of ``region_join_ancestors`` (pure equi-join candidates + exact
    post-filter — the 10⁴-region shape).

    Cost is the standard distributed anti-join: one fact scan to build
    the (small) matched-id set, one anti-join shuffle keyed on
    ``id_col``. Requires ``id_col`` to identify rows uniquely (the
    anti-join key).
    """
    matched = region_join_ancestors(
        spark, df.select(id_col, cell_col, lat_col, lng_col),
        regions, list(range(len(regions))),
        coverer=coverer, cell_col=cell_col,
        lat_col=lat_col, lng_col=lng_col, fast=fast,
    ).select(id_col).distinct()
    return df.join(matched, id_col, "left_anti")
