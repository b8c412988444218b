"""Exact k-nearest-neighbour joins (SURVEY.md §2.8): the k nearest fact
rows per probe point, deterministic tie-break on id.

Every form rests on one exactness contract. A probe's candidate ring
is its own cell plus all_neighbors at some level (the ring-join core,
``covering_join._ring_cells_np`` / ``_ring_udf`` / ``_ring_join``); the
3×3 ring holds every point within one cell min-width of the probe, so
a probe's top-k is final only when its k-th distance is inside that
bound (``_safe_chord2``). Otherwise the ring coarsens and only the
unresolved probes retry; level 0 covers the sphere, so widening ends.

One driver-literal engine, ``_tail_literal_rounds``, runs the widening
rounds: rings computed in numpy and broadcast as a literal frame, the
fact scan pruned to the rings' merged leaf ranges, and the next ring of
a probe that found fewer than k rows sized off the bounded level-7
density histogram. Each round is ONE Spark job, a ``toArrow`` of the
ring join's (probe, id, distance) pairs; the driver ranks them, checks
coverage and widens in numpy, and the result is a driver-held
``local_frame``, so the engine persists and checkpoints nothing. Raw
pairs are shipped only when the histogram bounds them under
``_DRIVER_RANK_MAX_ROWS`` (a histogram read off the fact frame, or
injected stats that ``n_rows`` confirms); otherwise the round keeps
each probe's top k in Spark first. It has three callers:

- ``knn_join``: probes are a driver-side list, all starting at the
  level that ``radius_guess_deg`` gives.
- ``knn_join_df`` with at most ``_TAIL_COLLECT_MAX`` probes: each probe
  starts at a level read off the density histogram.
- ``knn_join_df``'s relational rounds, for larger probe sets: they run
  on the executors and hand their unresolved tail to the engine.

``mutual_knn_pairs`` and ``idw_interpolate`` compose ``knn_join_df``.
"""

from __future__ import annotations

import contextlib
import math
import weakref

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import s2_parent
from ..kernels import cellid as k
from ..kernels import metric as metrics
from ..plans.frames import local_frame
from .covering_join import _ring_cells_np, _ring_join, _ring_udf, radius_level_expr


def _safe_chord2(level: int) -> float:
    """Chord² radius certainly covered by the 3×3 ring at this level."""
    if level <= 0:
        return 4.0  # whole sphere
    w = metrics.MIN_WIDTH.value(level)
    s = 2.0 * math.sin(0.5 * min(w, math.pi))
    return s * s


# Above this many merged ranges the OR-of-BETWEEN predicate stops paying
# (plan bloat beats row-group pruning); the broadcast equi-join still
# filters correctly without it.
_MAX_PUSHED_RANGES = 256


def _merged_biased_ranges(cells: np.ndarray) -> list[tuple[int, int]]:
    """Biased [lo, hi] leaf ranges of the candidate cells, with adjacent
    /overlapping ranges coalesced (cells of one attempt share a level, so
    ranges are disjoint but frequently adjacent along the Hilbert curve)."""
    cells = np.unique(cells.astype(np.uint64))
    lo = k.bias_u64(k.range_min(cells)).astype(np.int64)
    hi = k.bias_u64(k.range_max(cells)).astype(np.int64)
    order = np.argsort(lo)
    merged: list[tuple[int, int]] = []
    for l, h in zip(lo[order], hi[order]):
        if merged and int(l) <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], int(h)))
        else:
            merged.append((int(l), int(h)))
    return merged


def _pushdown_candidate_ranges(
    df: DataFrame, cand: list[np.ndarray], lvl: int, biased_col: str
) -> DataFrame:
    """Restrict the attempt's scan to the candidate rings' leaf ranges.

    The OR-of-BETWEEN on the biased column is a top-level conjunct, so it
    reaches the parquet scan (PushedFilters → row-group min/max pruning on
    the Hilbert-sorted table). Semantics-preserving: every row that can
    match the ring equi-join lies inside its candidate cell's leaf range.
    """
    if biased_col not in df.columns or lvl <= 0:
        return df
    ranges = _merged_biased_ranges(np.concatenate(cand))
    if len(ranges) > _MAX_PUSHED_RANGES:
        return df
    pred = F.lit(False)
    for lo, hi in ranges:
        pred = pred | F.col(biased_col).between(F.lit(lo), F.lit(hi))
    return df.where(pred)


def knn_join(
    spark: SparkSession,
    df: DataFrame,
    query_points: list[tuple[int, float, float]],
    kk: int,
    radius_guess_deg: float = 1.0,
    lat_col: str = "lat",
    lng_col: str = "lng",
    id_col: str = "image_id",
) -> DataFrame:
    """(query_id, rank, image_id, dist_chord2) of the exact k nearest
    rows per query point. Deterministic tie-break on id.

    Every probe starts at the finest level whose cell min-width covers
    ``radius_guess_deg`` and runs the driver-literal engine
    (``_tail_literal_rounds``) from its first round. The level-7
    histogram of ``df`` is read only when a round leaves a probe with
    fewer than ``kk`` rows and the engine must size that probe's next
    ring (memoized per frame in ``_L7_HIST``), so a call whose probes
    all sit in dense territory reads no histogram.

    A query point whose lat or lng is None or NaN has no nearest
    neighbours and returns no rows, as in ``knn_join_df``.

    Each widening round is one Spark job, and the result — at most
    ``len(query_points) * kk`` rows — comes back as a driver-held
    ``local_frame``: nothing is persisted or checkpointed, so nothing
    stays pinned in executor memory after the call returns. With no
    histogram in hand a round keeps each probe's top ``kk`` in Spark
    before its rows reach the driver (the engine's pre-trim).
    """
    from pyspark.sql.types import LongType

    qids, qlat, qlng = _probe_arrays(query_points)
    level = max(0, min(30, metrics.MIN_WIDTH.max_level(math.radians(radius_guess_deg))))
    return _tail_literal_rounds(
        spark, df, qids, qlat, qlng,
        np.full(len(qids), level, dtype=np.int64),
        np.zeros(len(qids), dtype=bool),
        kk, 0, None, 0,
        lat_col, lng_col, id_col, "query_id", "qlat", "qlng", LongType(),
    )


def _probe_arrays(rows) -> tuple[list, np.ndarray, np.ndarray]:
    """(ids, lat, lng) of the (id, lat, lng) probe rows with both
    coordinates set. A None coordinate reads NaN in float64, and a probe
    with a NaN coordinate has no nearest neighbours, so it is dropped
    here, before any cell id is computed."""
    lat = np.array([r[1] for r in rows], dtype=np.float64)
    lng = np.array([r[2] for r in rows], dtype=np.float64)
    ok = ~(np.isnan(lat) | np.isnan(lng))
    return [r[0] for r, keep in zip(rows, ok) if keep], lat[ok], lng[ok]


def _ranked_out(slices: list[DataFrame], query_id_col: str, id_col: str) -> DataFrame:
    """The union of the accepted rank slices as (query_id, rank int, id,
    dist_chord2)."""
    out = slices[0]
    for f in slices[1:]:
        out = out.unionByName(f)
    return out.select(
        query_id_col, F.col("rank").cast("int").alias("rank"), id_col, "dist_chord2"
    )


# --------------------------------------------------------------------------
# DataFrame-native query side: the probe set is itself a DataFrame, and
# may hold millions of rows. Rings come from the ring-join core
# (covering_join._ring_udf executor-side, _ring_cells_np for the
# driver-literal rounds), the parent equi-join co-locates with the fact
# table's cell partitioning, and widening retries only the unresolved
# probes; reference parity: same exactness contract as knn_join
# (point_index.rs kNN semantics).


# The one regime threshold of knn_join_df: a probe set, or an unresolved
# tail of the relational rounds, of at most this many rows runs the
# driver-literal rounds (rings computed in numpy, candidate frame
# broadcast, fact scan pruned via the merged-range pushdown) instead of
# a relational pass over the probe pipeline.
_TAIL_COLLECT_MAX = 2048
# after this many widening rounds the next round is emitted as final
_MAX_WIDEN = 12
_LOG4 = math.log(4.0)


def _start_level_np(
    own_det: np.ndarray,
    s_det: np.ndarray,
    own_coarse: np.ndarray,
    s_coarse: np.ndarray,
    target: int,
):
    """Per-probe start level from local densities: own_* = the probe's
    own-cell row count, s_* = its 3×3 ring sum, at level 7 (det) and
    its level-4 rollup (coarse). Picks the finest level whose ring
    still expects >= target rows. The effective density uses
    max(9·own, ring_sum): real corpora concentrate (a city is a
    Gaussian spot inside ONE level-7 cell, 10-100× the ring average),
    and under-estimating density by 16× makes every city probe join a
    ~64×-target ring — the measured 62M-candidate blowup this term
    removes. Pure performance: any level is exact under the widening
    contract."""
    t = float(max(1, target))
    r7 = np.maximum(np.maximum(9.0 * own_det, s_det).astype(np.float64), 1.0)
    r4 = np.maximum(np.maximum(9.0 * own_coarse, s_coarse).astype(np.float64), 1.0)
    s4 = np.maximum(s_coarse.astype(np.float64), 1.0)
    lvl = np.where(
        s_det >= t,
        7 + np.floor(np.log(r7 / t) / _LOG4),
        np.where(
            s_coarse >= t,
            np.minimum(6, 4 + np.floor(np.log(r4 / t) / _LOG4)),
            np.maximum(0, 4 + np.floor(np.log(s4 / t) / _LOG4)),
        ),
    )
    return np.clip(lvl, 0, 30).astype(np.int64)


def _density_tables(cells7: np.ndarray, n7: np.ndarray) -> tuple:
    """(level-7 cells, counts, level-4 cells, counts), each pair sorted
    by cell: the bounded level-7 histogram (≤ 6·4^7 cells whatever the
    corpus size) and its level-4 rollup."""
    order = np.argsort(cells7)
    c7s = cells7[order]
    n7s = n7[order].astype(np.int64)
    c4s, inv = np.unique(k.parent(c7s, 4), return_inverse=True)
    n4s = np.zeros(len(c4s), dtype=np.int64)
    np.add.at(n4s, inv, n7s)
    return c7s, n7s, c4s, n4s


def _lookup(cells: np.ndarray, tc: np.ndarray, tn: np.ndarray) -> np.ndarray:
    """Count of each cell in the sorted table (tc, tn); 0 when absent."""
    if len(tc) == 0:
        return np.zeros(len(cells), dtype=np.int64)
    pos = np.clip(np.searchsorted(tc, cells), 0, len(tc) - 1)
    return np.where(tc[pos] == cells, tn[pos], 0)


def _ring_density(leafs: np.ndarray, lvl: int, tc: np.ndarray, tn: np.ndarray):
    """(own-cell count, 3×3 ring sum incl. own) per row."""
    p = k.parent(leafs, lvl)
    rings = k.all_neighbors(p, lvl)
    lens = np.fromiter((len(r) for r in rings), dtype=np.int64, count=len(rings))
    flat = np.concatenate(rings) if len(rings) else np.array([], dtype=np.uint64)
    vals = _lookup(flat, tc, tn)
    offs = np.zeros(len(rings), dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    ringsum = (
        np.add.reduceat(vals, offs)
        if len(flat)
        else np.zeros(len(rings), dtype=np.int64)
    )
    ringsum = np.where(lens > 0, ringsum, 0)
    own = _lookup(p, tc, tn)
    return own, ringsum + own


def _probe_start_levels(
    lat: np.ndarray, lng: np.ndarray, tables: tuple, target: int
) -> np.ndarray:
    """Each probe's start level (``_start_level_np``) from its own-cell
    count and 3×3 ring sum in the ``_density_tables`` at levels 7 and 4.
    The probe-prep UDF runs it on the executors and the literal regime
    on the driver."""
    c7s, n7s, c4s, n4s = tables
    leafs = k.cell_from_latlng(lat, lng)
    o7, s7 = _ring_density(leafs, 7, c7s, n7s)
    o4, s4 = _ring_density(leafs, 4, c4s, n4s)
    return _start_level_np(o7, s7, o4, s4, target)


def _probe_prep_udf(tables: tuple, target: int):
    """pandas UDF (qlat, qlng) → struct(jl int, ring array<long>): the
    density-derived start level plus the round-0 candidate ring, ONE
    Python crossing per probe batch. The ``_density_tables`` ride in the
    closure as sorted numpy arrays."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("jl", IntegerType()),
            StructField("ring", ArrayType(LongType())),
        ]
    )

    @pandas_udf(schema)
    def _prep(qlat: pd.Series, qlng: pd.Series) -> pd.DataFrame:
        lat = qlat.to_numpy(np.float64)
        lng = qlng.to_numpy(np.float64)
        jl = _probe_start_levels(lat, lng, tables, target)
        rings = _ring_cells_np(lat, lng, jl)
        return pd.DataFrame({"jl": jl.astype(np.int32), "ring": rings})

    return _prep


def _top_k(scored: DataFrame, kk: int, probe_cols: list[str], id_col: str) -> DataFrame:
    """The rows of ``scored`` ranked per probe (``probe_cols``) by
    dist_chord2 then id ascending, as ``rank``, with rank <= kk kept.
    The one Spark definition of the kNN rank order (``_rank_on_driver``
    is its numpy twin). The filter sits right on the row_number window,
    so Spark keeps each probe's top k per partition before the shuffle
    (WindowGroupLimit)."""
    w = Window.partitionBy(*probe_cols).orderBy(
        F.col("dist_chord2").asc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= kk)


def _attempt_var(
    df: DataFrame,
    cand: DataFrame,
    kk: int,
    active: "list[int] | DataFrame",
    lat_col: str,
    lng_col: str,
    id_col: str,
    query_id_col: str,
    qlat_col: str,
    qlng_col: str,
) -> DataFrame:
    """One widening attempt: the ring core (``covering_join._ring_join``)
    over probes carrying per-row ring levels — ``cand`` = (query_id,
    qlat, qlng, __jl, __tc) with __tc the ring cells at each probe's
    own level — then window rank ≤ kk plus the resolution flags
    computed on the kept rows in the same partitioning (no extra
    shuffle): __n = rows kept (min(candidates, kk), so __n ≥ kk exactly
    when the ring held k rows), __kd = k-th distance, __ok = resolved
    under the _safe_chord2 coverage contract (level-0 probes are always
    final — their ring is the whole sphere)."""
    scored = _ring_join(
        df, cand, active, id_col, lat_col, lng_col, "cell_id", qlat_col, qlng_col
    )
    # partitioned by (probe, attempted level): every round, relational
    # or literal, attempts ONE level per probe, so this equals
    # partitioning by probe
    w_all = Window.partitionBy(query_id_col, "__jl")
    safe_arr = F.array(*[F.lit(_safe_chord2(lv)) for lv in range(31)])
    # the flags see at most k rows a probe
    return (
        _top_k(scored, kk, [query_id_col, "__jl"], id_col)
        .withColumn("__n", F.count("*").over(w_all))
        .withColumn("__kd", F.max("dist_chord2").over(w_all))
        .withColumn(
            "__ok",
            (F.col("__jl") == 0)
            | (
                (F.col("__n") >= kk)
                & (F.col("__kd") <= F.element_at(safe_arr, F.col("__jl") + 1))
            ),
        )
        .select(
            query_id_col, "__jl", "rank", id_col, "dist_chord2",
            "__ok", "__n", "__kd",
        )
    )


# Per-source-frame memos of the kNN joins: the density tables of the
# bounded level-7 histogram, and knn_join_df's probe-prep UDFs whose
# closures carry them. Keyed weakly on the DataFrame object (fact frame or
# injected stats), so an entry lives exactly as long as the frame it
# was computed from.
_L7_HIST: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_PREP_UDFS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_L_DET = 7  # level of the bounded density histogram


def _level7_tables(df: DataFrame, stats: DataFrame | None = None) -> tuple:
    """The ``_density_tables`` of the bounded level-7 histogram of
    ``df``, read off the injected ``stats`` frame when given. Collected
    ONCE per source DataFrame object (see _L7_HIST): repeat calls,
    streaming batches and injected stats reuse it. DataFrames are
    immutable plans, so the capture only goes stale if the underlying
    FILES are rewritten under a live frame. Start levels and ring sizes
    are pure performance, never correctness; the literal rounds also
    bound their driver traffic with it, which is why ``knn_join_df``
    trusts injected stats only as far as ``n_rows`` confirms them.

    Rows with a NULL cell id (``s2_cell_from_latlng`` of a NULL or NaN
    coordinate) are on no cell: their NULL group is not counted."""
    src = stats if stats is not None else df
    tables = _L7_HIST.get(src)
    if tables is None:
        if stats is None:
            hist = df.groupBy(s2_parent("cell_id", _L_DET).alias("__p")).count()
        else:
            hist = stats.where(F.col("level") == F.lit(_L_DET)).select(
                F.col("cell").alias("__p"), F.col("n").alias("count")
            )
        # bounded: ≤ 6·4^7 = 98,304 rows whatever |df| is
        rows = hist.where(F.col("__p").isNotNull()).collect()
        tables = _density_tables(
            np.array([r["__p"] for r in rows], dtype=np.int64).view(np.uint64),
            np.array([r["count"] for r in rows], dtype=np.int64),
        )
        _L7_HIST[src] = tables
    return tables


def knn_join_df(
    df: DataFrame,
    queries: DataFrame,
    kk: int,
    lat_col: str = "lat",
    lng_col: str = "lng",
    id_col: str = "image_id",
    query_id_col: str = "query_id",
    qlat_col: str = "qlat",
    qlng_col: str = "qlng",
    stats: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """(query_id, rank, image_id, dist_chord2) of the exact k nearest
    fact rows per probe ROW of ``queries`` — the large-probe-set twin of
    ``knn_join``. Deterministic tie-break on id.

    PRECONDITION: ``query_id`` is unique per probe row (as in
    ``knn_join``'s list contract). Duplicate ids merge both probes'
    candidate pools under one rank window and produce interleaved
    wrong ranks — deduplicate or re-key the probe frame first.

    A probe whose ``qlat`` or ``qlng`` is NULL or NaN has no nearest
    neighbours and returns no rows, as in the within-distance joins.

    ``stats``: precomputed density statistics from
    ``plans.stats.build_cell_stats(df, levels=(7,))`` (table metadata,
    maintained at write time next to the lineage table). When given,
    the bounded level-7 histogram below is read from this frame
    instead of re-scanning the fact table — on a REPEATED kNN
    workload at 100 TB the stats scan is paid once per dataset, not
    once per query. Start levels are pure performance (the resolution
    contract makes any choice exact), so stale stats never change a
    result. The histogram also bounds what a literal round ships to the
    driver, and stats that undercount ``df`` would let that bound pass
    more rows than ``_DRIVER_RANK_MAX_ROWS``. So without ``n_rows`` the
    injected histogram is not trusted for that bound, and every literal
    round keeps each probe's top k in Spark before its rows reach the
    driver.

    ``n_rows``: the caller's known row count of ``df`` (from
    ``df.count()``, the lineage table's write metrics, or
    ``plans.stats.stats_row_count``). When BOTH ``stats`` and
    ``n_rows`` are given, the stats' implied corpus size (Σn at the
    detection level — every row has exactly one ancestor there) is
    checked against it: a ≥2× mismatch RAISES, a >25% drift WARNS.
    This guards the measured footgun of seeding a subset corpus with
    full-table stats (identical result, 2.7× slower in the round-8
    bench): stats describing the wrong corpus start probes at the
    wrong density and the cost hides in extra widening rounds, so it
    is caught here, at injection, where the fix is obvious. Confirmed
    stats bound the literal rounds' driver traffic, with each probe's
    ring count raised by the rows ``n_rows`` holds beyond them (a true
    bound for a table that only grew since its stats were built).

    Exactness: identical widening contract to ``knn_join`` — a probe is
    final only when it holds ≥ k results whose k-th distance fits inside
    the ring's guaranteed coverage (_safe_chord2); otherwise the ring
    coarsens and ONLY unresolved probes retry. Level 0 covers the
    sphere, so termination is unconditional.

    Start levels (pure performance, exactness is level-independent):
    each probe derives its OWN start level from the local density
    around it — per probe, the 3×3 ring sums in the bounded level-7
    histogram (≤ 6·4^7 cells whatever the corpus size) and in its
    level-4 rollup pick the finest level whose ring still expects
    ≥ 8k rows. A global-average level starts sparse probes far too
    fine (the average is dominated by the cities) and burns 3-4
    full-table widening rounds per call; per-probe levels resolve
    almost every probe in the first round.

    Scale shape: one action first collects at most
    ``_TAIL_COLLECT_MAX`` + 1 probe rows, and the probe count picks the
    regime.

    - Literal regime (≤ ``_TAIL_COLLECT_MAX`` probes, e.g. a streaming
      micro-batch): start levels are computed on the driver, and every
      round is driver-literal and ONE Spark job — rings in numpy, a
      broadcast candidate frame, the merged-range OR-of-BETWEEN
      pushdown pruning the fact scan, and a ``toArrow`` of the ring
      join's pairs that the driver ranks and checks. The pairs ship raw
      when the level-7 histogram bounds them under
      ``_DRIVER_RANK_MAX_ROWS``, else pre-trimmed to each probe's top
      k in Spark. The result is a driver-held ``local_frame``: nothing
      is persisted, and no checkpoint runs. The probe source is read
      once, and no Python worker runs.
    - Relational regime (more probes): the first round is ONE scan of
      the fact side (exploded to its ancestors at exactly the active
      levels — cell ids encode their level so one equi-join column
      suffices), one pandas-UDF stage for start levels and rings, one
      shuffle join, and one window pass that also computes the
      resolution flags. Each round sends a ≤ 31-row level histogram to
      the driver; once the unresolved tail fits ``_TAIL_COLLECT_MAX``
      it is collected and finishes in the literal rounds.

    Driver traffic is the bounded histogram up front, plus the probes
    themselves only once they number at most ``_TAIL_COLLECT_MAX``, and
    then each literal round's pairs: at most ``_DRIVER_RANK_MAX_ROWS``
    by the histogram's bound (read off ``df``, or stats that ``n_rows``
    confirms), or at most k per pending probe.
    """
    with _knn_join_df_lazy(
        df, queries, kk,
        lat_col=lat_col, lng_col=lng_col, id_col=id_col,
        query_id_col=query_id_col, qlat_col=qlat_col, qlng_col=qlng_col,
        stats=stats, n_rows=n_rows,
    ) as out:
        # a literal result is already driver-held; a relational one
        # (≤ |probes|·k rows) reads the round frames released on exit
        return out if out.isLocal() else out.localCheckpoint(eager=True)


@contextlib.contextmanager
def _knn_join_df_lazy(
    df: DataFrame,
    queries: DataFrame,
    kk: int,
    lat_col: str = "lat",
    lng_col: str = "lng",
    id_col: str = "image_id",
    query_id_col: str = "query_id",
    qlat_col: str = "qlat",
    qlng_col: str = "qlng",
    stats: DataFrame | None = None,
    n_rows: int | None = None,
):
    """``knn_join_df``'s body. In the literal regime it yields the
    engine's driver-held ``local_frame``; in the relational regime a
    lazy DataFrame over the persisted round frames, which it unpersists
    on exit, so the caller must materialize that result inside the
    ``with`` block (a checkpoint, or a sink write that reads it once)."""
    src = stats if stats is not None else df
    tables = _level7_tables(df, stats)
    n_tot = int(tables[1].sum())
    if stats is not None and n_tot == 0:
        # empty stats — including an entirely empty frame — can never
        # seed start levels; raising the build hint here beats the
        # misleading wrong-corpus error the n_rows check would give
        # (round-9 ADVICE) and beats silently returning no neighbors
        raise ValueError(
            f"stats carry no level={_L_DET} rows; build with "
            f"build_cell_stats(df, levels=({_L_DET},))"
        )
    if stats is not None and n_rows is not None and n_rows > 0:
        ratio = n_tot / n_rows
        if ratio >= 2.0 or ratio <= 0.5:
            raise ValueError(
                f"injected stats describe a corpus of {n_tot} rows but "
                f"n_rows={n_rows} — wrong corpus (subset/superset?). "
                f"Rebuild with build_cell_stats over THIS frame; a "
                f"mismatch this gross cost 2.7x in widening rounds when "
                f"measured."
            )
        if abs(ratio - 1.0) > 0.25:
            import warnings

            warnings.warn(
                f"injected stats imply {n_tot} rows vs n_rows={n_rows} "
                f"({ratio:.2f}x) — stale stats slow queries down, "
                f"consider rebuilding",
                stacklevel=4,  # past contextlib's __enter__ and knn_join_df
            )
    # rows df may hold in any region beyond the histogram's count of it:
    # none when the histogram was read off df; the growth n_rows shows
    # for injected stats; unknown (None: every literal round pre-trims)
    # for stats nothing confirms
    if stats is None:
        slack = 0
    elif n_rows is not None:
        slack = max(0, n_rows - n_tot)
    else:
        slack = None
    spark = df.sparkSession
    qid_type = queries.schema[query_id_col].dataType
    if n_tot == 0:
        # empty fact table: the exact k-nearest result is empty for
        # every probe — no join round can produce a row
        yield _local_result(spark, df, query_id_col, id_col, qid_type, [], [], [])
        return

    cols = (lat_col, lng_col, id_col, query_id_col, qlat_col, qlng_col, qid_type)
    # THE regime decision: one action reads at most one row past the
    # literal cap
    head = (
        queries.select(query_id_col, qlat_col, qlng_col)
        .limit(_TAIL_COLLECT_MAX + 1)
        .collect()
    )
    if len(head) <= _TAIL_COLLECT_MAX:
        # Measured on perfbench spatial_query (100 probes, k = 5,
        # local[4] on a 4-core VM): 10 Spark jobs a call against 22
        # for a relational round 0 + tail, a p50 of 2.7-3.1 s
        # against 4.7-5.2 s, and no Python-worker crossing.
        qids, qlat, qlng = _probe_arrays(head)
        yield _tail_literal_rounds(
            spark, df, qids, qlat, qlng,
            _probe_start_levels(qlat, qlng, tables, 8 * kk),
            np.zeros(len(qids), dtype=bool),
            kk, 0, tables, slack, *cols,
        )
        return
    persisted: list[DataFrame] = []
    try:
        slices = _relational_rounds(
            spark, df, queries, kk, persisted, src, tables, slack, *cols
        )
        yield _ranked_out(slices, query_id_col, id_col)
    finally:
        for p in persisted:
            p.unpersist()


def _relational_rounds(
    spark: SparkSession,
    df: DataFrame,
    queries: DataFrame,
    kk: int,
    persisted: list[DataFrame],
    src: DataFrame,
    tables: tuple,
    slack: int | None,
    lat_col: str,
    lng_col: str,
    id_col: str,
    query_id_col: str,
    qlat_col: str,
    qlng_col: str,
    qid_type,
) -> list[DataFrame]:
    """knn_join_df's relational regime: widening rounds over the probe
    DataFrame on the executors until the unresolved tail fits
    ``_TAIL_COLLECT_MAX``, which finishes in ``_tail_literal_rounds``.
    Appends every frame it persists to ``persisted``; returns the
    accepted rank slices. ``slack`` is passed on to the literal rounds."""
    target = 8 * kk
    # the prep UDF closure carries the histogram (~MBs at full level-7
    # occupancy) — reuse the constructed UDF across repeat calls with
    # the same source frame and k instead of re-pickling per call
    prep_cache = _PREP_UDFS.setdefault(src, {})
    prep = prep_cache.get(target)
    if prep is None:
        prep = _probe_prep_udf(tables, target)
        prep_cache[target] = prep
    valid = [F.col(c).isNotNull() & ~F.isnan(c) for c in (qlat_col, qlng_col)]
    base = (
        queries.select(query_id_col, qlat_col, qlng_col)
        .where(valid[0] & valid[1])
        .withColumn("__p", prep(F.col(qlat_col), F.col(qlng_col)))
    )
    pending = base.select(
        query_id_col, qlat_col, qlng_col,
        F.col("__p.jl").alias("__jl"),
        F.col("__p.ring").alias("__ring"),
    ).persist()
    persisted.append(pending)
    sel = [query_id_col, "rank", id_col, "dist_chord2"]
    slices: list[DataFrame] = []
    attempt = 0
    # round 0 never collects the level set: the fact side derives it
    # relationally (broadcast distinct over the probe side) — one
    # fewer driver action per call; later rounds know it from the
    # round counts
    active: list[int] | None = None
    while True:
        cand = pending.select(
            query_id_col, qlat_col, qlng_col, "__jl",
            F.explode("__ring").alias("__tc"),
        )
        lv_arg = (
            pending.select(F.col("__jl").alias("__lvl")).distinct()
            if active is None
            else active
        )
        ranked = _attempt_var(
            df, cand, kk, lv_arg,
            lat_col, lng_col, id_col, query_id_col, qlat_col, qlng_col,
        ).persist()
        persisted.append(ranked)
        if (
            active is not None and all(lv == 0 for lv in active)
        ) or attempt >= _MAX_WIDEN:
            slices.append(ranked.select(*sel))
            break
        slices.append(ranked.where(F.col("__ok")).select(*sel))
        # kd-DERIVED widening: a probe that found >= k rows but whose
        # k-th distance exceeds the ring's coverage retries at the
        # finest level whose one-ring contract covers that distance —
        # the new ring provably holds every point within kd, and the
        # new k-th can only shrink, so that retry RESOLVES by
        # construction (one extra round, never a widening walk).
        # Probes with < k rows are in genuinely sparse territory and
        # jump 4 levels (256× ring area) instead. ONE aggregation
        # serves both the resolved-id set and the kd lookup.
        pstats = ranked.groupBy(query_id_col).agg(
            F.max("__ok").alias("__pok"),
            F.max("__n").alias("__pn"),
            F.max("__kd").alias("__pkd"),
        )
        nxt = (
            pending.where(F.col("__jl") > 0)
            .join(pstats, query_id_col, "left")
            .where(~F.coalesce(F.col("__pok"), F.lit(False)))
            .withColumn(
                "__jl",
                F.when(
                    F.col("__pn") >= kk,
                    F.greatest(
                        F.lit(0),
                        F.least(
                            F.col("__jl") - 1,
                            radius_level_expr(F.col("__pkd")),
                        ),
                    ),
                ).otherwise(F.greatest(F.lit(0), F.col("__jl") - F.lit(4))),
            )
            # a kd-derived retry RESOLVES by construction (the ring
            # provably covers the previous k-th distance) — carry the
            # flag so the next round can skip its resolve-check job
            .withColumn(
                "__gtd",
                (F.coalesce(F.col("__pn"), F.lit(0)) >= kk)
                & F.col("__pkd").isNotNull(),
            )
            .drop("__pok", "__pn", "__pkd")
        ).persist()
        persisted.append(nxt)
        # THE round action: ≤ 31 rows to the driver (level histogram of
        # the unresolved tail); materializes this round's pipeline
        counts = nxt.groupBy("__jl").agg(
            F.count("*").alias("count"),
            F.min(F.col("__gtd").cast("int")).alias("g"),
        ).collect()
        if not counts:
            break
        n_pend = sum(int(r["count"]) for r in counts)
        active = sorted(int(r["__jl"]) for r in counts)
        all_gtd = all(int(r["g"]) == 1 for r in counts)
        attempt += 1
        if n_pend <= _TAIL_COLLECT_MAX:
            rows = nxt.select(
                query_id_col, qlat_col, qlng_col, "__jl", "__gtd"
            ).collect()
            slices.append(
                _tail_literal_rounds(
                    spark, df,
                    [r[0] for r in rows],
                    np.array([r[1] for r in rows], dtype=np.float64),
                    np.array([r[2] for r in rows], dtype=np.float64),
                    np.array([r[3] for r in rows], dtype=np.int64),
                    np.array([bool(r[4]) for r in rows]),
                    kk, attempt, tables, slack,
                    lat_col, lng_col, id_col,
                    query_id_col, qlat_col, qlng_col, qid_type,
                )
            )
            break
        pending = nxt.drop("__ring").withColumn(
            "__ring", _ring_udf(qlat_col, qlng_col, F.col("__jl"))
        )
        if all_gtd:
            # every remaining probe retries at its kd-derived level —
            # the round is final by construction: emit and stop
            cand = pending.select(
                query_id_col, qlat_col, qlng_col, "__jl",
                F.explode("__ring").alias("__tc"),
            )
            slices.append(
                _attempt_var(
                    df, cand, kk, active,
                    lat_col, lng_col, id_col,
                    query_id_col, qlat_col, qlng_col,
                ).select(*sel)
            )
            break
    return slices


# A literal round ships its raw candidate pairs to the driver only when
# the level-7 histogram bounds them at or under this many rows; over it,
# or with no histogram in hand, the round keeps each probe's top k in
# Spark first, so the driver gets <= |pending|·k. The raw path drops the
# Window plan, and with it that plan's JIT, from cold small rounds such
# as perfbench spatial_query's micro-batch (bounded at 0.22-0.23M rows);
# the two paths were not compared there. With warm plans on a dense
# 1.2M-row table (k = 64, one round, local[4] on a 4-core VM, 2 runs
# each) it lost 0.05-0.34 s wall at 0.32M and 0.63M shipped rows and
# 0.75-0.77 s at 1.3M, so a cap much above 2^20 would cost more than the
# JIT it saves; where below 2^20 the two cross was not measured.
_DRIVER_RANK_MAX_ROWS = 1 << 20


def _tail_literal_rounds(
    spark: SparkSession,
    df: DataFrame,
    qids: list,
    qlat: np.ndarray,
    qlng: np.ndarray,
    jl: np.ndarray,
    gtd: np.ndarray,
    kk: int,
    attempt0: int,
    tables: tuple | None,
    slack: int | None,
    lat_col: str,
    lng_col: str,
    id_col: str,
    query_id_col: str,
    qlat_col: str,
    qlng_col: str,
    qid_type,
) -> DataFrame:
    """The one driver-literal widening engine, for a ``knn_join`` list,
    a small ``knn_join_df`` probe set from round 0, or the unresolved
    tail of the relational rounds. Returns one ``local_frame`` of
    (query_id, rank int, id, dist_chord2): the result rows are on the
    driver when it returns, and nothing is persisted.

    A round is ONE Spark job: rings computed in numpy, the ring-join
    core over a broadcast candidate frame keyed by probe position, the
    fact scan pruned with the merged-range OR-of-BETWEEN pushdown (at
    100 TB a round reads only the row groups its rings cover), and a
    ``toArrow`` of (position, id, dist_chord2). The driver ranks each
    probe's rows in the order of ``_attempt_var``'s window, computes the
    same resolution flags, accepts the resolved probes and widens the
    rest exactly as the relational rounds do, so results are identical.

    Raw pairs reach the driver only when the level-7 histogram bounds
    the round under ``_DRIVER_RANK_MAX_ROWS`` (an exact range sum for
    ring cells at level <= 7, the counts of each probe's distinct
    level-7 ancestors of finer ring cells), each probe's count raised
    by ``slack``, the rows ``df`` may hold in any region beyond the
    histogram. Over the cap, when the histogram is not in hand, or when
    ``slack`` is None (injected stats that nothing confirms), the round
    keeps ``row_number() <= kk`` per probe in Spark first.

    ``jl`` holds each probe's level for round ``attempt0`` and ``gtd``
    whether that level resolves it by construction; both are updated in
    place. ``tables`` are the ``_density_tables``; when None (``knn_join``)
    ``_level7_tables(df)`` is read only once a probe with fewer than
    ``kk`` rows needs its next ring sized, so a dense call reads no
    histogram and pre-trims every round."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    cand_schema = StructType(
        [
            StructField("__pos", IntegerType()),
            StructField(qlat_col, DoubleType()),
            StructField(qlng_col, DoubleType()),
            StructField("__jl", IntegerType()),
            StructField("__tc", LongType()),
        ]
    )
    safe_np = np.array([_safe_chord2(lv) for lv in range(31)])
    hist: list[np.ndarray] = []  # [c7sorted, pref7] once in hand

    def _histogram() -> list[np.ndarray]:
        if not hist:
            c7s, n7s = (tables if tables is not None else _level7_tables(df))[:2]
            hist.extend([c7s, np.concatenate([[0], np.cumsum(n7s)])])
        return hist

    if tables is not None:
        _histogram()

    def _ring_rows(owner: np.ndarray, cells: np.ndarray, lvls: np.ndarray) -> int:
        """Candidate pairs of the probes' ring cells (``owner`` = the
        probe of each cell) from the level-7 histogram: a cell at level
        <= 7 covers complete level-7 cells, so its count is an exact
        range sum (prefix sums + searchsorted); finer cells are bounded
        by the counts of their probe's distinct level-7 ancestors."""
        c7sorted, pref7 = _histogram()
        u = k.parent(cells.view(np.uint64), np.minimum(lvls, _L_DET)).view(np.int64)
        u = np.unique(np.stack([owner, u], axis=1), axis=0)[:, 1].copy().view(np.uint64)
        a = np.searchsorted(c7sorted, k.range_min(u), side="left")
        b = np.searchsorted(c7sorted, k.range_max(u), side="right")
        return int((pref7[b] - pref7[a]).sum())

    def _sparse_next_level(lat: float, lng: float, cur: int, target: int) -> int:
        # the finest level whose ring holds >= target rows FOR REAL
        for lv in range(min(cur - 1, _L_DET), -1, -1):
            ring = _ring_cells_np(np.array([lat]), np.array([lng]), np.array([lv]))[0]
            z = np.zeros(len(ring), dtype=np.int64)  # one probe owns the ring
            if _ring_rows(z, ring, z + lv) >= target:
                return lv
        return 0

    parts: list[pa.Table] = []
    ranks: list[np.ndarray] = []
    pend = np.arange(len(qids))
    attempt = attempt0
    while len(pend) > 0:
        lv = jl[pend]
        rings = _ring_cells_np(qlat[pend], qlng[pend], lv)
        rep = np.repeat(pend, [len(r) for r in rings])
        tc = np.concatenate(rings)
        cols = [rep.astype(np.int32), qlat[rep], qlng[rep], jl[rep], tc]
        cand_df = F.broadcast(local_frame(spark, cols, cand_schema))
        active = sorted(int(x) for x in np.unique(lv))
        src = _pushdown_candidate_ranges(df, rings, min(active), "cell_id_biased")
        pairs = _ring_join(
            src, cand_df, active, id_col, lat_col, lng_col, "cell_id", qlat_col, qlng_col
        ).select("__pos", id_col, "dist_chord2")
        if (
            slack is None
            or not hist
            or _ring_rows(rep, tc, jl[rep]) + slack * len(pend) > _DRIVER_RANK_MAX_ROWS
        ):
            # pre-trim: each probe's top kk in _attempt_var's order
            pairs = _top_k(pairs, kk, ["__pos"], id_col).drop("rank")
        got = pairs.toArrow()  # THE round action
        sel, rank, n, kd, has_kd = _rank_on_driver(got, id_col, len(qids), kk)
        # _attempt_var's __ok; a NaN k-th distance never resolves
        ok = (jl == 0) | ((n >= kk) & has_kd & (kd <= safe_np[jl]))
        last = (
            bool(np.all(gtd[pend]))
            or attempt >= _MAX_WIDEN
            or all(x == 0 for x in active)
        )
        if not last:
            keep = ok[got.column("__pos").to_numpy()[sel]]
            sel, rank = sel[keep], rank[keep]
        parts.append(got.take(sel))
        ranks.append(rank)
        if last:
            # kd-derived levels resolve by construction (the ring
            # provably covers each probe's previous k-th distance), so
            # every row of an all-guaranteed round is final
            break
        pend = pend[~ok[pend]]  # level-0 probes are always resolved
        # kd-derived level: the finest ring that covers the k-th
        # distance — resolves next round by construction
        kdd = pend[(n[pend] >= kk) & has_kd[pend]]
        cover = (safe_np[None, :] >= kd[kdd, None]).sum(axis=1) - 1
        jl[kdd] = np.minimum(jl[kdd] - 1, np.maximum(0, cover))
        gtd[kdd] = True
        # sparse probe (fewer than kk rows): the finest level whose ring
        # holds >= 8·kk rows FOR REAL (exact histogram range sums)
        for i in np.setdiff1d(pend, kdd):
            jl[i] = _sparse_next_level(float(qlat[i]), float(qlng[i]), int(jl[i]), 8 * kk)
            gtd[i] = False
        attempt += 1
    return _local_result(
        spark, df, query_id_col, id_col, qid_type, qids, parts, ranks
    )


def _rank_on_driver(got: pa.Table, id_col: str, n_probes: int, kk: int) -> tuple:
    """Each probe's top ``kk`` of one literal round's (__pos, id,
    dist_chord2) rows, ranked in ``_attempt_var``'s window order: dist
    ascending with NULLs first and NaN after every number (Spark's
    double order), then id ascending with NULLs first.

    Returns (row indices into ``got`` in probe-then-rank order, their
    ranks, then per probe position: __n = rows kept, __kd = the largest
    kept distance as Spark's ``max`` gives it (NaN above every number)
    and whether __kd is set — it is NULL when the probe has no row or
    only NULL distances)."""
    m = got.num_rows
    pos = got.column("__pos").to_numpy()
    d = got.column("dist_chord2")
    dnull = d.is_null().to_numpy()
    dv = d.to_numpy()  # NULL reads NaN
    dgrp = np.where(dnull, 0, np.where(np.isnan(dv), 2, 1))
    idkey = np.empty(m, dtype=np.int64)
    idkey[pc.sort_indices(got.column(id_col), null_placement="at_start").to_numpy()] = (
        np.arange(m)
    )
    order = np.lexsort((idkey, np.where(dgrp == 1, dv, 0.0), dgrp, pos))
    ps = pos[order]
    head = np.ones(m, dtype=bool)
    head[1:] = ps[1:] != ps[:-1]
    idx = np.arange(m)
    rank = idx - np.maximum.accumulate(np.where(head, idx, 0)) + 1
    keep = rank <= kk
    sel, rank, ps = order[keep], rank[keep].astype(np.int32), ps[keep]
    n = np.bincount(ps, minlength=n_probes)
    # the last kept row of a probe holds its largest kept distance
    tail = np.ones(len(ps), dtype=bool)
    tail[:-1] = ps[1:] != ps[:-1]
    kd = np.full(n_probes, np.nan)
    has_kd = np.zeros(n_probes, dtype=bool)
    kd[ps[tail]] = dv[sel[tail]]
    has_kd[ps[tail]] = ~dnull[sel[tail]]
    return sel, rank, n, kd, has_kd


def _local_result(
    spark: SparkSession,
    df: DataFrame,
    query_id_col: str,
    id_col: str,
    qid_type,
    qids: list,
    parts: list[pa.Table],
    ranks: list[np.ndarray],
) -> DataFrame:
    """The accepted (__pos, id, dist_chord2) rows and their ranks as one
    ``local_frame`` of (query_id, rank int, id, dist_chord2); an empty
    frame of that schema when there are none."""
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    schema = StructType(
        [
            StructField(query_id_col, qid_type),
            StructField("rank", IntegerType()),
            StructField(id_col, df.schema[id_col].dataType),
            StructField("dist_chord2", DoubleType()),
        ]
    )
    if not parts:
        return local_frame(spark, [[], [], [], []], schema)
    t = pa.concat_tables(parts)
    return local_frame(
        spark,
        [
            [qids[i] for i in t.column("__pos").to_numpy()],
            np.concatenate(ranks),
            t.column(id_col),
            t.column("dist_chord2"),
        ],
        schema,
    )


def mutual_knn_pairs(
    df: DataFrame,
    kk: int,
    lat_col: str = "lat",
    lng_col: str = "lng",
    id_col: str = "image_id",
    stats: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """Mutual-kNN graph edges (a, b) with a < b: b is one of a's ``kk``
    nearest OTHER rows AND a is one of b's — the standard symmetric
    kNN-graph used for density-based clustering and near-dup grouping
    (mutual edges reject the hub/chain links a one-directional kNN
    graph draws into dense regions; feed the result to
    ``dedup.connected_components`` for clusters).

    Exact by composition: one ``knn_join_df`` self-join asks for
    ``kk+1`` neighbors (self rides along at distance 0 but may not be
    rank 1 — a co-located row with a smaller id outranks it under the
    deterministic tie-break), drops self, re-ranks, keeps ``kk``. The
    mutual step is then ONE equi-join of the n·k edge table with its
    swap — bounded by n·k rows, never n².
    """
    iid = F.col(id_col).cast("long")
    probes = df.select(
        iid.alias("query_id"),
        F.col(lat_col).alias("qlat"),
        F.col(lng_col).alias("qlng"),
    )
    nn = knn_join_df(
        df, probes, kk + 1,
        lat_col=lat_col, lng_col=lng_col, id_col=id_col,
        stats=stats, **kwargs,
    )
    others = nn.where(F.col(id_col).cast("long") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_chord2").asc(), F.col(id_col).asc()
    )
    edges = (
        others.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= kk)
        .select(
            F.col("query_id").alias("src"),
            F.col(id_col).cast("long").alias("dst"),
            "dist_chord2",
        )
    )
    fwd = edges.where(F.col("src") < F.col("dst"))
    rev = edges.where(F.col("src") > F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return (
        fwd.join(rev, ["src", "dst"], "left_semi")
        .select(F.col("src").alias("a"), F.col("dst").alias("b"), "dist_chord2")
    )


def idw_interpolate(
    facts: DataFrame,
    probes: DataFrame,
    kk: int,
    value_col: str,
    lat_col: str = "lat",
    lng_col: str = "lng",
    id_col: str = "image_id",
    query_id_col: str = "query_id",
    qlat_col: str = "qlat",
    qlng_col: str = "qlng",
    stats: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Inverse-distance-weighted interpolation: for every probe row,
    estimate ``value_col`` from its ``kk`` nearest facts with weights
    1/chord² — the classic IDW spatial surface (power 2 over great-
    circle chord distance), computed exactly on top of ``knn_join_df``.

    Returns (query_id, est): est = Σ wᵢvᵢ / Σ wᵢ over the k nearest,
    except when a fact sits EXACTLY at the probe (chord² == 0): then
    est is that fact's value (min fact id wins among co-located facts —
    compared as LONG, like mutual_knn_pairs: a raw string id column
    would order "12" < "2"), the standard IDW exact-hit rule.

    Facts with a NULL ``value_col`` are dropped up front (they cannot
    contribute a weighted term): the estimate uses the k nearest
    facts WITH a value.

    Determinism across engines: both numerator and denominator are
    SEQUENTIAL folds in rank order (array_sort + F.aggregate — not a
    parallel SUM, whose float addition order is partition-dependent),
    so a relational oracle replaying list(x ORDER BY rank) +
    list_reduce reproduces the same IEEE double bit-for-bit.
    """
    facts = facts.where(F.col(value_col).isNotNull())
    nn = knn_join_df(
        facts, probes, kk,
        lat_col=lat_col, lng_col=lng_col, id_col=id_col,
        query_id_col=query_id_col, qlat_col=qlat_col, qlng_col=qlng_col,
        stats=stats, n_rows=n_rows,
    )
    vals = facts.select(
        F.col(id_col), F.col(value_col).cast("double").alias("__v")
    )
    j = nn.join(vals, id_col)
    # ANSI double division throws on zero — try_divide yields NULL for
    # chord² == 0 terms, poisoning that probe's fold to NULL, which the
    # exact-hit override then supplies (such a probe always has one).
    # The exact-hit rule (min fact id at chord² == 0) rides the SAME
    # aggregation as the fold (round-10): min over a (long id, value)
    # struct orders by id first, so no separate window pass or second
    # evaluation of the join subtree is needed — bit-identical output.
    w = F.try_divide(F.lit(1.0), F.col("dist_chord2"))
    terms = j.select(
        query_id_col,
        F.struct(
            F.col("rank").alias("r"),
            (w * F.col("__v")).alias("num"),
            w.alias("den"),
        ).alias("__t"),
        F.when(
            F.col("dist_chord2") == 0.0,
            F.struct(
                F.col(id_col).cast("long").alias("i"),
                F.col("__v").alias("v"),
            ),
        ).alias("__e"),
    )
    fold = terms.groupBy(query_id_col).agg(
        F.array_sort(F.collect_list("__t")).alias("__ts"),
        F.min("__e").alias("__em"),
    )
    return fold.select(
        query_id_col,
        F.coalesce(
            F.col("__em.v"),
            F.try_divide(
                F.aggregate("__ts", F.lit(0.0), lambda a, x: a + x["num"]),
                F.aggregate("__ts", F.lit(0.0), lambda a, x: a + x["den"]),
            ),
        ).alias("est"),
    )
