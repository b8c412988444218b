"""Density-based spatial clustering (deterministic DBSCAN) composed
from the exact spatial primitives.

DBSCAN over points on the sphere: a point is CORE when its closed
eps-neighborhood holds >= min_pts points; clusters are the connected
components of the core-core eps-graph; a non-core point within eps of
a core is a BORDER member of that core's cluster; everything else is
NOISE. Reference semantics: the eps-neighborhood is the reference's
point_index range query (point_index.rs), applied symmetrically.

Everything is exact and deterministic:
- neighborhoods come from ``within_distance_pairs`` (ring-guarantee
  candidates + exact chord² filter — recall verified, not assumed);
- components are hash-to-min label propagation with a convergence
  witness (``dedup.connected_components``), labels = min core id;
- the classic nondeterminism of DBSCAN border assignment (first core
  to reach it wins) is replaced by a deterministic rule: a border
  point joins the MINIMUM cluster label among its core neighbors.

Scale shape: one within-distance self-join (one shuffle on the ring
cell key), one degree aggregation, O(core-graph diameter) label
rounds, one border join — no step is quadratic in the corpus, only in
true neighbor pairs (the answer's own size).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.frames import local_frame
from .covering_join import within_distance_pairs
from .dedup import connected_components


def dbscan_clusters(
    df: DataFrame,
    eps_deg: float,
    min_pts: int,
    id_col: str = "image_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster, role) for every input point: role ∈ {'core',
    'border', 'noise'}; cluster = the component's min core id for
    core/border rows, NULL for noise. ``min_pts`` counts the CLOSED
    neighborhood (the point itself included, the classic definition).

    ``id_col`` must be unique; ids are compared as LONG (pair
    canonicalization and min-label rules are numeric — a raw string
    id column would order "12" < "2").
    """
    pts = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(lat_col).alias("lat"),
        F.col(lng_col).alias("lng"),
        F.col(cell_col).alias("cell_id"),
    )
    pairs = within_distance_pairs(
        pts, eps_deg, id_col="id", lat_col="lat", lng_col="lng",
        cell_col="cell_id",
    )
    sym = pairs.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionByName(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("__n"))
    marked = (
        pts.select("id")
        .join(deg, "id", "left")
        .select("id", (F.coalesce(F.col("__n"), F.lit(0)) + 1).alias("__nn"))
    )
    cores = (
        marked.where(F.col("__nn") >= int(min_pts))
        .select("id")
        .localCheckpoint(eager=True)  # reused 4×; bounded by |df|
    )
    core_edges = (
        sym.join(cores.select(F.col("id").alias("u")), "u", "left_semi")
        .join(cores.select(F.col("id").alias("v")), "v", "left_semi")
    )
    comp = connected_components(core_edges, "u", "v", max_iter=max_iter)
    core_lab = (
        cores.join(comp, cores["id"] == comp["v"], "left")
        .select(
            "id",
            # a core with no core neighbor is its own singleton cluster
            F.coalesce(F.col("component"), F.col("id")).alias("cluster"),
            F.lit("core").alias("role"),
        )
    )
    # border: non-core with >= 1 core neighbor → min core-cluster label
    border_lab = (
        sym.join(cores.select(F.col("id").alias("u")), "u", "left_anti")
        .join(
            core_lab.select(
                F.col("id").alias("v"), F.col("cluster").alias("__c")
            ),
            "v",
        )
        .groupBy(F.col("u").alias("id"))
        .agg(F.min("__c").alias("cluster"))
        .select("id", "cluster", F.lit("border").alias("role"))
    )
    labeled = core_lab.unionByName(border_lab)
    noise = (
        pts.select("id")
        .join(labeled.select("id"), "id", "left_anti")
        .select(
            "id",
            F.lit(None).cast("long").alias("cluster"),
            F.lit("noise").alias("role"),
        )
    )
    return labeled.unionByName(noise)


def kth_nn_chord2(
    df: DataFrame,
    kk: int,
    id_col: str = "image_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
    radius_guess_deg: float = 1.0,
    stats: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """(id, k_dist_chord2): exact chord² distance from every point to
    its ``kk``-th nearest OTHER point — the k-dist curve's raw
    material (Ester et al.'s eps-selection heuristic for DBSCAN).
    Composition mirrors ``mutual_knn_pairs``: one ``knn_join_df``
    self-join at ``kk+1`` (self rides along at distance 0 but may not
    be rank 1 under the id tie-break), drop self, re-rank, keep the
    ``kk``-th. Points with fewer than ``kk`` other points in the frame
    have no k-th neighbor and are dropped."""
    from .knn import knn_join_df

    iid = F.col(id_col).cast("long")
    probes = df.select(
        iid.alias("query_id"),
        F.col(lat_col).alias("qlat"),
        F.col(lng_col).alias("qlng"),
    )
    nn = knn_join_df(
        df, probes, kk + 1,
        radius_guess_deg=radius_guess_deg,
        lat_col=lat_col, lng_col=lng_col, id_col=id_col,
        stats=stats, n_rows=n_rows,
    )
    others = nn.where(F.col(id_col).cast("long") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_chord2").asc(), F.col(id_col).asc()
    )
    return (
        others.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == kk)
        .select(
            F.col("query_id").alias("id"),
            F.col("dist_chord2").alias("k_dist_chord2"),
        )
    )


def suggest_eps(
    df: DataFrame,
    kk: int,
    quantiles: tuple[float, ...] = (0.5, 0.75, 0.9, 0.95, 0.99),
    id_col: str = "image_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
    radius_guess_deg: float = 1.0,
    stats: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """(q, eps_chord2) — EXACT order statistics of the k-dist curve:
    eps_chord2 at quantile q is the ceil(q·n)-th smallest k-th-NN
    chord² (the classic elbow heuristic: run with k = min_pts, read
    eps off the quantile where the curve leaves the cluster plateau).
    Everything stays in chord² (no engine-side trig — the no-libm
    rule); convert driver-side with ``chord2_to_deg`` when an operator
    wants degrees.

    The order statistic is exact AND distributed — no global sort, no
    single-reducer window: (1) one bounded histogram aggregation over
    the k-dist values binned by floor(log2) (≤ ~2100 possible double
    exponents, ~60 in practice) locates, per requested rank, the bin
    that holds it; (2) only rows in TARGET bins are ranked, with a
    window PARTITIONED by bin (each partition holds one bin's rows,
    never the frame), and global rank = rows-below-bin + rank-in-bin.
    Bins are monotone in the value, so ties (equal chord², broken by
    id) always land in one bin and the composed rank is exact. log2
    here only ROUTES rows to bins inside one engine — the returned
    value is the exact element itself, so the no-libm cross-engine
    rule is untouched. The skew caveat: if one bin holds most of the
    curve (all-duplicate k-dists), its partition is that fraction of n
    — still never worse than the global sort this replaces.
    """
    qs = sorted(set(float(q) for q in quantiles))
    if not qs or any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError(f"quantiles must be in (0, 1]: {quantiles}")
    kd = kth_nn_chord2(
        df, kk, id_col=id_col, lat_col=lat_col, lng_col=lng_col,
        radius_guess_deg=radius_guess_deg, stats=stats, n_rows=n_rows,
    )
    # floor(log2(v)) as the bin key; exact zeros get their own bin
    # below every representable exponent
    binc = F.when(
        F.col("k_dist_chord2") == 0.0, F.lit(-1100)
    ).otherwise(F.floor(F.log2("k_dist_chord2"))).cast("int")
    kd = kd.withColumn("__bin", binc)
    hist = sorted(
        (int(r["__bin"]), int(r["n"]))
        for r in kd.groupBy("__bin").agg(F.count("*").alias("n")).collect()
    )  # bounded: one row per distinct double exponent
    n = sum(c for _, c in hist)
    if n == 0:
        raise ValueError(
            f"no point has {kk} other points in the frame — k-dist "
            f"curve is empty (|df| <= k?)"
        )
    cum = {}
    below = 0
    for b, c in hist:
        cum[b] = below
        below += c
    # rank -> (its bin, rows below that bin), driver-side over the
    # bounded histogram
    targets = []
    for q in qs:
        r = max(1, math.ceil(q * n))
        seen = 0
        for b, c in hist:
            if r <= seen + c:
                targets.append((q, r, b, cum[b]))
                break
            seen += c
    tbins = sorted({b for _, _, b, _ in targets})
    w = Window.partitionBy("__bin").orderBy(
        F.col("k_dist_chord2").asc(), F.col("id").asc()
    )
    ranked = (
        kd.where(F.col("__bin").isin(tbins))
        .withColumn("__rb", F.row_number().over(w))
    )
    spark = df.sparkSession
    tdf = local_frame(
        spark,
        list(zip(*[(q, b, r - c) for q, r, b, c in targets])),
        "q double, __bin int, __rb int",
    )
    return (
        ranked.join(F.broadcast(tdf), ["__bin", "__rb"])
        .select("q", F.col("k_dist_chord2").alias("eps_chord2"))
    )


def chord2_to_deg(c2: float) -> float:
    """Driver-side chord² → central angle in degrees (the inverse of
    the engine's deg → chord² constant fold; Python libm is fine OFF
    the SQL hot path)."""
    s = min(2.0, math.sqrt(max(0.0, c2)))
    return math.degrees(2.0 * math.asin(0.5 * s))
