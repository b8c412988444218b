"""Similarity search over embedding columns.

* brute_force_topk — exact cosine top-k: broadcast the (small) query
  set, score with native higher-order functions (zip_with/aggregate —
  JVM, no Python), window rank. The baseline and the verifier.
* lsh_bucket_topk — the scale path: random-hyperplane LSH buckets
  computed natively; candidates only within matching buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.frames import local_frame


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine_cols(a, b):
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    kk: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k of df rows per query row (queries broadcast)."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    j = df.select(F.col(id_col), F.col(vec_col)).crossJoin(F.broadcast(q))
    scored = j.withColumn("cosine", cosine_cols(F.col(vec_col), F.col("__qvec")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select(query_id_col, "rank", id_col, F.round("cosine", 9).alias("cosine"))
    )


def _assert_finite(arr: np.ndarray, what: str) -> None:
    """The repr(float)+'D' SQL-literal builders render NaN/inf as
    'nanD'/'infD', which fails SQL parsing with an opaque error (the
    old F.lit form at least produced a valid literal) — so reject
    non-finite constants (e.g. k-means on degenerate input) up front
    with a clear message."""
    if not np.isfinite(arr).all():
        raise ValueError(
            f"{what} contain non-finite values (NaN/inf) — cannot be "
            "rendered as SQL double literals; check the training input "
            "(a degenerate k-means cluster?) before building the plan"
        )


def _hyperplane_bucket_expr(colname: str, planes_2d: np.ndarray) -> "F.Column":
    """Sign-bucket id Σ_p [dot(v, plane_p) > 0]·2^p as ONE SQL string
    parsed by ONE F.expr call: building it plane-by-plane from
    F.lit/lambda Columns costs thousands of py4j round trips (~10 s of
    driver time per query at 4x12x64 planes, measured). repr(float)
    round-trips exactly through Spark's double parser, so the fold
    arithmetic is unchanged bit-for-bit vs the Column form."""
    _assert_finite(planes_2d, "hyperplanes")
    parts = []
    for p in range(planes_2d.shape[0]):
        arr = ", ".join(f"{float(c)!r}D" for c in planes_2d[p])
        dot = (
            f"aggregate(zip_with(`{colname}`, array({arr}), "
            f"(x, y) -> cast(x as double) * y), 0.0D, (acc, v) -> acc + v)"
        )
        parts.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return F.expr("(" + " + ".join(parts) + ")")


def lsh_bucket_topk(
    spark: SparkSession,
    df: DataFrame,
    queries: DataFrame,
    kk: int,
    n_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_tables: int = 4,
    planes: np.ndarray | None = None,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Approximate top-k: random-hyperplane sign buckets, n_tables
    independent tables; exact cosine re-rank within candidates.

    At 10^12 rows the bucket column is precomputed/partitioned; here
    it is derived on the fly with a native SQL expression. ``planes``
    overrides the Gaussian default ((n_tables, n_planes, dim)) — the
    driver oracle passes md5-derived planes that DuckDB reproduces.
    ``max_bucket`` drops degenerate buckets (e.g. the all-zeros-vector
    bucket) that would otherwise make the candidate join quadratic.
    """
    if planes is None:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((n_tables, n_planes, dim))
    else:
        planes = np.asarray(planes, dtype=np.float64)
        n_tables, n_planes, dim = planes.shape

    # ALL tables in one pass: explode a (tbl, bkt) tag array and join on
    # the pair — one cap shuffle + one join instead of n_tables of each
    # (the per-table loop was 8 stages of fixed overhead; candidate set
    # is identical because union-of-table-joins == join on (tbl, bkt))
    def tagged(frame, keep_cols):
        tags = [
            F.struct(
                F.lit(t).alias("tbl"),
                _hyperplane_bucket_expr(vec_col, planes[t]).alias("bkt"),
            )
            for t in range(n_tables)
        ]
        return frame.select(*keep_cols, F.explode(F.array(*tags)).alias("tb")).select(
            *keep_cols,
            F.col("tb.tbl").alias("tbl"),
            F.col("tb.bkt").alias("bkt"),
        )

    d = tagged(df.select(F.col(id_col), F.col(vec_col)), [id_col, vec_col])
    if max_bucket is not None:
        from .dedup import _cap_buckets

        d = _cap_buckets(d, ["tbl", "bkt"], max_bucket)
    q = tagged(
        queries.select(F.col(query_id_col), F.col(vec_col)),
        [query_id_col, vec_col],
    ).withColumnRenamed(vec_col, "__qvec")
    cand = (
        d.join(F.broadcast(q), ["tbl", "bkt"])
        .drop("tbl", "bkt")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.withColumn("cosine", cosine_cols(F.col(vec_col), F.col("__qvec")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select(query_id_col, "rank", id_col, F.round("cosine", 9).alias("cosine"))
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 11,
    max_bucket: int | None = 10_000,
    exact: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cosine >= threshold).

    Scale path (exact=False): random-hyperplane buckets, in-bucket pair
    generation (groupBy + nested explode — one shuffle, no self-join,
    same shape as the phash banding), exact cosine on candidates only.
    Recall is probabilistic: a pair at angle θ collides in one table
    with prob (1−θ/π)^n_planes; n_tables independent tables drive the
    miss rate down (see tests/test_similarity_recall.py).

    exact=True is the all-pairs verifier (crossJoin) — O(n²), for
    oracle checks and small candidate sets only.
    """
    d = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if exact:
        left = d.select(F.col("id").alias("a"), F.col("v").alias("va"))
        right = d.select(F.col("id").alias("b"), F.col("v").alias("vb"))
        pairs = left.crossJoin(right).where(F.col("a") < F.col("b"))
        out = pairs.withColumn("cosine", cosine_cols(F.col("va"), F.col("vb")))
        return (
            out.where(F.col("cosine") >= threshold)
            .select("a", "b", F.round("cosine", 9).alias("cosine"))
        )

    rng = np.random.default_rng(seed)
    if dim is None:
        # Fallback only: costs an extra Spark job and fails on empty input —
        # callers that know the embedding width should pass ``dim``.
        first = d.first()
        if first is None:
            return d.select(
                F.col("id").alias("a"),
                F.col("id").alias("b"),
                F.lit(0.0).alias("cosine"),
            ).limit(0)
        dim = len(first["v"])
    planes = rng.standard_normal((n_tables, n_planes, dim))

    bands = [
        F.struct(
            F.lit(t).alias("tbl"),
            _hyperplane_bucket_expr("v", planes[t]).alias("bkt"),
        )
        for t in range(n_tables)
    ]
    blocked = d.select(
        "id", "v", F.explode(F.array(*bands)).alias("tb")
    ).select("id", "v", F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"))
    buckets = (
        blocked.groupBy("tbl", "bkt")
        .agg(F.collect_list(F.struct("id", "v")).alias("xs"))
        .where(F.size("xs") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.where(F.size("xs") <= max_bucket)
    x = buckets.select(F.explode("xs").alias("x"), "xs").select(
        "x", F.explode("xs").alias("y")
    )
    cand = x.where(F.col("x.id") < F.col("y.id")).select(
        F.col("x.id").alias("a"),
        F.col("y.id").alias("b"),
        cosine_cols(F.col("x.v"), F.col("y.v")).alias("cosine"),
    )
    return (
        cand.where(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 9).alias("cosine"))
        .distinct()
    )


# above this many centroid literals (nc*dim) the assignment switches to
# one BLAS matmul per Arrow batch. Catalyst only CHOKES far higher
# (nc=1024 x dim=768 ~ 800k literals kills analysis/codegen), but the
# performance crossover is early: at 4096 literals the native tree
# already spends ~7 s in whole-stage codegen compilation alone (measured
# sf0.01, 64x64), while the matmul path is flat in nc*dim.
IVF_NATIVE_MAX_LITERALS = 2_048


def _ivf_cos_array(colname: str, centroids: np.ndarray):
    """Array column of cosine(col, centroid_i) for every centroid, as
    pure native SQL — one zip_with/aggregate dot per centroid, evaluated
    ONCE into an array (a greatest+CASE argmax would re-evaluate every
    aggregate lambda per comparison). The row's own norm appears ONCE
    and the per-centroid division happens in a single zip_with, so the
    expression tree carries one O(dim) norm fold instead of nc copies
    (same ops in the same IEEE order as the per-entry form — values are
    bit-identical). A zero-norm centroid scores the -2.0 sentinel
    (below any cosine) instead of the NaN that 0/0 would produce — NaN
    sorts GREATEST in Spark, which would make a dead centroid win every
    argmax; the pandas regime uses the same sentinel."""
    _assert_finite(centroids, "IVF centroids")
    dots, cns = [], []
    for c in centroids:
        # sequential accumulation (not numpy pairwise sum) so the
        # norm is bit-identical to a SQL list_dot_product(c, c)
        acc = 0.0
        for x in c:
            acc += float(x) * float(x)
        cns.append(float(np.sqrt(acc)))
        arr = ", ".join(f"{float(x)!r}D" for x in c)
        dots.append(
            f"aggregate(zip_with(`{colname}`, array({arr}), "
            f"(a, b) -> cast(a as double) * b), 0.0D, (acc, v) -> acc + v)"
        )
    # one SQL string / one F.expr parse (the F.lit-per-coordinate Column
    # form cost ~nc*dim py4j round trips of pure driver time); repr
    # round-trips every double exactly, so values are bit-identical
    vn = (
        f"sqrt(aggregate(transform(`{colname}`, x -> cast(x as double)), 0.0D, "
        f"(acc, v) -> acc + cast(v as double) * v))"
    )
    cns_arr = ", ".join(f"{c!r}D" for c in cns)
    return F.expr(
        f"zip_with(array({', '.join(dots)}), array({cns_arr}), "
        f"(d, cn) -> CASE WHEN cn = 0.0D THEN -2.0D ELSE d / ({vn} * cn) END)"
    )


def _unit_centroids(centroids: np.ndarray) -> np.ndarray:
    C = np.asarray(centroids, dtype=np.float64)
    n = np.linalg.norm(C, axis=1, keepdims=True)
    return C / np.where(n == 0.0, 1.0, n)


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "cid",
) -> DataFrame:
    """Nearest-centroid assignment (argmax cosine, ties to the lowest
    centroid id) — the IVF coarse-quantizer map pass (no shuffle; at
    100 TB it runs once at ingest and is stored as a partition column).

    Two regimes, same semantics:
    * native SQL (nc*dim <= IVF_NATIVE_MAX_LITERALS): the centroid
      matrix is inlined as literals; zero Python, whole-stage codegen.
      array_position takes the FIRST occurrence of the max -> ties
      resolve to the lowest centroid id.
    * pandas-UDF matmul (above the threshold): one float64 BLAS
      ``V @ C_unit.T`` per Arrow batch (the vector's own norm is a
      positive per-row constant, so it can't change the argmax);
      np.argmax also takes the first max. The plan carries one UDF
      node instead of ~nc*dim literals.
    """
    nc, dim = np.asarray(centroids).shape
    if nc * dim <= IVF_NATIVE_MAX_LITERALS:
        return df.withColumn("__cos", _ivf_cos_array(vec_col, centroids)).withColumn(
            out_col,
            (F.array_position("__cos", F.array_max("__cos")) - 1).cast("int"),
        ).drop("__cos")

    from pyspark.sql.functions import pandas_udf

    Cu = _unit_centroids(centroids)

    zero = np.linalg.norm(np.asarray(centroids, dtype=np.float64), axis=1) == 0.0

    @pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        sims = V @ Cu.T
        sims[:, zero] = -2.0  # dead-centroid sentinel, same as native
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def ivf_probe(
    queries: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    vec_col: str = "embedding",
    out_col: str = "cids",
) -> DataFrame:
    """``nprobe`` nearest centroids per query row (ordered by -cosine,
    ties to the lowest centroid id), as an array<int> column — same
    two-regime split as ``ivf_assign``."""
    nc, dim = np.asarray(centroids).shape
    if nc * dim <= IVF_NATIVE_MAX_LITERALS:
        probe_arr = F.slice(
            F.array_sort(
                F.zip_with(
                    _ivf_cos_array(vec_col, centroids),
                    F.sequence(F.lit(0), F.lit(nc - 1)),
                    lambda c, i: F.struct(
                        (-c).alias("neg"), i.cast("int").alias("cid")
                    ),
                )
            ),
            1,
            nprobe,
        )
        return queries.withColumn(
            out_col, F.transform(probe_arr, lambda s: s["cid"])
        )

    from pyspark.sql.functions import pandas_udf

    Cu = _unit_centroids(centroids)

    zero = np.linalg.norm(np.asarray(centroids, dtype=np.float64), axis=1) == 0.0

    @pandas_udf("array<int>")
    def _probe(vs: pd.Series) -> pd.Series:
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        sims = V @ Cu.T
        sims[:, zero] = -2.0  # dead-centroid sentinel, same as native
        # stable argsort on -sims: ties resolve to the lowest centroid id
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(idx.astype(np.int32)))

    return queries.withColumn(out_col, _probe(F.col(vec_col)))


def ivf_flat_topk(
    df: DataFrame,
    queries: DataFrame,
    kk: int,
    centroids: np.ndarray,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-flat approximate top-k: the coarse-quantizer scale path next
    to the LSH tables (SURVEY.md similarity row).

    Every vector is assigned to its nearest centroid (``ivf_assign``:
    native-SQL argmax cosine below IVF_NATIVE_MAX_LITERALS, BLAS
    pandas-UDF matmul above). Queries probe their ``nprobe`` nearest
    centroids (``ivf_probe``); candidates = vectors in probed cells;
    exact cosine re-rank; window top-k.

    ``centroids``: (n_centroids, dim) float64 — deterministic (sampled
    vectors, or ``train_ivf_centroids`` k-means); passed in so engine
    and oracle share literals.
    """
    assigned = ivf_assign(
        df.select(F.col(id_col), F.col(vec_col)), centroids, vec_col, "cid"
    )
    qprobe = (
        ivf_probe(
            queries.select(F.col(query_id_col), F.col(vec_col)),
            centroids,
            nprobe,
            vec_col,
            "__cids",
        )
        .select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            F.explode("__cids").alias("cid"),
        )
    )

    cand = assigned.join(F.broadcast(qprobe), "cid").drop("cid")
    scored = cand.withColumn("cosine", cosine_cols(F.col(vec_col), F.col("__qvec")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select(query_id_col, F.col("rank").cast("int").alias("rank"), id_col)
    )


def train_ivf_centroids(
    df: DataFrame,
    nc: int,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
) -> np.ndarray:
    """Train the IVF coarse quantizer with Lloyd k-means AS A DATAFRAME
    JOB — the missing piece that made ``ivf_flat_topk`` "bring your own
    index" (round-3 verdict). Composition of two existing passes:

    * init: the ``nc`` vectors with the smallest md5(id) (ties by id) —
      the same deterministic md5 draw as stratified sampling, so any
      engine (and the DuckDB oracle) picks the identical seed set.
    * each round: nearest-centroid assignment (``ivf_assign`` — native
      SQL below the literal threshold, BLAS pandas-UDF above), then the
      centroid update as ONE groupBy: per-coordinate sums of the
      INTEGER-quantized values round(v*scale) (bigint — exact and
      order-independent, so the mean is bit-reproducible across
      partitionings, cluster sizes, and engines; a raw double sum would
      depend on partial-aggregation order), new coordinate =
      sum / (n*scale) (one IEEE division). Empty cells keep their
      previous centroid.

    Per round the driver moves only nc*dim scalars (the next round's
    assignment literals) — no per-row driver traffic; assignment +
    groupBy is the same shuffle shape as connected_components rounds.
    Returns the (nc, dim) float64 centroid matrix.
    """
    d = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))

    seed_rows = (
        d.select("__id", "__v", F.md5(F.col("__id").cast("string")).alias("__h"))
        .orderBy("__h", "__id")
        .limit(nc)
        .collect()
    )
    cents = np.array([list(r["__v"]) for r in seed_rows], dtype=np.float64)
    dim = cents.shape[1]

    qv = F.transform(
        F.col("__v"), lambda x: F.round(x.cast("double") * F.lit(scale), 0).cast("long")
    )
    base = d.select("__id", "__v", qv.alias("__q"))

    # per-dimension aggregate expressions (NOT a posexplode: exploding
    # rows*dim then shuffling would move the whole quantized table every
    # round; dim column aggs are map-side combined down to nc partials)
    aggs = [F.sum(F.col("__q")[j]).alias(f"s{j}") for j in range(dim)]
    for _ in range(n_iter):
        assigned = ivf_assign(base, cents, "__v", "cid")
        sums = assigned.groupBy("cid").agg(F.count("*").alias("n"), *aggs).collect()
        new = cents.copy()  # empty cells keep their previous centroid
        for r in sums:
            n = r["n"]
            for j in range(dim):
                new[r["cid"], j] = r[f"s{j}"] / (n * scale)
        cents = new
    return cents


def _sub_dist2_expr(colname: str, s: int, subdim: int, centroid) -> "F.Column":
    """Sequential-fold L2² between a vector column's subspace ``s`` and a
    centroid (python floats): aggregate(zip_with(sub, c, (a-b)²)) —
    left-to-right adds, so DuckDB's list_reduce fold reproduces every
    intermediate bit. Built as ONE SQL string/F.expr parse — the
    F.lit-per-coordinate Column form cost ~m*k*subdim py4j round trips
    of driver time per encode call; repr round-trips doubles exactly."""
    _assert_finite(np.asarray(centroid, dtype=np.float64), f"PQ codebook[{s}] centroid")
    arr = ", ".join(f"{float(x)!r}D" for x in centroid)
    return F.expr(
        f"aggregate(zip_with(slice(`{colname}`, {s * subdim + 1}, {subdim}), "
        f"array({arr}), "
        f"(a, b) -> (cast(a as double) - b) * (cast(a as double) - b)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def pq_assign_codes(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """PQ encoding: per subspace the argmin-L2² code (ties to the lowest
    code id) — one native map pass, codes = array<int> of length m.
    m*k*subdim literals; at PQ scale (m=8..16, k=256) precompute at
    ingest exactly like IVF assignment."""
    m, k, subdim = codebooks.shape
    per_sub = []
    for s in range(m):
        d2 = F.array(*[_sub_dist2_expr(vec_col, s, subdim, codebooks[s][c]) for c in range(k)])
        per_sub.append((F.array_position(d2, F.array_min(d2)) - 1).cast("int"))
    return df.withColumn(out_col, F.array(*per_sub))


def train_pq_codebooks(
    df: DataFrame,
    m: int,
    k: int,
    n_iter: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: float = 1e6,
) -> np.ndarray:
    """Product-quantization codebooks as a DataFrame job: split the
    vector into ``m`` contiguous subspaces; per subspace run Lloyd
    k-means under L2 with the train_ivf_centroids discipline — the
    ``k`` md5-rank-smallest rows seed EVERY subspace (one collect), the
    mean update sums INTEGER-quantized coordinates (round(v*scale) as
    bigint: order-independent, so the DuckDB oracle replays all rounds
    relationally bit-for-bit), empty cells keep their centroid.

    One assignment+m-groupBy pass per iteration; the assigned frame is
    localCheckpoint'ed so the m per-subspace updates share it. Returns
    float64 (m, k, dim//m).
    """
    dim = len(df.select(vec_col).first()[0])
    assert dim % m == 0, (dim, m)
    subdim = dim // m

    d = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    seed_rows = (
        d.select("__id", "__v", F.md5(F.col("__id").cast("string")).alias("__h"))
        .orderBy("__h", "__id")
        .limit(k)
        .collect()
    )
    seeds = np.array([list(r["__v"]) for r in seed_rows], dtype=np.float64)
    books = np.stack(
        [seeds[:, s * subdim : (s + 1) * subdim] for s in range(m)]
    )  # (m, k, subdim)

    qv = F.transform(
        F.col("__v"), lambda x: F.round(x.cast("double") * F.lit(scale), 0).cast("long")
    )
    base = d.select("__v", qv.alias("__q"))

    for _ in range(n_iter):
        assigned = pq_assign_codes(base, books, "__v", "__codes").localCheckpoint(
            eager=True
        )
        new = books.copy()
        for s in range(m):
            aggs = [
                F.sum(F.col("__q")[s * subdim + j]).alias(f"s{j}")
                for j in range(subdim)
            ]
            rows = (
                assigned.select(F.col("__codes")[s].alias("c"), "__q")
                .groupBy("c")
                .agg(F.count("*").alias("n"), *aggs)
                .collect()
            )
            for r in rows:
                n = r["n"]
                for j in range(subdim):
                    new[s, r["c"], j] = r[f"s{j}"] / (n * scale)
        books = new
    return books


PQ_NATIVE_MAX_LITERALS = 2_048
"""Literal budget for the PQ/ADC plan — same measured Catalyst/codegen
regime as ``IVF_NATIVE_MAX_LITERALS`` (BASELINE.md: a 4096-literal tree
spends ~7 s in codegen COMPILE alone).  Two independent uses:

* n_queries*m*k: budget for inlining per-query ADC tables as nested
  literal arrays (the small-query-set fast path the oracle replays).
* m*k*subdim: budget for inlining the CODEBOOK when the per-query
  tables are instead computed as a native column over the query frame.
"""


def _adc_table_for(vec, codebooks: np.ndarray) -> list[float]:
    """Flat (s, c)-ordered ADC lookup table: L2² between the query's
    subvector s and centroid c, accumulated SEQUENTIALLY so DuckDB's
    list_reduce fold reproduces every entry bit-for-bit."""
    m, k, subdim = codebooks.shape
    flat = []
    for s in range(m):
        sub = [float(x) for x in vec[s * subdim : (s + 1) * subdim]]
        for c in range(k):
            acc = 0.0
            for a, b in zip(sub, codebooks[s][c]):
                acc += (a - float(b)) * (a - float(b))
            flat.append(acc)
    return flat


def _adc_table_col(vec_col: str, codebooks: np.ndarray) -> "F.Column":
    """The many-query regime's ADC table: the SAME flat (s, c)-ordered
    m*k table ``_adc_table_for`` builds driver-side, but as a COLUMN over
    the query frame — plan size is m*k*subdim codebook literals (or one
    pandas-UDF node above the budget), INDEPENDENT of the query count,
    and no driver collect ever happens.

    Both builders add (a-b)² left-to-right over j ascending from a 0.0
    accumulator with float64 ops, so the tables are bit-equal across
    regimes (pinned by tests/test_pq_regimes.py rank-list equality).
    """
    m, k, subdim = codebooks.shape
    if m * k * subdim <= PQ_NATIVE_MAX_LITERALS:
        return F.array(
            *[
                _sub_dist2_expr(vec_col, s, subdim, codebooks[s][c])
                for s in range(m)
                for c in range(k)
            ]
        )

    from pyspark.sql.functions import pandas_udf

    books = np.asarray(codebooks, dtype=np.float64)

    @pandas_udf("array<double>")
    def _tables(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        q = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        acc = np.zeros((q.shape[0], m, k), dtype=np.float64)
        # sequential over j (vectorized over rows and (s, c)) — the
        # identical left-to-right fold order as _adc_table_for, so every
        # entry is bit-equal to the literal regime
        for j in range(subdim):
            d = q[:, [s * subdim + j for s in range(m)]][:, :, None] - books[None, :, :, j]
            acc += d * d
        return pd.Series(list(acc.reshape(q.shape[0], m * k)))

    return _tables(F.col(vec_col))


def _adc_score_expr(tbl, codes_col: str, m: int, k: int):
    """score = Σ_s tbl[s*k + code_s] as a native fold over the row's
    flat m*k ADC table column ``tbl``."""
    return F.aggregate(
        F.zip_with(
            F.col(codes_col),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, s: s * F.lit(k) + c,
        ),
        F.lit(0.0),
        lambda acc, pos: acc + F.element_at(tbl, (pos + 1).cast("int")),
    )


def ivf_pq_topk(
    df: DataFrame,
    queries: DataFrame,
    kk: int,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The full canonical ANN recipe — IVF coarse quantizer + PQ fine
    quantizer with ADC scoring: every vector carries its IVF cell id and
    its m PQ codes (both ingest-time map passes at 100 TB); a query
    probes its ``nprobe`` nearest cells and scores ONLY the vectors in
    probed cells via the per-query ADC lookup table. The scan reads a
    cell id + m codes per row — never the original vectors — and the
    probe join prunes (nc - nprobe)/nc of the table before any scoring.
    Returns (query_id, rank, vec_id), ranked (ADC score ASC, id ASC).

    Two regimes, same bit-exact scores (see ``pq_topk``): small query
    sets inline per-query ADC tables as literals; above the
    ``PQ_NATIVE_MAX_LITERALS`` budget the tables ride the broadcast
    probe frame as an ``array<double>`` column built by
    ``_adc_table_col`` — no ``collect()``, plan size independent of the
    number of queries."""
    m, k, _ = codebooks.shape
    coded = pq_assign_codes(
        ivf_assign(df.select(F.col(id_col), F.col(vec_col)), centroids, vec_col, "cid"),
        codebooks,
        vec_col,
        "__codes",
    )
    max_lit_q = PQ_NATIVE_MAX_LITERALS // (m * k)
    q_head = (
        queries.select(F.col(query_id_col), F.col(vec_col))
        .limit(max_lit_q + 1)
        .collect()
    )
    if len(q_head) <= max_lit_q:
        tables = F.array(
            *[
                F.array(*[F.lit(x) for x in _adc_table_for(r[vec_col], codebooks)])
                for r in q_head
            ]
        )
        qdf = local_frame(
            df.sparkSession,
            [range(1, len(q_head) + 1), [r[query_id_col] for r in q_head]],
            queries.select(F.lit(0).cast("long").alias("__qpos"), query_id_col).schema,
        )
        qprobe = (
            ivf_probe(qdf.join(queries, query_id_col), centroids, nprobe, vec_col, "__cids")
            .select(query_id_col, "__qpos", F.explode("__cids").alias("cid"))
        )
        tbl = F.element_at(tables, F.col("__qpos").cast("int"))
    else:
        qwt = queries.select(
            F.col(query_id_col),
            F.col(vec_col),
            _adc_table_col(vec_col, codebooks).alias("__table"),
        )
        qprobe = (
            ivf_probe(qwt, centroids, nprobe, vec_col, "__cids")
            .select(query_id_col, "__table", F.explode("__cids").alias("cid"))
        )
        tbl = F.col("__table")
    cand = coded.join(F.broadcast(qprobe), "cid")
    scored = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        _adc_score_expr(tbl, "__codes", m, k).alias("__score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__score").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select(query_id_col, F.col("rank").cast("int").alias("rank"), id_col)
    )


def pq_topk(
    df: DataFrame,
    queries: DataFrame,
    kk: int,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ/ADC approximate top-k: encode the table once
    (``pq_assign_codes``), then score rows against each query with
    asymmetric distance — score = Σ_s table[q][s][code_s]. The scan
    never touches the original vectors: per row it reads m small codes
    and does m array lookups — the classical memory shape that makes
    10⁹-vector search fit in RAM. Returns (query_id, rank, vec_id) with
    (score ASC, id ASC) ranking.

    Two regimes, bit-equal scores:

    * n_queries*m*k <= PQ_NATIVE_MAX_LITERALS: the per-query tables are
      computed ONCE driver-side (``_adc_table_for``, the sequential fold
      the oracle's list_reduce replays) and inlined as a nested literal
      array indexed by a broadcast ``__qpos``.
    * above the budget: NO driver collect — the tables ride the
      broadcast query frame as an ``array<double>`` column built by
      ``_adc_table_col`` (fixed-size codebook literals, or one
      pandas-UDF node), so plan size and driver traffic are independent
      of the query count.  Same fold order ⇒ identical scores
      (pinned by tests/test_pq_regimes.py)."""
    m, k, _ = codebooks.shape
    coded = pq_assign_codes(df.select(F.col(id_col), F.col(vec_col)), codebooks, vec_col, "__codes")

    max_lit_q = PQ_NATIVE_MAX_LITERALS // (m * k)
    q_head = (
        queries.select(F.col(query_id_col), F.col(vec_col))
        .limit(max_lit_q + 1)
        .collect()
    )
    if len(q_head) <= max_lit_q:
        # ONE scan of the coded table for ALL queries: broadcast the
        # query positions, index a nested (query -> flat m*k) literal
        tables = F.array(
            *[
                F.array(*[F.lit(x) for x in _adc_table_for(r[vec_col], codebooks)])
                for r in q_head
            ]
        )
        qdf = local_frame(
            df.sparkSession,
            [range(1, len(q_head) + 1), [r[query_id_col] for r in q_head]],
            queries.select(F.lit(0).cast("long").alias("__qpos"), query_id_col).schema,
        )
        tbl = F.element_at(tables, F.col("__qpos").cast("int"))
    else:
        qdf = queries.select(
            F.col(query_id_col),
            _adc_table_col(vec_col, codebooks).alias("__table"),
        )
        tbl = F.col("__table")
    scored = coded.crossJoin(F.broadcast(qdf)).select(
        F.col(query_id_col),
        F.col(id_col),
        _adc_score_expr(tbl, "__codes", m, k).alias("__score"),
    )

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__score").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select(query_id_col, F.col("rank").cast("int").alias("rank"), id_col)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale = max|v|, q_i = round(v_i / scale * 127) ∈ [-127, 127]
    (all-zero vectors quantize to zeros with scale 0).

    4× storage shrink for ANN candidate stages; fully native SQL
    (aggregate/transform — map-only, no shuffle, no Python), so it runs
    at scan speed on 10⁹-row tables. Returns (id, scale, q array<int>).
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.aggregate(
        vd, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    q = F.when(F.col("scale") == 0.0, F.transform(vd, lambda x: F.lit(0))).otherwise(
        F.transform(
            vd,
            lambda x: F.round(x / F.col("scale") * F.lit(127.0), 0).cast("int"),
        )
    )
    return (
        df.select(F.col(id_col), F.col(vec_col), scale.alias("scale"))
        .select(F.col(id_col), F.col("scale"), q.alias("q"))
    )
