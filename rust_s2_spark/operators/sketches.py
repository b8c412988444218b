"""Distributed sketches for OLAP rollups, in DETERMINISTIC form.

The classical approximate-distinct sketch (HyperLogLog, Flajolet et
al., public knowledge) is normally seeded-random; this implementation
derives every register from md5 of the value, so two independent
engines build IDENTICAL sketches — the DuckDB oracle replays the
registers, the exact integer register sum, and the final estimate
bit-for-bit. That turns an approximate operator into something the
hash-compare correctness gate can still pin exactly.

Arithmetic discipline (the repo-wide rule: no libm in hashed outputs):
* the register sum is the EXACT integer Σ 2^(64-p-reg[b]) carried as
  DECIMAL(38,0) (reported as a string — both engines print plain
  integers), never a float sum of 2^-reg (whose rounding would be
  addition-order-dependent);
* the estimate is alpha*m²*2^(64-p) / S — ONE multiply-constant (a
  python float literal shared verbatim with the oracle) and ONE IEEE
  division of exactly-known operands, identical in any conforming
  engine; the ln-based small-range (linear counting) refinement is
  deliberately NOT applied inside the hashed output (ln is libm);
  callers can refine client-side from the exported V (zero-register
  count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, IntegralType, StringType

from ..plans.frames import local_frame


def _hll_alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    if m == 64:
        return 0.709
    if m == 32:
        return 0.697
    return 0.673


def _cm_bucket(i: int, col, w: int):
    """THE Count-Min bucketing contract, in one place:
    b_i = conv(first-8-hex(md5('r{i}:' || value)), 16, 10) % w.
    Counters and lookups must agree bit-for-bit, so every consumer
    whose ESTIMATES the oracle replays (cm_sketch_estimate's counters
    and key lookups, streaming counters, cm_estimate_from_counters)
    derives from here — editing the prefix, slice width, or cast in
    one copy would silently break estimates with no error.
    (heavy_hitters' internal filter is NOT such a consumer: its exact
    verify makes the hash invisible, so it uses native ``_hh_bucket``
    xxhash64 instead.)"""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"r{i}:"), col)), 1, 8), 16, 10
        ).cast("long")
        % w
    )


def hll_register_cols(value_col: str, p: int = 9):
    """(bucket, rho) columns of the deterministic 64-bit md5 HLL hash —
    the stateless per-row half of the sketch, shared by the batch
    operator and the streaming rollup (registers are max-mergeable, so
    a streaming groupBy max IS the sketch state)."""
    wbits = 64 - p
    md5 = F.md5(F.col(value_col).cast("string"))
    hi = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
    h = F.shiftleft(hi, 32).bitwiseOR(lo)
    bucket = F.shiftrightunsigned(h, wbits).cast("int")
    w = h.bitwiseAND(F.lit((1 << wbits) - 1))
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return bucket, rho


def hll_finalize(
    regs: DataFrame,
    group_cols: list[str],
    p: int = 9,
    reg_col: str = "__reg",
    n_col: str = "__n",
) -> DataFrame:
    """Fold a (group, bucket, max-rho register) table into per-group
    estimates — the batch half shared with the streaming rollup. See
    ``hll_count_distinct`` for the exact-integer arithmetic contract."""
    m = 1 << p
    wbits = 64 - p
    alpha_m2_scaled = _hll_alpha(m) * m * m * (2.0 ** wbits)
    contrib = F.expr(
        "CAST(power(2.0, {} - {}) AS DECIMAL(38,0))".format(wbits + 1, reg_col)
    )
    folded = regs.groupBy(*group_cols).agg(
        F.sum(contrib).alias("__s_present"),
        F.count("*").alias("__n_buckets"),
        F.sum(n_col).alias("n_rows"),
    )
    missing = F.lit(m) - F.col("__n_buckets")
    s_scaled = (
        F.col("__s_present")
        + missing.cast("decimal(38,0)")
        * F.expr(f"CAST(power(2.0, {wbits + 1}) AS DECIMAL(38,0))")
    )
    est = F.round(
        F.lit(2.0 * alpha_m2_scaled) / F.col("hll_s").cast("double"), 3
    )
    return (
        folded.withColumn("hll_s", s_scaled)
        .withColumn("hll_zero_regs", missing.cast("long"))
        .select(
            *group_cols,
            est.alias("hll_estimate"),
            F.col("hll_s").cast("string").alias("hll_s"),
            "hll_zero_regs",
            F.col("n_rows").cast("long").alias("n_rows"),
        )
    )


def hll_count_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    p: int = 9,
) -> DataFrame:
    """Approximate COUNT(DISTINCT value) per group via a deterministic
    HyperLogLog: h = 64-bit md5 fold of the value, bucket = top ``p``
    bits, rho = leading-zero-count of the remaining 64-p bits + 1,
    register[b] = max rho.

    Returns per group: ``hll_estimate`` (round 3), ``hll_s`` (the exact
    integer register sum as a string — the sketch's hashable core),
    ``hll_zero_regs`` (V, for client-side linear-counting refinement),
    ``n_rows``.

    Scale shape: ONE groupBy to (group, bucket) max-registers (map-side
    partial max), ONE groupBy to fold the m=2^p registers per group —
    both shuffles carry at most m rows per group. Registers are
    mergeable (max), so the same op works as a streaming/rollup
    combiner. Standard error ~1.04/sqrt(m) (~4.6% at p=9).
    """
    group_cols = list(group_cols or [])
    # 64-bit hash from md5 (two 32-bit halves: conv() on 16 hex chars
    # would overflow signed int64 under ANSI — the simhash fold);
    # reg in [1, wbits+1] so the scaled contribution 2^(wbits+1-reg) is
    # always integral (the w=0 bucket's classical 2^-1 term rides as 1)
    bucket, rho = hll_register_cols(value_col, p)
    regs = (
        df.select(*group_cols, bucket.alias("__b"), rho.alias("__rho"))
        .groupBy(*group_cols, "__b")
        .agg(F.max("__rho").alias("__reg"), F.count("*").alias("__n"))
    )
    return hll_finalize(regs, group_cols, p)


def cm_sketch_estimate(
    df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 256,
) -> DataFrame:
    """Count-Min frequency sketch (Cormode/Muthukrishnan, public
    knowledge) in deterministic form: d md5-derived hash rows of w
    counters; a key's estimated count = min over rows of its counter —
    always >= the true count, tight for heavy hitters.

    Returns (key, cm_count) for every DISTINCT key. Scale shape: both
    branches are key-only column-pruned scans — the estimation side is
    the distinct-keys pass, and the counters derive from the per-key
    exact counts by a d-way explode over DISTINCT keys (a counter is
    the sum of the counts of the keys hashing into it — the same longs
    a raw-row explode would sum one row at a time, so the values are
    bit-identical), then broadcast (d*w rows) against the keys. The
    d md5 bucketings therefore run once per DISTINCT key, not once per
    raw row: on a duplicate-heavy 100 TB key column the hash work and
    the explode volume drop by the duplication factor. Deterministic
    md5 bucketing means the DuckDB oracle rebuilds every counter and
    every min bit-for-bit. (Streaming counters keep the raw-row
    explode shape — a stream never materializes a per-key table.)
    """
    v = F.col(value_col).cast("string")

    per_key = (
        df.select(v.alias("key")).groupBy("key").agg(F.count("*").alias("__n"))
    )
    kb = per_key.select(
        "key",
        "__n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _cm_bucket(i, F.col("key"), w).alias("b"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("t"),
    ).select("key", "__n", F.col("t.i").alias("i"), F.col("t.b").alias("b"))
    counts = kb.groupBy("i", "b").agg(F.sum("__n").alias("c"))
    return (
        kb.join(F.broadcast(counts), ["i", "b"])
        .groupBy("key")
        .agg(F.min("c").cast("long").alias("cm_count"))
    )


# Above this many counters the literal-array lookup stalls whole-stage
# codegen COMPILE (the measured IVF-literal cliff); the broadcast
# semi-join regime takes over.
HH_LITERAL_BUDGET = 2048


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    threshold: int,
    d: int = 4,
    w: int = 256,
    mode: str = "auto",
) -> DataFrame:
    """EXACT heavy hitters (support count >= threshold) with
    sketch-bounded memory — the candidates + exact-verify discipline
    (same contract shape as substring_containment_join):

      1. build the d x w Count-Min counters (one explode + groupBy over
         a FIXED d*w-row output, mergeable/streamable), collect them to
         the driver (d*w bounded scalars — the k-means-sums pattern)
         and fold them into ONE literal lookup expression;
      2. filter rows MAP-SIDE by estimated count >= threshold — no
         join, no shuffle, no distinct-keys pass: each row computes its
         d hash buckets and takes the least of d array lookups;
      3. exact groupBy over the surviving rows only, final filter on
         the true count.

    CM never underestimates, so step 2 keeps every truly-heavy key's
    rows (RECALL GUARANTEED); a key's rows all share the estimate, so
    step 3's counts are the true totals — the result is EXACT while
    the big shuffle only ever sees candidate rows (at 100 TB with a
    Zipfian key column that is a tiny fraction of the input). The
    driver oracle is the exhaustive GROUP BY ... HAVING — fully
    algorithm-independent.

    The internal bucketing is NATIVE xxhash64 (``_hh_bucket``), not
    the md5 string contract: the recall guarantee holds under ANY
    deterministic hash of the result key, the exact verify reproduces
    the same (key, n) rows whatever the filter let through, and
    nothing downstream replays these counters — unlike
    ``cm_sketch_estimate``/the streaming counters, whose ESTIMATES are
    oracle-replayed and therefore stay on ``_cm_bucket`` md5. The
    result key is ``CAST(value AS STRING)``; ``_hh_hash_key`` hashes
    the raw column where that cast is injective (integral, boolean,
    string) and the cast elsewhere — for arrays, maps, structs or
    binary two raw values can print alike, and bucketing them apart
    would split one key's count so a true heavy hitter could fall
    below the threshold in every counter. Skipping the per-row
    cast-to-string + md5 + hex conv chain roughly halves the
    operator's map cost (measured: the est filter's overhead over a
    plain scan fell ~4x at bench scale).

    NULL keys are excluded (explicit isNotNull on the candidate scan —
    the md5 path dropped them via null buckets; xxhash64 never returns
    null, so the exclusion is spelled out); the oracle must filter
    them too if the column is nullable.

    Two physical regimes behind the same contract (``mode='auto'``
    picks by the d*w literal budget; 'literal'/'join' force):

    * **literal** (d*w <= 2048): counters collected to the driver and
      folded into ONE least-of-array-lookups expression — beyond the
      budget Spark spends seconds in whole-stage-codegen COMPILE (the
      measured IVF-literal cliff).
    * **join** (any width): a key is a candidate iff ALL d of its
      counters are >= threshold, so the filter is d chained BROADCAST
      LEFT SEMI joins of the row's i-th bucket against the i-th hash
      row's heavy buckets (counter >= threshold — at most w rows each,
      for Zipfian keys a handful). Absent counters mean an empty
      bucket (estimate 0), and the semi join drops those rows exactly
      as the literal path's 0 lookup does. Still zero shuffles before
      the candidate groupBy — BroadcastHashJoin LeftSemi is map-side —
      and the broadcast is threshold-pruned, so width is unbounded
      (w = millions is d small broadcasts, not d*w literals)."""
    if mode not in ("auto", "literal", "join"):
        raise ValueError(f"unknown heavy_hitters mode {mode!r}")
    if mode == "auto":
        mode = "literal" if d * w <= HH_LITERAL_BUDGET else "join"
    if mode == "literal" and d * w > HH_LITERAL_BUDGET:
        raise ValueError(
            f"d*w = {d * w} > {HH_LITERAL_BUDGET} literal budget: the "
            "lookup expression would stall whole-stage codegen; use "
            "mode='join' (threshold-pruned broadcast semi joins)"
        )
    v = f"CAST(`{value_col}` AS STRING)"
    hkey = _hh_hash_key(df, value_col)
    if mode == "literal":
        counts = {
            (r["i"], r["b"]): r["c"]
            for r in _hh_counters(df, value_col, hkey, d, w).collect()
        }
        est = F.least(
            *[
                F.element_at(
                    F.lit([int(counts.get((i, b), 0)) for b in range(w)]),
                    (_hh_bucket(i, hkey, w) + 1).cast("int"),
                )
                for i in range(d)
            ]
        )
        cand = (
            df.select(F.col(value_col))
            .where(F.col(value_col).isNotNull())
            .where(est >= F.lit(threshold))
        )
    else:
        # materialize once so the d semi joins don't each re-run the
        # counting aggregation. Collected to the driver and rebuilt —
        # NOT localCheckpoint'd: checkpointed blocks are never released
        # and accumulate executor storage across repeated calls (r7
        # ADVICE). The collect is bounded: per hash row the counters
        # sum to n, so rows with c >= threshold number <= d*n/threshold
        # (a heavy-hitter threshold makes this a handful; <= d*w always).
        rows = (
            _hh_counters(df, value_col, hkey, d, w)
            .where(F.col("c") >= threshold)
            .select("i", "b")
            .collect()
        )
        heavy = local_frame(
            df.sparkSession,
            [[r["i"] for r in rows], [r["b"] for r in rows]],
            "i INT, b BIGINT",
        )
        cand = df.select(F.col(value_col)).where(
            F.col(value_col).isNotNull()
        )
        for i in range(d):
            hb = heavy.where(F.col("i") == i).select(
                F.col("b").alias(f"__hb{i}")
            )
            cand = cand.join(
                F.broadcast(hb),
                _hh_bucket(i, hkey, w) == F.col(f"__hb{i}"),
                "left_semi",
            )
    return (
        cand.groupBy(F.expr(v).alias("key"))
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.col("n") >= threshold)
    )


def _hh_hash_key(df: DataFrame, value_col: str) -> Column:
    """What ``_hh_bucket`` hashes: the raw column where
    CAST(value AS STRING) is injective (so equal result keys are equal
    raw values), else the cast itself — every row of one result key
    must land in one bucket."""
    dtype = df.select(value_col).schema[0].dataType
    if isinstance(dtype, (IntegralType, BooleanType, StringType)):
        return F.col(value_col)
    return F.col(value_col).cast("string")


def _hh_bucket(i: int, key: Column, w: int):
    """heavy_hitters' INTERNAL CM bucketing: pmod(xxhash64(i, key), w)
    on the ``_hh_hash_key`` expression — native, no md5/hex-conv per row.
    Only valid where nothing replays the counters (heavy_hitters' exact
    verify makes the hash invisible in the result); the oracle-replayed
    sketches stay on the ``_cm_bucket`` md5 contract."""
    return F.pmod(F.xxhash64(F.lit(i), key), F.lit(w))


def _hh_counters(
    df: DataFrame, value_col: str, key: Column, d: int, w: int
) -> DataFrame:
    """The d x w counter table of ``heavy_hitters`` (xxhash64
    bucketing of ``key``; null keys excluded to match the candidate
    scan)."""
    col = F.col(value_col)
    tags = F.array(
        *[
            F.struct(F.lit(i).alias("i"), _hh_bucket(i, key, w).alias("b"))
            for i in range(d)
        ]
    )
    return (
        df.select(col)
        .where(col.isNotNull())
        .select(F.explode(tags).alias("t"))
        .groupBy(F.col("t.i").alias("i"), F.col("t.b").alias("b"))
        .agg(F.count("*").alias("c"))
    )


def cm_estimate_from_counters(
    counters: DataFrame,
    group_cols: list[str],
    keys: DataFrame,
    d: int = 4,
    w: int = 256,
) -> DataFrame:
    """Batch finalize for (possibly streaming-emitted) Count-Min
    counter tables: for every (group x key) cell of the grid, the
    estimate = min over the d rows of the key's counters, with ABSENT
    counters counting as zero (an inner join would silently drop the
    estimate-0 rows). ``counters``: group_cols + (i, b, c);
    ``keys``: one column ``key`` (string) — a BOUNDED watchlist (it is
    broadcast against the group grid): Count-Min's query model is
    'estimate these keys', not 'enumerate all keys'; for full-key
    enumeration use the exact groupBy the sketch exists to avoid."""
    kb = keys.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _cm_bucket(i, F.col("key"), w).alias("b"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("t"),
    ).select("key", F.col("t.i").alias("i"), F.col("t.b").alias("b"))
    grid = counters.select(*group_cols).distinct().crossJoin(F.broadcast(kb))
    est = grid.join(counters, [*group_cols, "i", "b"], "left").select(
        *group_cols, "key", F.coalesce(F.col("c"), F.lit(0)).alias("__c")
    )
    return (
        est.groupBy(*group_cols, "key")
        .agg(F.min("__c").cast("long").alias("cm_count"))
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    n_bins: int = 64,
    lo: float = 0.0,
    hi: float = 1.0,
    quantiles_bp: tuple = (2500, 5000, 7500, 9900),
) -> DataFrame:
    """Approximate quantiles via a DETERMINISTIC fixed-bin histogram —
    the mergeable alternative to t-digest/GK (whose summaries are
    insertion-order-dependent and so can never hash-match across
    engines): bin(v) = clamp(floor((v - lo) / (hi - lo) * n_bins)),
    counts per (group, bin) are ONE groupBy bounded at n_bins rows per
    group (counts add — streaming/rollup mergeable), and quantile q =
    the smallest bin whose running count reaches ceil(q * N).

    Quantiles are requested in BASIS POINTS (2500 = p25) and answered
    as the BIN INDEX plus its exact cumulative count — all-integer
    outputs, so the DuckDB oracle replays binning, the cumulative
    window, and the threshold argmin bit-for-bit (the only float op is
    the bin expression itself, written identically in both engines).
    Resolution is (hi-lo)/n_bins by construction; callers needing the
    bin's value range recover it as lo + idx*(hi-lo)/n_bins."""
    group_cols = list(group_cols or [])
    step = (hi - lo) / n_bins
    bin_expr = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.col(value_col).cast("double") - F.lit(float(lo)))
                / F.lit(float(step))
            ).cast("int"),
        ),
    )
    counts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, bin_expr.alias("__bin"))
        .agg(F.count("*").alias("__c"))
    )
    return _quantiles_from_bin_counts(counts, group_cols, quantiles_bp)


def _quantiles_from_bin_counts(
    counts: DataFrame, group_cols: list[str], quantiles_bp: tuple
) -> DataFrame:
    """Shared finalize for the histogram-quantile family: cumulative
    window over a bounded per-group bin-count table + the exact integer
    rank threshold per requested quantile."""
    from pyspark.sql import Window

    wspec = (
        Window.partitionBy(*group_cols).orderBy("__bin")
        if group_cols
        else Window.partitionBy(F.lit(1)).orderBy("__bin")
    )
    cum = counts.withColumn("__cum", F.sum("__c").over(wspec)).withColumn(
        "__n", F.sum("__c").over(wspec.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
    )
    qdf = None
    for bp in quantiles_bp:
        # rank threshold ceil(bp * N / 10000) in exact integer math
        # ((a + b - 1) DIV b — positive operands, identical semantics
        # to DuckDB's // on positives; a negated-DIV "ceil" would be
        # floor under Spark's truncating DIV)
        thr = F.expr(f"CAST((__n * {int(bp)} + 9999) DIV 10000 AS BIGINT)")
        hit = (
            cum.where(F.col("__cum") >= thr)
            .groupBy(*group_cols)
            .agg(
                F.min("__bin").cast("long").alias("bin_idx"),
                F.max("__n").cast("long").alias("n"),
            )
            .withColumn("q_bp", F.lit(int(bp)))
        )
        qdf = hit if qdf is None else qdf.unionByName(hit)
    out_cols = [*group_cols, "q_bp", "bin_idx", "n"]
    return qdf.select(*out_cols)


def histogram_quantiles_log2(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    quantiles_bp: tuple = (2500, 5000, 7500, 9900),
) -> DataFrame:
    """Histogram quantiles over an UNBOUNDED non-negative integer
    domain — the fixed-bin sketch needs a caller-known [lo, hi); this
    variant bins by BIT LENGTH instead (bin = length(bin(v)), v=0 ->
    bin 0), so any positive magnitude lands in one of <= 64
    exponentially-sized bins with no prior domain knowledge and no
    extra pass. Quantile answers are bin indices: bin b >= 1 covers
    [2^(b-1), 2^b) — log2 resolution, the classic size-histogram
    trade. Same mergeable one-groupBy shape and exact integer rank
    thresholds as ``histogram_quantiles``; the bit-length is computed
    as a string length (no libm), identical in Spark and DuckDB.
    Negative values would need a sign-split bin family; they are
    filtered out here and documented as unsupported."""
    group_cols = list(group_cols or [])
    v = F.col(value_col).cast("long")
    bin_expr = F.when(v == 0, F.lit(0)).otherwise(F.length(F.bin(v)))
    counts = (
        df.where(v.isNotNull() & (v >= 0))
        .groupBy(*group_cols, bin_expr.alias("__bin"))
        .agg(F.count("*").alias("__c"))
    )
    return _quantiles_from_bin_counts(counts, group_cols, quantiles_bp)
