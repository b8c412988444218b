"""Skew handling: hot-cell detection, salted repartitioning, and
level-adaptive covering splits (BASELINE.json north_rule).

Dense cells (cities) make both Hilbert-range partitions and join keys
skewed. Three tools:

* ``hot_cells``            — one cheap aggregation pass finds parents
                             whose row count exceeds a threshold.
* ``salted_repartition``   — repartition by (parent, salt) where salt
                             spreads ONLY the hot cells; cold cells
                             keep salt 0 so their locality is intact.
* ``adaptive_split``       — re-cover hot covering cells at deeper
                             levels so every work unit (cell range)
                             holds a bounded row count; feeds
                             range-partitioned writes and range joins
                             with balanced units.

AQE's skew-join handling (spark.sql.adaptive.skewJoin) covers the
moderate cases at runtime; these helpers are for the heavy tail and
for write-time layout.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import s2_parent
from ..kernels import cellid as k
from .frames import local_frame


def hot_cells(
    df: DataFrame, level: int, threshold: int, cell_col: str = "cell_id"
) -> dict[int, int]:
    """parent-cell id (raw int64) → row count, for cells above threshold."""
    rows = (
        df.groupBy(s2_parent(cell_col, level).alias("p"))
        .count()
        .where((F.col("count") > threshold) & F.col("p").isNotNull())
        .collect()
    )
    return {r["p"]: r["count"] for r in rows}


def salted_repartition(
    df: DataFrame,
    level: int,
    threshold: int,
    n_partitions: int,
    n_salt: int | None = None,
    cell_col: str = "cell_id",
    salt_source: str = "image_id",
    hot: list[int] | dict[int, int] | None = None,
    oversub: int = 128,
    n_rows: int | None = None,
) -> DataFrame:
    """Repartition by (parentL, salt): salt is nonzero only for dense
    cells, so cold cells stay contiguous while city cells spread.

    ``n_salt=None`` (default — AUTO): size-PROPORTIONAL salting. Every
    cell holding more than ``target = ceil(n / (n_partitions·oversub))``
    rows is spread over ``ceil(count/target)`` salts, so every
    (cell, salt) bucket carries at most ~1/oversub of an ideal
    partition and the hash placement concentrates (max/ideal ≈
    1 + √(2·ln P / oversub) — ~1.1-1.2 at the default 128). A FIXED
    salt count can't get there: with k salts a hot cell still emits
    buckets of count/k rows, and two such chunks hashing into one
    partition is a ~50% overload however large k is (measured plateau
    ~1.5; the round-7 10× regime recorded 1.98 at k=8). ``threshold``
    is ignored in auto mode — target supersedes it. The spread table
    is bounded: at most n/target = n_partitions·oversub cells exceed
    the target.

    ``n_salt=k`` (fixed): the legacy layout — cells above ``threshold``
    spread over exactly k salts. Right when a downstream consumer must
    replicate its other side once per salt and k must stay tiny.

    ``hot`` short-circuits the detection pass — at scale the density
    stats are table metadata computed once per dataset (see
    ``plans.stats``), not re-scanned per query. Fixed mode takes a
    cell list (or a dict's keys); auto mode needs the counts, so pass
    a dict (``hot_cells`` / ``hot_cells_from_stats`` output, built
    with a threshold no larger than the target) together with
    ``n_rows`` (the table row count) for a zero-scan plan."""
    parent = s2_parent(cell_col, level)
    if n_salt is None:
        if isinstance(hot, dict) and n_rows is not None:
            n, counts = n_rows, hot
        else:
            cnts = (
                df.groupBy(parent.alias("__p"))
                .agg(F.count("*").alias("__n"))
                .persist()
            )
            n = int(cnts.agg(F.sum("__n")).first()[0] or 0)
            t0 = max(1, -(-n // (n_partitions * oversub)))
            counts = {
                int(r["__p"]): int(r["__n"])
                for r in cnts.where(
                    (F.col("__n") > t0) & F.col("__p").isNotNull()
                ).collect()
            }
            cnts.unpersist()
        target = max(1, -(-n // (n_partitions * oversub)))
        spread = {c: -(-v // target) for c, v in counts.items() if v > target}
        if spread:
            # ONE parsed SQL map literal (per-entry F.lit columns cost a
            # py4j round trip each — the round-5 expression-building rule)
            entries = ",".join(f"{int(c)}L,{int(s)}" for c, s in spread.items())
            n_salt_col = F.coalesce(
                F.element_at(F.expr(f"map({entries})"), parent), F.lit(1)
            )
        else:
            n_salt_col = F.lit(1)
        salt = F.pmod(F.xxhash64(F.col(salt_source)), n_salt_col)
        return df.repartition(n_partitions, parent, salt)
    if hot is None:
        hot = list(hot_cells(df, level, threshold, cell_col).keys())
    elif isinstance(hot, dict):
        hot = list(hot.keys())
    salt = F.when(
        parent.isin(hot) if hot else F.lit(False),
        F.pmod(F.xxhash64(F.col(salt_source)), F.lit(n_salt)),
    ).otherwise(F.lit(0))
    return df.repartition(n_partitions, parent, salt)


def adaptive_split(
    df: DataFrame,
    covering_ids: np.ndarray,
    threshold: int,
    max_level: int = 30,
    cell_col_biased: str = "cell_id_biased",
    max_rounds: int = 8,
) -> np.ndarray:
    """Level-adaptive covering split: any covering cell holding more
    than ``threshold`` rows of ``df`` is replaced by its 4 children,
    repeatedly, so every returned cell is a bounded work unit.

    One counting aggregation per round (round count ≤ max_rounds);
    the counting join is a broadcast range join on the biased id.
    """
    cells = np.asarray(covering_ids, dtype=np.uint64)
    out: list[np.ndarray] = []
    spark = df.sparkSession
    for _ in range(max_rounds):
        if len(cells) == 0:
            break
        lo = k.bias_u64(k.range_min(cells))
        hi = k.bias_u64(k.range_max(cells))
        ranges = local_frame(
            spark, [cells.view(np.int64), lo, hi], "cell long, lo long, hi long"
        )
        counts = {
            r["cell"]: r["n"]
            for r in df.join(
                F.broadcast(ranges),
                (F.col(cell_col_biased) >= F.col("lo"))
                & (F.col(cell_col_biased) <= F.col("hi")),
            )
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        cells_i64 = cells.view(np.int64)
        lvl = k.level(cells)
        keep, split = [], []
        for idx in range(len(cells)):
            n = counts.get(int(cells_i64[idx]), 0)
            if n > threshold and int(lvl[idx]) < max_level:
                split.append(cells[idx])
            else:
                keep.append(cells[idx])
        out.append(np.array(keep, dtype=np.uint64))
        if not split:
            cells = np.zeros(0, dtype=np.uint64)
            break
        cells = k.children(np.array(split, dtype=np.uint64)).ravel()
    if len(cells):
        out.append(cells)
    return np.sort(np.concatenate(out)) if out else np.zeros(0, dtype=np.uint64)
