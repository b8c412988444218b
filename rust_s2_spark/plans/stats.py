"""Precomputed cell-density statistics (table metadata for operator
seeding — the partition-pruning idea from SURVEY §4 applied to the
density-adaptive operators).

``knn_join_df``'s start-level choice and ``salted_repartition``'s
hot-cell detection both need per-parent-cell row counts. The aggs are
bounded (≤ 6·4^L rows) but each is a full scan of the fact table's
cell column — at 100 TB that scan dominates a REPEATED workload. These
helpers compute the stats ONCE (a single scan covering every requested
level via ancestor expansion), persist them next to the lineage table
at write time, and let every downstream query inject them instead of
re-scanning:

    stats = build_cell_stats(df, levels=(7,))          # one scan
    knn_join_df(df, probes, k, stats=stats)            # zero stats scans
    salted_repartition(df, 7, 0, p, hot=hot_cells_from_stats(stats, 7, 0),
                       n_rows=n)                       # zero stats scans
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import s2_parent

CELL_STATS_SCHEMA = "level int, cell long, n long"


def _stats_path(base: str) -> str:
    return f"{base}/_cell_stats"


def build_cell_stats(
    df: DataFrame, levels: tuple[int, ...] = (7,), cell_col: str = "cell_id"
) -> DataFrame:
    """(level, cell, n) row counts per parent cell, for every requested
    level, in ONE scan of ``df``: each row explodes to its ancestors at
    exactly ``levels`` (native Generate) and one groupBy counts them.
    Output is bounded by Σ 6·4^L rows regardless of |df|.

    On an ingest stream the same code is a streaming stateful
    aggregation, which keeps the stats fresh as rows arrive: state is
    bounded by the same Σ 6·4^L counters and needs no watermark (cell
    counts never expire). Use ``update`` output mode + foreachBatch to
    merge changed counters into the persisted ``_cell_stats`` table, or
    ``complete`` to snapshot it."""
    lvls = sorted(set(int(x) for x in levels))
    if not lvls or any(not (0 <= x <= 30) for x in lvls):
        raise ValueError(f"levels must be non-empty, each in [0, 30]: {levels}")
    anc = F.array(*[
        F.struct(
            F.lit(lvl).cast("int").alias("level"),
            s2_parent(cell_col, lvl).alias("cell"),
        )
        for lvl in lvls
    ])
    return (
        df.select(F.inline(anc))
        .groupBy("level", "cell")
        .agg(F.count("*").alias("n"))
    )


def write_cell_stats(
    df: DataFrame,
    base: str,
    levels: tuple[int, ...] = (7,),
    cell_col: str = "cell_id",
) -> None:
    """Build and persist the stats table at ``<base>/_cell_stats``
    (overwrite — the stats describe the table as written, like
    ``<base>/_lineage`` describes its write history)."""
    build_cell_stats(df, levels, cell_col).write.mode("overwrite").parquet(
        _stats_path(base)
    )


def read_cell_stats(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.schema(CELL_STATS_SCHEMA).parquet(_stats_path(base))


def hot_cells_from_stats(
    stats: DataFrame, level: int, threshold: int
) -> dict[int, int]:
    """``skew.hot_cells`` from a precomputed stats frame — no fact-table
    scan. Raises if the stats were not built at ``level`` (a silently
    empty hot list would disable salting without a trace).

    The ``n > threshold`` filter runs INSIDE the query (parquet-
    pushable), so driver traffic is the hot list itself — at a sane
    threshold a handful of rows — not every cell at the level (6·4^L
    rows, the wrong shape at L ≥ 10)."""
    # a NULL cell (rows with a NULL or NaN coordinate) is not a cell
    rows = stats.where(
        (F.col("level") == int(level))
        & (F.col("n") > int(threshold))
        & F.col("cell").isNotNull()
    ).collect()
    if not rows:
        has_level = (
            stats.where(F.col("level") == int(level)).limit(1).count() > 0
        )
        if not has_level and stats.limit(1).count():
            raise ValueError(
                f"cell stats carry no level={level} rows; rebuild with "
                f"build_cell_stats(df, levels=({level},))"
            )
    return {int(r["cell"]): int(r["n"]) for r in rows}


def stats_row_count(stats: DataFrame, level: int) -> int:
    """Corpus row count implied by the stats at ``level``: every corpus
    row has exactly ONE ancestor per built level, so ``sum(n)`` at any
    single level IS the row count of the table the stats were built
    over. Bounded read of the stats frame, zero fact-table traffic —
    this is the number operators compare against ``n_rows=`` to detect
    corpus-mismatched (or stale) stats injection."""
    row = stats.where(F.col("level") == int(level)).agg(
        F.sum("n").alias("n")
    ).first()
    return int(row["n"] or 0)
