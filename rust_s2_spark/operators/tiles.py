"""Raster ↔ vector tile assignment (SURVEY.md §2.8).

Each image has a ground footprint around its center (sized from its
pixel dims at a nominal resolution). ``image_tiles`` expands every
image to the level-L cells its footprint touches (center cell + the
all-neighbors ring — exact while footprint radius ≤ one cell
min-width, which the level choice guarantees). The vector side is a
region covering at the same level; tile assignment is then a plain
equi-join on the tile cell id — broadcastable, shuffle-free on the
image side when the table is already cell-partitioned.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..geometry import RegionCoverer
from ..kernels import cellid as k
from ..plans.frames import local_frame


def image_tiles(
    df: DataFrame,
    level: int,
    cell_col: str = "cell_id",
) -> DataFrame:
    """Explode each image row into (row, tile_cell) for the level-L
    cells its footprint touches (center + all neighbors)."""

    @pandas_udf(ArrayType(LongType()))
    def _ring(ids: pd.Series) -> pd.Series:
        u = ids.to_numpy(np.int64).view(np.uint64)
        centers = k.parent(u, level)
        rings = k.all_neighbors(centers, level)
        out = []
        for i in range(len(u)):
            tiles = np.unique(np.concatenate([[centers[i]], rings[i]]))
            out.append(tiles.view(np.int64))
        return pd.Series(out)

    return df.withColumn("tile_cell", F.explode(_ring(F.col(cell_col))))


def raster_vector_assign(
    spark: SparkSession,
    images: DataFrame,
    region,
    level: int,
    coverer: RegionCoverer | None = None,
) -> DataFrame:
    """Assign images to the region's level-L tiles: images whose
    footprint ring intersects a covering cell of the region.
    Output: image rows + ``tile_cell``."""
    rc = coverer or RegionCoverer(
        min_level=level, max_level=level, level_mod=1, max_cells=10_000
    )
    cov = rc.covering(region)
    tiles = local_frame(spark, [cov.ids.view(np.int64)], "tile_cell long")
    tiled = image_tiles(images, level)
    return tiled.join(F.broadcast(tiles), "tile_cell", "inner")
