"""Driver-side literal frames, built as Arrow ``LocalRelation``s.

Every small frame the package assembles on the driver (covering
ranges, kNN candidate rings, resolved-probe id lists, fixture rows)
goes through ``local_frame``. Handed a list of tuples,
``spark.createDataFrame`` plans a ``LogicalRDD`` over a pickled Python
RDD (``Scan ExistingRDD``): every query reading it starts one
Python-worker task per partition just to unpickle a few literal rows,
and Catalyst sees no size statistics for it. A ``pyarrow.Table``
becomes a ``LocalRelation`` (``LocalTableScan``) whether or not the
session enables Arrow: no Python worker runs, and the optimizer knows
the frame's true size.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, columns: Sequence, ddl: str | StructType
) -> DataFrame:
    """A ``LocalRelation`` with schema ``ddl`` (DDL string or
    StructType) whose i-th column holds ``columns[i]`` — a numpy array
    or any sequence of Python values of that field's type."""
    schema = ddl if isinstance(ddl, StructType) else StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema, strict=True)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
