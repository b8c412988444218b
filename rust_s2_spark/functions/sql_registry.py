"""Register the S2 surface for spark.sql() string users.

Native bit-arithmetic functions become SQL scalar UDFs
(``CREATE TEMPORARY FUNCTION ... RETURNS ... RETURN <expr>`` — resolved
into the plan like any expression, still whole-stage codegen); the
table-lookup chains (lat/lng↔id, tokens) register the same Arrow-batched
pandas UDFs the Column API uses.

    from rust_s2_spark.functions.sql_registry import register_sql_functions
    register_sql_functions(spark)
    spark.sql("SELECT s2_token(s2_parent(cell_id, 7)) FROM imgs")

tests/test_sql_registry.py proves every SQL function equals its Column
twin on 15k scale ids.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .columns import MIN_LONG, _cell_from_latlng_udf, _from_token_udf, _to_token_udf

# body expressions mirror functions/columns.py exactly (tested equal)
_SQL_FUNCS = {
    "s2_lsb": (
        "(id BIGINT) RETURNS BIGINT",
        "id & -id",
    ),
    "s2_level": (
        "(id BIGINT) RETURNS INT",
        "CAST(30 - CAST(bit_count((id & -id) - 1L) / 2 AS INT) AS INT)",
    ),
    "s2_parent": (
        "(id BIGINT, level INT) RETURNS BIGINT",
        "(id & -shiftleft(1L, CAST(2 * (30 - level) AS INT)))"
        " | shiftleft(1L, CAST(2 * (30 - level) AS INT))",
    ),
    "s2_range_min": (
        "(id BIGINT) RETURNS BIGINT",
        "id - ((id & -id) - 1L)",
    ),
    "s2_range_max": (
        "(id BIGINT) RETURNS BIGINT",
        "id + ((id & -id) - 1L)",
    ),
    "s2_face": (
        "(id BIGINT) RETURNS INT",
        "CAST(shiftright(id, 61) & 7L AS INT)",
    ),
    "s2_is_leaf": (
        "(id BIGINT) RETURNS BOOLEAN",
        "(id & 1L) = 1L",
    ),
    "s2_is_valid": (
        "(id BIGINT) RETURNS BOOLEAN",
        "(CAST(shiftright(id, 61) & 7L AS INT) < 6)"
        " AND ((id & -id) & 1537228672809129301L) != 0L",
    ),
    "s2_biased": (
        "(id BIGINT) RETURNS BIGINT",
        f"id ^ CAST({MIN_LONG} AS BIGINT)",
    ),
    "s2_child_position": (
        "(id BIGINT, level INT) RETURNS INT",
        "CAST(shiftrightunsigned(id, 2 * (30 - level) + 1) & 3L AS INT)",
    ),
    # E5/E6/E7 integer angle encodings (ref s1/angle.rs:316-351); see
    # functions/columns.py for the ties-away / multiplication rationale
    "s2_e5": ("(deg DOUBLE) RETURNS INT", f"CAST(round(deg / {1.0 / 1e5!r}, 0) AS INT)"),
    "s2_e6": ("(deg DOUBLE) RETURNS INT", f"CAST(round(deg / {1.0 / 1e6!r}, 0) AS INT)"),
    "s2_e7": ("(deg DOUBLE) RETURNS INT", f"CAST(round(deg / {1.0 / 1e7!r}, 0) AS INT)"),
    "s2_e5_deg": ("(e INT) RETURNS DOUBLE", f"CAST(e AS DOUBLE) * {1.0 / 1e5!r}"),
    "s2_e6_deg": ("(e INT) RETURNS DOUBLE", f"CAST(e AS DOUBLE) * {1.0 / 1e6!r}"),
    "s2_e7_deg": ("(e INT) RETURNS DOUBLE", f"CAST(e AS DOUBLE) * {1.0 / 1e7!r}"),
    # haversine angle in radians, the reference's exact formula
    # (latlng.rs:62-68) — mirrors functions/columns.s2_latlng_distance
    "s2_latlng_distance": (
        "(lat1 DOUBLE, lng1 DOUBLE, lat2 DOUBLE, lng2 DOUBLE) RETURNS DOUBLE",
        # plain products, not pow(x,2) — bit-identical to the Column API
        "2.0 * atan2("
        " sqrt(sin(0.5 * (radians(lat2) - radians(lat1))) * sin(0.5 * (radians(lat2) - radians(lat1)))"
        "  + sin(0.5 * (radians(lng2) - radians(lng1))) * sin(0.5 * (radians(lng2) - radians(lng1)))"
        "    * cos(radians(lat1)) * cos(radians(lat2))),"
        " sqrt(greatest(0.0, 1.0 - (sin(0.5 * (radians(lat2) - radians(lat1))) * sin(0.5 * (radians(lat2) - radians(lat1)))"
        "  + sin(0.5 * (radians(lng2) - radians(lng1))) * sin(0.5 * (radians(lng2) - radians(lng1)))"
        "    * cos(radians(lat1)) * cos(radians(lat2))))))",
    ),
}


def register_sql_functions(spark: SparkSession) -> None:
    """Idempotent: CREATE OR REPLACE for the SQL scalar functions,
    spark.udf.register for the pandas-UDF chains."""
    for name, (sig, body) in _SQL_FUNCS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{sig} RETURN {body}"
        )
    spark.udf.register("s2_cell_from_latlng", _cell_from_latlng_udf)
    spark.udf.register("s2_token", _to_token_udf)
    spark.udf.register("s2_from_token", _from_token_udf)
