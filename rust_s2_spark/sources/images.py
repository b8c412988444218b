"""Deterministic geotagged image+caption table (BASELINE.json input_hint).

Schema: image_id:string, bytes:binary, w:int, h:int, fmt:string,
caption:string, phash:long — extended with engine geo columns
lat, lng, cell_id (level-30 leaf), cell_id_biased, parent5.

Derivation is pure bigint arithmetic + one IEEE division per
coordinate, so DuckDB reproduces lat/lng/phash/caption EXACTLY
(``oracle_images_sql`` emits the same derivation as a SQL CTE) — this
is what makes the driver's DuckDB-oracle comparisons exact.

30% of rows cluster around three "city" hotspots to exercise skew
handling; everything is generated Spark-natively (no Python on any
row), so the same generator scales to arbitrary row counts.

``bytes`` is a deterministic 192-byte raster (8x8 RGB) derived from
the row key via md5 — decode is the identity (fmt='raw'), so the
decoded-pixel fidelity check (PSNR) is exact and reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import s2_biased, s2_cell_from_latlng, s2_parent

# lat/lng grids: 1e-6 degree resolution via integer hashing
_M1 = 2654435761  # Knuth multiplicative hash
_CITIES = [  # (lat, lng) hotspot centers
    (40.7128, -74.0060),
    (51.5074, -0.1278),
    (35.6762, 139.6503),
]


def _derivation_sql(key: str) -> dict[str, str]:
    """The shared Spark/DuckDB arithmetic, as SQL expression strings.

    Only bigint ops + one final double division — bit-identical in any
    IEEE-conforming engine.
    """
    # every float literal is written in e-notation so BOTH engines parse
    # it as DOUBLE (plain `1.0`-style literals are DECIMAL in Spark SQL
    # and DuckDB, which would push the whole derivation into exact
    # decimal arithmetic — ~10× slower per row and a non-double column
    # type). Integer ops stay BIGINT; one double division + additions →
    # bit-identical IEEE results in any conforming engine.
    k1 = f"(({key} * {_M1}) % 4294967296)"
    k2 = f"(((({k1} % 1048576) * {_M1}) + ({k1} % 524287)) % 4294967296)"
    base_lat = f"(({k1} % 160000000) / 1e6 - 80e0)"
    base_lng = f"(({k2} % 360000000) / 1e6 - 180e0)"
    city = f"({key} % 10)"

    def _e(x: float) -> str:
        return f"{x!r}e0"

    city_lat = (
        f"(CASE {city} WHEN 0 THEN {_e(_CITIES[0][0])} WHEN 1 THEN {_e(_CITIES[1][0])} "
        f"ELSE {_e(_CITIES[2][0])} END + ({k1} % 400000) / 1e6 - 2e-1)"
    )
    city_lng = (
        f"(CASE {city} WHEN 0 THEN {_e(_CITIES[0][1])} WHEN 1 THEN {_e(_CITIES[1][1])} "
        f"ELSE {_e(_CITIES[2][1])} END + ({k2} % 400000) / 1e6 - 2e-1)"
    )
    return {
        "k1": k1,
        "k2": k2,
        "lat": f"(CASE WHEN {city} < 3 THEN {city_lat} ELSE {base_lat} END)",
        "lng": f"(CASE WHEN {city} < 3 THEN {city_lng} ELSE {base_lng} END)",
        # fits in int64: (2^31-1)*2^31 + 2^31 < 2^62
        "phash": f"(({k2} % 2147483648) * 2147483648 + ({k1} % 2147483648))",
    }


def images_from_orders(
    spark: SparkSession,
    sf_dir: str,
    with_bytes: bool = True,
    partition_level: int = 5,
    multiplier: int = 1,
    n_splits: int | None = None,
) -> DataFrame:
    """Build the images table from the driver's orders parquet.

    Geo hot path never touches ``bytes``/``caption`` (they ride along
    in the same rows; the cell-id UDF reads only lat/lng).
    ``multiplier`` replicates rows with distinct derived keys — used by
    the bench scaling run to get a working set big enough that per-core
    work dominates scheduling overhead.
    ``n_splits`` pins the input partition count regardless of cluster
    size — on a real table the split count is a property of the DATA
    layout, not of how many executors read it, so scaling comparisons
    (the north-rule N→4N proxy) must hold it constant or the small
    cluster gets systematically coarser tasks.
    """
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    if n_splits:
        # explicit layout: pin the split count exactly (both coalesce
        # and spread), whatever the cluster size
        if orders.rdd.getNumPartitions() != n_splits:
            orders = orders.repartition(n_splits)
    else:
        # default: the driver testdata is one parquet file = one input
        # partition; spread the keys so the encode UDF uses every core.
        # Never coalesce an input that already has more splits.
        par = spark.sparkContext.defaultParallelism
        if orders.rdd.getNumPartitions() < par:
            orders = orders.repartition(par)
    if multiplier > 1:
        orders = orders.select(
            "o_orderkey",
            F.explode(F.sequence(F.lit(0), F.lit(multiplier - 1))).alias("__idx"),
        ).select(
            (F.col("o_orderkey") * F.lit(multiplier) + F.col("__idx")).alias(
                "o_orderkey"
            )
        )
    d = _derivation_sql("o_orderkey")
    df = orders.select(
        F.col("o_orderkey").cast("string").alias("image_id"),
        F.expr(d["lat"]).alias("lat"),
        F.expr(d["lng"]).alias("lng"),
        F.expr(d["phash"]).alias("phash"),
    )
    df = df.withColumn("caption", F.concat(F.lit("img "), F.col("image_id")))
    if with_bytes:
        # 192 deterministic bytes = 12 chained md5 blocks of 16 bytes
        block = F.md5(F.col("image_id"))
        blocks = [block]
        for _ in range(11):
            blocks.append(F.md5(blocks[-1]))
        df = df.withColumn("bytes", F.unhex(F.concat(*blocks)))
    else:
        df = df.withColumn("bytes", F.lit(None).cast("binary"))
    df = (
        df.withColumn("w", F.lit(8))
        .withColumn("h", F.lit(8))
        .withColumn("fmt", F.lit("raw"))
        .withColumn("cell_id", s2_cell_from_latlng("lat", "lng"))
    )
    return (
        df.withColumn("cell_id_biased", s2_biased("cell_id"))
        .withColumn("parent5", s2_parent("cell_id", partition_level))
    )


def images_mixed_sizes(
    spark: SparkSession, sf_dir: str, modulus: int = 5, multiplier: int = 1
) -> DataFrame:
    """Deterministic MIXED-SIZE raster corpus: per-row w, h drawn from
    {8, 12, 16} via the shared key hash (w from k1, h from k2 — nine
    size combinations), bytes = exactly w*h*3 bytes cut from 48
    INDEPENDENT md5 blocks (md5(key || '_' || i) — a nested chain OOMs
    Spark's codegen subexpression elimination). Exercises the
    resize-to-8x8 step of
    ``average_hash`` on inputs the fixed-8x8 table can't; the whole
    derivation is the same bigint arithmetic DuckDB replays exactly.

    ``modulus`` keeps every key with o_orderkey % modulus == 0 (the
    driver-corpus convention for a ~1/5 sample).
    """
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    par = spark.sparkContext.defaultParallelism
    if orders.rdd.getNumPartitions() < par:
        orders = orders.repartition(par)
    if modulus > 1:
        orders = orders.where(F.col("o_orderkey") % modulus == 0)
    orders = _replicate_orders(orders, multiplier)
    d = _derivation_sql("o_orderkey")
    # 48 INDEPENDENT md5 blocks (key || '_i') = 768 bytes >= the
    # 16*16*3 max raster — independent, not chained, so the expression
    # tree stays flat (a 48-deep nested-md5 chain OOMs Spark codegen's
    # subexpression-elimination pass)
    blocks = [
        F.md5(F.expr(f"CAST(o_orderkey AS STRING) || '_{i}'")) for i in range(48)
    ]
    df = orders.select(
        F.col("o_orderkey").cast("long").alias("image_id"),
        F.expr(f"CAST(8 + 4 * ({d['k1']} % 3) AS INT)").alias("w"),
        F.expr(f"CAST(8 + 4 * ({d['k2']} % 3) AS INT)").alias("h"),
        F.concat(*blocks).alias("__hx"),
    )
    return df.select(
        "image_id",
        F.unhex(F.expr("substring(__hx, 1, w * h * 6)")).alias("bytes"),
        "w",
        "h",
        F.lit("raw").alias("fmt"),
    )


def _replicate_orders(orders: DataFrame, multiplier: int) -> DataFrame:
    """Bench-scaling replication of the orders keyspace: each replica i
    shifts every key by i*10^7 (a multiple of every group_span in use),
    so md5-derived corpus CONTENT is unique per replica and grouped
    structures (e.g. the planted near-dup 5-groups) keep their shape
    instead of merging into one multiplied group.

    The fixed 10^7 shift is only collision-free while every source key
    is below it (TPC-H o_orderkey reaches 6M at sf1, ~6M·sf beyond);
    a larger keyspace would silently merge replica content and group
    structure, so refuse it loudly rather than skew the scaling bench."""
    if multiplier <= 1:
        return orders
    mx = orders.agg(F.max("o_orderkey")).first()[0]
    if mx is not None and mx >= 10_000_000:
        raise ValueError(
            f"_replicate_orders: max(o_orderkey)={mx} >= 10^7 shift — "
            "replica keyspaces would collide; raise the shift to a "
            "multiple of every group_span above the max key first"
        )
    return orders.select(
        "o_orderkey",
        F.explode(F.sequence(F.lit(0), F.lit(multiplier - 1))).alias("__i"),
    ).select(
        (F.col("o_orderkey") + F.col("__i") * F.lit(10_000_000)).alias("o_orderkey")
    )


def audio_from_orders(
    spark: SparkSession, sf_dir: str, modulus: int = 5, multiplier: int = 1
) -> DataFrame:
    """Deterministic variable-length 'audio' corpus: fmt='pcm16' mono
    clips of 16..48 16-byte md5 blocks (128..384 int16 samples), block
    i = md5(key || '_a' || i) — independent blocks (flat expression
    tree), length from the shared k1 hash, so DuckDB re-derives every
    sample exactly."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    par = spark.sparkContext.defaultParallelism
    if orders.rdd.getNumPartitions() < par:
        orders = orders.repartition(par)
    if modulus > 1:
        orders = orders.where(F.col("o_orderkey") % modulus == 0)
    orders = _replicate_orders(orders, multiplier)
    d = _derivation_sql("o_orderkey")
    blocks = [
        F.md5(F.expr(f"CAST(o_orderkey AS STRING) || '_a{i}'")) for i in range(48)
    ]
    df = orders.select(
        F.col("o_orderkey").cast("long").alias("clip_id"),
        F.expr(f"CAST(16 + ({d['k1']} % 33) AS INT)").alias("__nb"),
        F.concat(*blocks).alias("__hx"),
    )
    return df.select(
        "clip_id",
        F.unhex(F.expr("substring(__hx, 1, __nb * 32)")).alias("bytes"),
        F.lit("pcm16").alias("fmt"),
    )


def images_near_dup_corpus(
    spark: SparkSession,
    sf_dir: str,
    modulus: int = 5,
    group_span: int = 25,
    multiplier: int = 1,
) -> DataFrame:
    """Deterministic 8x8 corpus with PLANTED pixel-level near-dups: the
    first 189 bytes (63 pixels) derive from the key's GROUP
    (o_orderkey // group_span — five keys per group at modulus 5), the
    last 3 bytes (one pixel) from the key itself. Measured average-hash
    hamming: in-group pairs 0-3 bits, cross-group >= 16 — a clean
    planted target for the d<=6 near-dup join, end to end from BYTES.
    """
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    par = spark.sparkContext.defaultParallelism
    if orders.rdd.getNumPartitions() < par:
        orders = orders.repartition(par)
    if modulus > 1:
        orders = orders.where(F.col("o_orderkey") % modulus == 0)
    orders = _replicate_orders(orders, multiplier)
    g = F.expr(f"CAST(o_orderkey DIV {group_span} AS STRING)")
    blocks = [F.md5(F.concat(g, F.lit(f"_g{i}"))) for i in range(12)]
    hx = F.concat(
        F.substring(F.concat(*blocks), 1, 378),
        F.substring(F.expr("md5(CAST(o_orderkey AS STRING) || '_t')"), 1, 6),
    )
    return orders.select(
        F.col("o_orderkey").cast("long").alias("image_id"),
        F.unhex(hx).alias("bytes"),
        F.lit(8).alias("w"),
        F.lit(8).alias("h"),
        F.lit("raw").alias("fmt"),
    )


def layout_transform(
    df: DataFrame, n_buckets: int = 64, sort_col: str = "cell_id_biased"
) -> DataFrame:
    """THE production layout: range-partition + sort by the biased cell
    id (Iceberg sort-order stand-in). Single definition shared by
    write_images_table, the lossy-fidelity gate
    (plans/driver_queries._stored_lossy_images_path), and
    tools/write_axis_decompose.py, so what the gates exercise IS the
    production write path."""
    return df.repartitionByRange(n_buckets, sort_col).sortWithinPartitions(
        sort_col
    )


def layout_write(
    df: DataFrame,
    out_path: str,
    n_buckets: int = 64,
    sort_col: str = "cell_id_biased",
) -> None:
    layout_transform(df, n_buckets, sort_col).write.mode("overwrite").parquet(
        out_path
    )


def write_images_table(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    with_bytes: bool = True,
    partition_level: int = 5,
    n_buckets: int = 64,
    multiplier: int = 1,
) -> None:
    """Materialize the images table the way the 100 TB Iceberg table
    would be laid out: range-partitioned AND sorted by the biased cell
    id, so every covering-join range predicate prunes files via parquet
    min/max stats and scans are Hilbert-clustered.

    (Stand-in for Iceberg write with sort order cell_id_biased; plain
    parquet here because the sandbox has no Iceberg runtime.)
    """
    df = images_from_orders(spark, sf_dir, with_bytes, partition_level, multiplier)
    layout_write(df, out_path, n_buckets)


def read_images_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def oracle_images_sql(with_k: bool = False) -> str:
    """DuckDB CTE producing the identical (image_id, lat, lng, phash,
    caption) rows from the pre-registered ``orders`` view."""
    d = _derivation_sql("o_orderkey")
    extra = f", {d['k1']} AS k1, {d['k2']} AS k2" if with_k else ""
    return (
        "SELECT CAST(o_orderkey AS VARCHAR) AS image_id, "
        f"{d['lat']} AS lat, {d['lng']} AS lng, {d['phash']} AS phash, "
        "'img ' || CAST(o_orderkey AS VARCHAR) AS caption"
        f"{extra} FROM orders"
    )


def videos_from_orders(
    spark: SparkSession,
    sf_dir: str,
    modulus: int = 15,
    multiplier: int = 1,
) -> DataFrame:
    """Deterministic 'video' corpus with PLANTED scene structure: 8
    frames of 192 bytes (each frame an 8x8 RGB raster), two 4-frame
    scenes. A frame's first 176 bytes derive from its SCENE
    (md5(key||'_s'||seg||'_'||i), seg = frame//4) and its last 16 bytes
    from the frame itself — so consecutive frames within a scene differ
    in ~16 bytes (small SAD) while the frame-3→4 boundary redraws every
    byte (large SAD): a clean planted target for scene-cut detection,
    re-derivable byte-for-byte in SQL."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    par = spark.sparkContext.defaultParallelism
    if orders.rdd.getNumPartitions() < par:
        orders = orders.repartition(par)
    if modulus > 1:
        orders = orders.where(F.col("o_orderkey") % modulus == 0)
    orders = _replicate_orders(orders, multiplier)
    key = "CAST(o_orderkey AS STRING)"
    frames = []
    for f in range(8):
        seg = f // 4
        # 11 scene blocks (176 hex pairs) + 1 frame block (16 bytes)
        scene_blocks = " || ".join(
            f"md5({key} || '_s{seg}_{i}')" for i in range(11)
        )
        frame_block = f"md5({key} || '_f{f}')"
        frames.append(f"substring({scene_blocks}, 1, 352) || {frame_block}")
    hx = " || ".join(frames)
    return orders.select(
        F.col("o_orderkey").cast("long").alias("image_id"),
        F.unhex(F.expr(hx)).alias("bytes"),
        F.lit(8).alias("n_frames"),
        F.lit(192).alias("frame_bytes"),
        F.lit("rawvideo").alias("fmt"),
    )
