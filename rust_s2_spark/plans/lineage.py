"""Per-partition lineage + metrics checkpointing with idempotent resume
(BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

The output table is written in ONE dynamic-partition-overwrite job,
partitioned by Hilbert bucket (bucket = parent cell at ``bucket_level``,
computed natively) — the upstream plan is computed exactly once no
matter how many buckets there are; at 100 TB a per-bucket write loop
would rescan the source once per bucket. Completed buckets are
anti-joined away on resume, and dynamic overwrite only replaces the
partitions present in the written frame, so a partially-written bucket
from a crashed run is replaced wholesale — idempotent resume. Lineage
stats (rows, min/max biased cell id per bucket) come from one cheap
aggregate over the files just written (columnar scan of cell_id only,
no upstream recompute) and are appended to ``<base>/_lineage``.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import s2_biased, s2_parent
from .frames import local_frame

LINEAGE_SCHEMA = (
    "step string, bucket long, n_rows long, n_bytes long, "
    "min_cell_biased long, max_cell_biased long, wall_sec double, "
    "completed_at double"
)


def _lineage_path(base: str) -> str:
    return f"{base}/_lineage"


def _bucket_bytes(spark: SparkSession, base: str) -> dict[int, int]:
    """On-disk bytes per bucket partition of the written table, from
    the Hadoop FileSystem API (works for any scheme the session can
    reach — local, HDFS, s3a; the Iceberg equivalent reads the same
    numbers from the manifest's file sizes)."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(base)
    fs = path.getFileSystem(conf)
    out: dict[int, int] = {}
    if not fs.exists(path):
        return out
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if not name.startswith("bucket="):
            continue
        b = int(name.split("=", 1)[1])
        total = 0
        it = fs.listFiles(st.getPath(), True)
        while it.hasNext():
            total += it.next().getLen()
        out[b] = total
    return out


def completed_buckets(spark: SparkSession, base: str, step: str) -> set[int]:
    try:
        ln = spark.read.schema(LINEAGE_SCHEMA).parquet(_lineage_path(base))
    except Exception:
        return set()
    return {
        r.bucket
        for r in ln.where(F.col("step") == step).select("bucket").distinct().collect()
    }


def pending_buckets(
    spark: SparkSession, df: DataFrame, base: str, step: str, bucket_level: int
) -> list[int]:
    all_buckets = [
        r.b
        for r in df.select(s2_parent("cell_id", bucket_level).alias("b"))
        .distinct()
        .collect()
    ]
    done = completed_buckets(spark, base, step)
    return sorted(b for b in all_buckets if b not in done)


def write_with_lineage(
    spark: SparkSession,
    df: DataFrame,
    base: str,
    step: str,
    bucket_level: int = 4,
    stats_levels: tuple[int, ...] | None = None,
) -> int:
    """Write df partitioned by Hilbert bucket with per-bucket lineage;
    resumes past completed buckets on restart (one Spark write job per
    resume, not one per bucket). Returns #buckets written.

    ``stats_levels``: also (re)write the cell-density statistics table
    at ``<base>/_cell_stats`` from the files just written (one columnar
    scan of cell_id, no upstream recompute) — the metadata that lets
    ``knn_join_df(stats=)`` and ``hot_cells_from_stats`` skip their
    per-query fact scans. Rebuilt over the FULL table (including
    previously completed buckets) so resume keeps it consistent."""
    t0 = time.time()
    df = df.withColumn("bucket", s2_parent("cell_id", bucket_level))
    done = completed_buckets(spark, base, step)
    if done:
        done_df = local_frame(spark, [sorted(done)], "bucket long")
        df = df.join(F.broadcast(done_df), "bucket", "left_anti")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # one job: dynamic overwrite replaces exactly the partitions
        # present in df (a crashed run's partial bucket is rewritten
        # wholesale); _lineage lives outside bucket=* and is untouched
        df.write.mode("overwrite").partitionBy("bucket").parquet(base)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    wall = time.time() - t0
    # stats from the files just written — columnar scan, no recompute
    out = read_output(spark, base)
    if done:
        out = out.join(F.broadcast(done_df), "bucket", "left_anti")
    stats = (
        out.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min(s2_biased("cell_id")).alias("mn"),
            F.max(s2_biased("cell_id")).alias("mx"),
        )
        .collect()
    )
    now = time.time()
    sizes = _bucket_bytes(spark, base)
    rows = [
        (
            step,
            int(r["bucket"]),
            int(r["n"]),
            int(sizes.get(int(r["bucket"]), 0)),
            int(r["mn"]),
            int(r["mx"]),
            float(wall),  # wall of the shared single write job
            now,
        )
        for r in stats
    ]
    if rows:
        lineage = local_frame(spark, list(zip(*rows)), LINEAGE_SCHEMA)
        lineage.write.mode("append").parquet(_lineage_path(base))
    if stats_levels is not None:
        from .stats import write_cell_stats

        write_cell_stats(read_output(spark, base), base, stats_levels)
    return len(rows)


def read_output(spark: SparkSession, base: str) -> DataFrame:
    return spark.read.option("basePath", base).parquet(f"{base}/bucket=*")
