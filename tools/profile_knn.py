"""Profile knn_join_df driver sync points (round-10 optimization).

Monkeypatches DataFrame actions to log wall time + call site, then runs
the bench's knn_df row in isolation. Usage:
    python tools/profile_knn.py [variant]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

T0 = time.perf_counter()


def _ts() -> str:
    return f"{time.perf_counter() - T0:8.3f}"


def _site() -> str:
    for fr in reversed(traceback.extract_stack()):
        if "rust_s2_spark" in fr.filename:
            return f"{os.path.basename(fr.filename)}:{fr.lineno}"
    return "caller"


def patch_actions():
    from pyspark.sql.classic.dataframe import DataFrame

    # toArrow is the one action of each literal kNN round
    for name in ("collect", "count", "first", "localCheckpoint", "toArrow"):
        orig = getattr(DataFrame, name)

        def wrapper(self, *a, _orig=orig, _name=name, **kw):
            t0 = time.perf_counter()
            out = _orig(self, *a, **kw)
            dt = time.perf_counter() - t0
            print(f"[{_ts()}] {_name:16s} {dt:7.3f}s  at {_site()}", flush=True)
            return out

        setattr(DataFrame, name, wrapper)


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("knn-profile")
        .config("spark.sql.shuffle.partitions", str(max(16, 2 * cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from rust_s2_spark.operators.knn import knn_join_df
    from rust_s2_spark.sources.images import read_images_table, write_images_table

    table_path = tempfile.mkdtemp(prefix="s2prof_") + "/images"
    try:
        t0 = time.perf_counter()
        write_images_table(spark, sf_dir, table_path, with_bytes=False)
        print(f"[{_ts()}] ingest done {time.perf_counter() - t0:.3f}s", flush=True)
        img = read_images_table(spark, table_path)
        img.count()

        iid = F.col("image_id").cast("long")
        probes_df = img.where(iid % 3 == 0).select(
            iid.alias("query_id"),
            F.col("lat").alias("qlat"),
            F.col("lng").alias("qlng"),
        )

        patch_actions()
        # warm-up pass then timed pass (bench is min-of-2)
        for rep in range(4):
            print(f"--- knn_df pass {rep} ---", flush=True)
            t0 = time.perf_counter()
            n = knn_join_df(img, probes_df, 3).count()
            print(
                f"[{_ts()}] knn_df pass {rep}: {time.perf_counter() - t0:.3f}s "
                f"rows={n}",
                flush=True,
            )
    finally:
        shutil.rmtree(os.path.dirname(table_path), ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
