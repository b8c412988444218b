"""Streaming cell rollups, raster↔vector tile assignment, and
lineage-checkpointed writes with idempotent resume."""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_s2_spark.sources import images_from_orders
from rust_s2_spark.sources.images import _derivation_sql


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    df = images_from_orders(spark, sf_dir, with_bytes=False).cache()
    df.count()
    return df


def test_streaming_rollup_matches_batch(spark, sf_dir):
    from rust_s2_spark.streaming import assign_cells, windowed_cell_counts

    tmp = tempfile.mkdtemp(prefix="s2stream_")
    try:
        # stage the events table as a streamable directory with derived coords
        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        d = _derivation_sql("user_id")
        staged = events.select(
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
            F.expr(d["lat"]).alias("lat"),
            F.expr(d["lng"]).alias("lng"),
        )
        staged.write.mode("overwrite").parquet(f"{tmp}/in")

        stream = spark.readStream.schema(staged.schema).parquet(f"{tmp}/in")
        rolled = windowed_cell_counts(
            assign_cells(stream), ts_col="ts", window="6 hours",
            watermark="1 hour", agg_level=4,
        )
        q = (
            rolled.writeStream.format("memory")
            .queryName("rollup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = spark.sql(
            "SELECT w.start AS ws, cell, n, value_sum FROM rollup"
        )
        batch = windowed_cell_counts(
            assign_cells(spark.read.parquet(f"{tmp}/in")),
            ts_col="ts", window="6 hours", watermark="1 hour", agg_level=4,
        ).select(F.col("w.start").alias("ws"), "cell", "n", "value_sum")
        # append-mode emits only watermark-closed windows → got ⊆ batch
        assert got.count() > 0
        assert got.exceptAll(batch).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_image_tiles_cover_footprint(images):
    from rust_s2_spark.operators.tiles import image_tiles

    tiled = image_tiles(images.limit(200), level=10)
    rows = tiled.groupBy("image_id").agg(F.count("*").alias("n")).collect()
    # 3x3 ring: normally 9 tiles (can be fewer/more at face corners)
    assert all(3 <= r.n <= 12 for r in rows)
    # every tile is at level 10 and the image's own cell is among them
    from rust_s2_spark.functions import s2_level, s2_parent

    bad = tiled.where(s2_level("tile_cell") != 10).count()
    assert bad == 0
    own = tiled.where(s2_parent("cell_id", 10) == F.col("tile_cell"))
    assert own.select("image_id").distinct().count() == 200


def test_raster_vector_assign(spark, images):
    from rust_s2_spark.geometry import Cap
    from rust_s2_spark.operators.tiles import raster_vector_assign

    cap = Cap.from_latlng_degrees(40.7128, -74.0060, 1.0)
    out = raster_vector_assign(spark, images, cap, level=8)
    n = out.select("image_id").distinct().count()
    # everything strictly inside the cap must be assigned
    from rust_s2_spark.operators.covering_join import cap_exact_predicate

    inside = images.where(cap_exact_predicate(cap, "lat", "lng"))
    n_inside = inside.count()
    assert n >= n_inside > 0
    # and their own tiles appear
    assigned = set(r.image_id for r in out.select("image_id").distinct().collect())
    for r in inside.select("image_id").limit(50).collect():
        assert r.image_id in assigned


def test_lineage_write_and_resume(spark, images):
    from rust_s2_spark.plans.lineage import (
        completed_buckets,
        pending_buckets,
        read_output,
        write_with_lineage,
    )

    tmp = tempfile.mkdtemp(prefix="s2lineage_")
    base = f"{tmp}/out"
    try:
        df = images.limit(3000)
        n1 = write_with_lineage(spark, df, base, step="ingest", bucket_level=2)
        assert n1 > 0
        done = completed_buckets(spark, base, "ingest")
        assert len(done) == n1
        # resume: nothing pending, writes nothing
        assert pending_buckets(spark, df, base, "ingest", 2) == []
        n2 = write_with_lineage(spark, df, base, step="ingest", bucket_level=2)
        assert n2 == 0
        # output round-trips completely
        out = read_output(spark, base)
        assert out.count() == df.count()
        got_ids = set(r.image_id for r in out.select("image_id").collect())
        want_ids = set(r.image_id for r in df.select("image_id").collect())
        assert got_ids == want_ids
        # lineage metrics are sane: rows account for every input row,
        # and every bucket's byte metric reflects real files on disk
        ln = spark.read.parquet(f"{base}/_lineage")
        tot = ln.agg(F.sum("n_rows")).collect()[0][0]
        assert tot == df.count()
        per_bucket = {r.bucket: r.n_bytes for r in ln.collect()}
        assert all(v > 0 for v in per_bucket.values()), per_bucket
        import os

        disk = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _d, files in os.walk(base)
            for f in files
            if "bucket=" in root and f.endswith(".parquet")
        )
        assert sum(per_bucket.values()) == disk
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_first_seen_dedup(spark):
    """applyInPandasWithState exact-dedup stream: each key is emitted
    exactly once with its first timestamp, duplicates are swallowed."""
    from rust_s2_spark.streaming import streaming_first_seen

    tmp = tempfile.mkdtemp(prefix="s2state_")
    try:
        rows = []
        # 200 keys, each appearing 1-5 times with increasing timestamps
        for kk in range(200):
            for rep in range(1 + kk % 5):
                rows.append((kk, f"2026-01-01 0{rep}:00:00"))
        df = spark.createDataFrame(rows, "phash long, ts_s string").select(
            "phash", F.col("ts_s").cast("timestamp").alias("ts")
        )
        df.write.mode("overwrite").parquet(f"{tmp}/in")

        stream = spark.readStream.schema(df.schema).parquet(f"{tmp}/in")
        deduped = streaming_first_seen(stream, "phash", ts_col="ts")
        q = (
            deduped.writeStream.format("memory")
            .queryName("first_seen")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT key, first_ts, n_dups_in_batch FROM first_seen")
        rows_out = got.collect()
        assert len(rows_out) == 200  # exactly once per key
        byk = {r.key: r for r in rows_out}
        assert all(str(byk[kk].first_ts).startswith("2026-01-01 00:") for kk in byk)
        assert sum(r.n_dups_in_batch for r in rows_out) == len(rows)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_first_seen_ttl_expiry(spark):
    """TTL path of streaming_first_seen (cell_stream.py hasTimedOut
    branch): a key re-emits after its state expires, and the timed-out
    invocation swallows nothing. Three availableNow runs over one
    checkpoint: (1) key A emits and arms a short TTL; (2) after sleeping
    past the TTL, an unrelated key's batch triggers the timeout
    invocation for A (state.remove); (3) key A arrives again and
    re-emits. Control: key B recurs in run 3 BEFORE any expiry gap for
    it could be processed... instead the no-TTL contract is pinned by
    test_streaming_first_seen_dedup above."""
    import datetime
    import time

    from rust_s2_spark.streaming import streaming_first_seen

    tmp = tempfile.mkdtemp(prefix="s2ttl_")
    q = None
    try:
        schema = "phash long, ts timestamp"
        t0 = datetime.datetime(2026, 1, 1)

        def stage(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp}/in")

        def wait_rows(n: int, timeout_s: float = 60.0):
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                rows = spark.sql("SELECT key FROM ttl_sink").collect()
                if len(rows) >= n:
                    return rows
                time.sleep(0.3)
            raise AssertionError(
                f"sink never reached {n} rows: "
                f"{spark.sql('SELECT * FROM ttl_sink').collect()}"
            )

        stage([(1, t0)])
        stream = spark.readStream.schema(schema).parquet(f"{tmp}/in")
        deduped = streaming_first_seen(
            stream, "phash", ts_col="ts", state_ttl_hours=1.0 / 3600.0
        )
        # one continuous query: with ProcessingTimeTimeout armed the
        # engine keeps running state-cleanup batches, which is exactly
        # what fires the hasTimedOut branch between our stages
        q = (
            deduped.writeStream.format("memory")
            .queryName("ttl_sink")
            .outputMode("append")
            .trigger(processingTime="500 milliseconds")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        rows = wait_rows(1)
        assert {r.key for r in rows} == {1}  # first emit arms the ~1s TTL

        time.sleep(3.0)  # TTL fires in a cleanup batch -> state removed
        stage([(1, t0), (3, t0)])
        rows = wait_rows(3)
        keys = sorted(r.key for r in rows)
        # key 1 RE-emitted after expiry; the timed-out invocation itself
        # emitted nothing (exactly 3 rows: 1, then 1 again, and 3)
        assert keys == [1, 1, 3], keys
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)
