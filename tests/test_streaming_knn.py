"""streaming_knn: the foreachBatch lift of knn_join_df.

Pins (1) multi-batch result == one-shot batch operator == brute-force
truth, (2) the sink is partitioned by micro-batch id, and (3) a
replayed batch overwrites its own partition (idempotence — the
exactly-once discipline the operator's docstring claims).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rust_s2_spark.operators.knn import knn_join_df
from rust_s2_spark.plans.stats import build_cell_stats
from rust_s2_spark.sources.images import images_from_orders
from rust_s2_spark.streaming import streaming_knn


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    img = images_from_orders(spark, sf_dir, with_bytes=False).select(
        "image_id", "lat", "lng", "cell_id"
    )
    return img.localCheckpoint(eager=True)


def _probes(img):
    iid = F.col("image_id").cast("long")
    return img.where(iid % 17 == 3).select(
        iid.alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lng").alias("qlng"),
    )


def _run_stream(spark, img, probes, tmp, n_files):
    probes.repartition(n_files).write.mode("overwrite").parquet(f"{tmp}/in")
    pstream = (
        spark.readStream.schema(probes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/in")
    )
    stats = build_cell_stats(img, levels=(7,))
    q = streaming_knn(
        img, pstream, 3,
        sink_path=f"{tmp}/out", checkpoint_path=f"{tmp}/ckpt",
        stats=stats,
        trigger={"availableNow": True},
    )
    assert q.awaitTermination(300), "stream did not finish"
    return spark.read.parquet(f"{tmp}/out")


def test_streaming_knn_matches_batch_across_batches(spark, images):
    probes = _probes(images)
    tmp = tempfile.mkdtemp(prefix="s2sknn_t_")
    try:
        out = _run_stream(spark, images, probes, tmp, n_files=3)
        # one micro-batch per input file → multiple sink partitions
        parts = {
            os.path.basename(p)
            for p in glob.glob(f"{tmp}/out/__batch_id=*")
        }
        assert len(parts) == 3, parts

        got = sorted(
            (int(r["query_id"]), int(r["rank"]), int(r["image_id"]))
            for r in out.collect()
        )
        want = sorted(
            (int(r["query_id"]), int(r["rank"]), int(r["image_id"]))
            for r in knn_join_df(images, probes, 3).collect()
        )
        assert got == want
        n_probes = probes.count()
        assert len(got) == 3 * n_probes
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_knn_sink_is_idempotent_on_replay(spark, images):
    """A batch replay (failure after write, before offset commit)
    overwrites its own partition: re-running the whole stream with a
    FRESH checkpoint against the EXISTING sink must leave exactly the
    same rows, not append duplicates."""
    probes = _probes(images).limit(40)
    tmp = tempfile.mkdtemp(prefix="s2sknn_r_")
    cols = ["query_id", "rank", "image_id", "dist_chord2"]
    try:
        first = _run_stream(spark, images, probes, tmp, n_files=2)
        rows1 = sorted(map(tuple, first.select(cols).collect()))
        # same input → same batch ids 0/1 under a new checkpoint;
        # dynamic overwrite replaces those partitions in place (the
        # file→batch assignment may flip, so compare batch-blind)
        shutil.rmtree(f"{tmp}/ckpt")
        second = _run_stream(spark, images, probes, tmp, n_files=2)
        rows2 = sorted(map(tuple, second.select(cols).collect()))
        assert rows1 == rows2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_knn_skips_null_coordinate_facts(spark, images):
    """Fact rows at (NaN, 0), (NULL, 5), (0, NaN) and (NaN, NaN) get a
    NULL cell id from ``s2_cell_from_latlng``, so the stats the stream
    is given carry a NULL-cell group. The stream (whose stats ``n_rows``
    counts those rows too) returns the same rows as the batch operator
    over the valid facts alone."""
    from rust_s2_spark.functions import s2_cell_from_latlng

    valid = images.where(F.col("image_id").cast("long") % 3 == 0)
    nan = float("nan")
    bad = spark.createDataFrame(
        [(-1, nan, 0.0), (-2, None, 5.0), (-3, 0.0, nan), (-4, nan, nan)],
        "image_id long, lat double, lng double",
    ).withColumn("cell_id", s2_cell_from_latlng("lat", "lng"))
    facts = valid.unionByName(
        bad.withColumn("image_id", F.col("image_id").cast(valid.schema["image_id"].dataType))
    )
    probes = _probes(images).limit(30)
    tmp = tempfile.mkdtemp(prefix="s2sknn_n_")
    try:
        out = _run_stream(spark, facts, probes, tmp, n_files=2)
        got = sorted(
            (int(r["query_id"]), int(r["rank"]), int(r["image_id"]))
            for r in out.collect()
        )
        want = sorted(
            (int(r["query_id"]), int(r["rank"]), int(r["image_id"]))
            for r in knn_join_df(valid, probes, 3).collect()
        )
        assert got == want
        assert len(got) == 3 * probes.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
