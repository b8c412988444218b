"""Skew handling: hot-cell detection, salted repartition, adaptive split."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_s2_spark.functions import s2_parent
from rust_s2_spark.geometry import Cap, RegionCoverer
from rust_s2_spark.kernels import cellid as k
from rust_s2_spark.plans.skew import adaptive_split, hot_cells, salted_repartition
from rust_s2_spark.sources import images_from_orders


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    df = images_from_orders(spark, sf_dir, with_bytes=False).cache()
    df.count()
    return df


def test_hot_cells_finds_cities(images):
    n = images.count()
    hot = hot_cells(images, level=5, threshold=n // 20)
    # 30% of rows sit in 3 city hotspots → 3-ish hot level-5 cells
    assert 1 <= len(hot) <= 6
    assert sum(hot.values()) >= 0.25 * n


def test_salted_repartition_balances(images, spark):
    n = images.count()
    out = salted_repartition(images, level=5, threshold=n // 20, n_partitions=16)
    sizes = out.groupBy(F.spark_partition_id().alias("p")).count().collect()
    counts = sorted(r["count"] for r in sizes)
    # without salting a city cell (~10% of rows each) pins one partition;
    # with salting the max partition stays well under 2x the mean
    assert max(counts) < 2.0 * (n / len(counts))


def test_auto_salting_beats_fixed_and_preserves_rows(images):
    """AUTO (size-proportional) mode: max/ideal must beat the fixed-k
    plateau (a hot cell's count/k chunks keep colliding however large
    k is) and land near balanced; rows unchanged."""
    n = images.count()
    P = 16
    fixed = salted_repartition(
        images, level=5, threshold=n // 20, n_partitions=P, n_salt=8
    )
    auto = salted_repartition(images, level=5, threshold=0, n_partitions=P)

    def mx(df):
        return max(
            r["count"]
            for r in df.groupBy(F.spark_partition_id().alias("p")).count().collect()
        )

    ideal = n / P
    assert mx(auto) / ideal <= 1.35, f"auto balance {mx(auto) / ideal:.2f}"
    assert mx(auto) <= mx(fixed)
    chk = F.sum(F.col("image_id").cast("long") % F.lit(1000003))
    assert auto.agg(chk).first()[0] == images.agg(chk).first()[0]
    assert auto.count() == n


def test_auto_salting_injected_counts_zero_scan(images, spark):
    """hot dict + n_rows → the repartition plan touches the fact frame
    only for the shuffle itself; identical placement to self-detected
    (same target, same spread table → same salt expression)."""
    from rust_s2_spark.plans.skew import hot_cells

    n = images.count()
    P = 16
    counts = hot_cells(images, 5, 0)
    facts = images.select("*")
    cls = type(facts)
    orig = cls.groupBy
    calls: list = []

    def spy(self, *a, **kw):
        if self is facts:
            calls.append(a)
        return orig(self, *a, **kw)

    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(cls, "groupBy", spy)
        self_detected = salted_repartition(
            facts, level=5, threshold=0, n_partitions=P
        )
        assert len(calls) == 1
        calls.clear()
        injected = salted_repartition(
            facts, level=5, threshold=0, n_partitions=P, hot=counts, n_rows=n
        )
        assert calls == []
    finally:
        mp.undo()

    def sizes(df):
        return sorted(
            r["count"]
            for r in df.groupBy(F.spark_partition_id().alias("p")).count().collect()
        )

    assert sizes(injected) == sizes(self_detected)


def test_salted_beats_unsalted_tail_and_preserves_rows(images):
    """The planted-city tail: partitioning by the raw parent pins each
    city cell (~8-10% of rows) to one partition; the salted layout must
    strictly shrink the max partition AND change no row content (the
    result-invariance the skew_salted driver query gates end to end)."""
    n = images.count()
    parent = s2_parent("cell_id", 5)
    unsalted = images.repartition(16, parent)
    mx_un = max(
        r["count"]
        for r in unsalted.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    salted = salted_repartition(images, level=5, threshold=n // 20, n_partitions=16)
    mx_s = max(
        r["count"]
        for r in salted.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    # a city is ~8% of rows → the unsalted max partition carries at
    # least one whole city plus whatever cold cells hash with it
    assert mx_un >= 0.08 * n
    assert mx_s < mx_un
    # row multiset unchanged: same count and same key checksum
    chk = F.sum(F.col("image_id").cast("long") % F.lit(1000003))
    assert salted.agg(chk).first()[0] == images.agg(chk).first()[0]
    assert salted.count() == n


def test_adaptive_split_bounds_work_units(images):
    cap = Cap.from_latlng_degrees(40.7128, -74.0060, 5.0)
    rc = RegionCoverer(min_level=0, max_level=30, level_mod=1, max_cells=12)
    cov = rc.covering(cap)
    threshold = 200
    split = adaptive_split(images, cov.ids, threshold)
    assert len(split) >= len(cov)
    # every split cell now holds <= threshold rows (or is at max level)
    lo = k.bias_u64(k.range_min(split))
    hi = k.bias_u64(k.range_max(split))
    spark = images.sparkSession
    ranges = spark.createDataFrame(
        [(int(c), int(a), int(b)) for c, a, b in zip(split.view(np.int64), lo, hi)],
        "cell long, lo long, hi long",
    )
    counts = (
        images.join(
            F.broadcast(ranges),
            (F.col("cell_id_biased") >= F.col("lo"))
            & (F.col("cell_id_biased") <= F.col("hi")),
        )
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert all(r["n"] <= threshold for r in counts)
    # and the split still covers everything the original covering did
    total_orig = images.where(
        F.col("cell_id_biased").between(
            int(k.bias_u64(k.range_min(cov.ids)).min()),
            int(k.bias_u64(k.range_max(cov.ids)).max()),
        )
    ).count()
    assert sum(r["n"] for r in counts) >= 0.95 * 0  # split covers same id space
    covered = sum(r["n"] for r in counts)
    # original covering row count
    lo0 = k.bias_u64(k.range_min(cov.ids))
    hi0 = k.bias_u64(k.range_max(cov.ids))
    r0 = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(lo0, hi0)], "lo long, hi long"
    )
    orig = (
        images.join(
            F.broadcast(r0),
            (F.col("cell_id_biased") >= F.col("lo"))
            & (F.col("cell_id_biased") <= F.col("hi")),
        ).count()
    )
    assert covered == orig


def test_lsh_bucket_cap_kills_degenerate_bucket(spark):
    """A boilerplate-heavy corpus (thousands of identical docs) must not
    produce a quadratic LSH bucket: with max_bucket set, the degenerate
    bucket is dropped (those docs are an exact-dedup cluster, not
    pairwise-LSH work) while distinct near-dup pairs still come through."""
    from rust_s2_spark.operators.dedup import exact_dedup, minhash_lsh_pairs

    n_same = 2000
    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(n_same)]
    rows += [(100000, "a genuinely unique document about spherical geometry"),
             (100001, "a genuinely unique document about spherical geometry!")]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    pairs = minhash_lsh_pairs(df, "text", "doc_id", n=5, bands=4, max_bucket=100)
    got = {(r.a, r.b) for r in pairs.collect()}
    # no pair from the degenerate cluster (dropped by the cap) …
    assert all(a >= 100000 for a, _ in got), got
    # … but the legit near-dup pair survives
    assert (100000, 100001) in got
    # the cluster itself is still recoverable via exact dedup
    dups = exact_dedup(df, "text", "doc_id")
    assert dups.where(F.col("dup_count") == n_same).count() == 1


def test_package_zips_for_py_files(tmp_path):
    """The spark-submit --py-files contract: the package must be
    importable from a plain zip (zipimport — exactly how executors load
    --py-files). Build the zip, import it in a CLEAN subprocess with
    only the zip on sys.path, and compute a known cell token."""
    import pathlib
    import subprocess
    import sys
    import zipfile

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "rust_s2_spark"
    zpath = tmp_path / "s2spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in pkg.rglob("*.py"):
            z.write(f, f.relative_to(root))
    script = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "import numpy as np\n"
        "from rust_s2_spark.kernels import cellid as k\n"
        "ids = k.cell_from_latlng(np.array([40.7128]), np.array([-74.0060]))\n"
        "tok = k.to_token(ids)[0]\n"
        "assert k.from_token(np.array([tok]))[0] == ids[0]\n"
        "print(tok)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script, str(zpath)],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # NOT the repo root — the zip must be the source
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert len(out.stdout.strip()) >= 8  # a real token came back


def test_null_cells_are_never_hot(spark):
    """Rows with a NULL or NaN coordinate get a NULL cell id from
    ``s2_cell_from_latlng``; their NULL parent group, here the largest,
    is no hot cell for ``hot_cells``, ``hot_cells_from_stats`` or the
    auto salting, which keeps every row."""
    from rust_s2_spark.functions import s2_cell_from_latlng
    from rust_s2_spark.plans.stats import build_cell_stats, hot_cells_from_stats

    nan = float("nan")
    rows = [(i, 10.0 + i * 1e-4, 20.0) for i in range(50)]
    rows += [(100 + i, nan if i % 2 else None, 5.0) for i in range(80)]
    df = spark.createDataFrame(rows, "image_id long, lat double, lng double").withColumn(
        "cell_id", s2_cell_from_latlng("lat", "lng")
    )
    hot = hot_cells(df, level=5, threshold=10)
    assert list(hot.values()) == [50]
    stats = build_cell_stats(df, levels=(5,))
    assert hot_cells_from_stats(stats, 5, 10) == {int(c): v for c, v in hot.items()}
    out = salted_repartition(df, level=5, threshold=0, n_partitions=4)
    assert out.count() == len(rows)
