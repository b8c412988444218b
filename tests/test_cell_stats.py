"""Precomputed cell-density statistics (plans.stats): one-scan
multi-level build, write-time persistence next to the lineage table,
and the injection contract — stats-fed operators return bit-identical
results while performing ZERO aggregation over the fact table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_s2_spark.functions import s2_parent
from rust_s2_spark.operators.knn import knn_join_df
from rust_s2_spark.plans.skew import hot_cells
from rust_s2_spark.plans.stats import (
    build_cell_stats,
    hot_cells_from_stats,
    read_cell_stats,
    write_cell_stats,
)
from rust_s2_spark.sources import images_from_orders


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    return images_from_orders(spark, sf_dir, with_bytes=False)


def test_build_matches_per_level_groupby(spark, images):
    stats = build_cell_stats(images, levels=(4, 7)).toPandas()
    for lvl in (4, 7):
        want = {
            int(r["p"]): int(r["n"])
            for r in images.groupBy(s2_parent("cell_id", lvl).alias("p"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        got = {
            int(r.cell): int(r.n)
            for _, r in stats[stats.level == lvl].iterrows()
        }
        assert got == want, f"level {lvl}"


def test_build_rejects_bad_levels(images):
    with pytest.raises(ValueError):
        build_cell_stats(images, levels=())
    with pytest.raises(ValueError):
        build_cell_stats(images, levels=(31,))


def test_hot_cells_from_stats_matches_scan(images):
    stats = build_cell_stats(images, levels=(7,))
    n = images.count()
    thresh = max(1, n // 50)
    assert hot_cells_from_stats(stats, 7, thresh) == hot_cells(
        images, 7, thresh
    )
    # stats built at the wrong level must refuse, not silently disable
    with pytest.raises(ValueError):
        hot_cells_from_stats(build_cell_stats(images, levels=(5,)), 7, thresh)


def _knn_sorted(df):
    return (
        df.toPandas()[["query_id", "rank", "image_id", "dist_chord2"]]
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def test_knn_stats_injection_bit_equal_and_scan_free(spark, images, monkeypatch):
    """knn_join_df(stats=...) == knn_join_df() bit-for-bit, AND the
    injected path performs NO aggregation over the fact table — pinned
    structurally by spying on DataFrame.groupBy with the fact frame's
    identity (the only stats scan in the operator is df.groupBy)."""
    iid = F.col("image_id").cast("long")
    probes = images.where(iid % 101 == 0).select(
        iid.alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lng").alias("qlng"),
    )
    facts = images.select("*")  # distinct object identity for the spy
    stats = build_cell_stats(facts, levels=(7,)).localCheckpoint(eager=True)

    calls: list = []
    cls = type(facts)  # the concrete class (pyspark.sql.classic in Spark 4)
    orig = cls.groupBy

    def spy(self, *a, **kw):
        if self is facts:
            calls.append(a)
        return orig(self, *a, **kw)

    monkeypatch.setattr(cls, "groupBy", spy)
    base = _knn_sorted(knn_join_df(facts, probes, 3))
    assert len(calls) == 1, "self-computed path must aggregate the facts once"
    calls.clear()
    injected = _knn_sorted(knn_join_df(facts, probes, 3, stats=stats))
    assert calls == [], "injected path must NOT aggregate the fact table"
    assert injected.equals(base)


def test_knn_rejects_stats_at_wrong_level(spark, images):
    iid = F.col("image_id").cast("long")
    probes = images.where(iid % 101 == 0).select(
        iid.alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lng").alias("qlng"),
    )
    bad = build_cell_stats(images, levels=(4,))
    with pytest.raises(ValueError, match="level=7"):
        knn_join_df(images, probes, 3, stats=bad)


def test_write_read_roundtrip_and_lineage_hook(spark, images, tmp_path):
    base = str(tmp_path / "tbl")
    write_cell_stats(images, base, levels=(3, 7))
    got = read_cell_stats(spark, base)
    want = build_cell_stats(images, levels=(3, 7))
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    # write_with_lineage(stats_levels=...) maintains the stats next to
    # the lineage table and they describe the FULL written table
    from rust_s2_spark.plans.lineage import read_output, write_with_lineage

    base2 = str(tmp_path / "tbl2")
    write_with_lineage(spark, images, base2, "s", bucket_level=2,
                       stats_levels=(7,))
    out = read_output(spark, base2)
    got2 = read_cell_stats(spark, base2)
    want2 = build_cell_stats(out, levels=(7,))
    assert {tuple(r) for r in got2.collect()} == {
        tuple(r) for r in want2.collect()
    }


def test_streaming_cell_stats_multibatch_equals_batch(spark, images, tmp_path):
    """streaming_cell_stats over a multi-file (multi-micro-batch)
    stream: the complete-mode snapshot equals the one-shot batch build
    — the incremental state merge is exact, not approximate."""
    from rust_s2_spark.streaming import streaming_cell_stats

    src = images.select("cell_id")
    src.repartition(3).write.mode("overwrite").parquet(str(tmp_path / "in"))
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in"))
    )
    q = (
        streaming_cell_stats(stream, levels=(5, 7))
        .writeStream.format("memory")
        .queryName("scs_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = sorted(
        map(tuple, spark.sql("SELECT level, cell, n FROM scs_test").collect())
    )
    want = sorted(
        map(tuple, build_cell_stats(src, levels=(5, 7)).collect())
    )
    assert got == want and len(got) > 0


def test_knn_stale_stats_only_affect_performance(spark, images):
    """The docstring contract: start levels derived from stats are pure
    performance — STALE stats (built on a different/older snapshot of
    the table) must leave results bit-identical, only slower/faster."""
    iid = F.col("image_id").cast("long")
    probes = images.where(iid % 101 == 0).select(
        iid.alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lng").alias("qlng"),
    )
    base = _knn_sorted(knn_join_df(images, probes, 3))
    # stale regimes: stats over half the table (under-counts), stats
    # over a 5x replica (over-counts) — both mis-seed the start level
    half = build_cell_stats(
        images.where(iid % 2 == 0), levels=(7,)
    ).localCheckpoint(eager=True)
    over = build_cell_stats(images, levels=(7,)).withColumn(
        "n", F.col("n") * 5
    ).localCheckpoint(eager=True)
    for stale in (half, over):
        got = _knn_sorted(knn_join_df(images, probes, 3, stats=stale))
        assert got.equals(base)


def test_hot_cells_filter_runs_before_collect(spark, images, monkeypatch):
    """The ``n > threshold`` filter must execute INSIDE the query, not
    driver-side: the collect that feeds the hot dict may only ever see
    the hot rows themselves (bounded by the skew, not by 6·4^L)."""
    stats = build_cell_stats(images, levels=(7,)).localCheckpoint(eager=True)
    n = images.count()
    thresh = max(1, n // 50)
    level_rows = stats.where(F.col("level") == 7).count()

    seen: list[int] = []
    cls = type(stats)
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        seen.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    hot = hot_cells_from_stats(stats, 7, thresh)
    assert hot  # sf fixtures always have hot city cells at this threshold
    assert seen and max(seen) == len(hot) < level_rows


def test_knn_n_rows_guard(spark, images):
    """stats= + n_rows= corpus-match guard: a ≥2x mismatch raises, a
    matching count passes with bit-identical results (the round-8 bench
    footgun — full-table stats on a 1/3 corpus — now fails fast)."""
    from rust_s2_spark.plans.stats import stats_row_count

    iid = F.col("image_id").cast("long")
    corpus = images.where(iid % 3 == 0)
    probes = corpus.where(iid % 101 == 0).select(
        iid.alias("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lng").alias("qlng"),
    )
    n_corpus = corpus.count()
    full_stats = build_cell_stats(images, levels=(7,)).localCheckpoint(
        eager=True
    )
    corpus_stats = build_cell_stats(corpus, levels=(7,)).localCheckpoint(
        eager=True
    )
    assert stats_row_count(corpus_stats, 7) == n_corpus

    # wrong corpus (3x over-count) + known row count → raise
    with pytest.raises(ValueError, match="wrong corpus"):
        knn_join_df(corpus, probes, 3, stats=full_stats, n_rows=n_corpus)

    # moderate drift (>25%, <2x) → warn, not raise
    drift = corpus_stats.withColumn(
        "n", (F.col("n") * 3 + 1) / 2  # 1.5x
    ).localCheckpoint(eager=True)
    with pytest.warns(UserWarning, match="stale stats"):
        knn_join_df(corpus, probes, 3, stats=drift, n_rows=n_corpus).count()

    # matching stats + n_rows → silent, bit-identical to the unguarded run
    base = _knn_sorted(knn_join_df(corpus, probes, 3))
    got = _knn_sorted(
        knn_join_df(corpus, probes, 3, stats=corpus_stats, n_rows=n_corpus)
    )
    assert got.equals(base)
