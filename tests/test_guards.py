"""Guard-rail tests for the round-6 ADVICE items: clear failures
instead of silent corruption / opaque SQL parse errors."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_hyperplane_nonfinite_rejected():
    from rust_s2_spark.operators.similarity import _hyperplane_bucket_expr

    planes = np.zeros((2, 4))
    planes[1, 2] = np.nan
    with pytest.raises(ValueError, match="non-finite"):
        _hyperplane_bucket_expr("embedding", planes)


def test_ivf_centroid_nonfinite_rejected():
    from rust_s2_spark.operators.similarity import _ivf_cos_array

    cent = np.ones((3, 4))
    cent[0, 0] = np.inf
    with pytest.raises(ValueError, match="non-finite"):
        _ivf_cos_array("embedding", cent)


def test_pq_centroid_nonfinite_rejected():
    from rust_s2_spark.operators.similarity import _sub_dist2_expr

    with pytest.raises(ValueError, match="non-finite"):
        _sub_dist2_expr("embedding", 0, 2, [1.0, float("nan")])


def test_substring_join_min_matches_guard(spark):
    from rust_s2_spark.operators.dedup import substring_containment_join

    docs = spark.createDataFrame([(1, "abcdefghijklmnop")], "doc_id long, text string")
    snips = spark.createDataFrame([(1, "cdefghijk")], "snip_id long, text string")
    with pytest.raises(ValueError, match="guaranteed-recall"):
        substring_containment_join(docs, snips, min_matches=2)
    # explicit opt-in builds a plan without raising
    out = substring_containment_join(
        docs, snips, min_matches=2, allow_lossy_min_matches=True
    )
    assert set(out.columns) == {"snip_id", "doc_id"}


def test_replicate_orders_keyspace_guard(spark):
    from rust_s2_spark.sources.images import _replicate_orders

    small = spark.range(1, 100).select(F.col("id").alias("o_orderkey"))
    assert _replicate_orders(small, 3).count() == 99 * 3
    big = spark.createDataFrame([(10_000_000,)], "o_orderkey long")
    with pytest.raises(ValueError, match="collide"):
        _replicate_orders(big, 2)


def test_heavy_hitters_exact_planted(spark):
    """Planted Zipf-ish corpus: exact results at the threshold edge
    (>= T kept, T-1 dropped), and the returned plan is map-filter +
    ONE aggregation — no join anywhere (the CM lookup is a literal
    expression, not a counters join)."""
    from pyspark.sql import functions as F

    from rust_s2_spark.operators.sketches import heavy_hitters

    rows = []
    for key, n in (("a", 12), ("b", 5), ("c", 4), ("d", 1), ("e", 5)):
        rows += [(key,)] * n
    df = spark.createDataFrame(rows, "k string").repartition(4)
    out = {r.key: r.n for r in heavy_hitters(df, "k", 5, d=3, w=16).collect()}
    assert out == {"a": 12, "b": 5, "e": 5}
    plan = heavy_hitters(df, "k", 5, d=3, w=16)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


# Operators pick their physical regime from a size they measure, or a
# module constant, and their covering from a module coverer: none of
# these parameters may come back as a caller-set knob.
_REMOVED_SETTINGS = [
    ("operators.covering_join", "covering_ranges", "coverer"),
    ("operators.covering_join", "region_filter", "coverer"),
    ("operators.covering_join", "region_join", "coverer"),
    ("operators.covering_join", "region_anti_filter", "coverer"),
    ("operators.covering_join", "region_anti_join", "coverer"),
    ("operators.pip", "pip_filter", "coverer"),
    ("operators.pip", "pip_filter", "indexed"),
    ("operators.sketches", "heavy_hitters", "mode"),
    ("operators.similarity", "ivf_assign", "native"),
    ("operators.similarity", "ivf_probe", "native"),
    ("operators.dedup", "minhash_lsh_pairs", "materialize_sigs"),
    ("operators.dedup", "connected_components", "driver_max_edges"),
    ("sources.images", "write_images_table", "two_phase"),
    ("operators.multimodal", "audio_landmark_match", "broadcast_queries"),
    ("operators.polyline", "polyline_crossing_join", "level_offset"),
]


def test_removed_settings_stay_removed():
    import importlib
    import inspect

    assert len(_REMOVED_SETTINGS) == 15
    back = []
    for mod, fn, param in _REMOVED_SETTINGS:
        f = getattr(importlib.import_module(f"rust_s2_spark.{mod}"), fn)
        if param in inspect.signature(f).parameters:
            back.append(f"{mod}.{fn}({param}=)")
    assert not back, back


def test_histogram_quantiles_planted(spark):
    """Planted distribution with known exact quantile bins, including
    the threshold edge: 100 values 0..99 (one per unit bin) — p25 bin
    is 24 (ceil(0.25*100)=25th value), p50 bin 49, p99 bin 98; and a
    skewed group where one bin holds the mass."""
    from rust_s2_spark.operators.sketches import histogram_quantiles

    rows = [("u", float(i)) for i in range(100)]
    rows += [("s", 7.0)] * 97 + [("s", 93.0)] * 3
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        (r.g, r.q_bp): (r.bin_idx, r.n)
        for r in histogram_quantiles(
            df, "v", ["g"], n_bins=100, lo=0.0, hi=100.0,
            quantiles_bp=(2500, 5000, 9900),
        ).collect()
    }
    assert out[("u", 2500)] == (24, 100)
    assert out[("u", 5000)] == (49, 100)
    assert out[("u", 9900)] == (98, 100)
    # skewed: p25/p50 land in the mass bin, p99 in the tail bin
    assert out[("s", 2500)] == (7, 100)
    assert out[("s", 5000)] == (7, 100)
    assert out[("s", 9900)] == (93, 100)


def test_histogram_quantiles_log2_planted(spark):
    """Bit-length binning over a domain spanning six decades — no
    caller-known [lo, hi): bin(v) = bit_length(v), so the planted
    quantiles land in exactly-known exponential bins; zeros take bin 0
    and negatives are filtered (documented unsupported)."""
    from rust_s2_spark.operators.sketches import histogram_quantiles_log2

    # 40 small (7 -> bin 3), 40 medium (1000 -> bin 10),
    # 19 large (10^6 -> bin 20), 1 huge (10^12 -> bin 40)
    rows = [(7,)] * 40 + [(1000,)] * 40 + [(10**6,)] * 19 + [(10**12,)]
    rows += [(-5,)] * 10  # filtered out, must not shift ranks
    df = spark.createDataFrame(rows, "v long")
    out = {
        r.q_bp: (r.bin_idx, r.n)
        for r in histogram_quantiles_log2(
            df, "v", quantiles_bp=(2500, 5000, 7500, 9900, 10000)
        ).collect()
    }
    assert out[2500] == (3, 100)
    assert out[5000] == (10, 100)   # rank 50 is in the medium block
    assert out[7500] == (10, 100)
    assert out[9900] == (20, 100)
    assert out[10000] == (40, 100)  # the max lives in bin 40
    # zero handling: bin 0
    z = histogram_quantiles_log2(
        spark.createDataFrame([(0,)] * 4, "v long"), "v", quantiles_bp=(5000,)
    ).collect()
    assert (z[0].bin_idx, z[0].n) == (0, 4)
