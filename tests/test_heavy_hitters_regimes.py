"""Heavy-hitter regime parity: the literal-array lookup (d*w <= 2048)
and the threshold-pruned broadcast-semi-join regime (unbounded width)
must produce identical exact results, and the join regime's plan must
stay shuffle-free before the candidate groupBy (the property that makes
it viable at 100 TB)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_s2_spark.operators.sketches import HH_LITERAL_BUDGET, heavy_hitters


@pytest.fixture(scope="module")
def keyed(spark):
    # Zipf-ish planted counts: key k appears 120 - 2k times (k=0..49),
    # threshold 60 keeps exactly keys 0..30
    rows = [(f"k{k}",) for k in range(50) for _ in range(120 - 2 * k)]
    return spark.createDataFrame(rows, "key string").repartition(8).cache()


def _exhaustive(df, t):
    return {
        (r["key"], r["n"])
        for r in df.groupBy("key")
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.col("n") >= t)
        .collect()
    }


@pytest.mark.parametrize("w", [64, 512])
def test_literal_vs_join_identical(keyed, w):
    """Both regimes forced at the SAME sketch geometry (straddling the
    budget at w=512: d*w = 2048 is the last literal width) — result
    sets must be identical and exact."""
    t = 60
    want = _exhaustive(keyed, t)
    lit = {
        (r["key"], r["n"])
        for r in heavy_hitters(keyed, "key", t, d=4, w=w, mode="literal").collect()
    }
    jn = {
        (r["key"], r["n"])
        for r in heavy_hitters(keyed, "key", t, d=4, w=w, mode="join").collect()
    }
    assert lit == want
    assert jn == want


def test_auto_routes_by_budget(keyed):
    t = 60
    want = _exhaustive(keyed, t)
    # auto at w=4096 must take the join path (literal would raise)
    wide = heavy_hitters(keyed, "key", t, d=4, w=4096, mode="auto")
    got = {(r["key"], r["n"]) for r in wide.collect()}
    assert got == want
    with pytest.raises(ValueError, match="literal budget"):
        heavy_hitters(keyed, "key", t, d=4, w=4096, mode="literal")
    assert 4 * 512 == HH_LITERAL_BUDGET


def test_join_regime_plan_is_mapside_before_groupby(keyed):
    """d broadcast LeftSemi joins, and the ONLY exchange in the plan is
    the candidate groupBy's — no shuffle of input rows into the filter
    (the counters job is severed behind localCheckpoint)."""
    d = 4
    out = heavy_hitters(keyed, "key", 60, d=d, w=4096, mode="join")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") == d, plan
    assert plan.count("BroadcastHashJoin") == d, plan
    # the only shuffle is the candidate groupBy (the fixture's own
    # round-robin repartition is input prep, not the operator's)
    assert plan.count("Exchange hashpartitioning") == 1, plan


@pytest.mark.parametrize("mode", ["literal", "join"])
def test_non_injective_cast_keeps_true_heavy_hitter(spark, mode):
    """The result key is CAST(value AS STRING), and that cast is not
    injective: the arrays ["a, b"] and ["a", "b"] both print as
    "[a, b]". With 40 rows of each, the key "[a, b]" has 80 rows and
    passes the threshold of 60. The Count-Min filter must bucket on
    the same string as the exact verify; bucketing the raw arrays
    splits the key's rows into two counters of 40 and drops it."""
    rows = [(["a, b"],)] * 40 + [(["a", "b"],)] * 40 + [(["c"],)] * 10
    df = spark.createDataFrame(rows, "v array<string>")
    got = {
        (r["key"], r["n"])
        for r in heavy_hitters(df, "v", 60, d=4, w=64, mode=mode).collect()
    }
    assert got == {("[a, b]", 80)}


@pytest.mark.parametrize("dtype,vals", [("bigint", [1, 2]), ("string", ["1", "2"])])
def test_injective_key_buckets_raw_column(spark, dtype, vals):
    """Where CAST(value AS STRING) is injective the filter hashes the
    raw column: the per-row cast to string would only add map cost."""
    df = spark.createDataFrame([(vals[0],), (vals[1],), (vals[1],)], f"v {dtype}")
    out = heavy_hitters(df, "v", 2, d=4, w=64, mode="literal")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64(0, v#" in plan, plan
    assert {(r["key"], r["n"]) for r in out.collect()} == {("2", 2)}
