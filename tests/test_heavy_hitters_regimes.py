"""Heavy-hitter regime parity: the literal-array lookup (d*w <= 2048)
and the threshold-pruned broadcast-semi-join regime (unbounded width)
must produce identical exact results, and the join regime's plan must
stay shuffle-free before the candidate groupBy (the property that makes
it viable at 100 TB). The regime is picked by d*w against
``HH_LITERAL_BUDGET``, read at call time, so a test forces a regime by
patching that budget."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_s2_spark.operators import sketches
from rust_s2_spark.operators.sketches import HH_LITERAL_BUDGET, heavy_hitters

# budgets that force each regime at any test geometry
_FORCE = {"literal": 1 << 40, "join": 0}


def _hh(monkeypatch, regime, *args, **kwargs):
    """heavy_hitters with ``regime`` forced through the budget."""
    with monkeypatch.context() as m:
        m.setattr(sketches, "HH_LITERAL_BUDGET", _FORCE[regime])
        return heavy_hitters(*args, **kwargs)


def _has_join(df):
    return "Join" in df._jdf.queryExecution().executedPlan().toString()


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
def test_literal_vs_join_identical(keyed, w, monkeypatch):
    """Both regimes forced at the SAME sketch geometry (straddling the
    budget at w=512: d*w = 2048 is the last literal width) — result
    sets must be identical and exact."""
    t = 60
    want = _exhaustive(keyed, t)
    lit_df = _hh(monkeypatch, "literal", keyed, "key", t, d=4, w=w)
    jn_df = _hh(monkeypatch, "join", keyed, "key", t, d=4, w=w)
    assert not _has_join(lit_df) and _has_join(jn_df)
    lit = {(r["key"], r["n"]) for r in lit_df.collect()}
    jn = {(r["key"], r["n"]) for r in jn_df.collect()}
    assert lit == want
    assert jn == want


def test_auto_routes_by_budget(keyed):
    t = 60
    want = _exhaustive(keyed, t)
    assert 4 * 512 == HH_LITERAL_BUDGET
    # w=4096 is past the budget: the join regime
    wide = heavy_hitters(keyed, "key", t, d=4, w=4096)
    assert _has_join(wide)
    assert {(r["key"], r["n"]) for r in wide.collect()} == want
    # d*w = 2048 is the last literal width: no join
    last = heavy_hitters(keyed, "key", t, d=4, w=512)
    assert not _has_join(last)
    assert {(r["key"], r["n"]) for r in last.collect()} == want


def test_join_regime_plan_is_mapside_before_groupby(keyed):
    """d broadcast LeftSemi joins, and the ONLY exchange in the plan is
    the candidate groupBy's — no shuffle of input rows into the filter
    (the counters job is severed behind localCheckpoint)."""
    d = 4
    out = heavy_hitters(keyed, "key", 60, d=d, w=4096)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") == d, plan
    assert plan.count("BroadcastHashJoin") == d, plan
    # the only shuffle is the candidate groupBy (the fixture's own
    # round-robin repartition is input prep, not the operator's)
    assert plan.count("Exchange hashpartitioning") == 1, plan


@pytest.mark.parametrize("mode", ["literal", "join"])
def test_non_injective_cast_keeps_true_heavy_hitter(spark, mode, monkeypatch):
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
        for r in _hh(monkeypatch, mode, df, "v", 60, d=4, w=64).collect()
    }
    assert got == {("[a, b]", 80)}


@pytest.mark.parametrize("dtype,vals", [("bigint", [1, 2]), ("string", ["1", "2"])])
def test_injective_key_buckets_raw_column(spark, dtype, vals):
    """Where CAST(value AS STRING) is injective the filter hashes the
    raw column: the per-row cast to string would only add map cost."""
    df = spark.createDataFrame([(vals[0],), (vals[1],), (vals[1],)], f"v {dtype}")
    out = heavy_hitters(df, "v", 2, d=4, w=64)  # d*w = 256: literal
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64(0, v#" in plan, plan
    assert {(r["key"], r["n"]) for r in out.collect()} == {("2", 2)}
