"""Round-10: the small-input union-find fast path of
connected_components must be row-for-row identical to the distributed
large-star/small-star rounds — same (v, component=min member id)
labeling on random graphs, chains, cliques, and self-pair inputs."""

from __future__ import annotations

import random

from rust_s2_spark.operators import dedup
from rust_s2_spark.operators.dedup import connected_components


def _labels(df):
    return {(r.v, r.component) for r in df.collect()}


def _labels_at_bound(df, monkeypatch, bound):
    """Labels with the driver union-find bound patched to ``bound``
    (0 forces the distributed star rounds on any non-empty graph)."""
    with monkeypatch.context() as m:
        m.setattr(dedup, "_DRIVER_MAX_EDGES", bound)
        return _labels(connected_components(df))


def test_fast_path_matches_distributed_random_graphs(spark, monkeypatch):
    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(5, 120)
        ids = rng.sample(range(10**9), n)
        m = rng.randint(1, 3 * n)
        pairs = [
            (ids[rng.randrange(n)], ids[rng.randrange(n)]) for _ in range(m)
        ]
        df = spark.createDataFrame(pairs, "a long, b long")
        fast = _labels(connected_components(df))
        dist = _labels_at_bound(df, monkeypatch, 0)
        assert fast == dist, f"trial {trial}: fast path diverged"


def test_fast_path_matches_distributed_chain_and_clique(spark, monkeypatch):
    rng = random.Random(7)
    ids = list(range(500))
    rng.shuffle(ids)
    rows = [(ids[i], ids[i + 1]) for i in range(499)]
    rows += [(1000 + a, 1000 + b) for a in range(8) for b in range(a)]
    rows += [(5000, 5000)]  # self-pair: dropped by both paths
    df = spark.createDataFrame(rows, "a long, b long")
    fast = _labels(connected_components(df))
    dist = _labels_at_bound(df, monkeypatch, 0)
    assert fast == dist
    assert (5000, 5000) not in fast  # self-pair-only vertex stays out


def test_fast_path_threshold_boundary(spark, monkeypatch):
    """At or below the bound → fast path; a bound of 0 always
    distributed. Both must agree on the tiny input either way."""
    df = spark.createDataFrame([(3, 1), (1, 2)], "a long, b long")
    want = {(1, 1), (2, 1), (3, 1)}
    assert _labels_at_bound(df, monkeypatch, 2) == want
    assert _labels_at_bound(df, monkeypatch, 0) == want
