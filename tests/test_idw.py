"""idw_interpolate: weighted mean, exact-hit rule, rank-order fold."""

from __future__ import annotations

import math

import pytest

from rust_s2_spark.functions import s2_cell_from_latlng
from rust_s2_spark.operators.knn import idw_interpolate


def _facts(spark, rows):
    return spark.createDataFrame(
        rows, "image_id long, lat double, lng double, val double"
    ).withColumn("cell_id", s2_cell_from_latlng("lat", "lng"))


def _probes(spark, rows):
    return spark.createDataFrame(
        rows, "query_id long, qlat double, qlng double"
    )


def _chord2(lat1, lng1, lat2, lng2):
    def xyz(lat, lng):
        la, ln = math.radians(lat), math.radians(lng)
        return (
            math.cos(ln) * math.cos(la),
            math.sin(ln) * math.cos(la),
            math.sin(la),
        )
    a, b = xyz(lat1, lng1), xyz(lat2, lng2)
    return sum((x - y) ** 2 for x, y in zip(a, b))


def test_weighted_mean_matches_hand_fold(spark):
    facts = [
        (1, 0.0, 0.10, 10.0),
        (2, 0.0, 0.20, 20.0),
        (3, 0.0, 0.40, 40.0),
        (4, 0.0, 5.00, 99.0),  # outside the top-3
    ]
    probes = [(100, 0.0, 0.0)]
    out = idw_interpolate(
        _facts(spark, facts), _probes(spark, probes), 3, "val"
    ).collect()
    assert len(out) == 1 and out[0]["query_id"] == 100
    # hand fold in rank order (ranks 1..3 are facts 1..3)
    num = den = 0.0
    for fid, lat, lng, v in facts[:3]:
        w = 1.0 / _chord2(0.0, 0.0, lat, lng)
        num += w * v
        den += w
    assert out[0]["est"] == pytest.approx(num / den, rel=1e-12)
    # the estimate interpolates: strictly inside the value range,
    # pulled toward the nearest value
    assert 10.0 < out[0]["est"] < 40.0 and out[0]["est"] < 20.0


def test_exact_hit_rule_min_id_wins(spark):
    facts = [
        (7, 10.0, 10.0, 70.0),   # exactly at the probe
        (5, 10.0, 10.0, 50.0),   # co-located — min id wins
        (9, 10.0, 10.2, 90.0),
    ]
    probes = [(1, 10.0, 10.0)]
    out = idw_interpolate(
        _facts(spark, facts), _probes(spark, probes), 3, "val"
    ).collect()
    assert out[0]["est"] == 50.0  # fact 5, not 7, and no inf poisoning


def test_null_valued_facts_excluded(spark):
    # the NULL-valued fact is nearest but cannot contribute a term:
    # the estimate uses the k nearest facts WITH a value
    facts = [
        (1, 0.0, 0.05, None),
        (2, 0.0, 0.10, 10.0),
        (3, 0.0, 0.20, 20.0),
        (4, 0.0, 0.40, 40.0),
    ]
    probes = [(100, 0.0, 0.0)]
    out = idw_interpolate(
        _facts(spark, facts), _probes(spark, probes), 3, "val"
    ).collect()
    num = den = 0.0
    for _fid, lat, lng, v in facts[1:]:
        w = 1.0 / _chord2(0.0, 0.0, lat, lng)
        num += w * v
        den += w
    assert out[0]["est"] == pytest.approx(num / den, rel=1e-12)


def test_exact_hit_string_ids_numeric_order(spark):
    # string id column: '5' vs '10' co-located — numeric order must win
    facts = spark.createDataFrame(
        [("10", 10.0, 10.0, 100.0), ("5", 10.0, 10.0, 50.0),
         ("9", 10.0, 10.2, 90.0)],
        "image_id string, lat double, lng double, val double",
    ).withColumn("cell_id", s2_cell_from_latlng("lat", "lng"))
    probes = _probes(spark, [(1, 10.0, 10.0)])
    out = idw_interpolate(facts, probes, 3, "val").collect()
    assert out[0]["est"] == 50.0  # id 5 (numeric min), not '10' (string min)
