"""mutual_knn_pairs: the symmetric kNN graph.

Pins (1) a hand-computable asymmetric chain where one-directional kNN
edges exist that mutual-kNN must reject, (2) brute-force parity on a
seeded random corpus including co-located ties, (3) k >= n-1 degrades
to the complete graph.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from rust_s2_spark.functions import s2_cell_from_latlng
from rust_s2_spark.operators.knn import mutual_knn_pairs


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "image_id long, lat double, lng double"
    ).withColumn("cell_id", s2_cell_from_latlng("lat", "lng"))


def _brute_mutual(rows, kk):
    """Mutual-kNN over unit vectors: chord² + (d2, id) tie-break —
    independent python re-implementation."""
    pts = {}
    for i, lat, lng in rows:
        la, ln = math.radians(lat), math.radians(lng)
        pts[i] = (
            math.cos(ln) * math.cos(la),
            math.sin(ln) * math.cos(la),
            math.sin(la),
        )
    nn = {}
    for i, p in pts.items():
        cand = []
        for j, q in pts.items():
            if j == i:
                continue
            d2 = sum((a - b) ** 2 for a, b in zip(p, q))
            cand.append((d2, j))
        cand.sort()
        nn[i] = {j for _, j in cand[:kk]}
    return sorted(
        (a, b)
        for a in pts
        for b in nn[a]
        if a < b and a in nn[b]
    )


def test_rejects_one_directional_edges(spark):
    # a line with one big gap: 0°, 1°, then a triple at 2.5/2.6/2.72
    # (asymmetric spacing — no float ties). k=1: A↔B mutual; C↔D mutual
    # (0.1° both ways); E→D is one-directional (D's 1-NN is C at 0.1°,
    # not E at 0.12°) and must be rejected.
    rows = [
        (1, 0.0, 0.0),
        (2, 0.0, 1.0),
        (3, 0.0, 2.5),
        (4, 0.0, 2.6),
        (5, 0.0, 2.72),
    ]
    got = sorted(
        (int(r["a"]), int(r["b"]))
        for r in mutual_knn_pairs(_df(spark, rows), 1).collect()
    )
    assert got == [(1, 2), (3, 4)], got
    assert got == _brute_mutual(rows, 1)


def test_matches_brute_force_seeded(spark):
    rng = random.Random(8)
    rows = [
        (i, rng.uniform(-80, 80), rng.uniform(-179, 179)) for i in range(60)
    ]
    # two co-located pairs: tie-break determinism under duplicates
    rows += [(100, rows[3][1], rows[3][2]), (101, rows[7][1], rows[7][2])]
    df = _df(spark, rows)
    for kk in (1, 3):
        got = sorted(
            (int(r["a"]), int(r["b"]))
            for r in mutual_knn_pairs(df, kk).collect()
        )
        assert got == _brute_mutual(rows, kk), f"k={kk}"


def test_complete_graph_when_k_covers_all(spark):
    rows = [(i, 0.0, float(i)) for i in range(5)]
    got = sorted(
        (int(r["a"]), int(r["b"]))
        for r in mutual_knn_pairs(_df(spark, rows), 4).collect()
    )
    assert got == [(a, b) for a in range(5) for b in range(a + 1, 5)]
