"""Seeded input generator: the only source of the benchmark's inputs.

Everything a workload hands to the package is derived here from the
workload seed: the image key shift (which fixes every row of the
generated images table), query centres, radii, polygons, polylines,
probe subsets and the document corpus with its per-call subsets. The
same seed gives the same inputs, and ``digest`` summarises them.

Radii are fixed-selectivity: each is placed half way between the k-th
and (k+1)-th nearest distance of the seeded table, so every query
returns about the same number of rows wherever its centre falls, and
no point sits near a boundary where two floating-point evaluations
could disagree.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from rust_s2_spark.sources.images import oracle_images_sql

DEFAULT_SEED = 17

# the three dense hotspots of the images derivation (sources/images.py);
# 30% of rows sit in a 0.4-degree box around one of them
CITIES = [(40.7128, -74.0060), (51.5074, -0.1278), (35.6762, 139.6503)]


class Digest:
    """Running sha256 over every generated input, in generation order."""

    def __init__(self) -> None:
        self._h = hashlib.sha256()

    def add(self, *parts) -> None:
        for p in parts:
            if isinstance(p, np.ndarray):
                self._h.update(np.ascontiguousarray(p).tobytes())
            else:
                self._h.update(repr(p).encode())

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


def key_shift(seed: int) -> int:
    """Start of the seed's image key range (a multiple of 10^6)."""
    return int(np.random.default_rng([seed, 0]).integers(1, 1000)) * 1_000_000


def write_orders(directory: str, keys: np.ndarray) -> str:
    """An ``orders.parquet`` holding only ``o_orderkey`` — the one column
    ``sources.images_from_orders`` reads."""
    os.makedirs(directory, exist_ok=True)
    pq.write_table(
        pa.table({"o_orderkey": keys.astype(np.int64)}),
        os.path.join(directory, "orders.parquet"),
    )
    return directory


def oracle_points(orders_dir: str) -> dict[str, np.ndarray]:
    """(image_id, lat, lng, x, y, z) of the images table built from
    ``orders_dir``, derived in DuckDB from the same integer arithmetic
    as the package (bit-identical lat/lng), independent of Spark."""
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM "
            f"read_parquet('{orders_dir}/orders.parquet')"
        )
        df = con.execute(
            f"SELECT CAST(image_id AS BIGINT) AS id, lat, lng FROM ({oracle_images_sql()}) "
            "ORDER BY id"
        ).df()
    finally:
        con.close()
    lat = df["lat"].to_numpy(np.float64)
    lng = df["lng"].to_numpy(np.float64)
    x, y, z = xyz(lat, lng)
    return {"id": df["id"].to_numpy(np.int64), "lat": lat, "lng": lng,
            "x": x, "y": y, "z": z}


def xyz(lat, lng):
    la, lo = np.radians(lat), np.radians(lng)
    return np.cos(lo) * np.cos(la), np.sin(lo) * np.cos(la), np.sin(la)


def chord2(pts: dict, lat: float, lng: float) -> np.ndarray:
    cx, cy, cz = xyz(np.float64(lat), np.float64(lng))
    return (pts["x"] - cx) ** 2 + (pts["y"] - cy) ** 2 + (pts["z"] - cz) ** 2


def chord2_to_deg(c2: float) -> float:
    return math.degrees(2.0 * math.asin(min(1.0, math.sqrt(c2) / 2.0)))


def deg_to_chord2(deg: float) -> float:
    s = 2.0 * math.sin(0.5 * math.radians(deg))
    return s * s


def midpoint_radius(d2: np.ndarray, k: int) -> float:
    """Radius (degrees) half way between the k-th and (k+1)-th smallest
    chord² — exactly k rows lie inside, none near the boundary."""
    part = np.partition(d2, [k - 1, k])
    return 0.5 * (chord2_to_deg(part[k - 1]) + chord2_to_deg(part[k]))


def city_mask(pts: dict) -> np.ndarray:
    city = np.zeros(len(pts["id"]), dtype=bool)
    for la, lo in CITIES:
        city |= (np.abs(pts["lat"] - la) < 0.25) & (np.abs(pts["lng"] - lo) < 0.25)
    return city


def pick_centres(rng, pts: dict, n: int) -> list[tuple[float, float]]:
    """Half the centres on table rows inside a city hotspot (dense), half
    on rows of the sparse background."""
    city = city_mask(pts)
    dense, sparse = np.flatnonzero(city), np.flatnonzero(~city)
    out = []
    for i in range(n):
        pool = dense if i % 2 == 0 else sparse
        r = int(pool[rng.integers(len(pool))])
        out.append((float(pts["lat"][r]), float(pts["lng"][r])))
    return out


def probe_rows(rng, pts: dict, n: int) -> np.ndarray:
    """Row indices of ``n`` distinct probe points, half dense, half sparse."""
    city = city_mask(pts)
    dense = rng.choice(np.flatnonzero(city), n // 2, replace=False)
    sparse = rng.choice(np.flatnonzero(~city), n - n // 2, replace=False)
    return np.sort(np.concatenate([dense, sparse]))


def destination(lat: float, lng: float, bearing_deg: float, dist_deg: float):
    """Point ``dist_deg`` along the great circle leaving (lat, lng) at
    ``bearing_deg`` (clockwise from north)."""
    la, lo = math.radians(lat), math.radians(lng)
    b, d = math.radians(bearing_deg), math.radians(dist_deg)
    la2 = math.asin(math.sin(la) * math.cos(d) + math.cos(la) * math.sin(d) * math.cos(b))
    lo2 = lo + math.atan2(
        math.sin(b) * math.sin(d) * math.cos(la),
        math.cos(d) - math.sin(la) * math.sin(la2),
    )
    lng2 = (math.degrees(lo2) + 540.0) % 360.0 - 180.0
    return math.degrees(la2), lng2


def hexagon(lat: float, lng: float, radius_deg: float) -> list[tuple[float, float]]:
    """Regular hexagon around a centre, counter-clockwise seen from
    outside the sphere (interior on the left, as S2 loops require)."""
    return [destination(lat, lng, -60.0 * i, radius_deg) for i in range(6)]


def polyline_dist2(pts: dict, verts: list[tuple[float, float]]) -> np.ndarray:
    """Chord² from every point to the nearest point of the geodesic
    polyline through ``verts`` (brute force over all segments)."""
    P = np.stack([pts["x"], pts["y"], pts["z"]], axis=1)
    V = np.array([xyz(la, lo) for la, lo in verts])
    best = np.full(len(P), np.inf)
    for A, B in zip(V[:-1], V[1:]):
        N = np.cross(A, B)
        N /= np.linalg.norm(N)
        s = P @ N
        C = P - np.outer(s, N)
        inside = (C @ np.cross(N, A) >= 0) & (C @ np.cross(B, N) >= 0)
        ang_plane = np.arcsin(np.clip(np.abs(s), 0.0, 1.0))
        ang_a = np.arccos(np.clip(P @ A, -1.0, 1.0))
        ang_b = np.arccos(np.clip(P @ B, -1.0, 1.0))
        ang = np.where(inside, ang_plane, np.minimum(ang_a, ang_b))
        best = np.minimum(best, ang)
    return (2.0 * np.sin(0.5 * best)) ** 2


def in_convex_loop(pts: dict, verts: list[tuple[float, float]]) -> np.ndarray:
    """Inside test for a small convex counter-clockwise loop: left of
    every edge's great circle."""
    P = np.stack([pts["x"], pts["y"], pts["z"]], axis=1)
    V = [np.array(xyz(la, lo)) for la, lo in verts]
    inside = np.ones(len(P), dtype=bool)
    for i in range(len(V)):
        inside &= P @ np.cross(V[i], V[(i + 1) % len(V)]) > 0
    return inside


# --------------------------------------------------------------------------
# documents


# The corpus is shaped like the repository's test corpus
# documents.parquet, as measured on its 5,000-row table: documents of
# 10-99 words drawn uniformly from the same 30-word vocabulary, each word
# about equally often; 5% of documents are an exact copy of another
# document with the marker word "dup" appended. perfbench/README.md
# gives the measured figures next to the generator's.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
WORDS_MIN, WORDS_MAX = 10, 99
DUP_EVERY = 20  # one document in 20 is a near-duplicate


def documents(seed: int, n: int) -> tuple[np.ndarray, list[str]]:
    """``n`` seeded documents with the word counts, vocabulary and
    near-duplicate rate of the test corpus (see ``VOCAB``)."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array(VOCAB)
    texts = [
        " ".join(rng.choice(vocab, int(rng.integers(WORDS_MIN, WORDS_MAX + 1))))
        for _ in range(n)
    ]
    dup = np.zeros(n, dtype=bool)
    dup[rng.choice(n, n // DUP_EVERY, replace=False)] = True
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    return np.arange(n, dtype=np.int64), texts


def shingle_set(text: str, n: int = 5) -> set[str]:
    """Character n-grams exactly as ``operators.dedup.shingles`` takes
    them: positions 1..max(len-n+1, 1), substring of length n."""
    return {text[i:i + n] for i in range(max(len(text) - n + 1, 1))}
