"""Scalar 3-vector / angle helpers for the driver-side region code.

Chord-angle math follows the public S2 conventions
(ref /root/reference/src/s1/chordangle.rs, src/s2/point.rs).
Distances are carried as squared chord length in [0, 4].
"""

from __future__ import annotations

import math

Vec = tuple[float, float, float]

RIGHT_CHORD2 = 2.0
STRAIGHT_CHORD2 = 4.0
NEGATIVE_CHORD2 = -1.0
DBL_EPSILON = 2.220446049250313e-16


def dot(a: Vec, b: Vec) -> float:
    return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]


def cross(a: Vec, b: Vec) -> Vec:
    return (
        a[1] * b[2] - a[2] * b[1],
        a[2] * b[0] - a[0] * b[2],
        a[0] * b[1] - a[1] * b[0],
    )


def sub(a: Vec, b: Vec) -> Vec:
    return (a[0] - b[0], a[1] - b[1], a[2] - b[2])


def add(a: Vec, b: Vec) -> Vec:
    return (a[0] + b[0], a[1] + b[1], a[2] + b[2])


def scale(a: Vec, s: float) -> Vec:
    return (a[0] * s, a[1] * s, a[2] * s)


def norm2(a: Vec) -> float:
    return dot(a, a)


def norm(a: Vec) -> float:
    return math.sqrt(norm2(a))


def normalize(a: Vec) -> Vec:
    n = norm(a)
    if n == 0.0:
        return (0.0, 0.0, 0.0)
    return (a[0] / n, a[1] / n, a[2] / n)


def chord2(a: Vec, b: Vec) -> float:
    """Squared chord length between two unit vectors, clamped to [0, 4]."""
    d = sub(a, b)
    return min(4.0, norm2(d))


def angle_to_chord2(rad: float) -> float:
    """Angle (radians) -> squared chord length (ref chordangle.rs:62-75)."""
    if rad < 0.0:
        return NEGATIVE_CHORD2
    if math.isinf(rad):
        return math.inf
    length = 2.0 * math.sin(0.5 * min(rad, math.pi))
    return length * length


def chord2_to_angle(c2: float) -> float:
    """Squared chord length -> angle in radians (ref chordangle.rs:110-120)."""
    if c2 < 0.0:
        return -1.0
    if math.isinf(c2):
        return math.inf
    return 2.0 * math.asin(0.5 * math.sqrt(c2))


def chord2_add(a: float, b: float) -> float:
    """Sum of two chord angles without trig (ref chordangle.rs:112-140)."""
    if b == 0.0:
        return a
    if a + b >= 4.0:
        return STRAIGHT_CHORD2
    x = a * (1.0 - 0.25 * b)
    y = b * (1.0 - 0.25 * a)
    return min(4.0, x + y + 2.0 * math.sqrt(x * y))


def chord2_sub(a: float, b: float) -> float:
    if b == 0.0:
        return a
    if a <= b:
        return 0.0
    x = a * (1.0 - 0.25 * b)
    y = b * (1.0 - 0.25 * a)
    return max(0.0, x + y - 2.0 * math.sqrt(x * y))


def chord2_sin2(c2: float) -> float:
    return c2 * (1.0 - 0.25 * c2)


def latlng_to_xyz(lat_deg: float, lng_deg: float) -> Vec:
    phi = math.radians(lat_deg)
    theta = math.radians(lng_deg)
    cosphi = math.cos(phi)
    return (math.cos(theta) * cosphi, math.sin(theta) * cosphi, math.sin(phi))


def latlng_rad_to_xyz(lat: float, lng: float) -> Vec:
    cosphi = math.cos(lat)
    return (math.cos(lng) * cosphi, math.sin(lng) * cosphi, math.sin(lat))


def xyz_to_latlng_rad(p: Vec) -> tuple[float, float]:
    lat = math.atan2(p[2], math.hypot(p[0], p[1]))
    lng = math.atan2(p[1], p[0])
    return lat, lng


def normalize_latlng_deg(lat: float, lng: float) -> tuple[float, float]:
    """Clamp lat to ±90°, wrap lng via IEEE remainder
    (ref latlng.rs:47-60)."""
    lat = max(-90.0, min(90.0, lat))
    lng = math.degrees(math.remainder(math.radians(lng), 2.0 * math.pi))
    return lat, lng


def latlng_distance_rad(lat1: float, lng1: float, lat2: float, lng2: float) -> float:
    """Haversine distance in radians (ref latlng.rs:62-68), degrees in."""
    p1, t1 = math.radians(lat1), math.radians(lng1)
    p2, t2 = math.radians(lat2), math.radians(lng2)
    dlat = math.sin(0.5 * (p2 - p1))
    dlng = math.sin(0.5 * (t2 - t1))
    x = dlat * dlat + dlng * dlng * math.cos(p1) * math.cos(p2)
    return 2.0 * math.atan2(math.sqrt(x), math.sqrt(max(0.0, 1.0 - x)))


def remainder(x: float, y: float) -> float:
    """IEEE remainder (round-half-even quotient), as Rust f64::rem_euclid is
    NOT — matches the reference's use of remainder() for lng normalization."""
    return math.remainder(x, y)
