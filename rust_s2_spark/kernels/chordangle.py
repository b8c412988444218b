"""ChordAngle: distances carried as squared chord length in [0, 4].

Vectorized port of the reference's ChordAngle ops
(/root/reference/src/s1/chordangle.rs:45-270): add/sub without trig
(one sqrt), sin/cos/tan straight from the chord, expanded error bounds,
successor/predecessor, angle conversions. These are the forms the SQL
predicates use (chord² comparisons never convert to radians on the hot
path) — this module is the driver-side/numpy twin, used by kNN bounds,
polyline thresholds, and region tests.
"""

from __future__ import annotations

import numpy as np

NEGATIVE = -1.0
RIGHT = 2.0
STRAIGHT = 4.0
MAX_LENGTH2 = 4.0


def from_angle(rad):
    """Angle (radians) → chord² (ref chordangle.rs:62-74)."""
    rad = np.asarray(rad, dtype=np.float64)
    l = 2.0 * np.sin(0.5 * np.minimum(rad, np.pi))
    out = np.where(rad < 0, NEGATIVE, l * l)
    return np.where(np.isinf(rad), np.inf, out)


def to_angle(ca):
    """chord² → angle radians (ref chordangle.rs:93-104)."""
    ca = np.asarray(ca, dtype=np.float64)
    out = 2.0 * np.arcsin(0.5 * np.sqrt(np.clip(ca, 0.0, 4.0)))
    out = np.where(ca < 0, -1.0, out)
    return np.where(np.isinf(ca), np.inf, out)


def from_squared_length(length2):
    """Clamp to STRAIGHT (ref chordangle.rs:180-187)."""
    return np.minimum(np.asarray(length2, dtype=np.float64), STRAIGHT)


def add(a, b):
    """Chord² of the angle sum without trig (ref chordangle.rs:112-140):
    c = 2 sin(A+B) via sin(A+B) = sinA cosB + sinB cosA."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    x = a * (1.0 - 0.25 * b)
    y = b * (1.0 - 0.25 * a)
    summed = np.minimum(4.0, x + y + 2.0 * np.sqrt(x * y))
    out = np.where(a + b >= 4.0, STRAIGHT, summed)
    return np.where(b == 0.0, a, out)


def sub(a, b):
    """Chord² of the angle difference (ref chordangle.rs:149-163)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    x = a * (1.0 - 0.25 * b)
    y = b * (1.0 - 0.25 * a)
    diff = np.maximum(0.0, x + y - 2.0 * np.sqrt(x * y))
    out = np.where(a <= b, 0.0, diff)
    return np.where(b == 0.0, a, out)


def sin2(ca):
    """sin²: a(1 − a/4) from sin(2A) = 2 sinA cosA (chordangle.rs:241-250)."""
    ca = np.asarray(ca, dtype=np.float64)
    return ca * (1.0 - 0.25 * ca)


def sin(ca):
    return np.sqrt(sin2(ca))


def cos(ca):
    """cos(2A) = 1 − 2 sin²A (chordangle.rs:252-256)."""
    return 1.0 - 0.5 * np.asarray(ca, dtype=np.float64)


def tan(ca):
    with np.errstate(divide="ignore"):
        return sin(ca) / cos(ca)


def expanded(ca, e):
    """Adjust by an error bound, clamped to [0, 4]; special values pass
    through (ref chordangle.rs:193-201)."""
    ca = np.asarray(ca, dtype=np.float64)
    special = (ca < 0) | np.isinf(ca)
    return np.where(special, ca, np.clip(ca + e, 0.0, 4.0))


def is_special(ca):
    ca = np.asarray(ca, dtype=np.float64)
    return (ca < 0) | np.isinf(ca)


def is_valid(ca):
    ca = np.asarray(ca, dtype=np.float64)
    return ((ca >= 0) & (ca <= 4.0)) | is_special(ca)


def successor(ca):
    """Smallest representable chord² greater than ca
    (ref chordangle.rs:263-270): >= 4 → inf, < 0 → 0."""
    ca = np.asarray(ca, dtype=np.float64)
    nxt = np.nextafter(ca, 10.0)
    out = np.where(ca >= MAX_LENGTH2, np.inf, nxt)
    return np.where(ca < 0, 0.0, out)


def predecessor(ca):
    """Largest representable chord² smaller than ca (inverse of
    successor; public S2 semantics): <= 0 → NEGATIVE, > 4 → 4."""
    ca = np.asarray(ca, dtype=np.float64)
    prv = np.nextafter(ca, -10.0)
    out = np.where(ca > MAX_LENGTH2, MAX_LENGTH2, prv)
    return np.where(ca <= 0, NEGATIVE, out)


def between_points(x, y):
    """Chord² between unit points (min(4, |x−y|²))."""
    x = np.atleast_2d(np.asarray(x, dtype=np.float64))
    y = np.atleast_2d(np.asarray(y, dtype=np.float64))
    d = x - y
    return np.minimum(4.0, np.sum(d * d, axis=1))
