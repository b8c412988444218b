"""E5/E6/E7 integer angle encodings (ref /root/reference/src/s1/angle.rs:316-351).

The reference's convert_i32! macro defines, for k in {5, 6, 7} with
MUL_k = pi/180/1e{k} (radians) or 1/1e{k} (degrees):

    E{k} from angle:  round(value / MUL_k) as i32   (f64::round —
                      nearest, ties away from zero)
    angle from E{k}:  i32 * MUL_k                   (multiplication,
                      not division — one-ulp different in general)

Compact storage mapping per SURVEY.md §1: E6/E7 → IntegerType.
numpy's round is banker's (half-even); ties-away is emulated by
correcting the exact-.5 cases, which are exactly representable for the
whole valid angle domain (|deg·1e7| < 2^51).
"""

from __future__ import annotations

import math

import numpy as np

_DEG_MUL = {5: 1.0 / 1e5, 6: 1.0 / 1e6, 7: 1.0 / 1e7}
_RAD_MUL = {
    5: math.pi / 180.0 / 1e5,
    6: math.pi / 180.0 / 1e6,
    7: math.pi / 180.0 / 1e7,
}


def _round_ties_away(x: np.ndarray) -> np.ndarray:
    """f64::round semantics: nearest integer, ties away from zero."""
    x = np.asarray(x, dtype=np.float64)
    r = np.rint(x)  # nearest, ties to even
    t = np.trunc(x)
    tie = np.abs(x - t) == 0.5
    return np.where(tie, t + np.copysign(1.0, x), r)


def deg_to_e(deg, k: int) -> np.ndarray:
    """Degrees → E{k} int32 (ties away from zero, like the reference)."""
    v = np.asarray(deg, dtype=np.float64) / _DEG_MUL[k]
    return _round_ties_away(v).astype(np.int32)


def e_to_deg(e, k: int) -> np.ndarray:
    """E{k} → degrees: e * (1/1e{k}), multiplication per the reference."""
    return np.asarray(e, dtype=np.float64) * _DEG_MUL[k]


def e_to_rad(e, k: int) -> np.ndarray:
    """E{k} → radians: e * (pi/180/1e{k})."""
    return np.asarray(e, dtype=np.float64) * _RAD_MUL[k]
