"""General polygon boolean operations returning GEOMETRY.

The reference delegates ``ST_Union`` / ``ST_Intersection`` / ``ST_Difference``
/ ``ST_SymDifference`` over arbitrary polygon pairs to the Esri geometry
library (presto-geospatial/.../GeoFunctions.java:675 stUnion, :1019
stIntersection, :1089 stDifference, :1099 stSymDifference). This module
implements the polygon/polygon case from first principles as a classic
*planar overlay*: split every boundary edge at every crossing, classify each
sub-segment's two sides against both operand regions, keep the segments
where the result-region membership flips, and trace the kept directed edges
into output rings (outer rings CCW, holes CW) — the textbook arrangement +
face-extraction algorithm (de Berg et al., Computational Geometry ch. 2).

Robustness comes from *exact rational arithmetic*: every coordinate is
lifted to an exact rational (floats convert exactly), so crossing
points, collinear overlaps, vertex-on-edge touches and shared boundaries
are decided exactly, with no epsilons. The cost is per-geometry Python
time — acceptable because the scale axis at 100 TB is the ROW count, not
per-row vertex count: each pair is independent, so the operator
parallelizes perfectly across partitions inside an Arrow-batched pandas
UDF (geo_scalar.py discipline), and per-row vertex counts are bounded by
the application (document geometries, geofences, admin boundaries).

The rational type is ``Rat``, a drop-in ``fractions.Fraction`` twin with
LAZY normalization (r9 perf): ``Fraction`` runs a gcd inside every
arithmetic op, which profiling showed was >80% of overlay wall time
(fn_geo_boolean_ops was the heaviest registry row at 8.6 s / sf0.1).
Overlay expressions have bounded depth — inputs, one level of crossing
points, then predicates over them — so numerators/denominators stay
small without per-op reduction; ``Rat`` reduces only when a denominator
exceeds a bit-length guard (keeping worst-case inputs bounded) and
canonicalizes solely inside ``__hash__``. Exactness is unchanged: all
arithmetic is integer cross-multiplication.

Semantics notes (DELTAS.md "polygon boolean ops"):
- ``overlay`` returns the area geometry in the MULTIPOLYGON representation
  (``array<array<array<struct<x,y>>>>``); lower-dimensional intersection
  pieces (shared edges of edge-adjacent polygons, single touch points) are
  returned by ``intersection_pieces`` as the Esri-backed reference does
  (LINESTRING / POINT / GEOMETRYCOLLECTION members for touching operands).
  Empty result -> empty array, NULL input -> NULL.
- Inputs are simple polygons with optional holes (the repo's holed
  representation: exterior ring first). Ring orientation in the INPUT is
  normalized internally (exterior forced CCW, holes CW), matching the
  parser's auto-close contract.
"""

from __future__ import annotations

import math
from functools import cmp_to_key
from math import gcd

# Reduce a Rat only when its denominator outgrows this many bits: never for
# well-behaved fixtures (dyadic coordinates), occasionally for adversarial
# float inputs (den up to ~2^52 each; one crossing level compounds them).
_RAT_DEN_BITS = 256


class Rat:
    """Exact rational with lazy normalization — a ``fractions.Fraction``
    drop-in for the overlay's operation set (+ - * / neg abs, ==/< vs Rat
    and int, hash, bool, float). Invariant: ``d > 0``."""

    __slots__ = ("n", "d")

    def __init__(self, v: int | float = 0):
        if isinstance(v, float):
            self.n, self.d = v.as_integer_ratio()
        else:
            self.n, self.d = v, 1

    @staticmethod
    def _mk(n: int, d: int) -> "Rat":
        r = object.__new__(Rat)
        if d.bit_length() > _RAT_DEN_BITS:
            g = gcd(n, d)
            n //= g
            d //= g
        r.n, r.d = n, d
        return r

    def __add__(self, o):
        if isinstance(o, Rat):
            if self.d == o.d:  # dominant case (shared dyadic denominators):
                return Rat._mk(self.n + o.n, self.d)  # no denominator growth
            return Rat._mk(self.n * o.d + o.n * self.d, self.d * o.d)
        if isinstance(o, int):
            return Rat._mk(self.n + o * self.d, self.d)
        return NotImplemented

    __radd__ = __add__

    def __sub__(self, o):
        if isinstance(o, Rat):
            if self.d == o.d:
                return Rat._mk(self.n - o.n, self.d)
            return Rat._mk(self.n * o.d - o.n * self.d, self.d * o.d)
        if isinstance(o, int):
            return Rat._mk(self.n - o * self.d, self.d)
        return NotImplemented

    def __rsub__(self, o):
        if isinstance(o, int):
            return Rat._mk(o * self.d - self.n, self.d)
        return NotImplemented

    def __mul__(self, o):
        if isinstance(o, Rat):
            return Rat._mk(self.n * o.n, self.d * o.d)
        if isinstance(o, int):
            return Rat._mk(self.n * o, self.d)
        return NotImplemented

    __rmul__ = __mul__

    def __truediv__(self, o):
        if isinstance(o, Rat):
            n, d = self.n * o.d, self.d * o.n
        elif isinstance(o, int):
            n, d = self.n, self.d * o
        else:
            return NotImplemented
        if d == 0:
            raise ZeroDivisionError("Rat division by zero")
        return Rat._mk(-n, -d) if d < 0 else Rat._mk(n, d)

    def __rtruediv__(self, o):
        if isinstance(o, int):
            if self.n == 0:
                raise ZeroDivisionError("Rat division by zero")
            n, d = o * self.d, self.n
            return Rat._mk(-n, -d) if d < 0 else Rat._mk(n, d)
        return NotImplemented

    def __neg__(self):
        return Rat._mk(-self.n, self.d)

    def __abs__(self):
        return Rat._mk(abs(self.n), self.d)

    def __eq__(self, o):
        # Rat and int only — floats are lifted to Rat at every entry
        # boundary (``Fraction(float(...))``), so supporting float here
        # would only create a tower asymmetry: ``==`` accepting a float
        # that ``<``/``<=`` reject, a hash/eq contract break
        # (Rat(0.5) == 0.5 with differing hashes), and a ValueError on
        # NaN via as_integer_ratio (ADVICE r9). NotImplemented lets
        # Python fall back to reflected-op/identity → False, matching
        # Fraction-vs-NaN semantics.
        if isinstance(o, Rat):
            if self.d == o.d:
                return self.n == o.n
            return self.n * o.d == o.n * self.d
        if isinstance(o, int):  # bool included, like Fraction's tower
            return self.n == o * self.d
        return NotImplemented

    def __lt__(self, o):
        if isinstance(o, Rat):
            if self.d == o.d:
                return self.n < o.n
            return self.n * o.d < o.n * self.d
        if isinstance(o, int):
            return self.n < o * self.d
        return NotImplemented

    def __le__(self, o):
        if isinstance(o, Rat):
            if self.d == o.d:
                return self.n <= o.n
            return self.n * o.d <= o.n * self.d
        if isinstance(o, int):
            return self.n <= o * self.d
        return NotImplemented

    def __gt__(self, o):
        if isinstance(o, Rat):
            if self.d == o.d:
                return self.n > o.n
            return self.n * o.d > o.n * self.d
        if isinstance(o, int):
            return self.n > o * self.d
        return NotImplemented

    def __ge__(self, o):
        if isinstance(o, Rat):
            if self.d == o.d:
                return self.n >= o.n
            return self.n * o.d >= o.n * self.d
        if isinstance(o, int):
            return self.n >= o * self.d
        return NotImplemented

    def __hash__(self):
        # equal values must hash equal across unreduced twins (and match
        # plain ints for integer values): canonicalize here only
        if self.d == 1:
            return hash(self.n)
        g = gcd(self.n, self.d)
        d = self.d // g
        return hash(self.n // g) if d == 1 else hash((self.n // g, d))

    def __bool__(self):
        return self.n != 0

    def __float__(self):
        return self.n / self.d

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Rat({self.n}/{self.d})"


Fraction = Rat  # the overlay's exact scalar (see module docstring)

Pt = tuple[Fraction, Fraction]

__all__ = [
    "overlay",
    "polygon_area",
]


# --- exact primitives --------------------------------------------------------


def _cross(ox: Fraction, oy: Fraction, ax: Fraction, ay: Fraction) -> Fraction:
    return ox * ay - oy * ax


def _orient(a: Pt, b: Pt, c: Pt) -> Fraction:
    return _cross(b[0] - a[0], b[1] - a[1], c[0] - a[0], c[1] - a[1])


def _on_segment(p: Pt, a: Pt, b: Pt) -> bool:
    """p collinear-with and within the closed segment [a, b]."""
    if _orient(a, b, p) != 0:
        return False
    return (
        min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
    )


def _on_line(p: Pt, edges) -> bool:
    """p on any of the closed segments ``edges``."""
    return any(_on_segment(p, a, b) for a, b in edges)


def _canon(s: tuple[Pt, Pt]) -> tuple[Pt, Pt]:
    """The undirected segment ``s`` with its endpoints in sorted order."""
    return s if s <= (s[1], s[0]) else (s[1], s[0])


def _seg_split_points(a: Pt, b: Pt, c: Pt, d: Pt) -> list[Pt]:
    """Points where segment [a,b] must be split because of segment [c,d]:
    proper crossings, endpoint touches, and collinear-overlap endpoints.
    Exact; returns points strictly inside or at the ends of [a,b] (the
    caller drops end splits as no-ops)."""
    o1, o2 = _orient(c, d, a), _orient(c, d, b)
    o3, o4 = _orient(a, b, c), _orient(a, b, d)
    pts: list[Pt] = []
    if o1 == 0 and o2 == 0:
        # collinear: overlap endpoints that fall inside [a,b]
        for p in (c, d):
            if _on_segment(p, a, b):
                pts.append(p)
        return pts
    if (o1 > 0) != (o2 > 0) and (o3 > 0) != (o4 > 0) and o1 != o2:
        # proper or T-joint crossing: solve a + t(b-a) on line cd exactly
        t = o1 / (o1 - o2)
        pts.append((a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1])))
        return pts
    # endpoint-touch cases (one orientation zero)
    for p in (c, d):
        if _on_segment(p, a, b):
            pts.append(p)
    return pts


def _ring_signed_area2(ring: list[Pt]) -> Fraction:
    """Twice the signed area of an open ring (shoelace, exact)."""
    s = Fraction(0)
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s


def _point_in_ring(p: Pt, ring: list[Pt]) -> bool:
    """Even-odd ray cast toward +x, exact. Caller guarantees p is not on
    the ring boundary (overlay midpoints never are, by construction)."""
    inside = False
    n = len(ring)
    px, py = p
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > py) != (y2 > py):
            xcross = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if px < xcross:
                inside = not inside
    return inside


def _point_in_region(p: Pt, rings: list[list[Pt]]) -> bool:
    """Even-odd over all rings = inside exterior minus holes (valid holed
    polygon), and the correct region rule for any even-odd input."""
    c = 0
    for ring in rings:
        if _point_in_ring(p, ring):
            c += 1
    return c % 2 == 1


# --- input normalization -----------------------------------------------------


def _norm_rings(rings_raw) -> list[list[Pt]] | None:
    """Struct-rings -> open Fraction rings, exterior CCW and holes CW.
    Members with NULL coords are dropped (try_cast parser residue);
    degenerate rings (<3 distinct points) are dropped."""
    if rings_raw is None:
        return None
    out: list[list[Pt]] = []
    for idx, ring in enumerate(rings_raw):
        if ring is None:
            continue
        pts = [
            (Fraction(float(p["x"])), Fraction(float(p["y"])))
            for p in ring
            if p is not None and p["x"] is not None and p["y"] is not None
        ]
        if len(pts) >= 2 and pts[0] == pts[-1]:
            pts = pts[:-1]
        # drop consecutive duplicates
        dedup: list[Pt] = []
        for p in pts:
            if not dedup or p != dedup[-1]:
                dedup.append(p)
        if len(dedup) >= 2 and dedup[0] == dedup[-1]:
            dedup.pop()
        if len(dedup) < 3:
            continue
        a2 = _ring_signed_area2(dedup)
        if a2 == 0:
            continue
        want_ccw = idx == 0
        if (a2 > 0) != want_ccw:
            dedup.reverse()
        out.append(dedup)
    return out


# --- the overlay -------------------------------------------------------------

_OPS = {
    "intersection": lambda a, b: a and b,
    "union": lambda a, b: a or b,
    "difference": lambda a, b: a and not b,
    "symdifference": lambda a, b: a != b,
}


def overlay(a_rings_raw, b_rings_raw, op: str) -> list[list[list[dict]]] | None:
    """Boolean overlay of two holed polygons in the repo representation.

    Returns the MULTIPOLYGON representation (list of polygons, each a list
    of closed rings of ``{"x", "y"}`` dicts, exterior CCW first then CW
    holes), ``[]`` for an empty result, ``None`` for NULL input.
    """
    if op not in _OPS:
        raise ValueError(f"unknown overlay op {op!r}")
    sides = _segment_sides(a_rings_raw, b_rings_raw)
    if sides is None:
        return None
    return _extract_faces(sides, _OPS[op])


def overlay_all(a_rings_raw, b_rings_raw) -> dict | None:
    """All four boolean results from ONE arrangement build: the edge
    split + side classification (the O(E^2) exact-arithmetic cost) is
    op-independent, so computing intersection/union/difference/
    symdifference together is ~4x cheaper than four overlay() calls."""
    sides = _segment_sides(a_rings_raw, b_rings_raw)
    if sides is None:
        return None
    return {op: _extract_faces(sides, fn) for op, fn in _OPS.items()}


def _segment_sides(a_rings_raw, b_rings_raw):
    """Arrangement build: split all boundary edges at crossings and
    classify each sub-segment's left/right membership in each operand.
    Returns a list of (p, q, (inA_left, inA_right), (inB_left, inB_right))
    or None for NULL input."""
    A = _norm_rings(a_rings_raw)
    B = _norm_rings(b_rings_raw)
    if A is None or B is None:
        return None

    # 1. collect directed boundary edges with provenance
    edges: list[tuple[Pt, Pt, str]] = []  # (p, q, owner)
    for owner, rings in (("A", A), ("B", B)):
        for ring in rings:
            n = len(ring)
            for i in range(n):
                edges.append((ring[i], ring[(i + 1) % n], owner))

    # 2. split every edge at every crossing with every other edge.
    # The pairwise loop is the O(E^2) hot spot, so two conservative float
    # gates run before any exact arithmetic: (a) bbox reject — input
    # vertices are exactly float-valued, so the comparisons are exact;
    # (b) an adaptive orientation filter (Shewchuk's error-bound idea):
    # if both endpoints of one segment are CERTAINLY strictly on one side
    # of the other's line in float (|det| above the rounding bound), the
    # pair cannot interact and the exact Fraction path is skipped.
    fpts = [
        ((float(p[0]), float(p[1])), (float(q[0]), float(q[1])))
        for p, q, _ in edges
    ]
    fbox = [
        (min(a[0], b[0]), min(a[1], b[1]), max(a[0], b[0]), max(a[1], b[1]))
        for a, b in fpts
    ]

    def _certainly_separated(i: int, j: int) -> bool:
        (a, b), (c, d) = fpts[i], fpts[j]

        def side(p, q, r, s) -> int:
            # certain sign of orient(p,q,r) and orient(p,q,s) agreement:
            # 1 = both certainly >0, -1 = both certainly <0, 0 = unsure
            ux, uy = q[0] - p[0], q[1] - p[1]
            d1l, d1r = ux * (r[1] - p[1]), uy * (r[0] - p[0])
            d2l, d2r = ux * (s[1] - p[1]), uy * (s[0] - p[0])
            e1 = 3.331e-16 * (abs(d1l) + abs(d1r))
            e2 = 3.331e-16 * (abs(d2l) + abs(d2r))
            v1, v2 = d1l - d1r, d2l - d2r
            if v1 > e1 and v2 > e2:
                return 1
            if -v1 > e1 and -v2 > e2:
                return -1
            return 0

        return side(a, b, c, d) != 0 or side(c, d, a, b) != 0

    split: list[tuple[Pt, Pt, str]] = []
    for i, (p, q, owner) in enumerate(edges):
        cuts: set[Pt] = set()
        bi = fbox[i]
        for j, (c, d, _) in enumerate(edges):
            if i == j:
                continue
            bj = fbox[j]
            if bi[2] < bj[0] or bj[2] < bi[0] or bi[3] < bj[1] or bj[3] < bi[1]:
                continue
            if _certainly_separated(i, j):
                continue
            for pt in _seg_split_points(p, q, c, d):
                if pt != p and pt != q:
                    cuts.add(pt)
        if cuts:
            dx, dy = q[0] - p[0], q[1] - p[1]
            # order cuts along p->q by dot product (monotone, exact)
            ordered = sorted(cuts, key=lambda r: (r[0] - p[0]) * dx + (r[1] - p[1]) * dy)
            chain = [p, *ordered, q]
            for k in range(len(chain) - 1):
                if chain[k] != chain[k + 1]:
                    split.append((chain[k], chain[k + 1], owner))
        else:
            split.append((p, q, owner))

    # 3. dedup sub-segments; track, per undirected segment, the interior
    #    side of each owner whose boundary it lies on. side: left=True if
    #    the owner's interior is on the left of canonical direction p->q.
    seg_info: dict[tuple[Pt, Pt], dict[str, bool]] = {}
    for p, q, owner in split:
        canon, fwd = ((p, q), True) if (p, q) <= (q, p) else ((q, p), False)
        info = seg_info.setdefault(canon, {})
        # ring orientation is normalized interior-left of the DIRECTED edge
        info[owner] = fwd  # interior-left of canonical dir iff edge ran forward
        # (two collinear same-owner edges in opposite directions would be a
        # degenerate input — last one wins; simple inputs never hit this)

    # 4. classify each side of each sub-segment against both operands
    # pre-floated rings for the adaptive ray cast (exact coordinates can
    # carry huge denominators after crossings of non-grid inputs — cos/sin
    # geometry — making pure-Fraction classification the dominant cost)
    a_fl = [[(float(x), float(y)) for x, y in ring] for ring in A]
    b_fl = [[(float(x), float(y)) for x, y in ring] for ring in B]
    out: list[tuple[Pt, Pt, tuple[bool, bool], tuple[bool, bool]]] = []
    for (p, q), info in seg_info.items():
        mid: Pt = ((p[0] + q[0]) / 2, (p[1] + q[1]) / 2)
        sides: dict[str, tuple[bool, bool]] = {}
        for owner, rings, rings_fl in (("A", A, a_fl), ("B", B, b_fl)):
            if owner in info:
                left = info[owner]
                sides[owner] = (left, not left)
            else:
                inside = _point_in_region_adaptive(mid, rings, rings_fl)
                sides[owner] = (inside, inside)
        out.append((p, q, sides["A"], sides["B"]))
    return out


def _point_in_region_adaptive(p: Pt, rings: list[list[Pt]], rings_fl) -> bool:
    """Even-odd ray cast with a float fast path: every per-edge decision
    (y-straddle and the crossing-x comparison) is taken in float when its
    margin clears a conservative rounding bound, and recomputed with
    exact Fractions only for the uncertain edges. Same result as
    _point_in_region, ~10-100x cheaper when coordinates carry big
    rational denominators (post-crossing points of non-grid inputs)."""
    px, py = float(p[0]), float(p[1])
    c = 0
    for ring, ring_fl in zip(rings, rings_fl):
        n = len(ring)
        for i in range(n):
            x1, y1 = ring_fl[i]
            x2, y2 = ring_fl[(i + 1) % n]
            m1, m2 = y1 - py, y2 - py
            eps_y = 4e-16 * (abs(y1) + abs(y2) + abs(py) + 1.0)
            if abs(m1) > eps_y and abs(m2) > eps_y:
                if (m1 > 0) == (m2 > 0):
                    continue  # certainly no straddle
                # straddle certain; crossing-x in float with margin
                t = (py - y1) / (y2 - y1)
                xc = x1 + t * (x2 - x1)
                eps_x = 1e-12 * (abs(x1) + abs(x2) + abs(px) + 1.0)
                if xc - px > eps_x:
                    c += 1
                    continue
                if px - xc > eps_x:
                    continue
            # uncertain: exact arithmetic for this edge only
            a, b = ring[i], ring[(i + 1) % n]
            if (a[1] > p[1]) != (b[1] > p[1]):
                xcross = a[0] + (p[1] - a[1]) * (b[0] - a[0]) / (b[1] - a[1])
                if p[0] < xcross:
                    c += 1
    return c % 2 == 1


def _extract_faces(seg_sides, combine) -> list[list[list[dict]]]:
    """Keep the sub-segments where the combined region membership flips
    across the edge, orient them interior-left, and trace result rings."""
    kept: list[tuple[Pt, Pt]] = []  # directed, result-interior on the left
    for p, q, (al, ar), (bl, br) in seg_sides:
        left_in = combine(al, bl)
        right_in = combine(ar, br)
        if left_in and not right_in:
            kept.append((p, q))
        elif right_in and not left_in:
            kept.append((q, p))

    if not kept:
        return []

    # 5. trace faces: at each node, continue with the outgoing edge that is
    #    first CLOCKWISE from the reversed incoming direction — this walks
    #    the face on the left of every kept edge.
    out_edges: dict[Pt, list[Pt]] = {}
    for p, q in kept:
        out_edges.setdefault(p, []).append(q)

    def _ccw_cmp_from(rev: Pt):
        rx, ry = rev

        def region(d: Pt) -> int:
            s = _cross(rx, ry, d[0], d[1])
            if s > 0:
                return 0  # strictly CCW side, angle in (0, pi)
            if s == 0:
                return 1  # straight back (angle pi); same-dir impossible
            return 2  # CW side, angle in (pi, 2pi)

        def cmp(u: tuple[Pt, Pt], v: tuple[Pt, Pt]) -> int:
            du, dv = u[1], v[1]
            ru, rv = region(du), region(dv)
            if ru != rv:
                return -1 if ru < rv else 1
            c = _cross(du[0], du[1], dv[0], dv[1])
            if c > 0:
                return -1
            if c < 0:
                return 1
            return 0

        return cmp

    unused: dict[tuple[Pt, Pt], int] = {}
    for p, q in kept:
        unused[(p, q)] = unused.get((p, q), 0) + 1
    rings_out: list[list[Pt]] = []
    for start in list(unused):
        while unused.get(start, 0) > 0:
            ring: list[Pt] = []
            cur = start
            guard = 0
            limit = len(kept) + 1
            while True:
                guard += 1
                if guard > limit:
                    raise RuntimeError("overlay face tracing did not close")
                unused[cur] -= 1
                ring.append(cur[0])
                v = cur[1]
                rev = (cur[0][0] - v[0], cur[0][1] - v[1])
                # candidates: unconsumed outgoing edges, plus the start edge
                # (consumed first) so closure is chosen by the same turn rule
                # — a face may revisit the start VERTEX at a pinch point
                # without closing, so "v == start[0]" alone is not closure.
                cands = [
                    ((v, w), (w[0] - v[0], w[1] - v[1]))
                    for w in out_edges.get(v, [])
                    if unused.get((v, w), 0) > 0
                ]
                if v == start[0]:
                    cands.append((start, (start[1][0] - v[0], start[1][1] - v[1])))
                if not cands:
                    raise RuntimeError("overlay face tracing dead-ends")
                # first clockwise from rev = LAST in CCW order from rev
                cands.sort(key=cmp_to_key(_ccw_cmp_from(rev)))
                nxt = cands[-1][0]
                if nxt == start:
                    break  # face closed
                cur = nxt
            rings_out.append(ring)

    # 6. assemble: CCW rings are outers, CW rings holes of the smallest
    #    containing outer
    outers: list[tuple[list[Pt], Fraction]] = []
    holes: list[list[Pt]] = []
    for ring in rings_out:
        a2 = _ring_signed_area2(ring)
        if a2 > 0:
            outers.append((ring, a2))
        elif a2 < 0:
            holes.append(ring)
        # zero-area faces are degenerate residue; drop
    polys: list[list[list[Pt]]] = [[o] for o, _ in outers]
    for hole in holes:
        # probe: midpoint of the hole's first edge. Kept sub-segments only
        # meet at endpoints (everything was split at crossings), so an edge
        # midpoint is never ON another result ring — _point_in_ring is
        # exact here with no boundary ambiguity (unlike a vertex probe,
        # which can sit on an outer at a pinch point).
        probe: Pt = ((hole[0][0] + hole[1][0]) / 2, (hole[0][1] + hole[1][1]) / 2)
        best = -1
        best_area = None
        for k, (o, a2) in enumerate(outers):
            if _point_in_ring(probe, o) and (best_area is None or a2 < best_area):
                best, best_area = k, a2
        if best >= 0:
            polys[best].append(hole)
        # an orphan hole would mean a tracing bug; dropping keeps the
        # area-geometry contract (faces outside every outer are empty)

    # 7. emit closed float rings
    def _emit(ring: list[Pt]) -> list[dict]:
        cyc = ring + [ring[0]]
        return [{"x": float(x), "y": float(y)} for x, y in cyc]

    return [[_emit(r) for r in poly] for poly in polys]


def polygon_area(polys) -> float:
    """Exact area of an overlay result (shoelace sum over signed rings) —
    test-side helper, mirrors st_multipolygon_area."""
    total = 0.0
    if polys is None:
        return 0.0
    for rings in polys:
        for ring in rings:
            pts = [(p["x"], p["y"]) for p in ring]
            if len(pts) >= 2 and pts[0] == pts[-1]:
                pts = pts[:-1]
            s = 0.0
            for i in range(len(pts)):
                x1, y1 = pts[i]
                x2, y2 = pts[(i + 1) % len(pts)]
                s += x1 * y2 - x2 * y1
            total += s / 2.0
    return total


# --- lower-dimensional intersection pieces -----------------------------------


def _chain_segments(segs: list[tuple[Pt, Pt]]) -> list[list[Pt]]:
    """Join 1D sub-segments sharing endpoints into maximal paths, merging
    collinear interior vertices. Deterministic: segments are walked in
    canonical sorted order, paths start at non-degree-2 endpoints."""
    adj: dict[Pt, list[int]] = {}
    for i, (p, q) in enumerate(segs):
        adj.setdefault(p, []).append(i)
        adj.setdefault(q, []).append(i)
    used = [False] * len(segs)
    paths: list[list[Pt]] = []
    order = sorted(range(len(segs)), key=lambda i: segs[i])
    for i in order:
        if used[i]:
            continue
        p, q = segs[i]
        # start at a path end (degree != 2) when one exists; cycles start anywhere
        start = p if len(adj[p]) != 2 else (q if len(adj[q]) != 2 else p)
        path = [start]
        cur_i, cur_pt = i, start
        while True:
            used[cur_i] = True
            a, b = segs[cur_i]
            nxt = b if a == cur_pt else a
            path.append(nxt)
            cur_pt = nxt
            cand = [j for j in adj[nxt] if not used[j]]
            if len(adj[nxt]) != 2 or not cand:
                break
            cur_i = cand[0]
        # drop collinear interior vertices (arrangement splits are finer
        # than the geometric pieces)
        merged = [path[0]]
        for v in path[1:]:
            if len(merged) >= 2 and _orient(merged[-2], merged[-1], v) == 0:
                merged[-1] = v
            else:
                merged.append(v)
        paths.append(merged)
    paths.sort(key=lambda pth: pth[0])
    return paths


def intersection_pieces(a_rings_raw, b_rings_raw) -> dict | None:
    """Full-dimensional ST_Intersection: the 2D faces PLUS the
    lower-dimensional pieces the area-only ``overlay`` drops — shared
    boundary segments of edge-adjacent polygons (1D) and isolated touch
    points (0D). This is the Esri-backed reference behavior
    (GeoFunctions.java:1019 stIntersection returns LINESTRING / POINT /
    GEOMETRYCOLLECTION for touching operands); computed exactly from the
    same arrangement:

    - a sub-segment is ON an operand's boundary iff its two side
      memberships for that operand differ;
    - 1D piece: on BOTH boundaries with the interiors on OPPOSITE sides
      (the combined membership is false on both sides — not adjacent to
      any 2D face). Same-side shared segments are 2D face boundary.
    - 0D piece: an arrangement vertex on both boundaries that is not an
      endpoint of any kept segment (face boundary or 1D piece) — i.e. a
      touch point with no higher-dimensional piece through it.

    Returns ``{"polys": multipolygon, "lines": [linestring...],
    "points": [{"x","y"}...]}`` (floats), or None for NULL input.
    """
    sides = _segment_sides(a_rings_raw, b_rings_raw)
    if sides is None:
        return None
    polys = _extract_faces(sides, _OPS["intersection"])
    line_segs: list[tuple[Pt, Pt]] = []
    covered: set[Pt] = set()
    va: set[Pt] = set()
    vb: set[Pt] = set()
    for p, q, (al, ar), (bl, br) in sides:
        on_a = al != ar
        on_b = bl != br
        if on_a:
            va.add(p)
            va.add(q)
        if on_b:
            vb.add(p)
            vb.add(q)
        if (al and bl) != (ar and br):  # 2D face boundary segment
            covered.add(p)
            covered.add(q)
        elif on_a and on_b and not (al and bl):  # 1D piece
            line_segs.append((p, q))
            covered.add(p)
            covered.add(q)
    pts = sorted((va & vb) - covered)
    lines = _chain_segments(line_segs)
    return {
        "polys": polys,
        "lines": [
            [{"x": float(x), "y": float(y)} for x, y in path] for path in lines
        ],
        "points": [{"x": float(x), "y": float(y)} for x, y in pts],
    }


def _norm_polyline_edges(raw) -> list[tuple[Pt, Pt]] | None:
    """Polyline -> exact edge list (consecutive duplicates dropped, closed
    rings wrapped). None for NULL/degenerate input."""
    if raw is None:
        return None
    pts = [
        (Fraction(float(p["x"])), Fraction(float(p["y"])))
        for p in raw
        if p is not None and p["x"] is not None and p["y"] is not None
    ]
    dedup: list[Pt] = []
    for p in pts:
        if not dedup or p != dedup[-1]:
            dedup.append(p)
    if len(dedup) < 2:
        return None
    closed = dedup[0] == dedup[-1]
    open_pts = dedup[:-1] if closed else dedup
    if closed and len(open_pts) < 2:
        return None
    return [
        (open_pts[i], open_pts[(i + 1) % len(open_pts)])
        for i in range(len(open_pts) - (0 if closed else 1))
    ]


def _split_edges_at(edges, others) -> list[tuple[Pt, Pt]]:
    out: list[tuple[Pt, Pt]] = []
    for p, q in edges:
        cuts: set[Pt] = set()
        for c, d in others:
            for pt in _seg_split_points(p, q, c, d):
                if pt != p and pt != q:
                    cuts.add(pt)
        if not cuts:
            out.append((p, q))
            continue
        dx, dy = q[0] - p[0], q[1] - p[1]
        chain = [p, *sorted(cuts, key=lambda r: (r[0] - p[0]) * dx + (r[1] - p[1]) * dy), q]
        out.extend(
            (chain[k], chain[k + 1])
            for k in range(len(chain) - 1)
            if chain[k] != chain[k + 1]
        )
    return out


def _line_line_pieces(a_raw, b_raw) -> dict | None:
    """stIntersection for the LINESTRING/LINESTRING pair: collinear
    overlap sub-segments chained into LINESTRINGs plus isolated crossing /
    touch POINTs (never any area). Exact; None for NULL/degenerate."""
    aedges = _norm_polyline_edges(a_raw)
    bedges = _norm_polyline_edges(b_raw)
    if aedges is None or bedges is None:
        return None
    asub = _split_edges_at(aedges, bedges)
    bsub = _split_edges_at(bedges, aedges)

    shared = {_canon(s) for s in asub} & {_canon(s) for s in bsub}
    covered = {v for s in shared for v in s}

    nodes = {v for s in asub for v in s} | {v for s in bsub for v in s}
    pts = sorted(
        v for v in nodes
        if v not in covered and _on_line(v, aedges) and _on_line(v, bedges)
    )
    lines = _chain_segments(sorted(shared))
    return {
        "polys": [],
        "lines": [
            [{"x": float(x), "y": float(y)} for x, y in path] for path in lines
        ],
        "points": [{"x": float(x), "y": float(y)} for x, y in pts],
    }


def _line_polygon_pieces(line_raw, poly_rings_raw) -> dict | None:
    """stIntersection for the LINESTRING/POLYGON pair with the
    lower-dimensional part clip_line_to_polygon drops: the clipped
    MULTILINESTRING plus isolated boundary-touch POINTs (line vertices or
    crossing nodes ON the boundary with no kept sub-segment through
    them). Exact; None for NULL/degenerate input."""
    poly = _norm_rings(poly_rings_raw)
    ledges = _norm_polyline_edges(line_raw)
    if poly is None or ledges is None:
        return None
    if not poly:
        return {"polys": [], "lines": [], "points": []}
    pedges: list[tuple[Pt, Pt]] = []
    for r in poly:
        n = len(r)
        for i in range(n):
            pedges.append((r[i], r[(i + 1) % n]))
    sub = _split_edges_at(ledges, pedges)
    kept: list[tuple[Pt, Pt]] = []
    for a, b in sub:
        mid: Pt = ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)
        if any(_on_segment(mid, c, d) for c, d in pedges) or _point_in_region(mid, poly):
            kept.append((a, b))
    covered = {v for s in kept for v in s}
    on_bnd = lambda v: any(_on_segment(v, c, d) for c, d in pedges)  # noqa: E731
    nodes = {v for s in sub for v in s}
    pts = sorted(v for v in nodes if v not in covered and on_bnd(v))
    lines = _chain_segments(kept)
    return {
        "polys": [],
        "lines": [
            [{"x": float(x), "y": float(y)} for x, y in path] for path in lines
        ],
        "points": [{"x": float(x), "y": float(y)} for x, y in pts],
    }


def intersection_any(ga: dict | None, gb: dict | None) -> dict | None:
    """Generic stIntersection over the tagged geometry union (the dispatch
    the reference performs inside Esri's OperatorIntersection): route the
    (tag, tag) pair to the matching kernel — symmetric, so mirrored orders
    just swap operands. Returns the mixed-dimension pieces dict
    ({"polys", "lines", "points"}); simple kinds only — multi-* /
    collection operands return None (COVERAGE 'Out of scope')."""
    if ga is None or gb is None:
        return None
    ta, tb = ga.get("tag"), gb.get("tag")
    if ta is None or tb is None:
        return None
    order = {"ST_Point": 0, "ST_LineString": 1, "ST_Polygon": 2}
    if ta not in order or tb not in order:
        return None
    if order[ta] > order[tb]:
        ga, gb, ta, tb = gb, ga, tb, ta
    empty = {"polys": [], "lines": [], "points": []}

    def pt(g) -> Pt | None:
        p = g.get("point")
        if p is None or p.get("x") is None or p.get("y") is None:
            return None
        return (Fraction(float(p["x"])), Fraction(float(p["y"])))

    def as_point_piece(v: Pt) -> dict:
        return {
            "polys": [], "lines": [],
            "points": [{"x": float(v[0]), "y": float(v[1])}],
        }

    if ta == "ST_Point" and tb == "ST_Point":
        a, b = pt(ga), pt(gb)
        if a is None or b is None:
            return None
        return as_point_piece(a) if a == b else empty
    if ta == "ST_Point" and tb == "ST_LineString":
        a = pt(ga)
        edges = _norm_polyline_edges(gb.get("line"))
        if a is None or edges is None:
            return None
        on = any(_on_segment(a, c, d) for c, d in edges)
        return as_point_piece(a) if on else empty
    if ta == "ST_Point" and tb == "ST_Polygon":
        a = pt(ga)
        poly = _norm_rings(gb.get("polygon"))
        if a is None or poly is None:
            return None
        if not poly:  # degenerate (all rings dropped): empty result, not
            return empty  # NULL — the _line_polygon_pieces convention

        on = any(
            _on_segment(a, r[i], r[(i + 1) % len(r)])
            for r in poly
            for i in range(len(r))
        )
        if on or _point_in_region(a, poly):
            return as_point_piece(a)
        return empty
    if ta == "ST_LineString" and tb == "ST_LineString":
        return _line_line_pieces(ga.get("line"), gb.get("line"))
    if ta == "ST_LineString" and tb == "ST_Polygon":
        return _line_polygon_pieces(ga.get("line"), gb.get("polygon"))
    return intersection_pieces(ga.get("polygon"), gb.get("polygon"))


# --- full DE-9IM for polygon pairs ------------------------------------------


def relate_polygons(a_rings_raw, b_rings_raw) -> str | None:
    """The full DE-9IM matrix (stRelate, GeoFunctions.java:1153) for two
    simple polygons with optional holes — exact, from the same arrangement
    the boolean ops use. 9 chars row-major over (interior, boundary,
    exterior) of A x the same of B, '0'/'1'/'2'/'F'.

    For two regular closed AREA regions every cell's dimension is forced:
    - interior/interior and interior/exterior cells are 2 or F — nonempty
      open-set intersections have area, witnessed by a sub-segment whose
      combined membership flips across it;
    - boundary-against-open-set cells (IB/BI/BE/EB) are 1 or F — a
      boundary point inside an open set drags a neighborhood arc of the
      boundary with it (sub-segments are crossing-free, so the whole
      sub-segment sits one side);
    - BB is 1 when a sub-segment lies on both boundaries, else 0 when the
      boundaries share a node (crossing or touch point), else F;
    - EE is always 2.
    A sub-segment lies on A's boundary iff its two A-side memberships
    differ (interior on exactly one side) — no provenance bookkeeping
    needed. NULL for NULL or fully degenerate (zero-area) input.
    """
    sides = _segment_sides(a_rings_raw, b_rings_raw)
    if sides is None:
        return None
    on_a = [(p, q, a, b) for p, q, a, b in sides if a[0] != a[1]]
    on_b = [(p, q, a, b) for p, q, a, b in sides if b[0] != b[1]]
    if not on_a or not on_b:
        return None  # a degenerate operand has no boundary: not a polygon

    def flips(fn) -> bool:
        return any(fn(a[0], b[0]) != fn(a[1], b[1]) for _, _, a, b in sides)

    ii = "2" if flips(lambda a, b: a and b) else "F"
    ie = "2" if flips(lambda a, b: a and not b) else "F"
    ei = "2" if flips(lambda a, b: b and not a) else "F"
    ib = "1" if any(a[0] and a[1] for _, _, a, _ in on_b) else "F"
    bi = "1" if any(b[0] and b[1] for _, _, _, b in on_a) else "F"
    be = "1" if any(not b[0] and not b[1] for _, _, _, b in on_a) else "F"
    eb = "1" if any(not a[0] and not a[1] for _, _, a, _ in on_b) else "F"
    shared = any(a[0] != a[1] and b[0] != b[1] for _, _, a, b in sides)
    if shared:
        bb = "1"
    else:
        nodes_a = {n for p, q, _, _ in on_a for n in (p, q)}
        nodes_b = {n for p, q, _, _ in on_b for n in (p, q)}
        bb = "0" if nodes_a & nodes_b else "F"
    return ii + ib + ie + bi + bb + be + ei + eb + "2"


def relate_line_polygon(line_raw, poly_rings_raw) -> str | None:
    """DE-9IM matrix for a LINESTRING vs a polygon-with-holes — the mixed-
    dimension stRelate case. Same machinery: split the line at every
    polygon-boundary crossing, classify each sub-segment's midpoint
    (inside / on-boundary / outside — constant along a crossing-free
    sub-segment), and read the cells off:

    - line-interior row: sub-segments inside (II=1), on the boundary
      (IB=1) or crossing nodes interior to the line (IB=0), outside
      (IE=1);
    - line-boundary row: the two endpoint memberships as dim-0 cells
      (empty for a closed line — a cycle has no boundary, stBoundary);
    - exterior row: EI=2 always (a line has no area), EB=F only when the
      line covers the ENTIRE polygon boundary, EE=2.

    NULL for NULL/degenerate input (line needs >=2 distinct vertices).
    """
    poly = _norm_rings(poly_rings_raw)
    if poly is None or line_raw is None:
        return None
    if not poly:
        return None
    pts = [
        (Fraction(float(p["x"])), Fraction(float(p["y"])))
        for p in line_raw
        if p is not None and p["x"] is not None and p["y"] is not None
    ]
    dedup: list[Pt] = []
    for p in pts:
        if not dedup or p != dedup[-1]:
            dedup.append(p)
    if len(dedup) < 2:
        return None
    closed = dedup[0] == dedup[-1]
    line_pts = dedup[:-1] if closed else dedup
    if closed and len(line_pts) < 2:
        return None

    # polygon boundary edges
    pedges: list[tuple[Pt, Pt]] = []
    for ring in poly:
        n = len(ring)
        for i in range(n):
            pedges.append((ring[i], ring[(i + 1) % n]))
    # line edges
    ledges: list[tuple[Pt, Pt]] = []
    for i in range(len(line_pts) - (0 if closed else 1)):
        ledges.append((line_pts[i], line_pts[(i + 1) % len(line_pts)]))

    def split_at(edge, others):
        p, q = edge
        cuts: set[Pt] = set()
        for c, d in others:
            for pt in _seg_split_points(p, q, c, d):
                if pt != p and pt != q:
                    cuts.add(pt)
        if not cuts:
            return [(p, q)]
        dx, dy = q[0] - p[0], q[1] - p[1]
        ordered = sorted(cuts, key=lambda r: (r[0] - p[0]) * dx + (r[1] - p[1]) * dy)
        chain = [p, *ordered, q]
        return [
            (chain[k], chain[k + 1])
            for k in range(len(chain) - 1)
            if chain[k] != chain[k + 1]
        ]

    lsub = [s for e in ledges for s in split_at(e, pedges)]
    psub = [s for e in pedges for s in split_at(e, ledges)]

    shared = {_canon(s) for s in lsub} & {_canon(s) for s in psub}

    ii = ib = ie = "F"
    for p, q in lsub:
        if _canon((p, q)) in shared:
            ib = "1"
            continue
        mid: Pt = ((p[0] + q[0]) / 2, (p[1] + q[1]) / 2)
        if _point_in_region(mid, poly):
            ii = "1"
        else:
            ie = "1"
    if ib == "F":
        # crossing/touch nodes interior to the line: any sub-segment
        # endpoint on the polygon boundary that is not a line endpoint
        ends = set() if closed else {line_pts[0], line_pts[-1]}
        for p, q in lsub:
            for v in (p, q):
                if v not in ends and _on_line(v, pedges):
                    ib = "0"
                    break
            if ib == "0":
                break

    bi = bb = be = "F"
    if not closed:
        for v in (line_pts[0], line_pts[-1]):
            if _on_line(v, pedges):
                bb = "0"
            elif _point_in_region(v, poly):
                bi = "0"
            else:
                be = "0"

    eb = "1" if any(_canon(s) not in shared for s in psub) else "F"
    return ii + ib + ie + bi + bb + be + "2" + eb + "2"


def relate_lines(a_raw, b_raw) -> str | None:
    """DE-9IM matrix for two LINESTRINGs — the last Relate pair family.
    Split each line at every intersection with the other; a sub-segment
    shared by both lines is a dim-1 interior/interior meeting, a node on
    both lines meets in dim 0, endpoints are each line's dim-0 boundary
    (empty for a closed ring). NULL for NULL/degenerate input."""

    def norm(raw):
        if raw is None:
            return None
        pts = [
            (Fraction(float(p["x"])), Fraction(float(p["y"])))
            for p in raw
            if p is not None and p["x"] is not None and p["y"] is not None
        ]
        dedup: list[Pt] = []
        for p in pts:
            if not dedup or p != dedup[-1]:
                dedup.append(p)
        if len(dedup) < 2:
            return None
        closed = dedup[0] == dedup[-1]
        open_pts = dedup[:-1] if closed else dedup
        if closed and len(open_pts) < 2:
            return None
        edges = [
            (open_pts[i], open_pts[(i + 1) % len(open_pts)])
            for i in range(len(open_pts) - (0 if closed else 1))
        ]
        bnd = set() if closed else {open_pts[0], open_pts[-1]}
        return edges, bnd

    na, nb = norm(a_raw), norm(b_raw)
    if na is None or nb is None:
        return None
    aedges, abnd = na
    bedges, bbnd = nb

    def split_all(edges, others):
        out = []
        for p, q in edges:
            cuts: set[Pt] = set()
            for c, d in others:
                for pt in _seg_split_points(p, q, c, d):
                    if pt != p and pt != q:
                        cuts.add(pt)
            if not cuts:
                out.append((p, q))
                continue
            dx, dy = q[0] - p[0], q[1] - p[1]
            ordered = sorted(
                cuts, key=lambda r: (r[0] - p[0]) * dx + (r[1] - p[1]) * dy
            )
            chain = [p, *ordered, q]
            out.extend(
                (chain[k], chain[k + 1])
                for k in range(len(chain) - 1)
                if chain[k] != chain[k + 1]
            )
        return out

    asub = split_all(aedges, bedges)
    bsub = split_all(bedges, aedges)

    aset = {_canon(s) for s in asub}
    bset = {_canon(s) for s in bsub}
    shared = aset & bset
    anodes = {v for s in asub for v in s}
    bnodes = {v for s in bsub for v in s}

    # interior/interior: shared sub-segment -> 1; else a node on both
    # lines that is interior to both -> 0; else F
    if shared:
        ii = "1"
    else:
        ii = "F"
        for v in (anodes | bnodes):
            if v in abnd or v in bbnd:
                continue
            if _on_line(v, aedges) and _on_line(v, bedges):
                ii = "0"
                break
    # interior(A) vs boundary(B): a B endpoint on A that is not an A
    # endpoint (dim 0); symmetric for BI
    ib = "0" if any(v not in abnd and _on_line(v, aedges) for v in bbnd) else "F"
    bi = "0" if any(v not in bbnd and _on_line(v, bedges) for v in abnd) else "F"
    # interior(A) vs exterior(B): any A sub-segment not shared -> 1
    ie = "1" if any(_canon(s) not in shared for s in asub) else "F"
    ei = "1" if any(_canon(s) not in shared for s in bsub) else "F"
    bb = "0" if abnd & bbnd else "F"
    be = "0" if any(not _on_line(v, bedges) for v in abnd) else "F"
    eb = "0" if any(not _on_line(v, aedges) for v in bbnd) else "F"
    return ii + ib + ie + bi + bb + be + ei + eb + "2"


def clip_line_to_polygon(line_raw, poly_rings_raw) -> list[list[dict]] | None:
    """stIntersection for the LINESTRING/POLYGON pair: the parts of the
    line inside the (closed) polygon, as a MULTILINESTRING — the
    trajectory-to-geofence clip. Split the line at every boundary
    crossing, keep sub-segments whose midpoint is inside or on the
    boundary (closed-region semantics, matching the Esri-backed
    reference), and chain consecutive kept pieces back into maximal
    polylines. Dim-0 touch points are dropped (area-geometry discipline,
    DELTAS). NULL for NULL/degenerate input, [] when nothing is inside."""
    poly = _norm_rings(poly_rings_raw)
    if poly is None or line_raw is None:
        return None
    if not poly:
        return []
    pts = [
        (Fraction(float(p["x"])), Fraction(float(p["y"])))
        for p in line_raw
        if p is not None and p["x"] is not None and p["y"] is not None
    ]
    dedup: list[Pt] = []
    for p in pts:
        if not dedup or p != dedup[-1]:
            dedup.append(p)
    if len(dedup) < 2:
        return None

    pedges: list[tuple[Pt, Pt]] = []
    for r in poly:
        n = len(r)
        for i in range(n):
            pedges.append((r[i], r[(i + 1) % n]))

    kept: list[tuple[Pt, Pt]] = []
    for i in range(len(dedup) - 1):
        p, q = dedup[i], dedup[i + 1]
        cuts: set[Pt] = set()
        for c, d in pedges:
            for pt in _seg_split_points(p, q, c, d):
                if pt != p and pt != q:
                    cuts.add(pt)
        dx, dy = q[0] - p[0], q[1] - p[1]
        chain = [p, *sorted(cuts, key=lambda r: (r[0] - p[0]) * dx + (r[1] - p[1]) * dy), q]
        for k in range(len(chain) - 1):
            a, b = chain[k], chain[k + 1]
            if a == b:
                continue
            mid: Pt = ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)
            on_b = any(_on_segment(mid, c, d) for c, d in pedges)
            if on_b or _point_in_region(mid, poly):
                kept.append((a, b))

    if not kept:
        return []
    # chain consecutive pieces into maximal polylines (kept preserves the
    # walk order along the input line, so a linear pass suffices)
    out: list[list[Pt]] = []
    cur: list[Pt] = [kept[0][0], kept[0][1]]
    for a, b in kept[1:]:
        if a == cur[-1]:
            # drop interior collinear joints but keep true vertices
            if len(cur) >= 2 and _orient(cur[-2], cur[-1], b) == 0:
                cur[-1] = b
            else:
                cur.append(b)
        else:
            out.append(cur)
            cur = [a, b]
    out.append(cur)
    return [[{"x": float(x), "y": float(y)} for x, y in seg] for seg in out]


def _transpose_de9im(m: str | None) -> str | None:
    return None if m is None else "".join(m[3 * (i % 3) + i // 3] for i in range(9))


def relate_any(ga: dict | None, gb: dict | None) -> str | None:
    """Generic stRelate over the tagged geometry union (the dispatch the
    reference performs inside Esri's RelationalOperations): route the
    (tag, tag) pair to the matching kernel, transposing for the mirrored
    orders. Simple kinds only — multi-* / collection operands return NULL
    (COVERAGE 'Out of scope')."""
    if ga is None or gb is None:
        return None
    ta, tb = ga.get("tag"), gb.get("tag")
    if ta is None or tb is None:
        return None

    def pt(g):
        p = g.get("point")
        if p is None or p.get("x") is None or p.get("y") is None:
            return None
        return [{"x": p["x"], "y": p["y"]}]

    if ta == "ST_Point" and tb == "ST_Point":
        a, b = pt(ga), pt(gb)
        if a is None or b is None:
            return None
        eq = a[0]["x"] == b[0]["x"] and a[0]["y"] == b[0]["y"]
        return "0FFFFFFF2" if eq else "FF0FFF0F2"
    if ta == "ST_Point" and tb == "ST_LineString":
        return _transpose_de9im(_relate_line_point(gb.get("line"), pt(ga)))
    if ta == "ST_LineString" and tb == "ST_Point":
        return _relate_line_point(ga.get("line"), pt(gb))
    if ta == "ST_Point" and tb == "ST_Polygon":
        return _relate_point_polygon_py(pt(ga), gb.get("polygon"))
    if ta == "ST_Polygon" and tb == "ST_Point":
        return _transpose_de9im(_relate_point_polygon_py(pt(gb), ga.get("polygon")))
    if ta == "ST_LineString" and tb == "ST_LineString":
        return relate_lines(ga.get("line"), gb.get("line"))
    if ta == "ST_LineString" and tb == "ST_Polygon":
        return relate_line_polygon(ga.get("line"), gb.get("polygon"))
    if ta == "ST_Polygon" and tb == "ST_LineString":
        return _transpose_de9im(relate_line_polygon(gb.get("line"), ga.get("polygon")))
    if ta == "ST_Polygon" and tb == "ST_Polygon":
        return relate_polygons(ga.get("polygon"), gb.get("polygon"))
    return None  # multi-* / collection operands: documented residue


def _relate_line_point(line_raw, p) -> str | None:
    """LINE vs POINT matrix (line as A)."""
    if line_raw is None or p is None:
        return None
    pts = [
        (Fraction(float(q["x"])), Fraction(float(q["y"])))
        for q in line_raw
        if q is not None and q["x"] is not None and q["y"] is not None
    ]
    dedup: list[Pt] = []
    for q in pts:
        if not dedup or q != dedup[-1]:
            dedup.append(q)
    if len(dedup) < 2:
        return None
    closed = dedup[0] == dedup[-1]
    v: Pt = (Fraction(float(p[0]["x"])), Fraction(float(p[0]["y"])))
    edges = [(dedup[i], dedup[i + 1]) for i in range(len(dedup) - 1)]
    on = any(_on_segment(v, a, b) for a, b in edges)
    at_end = (not closed) and (v == dedup[0] or v == dedup[-1])
    eb = "F" if closed else "0"
    # rows: interior(line), boundary(line, = endpoints), exterior(line)
    # against (interior, boundary, exterior) of the point — a point's
    # interior is itself and its boundary is empty, so column 2 is all F
    if at_end:
        return "FF1" + "0F" + eb + "FF2"
    if on:
        return "0F1" + "FF" + eb + "FF2"
    return "FF1" + "FF" + eb + "0F2"


def _relate_point_polygon_py(p, rings_raw) -> str | None:
    if p is None:
        return None
    poly = _norm_rings(rings_raw)
    if not poly:
        return None
    v: Pt = (Fraction(float(p[0]["x"])), Fraction(float(p[0]["y"])))
    on = any(
        _on_segment(v, r[i], r[(i + 1) % len(r)])
        for r in poly
        for i in range(len(r))
    )
    if on:
        return "F0FFFF212"
    if _point_in_region(v, poly):
        return "0FFFFF212"
    return "FF0FFF212"


def _snap_rings(rings: list[list[dict]], bits: int = 40) -> list[list[dict]]:
    """Quantize ring coordinates to the 2^-bits grid (snap rounding).
    Between successive overlay folds, exact crossing points carry
    denominators that compound (crossings of crossings), making Fraction
    arithmetic the dominant cost; snapping bounds every denominator at
    2^bits. The 2^-40 displacement (~9e-13) is orders of magnitude below
    the m-gon cap approximation the buffers already accept, and the final
    output is float regardless."""
    scale = float(1 << bits)
    return [
        [
            {"x": round(p["x"] * scale) / scale, "y": round(p["y"] * scale) / scale}
            for p in ring
        ]
        for ring in rings
    ]


def _stadium(a, b, r: float, m: int) -> list[list[dict]]:
    """The open ring of segment a->b buffered by ``r``: a rectangle of
    half-width ``r`` with ``m``-step polygonal half-disc caps at both
    ends, the two caps together a regular inscribed 2m-gon."""
    ax, ay = float(a[0]), float(a[1])
    bx, by = float(b[0]), float(b[1])
    th = math.atan2(by - ay, bx - ax)
    ring = []
    # cap at b: angles th-90 .. th+90, m steps (m+1 points)
    for k in range(m + 1):
        ang = th - math.pi / 2 + math.pi * k / m
        ring.append({"x": bx + r * math.cos(ang), "y": by + r * math.sin(ang)})
    # cap at a: angles th+90 .. th+270
    for k in range(m + 1):
        ang = th + math.pi / 2 + math.pi * k / m
        ring.append({"x": ax + r * math.cos(ang), "y": ay + r * math.sin(ang)})
    return [ring]


def buffer_line(line_raw, r: float, m: int = 8) -> list[list[dict]] | None:
    """stBuffer for a LINESTRING (the reference buffers any geometry via
    Esri; st_buffer_point covers points): the union of per-segment
    "stadium" polygons — a rectangle of half-width ``r`` with ``m``-step
    polygonal half-disc caps at both ends — folded through the exact
    overlay. Consecutive stadiums share the joint vertex's disc, so the
    fold stays one connected polygon (holes can appear at tight
    switchbacks and are kept). Cap discretization matches
    st_buffer_point's inscribed-polygon convention: the two caps of one
    segment union to a regular 2m-gon, so a straight segment's buffer
    area has the closed form 2*r*L + m*r^2*sin(pi/m).

    Returns a single holed polygon (list of rings of {"x","y"} dicts) or
    None for NULL/degenerate input / radius <= 0."""
    if line_raw is None or r is None or not r > 0:
        return None
    pts = [
        (float(p["x"]), float(p["y"]))
        for p in line_raw
        if p is not None and p["x"] is not None and p["y"] is not None
    ]
    dedup = []
    for p in pts:
        if not dedup or p != dedup[-1]:
            dedup.append(p)
    if len(dedup) < 2:
        return None

    acc = _stadium(dedup[0], dedup[1], r, m)
    for i in range(1, len(dedup) - 1):
        nxt = _stadium(dedup[i], dedup[i + 1], r, m)
        u = overlay(acc, nxt, "union")
        if u is None or len(u) != 1:
            return None  # disconnected fold: degenerate input geometry
        acc = _snap_rings(u[0])
    # close every ring (overlay outputs are closed; the no-fold single-
    # segment stadium is not, and st_polygon_area expects closed rings)
    return [
        ring + [ring[0]] if ring and ring[0] != ring[-1] else ring
        for ring in acc
    ]


def buffer_polygon(poly_rings_raw, r: float, m: int = 8) -> list[list[dict]] | None:
    """stBuffer for a POLYGON with positive distance (dilation): the
    polygon unioned with every boundary edge's stadium — Minkowski sum
    with the inscribed 2m-gon disc, same cap convention as buffer_line.
    A rectangle dilates to area wh + 2r(w+h) + m r^2 sin(pi/m) exactly.
    Holes shrink (their boundary stadiums eat inward) and disappear when
    narrower than 2r. Negative distances (erosion) are ``erode_polygon``.
    Returns a holed polygon; NULL on NULL/degenerate input or r <= 0."""
    if r is None or not r > 0:
        return None
    poly = _norm_rings(poly_rings_raw)
    if poly is None:
        return None
    if not poly:
        return []

    acc = [
        [{"x": float(x), "y": float(y)} for x, y in ring + [ring[0]]]
        for ring in poly
    ]
    for ring in poly:
        n = len(ring)
        for i in range(n):
            u = overlay(acc, _stadium(ring[i], ring[(i + 1) % n], r, m), "union")
            if u is None or len(u) != 1:
                return None  # dilation of a connected polygon stays connected
            acc = _snap_rings(u[0])
    return acc


def erode_polygon(poly_rings_raw, d: float, m: int = 8) -> list[list[list[dict]]] | None:
    """stBuffer with NEGATIVE distance (erosion) for a POLYGON: the
    morphological identity P erode D = P minus (boundary(P) dilate D) —
    subtract every boundary edge's stadium (the same inscribed-2m-gon
    disc convention as the dilation fold, buffer_polygon). Interior
    points farther than d from the boundary survive; for convex corners
    the removal band is exact regardless of cap resolution (distance to
    the boundary is the min edge distance), so a w x h rectangle erodes
    to EXACTLY (w-2d) x (h-2d). Holes GROW by d; necks narrower than 2d
    pinch the polygon into multiple parts, so the result is the
    MULTIPOLYGON representation — [] when fully eroded, NULL on
    NULL/degenerate input or d <= 0."""
    if d is None or not d > 0:
        return None
    poly = _norm_rings(poly_rings_raw)
    if poly is None:
        return None
    if not poly:
        return []

    comps: list[list[list[dict]]] = [
        [
            [{"x": float(x), "y": float(y)} for x, y in ring + [ring[0]]]
            for ring in poly
        ]
    ]
    for ring in poly:
        n = len(ring)
        for i in range(n):
            st = _stadium(ring[i], ring[(i + 1) % n], d, m)
            nxt: list[list[list[dict]]] = []
            for comp in comps:
                diff = overlay(comp, st, "difference")
                if diff is None:
                    return None
                nxt.extend(_snap_rings(part) for part in diff)
            comps = nxt
            if not comps:
                return []
    return comps


def union_many(polys_raw) -> list[list[list[dict]]] | None:
    """geometry_union (GeoFunctions.java geometryUnion — the scalar union
    of an ARRAY of geometries, polygon case): fold each member into a set
    of pairwise-disjoint accumulated components, merging every component
    the new member connects with. Disjoint members stay separate parts,
    so the result is a true MULTIPOLYGON; [] for an all-degenerate array,
    None for NULL input or a NULL member (the reference returns null)."""
    if polys_raw is None:
        return None
    comps: list[list[list[dict]]] = []  # each: holed polygon (closed rings)
    for rings in polys_raw:
        if rings is None:
            return None
        norm = _norm_rings(rings)
        if norm is None:
            return None
        if not norm:
            continue  # degenerate member: empty region
        cur = [
            [{"x": float(x), "y": float(y)} for x, y in ring + [ring[0]]]
            for ring in norm
        ]
        merged = True
        while merged:
            merged = False
            for i, comp in enumerate(comps):
                u = overlay(cur, comp, "union")
                if u is not None and len(u) == 1:
                    cur = _snap_rings(u[0])
                    comps.pop(i)
                    merged = True
                    break
        comps.append(cur)
    return comps


# --- collection operands: pairwise member decomposition ----------------------

_DE9IM_RANK = {"F": -1, "0": 0, "1": 1, "2": 2}
_DE9IM_CHAR = {v: k for k, v in _DE9IM_RANK.items()}


def _flatten_simple_members(ms) -> list | None:
    """One level of multi-* recursion: expand MULTIPOINT/MULTILINESTRING/
    MULTIPOLYGON members into their simple parts (the parts ARE the union,
    so the pairwise decomposition applies to them unchanged). None for
    nested collections, unknown tags, or NULL payloads."""
    out: list = []
    for g in ms:
        tag = g.get("tag") if g is not None else None
        if tag in ("ST_Point", "ST_LineString", "ST_Polygon"):
            out.append(g)
        elif tag == "ST_MultiPoint":
            pts = g.get("multipoint")  # may be a numpy array: no truthiness
            if pts is None or len(pts) == 0:
                return None
            out.extend({"tag": "ST_Point", "point": p} for p in pts)
        elif tag == "ST_MultiLineString":
            lns = g.get("multiline")
            if lns is None or len(lns) == 0:
                return None
            out.extend({"tag": "ST_LineString", "line": ln} for ln in lns)
        elif tag == "ST_MultiPolygon":
            pgs = g.get("multipolygon")
            if pgs is None or len(pgs) == 0:
                return None
            out.extend({"tag": "ST_Polygon", "polygon": pg} for pg in pgs)
        else:
            return None
    return out


def _members_separated(ms) -> bool:
    """The well-formed-collection invariant relate_collections requires:
    members pairwise DISJOINT (DE-9IM 'FF*FF****' — no interior or
    boundary contact). Touching members would make the union's interior/
    boundary differ from the disjoint union of the members', silently
    corrupting the cellwise combination, so the caller NULLs out instead."""
    for i in range(len(ms)):
        for j in range(i + 1, len(ms)):
            m = relate_any(ms[i], ms[j])
            if m is None or not (m[0] == m[1] == m[3] == m[4] == "F"):
                return False
    return True


def _boundary_endpoints(g) -> list | None:
    """Members whose BOUNDARY is disconnected need per-component coverage
    checks (see relate_collections BE/EB). Returns the boundary components
    as point members for an OPEN line; [] when the boundary is empty or
    connected (point, ring-closed line, hole-free polygon); None when
    disconnected but not cheaply resolvable (holed polygon: shell + hole
    rings)."""
    tag = g.get("tag")
    if tag == "ST_LineString":
        raw = g.get("line")  # may be a numpy array: no truthiness
        ln = [
            q for q in (raw if raw is not None else [])
            if q is not None and q.get("x") is not None and q.get("y") is not None
        ]
        if len(ln) < 2:
            return []
        if ln[0]["x"] == ln[-1]["x"] and ln[0]["y"] == ln[-1]["y"]:
            return []  # closed: empty boundary
        return [
            {"tag": "ST_Point", "point": {"x": ln[0]["x"], "y": ln[0]["y"]}},
            {"tag": "ST_Point", "point": {"x": ln[-1]["x"], "y": ln[-1]["y"]}},
        ]
    if tag == "ST_Polygon":
        rings = g.get("polygon")
        return None if rings is not None and len(rings) > 1 else []
    return []  # point: empty boundary


def _point_covered(p, members) -> bool:
    """Is the point inside or on the boundary of ANY member?"""
    for m in members:
        r = relate_any(p, m)
        if r is not None and (r[0] != "F" or r[1] != "F"):
            return True
    return False


def relate_collections(mas, mbs) -> str | None:
    """stRelate over GEOMETRYCOLLECTION operands by pairwise member
    decomposition — BEYOND-parity: the reference itself throws
    UnsupportedOperationException here (GeoFunctions.java:1153-1158
    delegates to Esri OGCConcreteGeometryCollection.relate; COVERAGE
    'collection operands').

    Each operand is a list of tagged members (the st_collection_from_wkt
    representation); multi-* members are flattened one level into their
    simple parts first (their parts ARE the union, so the decomposition
    is unchanged). PRECONDITION (VERIFIED, not just documented): members
    within a collection are pairwise DISJOINT — checked via relate_any
    ('FF*FF****'); collections with touching members return NULL, the
    kernel's NULL-for-unsupported convention — so the union's interior/
    boundary are the disjoint unions of the members'. Under it the DE-9IM
    of the unions combines from the per-pair matrices (relate_any)
    exactly:

    - II / IB / BI / BB: ``max`` over all pairs (F < 0 < 1 < 2) — both
      row sets and column sets are disjoint unions, so any pair's
      intersection witnesses the union's.
    - IE / BE: ``max over A-members of (min over B-members)``. E(B) is
      the INTERSECTION of the members' exteriors, and a CONNECTED
      I(a_i)/B(a_i) covered by pairwise-disjoint closed sets must lie
      within ONE of them — so a_i contributes F iff some single b_j
      contains it, i.e. the row min. Interiors of simple members are
      always connected; boundaries are not: an open line's two endpoints
      may be covered by two DIFFERENT members, which the row min would
      over-report as uncovered — those rows get an exact per-endpoint
      coverage check instead. A holed polygon's boundary (shell + hole
      rings) is also disconnected and not cheaply resolvable: NULL when
      the row min alone cannot prove coverage.
    - EI / EB: symmetric, ``max over B-members of (min over A-members)``,
      with the same boundary-component refinement per column.
    - EE: always 2 (bounded operands).

    NULL for NULL/empty operands, nested collections, or failed
    preconditions.
    """
    if mas is None or mbs is None:
        return None
    mas = _flatten_simple_members(list(mas))
    mbs = _flatten_simple_members(list(mbs))
    if not mas or not mbs:
        return None
    if not (_members_separated(mas) and _members_separated(mbs)):
        return None
    mats: list[list[str]] = []
    for a in mas:
        row = []
        for b in mbs:
            m = relate_any(a, b)
            if m is None:
                return None
            row.append(m)
        mats.append(row)

    def grid(idx: int) -> list[list[int]]:
        return [[_DE9IM_RANK[m[idx]] for m in row] for row in mats]

    def boundary_vs_exterior(members, other, rows) -> int | None:
        """max over members of (B(member) ∩ E(other-union)), where rows[i]
        is that member's per-pair list of DE-9IM values for the BE (or
        transposed EB) cell. The row min is exact for connected
        boundaries; disconnected ones get per-component refinement."""
        best = -1
        for i, member in enumerate(members):
            v = min(rows[i])
            if v > -1:
                eps = _boundary_endpoints(member)
                if eps is None:
                    return None  # holed polygon: coverage not resolvable
                if eps and all(_point_covered(p, other) for p in eps):
                    v = -1  # every boundary component covered by SOME member
            best = max(best, v)
        return best

    out = []
    for idx in range(9):
        g = grid(idx)
        if idx in (0, 1, 3, 4):  # II IB BI BB
            v = max(max(r) for r in g)
        elif idx == 2:  # IE: max_i min_j (interiors are connected — exact)
            v = max(min(r) for r in g)
        elif idx == 5:  # BE: boundary components may split across members
            v = boundary_vs_exterior(mas, mbs, g)
            if v is None:
                return None
        elif idx == 6:  # EI: max_j min_i (interiors connected — exact)
            v = max(min(col) for col in zip(*g))
        elif idx == 7:  # EB: symmetric refinement per B-member column
            v = boundary_vs_exterior(mbs, mas, [list(col) for col in zip(*g)])
            if v is None:
                return None
        else:  # EE
            v = 2
        out.append(_DE9IM_CHAR[v])
    return "".join(out)


def intersection_collections(mas, mbs) -> dict | None:
    """stIntersection over GEOMETRYCOLLECTION operands by pairwise member
    decomposition — BEYOND-parity (the reference throws; see
    relate_collections). A ∩ B for unions IS the union of the pairwise
    intersections, with no precondition; the separated-members invariant
    additionally guarantees the pairwise pieces are themselves disjoint,
    so concatenation (with exact point dedup as a safety net) is the
    canonical pieces form. Multi-* members flatten one level into their
    simple parts (A ∩ B distributes over unions, so no precondition).
    Returns the intersection_pieces struct; NULL for NULL/empty operands
    or nested collections."""
    if mas is None or mbs is None:
        return None
    mas = _flatten_simple_members(list(mas))
    mbs = _flatten_simple_members(list(mbs))
    if not mas or not mbs:
        return None
    polys: list = []
    lines: list = []
    points: list = []
    seen_pts: set[tuple[float, float]] = set()
    for a in mas:
        for b in mbs:
            r = intersection_any(a, b)
            if r is None:
                return None
            polys.extend(r["polys"])
            lines.extend(r["lines"])
            for p in r["points"]:
                k = (p["x"], p["y"])
                if k not in seen_pts:
                    seen_pts.add(k)
                    points.append(p)
    points.sort(key=lambda p: (p["x"], p["y"]))
    return {"polys": polys, "lines": lines, "points": points}
