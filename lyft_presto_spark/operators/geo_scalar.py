"""Per-row geometry scalars: every ``st_*`` here whose published
algorithm needs a Python loop per row (a hull stack, Douglas-Peucker's
split, Sutherland-Hodgman, the exact-rational overlay kernels of
``operators/polygon_overlay.py``). The pure-codegen scalars, which use no
UDF, live in ``functions/geo.py``.

Each public function is one call to ``_per_row(kernel, return_type,
*cols)``, the only place where a per-row Python kernel becomes a Spark
column:
- one Arrow-batched pandas UDF, so there is one Python call per batch and
  the kernel loops over the rows of that batch;
- a struct-typed input reaches the kernel as a dict per row;
- a kernel exception makes that row NULL and never fails the job (the
  reference's TryFunction policy, applied once for every kernel);
- a struct return type is filled from the kernel's dict by the struct's
  field names.

The hull math is shared with the ``convex_hull_agg`` two-level aggregate
(``operators/hull.py`` monotone_chain), so the scalar and the aggregate
agree vertex-for-vertex on exact-integer coordinates.

Semantics vs the reference (DELTAS):
- ``st_convex_hull``: point and empty inputs return the input unchanged
  (stConvexHull:414-418); >= 3 non-collinear points return the closed hull
  ring counter-clockwise from the lexicographic minimum; collinear inputs
  return the degenerate out-and-back cycle the aggregate also produces.
- ``simplify_geometry``: distance tolerance 0 returns the input unchanged
  (simplifyGeometry:866); the reference THROWS on negative/NaN tolerance,
  this twin returns NULL (ANSI-on pipelines degrade per-row). The
  reference delegates to Esri's generalize (Douglas-Peucker); this is the
  published Douglas-Peucker directly, endpoints always kept.
- Members that are NULL or have a NULL coordinate (producible by the
  try_cast WKT parsers) are dropped by the hull, simplify and convex-clip
  kernels instead of raising.
"""

from __future__ import annotations

import math
from functools import partial
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StructType, _parse_datatype_string

from .hull import monotone_chain

_PT_TYPE = "struct<x:double,y:double>"
_GEOM_TYPE = f"array<{_PT_TYPE}>"
_POLY_TYPE = f"array<{_GEOM_TYPE}>"
_MPOLY_TYPE = f"array<{_POLY_TYPE}>"
_PIECES_TYPE = (
    f"struct<polys:{_MPOLY_TYPE},lines:array<{_GEOM_TYPE}>,points:{_GEOM_TYPE}>"
)


def _per_row(kernel: Callable, return_type: str, *cols: Column) -> Column:
    """``kernel(*row_values)`` applied to each row of ``cols`` through one
    Arrow-batched pandas UDF. A struct-typed input arrives from Arrow as a
    pandas DataFrame and reaches the kernel as one dict per row. A kernel
    exception makes that row None. For a struct ``return_type`` the kernel
    returns a dict, read by the struct's field names.

    NULL-ness note: a struct-returning pandas UDF carries no row-level
    Arrow validity, so a None row arrives Spark-side as a non-NULL struct
    with all-NULL fields. Callers that need ``isNull()`` on NULL operands
    wrap the call in ``F.when(a.isNotNull() & b.isNotNull(), ...)``;
    consumers detect kernel-exception rows by a NULL field (e.g.
    ``pieces['polys'].isNull()``).

    The UDF is built at call time: pandas_udf parses its DDL return type
    against the active session, so a module-level decorator would fail
    before any session exists."""
    rtype = _parse_datatype_string(return_type)
    names = rtype.names if isinstance(rtype, StructType) else None

    @pandas_udf(rtype)
    def _udf(*s: pd.Series) -> pd.Series:
        rows = [x.to_dict("records") if isinstance(x, pd.DataFrame) else x for x in s]
        out = []
        for args in zip(*rows):
            try:
                out.append(kernel(*args))
            except Exception:
                out.append(None)  # degrade per-row, never fail the job
        if names is None:
            return pd.Series(out, index=s[0].index)
        return pd.DataFrame(
            {n: [None if r is None else r[n] for r in out] for n in names},
            index=s[0].index,
        )

    return _udf(*cols)


def _num(x: Column | float) -> Column:
    return x if isinstance(x, Column) else F.lit(float(x))


def _xy(pts: list) -> list[tuple[float, float]]:
    """(x, y) of each member, dropping NULL members and members with a
    NULL coordinate (try_cast parser residue) instead of raising."""
    return [
        (p["x"], p["y"])
        for p in pts
        if p is not None and p["x"] is not None and p["y"] is not None
    ]


def _hull_one(pts: list) -> list | None:
    if pts is None:
        return None
    xy = _xy(pts)
    if len(xy) <= 1:
        return [{"x": x, "y": y} for x, y in xy]
    hull = monotone_chain([p[0] for p in xy], [p[1] for p in xy])
    cycle = hull + [hull[0]] if len(hull) >= 2 else hull
    return [{"x": x, "y": y} for x, y in cycle]


def st_convex_hull(points: Column) -> Column:
    """stConvexHull (GeoFunctions.java:411) over ``array<struct<x,y>>``:
    the closed hull cycle (counter-clockwise, collinear boundary points
    kept — same chain as convex_hull_agg)."""
    return _per_row(_hull_one, _GEOM_TYPE, points)


def _dp_keep(xs: np.ndarray, ys: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker keep-mask, iterative stack (no recursion limit)."""
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j - i < 2:
            continue
        sx, sy, ex, ey = xs[i], ys[i], xs[j], ys[j]
        mx, my = xs[i + 1 : j], ys[i + 1 : j]
        dx, dy = ex - sx, ey - sy
        seg_len = math.hypot(dx, dy)
        if seg_len == 0.0:  # closed span: plain distance to the point
            dist = np.hypot(mx - sx, my - sy)
        else:
            dist = np.abs((mx - sx) * dy - (my - sy) * dx) / seg_len
        k = int(np.argmax(dist))
        if dist[k] > tol:
            mid = i + 1 + k
            keep[mid] = True
            stack.append((i, mid))
            stack.append((mid, j))
    return keep


def _simplify_one(pts: list, tol: float) -> list | None:
    if pts is None or tol is None or math.isnan(tol) or tol < 0:
        return None
    if tol == 0:
        return pts
    xy = _xy(pts)
    if len(xy) > 2:
        keep = _dp_keep(*np.asarray(xy, dtype=np.float64).T, tol)
        xy = [p for p, k in zip(xy, keep) if k]
    return [{"x": x, "y": y} for x, y in xy]


def simplify_geometry(line: Column, tolerance: Column | float) -> Column:
    """simplifyGeometry (GeoFunctions.java:856): Douglas-Peucker with the
    given distance tolerance; endpoints always kept, tolerance 0 is the
    identity, negative/NaN tolerance yields NULL (reference throws —
    DELTAS)."""
    tol = _num(tolerance).cast("double")
    return _per_row(_simplify_one, _GEOM_TYPE, line, tol)


# --- Convex polygon intersection (Sutherland-Hodgman) ----------------------
# GeoFunctions.java stIntersection (:1019) delegates the polygon/polygon
# case to Esri's general clipper. The planar twin implements the published
# Sutherland-Hodgman algorithm: exact for a CONVEX clip polygon (and the
# convex/convex pairs a blocking pipeline intersects after a bbox
# prefilter); a non-convex SUBJECT is clipped correctly except that
# disconnected results come back joined by degenerate bridge edges — the
# documented S-H limitation (DELTAS). Union / symmetric-difference AREAS
# then follow by inclusion-exclusion without ever materializing the
# non-convex union geometry.


def _close(ring: list[tuple[float, float]]) -> list[tuple[float, float]]:
    return ring + [ring[0]] if ring and ring[-1] != ring[0] else ring


def _open_ccw(ring: list) -> list[tuple[float, float]]:
    """Struct ring -> open vertex list, counter-clockwise. Members with
    NULL coordinates (try_cast parser residue) are dropped, not raised."""
    xy = _xy(ring)
    if len(xy) >= 2 and xy[0] == xy[-1]:
        xy = xy[:-1]
    area2 = sum(
        xy[i][0] * xy[(i + 1) % len(xy)][1] - xy[(i + 1) % len(xy)][0] * xy[i][1]
        for i in range(len(xy))
    )
    return xy[::-1] if area2 < 0 else xy


def _clip_one(subject: list, clip: list) -> list | None:
    if subject is None or clip is None:
        return None
    out = _open_ccw(subject)
    cl = _open_ccw(clip)
    if len(out) < 3 or len(cl) < 3:
        return []
    for i in range(len(cl)):
        ax, ay = cl[i]
        bx, by = cl[(i + 1) % len(cl)]
        inp, out = out, []
        if not inp:
            break

        def inside(p: tuple[float, float]) -> bool:
            # left-of (or on) the CCW clip edge a->b
            return (bx - ax) * (p[1] - ay) - (by - ay) * (p[0] - ax) >= 0

        def cross_pt(p: tuple[float, float], q: tuple[float, float]):
            # t along p->q where cross(b-a, p + t(q-p) - a) = 0
            dcx, dcy = bx - ax, by - ay
            dpx, dpy = q[0] - p[0], q[1] - p[1]
            denom = dcx * dpy - dcy * dpx
            if denom == 0.0:
                # Segment parallel to (i.e. on) the clip line: float noise
                # on a vertex that sits exactly on the line can flag one
                # endpoint as marginally outside. Either endpoint is a
                # valid "crossing" within rounding; keep p.
                return p
            t = (dcy * (p[0] - ax) - dcx * (p[1] - ay)) / denom
            return (p[0] + t * dpx, p[1] + t * dpy)

        for j in range(len(inp)):
            cur, prv = inp[j], inp[j - 1]
            if inside(cur):
                if not inside(prv):
                    out.append(cross_pt(prv, cur))
                out.append(cur)
            elif inside(prv):
                out.append(cross_pt(prv, cur))
    # collapse consecutive duplicates the clip can introduce at vertices
    dedup: list[tuple[float, float]] = []
    for p in out:
        if not dedup or p != dedup[-1]:
            dedup.append(p)
    if len(dedup) >= 2 and dedup[0] == dedup[-1]:
        dedup.pop()
    if len(dedup) < 3:
        return []
    return [{"x": x, "y": y} for x, y in _close(dedup)]


def st_intersection_convex(subject: Column, clip: Column) -> Column:
    """stIntersection (:1019), polygon case with a convex clip ring:
    Sutherland-Hodgman, returning the closed CCW intersection ring (empty
    array when disjoint, NULL on NULL input)."""
    return _per_row(_clip_one, _GEOM_TYPE, subject, clip)


def st_intersection_area_convex(a: Column, b: Column) -> Column:
    """Area of the convex-clip intersection (stIntersection + stArea)."""
    from ..functions.geo import st_area

    return st_area(st_intersection_convex(a, b))


def st_union_area_convex(a: Column, b: Column) -> Column:
    """stUnion area by inclusion-exclusion: |A| + |B| - |A∩B| — exact
    without materializing the (possibly non-convex) union geometry
    (GeoFunctions.java stUnion:675 area analog)."""
    from ..functions.geo import st_area

    return st_area(a) + st_area(b) - st_intersection_area_convex(a, b)


def st_sym_difference_area_convex(a: Column, b: Column) -> Column:
    """stSymDifference (:1099) area analog: |A| + |B| - 2|A∩B|."""
    from ..functions.geo import st_area

    return st_area(a) + st_area(b) - 2.0 * st_intersection_area_convex(a, b)


def st_difference_area_convex(a: Column, b: Column) -> Column:
    """stDifference (:1089) area analog: |A| - |A∩B|."""
    from ..functions.geo import st_area

    return st_area(a) - st_intersection_area_convex(a, b)


# --- general polygon boolean ops (GEOMETRY output) --------------------------
# stUnion (GeoFunctions.java:675) / stIntersection (:1019) / stDifference
# (:1089) / stSymDifference (:1099) for arbitrary (non-convex, holed)
# polygon pairs — the exact-rational planar overlay in
# operators/polygon_overlay.py, Arrow-batched per row. Inputs are holed
# polygons (array<array<struct<x,y>>>), output is the MULTIPOLYGON
# representation (array of holed polygons) — [] when empty, NULL on NULL.


def _overlay_col(a: Column, b: Column, op: str) -> Column:
    from .polygon_overlay import overlay

    return _per_row(partial(overlay, op=op), _MPOLY_TYPE, a, b)


def st_intersection_geom(a: Column, b: Column) -> Column:
    """stIntersection (:1019), general polygon/polygon: exact overlay,
    MULTIPOLYGON-representation output (area pieces only — use
    st_intersection_pieces for the full mixed-dimension result)."""
    return _overlay_col(a, b, "intersection")


def st_intersection_pieces(a: Column, b: Column) -> Column:
    """stIntersection (:1019) with the Esri-complete mixed-dimension
    semantics: the 2D faces PLUS shared boundary segments of edge-adjacent
    operands (LINESTRINGs) and isolated touch points (POINTs) — what the
    reference returns as a lower-dimensional geometry or a
    GEOMETRYCOLLECTION. One struct column: ``polys`` (MULTIPOLYGON repr),
    ``lines`` (array of linestrings), ``points`` (array of points); all
    empty arrays when the operands are disjoint, NULL on NULL input (the
    F.when wrap; see the NULL-ness note on ``_per_row``)."""
    from .polygon_overlay import intersection_pieces

    pieces = _per_row(intersection_pieces, _PIECES_TYPE, a, b)
    return F.when(a.isNotNull() & b.isNotNull(), pieces)


def st_union_geom(a: Column, b: Column) -> Column:
    """stUnion (:675), general polygon/polygon — merges adjacency, plugs
    covered holes, emits true multi-part output for disjoint operands."""
    return _overlay_col(a, b, "union")


def st_difference_geom(a: Column, b: Column) -> Column:
    """stDifference (:1089), general polygon/polygon — can create holes."""
    return _overlay_col(a, b, "difference")


def st_sym_difference_geom(a: Column, b: Column) -> Column:
    """stSymDifference (:1099), general polygon/polygon."""
    return _overlay_col(a, b, "symdifference")


def st_boolean_ops_geom(a: Column, b: Column) -> Column:
    """All four polygon boolean results as one struct column — a single
    arrangement build per row (overlay_all), where four separate *_geom
    calls would redo the exact-arithmetic edge split 4x."""
    from .polygon_overlay import overlay_all

    ret = "struct<inter:{m},uni:{m},diff:{m},sym:{m}>".format(m=_MPOLY_TYPE)
    ops = {
        "inter": "intersection", "uni": "union",
        "diff": "difference", "sym": "symdifference",
    }
    return _per_row(
        lambda x, y: (r := overlay_all(x, y)) and {k: r[op] for k, op in ops.items()},
        ret, a, b,
    )


def st_relate_polygons(a: Column, b: Column) -> Column:
    """stRelate (GeoFunctions.java:1153) for arbitrary polygon pairs with
    holes: the full DE-9IM 9-char matrix, exact, from the overlay
    arrangement (polygon_overlay.relate_polygons). Complements the pure-
    codegen st_relate_envelopes (axis-aligned envelope pairs)."""
    from .polygon_overlay import relate_polygons

    return _per_row(relate_polygons, "string", a, b)


def st_relate_line_polygon(line: Column, poly: Column) -> Column:
    """stRelate for the LINESTRING/POLYGON mixed-dimension pair: exact
    9-char DE-9IM from the split-and-classify walk
    (polygon_overlay.relate_line_polygon)."""
    from .polygon_overlay import relate_line_polygon

    return _per_row(relate_line_polygon, "string", line, poly)


def st_relate_lines(a: Column, b: Column) -> Column:
    """stRelate for two LINESTRINGs: exact 9-char DE-9IM
    (polygon_overlay.relate_lines)."""
    from .polygon_overlay import relate_lines

    return _per_row(relate_lines, "string", a, b)


def st_line_intersection_polygon(line: Column, poly: Column) -> Column:
    """stIntersection for the LINESTRING/POLYGON pair: the in-region parts
    of the line as a MULTILINESTRING (trajectory-to-geofence clip,
    polygon_overlay.clip_line_to_polygon)."""
    from .polygon_overlay import clip_line_to_polygon

    return _per_row(clip_line_to_polygon, _POLY_TYPE, line, poly)


def st_relate_any(ga: Column, gb: Column) -> Column:
    """Generic stRelate over two tagged geometry unions
    (st_geometry_from_text structs): Python-side dispatch to the pair
    kernels with transposition for mirrored orders
    (polygon_overlay.relate_any). Multi-*/collection operands yield NULL
    (COVERAGE 'Out of scope').

    The struct is SLIMMED to (tag, point, line, polygon) before entering
    Arrow: converting the full union's 4-level-nested multipolygon member
    through arrow_to_pandas segfaults the worker (PyArrow nesting-depth
    bug); the dispatcher only needs the simple members, and multi-* tags
    still reach it (as the tag string) to return NULL."""
    from .polygon_overlay import relate_any

    return _per_row(relate_any, "string", _slim(ga), _slim(gb))


def st_erode_polygon(poly: Column, d: Column | float, m: int = 8) -> Column:
    """stBuffer with NEGATIVE distance (erosion) for polygons — the
    morphological complement of st_buffer_polygon's dilation, via
    P minus (boundary stadium union) in the exact overlay
    (polygon_overlay.erode_polygon). Output is the MULTIPOLYGON
    representation (necks narrower than 2d split the polygon); [] when
    fully eroded, NULL on NULL input or non-positive distance."""
    from .polygon_overlay import erode_polygon

    return _per_row(partial(erode_polygon, m=m), _MPOLY_TYPE, poly, _num(d))


def st_intersection_any(ga: Column, gb: Column) -> Column:
    """Generic stIntersection over two tagged geometry unions
    (st_geometry_from_text structs): Python-side dispatch to the
    mixed-dimension pair kernels (polygon_overlay.intersection_any) —
    point/point, point/line, point/polygon, line/line (overlap segments +
    crossing points), line/polygon (clip + boundary touches), and
    polygon/polygon (faces + shared edges + touches). Output is the same
    pieces struct as st_intersection_pieces, so st_collection_of_pieces /
    st_pieces_geometry_type compose. Multi-*/collection operands yield
    NULL (COVERAGE 'Out of scope'). Input structs are slimmed to
    (tag, point, line, polygon) before Arrow (st_relate_any discipline).
    NULL operands yield a genuinely NULL struct via the F.when wrap (see
    the NULL-ness note on ``_per_row``)."""
    from .polygon_overlay import intersection_any

    ga, gb = _slim(ga), _slim(gb)
    pieces = _per_row(intersection_any, _PIECES_TYPE, ga, gb)
    return F.when(ga.isNotNull() & gb.isNotNull(), pieces)


def st_buffer_line(line: Column, r: Column | float, m: int = 8) -> Column:
    """stBuffer, LINESTRING case (GeoFunctions.java stBuffer — the
    reference buffers any geometry via Esri; st_buffer_point covers
    points): per-segment stadium polygons folded through the exact
    overlay union (polygon_overlay.buffer_line). Output is a holed
    polygon (closed rings, CCW exterior); NULL on NULL/degenerate input
    or non-positive radius."""
    from .polygon_overlay import buffer_line

    rad = _num(r).cast("double")
    return _per_row(partial(buffer_line, m=m), _POLY_TYPE, line, rad)


def st_buffer_polygon(poly: Column, r: Column | float, m: int = 8) -> Column:
    """stBuffer, POLYGON case with positive distance (dilation): the
    Minkowski sum with the inscribed 2m-gon disc via the stadium fold
    (polygon_overlay.buffer_polygon). Holes shrink with SHARP corners
    (erosion by a disc) and vanish when narrower than 2r; for negative
    distances use st_erode_polygon (polygon_overlay.erode_polygon)."""
    from .polygon_overlay import buffer_polygon

    rad = _num(r).cast("double")
    return _per_row(partial(buffer_polygon, m=m), _POLY_TYPE, poly, rad)


def st_geometry_union_array(geoms: Column) -> Column:
    """geometry_union (GeoFunctions.java geometryUnion) for an array of
    polygons: the overlay fold over pairwise-disjoint components
    (polygon_overlay.union_many) — MULTIPOLYGON-representation output,
    NULL on a NULL array or member (matching the reference's null-member
    contract)."""
    from .polygon_overlay import union_many

    return _per_row(union_many, _MPOLY_TYPE, geoms)


def _slim(g) -> Column:
    """The (tag, point, line, polygon) struct of a tagged geometry union
    (a struct Column, or a dict of member Columns)."""
    return F.struct(*(g[f].alias(f) for f in ("tag", "point", "line", "polygon")))


def _slim_members(coll: Column) -> Column:
    """Slim each collection member to (tag, point, line, polygon) before
    Arrow — the st_relate_any discipline — and flatten multi-* members
    one level into their simple parts JVM-SIDE (r9: MULTIPOLYGON/
    MULTILINESTRING/MULTIPOINT members participate instead of returning
    NULL). Flattening here keeps the Arrow schema at the simple-member
    depth (shipping the multi payloads nested one level deeper crashes
    the Arrow worker) and keeps the expansion in codegen. A multi member
    with a NULL payload poisons the collection to NULL via flatten's
    null-propagation — the kernel's NULL-for-unsupported convention."""

    def mk(tag, point, line, polygon):
        return _slim(
            {"tag": F.lit(tag), "point": point, "line": line, "polygon": polygon}
        )

    npt = F.lit(None).cast(_PT_TYPE)
    nln = F.lit(None).cast(_GEOM_TYPE)
    npg = F.lit(None).cast(_POLY_TYPE)

    def expand(g):
        simple = F.array(_slim(g))
        mpts = F.transform(g["multipoint"], lambda p: mk("ST_Point", p, nln, npg))
        mlns = F.transform(g["multiline"], lambda ln: mk("ST_LineString", npt, ln, npg))
        mpgs = F.transform(g["multipolygon"], lambda pg: mk("ST_Polygon", npt, nln, pg))
        return (
            F.when(g["tag"] == "ST_MultiPoint", mpts)
            .when(g["tag"] == "ST_MultiLineString", mlns)
            .when(g["tag"] == "ST_MultiPolygon", mpgs)
            .otherwise(simple)
        )

    return F.flatten(F.transform(coll, expand))


def st_relate_collections(ca: Column, cb: Column) -> Column:
    """stRelate over GEOMETRYCOLLECTION operands (st_collection_from_wkt
    arrays) by pairwise member decomposition
    (polygon_overlay.relate_collections) — BEYOND-parity: the reference
    throws on collection operands (GeoFunctions.java:1153-1158 via Esri).
    NULL for NULL/empty collections or non-simple members; see the kernel
    docstring for the separated-members precondition."""
    from .polygon_overlay import relate_collections

    sa, sb = _slim_members(ca), _slim_members(cb)
    return _per_row(relate_collections, "string", sa, sb)


def st_intersection_collections(ca: Column, cb: Column) -> Column:
    """stIntersection over GEOMETRYCOLLECTION operands by pairwise member
    decomposition (polygon_overlay.intersection_collections) — BEYOND-
    parity (the reference throws). Same pieces struct as
    st_intersection_pieces, so st_pieces_geometry_type /
    st_collection_of_pieces compose; NULL operands yield a genuinely NULL
    struct via the F.when wrap (the NULL-ness note on ``_per_row``)."""
    from .polygon_overlay import intersection_collections

    sa, sb = _slim_members(ca), _slim_members(cb)
    pieces = _per_row(intersection_collections, _PIECES_TYPE, sa, sb)
    return F.when(ca.isNotNull() & cb.isNotNull(), pieces)
