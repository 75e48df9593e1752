"""Vectorized numpy geometry kernels — the Shapely stand-in.

The overlay and geometry operators run these inside Arrow-batched
pandas UDFs (never per-row Python UDFs). ``points_in_ring(s)`` is the
reference twin of the native WKB point-in-polygon refine
(operators/spatial_join.pip_join_wkb), which repeats its operation
order in SQL. Each kernel documents which reference operation it
re-expresses.
"""

from __future__ import annotations

import numpy as np


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Ray-cast point-in-polygon for many points against one ring.

    Re-expresses gpd.sjoin 'within' refinement
    (`/root/reference/src/noise_graph_join/utils.py:143-163`).
    ring: (m, 2) closed or open; boundary points follow the ray-cast
    half-open convention (consistent, deterministic).
    """
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    if ring[0, 0] != ring[-1, 0] or ring[0, 1] != ring[-1, 1]:
        x0 = np.append(x0, ring[-1, 0]); y0 = np.append(y0, ring[-1, 1])
        x1 = np.append(x1, ring[0, 0]); y1 = np.append(y1, ring[0, 1])
    px = px[:, None]
    py = py[:, None]
    cond = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        # near-horizontal segments overflow xint to ±inf — the px < xint
        # comparison then resolves the crossing correctly either way
        xint = x0 + (py - y0) * (x1 - x0) / np.where(y1 != y0, y1 - y0, 1.0)
    crossings = cond & (px < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd containment across MANY rings (outer rings + holes of a
    Polygon/MultiPolygon): a point is inside iff it is inside an odd
    number of rings — inside an outer ring but also inside one of its
    hole rings cancels to outside. Matches Shapely/GEOS `within` for
    valid polygons with holes and disjoint multiparts (reference
    polygon layers carry both, noise_data_preprocessing.py:26-41)."""
    inside = np.zeros(len(px), dtype=bool)
    for r in rings:
        inside ^= points_in_ring(px, py, r)
    return inside


def point_segment_dist2(
    px: np.ndarray, py: np.ndarray,
    ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray,
) -> np.ndarray:
    """Squared distance from points to segments, elementwise.

    Backs the DWithin join (reference buffered-edge sjoin,
    `/root/reference/src/green_view_join_v1/green_view_join_v1.py:38-53`):
    dwithin(line, p, d) ⇔ dist2 ≤ d²  — no sqrt, no buffer geometry.
    """
    dx, dy = bx - ax, by - ay
    seg2 = dx * dx + dy * dy
    t = np.where(seg2 > 0, ((px - ax) * dx + (py - ay) * dy) / np.where(seg2 > 0, seg2, 1.0), 0.0)
    t = np.clip(t, 0.0, 1.0)
    cx, cy = ax + t * dx, ay + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2


def polyline_length(coords: np.ndarray) -> float:
    d = np.diff(coords, axis=0)
    return float(np.sqrt((d * d).sum(axis=1)).sum())


def polyline_interpolate(coords: np.ndarray, fracs: np.ndarray) -> np.ndarray:
    """Points at normalized distances ``fracs`` ∈ [0,1] along a polyline.

    Re-expresses Shapely ``line.interpolate(d, normalized=True)`` used
    for sampling-point generation
    (`/root/reference/src/noise_graph_join/utils.py:23-30`).
    Returns (k, 2).
    """
    d = np.diff(coords, axis=0)
    seglen = np.sqrt((d * d).sum(axis=1))
    total = seglen.sum()
    if total == 0:
        return np.repeat(coords[:1], len(fracs), axis=0)
    cum = np.concatenate([[0.0], np.cumsum(seglen)])
    target = fracs * total
    idx = np.clip(np.searchsorted(cum, target, side="right") - 1, 0, len(seglen) - 1)
    local = (target - cum[idx]) / np.where(seglen[idx] > 0, seglen[idx], 1.0)
    return coords[idx] + d[idx] * local[:, None]


def rect_union_area(rects: np.ndarray) -> float:
    """Exact area of the union of axis-aligned rectangles — F10
    dissolve (reference unary_union over overlapping land-cover
    polygons, `land_cover_overlay_analysis.py:58-233`) for the
    rectangular case. Coordinate compression: O(n²) grid cells for n
    rects, n is small per dissolve group after the cell-cover join.

    rects: (n, 4) [minx, miny, maxx, maxy]."""
    if len(rects) == 0:
        return 0.0
    xs = np.unique(np.concatenate([rects[:, 0], rects[:, 2]]))
    ys = np.unique(np.concatenate([rects[:, 1], rects[:, 3]]))
    if len(xs) < 2 or len(ys) < 2:
        return 0.0
    covered = np.zeros((len(xs) - 1, len(ys) - 1), dtype=bool)
    ix0 = np.searchsorted(xs, rects[:, 0])
    ix1 = np.searchsorted(xs, rects[:, 2])
    iy0 = np.searchsorted(ys, rects[:, 1])
    iy1 = np.searchsorted(ys, rects[:, 3])
    for a, b, c, d in zip(ix0, ix1, iy0, iy1):
        covered[a:b, c:d] = True
    w = np.diff(xs)
    h = np.diff(ys)
    return float((covered * np.outer(w, h)).sum())


def rect_union_parts(rects: np.ndarray) -> np.ndarray:
    """Disjoint rectangle decomposition of the union of axis-aligned
    rectangles — the GEOMETRY twin of ``rect_union_area`` (reference
    ``unary_union`` returns the dissolved geometry itself for reuse
    downstream, `get_nodata_areas.py:36-37`). Same coordinate
    compression; per y-strip, consecutive covered x-cells merge into
    maximal runs. Output (k, 4) [minx, miny, maxx, maxy]: pairwise
    disjoint, exact cover (sum of part areas == rect_union_area)."""
    if len(rects) == 0:
        return np.zeros((0, 4))
    xs = np.unique(np.concatenate([rects[:, 0], rects[:, 2]]))
    ys = np.unique(np.concatenate([rects[:, 1], rects[:, 3]]))
    if len(xs) < 2 or len(ys) < 2:
        return np.zeros((0, 4))
    covered = np.zeros((len(xs) - 1, len(ys) - 1), dtype=bool)
    ix0 = np.searchsorted(xs, rects[:, 0])
    ix1 = np.searchsorted(xs, rects[:, 2])
    iy0 = np.searchsorted(ys, rects[:, 1])
    iy1 = np.searchsorted(ys, rects[:, 3])
    for a, b, c, d in zip(ix0, ix1, iy0, iy1):
        covered[a:b, c:d] = True
    out = []
    for j in range(len(ys) - 1):
        col = covered[:, j]
        if not col.any():
            continue
        # maximal runs of covered cells along x
        edges = np.diff(np.concatenate([[0], col.view(np.int8), [0]]))
        starts = np.flatnonzero(edges == 1)
        ends = np.flatnonzero(edges == -1)
        for s, t in zip(starts, ends):
            out.append((xs[s], ys[j], xs[t], ys[j + 1]))
    return np.array(out, dtype=np.float64)


def simplify_rdp(coords: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker polyline simplification (F19 — reference
    `graph_export/utils.py:105-106`, Shapely ``simplify(tol)`` with
    preserve_topology default). Iterative stack, vectorized
    point-to-chord distance per span; endpoints always kept."""
    n = len(coords)
    if n <= 2:
        return coords
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    tol2 = tol * tol
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        seg = coords[a + 1 : b]
        d2 = point_segment_dist2(
            seg[:, 0], seg[:, 1],
            coords[a, 0], coords[a, 1], coords[b, 0], coords[b, 1],
        )
        i = int(np.argmax(d2))
        if d2[i] > tol2:
            m = a + 1 + i
            keep[m] = True
            stack.append((a, m))
            stack.append((m, b))
    return coords[keep]


def ring_points(cx: float, cy: float, radius: float, k: int) -> np.ndarray:
    """k points on the circle boundary around (cx, cy) — the offset-ring
    sampling of the kNN interpolation branch
    (`/root/reference/src/noise_graph_join/utils.py:89-96`, buffer →
    boundary → interpolate; k=20, r=7 at `noise_graph_join.py:75`).
    """
    theta = 2.0 * np.pi * np.arange(k) / k
    return np.column_stack([cx + radius * np.cos(theta), cy + radius * np.sin(theta)])


def shoelace_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return float(abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2.0)


def clip_polygon_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip ``subject`` ring by a CONVEX ``clip`` ring.

    Backs the overlay intersection join (PostGIS ST_Intersection at
    `/root/reference/src/green_view_join_v1/land_cover_overlay_analysis.py:87-143`)
    for convex buffers (rectangles in the synthetic fixtures).
    Returns the (possibly empty) clipped ring, open.
    """
    def _close(r):
        if len(r) and (r[0] != r[-1]).any():
            return r
        return r[:-1] if len(r) else r

    subject = _close(np.asarray(subject, dtype=float))
    clip = _close(np.asarray(clip, dtype=float))
    # Ensure counter-clockwise clip ring so "inside" = left of each edge.
    x, y = clip[:, 0], clip[:, 1]
    if (np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) < 0:
        clip = clip[::-1]
    out = subject
    m = len(clip)
    for i in range(m):
        if len(out) == 0:
            break
        a, b = clip[i], clip[(i + 1) % m]
        ex, ey = b[0] - a[0], b[1] - a[1]
        inp = out
        out_list = []
        prev = inp[-1]

        # side(p) >= 0 means inside (left of a→b for a CCW clip ring)
        def side(p):
            return ex * (p[1] - a[1]) - ey * (p[0] - a[0])

        prev_in = side(prev) >= 0
        for cur in inp:
            cur_in = side(cur) >= 0
            if cur_in != prev_in:
                # intersection of prev→cur with the clip edge line
                dx, dy = cur[0] - prev[0], cur[1] - prev[1]
                denom = ex * dy - ey * dx
                if denom != 0:
                    t = (ex * (a[1] - prev[1]) - ey * (a[0] - prev[0])) / denom
                    out_list.append([prev[0] + t * dx, prev[1] + t * dy])
            if cur_in:
                out_list.append([cur[0], cur[1]])
            prev, prev_in = cur, cur_in
        out = np.asarray(out_list, dtype=float)
    return out


def _open_ring(r: np.ndarray) -> np.ndarray:
    r = np.asarray(r, dtype=float)
    if len(r) > 1 and r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1]:
        return r[:-1]
    return r


def ring_clip_area(ring: np.ndarray, clip: np.ndarray) -> float:
    """Exact area of (interior of one simple ring) ∩ (CONVEX clip ring).

    Works for ARBITRARY simple rings — concave included — via signed
    fan decomposition: for any simple polygon, the indicator function
    equals Σᵢ signᵢ·1_{Tᵢ} over the fan triangles Tᵢ = (v₀, vᵢ, vᵢ₊₁)
    (the shoelace identity applied to indicators), so
    area(ring ∩ C) = |Σᵢ signᵢ · area(Tᵢ ∩ C)| — and every Tᵢ ∩ C is a
    convex∩convex clip the Sutherland–Hodgman kernel already handles.
    This closes the convex-only gap of ``clip_polygon_convex`` as the
    overlay intersection (PostGIS ST_Intersection over arbitrary
    land-cover polygons, reference
    `land_cover_overlay_analysis.py:87-143`)."""
    r = _open_ring(ring)
    if len(r) < 3:
        return 0.0
    total = 0.0
    v0 = r[0]
    for i in range(1, len(r) - 1):
        tri = np.array([v0, r[i], r[i + 1]])
        sa = (
            (tri[1, 0] - tri[0, 0]) * (tri[2, 1] - tri[0, 1])
            - (tri[2, 0] - tri[0, 0]) * (tri[1, 1] - tri[0, 1])
        ) / 2.0
        if sa == 0.0:
            continue
        out = clip_polygon_convex(tri, clip)
        a = shoelace_area(out) if len(out) >= 3 else 0.0
        total += a if sa > 0 else -a
    return abs(total)


def clip_area_rings(parts: list[list[np.ndarray]], clip: np.ndarray) -> float:
    """Area of (Polygon/MultiPolygon with holes) ∩ (convex clip ring).
    ``parts``: list of polygons, each a ring list (outer first, then
    holes — the WKB structural convention, matching
    ``multipolygon_from_wkb``). Valid-geometry semantics: holes
    subtract from their outer (Shapely/GEOS ``intersection().area``)."""
    total = 0.0
    for rings in parts:
        for k, ring in enumerate(rings):
            a = ring_clip_area(ring, clip)
            total += a if k == 0 else -a
    return total


def disk_ring_area_signed(ring: np.ndarray, cx: float, cy: float, r: float) -> float:
    """SIGNED area of (interior of one simple ring) ∩ disk((cx,cy), r),
    sign = ring orientation. Exact (no arc discretization): per edge,
    split at circle crossings; inside-subsegments contribute the
    triangle term ½·cross(u,v), outside-subsegments the circular-sector
    term ½r²·Δθ (Green's theorem around the clipped boundary). The
    classic circle×polygon area algorithm — works for arbitrary simple
    rings, concave included."""
    P = _open_ring(np.asarray(ring, dtype=float)) - np.array([cx, cy])
    n = len(P)
    if n < 3:
        return 0.0
    r2 = r * r
    total = 0.0
    for i in range(n):
        p = P[i]
        q = P[(i + 1) % n]
        d = q - p
        a = d @ d
        ts = []
        if a > 0.0:
            b = 2.0 * (p @ d)
            c = p @ p - r2
            disc = b * b - 4.0 * a * c
            if disc > 0.0:
                sq = np.sqrt(disc)
                for t in ((-b - sq) / (2.0 * a), (-b + sq) / (2.0 * a)):
                    if 0.0 < t < 1.0:
                        ts.append(t)
            ts.sort()
        pts = [p] + [p + t * d for t in ts] + [q]
        for u, v in zip(pts[:-1], pts[1:]):
            m = 0.5 * (u + v)
            if m @ m <= r2:
                total += 0.5 * (u[0] * v[1] - u[1] * v[0])
            else:
                total += 0.5 * r2 * np.arctan2(
                    u[0] * v[1] - u[1] * v[0], u @ v
                )
    return float(total)


def clip_ring_halfplane(
    ring: np.ndarray, ax: float, ay: float, nx: float, ny: float
) -> np.ndarray:
    """Clip a ring to the half-plane {p : (p−a)·n ≤ 0} (one
    Sutherland–Hodgman pass). For concave subjects the output may carry
    zero-width bridges along the clip line — area-exact, which is all
    the capsule kernel needs."""
    P = _open_ring(np.asarray(ring, dtype=float))
    if len(P) < 3:
        return np.zeros((0, 2))
    out: list = []
    prev = P[-1]
    prev_s = (prev[0] - ax) * nx + (prev[1] - ay) * ny
    for cur in P:
        cur_s = (cur[0] - ax) * nx + (cur[1] - ay) * ny
        if (cur_s <= 0.0) != (prev_s <= 0.0):
            t = prev_s / (prev_s - cur_s)
            out.append(prev + t * (cur - prev))
        if cur_s <= 0.0:
            out.append(cur)
        prev, prev_s = cur, cur_s
    return np.asarray(out) if len(out) >= 3 else np.zeros((0, 2))


def capsule_ring_area(
    ring: np.ndarray, x1: float, y1: float, x2: float, y2: float, r: float
) -> float:
    """Exact area of (one simple ring's interior) ∩ capsule(segment,
    r) — the TRUE round-capped buffer (PostGIS/GEOS ST_Buffer
    approximates the caps with quad_segs=8 arcs; this integrates the
    circular boundary exactly). Disjoint decomposition: oriented core
    rectangle + two half-disks beyond the endpoints; the rect part
    reuses the signed-fan convex clip, each cap clips the ring to the
    endpoint's outward half-plane then runs the exact disk
    integration."""
    e1 = np.array([x1, y1])
    e2 = np.array([x2, y2])
    d = e2 - e1
    L = float(np.hypot(d[0], d[1]))
    if L == 0.0:
        return abs(disk_ring_area_signed(ring, x1, y1, r))
    u = d / L
    nrm = np.array([-u[1], u[0]])
    rect = np.array([e1 + r * nrm, e2 + r * nrm, e2 - r * nrm, e1 - r * nrm])
    total = ring_clip_area(ring, rect)
    # cap 1 keeps {(p−e1)·u ≤ 0} (beyond the start), cap 2 keeps
    # {(p−e2)·(−u) ≤ 0} (beyond the end) — disjoint from the core rect
    for cen, (nx, ny) in ((e1, (u[0], u[1])), (e2, (-u[0], -u[1]))):
        clipped = clip_ring_halfplane(ring, cen[0], cen[1], nx, ny)
        if len(clipped) >= 3:
            total += abs(disk_ring_area_signed(clipped, cen[0], cen[1], r))
    return total


def capsule_area_rings(
    parts: list[list[np.ndarray]],
    x1: float, y1: float, x2: float, y2: float, r: float,
) -> float:
    """(Polygon/MultiPolygon with holes) ∩ capsule — ring-structural
    semantics as clip_area_rings (outer adds, holes subtract)."""
    total = 0.0
    for rings in parts:
        for k, ring in enumerate(rings):
            a = capsule_ring_area(ring, x1, y1, x2, y2, r)
            total += a if k == 0 else -a
    return total


def segments_within_rings(
    x1: np.ndarray, y1: np.ndarray, x2: np.ndarray, y2: np.ndarray,
    rings: list[np.ndarray],
) -> np.ndarray:
    """Is each SEGMENT within the (possibly concave, hole-bearing)
    even-odd region bounded by ``rings``? Both endpoints inside
    (even-odd ray cast) AND no proper crossing with any boundary
    segment — for a straight segment and a simple region that is
    exactly geometry-within (a concave region can be exited and
    re-entered between two inside endpoints, which endpoint-only
    testing misses; reference sjoin op='within' over the municipal
    extent polygon, `noise_graph_update.py:36-44`).

    Boundary convention: endpoint-on-boundary resolves by the ray-cast
    half-open rule; crossings use STRICT orientation sign changes
    (touching does not count) — deterministic, and the SQL oracle twin
    (synth.sql_within_rings) is generated from the IDENTICAL float
    expressions so both engines decide every edge case the same way."""
    inside = points_in_rings(x1, y1, rings) & points_in_rings(x2, y2, rings)
    cross_any = np.zeros(len(x1), dtype=bool)
    dx = (x2 - x1)[:, None]
    dy = (y2 - y1)[:, None]
    for r in rings:
        r = np.asarray(r, dtype=float)
        if r[0, 0] != r[-1, 0] or r[0, 1] != r[-1, 1]:
            r = np.vstack([r, r[:1]])
        qx1, qy1 = r[:-1, 0][None, :], r[:-1, 1][None, :]
        qx2, qy2 = r[1:, 0][None, :], r[1:, 1][None, :]
        o1 = dx * (qy1 - y1[:, None]) - dy * (qx1 - x1[:, None])
        o2 = dx * (qy2 - y1[:, None]) - dy * (qx2 - x1[:, None])
        ex = qx2 - qx1
        ey = qy2 - qy1
        o3 = ex * (y1[:, None] - qy1) - ey * (x1[:, None] - qx1)
        o4 = ex * (y2[:, None] - qy1) - ey * (x2[:, None] - qx1)
        cross_any |= ((o1 * o2 < 0) & (o3 * o4 < 0)).any(axis=1)
    return inside & ~cross_any


def poly_union_trapezoids(polys: list[list[np.ndarray]]) -> np.ndarray:
    """Disjoint trapezoid decomposition of the union of GENERAL
    polygons — concave rings, holes, multiparts — extending the
    axis-aligned ``rect_union_parts`` to the reference's real
    ``unary_union`` inputs (`get_nodata_areas.py:36-37`, PostGIS
    ST_Union at `land_cover_overlay_analysis.py:114-129`).

    ``polys``: list of polygons, each a list of rings (outer first,
    holes after — even-odd within one polygon; union across polygons).

    Vertical-slab sweep: breakpoints are every vertex x plus every
    cross-polygon edge-intersection x, so within a slab no two edges
    cross; each slab's spanning edges sort by midpoint height, a
    y-sweep keeps per-polygon even-odd parity, and every maximal
    covered run emits one trapezoid (vertical left/right sides,
    straight top/bottom edges). Output (k, 6) rows
    [x0, x1, yb0, yb1, yt0, yt1]: pairwise disjoint, exact cover.
    O(E²) intersection scan per group — groups are small after the
    cell-cover prefilter, same contract as ``rect_union_parts``."""
    edges = []
    owner = []
    for pi, rings in enumerate(polys):
        for ring in rings:
            r = _open_ring(np.asarray(ring, dtype=float))
            for i in range(len(r)):
                a, b = r[i], r[(i + 1) % len(r)]
                if a[0] != b[0] or a[1] != b[1]:
                    edges.append((a[0], a[1], b[0], b[1]))
                    owner.append(pi)
    if not edges:
        return np.zeros((0, 6))
    E = np.asarray(edges, dtype=np.float64)
    P = np.asarray(owner, dtype=np.int64)
    xs = set(E[:, 0].tolist()) | set(E[:, 2].tolist())
    # cross-polygon proper intersections become slab breakpoints
    n = len(E)
    for i in range(n):
        ax, ay, bx, by = E[i]
        for j in range(i + 1, n):
            if P[i] == P[j]:
                continue
            cx, cy, dx_, dy_ = E[j]
            r1x, r1y = bx - ax, by - ay
            r2x, r2y = dx_ - cx, dy_ - cy
            den = r1x * r2y - r1y * r2x
            if den == 0.0:
                continue
            s = ((cx - ax) * r2y - (cy - ay) * r2x) / den
            u = ((cx - ax) * r1y - (cy - ay) * r1x) / den
            if 0.0 <= s <= 1.0 and 0.0 <= u <= 1.0:
                xs.add(ax + s * r1x)
    xs = np.array(sorted(xs))
    exmin = np.minimum(E[:, 0], E[:, 2])
    exmax = np.maximum(E[:, 0], E[:, 2])
    nonvert = E[:, 0] != E[:, 2]
    nump = len(polys)
    out = []
    for s in range(len(xs) - 1):
        x0, x1 = xs[s], xs[s + 1]
        if x1 <= x0:
            continue
        span = np.flatnonzero((exmin <= x0) & (exmax >= x1) & nonvert)
        if len(span) == 0:
            continue
        ex0, ey0, ex1, ey1 = E[span, 0], E[span, 1], E[span, 2], E[span, 3]
        inv = 1.0 / (ex1 - ex0)
        y_at0 = ey0 + (x0 - ex0) * inv * (ey1 - ey0)
        y_at1 = ey0 + (x1 - ex0) * inv * (ey1 - ey0)
        order = np.argsort(0.5 * (y_at0 + y_at1), kind="stable")
        parity = np.zeros(nump, dtype=bool)
        bottom = -1
        for oi in order:
            was = parity.any()
            pi = P[span[oi]]
            parity[pi] = not parity[pi]
            now = parity.any()
            if not was and now:
                bottom = oi
            elif was and not now:
                if (y_at0[oi] - y_at0[bottom]) + (y_at1[oi] - y_at1[bottom]) > 0:
                    out.append(
                        (x0, x1, y_at0[bottom], y_at1[bottom], y_at0[oi], y_at1[oi])
                    )
                bottom = -1
    return np.asarray(out, dtype=np.float64) if out else np.zeros((0, 6))


def trapezoid_areas(traps: np.ndarray) -> np.ndarray:
    """Areas of poly_union_trapezoids rows."""
    if len(traps) == 0:
        return np.zeros(0)
    return (traps[:, 1] - traps[:, 0]) * (
        (traps[:, 4] - traps[:, 2]) + (traps[:, 5] - traps[:, 3])
    ) / 2.0


def poly_union_area(polys: list[list[np.ndarray]]) -> float:
    """Exact union AREA of general polygons (trapezoid-sweep sum)."""
    return float(trapezoid_areas(poly_union_trapezoids(polys)).sum())
