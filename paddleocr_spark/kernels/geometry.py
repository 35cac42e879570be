"""Pure-NumPy geometry kernels.

Re-implements (from public algorithm descriptions, not by copying) the
geometric primitives the reference gets from cv2 / shapely / pyclipper:

- connected components of a binary map  (cv2.findContours analogue;
  reference use: ``toddleocr/postprocess/db.py:96-101``)
- min-area rotated rectangle             (cv2.minAreaRect;
  ``db.py:143``) via convex hull + rotating calipers
- polygon raster mask mean               (cv2.fillPoly + cv2.mean;
  ``db.py:163-178`` box_score_fast)
- polygon outward offset ("unclip")      (pyclipper offset;
  ``db.py:134-140``) — closed-form for rectangles, which is the only
  shape the quad pipeline feeds it (input is always a minAreaRect box)
- shoelace area / perimeter              (shapely Polygon.area/.length)

These run inside Arrow-batched Python stages on executors; no Spark or
third-party imports beyond NumPy.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "connected_components",
    "convex_hull",
    "min_area_rect",
    "polygon_area",
    "polygon_perimeter",
    "polygon_mask_mean",
    "unclip_rect",
]


def _row_runs(bitmap: np.ndarray):
    """Horizontal runs of a boolean (H, W) map.

    Returns (rows, x0, x1) int arrays, one entry per maximal run of
    consecutive True pixels; x1 is inclusive. Fully vectorized.
    """
    h, w = bitmap.shape
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1 : w + 1] = bitmap.astype(np.int8)
    d = np.diff(padded, axis=1)
    rows_s, starts = np.nonzero(d == 1)
    rows_e, ends = np.nonzero(d == -1)
    # starts/ends are emitted in the same row-major order, so they pair up
    return rows_s, starts, ends - 1


def connected_components(bitmap: np.ndarray, connectivity: int = 8):
    """Label connected foreground regions of a boolean (H, W) map.

    Uses run-based labeling: horizontal runs are extracted vectorized,
    then united across adjacent rows with a small union-find (the number
    of runs is tiny relative to pixels, so the Python loop is cheap).

    Returns a list of components; each component is an (M, 2) int32
    array of candidate boundary points in (x, y) order — the left and
    right endpoint of every run, which is a superset of the convex hull
    of the region and therefore sufficient for ``min_area_rect``.
    Components are ordered by their topmost-then-leftmost run so output
    order is deterministic.
    """
    rows, x0, x1 = _row_runs(bitmap)
    n = len(rows)
    if n == 0:
        return []
    # union-find on a plain Python list: the loop below indexes
    # per-element, where ndarray access pays ~30x per op; the labeling
    # is pure integer logic, so the output is trivially unchanged
    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    # runs arrive sorted row-major; two-pointer sweep row r vs row r+1
    tol = 1 if connectivity == 8 else 0
    row_starts = np.searchsorted(rows, np.arange(bitmap.shape[0] + 1)).tolist()
    x0l = x0.tolist()
    x1l = x1.tolist()
    for r in range(bitmap.shape[0] - 1):
        a, a_end = row_starts[r], row_starts[r + 1]
        b, b_end = row_starts[r + 1], row_starts[r + 2]
        while a < a_end and b < b_end:
            # overlap test with tolerance for 8-connectivity
            if x0l[a] - tol <= x1l[b] and x0l[b] - tol <= x1l[a]:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
            if x1l[a] < x1l[b]:
                a += 1
            else:
                b += 1

    comps: dict[int, list[int]] = {}
    order: list[int] = []
    for i in range(n):
        r = find(i)
        if r not in comps:
            comps[r] = []
            order.append(r)
        comps[r].append(i)
    out = []
    for r in order:
        idx = np.array(comps[r])
        pts = np.empty((2 * len(idx), 2), dtype=np.int32)
        pts[0::2, 0] = x0[idx]
        pts[0::2, 1] = rows[idx]
        pts[1::2, 0] = x1[idx]
        pts[1::2, 1] = rows[idx]
        out.append(pts)
    return out


def _convex_hull_rows(points: np.ndarray) -> list:
    """Andrew's monotone-chain convex hull; points (N, 2) -> list of
    (x, y) float tuples, CCW in image coords (y down), collinear points
    dropped.

    Runs on Python float tuples, not ndarray rows: the stack loop is
    inherently sequential, and numpy-scalar arithmetic on 0-d views is
    ~30x slower per op than float math (this function sat at the top
    of the decode profile). ``sorted(set(...))`` equals
    ``np.unique(axis=0)``'s lexicographic row sort bit-for-bit —
    tuples of float64 compare exactly like the rows they came from."""
    pts = sorted(set(map(tuple, points.astype(np.float64).tolist())))
    if len(pts) <= 2:
        return pts

    def half(seq):
        h: list[tuple[float, float]] = []
        for px, py in seq:
            while len(h) >= 2:
                ox, oy = h[-2]
                ax, ay = h[-1]
                if (ax - ox) * (py - oy) - (ay - oy) * (px - ox) > 0:
                    break
                h.pop()
            h.append((px, py))
        return h

    lower = half(pts)
    upper = half(reversed(pts))
    return lower[:-1] + upper[:-1]


def convex_hull(points: np.ndarray) -> np.ndarray:
    """ndarray wrapper of :func:`_convex_hull_rows` (public API)."""
    return np.array(_convex_hull_rows(points), dtype=np.float64)


def min_area_rect(points: np.ndarray):
    """Minimum-area enclosing rotated rectangle via rotating calipers.

    Returns (corners (4,2) float64, (w, h)) where (w, h) are the side
    lengths of the optimal rectangle. Equivalent to cv2.minAreaRect +
    cv2.boxPoints up to corner order (callers re-order anyway, see
    ``db.get_mini_boxes``).
    """
    hl = _convex_hull_rows(np.asarray(points))
    if len(hl) == 1:
        return np.tile(np.array(hl[0], dtype=np.float64), (4, 1)), (0.0, 0.0)
    if len(hl) == 2:
        a, b = np.array(hl, dtype=np.float64)
        return np.array([a, b, b, a]), (float(np.linalg.norm(b - a)), 0.0)

    hull = np.array(hl)
    # edge/length/direction math on Python floats: subtraction and
    # division are single IEEE ops either way, and the previous
    # np.linalg.norm(edges, axis=1) is the ufunc path — exactly
    # sqrt(ex*ex + ey*ey) per row, no BLAS (measured bit-identical)
    m = len(hl)
    dkeys = []
    for i in range(m):
        nx, ny = hl[(i + 1) % m]
        ex = nx - hl[i][0]
        ey = ny - hl[i][1]
        ln = math.sqrt(ex * ex + ey * ey)
        if ln > 0:
            dkeys.append((ex / ln, ey / ln))
    # NOTE: the per-direction dgemv calls must stay — batching them
    # into one (H,2)@(2,E) dgemm changes last-ulp rounding (FMA paths
    # differ between gemv and gemm) and breaks bit-parity with the
    # materialized goldens. The min/max extraction, however, is
    # comparison-only (no rounding), so builtin min/max over .tolist()
    # is bit-identical to ndarray .min()/.max() and ~3x cheaper on
    # these tiny projections; the u/v buffers are reused across
    # directions (identical contiguous dgemv inputs -> identical
    # results, regardless of which buffer held them).
    # Opposite hull edges yield exactly-negated direction vectors; the
    # projections then negate elementwise and their sums/extrema mirror
    # EXACTLY (IEEE negation is a sign flip), so the candidate area is
    # bitwise identical and — with the strictly-improving `best` rule
    # below — a direction whose negation (or duplicate) already ran can
    # never change the winner. Skipping them halves the gemv calls on
    # the common rectangle hull without touching the selected tuple.
    seen: set[tuple[float, float]] = set()
    best = None
    ubuf = np.empty(2, dtype=np.float64)
    vbuf = np.empty(2, dtype=np.float64)
    for dx, dy in dkeys:
        if (dx, dy) in seen or (-dx, -dy) in seen:
            continue
        seen.add((dx, dy))
        ubuf[0] = dx
        ubuf[1] = dy
        vbuf[0] = -dy
        vbuf[1] = dx
        pu = (hull @ ubuf).tolist()
        pv = (hull @ vbuf).tolist()
        u0 = min(pu)
        u1 = max(pu)
        v0 = min(pv)
        v1 = max(pv)
        w = u1 - u0
        h = v1 - v0
        area = w * h
        if best is None or area < best[0] - 1e-12:
            best = (area, dx, dy, u0, u1, v0, v1, w, h)
    _, dx, dy, u0, u1, v0, v1, w, h = best
    # corner = a*u + b*v assembled with Python floats: numpy's
    # scalar*vector + vector is an unfused per-component
    # multiply-multiply-add, so a*dx + b*(-dy) is the identical IEEE
    # sequence (vbuf[0] held the sign-flipped -dy bit pattern).
    ndy = -dy
    corners = np.array(
        [
            [u0 * dx + v0 * ndy, u0 * dy + v0 * dx],
            [u1 * dx + v0 * ndy, u1 * dy + v0 * dx],
            [u1 * dx + v1 * ndy, u1 * dy + v1 * dx],
            [u0 * dx + v1 * ndy, u0 * dy + v1 * dx],
        ]
    )
    return corners, (w, h)


def polygon_area(poly: np.ndarray) -> float:
    """Shoelace area (absolute value), poly (N, 2)."""
    x = poly[:, 0]
    y = poly[:, 1]
    xn = np.concatenate((x[1:], x[:1]))  # == np.roll(x, -1), faster
    yn = np.concatenate((y[1:], y[:1]))
    return float(abs(np.sum(x * yn - xn * y)) / 2.0)


def polygon_perimeter(poly: np.ndarray) -> float:
    nxt = np.concatenate((poly[1:], poly[:1]))
    return float(np.sum(np.linalg.norm(nxt - poly, axis=1)))


def _point_in_convex_poly_mask(poly: np.ndarray, h: int, w: int) -> np.ndarray:
    """Inclusive point-in-polygon raster over an (h, w) grid for a convex
    polygon given in either winding order. Matches cv2.fillPoly exactly on
    axis-aligned rectangles (boundary pixels included)."""
    # open grids: the per-edge products stay O(h)+O(w), only the final
    # broadcast subtraction touches all h*w cells (identical values to
    # a dense mgrid — broadcasting changes no arithmetic)
    yy = np.arange(h, dtype=np.float64)[:, None]
    xx = np.arange(w, dtype=np.float64)[None, :]
    mask = np.ones((h, w), dtype=bool)
    pl = poly if isinstance(poly, list) else poly.tolist()
    n = len(pl)
    # determine winding via signed area. np.sum reduces contiguous
    # arrays SEQUENTIALLY up to 7 elements (measured: ((t0+t1)+t2)+t3
    # matches np.sum bit-for-bit at n<=7; numpy's 8-way unrolled
    # accumulators kick in at n=8) — replicated here so the sign
    # decision is bit-identical to the previous ndarray formulation
    # for the n <= 4 polygons the det path produces.
    t = [pl[i][0] * pl[(i + 1) % n][1] - pl[(i + 1) % n][0] * pl[i][1]
         for i in range(n)]
    if n <= 7:
        signed = t[0]
        for k in range(1, n):
            signed += t[k]
        signed /= 2.0
    else:
        signed = float(np.sum(np.asarray(t))) / 2.0
    neg = signed < 0
    for i in range(n):
        x0, y0 = pl[i]
        x1, y1 = pl[(i + 1) % n]
        cross = (x1 - x0) * (yy - y0) - (y1 - y0) * (xx - x0)
        # `sign * cross >= 0` without materializing the sign-flipped
        # grid: *1.0 is the identity and *-1.0 only flips signs, so the
        # comparison is exactly `cross >= 0` / `cross <= 0` (NaN-free
        # inputs; ±0.0 satisfies both)
        mask &= (cross <= 0) if neg else (cross >= 0)
    return mask


def polygon_mask_mean(bitmap: np.ndarray, box: np.ndarray) -> float:
    """Mean of ``bitmap`` over the polygon mask of ``box`` clipped to its
    bounding rectangle — the reference's box_score_fast
    (``toddleocr/postprocess/db.py:163-178``)."""
    h, w = bitmap.shape[:2]
    pts = np.asarray(box, dtype=np.float64).tolist()
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    # floor/ceil/min/max/clip on Python floats: exact integer results,
    # identical to the previous np.clip(np.floor/ceil(...)) chain
    xmin = min(max(math.floor(min(xs)), 0), w - 1)
    xmax = min(max(math.ceil(max(xs)), 0), w - 1)
    ymin = min(max(math.floor(min(ys)), 0), h - 1)
    ymax = min(max(math.ceil(max(ys)), 0), h - 1)
    # reference casts the shifted polygon to int32 before rasterizing;
    # float->int32 truncates toward zero exactly as Python int() does
    shifted = [
        [float(int(p[0] - xmin)), float(int(p[1] - ymin))] for p in pts
    ]
    mask = _point_in_convex_poly_mask(shifted, ymax - ymin + 1, xmax - xmin + 1)
    sub = bitmap[ymin : ymax + 1, xmin : xmax + 1]
    cnt = mask.sum()
    if cnt == 0:
        return 0.0
    return float(sub[mask].sum() / cnt)


def unclip_rect(box: np.ndarray, unclip_ratio: float) -> np.ndarray:
    """Outward offset of a rectangle by d = area * ratio / perimeter.

    The reference offsets with pyclipper (round joins) and immediately
    takes the minAreaRect of the result (``db.py:120-121``); for a
    rectangle input — which is the only input in quad mode, since the
    points always come from get_mini_boxes — that composition equals the
    same rectangle grown by d on every side. Computed closed-form here.

    box: (4, 2) rectangle corners (any order produced by min_area_rect).
    Returns (4, 2) float64 expanded corners, same corner order.
    """
    box = np.asarray(box, dtype=np.float64)
    p = box.tolist()
    # shoelace area and perimeter inlined with Python floats in numpy's
    # exact reduction orders (np.sum is sequential at n=4, measured;
    # norm(axis=1) is sqrt(x*x + y*y) per row, no BLAS) — bit-identical
    # to the polygon_area/polygon_perimeter calls they replace.
    t = [p[i][0] * p[(i + 1) % 4][1] - p[(i + 1) % 4][0] * p[i][1]
         for i in range(4)]
    area = abs(((t[0] + t[1]) + t[2]) + t[3]) / 2.0
    ebuf = np.empty(2, dtype=np.float64)
    edges = []
    norms = []
    ulens = []
    for i in range(4):
        ex = p[(i + 1) % 4][0] - p[i][0]
        ey = p[(i + 1) % 4][1] - p[i][1]
        edges.append((ex, ey))
        # TWO distinct edge lengths, replicating the original exactly:
        # the perimeter came from np.linalg.norm(..., axis=1) — the
        # ufunc path, sqrt(ex*ex + ey*ey) — while each normal was
        # divided by np.linalg.norm(e) on a 2-vector — sqrt(BLAS ddot),
        # which rounds differently in the last ulp ~8-25% of the time
        # (FMA). The BLAS dot must stay a BLAS call; norm()'s wrapper
        # overhead is skipped since math.sqrt of the same dot is the
        # same correctly-rounded result.
        ulens.append(math.sqrt(ex * ex + ey * ey))
        ebuf[0] = ex
        ebuf[1] = ey
        norms.append(math.sqrt(float(np.dot(ebuf, ebuf))))
    length = ((ulens[0] + ulens[1]) + ulens[2]) + ulens[3]
    if length == 0:
        return box.copy()
    d = area * unclip_ratio / length
    # Orient normals by the exact winding sign instead of the previous
    # per-corner np.dot(normal, rel) < 0 probe. For the rectangle
    # inputs this kernel is specified for (min_area_rect /
    # get_mini_boxes output, both positively wound in image coords),
    # dot(outward_normal, corner - center) equals the center-to-edge
    # distance = sside/2 > 0, so the probe always chose +normal for a
    # positive winding (and -normal for a negative one) — the branch is
    # decided identically by the winding sign, without 8 BLAS dots and
    # a center mean per call. Zero-area inputs get d == 0 and return
    # the box unchanged either way.
    wind = 1.0 if ((t[0] + t[1]) + t[2]) + t[3] >= 0 else -1.0
    normals = []
    for i in range(4):
        ex, ey = edges[i]
        n = norms[i]
        if n == 0:
            normals.append(None)
        else:
            # np.array([e[1], -e[0]]) / n per component
            normals.append((wind * (ey / n), wind * (-ex / n)))
    out = []
    for i in range(4):
        tx = 0.0
        ty = 0.0
        for normal in (normals[i - 1], normals[i]):
            if normal is None:
                continue
            tx += normal[0]
            ty += normal[1]
        out.append([p[i][0] + d * tx, p[i][1] + d * ty])
    return np.array(out)
