"""Grid geometry kernels: connected components, boundary tracing, polygonize.

This is the engine's replacement for ``arcpy.RasterToPolygon_conversion``
(operator T4, ``species_range_etl.py:127``) and the geometric half of the
dissolve (A1, ``:205``).  The model is SURVEY.md §1.3 option (b): a raster is
long-format cell rows; polygonization is per-group numpy (driven from Spark
via applyInPandas in operators/polygonize.py).

Algorithm (numpy, no GEOS, no per-cell Python loop, no dense grid):
1. Unique cells sorted row-major on a packed int64 key.  Each axis is
   gap-compressed first (consecutive values stay consecutive, larger gaps
   shrink to 2), so adjacency is kept and the key fits int64 however sparse
   the cells are: memory and time stay O(n log n).
2. Right/down neighbours by ``np.searchsorted`` on the keys; 4-connected
   components by hooking roots onto the smaller root plus pointer jumping.
3. Boundary edges from the neighbour masks: each cell side with no cell
   across it, directed so the interior is on the LEFT — outer rings come out
   CCW, holes CW.
4. One successor edge per edge at its end vertex.  At a saddle vertex (two
   diagonal cells touching) the leftmost turn wins, which keeps diagonally
   touching components apart (4-connectivity).  Straight runs are jumped, so
   only corner vertices are kept (no collinear vertices).
5. A Python loop over corner edges closes the rings; rings group by the
   component of their cells, exterior (CCW) first, then the holes.

Cell (row, col) maps to x in [col, col+1]; callers pass an affine
(x0, y0, cellsize, nrows) so output coordinates are georeferenced like the
reference's rasters.
"""

from __future__ import annotations

import struct

import numpy as np

from .wkb import _MULTIPOLYGON, _POLYGON

# Corner k of a cell in (col, row) offsets, row growing downwards: CCW from
# the bottom-left.  Boundary edge d runs from corner d to corner d+1, so in
# y-up space its direction is d = 0 +x, 1 +y, 2 -x, 3 -y and a left turn is
# d+1.  Edge d exists where the cell has no neighbour below (0), right (1),
# above (2) or left (3).
_CORNER_DC = np.array([0, 1, 1, 0])
_CORNER_DR = np.array([1, 1, 0, 0])


def _compress(v: np.ndarray) -> np.ndarray:
    """Monotone relabel to 1, 2, ...: neighbouring values stay neighbours,
    gaps shrink to 2.  Leaves 0 free below and the span at most 2n."""
    u, inv = np.unique(v, return_inverse=True)
    step = np.where(np.diff(u) == 1, 1, 2)
    return np.concatenate(([1], 1 + np.cumsum(step)))[inv]


def _lattice(rows, cols):
    """Unique cells, row-major.  Returns original (r, c), compressed
    (rr, cc), the row stride ``w`` of the packed key ``rr * w + cc``, the
    right and down neighbour index of each cell (-1 where absent) and the
    inverse map from the input positions to the unique cells."""
    rows = np.asarray(rows, dtype=np.int64)
    cols = np.asarray(cols, dtype=np.int64)
    rr, cc = _compress(rows), _compress(cols)
    w = int(cc.max()) + 2  # vertex columns reach cc + 1 < w
    key, first, inv = np.unique(rr * w + cc, return_index=True, return_inverse=True)
    n = len(key)
    neighbours = []
    for offset in (1, w):
        probe = key + offset
        pos = np.minimum(np.searchsorted(key, probe), n - 1)
        neighbours.append(np.where(key[pos] == probe, pos, -1))
    right, down = neighbours
    return rows[first], cols[first], rr[first], cc[first], w, right, down, inv


def _components(right: np.ndarray, down: np.ndarray) -> np.ndarray:
    """Component labels 0..k-1, numbered by each component's first cell."""
    a = np.concatenate((np.flatnonzero(right >= 0), np.flatnonzero(down >= 0)))
    b = np.concatenate((right[right >= 0], down[down >= 0]))
    parent = np.arange(len(right))
    while a.size:
        pa, pb = parent[a], parent[b]
        split = pa != pb
        a, b, pa, pb = a[split], b[split], pa[split], pb[split]
        # hook each root onto a smaller one, then jump to the roots: a
        # component's smallest cell is never hooked, so it ends as the root
        parent[np.maximum(pa, pb)] = np.minimum(pa, pb)
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    return np.unique(parent, return_inverse=True)[1]


def label_components(rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """4-connected component label of each input cell (duplicates share
    one); components are numbered in row-major order of their first cell."""
    if len(rows) == 0:
        return np.zeros(0, dtype=np.int64)
    *_, right, down, inv = _lattice(rows, cols)
    return _components(right, down)[inv]


def _polygons(rows, cols, x0, y0, cellsize, nrows):
    """Kept cells -> (polygon WKB per component, cells per component).

    Components are numbered in row-major order of their first cell; each
    polygon holds its exterior ring, then its holes."""
    r, c, rr, cc, w, right, down, _ = _lattice(rows, cols)
    labels = _components(right, down)

    # 3. boundary edges, grouped by direction then cell
    open_ = np.ones((4, len(r)), dtype=bool)
    open_[0] = down < 0
    open_[1] = right < 0
    open_[2, down[down >= 0]] = False
    open_[3, right[right >= 0]] = False
    d, cell = np.nonzero(open_)
    d_end = (d + 1) & 3
    start = (rr[cell] + _CORNER_DR[d]) * w + cc[cell] + _CORNER_DC[d]
    end = (rr[cell] + _CORNER_DR[d_end]) * w + cc[cell] + _CORNER_DC[d_end]

    # 4. successor at the end vertex; a saddle offers two, take the left turn
    n_edges = len(d)
    order = np.argsort(start, kind="stable")
    first = np.searchsorted(start[order], end)
    second = np.minimum(first + 1, n_edges - 1)
    saddle = (first + 1 < n_edges) & (start[order[second]] == end)
    nxt = order[first]
    nxt = np.where(saddle & (d[nxt] != d_end), order[second], nxt)
    corner = d[nxt] != d  # the edge's end vertex is a ring vertex
    jump = nxt.copy()
    while True:
        straight = ~corner[jump]
        if not straight.any():
            break
        jump[straight] = jump[jump[straight]]
    corners = np.flatnonzero(corner)
    succ = np.searchsorted(corners, jump[corners]).tolist()

    # 5. close the rings: positions into ``corners``, ring after ring
    seen = bytearray(len(succ))
    walk: list[int] = []
    ring_start: list[int] = []
    for s in range(len(succ)):
        if seen[s]:
            continue
        ring_start.append(len(walk))
        i = s
        while not seen[i]:
            seen[i] = 1
            walk.append(i)
            i = succ[i]
    e = corners[np.asarray(walk)]
    starts = np.asarray(ring_start)
    ends = np.append(starts[1:], len(e))
    vc_cmp = cc[cell[e]] + _CORNER_DC[d_end[e]]
    vr_cmp = rr[cell[e]] + _CORNER_DR[d_end[e]]
    # orientation from the compressed lattice (exact, and monotone per axis
    # so the sign is the real ring's): twice the y-up signed area
    succ_v = np.arange(1, len(e) + 1)
    succ_v[ends - 1] = starts
    twice = np.add.reduceat(vc_cmp[succ_v] * vr_cmp - vc_cmp * vr_cmp[succ_v], starts)
    ring_comp = labels[cell[e[starts]]]
    exterior = twice > 0
    n_comp = int(labels.max()) + 1
    if not np.array_equal(np.bincount(ring_comp[exterior], minlength=n_comp), np.ones(n_comp)):
        raise ValueError("a component without exactly one exterior ring — cells inconsistent")

    # georeference the ring vertices, each ring closed by its first vertex
    vx = c[cell[e]] + _CORNER_DC[d_end[e]]
    vrow = r[cell[e]] + _CORNER_DR[d_end[e]]
    x = x0 + vx * cellsize
    y = y0 + ((nrows - vrow) if nrows is not None else -vrow) * cellsize
    closed = np.insert(np.arange(len(e)), ends, starts)
    xy = np.empty((len(closed), 2), dtype="<f8")
    xy[:, 0], xy[:, 1] = x[closed], y[closed]
    offsets = (starts + np.arange(len(starts))).tolist()
    lengths = (ends - starts + 1).tolist()

    ring_order = np.lexsort((~exterior, ring_comp))  # stable: holes keep walk order
    rings_per_comp = np.bincount(ring_comp, minlength=n_comp).tolist()
    polygons = []
    k = 0
    for n_rings in rings_per_comp:
        out = [struct.pack("<BII", 1, _POLYGON, n_rings)]
        for i in ring_order[k:k + n_rings].tolist():
            o, n = offsets[i], lengths[i]
            out.append(struct.pack("<I", n))
            out.append(xy[o:o + n].tobytes())
        polygons.append(b"".join(out))
        k += n_rings
    return polygons, np.bincount(labels)


def polygonize_cells(
    rows: np.ndarray,
    cols: np.ndarray,
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
) -> list[tuple[int, bytes, int, float]]:
    """Polygonize kept cells -> [(component_id, polygon_wkb, n_cells, area)].

    Duplicate cells count once.  Affine: x = x0 + col*cellsize;
    y = y0 + (nrows - row - 1)*cellsize when ``nrows`` given (ASCII-grid
    row order, ``species_range_etl.py:59-74``), else y = -row*cellsize.
    ``area`` is ``n_cells * cellsize**2``, the exact area of the rings.
    """
    if len(rows) == 0:
        return []
    polygons, counts = _polygons(rows, cols, x0, y0, cellsize, nrows)
    return [
        (comp, wkb, int(n), float(n) * cellsize * cellsize)
        for comp, (wkb, n) in enumerate(zip(polygons, counts.tolist()))
    ]


def union_cells_to_multipolygon(
    rows: np.ndarray,
    cols: np.ndarray,
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
) -> tuple[bytes, float, int, int]:
    """Geometric union in cell space (the dissolve kernel, A1): dedupe cells,
    polygonize, emit (MultiPolygon WKB, total area, polygon count,
    unique-cell count)."""
    if len(rows) == 0:
        return struct.pack("<BII", 1, _MULTIPOLYGON, 0), 0.0, 0, 0
    polygons, counts = _polygons(rows, cols, x0, y0, cellsize, nrows)
    n_cells = int(counts.sum())
    wkb = struct.pack("<BII", 1, _MULTIPOLYGON, len(polygons)) + b"".join(polygons)
    return wkb, float(n_cells) * cellsize * cellsize, len(polygons), n_cells
