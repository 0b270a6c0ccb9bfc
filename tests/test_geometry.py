"""Golden tests for the grid geometry kernels (polygonize T4, dissolve A1,
area C1) — hand-computed expectations on tiny grids, plus property checks
(area == n_cells for unit cells; WKB round-trip)."""

from __future__ import annotations

import numpy as np
import pytest

from species_range_data_pipeline_spark.functions.geometry import (
    label_components,
    polygonize_cells,
    union_cells_to_multipolygon,
)
from species_range_data_pipeline_spark.functions.wkb import (
    decode,
    encode_polygon,
    ring_signed_area,
    wkb_area,
)


def cells(*rc):
    arr = np.array(rc, dtype=np.int64)
    return arr[:, 0], arr[:, 1]


def test_single_cell():
    parts = polygonize_cells(*cells((0, 0)))
    assert len(parts) == 1
    comp, wkb, n, area = parts[0]
    assert (n, area) == (1, 1.0)
    name, polys = decode(wkb)
    assert name == "Polygon"
    # unit square corners (y = -row convention without nrows)
    assert set(polys[0][0]) == {(0.0, -1.0), (1.0, -1.0), (1.0, 0.0), (0.0, 0.0)}


def test_block_2x2_merges_to_one_square():
    parts = polygonize_cells(*cells((0, 0), (0, 1), (1, 0), (1, 1)))
    assert len(parts) == 1
    _, wkb, n, area = parts[0]
    assert (n, area) == (4, 4.0)
    _, polys = decode(wkb)
    assert len(polys[0]) == 1  # no holes
    assert len(polys[0][0]) == 5  # 4 corners + closing point; collinear collapsed


def test_l_shape_area_and_vertices():
    parts = polygonize_cells(*cells((0, 0), (1, 0), (1, 1)))
    assert len(parts) == 1
    _, wkb, n, area = parts[0]
    assert (n, area) == (3, 3.0)
    _, polys = decode(wkb)
    assert len(polys[0][0]) == 7  # L has 6 corners + closing point


def test_diagonal_cells_are_two_components():
    parts = polygonize_cells(*cells((0, 0), (1, 1)))
    assert len(parts) == 2
    assert all(area == 1.0 for _, _, _, area in parts)


def test_donut_has_hole():
    ring = [(r, c) for r in range(3) for c in range(3) if not (r == 1 and c == 1)]
    parts = polygonize_cells(*cells(*ring))
    assert len(parts) == 1
    _, wkb, n, area = parts[0]
    assert (n, area) == (8, 8.0)
    _, polys = decode(wkb)
    rings = polys[0]
    assert len(rings) == 2
    assert ring_signed_area(rings[0]) == 9.0  # exterior 3x3
    assert ring_signed_area(rings[1]) == -1.0  # CW hole


def test_affine_georeferencing():
    parts = polygonize_cells(*cells((0, 0)), x0=10.0, y0=20.0, cellsize=0.5, nrows=3)
    _, wkb, _, area = parts[0]
    assert area == pytest.approx(0.25)
    _, polys = decode(wkb)
    # row 0 of a 3-row grid is the TOP row: y in [21.0, 21.5]
    assert set(polys[0][0]) == {(10.0, 21.0), (10.5, 21.0), (10.5, 21.5), (10.0, 21.5)}


def test_components_labels_match_bfs_semantics():
    r, c = cells((0, 0), (0, 1), (5, 5), (5, 6), (6, 6))
    labels = label_components(r, c)
    assert labels[0] == labels[1]
    assert labels[2] == labels[3] == labels[4]
    assert labels[0] != labels[2]


def test_random_grids_area_equals_cell_count():
    rng = np.random.RandomState(7)
    for trial in range(20):
        n = rng.randint(1, 120)
        rc = set()
        while len(rc) < n:
            rc.add((int(rng.randint(0, 12)), int(rng.randint(0, 12))))
        rows = np.array([r for r, _ in rc])
        colz = np.array([c for _, c in rc])
        parts = polygonize_cells(rows, colz)
        assert sum(a for _, _, _, a in parts) == pytest.approx(len(rc))
        assert sum(nc for _, _, nc, _ in parts) == len(rc)
        for _, wkb, _, a in parts:
            assert wkb_area(wkb) == pytest.approx(a)


def test_union_cells_dedupes_and_sums():
    rows = np.array([0, 0, 0, 1])
    colz = np.array([0, 0, 2, 2])  # duplicate (0,0); (0,2)+(1,2) connected
    wkb, area, n_parts, n_cells = union_cells_to_multipolygon(rows, colz)
    assert area == 3.0
    assert n_parts == 2
    assert n_cells == 3  # the duplicate (0,0) collapsed
    name, polys = decode(wkb)
    assert name == "MultiPolygon"
    assert len(polys) == 2


def _reference_edges(rows, cols):
    """Directed unit boundary edges (interior on the left, y = -row), from
    each cell's four CCW edges minus the ones a neighbour shares."""
    from collections import Counter

    edges = Counter()
    for r, c in set(zip(rows.tolist(), cols.tolist())):
        corners = [(c, -r - 1), (c + 1, -r - 1), (c + 1, -r), (c, -r)]
        for k in range(4):
            edges[(corners[k], corners[(k + 1) % 4])] += 1
    for (a, b), n in list(edges.items()):
        if (b, a) in edges:
            edges[(a, b)] = 0
    return +edges


def _reference_components(rows, cols) -> int:
    """BFS count of 4-connected components."""
    todo = set(zip(rows.tolist(), cols.tolist()))
    count = 0
    while todo:
        count += 1
        stack = [todo.pop()]
        while stack:
            r, c = stack.pop()
            for nb in ((r + 1, c), (r - 1, c), (r, c + 1), (r, c - 1)):
                if nb in todo:
                    todo.remove(nb)
                    stack.append(nb)
    return count


def _ring_edges(polys):
    """Decoded rings as directed unit edges, each ring segment split into
    unit steps (grid rings: x0=0, y0=0, cellsize=1, no nrows)."""
    from collections import Counter

    edges = Counter()
    for rings in polys:
        for ring in rings:
            assert ring[0] == ring[-1]  # closed
            for (ax, ay), (bx, by) in zip(ring, ring[1:]):
                n = int(abs(bx - ax) + abs(by - ay))
                assert (bx - ax) * (by - ay) == 0 and n > 0  # axis-aligned
                sx, sy = (bx - ax) / n, (by - ay) / n
                for k in range(n):
                    edges[((int(ax + sx * k), int(ay + sy * k)),
                           (int(ax + sx * (k + 1)), int(ay + sy * (k + 1))))] += 1
    return edges


def _check_against_reference(rows, cols):
    wkb, area, n_parts, n_cells = union_cells_to_multipolygon(rows, cols)
    unique = len(set(zip(rows.tolist(), cols.tolist())))
    assert n_cells == unique and area == unique  # n_cells x cellsize^2
    assert n_parts == _reference_components(rows, cols)
    name, polys = decode(wkb)
    assert name == "MultiPolygon" and len(polys) == n_parts
    assert _ring_edges(polys) == _reference_edges(rows, cols)
    for rings in polys:
        # shoelace about the ring's first vertex: exact even at 10^9
        area = [ring_signed_area([(x - h[0][0], y - h[0][1]) for x, y in h]) for h in rings]
        assert area[0] > 0  # exterior CCW
        assert all(a < 0 for a in area[1:])  # holes CW
    return polys


def test_union_kernel_matches_reference_on_seeded_masks():
    """The vectorized kernel against a slow per-cell reference: unit-edge
    multiset, BFS component count, area and ring orientation, on 500
    seeded masks of every density (saddles and holes included)."""
    rng = np.random.default_rng(20261020)
    saddles = holes = 0
    for _ in range(500):
        size = int(rng.integers(2, 16))
        mask = rng.random((size, size)) < rng.uniform(0.05, 0.95)
        rows, cols = np.nonzero(mask)
        if rows.size == 0:
            continue
        polys = _check_against_reference(rows, cols)
        holes += sum(len(rings) - 1 for rings in polys)
        m = mask.astype(int)
        saddles += int(((m[:-1, :-1] & m[1:, 1:] & ~m[:-1, 1:] & ~m[1:, :-1] & 1)
                        | (m[:-1, 1:] & m[1:, :-1] & ~m[:-1, :-1] & ~m[1:, 1:] & 1)).sum())
    assert saddles > 100 and holes > 100  # the hard cases were exercised


def test_union_kernel_checkerboard_and_nested_holes():
    checker = np.add.outer(np.arange(9), np.arange(9)) % 2 == 0
    polys = _check_against_reference(*np.nonzero(checker))
    assert len(polys) == 41  # every cell its own part: saddles never merge
    # a ring of cells around a hole that holds an island
    ring = np.ones((7, 7), dtype=bool)
    ring[1:6, 1:6] = False
    ring[3, 3] = True
    polys = _check_against_reference(*np.nonzero(ring))
    assert sorted(len(rings) for rings in polys) == [1, 2]


def test_union_kernel_on_blob_grid_and_sparse_cells():
    """A smooth-blob presence grid like the benchmark's, and two cells 10^9
    apart: the kernel builds no dense grid (that one would not fit)."""
    r = np.arange(120)[:, None] / 120
    c = np.arange(120)[None, :] / 120
    rng = np.random.default_rng(11)
    field = sum(
        np.exp(-((r - r0) ** 2 + (c - c0) ** 2) / (2 * s ** 2))
        for r0, c0, s in rng.uniform([0.1, 0.1, 0.05], [0.9, 0.9, 0.2], (4, 3))
    )
    rows, cols = np.nonzero(field > np.quantile(field, 0.4))
    _check_against_reference(rows, cols)

    far = np.array([0, 10**9])
    polys = _check_against_reference(far, far)
    assert len(polys) == 2


def test_wkb_roundtrip():
    square = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    wkb = encode_polygon([square])
    name, polys = decode(wkb)
    assert name == "Polygon"
    assert polys[0][0][:4] == square
    assert wkb_area(wkb) == 1.0


def test_spark_polygonize_and_dissolve(spark):
    import pandas as pd

    from species_range_data_pipeline_spark.operators.polygonize import (
        dissolve,
        polygonize,
        with_area,
    )

    pdf = pd.DataFrame(
        {
            "species": ["a"] * 3 + ["b"] * 4,
            "row": [0, 0, 5, 0, 0, 1, 1],
            "col": [0, 1, 5, 0, 1, 0, 1],
        }
    )
    cells_df = spark.createDataFrame(pdf)
    polys = polygonize(cells_df, ["species"]).orderBy("species", "component_id")
    got = [(r.species, r.n_cells, r.area) for r in polys.collect()]
    assert got == [("a", 2, 2.0), ("a", 1, 1.0), ("b", 4, 4.0)]

    dis = dissolve(cells_df.union(cells_df), by=["species"])  # dup rows union out
    got2 = {(r.species): (r.area, r.n_parts) for r in dis.collect()}
    assert got2 == {"a": (3.0, 2), "b": (4.0, 1)}

    with_a = with_area(dis.select("species", "geometry"))
    got3 = {r.species: r.area for r in with_a.collect()}
    assert got3 == {"a": 3.0, "b": 4.0}


def test_dissolve_tiled_matches_dissolve_region(spark):
    """Tiled two-level dissolve: same area + cell count as the single-task
    kernel; parts may split along tile lines (upper bound), and the WKB
    shoelace area agrees with the reported area."""
    from species_range_data_pipeline_spark.functions.wkb import wkb_area
    from species_range_data_pipeline_spark.operators.polygonize import (
        dissolve,
        dissolve_tiled,
    )
    from species_range_data_pipeline_spark.plans.geo import _cells_from_lineitem

    from .conftest import SF_CORRECT

    cells = _cells_from_lineitem(spark, SF_CORRECT)
    plain = {
        (r.species, r.threshold_s): r
        for r in dissolve(cells, ["species", "threshold_s"]).collect()
    }
    tiled = {
        (r.species, r.threshold_s): r
        for r in dissolve_tiled(cells, ["species", "threshold_s"], tile_size=8).collect()
    }
    assert plain.keys() == tiled.keys() and plain
    for k, p in plain.items():
        t = tiled[k]
        assert t.area == p.area, k
        assert t.n_cells == p.n_cells, k
        assert t.n_parts >= p.n_parts, k
        assert abs(wkb_area(bytes(t.geometry)) - t.area) < 1e-9, k


def test_sedona_adapter_degrades_loudly(spark):
    """Sedona is absent in this container: every adapter entry point must
    raise NotImplementedError naming the native fallback, not ImportError."""
    import pytest as _pytest

    from species_range_data_pipeline_spark.operators import sedona_adapter as sa

    df = spark.range(1)
    for call in (
        lambda: sa.register_sedona(spark),
        lambda: sa.to_sedona_geometry(df),
        lambda: sa.from_sedona_geometry(df),
    ):
        with _pytest.raises(NotImplementedError, match="native WKB kernels"):
            call()


def test_simplify_wkb_collinear_exact_and_tolerance():
    """tolerance=0 removes exactly the collinear vertices (area and shape
    preserved bit-exact); a positive tolerance flattens small notches;
    holes survive; a collapsed hole is dropped, never mis-wound."""
    from species_range_data_pipeline_spark.functions.wkb import (
        decode,
        encode_polygon,
        simplify_wkb,
        wkb_area,
    )

    # a 4x4 square traced with a vertex at EVERY cell corner (rectilinear
    # boundary-walk style): 16 edge vertices, only 4 corners meaningful
    steps = [(x, 0.0) for x in range(5)] + [(4.0, y) for y in range(1, 5)] \
        + [(x, 4.0) for x in range(3, -1, -1)] + [(0.0, y) for y in range(3, 0, -1)]
    ring = [(float(a), float(b)) for a, b in steps] + [(0.0, 0.0)]
    hole = [(1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (2.0, 1.0), (1.0, 1.0)]
    wkb = encode_polygon([ring, hole])
    simp = simplify_wkb(wkb, 0.0)
    _, polys = decode(simp)
    assert len(polys[0][0]) == 5  # 4 corners + closure
    assert len(polys[0][1]) == 5  # hole untouched
    assert wkb_area(simp) == wkb_area(wkb) == 15.0

    # a 0.1-deep notch on one edge disappears at tolerance 0.5
    notched = [(0.0, 0.0), (2.0, 0.0), (2.1, 0.05), (2.2, 0.0), (4.0, 0.0),
               (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    nw = simplify_wkb(encode_polygon([notched]), 0.5)
    assert len(decode(nw)[1][0][0]) == 5
    assert abs(wkb_area(nw) - 16.0) < 0.01

    # hole smaller than tolerance collapses away; outer survives
    tiny_hole = [(1.0, 1.0), (1.0, 1.01), (1.01, 1.01), (1.01, 1.0), (1.0, 1.0)]
    hw = simplify_wkb(encode_polygon([ring, tiny_hole]), 0.5)
    _, hp = decode(hw)
    assert len(hp[0]) == 1  # hole gone
    assert wkb_area(hw) == 16.0


def test_with_simplified_flattens_staircase(spark):
    """End to end: the boundary walk already emits minimal vertices for
    rectilinear edges (tolerance=0 is a no-op there — pinned), while a
    positive tolerance flattens a staircase diagonal into few vertices
    with bounded area drift."""
    from species_range_data_pipeline_spark.functions.wkb import decode
    from species_range_data_pipeline_spark.operators.polygonize import (
        dissolve,
        with_area,
        with_simplified,
    )

    # lower-left triangle of a 12x12 grid: the hypotenuse is a staircase
    rows = [("s", r, c) for r in range(12) for c in range(12) if c <= r]
    cells = spark.createDataFrame(rows, "species string, row int, col int")
    out = dissolve(cells, by=["species"]).cache()
    before = out.first()
    n_before = len(decode(bytes(before.geometry))[1][0][0])

    zero = with_area(with_simplified(out, 0.0)).first()
    assert zero.area == before.area  # rectilinear edges: exact no-op
    assert len(bytes(zero.geometry)) == len(bytes(before.geometry))

    simped = with_area(with_simplified(out, 1.5)).first()
    n_after = len(decode(bytes(simped.geometry))[1][0][0])
    assert n_after < n_before / 2  # staircase flattened
    # area drift bounded by ~tolerance per unit of hypotenuse length
    assert abs(simped.area - before.area) <= 12 * 1.5
    out.unpersist()


def test_wkb_area_km2_known_values():
    """Spherical shoelace against closed-form zone areas: a full
    latitude band's area is 2*pi*R^2*(sin(top)-sin(bottom)); a 1x1-degree
    cell at the equator ~12364 km^2, at 60N about half that; holes
    subtract."""
    import math

    from species_range_data_pipeline_spark.functions.wkb import (
        encode_polygon,
        wkb_area_km2,
    )

    R = 6371.0088

    def cell(lon, lat, d=1.0):
        return [(lon, lat), (lon + d, lat), (lon + d, lat + d),
                (lon, lat + d), (lon, lat)]

    # closed form for a lon-slice of a latitude band
    def band(lat0, lat1, dlon):
        return (
            math.radians(dlon) * R * R
            * (math.sin(math.radians(lat1)) - math.sin(math.radians(lat0)))
        )

    eq = wkb_area_km2(encode_polygon([cell(0.0, 0.0)]))
    assert abs(eq - band(0, 1, 1)) < 1e-6
    assert abs(eq - 12364) < 5

    north = wkb_area_km2(encode_polygon([cell(10.0, 60.0)]))
    assert abs(north - band(60, 61, 1)) < 1e-6
    assert north < eq * 0.52  # cos(60) ~ 0.5

    # hole subtracts
    outer = cell(0.0, 0.0, 2.0)
    hole = list(reversed(cell(0.5, 0.5, 1.0)))
    with_hole = wkb_area_km2(encode_polygon([outer, hole]))
    assert abs(with_hole - (band(0, 2, 2) - band(0.5, 1.5, 1))) < 1e-6


def test_wkb_contains_point_ray_cast():
    """Even-odd ray-cast kernel: interior, exterior, hole, island, and
    concave cases over the engine's own WKB encoding."""
    from species_range_data_pipeline_spark.functions.wkb import (
        encode_multipolygon,
        encode_polygon,
        wkb_contains_point,
    )

    square = encode_polygon([[(0, 0), (4, 0), (4, 4), (0, 4)]])
    assert wkb_contains_point(square, 2, 2)
    assert not wkb_contains_point(square, 5, 2)
    assert not wkb_contains_point(square, -1, -1)

    with_hole = encode_polygon(
        [[(0, 0), (4, 0), (4, 4), (0, 4)], [(1, 1), (1, 3), (3, 3), (3, 1)]]
    )
    assert wkb_contains_point(with_hole, 0.5, 0.5)  # ring interior
    assert not wkb_contains_point(with_hole, 2, 2)  # inside the hole

    islands = encode_multipolygon(
        [
            [[(0, 0), (1, 0), (1, 1), (0, 1)]],
            [[(10, 10), (12, 10), (12, 12), (10, 12)]],
        ]
    )
    assert wkb_contains_point(islands, 0.5, 0.5)
    assert wkb_contains_point(islands, 11, 11)
    assert not wkb_contains_point(islands, 5, 5)

    # concave L-shape: the notch is outside even though its bbox isn't
    ell = encode_polygon([[(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3)]])
    assert wkb_contains_point(ell, 0.5, 2.5)
    assert wkb_contains_point(ell, 2.5, 0.5)
    assert not wkb_contains_point(ell, 2.5, 2.5)  # the notch


def test_wkb_contains_matches_dissolve_cells(spark):
    """The lattice identity the geo_point_in_polygon oracle rests on:
    cell (r, c) present in the dissolve input <=> its center probe
    (c+0.5, -r-0.5) is contained in the dissolved multipolygon."""
    from species_range_data_pipeline_spark.functions.wkb import (
        wkb_contains_point,
    )
    from species_range_data_pipeline_spark.operators.polygonize import dissolve

    present = {(0, 0), (0, 1), (1, 1), (3, 3), (3, 4), (4, 3), (4, 4), (6, 0)}
    cells = spark.createDataFrame(
        [("s", "t", r, c) for r, c in present],
        "species string, threshold_s string, row int, col int",
    )
    g = bytes(
        dissolve(cells, by=["species", "threshold_s"], num_partitions=1)
        .collect()[0]
        .geometry
    )
    for r in range(8):
        for c in range(8):
            assert wkb_contains_point(g, c + 0.5, -r - 0.5) == (
                (r, c) in present
            ), (r, c)


def test_vectorized_ray_cast_matches_scalar_on_random_lattices():
    """wkb_contains_points / wkb_rasterize_lattice (the r8 numpy-broadcast
    kernel behind the geo overlays) must agree point-for-point with the
    scalar wkb_contains_point on random lattice geometries — holes,
    islands, and single cells included."""
    from species_range_data_pipeline_spark.functions.wkb import (
        wkb_contains_point,
        wkb_contains_points,
        wkb_rasterize_lattice,
    )

    rng = np.random.default_rng(8)
    grid = 12
    for density in (0.05, 0.3, 0.7, 0.95):
        keep = rng.random((grid, grid)) < density
        rows, cols = np.nonzero(keep)
        if rows.size == 0:
            continue
        wkb, _, _, n_cells = union_cells_to_multipolygon(rows, cols)
        mask = wkb_rasterize_lattice(wkb, grid)
        # exact recovery of the presence set
        assert mask.sum() == n_cells
        assert np.array_equal(mask, keep)
        # point-for-point agreement with the scalar kernel, on centers
        # AND on off-center interior probes
        xs = np.array([c + 0.5 for c in range(grid) for _ in range(grid)])
        ys = np.array([-r - 0.5 for _ in range(grid) for r in range(grid)])
        jitter = rng.uniform(-0.49, 0.49, size=xs.shape)
        for px, py in ((xs, ys), (xs + jitter, ys + jitter[::-1])):
            vec = wkb_contains_points(wkb, px, py)
            scalar = np.array(
                [wkb_contains_point(wkb, x, y) for x, y in zip(px, py)]
            )
            assert np.array_equal(vec, scalar)


def test_vectorized_ray_cast_non_lattice_polygon():
    """The vectorized kernel is not lattice-specific: agree with the
    scalar kernel on a triangle with a triangular hole."""
    from species_range_data_pipeline_spark.functions.wkb import (
        wkb_contains_point,
        wkb_contains_points,
    )

    outer = [(0.0, 0.0), (10.0, 0.0), (5.0, 9.0)]
    hole = [(4.0, 2.0), (6.0, 2.0), (5.0, 4.0)]
    wkb = encode_polygon([outer, hole[::-1]])
    rng = np.random.default_rng(42)
    xs = rng.uniform(-1, 11, 500)
    ys = rng.uniform(-1, 10, 500)
    vec = wkb_contains_points(wkb, xs, ys)
    scalar = np.array([wkb_contains_point(wkb, x, y) for x, y in zip(xs, ys)])
    assert np.array_equal(vec, scalar)
    assert vec.any() and not vec.all()


def test_range_overlap_bbox_prefilter_in_plan(spark):
    """The r8 bbox prefilter must appear JVM-side AHEAD of the Python
    overlay stage: the physical plan contains a Filter on the box
    columns feeding the rasterizing stage, plus the disjoint branch
    that never reaches Python (VERDICT r7 next #6)."""
    from species_range_data_pipeline_spark.plans.geo import geo_range_overlap

    df = geo_range_overlap(spark, "/root/testdata/sf0.001")
    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    assert "max_r_a" in plan and "min_r_b" in plan
    # union of the python overlay branch and the JVM-only disjoint branch
    assert "Union" in plan
    rows = {(r.species_a, r.species_b): r for r in df.collect()}
    for (sa, sb), r in rows.items():
        assert sa < sb
        assert r.n_union >= r.n_inter >= 0


def test_range_overlap_disjoint_branch_distinct_counts(spark):
    """ADVICE r8 high: the disjoint-box short-circuit emits
    n_union = n_a + n_b from the box aggregation, which must count
    DISTINCT cells — species X below occupies 2 distinct cells via 5
    duplicate rows (lineitem-style multiplicity).  X's box [0..1] is
    disjoint from Y's [5..6], so the pair takes the JVM branch; a raw
    count(*) would report n_union = 5 + 3 = 8 instead of 4."""
    from species_range_data_pipeline_spark.plans.geo import (
        _range_overlap_from_cells,
    )

    rows = (
        # species X: cells (0,0) and (1,1); (0,0) appears 4x
        [("X", 0, 0)] * 4 + [("X", 1, 1)]
        # species Y: cells (5,5) and (6,6); (5,5) appears 2x
        + [("Y", 5, 5)] * 2 + [("Y", 6, 6)]
        # species Z overlaps X so the rasterized branch also runs
        + [("Z", 0, 0), ("Z", 1, 0)]
    )
    cells = spark.createDataFrame(rows, "species string, row int, col int")
    out = {
        (r.species_a, r.species_b): r
        for r in _range_overlap_from_cells(cells).collect()
    }
    assert set(out) == {("X", "Y"), ("X", "Z"), ("Y", "Z")}
    xy = out[("X", "Y")]
    assert (xy.n_inter, xy.n_union, xy.jaccard) == (0, 4, 0.0)
    yz = out[("Y", "Z")]
    assert (yz.n_inter, yz.n_union, yz.jaccard) == (0, 4, 0.0)
    xz = out[("X", "Z")]
    assert (xz.n_inter, xz.n_union) == (1, 3)

def test_range_overlap_bands_drives_disjoint_branch_on_fixture(spark):
    """VERDICT r9 next #4: the driver-facing banded query must itself
    contain bbox-disjoint pairs (n_inter=0) — every cross-band pair —
    alongside rasterized within-band pairs, so the short-circuit is
    exercised end-to-end on the real fixture, not only synthetic cells."""
    from species_range_data_pipeline_spark.plans.geo import (
        geo_range_overlap_bands,
    )

    rows = {
        (r.species_a, r.species_b): r
        for r in geo_range_overlap_bands(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(rows) == 15  # C(6,2) band-unit pairs, full universe
    cross = {
        k: v for k, v in rows.items()
        if k[0].rsplit("_", 1)[1] != k[1].rsplit("_", 1)[1]
    }
    assert len(cross) == 9
    for r in cross.values():  # disjoint short-circuit rows
        assert (r.n_inter, r.jaccard) == (0, 0.0)
    within = [v for k, v in rows.items() if k not in cross]
    assert len(within) == 6
    assert any(r.n_inter > 0 for r in within)  # rasterized branch ran


def test_dissolve_auto_dispatches_on_group_size(spark):
    """Size-based dissolve dispatch (VERDICT r12 #3, SCALE.md rule 49).

    Below the threshold the returned plan must be BYTE-IDENTICAL to
    plain ``dissolve`` (the dispatch adds a sizing job, never a plan
    change); above it, the tiled kernel must be selected (tile keys in
    the plan, same area/cell count, parts split along tile edges)."""
    import pandas as pd

    from species_range_data_pipeline_spark.operators.polygonize import (
        dissolve,
        dissolve_auto,
        dissolve_tiled,
    )

    pdf = pd.DataFrame(
        {
            "species": ["a"] * 6 + ["b"] * 2,
            "row": [0, 0, 0, 1, 1, 1, 7, 7],
            "col": [0, 1, 2, 0, 1, 2, 7, 8],
        }
    )
    cells = spark.createDataFrame(pdf)

    def plan(df):
        # expression ids (#NN) auto-increment per session; strip them so
        # "byte-identical" means identical plan STRUCTURE + expressions
        import re

        return re.sub(
            r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString()
        )

    # below threshold: same plan as the plain kernel, byte for byte
    auto_small = dissolve_auto(cells, ["species"], threshold_cells=100)
    assert plan(auto_small) == plan(dissolve(cells, ["species"]))

    # above threshold (largest group = 6 raw rows > 4): tiled kernel
    auto_big = dissolve_auto(
        cells, ["species"], threshold_cells=4, tile_size=2
    )
    assert "_tile_r" in plan(auto_big)
    assert plan(auto_big) == plan(
        dissolve_tiled(cells, ["species"], tile_size=2)
    )
    got = {r.species: (r.area, r.n_cells) for r in auto_big.collect()}
    ref = {
        r.species: (r.area, r.n_cells)
        for r in dissolve(cells, ["species"]).collect()
    }
    assert got == ref

    # duplicates inflate the raw-count upper bound -> conservative
    # routing to tiled even though unique cells (8) <= threshold (9)
    auto_dup = dissolve_auto(
        cells.union(cells), ["species"], threshold_cells=9, tile_size=2
    )
    assert "_tile_r" in plan(auto_dup)
