"""Geometry operators exposed on the fixture tables (T4 polygonize, A1
dissolve, C1 area — SURVEY.md §2).

There is no raster fixture, so a deterministic grid is derived from
lineitem: cell (l_orderkey % 32, l_partkey % 32) with presence value
l_quantity / 50 — the same species x threshold x cells shape the reference
processes.  The REAL geometry kernels run (applyInPandas -> numpy
polygonize/union); the DuckDB oracle checks every numeric output
(n_cells via count-distinct, area == n_cells x cellsize^2 for the unit
lattice — the identity the pytest goldens prove for the kernels).  The WKB
geometry itself is covered by tests/test_geometry.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.polygonize import dissolve, polygonize
from ..functions.materialize import materialize_once

_GRID = 32


def _cells_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.withColumn(
            "threshold", F.explode(F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
        )
        .where((F.col("l_quantity") / F.lit(50.0)) >= F.col("threshold"))
        .select(
            F.col("l_returnflag").alias("species"),
            (F.col("threshold") * 100).cast("int").cast("string").alias("threshold_s"),
            (F.col("l_orderkey") % _GRID).cast("int").alias("row"),
            (F.col("l_partkey") % _GRID).cast("int").alias("col"),
        )
    )


def geo_dissolve_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+C1: grouped geometric union and its area, numerics oracle-checked."""
    # many lineitems share a cell: distinct() collapses them map-side,
    # before the dissolve's own exchange (which shuffles every input row)
    cells = _cells_from_lineitem(spark, sf_dir).distinct()
    # 3 flags x 3 thresholds = 9 groups: cap the Python stage at 9 tasks
    out = dissolve(cells, by=["species", "threshold_s"], num_partitions=9)
    return (
        out.select(
            "species",
            F.col("threshold_s").alias("threshold"),
            "n_cells",
            F.round("area", 2).alias("area"),
        )
        .orderBy("species", "threshold")
    )


GEO_DISSOLVE_ORACLE = f"""
WITH cells AS (
    SELECT DISTINCT l_returnflag AS species,
           CAST(CAST(threshold * 100 AS INTEGER) AS VARCHAR) AS threshold,
           l_orderkey % {_GRID} AS row,
           l_partkey % {_GRID} AS col
    FROM lineitem
    CROSS JOIN (VALUES (0.25), (0.5), (0.75)) AS t(threshold)
    WHERE l_quantity / 50.0 >= threshold
)
SELECT species, threshold,
       count(*) AS n_cells,
       round(count(*) * 1.0, 2) AS area
FROM cells
GROUP BY species, threshold
ORDER BY species, threshold
"""


def geo_polygonize_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: connected-component polygonization per (species, threshold).

    Oracle-checked via a recursive-CTE min-label propagation (DuckDB): the
    component COUNTS/SIZES/AREAS of the numpy boundary-walk kernel must
    equal pure-SQL 4-connectivity — the propagation prune (only labels
    smaller than the target cell's id move) is sound because a component's
    minimum is smaller than every other member.  The WKB geometry itself
    stays golden-tested in tests/test_geometry.py.
    """
    cells = _cells_from_lineitem(spark, sf_dir).distinct()
    out = polygonize(cells, ["species", "threshold_s"], num_partitions=9)
    return (
        out.groupBy("species", F.col("threshold_s").alias("threshold"))
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.sum("n_cells").alias("n_cells"),
            F.round(F.sum("area"), 2).alias("area"),
            F.max("n_cells").alias("largest_component"),
        )
        .orderBy("species", "threshold")
    )


GEO_POLYGONIZE_ORACLE = f"""
WITH RECURSIVE cells AS (
    SELECT DISTINCT l_returnflag AS species,
           CAST(CAST(threshold * 100 AS INTEGER) AS VARCHAR) AS threshold,
           l_orderkey % {_GRID} AS row, l_partkey % {_GRID} AS col
    FROM lineitem
    CROSS JOIN (VALUES (0.25), (0.5), (0.75)) AS t(threshold)
    WHERE l_quantity / 50.0 >= threshold
), reach AS (
    SELECT species, threshold, row, col, row * {_GRID} + col AS lbl FROM cells
    UNION
    SELECT c.species, c.threshold, c.row, c.col, r.lbl
    FROM reach r
    JOIN cells c ON c.species = r.species AND c.threshold = r.threshold
     AND ((abs(c.row - r.row) = 1 AND c.col = r.col)
          OR (c.row = r.row AND abs(c.col - r.col) = 1))
    WHERE r.lbl < c.row * {_GRID} + c.col
), lab AS (
    SELECT species, threshold, row, col, min(lbl) AS comp
    FROM reach GROUP BY 1, 2, 3, 4
), comps AS (
    SELECT species, threshold, comp, count(*) AS n FROM lab GROUP BY 1, 2, 3
)
SELECT species, threshold,
       count(*) AS n_components,
       CAST(sum(n) AS BIGINT) AS n_cells,
       round(CAST(sum(n) AS DOUBLE), 2) AS area,
       CAST(max(n) AS BIGINT) AS largest_component
FROM comps GROUP BY 1, 2
ORDER BY species, threshold
"""


def geo_spatial_join_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-rectangle spatial join via BIN-AND-REFINE — the stock-Spark
    form of `ST_Contains` over big data (the reference does geometry work
    per-file with arcpy; an engine needs the set-based join).

    Points (one per lineitem row) and supplier-derived query rectangles are
    both assigned 10x10 grid tiles; rectangles explode to every tile they
    overlap, points to exactly one.  The join is then an EQUI-join on the
    tile id plus an exact containment refine — Catalyst gets a hashable
    key, so at 100 TB this shuffles once on tile instead of planning the
    raw BETWEEN predicates as a broadcast nested-loop over everything.
    Tile size trades fan-out (rect duplication) against refine selectivity,
    exactly like Sedona's grid partitioner.  A point lands in ONE tile, so
    no post-join dedup is needed.  The oracle runs the brute-force theta
    join — same rows, quadratic plan — which is the point.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    pts = lineitem.select(
        (F.col("l_orderkey") % 100).alias("px"),
        (F.col("l_partkey") % 100).alias("py"),
    )
    rects = supplier.select(
        "s_suppkey",
        (F.col("s_suppkey") * 7 % 90).alias("xmin"),
        (F.col("s_suppkey") * 13 % 90).alias("ymin"),
        (F.col("s_suppkey") * 7 % 90 + 3 + F.col("s_suppkey") % 8).alias("xmax"),
        (F.col("s_suppkey") * 13 % 90 + 3 + F.col("s_suppkey") % 5).alias("ymax"),
    )
    tile = lambda x, y: (x * 16 + y).alias("tile")  # noqa: E731
    pt_tiles = pts.select(
        "px", "py", tile(F.expr("px div 10"), F.expr("py div 10"))
    )
    rect_tiles = rects.select(
        "*",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.expr("xmin div 10"), F.expr("xmax div 10")),
                    lambda tx: F.transform(
                        F.sequence(F.expr("ymin div 10"), F.expr("ymax div 10")),
                        lambda ty: tx * 16 + ty,
                    ),
                )
            )
        ).alias("tile"),
    )
    return (
        pt_tiles.join(rect_tiles, "tile")
        .where(
            F.col("px").between(F.col("xmin"), F.col("xmax"))
            & F.col("py").between(F.col("ymin"), F.col("ymax"))
        )
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("s_suppkey")
    )


GEO_SPATIAL_JOIN_ORACLE = """
WITH pts AS (
    SELECT l_orderkey % 100 AS px, l_partkey % 100 AS py FROM lineitem
), rects AS (
    SELECT s_suppkey,
           s_suppkey * 7 % 90 AS xmin,
           s_suppkey * 13 % 90 AS ymin,
           s_suppkey * 7 % 90 + 3 + s_suppkey % 8 AS xmax,
           s_suppkey * 13 % 90 + 3 + s_suppkey % 5 AS ymax
    FROM supplier
)
SELECT s_suppkey, count(*) AS n_points
FROM rects JOIN pts
  ON px BETWEEN xmin AND xmax AND py BETWEEN ymin AND ymax
GROUP BY s_suppkey
ORDER BY s_suppkey
"""


def geo_haversine_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-station lookup by great-circle (haversine) distance — the
    scalar geo-math companion to the set-based `geo_spatial_join_bin`
    (reference's C1 computes planar area; an engine also needs spherical
    distance).

    Customers (deterministic synthetic lat/lon from custkey) x 25 nation
    stations: the station side broadcasts, so the argmin is a map-only
    cross product + one aggregate.  The argmin key is INTEGER METERS plus
    station id — float ulp differences between engines sit ~9 orders below
    a meter, so the chosen station is cross-engine deterministic (raw
    double argmin would not be).  At 100 TB the 25-row station table is
    the canonical broadcast; a million-station variant goes through the
    tile-binned join instead.
    """
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") <= 300
    )
    nation = load_table(spark, sf_dir, "nation")
    cust = customer.select(
        "c_custkey",
        (F.col("c_custkey") % 120 - 60 + 0.5).alias("clat"),
        (F.col("c_custkey") % 340 - 170 + 0.5).alias("clon"),
    )
    stations = nation.select(
        "n_nationkey",
        (F.col("n_nationkey") * 6 - 72 + 0.25).alias("slat"),
        (F.col("n_nationkey") * 13 - 156 + 0.25).alias("slon"),
    )
    dist_km = (
        F.lit(6371.0)
        * 2
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("slat") - F.col("clat")) / 2), 2)
                + F.cos(F.radians("clat"))
                * F.cos(F.radians("slat"))
                * F.pow(F.sin(F.radians(F.col("slon") - F.col("clon")) / 2), 2)
            )
        )
    )
    scored = cust.crossJoin(F.broadcast(stations)).select(
        "c_custkey",
        "n_nationkey",
        F.round(dist_km * 1000).cast("long").alias("dist_m"),
    )
    return (
        scored.groupBy("c_custkey")
        .agg(
            F.min(F.struct("dist_m", "n_nationkey")).alias("best"),
        )
        .select(
            "c_custkey",
            F.col("best.n_nationkey").alias("station"),
            F.round(F.col("best.dist_m") / 1000.0, 1).alias("dist_km"),
        )
        .orderBy("c_custkey")
    )


GEO_HAVERSINE_ORACLE = """
WITH cust AS (
    SELECT c_custkey,
           c_custkey % 120 - 60 + 0.5 AS clat,
           c_custkey % 340 - 170 + 0.5 AS clon
    FROM customer WHERE c_custkey <= 300
), stations AS (
    SELECT n_nationkey,
           n_nationkey * 6 - 72 + 0.25 AS slat,
           n_nationkey * 13 - 156 + 0.25 AS slon
    FROM nation
), scored AS (
    SELECT c_custkey, n_nationkey,
           CAST(round(6371.0 * 2 * asin(sqrt(
               pow(sin(radians(slat - clat) / 2), 2)
               + cos(radians(clat)) * cos(radians(slat))
                 * pow(sin(radians(slon - clon) / 2), 2))) * 1000) AS BIGINT)
             AS dist_m
    FROM cust CROSS JOIN stations
), ranked AS (
    SELECT c_custkey, n_nationkey, dist_m,
           row_number() OVER (PARTITION BY c_custkey
                              ORDER BY dist_m, n_nationkey) AS rn
    FROM scored
)
SELECT c_custkey, n_nationkey AS station,
       round(dist_m / 1000.0, 1) AS dist_km
FROM ranked WHERE rn = 1
ORDER BY c_custkey
"""




def geo_raster_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster resample (regrid): aggregate the fine grid into 2x2-coarser
    cells — the alignment step every multi-resolution raster comparison
    needs (the reference's rasters arrive at one resolution per source;
    comparing vtech vs GCM layers first means regridding one of them).

    In the engine's long-format raster model this is pure column math:
    coarse_row = row DIV 2, coarse_col = col DIV 2, then ONE partial-
    aggregated groupBy — mean coverage (fraction of the 4 fine cells
    present) and presence count per coarse cell, rolled up per species
    to stay order-insensitive.  No kernel, no Python; at 100 TB the
    regrid is exactly one map-side-combined shuffle of the coarse-cell
    domain (4x smaller than the input).
    """
    cells = _cells_from_lineitem(spark, sf_dir).distinct()
    coarse = (
        cells.select(
            "species",
            "threshold_s",
            (F.col("row") / 2).cast("int").alias("crow"),
            (F.col("col") / 2).cast("int").alias("ccol"),
        )
        .groupBy("species", "threshold_s", "crow", "ccol")
        .agg(F.count(F.lit(1)).alias("n_fine"))
    )
    return (
        coarse.groupBy("species", F.col("threshold_s").alias("threshold"))
        .agg(
            F.count(F.lit(1)).alias("n_coarse_cells"),
            F.sum("n_fine").alias("n_fine_cells"),
            F.round(F.avg(F.col("n_fine") / 4.0), 4).alias("mean_coverage"),
            F.count(F.when(F.col("n_fine") == 4, 1)).alias("n_full"),
        )
        .orderBy("species", "threshold")
    )


GEO_REGRID_ORACLE = f"""
WITH cells AS (
    SELECT DISTINCT l_returnflag AS species,
           CAST(CAST(threshold * 100 AS INTEGER) AS VARCHAR) AS threshold,
           l_orderkey % {_GRID} AS row,
           l_partkey % {_GRID} AS col
    FROM lineitem
    CROSS JOIN (VALUES (0.25), (0.5), (0.75)) AS t(threshold)
    WHERE l_quantity / 50.0 >= threshold
), coarse AS (
    SELECT species, threshold, row // 2 AS crow, col // 2 AS ccol,
           count(*) AS n_fine
    FROM cells GROUP BY 1, 2, 3, 4
)
SELECT species, threshold,
       count(*) AS n_coarse_cells,
       CAST(sum(n_fine) AS BIGINT) AS n_fine_cells,
       round(avg(n_fine / 4.0), 4) AS mean_coverage,
       count(CASE WHEN n_fine = 4 THEN 1 END) AS n_full
FROM coarse
GROUP BY 1, 2
ORDER BY species, threshold
"""


def geo_reproject_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Transform for point tables: the synthetic customer lon/lats
    reprojected 4326 -> EPSG:6933 (equal-area meters) and EPSG:3857 (web
    meters) via the JVM-side Column kernels (``functions/proj.py``) —
    pure built-in math, whole-stage-codegen, zero Python in the hot path.
    The oracle restates Snyder's closed forms independently in SQL, so
    the two implementations pin each other value-level.  (The reference
    only ASSIGNS 4326, ``species_range_etl.py:132``; this is the next
    step its users take.)"""
    from ..functions.proj import (
        cea_x_expr,
        cea_y_expr,
        merc_x_expr,
        merc_y_expr,
    )

    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") <= 400
    )
    pts = customer.select(
        "c_custkey",
        (F.col("c_custkey") % 120 - 60 + 0.5).alias("lat"),
        (F.col("c_custkey") % 340 - 170 + 0.5).alias("lon"),
    )
    return pts.select(
        "c_custkey",
        F.round(cea_x_expr(F.col("lon")), 2).alias("x_6933"),
        F.round(cea_y_expr(F.col("lat")), 2).alias("y_6933"),
        F.round(merc_x_expr(F.col("lon")), 2).alias("x_3857"),
        F.round(merc_y_expr(F.col("lat")), 2).alias("y_3857"),
    ).orderBy("c_custkey")


def _reproject_oracle() -> str:
    """DuckDB restatement of the Snyder closed forms with the module's
    ellipsoid constants formatted in at full float64 precision."""
    from ..functions import proj

    a = repr(proj._A)
    e = repr(proj._E)
    e2 = repr(proj._E2)
    ak0 = repr(proj._A * proj._K0)
    a2k0 = repr(proj._A / (2.0 * proj._K0))
    return f"""
WITH pts AS (
    SELECT c_custkey,
           c_custkey % 120 - 60 + 0.5 AS lat,
           c_custkey % 340 - 170 + 0.5 AS lon
    FROM customer WHERE c_custkey <= 400
), q AS (
    SELECT c_custkey, lat, lon, sin(radians(lat)) AS s FROM pts
)
SELECT c_custkey,
       round({ak0} * radians(lon), 2) AS x_6933,
       round({a2k0} * (1 - {e2}) * (
           s / (1 - {e2} * s * s)
           - (1 / (2 * {e})) * ln((1 - {e} * s) / (1 + {e} * s))
       ), 2) AS y_6933,
       round({a} * radians(lon), 2) AS x_3857,
       round({a} * ln(tan(pi() / 4 + radians(lat) / 2)), 2) AS y_3857
FROM q
ORDER BY c_custkey
"""


GEO_REPROJECT_ORACLE = _reproject_oracle()


def geo_dissolve_area_m2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+C1+T5 end-to-end in METRIC units: dissolve the presence grid
    (lon/lat degrees), then compute true-m² area two independent ways —
    (a) ``with_area_m2`` (closed-form equal-area shoelace straight off
    the lon/lat WKB) and (b) ``with_transformed`` to EPSG:6933 followed
    by the plain planar ``with_area`` over the projected meters.  Both
    columns must equal the analytic identity the oracle computes: the
    6933 forward maps x linearly in lon and y as a function of lat only,
    so a unit-lattice cell projects to an exact rectangle and the union
    area is sum(dx * dy(row)) — the metric companion of
    ``geo_dissolve_area``'s count-times-cellsize identity."""
    from ..operators.polygonize import with_area, with_area_m2, with_transformed

    cells = _cells_from_lineitem(spark, sf_dir).distinct()  # see geo_dissolve_area
    d = dissolve(cells, by=["species", "threshold_s"], num_partitions=9)
    d = with_area_m2(d).withColumnRenamed("area", "area_sqdeg")
    t = with_area(with_transformed(d, src_epsg=4326, dst_epsg=6933))
    return (
        t.select(
            "species",
            F.col("threshold_s").alias("threshold"),
            "n_cells",
            F.round(F.col("area_m2") / 1e6, 2).alias("area_km2_eq"),
            F.round(F.col("area") / 1e6, 2).alias("area_km2_proj"),
        )
        .orderBy("species", "threshold")
    )


def _dissolve_m2_oracle() -> str:
    """Analytic 6933 cell areas: dx is constant (x linear in lon), dy is
    the q-difference between adjacent integer latitudes (Snyder 3-12),
    constants formatted at full float64 precision like _reproject_oracle."""
    from ..functions import proj

    e = repr(proj._E)
    e2 = repr(proj._E2)
    dx = repr(proj._A * proj._K0 * math.pi / 180.0)
    a2k0 = repr(proj._A / (2.0 * proj._K0))
    return f"""
WITH cells AS (
    SELECT DISTINCT l_returnflag AS species,
           CAST(CAST(threshold * 100 AS INTEGER) AS VARCHAR) AS threshold,
           l_orderkey % {_GRID} AS row,
           l_partkey % {_GRID} AS col
    FROM lineitem
    CROSS JOIN (VALUES (0.25), (0.5), (0.75)) AS t(threshold)
    WHERE l_quantity / 50.0 >= threshold
), qs AS (
    SELECT r,
           {a2k0} * (1 - {e2}) * (
               s / (1 - {e2} * s * s)
               - (1 / (2 * {e})) * ln((1 - {e} * s) / (1 + {e} * s))
           ) AS y
    FROM (SELECT r, sin(radians(CAST(r AS DOUBLE))) AS s
          FROM generate_series(0, {_GRID}) t(r))
), areas AS (
    SELECT c.species, c.threshold,
           {dx} * (q1.y - q0.y) AS cell_m2
    FROM cells c
    JOIN qs q0 ON q0.r = c.row
    JOIN qs q1 ON q1.r = c.row + 1
)
SELECT species, threshold,
       count(*) AS n_cells,
       round(sum(cell_m2) / 1e6, 2) AS area_km2_eq,
       round(sum(cell_m2) / 1e6, 2) AS area_km2_proj
FROM areas
GROUP BY species, threshold
ORDER BY species, threshold
"""


GEO_DISSOLVE_M2_ORACLE = _dissolve_m2_oracle()


def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Contains over the engine's WKB: probe every grid-cell CENTER
    against each (species, threshold) dissolved multipolygon with the
    even-odd ray-cast kernel (``functions.wkb.wkb_contains_point``).

    Exactly checkable by construction: the dissolve geometry is the
    union of unit cells at [col, col+1] x [-row-1, -row] (the kernel's
    image-style y axis), so the center probe (col+0.5, -row-0.5) is
    inside IFF cell (row, col) is in the group's presence set — and
    centers never touch lattice edges, where ray casting is undefined.
    The oracle restates membership relationally (count + coordinate
    checksum); agreement pins the ray caster over every hole/island
    shape the fixture corpus dissolves into.

    Plan shape: the probe lattice is generated INSIDE the Arrow batch
    (mapInPandas over the 9 geometry rows) rather than cross-joined, so
    each multi-KB WKB blob crosses to Python once, not 1024 times; the
    whole lattice is rasterized per geometry with the numpy-broadcast
    ray cast (``wkb_contains_points``, r8 — the r7 per-point Python loop
    was O(grid^2 x vertices) interpreter work per geometry).
    """
    import pandas as pd

    cells = _cells_from_lineitem(spark, sf_dir).distinct()  # see geo_dissolve_area
    d = dissolve(cells, by=["species", "threshold_s"], num_partitions=9)

    def probe(batches):
        import numpy as np

        from ..functions.wkb import wkb_rasterize_lattice

        cell_ids = np.arange(_GRID * _GRID, dtype=np.int64)
        for pdf in batches:
            out = []
            for sp, th, blob, n_cells in zip(
                pdf["species"], pdf["threshold_s"], pdf["geometry"],
                pdf["n_cells"],
            ):
                mask = wkb_rasterize_lattice(bytes(blob), _GRID).ravel()
                out.append(
                    {"species": sp, "threshold": th,
                     "n_cells": int(n_cells),
                     "n_inside": int(mask.sum()),
                     "inside_checksum": int(cell_ids[mask].sum())}
                )
            yield pd.DataFrame(
                out,
                columns=["species", "threshold", "n_cells", "n_inside",
                         "inside_checksum"],
            )

    return (
        d.mapInPandas(
            probe,
            "species string, threshold string, n_cells long, "
            "n_inside long, inside_checksum long",
        )
        .orderBy("species", "threshold")
    )


GEO_POINT_IN_POLYGON_ORACLE = f"""
WITH cells AS (
    SELECT DISTINCT l_returnflag AS species,
           CAST(CAST(threshold * 100 AS INTEGER) AS VARCHAR) AS threshold,
           l_orderkey % {_GRID} AS row,
           l_partkey % {_GRID} AS col
    FROM lineitem
    CROSS JOIN (VALUES (0.25), (0.5), (0.75)) AS t(threshold)
    WHERE l_quantity / 50.0 >= threshold
)
SELECT species, threshold,
       count(*) AS n_cells,
       count(*) AS n_inside,
       CAST(sum(row * {_GRID} + col) AS BIGINT) AS inside_checksum
FROM cells
GROUP BY species, threshold
ORDER BY species, threshold
"""


def geo_range_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise RANGE OVERLAP between species — the overlay analytic a
    range pipeline exists to feed (where do two species' predicted
    ranges coincide?).  Each species' threshold-50 presence dissolves to
    one multipolygon; every species pair is then rasterized back over
    the grid with the ray-cast kernel and compared cell-by-cell:
    intersection count, union count, and Jaccard overlap.

    Rasterized overlay (decode -> probe lattice -> set algebra) is how
    zonal overlays run at scale when exact polygon clipping is
    unavailable; on THIS lattice it is not an approximation — the
    geometries are unions of unit cells, so cell-center rasterization
    recovers the presence sets exactly and the DuckDB oracle restates
    the whole query as a self-join of the cells CTE.  The pair fan-out
    is a broadcast self-join of the 3-row dissolved dimension; at a
    thousand species it stays a broadcast (dissolved geometries are
    dimension-sized), with per-pair probe work parallelized by the pair
    partitioning.

    r8 scale hardening (VERDICT r7 next #4/#6):
    - Every species pair appears in the output (disjoint ranges emit
      jaccard 0.0 — the oracle mirrors this with a LEFT JOIN universe).
    - A BOUNDING-BOX PREFILTER splits the pairs JVM-side ahead of the
      Python stage: the box comes free as min/max(row/col) aggregates
      on the cells (identical to the dissolved geometry's bbox — the
      geometry IS the cell union), disjoint-box pairs short-circuit to
      n_inter=0 / n_union=na+nb without ever decoding a geometry, and
      only box-overlapping pairs reach the rasterizing mapInPandas.
    - Rasterization is the numpy-broadcast ray cast, one lattice per
      DISTINCT geometry per batch (memoized), not per pair.
    """
    cells = _cells_from_lineitem(spark, sf_dir).where(
        F.col("threshold_s") == "50"
    )
    return _range_overlap_from_cells(cells)


def geo_range_overlap_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range overlap where the range unit is (returnflag x quantity band)
    and the lattice row IS the quantity — so low-band ranges live in rows
    0-15 and high-band ranges in rows 16-31, the way elevation-banded
    species ranges occupy disjoint belts.  The 9 cross-band pairs have
    bbox-DISJOINT ranges and take the short-circuit (n_inter=0,
    n_union=n_a+n_b, no geometry ever decoded); the 6 within-band pairs
    overlap and take the rasterizing branch — one driver hash covers
    BOTH paths of ``_range_overlap_from_cells`` end-to-end (VERDICT r9
    next #4: the mod-grid cells of ``geo_range_overlap`` cover the full
    lattice for every flag at every scale, so its disjoint branch was
    previously reachable only from the synthetic-cells unit test).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    cells = (
        lineitem.where(F.col("l_quantity") <= 32)
        .select(
            F.concat_ws(
                "_",
                "l_returnflag",
                F.when(F.col("l_quantity") <= 16, F.lit("low")).otherwise(
                    F.lit("high")
                ),
            ).alias("species"),
            # floor() on BOTH sides (ADVICE r10): Spark cast('int')
            # truncates while DuckDB CAST(.. AS INTEGER) rounds
            # half-even, so the lattice mapping would diverge on any
            # non-integral quantity; floor is engine-neutral.
            (F.floor("l_quantity").cast("int") - 1).alias("row"),
            (F.col("l_partkey") % _GRID).cast("int").alias("col"),
        )
    )
    return _range_overlap_from_cells(cells, num_partitions=6)


GEO_RANGE_OVERLAP_BANDS_ORACLE = f"""
WITH cells AS (
    SELECT DISTINCT l_returnflag || '_' ||
               CASE WHEN l_quantity <= 16 THEN 'low' ELSE 'high' END
               AS species,
           CAST(floor(l_quantity) AS INTEGER) - 1 AS row,
           l_partkey % {_GRID} AS col
    FROM lineitem
    WHERE l_quantity <= 32
), counts AS (
    SELECT species, count(*) AS n FROM cells GROUP BY species
), inter AS (
    SELECT a.species AS species_a, b.species AS species_b,
           count(*) AS n_inter
    FROM cells a
    JOIN cells b ON a.row = b.row AND a.col = b.col
               AND a.species < b.species
    GROUP BY 1, 2
)
SELECT ca.species AS species_a, cb.species AS species_b,
       coalesce(i.n_inter, 0) AS n_inter,
       ca.n + cb.n - coalesce(i.n_inter, 0) AS n_union,
       round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
             / (ca.n + cb.n - coalesce(i.n_inter, 0)), 4) AS jaccard
FROM counts ca
JOIN counts cb ON ca.species < cb.species
LEFT JOIN inter i ON i.species_a = ca.species AND i.species_b = cb.species
ORDER BY species_a, species_b
"""


def _range_overlap_from_cells(
    cells: DataFrame, num_partitions: int = 3
) -> DataFrame:
    """Pair overlay over a (species, row, col) cells frame — split out of
    geo_range_overlap so the disjoint-box short-circuit (which the
    lineitem fixture never reaches: all three flags' boxes overlap) can
    be unit-tested against synthetic cells with disjoint species and
    driver-driven by ``geo_range_overlap_bands``."""
    import pandas as pd

    # n_cells must count DISTINCT (row, col) cells: _cells_from_lineitem
    # emits one row per qualifying lineitem and many lineitems share a
    # cell, while the dissolved geometry (and the oracle's SELECT
    # DISTINCT CTE) dedupe.  The disjoint-box branch emits
    # n_union = n_a + n_b straight from these counts, so an overcount
    # here would disagree with both the rasterized branch and the
    # oracle (ADVICE r8 high).
    boxes = cells.groupBy("species").agg(
        F.count_distinct(F.struct("row", "col")).alias("n_cells"),
        F.min("row").alias("min_r"),
        F.max("row").alias("max_r"),
        F.min("col").alias("min_c"),
        F.max("col").alias("max_c"),
    )
    # r18 (guide §2.4/§1.2): d feeds BOTH self-join sides and BOTH the
    # disjoint and rasterizing branches, and DataFrame reuse does not
    # share physical subtrees — the r17 plan replayed the whole
    # dissolve lineage (lineitem scan + cell shuffle + polygonize
    # kernel) FOUR times (8 lineitem scans in the captured plan).
    # d is species-dimension-sized (one WKB row per species), so one
    # lazy localCheckpoint makes every downstream reference read the
    # same materialized rows: the dissolve runs exactly once.
    d = (
        dissolve(cells.distinct(), by=["species"], num_partitions=num_partitions)
        .select("species", "geometry")
        .join(F.broadcast(boxes), "species")
        .transform(materialize_once)
    )
    a = d.select(
        F.col("species").alias("species_a"), F.col("geometry").alias("geom_a"),
        F.col("n_cells").alias("n_a"),
        F.col("min_r").alias("min_r_a"), F.col("max_r").alias("max_r_a"),
        F.col("min_c").alias("min_c_a"), F.col("max_c").alias("max_c_a"),
    )
    b = d.select(
        F.col("species").alias("species_b"), F.col("geometry").alias("geom_b"),
        F.col("n_cells").alias("n_b"),
        F.col("min_r").alias("min_r_b"), F.col("max_r").alias("max_r_b"),
        F.col("min_c").alias("min_c_b"), F.col("max_c").alias("max_c_b"),
    )
    pairs = a.crossJoin(F.broadcast(b)).where(
        F.col("species_a") < F.col("species_b")
    )
    boxes_disjoint = (
        (F.col("max_r_a") < F.col("min_r_b"))
        | (F.col("max_r_b") < F.col("min_r_a"))
        | (F.col("max_c_a") < F.col("min_c_b"))
        | (F.col("max_c_b") < F.col("min_c_a"))
    )
    disjoint = pairs.where(boxes_disjoint).select(
        "species_a", "species_b",
        F.lit(0).cast("long").alias("n_inter"),
        (F.col("n_a") + F.col("n_b")).cast("long").alias("n_union"),
        F.lit(0.0).alias("jaccard"),
    )
    candidates = pairs.where(~boxes_disjoint)

    def overlay(batches):
        import numpy as np

        from ..functions.wkb import wkb_rasterize_lattice

        masks: dict[str, object] = {}

        def rasterize(species, blob):
            m = masks.get(species)
            if m is None:
                m = wkb_rasterize_lattice(bytes(blob), _GRID)
                masks[species] = m
            return m

        for pdf in batches:
            out = []
            for sa, ga, sb, gb in zip(
                pdf["species_a"], pdf["geom_a"], pdf["species_b"],
                pdf["geom_b"],
            ):
                ca, cb = rasterize(sa, ga), rasterize(sb, gb)
                inter = int(np.count_nonzero(ca & cb))
                union = int(np.count_nonzero(ca | cb))
                out.append(
                    {"species_a": sa, "species_b": sb,
                     "n_inter": inter, "n_union": union,
                     "jaccard": round(inter / union, 4) if union else 0.0}
                )
            yield pd.DataFrame(
                out,
                columns=["species_a", "species_b", "n_inter", "n_union",
                         "jaccard"],
            )

    overlapped = candidates.mapInPandas(
        overlay,
        "species_a string, species_b string, n_inter long, "
        "n_union long, jaccard double",
    )
    return overlapped.unionByName(disjoint).orderBy("species_a", "species_b")


# Pair universe from the counts self-join + LEFT JOIN inter (ADVICE r7
# #2): the Spark plan emits EVERY species pair — disjoint ranges as
# jaccard 0.0 — so the oracle must too, or any fixture change that
# produces a disjoint pair would read as a confusing row-count mismatch.
GEO_RANGE_OVERLAP_ORACLE = f"""
WITH cells AS (
    SELECT DISTINCT l_returnflag AS species,
           l_orderkey % {_GRID} AS row,
           l_partkey % {_GRID} AS col
    FROM lineitem
    WHERE l_quantity / 50.0 >= 0.5
), counts AS (
    SELECT species, count(*) AS n FROM cells GROUP BY species
), inter AS (
    SELECT a.species AS species_a, b.species AS species_b,
           count(*) AS n_inter
    FROM cells a
    JOIN cells b ON a.row = b.row AND a.col = b.col
               AND a.species < b.species
    GROUP BY 1, 2
)
SELECT ca.species AS species_a, cb.species AS species_b,
       coalesce(i.n_inter, 0) AS n_inter,
       ca.n + cb.n - coalesce(i.n_inter, 0) AS n_union,
       round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
             / (ca.n + cb.n - coalesce(i.n_inter, 0)), 4) AS jaccard
FROM counts ca
JOIN counts cb ON ca.species < cb.species
LEFT JOIN inter i ON i.species_a = ca.species AND i.species_b = cb.species
ORDER BY species_a, species_b
"""


def geo_shapefile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GDAL-free shapefile lane (the reference's vector interchange
    format, ``species_range_etl.py:127-131``) driven end-to-end under a
    driver hash: dissolve the threshold-50 ranges to multipolygons,
    write a REAL .shp/.shx/.dbf/.prj sidecar set, re-read it through the
    engine's distributed shapefile scan, and recompute each species'
    area from the ROUND-TRIPPED geometry.  On the unit-cell lattice the
    dissolved area equals the distinct cell count exactly, so the oracle
    is a plain relational restatement — any ring-order, winding,
    containment-grouping, or dbf-attribute defect in encode OR decode
    breaks the hash.

    The 3-row dissolved dimension is materialized driver-side for the
    writer (bounded by construction: one row per return flag).
    """
    import shutil
    import tempfile

    from ..functions.wkb import decode as wkb_decode
    from ..operators.polygonize import dissolve
    from ..sources.shapefile import read_shapefile, write_shapefile

    cells = _cells_from_lineitem(spark, sf_dir).where(
        F.col("threshold_s") == "50"
    )
    d = dissolve(cells, by=["species"], num_partitions=3).select(
        "species", "geometry"
    )
    rows = d.collect()  # 3 return flags — fixed-size dimension
    tmp = tempfile.mkdtemp(prefix="shp_roundtrip_")
    try:
        write_shapefile(
            [
                (wkb_decode(bytes(r.geometry))[1], {"species": r.species})
                for r in sorted(rows, key=lambda r: r.species)
            ],
            f"{tmp}/ranges.shp",
        )
        back = read_shapefile(spark, tmp)
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def area_udf(wkb):
            from ..functions.wkb import wkb_area

            return wkb.map(
                lambda b: wkb_area(bytes(b)) if b is not None else None
            )

        out = (
            back.where(F.col("error").isNull())
            .select(
                F.col("attrs")["species"].alias("species"),
                area_udf("geometry").alias("area"),
            )
            .groupBy("species")
            .agg(
                F.count(F.lit(1)).alias("n_records"),
                F.round(F.sum("area"), 6).alias("area"),
            )
            .localCheckpoint(eager=True)  # materialize BEFORE rmtree
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("species")


GEO_SHAPEFILE_ROUNDTRIP_ORACLE = f"""
SELECT species,
       CAST(1 AS BIGINT) AS n_records,
       round(CAST(count(*) AS DOUBLE), 6) AS area
FROM (
    SELECT DISTINCT l_returnflag AS species,
           l_orderkey % {_GRID} AS row,
           l_partkey % {_GRID} AS col
    FROM lineitem
    WHERE l_quantity / 50.0 >= 0.5
)
GROUP BY species
ORDER BY species
"""


def geo_container_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining two geo container formats driven end-to-end under
    one driver hash — the vector .gpkg (sqlite) and the raster tiled-LZW
    GeoTIFF — completing the r10 roundtrip set (WARC, WebDataset,
    shapefile landed earlier this round):

    - gpkg half: the dissolved threshold-50 multipolygons are written as
      a spec-conformant single-layer GeoPackage, re-read through the
      distributed scan, and each species' area recomputed from the
      round-tripped WKB — the unit-lattice identity area == distinct
      cell count is the oracle.
    - tif half: each species' cell set is encoded as a 32x32 LZW-
      compressed TILED GeoTIFF (the interesting code path: tile padding
      + LZW) with cell value row*32+col, decoded back through the
      binaryFile lane, and reduced to (count, value checksum) — exact in
      float32 since every value < 2^24.

    Driver-side materialization is the lattice-bounded cell set
    (<= 3 x 32 x 32 rows at ANY scale) and the 3-row dissolved
    dimension — both bounded by construction.
    """
    import os
    import shutil
    import tempfile

    from ..functions.wkb import decode as wkb_decode
    from ..operators.polygonize import dissolve
    from ..pipeline.geotiff import decode_geotiff_members, encode_geotiff
    from ..sources.geopackage import read_geopackage, write_geopackage

    cells = (
        _cells_from_lineitem(spark, sf_dir)
        .where(F.col("threshold_s") == "50")
        .select("species", "row", "col")
        .distinct()
    )
    d = dissolve(
        cells.withColumn("threshold_s", F.lit("50")),
        by=["species"],
        num_partitions=3,
    ).select("species", "geometry")
    geo_rows = sorted(d.collect(), key=lambda r: r.species)  # 3 flags
    cell_rows = cells.collect()  # lattice-bounded (<= 3*32*32)
    by_species: dict[str, list] = {}
    for r in cell_rows:
        by_species.setdefault(r.species, []).append(
            (int(r.row), int(r.col), float(r.row * _GRID + r.col))
        )
    tmp = tempfile.mkdtemp(prefix="geo_container_")
    try:
        write_geopackage(
            [
                (bytes(r.geometry), {"species": r.species})
                for r in geo_rows
            ],
            os.path.join(tmp, "ranges.gpkg"),
        )
        header = {
            "ncols": _GRID, "nrows": _GRID, "xllcorner": 0.0,
            "yllcorner": 0.0, "cellsize": 1.0, "nodata_value": -9999.0,
        }
        for sp, cs in sorted(by_species.items()):
            with open(os.path.join(tmp, f"{sp}.tif"), "wb") as fh:
                fh.write(
                    encode_geotiff(header, cs, compression=5, tile=(16, 16))
                )

        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def area_udf(wkb):
            from ..functions.wkb import wkb_area

            return wkb.map(
                lambda b: wkb_area(bytes(b)) if b is not None else None
            )

        gpkg = (
            read_geopackage(spark, tmp)
            .where(F.col("error").isNull())
            .select(
                F.col("attrs")["species"].alias("species"),
                area_udf("geometry").alias("area"),
            )
            .groupBy("species")
            .agg(F.round(F.sum("area"), 6).alias("metric"))
            .select(
                F.lit("gpkg").alias("fmt"),
                "species",
                F.col("metric").cast("long").alias("n_cells"),
                "metric",
            )
        )
        tifs = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.tif")
            .load(tmp)
            .select("path", "content")
        )
        tif = (
            decode_geotiff_members(tifs, name_col="path")
            .where(F.col("error").isNull())
            .groupBy(
                F.regexp_extract(
                    "file", r"([^/]+)\.tif$", 1
                ).alias("species")
            )
            .agg(
                F.count(F.lit(1)).alias("n_cells"),
                F.round(F.sum("value"), 6).alias("metric"),
            )
            .select(F.lit("tif").alias("fmt"), "species", "n_cells", "metric")
        )
        out = gpkg.unionByName(tif).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out.orderBy("fmt", "species")


GEO_CONTAINER_ROUNDTRIP_ORACLE = f"""
WITH cells AS (
    SELECT DISTINCT l_returnflag AS species,
           l_orderkey % {_GRID} AS row,
           l_partkey % {_GRID} AS col
    FROM lineitem
    WHERE l_quantity / 50.0 >= 0.5
)
SELECT 'gpkg' AS fmt, species,
       count(*) AS n_cells,
       round(CAST(count(*) AS DOUBLE), 6) AS metric
FROM cells GROUP BY species
UNION ALL
SELECT 'tif' AS fmt, species,
       count(*) AS n_cells,
       round(CAST(sum(row * {_GRID} + col) AS DOUBLE), 6) AS metric
FROM cells GROUP BY species
ORDER BY fmt, species
"""


QUERIES = {
    "geo_container_roundtrip": geo_container_roundtrip,
    "geo_shapefile_roundtrip": geo_shapefile_roundtrip,
    "geo_raster_regrid": geo_raster_regrid,
    "geo_spatial_join_bin": geo_spatial_join_bin,
    "geo_haversine_nearest": geo_haversine_nearest,
    "geo_reproject_points": geo_reproject_points,
    "geo_dissolve_area": geo_dissolve_area,
    "geo_dissolve_area_m2": geo_dissolve_area_m2,
    "geo_point_in_polygon": geo_point_in_polygon,
    "geo_range_overlap": geo_range_overlap,
    "geo_range_overlap_bands": geo_range_overlap_bands,
    "geo_polygonize_components": geo_polygonize_components,
}

ORACLES = {
    "geo_container_roundtrip": GEO_CONTAINER_ROUNDTRIP_ORACLE,
    "geo_shapefile_roundtrip": GEO_SHAPEFILE_ROUNDTRIP_ORACLE,
    "geo_raster_regrid": GEO_REGRID_ORACLE,
    "geo_spatial_join_bin": GEO_SPATIAL_JOIN_ORACLE,
    "geo_haversine_nearest": GEO_HAVERSINE_ORACLE,
    "geo_reproject_points": GEO_REPROJECT_ORACLE,
    "geo_dissolve_area": GEO_DISSOLVE_ORACLE,
    "geo_dissolve_area_m2": GEO_DISSOLVE_M2_ORACLE,
    "geo_point_in_polygon": GEO_POINT_IN_POLYGON_ORACLE,
    "geo_range_overlap": GEO_RANGE_OVERLAP_ORACLE,
    "geo_range_overlap_bands": GEO_RANGE_OVERLAP_BANDS_ORACLE,
    "geo_polygonize_components": GEO_POLYGONIZE_ORACLE,
}
