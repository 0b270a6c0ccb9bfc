"""Raster -> polygon (T4) and grouped geometric dissolve (A1) as Spark
operators.

Reference: ``arcpy.RasterToPolygon_conversion`` at
``species_range_etl.py:127`` and ``GeoDataFrame.dissolve(by="species")`` at
``:205``.  No Spark built-in exists (SURVEY.md §7 "what's hard"), so these
are ``applyInPandas`` over the long-format cell model — Arrow-batched, one
numpy kernel call per group, no Python row loop.

Scale notes:
- Group = (raster key..., threshold) for polygonize, the scenario key for
  the ETL's dissolve: bounded by one raster's kept cells, so executor
  memory is bounded by raster size, not table size.  Groups too large for
  one task go to ``dissolve_tiled`` (tile key appended to the group,
  parts concatenated per group).
- Dissolve unions cell SETS, not WKB blobs: one hash exchange on the group
  key, then the JVM dedupes cells (``max(value)`` when thresholds nest)
  before Arrow hands each group to Python once.  The polygonize kernel runs
  once per output row, after the cheap set union.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geometry import polygonize_cells, union_cells_to_multipolygon


def _affine_of(pdf: pd.DataFrame, default):
    """Per-group georeferencing: read (xll, yll, cellsize, nrows) columns if
    present (decode_ascii_members emits them), else the supplied defaults.
    A group must share one lattice — rasters on different grids belong in
    different groups (tile key), not one union."""
    if "xll" in pdf.columns:
        return (
            float(pdf["xll"].iloc[0]),
            float(pdf["yll"].iloc[0]),
            float(pdf["cellsize"].iloc[0]),
            int(pdf["nrows"].iloc[0]),
        )
    return default


def polygonize(
    cells: DataFrame,
    group_cols: Sequence[str],
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Cells (group_cols..., row, col) -> one row per connected component:
    (group_cols..., component_id, geometry WKB, n_cells, area).

    ``num_partitions``: when the group cardinality is known-small, an
    explicit repartition(n, keys) satisfies the grouping distribution with n
    tasks — so only n Python workers spawn instead of
    spark.sql.shuffle.partitions.  Leave None when groups are many.
    """
    group_cols = list(group_cols)
    schema = T.StructType(
        [cells.schema[c] for c in group_cols]
        + [
            T.StructField("component_id", T.LongType()),
            T.StructField("geometry", T.BinaryType()),
            T.StructField("n_cells", T.LongType()),
            T.StructField("area", T.DoubleType()),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {c: pdf[c].iloc[0] for c in group_cols}
        gx0, gy0, gcs, gnr = _affine_of(pdf, (x0, y0, cellsize, nrows))
        parts = polygonize_cells(
            pdf["row"].to_numpy(), pdf["col"].to_numpy(), gx0, gy0, gcs, gnr
        )
        return pd.DataFrame(
            [
                {**keys, "component_id": comp, "geometry": wkb, "n_cells": n, "area": area}
                for comp, wkb, n, area in parts
            ],
            columns=group_cols + ["component_id", "geometry", "n_cells", "area"],
        )

    if num_partitions:
        cells = cells.repartition(num_partitions, *group_cols)
    return cells.groupBy(*group_cols).applyInPandas(fn, schema)


def dissolve(
    cells: DataFrame,
    by: Sequence[str],
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
    num_partitions: int | None = None,
    thresholds: Sequence[float] | None = None,
) -> DataFrame:
    """GROUP BY ``by`` with geometry -> union (A1).  Input is cell rows;
    output one MultiPolygon per group with its area and part count.

    ``thresholds``: nested levels over a ``value`` column (the reference's
    per-threshold ``Con``, ``species_range_etl.py:123-125``).  A cell is in
    level t's union iff the max of its duplicates' values is >= t, so one
    kernel call per group emits one row per distinct level that keeps a
    cell, with a ``threshold`` (double) column after ``by``.  ``None`` is
    one level that keeps every cell, and no ``threshold`` column.

    Plan: filter at the lowest level, ``repartition(by)``, then the JVM
    dedupe on (by, row, col, affine) with ``max(value)`` and the grouped
    kernel.  The dedupe and the kernel are satisfied by the repartition's
    hash partitioning, so the whole dissolve is one exchange.
    ``num_partitions``: see polygonize — caps Python-worker fan-out when
    the group cardinality is known-small; the explicit count also keeps
    AQE from coalescing the groups onto one task.
    """
    by = list(by)
    affine_cols = [c for c in ("xll", "yll", "cellsize", "nrows") if c in cells.columns]
    key = by + ["row", "col"] + affine_cols
    levels = None if thresholds is None else sorted({float(t) for t in thresholds})
    if levels is not None:
        if not levels or "threshold" in by:
            raise ValueError("thresholds need at least one level and no 'threshold' key")
        cells = cells.where(F.col("value") >= levels[0])
    spread = cells.repartition(num_partitions, *by) if num_partitions else cells.repartition(*by)
    if levels is None:
        deduped = spread.select(*key).distinct()
        level_cols = []
    else:
        deduped = spread.groupBy(*key).agg(F.max("value").alias("value"))
        level_cols = [T.StructField("threshold", T.DoubleType())]
    schema = T.StructType(
        [cells.schema[c] for c in by]
        + level_cols
        + [
            T.StructField("geometry", T.BinaryType()),
            T.StructField("area", T.DoubleType()),
            T.StructField("n_parts", T.LongType()),
            T.StructField("n_cells", T.LongType()),
        ]
    )
    columns = schema.fieldNames()

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = [pdf[c].iloc[0] for c in by]
        affine = _affine_of(pdf, (x0, y0, cellsize, nrows))
        rows, cols = pdf["row"].to_numpy(), pdf["col"].to_numpy()
        if levels is None:
            return pd.DataFrame(
                [keys + list(union_cells_to_multipolygon(rows, cols, *affine))], columns=columns
            )
        value = pdf["value"].to_numpy()
        out = []
        for t in levels:
            # Spark orders NaN above every number, so a NaN cell is kept
            keep = (value >= t) | np.isnan(value)
            if keep.any():
                out.append(keys + [t, *union_cells_to_multipolygon(rows[keep], cols[keep], *affine)])
        return pd.DataFrame(out, columns=columns)

    return deduped.groupBy(*by).applyInPandas(fn, schema)


#: Measured crossover where the tiled dissolve starts beating the plain
#: one-task-per-group kernel (SCALE.md rule 49: plain's second decade is
#: superlinear e=1.19 — kernel + Arrow transfer scale with the whole
#: group — while tiled stays linear e=1.00; extrapolated wall-clock
#: crossover ~10^3.3x fixture ≈ 2M cells/group, far below the ~1e8-cell
#: task-OOM bound).  Conservative by an order of magnitude against the
#: extrapolation error: the cost of routing early is a constant-factor
#: level-2 merge; the cost of routing late is superlinear.
DISSOLVE_TILED_THRESHOLD_CELLS = 2_000_000


def dissolve_auto(
    cells: DataFrame,
    by: Sequence[str],
    threshold_cells: int = DISSOLVE_TILED_THRESHOLD_CELLS,
    tile_size: int = 4096,
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
    num_partitions: int | None = None,
    thresholds: Sequence[float] | None = None,
) -> DataFrame:
    """Size-dispatched dissolve (VERDICT r12 #3): plain kernel for small
    groups, tiled two-level kernel above ``threshold_cells`` per group.

    SCALE.md rule 49's conclusion, now code instead of advice: below the
    measured ~2M-cells/group crossover the single-task kernel is both
    simpler and faster (the tiled twin pays ~90 level-1 tasks plus a
    level-2 merge for nothing), above it the plain kernel goes
    superlinear and eventually OOMs, so the caller-must-know dispatch
    was the one structural 100x-scale concern left in the geo family.

    Sizing pass: ONE aggregation-only job over the raw cell stream (with
    ``thresholds``, the cells at or above the lowest level: the nested
    groups) — ``groupBy(by).count() -> max``, all JVM, partial-aggregated
    map-side, no Python.  Raw row count is an UPPER bound on a group's
    unique cells at every level (duplicates inflate it), so routing is
    conservative: duplication can only send a workload to the tiled
    kernel early, never keep an over-threshold group on the single-task
    kernel.  The returned plan is byte-identical to ``dissolve(...)``
    below the threshold (pinned in tests/test_geometry.py); above it, the
    tiled plan, with the levels exploded into a ``threshold`` key — same
    region/area/cell-count, ``n_parts`` split along tile edges (see
    ``dissolve_tiled``).
    """
    by = list(by)
    sized = cells if thresholds is None else cells.where(F.col("value") >= min(thresholds))
    max_n = sized.groupBy(*by).count().agg(F.max("count")).first()[0]
    if max_n is None or max_n <= threshold_cells:
        return dissolve(cells, by, x0, y0, cellsize, nrows, num_partitions, thresholds)
    if thresholds is None:
        return dissolve_tiled(cells, by, tile_size, x0, y0, cellsize, nrows)
    fanned = sized.withColumn(
        "threshold", F.explode(F.array(*[F.lit(float(t)) for t in sorted(set(thresholds))]))
    ).where(F.col("value") >= F.col("threshold"))
    return dissolve_tiled(fanned, by + ["threshold"], tile_size, x0, y0, cellsize, nrows)


def dissolve_tiled(
    cells: DataFrame,
    by: Sequence[str],
    tile_size: int = 4096,
    x0: float = 0.0,
    y0: float = 0.0,
    cellsize: float = 1.0,
    nrows: int | None = None,
) -> DataFrame:
    """Two-level dissolve for groups too large for one task's memory.

    The plain ``dissolve`` sends ALL of a group's unique cells to one Python
    task — at a continental raster (1e9 kept cells x 16 B) that task OOMs.
    Here level 1 polygonizes per (group, tile) — task memory bounded by
    ``tile_size^2`` cells — and level 2 concatenates the per-tile
    MultiPolygon parts (a few KB per tile) per group.

    Semantics: the output covers EXACTLY the same region with the same area
    and cell count as ``dissolve``; polygon parts ARE split along tile lines
    (two touching parts instead of one merged part where a component crosses
    a tile edge), so ``n_parts`` is an upper bound.  Region/area-exactness is
    what the reference's downstream (area computation + PostGIS load) needs;
    part-minimality is not — and the test suite pins area/cell equality
    against the single-task kernel."""
    by = list(by)
    tiled = cells.withColumn(
        "_tile_r", (F.col("row") / tile_size).cast("long")
    ).withColumn("_tile_c", (F.col("col") / tile_size).cast("long"))
    per_tile = dissolve(
        tiled, by + ["_tile_r", "_tile_c"], x0, y0, cellsize, nrows
    )

    schema = T.StructType(
        [cells.schema[c] for c in by]
        + [
            T.StructField("geometry", T.BinaryType()),
            T.StructField("area", T.DoubleType()),
            T.StructField("n_parts", T.LongType()),
            T.StructField("n_cells", T.LongType()),
        ]
    )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.wkb import decode, encode_multipolygon

        keys = {c: pdf[c].iloc[0] for c in by}
        polys = []
        for blob in pdf["geometry"]:
            _, parts = decode(bytes(blob))
            polys.extend(parts)
        return pd.DataFrame(
            [
                {
                    **keys,
                    "geometry": encode_multipolygon(polys),
                    "area": float(pdf["area"].sum()),
                    "n_parts": int(pdf["n_parts"].sum()),
                    "n_cells": int(pdf["n_cells"].sum()),
                }
            ],
            columns=by + ["geometry", "area", "n_parts", "n_cells"],
        )

    return per_tile.groupBy(*by).applyInPandas(merge, schema)


def with_area(geo_df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Scalar geometry area (C1, ``species_range_etl.py:227``) over WKB via
    an Arrow-batched pandas UDF — square-unit semantics preserved."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def area_udf(wkb: pd.Series) -> pd.Series:
        from ..functions.wkb import wkb_area

        return wkb.map(lambda b: wkb_area(bytes(b)) if b is not None else None)

    return geo_df.withColumn("area", area_udf(F.col(geometry_col)))


def with_simplified(
    geo_df: DataFrame, tolerance: float = 0.0, geometry_col: str = "geometry"
) -> DataFrame:
    """Artifact-size pass: Douglas-Peucker per ring over WKB
    (``functions.wkb.simplify_wkb``), Arrow-batched.  tolerance=0 removes
    exactly the collinear vertices the cell-boundary walk emits — the
    cheap 3-10x output shrink before a shapefile/GPKG export."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def simp_udf(wkb: pd.Series) -> pd.Series:
        from ..functions.wkb import simplify_wkb

        return wkb.map(
            lambda b: simplify_wkb(bytes(b), tolerance) if b is not None else None
        )

    return geo_df.withColumn(geometry_col, simp_udf(F.col(geometry_col)))


def with_area_km2(geo_df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """Real-units area column (km², spherical shoelace over lon/lat WKB)
    alongside the reference-fidelity square-degree ``with_area``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def km2_udf(wkb: pd.Series) -> pd.Series:
        from ..functions.wkb import wkb_area_km2

        return wkb.map(
            lambda b: wkb_area_km2(bytes(b)) if b is not None else None
        )

    return geo_df.withColumn("area_km2", km2_udf(F.col(geometry_col)))


def with_transformed(
    geo_df: DataFrame,
    src_epsg: int,
    dst_epsg: int,
    geometry_col: str = "geometry",
) -> DataFrame:
    """ST_Transform over WKB geometries (closed-form ``functions.proj``:
    4326 <-> 6933 equal-area <-> 3857 web), Arrow-batched.  The reference
    stops at assigning 4326 (``species_range_etl.py:132``); this is the
    reprojection step a metric-area or web-tile consumer needs next."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.proj import EPSG_SUPPORTED

    if src_epsg not in EPSG_SUPPORTED or dst_epsg not in EPSG_SUPPORTED:
        raise ValueError(f"unsupported CRS pair {src_epsg}->{dst_epsg}")

    @pandas_udf("binary")
    def tf_udf(wkb: pd.Series) -> pd.Series:
        from ..functions.proj import transform_wkb

        return wkb.map(
            lambda b: transform_wkb(bytes(b), src_epsg, dst_epsg)
            if b is not None
            else None
        )

    return geo_df.withColumn(geometry_col, tf_udf(F.col(geometry_col)))


def with_area_m2(geo_df: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """True ellipsoidal area (m²) of lon/lat WKB: project to the
    equal-area EPSG:6933 and shoelace — the metric companion to
    ``with_area`` (square degrees) and ``with_area_km2`` (spherical)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def m2_udf(wkb: pd.Series) -> pd.Series:
        from ..functions.proj import wkb_area_m2

        return wkb.map(
            lambda b: wkb_area_m2(bytes(b)) if b is not None else None
        )

    return geo_df.withColumn("area_m2", m2_udf(F.col(geometry_col)))
