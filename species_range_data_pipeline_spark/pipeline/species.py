"""The species-range pipeline, end-to-end, as ONE lazy Spark dataflow.

Reference lifecycle (``species_range_etl.py:239-286``): setup -> extract ->
transform -> load, with thread/process pools and filesystem staging between
every stage.  Here the stages are a single DataFrame lineage — the barriers
disappear (SURVEY.md §3), parallelism is task scheduling, and every former
silent failure is an error-channel row.

    zips (binaryFile) --decode_zips--> cell + error rows
                                          (T1-T3: unzip and decode in ONE
                                           Python call; stored once per pass)
      cells x thresholds[0.25,0.5,0.75]  (X1: literal explode, no join)
      filter value >= threshold           (F3)
      polygonize per (species,file,thr)   (T4: applyInPandas)
      filename -> attributes              (T6: column expressions)
      dissolve by species+scenario key    (A1: cell-space union, one
                                           task per core)
      area                                (C1: shoelace, square degrees)
      sid                                 (P5: row_number over explicit order)
      sink                                (K1: parquet native / JDBC adapter)

The ``etl`` CLI persists the decoded frame for the pass: the dissolve's
sizing job fills the store, and the sink write and the error collect read
the stored blocks, so the archives are scanned and decoded once.

Attribute quirks preserved for parity with the reference: threshold rendered
as the string "25"/"50"/"75" (``:190,200``), year stays a string (the
to_datetime at ``:226`` is commented out), area in square degrees (``:227``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.polygonize import dissolve_auto, polygonize
from .geotiff import decode_raster_members
from .raster import decode_zips, read_binary_files

THRESHOLDS = [0.25, 0.5, 0.75]


def split_errors(cells: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Decoded CELL_SCHEMA rows -> (cell rows, error rows (item, error))."""
    errors = cells.where(F.col("error").isNotNull()).select(
        F.col("file").alias("item"), "error"
    )
    return cells.where(F.col("error").isNull()), errors


def load_cells_from_zips(spark: SparkSession, zip_dir: str) -> tuple[DataFrame, DataFrame]:
    """extract(): zip archives -> (cell rows, error rows).  Members may be
    ASCII grids or GeoTIFFs (the reference's workspace holds both,
    ``species_range_etl.py:87-92``); the decoder sniffs per member.  Both
    frames are filters of ONE ``decode_zips`` frame, so persisting that
    frame (as the ``etl`` CLI does) makes one archive scan serve both."""
    return split_errors(decode_zips(spark, zip_dir))


def load_cells_from_dir(spark: SparkSession, raster_dir: str) -> tuple[DataFrame, DataFrame]:
    """extract() variant for pre-landed .asc/.tif files."""
    files = read_binary_files(
        spark, raster_dir, glob="*.{asc,tif,tiff}"
    ).select(F.col("path").alias("member"), "content")
    return split_errors(decode_raster_members(files))


def parse_scenario_attributes(df: DataFrame, file_col: str = "file") -> DataFrame:
    """T6 (``species_range_etl.py:188-198``): '{species}__{threshold}_{...}'
    is parsed from the member file name.  Accepts both the 2-token
    (threshold, current) and 4-token (threshold, source, scenario, yYYYY)
    forms; species is the basename's leading token before the first '__'.

    The reference keys files as '{threshold}_{source}_{scenario}_{yYYYY}.shp'
    inside a per-species directory; with directory layout flattened into the
    member name we carry species explicitly as 'species__rest.asc'.
    """
    base = F.element_at(F.split(F.col(file_col), "/"), -1)
    base = F.regexp_replace(base, r"\.(asc|txt|tif|tiff|nc|shp)$", "")
    species = F.split(base, "__").getItem(0)
    rest = F.split(base, "__").getItem(1)
    toks = F.split(rest, "_")
    two = F.size(toks) == 2
    return (
        df.withColumn("species", species)
        .withColumn("threshold_name", toks.getItem(0))
        .withColumn(
            "source", F.when(two, F.lit("vtech")).otherwise(toks.getItem(1))
        )
        .withColumn(
            "scenario", F.when(two, F.lit("current")).otherwise(toks.getItem(2))
        )
        .withColumn(
            "year",
            F.when(two, F.lit("2020")).otherwise(
                # strip the leading 'y' of token 4 (species_range_etl.py:198)
                F.element_at(toks, 4).substr(
                    F.lit(2), F.length(F.element_at(toks, 4))
                )
            ),
        )
    )


def run_pipeline(
    cells: DataFrame,
    thresholds: list[float] | None = None,
) -> DataFrame:
    """transform()+load() dataflow from cell rows to the speciesdata table.

    Output schema == the reference's only output schema (SURVEY.md §1.4):
    (sid, species, species_id, geometry, threshold, source, year, scenario,
    area).
    """
    thresholds = thresholds or THRESHOLDS
    # X1: literal threshold fan-out — explode, not a join (3x rows, 0 shuffle)
    fanned = cells.withColumn(
        "threshold", F.explode(F.array(*[F.lit(t) for t in thresholds]))
    )
    # F3: map-algebra predicate (arcpy.sa.Con at species_range_etl.py:123-125)
    kept = fanned.where(F.col("value") >= F.col("threshold"))
    # T6 on the member name
    attributed = parse_scenario_attributes(kept)
    # threshold as string "25"/"50"/"75" for reference fidelity (:190,200)
    attributed = attributed.withColumn(
        "threshold", (F.col("threshold") * 100).cast("int").cast("string")
    )
    # A1: dissolve by the full attribute key; geometry union in cell space.
    # (GeoPandas dissolve(by="species") runs per shapefile == per attribute
    # combination; the engine groups once, globally — same result, one job.)
    # Size-dispatched (SCALE.md rule 49): groups above the measured ~2M-cell
    # crossover route to the tiled two-level kernel automatically.
    dissolved = dissolve_auto(
        attributed,
        by=["species", "threshold", "source", "year", "scenario"],
        # grid georeferencing: all fixture rasters share the affine; per-file
        # affines would tile the group key (see operators/polygonize.py)
        # An explicit repartition (shuffle origin REPARTITION_BY_NUM) spreads
        # the groups over every core: AQE does not coalesce it, whereas the
        # groupBy's own few-MB shuffle coalesces to ONE Python task.
        num_partitions=cells.sparkSession.sparkContext.defaultParallelism,
    )
    # C1 (area already computed by the dissolve kernel in square units),
    # P4 (species_id surrogate from the component count stand-in) and
    # P5 (sid via row_number over an explicit, deterministic order).
    w = Window.orderBy("species", "threshold", "source", "year", "scenario")
    return (
        dissolved.withColumn("species_id", F.col("n_parts").cast("long"))
        .withColumn("sid", (F.row_number().over(w) - 1).cast("long"))
        .select(
            "sid",
            "species",
            "species_id",
            "geometry",
            "threshold",
            "source",
            "year",
            "scenario",
            F.col("area").cast("double").alias("area"),
        )
    )


def assign_crs(
    df: DataFrame, srid: int = 4326, geometry_col: str = "geometry"
) -> DataFrame:
    """T5 (``species_range_etl.py:129-135``): CRS assignment, declaratively.

    The reference rewrites every shapefile with ``set_crs(epsg=4326)`` and
    swallows any failure in a bare ``except`` (whose log call even has a
    %-format bug).  In the engine the CRS is a metadata column on the
    feature table — per SURVEY.md §2 row T5 — and geometry problems are an
    error COLUMN (side channel), never a vanished row.
    """
    return df.withColumn("srid", F.lit(srid)).withColumn(
        "crs_error",
        F.when(F.col(geometry_col).isNull(), F.lit("null geometry")).when(
            F.length(F.col(geometry_col)) == 0, F.lit("empty geometry")
        ),
    )


def ewkb_column(geometry_col: str, srid: int):
    """WKB binary column -> PostGIS EWKB, entirely with JVM-side byte
    slicing (no Python worker in the sink path): keep the byte-order byte
    and the low 3 type bytes, overwrite the type word's high byte with the
    0x20 SRID flag (our WKB type codes are 3/6, so that byte is always
    0x00), splice the little-endian SRID, append the payload.  Python
    reference twin: ``functions.wkb.to_ewkb``."""
    import struct as _struct

    g = F.col(geometry_col)
    return F.concat(
        g.substr(F.lit(1), F.lit(4)),
        F.lit(b"\x20"),
        F.lit(_struct.pack("<I", srid)),
        g.substr(F.lit(6), F.length(g) - 5),
    )


def prepare_geometry_column(
    df: DataFrame,
    geometry_format: str,
    geometry_col: str = "geometry",
    srid: int = 4326,
) -> DataFrame:
    """Rewrite a WKB geometry column for the target sink: ``"ewkb"``
    (SRID-embedded binary, PostGIS-native), ``"ewkt"`` (``SRID=n;...``
    strings for drivers that can't bind binary), or ``"wkb"`` pass-through.
    Shared by the JDBC sink and the wire-protocol Postgres sink."""
    if geometry_format == "ewkb":
        return df.withColumn(geometry_col, ewkb_column(geometry_col, srid))
    if geometry_format == "ewkt":
        from species_range_data_pipeline_spark.functions.wkb import to_ewkt

        @F.pandas_udf("string")
        def _ewkt(s):
            import pandas as pd

            return pd.Series(
                [None if b is None else to_ewkt(bytes(b), srid) for b in s]
            )

        return df.withColumn(geometry_col, _ewkt(F.col(geometry_col)))
    if geometry_format != "wkb":
        raise ValueError(f"unknown geometry_format {geometry_format!r}")
    return df


def write_speciesdata(
    df: DataFrame,
    path: str | None = None,
    jdbc_url: str | None = None,
    table: str = "speciesdata",
    batchsize: int = 1000,
    geometry_format: str = "wkb",
    geometry_col: str = "geometry",
    srid: int = 4326,
    create_table_column_types: str | None = None,
    truncate: bool = False,
) -> None:
    """K1 sink: parquet native; JDBC overwrite when a URL is supplied.

    The reference's ``to_postgis(..., if_exists="replace", chunksize=5)``
    (``species_range_etl.py:236``) maps to mode("overwrite") and a sane
    batchsize (5 rows/insert at 100 TB would be a denial of service on
    your own database).

    Geometry-typed targets: ``geometry_format="ewkb"`` rewrites the WKB
    geometry column to EWKB (SRID flag + embedded SRID — what PostGIS
    stores natively and accepts for bytea->geometry ingestion);
    ``"ewkt"`` emits ``SRID=n;POLYGON(...)`` strings for drivers that
    can't bind binary into a geometry column.  A PostGIS ``geometry``
    column type cannot be declared through ``create_table_column_types``
    (Spark parses that option as Spark SQL DDL), so the production
    pattern is: pre-create the table once with the geometry type, then
    write with ``truncate=True`` — overwrite empties the table with
    TRUNCATE instead of DROP+CREATE, preserving the geometry DDL.
    ``create_table_column_types`` remains for Spark-expressible overrides
    (e.g. ``'species VARCHAR(64)'``).
    """
    df = prepare_geometry_column(df, geometry_format, geometry_col, srid)
    if jdbc_url:
        writer = (
            df.write.format("jdbc")
            .mode("overwrite")
            .option("url", jdbc_url)
            .option("dbtable", table)
            .option("batchsize", str(batchsize))
        )
        if create_table_column_types:
            writer = writer.option(
                "createTableColumnTypes", create_table_column_types
            )
        if truncate:
            writer = writer.option("truncate", "true")
        writer.save()
    elif path:
        df.write.mode("overwrite").parquet(path)
    else:
        raise ValueError("need path or jdbc_url")
