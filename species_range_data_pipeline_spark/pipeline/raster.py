"""Raster sources: ASCII-grid decode and zip-archive expansion.

Replaces the reference's file-at-a-time GDAL/zipfile stages (S4/T1/T2/T3,
``species_range_etl.py:59-92,155-173``) with DataFrame transforms over
``binaryFile`` scans:

  binaryFile scan -> mapInPandas(unzip)  -> member rows (path, name, bytes)
  member rows     -> mapInPandas(decode) -> long-format cell rows
  binaryFile scan -> mapInPandas(unzip + decode) -> cell rows  (decode_zips:
                     both steps in one Python call, the pipeline's path)

The ASCII->GeoTIFF conversion (T3) disappears: both encodings decode to the
same cell-row model, so the engine never materializes an intermediate
format.  Bad archives become rows in an error side-channel instead of
swallowed exceptions (the reference drops them silently at ``:254-255``).
"""

from __future__ import annotations

import io
import re
import zipfile
from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .netcdf import parse_netcdf

_HEADER_KEYS = {"ncols", "nrows", "xllcorner", "yllcorner", "cellsize", "nodata_value"}

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("archive", T.StringType()),
        T.StructField("member", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("error", T.StringType()),
    ]
)

CELL_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("row", T.IntegerType()),
        T.StructField("col", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("xll", T.DoubleType()),
        T.StructField("yll", T.DoubleType()),
        T.StructField("cellsize", T.DoubleType()),
        T.StructField("nrows", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """binaryFile scan: (path, modificationTime, length, content)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


#: per-member decompressed-size cap — a zip bomb declares (or lies its
#: way to) a huge expansion; one member must never exceed an executor
#: task's memory budget.  Oversized members become error rows.
MAX_MEMBER_BYTES = 1 << 30

#: member names the raster decoders accept; other members (.prj, .xml
#: sidecars, readmes) are skipped, not errors
_RASTER_MEMBER = re.compile(r"\.(asc|txt|tif|tiff|nc)$")


def _unzip(
    blob: bytes, cap: int
) -> Iterator[tuple[str | None, bytes | None, str | None]]:
    """One archive -> (member, content, error) per file member.  ``cap``
    arrives from the caller's closure rather than the module global: this
    function is pickled by reference, so a driver-side patch of
    ``MAX_MEMBER_BYTES`` would not reach the workers through it."""
    try:
        with zipfile.ZipFile(io.BytesIO(blob)) as zf:
            for info in zf.infolist():
                name = info.filename
                if name.endswith("/"):
                    continue
                if info.file_size > cap:
                    yield name, None, f"member too large: {info.file_size} bytes"
                    continue
                with zf.open(info) as fh:
                    data = fh.read(cap + 1)
                if len(data) > cap:
                    yield (name, None, "member too large: header "
                                       "understates decompressed size")
                    continue
                yield name, data, None
    except zipfile.BadZipFile as exc:
        yield None, None, f"BadZipFile: {exc}"


def expand_zip(archives: DataFrame) -> DataFrame:
    """T1: zip bytes -> one row per member.  BadZipFile -> error row, not a
    swallowed exception (fixes species_range_etl.py:170-173,254-255);
    members whose decompressed size exceeds ``MAX_MEMBER_BYTES`` are
    rejected per-member (zip-bomb guard — the read is capped so a header
    that LIES about its size cannot expand past the limit either)."""
    cap = MAX_MEMBER_BYTES

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                {"archive": path, "member": name, "content": data, "error": err}
                for path, blob in zip(pdf["path"], pdf["content"])
                for name, data, err in _unzip(blob, cap)
            ]
            yield pd.DataFrame(out, columns=[f.name for f in MEMBER_SCHEMA.fields])

    return archives.select("path", "content").mapInPandas(fn, MEMBER_SCHEMA)


def parse_ascii_grid(content: bytes) -> tuple[dict, list[tuple[int, int, float]]]:
    """One ESRI ASCII grid -> (header, [(row, col, value), ...]); NODATA
    cells are dropped (they are the reference's implicit absence encoding)."""
    text = content.decode("utf-8", errors="replace")
    header: dict[str, float] = {}
    cells: list[tuple[int, int, float]] = []
    row = 0
    for line in text.splitlines():
        parts = line.split()
        if not parts:
            continue
        if parts[0].lower() in _HEADER_KEYS:
            header[parts[0].lower()] = float(parts[1])
            continue
        nodata = header.get("nodata_value", -9999.0)
        for col, tok in enumerate(parts):
            v = float(tok)
            if v != nodata:
                cells.append((row, col, v))
        row += 1
    return header, cells


def parse_raster(content: bytes) -> tuple[dict, list[tuple[int, int, float]]]:
    """Format sniff: GeoTIFF magic -> TIFF parser, NetCDF magic ->
    classic-CDF parser, anything else -> ASCII grid parser."""
    from .geotiff import parse_geotiff  # imported here: geotiff imports this module

    if content[:2] in (b"II", b"MM") and len(content) >= 4:
        return parse_geotiff(content)
    if content[:3] == b"CDF" or content[:8] == b"\x89HDF\r\n\x1a\n":
        return parse_netcdf(content)
    return parse_ascii_grid(content)


def _decode_batch(
    items: Iterable[tuple[str, bytes]], parser, errors: Iterable[dict] = ()
) -> pd.DataFrame:
    """(name, content) pairs -> CELL_SCHEMA rows, one per kept cell, after
    the already-built ``errors`` rows; a parse failure becomes one error
    row for its item."""
    out = list(errors)
    for name, blob in items:
        try:
            header, cells = parser(bytes(blob))
            xll = header.get("xllcorner", 0.0)
            yll = header.get("yllcorner", 0.0)
            cs = header.get("cellsize", 1.0)
            nr = int(header.get("nrows", 0))
            for r, c, v in cells:
                out.append(
                    {"file": name, "row": r, "col": c, "value": v,
                     "xll": xll, "yll": yll, "cellsize": cs,
                     "nrows": nr, "error": None}
                )
        except Exception as exc:  # decode failure -> error channel
            out.append(_error_row(name, f"{type(exc).__name__}: {exc}"))
    return pd.DataFrame(out, columns=[f.name for f in CELL_SCHEMA.fields])


def _error_row(item: str | None, error: str) -> dict:
    return {"file": item, "row": None, "col": None, "value": None,
            "xll": None, "yll": None, "cellsize": None, "nrows": None,
            "error": error}


def _decode_members(
    members: DataFrame, parser, name_col: str = "member"
) -> DataFrame:
    """(``name_col``, content) rows -> long-format cell rows via ``parser``
    (bytes -> (header, cells)); the shared body of the per-format decoders."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_batch(zip(pdf[name_col], pdf["content"]), parser)

    return members.select(name_col, "content").mapInPandas(fn, CELL_SCHEMA)


def decode_ascii_members(members: DataFrame, name_col: str = "member") -> DataFrame:
    """T2+T3 collapsed: ASCII grid bytes -> long-format cell rows with the
    georeferencing header carried per row (SURVEY.md §1.3 model (b))."""
    return _decode_members(members, parse_ascii_grid, name_col)


def decode_zips(spark: SparkSession, zip_dir: str) -> DataFrame:
    """T1+T2+T3 in one Python call per batch: every ``*.zip`` under
    ``zip_dir`` -> CELL_SCHEMA rows.  One binaryFile scan, one
    mapInPandas; raster members (``_RASTER_MEMBER``) decode through the
    format sniff, other members are skipped.  Archive-level failures
    (BadZipFile, a member over ``MAX_MEMBER_BYTES``) become rows whose
    ``file`` is the archive path; decode failures, rows whose ``file`` is
    the member name — ``error`` set on both, cell columns null."""
    cap = MAX_MEMBER_BYTES

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            errors, rasters = [], []
            for path, blob in zip(pdf["path"], pdf["content"]):
                for name, data, err in _unzip(blob, cap):
                    if err is not None:
                        errors.append(_error_row(path, err))
                    elif _RASTER_MEMBER.search(name):
                        rasters.append((name, data))
            yield _decode_batch(rasters, parse_raster, errors)

    archives = read_binary_files(spark, zip_dir, glob="*.zip")
    return archives.select("path", "content").mapInPandas(fn, CELL_SCHEMA)
