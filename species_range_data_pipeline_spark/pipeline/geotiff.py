"""GeoTIFF decode/encode: pure-struct parser for uncompressed single-band
rasters, no GDAL.

The reference converts ASCII grids to GeoTIFF with GDAL and then reads the
`.tif` back (T3, ``species_range_etl.py:87-92``); a user of the reference
therefore has GeoTIFF artifacts on disk.  This module lets the engine ingest
(and produce) those files directly: a classic-TIFF IFD walk + the three
GeoTIFF georeferencing tags, decoding to the SAME long-format cell rows as
the ASCII lane (``raster.py:CELL_SCHEMA``), so everything downstream
(threshold filter, polygonize, dissolve) is format-agnostic.

Scope — what GDAL emits for single-band rasters in the wild: classic TIFF
(little or big endian), single band, strip OR tile organized, uncompressed /
DEFLATE (stdlib ``zlib``) / LZW (TIFF variant with early change, implemented
here) compressed, horizontal-differencing predictor for integer samples,
32/64-bit IEEE float or 8-32-bit integer samples, ``ModelPixelScale`` +
``ModelTiepoint`` georeferencing, ``GDAL_NODATA`` (including the ``nan``
sentinel GDAL writes for float rasters).  JPEG-compressed, BigTIFF, or
multi-band files raise ``ValueError`` into the error side-channel — loud,
never silent.

Scale note: decode runs inside ``mapInPandas`` over a ``binaryFile`` scan —
one task per file group, no driver involvement, same shape as the zip lane.
A 100 TB raster archive decodes as wide as the cluster.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np

from pyspark.sql import DataFrame

from .raster import _decode_members, parse_raster

# TIFF field types -> (struct fmt char, byte size)
_TYPES = {
    1: ("B", 1),   # BYTE
    2: ("c", 1),   # ASCII
    3: ("H", 2),   # SHORT
    4: ("I", 4),   # LONG
    8: ("h", 2),   # SSHORT
    9: ("i", 4),   # SLONG
    11: ("f", 4),  # FLOAT
    12: ("d", 8),  # DOUBLE
}

_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_STRIP_OFFSETS = 273
_TAG_SAMPLES_PER_PIXEL = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_BYTE_COUNTS = 279
_TAG_PREDICTOR = 317
_TAG_TILE_WIDTH = 322
_TAG_TILE_LENGTH = 323
_TAG_TILE_OFFSETS = 324
_TAG_TILE_BYTE_COUNTS = 325
_TAG_SAMPLE_FORMAT = 339
_TAG_MODEL_PIXEL_SCALE = 33550
_TAG_MODEL_TIEPOINT = 33922
_TAG_GDAL_NODATA = 42113

_SAMPLE_UINT, _SAMPLE_INT, _SAMPLE_FLOAT = 1, 2, 3

_LZW_CLEAR, _LZW_EOI = 256, 257


def _lzw_decode(data: bytes, max_out: int) -> bytes:
    """TIFF-variant LZW (MSB-first codes, 9->12 bit widths with EARLY
    change: the reader widens one table entry before the power of two,
    staying in sync with a writer that widens at next_code == 2^n - 1).
    Output is capped at ``max_out`` (decompression-bomb guard)."""
    out = bytearray()
    table: list[bytes] = []
    nbits = 9
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8

    def reset() -> None:
        nonlocal table, nbits
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        nbits = 9

    reset()
    while bitpos + nbits <= total_bits:
        byte_idx = bitpos >> 3
        window = int.from_bytes(
            data[byte_idx : byte_idx + 3].ljust(3, b"\x00"), "big"
        )
        code = (window >> (24 - (bitpos & 7) - nbits)) & ((1 << nbits) - 1)
        bitpos += nbits
        if code == _LZW_EOI:
            break
        if code == _LZW_CLEAR:
            reset()
            prev = None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError(f"bad LZW code {code} after clear")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):  # KwKwK case
                entry = prev + prev[:1]
            else:
                raise ValueError(f"bad LZW code {code} (table {len(table)})")
            table.append(prev + entry[:1])
        out += entry
        if len(out) > max_out:
            raise ValueError("LZW output exceeds pixel budget")
        prev = entry
        if nbits < 12 and len(table) == (1 << nbits) - 2:
            nbits += 1  # early change: reader lags the writer's table by one
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW writer (the exact inverse of ``_lzw_decode``):
    MSB-first bit packing, ClearCode emitted first and whenever the table
    fills at 4094 entries, code width bumps at next_code == 2^n - 1."""
    out = bytearray()
    buf = 0
    buflen = 0
    nbits = 9

    def emit(code: int) -> None:
        nonlocal buf, buflen
        buf = (buf << nbits) | code
        buflen += nbits
        while buflen >= 8:
            out.append((buf >> (buflen - 8)) & 0xFF)
            buflen -= 8
        # drop drained high bits: without this the buffer is an ever-
        # growing bignum and encoding turns quadratic in input size
        buf &= (1 << buflen) - 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(_LZW_CLEAR)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        if nbits < 12 and next_code == (1 << nbits) - 1:
            nbits += 1
        elif next_code == 4094:  # table full: clear and restart
            emit(_LZW_CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            nbits = 9
        w = bytes([b])
    if w:
        emit(table[w])
        # phantom table-slot accounting (libtiff's flush behavior): the
        # decoder appends an entry after EVERY data code, including this
        # final one, and may widen on it — bump the counter with no insert
        # so the EOI below is written at the width the decoder will read
        # it with (otherwise streams whose final code lands the table on a
        # 2^n - 2 boundary desync exactly at EOI).
        next_code += 1
        if nbits < 12 and next_code == (1 << nbits) - 1:
            nbits += 1
    emit(_LZW_EOI)
    if buflen:
        out.append((buf << (8 - buflen)) & 0xFF)
    return bytes(out)


def _decompress_chunk(chunk: bytes, comp: int, budget: int) -> bytes:
    if comp == 1:
        return chunk
    if comp == 5:
        return _lzw_decode(chunk, budget)
    try:
        # cap expansion at the pixel budget (zip-bomb guard)
        return zlib.decompressobj().decompress(chunk, budget + 1)
    except zlib.error as exc:
        raise ValueError(f"bad deflate strip: {exc}") from None


def _read_ifd(content: bytes, bo: str, offset: int) -> dict[int, list]:
    """One IFD -> {tag: [values...]}; out-of-line values are followed."""
    (n_entries,) = struct.unpack_from(bo + "H", content, offset)
    fields: dict[int, list] = {}
    for i in range(n_entries):
        base = offset + 2 + 12 * i
        tag, ftype, count = struct.unpack_from(bo + "HHI", content, base)
        if ftype not in _TYPES:
            continue  # unknown type: spec says skip
        fmt, size = _TYPES[ftype]
        total = size * count
        if total <= 4:
            where = base + 8
        else:
            (where,) = struct.unpack_from(bo + "I", content, base + 8)
        # count is attacker-controlled: bound BEFORE building the format
        # string (fmt * count of a 4-billion count allocates gigabytes)
        if where + total > len(content):
            raise ValueError(
                f"IFD tag {tag}: {total} value bytes at {where} exceed file size"
            )
        if ftype == 2:  # ASCII: NUL-terminated string
            raw = content[where : where + count]
            fields[tag] = [raw.split(b"\x00", 1)[0].decode("ascii", "replace")]
        else:
            fields[tag] = list(
                struct.unpack_from(bo + fmt * count, content, where)
            )
    return fields


def parse_geotiff(content: bytes) -> tuple[dict, list[tuple[int, int, float]]]:
    """One GeoTIFF -> (header, [(row, col, value), ...]) — the exact contract
    of ``raster.parse_ascii_grid`` so the two lanes are interchangeable.
    Row 0 is the TOP row in both (TIFF row order == ASCII grid line order);
    NODATA cells are dropped.  Malformed input raises ``ValueError``
    (truncations/bit flips normalized from the struct layer)."""
    try:
        return _parse_geotiff(content)
    except (struct.error, KeyError, IndexError) as exc:
        raise ValueError(f"malformed TIFF: {exc!r}") from exc


def _parse_geotiff(content: bytes) -> tuple[dict, list[tuple[int, int, float]]]:
    if len(content) < 8:
        raise ValueError("not a TIFF: too short")
    order = content[:2]
    if order == b"II":
        bo = "<"
    elif order == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    magic, ifd_off = struct.unpack_from(bo + "HI", content, 2)
    if magic == 43:
        raise ValueError("BigTIFF not supported (classic TIFF only)")
    if magic != 42:
        raise ValueError(f"not a TIFF: magic {magic}")
    if ifd_off + 2 > len(content):
        raise ValueError("not a TIFF: IFD offset out of bounds")
    try:
        fields = _read_ifd(content, bo, ifd_off)
    except struct.error as exc:
        raise ValueError(f"malformed IFD: {exc}") from None

    tiled = _TAG_TILE_WIDTH in fields
    comp = fields.get(_TAG_COMPRESSION, [1])[0]
    # 8 = Adobe DEFLATE, 32946 = legacy DEFLATE — both raw zlib streams;
    # 5 = TIFF LZW (GDAL's most common wild default: COMPRESS=LZW).
    if comp not in (1, 5, 8, 32946):
        raise ValueError(
            f"unsupported compression {comp} (none/lzw/deflate only)"
        )
    spp = fields.get(_TAG_SAMPLES_PER_PIXEL, [1])[0]
    if spp != 1:
        raise ValueError(f"multi-band TIFF not supported (samples={spp})")

    ncols = fields[_TAG_WIDTH][0]
    nrows = fields[_TAG_HEIGHT][0]
    bits = fields.get(_TAG_BITS, [8])[0]
    sfmt = fields.get(_TAG_SAMPLE_FORMAT, [_SAMPLE_UINT])[0]
    kind = {_SAMPLE_UINT: "u", _SAMPLE_INT: "i", _SAMPLE_FLOAT: "f"}.get(sfmt)
    if kind is None or bits % 8 or (kind == "f" and bits not in (32, 64)):
        raise ValueError(f"unsupported sample format {sfmt}/{bits}bit")
    dtype = np.dtype(f"{bo}{kind}{bits // 8}")

    # dims are attacker-controlled: bound the decode budget before any
    # allocation or decompression (this lane holds one raster in memory
    # by design; tiled/bigger-than-memory inputs are rejected above)
    expect = nrows * ncols * (bits // 8)
    if nrows <= 0 or ncols <= 0 or expect > 1 << 31:
        raise ValueError(f"implausible raster dimensions {ncols}x{nrows}")

    predictor = fields.get(_TAG_PREDICTOR, [1])[0]
    if predictor == 2 and kind == "f":
        raise ValueError("predictor=2 on float samples is invalid")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")

    if tiled:
        tw = fields[_TAG_TILE_WIDTH][0]
        th = fields[_TAG_TILE_LENGTH][0]
        if tw <= 0 or th <= 0 or tw * th * (bits // 8) > 1 << 28:
            raise ValueError(f"implausible tile dimensions {tw}x{th}")
        offs = fields[_TAG_TILE_OFFSETS]
        cnts = fields[_TAG_TILE_BYTE_COUNTS]
        across = -(-ncols // tw)
        down = -(-nrows // th)
        if len(offs) != across * down or len(cnts) != len(offs):
            raise ValueError(
                f"tile count {len(offs)} != grid {across}x{down}"
            )
        tile_bytes = tw * th * (bits // 8)
        grid = np.empty((nrows, ncols), dtype=dtype)
        for idx, (o, c) in enumerate(zip(offs, cnts)):
            raw = _decompress_chunk(content[o : o + c], comp, tile_bytes)
            if len(raw) < tile_bytes:
                raise ValueError(
                    f"truncated tile {idx}: {len(raw)} < {tile_bytes}"
                )
            t = np.frombuffer(raw[:tile_bytes], dtype=dtype).reshape(th, tw)
            if predictor == 2:  # differencing restarts on each tile row
                t = np.cumsum(t, axis=1, dtype=dtype)
            td, ta = divmod(idx, across)
            r0, c0 = td * th, ta * tw
            h = min(th, nrows - r0)
            w = min(tw, ncols - c0)
            grid[r0 : r0 + h, c0 : c0 + w] = t[:h, :w]
    else:
        strips = fields[_TAG_STRIP_OFFSETS]
        counts = fields[_TAG_STRIP_BYTE_COUNTS]
        chunks = [
            _decompress_chunk(content[o : o + c], comp, expect)
            for o, c in zip(strips, counts)
        ]
        raw = b"".join(chunks)
        if len(raw) < expect:
            raise ValueError(f"truncated pixel data: {len(raw)} < {expect}")
        grid = np.frombuffer(raw[:expect], dtype=dtype).reshape(nrows, ncols)
        if predictor == 2:  # horizontal differencing (integer samples only)
            grid = np.cumsum(grid, axis=1, dtype=dtype)  # wraps like encoder

    header: dict[str, float] = {"ncols": float(ncols), "nrows": float(nrows)}
    scale = fields.get(_TAG_MODEL_PIXEL_SCALE)
    tie = fields.get(_TAG_MODEL_TIEPOINT)
    cs = float(scale[0]) if scale else 1.0
    header["cellsize"] = cs
    if tie:
        # tiepoint maps raster (i,j) -> model (x,y): GDAL writes (0,0)->
        # (xul, yul); ASCII headers carry the LOWER-left corner.
        xul, yul = float(tie[3]), float(tie[4])
        header["xllcorner"] = xul
        header["yllcorner"] = yul - nrows * cs
    else:
        header["xllcorner"] = 0.0
        header["yllcorner"] = 0.0
    nodata = None
    if _TAG_GDAL_NODATA in fields:
        nodata = float(fields[_TAG_GDAL_NODATA][0])
        header["nodata_value"] = nodata

    cells: list[tuple[int, int, float]] = []
    if nodata is None:
        rr, cc = np.nonzero(np.ones_like(grid, dtype=bool))
    elif math.isnan(nodata):
        # GDAL writes GDAL_NODATA='nan' for float rasters; NaN != NaN, so an
        # equality mask would keep every nodata cell — mask explicitly.
        rr, cc = np.nonzero(~np.isnan(grid) if kind == "f"
                            else np.ones_like(grid, dtype=bool))
    else:
        rr, cc = np.nonzero(grid != np.array(nodata, dtype=dtype))
    vals = grid[rr, cc].astype("float64")
    for r, c, v in zip(rr.tolist(), cc.tolist(), vals.tolist()):
        cells.append((r, c, v))
    return header, cells


def _compress_chunk(raw: bytes, compression: int) -> bytes:
    if compression == 1:
        return raw
    if compression == 5:
        return _lzw_encode(raw)
    return zlib.compress(raw)


def encode_geotiff(
    header: dict,
    cells: list[tuple[int, int, float]],
    dtype: str = "f4",
    compression: int = 1,
    tile: tuple[int, int] | None = None,
) -> bytes:
    """Inverse of ``parse_geotiff``: header + sparse cells -> little-endian
    GeoTIFF bytes.  ``compression``: 1 uncompressed (the default,
    byte-stable), 8 DEFLATE, 5 LZW.  ``tile=(tw, th)`` writes a tiled
    layout (edge tiles padded with nodata, per the TIFF 6.0 spec) instead
    of a single strip.  Cells absent from ``cells`` are written as the
    header's nodata value — the same implicit-absence encoding the ASCII
    lane uses, so encode(parse(x)) round-trips."""
    if compression not in (1, 5, 8):
        raise ValueError(f"unsupported compression {compression}")
    ncols = int(header["ncols"])
    nrows = int(header["nrows"])
    nodata = float(header.get("nodata_value", -9999.0))
    cs = float(header.get("cellsize", 1.0))
    xll = float(header.get("xllcorner", 0.0))
    yll = float(header.get("yllcorner", 0.0))

    dt = np.dtype("<" + dtype)
    if dt.kind not in "fiu":
        raise ValueError(f"unsupported dtype {dtype}")
    grid = np.full((nrows, ncols), nodata, dtype=dt)
    for r, c, v in cells:
        grid[r, c] = v

    if tile is not None:
        tw, th = tile
        if tw <= 0 or th <= 0 or tw % 16 or th % 16:
            raise ValueError("tile dims must be positive multiples of 16")
        across = -(-ncols // tw)
        down = -(-nrows // th)
        padded = np.full((down * th, across * tw), nodata, dtype=dt)
        padded[:nrows, :ncols] = grid
        chunks = [
            _compress_chunk(
                padded[
                    td * th : (td + 1) * th, ta * tw : (ta + 1) * tw
                ].tobytes(),
                compression,
            )
            for td in range(down)
            for ta in range(across)
        ]
    else:
        chunks = [_compress_chunk(grid.tobytes(), compression)]

    sfmt = {"f": _SAMPLE_FLOAT, "i": _SAMPLE_INT, "u": _SAMPLE_UINT}[dt.kind]
    nodata_ascii = (f"{nodata:g}").encode("ascii") + b"\x00"

    # layout: 8-byte header | IFD | out-of-line values | pixel chunks
    n_entries = 13 if tile is not None else 12
    ifd_off = 8
    extra_off = ifd_off + 2 + 12 * n_entries + 4
    extra = bytearray()

    def _ool(payload: bytes) -> int:
        off = extra_off + len(extra)
        extra.extend(payload)
        if len(extra) % 2:  # TIFF offsets must be even
            extra.extend(b"\x00")
        return off

    def inline(fmt: str, *vals) -> bytes:
        return struct.pack("<" + fmt, *vals).ljust(4, b"\x00")

    def _long_array(values: list[int], tag: int) -> tuple:
        """A count-N LONG field: inline when it fits (N==1), out-of-line
        otherwise — our own reader (and the spec) require inline for <=4
        bytes."""
        if len(values) == 1:
            return (tag, 4, 1, inline("I", values[0]))
        off = _ool(struct.pack(f"<{len(values)}I", *values))
        return (tag, 4, len(values), inline("I", off))

    scale_off = _ool(struct.pack("<3d", cs, cs, 0.0))
    tie_off = _ool(struct.pack("<6d", 0.0, 0.0, 0.0, xll, yll + nrows * cs, 0.0))
    nodata_val = (
        struct.pack("<I", _ool(nodata_ascii))
        if len(nodata_ascii) > 4
        else nodata_ascii.ljust(4, b"\x00")
    )

    entries = [
        (_TAG_WIDTH, 4, 1, inline("I", ncols)),
        (_TAG_HEIGHT, 4, 1, inline("I", nrows)),
        (_TAG_BITS, 3, 1, inline("H", dt.itemsize * 8)),
        (_TAG_COMPRESSION, 3, 1, inline("H", compression)),
        (_TAG_SAMPLES_PER_PIXEL, 3, 1, inline("H", 1)),
        (_TAG_SAMPLE_FORMAT, 3, 1, inline("H", sfmt)),
        (_TAG_MODEL_PIXEL_SCALE, 12, 3, inline("I", scale_off)),
        (_TAG_MODEL_TIEPOINT, 12, 6, inline("I", tie_off)),
        (_TAG_GDAL_NODATA, 2, len(nodata_ascii), nodata_val),
    ]
    counts = [len(ch) for ch in chunks]
    entries.append(
        _long_array(counts, _TAG_TILE_BYTE_COUNTS if tile else _TAG_STRIP_BYTE_COUNTS)
    )
    if tile is not None:
        entries.append((_TAG_TILE_WIDTH, 4, 1, inline("I", tw)))
        entries.append((_TAG_TILE_LENGTH, 4, 1, inline("I", th)))
    else:
        entries.append((_TAG_ROWS_PER_STRIP, 4, 1, inline("I", nrows)))
    # chunk offsets are knowable only after the offsets array itself is
    # placed in the extra area: reserve it, then patch the real values
    if len(chunks) == 1:
        offsets_patch = None
    else:
        offsets_patch = _ool(b"\x00" * 4 * len(chunks))
    data_start = extra_off + len(extra)
    offs = []
    pos = data_start
    for c in counts:
        offs.append(pos)
        pos += c + (c % 2)  # keep chunk starts even
    if offsets_patch is None:
        entries.append(
            (_TAG_TILE_OFFSETS if tile else _TAG_STRIP_OFFSETS, 4, 1,
             inline("I", offs[0]))
        )
    else:
        rel = offsets_patch - extra_off
        extra[rel : rel + 4 * len(offs)] = struct.pack(f"<{len(offs)}I", *offs)
        entries.append(
            (_TAG_TILE_OFFSETS if tile else _TAG_STRIP_OFFSETS, 4, len(offs),
             inline("I", offsets_patch))
        )
    entries.sort(key=lambda e: e[0])  # spec: ascending tag order
    assert len(entries) == n_entries

    out = bytearray()
    out += struct.pack("<2sHI", b"II", 42, ifd_off)
    out += struct.pack("<H", n_entries)
    for tag, ftype, count, val in entries:
        out += struct.pack("<HHI", tag, ftype, count) + val
    out += struct.pack("<I", 0)  # next-IFD pointer: none
    out += extra
    for ch in chunks:
        out += ch
        if len(ch) % 2:
            out += b"\x00"
    return bytes(out)


def decode_geotiff_members(members: DataFrame, name_col: str = "member") -> DataFrame:
    """GeoTIFF bytes -> long-format cell rows (same output as
    ``decode_ascii_members``); parse failures land in the error column."""
    return _decode_members(members, parse_geotiff, name_col)


def decode_raster_members(members: DataFrame, name_col: str = "member") -> DataFrame:
    """Format-sniffing decode (``raster.parse_raster``): GeoTIFF, NetCDF
    or ASCII grid per member.  One lane for a mixed archive (the
    reference's workspace holds `.asc` and `.tif` side by side; climate
    projections routinely arrive as `.nc`)."""
    return _decode_members(members, parse_raster, name_col)
