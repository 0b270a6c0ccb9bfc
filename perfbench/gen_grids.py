"""Seeded species-range archives for the ETL workloads, with a numpy oracle.

Each species archive holds three scenario members, one per filename form the
pipeline parses (``<species>__25_current`` and the 4-token
``<species>__50_<source>_<scenario>_y<year>``).  A member is a smooth
suitability field: a few Gaussian blobs, so the kept cells form a few large
components as real ranges do, not salt-and-pepper noise.  A second smooth
field masks 10% of the cells as NODATA.  Values are rank-transformed over
the valid cells and quantised to k/10000, so the number of cells kept at
each threshold is the same for every seed; only the shapes move.  Some
members are GeoTIFFs (``pipeline.geotiff.encode_geotiff``, float32), the
rest ESRI ASCII grids.  One archive is corrupt and one member does not
parse: those are the two planted error rows.

The oracle recomputes, from the generated values alone, every output row
the pipeline must write: the group key, the kept-cell count (so
``area == kept_cells * cellsize**2``) and the 4-connected component count.
"""

from __future__ import annotations

import io
import zipfile
from dataclasses import dataclass
from pathlib import Path

import numpy as np

THRESHOLDS = (0.25, 0.5, 0.75)
# (member-name suffix, (source, year, scenario)) for both filename forms
SCENARIOS = (
    ("25_current", ("vtech", "2020", "current")),
    ("50_gfdl_rcp45_y2040", ("gfdl", "2040", "rcp45")),
    ("75_ccsm4_rcp85_y2070", ("ccsm4", "2070", "rcp85")),
)
NODATA = -9999.0
CELLSIZES = (0.5, 0.25)
CORRUPT_ARCHIVE = "sp-corrupt.zip"
ZIP_DATE = (1980, 1, 1, 0, 0, 0)


@dataclass(frozen=True)
class GridSpec:
    archives: int
    nrows: int
    ncols: int
    blobs: int
    geotiff_every: int  # every n-th member (counted over all members) is a GeoTIFF


def smooth_field(rng: np.random.Generator, nrows: int, ncols: int, blobs: int) -> np.ndarray:
    r = np.arange(nrows)[:, None] / nrows
    c = np.arange(ncols)[None, :] / ncols
    field = np.zeros((nrows, ncols))
    for _ in range(blobs):
        r0, c0 = rng.uniform(0.1, 0.9, 2)
        sigma = rng.uniform(0.08, 0.2)
        field += rng.uniform(0.5, 1.0) * np.exp(
            -((r - r0) ** 2 + (c - c0) ** 2) / (2 * sigma**2)
        )
    return field


def member_grid(rng: np.random.Generator, spec: GridSpec) -> np.ndarray:
    """Quantised suitability codes k in [0, 10000), or -1 for NODATA."""
    field = smooth_field(rng, spec.nrows, spec.ncols, spec.blobs)
    mask_field = smooth_field(rng, spec.nrows, spec.ncols, 2)
    n = field.size
    n_masked = n // 10
    masked = np.zeros(n, dtype=bool)
    masked[np.argsort(mask_field, axis=None, kind="stable")[:n_masked]] = True
    codes = np.full(n, -1, dtype=np.int64)
    valid = np.flatnonzero(~masked)
    order = np.argsort(field.ravel()[valid], kind="stable")
    codes[valid[order]] = (np.arange(len(valid)) * 10000) // len(valid)
    return codes.reshape(spec.nrows, spec.ncols)


def ascii_grid(codes: np.ndarray, xll: float, yll: float, cellsize: float) -> bytes:
    nrows, ncols = codes.shape
    head = (
        f"ncols {ncols}\nnrows {nrows}\nxllcorner {xll}\nyllcorner {yll}\n"
        f"cellsize {cellsize}\nNODATA_value {NODATA:.0f}\n"
    )
    values = np.where(codes < 0, NODATA, codes / 10000.0)
    body = np.char.mod("%.4f", values)
    lines = [" ".join(row) for row in body]
    return (head + "\n".join(lines) + "\n").encode()


def geotiff_grid(codes: np.ndarray, xll: float, yll: float, cellsize: float) -> bytes:
    from species_range_data_pipeline_spark.pipeline.geotiff import encode_geotiff

    nrows, ncols = codes.shape
    rr, cc = np.nonzero(codes >= 0)
    cells = list(zip(rr.tolist(), cc.tolist(), (codes[rr, cc] / 10000.0).tolist()))
    header = {"ncols": ncols, "nrows": nrows, "xllcorner": xll,
              "yllcorner": yll, "cellsize": cellsize, "nodata_value": NODATA}
    return encode_geotiff(header, cells, dtype="f4")


def _zip(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=ZIP_DATE)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()


def _components(mask: np.ndarray) -> int:
    """4-connected components of a boolean grid (iterative flood fill)."""
    seen = np.zeros_like(mask)
    nrows, ncols = mask.shape
    count = 0
    for r0, c0 in zip(*np.nonzero(mask)):
        if seen[r0, c0]:
            continue
        count += 1
        seen[r0, c0] = True
        stack = [(r0, c0)]
        while stack:
            r, c = stack.pop()
            for rr, cc in ((r + 1, c), (r - 1, c), (r, c + 1), (r, c - 1)):
                if 0 <= rr < nrows and 0 <= cc < ncols and mask[rr, cc] and not seen[rr, cc]:
                    seen[rr, cc] = True
                    stack.append((rr, cc))
    return count


@dataclass
class Expected:
    """What one ETL pass over the generated archives must produce."""

    # (species, threshold, source, year, scenario) -> (kept cells, cellsize, parts)
    groups: dict[tuple[str, str, str, str, str], tuple[int, float, int]]
    error_items: list[str]  # suffixes of the planted error rows' items
    cells: int  # raster cells decoded (valid cells of every member)


def generate(out_dir: Path, seed: int, specs: list[GridSpec]) -> Expected:
    """Write the archives for ``seed`` into ``out_dir``; return the oracle.
    Archives of every spec share one directory and one species numbering."""
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    groups: dict = {}
    cells = 0
    member_no = 0
    broken_member = None
    archives = [spec for spec in specs for _ in range(spec.archives)]
    for a, spec in enumerate(archives):
        species = f"sp{a:05d}"
        cellsize = CELLSIZES[a % len(CELLSIZES)]
        xll = float(rng.integers(-125, -70))
        yll = float(rng.integers(25, 45))
        members = []
        for suffix, (source, year, scenario) in SCENARIOS:
            codes = member_grid(rng, spec)
            member_no += 1
            if spec.geotiff_every and member_no % spec.geotiff_every == 0:
                name = f"{species}__{suffix}.tif"
                blob = geotiff_grid(codes, xll, yll, cellsize)
                values = (codes / 10000.0).astype(np.float32).astype(np.float64)
            else:
                name = f"{species}__{suffix}.asc"
                blob = ascii_grid(codes, xll, yll, cellsize)
                values = codes / 10000.0
            members.append((name, blob))
            valid = codes >= 0
            cells += int(valid.sum())
            for t in THRESHOLDS:
                kept = valid & (values >= t)
                n = int(kept.sum())
                if n:
                    key = (species, str(int(t * 100)), source, year, scenario)
                    groups[key] = (n, cellsize, _components(kept))
        if a == 1:
            broken_member = f"{species}__broken_grid.asc"
            members.append((broken_member, b"ncols 2\nnrows 1\nxllcorner 0\n"
                                           b"yllcorner 0\ncellsize 1\nNODATA_value -9999\n"
                                           b"0.5 not-a-number\n"))
        (out_dir / f"{species}.zip").write_bytes(_zip(members))
    (out_dir / CORRUPT_ARCHIVE).write_bytes(b"PK\x03\x04" + rng.bytes(256))
    return Expected(groups, sorted([CORRUPT_ARCHIVE, broken_member]), cells)


def check_output(rows: list[dict], errors: list[tuple[str, str]], exp: Expected) -> list[str]:
    """Compare one pass's speciesdata rows and error rows with the oracle.
    Returns the list of mismatches (empty when the pass is correct)."""
    bad = []
    key_of = lambda r: (r["species"], r["threshold"], r["source"], r["year"], r["scenario"])  # noqa: E731
    got = {key_of(r): r for r in rows}
    if len(got) != len(rows):
        bad.append(f"duplicate group keys: {len(rows)} rows, {len(got)} keys")
    if set(got) != set(exp.groups):
        missing = sorted(set(exp.groups) - set(got))[:3]
        extra = sorted(set(got) - set(exp.groups))[:3]
        bad.append(f"group keys differ: missing {missing} extra {extra}")
    for key, (n, cellsize, parts) in exp.groups.items():
        r = got.get(key)
        if r is None:
            continue
        want = n * cellsize * cellsize
        if abs(r["area"] - want) > 1e-9 * want:
            bad.append(f"{key}: area {r['area']} != {n} cells x {cellsize}^2 = {want}")
        if r["species_id"] != parts:
            bad.append(f"{key}: {r['species_id']} parts, oracle {parts}")
        if not r["geometry"]:
            bad.append(f"{key}: empty geometry")
    order = sorted(got)
    if [got[k]["sid"] for k in order] != list(range(len(order))):
        bad.append("sid is not dense 0..n-1 in key order")
    items = [item for item, _ in errors]
    for suffix in exp.error_items:
        hits = [i for i in items if i.endswith(suffix)]
        if len(hits) != 1:
            bad.append(f"planted error {suffix!r} matched {len(hits)} error rows")
    if len(items) != len(exp.error_items):
        bad.append(f"{len(items)} error rows, {len(exp.error_items)} planted: {items}")
    return bad
