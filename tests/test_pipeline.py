"""End-to-end species pipeline test: synthetic ASCII-grid zips -> cells ->
thresholds -> polygonize -> dissolve -> speciesdata table, with expectations
computed independently in numpy."""

from __future__ import annotations

import zipfile

import numpy as np
import pytest

from species_range_data_pipeline_spark.pipeline.raster import parse_ascii_grid
from species_range_data_pipeline_spark.pipeline.species import (
    load_cells_from_zips,
    run_pipeline,
)

NCOLS, NROWS = 8, 6
XLL, YLL, CS = -100.0, 40.0, 0.5


def _grid(seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    g = rng.rand(NROWS, NCOLS).round(2)
    g[0, 0] = -9999.0  # a NODATA hole
    return g


def _asc_bytes(g: np.ndarray) -> bytes:
    lines = [
        f"ncols {NCOLS}",
        f"nrows {NROWS}",
        f"xllcorner {XLL}",
        f"yllcorner {YLL}",
        f"cellsize {CS}",
        "NODATA_value -9999",
    ]
    lines += [" ".join(str(v) for v in row) for row in g]
    return "\n".join(lines).encode()


SPECIES_FILES = {
    # reference naming: 2-token current form and 4-token future form
    "abies-balsamea__25_current.asc": 1,
    "abies-balsamea__25_gfdl_rcp45_y2080.asc": 2,
    "acer-rubrum__25_current.asc": 3,
}


@pytest.fixture(scope="module")
def zip_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("zips")
    z1 = d / "abies-balsamea.zip"
    with zipfile.ZipFile(z1, "w") as zf:
        for name in list(SPECIES_FILES)[:2]:
            zf.writestr(name, _asc_bytes(_grid(SPECIES_FILES[name])))
    z2 = d / "acer-rubrum.zip"
    with zipfile.ZipFile(z2, "w") as zf:
        name = "acer-rubrum__25_current.asc"
        zf.writestr(name, _asc_bytes(_grid(SPECIES_FILES[name])))
    # a corrupt archive that must surface in the error channel, not vanish
    (d / "broken.zip").write_bytes(b"this is not a zip file")
    return str(d)


def test_parse_ascii_grid_roundtrip():
    g = _grid(1)
    header, cells = parse_ascii_grid(_asc_bytes(g))
    assert header["ncols"] == NCOLS and header["nrows"] == NROWS
    assert len(cells) == NROWS * NCOLS - 1  # one NODATA dropped
    vals = {(r, c): v for r, c, v in cells}
    assert vals[(2, 3)] == pytest.approx(g[2, 3])
    assert (0, 0) not in vals


def test_pipeline_end_to_end(spark, zip_dir):
    cells, errors = load_cells_from_zips(spark, zip_dir)
    err_rows = errors.collect()
    assert len(err_rows) == 1 and "BadZipFile" in err_rows[0].error
    assert err_rows[0].item.endswith("/broken.zip")  # the archive is named

    result = run_pipeline(cells)
    rows = result.collect()

    # expected groups: (species, threshold, source, year, scenario)
    keys = {(r.species, r.threshold, r.source, r.year, r.scenario) for r in rows}
    expected_keys = set()
    for t in ("25", "50", "75"):
        expected_keys.add(("abies-balsamea", t, "vtech", "2020", "current"))
        expected_keys.add(("abies-balsamea", t, "gfdl", "2080", "rcp45"))
        expected_keys.add(("acer-rubrum", t, "vtech", "2020", "current"))
    assert keys == expected_keys

    # area oracle: kept-cell count x cellsize^2, computed in numpy
    for r in rows:
        seed = SPECIES_FILES[
            {
                ("abies-balsamea", "vtech"): "abies-balsamea__25_current.asc",
                ("abies-balsamea", "gfdl"): "abies-balsamea__25_gfdl_rcp45_y2080.asc",
                ("acer-rubrum", "vtech"): "acer-rubrum__25_current.asc",
            }[(r.species, r.source)]
        ]
        g = _grid(seed)
        thr = int(r.threshold) / 100.0
        kept = int(((g != -9999.0) & (g >= thr)).sum())
        assert r.area == pytest.approx(kept * CS * CS), (r.species, r.threshold)

    # sid: dense 0..n-1, deterministic order
    sids = sorted(r.sid for r in rows)
    assert sids == list(range(len(rows)))

    # schema parity with the reference output table (SURVEY.md §1.4)
    assert result.columns == [
        "sid", "species", "species_id", "geometry", "threshold",
        "source", "year", "scenario", "area",
    ]
    # reference quirks: threshold and year stay strings
    assert dict(result.dtypes)["threshold"] == "string"
    assert dict(result.dtypes)["year"] == "string"


def test_pipeline_geometry_is_georeferenced(spark, zip_dir):
    from species_range_data_pipeline_spark.functions.wkb import decode

    cells, _ = load_cells_from_zips(spark, zip_dir)
    result = run_pipeline(cells)
    row = result.where("species = 'acer-rubrum' AND threshold = '25'").first()
    _, polys = decode(bytes(row.geometry))
    xs = [x for rings in polys for ring in rings for x, _ in ring]
    ys = [y for rings in polys for ring in rings for _, y in ring]
    assert min(xs) >= XLL and max(xs) <= XLL + NCOLS * CS
    assert min(ys) >= YLL and max(ys) <= YLL + NROWS * CS


def test_zip_bomb_member_rejected_per_member(spark, tmp_path, monkeypatch):
    """A member whose decompressed size exceeds the cap becomes an error
    row; healthy siblings in the same archive still expand."""
    from species_range_data_pipeline_spark.pipeline import raster

    monkeypatch.setattr(raster, "MAX_MEMBER_BYTES", 1000)
    d = tmp_path / "zips"
    d.mkdir()
    with zipfile.ZipFile(d / "a.zip", "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("bomb.asc", b"0" * 100_000)  # compresses tiny, expands big
        zf.writestr("ok.asc", _asc_bytes(_grid(1)))
    members = raster.expand_zip(
        raster.read_binary_files(spark, str(d), glob="*.zip")
    ).collect()
    by_name = {r.member: r for r in members}
    assert by_name["bomb.asc"].error is not None
    assert "too large" in by_name["bomb.asc"].error
    assert by_name["bomb.asc"].content is None
    assert by_name["ok.asc"].error is None and by_name["ok.asc"].content

    # the same guard through the one-pass decode: the over-cap member is an
    # error row naming its archive, the healthy sibling still decodes
    cells, errors = load_cells_from_zips(spark, str(d))
    err_rows = errors.collect()
    assert len(err_rows) == 1
    assert err_rows[0].item.endswith("/a.zip")
    assert "too large" in err_rows[0].error
    assert {r.file for r in cells.select("file").distinct().collect()} == {"ok.asc"}
    assert cells.count() == NROWS * NCOLS - 1  # one NODATA dropped


def _new_stages(spark, floor: int) -> list:
    """Status-store stages with an id above ``floor`` (the store lists
    stages newest first)."""
    jvm = spark._jvm
    seq = spark.sparkContext._jsc.sc().statusStore().stageList(
        None, False, False,
        spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    stages = jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
    out = []
    for i in range(stages.size()):
        if stages.get(i).stageId() <= floor:
            break
        out.append(stages.get(i))
    return out


def test_cli_etl_scans_archives_once(spark, zip_dir, tmp_path, capsys):
    """One etl pass reads the archives in exactly one stage: the decoded
    frame is stored once, and the sizing job, the sink write and the
    error collect all read the stored blocks."""
    import os

    from species_range_data_pipeline_spark.__main__ import main

    zip_bytes = sum(
        os.path.getsize(os.path.join(zip_dir, f))
        for f in os.listdir(zip_dir) if f.endswith(".zip")
    )
    floor = max((s.stageId() for s in _new_stages(spark, -1)[:1]), default=-1)
    assert main(["etl", "--zips", zip_dir, "--out", str(tmp_path / "out")]) == 0
    assert "speciesdata rows: 9; input errors: 1" in capsys.readouterr().out
    read = [s.inputBytes() for s in _new_stages(spark, floor)]
    scans = [b for b in read if b and b % zip_bytes == 0]
    assert scans == [zip_bytes], (zip_bytes, read)


def test_run_pipeline_dissolve_runs_on_every_core(spark, zip_dir):
    """The dissolve exchange is an explicit repartition at the session's
    default parallelism; AQE does not coalesce that shuffle origin, so
    the groups spread over every core instead of one Python task."""
    import re

    cells, _ = load_cells_from_zips(spark, zip_dir)
    plan = run_pipeline(cells)._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(
        r"Exchange hashpartitioning\(species#\d+, threshold#\d+, source#\d+, "
        r"year#\d+, scenario#\d+, (\d+)\), (\w+)",
        plan,
    )
    n = spark.sparkContext.defaultParallelism
    assert exchanges == [(str(n), "REPARTITION_BY_NUM")], plan


def test_full_artifact_cycle_mixed_raster_formats(spark, tmp_path):
    """The reference's complete artifact cycle in one pass
    (species_range_etl.py:59-236): zip archives holding a MIX of .asc and
    .tif members (one DEFLATE-compressed) -> cells -> thresholds ->
    dissolve -> speciesdata -> shapefile write -> Spark shapefile read-back
    with ring-identical geometry.  Raster format must not leak into any
    downstream value."""
    from species_range_data_pipeline_spark.functions.wkb import decode
    from species_range_data_pipeline_spark.pipeline.geotiff import encode_geotiff
    from species_range_data_pipeline_spark.sources.shapefile import (
        read_shapefile,
        write_shapefile,
    )

    header = {
        "ncols": NCOLS, "nrows": NROWS, "xllcorner": XLL,
        "yllcorner": YLL, "cellsize": CS, "nodata_value": -9999.0,
    }

    def _tif_bytes(g: np.ndarray, compression: int = 1) -> bytes:
        cells = [
            (r, c, float(g[r, c]))
            for r in range(NROWS)
            for c in range(NCOLS)
            if g[r, c] != -9999.0
        ]
        return encode_geotiff(header, cells, dtype="f8", compression=compression)

    d = tmp_path / "zips"
    d.mkdir()
    with zipfile.ZipFile(d / "abies-balsamea.zip", "w") as zf:
        zf.writestr("abies-balsamea__25_current.asc", _asc_bytes(_grid(1)))
        zf.writestr(
            "abies-balsamea__25_gfdl_rcp45_y2080.tif", _tif_bytes(_grid(2))
        )
    with zipfile.ZipFile(d / "acer-rubrum.zip", "w") as zf:
        zf.writestr(
            "acer-rubrum__25_current.tif", _tif_bytes(_grid(3), compression=8)
        )

    cells, errors = load_cells_from_zips(spark, str(d))
    assert errors.count() == 0
    out = run_pipeline(cells).orderBy("sid").collect()

    # same groups and numpy-oracle areas as the asc-only fixture produces
    assert len(out) == 9
    seed_of = {
        ("abies-balsamea", "vtech"): 1,
        ("abies-balsamea", "gfdl"): 2,
        ("acer-rubrum", "vtech"): 3,
    }
    for r in out:
        g = _grid(seed_of[(r.species, r.source)])
        thr = int(r.threshold) / 100.0
        kept = int(((g != -9999.0) & (g >= thr)).sum())
        assert r.area == pytest.approx(kept * CS * CS), (r.species, r.threshold)

    shp_dir = tmp_path / "artifact"
    shp_dir.mkdir()
    write_shapefile(
        [
            (decode(bytes(r.geometry))[1],
             {"species": r.species, "threshold": r.threshold,
              "source": r.source, "year": r.year, "scenario": r.scenario})
            for r in out
        ],
        str(shp_dir / "speciesdata.shp"),
    )
    back = sorted(
        read_shapefile(spark, str(shp_dir)).collect(), key=lambda r: r.record
    )
    assert len(back) == len(out) and all(r.error is None for r in back)
    for orig, rt in zip(out, back):
        assert rt.attrs["species"] == orig.species
        assert rt.attrs["threshold"] == orig.threshold
        assert rt.attrs["scenario"] == orig.scenario
        assert decode(bytes(rt.geometry))[1] == decode(bytes(orig.geometry))[1]


def test_assign_crs_metadata_and_error_channel(spark, zip_dir):
    from species_range_data_pipeline_spark.pipeline.species import assign_crs

    cells, _ = load_cells_from_zips(spark, zip_dir)
    tagged = assign_crs(run_pipeline(cells))
    rows = tagged.collect()
    assert all(r.srid == 4326 for r in rows)
    assert all(r.crs_error is None for r in rows)  # healthy geometries

    import pyspark.sql.functions as F

    broken = tagged.withColumn(
        "geometry", F.when(F.col("sid") == 0, None).otherwise(F.col("geometry"))
    )
    flagged = assign_crs(broken.drop("srid", "crs_error"))
    bad = [r for r in flagged.collect() if r.crs_error is not None]
    assert len(bad) == 1 and bad[0].crs_error == "null geometry"


def test_cli_etl_and_table_ops(zip_dir, tmp_path, capsys):
    """python -m species_range_data_pipeline_spark: the reference's
    script lifecycle as one command, plus the table-ops surface."""
    from species_range_data_pipeline_spark.__main__ import main
    from species_range_data_pipeline_spark.sources.manifest_table import (
        write_manifest_table,
    )
    from species_range_data_pipeline_spark.session import get_spark

    out = str(tmp_path / "speciesdata")
    rc = main(["etl", "--zips", zip_dir, "--out", out])
    assert rc == 0
    cap = capsys.readouterr()
    assert "speciesdata rows: 9" in cap.out  # 3 groups x 3 thresholds
    assert "BadZipFile" in cap.err  # the corrupt archive is REPORTED
    # --strict turns input errors into a nonzero exit
    assert main(["etl", "--zips", zip_dir, "--out", out, "--strict"]) == 1

    spark = get_spark("t")
    tbl = str(tmp_path / "tbl")
    write_manifest_table(spark.range(0, 10).selectExpr("id"), tbl)
    assert main(["table", "history", tbl]) == 0
    assert "v0  create" in capsys.readouterr().out
    assert main(["table", "vacuum", tbl, "--keep", "1"]) == 0


def test_cli_export_gpkg_and_shp(zip_dir, tmp_path, capsys):
    """--export completes the reference's artifact cycle from the CLI:
    the dissolved speciesdata lands as a .gpkg (and .shp) that the
    engine's own readers round-trip."""
    from species_range_data_pipeline_spark.__main__ import main
    from species_range_data_pipeline_spark.session import get_spark
    from species_range_data_pipeline_spark.sources.geopackage import (
        read_geopackage,
    )

    out = str(tmp_path / "sd")
    gpkg = str(tmp_path / "speciesdata.gpkg")
    assert main(["etl", "--zips", zip_dir, "--out", out, "--export", gpkg]) == 0
    assert "exported 9 features" in capsys.readouterr().out

    spark = get_spark("t")
    feats = read_geopackage(spark, str(tmp_path)).collect()
    assert len(feats) == 9 and all(r.error is None for r in feats)
    keys = {(r.attrs["species"], r.attrs["threshold"]) for r in feats}
    assert ("abies-balsamea", "25") in keys and len(keys) == 6

    shp = str(tmp_path / "a" / "speciesdata.shp")
    (tmp_path / "a").mkdir()
    assert main(
        ["etl", "--zips", zip_dir, "--out", out, "--export", shp,
         "--simplify", "0.0"]
    ) == 0


def test_cli_table_files(tmp_path, capsys):
    from species_range_data_pipeline_spark.__main__ import main
    from species_range_data_pipeline_spark.session import get_spark
    from species_range_data_pipeline_spark.sources.manifest_table import (
        write_manifest_table,
    )

    spark = get_spark("t")
    tbl = str(tmp_path / "tbl")
    write_manifest_table(spark.range(0, 40).selectExpr("id").coalesce(2), tbl)
    assert main(["table", "files", tbl]) == 0
    out = capsys.readouterr().out
    assert "2 files, 40 rows" in out


def test_cli_sql_and_restore(tmp_path, capsys):
    """The sql subcommand queries fixture views and manifest-table views
    in one statement; table restore rolls a table back from the CLI."""
    from species_range_data_pipeline_spark.__main__ import main
    from species_range_data_pipeline_spark.session import get_spark
    from species_range_data_pipeline_spark.sources.manifest_table import (
        write_manifest_table,
    )

    spark = get_spark("t")
    tbl = str(tmp_path / "tbl")
    write_manifest_table(spark.range(0, 5).selectExpr("id"), tbl)          # v0
    write_manifest_table(spark.range(5, 12).selectExpr("id"), tbl)         # v1

    rc = main([
        "sql",
        "SELECT count(*) AS n_regions, (SELECT count(*) FROM t) AS n_t "
        "FROM region",
        "--sf-dir", "/root/testdata/sf0.001",
        "--table", f"t={tbl}",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "5" in out and "12" in out  # 5 regions, 12 manifest rows

    assert main(["table", "restore", tbl, "--to-version", "0"]) == 0
    assert "restored -> v2" in capsys.readouterr().out
    assert main(["sql", "SELECT count(*) AS n FROM t", "--table", f"t={tbl}"]) == 0
    assert "|5" in capsys.readouterr().out.replace(" ", "")

    # bad SQL exits 2 with a printed error, no traceback spray
    assert main(["sql", "SELECT FROM nope"]) == 2
    assert "error:" in capsys.readouterr().err
    # malformed --table spec exits 2 before any Spark work
    assert main(["sql", "SELECT 1", "--table", "nopath"]) == 2


def test_cli_probe_all_lanes(tmp_path, capsys):
    """`probe` decodes one file per codec lane without a Spark session
    and prints one JSON object; unknown payloads exit 2 with the error
    in the JSON."""
    import json

    import numpy as np

    from species_range_data_pipeline_spark.__main__ import main
    from species_range_data_pipeline_spark.multimodal.codecs import encode_png
    from species_range_data_pipeline_spark.multimodal.jpeg import (
        encode_jpeg_progressive,
    )
    from species_range_data_pipeline_spark.multimodal.mp3 import (
        encode_mp3_frames,
    )

    img = (np.arange(300, dtype=np.uint8).reshape(10, 10, 3)) % 256
    cases = {
        "a.jpg": (encode_jpeg_progressive(img), {"format": "jpeg", "progressive": True}),
        "b.png": (encode_png(img, interlace=True), {"format": "png", "width": 10}),
        "c.mp3": (
            encode_mp3_frames(40, bitrate_kbps=96, sample_rate=32000),
            {"container": "mp3", "sample_rate": 32000},
        ),
        "d.srt": (b"1\n00:00:01,000 --> 00:00:02,000\nhi\n", {"n_cues": 1}),
    }
    for name, (blob, want) in cases.items():
        f = tmp_path / name
        f.write_bytes(blob)
        assert main(["probe", str(f)]) == 0
        got = json.loads(capsys.readouterr().out.strip())
        for k, v in want.items():
            assert got[k] == v, (name, k, got)

    bad = tmp_path / "junk.bin"
    bad.write_bytes(b"\x00\x01junk")
    assert main(["probe", str(bad)]) == 2
    assert "error" in json.loads(capsys.readouterr().out.strip())
