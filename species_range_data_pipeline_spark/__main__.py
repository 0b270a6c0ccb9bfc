"""CLI entry point: the reference's ``__main__`` lifecycle, engine-side.

The reference runs ``setup() -> extract() -> transform() -> load()`` as a
script (``species_range_etl.py:279-286``); this module gives a user of
that script the same one-command experience on the engine:

    python -m species_range_data_pipeline_spark etl \\
        --zips ./downloads --out ./speciesdata [--jdbc-url jdbc:...]

plus the table-operations surface a long-lived deployment needs
(history/optimize/vacuum/compact on manifest tables).  Network fetch
(the reference's setup/extract halves) is deliberately an INPUT here:
point ``--zips`` at the landed archives — the scrape/fetch helpers in
``sources/scrape.py`` and ``pipeline/raster.py`` exist for pipelines
that want them, but a CLI that silently crawls the USDA site on every
run is the reference's design bug, not a feature to keep.

Errors follow the engine contract: malformed archives surface as
counted error rows (printed, nonzero exit with ``--strict``), never a
silent skip — the reference's ThreadPoolExecutor drops worker
exceptions on the floor (``species_range_etl.py:246-247``).
"""

from __future__ import annotations

import argparse
import sys


def _etl(args) -> int:
    from .pipeline.raster import decode_zips
    from .pipeline.species import run_pipeline, split_errors, write_speciesdata
    from .session import get_spark

    # argument validation BEFORE the pipeline runs — a bad export
    # extension must not cost a full ETL pass first
    if args.export and not args.export.endswith((".shp", ".gpkg")):
        print(
            f"error: --export wants a .shp or .gpkg path, got {args.export!r}",
            file=sys.stderr,
        )
        return 2
    spark = get_spark("species-range-etl")
    thresholds = (
        [float(t) for t in args.thresholds.split(",")]
        if args.thresholds
        else None
    )
    # two stores, both released below.  The decoded frame (unzip +
    # decode): the dissolve's sizing job fills it, and the result's
    # lineage and the error collect read it, so the archives are scanned
    # once per pass.  The result (dissolve, at one task per core): the
    # sink write, the export and the final count read it.
    decoded = decode_zips(spark, args.zips).persist()
    cells, errors = split_errors(decoded)
    result = None
    try:
        result = run_pipeline(cells, thresholds=thresholds).persist()
        write_speciesdata(
            result,
            path=args.out,
            jdbc_url=args.jdbc_url,
            table=args.table,
            batchsize=args.batchsize,
        )
        if args.export:
            _export_vector(result, args.export, args.simplify)
        err_rows = errors.collect()
        for r in err_rows:
            print(f"error: {r.item}: {r.error}", file=sys.stderr)
        n = result.count()
        print(f"speciesdata rows: {n}; input errors: {len(err_rows)}")
        return 1 if (err_rows and args.strict) else 0
    finally:
        decoded.unpersist()
        if result is not None:
            result.unpersist()


def _export_vector(result, path: str, tolerance: float | None) -> None:
    """speciesdata -> .shp or .gpkg artifact (the reference's consumers
    read vector files, species_range_etl.py:131,199).  The dissolved
    output is per-(species, threshold, scenario) — a handful of rows —
    so a driver-side writer is the right shape; geometry optionally
    simplified (Douglas-Peucker) first."""
    from .functions.wkb import decode, simplify_wkb
    from .sources.geopackage import write_geopackage
    from .sources.shapefile import write_shapefile

    rows = result.orderBy("sid").collect()

    def geom(r):
        g = bytes(r.geometry)
        if tolerance is not None:
            g = simplify_wkb(g, tolerance)
        return g

    attrs = lambda r: {
        "species": r.species, "threshold": r.threshold,
        "source": r.source, "year": r.year, "scenario": r.scenario,
    }
    if path.endswith(".gpkg"):
        write_geopackage([(geom(r), attrs(r)) for r in rows], path)
    else:  # .shp — extension validated before the pipeline ran
        write_shapefile(
            [(decode(geom(r))[1], attrs(r)) for r in rows], path
        )
    print(f"exported {len(rows)} features -> {path}")


def _table(args) -> int:
    from .session import get_spark
    from .sources import manifest_table as mt

    spark = get_spark("species-range-table-ops")
    if args.op == "history":
        for r in mt.table_history(spark, args.path).collect():
            print(
                f"v{r.version}  {r.operation:<9} files={r.n_files} "
                f"rows={r.n_rows} +{r.files_added}/-{r.files_removed}"
            )
    elif args.op == "optimize":
        v = mt.optimize_manifest_table(
            spark, args.path, cluster_by=args.by.split(","),
            target_files=args.target_files,
        )
        print(f"optimized -> v{v}")
    elif args.op == "compact":
        v, folded, carried = mt.compact_manifest_table(spark, args.path)
        print(f"v{v}: folded {folded}, carried {carried}")
    elif args.op == "files":
        rows = mt.files_table(spark, args.path).collect()
        total = sum(r.n_rows or 0 for r in rows)
        size = sum(r.size_bytes or 0 for r in rows)
        print(f"{len(rows)} files, {total} rows, {size} bytes")
        for r in rows:
            import os as _os

            print(
                f"  {_os.path.basename(r.file)}  rows={r.n_rows} "
                f"bytes={r.size_bytes} blooms={','.join(r.bloom_columns) or '-'}"
            )
    elif args.op == "vacuum":
        n = mt.vacuum_manifest_table(
            args.path, keep_versions=args.keep, retention_seconds=args.retention
        )
        print(f"removed {n} files")
    elif args.op == "restore":
        if args.to_version is None:
            print("error: restore requires --to-version", file=sys.stderr)
            return 2
        v = mt.restore_table(args.path, args.to_version)
        print(f"restored -> v{v}")
    return 0


def _sql(args) -> int:
    """Ad-hoc SQL over the fixture tables and/or manifest tables — the
    'just let me query it' surface every engine CLI needs.  Errors (bad
    SQL, missing view) print and exit 2, never traceback-spray."""
    from .session import get_spark

    specs = []
    for spec in args.table or []:
        name, _, path = spec.partition("=")
        if not name or not path:
            print(f"error: --table wants NAME=PATH, got {spec!r}", file=sys.stderr)
            return 2
        specs.append((name, path))
    spark = get_spark("species-range-sql")
    from .functions.sql_registry import register_engine_functions

    register_engine_functions(spark)
    if args.sf_dir:
        from .catalog import load_tables

        load_tables(spark, args.sf_dir)
    from .catalog import register_table_view

    for name, path in specs:
        register_table_view(spark, name, path)
    try:
        df = spark.sql(args.query)
        if args.explain:
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=False)
    except Exception as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 2
    return 0


def _probe(args) -> int:
    """Sniff + decode one media/subtitle file and print its metadata as
    JSON — the driver-free way to exercise every codec lane on a real
    file (no Spark session; the lanes are pure functions)."""
    import json as _json
    from pathlib import Path

    blob = Path(args.file).read_bytes()
    out: dict = {"file": args.file, "bytes": len(blob)}
    try:
        from species_range_data_pipeline_spark.multimodal import gif, jpeg, mp4
        from species_range_data_pipeline_spark.multimodal.codecs import (
            decode_bmp,
            decode_png,
        )
        from species_range_data_pipeline_spark.multimodal.media import (
            _audio_metadata,
            sniff_image_format,
        )
        from species_range_data_pipeline_spark.sources.subtitles import (
            parse_srt,
            parse_vtt,
        )

        name = args.file.lower()
        fmt = sniff_image_format(blob)
        if fmt == "png":
            w, h, c, _ = decode_png(blob)
            out |= {"kind": "image", "format": "png", "width": w,
                    "height": h, "channels": c}
        elif fmt == "jpeg":
            w, h, c, _ = jpeg.decode_jpeg(blob)
            out |= {"kind": "image", "format": "jpeg", "width": w,
                    "height": h, "channels": c,
                    "progressive": jpeg.jpeg_is_progressive(blob)}
        elif fmt == "gif":
            w, h, c, _ = gif.decode_gif(blob)
            out |= {"kind": "image", "format": "gif", "width": w, "height": h}
        elif fmt == "bmp":
            w, h, c, _ = decode_bmp(blob)
            out |= {"kind": "image", "format": "bmp", "width": w, "height": h}
        elif blob[4:8] == b"ftyp":
            info = mp4.extract_video_samples(blob)
            out |= {"kind": "video", "format": "mp4",
                    "codec": info["codec"].decode("ascii", "replace"),
                    "width": info["width"], "height": info["height"],
                    "n_samples": len(info["samples"])}
        elif name.endswith(".vtt"):
            out |= {"kind": "subtitles", "format": "vtt",
                    "n_cues": len(parse_vtt(blob))}
        elif name.endswith(".srt"):
            out |= {"kind": "subtitles", "format": "srt",
                    "n_cues": len(parse_srt(blob))}
        else:
            out |= {"kind": "audio", **_audio_metadata(blob)}
    except Exception as exc:
        out["error"] = f"{type(exc).__name__}: {exc}"
        print(_json.dumps(out))
        return 2
    print(_json.dumps(out))
    return 0


def _bench(args) -> int:
    import runpy
    from pathlib import Path

    sys.argv = ["bench.py"]
    runpy.run_path(str(Path(__file__).resolve().parent.parent / "bench.py"),
                   run_name="__main__")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="species_range_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    etl = sub.add_parser("etl", help="zips -> speciesdata (the reference lifecycle)")
    etl.add_argument("--zips", required=True, help="dir of landed .zip archives")
    etl.add_argument("--out", help="parquet output path")
    etl.add_argument("--jdbc-url", help="JDBC sink URL (K1)")
    etl.add_argument("--table", default="speciesdata")
    etl.add_argument("--batchsize", type=int, default=1000)
    etl.add_argument("--thresholds", help="comma list, default 0.25,0.5,0.75")
    etl.add_argument("--export", help="also write a .shp or .gpkg artifact")
    etl.add_argument(
        "--simplify", type=float, default=None,
        help="Douglas-Peucker tolerance for the exported geometry",
    )
    etl.add_argument("--strict", action="store_true",
                     help="nonzero exit if any input errored")
    etl.set_defaults(fn=_etl)

    tab = sub.add_parser("table", help="manifest table operations")
    tab.add_argument(
        "op",
        choices=["history", "optimize", "compact", "vacuum", "files", "restore"],
    )
    tab.add_argument("path")
    tab.add_argument("--by", help="optimize: comma cluster columns")
    tab.add_argument("--target-files", type=int, default=8)
    tab.add_argument("--keep", type=int, default=1)
    tab.add_argument("--retention", type=float, default=3600.0)
    tab.add_argument("--to-version", type=int, help="restore: target version")
    tab.set_defaults(fn=_table)

    sq = sub.add_parser("sql", help="run ad-hoc SQL over registered tables")
    sq.add_argument("query")
    sq.add_argument("--sf-dir", help="register the fixture parquet tables from this dir")
    sq.add_argument(
        "--table", action="append", metavar="NAME=PATH",
        help="register an on-disk table as a view (repeatable; format"
        " sniffed: manifest table, Delta layout, or Iceberg layout)",
    )
    sq.add_argument("--limit", type=int, default=100, help="max rows printed")
    sq.add_argument(
        "--explain", action="store_true",
        help="print the optimized physical plan instead of running",
    )
    sq.set_defaults(fn=_sql)

    ben = sub.add_parser("bench", help="run the headline benchmark")
    ben.set_defaults(fn=_bench)

    pr = sub.add_parser(
        "probe", help="decode one media/subtitle file, print JSON metadata"
    )
    pr.add_argument("file")
    pr.set_defaults(fn=_probe)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
