"""Benchmark of the species-range engine, driven from outside.

    python3 perfbench/run.py --workload etl_grids --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 16 --trace 0

Run it from the root of a checkout.  It reaches the engine only through
public functions: ``pipeline.species.load_cells_from_zips`` /
``run_pipeline`` / ``write_speciesdata``, the ``etl`` CLI's ``main`` and
``__spark_entry__.queries()`` / ``oracle_sql()``.  One driver process, one
session, ``local[nproc]``, one pass at a time.

Workloads (inputs are generated from ``--seed`` into a scratch directory
inside the checkout, untimed):

- ``etl_grids``: the ``etl`` CLI, in-process, over species archives at two
  grid scales: many small grids (per-archive, per-member and per-group
  overhead) and a few large ones (per-cell decode, fan-out, dissolve
  kernel).  Every pass is checked against a numpy oracle.
- ``registry_lanes``: registry read lanes (``plans``) and a table-format
  write lane (``sources``), each constructed and sent to the noop sink, over
  generated star-schema tables.  Outputs are checked once per run, outside
  the timed passes, against the DuckDB oracles.

A checked warm-up pass and untimed warm passes come before the timed ones.
``--trace 0`` prints the end-to-end metrics: ``wall_s`` (median pass time),
``setup_s`` (median of three session set-ups, each ``get_spark`` plus the
first Python-worker task; the first also starts the JVM) and
``peak_rss_mb`` (median over passes of the pass's peak resident memory of
this process, the driver JVM and its Python workers).  ``--trace 1`` runs
one untraced and one traced pass and prints the per-layer metrics (see
``README.md``).  The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
A human summary goes to standard error; a JSON artifact with the
environment, every sample and the spans goes to ``.perfbench/artifacts``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen_grids  # noqa: E402
import gen_tables  # noqa: E402
import registry_check  # noqa: E402
import spark_stats  # noqa: E402
from spans import Tracer, check_tree  # noqa: E402

PACKAGE = "species_range_data_pipeline_spark"
DRIVER_MEM = "1g"
SETUPS = 3
# Lane and pass times keep falling for several passes after the first, so
# untimed passes run for this long before the timed ones start.
WARM_S = 6.0
DEADLINE_S = 150.0  # stop starting passes after this; the run must end < 180 s

ETL_SPECS = [
    gen_grids.GridSpec(archives=12, nrows=30, ncols=40, blobs=3, geotiff_every=7),
    gen_grids.GridSpec(archives=3, nrows=90, ncols=90, blobs=4, geotiff_every=5),
]
REGISTRY_SF = 0.01
READ_LANES = ["q3_shipping_priority", "graph_pagerank"]
WRITE_LANES = ["iceberg_write_roundtrip"]
KERNEL_SPEC = gen_grids.GridSpec(archives=1, nrows=120, ncols=120, blobs=4, geotiff_every=0)

END_TO_END = {"wall_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
SPARK_COUNTERS = [
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms", "executor_cpu_ms",
    "shuffle_write_bytes", "spill_bytes", "gc_ms",
]
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_python_task_s": "s",
    "session.cold_setup_s": "s",
    "raster.expand_zip_s": "s",
    "raster.archives": "count",
    "raster.members": "count",
    "raster.reads_per_pass": "ratio",
    "raster.parse_ascii_grid.cells_per_s": "1/s",
    "geotiff.decode_s": "s",
    "geotiff.decode.cells": "count",
    "geotiff.decode.tasks": "count",
    "geotiff.decode.task_max_over_median": "ratio",
    "geotiff.parse_geotiff.cells_per_s": "1/s",
    "species.run_pipeline.construct_s": "s",
    "species.run_pipeline.construct_jobs": "count",
    "species.fanout_filter_s": "s",
    "species.kept_rows": "count",
    "species.write_speciesdata_s": "s",
    "species.output_rows": "count",
    "species.output_bytes": "bytes",
    "species.cells_per_s": "1/s",
    "polygonize.dissolve_s": "s",
    "polygonize.dissolve.shuffle_bytes": "bytes",
    "polygonize.dissolve.max_group_cells": "count",
    "polygonize.dissolve.task_max_over_median": "ratio",
    "polygonize.dissolve.groups": "count",
    "geometry.union_cells.cells_per_s": "1/s",
    **{f"spark.{c}": ("ms" if c.endswith("_ms") else "bytes" if c.endswith("_bytes") else "count")
       for c in SPARK_COUNTERS},
    **{f"{layer}.{lane}.{part}": ("s" if part.endswith("_s") else "count")
       for layer, lanes in (("plans", READ_LANES), ("sources", WRITE_LANES))
       for lane in lanes
       for part in ("construct_s", "construct_jobs", "exec_s", "exec_jobs")},
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}
# counts that must be identical across the passes of a run
REPEAT_COUNTS = ["jobs", "stages", "tasks", "shuffle_write_bytes", "output_rows",
                 "output_bytes", "error_rows"]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- environment

def pin_environment(work: Path) -> dict:
    """Everything the engine reads from the environment, set before the JVM
    starts; scratch output (warehouse, derby, checkpoints, sinks, temp
    files) lands under ``work``, which the run deletes at the end."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "cwd"):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": str(tmp),
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = str(tmp)
    os.chdir(work / "cwd")
    sys.path.insert(0, str(ROOT))
    return {**env, "nproc": cpus}


def environment_record(spark, env: dict) -> dict:
    from species_range_data_pipeline_spark.session import ENGINE_CONF

    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    conf = spark.sparkContext.getConf()
    return {
        "env": env,
        "python": platform.python_version(),
        "spark": spark.version,
        "engine_conf": {k: conf.get(k, v) for k, v in ENGINE_CONF.items()},
        "master": spark.sparkContext.master,
        "git_commit": commit,
    }


# ---------------------------------------------------------------- session

def first_python_task(spark) -> None:
    spark.range(2, numPartitions=1).groupBy("id").applyInPandas(
        lambda pdf: pdf, "id long"
    ).collect()


def set_up_sessions(n: int):
    """``n`` session set-ups: ``get_spark`` plus the first Python-worker
    task.  The first starts the JVM; later ones stop the session and build
    a new one in the same JVM.  Returns the last session and the samples."""
    from species_range_data_pipeline_spark.session import get_spark

    samples = []
    spark = None
    for _ in range(n):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        first_python_task(spark)
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        samples.append({"get_spark_s": t1 - t0, "first_python_task_s": t2 - t1,
                        "total_s": t2 - t0})
    return spark, samples


# ---------------------------------------------------------------- etl workload

class EtlWorkload:
    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.zips = work / "zips"
        self.out = str(work / "speciesdata")
        self.expected = gen_grids.generate(self.zips, seed, ETL_SPECS)

    def ops_per_pass(self) -> int:
        return 1

    def warm_up(self) -> list[str]:
        return self.run_pass()[1]

    def run_pass(self) -> tuple[float, list[str], dict]:
        """One ``etl`` CLI pass.  Returns (wall, problems, counts); the
        output is read back and checked after the clock stops."""
        from species_range_data_pipeline_spark.__main__ import main

        err, out = io.StringIO(), io.StringIO()
        snap = spark_stats.Snapshot(self.spark)
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stderr(err), contextlib.redirect_stdout(out):
                rc = main(["etl", "--zips", str(self.zips), "--out", self.out])
        except Exception as exc:  # a failed operation, counted, never dropped
            return time.perf_counter() - t0, [f"etl raised {type(exc).__name__}: {exc}"], {}
        wall = time.perf_counter() - t0
        counts = snap.diff()
        problems, rows, errors = self.check(err.getvalue())
        if rc != 0:
            problems.append(f"etl exit code {rc}")
        summary = f"speciesdata rows: {len(self.expected.groups)}; input errors: " \
                  f"{len(self.expected.error_items)}"
        if summary not in out.getvalue():
            problems.append(f"etl printed {out.getvalue().strip()!r}, want {summary!r}")
        counts.update(output_rows=len(rows), error_rows=len(errors),
                      output_bytes=self.output_bytes())
        return wall, problems, counts

    def check(self, stderr: str):
        import pyarrow.parquet as pq

        rows = pq.read_table(self.out).to_pylist()
        errors = [_split_error(line) for line in stderr.splitlines()
                  if line.startswith("error: ")]
        return gen_grids.check_output(rows, errors, self.expected), rows, errors

    def output_bytes(self) -> int:
        return sum(p.stat().st_size for p in Path(self.out).glob("part-*"))

    def traced_pass(self, tr: Tracer) -> list[str]:
        """The CLI's sequence of public calls, one span per call."""
        from species_range_data_pipeline_spark.pipeline.species import (
            load_cells_from_zips, run_pipeline, write_speciesdata)

        spark = self.spark
        with tr.span("etl.pass", "pipeline.species"):
            with tr.span("species.load_cells_from_zips", "pipeline.species"):
                cells, errors = load_cells_from_zips(spark, str(self.zips))
            with tr.span("species.run_pipeline", "pipeline.species"):
                result = run_pipeline(cells).persist()
            try:
                with tr.span("species.write_speciesdata", "pipeline.species"):
                    write_speciesdata(result, path=self.out)
                with tr.span("species.collect_errors", "pipeline.species"):
                    err_rows = errors.collect()
                with tr.span("species.count", "pipeline.species"):
                    result.count()
            finally:
                result.unpersist()
        stderr = "".join(f"error: {r.item}: {r.error}\n" for r in err_rows)
        return self.check(stderr)[0]

    def stage_prefixes(self, tr: Tracer) -> dict:
        """Lineage prefixes, each sent to the noop sink: expand_zip ->
        decode -> threshold fan-out filter -> run_pipeline (dissolve).  A
        stage's self time is its prefix minus the prefix before it, which
        approximates its share of the fused plan.  The fan-out prefix
        restates run_pipeline's explode-and-filter, which has no public
        entry point of its own."""
        from pyspark.sql import functions as F

        from species_range_data_pipeline_spark.pipeline.raster import (
            expand_zip, read_binary_files)
        from species_range_data_pipeline_spark.pipeline.species import (
            THRESHOLDS, load_cells_from_zips, run_pipeline)

        spark = self.spark
        zips = str(self.zips)
        members = expand_zip(read_binary_files(spark, zips, glob="*.zip"))
        cells, _ = load_cells_from_zips(spark, zips)
        fanned = cells.withColumn(
            "threshold", F.explode(F.array(*[F.lit(t) for t in THRESHOLDS]))
        ).where(F.col("value") >= F.col("threshold"))
        spans = {}
        with tr.span("etl.prefixes", "pipeline.species"):
            for name, layer, build in (
                ("raster.expand_zip", "pipeline.raster", lambda: members),
                ("geotiff.decode", "pipeline.geotiff", lambda: cells),
                ("species.fanout_filter", "pipeline.species", lambda: fanned),
                ("polygonize.dissolve", "operators.polygonize", lambda: run_pipeline(cells)),
            ):
                with tr.span(name, layer, skew=True) as s:
                    build().write.format("noop").mode("overwrite").save()
                spans[name] = s
        # sizes, counted outside the spans
        per_file = cells.groupBy("file").count().collect()
        per_group = fanned.groupBy("file", "threshold").count().collect()
        return {
            "spans": spans,
            "archives": read_binary_files(spark, zips, glob="*.zip").count(),
            "members": members.where(F.col("member").isNotNull()).count(),
            "cells": sum(r["count"] for r in per_file),
            "kept_rows": sum(r["count"] for r in per_group),
            "max_group_cells": max(r["count"] for r in per_group),
        }

    def layer_metrics(self, tr: Tracer, untraced_counts: dict, untraced_wall: float) -> dict:
        p = self.stage_prefixes(tr)
        s = p["spans"]
        d = [s[k].duration for k in ("raster.expand_zip", "geotiff.decode",
                                     "species.fanout_filter", "polygonize.dissolve")]
        construct = tr.by_name("species.run_pipeline")
        dissolve = s["polygonize.dissolve"].counters
        return {
            "raster.expand_zip_s": d[0],
            "raster.archives": p["archives"],
            "raster.members": p["members"],
            "raster.reads_per_pass": untraced_counts.get("input_bytes", 0)
            / sum(z.stat().st_size for z in self.zips.glob("*.zip")),
            "geotiff.decode_s": d[1] - d[0],
            "geotiff.decode.cells": p["cells"],
            "geotiff.decode.tasks": s["geotiff.decode"].counters["tasks"],
            "geotiff.decode.task_max_over_median":
                s["geotiff.decode"].counters["task_max_over_median"],
            "species.run_pipeline.construct_s": construct.duration,
            "species.run_pipeline.construct_jobs": construct.counters["jobs"],
            "species.fanout_filter_s": d[2] - d[1],
            "species.kept_rows": p["kept_rows"],
            "species.write_speciesdata_s": tr.by_name("species.write_speciesdata").duration,
            "species.output_rows": untraced_counts.get("output_rows", 0),
            "species.output_bytes": untraced_counts.get("output_bytes", 0),
            "species.cells_per_s": self.expected.cells / untraced_wall,
            "polygonize.dissolve_s": d[3] - d[2],
            "polygonize.dissolve.shuffle_bytes": dissolve["shuffle_write_bytes"],
            "polygonize.dissolve.max_group_cells": p["max_group_cells"],
            "polygonize.dissolve.task_max_over_median":
                dissolve["shuffle_task_max_over_median"],
            "polygonize.dissolve.groups": untraced_counts.get("output_rows", 0),
        }


def _split_error(line: str) -> tuple[str, str]:
    item, _, error = line[len("error: "):].partition(": ")
    return item, error


# ---------------------------------------------------------------- registry

class RegistryWorkload:
    lanes = [("plans", lane) for lane in READ_LANES] + [("sources", lane) for lane in WRITE_LANES]

    def __init__(self, spark, work: Path, seed: int):
        import __spark_entry__

        self.spark = spark
        self.data = str(work / "tables")
        gen_tables.write_tables(Path(self.data), seed, REGISTRY_SF)
        # lanes are reached only through __spark_entry__
        self.queries = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()
        oracle = registry_check.Oracle(self.data)
        try:
            self.expected = {
                lane: oracle.digest(oracles[lane]) if lane in oracles else None
                for _, lane in self.lanes
            }
        finally:
            oracle.close()

    def ops_per_pass(self) -> int:
        return len(self.lanes)

    def warm_up(self) -> list[str]:
        """One untimed pass that checks every lane's output."""
        problems = []
        for _, lane in self.lanes:
            try:
                got = registry_check.spark_digest(self.queries[lane](self.spark, self.data))
            except Exception as exc:
                problems.append(f"{lane} raised {type(exc).__name__}: {exc}")
                continue
            want = self.expected[lane]
            if want is None and got[0] == 0:
                problems.append(f"{lane}: no rows (no oracle)")
            elif want is not None and got != want:
                problems.append(f"{lane}: {got[0]} rows / hash differs from the oracle's "
                                f"{want[0]} rows")
        return problems

    def run_pass(self) -> tuple[float, list[str], dict]:
        snap = spark_stats.Snapshot(self.spark)
        problems = []
        lane_s = {}
        t0 = time.perf_counter()
        for _, lane in self.lanes:
            t_lane = time.perf_counter()
            try:
                df = self.queries[lane](self.spark, self.data)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                problems.append(f"{lane} raised {type(exc).__name__}: {exc}")
            lane_s[lane] = time.perf_counter() - t_lane
        wall = time.perf_counter() - t0
        return wall, problems, {**snap.diff(), "lane_s": lane_s}

    def traced_pass(self, tr: Tracer) -> list[str]:
        problems = []
        with tr.span("registry.pass", "registry"):
            for layer, lane in self.lanes:
                with tr.span(f"{layer}.{lane}", layer):
                    try:
                        with tr.span(f"{layer}.{lane}.construct", layer):
                            df = self.queries[lane](self.spark, self.data)
                        with tr.span(f"{layer}.{lane}.exec", layer):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:
                        problems.append(f"{lane} raised {type(exc).__name__}: {exc}")
        return problems

    def layer_metrics(self, tr: Tracer, untraced_counts: dict, untraced_wall: float) -> dict:
        out = {}
        for layer, lane in self.lanes:
            for part in ("construct", "exec"):
                s = tr.by_name(f"{layer}.{lane}.{part}")
                out[f"{layer}.{lane}.{part}_s"] = s.duration
                out[f"{layer}.{lane}.{part}_jobs"] = s.counters["jobs"]
        return out


WORKLOADS = {"etl_grids": EtlWorkload, "registry_lanes": RegistryWorkload}


# ---------------------------------------------------------------- kernels

def kernel_probes(seed: int, min_s: float = 0.3) -> dict:
    """Driver-side rates of the decode and dissolve kernels on one seeded
    grid: repeat each call until ``min_s`` has passed, report cells/s."""
    import numpy as np

    from species_range_data_pipeline_spark.functions.geometry import (
        union_cells_to_multipolygon)
    from species_range_data_pipeline_spark.pipeline.geotiff import parse_geotiff
    from species_range_data_pipeline_spark.pipeline.raster import parse_ascii_grid

    rng = np.random.default_rng(seed)
    codes = gen_grids.member_grid(rng, KERNEL_SPEC)
    ascii_blob = gen_grids.ascii_grid(codes, -100.0, 30.0, 0.5)
    tiff_blob = gen_grids.geotiff_grid(codes, -100.0, 30.0, 0.5)
    rows, cols = np.nonzero(codes >= 2500)
    valid = int((codes >= 0).sum())

    def rate(fn, cells: int) -> float:
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                return n * cells / dt

    return {
        "raster.parse_ascii_grid.cells_per_s": rate(lambda: parse_ascii_grid(ascii_blob), valid),
        "geotiff.parse_geotiff.cells_per_s": rate(lambda: parse_geotiff(tiff_blob), valid),
        "geometry.union_cells.cells_per_s": rate(
            lambda: union_cells_to_multipolygon(rows, cols, -100.0, 30.0, 0.5, KERNEL_SPEC.nrows),
            len(rows)),
    }


# ---------------------------------------------------------------- runs

def repeat_mismatches(counts: list[dict]) -> dict:
    """Count metrics that differ between the passes of a run."""
    out = {}
    for key in REPEAT_COUNTS:
        values = [c[key] for c in counts if key in c]
        if len(set(values)) > 1:
            out[key] = values
    return out


def measure(workload, seconds: float, started: float, sampler, min_passes: int = 2) -> dict:
    """Passes until ``seconds`` have passed (at least ``min_passes``), with
    the peak resident memory of each pass."""
    walls, peaks, counts, problems, attempted = [], [], [], [], 0
    t_start = time.perf_counter()
    while True:
        sampler.reset()
        wall, bad, c = workload.run_pass()
        peaks.append(sampler.peak)
        attempted += workload.ops_per_pass()
        walls.append(wall)
        counts.append(c)
        problems.append(bad)
        now = time.perf_counter()
        if len(walls) >= min_passes and (
                now - t_start >= seconds or now - started + wall > DEADLINE_S):
            break
    return {"walls": walls, "peaks": peaks, "counts": counts, "problems": problems,
            "attempted": attempted}


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    started = time.perf_counter()
    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    sampler = spark_stats.RssSampler().start()
    spark = None
    try:
        spark, setups = set_up_sessions(SETUPS)
        record = environment_record(spark, env)
        t0 = time.perf_counter()
        workload = WORKLOADS[name](spark, work, seed)
        t1 = time.perf_counter()
        problems = workload.warm_up()
        t2 = time.perf_counter()
        warm = measure(workload, WARM_S, started, sampler, min_passes=1)
        record["phases_s"] = {"start": t0 - started, "generate": t1 - t0,
                              "warm_up": t2 - t1, "warm_passes": time.perf_counter() - t2}
        record["warm_walls"] = warm["walls"]
        attempted = workload.ops_per_pass() + warm["attempted"]
        for bad in warm["problems"]:
            problems += bad
        failed = len(problems)
        if not trace:
            m = measure(workload, seconds, started, sampler)
            attempted += m["attempted"]
            for bad in m["problems"]:
                failed += len(bad)
                problems += bad
            metrics = {
                "wall_s": statistics.median(m["walls"]),
                "setup_s": statistics.median(s["total_s"] for s in setups),
                "peak_rss_mb": statistics.median(m["peaks"]) / 1e6,
            }
            units = END_TO_END
            mismatches = repeat_mismatches(m["counts"])
            record.update(walls=m["walls"], peaks=m["peaks"], counts=m["counts"],
                          repeat_mismatches=mismatches)
            samples = {"wall_s": len(m["walls"]), "setup_s": len(setups),
                       "peak_rss_mb": len(m["peaks"])}
        else:
            wall, bad, counts = workload.run_pass()
            attempted += workload.ops_per_pass()
            failed += len(bad)
            problems += bad
            tr = Tracer(spark, f"{name}-{seed}-{os.getpid()}")
            t0 = time.perf_counter()
            try:
                bad = workload.traced_pass(tr)
            except Exception as exc:
                bad = [f"traced pass raised {type(exc).__name__}: {exc}"]
            traced_wall = time.perf_counter() - t0
            attempted += workload.ops_per_pass()
            failed += len(bad)
            problems += bad
            tree_problems = check_tree(tr.spans, traced_wall)
            failed += len(tree_problems)
            problems += tree_problems
            metrics = dict.fromkeys(PER_LAYER, 0)
            metrics.update({
                "session.get_spark_s": statistics.median(s["get_spark_s"] for s in setups),
                "session.first_python_task_s":
                    statistics.median(s["first_python_task_s"] for s in setups),
                "session.cold_setup_s": setups[0]["total_s"],
                **{f"spark.{c}": counts.get(c, 0) for c in SPARK_COUNTERS},
                "trace.untraced_wall_s": wall,
                "trace.traced_wall_s": traced_wall,
                "trace.overhead_s": traced_wall - wall,
            })
            try:
                metrics.update(workload.layer_metrics(tr, counts, wall))
            except Exception as exc:
                failed += 1
                problems.append(f"layer metrics raised {type(exc).__name__}: {exc}")
            metrics.update(kernel_probes(seed))
            units = PER_LAYER
            record.update(spans=tr.to_json(), untraced_counts=counts)
            samples = dict.fromkeys(PER_LAYER, 1)
        record.update(setups=setups, problems=problems, metrics=metrics)
    finally:
        sampler.stop()
        if spark is not None:
            spark.stop()
        stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    write_artifact(name, seed, trace, record)
    summarize(name, metrics, units, samples, record)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM this process started and wait until it and the Python
    workers below it have exited.  The gateway JVM exits when its stdin
    closes; the workers exit when the JVM does."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    while spark_stats.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def write_artifact(name: str, seed: int, trace: bool, record: dict) -> None:
    out = ROOT / ".perfbench" / "artifacts"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{name}-seed{seed}-trace{int(trace)}.json"
    path.write_text(json.dumps(record, indent=1, default=str))


def summarize(name: str, metrics: dict, units: dict, samples: dict, record: dict) -> None:
    for k, v in metrics.items():
        log(f"[{name}] {k} = {v:.6g} {units[k]} (n={samples[k]})")
    if "walls" in record:
        log(f"[{name}] pass walls: " + " ".join(f"{w:.3f}" for w in record["walls"]))
    for key, values in record.get("repeat_mismatches", {}).items():
        log(f"[{name}] count {key} differs across passes: {values}")
    for p in record["problems"]:
        log(f"[{name}] FAILED: {p}")


def run_all(args) -> int:
    """Every workload, each in its own process; a table of the results."""
    rows, status = [], 0
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            log(f"[{w}] exited {proc.returncode}")
            status = 1
            continue
        res = json.loads(lines[-1])
        rows.append((w, res))
        status |= not res["correct"]
    for w, res in rows:
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} fail_rate={res['failed'] / res['attempted']:.3g}")
        for k, m in res["metrics"].items():
            print(f"  {k} = {m['value']:.6g} {m['unit']}")
    return status


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        log(f"no {PACKAGE}/ or __spark_entry__.py under {ROOT}: run from a checkout")
        return 2
    if args.workload == "all":
        return run_all(args)
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
