"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen_grids  # noqa: E402
import gen_tables  # noqa: E402
import registry_check  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, check_tree, self_times  # noqa: E402

SPECS = [
    gen_grids.GridSpec(archives=3, nrows=12, ncols=15, blobs=2, geotiff_every=4),
    gen_grids.GridSpec(archives=1, nrows=30, ncols=30, blobs=3, geotiff_every=2),
]


def _tree(path: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(path.iterdir())}


def test_same_seed_gives_byte_identical_archives(tmp_path):
    a = gen_grids.generate(tmp_path / "a", 11, SPECS)
    b = gen_grids.generate(tmp_path / "b", 11, SPECS)
    c = gen_grids.generate(tmp_path / "c", 12, SPECS)
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")
    assert a == b
    assert _tree(tmp_path / "a") != _tree(tmp_path / "c")
    assert gen_grids.CORRUPT_ARCHIVE in _tree(tmp_path / "a")


def test_kept_cell_counts_do_not_depend_on_the_seed(tmp_path):
    counts = []
    for seed in (1, 2):
        exp = gen_grids.generate(tmp_path / str(seed), seed, SPECS)
        counts.append((exp.cells, sorted(n for n, _, _ in exp.groups.values())))
    assert counts[0] == counts[1]


def test_members_use_both_filename_forms_and_both_encodings(tmp_path):
    import zipfile

    gen_grids.generate(tmp_path, 5, SPECS)
    names = []
    for z in sorted(tmp_path.glob("sp0*.zip")):
        names += zipfile.ZipFile(z).namelist()
    assert any(n.endswith("__25_current.asc") or n.endswith("__25_current.tif") for n in names)
    assert any("_rcp45_y2040." in n for n in names)
    assert any(n.endswith(".tif") for n in names) and any(n.endswith(".asc") for n in names)


def test_same_seed_gives_byte_identical_tables(tmp_path):
    gen_tables.write_tables(tmp_path / "a", 3, 0.0005)
    gen_tables.write_tables(tmp_path / "b", 3, 0.0005)
    assert _tree(tmp_path / "a") == _tree(tmp_path / "b")


def _rows_from(exp: gen_grids.Expected) -> list[dict]:
    rows = []
    for sid, key in enumerate(sorted(exp.groups)):
        n, cellsize, parts = exp.groups[key]
        species, threshold, source, year, scenario = key
        rows.append({"sid": sid, "species": species, "species_id": parts,
                     "geometry": b"\x01", "threshold": threshold, "source": source,
                     "year": year, "scenario": scenario, "area": n * cellsize**2})
    return rows


def _errors(exp):
    return [(f"file:/x/{e}" if e.endswith(".zip") else e, "boom") for e in exp.error_items]


def test_oracle_accepts_the_expected_rows_and_rejects_a_perturbed_area(tmp_path):
    exp = gen_grids.generate(tmp_path, 7, SPECS)
    rows = _rows_from(exp)
    assert gen_grids.check_output(rows, _errors(exp), exp) == []
    rows[3]["area"] *= 1.0001
    bad = gen_grids.check_output(rows, _errors(exp), exp)
    assert len(bad) == 1 and "area" in bad[0]


def test_oracle_rejects_missing_groups_sparse_sid_and_unplanted_errors(tmp_path):
    exp = gen_grids.generate(tmp_path, 7, SPECS)
    rows = _rows_from(exp)
    assert gen_grids.check_output(rows[1:], _errors(exp), exp)
    rows[0]["sid"] = 99
    assert any("sid" in p for p in gen_grids.check_output(rows, _errors(exp), exp))
    rows = _rows_from(exp)
    assert gen_grids.check_output(rows, _errors(exp)[:1], exp)
    assert gen_grids.check_output(rows, _errors(exp) + [("other.asc", "x")], exp)


def test_component_count_is_four_connected():
    import numpy as np

    grid = np.array([[1, 0, 1],
                     [0, 1, 0],
                     [1, 1, 0]], dtype=bool)
    assert gen_grids._components(grid) == 3


def test_registry_digest_ignores_row_order_and_float_noise():
    a = registry_check.digest(["k", "v"], [(1, 0.1 + 0.2), (2, -0.0)])
    b = registry_check.digest(["v", "k"], [(0.0, 2), (0.3, 1)])
    assert a == b
    assert registry_check.digest(["k", "v"], [(1, 0.31), (2, 0.0)]) != a


def test_span_tree_is_well_formed():
    tr = Tracer(None, "t")
    t0 = time.perf_counter()
    with tr.span("pass", "driver"):
        with tr.span("a", "plans"):
            time.sleep(0.01)
        with tr.span("b", "sources"):
            with tr.span("b.construct", "sources"):
                time.sleep(0.01)
    wall = time.perf_counter() - t0
    assert check_tree(tr.spans, wall) == []
    by = {s.name: s for s in tr.spans}
    assert by["b.construct"].parent == by["b"].id and by["pass"].parent is None
    selfs = self_times(tr.spans)
    assert all(v >= 0 for v in selfs.values())
    assert sum(selfs.values()) <= wall
    assert {s["run_id"] for s in tr.to_json()} == {"t"}


def test_check_tree_flags_a_child_outside_its_parent():
    spans = [Span(0, "p", "x", "r", None, 0.0, 1.0), Span(1, "c", "x", "r", 0, 0.2, 1.5)]
    bad = check_tree(spans, 2.0)
    assert any("outside" in b for b in bad) and any("negative" in b for b in bad)


def test_benchmark_json_matches_the_metrics_the_run_reports():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_exits_nonzero_without_the_program(tmp_path):
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_grids", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""


@pytest.mark.parametrize("values", [[3, 3, 3], [1]])
def test_repeat_check_is_quiet_for_equal_counts(values):
    assert run.repeat_mismatches([{"jobs": v} for v in values]) == {}


def test_repeat_check_flags_differing_counts():
    assert run.repeat_mismatches([{"jobs": 3, "tasks": 8}, {"jobs": 4, "tasks": 8}]) == {"jobs": [3, 4]}
