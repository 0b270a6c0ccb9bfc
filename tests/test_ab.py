"""``tools/ab.py``'s summary on synthetic pairs and its tree extraction on an
in-memory tar: no Spark, no git."""

from __future__ import annotations

import importlib.util
import io
import json
import statistics
import tarfile
from pathlib import Path

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", Path(__file__).resolve().parent.parent / "tools" / "ab.py"
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

METRICS = [
    {"name": "wall_s", "better": "lower", "bound": 0.25},
    {"name": "rate", "better": "higher", "bound": 0.25},
]


def _run(ok=True, **metrics):
    return {"ok": ok, "metrics": metrics}


def _pairs(parent, change):
    return [
        {"parent": _run(wall_s=a), "change": _run(wall_s=b)}
        for a, b in zip(parent, change)
    ]


def test_medians_and_inclusive_quartiles():
    parent = [4.0, 1.0, 3.0, 2.0, 10.0]
    change = [2.0, 1.0, 1.5, 3.0, 2.5]
    row = ab.summarize(_pairs(parent, change), METRICS[:1])["metrics"]["wall_s"]
    for side, vals in (("parent", parent), ("change", change)):
        q1, _, q3 = statistics.quantiles(vals, n=4, method="inclusive")
        assert row[side] == {
            "median": statistics.median(vals), "q1": q1, "q3": q3, "n": 5
        }
    assert row["parent"]["q1"] == 2.0 and row["parent"]["q3"] == 4.0
    assert row["ratio"] == pytest.approx(2.0 / 3.0)
    assert row["within_bound"] is True


def test_ties_count_for_neither_side():
    # lower is better: pairs 1-2 tie, pair 3 the change wins, pair 4 loses
    pairs = _pairs([1.0, 2.0, 3.0, 1.0], [1.0, 2.0, 2.0, 1.5])
    row = ab.summarize(pairs, METRICS[:1])["metrics"]["wall_s"]
    assert row["change_wins"] == 1 and row["pairs"] == 4


def test_higher_is_better_and_bound():
    pairs = [
        {"parent": _run(rate=100.0), "change": _run(rate=70.0)},
        {"parent": _run(rate=100.0), "change": _run(rate=120.0)},
        {"parent": _run(rate=100.0), "change": _run(rate=70.0)},
    ]
    row = ab.summarize(pairs, METRICS[1:])["metrics"]["rate"]
    assert row["change_wins"] == 1
    assert row["ratio"] == pytest.approx(0.7)
    assert row["within_bound"] is False  # 0.7 < 1 - 0.25


def test_failed_runs_are_counted_never_dropped():
    pairs = _pairs([1.0, 1.0, 1.0], [1.0, 1.0, 1.0])
    pairs[0]["change"] = _run(ok=False)
    pairs[1]["change"] = _run(ok=False, wall_s=0.1)  # metrics of a failed run
    pairs[2]["parent"] = _run(ok=False)
    out = ab.summarize(pairs, METRICS[:1])
    assert out["failed"] == {"parent": 1, "change": 2}
    row = out["metrics"]["wall_s"]
    # a failed run's value feeds no median and wins no pair
    assert row["change"]["n"] == 1 and row["parent"]["n"] == 2
    assert row["change_wins"] == 0 and row["pairs"] == 3
    # ...and the caller's record still holds every run
    assert len(pairs) == 3 and pairs[1]["change"]["metrics"] == {"wall_s": 0.1}


def test_no_values_on_a_side_gives_no_ratio():
    pairs = _pairs([1.0], [1.0])
    pairs[0]["change"] = _run(ok=False)
    row = ab.summarize(pairs, METRICS[:1])["metrics"]["wall_s"]
    assert row["change"] is None
    assert row["ratio"] is None and row["within_bound"] is None
    assert "wall_s | 1 [1, 1] | - |" in ab.table(ab.summarize(pairs, METRICS[:1]))


def _tar(files: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        for name, data in files.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tar.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def test_extract_unpacks_the_tree_and_returns_its_benchmark(monkeypatch, tmp_path):
    bench = {"run_seconds": 16, "workloads": [{"name": "w"}], "end_to_end": METRICS}
    archive = _tar({
        "BENCHMARK.json": json.dumps(bench).encode(),
        "perfbench/run.py": b"print('run')\n",
    })
    calls = []
    monkeypatch.setattr(ab, "git", lambda *args: calls.append(args) or archive)
    # TarFile.extractall as it is before Python 3.11.4: no ``filter`` keyword
    real = tarfile.TarFile.extractall
    monkeypatch.setattr(
        tarfile.TarFile, "extractall",
        lambda self, path=".", members=None, *, numeric_owner=False:
            real(self, path, members, numeric_owner=numeric_owner),
    )
    assert ab.extract("abc123", tmp_path / "change") == bench
    assert calls == [("archive", "--format=tar", "abc123")]
    assert (tmp_path / "change" / "perfbench" / "run.py").read_text() == "print('run')\n"


def test_elapsed_seconds_are_recorded_and_summarized(monkeypatch, tmp_path):
    class Proc:
        returncode = 0
        stdout = json.dumps({"correct": True, "metrics": {"wall_s": {"value": 2.0}}})
        stderr = ""

    clock = iter([10.0, 13.5])
    monkeypatch.setattr(ab.time, "perf_counter", lambda: next(clock))
    monkeypatch.setattr(ab.subprocess, "run", lambda *a, **k: Proc())
    rec = ab.run(tmp_path, {"run_seconds": 16}, "w", 1)
    assert rec["ok"] and rec["elapsed_s"] == 3.5

    pairs = _pairs([1.0, 1.0, 1.0], [1.0, 1.0, 1.0])
    for p, (a, b) in zip(pairs, ((60.0, 50.0), (62.0, 70.0), (58.0, 40.0))):
        p["parent"]["elapsed_s"], p["change"]["elapsed_s"] = a, b
    pairs[2]["change"]["ok"] = False  # a failed run's time still counts
    out = ab.summarize(pairs, METRICS[:1])
    assert out["elapsed_s"] == {
        "parent": {"median": 60.0, "total": 180.0},
        "change": {"median": 50.0, "total": 160.0},
    }
    assert ("run elapsed_s: parent median 60.0 s, total 180 s; "
            "change median 50.0 s, total 160 s") in ab.table(out)
