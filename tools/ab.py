"""Interleaved A/B of one benchmark workload: a parent commit vs the staged tree.

Usage: python3 tools/ab.py WORKLOAD FIRST_SEED [PARENT]

Both sides are built with ``git archive`` into one temporary directory,
which is removed at the end: the parent from PARENT (default ``HEAD``), the
change from the staged index (``git write-tree``).  The tool refuses when
the two trees are the same.  It runs 10 pairs with seeds FIRST_SEED ..
FIRST_SEED+9, the same seed on both sides of a pair, and alternates which
side runs first.  Each run is ``perfbench/run.py --workload W --seed S
--seconds <run_seconds> --trace 0``, started in its own tree.
``run_seconds``, the workloads and the end-to-end metrics (``better``,
``bound``) come from that tree's ``BENCHMARK.json``.

A run fails when it exits non-zero, when its last stdout line is not the
expected JSON object, or when it reports ``correct: false``.  Failed runs
stay in the record and are counted, never dropped.

Per metric, the output gives each side's median and quartiles, the pairs
the change wins (ties count for neither side), the change/parent ratio of
medians, and whether that ratio is within the metric's bound.  Each run
also records its ``elapsed_s`` (the whole perfbench process, failed runs
included); the output gives each side's median and total, so a change can
show it does not lengthen a benchmark run.  The last stdout line is one
JSON object that holds every run.
"""

from __future__ import annotations

import io
import json
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time
from pathlib import Path

PAIRS = 10


def git(*args: str) -> bytes:
    return subprocess.run(["git", *args], check=True, stdout=subprocess.PIPE).stdout


def extract(tree: str, dest: Path) -> dict:
    """Unpack ``tree`` into ``dest``; return its BENCHMARK.json."""
    # The archive is this repository's own tree.  No ``filter=``: that
    # keyword is missing from TarFile.extractall before Python 3.11.4.
    with tarfile.open(fileobj=io.BytesIO(git("archive", "--format=tar", tree))) as tar:
        tar.extractall(dest)
    return json.loads((dest / "BENCHMARK.json").read_text())


def run(tree: Path, bench: dict, workload: str, seed: int) -> dict:
    """One perfbench run; a record with ``ok`` False and a ``why`` on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    rec = {"seed": seed, "exit": proc.returncode, "ok": False, "metrics": {},
           "elapsed_s": time.perf_counter() - t0}
    lines = proc.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1])
        rec["correct"] = last["correct"]
        rec["metrics"] = {k: float(m["value"]) for k, m in last["metrics"].items()}
    except (IndexError, ValueError, KeyError, TypeError, AttributeError):
        rec["why"] = "malformed last line"
    if proc.returncode != 0:
        rec["why"] = f"exit {proc.returncode}"
    elif "why" not in rec and rec["correct"] is not True:
        rec["why"] = "correct: false"
    rec["ok"] = "why" not in rec
    if not rec["ok"]:
        rec["stderr_tail"] = proc.stderr.strip().splitlines()[-5:]
    return rec


def spread(values: list[float]) -> dict | None:
    """Median and inclusive quartiles; ``None`` for no values."""
    if not values:
        return None
    if len(values) == 1:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def summarize(pairs: list[dict], metrics: list[dict]) -> dict:
    """Per end-to-end metric: both sides' spread, the change's wins, the
    ratio of medians and the bound check.  ``pairs`` hold a ``parent`` and
    a ``change`` run record each; only ``ok`` runs give values."""
    out = {
        "failed": {side: sum(not p[side]["ok"] for p in pairs) for side in ("parent", "change")},
        "elapsed_s": {},
        "metrics": {},
    }
    for side in ("parent", "change"):
        took = [p[side]["elapsed_s"] for p in pairs if "elapsed_s" in p[side]]
        out["elapsed_s"][side] = ({"median": statistics.median(took), "total": sum(took)}
                                  if took else None)
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {side: [p[side]["metrics"][name] for p in pairs
                       if p[side]["ok"] and name in p[side]["metrics"]]
                for side in ("parent", "change")}
        wins = 0
        for p in pairs:
            a, b = (p[s]["metrics"].get(name) if p[s]["ok"] else None
                    for s in ("parent", "change"))
            if a is not None and b is not None and a != b and (b < a) == lower:
                wins += 1
        row = {side: spread(v) for side, v in vals.items()}
        row["change_wins"] = wins
        row["pairs"] = len(pairs)
        ratio = within = None
        if row["parent"] and row["change"] and row["parent"]["median"]:
            ratio = row["change"]["median"] / row["parent"]["median"]
            within = ratio <= 1 + m["bound"] if lower else ratio >= 1 - m["bound"]
        row["ratio"], row["bound"], row["within_bound"] = ratio, m["bound"], within
        out["metrics"][name] = row
    return out


def table(summary: dict) -> str:
    def cell(s: dict | None) -> str:
        return "-" if s is None else f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}]"

    lines = ["metric | parent median [q1, q3] | change median [q1, q3] | change wins | ratio | within bound"]
    for name, r in summary["metrics"].items():
        ratio = "-" if r["ratio"] is None else f"{r['ratio']:.3f}"
        lines.append(f"{name} | {cell(r['parent'])} | {cell(r['change'])} | "
                     f"{r['change_wins']}/{r['pairs']} | {ratio} | {r['within_bound']}")
    f = summary["failed"]
    lines.append(f"failed runs: parent {f['parent']}, change {f['change']}")
    took = {side: "-" if e is None else f"median {e['median']:.1f} s, total {e['total']:.0f} s"
            for side, e in summary["elapsed_s"].items()}
    lines.append(f"run elapsed_s: parent {took['parent']}; change {took['change']}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) not in (2, 3):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    workload, first_seed = argv[0], int(argv[1])
    trees = {
        "parent": git("rev-parse", f"{argv[2] if len(argv) == 3 else 'HEAD'}^{{tree}}").decode().strip(),
        "change": git("write-tree").decode().strip(),
    }
    if trees["parent"] == trees["change"]:
        print(f"parent and staged tree are the same ({trees['parent']}): nothing to compare",
              file=sys.stderr)
        return 2
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        dirs = {side: Path(tmp) / side for side in trees}
        bench = {side: extract(trees[side], dirs[side]) for side in trees}
        for side, b in bench.items():
            if workload not in {w["name"] for w in b["workloads"]}:
                print(f"{side} tree has no workload {workload!r}", file=sys.stderr)
                return 2
        pairs = []
        for i in range(PAIRS):
            seed = first_seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "order": list(order)}
            for side in order:
                pair[side] = run(dirs[side], bench[side], workload, seed)
                print(f"pair {i + 1}/{PAIRS} seed {seed} {side}: "
                      f"{pair[side].get('why', 'ok')} {pair[side]['metrics']}", file=sys.stderr)
            pairs.append(pair)
    summary = summarize(pairs, bench["change"]["end_to_end"])
    print(table(summary))
    print(json.dumps({"workload": workload, "trees": trees, "pairs": pairs, "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
