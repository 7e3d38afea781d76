"""Smoke tests of the benchmark itself, at ``--scale smoke``.

    python3 -m pytest perfbench/test_smoke.py -q

Each test runs ``run.py`` the way the benchmark is driven and checks
the contract of its last stdout line against ``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload: str, trace: int, seed: int = 3) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_line(line: dict, names: set[str]) -> None:
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0
    assert line["attempted"] >= 1
    assert set(line["metrics"]) == names
    for m in line["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced(workload):
    line = run(workload, 0)
    check_line(line, {m["name"] for m in SPEC["end_to_end"]})
    for m in SPEC["end_to_end"]:
        assert line["metrics"][m["name"]]["unit"] == m["unit"]
        assert line["metrics"][m["name"]]["value"] > 0


def test_traced():
    line = run(SPEC["workloads"][0]["name"], 1)
    check_line(line, {m["name"] for m in SPEC["per_layer"]})
    for m in SPEC["per_layer"]:
        assert line["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    with open(os.path.join(HERE, "layers.json")) as fh:
        assert set(json.load(fh)) - {"_about"} == set(line["metrics"])


def test_seed_reproducible(tmp_path):
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from gen import BinlogStream, write_documents

    for d in ("a", "b"):
        BinlogStream(5).write_segments(str(tmp_path / d / "bin"), 2, 10)
        write_documents(str(tmp_path / d), 5, 50, 20)
    for sub in ("bin", "documents.parquet"):
        names = sorted(os.listdir(tmp_path / "a" / sub))
        assert names and names == sorted(os.listdir(tmp_path / "b" / sub))
        for name in names:
            assert (tmp_path / "a" / sub / name).read_bytes() == \
                (tmp_path / "b" / sub / name).read_bytes(), name
