"""Smoke tests of the benchmark itself, on its tiny inputs.

    python3 -m pytest perfbench/tests -q

Each test runs ``run.py`` as its own process, as the benchmark is run.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SMOKE = ("--seed", "3", "--seconds", "1", "--smoke")


def _run(args: list[str], cwd: Path = ROOT):
    p = subprocess.run([sys.executable, *args], cwd=cwd, capture_output=True,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


@pytest.mark.parametrize("trace", ("0", "1"))
@pytest.mark.parametrize("workload", ("pages_linkage", "part_sweep"))
def test_every_metric_appears_with_its_unit(workload, trace):
    rc, result = _run([str(BENCH / "run.py"), "--workload", workload, "--trace", trace, *SMOKE])
    assert rc == 0
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["end_to_end" if trace == "0" else "per_layer"]
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())
    if trace == "0":
        assert result["metrics"]["pairwise_f1"]["value"] >= 0.99
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in spec)


# Runs the benchmark with the oracle's expected hash of every call off by one.
WRONG_HASH = """
import sys
sys.path.insert(0, sys.argv[1])
import inputs, run

right = inputs.part

def wrong(*args):
    i = right(*args)
    i.expected = {k: [n, h + 1, s] for k, (n, h, s) in i.expected.items()}
    return i

inputs.part = wrong
sys.exit(run.main(sys.argv[2:]))
"""


def test_a_wrong_expected_hash_fails_the_check():
    rc, result = _run(["-c", WRONG_HASH, str(BENCH), "--workload", "part_sweep",
                       "--trace", "0", *SMOKE])
    assert rc == 1
    assert not result["correct"]
    assert result["failed"] == result["attempted"] > 0
    # the output itself is right, which the mismatch path's exact F1 shows
    assert result["metrics"]["pairwise_f1"]["value"] == 1.0


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    rc, result = _run(["perfbench/run.py", "--workload", "part_sweep", "--trace", "0", *SMOKE],
                      cwd=tmp_path)
    assert rc != 0 and result is None
