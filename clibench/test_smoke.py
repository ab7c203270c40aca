"""Smoke test of the benchmark itself at the tiny input size:
generate -> build -> check -> print every metric name with its unit.

    python3 -m pytest clibench/test_smoke.py -q

Each case runs one benchmark run (about a minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    spec = _spec()
    proc = subprocess.run(
        [*spec["command"], "--workload", "points", "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _check(trace: int, section: str) -> None:
    rc, lines = _run(trace)
    assert rc == 0, lines
    out = json.loads(lines[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()[section]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
    info = json.loads(lines[-2])
    assert info["input"]["features"] > 0 and len(info["input"]["sha256"]) == 64
    assert len(info["tileset_sha"]) == 1


def test_end_to_end_metrics():
    _check(0, "end_to_end")


def test_traced_per_layer_metrics():
    _check(1, "per_layer")


def test_fails_without_the_program(tmp_path):
    """A checkout holding only the benchmark exits non-zero, printing no
    result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "clibench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    rc, lines = _run(0, cwd=str(tmp_path))
    assert rc != 0
    assert not any(line.startswith("{") for line in lines)


if __name__ == "__main__":
    sys.exit(subprocess.call([sys.executable, "-m", "pytest", "-q", __file__]))
