"""The benchmark's own checks.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark at the tiny input scale, one workload at a
time (about a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
BENCH = os.path.join(ROOT, "perfbench")
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import oracle  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_inputs_depend_only_on_seed(tmp_path):
    size = inputs.SIZES["tiny"]
    digests = []
    for i, seed in enumerate((3, 3, 4)):
        root = str(tmp_path / str(i))
        inputs.write_events(root, seed, size)
        inputs.write_corpus(root, seed, size)
        digests.append(_digest(root))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_same_rows_tolerates_order_and_summation_noise():
    assert oracle.same_rows([(1, 0.1 + 0.2), (2, None)],
                            [(2, None), (1, 0.3)])
    assert not oracle.same_rows([(1, 0.3)], [(1, 0.3001)])
    assert not oracle.same_rows([(1, 0.3)], [(1, 0.3), (1, 0.3)])


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("ad_mixed", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["ad_mixed", "corpus_ops"])
def test_smoke_prints_every_metric(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = _spec()
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if trace and workload == "ad_mixed":
        assert result["metrics"]["router.hit_ratio"]["value"] == 1.0
        assert result["metrics"]["trace.attributed_ratio"]["value"] >= 0.9


def test_injected_wrong_answer_is_counted():
    proc = _run("ad_mixed", 0, "--inject-wrong")
    assert proc.returncode == 1
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert "failed_ops_ratio" in proc.stdout
