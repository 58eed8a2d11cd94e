"""Self-test of the benchmark: every workload once on tiny inputs
(sf0.001-sized), untraced and traced. Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["ocr_job"])
def test_every_metric_printed_and_outputs_correct(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in SPEC[kind]}
    for m in SPEC[kind]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        assert f"{m['name']} = " in proc.stdout
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark's own files: no result, and
    a non-zero exit."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "ocr_extract", 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_planted_pages_lose_only_their_lines():
    sys.path.insert(0, HERE)
    from workloads import compare_docs

    want = {
        "doc_1": [("text", "head", None, 0), ("media", None, "p1", 1),
                  ("text", "a", "p1", 2), ("media", None, "p2", 3), ("text", "b", "p2", 4)],
    }
    planted_out = {"doc_1": [("text", "head", None, 0), ("media", None, "p1", 1),
                             ("media", None, "p2", 2), ("text", "b", "p2", 3)]}
    assert compare_docs(want, want, set()) == (2, 0, 0)
    assert compare_docs(planted_out, want, {"p1"}) == (2, 0, 0)
    # an unplanted page without lines is a failure and a mismatch
    assert compare_docs(planted_out, want, set()) == (2, 1, 1)
    # a planted page that still has its lines is a mismatch
    assert compare_docs(want, want, {"p1"}) == (2, 0, 1)
    # a missing document is a mismatch
    assert compare_docs({}, want, set())[2] == 1
