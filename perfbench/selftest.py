"""The benchmark's own tests: corpus determinism, the result contract,
and the drift self-check.

    python3 -m pytest perfbench/selftest.py -q

The file is named so that a plain ``pytest`` run of the repository does
not collect it: the drift check starts Spark once per listed workload
and takes several minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

import corpus
from run import drift_ratio

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
# how far the later half of a run's timed ops may sit from the earlier
DRIFT_TOLERANCE = 0.10


def _benchmark() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _listed_workloads() -> list[str]:
    return [w["name"] for w in _benchmark()["workloads"]]


def _drift_seconds(workload: str) -> float:
    """The benchmark's own window, stretched to at least 3 timed ops."""
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS

    return max(_benchmark()["run_seconds"], 3 * WORKLOADS[workload].op_s)


def test_drift_ratio_compares_half_medians():
    assert drift_ratio([2.0, 2.0, 2.0, 2.0]) == 1.0
    assert drift_ratio([1.0, 1.0, 9.0, 2.0, 2.0]) == 2.0  # middle op left out
    assert drift_ratio([5.0]) == 1.0


def test_corpus_is_a_function_of_the_seed():
    a, b, c = corpus.documents(300, 7), corpus.documents(300, 7), corpus.documents(300, 8)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.column("doc_id").to_pylist() == list(range(300))
    words = {w for t in a.column("text").to_pylist() for w in t.split()}
    assert words <= set(corpus.WORDS) | {"dup"}


def test_delta_split_is_disjoint_and_complete():
    docs = corpus.documents(400, 3)
    base, delta = corpus.split_delta(docs, 0.05, 3)
    ids_b = set(base.column("doc_id").to_pylist())
    ids_d = set(delta.column("doc_id").to_pylist())
    assert len(ids_d) == 20
    assert not ids_b & ids_d
    assert ids_b | ids_d == set(range(400))


def test_fails_without_the_program_sources(tmp_path):
    """A checkout holding only the benchmark exits non-zero, fast,
    without printing a result."""
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout


@pytest.mark.parametrize("workload", _listed_workloads())
def test_timed_ops_show_no_trend(workload):
    """The fixed warm-up must end the warm-up phase: in a run of the
    benchmark's window, the median of the second half of the timed ops
    stays within DRIFT_TOLERANCE of the median of the first half."""
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "5",
         "--seconds", str(_drift_seconds(workload)), "--trace", "0"],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    times = json.loads(re.search(r"perfbench: op times (\[[^]]*\])", p.stderr).group(1))
    assert len(times) >= 3, times
    assert abs(drift_ratio(times) - 1.0) <= DRIFT_TOLERANCE, times
