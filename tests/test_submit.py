"""North-rule deployment surface: the packaged pipeline runs under
``spark-submit --py-files`` (fresh JVM, package imported from the
zip artifact, NOT the repo checkout) and resumes idempotently on
re-submit."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="no spark-submit")
def test_spark_submit_pyfiles_end_to_end_and_resume(tmp_path):
    zip_rel = subprocess.run(
        ["bash", f"{REPO}/scripts/package.sh"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    zip_path = os.path.join(REPO, zip_rel)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)

    def submit(*extra):
        out = subprocess.run(
            [
                "spark-submit",
                "--master",
                "local[4]",
                "--py-files",
                zip_path,
                f"{REPO}/scripts/run_pipeline.py",
                "--sf-dir",
                SF,
                "--workdir",
                str(tmp_path / "wh"),
                "--shuffle-partitions",
                "8",
                *extra,
            ],
            capture_output=True,
            text=True,
            timeout=600,
            env=env,
            cwd=str(tmp_path),  # repo root off sys.path: imports MUST hit the zip
        )
        assert out.returncode == 0, out.stderr[-4000:]
        line = [l for l in out.stdout.splitlines() if l.startswith('{"status"')][-1]
        return json.loads(line)

    # a checkpoint dir makes the CC loop checkpoint reliably into it
    # (setCheckpointDir makes <dir>/<uuid>/; each checkpoint an rdd-<id>/)
    ckpt = tmp_path / "ckpt"
    first = submit("--checkpoint-dir", str(ckpt))
    assert list(ckpt.glob("*/rdd-*"))
    assert first["rows"]["triples"] > 0
    assert first["rows"]["docs"] > 0
    # re-submit resumes (checksum-verified skip) and converges to the
    # identical table contents
    second = submit()
    assert second["rows"] == first["rows"]
