"""run_staged runs independent stages concurrently: canonicalize beside
extract -> link, enrich beside materialize, each stage on a driver
thread of its own, with the same stage tables as one stage at a time."""

from __future__ import annotations

import dataclasses
import json
import os
import threading

import pytest
from pyspark.sql.conf import RuntimeConfig

from multiomics_biocypher_kg_spark.plans import lineage, pipeline
from tests.conftest import SF_TINY

# long enough for a loaded host, short enough that a serial walk fails
# instead of hanging
MEET_TIMEOUT_S = 120


def _recorded(workdir: str) -> dict[str, tuple]:
    """Each stage's (checksum, n_rows, upstream) from its lineage.json."""
    out = {}
    for stage in pipeline.STAGES:
        with open(os.path.join(workdir, stage.name, "lineage.json")) as f:
            rec = json.load(f)
        out[stage.name] = (rec["checksum"], rec["n_rows"], rec["upstream"])
    return out


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("clean"))
    pipeline.run_staged(spark, SF_TINY, workdir)
    return _recorded(workdir)


def _with_builds(wrap: dict) -> tuple[pipeline.Stage, ...]:
    """STAGES with the build of each stage named in ``wrap`` replaced
    by ``wrap[name](original_build)``."""
    return tuple(
        dataclasses.replace(s, build=wrap[s.name](s.build)) if s.name in wrap else s
        for s in pipeline.STAGES
    )


def test_independent_stages_overlap(spark, tmp_path, monkeypatch, clean):
    """extract's and canonicalize's builds, and then materialize's and
    enrich's, each wait for the other at a barrier, so the build
    completes only if each pair runs at the same time (a walk that runs
    one stage at a time breaks the barrier at its timeout). The tables
    equal a clean build's."""
    first = threading.Barrier(2, timeout=MEET_TIMEOUT_S)
    second = threading.Barrier(2, timeout=MEET_TIMEOUT_S)

    def meet(barrier):
        def wrap(build):
            def met(*a):
                barrier.wait()
                return build(*a)

            return met

        return wrap

    monkeypatch.setattr(
        pipeline,
        "STAGES",
        _with_builds(
            {
                "extract": meet(first),
                "canonicalize": meet(first),
                "materialize": meet(second),
                "enrich": meet(second),
            }
        ),
    )
    pipeline.run_staged(spark, SF_TINY, str(tmp_path))
    assert _recorded(str(tmp_path)) == clean


def test_failed_branch_lets_the_running_branch_finish(spark, tmp_path, monkeypatch, clean):
    """canonicalize's build raises while extract -> link runs (extract
    waits until it has). run_staged raises that error only once link,
    and enrich on it, have finished; materialize, which needs
    canonicalize, never starts. No stage thread is left running, every
    stage that was written is complete, and the next plain run_staged
    resumes extract, link and enrich, builds the other two and ends
    with the clean tables."""
    workdir = str(tmp_path)
    started, failed = threading.Event(), threading.Event()

    def extract_after_the_failure(build):
        def wrapped(*a):
            started.set()
            failed.wait(MEET_TIMEOUT_S)
            return build(*a)

        return wrapped

    def failing_canonicalize(build):
        def wrapped(*a):
            started.wait(MEET_TIMEOUT_S)
            failed.set()
            raise RuntimeError("canonicalize failed")

        return wrapped

    threads_before = set(threading.enumerate())
    with monkeypatch.context() as m:
        m.setattr(
            pipeline,
            "STAGES",
            _with_builds(
                {"extract": extract_after_the_failure, "canonicalize": failing_canonicalize}
            ),
        )
        with pytest.raises(RuntimeError, match="canonicalize failed"):
            pipeline.run_staged(spark, SF_TINY, workdir)
    assert not [t for t in set(threading.enumerate()) - threads_before if t.is_alive()]
    runner = lineage.StagedRunner(spark, workdir)
    assert sorted(os.listdir(workdir)) == ["enrich", "extract", "link"]
    for stage in ("enrich", "extract", "link"):
        assert runner.is_complete(stage), stage

    rebuilt = []
    real_write = lineage.write_stage

    def recording_write(df, path):
        rebuilt.append(os.path.basename(os.path.dirname(path)))
        return real_write(df, path)

    with monkeypatch.context() as m:
        m.setattr(lineage, "write_stage", recording_write)
        pipeline.run_staged(spark, SF_TINY, workdir)
    assert sorted(rebuilt) == ["canonicalize", "materialize"]
    assert _recorded(workdir) == clean


def test_state_loops_leave_the_callers_shuffle_partitions_alone(
    spark, tmp_path, monkeypatch, clean
):
    """The connected-components loop sizes its round exchanges on a
    child session: during a fresh run_staged, nothing sets
    spark.sql.shuffle.partitions on the caller's session, which the
    other stage threads plan against, while the loop does set it on
    its own session."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    seen = []
    real_set = RuntimeConfig.set

    def spy(self, k, v):
        if k == key:
            seen.append(self._jconf)
        return real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    pipeline.run_staged(spark, SF_TINY, str(tmp_path))
    callers = spark._jsparkSession.conf()
    assert seen, "the loop sets its partition count on a child session"
    assert not [j for j in seen if j.equals(callers)]
    assert spark.conf.get(key) == before
    assert _recorded(str(tmp_path)) == clean


def test_state_session_keeps_the_callers_settings(spark):
    """The child session carries what the caller set at runtime, holds
    its own state-sized partition count, and takes and hands back
    frames through a view that is gone once the frame is made."""
    from multiomics_biocypher_kg_spark.plans.tuning import (
        SHUFFLE_PARTITIONS,
        rerooted,
        state_session,
    )

    key = "spark.sql.caseSensitive"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false" if saved == "true" else "true")
    try:
        child = state_session(spark, 250_000)
        assert child.conf.get(key) == spark.conf.get(key)
    finally:
        spark.conf.set(key, saved)
    assert child.conf.get(SHUFFLE_PARTITIONS) == "3"
    assert spark.conf.get(SHUFFLE_PARTITIONS) != "3"
    df = spark.range(10).selectExpr("id % 3 AS k", "id")
    there = rerooted(df, child).groupBy("k").count()
    back = rerooted(there, spark)
    assert sorted(map(tuple, back.collect())) == [(0, 4), (1, 3), (2, 3)]
    views = spark.catalog.listTables(spark.conf.get("spark.sql.globalTempDatabase"))
    assert not [v.name for v in views if v.name.startswith("reroot_")]
