"""MERGE-with-accretion semantics (G7/U5): the incremental
merge_into(accrete=...) fold equals the one-shot accrete_evidence
batch form, re-runs are idempotent, and non-accrete columns
overwrite on match (post-import.cypher:1052-1094). Without accrete
columns the merge is insert-if-absent: it only appends new files."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.operators.materialize import (
    accrete_evidence,
    merge_into,
)


def _arm(spark, source, pairs, extra=None):
    rows = [
        (s, o, [source]) + ((extra.get((s, o), 0),) if extra is not None else ())
        for s, o in pairs
    ]
    schema = "subj string, obj string, evidence_sources array<string>" + (
        ", assay_count int" if extra is not None else ""
    )
    return spark.createDataFrame(rows, schema)


def _read_map(spark, path):
    return {
        (r.subj, r.obj): list(r.evidence_sources)
        for r in spark.read.parquet(path).collect()
    }


def test_merge_fold_equals_oneshot_accretion(spark, tmp_path):
    target = str(tmp_path / "edges")
    arms = [
        ("metabolism", [("o1", "m1"), ("o1", "m2")]),
        ("transport", [("o1", "m1"), ("o2", "m1")]),
        ("measured", [("o1", "m1"), ("o1", "m2"), ("o2", "m1"), ("o3", "m3")]),
    ]
    for source, pairs in arms:
        merge_into(
            spark,
            target,
            _arm(spark, source, pairs),
            keys=["subj", "obj"],
            accrete=["evidence_sources"],
        )
    folded = _read_map(spark, target)
    oneshot = {
        (r.subj, r.obj): list(r.evidence_sources)
        for r in accrete_evidence(
            [
                (
                    source,
                    spark.createDataFrame(pairs, "subj string, obj string"),
                )
                for source, pairs in arms
            ],
            keys=["subj", "obj"],
        ).collect()
    }
    assert folded == oneshot
    assert folded[("o1", "m1")] == ["metabolism", "transport", "measured"]
    assert folded[("o3", "m3")] == ["measured"]


def test_merge_accretion_rerun_idempotent(spark, tmp_path):
    target = str(tmp_path / "edges")
    arm = _arm(spark, "metabolism", [("o1", "m1")])
    merge_into(spark, target, arm, ["subj", "obj"], accrete=["evidence_sources"])
    merge_into(spark, target, arm, ["subj", "obj"], accrete=["evidence_sources"])
    assert _read_map(spark, target) == {("o1", "m1"): ["metabolism"]}


def test_merge_into_sql_stmt_renders_catalog_twin():
    """The real MERGE INTO statement (Iceberg/Delta path) stays in
    lockstep with the parquet emulation's semantics: null-safe key
    match, array_union accretion, overwrite otherwise, INSERT *."""
    from multiomics_biocypher_kg_spark.operators.materialize import (
        merge_into_sql_stmt,
    )

    stmt = merge_into_sql_stmt(
        "kg.edges",
        "updates",
        keys=["subj", "obj"],
        value_cols=["evidence_sources", "assay_count"],
        accrete=["evidence_sources"],
    )
    assert stmt == (
        "MERGE INTO kg.edges t USING updates u "
        "ON t.`subj` <=> u.`subj` AND t.`obj` <=> u.`obj` "
        "WHEN MATCHED THEN UPDATE SET "
        "t.`evidence_sources` = array_union(coalesce(t.`evidence_sources`, array()), "
        "coalesce(u.`evidence_sources`, array())), "
        "t.`assay_count` = u.`assay_count` "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    # no accrete column: insert-if-absent, as the emulation appends
    stmt = merge_into_sql_stmt(
        "kg.triples", "updates", keys=["edge_id"], value_cols=["subj", "pred", "obj"]
    )
    assert stmt == (
        "MERGE INTO kg.triples t USING updates u ON t.`edge_id` <=> u.`edge_id` "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def test_merge_overwrites_non_accrete_columns(spark, tmp_path):
    """Mirrors the measurement arm: evidence_sources accretes, the
    measured_* scalar props are SET (overwritten) with fresh values."""
    target = str(tmp_path / "edges")
    merge_into(
        spark,
        target,
        _arm(spark, "metabolism", [("o1", "m1")], extra={("o1", "m1"): 0}),
        ["subj", "obj"],
        accrete=["evidence_sources"],
    )
    merge_into(
        spark,
        target,
        _arm(spark, "measured", [("o1", "m1"), ("o2", "m2")], extra={("o1", "m1"): 5, ("o2", "m2"): 2}),
        ["subj", "obj"],
        accrete=["evidence_sources"],
    )
    rows = {(r.subj, r.obj): r for r in spark.read.parquet(target).collect()}
    assert list(rows[("o1", "m1")].evidence_sources) == ["metabolism", "measured"]
    assert rows[("o1", "m1")].assay_count == 5  # overwritten on match
    assert list(rows[("o2", "m2")].evidence_sources) == ["measured"]
    assert rows[("o2", "m2")].assay_count == 2


def _triples(spark, pairs):
    """Triples keyed by edge_id, which fixes the row; the key comes last."""
    return spark.createDataFrame(
        [(s, "mentions", o, f"{s}|mentions|{o}") for s, o in pairs],
        "subj string, pred string, obj string, edge_id string",
    )


def _part_files(path):
    return {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


def test_merge_without_accrete_appends_only_new_keys(spark, tmp_path):
    """Onto an existing table, a merge keeps every part file as it was
    (same names, same sizes) and adds files holding only the keys the
    table lacked; every file keeps the updates' column order."""
    target = str(tmp_path / "triples")
    first = _triples(spark, [("u1", "e1"), ("u1", "e2"), ("u2", "e1")])
    merge_into(spark, target, first, ["edge_id"])
    before = _part_files(target)

    second = _triples(spark, [("u1", "e2"), ("u2", "e1"), ("u3", "e3"), ("u3", "e3")])
    merge_into(spark, target, second, ["edge_id"])
    after = _part_files(target)
    assert {f: after[f] for f in before} == before
    added = spark.read.parquet(*(os.path.join(target, f) for f in after if f not in before))
    assert sorted(tuple(r) for r in added.collect()) == [
        ("u3", "mentions", "e3", "u3|mentions|e3")
    ]
    back = spark.read.parquet(target)
    assert back.columns == second.columns
    assert sorted(r.edge_id for r in back.collect()) == [
        "u1|mentions|e1", "u1|mentions|e2", "u2|mentions|e1", "u3|mentions|e3",
    ]


def test_merge_matches_null_keys_like_the_statement(spark, tmp_path):
    """Insert-if-absent matches keys null-safely, as ``<=>`` does in
    ``merge_into_sql_stmt``: merging the same rows again, one of them
    with a null key, appends nothing."""
    target = str(tmp_path / "t")
    rows = spark.createDataFrame([("a", 1), (None, 2)], "k string, v int")
    for _ in range(3):
        merge_into(spark, target, rows, ["k"])
    back = spark.read.parquet(target).collect()
    assert sorted((r.k or "", r.v) for r in back) == [("", 2), ("a", 1)]


def test_merge_onto_crashed_write_leftover(spark, tmp_path):
    """A target dir that holds only a crashed write's committed task
    under _temporary/ merges to exactly the updates: the dir reads as
    empty, and the stale task's rows are not published by the next
    job commit."""
    stale = str(tmp_path / "stale")
    _triples(spark, [("old", "e9")]).coalesce(1).write.parquet(stale)
    target = str(tmp_path / "triples")
    task = os.path.join(target, "_temporary", "0", "task_202601010000_0001_m_000000")
    os.makedirs(task)
    for f in _part_files(stale):
        shutil.copy(os.path.join(stale, f), task)

    updates = _triples(spark, [("u1", "e1"), ("u2", "e2")])
    merge_into(spark, target, updates, ["edge_id"])
    back = spark.read.parquet(target)
    assert back.columns == updates.columns
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in updates.collect()
    )
