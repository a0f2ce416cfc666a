"""Evidence accretion and the insert-if-absent merge.

``accrete_evidence`` (G7/U5, post-import.cypher:1052-1094) equals a
plain-Python fold of ``array_union`` over the evidence arms in order,
and lists a repeated arm once. ``merge_into`` is insert-if-absent: it
only appends files holding the keys the target lacks, never
overwrites a row it holds, and stays in lockstep with the rendered
``MERGE INTO ... WHEN NOT MATCHED THEN INSERT *`` statement."""

from __future__ import annotations

import os
import shutil

from multiomics_biocypher_kg_spark.operators.materialize import (
    accrete_evidence,
    merge_into,
    merge_into_sql_stmt,
)


def _fold(arms):
    """The reference's accreting MERGE arms in plain Python: per key,
    ``array_union(existing, [source])`` applied arm by arm, in order."""
    out: dict[tuple, list[str]] = {}
    for source, pairs in arms:
        for key in pairs:
            sources = out.setdefault(key, [])
            if source not in sources:
                sources.append(source)
    return out


def _accreted(spark, arms):
    return {
        (r.subj, r.obj): list(r.evidence_sources)
        for r in accrete_evidence(
            [
                (source, spark.createDataFrame(pairs, "subj string, obj string"))
                for source, pairs in arms
            ],
            keys=["subj", "obj"],
        ).collect()
    }


def test_merge_fold_equals_oneshot_accretion(spark):
    arms = [
        ("metabolism", [("o1", "m1"), ("o1", "m2")]),
        ("transport", [("o1", "m1"), ("o2", "m1")]),
        ("measured", [("o1", "m1"), ("o1", "m2"), ("o2", "m1"), ("o3", "m3")]),
    ]
    oneshot = _accreted(spark, arms)
    assert oneshot == _fold(arms)
    assert oneshot[("o1", "m1")] == ["metabolism", "transport", "measured"]
    assert oneshot[("o3", "m3")] == ["measured"]


def test_merge_accretion_rerun_idempotent(spark):
    """A repeated arm, and a pair repeated within an arm, list their
    source once, in first-contribution order."""
    arms = [
        ("metabolism", [("o1", "m1"), ("o1", "m1")]),
        ("transport", [("o1", "m1")]),
        ("metabolism", [("o1", "m1"), ("o2", "m2")]),
    ]
    oneshot = _accreted(spark, arms)
    assert oneshot == _fold(arms)
    assert oneshot == {
        ("o1", "m1"): ["metabolism", "transport"],
        ("o2", "m2"): ["metabolism"],
    }


def test_merge_into_sql_stmt_renders_catalog_twin():
    """The real MERGE INTO statement (Iceberg/Delta path) stays in
    lockstep with the parquet emulation's semantics: null-safe key
    match, INSERT * of the absent keys only."""
    stmt = merge_into_sql_stmt("kg.triples", "updates", keys=["edge_id"])
    assert stmt == (
        "MERGE INTO kg.triples t USING updates u ON t.`edge_id` <=> u.`edge_id` "
        "WHEN NOT MATCHED THEN INSERT *"
    )


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


def test_merge_appends_only_new_keys(spark, tmp_path):
    """Onto an existing table, a merge keeps every part file as it was
    (same names, same sizes) and adds files holding only the keys the
    table lacked; every file keeps the updates' column order. An
    update whose key the table holds, with another value, leaves the
    table's row as it was (``WHEN NOT MATCHED THEN INSERT *``)."""
    target = str(tmp_path / "triples")
    first = _triples(spark, [("u1", "e1"), ("u1", "e2"), ("u2", "e1")])
    merge_into(spark, target, first, ["edge_id"])
    before = _part_files(target)

    second = _triples(
        spark, [("u1", "e2"), ("u2", "e1"), ("u3", "e3"), ("u3", "e3")]
    ).unionByName(
        # a held key with another value: the held row stays
        spark.createDataFrame(
            [("u1", "mentions", "changed", "u1|mentions|e1")], first.schema
        )
    )
    merge_into(spark, target, second, ["edge_id"])
    after = _part_files(target)
    assert {f: after[f] for f in before} == before
    added = spark.read.parquet(*(os.path.join(target, f) for f in after if f not in before))
    assert sorted(tuple(r) for r in added.collect()) == [
        ("u3", "mentions", "e3", "u3|mentions|e3")
    ]
    back = spark.read.parquet(target)
    assert back.columns == second.columns
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in first.collect()
    ) + [("u3", "mentions", "e3", "u3|mentions|e3")]


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
