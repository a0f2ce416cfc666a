"""Connected components + tier-anchor canonical mapping (G1 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.operators.canonicalize import (
    canonical_mapping,
    connected_components,
)
from multiomics_biocypher_kg_spark.plans.pipeline import sameas_from_documents
from tests.conftest import SF_TINY


def test_components_chain_star_isolated(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),  # chain
         ("x", "y"), ("x", "z"),              # star
         ("q", "q2")],
        "src string, dst string",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["d"] == "a"
    assert comp["x"] == comp["y"] == comp["z"] == "x"
    assert comp["q"] == comp["q2"] == "q"


def test_components_long_chain_shortcut_converges(spark):
    """A 120-node chain has diameter >> max_iter=25: plain min-label
    propagation cannot converge, but the pointer-jump shortcut
    reaches the fixed point in O(log diameter) rounds."""
    import pytest
    from multiomics_biocypher_kg_spark.operators.canonicalize import (
        connected_components,
    )

    n = 120
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    out = {
        r.node: r.component
        for r in connected_components(edges, max_iter=25).collect()
    }
    assert out == {i: 0 for i in range(n)}
    # a budget below the O(log diameter) rounds must raise, not return
    # silently-split components
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_components_on_driver_sameas(spark):
    sameas = sameas_from_documents(spark, SF_TINY)
    comp = connected_components(sameas, src="id_a", dst="id_b")
    # ground truth: component of ent:d is ent:(d - d%10)
    bad = comp.where(
        F.col("component")
        != F.format_string(
            "ent:%06d",
            (F.regexp_extract("node", r"(\d+)", 1).cast("int") / 10).cast("int") * 10,
        )
    ).count()
    assert bad == 0


def test_anchor_priority_and_conflict_quarantine(spark):
    sameas = spark.createDataFrame(
        [("g1", "g2"), ("g2", "g3"),          # one anchor (A on g3)
         ("h1", "h2"), ("h2", "h3")],         # two anchors -> conflict
        "id_a string, id_b string",
    )
    anchors = spark.createDataFrame([("g3",), ("h1",), ("h3",)], "entity_id string")
    m = {r.entity_id: r for r in canonical_mapping(sameas, anchors).collect()}
    assert m["g1"].canonical_id == "g3" and m["g1"].is_conflict == "false"
    assert m["h2"].is_conflict == "true"
