"""Deterministic gazetteer vocabulary (FIXTURES.md A2 shape).

Mirrors the reference's lookup structures — MappingData specific /
multi lookups (/root/reference/multiomics_kg/utils/gene_id_utils.py:215-273)
and GeneIdGraph tiers (/root/reference/multiomics_kg/download/gene_id_graph.py:39-67):

- tier 1 = unique anchor surface (exactly one entity; two tier-1
  entities for the same surface is a CONFLICT and quarantines the
  mention),
- tier 2 = protein-level 1:many surface (resolves only when the
  surface maps to exactly one entity — "tier-2 singleton"),
- tier 3 = generic, never an anchor.

The entries below are chosen so the driver documents' 31-token
universe exercises every pass of the resolution cascade
(resolve_row, gene_id_utils.py:478-622):

- 24 plain tier-1 tokens      -> method 'tier1_exact'
- 'JOIN' (uppercase surface)  -> token 'join' via 'case_insensitive'
- 'the' twice at tier 1       -> 'conflict' (quarantined)
- 'big' tier-2 single entity  -> 'tier2_singleton'
- 'fast' tier-2, two entities -> 'ambiguous' (unresolved by the
  cascade; scored by the context/prior disambiguation pass)
- 'a', 'dup', 'slow' absent   -> 'unmatched'
- 'PMM0001' + footnote artifact forms -> 'heuristic' strip of
  trailing '*'/'+'/'.N' (exercised by unit tests; zero rows on the
  driver corpus, by design)
- two multi-token phrases for the Aho-Corasick phrase matcher.

The same literal rows are rendered as a SQL VALUES list for the
DuckDB oracle (``vocab_values_sql``), so Spark and oracle share one
source of truth.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_TIER1_TOKENS = [
    "agg", "batch", "column", "customer", "data", "filter", "group", "hash",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "small",
    "sort", "spark", "stream", "table", "value", "vector", "window",
]

# (surface, id_type, tier, entity_id, vocab)
VOCAB_ROWS: list[tuple[str, str, int, str, str]] = (
    [(t, "keyword", 1, f"kw:{t}", "keyword") for t in _TIER1_TOKENS]
    + [
        ("JOIN", "keyword", 1, "kw:join", "keyword"),
        ("the", "keyword", 1, "kw:the#1", "keyword"),
        ("the", "keyword", 1, "kw:the#2", "keyword"),
        ("big", "keyword", 2, "kw:big", "keyword"),
        # 'fast' is ambiguous between two entities that ALSO carry a
        # unique tier-1 surface elsewhere ('scan' / 'sort'), so the
        # ambiguous mention has real corpus signal for the
        # disambiguation pass (operators.disambiguate): the entities
        # accumulate resolved mentions + co-mention structure.
        ("fast", "keyword", 2, "kw:scan", "keyword"),
        ("fast", "keyword", 2, "kw:sort", "keyword"),
        ("PMM0001", "locus_tag", 1, "ncbigene:PMM0001", "gene"),
        ("dnaA", "gene_name", 1, "ncbigene:PMM0001", "gene"),
        ("AAV95689", "protein_id", 2, "uniprot:Q7V5L8", "protein"),
        ("hash join", "phrase", 1, "kw:hash_join", "phrase"),
        ("sort merge", "phrase", 1, "kw:sort_merge", "phrase"),
    ]
)

VOCAB_SCHEMA = T.StructType(
    [
        T.StructField("surface", T.StringType(), False),
        T.StructField("id_type", T.StringType(), False),
        T.StructField("tier", T.IntegerType(), False),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("vocab", T.StringType(), False),
    ]
)


def vocab_df(spark: SparkSession, extra_rows: list[tuple] | None = None) -> DataFrame:
    """The gazetteer as a (broadcastable) JVM-local relation.

    The rows go to the JVM once, as an Arrow table, and plan as a
    ``LocalTableScan``, so every lookup built from them (mention's
    surface set, link's ``both`` and ``t1ci``) is scanned and
    broadcast inside the JVM. ``createDataFrame`` over a Python list
    would be a Python RDD (``Scan ExistingRDD``): every plan that
    probes it re-reads the rows through Python worker processes, once
    per build and once per ingest micro-batch. Above
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark keeps
    the Arrow batches as a JVM-side RDD, still not a Python one.
    """
    rows = VOCAB_ROWS + list(extra_rows or [])
    table = pa.table(dict(zip(VOCAB_SCHEMA.names, zip(*rows, strict=True))))
    return spark.createDataFrame(table, VOCAB_SCHEMA)


def vocab_values_sql() -> str:
    """DuckDB VALUES-list rendering of the same rows:
    ``(SELECT * FROM (VALUES ...) v(surface, id_type, tier, entity_id, vocab))``.
    """
    vals = ",\n    ".join(
        f"('{s}', '{it}', {tier}, '{eid}', '{voc}')"
        for (s, it, tier, eid, voc) in VOCAB_ROWS
    )
    return (
        "(SELECT * FROM (VALUES\n    "
        + vals
        + "\n) v(surface, id_type, tier, entity_id, vocab))"
    )
