"""Stage 3 — link: tiered entity-resolution cascade.

Re-expresses the reference's resolve_row
(/root/reference/multiomics_kg/utils/gene_id_utils.py:478-622) —
tier-1 exact -> case-insensitive -> heuristic normalization ->
tier-2 singleton, first hit wins, conflicts quarantined — as a
single pass of four BROADCAST hash joins over the mention stream
plus one CASE expression. No shuffle of the big side, no Python.

Resolution methods (priority order, one per mention):
    tier1_exact | conflict | case_insensitive | heuristic |
    tier2_singleton | ambiguous | unmatched

A 'conflict' means the matched surface maps to >=2 tier-1 entities
(GeneIdGraph conflict semantics, gene_id_graph.py:139-151):
entity_id is NULL and the mention is quarantined, not dropped —
the histogram (A17) still counts it.

Scale: each lookup table is the grouped-distinct vocab (tiny, <<
broadcast threshold), aggregated from the gazetteer's JVM-local
relation (``sources.vocab.vocab_df``, a ``LocalTableScan``), so
building and broadcasting a lookup starts no Python worker. The
mention stream is never shuffled here — the whole stage is map-side.
At 10^12 docs this stage is bound by scan + codegen only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

METHODS = [
    "tier1_exact",
    "conflict",
    "case_insensitive",
    "heuristic",
    "tier2_singleton",
    "ambiguous",
    "unmatched",
]


def heuristic_normalize(c):
    """Strip footnote artifacts + trailing version: 'PMM0001*' ->
    'PMM0001', 'AAV95689.1' -> 'AAV95689'
    (expand_list/_heuristic_candidates, gene_id_utils.py:327-357,459-475)."""
    return F.regexp_replace(F.regexp_replace(c, r"[*+]+$", ""), r"\.\d+$", "")


def expand_candidates(
    df: DataFrame,
    value_col: str = "raw_value",
    id_type_col: str = "id_type",
    include_heuristics: bool = True,
    entry_name_strip: bool = True,
) -> DataFrame:
    """J4/J5 candidate generation feeding the link cascade: each raw
    cell expands to ordered typed candidates (resolve_row's
    _candidate_values, gene_id_utils.py:525-539 — defline columns use
    typed extraction, everything else expand_list + heuristics).

    -> input columns + (cand_rank starting at 1, token, token_id_type).
    Rows whose cell yields no candidates are dropped (reference:
    empty candidate list is a resolution no-op).

    Scale: pure per-row explode (no shuffle); downstream link() joins
    stay broadcast. Resolution keeps the FIRST resolving candidate
    per row via cand_rank ordering.
    """
    from multiomics_biocypher_kg_spark.functions.candidates import (
        candidate_tokens_col,
    )

    toks = candidate_tokens_col(
        F.col(value_col), F.col(id_type_col), include_heuristics, entry_name_strip
    )
    keep = df.columns
    return df.select(
        *keep, F.posexplode(toks).alias("pos", "cand")
    ).select(
        *keep,
        (F.col("pos") + 1).alias("cand_rank"),
        F.col("cand.token").alias("token"),
        F.col("cand.id_type").alias("token_id_type"),
    )


def _lookup(vocab: DataFrame, tier: int, lowered: bool) -> DataFrame:
    """surface -> (entity of the single mapping, #distinct entities)."""
    key = F.lower("surface") if lowered else F.col("surface")
    return (
        vocab.where((F.col("tier") == tier) & ~F.col("surface").contains(" "))
        .groupBy(key.alias("k"))
        .agg(
            F.min("entity_id").alias("e"),
            F.countDistinct("entity_id").alias("n"),
        )
    )


def link(mentions: DataFrame, vocab: DataFrame) -> DataFrame:
    """mentions(..., token) -> links(..., entity_id, resolution_method).

    The cascade probes exactly THREE keys per mention (exact token,
    lowered token, normalized token), so the five logical lookups
    collapse into three broadcast joins: the tier-1 and tier-2
    entries on the SAME key merge into one lookup table built by a
    SINGLE aggregation with per-tier conditional aggregates (no
    join anywhere in the dictionary subtree). A key with no rows in
    one tier carries count 0 / entity NULL for it, which falls
    through the priority CASE exactly like the former left-join
    miss, so method/entity are unchanged — two fewer probes of the
    mention stream, and the exact and normalized probes share one
    broadcast build (identical subtree -> exchange reuse)."""
    t1ci = _lookup(vocab, 1, lowered=True)
    in_t1 = F.when(F.col("tier") == 1, F.col("entity_id"))
    in_t2 = F.when(F.col("tier") == 2, F.col("entity_id"))
    both = (
        vocab.where(~F.col("surface").contains(" "))
        .groupBy(F.col("surface").alias("k"))
        .agg(
            F.min(in_t1).alias("_e1"),
            F.countDistinct(in_t1).alias("_n1"),
            F.min(in_t2).alias("_e2"),
            F.countDistinct(in_t2).alias("_n2"),
        )
    )

    m = mentions.withColumn("norm_token", heuristic_normalize(F.col("token")))
    j = (
        m.join(
            F.broadcast(
                both.select(
                    F.col("k").alias("x1"),
                    F.col("_e1").alias("e1"), F.col("_n1").alias("n1"),
                    F.col("_e2").alias("e4"), F.col("_n2").alias("n4"),
                )
            ),
            m.token == F.col("x1"),
            "left",
        )
        .join(
            F.broadcast(t1ci.select(F.col("k").alias("x2"), F.col("e").alias("e2"), F.col("n").alias("n2"))),
            F.lower(m.token) == F.col("x2"),
            "left",
        )
        .join(
            F.broadcast(
                both.select(
                    F.col("k").alias("x3"),
                    F.col("_e1").alias("e3"), F.col("_n1").alias("n3"),
                    F.col("_e2").alias("e5"), F.col("_n2").alias("n5"),
                )
            ),
            F.col("norm_token") == F.col("x3"),
            "left",
        )
    )
    method = (
        F.when(F.col("n1") == 1, F.lit("tier1_exact"))
        .when(F.col("n1") > 1, F.lit("conflict"))
        .when(F.col("n2") == 1, F.lit("case_insensitive"))
        .when(F.col("n2") > 1, F.lit("conflict"))
        .when(F.col("n3") == 1, F.lit("heuristic"))
        .when(F.col("n3") > 1, F.lit("conflict"))
        .when(F.col("n4") == 1, F.lit("tier2_singleton"))
        .when(F.col("n4") > 1, F.lit("ambiguous"))
        .when(F.col("n5") == 1, F.lit("heuristic"))
        .when(F.col("n5") > 1, F.lit("ambiguous"))
        .otherwise(F.lit("unmatched"))
    )
    entity = (
        F.when(F.col("n1") == 1, F.col("e1"))
        .when(F.col("n1") > 1, F.lit(None))
        .when(F.col("n2") == 1, F.col("e2"))
        .when(F.col("n2") > 1, F.lit(None))
        .when(F.col("n3") == 1, F.col("e3"))
        .when(F.col("n3") > 1, F.lit(None))
        .when(F.col("n4") == 1, F.col("e4"))
        .when(F.col("n4") > 1, F.lit(None))
        .when(F.col("n5") == 1, F.col("e5"))
        .otherwise(F.lit(None))
    )
    keep = [c for c in mentions.columns]
    return j.select(
        *keep,
        entity.alias("entity_id"),
        method.alias("resolution_method"),
    )


def resolve_rows(
    cells: DataFrame,
    vocab: DataFrame,
    value_col: str = "raw_value",
    id_type_col: str = "id_type",
) -> DataFrame:
    """ROW-level resolution with the reference's exact pass structure
    (resolve_row, gene_id_utils.py:478-622) — differential-tested
    against the reference's own implementation in
    tests/test_reference_parity.py:

      pass 1  tier-1 exact over the expand_list/defline candidates
      pass 1b tier-1 case-insensitive over the same candidates
      pass 2  heuristic variants (footnote strip, '.1' version ADD)
              -> tier-1 exact
      pass 3  tier-2 exact, singletons only
      pass 3b tier-2 case-insensitive, singletons only

    First hit wins with (pass, candidate order, variant order)
    priority — the reference iterates passes outermost, candidates
    inner, which is exactly this lexicographic minimum.

    vocab: (surface, tier, entity_id, ...); tier-1 surfaces must be
    unambiguous (the reference's specific_lookup is a dict).
    Non-key columns of ``cells`` are preserved (NULLs included — the
    row re-association is null-safe); unresolvable rows return
    entity_id NULL with resolution_method 'unresolved'.

    CI semantics pinned to MappingData._build_ci_indexes
    (gene_id_utils.py:237-254): a lowered key that IS an exact
    surface of the same tier is skipped (the exact pass owns it).
    Documented deviations from un-mirrorable reference behavior:
    CI collisions across distinct entities are unresolvable here
    (the reference keeps an arbitrary dict-insertion-order winner),
    and duplicate targets in a tier-2 list collapse (the reference
    counts len(['E1','E1'])==2 as ambiguous).

    Scale: per-row expression expansion + five BROADCAST joins —
    the cell stream is never shuffled; one final min_by aggregation
    keyed by the input row.
    """
    from multiomics_biocypher_kg_spark.functions.candidates import (
        heuristic_variants,
    )

    keys = [c for c in cells.columns]
    reserved = {
        "entity_id", "resolution_method", "token", "token_id_type",
        "cand_rank", "var_rank", "prio", "pos", "cand", "k", "e", "b",
    }
    clash = reserved & set(keys)
    if clash:
        raise ValueError(f"resolve_rows: cells columns collide with internals: {sorted(clash)}")
    base = expand_candidates(
        cells, value_col, id_type_col,
        include_heuristics=False, entry_name_strip=False,
    )
    variants = base.select(
        *keys,
        "cand_rank",
        F.posexplode(heuristic_variants(F.col("token"))).alias("var_rank", "token"),
    )

    def lut(tier: int, lowered: bool):
        lk = _lookup(vocab, tier, lowered).where(F.col("n") == 1).select("k", "e")
        if lowered:
            # _build_ci_indexes: the CI index only holds lowered keys
            # that are NOT exact surfaces of the same tier
            exact = _lookup(vocab, tier, lowered=False).select(
                F.col("k").alias("_xk")
            )
            lk = lk.join(exact, lk.k == exact._xk, "left_anti")
        return lk

    t1 = lut(1, False)
    t1ci = lut(1, True)
    t2 = lut(2, False)
    t2ci = lut(2, True)

    def hits(cand_df, lookup, key_expr, prio: int, var_col=None):
        j = cand_df.join(
            F.broadcast(lookup), key_expr == F.col("k"), "inner"
        )
        return j.select(
            *keys,
            F.lit(prio).alias("prio"),
            F.col("cand_rank"),
            (F.col(var_col) if var_col else F.lit(0)).alias("var_rank"),
            F.col("e").alias("entity_id"),
        )

    all_hits = (
        hits(base, t1, F.col("token"), 1)
        .unionByName(hits(base, t1ci, F.lower("token"), 2))
        .unionByName(hits(variants, t1, F.col("token"), 3, var_col="var_rank"))
        .unionByName(hits(base, t2, F.col("token"), 4))
        .unionByName(hits(base, t2ci, F.lower("token"), 5))
    )
    best = all_hits.groupBy(*keys).agg(
        F.min_by(
            F.struct(F.col("entity_id"), F.col("prio")),
            F.struct("prio", "cand_rank", "var_rank"),
        ).alias("b")
    )
    method = (
        F.when(F.col("b.prio") == 1, F.lit("tier1_exact"))
        .when(F.col("b.prio") == 2, F.lit("tier1_ci"))
        .when(F.col("b.prio") == 3, F.lit("heuristic"))
        .when(F.col("b.prio") == 4, F.lit("tier2_singleton"))
        .otherwise(F.lit("tier2_ci"))
    )
    resolved = best.select(
        *keys, F.col("b.entity_id").alias("entity_id"), method.alias("resolution_method")
    )
    # null-safe re-association: a NULL in any preserved column must
    # still match its own resolution row (plain join equality drops it)
    c, r = cells.alias("c"), resolved.alias("r")
    cond = None
    for k in keys:
        eq = F.col(f"c.{k}").eqNullSafe(F.col(f"r.{k}"))
        cond = eq if cond is None else (cond & eq)
    return c.join(r, cond, "left").select(
        *[F.col(f"c.{k}").alias(k) for k in keys],
        F.col("r.entity_id").alias("entity_id"),
        F.coalesce(F.col("r.resolution_method"), F.lit("unresolved")).alias(
            "resolution_method"
        ),
    )


def resolution_histogram(links: DataFrame) -> DataFrame:
    """A17 diagnostics: per-method mention counts + resolved share
    (resolve_paper_ids.py:517-549,662-706)."""
    return (
        links.groupBy("resolution_method")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .withColumn(
            "resolved",
            F.when(
                F.col("resolution_method").isin(
                    "tier1_exact", "case_insensitive", "heuristic", "tier2_singleton"
                ),
                F.lit("true"),
            ).otherwise(F.lit("false")),
        )
    )
