"""Candidate-ID generation for entity resolution (J4/J5).

Re-expresses the reference's candidate generators
(/root/reference/multiomics_kg/utils/gene_id_utils.py:327-456,459-475)
as NATIVE column expressions — regexp_extract_all / split / transform,
zero Python in the plan:

- ``expand_list``: a potentially list-valued cell -> ordered distinct
  candidate strings (full raw value first, then comma/semicolon
  splits, then word-like tokens from parenthesised composites).
- ``heuristic_variants``: footnote-stripped + '.1'-versioned extra
  forms of one token (_heuristic_candidates).
- ``ncbi_defline_tokens`` / ``uniprot_defline_tokens`` /
  ``uniprot_annotation_tokens``: typed (token, id_type) extraction
  from NCBI BLAST deflines (gi|...|ref|ACC|), UniProt FASTA deflines
  (sp|ACC|ENTRY_ORG), and UniProt annotation strings (ENTRY_ORG ...
  GN=name).

Scale: all of these are per-row expressions inside whole-stage
codegen — candidate expansion adds zero shuffles; the downstream
link cascade stays all-broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# gene_id_utils.py:382-391 — the classic gi|<gi>|<source>|<accession>| form
NCBI_DEFLINE_RE = r"gi\|\d+\|(?:ref|gb|emb|dbj|sp|tpg|tpe|tpd|prf|pir|pdb)\|(\S+?)\|"
# gene_id_utils.py:417-423 — (sp|tr)|<accession>|<entry_name>
UNIPROT_DEFLINE_RE = r"\b(?:sp|tr)\|([A-Z0-9]+)\|(\S+)"
# gene_id_utils.py:361-367 — leading ENTRY_ORG token + GN= capture
UNIPROT_ANNOT_ENTRY_RE = r"^([A-Z0-9]+_[A-Z0-9]+)\b"
UNIPROT_ANNOT_GN_RE = r"\bGN=(\S+)"
# word-like tokens inside parenthesised/spaced composites (expand_list)
WORD_TOKEN_RE = r"[\w.*:_-]+"


def _token_struct(token, id_type: str):
    return F.struct(token.alias("token"), F.lit(id_type).alias("id_type"))


def expand_list(c: Column) -> Column:
    """Ordered distinct candidate strings for a list-valued cell
    (gene_id_utils.py:327-357). Full raw value first (the separator
    may be part of the ID), then [,;] splits, then word-like tokens
    when the cell contains '(' or ' '. Empty/'nan' cells -> [].
    """
    raw = F.trim(c)
    splits = F.when(
        raw.rlike("[,;]"),
        F.filter(
            F.transform(F.split(raw, "[,;]"), lambda p: F.trim(p)),
            lambda p: p != "",
        ),
    ).otherwise(F.array().cast("array<string>"))
    words = F.when(
        raw.contains("(") | raw.contains(" "),
        F.regexp_extract_all(raw, F.lit(WORD_TOKEN_RE), 0),
    ).otherwise(F.array().cast("array<string>"))
    return F.when(
        c.isNull() | (raw == "") | (F.lower(raw) == "nan"),
        F.array().cast("array<string>"),
    ).otherwise(F.array_distinct(F.concat(F.array(raw), splits, words)))


def heuristic_variants(c: Column) -> Column:
    """Extra normalized forms of one raw token, in reference order
    (_heuristic_candidates, gene_id_utils.py:459-475):
    footnote-stripped ('PMM0001*' -> 'PMM0001'), then '.1'-versioned
    for unversioned protein accessions ('AAV95689' -> 'AAV95689.1').
    """
    stripped = F.trim(F.regexp_replace(c, r"[*+]+$", ""))
    strip_arr = F.when(
        (stripped != c) & (stripped != ""), F.array(stripped)
    ).otherwise(F.array().cast("array<string>"))
    version_arr = F.when(
        (~c.contains(".")) & c.rlike(r"^[A-Z]{3}[0-9]{5,}$"),
        F.array(F.concat(c, F.lit(".1"))),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(strip_arr, version_arr)


def ncbi_defline_tokens(c: Column) -> Column:
    """NCBI BLAST defline -> [(accession, 'protein_id_refseq')...]
    (extract_ncbi_defline_tokens, gene_id_utils.py:394-413). The gi
    number is intentionally NOT emitted. Multiple deflines per cell
    all extract."""
    accs = F.regexp_extract_all(c, F.lit(NCBI_DEFLINE_RE), 1)
    return F.transform(accs, lambda t: _token_struct(t, "protein_id_refseq"))


def uniprot_defline_tokens(c: Column) -> Column:
    """UniProt FASTA defline -> accession (uniprot_accession) + entry
    name (uniprot_entry_name) per match
    (extract_uniprot_defline_tokens, gene_id_utils.py:426-441)."""
    accs = F.regexp_extract_all(c, F.lit(UNIPROT_DEFLINE_RE), 1)
    names = F.regexp_extract_all(c, F.lit(UNIPROT_DEFLINE_RE), 2)
    pairs = F.zip_with(
        accs,
        names,
        lambda a, n: F.array(
            _token_struct(a, "uniprot_accession"),
            _token_struct(n, "uniprot_entry_name"),
        ),
    )
    return F.flatten(pairs)


def uniprot_annotation_tokens(c: Column) -> Column:
    """UniProt annotation string -> leading ENTRY_ORG as
    uniprot_entry_name + GN= capture as gene_name
    (extract_uniprot_annotation_tokens, gene_id_utils.py:444-456)."""
    s = F.trim(c)
    entry = F.regexp_extract(s, UNIPROT_ANNOT_ENTRY_RE, 1)
    gn = F.regexp_extract(s, UNIPROT_ANNOT_GN_RE, 1)
    entry_arr = F.when(
        entry != "", F.array(_token_struct(entry, "uniprot_entry_name"))
    ).otherwise(F.array().cast("array<struct<token:string,id_type:string>>"))
    gn_arr = F.when(gn != "", F.array(_token_struct(gn, "gene_name"))).otherwise(
        F.array().cast("array<struct<token:string,id_type:string>>")
    )
    return F.when(
        c.isNull() | (s == ""),
        F.array().cast("array<struct<token:string,id_type:string>>"),
    ).otherwise(F.concat(entry_arr, gn_arr))


def uniprot_entry_candidates(c: Column) -> Column:
    """F12 (gene_id_graph.py:70-86, normalize_id): uniprot_entry_name
    candidates — raw form first, then the _ORGANISM-suffix-stripped
    form ('DNAA_PROM0' -> ['DNAA_PROM0', 'DNAA']). Empty/'nan' -> [].
    """
    raw = F.trim(c)
    stripped = F.regexp_extract(raw, r"^(.+)_[^_]*$", 1)
    base = F.when(
        (stripped != "") & (stripped != raw), F.array(raw, stripped)
    ).otherwise(F.array(raw))
    empty = F.array().cast("array<struct<token:string,id_type:string>>")
    return F.when(
        c.isNull() | (raw == "") | (F.lower(raw) == "nan"), empty
    ).otherwise(
        F.transform(base, lambda t: _token_struct(t, "uniprot_entry_name"))
    )


def other_candidates(c: Column, include_heuristics: bool = True) -> Column:
    """'other' id_type path: expand_list + (optionally) per-candidate
    heuristic variants (resolve_row pass 1 + pass 2), ordered
    distinct, typed 'other'. Pass ``include_heuristics=False`` when
    the caller runs the reference's pass structure itself and must
    keep pass-1 candidates separate from pass-2 variants."""
    base = expand_list(c)
    if include_heuristics:
        base = F.array_distinct(
            F.concat(base, F.flatten(F.transform(base, heuristic_variants)))
        )
    return F.transform(base, lambda t: _token_struct(t, "other"))


def candidate_tokens_col(
    value: Column,
    id_type: Column,
    include_heuristics: bool = True,
    entry_name_strip: bool = True,
) -> Column:
    """Column-level dispatch on a per-row id_type column — the whole
    dispatch stays one CASE expression in codegen.

    ``entry_name_strip`` routes id_type='uniprot_entry_name' through
    the _ORGANISM-suffix-strip candidates (normalize_id,
    gene_id_graph.py:70-86). resolve_row's _candidate_values has NO
    such case (that normalizer belongs to the GeneIdGraph resolver),
    so resolve_rows passes False to stay pass-exact."""
    chain = (
        F.when(id_type == "ncbi_protein_defline", ncbi_defline_tokens(value))
        .when(id_type == "uniprot_defline", uniprot_defline_tokens(value))
        .when(id_type == "uniprot_annotation_string", uniprot_annotation_tokens(value))
    )
    if entry_name_strip:
        chain = chain.when(
            id_type == "uniprot_entry_name", uniprot_entry_candidates(value)
        )
    return chain.otherwise(other_candidates(value, include_heuristics))
