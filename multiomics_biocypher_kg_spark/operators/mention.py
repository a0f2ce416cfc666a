"""Stage 2 — mention: gazetteer / dictionary detection.

Two matchers, mirroring the reference's candidate generation
(expand_list / defline token extraction, J4/J5 in SURVEY.md;
/root/reference/multiomics_kg/utils/gene_id_utils.py:327-456):

1. ``mentions_tokens`` — the hot path. Pure native Column
   expressions: split -> posexplode -> broadcast semi-join against
   the (tiny) distinct lowercase surface set. Whole-stage codegen,
   no Python: the surface set is aggregated from the gazetteer's
   JVM-local relation (``sources.vocab.vocab_df``), so its broadcast
   starts no Python worker either. This is what runs over 10^12
   documents.

2. ``mentions_phrases`` — multi-token surfaces (e.g. "hash join")
   via an Aho-Corasick automaton built driver-side from the vocab
   and shipped as a broadcast variable into a vectorized pandas UDF
   (series of text -> series of array<struct>). The trie is built
   once per executor, matching is linear in text length — the
   reference's per-row dict probing, vectorized.

Output grain: one row per (url, position, token) occurrence.
Downstream linking decides whether/what each mention resolves to.
"""

from __future__ import annotations

from collections import deque

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PHRASE_RESULT_TYPE = (
    "array<struct<start:int,end:int,surface:string,entity_id:string>>"
)

# Per-executor automaton cache keyed by the broadcast's spill path
# (unique per broadcast, present on BOTH driver and executor sides —
# pyspark.broadcast.Broadcast has no .id on workers): the trie is
# O(total vocab chars) to build, so with a multi-million-surface
# gazetteer rebuilding it per ~1024-row Arrow batch would dominate
# matching cost. One build per (executor worker, broadcast) instead.
_AC_CACHE: dict[object, "_AhoCorasick"] = {}
# build counter, observable from tests (builds <= tasks, not batches)
_AC_BUILDS = 0


def _ac_for_broadcast(bcast) -> "_AhoCorasick":
    global _AC_BUILDS
    key = getattr(bcast, "_path", None) or id(bcast)
    ac = _AC_CACHE.get(key)
    if ac is None:
        ac = _AhoCorasick(bcast.value)
        _AC_CACHE.clear()  # previous vocab broadcasts are dead weight
        _AC_CACHE[key] = ac
        _AC_BUILDS += 1
    return ac


def mentions_tokens(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """docs(url, text, ...) x vocab -> mentions(url, pos, token).

    A token is a mention if its lowercase form — or its
    heuristic-normalized lowercase form ('PMM0001*' -> 'pmm0001',
    candidate expansion J4 — equals any single-token vocab surface
    lowercased. Case/footnote handling is the linker's job;
    detection is deliberately permissive, like the reference's
    candidate generation.

    Physical shape: two BROADCAST left joins + filter — the big
    token stream is never shuffled and never deduplicated here.
    """
    from multiomics_biocypher_kg_spark.operators.link import heuristic_normalize

    surfaces = (
        vocab.where(~F.col("surface").contains(" "))
        .select(F.lower("surface").alias("surface_lc"))
        .distinct()
    )
    keys = [c for c in ("doc_id", "url", "lang") if c in docs.columns]
    # lowercase ONCE and normalize the lowered form: lower() commutes
    # with the suffix-stripping normalizer (its patterns are
    # case-free), so lower(normalize(t)) == normalize(lower(t)) and
    # the stream pays one lower() instead of two per token
    toks = docs.select(
        *keys,
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token"),
    ).withColumn("_lt", F.lower(F.col("token")))
    s1 = surfaces.select(F.col("surface_lc").alias("_s1"))
    s2 = surfaces.select(F.col("surface_lc").alias("_s2"))
    return (
        toks.join(F.broadcast(s1), F.col("_lt") == F.col("_s1"), "left")
        .join(
            F.broadcast(s2),
            heuristic_normalize(F.col("_lt")) == F.col("_s2"),
            "left",
        )
        .where(F.col("_s1").isNotNull() | F.col("_s2").isNotNull())
        .select(*keys, "pos", "token")
    )


class _AhoCorasick:
    """Minimal Aho-Corasick automaton (pure Python, built driver-side)."""

    def __init__(self, terms: dict[str, str]):
        # goto / fail / output tables over a dict-of-dicts trie
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[tuple[str, str]]] = [[]]
        self.fail: list[int] = [0]
        for surface, eid in sorted(terms.items()):
            node = 0
            for ch in surface:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[node][ch] = nxt
                node = nxt
            self.out[node].append((surface, eid))
        q: deque[int] = deque()
        for child in self.goto[0].values():
            q.append(child)
        while q:
            node = q.popleft()
            for ch, child in self.goto[node].items():
                q.append(child)
                f = self.fail[node]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[child] = self.goto[f].get(ch, 0)
                if self.fail[child] == child:
                    self.fail[child] = 0
                self.out[child].extend(self.out[self.fail[child]])

    def find(self, text: str) -> list[tuple[int, int, str, str]]:
        node = 0
        hits = []
        for i, ch in enumerate(text):
            while node and ch not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(ch, 0)
            for surface, eid in self.out[node]:
                hits.append((i - len(surface) + 1, i + 1, surface, eid))
        return hits


def mentions_phrases(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Multi-token phrase mentions with char spans.

    -> (url, start, end, surface, entity_id), word-boundary checked.
    """
    spark = docs.sparkSession
    phrase_rows = (
        vocab.where(F.col("surface").contains(" "))
        .select("surface", "entity_id")
        .collect()
    )
    terms = {r.surface: r.entity_id for r in phrase_rows}
    bcast = spark.sparkContext.broadcast(terms)

    @F.pandas_udf(_PHRASE_RESULT_TYPE)
    def match(texts: pd.Series) -> pd.Series:
        ac = _ac_for_broadcast(bcast)

        def one(text: str | None):
            if text is None:
                return []
            res = []
            for s, e, surface, eid in ac.find(text):
                left_ok = s == 0 or not text[s - 1].isalnum()
                right_ok = e == len(text) or not text[e].isalnum()
                if left_ok and right_ok:
                    res.append((s, e, surface, eid))
            return res

        return texts.map(one)

    return (
        docs.select("url", match(F.col("text")).alias("hits"))
        .select("url", F.explode("hits").alias("h"))
        .select("url", "h.start", "h.end", "h.surface", "h.entity_id")
    )
