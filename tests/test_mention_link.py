"""Gazetteer detection + tiered resolution cascade (J3/J4/J5 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.operators.extract import extract
from multiomics_biocypher_kg_spark.operators.link import link
from multiomics_biocypher_kg_spark.operators.mention import (
    mentions_phrases,
    mentions_tokens,
)
from multiomics_biocypher_kg_spark.sources.pages import pages_from_documents
from multiomics_biocypher_kg_spark.sources.vocab import VOCAB_ROWS, VOCAB_SCHEMA, vocab_df
from tests.conftest import SF_TINY


def _links_for(spark, texts: list[str], extra_vocab=None):
    docs = spark.createDataFrame(
        [(f"u{i}", t, "en") for i, t in enumerate(texts)],
        "url string, text string, lang string",
    )
    vocab = vocab_df(spark, extra_rows=extra_vocab)
    return link(mentions_tokens(docs, vocab), vocab)


def test_vocab_df_rows_and_schema(spark):
    """The JVM-local gazetteer holds exactly the literal rows (plus
    any extra rows, in order) under ``VOCAB_SCHEMA``, non-nullable
    fields included."""
    extra = [("Zeta", "gene_name", 2, "ncbigene:Z1", "gene")]
    for extra_rows, want in ((None, VOCAB_ROWS), (extra, VOCAB_ROWS + extra)):
        df = vocab_df(spark, extra_rows=extra_rows)
        # select("*") asks the JVM plan for the schema, not the
        # Python-side copy the frame was built with
        assert df.schema == df.select("*").schema == VOCAB_SCHEMA
        assert [tuple(r) for r in df.collect()] == want


def test_cascade_every_method(spark):
    rows = _links_for(
        spark,
        ["join the big fast table PMM0001* AAV95689.1 dnaA zzz"],
    ).collect()
    by_token = {r.token: r for r in rows}
    # 'zzz' not in vocab at all -> not even a mention
    assert "zzz" not in by_token
    assert by_token["table"].resolution_method == "tier1_exact"
    assert by_token["table"].entity_id == "kw:table"
    assert by_token["join"].resolution_method == "case_insensitive"
    assert by_token["join"].entity_id == "kw:join"
    assert by_token["the"].resolution_method == "conflict"
    assert by_token["the"].entity_id is None
    assert by_token["big"].resolution_method == "tier2_singleton"
    assert by_token["big"].entity_id == "kw:big"
    assert by_token["fast"].resolution_method == "ambiguous"
    assert by_token["fast"].entity_id is None
    assert by_token["PMM0001*"].resolution_method == "heuristic"
    assert by_token["PMM0001*"].entity_id == "ncbigene:PMM0001"
    assert by_token["AAV95689.1"].resolution_method == "heuristic"


def test_mention_detection_counts_positions(spark):
    rows = _links_for(spark, ["hash hash scan"]).collect()
    hashes = [r for r in rows if r.token == "hash"]
    assert len(hashes) == 2 and {r.pos for r in hashes} == {0, 1}


def test_phrase_matcher_word_boundaries(spark):
    docs = spark.createDataFrame(
        [
            ("u0", "a hash join beats a sort merge here"),
            ("u1", "rehash joints do not match hash joins"),
        ],
        "url string, text string",
    )
    hits = mentions_phrases(docs, vocab_df(spark)).collect()
    got = {(r.url, r.surface) for r in hits}
    assert ("u0", "hash join") in got
    assert ("u0", "sort merge") in got
    # 'rehash joints' must not match; 'hash joins' fails right boundary
    assert not any(u == "u1" for (u, _) in got)
    h = [r for r in hits if r.url == "u0" and r.surface == "hash join"][0]
    assert h.start == 2 and h.end == 11 and h.entity_id == "kw:hash_join"


def test_end_to_end_on_corpus(spark):
    pages = pages_from_documents(spark, SF_TINY)
    vocab = vocab_df(spark)
    docs = extract(pages)
    links = link(mentions_tokens(docs, vocab), vocab)
    hist = {
        r.resolution_method: r.n
        for r in links.groupBy("resolution_method").agg(F.count("*").alias("n")).collect()
    }
    # driver corpus exercises these cascade outcomes
    for m in ("tier1_exact", "case_insensitive", "conflict", "tier2_singleton", "ambiguous"):
        assert hist.get(m, 0) > 0, (m, hist)
    # every token that is a mention got classified
    assert links.where(F.col("resolution_method").isNull()).count() == 0


def test_aho_corasick_built_once_per_broadcast():
    """The automaton is memoized per broadcast id (built once per
    executor worker, NOT once per Arrow batch): repeated calls with
    the same broadcast reuse the cached trie; a new broadcast evicts
    the old entry and builds exactly once."""
    from multiomics_biocypher_kg_spark.operators import mention as m

    class FakeBroadcast:
        def __init__(self, bid, value):
            self._path = f"/tmp/bcast-{bid}"
            self.value = value

    m._AC_CACHE.clear()
    start = m._AC_BUILDS
    b1 = FakeBroadcast(101, {"hash join": "kw:hash_join"})
    ac1 = m._ac_for_broadcast(b1)
    for _ in range(5):  # five "batches" of the same task
        assert m._ac_for_broadcast(b1) is ac1
    assert m._AC_BUILDS == start + 1

    b2 = FakeBroadcast(102, {"sort merge": "kw:sort_merge"})
    ac2 = m._ac_for_broadcast(b2)
    assert ac2 is not ac1
    assert m._AC_BUILDS == start + 2
    assert list(m._AC_CACHE) == ["/tmp/bcast-102"]  # stale broadcast evicted
    # matching still works through the cached automaton
    assert [h[2] for h in ac2.find("a sort merge b")] == ["sort merge"]
