"""Streaming KG ingestion == batch pipeline, and re-delivery
converges (exactly-once in content terms via MERGE on edge_id)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.operators.extract import extract
from multiomics_biocypher_kg_spark.operators.link import link
from multiomics_biocypher_kg_spark.operators.materialize import (
    triples_from_links,
    with_edge_id,
)
from multiomics_biocypher_kg_spark.operators.mention import mentions_tokens
from multiomics_biocypher_kg_spark.sources.pages import pages_from_documents
from multiomics_biocypher_kg_spark.sources.vocab import vocab_df
from multiomics_biocypher_kg_spark.streaming.ingest import run_streaming_triples
from tests.conftest import SF_TINY


def _triples_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


def test_streaming_ingest_matches_batch_and_is_idempotent(spark, tmp_path):
    # split the corpus into two "crawl drops" so multiple micro-batches run
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    for i, pred in enumerate([F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1]):
        stage = str(tmp_path / f"stage{i}")
        docs.where(pred).coalesce(1).write.parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(stage, part), os.path.join(src, f"drop{i}.parquet"))

    target = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    held = run_streaming_triples(spark, src, target, ckpt)
    out = _triples_set(held)

    batch = with_edge_id(
        triples_from_links(
            link(
                mentions_tokens(extract(pages_from_documents(spark, SF_TINY)), vocab_df(spark)),
                vocab_df(spark),
            ),
            subj_col="url",
        )
    )
    batch_set = _triples_set(batch)
    assert out == batch_set

    # re-delivery: wipe the checkpoint so the SAME files replay as new
    # micro-batches -> MERGE on deterministic edge ids converges to the
    # identical table (content-level exactly-once)
    shutil.rmtree(ckpt)
    out2 = _triples_set(
        run_streaming_triples(spark, src, target, str(tmp_path / "ckpt2"))
    )
    assert out2 == batch_set
    assert os.path.isdir(target)
    # the replay appended no row and rewrote no file: a DataFrame read
    # from the target before it still reads the same triples
    assert _triples_set(held) == batch_set
    assert spark.read.parquet(target).count() == len(batch_set)
