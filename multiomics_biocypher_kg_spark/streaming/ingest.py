"""Streaming KG ingestion: the crawl keeps arriving.

``readStream`` over a documents directory flows through the SAME
stage builds as the batch pipeline (``plans.pipeline.compose``
through link: pages synth -> extract -> mention -> link are all
stateless column programs, so they compose with a streaming frame
unchanged); the sink is ``foreachBatch`` into the MERGE INTO
emulation keyed by edge_id (``operators.materialize.merge_into``),
which appends only the edge ids the table lacks and rewrites no file
— so a re-delivered or retried micro-batch appends nothing and the
triple table converges exactly-once in content terms (on Iceberg
this is a real MERGE INTO per batch). The batch StagedRunner does
not merge: it writes each stage table whole and resumes it by
checksum (``plans.lineage``).

Scale notes: per-batch work is the batch plan (broadcast link joins,
no shuffle of the mention stream); the merge anti-joins on the
target's edge_id column alone. Distinct-within-batch happens in
foreachBatch (a streaming-global distinct would need unbounded state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def run_streaming_triples(
    spark: SparkSession, docs_dir: str, target_path: str, checkpoint_dir: str
) -> DataFrame:
    """Run the ingestion to completion over what's currently in
    ``docs_dir`` (availableNow): documents -> mention triples upserted
    into ``target_path``; return the materialized triple table."""
    # looked up per call, so a wrapper set on materialize.merge_into
    # (perfbench's tracer) is the merge the sink runs
    from multiomics_biocypher_kg_spark.operators.materialize import (
        merge_into,
        triples_from_links,
        with_edge_id,
    )
    from multiomics_biocypher_kg_spark.plans.pipeline import Sources, compose
    from multiomics_biocypher_kg_spark.sources.pages import pages_from_documents_df

    docs = spark.readStream.schema(DOCS_SCHEMA).parquet(docs_dir)
    src = Sources(spark, pages=pages_from_documents_df(docs))
    links = compose(src, upto="link")["link"]
    # the sink's schema, so the final read runs no inference job
    schema = with_edge_id(triples_from_links(links, subj_col="url")).schema

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        triples = with_edge_id(triples_from_links(batch_df, subj_col="url"))
        merge_into(spark, target_path, triples, keys=["edge_id"])

    (
        links.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.schema(schema).parquet(target_path)
