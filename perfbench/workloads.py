"""The benchmark's workloads: set-up, one op, its reset and its check.

Ops call the program through module attributes (``pipeline.run_staged``,
``ingest.run_streaming_triples``) so the traced run's patches take
effect; checks call the functions imported below, bound before any
patching, so checking never adds spans.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import corpus
from multiomics_biocypher_kg_spark.operators.enrich import (
    entity_rollups,
    rank_percentile_bucket,
)
from multiomics_biocypher_kg_spark.operators.extract import extract
from multiomics_biocypher_kg_spark.operators.link import link
from multiomics_biocypher_kg_spark.operators.materialize import (
    triples_from_links,
    with_edge_id,
)
from multiomics_biocypher_kg_spark.operators.mention import mentions_tokens
from multiomics_biocypher_kg_spark.plans import lineage, pipeline
from multiomics_biocypher_kg_spark.plans.lineage import content_checksum
from multiomics_biocypher_kg_spark.sources.pages import (
    pages_from_documents,
    pages_from_documents_df,
)
from multiomics_biocypher_kg_spark.sources.vocab import vocab_df
from multiomics_biocypher_kg_spark.streaming import ingest

SPO = ["subj", "pred", "obj"]
# run_staged's stage names -> the keys of the tables it returns
STAGE_OUTPUTS = {
    "extract": "docs", "link": "links", "canonicalize": "mapping",
    "materialize": "triples", "enrich": "entity_nodes",
}


def spo_set(files: list[str]) -> set[tuple[str, str, str]]:
    """The distinct (subj, pred, obj) rows of parquet files, read with
    pyarrow so that checking starts no Spark job."""
    t = pq.read_table([f.removeprefix("file:") for f in files], columns=SPO)
    return set(zip(*(t.column(c).to_pylist() for c in SPO)))


def lazy_chain(spark, pages: DataFrame, with_enrich: bool) -> list[tuple[str, DataFrame]]:
    """The lazy operators as cumulative steps, wired as build_graph
    wires them: sources -> extract -> mention -> link [-> enrich]."""
    vocab = vocab_df(spark)
    docs = extract(pages)
    mentions = mentions_tokens(docs, vocab)
    links = link(mentions, vocab)
    steps = [("sources", pages), ("extract", docs), ("mention", mentions), ("link", links)]
    if with_enrich:
        ranked = rank_percentile_bucket(
            entity_rollups(links).withColumn("vocab_group", F.split("entity_id", ":")[0]),
            ["vocab_group"], "mention_count", "entity_id",
        )
        steps.append(("enrich", ranked))
    return steps


class Workload:
    name = ""
    n_docs = 0
    warmup = 0  # untimed ops in set-up
    op_s = 1.0  # nominal op time: the window is ceil(seconds / op_s) ops

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.docs_dir = os.path.join(work, "corpus")
        self.work_rows = 0  # triples produced, merged or verified per op

    def setup(self) -> None:
        raise NotImplementedError

    def after_warmup(self) -> None:
        """Set-up work that runs faster once the JVM is warm (the check's
        expected result, when the warm-up ops themselves go unchecked)."""

    def reset(self) -> None:
        """Restore the op's starting state; never timed."""

    def op(self):
        raise NotImplementedError

    def check(self, out) -> bool:
        raise NotImplementedError

    def staircase_steps(self) -> list[tuple[str, DataFrame]]:
        """Cumulative lazy-operator steps this op runs (none if the op
        runs no lazy operator)."""
        return []


class CrawlBuild(Workload):
    """run_staged into an empty workdir: the full batch build. Set-up
    runs one untimed build and then the un-staged reference build the
    check compares against."""
    name = "crawl_build"
    n_docs = 500
    warmup = 1
    op_s = 20.0

    def setup(self) -> None:
        corpus.write(corpus.documents(self.n_docs, self.seed),
                     os.path.join(self.docs_dir, "documents.parquet"))
        self.workdir = os.path.join(self.work, "staged")

    def after_warmup(self) -> None:
        ref = pipeline.build_graph(self.spark, self.docs_dir)["triples"]
        self.expect = content_checksum(ref)
        self.work_rows = self.expect[1]

    def reset(self) -> None:
        shutil.rmtree(self.workdir, ignore_errors=True)

    def op(self):
        return pipeline.run_staged(self.spark, self.docs_dir, self.workdir)

    def check(self, out) -> bool:
        return content_checksum(out["triples"]) == self.expect

    def staircase_steps(self):
        return lazy_chain(self.spark, pages_from_documents(self.spark, self.docs_dir), True)


class IncrementalIngest(Workload):
    """availableNow ingestion of a 5% crawl drop into a triple table
    built from the other 95%; table and checkpoint restored per op."""
    name = "incremental_ingest"
    n_docs = 2000
    warmup = 1
    op_s = 2.5
    delta_frac = 0.05

    def setup(self) -> None:
        w = self.work
        self.incoming = os.path.join(w, "incoming")
        self.target = os.path.join(w, "triples")
        self.ckpt = os.path.join(w, "checkpoint")
        self.snap = os.path.join(w, "snapshot")
        docs = corpus.documents(self.n_docs, self.seed)
        base, delta = corpus.split_delta(docs, self.delta_frac, self.seed)
        corpus.write(base, os.path.join(self.incoming, "base.parquet"))
        ingest.run_streaming_triples(self.spark, self.incoming, self.target, self.ckpt)
        shutil.copytree(self.target, os.path.join(self.snap, "triples"))
        shutil.copytree(self.ckpt, os.path.join(self.snap, "checkpoint"))
        self.delta_path = corpus.write(delta, os.path.join(w, "delta", "documents.parquet"))
        shutil.copy(self.delta_path, os.path.join(self.incoming, "delta.parquet"))

    def after_warmup(self) -> None:
        base = spo_set(self.spark.read.parquet(os.path.join(self.snap, "triples")).inputFiles())
        drop = set(map(tuple, self._batch_triples(self.delta_path).select(*SPO).collect()))
        self.expect = base | drop
        self.work_rows = len(drop)

    def _batch_triples(self, path: str) -> DataFrame:
        links = lazy_chain(self.spark, self._pages(path), False)[-1][1]
        return with_edge_id(triples_from_links(links, subj_col="url"))

    def _pages(self, path: str) -> DataFrame:
        return pages_from_documents_df(self.spark.read.parquet(path))

    def reset(self) -> None:
        for d, name in ((self.target, "triples"), (self.ckpt, "checkpoint")):
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(os.path.join(self.snap, name), d)

    def op(self):
        return ingest.run_streaming_triples(self.spark, self.incoming, self.target, self.ckpt)

    def check(self, out) -> bool:
        return spo_set(out.inputFiles()) == self.expect

    def staircase_steps(self):
        return lazy_chain(self.spark, self._pages(self.delta_path), False)


class ResumeVerify(Workload):
    """run_staged over a workdir completed in set-up: every stage
    verifies its checksum and skips."""
    name = "resume_verify"
    n_docs = 1000
    warmup = 2
    op_s = 5.0

    def setup(self) -> None:
        corpus.write(corpus.documents(self.n_docs, self.seed),
                     os.path.join(self.docs_dir, "documents.parquet"))
        self.workdir = os.path.join(self.work, "staged")
        pipeline.run_staged(self.spark, self.docs_dir, self.workdir)
        self.runner = lineage.StagedRunner(self.spark, self.workdir)
        self.work_rows = self.runner.lineage("materialize")["n_rows"]
        self.merges = 0

    def op(self):
        real = lineage.merge_into

        def counted(*a, **kw):
            self.merges += 1
            return real(*a, **kw)

        self.merges = 0
        lineage.merge_into = counted
        try:
            return pipeline.run_staged(self.spark, self.docs_dir, self.workdir)
        finally:
            lineage.merge_into = real

    def check(self, out) -> bool:
        if self.merges or sorted(out) != sorted(STAGE_OUTPUTS.values()):
            return False
        for stage, key in STAGE_OUTPUTS.items():
            rec = self.runner.lineage(stage)
            if content_checksum(out[key]) != (rec["checksum"], rec["n_rows"]):
                return False
        return True


WORKLOADS = {w.name: w for w in (CrawlBuild, IncrementalIngest, ResumeVerify)}
