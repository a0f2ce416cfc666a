"""End-to-end KG-construction DAG, defined once as ``STAGES``.

extract -> mention -> link -> canonicalize -> materialize -> enrich
(SURVEY.md §7.1). ``STAGES`` lists the stage tables in dependency
order; each ``Stage`` names its upstream stages, a pure DataFrame
build over the build's ``Sources`` and the upstream frames, and the
unique key of its table (mention is a step inside the link stage, not
a table). Every entry point of the DAG walks this one list, and the
walk runs each stage on a driver thread as soon as its upstream
stages are done, so independent stages run concurrently: canonicalize
(no upstream) beside extract -> link, enrich (link only) beside
materialize.

- ``run_staged`` persists each stage as a parquet stage table with
  lineage (the Iceberg-layout stand-in), written once with no dedup:
  every build emits unique keys. Each build reads the tables
  its upstream stages just wrote or resumed, so no plan runs twice,
  and a resumed stage builds nothing (a resumed canonicalize runs no
  connected-components loop). Two stage writes in flight at once keep
  the cluster busy where one latency-bound stage (the CC loop's small
  rounds) would leave it idle.
- ``compose`` chains the builds lazily: ``build_graph`` returns the
  whole DAG, ``registry._pipeline`` and the streaming ingest take the
  prefix through ``link``. Callers decide what to materialize.

Same-as evidence: in the real corpus this comes from shared-ID /
co-mention evidence; for the deterministic driver corpus
``sameas_from_documents`` synthesizes a known-component-structure
graph (stars of 5 bridged in pairs -> components of 10), matching
FIXTURES.md A3.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from multiomics_biocypher_kg_spark.operators.canonicalize import canonical_mapping
from multiomics_biocypher_kg_spark.operators.enrich import (
    entity_rollups,
    rank_percentile_bucket,
)
from multiomics_biocypher_kg_spark.operators.extract import extract
from multiomics_biocypher_kg_spark.operators.link import link
from multiomics_biocypher_kg_spark.operators.materialize import (
    sameas_triples,
    triples_from_links,
    with_edge_id,
)
from multiomics_biocypher_kg_spark.operators.mention import mentions_tokens
from multiomics_biocypher_kg_spark.sources.pages import pages_from_documents
from multiomics_biocypher_kg_spark.sources.vocab import vocab_df


def sameas_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic same-as evidence keyed off doc_id (FIXTURES A3):
    star edges d -> d - d%5, plus bridges d -> d+1 when d%10 == 4."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    ent = lambda c: F.format_string("ent:%06d", c)  # noqa: E731
    stars = docs.select(
        ent(F.col("doc_id")).alias("id_a"),
        ent(F.col("doc_id") - F.col("doc_id") % 5).alias("id_b"),
        F.lit("star").alias("source"),
    )
    bridges = docs.where(F.col("doc_id") % 10 == 4).select(
        ent(F.col("doc_id")).alias("id_a"),
        ent(F.col("doc_id") + 1).alias("id_b"),
        F.lit("bridge").alias("source"),
    )
    return stars.union(bridges).where(F.col("id_a") != F.col("id_b"))


class Sources:
    """The build's inputs, each made on first use, so a prefix of the
    DAG or a resumed build touches only what it needs. ``pages``
    overrides the corpus read (the streaming ingest passes its
    micro-batch pages)."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        pages: DataFrame | None = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        if pages is not None:
            self.pages = pages

    @cached_property
    def pages(self) -> DataFrame:
        return pages_from_documents(self.spark, self.sf_dir)

    @cached_property
    def vocab(self) -> DataFrame:
        return vocab_df(self.spark)

    @cached_property
    def sameas(self) -> DataFrame:
        return sameas_from_documents(self.spark, self.sf_dir)


def _link(src: Sources, docs: DataFrame) -> DataFrame:
    return link(mentions_tokens(docs, src.vocab), src.vocab)


def _canonicalize(src: Sources) -> DataFrame:
    return canonical_mapping(src.sameas)


def _materialize(src: Sources, links: DataFrame, mapping: DataFrame) -> DataFrame:
    mention_triples = triples_from_links(links, subj_col="url")
    return with_edge_id(mention_triples.unionByName(sameas_triples(mapping)))


def _enrich(src: Sources, links: DataFrame) -> DataFrame:
    return rank_percentile_bucket(
        entity_rollups(links).withColumn("vocab_group", F.split("entity_id", ":")[0]),
        ["vocab_group"],
        "mention_count",
        "entity_id",
    )


@dataclass(frozen=True)
class Stage:
    name: str  # stage table name under the staged workdir
    output: str  # key of the stage's frame in build_graph / run_staged
    upstream: tuple[str, ...]
    build: Callable[..., DataFrame]  # (sources, *upstream frames) -> frame
    # unique key of the stage table, guaranteed by the build (no dedup
    # on write): extract's url = url_of(doc_id); link's (url, pos);
    # canonicalize and enrich end in a groupBy on it; materialize's
    # edge_id = subj|pred|obj over two distinct triple sets
    keys: tuple[str, ...]


STAGES = (
    Stage("extract", "docs", (), lambda src: extract(src.pages), ("url",)),
    Stage("link", "links", ("extract",), _link, ("url", "pos")),
    Stage("canonicalize", "mapping", (), _canonicalize, ("entity_id",)),
    Stage("materialize", "triples", ("link", "canonicalize"), _materialize, ("edge_id",)),
    Stage("enrich", "entity_nodes", ("link",), _enrich, ("entity_id",)),
)


def _walk(
    src: Sources,
    run: Callable[[Stage, Callable[[], DataFrame]], DataFrame],
    upto: str | None = None,
) -> dict[str, DataFrame]:
    """Run the stages through ``upto`` (all by default), each as soon
    as its upstream frames exist, on a driver thread of its own that
    carries the caller's Spark local properties (job group,
    description) and job tags. ``run(stage, thunk)`` yields the
    stage's frame from its build, fed the upstream frames as ``run``
    returned them. So canonicalize, which has no upstream, runs beside
    extract -> link, and enrich beside materialize.

    A failed stage fails the stages downstream of it, which never
    start; every other stage runs to its end, and the walk then raises
    the first error, with no stage thread left running."""
    names = [s.name for s in STAGES]
    todo = list(STAGES[: names.index(upto) + 1] if upto else STAGES)
    frames: dict[str, DataFrame] = {}
    failed: set[str] = set()
    errors: list[Exception] = []
    running: dict[Future, Stage] = {}
    with ThreadPoolExecutor(max_workers=len(todo)) as pool:
        while todo or running:
            for stage in list(todo):  # in STAGES order, so upstream first
                if failed.intersection(stage.upstream):
                    todo.remove(stage)
                    failed.add(stage.name)
                elif frames.keys() >= set(stage.upstream):
                    todo.remove(stage)
                    ups = [frames[u] for u in stage.upstream]
                    # wrapped per stage: each thread gets its own copy of
                    # the caller's local properties to set its job group on
                    target = inheritable_thread_target(src.spark)(run)
                    thunk = lambda s=stage, u=ups: s.build(src, *u)  # noqa: E731
                    running[pool.submit(target, stage, thunk)] = stage
            done, _ = wait(running, return_when=FIRST_COMPLETED)
            for future in done:
                stage = running.pop(future)
                try:
                    frames[stage.name] = future.result()
                except Exception as e:
                    errors.append(e)
                    failed.add(stage.name)
    if errors:
        raise errors[0]
    return frames


def compose(src: Sources, upto: str | None = None) -> dict[str, DataFrame]:
    """The stages through ``upto`` (all by default) as lazy frames,
    keyed by stage name."""
    return _walk(src, lambda stage, thunk: thunk(), upto)


def build_graph(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The full DAG over the driver corpus as lazy frames, keyed as
    ``run_staged`` keys its stage tables."""
    frames = compose(Sources(spark, sf_dir))
    return {stage.output: frames[stage.name] for stage in STAGES}


def run_staged(spark: SparkSession, sf_dir: str, workdir: str) -> dict[str, DataFrame]:
    """The DAG as idempotent, resumable stage tables (north rule):
    each stage = one parquet stage table + lineage row, built from its
    upstream stage tables; re-running skips completed stages and
    rebuilds any other, so a crashed half-write converges (see
    plans.lineage.StagedRunner). Independent stages run concurrently,
    each on its own driver thread under the caller's job group (see
    ``_walk``); if a stage fails, the stages that do not depend on it
    still finish and are resumed by the next run, and the error is
    raised once no stage thread is running."""
    from multiomics_biocypher_kg_spark.plans.lineage import StagedRunner

    runner = StagedRunner(spark, workdir)
    tables = _walk(
        Sources(spark, sf_dir),
        lambda stage, thunk: runner.run_stage(stage.name, thunk, upstream=stage.upstream),
    )
    return {stage.output: tables[stage.name] for stage in STAGES}
