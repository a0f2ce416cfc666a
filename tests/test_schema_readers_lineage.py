"""Schema compiler, file readers, staged-resume semantics."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from multiomics_biocypher_kg_spark.schema import (
    SchemaRegistry,
    default_registry,
    parse_type,
)
from tests.conftest import SF_TINY


def test_parse_type_grammar():
    assert parse_type("str") == T.StringType()
    assert parse_type("float[]") == T.ArrayType(T.DoubleType())
    assert parse_type('str # "true" | "false"') == T.StringType()
    with pytest.raises(ValueError):
        parse_type("decimal")


def test_registry_and_typed_emission(spark):
    reg = default_registry()
    assert "page" in reg.node_labels() and "mentions" in reg.edge_labels()
    df = spark.createDataFrame(
        [("e1", "kw", 3, 2), ("e1", "kw", 3, 2), (None, "kw", 1, 1)],
        "eid string, voc string, mc long, dc long",
    )
    nodes = reg.emit_nodes(
        df,
        "entity",
        F.col("eid"),
        {"vocab": F.col("voc"), "mention_count": F.col("mc")},
    )
    rows = nodes.collect()
    # null ids dropped, duplicates dropped, props typed + padded
    assert len(rows) == 1
    r = rows[0]
    assert r.label == "entity" and r.props.vocab == "kw"
    assert r.props.mention_count == 3 and r.props.doc_count is None
    with pytest.raises(ValueError):
        reg.emit_nodes(df, "entity", F.col("eid"), {"nope": F.col("voc")})


def test_emit_edges_deterministic_ids(spark):
    reg = default_registry()
    df = spark.createDataFrame([("u1", "e1", 2)], "s string, o string, n long")
    edges = reg.emit_edges(
        df, "mentions", F.col("s"), F.col("o"), {"n_occurrences": F.col("n")}
    ).collect()
    assert edges[0].edge_id == "u1|mentions|e1"


def test_yaml_roundtrip(tmp_path):
    y = """
thing:
  represented_as: node
  properties:
    a: int
    b: str[]
"""
    reg = SchemaRegistry.from_yaml(y)
    s = reg.entities["thing"].props_struct()
    assert s["a"].dataType == T.LongType()
    assert s["b"].dataType == T.ArrayType(T.StringType())


def test_readers_csv_dialect_and_fasta(spark, tmp_path):
    from multiomics_biocypher_kg_spark.sources.readers import (
        csv_with_dialect,
        fasta,
        gff3,
        tsv_hash_header,
    )

    p = tmp_path / "t.csv"
    p.write_text("junk line\nname;fc\ng1;1.5\n#comment\ng2;2.5\n")
    df = csv_with_dialect(
        spark, str(p), sep=";", skiprows=1, header=True, comment="#"
    )
    rows = {r.name: r.fc for r in df.collect()}
    assert rows == {"g1": "1.5", "g2": "2.5"}

    fa = tmp_path / "t.faa"
    fa.write_text(">ACC1 desc one\nMKV\nLLS\n>ACC2\nAAA\n")
    seqs = {r.accession: (r.sequence, r.description) for r in fasta(spark, str(fa)).collect()}
    assert seqs["ACC1"] == ("MKVLLS", "desc one")
    assert seqs["ACC2"][0] == "AAA"

    tsv = tmp_path / "t.tsv"
    tsv.write_text("## emapper\n#query\tko\ng1\tK001\n")
    t = tsv_hash_header(spark, str(tsv)).collect()
    assert t[0].query == "g1" and t[0].ko == "K001"

    g = tmp_path / "t.gff"
    g.write_text("##gff\nchr1\tsrc\tgene\t1\t10\t.\t+\t.\tID=g1;Name=dna%2DA\n")
    gr = gff3(spark, str(g)).collect()[0]
    assert gr.attrs["ID"] == "g1" and gr.attrs["Name"] == "dna-A"


def test_csv_dialect_comment_before_header(spark, tmp_path):
    """A comment line at the header position must not shift a data
    row into the header slot (header = first SURVIVING line)."""
    from multiomics_biocypher_kg_spark.sources.readers import csv_with_dialect

    p = tmp_path / "c.csv"
    p.write_text("meta\n#note\ncolA,colB\n1,2\n")
    df = csv_with_dialect(spark, str(p), skiprows=1, header=True, comment="#")
    rows = df.collect()
    assert df.columns == ["colA", "colB"]
    assert [(r.colA, r.colB) for r in rows] == [("1", "2")]

    empty = tmp_path / "e.csv"
    empty.write_text("only\n")
    import pytest

    with pytest.raises(ValueError, match="no header"):
        csv_with_dialect(spark, str(empty), skiprows=5, header=True)

    # quoted header cell containing the separator: header parse must
    # share the body's quoting rules (csv.reader, not a naive split)
    q = tmp_path / "q.csv"
    q.write_text('junk line\n"col,A",colB\n"v,1",2\n')
    qdf = csv_with_dialect(spark, str(q), skiprows=1, header=True)
    assert qdf.columns == ["col,A", "colB"]
    assert [tuple(r) for r in qdf.collect()] == [("v,1", "2")]


GBK_FIXTURE = """LOCUS       NC_000001            1000 bp    DNA     circular CON 01-JAN-2020
DEFINITION  Test genome.
REFERENCE   1  (bases 1 to 1000)
  REMARK    see https://example.org/genome//notes and http://mirror.example
FEATURES             Location/Qualifiers
     source          1..1000
                     /organism="Test"
     gene            1..300
                     /locus_tag="PMM0001"
     CDS             1..300
                     /locus_tag="PMM0001"
                     /EC_number="2.7.7.7"
                     /EC_number="1.1.1.1"
                     /note="cyanorak ORF Id: CK_00000001"
                     /product="DNA polymerase with a very long name that
                     wraps onto the next line"
     CDS             complement(400..600)
                     /locus_tag="PMM0002"
                     /note="plain annotation"
ORIGIN
        1 aaaaaaaaaa
//
LOCUS       NC_000002             500 bp    DNA     linear   CON 01-JAN-2020
FEATURES             Location/Qualifiers
     CDS             1..100
                     /locus_tag="PMN0001"
                     /EC_number="3.1.1.1"
                     /note="cyanorak ORF Id: CK_X ref cyanorak ORF Id: again"
//
"""


def test_genbank_cds_scan(spark, tmp_path):
    from multiomics_biocypher_kg_spark.sources.readers import (
        genbank_cds,
        genbank_cyanorak_map,
        genbank_ec_by_locus,
    )

    p = tmp_path / "g.gbff"
    p.write_text(GBK_FIXTURE)
    cds = genbank_cds(spark, str(p))
    rows = {r.locus_tags[0]: r for r in cds.collect()}
    assert set(rows) == {"PMM0001", "PMM0002", "PMN0001"}
    assert rows["PMM0001"].record_id == "NC_000001"
    assert list(rows["PMM0001"].ec_numbers) == ["2.7.7.7", "1.1.1.1"]
    assert rows["PMM0001"].cyanorak_id == "CK_00000001"
    assert rows["PMM0002"].cyanorak_id is None  # non-matching note
    assert rows["PMN0001"].record_id == "NC_000002"
    # anchored prefix strip: the phrase appearing again mid-note is kept
    assert rows["PMN0001"].cyanorak_id == "CK_X ref cyanorak ORF Id: again"

    ec = {r.locus_tag: list(r.ec_numbers) for r in genbank_ec_by_locus(cds).collect()}
    assert ec == {"PMM0001": ["2.7.7.7", "1.1.1.1"], "PMN0001": ["3.1.1.1"]}

    cmap = {r.cyanorak_id: r.locus_tag for r in genbank_cyanorak_map(cds).collect()}
    assert cmap == {
        "CK_00000001": "PMM0001",
        "CK_X ref cyanorak ORF Id: again": "PMN0001",
    }


def test_keyed_json_maptype_explode(spark, tmp_path):
    """S8: a keyed JSON document parses as ONE MapType value and
    explodes to rows — never one planner column per key."""
    from multiomics_biocypher_kg_spark.sources.readers import keyed_json

    p = tmp_path / "m.json"
    p.write_text(
        '{"PMM0001": {"name": "dnaA", "ec": "2.7.7.7"},'
        ' "PMM0002": {"name": "dnaN", "ec": "2.7.7.7"}}'
    )
    df = keyed_json(spark, str(p))
    assert df.columns == ["key", "value"]
    rows = {r.key: r.value for r in df.collect()}
    assert rows["PMM0001"]["name"] == "dnaA"
    assert len(rows) == 2
    typed = keyed_json(
        spark, str(p), value_schema="struct<name:string,ec:string>"
    )
    assert {r.value.name for r in typed.collect()} == {"dnaA", "dnaN"}


def test_staged_resume_idempotent(spark, tmp_path):
    from multiomics_biocypher_kg_spark.plans.lineage import StagedRunner

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )

    runner = StagedRunner(spark, str(tmp_path))
    out1 = runner.run_stage("s1", build)
    c1 = runner.lineage("s1")
    assert out1.count() == 10 and calls["n"] == 1
    # resume: completed stage is skipped entirely
    out2 = runner.run_stage("s1", build)
    assert out2.count() == 10 and calls["n"] == 1
    # a forced re-run (stage dir removed) converges to the same
    # checksum (idempotence)
    shutil.rmtree(tmp_path / "s1")
    runner.run_stage("s1", build)
    c2 = runner.lineage("s1")
    assert c1["checksum"] == c2["checksum"] and c1["n_rows"] == c2["n_rows"]


def test_staged_pipeline_end_to_end_resume(spark, tmp_path):
    import shutil

    from multiomics_biocypher_kg_spark.plans.pipeline import run_staged

    out1 = run_staged(spark, SF_TINY, str(tmp_path))
    n1 = out1["triples"].count()
    # simulate a crash: kill one mid-DAG stage, resume
    shutil.rmtree(os.path.join(str(tmp_path), "materialize"))
    out2 = run_staged(spark, SF_TINY, str(tmp_path))
    assert out2["triples"].count() == n1
    with open(os.path.join(str(tmp_path), "materialize", "lineage.json")) as f:
        lin = json.load(f)
    assert lin["n_rows"] == n1 and lin["partitions"]


def test_modsum_has_no_overflowing_intermediate(spark):
    """Terms near the long limit: a plain long sum of them overflows
    (ARITHMETIC_OVERFLOW under ANSI), the checksum reduction does not
    and returns the exact sum mod 2^63, overall and per group."""
    from multiomics_biocypher_kg_spark.plans.lineage import CHECKSUM_MOD, modsum

    big = [2**63 - 1, 2**63 - 1, 2**62, 2**31 - 1, 5]
    terms = spark.createDataFrame(
        [(i % 2, v) for i, v in enumerate(big)], "g int, t long"
    ).repartition(2)
    if spark.conf.get("spark.sql.ansi.enabled") == "true":
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            terms.agg(F.sum("t")).collect()
    got = terms.agg(modsum(F.col("t")).alias("s")).collect()[0].s
    assert got == sum(big) % CHECKSUM_MOD
    per_group = {
        r.g: r.s for r in terms.groupBy("g").agg(modsum(F.col("t")).alias("s")).collect()
    }
    assert per_group == {
        g: sum(v for i, v in enumerate(big) if i % 2 == g) % CHECKSUM_MOD for g in (0, 1)
    }


def test_checksum_value_unchanged_and_partition_rows_sum_to_it(spark):
    """content_checksum keeps the long-sum value wherever that sum does
    not overflow, and the per-partition lineage rows add up to it."""
    from multiomics_biocypher_kg_spark.plans.lineage import (
        CHECKSUM_MOD,
        content_checksum,
        lineage_rows,
    )

    df = spark.range(5000).select(
        (F.col("id") * 7).alias("a"), F.col("id").cast("string").alias("b")
    )
    long_sum = (
        df.select(F.pmod(F.xxhash64("a", "b"), F.lit(2**31)).alias("t"))
        .agg(F.sum("t"))
        .collect()[0][0]
    )
    assert content_checksum(df) == (long_sum % CHECKSUM_MOD, 5000)
    parts = lineage_rows(df.repartition(3), "s").collect()
    assert len(parts) == 3
    assert (
        sum(p.checksum for p in parts) % CHECKSUM_MOD,
        sum(p.n_rows for p in parts),
    ) == content_checksum(df)


def test_staged_tables_match_build_graph(spark, tmp_path):
    """Chaining the stages through their own tables leaves every
    table's content equal to the lazy build_graph frame it stands
    for."""
    from multiomics_biocypher_kg_spark.plans.lineage import content_checksum
    from multiomics_biocypher_kg_spark.plans.pipeline import build_graph, run_staged

    staged = run_staged(spark, SF_TINY, str(tmp_path))
    lazy = build_graph(spark, SF_TINY)
    assert sorted(staged) == ["docs", "entity_nodes", "links", "mapping", "triples"]
    for key, table in staged.items():
        assert content_checksum(table) == content_checksum(lazy[key]), key


def test_rebuilt_upstream_invalidates_downstream_stages(spark, tmp_path, monkeypatch):
    """Rebuilding extract with new content re-runs the stages built on
    it (link, then materialize and enrich through link) and resumes
    canonicalize, which has no upstream stage, without its
    connected-components loop. Every re-run stage is rebuilt from the
    new extract, not merged onto its stale table: the tables equal a
    fresh staged build over the same extract."""
    from multiomics_biocypher_kg_spark.plans import lineage, pipeline

    workdir, fresh = str(tmp_path / "wd"), str(tmp_path / "fresh")
    pipeline.run_staged(spark, SF_TINY, workdir)
    runner = lineage.StagedRunner(spark, workdir)
    before = {s: runner.lineage(s)["checksum"] for s in ("extract", "link")}
    assert runner.lineage("link")["upstream"] == {"extract": before["extract"]}

    # blank the text of every other document: their mentions, and so
    # their link rows, disappear from the rebuilt stages
    blanked_path = str(tmp_path / "blanked")
    spark.read.parquet(os.path.join(workdir, "extract", "data")).withColumn(
        "text", F.when(F.col("doc_id") % 2 == 0, F.lit("")).otherwise(F.col("text"))
    ).write.parquet(blanked_path)
    blanked = lambda: spark.read.parquet(blanked_path)  # noqa: E731
    shutil.rmtree(os.path.join(workdir, "extract"))
    runner.run_stage("extract", blanked)
    assert runner.lineage("extract")["checksum"] != before["extract"]

    def content(table):  # (checksum, n_rows), independent of column order
        return lineage.content_checksum(table.select(*sorted(table.columns)))

    # the reference: a fresh staged build over the same rebuilt extract
    lineage.StagedRunner(spark, fresh).run_stage("extract", blanked)
    expected = {
        key: content(table)
        for key, table in pipeline.run_staged(spark, SF_TINY, fresh).items()
    }

    def no_spark_job(*a, **kw):
        raise AssertionError("upstream mismatch must be decided from lineage.json")

    with monkeypatch.context() as m:
        m.setattr(lineage, "content_checksum", no_spark_job)
        assert not runner.is_complete("link")

    rebuilt = []
    real_write = lineage.write_stage

    def recording_merge(df, path):
        rebuilt.append(os.path.basename(os.path.dirname(path)))
        return real_write(df, path)

    def no_cc(*a, **kw):
        raise AssertionError("a resumed canonicalize must not run connected components")

    with monkeypatch.context() as m:
        m.setattr(lineage, "write_stage", recording_merge)
        m.setattr(pipeline, "canonical_mapping", no_cc)
        tables = pipeline.run_staged(spark, SF_TINY, workdir)
        # materialize and enrich both wait only on link (canonicalize
        # resumes), so they may write in either order
        assert rebuilt[0] == "link"
        assert sorted(rebuilt[1:]) == ["enrich", "materialize"]
        assert runner.lineage("link")["checksum"] != before["link"]
        assert runner.lineage("materialize")["upstream"] == {
            "link": runner.lineage("link")["checksum"],
            "canonicalize": runner.lineage("canonicalize")["checksum"],
        }
        for key, table in tables.items():
            assert content(table) == expected[key], key

        rebuilt.clear()
        pipeline.run_staged(spark, SF_TINY, workdir)
        assert rebuilt == []


def test_run_stage_faults_converge_to_the_clean_tables(spark, tmp_path, monkeypatch):
    """Three faults of a stage write, each repaired by the next plain
    run_staged to the clean build's (checksum, n_rows) per stage: a
    write that commits part of the stage's rows and then dies, a part
    file lost under an intact lineage.json, and an extra part file,
    which the recorded file list rejects before any Spark job."""
    from multiomics_biocypher_kg_spark.plans import lineage, pipeline

    workdir = str(tmp_path)
    pipeline.run_staged(spark, SF_TINY, workdir)
    runner = lineage.StagedRunner(spark, workdir)

    def recorded():
        return {
            s.name: (runner.lineage(s.name)["checksum"], runner.lineage(s.name)["n_rows"])
            for s in pipeline.STAGES
        }

    clean = recorded()
    stage_dir = os.path.join(workdir, "materialize")
    data = os.path.join(stage_dir, "data")

    # 1. the rebuild's write commits half the rows, then the run dies
    os.remove(os.path.join(stage_dir, "lineage.json"))
    real_write = lineage.write_stage

    def crashing_merge(df, path):
        # only materialize's write dies: a stage written beside it (enrich
        # runs concurrently) has no edge_id and writes normally
        if os.path.basename(os.path.dirname(path)) != "materialize":
            return real_write(df, path)
        real_write(df.where(F.hash("edge_id") % 2 == 0), path)
        raise RuntimeError("killed mid-commit")

    with monkeypatch.context() as m:
        m.setattr(lineage, "write_stage", crashing_merge)
        with pytest.raises(RuntimeError, match="killed mid-commit"):
            pipeline.run_staged(spark, SF_TINY, workdir)
    assert any(f.endswith(".parquet") for f in os.listdir(data))
    assert not os.path.exists(os.path.join(stage_dir, "lineage.json"))
    assert not runner.is_complete("materialize")
    pipeline.run_staged(spark, SF_TINY, workdir)
    assert recorded() == clean

    # 2. the largest part file (at this size the only one) disappears;
    # lineage.json still records the table
    parts = {f: os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)
             if f.endswith(".parquet")}
    os.remove(os.path.join(data, max(parts, key=parts.get)))
    assert not runner.is_complete("materialize")
    tables = pipeline.run_staged(spark, SF_TINY, workdir)
    assert recorded() == clean
    assert lineage.content_checksum(tables["triples"]) == clean["materialize"]

    # 3. a part file is copied under a new name: the listing no longer
    # matches the recorded files, decided with no checksum job
    part = next(f for f in sorted(os.listdir(data)) if f.endswith(".parquet"))
    shutil.copy(os.path.join(data, part), os.path.join(data, "part-copy-" + part))

    def no_spark_job(*a, **kw):
        raise AssertionError("a changed file set must be decided from the listing")

    with monkeypatch.context() as m:
        m.setattr(lineage, "content_checksum", no_spark_job)
        assert not runner.is_complete("materialize")
    tables = pipeline.run_staged(spark, SF_TINY, workdir)
    assert recorded() == clean
    assert lineage.content_checksum(tables["triples"]) == clean["materialize"]


def test_stage_tables_have_unique_keys_and_recorded_checksums(spark, tmp_path):
    """The stage builds emit unique keys, so the stage write needs no
    dedup: on SF_TINY every STAGES table has as many rows as distinct
    ``Stage.keys``, and every checksum that lineage.json records from
    the write equals a recompute over the written table."""
    from multiomics_biocypher_kg_spark.plans import lineage, pipeline

    tables = pipeline.run_staged(spark, SF_TINY, str(tmp_path))
    runner = lineage.StagedRunner(spark, str(tmp_path))
    for stage in pipeline.STAGES:
        table, rec = tables[stage.output], runner.lineage(stage.name)
        n = table.count()
        assert n > 0 and table.select(*stage.keys).distinct().count() == n, stage.name
        assert lineage.content_checksum(table) == (rec["checksum"], rec["n_rows"]), stage.name
        assert sum(p["n_rows"] for p in rec["partitions"]) == n, stage.name


def test_resume_reads_each_stage_table_once(spark, tmp_path):
    """A fully resumed run_staged reads each stage table once, with
    the schema lineage.json records: no schema-inference job and no
    second read, so its only Spark jobs are the checksum recomputes
    (one or two per stage, all under the caller's job group). Every
    returned table holds the content lineage.json records."""
    from multiomics_biocypher_kg_spark.plans import lineage, pipeline

    workdir = str(tmp_path)
    pipeline.run_staged(spark, SF_TINY, workdir)
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = [sc.getLocalProperty(k) for k in props]
    sc.setJobGroup("resume-once", "fully resumed run_staged")
    try:
        tables = pipeline.run_staged(spark, SF_TINY, workdir)
    finally:
        for k, v in zip(props, saved):
            sc.setLocalProperty(k, v)
    jobs = sc.statusTracker().getJobIdsForGroup("resume-once")
    # at least one recompute per stage: the stage threads run their
    # jobs under the caller's job group
    assert len(pipeline.STAGES) <= len(jobs) <= 2 * len(pipeline.STAGES), len(jobs)
    runner = lineage.StagedRunner(spark, workdir)
    for stage in pipeline.STAGES:
        rec = runner.lineage(stage.name)
        assert lineage.content_checksum(tables[stage.output]) == (
            rec["checksum"], rec["n_rows"],
        ), stage.name

    # a record without a schema rebuilds its stage once, to the same content
    enrich = runner.lineage("enrich")
    with open(os.path.join(workdir, "enrich", "lineage.json"), "w") as f:
        json.dump({k: v for k, v in enrich.items() if k != "schema"}, f)
    assert not runner.is_complete("enrich")
    pipeline.run_staged(spark, SF_TINY, workdir)
    rebuilt = runner.lineage("enrich")
    assert rebuilt["schema"] == enrich["schema"]
    assert (rebuilt["checksum"], rebuilt["n_rows"]) == (enrich["checksum"], enrich["n_rows"])
    assert runner.is_complete("enrich")


def test_materialize_edge_id_unique_over_urls_with_pipes(spark):
    """``edge_id = subj|pred|obj`` stays unique when a url contains
    ``|``: the materialize build keeps every distinct triple, each
    under its own edge_id. The one collision left is a value that
    itself contains ``|mentions|`` or ``|same_as_canonical|`` (subj
    ``a|mentions|b`` with obj ``c`` and subj ``a`` with obj
    ``b|mentions|c`` share an edge_id). Before the stage write dropped
    its dedup, such a collision dropped one triple silently; now both
    rows are kept."""
    from multiomics_biocypher_kg_spark.plans.pipeline import _materialize

    links = spark.createDataFrame(
        [
            ("http://a.org/x|y", "kw:1"),
            ("http://a.org/x", "kw:1"),
            ("http://a.org/x|y|z", "kw:2"),
            ("http://a.org/x|y", "kw:2"),
            ("http://a.org/x|y", "kw:2"),
            ("|", "kw:1"),
            ("||", "kw:1"),
            ("http://a.org/x", None),
        ],
        "url string, entity_id string",
    )
    mapping = spark.createDataFrame(
        [("ent:1|a", "ent:0", "false"), ("ent:1", "ent:0|a", "false"), ("ent:0", "ent:0", "false")],
        "entity_id string, canonical_id string, is_conflict string",
    )
    triples = _materialize(None, links, mapping)
    rows = triples.collect()
    assert len(rows) == 8
    assert len({r.edge_id for r in rows}) == len(rows)
    assert len({(r.subj, r.pred, r.obj) for r in rows}) == len(rows)


_RETRY_SCRIPT = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F
from multiomics_biocypher_kg_spark.plans import lineage

marker, workdir = sys.argv[1], sys.argv[2]
spark = (
    SparkSession.builder.master("local[2,2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.adaptive.enabled", "false")
    .getOrCreate()
)


seen = {"rows": 0}


@F.udf("long")
def flaky(v):
    # the first attempt of partition 0 dies after most of its rows
    # (about 500) have passed the write's observation
    ctx = TaskContext.get()
    seen["rows"] += 1
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0 and seen["rows"] >= 400:
        open(marker, "w").close()
        raise RuntimeError("injected task failure")
    return v


def build():
    grouped = spark.range(0, 2000, 1, 4).groupBy((F.col("id") % 1000).alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    return grouped.select("k", flaky(F.col("k")).alias("v"), "c")


runner = lineage.StagedRunner(spark, workdir)
table = runner.run_stage("s", build)
rec = runner.lineage("s")
print(json.dumps({
    "recorded": [rec["checksum"], rec["n_rows"]],
    "table": list(lineage.content_checksum(table)),
    "files": sum(p["n_rows"] for p in rec["partitions"]),
}))
spark.stop()
"""


def test_observed_checksum_survives_a_retried_task(tmp_path):
    """A write whose result task fails once and is retried still
    records the checksum of the table it wrote: the observation runs
    in the write's result stage, where a failed attempt's metric
    update is dropped. Fresh ``local[2,2]`` session (two attempts per
    task) in a subprocess."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    marker = tmp_path / "failed-once"
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, env.get("PYTHONPATH")]))
    out = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(marker), str(tmp_path / "wd")],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert marker.exists()  # the injected failure ran, so a retry did too
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["recorded"] == got["table"]
    assert got["table"][1] == got["files"] == 1000
