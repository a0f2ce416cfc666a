"""Physical-plan assertions: the plans we designed for are the plans
Catalyst actually produces (broadcast linking, predicate pushdown,
column pruning, codegen). Guards against regressions that would only
show up at 100x scale."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.operators.extract import extract, html_to_text
from multiomics_biocypher_kg_spark.operators.link import link
from multiomics_biocypher_kg_spark.operators.mention import mentions_tokens
from multiomics_biocypher_kg_spark.sources.pages import pages_from_documents
from multiomics_biocypher_kg_spark.sources.vocab import vocab_df
from tests.conftest import SF_TINY


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_link_path_is_all_broadcast_no_sort_merge(spark):
    pages = pages_from_documents(spark, SF_TINY)
    vocab = vocab_df(spark)
    links = link(mentions_tokens(extract(pages), vocab), vocab)
    plan = _plan(links)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "mention stream must never shuffle-join"
    # the lookups scan the gazetteer in the JVM; this path has no
    # checkpoint, so an ExistingRDD here is a Python RDD scan
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


_NO_PYTHON_WORKER_SCRIPT = r"""
import glob, json, os, shutil, sys
from multiomics_biocypher_kg_spark.plans.pipeline import run_staged
from multiomics_biocypher_kg_spark.session import build_session
from multiomics_biocypher_kg_spark.streaming.ingest import run_streaming_triples

sf_dir, workdir = sys.argv[1], sys.argv[2]
spark = build_session(master="local[2]", shuffle_partitions=2)
run_staged(spark, sf_dir, os.path.join(workdir, "staged"))
docs = os.path.join(workdir, "incoming")
os.makedirs(docs)
shutil.copy(os.path.join(sf_dir, "documents.parquet"), docs)
triples = run_streaming_triples(
    spark, docs, os.path.join(workdir, "triples"), os.path.join(workdir, "ckpt")
).count()


def cmdline(pid):
    try:
        with open(f"/proc/{pid}/cmdline") as f:
            return f.read().replace("\0", " ").strip()
    except OSError:
        return "(exited)"


jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
paths = glob.glob(f"/proc/{jvm}/task/*/children")
if not paths:
    sys.exit(f"no /proc/{jvm}/task/*/children to read")
children = []
for path in paths:
    with open(path) as f:
        children += f.read().split()
print(json.dumps({"triples": triples, "children": {c: cmdline(c) for c in children}}))
spark.stop()
"""


def test_kg_construction_starts_no_python_worker(tmp_path):
    """A full ``run_staged`` and one streaming ingest run entirely in
    the JVM: afterwards the JVM has no child process, so no Python
    worker (``pyspark.daemon``) was ever started. Fresh ``local[2]``
    session in a subprocess; the daemon, once started, lives as long
    as the session."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, env.get("PYTHONPATH")]))
    out = subprocess.run(
        [sys.executable, "-c", _NO_PYTHON_WORKER_SCRIPT, SF_TINY, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["triples"] > 0
    assert got["children"] == {}


def test_scan_filter_pushdown_and_column_pruning(spark):
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet")
    q = docs.where(F.col("doc_id") < 100).select("doc_id", "lang")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan
    # ReadSchema pruned to the two projected columns
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_star_join_broadcasts_dims(spark):
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["rel_market_share"](spark, SF_TINY))
    assert plan.count("BroadcastHashJoin") >= 3  # customer/nation/region


def test_extract_native_stays_in_codegen(spark):
    pages = pages_from_documents(spark, SF_TINY)
    df = extract(pages).select("text")
    # the seed-scan rebalance adds an Exchange, so AQE wraps the plan
    # and only exposes codegen spans once the final plan is chosen —
    # execute THIS DataFrame's own query execution first (count()
    # would build a separate one), then assert on the finalized plan
    df.collect()
    plan = _plan(df)
    # '*(N)' prefixes mark WholeStageCodegen spans in executedPlan text
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "ArrowEvalPython" not in plan  # no Python in the native path


def test_extract_arrow_engine_uses_arrow(spark):
    pages = pages_from_documents(spark, SF_TINY)
    plan = _plan(pages.select(html_to_text(F.col("html")).alias("text")))
    assert "ArrowEvalPython" in plan  # vectorized, not BatchEvalPython


def test_exact_percentile_not_approx(spark):
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["rel_percentile_stats"](spark, SF_TINY))
    assert "percentile" in plan and "approx_percentile" not in plan


def test_fasta_reader_no_global_sort_or_python(spark, tmp_path):
    """S6 scale guard: the lineSep-record FASTA reader must not plan
    a Window/global Sort (the old single-partition bottleneck) nor
    any Python eval node."""
    from multiomics_biocypher_kg_spark.sources.readers import fasta

    fa = tmp_path / "t.faa"
    fa.write_text(">A1 d\nMK\n>A2\nVV\n")
    plan = _plan(fasta(spark, str(fa)))
    assert "Window" not in plan
    assert "Exchange" not in plan  # record-split scan, wholly map-side
    assert "EvalPython" not in plan


def test_neardup_plans_have_no_cartesian(spark):
    """The three registered near-dup queries must plan as equi-joins
    (LSH/band bucketing) — a CartesianProduct or
    BroadcastNestedLoopJoin here is the O(n^2) scale-killer."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    for q in ("dedup_simhash", "dedup_embedding_cosine", "dedup_minhash_lsh"):
        plan = _plan(QUERIES[q](spark, SF_TINY))
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_dictionary_topk_is_distributed_not_global_sort(spark):
    """text_vocabulary / text_inverted_index select their top-K terms
    with TakeOrderedAndProject (per-partition heaps) — never an
    Exchange rangepartitioning global sort of the whole vocabulary.
    The only unpartitioned window in these plans runs over the K
    survivors of the limit."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    for q in (
        "text_vocabulary",
        "text_inverted_index",
        "text_reservoir_sample",
        "text_bpe_pretokenize",
    ):
        plan = _plan(QUERIES[q](spark, SF_TINY))
        assert "TakeOrderedAndProject" in plan, q
        assert "rangepartitioning" not in plan, q


def test_round4_ops_broadcast_their_dictionaries(spark):
    """The bloom bit-set, the fuzzy-match vocabulary, and the
    unigram corpus totals are broadcast dims — no SortMergeJoin
    against a dictionary-sized side."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    for q in ("web_bloom_revisit", "kg_fuzzy_vocab_match"):
        plan = _plan(QUERIES[q](spark, SF_TINY))
        assert "Broadcast" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_pack_sequences_window_is_shard_partitioned(spark):
    """Sequence packing's running token total is a window
    PARTITIONED by the shard — a global cumulative sum would be a
    single-task sort of the corpus."""
    import re

    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_pack_sequences"](spark, SF_TINY))
    assert re.search(r"sum\(n#\d+\).*?\], \[shard#\d+L?\]", plan), (
        "pack cumsum must partition by shard"
    )
    assert "rangepartitioning" not in plan


def test_negative_sample_index_rank_is_bucket_partitioned(spark):
    """kg_negative_samples builds its dense entity index with a
    row_number window PARTITIONED BY the fixed hash bucket (each
    window partition holds ~1/64 of the dictionary); the only
    unpartitioned window is the 64-row per-bucket offset cumsum. An
    unpartitioned row_number over the entity dictionary itself is
    the single-task sort that breaks at 10^9 entities."""
    import re

    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_negative_samples"](spark, SF_TINY))
    assert re.search(r"row_number\(\).*?\], \[b#\d+L?\]", plan), (
        "dense-index rank window must be partitioned by bucket b"
    )
    assert "rangepartitioning" not in plan


def test_alias_remap_all_broadcast(spark):
    """J11: the node/alias dims broadcast; the edge stream never
    shuffle-joins."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_alias_remap"](spark, SF_TINY))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_annotation_quality_single_flag_pass(spark):
    """J13: the 8 existence flags compute in ONE aggregate over the
    edge stream (max(when) per bucket), not 8 semi-join passes."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["onto_annotation_quality"](spark, SF_TINY))
    # one partial+final agg pair for the flags, one join back to genes
    assert plan.count("HashAggregate") <= 6
    assert "SortMergeJoin" not in plan or "BroadcastHashJoin" in plan


def test_candidate_expansion_stays_in_codegen(spark):
    """J4/J5: candidate generation is pure per-row expression work —
    no Python eval, no shuffle before the explode."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_candidates"](spark, SF_TINY))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan  # map-only pipeline


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing demo (scale pattern): pre-bucket both sides of a
    repeated join key -> the join plan has no shuffle exchange on
    either side. This is the 100 TB recipe for repeatedly-joined
    tables (orders x lineitem on orderkey)."""
    o = spark.read.parquet(f"{SF_TINY}/orders.parquet")
    li = spark.read.parquet(f"{SF_TINY}/lineitem.parquet")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("b_lineitem")
    try:
        # disable auto-broadcast so the join would otherwise shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_aqe_skew_join_splits_hot_host(spark, tmp_path):
    """AQE skew-join evidence (the non-salted complement of
    kg_host_rollup_salted): on the 30%-hot-host corpus, a shuffle
    join keyed by host gets its hot partition SPLIT by
    OptimizeSkewedJoin — the final adaptive plan carries
    'SortMergeJoin(skew=true)'; with skewJoin disabled the same plan
    runs unsplit. Thresholds are scaled to test size (the 256MB
    default is a cluster number); ratios are the real corpus ratios:
    the hot reducer partition is ~3.8x the median.

    Scale note (learned the hard way, recorded in SCALE.md): skew
    splitting happens at MAPPER granularity — a skewed table written
    as one file gives AQE a single un-splittable block, so wide
    tables must land as many files/mappers.
    """
    import time

    pages = pages_from_documents(spark, SF_TINY.replace("0.001", "0.01"))
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    # materialized skewed fact table: 40 copies/page, incompressible
    # payload so shuffle bytes reflect row counts; 8 files = 8 mappers
    big = (
        pages.select(
            host.alias("host"),
            "url",
            F.explode(F.sequence(F.lit(1), F.lit(40))).alias("copy"),
        ).withColumn(
            "payload",
            F.concat(
                *[
                    F.sha2(
                        F.concat("url", F.lit(i), F.col("copy").cast("string")), 256
                    )
                    for i in range(4)
                ]
            ),
        )
    )
    path = str(tmp_path / "skewed_pages")
    big.repartition(8).write.mode("overwrite").parquet(path)
    bigr = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("hot.example.com",)] + [(f"h{i}.example.org",) for i in range(50)],
        "host string",
    )

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    saved["spark.sql.adaptive.skewJoin.enabled"] = spark.conf.get(
        "spark.sql.adaptive.skewJoin.enabled"
    )
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)

        def run(enabled: bool):
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.enabled", str(enabled).lower()
            )
            out = bigr.join(dim, "host").agg(
                F.sum(F.length("payload")).alias("b"),
                F.count(F.lit(1)).alias("n"),
            )
            t0 = time.time()
            rows = out.collect()
            elapsed = time.time() - t0
            plan = out._jdf.queryExecution().executedPlan().toString()
            return rows, elapsed, plan

        rows_on, t_on, plan_on = run(True)
        rows_off, t_off, plan_off = run(False)
        # same answer either way; the flag is the physical evidence
        assert rows_on == rows_off
        assert "skew=true" in plan_on, plan_on
        assert "skew=true" not in plan_off
        print(
            f"\nAQE_SKEW_JOIN split=on {t_on:.2f}s / off {t_off:.2f}s "
            "(timing informational at test scale; the split matters at "
            "cluster partition sizes)"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_funnel_windows_share_one_user_shuffle(spark):
    """ev_funnel stacks its three step-time windows over the SAME
    user partitioning: exactly one hashpartitioning(user_id) Exchange
    feeds all three Window nodes (the per-user agg reuses it), plus
    the SinglePartition collapse for the 3-row result — any third
    Exchange means a step re-shuffled and the funnel would scan-sort
    the event log per step at scale."""
    import re

    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_funnel"](spark, SF_TINY))
    assert plan.count("Window ") == 3
    user_exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(user_exchanges) == 1, plan
    assert plan.count("Exchange ") == 2, plan


def test_mirror_hosts_no_cartesian_candidates_first(spark):
    """Mirror detection must discover host pairs through the
    content-hash equi-join only — a CartesianProduct (or
    BroadcastNestedLoopJoin) would be hosts x hosts and die at web
    scale."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_mirror_hosts"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_line_dedup_has_no_global_sort(spark):
    """Per-doc line regroup and the line-frequency count are keyed
    aggs; nothing in the plan may be a single-partition global sort
    (the document-order join inside each doc is a sort_array over
    the per-doc collected lines, not a Sort operator over the
    corpus)."""
    from multiomics_biocypher_kg_spark.operators.dedup import line_dedup

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(line_dedup(docs))
    assert "Sort " not in plan.replace("sort_array", "")


def test_contamination_probe_is_broadcast(spark):
    """data_contamination probes the TRAIN gram stream against a
    broadcast of the eval gram set: the corpus-sized side must hit a
    BroadcastHashJoin, never a SortMergeJoin (which would shuffle
    every train gram) and never a nested loop."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_contamination"](spark, SF_TINY))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_filter_no_cartesian(spark):
    """The prefix-filter similarity join generates candidates through
    the shared-prefix-element equi-join — all-pairs shapes must not
    appear anywhere in the plan."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["dedup_prefix_filter"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_budget_select_window_is_over_histogram(spark):
    """data_budget_select's only window runs over the post-aggregate
    score histogram (<= 1000 rows by construction), never the corpus:
    the Window's child subtree must contain the HashAggregate, and
    at runtime the windowed input is bin-bounded."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    df = QUERIES["data_budget_select"](spark, SF_TINY)
    plan = _plan(df)
    assert plan.count("Window") >= 1
    # the aggregate (histogram build) happens BELOW the window in the
    # tree printout (deeper = later in the string for a linear chain)
    assert plan.index("Window") < plan.index("HashAggregate")
    assert df.count() <= 1000


def test_shacl_report_triples_materialized_once(spark):
    """kg_shacl_check checkpoints the triple stage before its three
    report consumers — the executed plan's scan side must read the
    checkpoint, not re-run the extract cascade three times."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_shacl_check"](spark, SF_TINY))
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    # no html-scan leak into the report side
    assert plan.count("Scan parquet") == 0


def test_mrr_eval_candidates_broadcast_no_cartesian(spark):
    """The per-relation tail dictionary must enter the fan-out join
    as a broadcast (dictionary-sized side) and nothing in the eval
    may degenerate to a CartesianProduct."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_mrr_eval"](spark, SF_TINY))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_url_templates_no_python_and_one_agg_shuffle(spark):
    """Template derivation is a scan-projection regexp chain: no
    Python workers in the plan, and the only wide operation is the
    template groupBy (partial_count before the exchange)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_url_templates"](spark, SF_TINY))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "partial_count" in plan


def test_window_comention_banded_join_no_cartesian(spark):
    """The +/-w token range join must execute as the banded
    (doc_id, bucket) equi-join — no CartesianProduct, no
    broadcast nested loop over the mention stream."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_window_comention"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fellegi_sunter_no_cartesian_u_broadcast(spark):
    """FS candidates must come from the block-key equi-join only, and
    the per-field u-probability 1-row aggregates must broadcast into
    the scorer — a CartesianProduct over the record table would be
    corpus^2."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_fellegi_sunter"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the 1-row u-probability
    # broadcasts (3 fields -> 3 of them, each building a 1-row side)
    assert plan.count("BroadcastNestedLoopJoin") <= 3


def test_winnowing_windows_partition_by_doc(spark):
    """Both winnowing window passes (k-gram lead, window-min frame)
    must partition by doc_id — a global-order window would funnel the
    token stream through one task."""
    from multiomics_biocypher_kg_spark.operators.mining import (
        winnowing_fingerprints,
    )

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _plan(winnowing_fingerprints(docs))
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "doc_id" in line


def test_rake_topk_is_take_ordered(spark):
    """RAKE's top-20 must compile to TakeOrderedAndProject
    (distributed top-k), never a global Sort + Limit pipeline."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_rake_keywords"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan


def test_label_outliers_stats_broadcast(spark):
    """Centroid and per-label stat joins must broadcast (labels x dim
    and labels-sized sides) — no SortMergeJoin over the exploded
    vector stream."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["emb_label_outliers"](spark, SF_TINY))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hyperanf_keyed_joins_only(spark):
    """Every HyperANF radius must advance through keyed joins on the
    register table — no CartesianProduct / nested loop over nodes."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_hyperanf"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_wl_roles_keyed_joins_only(spark):
    """WL color refinement: neighbor-color lookups are equi-joins,
    multiset signatures are degree-bounded aggs — never a node x node
    product."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_wl_roles"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_textrank_cooccurrence_join_is_keyed(spark):
    """TextRank's co-occurrence pairs must come from the per-doc
    equi-join on doc_id (offset filter applied after), never a
    CartesianProduct over the token stream."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_textrank_keywords"](spark, SF_TINY))
    assert "CartesianProduct" not in plan


def test_ams_f2_single_pass_sketch(spark):
    """The 32 AMS trial sums must compute in ONE aggregate over the
    stream (map-side combined) — the plan may contain no join on the
    sketch side except the broadcast of the 1-row exact table."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["rel_ams_f2"](spark, SF_TINY))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ppr_state_joins_keyed_no_cartesian(spark):
    """Batched PPR must advance all seed vectors through KEYED joins
    on the sparse (seed, node) state — no CartesianProduct, and no
    non-broadcast nested-loop join anywhere in the loop (the per-seed
    dangling scalar is a seed-keyed aggregate, not a collected or
    cross-joined value)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_entity_ppr"](spark, SF_TINY))
    assert "CartesianProduct" not in plan


def test_kn_perplexity_dictionary_joins_only(spark):
    """KN scoring is dictionary joins + one broadcast 1-row scalar:
    no CartesianProduct, and the type-total enters as a broadcast
    (BroadcastNestedLoopJoin over exactly one row is the intended
    scalar carrier, same as the JM gate)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_kn_perplexity"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_harmonic_centrality_keyed_joins_no_cartesian(spark):
    """Batched multi-source BFS advances through KEYED frontier joins
    and integer min-groupBys; the only nested-loop joins are the two
    broadcast 1-row rescale scalars."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_harmonic_centrality"](spark, SF_TINY))
    assert "CartesianProduct" not in plan


def test_node2vec_wedge_join_keyed_cap_partitioned(spark):
    """The wedge join is keyed on cur_node and the top-cap window is
    PARTITIONED by src (per-node adjacency sort, never a global
    sort); no CartesianProduct anywhere."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_node2vec_transitions"](spark, SF_TINY))
    assert "CartesianProduct" not in plan


def test_bm25_probe_band_is_take_ordered_not_global_rank(spark):
    """The probe-term band must come from a distributed top-k
    (TakeOrderedAndProject) over the vocabulary — never an
    unpartitioned rank window over every term — and scoring joins
    must broadcast the 5-term query side."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_bm25"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_phrase_search_postings_joins_keyed(spark):
    """Phrase adjacency must resolve through keyed postings joins
    (term filters broadcast, then doc_id/pos equi-joins) — no
    CartesianProduct; the phrase itself is a TakeOrderedAndProject
    top-1."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_phrase_search"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_rendezvous_shards_is_shuffle_free_narrow_map(spark):
    """The per-doc argmax over the 8 candidate weights is array_max
    over struct columns — the whole reshard assignment must compile
    to a single narrow Project over the scan: no Exchange, no Window,
    no aggregate, no join. This is the property that lets a 10^12-doc
    reshard run at raw scan speed."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_rendezvous_shards"](spark, SF_TINY))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan


def test_query_likelihood_band_is_topk_state_broadcast(spark):
    """The probe band comes from distributed top-k
    (TakeOrderedAndProject); the dl x band expansion is bounded by
    the 5-term broadcast query side (BroadcastNestedLoopJoin over a
    <=5-row side is the intended shape, CartesianProduct is not);
    tf/ctf attach through keyed hash joins."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_query_likelihood"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_manifest_pruning_no_window_no_shuffle_join(spark):
    """Both layout assignments are scan projections (hash) or a
    broadcast-scalar map (range); the stats are one map-side-combined
    groupBy — no rank window over shards, no shuffle join."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_manifest_pruning"](spark, SF_TINY))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_skew_audit_dictionary_agg_broadcast_total(spark):
    """The audit must cost one keyed agg over the scan + one
    broadcast 1-row total — never a window over keys or a shuffle
    join against the total."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_skew_audit"](spark, SF_TINY))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_rm3_expansion_topk_cuts_and_keyed_feedback_joins(spark):
    """Both cuts (feedback docs, expansion terms) are distributed
    top-k (TakeOrderedAndProject); the feedback join fans the 10-doc
    side out via broadcast hash joins, never a cartesian."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_rm3_expansion"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_round4z_ops_no_cartesian_no_global_window(spark):
    """Resnik LCA intersection, modularity endpoint joins, and the
    drift centroid pairing are all keyed joins over bounded sides —
    no CartesianProduct anywhere, and no rank window (the LCA argmin
    is a min-of-struct aggregate over integer counts)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    for q in ("onto_resnik_similarity", "web_modularity", "emb_drift_monitor"):
        plan = _plan(QUERIES[q](spark, SF_TINY))
        assert "CartesianProduct" not in plan, q
        assert "Window" not in plan, q


def test_power_iteration_broadcasts_vector_no_cartesian(spark):
    """Each power-method round joins the corpus against the
    BROADCAST d-row vector and the per-vector dot products by key —
    the d x d covariance must never materialize as a join of the
    corpus with itself."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["emb_power_iteration"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_markov_window_is_user_partitioned(spark):
    """The lag window partitions by user — no global range sort of
    the event stream."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_markov_transitions"](spark, SF_TINY))
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_temporal_conflicts_banded_equi_join(spark):
    """The interval self-join must key on (subj, band) — no
    CartesianProduct, no rank window; the bounded band explode is the
    only fan-out."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_temporal_conflicts"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_hearst_extraction_scan_side(spark):
    """Hearst mining is scan-projection regex + bounded explode +
    one agg — no window, no cartesian, no join at all."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_hearst_patterns"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_bowtie_keyed_bfs_topk_pivot(spark):
    """The pivot is a 1-row TakeOrderedAndProject (never a global
    sort) and every BFS round is a keyed equi-join."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_bowtie_structure"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_survival_km_single_scan_dictionary_windows(spark):
    """KM's corpus-sized stage is ONE keyed span agg; the ordered
    windows run over the distinct-lifetime dictionary. Guard: no
    cartesian, and the raw stream is scanned exactly once."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_survival_km"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert plan.count("events.parquet") <= 2  # span agg + horizon twin


def test_quality_auc_histogram_single_scan(spark):
    """AUC runs the histogram plan: one corpus scan, the ordered
    window touches only the <=2001-bin histogram, and nothing
    joins — no cartesian, no sort-merge."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_quality_auc"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("documents.parquet") == 1


def test_quality_confusion_broadcast_report_joins(spark):
    """The report assembly joins 3-row tables — every join must be
    broadcast, never sort-merge, and the corpus is scanned once
    (the 9-cell matrix is checkpointed for its three consumers)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_quality_confusion"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("documents.parquet") <= 1


def test_fleiss_kappa_single_scan_no_window(spark):
    """Kappa is one corpus scan + two keyed aggs; the per-category
    collapse means NO window at all and no join anywhere."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_fleiss_kappa"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("documents.parquet") == 1


def test_nb_langid_no_global_sort_no_cartesian(spark):
    """The trained-NB scorer must stay distributed: the model is a
    keyed agg, scoring is a token equi-join, and the per-doc argmax
    window is PARTITIONED by doc_id — no single-partition global
    sort anywhere, no unbounded cartesian (the only nested-loop
    joins broadcast the 5-row priors / 1-row vocab dims)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    df = QUERIES["text_nb_langid"](spark, SF_TINY)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # a global sort (rangepartitioning exchange) would mean the
    # argmax window lost its doc_id partitioning
    assert "rangepartitioning" not in plan
    assert "Window" in plan  # per-doc argmax is a real window
    # scoring joins the dictionary-sized model by token — the big
    # sides may sort-merge, but nothing nest-loops over the corpus
    assert "BroadcastNestedLoopJoin" not in plan or plan.count(
        "BroadcastNestedLoopJoin"
    ) <= 3  # the 5-row priors / 1-row vocab broadcast cross joins


def test_hamming_topk_codes_packed_before_join(spark):
    """emb_hamming_topk must collapse vectors to sign codes in the
    scan projection and broadcast the query side: no SortMergeJoin,
    no corpus re-scan (exactly 2 scans: corpus codes + query codes),
    and the top-k window PARTITIONED by query (no rangepartitioning
    global sort)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["emb_hamming_topk"](spark, SF_TINY))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    # corpus codes + query codes + the id-only (column-pruned,
    # filter-pushed) query_ids scan — never a 4th pass
    assert plan.count("embeddings.parquet") <= 3


def test_ndcg_takeordered_not_global_sort(spark):
    """text_ndcg_eval must get its k system-best docs via
    TakeOrderedAndProject (distributed per-partition top-k), never a
    full rangepartitioning sort of the corpus; the rank window runs
    over the k survivors only."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_ndcg_eval"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("documents.parquet") <= 2


def test_ece_histogram_no_window_no_join(spark):
    """text_quality_ece is the AUC histogram discipline: one corpus
    scan, one keyed agg, metrics over the histogram — NO window, NO
    join, no second scan."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_quality_ece"](spark, SF_TINY))
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("documents.parquet") == 1


def test_cusum_windows_partitioned_by_type(spark):
    """ev_cusum_drift's two cumulative windows must be PARTITIONED
    by event_type (day-dictionary-sized partitions), never a global
    rangepartitioning sort; corpus-sized work is the daily count agg
    (<= 2 scans of events: live + degenerate branches)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_cusum_drift"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("events.parquet") <= 2


def test_conformal_gate_histogram_plan(spark):
    """data_conformal_gate's order statistic runs over the (split,
    bin, gold) HISTOGRAM: no corpus-sized sort (the single-partition
    window is over <= 4004 histogram rows), no cartesian, <= 2
    documents scans (cal + test branches of the shared histogram)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_conformal_gate"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("documents.parquet") <= 2


def test_distmult_pure_projection_no_extra_shuffle(spark):
    """kg_distmult_score adds only a scan-projection expression
    chain on top of the triple pipeline — no window, no added join,
    no cartesian (the embedding 'lookup' is hashing, not a table)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_distmult_score"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_type_inference_closure_broadcast(spark):
    """kg_type_inference joins the entity dictionary against the
    ONTOLOGY-sized closure — that join must broadcast, never
    sort-merge; the class-count dim is a 1-row broadcast."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_type_inference"](spark, SF_TINY))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_bootstrap_ci_two_scan_histogram_plan(spark):
    """data_bootstrap_ci: point estimate + replicate pass = exactly
    two corpus scans; the x20 fanout lives in the projection (one
    map-side-combined groupBy(b)); the only unpartitioned window is
    over the 20-row replicate table; no rangepartitioning."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_bootstrap_ci"](spark, SF_TINY))
    assert plan.count("documents.parquet") <= 2
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_zorder_audit_single_scan_no_sort(spark):
    """data_zorder_layout is ONE lineitem scan (both layouts emitted
    in the projection via explode), two keyed aggs — no sort, no
    rangepartitioning, no cartesian beyond the 1-row max dims
    broadcast."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_zorder_layout"](spark, SF_TINY))
    # 2 scans: the audit pass + the 2-column max-stats agg (which a
    # real deployment serves from parquet footer metadata for free)
    assert plan.count("lineitem.parquet") <= 2
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_seasonality_single_scan_no_window(spark):
    """ev_seasonality: one events scan, keyed aggs + a broadcast
    join — no window anywhere."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_seasonality"](spark, SF_TINY))
    # the checkpointed profile hides the (single) upstream scan from
    # the final plan, so 0 or 1 occurrences are both correct
    assert plan.count("events.parquet") <= 1
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_hamming_neardup_band_equijoin_no_cartesian(spark):
    """emb_hamming_neardup candidates come from a band equi-join —
    no CartesianProduct, no BroadcastNestedLoopJoin anywhere (the
    O(n^2) scale-killer the banding exists to avoid)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["emb_hamming_neardup"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_checks_no_sort_merge(spark):
    """data_quality_checks: FK probes broadcast their key dimension;
    every check is a counter agg — no sort-merge join, no window."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_quality_checks"](spark, SF_TINY))
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_politeness_window_host_partitioned(spark):
    """web_politeness_schedule's rank window is PARTITIONED by host
    — no global rangepartitioning sort, no cartesian."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_politeness_schedule"](spark, SF_TINY))
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_attribution_single_window_pass(spark):
    """ev_attribution's three running expressions share ONE window
    frame — a single Window operator, partitioned by user, no global
    sort, no join at all."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_attribution"](spark, SF_TINY))
    assert plan.count("Window") <= 2  # one logical window (+AQE echo)
    assert "rangepartitioning" not in plan
    assert "Join" not in plan


def test_rfm_no_window_thresholds_broadcast(spark):
    """ev_rfm_segments: exact percentiles are one agg pass over the
    user dictionary, broadcast back — no window, no sort-merge, no
    rangepartitioning."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_rfm_segments"](spark, SF_TINY))
    assert "Window" not in plan
    assert "rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_surt_window_partitioned(spark):
    """web_surt_index's revisit window partitions by (surt, digest)
    — no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_surt_index"](spark, SF_TINY))
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_heaps_single_token_scan(spark):
    """text_heaps_fit: the token stream is scanned once (checkpointed
    for its two keyed aggs); cumulative windows run over the 8-row
    batch table — no rangepartitioning, no cartesian beyond the
    broadcast 1-row last-point dim."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_heaps_fit"](spark, SF_TINY))
    assert plan.count("documents.parquet") <= 1
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_bot_regularity_window_user_partitioned(spark):
    """ev_bot_regularity: one user-partitioned lag window + one keyed
    agg — no global sort, no join."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_bot_regularity"](spark, SF_TINY))
    assert "rangepartitioning" not in plan
    assert "Join" not in plan
    assert plan.count("events.parquet") == 1


def test_range_split_points_no_global_sort(spark):
    """data_range_split_points delivers a sorted layout's boundaries
    WITHOUT a global sort: one percentile agg + projections + one
    keyed agg — no rangepartitioning anywhere, no SMJ."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_range_split_points"](spark, SF_TINY))
    assert "rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("lineitem.parquet") <= 2


def test_complex_pure_projection_no_extra_shuffle(spark):
    """kg_complex_score, like DistMult, adds only a scan-projection
    expression chain on top of the triple pipeline — no window, no
    added join (the complex embedding 'lookup' is hashing)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_complex_score"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_wupalmer_no_cartesian_no_global_sort(spark):
    """onto_wupalmer_similarity intersects per-node ancestor lists
    via keyed joins — never node x node, never a global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["onto_wupalmer_similarity"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_ewma_single_scan_no_join(spark):
    """ev_ewma_forecast: one events scan -> (type, day) agg -> a
    type-partitioned lag window -> projection. No join, no global
    sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_ewma_forecast"](spark, SF_TINY))
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_ktruss_no_cartesian(spark):
    """web_ktruss: every wedge join is keyed — no CartesianProduct,
    no BroadcastNestedLoopJoin anywhere in the peel."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_ktruss"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mojibake_pure_projection_no_exchange(spark):
    """text_mojibake_gate is a pure scan projection: one documents
    scan, zero shuffles (no Exchange at all)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_mojibake_gate"](spark, SF_TINY))
    assert plan.count("documents.parquet") == 1
    assert "Exchange" not in plan


def test_symmetry_audit_keyed_join_only(spark):
    """kg_symmetry_audit: one keyed self-join on the swapped triple
    key + one agg — no cartesian, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_symmetry_audit"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_kcenter_broadcast_rounds_bounded_scans(spark):
    """data_kcenter_coreset: each greedy round is one corpus scan
    against a BROADCAST center table — no non-broadcast cartesian,
    no SMJ, scan count bounded by rounds + seed."""
    from multiomics_biocypher_kg_spark.registry import QUERIES
    from multiomics_biocypher_kg_spark.registry_scale_ops import _KC_ROUNDS

    plan = _plan(QUERIES["data_kcenter_coreset"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("embeddings.parquet") <= _KC_ROUNDS + 2


def test_anomaly_mad_dictionary_aggs_only(spark):
    """ev_anomaly_mad: one events scan, percentile aggs over the
    (type, day) dictionary, broadcast joins back — no SMJ, no global
    sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_anomaly_mad"](spark, SF_TINY))
    # the (type, day) dictionary is checkpointed, so the single
    # events scan sits behind the checkpoint boundary
    assert plan.count("events.parquet") <= 1
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_domain_kld_single_token_scan(spark):
    """text_domain_kld: the token stream is exploded once (the
    (host, token) count is checkpointed for its three consumers);
    no cartesian beyond the broadcast 1-row total, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_domain_kld"](spark, SF_TINY))
    assert plan.count("documents.parquet") <= 1
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_ngram_novelty_single_gram_pass(spark):
    """text_ngram_novelty: trigrams materialize once (checkpointed
    for first-seen + scoring); no global sort, no cartesian."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_ngram_novelty"](spark, SF_TINY))
    assert plan.count("documents.parquet") <= 1
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_cardinality_profile_dictionary_join(spark):
    """kg_cardinality_profile: two keyed aggs + a dictionary x
    dictionary join — no cartesian, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_cardinality_profile"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_dim_variance_single_moment_agg(spark):
    """emb_dim_variance: one embeddings scan, one per-dim moment
    agg, broadcast total — no SMJ, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["emb_dim_variance"](spark, SF_TINY))
    assert plan.count("embeddings.parquet") <= 1
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_pagerank_trace_no_extra_corpus_pass(spark):
    """web_pagerank_delta_trace: deltas join the checkpointed rank
    STATE — the pages/documents scan count must not exceed
    web_pagerank's own."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_pagerank_delta_trace"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_silhouette_broadcast_centroids(spark):
    """emb_silhouette: the label x dim centroid dictionary joins
    broadcast; no SMJ, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["emb_silhouette"](spark, SF_TINY))
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_sample_bias_single_scan(spark):
    """data_sample_bias_audit: ONE corpus scan feeds both samplers'
    report legs (the per-lang dictionary is checkpointed)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_sample_bias_audit"](spark, SF_TINY))
    assert plan.count("documents.parquet") <= 1
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_bpe_apply_dictionary_join(spark):
    """text_bpe_apply: application is a keyed join of the exploded
    corpus against the vocabulary-sized (word, n_sym) table — no
    cartesian, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_bpe_apply"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_autocorrelation_one_window_pass(spark):
    """ev_autocorrelation: one events scan, one type-partitioned
    window pass feeds all lag legs (checkpointed) — no join, no
    global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_autocorrelation"](spark, SF_TINY))
    assert plan.count("events.parquet") <= 1
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_completeness_grid_no_global_sort(spark):
    """kg_completeness_profile: dictionary cross join + broadcast
    coverage — no unbroadcast cartesian of corpus-sized sides, no
    global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_completeness_profile"](spark, SF_TINY))
    assert "rangepartitioning" not in plan


def test_decoder_agreement_single_moment_agg(spark):
    """kg_decoder_agreement: all three scores compute in the scan
    projection; ONE global moment agg feeds the three report legs —
    no window, no cartesian, no SMJ."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_decoder_agreement"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_user_entropy_user_partitioned(spark):
    """ev_user_entropy: the entropy window partitions by user — no
    global sort, no join, one events scan."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_user_entropy"](spark, SF_TINY))
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_shuffle_quality_shard_partitioned(spark):
    """data_shuffle_quality: the adjacency window partitions by
    (epoch, shard) — never a global sort; one corpus scan behind the
    checkpoint."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_shuffle_quality"](spark, SF_TINY))
    assert plan.count("documents.parquet") <= 1
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_profile_single_scan_single_agg(spark):
    """data_profile_columns: one lineitem scan feeds every column's
    counters; report legs project from the checkpointed 1-row agg."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_profile_columns"](spark, SF_TINY))
    assert plan.count("lineitem.parquet") <= 1
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_winsorized_broadcast_thresholds(spark):
    """ev_winsorized_stats: percentile thresholds broadcast back —
    no SMJ, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_winsorized_stats"](spark, SF_TINY))
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_lang_consistency_broadcast_dictionary(spark):
    """web_lang_consistency: the host-majority dictionary joins
    broadcast onto the corpus; the mode window partitions by host."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_lang_consistency"](spark, SF_TINY))
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_blocking_recall_bounded_joins(spark):
    """data_blocking_recall: two keyed joins of the bounded gold set
    against the key dictionary — no cartesian, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_blocking_recall"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_inverse_discovery_keyed_swap_join(spark):
    """kg_inverse_discovery: the reversal test is a keyed self-join
    on the swapped node pair — no unbroadcast cartesian beyond the
    predicate-dictionary grid."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_inverse_discovery"](spark, SF_TINY))
    assert "rangepartitioning" not in plan
    # the corpus x corpus reversal test may legitimately SMJ on its
    # equi-key; what must never appear is a pair-enumeration cartesian
    assert "CartesianProduct" not in plan


def test_benford_dictionary_grid(spark):
    """ev_benford_audit: one events scan -> (type, digit) dictionary
    agg; Benford dim and totals broadcast — no SMJ, no global
    sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_benford_audit"](spark, SF_TINY))
    assert plan.count("events.parquet") <= 1
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_shipping_priority_pushdown_and_topk(spark):
    """rel_shipping_priority: filters reach the scans, the customer
    dim broadcasts, and the top-10 is TakeOrderedAndProject — never
    a global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["rel_shipping_priority"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters" in plan
    assert "rangepartitioning" not in plan


def test_active_users_dictionary_explode(spark):
    """ev_active_users: one events scan collapses to the (user, day)
    dictionary (checkpointed); the 7x contribution explode is
    narrow; no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_active_users"](spark, SF_TINY))
    assert plan.count("events.parquet") <= 1
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_deletion_impact_keyed_cascade(spark):
    """data_deletion_impact: hop-0 legs are scan aggregates; the
    lineitem leg joins on the order key — no cartesian, no global
    sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_deletion_impact"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_concentration_no_global_sort(spark):
    """ev_concentration: percentile thresholds instead of a global
    user rank — no rangepartitioning anywhere; one events scan
    behind the checkpointed dictionary."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_concentration"](spark, SF_TINY))
    assert plan.count("events.parquet") <= 1
    assert "rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_supplier_part_counts_anti_broadcast_topk(spark):
    """rel_supplier_part_counts: broadcast anti join for the
    blacklist, broadcast part dim, TakeOrderedAndProject top-20."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["rel_supplier_part_counts"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_ttr_pure_projection(spark):
    """text_ttr is a pure scan projection — zero shuffles."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_ttr"](spark, SF_TINY))
    assert plan.count("documents.parquet") == 1
    assert "Exchange" not in plan


def test_bcubed_dictionary_aggs(spark):
    """dedup_bcubed_eval: cell-sum identity — keyed dictionary aggs
    only, no global sort, no cartesian beyond broadcast 1-rows."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["dedup_bcubed_eval"](spark, SF_TINY))
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_savings_report_single_group_pass(spark):
    """dedup_savings_report: hash + length in the scan projection,
    one (lang, hash) agg, lang dictionary rollup — no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["dedup_savings_report"](spark, SF_TINY))
    assert "rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_quant_recall_bounded_probe(spark):
    """emb_quantization_recall: both top-5 sides are the bounded
    bruteforce probe plan — no unbroadcast cartesian, no global
    sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["emb_quantization_recall"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_rotate_pure_projection_no_extra_shuffle(spark):
    """kg_rotate_score, like the other three decoders, adds only a
    scan-projection expression chain on top of the triple pipeline —
    no window, no added join, no cartesian (the complex 'rotation'
    is hashing per dim, not a parameter-table lookup)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_rotate_score"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_changepoint_windows_partitioned_by_type(spark):
    """ev_changepoint's prefix-moment windows and argmin rank run
    PARTITIONED by event_type over the daily table — never a global
    rangepartitioning sort; corpus-sized work is one daily count agg
    (single events scan via the checkpointed shared stage)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_changepoint"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    assert "BroadcastHashJoin" in plan  # totals join the prefix scan


def test_dp_histogram_single_agg_projection(spark):
    """data_dp_histogram: one map-side-combined (lang, source) count
    agg; the Laplace draw is a projection over the cell dictionary —
    one documents scan, no join, no sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_dp_histogram"](spark, SF_TINY))
    assert plan.count("documents.parquet") == 1
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_dawid_skene_two_scans_no_corpus_shuffle(spark):
    """data_dawid_skene: the M-step count agg is checkpointed (the
    45-row confusion table shows as ExistingRDD), so the final plan
    scans the corpus exactly ONCE (the E-step relabel); the E-step
    joins are all broadcast (the 1-row prior rides a broadcast
    nested loop, the NB-langid dim convention) — no SortMergeJoin,
    no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_dawid_skene"](spark, SF_TINY))
    assert plan.count("documents.parquet") == 1
    assert "ExistingRDD" in plan  # the checkpointed M-step tables
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_rater_quality_single_corpus_scan(spark):
    """data_rater_quality: the corpus is touched only by the
    checkpointed 45-group count agg (ExistingRDD in the final plan);
    everything downstream is dictionary arithmetic — zero corpus
    scans remain."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_rater_quality"](spark, SF_TINY))
    assert plan.count("documents.parquet") == 0
    assert "ExistingRDD" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_edit_verify_candidates_first_no_cartesian(spark):
    """dedup_edit_verify: the quadratic DP runs on LSH candidate
    pairs only — candidate and prefix stages are checkpointed
    (ExistingRDD), no CartesianProduct, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["dedup_edit_verify"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    assert "rangepartitioning" not in plan


def test_rrf_fusion_bounded_probe_no_cartesian(spark):
    """emb_rrf_fusion: both arms are the bounded broadcast-query
    probe plan; the fusion join is over <= 20-rows-per-query tables.
    No CartesianProduct, no global rangepartitioning sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["emb_rrf_fusion"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_mst_component_windows_no_cartesian(spark):
    """web_mst_backbone: Boruvka's min-out-edge selection windows
    are PARTITIONED by component, the label/contract joins are
    keyed; checkpointed invariants show as ExistingRDD. No
    CartesianProduct, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_mst_backbone"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    assert "rangepartitioning" not in plan


def test_ks_single_scan_value_dictionary_windows(spark):
    """text_ks_lengths: the corpus is touched only by the
    checkpointed per-length count agg (ExistingRDD in the final
    plan); the ECDF windows run over the length-value dictionary —
    the 1-row totals ride a broadcast nested loop (allowed dim
    convention), never a corpus-sized cartesian."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_ks_lengths"](spark, SF_TINY))
    assert plan.count("documents.parquet") == 0  # checkpointed count agg
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_ab_test_single_agg_no_join(spark):
    """ev_ab_test: one map-side-combined conditional-count agg over
    the event scan; all statistics are a 1-row projection."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_ab_test"](spark, SF_TINY))
    assert plan.count("events.parquet") == 1
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_markov_stationary_dictionary_loop(spark):
    """ev_markov_stationary: the transition matrix and every pi
    iterate are checkpointed dictionary tables (ExistingRDD); the
    corpus appears only in the empirical-share agg scan. No
    cartesian, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_markov_stationary"](spark, SF_TINY))
    assert plan.count("events.parquet") == 0  # all aggs checkpointed
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_kendall_dictionary_self_join(spark):
    """web_rank_correlation: the pair enumeration is a self-join of
    the checkpointed HOST dictionary (broadcast nested loop over the
    bounded host table is the declared contract); corpus-sized work
    is only the host-graph agg feeding it."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_rank_correlation"](spark, SF_TINY))
    assert "ExistingRDD" in plan
    assert "rangepartitioning" not in plan


def test_weighted_reservoir_take_ordered(spark):
    """text_weighted_reservoir: top-k is TakeOrderedAndProject
    (per-partition heaps), never a global rangepartitioning sort of
    the corpus."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_weighted_reservoir"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("documents.parquet") == 1


def test_permutation_single_wide_agg(spark):
    """ev_permutation_fdr: all 64 permutations + the observed split
    are conditional sums in ONE aggregation over a single events
    scan (minhash wide-agg discipline); BH runs over the
    checkpointed type dictionary."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_permutation_fdr"](spark, SF_TINY))
    assert "ExistingRDD" in plan  # checkpointed p-value dictionary
    assert plan.count("events.parquet") == 0
    assert "CartesianProduct" not in plan


def test_fd_discovery_one_agg_per_table(spark):
    """rel_fd_discovery: each table is scanned once (all its
    candidates share one aggregation); no joins anywhere."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["rel_fd_discovery"](spark, SF_TINY))
    for t in ["nation", "orders", "lineitem", "part", "customer", "supplier"]:
        assert plan.count(f"{t}.parquet") == 1, t
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_uncertainty_sample_bounded_topk(spark):
    """data_uncertainty_sample: per-doc windows are PARTITIONED by
    doc_id; the final top-20 is TakeOrderedAndProject — no global
    rangepartitioning sort of the margin table."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_uncertainty_sample"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_mmr_candidates_first_no_cartesian(spark):
    """emb_mmr_rerank: the pairwise-sim table and every greedy
    iterate are candidate-sized and checkpointed; no corpus
    CartesianProduct, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["emb_mmr_rerank"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    assert "rangepartitioning" not in plan


def test_kmv_jaccard_host_windows(spark):
    """web_kmv_host_jaccard: the bottom-k window is PARTITIONED by
    host; the pair join runs over the checkpointed host dictionary
    (broadcast sizes); no corpus cartesian."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_kmv_host_jaccard"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    assert "rangepartitioning" not in plan


def test_platt_newton_corpus_scans(spark):
    """text_platt_scaling: the final plan holds only the NLL-report
    scan plus the checkpointed 1-row parameter table (the 4 Newton
    sums ran eagerly at build); no joins beyond the broadcast
    params, no sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_platt_scaling"](spark, SF_TINY))
    assert plan.count("documents.parquet") == 1  # the NLL report scan
    assert "ExistingRDD" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_incremental_cc_star_plus_delta_only(spark):
    """kg_components_incremental: the per-batch CC runs on the
    checkpointed LABEL table (star edges) plus the delta — the base
    edge set never reappears in the final plan; pointer-jump only,
    no cartesian, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_components_incremental"](spark, SF_TINY))
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_exponential_gof_partitioned_windows(spark):
    """ev_exponential_gof: lag + ECDF + argmax windows all
    PARTITIONED by event_type; the gap-value dictionary is
    checkpointed; no global sort, no cartesian."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_exponential_gof"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    assert "ExistingRDD" in plan


def test_dataset_card_two_scans(spark):
    """data_dataset_card: one wide-agg projection scan + the
    language-mode scan; everything after is 1-row arithmetic."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_dataset_card"](spark, SF_TINY))
    assert plan.count("documents.parquet") == 2
    assert "TakeOrderedAndProject" in plan  # the 1-row language mode
    assert "CartesianProduct" not in plan


def test_resize_real_arrow_batch_path(spark):
    """mm_resize_real: one mapInPandas (ArrowEvalPython/MapInPandas)
    pass over the image partition; no shuffle beyond it."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["mm_resize_real"](spark, SF_TINY))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_span_corruption_window_only_no_join(spark):
    """text_span_corruption: the lookback is lag windows PARTITIONED
    by doc — no join anywhere in the plan."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_span_corruption"](spark, SF_TINY))
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_fim_pure_projection_zero_exchange(spark):
    """text_fim_transform: pure scan projection — no Exchange of any
    kind in the plan."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_fim_transform"](spark, SF_TINY))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_temporal_integrity_single_join_rollup(spark):
    """rel_temporal_integrity: one order-key equi-join + one keyed
    agg; the rollup runs over the checkpointed 5-row dictionary."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["rel_temporal_integrity"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    assert "rangepartitioning" not in plan


def test_triplet_mine_pair_table_only(spark):
    """emb_triplet_mine: everything downstream of the LSH pairs runs
    on checkpointed candidate-sized tables (broadcast suspect
    lookups, 1-row corpus-count dim); no corpus cartesian."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["emb_triplet_mine"](spark, SF_TINY))
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan
    assert "SortMergeJoin" not in plan


def test_psi_integer_binning_single_agg(spark):
    """data_psi_drift: the bin is integer division in the scan
    projection; one map-side-combined (bin, half) count agg is the
    only corpus shuffle; the PSI window runs over the checkpointed
    10-row bin dictionary."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_psi_drift"](spark, SF_TINY))
    assert plan.count("documents.parquet") == 0  # checkpointed grid
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_q2_broadcast_dims_no_smj(spark):
    """rel_min_cost_supplier: supplier/nation/region/part all
    broadcast; the per-part argmin window partitions by part; the
    global top-20 is TakeOrderedAndProject."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["rel_min_cost_supplier"](spark, SF_TINY))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_diamond_audit_wedge_join(spark):
    """onto_diamond_audit: one self-join of the checkpointed edge
    dictionary keyed by the mid node (the kg_triangles wedge shape);
    no cartesian, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["onto_diamond_audit"](spark, SF_TINY))
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_markov_attribution_dictionary_chains(spark):
    """ev_markov_attribution: the transition matrix is checkpointed
    once and all five chain variants iterate over it; the corpus
    never reappears in the final plan."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_markov_attribution"](spark, SF_TINY))
    assert plan.count("events.parquet") == 0
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_interval_coverage_windows_no_self_join(spark):
    """ev_interval_coverage: the island merge is two windows
    PARTITIONED by user + two keyed aggs — no interval self-join,
    no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_interval_coverage"](spark, SF_TINY))
    assert "Join" not in plan
    assert "rangepartitioning" not in plan


def test_peak_detect_day_dictionary_window(spark):
    """ev_peak_detect: one daily count agg + one lag/lead window
    pass PARTITIONED by type over the day dictionary."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["ev_peak_detect"](spark, SF_TINY))
    assert "Join" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("events.parquet") == 1


def test_burstiness_take_ordered_no_vocab_window(spark):
    """text_term_burstiness: top-k is TakeOrderedAndProject over the
    vocabulary — never the unpartitioned global-rank window the
    round-3 VERDICT flagged."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_term_burstiness"](spark, SF_TINY))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_scd2_pointintime_broadcast_dimension(spark):
    """rel_scd2_pointintime: the versioned dimension BROADCASTS (the
    temporal-lookup contract); no SortMergeJoin of two fact-sized
    sides, no cartesian."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["rel_scd2_pointintime"](spark, SF_TINY))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_slice_finder_dictionary_aggs(spark):
    """data_slice_finder: predictions ride the shared NB pipeline;
    banding is one keyed join; slice + overall stats come from the
    checkpointed prediction dictionary."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_slice_finder"](spark, SF_TINY))
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_code_gate_pure_projection(spark):
    """text_code_gate: scan projection only — no Exchange, no
    join."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["text_code_gate"](spark, SF_TINY))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_colbert_broadcast_probe_integer_aggs(spark):
    """emb_colbert_maxsim: the query-token table broadcasts against
    the distinct (doc, token) stream (the cosine_topk probe
    convention — a BroadcastNestedLoopJoin over a 30-row broadcast
    side); the MaxSim reduction is two map-side-combinable keyed
    aggs; no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["emb_colbert_maxsim"](spark, SF_TINY))
    assert "rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_effective_diameter_dictionary_reduction(spark):
    """web_effective_diameter: everything downstream of the
    checkpointed HyperANF rows is one dictionary-sized reduction;
    no cartesian, no global sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_effective_diameter"](spark, SF_TINY))
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


# ---------------------------------------------------------------------------
# Round-5 sweep: every fixed-horizon iterative query in the driver
# window asserts its materialization / checkpoint shape (VERDICT r4
# ask #6). The shared contract: loop invariants and per-round state
# are localCheckpoint()ed (they surface as ExistingRDD scans), so the
# final plan's lineage is one round deep — untruncated, round i
# embeds O(2^i) copies of the round-0 subtree and the corpus scan
# replays every round.
# ---------------------------------------------------------------------------


def test_simrank_checkpointed_edges_no_corpus_rescan(spark):
    """web_simrank: the distinct edge list (joined 2x per unrolled
    iteration plus the wedge join) is eagerly checkpointed, so the
    final plan is all ExistingRDD-rooted joins — the documents scan
    that produced the host edges never reappears. No cartesian."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_simrank"](spark, SF_TINY))
    assert "ExistingRDD" in plan
    assert plan.count("documents.parquet") == 0
    assert "CartesianProduct" not in plan


def test_weighted_sssp_per_round_truncation(spark):
    """web_weighted_sssp: the weighted edge table (loop invariant)
    and every non-final frontier are checkpointed; the returned
    round's plan holds exactly one relaxation (one join + one
    min-agg) over ExistingRDD inputs — not _SSSP_ROUNDS unrolled
    copies of the host-graph aggregation."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_weighted_sssp"](spark, SF_TINY))
    assert "ExistingRDD" in plan
    assert plan.count("documents.parquet") == 0
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_label_propagation_per_round_truncation(spark):
    """kg_label_propagation: the symmetrized edge invariant and each
    round's labels are checkpointed; the final plan is ONE
    neighbor-join + ONE count + ONE min-struct argmax over
    ExistingRDD inputs. All-integer aggs, no window, no sort."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_label_propagation"](spark, SF_TINY))
    assert "ExistingRDD" in plan
    assert plan.count("documents.parquet") == 0
    assert "rangepartitioning" not in plan


def test_truth_discovery_claims_computed_once(spark):
    """kg_truth_discovery: the distinct claims table has three
    consumers (vote agg, trust join, trust-weighted re-vote) and is
    checkpointed, so the link->doc derivation appears in NO
    downstream plan (documents scan count 0, claims root is
    ExistingRDD). The (entity, value)-keyed score joins MAY
    shuffle — both sides are corpus-derived, that IS the correct
    10^12-row shape — but nothing cartesians and the only windows
    partition by entity (no global sort)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_truth_discovery"](spark, SF_TINY))
    assert "ExistingRDD" in plan
    assert plan.count("documents.parquet") == 0
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan


def test_bpe_train_rounds_never_rescan_corpus(spark):
    """text_bpe_train: the word dictionary is checkpointed after the
    single corpus pass and after every merge rewrite, so round r's
    pair-frequency argmax runs over ExistingRDD — NOT a replay of
    the corpus explode+groupBy. Asserted on the round-_BPE_ROUNDS
    pair plan (the one the last .first() executes)."""
    from pyspark.sql import functions as F

    from multiomics_biocypher_kg_spark.registry import QUERIES

    # running the query drives all rounds; the cheap re-derivation
    # below mirrors round 1's pair plan rooted at the checkpoint.
    QUERIES["text_bpe_train"](spark, SF_TINY).collect()
    from multiomics_biocypher_kg_spark.registry_pretrain import _docs

    wc = (
        _docs(spark, SF_TINY)
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word").rlike("^[a-z]{2,}$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("seg", F.regexp_replace("word", "(.)", "($1)"))
        .localCheckpoint(eager=True)
    )
    pairs = (
        wc.select(
            "n",
            F.split(F.expr("trim(BOTH '()' FROM seg)"), r"\)\(").alias("syms"),
        )
        .where(F.size("syms") >= 2)
        .select("n", F.explode(F.col("syms")).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("n").alias("freq"))
    )
    plan = _plan(pairs)
    assert "ExistingRDD" in plan
    assert plan.count("documents.parquet") == 0


def test_percolation_checkpointed_edges_broadcast_hub_filter(spark):
    """web_percolation_robustness: the distinct edge set feeds the
    degree agg and BOTH pointer-jump CC runs from one eager
    checkpoint; the top-K hub set is TakeOrderedAndProject and its
    anti-joins broadcast. Both CC runs materialize inside
    connected_components (pointer-jump rounds are checkpointed), so
    the FINAL plan is only the scalar assembly: ExistingRDD roots,
    zero corpus rescans, and the two declared 1-row broadcast
    crossJoins — no shuffle join survives to the output plan."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["web_percolation_robustness"](spark, SF_TINY))
    assert "ExistingRDD" in plan
    assert plan.count("documents.parquet") == 0
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2  # the 1-row scalars


def test_split_by_cluster_lsh_pairs_computed_once(spark):
    """data_split_by_cluster: the MinHash-LSH pair table has two
    consumers (the CC pass and the leakage audit join) and is
    checkpointed, so the shingle->minhash->band pipeline appears in
    NO downstream plan — the final plan's pair inputs are
    ExistingRDD. The leak/total scalars ride broadcasts."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["data_split_by_cluster"](spark, SF_TINY))
    assert "ExistingRDD" in plan
    assert "posexplode" not in plan.lower()  # no shingle re-derivation
    assert "CartesianProduct" not in plan


def test_transe_score_pure_projection_no_shuffle_tail(spark):
    """kg_transe_score: scoring is a map-side expression chain over
    the materialized triples — the plan adds NO aggregation, join,
    or sort beyond what the triple pipeline itself needs (embedding
    dims are md5-derived in the projection, there is no parameter
    table)."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    plan = _plan(QUERIES["kg_transe_score"](spark, SF_TINY))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
