"""Relational, events, and skew query families (SURVEY.md S2.3-2.8,
S2.11 tumbling windows; FIXTURES relational/events shapes).

Split out of registry.py in round 4 — a pure move: every @register
call and oracle string is verbatim from the original file, so the
driver-facing surface is byte-identical. Shared pipeline fragments
stay in registry (one source of truth); this module only holds the
TPC-H-ish and events-table query families.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.registry import _read, register
from multiomics_biocypher_kg_spark.sources.pages import pages_from_documents

# --------------------------------------------------------------------------
# Relational section: the reference's aggregate/window/join inventory
# (SURVEY.md §2.3-2.8) exercised over the TPC-H-ish tables.
# --------------------------------------------------------------------------


@register(
    "rel_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
      round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
      round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_base_price,
      round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_disc_price,
      round(CAST(avg(l_quantity) AS DOUBLE), 6) AS avg_qty,
      round(CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS DOUBLE), 6) AS avg_disc,
      count(*) AS count_order,
      CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_disc
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A3 (group rollups + conditional counts), TPC-H Q1 shape."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "2001-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 2
            ).alias("sum_base_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
                ).cast("double"),
                2,
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
            .cast("long")
            .alias("n_high_disc"),
        )
    )


@register(
    "rel_top_suppliers_per_nation",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue
      FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
      SELECT s.s_nationkey, s.s_suppkey, s.s_name, r.revenue,
             CAST(row_number() OVER (PARTITION BY s.s_nationkey
                  ORDER BY r.revenue DESC, s.s_suppkey ASC) AS INTEGER) AS rnk
      FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    )
    SELECT s_nationkey, s_suppkey, s_name, revenue, rnk FROM ranked WHERE rnk <= 3
    """,
)
def rel_top_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 (top-k per group) + J1 (broadcast dim join).

    Physical: lineitem pre-aggregated per suppkey (map-side partial
    agg), supplier broadcast, window over small aggregate only."""
    from pyspark.sql import Window

    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            ).cast("double"),
            2,
        ).alias("revenue")
    )
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("revenue").desc(), F.col("s_suppkey").asc()
    )
    return (
        rev.join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("s_nationkey", "s_suppkey", "s_name", "revenue", "rnk")
    )


@register(
    "rel_market_share",
    oracle="""
    SELECT r.r_name AS region, CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
      round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE), 2) AS revenue,
      count(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, year(o.o_orderdate)
    """,
)
def rel_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: star join — fact shuffled once on orderkey, every
    dimension broadcast; Catalyst collapses dim chain map-side."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "rel_ref_integrity",
    oracle="""
    SELECT o.o_orderstatus,
      count(*) AS n_orders,
      CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderstatus
    """,
)
def rel_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 (skip_bad_relationships): orphan-edge detection via
    left join + null probe (semi/anti equivalent, counted)."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer").select("c_custkey")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )
    )


@register(
    "rel_collect_sorted",
    oracle="""
    SELECT n.n_name,
      string_agg(DISTINCT c.c_mktsegment, '|' ORDER BY c.c_mktsegment) AS segments,
      count(DISTINCT c.c_mktsegment) AS n_segments
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def rel_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: sorted distinct collect (apoc.coll.sort analog),
    canonicalized to a pipe-joined string."""
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), "|").alias(
                "segments"
            ),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


@register(
    "rel_parallel_arrays",
    oracle="""
    WITH pre AS (
      SELECT l_returnflag, CAST(month(l_shipdate) AS INTEGER) AS m,
             round(CAST(sum(l_quantity) AS DOUBLE), 2) AS qty
      FROM lineitem GROUP BY l_returnflag, month(l_shipdate)
    )
    SELECT l_returnflag,
      string_agg(CAST(m AS VARCHAR), '|' ORDER BY m) AS month_labels,
      string_agg(CAST(qty AS VARCHAR), '|' ORDER BY m) AS month_totals
    FROM pre GROUP BY l_returnflag
    """,
)
def rel_parallel_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: ordered parallel-array collect (time_point_labels/totals
    pattern, post-import.cypher:235-270): pre-agg per (group, order
    key), sort_array(collect_list(struct)), project parallel arrays."""
    li = _read(spark, sf_dir, "lineitem")
    pre = li.groupBy(
        "l_returnflag", F.month("l_shipdate").cast("int").alias("m")
    ).agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
    return (
        pre.groupBy("l_returnflag")
        .agg(F.array_sort(F.collect_list(F.struct("m", "qty"))).alias("arr"))
        .select(
            "l_returnflag",
            F.array_join(
                F.transform("arr", lambda x: x["m"].cast("string")), "|"
            ).alias("month_labels"),
            F.array_join(
                F.transform("arr", lambda x: x["qty"].cast("string")), "|"
            ).alias("month_totals"),
        )
    )


@register(
    "rel_percentile_stats",
    oracle="""
    SELECT l_returnflag,
      round(CAST(min(l_extendedprice) AS DOUBLE), 6) AS min_value,
      round(CAST(max(l_extendedprice) AS DOUBLE), 6) AS max_value,
      round(CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE), 6) AS p25,
      round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 6) AS p50,
      round(CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE), 6) AS p75,
      count(l_extendedprice) AS n_values
    FROM lineitem GROUP BY l_returnflag
    """,
)
def rel_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: exact percentileCont quartiles (post-import.cypher:339-350).
    Exact percentile(), not percentile_approx — pinned semantics."""
    from multiomics_biocypher_kg_spark.operators.enrich import distribution_stats

    li = _read(spark, sf_dir, "lineitem")
    return distribution_stats(li, ["l_returnflag"], "l_extendedprice")


@register(
    "rel_mode_consensus",
    oracle="""
    WITH counts AS (
      SELECT p_type, p_brand, count(*) AS cnt,
        CASE WHEN p_brand = 'Brand#13' THEN 1 ELSE 0 END AS excluded
      FROM part GROUP BY p_type, p_brand
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY p_type
        ORDER BY excluded ASC, cnt DESC, p_brand ASC) AS rn
      FROM counts
    )
    SELECT p_type, p_brand AS consensus_brand, cnt AS n_members FROM ranked WHERE rn = 1
    """,
)
def rel_mode_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: mode/consensus with exclusion preference ('hypothetical
    protein' blacklist analog, ortholog_group_adapter.py:51-64):
    most-common brand per type, preferring non-blacklisted values,
    deterministic tiebreak."""
    from pyspark.sql import Window

    p = _read(spark, sf_dir, "part")
    counts = (
        p.groupBy("p_type", "p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "excluded", F.when(F.col("p_brand") == "Brand#13", 1).otherwise(0)
        )
    )
    w = Window.partitionBy("p_type").orderBy(
        F.col("excluded").asc(), F.col("cnt").desc(), F.col("p_brand").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("p_type", F.col("p_brand").alias("consensus_brand"), F.col("cnt").alias("n_members"))
    )


@register(
    "rel_union_evidence",
    oracle="""
    WITH tagged AS (
      SELECT c_nationkey AS nationkey, 'customer' AS source FROM customer
      UNION ALL
      SELECT s_nationkey, 'supplier' FROM supplier
    )
    SELECT nationkey,
      string_agg(DISTINCT source, '|' ORDER BY source) AS evidence_sources,
      count(*) AS n_refs
    FROM tagged GROUP BY nationkey
    """,
)
def rel_union_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U5: union of tagged evidence streams + per-key
    evidence_sources accretion (post-import.cypher:1056-1087)."""
    c = _read(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("source")
    )
    s = _read(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("source")
    )
    return (
        c.unionByName(s)
        .groupBy("nationkey")
        .agg(
            F.array_join(F.array_sort(F.collect_set("source")), "|").alias(
                "evidence_sources"
            ),
            F.count(F.lit(1)).alias("n_refs"),
        )
    )


@register(
    "rel_window_rank_effect",
    oracle="""
    WITH ranked AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        CAST(row_number() OVER (PARTITION BY l_suppkey
          ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS INTEGER)
          AS rank_by_effect
      FROM lineitem
    )
    SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rank_by_effect
    FROM ranked WHERE rank_by_effect <= 3
    """,
)
def rel_window_rank_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2: rank_by_effect — fully tie-broken row_number window
    (post-import.cypher:693-705 ORDER BY abs(fc) DESC, padj, locus)."""
    from pyspark.sql import Window

    li = _read(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    return (
        li.withColumn("rank_by_effect", F.row_number().over(w))
        .where(F.col("rank_by_effect") <= 3)
        .select(
            "l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice", "rank_by_effect"
        )
    )


# --------------------------------------------------------------------------
# Events section: sessionization, as-of join, range join, replicate
# aggregation, majority vote, ordering, significance cascade, JSON.
# --------------------------------------------------------------------------


@register(
    "ev_sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts,
        date_diff('second',
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap
      FROM events
    ),
    s AS (
      SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > 21600 THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_id
      FROM g
    )
    SELECT user_id, session_id, count(*) AS n_events,
      CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
      CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch
    FROM s GROUP BY user_id, session_id
    """,
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap > 6h starts a new session (the batch
    twin of streaming session_window; one shuffle keyed by user)."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        ev.withColumn("gap", gap)
        .withColumn(
            "session_id",
            F.sum(
                F.when(F.col("gap").isNull() | (F.col("gap") > 21600), 1).otherwise(0)
            )
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("int"),
        )
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("start_epoch"),
        F.unix_timestamp(F.max("ts")).alias("end_epoch"),
    )


@register(
    "ev_asof_join",
    oracle="""
    SELECT e.event_id AS error_id,
      (SELECT c.event_id FROM events c
       WHERE c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts
       ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_id
    FROM events e WHERE e.event_type = 'error'
    """,
)
def ev_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (most recent prior click per error, per user) via
    the union+window trick: tag both streams, sort within user by
    (ts, type, id), carry last click id forward — one shuffle, no
    per-group pandas, scales to arbitrary group sizes."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "error")
    )
    # 'click' < 'error' lexicographically -> clicks at equal ts sort first
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_type", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = ev.withColumn(
        "click_id",
        F.last(
            F.when(F.col("event_type") == "click", F.col("event_id")),
            ignorenulls=True,
        ).over(w),
    )
    return tagged.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "click_id"
    )


@register(
    "ev_range_join",
    oracle="""
    SELECT c.event_id AS click_id, v.event_id AS view_id
    FROM events c JOIN events v
      ON c.user_id = v.user_id AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts > c.ts AND date_diff('second', c.ts, v.ts) <= 86400
    """,
)
def ev_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6-style interval/range join (position-fallback merge analog,
    build_gene_mapping.py:186-294): views within 24h after a click.

    Physical strategy: bucketize time into window-sized buckets and
    equi-join on (user, bucket) with the click exploded into its two
    candidate buckets — turns a theta join (cross product per user)
    into a hash join; the residual predicate filters exactly."""
    ev = _read(spark, sf_dir, "events")
    win = 86400
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
        F.explode(
            F.array(
                (F.unix_timestamp("ts") / win).cast("long"),
                (F.unix_timestamp("ts") / win).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
        (F.unix_timestamp("ts") / win).cast("long").alias("bucket"),
    )
    return (
        clicks.join(views, ["bucket"])
        .where(
            (F.col("cu") == F.col("vu"))
            & (F.col("vts") > F.col("cts"))
            & (
                F.unix_timestamp("vts") - F.unix_timestamp("cts") <= win
            )
        )
        .select("click_id", "view_id")
    )


@register(
    "ev_replicate_agg",
    oracle="""
    SELECT user_id, event_type,
      count(*) AS n,
      round(CAST(avg(value) AS DOUBLE), 6) AS mean_value,
      CASE WHEN count(*) > 1 THEN round(CAST(stddev_samp(value) AS DOUBLE), 6) END AS sd_value,
      CAST(sum(CASE WHEN value > 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      CASE WHEN sum(CASE WHEN value > 10 THEN 1 ELSE 0 END) >= 2 THEN 'detected'
           WHEN sum(CASE WHEN value > 10 THEN 1 ELSE 0 END) = 1 THEN 'sporadic'
           ELSE 'not_detected' END AS detection_status
    FROM events GROUP BY user_id, event_type
    """,
)
def ev_replicate_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: replicate aggregation (metabolite_assay_adapter.py:106-148):
    mean / sample-stdev / n / n-above-threshold / detection_status."""
    ev = _read(spark, sf_dir, "events")
    n_high = F.sum(F.when(F.col("value") > 10, 1).otherwise(0))
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mean_value"),
        F.when(F.count(F.lit(1)) > 1, F.round(F.stddev_samp("value"), 6)).alias(
            "sd_value"
        ),
        n_high.cast("long").alias("n_high"),
        F.when(n_high >= 2, F.lit("detected"))
        .when(n_high == 1, F.lit("sporadic"))
        .otherwise(F.lit("not_detected"))
        .alias("detection_status"),
    )


@register(
    "ev_majority_vote",
    oracle="""
    WITH votes AS (
      SELECT user_id,
        CASE WHEN event_id % 3 <> 0 THEN 'hot' ELSE event_type END AS vote
      FROM events
    ),
    per AS (
      SELECT user_id, vote, count(*) AS cnt FROM votes GROUP BY user_id, vote
    ),
    tot AS (SELECT user_id, CAST(sum(cnt) AS BIGINT) AS total FROM per GROUP BY user_id)
    SELECT p.user_id, p.vote, p.cnt, t.total
    FROM per p JOIN tot t ON p.user_id = t.user_id
    WHERE p.cnt * 2 > t.total
    """,
)
def ev_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: strict >50% majority vote (ortholog_group_adapter.py:67-81).

    The raw events fixture has no >50% type per user, which made the
    oracle comparison vacuous (0 rows both sides); a deterministic
    skewed vote column ('hot' for 2/3 of events) makes the majority
    predicate fire so the check compares real rows.
    """
    ev = _read(spark, sf_dir, "events")
    votes = ev.select(
        "user_id",
        F.when(F.col("event_id") % 3 != 0, F.lit("hot"))
        .otherwise(F.col("event_type"))
        .alias("vote"),
    )
    per = votes.groupBy("user_id", "vote").agg(F.count(F.lit(1)).alias("cnt"))
    tot = per.groupBy("user_id").agg(F.sum("cnt").cast("long").alias("total"))
    return (
        per.join(tot, "user_id")
        .where(F.col("cnt") * 2 > F.col("total"))
        .select("user_id", "vote", "cnt", "total")
    )


@register(
    "kg_alias_remap",
    oracle="""
    WITH nodes AS (
      SELECT DISTINCT 'n' || CAST(p_partkey % 37 AS VARCHAR) AS id
      FROM part WHERE p_partkey % 3 <> 0
    ),
    aliases AS (
      SELECT 'a' || CAST(p_partkey % 53 AS VARCHAR) AS orig,
             min('n' || CAST(p_partkey % 37 AS VARCHAR)) AS anchor
      FROM part WHERE p_partkey % 5 = 0
      GROUP BY 'a' || CAST(p_partkey % 53 AS VARCHAR)
    ),
    edges AS (
      SELECT 'g' || CAST(l_orderkey AS VARCHAR) || '_'
               || CAST(l_linenumber AS VARCHAR) AS subj,
        CASE WHEN l_partkey % 2 = 0 THEN 'n' || CAST(l_partkey % 37 AS VARCHAR)
             ELSE 'a' || CAST(l_partkey % 53 AS VARCHAR) END AS obj
      FROM lineitem
    )
    SELECT e.subj,
      CASE WHEN n.id IS NOT NULL THEN e.obj
           WHEN n2.id IS NOT NULL THEN a.anchor END AS obj,
      CASE WHEN n.id IS NOT NULL THEN 'kept'
           WHEN n2.id IS NOT NULL THEN 'remapped'
           ELSE 'dropped' END AS remap_status
    FROM edges e
    LEFT JOIN nodes n ON e.obj = n.id
    LEFT JOIN aliases a ON e.obj = a.orig
    LEFT JOIN nodes n2 ON a.anchor = n2.id
    """,
)
def kg_alias_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (tcdb_adapter.py:204-238): edges to retired ids re-anchor
    onto the nearest curated ancestor via the seed-alias broadcast
    map; unknown-and-unaliased targets drop (status retained). All
    dims broadcast — the edge stream never shuffles."""
    from multiomics_biocypher_kg_spark.operators.materialize import referential_remap

    part = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem")
    nodes = (
        part.where(F.col("p_partkey") % 3 != 0)
        .select(F.concat(F.lit("n"), (F.col("p_partkey") % 37).cast("string")).alias("id"))
        .distinct()
    )
    aliases = part.where(F.col("p_partkey") % 5 == 0).select(
        F.concat(F.lit("a"), (F.col("p_partkey") % 53).cast("string")).alias("orig"),
        F.concat(F.lit("n"), (F.col("p_partkey") % 37).cast("string")).alias("anchor"),
    )
    edges = li.select(
        F.concat(
            F.lit("g"),
            F.col("l_orderkey").cast("string"),
            F.lit("_"),
            F.col("l_linenumber").cast("string"),
        ).alias("subj"),
        F.when(
            F.col("l_partkey") % 2 == 0,
            F.concat(F.lit("n"), (F.col("l_partkey") % 37).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("a"), (F.col("l_partkey") % 53).cast("string"))
        )
        .alias("obj"),
    )
    return referential_remap(edges, nodes, aliases)


@register(
    "rel_arraycontains_rollup",
    oracle="""
    WITH pubs AS (
      SELECT doc_id,
        ['org' || CAST(doc_id % 7 AS VARCHAR),
         'org' || CAST(doc_id % 11 AS VARCHAR)] AS organisms,
        ['t' || CAST(doc_id % 3 AS VARCHAR)] AS treatment_types
      FROM documents
    ),
    orgs AS (
      SELECT DISTINCT 'org' || CAST(doc_id % 11 AS VARCHAR) AS preferred_name
      FROM documents
    ),
    matched AS (
      SELECT o.preferred_name, p.doc_id, p.treatment_types
      FROM orgs o JOIN pubs p ON list_contains(p.organisms, o.preferred_name)
    ),
    exploded AS (
      SELECT preferred_name, doc_id, unnest(treatment_types) AS tt FROM matched
    )
    SELECT preferred_name,
      CAST(count(DISTINCT doc_id) AS BIGINT) AS publication_count,
      string_agg(DISTINCT tt, '|' ORDER BY tt) AS treatment_types
    FROM exploded GROUP BY preferred_name
    """,
)
def rel_arraycontains_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14 (post-import.cypher:294-309): the ANY(org IN p.organisms)
    membership 'soft join' — expressed at scale as explode + equi-join
    (never a per-row array scan against every organism), then the
    per-organism publication_count + deduped union of array props."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pubs = docs.select(
        "doc_id",
        F.array(
            F.concat(F.lit("org"), (F.col("doc_id") % 7).cast("string")),
            F.concat(F.lit("org"), (F.col("doc_id") % 11).cast("string")),
        ).alias("organisms"),
        F.array(
            F.concat(F.lit("t"), (F.col("doc_id") % 3).cast("string"))
        ).alias("treatment_types"),
    )
    orgs = docs.select(
        F.concat(F.lit("org"), (F.col("doc_id") % 11).cast("string")).alias(
            "preferred_name"
        )
    ).distinct()
    matched = (
        pubs.select(
            "doc_id", "treatment_types", F.explode("organisms").alias("org")
        )
        .join(F.broadcast(orgs), F.col("org") == F.col("preferred_name"))
    )
    exploded = matched.select(
        "preferred_name", "doc_id", F.explode("treatment_types").alias("tt")
    )
    return exploded.groupBy("preferred_name").agg(
        F.countDistinct("doc_id").alias("publication_count"),
        F.array_join(F.array_sort(F.collect_set("tt")), "|").alias(
            "treatment_types"
        ),
    )


@register(
    "rel_percentile_disc",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
        row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
      round(min(value), 6) AS value_min,
      round(max(value), 6) AS value_max,
      round(max(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT))
                THEN value END), 6) AS value_q1,
      round(max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
                THEN value END), 6) AS value_median,
      round(max(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * n) AS BIGINT))
                THEN value END), 6) AS value_q3
    FROM ranked GROUP BY event_type
    """,
)
def rel_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 discrete variant (post-import.cypher:1203-1214): Neo4j
    percentileDisc nearest-rank (value AT index ceil(p*n), never
    interpolated) for q1/median/q3 + min/max per assay group —
    row_number window + conditional agg, identical rank convention
    on both engines."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def disc(p):
        idx = F.greatest(F.lit(1), F.ceil(p * F.col("n")).cast("long"))
        return F.max(F.when(F.col("rn") == idx, F.col("value")))

    return ranked.groupBy("event_type").agg(
        F.round(F.min("value"), 6).alias("value_min"),
        F.round(F.max("value"), 6).alias("value_max"),
        F.round(disc(0.25), 6).alias("value_q1"),
        F.round(disc(0.5), 6).alias("value_median"),
        F.round(disc(0.75), 6).alias("value_q3"),
    )


@register(
    "kg_evidence_accretion",
    oracle="""
    WITH arms AS (
      SELECT DISTINCT user_id, 'metabolism' AS source, 0 AS arm
      FROM events WHERE value > 10
      UNION ALL
      SELECT DISTINCT user_id, 'transport', 1 FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT DISTINCT user_id, 'measured', 2 FROM events WHERE event_id % 2 = 0
    ),
    per AS (SELECT user_id, source, min(arm) AS first_arm
            FROM arms GROUP BY user_id, source)
    SELECT user_id, string_agg(source, '|' ORDER BY first_arm) AS evidence_sources,
           CAST(count(*) AS INTEGER) AS n_sources
    FROM per GROUP BY user_id
    """,
)
def kg_evidence_accretion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7/U5: multi-arm evidence accretion
    (post-import.cypher:1052-1094,1271-1288) — three MERGE arms
    (metabolism/transport/measured analogs) accrete evidence_sources
    per entity in arm order, each source recorded once. One-shot
    batch form; tests/test_materialize_lineage.py asserts it equal to
    a plain-Python array_union fold over the arms."""
    from multiomics_biocypher_kg_spark.operators.materialize import accrete_evidence

    ev = _read(spark, sf_dir, "events")
    arms = [
        ("metabolism", ev.where(F.col("value") > 10).select("user_id")),
        ("transport", ev.where(F.col("event_type") == "click").select("user_id")),
        ("measured", ev.where(F.col("event_id") % 2 == 0).select("user_id")),
    ]
    acc = accrete_evidence(arms, ["user_id"])
    return acc.select(
        "user_id",
        F.array_join("evidence_sources", "|").alias("evidence_sources"),
        F.size("evidence_sources").cast("int").alias("n_sources"),
    )


@register(
    "kg_gene_cds_merge",
    oracle="""
    WITH gene AS (
      SELECT p_partkey AS k, 'gene' || CAST(p_partkey AS VARCHAR) AS id,
        'PMM' || CAST(p_partkey AS VARCHAR) || '%2CPMM_'
          || CAST(p_partkey AS VARCHAR) AS locus_tag_enc
      FROM part
    ),
    cds AS (
      SELECT 'gene' || CAST(p_partkey AS VARCHAR) AS parent,
        'NP_' || CAST(p_partkey AS VARCHAR) || '.1' AS protein_id
      FROM part WHERE p_partkey % 2 = 0
    )
    SELECT g.k AS row_id,
      replace(g.locus_tag_enc, '%2C', ',') AS old_locus_tags,
      c.protein_id
    FROM gene g JOIN cds c ON g.id = c.parent
    """,
)
def kg_gene_cds_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 (build_gene_mapping.py:81-110): gene+CDS self-merge on
    ID==Parent over a synthesized GFF-shaped table (attrs maps, the
    real operator), incl. URL-decoded multi-valued locus_tag."""
    from multiomics_biocypher_kg_spark.operators.merge_rules import merge_gene_cds

    part = _read(spark, sf_dir, "part")
    ks = F.col("p_partkey").cast("string")
    gene = part.select(
        F.lit("gene").alias("type"),
        F.col("p_partkey").alias("k"),
        F.create_map(
            F.lit("ID"), F.concat(F.lit("gene"), ks),
            F.lit("locus_tag"), F.concat(F.lit("PMM"), ks, F.lit("%2CPMM_"), ks),
        ).alias("attrs"),
    )
    cds = part.where(F.col("p_partkey") % 2 == 0).select(
        F.lit("CDS").alias("type"),
        F.col("p_partkey").alias("k"),
        F.create_map(
            F.lit("Parent"), F.concat(F.lit("gene"), ks),
            F.lit("protein_id"), F.concat(F.lit("NP_"), ks, F.lit(".1")),
        ).alias("attrs"),
    )
    merged = merge_gene_cds(gene.unionByName(cds), decode_locus_tag=True)
    return merged.select(
        F.col("k_gene").alias("row_id"),
        "old_locus_tags",
        F.col("attrs_cds").getItem("protein_id").alias("protein_id"),
    )


@register(
    "omics_fc_range_check",
    oracle="""
    WITH rows_ AS (
      SELECT 'a' || CAST(user_id % 6 AS VARCHAR) AS analysis_id,
        CASE WHEN user_id % 6 IN (0, 1) THEN 'linear'
             WHEN user_id % 6 IN (2, 3) THEN 'log2' END AS fold_change_type,
        CASE WHEN user_id % 6 IN (1, 3, 5)
             THEN CAST(event_id % 37 AS DOUBLE) / 10 + 1.1
             ELSE CAST(event_id % 41 - 20 AS DOUBLE) / 10 END AS fc
      FROM events
    ),
    agg AS (
      SELECT analysis_id, fold_change_type,
        count(fc) AS n,
        CAST(sum(CASE WHEN fc < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
        round(min(fc), 6) AS fc_min, round(max(fc), 6) AS fc_max
      FROM rows_ GROUP BY analysis_id, fold_change_type
    )
    SELECT *,
      CASE WHEN coalesce(fold_change_type, 'log2') = 'linear' AND n_negative > 0
           THEN 'linear_negative_fc'
           WHEN coalesce(fold_change_type, 'log2') = 'log2' AND n_negative = 0
                AND fc_min > 1.0
           THEN 'log2_maybe_linear'
           ELSE 'ok' END AS fc_range_warning
    FROM agg
    """,
)
def omics_fc_range_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 (_validate_fc_range, omics_adapter.py:95-133): per-analysis
    FC-range sanity metrics + warning enum over six synthesized
    analyses covering linear-with-negatives, log2-all->1, and
    undeclared-type branches."""
    from multiomics_biocypher_kg_spark.functions.omics import fc_range_check

    ev = _read(spark, sf_dir, "events")
    m = F.col("user_id") % 6
    rows = ev.select(
        F.concat(F.lit("a"), m.cast("string")).alias("analysis_id"),
        F.when(m.isin(0, 1), F.lit("linear"))
        .when(m.isin(2, 3), F.lit("log2"))
        .alias("fold_change_type"),
        F.when(
            m.isin(1, 3, 5), (F.col("event_id") % 37).cast("double") / 10 + 1.1
        )
        .otherwise((F.col("event_id") % 41 - 20).cast("double") / 10)
        .alias("log2_fold_change"),
    )
    return fc_range_check(rows)


@register(
    "omics_formula_elements",
    oracle="""
    WITH synth AS (
      SELECT p_partkey AS row_id,
        CASE p_partkey % 6
          WHEN 0 THEN 'C6H12O6'
          WHEN 1 THEN 'H2O'
          WHEN 2 THEN 'C' || CAST(p_partkey % 20 + 1 AS VARCHAR) || 'H'
                   || CAST(p_partkey % 30 + 2 AS VARCHAR) || 'NO4PS'
          WHEN 3 THEN '(CH3)2SO'
          WHEN 4 THEN 'not a formula!'
          ELSE ''
        END AS formula
      FROM part
    )
    SELECT row_id, formula,
      CASE WHEN formula = '' OR formula IS NULL
             OR NOT regexp_matches(formula, '^([A-Z][a-z]?[0-9]*|\\(|\\)[0-9]*|\\.[0-9]*)+$')
           THEN ''
           ELSE array_to_string(list_sort(list_distinct(
             regexp_extract_all(formula, '([A-Z][a-z]?)[0-9]*', 1))), '|')
      END AS elements
    FROM synth
    """,
)
def omics_formula_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 (_parse_elements, metabolism_adapter.py:40-53): sorted
    unique element symbols from Hill-notation formulas, empty on
    malformed/empty input (never raises)."""
    from multiomics_biocypher_kg_spark.functions.chem import formula_elements

    part = _read(spark, sf_dir, "part")
    m = F.col("p_partkey") % 6
    formula = (
        F.when(m == 0, F.lit("C6H12O6"))
        .when(m == 1, F.lit("H2O"))
        .when(
            m == 2,
            F.concat(
                F.lit("C"), (F.col("p_partkey") % 20 + 1).cast("string"),
                F.lit("H"), (F.col("p_partkey") % 30 + 2).cast("string"),
                F.lit("NO4PS"),
            ),
        )
        .when(m == 3, F.lit("(CH3)2SO"))
        .when(m == 4, F.lit("not a formula!"))
        .otherwise(F.lit(""))
    )
    return part.select(
        F.col("p_partkey").alias("row_id"),
        formula.alias("formula"),
        F.array_join(formula_elements(formula), "|").alias("elements"),
    )


@register(
    "onto_uninformative_flag",
    oracle="""
    WITH terms AS (
      SELECT p_partkey AS row_id,
        CASE p_partkey % 5
          WHEN 0 THEN 'go:0008150'
          WHEN 1 THEN 'cog.category:S'
          WHEN 2 THEN 'go:' || CAST(1000000 + p_partkey AS VARCHAR)
          ELSE 'kegg:K' || CAST(p_partkey AS VARCHAR)
        END AS id,
        CASE p_partkey % 5
          WHEN 3 THEN 'K' || CAST(p_partkey AS VARCHAR)
                   || '; uncharacterized protein'
          WHEN 4 THEN 'K' || CAST(p_partkey AS VARCHAR) || '; DNA polymerase'
          ELSE 'some term'
        END AS name
      FROM part
    )
    SELECT row_id, id, name,
      CASE WHEN id IN ('go:0008150','go:0003674','go:0005575','cog.category:S',
                       'cyanorak.role:R','cyanorak.role:R.1','cyanorak.role:R.2',
                       'cyanorak.role:R.4','cyanorak.role:R.5','tigr.role:156',
                       'tigr.role:704','tigr.role:856','tigr.role:185','tigr.role:157')
             OR regexp_matches(name, '^K\\d+;\\s+uncharacterized protein\\b')
           THEN 'true' ELSE 'false' END AS is_uninformative
    FROM terms
    """,
)
def onto_uninformative_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18 (post-import.cypher:536-559): uninformative-term flagging —
    curated direct-id list + KEGG uncharacterized-protein name
    pattern."""
    from multiomics_biocypher_kg_spark.operators.enrich import flag_uninformative

    part = _read(spark, sf_dir, "part")
    m = F.col("p_partkey") % 5
    ks = F.col("p_partkey").cast("string")
    terms = part.select(
        F.col("p_partkey").alias("row_id"),
        F.when(m == 0, F.lit("go:0008150"))
        .when(m == 1, F.lit("cog.category:S"))
        .when(m == 2, F.concat(F.lit("go:"), (F.col("p_partkey") + 1000000).cast("string")))
        .otherwise(F.concat(F.lit("kegg:K"), ks))
        .alias("id"),
        F.when(m == 3, F.concat(F.lit("K"), ks, F.lit("; uncharacterized protein")))
        .when(m == 4, F.concat(F.lit("K"), ks, F.lit("; DNA polymerase")))
        .otherwise(F.lit("some term"))
        .alias("name"),
    )
    return flag_uninformative(terms)


@register(
    "ev_timepoint_order",
    oracle="""
    SELECT event_id, user_id,
      CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER)
        AS tp_order
    FROM events
    """,
)
def ev_timepoint_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: time_point_order assignment (omics_adapter.py:446-475)."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", F.row_number().over(w).alias("tp_order")
    )


@register(
    "ev_sig_cascade",
    oracle="""
    WITH synth AS (
      SELECT event_id, user_id,
        CASE WHEN event_id % 13 = 0 THEN 'NA'
             WHEN event_id % 17 = 0 THEN ''
             ELSE CAST(event_id % 41 - 20 AS VARCHAR) || '.' ||
                  CAST(event_id % 10 AS VARCHAR) ||
                  CASE WHEN event_id % 7 = 0 THEN '*' ELSE '' END
        END AS fc_str,
        CASE WHEN event_id % 11 = 0 THEN NULL
             ELSE '0.0' || CAST(event_id % 100 AS VARCHAR) END AS p_str,
        CASE WHEN user_id % 2 = 0 THEN 'linear' ELSE 'log2' END AS fold_change_type,
        (user_id % 5 = 0) AS prefiltered,
        (user_id % 3 = 0) AS ast_mode,
        (user_id % 7 = 0) AS no_thresholds
      FROM events
    ),
    parsed AS (
      SELECT *,
        regexp_matches(fc_str, '\\*$') AS has_asterisk,
        TRY_CAST(regexp_replace(fc_str, '\\*$', '') AS DOUBLE) AS fc_num,
        TRY_CAST(p_str AS DOUBLE) AS adjusted_p
      FROM synth
    ),
    conv AS (
      SELECT *,
        CASE WHEN fold_change_type = 'linear'
             THEN CASE WHEN fc_num > 0 THEN round(log2(fc_num), 6) END
             ELSE fc_num END AS log2_fc
      FROM parsed
    )
    SELECT event_id, log2_fc, adjusted_p,
      CASE WHEN log2_fc IS NULL THEN NULL
           WHEN log2_fc > 0 THEN 'up' ELSE 'down' END AS expression_direction,
      CASE WHEN prefiltered THEN 'significant'
           WHEN ast_mode THEN
             CASE WHEN has_asterisk THEN 'significant' ELSE 'not significant' END
           WHEN no_thresholds THEN 'unknown'
           WHEN (log2_fc IS NULL OR abs(log2_fc) >= 1.0)
            AND (adjusted_p IS NULL OR adjusted_p <= 0.05) THEN 'significant'
           ELSE 'not significant' END AS significant
    FROM conv
    """,
)
def ev_sig_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/F4/F6/F7: the full significance cascade — prefiltered ->
    asterisk-mode (decides alone) -> no-thresholds 'unknown' ->
    present-checks-only AND (omics_adapter.py:595-632), with
    asterisk parsing (:770-787), linear->log2 conversion (:76-92) and
    expression direction (:828-830) — over strings synthesized
    deterministically from event ids (same on both engines)."""
    ev = _read(spark, sf_dir, "events")
    fc_core = F.concat(
        (F.col("event_id") % 41 - 20).cast("string"),
        F.lit("."),
        (F.col("event_id") % 10).cast("string"),
        F.when(F.col("event_id") % 7 == 0, F.lit("*")).otherwise(F.lit("")),
    )
    synth = ev.select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 13 == 0, F.lit("NA"))
        .when(F.col("event_id") % 17 == 0, F.lit(""))
        .otherwise(fc_core)
        .alias("fc_str"),
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("0.0"), (F.col("event_id") % 100).cast("string")))
        .alias("p_str"),
        F.when(F.col("user_id") % 2 == 0, F.lit("linear"))
        .otherwise(F.lit("log2"))
        .alias("fold_change_type"),
        (F.col("user_id") % 5 == 0).alias("prefiltered"),
        (F.col("user_id") % 3 == 0).alias("ast_mode"),
        (F.col("user_id") % 7 == 0).alias("no_thresholds"),
    )
    parsed = synth.select(
        "*",
        F.col("fc_str").rlike(r"\*$").alias("has_asterisk"),
        F.expr(r"try_cast(regexp_replace(fc_str, '\\*$', '') AS double)").alias(
            "fc_num"
        ),
        F.expr("try_cast(p_str AS double)").alias("adjusted_p"),
    )
    conv = parsed.withColumn(
        "log2_fc",
        F.when(
            F.col("fold_change_type") == "linear",
            F.when(F.col("fc_num") > 0, F.round(F.log2("fc_num"), 6)),
        ).otherwise(F.col("fc_num")),
    )
    return conv.select(
        "event_id",
        "log2_fc",
        "adjusted_p",
        F.when(F.col("log2_fc").isNull(), F.lit(None))
        .when(F.col("log2_fc") > 0, F.lit("up"))
        .otherwise(F.lit("down"))
        .alias("expression_direction"),
        F.when(F.col("prefiltered"), F.lit("significant"))
        .when(
            F.col("ast_mode"),
            F.when(F.col("has_asterisk"), F.lit("significant")).otherwise(
                F.lit("not significant")
            ),
        )
        .when(F.col("no_thresholds"), F.lit("unknown"))
        .when(
            (F.col("log2_fc").isNull() | (F.abs(F.col("log2_fc")) >= 1.0))
            & (F.col("adjusted_p").isNull() | (F.col("adjusted_p") <= 0.05)),
            F.lit("significant"),
        )
        .otherwise(F.lit("not significant"))
        .alias("significant"),
    )


@register(
    "ev_json_extract",
    oracle="""
    SELECT event_type,
      CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 analog: JSON property extraction (get_json_object)."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int"))
        .cast("long")
        .alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "ev_tumbling_window",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      event_type, count(*) AS n, round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
    FROM events GROUP BY date_trunc('day', ts), event_type
    """,
)
def ev_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (batch twin of the
    streaming groupBy(window(ts, '1 day')) in streaming.events)."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Skew / distribution patterns
# --------------------------------------------------------------------------


@register(
    "kg_host_rollup_salted",
    oracle=f"""
    WITH pages AS (
      SELECT doc_id,
        CASE WHEN doc_id % 10 < 3 THEN 'hot.example.com'
             ELSE 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' END AS host,
        lang, len(string_split(text, ' ')) AS n_toks
      FROM documents
    )
    SELECT host, count(*) AS n_pages,
      string_agg(DISTINCT lang, '|' ORDER BY lang) AS langs,
      CAST(sum(n_toks) AS BIGINT) AS total_tokens
    FROM pages GROUP BY host
    """,
)
def kg_host_rollup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key rollup with explicit salting: the hot host holds
    ~30% of the corpus (FIXTURES A1), so the per-host aggregation is
    two-phase — partial agg per (host, salt=doc_id%16), final agg per
    host. The partials are tiny, so the hot key's reduce work is
    spread over 16 tasks before the single-key merge. (For plain
    count/sum Spark's map-side combine already does this; the salted
    shape is what collect_set/countDistinct-style aggs need, shown
    here with the distinct-langs set.)"""
    pages = pages_from_documents(spark, sf_dir)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    toks = F.size(F.split(F.col("text"), " "))
    salted = (
        pages.select(
            host.alias("host"),
            (F.col("doc_id") % 16).alias("salt"),
            "lang",
            toks.alias("n_toks"),
        )
        .groupBy("host", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.collect_set("lang").alias("pl"),
            F.sum("n_toks").alias("pt"),
        )
    )
    return salted.groupBy("host").agg(
        F.sum("pn").alias("n_pages"),
        F.array_join(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("pl")))), "|"
        ).alias("langs"),
        F.sum("pt").cast("long").alias("total_tokens"),
    )


@register(
    "rel_categorical_distribution",
    oracle="""
    WITH pre AS (
      SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    )
    SELECT o_orderpriority,
      string_agg(o_orderstatus, '|' ORDER BY o_orderstatus) AS category_labels,
      string_agg(CAST(cnt AS VARCHAR), '|' ORDER BY o_orderstatus) AS category_counts
    FROM pre GROUP BY o_orderpriority
    """,
)
def rel_categorical_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 (post-import.cypher:366-373): per-group categorical
    distribution as label-sorted parallel arrays."""
    o = _read(spark, sf_dir, "orders")
    pre = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        pre.groupBy("o_orderpriority")
        .agg(
            F.array_sort(F.collect_list(F.struct("o_orderstatus", "cnt"))).alias("arr")
        )
        .select(
            "o_orderpriority",
            F.array_join(
                F.transform("arr", lambda x: x["o_orderstatus"]), "|"
            ).alias("category_labels"),
            F.array_join(
                F.transform("arr", lambda x: x["cnt"].cast("string")), "|"
            ).alias("category_counts"),
        )
    )

# Re-apply the driver-window order after this module's registrations:
# if this module is imported FIRST, registry's own bottom-of-file
# ordering pass runs before these queries exist. Idempotent.
from multiomics_biocypher_kg_spark.registry import (  # noqa: E402
    _apply_driver_window_order,
)

_apply_driver_window_order()


@register(
    "ev_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
      FROM events GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    ),
    c AS (
      SELECT
        (SELECT count(*) FROM s1 WHERE t1 IS NOT NULL) AS n1,
        (SELECT count(*) FROM s2) AS n2,
        (SELECT count(*) FROM s3) AS n3
    )
    SELECT * FROM (
      SELECT 1 AS step, 'signup' AS step_name, CAST(n1 AS BIGINT) AS n_users,
        round(1.0, 6) AS conv_from_prev FROM c
      UNION ALL
      SELECT 2, 'view', CAST(n2 AS BIGINT),
        round(CAST(n2 AS DOUBLE) / n1, 6) FROM c
      UNION ALL
      SELECT 3, 'purchase', CAST(n3 AS BIGINT),
        round(CAST(n3 AS DOUBLE) / n2, 6) FROM c
    )
    """,
)
def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (signup -> view -> purchase): a user
    counts at step k only if the step-k event happened strictly AFTER
    their step-(k-1) entry time — the product-analytics primitive
    behind conversion dashboards (Trino/ClickHouse ship windowFunnel
    for this).

    Plan shape: the three step times are STACKED window aggregates
    over the SAME user partitioning — Catalyst runs them in one
    shuffle + one sort (no per-step re-shuffle, asserted by the
    single-Exchange structure), then one map-side-combined global
    count collapses to the 3-row funnel. No per-user collect, no
    pandas.
    """
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t1 = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    d1 = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "view") & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    d2 = d1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        d2.withColumn("t3", t3)
        .groupBy("user_id")
        .agg(
            F.first("t1").alias("t1"),
            F.first("t2").alias("t2"),
            F.first("t3").alias("t3"),
        )
    )
    c = per_user.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    return c.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("step"),
                    F.lit("signup").alias("step_name"),
                    F.col("n1").alias("n_users"),
                    F.round(F.lit(1.0), 6).alias("conv_from_prev"),
                ),
                F.struct(
                    F.lit(2).alias("step"),
                    F.lit("view").alias("step_name"),
                    F.col("n2").alias("n_users"),
                    F.round(
                        F.col("n2").cast("double") / F.col("n1"), 6
                    ).alias("conv_from_prev"),
                ),
                F.struct(
                    F.lit(3).alias("step"),
                    F.lit("purchase").alias("step_name"),
                    F.col("n3").alias("n_users"),
                    F.round(
                        F.col("n3").cast("double") / F.col("n2"), 6
                    ).alias("conv_from_prev"),
                ),
            )
        ).alias("r")
    ).select("r.step", "r.step_name", "r.n_users", "r.conv_from_prev")


@register(
    "ev_rolling_window",
    oracle="""
    SELECT event_id, user_id,
      CAST(count(*) OVER w AS BIGINT) AS n_prev_hour,
      round(sum(value) OVER w, 6) AS sum_value_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def ev_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding time-RANGE window: for every event, the count and
    value-sum of the same user's events in the trailing hour — the
    rate-limit / burst-detection primitive (and the one window-frame
    kind the registry lacked: RANGE frames bound by VALUE distance,
    not row offsets, so all ts-ties are frame peers and the result is
    deterministic without a row tiebreak).

    One shuffle keyed by user + one sort; the frame is evaluated by
    a sliding two-pointer over each partition — no self-join, no
    per-event re-scan (the naive equi-join-on-user + ts-range filter
    would be quadratic in the per-user event count at scale).

    The range key is EXACT integer microseconds (unix_micros), not
    unix_timestamp: second-truncation admitted rows up to 0.999 s
    beyond the hour that the oracle's INTERVAL frame (microsecond
    timestamp arithmetic) excludes — caught at sf0.1 where one row
    sat in that sub-second band."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_prev_hour"),
        F.round(F.sum("value").over(w), 6).alias("sum_value_hour"),
    )


@register(
    "web_session_paths",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
        date_diff('second',
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap
      FROM events
    ),
    s AS (
      SELECT *, CAST(sum(CASE WHEN gap IS NULL OR gap > 21600 THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
        AS session_id
      FROM g
    ),
    firstn AS (
      SELECT * FROM (
        SELECT user_id, session_id, event_type, ts, event_id,
          row_number() OVER (PARTITION BY user_id, session_id
                             ORDER BY ts, event_id) AS rn
        FROM s) WHERE rn <= 5
    ),
    paths AS (
      SELECT user_id, session_id,
        string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM firstn GROUP BY user_id, session_id
    ),
    counted AS (
      SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
    )
    SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
      CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT path, n_sessions,
        row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS rank
      FROM counted)
    WHERE rank <= 20
    """,
)
def web_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session navigation paths: the first five event types of
    each 6h-gap session (ev_sessionize's session rule), joined into a
    'signup>view>purchase' path string, counted across sessions — the
    clickstream-mining staple behind funnel discovery (which ordered
    journeys actually happen, before ev_funnel measures a chosen
    one).

    Path assembly is sort_array(collect_list(struct(ts, event_id,
    type))) per session — a map-side-combinable aggregate, no second
    window pass; the global top-20 goes through orderBy().limit()
    (TakeOrderedAndProject — distributed partial top-k, never a
    single-task full sort of the path dictionary), with the tiny
    20-row window for the rank column."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = ev.withColumn(
        "session_id",
        F.sum(
            F.when(gap.isNull() | (gap > 21600), 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("int"),
    )
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "event_type")
                            )
                        ),
                        lambda x: x["event_type"],
                    ),
                    1,
                    5,
                ),
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    top = counted.orderBy(
        F.col("n_sessions").desc(), F.col("path").asc()
    ).limit(20)
    w20 = Window.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
    return top.select(
        "path",
        "n_sessions",
        F.row_number().over(w20).cast("int").alias("rank"),
    )


# --------------------------------------------------------------------------
# Burst detection over the event stream (deterministic z-scores)
# --------------------------------------------------------------------------


@register(
    "ev_burst_detect",
    oracle="""
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT event_type, count(*) AS n_days, sum(c) AS s1, sum(c * c) AS s2
      FROM daily GROUP BY event_type
    ),
    zq AS (
      SELECT d.event_type, d.day, CAST(d.c AS BIGINT) AS n_events,
        CASE WHEN m.n_days < 2
               OR (CAST(m.s2 AS DOUBLE)
                   - CAST(m.s1 AS DOUBLE) * m.s1 / m.n_days) <= 0
          THEN 0.0
          ELSE round(
            (d.c - CAST(m.s1 AS DOUBLE) / m.n_days)
            / sqrt((CAST(m.s2 AS DOUBLE)
                    - CAST(m.s1 AS DOUBLE) * m.s1 / m.n_days)
                   / (m.n_days - 1)), 6) END AS z_score
      FROM daily d JOIN mom m ON d.event_type = m.event_type
    )
    SELECT *, z_score >= 2.0 AS is_burst FROM zq
    """,
)
def ev_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily burst detection over the event stream — the
    trending/anomaly gate a KG curation pipeline uses to prioritize
    recrawl and flag coordinated activity (Kleinberg-style burst
    surfacing, reduced to per-day z-scores against the type's own
    history). Two map-side-combinable aggs: daily counts, then
    per-type INTEGER moments (n, sum, sum of squares) — variance is
    derived from integer sums with one fixed-order float expression,
    so both engines compute bit-identical z-scores (no stddev_samp,
    whose merge order is engine-internal). The moments table is
    type-dictionary-sized and broadcast back onto the daily counts;
    nothing windows or sorts the event stream."""
    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    var_num = s2d - s1d * F.col("s1") / F.col("n_days")
    z = F.when(
        (F.col("n_days") < 2) | (var_num <= 0), F.lit(0.0)
    ).otherwise(
        F.round(
            (F.col("c") - s1d / F.col("n_days"))
            / F.sqrt(var_num / (F.col("n_days") - 1)),
            6,
        )
    )
    return (
        daily.join(F.broadcast(mom), "event_type")
        .select(
            "event_type",
            "day",
            F.col("c").cast("long").alias("n_events"),
            z.alias("z_score"),
        )
        .withColumn("is_burst", F.col("z_score") >= 2.0)
    )


@register(
    "ev_retention_cohorts",
    oracle="""
    WITH byday AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    cohorts AS (
      SELECT user_id, min(day) AS cohort_day FROM byday GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_day, count(*) AS cohort_size
      FROM cohorts GROUP BY cohort_day
    ),
    cells AS (
      SELECT c.cohort_day, b.day - c.cohort_day AS day_offset,
        count(DISTINCT b.user_id) AS n_active
      FROM byday b JOIN cohorts c ON b.user_id = c.user_id
      GROUP BY c.cohort_day, b.day - c.cohort_day
    )
    SELECT strftime(ce.cohort_day, '%Y-%m-%d') AS cohort_day,
      CAST(ce.day_offset AS BIGINT) AS day_offset,
      CAST(ce.n_active AS BIGINT) AS n_active,
      CAST(s.cohort_size AS BIGINT) AS cohort_size,
      round(CAST(ce.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM cells ce JOIN sizes s ON ce.cohort_day = s.cohort_day
    """,
)
def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the event stream — users grouped
    by first-active day, activity counted per (cohort, day offset):
    the standard product-analytics rollup and, in a crawl pipeline,
    the recurring-visitor profile per acquisition wave. Shape: one
    distinct-projection of the event stream to (user, day), a
    per-user min agg (map-side combined), one user-keyed join back
    (co-partitioned on the same user hash — no extra shuffle when
    bucketed), and a cohort-keyed count; the cohort-size table is
    date-dictionary-sized and broadcast. Retention divides two
    integers, rounded identically in both engines; day arithmetic is
    integer date subtraction."""
    ev = _read(spark, sf_dir, "events")
    byday = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    cohorts = byday.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        byday.join(cohorts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return cells.join(F.broadcast(sizes), "cohort_day").select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("long").alias("day_offset"),
        F.col("n_active").cast("long").alias("n_active"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        F.round(
            F.col("n_active") / F.col("cohort_size").cast("double"), 6
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# First-order Markov transition model over per-user event streams
# ---------------------------------------------------------------------------


@register(
    "ev_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT prev_type, sum(n) AS t FROM trans GROUP BY prev_type)
    SELECT tr.prev_type, tr.next_type, tr.n AS n_transitions,
      round(CAST(tr.n AS DOUBLE) / tot.t, 6) AS p
    FROM trans tr JOIN tot ON tr.prev_type = tot.prev_type
    """,
)
def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: P(next | prev) estimated from lag pairs — the
    user-behavior model that sessionization (ev_sessionize) and path
    mining (web_session_paths) feed into (clickstream prediction,
    anomaly scoring of improbable transitions). Deterministic
    ordering: the lag window orders by (ts, event_id) so equal
    timestamps cannot flip pairs between engines. Scale shape: the
    lag window is PARTITIONED BY user (each user's stream sorts
    within its partition — never a global sort), the transition
    counts are one map-side-combined |types|^2 agg, and the
    row-normalization joins two dictionary-sized tables. All
    downstream of one corpus scan.
    """
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = trans.groupBy("prev_type").agg(F.sum("n").alias("t"))
    return trans.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        F.col("n").alias("n_transitions"),
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve over per-user event-stream lifetimes
# ---------------------------------------------------------------------------

_KM_CENSOR_DAYS = 7  # users active within this window of the horizon are censored


@register(
    "ev_survival_km",
    oracle=f"""
    WITH span AS (
      SELECT user_id,
        min(CAST(floor(epoch(ts)) AS BIGINT)) AS first_s,
        max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_s
      FROM events GROUP BY user_id
    ),
    horizon AS (SELECT max(last_s) AS h FROM span),
    users AS (
      SELECT
        CAST(floor((last_s - first_s) / 86400.0) AS BIGINT) AS t_days,
        CASE WHEN (SELECT h FROM horizon) - last_s
                  >= {_KM_CENSOR_DAYS} * 86400 THEN 1 ELSE 0 END AS is_event
      FROM span
    ),
    grp AS (
      SELECT t_days, sum(is_event) AS d, sum(1 - is_event) AS c
      FROM users GROUP BY t_days
    ),
    km AS (
      SELECT t_days, d, c,
        sum(d + c) OVER (ORDER BY t_days ROWS BETWEEN CURRENT ROW
          AND UNBOUNDED FOLLOWING) AS n_risk
      FROM grp
    )
    SELECT t_days,
      CAST(n_risk AS BIGINT) AS n_at_risk,
      CAST(d AS BIGINT) AS n_events,
      CAST(c AS BIGINT) AS n_censored,
      round(CASE WHEN max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t_days) = 1 THEN 0.0
            ELSE exp(sum(CASE WHEN d > 0 AND d < n_risk
                     THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                     ELSE 0.0 END) OVER (ORDER BY t_days)) END, 6)
        AS survival
    FROM km
    """,
)
def ev_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over per-user event-stream
    lifetimes — the right-censored complement of ev_retention_cohorts
    (cohort retention counts users naively; KM corrects for users
    whose lifetime is CENSORED by the observation horizon). A user's
    lifetime is last-first event time in whole days; users still
    active within {censor} days of the corpus horizon are censored
    (they did not churn, we just stopped looking). S(t) is the
    product-limit over distinct lifetimes, computed as
    exp(cumulative-sum(ln(1 - d/n))) with an exact-zero guard when
    the risk set empties — both engines evaluate the identical
    arithmetic tree, gated by round(6). Scale shape: per-user spans
    are ONE map-side-combined agg over the raw stream; everything
    after touches the distinct-lifetime dictionary (bounded by the
    horizon in days, never by corpus size), so the ordered window
    sorts a dictionary, not data — the threshold-curve discipline.
    """
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("s")
    )
    span = ev.groupBy("user_id").agg(
        F.min("s").alias("first_s"), F.max("s").alias("last_s")
    )
    # second, ts-pruned corpus scan (re-deriving it from `span` would
    # re-plan the per-user agg into every consumer: 4 scans, not 2)
    hz = ev.agg(F.max("s").alias("h"))
    users = span.crossJoin(F.broadcast(hz)).select(
        F.floor((F.col("last_s") - F.col("first_s")) / 86400.0)
        .cast("long")
        .alias("t_days"),
        F.when(
            F.col("h") - F.col("last_s") >= _KM_CENSOR_DAYS * 86400, 1
        )
        .otherwise(0)
        .alias("is_event"),
    )
    grp = users.groupBy("t_days").agg(
        F.sum("is_event").alias("d"),
        F.sum(F.lit(1) - F.col("is_event")).alias("c"),
    )
    w_rest = Window.orderBy("t_days").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("t_days")
    km = grp.select(
        "t_days", "d", "c",
        F.sum(F.col("d") + F.col("c")).over(w_rest).alias("n_risk"),
    )
    kill = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_cum)
    ln_sum = F.sum(
        F.when(
            (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
            F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
        ).otherwise(F.lit(0.0))
    ).over(w_cum)
    return km.select(
        "t_days",
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.col("c").cast("long").alias("n_censored"),
        F.round(
            F.when(kill == 1, F.lit(0.0)).otherwise(F.exp(ln_sum)), 6
        ).alias("survival"),
    )


ev_survival_km.__doc__ = ev_survival_km.__doc__.format(censor=_KM_CENSOR_DAYS)


@register(
    "ev_cusum_drift",
    oracle="""
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT event_type, count(*) AS n_days, sum(c) AS s1, sum(c * c) AS s2
      FROM daily GROUP BY event_type
    ),
    params AS (
      SELECT event_type,
        CAST(s1 AS DOUBLE) / n_days AS mu,
        CASE WHEN n_days < 2
               OR (CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * s1 / n_days) <= 0 THEN NULL
          ELSE sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * s1 / n_days)
                    / (n_days - 1)) END AS sigma
      FROM mom
    ),
    y AS (
      SELECT d.event_type, d.day, CAST(d.c AS BIGINT) AS n_events,
        d.c - (p.mu + p.sigma / 2) AS y, 4 * p.sigma AS h
      FROM daily d JOIN params p USING (event_type)
      WHERE p.sigma IS NOT NULL
    ),
    p1 AS (
      SELECT event_type, day, n_events, h,
        sum(y) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt
      FROM y
    ),
    p2 AS (
      SELECT event_type, day, n_events, h, pt,
        least(0, min(pt) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS floor_pt
      FROM p1
    )
    SELECT event_type, day, n_events,
      round(pt - floor_pt, 6) AS cusum,
      (pt - floor_pt) > h AS is_alarm
    FROM p2
    UNION ALL
    SELECT d.event_type, d.day, CAST(d.c AS BIGINT), 0.0, false
    FROM daily d JOIN params p USING (event_type)
    WHERE p.sigma IS NULL
    """,
)
def ev_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided upward CUSUM drift detection over per-type daily
    event counts — the SEQUENTIAL complement to ev_burst_detect's
    pointwise z-scores: a z-score flags one loud day, CUSUM
    accumulates small sustained shifts (Page 1954: S_t = max(0,
    S_{t-1} + x_t - (mu + sigma/2)), alarm when S_t > 4*sigma) — the
    drift monitor that catches a crawler or ingestion feed slowly
    going wrong long before any single day looks anomalous.

    The max(0, ...) recursion is NOT a plain running sum, but it has
    the closed form S_t = P_t - min(0, min_{j<=t} P_j) (prefix sum
    minus its running floor), so the whole detector is two stacked
    cumulative windows PARTITIONED by event_type over the DAILY
    table — day-dictionary-sized, never the event stream (bounded by
    horizon days x types at any corpus size). Corpus-sized work is
    exactly ev_burst_detect's: one map-side-combined daily count
    agg; mu/sigma come from the same integer-moment table (fixed
    float expression order, bit-identical across engines). Types
    with undefined sigma (degenerate history) emit cusum 0 / no
    alarm rather than vanishing."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    # the daily table is the shared stage of FOUR consumers (moments,
    # live branch x its params join, degenerate branch) — checkpoint
    # it once so the event stream is scanned once, not four times;
    # it is day x type dictionary-sized, so materializing is free
    daily = (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    var_num = s2d - s1d * F.col("s1") / F.col("n_days")
    sigma = F.when(
        (F.col("n_days") < 2) | (var_num <= 0), F.lit(None)
    ).otherwise(F.sqrt(var_num / (F.col("n_days") - 1)))
    params = mom.select(
        "event_type",
        (s1d / F.col("n_days")).alias("mu"),
        sigma.alias("sigma"),
    )
    joined = daily.join(F.broadcast(params), "event_type")
    live = joined.where(F.col("sigma").isNotNull()).select(
        "event_type", "day",
        F.col("c").cast("long").alias("n_events"),
        (F.col("c") - (F.col("mu") + F.col("sigma") / 2)).alias("y"),
        (4 * F.col("sigma")).alias("h"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p1 = live.withColumn("pt", F.sum("y").over(w))
    p2 = p1.withColumn(
        "floor_pt", F.least(F.lit(0.0), F.min("pt").over(w))
    )
    alive = p2.select(
        "event_type", "day", "n_events",
        F.round(F.col("pt") - F.col("floor_pt"), 6).alias("cusum"),
        ((F.col("pt") - F.col("floor_pt")) > F.col("h")).alias("is_alarm"),
    )
    degenerate = joined.where(F.col("sigma").isNull()).select(
        "event_type", "day",
        F.col("c").cast("long").alias("n_events"),
        F.lit(0.0).alias("cusum"),
        F.lit(False).alias("is_alarm"),
    )
    return alive.unionByName(degenerate)


@register(
    "ev_seasonality",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    prof AS (
      SELECT event_type, isodow(day) AS dow,
        count(*) AS n_days, sum(c) AS s
      FROM daily GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(n_days) AS nd, sum(s) AS st
      FROM prof GROUP BY event_type
    )
    SELECT p.event_type, CAST(p.dow AS INTEGER) AS dow,
      CAST(p.n_days AS BIGINT) AS n_days,
      CAST(p.s AS BIGINT) AS n_events,
      round(CAST(p.s AS DOUBLE) / p.n_days, 6) AS avg_count,
      round((CAST(p.s AS DOUBLE) / p.n_days)
            / (CAST(t.st AS DOUBLE) / t.nd), 6) AS seasonal_index
    FROM prof p JOIN tot t USING (event_type)
    """,
)
def ev_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type (ISO dow,
    1=Mon..7=Sun): mean daily count per weekday and its ratio to the
    type's overall daily mean — the baseline any honest anomaly
    monitor divides out BEFORE alerting (a Saturday 'drop' that is
    just the weekend would otherwise page someone; ev_burst_detect
    and ev_cusum_drift both gain precision running on
    deseasonalized counts). Completes the monitoring trio:
    pointwise z-score, sequential CUSUM, periodic baseline.

    Scale shape: identical to its siblings — one map-side-combined
    daily count agg is the only corpus-sized work; the weekday
    profile and per-type totals are dictionary-sized keyed aggs
    (<= 7 x types rows, then a broadcast join); all ratios from
    integer sums in fixed expression order."""
    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    # Spark weekday(): 0=Mon..6=Sun; ISO dow = weekday + 1.
    # prof has two consumers (totals + the final join) — checkpoint
    # the <=7 x types rows once so the event stream is scanned once
    prof = (
        daily.groupBy("event_type", (F.weekday("day") + 1).alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("c").alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    tot = prof.groupBy("event_type").agg(
        F.sum("n_days").alias("nd"), F.sum("s").alias("st")
    )
    avg = F.col("s").cast("double") / F.col("n_days")
    overall = F.col("st").cast("double") / F.col("nd")
    return prof.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.col("dow").cast("int").alias("dow"),
        F.col("n_days").cast("long").alias("n_days"),
        F.col("s").cast("long").alias("n_events"),
        F.round(avg, 6).alias("avg_count"),
        F.round(avg / overall, 6).alias("seasonal_index"),
    )


@register(
    "data_quality_checks",
    oracle="""
    SELECT 'lineitem.l_quantity in [1,50]' AS check_name,
      CAST(count(*) AS BIGINT) AS n_rows,
      CAST(sum(CASE WHEN l_quantity IS NULL
                 OR l_quantity < 1 OR l_quantity > 50
               THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
      sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
          THEN 1 ELSE 0 END) = 0 AS passed
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.l_orderkey fk orders', CAST(count(*) AS BIGINT),
      CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) = 0
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders.o_custkey fk customer', CAST(count(*) AS BIGINT),
      CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) = 0
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'orders.o_orderkey unique', CAST(count(*) AS BIGINT),
      CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
      count(*) = count(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'documents.text not null/empty', CAST(count(*) AS BIGINT),
      CAST(sum(CASE WHEN text IS NULL OR len(text) = 0 THEN 1 ELSE 0 END)
        AS BIGINT),
      sum(CASE WHEN text IS NULL OR len(text) = 0 THEN 1 ELSE 0 END) = 0
    FROM documents
    UNION ALL
    SELECT 'documents.doc_id unique', CAST(count(*) AS BIGINT),
      CAST(count(*) - count(DISTINCT doc_id) AS BIGINT),
      count(*) = count(DISTINCT doc_id)
    FROM documents
    """,
)
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (the Great
    Expectations / Deequ pattern): range, referential-integrity,
    uniqueness, and non-null checks over the warehouse tables,
    emitted as ONE violation report — the publish gate every
    production table write runs before downstream jobs trust the
    data. Complements kg_shacl_report (graph-shape constraints) on
    the relational side.

    Scale shape per check class: range / non-null = one map-side-
    combined conditional agg (a single scan); uniqueness =
    count vs count(DISTINCT key) — one keyed partial-agg pass, no
    window, no self-join; referential integrity = a LEFT join
    against the referenced KEY (broadcast when the dimension is
    small, as customer/orders here; at fact-x-fact scale the join
    shuffles on the key and still never materializes violations
    beyond a counter). Every check is a counter, so the report is
    6 rows no matter the corpus size."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    docs = _read(spark, sf_dir, "documents")

    def report(name, df, viol):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(viol).cast("long").alias("n_violations"),
            (F.sum(viol) == 0).alias("passed"),
        )

    qty_bad = F.when(
        F.col("l_quantity").isNull()
        | (F.col("l_quantity") < 1)
        | (F.col("l_quantity") > 50),
        1,
    ).otherwise(0)
    c1 = report("lineitem.l_quantity in [1,50]", li, qty_bad)
    fk1 = li.join(
        F.broadcast(orders.select("o_orderkey")),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left",
    )
    c2 = report(
        "lineitem.l_orderkey fk orders",
        fk1,
        F.when(F.col("o_orderkey").isNull(), 1).otherwise(0),
    )
    fk2 = orders.join(
        F.broadcast(cust.select("c_custkey")),
        orders["o_custkey"] == F.col("c_custkey"),
        "left",
    )
    c3 = report(
        "orders.o_custkey fk customer",
        fk2,
        F.when(F.col("c_custkey").isNull(), 1).otherwise(0),
    )

    def unique_check(name, df, key):
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.count(F.lit(1)) - F.countDistinct(key))
            .cast("long")
            .alias("n_violations"),
            (F.count(F.lit(1)) == F.countDistinct(key)).alias("passed"),
        )

    c4 = unique_check("orders.o_orderkey unique", orders, "o_orderkey")
    text_bad = F.when(
        F.col("text").isNull() | (F.length("text") == 0), 1
    ).otherwise(0)
    c5 = report("documents.text not null/empty", docs, text_bad)
    c6 = unique_check("documents.doc_id unique", docs, "doc_id")
    out = c1
    for c in (c2, c3, c4, c5, c6):
        out = out.unionByName(c)
    return out


@register(
    "ev_attribution",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
        first_value(CASE WHEN event_type IN ('click', 'view')
                    THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS first_touch_id,
        last_value(CASE WHEN event_type IN ('click', 'view')
                   THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS last_touch_id,
        sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS n_touches_before
      FROM events
    )
    SELECT user_id, event_id AS conversion_id,
      first_touch_id, last_touch_id,
      CAST(n_touches_before AS BIGINT) AS n_touches_before
    FROM ordered WHERE event_type = 'purchase'
    """,
)
def ev_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution: for every
    purchase, the earliest and the most recent preceding touch
    (click/view) in the same user's stream, plus the touch count —
    the two bookend credit models every attribution report starts
    from (position-based models interpolate between exactly these
    columns). Purchases with no preceding touch keep NULL bookends
    (organic conversions) rather than vanishing.

    Scale shape: NO touches x conversions join — the classic
    per-pair formulation is quadratic in session length. Three
    IGNORE-NULLS running windows PARTITIONED by user (first_value /
    last_value / count over the preceding frame) computed in one
    window pass over one scan; order pinned (ts, event_id). A
    user's stream fits a partition by the same argument
    sessionization already relies on."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    is_touch = F.col("event_type").isin("click", "view")
    touch_id = F.when(is_touch, F.col("event_id"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = ev.select(
        "user_id", "event_id", "event_type",
        F.first(touch_id, ignorenulls=True).over(w).alias("first_touch_id"),
        F.last(touch_id, ignorenulls=True).over(w).alias("last_touch_id"),
        F.sum(F.when(is_touch, 1).otherwise(0))
        .over(w)
        .cast("long")
        .alias("n_touches_before"),
    )
    return ordered.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conversion_id"),
        "first_touch_id",
        "last_touch_id",
        "n_touches_before",
    )


@register(
    "ev_rfm_segments",
    oracle="""
    WITH bounds AS (SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS now_day
                    FROM events),
    users AS (
      SELECT user_id,
        date_diff('day', max(CAST(date_trunc('day', ts) AS DATE)),
                  (SELECT now_day FROM bounds)) AS recency_days,
        count(*) AS frequency,
        CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
          AS monetary_cents
      FROM events GROUP BY user_id
    ),
    th AS (
      SELECT
        quantile_cont(recency_days, 0.25) AS r25,
        quantile_cont(recency_days, 0.5) AS r50,
        quantile_cont(recency_days, 0.75) AS r75,
        quantile_cont(frequency, 0.25) AS f25,
        quantile_cont(frequency, 0.5) AS f50,
        quantile_cont(frequency, 0.75) AS f75,
        quantile_cont(monetary_cents, 0.25) AS m25,
        quantile_cont(monetary_cents, 0.5) AS m50,
        quantile_cont(monetary_cents, 0.75) AS m75
      FROM users
    ),
    scored AS (
      SELECT u.user_id,
        4 - (CASE WHEN recency_days > r25 THEN 1 ELSE 0 END)
          - (CASE WHEN recency_days > r50 THEN 1 ELSE 0 END)
          - (CASE WHEN recency_days > r75 THEN 1 ELSE 0 END) AS r,
        1 + (CASE WHEN frequency > f25 THEN 1 ELSE 0 END)
          + (CASE WHEN frequency > f50 THEN 1 ELSE 0 END)
          + (CASE WHEN frequency > f75 THEN 1 ELSE 0 END) AS f,
        1 + (CASE WHEN monetary_cents > m25 THEN 1 ELSE 0 END)
          + (CASE WHEN monetary_cents > m50 THEN 1 ELSE 0 END)
          + (CASE WHEN monetary_cents > m75 THEN 1 ELSE 0 END) AS m,
        recency_days, frequency, monetary_cents
      FROM users u CROSS JOIN th
    )
    SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
        AS segment,
      CAST(count(*) AS BIGINT) AS n_users,
      round(CAST(sum(recency_days) AS DOUBLE) / count(*), 6)
        AS avg_recency_days,
      round(CAST(sum(frequency) AS DOUBLE) / count(*), 6) AS avg_frequency,
      round(CAST(sum(monetary_cents) AS DOUBLE) / count(*) / 100.0, 6)
        AS avg_monetary
    FROM scored GROUP BY 1
    """,
)
def ev_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation of
    the user base — the classic behavioral cohorting every retention
    and churn program starts from: each user scored 1-4 on each axis
    against the population quartiles (recency inverted: fresher is
    better), rolled up per 3-digit segment with its averages.

    Scale shape: one per-user agg collapses the event stream to the
    user dictionary (monetary as EXACT integer cents — per-row
    floor(value*100) then int64 sums, so shuffle order cannot
    perturb it); the nine thresholds are ONE exact-percentile pass
    over that dictionary (the rel_percentile_stats parity:
    percentile() <-> quantile_cont) broadcast back as a 1-row dim;
    scores are pure comparisons in the projection; the report is a
    <= 64-row rollup. No window anywhere, no sort."""
    ev = _read(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(F.date_trunc("day", "ts").cast("date")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    now = ev.agg(
        F.max(F.date_trunc("day", "ts").cast("date")).alias("now_day")
    )
    users = (
        users.crossJoin(F.broadcast(now))
        .select(
            "user_id",
            F.datediff("now_day", "last_day").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
        .localCheckpoint(eager=False)
    )
    th = users.agg(
        F.percentile("recency_days", 0.25).alias("r25"),
        F.percentile("recency_days", 0.5).alias("r50"),
        F.percentile("recency_days", 0.75).alias("r75"),
        F.percentile("frequency", 0.25).alias("f25"),
        F.percentile("frequency", 0.5).alias("f50"),
        F.percentile("frequency", 0.75).alias("f75"),
        F.percentile("monetary_cents", 0.25).alias("m25"),
        F.percentile("monetary_cents", 0.5).alias("m50"),
        F.percentile("monetary_cents", 0.75).alias("m75"),
    )

    def gt(col, t):
        return F.when(F.col(col) > F.col(t), 1).otherwise(0)

    scored = users.crossJoin(F.broadcast(th)).select(
        (
            4 - gt("recency_days", "r25") - gt("recency_days", "r50")
            - gt("recency_days", "r75")
        ).alias("r"),
        (
            1 + gt("frequency", "f25") + gt("frequency", "f50")
            + gt("frequency", "f75")
        ).alias("f"),
        (
            1 + gt("monetary_cents", "m25") + gt("monetary_cents", "m50")
            + gt("monetary_cents", "m75")
        ).alias("m"),
        "recency_days", "frequency", "monetary_cents",
    )
    return scored.groupBy(
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ).alias("segment")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(
            F.sum("recency_days").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_recency_days"),
        F.round(
            F.sum("frequency").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_frequency"),
        F.round(
            F.sum("monetary_cents").cast("double") / F.count(F.lit(1)) / 100.0,
            6,
        ).alias("avg_monetary"),
    )


@register(
    "ev_bot_regularity",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
        epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
          ORDER BY ts ASC, event_id ASC) AS gap_us
      FROM events
    ),
    mom AS (
      SELECT user_id, count(gap_us) AS n_gaps,
        sum(gap_us) AS s1,
        sum(CAST(gap_us AS HUGEINT) * gap_us) AS s2
      FROM gaps WHERE gap_us IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
      -- exact integer half-up rounding of the rational s1/n at 6dp
      -- (see the Spark twin): float round() diverged on a half
      -- boundary at sf0.1
      CAST((2 * s1 + n_gaps) // (2 * n_gaps) AS DOUBLE) / 1e6
        AS mean_gap_s,
      round(
        sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_gaps)
             / (n_gaps - 1))
        / (CAST(s1 AS DOUBLE) / n_gaps), 6) AS cv,
      (sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_gaps)
            / (n_gaps - 1))
       / (CAST(s1 AS DOUBLE) / n_gaps)) < 0.1 AS is_regular
    FROM mom WHERE n_gaps >= 2
    """,
)
def ev_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot detection by inter-arrival regularity: per user, the
    coefficient of variation of the gaps between consecutive events
    — scripted clients fire on timers (CV near 0), humans are bursty
    (CV near or above 1, the exponential-arrival baseline). The
    behavioral complement to the content-side spam signals
    (web_spam_mass, reciprocity): this one needs no graph, only the
    event stream any service already has.

    Scale shape: one lag window PARTITIONED by user (the
    sessionization argument), then one map-side-combined per-user
    integer-moment agg — gaps are EXACT int64 microseconds
    (epoch_us / unix_micros on both engines; never a float timestamp
    subtraction), so the moments are shuffle-order-proof and the
    fixed-order CV expression is bit-identical cross-engine. Users
    with < 3 events (< 2 gaps) are excluded: their variance is
    undefined, not zero."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    # ts is TIMESTAMP_NTZ in the parquet; the session is pinned UTC,
    # so the cast to TIMESTAMP (required by unix_micros) is identity
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        "user_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    # gap_us^2 overflows int64 (a month gap squared is ~7e24), so
    # the second moment sums EXACT wide integers: DECIMAL(28,0)
    # products into a DECIMAL(38,0) sum here, HUGEINT in the oracle
    # — both convert the identical exact integer to double below
    g_dec = F.col("gap_us").cast("decimal(14,0)")
    mom = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap_us").alias("s1"),
        F.sum(g_dec * g_dec).alias("s2"),
    ).where(F.col("n_gaps") >= 2)
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    mean = s1d / F.col("n_gaps")
    sd = F.sqrt((s2d - s1d * F.col("s1") / F.col("n_gaps")) / (F.col("n_gaps") - 1))
    # mean_gap_s is the RATIONAL s1/(n*1e6): round it half-up in exact
    # integer arithmetic — round6(s1/n/1e6)*1e6 = round_half_up(s1/n)
    # = (2*s1 + n) DIV (2*n) — because rounding the double with the
    # engines' float round() diverged at a 6th-decimal half boundary
    # (one sf0.1 row: Spark's exact-decimal HALF_UP vs DuckDB's
    # multiply-then-round). The irrational cv keeps the float round:
    # its value is never exactly on a decimal half in real arithmetic.
    mean_us_rounded = F.expr("(2 * s1 + n_gaps) DIV (2 * n_gaps)")
    return mom.select(
        "user_id",
        "n_gaps",
        (mean_us_rounded.cast("double") / F.lit(1e6)).alias("mean_gap_s"),
        F.round(sd / mean, 6).alias("cv"),
        ((sd / mean) < 0.1).alias("is_regular"),
    )


# ---------------------------------------------------------------------------
# Truncated-horizon EWMA forecast over per-type daily counts
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_TAPS = 8
# tap weights alpha * (1-alpha)^(j-1) computed ONCE here and inlined
# as the identical double literals on both engines (repr round-trips)
_EWMA_W = [_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** j for j in range(_EWMA_TAPS)]


def _ewma_sql() -> str:
    lags = ", ".join(
        f"lag(c, {j + 1}) OVER w AS l{j}" for j in range(_EWMA_TAPS)
    )
    num = " + ".join(
        f"{_EWMA_W[j]!r} * CAST(coalesce(l{j}, 0) AS DOUBLE)"
        for j in range(_EWMA_TAPS)
    )
    den = " + ".join(
        f"(CASE WHEN l{j} IS NOT NULL THEN {_EWMA_W[j]!r} ELSE 0.0 END)"
        for j in range(_EWMA_TAPS)
    )
    return f"""
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, c, {lags}
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)
    ),
    fc AS (
      SELECT event_type, day, CAST(c AS BIGINT) AS n_events,
        ({num}) / ({den}) AS forecast
      FROM lagged WHERE l0 IS NOT NULL
    )
    SELECT event_type, day, n_events,
      round(forecast, 6) AS forecast,
      round((CAST(n_events AS DOUBLE) - forecast) / forecast, 6)
        AS resid_ratio,
      abs((CAST(n_events AS DOUBLE) - forecast) / forecast) > 0.5
        AS is_anomaly
    FROM fc
    """


@register("ev_ewma_forecast", oracle=_ewma_sql())
def ev_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead EWMA forecast of per-type daily event volume,
    plus the relative residual — the time-LOCAL adaptive baseline
    beside ev_burst_detect's whole-history z-score and
    ev_seasonality's day-of-week profile (a slow traffic ramp fools
    a global mean; the EWMA tracks it, so the residual isolates
    genuine surprises). Truncated-horizon form: the recursive
    s_t = a*x_t + (1-a)*s_(t-1) is unrolled to {taps} explicit lag
    taps with weights a*(1-a)^j renormalized over the taps present
    — a FIXED-ORDER multiply-add chain over integer lag values, so
    both engines compute bit-identical doubles (the recursive form's
    running state would accumulate engine-ordered float error; the
    tail weight beyond {taps} taps is (1-a)^{taps} ~ 5.8%, absorbed
    by the renormalization). First day per type (no prior
    observation) is excluded: there is nothing to forecast from.

    Scale shape: the event stream collapses to the (type, day)
    dictionary in one map-side-combined agg; the lag window is
    PARTITIONED by type over day-dictionary-sized partitions; the
    forecast is a scan projection. Nothing corpus-sized sorts."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy(F.col("day").asc())
    lagged = daily.select(
        "event_type",
        "day",
        "c",
        *[
            F.lag("c", j + 1).over(w).alias(f"l{j}")
            for j in range(_EWMA_TAPS)
        ],
    ).where(F.col("l0").isNotNull())
    num = reduce(
        lambda a, b: a + b,
        [
            F.lit(_EWMA_W[j]) * F.coalesce(F.col(f"l{j}"), F.lit(0)).cast("double")
            for j in range(_EWMA_TAPS)
        ],
    )
    den = reduce(
        lambda a, b: a + b,
        [
            F.when(F.col(f"l{j}").isNotNull(), F.lit(_EWMA_W[j])).otherwise(
                F.lit(0.0)
            )
            for j in range(_EWMA_TAPS)
        ],
    )
    fc = num / den
    resid = (F.col("c").cast("double") - fc) / fc
    return lagged.select(
        "event_type",
        "day",
        F.col("c").cast("long").alias("n_events"),
        F.round(fc, 6).alias("forecast"),
        F.round(resid, 6).alias("resid_ratio"),
        (F.abs(resid) > 0.5).alias("is_anomaly"),
    )


ev_ewma_forecast.__doc__ = ev_ewma_forecast.__doc__.format(taps=_EWMA_TAPS)


@register(
    "ev_anomaly_mad",
    oracle="""
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, quantile_cont(c, 0.5) AS med
      FROM daily GROUP BY event_type
    ),
    mad AS (
      SELECT d.event_type, quantile_cont(abs(d.c - m.med), 0.5) AS mad
      FROM daily d JOIN med m ON d.event_type = m.event_type
      GROUP BY d.event_type
    )
    SELECT d.event_type, d.day, CAST(d.c AS BIGINT) AS n_events,
      round(m.med, 6) AS med,
      round(a.mad, 6) AS mad,
      CASE WHEN a.mad = 0 THEN 0.0
        ELSE round(0.6745 * (d.c - m.med) / a.mad, 6) END AS robust_z,
      CASE WHEN a.mad = 0 THEN FALSE
        ELSE abs(0.6745 * (d.c - m.med) / a.mad) > 3.5 END AS is_anomaly
    FROM daily d
    JOIN med m ON d.event_type = m.event_type
    JOIN mad a ON d.event_type = a.event_type
    """,
)
def ev_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomaly detection via the median absolute
    deviation: per (type, day), the modified z-score 0.6745*(c -
    median)/MAD with the Iglewicz-Hoaglin 3.5 cutoff — the ROBUST
    sibling of ev_burst_detect's mean/stddev z-score, which a single
    extreme day can mask (the outlier inflates the stddev it is
    tested against; the median and MAD are 50%-breakdown estimators,
    so one bad day cannot hide another). MAD = 0 (an utterly
    constant series) yields z = 0 and no flag by contract: there is
    no scale to measure surprise against.

    Scale shape: the event stream collapses to the (type, day)
    dictionary in one map-side-combined agg; the median and the MAD
    are two exact-percentile aggs over day-dictionary-sized groups
    (quantile_cont <-> percentile — the rel_percentile_stats parity
    discipline), each broadcast back; the z-score is a fixed-order
    projection over exact integers and the two percentile doubles.
    Nothing corpus-sized sorts or windows."""
    ev = _read(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        # the (type, day) dictionary has three consumers (median, MAD,
        # final join) — checkpoint so the corpus pass runs ONCE
        .localCheckpoint(eager=False)
    )
    med = daily.groupBy("event_type").agg(
        F.percentile("c", 0.5).alias("med")
    )
    mad = (
        daily.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.percentile(F.abs(F.col("c") - F.col("med")), 0.5).alias("mad"))
    )
    z = 0.6745 * (F.col("c") - F.col("med")) / F.col("mad")
    return (
        daily.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day",
            F.col("c").cast("long").alias("n_events"),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            F.when(F.col("mad") == 0, F.lit(0.0))
            .otherwise(F.round(z, 6))
            .alias("robust_z"),
            F.when(F.col("mad") == 0, F.lit(False))
            .otherwise(F.abs(z) > 3.5)
            .alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# Lag-k autocorrelation of per-type daily volumes
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


def _acf_sql() -> str:
    lag_cols = ", ".join(
        f"lag(c, {k}) OVER w AS l{k}" for k in range(1, _ACF_MAX_LAG + 1)
    )
    legs = "\n      UNION ALL ".join(
        f"SELECT event_type, {k} AS lag, c AS x, l{k} AS y FROM lagged "
        f"WHERE l{k} IS NOT NULL"
        for k in range(1, _ACF_MAX_LAG + 1)
    )
    return f"""
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, c, {lag_cols}
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)
    ),
    pairs AS ({legs}),
    mom AS (
      SELECT event_type, lag, count(*) AS n,
        sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        sum(x * x) AS sxx, sum(y * y) AS syy
      FROM pairs GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS INTEGER) AS lag,
      CAST(n AS BIGINT) AS n_pairs,
      CASE WHEN (n * sxx - sx * sx) <= 0 OR (n * syy - sy * sy) <= 0
        THEN 0.0
        ELSE round(
          (n * sxy - CAST(sx AS DOUBLE) * sy)
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 * (n * syy - sy * sy)), 6) END AS acf
    FROM mom
    """


@register("ev_autocorrelation", oracle=_acf_sql())
def ev_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..{m} Pearson autocorrelation of each event type's daily
    volume series — the signal-structure profile that tells the
    monitoring stack WHICH baseline applies: a high lag-7 spike says
    use ev_seasonality's day-of-week profile, high lag-1 says the
    EWMA's local level is real, all-flat says the series is noise
    and every "trend" a dashboard shows is pareidolia. Overlapping
    (c_t, c_t-k) pairs come from ONE window pass (the {m} lag
    columns), and each (type, lag) collapses to exact INTEGER
    moments (n, sums, cross/squared sums) — Pearson r is one
    fixed-order float expression over them, bit-identical
    cross-engine (the ev_burst_detect discipline); a constant series
    (zero variance on either side) gets r = 0 by contract.

    Scale shape: corpus -> (type, day) dictionary in one map-side-
    combined agg; the lag window partitions by type over
    day-dictionary-sized partitions; the unpivot to (type, lag)
    pairs is a narrow projection union; moments are one keyed agg.
    """
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy(F.col("day").asc())
    lagged = daily.select(
        "event_type",
        "c",
        *[F.lag("c", k).over(w).alias(f"l{k}") for k in range(1, _ACF_MAX_LAG + 1)],
    ).localCheckpoint(eager=False)  # one window pass feeds all lag legs
    stack_args = ", ".join(
        f"{k}, l{k}" for k in range(1, _ACF_MAX_LAG + 1)
    )
    pairs = lagged.select(
        "event_type",
        "c",
        F.expr(f"stack({_ACF_MAX_LAG}, {stack_args}) AS (lag, y)"),
    ).where(F.col("y").isNotNull())
    mom = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("c") * F.col("y")).alias("sxy"),
        F.sum(F.col("c") * F.col("c")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = (
        F.col("n") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    ) / F.sqrt(vx.cast("double") * vy)
    return mom.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.when((vx <= 0) | (vy <= 0), F.lit(0.0))
        .otherwise(F.round(r, 6))
        .alias("acf"),
    )


ev_autocorrelation.__doc__ = ev_autocorrelation.__doc__.format(m=_ACF_MAX_LAG)


@register(
    "ev_user_entropy",
    oracle="""
    WITH ut AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    utn AS (
      SELECT user_id, c,
        -1.0 * (CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY user_id))
          * log2(CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY user_id))
          AS term
      FROM ut
    ),
    u AS (
      SELECT user_id, sum(c) AS n_events, count(*) AS n_types,
        sum(term) AS h
      FROM utn GROUP BY user_id
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
      CAST(n_types AS BIGINT) AS n_types,
      round(h, 6) AS entropy_bits,
      CASE WHEN n_types = 1 THEN 0.0
        ELSE round(h / log2(CAST(n_types AS DOUBLE)), 6) END AS norm_entropy,
      n_events >= 20 AND (n_types = 1
        OR h / log2(CAST(n_types AS DOUBLE)) < 0.3) AS is_low_diversity
    FROM u
    """,
)
def ev_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity: Shannon entropy of the user's
    event-type distribution plus its [0, 1] normalization — the
    WHAT-they-do complement to ev_bot_regularity's WHEN-they-do-it
    CV (scripted clients hammer one endpoint on a timer: low gap CV
    AND low type entropy; the two flags intersected are a
    high-precision bot signal, and a high-entropy regular-gap user
    is a monitoring poller, not a scraper). Users need >= 20 events
    to earn the low-diversity flag — entropy of a 3-event stream is
    noise. n_types = 1 pins norm_entropy to 0 by contract (the 0/0
    normalizer case).

    Scale shape: the event stream collapses to the (user, type)
    dictionary in one map-side-combined agg; entropy is a per-user
    sum over that user's <= |types| rows (a window/agg over
    user-sized partitions — the sessionization argument); the report
    is user-dictionary-sized."""
    ev = _read(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    p = F.col("c").cast("double") / F.sum("c").over(w)
    u = ut.select(
        "user_id", "c", (-p * F.log2(p)).alias("term")
    ).groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("term").alias("h"),
    )
    norm = F.col("h") / F.log2(F.col("n_types").cast("double"))
    return u.select(
        "user_id",
        "n_events",
        "n_types",
        F.round("h", 6).alias("entropy_bits"),
        F.when(F.col("n_types") == 1, F.lit(0.0))
        .otherwise(F.round(norm, 6))
        .alias("norm_entropy"),
        (
            (F.col("n_events") >= 20)
            & ((F.col("n_types") == 1) | (norm < 0.3))
        ).alias("is_low_diversity"),
    )


@register(
    "ev_winsorized_stats",
    oracle="""
    WITH th AS (
      SELECT event_type,
        quantile_cont(value, 0.05) AS p05,
        quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    ),
    clamped AS (
      SELECT e.event_type, e.value, t.p05, t.p95,
        least(greatest(e.value, t.p05), t.p95) AS w,
        CASE WHEN e.value < t.p05 OR e.value > t.p95 THEN 1 ELSE 0 END
          AS clamped
      FROM events e JOIN th t ON e.event_type = t.event_type
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6)
        AS mean_raw,
      round(any_value(p05), 6) AS p05,
      round(any_value(p95), 6) AS p95,
      round(sum(w) / count(*), 6) AS mean_winsorized,
      CAST(sum(clamped) AS BIGINT) AS n_clamped
    FROM clamped GROUP BY event_type
    """,
)
def ev_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized value statistics per event type: the raw mean
    beside the [p05, p95]-clamped mean and the count of clamped
    observations — the robust-aggregation standard for revenue/value
    metrics (one fat-finger refund or whale purchase moves a raw
    mean for a week; winsorizing bounds any single observation's
    influence while, unlike trimming, keeping every row in the
    denominator). Completes the robust trio: ev_anomaly_mad robustly
    detects, ev_bot_regularity robustly segments, this robustly
    AGGREGATES. The raw mean is exact (DECIMAL(18,4) sum — the
    pricing-summary discipline); the winsorized mean mixes data
    values with the two percentile doubles, so it carries the
    standard round(6) float contract.

    Scale shape: thresholds are ONE exact-percentile agg per type
    (quantile_cont <-> percentile parity) broadcast back; clamping
    is a projection; the final agg is map-side-combined over the
    type dictionary."""
    ev = _read(spark, sf_dir, "events")
    th = ev.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    c = ev.join(F.broadcast(th), "event_type").select(
        "event_type",
        "value",
        "p05",
        "p95",
        F.least(F.greatest("value", "p05"), "p95").alias("w"),
        F.when(
            (F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")), 1
        )
        .otherwise(0)
        .alias("clamped"),
    )
    return c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_raw"),
        F.round(F.any_value("p05"), 6).alias("p05"),
        F.round(F.any_value("p95"), 6).alias("p95"),
        F.round(F.sum("w") / F.count(F.lit(1)), 6).alias("mean_winsorized"),
        F.sum("clamped").cast("long").alias("n_clamped"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit over event values
# ---------------------------------------------------------------------------

import math as _math

_BENFORD = [_math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def _benford_sql() -> str:
    shares = ", ".join(
        f"({d}, CAST({_BENFORD[d - 1]!r} AS DOUBLE))" for d in range(1, 10)
    )
    return f"""
    WITH digits AS (
      SELECT event_type,
        CAST(substr(CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR),
                    1, 1) AS INTEGER) AS digit
      FROM events WHERE value > 0
    ),
    obs AS (
      SELECT event_type, digit, count(*) AS c FROM digits GROUP BY 1, 2
    ),
    tn AS (SELECT event_type, sum(c) AS n FROM obs GROUP BY event_type),
    bf(digit, share) AS (VALUES {shares}),
    grid AS (
      SELECT t.event_type, b.digit, b.share, t.n, coalesce(o.c, 0) AS c
      FROM tn t CROSS JOIN bf b
      LEFT JOIN obs o ON o.event_type = t.event_type AND o.digit = b.digit
    )
    SELECT event_type, CAST(digit AS INTEGER) AS digit,
      CAST(c AS BIGINT) AS n_obs,
      round(CAST(c AS DOUBLE) / n, 6) AS obs_share,
      round(share, 6) AS benford_share,
      round(n * share, 6) AS expected,
      round((c - n * share) * (c - n * share) / (n * share), 6)
        AS chi2_contrib
    FROM grid
    """


@register("ev_benford_audit", oracle=_benford_sql())
def ev_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of event values: per (type,
    digit 1..9), the observed leading-digit share of the
    integer-cents value against Benford's log10(1 + 1/d) expectation
    and the chi-square contribution — the classic forensic screen
    for fabricated or mechanically-generated monetary data (organic
    multi-scale amounts follow Benford; fixed price points, capped
    fields, and synthetic uniform values do not — a big chi2 says
    LOOK, not fraud, which is exactly what a data-quality triage
    wants). All 9 digits are emitted per type, zeros included.

    Determinism: the leading digit comes from the INTEGER cents
    string (round(value*100) — never from a float's engine-specific
    decimal rendering), and the nine Benford constants are computed
    once here and inlined as identical double literals in both
    engines (the EWMA weight discipline).

    Scale shape: one corpus scan -> (type, digit) dictionary agg
    (map-side combined); the 9-row Benford dim and per-type totals
    are broadcast; the report is |types| x 9 rows."""
    ev = _read(spark, sf_dir, "events").where(F.col("value") > 0)
    digit = F.substring(
        F.round(F.col("value") * 100, 0).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = ev.select("event_type", digit.alias("digit")).groupBy(
        "event_type", "digit"
    ).agg(F.count(F.lit(1)).alias("c"))
    obs = obs.localCheckpoint(eager=False)  # totals + grid
    tn = obs.groupBy("event_type").agg(F.sum("c").alias("n"))
    bf = spark.createDataFrame(
        [(d, _BENFORD[d - 1]) for d in range(1, 10)], "digit int, share double"
    )
    grid = (
        tn.crossJoin(F.broadcast(bf))
        .join(F.broadcast(obs), ["event_type", "digit"], "left")
        .select(
            "event_type",
            "digit",
            F.col("n"),
            F.col("share"),
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    exp = F.col("n") * F.col("share")
    return grid.select(
        "event_type",
        F.col("digit").cast("int").alias("digit"),
        F.col("c").cast("long").alias("n_obs"),
        F.round(F.col("c").cast("double") / F.col("n"), 6).alias("obs_share"),
        F.round("share", 6).alias("benford_share"),
        F.round(exp, 6).alias("expected"),
        F.round((F.col("c") - exp) * (F.col("c") - exp) / exp, 6).alias(
            "chi2_contrib"
        ),
    )


@register(
    "rel_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
      round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (10000 - CAST(l.l_discount * 10000 AS DECIMAL(18,4)))
                     / 10000) AS DOUBLE), 6) AS revenue,
      strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
      o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderkey ASC
    LIMIT 10
    """,
)
def rel_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): the top-10 unshipped BUILDING
    orders by discounted revenue — the classic 3-table
    fact-dim-fact join the warehouse benchmark uses to probe join
    ordering and early filtering. Revenue is EXACT: price and
    discount both pass through DECIMAL arithmetic (discount as
    integer basis points — the rel_pricing_summary discipline), so
    the DESC ordering key is shuffle-order-proof and the top-10 is
    pinned (revenue DESC, orderkey ASC).

    Scale shape: both filters sit in the scan (pushdown-able
    predicates on mktsegment / orderdate / shipdate), the customer
    dim broadcasts, orders->lineitem joins on the order key, and the
    top-10 is TakeOrderedAndProject (per-partition heaps) — never a
    global sort of the aggregate."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderdate") < "1998-03-15"
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_shipdate") > "1998-03-15"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    bp = (F.col("l_discount") * 10000).cast("decimal(18,4)")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (10000 - bp) / 10000
    agg = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(F.round(F.sum(rev).cast("double"), 6).alias("revenue"))
    )
    return agg.orderBy(F.desc("revenue"), F.asc("orderkey")).limit(10).select(
        "orderkey", "revenue", "orderdate", "orderpriority"
    )


# ---------------------------------------------------------------------------
# Rolling active users (DAU / WAU)
# ---------------------------------------------------------------------------


@register(
    "ev_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
    contrib AS (
      SELECT user_id, day + to_days(CAST(o AS INTEGER)) AS day
      FROM ud, LATERAL (SELECT unnest(generate_series(0, 6)) AS o) s
    ),
    wau AS (
      SELECT day, count(DISTINCT user_id) AS wau FROM contrib GROUP BY day
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
      CAST(a.dau AS BIGINT) AS dau,
      CAST(w.wau AS BIGINT) AS wau,
      round(CAST(a.dau AS DOUBLE) / w.wau, 6) AS stickiness
    FROM days d
    JOIN dau a ON d.day = a.day
    JOIN wau w ON d.day = w.day
    """,
)
def ev_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active users — the product-metrics staple: per
    calendar day, DAU (distinct users active that day), WAU
    (distinct users active in the trailing 7 days), and the DAU/WAU
    stickiness ratio. Distinct-over-a-sliding-window does NOT
    decompose (you cannot sum daily distincts), so the scale-correct
    construction is the CONTRIBUTION EXPLODE: each (user, day)
    activity row contributes to 7 calendar days, then one exact
    count-distinct per day — a bounded 7x blowup of the (user, day)
    DICTIONARY (already collapsed from the corpus), traded against
    the unshardable alternative of a distinct inside a range window.
    Days with activity only in their trailing window but none of
    their own are not reported (DAU = 0 rows are dashboard noise).

    Scale shape: corpus -> (user, day) dictionary in one distinct;
    the explode is narrow; both counts are keyed aggs; report is
    day-dictionary-sized."""
    ev = _read(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct().localCheckpoint(eager=False)  # dau + wau consumers
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("o"),
        "day",
    ).select("user_id", F.date_add(F.col("day"), F.col("o")).alias("day"))
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


@register(
    "ev_concentration",
    oracle="""
    WITH per_user AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id
    ),
    th AS (
      SELECT quantile_cont(c, 0.90) AS p90, quantile_cont(c, 0.99) AS p99
      FROM per_user
    ),
    agg AS (
      SELECT count(*) AS n_users, sum(c) AS n_events,
        sum(CASE WHEN c > th.p90 THEN c ELSE 0 END) AS ev_top10,
        sum(CASE WHEN c > th.p99 THEN c ELSE 0 END) AS ev_top1,
        sum(CASE WHEN c > th.p90 THEN 1 ELSE 0 END) AS u_top10,
        sum(CASE WHEN c > th.p99 THEN 1 ELSE 0 END) AS u_top1
      FROM per_user CROSS JOIN th
    )
    SELECT CAST(n_users AS BIGINT) AS n_users,
      CAST(n_events AS BIGINT) AS n_events,
      CAST(u_top10 AS BIGINT) AS n_users_above_p90,
      CAST(u_top1 AS BIGINT) AS n_users_above_p99,
      round(CAST(ev_top10 AS DOUBLE) / n_events, 6) AS share_above_p90,
      round(CAST(ev_top1 AS DOUBLE) / n_events, 6) AS share_above_p99,
      CAST(ev_top1 AS DOUBLE) / n_events > 0.5 AS is_whale_dominated
    FROM agg
    """,
)
def ev_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-concentration report: the share of all events
    produced by users ABOVE the per-user-volume p90 and p99 — the
    Pareto/whale readout (a handful of accounts producing most
    traffic is either your power-user segment or a bot fleet;
    ev_bot_regularity and ev_user_entropy say which) computed the
    scale-correct way: a full Gini needs a GLOBAL rank of the user
    dictionary (the single-task-sort antipattern this repo's
    vocabulary queries specifically avoid), while percentile
    thresholds + conditional sums deliver the same decision signal
    from one exact-percentile agg and one more dictionary pass.
    Strict `>` against the threshold: the boundary user is not
    "above" its own percentile.

    Scale shape: corpus -> per-user dictionary in one map-side-
    combined agg; two exact percentiles over the dictionary
    (quantile_cont parity); one conditional-sum agg against the
    broadcast 1-row thresholds; a 1-row report."""
    ev = _read(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    per_user = per_user.localCheckpoint(eager=False)  # thresholds + sums
    th = per_user.agg(
        F.percentile("c", 0.90).alias("p90"),
        F.percentile("c", 0.99).alias("p99"),
    )
    a = per_user.crossJoin(F.broadcast(th)).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("c").alias("n_events"),
        F.sum(F.when(F.col("c") > F.col("p90"), F.col("c")).otherwise(0)).alias(
            "ev_top10"
        ),
        F.sum(F.when(F.col("c") > F.col("p99"), F.col("c")).otherwise(0)).alias(
            "ev_top1"
        ),
        F.sum(F.when(F.col("c") > F.col("p90"), 1).otherwise(0)).alias("u_top10"),
        F.sum(F.when(F.col("c") > F.col("p99"), 1).otherwise(0)).alias("u_top1"),
    )
    return a.select(
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("u_top10").cast("long").alias("n_users_above_p90"),
        F.col("u_top1").cast("long").alias("n_users_above_p99"),
        F.round(F.col("ev_top10").cast("double") / F.col("n_events"), 6).alias(
            "share_above_p90"
        ),
        F.round(F.col("ev_top1").cast("double") / F.col("n_events"), 6).alias(
            "share_above_p99"
        ),
        (F.col("ev_top1").cast("double") / F.col("n_events") > 0.5).alias(
            "is_whale_dominated"
        ),
    )


@register(
    "rel_supplier_part_counts",
    oracle="""
    WITH bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0),
    ps AS (
      SELECT DISTINCT l.l_partkey, l.l_suppkey
      FROM lineitem l LEFT JOIN bad b ON l.l_suppkey = b.s_suppkey
      WHERE b.s_suppkey IS NULL
    )
    SELECT p.p_brand AS brand, p.p_type AS type,
      CAST(p.p_size AS INTEGER) AS size,
      CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, brand ASC, type ASC, size ASC
    LIMIT 20
    """,
)
def rel_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct
    supplier counts per (brand, type, size), EXCLUDING blacklisted
    suppliers (negative account balance standing in for Q16's
    complaint filter), top-20 — the anti-join + multi-key
    count-distinct pattern (supplier diversity per product family,
    the assortment-risk readout a procurement team asks for: one
    supplier per part family is a supply-chain single point of
    failure).

    Scale shape: the blacklist is a broadcast ANTI join against the
    fact scan; (partkey, suppkey) dedups once (keyed); the part dim
    broadcasts; count distinct per family is one keyed agg; top-20
    is TakeOrderedAndProject with the full deterministic tiebreak
    (count DESC, then every key ASC)."""
    bad = spark.read.parquet(f"{sf_dir}/supplier.parquet").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_partkey", "l_suppkey"
    )
    ps = (
        li.join(
            F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti"
        )
        .distinct()
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    agg = (
        ps.join(F.broadcast(part), ps["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").cast("int").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )
    return agg.orderBy(
        F.desc("supplier_cnt"), F.asc("brand"), F.asc("type"), F.asc("size")
    ).limit(20)


# ---------------------------------------------------------------------------
# Offline change-point localization (binary-segmentation first split)
# ---------------------------------------------------------------------------


@register(
    "ev_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, count(*) AS n, sum(c) AS s1, sum(c * c) AS s2
      FROM daily GROUP BY event_type
    ),
    pre AS (
      SELECT event_type, day, c,
        row_number() OVER w AS k,
        sum(c) OVER w AS c1,
        sum(c * c) OVER w AS c2
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    split AS (
      SELECT p.event_type, p.day AS split_day, p.k, t.n, t.s1, p.c1,
        ((CAST(t.s2 AS DOUBLE) - CAST(t.s1 AS DOUBLE) * t.s1 / t.n)
         - (CAST(p.c2 AS DOUBLE) - CAST(p.c1 AS DOUBLE) * p.c1 / p.k))
        - (CAST(t.s2 - p.c2 AS DOUBLE)
           - CAST(t.s1 - p.c1 AS DOUBLE) * (t.s1 - p.c1) / (t.n - p.k))
          AS reduction
      FROM pre p JOIN tot t USING (event_type)
      WHERE t.n >= 4 AND p.k < t.n
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
        ORDER BY round(reduction, 6) DESC, split_day) AS rk
      FROM split
    )
    SELECT event_type, split_day, CAST(n AS BIGINT) AS n_days,
      round(CAST(c1 AS DOUBLE) / k, 6) AS mean_before,
      round(CAST(s1 - c1 AS DOUBLE) / (n - k), 6) AS mean_after,
      round(reduction, 6) AS sse_reduction,
      CASE WHEN s1 - c1 > CAST(c1 AS DOUBLE) * (n - k) / k THEN 'up'
           WHEN s1 - c1 < CAST(c1 AS DOUBLE) * (n - k) / k THEN 'down'
           ELSE 'flat' END AS direction
    FROM best WHERE rk = 1
    """,
)
def ev_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline single change-point localization per event type — the
    first split of binary segmentation (Scott & Knott 1974; the
    building block of PELT-style detectors): over the per-type daily
    count series, choose the split k maximizing the squared-error
    reduction SSE_total - (SSE_left + SSE_right), i.e. the two-
    segment piecewise-constant fit. The RETROSPECTIVE complement to
    the repo's sequential monitors: ev_cusum_drift answers "is the
    feed drifting right now?", this answers "on which day did the
    regime change?" — the post-mortem query a crawl operator runs
    after CUSUM fires, and a corpus curator runs to date a source's
    format change (reference analog: dating when a download feed's
    schema shifted, resolve_load_omics_data.py's per-batch
    diagnostics).

    Every per-split SSE term comes from ONE pass of cumulative sums
    (k, c1 = sum c, c2 = sum c^2) windowed PARTITION BY event_type
    over the DAILY table — the same dictionary-sized-window defense
    as ev_cusum_drift: corpus-sized work is exactly one map-side-
    combined daily count agg; the windows never see the raw event
    stream and are bounded by horizon_days x n_types at any corpus
    size. Argmin is rank-by-ROUNDED-reduction (ties are exact in
    real arithmetic for symmetric series) with earliest-day
    tiebreak; types with < 4 days have no meaningful two-segment
    fit and are omitted. All SSE floats are derived from integer
    moments in a fixed expression order, so both engines produce
    bit-identical doubles before the round."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # two consumers: totals + prefix scan
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = daily.select(
        "event_type",
        "day",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).alias("k"),
        F.sum("c").over(w).alias("c1"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("c2"),
    )
    j = pre.join(F.broadcast(tot), "event_type").where(
        (F.col("n") >= 4) & (F.col("k") < F.col("n"))
    )
    s1d, c1d = F.col("s1").cast("double"), F.col("c1").cast("double")
    sse_t = F.col("s2").cast("double") - s1d * F.col("s1") / F.col("n")
    sse_l = F.col("c2").cast("double") - c1d * F.col("c1") / F.col("k")
    r1 = F.col("s1") - F.col("c1")
    sse_r = (F.col("s2") - F.col("c2")).cast("double") - r1.cast("double") * r1 / (
        F.col("n") - F.col("k")
    )
    split = j.select(
        "event_type",
        F.col("day").alias("split_day"),
        "k",
        "n",
        "s1",
        "c1",
        ((sse_t - sse_l) - sse_r).alias("reduction"),
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.round(F.col("reduction"), 6).desc(), F.col("split_day")
        )
    )
    after_mean_scaled = c1d * (F.col("n") - F.col("k")) / F.col("k")
    return (
        split.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            "split_day",
            F.col("n").cast("long").alias("n_days"),
            F.round(c1d / F.col("k"), 6).alias("mean_before"),
            F.round(
                (F.col("s1") - F.col("c1")).cast("double")
                / (F.col("n") - F.col("k")),
                6,
            ).alias("mean_after"),
            F.round("reduction", 6).alias("sse_reduction"),
            F.when(r1 > after_mean_scaled, "up")
            .when(r1 < after_mean_scaled, "down")
            .otherwise("flat")
            .alias("direction"),
        )
    )


# ---------------------------------------------------------------------------
# Two-proportion A/B test with Wilson intervals (A/A calibration)
# ---------------------------------------------------------------------------

from multiomics_biocypher_kg_spark.functions.hashing import (  # noqa: E402
    md5_long,
    md5_long_sql,
)

_AB_SALT = "#ab0"
_AB_Z = 1.96  # two-sided alpha = 0.05


@register(
    "ev_ab_test",
    oracle=f"""
    WITH assigned AS (
      SELECT ({md5_long_sql("CAST(event_id AS VARCHAR) || '" + _AB_SALT + "'")}
              % 2 = 0) AS in_a,
        (event_type = 'purchase') AS converted
      FROM events
    ),
    agg AS (
      SELECT
        CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN in_a AND converted THEN 1 ELSE 0 END) AS BIGINT)
          AS conv_a,
        CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN NOT in_a AND converted THEN 1 ELSE 0 END)
          AS BIGINT) AS conv_b
      FROM assigned
    ),
    rates AS (
      SELECT *,
        CAST(conv_a AS DOUBLE) / n_a AS p_a,
        CAST(conv_b AS DOUBLE) / n_b AS p_b,
        CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
      FROM agg
    )
    SELECT n_a, conv_a, round(p_a, 6) AS rate_a,
      round((p_a + {_AB_Z} * {_AB_Z} / (2 * n_a)
             - {_AB_Z} * sqrt(p_a * (1 - p_a) / n_a
               + {_AB_Z} * {_AB_Z} / (4.0 * n_a * n_a)))
            / (1 + {_AB_Z} * {_AB_Z} / n_a), 6) AS wilson_lo_a,
      round((p_a + {_AB_Z} * {_AB_Z} / (2 * n_a)
             + {_AB_Z} * sqrt(p_a * (1 - p_a) / n_a
               + {_AB_Z} * {_AB_Z} / (4.0 * n_a * n_a)))
            / (1 + {_AB_Z} * {_AB_Z} / n_a), 6) AS wilson_hi_a,
      n_b, conv_b, round(p_b, 6) AS rate_b,
      round((p_b + {_AB_Z} * {_AB_Z} / (2 * n_b)
             - {_AB_Z} * sqrt(p_b * (1 - p_b) / n_b
               + {_AB_Z} * {_AB_Z} / (4.0 * n_b * n_b)))
            / (1 + {_AB_Z} * {_AB_Z} / n_b), 6) AS wilson_lo_b,
      round((p_b + {_AB_Z} * {_AB_Z} / (2 * n_b)
             + {_AB_Z} * sqrt(p_b * (1 - p_b) / n_b
               + {_AB_Z} * {_AB_Z} / (4.0 * n_b * n_b)))
            / (1 + {_AB_Z} * {_AB_Z} / n_b), 6) AS wilson_hi_b,
      round((p_a - p_b) / sqrt(p_pool * (1 - p_pool)
            * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score,
      abs((p_a - p_b) / sqrt(p_pool * (1 - p_pool)
            * (1.0 / n_a + 1.0 / n_b))) > {_AB_Z} AS significant
    FROM rates
    """,
)
def ev_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test with per-arm Wilson 95% intervals over
    a deterministic hash split of the event stream — run here as the
    A/A CALIBRATION every experimentation platform ships before
    trusting its A/B readouts: arms are assigned by salted hash of
    the event id (the same replayable-randomness convention as
    data_split_assign), conversion = the 'purchase' event type, and
    because assignment is independent of behavior the test must NOT
    reject (z near 0; pytest-asserted) — a rejection here means the
    harness, not the treatment, is broken. The Wilson interval
    (score interval) is used instead of the Wald normal
    approximation because it stays inside [0,1] and behaves at
    small/skewed counts — it is the interval real platforms report.

    Scale shape: ONE map-side-combined aggregation over the event
    scan (four conditional counts); every statistic after that is a
    1-row projection — z, pooled rate, both Wilson bounds — in a
    pinned expression order (divisions and one sqrt; IEEE-exact in
    both engines, round(6) at output)."""
    ev = _read(spark, sf_dir, "events")
    in_a = (
        md5_long(F.concat(F.col("event_id").cast("string"), F.lit(_AB_SALT))) % 2
        == 0
    )
    converted = F.col("event_type") == "purchase"
    agg = ev.select(in_a.alias("in_a"), converted.alias("converted")).agg(
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("in_a") & F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("in_a"), 0).otherwise(1)).cast("long").alias("n_b"),
        F.sum(F.when(~F.col("in_a") & F.col("converted"), 1).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )
    z = F.lit(_AB_Z)
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )

    def _wilson(p, n, sign: int):
        center = p + z * z / (2 * n)
        margin = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
        return (center + sign * margin) / (1 + z * z / n)

    zstat = (p_a - p_b) / F.sqrt(
        p_pool * (1 - p_pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return agg.select(
        "n_a",
        "conv_a",
        F.round(p_a, 6).alias("rate_a"),
        F.round(_wilson(p_a, F.col("n_a"), -1), 6).alias("wilson_lo_a"),
        F.round(_wilson(p_a, F.col("n_a"), 1), 6).alias("wilson_hi_a"),
        "n_b",
        "conv_b",
        F.round(p_b, 6).alias("rate_b"),
        F.round(_wilson(p_b, F.col("n_b"), -1), 6).alias("wilson_lo_b"),
        F.round(_wilson(p_b, F.col("n_b"), 1), 6).alias("wilson_hi_b"),
        F.round(zstat, 6).alias("z_score"),
        (F.abs(zstat) > z).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution (power iteration, order-pinned folds)
# ---------------------------------------------------------------------------

_MSTAT_ITERS = 8

_MSTAT_TRANS_SQL = """
    seq AS (
      SELECT user_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT prev_type, sum(n) AS t FROM trans GROUP BY prev_type),
    pmat AS (
      SELECT tr.prev_type, tr.next_type,
        CAST(tr.n AS DOUBLE) / tot.t AS p
      FROM trans tr JOIN tot ON tr.prev_type = tot.prev_type
    ),
    states AS (SELECT DISTINCT prev_type AS s FROM trans),
    nstates AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
    pi0 AS (SELECT s, 1.0 / (SELECT k FROM nstates) AS p FROM states)
"""


def _mstat_sql() -> str:
    parts = [_MSTAT_TRANS_SQL.strip()]
    for i in range(_MSTAT_ITERS):
        parts.append(
            f"""pi{i + 1} AS MATERIALIZED (
      SELECT t.next_type AS s,
        list_reduce(list(CAST(p.p * t.p AS DOUBLE) ORDER BY t.prev_type),
                    (x, y) -> x + y) AS p
      FROM pi{i} p JOIN pmat t ON t.prev_type = p.s
      GROUP BY t.next_type
    )"""
        )
    return (
        "WITH "
        + (",\n    ".join(parts)).replace("pi0 AS (", "pi0 AS MATERIALIZED (", 1)
        + f""",
    emp AS (
      SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ),
    emp_tot AS (SELECT sum(n) AS tot FROM emp)
    SELECT pi.s AS event_type, round(pi.p, 6) AS stationary_p,
      round(CAST(e.n AS DOUBLE) / (SELECT tot FROM emp_tot), 6)
        AS empirical_share,
      round(pi.p - CAST(e.n AS DOUBLE) / (SELECT tot FROM emp_tot), 6)
        AS delta
    FROM pi{_MSTAT_ITERS} pi JOIN emp e ON e.event_type = pi.s"""
    )


@register("ev_markov_stationary", oracle=_mstat_sql())
def ev_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain — {it} power-iteration steps from the uniform vector over
    the transition matrix ev_markov_transitions estimates — beside
    the raw empirical type share. The two answer different
    questions: the empirical share is "what fraction of events ARE
    type X", the stationary vector is "where does the PROCESS spend
    its time in the long run" — they diverge exactly when some type
    is a transient entry point (users start at signup but never
    return to it), which is the funnel-health reading this query
    surfaces as `delta`. States are the types observed as transition
    SOURCES (every type in the fixture both sends and receives).

    The float discipline is the interesting part at cross-engine
    exactness: pi'_c = sum_s pi_s * P(s,c) is an UNORDERED float sum
    under groupBy — so both engines fold the contributions in the
    SAME pinned order instead (Spark: F.aggregate over
    sort_array(collect_list(struct(s, contrib))); DuckDB:
    list_reduce(list(contrib ORDER BY prev_type)) — left folds over
    the state-sorted list, bit-identical because x+0.0 and
    first-element init agree on positive doubles). Scale shape: the
    corpus is touched twice (transition-pair agg; empirical-share
    agg — both map-side combined); each iteration is a |types|^2
    dictionary join, checkpointed per round (the iterative-family
    lineage discipline)."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = trans.groupBy("prev_type").agg(F.sum("n").alias("t"))
    pmat = (
        trans.join(tot, "prev_type")
        .select(
            "prev_type",
            "next_type",
            (F.col("n").cast("double") / F.col("t")).alias("p"),
        )
        # |types|^2 rows — the loop invariant, checkpointed once
        .localCheckpoint()
    )
    states = pmat.select(F.col("prev_type").alias("s")).distinct()
    k = states.count()  # |types| — tiny driver-side constant
    pi = states.select("s", (F.lit(1.0) / k).alias("p")).localCheckpoint()
    for _ in range(_MSTAT_ITERS):
        contribs = pi.join(pmat, pi["s"] == pmat["prev_type"]).select(
            F.col("next_type"),
            F.col("prev_type"),
            (pi["p"] * pmat["p"]).alias("v"),
        )
        pi = (
            contribs.groupBy(F.col("next_type").alias("s"))
            .agg(
                F.aggregate(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("prev_type").alias("o"),
                                F.col("v").alias("v"),
                            )
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["v"],
                ).alias("p")
            )
            .localCheckpoint()
        )
    emp = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        # |types| rows; checkpointed so the share join and the total
        # don't each re-scan the corpus
        .localCheckpoint()
    )
    emp_tot = emp.agg(F.sum("n").alias("tot"))
    share = F.col("n").cast("double") / F.col("tot")
    return (
        pi.join(emp, pi["s"] == emp["event_type"])
        .crossJoin(F.broadcast(emp_tot))
        .select(
            F.col("s").alias("event_type"),
            F.round("p", 6).alias("stationary_p"),
            F.round(share, 6).alias("empirical_share"),
            F.round(F.col("p") - share, 6).alias("delta"),
        )
    )


ev_markov_stationary.__doc__ = ev_markov_stationary.__doc__.format(
    it=_MSTAT_ITERS
)


# ---------------------------------------------------------------------------
# One-pass permutation test + Benjamini-Hochberg FDR across types
# ---------------------------------------------------------------------------

_PERM_K = 64
_PERM_ALPHA = 0.1


def _perm_arm_sql(salt: str) -> str:
    return f"({md5_long_sql('CAST(event_id AS VARCHAR) || ' + repr('#' + salt))} % 2)"


def _perm_sql() -> str:
    arm_aggs = ",\n        ".join(
        f"sum({_perm_arm_sql(f'perm{k}')}) AS n1_{k},\n        "
        f"sum(CASE WHEN {_perm_arm_sql(f'perm{k}')} = 1 THEN cents ELSE 0 END)"
        f" AS s1_{k}"
        for k in range(_PERM_K)
    )
    diff = (
        "(CAST({s} AS DOUBLE) / {n}"
        " - CAST(tot_s - {s} AS DOUBLE) / (tot_n - {n}))"
    )
    exceed = "\n        + ".join(
        "(CASE WHEN abs"
        + diff.format(s=f"s1_{k}", n=f"n1_{k}")
        + " >= abs(obs_diff) THEN 1 ELSE 0 END)"
        for k in range(_PERM_K)
    )
    return f"""
    WITH base AS (
      SELECT event_type,
        CAST(floor(value * 100) AS BIGINT) AS cents,
        {_perm_arm_sql('permobs')} AS obs_arm,
        event_id
      FROM events
    ),
    agg AS (
      SELECT event_type,
        CAST(count(*) AS BIGINT) AS tot_n,
        CAST(sum(cents) AS BIGINT) AS tot_s,
        sum(obs_arm) AS obs_n1,
        sum(CASE WHEN obs_arm = 1 THEN cents ELSE 0 END) AS obs_s1,
        {arm_aggs}
      FROM base GROUP BY event_type
    ),
    obs AS (
      SELECT *, {diff.format(s='obs_s1', n='obs_n1')} AS obs_diff FROM agg
    ),
    pvals AS (
      SELECT event_type, tot_n, obs_diff,
        (1.0 + ({exceed})) / {_PERM_K + 1}.0 AS p
      FROM obs
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pvals),
    ranked AS (
      SELECT p.*, (SELECT m FROM m) AS m,
        row_number() OVER (ORDER BY p.p, p.event_type) AS r
      FROM pvals p
    ),
    bh AS (
      SELECT *, least(1.0, min(p * m / r) OVER (ORDER BY r DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS q
      FROM ranked
    )
    SELECT event_type, tot_n AS n_events, round(obs_diff, 6) AS obs_diff,
      round(p, 6) AS p_value, round(q, 6) AS q_value,
      q <= {_PERM_ALPHA} AS reject
    FROM bh
    """


@register("ev_permutation_fdr", oracle=_perm_sql())
def ev_permutation_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (permutation) test per event type — does the
    mean monetary value differ between the two hash-assigned arms?
    — with Benjamini-Hochberg FDR control across the type family.
    The permutation machinery is what makes inference possible
    WITHOUT a normal-CDF primitive (neither engine exposes erf):
    the null distribution is built from {k} deterministic hash
    re-assignments of the arm label, p = (1 + #{{|perm diff| >=
    |obs diff|}}) / ({k}+1) — exact, assumption-free, and the
    multiple-comparisons correction (rank p ascending, q_r =
    min_{{j>=r}} p_j * m / j, reject at q <= {a}) is the FDR
    discipline any per-segment metric sweep needs before paging an
    on-call. Arms here are hash splits (an A/A family), so rejects
    are calibrated false positives — expected ~0 of m at {a}.

    Scale shape: ALL {k} permutations + the observed split are
    conditional sums inside ONE map-side-combined aggregation over
    a single corpus scan (2 x {k} + 4 agg expressions — the
    minhash wide-agg discipline; no per-permutation pass, no
    explode). Monetary values enter as EXACT integer cents (the
    Benford convention), so every permutation sum is int64-exact;
    floats appear only in the final mean differences. The BH
    windows run over the m-row TYPE dictionary."""
    ev = _read(spark, sf_dir, "events")

    def arm(salt: str):
        return (
            md5_long(
                F.concat(F.col("event_id").cast("string"), F.lit(f"#{salt}"))
            )
            % 2
        )

    cents = F.floor(F.col("value") * 100).cast("long")
    base = ev.select(
        "event_type",
        cents.alias("cents"),
        arm("permobs").alias("obs_arm"),
        *[arm(f"perm{k}").alias(f"a{k}") for k in range(_PERM_K)],
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("tot_n"),
        F.sum("cents").cast("long").alias("tot_s"),
        F.sum("obs_arm").alias("obs_n1"),
        F.sum(F.when(F.col("obs_arm") == 1, F.col("cents")).otherwise(0)).alias(
            "obs_s1"
        ),
    ]
    for k in range(_PERM_K):
        aggs.append(F.sum(F.col(f"a{k}")).alias(f"n1_{k}"))
        aggs.append(
            F.sum(
                F.when(F.col(f"a{k}") == 1, F.col("cents")).otherwise(0)
            ).alias(f"s1_{k}")
        )
    agg = base.groupBy("event_type").agg(*aggs)

    def diff(s, n):
        return F.col(s).cast("double") / F.col(n) - (
            F.col("tot_s") - F.col(s)
        ).cast("double") / (F.col("tot_n") - F.col(n))

    obs_diff = diff("obs_s1", "obs_n1")
    exceed = sum(
        F.when(F.abs(diff(f"s1_{k}", f"n1_{k}")) >= F.abs(obs_diff), 1).otherwise(
            0
        )
        for k in range(_PERM_K)
    )
    pvals = agg.select(
        "event_type",
        "tot_n",
        obs_diff.alias("obs_diff"),
        ((1.0 + exceed) / float(_PERM_K + 1)).alias("p"),
    ).localCheckpoint()  # m-row dictionary; feeds count + rank + BH
    m = pvals.count()  # m types — driver-side constant
    from pyspark.sql import Window

    r = F.row_number().over(Window.orderBy(F.col("p"), F.col("event_type")))
    ranked = pvals.withColumn("r", r)
    wq = Window.orderBy(F.col("r").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    q = F.least(F.lit(1.0), F.min(F.col("p") * m / F.col("r")).over(wq))
    return ranked.select(
        "event_type",
        F.col("tot_n").alias("n_events"),
        F.round("obs_diff", 6).alias("obs_diff"),
        F.round("p", 6).alias("p_value"),
        F.round(q, 6).alias("q_value"),
        (q <= _PERM_ALPHA).alias("reject"),
    )


ev_permutation_fdr.__doc__ = ev_permutation_fdr.__doc__.format(
    k=_PERM_K, a=_PERM_ALPHA
)


# ---------------------------------------------------------------------------
# Functional-dependency discovery over a candidate set (TANE-style check)
# ---------------------------------------------------------------------------

# (table, lhs columns, rhs column) — a mix of key FDs (must hold),
# plausible-but-false candidates a profiler must refute (including
# the composite (l_orderkey, l_linenumber), which the synthetic feed
# does NOT keep unique — exactly the schema assumption this check
# exists to catch), and one sample-size-fragile FD
# (s_nationkey -> s_acctbal holds at sf0.001 by accident and breaks
# at sf0.01 — the approximate-FD caution the violation_ratio column
# quantifies).
_FD_CANDS = [
    ("nation", ("n_nationkey",), "n_regionkey"),
    ("nation", ("n_regionkey",), "n_nationkey"),
    ("orders", ("o_orderkey",), "o_orderstatus"),
    ("orders", ("o_custkey",), "o_orderpriority"),
    ("lineitem", ("l_orderkey",), "l_returnflag"),
    ("lineitem", ("l_orderkey", "l_linenumber"), "l_partkey"),
    ("part", ("p_partkey",), "p_brand"),
    ("part", ("p_brand",), "p_type"),
    ("customer", ("c_nationkey",), "c_mktsegment"),
    ("supplier", ("s_nationkey",), "s_acctbal"),
]


def _fd_sql() -> str:
    selects = []
    for table, lhs, rhs in _FD_CANDS:
        label = f"{table}: {','.join(lhs)} -> {rhs}"
        lhs_list = ", ".join(lhs)
        selects.append(
            f"""SELECT '{label}' AS fd, '{table}' AS table_name,
      CAST(count(DISTINCT ({lhs_list})) AS BIGINT) AS n_lhs,
      CAST(count(DISTINCT ({lhs_list}, {rhs})) AS BIGINT) AS n_pairs
    FROM {table}"""
        )
    return f"""
    WITH checks AS (
      {'''
      UNION ALL
      '''.join(selects)}
    )
    SELECT fd, table_name, n_lhs, n_pairs,
      n_lhs = n_pairs AS holds,
      round(CAST(n_pairs - n_lhs AS DOUBLE) / n_pairs, 6)
        AS violation_ratio
    FROM checks
    """


@register("rel_fd_discovery", oracle=_fd_sql())
def rel_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency check over a declared candidate set —
    the TANE/metanome primitive behind schema profiling: lhs -> rhs
    holds exactly when |distinct(lhs)| == |distinct(lhs, rhs)|, and
    the violation ratio (extra (lhs, rhs) combinations per observed
    pair) grades APPROXIMATE FDs. The candidate list mixes key FDs
    (must hold), plausible-but-false candidates (must be refuted —
    including the composite (l_orderkey, l_linenumber) "primary
    key", which the synthetic feed does NOT keep unique: the broken
    schema assumption this check exists to catch), and one
    sample-size-fragile FD (s_nationkey -> s_acctbal holds at
    sf0.001 by accident, breaks at sf0.01) — discovered invariants a
    pipeline then enforces as data-quality checks
    (data_quality_checks is the enforcement side; this is the
    discovery side; reference analog: the YAML schema_config's
    declared field dependencies, schema.py).

    Scale shape: per TABLE, all its candidates collapse into ONE
    aggregation of count-distinct pairs (each a hash-partial
    distinct agg — map-side combined, no row blowup); the report
    unions dictionary-sized 1-row results. No joins, no windows, no
    floats until the final ratio."""
    parts = []
    by_table: dict[str, list] = {}
    for table, lhs, rhs in _FD_CANDS:
        by_table.setdefault(table, []).append((lhs, rhs))
    for table, cands in by_table.items():
        df = _read(spark, sf_dir, table)
        aggs = []
        for lhs, rhs in cands:
            tag = f"{'_'.join(lhs)}__{rhs}"
            aggs.append(
                F.countDistinct(*[F.col(c) for c in lhs])
                .cast("long")
                .alias(f"l_{tag}")
            )
            aggs.append(
                F.countDistinct(*([F.col(c) for c in lhs] + [F.col(rhs)]))
                .cast("long")
                .alias(f"p_{tag}")
            )
        row = df.agg(*aggs)
        # all the table's candidates leave the ONE agg row through a
        # single explode — a per-candidate select would re-inline
        # the scan once per candidate (plan-guarded)
        structs = []
        for lhs, rhs in cands:
            tag = f"{'_'.join(lhs)}__{rhs}"
            label = f"{table}: {','.join(lhs)} -> {rhs}"
            structs.append(
                F.struct(
                    F.lit(label).alias("fd"),
                    F.lit(table).alias("table_name"),
                    F.col(f"l_{tag}").alias("n_lhs"),
                    F.col(f"p_{tag}").alias("n_pairs"),
                )
            )
        parts.append(
            row.select(F.explode(F.array(*structs)).alias("c")).select(
                "c.fd", "c.table_name", "c.n_lhs", "c.n_pairs"
            )
        )
    checks = parts[0]
    for p in parts[1:]:
        checks = checks.unionByName(p)
    return checks.select(
        "fd",
        "table_name",
        "n_lhs",
        "n_pairs",
        (F.col("n_lhs") == F.col("n_pairs")).alias("holds"),
        F.round(
            (F.col("n_pairs") - F.col("n_lhs")).cast("double") / F.col("n_pairs"),
            6,
        ).alias("violation_ratio"),
    )


# ---------------------------------------------------------------------------
# Exponential goodness-of-fit for inter-arrival times (Lilliefors KS)
# ---------------------------------------------------------------------------


@register(
    "ev_exponential_gof",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
        date_diff('second',
          lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id),
          ts) AS gap
      FROM events
    ),
    g AS (SELECT event_type, gap FROM gaps WHERE gap IS NOT NULL AND gap > 0),
    counts AS (
      SELECT event_type, gap, count(*) AS c FROM g GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
        CAST(sum(gap * c) AS BIGINT) AS s
      FROM counts GROUP BY event_type
    ),
    cum AS (
      SELECT event_type, gap, c,
        sum(c) OVER (PARTITION BY event_type ORDER BY gap
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc
      FROM counts
    ),
    diffs AS (
      SELECT c.event_type, c.gap,
        greatest(
          abs(CAST(c.cumc AS DOUBLE) / t.n
              - (1.0 - exp(-(CAST(t.n AS DOUBLE) / t.s) * c.gap))),
          abs(CAST(c.cumc - c.c AS DOUBLE) / t.n
              - (1.0 - exp(-(CAST(t.n AS DOUBLE) / t.s) * c.gap)))
        ) AS d,
        t.n, t.s
      FROM cum c JOIN tot t ON c.event_type = t.event_type
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
        ORDER BY round(d, 6) DESC, gap ASC) AS rk
      FROM diffs
    )
    SELECT event_type, n AS n_gaps,
      round(CAST(s AS DOUBLE) / n, 6) AS mean_gap_sec,
      round(d, 6) AS ks_stat,
      CAST(gap AS BIGINT) AS ks_at_gap,
      round(1.094 / sqrt(CAST(n AS DOUBLE)), 6) AS critical_005,
      d > 1.094 / sqrt(CAST(n AS DOUBLE)) AS reject_exponential
    FROM best WHERE rk = 1
    """,
)
def ev_exponential_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the per-type event stream Poisson? Kolmogorov-Smirnov
    goodness-of-fit of the inter-arrival gaps against
    Exponential(1/mean) with the rate ESTIMATED from the data —
    critical value 1.094/sqrt(n), the Stephens/Lilliefors correction
    for an estimated parameter (the vanilla 1.358 coefficient is
    anti-conservative when the null's parameter comes from the same
    sample). The crawl/ops reading: a memoryless feed passes;
    batching, retry storms, and bot schedules reject — the
    distribution-level complement to ev_bot_regularity's CV gate and
    ev_burst_detect's local spikes. Both ECDF steps are checked at
    each gap value (sup over F_n(x-) too — the right-continuous ECDF
    only touches the sup from one side).

    Scale shape: gaps come from one lag window PARTITIONED by type
    (ordered by event time — the sessionize discipline), then ONE
    map-side-combined (type, gap) count agg; the ECDF windows and
    the argmax run over the GAP-VALUE dictionary per type (bounded
    by the horizon in seconds, the ev_changepoint defense). Gap sums
    are exact int64; floats are the rate, the exponential CDF (exp —
    IEEE-consistent in both engines), and the final ratios."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap"),
    ).where(F.col("gap").isNotNull() & (F.col("gap") > 0))
    counts = (
        gaps.groupBy("event_type", "gap")
        .agg(F.count(F.lit(1)).alias("c"))
        # gap-value dictionary; two consumers (totals + ECDF)
        .localCheckpoint()
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("gap") * F.col("c")).cast("long").alias("s"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.select(
        "event_type", "gap", "c", F.sum("c").over(wc).alias("cumc")
    )
    lam = F.col("n").cast("double") / F.col("s")
    cdf = 1.0 - F.exp(-lam * F.col("gap"))
    d = F.greatest(
        F.abs(F.col("cumc").cast("double") / F.col("n") - cdf),
        F.abs((F.col("cumc") - F.col("c")).cast("double") / F.col("n") - cdf),
    )
    diffs = cum.join(F.broadcast(tot), "event_type").select(
        "event_type", "gap", d.alias("d"), "n", "s"
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.round(F.col("d"), 6).desc(), F.col("gap").asc()
        )
    )
    crit = F.lit(1.094) / F.sqrt(F.col("n").cast("double"))
    return (
        diffs.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_gaps"),
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias(
                "mean_gap_sec"
            ),
            F.round("d", 6).alias("ks_stat"),
            F.col("gap").cast("long").alias("ks_at_gap"),
            F.round(crit, 6).alias("critical_005"),
            (F.col("d") > crit).alias("reject_exponential"),
        )
    )


# ---------------------------------------------------------------------------
# Temporal referential integrity (ship-before-order audit)
# ---------------------------------------------------------------------------


@register(
    "rel_temporal_integrity",
    oracle="""
    WITH j AS (
      SELECT o.o_orderpriority AS pri,
        date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    per AS (
      SELECT pri, CAST(count(*) AS BIGINT) AS n_lines,
        CAST(sum(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violations,
        CAST(min(lag_days) AS BIGINT) AS worst_days_early
      FROM j GROUP BY pri
    )
    SELECT pri AS order_priority, n_lines, n_violations,
      round(CAST(n_violations AS DOUBLE) / n_lines, 6) AS violation_rate,
      worst_days_early
    FROM per
    UNION ALL
    SELECT 'all', CAST(sum(n_lines) AS BIGINT),
      CAST(sum(n_violations) AS BIGINT),
      round(CAST(sum(n_violations) AS DOUBLE) / sum(n_lines), 6),
      CAST(min(worst_days_early) AS BIGINT)
    FROM per
    """,
)
def rel_temporal_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL referential integrity: a line item cannot ship
    before its order was placed, yet the synthetic feed violates
    this on ~47% of lines — exactly the class of cross-table
    invariant the key-only rel_ref_integrity audit cannot see (every
    foreign key resolves; the TIMELINE is broken). Reports per
    order-priority violation counts/rates and the worst lead (most
    negative ship-minus-order days), plus the rollup 'all' row — the
    data-quality finding that blocks a feed before event-order-
    sensitive consumers (sessionization, as-of joins, survival
    curves) silently ingest it.

    Scale shape: one equi-join on the order key (the fact-to-fact
    join both tables are naturally keyed by), one map-side-combined
    per-priority agg over integer day diffs, and the rollup from the
    5-row dictionary (single pass, rollup-style union). No floats
    until the final rate."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("lag_days"),
    )
    per = (
        j.groupBy("pri")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.when(F.col("lag_days") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
            F.min("lag_days").cast("long").alias("worst_days_early"),
        )
        .localCheckpoint()  # 5-row dictionary; feeds per-rows + rollup
    )
    allr = per.agg(
        F.lit("all").alias("pri"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.sum("n_violations").cast("long").alias("n_violations"),
        F.min("worst_days_early").cast("long").alias("worst_days_early"),
    )
    out = per.unionByName(allr)
    return out.select(
        F.col("pri").alias("order_priority"),
        "n_lines",
        "n_violations",
        F.round(
            F.col("n_violations").cast("double") / F.col("n_lines"), 6
        ).alias("violation_rate"),
        "worst_days_early",
    )


# ---------------------------------------------------------------------------
# TPC-H Q2-shape: min-cost supplier per part within a region
# ---------------------------------------------------------------------------

_Q2_REGION = "EUROPE"
_Q2_TYPE = "ECONOMY"
_Q2_TOP = 20


@register(
    "rel_min_cost_supplier",
    oracle=f"""
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
        min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2
    ),
    region_supp AS (
      SELECT s.s_suppkey, s.s_name, n.n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = '{_Q2_REGION}'
    ),
    cand AS (
      SELECT p.p_partkey, p.p_size, sp.l_suppkey, rs.s_name, rs.n_name,
        sp.unit_cost,
        row_number() OVER (PARTITION BY p.p_partkey
          ORDER BY round(sp.unit_cost, 6) ASC, sp.l_suppkey ASC) AS rn
      FROM supply sp
      JOIN region_supp rs ON sp.l_suppkey = rs.s_suppkey
      JOIN part p ON sp.l_partkey = p.p_partkey
      WHERE p.p_type = '{_Q2_TYPE}'
    )
    SELECT p_partkey, CAST(p_size AS INTEGER) AS p_size,
      l_suppkey AS s_suppkey, s_name, n_name,
      round(unit_cost, 6) AS unit_cost
    FROM cand WHERE rn = 1
    ORDER BY round(unit_cost, 6) ASC, p_partkey ASC LIMIT {_Q2_TOP}
    """,
)
def rel_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's shape — "which supplier offers each part cheapest
    within a region" — re-expressed Spark-first: the spec's
    correlated MIN subquery becomes a window min PARTITIONED by part
    (the standard decorrelation), supply costs come from observed
    line unit prices (the synthetic schema has no partsupp), the
    region restriction is two BROADCAST dim hops
    (supplier->nation->region), and the final top-{k} is
    TakeOrderedAndProject. The deterministic-tiebreak discipline:
    per-part argmin by (ROUNDED unit cost, supplier key), global
    order by (rounded cost, part key).

    Scale shape: one map-side-combined (part, supplier) min agg over
    the fact table; all three dims broadcast (SortMergeJoin asserted
    absent — supplier/nation/region are classic broadcast dims; the
    part join stays broadcastable because the type filter prunes it
    in the scan); the per-part window sees only that part's regional
    candidates."""
    li = _read(spark, sf_dir, "lineitem")
    supply = (
        li.where(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    region_supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == _Q2_REGION)
        .select("s_suppkey", "s_name", "n_name")
    )
    p = _read(spark, sf_dir, "part").where(F.col("p_type") == _Q2_TYPE)
    from pyspark.sql import Window

    cand = (
        supply.join(
            F.broadcast(region_supp),
            supply["l_suppkey"] == region_supp["s_suppkey"],
        )
        .join(F.broadcast(p), supply["l_partkey"] == p["p_partkey"])
        .select(
            "p_partkey", "p_size", "l_suppkey", "s_name", "n_name", "unit_cost"
        )
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.round(F.col("unit_cost"), 6).asc(), F.col("l_suppkey").asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .orderBy(F.round(F.col("unit_cost"), 6).asc(), F.col("p_partkey").asc())
        .limit(_Q2_TOP)
        .select(
            "p_partkey",
            F.col("p_size").cast("int").alias("p_size"),
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            "n_name",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (absorbing-chain, unrolled)
# ---------------------------------------------------------------------------

# Channels = the fixture's non-conversion event types (pinned as a
# literal, the _NB_LANG_LIST convention; pytest asserts the set
# matches the data). 'purchase' is the conversion absorber.
_ATTR_CHANNELS = ["click", "error", "signup", "view"]
_ATTR_ITERS = 12

_ATTR_TRANS_SQL = """
    seq AS (
      SELECT user_id, ts, event_id, event_type,
        coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS journey,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    jseq AS (
      SELECT *, lead(event_type) OVER (PARTITION BY user_id, journey
        ORDER BY ts, event_id) AS next_type,
        row_number() OVER (PARTITION BY user_id, journey
          ORDER BY ts, event_id) AS jrn
      FROM seq
    ),
    raw_trans AS (
      SELECT event_type AS f,
        CASE WHEN next_type = 'purchase' THEN 'CONV'
             WHEN next_type IS NULL THEN 'NULL'
             ELSE next_type END AS t
      FROM jseq WHERE event_type <> 'purchase'
      UNION ALL
      SELECT 'START',
        CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END
      FROM jseq WHERE jrn = 1
    ),
    tc AS (SELECT f, t, count(*) AS n FROM raw_trans GROUP BY f, t),
    tt AS (SELECT f, sum(n) AS tot FROM tc GROUP BY f),
    pmat AS (
      SELECT tc.f, tc.t, CAST(tc.n AS DOUBLE) / tt.tot AS p
      FROM tc JOIN tt ON tc.f = tt.f
    )
"""


def _attr_iter_sql(tag: str, removed: str | None) -> str:
    """K unrolled absorption-probability iterations for one chain
    variant: p_{i+1}(s) = sorted-fold_t P(s,t) * val_i(t), with
    val(CONV)=1, val(NULL)=0, and val(removed)=0."""
    zero = (
        f"WHEN m.t = '{removed}' THEN 0.0" if removed is not None else ""
    )
    parts = [
        f"""{tag}0 AS (
      SELECT f AS s, 0.0 AS p FROM tt
    )"""
    ]
    for i in range(1, _ATTR_ITERS + 1):
        parts.append(
            f"""{tag}{i} AS MATERIALIZED (
      SELECT m.f AS s,
        list_reduce(list(CAST(m.p * (CASE WHEN m.t = 'CONV' THEN 1.0
          WHEN m.t = 'NULL' THEN 0.0 {zero}
          ELSE coalesce(pv.p, 0.0) END) AS DOUBLE) ORDER BY m.t),
          (x, y) -> x + y) AS p
      FROM pmat m LEFT JOIN {tag}{i - 1} pv ON pv.s = m.t
      GROUP BY m.f
    )"""
        )
    return ",\n    ".join(parts)


def _attr_sql() -> str:
    variants = [("b", None)] + [
        (f"v{k}", ch) for k, ch in enumerate(_ATTR_CHANNELS)
    ]
    chains = ",\n    ".join(_attr_iter_sql(tag, rem) for tag, rem in variants)
    rows = "\n      UNION ALL ".join(
        f"SELECT '{ch}' AS channel, "
        f"(SELECT p FROM v{k}{_ATTR_ITERS} WHERE s = 'START') AS p_without"
        for k, ch in enumerate(_ATTR_CHANNELS)
    )
    return f"""
    WITH {_ATTR_TRANS_SQL},
    {chains},
    base AS (SELECT p AS p_base FROM b{_ATTR_ITERS} WHERE s = 'START'),
    rem AS (
      {rows}
    ),
    eff AS (
      SELECT r.channel, b.p_base, r.p_without,
        1.0 - r.p_without / b.p_base AS removal_effect
      FROM rem r CROSS JOIN base b
    )
    SELECT channel, round(p_base, 6) AS p_conv_base,
      round(p_without, 6) AS p_conv_without,
      round(removal_effect, 6) AS removal_effect,
      round(removal_effect / sum(removal_effect) OVER (), 6)
        AS attribution_share
    FROM eff
    """


@register("ev_markov_attribution", oracle=_attr_sql())
def ev_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov REMOVAL-EFFECT attribution (the data-driven
    multi-touch model; Anderl et al. 2016): journeys are per-user
    event runs ending at a 'purchase' (CONV) or stream end (NULL);
    the first-order chain over channels + START is estimated from
    journey transitions, absorption-to-CONV probabilities come from
    {it} unrolled fixed-point iterations, and each channel's credit
    is 1 - P(conv | channel removed) / P(conv) — what first/last-
    touch (ev_attribution) structurally cannot express: a middle
    touchpoint that every converting journey passes through gets
    the credit it earns. Removal = the channel's absorption value
    pinned to 0 (transitions into it become dead ends), the
    standard formulation.

    The float discipline is the ev_markov_stationary one: each
    fixed-point sum folds its terms in sorted-successor order
    (F.aggregate over sort_array(collect_list) == DuckDB
    list_reduce(list(... ORDER BY))) so both engines produce
    bit-identical doubles; all five chain variants (base + 4
    removals) iterate over the same checkpointed |states|^2
    transition dictionary. Corpus cost: ONE scan building journey
    transitions (two window passes partitioned by user); everything
    after is dictionary arithmetic."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
                wu.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("journey"),
    )
    wj = Window.partitionBy("user_id", "journey").orderBy("ts", "event_id")
    jseq = seq.select(
        "event_type",
        F.lead("event_type").over(wj).alias("next_type"),
        F.row_number().over(wj).alias("jrn"),
    )
    chan_trans = jseq.where(F.col("event_type") != "purchase").select(
        F.col("event_type").alias("f"),
        F.when(F.col("next_type") == "purchase", "CONV")
        .when(F.col("next_type").isNull(), "NULL")
        .otherwise(F.col("next_type"))
        .alias("t"),
    )
    start_trans = jseq.where(F.col("jrn") == 1).select(
        F.lit("START").alias("f"),
        F.when(F.col("event_type") == "purchase", "CONV")
        .otherwise(F.col("event_type"))
        .alias("t"),
    )
    tc = (
        chan_trans.unionByName(start_trans)
        .groupBy("f", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tt = tc.groupBy("f").agg(F.sum("n").alias("tot"))
    pmat = (
        tc.join(tt, "f")
        .select("f", "t", (F.col("n").cast("double") / F.col("tot")).alias("p"))
        .localCheckpoint()  # |states|^2 dictionary, 5 chain variants
    )
    states = pmat.select(F.col("f").alias("s")).distinct().localCheckpoint()

    def absorb(removed: str | None):
        pv = states.select("s", F.lit(0.0).alias("p"))
        for i in range(_ATTR_ITERS):
            val = (
                F.when(F.col("t") == "CONV", F.lit(1.0))
                .when(F.col("t") == "NULL", F.lit(0.0))
            )
            if removed is not None:
                val = val.when(F.col("t") == removed, F.lit(0.0))
            val = val.otherwise(F.coalesce(F.col("pv_p"), F.lit(0.0)))
            j = pmat.join(
                pv.select(F.col("s").alias("t"), F.col("p").alias("pv_p")),
                "t",
                "left",
            )
            pv = (
                j.groupBy(F.col("f").alias("s"))
                .agg(
                    F.aggregate(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    F.col("t").alias("o"),
                                    (F.col("p") * val).alias("v"),
                                )
                            )
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x["v"],
                    ).alias("p")
                )
            )
            if (i + 1) % 4 == 0:
                pv = pv.localCheckpoint()
        return pv

    base_p = absorb(None).where(F.col("s") == "START").select(
        F.col("p").alias("p_base")
    )
    rem = None
    for ch in _ATTR_CHANNELS:
        row = (
            absorb(ch)
            .where(F.col("s") == "START")
            .select(F.lit(ch).alias("channel"), F.col("p").alias("p_without"))
        )
        rem = row if rem is None else rem.unionByName(row)
    eff = rem.crossJoin(F.broadcast(base_p)).select(
        "channel",
        "p_base",
        "p_without",
        (1.0 - F.col("p_without") / F.col("p_base")).alias("removal_effect"),
    )
    w = Window.partitionBy()
    return eff.select(
        "channel",
        F.round("p_base", 6).alias("p_conv_base"),
        F.round("p_without", 6).alias("p_conv_without"),
        F.round("removal_effect", 6).alias("removal_effect"),
        F.round(
            F.col("removal_effect") / F.sum("removal_effect").over(w), 6
        ).alias("attribution_share"),
    )


# ---------------------------------------------------------------------------
# Interval-union coverage (islands & gaps) per user
# ---------------------------------------------------------------------------

_COV_WINDOW_SEC = 1800  # each event opens a 30-minute activity interval


@register(
    "ev_interval_coverage",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
        CAST(floor(epoch(ts)) AS BIGINT) + {_COV_WINDOW_SEC} AS e
      FROM events
    ),
    marked AS (
      SELECT user_id, s, e,
        CASE WHEN s > coalesce(max(e) OVER (PARTITION BY user_id ORDER BY s, e
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    grp AS (
      SELECT user_id, s, e,
        sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    ),
    islands AS (
      SELECT user_id, island, min(s) AS island_start, max(e) AS island_end
      FROM grp GROUP BY user_id, island
    )
    SELECT user_id,
      CAST(count(*) AS BIGINT) AS n_islands,
      CAST(sum(island_end - island_start) AS BIGINT) AS covered_sec,
      CAST(min(island_start) AS BIGINT) AS first_start,
      CAST(max(island_end) AS BIGINT) AS last_end,
      round(CAST(sum(island_end - island_start) AS DOUBLE)
            / (max(island_end) - min(island_start)), 6) AS coverage_ratio
    FROM islands GROUP BY user_id
    """,
)
def ev_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-UNION coverage per user — the classic islands-and-
    gaps pattern the repo's window family was still missing: each
    event opens a {w}-second activity interval; overlapping
    intervals merge into islands (a new island starts exactly when
    an interval's start exceeds the running max of all previous
    ends), and the report is per-user island count, total covered
    seconds (the UNION length — naive sum over events double-counts
    every overlap), span, and coverage ratio. The ops reading:
    actual attended time vs wall-clock span (engagement), or crawl
    windows actually covered vs elapsed (freshness debt);
    ev_sessionize answers "how many visits", this answers "how much
    TIME".

    Scale shape: two windows PARTITIONED by user (running max of
    ends with a 1-row lag exclusion; running sum of island starts)
    over integer epochs + one keyed island agg + one keyed user agg
    — no self-join (the naive interval-overlap join is quadratic
    per user), no floats until the final ratio."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + _COV_WINDOW_SEC).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = marked.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island")
    )
    islands = grp.groupBy("user_id", "island").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start"))
        .cast("long")
        .alias("covered_sec"),
        F.min("island_start").cast("long").alias("first_start"),
        F.max("island_end").cast("long").alias("last_end"),
        F.round(
            F.sum(F.col("island_end") - F.col("island_start")).cast("double")
            / (F.max("island_end") - F.min("island_start")),
            6,
        ).alias("coverage_ratio"),
    )


ev_interval_coverage.__doc__ = ev_interval_coverage.__doc__.format(
    w=_COV_WINDOW_SEC
)


# ---------------------------------------------------------------------------
# Peak detection with prominence over daily volumes
# ---------------------------------------------------------------------------

_PEAK_NEIGHBORHOOD = 3  # days each side for the prominence baseline


@register(
    "ev_peak_detect",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    ctx AS (
      SELECT event_type, day, c,
        lag(c, 1) OVER w AS prev_c,
        lead(c, 1) OVER w AS next_c,
        greatest(
          coalesce(lag(c, 1) OVER w, 0), coalesce(lag(c, 2) OVER w, 0),
          coalesce(lag(c, 3) OVER w, 0), coalesce(lead(c, 1) OVER w, 0),
          coalesce(lead(c, 2) OVER w, 0), coalesce(lead(c, 3) OVER w, 0)
        ) AS nbr_max,
        least(
          coalesce(lag(c, 1) OVER w, c), coalesce(lag(c, 2) OVER w, c),
          coalesce(lag(c, 3) OVER w, c), coalesce(lead(c, 1) OVER w, c),
          coalesce(lead(c, 2) OVER w, c), coalesce(lead(c, 3) OVER w, c)
        ) AS nbr_min
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, CAST(c AS BIGINT) AS n_events,
      CAST(c - nbr_min AS BIGINT) AS prominence
    FROM ctx
    WHERE prev_c IS NOT NULL AND next_c IS NOT NULL
      AND c > prev_c AND c > next_c AND c >= nbr_max
    """,
)
def ev_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection with a prominence readout over per-type
    daily volumes: a day is a peak when it strictly exceeds both
    neighbors AND is >= the max of the +/-{k}-day neighborhood
    (interior days only — boundary days have no two-sided
    evidence); prominence = height above the neighborhood minimum.
    The complement to the repo's other time-series monitors:
    ev_burst_detect flags threshold crossings, ev_changepoint dates
    a regime shift, this pins the LOCAL extrema a capacity review
    reads ("which days spiked, and by how much over their valley").

    Scale shape: corpus-sized work is exactly the shared daily
    count agg; the lag/lead comparisons are one window pass
    PARTITIONED by event_type over the day dictionary (the
    ev_changepoint defense); all-integer arithmetic throughout."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    lags = [F.lag("c", k).over(w) for k in range(1, _PEAK_NEIGHBORHOOD + 1)]
    leads = [F.lead("c", k).over(w) for k in range(1, _PEAK_NEIGHBORHOOD + 1)]
    nbr_max = F.greatest(*[F.coalesce(x, F.lit(0)) for x in lags + leads])
    nbr_min = F.least(*[F.coalesce(x, F.col("c")) for x in lags + leads])
    ctx = daily.select(
        "event_type",
        "day",
        "c",
        lags[0].alias("prev_c"),
        leads[0].alias("next_c"),
        nbr_max.alias("nbr_max"),
        nbr_min.alias("nbr_min"),
    )
    return ctx.where(
        F.col("prev_c").isNotNull()
        & F.col("next_c").isNotNull()
        & (F.col("c") > F.col("prev_c"))
        & (F.col("c") > F.col("next_c"))
        & (F.col("c") >= F.col("nbr_max"))
    ).select(
        "event_type",
        "day",
        F.col("c").cast("long").alias("n_events"),
        (F.col("c") - F.col("nbr_min")).cast("long").alias("prominence"),
    )


ev_peak_detect.__doc__ = ev_peak_detect.__doc__.format(k=_PEAK_NEIGHBORHOOD)
