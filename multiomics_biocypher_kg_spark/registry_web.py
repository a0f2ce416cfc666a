"""Web-scale query families: url canonicalization, link graph +
PageRank, crawl deltas, and the KG curation/graph-statistics layer
(SURVEY.md S2.12 web/KG additions).

Split out of registry.py in round 4 — a pure move, oracles verbatim.
Pipeline fragments (LINKS_SQL, URL_SQL, _pipeline) come from
registry; the dedup corpus fragments come from registry_dedup_text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multiomics_biocypher_kg_spark.functions.hashing import (
    md5_long,
    md5_long_sql,
)
from multiomics_biocypher_kg_spark.operators import dedup as dd
from multiomics_biocypher_kg_spark.functions import textstats as ts
from multiomics_biocypher_kg_spark.oracle_fragments import (
    COMENTION_PAIRS_SQL,
    LINKS_SQL,
    TRIPLES_SQL,
    URL_SQL,
    VOCAB_SQL,
    _SNAPS_SQL,
    url_sql,
)
from multiomics_biocypher_kg_spark.oracle_fragments import SHINGLES_SQL
from multiomics_biocypher_kg_spark.registry import _pipeline, register
from multiomics_biocypher_kg_spark.sources.pages import pages_from_documents
from multiomics_biocypher_kg_spark.sources.vocab import vocab_df

# --------------------------------------------------------------------------
# Web-scale URL canonicalization (functions/urls.py)
# --------------------------------------------------------------------------

# deterministic messy-url synthesis shared by both engines
_MESSY_URL_SQL = """
  SELECT doc_id,
    CASE doc_id % 6
      WHEN 0 THEN 'HTTPS://WWW.Example.COM:443/Path/' || CAST(doc_id AS VARCHAR)
                  || '?b=2&a=1&utm_source=feed'
      WHEN 1 THEN 'http://Example.com:80?id=' || CAST(doc_id AS VARCHAR) || '#frag'
      WHEN 2 THEN 'https://CDN.example.net:8080/x/' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN 'http://h' || CAST(doc_id % 50 AS VARCHAR)
                  || '.example.org/doc/' || CAST(doc_id AS VARCHAR)
                  || '?utm_campaign=x'
      WHEN 4 THEN 'doc-' || CAST(doc_id AS VARCHAR)
      ELSE 'https://example.com/a%20b/' || CAST(doc_id % 100 AS VARCHAR)
           || '?z=9&y=8&fbclid=abc#sec'
    END AS url_raw
  FROM documents
"""


def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id").cast("string")
    raw = (
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Example.COM:443/Path/"),
                d,
                F.lit("?b=2&a=1&utm_source=feed"),
            ),
        )
        .when(
            F.col("doc_id") % 6 == 1,
            F.concat(F.lit("http://Example.com:80?id="), d, F.lit("#frag")),
        )
        .when(
            F.col("doc_id") % 6 == 2,
            F.concat(F.lit("https://CDN.example.net:8080/x/"), d),
        )
        .when(
            F.col("doc_id") % 6 == 3,
            F.concat(
                F.lit("http://h"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit(".example.org/doc/"),
                d,
                F.lit("?utm_campaign=x"),
            ),
        )
        .when(F.col("doc_id") % 6 == 4, F.concat(F.lit("doc-"), d))
        .otherwise(
            F.concat(
                F.lit("https://example.com/a%20b/"),
                (F.col("doc_id") % 100).cast("string"),
                F.lit("?z=9&y=8&fbclid=abc#sec"),
            )
        )
    )
    return docs.select("doc_id", raw.alias("url_raw"))


def _web_url_canonical_sql() -> str:
    from multiomics_biocypher_kg_spark.functions.urls import canonical_url_sql

    return (
        "SELECT doc_id, url_raw, url_canonical FROM ("
        + canonical_url_sql(_MESSY_URL_SQL, "url_raw")
        + ")"
    )


@register("web_url_canonical", oracle=_web_url_canonical_sql())
def web_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.py): scheme/host
    lowercase, default ports dropped, fragments stripped, tracking
    params removed + remaining params sorted, empty path -> '/',
    schemeless strings pass through. Pure scan-projection expressions
    — at 100 TB this replaces the raw url as the dedup/partition key
    before the first shuffle. The oracle renders the identical
    regex-by-regex decomposition in SQL."""
    from multiomics_biocypher_kg_spark.functions.urls import canonical_url

    m = _messy_urls(spark, sf_dir)
    return m.select(
        "doc_id", "url_raw", canonical_url(F.col("url_raw")).alias("url_canonical")
    )


@register(
    "web_url_dedup",
    oracle=f"""
    WITH canon AS ({_web_url_canonical_sql()})
    SELECT url_canonical, count(*) AS n_variants, min(doc_id) AS canonical_doc
    FROM canon GROUP BY url_canonical HAVING count(*) > 1
    """,
)
def web_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup groups: raw variants that collapse to one
    canonical form (the recrawl/utm-family case) — groupBy on the
    canonical key, min-id canonical member."""
    canon = web_url_canonical(spark, sf_dir)
    return (
        canon.groupBy("url_canonical")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .where(F.col("n_variants") > 1)
    )



@register(
    "text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_tokens,
             count(DISTINCT token) AS n_distinct
      FROM toks GROUP BY doc_id
    ),
    grams AS (
      SELECT doc_id,
        list_aggregate(list_slice(string_split(text, ' '), i, i + 1),
                       'string_agg', ' ') AS bigram
      FROM documents,
           unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS t(i)
    ),
    gcnt AS (
      SELECT doc_id, bigram, count(*) AS cnt FROM grams GROUP BY doc_id, bigram
    ),
    top AS (
      SELECT doc_id, bigram AS top_bigram, cnt,
        row_number() OVER (PARTITION BY doc_id
                           ORDER BY cnt DESC, bigram ASC) AS rn,
        sum(cnt) OVER (PARTITION BY doc_id) AS total_bigrams
      FROM gcnt
    )
    SELECT p.doc_id, CAST(p.n_tokens AS BIGINT) AS n_tokens,
      round(1.0 - p.n_distinct / p.n_tokens, 6) AS dup_token_frac,
      t.top_bigram,
      round(t.cnt / t.total_bigrams, 6) AS top_bigram_frac
    FROM per_doc p JOIN top t ON p.doc_id = t.doc_id AND t.rn = 1
    WHERE p.n_tokens >= 2
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    duplicate-token fraction (1 - distinct/total) and the
    most-frequent word-bigram's share of all bigrams (ties -> the
    lexicographically smallest bigram). Two aggregations over the
    token/bigram streams, both map-side combined; at corpus scale
    this is the repetition gate that runs next to text_curation."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_distinct"),
    )
    from multiomics_biocypher_kg_spark.operators.dedup import shingles

    grams = shingles(docs, id_col="doc_id", text_col="text", k=2, distinct=False)
    gcnt = grams.groupBy(F.col("id").alias("doc_id"), F.col("shingle")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("shingle").asc()
    )
    wt = Window.partitionBy("doc_id")
    top = (
        gcnt.withColumn("rn", F.row_number().over(w))
        .withColumn("total_bigrams", F.sum("cnt").over(wt))
        .where(F.col("rn") == 1)
    )
    return (
        per_doc.where(F.col("n_tokens") >= 2)
        .join(top, "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                1.0 - F.col("n_distinct") / F.col("n_tokens"), 6
            ).alias("dup_token_frac"),
            F.col("shingle").alias("top_bigram"),
            F.round(F.col("cnt") / F.col("total_bigrams"), 6).alias(
                "top_bigram_frac"
            ),
        )
    )


@register(
    "web_latest_snapshot",
    oracle="""
    WITH snaps AS (
      SELECT doc_id, doc_id % 125 AS fam, 1767225600 + doc_id AS ts_epoch,
        'https://' || CASE WHEN doc_id % 125 % 10 < 3 THEN 'hot.example.com'
             ELSE 'h' || CAST(doc_id % 125 % 50 AS VARCHAR) || '.example.org' END
        || '/doc/' || lpad(CAST(doc_id % 125 AS VARCHAR), 6, '0') AS url
      FROM documents
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY url
                 ORDER BY ts_epoch DESC, doc_id DESC) AS rn,
             count(*) OVER (PARTITION BY url) AS n_snapshots
      FROM snaps
    )
    SELECT url, doc_id, CAST(ts_epoch AS BIGINT) AS ts_epoch,
           CAST(n_snapshots AS BIGINT) AS n_snapshots
    FROM ranked WHERE rn = 1
    """,
)
def web_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl dedup: keep the LATEST snapshot per url (window over
    url ordered by capture time desc, deterministic tiebreak) — the
    first stage of any multi-snapshot Common-Crawl corpus before
    extraction. Synthesized snapshot families (doc_id % 125) give
    each url ~4 recrawls at sf0.01."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    fam = F.col("doc_id") % 125
    host = F.when(fam % 10 < 3, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("h"), (fam % 50).cast("string"), F.lit(".example.org"))
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/doc/"),
        F.lpad(fam.cast("string"), 6, "0"),
    )
    snaps = docs.select(
        "doc_id",
        url.alias("url"),
        (F.lit(1767225600) + F.col("doc_id")).cast("long").alias("ts_epoch"),
    )
    w = Window.partitionBy("url").orderBy(
        F.col("ts_epoch").desc(), F.col("doc_id").desc()
    )
    wc = Window.partitionBy("url")
    return (
        snaps.withColumn("rn", F.row_number().over(w))
        .withColumn("n_snapshots", F.count(F.lit(1)).over(wc).cast("long"))
        .where(F.col("rn") == 1)
        .select("url", "doc_id", "ts_epoch", "n_snapshots")
    )


# --------------------------------------------------------------------------
# Web link graph (operators/linkgraph.py): href edges -> host graph -> PageRank
# --------------------------------------------------------------------------

from multiomics_biocypher_kg_spark.functions.urls import (  # noqa: E402
    REST_RE as _REST_RE,
    canonical_url_sql as _canonical_url_sql,
)
from multiomics_biocypher_kg_spark.sources.pages import PARTNER_URL as _PARTNER  # noqa: E402


def _host_sql(expr: str) -> str:
    """SQL twin of functions.urls.url_host (lowercased host, no port)."""
    return (
        f"lower(regexp_extract(regexp_extract(regexp_extract(trim({expr}), "
        f"'{_REST_RE}', 1), '^([^/?#]*)', 1), '^([^:]*)', 1))"
    )


# raw hrefs per page, SQL twin of sources.pages.outlinks_of
_LINKS_SQL = f"""
  SELECT doc_id, {URL_SQL} AS src_url,
         unnest([
           {url_sql('doc_id - doc_id % 7')} || '?utm_source=nav',
           {url_sql('doc_id - doc_id % 50')} || '#top',
           '{_PARTNER}'
         ]) AS href
  FROM documents
"""

# canonicalized + hostified edge list -> host graph
_HOST_GRAPH_SQL = f"""
  SELECT {_host_sql('src_url')} AS src_host,
         {_host_sql('url_canonical')} AS dst_host,
         count(*) AS n_links,
         count(DISTINCT src_url) AS n_pages
  FROM ({_canonical_url_sql(_LINKS_SQL, 'href')})
  GROUP BY 1, 2
"""


@register(
    "web_link_graph",
    oracle=f"SELECT * FROM ({_HOST_GRAPH_SQL})",
)
def web_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperlink extraction -> canonicalization -> host-graph rollup.

    The anchor regexp runs in the scan projection (codegen, zero
    Python); canonical urls collapse utm/fragment variants before the
    single (src_host, dst_host) shuffle. The DuckDB oracle mirrors
    the href synthesis formula AND the full canonicalization chain,
    so the parse-canonicalize-rollup path is value-gated end to end.
    """
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
    )

    pages = pages_from_documents(spark, sf_dir)
    return host_graph(href_edges(pages))


# fam-indexed url (the snapshot-family url space; one url per fam)
_FAM_URL_SQL = (
    "('https://' || CASE WHEN fam % 10 < 3 THEN 'hot.example.com' "
    "ELSE 'h' || CAST(fam % 50 AS VARCHAR) || '.example.org' END "
    "|| '/doc/' || lpad(CAST(fam AS VARCHAR), 6, '0'))"
)


def _fam_url_col(fam):
    host = F.when(fam % 10 < 3, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("h"), (fam % 50).cast("string"), F.lit(".example.org"))
    )
    return F.concat(
        F.lit("https://"), host, F.lit("/doc/"),
        F.lpad(fam.cast("string"), 6, "0"),
    )


@register(
    "web_redirect_chains",
    oracle=f"""
    WITH RECURSIVE fams AS (
      SELECT DISTINCT doc_id % 125 AS fam FROM documents
    ),
    redirects AS (
      SELECT fam AS src, fam + 1 AS dst FROM fams WHERE fam % 9 IN (1, 2, 3)
    ),
    walk(src, cur, hops) AS (
      SELECT src, dst, 1 FROM redirects
      UNION ALL
      SELECT w.src, r.dst, w.hops + 1
      FROM walk w JOIN redirects r ON w.cur = r.src
    ),
    final AS (
      SELECT src, cur AS dst, hops FROM walk
      WHERE cur NOT IN (SELECT src FROM redirects)
    )
    SELECT {_FAM_URL_SQL.replace("fam", "f.src")} AS url,
      {_FAM_URL_SQL.replace("fam", "f.dst")} AS final_url,
      CAST(f.hops AS INTEGER) AS n_hops
    FROM final f
    """,
)
def web_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution — the crawl canonicalization step
    that maps every redirecting url to its FINAL destination before
    any url-keyed stage (synthetic chains: url families with
    fam % 9 in (1,2,3) redirect one family forward, producing
    multi-hop chains ending at a non-redirect). Resolution is
    POINTER-JUMP DOUBLING on the functional redirect graph: each
    round composes the mapping with itself, so an L-hop chain
    resolves in ceil(log2 L) self-joins — never L sequential passes
    (a crawl's worst chains are bounded, so the fixed 3 rounds cover
    length 8; the same shape as the connected-components shortcut).
    The recursive-CTE oracle walks hop by hop, so the doubling's
    terminal urls AND hop counts are value-gated."""
    fams = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select((F.col("doc_id") % 125).alias("fam"))
        .distinct()
    )
    red = fams.where((F.col("fam") % 9).isin(1, 2, 3)).select(
        F.col("fam").alias("src"), (F.col("fam") + 1).alias("dst")
    )
    chains = red.select("src", "dst", F.lit(1).alias("hops"))
    for _ in range(3):  # doubling: round k covers chains of 2^k hops
        right = chains.select(
            F.col("src").alias("j_src"),
            F.col("dst").alias("j_dst"),
            F.col("hops").alias("j_hops"),
        )
        chains = chains.join(
            right, chains["dst"] == right["j_src"], "left"
        ).select(
            "src",
            F.coalesce("j_dst", "dst").alias("dst"),
            F.when(
                F.col("j_dst").isNotNull(), F.col("hops") + F.col("j_hops")
            )
            .otherwise(F.col("hops"))
            .alias("hops"),
        )
    return chains.select(
        _fam_url_col(F.col("src")).alias("url"),
        _fam_url_col(F.col("dst")).alias("final_url"),
        F.col("hops").cast("int").alias("n_hops"),
    )


@register(
    "web_reciprocity",
    oracle=f"""
    WITH g AS (
      SELECT src_host, dst_host, n_links FROM ({_HOST_GRAPH_SQL})
      WHERE src_host <> dst_host
    )
    SELECT a.src_host AS host,
      CAST(count(*) AS BIGINT) AS n_out_hosts,
      CAST(sum(CASE WHEN b.src_host IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_reciprocal,
      round(CAST(sum(CASE WHEN b.src_host IS NOT NULL THEN 1 ELSE 0 END)
        AS DOUBLE) / count(*), 6) AS reciprocity
    FROM g a LEFT JOIN g b
      ON a.src_host = b.dst_host AND a.dst_host = b.src_host
    GROUP BY a.src_host
    """,
)
def web_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-reciprocity profile per host: the fraction of a host's
    distinct outbound host-edges that are reciprocated — a classic
    link-farm / mutual-linking spam signal (organic webs are mostly
    asymmetric; link rings reciprocate heavily). Runs ENTIRELY on
    the host graph (hosts x hosts, already aggregated — never the
    page-level edge stream), so the self-join is dictionary-sized at
    any corpus scale and keyed for a plain shuffle join."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
    )

    g = (
        host_graph(href_edges(pages_from_documents(spark, sf_dir)))
        .where(F.col("src_host") != F.col("dst_host"))
        .select("src_host", "dst_host")
    )
    rev = g.select(
        F.col("src_host").alias("r_src"), F.col("dst_host").alias("r_dst")
    )
    marked = g.join(
        rev,
        (F.col("src_host") == F.col("r_dst"))
        & (F.col("dst_host") == F.col("r_src")),
        "left",
    ).select(
        "src_host",
        F.when(F.col("r_src").isNotNull(), 1).otherwise(0).alias("recip"),
    )
    return marked.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).alias("n_out_hosts"),
        F.sum("recip").cast("long").alias("n_reciprocal"),
        F.round(
            F.sum("recip").cast("double") / F.count(F.lit(1)), 6
        ).alias("reciprocity"),
    )


def _hits_oracle_sql(iters: int) -> str:
    """Unrolled fixed-iteration HITS as MATERIALIZED DuckDB CTEs
    (the _pagerank_oracle_sql pattern; same O(3^iters) inlining
    rationale). Mirrors operators.linkgraph.hits exactly: per round,
    authorities from PREVIOUS hubs, then hubs from the NEW
    authorities, each L1-normalized."""
    parts = [
        f"hg AS MATERIALIZED (SELECT src_host AS src, dst_host AS dst FROM ({_HOST_GRAPH_SQL}))",
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM hg)",
        (
            "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
            "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e))"
        ),
        "h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)",
        "a0 AS MATERIALIZED (SELECT node, 1.0 AS authority FROM nodes)",
    ]
    for k in range(1, iters + 1):
        parts += [
            (
                f"rawa{k} AS MATERIALIZED (SELECT e.dst AS node, sum(h.hub) AS raw "
                f"FROM e JOIN h{k - 1} h ON e.src = h.node GROUP BY e.dst)"
            ),
            (
                f"fa{k} AS MATERIALIZED (SELECT n.node, coalesce(r.raw, 0.0) AS raw "
                f"FROM nodes n LEFT JOIN rawa{k} r ON n.node = r.node)"
            ),
            f"ta{k} AS MATERIALIZED (SELECT sum(raw) AS t FROM fa{k})",
            (
                f"a{k} AS MATERIALIZED (SELECT node, raw / ta{k}.t AS authority "
                f"FROM fa{k} CROSS JOIN ta{k})"
            ),
            (
                f"rawh{k} AS MATERIALIZED (SELECT e.src AS node, sum(a.authority) AS raw "
                f"FROM e JOIN a{k} a ON e.dst = a.node GROUP BY e.src)"
            ),
            (
                f"fh{k} AS MATERIALIZED (SELECT n.node, coalesce(r.raw, 0.0) AS raw "
                f"FROM nodes n LEFT JOIN rawh{k} r ON n.node = r.node)"
            ),
            f"th{k} AS MATERIALIZED (SELECT sum(raw) AS t FROM fh{k})",
            (
                f"h{k} AS MATERIALIZED (SELECT node, raw / th{k}.t AS hub "
                f"FROM fh{k} CROSS JOIN th{k})"
            ),
        ]
    return (
        "WITH " + ",\n".join(parts)
        + f"""
    SELECT h.node AS host, round(h.hub, 6) AS hub,
      round(a.authority, 6) AS authority
    FROM h{iters} h JOIN a{iters} a ON h.node = a.node"""
    )


_HITS_ITERS = 3


@register("web_hits", oracle=_hits_oracle_sql(_HITS_ITERS))
def web_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the host link graph — the
    complementary salience measure to PageRank (a page can be a
    weak authority but a strong hub; crawl scheduling and spam
    triage use both). Fixed 3 L1-normalized iterations
    (operators.linkgraph.hits): loop invariants checkpointed once,
    two keyed joins + two map-side sums + two broadcast totals per
    round, lineage truncated per iteration — the same discipline as
    the PageRank loop, value-gated by the unrolled-CTE oracle."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        hits,
        host_graph,
        href_edges,
    )

    g = host_graph(href_edges(pages_from_documents(spark, sf_dir))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    out = hits(g, iters=_HITS_ITERS)
    return out.select(
        F.col("node").alias("host"),
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def _pagerank_oracle_sql(
    iters: int,
    damping: float,
    edges_sql: str | None = None,
    out_col: str = "host",
) -> str:
    """Unrolled fixed-iteration PageRank as DuckDB CTEs (the
    _lsh_cands_sql rendering pattern: deterministic loop -> SQL).

    ``edges_sql`` must yield (src, dst, w); defaults to the host
    link graph. ``out_col`` names the node column of the result.
    """
    if edges_sql is None:
        edges_sql = (
            f"SELECT src_host AS src, dst_host AS dst, "
            f"CAST(n_links AS DOUBLE) AS w FROM ({_HOST_GRAPH_SQL})"
        )
    d = repr(damping)
    t = repr(1.0 - damping)
    # every CTE is AS MATERIALIZED: the iteration chain references
    # it_{k-1} three times (dangling mass, contributions, carry), so
    # un-materialized CTE inlining re-evaluates the edge pipeline
    # O(3^iters) times — fatal when edges_sql is the full mention
    # cascade (kg_entity_pagerank hung before this).
    parts = [
        f"hg AS MATERIALIZED ({edges_sql})",
        "outw AS MATERIALIZED (SELECT src, sum(w) AS out_w FROM hg GROUP BY 1)",
        (
            "norm AS MATERIALIZED (SELECT hg.src, hg.dst, "
            "CAST(hg.w AS DOUBLE) / outw.out_w AS p "
            "FROM hg JOIN outw ON hg.src = outw.src)"
        ),
        (
            "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
            "(SELECT src AS node FROM hg UNION ALL SELECT dst FROM hg))"
        ),
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "hasout AS MATERIALIZED (SELECT DISTINCT src FROM hg)",
        "it0 AS MATERIALIZED (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)",
    ]
    for k in range(1, iters + 1):
        p = f"it{k - 1}"
        parts.append(
            f"dang{k} AS MATERIALIZED (SELECT coalesce(sum(r.rank), 0.0) AS dang "
            f"FROM {p} r LEFT JOIN hasout o ON r.node = o.src WHERE o.src IS NULL)"
        )
        parts.append(
            f"con{k} AS MATERIALIZED (SELECT e.dst AS node, sum(e.p * r.rank) AS contrib "
            f"FROM norm e JOIN {p} r ON e.src = r.node GROUP BY e.dst)"
        )
        parts.append(
            f"it{k} AS MATERIALIZED (SELECT n.node, {t} / nn.n + {d} * "
            f"(coalesce(c.contrib, 0.0) + dang{k}.dang / nn.n) AS rank "
            f"FROM nodes n CROSS JOIN nn CROSS JOIN dang{k} "
            f"LEFT JOIN con{k} c ON n.node = c.node)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node AS {out_col}, round(rank, 6) AS pagerank FROM it{iters}"
    )


def _pagerank_trace_sql(iters: int, damping: float) -> str:
    """Per-iteration convergence trace of the SAME unrolled loop as
    _pagerank_oracle_sql: L1 and max |delta| between consecutive
    rank vectors (node sets are identical every iteration, so the
    delta join is a full inner equi-join)."""
    # rebuild the identical iteration chain, then append delta CTEs
    base = _pagerank_oracle_sql(iters, damping)
    parts_blob = base[len("WITH ") : base.rindex("\nSELECT")]
    deltas = [
        (
            f"dl{k} AS MATERIALIZED (SELECT {k} AS iter, "
            f"sum(abs(a.rank - b.rank)) AS l1, "
            f"max(abs(a.rank - b.rank)) AS mx "
            f"FROM it{k} a JOIN it{k - 1} b ON a.node = b.node)"
        )
        for k in range(1, iters + 1)
    ]
    union = " UNION ALL ".join(f"SELECT * FROM dl{k}" for k in range(1, iters + 1))
    return (
        "WITH "
        + parts_blob
        + ",\n"
        + ",\n".join(deltas)
        + f"""
    SELECT CAST(iter AS INTEGER) AS iter, round(l1, 6) AS l1_delta,
      round(mx, 6) AS max_delta
    FROM ({union})"""
    )


# --------------------------------------------------------------------------
# Incremental crawl delta: co-mention edges, old batch vs new batch
# --------------------------------------------------------------------------


@register(
    "kg_comention_delta",
    oracle=f"""
    WITH links AS ({LINKS_SQL}),
    ents AS (
      SELECT DISTINCT doc_id, entity_id FROM links WHERE entity_id IS NOT NULL
    ),
    pairs AS (
      SELECT a.doc_id, a.entity_id AS subj, b.entity_id AS obj
      FROM ents a JOIN ents b
        ON a.doc_id = b.doc_id AND a.entity_id < b.entity_id
    ),
    batched AS (
      SELECT subj, obj,
        sum(CASE WHEN doc_id % 4 <> 3 THEN 1 ELSE 0 END) AS n_docs_old,
        sum(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END) AS n_docs_new
      FROM pairs GROUP BY subj, obj
    )
    SELECT subj, 'co_mentioned_with' AS pred, obj,
      CAST(n_docs_old AS BIGINT) AS n_docs_old,
      CAST(n_docs_new AS BIGINT) AS n_docs_new,
      CASE WHEN n_docs_old = 0 THEN 'insert'
           WHEN n_docs_new > 0 THEN 'update'
           ELSE 'unchanged' END AS merge_op
    FROM batched
    """,
)
def kg_comention_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG construction: entity co-mention edges with the
    MERGE action a new crawl batch implies per edge.

    The corpus is split into a prior crawl (doc_id % 4 != 3) and a
    new batch; the pipeline runs ONCE over the union with a batch
    tag, so the delta costs one pass — the incremental shape, not
    old-run + new-run + diff. Per-doc entity sets come from one
    groupBy (collect_set), pairs explode narrowly from the sorted
    array (no per-doc self-join shuffle), and the final per-edge
    aggregation is the second and last shuffle. ``merge_op`` is the
    WHEN [NOT] MATCHED branch a MERGE INTO with an accreting update
    arm would take per row (insert / update = accrete evidence counts
    / unchanged). At 100 TB hot entities skew the pair key — same
    salting recipe as kg_host_rollup_salted applies to the final agg.
    """
    from multiomics_biocypher_kg_spark.operators.graphstats import comention_pairs

    p = _pipeline(spark, sf_dir)
    pairs = comention_pairs(p["links"])
    is_new = (F.col("doc_id") % 4 == 3).cast("long")
    return (
        pairs.groupBy("subj", "obj")
        .agg(
            F.sum(1 - is_new).alias("n_docs_old"),
            F.sum(is_new).alias("n_docs_new"),
        )
        .select(
            "subj",
            F.lit("co_mentioned_with").alias("pred"),
            "obj",
            "n_docs_old",
            "n_docs_new",
            F.when(F.col("n_docs_old") == 0, "insert")
            .when(F.col("n_docs_new") > 0, "update")
            .otherwise("unchanged")
            .alias("merge_op"),
        )
    )


_PR_ITERS = 5
_PR_DAMPING = 0.85


@register("web_pagerank", oracle=_pagerank_oracle_sql(_PR_ITERS, _PR_DAMPING))
def web_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level PageRank over the extracted link graph — fixed
    5-iteration weighted PageRank with dangling-mass redistribution
    (operators.linkgraph.pagerank). Deterministic, so the DuckDB
    oracle unrolls the identical iterations as CTEs and the float
    result is value-hash-gated after round(6)."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
        pagerank,
    )

    pages = pages_from_documents(spark, sf_dir)
    hg = host_graph(href_edges(pages)).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    ranks = pagerank(hg, iters=_PR_ITERS, damping=_PR_DAMPING)
    return ranks.select(
        F.col("node").alias("host"), F.round("rank", 6).alias("pagerank")
    )


# raw (href, anchor) pairs per page, SQL twin of
# sources.pages.outlinks_of + anchor_texts_of
_ANCHORS_SQL = f"""
  SELECT doc_id, {URL_SQL} AS src_url,
         {url_sql('doc_id - doc_id % 7')} || '?utm_source=nav' AS href,
         'hub ' || CAST(doc_id % 3 AS VARCHAR) AS anchor
  FROM documents
  UNION ALL
  SELECT doc_id, {URL_SQL},
         {url_sql('doc_id - doc_id % 50')} || '#top',
         'section ' || CAST(doc_id % 5 AS VARCHAR)
  FROM documents
  UNION ALL
  SELECT doc_id, {URL_SQL}, '{_PARTNER}',
         'partner ' || CAST(doc_id % 2 AS VARCHAR)
  FROM documents
"""


@register(
    "web_anchor_text",
    oracle=f"""
    WITH pairs AS ({_canonical_url_sql(_ANCHORS_SQL, 'href')}),
    pt AS (
      SELECT url_canonical AS dst_url, anchor, count(*) AS n
      FROM pairs GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (PARTITION BY dst_url ORDER BY n DESC, anchor ASC) AS rn,
        sum(n) OVER (PARTITION BY dst_url) AS n_links,
        count(*) OVER (PARTITION BY dst_url) AS n_texts
      FROM pt
    )
    SELECT dst_url, CAST(n_links AS BIGINT) AS n_links, n_texts,
           anchor AS top_anchor, n AS top_anchor_links
    FROM ranked WHERE rn = 1
    """,
)
def web_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text surface-form mining: how the web NAMES each link
    target (operators.linkgraph.anchor_pairs + anchor_text_profile).
    Both anchor capture groups are pulled natively from the html in
    the scan projection and re-paired with arrays_zip; dst urls are
    canonicalized before the rollup so variant families share one
    profile. The deterministic mode (count DESC, anchor ASC) is
    mirrored in the oracle window."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        anchor_pairs,
        anchor_text_profile,
    )

    pages = pages_from_documents(spark, sf_dir)
    return anchor_text_profile(anchor_pairs(pages))


# --------------------------------------------------------------------------
# KG graph statistics (operators.graphstats): the curation-side
# diagnostics a web-scale KG build runs over its own edge tables.
# --------------------------------------------------------------------------




@register(
    "kg_triple_temporal",
    oracle=f"""
    SELECT subj, 'co_mentioned_with' AS pred, obj,
      CAST(min(1767225600 + doc_id) AS BIGINT) AS first_seen_ts,
      CAST(max(1767225600 + doc_id) AS BIGINT) AS last_seen_ts,
      count(DISTINCT doc_id) AS n_snapshots
    FROM ({COMENTION_PAIRS_SQL}) pairs
    GROUP BY subj, obj
    """,
)
def kg_triple_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG: per-triple validity interval (first_seen /
    last_seen crawl timestamp + snapshot support count) across crawl
    snapshots. The Spark side joins pairs back to the pages table's
    ``warc_ts`` (the honest shape — timestamps live on the corpus,
    not the formula); the oracle exploits the deterministic synthetic
    ``warc_ts = epoch0 + doc_id``. Same two-shuffle plan as the
    co-mention count: min/max partials combine map-side.
    """
    from multiomics_biocypher_kg_spark.operators.graphstats import (
        comention_pairs,
        temporal_edges,
    )

    p = _pipeline(spark, sf_dir)
    return temporal_edges(comention_pairs(p["links"]), p["pages"])


@register(
    "kg_pmi_edges",
    oracle=f"""
    WITH pairs AS ({COMENTION_PAIRS_SQL}),
    de AS (
      SELECT doc_id, subj AS entity_id FROM pairs
      UNION ALL
      SELECT doc_id, obj FROM pairs
    ),
    marg AS (
      SELECT entity_id, count(DISTINCT doc_id) AS n_docs_ent
      FROM de GROUP BY entity_id
    ),
    tot AS (SELECT count(DISTINCT doc_id) AS n FROM pairs),
    pc AS (
      SELECT subj, obj, count(DISTINCT doc_id) AS n_docs_pair
      FROM pairs GROUP BY subj, obj
    ),
    raw AS (
      SELECT pc.subj, pc.obj, pc.n_docs_pair,
        ms.n_docs_ent AS n_docs_subj, mo.n_docs_ent AS n_docs_obj,
        ln(pc.n_docs_pair * tot.n / (ms.n_docs_ent * mo.n_docs_ent)) AS pmi_raw,
        ln(tot.n / pc.n_docs_pair) AS denom
      FROM pc
      JOIN marg ms ON pc.subj = ms.entity_id
      JOIN marg mo ON pc.obj = mo.entity_id
      CROSS JOIN tot
    )
    SELECT subj, obj, n_docs_pair, n_docs_subj, n_docs_obj,
      round(pmi_raw, 6) AS pmi,
      round(CASE WHEN denom = 0 THEN 1.0 ELSE pmi_raw / denom END, 6) AS npmi
    FROM raw
    """,
)
def kg_pmi_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI / NPMI weighting of co-mention edges — admission scoring
    that separates systematic association from hub-entity
    coincidence (operators.graphstats.pmi_edges). Corpus totals stay
    a broadcast 1-row aggregate; marginals join back by entity id."""
    from multiomics_biocypher_kg_spark.operators.graphstats import (
        comention_pairs,
        pmi_edges,
    )

    p = _pipeline(spark, sf_dir)
    return pmi_edges(comention_pairs(p["links"]))


@register(
    "kg_triangles",
    oracle=f"""
    WITH pairs AS ({COMENTION_PAIRS_SQL}),
    e AS (SELECT DISTINCT subj AS a, obj AS b FROM pairs),
    tri AS (
      SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_nodes AS (
      SELECT n1 AS entity_id FROM tri
      UNION ALL SELECT n2 FROM tri
      UNION ALL SELECT n3 FROM tri
    ),
    pn AS (SELECT entity_id, count(*) AS n_triangles FROM tri_nodes GROUP BY entity_id),
    nodes AS (SELECT a AS entity_id FROM e UNION SELECT b FROM e)
    SELECT nodes.entity_id,
      CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM nodes LEFT JOIN pn ON nodes.entity_id = pn.entity_id
    """,
)
def kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity triangle participation over the co-mention graph —
    the clustering-structure diagnostic. The Spark plan is
    DEGREE-ORIENTED (wedges enumerate at the lowest-(degree,id)
    apex, bounding hub fan-out); the oracle verifies with a plain
    id-ordered 3-way join — valid because the triangle SET is
    orientation-independent."""
    from multiomics_biocypher_kg_spark.operators.graphstats import (
        comention_pairs,
        triangle_counts,
    )

    p = _pipeline(spark, sf_dir)
    edges = comention_pairs(p["links"]).select(
        F.col("subj").alias("a"), F.col("obj").alias("b")
    )
    return triangle_counts(edges).select(
        "entity_id", F.col("n_triangles").cast("long").alias("n_triangles")
    )


@register(
    "kg_predicate_stats",
    oracle=f"""
    SELECT pred, count(*) AS n_triples,
      count(DISTINCT subj) AS n_subjects,
      count(DISTINCT obj) AS n_objects,
      round(count(DISTINCT subj) / count(*), 6) AS functionality,
      round(count(DISTINCT obj) / count(*), 6) AS inverse_functionality
    FROM ({TRIPLES_SQL}) GROUP BY pred
    """,
)
def kg_predicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate functionality profile over the materialized
    triple table (operators.graphstats.predicate_profile) — the
    schema-inference diagnostic KG curation uses to type predicates.
    One groupBy over the triple table."""
    from multiomics_biocypher_kg_spark.operators.graphstats import predicate_profile
    from multiomics_biocypher_kg_spark.registry import kg_triples

    trip = kg_triples(spark, sf_dir)
    return predicate_profile(trip.select("subj", "pred", "obj"))


# unrounded composite quality-score formula (SQL twin of
# functions.textstats.quality_score; text_stats rounds it per-doc,
# web_domain_profile averages it per-host before rounding)
def quality_score_sql(text: str) -> str:
    toks = f"len(string_split({text}, ' '))"
    stop = (
        f"CAST(len(list_filter(string_split({text}, ' '), "
        f"t -> t IN ('the','a','and','of','to'))) AS DOUBLE) / {toks}"
    )
    return (
        f"((CASE WHEN {toks} >= 20 THEN 1.0 ELSE {toks} / 20.0 END)"
        f" + (CASE WHEN length({text})::DOUBLE / {toks} BETWEEN 3 AND 10"
        f" THEN 1.0 ELSE 0.0 END)"
        f" + ({stop}) * 5)"
    )


@register(
    "web_domain_profile",
    oracle=f"""
    SELECT
      CASE WHEN doc_id % 10 < 3 THEN 'hot.example.com'
           ELSE 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' END AS host,
      count(*) AS n_pages,
      count(DISTINCT lang) AS n_langs,
      string_agg(DISTINCT lang, '|' ORDER BY lang) AS langs,
      CAST(sum(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_broken,
      round(avg({quality_score_sql('text')}), 6) AS avg_quality,
      round(avg(length(text)), 6) AS avg_chars
    FROM documents
    GROUP BY 1
    """,
)
def web_domain_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus quality profile — the domain-level curation
    table CCNet/RefinedWeb-style pipelines compute before sampling:
    page counts, language spread, broken-markup rate (probed from
    the html bytes, not metadata), mean quality score and length.
    One groupBy keyed by host; the hot host exercises the same skew
    path as kg_host_rollup_salted. The oracle derives host/broken
    from the deterministic synthetic formulas; the Spark side probes
    the url and html columns honestly."""
    from multiomics_biocypher_kg_spark.functions.urls import url_host

    pages = pages_from_documents(spark, sf_dir)
    return (
        pages.select(
            url_host(F.col("url")).alias("host"),
            "lang",
            "text",
            F.col("html").cast("string").alias("html_s"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.countDistinct("lang").alias("n_langs"),
            F.array_join(F.array_sort(F.collect_set("lang")), "|").alias("langs"),
            F.sum(
                F.col("html_s").endswith("<span class='unclosed").cast("long")
            ).alias("n_broken"),
            F.round(F.avg(ts.quality_score(F.col("text"))), 6).alias("avg_quality"),
            F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
        )
    )


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({SHINGLES_SQL}),
    sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT * FROM (
      SELECT i.id_a, i.id_b,
        round(CAST(i.inter AS DOUBLE) / least(sa.sz, sb.sz), 6) AS containment,
        CASE WHEN sa.sz <= sb.sz THEN i.id_a ELSE i.id_b END AS contained_id
      FROM inter i
      JOIN sizes sa ON i.id_a = sa.id
      JOIN sizes sb ON i.id_b = sb.id
    ) WHERE containment >= 0.6
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote / near-subset detection: asymmetric shingle containment
    >= 0.6 (operators.dedup.containment_pairs). Catches the
    small-doc-quoted-inside-big-doc pairs whose Jaccard is too low
    for the dedup passes — the signal a curation pipeline uses to
    trace quotation/syndication chains."""
    from multiomics_biocypher_kg_spark.registry_dedup_text import (
        _dedup_corpus,
    )

    corpus = _dedup_corpus(spark, sf_dir)
    return dd.containment_pairs(dd.shingles(corpus), threshold=0.6)


@register(
    "kg_disambiguate",
    oracle=f"""
    WITH links AS ({LINKS_SQL}),
    vocab AS (SELECT * FROM {VOCAB_SQL}),
    amb AS (
      SELECT doc_id, pos, token,
        regexp_replace(regexp_replace(token, '[*+]+$', ''), '\\.\\d+$', '') AS norm_token
      FROM links WHERE resolution_method = 'ambiguous'
    ),
    t2 AS (
      SELECT DISTINCT surface, entity_id FROM vocab
      WHERE tier = 2 AND surface NOT LIKE '% %'
    ),
    cands AS (
      SELECT DISTINCT a.doc_id, a.pos, a.token, t.entity_id
      FROM amb a JOIN t2 t ON a.token = t.surface OR a.norm_token = t.surface
    ),
    resolved AS (
      SELECT doc_id, entity_id FROM links WHERE entity_id IS NOT NULL
    ),
    prior AS (SELECT entity_id, count(*) AS prior_score FROM resolved GROUP BY entity_id),
    doc_ents AS (SELECT DISTINCT doc_id, entity_id AS ctx_entity FROM resolved),
    ents AS (SELECT DISTINCT doc_id, entity_id FROM resolved),
    pairs AS (
      SELECT a.doc_id, a.entity_id AS subj, b.entity_id AS obj
      FROM ents a JOIN ents b
        ON a.doc_id = b.doc_id AND a.entity_id < b.entity_id
    ),
    co AS (
      SELECT subj AS lo, obj AS hi, count(DISTINCT doc_id) AS co_docs
      FROM pairs GROUP BY subj, obj
    ),
    ctx AS (
      SELECT c.doc_id, c.pos, c.token, c.entity_id,
             sum(coalesce(co.co_docs, 0)) AS context_score
      FROM cands c
      JOIN doc_ents d ON c.doc_id = d.doc_id AND c.entity_id <> d.ctx_entity
      LEFT JOIN co ON least(c.entity_id, d.ctx_entity) = co.lo
                  AND greatest(c.entity_id, d.ctx_entity) = co.hi
      GROUP BY 1, 2, 3, 4
    ),
    scored AS (
      SELECT c.doc_id, c.pos, c.token, c.entity_id,
        CAST(coalesce(x.context_score, 0) AS BIGINT) AS context_score,
        CAST(coalesce(p.prior_score, 0) AS BIGINT) AS prior_score
      FROM cands c
      LEFT JOIN ctx x
        ON c.doc_id = x.doc_id AND c.pos = x.pos AND c.entity_id = x.entity_id
      LEFT JOIN prior p ON c.entity_id = p.entity_id
    ),
    ranked AS (
      SELECT *,
        row_number() OVER (
          PARTITION BY doc_id, pos
          ORDER BY context_score DESC, prior_score DESC, entity_id ASC
        ) AS rn,
        count(*) OVER (PARTITION BY doc_id, pos) AS n_candidates
      FROM scored
    )
    SELECT doc_id, pos, token, entity_id, context_score, prior_score, n_candidates
    FROM ranked WHERE rn = 1
    """,
)
def kg_disambiguate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate entity-link scoring (operators.disambiguate): the
    'ambiguous' mentions the tier cascade could not resolve get a
    context score (co-mention document counts with the page's
    resolved entities) and a popularity prior, then a deterministic
    argmax picks the sense. Conflict mentions stay quarantined, as
    in the reference. All scoring joins run on aggregate tables, not
    raw pages."""
    from multiomics_biocypher_kg_spark.operators.disambiguate import disambiguate
    from multiomics_biocypher_kg_spark.operators.graphstats import comention_pairs

    p = _pipeline(spark, sf_dir)
    return disambiguate(p["links"], vocab_df(spark), comention_pairs(p["links"]))


@register(
    "text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lower(unnest(string_split(text, ' '))) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
        tf.tf * ln(n.n_docs / df.df) AS tfidf_raw
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf_raw DESC, term ASC
      ) AS rn
      FROM scored
    )
    SELECT doc_id, term, tf, df, round(tfidf_raw, 6) AS tfidf
    FROM ranked WHERE rn <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic salient-term
    signal for doc fingerprints and context features. Two shuffles
    (tf, df) + one window; the corpus size stays a broadcast 1-row
    aggregate. Ties order by the UNROUNDED score then term on both
    sides, so rounding can't reorder the top-k."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select("doc_id", F.lower("tok").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf_raw", F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_raw"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", F.round("tfidf_raw", 6).alias("tfidf"))
    )


@register(
    "kg_entity_aliases",
    oracle=f"""
    WITH vocab AS (SELECT * FROM {VOCAB_SQL}),
    links AS ({LINKS_SQL}),
    al AS (
      SELECT entity_id,
        string_agg(DISTINCT surface, '|' ORDER BY surface) AS aliases,
        count(DISTINCT surface) AS n_aliases
      FROM vocab GROUP BY entity_id
    ),
    obs AS (
      SELECT entity_id,
        string_agg(DISTINCT token, '|' ORDER BY token) AS observed_tokens,
        count(*) AS n_mentions
      FROM links WHERE entity_id IS NOT NULL GROUP BY entity_id
    )
    SELECT al.entity_id,
      string_split(al.entity_id, ':')[1] AS vocab_group,
      al.aliases, CAST(al.n_aliases AS BIGINT) AS n_aliases,
      coalesce(obs.observed_tokens, '') AS observed_tokens,
      CAST(coalesce(obs.n_mentions, 0) AS BIGINT) AS n_mentions
    FROM al LEFT JOIN obs ON al.entity_id = obs.entity_id
    """,
)
def kg_entity_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The entity alias table — a first-class KG product: per
    canonical entity, every gazetteer surface form plus the token
    forms actually OBSERVED resolving to it in the corpus, with
    mention counts (zero-mention entities kept: the dictionary is
    the driver). Two aggregations joined on entity id; the vocab
    side is dictionary-sized, the observed side map-side combines."""
    p = _pipeline(spark, sf_dir)
    vocab = vocab_df(spark)
    al = vocab.groupBy("entity_id").agg(
        F.array_join(F.array_sort(F.collect_set("surface")), "|").alias("aliases"),
        F.countDistinct("surface").alias("n_aliases"),
    )
    obs = (
        p["links"]
        .where(F.col("entity_id").isNotNull())
        .groupBy("entity_id")
        .agg(
            F.array_join(F.array_sort(F.collect_set("token")), "|").alias(
                "observed_tokens"
            ),
            F.count(F.lit(1)).alias("n_mentions"),
        )
    )
    return al.join(obs, "entity_id", "left").select(
        "entity_id",
        F.split("entity_id", ":")[0].alias("vocab_group"),
        "aliases",
        "n_aliases",
        F.coalesce("observed_tokens", F.lit("")).alias("observed_tokens"),
        F.coalesce("n_mentions", F.lit(0)).cast("long").alias("n_mentions"),
    )


@register(
    "web_cocitation",
    oracle=f"""
    WITH hg AS ({_HOST_GRAPH_SQL}),
    e AS (SELECT DISTINCT src_host, dst_host FROM hg),
    pairs AS (
      SELECT a.src_host AS host_a, b.src_host AS host_b, a.dst_host
      FROM e a JOIN e b
        ON a.dst_host = b.dst_host AND a.src_host < b.src_host
    )
    SELECT host_a, host_b, count(*) AS n_shared_targets
    FROM pairs GROUP BY host_a, host_b
    """,
)
def web_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host co-citation: pairs of hosts that link to the same target
    — the related-domain similarity signal. Pairs are generated with
    the SAME sorted-set explode as co-mentions (group by target,
    collect sorted source set, explode pairs) so a high-fan-in
    target never drives a self-join blowup; one final pair-keyed
    aggregation."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
    )

    pages = pages_from_documents(spark, sf_dir)
    e = host_graph(href_edges(pages)).select("src_host", "dst_host").distinct()
    srcs = e.groupBy("dst_host").agg(
        F.array_sort(F.collect_set("src_host")).alias("srcs")
    )
    pairs = srcs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("srcs"),
                    lambda x, i: F.transform(
                        F.slice(F.col("srcs"), i + 2, F.size(F.col("srcs"))),
                        lambda y: F.struct(x.alias("host_a"), y.alias("host_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.host_a", "p.host_b")
    return pairs.groupBy("host_a", "host_b").agg(
        F.count(F.lit(1)).alias("n_shared_targets")
    )


@register(
    "web_host_lang_cube",
    oracle="""
    SELECT
      CASE WHEN GROUPING(host) = 1 THEN NULL ELSE host END AS host,
      CASE WHEN GROUPING(lang) = 1 THEN NULL ELSE lang END AS lang,
      CAST(GROUPING(host) * 2 + GROUPING(lang) AS BIGINT) AS gid,
      count(*) AS n_pages
    FROM (
      SELECT lang,
        CASE WHEN doc_id % 10 < 3 THEN 'hot.example.com'
             ELSE 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' END AS host
      FROM documents
    ) GROUP BY CUBE (host, lang)
    """,
)
def web_host_lang_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP CUBE over (host, lang): every subtotal combination plus
    the grand total in ONE pass (Spark expands the grouping sets
    map-side; one shuffle, no per-subtotal re-scan). ``gid`` is the
    grouping_id disambiguating real NULLs from subtotal rows."""
    from multiomics_biocypher_kg_spark.functions.urls import url_host

    pages = pages_from_documents(spark, sf_dir)
    return (
        pages.select(url_host(F.col("url")).alias("host"), "lang")
        .cube("host", "lang")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_pages"),
        )
        .select("host", "lang", "gid", "n_pages")
    )


_PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


@register(
    "web_lang_pivot",
    oracle=f"""
    SELECT
      CASE WHEN doc_id % 10 < 3 THEN 'hot.example.com'
           ELSE 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' END AS host,
      {", ".join(f"CAST(sum(CASE WHEN lang = '{lg}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{lg}" for lg in _PIVOT_LANGS)}
    FROM documents GROUP BY 1
    """,
)
def web_lang_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-host language distribution as wide columns. The
    pivot value list is EXPLICIT (no discovery pass over the corpus
    — the two-job pivot trap at scale); missing cells coalesce to 0.
    The oracle mirrors with conditional aggregation, which is also
    the physical shape Spark compiles an explicit-values pivot to."""
    from multiomics_biocypher_kg_spark.functions.urls import url_host

    pages = pages_from_documents(spark, sf_dir)
    wide = (
        pages.select(url_host(F.col("url")).alias("host"), "lang")
        .groupBy("host")
        .pivot("lang", _PIVOT_LANGS)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "host",
        *[
            F.coalesce(F.col(lg), F.lit(0)).cast("long").alias(f"n_{lg}")
            for lg in _PIVOT_LANGS
        ],
    )





@register(
    "web_crawl_schedule",
    oracle=f"""
    WITH pr AS ({_pagerank_oracle_sql(_PR_ITERS, _PR_DAMPING)}),
    snaps AS ({_SNAPS_SQL}),
    per_url AS (
      SELECT url, host, count(*) AS n_snapshots, max(ts_epoch) AS last_ts
      FROM snaps GROUP BY 1, 2
    ),
    tot AS (SELECT max(ts_epoch) AS now_ts FROM snaps)
    SELECT p.url, p.host, CAST(p.n_snapshots AS BIGINT) AS n_snapshots,
      CAST(p.last_ts AS BIGINT) AS last_ts,
      CAST(tot.now_ts - p.last_ts AS BIGINT) AS staleness_sec,
      coalesce(pr.pagerank, 0.0) AS host_rank,
      round(coalesce(pr.pagerank, 0.0) * (tot.now_ts - p.last_ts) / 86400.0, 6)
        AS priority
    FROM per_url p CROSS JOIN tot LEFT JOIN pr ON p.host = pr.host
    """,
)
def web_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl frontier prioritization: per-url staleness (from the
    multi-snapshot history) weighted by host authority (the link-
    graph PageRank) — how a crawl scheduler ranks what to fetch
    next. One per-url aggregation + a broadcast join against the
    (tiny) host-rank table + a broadcast 1-row corpus max; no
    .collect() anywhere. The oracle composes the unrolled PageRank
    CTEs with the snapshot formulas, so the whole composition is
    value-gated."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
        pagerank,
    )

    pages = pages_from_documents(spark, sf_dir)
    hg = host_graph(href_edges(pages)).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    ranks = pagerank(hg, iters=_PR_ITERS, damping=_PR_DAMPING).select(
        F.col("node").alias("host"), F.round("rank", 6).alias("host_rank")
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    fam = F.col("doc_id") % 125
    host = F.when(fam % 10 < 3, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("h"), (fam % 50).cast("string"), F.lit(".example.org"))
    )
    snaps = docs.select(
        F.concat(
            F.lit("https://"), host, F.lit("/doc/"), F.lpad(fam.cast("string"), 6, "0")
        ).alias("url"),
        host.alias("host"),
        (F.lit(1767225600) + F.col("doc_id")).cast("long").alias("ts_epoch"),
    )
    per_url = snaps.groupBy("url", "host").agg(
        F.count(F.lit(1)).alias("n_snapshots"), F.max("ts_epoch").alias("last_ts")
    )
    now = snaps.select(F.max("ts_epoch").alias("now_ts"))
    return (
        per_url.crossJoin(F.broadcast(now))
        .join(F.broadcast(ranks), "host", "left")
        .select(
            "url",
            "host",
            "n_snapshots",
            "last_ts",
            (F.col("now_ts") - F.col("last_ts")).alias("staleness_sec"),
            F.coalesce("host_rank", F.lit(0.0)).alias("host_rank"),
            F.round(
                F.coalesce("host_rank", F.lit(0.0))
                * (F.col("now_ts") - F.col("last_ts"))
                / 86400.0,
                6,
            ).alias("priority"),
        )
    )


_N_SHARDS = 16
_SHARD_QUALITY_MIN = 2.0


@register(
    "curation_shards",
    oracle=f"""
    SELECT {md5_long_sql('doc_id')} % {_N_SHARDS} AS shard_id,
      count(*) AS n_docs,
      CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      CAST(sum(length(text)) AS BIGINT) AS n_chars
    FROM documents
    WHERE {quality_score_sql('text')} >= {_SHARD_QUALITY_MIN}
    GROUP BY 1
    """,
)
def curation_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data export planning: quality-gate the corpus, assign
    each surviving doc to a shard by content-id hash (the
    DISTRIBUTED sharding shape — greedy bin-packing by cumulative
    token count needs a global ordered window, which is a
    single-task plan at corpus scale and is exactly what this
    avoids), and roll up per-shard doc/token/char budgets. One
    filter + one hash-keyed aggregation; balance emerges from the
    hash, and the rollup is the balance check."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gated = docs.where(ts.quality_score(F.col("text")) >= _SHARD_QUALITY_MIN)
    return (
        gated.select(
            F.pmod(md5_long(F.col("doc_id")), F.lit(_N_SHARDS)).alias("shard_id"),
            ts.token_count(F.col("text")).alias("toks"),
            F.length("text").alias("chars"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
            F.sum("chars").cast("long").alias("n_chars"),
        )
    )


_COMENTION_EDGES_SQL = f"""
  SELECT subj AS src, obj AS dst, CAST(n AS DOUBLE) AS w FROM (
    SELECT subj, obj, count(DISTINCT doc_id) AS n
    FROM ({COMENTION_PAIRS_SQL}) GROUP BY subj, obj
  )
  UNION ALL
  SELECT obj AS src, subj AS dst, CAST(n AS DOUBLE) AS w FROM (
    SELECT subj, obj, count(DISTINCT doc_id) AS n
    FROM ({COMENTION_PAIRS_SQL}) GROUP BY subj, obj
  )
"""


@register(
    "kg_entity_pagerank",
    oracle=_pagerank_oracle_sql(
        _PR_ITERS,
        _PR_DAMPING,
        edges_sql=_COMENTION_EDGES_SQL,
        out_col="entity_id",
    ),
)
def kg_entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity salience: PageRank over the SYMMETRIZED co-mention
    graph (edge weight = co-mention doc count) — the importance
    score a KG serves next to each node. Reuses the link-graph
    PageRank operator (one shuffle join + one aggregation per
    iteration, corpus scalars as broadcast 1-row aggregates); the
    oracle reuses the unrolled-CTE renderer over the co-mention
    edge list."""
    from multiomics_biocypher_kg_spark.operators.graphstats import comention_pairs
    from multiomics_biocypher_kg_spark.operators.linkgraph import pagerank

    p = _pipeline(spark, sf_dir)
    counts = (
        comention_pairs(p["links"])
        .groupBy("subj", "obj")
        .agg(F.countDistinct("doc_id").alias("n"))
    )
    edges = counts.select(
        F.col("subj").alias("src"),
        F.col("obj").alias("dst"),
        F.col("n").cast("double").alias("weight"),
    ).unionByName(
        counts.select(
            F.col("obj").alias("src"),
            F.col("subj").alias("dst"),
            F.col("n").cast("double").alias("weight"),
        )
    )
    return pagerank(edges, iters=_PR_ITERS, damping=_PR_DAMPING).select(
        F.col("node").alias("entity_id"), F.round("rank", 6).alias("pagerank")
    )


@register(
    "kg_mention_contexts",
    oracle=f"""
    WITH links AS ({LINKS_SQL}),
    arrs AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
    SELECT l.doc_id, l.pos, l.entity_id,
      array_to_string(a.arr[greatest(l.pos - 1, 1) : l.pos + 3], ' ') AS context
    FROM links l JOIN arrs a ON l.doc_id = a.doc_id
    WHERE l.entity_id IS NOT NULL
    """,
)
def kg_mention_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG provenance: a ±2-token evidence snippet for every resolved
    mention — what a triple links back to when a curator asks "why
    is this edge here". One co-partitioned join (links x token
    arrays, both keyed by doc_id); the slice is a per-row array op,
    no re-tokenization pass. At 100 TB the context column is written
    next to the mention table, partitioned the same way."""
    p = _pipeline(spark, sf_dir)
    arrs = p["docs"].select(
        "doc_id", F.split("text", " ").alias("arr")
    )
    l = p["links"].where(F.col("entity_id").isNotNull()).select(
        "doc_id", "pos", "entity_id"
    )
    start = F.greatest(F.col("pos") - 1, F.lit(1))
    length = F.col("pos") + 3 - start + 1
    return l.join(arrs, "doc_id").select(
        "doc_id",
        "pos",
        "entity_id",
        F.array_join(F.slice(F.col("arr"), start, length), " ").alias("context"),
    )


_NEG_K = 2
# fixed bucket count for the dense entity index (must match the
# oracle's bucketing exactly — NOT a parallelism-derived value)
_NEG_BUCKETS = 64


@register(
    "kg_negative_samples",
    oracle=f"""
    WITH pairs AS ({COMENTION_PAIRS_SQL}),
    edges AS (SELECT DISTINCT subj, obj FROM pairs),
    bucketed AS (
      SELECT entity_id, {md5_long_sql('entity_id')} % {_NEG_BUCKETS} AS b
      FROM (SELECT DISTINCT subj AS entity_id FROM edges
            UNION SELECT obj FROM edges)
    ),
    lranks AS (
      SELECT entity_id, b,
        row_number() OVER (PARTITION BY b ORDER BY entity_id) AS lrank
      FROM bucketed
    ),
    offs AS (
      SELECT b, coalesce(sum(cnt) OVER (ORDER BY b
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM (SELECT b, count(*) AS cnt FROM bucketed GROUP BY b)
    ),
    ents AS (
      SELECT l.entity_id, o.off + l.lrank - 1 AS idx
      FROM lranks l JOIN offs o ON l.b = o.b
    ),
    n AS (SELECT count(*) AS n FROM ents),
    ks AS (SELECT unnest(generate_series(1, {_NEG_K})) AS k),
    cand AS (
      SELECT e.subj, e.obj, ks.k,
        {md5_long_sql("e.subj || '|' || e.obj || '#' || CAST(ks.k AS VARCHAR)")} % n.n AS neg_idx
      FROM edges e CROSS JOIN ks CROSS JOIN n
    )
    SELECT c.subj, 'co_mentioned_with' AS pred, c.obj, CAST(c.k AS INTEGER) AS k,
           x.entity_id AS obj_neg
    FROM cand c JOIN ents x ON c.neg_idx = x.idx
    WHERE x.entity_id <> c.obj AND x.entity_id <> c.subj
    """,
)
def kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training:
    per positive edge, K corrupted-object candidates drawn by
    hashing the edge key into a dense entity index (collisions with
    the true pair are filtered — 'filtered negatives'). The dense
    index is built DISTRIBUTED: rank within fixed hash buckets
    (window partitioned by bucket — each partition holds ~1/64 of
    the dictionary) plus per-bucket offsets from one tiny 64-row
    cumulative agg. No unpartitioned window ever sees the entity
    dictionary, so a 10^9-entity vocabulary never lands on one
    task. The corruption itself is a hash join by index, no
    randomness, no driver loops, reproducible across engines."""
    from pyspark.sql import Window

    from multiomics_biocypher_kg_spark.operators.graphstats import comention_pairs

    p = _pipeline(spark, sf_dir)
    edges = comention_pairs(p["links"]).select("subj", "obj").distinct()
    bucketed = (
        edges.select(F.col("subj").alias("entity_id"))
        .unionByName(edges.select(F.col("obj").alias("entity_id")))
        .distinct()
        .withColumn("b", md5_long(F.col("entity_id")) % _NEG_BUCKETS)
    )
    lranks = bucketed.withColumn(
        "lrank",
        F.row_number().over(Window.partitionBy("b").orderBy("entity_id")),
    )
    offs = (
        bucketed.groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("b", "off")
    )
    ents = lranks.join(F.broadcast(offs), "b").select(
        "entity_id", (F.col("off") + F.col("lrank") - 1).cast("long").alias("idx")
    )
    n = ents.select(F.count(F.lit(1)).alias("n"))
    ks = spark.range(1, _NEG_K + 1).select(F.col("id").cast("int").alias("k"))
    cand = (
        edges.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(n))
        .select(
            "subj",
            "obj",
            "k",
            F.pmod(
                md5_long(
                    F.concat(
                        F.col("subj"), F.lit("|"), F.col("obj"),
                        F.lit("#"), F.col("k").cast("string"),
                    )
                ),
                F.col("n"),
            ).alias("neg_idx"),
        )
    )
    return (
        cand.join(F.broadcast(ents), cand["neg_idx"] == ents["idx"])
        .where(
            (F.col("entity_id") != F.col("obj"))
            & (F.col("entity_id") != F.col("subj"))
        )
        .select(
            "subj",
            F.lit("co_mentioned_with").alias("pred"),
            "obj",
            "k",
            F.col("entity_id").alias("obj_neg"),
        )
    )


@register(
    "web_robots_gate",
    oracle="""
    SELECT
      CASE WHEN doc_id % 10 < 3 THEN 'hot.example.com'
           ELSE 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' END AS host,
      count(*) AS n_pages,
      CAST(sum(CASE WHEN doc_id % 23 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_noindex,
      CAST(sum(CASE WHEN doc_id % 23 = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_indexable
    FROM documents GROUP BY 1
    """,
)
def web_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots/noindex gate: honor <meta name="robots"
    content="noindex"> BEFORE extraction — the politeness filter
    every compliant crawl pipeline applies first. The probe is a
    native substring test on the html bytes in the scan projection
    (the cheap pre-filter that saves the expensive extract on gated
    rows at 100 TB); the rollup is the per-host compliance report.
    The oracle mirrors the synthesis formula (doc_id % 23 = 1), the
    Spark side probes the bytes honestly."""
    from multiomics_biocypher_kg_spark.functions.urls import url_host

    pages = pages_from_documents(spark, sf_dir)
    ni = (
        F.col("html")
        .cast("string")
        .contains('<meta name="robots" content="noindex">')
        .cast("long")
    )
    return (
        pages.select(url_host(F.col("url")).alias("host"), ni.alias("ni"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("ni").alias("n_noindex"),
            F.sum(1 - F.col("ni")).alias("n_indexable"),
        )
    )


from multiomics_biocypher_kg_spark.functions import pii as _pii  # noqa: E402

_PII_COUNTS = _pii.counts_sql("text")


@register(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
      CAST({_PII_COUNTS['n_emails']} AS INTEGER) AS n_emails,
      CAST({_PII_COUNTS['n_ips']} AS INTEGER) AS n_ips,
      CAST({_PII_COUNTS['n_phones']} AS INTEGER) AS n_phones,
      md5({_pii.scrub_sql('text')}) AS masked_md5
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (functions.pii): per-doc email/ip/phone counts
    and the md5 of the masked text. Native regexp chain in the scan
    projection — the masking itself adds zero shuffles. The driver
    corpus contains no PII by construction, so this query gates the
    zero-count path and the masked-text identity; detection and
    masking semantics are pinned on fixtures in tests/test_pii.py
    (including Spark/DuckDB pattern agreement)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.col("text")
    return docs.select(
        "doc_id",
        _pii.email_count(t).alias("n_emails"),
        _pii.ip_count(t).alias("n_ips"),
        _pii.phone_count(t).alias("n_phones"),
        F.md5(_pii.scrub(t)).alias("masked_md5"),
    )


_VOCAB_TOP = 256


@register(
    "text_vocabulary",
    oracle=f"""
    WITH toks AS (
      SELECT lower(unnest(string_split(text, ' '))) AS token FROM documents
    ),
    counts AS (SELECT token, count(*) AS n FROM toks GROUP BY token),
    tot AS (SELECT sum(n) AS total FROM counts),
    ranked AS (
      SELECT token, n,
        row_number() OVER (ORDER BY n DESC, token ASC) AS rank,
        sum(n) OVER (ORDER BY n DESC, token ASC
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts
    )
    SELECT CAST(rank AS BIGINT) AS rank, token, n,
      round(CAST(n AS DOUBLE) / tot.total, 6) AS frac,
      round(CAST(cum AS DOUBLE) / tot.total, 6) AS cum_frac
    FROM ranked CROSS JOIN tot
    WHERE rank <= {_VOCAB_TOP}
    """,
)
def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building (the tokenizer-training precursor): corpus
    token counts, rank, and cumulative coverage for the top tokens.
    One map-side-combined count shuffle; top-K selection is a
    distributed TakeOrderedAndProject (per-partition heaps, no
    global sort — a 10^9-term vocabulary never lands on one task),
    and only the K survivors see the rank/coverage window. The
    cumulative coverage of rank r<=K depends only on rows ranked
    above it, all of which are in the top-K, so the two-phase plan
    is exact."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).select(F.lower("tok").alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.select(F.sum("n").alias("total"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(_VOCAB_TOP)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    wc = Window.orderBy(F.desc("n"), F.asc("token")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("cum", F.sum("n").over(wc))
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "token",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("frac"),
            F.round(F.col("cum") / F.col("total"), 6).alias("cum_frac"),
        )
    )


@register(
    "web_snapshot_diff",
    oracle=f"""
    WITH snaps AS (
      SELECT d.doc_id, d.text, s.url, s.ts_epoch
      FROM documents d JOIN ({_SNAPS_SQL}) s ON d.doc_id = s.doc_id
    ),
    seq AS (
      SELECT url, doc_id, ts_epoch,
        list_sort(list_distinct(string_split(text, ' '))) AS toks,
        lag(list_sort(list_distinct(string_split(text, ' '))))
          OVER (PARTITION BY url ORDER BY ts_epoch, doc_id) AS prev_toks
      FROM snaps
    )
    SELECT url, doc_id, CAST(ts_epoch AS BIGINT) AS ts_epoch,
      CAST(len(list_filter(toks, t -> NOT list_contains(prev_toks, t))) AS INTEGER)
        AS n_added,
      CAST(len(list_filter(prev_toks, t -> NOT list_contains(toks, t))) AS INTEGER)
        AS n_removed,
      round(CAST(len(list_filter(toks, t -> list_contains(prev_toks, t))) AS DOUBLE)
        / len(list_distinct(toks || prev_toks)), 6) AS jaccard_prev
    FROM seq WHERE prev_toks IS NOT NULL
    """,
)
def web_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl change detection: token-set diff between CONSECUTIVE
    snapshots of the same url (added / removed counts + Jaccard to
    the previous capture) — the change-rate signal recrawl
    scheduling consumes. One window keyed by url (the natural
    partition: snapshot history per page is small even at 10^12
    docs), array ops per row, no self-join of the snapshot table."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    fam = F.col("doc_id") % 125
    host = F.when(fam % 10 < 3, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("h"), (fam % 50).cast("string"), F.lit(".example.org"))
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/doc/"), F.lpad(fam.cast("string"), 6, "0")
    )
    toks = F.array_sort(F.array_distinct(F.split("text", " ")))
    snaps = docs.select(
        "doc_id",
        url.alias("url"),
        (F.lit(1767225600) + F.col("doc_id")).cast("long").alias("ts_epoch"),
        toks.alias("toks"),
    )
    w = Window.partitionBy("url").orderBy("ts_epoch", "doc_id")
    seq = snaps.withColumn("prev_toks", F.lag("toks").over(w)).where(
        F.col("prev_toks").isNotNull()
    )
    inter = F.size(F.array_intersect("toks", "prev_toks"))
    return seq.select(
        "url",
        "doc_id",
        "ts_epoch",
        F.size(F.array_except("toks", "prev_toks")).alias("n_added"),
        F.size(F.array_except("prev_toks", "toks")).alias("n_removed"),
        F.round(
            inter / F.size(F.array_union("toks", "prev_toks")), 6
        ).alias("jaccard_prev"),
    )


_POSTINGS_TOP = 32


@register(
    "text_inverted_index",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, lower(unnest(string_split(text, ' '))) AS term
      FROM documents
    ),
    df AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
    top AS (
      SELECT term, df,
        row_number() OVER (ORDER BY df DESC, term ASC) AS rank
      FROM df
    )
    SELECT t.term, CAST(t.rank AS BIGINT) AS rank, t.df,
      string_agg(CAST(x.doc_id AS VARCHAR), '|' ORDER BY CAST(x.doc_id AS VARCHAR)) AS postings
    FROM top t JOIN toks x ON t.term = x.term
    WHERE t.rank <= {_POSTINGS_TOP}
    GROUP BY t.term, t.rank, t.df
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (search-side product of a corpus
    pipeline): sorted posting lists for the top document-frequency
    terms. Top-K selection is a distributed TakeOrderedAndProject
    (per-partition heaps — the vocabulary never lands on a single
    sort task); only the K survivors see the rank window. Posting
    lists assemble with one sorted collect per term — at corpus
    scale the postings column is written as the index segment,
    partitioned by term hash."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .select("doc_id", F.lower("tok").alias("term"))
        .distinct()
    )
    df_ = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.orderBy(F.desc("df"), F.asc("term"))
    top = (
        df_.orderBy(F.desc("df"), F.asc("term"))
        .limit(_POSTINGS_TOP)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )
    return (
        toks.join(F.broadcast(top), "term")
        .groupBy("term", "rank", "df")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), "|"
            ).alias("postings")
        )
        .select("term", "rank", "df", "postings")
    )

# Re-apply the driver-window order after this module's registrations:
# if this module is imported FIRST, registry's own bottom-of-file
# ordering pass runs before these queries exist. Idempotent.
from multiomics_biocypher_kg_spark.registry import (  # noqa: E402
    _apply_driver_window_order,
)

_apply_driver_window_order()


# --------------------------------------------------------------------------
# Round-4b graph additions: LPA communities, k-core, TrustRank
# --------------------------------------------------------------------------

# symmetrized distinct host edges (no self-loops) — shared by the
# LPA and k-core oracles
_UND_HOST_SQL = f"""
    und AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src_host AS src, dst_host AS dst FROM ({_HOST_GRAPH_SQL})
        WHERE src_host <> dst_host
        UNION ALL
        SELECT dst_host, src_host FROM ({_HOST_GRAPH_SQL})
        WHERE src_host <> dst_host
      )
    )"""


def _lpa_parts(iters: int) -> list[str]:
    """The unrolled synchronous-LPA CTE chain (shared by the
    communities and modularity oracles): per round, count
    round-(k-1) neighbor labels, argmax tie-broken by MIN label."""
    parts = [
        _UND_HOST_SQL,
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM und)",
    ]
    for k in range(1, iters + 1):
        parts += [
            (
                f"cnt{k} AS MATERIALIZED (SELECT e.src AS node, l.label, "
                f"count(*) AS cnt FROM und e "
                f"JOIN l{k - 1} l ON e.dst = l.node GROUP BY e.src, l.label)"
            ),
            (
                f"l{k} AS MATERIALIZED (SELECT node, label FROM ("
                f"SELECT node, label, row_number() OVER (PARTITION BY node "
                f"ORDER BY cnt DESC, label ASC) AS rn FROM cnt{k}) WHERE rn = 1)"
            ),
        ]
    return parts


def _lpa_oracle_sql(iters: int) -> str:
    """Unrolled synchronous label propagation as MATERIALIZED CTEs —
    mirrors operators.linkgraph.label_propagation exactly."""
    parts = _lpa_parts(iters)
    return (
        "WITH " + ",\n".join(parts)
        + f""",
    sizes AS (SELECT label, count(*) AS community_size FROM l{iters} GROUP BY label)
    SELECT l.node AS host, l.label AS community,
      CAST(s.community_size AS BIGINT) AS community_size
    FROM l{iters} l JOIN sizes s ON l.label = s.label"""
    )


_LPA_ITERS = 4


@register("web_communities", oracle=_lpa_oracle_sql(_LPA_ITERS))
def web_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-farm / mirror-family detection via synchronous label
    propagation over the host graph (fixed 4 rounds, min-label
    tie-break — operators.linkgraph.label_propagation). The per-node
    argmax is a map-side-combinable min(struct(-cnt, label))
    aggregate, NOT a window; each round is one keyed join + one
    count. Oracle unrolls the identical rounds as MATERIALIZED CTEs,
    so the community assignment is value-gated, not just counted."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
        label_propagation,
    )

    g = host_graph(href_edges(pages_from_documents(spark, sf_dir))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    labels = label_propagation(g, iters=_LPA_ITERS)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return labels.join(sizes, "label").select(
        F.col("node").alias("host"),
        F.col("label").alias("community"),
        "community_size",
    )


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled fixed-round k-core peeling as MATERIALIZED CTEs —
    mirrors operators.linkgraph.kcore: per round, drop nodes with
    degree < k and their incident edges."""
    parts = [_UND_HOST_SQL.replace("und AS", "e0 AS")]
    for r in range(1, rounds + 1):
        parts += [
            (
                f"deg{r} AS MATERIALIZED (SELECT src AS node, count(*) AS degree "
                f"FROM e{r - 1} GROUP BY src)"
            ),
            (
                f"alive{r} AS MATERIALIZED (SELECT node FROM deg{r} "
                f"WHERE degree >= {k})"
            ),
            (
                f"e{r} AS MATERIALIZED (SELECT e.src, e.dst FROM e{r - 1} e "
                f"JOIN alive{r} a ON e.src = a.node "
                f"JOIN alive{r} b ON e.dst = b.node)"
            ),
        ]
    return (
        "WITH " + ",\n".join(parts)
        + f"""
    SELECT src AS host, CAST(count(*) AS BIGINT) AS degree
    FROM e{rounds} GROUP BY src"""
    )


_KCORE_K = 9
_KCORE_ROUNDS = 2


@register("web_kcore", oracle=_kcore_oracle_sql(_KCORE_K, _KCORE_ROUNDS))
def web_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling of the host graph (k=9, 2 bounded peel
    rounds — operators.linkgraph.kcore): iteratively drop hosts with
    fewer than k distinct neighbor hosts. Dense-core membership is a
    link-farm signal and a crawl-frontier prioritizer. On this corpus
    the k=9 peel genuinely cascades (37 -> 32 -> 22 hosts), so the
    semi-join edge filtering is exercised, and the BOUNDED round
    count — the determinism trade this repo makes for every iterative
    operator (cf. fixed-iteration PageRank/HITS) — keeps both engines
    byte-identical even mid-cascade. Each round is one
    map-side-combined degree count + two semi-joins on a
    monotonically SHRINKING edge set (checkpointed per round)."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
        kcore,
    )

    g = host_graph(href_edges(pages_from_documents(spark, sf_dir))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return kcore(g, k=_KCORE_K, rounds=_KCORE_ROUNDS).select(
        F.col("node").alias("host"), F.col("degree").cast("long").alias("degree")
    )


def _trustrank_oracle_sql(iters: int, damping: float) -> str:
    """Unrolled TrustRank (seed-personalized PageRank) as
    MATERIALIZED CTEs — mirrors operators.linkgraph.trustrank:
    teleport uniform over the md5-selected seed hosts, dangling mass
    re-injected through the teleport vector."""
    d = repr(damping)
    t = repr(1.0 - damping)
    seed_pred = md5_long_sql("node") + " % 3 = 0"
    parts = [
        (
            f"hg AS MATERIALIZED (SELECT src_host AS src, dst_host AS dst, "
            f"CAST(n_links AS DOUBLE) AS w FROM ({_HOST_GRAPH_SQL}))"
        ),
        "outw AS MATERIALIZED (SELECT src, sum(w) AS out_w FROM hg GROUP BY 1)",
        (
            "norm AS MATERIALIZED (SELECT hg.src, hg.dst, "
            "CAST(hg.w AS DOUBLE) / outw.out_w AS p "
            "FROM hg JOIN outw ON hg.src = outw.src)"
        ),
        (
            "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
            "(SELECT src AS node FROM hg UNION ALL SELECT dst FROM hg))"
        ),
        f"seeds AS MATERIALIZED (SELECT node FROM nodes WHERE {seed_pred})",
        (
            "ns AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS ns "
            "FROM seeds)"
        ),
        (
            "tp AS MATERIALIZED (SELECT n.node, CASE WHEN s.node IS NOT NULL "
            "THEN 1.0 / ns.ns ELSE 0.0 END AS t "
            "FROM nodes n LEFT JOIN seeds s ON n.node = s.node CROSS JOIN ns)"
        ),
        "it0 AS MATERIALIZED (SELECT node, t AS rank FROM tp)",
    ]
    for k in range(1, iters + 1):
        parts += [
            (
                f"dang{k} AS MATERIALIZED (SELECT coalesce(sum(rank), 0.0) AS dang "
                f"FROM it{k - 1} WHERE node NOT IN (SELECT src FROM hg))"
            ),
            (
                f"contrib{k} AS MATERIALIZED (SELECT norm.dst, "
                f"sum(norm.p * r.rank) AS contrib "
                f"FROM norm JOIN it{k - 1} r ON norm.src = r.node GROUP BY norm.dst)"
            ),
            (
                f"it{k} AS MATERIALIZED (SELECT tp.node, "
                f"{t} * tp.t + {d} * (coalesce(c.contrib, 0.0) "
                f"+ dang{k}.dang * tp.t) AS rank "
                f"FROM tp LEFT JOIN contrib{k} c ON tp.node = c.dst "
                f"CROSS JOIN dang{k})"
            ),
        ]
    return (
        "WITH " + ",\n".join(parts)
        + f"""
    SELECT i.node AS host, round(i.rank, 6) AS trustrank,
      CASE WHEN s.node IS NOT NULL THEN TRUE ELSE FALSE END AS is_seed
    FROM it{iters} i LEFT JOIN seeds s ON i.node = s.node"""
    )


_TR_ITERS = 5
_TR_DAMPING = 0.85


@register("web_trustrank", oracle=_trustrank_oracle_sql(_TR_ITERS, _TR_DAMPING))
def web_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank over the host graph: PageRank whose teleport mass
    goes only to a trusted seed set (here md5(host) % 3 == 0 — a
    deterministic stand-in for a human-curated whitelist), so trust
    decays with link distance from the seeds; the standard spam-
    demotion companion to web_pagerank (Gyongyi et al., VLDB 2004).
    Same per-iteration shape as the PageRank loop (one keyed join +
    one map-side sum + one broadcast dangling scalar; invariants
    checkpointed once); the seed join is broadcast. Oracle unrolls
    the identical iterations, value-gated after round(6)."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
        trustrank,
    )

    hg = host_graph(href_edges(pages_from_documents(spark, sf_dir))).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    nodes = (
        hg.select(F.col("src").alias("node"))
        .union(hg.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.where(md5_long(F.col("node")) % 3 == 0)
    ranks = trustrank(hg, seeds, iters=_TR_ITERS, damping=_TR_DAMPING)
    return (
        ranks.join(
            F.broadcast(seeds.select(F.col("node").alias("seed"))),
            ranks["node"] == F.col("seed"),
            "left",
        )
        .select(
            F.col("node").alias("host"),
            F.round("rank", 6).alias("trustrank"),
            F.col("seed").isNotNull().alias("is_seed"),
        )
    )


@register(
    "web_sitemap_coverage",
    oracle=f"""
    WITH declared AS (
      SELECT {URL_SQL} AS url FROM documents WHERE doc_id % 3 <> 2
      UNION ALL
      SELECT {url_sql('doc_id + 500000')} FROM documents WHERE doc_id % 11 = 0
    ),
    crawled AS (SELECT {URL_SQL} AS url FROM documents),
    j AS (
      SELECT coalesce(d.url, c.url) AS url,
        (d.url IS NOT NULL) AS is_declared, (c.url IS NOT NULL) AS is_crawled
      FROM declared d FULL OUTER JOIN crawled c ON d.url = c.url
    )
    SELECT {_host_sql('url')} AS host,
      CAST(sum(CASE WHEN is_declared THEN 1 ELSE 0 END) AS BIGINT) AS n_declared,
      CAST(sum(CASE WHEN is_crawled THEN 1 ELSE 0 END) AS BIGINT) AS n_crawled,
      CAST(sum(CASE WHEN is_declared AND is_crawled THEN 1 ELSE 0 END) AS BIGINT)
        AS n_both,
      round(CAST(sum(CASE WHEN is_declared AND is_crawled THEN 1 ELSE 0 END)
        AS DOUBLE) / nullif(sum(CASE WHEN is_declared THEN 1 ELSE 0 END), 0), 6)
        AS coverage
    FROM j GROUP BY 1
    """,
)
def web_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-vs-crawl reconciliation per host: full-outer join the
    host's DECLARED url set (its sitemap — synthesized here as 2/3 of
    corpus urls plus a band of declared-but-never-crawled phantoms)
    against the CRAWLED set, then roll up declared/crawled/overlap
    counts and coverage. The crawl-ops dashboard query: low coverage
    = crawler missing declared content; crawled-not-declared =
    discovery beyond the sitemap.

    Scale shape: both sides are scan projections keyed by url before
    the single full-outer shuffle join (url is the natural co-
    partition key; at 100 TB both sides bucket by url and the join is
    co-located); the host rollup is map-side combined. No windows."""
    from multiomics_biocypher_kg_spark.functions.urls import url_host
    from multiomics_biocypher_kg_spark.sources.pages import url_of

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    declared = (
        docs.where(F.col("doc_id") % 3 != 2)
        .select(url_of(F.col("doc_id")).alias("url"))
        .unionAll(
            docs.where(F.col("doc_id") % 11 == 0).select(
                url_of(F.col("doc_id") + 500000).alias("url")
            )
        )
        .withColumn("is_declared", F.lit(True))
    )
    crawled = docs.select(url_of(F.col("doc_id")).alias("url")).withColumn(
        "is_crawled", F.lit(True)
    )
    j = declared.join(crawled, "url", "full_outer").select(
        "url",
        F.coalesce("is_declared", F.lit(False)).alias("is_declared"),
        F.coalesce("is_crawled", F.lit(False)).alias("is_crawled"),
    )
    return j.groupBy(url_host(F.col("url")).alias("host")).agg(
        F.sum(F.col("is_declared").cast("long")).alias("n_declared"),
        F.sum(F.col("is_crawled").cast("long")).alias("n_crawled"),
        F.sum(
            (F.col("is_declared") & F.col("is_crawled")).cast("long")
        ).alias("n_both"),
        F.round(
            F.sum((F.col("is_declared") & F.col("is_crawled")).cast("long"))
            .cast("double")
            / F.nullif(F.sum(F.col("is_declared").cast("long")), F.lit(0)),
            6,
        ).alias("coverage"),
    )


# --------------------------------------------------------------------------
# Mirror-host detection (content-hash Jaccard between hosts)
# --------------------------------------------------------------------------

# deterministic mirror synthesis: every doc maps to a host (the
# snapshot-family mapping used across the web queries); a subset of
# each host's docs is additionally served from 'mirror-<host>' with
# byte-identical content, at a family-dependent coverage (1/2, 1/3
# or 1/4) so measured Jaccard varies by pair.
_MIRROR_SH_SQL = """
  WITH hosted AS (
    SELECT doc_id, doc_id % 125 AS fam,
      CASE WHEN doc_id % 125 % 10 < 3 THEN 'hot.example.com'
           ELSE 'h' || CAST(doc_id % 125 % 50 AS VARCHAR) || '.example.org'
      END AS host,
      md5(text) AS h
    FROM documents
  ),
  sh AS (
    SELECT DISTINCT host, h FROM hosted
    UNION
    SELECT DISTINCT 'mirror-' || host, h FROM hosted
    WHERE doc_id % (2 + fam % 3) = 0
  ),
  hot AS (SELECT h FROM sh GROUP BY h HAVING count(*) > 64),
  shc AS (SELECT * FROM sh WHERE h NOT IN (SELECT h FROM hot))
"""


@register(
    "web_mirror_hosts",
    oracle=f"""
    {_MIRROR_SH_SQL},
    sizes AS (SELECT host, count(*) AS sz FROM shc GROUP BY host),
    inter AS (
      SELECT a.host AS host_a, b.host AS host_b, count(*) AS n_shared
      FROM shc a JOIN shc b ON a.h = b.h AND a.host < b.host
      GROUP BY a.host, b.host
    )
    SELECT i.host_a, i.host_b, CAST(i.n_shared AS BIGINT) AS n_shared,
      CAST(sa.sz AS BIGINT) AS n_a, CAST(sb.sz AS BIGINT) AS n_b,
      round(CAST(i.n_shared AS DOUBLE) / (sa.sz + sb.sz - i.n_shared), 6)
        AS jaccard
    FROM inter i
    JOIN sizes sa ON i.host_a = sa.host
    JOIN sizes sb ON i.host_b = sb.host
    WHERE CAST(i.n_shared AS DOUBLE) / (sa.sz + sb.sz - i.n_shared) >= 0.2
    """,
)
def web_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-site detection: Jaccard similarity between hosts over
    their sets of distinct content hashes, candidates-first — hosts
    are paired ONLY where they share at least one content hash (an
    equi-join on the hash), never all-pairs. Hashes served by > 64
    hosts (blank/boilerplate pages) are dropped before pairing: at
    web scale one empty page on a million hosts would otherwise
    expand quadratically in the hash join, and such content carries
    no mirror signal. The per-host distinct-hash sets are
    exact-dedup-sized state; everything after the first distinct is
    host-cardinality, not corpus-cardinality. Reports pairs with
    Jaccard >= 0.2 (reference analog: host-level grouping
    discipline of the crawl adapters; mirror coverage 1/2, 1/3, 1/4
    by family in the synthetic input)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    fam = F.col("doc_id") % 125
    host = F.when(fam % 10 < 3, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("h"), (fam % 50).cast("string"), F.lit(".example.org"))
    )
    hosted = docs.select(
        "doc_id", fam.alias("fam"), host.alias("host"), F.md5("text").alias("h")
    )
    base = hosted.select("host", "h")
    mirror = hosted.where(
        F.col("doc_id") % (F.lit(2) + F.col("fam") % 3) == 0
    ).select(F.concat(F.lit("mirror-"), F.col("host")).alias("host"), "h")
    sh = base.unionByName(mirror).distinct()
    hot = sh.groupBy("h").agg(F.count(F.lit(1)).alias("nh")).where(
        F.col("nh") > 64
    )
    shc = sh.join(hot.select("h"), "h", "left_anti")
    sizes = shc.groupBy("host").agg(F.count(F.lit(1)).alias("sz"))
    a = shc.select(F.col("host").alias("host_a"), "h")
    b = shc.select(F.col("host").alias("host_b"), "h")
    inter = (
        a.join(b, "h")
        .where(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        inter.join(
            sizes.select(F.col("host").alias("host_a"), F.col("sz").alias("n_a")),
            "host_a",
        )
        .join(
            sizes.select(F.col("host").alias("host_b"), F.col("sz").alias("n_b")),
            "host_b",
        )
        .where(jac >= 0.2)
        .select(
            "host_a",
            "host_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Registered AFTER the round-4 driver-window freeze (the first-50
# slots are exactly filled by the 43 never-driver-checked round-4
# queries + the 7 reimplemented veterans). These run in the local
# sf0.001 oracle sweep (pytest) this round and MUST be rotated to
# the top of _DRIVER_WINDOW_FIRST in round 5.
# --------------------------------------------------------------------------


@register(
    "web_adamic_adar",
    oracle=f"""
    WITH hg AS ({_HOST_GRAPH_SQL}),
    e AS (
      SELECT DISTINCT least(src_host, dst_host) AS a,
        greatest(src_host, dst_host) AS b
      FROM hg WHERE src_host <> dst_host
    ),
    und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    deg AS (SELECT a AS z, count(*) AS d FROM und GROUP BY a),
    wedge AS (
      SELECT u1.b AS a, u2.b AS b, u1.a AS z
      FROM und u1 JOIN und u2 ON u1.a = u2.a AND u1.b < u2.b
    ),
    scored AS (
      SELECT w.a, w.b, count(*) AS n_common,
        sum(1.0 / ln(deg.d)) AS aa_raw
      FROM wedge w JOIN deg ON w.z = deg.z
      GROUP BY w.a, w.b
    ),
    cand AS (
      SELECT s.* FROM scored s
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = s.a AND e.b = s.b)
    )
    SELECT a AS subj, b AS obj, CAST(n_common AS BIGINT) AS n_common,
      round(aa_raw, 6) AS adamic_adar, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT a, b, n_common, aa_raw,
        row_number() OVER (ORDER BY round(aa_raw, 6) DESC, a, b) AS rank
      FROM cand)
    WHERE rank <= 100
    """,
)
def web_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the undirected host link
    graph: the top-100 non-adjacent host pairs ranked by
    shared-neighbor information (operators.graphstats.
    adamic_adar_topk) — the graph-completion primitive that proposes
    candidate edges the crawl never observed directly (reference
    analog: its same-as candidate expansion, gene_id_utils.py
    expand_list, generalized from string variants to graph
    structure). The entity co-mention graph is unusable here — the
    synthetic corpus makes it complete, so every pair is already
    adjacent — while the host graph has 460 non-adjacent wedge
    candidates. Candidates come only from the wedge equi-join;
    top-k via TakeOrderedAndProject."""
    from multiomics_biocypher_kg_spark.operators.graphstats import adamic_adar_topk
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
    )

    pages = pages_from_documents(spark, sf_dir)
    hg = host_graph(href_edges(pages)).where(
        F.col("src_host") != F.col("dst_host")
    )
    edges = hg.select(
        F.least("src_host", "dst_host").alias("a"),
        F.greatest("src_host", "dst_host").alias("b"),
    ).distinct()
    return adamic_adar_topk(edges, k=100)


def _walks_sql(n_steps: int = 4) -> str:
    """Unrolled deterministic-walk CTEs (DuckDB twin of
    operators.linkgraph.deterministic_walks). Each step CTE is
    MATERIALIZED: w{t} is referenced by both s{t+1} and w{t+1}, and
    chained re-inlining would cost O(2^steps) expansions."""
    parts = [
        """e AS MATERIALIZED (
      SELECT DISTINCT least(src_host, dst_host) AS a,
        greatest(src_host, dst_host) AS b
      FROM hg WHERE src_host <> dst_host
    )""",
        "und AS MATERIALIZED (SELECT a, b FROM e UNION SELECT b, a FROM e)",
        """w0 AS MATERIALIZED (
      SELECT a AS start, a AS cur, CAST(a AS VARCHAR) AS path
      FROM (SELECT DISTINCT a FROM und)
    )""",
    ]
    for t in range(1, n_steps + 1):
        h = md5_long_sql(
            f"w.start || '|' || w.cur || '|' || u.b || '|' || '{t}'"
        )
        parts.append(
            f"""s{t} AS MATERIALIZED (
      SELECT w.start, arg_min(u.b, {h}) AS nxt
      FROM w{t - 1} w JOIN und u ON w.cur = u.a GROUP BY w.start
    )"""
        )
        parts.append(
            f"""w{t} AS MATERIALIZED (
      SELECT w.start, s.nxt AS cur, w.path || '>' || s.nxt AS path
      FROM w{t - 1} w JOIN s{t} s ON w.start = s.start
    )"""
        )
    return (
        ",\n    ".join(parts)
        + f"\n    SELECT start AS start_host, path AS walk FROM w{n_steps}"
    )


@register(
    "web_random_walks",
    oracle=f"""
    WITH hg AS MATERIALIZED ({_HOST_GRAPH_SQL}),
    {_walks_sql(4)}
    """,
)
def web_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derandomized DeepWalk corpus export over the host link graph
    (operators.linkgraph.deterministic_walks): one 4-hop walk per
    host, next hop = argmin md5(start|cur|neighbor|step) — the
    graph->sequence training-data primitive KG/graph-embedding
    pipelines (DeepWalk, node2vec) consume, with randomness replaced
    by MD5 so the corpus is reproducible and value-gated
    cross-engine. Each hop is one frontier equi-join + one
    map-side-combinable argmin; no Python, no collect."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        deterministic_walks,
        host_graph,
        href_edges,
    )

    pages = pages_from_documents(spark, sf_dir)
    hg = host_graph(href_edges(pages)).where(
        F.col("src_host") != F.col("dst_host")
    )
    edges = hg.select(
        F.least("src_host", "dst_host").alias("a"),
        F.greatest("src_host", "dst_host").alias("b"),
    ).distinct()
    return deterministic_walks(edges, n_steps=4)


@register(
    "kg_shacl_check",
    oracle=f"""
    WITH t AS ({TRIPLES_SQL})
    SELECT 'mentions_domain_url' AS constraint_id, 'mentions' AS pred,
      'domain' AS kind, 'triples' AS unit,
      CAST(count(*) AS BIGINT) AS n_checked,
      CAST(coalesce(sum(CASE WHEN NOT regexp_matches(subj, '^https?://')
        THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_violations,
      CASE WHEN count(*) > 0 THEN round(
        CAST(coalesce(sum(CASE WHEN NOT regexp_matches(subj, '^https?://')
          THEN 1 ELSE 0 END), 0) AS DOUBLE) / count(*), 6)
        ELSE 0.0 END AS violation_frac
    FROM t WHERE pred = 'mentions'
    UNION ALL
    SELECT 'mentions_range_curie', 'mentions', 'range', 'triples',
      CAST(count(*) AS BIGINT),
      CAST(coalesce(sum(CASE WHEN NOT regexp_matches(obj, '^[a-z]+:')
        THEN 1 ELSE 0 END), 0) AS BIGINT),
      CASE WHEN count(*) > 0 THEN round(
        CAST(coalesce(sum(CASE WHEN NOT regexp_matches(obj, '^[a-z]+:')
          THEN 1 ELSE 0 END), 0) AS DOUBLE) / count(*), 6)
        ELSE 0.0 END
    FROM t WHERE pred = 'mentions'
    UNION ALL
    SELECT 'sameas_irreflexive', 'same_as_canonical', 'irreflexive',
      'triples',
      CAST(count(*) AS BIGINT),
      CAST(coalesce(sum(CASE WHEN subj = obj THEN 1 ELSE 0 END), 0)
        AS BIGINT),
      CASE WHEN count(*) > 0 THEN round(
        CAST(coalesce(sum(CASE WHEN subj = obj THEN 1 ELSE 0 END), 0)
          AS DOUBLE) / count(*), 6)
        ELSE 0.0 END
    FROM t WHERE pred = 'same_as_canonical'
    UNION ALL
    SELECT 'sameas_max_card_1', 'same_as_canonical', 'max_cardinality',
      'nodes',
      CAST(count(*) AS BIGINT),
      CAST(coalesce(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END), 0) AS BIGINT),
      CASE WHEN count(*) > 0 THEN round(
        CAST(coalesce(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END), 0)
          AS DOUBLE) / count(*), 6)
        ELSE 0.0 END
    FROM (SELECT subj, count(*) AS k FROM t
          WHERE pred = 'same_as_canonical' GROUP BY subj)
    UNION ALL
    SELECT 'mentions_min_support_2', 'mentions', 'min_support', 'nodes',
      CAST(count(*) AS BIGINT),
      CAST(coalesce(sum(CASE WHEN k < 2 THEN 1 ELSE 0 END), 0) AS BIGINT),
      CASE WHEN count(*) > 0 THEN round(
        CAST(coalesce(sum(CASE WHEN k < 2 THEN 1 ELSE 0 END), 0)
          AS DOUBLE) / count(*), 6)
        ELSE 0.0 END
    FROM (SELECT obj, count(DISTINCT subj) AS k FROM t
          WHERE pred = 'mentions' GROUP BY obj)
    """,
)
def kg_shacl_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-style conformance report over the materialized triple
    table: domain/range regex shapes, same-as irreflexivity, per-node
    max-cardinality, and min-support (weakly-evidenced entities
    flagged for curation). Row-level shapes run as conditional
    aggregates in one pass over the triple scan; node-level shapes
    are node-sized keyed aggs — the report is 5 rows at any corpus
    size. See :func:`operators.materialize.shacl_report`."""
    from multiomics_biocypher_kg_spark.registry import QUERIES

    from multiomics_biocypher_kg_spark.operators.materialize import (
        shacl_report,
    )

    # materialize the triple stage ONCE (same contract as the
    # co-mention stage, graphstats.py:116): the report has three
    # consumers (row-level agg + two node-level aggs) and the
    # upstream mention/link path is all-broadcast with no reusable
    # exchange; on a real deployment this is the already-written
    # triple TABLE, read three times from parquet.
    return shacl_report(
        QUERIES["kg_triples"](spark, sf_dir).localCheckpoint(eager=False)
    )


_CALIB_MLOGIT_SQL = (
    "(CAST(list_sum(list_transform(string_split(text, ' '), "
    f"t -> {md5_long_sql('t')} % 2001 - 1000)) AS DOUBLE) "
    "/ len(string_split(text, ' ')))"
)


@register(
    "web_quality_calibration",
    oracle=f"""
    WITH s AS (
      SELECT {_host_sql(URL_SQL)} AS host, doc_id,
        {_CALIB_MLOGIT_SQL} AS mlogit
      FROM documents
    ),
    r AS (
      SELECT host, doc_id, mlogit,
        percent_rank() OVER (
          PARTITION BY host ORDER BY mlogit DESC, doc_id
        ) AS pr
      FROM s
    )
    SELECT host,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(CASE WHEN pr <= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      round(min(CASE WHEN pr <= 0.5 THEN mlogit END), 6) AS min_kept_mlogit,
      round(max(CASE WHEN pr > 0.5 THEN mlogit END), 6) AS max_dropped_mlogit
    FROM r GROUP BY host
    """,
)
def web_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host quality calibration (the CCNet per-domain discipline):
    a single global quality threshold systematically deletes whole
    hosts whose register differs, so the keep gate is the PER-HOST
    percentile — here top-50% by mean hashed-logit score
    (functions.textstats.quality_logit_milli / n_tokens), ties
    broken by doc_id. The report is the per-host calibration curve:
    how many survive and where the cut landed.

    Scale: the score is a scan projection; percent_rank partitions
    by HOST — per-host doc counts (10^2-10^6 on real crawls) bound
    each sort task, never a global sort; the rollup is
    map-side-combined. Hot-host skew is the same distribution the
    salted-rollup pattern (kg_host_rollup_salted) already covers."""
    from pyspark.sql import Window

    from multiomics_biocypher_kg_spark.functions.urls import url_host

    pages = pages_from_documents(spark, sf_dir)
    n = F.size(F.split("text", " "))
    s = pages.select(
        url_host(F.col("url")).alias("host"),
        "doc_id",
        (ts.quality_logit_milli(F.col("text")).cast("double") / n).alias(
            "mlogit"
        ),
    )
    w = Window.partitionBy("host").orderBy(F.desc("mlogit"), F.asc("doc_id"))
    r = s.withColumn("pr", F.percent_rank().over(w))
    kept = F.col("pr") <= 0.5
    return r.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.round(F.min(F.when(kept, F.col("mlogit"))), 6).alias(
            "min_kept_mlogit"
        ),
        F.round(F.max(F.when(~kept, F.col("mlogit"))), 6).alias(
            "max_dropped_mlogit"
        ),
    )


_BUDGET_TOKENS = 15000
_BUDGET_BINS = 1000


@register(
    "data_budget_select",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
        len(string_split(text, ' ')) AS toks,
        least(CAST(floor({quality_score_sql('text')} / 3.0 * {_BUDGET_BINS})
          AS INTEGER), {_BUDGET_BINS} - 1) AS bin
      FROM documents
    ),
    h AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(toks) AS BIGINT) AS bin_tokens
      FROM s GROUP BY bin
    )
    SELECT bin, n_docs, bin_tokens,
      CAST(sum(bin_tokens) OVER (
        ORDER BY bin DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS BIGINT) AS cum_tokens,
      sum(bin_tokens) OVER (
        ORDER BY bin DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) <= {_BUDGET_TOKENS} AS kept
    FROM h
    """,
)
def data_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: select the highest-quality documents
    whose token total fits a training budget. The naive plan — sort
    the corpus by score, cumulative-sum tokens, cut at the budget —
    is a GLOBAL ordered window (single-task sort at corpus scale).
    This operator replaces it with the histogram-threshold plan:
    quality scores land in {_BUDGET_BINS} fixed bins (scan
    projection), one map-side-combined aggregate builds the
    (bin, token-mass) histogram, and the budget cut is a cumulative
    window over the HISTOGRAM — at most {_BUDGET_BINS} rows by
    construction, a constant independent of corpus size. Selection
    keeps whole bins from the top down while the running total fits
    (budget resolution = one bin's token mass; published curation
    pipelines accept exactly this granularity). Output is the
    per-bin decision table: (bin, n_docs, bin_tokens, cum_tokens,
    kept)."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.size(F.split("text", " "))
    bin_ = F.least(
        F.floor(ts.quality_score(F.col("text")) / 3.0 * _BUDGET_BINS),
        F.lit(_BUDGET_BINS - 1),
    ).cast("int")
    h = (
        docs.select(bin_.alias("bin"), toks.alias("toks"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("bin_tokens"),
        )
    )
    # window over the HISTOGRAM (<= _BUDGET_BINS rows, a constant) —
    # the whole point of the operator; never over the corpus
    w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("bin_tokens").over(w)
    return h.select(
        "bin",
        "n_docs",
        "bin_tokens",
        cum.cast("long").alias("cum_tokens"),
        (cum <= _BUDGET_TOKENS).alias("kept"),
    )


# --------------------------------------------------------------------------
# URL template mining over the canonicalized messy-url corpus
# --------------------------------------------------------------------------


def _url_templates_sql() -> str:
    return f"""
    WITH canon AS ({_web_url_canonical_sql()}),
    parts AS (
      SELECT doc_id, url_canonical,
        regexp_extract(url_canonical, '://([^/?]*)', 1) AS host,
        CASE WHEN url_canonical LIKE '%://%'
             THEN regexp_extract(url_canonical, '://[^/?]*(.*)$', 1)
             ELSE url_canonical END AS tail
      FROM canon
    ),
    templ AS (
      SELECT doc_id, url_canonical, host,
        regexp_replace(host, '[0-9]+', '{{n}}', 'g')
        || regexp_replace(regexp_extract(tail, '^([^?]*)', 1),
                          '[0-9]+', '{{n}}', 'g')
        || CASE WHEN regexp_extract(tail, '\\?(.*)$', 1) <> ''
             THEN '?' || regexp_replace(
                    regexp_extract(tail, '\\?(.*)$', 1), '=[^&]*', '=', 'g')
             ELSE '' END AS template
      FROM parts
    )
    SELECT template, CAST(count(*) AS BIGINT) AS n_urls,
      CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
      min(url_canonical) AS sample_url
    FROM templ GROUP BY template
    """


@register("web_url_templates", oracle=_url_templates_sql())
def web_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL template mining: canonicalized urls collapse to crawl-
    frontier patterns by masking digit runs in the host AND path
    ('{n}' — sharded-host families like h1../h2..example.org and
    non-default ports collapse into one pattern) and
    stripping query-param VALUES (keeping the sorted name set) — the
    inventory a crawl scheduler prioritizes with and the first
    defense against calendar/pagination crawl traps (a trap is a
    template whose n_urls grows without bound). Pure scan-projection
    regexp chain on top of the shared canonicalizer (zero Python,
    zero pre-agg shuffle), then ONE map-side-combinable groupBy on
    the template key; at 10^12 urls the template table is the
    pattern dictionary — orders of magnitude smaller than the url
    stream it summarizes."""
    from multiomics_biocypher_kg_spark.functions.urls import canonical_url

    m = _messy_urls(spark, sf_dir)
    canon = m.select(
        "doc_id", canonical_url(F.col("url_raw")).alias("url_canonical")
    )
    host = F.regexp_extract("url_canonical", "://([^/?]*)", 1)
    tail = F.when(
        F.col("url_canonical").contains("://"),
        F.regexp_extract("url_canonical", "://[^/?]*(.*)$", 1),
    ).otherwise(F.col("url_canonical"))
    parts = canon.select(
        "doc_id",
        "url_canonical",
        host.alias("host"),
        tail.alias("tail"),
    )
    path_t = F.regexp_replace(
        F.regexp_extract("tail", "^([^?]*)", 1), "[0-9]+", "{n}"
    )
    query = F.regexp_extract("tail", r"\?(.*)$", 1)
    query_t = F.when(
        query != "",
        F.concat(F.lit("?"), F.regexp_replace(query, "=[^&]*", "=")),
    ).otherwise(F.lit(""))
    templ = parts.select(
        "doc_id",
        "url_canonical",
        "host",
        F.concat(
            F.regexp_replace("host", "[0-9]+", "{n}"), path_t, query_t
        ).alias("template"),
    )
    return templ.groupBy("template").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.min("url_canonical").alias("sample_url"),
    )


# --------------------------------------------------------------------------
# Local clustering coefficient over the co-mention graph
# --------------------------------------------------------------------------


@register(
    "kg_clustering_coeff",
    oracle=f"""
    WITH pairs AS ({COMENTION_PAIRS_SQL}),
    e AS (SELECT DISTINCT subj AS a, obj AS b FROM pairs),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a AS entity_id, count(*) AS degree FROM sym GROUP BY a),
    tri AS (
      SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_nodes AS (
      SELECT n1 AS entity_id FROM tri
      UNION ALL SELECT n2 FROM tri
      UNION ALL SELECT n3 FROM tri
    ),
    pn AS (
      SELECT entity_id, count(*) AS n_triangles
      FROM tri_nodes GROUP BY entity_id
    )
    SELECT d.entity_id, CAST(d.degree AS BIGINT) AS degree,
      CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
      CASE WHEN d.degree < 2 THEN 0.0
        ELSE round(2.0 * coalesce(pn.n_triangles, 0)
                   / (d.degree * (d.degree - 1)), 6) END AS clustering
    FROM deg d LEFT JOIN pn ON d.entity_id = pn.entity_id
    """,
)
def kg_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per entity over the co-mention
    graph — 2T(v) / (d(v)(d(v)-1)), the community-tightness signal
    that separates topical hub entities (low cc, star-shaped
    neighborhoods) from clique-like co-mention families (cc -> 1),
    and the per-node refinement of kg_triangles. Reuses the DEGREE-
    ORIENTED triangle counter (wedges enumerate at the lowest-
    (degree, id) apex — hub fan-out bounded) plus one symmetric-edge
    degree agg; the final arithmetic is a dictionary-sized join.
    The oracle recomputes triangles with a plain id-ordered 3-way
    join (valid: the triangle set is orientation-independent) and
    the identical rounded quotient."""
    from multiomics_biocypher_kg_spark.operators.graphstats import (
        comention_pairs,
        triangle_counts,
    )

    p = _pipeline(spark, sf_dir)
    edges = (
        comention_pairs(p["links"])
        .select(F.col("subj").alias("a"), F.col("obj").alias("b"))
        .distinct()
    )
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    tc = triangle_counts(edges)
    cc = F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
        F.round(
            F.lit(2.0)
            * F.col("n_triangles")
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        )
    )
    return deg.join(tc, "entity_id").select(
        "entity_id",
        F.col("degree").cast("long").alias("degree"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
        cc.alias("clustering"),
    )


# --------------------------------------------------------------------------
# Token-window entity co-occurrence (banded range self-join)
# --------------------------------------------------------------------------

_COMENTION_WINDOW = 8


@register(
    "kg_window_comention",
    oracle=f"""
    WITH links AS ({LINKS_SQL}),
    m AS (
      SELECT DISTINCT doc_id, pos, entity_id
      FROM links WHERE entity_id IS NOT NULL
    )
    SELECT a.entity_id AS subj, b.entity_id AS obj,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(count(DISTINCT a.doc_id) AS BIGINT) AS n_docs
    FROM m a JOIN m b
      ON a.doc_id = b.doc_id AND a.entity_id < b.entity_id
      AND abs(a.pos - b.pos) <= {_COMENTION_WINDOW}
    GROUP BY a.entity_id, b.entity_id
    """,
)
def kg_window_comention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-occurrence within a +/-{w}-token window — the
    proximity-weighted relation-extraction signal (doc-level
    co-mention counts topical association; window-level counts
    SENTENCE-grade association, what OpenIE-style extractors feed
    on). The range predicate |pos_a - pos_b| <= {w} is executed as a
    BANDED EQUI-JOIN: positions bucket to floor(pos/{w}) and the
    left side probes its own and both adjacent buckets (any
    qualifying pair differs by at most one bucket), so the join is
    (doc_id, bucket)-keyed with per-bucket fan-out bounded by local
    mention density — never a per-doc cross join, never a sort of
    the token stream (plan-asserted: no CartesianProduct). The
    oracle states the same semantics as the naive range self-join.
    The entity-order filter keeps exactly one orientation per
    unordered row pair, so n_events matches the naive count
    exactly."""
    p = _pipeline(spark, sf_dir)
    w = _COMENTION_WINDOW
    m = (
        p["links"]
        .where(F.col("entity_id").isNotNull())
        .select("doc_id", "pos", "entity_id")
        .distinct()
    )
    bkt = F.floor(F.col("pos") / w).cast("long")
    a = m.select(
        "doc_id",
        F.col("pos").alias("pos_a"),
        F.col("entity_id").alias("subj"),
        F.explode(
            F.array(bkt - 1, bkt, bkt + 1)
        ).alias("probe"),
    )
    b = m.select(
        "doc_id",
        F.col("pos").alias("pos_b"),
        F.col("entity_id").alias("obj"),
        bkt.alias("probe"),
    )
    pairs = a.join(b, ["doc_id", "probe"]).where(
        (F.col("subj") < F.col("obj"))
        & (F.abs(F.col("pos_a") - F.col("pos_b")) <= w)
    )
    return pairs.groupBy("subj", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


kg_window_comention.__doc__ = kg_window_comention.__doc__.format(
    w=_COMENTION_WINDOW
)


# --------------------------------------------------------------------------
# Temporal KG maintenance: gaps-and-islands validity intervals
# --------------------------------------------------------------------------

_VALIDITY_GAP_SEC = 4


@register(
    "kg_validity_intervals",
    oracle=f"""
    WITH pairs AS ({COMENTION_PAIRS_SQL}),
    obs AS (
      SELECT DISTINCT subj, obj, 1767225600 + doc_id AS ts_sec FROM pairs
    ),
    x AS (
      SELECT subj, obj, ts_sec,
        CASE WHEN ts_sec - lag(ts_sec)
               OVER (PARTITION BY subj, obj ORDER BY ts_sec)
             > {_VALIDITY_GAP_SEC} THEN 1 ELSE 0 END AS brk
      FROM obs
    ),
    g AS (
      SELECT subj, obj, ts_sec,
        sum(brk) OVER (PARTITION BY subj, obj ORDER BY ts_sec
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS grp
      FROM x
    )
    SELECT subj, 'co_mentioned_with' AS pred, obj,
      CAST(grp + 1 AS INTEGER) AS interval_seq,
      CAST(min(ts_sec) AS BIGINT) AS valid_from_ts,
      CAST(max(ts_sec) AS BIGINT) AS valid_to_ts,
      count(*) AS n_obs
    FROM g GROUP BY subj, obj, grp
    """,
)
def kg_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG validity intervals via gaps-and-islands: each
    triple's crawl observations coalesce into MAXIMAL intervals
    separated by gaps > {gap} s, so an assert/retract/re-assert
    history keeps its structure (kg_triple_temporal's single
    first/last span cannot distinguish continuous presence from a
    claim that vanished and returned — the distinction SCD-style edge
    maintenance keys retractions on). The Spark side joins pairs to
    the pages table's warc_ts (the honest shape — timestamps live on
    the corpus); the oracle exploits the deterministic synthetic
    ``warc_ts = epoch0 + doc_id``. Both windows (lag + running sum)
    are PARTITIONED BY the triple key — per-key island numbering,
    never a global sort — and share one window spec, so Catalyst
    sorts each partition once. All-integer output: no float gate.
    """
    from multiomics_biocypher_kg_spark.operators.graphstats import (
        comention_pairs,
        validity_intervals,
    )

    p = _pipeline(spark, sf_dir)
    return validity_intervals(
        comention_pairs(p["links"]), p["pages"], gap_sec=_VALIDITY_GAP_SEC
    )


kg_validity_intervals.__doc__ = kg_validity_intervals.__doc__.format(
    gap=_VALIDITY_GAP_SEC
)


# --------------------------------------------------------------------------
# Spam mass: PageRank vs TrustRank relative-trust deficit
# --------------------------------------------------------------------------


@register(
    "web_spam_mass",
    oracle=f"""
    WITH pr AS ({_pagerank_oracle_sql(_PR_ITERS, _PR_DAMPING)}),
    tr AS ({_trustrank_oracle_sql(_TR_ITERS, _TR_DAMPING)})
    SELECT pr.host, pr.pagerank, tr.trustrank, tr.is_seed,
      round((pr.pagerank - tr.trustrank) / pr.pagerank, 6) AS spam_mass,
      (NOT tr.is_seed)
        AND round((pr.pagerank - tr.trustrank) / pr.pagerank, 6) >= 0.5
        AS is_spam_candidate
    FROM pr JOIN tr ON pr.host = tr.host
    """,
)
def web_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spam mass per host (Gyongyi, Garcia-Molina & Pedersen,
    "Link Spam Detection Based on Mass Estimation", VLDB 2006): the
    fraction of a host's PageRank NOT attributable to trusted
    sources, estimated as (PR - TrustRank)/PR with both vectors from
    the same 5-iteration damped loop (web_pagerank / web_trustrank
    operators reused verbatim). High spam mass on a non-seed host =
    rank acquired mostly through untrusted linkage — the standard
    demotion signal a crawl scheduler feeds back into frontier
    scoring. Both rank loops share the checkpointed host-graph
    invariants; the final combine is a host-keyed join of two
    host-dictionary-sized aggregates (broadcastable at any corpus
    size, since hosts ~ 10^7 even at 10^12 pages). The oracle nests
    both unrolled loops as CTEs; spam_mass and the >= 0.5 candidate
    gate are computed from the round(6)-gated ranks IDENTICALLY in
    both engines, so the boolean cannot straddle the rounding
    boundary differently.
    """
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
        pagerank,
        trustrank,
    )

    pages = pages_from_documents(spark, sf_dir)
    hg = host_graph(href_edges(pages)).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    nodes = (
        hg.select(F.col("src").alias("node"))
        .union(hg.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.where(md5_long(F.col("node")) % 3 == 0)
    pr = pagerank(hg, iters=_PR_ITERS, damping=_PR_DAMPING).select(
        F.col("node").alias("host"), F.round("rank", 6).alias("pagerank")
    )
    tr = trustrank(hg, seeds, iters=_TR_ITERS, damping=_TR_DAMPING)
    tr = (
        tr.join(
            F.broadcast(seeds.select(F.col("node").alias("seed"))),
            tr["node"] == F.col("seed"),
            "left",
        )
        .select(
            F.col("node").alias("host"),
            F.round("rank", 6).alias("trustrank"),
            F.col("seed").isNotNull().alias("is_seed"),
        )
    )
    sm = F.round(
        (F.col("pagerank") - F.col("trustrank")) / F.col("pagerank"), 6
    )
    return pr.join(tr, "host").select(
        "host",
        "pagerank",
        "trustrank",
        "is_seed",
        sm.alias("spam_mass"),
        ((~F.col("is_seed")) & (sm >= 0.5)).alias("is_spam_candidate"),
    )


# --------------------------------------------------------------------------
# Batched personalized PageRank: per-seed related-entity vectors
# --------------------------------------------------------------------------

_PPR_ITERS = 5
_PPR_DAMPING = 0.85
_PPR_N_SEEDS = 4
_PPR_TOPK = 5


def _ppr_oracle_sql(
    iters: int, damping: float, edges_sql: str, n_seeds: int, topk: int
) -> str:
    """Unrolled batched personalized PageRank as MATERIALIZED CTEs —
    mirrors operators.linkgraph.ppr_batch: sparse (seed, node, rank)
    state, restart + per-seed dangling mass re-entering at the seed,
    seeds = the ``n_seeds`` strongest nodes by out-strength."""
    d = repr(damping)
    t = repr(1.0 - damping)
    parts = [
        f"hg AS MATERIALIZED ({edges_sql})",
        "outw AS MATERIALIZED (SELECT src, sum(w) AS out_w FROM hg GROUP BY 1)",
        (
            "norm AS MATERIALIZED (SELECT hg.src, hg.dst, "
            "CAST(hg.w AS DOUBLE) / outw.out_w AS p "
            "FROM hg JOIN outw ON hg.src = outw.src)"
        ),
        "hasout AS MATERIALIZED (SELECT DISTINCT src FROM hg)",
        (
            f"seeds AS MATERIALIZED (SELECT src AS seed FROM hg "
            f"GROUP BY src ORDER BY sum(w) DESC, src LIMIT {n_seeds})"
        ),
        "it0 AS MATERIALIZED (SELECT seed, seed AS node, 1.0 AS rank FROM seeds)",
    ]
    for k in range(1, iters + 1):
        p = f"it{k - 1}"
        parts.append(
            f"dang{k} AS MATERIALIZED (SELECT r.seed, sum(r.rank) AS dang "
            f"FROM {p} r LEFT JOIN hasout o ON r.node = o.src "
            f"WHERE o.src IS NULL GROUP BY r.seed)"
        )
        parts.append(
            f"con{k} AS MATERIALIZED (SELECT r.seed, e.dst AS node, "
            f"{d} * sum(e.p * r.rank) AS rank "
            f"FROM norm e JOIN {p} r ON e.src = r.node GROUP BY r.seed, e.dst)"
        )
        parts.append(
            f"it{k} AS MATERIALIZED (SELECT seed, node, sum(rank) AS rank FROM ("
            f"SELECT seed, node, rank FROM con{k} "
            f"UNION ALL "
            f"SELECT s.seed, s.seed AS node, "
            f"{t} + {d} * coalesce(g.dang, 0.0) AS rank "
            f"FROM seeds s LEFT JOIN dang{k} g ON s.seed = g.seed"
            f") u GROUP BY seed, node)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"""
    SELECT seed AS seed_entity, node AS related_entity,
      round(rank, 6) AS ppr, CAST(rn AS INTEGER) AS rel_rank
    FROM (
      SELECT seed, node, rank, row_number() OVER (
        PARTITION BY seed ORDER BY round(rank, 6) DESC, node) AS rn
      FROM it{iters} WHERE node <> seed
    ) q WHERE rn <= {topk}"""
    )


@register(
    "kg_entity_ppr",
    oracle=_ppr_oracle_sql(
        _PPR_ITERS,
        _PPR_DAMPING,
        edges_sql=_COMENTION_EDGES_SQL,
        n_seeds=_PPR_N_SEEDS,
        topk=_PPR_TOPK,
    ),
)
def kg_entity_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related entities via batched personalized PageRank: for each
    of the {n} highest-strength entities in the symmetrized
    co-mention graph, the top-{k} other entities by random-walk-with-
    restart affinity — the per-entity "see also" vector a KG serves
    next to kg_entity_pagerank's single global salience score, and
    the standard neighborhood-sampling weight for downstream GNN /
    node2vec-style training. ALL seed vectors advance in ONE
    {it}-iteration loop over a sparse (seed, node, rank) state
    (operators.linkgraph.ppr_batch — one edge join + one map-side-
    combined sum per round regardless of seed count; per-seed
    dangling mass re-enters at its seed so every vector stays a
    probability distribution). Seeds and top-k are fully
    deterministic: strength sums are integer-valued doubles (exact),
    ties broken by entity id, and the final per-seed ranking orders
    by the round(6) score with node tiebreak — the adamic-adar
    regime, since symmetric graph structure can make distinct nodes'
    true PPR exactly equal. The oracle unrolls the identical sparse
    recurrence as MATERIALIZED CTEs.
    """
    from pyspark.sql import Window

    from multiomics_biocypher_kg_spark.operators.graphstats import comention_pairs
    from multiomics_biocypher_kg_spark.operators.linkgraph import ppr_batch

    p = _pipeline(spark, sf_dir)
    counts = (
        comention_pairs(p["links"])
        .groupBy("subj", "obj")
        .agg(F.countDistinct("doc_id").alias("n"))
    )
    edges = counts.select(
        F.col("subj").alias("src"),
        F.col("obj").alias("dst"),
        F.col("n").cast("double").alias("weight"),
    ).unionByName(
        counts.select(
            F.col("obj").alias("src"),
            F.col("subj").alias("dst"),
            F.col("n").cast("double").alias("weight"),
        )
    )
    seeds = (
        edges.groupBy("src")
        .agg(F.sum("weight").alias("st"))
        .orderBy(F.col("st").desc(), "src")
        .limit(_PPR_N_SEEDS)
        .select(F.col("src").alias("seed"))
    )
    ranks = ppr_batch(
        edges, seeds, iters=_PPR_ITERS, damping=_PPR_DAMPING
    ).where(F.col("node") != F.col("seed"))
    w = Window.partitionBy("seed").orderBy(
        F.round("rank", 6).desc(), "node"
    )
    return (
        ranks.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _PPR_TOPK)
        .select(
            F.col("seed").alias("seed_entity"),
            F.col("node").alias("related_entity"),
            F.round("rank", 6).alias("ppr"),
            F.col("rn").cast("int").alias("rel_rank"),
        )
    )


kg_entity_ppr.__doc__ = kg_entity_ppr.__doc__.format(
    n=_PPR_N_SEEDS, k=_PPR_TOPK, it=_PPR_ITERS
)


# --------------------------------------------------------------------------
# Okapi BM25 ranking over mid-frequency probe terms
# --------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_RANK_LO = 6
_BM25_RANK_HI = 10


@register(
    "text_bm25",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(unnest(string_split(text, ' '))) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    st AS (
      SELECT CAST(avg(dl) AS DOUBLE) AS avgdl,
             CAST(count(*) AS DOUBLE) AS n
      FROM dl
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    q AS (
      SELECT term, df FROM (
        SELECT term, df,
          row_number() OVER (ORDER BY df DESC, term) AS rk
        FROM df
      ) r WHERE rk BETWEEN {_BM25_RANK_LO} AND {_BM25_RANK_HI}
    ),
    scored AS (
      SELECT tf.doc_id,
        ln(1.0 + (st.n - q.df + 0.5) / (q.df + 0.5))
          * (tf.tf * {_BM25_K1 + 1.0})
          / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
             + {_BM25_B} * dl.dl / st.avgdl)) AS w
      FROM q JOIN tf ON tf.term = q.term
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN st
    )
    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms_matched,
      round(sum(w), 6) AS bm25
    FROM scored GROUP BY doc_id
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (Robertson-Sparck Jones, k1={k1}, b={b}) document
    scores for a deterministic probe query — the ranking function
    TF-IDF (text_tfidf) approximates without its two defining
    corrections: term-frequency SATURATION (the k1 denominator caps
    a term's contribution, so keyword-stuffed pages stop winning)
    and document-LENGTH normalization (the b * dl/avgdl term
    deflates long documents). idf is the Lucene/ATIRE
    ln(1 + (N - df + 0.5)/(df + 0.5)) variant — strictly positive,
    so stop-like terms cannot produce negative scores. The probe
    query is the corpus's df-rank {lo}..{hi} terms (mid-frequency —
    the band real queries live in), derived as two distributed
    top-k's (TakeOrderedAndProject) anti-joined — NEVER an
    unpartitioned rank window over the full vocabulary (the
    text_vocabulary lesson). Scoring is two
    dictionary joins (query terms broadcast, doc lengths) + one
    broadcast 1-row stats scalar + one per-doc sum; the corpus is
    scanned once for tokens. Output keyed by doc (no top-k
    ordering), so the only float risk is the round(6)-gated <=
    {nq}-addend sum.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    st = dl.agg(
        F.avg("dl").cast("double").alias("avgdl"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # the rank-lo..hi band as two distributed top-k's (both
    # TakeOrderedAndProject) anti-joined — no rank window at all,
    # so nothing ever sorts the vocabulary in one task
    top = df_.orderBy(F.col("df").desc(), "term").limit(_BM25_RANK_HI)
    head = df_.orderBy(F.col("df").desc(), "term").limit(_BM25_RANK_LO - 1)
    q = top.join(head.select("term"), "term", "left_anti").select(
        "term", F.col("df").alias("qdf")
    )
    idf = F.log(
        1.0 + (F.col("n") - F.col("qdf") + 0.5) / (F.col("qdf") + 0.5)
    )
    wterm = idf * (F.col("tf") * F.lit(_BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (
            F.lit(1.0 - _BM25_B)
            + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
        )
    )
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .select("doc_id", wterm.alias("w"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
        F.round(F.sum("w"), 6).alias("bm25"),
    )


text_bm25.__doc__ = text_bm25.__doc__.format(
    k1=_BM25_K1,
    b=_BM25_B,
    lo=_BM25_RANK_LO,
    hi=_BM25_RANK_HI,
    nq=_BM25_RANK_HI - _BM25_RANK_LO + 1,
)


# --------------------------------------------------------------------------
# Positional phrase search through the postings list
# --------------------------------------------------------------------------


@register(
    "text_phrase_search",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS arr,
        len(string_split(text, ' ')) AS n
      FROM documents
    ),
    tg AS (
      SELECT arr[i] AS w1, arr[i + 1] AS w2, arr[i + 2] AS w3,
        count(*) AS c
      FROM t, LATERAL (SELECT unnest(generate_series(1, n - 2)) AS i) s
      GROUP BY 1, 2, 3
    ),
    ph AS (
      SELECT w1, w2, w3 FROM tg
      ORDER BY c DESC, w1, w2, w3 LIMIT 1
    ),
    pos AS (
      SELECT doc_id, i AS pos, arr[i] AS term
      FROM t, LATERAL (SELECT unnest(generate_series(1, n)) AS i) s
    ),
    occ AS (
      SELECT p1.doc_id, p1.pos
      FROM ph
      JOIN pos p1 ON p1.term = ph.w1
      JOIN pos p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        AND p2.term = ph.w2
      JOIN pos p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
        AND p3.term = ph.w3
    )
    SELECT o.doc_id,
      ph.w1 || ' ' || ph.w2 || ' ' || ph.w3 AS phrase,
      CAST(count(*) AS BIGINT) AS n_occurrences,
      CAST(min(o.pos) AS INTEGER) AS first_pos
    FROM occ o CROSS JOIN ph
    GROUP BY o.doc_id, phrase
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase query through a POSITIONAL postings list: find
    every occurrence of the corpus's most frequent trigram by
    self-joining (term, doc_id, pos) postings on (doc_id, pos + 1) /
    (pos + 2) adjacency — the query path a document-level inverted
    index (text_inverted_index) cannot answer and window co-mention
    (kg_window_comention) only approximates (proximity is not
    adjacency). The probe phrase is derived deterministically as a
    distributed top-1 trigram (TakeOrderedAndProject with full
    (count, w1, w2, w3) tiebreak), broadcast into three postings
    filters; each adjacency step is a keyed equi-join on
    (doc_id, pos) — at 10^12 documents the postings are
    hash-partitioned by term (the filter step) then by doc_id (the
    adjacency steps), both standard co-partitioned index layouts,
    and intermediate matches shrink monotonically (w1-postings >=
    w1w2-matches >= w1w2w3-matches). All-integer output: doc_id,
    occurrence count, first position — no float gate anywhere.
    """
    arr = F.split(F.lower("text"), " ")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select("doc_id", arr.alias("arr"), F.size(arr).alias("n"))
    tg = (
        t.where(F.col("n") >= 3)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - 2),
                    lambda i: F.struct(
                        F.element_at("arr", i).alias("w1"),
                        F.element_at("arr", i + 1).alias("w2"),
                        F.element_at("arr", i + 2).alias("w3"),
                    ),
                )
            ).alias("g")
        )
        .groupBy("g.w1", "g.w2", "g.w3")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ph = tg.orderBy(F.col("c").desc(), "w1", "w2", "w3").limit(1).drop("c")
    pos = t.select(
        "doc_id", F.posexplode("arr").alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    p1 = pos.join(
        F.broadcast(ph.select(F.col("w1").alias("term"))), "term"
    ).select("doc_id", "pos")
    p2 = pos.join(
        F.broadcast(ph.select(F.col("w2").alias("term"))), "term"
    ).select(F.col("doc_id").alias("d2"), F.col("pos").alias("pos2"))
    p3 = pos.join(
        F.broadcast(ph.select(F.col("w3").alias("term"))), "term"
    ).select(F.col("doc_id").alias("d3"), F.col("pos").alias("pos3"))
    occ = p1.join(
        p2,
        (F.col("doc_id") == F.col("d2")) & (F.col("pos2") == F.col("pos") + 1),
    ).join(
        p3,
        (F.col("doc_id") == F.col("d3")) & (F.col("pos3") == F.col("pos") + 2),
    )
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.min("pos").cast("int").alias("first_pos"),
        )
        .crossJoin(F.broadcast(ph))
        .select(
            "doc_id",
            F.concat_ws(" ", "w1", "w2", "w3").alias("phrase"),
            "n_occurrences",
            "first_pos",
        )
    )


# --------------------------------------------------------------------------
# Dirichlet-smoothed query likelihood (the probabilistic-IR twin of BM25)
# --------------------------------------------------------------------------

_QL_MU = 50.0


@register(
    "text_query_likelihood",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(unnest(string_split(text, ' '))) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS ct FROM toks),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    q AS (
      SELECT term FROM (
        SELECT term, df,
          row_number() OVER (ORDER BY df DESC, term) AS rk
        FROM df
      ) r WHERE rk BETWEEN {_BM25_RANK_LO} AND {_BM25_RANK_HI}
    ),
    ctf AS (SELECT term, CAST(count(*) AS DOUBLE) AS ctf FROM toks GROUP BY term),
    pairs AS (SELECT d.doc_id, d.dl, q.term FROM dl d CROSS JOIN q),
    scored AS (
      SELECT p.doc_id,
        CASE WHEN tf.tf IS NOT NULL THEN 1 ELSE 0 END AS present,
        -log2((coalesce(tf.tf, 0) + {_QL_MU} * c.ctf / t.ct)
              / (p.dl + {_QL_MU})) AS bits
      FROM pairs p
      LEFT JOIN tf ON tf.doc_id = p.doc_id AND tf.term = p.term
      JOIN ctf c ON c.term = p.term
      CROSS JOIN tot t
    )
    SELECT doc_id, CAST(sum(present) AS INTEGER) AS n_terms_present,
      round(sum(bits), 6) AS ql_bits
    FROM scored GROUP BY doc_id
    """,
)
def text_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval score (Zhai &
    Lafferty, SIGIR 2001; mu = {mu}) for the same mid-frequency
    probe band as text_bm25 — the probabilistic language-model
    scorer next to BM25's heuristic one (the two families every
    production IR stack ships, cf. Lucene's BM25Similarity /
    LMDirichletSimilarity): p(t|d) = (tf + mu * p(t|C)) / (dl + mu),
    score = sum of -log2 p over the query terms. Structurally UNLIKE
    BM25, smoothing scores EVERY document against every query term —
    a zero-tf doc still pays the collection-model cost — so the scan
    is dl CROSS JOIN the 5-term broadcast band with a LEFT join onto
    the (doc, term) tf table: the cross join is bounded by the query
    length (never doc x doc), and all model state (collection term
    frequencies, total token count) is one dictionary agg + one
    broadcast scalar. n_terms_present pins the present/smoothed
    split so the oracle cannot agree by cancellation.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tot = toks.agg(F.count(F.lit(1)).cast("double").alias("ct"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    top = df_.orderBy(F.col("df").desc(), "term").limit(_BM25_RANK_HI)
    head = df_.orderBy(F.col("df").desc(), "term").limit(_BM25_RANK_LO - 1)
    q = top.join(head.select("term"), "term", "left_anti").select("term")
    ctf = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("ctf")
    )
    pairs = dl.crossJoin(F.broadcast(q))
    p_td = (
        F.coalesce(F.col("tf"), F.lit(0)) + F.lit(_QL_MU) * F.col("ctf") / F.col("ct")
    ) / (F.col("dl") + F.lit(_QL_MU))
    scored = (
        pairs.join(tf, ["doc_id", "term"], "left")
        .join(ctf, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.when(F.col("tf").isNotNull(), 1).otherwise(0).alias("present"),
            (-F.log2(p_td)).alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("present").cast("int").alias("n_terms_present"),
        F.round(F.sum("bits"), 6).alias("ql_bits"),
    )


text_query_likelihood.__doc__ = text_query_likelihood.__doc__.format(mu=_QL_MU)


# --------------------------------------------------------------------------
# RM3 pseudo-relevance feedback: expansion terms from the top-k QL docs
# --------------------------------------------------------------------------

_RM3_DOCS = 10
_RM3_TERMS = 15


@register(
    "text_rm3_expansion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(unnest(string_split(text, ' '))) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS ct FROM toks),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    q AS (
      SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY df DESC, term) AS rk
        FROM df
      ) r WHERE rk BETWEEN {_BM25_RANK_LO} AND {_BM25_RANK_HI}
    ),
    ctf AS (SELECT term, CAST(count(*) AS DOUBLE) AS ctf FROM toks GROUP BY term),
    pairs AS (SELECT d.doc_id, d.dl, q.term FROM dl d CROSS JOIN q),
    ql AS (
      SELECT p.doc_id, min(p.dl) AS dl,
        sum(-log2((coalesce(tf.tf, 0) + {_QL_MU} * c.ctf / t.ct)
                  / (p.dl + {_QL_MU}))) AS bits
      FROM pairs p
      LEFT JOIN tf ON tf.doc_id = p.doc_id AND tf.term = p.term
      JOIN ctf c ON c.term = p.term
      CROSS JOIN tot t
      GROUP BY p.doc_id
    ),
    top_docs AS (
      SELECT doc_id, dl, power(2.0, -bits) AS p_q FROM (
        SELECT doc_id, dl, bits,
          row_number() OVER (ORDER BY round(bits, 6), doc_id) AS rk
        FROM ql
      ) r WHERE rk <= {_RM3_DOCS}
    ),
    contrib AS (
      SELECT tf.term,
        ((tf.tf + {_QL_MU} * c.ctf / t.ct) / (d.dl + {_QL_MU})) * d.p_q AS w
      FROM top_docs d
      JOIN tf ON tf.doc_id = d.doc_id
      JOIN ctf c ON c.term = tf.term
      CROSS JOIN tot t
      WHERE tf.term NOT IN (SELECT term FROM q)
    ),
    norm AS (SELECT sum(w) AS z FROM contrib),
    rm AS (
      SELECT c.term, round(sum(c.w) / n.z, 9) AS w9,
        round(sum(c.w) / n.z, 6) AS rm_weight,
        count(*) AS n_top_docs
      FROM contrib c CROSS JOIN norm n GROUP BY c.term, n.z
    )
    SELECT term, rm_weight, CAST(n_top_docs AS INTEGER) AS n_top_docs
    FROM (
      SELECT term, rm_weight, n_top_docs,
        row_number() OVER (ORDER BY w9 DESC, term) AS rk
      FROM rm
    ) r WHERE rk <= {_RM3_TERMS}
    """,
)
def text_rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance feedback (Lavrenko & Croft 2001; the
    Anserini/Galago default expansion): score the corpus with the
    Dirichlet query-likelihood model for the probe band, take the
    top-{k} feedback docs, and weight every term they contain by the
    relevance model p(w|R) = sum over feedback docs of
    p(w|d) * p(q|d) — completing the IR stack's third stage
    (index -> BM25/QL scoring -> feedback expansion). Query terms
    are excluded (RM3's interpolation re-adds them; the expansion
    set is what retrieval infrastructure materializes), and p(w|R)
    is normalized over the candidate set — the distribution RM3
    interpolates, scale-invariant in corpus size. Scale shape:
    the ONLY corpus-sized stages are the same dictionary aggs QL
    uses; everything after the top-k cut touches {k} docs' postings
    — the feedback join is (10-doc tf) x dictionaries, all keyed
    hash joins, and the top-k cuts are distributed
    TakeOrderedAndProject, never global rank windows. Exact-tie
    regime: distinct terms occurring once in the same feedback doc
    have IDENTICAL real-arithmetic weights, so top-{m} selection
    orders by the ROUNDED weight (9 dp guard digit) with the term as
    tiebreak — deterministic on both engines.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tot = toks.agg(F.count(F.lit(1)).cast("double").alias("ct"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    top = df_.orderBy(F.col("df").desc(), "term").limit(_BM25_RANK_HI)
    head = df_.orderBy(F.col("df").desc(), "term").limit(_BM25_RANK_LO - 1)
    q = top.join(head.select("term"), "term", "left_anti").select("term")
    ctf = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("ctf")
    )
    p_td = (
        F.coalesce(F.col("tf"), F.lit(0)) + F.lit(_QL_MU) * F.col("ctf") / F.col("ct")
    ) / (F.col("dl") + F.lit(_QL_MU))
    ql = (
        dl.crossJoin(F.broadcast(q))
        .join(tf, ["doc_id", "term"], "left")
        .join(ctf, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.min("dl").alias("dl"),
            F.sum(-F.log2(p_td)).alias("bits"),
        )
    )
    top_docs = (
        ql.orderBy(F.round(F.col("bits"), 6), "doc_id")
        .limit(_RM3_DOCS)
        .select("doc_id", "dl", F.pow(F.lit(2.0), -F.col("bits")).alias("p_q"))
    )
    contrib = (
        F.broadcast(top_docs)
        .join(tf, "doc_id")
        .join(tf.select(F.col("term")).join(q, "term", "left_semi"),
              "term", "left_anti")
        .join(ctf, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            (
                (F.col("tf") + F.lit(_QL_MU) * F.col("ctf") / F.col("ct"))
                / (F.col("dl") + F.lit(_QL_MU))
                * F.col("p_q")
            ).alias("w"),
        )
    )
    norm = contrib.agg(F.sum("w").alias("z"))
    rm = (
        contrib.groupBy("term")
        .agg(
            F.sum("w").alias("sw"),
            F.count(F.lit(1)).cast("int").alias("n_top_docs"),
        )
        .crossJoin(F.broadcast(norm))
        .select(
            "term",
            F.round(F.col("sw") / F.col("z"), 9).alias("w9"),
            F.round(F.col("sw") / F.col("z"), 6).alias("rm_weight"),
            "n_top_docs",
        )
    )
    return (
        rm.orderBy(F.col("w9").desc(), "term")
        .limit(_RM3_TERMS)
        .select("term", "rm_weight", "n_top_docs")
    )


text_rm3_expansion.__doc__ = text_rm3_expansion.__doc__.format(
    k=_RM3_DOCS, m=_RM3_TERMS
)


# --------------------------------------------------------------------------
# Modularity of the LPA partition (the community-quality score)
# --------------------------------------------------------------------------


def _modularity_oracle_sql(iters: int) -> str:
    parts = _lpa_parts(iters)
    return (
        "WITH " + ",\n".join(parts)
        + f""",
    lab AS MATERIALIZED (SELECT node, label FROM l{iters}),
    m2 AS (SELECT CAST(count(*) AS DOUBLE) AS m2 FROM und),
    deg AS (SELECT src AS node, count(*) AS degree FROM und GROUP BY src),
    internal AS (
      SELECT la.label AS community, count(*) AS in_pairs
      FROM und e
      JOIN lab la ON e.src = la.node
      JOIN lab lb ON e.dst = lb.node
      WHERE la.label = lb.label GROUP BY la.label
    ),
    cdeg AS (
      SELECT l.label AS community, count(*) AS n_hosts,
        sum(d.degree) AS deg_sum
      FROM lab l JOIN deg d ON l.node = d.node GROUP BY l.label
    )
    SELECT c.community, CAST(c.n_hosts AS BIGINT) AS n_hosts,
      CAST(coalesce(i.in_pairs, 0) / 2 AS BIGINT) AS internal_edges,
      CAST(c.deg_sum AS BIGINT) AS deg_sum,
      round(coalesce(i.in_pairs, 0) / t.m2
            - (c.deg_sum / t.m2) * (c.deg_sum / t.m2), 6) AS q_contrib
    FROM cdeg c
    LEFT JOIN internal i ON c.community = i.community
    CROSS JOIN m2 t"""
    )


@register("web_modularity", oracle=_modularity_oracle_sql(_LPA_ITERS))
def web_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition, per community:
    q_contrib = in_c/2m - (deg_c/2m)^2, summing to the partition's Q
    — the acceptance metric for web_communities (Q near 0 means the
    "communities" are no better than a random degree-preserving
    rewiring; link-farm detection that ships unscored partitions
    ships noise). Exactly the same synchronized 4-round LPA labels
    (oracle shares the unrolled CTE chain byte-for-byte via
    _lpa_parts), then three label-keyed aggregates: per-node degree,
    per-community internal directed pairs (edge stream joined to the
    broadcast host→label map on BOTH endpoints — one pass), and
    per-community degree mass; 2m is a broadcast 1-row scalar. At
    10^9 hosts the label map outgrows a broadcast and the endpoint
    joins shuffle on node — still two keyed joins, never quadratic.
    """
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
        label_propagation,
    )

    g = host_graph(href_edges(pages_from_documents(spark, sf_dir))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    e = g.where(F.col("src") != F.col("dst"))
    und = (
        e.select("src", "dst")
        .union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    labels = label_propagation(g, iters=_LPA_ITERS)
    m2 = und.agg(F.count(F.lit(1)).cast("double").alias("m2"))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    lab = F.broadcast(labels)
    internal = (
        und.join(lab.select(F.col("node").alias("src"), F.col("label").alias("la")), "src")
        .join(lab.select(F.col("node").alias("dst"), F.col("label").alias("lb")), "dst")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count(F.lit(1)).alias("in_pairs"))
    )
    cdeg = (
        labels.join(deg, labels["node"] == deg["src"])
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_hosts"),
            F.sum("degree").alias("deg_sum"),
        )
    )
    return (
        cdeg.join(internal, "community", "left")
        .crossJoin(F.broadcast(m2))
        .select(
            "community",
            "n_hosts",
            (F.coalesce(F.col("in_pairs"), F.lit(0)) / 2)
            .cast("long")
            .alias("internal_edges"),
            F.col("deg_sum").cast("long").alias("deg_sum"),
            F.round(
                F.coalesce(F.col("in_pairs"), F.lit(0)) / F.col("m2")
                - (F.col("deg_sum") / F.col("m2"))
                * (F.col("deg_sum") / F.col("m2")),
                6,
            ).alias("q_contrib"),
        )
    )


# --------------------------------------------------------------------------
# Semi-supervised label propagation over the co-mention graph
# --------------------------------------------------------------------------

_LP_ROUNDS = 3


def _label_prop_sql() -> str:
    def seed_pred(n: str) -> str:
        return f"{md5_long_sql(n)} % 4 = 0"

    def seed_label(n: str) -> str:
        tagged = n + " || '#lbl'"
        return f"'L' || CAST({md5_long_sql(tagged)} % 3 AS VARCHAR)"
    parts = [
        f"pairs AS ({COMENTION_PAIRS_SQL})",
        "e0 AS (SELECT DISTINCT subj AS a, obj AS b FROM pairs)",
        "edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0)",
        "nodes AS (SELECT DISTINCT a AS node FROM edges)",
        f"""l0 AS (
      SELECT node, {seed_label('node')} AS label
      FROM nodes WHERE {seed_pred('node')}
    )""",
    ]
    for r in range(1, _LP_ROUNDS + 1):
        parts.append(f"""
    l{r} AS MATERIALIZED (
      SELECT node, label FROM l0
      UNION ALL
      SELECT node, label FROM (
        SELECT e.b AS node, l.label,
          row_number() OVER (PARTITION BY e.b
            ORDER BY count(*) DESC, l.label ASC) AS rn
        FROM l{r - 1} l JOIN edges e ON e.a = l.node
        WHERE NOT ({seed_pred('e.b')})
        GROUP BY e.b, l.label
      ) WHERE rn = 1
    )""")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT node AS entity, label, ({seed_pred('node')}) AS is_seed
    FROM l{_LP_ROUNDS}"""
    )


@register("kg_label_propagation", oracle=_label_prop_sql())
def kg_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the co-mention graph —
    typed SEED entities (md5-selected, 3 synthetic type labels)
    spread their labels to untyped neighbors by synchronous majority
    vote for {rounds} rounds: the entity-type induction step a KG
    runs when a curated core vocabulary must type the long tail of
    mined entities (the reference's analog is its typed seed
    vocabularies anchoring the resolution cascade). UNSUPERVISED LPA
    (web_communities) invents cluster ids; this is its supervised
    twin — labels are fixed at the seeds and only FLOW.

    Determinism: synchronous rounds, majority ties broken by
    lexicographically smallest label (count DESC, label ASC), seeds
    immutable, a labeled node never unlabels (its labeled neighbor
    persists, so it re-wins a majority every round). Scale shape:
    per round ONE frontier equi-join (labels x edges) + a keyed
    count agg + a per-node argmax window PARTITIONED by node —
    no global sort; the label state is entity-dictionary-sized and
    localCheckpoint()ed per round (the union references it twice).
    Nodes unreachable from any seed within {rounds} hops are
    excluded by contract."""
    from multiomics_biocypher_kg_spark.operators.graphstats import (
        comention_pairs,
    )
    from pyspark.sql import Window

    p = _pipeline(spark, sf_dir)
    pairs = comention_pairs(p["links"]).select("subj", "obj").distinct()
    edges = (
        pairs.select(F.col("subj").alias("a"), F.col("obj").alias("b"))
        .union(pairs.select(F.col("obj").alias("a"), F.col("subj").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = edges.select(F.col("a").alias("node")).distinct()
    is_seed = md5_long(F.col("node")) % 4 == 0
    seed_label = F.concat(
        F.lit("L"),
        (md5_long(F.concat(F.col("node"), F.lit("#lbl"))) % 3).cast("string"),
    )
    seeds = nodes.where(is_seed).select("node", seed_label.alias("label"))
    seeds = seeds.localCheckpoint(eager=False)
    lab = seeds
    w = Window.partitionBy("node").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    for _ in range(_LP_ROUNDS):
        cand = (
            lab.join(edges, lab["node"] == edges["a"])
            .where(~(md5_long(F.col("b")) % 4 == 0))
            .groupBy(F.col("b").alias("node2"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("node2").alias("node"), "label", "n")
        )
        upd = (
            cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "label")
        )
        lab = seeds.unionByName(upd).localCheckpoint(eager=True)
    return lab.select(
        F.col("node").alias("entity"),
        "label",
        (md5_long(F.col("node")) % 4 == 0).alias("is_seed"),
    )


kg_label_propagation.__doc__ = kg_label_propagation.__doc__.format(
    rounds=_LP_ROUNDS
)


@register(
    "web_politeness_schedule",
    oracle=f"""
    WITH snaps AS ({_SNAPS_SQL}),
    per_url AS (
      SELECT url, host, max(ts_epoch) AS last_ts
      FROM snaps GROUP BY 1, 2
    ),
    tot AS (SELECT max(ts_epoch) AS now_ts FROM snaps),
    ranked AS (
      SELECT p.url, p.host,
        CAST(tot.now_ts - p.last_ts AS BIGINT) AS staleness_sec,
        CAST(5 + {md5_long_sql('p.host')} % 6 AS INTEGER) AS crawl_delay_s,
        CAST(row_number() OVER (PARTITION BY p.host
          ORDER BY tot.now_ts - p.last_ts DESC, p.url ASC) AS INTEGER)
          AS rank_in_host
      FROM per_url p CROSS JOIN tot
    )
    SELECT url, host, staleness_sec, crawl_delay_s, rank_in_host,
      CAST((rank_in_host - 1) * crawl_delay_s AS BIGINT) AS fetch_offset_s
    FROM ranked
    """,
)
def web_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness scheduling: order each host's frontier by
    staleness (oldest snapshot first) and space fetches by the
    host's crawl delay — the fetch-time assignment a polite crawler
    makes AFTER web_crawl_schedule decides what matters and
    web_robots_gate decides what is allowed (delay = 5 + md5(host)%6
    seconds, the robots.txt Crawl-delay stand-in in this
    network-free sandbox; swap in parsed values without touching the
    plan). fetch_offset_s = (rank-1) * delay is the earliest start
    honoring one-request-per-delay per host.

    Scale shape: one per-url max agg, a broadcast 1-row corpus max,
    and the rank window PARTITIONED BY HOST — a host's frontier fits
    a partition by the same argument the whole crawl is partitioned
    by host; there is no global ordering anywhere (hosts are
    embarrassingly parallel, exactly like the real fetcher fleet)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    fam = F.col("doc_id") % 125
    host = F.when(fam % 10 < 3, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("h"), (fam % 50).cast("string"), F.lit(".example.org"))
    )
    snaps = docs.select(
        F.concat(
            F.lit("https://"), host, F.lit("/doc/"),
            F.lpad(fam.cast("string"), 6, "0"),
        ).alias("url"),
        host.alias("host"),
        (F.lit(1767225600) + F.col("doc_id")).cast("long").alias("ts_epoch"),
    )
    per_url = snaps.groupBy("url", "host").agg(
        F.max("ts_epoch").alias("last_ts")
    )
    tot = snaps.agg(F.max("ts_epoch").alias("now_ts"))
    from pyspark.sql import Window

    ranked = per_url.crossJoin(F.broadcast(tot)).select(
        "url", "host",
        (F.col("now_ts") - F.col("last_ts")).cast("long").alias("staleness_sec"),
        (F.lit(5) + md5_long(F.col("host")) % 6).cast("int").alias("crawl_delay_s"),
    )
    w = Window.partitionBy("host").orderBy(
        F.col("staleness_sec").desc(), F.col("url").asc()
    )
    return ranked.withColumn(
        "rank_in_host", F.row_number().over(w).cast("int")
    ).withColumn(
        "fetch_offset_s",
        ((F.col("rank_in_host") - 1) * F.col("crawl_delay_s")).cast("long"),
    )


@register(
    "web_surt_index",
    oracle=f"""
    WITH snaps AS (
      SELECT s.url, s.host, s.ts_epoch, s.fam, s.doc_id, md5(d.text) AS digest
      FROM ({_SNAPS_SQL}) s JOIN documents d ON s.doc_id = d.doc_id
    ),
    keyed AS (
      SELECT
        array_to_string(list_reverse(string_split(host, '.')), ',')
          || ')/doc/' || lpad(CAST(fam AS VARCHAR), 6, '0') AS surt,
        CAST(ts_epoch AS BIGINT) AS ts_epoch, digest,
        row_number() OVER (PARTITION BY
          array_to_string(list_reverse(string_split(host, '.')), ','),
          fam, digest ORDER BY ts_epoch ASC, doc_id ASC) AS rn
      FROM snaps
    )
    SELECT surt, ts_epoch, digest, rn > 1 AS is_revisit FROM keyed
    """,
)
def web_surt_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-style capture index over the snapshot history: SURT keys
    (Sort-friendly URI Reordering Transform — host labels reversed
    and comma-joined, 'org,example,h43)/doc/000443') + content
    digest + the revisit flag (a capture whose digest matches an
    earlier capture of the same URL is stored as a 'revisit record'
    pointing at the original payload — the dedup mechanic of every
    web archive's WARC/CDX pair, and of Common Crawl's index).
    SURT's point IS scale: byte-sorting SURT keys co-locates a
    domain's captures (org,example,*), so per-domain reads are range
    scans.

    Scale shape: key + digest computed in the scan projection; the
    revisit flag is a row_number window PARTITIONED by (url, digest)
    — capture-history-per-url sized partitions, never global. A
    real CDX SINK additionally range-partitions by SURT before
    writing (a one-off sort the INDEX build pays so every later read
    doesn't); the index rows themselves are order-free."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    fam = F.col("doc_id") % 125
    host = F.when(fam % 10 < 3, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("h"), (fam % 50).cast("string"), F.lit(".example.org"))
    )
    surt = F.concat(
        F.array_join(F.reverse(F.split(host, "\\.")), ","),
        F.lit(")/doc/"),
        F.lpad(fam.cast("string"), 6, "0"),
    )
    snaps = docs.select(
        surt.alias("surt"),
        (F.lit(1767225600) + F.col("doc_id")).cast("long").alias("ts_epoch"),
        F.md5("text").alias("digest"),
        F.col("doc_id"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("surt", "digest").orderBy(
        F.col("ts_epoch").asc(), F.col("doc_id").asc()
    )
    return snaps.select(
        "surt", "ts_epoch", "digest",
        (F.row_number().over(w) > 1).alias("is_revisit"),
    )


# --------------------------------------------------------------------------
# k-truss peeling (triangle-support analog of the k-core)
# --------------------------------------------------------------------------

_KTRUSS_K = 8
_KTRUSS_ROUNDS = 2


def _ktruss_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled fixed-round k-truss peeling as MATERIALIZED CTEs —
    mirrors operators.linkgraph.ktruss: per round, per-edge triangle
    support via the wedge join, drop edges with support < k-2."""
    parts = [
        _UND_HOST_SQL.replace("und AS", "u0 AS"),
        "c0 AS MATERIALIZED (SELECT src, dst FROM u0 WHERE src < dst)",
    ]

    def sup(r: int, src_cte: str) -> str:
        return (
            f"n{r} AS MATERIALIZED (SELECT src, dst FROM {src_cte} "
            f"UNION ALL SELECT dst, src FROM {src_cte}), "
            f"s{r} AS MATERIALIZED (SELECT c.src, c.dst, count(*) AS support "
            f"FROM {src_cte} c JOIN n{r} a ON a.src = c.src "
            f"JOIN n{r} b ON b.src = c.dst AND b.dst = a.dst "
            f"GROUP BY c.src, c.dst)"
        )

    for r in range(1, rounds + 1):
        parts += [
            sup(r, f"c{r - 1}"),
            (
                f"c{r} AS MATERIALIZED (SELECT src, dst FROM s{r} "
                f"WHERE support >= {k - 2})"
            ),
        ]
    parts.append(sup(rounds + 1, f"c{rounds}"))
    return (
        "WITH " + ",\n".join(parts)
        + f"""
    SELECT c.src, c.dst,
      CAST(coalesce(s.support, 0) AS BIGINT) AS support
    FROM c{rounds} c
    LEFT JOIN s{rounds + 1} s ON c.src = s.src AND c.dst = s.dst"""
    )


@register("web_ktruss", oracle=_ktruss_oracle_sql(_KTRUSS_K, _KTRUSS_ROUNDS))
def web_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss peeling of the host graph (k={k}, {rounds} bounded
    peel rounds — operators.linkgraph.ktruss): iteratively drop
    edges in fewer than k-2 triangles, then report survivors with
    their support inside the surviving subgraph. The triangle-grade
    strengthening of web_kcore: degree can be inflated by star-shaped
    link spam without closing a single triangle, but truss membership
    requires COHESION — so kcore-minus-ktruss hosts are exactly the
    "popular but not embedded" spam candidates. On this corpus the
    k={k} peel genuinely cascades (206 -> 181 -> 176 edges), so the
    round-over-round edge filtering is exercised; the BOUNDED round
    count keeps both engines byte-identical mid-cascade (the
    determinism trade of the whole iterative family). Per round: one
    wedge equi-join (keyed; wedges only, never pairwise) + one
    map-side-combined per-edge count, on a monotonically shrinking
    checkpointed edge set."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
        ktruss,
    )

    g = host_graph(href_edges(pages_from_documents(spark, sf_dir))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return ktruss(g, k=_KTRUSS_K, rounds=_KTRUSS_ROUNDS)


web_ktruss.__doc__ = web_ktruss.__doc__.format(k=_KTRUSS_K, rounds=_KTRUSS_ROUNDS)


# --------------------------------------------------------------------------
# PageRank convergence trace (the fixed-horizon family's audit)
# --------------------------------------------------------------------------


@register(
    "web_pagerank_delta_trace",
    oracle=_pagerank_trace_sql(_PR_ITERS, _PR_DAMPING),
)
def web_pagerank_delta_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-iteration convergence trace of web_pagerank's fixed
    5-iteration loop: L1 and max |rank delta| between consecutive
    iterations — the audit every fixed-horizon iterative operator in
    this repo owes its consumers (PageRank/HITS/TrustRank/LPA/SSSP
    all trade the fixpoint for a BOUNDED round count so both engines
    stay byte-identical; this measures what the bound leaves on the
    table: a geometric decay at rate ~damping certifies the horizon,
    a flat tail says to raise it). Identical update rule, dangling
    handling, and checkpoint discipline as web_pagerank
    (operators.linkgraph.pagerank_trace); the trace adds one keyed
    join on the rank STATE + a 1-row agg per iteration — never a new
    corpus pass. Output: {iters} rows."""
    from multiomics_biocypher_kg_spark.operators.linkgraph import (
        host_graph,
        href_edges,
        pagerank_trace,
    )

    pages = pages_from_documents(spark, sf_dir)
    hg = host_graph(href_edges(pages)).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    tr = pagerank_trace(hg, iters=_PR_ITERS, damping=_PR_DAMPING)
    return tr.select(
        F.col("iter").cast("int").alias("iter"),
        F.round("l1", 6).alias("l1_delta"),
        F.round("mx", 6).alias("max_delta"),
    )


web_pagerank_delta_trace.__doc__ = web_pagerank_delta_trace.__doc__.format(
    iters=_PR_ITERS
)


# --------------------------------------------------------------------------
# Host-language consistency (misrouted-content / langid-error finder)
# --------------------------------------------------------------------------


@register(
    "web_lang_consistency",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
        CASE WHEN doc_id % 10 < 3 THEN 'hot.example.com'
          ELSE 'h' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' END
          AS host
      FROM documents
    ),
    hl AS (SELECT host, lang, count(*) AS c FROM d GROUP BY 1, 2),
    mode_l AS (
      SELECT host, lang AS major_lang, c AS major_count FROM (
        SELECT *, row_number() OVER (PARTITION BY host
          ORDER BY c DESC, lang ASC) AS rn
        FROM hl
      ) r WHERE rn = 1
    ),
    hn AS (SELECT host, sum(c) AS n_docs FROM hl GROUP BY host)
    SELECT d.doc_id, d.host, d.lang, m.major_lang,
      round(CAST(m.major_count AS DOUBLE) / h.n_docs, 6) AS host_purity,
      d.lang <> m.major_lang AS is_outlier
    FROM d
    JOIN mode_l m ON d.host = m.host
    JOIN hn h ON d.host = h.host
    """,
)
def web_lang_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-language consistency: each document's language against
    its host's MAJORITY language (mode, count-desc/lang-asc pinned
    tiebreak) plus the host's purity — the misrouted-content finder
    (a zh page on an otherwise-en host is usually a langid error,
    boilerplate-dominated extraction, or spam injection; CCNet-style
    pipelines route BY document lang, so these outliers are exactly
    the docs that land in the wrong training bucket). Low-purity
    hosts are genuinely multilingual and their "outliers" are fine
    — the two columns together separate the cases.

    Scale shape: host derives in the scan projection; the (host,
    lang) dictionary aggregates once (map-side combined); the mode
    window partitions BY HOST over <= |langs| rows; per-doc verdicts
    are one broadcast dictionary join back onto the corpus —
    host-dictionary-sized state, corpus touched twice (count + join),
    never sorted."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    host = F.when(F.col("doc_id") % 10 < 3, F.lit("hot.example.com")).otherwise(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 50).cast("string"), F.lit(".example.org")
        )
    )
    from pyspark.sql import Window

    d = docs.select("doc_id", "lang", host.alias("host"))
    hl = d.groupBy("host", "lang").agg(F.count(F.lit(1)).alias("c"))
    hl = hl.localCheckpoint(eager=False)  # two consumers: mode + totals
    w = Window.partitionBy("host").orderBy(F.col("c").desc(), F.col("lang").asc())
    mode_l = (
        hl.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "host",
            F.col("lang").alias("major_lang"),
            F.col("c").alias("major_count"),
        )
    )
    hn = hl.groupBy("host").agg(F.sum("c").alias("n_docs"))
    dim = mode_l.join(hn, "host")
    return d.join(F.broadcast(dim), "host").select(
        "doc_id",
        "host",
        "lang",
        "major_lang",
        F.round(
            F.col("major_count").cast("double") / F.col("n_docs"), 6
        ).alias("host_purity"),
        (F.col("lang") != F.col("major_lang")).alias("is_outlier"),
    )
