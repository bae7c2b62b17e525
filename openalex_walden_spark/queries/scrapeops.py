"""Scrape/parse orchestration data planes (reference ``notebooks/scraping/``
and ``notebooks/parsing/``).

The reference's taxicab / parseland / grobid jobs are thin HTTP fan-out
loops (driver-side ThreadPools against ECS services) wrapped around real
relational data planes: candidate selection, reparse-queue resolution and
retry bookkeeping.  The HTTP layer is the documented network seam (same
class as the reference's GPU model call in ``topics_inference.ipynb``,
whose fixture stand-in ``domain2.s8_model_inference`` scores in the
plan); what this module ports is everything Spark actually plans:

* ``scraping/taxicab.ipynb`` cell 8 — the three-source candidate union
  (crossref first-DOI-url HOF pick, repo url-slice explode with endpoint
  gating, landing-page first-pdf-url pick with the PMH>DOI>original
  native-id re-key) behind LAYERED anti-joins: own successful fetches,
  authoritative content holdings, then the all-attempts URL anti-join
  after the DOI-prefix strip.

* ``scraping/parseland.ipynb`` cell 8 (reparse mode) — per queued record
  resolve the HTML to parse from EITHER a fresh taxicab scrape (exact-key
  latest-capture window) OR the stored backfill html.gz (normalized-DOI
  bridge, then the pmh id-to-id bridge), PREFERRING the fresh scrape; the
  backfill arms pre-prune with a semi-join on the queue's keys before any
  window so the full backfill never shuffles; the fallback URL is
  synthesized as ``https://doi.org/...`` so a bare DOI can never collide
  with the crossref native_id (the reference's oxjob-401 guard).

* ``parsing/parse_pdfs.ipynb`` cell 0 + 8 — the retry-seed composition:
  S3-miss failures that never later succeeded seed the reparse queue,
  which joins back to pdf-typed taxicab rows for the grobid batch.

Where the reference windows order by ``created_date`` alone (ties broken
by partition luck), this port adds the id as an explicit tiebreak so both
engines pick the same capture deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openalex_walden_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Taxicab candidate selection (scraping/taxicab.ipynb cell 8, batch mode)
# ---------------------------------------------------------------------------
# Source fixtures (deterministic, mod-keyed):
#   crossref <- orders   : urls array holds a doi.org entry (sometimes after
#                          an off-domain one, so the HOF filter must pick by
#                          content, not position); native_id occasionally
#                          arrives AS a doi.org URL (the strip rule's prey).
#   repo     <- lineitem : up to 4 urls, sliced to 3 then exploded, doi.org
#                          entries dropped; endpoint exclude list applied.
#   pdf      <- part     : first content_type='pdf' url; ids array may carry
#                          pmh and/or doi ids -> PMH>DOI>original re-key.
# Prior-state fixtures: own successful pdf fetches, content holdings, and
# the all-attempts url set — each a deterministic mod subset.

_TAXI_ORACLE = """
WITH crossref AS (
  SELECT CASE WHEN o_orderkey % 11 = 0
              THEN concat('https://doi.org/10.1/', CAST(o_orderkey AS VARCHAR))
              ELSE concat('10.1/', CAST(o_orderkey AS VARCHAR)) END AS native_id,
         'doi' AS native_id_namespace,
         list_filter(
           CASE WHEN o_orderkey % 5 = 0
                THEN [{'url': concat('https://ex.com/a', CAST(o_orderkey AS VARCHAR)), 'content_type': 'html'},
                      {'url': concat('https://doi.org/10.1/', CAST(o_orderkey AS VARCHAR)), 'content_type': 'html'}]
                ELSE [{'url': concat('https://doi.org/10.1/', CAST(o_orderkey AS VARCHAR)), 'content_type': 'html'}]
           END, x -> x.url LIKE '%doi.org%')[1].url AS url
  FROM orders WHERE o_orderdate >= DATE '1997-06-01'
),
repo_exploded AS (
  SELECT concat('oai:r:', CAST(l_orderkey AS VARCHAR)) AS native_id,
         'pmh' AS native_id_namespace,
         u.url AS url
  FROM (
    SELECT l_orderkey, l_suppkey,
           [{'url': concat('https://doi.org/10.8/', CAST(l_orderkey AS VARCHAR)), 'content_type': 'html'},
            {'url': concat('https://repo.x/', CAST(l_orderkey AS VARCHAR)), 'content_type': 'html'},
            {'url': concat('https://mirror.x/', CAST(l_orderkey AS VARCHAR)), 'content_type': 'html'},
            {'url': concat('https://extra.x/', CAST(l_orderkey AS VARCHAR)), 'content_type': 'html'}
           ][1:3] AS urls
    FROM lineitem
    WHERE l_shipdate >= DATE '1998-06-01' AND l_linenumber = 1
      AND l_suppkey % 7 NOT IN (5, 6)
  ) r, UNNEST(r.urls) AS t(u)
  WHERE u.url NOT LIKE '%doi.org%'
),
pdf_src AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 3 = 0 THEN concat('oai:p:', CAST(p_partkey AS VARCHAR))
              WHEN p_partkey % 3 = 1 THEN concat('10.2/', CAST(p_partkey AS VARCHAR))
              ELSE concat('P', CAST(p_partkey AS VARCHAR)) END AS native_id,
         CASE WHEN p_partkey % 3 = 0 THEN 'pmh'
              WHEN p_partkey % 3 = 1 THEN 'doi'
              ELSE 'landing' END AS native_id_namespace,
         list_filter(
           CASE WHEN p_partkey % 4 = 2
                THEN [{'url': concat('https://pub.x/h', CAST(p_partkey AS VARCHAR)), 'content_type': 'html'}]
                ELSE [{'url': concat('https://pub.x/h', CAST(p_partkey AS VARCHAR)), 'content_type': 'html'},
                      {'url': concat('https://cdn.x/p', CAST(p_partkey AS VARCHAR), '.pdf'), 'content_type': 'pdf'}]
           END, x -> x.content_type = 'pdf')[1].url AS url
  FROM part WHERE p_partkey % 2 = 0
),
pdf_works AS (
  SELECT native_id, native_id_namespace, url
  FROM pdf_src p
  WHERE url IS NOT NULL
    AND NOT EXISTS (  -- own successful pdf fetches
      SELECT 1 FROM part h
      WHERE h.p_partkey % 6 = 0
        AND CASE WHEN h.p_partkey % 3 = 0 THEN concat('oai:p:', CAST(h.p_partkey AS VARCHAR))
                 WHEN h.p_partkey % 3 = 1 THEN concat('10.2/', CAST(h.p_partkey AS VARCHAR))
                 ELSE concat('P', CAST(h.p_partkey AS VARCHAR)) END = p.native_id
        AND CASE WHEN h.p_partkey % 3 = 0 THEN 'pmh'
                 WHEN h.p_partkey % 3 = 1 THEN 'doi'
                 ELSE 'landing' END = p.native_id_namespace)
    AND NOT EXISTS (  -- authoritative content holdings
      SELECT 1 FROM part h
      WHERE h.p_partkey % 6 = 2
        AND CASE WHEN h.p_partkey % 3 = 0 THEN concat('oai:p:', CAST(h.p_partkey AS VARCHAR))
                 WHEN h.p_partkey % 3 = 1 THEN concat('10.2/', CAST(h.p_partkey AS VARCHAR))
                 ELSE concat('P', CAST(h.p_partkey AS VARCHAR)) END = p.native_id
        AND CASE WHEN h.p_partkey % 3 = 0 THEN 'pmh'
                 WHEN h.p_partkey % 3 = 1 THEN 'doi'
                 ELSE 'landing' END = p.native_id_namespace)
),
unioned AS (
  SELECT * FROM crossref WHERE url IS NOT NULL
  UNION ALL SELECT * FROM repo_exploded
  UNION ALL SELECT * FROM pdf_works
),
scraped AS (
  SELECT concat('https://doi.org/10.1/', CAST(o_orderkey AS VARCHAR)) AS url
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT concat('https://repo.x/', CAST(l_orderkey AS VARCHAR))
  FROM lineitem WHERE l_orderkey % 9 = 0 AND l_linenumber = 1
)
SELECT regexp_replace(native_id, '^https://doi\\.org/', '') AS native_id,
       native_id_namespace, url
FROM unioned u
WHERE NOT EXISTS (SELECT 1 FROM scraped s WHERE s.url = u.url)
ORDER BY url, native_id
"""


def _url_struct(url_expr: str) -> str:
    return f"named_struct('url', {url_expr}, 'content_type', 'html')"


@register(
    "scrape_candidate_select",
    oracle=_TAXI_ORACLE,
    tags=("scraping", "antijoin", "hof"),
    tables=("orders", "lineitem", "part"),
)
def scrape_candidate_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taxicab harvest candidates (scraping/taxicab.ipynb cell 8).

    Three sources with the reference's HOF url picks and the PMH>DOI>
    original native-id re-key, behind its layered anti-joins: a work whose
    PDF we already fetched (own 200+s3 rows) or already hold via ANY path
    (the holdings table) never re-enters the queue just because a reparse
    refreshed its created_date; finally, one attempt per URL ever, via the
    all-attempts anti-join after the DOI-prefix strip.  All anti-join
    builds are id-projections — at 100 TB the shuffles carry (id, ns) and
    url keys, never page bytes.
    """
    okey = F.col("o_orderkey").cast("string")
    crossref = (
        spark.table("orders")
        .filter(F.col("o_orderdate") >= F.lit("1997-06-01").cast("date"))
        .select(
            F.when(F.col("o_orderkey") % 11 == 0,
                   F.concat(F.lit("https://doi.org/10.1/"), okey))
             .otherwise(F.concat(F.lit("10.1/"), okey)).alias("native_id"),
            F.lit("doi").alias("native_id_namespace"),
            F.expr(
                "get(filter(CASE WHEN o_orderkey % 5 = 0 THEN array("
                + _url_struct("concat('https://ex.com/a', CAST(o_orderkey AS STRING))") + ", "
                + _url_struct("concat('https://doi.org/10.1/', CAST(o_orderkey AS STRING))")
                + ") ELSE array("
                + _url_struct("concat('https://doi.org/10.1/', CAST(o_orderkey AS STRING))")
                + ") END, x -> x.url LIKE '%doi.org%'), 0).url"
            ).alias("url"),
        )
    )

    repo = (
        spark.table("lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-06-01").cast("date"))
            & (F.col("l_linenumber") == 1)
            & ~(F.col("l_suppkey") % 7).isin(5, 6)
        )
        .select(
            F.concat(F.lit("oai:r:"), F.col("l_orderkey").cast("string")).alias("native_id"),
            F.lit("pmh").alias("native_id_namespace"),
            F.expr(
                "slice(array("
                + _url_struct("concat('https://doi.org/10.8/', CAST(l_orderkey AS STRING))") + ", "
                + _url_struct("concat('https://repo.x/', CAST(l_orderkey AS STRING))") + ", "
                + _url_struct("concat('https://mirror.x/', CAST(l_orderkey AS STRING))") + ", "
                + _url_struct("concat('https://extra.x/', CAST(l_orderkey AS STRING))")
                + "), 1, 3)"
            ).alias("urls"),
        )
        .select("native_id", "native_id_namespace", F.explode("urls").alias("u"))
        .select("native_id", "native_id_namespace", F.col("u.url").alias("url"))
        .filter(~F.col("url").contains("doi.org"))
    )

    pkey = F.col("p_partkey").cast("string")
    pdf_ids = [
        F.when(F.col("p_partkey") % 3 == 0, F.concat(F.lit("oai:p:"), pkey))
         .when(F.col("p_partkey") % 3 == 1, F.concat(F.lit("10.2/"), pkey))
         .otherwise(F.concat(F.lit("P"), pkey)).alias("native_id"),
        F.when(F.col("p_partkey") % 3 == 0, F.lit("pmh"))
         .when(F.col("p_partkey") % 3 == 1, F.lit("doi"))
         .otherwise(F.lit("landing")).alias("native_id_namespace"),
    ]
    pdf = (
        spark.table("part")
        .filter(F.col("p_partkey") % 2 == 0)
        .select(
            *pdf_ids,
            F.expr(
                "get(filter(CASE WHEN p_partkey % 4 = 2 THEN array("
                "named_struct('url', concat('https://pub.x/h', CAST(p_partkey AS STRING)), 'content_type', 'html')"
                ") ELSE array("
                "named_struct('url', concat('https://pub.x/h', CAST(p_partkey AS STRING)), 'content_type', 'html'), "
                "named_struct('url', concat('https://cdn.x/p', CAST(p_partkey AS STRING), '.pdf'), 'content_type', 'pdf')"
                ") END, x -> x.content_type = 'pdf'), 0).url"
            ).alias("url"),
        )
        .filter(F.col("url").isNotNull())
    )
    harvested = spark.table("part").filter(F.col("p_partkey") % 6 == 0).select(*pdf_ids)
    held = spark.table("part").filter(F.col("p_partkey") % 6 == 2).select(*pdf_ids)
    pdf = pdf.join(harvested, ["native_id", "native_id_namespace"], "left_anti").join(
        held, ["native_id", "native_id_namespace"], "left_anti"
    )

    scraped = (
        spark.table("orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(F.concat(F.lit("https://doi.org/10.1/"), okey).alias("url"))
        .unionByName(
            spark.table("lineitem")
            .filter((F.col("l_orderkey") % 9 == 0) & (F.col("l_linenumber") == 1))
            .select(F.concat(F.lit("https://repo.x/"), F.col("l_orderkey").cast("string")).alias("url"))
        )
    )

    return (
        crossref.filter(F.col("url").isNotNull())
        .unionByName(repo)
        .unionByName(pdf)
        .withColumn("native_id", F.regexp_replace("native_id", r"^https://doi\.org/", ""))
        .join(scraped, ["url"], "left_anti")
        .orderBy("url", "native_id")
    )


# ---------------------------------------------------------------------------
# Parseland reparse resolution (scraping/parseland.ipynb cell 8)
# ---------------------------------------------------------------------------
# queue   <- customer : a third each of bare-DOI, pmh, and doi.org-URL rows
#                       (the URL rows exercise the normalized-DOI bridge).
# taxicab <- orders   : html captures keyed by bare DOI; several captures per
#                       key so the latest-per-key window earns its keep.
# backfill<- lineitem : doi.org-keyed rows (UUID arm) and repo rows whose
#                       pmh id lives in the ids array (pmh arm); html.gz id
#                       occasionally absent (the IS NOT NULL gate).

_PL_DOI_STRIP = r"^https?://(dx\.)?doi\.org/"

_PL_ORACLE = f"""
WITH queue AS (
  SELECT CASE WHEN c_custkey % 3 = 0 THEN concat('10.9/', CAST(c_custkey AS VARCHAR))
              WHEN c_custkey % 3 = 1 THEN concat('oai:arXiv:', CAST(c_custkey AS VARCHAR))
              ELSE concat('https://doi.org/10.9/', CAST(c_custkey AS VARCHAR)) END AS native_id,
         CASE WHEN c_custkey % 3 = 0 THEN 'doi'
              WHEN c_custkey % 3 = 1 THEN 'pmh'
              ELSE 'url' END AS native_id_namespace,
         c_custkey AS qkey
  FROM customer WHERE c_custkey % 4 <= 1
),
queue_k AS (
  SELECT *,
         lower(regexp_replace(native_id, '{_PL_DOI_STRIP}', '')) AS doi_key,
         CASE WHEN native_id_namespace = 'pmh' THEN lower(native_id) END AS pmh_key
  FROM queue
),
latest_taxicab AS (
  SELECT native_id, native_id_namespace, tc_id, tc_url, tc_resolved_url FROM (
    SELECT concat('10.9/', CAST(o_orderkey % 1500 AS VARCHAR)) AS native_id,
           'doi' AS native_id_namespace,
           concat('T', CAST(o_orderkey AS VARCHAR)) AS tc_id,
           concat('https://doi.org/10.9/', CAST(o_orderkey % 1500 AS VARCHAR)) AS tc_url,
           concat('https://pub.x/', CAST(o_orderkey AS VARCHAR)) AS tc_resolved_url,
           row_number() OVER (PARTITION BY o_orderkey % 1500
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders WHERE o_orderkey % 6 = 0
  ) WHERE rn = 1
),
backfill_uuid AS (
  SELECT doi_key, bf_id FROM (
    SELECT lower(concat('10.9/', CAST(l_orderkey % 3000 AS VARCHAR))) AS doi_key,
           concat('B', CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR)) AS bf_id,
           row_number() OVER (PARTITION BY l_orderkey % 3000
                              ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
    FROM lineitem WHERE l_orderkey % 2 = 0 AND l_partkey % 5 <> 0
  ) WHERE rn = 1
),
backfill_pmh AS (
  SELECT pmh_key, bfp_id, bfp_url FROM (
    SELECT lower(concat('oai:arXiv:', CAST(l_orderkey % 2400 AS VARCHAR))) AS pmh_key,
           concat('B', CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR)) AS bfp_id,
           concat('https://repo.x/', CAST(l_orderkey AS VARCHAR)) AS bfp_url,
           row_number() OVER (PARTITION BY l_orderkey % 2400
                              ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
    FROM lineitem WHERE l_orderkey % 2 = 1 AND l_partkey % 5 <> 0
  ) WHERE rn = 1
)
SELECT
  COALESCE(t.tc_id, b.bf_id, p.bfp_id) AS taxicab_id,
  COALESCE(t.tc_url, p.bfp_url,
    CASE WHEN q.native_id_namespace = 'doi'
         THEN concat('https://doi.org/', q.native_id) ELSE q.native_id END) AS url,
  COALESCE(t.tc_resolved_url, p.bfp_url,
    CASE WHEN q.native_id_namespace = 'doi'
         THEN concat('https://doi.org/', q.native_id) ELSE q.native_id END) AS resolved_url,
  q.native_id, q.native_id_namespace
FROM queue_k q
LEFT JOIN latest_taxicab t
  ON q.native_id = t.native_id AND q.native_id_namespace = t.native_id_namespace
LEFT JOIN backfill_uuid b ON q.doi_key = b.doi_key
LEFT JOIN backfill_pmh p ON q.pmh_key = p.pmh_key
WHERE COALESCE(t.tc_id, b.bf_id, p.bfp_id) IS NOT NULL
  AND q.qkey % 5 <> 3
ORDER BY q.native_id, q.native_id_namespace
"""


@register(
    "parseland_reparse_resolve",
    oracle=_PL_ORACLE,
    tags=("scraping", "window", "coalesce-ladder"),
    tables=("customer", "orders", "lineitem"),
)
def parseland_reparse_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parseland reparse-queue HTML resolution (parseland.ipynb cell 8).

    Three arms, preferred in order: fresh taxicab scrape (exact-key,
    latest capture per record), backfill html.gz via the normalized-DOI
    bridge, backfill html.gz via the pmh id bridge.  Each backfill arm
    semi-join-prunes to the queue's keys BEFORE its window, so the
    ~236M-row backfill never shuffles whole; the latest-per-key windows
    here add the id tiebreak the reference leaves to partition luck.  The
    fallback URL is synthesized as ``https://doi.org/...`` (never a bare
    DOI — the oxjob-401 collision guard).  The shard arm is the
    reference's PMOD(HASH(native_id), N) = k with a portable modular key,
    so N concurrent waves split the queue disjointly.
    """
    ckey = F.col("c_custkey").cast("string")
    queue = (
        spark.table("customer")
        .filter(F.col("c_custkey") % 4 <= 1)
        .select(
            F.when(F.col("c_custkey") % 3 == 0, F.concat(F.lit("10.9/"), ckey))
             .when(F.col("c_custkey") % 3 == 1, F.concat(F.lit("oai:arXiv:"), ckey))
             .otherwise(F.concat(F.lit("https://doi.org/10.9/"), ckey)).alias("native_id"),
            F.when(F.col("c_custkey") % 3 == 0, F.lit("doi"))
             .when(F.col("c_custkey") % 3 == 1, F.lit("pmh"))
             .otherwise(F.lit("url")).alias("native_id_namespace"),
            F.col("c_custkey").alias("qkey"),
        )
        # shard mode: reference PMOD(HASH(native_id), num_shards) = shard_id;
        # portable modular key keeps both engines on the same shard
        .filter(F.col("qkey") % 5 != 3)
        .withColumn("doi_key", F.lower(F.regexp_replace("native_id", _PL_DOI_STRIP, "")))
        .withColumn(
            "pmh_key",
            F.when(F.col("native_id_namespace") == "pmh", F.lower(F.col("native_id"))),
        )
    )

    w = Window.partitionBy("k").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    latest_taxicab = (
        spark.table("orders")
        .filter(F.col("o_orderkey") % 6 == 0)
        .withColumn("k", F.col("o_orderkey") % 1500)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.concat(F.lit("10.9/"), F.col("k").cast("string")).alias("native_id"),
            F.lit("doi").alias("native_id_namespace"),
            F.concat(F.lit("T"), F.col("o_orderkey").cast("string")).alias("tc_id"),
            F.concat(F.lit("https://doi.org/10.9/"), F.col("k").cast("string")).alias("tc_url"),
            F.concat(F.lit("https://pub.x/"), F.col("o_orderkey").cast("string")).alias("tc_resolved_url"),
        )
    )

    wl = Window.partitionBy("k").orderBy(
        F.col("l_shipdate").desc(), F.col("l_orderkey").desc(), F.col("l_linenumber").desc()
    )
    bf_base = spark.table("lineitem").filter(F.col("l_partkey") % 5 != 0)
    bf_id = F.concat(
        F.lit("B"), F.col("l_orderkey").cast("string"), F.lit("-"),
        F.col("l_linenumber").cast("string"),
    )
    backfill_uuid = (
        bf_base.filter(F.col("l_orderkey") % 2 == 0)
        .withColumn("k", F.col("l_orderkey") % 3000)
        .withColumn(
            "doi_key", F.lower(F.concat(F.lit("10.9/"), F.col("k").cast("string")))
        )
        .join(queue.select("doi_key").distinct(), "doi_key", "left_semi")
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("doi_key", bf_id.alias("bf_id"))
    )
    backfill_pmh = (
        bf_base.filter(F.col("l_orderkey") % 2 == 1)
        .withColumn("k", F.col("l_orderkey") % 2400)
        .withColumn(
            "pmh_key", F.lower(F.concat(F.lit("oai:arXiv:"), F.col("k").cast("string")))
        )
        .join(
            queue.filter(F.col("pmh_key").isNotNull()).select("pmh_key").distinct(),
            "pmh_key", "left_semi",
        )
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select(
            "pmh_key", bf_id.alias("bfp_id"),
            F.concat(F.lit("https://repo.x/"), F.col("l_orderkey").cast("string")).alias("bfp_url"),
        )
    )

    fallback_url = F.when(
        F.col("native_id_namespace") == "doi",
        F.concat(F.lit("https://doi.org/"), F.col("native_id")),
    ).otherwise(F.col("native_id"))
    return (
        queue.join(latest_taxicab, ["native_id", "native_id_namespace"], "left")
        .join(backfill_uuid, "doi_key", "left")
        .join(backfill_pmh, "pmh_key", "left")
        .withColumn("taxicab_id", F.coalesce("tc_id", "bf_id", "bfp_id"))
        .filter(F.col("taxicab_id").isNotNull())
        .withColumn("url", F.coalesce("tc_url", "bfp_url", fallback_url))
        .withColumn("resolved_url", F.coalesce("tc_resolved_url", "bfp_url", fallback_url))
        .select("taxicab_id", "url", "resolved_url", "native_id", "native_id_namespace")
        .orderBy("native_id", "native_id_namespace")
    )


# ---------------------------------------------------------------------------
# Grobid retry seed + reparse batch (parsing/parse_pdfs.ipynb cell 0 + 8)
# ---------------------------------------------------------------------------
# results <- orders : source_pdf_id reuses okey % 4000 so several attempts
#                     per id exist; S3-miss failures for one slice, later
#                     successes for another — only never-succeeded misses
#                     may seed the queue.
# taxicab <- part   : pdf-typed rows the seeded queue joins back to.

_GROBID_ORACLE = """
WITH results AS (
  SELECT concat('T', CAST(o_orderkey % 4000 AS VARCHAR)) AS source_pdf_id,
         CASE WHEN o_orderkey % 5 = 0 THEN 'success'
              WHEN o_orderkey % 5 = 1 THEN 'success_partial'
              ELSE 'failed' END AS status,
         CASE WHEN o_orderkey % 5 >= 2 THEN
           CASE WHEN o_orderkey % 7 = 0 THEN 'pdf not found in S3 bucket walden-pdf'
                ELSE 'grobid timeout' END END AS error_message
  FROM orders
),
seed AS (
  SELECT DISTINCT source_pdf_id
  FROM results r
  WHERE r.error_message LIKE '%not found in S3 bucket%'
    AND NOT EXISTS (
      SELECT 1 FROM results s
      WHERE s.source_pdf_id = r.source_pdf_id AND s.status LIKE 'success%')
),
taxicab AS (
  SELECT concat('T', CAST(p_partkey AS VARCHAR)) AS taxicab_id,
         concat('https://cdn.x/p', CAST(p_partkey AS VARCHAR), '.pdf') AS url,
         concat('10.2/', CAST(p_partkey AS VARCHAR)) AS native_id,
         'doi' AS native_id_namespace
  FROM part
  WHERE p_partkey % 4 <> 1  -- content_type contains 'pdf'
)
SELECT t.taxicab_id AS source_pdf_id, t.url, t.native_id, t.native_id_namespace
FROM seed q
JOIN taxicab t ON q.source_pdf_id = t.taxicab_id
ORDER BY source_pdf_id
"""


@register(
    "grobid_retry_seed",
    oracle=_GROBID_ORACLE,
    tags=("parsing", "antijoin", "retry"),
    tables=("orders", "part"),
)
def grobid_retry_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grobid S3-miss retry composition (parse_pdfs.ipynb cell 0 + cell 8).

    Seed = DISTINCT S3-miss failures that NEVER later succeeded (the
    anti-join beats the reference doc's NOT IN — NULL-safe and
    broadcastable); the seeded queue then joins back to pdf-typed taxicab
    rows to form the reparse batch, exactly the cell-8 reparse-mode join.
    Both sides reduce to id projections before shuffling.
    """
    okey = F.col("o_orderkey")
    results = spark.table("orders").select(
        F.concat(F.lit("T"), (okey % 4000).cast("string")).alias("source_pdf_id"),
        F.when(okey % 5 == 0, F.lit("success"))
         .when(okey % 5 == 1, F.lit("success_partial"))
         .otherwise(F.lit("failed")).alias("status"),
        F.when(okey % 5 >= 2,
               F.when(okey % 7 == 0, F.lit("pdf not found in S3 bucket walden-pdf"))
                .otherwise(F.lit("grobid timeout"))).alias("error_message"),
    )
    succeeded = results.filter(F.col("status").like("success%")).select("source_pdf_id")
    seed = (
        results.filter(F.col("error_message").like("%not found in S3 bucket%"))
        .select("source_pdf_id")
        .join(succeeded, "source_pdf_id", "left_anti")
        .distinct()
    )
    pkey = F.col("p_partkey").cast("string")
    taxicab = (
        spark.table("part")
        .filter(F.col("p_partkey") % 4 != 1)
        .select(
            F.concat(F.lit("T"), pkey).alias("taxicab_id"),
            F.concat(F.lit("https://cdn.x/p"), pkey, F.lit(".pdf")).alias("url"),
            F.concat(F.lit("10.2/"), pkey).alias("native_id"),
            F.lit("doi").alias("native_id_namespace"),
        )
    )
    return (
        seed.join(taxicab, seed.source_pdf_id == taxicab.taxicab_id)
        .select(
            F.col("taxicab_id").alias("source_pdf_id"),
            "url", "native_id", "native_id_namespace",
        )
        .orderBy("source_pdf_id")
    )
