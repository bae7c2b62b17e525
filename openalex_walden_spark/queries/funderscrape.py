"""Per-funder scraper PARSE stages as engine queries.

The reference drives 347 per-funder award scrapers
(``scripts/local/*.py``); their HTTP/checkpoint/ban layers are a
network seam this engine deliberately does not own, but the parse +
normalize COMPUTE is portable.  This module ports the two
highest-volume scrapers' parse stages following the Crossref grant
parser pattern (queries/workawards.py):

* KAKEN (``scripts/local/kaken_to_s3.py:641-907,1081-1140`` — ~1M+
  JSPS grants): grant-page field extraction (title, fiscal-period
  rule, yen budget, PI name split + NRID, research-product DOIs) and
  the process step's project_id dedup-keep-first.
* GtR (``scripts/local/gtr_to_s3.py:343-470,501-551,810-835,866-935``
  — ~171K UKRI grants): RCUK-identifier pick, link-relation field
  routing (FUND dates, LEAD_ORG/PI href tails), the /funds pass
  (INCOME_ACTUAL only, extensions summed), the amounts merge, and the
  grant_reference dedup-keep-first.

Both fixtures synthesize the source's raw shape (KAKEN page HTML, GtR
response fields) from orders/lineitem so the EXTRACTION rules — not
pre-cooked columns — are what the oracle checks.  Everything is
per-row column algebra over one scan; the only shuffles are the GtR
funds rollup + amounts join and the two dedup aggregations (min_by,
no window), all partial-aggregable map-side.  At 100 TB of fetched
pages this plan is scan-shaped: no UDF, no collect, no skew key (ids
are uniform).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries.registry import register

# ---------------------------------------------------------------------------
# KAKEN grant-page parse (kaken_to_s3.py parse_project_page/parse_products)
# ---------------------------------------------------------------------------
# The fixture assembles a KAKEN-shaped page per orders row: h1 title,
# Project Period cell (two ISO dates, or a single fiscal year on k%3=1),
# comma-grouped yen budget, the PI's nrid.nii.ac.jp anchor ("FAMILY
# Given" order), and 0-2 research-product doi.org anchors.  Distinct
# orderkeys can collide on project_id (the %-lattice), exercising the
# process step's dedup-keep-first.

_KAKEN_HTML_SPARK = """
concat(
  '<h1>Grant study ', CAST(o_orderkey AS STRING), '</h1>',
  '<table><tr><th>Research Category</th><td>Grant-in-Aid for ',
  CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'Scientific Research (B)'
       WHEN 1 THEN 'Early-Career Scientists' ELSE 'Challenging Research' END,
  '</td></tr>',
  '<tr><th>Project Period (FY)</th><td>',
  CASE WHEN o_orderkey % 3 = 1
    THEN CAST(o_orderkey % 30 + 1995 AS STRING)
    ELSE concat(CAST(o_orderkey % 30 + 1995 AS STRING), '-04-01 – ',
                CAST(o_orderkey % 30 + 1995 + o_orderkey % 4 AS STRING),
                '-03-31')
  END,
  '</td></tr>',
  '<tr><th>Budget Amount</th><td><h5>¥',
  CAST(o_orderkey % 90 + 10 AS STRING), ',',
  lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'), ',000',
  ' (Direct Cost)</h5></td></tr>',
  '<tr><th>Principal Investigator</th><td>',
  '<a href="https://nrid.nii.ac.jp/nrid/10000',
  lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'), '/">',
  CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN 'YAMADA Taro'
       WHEN 1 THEN 'SATO Hanako Yuki' WHEN 2 THEN 'TANAKA'
       ELSE 'SUZUKI Ichiro' END,
  '</a></td></tr></table>',
  '<div id="product_list">',
  CASE WHEN o_orderkey % 3 > 0 THEN concat(
    '<a class="win_open" href="https://doi.org/10.1234/kkn.',
    CAST(o_orderkey AS STRING), '.1">x</a>') ELSE '' END,
  CASE WHEN o_orderkey % 3 > 1 THEN concat(
    '<a class="win_open" href="https://doi.org/10.1234/kkn.',
    CAST(o_orderkey AS STRING), '.2">x</a>') ELSE '' END,
  '</div>')
"""

_KAKEN_URL_SPARK = """
concat('https://kaken.nii.ac.jp/en/grant/KAKENHI-PROJECT-',
       lpad(CAST(o_orderkey % 25 + 10 AS STRING), 2, '0'), 'H',
       lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'), '/')
"""

_KAKEN_URL_DUCK = _KAKEN_URL_SPARK.replace("AS STRING", "AS VARCHAR")
_KAKEN_HTML_DUCK = _KAKEN_HTML_SPARK.replace("AS STRING", "AS VARCHAR")

_KAKEN_ORACLE = f"""
WITH fetched AS (
  SELECT o_orderkey,
         {_KAKEN_URL_DUCK} AS url,
         {_KAKEN_HTML_DUCK} AS html
  FROM orders
),
parsed AS (
  SELECT o_orderkey,
         regexp_extract(url, '-([A-Z0-9]+)/$', 1) AS project_id,
         regexp_extract(html, '<h1>([^<]*)</h1>', 1) AS title,
         regexp_extract_all(
           regexp_extract(html, 'Project Period[^<]*</th><td>([^<]*)</td>', 1),
           '([0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}|[0-9]{{4}})') AS dates,
         nullif(regexp_extract(html, '[¥]([0-9,]+)', 1), '') AS amt_txt,
         regexp_extract(html, 'nrid[.]nii[.]ac[.]jp[^>]*>([^<]*)</a>', 1)
           AS pi_name,
         nullif(regexp_extract(html, 'nrid[.]nii[.]ac[.]jp/nrid/([0-9]{{10,}})', 1),
                '') AS pi_nrid,
         regexp_extract_all(html, 'doi[.]org/(10[.][0-9]{{4,}}/[^"<>]+)"', 1)
           AS dois,
         url AS landing_page_url
  FROM fetched
),
shaped AS (
  SELECT o_orderkey, project_id, title,
         CASE WHEN len(dates) >= 2 THEN dates[1]
              WHEN len(dates) = 1 THEN concat(dates[1], '-04-01') END
           AS start_date,
         CASE WHEN len(dates) >= 2 THEN dates[2]
              WHEN len(dates) = 1 THEN concat(dates[1], '-03-31') END
           AS end_date,
         CAST(replace(amt_txt, ',', '') AS DOUBLE) AS amount,
         'JPY' AS currency,
         regexp_extract(pi_name, '^([^ ]+)', 1) AS pi_family_name,
         nullif(regexp_extract(pi_name, '^[^ ]+ (.*)$', 1), '')
           AS pi_given_name,
         pi_nrid,
         len(dois)::BIGINT AS n_products,
         nullif(list_aggregate(dois, 'string_agg', ';'), '') AS product_dois,
         landing_page_url
  FROM parsed
)
SELECT project_id, title, start_date, end_date, amount, currency,
       pi_family_name, pi_given_name, pi_nrid, n_products, product_dois,
       landing_page_url
FROM (
  SELECT *, row_number() OVER (PARTITION BY project_id ORDER BY o_orderkey) AS rn
  FROM shaped
) WHERE rn = 1
"""


@register(
    "kaken_parse_projects",
    oracle=_KAKEN_ORACLE,
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="KAKEN grant-page parse stage (scripts/local/kaken_to_s3.py)",
)
def kaken_parse_projects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAKEN grant-page parse (``kaken_to_s3.py:641-907``) + the
    process step's project_id dedup (``:1118``).  Ported semantics:

    * project_id = last '-'-segment of the grant URL;
    * Project Period: findall ``(\\d{{4}}-\\d{{2}}-\\d{{2}}|\\d{{4}})``;
      two hits = start/end, a single bare year = the Japanese fiscal
      year (Apr 1 .. Mar 31) — the reference's single-year rule;
    * Budget Amount: ``[¥]([\\d,]+)`` with the comma grouping stripped;
    * PI: family name is the FIRST token of the nrid-anchor text, given
      is the remainder (single-token names stay family-only); NRID is
      the 10+-digit run in the href;
    * research products: every doi.org anchor in #product_list;
    * dedup by project_id keeping the first-fetched page.

    Plan: one scan, per-row regex algebra, one min_by aggregation for
    the dedup (partial-aggregable; no window over the corpus)."""
    return spark.sql(f"""
        WITH fetched AS (
          SELECT o_orderkey,
                 {_KAKEN_URL_SPARK} AS url,
                 {_KAKEN_HTML_SPARK} AS html
          FROM orders
        ),
        parsed AS (
          SELECT o_orderkey,
                 regexp_extract(url, '-([A-Z0-9]+)/$', 1) AS project_id,
                 regexp_extract(html, '<h1>([^<]*)</h1>', 1) AS title,
                 regexp_extract_all(
                   regexp_extract(html,
                     'Project Period[^<]*</th><td>([^<]*)</td>', 1),
                   '([0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}|[0-9]{{4}})', 1) AS dates,
                 nullif(regexp_extract(html, '[¥]([0-9,]+)', 1), '')
                   AS amt_txt,
                 regexp_extract(html, 'nrid[.]nii[.]ac[.]jp[^>]*>([^<]*)</a>', 1)
                   AS pi_name,
                 nullif(regexp_extract(html,
                   'nrid[.]nii[.]ac[.]jp/nrid/([0-9]{{10,}})', 1), '')
                   AS pi_nrid,
                 regexp_extract_all(html,
                   'doi[.]org/(10[.][0-9]{{4,}}/[^"<>]+)"', 1) AS dois,
                 url AS landing_page_url
          FROM fetched
        ),
        shaped AS (
          SELECT o_orderkey, project_id, title,
                 CASE WHEN size(dates) >= 2 THEN dates[0]
                      WHEN size(dates) = 1 THEN concat(dates[0], '-04-01') END
                   AS start_date,
                 CASE WHEN size(dates) >= 2 THEN dates[1]
                      WHEN size(dates) = 1 THEN concat(dates[0], '-03-31') END
                   AS end_date,
                 CAST(replace(amt_txt, ',', '') AS DOUBLE) AS amount,
                 'JPY' AS currency,
                 regexp_extract(pi_name, '^([^ ]+)', 1) AS pi_family_name,
                 nullif(regexp_extract(pi_name, '^[^ ]+ (.*)$', 1), '')
                   AS pi_given_name,
                 pi_nrid,
                 CAST(size(dois) AS BIGINT) AS n_products,
                 nullif(array_join(dois, ';'), '') AS product_dois,
                 landing_page_url
          FROM parsed
        ),
        deduped AS (
          SELECT min_by(struct(
                   title, start_date, end_date, amount, currency,
                   pi_family_name, pi_given_name, pi_nrid, n_products,
                   product_dois, landing_page_url), o_orderkey) AS r,
                 project_id
          FROM shaped
          GROUP BY project_id
        )
        SELECT project_id, r.title, r.start_date, r.end_date, r.amount,
               r.currency, r.pi_family_name, r.pi_given_name, r.pi_nrid,
               r.n_products, r.product_dois, r.landing_page_url
        FROM deduped
    """)


# ---------------------------------------------------------------------------
# GtR project + funds parse/merge (gtr_to_s3.py)
# ---------------------------------------------------------------------------
# projects <- orders: identifier bag with the RCUK entry at varying
# positions (absent on k%11=0), FUND-link dates, LEAD_ORG/PI_PER href
# tails, LEAD_PARTICIPANT org name.  funds <- lineitem: one fund record
# per line item, category cycling INCOME_ACTUAL / INCOME_PROFILE /
# EXPENDITURE_ACTUAL; only INCOME_ACTUAL sums into the award amount
# (extensions/supplements add up, the others would double-count).

_GTR_PROJECTS_SPARK = """
SELECT concat('PRJ-', CAST(o_orderkey AS STRING)) AS project_id,
       concat(CASE CAST(o_orderkey % 3 AS INT)
                WHEN 0 THEN 'LINK=none;'
                ELSE '' END,
              CASE WHEN o_orderkey % 11 = 0 THEN ''
                ELSE concat('RCUK=', 'EP/X', lpad(CAST(o_orderkey % 20000 AS STRING), 5, '0'),
                            '/', CAST(o_orderkey % 9 + 1 AS STRING), ';')
              END,
              'DOI=10.900/gtr.', CAST(o_orderkey AS STRING)) AS identifiers,
       concat('Project ', CAST(o_orderkey AS STRING)) AS title,
       CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN 'Active'
            WHEN 1 THEN 'Closed' ELSE 'Completed' END AS status,
       CASE CAST(o_orderkey % 5 AS INT) WHEN 0 THEN 'Research Grant'
            WHEN 1 THEN 'Fellowship' ELSE 'Studentship' END AS grant_category,
       CASE CAST(o_orderkey % 7 AS INT) WHEN 0 THEN 'EPSRC' WHEN 1 THEN 'BBSRC'
            WHEN 2 THEN 'NERC' WHEN 3 THEN 'ESRC' WHEN 4 THEN 'AHRC'
            WHEN 5 THEN 'MRC' ELSE 'STFC' END AS lead_funder,
       CAST(CAST(o_orderdate AS DATE) AS STRING) AS fund_start,
       CAST(date_add(CAST(o_orderdate AS DATE),
                     CAST(o_orderkey % 1000 + 360 AS INT)) AS STRING)
         AS fund_end,
       concat('https://gtr.ukri.org/organisation/ORG-',
              CAST(o_custkey % 997 AS STRING)) AS lead_org_href,
       concat('https://gtr.ukri.org/person/PER-',
              CAST(o_custkey AS STRING)) AS pi_href,
       concat('University ', CAST(o_custkey % 997 AS STRING)) AS lead_org_name
FROM orders
"""

_GTR_FUNDS_SPARK = """
SELECT concat('PRJ-', CAST(l_orderkey AS STRING)) AS project_id,
       CAST(l_extendedprice AS DOUBLE) AS amount,
       'GBP' AS currency,
       CASE CAST(l_linenumber % 3 AS INT) WHEN 0 THEN 'INCOME_ACTUAL'
            WHEN 1 THEN 'INCOME_PROFILE' ELSE 'EXPENDITURE_ACTUAL' END
         AS category
FROM lineitem
"""

# Both engines read o_orderdate as TIMESTAMP — the Spark form casts
# through DATE before stringifying; mirror the date math for DuckDB
# (DATE + int days instead of date_add).
_GTR_PROJECTS_DUCK = (
    _GTR_PROJECTS_SPARK.replace("AS STRING", "AS VARCHAR")
    .replace("date_add(CAST(o_orderdate AS DATE),\n"
             "                     CAST(o_orderkey % 1000 + 360 AS INT))",
             "(CAST(o_orderdate AS DATE) + CAST(o_orderkey % 1000 + 360 AS INT))")
)

_GTR_ORACLE = f"""
WITH projects AS ({_GTR_PROJECTS_DUCK}),
funds AS ({_GTR_FUNDS_SPARK.replace("AS STRING", "AS VARCHAR")}),
fund_amounts AS (
  SELECT project_id, sum(amount) AS fund_amount,
         min(currency) AS currency
  FROM funds
  WHERE category = 'INCOME_ACTUAL'
  GROUP BY project_id
),
parsed AS (
  SELECT p.project_id,
         nullif(regexp_extract(p.identifiers, '(^|;)RCUK=([^;]+)', 2), '')
           AS grant_reference,
         p.title, p.status, p.grant_category, p.lead_funder,
         p.fund_start AS start_date, p.fund_end AS end_date,
         regexp_extract(p.lead_org_href, '([^/]+)$', 1) AS lead_org_id,
         regexp_extract(p.pi_href, '([^/]+)$', 1) AS pi_id,
         p.lead_org_name,
         f.fund_amount AS amount, f.currency
  FROM projects p LEFT JOIN fund_amounts f USING (project_id)
)
SELECT grant_reference, project_id, title, status, grant_category,
       lead_funder, amount, currency, start_date, end_date,
       lead_org_id, pi_id, lead_org_name
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY coalesce(grant_reference, project_id)
    ORDER BY project_id) AS rn
  FROM parsed
) WHERE rn = 1
"""


@register(
    "gtr_parse_awards",
    oracle=_GTR_ORACLE,
    tags=("domain", "awards", "scrape"),
    tables=("orders", "lineitem"),
    doc="GtR project+funds parse/merge stage (scripts/local/gtr_to_s3.py)",
)
def gtr_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GtR parse + funds merge (``gtr_to_s3.py:343-470,501-551,
    810-835,866-935``).  Ported semantics:

    * grant_reference = the RCUK-typed identifier (other id types
      ignored; projects without one keep NULL and survive on their
      project_id);
    * link-relation routing: FUND carries start/end, LEAD_ORG and
      PI_PER contribute the trailing href segment as the entity id;
    * the /funds pass keeps ONLY category = INCOME_ACTUAL (income/
      expenditure x actual/profile would double-count) and SUMS
      multiple records per project (extensions/supplements);
    * amounts left-join onto projects — the bulk /projects response
      carries no valuePounds;
    * dedup by grant_reference keeping the first page-order row.

    DEVIATION: the dedup key is ``coalesce(grant_reference,
    project_id)``, so every NULL-reference project survives as its own
    row.  The reference's pandas ``drop_duplicates(subset=
    ['grant_reference'], keep='first')`` (gtr_to_s3.py:921) treats NaN
    as equal and collapses ALL reference-less projects to a single
    arbitrary row (gtr_to_s3.py:932) — losing real awards.  Kept
    intentionally: per-project survival is the correct semantics; only
    the NULL-key arm diverges.

    Plan: funds rollup is a partial-aggregable groupBy (the WHERE
    prunes 2/3 of the scan before the shuffle), one equi-join on
    project_id, one min_by dedup — no window over the corpus, no UDF."""
    return spark.sql(f"""
        WITH projects AS ({_GTR_PROJECTS_SPARK}),
        funds AS ({_GTR_FUNDS_SPARK}),
        fund_amounts AS (
          SELECT project_id, sum(amount) AS fund_amount,
                 min(currency) AS currency
          FROM funds
          WHERE category = 'INCOME_ACTUAL'
          GROUP BY project_id
        ),
        parsed AS (
          SELECT p.project_id,
                 nullif(regexp_extract(p.identifiers, '(^|;)RCUK=([^;]+)', 2),
                        '') AS grant_reference,
                 p.title, p.status, p.grant_category, p.lead_funder,
                 p.fund_start AS start_date, p.fund_end AS end_date,
                 regexp_extract(p.lead_org_href, '([^/]+)$', 1) AS lead_org_id,
                 regexp_extract(p.pi_href, '([^/]+)$', 1) AS pi_id,
                 p.lead_org_name,
                 f.fund_amount AS amount, f.currency
          FROM projects p LEFT JOIN fund_amounts f USING (project_id)
        ),
        deduped AS (
          SELECT coalesce(grant_reference, project_id) AS dk,
                 min_by(struct(
                   grant_reference, project_id, title, status,
                   grant_category, lead_funder, amount, currency,
                   start_date, end_date, lead_org_id, pi_id,
                   lead_org_name), project_id) AS r
          FROM parsed
          GROUP BY coalesce(grant_reference, project_id)
        )
        SELECT r.grant_reference, r.project_id, r.title, r.status,
               r.grant_category, r.lead_funder, r.amount, r.currency,
               r.start_date, r.end_date, r.lead_org_id, r.pi_id,
               r.lead_org_name
        FROM deduped
    """)


# ---------------------------------------------------------------------------
# Chinese provincial award-list shared parse (_cn_province_common.py)
# ---------------------------------------------------------------------------
# The provincial NSF / S&T-department scrapers (zhejiang_nsf, fujian_nsf,
# chongqing_nsf, heilongjiang_nsf, hainan_nsf, two Sichuan programmes)
# share ONE normalize library: family-first Chinese name handling,
# wan-yuan amount conversion, CJK date-range parsing, section-heading
# scheme extraction, and the content-hash row key for lists without a
# native grant number.  Porting the shared library covers the whole
# family's parse compute at once; the per-portal download/attachment
# walking is the network seam.

_CN_NUM = "一二三四五六七八九十百"

_CN_ROWS_SPARK = f"""
SELECT o_orderkey AS rid,
  CASE CAST(o_orderkey % 5 AS INT)
    WHEN 0 THEN 'ZHANG Wei'
    WHEN 1 THEN 'Maria van der Berg'
    WHEN 2 THEN '王伟'
    WHEN 3 THEN concat(' ·', '李娜 ')
    ELSE NULL
  END AS pi_raw,
  CASE CAST(o_orderkey % 4 AS INT)
    WHEN 0 THEN concat(CAST(o_orderkey % 900 + 100 AS STRING), '.5万元')
    WHEN 1 THEN concat('1,', lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'),
                       '万元')
    WHEN 2 THEN '0'
    ELSE NULL
  END AS amount_raw,
  CASE CAST(o_orderkey % 3 AS INT)
    WHEN 0 THEN concat(CAST(o_orderkey % 6 + 2019 AS STRING), '-03-01至',
                       CAST(o_orderkey % 6 + 2022 AS STRING), '-02-28')
    WHEN 1 THEN concat(CAST(o_orderkey % 6 + 2019 AS STRING), '.03-',
                       CAST(o_orderkey % 6 + 2022 AS STRING), '.02')
    ELSE concat(CAST(o_orderkey % 6 + 2019 AS STRING), '年')
  END AS period_raw,
  CASE CAST(o_orderkey % 3 AS INT)
    WHEN 0 THEN concat('（一）面上项目', CAST(o_orderkey % 200 AS STRING),
                       '项，经费', CAST(o_orderkey % 2000 AS STRING), '万元')
    WHEN 1 THEN '二、青年基金'
    ELSE NULL
  END AS heading_raw,
  CASE WHEN o_orderkey % 7 <> 0
    THEN concat('ZR', CAST(o_orderkey % 6 + 2019 AS STRING), 'MH',
                lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'))
  END AS native_id,
  concat('Study ', CAST(o_orderkey AS STRING)) AS display_name,
  concat('University ', CAST(o_orderkey % 97 AS STRING)) AS institution
FROM orders
"""

# The date-range regex, verbatim from the reference (parse_date_range):
# (\d{{4}})[-/.年]\s*(\d{{1,2}})?[-/.月]?\s*(\d{{1,2}})?
_CN_DATE_PAT = "([0-9]{4})[-/.年] *([0-9]{1,2})?[-/.月]? *([0-9]{1,2})?"


def _cn_parse(dialect: str) -> str:
    """The shared-library transforms, one template per dialect."""
    if dialect == "spark":
        stype, xall, idx1 = "STRING", "regexp_extract_all", "[0]"
        idx2, asize, rl = "[1]", "size", "rlike"
    else:
        stype, xall, idx1 = "VARCHAR", "regexp_extract_all", "[1]"
        idx2, asize, rl = "[2]", "len", "regexp_matches"
    return f"""
WITH rows AS ({{rows}}),
named AS (
  SELECT *,
    nullif(trim(regexp_replace(regexp_replace(coalesce(pi_raw, ''),
      '[　 ]', ' '), '^[·.,，、 ]+|[·.,，、 ]+$', '')), '') AS pi
  FROM rows
),
split_name AS (
  SELECT *,
    CASE WHEN pi IS NULL THEN NULL
         WHEN {rl}(pi, '[A-Za-z]') AND {rl}(pi, ' ')
           THEN regexp_extract(pi, '([^ ]+)$', 1)
         ELSE pi
    END AS family_name,
    CASE WHEN pi IS NULL THEN NULL
         WHEN {rl}(pi, '[A-Za-z]') AND {rl}(pi, ' ')
           THEN regexp_extract(pi, '^(.*) [^ ]+$', 1)
    END AS given_name
  FROM named
),
amounts AS (
  SELECT *,
    CASE WHEN coalesce(TRY_CAST(nullif(regexp_extract(
             replace(replace(coalesce(amount_raw, ''), ',', ''), '，', ''),
             '(-?[0-9]+([.][0-9]+)?)', 1), '') AS DOUBLE), 0) > 0
         THEN TRY_CAST(nullif(regexp_extract(
             replace(replace(amount_raw, ',', ''), '，', ''),
             '(-?[0-9]+([.][0-9]+)?)', 1), '') AS DOUBLE) * 10000
    END AS amount_cny
  FROM split_name
),
dated AS (
  SELECT *,
    {xall}(period_raw, '{_CN_DATE_PAT}', 0) AS dmatches
  FROM amounts
),
dateparts AS (
  SELECT *,
    CASE WHEN {asize}(dmatches) >= 1 THEN concat(
      regexp_extract(dmatches{idx1}, '{_CN_DATE_PAT}', 1), '-',
      lpad(coalesce(nullif(regexp_extract(dmatches{idx1}, '{_CN_DATE_PAT}', 2), ''), '1'), 2, '0'), '-',
      lpad(coalesce(nullif(regexp_extract(dmatches{idx1}, '{_CN_DATE_PAT}', 3), ''), '1'), 2, '0'))
    END AS start_date,
    CASE WHEN {asize}(dmatches) >= 2 THEN concat(
      regexp_extract(dmatches{idx2}, '{_CN_DATE_PAT}', 1), '-',
      lpad(coalesce(nullif(regexp_extract(dmatches{idx2}, '{_CN_DATE_PAT}', 2), ''), '1'), 2, '0'), '-',
      lpad(coalesce(nullif(regexp_extract(dmatches{idx2}, '{_CN_DATE_PAT}', 3), ''), '1'), 2, '0'))
    END AS end_date
  FROM dated
),
stripped AS (
  SELECT *,
    regexp_replace(heading_raw,
      '^[（(]?[{_CN_NUM}]+[）)]?[、.．] *', '') AS heading_body
  FROM dateparts
),
schemed AS (
  -- re.split(cut)[0] semantics (scheme_from_heading,
  -- _cn_province_common.py:114-124): when a count/amount clause is
  -- present the scheme is everything BEFORE the first one — possibly
  -- empty (a '（一）…' heading whose numeral prefix carries no '、'
  -- strips nothing and splits at position 0 to NULL, NOT to the whole
  -- heading); only a clause-free heading survives whole.
  SELECT *,
    CASE WHEN heading_raw IS NOT NULL THEN
      nullif(trim(CASE
        WHEN {rl}(heading_body, '[，,（(]|[0-9]+项|共[0-9]|经费')
          THEN regexp_extract(heading_body,
                 '^(.*?)([，,（(]|[0-9]+项|共[0-9]|经费)', 1)
        ELSE heading_body
      END), '')
    END AS funder_scheme
  FROM stripped
)
SELECT
  coalesce(lower(native_id),
           concat('cnprov-', substr(md5(concat_ws('|',
             coalesce(display_name, ''), coalesce(family_name, ''),
             coalesce(institution, ''),
             coalesce(substr(start_date, 1, 4), ''),
             coalesce(funder_scheme, ''))), 1, 16))) AS row_key,
  given_name, family_name, amount_cny, start_date, end_date,
  funder_scheme, native_id AS funder_award_id,
  display_name, institution,
  'CN' AS country_code
FROM schemed
"""


@register(
    "cn_province_awards_parse",
    oracle=_cn_parse("duck").replace(
        "{rows}", _CN_ROWS_SPARK.replace("AS STRING", "AS VARCHAR")),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="Chinese provincial award-list shared parse (_cn_province_common.py)",
    spread=("orders",),
)
def cn_province_awards_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The provincial scrapers' shared normalize library
    (``scripts/local/_cn_province_common.py:74-200``) — covers the
    zhejiang/fujian/chongqing/heilongjiang/hainan NSF + Sichuan lists'
    parse compute:

    * ``split_name``: Chinese personal names stay WHOLE in family_name
      with given NULL (no surname-split guessing — compound surnames
      make ``name[:1]`` wrong too often); Latin/romanised names split
      on whitespace, last token = family; ideographic/NBSP spaces
      normalized and leading list-index punctuation stripped;
    * ``parse_amount_wan``: first numeric run of the 万元 cell × 10,000
      CNY; 0/blank/negative → NULL;
    * ``parse_date_range``: the reference's exact CJK date regex, month
      and day defaulting to 1, first match = start, second = end;
    * ``scheme_from_heading``: strip the CJK-numeral section prefix,
      cut at the first count/amount clause;
    * row key: native grant number lowered, else the md5 content hash
      over (title|PI|institution|year|scheme) so NULL-id rows never
      collide (the Chongqing 拟立项 device).

    Plan: one scan, pure column algebra (the reference runs this
    per-row in pandas); the only exchange is the round-robin spread
    over the scan, no hash shuffle."""
    return spark.sql(_cn_parse("spark").replace("{rows}", _CN_ROWS_SPARK))


# ---------------------------------------------------------------------------
# NWO (Dutch Research Council) NWOpen-API parse (nwo_to_s3.py:326-470)
# ---------------------------------------------------------------------------
# The API returns projects with a project_members array; the PI is
# elected by a role CASCADE — 'Main Applicant', else 'Project leader',
# else the first member — with ORCID placeholder cleanup and the
# organisation hierarchy split on '||'.  The S1 JSON scan already
# covers decoding; what ports here is the member-role election and
# field cleanup, expressed with array HOFs (filter/element_at) instead
# of the reference's per-member Python loops.

_NWO_MEMBER = """named_struct(
  'role', {role},
  'orcid', {orcid},
  'first_name', {first},
  'last_name', {last},
  'organisation', {org})"""

_NWO_ROWS_SPARK = f"""
SELECT concat('NWO.', CAST(o_orderkey AS STRING)) AS project_id,
  concat('Project ', CAST(o_orderkey AS STRING)) AS title,
  CASE WHEN o_orderkey % 3 <> 0
       THEN concat('English summary ', CAST(o_orderkey AS STRING)) END
    AS summary_en,
  concat('Nederlandse samenvatting ', CAST(o_orderkey AS STRING))
    AS summary_nl,
  CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN 'Open Competitie ENW'
       WHEN 1 THEN 'Veni' WHEN 2 THEN 'Vici' ELSE 'Spinozapremie' END
    AS funding_scheme,
  CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE 'ENW' END AS department,
  'Exacte Wetenschappen' AS sub_department,
  CAST(CAST(o_orderdate AS DATE) AS STRING) AS start_date,
  array(
    {_NWO_MEMBER.format(
      role="CASE WHEN o_orderkey % 7 = 0 THEN 'Researcher' ELSE 'Main Applicant' END",
      orcid="CASE WHEN o_orderkey % 11 = 0 THEN 'https://orcid.org/-' "
            "ELSE concat('https://orcid.org/0000-0002-', "
            "lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'), '-0001') END",
      first="'Anna'", last="'de Vries'",
      org="'Universiteit Utrecht||Faculteit Betawetenschappen'")},
    {_NWO_MEMBER.format(
      role="CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 2 = 0 "
           "THEN 'Project leader' ELSE 'Researcher' END",
      orcid="NULL", first="'Jan'", last="'Jansen'",
      org="'TU Delft'")}
  ) AS project_members
FROM orders
"""


def _nwo_sql(dialect: str) -> str:
    if dialect == "spark":
        flt = "try_element_at(filter(project_members, m -> m.role = '{r}'), 1)"
        first = "try_element_at(project_members, 1)"
    else:
        flt = "list_filter(project_members, m -> m.role = '{r}')[1]"
        first = "project_members[1]"
    main = flt.format(r="Main Applicant")
    leader = flt.format(r="Project leader")
    return f"""
WITH raw AS ({{rows}}),
elected AS (
  SELECT *, coalesce({main}, {leader}, {first}) AS pi
  FROM raw
)
SELECT project_id, title,
  coalesce(summary_en, summary_nl) AS abstract,
  funding_scheme AS grant_category,
  coalesce(department, sub_department) AS lead_funder,
  start_date,
  CASE WHEN pi.orcid IS NOT NULL AND pi.orcid <> 'https://orcid.org/-'
       THEN pi.orcid END AS pi_id,
  pi.first_name AS pi_given_name,
  pi.last_name AS pi_family_name,
  trim(split_part(pi.organisation, '||', 1)) AS lead_org_name
FROM elected
"""


@register(
    "nwo_parse_awards",
    oracle=_nwo_sql("duck").replace(
        "{rows}",
        _NWO_ROWS_SPARK.replace("AS STRING", "AS VARCHAR")
                       .replace("named_struct(\n  'role', ", "struct_pack(role := ")
                       .replace(",\n  'orcid', ", ", orcid := ")
                       .replace(",\n  'first_name', ", ", first_name := ")
                       .replace(",\n  'last_name', ", ", last_name := ")
                       .replace(",\n  'organisation', ", ", organisation := ")
                       .replace("array(\n    ", "[")
                       .replace("  ) AS project_members", "] AS project_members")
                       .replace("CAST(CAST(o_orderdate AS DATE) AS VARCHAR)",
                                "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)")),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="NWO NWOpen-API parse stage (scripts/local/nwo_to_s3.py)",
)
def nwo_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NWO project parse (``nwo_to_s3.py:326-470``): the PI role
    cascade (Main Applicant -> Project leader -> first member) as
    array HOFs, ORCID placeholder ('https://orcid.org/-') nulled, the
    English->Dutch abstract fallback, department->sub_department
    funder fallback, and the '||'-hierarchy organisation truncated to
    its top level.

    Plan: one scan, HOF column algebra, no shuffle, no Python."""
    return spark.sql(_nwo_sql("spark").replace("{rows}", _NWO_ROWS_SPARK))


# ---------------------------------------------------------------------------
# Taiwan MOST GRB export normalize (taiwan_most_grb_to_s3.py:159-510)
# ---------------------------------------------------------------------------
# The GRB XLSX export rows normalize through a distinctive kit: the
# award-id CASCADE (original plan number, else system number, else
# 'GRB-' + grb id — rows with none are dropped), the ROC (Minguo)
# calendar (first three digits of the squashed year-month + 1911,
# rejected outside 1900..reference-year+1; month = digits[3:5] in
# 1..12), thousand-TWD amounts (x1000, <=0 -> NULL), and Latin names
# de-suffixed (Dr/Prof/PhD/Jr...) before the last-token family split —
# Chinese names stay whole in family, like the provincial kit.
# DEVIATIONS (documented): the validity window's "current year" is the
# fixture's pinned 2026 (the reference calls datetime.now — not
# oracle-deterministic), and amount is a DOUBLE rather than the
# reference's trailing-zero-trimmed string.

_GRB_ROWS_SPARK = """
SELECT o_orderkey AS rid,
  CASE WHEN o_orderkey % 13 = 0 THEN NULL
       WHEN o_orderkey % 3 = 0 THEN NULL
       ELSE concat('most ', CAST(o_orderkey % 30 + 85 AS STRING),
                   '-2221-e-', lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'))
  END AS original_plan_number,
  CASE WHEN o_orderkey % 13 = 0 THEN NULL
       ELSE concat('sys', lpad(CAST(o_orderkey % 100000 AS STRING), 6, '0'))
  END AS system_number,
  CASE WHEN o_orderkey % 13 = 0 THEN NULL
       ELSE CAST(o_orderkey % 1000000 AS STRING)
  END AS grb_id,
  CASE WHEN o_orderkey % 4 = 0 THEN NULL
       ELSE concat('Study of topic ', CAST(o_orderkey AS STRING))
  END AS title_en,
  concat('chinese title ', CAST(o_orderkey AS STRING)) AS title_zh,
  -- ROC year-month: mostly valid 3-digit years; %11=0 rows are junk
  CASE WHEN o_orderkey % 11 = 0 THEN 'xx'
       ELSE concat(CAST(o_orderkey % 30 + 85 AS STRING),
                   lpad(CAST(o_orderkey % 12 + 1 AS STRING), 2, '0'), '01')
  END AS period_start_roc_ym,
  concat(CAST(o_orderkey % 30 + 88 AS STRING),
         lpad(CAST(o_orderkey % 12 + 1 AS STRING), 2, '0'), '31')
    AS period_end_roc_ym,
  CAST(o_orderkey % 30 + 85 AS STRING) AS plan_year_roc,
  CASE CAST(o_orderkey % 4 AS INT)
    WHEN 0 THEN concat(CAST(o_orderkey % 5000 AS STRING), '.5')
    WHEN 1 THEN concat('1,', lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'))
    WHEN 2 THEN '0'
    ELSE NULL
  END AS amount_thousand_twd,
  CASE CAST(o_orderkey % 3 AS INT)
    WHEN 0 THEN 'Dr. John A. Smith'
    WHEN 1 THEN '王小明'
    ELSE 'CHEN Li-hua'
  END AS lead_name,
  CASE WHEN o_orderkey % 5 = 0
       THEN '李大仁；Prof. Mary K. Jones、陳美麗'
       WHEN o_orderkey % 5 = 1 THEN '張三' END AS co_lead_names,
  concat('National University ', CAST(o_orderkey % 150 AS STRING))
    AS executing_institution
FROM orders
"""

_GRB_REF_YEAR = 2026  # pinned "current year" for the validity window

_GRB_SUFFIX = (
    "(?i)\\\\b(Ph\\\\.?D\\\\.?|MD|M\\\\.?D\\\\.?|Dr\\\\.?|Prof\\\\.?|"
    "Jr\\\\.?|Sr\\\\.?|II|III|IV)\\\\b\\\\.?"
)


def _grb_sql(dialect: str) -> str:
    if dialect == "spark":
        stype, rl, g = "STRING", "rlike", ""
        splitfn = "filter(split({v}, '\\\\s*[;；、,，/]\\\\s*'), x -> trim(x) <> '')"
        elem = "try_element_at({a}, 1)"
        asize = "size"
    else:
        stype, rl, g = "VARCHAR", "regexp_matches", ", 'g'"
        splitfn = ("list_filter(regexp_split_to_array({v}, '\\\\s*[;；、,，/]\\\\s*'), "
                   "x -> trim(x) <> '')")
        elem = "{a}[1]"
        asize = "len"
    def digits(col: str) -> str:
        return f"regexp_replace(coalesce({col}, ''), '[^0-9]', ''{g})"
    def rocyear(col: str) -> str:
        d = digits(col)
        return (f"CASE WHEN length({d}) >= 3 "
                f"AND TRY_CAST(substr({d}, 1, 3) AS INT) + 1911 "
                f"BETWEEN 1900 AND {_GRB_REF_YEAR + 1} "
                f"THEN CAST(TRY_CAST(substr({d}, 1, 3) AS INT) + 1911 AS {stype}) END")
    def rocmonth(col: str) -> str:
        d = digits(col)
        return (f"CASE WHEN length({d}) >= 5 "
                f"AND TRY_CAST(substr({d}, 4, 2) AS INT) BETWEEN 1 AND 12 "
                f"THEN lpad(CAST(TRY_CAST(substr({d}, 4, 2) AS INT) AS {stype}), 2, '0') END")
    def norm_id(col: str) -> str:
        return f"upper(regexp_replace(coalesce({col}, ''), '\\\\s+', ''{g}))"
    def desuffix(v: str) -> str:
        return (f"trim(BOTH ' ,' FROM regexp_replace("
                f"regexp_replace({v}, '{_GRB_SUFFIX}', ''{g}), '\\\\s+', ' '{g}))")
    famsplit = desuffix("lead_name")
    return f"""
WITH rows AS ({{rows}}),
keyed AS (
  SELECT *,
    coalesce(nullif({norm_id('original_plan_number')}, ''),
             nullif({norm_id('system_number')}, ''),
             CASE WHEN nullif({norm_id('grb_id')}, '') IS NOT NULL
                  THEN concat('GRB-', {norm_id('grb_id')}) END)
      AS funder_award_id
  FROM rows
),
shaped AS (
  SELECT funder_award_id,
    coalesce(title_en, title_zh,
             concat('MOST project ', funder_award_id)) AS display_name,
    coalesce({rocyear('period_start_roc_ym')}, {rocyear('plan_year_roc')})
      AS start_year,
    {rocyear('period_end_roc_ym')} AS end_year,
    {rocmonth('period_start_roc_ym')} AS start_month,
    {rocmonth('period_end_roc_ym')} AS end_month,
    CASE WHEN coalesce(TRY_CAST(nullif(regexp_replace(
             coalesce(amount_thousand_twd, ''), '[^0-9.\\\\-]', ''{g}), '')
             AS DOUBLE), 0) > 0
         THEN TRY_CAST(nullif(regexp_replace(
             amount_thousand_twd, '[^0-9.\\\\-]', ''{g}), '') AS DOUBLE) * 1000
    END AS amount,
    CASE WHEN {rl}(lead_name, '^[A-Za-z][A-Za-z .,''-]+$')
              AND {rl}(lead_name, ' ')
         THEN nullif(regexp_extract({famsplit}, '^(.*) [^ ]+$', 1), '')
    END AS lead_given_name,
    CASE WHEN {rl}(lead_name, '^[A-Za-z][A-Za-z .,''-]+$')
              AND {rl}(lead_name, ' ')
         THEN regexp_extract({famsplit}, '([^ ]+)$', 1)
         ELSE lead_name
    END AS lead_family_name,
    {elem.format(a=splitfn.format(v='co_lead_names'))} AS co_lead_raw,
    CAST(greatest({asize}({splitfn.format(v="coalesce(co_lead_names, '')")}) - 1,
                  0) AS BIGINT) AS n_investigators,
    executing_institution
  FROM keyed
  WHERE funder_award_id IS NOT NULL
)
SELECT funder_award_id, display_name, start_year, end_year,
       start_month, end_month, amount,
       CASE WHEN amount IS NOT NULL THEN 'TWD' END AS currency,
       lead_given_name, lead_family_name, co_lead_raw, n_investigators,
       executing_institution
FROM shaped
"""


@register(
    "taiwan_grb_parse_awards",
    # Spark string literals are backslash-escaped, DuckDB's are
    # standard-SQL: halve the regex backslashes for the oracle.
    oracle=_grb_sql("duck").replace("\\\\", "\\").replace(
        "{rows}", _GRB_ROWS_SPARK.replace("AS STRING", "AS VARCHAR")),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="Taiwan MOST GRB export normalize (scripts/local/taiwan_most_grb_to_s3.py)",
)
def taiwan_grb_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GRB export normalize (``taiwan_most_grb_to_s3.py:159-510``;
    ``nstc_grb_to_s3.py`` is the same template with different constants
    — funder id, plan-organ code BT200 vs BT100, thresholds — so this
    query covers BOTH scrapers' parse compute; the twin-ship is pinned
    by ``tests/test_funderscrape.py::test_nstc_grb_is_the_most_grb_template``):
    award-id cascade with space-squash + UPPER (id-less rows dropped),
    ROC/Minguo calendar conversion with the validity window, month
    digits[3:5] bounds-checked, thousand-TWD amounts, the
    Dr/Prof/PhD/Jr suffix strip before the Latin last-token family
    split (Chinese names whole-in-family), and the co-PI people split
    on the CJK/ASCII delimiter class with first-as-co-lead.

    Plan: one scan of pure column algebra; the only row reduction is
    the id-less filter.  No shuffle, no Python."""
    return spark.sql(_grb_sql("spark").replace("{rows}", _GRB_ROWS_SPARK))
