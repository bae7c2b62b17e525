"""360Giving rich-logic publishers: Arcadia Fund and Wellcome Trust
(scripts/local/arcadia_to_s3.py, scripts/local/wellcome_to_s3.py).

Both publish 360Giving open data but with bespoke normalize logic the
simple column-map family (``threesixty.py``) doesn't have.

**Arcadia** (arcadia_to_s3.py:185-290): CSV download discovered from
the grants page (HTTP/encoding layer = seam; ``source_csv_url`` /
``source_row_hash`` / ``source_row_json`` / ``downloaded_at`` are
crawl-provenance fields of that seam and are not ported).  Ported
compute, all preserved:

* ``clean_text`` (:185-190): NBSP to space, ALL whitespace runs to one
  space (a different cleaner than the workbook family's);
* ``parse_amount`` (:193-201): strips commas AND '$', float, > 0;
* the AMOUNT RENDER (:251): ``f"{a:.2f}"`` when fractional else
  ``f"{a:.0f}"`` — '12,500.50' ships as '12500.50', '9800.0' as
  '9800';
* ``parse_int`` (:204-211) for Award Year / Term (Years):
  ``int(float(...))`` truncation;
* end_year = year + duration - 1 only when duration > 0, else year;
  start_date/end_date are the synthetic ``{year}-01-01`` /
  ``{end_year}-12-31`` bounds (:233-257);
* currency = cleaned Currency column else the 'USD' default, shipped
  only with an amount — NOT uppercased (a lowercase source value
  ships lowercase, unlike maudsley/thorn);
* grant_type defaults to 'Grant'; the required-column gate
  (funder_award_id/display_name/beneficiary/amount/currency/
  source_year non-null, unique ids) is validation the fixture
  satisfies by construction.

**Wellcome** (wellcome_to_s3.py:130-290): XLSX (seam), header names
cleaned and mapped.  Ported compute:

* the AWARD-ID COLUMN CHOICE (:187-210, fixed 2026-07-31): grant_ref =
  the citable ``Internal ID`` (stripped), NOT the 360Giving
  ``Identifier``; rows with a missing/blank Internal ID derive it from
  the 360G form by dropping the '360G-Wellcome-' prefix and restoring
  '/' from '_';
* the NNNNNN/L/NN/L shape gate and no-360G-prefix assert are
  validation; the fixture satisfies them for every row;
* amount: comma-stripped ``pd.to_numeric`` — stays DOUBLE in the
  shipped parquet (the one non-string column, wellcome_to_s3.py
  schema loop :295-300), with NO >0 rule;
* dates pandas-coerced to ISO; every other column is a raw string
  passthrough (no text cleaning);
* dedup: ``drop_duplicates(subset=['grant_ref'], keep='first')`` in
  workbook order; ``ingested_at`` is a runtime stamp (not ported).

Fixture: one synthetic record per orders key; wellcome grant_refs
collide on ``o_orderkey % 911`` to make keep-first real, and a
``% 29`` / ``% 31`` sliver exercises the Internal-ID fallback (NULL
and blank).  Plan: single scan each; wellcome adds one keep-first
window on grant_ref.  No Python.

tests/test_template_fidelity.py re-derives both outputs in Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_ARCADIA_PAGE = "https://arcadiafund.org.uk/grants-awarded"


# ---------------------------------------------------------------------------
# Arcadia
# ---------------------------------------------------------------------------


def _arcadia_sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    cs, clean_ws, fmt, trunc_int = k.cs, k.clean_ws, k.fmt, k.trunc_int

    amt_num = ("CASE WHEN try_cast(replace(replace(ar.amt_raw, ',', ''), "
               "'$', '') AS DOUBLE) > 0 THEN "
               "try_cast(replace(replace(ar.amt_raw, ',', ''), '$', '') "
               "AS DOUBLE) END")
    amt_render = (f"CASE WHEN {amt_num} = CAST({trunc_int(amt_num)} AS "
                  f"DOUBLE) THEN {fmt}('%.0f', {amt_num}) "
                  f"ELSE {fmt}('%.2f', {amt_num}) END")
    year_i = trunc_int("try_cast(ar.year_raw AS DOUBLE)")
    dur_i = trunc_int("try_cast(ar.dur_raw AS DOUBLE)")
    end_year_i = (f"CASE WHEN {year_i} IS NOT NULL AND {dur_i} > 0 "
                  f"THEN {year_i} + {dur_i} - 1 ELSE {year_i} END")

    return f"""
WITH ar AS (
  SELECT o_orderkey AS k,
    concat('ARC-', {cs('o_orderkey')}) AS ident,
    concat('Arcadia', chr(160), ' project  ',
           {cs('o_orderkey')}) AS title_raw,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('Preservation  of archive ', {cs('o_orderkey % 9')}) END
      AS desc_raw,
    concat('Organisation ', {cs('o_orderkey % 300')}) AS benef_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('https://org.example/', {cs('o_orderkey % 300')}) END
      AS benef_url_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('GB-CHC-3', {cs('o_orderkey % 600')}) END AS orgid_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE {cs('o_orderkey % 120000 + 300000')} END AS charity_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE 'Research Grant' END
      AS type_raw,
    CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN 'Active' ELSE 'Completed' END AS status_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Area ', {cs('o_orderkey % 4')}) END AS area_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('Priority ', {cs('o_orderkey % 3')}) END AS prio_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('1 May 202', {cs('o_orderkey % 4')}) END AS adate_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE '36' END AS tmonths_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'Arcadia' END AS fund_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'GB-CHC-1200594' END
      AS fundid_raw,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN '250,000' WHEN 1 THEN '$12,500.50'
      WHEN 2 THEN '78000.25' ELSE '9800.0' END AS amt_raw,
    CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN 'GBP' ELSE 'usd' END AS cur_raw,
    CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN '2021'
      WHEN 1 THEN '2022.0' ELSE '2023' END AS year_raw,
    CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN '3' WHEN 2 THEN '5.0' ELSE '0' END AS dur_raw
  FROM orders
)
SELECT
  ar.ident AS funder_award_id,
  {clean_ws('ar.title_raw')} AS display_name,
  {clean_ws('ar.desc_raw')} AS description,
  {clean_ws('ar.benef_raw')} AS beneficiary,
  {clean_ws('ar.benef_url_raw')} AS beneficiary_url,
  {clean_ws('ar.orgid_raw')} AS recipient_org_identifier,
  {clean_ws('ar.charity_raw')} AS recipient_org_charity_number,
  coalesce({clean_ws('ar.type_raw')}, 'Grant') AS grant_type,
  {clean_ws('ar.status_raw')} AS source_status,
  {clean_ws('ar.area_raw')} AS funding_area,
  {clean_ws('ar.prio_raw')} AS grant_priority,
  {clean_ws('ar.adate_raw')} AS award_date,
  {clean_ws('ar.tmonths_raw')} AS term_months,
  {clean_ws('ar.fund_raw')} AS funding_org_name,
  {clean_ws('ar.fundid_raw')} AS funding_org_identifier,
  {amt_render} AS amount,
  CASE WHEN {amt_num} IS NOT NULL
       THEN coalesce({clean_ws('ar.cur_raw')}, 'USD') END AS currency,
  {clean_ws('ar.amt_raw')} AS amount_awarded_raw,
  {cs(year_i)} AS source_year,
  {cs(dur_i)} AS duration_years,
  concat({cs(year_i)}, '-01-01') AS start_date,
  concat({cs(end_year_i)}, '-12-31') AS end_date,
  '{_ARCADIA_PAGE}' AS landing_page_url
FROM ar
"""


# ---------------------------------------------------------------------------
# Wellcome
# ---------------------------------------------------------------------------


def _wellcome_sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    cs, iso = k.cs, k.iso

    # grant_ref: Internal ID stripped; NULL/blank falls back to the
    # 360G identifier with prefix dropped and '_' restored to '/'
    ref_expr = ("CASE WHEN wc.internal_raw IS NOT NULL "
                "AND trim(wc.internal_raw) <> '' THEN trim(wc.internal_raw) "
                "ELSE replace(replace(wc.ident360_raw, '360G-Wellcome-', "
                "''), '_', '/') END")
    amt = "try_cast(trim(replace(wc.amt_raw, ',', '')) AS DOUBLE)"

    return f"""
WITH wc_base AS (
  SELECT o_orderkey AS k, o_orderkey % 911 AS j,
    concat({cs('100000 + o_orderkey % 911')}, '/',
           substr('ABCD', CAST((o_orderkey % 911) % 4 AS INT) + 1, 1), '/',
           lpad({cs('(o_orderkey % 911) % 100')}, 2, '0'), '/Z') AS ref
  FROM orders
),
wc AS (
  SELECT k, j, ref,
    CASE WHEN j % 29 = 0 THEN NULL
         WHEN j % 31 = 0 THEN ''
         ELSE concat(' ', ref, ' ') END AS internal_raw,
    concat('360G-Wellcome-', replace(ref, '/', '_')) AS ident360_raw,
    concat('Genomic study ', {cs('j')}) AS title_raw,
    CASE WHEN k % 5 = 0 THEN NULL
      ELSE concat('Strand ', {cs('k % 17')}) END AS desc_raw,
    CASE WHEN j % 7 = 0 THEN NULL ELSE 'GBP' END AS cur_raw,
    CASE CAST(k % 5 AS INT) WHEN 0 THEN NULL WHEN 1 THEN '250,000'
      WHEN 2 THEN '12500.5' WHEN 3 THEN 'n/a' ELSE '78000' END AS amt_raw,
    CASE CAST(k % 4 AS INT) WHEN 0 THEN NULL WHEN 1 THEN '2021-05-04'
      WHEN 2 THEN '2019-11-30 00:00:00' ELSE 'not a date' END AS adate_raw,
    CASE CAST(k % 3 AS INT) WHEN 0 THEN NULL WHEN 1 THEN '2022-01-15'
      ELSE 'bad' END AS sdate_raw,
    CASE CAST(k % 3 AS INT) WHEN 0 THEN '2024-06-30' WHEN 1 THEN NULL
      ELSE '2025-01-01' END AS edate_raw,
    CASE WHEN j % 2 = 0 THEN NULL
      ELSE concat('GB-COH-', {cs('j % 800')}) END AS orgid_raw,
    concat('Organisation ', {cs('j % 300')}) AS org_raw,
    CASE CAST(j % 3 AS INT) WHEN 0 THEN NULL WHEN 1 THEN 'GB'
      ELSE 'KE' END AS country_raw,
    CASE WHEN j % 4 = 0 THEN NULL
      ELSE concat('SW', {cs('j % 20')}, ' 1AA') END AS postal_raw,
    '360G-Wellcome' AS fundid_raw,
    'Wellcome Trust' AS fund_raw,
    CASE WHEN j % 3 = 0 THEN NULL
      ELSE concat('Scheme ', {cs('j % 6')}) END AS prog_raw,
    CASE WHEN j % 5 = 0 THEN NULL ELSE 'London' END AS benef_raw,
    CASE WHEN j % 5 = 0 THEN NULL ELSE 'GB' END AS benefc_raw,
    CASE WHEN j % 2 = 0 THEN NULL
      ELSE concat('Dr Lead ', {cs('j % 400')}) END AS lead_raw,
    CASE WHEN j % 6 = 0
      THEN concat('0000-000', {cs('j % 10')}, '-1825-009',
                  {cs('j % 10')}) END AS orcid_raw,
    CASE WHEN j % 3 = 0 THEN NULL
      ELSE concat('Dept ', {cs('j % 12')}) END AS dept_raw,
    CASE WHEN j % 4 = 0 THEN NULL
      ELSE concat('School ', {cs('j % 8')}) END AS school_raw,
    CASE WHEN j % 9 = 0 THEN 'Y' END AS multi_raw
  FROM wc_base
),
wc_first AS (
  -- drop_duplicates(subset=['grant_ref'], keep='first') in workbook
  -- order (wellcome_to_s3.py:305-309)
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY {ref_expr.replace('wc.', '')} ORDER BY k) AS rn
    FROM wc
  ) WHERE rn = 1
)
SELECT
  {ref_expr.replace('wc.', '')} AS grant_ref,
  ident360_raw AS identifier_360g,
  title_raw AS title, desc_raw AS description,
  cur_raw AS currency,
  {amt.replace('wc.', '')} AS amount,
  {iso('adate_raw')} AS award_date,
  {iso('sdate_raw')} AS start_date,
  {iso('edate_raw')} AS end_date,
  orgid_raw AS recipient_org_id, org_raw AS recipient_org_name,
  country_raw AS recipient_country, postal_raw AS recipient_postal_code,
  fundid_raw AS funding_org_id, fund_raw AS funding_org_name,
  prog_raw AS grant_programme,
  benef_raw AS beneficiary_location, benefc_raw AS beneficiary_country,
  lead_raw AS lead_applicant_name, orcid_raw AS lead_applicant_orcid,
  dept_raw AS department, school_raw AS school,
  multi_raw AS multi_location
FROM wc_first
"""


@register(
    "arcadia_parse_grants",
    oracle=sqlkit.build(_arcadia_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="Arcadia Fund 360Giving CSV parse (scripts/local/arcadia_to_s3.py)",
    spread=("orders",),
)
def arcadia_parse_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arcadia normalize (module docstring has the semantics map):
    single scan of column algebra, the fractional-vs-integral amount
    render and the synthetic year-bound dates preserved."""
    return spark.sql(sqlkit.build(_arcadia_sql, "spark"))


@register(
    "wellcome_parse_grants",
    oracle=sqlkit.build(_wellcome_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Wellcome Trust 360Giving workbook parse "
         "(scripts/local/wellcome_to_s3.py)"),
)
def wellcome_parse_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wellcome normalize: the citable Internal-ID award key with the
    360G-derived fallback, keep-first dedup on grant_ref, DOUBLE
    amounts; one scan + one keep-first window."""
    return spark.sql(sqlkit.build(_wellcome_sql, "spark"))
