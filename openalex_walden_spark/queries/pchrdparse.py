"""DOST-PCHRD ongoing projects parse
(scripts/local/pchrd_to_s3.py — 391 LoC).

The reference pages the ``ongoing_projects`` WP REST endpoint and
resolves two taxonomies (projects_category, implementing_agency) by
id.  The HTTP layer (incl. the documented verify=False certificate
shim) and the term-id lookup are the seam — the fixture delivers one
project per orders key with the RESOLVED taxonomy name lists, raw
rendered title/content and WP dates.  Everything downstream ports
(``fetch_projects`` :204-266):

* records with an empty WP id are skipped (:227-229);
* ``clean_text`` (:130-137): tags -> space, unescape (fixture entity
  subset), ws collapse, strip-or-NULL;
* ``normalize_date`` (:140-144): the anchored ``^(\\d{4}-\\d{2}-
  \\d{2})`` prefix; source_year = its first 4 chars;
* category/agency: FIRST resolved name (or NULL) in the scalar
  columns, the full resolved lists as JSON arrays
  (``json.dumps(..., ensure_ascii=False)`` — '["A", "B"]' with
  ', ' separators, '[]' when empty; fixture names carry no
  JSON-escapable characters, documented bound);
* ``funder_award_id`` = 'pchrd-{wp_id}'; amount/currency NULL under
  the §6.7 waiver; fixed funder columns; ``source_api_url`` is the
  requests-resolved page URL — re-derived from the fixture's
  synthetic pagination (50/page over the orders key, the mirror
  applies the same rule); the runtime-only ``downloaded_at`` is not
  ported (carlsberg precedent).

Plan: ONE orders scan of pure column algebra behind Generate barriers
— zero exchanges, no Python.  tests/test_template_fidelity.py
re-derives the full expected output in Python and pins the grammar
against the reference source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_FUNDER_ID = "4320335609"
_FUNDER_NAME = "Philippine Council for Health Research and Development"
_PROVENANCE = "pchrd_ongoing_projects"
_ENDPOINT = "https://www.pchrd.dost.gov.ph/wp-json/wp/v2/ongoing_projects"

_DATE = "^([0-9]{4}-[0-9]{2}-[0-9]{2})"

# fixture taxonomy pools (resolved names — the id lookup is the seam)
_CATS = ("Drug Discovery", "OMICS & Health", "Digital Health",
         "Nutrition")
_AGENCIES = ("University of the Philippines Manila",
             "De La Salle University", "DOST Regional Office")


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    S, cs, bar, arr, asize, elem = k.S, k.cs, k.bar, k.arr, k.asize, k.elem
    jnsep, rx, striphtml, tx = k.jnsep, k.rx, k.striphtml, k.tx

    def jsonlist(a: str) -> str:
        quoted = tx(a, "concat('\"', t, '\"')")
        return (f"CASE WHEN {asize(a)} = 0 THEN '[]' "
                f"ELSE concat('[', {jnsep(quoted, chr(39) + ', ' + chr(39))}, ']') END")

    idiv50 = ("o_orderkey div 50" if dialect == "spark"
              else "o_orderkey // 50")

    c = [f"'{x}'" for x in _CATS]
    a = [f"'{x}'" for x in _AGENCIES]
    fixture_cols = f"""
    CASE WHEN o_orderkey % 17 = 0 THEN ''
      ELSE {cs('80000 + o_orderkey')} END AS wp_id,
    concat('project-', {cs('o_orderkey')}) AS slug_raw,
    CASE WHEN o_orderkey % 13 = 0 THEN NULL
      ELSE concat('<span>Genomic surveillance &amp; response study ',
                  {cs('o_orderkey % 11')}, '</span>') END AS title_html,
    CASE WHEN o_orderkey % 5 = 0 THEN ''
      ELSE concat('<p>Ongoing  project content on topic ',
                  {cs('o_orderkey % 19')}, '.</p>') END AS content_html,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN {arr(c[0])}
      WHEN 1 THEN {arr(c[1], c[2])}
      WHEN 2 THEN {arr()}
      ELSE {arr(c[3])} END AS cat_names,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN {arr(a[0], a[1])}
      WHEN 1 THEN {arr(a[2])}
      ELSE {arr()} END AS agency_names,
    CASE WHEN o_orderkey % 7 = 0 THEN 'not a date'
      ELSE concat({cs('2015 + o_orderkey % 11')}, '-',
                  lpad({cs('o_orderkey % 12 + 1')}, 2, '0'), '-',
                  lpad({cs('o_orderkey % 28 + 1')}, 2, '0'),
                  'T03:14:00') END AS wp_date,
    concat({cs('2016 + o_orderkey % 10')}, '-02-',
           lpad({cs('o_orderkey % 27 + 1')}, 2, '0'), 'T11:00:00')
      AS wp_modified,
    concat('https://www.pchrd.dost.gov.ph/projects/project-',
           {cs('o_orderkey')}, '/') AS link,
    {cs(f'({idiv50}) % 20 + 1')} AS page_no"""

    _PT = ["k", "wp_id", "slug_raw", "cat_names", "agency_names",
           "wp_date", "wp_modified", "link", "page_no"]

    return f"""
WITH rest AS (
  SELECT o_orderkey AS k,{fixture_cols}
  FROM orders
),
kept AS (
  SELECT * FROM rest WHERE trim(wp_id) <> ''
),
{bar("parsed", "kept", _PT, [
    ("display_name", striphtml("title_html")),
    ("description", striphtml("content_html")),
    ("slug", striphtml("slug_raw")),
    ("source_date", rx("wp_date", _DATE, 1)),
    ("modified_date", rx("wp_modified", _DATE, 1)),
])}
SELECT
  concat('pchrd-', wp_id) AS funder_award_id,
  wp_id,
  slug,
  display_name,
  description,
  {elem('cat_names', '1')} AS project_category,
  {jsonlist('cat_names')} AS project_categories,
  {elem('agency_names', '1')} AS source_implementing_agency,
  {jsonlist('agency_names')} AS implementing_agencies,
  source_date AS source_posted_date,
  modified_date AS source_modified_date,
  substring(source_date, 1, 4) AS source_year,
  link AS landing_page_url,
  concat('{_ENDPOINT}?per_page=50&page=', page_no) AS source_api_url,
  CAST(NULL AS {S}) AS amount,
  CAST(NULL AS {S}) AS currency,
  '{_FUNDER_ID}' AS funder_id,
  '{_FUNDER_NAME}' AS funder_display_name,
  '{_PROVENANCE}' AS provenance
FROM parsed
"""


@register(
    "pchrd_parse_projects",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="PCHRD ongoing projects parse (scripts/local/pchrd_to_s3.py)",
)
def pchrd_parse_projects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCHRD WP REST parse: empty-id skip, anchored date-prefix
    normalization with year slice, first-term scalars + JSON-array
    taxonomy lists, §6.7 NULL amounts, fixed funder columns.  One
    scan, zero exchanges, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
