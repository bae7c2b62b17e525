"""Conrad N. Hilton Foundation grants parse
(scripts/local/hilton_to_s3.py — 555 LoC).

The reference enumerates the WP ``grant`` custom post type (id, slug,
link, title, class_list-derived program-area/area/grant_year slugs),
resolves the program-area taxonomy to labels, and reads each grant's
server-rendered ``<ul class="grant-info-list">`` sidebar of
``<li><strong>Label:</strong> value</li>`` rows.  The HTTP layer, the
class_list prefix scan (:246-252) and the ``parse_detail`` DOM walk
(:315-335) are the seam — the fixture delivers one grant per orders
key carrying the REST fields plus the post-DOM label->value map.
Everything downstream ports (``build_row`` :338-391):

* REST title: ``html.unescape(...).strip() or None`` (:255 — fixture
  entity subset ``&amp;``);
* ``parse_amount`` (:283-291): ``\\$\\s*([0-9][0-9,]*(?:\\.[0-9]+)?)``
  -> float (comma strip) — a value with no $ sign ships NULL;
* ``parse_month_year`` (:295-305): '(Month)[.,] YYYY' with the
  12-month table gate, bare ``\\b(19|20)\\d{2}\\b`` year fallback —
  only the year half is consumed;
* ``parse_int`` (:308-312): first digit run;
* start_year prefers Project Start Date, falls back to Awarded Date
  (:361-363);
* program = prog_map[slug] else ``slug.replace('-',' ').title()``
  (:365-367); area_served = detail field else the same title-cased
  area_slug fallback (:377-378);
* currency USD iff amount parsed; amounts ship ``str(float)`` under
  astype(string); year/term ints ship ``str(int)``;
* funder_award_id = the URL slug (native id, :389); slug collisions
  RAISE (:404-407) — the fixture mints unique slugs; rows with no
  slug are skipped (:343-345).

ORG-level funder: no PI columns by source design (module docstring
:38-41).

Plan: ONE orders scan of pure column algebra behind Generate barriers
— zero exchanges, no Python.  tests/test_template_fidelity.py
re-derives the full expected output in Python and AST-pins MONTHS and
the label vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# hilton_to_s3.py:139-144
_MONTHS = ("january", "february", "march", "april", "may", "june",
           "july", "august", "september", "october", "november",
           "december")
_CURRENCY = "USD"

# the fixture's program-area taxonomy resolution (slug -> label); the
# reference fetches this live — two resolvable slugs + the title-case
# fallback arms
_PROG_MAP = {
    "safe-water": "Safe Water Initiative",
    "homelessness": "Homelessness",
}

_AMOUNT = "\\\\$\\\\s*([0-9][0-9,]*(?:\\\\.[0-9]+)?)"
_MONTH_YEAR = "([A-Za-z]+)\\\\.?,?\\\\s+(\\\\d{4})"
_BARE_YEAR = "\\\\b(19\\\\d{2}|20\\\\d{2})\\\\b"
_DIGITS = "(\\\\d+)"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    cs, bar, rx, titlecase, unesc = k.cs, k.bar, k.rx, k.titlecase, k.unesc

    months = ", ".join(f"'{m}'" for m in _MONTHS)

    def year_of(x: str) -> str:
        """parse_month_year (:295-305), year half only."""
        m1 = rx(x, _MONTH_YEAR, 1)
        y1 = rx(x, _MONTH_YEAR, 2)
        bare = rx(x, _BARE_YEAR, 1)
        return (f"CASE WHEN {x} IS NULL THEN NULL "
                f"WHEN lower(coalesce({m1}, '')) IN ({months}) THEN {y1} "
                f"ELSE {bare} END")

    prog_cases = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in _PROG_MAP.items())

    fixture_cols = f"""
    concat('grant-', {cs('o_orderkey')}) AS slug,
    concat('https://www.hiltonfoundation.org/grant/grant-',
           {cs('o_orderkey')}, '/') AS link,
    CASE WHEN o_orderkey % 13 = 0 THEN NULL
      ELSE concat('World Resources Institute &amp; Partners ',
                  {cs('o_orderkey')}) END AS title_rendered,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN 'safe-water'
      WHEN 1 THEN 'homelessness'
      WHEN 2 THEN 'foster-youth'
      WHEN 3 THEN NULL
      ELSE 'avoidable-blindness' END AS prog_slug,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN 'africa'
      WHEN 1 THEN 'united-states'
      ELSE NULL END AS area_slug,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE concat('Grantee Org Number ', {cs('o_orderkey % 50')}) END
      AS grantee_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('Support for program work stream ',
                  {cs('o_orderkey % 17')}, ' in the region.') END
      AS desc_raw,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN concat('$', {cs('o_orderkey % 9 + 1')}, ',',
                         lpad({cs('o_orderkey % 1000')}, 3, '0'), ',000')
      WHEN 1 THEN '$2,500,000.50'
      WHEN 2 THEN 'USD 100000'
      WHEN 3 THEN NULL
      WHEN 4 THEN concat('$ ', {cs('100000 + o_orderkey % 900')})
      ELSE '$750000' END AS amount_raw_f,
    CASE WHEN o_orderkey % 8 = 0 THEN NULL
      ELSE concat('November, ', {cs('2010 + o_orderkey % 14')}) END
      AS awarded_raw,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('December ', {cs('2011 + o_orderkey % 13')})
      WHEN 1 THEN concat('Fall ', {cs('2012 + o_orderkey % 12')})
      WHEN 2 THEN NULL
      ELSE 'sometime soon' END AS start_raw,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('August, ', {cs('2016 + o_orderkey % 10')}) END
      AS end_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat({cs('12 + o_orderkey % 48')}, ' months') END AS term_raw,
    CASE WHEN o_orderkey % 6 = 0
      THEN concat('Region Block ', {cs('o_orderkey % 4')}) END AS area_raw,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN 'Yes' WHEN 1 THEN 'No' ELSE NULL END AS priority_raw,
    CASE WHEN o_orderkey % 2 = 0
      THEN concat('https://grantee', {cs('o_orderkey % 100')}, '.org/')
      END AS website_href"""

    _PT = ["k", "slug", "link", "prog_slug", "area_slug", "grantee_raw",
           "desc_raw", "amount_raw_f", "awarded_raw", "start_raw",
           "end_raw", "term_raw", "area_raw", "priority_raw",
           "website_href"]

    return f"""
WITH rest AS (
  SELECT o_orderkey AS k,{fixture_cols}
  FROM orders
),
{bar("parsed", "rest", _PT, [
    ("title_unesc",
     f"nullif(trim({unesc('title_rendered')}), '')"),
    ("amount_d",
     f"try_cast(replace({rx('amount_raw_f', _AMOUNT, 1)}, ',', '') "
     f"AS DOUBLE)"),
    ("awarded_year", year_of("awarded_raw")),
    ("start_year0", year_of("start_raw")),
    ("end_year", year_of("end_raw")),
    ("term_months", rx("term_raw", _DIGITS, 1)),
])}
SELECT
  slug,
  slug AS funder_award_id,
  coalesce(grantee_raw, title_unesc) AS title,
  coalesce(grantee_raw, title_unesc) AS grantee_org,
  desc_raw AS description,
  CASE WHEN prog_slug IS NULL THEN NULL
    ELSE CASE prog_slug {prog_cases}
      ELSE {titlecase("replace(prog_slug, '-', ' ')")} END END AS program,
  prog_slug AS program_slug,
  coalesce(area_raw, CASE WHEN area_slug IS NOT NULL
    THEN {titlecase("replace(area_slug, '-', ' ')")} END) AS area_served,
  {cs('amount_d')} AS amount,
  amount_raw_f AS amount_raw,
  CASE WHEN amount_d IS NOT NULL THEN '{_CURRENCY}' END AS currency,
  awarded_year,
  coalesce(start_year0, awarded_year) AS start_year,
  end_year,
  term_months,
  priority_raw AS related_priority,
  website_href AS website_url,
  link AS landing_page_url
FROM parsed
"""


@register(
    "hilton_parse_grants",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="Hilton Foundation grants parse (scripts/local/hilton_to_s3.py)",
)
def hilton_parse_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilton grant-info-list parse: $-anchored amount grammar,
    month-table year extraction with bare-year fallback, start-year
    awarded-date fallback, taxonomy-else-titlecased program/area,
    org-level rows (no PI by source design).  One scan, zero
    exchanges, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
