"""CURE Epilepsy grants parse
(scripts/local/cure_epilepsy_to_s3.py — 188 LoC).

The reference enumerates the ``grants_awarded`` WP REST post type and
merges in the no-JS archive cards (scheme + 'PI / Institution') by the
card's detail-page slug — a dict lookup with a missing arm
(``cards.get(slug, {})``).  The HTTP layer, the ``.alm-item`` card
selectors and the slug-keyed dict merge are the seam — the fixture
delivers one REST record per orders key with its card fields inline
plus a card-missing arm.  Everything downstream ports:

* slug = link.rstrip('/') last path segment (:155);
* title/description: BeautifulSoup text of the rendered HTML (tags ->
  space, entity subset, ws collapse); empty -> NULL via ``or None``;
* the 'PI / Institution' FIRST-'/' split (:109-113): both sides
  stripped; no '/' -> PI only;
* ``parse_pi`` (:53-62): first name of the ``;| and |&`` split, the
  anchored (?i) title strip (Professor/Prof/Dr/Mr/Mrs/Ms/Miss), the
  trailing-degree regex ``,?\\s*(PhD|MD|MBBS|DVM|PharmD|ScD|DO|MPH)
  \\.?\\s*$`` strip + rstrip(','), single-token -> (NULL, token);
* funder_award_id = 'cure-{wp id else slug}' (:157);
* amounts/dates NOT published (§6.7 waiver, docstring :16-17).

Plan: ONE orders scan of pure column algebra behind Generate barriers
— zero exchanges, no Python.  tests/test_template_fidelity.py
re-derives the full expected output in Python and pins the regexes
and the title/degree vocabularies against the reference source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_TITLE_STRIP = "(?i)^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss)\\\\.?\\\\s+"
_DEGREE_TAIL = ("(?i),?\\\\s*(PhD|MD|MBBS|DVM|PharmD|ScD|DO|MPH)"
                "\\\\.?\\\\s*$")
_FIRST_SPLIT = ";| and |&"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, cs, bar, asize, elem, jn = k.g, k.cs, k.bar, k.asize, k.elem, k.jn
    splitre, splitws, striphtml = k.splitre, k.splitws, k.striphtml

    pi_raw_expr = ("CASE WHEN NOT has_card OR pi_inst IS NULL THEN NULL "
                   "WHEN instr(pi_inst, '/') > 0 THEN "
                   "trim(substr(pi_inst, 1, instr(pi_inst, '/') - 1)) "
                   "ELSE trim(pi_inst) END")
    inst_expr = ("CASE WHEN NOT has_card OR pi_inst IS NULL "
                 "OR instr(pi_inst, '/') = 0 THEN NULL "
                 "ELSE trim(substr(pi_inst, instr(pi_inst, '/') + 1)) END")

    first_name = f"trim({elem(splitre('pi_raw', _FIRST_SPLIT), '1')})"
    stripped = ("trim(BOTH ',' FROM trim(regexp_replace(regexp_replace("
                + first_name + ", '" + _TITLE_STRIP + "', ''" + g + "), '"
                + _DEGREE_TAIL + "', ''" + g + ")))")

    fixture_cols = f"""
    70000 + o_orderkey AS wp_id,
    concat('grant-', {cs('o_orderkey')}) AS slug,
    concat('https://www.cureepilepsy.org/grant_type/grant-',
           {cs('o_orderkey')}, '/') AS link,
    CASE WHEN o_orderkey % 13 = 0 THEN ''
      ELSE concat('<span>Targeting channelopathy &amp; seizure ',
                  'circuit ', {cs('o_orderkey % 9')}, '</span>') END
      AS title_html,
    CASE WHEN o_orderkey % 6 = 0 THEN ''
      ELSE concat('<p>Excerpt describing  aim ', {cs('o_orderkey % 11')},
                  ' of the project.</p>') END AS excerpt_html,
    (o_orderkey % 5 <> 0) AS has_card,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN 'Taking Flight Award'
      WHEN 1 THEN 'CURE Epilepsy Award'
      WHEN 2 THEN NULL
      ELSE concat('Catalyst Award ', {cs('o_orderkey % 3')}) END
      AS scheme_raw,
    CASE CAST(o_orderkey % 7 AS INT)
      WHEN 0 THEN concat('Dr. Maria Santos ', {cs('o_orderkey % 9')},
                         ', PhD / Boston Children''s Hospital')
      WHEN 1 THEN concat('Professor Anil Gupta ', {cs('o_orderkey % 8')},
                         ' and Dr Jane Lee / University of Melbourne')
      WHEN 2 THEN 'Cher / Stanford University'
      WHEN 3 THEN concat('Rafael Ortiz ', {cs('o_orderkey % 5')},
                         ' MBBS / Hospital Nacional; extra')
      WHEN 4 THEN 'Ms Ada Byron-King'
      WHEN 5 THEN NULL
      ELSE concat('Wei Chen ', {cs('o_orderkey % 6')},
                  ' & Tomas Novak / Charles University') END AS pi_inst"""

    _PT = ["k", "wp_id", "slug", "link", "has_card", "scheme_raw"]

    return f"""
WITH rest AS (
  SELECT o_orderkey AS k,{fixture_cols}
  FROM orders
),
{bar("carded", "rest", _PT, [
    ("title", striphtml("title_html")),
    ("description", striphtml("excerpt_html")),
    ("pi_raw", pi_raw_expr),
    ("institution", inst_expr),
])},
{bar("stripped", "carded",
     _PT + ["title", "description", "pi_raw", "institution"], [
    ("pname", f"CASE WHEN pi_raw IS NOT NULL THEN {stripped} END"),
])},
{bar("toks", "stripped",
     _PT + ["title", "description", "pi_raw", "institution", "pname"], [
    ("t0", splitws("coalesce(pname, '')")),
])}
SELECT
  concat('cure-', {cs('wp_id')}) AS funder_award_id,
  title,
  description,
  CASE WHEN pi_raw IS NULL OR {asize('t0')} < 2 THEN NULL
    ELSE {jn('t0', f"{asize('t0')} - 1")} END AS pi_given,
  CASE WHEN pi_raw IS NULL THEN NULL
    WHEN {asize('t0')} < 2 THEN nullif(pname, '')
    ELSE {elem('t0', asize('t0'))} END AS pi_family,
  institution,
  CASE WHEN has_card THEN scheme_raw END AS programme,
  link AS landing_page_url
FROM toks
"""


@register(
    "cure_epilepsy_parse_grants",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("CURE Epilepsy grants parse "
         "(scripts/local/cure_epilepsy_to_s3.py)"),
)
def cure_epilepsy_parse_grants(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """CURE Epilepsy REST+card merge: slug-keyed card lookup with the
    missing arm, first-'/' PI/institution split, first-name-of-list
    pick with title strip and degree-tail regex, 'cure-{id}' ids.
    One scan, zero exchanges, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
