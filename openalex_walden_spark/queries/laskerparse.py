"""Lasker Awards parse (scripts/local/lasker_to_s3.py — 264 LoC).

The reference fetches the ``winners`` custom post type with
``_embed=1`` so each award post inlines its three taxonomies (award,
year_of_award, winners_name) and expands one row per (award x
laureate).  The HTTP layer and the BeautifulSoup aw-name/aw-work card
pairing are the seam — the fixture delivers one award post per orders
key with the embedded term lists and the (aw-name, aw-work) pairs in
document order.  Everything downstream ports (``expand_award``
:141-205):

* year-wrapper posts (no winners_name terms) produce NO rows
  (:159-160);
* award_name = the first award term; year = the first year term's
  name if it ``isdigit()`` (:163-168);
* ``html_to_text`` (:101-104): tags -> space, ws collapse, strip —
  NO entity unescape (the reference never unescapes here; the fixture
  keeps entities out);
* achievement title = cleaned title.rendered; description = cleaned
  content[:1500];
* the affiliation map (:107-133): aw-name/aw-work pairs keyed by the
  LAST whitespace token of aw-name, lowercased; laureates join by
  their family name lowered;
* laureate term names are 'Family, Given' — split on the FIRST comma;
  a comma-less name falls back to last-token-family /
  rest-given-or-NULL (:183-191);
* one output row per laureate term, in term order.

The runtime-only ``downloaded_at`` column is not ported (carlsberg
precedent).  No amounts by source design (§6.7 — Lasker publishes no
per-laureate share).

Plan: ONE orders scan + one Generate explode over the laureate terms
— zero exchanges, no Python.  tests/test_template_fidelity.py
re-derives the full expected output in Python and pins the regex and
split rules against the reference source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, cs, bar, arr, asize, elem = k.g, k.cs, k.bar, k.arr, k.asize, k.elem
    jn, splitws = k.jn, k.splitws

    isdigits = ("rlike '^[0-9]+$'" if dialect == "spark"
                else "SIMILAR TO '[0-9]+'")

    def map_from(keys: str, vals: str) -> str:
        if dialect == "spark":
            return f"map_from_arrays({keys}, {vals})"
        return f"map({keys}, {vals})"

    def map_get(m: str, key: str) -> str:
        if dialect == "spark":
            return f"try_element_at({m}, {key})"
        return f"(map_extract({m}, {key}))[1]"

    def totext(x: str) -> str:
        # html_to_text (lasker:101-104) — no unescape by design
        e = f"regexp_replace({x}, '<[^>]+>', ' '{g})"
        return f"trim(regexp_replace({e}, '\\\\s+', ' '{g}))"

    # laureate-term explode: per-dialect
    if dialect == "spark":
        lexplode = ("LATERAL VIEW posexplode(laureate_terms) _lv AS "
                    "lpos, lt")
    else:
        lexplode = ("CROSS JOIN UNNEST(list_transform(range(1, "
                    "len(laureate_terms) + 1), _i -> struct_pack("
                    "lpos := _i - 1, lt := laureate_terms[_i]))) "
                    "AS _lv(_z)")

    # fixture laureate term-name pools (reference terms are
    # 'Family, Given'; one comma-less arm exercises the fallback)
    lt1 = "concat('Tsao', lk, ', Doris Ying')"
    lt2 = "concat('Welsh', lk, ', Michael J.')"
    lt3 = "'Rihanna'"
    # aw-name card names whose LAST token keys the affiliation map
    an1 = "concat('Doris Ying Tsao', lk)"
    an2 = "concat('Michael J. Welsh', lk)"

    fixture = f"""
posts AS (
  SELECT o_orderkey AS k,
    concat(chr(65 + CAST(o_orderkey % 26 AS INT)),
           chr(97 + CAST(o_orderkey % 13 AS INT))) AS lk2,
    {cs('o_orderkey')} AS lk,
    50000 + o_orderkey AS wp_post_id,
    concat('winners-', {cs('o_orderkey')}) AS wp_slug,
    concat('https://laskerfoundation.org/winners/winners-',
           {cs('o_orderkey')}, '/') AS url,
    concat({cs('2000 + o_orderkey % 26')}, '-09-',
           lpad({cs('o_orderkey % 24 + 2')}, 2, '0'), 'T08:00:00')
      AS wp_date,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE {elem(arr("'BASIC'", "'CLINICAL'", "'SPECIAL ACHIEVEMENT'"),
                 'CAST(o_orderkey % 3 AS INT) + 1')} END AS award_name,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN {cs('2000 + o_orderkey % 26')}
      WHEN 1 THEN {cs('2000 + o_orderkey % 26')}
      WHEN 2 THEN 'TBD'
      ELSE NULL END AS year_name,
    concat('<em>Triple-drug therapy ', {cs('o_orderkey % 17')},
           '</em>') AS title_html,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 4 THEN {arr()}
      WHEN 3 THEN {arr(lt3)}
      WHEN 2 THEN {arr(lt1)}
      ELSE {arr(lt1, lt2)} END AS laureate_terms,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 4 THEN {arr()}
      WHEN 3 THEN {arr()}
      WHEN 2 THEN {arr(an1)}
      ELSE {arr(an1, an2)} END AS aw_names,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 4 THEN {arr()}
      WHEN 3 THEN {arr()}
      WHEN 2 THEN {arr(f"concat('Caltech Division ', {cs('o_orderkey % 6')})")}
      ELSE {arr(f"concat('Caltech Division ', {cs('o_orderkey % 6')})",
                f"concat('University of Iowa Dept ', {cs('o_orderkey % 8')})")}
      END AS aw_works,
    concat('<p class="aw-sum">Summary of achievement ',
           {cs('o_orderkey % 11')}, ' with  extra detail.</p>')
      AS content_html
  FROM orders
)"""

    # family key of each aw-name (last ws token, lowered)
    fam_key = ("lower(" + elem(splitws("t"), asize(splitws("t"))) + ")")
    if dialect == "spark":
        keys = f"transform(aw_names, t -> {fam_key})"
    else:
        keys = f"list_transform(aw_names, t -> {fam_key})"

    # laureate 'Family, Given' split on FIRST comma
    fam_c = "trim(split_part(lt, ',', 1))"
    giv_c = "nullif(trim(substr(lt, instr(lt, ',') + 1)), '')"
    nl1 = f"{asize(splitws('lt'))} - 1"

    return f"""
WITH {fixture},
{bar("mapped", "posts",
     ["k", "wp_post_id", "wp_slug", "url", "wp_date", "award_name",
      "year_name", "laureate_terms"], [
    ("affil_map", map_from(keys, "aw_works")),
    ("achievement_title", totext("title_html")),
    ("excerpt", f"substring({totext('content_html')}, 1, 1500)"),
])},
exploded AS (
  SELECT k, wp_post_id, wp_slug, url, wp_date, award_name, year_name,
    affil_map, achievement_title, excerpt,
    {"lpos, lt" if dialect == "spark" else "_z.lpos AS lpos, _z.lt AS lt"}
  FROM mapped
  {lexplode}
),
{bar("named", "exploded",
     ["k", "wp_post_id", "wp_slug", "url", "wp_date", "award_name",
      "year_name", "affil_map", "achievement_title", "excerpt", "lpos",
      "lt"], [
    ("family_name",
     f"CASE WHEN instr(lt, ',') > 0 THEN {fam_c} "
     f"ELSE {elem(splitws('lt'), asize(splitws('lt')))} END"),
    ("given_name",
     f"CASE WHEN instr(lt, ',') > 0 THEN {giv_c} "
     f"WHEN {asize(splitws('lt'))} > 1 "
     f"THEN {jn(splitws('lt'), nl1)} END"),
])}
SELECT
  wp_post_id,
  wp_slug,
  url,
  wp_date,
  award_name,
  CASE WHEN year_name IS NOT NULL AND year_name {isdigits}
    THEN CAST(year_name AS INT) END AS year,
  achievement_title,
  lt AS laureate_name,
  given_name AS laureate_given_name,
  family_name AS laureate_family_name,
  900000 + k * 10 + lpos AS laureate_term_id,
  concat('laureate-', {cs('k')}, '-', {cs('lpos')}) AS laureate_slug,
  {map_get('affil_map', 'lower(coalesce(family_name, chr(1)))')}
    AS affiliation,
  excerpt AS description
FROM named
"""


@register(
    "lasker_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="Lasker Awards parse (scripts/local/lasker_to_s3.py)",
)
def lasker_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lasker award x laureate expansion: year-wrapper skip, isdigit
    year gate, aw-name/aw-work affiliation map keyed by lowered last
    token, 'Family, Given' first-comma split with the comma-less
    fallback, content[:1500] excerpt.  One scan + one Generate, zero
    exchanges, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
