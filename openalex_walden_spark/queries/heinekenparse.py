"""Heineken Prizes laureates parse
(scripts/local/heineken_prizes_to_s3.py — 487 LoC).

The reference pages the Avada ``avada_portfolio`` post type plus the
``portfolio_category`` taxonomy and keeps only records whose category
set intersects the 10 known award ids.  The HTTP layer is the seam —
the fixture delivers one portfolio record per orders key with its
category-id array, raw rendered title/excerpt/content, slug and link,
plus the category map (modeled as a literal lookup with one
deliberately missing entry to exercise the table fallback).
Everything downstream ports (:158-315):

* the award-category gate: no intersection -> record dropped;
  ``infer_award_family``: the six Heineken-Prize ids are checked
  BEFORE the four HYSA ids (a record carrying both is a prize);
  ``infer_field``: the SMALLEST known category id wins, the live map
  name preferred over the hardcoded table;
* ``clean_text`` (:158-163): NBSP -> space, ws collapse,
  strip-or-NULL; ``html_to_text`` (:166-171): BS text ONLY when '<'
  or '>' present — a tag-free value is NOT entity-unescaped
  (preserved: the fixture plants '&amp;' in both shapes);
* ``parse_scheme_and_year`` (:255-264): trailing ``(19|20)\\d{2}\\s*$``
  preferred, first-anywhere fallback (the scheme then truncates at
  the match start — 'The 2016 prize...' yields scheme 'The', the
  reference's own quirk); scheme = cleaned prefix-or-excerpt;
* ``amount_for_row`` (:267-272): HYSA -> 15000.0 EUR, Art ->
  100000.0 EUR, else 250000.0 USD, each with its program URL;
* ``split_name`` (:181-193): one anchored (?i) title strip
  (Sir/Dame/Prof.?/Professor/Dr.?); Dutch particles — a trailing
  'van der X' keeps a 3-token family, a single particle of
  {de, le, ten, ter, van, von} at the penultimate slot keeps a
  2-token family; single token -> (NULL, token);
* ``slugify`` (:174-178, warren-alpert shape) and the
  'heineken-{year}-{slug(scheme)}-{slug(name)}' ids; fixed funder/
  provenance columns; the final (year, scheme, name) sort is
  presentation-only (the driver compare is order-insensitive).

Plan: ONE orders scan of pure column algebra behind Generate barriers
— zero exchanges, no Python.  tests/test_template_fidelity.py
re-derives the full expected output in Python (the reference's real
regexes and particle rules) and AST-pins both category tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# heineken_prizes_to_s3.py:114-128
_PRIZE_IDS = {
    12: "Biochemistry and Biophysics",
    13: "Art",
    14: "Medicine",
    15: "History",
    16: "Environmental Sciences",
    17: "Cognitive Science",
}
_HYSA_IDS = {
    301: "Humanities",
    302: "Social Sciences",
    303: "Medical/Biomedical Sciences",
    304: "Natural Sciences",
}
# the fixture's live category map: id 14 deliberately ABSENT so the
# hardcoded-table fallback is exercised
_CAT_MAP = {**{k: v for k, v in _PRIZE_IDS.items() if k != 14},
            **_HYSA_IDS}
_PARTICLES = ("de", "le", "ten", "ter", "van", "von")

_PROVENANCE = "heineken_prizes_wp"
_LIST_URL = "https://www.heinekenprizes.org/list-of-laureates/"
_PRIZES_URL = "https://www.heinekenprizes.org/heineken-prizes/"
_HYSA_URL = ("https://www.heinekenprizes.org/"
             "heineken-young-scientists-awards/")

# reference patterns carry \b word boundaries (heineken_prizes_to_s3.py
# :257-259): digit-glued sequences like 'Ref20010' must NOT yield a year
_YEAR_TAIL = "\\\\b((?:19|20)[0-9]{2})\\\\s*$"
_YEAR_ANY = "\\\\b((?:19|20)[0-9]{2})\\\\b"
# reference scheme = clean(excerpt[:match.start()]) — the prefix before
# the MATCHED occurrence, not the first instr() hit of the year string.
# Anywhere-path: lazy prefix capture = everything before the leftmost
# boundary-delimited year (RE2-safe, no lookaround).
_PRE_ANY = "^(.*?)\\\\b(?:19|20)[0-9]{2}\\\\b"
_TITLE_STRIP = "(?i)^(?:Sir|Dame|Prof\\\\.?|Professor|Dr\\\\.?)\\\\s+"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, cs, bar, amin, arr, asize = k.g, k.cs, k.bar, k.amin, k.arr, k.asize
    clean_ws, elem, filt, jnspan = k.clean_ws, k.elem, k.filt, k.jnspan
    noints, overlap, rx, splitws = k.noints, k.overlap, k.rx, k.splitws

    def htmltext(x: str) -> str:
        # html_to_text (:166-171): BS path only when angle brackets
        # present; the tag-free path does NOT unescape entities
        bs = clean_ws(f"replace(regexp_replace({x}, '<[^>]+>', ' '{g}), "
                   f"'&amp;', '&')")
        return (f"CASE WHEN {x} IS NULL THEN NULL "
                f"WHEN instr({x}, '<') > 0 OR instr({x}, '>') > 0 "
                f"THEN {bs} ELSE {clean_ws(x)} END")

    prize_arr = arr(*[str(i) for i in sorted(_PRIZE_IDS)])
    hysa_arr = arr(*[str(i) for i in sorted(_HYSA_IDS)])
    known_arr = arr(*[str(i) for i in sorted(set(_PRIZE_IDS)
                                             | set(_HYSA_IDS))])

    map_cases = " ".join(f"WHEN {i} THEN '{n}'"
                         for i, n in sorted(_CAT_MAP.items()))
    table_cases = " ".join(
        f"WHEN {i} THEN '{n}'"
        for i, n in sorted({**_PRIZE_IDS, **_HYSA_IDS}.items()))

    known_sorted = filt("cat_ids",
                        f"{overlap(arr('t'), known_arr)}")
    # smallest known id (infer_field iterates sorted(category_ids))
    first_known = amin(known_sorted)
    field_expr = (f"coalesce(CASE {first_known} {map_cases} END, "
                  f"CASE {first_known} {table_cases} END)")

    particles = ", ".join(f"'{p}'" for p in _PARTICLES)

    # hoisted (f-string expression parts cannot carry backslashes):
    # excerpt with the end-anchored year match removed = excerpt[:m.start()]
    f_strip_tail = f"regexp_replace(excerpt, '{_YEAR_TAIL}', ''{g})"
    # prefix before the leftmost \b-delimited year ('' -> clean -> NULL)
    f_pre_any = f"regexp_extract(excerpt, '{_PRE_ANY}', 1)"

    def slug_of(x: str) -> str:
        s = (f"nullif(substring(trim(BOTH '-' FROM regexp_replace("
             f"regexp_replace(lower({x}), '[^a-z0-9]+', '-'{g}), "
             f"'-+', '-'{g})), 1, 90), '')")
        return f"coalesce(nullif(trim(BOTH '-' FROM {s}), ''), 'unknown')"

    # split_name (:181-193)
    n_ = asize("toks")
    last1 = elem("toks", n_)
    last2 = elem("toks", f"{n_} - 1")
    last3 = elem("toks", f"{n_} - 2")
    fam3 = jnspan("toks", f"{n_} - 2", "3")
    fam2 = jnspan("toks", f"{n_} - 1", "2")
    giv_for = lambda keep: jnspan("toks", "1", keep)  # noqa: E731

    idv26 = ("o_orderkey div 26" if dialect == "spark"
             else "o_orderkey // 26")
    idv676 = ("o_orderkey div 676" if dialect == "spark"
              else "o_orderkey // 676")

    fixture_cols = f"""
    60000 + o_orderkey AS wp_id,
    concat('laureaat-', {cs('o_orderkey')}) AS slug,
    CASE CAST(o_orderkey % 7 AS INT)
      WHEN 0 THEN {arr('12')}
      WHEN 1 THEN {arr('13')}
      WHEN 2 THEN {arr('301')}
      WHEN 3 THEN {arr('302', '15')}
      WHEN 4 THEN {arr('999')}
      WHEN 5 THEN {noints()}
      ELSE {arr('14', '888')} END AS cat_ids,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN concat('<h2>Prof. Bernard Feringa',
        chr(65 + CAST(o_orderkey % 26 AS INT)),
        {cs('o_orderkey')}, '</h2>')
      WHEN 1 THEN concat('Titia de Lange', {cs('o_orderkey')})
      WHEN 2 THEN concat('Jan van der Berg', {cs('o_orderkey')})
      WHEN 3 THEN concat('Cher',
        chr(65 + CAST(o_orderkey % 26 AS INT)),
        chr(65 + CAST(({idv26}) % 26 AS INT)),
        chr(65 + CAST(({idv676}) % 26 AS INT)))
      WHEN 4 THEN concat('Dame Janet Thompson', {cs('o_orderkey')})
      ELSE concat('M&amp;M Collective', {cs('o_orderkey')}) END
      AS title_html,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN concat('Dr H.P. Heineken Prize for Biochemistry ',
                         'and Biophysics ', {cs('1990 + o_orderkey % 35')})
      WHEN 1 THEN concat('The ', {cs('1995 + o_orderkey % 30')},
                         ' prize for history')
      WHEN 2 THEN concat('<em>Heineken Young Scientists Award</em> ',
                         {cs('2010 + o_orderkey % 15')}, '  ')
      WHEN 3 THEN concat('C.L. de Carvalho-Heineken Prize for Art ',
                  {cs('2000 + o_orderkey % 25')})
      WHEN 4 THEN concat({cs('1993 + o_orderkey % 30')}, ' Symposium ',
                         {cs('1993 + o_orderkey % 30')})
      ELSE concat('Ref', {cs('2001 + o_orderkey % 20')},
                  '0 archaeology prize ', {cs('1991 + o_orderkey % 28')},
                  ' edition') END AS excerpt_html,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('<p>Laureate portrait &amp; citation text ',
                  {cs('o_orderkey % 17')}, '.</p>') END AS content_html,
    concat('https://www.heinekenprizes.org/portfolio/laureaat-',
           {cs('o_orderkey')}, '/') AS link"""

    _PT = ["k", "wp_id", "slug", "cat_ids", "link"]

    return f"""
WITH rest AS (
  SELECT o_orderkey AS k,{fixture_cols}
  FROM orders
),
gated AS (
  SELECT * FROM rest
  WHERE {overlap('cat_ids', known_arr)}
),
{bar("famd", "gated", _PT, [
    ("award_family",
     f"CASE WHEN {overlap('cat_ids', prize_arr)} THEN 'heineken_prize' "
     f"WHEN {overlap('cat_ids', hysa_arr)} "
     f"THEN 'heineken_young_scientists_award' END"),
    ("field", field_expr),
    ("nm", htmltext("title_html")),
    ("excerpt", htmltext("excerpt_html")),
    ("content", htmltext("content_html")),
])},
{bar("yeared", "famd",
     _PT + ["award_family", "field", "nm", "excerpt", "content"], [
    ("year_tail", rx('excerpt', _YEAR_TAIL, 1)),
    ("year", f"coalesce({rx('excerpt', _YEAR_TAIL, 1)}, "
             f"{rx('excerpt', _YEAR_ANY, 1)})"),
])},
{bar("schemed", "yeared",
     _PT + ["award_family", "field", "nm", "excerpt", "content",
            "year_tail", "year"], [
    ("scheme",
     f"CASE WHEN year_tail IS NOT NULL THEN coalesce("
     f"{clean_ws(f_strip_tail)}, excerpt) "
     f"ELSE coalesce({clean_ws(f_pre_any)}, excerpt) END"),
    ("toks", splitws(
        f"regexp_replace(nm, '{_TITLE_STRIP}', ''{g})")),
])}
SELECT
  concat('heineken-', year, '-', {slug_of('scheme')}, '-',
         {slug_of('nm')}) AS funder_award_id,
  {cs('wp_id')} AS source_post_id,
  slug AS source_post_slug,
  concat(scheme, ' ', year, ' - ', nm) AS display_name,
  content AS description,
  year AS source_year,
  nm AS recipient_name,
  CASE WHEN {n_} = 1 THEN NULL
    WHEN {n_} >= 4 AND lower({last3}) = 'van' AND lower({last2}) = 'der'
      THEN {giv_for(f"{n_} - 3")}
    WHEN {n_} >= 3 AND lower({last2}) IN ({particles})
      THEN {giv_for(f"{n_} - 2")}
    ELSE {giv_for(f"{n_} - 1")} END AS given_name,
  CASE WHEN {n_} = 1 THEN {last1}
    WHEN {n_} >= 4 AND lower({last3}) = 'van' AND lower({last2}) = 'der'
      THEN {fam3}
    WHEN {n_} >= 3 AND lower({last2}) IN ({particles}) THEN {fam2}
    ELSE {last1} END AS family_name,
  award_family,
  scheme AS funder_scheme,
  field AS research_field,
  CASE WHEN award_family = 'heineken_young_scientists_award'
    THEN '15000.0' WHEN field = 'Art' THEN '100000.0'
    ELSE '250000.0' END AS amount,
  CASE WHEN award_family = 'heineken_young_scientists_award'
    THEN 'EUR' WHEN field = 'Art' THEN 'EUR' ELSE 'USD' END AS currency,
  concat(year, '-01-01') AS start_date,
  concat(year, '-12-31') AS end_date,
  link AS landing_page_url,
  '{_LIST_URL}' AS source_list_url,
  CASE WHEN award_family = 'heineken_young_scientists_award'
    THEN '{_HYSA_URL}' ELSE '{_PRIZES_URL}' END AS amount_source_url,
  '{_PROVENANCE}' AS provenance
FROM schemed
"""


@register(
    "heineken_parse_prizes",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Heineken Prizes laureates parse "
         "(scripts/local/heineken_prizes_to_s3.py)"),
)
def heineken_parse_prizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heineken Avada-portfolio parse: award-category gate with the
    prize-before-HYSA family precedence and smallest-known-id field
    resolution (live map over hardcoded table), trailing-else-anywhere
    year with the scheme-prefix quirk, program-rule amounts, Dutch
    particle name splitting.  One scan, zero exchanges, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
