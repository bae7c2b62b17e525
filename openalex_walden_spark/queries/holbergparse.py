"""Holberg Prize + Nils Klim Prize laureates parse
(scripts/local/holberg_to_s3.py — 577 LoC).

The reference enumerates the ``bc_prisvinner`` custom post type from
the holbergprisen.no WP REST API and resolves three taxonomies
(``bc_prize``, ``arstall``, ``land``) by id.  The HTTP layer and the
term-id -> term-dict lookup are the seam — the fixture delivers one
raw laureate record per orders key carrying the RESOLVED term slugs
(the prize array in document order, the year term name, the country
names '|'-joined), plus the raw rendered title and content HTML.
Everything downstream ports:

* the prize-resolution walk (:230-246): iterate ``bc_prize`` terms in
  order; hitting the excluded teaching-program slug
  (``holbergprisen-i-skolen``) NULLs the prize and breaks, so a record
  carrying the excluded term ANYWHERE is dropped; otherwise the LAST
  term wins.  Records with no prize term are dropped too;
* ``PRIZE_META`` (:62-68): per-prize hardcoded amount/currency —
  Holberg 6,000,000 NOK, Nils Klim 500,000 NOK; ``prize_name`` ships
  the META display name, not the term name (:364);
* title: ``html.unescape`` ONLY — no tag strip, no ws collapse
  (:263; fixture entities bounded to ``&amp;``);
* ``_strip_html`` (:305-308): tags -> space, unescape, ``\\s+``
  collapse, strip (fixture keeps NBSP out of content so Java and
  Python ``\\s`` agree — carlsberg NBSP precedent);
* ``extract_citation`` (:313-327): the Norwegian citation regex
  ``(?:Holbergprisen|Nils Klim-prisen)\\s+\\d{4}\\s+tildeles\\s+
  [^.]*?\\s+for\\s+(.+?)\\.`` (IGNORECASE|DOTALL) over the stripped
  content; group 1 stripped-or-NULL;
* ``split_name`` (:335-344): suffix-ONLY peel (PhD/MD/DPhil/Jr./Sr./
  II/III/IV, '.'-insensitive); single token -> given is the EMPTY
  STRING (not NULL) and family the token — preserved exactly because
  ``astype("string")`` ships '' as '';
* countries (:381-388): first resolved name = nationality, second =
  affiliation_country_raw, rest dropped;
* ``funder_award_id`` = '{prize_slug}-{year}-{slug}' (:368) —
  duplicates RAISE in the reference; the fixture mints unique slugs;
* ``declined=False`` -> 'False' and amounts ``str(int)`` under
  astype(string) (:393,:399).

Plan: ONE orders scan of pure column algebra behind Generate barriers
— zero exchanges, no Python.  tests/test_template_fidelity.py
re-derives the full expected output in Python and AST-pins PRIZE_META,
EXCLUDED_PRIZE_SLUGS and the suffix set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# holberg_to_s3.py:62-68 — slug -> (display name, amount NOK)
_PRIZE_META = {
    "holbergprisen": ("Holberg Prize", 6_000_000),
    "nils-klim-prisen": ("Nils Klim Prize", 500_000),
}
_EXCLUDED_SLUG = "holbergprisen-i-skolen"
_CURRENCY = "NOK"

# holberg_to_s3.py:333 — normalized forms actually compared (rstrip '.')
_SUFFIXES = ("PhD", "MD", "DPhil", "Jr", "Sr", "II", "III", "IV")

_CITE = ("(?is)(?:Holbergprisen|Nils Klim-prisen)\\\\s+\\\\d{4}"
         "\\\\s+tildeles\\\\s+[^.]*?\\\\s+for\\\\s+(.+?)\\\\.")


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    cs, bar, arr, asize, elem, jn = k.cs, k.bar, k.arr, k.asize, k.elem, k.jn
    sl, splitws, striphtml, unesc = k.sl, k.splitws, k.striphtml, k.unesc

    def contains(a: str, v: str) -> str:
        if dialect == "spark":
            return f"array_contains({a}, {v})"
        return f"list_contains({a}, {v})"

    suffixes = ", ".join(f"'{s}'" for s in _SUFFIXES)

    def peel_back(a: str) -> str:
        return (f"CASE WHEN {asize(a)} > 0 AND "
                f"trim(TRAILING '.' FROM {elem(a, asize(a))}) "
                f"IN ({suffixes}) "
                f"THEN {sl(a, '1', f'{asize(a)} - 1')} "
                f"ELSE {a} END")

    # Fixture: one raw bc_prisvinner record per orders key.  The prize
    # slug array exercises every branch of the resolution walk.
    fixture_cols = f"""
    concat('laureat-', {cs('o_orderkey')}) AS slug,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN {arr("'holbergprisen'")}
      WHEN 1 THEN {arr("'nils-klim-prisen'")}
      WHEN 2 THEN {arr(f"'{_EXCLUDED_SLUG}'", "'holbergprisen'")}
      WHEN 3 THEN {arr("'nils-klim-prisen'", "'holbergprisen'")}
      ELSE {arr()} END AS prize_slugs,
    CASE WHEN o_orderkey % 11 = 0 THEN NULL
      ELSE {cs('2004 + o_orderkey % 22')} END AS year_name,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN 'Norway'
      WHEN 2 THEN 'Norway|United Kingdom'
      ELSE 'Danmark|Norge|Sverige' END AS country_names,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN concat('Kari  Holm &amp; Nordmann ', {cs('o_orderkey')})
      WHEN 1 THEN 'Cherry'
      WHEN 2 THEN 'Ola Nordmann PhD'
      WHEN 3 THEN concat('Anne Beate Maurseth Jr. ', {cs('o_orderkey % 7')})
      WHEN 4 THEN 'Jan-Werner Muller Sr'
      ELSE concat('Griselda Pollock ', {cs('o_orderkey % 9')}) END
      AS title_rendered,
    {cs('100000 + o_orderkey')} AS wp_id,
    CASE CAST(o_orderkey % 7 AS INT)
      WHEN 0 THEN concat('<p>Holbergprisen ',
        {cs('2004 + o_orderkey % 22')},
        ' tildeles den norske forskeren <strong>X</strong> for ',
        'banebrytende forskning om felt ', {cs('o_orderkey % 13')},
        '. Mer omtale.</p>')
      WHEN 1 THEN concat('<p>Nils Klim-prisen ',
        {cs('2004 + o_orderkey % 22')},
        ' tildeles forskeren Y for fremragende  bidrag til nordisk ',
        'humaniora &amp; rettsvitenskap. Juryen sier mer.</p>')
      WHEN 2 THEN '<p>Vinneren mottok prisen under en seremoni.</p>'
      WHEN 3 THEN ''
      ELSE concat('<div>HOLBERGPRISEN ', {cs('2004 + o_orderkey % 22')},
        ' TILDELES professoren for innsats i faget nummer ',
        {cs('o_orderkey % 17')}, '. Slutt.</div>') END AS content_html"""

    meta_name = (f"CASE prize_slug WHEN 'holbergprisen' "
                 f"THEN '{_PRIZE_META['holbergprisen'][0]}' "
                 f"ELSE '{_PRIZE_META['nils-klim-prisen'][0]}' END")
    meta_amount = (f"CASE prize_slug WHEN 'holbergprisen' "
                   f"THEN '{_PRIZE_META['holbergprisen'][1]}' "
                   f"ELSE '{_PRIZE_META['nils-klim-prisen'][1]}' END")

    return f"""
WITH raw AS (
  SELECT o_orderkey AS k,{fixture_cols}
  FROM orders
),
{bar("resolved", "raw",
     ["k", "slug", "year_name", "country_names", "title_rendered",
      "wp_id", "content_html"], [
    ("prize_slug",
     f"CASE WHEN {contains('prize_slugs', repr(_EXCLUDED_SLUG))} "
     f"OR {asize('prize_slugs')} = 0 THEN NULL "
     f"ELSE {elem('prize_slugs', asize('prize_slugs'))} END"),
])},
{bar("parsed", "resolved",
     ["k", "slug", "prize_slug", "year_name", "country_names", "wp_id"], [
    ("title", unesc("title_rendered")),
    ("citation",
     f"nullif(trim(regexp_extract({striphtml('content_html')}, "
     f"'{_CITE}', 1)), '')"),
])},
{bar("toks0", "parsed",
     ["k", "slug", "prize_slug", "year_name", "country_names", "wp_id",
      "title", "citation"], [
    ("t0", splitws("title")),
])},
{bar("named", "toks0",
     ["k", "slug", "prize_slug", "year_name", "country_names", "wp_id",
      "title", "citation"], [
    ("toks", peel_back("t0")),
])}
SELECT
  concat(prize_slug, '-', coalesce(year_name, 'None'), '-', slug)
    AS funder_award_id,
  prize_slug,
  {meta_name} AS prize_name,
  year_name AS year,
  title AS laureate_full_name,
  CASE WHEN {asize('toks')} = 0 THEN ''
    WHEN {asize('toks')} = 1 THEN ''
    ELSE {jn('toks', f"{asize('toks')} - 1")} END AS laureate_given_name,
  CASE WHEN {asize('toks')} = 0 THEN ''
    ELSE {elem('toks', asize('toks'))} END AS laureate_family_name,
  nullif(split_part(coalesce(country_names, ''), '|', 1), '')
    AS nationality,
  nullif(split_part(coalesce(country_names, ''), '|', 2), '')
    AS affiliation_country_raw,
  citation AS description,
  {meta_amount} AS amount,
  '{_CURRENCY}' AS currency,
  concat('https://holbergprisen.no/', prize_slug, '/', slug)
    AS landing_page_url,
  wp_id AS wp_post_id,
  'False' AS declined
FROM named
WHERE prize_slug IS NOT NULL
"""


@register(
    "holberg_parse_laureates",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Holberg + Nils Klim laureates parse "
         "(scripts/local/holberg_to_s3.py)"),
)
def holberg_parse_laureates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holberg WP REST laureate parse: ordered prize-term resolution
    with the teaching-program exclusion, Norwegian citation extraction,
    suffix-only name split with empty-string given names, PRIZE_META
    amount attach.  One scan, zero exchanges, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
