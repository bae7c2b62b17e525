"""SSF (Swedish Foundation for Strategic Research) grants parse
(scripts/local/ssf_to_s3.py — 245 LoC).

The reference crawls the strategiska.se call index, then each call's
``/projekt/`` grant table (DNr | Projekttitel | Projektledare |
Forskningsomrade | datum | belopp).  The HTTP layer, the table
discovery (header contains 'dnr') and the substring header->cell
resolution are the seam — the fixture delivers one table row per
orders key with the resolved cell texts plus its call slug.
Everything downstream ports (``parse_projekt`` :104-154):

* rows with neither DNr nor title are skipped (:131-132);
* ``yymmdd_to_date`` (:56-63): the 6-digit token with the yy<=40 ->
  2000s pivot, '{year}-{mm}-{dd}' (no calendar validation — the
  reference formats the raw mm/dd digits); the date-range regex
  ``(\\d{6})\\s*[-–]\\s*(\\d{6})``; start_year = the start date's
  year;
* ``parse_pi`` (:67-77): 'Lastname, Firstname' first-comma split with
  both sides stripped-or-NULL; comma-less multi-token -> (rest,
  last); single token -> (NULL, token);
* ``parse_amount`` (:80-84): digits-only string or NULL;
* ``slug_to_programme`` (:87-89): detach a trailing '-YYYY' into
  ' YYYY', '-' -> ' ', str.title();
* funder_award_id = DNr else the positional 'ssf-{slug}-{idx}'
  fallback (:134 — the fixture's tables are single-row so idx = 0).
  The cross-call keep-first dedupe (:216-219) is crawl-order driven
  and the fixture mints unique ids (round-11 collision note).

Plan: ONE orders scan of pure column algebra behind Generate barriers
— zero exchanges, no Python.  tests/test_template_fidelity.py
re-derives the full expected output in Python and pins the grammar
against the reference source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_RANGE = "([0-9]{6})\\\\s*[-–]\\\\s*([0-9]{6})"
_YY = "^([0-9]{2})([0-9]{2})([0-9]{2})$"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, asize, elem = k.g, k.S, k.cs, k.bar, k.asize, k.elem
    jn, rx, splitws, titlecase = k.jn, k.rx, k.splitws, k.titlecase

    def ymd(tok: str) -> str:
        """yymmdd_to_date (:56-63): yy<=40 pivot, no validation."""
        yy = f"CAST(substring({tok}, 1, 2) AS INT)"
        return (f"CASE WHEN {tok} IS NOT NULL THEN concat("
                f"CAST(CASE WHEN {yy} <= 40 THEN 2000 + {yy} "
                f"ELSE 1900 + {yy} END AS {S}), '-', "
                f"substring({tok}, 3, 2), '-', substring({tok}, 5, 2)) "
                f"END")

    # slug_to_programme (:87-89): '-YYYY' tail -> ' YYYY', '-'->' ',
    # str.title()
    if dialect == "spark":
        prog = "regexp_replace(call_slug, '-([0-9]{4})$', ' $1')"
    else:
        prog = "regexp_replace(call_slug, '-([0-9]{4})$', ' \\\\1')"
    prog = titlecase(f"trim(replace({prog}, '-', ' '))")

    fixture_cols = f"""
    concat(
      {elem(("array('ramverk-bioteknik', 'framtidens-forskningsledare', "
             "'strategisk-mobilitet', 'industridoktorand', "
             "'smarta-system')" if dialect == "spark" else
             "['ramverk-bioteknik', 'framtidens-forskningsledare', "
             "'strategisk-mobilitet', 'industridoktorand', "
             "'smarta-system']"), 'CAST(o_orderkey % 5 AS INT) + 1')},
      CASE WHEN o_orderkey % 9 = 0 THEN concat('-omg',
        chr(97 + CAST(o_orderkey % 26 AS INT)),
        chr(97 + CAST((o_orderkey {'div' if dialect == 'spark' else '//'} 26) % 26 AS INT)),
        chr(97 + CAST((o_orderkey {'div' if dialect == 'spark' else '//'} 676) % 26 AS INT)))
        ELSE '' END,
      CASE WHEN o_orderkey % 3 = 0
        THEN concat('-', {cs('2012 + o_orderkey % 12')}) ELSE '' END)
      AS call_slug,
    CASE WHEN o_orderkey % 9 = 0 THEN NULL
      ELSE concat('ARC', {cs('o_orderkey % 24')}, '-',
                  lpad({cs('o_orderkey')}, 4, '0')) END AS dnr,
    CASE WHEN o_orderkey % 11 = 0 THEN NULL
      ELSE concat('Projekt om materialdesign ', {cs('o_orderkey % 13')})
      END AS titel,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('Svensson ', {cs('o_orderkey % 7')},
                         ', Anna Karin')
      WHEN 1 THEN concat('Lars Erik Johansson ', {cs('o_orderkey % 6')})
      WHEN 2 THEN 'Madonna'
      WHEN 3 THEN NULL
      ELSE concat('Nilsson,  Bo ', {cs('o_orderkey % 4')}) END AS pi_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('Livsvetenskaperna ', {cs('o_orderkey % 5')}) END
      AS area,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat(lpad({cs('o_orderkey % 41')}, 2, '0'), '0115 - ',
                         lpad({cs('(o_orderkey + 4) % 41')}, 2, '0'),
                         '1231')
      WHEN 1 THEN concat('fr.o.m. ', lpad({cs('o_orderkey % 41')}, 2, '0'),
                         '0301 – ', lpad({cs('(o_orderkey + 3) % 41')},
                         2, '0'), '0630 enligt plan')
      WHEN 2 THEN 'Pågående'
      ELSE NULL END AS dates_raw,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN concat({cs('3 + o_orderkey % 30')}, ' 000 000 SEK')
      WHEN 1 THEN concat({cs('o_orderkey % 900 + 100')}, ' kSEK')
      ELSE NULL END AS belopp"""

    _PT = ["k", "call_slug", "dnr", "titel", "pi_raw", "area",
           "dates_raw", "belopp"]

    return f"""
WITH cells AS (
  SELECT o_orderkey AS k,{fixture_cols}
  FROM orders
),
kept AS (
  SELECT * FROM cells WHERE dnr IS NOT NULL OR titel IS NOT NULL
),
{bar("parsed", "kept", _PT, [
    ("start_tok", rx("coalesce(dates_raw, '')", _RANGE, 1)),
    ("end_tok", rx("coalesce(dates_raw, '')", _RANGE, 2)),
    ("programme", prog),
    ("amount", "nullif(regexp_replace(coalesce(belopp, ''), "
               f"'[^0-9]', ''{g}), '')"),
])},
{bar("named", "parsed",
     _PT + ["start_tok", "end_tok", "programme", "amount"], [
    ("t0", splitws("coalesce(pi_raw, '')")),
])}
SELECT
  coalesce(dnr, concat('ssf-', call_slug, '-0')) AS funder_award_id,
  titel AS title,
  CASE WHEN pi_raw IS NULL THEN NULL
    WHEN instr(pi_raw, ',') > 0
      THEN nullif(trim(substr(pi_raw, instr(pi_raw, ',') + 1)), '')
    WHEN {asize('t0')} >= 2 THEN {jn('t0', f"{asize('t0')} - 1")}
    ELSE NULL END AS pi_given,
  CASE WHEN pi_raw IS NULL THEN NULL
    WHEN instr(pi_raw, ',') > 0
      THEN nullif(trim(substr(pi_raw, 1, instr(pi_raw, ',') - 1)), '')
    WHEN {asize('t0')} >= 2 THEN {elem('t0', asize('t0'))}
    ELSE nullif(trim(pi_raw), '') END AS pi_family,
  area AS research_area,
  amount,
  programme,
  {ymd('start_tok')} AS start_date,
  {ymd('end_tok')} AS end_date,
  CASE WHEN start_tok IS NOT NULL THEN CAST(CASE WHEN
    CAST(substring(start_tok, 1, 2) AS INT) <= 40
    THEN 2000 + CAST(substring(start_tok, 1, 2) AS INT)
    ELSE 1900 + CAST(substring(start_tok, 1, 2) AS INT) END AS {S})
    END AS start_year
FROM named
"""


@register(
    "ssf_parse_grants",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="SSF grants parse (scripts/local/ssf_to_s3.py)",
)
def ssf_parse_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSF projekt-table parse: the yymmdd 1940-pivot date grammar,
    'Lastname, Firstname' PI split with comma-less fallbacks,
    digits-only SEK amounts, '-YYYY'-detached title-cased programmes,
    DNr-else-positional ids.  One scan, zero exchanges, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
