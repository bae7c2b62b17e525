"""Sloan Foundation grants-database parse stage
(scripts/local/sloan_to_s3.py).

The reference drives a Playwright/stealth browser through the
Cloudflare-gated sloan.org grants directory (the network/DOM seam,
:193-400) and flattens each grant card through ``build_dataframe``
(:464-560).  Ported compute:

* award id = the FULL permalink slug after ``/grant-detail/``
  (:383-389 — a narrow g-YYYY-N regex silently collapsed ~800 grants,
  so the whole segment is the id), rows without one dropped,
  keep-first dedup on the slug;
* year: the card's .year field when it is a clean 19xx/20xx, else the
  first 4-digit year embedded in the slug (handles 'g-b2014-17';
  named slugs like 'g-books' stay NULL);
* ``parse_amount`` (:420-431): first ``[\\d,]+`` run of the '$25,000'
  cell, int, <=0 -> NULL; currency USD only with an amount;
* ``split_city_region`` (:434-445): last comma segment = region, the
  rest = city; ``region_to_country`` (:447-453): US state/territory
  codes -> 'US', the spelled-out-country map -> ISO2, else NULL —
  both tables ported as data and pinned against the reference by AST;
* lead_name = investigator else grantee org; ``split_name``
  (:402-417) runs ONLY on the investigator (orgs never split):
  leading honorifics popped, trailing degree/generational suffixes
  popped (both compared on rstrip('.,')-lower), single token ->
  family only;
* the permalink URL absolutization (:545).

Fixture: one grant card per orders row; the slug lattice includes the
'b'-year and named forms, the region lattice covers state codes,
mapped countries, and unmapped regions.  Plan: one scan + the
keep-first window on the slug (collisions are real in the fixture);
no Python.

tests/test_template_fidelity.py re-derives the full expected output;
tests/test_funderscrape.py pins the state/country tables against the
reference source by AST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# region_to_country tables (sloan_to_s3.py:169-189), as data.
US_STATE_CODES: tuple[str, ...] = (
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI", "ID",
    "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN", "MS",
    "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK",
    "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV",
    "WI", "WY", "DC", "PR", "VI", "GU", "AS", "MP", "AA", "AE", "AP",
)
COUNTRY_NAME_TO_CODE: tuple[tuple[str, str], ...] = (
    ("united states", "US"), ("usa", "US"),
    ("united kingdom", "GB"), ("england", "GB"), ("scotland", "GB"),
    ("wales", "GB"), ("uk", "GB"), ("germany", "DE"), ("france", "FR"),
    ("canada", "CA"), ("australia", "AU"), ("netherlands", "NL"),
    ("switzerland", "CH"), ("sweden", "SE"), ("italy", "IT"),
    ("spain", "ES"), ("japan", "JP"), ("china", "CN"), ("israel", "IL"),
    ("india", "IN"), ("brazil", "BR"), ("norway", "NO"), ("denmark", "DK"),
    ("finland", "FI"), ("belgium", "BE"), ("austria", "AT"),
    ("ireland", "IE"), ("mexico", "MX"), ("chile", "CL"),
    ("south africa", "ZA"), ("new zealand", "NZ"), ("singapore", "SG"),
)

_PREFIX_TITLES = ("'dr','prof','professor','mr','ms','mrs'")
_DEGREE_SUFFIXES = ("'phd','ph.d','md','m.d','sc.d','d.o','dphil','jr',"
                    "'sr','ii','iii','iv','mph','msc','mba'")

_ROWS_SPARK = """
SELECT o_orderkey AS seq,
  CASE CAST(o_orderkey % 11 AS INT)
    WHEN 0 THEN NULL
    WHEN 1 THEN concat('/grant-detail/g-b', CAST(o_orderkey % 12 + 2010 AS STRING),
                       '-', CAST(o_orderkey % 700 AS STRING))
    WHEN 2 THEN '/grant-detail/g-books'
    ELSE concat('/grant-detail/g-', CAST(o_orderkey % 18 + 2008 AS STRING),
                '-', CAST(o_orderkey % 700 AS STRING),
                CASE WHEN o_orderkey % 4 = 0 THEN '-econ' ELSE '' END)
  END AS permalink,
  CASE CAST(o_orderkey % 3 AS INT)
    WHEN 0 THEN CAST(o_orderkey % 18 + 2008 AS STRING)
    WHEN 1 THEN 'FY 2020'
    ELSE ''
  END AS year_field,
  CASE WHEN o_orderkey % 13 = 0 THEN NULL
       ELSE concat('Grantee Organization ', CAST(o_orderkey % 120 AS STRING))
  END AS grantee,
  CASE CAST(o_orderkey % 5 AS INT)
    WHEN 0 THEN concat('Dr. Jordan Blashek', CAST(o_orderkey % 89 AS STRING))
    WHEN 1 THEN concat('Maria del Carmen Lopez', CAST(o_orderkey % 89 AS STRING),
                       ' PhD')
    WHEN 2 THEN concat('Wei', CAST(o_orderkey % 89 AS STRING))
    ELSE NULL
  END AS investigator,
  CASE CAST(o_orderkey % 4 AS INT)
    WHEN 0 THEN concat('$', CAST(o_orderkey % 900 + 100 AS STRING), ',',
                       lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'))
    WHEN 1 THEN 'pending'
    WHEN 2 THEN '$0'
    ELSE concat('$', CAST(o_orderkey % 90000 + 1 AS STRING))
  END AS amount_raw,
  CASE CAST(o_orderkey % 5 AS INT)
    WHEN 0 THEN 'Arlington, VA'
    WHEN 1 THEN 'London, United Kingdom'
    WHEN 2 THEN concat('Cambridge, Region ', CAST(o_orderkey % 7 AS STRING))
    WHEN 3 THEN 'Brooklyn'
    ELSE NULL
  END AS city_raw,
  element_at(array('Research', 'Higher Education', 'Technology',
                   'Public Understanding of Science and Technology'),
             CAST(o_orderkey % 4 AS INT) + 1) AS program,
  CASE WHEN o_orderkey % 3 = 0
       THEN concat('Sub ', CAST(o_orderkey % 6 AS STRING)) END AS sub_program,
  CASE WHEN o_orderkey % 6 = 0 THEN 'Matter-to-Life' END AS initiative,
  concat('To support project ', CAST(o_orderkey AS STRING)) AS description
FROM orders
"""


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    S, asize, elem, head, idx_of = k.S, k.asize, k.elem, k.head, k.idx_of
    jnagg, rl, splitsp = k.jnagg, k.rl, k.splitsp
    if dialect == "spark":
        rows = _ROWS_SPARK
        joinsep = lambda a, s: f"array_join({a}, '{s}')"  # noqa: E731
        csplit = lambda v: f"split({v}, ',')"  # noqa: E731
    else:
        rows = (_ROWS_SPARK
                .replace("AS STRING", "AS VARCHAR")
                .replace(
                    "element_at(array('Research', 'Higher Education', "
                    "'Technology',\n                   'Public Understanding"
                    " of Science and Technology'),",
                    "list_extract(['Research', 'Higher Education', "
                    "'Technology',\n                   'Public Understanding"
                    " of Science and Technology'],"))
        joinsep = lambda a, s: f"list_aggr({a}, 'string_agg', '{s}')"  # noqa: E731
        csplit = lambda v: f"string_split({v}, ',')"  # noqa: E731

    states = ", ".join(f"'{s}'" for s in US_STATE_CODES)
    countries = ", ".join(f"('{n}', '{c}')" for n, c in COUNTRY_NAME_TO_CODE)
    cmap = (f"SELECT * FROM (VALUES {countries}) AS cm(cname, ccode)"
            if dialect == "spark"
            else f"SELECT * FROM (VALUES {countries}) cm(cname, ccode)")

    tok_pref = "lower(trim(TRAILING '.' FROM t))"
    tok_suff = "lower(trim(TRAILING '.,' FROM t))"
    toks = splitsp("investigator")
    first_keep = (f"coalesce({idx_of('toks', f'{tok_pref} NOT IN ({_PREFIX_TITLES})')}, "
                  f"{asize('toks')} + 1)")
    last_keep = (f"coalesce({idx_of('toks', f'{tok_suff} NOT IN ({_DEGREE_SUFFIXES})', 'array_max')}, 0)")
    kept = (f"slice(toks, {first_keep}, greatest({last_keep} - {first_keep} + 1, 0))"
            if dialect == "spark"
            else f"list_slice(toks, {first_keep}, {last_keep})")

    return f"""
WITH raw AS ({rows}),
slugged AS (
  SELECT *, nullif(regexp_extract(coalesce(permalink, ''),
      '/grant-detail/([^/?#]+)', 1), '') AS funder_award_id
  FROM raw
),
first_listing AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY funder_award_id ORDER BY seq) AS rn
    FROM slugged WHERE funder_award_id IS NOT NULL
  ) WHERE rn = 1
),
tokenized AS (
  SELECT *, {toks} AS toks FROM first_listing
),
named AS (
  SELECT *, {kept} AS kept FROM tokenized
),
located AS (
  SELECT *,
    CASE WHEN {rl('year_field', '^(19|20)[0-9][0-9]$')}
         THEN CAST(year_field AS INT)
         WHEN regexp_extract(funder_award_id, '(19|20)[0-9][0-9]', 0) <> ''
         THEN CAST(regexp_extract(funder_award_id,
                                  '(19|20)[0-9][0-9]', 0) AS INT)
    END AS year,
    CASE WHEN try_cast(replace(regexp_extract(coalesce(amount_raw, ''),
              '-?[$]? *([0-9,]+)', 1), ',', '') AS BIGINT) > 0
         THEN try_cast(replace(regexp_extract(amount_raw,
              '-?[$]? *([0-9,]+)', 1), ',', '') AS BIGINT)
    END AS amount,
    CASE WHEN city_raw IS NULL THEN CAST(NULL AS {S})
         WHEN city_raw NOT LIKE '%,%' THEN nullif(trim(city_raw), '')
         ELSE nullif(trim({joinsep(head(csplit('city_raw'), asize(csplit('city_raw')) + ' - 1'), ",")}), '')
    END AS city,
    CASE WHEN city_raw LIKE '%,%'
         THEN nullif(trim({elem(csplit('city_raw'), asize(csplit('city_raw')))}), '')
    END AS region
  FROM named
)
SELECT
  l.funder_award_id,
  l.year,
  l.grantee AS grantee_org,
  coalesce(l.investigator, l.grantee) AS lead_name,
  l.investigator,
  CASE WHEN l.investigator IS NOT NULL AND {asize('kept')} > 1
       THEN {jnagg(head('kept', asize('kept') + ' - 1'))}
  END AS given_name,
  CASE WHEN l.investigator IS NOT NULL AND {asize('kept')} >= 1
       THEN {elem('kept', asize('kept'))}
  END AS family_name,
  l.amount,
  CASE WHEN l.amount IS NOT NULL THEN 'USD' END AS currency,
  l.city, l.region,
  CASE WHEN upper(trim(coalesce(l.region, ''))) IN ({states}) THEN 'US'
       ELSE cm.ccode END AS country,
  l.program, l.sub_program, l.initiative, l.description,
  concat('https://sloan.org', l.permalink) AS permalink_url
FROM located l
LEFT JOIN ({cmap}) cm ON cm.cname = lower(trim(l.region))
"""


@register(
    "sloan_parse_grants",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="Sloan grants-database parse stage (scripts/local/sloan_to_s3.py)",
)
def sloan_parse_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sloan grant-card normalize (module docstring has the full
    semantics map).  One keep-first window on the slug, a ~30-row
    broadcast country-map join; everything else column algebra."""
    return spark.sql(sqlkit.build(_sql, "spark"))
