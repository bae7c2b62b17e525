"""Searle Scholars parse stage
(scripts/local/searle_scholars_to_s3.py).

The reference merges the /current-scholars/ roster with WP-REST class-
announcement posts (the crawl seam, :380-440) and flattens records
through ``build_dataframe`` (:467-519).  Ported compute:

* rows without a name or year dropped (:477-478);
* funder_award_id = 'searle-{year}-{slug}' with keep-FIRST dedup — the
  roster and an announcement post can overlap on a transition year and
  the first record wins (:481-484);
* ``_slugify`` (:462-465): HTML-unescape + lowercase + non-alnum runs
  to '-' (entity-free fixture -> unescape identity);
* ``split_name`` (:446-460): the same CASE-SENSITIVE prefix/suffix
  idiom as Dreyfus (Dr/Prof/Professor; PhD/Ph.D/MD/M.D/DPhil/Jr/Sr/
  II-IV/MPH/MSc on rstrip('.')/rstrip('.,'));
* the program constants: every scholar carries amount=300000.0 USD and
  duration_years=3 (:118-119 — the award is a fixed 3-year $300k).

Fixture: one scholar per orders row with roster/announcement overlap
collisions on (year, name).  Plan: one scan + the keep-first window;
no Python.

tests/test_template_fidelity.py re-derives the full expected output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_PREFIX_TITLES = "('Dr','Prof','Professor')"
_DEGREE_SUFFIXES = ("('PhD','Ph.D','MD','M.D','DPhil','Jr','Sr','II','III',"
                    "'IV','MPH','MSc')")

_ROWS_SPARK = """
SELECT o_orderkey AS seq,
  CASE WHEN o_orderkey % 17 = 0 THEN NULL
       ELSE CASE CAST(o_orderkey % 4 AS INT)
         WHEN 0 THEN concat('Dr. Nina Okafor', CAST(o_orderkey % 257 AS STRING))
         WHEN 1 THEN concat('Tomas Lindgren', CAST(o_orderkey % 257 AS STRING),
                            ' Ph.D.')
         WHEN 2 THEN concat('Ada', CAST(o_orderkey % 257 AS STRING))
         ELSE concat('Prof. Ravi Shankar', CAST(o_orderkey % 257 AS STRING),
                     ' MD')
       END
  END AS name,
  CASE WHEN o_orderkey % 19 = 0 THEN NULL
       ELSE CAST(o_orderkey % 12 + 2014 AS INT) END AS year,
  concat('Institute ', CAST(o_orderkey % 80 AS STRING)) AS institution,
  CASE WHEN o_orderkey % 3 <> 0
       THEN concat('Mechanisms of immune signalling ',
                   CAST(o_orderkey AS STRING)) END AS research_title,
  CASE WHEN o_orderkey % 2 = 0
       THEN concat('https://searlescholars.org/scholar-',
                   CAST(o_orderkey AS STRING)) END AS profile_url,
  CASE WHEN o_orderkey % 5 = 0
       THEN 'https://searlescholars.org/current-scholars/'
       ELSE concat('https://searlescholars.org/class-of-',
                   CAST(o_orderkey % 12 + 2014 AS STRING), '/')
  END AS source_page
FROM orders
"""


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, asize, elem, head = k.g, k.S, k.asize, k.elem, k.head
    idx_of, jnagg, splitsp = k.idx_of, k.jnagg, k.splitsp
    rows = (_ROWS_SPARK if dialect == "spark"
            else _ROWS_SPARK.replace("AS STRING", "AS VARCHAR"))

    tok_pref = "trim(TRAILING '.' FROM t)"
    tok_suff = "trim(TRAILING '.,' FROM t)"
    toks = splitsp("name")
    first_keep = (f"coalesce({idx_of('toks', f'{tok_pref} NOT IN {_PREFIX_TITLES}')}, "
                  f"{asize('toks')} + 1)")
    last_keep = (f"coalesce({idx_of('toks', f'{tok_suff} NOT IN {_DEGREE_SUFFIXES}', 'array_max')}, 0)")
    kept = (f"slice(toks, {first_keep}, greatest({last_keep} - {first_keep} + 1, 0))"
            if dialect == "spark"
            else f"list_slice(toks, {first_keep}, {last_keep})")

    return f"""
WITH raw AS ({rows}),
eligible AS (
  SELECT * FROM raw WHERE name IS NOT NULL AND year IS NOT NULL
),
keyed AS (
  SELECT *, concat('searle-', CAST(year AS {S}), '-',
    trim(BOTH '-' FROM regexp_replace(lower(name), '[^a-z0-9]+', '-'{g})))
    AS funder_award_id,
    trim(BOTH '-' FROM regexp_replace(lower(name), '[^a-z0-9]+', '-'{g}))
      AS slug
  FROM eligible
),
first_listing AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY funder_award_id ORDER BY seq) AS rn
    FROM keyed
  ) WHERE rn = 1
),
named AS (
  SELECT *, {kept.replace('toks', toks)} AS kept FROM first_listing
)
SELECT
  funder_award_id, slug, year, name,
  CASE WHEN {asize('kept')} > 1
       THEN nullif({jnagg(head('kept', asize('kept') + ' - 1'))}, '')
  END AS given_name,
  CASE WHEN {asize('kept')} >= 1
       THEN nullif({elem('kept', asize('kept'))}, '') END AS family_name,
  institution, research_title, profile_url,
  CAST(300000.0 AS DOUBLE) AS amount,
  'USD' AS currency,
  CAST(3 AS INT) AS duration_years,
  source_page AS landing_page_url
FROM named
"""


@register(
    "searle_parse_scholars",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Searle Scholars parse stage "
         "(scripts/local/searle_scholars_to_s3.py)"),
)
def searle_parse_scholars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Searle Scholars normalize (module docstring has the semantics
    map).  One keep-first window; everything else column algebra."""
    return spark.sql(sqlkit.build(_sql, "spark"))
