"""Dreyfus Foundation awardee parse stage
(scripts/local/dreyfus_to_s3.py).

The reference enumerates year-program pages from the post sitemap and
scrapes awardee cards (the HTTP/DOM seam, :201-460); every record then
flows through ``build_dataframe`` (:470-530).  Ported compute:

* the PROGRAM registry (:129-170) as data: scheme key, label, funding
  type, and the published fixed amounts (Camille 100k / Henry 75k USD;
  the supplemental and ML schemes publish none) — joined broadcast so
  the per-scheme metadata stays data, not branching;
* ``_slugify`` (:464-467): HTML-unescape + lowercase + non-alnum runs
  to '-' (the fixture is entity-free, so unescape is identity);
* funder_award_id = 'dreyfus-{scheme}-{year}-{slug}' with keep-FIRST
  dedup (:482-490 — same-name within one year bails rather than
  silently collapsing);
* ``split_name`` (:446-460, the Holberg/CIFAR/Damon-Runyon idiom):
  CASE-SENSITIVE leading titles (Dr/Prof/Professor) and trailing
  degree/generational suffixes (PhD/Ph.D/MD/M.D/DPhil/Jr/Sr/II-IV/
  MPH/MSc) popped on rstrip('.')/rstrip('.,') comparison, single
  token -> family only, empty given/family -> NULL.

Fixture: one awardee per orders row across the 4 schemes with
colliding (scheme, year, name) triples so the keep-first dedup is
real.  Plan: one scan + the keep-first window + a 4-row broadcast
registry join; no Python.

tests/test_template_fidelity.py re-derives the full expected output;
tests/test_funderscrape.py pins the PROGRAM registry against the
reference by AST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# PROGRAMS (:129-170): scheme, label, funding_type, amount, currency.
PROGRAMS: tuple[tuple[str, str, str, float | None, str | None], ...] = (
    ("camille_dreyfus_teacher_scholar",
     "Camille Dreyfus Teacher-Scholar Awards", "research", 100000.0, "USD"),
    ("henry_dreyfus_teacher_scholar",
     "Henry Dreyfus Teacher-Scholar Awards", "research", 75000.0, "USD"),
    ("supplemental_grants_teacher_scholar",
     "Supplemental Grants for Teacher-Scholars", "research", None, None),
    ("machine_learning_chemical_sciences",
     "Machine Learning in the Chemical Sciences and Engineering Awards",
     "research", None, None),
)

_PREFIX_TITLES = "('Dr','Prof','Professor')"
_DEGREE_SUFFIXES = ("('PhD','Ph.D','MD','M.D','DPhil','Jr','Sr','II','III',"
                    "'IV','MPH','MSc')")

_ROWS_SPARK = """
SELECT o_orderkey AS seq,
  element_at(array('camille_dreyfus_teacher_scholar',
                   'henry_dreyfus_teacher_scholar',
                   'supplemental_grants_teacher_scholar',
                   'machine_learning_chemical_sciences'),
             CAST(o_orderkey % 4 AS INT) + 1) AS scheme,
  CAST(o_orderkey % 15 + 2011 AS INT) AS year,
  CASE CAST(o_orderkey % 5 AS INT)
    WHEN 0 THEN concat('Dr. Emily R. Chen', CAST(o_orderkey % 211 AS STRING))
    WHEN 1 THEN concat('Professor Luis Alvarez',
                       CAST(o_orderkey % 211 AS STRING), ' Ph.D.')
    WHEN 2 THEN concat('Priya Natarajan', CAST(o_orderkey % 211 AS STRING),
                       ' MSc')
    WHEN 3 THEN concat('Wang', CAST(o_orderkey % 211 AS STRING))
    ELSE concat('Sofia Petrova', CAST(o_orderkey % 211 AS STRING), ', Jr.')
  END AS name,
  concat('College of Chemistry ', CAST(o_orderkey % 70 AS STRING))
    AS institution,
  CASE WHEN o_orderkey % 3 <> 0
       THEN concat('Catalytic mechanisms study ', CAST(o_orderkey AS STRING))
  END AS research_title,
  CASE WHEN o_orderkey % 2 = 0
       THEN concat('https://www.dreyfus.org/awardee-',
                   CAST(o_orderkey AS STRING)) END AS profile_url,
  concat('https://www.dreyfus.org/', CAST(o_orderkey % 15 + 2011 AS STRING),
         '-awards') AS landing_page_url
FROM orders
"""


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, asize, elem, head = k.g, k.S, k.asize, k.elem, k.head
    idx_of, jnagg, splitsp = k.idx_of, k.jnagg, k.splitsp
    if dialect == "spark":
        rows = _ROWS_SPARK
    else:
        rows = (_ROWS_SPARK
                .replace("AS STRING", "AS VARCHAR")
                .replace("element_at(array(", "list_extract([")
                .replace("'machine_learning_chemical_sciences'),",
                         "'machine_learning_chemical_sciences'],"))

    progs = ", ".join(
        "('{}', '{}', '{}', {}, {})".format(
            s, lbl, ft,
            "CAST(NULL AS DOUBLE)" if amt is None else f"{amt}",
            "NULL" if cur is None else f"'{cur}'")
        for s, lbl, ft, amt, cur in PROGRAMS
    )
    pmap = (f"SELECT * FROM (VALUES {progs}) "
            f"AS pm(scheme, scheme_label, funding_type, amount, currency)"
            if dialect == "spark" else
            f"SELECT * FROM (VALUES {progs}) "
            f"pm(scheme, scheme_label, funding_type, amount, currency)")

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
slugged AS (
  SELECT *,
    trim(BOTH '-' FROM regexp_replace(lower(name), '[^a-z0-9]+', '-'{g}))
      AS slug
  FROM raw
),
keyed AS (
  SELECT *, concat('dreyfus-', scheme, '-', CAST(year AS {S}), '-', slug)
    AS funder_award_id
  FROM slugged
),
first_listing AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY funder_award_id ORDER BY seq) AS rn
    FROM keyed
  ) WHERE rn = 1
),
tokenized AS (
  SELECT *, {toks} AS toks FROM first_listing
),
named AS (
  SELECT *, {kept} AS kept FROM tokenized
)
SELECT
  n.funder_award_id, n.slug, n.scheme,
  pm.scheme_label, pm.funding_type,
  n.year, n.name,
  CASE WHEN {asize('kept')} > 1
       THEN {jnagg(head('kept', asize('kept') + ' - 1'))}
  END AS given_name,
  CASE WHEN {asize('kept')} >= 1 THEN {elem('kept', asize('kept'))}
  END AS family_name,
  n.institution, n.research_title, n.profile_url,
  pm.amount, pm.currency, n.landing_page_url
FROM named n JOIN ({pmap}) pm ON pm.scheme = n.scheme
"""


@register(
    "dreyfus_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="Dreyfus awardee parse stage (scripts/local/dreyfus_to_s3.py)",
)
def dreyfus_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dreyfus awardee normalize (module docstring has the full
    semantics map).  One keep-first window + a 4-row broadcast
    registry; everything else column algebra."""
    return spark.sql(sqlkit.build(_sql, "spark"))
