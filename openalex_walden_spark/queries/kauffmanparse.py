"""Ewing Marion Kauffman Foundation grants parse
(scripts/local/kauffman_to_s3.py — 509 LoC).

The reference walks the kauffman.org WP REST ``grant`` custom post
type plus three taxonomies (states / strategies / grant-types).  The
HTTP walk and the taxonomy FETCH are the seam — the fixture delivers
one raw grant per orders key in walk order (the orders key IS the walk
position) with raw rendered title/content, the meta fields and the
three raw term-id arrays; the term tables are small fixed lookup
vocabularies resolved with missing ids DROPPED
(``download_grants`` :247-251, ``fetch_taxonomy_map`` :168-172).
Everything downstream ports (``build_dataframe`` :294-372):

* records with a NULL wp_id are skipped (:300-302); duplicate
  ``funder_award_id`` = 'kauffman-{wp_id}' rows are skipped SILENTLY,
  keeping the FIRST in walk order (:303-306 — ``continue``, not the
  CIFAR-style raise), which the port expresses as a single
  row_number() window over wp_id ordered by the walk position;
* ``_strip_tags`` (:156-160): tags -> space, ws-collapse, THEN
  ``unescape().strip()``; ``build_dataframe`` applies ``unescape``
  AGAIN on top (:309-310) — so a double-escaped ``&amp;amp;`` in a
  title collapses all the way to ``&`` (fixture-pinned); empty ->
  None;
* ``start_year`` = int(approved_on[:4]) only when len >= 4 AND the
  first 4 chars are all digits (:313-315) — '20XX-01-01' keeps its
  approved_on but yields no year;
* ``amount``: float() coercion with None/''/0/'0' AND unparsable
  ('TBD') -> None (:317-321); currency 'USD' only when an amount
  survived (:331); ``astype("string")`` makes surviving amounts
  Python-float reprs ('65000.0' == CAST(DOUBLE AS STRING) in both
  engines, the r13-verified parity);
* ``strategy`` = first strategy, falling back to first grant-type
  (:325-328); ``strategies_all`` / ``grant_types_all`` are
  ', '-joins or None; ``grantee_state`` = first resolved state;
  taxonomy names are NOT unescaped (an ``&amp;`` in a strategy term
  ships verbatim — only title/content get the unescape treatment);
* city/url: empty -> None (:334-336); 17 string columns, no
  provenance column in the parquet.

Plan: one orders scan -> null-id filter -> ONE exchange (the keep-
first dedupe window on wp_id) -> pure column algebra behind Generate
barriers.  At 100 TB the dedupe is a single hash-partitioned window
over the natural key — no join-back, no second shuffle.
tests/test_template_fidelity.py re-derives the full expected output
with the reference's own algorithm and pins the coercion/dedup rules
against the reference source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# Fixture taxonomy vocabularies (runtime DATA in the reference — the
# fetch is the seam; ids outside the tables exercise the missing drops).
_STATES = {401: "MO", 402: "KS", 403: "NY"}
_STRATEGIES = {501: "Entrepreneurship", 502: "Education",
               503: "Heartland Civic &amp; Policy"}
_GRANT_TYPES = {601: "Grant", 602: "Program-Related Investment"}


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, cs, bar, arr, asize, elem = k.g, k.cs, k.bar, k.arr, k.asize, k.elem
    filt, jnsep, noints, sq, tx = k.filt, k.jnsep, k.noints, k.sq, k.tx

    def striptags(x: str) -> str:
        # _strip_tags (:156-160): tags -> space, ws-collapse, unescape,
        # strip; build_dataframe then unescapes AGAIN (:309-310) — two
        # replace passes over the fixture's entity subset
        e = f"regexp_replace({x}, '<[^>]+>', ' '{g})"
        e = f"trim(regexp_replace({e}, '\\\\s+', ' '{g}))"
        e = f"replace(replace({e}, '&amp;', '&'), '&amp;', '&')"
        return f"nullif({e}, '')"

    def case_lookup(table: dict) -> str:
        whens = " ".join(f"WHEN {i} THEN '{sq(v)}'"
                         for i, v in sorted(table.items()))
        return f"CASE t {whens} END"

    state_of = case_lookup(_STATES)
    strategy_of = case_lookup(_STRATEGIES)
    gtype_of = case_lookup(_GRANT_TYPES)

    # float() coercion (:317-321): missing sentinels and unparsable
    # strings -> NULL; survivors as CAST(DOUBLE AS STRING) == repr(float)
    amount_f = (
        "CASE WHEN amount_raw IS NULL OR amount_raw IN ('', '0') "
        "THEN NULL "
        "WHEN amount_raw NOT RLIKE '^[0-9]+(\\\\.[0-9]+)?$' THEN NULL "
        "ELSE CAST(CAST(amount_raw AS DOUBLE) AS STRING) END"
        if dialect == "spark" else
        "CASE WHEN amount_raw IS NULL OR amount_raw IN ('', '0') "
        "THEN NULL "
        "WHEN NOT regexp_matches(amount_raw, '^[0-9]+(\\.[0-9]+)?$') "
        "THEN NULL "
        "ELSE CAST(CAST(amount_raw AS DOUBLE) AS VARCHAR) END")

    year_ok = (
        "length(approved_on) >= 4 AND "
        "substring(approved_on, 1, 4) RLIKE '^[0-9]{4}$'"
        if dialect == "spark" else
        "length(approved_on) >= 4 AND "
        "regexp_matches(substring(approved_on, 1, 4), '^[0-9]{4}$')")

    fixture_cols = f"""
    CASE WHEN o_orderkey % 11 = 0 THEN NULL
      ELSE 50000 + o_orderkey % 900 END AS wp_id,
    concat('grant-', {cs('o_orderkey')}) AS slug,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('<a href="#">University of Missouri ',
                         {cs('o_orderkey')}, '</a>')
      WHEN 1 THEN concat('Kansas City Library &amp;amp; Archives ',
                         {cs('o_orderkey')})
      WHEN 2 THEN ''
      WHEN 3 THEN concat('Start  Up &amp; Grow ', {cs('o_orderkey')},
                         ' Inc.')
      ELSE concat('Org ', {cs('o_orderkey')}) END AS title_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN ''
      ELSE concat('<p>Support for entrepreneurship program ',
                  {cs('o_orderkey % 13')}, '.</p>') END AS content_raw,
    concat('https://www.kauffman.org/grants/grant-',
           {cs('o_orderkey')}, '/') AS link,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN ''
      WHEN 1 THEN '0'
      WHEN 2 THEN 'TBD'
      WHEN 3 THEN {cs('65000 + (o_orderkey % 44) * 10000')}
      WHEN 4 THEN '12500.5'
      ELSE {cs('250000 + o_orderkey % 17')} END AS amount_raw,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN ''
      WHEN 1 THEN '2019-06-15'
      WHEN 2 THEN '20XX-01-01'
      WHEN 3 THEN 'abc'
      ELSE concat({cs('2010 + o_orderkey % 15')}, '-03-0',
                  {cs('o_orderkey % 9 + 1')}) END AS approved_on,
    CASE WHEN o_orderkey % 3 = 0 THEN ''
      WHEN o_orderkey % 3 = 1 THEN 'Kansas City'
      ELSE 'St. Louis' END AS grantee_city,
    CASE WHEN o_orderkey % 4 = 0 THEN ''
      ELSE concat('https://grantee-', {cs('o_orderkey % 50')}, '.org')
      END AS grantee_url,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN {noints()}
      WHEN 1 THEN {arr('401')}
      WHEN 2 THEN {arr('402', '401')}
      ELSE {arr('499', '403')} END AS state_ids,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN {noints()}
      WHEN 1 THEN {arr('501')}
      ELSE {arr('502', '503')} END AS strategy_ids,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN {noints()}
      WHEN 1 THEN {arr('601')}
      WHEN 2 THEN {arr('699', '602')}
      ELSE {arr('601', '602')} END AS gtype_ids"""

    _PT = ["k", "wp_id", "slug", "title_raw", "content_raw", "link",
           "amount_raw", "approved_on", "grantee_city", "grantee_url",
           "state_ids", "strategy_ids", "gtype_ids"]

    return f"""
WITH rest AS (
  SELECT o_orderkey AS k,{fixture_cols}
  FROM orders
),
with_id AS (
  SELECT * FROM rest WHERE wp_id IS NOT NULL
),
first_seen AS (
  SELECT *, row_number() OVER (PARTITION BY wp_id ORDER BY k) AS rn
  FROM with_id
),
kept AS (
  SELECT {", ".join(_PT)} FROM first_seen WHERE rn = 1
),
{bar("resolved", "kept", _PT, [
    ("grantee_org", striptags("title_raw")),
    ("description", striptags("content_raw")),
    ("state_names", filt(tx("state_ids", state_of), "t IS NOT NULL")),
    ("strategy_names",
     filt(tx("strategy_ids", strategy_of), "t IS NOT NULL")),
    ("gtype_names", filt(tx("gtype_ids", gtype_of), "t IS NOT NULL")),
])},
{bar("coerced", "resolved",
     _PT + ["grantee_org", "description", "state_names",
            "strategy_names", "gtype_names"], [
    ("amount", amount_f),
    ("start_year", f"CASE WHEN approved_on <> '' AND {year_ok} "
                   f"THEN {cs('CAST(substring(approved_on, 1, 4) AS INT)')} "
                   f"ELSE NULL END"),
])}
SELECT
  concat('kauffman-', {cs('wp_id')}) AS funder_award_id,
  {cs('wp_id')} AS wp_id,
  slug,
  grantee_org,
  description,
  amount,
  CASE WHEN amount IS NOT NULL THEN 'USD' END AS currency,
  nullif(approved_on, '') AS approved_on,
  start_year,
  nullif(grantee_city, '') AS grantee_city,
  {elem('state_names', '1')} AS grantee_state,
  nullif(grantee_url, '') AS grantee_url,
  coalesce({elem('strategy_names', '1')}, {elem('gtype_names', '1')})
    AS strategy,
  CASE WHEN {asize('strategy_names')} = 0 THEN NULL
    ELSE {jnsep('strategy_names', "', '")} END AS strategies_all,
  {elem('gtype_names', '1')} AS grant_type,
  CASE WHEN {asize('gtype_names')} = 0 THEN NULL
    ELSE {jnsep('gtype_names', "', '")} END AS grant_types_all,
  link AS landing_page_url
FROM coerced
"""


@register(
    "kauffman_parse_grants",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="Kauffman Foundation grants parse (scripts/local/kauffman_to_s3.py)",
)
def kauffman_parse_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kauffman WP REST grants: null-id skip, FIRST-in-walk-order
    dedupe on wp_id (one window exchange), double-unescape strip-tags,
    guarded year/float coercions, strategy-over-grant-type scheme
    fallback, ', ' taxonomy roll-ups, org-only grantee modelling.
    One scan, one exchange, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
