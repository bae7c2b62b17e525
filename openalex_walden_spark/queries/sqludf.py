"""SQL-UDF surface queries (SURVEY.md §2.10 "SQL UDF (CREATE FUNCTION)").

The reference ships reusable scalar logic as catalog SQL UDFs —
``get_highest_priority_value`` (``CreateWorksBase.ipynb`` cell 2 lines
53-70), ``names_compatible`` (``UpdateWorkAuthors.ipynb`` cell 3),
``award_id_is_weak``/``award_norm_key`` (``AwardNormKey.sql:11-16``).
These queries exercise the engine's equivalents (session SQL functions,
``functions/sql_udfs.py``) end-to-end from ``spark.sql`` text, with the
oracle inlining the same scalar logic in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openalex_walden_spark.functions.sql_udfs import create_sql_udfs
from openalex_walden_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Award-id normalization battery over synthesized deposited strings.

_AWARD_RAW_SPARK = """
CASE CAST(o_orderkey % 4 AS INT)
  WHEN 0 THEN concat('awd - ', lpad(CAST(o_orderkey % 100000 AS STRING), 7, '0'))
  WHEN 1 THEN concat('AWD-', CAST(o_orderkey % 100000 AS STRING))
  WHEN 2 THEN lpad(CAST(o_orderkey % 100000 AS STRING), 6, '0')
  ELSE concat('R01-GM', lpad(CAST(o_orderkey % 1000 AS STRING), 6, '0'))
END
"""

_AWARD_RAW_DUCK = _AWARD_RAW_SPARK.replace("AS STRING", "AS VARCHAR")

# DuckDB inline equivalent of award_key(raw): uppercase/trim, collapse
# whitespace, drop spaces+hyphens, strip leading zeros off the trailing
# digit run.
_AWARD_KEY_DUCK = """
nullif(regexp_replace(s, '0*([0-9]+)\\z', '\\1'), '')
"""

_AWARD_ORACLE = f"""
WITH raw AS (
  SELECT o_orderkey, o_custkey, {_AWARD_RAW_DUCK} AS award FROM orders
),
stripped AS (
  SELECT o_orderkey, o_custkey,
         regexp_replace(regexp_replace(upper(trim(award)), '\\s+', ' ', 'g'),
                        '[ -]', '', 'g') AS s
  FROM raw
),
keyed AS (
  SELECT o_orderkey,
         {_AWARD_KEY_DUCK} AS k,
         COALESCE(o_custkey % 2 = 0
                  AND regexp_matches({_AWARD_KEY_DUCK}, '^[0-9]{{4,7}}$'),
                  FALSE) AS is_weak
  FROM stripped
)
SELECT is_weak, length(k) AS key_len,
       count(*)::BIGINT AS n, count(DISTINCT k)::BIGINT AS n_keys
FROM keyed GROUP BY is_weak, key_len ORDER BY is_weak, key_len
"""


@register(
    "udf_award_normalize",
    oracle=_AWARD_ORACLE,
    tags=("sqludf", "scalar"),
    tables=("orders",),
    spread=("orders",),
)
def udf_award_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Award-id normalization via session SQL UDFs (award_key +
    award_is_weak), declared with CREATE TEMPORARY FUNCTION and invoked
    from plain SQL — macro-expanded by Catalyst, zero Python in the plan.
    """
    create_sql_udfs(spark)
    return spark.sql(f"""
        WITH raw AS (
          SELECT o_orderkey, o_custkey, {_AWARD_RAW_SPARK} AS award
          FROM orders
        ),
        keyed AS (
          SELECT o_orderkey, award_key(award) AS k,
                 award_is_weak(o_custkey % 2 = 0, award) AS is_weak
          FROM raw
        )
        SELECT is_weak, length(k) AS key_len,
               count(*) AS n, count(DISTINCT k) AS n_keys
        FROM keyed GROUP BY is_weak, key_len ORDER BY is_weak, key_len
    """)


# ---------------------------------------------------------------------------
# names_compatible over blocked candidate pairs (J8's predicate layer).

_NAMES_COMPAT_DUCK = """
COALESCE(CASE
  WHEN a.family IS NULL OR b.family IS NULL
    THEN lower(trim(a.raw)) = lower(trim(b.raw))
  WHEN a.family = b.family
   AND (left(a.given, 1) = left(b.given, 1)
        OR a.given IS NULL OR b.given IS NULL) THEN TRUE
  WHEN a.family = b.given AND a.given = b.family THEN TRUE
  WHEN (starts_with(a.family, b.family) OR ends_with(a.family, b.family)
        OR starts_with(b.family, a.family) OR ends_with(b.family, a.family))
   AND least(length(a.family), length(b.family)) >= 4
   AND (left(a.given, 1) = left(b.given, 1)
        OR a.given IS NULL OR b.given IS NULL) THEN TRUE
  ELSE FALSE END, FALSE)
"""

_NAMES_ORACLE = f"""
WITH named AS (
  SELECT doc_id,
         CASE WHEN n_chars % 7 = 0 THEN NULL
              ELSE string_split(text, ' ')[2] END AS family,
         CASE WHEN n_chars % 7 = 0 THEN NULL
              ELSE string_split(text, ' ')[1] END AS given,
         string_split(text, ' ')[1] AS raw,
         CAST(n_chars % 20 AS INT) AS block
  FROM documents
)
SELECT a.block AS block, count(*)::BIGINT AS n_pairs,
       sum(CASE WHEN {_NAMES_COMPAT_DUCK} THEN 1 ELSE 0 END)::BIGINT AS n_compat
FROM named a JOIN named b ON a.block = b.block AND a.doc_id < b.doc_id
GROUP BY a.block ORDER BY a.block
"""


@register(
    "udf_names_compatible_pairs",
    oracle=_NAMES_ORACLE,
    tags=("sqludf", "entity-resolution"),
    tables=("documents",),
)
def udf_names_compatible_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked candidate pairs scored by the names_compatible SQL UDF —
    the predicate layer of the reference's author-disambiguation join
    (block on a cheap key, apply the identity predicate inside the
    block; pair volume stays bounded by block occupancy at any scale).
    """
    create_sql_udfs(spark)
    return spark.sql("""
        WITH named AS (
          SELECT doc_id,
                 CASE WHEN n_chars % 7 = 0 THEN NULL
                      ELSE element_at(split(text, ' '), 2) END AS family,
                 CASE WHEN n_chars % 7 = 0 THEN NULL
                      ELSE element_at(split(text, ' '), 1) END AS given,
                 element_at(split(text, ' '), 1) AS raw,
                 CAST(n_chars % 20 AS INT) AS block
          FROM documents
        )
        SELECT a.block AS block, count(*) AS n_pairs,
               sum(CASE WHEN names_compatible(a.family, a.given,
                                              b.family, b.given,
                                              a.raw, b.raw)
                        THEN 1 ELSE 0 END) AS n_compat
        FROM named a JOIN named b
          ON a.block = b.block AND a.doc_id < b.doc_id
        GROUP BY a.block ORDER BY a.block
    """)


# ---------------------------------------------------------------------------
# priority_best fold (A3 as a SQL UDF, callable from SQL text).

_FOLD_ORACLE = """
WITH cand AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderpriority END AS value,
         CAST(o_orderkey % 5 AS INT) AS priority, 0 AS idx
  FROM orders
  UNION ALL
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 4 = 0 THEN '' ELSE o_orderstatus END,
         2, 1
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'fallback', 98, 2 FROM orders
)
SELECT o_orderkey, arg_min(value, priority * 4 + idx) AS best
FROM cand WHERE value IS NOT NULL AND value != ''
GROUP BY o_orderkey
"""


@register(
    "udf_priority_best_fold",
    oracle=_FOLD_ORACLE,
    tags=("sqludf", "fold"),
    tables=("orders",),
)
def udf_priority_best_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A3 provenance fold exposed as a SQL UDF: first candidate with a
    strictly lower priority wins (ties break toward the earlier element).
    The oracle replicates the fold relationally via arg_min over a
    composite (priority, index) key.
    """
    create_sql_udfs(spark)
    return spark.sql("""
        SELECT o_orderkey,
               priority_best(array(
                 struct(CASE WHEN o_orderkey % 3 = 0
                             THEN CAST(NULL AS STRING)
                             ELSE o_orderpriority END AS value,
                        CAST(o_orderkey % 5 AS INT) AS priority),
                 struct(CASE WHEN o_orderkey % 4 = 0
                             THEN '' ELSE o_orderstatus END AS value,
                        2 AS priority),
                 struct('fallback' AS value, 98 AS priority))) AS best
        FROM orders
    """)


# ---------------------------------------------------------------------------
# Award family policy: merge each key-family onto its newest year.

_FAMILY_ORACLE = f"""
WITH raw AS (
  SELECT o_orderkey, {_AWARD_RAW_DUCK} AS award,
         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr
  FROM orders
),
stripped AS (
  SELECT o_orderkey, yr,
         regexp_replace(regexp_replace(upper(trim(award)), '\\s+', ' ', 'g'),
                        '[ -]', '', 'g') AS s
  FROM raw
),
keyed AS (
  SELECT o_orderkey, yr, {_AWARD_KEY_DUCK} AS fam FROM stripped
)
SELECT fam, count(*)::BIGINT AS n_members,
       max(yr) AS newest_year,
       arg_min(o_orderkey, (2100 - yr) * 10000000 + o_orderkey) AS canonical_id
FROM keyed WHERE fam IS NOT NULL
GROUP BY fam
"""


@register(
    "award_family_merge",
    oracle=_FAMILY_ORACLE,
    tags=("sqludf", "domain", "A4"),
    tables=("orders",),
    spread=("orders",),
)
def award_family_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The award family policy (``AwardNormKey.sql`` header: families
    merge onto the NEWEST year): group deposited award strings by their
    normalized family key, pick the newest-year member as canonical
    (min orderkey breaks year ties — totalized). max_by-with-tie-break
    (A4) over the SQL-UDF key layer; one shuffle on the family key."""
    create_sql_udfs(spark)
    return spark.sql(f"""
        WITH raw AS (
          SELECT o_orderkey, {_AWARD_RAW_SPARK} AS award,
                 CAST(year(o_orderdate) AS BIGINT) AS yr
          FROM orders
        ),
        keyed AS (
          SELECT o_orderkey, yr, award_key(award) AS fam FROM raw
        )
        SELECT fam, count(*) AS n_members,
               max(yr) AS newest_year,
               min_by(o_orderkey, (2100 - yr) * 10000000 + o_orderkey)
                 AS canonical_id
        FROM keyed WHERE fam IS NOT NULL
        GROUP BY fam
    """)


# ---------------------------------------------------------------------------
# Per-family award normalization (the reference's generated per-funder
# table, notebooks/awards/AwardNormKey.sql) over realistic formats.

_FAMILY_RAW_SPARK = """
CASE CAST(o_orderkey % 54 AS INT)
  WHEN 0 THEN concat('1 R01 GM ', lpad(CAST(o_orderkey % 90000 + 10000 AS STRING), 5, '0'),
                     '-0', CAST(o_orderkey % 9 + 1 AS STRING))
  WHEN 1 THEN concat('DMS-1', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 2 THEN concat('ERC-2020-STG 0', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 3 THEN concat('EP/N', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'), '1/1')
  WHEN 4 THEN concat(lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'), '/Z/04/Z')
  WHEN 5 THEN concat('W81XWH-', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'),
                     '-1-', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 6 THEN concat('JP ', lpad(CAST(o_orderkey % 25 + 10 AS STRING), 2, '0'), 'H',
                     lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 7 THEN concat('ANR-', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), '-CE',
                     lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), '-',
                     lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 8 THEN concat(lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), '/',
                     lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'), '-',
                     CAST(o_orderkey % 10 AS STRING))
  WHEN 9 THEN CASE WHEN o_orderkey % 2 = 0
    THEN concat('DE-SC', lpad(CAST(o_orderkey % 10000000 AS STRING), 7, '0'))
    ELSE concat('DE-FG', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), '-',
                lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), 'ER',
                lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  END
  WHEN 10 THEN concat('HT', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'), '-',
                      lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), '-1-',
                      lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 11 THEN concat('PID', CAST(o_orderkey % 6 + 2017 AS STRING), '-',
                      lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 12 THEN concat('MOST ', CAST(o_orderkey % 30 + 100 AS STRING), '-2221-E-',
                      lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'), '-',
                      lpad(CAST(o_orderkey % 200 AS STRING), 3, '0'))
  WHEN 13 THEN concat('88887.', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'), '/',
                      CAST(o_orderkey % 10 + 2013 AS STRING), '-',
                      lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'))
  WHEN 14 THEN concat('20', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'), '/',
                      lpad(CAST(o_orderkey % 45 AS STRING), 2, '0'), '/B/ST',
                      CAST(o_orderkey % 9 + 1 AS STRING), '/',
                      lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 15 THEN concat('GA', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), '-',
                      lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'), 'S')
  WHEN 16 THEN concat('NSFC GRANT NO. 8', lpad(CAST(o_orderkey % 10000000 AS STRING), 7, '0'))
  WHEN 17 THEN concat('PROJEKT ', lpad(CAST(o_orderkey % 1000000000 AS STRING), 9, '0'))
  WHEN 18 THEN concat('PTDC/BIA-BMA/', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'),
                      '/20', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'))
  WHEN 19 THEN concat('RGPIN-', CAST(o_orderkey % 8 + 2015 AS STRING), '-',
                      lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 20 THEN concat('31003A_', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 21 THEN concat('MOP-', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 22 THEN concat(CAST(o_orderkey % 89 + 10 AS STRING), ' GRNT ',
                      lpad(CAST(o_orderkey % 10000000 AS STRING), 7, '0'))
  WHEN 23 THEN concat('ZR', CAST(o_orderkey % 5 + 2019 AS STRING), 'MH',
                      lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'))
  WHEN 24 THEN concat('01 EO ', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 25 THEN concat('P ', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'),
                      '-B', CAST(o_orderkey % 40 AS STRING))
  WHEN 26 THEN concat('PI', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'), '/',
                      lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 27 THEN concat('DNR 20', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'), '-',
                      lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 28 THEN concat('80NSSC', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), 'K',
                      lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 29 THEN concat('JP', lpad(CAST(o_orderkey % 25 AS STRING), 2, '0'), 'FK',
                      lpad(CAST(o_orderkey % 10000000 AS STRING), 7, '0'))
  WHEN 30 THEN concat(CAST(o_orderkey % 89 + 10 AS STRING), ' DP ',
                      lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 31 THEN concat('APP', lpad(CAST(o_orderkey % 10000000 AS STRING), 7, '0'))
  WHEN 32 THEN concat('NO. 20', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'), 'JJ',
                      lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 33 THEN concat('LY', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'), 'C',
                      lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 34 THEN concat('PROJECT ', lpad(CAST(o_orderkey % 100000000 AS STRING), 8, '0'))
  WHEN 35 THEN concat('NIHR HTA ', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), '/',
                      lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'), '/',
                      lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'))
  WHEN 36 THEN concat('H2020 GA NO. ', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 37 THEN concat('EP/N', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'), '/1')
  WHEN 38 THEN concat('NSTC ', CAST(o_orderkey % 30 + 100 AS STRING), '-2221-E-',
                      lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'), '-',
                      lpad(CAST(o_orderkey % 200 AS STRING), 3, '0'))
  WHEN 39 THEN concat('GRANT MR/N', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'), '/1')
  WHEN 40 THEN concat('BB/S', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'), '/1')
  WHEN 41 THEN concat('NE/L', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'), '/1')
  WHEN 42 THEN concat('ST/P', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'), '/1')
  WHEN 43 THEN concat('ES/P', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'), '/1')
  WHEN 44 THEN concat('AH/L', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'), '/1')
  WHEN 45 THEN concat('W911NF-', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'),
                      '-1-', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 46 THEN concat('N00014-', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'),
                      '-1-', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 47 THEN concat('FA9550-', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'),
                      '-1-', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 48 THEN concat('HR0011-', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'),
                      '-C-', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 49 THEN concat('HDTRA1-', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'),
                      '-1-', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 50 THEN concat('W81XWH-', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'),
                      '-1-', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 51 THEN concat('DAMD', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), '-',
                      lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'),
                      '-1-', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 52 THEN concat('HT', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'), '-',
                      lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'),
                      '-1-', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  ELSE concat('awd - ', lpad(CAST(o_orderkey % 100000 AS STRING), 7, '0'))
END
"""

_FAMILY_NAME = """
CASE CAST(o_orderkey % 54 AS INT)
  WHEN 0 THEN 'nih' WHEN 1 THEN 'nsf' WHEN 2 THEN 'erc'
  WHEN 3 THEN 'ukri' WHEN 4 THEN 'wellcome' WHEN 5 THEN 'dod'
  WHEN 6 THEN 'kakenhi' WHEN 7 THEN 'anr' WHEN 8 THEN 'fapesp'
  WHEN 9 THEN 'doe' WHEN 10 THEN 'cdmrp' WHEN 11 THEN 'aei'
  WHEN 12 THEN 'most_tw' WHEN 13 THEN 'capes' WHEN 14 THEN 'ncn'
  WHEN 15 THEN 'gacr'
  WHEN 16 THEN 'nsfc' WHEN 17 THEN 'dfg' WHEN 18 THEN 'fct'
  WHEN 19 THEN 'nserc' WHEN 20 THEN 'snsf' WHEN 21 THEN 'cihr'
  WHEN 22 THEN 'aha' WHEN 23 THEN 'shandong' WHEN 24 THEN 'bmbf'
  WHEN 25 THEN 'fwf' WHEN 26 THEN 'isciii' WHEN 27 THEN 'vr'
  WHEN 28 THEN 'nasa' WHEN 29 THEN 'amed' WHEN 30 THEN 'dhhs'
  WHEN 31 THEN 'nhmrc' WHEN 32 THEN 'hunan' WHEN 33 THEN 'zhejiang'
  WHEN 34 THEN 'innovate_uk' WHEN 35 THEN 'nihr'
  WHEN 36 THEN 'ec' WHEN 37 THEN 'epsrc' WHEN 38 THEN 'nstc_tw'
  WHEN 39 THEN 'mrc' WHEN 40 THEN 'bbsrc' WHEN 41 THEN 'nerc'
  WHEN 42 THEN 'stfc' WHEN 43 THEN 'esrc' WHEN 44 THEN 'ahrc'
  WHEN 45 THEN 'aro' WHEN 46 THEN 'onr' WHEN 47 THEN 'afosr'
  WHEN 48 THEN 'darpa' WHEN 49 THEN 'dtra' WHEN 50 THEN 'usamrmc'
  WHEN 51 THEN 'usamrdc' WHEN 52 THEN 'usamraa'
  ELSE 'generic'
END
"""

_FAMILY_RAW_DUCK = _FAMILY_RAW_SPARK.replace("AS STRING", "AS VARCHAR")

# DuckDB inline mirror of award_family_key (functions/sql_udfs.py).
# Patterns are lookaround-free on purpose: RE2 (DuckDB) and Java regex
# (Spark) then agree verbatim.
_FAMILY_KEY_DUCK = """
CASE
  WHEN family = 'nih' THEN
    CASE WHEN nullif(regexp_extract(_n, '([A-Z]{2}) ?-?([0-9]{5,6})', 1), '') IS NOT NULL
         THEN concat(regexp_extract(_n, '([A-Z]{2}) ?-?([0-9]{5,6})', 1),
                     lpad(regexp_extract(_n, '([A-Z]{2}) ?-?([0-9]{5,6})', 2), 6, '0'))
    END
  WHEN family = 'nsf' THEN
    nullif(regexp_extract(regexp_replace(_n, '[ -]', '', 'g'), '([0-9]{7})', 1), '')
  WHEN family = 'erc' THEN
    CAST(CAST(nullif(CASE
      WHEN regexp_matches(regexp_replace(_n, '[ -]', '', 'g'), '^[0-9]{12}$')
        THEN substr(regexp_replace(_n, '[ -]', '', 'g'), 7)
      ELSE regexp_extract(regexp_replace(_n, '[ -]', '', 'g'), '([0-9]{5,6})$', 1)
    END, '') AS BIGINT) AS VARCHAR)
  WHEN family = 'ukri' THEN
    coalesce(
      regexp_replace(nullif(regexp_extract(_n,
        '((EP|BBS|BB|NE|ES|AH|MR|ST)/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?)', 1), ''),
        '[ /]', '', 'g'),
      nullif(regexp_replace(regexp_replace(_n,
        '^(EPSRC|BBSRC|NERC|ESRC|AHRC|MRC|STFC|UKRI|GRANT|NO)[ .:#-]*', ''),
        '[ _/.-]', '', 'g'), ''))
  WHEN family = 'wellcome' THEN
    lpad(coalesce(
      nullif(regexp_extract(_n, '360G-WELLCOME-([0-9]{5,6})', 1), ''),
      nullif(regexp_extract(_n, '^([0-9]{5,6})', 1), '')), 6, '0')
  WHEN family = 'dod' THEN
    nullif(regexp_extract(regexp_replace(_n, '[-_ ]', '', 'g'),
      '((W81XWH|DAMD[0-9]{2}|HT[0-9]{4}|W911NF|N00014|FA[0-9]{4}|HR0011)[0-9]{2}[A-Z0-9]{3,9})',
      1), '')
  WHEN family = 'kakenhi' THEN
    nullif(regexp_extract(regexp_replace(_n, '^(KAKENHI|JP|GRANT|NO[.]?)[ -]*', ''),
      '^([0-9]{2}[A-Z][0-9]{5}|[0-9]{8})$', 1), '')
  WHEN family = 'anr' THEN
    CASE WHEN nullif(regexp_extract(_n, '^ANR-([0-9]{2})-([A-Z0-9]{2,6})-([0-9]{4})', 1), '') IS NOT NULL
         THEN concat(
           regexp_extract(_n, '^ANR-([0-9]{2})-([A-Z0-9]{2,6})-([0-9]{4})', 1), '-',
           regexp_extract(_n, '^ANR-([0-9]{2})-([A-Z0-9]{2,6})-([0-9]{4})', 2), '-',
           regexp_extract(_n, '^ANR-([0-9]{2})-([A-Z0-9]{2,6})-([0-9]{4})', 3))
    END
  WHEN family = 'fapesp' THEN
    nullif(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
      '^([0-9]{2}/[0-9]{5}-[0-9])$', 1), '')
  WHEN family = 'doe' THEN
    nullif(regexp_extract(regexp_replace(_n, '[ -]', '', 'g'),
      '^(?:DE)?((SC|EE|FE|AR|NE|NA|EM|OE|IA|PI|BI|CF|ET|SF|HS|DP|EW)[0-9]{7}|(FG|FC|AC|AI|GO|PS|EV|ER|AA)[0-9]{4}[A-Z]{1,2}[0-9]{4,6})$',
      1), '')
  WHEN family = 'cdmrp' THEN
    nullif(regexp_extract(regexp_replace(_n, '[-_ ]', '', 'g'),
      '^((W81XWH|DAMD[0-9]{2}|HT[0-9]{4}|W911[A-Z0-9]{2}|CDMRPL)[0-9A-Z]{5,14})$',
      1), '')
  WHEN family = 'aei' THEN
    nullif(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
      '^((PID|PGC|RYC|RTI|CEX|TED|SEV|BES|FPU|FJC|IJC|CNS|EUR|EQC|PLEC|PDC)[0-9]{4}-[0-9]{5,6}[A-Z0-9-]{0,8})$',
      1), '')
  WHEN family = 'most_tw' THEN
    nullif(regexp_replace(
      regexp_replace(_n, '^(MOST|NSC|NSTC)[ -]*', ''),
      '[ -]', '', 'g'), '')
  WHEN family = 'capes' THEN
    nullif(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
      '^((8888[0-9]|99999)[.][0-9]{6}/[0-9]{4}-[0-9]{2})$', 1), '')
  WHEN family = 'ncn' THEN
    nullif(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
      '^(20[0-9]{2}/[0-9]{2}/[A-Z]{1,2}/[A-Z]{2,3}[0-9]{1,2}/[0-9]{5})$', 1), '')
  WHEN family = 'gacr' THEN
    coalesce(
      nullif(regexp_extract(_n, '^G[A-Z]([0-9]{2}-[0-9]{5}[A-Z])$', 1), ''),
      nullif(regexp_extract(_n, '^G[A-Z](P?[0-9]{3}/[0-9]{2}/[A-Z]?[0-9]{3,4})$', 1), ''))
  WHEN family = 'nsfc' THEN
    coalesce(
      nullif(regexp_extract(_n, '(^|[^A-Z0-9])(U[0-9]{7})([^0-9]|$)', 2), ''),
      nullif(regexp_extract(_n, '(^|[^0-9])([0-9]{8})([^0-9]|$)', 2), ''),
      nullif(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
        '(^|[^0-9])([0-9]{8})([^0-9]|$)', 2), ''))
  WHEN family = 'dfg' THEN
    nullif(regexp_extract(_n, '(^|[^0-9])([0-9]{9})([^0-9]|$)', 2), '')
  WHEN family = 'fct' THEN
    nullif(regexp_replace(_n, ' ', '', 'g'), '')
  WHEN family = 'nserc' THEN
    CASE
      WHEN regexp_matches(regexp_replace(_n, ' ', '', 'g'),
                          '[A-Z]{3,7}/?-?[0-9]{4}-?[0-9]{4,6}$')
        THEN concat(
          regexp_extract(regexp_replace(_n, ' ', '', 'g'),
                         '([0-9]{4})-?[0-9]{4,6}$', 1), '-',
          CAST(CAST(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
                                   '([0-9]{4,6})$', 1) AS BIGINT) AS VARCHAR))
      WHEN regexp_matches(_n, '^[0-9]{5,6}[ -][0-9]{4}$')
        THEN concat(
          regexp_extract(_n, '([0-9]{4})$', 1), '-',
          CAST(CAST(regexp_extract(_n, '^([0-9]{5,6})', 1)
                    AS BIGINT) AS VARCHAR))
    END
  WHEN family = 'snsf' THEN
    CAST(CAST(nullif(CASE
      WHEN regexp_matches(_n, '^[0-9]{12}$') THEN substr(_n, 7)
      ELSE regexp_extract(_n, '([0-9]{5,6})$', 1)
    END, '') AS BIGINT) AS VARCHAR)
  WHEN family = 'cihr' THEN
    CAST(CAST(nullif(regexp_extract(
      regexp_replace(regexp_replace(_n, '^#+ ?', ''),
                     '^(950[- ]|[A-Z]{2,4}[0-9]?[- ]?)', ''),
      '^([0-9]{4,6})([-_][0-9]+)?$', 1), '') AS BIGINT) AS VARCHAR)
  WHEN family = 'aha' THEN
    nullif(regexp_replace(_n, ' ', '', 'g'), '')
  WHEN family = 'shandong' THEN
    nullif(regexp_extract(regexp_replace(_n, '[ -]', '', 'g'),
      '(ZR(19|20)[0-9]{2}[A-Z]{1,3}[0-9]{2,4}|[0-9]{4}ZR[A-Z][0-9A-Z]{5})',
      1), '')
  WHEN family = 'bmbf' THEN
    nullif(regexp_replace(_n, '[+ /-]', '', 'g'), '')
  WHEN family = 'fwf' THEN
    nullif(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
      '^(?:10[.]55776/|HTTPS?://(?:DX[.])?DOI[.]ORG/10[.]55776/)?([A-Z]{1,3}[0-9]{3,7})(?:-[A-Z][0-9]{1,3})?$',
      1), '')
  WHEN family = 'isciii' THEN
    CASE WHEN regexp_matches(regexp_replace(_n, ' ', '', 'g'),
                             '^[A-Z]{2,4}[0-9]{2}(CIII)?[/-][0-9]{1,5}$')
         THEN concat(
           regexp_extract(regexp_replace(_n, ' ', '', 'g'),
                          '^([A-Z]{2,4}[0-9]{2}(CIII)?)[/-]', 1), '/',
           lpad(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
                               '[/-]([0-9]{1,5})$', 1), 5, '0'))
    END
  WHEN family = 'vr' THEN
    CASE WHEN regexp_matches(
                regexp_replace(_n, '^(VR|DNR|GRANT)[ .:#-]*', ''),
                '^(19|20)[0-9]{2}[- ][0-9]{4,5}$')
         THEN concat(
           regexp_extract(
             regexp_replace(_n, '^(VR|DNR|GRANT)[ .:#-]*', ''),
             '^((19|20)[0-9]{2})', 1), '-',
           lpad(regexp_extract(
             regexp_replace(_n, '^(VR|DNR|GRANT)[ .:#-]*', ''),
             '[- ]([0-9]{4,5})$', 1), 5, '0'))
    END
  WHEN family = 'nasa' THEN
    nullif(regexp_replace(_n, '[ -]', '', 'g'), '')
  WHEN family = 'amed' THEN
    nullif(regexp_extract(_n,
      '^(?:JP)?([0-9]{2}[A-Z]{2}[0-9]{7})(?:H[0-9]{4})?$', 1), '')
  WHEN family = 'dhhs' THEN
    coalesce(
      nullif(regexp_extract(regexp_replace(_n, '[ -]', '', 'g'),
        '([A-Z][A-Z0-9]{4}[0-9]{6})', 1), ''),
      nullif(regexp_extract(regexp_replace(_n, '[ -]', '', 'g'),
        '(^|[^0-9])([0-9]{2}[A-Z][A-Z0-9][0-9]{4,5})([^0-9]|$)', 2), ''))
  WHEN family = 'nhmrc' THEN
    coalesce(
      nullif(regexp_extract(_n,
        '(^|[^A-Z0-9])(APP|GNT) ?-?([0-9]{6,7})([^0-9]|$)', 3), ''),
      nullif(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
                            '^(?:ID|NHMRC)?[.:#-]*([0-9]{6,7})$', 1), ''))
  WHEN family = 'hunan' THEN
    coalesce(
      nullif(regexp_extract(
        regexp_replace(regexp_replace(_n, '^(NO|GRANT)[ .:#-]*', ''),
                       ' ', '', 'g'),
        '^((19|20)[0-9]{2}JJ[0-9]{4,5})$', 1), ''),
      CASE WHEN regexp_matches(
                  regexp_replace(regexp_replace(_n, '^(NO|GRANT)[ .:#-]*', ''),
                                 ' ', '', 'g'),
                  '^[0-9]{2}JJ[0-9]{4,5}$')
           THEN concat('20',
                  regexp_replace(regexp_replace(_n, '^(NO|GRANT)[ .:#-]*', ''),
                                 ' ', '', 'g'))
      END)
  WHEN family = 'zhejiang' THEN
    coalesce(
      nullif(regexp_extract(
        regexp_replace(regexp_replace(_n, '^(NO|GRANT)[ .:#-]*', ''),
                       ' ', '', 'g'),
        '^(L[A-Z]{0,4}[0-9]{2}[A-Z][0-9]{6})$', 1), ''),
      CASE WHEN regexp_matches(
                  regexp_replace(regexp_replace(_n, '^(NO|GRANT)[ .:#-]*', ''),
                                 ' ', '', 'g'),
                  '^[A-Z]{1,4}[0-9]{2}[A-Z][0-9]{6}$')
            AND NOT regexp_matches(
                  regexp_replace(regexp_replace(_n, '^(NO|GRANT)[ .:#-]*', ''),
                                 ' ', '', 'g'),
                  '^L')
           THEN concat('L',
                  regexp_replace(regexp_replace(_n, '^(NO|GRANT)[ .:#-]*', ''),
                                 ' ', '', 'g'))
      END)
  WHEN family = 'innovate_uk' THEN
    nullif(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
      '^(?:PROJECT|GRANT|APP|NO)?[.:#-]*([0-9]{5,8}|KTP[0-9]{6})$', 1), '')
  WHEN family = 'nihr' THEN
    coalesce(
      nullif(regexp_extract(
        regexp_replace(regexp_replace(_n, '^NIHR[- ]', ''), ' ', '', 'g'),
        '^(?:[A-Z]{2,6})?([0-9]{2}/[0-9]{2,4}/[0-9]{2,4})$', 1), ''),
      nullif(regexp_extract(
        regexp_replace(_n, '^NIHR[- ]', ''),
        '(^|[^A-Z0-9-])([A-Z]{1,5}(-[A-Z0-9]{1,4}){0,3}-(19|20)[0-9]{2}-[0-9]{2,6}(-[A-Z0-9]{1,6}){0,2})([^A-Z0-9-]|$)',
        2), ''),
      nullif(regexp_replace(
        regexp_replace(_n, '^NIHR[- ]', ''), ' ', '', 'g'), ''))
  WHEN family = 'ec' THEN
    coalesce(
      nullif(regexp_extract(_n, '(^|[^0-9])(101[0-9]{6})([^0-9]|$)', 2), ''),
      nullif(regexp_extract(_n, '(^|[^0-9])([0-9]{6})([^0-9]|$)', 2), ''))
  WHEN family = 'epsrc' THEN
    nullif(regexp_replace(_n, ' ', '', 'g'), '')
  WHEN family = 'nstc_tw' THEN
    nullif(regexp_replace(
      regexp_replace(_n, '^(MOST|NSC|NSTC)[ -]*', ''),
      '[ -]', '', 'g'), '')
  WHEN family = 'mrc' THEN
    coalesce(
      regexp_replace(nullif(regexp_extract(_n,
        '(^|[^A-Z0-9])(MR/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?)([^A-Z0-9]|$)', 2),
        ''), '[ /]', '', 'g'),
      nullif(regexp_replace(regexp_replace(_n,
        '^(MRC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g'), ''))
  WHEN family = 'bbsrc' THEN
    coalesce(
      regexp_replace(nullif(regexp_extract(_n,
        '(^|[^A-Z0-9])(BBS?/ ?[A-Z0-9/]{6,14}?(/[0-9]{1,2})?)([^A-Z0-9]|$)', 2),
        ''), '[ /]', '', 'g'),
      nullif(regexp_replace(regexp_replace(_n,
        '^(BBSRC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g'), ''))
  WHEN family = 'nerc' THEN
    coalesce(
      regexp_replace(nullif(regexp_extract(_n,
        '(^|[^A-Z0-9])(NE/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?)([^A-Z0-9]|$)', 2),
        ''), '[ /]', '', 'g'),
      nullif(regexp_replace(regexp_replace(_n,
        '^(NERC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g'), ''))
  WHEN family = 'stfc' THEN
    coalesce(
      regexp_replace(nullif(regexp_extract(_n,
        '(^|[^A-Z0-9])((ST|PP)/ ?[A-Z0-9/]{6,9}?(/[0-9]{1,2})?)([^A-Z0-9]|$)', 2),
        ''), '[ /]', '', 'g'),
      nullif(regexp_replace(regexp_replace(_n,
        '^(STFC|UKRI|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g'), ''))
  WHEN family = 'esrc' THEN
    coalesce(
      regexp_replace(nullif(regexp_extract(_n,
        '(^|[^A-Z0-9])(ES/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?)([^A-Z0-9]|$)', 2),
        ''), '[ /]', '', 'g'),
      nullif(regexp_replace(regexp_replace(_n,
        '^(ESRC|UKRI[ .:#-]|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g'), ''))
  WHEN family = 'ahrc' THEN
    coalesce(
      regexp_replace(nullif(regexp_extract(_n,
        '(^|[^A-Z0-9])(AH/ ?[A-Z0-9]{6,7}(/[0-9]{1,2})?)([^A-Z0-9]|$)', 2),
        ''), '[ /]', '', 'g'),
      nullif(regexp_replace(regexp_replace(_n,
        '^(AHRC|UKRI[ .:#-]|GRANT|NO)[ .:#-]*', ''), '[ _/.-]', '', 'g'), ''))
  WHEN family = 'aro' THEN
    nullif(regexp_extract(regexp_replace(_n, '[-_ ]', '', 'g'),
      '^(W911NF[0-9]{2}[A-Z0-9]{3,9})$', 1), '')
  WHEN family = 'onr' THEN
    nullif(regexp_extract(regexp_replace(_n, '[-_ ]', '', 'g'),
      '^(N[0-9]{7}[A-Z0-9]{3,9})$', 1), '')
  WHEN family = 'afosr' THEN
    nullif(regexp_extract(regexp_replace(_n, '[-_ ]', '', 'g'),
      '^((FA[0-9]{4}|F49620)[0-9]{2}[A-Z0-9]{3,9})$', 1), '')
  WHEN family = 'darpa' THEN
    nullif(regexp_extract(regexp_replace(_n, '[-_ ]', '', 'g'),
      '^((HR0011|D[0-9]{2}A[CP]|N66001|W31P4Q|FA86[0-9]{2}|FA87[0-9]{2})[0-9A-Z]{5,12})$',
      1), '')
  WHEN family = 'dtra' THEN
    nullif(regexp_extract(regexp_replace(_n, '[-_ ]', '', 'g'),
      '^(HDTRA[0-9]{3}[A-Z0-9]{3,9})$', 1), '')
  WHEN family = 'usamrmc' THEN
    nullif(regexp_extract(regexp_replace(_n, '[-_ ]', '', 'g'),
      '^((W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9})$', 1), '')
  WHEN family = 'usamrdc' THEN
    nullif(regexp_extract(regexp_replace(_n, '[-_ ]', '', 'g'),
      '^((W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9})$', 1), '')
  WHEN family = 'usamraa' THEN
    nullif(regexp_extract(regexp_replace(_n, '[-_ ]', '', 'g'),
      '^((W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9})$', 1), '')
  ELSE
nullif(regexp_replace(_sq, '0*([0-9]+)\\z', '\\1'), '')
END
"""

_FAMILY_BATTERY_ORACLE = f"""
WITH raw AS (
  SELECT o_orderkey, {_FAMILY_NAME} AS family, {_FAMILY_RAW_DUCK} AS award
  FROM orders
),
normed AS (
  SELECT o_orderkey, family,
         regexp_replace(upper(trim(award)), '  +', ' ', 'g') AS _n,
         regexp_replace(regexp_replace(upper(trim(award)), '\\s+', ' ', 'g'),
                        '[ -]', '', 'g') AS _sq
  FROM raw
),
keyed AS (
  SELECT family, {_FAMILY_KEY_DUCK} AS k FROM normed
)
SELECT family, length(k) AS key_len,
       count(*)::BIGINT AS n, count(DISTINCT k)::BIGINT AS n_keys
FROM keyed
GROUP BY family, length(k)
ORDER BY family, key_len
"""


@register(
    "udf_award_family_battery",
    oracle=_FAMILY_BATTERY_ORACLE,
    tags=("sqludf", "scalar", "awards"),
    tables=("orders",),
    spread=("orders",),
)
def udf_award_family_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-family award normalizers — 53 funder families spanning
    AwardNormKey.sql's works-count-ordered table (NIH institute+serial,
    NSF 7-digit, ERC grant agreement, UKRI council codes, ... through
    the round-7 additions NSFC/DFG/FCT/NSERC/SNSF/CIHR/AHA/Shandong/
    BMBF/FWF/ISCIII/VR/NASA/AMED/DHHS/NHMRC/Hunan/Zhejiang/InnovateUK/
    NIHR) exercised over realistic deposited formats. Every family's
    fixture format must FIRE (produce a non-null key): the grouped
    key_len rollup hash-compares per family, so a never-matching regex
    in either dialect flips that family's row and fails the oracle.
    Macro-expanded SQL UDF: zero Python in the plan, one shuffle for
    the rollup."""
    create_sql_udfs(spark)
    return spark.sql(f"""
        WITH raw AS (
          SELECT o_orderkey, {_FAMILY_NAME} AS family,
                 {_FAMILY_RAW_SPARK} AS award
          FROM orders
        ),
        keyed AS (
          SELECT family, award_family_key(family, award) AS k FROM raw
        )
        SELECT family, length(k) AS key_len,
               count(*) AS n, count(DISTINCT k) AS n_keys
        FROM keyed
        GROUP BY family, length(k)
        ORDER BY family, key_len
    """)


# ---------------------------------------------------------------------------
# Award SCORING battery: grammar recognizers + registry tiers -> verdict
# ---------------------------------------------------------------------------
# The scoring half of AwardNormKey.sql (l.227-330): per-funder grammar
# recognizers and the verdict CASE (unscored / confirmed_weak /
# confirmed / confirmed_ambiguous / plausible / foreign_scheme /
# garbage).  Both dialects compile from the SAME rule table in
# functions/sql_udfs.py (the typerules.py dual-compilation discipline),
# so this battery hash-checks that 51 grammar branches + the weak-
# surface list + the 25-arm foreign-scheme keep-list agree verbatim
# across Java regex and RE2.  The fixture reuses the 54-family raw
# generator and injects foreign-scheme and junk strings plus bare-digit
# weak forms on deterministic orderkey lattices; n_awards (registry
# hits of the key) is a synthetic 0/1/2 lattice — the registry itself
# is data, not engine capability.
from openalex_walden_spark.functions.sql_udfs import (  # noqa: E402
    _GRAMMAR_RULES,
    compile_foreign_scheme,
    compile_grammar_case,
    compile_weak_surface,
)

_WEAK_FAMS = "('cihr', 'wellcome', 'snsf', 'ec', 'nsf', 'nserc')"


def _verdict_raw(award_expr: str) -> str:
    """The battery's award column: the family fixture format, with
    foreign-scheme / junk / bare-digit injections on o_orderkey
    lattices (dialect-neutral SQL, CAST form substituted)."""
    return f"""CASE
      WHEN o_orderkey % 13 = 3 AND ({{fam}}) IN {_WEAK_FAMS}
        THEN lpad(CAST(o_orderkey % 100000 AS {{str_t}}), 6, '0')
      WHEN o_orderkey % 13 = 7 THEN 'PRIN 2017ABC123'
      WHEN o_orderkey % 13 = 11 THEN 'SEE PAGE 12'
      ELSE {award_expr}
    END"""


_N_AWARDS = """CASE CAST(o_orderkey % 5 AS INT)
  WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 1 END"""

_SCORED_SET = ", ".join(f"'{f}'" for f in _GRAMMAR_RULES)

_VERDICT_DUCK = f"""CASE
  WHEN award IS NULL OR trim(award) = '' THEN 'garbage'
  WHEN family NOT IN ({_SCORED_SET}) THEN 'unscored'
  WHEN n_awards >= 1 AND ({compile_weak_surface(1)}) THEN 'confirmed_weak'
  WHEN n_awards = 1 THEN 'confirmed'
  WHEN n_awards > 1 THEN 'confirmed_ambiguous'
  WHEN ({compile_grammar_case(1)}) THEN 'plausible'
  WHEN ({_FAMILY_KEY_DUCK}) IS NOT NULL THEN 'plausible'
  WHEN ({compile_foreign_scheme(1)}) THEN 'foreign_scheme'
  ELSE 'garbage'
END"""

_VERDICT_ORACLE = f"""
WITH raw AS (
  SELECT o_orderkey, {_FAMILY_NAME} AS family,
         {_verdict_raw(_FAMILY_RAW_DUCK).format(fam=_FAMILY_NAME, str_t="VARCHAR")} AS award,
         CAST({_N_AWARDS} AS BIGINT) AS n_awards
  FROM orders
),
normed AS (
  SELECT o_orderkey, family, award, n_awards,
         regexp_replace(upper(trim(award)), '  +', ' ', 'g') AS _n,
         regexp_replace(regexp_replace(upper(trim(award)), '\\s+', ' ', 'g'),
                        '[ -]', '', 'g') AS _sq
  FROM raw
),
scored AS (
  SELECT family, {_VERDICT_DUCK} AS verdict FROM normed
)
SELECT family, verdict, count(*)::BIGINT AS n
FROM scored
GROUP BY family, verdict
ORDER BY family, verdict
"""


@register(
    "udf_award_verdict_battery",
    oracle=_VERDICT_ORACLE,
    tags=("sqludf", "scalar", "awards", "scoring"),
    tables=("orders",),
    spread=("orders",),
)
def udf_award_verdict_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Award scoring verdicts over the 53-family fixture plus injected
    foreign-scheme / junk / bare-weak strings (see block comment).
    Every tier materializes at sf0.001+: confirmed / ambiguous /
    weak via the n_awards lattice, plausible via grammar or a fired
    extractor, foreign_scheme and garbage via the injections, unscored
    via the generic family.  Macro-expanded SQL UDFs — zero Python,
    one shuffle for the rollup; at 100 TB the scoring layer is a
    map-side projection over the deposited table."""
    create_sql_udfs(spark)
    return spark.sql(f"""
        WITH raw AS (
          SELECT o_orderkey, {_FAMILY_NAME} AS family,
                 {_verdict_raw(_FAMILY_RAW_SPARK).format(fam=_FAMILY_NAME, str_t="STRING")} AS award,
                 CAST({_N_AWARDS} AS BIGINT) AS n_awards
          FROM orders
        ),
        scored AS (
          SELECT family, award_verdict(family, award, n_awards) AS verdict
          FROM raw
        )
        SELECT family, verdict, count(*) AS n
        FROM scored
        GROUP BY family, verdict
        ORDER BY family, verdict
    """)


# ---------------------------------------------------------------------------
# Award SALVAGE battery S1: decorated own-id rescue
# ---------------------------------------------------------------------------
# The rescue half of AwardNormKey.sql (l.372-491): every 'garbage'
# string is re-examined after stripping decoration wrappers (lead
# label stacks, trailing parentheticals / grantee names / punctuation:
# "GRANT NO. 12345 (ABC)." -> "12345"), then re-keyed and checked
# against the registry on BOTH keys (funder-specific nk and the
# generic alias key), with the funder's own grammar and the foreign-
# scheme keep-list as fallbacks.  The decoration strip, generic key,
# and action CASE compile from functions/sql_udfs.py for both dialects
# (the typerules.py dual-compilation discipline).  The fixture
# decorates the 54-family raw generator on an o_orderkey lattice and
# injects an unrescuable junk string; the registry is the UNDECORATED
# generator's keys over the o_orderkey%3=0 arm, so registry hits and
# misses both materialize deterministically.
from openalex_walden_spark.functions.sql_udfs import (  # noqa: E402
    compile_decoration_strip,
    compile_generic_key,
)

_DECOR_RAW = """CASE CAST(o_orderkey % 7 AS INT)
  WHEN 0 THEN concat('GRANT NO. ', {fmt})
  WHEN 1 THEN concat('#', {fmt}, ').')
  WHEN 2 THEN concat({fmt}, ' (PI: SMITH)')
  WHEN 3 THEN concat('AWARD: ', {fmt}, ' TO J. SMITH')
  WHEN 4 THEN concat('PROJECT ', {fmt}, ' --')
  WHEN 5 THEN 'NO. THANKS TO EVERYONE'
  ELSE {fmt}
END"""

_S1_NORM_DUCK = "regexp_replace(upper(trim({x})), '  +', ' ', 'g')"
_S1_SQ_DUCK = (
    "regexp_replace(regexp_replace(upper(trim({x})), '\\s+', ' ', 'g'),"
    " '[ -]', '', 'g')"
)

_S1_RESCUE_DUCK = f"""CASE
  WHEN registry_hit AND ({compile_weak_surface(1)}) THEN 'decorated_own_id_weak'
  WHEN registry_hit THEN 'decorated_own_id'
  WHEN ({compile_grammar_case(1)}) AND NOT ({compile_weak_surface(1)})
    THEN 'decorated_plausible'
  WHEN ({compile_foreign_scheme(1)}) OR regexp_matches(_n, '^[0-9]{{6,8}}$')
    THEN 'foreign_scheme_decorated'
  ELSE 'unrescued'
END"""

_S1_ORACLE = f"""
WITH raw AS (
  SELECT o_orderkey, {_FAMILY_NAME} AS family,
         {_DECOR_RAW.format(fmt=_FAMILY_RAW_DUCK)} AS award
  FROM orders
),
stripped AS (
  SELECT o_orderkey, family,
         {_S1_NORM_DUCK.format(x="award")} AS _n0,
         {compile_decoration_strip(_S1_NORM_DUCK.format(x="award"), 1)} AS s
  FROM raw
),
skey AS (
  SELECT family, s,
         {_S1_NORM_DUCK.format(x="s")} AS _n,
         {_S1_SQ_DUCK.format(x="s")} AS _sq
  FROM stripped WHERE s <> '' AND s <> _n0
),
keyed AS (
  SELECT family, s, _n,
         ({_FAMILY_KEY_DUCK}) AS s_nk,
         ({compile_generic_key("s", 1)}) AS s_nk_g
  FROM skey
),
bnorm AS (
  SELECT {_FAMILY_NAME} AS family,
         {_S1_NORM_DUCK.format(x=_FAMILY_RAW_DUCK)} AS _n,
         {_S1_SQ_DUCK.format(x=_FAMILY_RAW_DUCK)} AS _sq
  FROM orders WHERE o_orderkey % 3 = 0
),
reg AS (
  SELECT DISTINCT family, nk
  FROM (SELECT family, ({_FAMILY_KEY_DUCK}) AS nk FROM bnorm)
),
reg_g AS (
  SELECT DISTINCT family, nk_g
  FROM (SELECT family, ({compile_generic_key("_n", 1)}) AS nk_g
        FROM bnorm)
),
hit AS (
  SELECT k.family, k.s, k._n,
         (r.nk IS NOT NULL OR rg.nk_g IS NOT NULL) AS registry_hit
  FROM keyed k
  LEFT JOIN reg r ON r.family = k.family AND r.nk = k.s_nk
  LEFT JOIN reg_g rg ON rg.family = k.family AND rg.nk_g = k.s_nk_g
)
SELECT family, {_S1_RESCUE_DUCK} AS action, count(*)::BIGINT AS n
FROM hit
GROUP BY family, action
ORDER BY family, action
"""


@register(
    "udf_award_salvage_s1",
    oracle=_S1_ORACLE,
    tags=("sqludf", "scalar", "awards", "salvage"),
    tables=("orders",),
    spread=("orders",),
)
def udf_award_salvage_s1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 decorated own-id salvage over the 54-family fixture: strip
    decoration (lead label stack once, trailing junk twice), re-key the
    residue with the family normalizer AND the generic alias key, join
    the undecorated registry on both, and classify: decorated_own_id
    (registry hit; _weak when the residue is a weak bare surface),
    decorated_plausible (own grammar fires), foreign_scheme_decorated
    (foreign keep-list or bare 6-8 digit residue), unrescued.  The two
    registry joins broadcast (the key sides are DISTINCT rollups of the
    same table's deposited arm — at 100 TB the registry is the small
    dimension by construction); the strip/key/grammar layer is a
    map-side projection of macro-expanded SQL UDFs, zero Python."""
    create_sql_udfs(spark)
    # Two lazy localCheckpoint barriers, not CTEs: the macro-expanded
    # family-key CASE is ~26k chars over a COLUMN and ~1.7M chars over
    # the composed fixture expression, and Catalyst re-composes CTEs
    # aggressively — CollapseProject inlines the strip-of-54-branch-CASE
    # into every grammar subject site, PushDownPredicates pushes the
    # s <> _n0 filter through REPARTITION hints, and constraint
    # propagation re-infers isnotnull(<key CASE>) filters on the join
    # sides even when written without one — any of which overflows
    # janino.  A checkpoint is a real plan leaf the optimizer cannot
    # see through, so each layer expands exactly once; at 100 TB the
    # equivalent is simply materializing the stripped/registry frames,
    # which a production salvage pipeline does anyway (the reference
    # writes award_id_salvage as a table).
    stripped = spark.sql(f"""
        SELECT family, s FROM (
          SELECT family, award_norm0(award) AS _n0,
                 award_decoration_strip(award) AS s
          FROM (
            SELECT {_FAMILY_NAME} AS family,
                   {_DECOR_RAW.format(fmt=_FAMILY_RAW_SPARK)} AS award
            FROM orders
          )
        ) WHERE s <> '' AND s <> _n0
    """).localCheckpoint(eager=False)
    stripped.createOrReplaceTempView("s1_stripped")
    regk = spark.sql(f"""
        SELECT DISTINCT family, award_family_key(family, award) AS nk,
               award_generic_key(award) AS nk_g
        FROM (
          SELECT {_FAMILY_NAME} AS family, {_FAMILY_RAW_SPARK} AS award
          FROM orders WHERE o_orderkey % 3 = 0
        )
    """).localCheckpoint(eager=False)
    regk.createOrReplaceTempView("s1_regk")
    return spark.sql("""
        WITH reg AS (SELECT DISTINCT family, nk FROM s1_regk),
        reg_g AS (SELECT DISTINCT family, nk_g FROM s1_regk),
        keyed AS (
          SELECT family, s,
                 award_family_key(family, s) AS s_nk,
                 award_generic_key(s) AS s_nk_g
          FROM s1_stripped
        ),
        hit AS (
          SELECT k.family, k.s,
                 (r.nk IS NOT NULL OR rg.nk_g IS NOT NULL) AS registry_hit
          FROM keyed k
          LEFT JOIN reg r ON r.family = k.family AND r.nk = k.s_nk
          LEFT JOIN reg_g rg ON rg.family = k.family AND rg.nk_g = k.s_nk_g
        )
        SELECT family, award_rescue_action(family, s, registry_hit) AS action,
               count(*) AS n
        FROM hit
        GROUP BY family, action
        ORDER BY family, action
    """)


# ---------------------------------------------------------------------------
# Award SALVAGE battery S2: multi-id concatenation split
# ---------------------------------------------------------------------------
# Reference AwardNormKey.sql l.492-585: a garbage string containing
# separators ([,;&+] or a spelled-out AND) and at least 3 digits is
# split into parts; each part is decoration-stripped, re-keyed (both
# keys), grammar- and weak-checked, and the source row is rescued as
# 'multi_id_split' when at least one part is registry-confirmed or
# plausible.  Registry-hit parts count even when weak — multi-id
# context corroborates (rescue-only, never merging).  The fixture
# concatenates the 54-family generator with itself at +54/+108
# orderkey offsets (same family lattice, different serials), so real
# multi-id rows, junk-bearing rows, and all-junk parts materialize.

_MULTI_RAW_SPARK = """CASE CAST(o_orderkey % 5 AS INT)
  WHEN 0 THEN concat({f1}, '; ', {f2})
  WHEN 1 THEN concat({f1}, ' AND ', {f2})
  WHEN 2 THEN concat('GRANTS: ', {f1}, ', ', {f2}, ', ', {f3})
  WHEN 3 THEN concat({f1}, ' & ACKNOWLEDGED SUPPORT')
  ELSE concat({f1}, '; SEE TEXT')
END""".format(
    f1=_FAMILY_RAW_SPARK,
    f2=_FAMILY_RAW_SPARK.replace("o_orderkey", "(o_orderkey + 54)"),
    f3=_FAMILY_RAW_SPARK.replace("o_orderkey", "(o_orderkey + 108)"),
)

_MULTI_RAW_DUCK = _MULTI_RAW_SPARK.replace("AS STRING", "AS VARCHAR")

_S2_SPLIT = "[,;&+]| AND "

_S2_ORACLE = f"""
WITH raw AS (
  SELECT o_orderkey, {_FAMILY_NAME} AS family,
         {_S1_NORM_DUCK.format(x=_MULTI_RAW_DUCK)} AS _n
  FROM orders
),
multi AS (
  SELECT o_orderkey, family, _n FROM raw
  WHERE (regexp_matches(_n, '[,;&+]') OR regexp_matches(_n, ' AND '))
    AND regexp_matches(_n, '[0-9]{{3}}')
),
parts0 AS (
  SELECT o_orderkey, family,
         trim(unnest(string_split_regex(_n, '{_S2_SPLIT}'))) AS p0
  FROM multi
),
parts AS (
  SELECT o_orderkey, family,
         {compile_decoration_strip(_S1_NORM_DUCK.format(x="p0"), 1)} AS part
  FROM parts0 WHERE p0 <> ''
),
pkey AS (
  SELECT o_orderkey, family, part,
         {_S1_NORM_DUCK.format(x="part")} AS _n,
         {_S1_SQ_DUCK.format(x="part")} AS _sq
  FROM parts WHERE part <> ''
),
keyed AS (
  SELECT o_orderkey, family,
         ({_FAMILY_KEY_DUCK}) AS p_nk,
         ({compile_generic_key("part", 1)}) AS p_nk_g,
         ({compile_grammar_case(1)}) AS p_gram,
         ({compile_weak_surface(1)}) AS p_weak
  FROM pkey
),
bnorm AS (
  SELECT {_FAMILY_NAME} AS family,
         {_S1_NORM_DUCK.format(x=_FAMILY_RAW_DUCK)} AS _n,
         {_S1_SQ_DUCK.format(x=_FAMILY_RAW_DUCK)} AS _sq
  FROM orders WHERE o_orderkey % 3 = 0
),
reg AS (
  SELECT DISTINCT family, nk
  FROM (SELECT family, ({_FAMILY_KEY_DUCK}) AS nk FROM bnorm)
),
reg_g AS (
  SELECT DISTINCT family, nk_g
  FROM (SELECT family, ({compile_generic_key("_n", 1)}) AS nk_g FROM bnorm)
),
scored AS (
  SELECT o_orderkey, family,
         count(*) AS n_parts,
         sum(CASE WHEN hit THEN 1 ELSE 0 END) AS n_confirmed_parts,
         sum(CASE WHEN NOT hit AND p_gram AND NOT p_weak
                  THEN 1 ELSE 0 END) AS n_plausible_parts
  FROM (
    SELECT k.o_orderkey, k.family, k.p_gram, k.p_weak,
           (r.nk IS NOT NULL OR rg.nk_g IS NOT NULL) AS hit
    FROM keyed k
    LEFT JOIN reg r ON r.family = k.family AND r.nk = k.p_nk
    LEFT JOIN reg_g rg ON rg.family = k.family AND rg.nk_g = k.p_nk_g
  )
  GROUP BY o_orderkey, family
)
SELECT family,
       (n_confirmed_parts >= 1 OR n_plausible_parts >= 1) AS rescued,
       CAST(n_parts AS BIGINT) AS n_parts,
       CAST(n_confirmed_parts AS BIGINT) AS n_confirmed_parts,
       CAST(n_plausible_parts AS BIGINT) AS n_plausible_parts,
       count(*)::BIGINT AS n
FROM scored
GROUP BY family, rescued, n_parts, n_confirmed_parts, n_plausible_parts
ORDER BY family, rescued, n_parts, n_confirmed_parts, n_plausible_parts
"""


@register(
    "udf_award_salvage_s2_multiid",
    oracle=_S2_ORACLE,
    tags=("sqludf", "scalar", "awards", "salvage"),
    tables=("orders",),
    spread=("orders",),
)
def udf_award_salvage_s2_multiid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 multi-id split salvage: explode separator-bearing garbage
    strings into parts, decoration-strip and re-key each part against
    the registry (both keys), score parts by grammar/weak, and roll up
    per source row into (n_parts, n_confirmed, n_plausible) with the
    rescue decision.  Same localCheckpoint barriers as S1 (see that
    docstring); the explode is a flatMap (no shuffle), the registry
    joins broadcast, and the two aggregations shuffle on (o_orderkey)
    then (family, counts) — at 100 TB the fan-out is bounded by the
    separator count per string, never the corpus."""
    create_sql_udfs(spark)
    multi = spark.sql(f"""
        SELECT o_orderkey, {_FAMILY_NAME} AS family,
               award_norm0({_MULTI_RAW_SPARK}) AS _n
        FROM orders
    """).localCheckpoint(eager=False)
    multi.createOrReplaceTempView("s2_multi")
    regk = spark.sql(f"""
        SELECT DISTINCT family, award_family_key(family, award) AS nk,
               award_generic_key(award) AS nk_g
        FROM (
          SELECT {_FAMILY_NAME} AS family, {_FAMILY_RAW_SPARK} AS award
          FROM orders WHERE o_orderkey % 3 = 0
        )
    """).localCheckpoint(eager=False)
    regk.createOrReplaceTempView("s2_regk")
    return spark.sql(f"""
        WITH reg AS (SELECT DISTINCT family, nk FROM s2_regk),
        reg_g AS (SELECT DISTINCT family, nk_g FROM s2_regk),
        multi AS (
          SELECT o_orderkey, family, _n FROM s2_multi
          WHERE (_n rlike '[,;&+]' OR _n rlike ' AND ')
            AND _n rlike '[0-9]{{3}}'
        ),
        parts0 AS (
          SELECT o_orderkey, family, trim(p) AS p0
          FROM multi LATERAL VIEW explode(split(_n, '{_S2_SPLIT}')) t AS p
        ),
        parts AS (
          SELECT o_orderkey, family, award_decoration_strip(p0) AS part
          FROM parts0 WHERE p0 <> ''
        ),
        keyed AS (
          SELECT o_orderkey, family,
                 award_family_key(family, part) AS p_nk,
                 award_generic_key(part) AS p_nk_g,
                 award_grammar_pass(family, part) AS p_gram,
                 award_weak_surface(family, part) AS p_weak
          FROM parts WHERE part <> ''
        ),
        scored AS (
          SELECT o_orderkey, family,
                 count(*) AS n_parts,
                 sum(CASE WHEN hit THEN 1 ELSE 0 END) AS n_confirmed_parts,
                 sum(CASE WHEN NOT hit AND p_gram AND NOT p_weak
                          THEN 1 ELSE 0 END) AS n_plausible_parts
          FROM (
            SELECT k.o_orderkey, k.family, k.p_gram, k.p_weak,
                   (r.nk IS NOT NULL OR rg.nk_g IS NOT NULL) AS hit
            FROM keyed k
            LEFT JOIN reg r ON r.family = k.family AND r.nk = k.p_nk
            LEFT JOIN reg_g rg
              ON rg.family = k.family AND rg.nk_g = k.p_nk_g
          )
          GROUP BY o_orderkey, family
        )
        SELECT family,
               (n_confirmed_parts >= 1 OR n_plausible_parts >= 1) AS rescued,
               n_parts, n_confirmed_parts, n_plausible_parts,
               count(*) AS n
        FROM scored
        GROUP BY family, rescued, n_parts, n_confirmed_parts,
                 n_plausible_parts
        ORDER BY family, rescued, n_parts, n_confirmed_parts,
                 n_plausible_parts
    """)


# ---------------------------------------------------------------------------
# Award SALVAGE battery S3: wrong-funder detection via cross-grammars
# ---------------------------------------------------------------------------
# Reference AwardNormKey.sql l.586-640: a letter-bearing garbage string
# (or the FAPESP numeric chassis — structured punctuation, not a bare
# number) is checked against every OTHER scored funder's STRONG
# cross-grammar; a grammar hit that also keys into the target funder's
# registry is rescued as 'wrong_funder' with the target identity.  The
# fixture deposits family(o+6)'s format at family(o) on one lattice arm
# (a true wrong-funder deposit — the +6 shift changes the family while
# keeping the string on the registry arm's %3=0 lattice, so the foreign
# id really exists at its home funder), junk on another, and the own id
# on the third, so hits, misses, and coincidental cross-hits all
# materialize.
from openalex_walden_spark.functions.sql_udfs import (  # noqa: E402
    _XGRAM_RULES,
    compile_xgram_case,
)

# Lattice moduli are chosen coprime to the 54-family cycle (7 for the
# candidate arm, 5 for the S3 registry arm) so every XGRAM family is
# both a wrong-funder target and a registry holder; a %3 arm would
# couple with the family lattice (3 | 54) and restrict targets to a
# third of the families.
_S3_RAW_SPARK = """CASE WHEN o_orderkey % 7 < 3 THEN {f1}
  WHEN o_orderkey % 7 = 3 THEN 'SEE PAGE 12'
  ELSE {f0}
END""".format(
    f0=_FAMILY_RAW_SPARK,
    f1=_FAMILY_RAW_SPARK.replace("o_orderkey", "(o_orderkey + 6)"),
)

_S3_RAW_DUCK = _S3_RAW_SPARK.replace("AS STRING", "AS VARCHAR")

_XGRAM_FAMS = ", ".join(f"'{f}'" for f in _XGRAM_RULES)

_S3_ORACLE = f"""
WITH cand AS (
  SELECT o_orderkey, {_FAMILY_NAME} AS family,
         {_S1_NORM_DUCK.format(x=_S3_RAW_DUCK)} AS _n
  FROM orders
),
cand_f AS (
  SELECT o_orderkey, family, _n FROM cand
  WHERE regexp_matches(_n, '[A-Z]')
     OR regexp_matches(_n, '(^|[^0-9])[0-9]{{2,4}}/[0-9]{{4,5}}-[0-9]([^0-9]|$)')
),
targets AS (SELECT unnest([{_XGRAM_FAMS}]) AS t_family),
wf0 AS (
  SELECT c.o_orderkey, c.family, c._n, t.t_family
  FROM cand_f c CROSS JOIN targets t
  WHERE t.t_family <> c.family
),
wf_gram AS (
  SELECT o_orderkey, family, t_family, _n,
         {_S1_SQ_DUCK.format(x="_n")} AS _sq
  FROM wf0
  WHERE ({compile_xgram_case(1, "t_family")})
),
wf_keyed AS (
  SELECT w.o_orderkey, w.family AS source_family, w.t_family,
         ({_FAMILY_KEY_DUCK.replace("family =", "t_family =")}) AS f_nk
  FROM wf_gram w
),
bnorm AS (
  SELECT {_FAMILY_NAME} AS family,
         {_S1_NORM_DUCK.format(x=_FAMILY_RAW_DUCK)} AS _n,
         {_S1_SQ_DUCK.format(x=_FAMILY_RAW_DUCK)} AS _sq
  FROM orders WHERE o_orderkey % 5 = 0
),
reg AS (
  SELECT DISTINCT family, nk
  FROM (SELECT family, ({_FAMILY_KEY_DUCK}) AS nk FROM bnorm)
)
SELECT k.source_family, k.t_family AS target_family,
       count(*)::BIGINT AS n,
       count(DISTINCT k.f_nk)::BIGINT AS n_keys
FROM wf_keyed k
JOIN reg r ON r.family = k.t_family AND r.nk = k.f_nk
GROUP BY k.source_family, k.t_family
ORDER BY k.source_family, k.t_family
"""


@register(
    "udf_award_salvage_s3_wrong_funder",
    oracle=_S3_ORACLE,
    tags=("sqludf", "scalar", "awards", "salvage"),
    tables=("orders",),
    spread=("orders",),
)
def udf_award_salvage_s3_wrong_funder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """S3 wrong-funder salvage: letter-bearing garbage strings are
    cross-checked against the 22 XGRAM families' strong grammars
    (broadcast seed CROSS JOIN — cost is the family count, never the
    corpus), keyed with the TARGET family's normalizer, and confirmed
    against the target registry; confirmed (source, target) pairs roll
    up with hit and distinct-key counts.  The xgram filter runs BEFORE
    keying so the 22x fan-out collapses immediately; the registry join
    broadcasts.  Same localCheckpoint barriers as S1."""
    create_sql_udfs(spark)
    cand = spark.sql(f"""
        SELECT o_orderkey, {_FAMILY_NAME} AS family,
               award_norm0({_S3_RAW_SPARK}) AS _n
        FROM orders
    """).localCheckpoint(eager=False)
    cand.createOrReplaceTempView("s3_cand")
    regk = spark.sql(f"""
        SELECT DISTINCT family, award_family_key(family, award) AS nk
        FROM (
          SELECT {_FAMILY_NAME} AS family, {_FAMILY_RAW_SPARK} AS award
          FROM orders WHERE o_orderkey % 5 = 0
        )
    """).localCheckpoint(eager=False)
    regk.createOrReplaceTempView("s3_regk")
    return spark.sql(f"""
        WITH cand_f AS (
          SELECT o_orderkey, family, _n FROM s3_cand
          WHERE _n rlike '[A-Z]'
             OR _n rlike '(^|[^0-9])[0-9]{{2,4}}/[0-9]{{4,5}}-[0-9]([^0-9]|$)'
        ),
        targets AS (
          SELECT explode(array({_XGRAM_FAMS})) AS t_family
        ),
        wf0 AS (
          SELECT c.o_orderkey, c.family, c._n, t.t_family
          FROM cand_f c CROSS JOIN targets t
          WHERE t.t_family <> c.family
        ),
        wf_gram AS (
          SELECT o_orderkey, family, t_family, _n
          FROM wf0 WHERE award_xgram_pass(t_family, _n)
        ),
        wf_keyed AS (
          SELECT o_orderkey, family AS source_family, t_family,
                 award_family_key(t_family, _n) AS f_nk
          FROM wf_gram
        ),
        reg AS (SELECT DISTINCT family, nk FROM s3_regk)
        SELECT k.source_family, k.t_family AS target_family,
               count(*) AS n, count(DISTINCT k.f_nk) AS n_keys
        FROM wf_keyed k
        JOIN reg r ON r.family = k.t_family AND r.nk = k.f_nk
        GROUP BY k.source_family, k.t_family
        ORDER BY k.source_family, k.t_family
    """)


# ---------------------------------------------------------------------------
# Award GUARD decision battery: verdict + salvage + positive-junk -> mint/suppress
# ---------------------------------------------------------------------------
# Reference AwardNormKey.sql l.647-766 (award_id_guard): one row per
# scored (funder, award) deciding mint vs suppress at ingest time.
# Suppression requires POSITIVE junk classification (the reference's
# recalibration DESIGN FLIP: failed-to-verify is NOT junk), junk must
# survive strip-and-retest on the junk-stripped core, a string
# containing a complete structural id chassis can never be junk, and
# funder-scoped keeps + the DOE deferral carve out the rest.  The
# salvage actions column is a deterministic lattice here (the salvage
# table is DATA consumed by the guard — S1-S3 above verify its
# construction); the junk/chassis/scoped tiers compile from
# functions/sql_udfs.py for both dialects.
from openalex_walden_spark.functions.sql_udfs import (  # noqa: E402
    compile_is_junk,
    compile_junk_strip,
)

_GUARD_RAW = """CASE CAST(o_orderkey % 17 AS INT)
  WHEN 0 THEN 'H2020'
  WHEN 1 THEN '2019 - 2020'
  WHEN 2 THEN '10.13039/501100001711'
  WHEN 3 THEN 'HTTPS://EXAMPLE.ORG/GRANTS/1'
  WHEN 4 THEN 'N/A'
  WHEN 5 THEN '_JP22390400'
  WHEN 6 THEN 'GRANT 01KT1801 TO M.K.'
  WHEN 7 THEN 'THANKS; SEE ANR-19-CE45-0012'
  WHEN 8 THEN '123'
  WHEN 9 THEN 'SEE PAGE TWELVE FOR DETAILS'
  WHEN 10 THEN 'W12345678'
  ELSE {fmt}
END"""

_GUARD_ACTIONS_SPARK = """CASE CAST(o_orderkey % 13 AS INT)
  WHEN 0 THEN 'decorated_own_id'
  WHEN 1 THEN 'multi_id_split+wrong_funder'
  ELSE CAST(NULL AS STRING)
END"""

_GUARD_ACTIONS_DUCK = _GUARD_ACTIONS_SPARK.replace("AS STRING", "AS VARCHAR")

_GUARD_ORACLE = f"""
WITH raw AS (
  SELECT o_orderkey, {_FAMILY_NAME} AS family,
         {_GUARD_RAW.format(fmt=_FAMILY_RAW_DUCK)} AS award,
         CAST({_N_AWARDS} AS BIGINT) AS n_awards,
         {_GUARD_ACTIONS_DUCK} AS actions
  FROM orders
),
normed AS (
  SELECT o_orderkey, family, award, n_awards, actions,
         regexp_replace(upper(trim(award)), '  +', ' ', 'g') AS _n,
         regexp_replace(regexp_replace(upper(trim(award)), '\\s+', ' ', 'g'),
                        '[ -]', '', 'g') AS _sq
  FROM raw
),
verdicts AS (
  SELECT o_orderkey, family, award, actions, _n,
         {_VERDICT_DUCK} AS verdict
  FROM normed
),
stripped AS (
  SELECT family, verdict, actions, _n,
         {compile_junk_strip("_n", 1)} AS _ns
  FROM verdicts
),
reasons AS (
  SELECT family, CASE
    WHEN verdict <> 'garbage' THEN verdict
    WHEN actions IS NOT NULL THEN concat('salvaged:', actions)
    WHEN {compile_is_junk("_n", "_ns", 1)} THEN 'junk_positive'
    ELSE 'unclassified_kept'
  END AS reason
  FROM stripped
)
SELECT family, reason,
       CASE WHEN reason = 'junk_positive' THEN 'suppress' ELSE 'mint' END
         AS decision,
       count(*)::BIGINT AS n
FROM reasons
GROUP BY family, reason, decision
ORDER BY family, reason, decision
"""


@register(
    "udf_award_guard_decision",
    oracle=_GUARD_ORACLE,
    tags=("sqludf", "scalar", "awards", "scoring"),
    tables=("orders",),
    spread=("orders",),
)
def udf_award_guard_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guard decision battery: verdict tiers flow through unchanged,
    salvaged rows mint with their action trail, and only positive-junk
    rows suppress — with strip-and-retest ('_JP22390400' rescues),
    chassis-anywhere keeps ('THANKS; SEE ANR-19-CE45-0012' can never
    be junk), funder-scoped keeps (NSFC 'W12345678'), and the DOE
    deferral all exercised by the fixture lattice.  One localCheckpoint
    barrier then a map-side reason projection + one rollup shuffle; at
    100 TB the guard is a single pass over the scored table."""
    create_sql_udfs(spark)
    scored = spark.sql(f"""
        SELECT family, award, actions,
               award_verdict(family, award, n_awards) AS verdict
        FROM (
          SELECT o_orderkey, {_FAMILY_NAME} AS family,
                 {_GUARD_RAW.format(fmt=_FAMILY_RAW_SPARK)} AS award,
                 CAST({_N_AWARDS} AS BIGINT) AS n_awards,
                 {_GUARD_ACTIONS_SPARK} AS actions
          FROM orders
        )
    """).localCheckpoint(eager=False)
    scored.createOrReplaceTempView("guard_scored")
    return spark.sql("""
        WITH reasons AS (
          SELECT family,
                 award_guard_reason(family, award, verdict, actions) AS reason
          FROM guard_scored
        )
        SELECT family, reason,
               CASE WHEN reason = 'junk_positive' THEN 'suppress'
                    ELSE 'mint' END AS decision,
               count(*) AS n
        FROM reasons
        GROUP BY family, reason, decision
        ORDER BY family, reason, decision
    """)


# ---------------------------------------------------------------------------
# Award label-entanglement hold-back
# ---------------------------------------------------------------------------
# Reference AwardNormKey.sql l.768-830 (award_id_label_entangled): a
# suppressed junk id whose work_awards links are some (work, funder)
# pair's ONLY funder connection — no alternative source covers the
# pair — is HELD BACK from suppression until direct paper->funder legs
# exist; zero papers lose funder attribution at any point.  The shape
# is a three-stage anti-join composition: all-links-suppressed pairs,
# minus pairs covered by any alternative source, joined back to the
# suppressed ids.  Fixture: lineitem as work_awards (orderkey=work,
# suppkey-lattice funder, partkey-lattice award), a deterministic
# suppressed subset, and two alternative coverage sources on disjoint
# lattices so covered and uncovered at-risk pairs both materialize.

_LE_ORACLE = """
WITH work_awards AS (
  SELECT l_orderkey AS work_id,
         CAST(l_suppkey % 20 AS BIGINT) AS funder_id,
         concat('AWD-', CAST(l_partkey % 50 AS VARCHAR)) AS award_id
  FROM lineitem
),
sup AS (
  SELECT DISTINCT funder_id, award_id FROM work_awards
  WHERE (funder_id * 7 + CAST(l_partkey_num AS BIGINT)) % 3 = 0
),
covered AS (
  SELECT o_orderkey AS work_id, CAST(o_custkey % 20 AS BIGINT) AS funder_id
  FROM orders WHERE o_orderkey % 4 = 0
  UNION
  SELECT l_orderkey AS work_id, CAST(l_suppkey % 20 AS BIGINT) AS funder_id
  FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 2 = 1
),
at_risk AS (
  SELECT work_id, funder_id FROM (
    SELECT wa.work_id, wa.funder_id,
           MAX(CASE WHEN s.award_id IS NULL THEN 1 ELSE 0 END) AS has_kept
    FROM work_awards wa
    LEFT JOIN sup s ON s.funder_id = wa.funder_id
                   AND s.award_id = wa.award_id
    GROUP BY wa.work_id, wa.funder_id
  ) t WHERE has_kept = 0
),
sole_path AS (
  SELECT a.work_id, a.funder_id FROM at_risk a
  WHERE NOT EXISTS (
    SELECT 1 FROM covered c
    WHERE c.work_id = a.work_id AND c.funder_id = a.funder_id
  )
),
entangled AS (
  SELECT DISTINCT s.funder_id, s.award_id
  FROM work_awards wa
  JOIN sole_path sp ON wa.work_id = sp.work_id
                   AND wa.funder_id = sp.funder_id
  JOIN sup s ON s.funder_id = wa.funder_id AND s.award_id = wa.award_id
)
SELECT funder_id, count(*)::BIGINT AS n_held_awards
FROM entangled
GROUP BY funder_id
ORDER BY funder_id
"""

# DuckDB can't reference l_partkey from the work_awards projection in
# sup's WHERE; give both dialects the same explicit numeric column.
_LE_ORACLE = _LE_ORACLE.replace(
    """work_awards AS (
  SELECT l_orderkey AS work_id,
         CAST(l_suppkey % 20 AS BIGINT) AS funder_id,
         concat('AWD-', CAST(l_partkey % 50 AS VARCHAR)) AS award_id
  FROM lineitem
),""",
    """work_awards AS (
  SELECT l_orderkey AS work_id,
         CAST(l_suppkey % 20 AS BIGINT) AS funder_id,
         concat('AWD-', CAST(l_partkey % 50 AS VARCHAR)) AS award_id,
         CAST(l_partkey % 50 AS BIGINT) AS l_partkey_num
  FROM lineitem
),""",
)


@register(
    "award_label_entangled_holdback",
    oracle=_LE_ORACLE,
    tags=("awards", "join", "antijoin"),
    tables=("lineitem", "orders"),
)
def award_label_entangled_holdback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Label-entanglement hold-back: suppressed award ids that are a
    (work, funder) pair's sole funder connection are held from
    suppression.  All-links-suppressed detection is a broadcast join
    against the suppressed set + one grouped MAX; the coverage check is
    a LEFT ANTI join (never materializes the complement); the final
    DISTINCT bounds output by the suppressed-id space.  At 100 TB every
    join key is (work_id, funder_id) — co-partitioned end to end, and
    AQE turns the sup/covered sides into broadcasts."""
    wa = (
        spark.table("lineitem")
        .selectExpr(
            "l_orderkey AS work_id",
            "CAST(l_suppkey % 20 AS BIGINT) AS funder_id",
            "concat('AWD-', CAST(l_partkey % 50 AS STRING)) AS award_id",
            "CAST(l_partkey % 50 AS BIGINT) AS awd_num",
        )
    )
    sup = (
        wa.where("(funder_id * 7 + awd_num) % 3 = 0")
        .select("funder_id", "award_id")
        .distinct()
    )
    covered = (
        spark.table("orders")
        .where("o_orderkey % 4 = 0")
        .selectExpr("o_orderkey AS work_id",
                    "CAST(o_custkey % 20 AS BIGINT) AS funder_id")
        .union(
            spark.table("lineitem")
            .where("l_linenumber = 1 AND l_orderkey % 2 = 1")
            .selectExpr("l_orderkey AS work_id",
                        "CAST(l_suppkey % 20 AS BIGINT) AS funder_id")
        )
        .distinct()
    )
    s = sup.selectExpr("funder_id AS s_funder", "award_id AS s_award")
    at_risk = (
        wa.join(
            F.broadcast(s),
            (wa.funder_id == s.s_funder) & (wa.award_id == s.s_award),
            "left",
        )
        .groupBy("work_id", "funder_id")
        .agg(
            F.max(
                F.when(F.col("s_award").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("has_kept")
        )
        .where("has_kept = 0")
        .select("work_id", "funder_id")
    )
    sole_path = at_risk.join(covered, ["work_id", "funder_id"], "left_anti")
    entangled = (
        wa.join(sole_path, ["work_id", "funder_id"])
        .join(
            F.broadcast(s),
            (F.col("funder_id") == s.s_funder)
            & (F.col("award_id") == s.s_award),
        )
        .select("funder_id", "award_id")
        .distinct()
    )
    return (
        entangled.groupBy("funder_id")
        .agg(F.count(F.lit(1)).alias("n_held_awards"))
        .orderBy("funder_id")
    )


# ---------------------------------------------------------------------------
# Missing-grants roadmap: the per-funder acquisition report
# ---------------------------------------------------------------------------
# MissingGrantsRoadmap.ipynb cell 1: the published per-funder roadmap
# over the verdict table — matched = confirmed + confirmed_weak,
# missing = plausible (grammar-pass, no registry match), garbage =
# positively-classified junk; the transparency columns ride along; the
# configured-funders gate keeps only funders with scored activity.
# The coverage ratio ships unrounded (one double division of two exact
# counts — the reference's round(x, 3) is presentation, and HALF_UP vs
# HALF_EVEN rounding differs across engines).

_ROADMAP_TAIL = """
SELECT family AS funder_name,
       COUNT(DISTINCT award) AS deposited_ids,
       COUNT(DISTINCT CASE WHEN verdict IN ('confirmed', 'confirmed_weak')
                           THEN award END) AS registry_matched,
       COUNT(DISTINCT CASE WHEN verdict = 'plausible' THEN award END)
         AS missing_grammar_pass,
       COUNT(DISTINCT CASE WHEN verdict = 'garbage' THEN award END)
         AS garbage,
       COUNT(DISTINCT CASE WHEN verdict = 'confirmed_ambiguous' THEN award END)
         AS confirmed_ambiguous,
       COUNT(DISTINCT CASE WHEN verdict = 'foreign_scheme' THEN award END)
         AS foreign_scheme,
       COUNT(DISTINCT CASE WHEN verdict = 'unscored' THEN award END)
         AS unscored,
       CAST(COUNT(DISTINCT CASE WHEN verdict IN ('confirmed', 'confirmed_weak')
                                THEN award END) AS DOUBLE)
         / NULLIF(COUNT(DISTINCT CASE WHEN verdict IN ('confirmed',
                                                       'confirmed_weak')
                                      THEN award END)
                  + COUNT(DISTINCT CASE WHEN verdict = 'plausible'
                                        THEN award END), 0)
         AS registry_coverage_of_grammar_pass
FROM scored
GROUP BY family
HAVING COUNT(DISTINCT CASE WHEN verdict IN ('confirmed', 'confirmed_weak',
                                            'confirmed_ambiguous',
                                            'foreign_scheme', 'garbage',
                                            'plausible')
                           THEN award END) > 0
"""

_ROADMAP_ORACLE = f"""
WITH raw AS (
  SELECT o_orderkey, {_FAMILY_NAME} AS family,
         {_verdict_raw(_FAMILY_RAW_DUCK).format(fam=_FAMILY_NAME, str_t="VARCHAR")} AS award,
         CAST({_N_AWARDS} AS BIGINT) AS n_awards
  FROM orders
),
normed AS (
  SELECT o_orderkey, family, award, n_awards,
         regexp_replace(upper(trim(award)), '  +', ' ', 'g') AS _n,
         regexp_replace(regexp_replace(upper(trim(award)), '\\s+', ' ', 'g'),
                        '[ -]', '', 'g') AS _sq
  FROM raw
),
scored AS (
  SELECT family, award, {_VERDICT_DUCK} AS verdict FROM normed
)
{_ROADMAP_TAIL}
"""


@register(
    "award_missing_grants_roadmap",
    oracle=_ROADMAP_ORACLE,
    tags=("sqludf", "awards", "A6", "roadmap"),
    tables=("orders",),
    spread=("orders",),
)
def award_missing_grants_roadmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-funder missing-grants acquisition roadmap
    (MissingGrantsRoadmap.ipynb): distinct deposited ids per verdict
    class, the registry-coverage-of-grammar-pass ratio, and the
    configured-funders gate — the report that turns the verdict layer
    into the published acquisition priority list.

    Plan: the verdict layer is the map-side scoring projection; the
    roadmap is ONE grouped rollup with distinct-counting per class
    (Spark plans a single expand + partial aggregate, no per-class
    scans)."""
    create_sql_udfs(spark)
    return spark.sql(f"""
        WITH raw AS (
          SELECT o_orderkey, {_FAMILY_NAME} AS family,
                 {_verdict_raw(_FAMILY_RAW_SPARK).format(fam=_FAMILY_NAME, str_t="STRING")} AS award,
                 CAST({_N_AWARDS} AS BIGINT) AS n_awards
          FROM orders
        ),
        scored AS (
          SELECT family, award, award_verdict(family, award, n_awards) AS verdict
          FROM raw
        )
        {_ROADMAP_TAIL}
    """)
