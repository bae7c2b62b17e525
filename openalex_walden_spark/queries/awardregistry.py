"""Registry-side award keying (AwardNormKey.sql:22-73, ``side =
'registry'``).

The reference's ``award_norm_key`` has two halves per funder: a
permissive DEPOSITED-side rule (embedded extraction, decoration
stripping — ported as ``award_family_key``) and a STRICT REGISTRY-side
rule (anchored full-string grammars over the funder's own clean
spellings — ported as ``award_registry_key``,
``functions/sql_udfs.py``).  The two keys meeting on equal values is
what joins a deposited string to its registry award, so the registry
side refusing decorated forms is load-bearing: a permissive registry
key would mint junk join keys out of registry noise.

This battery synthesizes each family's canonical registry spelling
AND a decorated variant ('GRANT NO. ' prefix) per row, keys both, and
rolls up per family: every canonical row must key (a never-matching
grammar in either dialect flips the family's row), and the decorated
fire-count pins each family's strictness class (anchored grammars
refuse; the squash-identity families deterministically accept).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.functions.sql_udfs import (
    compile_registry_key,
    create_sql_udfs,
)
from openalex_walden_spark.queries.registry import register
from openalex_walden_spark.queries.sqludf import _FAMILY_NAME

# Canonical registry spelling per family, one slot per o_orderkey % 54
# (the deposited battery's family order, ``sqludf._FAMILY_NAME``).
_REGISTRY_RAW_SPARK = """
CASE CAST(o_orderkey % 54 AS INT)
  WHEN 0 THEN concat('GM', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 1 THEN lpad(CAST(o_orderkey % 10000000 AS STRING), 7, '0')
  WHEN 2 THEN CAST(o_orderkey % 900000 + 100000 AS STRING)
  WHEN 3 THEN concat('EP/N', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'), '1/1')
  WHEN 4 THEN concat(lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'), '/Z/04/Z')
  WHEN 5 THEN concat('W81XWH', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'),
                     '1', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 6 THEN concat(lpad(CAST(o_orderkey % 25 + 10 AS STRING), 2, '0'), 'H',
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
  WHEN 16 THEN concat('U1', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 17 THEN lpad(CAST(o_orderkey % 1000000000 AS STRING), 9, '0')
  WHEN 18 THEN concat('PTDC/BIA-BMA/', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'),
                      '/20', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'))
  WHEN 19 THEN concat('RGPIN-', CAST(o_orderkey % 8 + 2015 AS STRING), '-',
                      lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 20 THEN CAST(o_orderkey % 200000 + 1 AS STRING)
  WHEN 21 THEN concat(CAST(o_orderkey % 90000 + 10000 AS STRING), '_',
                      CAST(o_orderkey % 99 + 1 AS STRING))
  WHEN 22 THEN concat(CAST(o_orderkey % 5 + 19 AS STRING), 'POST1',
                      lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 23 THEN concat('ZR', CAST(o_orderkey % 5 + 2019 AS STRING), 'MH',
                      lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'))
  WHEN 24 THEN concat('01EO', lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 25 THEN concat('P ', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 26 THEN concat('PI', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'), '/',
                      lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 27 THEN concat('20', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'), '-',
                      lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 28 THEN concat('80NSSC', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), 'K',
                      lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 29 THEN concat(lpad(CAST(o_orderkey % 25 + 10 AS STRING), 2, '0'), 'FK',
                      lpad(CAST(o_orderkey % 10000000 AS STRING), 7, '0'), 'H',
                      lpad(CAST(o_orderkey % 10000 AS STRING), 4, '0'))
  WHEN 30 THEN concat('U01AI', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 31 THEN CAST(o_orderkey % 9000000 + 1000000 AS STRING)
  WHEN 32 THEN concat('20', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'), 'JJ',
                      lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 33 THEN concat('LY', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'), 'C',
                      lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 34 THEN lpad(CAST(o_orderkey % 100000000 AS STRING), 8, '0')
  WHEN 35 THEN concat('PB-PG-20', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'),
                      '-', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  WHEN 36 THEN concat('101', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'))
  WHEN 37 THEN concat('EP/N', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'), '/1')
  WHEN 38 THEN concat('NSTC ', CAST(o_orderkey % 30 + 100 AS STRING), '-2221-E-',
                      lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'), '-',
                      lpad(CAST(o_orderkey % 200 AS STRING), 3, '0'))
  WHEN 39 THEN concat('MR/N', lpad(CAST(o_orderkey % 1000000 AS STRING), 6, '0'), '/1')
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

_REGISTRY_RAW_DUCK = _REGISTRY_RAW_SPARK.replace("AS STRING", "AS VARCHAR")

_REGISTRY_BATTERY_ORACLE = f"""
WITH raw AS (
  SELECT o_orderkey, {_FAMILY_NAME} AS family, {_REGISTRY_RAW_DUCK} AS award
  FROM orders
),
variants AS (
  SELECT family, 'canonical' AS variant, award FROM raw
  UNION ALL
  SELECT family, 'decorated', concat('GRANT NO. ', award) FROM raw
),
normed AS (
  SELECT family, variant, award,
         regexp_replace(upper(trim(award)), '  +', ' ', 'g') AS _n,
         regexp_replace(regexp_replace(upper(trim(award)), '\\s+', ' ', 'g'),
                        '[ -]', '', 'g') AS _sq
  FROM variants
),
keyed AS (
  SELECT family, variant, {compile_registry_key(1)} AS k FROM normed
)
SELECT family,
       count(*) FILTER (WHERE variant = 'canonical')::BIGINT AS n,
       count(k) FILTER (WHERE variant = 'canonical')::BIGINT AS canonical_fired,
       count(DISTINCT CASE WHEN variant = 'canonical' THEN k END)::BIGINT AS n_keys,
       count(k) FILTER (WHERE variant = 'decorated')::BIGINT AS decorated_fired
FROM keyed
GROUP BY family
ORDER BY family
"""


@register(
    "udf_award_registry_key_battery",
    oracle=_REGISTRY_BATTERY_ORACLE,
    tags=("sqludf", "scalar", "awards"),
    tables=("orders",),
    spread=("orders",),
)
def udf_award_registry_key_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry-side per-funder keying (``award_registry_key``) —
    all 53 families' anchored registry grammars (AwardNormKey.sql:22-73)
    over each family's canonical registry spelling plus a decorated
    ('GRANT NO. ' prefixed) variant.  Every canonical row must key
    (canonical_fired = n catches a never-matching grammar in either
    dialect); decorated_fired pins the strictness split between the
    anchored grammars (refuse) and the squash-identity families
    (accept, by the reference's own rule).  Macro-expanded SQL UDF:
    zero Python in the plan, one shuffle for the rollup."""
    create_sql_udfs(spark)
    return spark.sql(f"""
        WITH raw AS (
          SELECT o_orderkey, {_FAMILY_NAME} AS family,
                 {_REGISTRY_RAW_SPARK} AS award
          FROM orders
        ),
        variants AS (
          SELECT family, 'canonical' AS variant, award FROM raw
          UNION ALL
          SELECT family, 'decorated', concat('GRANT NO. ', award) FROM raw
        ),
        keyed AS (
          SELECT family, variant, award_registry_key(family, award) AS k
          FROM variants
        )
        SELECT family,
               count(IF(variant = 'canonical', 1, NULL)) AS n,
               count(IF(variant = 'canonical', k, NULL)) AS canonical_fired,
               count(DISTINCT CASE WHEN variant = 'canonical' THEN k END) AS n_keys,
               count(IF(variant = 'decorated', k, NULL)) AS decorated_fired
        FROM keyed
        GROUP BY family
        ORDER BY family
    """)
