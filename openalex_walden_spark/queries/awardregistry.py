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

from openalex_walden_spark.functions.sql_udfs import create_sql_udfs
from openalex_walden_spark.queries.registry import register

# Canonical registry spelling per family, one slot per o_orderkey % 54
# (same family order as the deposited battery in sqludf.py).
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

# Same family order as sqludf._FAMILY_NAME (kept verbatim so the two
# batteries' lattices stay aligned slot-for-slot).
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

# DuckDB inline mirror of award_registry_key (functions/sql_udfs.py).
# _n is the award_norm0 form.  Lookaround-free on purpose so RE2 and
# Java regex agree verbatim; literal dots as [.].
_REGISTRY_KEY_DUCK = """
CASE
  WHEN family = 'nih' THEN
    nullif(regexp_extract(_n, '([A-Z]{2}[0-9]{6})', 1), '')
  WHEN family = 'nsf' THEN
    nullif(regexp_extract(_n, '^([0-9]{7})$', 1), '')
  WHEN family = 'erc' THEN
    CAST(CAST(nullif(regexp_extract(_n, '^([0-9]{5,6})$', 1), '')
              AS BIGINT) AS VARCHAR)
  WHEN family = 'ukri' THEN
    regexp_replace(nullif(regexp_extract(_n,
      '^((EP|BBS|BB|NE|ES|AH|MR|ST)/[A-Z0-9]{6,7}(/[0-9]{1,2})?)$', 1),
      ''), '[/]', '', 'g')
  WHEN family = 'wellcome' THEN
    lpad(coalesce(
      nullif(regexp_extract(_n, '360G-WELLCOME-([0-9]{5,6})', 1), ''),
      nullif(regexp_extract(_n,
        '^([0-9]{5,6})(?:[/_ ][A-Z](?:[/_ ][0-9]{2})?([/_ ][A-Z])?)?$', 1),
        '')), 6, '0')
  WHEN family = 'dod' THEN
    nullif(regexp_extract(_n,
      '^([A-Z][A-Z0-9]{5}[0-9]{2}[A-Z0-9]{3,11})$', 1), '')
  WHEN family = 'kakenhi' THEN
    nullif(regexp_extract(_n, '^([0-9]{2}[A-Z][0-9]{5}|[0-9]{8})$', 1), '')
  WHEN family = 'anr' THEN
    CASE WHEN nullif(regexp_extract(_n,
           '^ANR-([0-9]{2})-([A-Z0-9]{2,6})-([0-9]{4})', 1), '') IS NOT NULL
         THEN concat(
           regexp_extract(_n, '^ANR-([0-9]{2})-([A-Z0-9]{2,6})-([0-9]{4})', 1), '-',
           regexp_extract(_n, '^ANR-([0-9]{2})-([A-Z0-9]{2,6})-([0-9]{4})', 2), '-',
           regexp_extract(_n, '^ANR-([0-9]{2})-([A-Z0-9]{2,6})-([0-9]{4})', 3))
    END
  WHEN family = 'fapesp' THEN
    CASE WHEN nullif(regexp_extract(_n,
           '^([0-9]{2})/([0-9]{5})-([0-9])$', 1), '') IS NOT NULL
         THEN concat(
           regexp_extract(_n, '^([0-9]{2})/([0-9]{5})-([0-9])$', 1), '/',
           regexp_extract(_n, '^([0-9]{2})/([0-9]{5})-([0-9])$', 2), '-',
           regexp_extract(_n, '^([0-9]{2})/([0-9]{5})-([0-9])$', 3))
    END
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
  WHEN family = 'most_tw' OR family = 'nstc_tw' THEN
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
    nullif(regexp_extract(_n, '^(U?[0-9]{7,8})$', 1), '')
  WHEN family = 'dfg' THEN
    nullif(regexp_extract(_n, '^([0-9]{9})$', 1), '')
  WHEN family = 'fct' THEN
    nullif(regexp_replace(_n, ' ', '', 'g'), '')
  WHEN family = 'nserc' THEN
    CASE
      WHEN regexp_matches(_n, '^[0-9]{1,6}-[0-9]{4}$')
        THEN concat(
          regexp_extract(_n, '-([0-9]{4})$', 1), '-',
          CAST(CAST(regexp_extract(_n, '^([0-9]{1,6})-', 1)
                    AS BIGINT) AS VARCHAR))
      WHEN regexp_matches(_n, '^[A-Z]+-[0-9]{4}-[0-9]{4,6}$')
        THEN concat(
          regexp_extract(_n, '-([0-9]{4})-', 1), '-',
          CAST(CAST(regexp_extract(_n, '-([0-9]{4,6})$', 1)
                    AS BIGINT) AS VARCHAR))
    END
  WHEN family = 'snsf' THEN
    CAST(CAST(nullif(regexp_extract(_n, '^([0-9]{1,6})$', 1), '')
              AS BIGINT) AS VARCHAR)
  WHEN family = 'cihr' THEN
    CAST(CAST(nullif(regexp_extract(_n, '^([0-9]{4,6})_[0-9]+$', 1), '')
              AS BIGINT) AS VARCHAR)
  WHEN family = 'aha' OR family = 'epsrc' OR family = 'nihr' THEN
    nullif(regexp_replace(_n, ' ', '', 'g'), '')
  WHEN family = 'shandong' THEN
    nullif(regexp_extract(regexp_replace(_n, '[ -]', '', 'g'),
      '^(ZR(19|20)[0-9]{2}[A-Z]{1,3}[0-9]{2,4}|[0-9]{4}ZR[A-Z][0-9A-Z]{5})$',
      1), '')
  WHEN family = 'bmbf' THEN
    nullif(regexp_replace(_n, '[+ /-]', '', 'g'), '')
  WHEN family = 'fwf' THEN
    nullif(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
      '^([A-Z]{1,3}[0-9]{3,7})$', 1), '')
  WHEN family = 'isciii' THEN
    CASE WHEN regexp_matches(regexp_replace(_n, ' ', '', 'g'),
              '^[A-Z]{2,4}[0-9]{2}(CIII)?/[0-9]{5}$')
         THEN concat(
           regexp_extract(regexp_replace(_n, ' ', '', 'g'),
                          '^([A-Z]{2,4}[0-9]{2}(CIII)?)/', 1), '/',
           regexp_extract(regexp_replace(_n, ' ', '', 'g'),
                          '/([0-9]{5})$', 1))
    END
  WHEN family = 'vr' THEN
    nullif(regexp_extract(_n, '^((19|20)[0-9]{2}-[0-9]{5})$', 1), '')
  WHEN family = 'nasa' THEN
    nullif(regexp_replace(_n, '[ -]', '', 'g'), '')
  WHEN family = 'amed' THEN
    nullif(regexp_extract(_n, '^([0-9]{2}[A-Z]{2}[0-9]{7})H[0-9]{4}$', 1), '')
  WHEN family = 'dhhs' THEN
    nullif(regexp_extract(regexp_replace(_n, '[ -]', '', 'g'),
      '^([A-Z][A-Z0-9]{4}[0-9]{6}|[0-9]{2}[A-Z][A-Z0-9][0-9]{4,5})$', 1), '')
  WHEN family = 'nhmrc' THEN
    nullif(regexp_extract(_n, '^([0-9]{6,7})$', 1), '')
  WHEN family = 'hunan' THEN
    nullif(regexp_extract(_n, '^((19|20)[0-9]{2}JJ[0-9]{4,5})$', 1), '')
  WHEN family = 'zhejiang' THEN
    nullif(regexp_extract(_n, '^(L[A-Z]{0,4}[0-9]{2}[A-Z][0-9]{6})$', 1), '')
  WHEN family = 'innovate_uk' THEN
    nullif(regexp_extract(regexp_replace(_n, ' ', '', 'g'),
      '^([0-9]{5,8}|KTP[0-9]{6})$', 1), '')
  WHEN family = 'ec' THEN
    nullif(regexp_extract(_n, '^([0-9]{6}|[0-9]{9})$', 1), '')
  WHEN family = 'mrc' OR family = 'bbsrc' OR family = 'nerc'
    OR family = 'stfc' OR family = 'esrc' OR family = 'ahrc' THEN
    nullif(regexp_replace(_n, '[ _/.-]', '', 'g'), '')
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
  WHEN family = 'usamrmc' OR family = 'usamrdc' OR family = 'usamraa' THEN
    nullif(regexp_extract(regexp_replace(_n, '[-_ ]', '', 'g'),
      '^((W81XWH|DAMD[0-9]{2}|HT[0-9]{4})[0-9]{2}[A-Z0-9]{3,9})$', 1), '')
  ELSE nullif(regexp_replace(_sq, '0*([0-9]+)\\z', '\\1'), '')
END
"""

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
  SELECT family, variant, {_REGISTRY_KEY_DUCK} AS k FROM normed
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
