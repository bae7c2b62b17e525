"""BHF research-grants PDF-report parse stage (scripts/local/bhf_to_s3.py).

The reference downloads the British Heart Foundation annual grant-award
PDF reports and reconstructs the award table from word geometry
(``_parse_stream``/``_parse_stacked``, bhf_to_s3.py:373-707) — that
layout binning is the PDF seam.  What ports is the normalize compute of
``build_dataframe`` (:778-850) and its helpers, which every binned
record passes through:

* reference squash + validity gate (:786-789): whitespace removed, rows
  whose ref does not match ``^[A-Z]{2,}/[A-Za-z0-9]`` dropped;
* cross-report dedup (:793-797): the same grant relisted in a later
  report (supplements) keeps the FIRST occurrence;
* placeholder-PI nulling (:219-222,800-802): 'to be appointed' /
  'TBC'-style unfilled slots clear the name;
* ``split_name`` (:224-245): parentheticals dropped, commas blanked,
  leading honorifics (Dr/Prof/Sir/Dame/...) popped repeatedly, the long
  degree/honour suffix tail (BSc PhD MA ... CBE OBE) popped repeatedly,
  last remaining token = family;
* the mis-binned-row guard (:804-806): an institution word landing in
  the family slot clears the whole name;
* ``_repair_institution`` (:754-767): an institution spilling across
  the inst/title column cut ('University of' + 'Cambridge ...',
  'Imperial' + 'College London ...') is pulled back, non-greedily;
* ``_duration_months`` / ``_clean_title`` (:725-739): the trailing
  '60 months' / '5 years' token becomes duration_months and leaves the
  title;
* ``_clean_amount`` (:709-722): first numeric run of the £ cell,
  2-decimal render, <=0 -> NULL; currency GBP only with an amount;
* ``_clean_scheme`` (:770-775) and ``funding_type_for`` (:248-254):
  '(continued)' page-break artifact dropped; studentship/phd ->
  training, fellowship -> fellowship, else research (typed from the
  RAW scheme, before the '(continued)' strip — reference order).

Fixture: one synthetic binned record per orders row; ref collisions on
``o_orderkey % 497`` make the cross-report dedup real.  Plan: one scan
of column algebra + a single per-ref keep-first window (map-side
WindowGroupLimit; key grain is the grant ref, uniform).  No Python.

tests/test_template_fidelity.py re-derives the expected output in
Python (reference semantics, independent of this SQL).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_PREFIX_TITLES = ("'dr','prof','professor','mr','mrs','ms','miss',"
                  "'sir','dame','lord','lady','rev','revd'")
_DEGREE_SUFFIXES = (
    "'phd','md','dphil','dsc','scd','msc','ma','ba','bs','bsc','bm','bch',"
    "'bchir','mb','mbbs','mbchb','chb','bmedsci','bmbs','mbbch',"
    "'frcp','frcs','frcpath','frcpe','frceng','frs','frcr','frca',"
    "'fmedsci','facc','faha','fesc','frcpsych','mrcp','mrcs','mrcpch',"
    "'dm','do','edd','llb','llm','mphil','pgce','rgn','rn','msci',"
    "'jr','sr','ii','iii','iv','frcgp','fhea','mrcgp',"
    "'dnbe','ches','bvsc','bvms','mrcvs','vmd','frse','mres','frsb',"
    "'frsc','fba','frcophth','facss','meng','beng',"
    "'cbe','obe','mbe','kbe','dbe','gbe'"
)
_FAMILY_GUARD = ("'university','college','institute','hospital','trust',"
                 "'imperial'")

_PLACEHOLDER = (
    "(?i)\\\\b(to be (appointed|confirmed|announced|recruited|named)"
    "|student to be|not yet|tbc|tba|n/?a)\\\\b"
)

# _PLACE (bhf_to_s3.py:749): one capitalized token, 'East Anglia', or a
# 'the X' form — deliberately not greedy past that.
_PLACE = "(East Anglia|the [A-Z][A-Za-z0-9_’-]+|[A-Z][A-Za-z0-9_’-]+)"

_ROWS_SPARK = f"""
SELECT o_orderkey AS rid,
  CASE CAST(o_orderkey % 9 AS INT)
    WHEN 0 THEN concat('grant ', CAST(o_orderkey % 497 AS STRING))
    WHEN 1 THEN concat('FS/ ', lpad(CAST(o_orderkey % 30 AS STRING), 2, '0'),
                       '/ ', lpad(CAST(o_orderkey % 497 AS STRING), 5, '0'))
    ELSE concat('PG/', lpad(CAST(o_orderkey % 30 AS STRING), 2, '0'), '/',
                lpad(CAST(o_orderkey % 497 AS STRING), 5, '0'))
  END AS ref_raw,
  element_at(array('2021/22', '2022/23', '2023/24'),
             CAST(o_orderkey % 3 AS INT) + 1) AS report_period,
  CASE CAST(o_orderkey % 6 AS INT)
    WHEN 0 THEN 'Dr H F Jorgensen'
    WHEN 1 THEN 'Prof A Baker BSc (Hons) PhD FAHA'
    WHEN 2 THEN 'Dr K A Dora BSc PhD MA'
    WHEN 3 THEN 'student to be recruited'
    WHEN 4 THEN 'Sir Brian Hospital'
    ELSE 'Mrs J Smith OBE'
  END AS name_raw,
  CASE CAST(o_orderkey % 4 AS INT)
    WHEN 0 THEN 'Project Grants'
    WHEN 1 THEN 'PhD Studentships (continued)'
    WHEN 2 THEN 'Intermediate Basic Science Research Fellowships'
    ELSE NULL
  END AS scheme_raw,
  CASE CAST(o_orderkey % 7 AS INT)
    WHEN 0 THEN 'University of'
    WHEN 1 THEN 'Imperial'
    ELSE 'University of Oxford'
  END AS inst_raw,
  CASE CAST(o_orderkey % 7 AS INT)
    WHEN 0 THEN concat('Cambridge Structural mechanisms of project ',
                       CAST(o_orderkey AS STRING), ' 24 months')
    WHEN 1 THEN concat('College London Advanced imaging study ',
                       CAST(o_orderkey AS STRING), ' 3 years.')
    ELSE concat('Cardiac biology study ', CAST(o_orderkey AS STRING),
                CASE WHEN o_orderkey % 2 = 0 THEN ' 60 months' ELSE '' END)
  END AS title_raw,
  CASE CAST(o_orderkey % 4 AS INT)
    WHEN 0 THEN concat('£', CAST(o_orderkey % 900 + 100 AS STRING), ',',
                       lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'), '.78')
    WHEN 1 THEN '£250,000'
    WHEN 2 THEN '£0'
    ELSE NULL
  END AS amount_raw,
  concat('https://www.bhf.org/awards-', CAST(o_orderkey % 3 AS INT))
    AS source_pdf_url
FROM orders
"""


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, asize, elem, fmt, head = k.g, k.S, k.asize, k.elem, k.fmt, k.head
    idx_of, jnagg, rl, splitsp = k.idx_of, k.jnagg, k.rl, k.splitsp

    rows = (_ROWS_SPARK if dialect == "spark" else
            _ROWS_SPARK
            .replace("AS STRING", "AS VARCHAR")
            .replace("element_at(array('2021/22', '2022/23', '2023/24'),",
                     "list_extract(['2021/22', '2022/23', '2023/24'],"))

    tok_norm = "lower(trim(BOTH ',.' FROM t))"
    first_keep = (f"coalesce({idx_of('toks', f'{tok_norm} NOT IN ({_PREFIX_TITLES})')}, "
                  f"{asize('toks')} + 1)")
    last_keep = (f"coalesce({idx_of('toks', f'{tok_norm} NOT IN ({_DEGREE_SUFFIXES})', 'array_max')}, 0)")

    completion_of = f"^{_PLACE}"
    completion_stem = f"^(of {_PLACE}|College London|College|London)"
    mon_pat = "(?i)[0-9]+ *months?\\\\b"
    yr_pat = "(?i)[0-9]+ *(years?|yrs?)\\\\b"
    mon_x = "(?i)([0-9]+) *months?\\\\b"
    yr_x = "(?i)([0-9]+) *(?:years?|yrs?)\\\\b"

    return f"""
WITH raw AS ({rows}),
reffed AS (
  SELECT *, regexp_replace(ref_raw, '\\\\s+', ''{g}) AS ref
  FROM raw
),
valid AS (
  SELECT * FROM reffed
  WHERE ref <> '' AND {rl("ref", "^[A-Z]{2,}/[A-Za-z0-9]")}
),
first_listing AS (
  -- cross-report keep-first (bhf_to_s3.py:793-797): parse order = rid
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY ref ORDER BY rid) AS rn
    FROM valid
  ) WHERE rn = 1
),
named AS (
  SELECT *,
    CASE WHEN {rl("coalesce(name_raw, '')", _PLACEHOLDER)}
         THEN '' ELSE coalesce(name_raw, '') END AS pi_raw
  FROM first_listing
),
tokenized AS (
  SELECT *,
    {splitsp("replace(regexp_replace(pi_raw, '[(][^)]*[)]', ' '" + g + "), ',', ' ')")}
      AS toks
  FROM named
),
sliced AS (
  -- leading honorific run then trailing degree run popped, both
  -- via index transforms (no iterative UDF).  NOTE the dialect split:
  -- Spark slice(arr, start, LENGTH) vs DuckDB list_slice(arr, begin,
  -- END-INDEX).
  SELECT *,
    {(f"slice(toks, {first_keep}, greatest({last_keep} - {first_keep} + 1, 0))"
      if dialect == "spark" else
      f"list_slice(toks, {first_keep}, {last_keep})")} AS kept
  FROM tokenized
),
splitn AS (
  SELECT *,
    CASE WHEN {asize('kept')} > 1
         THEN {jnagg(head('kept', asize('kept') + ' - 1'))}
         ELSE '' END AS given0,
    CASE WHEN {asize('kept')} >= 1
         THEN {elem("kept", asize("kept"))}
         ELSE '' END AS family0
  FROM sliced
),
guarded AS (
  -- institution word in the family slot = mis-binned row -> clear all
  SELECT *,
    CASE WHEN lower(coalesce(family0, '')) IN ({_FAMILY_GUARD})
         THEN '' ELSE pi_raw END AS full_name,
    CASE WHEN lower(coalesce(family0, '')) IN ({_FAMILY_GUARD})
         THEN '' ELSE given0 END AS given_name,
    CASE WHEN lower(coalesce(family0, '')) IN ({_FAMILY_GUARD})
         THEN '' ELSE family0 END AS family_name
  FROM splitn
),
repaired AS (
  -- _repair_institution: complete a truncated stem from the title head
  SELECT *,
    CASE
      WHEN rtrim(inst_raw) LIKE '% of'
        THEN nullif(regexp_extract(trim(title_raw), '{completion_of}', 1), '')
      WHEN {rl("rtrim(inst_raw)", "(?i)(University|College|Imperial|King’?s|Queen’?s?)$")}
        THEN nullif(regexp_extract(trim(title_raw), '{completion_stem}', 1), '')
    END AS completion
  FROM guarded
),
fixed AS (
  SELECT *,
    CASE WHEN completion IS NOT NULL
         THEN concat(rtrim(inst_raw), ' ', completion)
         ELSE inst_raw END AS institution,
    CASE WHEN completion IS NOT NULL
         THEN trim(substr(trim(title_raw), length(completion) + 1))
         ELSE trim(title_raw) END AS title_fixed
  FROM repaired
),
measured AS (
  SELECT *,
    CASE
      WHEN {rl("title_fixed", mon_pat)}
        THEN CAST(regexp_extract(title_fixed, '{mon_x}', 1) AS INT)
      WHEN {rl("title_fixed", yr_pat)}
        THEN CAST(regexp_extract(title_fixed, '{yr_x}', 1) AS INT) * 12
    END AS dur_months,
    nullif(CASE
      WHEN CAST(coalesce(nullif(replace(regexp_extract(
             coalesce(amount_raw, ''), '([0-9,]+([.][0-9]+)?)', 1),
             ',', ''), ''), '0') AS DOUBLE) > 0
      THEN {fmt}('%.2f', CAST(replace(regexp_extract(
             amount_raw, '([0-9,]+([.][0-9]+)?)', 1), ',', '') AS DOUBLE))
    END, '') AS amount
  FROM fixed
)
SELECT
  ref AS funder_award_id,
  ref AS reference_number,
  report_period,
  split_part(report_period, '/', 1) AS report_year_start,
  nullif(trim(regexp_replace(coalesce(scheme_raw, ''),
                             '(?i) *[(]continued[)] *$', '')), '')
    AS funder_scheme,
  trim(BOTH ' .' FROM regexp_replace(regexp_replace(regexp_replace(
    title_fixed, '{mon_pat}', ''{g}),
    '{yr_pat}', ''{g}), '\\\\s+', ' '{g})) AS title,
  amount,
  CASE WHEN amount IS NOT NULL THEN 'GBP' END AS currency,
  CAST(dur_months AS {S}) AS duration_months,
  nullif(full_name, '') AS lead_full_name,
  nullif(given_name, '') AS lead_given_name,
  nullif(family_name, '') AS lead_family_name,
  nullif(institution, '') AS institution,
  CASE
    WHEN {rl("lower(coalesce(scheme_raw, ''))", "studentship|phd")}
      THEN 'training'
    WHEN lower(coalesce(scheme_raw, '')) LIKE '%fellowship%'
      THEN 'fellowship'
    ELSE 'research'
  END AS funding_type,
  'https://www.bhf.org/awards' AS landing_page_url,
  source_pdf_url,
  false AS declined
FROM measured
"""


@register(
    "bhf_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="BHF PDF-report grant parse stage (scripts/local/bhf_to_s3.py)",
)
def bhf_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BHF annual-report award normalize (module docstring has the
    semantics map with reference line cites).  One scan + one per-ref
    keep-first window; everything else is column algebra."""
    return spark.sql(sqlkit.build(_sql, "spark"))
