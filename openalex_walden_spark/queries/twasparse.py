"""TWAS awards-archive parse stage (scripts/local/twas_awards_to_s3.py).

The reference scrapes the TWAS prize archive pages (1,091 LoC; the
largest unported single scraper) with requests + BeautifulSoup and runs
every laureate paragraph through one normalize kit.  The DOM walking
(five per-era page parsers) is the network/HTML seam; what ports is the
per-row compute those parsers all funnel into:

* ``collapse_text`` (twas_awards_to_s3.py:113-118): whitespace collapse
  (NBSP included) + the space-before-punctuation fix;
* ``clean_field`` (:223-236): strip the '2013 TWAS Prize in' year
  prefix and the '(shared)' / ', shared' suffixes, canonical
  'Engineering Science(s)' replacement, trim ' :';
* ``award_name_for`` (:239-248): a TWAS-bearing source label passes
  through minus ', shared'; otherwise the ERA rule — <=2002 'TWAS
  Award in Basic Sciences - F', >=2022 'TWAS Award in F', else 'TWAS
  Prize in F', with 'Unknown Field' as the NULL-field fallback;
* ``extract_amount_from_text`` (:251-255): first 'USD n[,nnn]' run,
  commas stripped, currency pinned to USD;
* ``split_citation`` (:258-271): the ', for ...' clause, else the
  ', is/are/was/were honoured/recognized ...' clause (which KEEPS its
  leading comma in the citation — reference quirk, preserved);
* ``parse_name_country`` (:274-305): the three announcement styles in
  order — 'NAME, Female, from COUNTRY' (2022 style), 'NAME of/from
  COUNTRY', 'NAME (COUNTRY), CONTEXT' (2011/12 style) — after the
  'Winner:' / leading-asterisk strip;
* ``split_name`` (:127-139): trailing degree/generation suffixes
  popped repeatedly, then last token = family;
* ``amount_per_laureate`` / ``portion_for`` (:308-323): shared-prize
  division with the integer-vs-6dp (8dp for portion) trimmed render;
* ``make_row`` (:326-379): the award-id slug composition
  'twas-awards-{year}-{slug(field)}-{slug(name)}' and the
  citation-or-raw description fallback.

Fixture: one synthetic laureate paragraph per orders row, the style
lattice driven by o_orderkey so all three name styles, all three
era branches, both amount modes, and group sizes 1-3 are exercised
at every scale.  Plan: one scan of pure column algebra — the
reference's per-paragraph Python loops become whole-stage-codegen
expressions; no hash shuffle, no UDF.  At 100 TB the stage stays
map-side and scales linearly with input splits (the one exchange is
the round-robin spread over the single-task fixture scan).

tests/test_template_fidelity.py re-derives the expected output in
Python (reference semantics, independently of this SQL) and compares
row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# Trailing name suffixes (twas_awards_to_s3.py:131) — compared on
# lower(trim(both '.,')).
_SUFFIXES = "('phd','md','dphil','dsc','scd','jr','sr','ii','iii','iv')"

_ROWS_SPARK = """
SELECT o_orderkey AS rid,
  CAST(o_orderkey % 31 + 1995 AS INT) AS year,
  CASE CAST(o_orderkey % 6 AS INT)
    WHEN 0 THEN concat(CAST(o_orderkey % 31 + 1995 AS STRING),
                       ' TWAS Prize in Biology')
    WHEN 1 THEN 'Engineering Science'
    WHEN 2 THEN 'Chemistry (shared)'
    WHEN 3 THEN 'Mathematics, shared'
    WHEN 4 THEN NULL
    ELSE ' Physics  : '
  END AS field_raw,
  CASE CAST(o_orderkey % 4 AS INT)
    WHEN 0 THEN concat(CAST(o_orderkey % 31 + 1995 AS STRING),
                       ' TWAS Prize in Biology, shared')
    WHEN 1 THEN 'Archive announcement'
    ELSE NULL
  END AS source_label,
  CASE CAST(o_orderkey % 5 AS INT)
    WHEN 0 THEN concat('Winner: Maria Santos',
                       CAST(o_orderkey % 89 AS STRING),
                       ', Female, from Brazil')
    WHEN 1 THEN concat('Li Wei', CAST(o_orderkey % 89 AS STRING),
                       ' of China')
    WHEN 2 THEN concat('Ahmed Hassan', CAST(o_orderkey % 89 AS STRING),
                       ' (Egypt), Cairo University')
    WHEN 3 THEN concat('** John A. Smith', CAST(o_orderkey % 89 AS STRING),
                       ' PhD')
    ELSE concat('Rosa Diaz', CAST(o_orderkey % 89 AS STRING), ' Jr.')
  END AS prefix_text,
  CASE CAST(o_orderkey % 3 AS INT)
    WHEN 0 THEN ', for contributions to tropical disease research'
    WHEN 1 THEN ', is honoured for advancing basic science'
    ELSE ''
  END AS tail_text,
  CASE WHEN o_orderkey % 2 = 0
       THEN 'The prize carries USD 15,000 for the laureate.' END
    AS amount_context,
  CAST(o_orderkey % 3 + 1 AS INT) AS group_size,
  o_orderkey % 8 < 4 AS per_winner_amount,
  'https://twas.org/archive' AS source_url,
  'TWAS archive' AS source_page_title
FROM orders
"""


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, bar, asize, elem, fmt = k.g, k.S, k.bar, k.asize, k.elem, k.fmt
    head, jnagg, rl, slugify = k.head, k.jnagg, k.rl, k.slugify
    br = "$1" if dialect == "spark" else "\\1"
    twas_word = "(?i)\\\\bTWAS\\\\b"
    rows = (_ROWS_SPARK if dialect == "spark"
            else _ROWS_SPARK.replace("AS STRING", "AS VARCHAR"))

    def collapse(col: str) -> str:
        # collapse_text: NBSP -> space, \s+ -> ' ', drop space before
        # [,;.:], trim; '' -> NULL.
        return (
            f"nullif(trim(regexp_replace(regexp_replace("
            f"replace(coalesce({col}, ''), '\\u00a0', ' '),"
            f" '\\\\s+', ' '), ' +([,;.:])', '{br}')), '')"
            if dialect == "spark" else
            f"nullif(trim(regexp_replace(regexp_replace("
            f"replace(coalesce({col}, ''), chr(160), ' '),"
            f" '\\s+', ' ', 'g'), ' +([,;.:])', '{br}', 'g')), '')"
        )

    def strip_suffixes(arr: str) -> str:
        # repeated trailing-suffix pop == keep everything up to the LAST
        # non-suffix token (index transform + max, both dialects).
        if dialect == "spark":
            keep = (
                f"coalesce(array_max(zip_with({arr}, "
                f"sequence(1, size({arr})), (t, i) -> "
                f"IF(lower(trim(BOTH ',.' FROM t)) NOT IN {_SUFFIXES},"
                f" i, 0))), 0)"
            )
            return f"slice({arr}, 1, {keep})"
        keep = (
            f"coalesce(list_max(list_transform({arr}, (t, i) -> "
            f"CASE WHEN lower(trim(BOTH ',.' FROM t)) NOT IN {_SUFFIXES}"
            f" THEN i END)), 0)"
        )
        return f"list_slice({arr}, 1, {keep})"

    # amount_per_laureate / portion_for trimmed renders
    def trim_num(expr: str, places: int) -> str:
        return (f"CASE WHEN {expr} = floor({expr}) "
                f"THEN CAST(CAST({expr} AS BIGINT) AS {S}) "
                f"ELSE regexp_replace(regexp_replace("
                f"{fmt}('%.{places}f', {expr}), '0+$', ''{g}), '[.]$', '') "
                f"END")

    for_cite = "(?i),? (for .*)$"
    for_cite_x = "regexp_extract(raw_text, '(?i)^(.*?),? (for .*)$', @N@)"
    hon_cite = ("(?i),? (is|are|was|were) "
                "(honoured|honored|recognized|recognised) ")
    hon_cite_x = ("regexp_extract(raw_text, '(?i)^(.*?)(,? (?:is|are|was|"
                  "were) (?:honoured|honored|recognized|recognised) .*)$',"
                  " @N@)")
    sa = "(?i)^(.+?), *((FTWAS|Male|Female),? *)*(from|of) (.+)$"
    sa_x = ("regexp_extract(p, '(?i)^(.+?), *(?:(?:FTWAS|Male|Female),? *)*"
            "(?:from|of) (.+)$', @N@)")
    sb = "(?i)^(.+?) (of|from) ([^,]+(, *China| and [^,]+)?)$"
    sb_x = ("regexp_extract(p, '(?i)^(.+?) (?:of|from) ([^,]+(?:, *China|"
            " and [^,]+)?)$', @N@)")
    sc = "^(.+?) *[(]([^)]+)[)],? *(.*)$"
    sc_x = "regexp_extract(p, '^(.+?) *[(]([^)]+)[)],? *(.*)$', @N@)"

    def n(tpl: str, k: int) -> str:
        return tpl.replace("@N@", str(k))

    field_clean = (
        "trim(BOTH ' :' FROM "
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "field_c, '(?i)^[0-9]{4} TWAS (Prize|Award|Awards) (in|for) ', ''), "
        "'(?i)^TWAS[- ]Celso Furtado Prize in ', ''), "
        "' *[(](shared|Shared)[)] *$', ''), '(?i), *shared$', ''))"
    )

    chain = ",\n".join([
        # split_citation: the ', for ...' clause first, else the
        # honoured/recognized clause whose citation keeps its leading
        # comma (reference quirk, twas_awards_to_s3.py:258-271).
        bar("cited", "texts", ["*"], [
            ("before_part",
             f"CASE WHEN {rl('raw_text', for_cite)} THEN "
             f"{collapse(n(for_cite_x, 1))} "
             f"WHEN {rl('raw_text', hon_cite)} THEN "
             f"{collapse(n(hon_cite_x, 1))} ELSE raw_text END"),
            ("citation",
             f"CASE WHEN {rl('raw_text', for_cite)} THEN "
             f"{collapse(n(for_cite_x, 2))} "
             f"WHEN {rl('raw_text', hon_cite)} THEN "
             f"{collapse(n(hon_cite_x, 2))} END"),
        ]),
        # parse_name_country input: strip 'Winner:' + leading asterisks
        bar("named", "cited", ["*"], [
            ("p",
             "trim(BOTH ' ,' FROM regexp_replace(regexp_replace("
             "coalesce(before_part, ''), '(?i)^Winner: *', ''),"
             " '^[*]+ *', ''))"),
        ]),
        # the three announcement styles in reference order
        bar("styled", "named", ["*"], [
            ("laureate_name",
             f"CASE WHEN {rl('p', sa)} THEN {collapse(n(sa_x, 1))} "
             f"WHEN {rl('p', sb)} THEN {collapse(n(sb_x, 1))} "
             f"WHEN {rl('p', sc)} THEN {collapse(n(sc_x, 1))} "
             f"ELSE nullif(p, '') END"),
            ("country",
             f"CASE WHEN {rl('p', sa)} THEN {collapse(n(sa_x, 2))} "
             f"WHEN {rl('p', sb)} THEN {collapse(n(sb_x, 2))} "
             f"WHEN {rl('p', sc)} THEN {collapse(n(sc_x, 2))} END"),
            ("affiliation",
             f"CASE WHEN {rl('p', sa)} THEN CAST(NULL AS {S}) "
             f"WHEN {rl('p', sb)} THEN CAST(NULL AS {S}) "
             f"WHEN {rl('p', sc)} THEN " +
             collapse("regexp_replace(" + n(sc_x, 3) + ", '^[, ]+', '')") +
             " END"),
        ]),
        # clean_field + the USD amount extraction
        bar("fielded", "styled", ["*"], [
            ("award_field",
             f"CASE WHEN field_c IS NOT NULL THEN "
             f"CASE {field_clean} "
             f"WHEN 'Engineering Science' THEN 'Engineering Sciences' "
             f"ELSE nullif({field_clean}, '') END END"),
            ("source_award_amount",
             "nullif(replace(regexp_extract(coalesce(amount_context, ''), "
             "'(?i)USD *([0-9][0-9,]*)', 1), ',', ''), '')"),
        ]),
        # award_name_for + name tokens + shared-prize arithmetic
        bar("shaped0", "fielded", ["*"], [
            ("award_name",
             f"CASE WHEN label_c IS NOT NULL AND {rl('label_c', twas_word)} "
             f"THEN trim(regexp_replace(label_c, '(?i), *shared$', '')) "
             f"WHEN year <= 2002 THEN concat('TWAS Award in Basic Sciences"
             f" - ', coalesce(award_field, 'Unknown Field')) "
             f"WHEN year >= 2022 THEN concat('TWAS Award in ', "
             f"coalesce(award_field, 'Unknown Field')) "
             f"ELSE concat('TWAS Prize in ', "
             f"coalesce(award_field, 'Unknown Field')) END"),
            ("name_tokens", strip_suffixes(
                ("split(laureate_name, ' ')" if dialect == "spark"
                 else "string_split(laureate_name, ' ')"))),
            ("amt_per",
             "CASE WHEN source_award_amount IS NOT NULL AND NOT "
             "per_winner_amount THEN CAST(source_award_amount AS DOUBLE) / "
             "greatest(group_size, 1) WHEN source_award_amount IS NOT NULL "
             "THEN CAST(source_award_amount AS DOUBLE) END"),
            ("portion_v", "CAST(1.0 AS DOUBLE) / greatest(group_size, 1)"),
        ]),
    ])

    return f"""
WITH raw AS ({rows}),
texts AS (
  SELECT *,
    {collapse("concat(prefix_text, tail_text)")} AS raw_text,
    {collapse("field_raw")} AS field_c,
    {collapse("source_label")} AS label_c
  FROM raw
),
{chain},
shaped AS (
  SELECT * FROM shaped0 WHERE laureate_name IS NOT NULL
)
SELECT
  concat('twas-awards-', CAST(year AS {S}), '-',
         {slugify("award_field")}, '-',
         {slugify("laureate_name")}) AS funder_award_id,
  CAST(year AS {S}) AS award_year,
  award_name, award_field, laureate_name,
  CASE WHEN {asize('name_tokens')} > 1
       THEN {jnagg(head('name_tokens', asize('name_tokens') + ' - 1'))}
  END AS laureate_given_name,
  CASE WHEN {asize('name_tokens')} >= 1
       THEN {elem("name_tokens", asize("name_tokens"))}
  END AS laureate_family_name,
  country AS laureate_country_or_nationality,
  nullif(affiliation, '') AS laureate_affiliation_or_context,
  citation,
  coalesce(citation, raw_text) AS description,
  source_award_amount,
  CASE WHEN amt_per IS NOT NULL THEN {trim_num("amt_per", 6)} END
    AS amount_per_laureate,
  CASE WHEN source_award_amount IS NOT NULL THEN 'USD' END AS currency,
  CAST(group_size AS {S}) AS award_group_size,
  {trim_num("portion_v", 8)} AS portion,
  source_url AS landing_page_url,
  source_page_title,
  source_url
FROM shaped
"""


@register(
    "twas_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="TWAS awards-archive parse stage (scripts/local/twas_awards_to_s3.py)",
    spread=("orders",),
)
def twas_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWAS laureate-paragraph normalize (module docstring has the full
    semantics map with reference line cites).  One scan, pure column
    algebra under one round-robin spread exchange, no hash shuffle, no
    Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
