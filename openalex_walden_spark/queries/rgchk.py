"""RGC Hong Kong project-enquiry parse stage
(scripts/local/rgc_hk_to_s3.py).

The reference walks the CERG project-enquiry listing + detail pages
(POST pagination, label/value ``<tr>`` scraping — the HTTP/DOM seam,
:258-423) and normalizes every detail record through one kit
(``parse_detail_record``, :425-478).  Ported compute:

* ``clean_text`` (:137-146): BOM/NBSP cleanup, CRLF fold, ``[ \\t]+``
  collapse (NEWLINES PRESERVED), 3+ newlines -> exactly 2, trim;
  ``compact_text`` (:148-152) additionally collapses all whitespace;
* ``amount_to_string`` (:155-168): 'HK$'/','/'$' strip, Decimal parse
  with <=0 -> NULL, integral amounts render without decimals and
  fractional ones with trailing zeros trimmed ('823,456.50' ->
  '823456.5');
* ``iso_date_from_dmy`` (:172-180): the first ``d-m-yyyy`` run
  re-rendered zero-padded ISO — NO calendar validation (reference
  behavior: a '99-99-2024' cell would pass through; preserved);
* ``year_from_exercise`` (:183-188): first 19xx/20xx run;
  ``year_from_date`` (:191-194): ISO prefix year;
* ``split_person_name`` (:197-219): Prof/Dr/Mr/Mrs/Ms/Miss/Ir
  honorific strip, the 'FAMILY, GIVEN' comma form, else a
  CASE-SENSITIVE Jr/Sr/II/III/IV suffix pop then last token = family;
* ``split_people`` (:222-231): newline/semicolon split, per-record
  order-preserving dedup;
* the JSON passthroughs (:246-255,457-458): ``json.dumps`` of the
  co-investigator names and of the (raw_name, given, family) structs
  with sorted keys and default separators, replicated
  character-exactly in both engines (the swecris convention);
* funding_type_hint (:446): 'fellowship' iff the scheme contains it;
* the detail-URL composition (:333-349) with its fixed query tail.

``source_row_json`` (the json.dumps of the raw soup field dict) and
``downloaded_at`` are the raw-page/runtime seams — not emitted, the
GtR/NIHR convention.

Fixture: one synthetic detail record per orders row; the PI lattice
covers all three name forms + honorifics + the case-sensitive suffix,
amounts cover integral/fractional/zero/junk, the co-investigator cell
carries a duplicate that the order-preserving dedup must drop.  Plan:
one scan, pure column algebra (HOF transforms for the people JSON);
the only exchange is the round-robin spread over the scan, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_ROWS_SPARK = """
SELECT o_orderkey AS rid,
  concat(CAST(o_orderkey % 8 + 11 AS STRING),
         lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'),
         CASE CAST(o_orderkey % 3 AS INT)
           WHEN 0 THEN '16' WHEN 1 THEN '21E' ELSE '22M' END)
    AS project_number,
  CASE WHEN o_orderkey % 11 = 0
       THEN concat('HKUST', CAST(o_orderkey % 1000 AS STRING)) END
    AS old_project_id,
  CASE CAST(o_orderkey % 4 AS INT)
    WHEN 0 THEN 'General Research Fund'
    WHEN 1 THEN 'Early Career Scheme'
    WHEN 2 THEN 'RGC Postdoctoral Fellowship Scheme'
    ELSE 'Theme-based Research Scheme'
  END AS funding_scheme,
  concat('Study of topic ', CAST(o_orderkey AS STRING)) AS title_en,
  concat('chinese title ', CAST(o_orderkey AS STRING)) AS title_zh,
  concat('First paragraph of abstract ', CAST(o_orderkey AS STRING),
         '.\\n\\n\\n\\nSecond\\tparagraph  here.') AS abstract_raw,
  CASE CAST(o_orderkey % 6 AS INT)
    WHEN 0 THEN 'Prof. CHAN Tai-man'
    WHEN 1 THEN 'Dr Wong, Ka Ming'
    WHEN 2 THEN 'LEE Siu Ming Jr.'
    WHEN 3 THEN 'Ir CHEUNG Kwok'
    WHEN 4 THEN 'Einstein'
    ELSE NULL
  END AS pi_raw,
  CASE CAST(o_orderkey % 3 AS INT)
    WHEN 0 THEN concat('Dr A Chan', CAST(o_orderkey % 53 AS STRING),
                       '\\nProf B Lee; Dr A Chan',
                       CAST(o_orderkey % 53 AS STRING))
    WHEN 1 THEN 'Ms C Ng'
    ELSE NULL
  END AS co_raw,
  concat('Department of Unit ', CAST(o_orderkey % 40 AS STRING))
    AS department,
  concat('University ', CAST(o_orderkey % 9 AS STRING)) AS institution,
  CASE CAST(o_orderkey % 5 AS INT)
    WHEN 0 THEN concat('HK$', CAST(o_orderkey % 900 + 100 AS STRING), ',',
                       lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'))
    WHEN 1 THEN concat(CAST(o_orderkey % 900 + 100 AS STRING), ',',
                       lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'),
                       '.50')
    WHEN 2 THEN '0'
    WHEN 3 THEN 'N/A'
    ELSE NULL
  END AS fund_approved,
  'Biology and Medicine' AS panel,
  concat('Subject ', CAST(o_orderkey % 23 AS STRING)) AS subject_area,
  CASE WHEN o_orderkey % 9 = 0 THEN 'TBD'
       ELSE concat(CAST(o_orderkey % 25 + 2000 AS STRING), ' / ',
                   CAST(o_orderkey % 25 + 2001 AS STRING)) END
    AS exercise_year,
  CASE WHEN o_orderkey % 2 = 0 THEN 'Completed' ELSE 'On-going' END
    AS project_status,
  CASE WHEN o_orderkey % 9 = 0 THEN 'to be advised'
       ELSE concat('Completed on ', CAST(o_orderkey % 28 + 1 AS STRING),
                   '-', CAST(o_orderkey % 12 + 1 AS STRING), '-',
                   CAST(o_orderkey % 25 + 2001 AS STRING)) END
    AS completion_raw,
  CASE WHEN o_orderkey % 2 = 0 THEN 'Available' END AS layman_raw,
  concat('Listing title ', CAST(o_orderkey AS STRING)) AS listing_title,
  'listed pi' AS listing_pi,
  'Completed' AS listing_status,
  CAST(o_orderkey % 40 + 1 AS INT) AS listing_page
FROM orders
"""

_HONORIFIC = "(?i)^(Prof(essor)?|Dr|Mr|Mrs|Ms|Miss|Ir)[.]? +"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, asize, elem, fmt, head = k.g, k.S, k.asize, k.elem, k.fmt, k.head
    rl = k.rl
    if dialect == "spark":
        rows = _ROWS_SPARK
        joinsep = lambda a, s: f"array_join({a}, '{s}')"  # noqa: E731
        transform = "transform"
        splitfn = lambda v, p: f"filter(split({v}, '{p}'), x -> trim(x) <> '')"  # noqa: E731
    else:
        rows = (_ROWS_SPARK
                .replace("AS STRING", "AS VARCHAR")
                .replace("'.\\n\\n\\n\\nSecond\\tparagraph  here.'",
                         "'.' || chr(10) || chr(10) || chr(10) || chr(10) "
                         "|| 'Second' || chr(9) || 'paragraph  here.'")
                .replace("'\\nProf B Lee; Dr A Chan'",
                         "chr(10) || 'Prof B Lee; Dr A Chan'"))
        joinsep = lambda a, s: f"list_aggr({a}, 'string_agg', '{s}')"  # noqa: E731
        transform = "list_transform"
        splitfn = lambda v, p: (  # noqa: E731
            f"list_filter(regexp_split_to_array({v}, '{p}'), "
            f"x -> trim(x) <> '')")

    def clean(col: str) -> str:
        # clean_text: BOM/NBSP, CRLF fold, [ \t]+ -> ' ', \n{3,} -> \n\n
        if dialect == "spark":
            return (
                f"nullif(trim(regexp_replace(regexp_replace("
                f"replace(replace(replace(coalesce({col}, ''),"
                f" '\\ufeff', ''), '\\u00a0', ' '), '\\r\\n', '\\n'),"
                f" '[ \\\\t]+', ' '), '\\\\n{{3,}}', '\\n\\n')), '')"
            )
        return (
            f"nullif(trim(regexp_replace(regexp_replace("
            f"replace(replace(replace(coalesce({col}, ''),"
            f" chr(65279), ''), chr(160), ' '),"
            f" chr(13) || chr(10), chr(10)),"
            f" '[ \\t]+', ' ', 'g'), '\\n{{3,}}', chr(10) || chr(10), 'g')),"
            f" '')"
        )

    def compact(col: str) -> str:
        if dialect == "spark":
            return (f"nullif(trim(regexp_replace(coalesce({clean(col)},"
                    f" '')," f" '\\\\s+', ' ')), '')")
        return (f"nullif(trim(regexp_replace(coalesce({clean(col)}, ''),"
                f" '\\s+', ' ', 'g')), '')")

    # amount_to_string: strip -> Decimal-style render
    amt_v = ("try_cast(nullif(trim(replace(replace(replace("
             "coalesce(fund_approved, ''), ',', ''), 'HK$', ''),"
             " '$', '')), '') AS DOUBLE)")
    amt_render = (
        f"CASE WHEN {amt_v} IS NULL OR {amt_v} <= 0 THEN CAST(NULL AS {S}) "
        f"WHEN {amt_v} = floor({amt_v}) "
        f"THEN CAST(CAST({amt_v} AS BIGINT) AS {S}) "
        f"ELSE regexp_replace(regexp_replace({fmt}('%.2f', {amt_v}),"
        f" '0+$', ''{g}), '[.]$', '') END"
    )

    dmy = "([0-9]{1,2})-([0-9]{1,2})-([0-9]{4})"
    iso_dmy = (
        f"CASE WHEN {rl(compact('completion_raw'), dmy)} THEN concat("
        f"regexp_extract({compact('completion_raw')}, '{dmy}', 3), '-', "
        f"lpad(regexp_extract({compact('completion_raw')}, '{dmy}', 2), 2, '0'), '-', "
        f"lpad(regexp_extract({compact('completion_raw')}, '{dmy}', 1), 2, '0')) END"
    )

    # split_person_name over an expression (honorific strip + comma
    # form + CASE-SENSITIVE suffix pop + last-token family)
    def person_given(col: str) -> str:
        base = f"trim(regexp_replace({compact(col)}, '{_HONORIFIC}', ''))"
        toks = splitfn(base, " +")
        if dialect == "spark":
            keep = (f"coalesce(array_max(zip_with({toks}, "
                    f"sequence(1, {asize(toks)}), (t, i) -> "
                    f"IF(trim(BOTH ',' FROM t) NOT IN "
                    f"('Jr','Jr.','Sr','Sr.','II','III','IV'), i, 0))), 0)")
        else:
            keep = (f"coalesce(list_max({transform}({toks}, (t, i) -> "
                    f"CASE WHEN trim(BOTH ',' FROM t) NOT IN "
                    f"('Jr','Jr.','Sr','Sr.','II','III','IV') THEN i END)),"
                    f" 0)")
        kept = f"list_slice({toks}, 1, {keep} - 0)" \
            if dialect == "duck" else f"slice({toks}, 1, {keep})"
        detok = f"{transform}({kept}, t -> trim(BOTH ',' FROM t))"
        return f"""
    CASE WHEN {compact(col)} IS NULL THEN CAST(NULL AS {S})
         WHEN {base} LIKE '%,%'
           THEN nullif(trim(split_part({base}, ',', 2)), '')
         WHEN {asize(detok)} > 1
           THEN {joinsep(head(detok, f"{asize(detok)} - 1"), " ")}
    END"""

    def person_family(col: str) -> str:
        base = f"trim(regexp_replace({compact(col)}, '{_HONORIFIC}', ''))"
        toks = splitfn(base, " +")
        if dialect == "spark":
            keep = (f"coalesce(array_max(zip_with({toks}, "
                    f"sequence(1, {asize(toks)}), (t, i) -> "
                    f"IF(trim(BOTH ',' FROM t) NOT IN "
                    f"('Jr','Jr.','Sr','Sr.','II','III','IV'), i, 0))), 0)")
            kept = f"slice({toks}, 1, {keep})"
        else:
            keep = (f"coalesce(list_max({transform}({toks}, (t, i) -> "
                    f"CASE WHEN trim(BOTH ',' FROM t) NOT IN "
                    f"('Jr','Jr.','Sr','Sr.','II','III','IV') THEN i END)),"
                    f" 0)")
            kept = f"list_slice({toks}, 1, {keep})"
        detok = f"{transform}({kept}, t -> trim(BOTH ',' FROM t))"
        return f"""
    CASE WHEN {compact(col)} IS NULL THEN CAST(NULL AS {S})
         WHEN {base} LIKE '%,%'
           THEN nullif(trim(split_part({base}, ',', 1)), '')
         WHEN {asize(detok)} >= 1
           THEN {elem(detok, asize(detok))}
    END"""

    # split_people over the co-investigator cell: newline/';' split,
    # compact each, order-preserving keep-first dedup (Spark
    # array_distinct preserves first-occurrence order; DuckDB
    # list_distinct does not guarantee it, so the duck side dedups via
    # the first-position filter instead)
    split_pat = "\\\\n+|; *" if dialect == "spark" else "\\n+|; *"
    lam = (", x -> trim(regexp_replace(x, '\\\\s+', ' ')))"
           if dialect == "spark"
           else ", x -> trim(regexp_replace(x, '\\s+', ' ', 'g')))")
    co_parts = (
        f"{transform}("
        + splitfn(f"coalesce({clean('co_raw')}, '')", split_pat)
        + lam
    )
    if dialect == "spark":
        co_dedup = "array_distinct(co0)"
    else:
        co_dedup = "list_filter(co0, (x, i) -> list_position(co0, x) = i)"

    quoted_names = transform + '(co_names, x -> concat(\'"\', x, \'"\'))'
    struct_entry = (
        transform + """(co_names, x -> concat(
      '{"family_name": ', coalesce('"' || """ + person_family("x")
        + """ || '"', 'null'),
      ', "given_name": ', coalesce('"' || """ + person_given("x")
        + """ || '"', 'null'),
      ', "raw_name": "', x, '"}'))"""
    )
    names_json = joinsep(quoted_names, ", ")
    structs_json = joinsep(struct_entry, ", ")

    return f"""
WITH raw AS ({rows}),
people0 AS (
  SELECT *, {co_parts} AS co0 FROM raw
),
people AS (
  SELECT *, {co_dedup} AS co_names FROM people0
),
shaped AS (
  SELECT *,
    {compact('project_number')} AS funder_award_id,
    {compact('funding_scheme')} AS scheme_c,
    {iso_dmy} AS completion_date,
    nullif(regexp_extract({compact('exercise_year')},
                          '(20[0-9]{{2}}|19[0-9]{{2}})', 1), '') AS start_year,
    {amt_render} AS amount
  FROM people
)
SELECT
  '4320321592' AS funder_id,
  'Research Grants Council, University Grants Committee'
    AS funder_display_name,
  funder_award_id,
  old_project_id,
  scheme_c AS funding_scheme,
  CASE WHEN scheme_c IS NOT NULL AND lower(scheme_c) LIKE '%fellowship%'
       THEN 'fellowship' ELSE 'research' END AS funding_type_hint,
  {clean('title_en')} AS title,
  {clean('title_zh')} AS title_chinese,
  {clean('abstract_raw')} AS description,
  pi_raw AS principal_investigator,
  {person_given('pi_raw')} AS pi_given_name,
  {person_family('pi_raw')} AS pi_family_name,
  {compact('department')} AS department,
  {compact('institution')} AS institution,
  CASE WHEN {asize('co_names')} > 0 THEN concat('[',
    {names_json},
    ']') END AS co_investigators_json,
  CASE WHEN {asize('co_names')} > 0 THEN concat('[',
    {structs_json},
    ']') END AS co_investigators_struct_json,
  {compact('panel')} AS panel,
  {compact('subject_area')} AS subject_area,
  {compact('exercise_year')} AS exercise_year,
  amount,
  CASE WHEN amount IS NOT NULL THEN 'HKD' END AS currency,
  {compact('project_status')} AS project_status,
  completion_date,
  start_year,
  substr(completion_date, 1, 4) AS end_year,
  {clean('layman_raw')} AS layman_summary_status,
  listing_title, listing_pi, listing_status, listing_page,
  concat('https://cerg1.ugc.edu.hk/cergprod/scrrm00542.jsp?proj_id=',
         funder_award_id,
         '&old_proj_id=null&proj_title=&isname=&ioname=&institution=',
         '&subject=&pages=1&year=&theSubmit=', funder_award_id)
    AS source_url,
  'https://cerg1.ugc.edu.hk/cergprod/scrrm00541.jsp' AS source_search_url
FROM shaped
"""


@register(
    "rgc_hk_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="RGC Hong Kong project-enquiry parse (scripts/local/rgc_hk_to_s3.py)",
    spread=("orders",),
)
def rgc_hk_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RGC HK detail-record normalize (module docstring has the full
    semantics map).  One scan under one round-robin spread exchange,
    HOF column algebra, no hash shuffle, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
