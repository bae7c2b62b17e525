"""Foundation-archive scraper family
(scripts/local/{ahmanson,costech,kirby,lumina,health_foundation}
_to_s3.py — 5 scripts, one official-archive-to-parquet skeleton; the
Health Foundation thin-listing arm's semantics map sits inline above
its CTEs in :func:`_sql`).

Four ingests sharing the archive skeleton: ``clean_text`` (NBSP, ws
collapse), ``make_display_name`` ('{recipient}: {description}' with
the 180-char word-boundary cut and '...' suffix, else
'Grant to {recipient}'), the stringify-all ship.  HTTP/JSON/DOM
selection is the seam; the fixture delivers the selected raw fields
one record per orders key.  Ported compute:

* **ahmanson** (ahmanson_to_s3.py:164-310): info-table keys
  lowercased; amount = the first ``[0-9][0-9,]*(\\.[0-9]+)?`` run,
  comma-stripped, shipped as a STRING with currency USD iff present;
  fiscal_year falls back to the parent section's year class;
  ``parse_location`` splits on commas — last part = region, the rest
  re-joined = city, country 'US' only when the region is one of the
  51 state/DC codes (never guessed); display-name cut; id
  'ahmanson-{post_id}', landing '#post-{post_id}' anchor;
* **costech** (costech_to_s3.py:168-305): nested {name} object
  fields; ``split_person_name`` — the reference's honorific-strip
  regex is written with DOUBLED backslashes inside a raw string
  (``r"^(Prof\\\\.?|...)\\\\s+"``), so it can never match a real name
  and the honorific survives into given_name; this port preserves
  that observable behavior (no title strip) and documents the quirk;
  the case-SENSITIVE PhD/MD/DPhil/Jr./Sr./II-IV suffix pop runs on
  comma-stripped tokens; ``parse_amount`` renders integers bare and
  fractions as ``%.2f`` right-trimmed; funding_type 'research' only
  for the literal 'Research Program'; funder_scheme = program and
  subprogram ' - '-joined; TZS iff amount; id 'nfast-{project_id}';
* **kirby** (kirby_to_s3.py:159-320): the recent-grants matrix —
  header year columns, '$'-marker rows switch the UPPERCASED current
  category, data rows EXPLODE one record per year column whose cell
  parses; ``normalize_amount`` keeps the display text and strips
  commas, with the dot-thousands rule (``\\d{1,3}(\\.\\d{3})+`` drops
  the dots); recipient = the cell's <strong>, description = the cell
  minus it (fixture delivers both); id = 'kirby-{year}-{slug(cat,32)}-
  {slug(recipient)}-{digest12}' — DEVIATION: the digest is
  sha256[:12] in both engines (DuckDB has no sha1) over the
  reference's exact 'year|cat.lower()|recipient.lower()|desc.lower()'
  input; AUD constant;
* **lumina** (lumina_to_s3.py:161-300): grant-data detail table;
  id = the 'Grant #' cell else the URL's /grant/{slug}/ segment;
  amount ``\\$?\\s*(...)`` comma-stripped; 'M/D/YYYY through
  M/D/YYYY' ranges (a single date fills start only); description =
  the first top-level paragraph; display = description else
  'Grant to {recipient}'; source_year = start_date[:4]; USD iff
  amount.

Plan: 4 scan arms behind Generate barriers; the only Generate beyond
the barriers is kirby's per-year-column explode.  No hash shuffle
(every member's ids are unique by construction — validates RAISE on
collision); each arm's scan sits under one round-robin spread
exchange.  No Python.

tests/test_template_fidelity.py re-derives all four members.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_US_STATES = ("'AL','AK','AZ','AR','CA','CO','CT','DE','DC','FL','GA',"
              "'HI','ID','IL','IN','IA','KS','KY','LA','ME','MD','MA',"
              "'MI','MN','MS','MO','MT','NE','NV','NH','NJ','NM','NY',"
              "'NC','ND','OH','OK','OR','PA','RI','SC','SD','TN','TX',"
              "'UT','VT','VA','WA','WV','WI','WY'")

# case-SENSITIVE (costech_to_s3.py:191)
_COSTECH_SUFFIXES = "'PhD','MD','DPhil','Jr.','Sr.','II','III','IV'"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, clean_ws, elem = k.g, k.S, k.cs, k.bar, k.clean_ws, k.elem
    fmt, nullcols, rl, rx = k.fmt, k.nullcols, k.rl, k.rx

    def slugify(x: str, max_len: int) -> str:
        s = (f"regexp_replace(lower(coalesce({x}, '')), '[^a-z0-9]+', "
             f"'-'{g})")
        s = f"substr(trim(BOTH '-' FROM {s}), 1, {max_len})"
        return f"coalesce(nullif(trim(BOTH '-' FROM {s}), ''), 'unknown')"

    def display_name(recip: str, desc: str) -> str:
        """make_display_name with the 180-char word-boundary cut."""
        short = (f"CASE WHEN length({desc}) > 180 THEN concat("
                 f"regexp_replace(substr({desc}, 1, 177), '\\\\s+\\\\S*$', "
                 f"''{g}), '...') ELSE {desc} END")
        return (f"CASE WHEN {desc} IS NULL THEN concat('Grant to ', "
                f"{recip}) ELSE concat({recip}, ': ', {short}) END")

    def amt_first_num(x: str) -> str:
        """First number run, comma-stripped, STRING (ahmanson/lumina)."""
        m = rx(f"coalesce({x}, '')",
               "([0-9][0-9,]*(?:\\\\.[0-9]+)?)", 1)
        return f"replace({m}, ',', '')"

    ks = cs("o_orderkey")

    # ---- ahmanson -----------------------------------------------------------
    ah_loc_parts = (f"transform(split(ah.loc_clean, ','), x -> trim(x))"
                    if dialect == "spark" else
                    f"list_transform(str_split(ah.loc_clean, ','), "
                    f"x -> trim(x))")
    ah_region = elem(f"({ah_loc_parts})",
                     f"size(({ah_loc_parts}))" if dialect == "spark"
                     else f"len(({ah_loc_parts}))")
    if dialect == "spark":
        ah_city = (f"nullif(trim(array_join(slice(({ah_loc_parts}), 1, "
                   f"size(({ah_loc_parts})) - 1), ', ')), '')")
    else:
        ah_city = (f"nullif(trim(list_aggr(list_slice(({ah_loc_parts}), 1,"
                   f" len(({ah_loc_parts})) - 1), 'string_agg', ', ')), "
                   f"'')")

    ahmanson = f"""
ah_raw AS (
  SELECT o_orderkey AS k,
    {cs('o_orderkey + 40000')} AS post_id,
    concat('Organisation ', {cs('o_orderkey % 280')}) AS grantee_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('https://org.example/', {cs('o_orderkey % 280')}) END
      AS grantee_url,
    CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN concat('$', {cs('o_orderkey % 800 + 100')}, ',000')
      WHEN 2 THEN '125,000.50' ELSE 'undisclosed' END AS amount_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Arts ', {cs('o_orderkey % 4')}) END AS program_raw,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('20', lpad({cs('o_orderkey % 25')}, 2, '0')) END
      AS fy_raw,
    CASE CAST(o_orderkey % 5 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN 'Los Angeles, CA' WHEN 2 THEN 'Pasadena'
      WHEN 3 THEN 'Mexico City, DF, MX' ELSE 'Santa Monica , CA' END
      AS loc_raw,
    concat('fy-20', lpad({cs('o_orderkey % 25')}, 2, '0'))
      AS section_year,
    concat('$', {cs('o_orderkey % 90 + 10')}, ',000,000 granted')
      AS section_h1,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      WHEN o_orderkey % 7 = 1 THEN concat(
        'For general support of the capital campaign and the museum ',
        'education initiative across the greater region, including ',
        'the expansion of public programming, case ', {ks})
      ELSE concat('For program support, case ', {ks}) END AS desc_raw
  FROM orders
),
ah_clean AS (
  SELECT *, {clean_ws('loc_raw')} AS loc_clean,
    {clean_ws('desc_raw')} AS description,
    {clean_ws('grantee_raw')} AS grantee_name,
    coalesce({clean_ws('fy_raw')}, section_year) AS fiscal_year
  FROM ah_raw
),
{bar("ah_parsed", "ah_clean",
     ["k", "post_id", "grantee_name", "grantee_url", "amount_raw",
      "program_raw", "fiscal_year", "section_year", "section_h1",
      "loc_clean", "description"], [
    ("amount", amt_first_num("amount_raw")),
    ("display_name", display_name("grantee_name", "description")),
    ("recipient_city",
     f"CASE WHEN loc_clean IS NULL OR NOT contains(loc_clean, ',') "
     f"THEN loc_clean ELSE {ah_city.replace('ah.', '')} END"),
    ("recipient_region",
     f"CASE WHEN loc_clean IS NOT NULL AND contains(loc_clean, ',') "
     f"THEN {ah_region.replace('ah.', '')} END"),
])},
ah_out AS (
  SELECT 'ahmanson' AS member,
    concat('ahmanson-', post_id) AS funder_award_id,
    display_name, description, grantee_name AS recipient_name,
    grantee_url AS recipient_url, post_id AS source_record_id,
    amount,
    CASE WHEN amount IS NOT NULL THEN 'USD' END AS currency,
    {clean_ws('program_raw')} AS program_area, fiscal_year,
    loc_clean AS recipient_location, recipient_city, recipient_region,
    CASE WHEN recipient_region IN ({_US_STATES}) THEN 'US' END
      AS recipient_country,
    section_year AS source_section_year,
    {amt_first_num('section_h1')} AS source_section_total_amount,
    {nullcols('source_category', 'source_amount_display',
              'funder_scheme', 'funding_type', 'start_date', 'end_date',
              'source_year', 'lead_given_name', 'lead_family_name',
              'objective', 'result', 'subprogram_name', 'sector_name',
              'status_name', 'source_column_year')},
    {cs('k')} AS source_row_number,
    concat('https://theahmansonfoundation.org/grants/#post-', post_id)
      AS landing_page_url,
    'https://theahmansonfoundation.org/grants/' AS source_url
  FROM ah_parsed
)"""

    # ---- costech --------------------------------------------------------------
    # split_person_name WITHOUT a title strip: the reference's
    # honorific regex is double-escaped and never matches (see module
    # docstring); the suffix pop is case-sensitive on comma-stripped
    # tokens
    if dialect == "spark":
        co_toks = ("filter(transform(split(coalesce(co.name_clean, ''), "
                   "' +'), x -> trim(BOTH ' ,' FROM x)), x -> x <> '')")
        co_last = (f"coalesce(array_max(zip_with(({co_toks}), sequence(1, "
                   f"size(({co_toks}))), (t, i) -> CASE WHEN "
                   f"rtrim(',', t) NOT IN ({_COSTECH_SUFFIXES}) "
                   f"THEN i END)), 0)")
        co_head = (f"array_join(slice(({co_toks}), 1, ({co_last}) - 1), "
                   f"' ')")
    else:
        co_toks = ("list_filter(list_transform(regexp_split_to_array("
                   "coalesce(co.name_clean, ''), ' +'), "
                   "x -> trim(BOTH ' ,' FROM x)), x -> x <> '')")
        co_last = (f"coalesce(list_max(list_transform(({co_toks}), "
                   f"(t, i) -> CASE WHEN rtrim(t, ',') NOT IN "
                   f"({_COSTECH_SUFFIXES}) THEN i END)), 0)")
        co_head = (f"list_aggr(list_slice(({co_toks}), 1, ({co_last}) - "
                   f"1), 'string_agg', ' ')")
    co_kept_last = elem(f"({co_toks})", f"({co_last})")
    co_given = (f"CASE WHEN ({co_last}) >= 2 "
                f"THEN nullif({co_head}, '') END")
    co_family = f"CASE WHEN ({co_last}) >= 1 THEN {co_kept_last} END"
    # parse_amount: integer bare, else %.2f right-trimmed
    co_num = "try_cast(replace(co.budget_raw, ',', '') AS DOUBLE)"
    if dialect == "spark":
        co_amt = (f"CASE WHEN {co_num} IS NULL THEN NULL "
                  f"WHEN {co_num} = CAST(CAST({co_num} AS BIGINT) AS "
                  f"DOUBLE) THEN CAST(CAST({co_num} AS BIGINT) AS STRING) "
                  f"ELSE regexp_replace(regexp_replace({fmt}('%.2f', "
                  f"{co_num}), '0+$', ''), '[.]$', '') END")
    else:
        co_amt = (f"CASE WHEN {co_num} IS NULL THEN NULL "
                  f"WHEN {co_num} = trunc({co_num}) "
                  f"THEN CAST(CAST(trunc({co_num}) AS BIGINT) AS VARCHAR) "
                  f"ELSE regexp_replace(regexp_replace({fmt}('%.2f', "
                  f"{co_num}), '0+$', '', 'g'), '[.]$', '', 'g') END")

    costech = f""",
co_raw AS (
  SELECT o_orderkey AS k,
    {cs('o_orderkey + 70000')} AS project_id,
    concat('Aflatoxin mitigation study ', {ks}) AS title_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Background  on maize value chains ', {ks}) END
      AS background_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('Objective: improve storage ', {cs('o_orderkey % 9')})
      END AS objective_raw,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('Result summary ', {cs('o_orderkey % 7')}) END
      AS result_raw,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('Prof. John Mushi', {cs('o_orderkey % 170')})
      WHEN 1 THEN concat('Neema Said', {cs('o_orderkey % 170')}, ' PhD')
      WHEN 2 THEN concat('Baraka', {cs('o_orderkey % 170')})
      ELSE concat('Dr. Amina Juma', {cs('o_orderkey % 170')}, ' Jr.') END
      AS researcher_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN 'Research Program'
      ELSE concat('Innovation Program ', {cs('o_orderkey % 3')}) END
      AS program_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('Subprogram ', {cs('o_orderkey % 4')}) END
      AS subprogram_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('Sector ', {cs('o_orderkey % 5')}) END AS sector_raw,
    'Ongoing' AS status_raw,
    CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN concat({cs('o_orderkey % 400 + 100')}, ',000,000')
      WHEN 2 THEN '1250000.50' ELSE 'tbd' END AS budget_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('202', {cs('o_orderkey % 4')}, '-0',
                  {cs('o_orderkey % 9 + 1')}, '-15') END AS start_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('202', {cs('o_orderkey % 4 + 2')}, '-06-30') END
      AS end_raw
  FROM orders
),
co_clean AS (
  SELECT *, {clean_ws('researcher_raw')} AS name_clean,
    {clean_ws('program_raw')} AS program_name,
    {clean_ws('subprogram_raw')} AS subprogram_name
  FROM co_raw
),
{bar("co_parsed", "co_clean",
     ["k", "project_id", "title_raw", "background_raw", "objective_raw",
      "result_raw", "name_clean", "program_name", "subprogram_name",
      "sector_raw", "status_raw", "budget_raw", "start_raw", "end_raw"], [
    ("given_name", co_given.replace("co.", "")),
    ("family_name", co_family.replace("co.", "")),
    ("amount", co_amt.replace("co.", "")),
])},
co_out AS (
  SELECT 'costech' AS member,
    concat('nfast-', project_id) AS funder_award_id,
    {clean_ws('title_raw')} AS display_name,
    coalesce({clean_ws('background_raw')}, {clean_ws('objective_raw')})
      AS description,
    name_clean AS recipient_name, CAST(NULL AS {S}) AS recipient_url,
    project_id AS source_record_id, amount,
    CASE WHEN amount IS NOT NULL THEN 'TZS' END AS currency,
    program_name AS program_area, {nullcols('fiscal_year',
    'recipient_location', 'recipient_city', 'recipient_region',
    'recipient_country', 'source_section_year',
    'source_section_total_amount', 'source_category',
    'source_amount_display')},
    CASE WHEN program_name IS NOT NULL AND subprogram_name IS NOT NULL
         THEN concat(program_name, ' - ', subprogram_name)
         WHEN program_name IS NOT NULL THEN program_name
         WHEN subprogram_name IS NOT NULL THEN subprogram_name
         ELSE '' END AS funder_scheme,
    CASE WHEN lower(coalesce(program_name, '')) = 'research program'
         THEN 'research' ELSE 'grant' END AS funding_type,
    {clean_ws('start_raw')} AS start_date, {clean_ws('end_raw')} AS end_date,
    substr({clean_ws('start_raw')}, 1, 4) AS source_year,
    given_name AS lead_given_name, family_name AS lead_family_name,
    {clean_ws('objective_raw')} AS objective, {clean_ws('result_raw')}
      AS result,
    subprogram_name, {clean_ws('sector_raw')} AS sector_name,
    {clean_ws('status_raw')} AS status_name,
    {nullcols('source_column_year', 'source_row_number')},
    concat('https://www.costech.or.tz/projects/costech-funded/',
           project_id) AS landing_page_url,
    'https://rclearance.costech.or.tz/api/v1/nfast/project/list'
      AS source_url
  FROM co_parsed
)"""

    # ---- kirby ----------------------------------------------------------------
    # one fixture row = one recipient table row; the per-year-column
    # amounts explode (the reference loops year columns)
    kb_digest_src = ("concat_ws('|', yr, lower(category), "
                     "lower(recipient), lower(coalesce(description, '')))")
    kb_digest = (f"substr(sha2({kb_digest_src}, 256), 1, 12)"
                 if dialect == "spark" else
                 f"substr(sha256({kb_digest_src}), 1, 12)")
    # normalize_amount: dot-thousands rule
    kb_num0 = rx("coalesce(cell, '')", "([0-9][0-9,]*(?:\\\\.[0-9]+)?)", 1)
    kb_dot_thousands = "^[0-9]{1,3}([.][0-9]{3})+$"
    kb_amt = (f"CASE WHEN {rl(f'({kb_num0})', kb_dot_thousands)} "
              f"AND NOT contains(({kb_num0}), ',') "
              f"THEN replace(({kb_num0}), '.', '') "
              f"ELSE replace(({kb_num0}), ',', '') END")
    if dialect == "spark":
        kb_lateral = ("\n  LATERAL VIEW posexplode(cells) kb_c AS "
                      "col_idx0, cell")
        kb_years = "array('2022', '2023', '2024')"
        kb_idx = "col_idx0 + 1"
        kb_cell_sel = ""
    else:
        kb_lateral = ("\n  CROSS JOIN UNNEST(list_transform(cells, "
                      "(t, i) -> {'idx': i, 'cell': t})) AS kb_c(u)")
        kb_years = "['2022', '2023', '2024']"
        kb_idx = "u.idx"
        kb_cell_sel = ", u.cell AS cell"

    kirby = f""",
kb_raw AS (
  SELECT o_orderkey AS k,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN 'MEDICAL & HEALTH' WHEN 1 THEN 'EDUCATION'
      ELSE 'ENVIRONMENT' END AS category,
    CASE WHEN o_orderkey % 4 = 0
      THEN concat('Recipient Org ', {ks})
      ELSE concat('Recipient Org ', {cs('o_orderkey % 240')}) END
      AS recipient,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('Support for community program ', {ks}) END
      AS description,
    {('array(' if dialect == 'spark' else '[')}
      CASE CAST(o_orderkey % 5 AS INT) WHEN 0 THEN NULL
        WHEN 1 THEN concat('$', {cs('o_orderkey % 90 + 10')}, ',000')
        WHEN 2 THEN '-' ELSE concat({cs('o_orderkey % 40 + 5')}, '.000')
        END,
      CASE WHEN o_orderkey % 2 = 0
        THEN concat('$', {cs('o_orderkey % 60 + 15')}, ',500.50') END,
      CASE WHEN o_orderkey % 7 = 0 THEN 'n/a' ELSE NULL END
    {(')' if dialect == 'spark' else ']')} AS cells
  FROM orders
),
kb_cols AS (
  SELECT *{kb_cell_sel},
    CAST({kb_idx} AS INT) AS col_idx,
    {elem(kb_years, f"CAST({kb_idx} AS INT)")} AS yr
  FROM kb_raw{kb_lateral}
),
kb_valid AS (
  SELECT *, {kb_amt} AS amount, cell AS amount_display
  FROM kb_cols WHERE {kb_amt} IS NOT NULL
),
{bar("kb_parsed", "kb_valid",
     ["k", "category", "recipient", "description", "yr", "col_idx",
      "amount", "amount_display"], [
    ("award_id",
     f"concat('kirby-', yr, '-', {slugify('category', 32)}, '-', "
     f"{slugify('recipient', 80)}, '-', {kb_digest})"),
    ("display_name", display_name("recipient", "description")),
])},
kb_out AS (
  SELECT 'kirby' AS member, award_id AS funder_award_id,
    display_name, description, recipient AS recipient_name,
    {nullcols('recipient_url', 'source_record_id')},
    amount, 'AUD' AS currency,
    {nullcols('program_area', 'fiscal_year', 'recipient_location',
              'recipient_city', 'recipient_region',
              'recipient_country', 'source_section_year',
              'source_section_total_amount')},
    category AS source_category, amount_display
      AS source_amount_display,
    category AS funder_scheme, 'grant' AS funding_type,
    {nullcols('start_date', 'end_date')},
    yr AS source_year,
    {nullcols('lead_given_name', 'lead_family_name', 'objective',
              'result', 'subprogram_name', 'sector_name',
              'status_name')},
    {cs('col_idx')} AS source_column_year,
    {cs('k')} AS source_row_number,
    'https://www.kirbyfoundation.com.au/grants/recent-grants/'
      AS landing_page_url,
    'https://www.kirbyfoundation.com.au/wp-json/wp/v2/pages?slug=recent-grants'
      AS source_url
  FROM kb_parsed
)"""

    # ---- lumina ----------------------------------------------------------------
    lum_d = ("^([0-9]{1,2})/([0-9]{1,2})/([0-9]{4})$")

    def lum_date(x: str) -> str:
        return (f"CASE WHEN {rl(clean_ws(x), lum_d)} THEN concat("
                f"{rx(clean_ws(x), lum_d, 3)}, '-', "
                f"lpad({rx(clean_ws(x), lum_d, 1)}, 2, '0'), '-', "
                f"lpad({rx(clean_ws(x), lum_d, 2)}, 2, '0')) END")

    lum_range_pat = "(?i)\\\\s+through\\\\s+"
    if dialect == "spark":
        lum_split = f"split(lu.range_clean, '{lum_range_pat}', 2)"
    else:
        lum_split = (f"regexp_split_to_array(lu.range_clean, "
                     f"'{lum_range_pat}')")

    lumina = f""",
lu_raw AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 9 = 0 THEN NULL
      ELSE concat('LF-', {cs('o_orderkey % 10000 + 1000')}, '-',
                  {ks}) END AS grant_no,
    concat('grant-slug-', {ks}) AS url_slug,
    concat('College Network ', {cs('o_orderkey % 230')}) AS recip_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('Indianapolis, IN ', {cs('o_orderkey % 3')}) END
      AS loc_raw,
    CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN concat('$', {cs('o_orderkey % 700 + 100')}, ',000')
      WHEN 2 THEN '249,999.99' ELSE 'in kind' END AS amount_raw,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN concat({cs('o_orderkey % 12 + 1')}, '/',
                         {cs('o_orderkey % 28 + 1')}, '/202',
                         {cs('o_orderkey % 4')}, ' through 12/31/202',
                         {cs('o_orderkey % 4 + 1')})
      WHEN 2 THEN concat({cs('o_orderkey % 12 + 1')}, '/1/201',
                         {cs('o_orderkey % 9')})
      ELSE 'ongoing' END AS range_raw,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('To support attainment goal ', {ks}) END AS desc_raw
  FROM orders
),
lu_clean AS (
  SELECT *, {clean_ws('range_raw')} AS range_clean,
    {clean_ws('recip_raw')} AS recipient_name,
    {clean_ws('desc_raw')} AS description
  FROM lu_raw
),
{bar("lu_parsed", "lu_clean",
     ["k", "grant_no", "url_slug", "recipient_name", "loc_raw",
      "amount_raw", "range_clean", "description"], [
    ("amount",
     amt_first_num("amount_raw")),
    ("start_date",
     f"CASE WHEN range_clean IS NULL THEN NULL "
     f"WHEN {rl('range_clean', lum_range_pat)} "
     f"THEN {lum_date(elem(lum_split.replace('lu.', ''), '1'))} "
     f"ELSE {lum_date('range_clean')} END"),
    ("end_date",
     f"CASE WHEN range_clean IS NOT NULL "
     f"AND {rl('range_clean', lum_range_pat)} "
     f"THEN {lum_date(elem(lum_split.replace('lu.', ''), '2'))} END"),
])},
lu_out AS (
  SELECT 'lumina' AS member,
    coalesce(grant_no, url_slug) AS funder_award_id,
    coalesce(description, concat('Grant to ', recipient_name))
      AS display_name,
    description, recipient_name, {nullcols('recipient_url',
    'source_record_id')},
    amount, CASE WHEN amount IS NOT NULL THEN 'USD' END AS currency,
    {nullcols('program_area', 'fiscal_year')},
    {clean_ws('loc_raw')} AS recipient_location,
    {nullcols('recipient_city', 'recipient_region',
              'recipient_country', 'source_section_year',
              'source_section_total_amount', 'source_category',
              'source_amount_display', 'funder_scheme')},
    'grant' AS funding_type, start_date, end_date,
    substr(start_date, 1, 4) AS source_year,
    {nullcols('lead_given_name', 'lead_family_name', 'objective',
              'result', 'subprogram_name', 'sector_name', 'status_name',
              'source_column_year', 'source_row_number')},
    concat('https://www.luminafoundation.org/grant/', url_slug, '/')
      AS landing_page_url,
    concat('https://www.luminafoundation.org/grant/', url_slug, '/')
      AS source_url
  FROM lu_parsed
)"""


    # ---- health foundation (thf, round 12) -----------------------------
    # health_foundation_to_s3.py:88-113,161-183 — the Akamai/Playwright
    # crawl and the CARD_JS DOM extraction are the seam; the fixture
    # delivers each card's (title, href, meta, summary).  Ported
    # compute: clean (NBSP+collapse), slug_of = last non-empty path
    # segment, section_of = first path segment with '-'->' ' and
    # str.capitalize() (lowercases the REST — quirk kept), year_of =
    # the first unanchored (19|20)dd run in the meta, the
    # href/title/slug drop gates, the keep-FIRST slug dedupe across
    # facets (crawl order = fixture key order), description =
    # summary[:300], id 'thf-{slug}'.  NO PI and NO amounts by source
    # design (runbook 6.7 thin build).
    thf_year = ("nullif(regexp_extract(meta_raw, '((?:19|20)" "\\\\d\\\\d)', 1), '')")
    thf_sect = ("concat(upper(substr(replace(sect_seg, '-', ' '), 1, 1)),"
                " lower(substr(replace(sect_seg, '-', ' '), 2)))")
    thf = f""",
thf_cards AS (
  SELECT o_orderkey AS k,
    CASE CAST(o_orderkey % 2 AS INT)
      WHEN 0 THEN 'funding-and-partnerships'
      ELSE 'funding-and-fellowships' END AS sect_seg,
    concat('improving-access-', {cs('CAST(floor(o_orderkey / 2.0) AS BIGINT)')})
      AS slug,
    (o_orderkey % 19 <> 0) AS has_href,
    CASE WHEN o_orderkey % 17 = 0 THEN NULL
      ELSE concat('Improving  access to community care ', {ks}) END
      AS title_raw,
    CASE WHEN o_orderkey % 13 = 0 THEN 'Project | date TBC'
      ELSE concat('Project | ', {cs('1 + o_orderkey % 28')},
                  ' October ', {cs('1998 + o_orderkey % 28')}) END
      AS meta_raw,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      WHEN o_orderkey % 5 = 0 THEN concat(
        'This programme supports local systems to improve care ',
        'quality and outcomes across the region with partners. ',
        'This programme supports local systems to improve care ',
        'quality and outcomes across the region with partners. ',
        'This programme supports local systems to improve care ',
        'quality and outcomes across the region with partners. ',
        'Cohort ', {ks}) ELSE concat('Evaluation of pathway ', {ks})
      END AS summary_raw
  FROM orders
),
thf_kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY slug ORDER BY k) AS rn
    FROM thf_cards
    WHERE has_href AND {clean_ws('title_raw')} IS NOT NULL) x
  WHERE rn = 1
),
thf_out AS (
  SELECT 'thf' AS member,
    concat('thf-', slug) AS funder_award_id,
    {clean_ws('title_raw')} AS display_name,
    substr({clean_ws('summary_raw')}, 1, 300) AS description,
    {nullcols('recipient_name', 'recipient_url', 'source_record_id',
              'amount', 'currency', 'program_area', 'fiscal_year',
              'recipient_location', 'recipient_city',
              'recipient_region', 'recipient_country',
              'source_section_year', 'source_section_total_amount',
              'source_category', 'source_amount_display')},
    {thf_sect} AS funder_scheme,
    CAST(NULL AS {S}) AS funding_type,
    {nullcols('start_date', 'end_date')},
    {thf_year} AS source_year,
    {nullcols('lead_given_name', 'lead_family_name', 'objective',
              'result', 'subprogram_name', 'sector_name',
              'status_name', 'source_column_year',
              'source_row_number')},
    concat('https://www.health.org.uk/', sect_seg, '/projects/', slug)
      AS landing_page_url,
    concat('https://www.health.org.uk/', sect_seg, '/projects/', slug)
      AS source_url
  FROM thf_kept
)"""

    cols = ("member, funder_award_id, display_name, description, "
            "recipient_name, recipient_url, source_record_id, amount, "
            "currency, program_area, fiscal_year, recipient_location, "
            "recipient_city, recipient_region, recipient_country, "
            "source_section_year, source_section_total_amount, "
            "source_category, source_amount_display, funder_scheme, "
            "funding_type, start_date, end_date, source_year, "
            "lead_given_name, lead_family_name, objective, result, "
            "subprogram_name, sector_name, status_name, "
            "source_column_year, source_row_number, landing_page_url, "
            "source_url")

    return f"""
WITH {ahmanson}{costech}{kirby}{lumina}{thf}
SELECT {cols} FROM ah_out
UNION ALL SELECT {cols} FROM co_out
UNION ALL SELECT {cols} FROM kb_out
UNION ALL SELECT {cols} FROM lu_out
UNION ALL SELECT {cols} FROM thf_out
"""


@register(
    "foundation_archive_parse",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Foundation-archive scraper family (scripts/local/{ahmanson,"
         "costech,kirby,lumina}_to_s3.py)"),
    spread=("orders",),
)
def foundation_archive_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four foundation-archive ingests in one union plan (module
    docstring has the semantics map; note the costech dead-regex quirk
    preserved and the kirby sha1->sha256 digest deviation).  Four
    barriered scan arms + the kirby year-column explode; no hash
    shuffle, one round-robin spread exchange per scan."""
    return spark.sql(sqlkit.build(_sql, "spark"))
