"""360Giving workbook-parse family — the simple column-map publishers
(scripts/local/{garfield_weston,lloyds_register,wolfson,maudsley,
sir_jules_thorn,guys_st_thomas,vivensa}_to_s3.py — 7 scripts, one
open-data standard).

The reference runs one script per 360Giving publisher; each downloads
the publisher's workbook (the HTTP/XLSX layer = the seam) and flattens
the canonical 360Giving columns through a per-publisher ``build_row``.
The ported compute, per member:

* shared ``clean_text`` (garfield_weston_to_s3.py:185-196 et al.): the
  raw-string early NULL gate (''/nan/none, maudsley adds '<na>'), the
  Excel ``_x000D_`` carriage-return token to newline, whitespace
  collapsed around newlines, blank-line runs squashed, intra-line
  space runs squashed, strip-or-NULL;
* shared ``parse_amount`` (:199-207): comma-stripped float, ``> 0``
  or NULL (§6.7 — 0/blank means undisclosed);
* shared ``iso_date``/``year_of`` (:210-229): pandas-coerce to
  YYYY-MM-DD or NULL, year = int(iso[:4]);
* ``parse_int`` (lloyds_register_to_s3.py / wolfson_to_s3.py): first
  digit run of the duration cell;
* per-member quirks, all preserved:
  - garfield_weston (:250-289): keep ONE row per Identifier = the
    latest ``Last modified`` snapshot; pandas ``sort_values`` puts NaT
    LAST with ``keep='last'``, so a NaT-modified row outranks every
    dated one, ties break to the later workbook position; currency is
    the constant 'GBP' iff an amount parsed; no recipient-country
    column exists and none is guessed;
  - lloyds_register (:178-252): start = planned start else award
    date; the 46-entry free-text COUNTRY_ISO table with parenthetical
    / comma / the-word stripping and the Korea republic/south rule;
  - wolfson (:213-255): fixed space-after-colon headers (seam), the
    8-entry GB-centric COUNTRY_ISO lower-lookup, grant_programme_url;
  - maudsley (:202-253): ``prefixed_award_id`` — whitespace runs to
    '-', pass ids already starting '360g-' (case-insensitive), else
    prefix '360G-maudsley-'; Currency column uppercased iff an amount
    parsed; duration ships as the CLEANED STRING, not an int; exact
    duplicate workbook rows are skipped (conflicting dups raise in the
    reference — the fixture only makes exact ones, so dedup=DISTINCT);
  - sir_jules_thorn (two workbooks, 2021+2022): source_year /
    source_workbook_url per origin file; the reference's
    'Receipient Org Street Address' header typo is the publisher's;
  - guys_st_thomas (:171-200): LineNo / Financial reference carried,
    the fixed registry identifier a00P400000Lw5cqIAB, award-date
    header read via the two-spelling get_col (seam);
  - vivensa (:94-146): COLMAP rename with NO text cleaning (raw
    passthrough), ``clean_amount`` = str(int(float(v))) — commas NOT
    stripped so '250,000' is NULL, decimals truncate; ``clean_date`` =
    str(v)[:10] with NO validation (a junk cell ships truncated);
    start_year = (start_date else award_date)[:4] as a string slice;
    keep-FIRST dedup on funder_award_id.

Every member stringifies all columns before shipping
(``df.astype("string")``), so the union output is all-STRING; float
amounts render as Python ``str(float)`` ('250000.0'), which matches
CAST(DOUBLE AS STRING) in both engines at fixture magnitudes.

Fixture: one synthetic workbook row per orders key per member, with
Identifier collisions where the member dedups (garfield snapshots,
maudsley exact dups, vivensa keep-first) and unique ids where the
reference RAISES on collision (wolfson/guys/thorn/lloyds validate).
Plan: 7 scans of column algebra; the only exchanges are the two
keep-one windows (garfield, vivensa) and the maudsley DISTINCT, each
keyed on the award id (uniform grain, 100x-safe).  No Python.

tests/test_template_fidelity.py re-derives the full expected output in
Python (reference semantics, independent of this SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# wolfson_to_s3.py:132-137 — lower-lookup, no preprocessing
_WOLFSON_ISO = {
    "uk": "GB", "united kingdom": "GB", "gb": "GB", "great britain": "GB",
    "england": "GB", "scotland": "GB", "wales": "GB",
    "northern ireland": "GB", "ireland": "IE", "usa": "US",
    "united states": "US",
}

# maudsley_to_s3.py:113-123
_MAUDSLEY_ISO = {
    "uk": "GB", "united kingdom": "GB", "gb": "GB", "great britain": "GB",
    "england": "GB", "scotland": "GB", "wales": "GB",
    "northern ireland": "GB",
}

# lloyds_register_to_s3.py:158-175 — applied after paren/comma/'the'
# stripping and whitespace collapse
_LLOYDS_ISO = {
    "united kingdom": "GB", "great britain": "GB",
    "united kingdom of great britain and northern ireland": "GB",
    "england": "GB", "scotland": "GB", "wales": "GB",
    "northern ireland": "GB",
    "united states": "US", "united states of america": "US", "usa": "US",
    "australia": "AU", "greece": "GR", "nigeria": "NG", "kenya": "KE",
    "sweden": "SE", "singapore": "SG", "netherlands": "NL", "canada": "CA",
    "turkey": "TR", "south africa": "ZA", "new zealand": "NZ", "china": "CN",
    "malta": "MT", "finland": "FI", "switzerland": "CH", "italy": "IT",
    "germany": "DE", "malaysia": "MY", "india": "IN", "belgium": "BE",
    "indonesia": "ID", "denmark": "DK", "philippines": "PH", "norway": "NO",
    "pakistan": "PK", "russian federation": "RU", "russia": "RU",
    "united arab emirates": "AE", "portugal": "PT", "ghana": "GH",
    "seychelles": "SC", "timor-leste": "TL", "botswana": "BW",
    "france": "FR", "argentina": "AR", "nepal": "NP", "japan": "JP",
    "tanzania": "TZ", "ireland": "IE", "spain": "ES", "brazil": "BR",
    "egypt": "EG", "viet nam": "VN", "vietnam": "VN", "bangladesh": "BD",
    "chile": "CL",
}

_GUYS_REGISTRY_ID = "a00P400000Lw5cqIAB"  # guys_st_thomas_to_s3.py:81
_GUYS_SOURCE_URL = ("https://gsttfoundation.org.uk/wp-content/uploads/"
                    "2024/11/Final-data-set-360-Giving-correct-29-Nov-2024"
                    ".xlsx")
_MAUDSLEY_URL = ("https://maudsleycharity.org/wp-content/uploads/2026/03/"
                 "MC-360-Giving-26-11-2025v2.xlsx")
_THORN_URLS = {
    "2021": ("https://julesthorntrust.org.uk/wp-content/uploads/2023/01/"
             "2021-Grants.xlsx"),
    "2022": ("https://julesthorntrust.org.uk/wp-content/uploads/2023/01/"
             "2022-Grants.xlsx"),
}

# ---------------------------------------------------------------------------
# fixture value generators (one synthetic workbook row per orders key)
# ---------------------------------------------------------------------------


def _k(expr: str = "o_orderkey") -> str:
    return expr


def _title_raw(salt: str) -> str:
    return f"""CASE CAST(o_orderkey % 7 AS INT)
    WHEN 0 THEN NULL
    WHEN 1 THEN 'nan'
    WHEN 2 THEN concat('Capital  works_x000D__x000D_phase ',
                       CAST(o_orderkey AS STRING))
    ELSE concat('Grant for {salt} project ', CAST(o_orderkey AS STRING))
  END"""


def _desc_raw() -> str:
    return """CASE WHEN o_orderkey % 5 = 0 THEN NULL
    ELSE concat('Supports  research_x000D_strand ',
                CAST(o_orderkey % 9 AS STRING)) END"""


def _amt_raw(expr: str = "o_orderkey") -> str:
    return f"""CASE CAST({expr} % 6 AS INT)
    WHEN 0 THEN NULL WHEN 1 THEN '0' WHEN 2 THEN '250,000'
    WHEN 3 THEN '12500.5' WHEN 4 THEN 'n/a' ELSE '78000' END"""


def _cur_raw(expr: str = "o_orderkey") -> str:
    return (f"CASE CAST({expr} % 4 AS INT) WHEN 0 THEN NULL WHEN 1 THEN "
            f"'gbp' WHEN 2 THEN 'GBP' ELSE 'usd' END")


def _award_raw(expr: str = "o_orderkey") -> str:
    return f"""CASE CAST({expr} % 5 AS INT)
    WHEN 0 THEN NULL WHEN 1 THEN '2021-05-04'
    WHEN 2 THEN '2019-11-30 00:00:00' WHEN 3 THEN 'not a date'
    ELSE concat('202', CAST({expr} % 4 AS STRING), '-02-14') END"""


def _pstart_raw(expr: str = "o_orderkey") -> str:
    return (f"CASE CAST({expr} % 3 AS INT) WHEN 0 THEN NULL "
            f"WHEN 1 THEN '2022-01-15' ELSE 'bad' END")


def _pend_raw(expr: str = "o_orderkey") -> str:
    return (f"CASE CAST({expr} % 3 AS INT) WHEN 0 THEN '2024-06-30' "
            f"WHEN 1 THEN NULL ELSE '2025-01-01' END")


def _dur_raw(expr: str = "o_orderkey") -> str:
    return (f"CASE CAST({expr} % 4 AS INT) WHEN 0 THEN NULL "
            f"WHEN 1 THEN '36 months' WHEN 2 THEN '24' ELSE 'n/a' END")


def _country_raw(expr: str = "o_orderkey") -> str:
    return f"""CASE CAST({expr} % 7 AS INT)
    WHEN 0 THEN NULL WHEN 1 THEN 'United Kingdom'
    WHEN 2 THEN 'Korea (Republic of)' WHEN 3 THEN 'US'
    WHEN 4 THEN 'london' WHEN 5 THEN 'Scotland'
    ELSE 'United States of America' END"""


def _org_raw(expr: str = "o_orderkey") -> str:
    return f"concat('Organisation ', CAST({expr} % 300 AS STRING))"


def _prog_raw(expr: str = "o_orderkey") -> str:
    return (f"CASE WHEN {expr} % 3 = 0 THEN NULL ELSE "
            f"concat('Programme ', CAST({expr} % 5 AS STRING)) END")


# ---------------------------------------------------------------------------
# dialect-aware rule helpers
# ---------------------------------------------------------------------------


_COLS = (
    "member, funder_award_id, source_identifier, title, description, "
    "amount, amount_raw, currency, award_date, start_date, end_date, "
    "start_year, end_year, duration_months, grant_programme, "
    "grant_programme_url, recipient_org, recipient_org_identifier, "
    "recipient_city, recipient_country, recipient_country_iso, "
    "recipient_charity_number, recipient_street_address, line_no, "
    "financial_reference, funding_org, funding_org_identifier, "
    "source_year, registry_identifier, source_workbook_url"
)


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, iso = k.g, k.S, k.cs, k.iso

    def cw(x: str, extra_na: str = "") -> str:
        """Workbook clean_text (garfield_weston_to_s3.py:185-196)."""
        nulls = "'', 'nan', 'none'" + extra_na
        chain = f"replace({x}, '_x000D_', chr(10))"
        chain = f"regexp_replace({chain}, '[ \\\\t]*\\\\n[ \\\\t]*', chr(10){g})"
        chain = f"regexp_replace({chain}, '\\\\n{{2,}}', chr(10){g})"
        chain = f"regexp_replace({chain}, '[ \\\\t]{{2,}}', ' '{g})"
        return (f"CASE WHEN {x} IS NULL OR lower(trim({x})) IN ({nulls}) "
                f"THEN NULL ELSE nullif(trim({chain}), '') END")

    def amt_num(x: str) -> str:
        """parse_amount: comma-strip float, >0 else NULL."""
        v = f"try_cast(replace({x}, ',', '') AS DOUBLE)"
        return f"CASE WHEN {v} > 0 THEN {v} END"

    def amt_str(x: str) -> str:
        return f"CAST({amt_num(x)} AS {S})"

    def yr(iso_expr: str) -> str:
        return f"substr({iso_expr}, 1, 4)"

    def pint(x: str) -> str:
        """parse_int: first digit run, int-rendered."""
        d = f"nullif(regexp_extract(coalesce({x}, ''), '\\\\d+', 0), '')"
        return f"CAST(CAST({d} AS INT) AS {S})"

    def in_map(expr: str, table: dict) -> str:
        whens = " ".join(
            f"WHEN '{key}' THEN '{iso2}'" for key, iso2 in table.items()
        )
        return f"CASE {expr} {whens} END"

    def upper_iff(cur: str, amount: str) -> str:
        return (f"CASE WHEN {amount} IS NOT NULL AND {cur} IS NOT NULL "
                f"THEN upper({cur}) END")

    # --- garfield_weston ---------------------------------------------------
    gw_amt = amt_num("gw.amt_raw")
    gw_award = iso("gw.award_raw")
    gw = f"""
gw_raw AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 23 = 0 THEN NULL
         ELSE concat('GW-', {cs('o_orderkey % 997')}) END AS ident,
    {_title_raw('weston')} AS title_raw,
    {_desc_raw()} AS desc_raw,
    {_amt_raw()} AS amt_raw,
    {_award_raw()} AS award_raw,
    {_prog_raw()} AS prog_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
         ELSE concat('CHY', {cs('o_orderkey % 9000')}) END AS charity_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
         ELSE 'Garfield Weston Foundation' END AS fund_raw,
    {_org_raw()} AS org_raw,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN NULL WHEN 1 THEN '2024-01-05'
      WHEN 2 THEN '2025-03-10' ELSE '2023-07-01' END AS mod_raw
  FROM orders
),
gw_latest AS (
  -- latest Last-modified snapshot per Identifier; pandas sort_values
  -- puts NaT last with keep='last', so NULL-modified outranks dated,
  -- ties keep the later workbook position (garfield:250-261)
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY ident
        ORDER BY (try_cast(mod_raw AS TIMESTAMP) IS NULL) DESC,
                 try_cast(mod_raw AS TIMESTAMP) DESC, k DESC) AS rn
    FROM gw_raw WHERE ident IS NOT NULL
  ) WHERE rn = 1
),
gw_out AS (
  SELECT 'garfield_weston' AS member, gw.ident AS funder_award_id,
    gw.ident AS source_identifier,
    {cw('gw.title_raw')} AS title, {cw('gw.desc_raw')} AS description,
    {amt_str('gw.amt_raw')} AS amount, {cw('gw.amt_raw')} AS amount_raw,
    CASE WHEN {gw_amt} IS NOT NULL THEN 'GBP' END AS currency,
    {gw_award} AS award_date, {gw_award} AS start_date,
    CAST(NULL AS {S}) AS end_date,
    {yr(gw_award)} AS start_year, CAST(NULL AS {S}) AS end_year,
    CAST(NULL AS {S}) AS duration_months,
    {cw('gw.prog_raw')} AS grant_programme,
    CAST(NULL AS {S}) AS grant_programme_url,
    {cw('gw.org_raw')} AS recipient_org,
    CAST(NULL AS {S}) AS recipient_org_identifier,
    CAST(NULL AS {S}) AS recipient_city,
    CAST(NULL AS {S}) AS recipient_country,
    CAST(NULL AS {S}) AS recipient_country_iso,
    {cw('gw.charity_raw')} AS recipient_charity_number,
    CAST(NULL AS {S}) AS recipient_street_address,
    CAST(NULL AS {S}) AS line_no, CAST(NULL AS {S}) AS financial_reference,
    coalesce({cw('gw.fund_raw')}, 'Garfield Weston Foundation')
      AS funding_org,
    CAST(NULL AS {S}) AS funding_org_identifier,
    CAST(NULL AS {S}) AS source_year,
    CAST(NULL AS {S}) AS registry_identifier,
    CAST(NULL AS {S}) AS source_workbook_url
  FROM gw_latest gw
)"""

    # --- lloyds_register ---------------------------------------------------
    lr_amt = amt_num("lr.amt_raw")
    lr_award = iso("lr.award_raw")
    lr_pstart = iso("lr.pstart_raw")
    lr_pend = iso("lr.pend_raw")
    lr_start = f"coalesce({lr_pstart}, {lr_award})"
    # country_iso preprocessing (lloyds:178-195): drop parentheticals,
    # commas to spaces, the-word out, whitespace collapse, lower
    lr_cnorm = ("lower(trim(regexp_replace(regexp_replace(regexp_replace("
                "regexp_replace(lr.country_raw, '\\\\(.*?\\\\)', ' '" + g +
                "), ',', ' '" + g + "), '(?i)\\\\bthe\\\\b', ' '" + g +
                "), '\\\\s+', ' '" + g + ")))")
    lr_iso = (f"CASE WHEN lr.country_raw IS NULL "
              f"OR lower(trim(lr.country_raw)) IN ('', 'nan', 'none') "
              f"THEN NULL "
              f"WHEN {in_map(lr_cnorm, _LLOYDS_ISO)} IS NOT NULL "
              f"THEN {in_map(lr_cnorm, _LLOYDS_ISO)} "
              f"WHEN {lr_cnorm} LIKE '%korea%' AND ({lr_cnorm} LIKE "
              f"'%republic%' OR {lr_cnorm} LIKE '%south%') THEN 'KR' END")
    lr = f"""
lr_raw AS (
  SELECT o_orderkey AS k,
    concat('360G-LloydsRegisterFdn-', {cs('o_orderkey')}) AS ident,
    {_title_raw('lrf')} AS title_raw,
    {_desc_raw()} AS desc_raw,
    {_amt_raw()} AS amt_raw,
    {_award_raw()} AS award_raw,
    {_pstart_raw()} AS pstart_raw,
    {_pend_raw()} AS pend_raw,
    {_dur_raw()} AS dur_raw,
    {_country_raw()} AS country_raw,
    CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN concat('City ', {cs('o_orderkey % 50')})
      ELSE 'London' END AS city_raw,
    {_org_raw()} AS org_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
         ELSE concat('Lloyd', '''', 's Register Foundation') END AS fund_raw
  FROM orders
),
lr_out AS (
  SELECT 'lloyds_register' AS member, lr.ident AS funder_award_id,
    lr.ident AS source_identifier,
    {cw('lr.title_raw')} AS title, {cw('lr.desc_raw')} AS description,
    {amt_str('lr.amt_raw')} AS amount, {cw('lr.amt_raw')} AS amount_raw,
    CASE WHEN {lr_amt} IS NOT NULL THEN 'GBP' END AS currency,
    {lr_award} AS award_date, {lr_start} AS start_date,
    {lr_pend} AS end_date,
    {yr(lr_start)} AS start_year, {yr(lr_pend)} AS end_year,
    {pint('lr.dur_raw')} AS duration_months,
    CAST(NULL AS {S}) AS grant_programme,
    CAST(NULL AS {S}) AS grant_programme_url,
    {cw('lr.org_raw')} AS recipient_org,
    CAST(NULL AS {S}) AS recipient_org_identifier,
    {cw('lr.city_raw')} AS recipient_city,
    {cw('lr.country_raw')} AS recipient_country,
    {lr_iso} AS recipient_country_iso,
    CAST(NULL AS {S}) AS recipient_charity_number,
    CAST(NULL AS {S}) AS recipient_street_address,
    CAST(NULL AS {S}) AS line_no, CAST(NULL AS {S}) AS financial_reference,
    coalesce({cw('lr.fund_raw')},
             concat('Lloyd', '''', 's Register Foundation')) AS funding_org,
    CAST(NULL AS {S}) AS funding_org_identifier,
    CAST(NULL AS {S}) AS source_year,
    CAST(NULL AS {S}) AS registry_identifier,
    CAST(NULL AS {S}) AS source_workbook_url
  FROM lr_raw lr
)"""

    # --- wolfson -------------------------------------------------------------
    wf_amt = amt_num("wf.amt_raw")
    wf_award = iso("wf.award_raw")
    wf_cclean = cw("wf.country_raw")
    wf = f"""
wf_raw AS (
  SELECT o_orderkey AS k,
    concat('360G-wolfson-', {cs('o_orderkey')}) AS ident,
    {_title_raw('wolfson')} AS title_raw,
    {_desc_raw()} AS desc_raw,
    {_amt_raw()} AS amt_raw,
    {_award_raw()} AS award_raw,
    {_dur_raw()} AS dur_raw,
    {_country_raw()} AS country_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('City ', {cs('o_orderkey % 50')}) END AS city_raw,
    {_prog_raw()} AS prog_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('https://www.wolfson.org.uk/funding/',
                  {cs('o_orderkey % 5')}) END AS prog_url_raw,
    {_org_raw()} AS org_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
         ELSE 'Wolfson Foundation' END AS fund_raw
  FROM orders
),
wf_out AS (
  SELECT 'wolfson' AS member, wf.ident AS funder_award_id,
    wf.ident AS source_identifier,
    {cw('wf.title_raw')} AS title, {cw('wf.desc_raw')} AS description,
    {amt_str('wf.amt_raw')} AS amount, {cw('wf.amt_raw')} AS amount_raw,
    CASE WHEN {wf_amt} IS NOT NULL THEN 'GBP' END AS currency,
    {wf_award} AS award_date, CAST(NULL AS {S}) AS start_date,
    CAST(NULL AS {S}) AS end_date,
    {yr(wf_award)} AS start_year, CAST(NULL AS {S}) AS end_year,
    {pint('wf.dur_raw')} AS duration_months,
    {cw('wf.prog_raw')} AS grant_programme,
    wf.prog_url_raw AS grant_programme_url,
    {cw('wf.org_raw')} AS recipient_org,
    CAST(NULL AS {S}) AS recipient_org_identifier,
    {cw('wf.city_raw')} AS recipient_city,
    {cw('wf.country_raw')} AS recipient_country,
    {in_map(f'lower({wf_cclean})', _WOLFSON_ISO)} AS recipient_country_iso,
    CAST(NULL AS {S}) AS recipient_charity_number,
    CAST(NULL AS {S}) AS recipient_street_address,
    CAST(NULL AS {S}) AS line_no, CAST(NULL AS {S}) AS financial_reference,
    coalesce({cw('wf.fund_raw')}, 'Wolfson Foundation') AS funding_org,
    CAST(NULL AS {S}) AS funding_org_identifier,
    CAST(NULL AS {S}) AS source_year,
    CAST(NULL AS {S}) AS registry_identifier,
    CAST(NULL AS {S}) AS source_workbook_url
  FROM wf_raw wf
)"""

    # --- maudsley ------------------------------------------------------------
    # all fields derive from j = k % 500 so duplicate Identifiers are
    # EXACT duplicates (conflicting dups raise in the reference);
    # dedup therefore = DISTINCT
    mc_rep = "regexp_replace(trim(mc.ident_raw), '\\\\s+', '-'" + g + ")"
    mc_fid = (f"CASE WHEN lower({mc_rep}) LIKE '360g-%' THEN {mc_rep} "
              f"ELSE concat('360G-maudsley-', {mc_rep}) END")
    mc_amt = amt_num("mc.amt_raw")
    mc_award = iso("mc.award_raw")
    mc_pstart = iso("mc.pstart_raw")
    mc_pend = iso("mc.pend_raw")
    mc_start = f"coalesce({mc_pstart}, {mc_award})"
    mc_cclean = cw("mc.country_raw", ", '<na>'")
    mc = f"""
mc_raw AS (
  SELECT DISTINCT
    CASE WHEN (o_orderkey % 500) % 23 = 0 THEN NULL
      WHEN (o_orderkey % 500) % 10 = 0
        THEN concat('360G-MC-', {cs('o_orderkey % 500')})
      ELSE concat('MC ', {cs('o_orderkey % 500')}) END AS ident_raw,
    {_title_raw('maudsley').replace('o_orderkey', '(o_orderkey % 500)')}
      AS title_raw,
    {_desc_raw().replace('o_orderkey', '(o_orderkey % 500)')} AS desc_raw,
    {_amt_raw('(o_orderkey % 500)')} AS amt_raw,
    {_cur_raw('(o_orderkey % 500)')} AS cur_raw,
    {_award_raw('(o_orderkey % 500)')} AS award_raw,
    {_pstart_raw('(o_orderkey % 500)')} AS pstart_raw,
    {_pend_raw('(o_orderkey % 500)')} AS pend_raw,
    {_dur_raw('(o_orderkey % 500)')} AS dur_raw,
    {_country_raw('(o_orderkey % 500)')} AS country_raw,
    {_org_raw('(o_orderkey % 500)')} AS org_raw,
    CASE WHEN (o_orderkey % 500) % 2 = 0 THEN NULL
      ELSE concat('GB-CHC-1', {cs('o_orderkey % 500')}) END AS orgid_raw,
    CASE WHEN (o_orderkey % 500) % 4 = 0 THEN NULL
      ELSE concat('City ', {cs('(o_orderkey % 500) % 50')}) END AS city_raw,
    {_prog_raw('(o_orderkey % 500)')} AS prog_raw,
    CASE WHEN (o_orderkey % 500) % 3 = 0 THEN NULL
      ELSE '360G-maudsley' END AS fundid_raw,
    CASE WHEN (o_orderkey % 500) % 3 = 0 THEN NULL
      ELSE 'Maudsley Charity' END AS fund_raw,
    CASE WHEN (o_orderkey % 500) % 2 = 0 THEN NULL
      ELSE concat('https://maudsleycharity.org/grants/',
                  {cs('o_orderkey % 500')}) END AS url_raw
  FROM orders
),
mc_out AS (
  SELECT 'maudsley' AS member, {mc_fid} AS funder_award_id,
    {cw('mc.ident_raw', ", '<na>'")} AS source_identifier,
    {cw('mc.title_raw', ", '<na>'")} AS title,
    {cw('mc.desc_raw', ", '<na>'")} AS description,
    {amt_str('mc.amt_raw')} AS amount,
    {cw('mc.amt_raw', ", '<na>'")} AS amount_raw,
    {upper_iff(cw('mc.cur_raw', ", '<na>'"), mc_amt)} AS currency,
    {mc_award} AS award_date, {mc_start} AS start_date,
    {mc_pend} AS end_date,
    {yr(mc_start)} AS start_year, {yr(mc_pend)} AS end_year,
    {cw('mc.dur_raw', ", '<na>'")} AS duration_months,
    {cw('mc.prog_raw', ", '<na>'")} AS grant_programme,
    CAST(NULL AS {S}) AS grant_programme_url,
    {cw('mc.org_raw', ", '<na>'")} AS recipient_org,
    {cw('mc.orgid_raw', ", '<na>'")} AS recipient_org_identifier,
    {cw('mc.city_raw', ", '<na>'")} AS recipient_city,
    {cw('mc.country_raw', ", '<na>'")} AS recipient_country,
    {in_map(f'lower({mc_cclean})', _MAUDSLEY_ISO)} AS recipient_country_iso,
    CAST(NULL AS {S}) AS recipient_charity_number,
    CAST(NULL AS {S}) AS recipient_street_address,
    CAST(NULL AS {S}) AS line_no, CAST(NULL AS {S}) AS financial_reference,
    coalesce({cw('mc.fund_raw', ", '<na>'")}, 'Maudsley Charity')
      AS funding_org,
    {cw('mc.fundid_raw', ", '<na>'")} AS funding_org_identifier,
    CAST(NULL AS {S}) AS source_year,
    CAST(NULL AS {S}) AS registry_identifier,
    '{_MAUDSLEY_URL}' AS source_workbook_url
  FROM mc_raw mc WHERE mc.ident_raw IS NOT NULL
)"""

    # --- sir_jules_thorn -------------------------------------------------------
    st_amt = amt_num("st.amt_raw")
    st_award = iso("st.award_raw")
    st = f"""
st_raw AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 2 = 0 THEN '2021' ELSE '2022' END AS src_year,
    concat('SJT-', {cs('o_orderkey')}) AS ident,
    {_title_raw('thorn')} AS title_raw,
    {_desc_raw()} AS desc_raw,
    {_amt_raw()} AS amt_raw,
    {_cur_raw()} AS cur_raw,
    {_award_raw()} AS award_raw,
    {_org_raw()} AS org_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('GB-COH-0', {cs('o_orderkey % 800')}) END AS orgid_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat({cs('o_orderkey % 90 + 1')}, ' High Street') END
      AS street_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE {cs('o_orderkey % 120000 + 200000')} END AS charity_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE 'Sir Jules Thorn Charitable Trust' END AS fund_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE 'GB-CHC-233838' END AS fundid_raw
  FROM orders
),
st_out AS (
  SELECT 'sir_jules_thorn' AS member, st.ident AS funder_award_id,
    st.ident AS source_identifier,
    {cw('st.title_raw')} AS title, {cw('st.desc_raw')} AS description,
    {amt_str('st.amt_raw')} AS amount, {cw('st.amt_raw')} AS amount_raw,
    {upper_iff(cw('st.cur_raw'), st_amt)} AS currency,
    {st_award} AS award_date, CAST(NULL AS {S}) AS start_date,
    CAST(NULL AS {S}) AS end_date,
    {yr(st_award)} AS start_year, CAST(NULL AS {S}) AS end_year,
    CAST(NULL AS {S}) AS duration_months,
    CAST(NULL AS {S}) AS grant_programme,
    CAST(NULL AS {S}) AS grant_programme_url,
    {cw('st.org_raw')} AS recipient_org,
    {cw('st.orgid_raw')} AS recipient_org_identifier,
    CAST(NULL AS {S}) AS recipient_city,
    CAST(NULL AS {S}) AS recipient_country,
    CAST(NULL AS {S}) AS recipient_country_iso,
    {cw('st.charity_raw')} AS recipient_charity_number,
    {cw('st.street_raw')} AS recipient_street_address,
    CAST(NULL AS {S}) AS line_no, CAST(NULL AS {S}) AS financial_reference,
    coalesce({cw('st.fund_raw')}, 'Sir Jules Thorn Charitable Trust')
      AS funding_org,
    {cw('st.fundid_raw')} AS funding_org_identifier,
    st.src_year AS source_year,
    CAST(NULL AS {S}) AS registry_identifier,
    CASE st.src_year WHEN '2021' THEN '{_THORN_URLS['2021']}'
      ELSE '{_THORN_URLS['2022']}' END AS source_workbook_url
  FROM st_raw st
)"""

    # --- guys_st_thomas ---------------------------------------------------------
    gs_amt = amt_num("gs.amt_raw")
    gs_award = iso("gs.award_raw")
    gs = f"""
gs_raw AS (
  SELECT o_orderkey AS k,
    concat('GSTT-', {cs('o_orderkey')}) AS ident,
    {_title_raw('gstt')} AS title_raw,
    {_desc_raw()} AS desc_raw,
    {_amt_raw()} AS amt_raw,
    {_cur_raw()} AS cur_raw,
    {_award_raw()} AS award_raw,
    {cs('o_orderkey % 1000')} AS line_raw,
    concat('FIN-', {cs('o_orderkey % 800')}) AS fin_raw,
    {_org_raw()} AS org_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('GB-CHC-2', {cs('o_orderkey % 700')}) END AS orgid_raw,
    {_prog_raw()} AS prog_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Guy', '''', 's and St Thomas', '''', ' Charity') END
      AS fund_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE 'GB-CHC-1160316' END AS fundid_raw
  FROM orders
),
gs_out AS (
  SELECT 'guys_st_thomas' AS member, gs.ident AS funder_award_id,
    gs.ident AS source_identifier,
    {cw('gs.title_raw')} AS title, {cw('gs.desc_raw')} AS description,
    {amt_str('gs.amt_raw')} AS amount, {cw('gs.amt_raw')} AS amount_raw,
    {upper_iff(cw('gs.cur_raw'), gs_amt)} AS currency,
    {gs_award} AS award_date, {gs_award} AS start_date,
    CAST(NULL AS {S}) AS end_date,
    {yr(gs_award)} AS start_year, CAST(NULL AS {S}) AS end_year,
    CAST(NULL AS {S}) AS duration_months,
    {cw('gs.prog_raw')} AS grant_programme,
    CAST(NULL AS {S}) AS grant_programme_url,
    {cw('gs.org_raw')} AS recipient_org,
    {cw('gs.orgid_raw')} AS recipient_org_identifier,
    CAST(NULL AS {S}) AS recipient_city,
    CAST(NULL AS {S}) AS recipient_country,
    CAST(NULL AS {S}) AS recipient_country_iso,
    CAST(NULL AS {S}) AS recipient_charity_number,
    CAST(NULL AS {S}) AS recipient_street_address,
    {cw('gs.line_raw')} AS line_no, {cw('gs.fin_raw')} AS financial_reference,
    coalesce({cw('gs.fund_raw')},
             concat('Guy', '''', 's and St Thomas', '''', ' Charity'))
      AS funding_org,
    {cw('gs.fundid_raw')} AS funding_org_identifier,
    CAST(NULL AS {S}) AS source_year,
    '{_GUYS_REGISTRY_ID}' AS registry_identifier,
    '{_GUYS_SOURCE_URL}' AS source_workbook_url
  FROM gs_raw gs
)"""

    # --- vivensa ------------------------------------------------------------------
    # COLMAP rename only: NO text cleaning; clean_amount truncates and
    # does NOT strip commas; clean_date = str[:10] unvalidated
    if dialect == "spark":
        vv_amt = ("CAST(CAST(try_cast(vv.amt_raw AS DOUBLE) AS BIGINT) "
                  "AS STRING)")
    else:
        vv_amt = ("CAST(CAST(trunc(try_cast(vv.amt_raw AS DOUBLE)) "
                  "AS BIGINT) AS VARCHAR)")
    vv = f"""
vv_raw AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 19 = 0 THEN NULL
      ELSE concat('360G-dunhillmedical-', {cs('o_orderkey % 700')}) END
      AS ident,
    {_title_raw('vivensa')} AS title_raw,
    {_desc_raw()} AS desc_raw,
    {_amt_raw()} AS amt_raw,
    {_cur_raw()} AS cur_raw,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN NULL WHEN 1 THEN '2021-05-04'
      WHEN 2 THEN '2019-11-30 00:00:00' WHEN 3 THEN 'TBC maybe 2024'
      ELSE concat('202', {cs('o_orderkey % 4')}, '-02-14') END AS award_raw,
    {_pstart_raw()} AS pstart_raw,
    {_pend_raw()} AS pend_raw,
    {_org_raw()} AS org_raw,
    {_prog_raw()} AS prog_raw
  FROM orders
),
vv_first AS (
  -- keep-first on funder_award_id (vivensa:139-142), input order = k
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY ident ORDER BY k) AS rn
    FROM vv_raw WHERE ident IS NOT NULL
  ) WHERE rn = 1
),
vv_out AS (
  SELECT 'vivensa' AS member, vv.ident AS funder_award_id,
    CAST(NULL AS {S}) AS source_identifier,
    vv.title_raw AS title, vv.desc_raw AS description,
    {vv_amt} AS amount, CAST(NULL AS {S}) AS amount_raw,
    vv.cur_raw AS currency,
    substr(vv.award_raw, 1, 10) AS award_date,
    substr(vv.pstart_raw, 1, 10) AS start_date,
    substr(vv.pend_raw, 1, 10) AS end_date,
    substr(coalesce(substr(vv.pstart_raw, 1, 10),
                    substr(vv.award_raw, 1, 10)), 1, 4) AS start_year,
    CAST(NULL AS {S}) AS end_year,
    CAST(NULL AS {S}) AS duration_months,
    vv.prog_raw AS grant_programme,
    CAST(NULL AS {S}) AS grant_programme_url,
    vv.org_raw AS recipient_org,
    CAST(NULL AS {S}) AS recipient_org_identifier,
    CAST(NULL AS {S}) AS recipient_city,
    CAST(NULL AS {S}) AS recipient_country,
    CAST(NULL AS {S}) AS recipient_country_iso,
    CAST(NULL AS {S}) AS recipient_charity_number,
    CAST(NULL AS {S}) AS recipient_street_address,
    CAST(NULL AS {S}) AS line_no, CAST(NULL AS {S}) AS financial_reference,
    CAST(NULL AS {S}) AS funding_org,
    CAST(NULL AS {S}) AS funding_org_identifier,
    CAST(NULL AS {S}) AS source_year,
    CAST(NULL AS {S}) AS registry_identifier,
    CAST(NULL AS {S}) AS source_workbook_url
  FROM vv_first vv
)"""

    return f"""
WITH {gw},{lr},{wf},{mc},{st},{gs},{vv}
SELECT {_COLS} FROM gw_out
UNION ALL SELECT {_COLS} FROM lr_out
UNION ALL SELECT {_COLS} FROM wf_out
UNION ALL SELECT {_COLS} FROM mc_out
UNION ALL SELECT {_COLS} FROM st_out
UNION ALL SELECT {_COLS} FROM gs_out
UNION ALL SELECT {_COLS} FROM vv_out
"""


@register(
    "threesixty_simple_parse",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("360Giving workbook-parse family, simple column-map publishers "
         "(scripts/local/{garfield_weston,lloyds_register,wolfson,"
         "maudsley,sir_jules_thorn,guys_st_thomas,vivensa}_to_s3.py)"),
    spread=("orders",),
)
def threesixty_simple_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seven 360Giving publishers in one union plan (module docstring
    has the per-member semantics map).  Column algebra + two keep-one
    windows + one DISTINCT, all keyed on the award id."""
    return spark.sql(sqlkit.build(_sql, "spark"))
