"""Potter Foundation dual-arm grants parse
(scripts/local/potter_foundation_to_s3.py — 737 LoC, the largest
remaining unported single).

The reference combines the publisher's official 360Giving workbook
(2013-2024 grants) with the legacy year-by-year HTML tables on the
grant-recipients page (2000-2012).  The stdlib XLSX reader
(:263-306) and the BeautifulSoup table walk (:415-440 header/cell
extraction, incl. the len(cells)<6 row-geometry skip) are the seam;
everything downstream of "a workbook record" / "a table row's six
cells" ports:

**Shared helpers** (:185-260):
* ``clean_text``: NBSP to space, all-whitespace collapse (the Arcadia
  cleaner, not the workbook family's);
* ``slugify(value, max_len)``: lower, non-alnum runs to '-', strip,
  CUT to max_len, strip again, 'unknown' fallback;
* ``short_hash``: sha1 of the '|'-joined stringified inputs, first 10
  hex chars — DEVIATION: this port uses sha256[:10] in both engines
  because the DuckDB oracle has no sha1 function; every other id
  component is byte-faithful and the digest keeps the same
  uniqueness/determinism role;
* ``normalize_country``: the 16-entry lower-map, else a bare [A-Z]{2}
  passes through, else NULL (never guessed);
* ``parse_amount`` -> STRING: first ``-?[0-9][0-9,]*(\\.[0-9]+)?``
  run, commas stripped, a trailing '.0' dropped;
* ``parse_date``: an all-digits(.0) cell is an Excel serial when in
  (20000, 60000) — epoch 1899-12-30 — else pandas-coerce to ISO.

**Workbook arm** (:344-413): funder_award_id = 'potter-' +
lower(Identifier); ``make_display_name`` — '{recipient}: {title}' when
titled, else 'Grant to {recipient} ({year})', else no year form;
currency = cleaned Currency else 'GBP', shipped only with an amount;
award_year = award_date[:4]; duration via the parse_amount render; the
Identifier/Recipient non-null gate is validation the fixture satisfies.

**Legacy HTML arm** (:415-483): tables whose header year >= 2013 are
skipped (the workbook owns them); a row ships only when the row-number
cell contains a digit and the recipient is non-blank and not 'total';
award_id = 'potter-html-{year}-{int(float(row_no)):03d}-{slug36}-{hash10}'
with the :03d zero-pad and the 36-char slug cut; region maps through
``normalize_country`` into BOTH recipient and beneficiary country;
category is the programme title; currency 'GBP' only with an amount.

Runtime-only fields (``downloaded_at``) are not ported; the
``source_sort_key``/``source_row_number`` index fields ride the fixture
key (the XLSX/DOM readers supply physical row positions — the fixture
carries o_orderkey as that position).

Fixture: one workbook record AND one legacy table row per orders key.
Plan: two scan arms unioned, pure column algebra, no hash shuffle
(each scan sits under one round-robin spread exchange).

tests/test_template_fidelity.py re-derives both arms in Python
(with the sha256 deviation applied there too, so the digest inputs and
every other component are still independently checked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_PAGE = "https://www.potterfoundation.com/grant_recipients.html"
_WORKBOOK = ("https://www.potterfoundation.com/downloads/"
             "360giving_Potter_Foundation_data_2013-2024.xlsx")

# potter_foundation_to_s3.py:122-140
_COUNTRY = {
    "austria": "AT", "burkina faso": "BF", "canada": "CA", "gb": "GB",
    "ghana": "GH", "israel": "IL", "norway": "NO", "pakistan": "PK",
    "south africa": "ZA", "swaziland": "SZ", "switzerland": "CH",
    "uk": "GB", "united kingdom": "GB", "us": "US", "usa": "US",
}


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, clean_ws, fmt, iso = k.g, k.S, k.cs, k.clean_ws, k.fmt, k.iso
    trunc_int = k.trunc_int

    def slugify(x: str, max_len: int) -> str:
        s = (f"regexp_replace(lower(coalesce({clean_ws(x)}, 'unknown')), "
             f"'[^a-z0-9]+', '-'{g})")
        s = f"substr(trim(BOTH '-' FROM {s}), 1, {max_len})"
        return f"coalesce(nullif(trim(BOTH '-' FROM {s}), ''), 'unknown')"

    def amt_str(x: str) -> str:
        """parse_amount -> STRING (potter:220-230)."""
        m = (f"nullif(regexp_extract(coalesce({clean_ws(x)}, ''), "
             f"'-?[0-9][0-9,]*(\\\\.[0-9]+)?', 0), '')")
        m = f"replace({m}, ',', '')"
        return (f"CASE WHEN {m} LIKE '%.0' "
                f"THEN substr({m}, 1, length({m}) - 2) ELSE {m} END")

    def country(x: str) -> str:
        c = clean_ws(x)
        whens = " ".join(f"WHEN '{k}' THEN '{v}'"
                         for k, v in _COUNTRY.items())
        mapped = f"CASE lower({c}) {whens} END"
        bare = (f"CASE WHEN {c} RLIKE '^[A-Z]{{2}}$' THEN {c} END"
                if dialect == "spark" else
                f"CASE WHEN regexp_matches({c}, '^[A-Z]{{2}}$') "
                f"AND length({c}) = 2 THEN {c} END")
        return f"coalesce({mapped}, {bare})"

    def parse_date(x: str) -> str:
        """Excel serial in (20000, 60000) else pandas-coerce."""
        c = clean_ws(x)
        is_serial = (f"{c} RLIKE '^[0-9]+(\\\\.0+)?$'" if dialect == "spark"
                     else f"regexp_matches({c}, '^[0-9]+(\\\\.0+)?$')")
        n = f"try_cast({c} AS DOUBLE)"
        serial = (f"CASE WHEN {n} > 20000 AND {n} < 60000 "
                  f"THEN {datefmt(date_add(n))} END")
        return (f"CASE WHEN {c} IS NULL THEN NULL "
                f"WHEN {is_serial} AND {serial} IS NOT NULL THEN {serial} "
                f"ELSE {iso(c)} END")

    def date_add(days: str) -> str:
        if dialect == "spark":
            return f"date_add(DATE '1899-12-30', CAST({days} AS INT))"
        return f"(DATE '1899-12-30' + CAST(trunc({days}) AS INT))"

    def datefmt(d: str) -> str:
        if dialect == "spark":
            return f"date_format({d}, 'yyyy-MM-dd')"
        return f"strftime({d}, '%Y-%m-%d')"

    # ---- workbook arm ------------------------------------------------
    wb_award = parse_date("wb.adate_raw")
    wb_amt = amt_str("wb.amt_raw")
    wb_year = f"substr({wb_award}, 1, 4)"
    wb_title = clean_ws("wb.title_raw")
    wb_recip = clean_ws("wb.recip_raw")
    wb_display = (f"CASE WHEN {wb_title} IS NOT NULL "
                  f"THEN concat({wb_recip}, ': ', {wb_title}) "
                  f"WHEN {wb_year} IS NOT NULL "
                  f"THEN concat('Grant to ', {wb_recip}, ' (', {wb_year}, "
                  f"')') ELSE concat('Grant to ', {wb_recip}) END")

    # ---- html arm ------------------------------------------------------
    ht_amt = amt_str("ht.amt_raw")
    ht_rowno = f"{trunc_int('try_cast(ht.rowno_raw AS DOUBLE)')}"
    # short_hash inputs are the CLEANED cells (potter:425-444 cleans
    # every cell before the gates run)
    ht_hash_body = (f"concat_ws('|', {cs('ht.year')}, ht.rowno_raw, "
                    f"{clean_ws('ht.recip_raw')}, coalesce({ht_amt}, ''), "
                    f"coalesce({clean_ws('ht.region_raw')}, ''), "
                    f"coalesce({clean_ws('ht.cat_raw')}, ''))")
    ht_hash = (f"substr(sha2({ht_hash_body}, 256), 1, 10)"
               if dialect == "spark" else
               f"substr(sha256({ht_hash_body}), 1, 10)")
    ht_id = (f"concat('potter-html-', {cs('ht.year')}, '-', "
             f"{fmt}('%03d', {ht_rowno}), '-', "
             f"{slugify('ht.recip_raw', 36)}, '-', {ht_hash})")
    ht_country = country("ht.region_raw")

    return f"""
WITH wb AS (
  SELECT o_orderkey AS k,
    concat('360G-Potter-', {cs('o_orderkey')}) AS ident,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE concat('Scholarship  programme ', {cs('o_orderkey % 9')}) END
      AS title_raw,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('Supports civil society strand ',
                  {cs('o_orderkey % 6')}) END AS desc_raw,
    concat('Organisation', chr(160), {cs('o_orderkey % 300')}) AS recip_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('GB-CHC-4', {cs('o_orderkey % 600')}) END AS orgid_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE {cs('o_orderkey % 120000 + 400000')} END AS charity_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE 'London' END AS city_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('N', {cs('o_orderkey % 20')}, ' 9GU') END AS postal_raw,
    CASE CAST(o_orderkey % 5 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN 'United Kingdom' WHEN 2 THEN 'ZA'
      WHEN 3 THEN 'Swaziland' ELSE 'Somewhere' END AS cntry_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'London' END AS benefn_raw,
    CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN NULL WHEN 1 THEN 'GB'
      WHEN 2 THEN 'usa' ELSE 'xx' END AS benefc_raw,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN NULL WHEN 1 THEN '£250,000' WHEN 2 THEN '12500.5'
      WHEN 3 THEN 'tbc' WHEN 4 THEN '9800.0' ELSE '-500' END AS amt_raw,
    CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN NULL WHEN 1 THEN 'GBP'
      ELSE 'usd' END AS cur_raw,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN NULL WHEN 1 THEN '2021-05-04' WHEN 2 THEN '44562.0'
      WHEN 3 THEN 'not a date' ELSE '99999.0' END AS adate_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE '36.0' END AS dur_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('PRG', {cs('o_orderkey % 4')}) END AS progc_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Programme ', {cs('o_orderkey % 4')}) END AS progt_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN 'Yes' END AS opencall_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE '2025-01-31' END AS mod_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE 'GB-CHC-1078217' END AS fundid_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE 'The David and Elaine Potter Foundation' END AS fund_raw
  FROM orders
),
wb_out AS (
  SELECT
    concat('potter-', lower(wb.ident)) AS funder_award_id,
    wb.ident AS source_record_id,
    '360giving_workbook' AS source_record_type,
    {wb_display} AS display_name,
    {clean_ws('wb.desc_raw')} AS description,
    {wb_title} AS title,
    {wb_recip} AS recipient_name,
    {clean_ws('wb.orgid_raw')} AS recipient_org_identifier,
    {clean_ws('wb.charity_raw')} AS recipient_charity_number,
    {clean_ws('wb.city_raw')} AS recipient_city,
    {clean_ws('wb.postal_raw')} AS recipient_postal_code,
    {country('wb.cntry_raw')} AS recipient_country,
    {clean_ws('wb.cntry_raw')} AS recipient_country_raw,
    {clean_ws('wb.benefn_raw')} AS beneficiary_location_name,
    {country('wb.benefc_raw')} AS beneficiary_country,
    {clean_ws('wb.benefc_raw')} AS beneficiary_country_raw,
    {wb_amt} AS amount,
    CASE WHEN {wb_amt} IS NOT NULL
         THEN coalesce({clean_ws('wb.cur_raw')}, 'GBP') END AS currency,
    {wb_award} AS award_date,
    {wb_year} AS award_year,
    {amt_str('wb.dur_raw')} AS duration_months,
    {clean_ws('wb.progc_raw')} AS program_code,
    {clean_ws('wb.progt_raw')} AS program_title,
    wb.opencall_raw AS from_open_call,
    {clean_ws('wb.fundid_raw')} AS funding_org_identifier,
    {clean_ws('wb.fund_raw')} AS funding_org_name,
    {parse_date('wb.mod_raw')} AS last_modified,
    {cs('wb.k')} AS source_row_number,
    concat('workbook-', {cs('wb.k')}) AS source_sort_key,
    '{_PAGE}' AS landing_page_url,
    '{_WORKBOOK}' AS source_url
  FROM wb
),
ht AS (
  SELECT o_orderkey AS k,
    CAST(2005 + o_orderkey % 8 AS INT) AS year,
    CASE CAST(o_orderkey % 7 AS INT)
      WHEN 0 THEN '—' WHEN 1 THEN concat({cs('o_orderkey')}, '.0')
      ELSE {cs('o_orderkey')} END AS rowno_raw,
    CASE CAST(o_orderkey % 11 AS INT)
      WHEN 0 THEN NULL WHEN 1 THEN 'Total'
      WHEN 2 THEN concat('St  Mary', '''', 's College ',
                         {cs('o_orderkey % 200')})
      ELSE concat('Organisation ', {cs('o_orderkey % 200')}) END
      AS recip_raw,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN NULL WHEN 1 THEN '£25,000' WHEN 2 THEN '40000.0'
      WHEN 3 THEN 'n/a' ELSE {cs('(o_orderkey % 90 + 10)')} END AS amt_raw,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN NULL WHEN 1 THEN 'UK' WHEN 2 THEN 'South Africa'
      WHEN 3 THEN 'London' WHEN 4 THEN 'US' ELSE 'Ghana' END AS region_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Category ', {cs('o_orderkey % 5')}) END AS cat_raw
  FROM orders
),
ht_valid AS (
  SELECT * FROM ht
  WHERE rowno_raw IS NOT NULL
    AND {('rowno_raw RLIKE ' if dialect == 'spark' else
          'regexp_matches(rowno_raw, ') + chr(39) + '[0-9]' + chr(39)
          + ('' if dialect == 'spark' else ')')}
    AND {clean_ws('recip_raw')} IS NOT NULL
    AND lower({clean_ws('recip_raw')}) <> 'total'
),
ht_out AS (
  SELECT
    {ht_id} AS funder_award_id,
    concat('html-', {cs('ht.year')}, '-', {fmt}('%03d', {ht_rowno}))
      AS source_record_id,
    'html_table' AS source_record_type,
    concat('Grant to ', {clean_ws('ht.recip_raw')}, ' (', {cs('ht.year')},
           ')') AS display_name,
    CAST(NULL AS {S}) AS description,
    CAST(NULL AS {S}) AS title,
    {clean_ws('ht.recip_raw')} AS recipient_name,
    CAST(NULL AS {S}) AS recipient_org_identifier,
    CAST(NULL AS {S}) AS recipient_charity_number,
    CAST(NULL AS {S}) AS recipient_city,
    CAST(NULL AS {S}) AS recipient_postal_code,
    {ht_country} AS recipient_country,
    {clean_ws('ht.region_raw')} AS recipient_country_raw,
    {clean_ws('ht.region_raw')} AS beneficiary_location_name,
    {ht_country} AS beneficiary_country,
    {clean_ws('ht.region_raw')} AS beneficiary_country_raw,
    {ht_amt} AS amount,
    CASE WHEN {ht_amt} IS NOT NULL THEN 'GBP' END AS currency,
    CAST(NULL AS {S}) AS award_date,
    {cs('ht.year')} AS award_year,
    CAST(NULL AS {S}) AS duration_months,
    CAST(NULL AS {S}) AS program_code,
    {clean_ws('ht.cat_raw')} AS program_title,
    CAST(NULL AS {S}) AS from_open_call,
    CAST(NULL AS {S}) AS funding_org_identifier,
    'David and Elaine Potter Foundation' AS funding_org_name,
    CAST(NULL AS {S}) AS last_modified,
    {cs('ht.k')} AS source_row_number,
    concat('html-', {cs('ht.k')}) AS source_sort_key,
    '{_PAGE}' AS landing_page_url,
    '{_PAGE}' AS source_url
  FROM ht_valid ht
)
SELECT * FROM wb_out
UNION ALL SELECT * FROM ht_out
"""


@register(
    "potter_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Potter Foundation dual-arm grants parse "
         "(scripts/local/potter_foundation_to_s3.py)"),
    spread=("orders",),
)
def potter_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potter workbook + legacy-HTML arms in one union plan (module
    docstring has the semantics map; note the documented sha1->sha256
    digest deviation).  Two scan arms, each under one round-robin
    spread exchange, no hash shuffle, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
