"""WordPress/FacetWP card-parse family
(scripts/local/{gulbenkian,velux_stiftung,hewlett,templeton,
brain_tumour_charity}_to_s3.py — 5 scripts, the WP card skeleton;
the hewlett arm's semantics map lives on its inline comment block in
:func:`_sql`).

Both ingests pull a WP custom-post list (HTTP/pagination = seam) and
normalize the rendered fields.  Ported compute:

* shared ``strip_html`` (gulbenkian:193-200 / velux:208-215): tags to
  spaces, entity unescape, whitespace collapse;
* **gulbenkian** (:203-335): the Portuguese amount grammar — '€'/'EUR'
  stripped, a value with BOTH '.' and ',' drops the dots and promotes
  the comma to the decimal point, a comma-only value promotes the
  comma, a dot-only value keeps the dot as a decimal only when ≤2
  digits trail it (else thousands), sub-1 values refused;
  ``parse_year`` takes an all-digits 1900-2030 value else the first
  19xx/20[0-3]x token; start_year falls back to the post date's year;
  description = excerpt else content[:5000]; content ships cut at
  8000; id 'gulbenkian-{slug}-{project_id}' (the id disambiguates
  repeated slugs); EUR iff amount;
* **velux_stiftung** (:218-317): the detail page's
  'Funding amount: CHF …' capture with the Swiss ``1'500'000`` quote
  separators (quotes and commas stripped, a '.' kept as decimal only
  with ≤2 trailing digits); the '2019 - 2023' period pair;
  projects_type taxonomy names ' / '-joined; description =
  content[:5000]; id 'velux-stiftung-{slug}'; CHF iff amount.

Both stringify every column (amounts render as str(float)).  Plan: 2
scan arms, pure column algebra behind a Generate barrier each, no
shuffle (ids unique by construction).  No Python.

tests/test_template_fidelity.py re-derives both members.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register


# brain_tumour_charity_to_s3.py:47-52 — label (colon stripped,
# lowercased) -> field; both researcher spellings hit pi_raw
BTC_LABELS = {
    "title": "detail_title",
    "lead researcher": "pi_raw", "lead researchers": "pi_raw",
    "where": "institution", "when": "when", "cost": "cost_raw",
    "research type": "research_type",
}
BTC_TITLE_RE = ("(?i)^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)"
                "\\\\.?\\\\s+")


def _btc_arm(dialect: str) -> str:
    """The Brain Tumour Charity research-projects arm
    (scripts/local/brain_tumour_charity_to_s3.py, round 12).

    The WP REST list + per-project detail fetch and the BeautifulSoup
    DOM-to-lines step (:93-97) are the seam — the fixture delivers the
    detail page as an ordered line array (tiny-funder precedent) plus
    the REST record (id, slug, link, rendered title).  Ported compute:

    * the label-line walk (:97-110): per field, the FIRST line whose
      pre-colon key (lowered, ':'-stripped) is one of the field's
      labels AND resolves a non-empty value — same-line text after the
      first ':', else the NEXT line when that line is not itself a
      label — with the leading ``[:\\-–—•·]`` punctuation strip;
    * ``parse_pi`` (:58-66): first ``;|,| and |&|/`` segment, ONE
      leading title strip, <2 tokens -> family-only;
    * ``parse_cost`` (:69-82): commas stripped FIRST, the
      ``£\\s*(\\d+(\\.\\d+)?)\\s*(million|m\\b|k\\b)?`` capture,
      million/m x1e6, k x1e3, ``str(int())`` TRUNCATION (Spark CAST
      truncates; the DuckDB side wraps trunc() — the catalog's
      standing dialect shim);
    * ``mon_year`` (:85-90) + the When range split (:113-118): the
      3-letter month prefix to ``YYYY-MM-01`` else the bare-year
      ``YYYY-01-01`` fallback, range end-year;
    * the short-Title guard (:124-127): a detail Title under 4 chars
      falls back to the REST title (the Tessa Jowell row);
    * id 'tbtc-{wp id else slug}' (:139); the detail-fetch failure arm
      ships title/link only (:134-136).  No currency column exists in
      the reference output — none is invented."""
    sp = dialect == "spark"
    k = sqlkit.kit(dialect)
    g, S, cs, bar, nullcols = k.g, k.S, k.cs, k.bar, k.nullcols
    asize, elem, idx_of, jn = k.asize, k.elem, k.idx_of, k.jn
    labels_all = ", ".join(f"'{k}'" for k in BTC_LABELS)

    def lab(field: str) -> str:
        return ", ".join(f"'{k}'" for k, v in BTC_LABELS.items()
                         if v == field)

    splitre = ("split(pi_first_src, ';|,| and |&|/')" if sp
               else "regexp_split_to_array(pi_first_src, ';|,| and |&|/')")

    # pre-colon label key of a line
    def lk(t: str) -> str:
        return (f"lower(trim(trim(TRAILING ':' FROM "
                f"split_part({t}, ':', 1))))")

    # resolved value of line t with successor nxt (:100-108)
    def val(t: str, nxt: str) -> str:
        same = (f"CASE WHEN instr({t}, ':') > 0 THEN "
                f"trim(substr({t}, instr({t}, ':') + 1)) ELSE '' END")
        nxt_ok = (f"CASE WHEN {nxt} IS NOT NULL AND "
                  f"{lk(nxt)} NOT IN ({labels_all}) "
                  f"THEN trim({nxt}) ELSE '' END")
        raw = f"CASE WHEN ({same}) <> '' THEN {same} ELSE {nxt_ok} END"
        return (f"trim(regexp_replace({raw}, "
                f"'^[:\\\\-–—•·]\\\\s*', ''{g}))")

    def field_idx(field: str) -> str:
        cond = (f"{lk('t')} IN ({lab(field)}) AND "
                + val("t", elem("lines", "i + 1")) + " <> ''")
        return f"CASE WHEN detail_ok THEN {idx_of('lines', cond)} END"

    def field_from_idx(i: str) -> str:
        v = val(elem("lines", f"({i})"), elem("lines", f"({i}) + 1"))
        return f"CASE WHEN {i} IS NOT NULL THEN nullif({v}, '') END"

    # parse_cost (commas stripped first; truncating int)
    cost_num = ("try_cast(regexp_extract(replace(cost_raw, ',', ''), "
                "'(?i)£\\\\s*(\\\\d+(?:\\\\.\\\\d+)?)"
                "\\\\s*(million|m\\\\b|k\\\\b)?', 1) AS DOUBLE)")
    cost_suf = ("lower(regexp_extract(replace(cost_raw, ',', ''), "
                "'(?i)£\\\\s*(\\\\d+(?:\\\\.\\\\d+)?)"
                "\\\\s*(million|m\\\\b|k\\\\b)?', 2))")
    cost_val = (f"CASE WHEN {cost_suf} LIKE 'm%' THEN ({cost_num}) * "
                f"1000000 WHEN {cost_suf} = 'k' THEN ({cost_num}) * "
                f"1000 ELSE {cost_num} END")
    cost_big = (f"CAST({cost_val} AS BIGINT)" if sp
                else f"CAST(trunc({cost_val}) AS BIGINT)")

    # mon_year over a token expr
    months = "'JanFebMarAprMayJunJulAugSepOctNovDec'"

    def mon_year(tok: str, part: str) -> str:
        mon = (f"nullif(regexp_extract(trim({tok}), "
               f"'^([A-Za-z]{{3}})[a-z]*\\\\s+(\\\\d{{4}})', 1), '')")
        yr4 = (f"nullif(regexp_extract(trim({tok}), "
               f"'^([A-Za-z]{{3}})[a-z]*\\\\s+(\\\\d{{4}})', 2), '')")
        mno = (f"CAST((instr({months}, concat(upper(substr({mon}, 1, "
               f"1)), lower(substr({mon}, 2)))) + 2) / 3 AS INT)")
        anyy = f"nullif(regexp_extract({tok}, '(\\\\d{{4}})', 1), '')"
        if part == "date":
            return (f"CASE WHEN {mon} IS NOT NULL AND "
                    f"instr({months}, concat(upper(substr({mon}, 1, 1)),"
                    f" lower(substr({mon}, 2)))) > 0 THEN "
                    f"concat({yr4}, '-', lpad(CAST({mno} AS {S}), 2, "
                    f"'0'), '-01') WHEN {anyy} IS NOT NULL THEN "
                    f"concat({anyy}, '-01-01') END")
        return (f"CASE WHEN {mon} IS NOT NULL AND "
                f"instr({months}, concat(upper(substr({mon}, 1, 1)), "
                f"lower(substr({mon}, 2)))) > 0 THEN {yr4} "
                f"ELSE {anyy} END")

    rng = ("'([A-Za-z]{3,9}\\\\s+\\\\d{4})\\\\s*[-–]\\\\s*"
           "([A-Za-z]{3,9}\\\\s+\\\\d{4})'")

    # h2t for the REST title (BS get_text(' ') + entity decode)
    def h2t(x: str) -> str:
        e = f"regexp_replace({x}, '<[^>]+>', ' '{g})"
        e = f"replace(replace({e}, '&amp;', '&'), '&nbsp;', ' ')"
        return f"nullif(trim(regexp_replace({e}, '\\\\s+', ' '{g})), '')"

    lines_items = ", ".join([
        "'The Brain Tumour Charity'",
        ("CASE CAST(k % 6 AS INT) "
         f"WHEN 0 THEN 'Title:' "
         f"WHEN 1 THEN 'Title: A' "
         f"ELSE concat('Title: Mapping glioma drivers ', {cs('k')}) END"),
        ("CASE CAST(k % 6 AS INT) "
         f"WHEN 0 THEN concat('Mapping glioma drivers ', {cs('k')}) "
         "ELSE 'Every mention counts' END"),
        ("CASE CAST(k % 5 AS INT) "
         "WHEN 0 THEN NULL "
         f"WHEN 1 THEN concat('Lead researcher: Professor Joan Weiss',"
         f" {cs('k % 40')}, ' and Dr Li') "
         "WHEN 2 THEN 'Lead researchers: Dr A; Dr B' "
         f"WHEN 3 THEN concat('Lead researcher: Dr Maya Chen',"
         f" {cs('k % 30')}, ' & team') "
         f"ELSE concat('Lead researcher: Sir Omar Haddad',"
         f" {cs('k % 20')}, ' / co-leads') END"),
        ("CASE WHEN k % 4 = 0 THEN NULL ELSE "
         f"concat('Where: University of Leeds ', {cs('k % 30')}) END"),
        ("CASE CAST(k % 7 AS INT) "
         "WHEN 0 THEN NULL "
         "WHEN 1 THEN concat('When: April ', CAST(2015 + k % 9 AS "
         + S + "), ' - March ', CAST(2018 + k % 9 AS " + S + ")) "
         "WHEN 2 THEN concat('When: ', CAST(2014 + k % 11 AS "
         + S + ")) "
         "ELSE concat('When: September ', CAST(2016 + k % 8 AS "
         + S + ")) END"),
        ("CASE CAST(k % 8 AS INT) "
         "WHEN 0 THEN 'Cost: TBC' "
         "WHEN 1 THEN concat('Cost: £', CAST(1 + k % 4 AS " + S + "), "
         "'.2 million') "
         "WHEN 2 THEN concat('Cost: £', CAST(100 + k % 900 AS "
         + S + "), ',500') "
         "WHEN 3 THEN concat('Cost: £', CAST(10 + k % 90 AS "
         + S + "), 'k') "
         "WHEN 4 THEN concat('Cost: £', CAST(1 + k % 3 AS " + S + "), "
         "' m') "
         "ELSE NULL END"),
        ("CASE WHEN k % 3 = 0 THEN NULL ELSE "
         f"concat('Research type: Quest for cures ', {cs('k % 5')}) "
         "END"),
        "'Donate now'",
    ])
    if sp:
        lines_expr = (f"filter(array({lines_items}), "
                      f"x -> x IS NOT NULL)")
    else:
        lines_expr = (f"list_filter([{lines_items}], "
                      f"x -> x IS NOT NULL)")

    pi_first = ("trim(regexp_replace(" + elem("PISPLIT", "1")
                + f", '{BTC_TITLE_RE}', ''{g}))")
    pi_first = pi_first.replace("PISPLIT",
                                "(" + splitre.replace(
                                    "pi_first_src", "pi_raw") + ")")

    return f""",
bt_raw AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 31 = 0 THEN NULL
      ELSE {cs('40000 + o_orderkey')} END AS rest_id,
    concat('glioma-project-', {cs('o_orderkey')}) AS bt_slug,
    concat('https://www.thebraintumourcharity.org/research/',
           'glioma-project-', {cs('o_orderkey')}, '/') AS link,
    concat('<em>Quest</em> title &amp; hope ', {cs('o_orderkey')})
      AS rest_title_html,
    (o_orderkey % 23 <> 0) AS detail_ok,
    {lines_expr} AS lines
  FROM orders
),
{bar("bt_idx", "bt_raw",
     ["k", "rest_id", "bt_slug", "link", "detail_ok", "lines",
      "rest_title_html"], [
    ("i_dt", field_idx("detail_title")),
    ("i_pi", field_idx("pi_raw")),
    ("i_in", field_idx("institution")),
    ("i_wh", field_idx("when")),
    ("i_co", field_idx("cost_raw")),
    ("i_rt", field_idx("research_type")),
])},
{bar("bt_fields", "bt_idx",
     ["k", "rest_id", "bt_slug", "link", "detail_ok"], [
    ("rest_title", h2t("rest_title_html")),
    ("detail_title", field_from_idx("i_dt")),
    ("pi_raw", field_from_idx("i_pi")),
    ("bt_institution", field_from_idx("i_in")),
    ("when_raw", field_from_idx("i_wh")),
    ("cost_raw", field_from_idx("i_co")),
    ("bt_programme", field_from_idx("i_rt")),
])},
bt_dates AS (
  SELECT *,
    nullif(regexp_extract(coalesce(when_raw, ''), {rng}, 1), '')
      AS rng_a,
    nullif(regexp_extract(coalesce(when_raw, ''), {rng}, 2), '')
      AS rng_b,
    CASE WHEN pi_raw IS NOT NULL THEN {pi_first} END AS pi_head,
    {cost_big} AS bt_amount
  FROM bt_fields
),
bt_named AS (
  SELECT *,
    CASE WHEN rng_a IS NOT NULL THEN {mon_year('rng_a', 'date')}
         WHEN when_raw IS NOT NULL THEN {mon_year('when_raw', 'date')}
         END AS bt_start_date,
    CASE WHEN rng_a IS NOT NULL THEN {mon_year('rng_a', 'year')}
         WHEN when_raw IS NOT NULL THEN {mon_year('when_raw', 'year')}
         END AS bt_start_year,
    CASE WHEN rng_b IS NOT NULL THEN {mon_year('rng_b', 'year')} END
      AS bt_end_year,
    {('split(pi_head, ' + chr(39) + chr(92) * 2 + 's+' + chr(39) + ')'
       if sp else 'regexp_split_to_array(pi_head, ' + chr(39)
       + chr(92) * 2 + 's+' + chr(39) + ')')} AS bt_toks
  FROM bt_dates
)
, bt_out AS (
  SELECT 'brain_tumour_charity' AS member,
    concat('tbtc-', coalesce({cs('rest_id')}, bt_slug))
      AS funder_award_id,
    CAST(NULL AS {S}) AS project_id,
    bt_slug AS slug,
    CASE WHEN NOT detail_ok THEN rest_title
         WHEN detail_title IS NOT NULL
              AND length(detail_title) >= 4 THEN detail_title
         ELSE rest_title END AS title,
    {nullcols('description', 'content_full')},
    {cs('bt_amount')} AS amount,
    CAST(NULL AS {S}) AS currency,
    bt_start_year AS start_year,
    bt_end_year AS end_year,
    CAST(NULL AS {S}) AS page_date,
    bt_start_date AS date_start,
    {nullcols('date_end', 'local_name', 'partners', 'duration',
              'beneficiaries', 'type_names')},
    link AS landing_page_url,
    CASE WHEN pi_head IS NULL OR {asize('bt_toks')} = 0 THEN NULL
         WHEN {asize('bt_toks')} = 1 THEN NULL
         ELSE {jn('bt_toks', asize('bt_toks') + ' - 1')} END
      AS btc_pi_given,
    CASE WHEN pi_head IS NULL OR pi_head = '' THEN NULL
         WHEN {asize('bt_toks')} = 0 THEN NULL
         WHEN {asize('bt_toks')} = 1 THEN {elem('bt_toks', '1')}
         ELSE {elem('bt_toks', asize('bt_toks'))} END AS btc_pi_family,
    bt_institution AS btc_institution,
    bt_programme AS btc_programme
  FROM bt_named
)"""


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, nullcols, rl = k.g, k.S, k.cs, k.bar, k.nullcols, k.rl
    rx = k.rx

    def strip_html(x: str) -> str:
        c = f"regexp_replace(coalesce({x}, ''), '<[^>]+>', ' '{g})"
        c = (f"replace(replace(replace({c}, '&amp;', '&'), '&#8211;', "
             f"'–'), '&nbsp;', ' ')")
        return (f"nullif(trim(regexp_replace({c}, '\\\\s+', ' '{g})), "
                f"'')")

    ks = cs("o_orderkey")

    # gulbenkian parse_amount: the Portuguese grammar
    gu_m = rx("trim(replace(replace(coalesce(gu.budget_raw, ''), '€', "
              "''), 'EUR', ''))", "([0-9.,]+)", 1)
    # dot-only rule: keep the dots only when the final dot segment is
    # <=2 digits (gulbenkian:203-240 splits on '.' and checks the last
    # part) — a kept multi-dot value then fails float() to NULL
    gu_last_seg = rx(gu_m, '[.]([0-9]*)$', 1)
    gu_norm = (
        f"CASE "
        f"WHEN contains({gu_m}, '.') AND contains({gu_m}, ',') "
        f"THEN replace(replace({gu_m}, '.', ''), ',', '.') "
        f"WHEN contains({gu_m}, ',') THEN replace({gu_m}, ',', '.') "
        f"WHEN contains({gu_m}, '.') "
        f"AND length(coalesce({gu_last_seg}, '')) > 2 "
        f"THEN replace({gu_m}, '.', '') "
        f"ELSE {gu_m} END")
    gu_amt = (f"CASE WHEN try_cast({gu_norm} AS DOUBLE) >= 1 "
              f"THEN try_cast({gu_norm} AS DOUBLE) END")

    def gu_year(x: str) -> str:
        allnum = (f"CASE WHEN {rl(f'trim(coalesce({x}, ' + chr(39) + chr(39) + '))', '^[0-9]+$')} "
                  f"AND CAST(trim({x}) AS INT) BETWEEN 1900 AND 2030 "
                  f"THEN CAST(trim({x}) AS INT) END")
        tok = (f"CAST({rx(f'coalesce({x}, ' + chr(39) + chr(39) + ')', chr(92)+chr(92)+'b(19[0-9]{2}|20[0-3][0-9])'+chr(92)+chr(92)+'b', 1)} AS INT)")
        return f"coalesce({allnum}, {tok})"

    # the chr() builds above are unreadable — spell them plainly
    def gu_year(x: str) -> str:  # noqa: F811
        trimmed = f"trim(coalesce({x}, ''))"
        allnum = (f"CASE WHEN {rl(trimmed, '^[0-9]+$')} "
                  f"AND try_cast({trimmed} AS INT) BETWEEN 1900 AND 2030 "
                  f"THEN try_cast({trimmed} AS INT) END")
        tok = (f"try_cast({rx(trimmed, chr(92)*2 + 'b(19[0-9][0-9]|20[0-3][0-9])' + chr(92)*2 + 'b', 1)} AS INT)")
        return f"coalesce({allnum}, {tok})"

    gulbenkian = f"""
gu_raw AS (
  SELECT o_orderkey AS k,
    {cs('o_orderkey + 120000')} AS project_id,
    concat('projeto-', {cs('o_orderkey % 700')}) AS slug,
    concat('<h2>Apoio &amp; inova', 'ção ', {ks}, '</h2>') AS title_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('<p>Resumo  do projeto ', {ks}, '</p>') END
      AS excerpt_raw,
    concat('<div>Conte', 'údo integral do projeto ', {ks},
           ' com detalhes.</div>') AS content_raw,
    concat('201', {cs('o_orderkey % 9')}, '-0',
           {cs('o_orderkey % 9 + 1')}, '-12T10:00:00') AS page_date,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN NULL WHEN 1 THEN '2021'
      WHEN 2 THEN concat('start of 20', lpad({cs('o_orderkey % 31')},
                         2, '0')) ELSE 'por definir' END AS date_start,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE '2024' END AS date_end,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN NULL WHEN 1 THEN '€ 12.500,00' WHEN 2 THEN '12500'
      WHEN 3 THEN '12.500' WHEN 4 THEN '0,75' ELSE 'EUR 9.850,5' END
      AS budget_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE 'Lisboa' END AS local_name,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Partner ', {cs('o_orderkey % 8')}) END AS partners,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat({cs('o_orderkey % 36 + 6')}, ' meses') END
      AS duration,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('Beneficiários ', {cs('o_orderkey % 6')}) END
      AS beneficiaries
  FROM orders
),
{bar("gu_parsed", "gu_raw",
     ["k", "project_id", "slug", "page_date", "date_start", "date_end",
      "budget_raw", "local_name", "partners", "duration", "beneficiaries"], [
    ("title", strip_html("title_raw")),
    ("excerpt", strip_html("excerpt_raw")),
    ("content", strip_html("content_raw")),
    ("amount", cs(gu_amt).replace("gu.", "")),
    ("start_year_acf", cs(gu_year("date_start"))),
    ("end_year", cs(gu_year("date_end"))),
])},
gu_out AS (
  SELECT 'gulbenkian' AS member,
    concat('gulbenkian-', slug, '-', project_id) AS funder_award_id,
    project_id, slug, title,
    coalesce(excerpt, substr(content, 1, 5000)) AS description,
    substr(content, 1, 8000) AS content_full,
    amount,
    CASE WHEN amount IS NOT NULL THEN 'EUR' END AS currency,
    coalesce(start_year_acf,
             CASE WHEN {rl("substr(page_date, 1, 4)", '^[0-9][0-9][0-9][0-9]$')}
                  THEN substr(page_date, 1, 4) END) AS start_year,
    end_year, page_date, date_start, date_end,
    local_name, partners, duration, beneficiaries,
    {nullcols('type_names')},
    concat('https://gulbenkian.pt/project/', slug, '/')
      AS landing_page_url
  FROM gu_parsed
)"""

    # velux: Swiss amount + period pair from the detail-page text
    vx_amt_cap = rx("coalesce(vx.page_text, '')",
                    "(?i)Funding amount\\\\s*[:|]?\\\\s*CHF\\\\s*"
                    "([0-9''.,]+)", 1)
    vx_norm = f"replace(replace({vx_amt_cap}, '''', ''), ',', '')"
    # same last-segment rule (velux:218-231): strip dots only when >2
    # digits trail the final dot; a kept multi-dot value NULLs in cast
    vx_last_seg = rx(vx_norm, '[.]([0-9]*)$', 1)
    vx_norm2 = (f"CASE WHEN contains({vx_norm}, '.') "
                f"AND length(coalesce({vx_last_seg}, '')) > 2 "
                f"THEN replace({vx_norm}, '.', '') ELSE {vx_norm} END")
    vx_amt = f"try_cast({vx_norm2} AS DOUBLE)"
    vx_period = ("\\\\b(19[0-9][0-9]|20[0-9][0-9])\\\\s*[-–—]\\\\s*"
                 "(19[0-9][0-9]|20[0-9][0-9])\\\\b")

    velux = f""",
vx_raw AS (
  SELECT o_orderkey AS k,
    {cs('o_orderkey + 50000')} AS project_id,
    concat('projekt-', {ks}) AS slug,
    concat('<h1>Daylight research project ', {ks}, '</h1>') AS title_raw,
    concat('<p>Understanding  circadian light exposure, case ', {ks},
           '.</p>') AS content_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      WHEN o_orderkey % 3 = 1 THEN 'Science / Daylight'
      ELSE 'Humus' END AS type_names,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN 'About the project. No funding line here. 2019'
      WHEN 1 THEN concat('Funding amount: CHF 485,000 Period 20',
                         lpad({cs('o_orderkey % 20')}, 2, '0'), ' - 20',
                         lpad({cs('o_orderkey % 20 + 3')}, 2, '0'))
      WHEN 2 THEN concat('Funding amount | CHF 1', '''', '500',
                         '''', '000 runs 2019 - 2023')
      WHEN 3 THEN 'funding amount: chf 72.50 period 2020 – 2021'
      ELSE 'Funding amount: CHF 9.850.5 (2018 — 2022)' END AS page_text,
    concat('202', {cs('o_orderkey % 4')}, '-03-01T08:00:00')
      AS page_date
  FROM orders
),
{bar("vx_parsed", "vx_raw",
     ["k", "project_id", "slug", "type_names", "page_text",
      "page_date"], [
    ("title", strip_html("title_raw")),
    ("content", strip_html("content_raw")),
    ("amount", cs(vx_amt).replace("vx.", "")),
    ("start_year",
     rx("coalesce(page_text, '')", vx_period, 1)),
    ("end_year",
     rx("coalesce(page_text, '')", vx_period, 2)),
])},
vx_out AS (
  SELECT 'velux_stiftung' AS member,
    concat('velux-stiftung-', slug) AS funder_award_id,
    project_id, slug, title,
    substr(content, 1, 5000) AS description,
    {nullcols('content_full')},
    amount,
    CASE WHEN amount IS NOT NULL THEN 'CHF' END AS currency,
    start_year, end_year, page_date,
    {nullcols('date_start', 'date_end', 'local_name', 'partners',
              'duration', 'beneficiaries')},
    type_names,
    concat('https://veluxstiftung.ch/projects/', slug, '/')
      AS landing_page_url
  FROM vx_parsed
)"""

    # ---- hewlett (round 11) ------------------------------------------------
    # scripts/local/hewlett_to_s3.py:264-443 (FacetWP card grammar) +
    # :483-566 (row assembly).  The HTML card extraction is the seam —
    # the fixture delivers each card's meta block as the ordered text
    # list `_parse_meta` iterates; the ROUTING (if/elif: '$'-prefix ->
    # amount, 'Term:'-or-'month(s)'-suffix -> term with the label
    # stripped, 'Awarded:'/'Award:' -> date with the label regexed off,
    # LAST match wins per slot) is ported compute, as are parse_amount
    # ($/comma strip + float coerce), parse_date (the Month D, YYYY
    # regex anywhere in the text, case-insensitive), parse_term_months
    # (int(float) of the first number before Month(s)), add_months
    # (pure y/m arithmetic with the day clamped to min(d, 28)), the
    # empty-grantee drop, the id scheme (60-char slugs, title slug cut
    # at 30 WITHOUT re-stripping a trailing dash, 'no-date'->'nodate',
    # empty parts skipped) and the ordered '-v{n}' collision suffix
    # (real parallel grants — NOT an error).  declined='False' and the
    # numeric renders match the reference's astype('string').
    sp_ = dialect == "spark"
    if sp_:
        meta_last = lambda cond: (  # noqa: E731
            f"try_element_at(filter(meta_texts, t -> {cond}), -1)")
    else:
        meta_last = lambda cond: (  # noqa: E731
            f"list_filter(meta_texts, t -> {cond})[-1]")
    amt_cond = "t LIKE '$%'"
    term_cond = ("NOT (t LIKE '$%') AND (contains(t, 'Term:') OR "
                 "lower(t) LIKE '%month' OR lower(t) LIKE '%months')")
    date_cond = ("NOT (t LIKE '$%') AND NOT (contains(t, 'Term:') OR "
                 "lower(t) LIKE '%month' OR lower(t) LIKE '%months') "
                 "AND (contains(t, 'Awarded:') OR contains(t, 'Award:'))")
    months_alt = ("January|February|March|April|May|June|July|August|"
                  "September|October|November|December")
    hw_date_m = rx("date_awarded_raw",
                   f"(?i)({months_alt})\\\\s+([0-9]{{1,2}}),\\\\s+"
                   f"([0-9]{{4}})", 1)
    hw_date_d = rx("date_awarded_raw",
                   f"(?i)({months_alt})\\\\s+([0-9]{{1,2}}),\\\\s+"
                   f"([0-9]{{4}})", 2)
    hw_date_y = rx("date_awarded_raw",
                   f"(?i)({months_alt})\\\\s+([0-9]{{1,2}}),\\\\s+"
                   f"([0-9]{{4}})", 3)
    month_num = ("CASE lower(hw_mon) WHEN 'january' THEN 1 "
                 "WHEN 'february' THEN 2 WHEN 'march' THEN 3 "
                 "WHEN 'april' THEN 4 WHEN 'may' THEN 5 "
                 "WHEN 'june' THEN 6 WHEN 'july' THEN 7 "
                 "WHEN 'august' THEN 8 WHEN 'september' THEN 9 "
                 "WHEN 'october' THEN 10 WHEN 'november' THEN 11 "
                 "WHEN 'december' THEN 12 END")

    def hw_slug(x: str, cut: int | None = None) -> str:
        s = (f"substr(trim(BOTH '-' FROM regexp_replace(lower("
             f"coalesce({x}, '')), '[^a-z0-9]+', '-'{g})), 1, 60)")
        if cut is not None:
            s = f"substr({s}, 1, {cut})"
        return s

    # hoisted (backslashes are banned in f-string expression parts)
    hw_amount_expr = (
        "try_cast(trim(replace(replace(coalesce(amount_raw, ''), '$', "
        "''), ',', '')) AS DOUBLE)")
    hw_term_expr = (
        "CAST(floor(try_cast(" + rx(
            "term_raw", "([0-9]+(?:[.][0-9]+)?)\\\\s*[Mm]onths?", 1)
        + " AS DOUBLE)) AS INT)")
    hw_parsed_cte = bar("hw_parsed", "hw_meta",
        ["k", "grantee", "program", "facetwp_program_id",
         "project_title", "status", "overview", "amount_raw",
         "term_raw", "date_awarded_raw", "grantee_website"], [
        ("amount_f", hw_amount_expr),
        ("term_mo", hw_term_expr),
        ("hw_mon", hw_date_m),
        ("hw_day", hw_date_d),
        ("hw_year", hw_date_y),
    ])
    hw_date_label_strip = (
        "trim(regexp_replace(" + meta_last(date_cond)
        + ", '(Awarded|Award):\\\\s*', ''" + g + "))")

    hewlett = f""",
hw_raw AS (
  SELECT o_orderkey AS k,
    concat('Grantee Org ', {cs('o_orderkey % 120')}) AS grantee_raw,
    CASE CAST(o_orderkey % 9 AS INT)
      WHEN 0 THEN 'Economy and Society' WHEN 1 THEN 'Education'
      WHEN 2 THEN 'Effective Philanthropy' WHEN 3 THEN 'Environment'
      WHEN 4 THEN 'Gender Equity and Governance'
      WHEN 5 THEN 'Performing Arts' WHEN 6 THEN 'Racial Justice'
      WHEN 7 THEN 'Special Projects' ELSE 'U.S. Democracy' END
      AS program,
    CASE CAST(o_orderkey % 9 AS INT)
      WHEN 0 THEN '24372977' WHEN 1 THEN '31392' WHEN 2 THEN '31528'
      WHEN 3 THEN '21943' WHEN 4 THEN '21300' WHEN 5 THEN '31521'
      WHEN 6 THEN '29057789' WHEN 7 THEN '31532' ELSE '70696' END
      AS facetwp_program_id,
    CASE WHEN o_orderkey % 7 = 0 THEN CAST(NULL AS {S})
      ELSE concat('For general support of project ',
                  {cs('o_orderkey % 45')}) END AS project_title,
    CASE WHEN o_orderkey % 2 = 0 THEN 'Active' ELSE 'Closed' END
      AS status,
    CASE WHEN o_orderkey % 5 = 0 THEN CAST(NULL AS {S})
      ELSE concat('Overview of the grant, case ',
                  {cs('o_orderkey % 71')}) END AS overview,
    {("array(" if sp_ else "[")}
      CASE WHEN o_orderkey % 6 <> 0
        THEN concat('$', {cs('o_orderkey % 900 + 100')}, ',',
                    lpad({cs('o_orderkey % 1000')}, 3, '0'), '.00') END,
      CASE WHEN o_orderkey % 11 = 0 THEN '$corrected 2,500.00' END,
      CASE CAST(o_orderkey % 4 AS INT)
        WHEN 0 THEN concat('Term: ', {cs('o_orderkey % 48 + 6')},
                           ' Months')
        WHEN 1 THEN concat({cs('o_orderkey % 48 + 6')}, '.0 Months')
        WHEN 2 THEN CAST(NULL AS {S})
        ELSE '1 month' END,
      CASE CAST(o_orderkey % 5 AS INT)
        WHEN 0 THEN concat('Awarded: March ',
                           {cs('o_orderkey % 28 + 1')}, ', ',
                           {cs('2015 + o_orderkey % 10')})
        WHEN 1 THEN concat('Award: July 1, ',
                           {cs('2015 + o_orderkey % 10')})
        WHEN 2 THEN 'Awarded: TBD'
        ELSE CAST(NULL AS {S}) END
    {(")" if sp_ else "]")} AS meta_texts_raw,
    CASE WHEN o_orderkey % 8 = 0 THEN CAST(NULL AS {S})
      ELSE concat('https://grantee', {cs('o_orderkey % 120')},
                  '.example.org/') END AS grantee_website
  FROM orders
),
hw_meta AS (
  SELECT *,
    {meta_last(amt_cond)} AS amount_raw,
    trim(replace({meta_last(term_cond)}, 'Term:', '')) AS term_raw,
    {hw_date_label_strip} AS date_awarded_raw,
    trim(grantee_raw) AS grantee
  FROM (SELECT *, {("filter(meta_texts_raw, t -> t IS NOT NULL)"
                    if sp_ else
                    "list_filter(meta_texts_raw, t -> t IS NOT NULL)")}
          AS meta_texts FROM hw_raw) z
  WHERE trim(grantee_raw) <> ''
),
{hw_parsed_cte},
hw_dated AS (
  SELECT *,
    CASE WHEN hw_mon IS NOT NULL THEN
      concat(hw_year, '-', lpad({cs(month_num)}, 2, '0'), '-',
             lpad({cs('CAST(hw_day AS INT)')}, 2, '0')) END
      AS start_iso
  FROM hw_parsed
),
hw_assembled AS (
  SELECT *,
    CASE WHEN start_iso IS NOT NULL AND term_mo IS NOT NULL
         AND term_mo <> 0 THEN
      concat(
        lpad({cs("CAST(substr(start_iso, 1, 4) AS INT) + CAST(floor((CAST(substr(start_iso, 6, 2) AS INT) + term_mo - 1) / 12.0) AS INT)")}, 4, '0'),
        '-',
        lpad({cs("((CAST(substr(start_iso, 6, 2) AS INT) + term_mo - 1) % 12) + 1")}, 2, '0'),
        '-',
        lpad({cs("least(CAST(substr(start_iso, 9, 2) AS INT), 28)")}, 2, '0'))
    END AS end_iso,
    concat('hewlett-',
      concat_ws('-',
        nullif({hw_slug('grantee')}, ''),
        nullif({hw_slug('program')}, ''),
        replace(coalesce(start_iso, 'no-date'), '-', ''),
        nullif({hw_slug('project_title', 30)}, ''))) AS base_id
  FROM hw_dated
),
hw_ids AS (
  SELECT *, row_number() OVER (PARTITION BY base_id ORDER BY k) AS vrn
  FROM hw_assembled
),
hw_out AS (
  SELECT 'hewlett' AS member,
    CASE WHEN vrn = 1 THEN base_id
         ELSE concat(base_id, '-v', {cs('vrn')}) END AS funder_award_id,
    {nullcols('project_id', 'slug')},
    project_title AS title,
    overview AS description,
    {nullcols('content_full')},
    {cs('amount_f')} AS amount,
    CASE WHEN amount_f IS NOT NULL THEN 'USD' END AS currency,
    {nullcols('start_year', 'end_year', 'page_date')},
    start_iso AS date_start, end_iso AS date_end,
    {nullcols('local_name', 'partners', 'duration', 'beneficiaries',
              'type_names')},
    grantee_website AS landing_page_url,
    grantee, program, facetwp_program_id, status,
    {cs('term_mo')} AS term_months,
    amount_raw, term_raw, date_awarded_raw,
    'False' AS declined
  FROM hw_ids
)"""

    hw_extras = ("grantee, program, facetwp_program_id, status, "
                 "term_months, amount_raw, term_raw, date_awarded_raw, "
                 "declined")
    hw_extra_nulls = nullcols(
        "grantee", "program", "facetwp_program_id", "status",
        "term_months", "amount_raw", "term_raw", "date_awarded_raw",
        "declined")

    te_extra = ("wp_post_id, wp_date, wp_modified, grant_web_title, "
                "grant_max_content, grant_content, grant_project_leader, "
                "grant_grantee, grant_amount_raw, grant_start_date, "
                "grant_end_date")
    te_extra_nulls = nullcols(
        "wp_post_id", "wp_date", "wp_modified", "grant_web_title",
        "grant_max_content", "grant_content", "grant_project_leader",
        "grant_grantee", "grant_amount_raw", "grant_start_date",
        "grant_end_date")
    nullcols_te = nullcols(
        "description", "content_full", "amount", "currency",
        "start_year", "end_year", "page_date", "date_start", "date_end",
        "local_name", "partners", "duration", "beneficiaries",
        "type_names") + ","
    btc = _btc_arm(dialect)
    bt_extras = ("btc_pi_given, btc_pi_family, btc_institution, "
                 "btc_programme")
    bt_extra_nulls = nullcols("btc_pi_given", "btc_pi_family",
                              "btc_institution", "btc_programme")

    # ---- templeton (round 12) ------------------------------------------
    # templeton_to_s3.py:60-126 — the WP REST pagination (per_page=100,
    # X-WP-TotalPages) is the seam; normalise_record (:100-126) is a
    # verbatim field passthrough whose ONE rule is the title fallback:
    # rendered WP title, else acf.grant_web_title, else '' (empty
    # STRING, not NULL — pandas ships the '').  funder_award_id carries
    # acf.grant_id verbatim (the notebook's join key — the reference
    # synthesizes no prefix); amounts stay RAW by design ("keep raw,
    # parse in notebook").  No dedupe exists to port.
    templeton = f""",
te_raw AS (
  SELECT o_orderkey AS k,
    {cs('90000 + o_orderkey')} AS wp_post_id,
    concat('grant-', {cs('o_orderkey')}) AS slug,
    concat('https://www.templeton.org/grant/grant-', {cs('o_orderkey')})
      AS link,
    concat('20', lpad({cs('10 + o_orderkey % 15')}, 2, '0'),
           '-03-0', {cs('1 + o_orderkey % 9')}, 'T08:15:00') AS wp_date,
    concat('2025-0', {cs('1 + o_orderkey % 9')}, '-12T10:00:00')
      AS wp_modified,
    CASE WHEN o_orderkey % 6 = 0 THEN ''
      ELSE concat('Science &amp; the big questions ', {cs('o_orderkey')})
      END AS title_rendered,
    CASE WHEN o_orderkey % 11 = 0 THEN NULL
      ELSE concat({cs('60000 + o_orderkey % 9000')}) END AS grant_id,
    CASE WHEN o_orderkey % 18 = 0 THEN NULL
      ELSE concat('Foundations of complexity ', {cs('o_orderkey % 400')})
      END AS grant_web_title,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('Long-form narrative for grant ', {cs('o_orderkey')})
      END AS grant_max_content,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Short summary ', {cs('o_orderkey % 50')}) END
      AS grant_content,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('Maria Duarte ', {cs('o_orderkey % 70')}) END
      AS grant_project_leader,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE concat('University of Tartu ', {cs('o_orderkey % 40')}) END
      AS grant_grantee,
    CASE WHEN o_orderkey % 9 = 0 THEN NULL
      ELSE {cs('100000 + o_orderkey % 800000')} END AS grant_amount_raw,
    CASE WHEN o_orderkey % 8 = 0 THEN NULL
      ELSE concat({cs('2010 + o_orderkey % 14')}, '-07-01') END
      AS grant_start_date,
    CASE WHEN o_orderkey % 10 = 0 THEN NULL
      ELSE concat({cs('2013 + o_orderkey % 14')}, '-06-30') END
      AS grant_end_date
  FROM orders
),
te_out AS (
  SELECT 'templeton' AS member,
    grant_id AS funder_award_id,
    grant_id AS project_id,
    slug,
    CASE WHEN title_rendered <> '' THEN title_rendered
         ELSE coalesce(grant_web_title, '') END AS title,
    {nullcols_te}
    link AS landing_page_url,
    {cs('wp_post_id')} AS wp_post_id, wp_date, wp_modified,
    grant_web_title, grant_max_content, grant_content,
    grant_project_leader, grant_grantee, grant_amount_raw,
    grant_start_date, grant_end_date
  FROM te_raw
)"""

    cols = ("member, funder_award_id, project_id, slug, title, "
            "description, content_full, amount, currency, start_year, "
            "end_year, page_date, date_start, date_end, local_name, "
            "partners, duration, beneficiaries, type_names, "
            "landing_page_url")

    return f"""
WITH {gulbenkian}{velux}{hewlett}{templeton}{btc}
SELECT {cols}, {hw_extras}, {te_extra_nulls}, {bt_extra_nulls}
  FROM hw_out
UNION ALL SELECT {cols}, {hw_extra_nulls}, {te_extra_nulls},
  {bt_extra_nulls} FROM gu_out
UNION ALL SELECT {cols}, {hw_extra_nulls}, {te_extra_nulls},
  {bt_extra_nulls} FROM vx_out
UNION ALL SELECT {cols}, {hw_extra_nulls}, {te_extra},
  {bt_extra_nulls} FROM te_out
UNION ALL SELECT {cols}, {hw_extra_nulls}, {te_extra_nulls},
  {bt_extras} FROM bt_out
"""


@register(
    "wprest_parse_projects",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("WP-REST project-parse pair (scripts/local/gulbenkian_to_s3.py,"
         " scripts/local/velux_stiftung_to_s3.py)"),
    spread=("orders",),
)
def wprest_parse_projects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gulbenkian + Velux Stiftung WP-REST normalizes in one union plan
    (module docstring has the semantics map: the Portuguese and Swiss
    amount grammars, the year fallbacks, the taxonomy join-render).
    Two barriered scan arms, no hash shuffle (one round-robin spread
    exchange per scan), no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
