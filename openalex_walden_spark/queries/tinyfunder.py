"""Tiny-funder line-scan scraper kit
(scripts/local/{bacp,bdsra,gla,ons_foundation,researchnb}_to_s3.py —
5 scripts sharing one compact skeleton).

These five scrapers share a small kit — ``clean`` (whitespace collapse
or NULL), ``slug`` (lower non-alnum runs to '-', strip, cut to 90) and
a per-member ``split_name`` variant — and each walks the page's text
LINES (``soup.get_text("\\n", strip=True).split("\\n")`` after
nav/header/footer/script/style removal).  That DOM-to-lines step is
the seam: the fixture delivers each page as an ordered line array, one
page per orders key with one record block plus noise (the
window-scan / fallback / skip rules are all exercised; multi-record
adjacency on one page is a fixture choice, not a semantics change).

Per member, all rules preserved:

* **bacp** (bacp_to_s3.py:78-99): per-year pages sorted by URL (the
  fixture pads the page qualifier so lexicographic = numeric order);
  anchor ``Principal Investigator\\s*:\\s*(.+)``; title/institution
  scanned over lines [i-4, i+5) with LAST-match-wins overwrite and the
  title's next-line fallback when the label line is empty after the
  prefix strip; split_name strips the honorific, cuts at
  ``,|;| and ``, and refuses <2 or >4 tokens; rows need family+title;
  id 'bacp-{year}-{slug(family)}' with global keep-first; amounts not
  published (§6.7 waiver — NULL);
* **bdsra** (bdsra_to_s3.py:62-92): anchor ``CHIEF INVESTIGATORS?:``;
  title = the PREVIOUS line, PI = the next; scan j in (i, i+12):
  AFFILIATION takes lines[j+1] plus the lines[j+2] continuation when
  that line is not an AMOUNT label and the institution lacks 'USA'
  (the reference's exact ``"USA" not in (institution or "") + "x"``
  guard); the FIRST AMOUNT line breaks the scan, its number read from
  lines[j] + ' ' + lines[j+1]; affiliations after the amount are never
  seen; split_name strips the degree tail
  ``,?\\s*(PhD|MD|Ph\\.D|M\\.D|DVM|MBBS).*$``; a title that is itself a
  CHIEF/AFFIL/AMOUNT label skips the row; id
  'bdsra-{year}-{slug(family)}-{slug(title[:30])}';
* **gla** (gla_to_s3.py:62-95): heading must match the NAME_DEG degree
  pattern; title/description = the first two following text nodes
  (limit 12) that are >10 chars and not themselves NAME_DEG headings;
  split_name takes the pre-comma part with NO honorific strip and maps
  a single token to (None, token); id 'gla-{slug(f)}-{slug(title[:30])}';
* **ons_foundation** (ons_foundation_to_s3.py:70-95): the
  '{year} {...Research Grant} Recipient' line anchors; the PREVIOUS
  line must look like a credentialed name (NAME_LINE); scheme = the
  captured grant name; title = '{scheme} ({year})'; id
  'ons-{year}-{slug(f)}-{slug(scheme)[:20]}';
* **researchnb** (researchnb_to_s3.py:35,62-110): the
  'Name - Institution, City - $Amount' ROW grammar (hyphen or
  en-dash, name capped at 60 chars, optional '$'); title = the next
  line unless it is itself a ROW or <8 chars; year = first 20\\d\\d in
  url + ' ' + h1-programme; split_name keeps mononyms as family-only;
  id 'researchnb-{slug(RAW name)}-{slug((title or prog or '')[:30])}'
  — the slug takes the UNSTRIPPED name capture.

Plan: 5 per-page scans of array HOFs (no explode needed — anchors
resolve via index transforms), plus one keep-first window per member
keyed on the award id.  No Python.

tests/test_template_fidelity.py re-derives the full expected output in
Python from the reference rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_TITLE_RE = "(?i)^(Dr|Prof|Professor|Mr|Mrs|Ms|Miss)\\\\.?\\\\s+"
_NAME_DEG = "(?i)^(.+?),\\\\s*(Ph\\\\.?D|M\\\\.?D|D\\\\.?Phil|DVM|Sc\\\\.?D)"
_ONS_NAME_LINE = ("(?i)^(Dr\\\\.?\\\\s+)?[A-Z][A-Za-z''’\\\\-]+\\\\s+.*"
                  "\\\\b(PhD|RN|MSN|BSN|DNP|MD|FAAN|MS|MPH)\\\\b")
_RNB_ROW = ("^([^-–]{4,60})\\\\s[-–]\\\\s(.+?)\\\\s[-–]\\\\s"
            "\\\\$?([0-9,]+)\\\\s*$")


def _split_common(dialect: str, raw: str, *, strip_title: bool,
                  cut: str | None, degree_tail: bool = False,
                  min2max4: bool = True, mono_family: bool = False):
    """The kit's split_name variants as (given, family) SQL pair."""
    k = sqlkit.kit(dialect)
    g, asize, clean, elem, head = k.g, k.asize, k.clean, k.elem, k.head
    jnagg = k.jnagg
    n = clean(raw)
    if strip_title:
        n = f"regexp_replace({n}, '{_TITLE_RE}', ''{g})"
    if cut is not None:
        # first segment of the cut pattern
        if dialect == "spark":
            n = f"try_element_at(split({n}, '{cut}'), 1)"
        else:
            n = f"(regexp_split_to_array({n}, '{cut}'))[1]"
    if degree_tail:
        n = (f"regexp_replace({n}, "
             f"'(?i),?\\\\s*(PhD|MD|Ph\\\\.D|M\\\\.D|DVM|MBBS).*$', ''{g})")
    n = f"trim(coalesce({n}, ''))"
    if dialect == "spark":
        toks = f"filter(split({n}, '\\\\s+'), x -> x <> '')"
    else:
        toks = f"list_filter(regexp_split_to_array({n}, '\\s+'), x -> x <> '')"
    join_head = jnagg(head("toks", asize("toks") + " - 1"))
    last = elem("toks", asize("toks"))
    if min2max4:
        given = (f"CASE WHEN {asize('toks')} BETWEEN 2 AND 4 "
                 f"THEN {join_head} END")
        family = (f"CASE WHEN {asize('toks')} BETWEEN 2 AND 4 "
                  f"THEN {last} END")
    elif mono_family:
        given = f"CASE WHEN {asize('toks')} >= 2 THEN {join_head} END"
        family = f"CASE WHEN {asize('toks')} >= 1 THEN {last} END"
    else:  # gla: <2 tokens -> (None, tok0-or-None)
        given = f"CASE WHEN {asize('toks')} >= 2 THEN {join_head} END"
        family = (f"CASE WHEN {asize('toks')} >= 2 THEN {last} "
                  f"WHEN {asize('toks')} = 1 THEN {elem('toks', '1')} END")
    # inline the token-array expression (no tokenized stage per arm)
    given = given.replace("toks", f"({toks})")
    family = family.replace("toks", f"({toks})")
    return toks, given, family


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, asize, clean = k.g, k.S, k.cs, k.bar, k.asize, k.clean
    elem, filt, idx_of, rl, rx = k.elem, k.filt, k.idx_of, k.rl, k.rx
    slug = k.slug

    if dialect == "spark":
        def arr(*items: str) -> str:
            return (f"filter(array({', '.join(items)}), "
                    f"x -> x IS NOT NULL)")
    else:
        def arr(*items: str) -> str:
            return (f"list_filter([{', '.join(items)}], "
                    f"x -> x IS NOT NULL)")

    ks = cs("o_orderkey")

    # ---- bacp ----------------------------------------------------------
    bacp_name = f"""CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('Dr Jane Smith', {cs('o_orderkey % 120')})
      WHEN 1 THEN concat('Prof A B C D E', {cs('o_orderkey % 120')})
      WHEN 2 THEN concat('Mrs Ann Lee', {cs('o_orderkey % 120')},
                         ' and Bob Roy')
      WHEN 3 THEN 'Kwame'
      ELSE concat('Miss Rosa Diaz-Lopez', {cs('o_orderkey % 120')}) END"""
    bacp_lines = arr(
        "'Research grants awarded'",
        f"""CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('Project title: Counselling outcomes study ', {ks})
      WHEN 1 THEN 'Project title:'
      WHEN 2 THEN NULL
      ELSE concat('Project title:  Therapy  access study ', {ks}) END""",
        f"""CASE WHEN o_orderkey % 4 = 1
      THEN concat('Continuation title line ', {ks})
      ELSE 'Funded by the BACP research programme' END""",
        f"concat('Principal Investigator: ', {bacp_name})",
        f"""CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Lead institution: University ',
                  {cs('o_orderkey % 60')}) END""",
        "'Awards hub'")
    bacp_i = idx_of("lines", f"{rl('t', '(?i)^Principal Investigator')}")
    # window [i-4, i+5) 0-based == [i-4+1.. i+4] 1-based on SQL indexes;
    # bounded below at 1 (max(0, i-4))
    bacp_jt = idx_of(
        "lines",
        f"{rl('t', chr(40) + '?i' + chr(41) + '^Project title[ ]*:')} "
        f"AND i >= greatest(anchor - 4, 1) AND i <= anchor + 4",
        "array_max")
    bacp_ji = idx_of(
        "lines",
        f"{rl('t', chr(40) + '?i' + chr(41) + '^Lead institution[ ]*:')} "
        f"AND i >= greatest(anchor - 4, 1) AND i <= anchor + 4",
        "array_max")
    _, bacp_given, bacp_family = _split_common(
        dialect, "pi_raw", strip_title=True, cut=",|;| and ")
    bacp_title_line = elem("lines", "jt")
    bacp_title = (
        f"coalesce({clean(f'regexp_replace({bacp_title_line}, ' + chr(39) + '(?i)^Project title[ ]*:[ ]*' + chr(39) + f', {chr(39)}{chr(39)}{g})')}, "
        f"{clean(elem('lines', 'jt + 1'))})")

    # ---- bdsra ----------------------------------------------------------
    bdsra_pi = f"""CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('Dr Maria Gonzalez', {cs('o_orderkey % 150')},
                         ', PhD')
      WHEN 1 THEN concat('Samuel Oduya', {cs('o_orderkey % 150')},
                         ' MBBS and team')
      WHEN 2 THEN concat('Prof Lena Vik', {cs('o_orderkey % 150')})
      ELSE 'Cure' END"""
    bdsra_lines = arr(
        "'Funded projects announced'",
        f"""CASE WHEN o_orderkey % 13 = 0 THEN 'AFFILIATION:'
      ELSE concat('Gene therapy project ', {ks}) END""",
        "'CHIEF INVESTIGATORS:'",
        bdsra_pi,
        f"CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE 'AFFILIATION:' END",
        f"""CASE WHEN o_orderkey % 5 = 0 THEN NULL
      WHEN o_orderkey % 3 = 0
        THEN concat('Hospital for Sick Children USA ',
                    {cs('o_orderkey % 40')})
      ELSE concat('University of Batten ', {cs('o_orderkey % 40')}) END""",
        f"""CASE WHEN o_orderkey % 5 = 0 OR o_orderkey % 7 = 0 THEN NULL
      ELSE concat('Dept of Neurology ', {cs('o_orderkey % 12')}) END""",
        f"""CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN concat('AMOUNT: USD $', {cs('o_orderkey % 400 + 100')},
                         ',000')
      WHEN 1 THEN 'AMOUNT: USD'
      ELSE NULL END""",
        f"""CASE WHEN o_orderkey % 3 = 1
      THEN concat('$', {cs('o_orderkey % 400 + 100')}, ',500')
      ELSE 'More announcements below' END""")
    bdsra_i = idx_of("lines", f"{rl('t', '(?i)^CHIEF INVESTIGATORS?:')}")
    # scan j in (i, i+12) 0-based exclusive -> 1-based (anchor, anchor+11]
    bdsra_jamt = idx_of(
        "lines",
        f"{rl('t', chr(40) + '?i' + chr(41) + '^AMOUNT:')} "
        f"AND i > anchor AND i <= anchor + 11")
    bdsra_jaff = idx_of(
        "lines",
        f"{rl('t', chr(40) + '?i' + chr(41) + '^AFFILIATION:')} "
        f"AND i > anchor AND i <= anchor + 11 "
        f"AND i < coalesce(jamt, anchor + 12)",
        "array_max")
    _, bdsra_given, bdsra_family = _split_common(
        dialect, "pi_raw", strip_title=True, cut=None, degree_tail=True)
    bdsra_inst0 = clean(elem("lines", "jaff + 1"))
    bdsra_cont = elem("lines", "jaff + 2")
    bdsra_inst = (
        f"CASE WHEN jaff IS NULL THEN NULL "
        f"WHEN {bdsra_cont} IS NOT NULL "
        f"AND NOT {rl(bdsra_cont, '(?i)^AMOUNT:')} "
        f"AND coalesce({bdsra_inst0}, '') NOT LIKE '%USA%' "
        f"THEN {clean(f'concat(coalesce({bdsra_inst0}, {chr(39)}{chr(39)}), ' + chr(39) + ' ' + chr(39) + f', {bdsra_cont})')} "
        f"ELSE {bdsra_inst0} END")
    bdsra_amt_text = (
        f"concat({elem('lines', 'jamt')}, "
        f"coalesce(concat(' ', {elem('lines', 'jamt + 1')}), ''))")
    bdsra_amt = (
        f"CASE WHEN jamt IS NOT NULL THEN try_cast(replace("
        f"nullif(regexp_extract({bdsra_amt_text}, '([0-9,]+)', 1), ''), "
        f"',', '') AS DOUBLE) END")

    # ---- gla -------------------------------------------------------------
    gla_head = f"""CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('Alice Munro', {cs('o_orderkey % 90')}, ', PhD')
      WHEN 1 THEN concat('Bob Ortiz', {cs('o_orderkey % 90')}, ', M.D.')
      WHEN 2 THEN 'Our current grantees'
      WHEN 3 THEN concat('Chen Wei', {cs('o_orderkey % 90')},
                         ' Xu, Sc.D, Professor')
      ELSE concat('Mononym', {cs('o_orderkey % 90')}, ', DVM') END"""
    gla_lines = arr(
        gla_head,
        "'Read more'",
        f"""CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE concat('Study ', {ks},
                  ' tick-borne persistence mechanisms') END""",
        f"concat('Nested heading', {cs('o_orderkey % 90')}, ', Ph.D')",
        f"""CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Longitudinal immune profiling of patients ',
                  {ks}) END""",
        "'Donate'")
    # candidates: following nodes (positions 2..) >10 chars, not NAME_DEG
    gla_cand = filt(
        f"slice(lines, 2, {asize('lines')} - 1)" if dialect == "spark"
        else f"list_slice(lines, 2, {asize('lines')})",
        f"length(t) > 10 AND NOT {rl('t', _NAME_DEG)}")
    _, gla_given, gla_family = _split_common(
        dialect, "heading", strip_title=False, cut=",", min2max4=False)

    # ---- ons_foundation -----------------------------------------------------
    ons_name = f"""CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('Maria Chen', {cs('o_orderkey % 110')},
                         ', PhD, RN')
      WHEN 1 THEN concat('Dr. Dana Fox', {cs('o_orderkey % 110')},
                         ' Quinn Reyes Lee, DNP')
      WHEN 2 THEN 'Congratulations to everyone'
      ELSE concat('Priya Natarajan', {cs('o_orderkey % 110')},
                  ', MSN, FAAN') END"""
    ons_recip = (
        f"concat({cs('o_orderkey % 6 + 2019')}, ' RE0',"
        f" {cs('o_orderkey % 4')}, ' ', CASE WHEN o_orderkey % 2 = 0 "
        f"THEN 'Oncology Nursing ' ELSE '' END, 'Research Grant "
        f"Recipient')")
    ons_lines = arr(
        "'Recent research grant recipients'",
        ons_name,
        ons_recip,
        "'Press release archive'")
    ons_recip_pat = ("(?i)(20[0-9]{2})\\\\s+(.*?Research Grant)"
                     "\\\\s+Recipient")
    ons_i = idx_of("lines", rl("t", ons_recip_pat))
    _, ons_given, ons_family = _split_common(
        dialect, "name_line", strip_title=True, cut=",")

    # ---- researchnb ------------------------------------------------------------
    rnb_name = f"""CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('Dr. Jane Doe', {cs('o_orderkey % 130')})
      WHEN 1 THEN concat('Tremblay', {cs('o_orderkey % 130')})
      WHEN 2 THEN concat('Prof Luc Martin', {cs('o_orderkey % 130')},
                         ' LeBlanc')
      WHEN 3 THEN concat('A very extremely long investigator name that ',
                         'overruns the sixty character cap easily ', {ks})
      ELSE concat('Ms Amy Wu', {cs('o_orderkey % 130')}) END"""
    rnb_row = (
        f"concat({rnb_name}, CASE WHEN o_orderkey % 2 = 0 THEN ' - ' "
        f"ELSE ' – ' END, 'University of New Brunswick, Fredericton', "
        f"CASE WHEN o_orderkey % 2 = 0 THEN ' - $' ELSE ' – ' END, "
        f"{cs('o_orderkey % 80 + 20')}, ',000')")
    rnb_lines = arr(
        f"""CASE WHEN o_orderkey % 11 = 0
      THEN 'No structured rows on this page' ELSE {rnb_row} END""",
        f"""CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('Impact of rural telehealth delivery ', {ks})
      WHEN 1 THEN 'Too big'
      WHEN 2 THEN concat('Second award row ', {cs('o_orderkey % 40 + 20')},
                         ' - Mount Allison University - $9,000')
      ELSE concat('Clinical outcomes in pediatric care ', {ks}) END""",
        "'Back to all announcements'")
    rnb_prog = (
        f"CASE WHEN o_orderkey % 3 = 0 THEN concat('Awards 20',"
        f" {cs('o_orderkey % 4 + 20')}, ' Round') "
        f"ELSE concat('Health Research Fund cohort ',"
        f" {cs('o_orderkey % 9')}) END")
    rnb_url = (
        f"concat('https://researchnb.ca/award-announcement-', "
        f"CASE WHEN o_orderkey % 3 = 0 THEN 'spring' "
        f"ELSE concat('20', {cs('o_orderkey % 4 + 21')}) END, '-', "
        f"lpad({ks}, 7, '0'), '/')")
    if dialect == "spark":
        rnb_anchor_arr = (f"filter(zip_with(lines, sequence(1, "
                          f"size(lines)), (t, i) -> CASE WHEN "
                          f"{rl('t', _RNB_ROW)} THEN i END), "
                          f"x -> x IS NOT NULL)")
        rnb_lateral = (f"\n  LATERAL VIEW explode({rnb_anchor_arr}) "
                       f"rnb_a AS anchor")
    else:
        rnb_anchor_arr = (f"list_filter(list_transform(lines, (t, i) -> "
                          f"CASE WHEN {rl('t', _RNB_ROW)} THEN i END), "
                          f"x -> x IS NOT NULL)")
        rnb_lateral = (f"\n  CROSS JOIN UNNEST({rnb_anchor_arr}) "
                       f"AS rnb_a(anchor)")
    _, rnb_given, rnb_family = _split_common(
        dialect, "name_cap", strip_title=True, cut=None, min2max4=False,
        mono_family=True)

    return f"""
WITH bacp_pages AS (
  SELECT o_orderkey AS k,
    CAST(o_orderkey % 6 + 2019 AS INT) AS year,
    concat('https://www.bacp.co.uk/research-grants-',
           {cs('o_orderkey % 6 + 2019')}, '?p=',
           lpad({ks}, 7, '0')) AS url,
    {bacp_lines} AS lines
  FROM orders
),
bacp_anchored AS (
  SELECT *, {bacp_i} AS anchor FROM bacp_pages
),
bacp_scanned AS (
  SELECT *, {bacp_jt} AS jt, {bacp_ji} AS ji,
    {clean(f"regexp_replace({elem('lines', 'anchor')}, '(?i)^Principal Investigator[ ]*:[ ]*', ''{g})")}
      AS pi_raw
  FROM bacp_anchored WHERE anchor IS NOT NULL
),
{bar("bacp_rows", "bacp_scanned", ["k", "year", "url"], [
    ("title", f"CASE WHEN jt IS NOT NULL THEN {bacp_title} END"),
    ("institution",
     "CASE WHEN ji IS NOT NULL THEN "
     + clean(f"regexp_replace({elem('lines', 'ji')}, "
             f"'(?i)^Lead institution[ ]*:[ ]*', ''{g})") + " END"),
    ("pi_given", bacp_given), ("pi_family", bacp_family)])},
bacp_keyed AS (
  SELECT *, concat('bacp-', {cs('year')}, '-', {slug('pi_family')})
    AS funder_award_id
  FROM bacp_rows WHERE pi_family IS NOT NULL AND title IS NOT NULL
),
bacp_out AS (
  SELECT 'bacp' AS member, funder_award_id, title, pi_given, pi_family,
    institution, CAST(NULL AS DOUBLE) AS amount,
    CAST(year AS INT) AS start_year, CAST(NULL AS {S}) AS funder_scheme,
    CAST(NULL AS {S}) AS description, url AS landing_page_url
  FROM (SELECT *, row_number() OVER (PARTITION BY funder_award_id
                                     ORDER BY url) AS rn
        FROM bacp_keyed) WHERE rn = 1
),
bdsra_pages AS (
  SELECT o_orderkey AS k,
    CAST(o_orderkey % 5 + 2020 AS INT) AS year,
    concat('https://battenresearch.org/grant-recipients-',
           {cs('o_orderkey % 5 + 2020')}, '/', lpad({ks}, 7, '0'), '/')
      AS url,
    {bdsra_lines} AS lines
  FROM orders
),
bdsra_anchored AS (
  SELECT *, {bdsra_i} AS anchor FROM bdsra_pages
),
bdsra_scanned AS (
  SELECT *, {bdsra_jamt} AS jamt,
    {elem('lines', 'anchor - 1')} AS title_raw,
    {elem('lines', 'anchor + 1')} AS pi_raw
  FROM bdsra_anchored WHERE anchor IS NOT NULL AND anchor > 1
),
bdsra_aff AS (
  SELECT *, {bdsra_jaff} AS jaff FROM bdsra_scanned
),
{bar("bdsra_rows", "bdsra_aff", ["k", "year", "url", "title_raw"], [
    ("title", clean("title_raw")),
    ("institution", bdsra_inst), ("amount", bdsra_amt),
    ("pi_given", bdsra_given), ("pi_family", bdsra_family)])},
bdsra_keyed AS (
  SELECT *, concat('bdsra-', {cs('year')}, '-', {slug('pi_family')}, '-',
                   {slug('substr(title, 1, 30)')}) AS funder_award_id
  FROM bdsra_rows
  WHERE title IS NOT NULL AND pi_family IS NOT NULL
    AND NOT {rl('title_raw', '(?i)^(CHIEF|AFFIL|AMOUNT)')}
),
bdsra_out AS (
  SELECT 'bdsra' AS member, funder_award_id, title, pi_given, pi_family,
    institution, amount, CAST(year AS INT) AS start_year,
    CAST(NULL AS {S}) AS funder_scheme, CAST(NULL AS {S}) AS description,
    url AS landing_page_url
  FROM (SELECT *, row_number() OVER (PARTITION BY funder_award_id
                                     ORDER BY url) AS rn
        FROM bdsra_keyed) WHERE rn = 1
),
gla_pages AS (
  SELECT o_orderkey AS k, {gla_lines} AS lines
  FROM orders
),
gla_heads AS (
  SELECT *, {elem('lines', '1')} AS heading_raw FROM gla_pages
),
gla_named AS (
  SELECT *, {clean('heading_raw')} AS heading,
    {gla_cand} AS cand
  FROM gla_heads
  WHERE {rl(clean('heading_raw'), _NAME_DEG)}
),
{bar("gla_rows", "gla_named", ["k"], [
    ("title", elem("cand", "1")), ("description", elem("cand", "2")),
    ("pi_given", gla_given), ("pi_family", gla_family)])},
gla_keyed AS (
  SELECT *, concat('gla-', {slug('pi_family')}, '-',
                   {slug('substr(title, 1, 30)')}) AS funder_award_id
  FROM gla_rows WHERE pi_family IS NOT NULL AND title IS NOT NULL
),
gla_out AS (
  SELECT 'gla' AS member, funder_award_id, title, pi_given, pi_family,
    CAST(NULL AS {S}) AS institution, CAST(NULL AS DOUBLE) AS amount,
    CAST(NULL AS INT) AS start_year, CAST(NULL AS {S}) AS funder_scheme,
    description,
    'https://globallymealliance.org/grantees' AS landing_page_url
  FROM (SELECT *, row_number() OVER (PARTITION BY funder_award_id
                                     ORDER BY k) AS rn
        FROM gla_keyed) WHERE rn = 1
),
ons_pages AS (
  SELECT o_orderkey AS k, {ons_lines} AS lines FROM orders
),
ons_anchored AS (
  SELECT *, {ons_i} AS anchor FROM ons_pages
),
ons_rows AS (
  SELECT k,
    {elem('lines', 'anchor - 1')} AS name_line,
    CAST({rx(elem('lines', 'anchor'), ons_recip_pat, 1)} AS INT)
      AS year,
    {clean(rx(elem('lines', 'anchor'), ons_recip_pat, 2))}
      AS scheme
  FROM ons_anchored
  WHERE anchor IS NOT NULL AND anchor > 1
    AND {rl(elem('lines', 'anchor - 1'), _ONS_NAME_LINE)}
),
{bar("ons_named", "ons_rows", ["k", "year", "scheme"], [
    ("pi_given", ons_given), ("pi_family", ons_family)])},
ons_keyed AS (
  SELECT *, concat('ons-', {cs('year')}, '-', {slug('pi_family')}, '-',
                   substr({slug('scheme')}, 1, 20)) AS funder_award_id
  FROM ons_named WHERE pi_family IS NOT NULL
),
ons_out AS (
  SELECT 'ons_foundation' AS member, funder_award_id,
    concat(scheme, ' (', {cs('year')}, ')') AS title, pi_given, pi_family,
    CAST(NULL AS {S}) AS institution, CAST(NULL AS DOUBLE) AS amount,
    year AS start_year, scheme AS funder_scheme,
    CAST(NULL AS {S}) AS description,
    'https://onfgivesback.org/research-grants' AS landing_page_url
  FROM (SELECT *, row_number() OVER (PARTITION BY funder_award_id
                                     ORDER BY k) AS rn
        FROM ons_keyed) WHERE rn = 1
),
rnb_pages AS (
  SELECT o_orderkey AS k, {rnb_url} AS url, {rnb_prog} AS prog,
    {rnb_lines} AS lines
  FROM orders
),
rnb_anchored AS (
  -- the reference walks EVERY line of a page, so a page can yield
  -- several award rows; explode all ROW-matching indices
  SELECT *,
    CAST({rx(f"concat(url, ' ', coalesce(prog, ''))", '(20[0-9]{2})', 1)}
         AS INT) AS year
  FROM rnb_pages{rnb_lateral}
),
{bar("rnb_rows", "rnb_anchored", ["k", "url", "prog", "year", "anchor"], [
    ("name_cap", rx(elem("lines", "anchor"), _RNB_ROW, 1)),
    ("inst_cap", rx(elem("lines", "anchor"), _RNB_ROW, 2)),
    ("amount",
     f"try_cast(replace({rx(elem('lines', 'anchor'), _RNB_ROW, 3)}, "
     f"',', '') AS DOUBLE)"),
    ("title_next",
     f"CASE WHEN {elem('lines', 'anchor + 1')} IS NOT NULL "
     f"AND NOT {rl(elem('lines', 'anchor + 1'), _RNB_ROW)} "
     f"AND length({elem('lines', 'anchor + 1')}) >= 8 "
     f"THEN {elem('lines', 'anchor + 1')} END")])},
{bar("rnb_named", "rnb_rows",
     ["k", "url", "prog", "year", "anchor", "name_cap", "inst_cap",
      "amount", "title_next"],
     [("pi_given", rnb_given), ("pi_family", rnb_family)])},
rnb_keyed AS (
  SELECT *, concat('researchnb-', {slug('name_cap')}, '-',
    {slug("substr(coalesce(title_next, prog, ''), 1, 30)")})
    AS funder_award_id
  FROM rnb_named WHERE pi_family IS NOT NULL
),
rnb_out AS (
  SELECT 'researchnb' AS member, funder_award_id,
    coalesce({clean('title_next')}, {clean('prog')}) AS title,
    pi_given, pi_family, {clean('inst_cap')} AS institution, amount,
    year AS start_year, prog AS funder_scheme,
    CAST(NULL AS {S}) AS description, url AS landing_page_url
  FROM (SELECT *, row_number() OVER (PARTITION BY funder_award_id
                                     ORDER BY url, anchor) AS rn
        FROM rnb_keyed) WHERE rn = 1
)
SELECT * FROM bacp_out
UNION ALL SELECT * FROM bdsra_out
UNION ALL SELECT * FROM gla_out
UNION ALL SELECT * FROM ons_out
UNION ALL SELECT * FROM rnb_out
"""


@register(
    "tinyfunder_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Tiny-funder line-scan scraper kit (scripts/local/{bacp,bdsra,"
         "gla,ons_foundation,researchnb}_to_s3.py)"),
    spread=("orders",),
)
def tinyfunder_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five line-scan scrapers in one union plan (module docstring has
    the per-member semantics map).  Array-HOF window scans; the only
    exchanges are the five per-member keep-first windows."""
    return spark.sql(sqlkit.build(_sql, "spark"))
