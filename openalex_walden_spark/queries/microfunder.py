"""Micro-funder scraper kit
(scripts/local/{eruk,lcrf,fmfc,ntap,brain_research_uk,
medical_research_scotland,blood_cancer_uk,cirm}_to_s3.py — 8 scripts,
one ~200-line WP-REST / sitemap-detail skeleton).

Eight small ingests share the micro skeleton: ``clean`` (unescape/ws
collapse), per-member honorific ``_TITLE_RE`` sets, the
mono-keeps-family split, sitemap/REST discovery (seam), and the
stringify-all ship.  The fixture delivers each page/record's
extracted fields (detail pages arrive as ordered line arrays, the
tinyfunder convention).  Ported compute:

* **eruk** (eruk_to_s3.py:50-120): title = unescaped+collapsed WP
  rendered title, rows without one dropped; category taxonomy ids
  comma-joined; id 'eruk-{slug}' cut at 120; keep-first on slug;
* **lcrf** (lcrf_to_s3.py:50-160): ``parse_title`` over the
  'YEAR – PROGRAM – INSTITUTION – PI' rendered form — dash-split on
  ``\\s[–—-]\\s``, a leading 20xx year pops, the LAST part is the
  institution when it hits INST_KEY without a degree token, else it
  is the PI with the institution second-from-last and the programme
  ' - '-joined from the rest; <2 parts keeps only the title;
  split_name strips Dr/Prof, ALL degree tokens, then the pre-comma
  part; keep-first dedup on 'lcrf-{slug}'[:120]; start_year numeric;
* **fmfc** (fmfc_to_s3.py:51-160): trailing ' - VIC' state codes drop
  before the honorific strip; table cells give institution/amount
  (DOUBLE)/term; id 'fmfc-{slug(appno) else slug(title)}' — the
  sequential '-{n}' collision suffix is order-dependent and the
  fixture keys records uniquely (rule documented, not exercised);
* **ntap** (ntap_to_s3.py:55-180): ``classify`` assigns the four
  researcher_name divs positionally [study, PI, institution,
  location] and falls back to the degree/LOC/INST heuristics when the
  count differs; the first PI splits on ';' or ' and ' before a
  capital (the reference's lookahead emulated with a lazy prefix
  capture — RE2 has no lookahead); the LOC tail maps USA/UK to the
  long country names and passes others through;
* **brain_research_uk** (brain_research_uk_to_s3.py:48-125): the
  'researcher' label line anchors the PI (next line); exact
  FUND_TYPES lines set the programme; 'awarded in' / 'completed'
  tails parse Month-Year (title-cased month lookup, bare-year Jan-1
  fallback); institution = the first INST_RE line within 6 lines
  after the anchor, <60 chars and not the bare word 'institute';
  parse_pi splits the multi-PI list on ;/and/&/, first;
* **medical_research_scotland** (:47-130): 'Student:'/'Supervisor'
  labels via ``val_after`` (same-line value else next non-NAV line);
  a 'Name : University' student splits at the colon; year from the
  'year award started' line; institution = the nearest INST_RE line
  ABOVE the anchor within 8 (NAV and >70-char lines skipped) with a
  whole-page fallback; supervisor ships only when a student exists;
* **blood_cancer_uk** (:51-108): 'Lead researcher' label → next line
  PI, the line after = institution unless it is itself one of the
  LABELS; Related Conditions / Research Type / Region next-line
  values; parse_pi also strips the honour/degree token run;
* **cirm** (:51-135): ``val_after`` label scan with the ':'-rstrip
  equality and a 3-line non-empty lookahead; the Investigator block =
  12 lines from the first 'Investigator' line, Name:/Institution:
  resolved inside it; Award Type = the line directly above
  'Grant Number:' when it is not itself a label; amount =
  int-rendered digits of Award Value; id = the grant number else
  'cirm-{slug}'.

Plan: 8 scan arms behind Generate barriers + two keep-first windows
(eruk/lcrf slugs collide in the fixture); everything else unique by
construction.  No Python.

tests/test_template_fidelity.py re-derives all eight members.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_LCRF_INST_KEY = ("(?i)(Universit|College|Institute|Hospital|School|"
                  "Center|Centre|Cancer|Clinic|Foundation|Health|"
                  "Medical|Laborator|NYU|MIT|UCLA|UCSF)")
_LCRF_DEGREE = ("(?i),?\\\\s*(MD|PhD|DPhil|MPH|MSc|MS|DO|PharmD|DVM|ScD|"
                "MBBS|FRCP|RN)\\\\b\\\\.?")
_NTAP_DEGREE = ("(Ph\\\\.?D|M\\\\.?D|D\\\\.?Phil|M\\\\.?B\\\\.?B\\\\.?S|"
                "D\\\\.?O|M\\\\.?Sc|Pharm\\\\.?D)")
_NTAP_INST = ("(?i)(Universit|College|Institute|Hospital|School|Center|"
              "Centre)")
_NTAP_LOC = ("^.+,\\\\s*(USA|United States|Canada|UK|United Kingdom|"
             "Germany|France|Australia|Israel|Italy|Spain|Netherlands|"
             "Sweden|Switzerland|Japan|China|Belgium|Austria|Denmark|"
             "Finland|Norway|Ireland|[A-Z][a-z]+)\\\\s*$")
_BRUK_INST = ("(?i)(University|College|Institute|Imperial|King''?s|"
              "Hospital|School of|UCL|Queen Mary|Newcastle|Cardiff|"
              "Dundee|Edinburgh)")
_MRS_INST = ("(?i)(University|College|Institute|Royal|NHS|Hospital|"
             "School of|Abertay|Heriot-Watt|Strathclyde|Napier|"
             "Robert Gordon)")
_MRS_NAV = ("'awards','phd studentships','close','award rates',"
            "'research funding strategy','scientific publications',"
            "'undergraduate vacation scholarships','past award',"
            "'current award','/','menu','home','about','contact'")
_BRUK_FUND_TYPES = ("'fellowship','project grant','phd studentship',"
                    "'programme grant','pump priming','small grant',"
                    "'studentship','research grant'")


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, asize, clean = k.g, k.S, k.cs, k.bar, k.asize, k.clean
    elem, idx_of, nullcols, rl, rx = k.elem, k.idx_of, k.nullcols, k.rl, k.rx
    slug = k.slug

    def arrlit(*items: str) -> str:
        if dialect == "spark":
            body = ",\n      ".join(items)
            return (f"filter(array(\n      {body}\n    ), "
                    f"x -> x IS NOT NULL)")
        body = ",\n      ".join(items)
        return (f"list_filter([\n      {body}\n    ], "
                f"x -> x IS NOT NULL)")

    def mono_split(n: str):
        """tokens of a pre-stripped name; mono keeps family."""
        if dialect == "spark":
            toks = f"filter(split(coalesce({n}, ''), ' +'), x -> x <> '')"
            head = (f"array_join(slice(({toks}), 1, size(({toks})) - 1), "
                    f"' ')")
        else:
            toks = (f"list_filter(regexp_split_to_array(coalesce({n}, "
                    f"''), ' +'), x -> x <> '')")
            head = (f"list_aggr(list_slice(({toks}), 1, len(({toks})) - "
                    f"1), 'string_agg', ' ')")
        n_toks = asize(f"({toks})")
        last = elem(f"({toks})", n_toks)
        given = f"CASE WHEN {n_toks} >= 2 THEN nullif({head}, '') END"
        family = f"CASE WHEN {n_toks} >= 1 THEN {last} END"
        return given, family

    ks = cs("o_orderkey")
    title_strip = lambda x, pat: (  # noqa: E731
        f"trim(regexp_replace({x}, '{pat}', ''{g}))")
    _T_SHORT = "(?i)^(Dr|Prof|Professor)\\\\.?\\\\s+"
    _T_FULL = "(?i)^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)\\\\.?\\\\s+"
    _T_BRUK = ("(?i)^(Professor|Prof|Doctor|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)"
               "\\\\.?\\\\s+")
    _T_FMFC = ("(?i)^(Dr|Prof|Professor|Associate Professor|A/Prof|Mr|"
               "Mrs|Ms|Miss|Sir|Dame)\\\\.?\\\\s+")
    _T_NTAP = "(?i)^(Dr|Prof|Professor|Mr|Mrs|Ms|Miss)\\\\.?\\\\s+"

    # ---- eruk -------------------------------------------------------------
    eruk = f"""
er_raw AS (
  SELECT o_orderkey AS k,
    concat('project-', {cs('o_orderkey % 900')}) AS wp_slug,
    CASE WHEN o_orderkey % 13 = 0 THEN NULL
      ELSE concat('Seizure  prediction &amp; forecasting study ', {ks})
      END AS title_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat({cs('o_orderkey % 9 + 11')}, ',',
                  {cs('o_orderkey % 5 + 30')}) END AS cat_ids,
    concat('https://epilepsyresearch.org.uk/research_portfolio/',
           'project-', {cs('o_orderkey % 900')}, '/') AS link
  FROM orders
),
er_first AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY wp_slug ORDER BY k) AS rn
    FROM er_raw
  ) WHERE rn = 1
),
er_out AS (
  SELECT 'eruk' AS member,
    substr(concat('eruk-', wp_slug), 1, 120) AS funder_award_id,
    {clean("replace(title_raw, '&amp;', '&')")} AS title,
    {nullcols('pi_given', 'pi_family', 'institution', 'description',
              'funder_scheme', 'term', 'supervisor', 'conditions',
              'research_type', 'region', 'country', 'status',
              'start_date')},
    CAST(NULL AS DOUBLE) AS amount, CAST(NULL AS {S}) AS amount_str,
    CAST(NULL AS INT) AS start_year, CAST(NULL AS {S}) AS end_year,
    cat_ids AS category_ids, link AS landing_page_url
  FROM er_first
  WHERE {clean("replace(title_raw, '&amp;', '&')")} IS NOT NULL
)"""

    # ---- lcrf -------------------------------------------------------------
    if dialect == "spark":
        lc_parts = ("filter(transform(split(rendered, "
                    "'\\\\s[–—-]\\\\s'), x -> trim(x)), x -> x <> '')")
    else:
        lc_parts = ("list_filter(list_transform(regexp_split_to_array("
                    "rendered, '\\s[–—-]\\s'), x -> trim(x)), "
                    "x -> x <> '')")
    lc_name = clean("pi_part")
    lc_name = title_strip(lc_name, _T_SHORT)
    lc_name = (f"trim(BOTH ' .,' FROM regexp_replace({lc_name}, "
               f"'{_LCRF_DEGREE}', ''{g}))")
    lc_name = f"trim({elem(('split(' + lc_name + ', ,C,)'), '1')})"
    lc_name = lc_name.replace(",C,", "','")
    lc_given, lc_family = mono_split(f"({lc_name})")

    lcrf = f""",
lc_raw AS (
  SELECT o_orderkey AS k,
    concat('grant-', {cs('o_orderkey % 850')}) AS wp_slug,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('20', lpad({cs('o_orderkey % 25')}, 2, '0'),
        ' – Career Development Award – Memorial Hospital ',
        {cs('o_orderkey % 60')}, ' – Dr. Maya Lin', {cs('o_orderkey % 150')},
        ', MD, PhD')
      WHEN 1 THEN concat('20', lpad({cs('o_orderkey % 25')}, 2, '0'),
        ' – Pilot Grant – University Cancer Center ',
        {cs('o_orderkey % 60')})
      WHEN 2 THEN concat('Research Grant – UCSF Lab ',
        {cs('o_orderkey % 60')}, ' – James Chen', {cs('o_orderkey % 150')})
      WHEN 3 THEN concat('Untitled award ', {ks})
      ELSE concat('20', lpad({cs('o_orderkey % 25')}, 2, '0'),
        ' - Team Science - Institute ', {cs('o_orderkey % 60')},
        ' - Priya Raman', {cs('o_orderkey % 150')}) END AS rendered,
    concat('https://www.lungcancerresearchfoundation.org/grants/grant-',
           {cs('o_orderkey % 850')}, '/') AS link
  FROM orders
),
lc_parted AS (
  SELECT *, {lc_parts} AS parts0 FROM lc_raw
),
lc_yeared AS (
  SELECT *,
    CAST({rx(elem('parts0', '1'), '^(20[0-9][0-9])', 1)} AS INT)
      AS start_year,
    CASE WHEN {rx(elem('parts0', '1'), '^(20[0-9][0-9])', 1)}
         IS NOT NULL
      THEN {('slice(parts0, 2, size(parts0) - 1)' if dialect == 'spark'
             else 'list_slice(parts0, 2, len(parts0))')}
      ELSE parts0 END AS parts
  FROM lc_parted
),
lc_routed AS (
  SELECT *, {asize('parts')} AS np,
    {elem('parts', asize('parts'))} AS last_part,
    {elem('parts', asize('parts') + ' - 1')} AS second_last
  FROM lc_yeared
),
lc_fields AS (
  SELECT *,
    CASE WHEN {asize('parts0')} < 2 THEN NULL
         WHEN {rl('last_part', _LCRF_INST_KEY)}
              AND NOT {rl('last_part', _LCRF_DEGREE)} THEN NULL
         WHEN np >= 2 THEN last_part END AS pi_part,
    CASE WHEN {asize('parts0')} < 2 THEN NULL
         WHEN {rl('last_part', _LCRF_INST_KEY)}
              AND NOT {rl('last_part', _LCRF_DEGREE)} THEN last_part
         WHEN np >= 2 THEN second_last END AS inst_part,
    CASE WHEN {asize('parts0')} < 2 THEN NULL
         WHEN {rl('last_part', _LCRF_INST_KEY)}
              AND NOT {rl('last_part', _LCRF_DEGREE)}
           THEN {('array_join(slice(parts, 1, np - 1), ' if dialect == 'spark' else 'list_aggr(list_slice(parts, 1, np - 1), ,SA, ')} ' - ')
         WHEN np >= 2
           THEN {('array_join(slice(parts, 1, np - 2), ' if dialect == 'spark' else 'list_aggr(list_slice(parts, 1, np - 2), ,SA, ')} ' - ')
         ELSE {elem('parts', '1')} END AS program_part
  FROM lc_routed
),
{bar("lc_named", "lc_fields",
     ["k", "wp_slug", "rendered", "link", "start_year", "pi_part",
      "inst_part", "program_part"], [
    ("pi_given", lc_given), ("pi_family", lc_family),
])},
lc_first AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY wp_slug ORDER BY k) AS rn
    FROM lc_named
  ) WHERE rn = 1
),
lc_out AS (
  SELECT 'lcrf' AS member,
    substr(concat('lcrf-', wp_slug), 1, 120) AS funder_award_id,
    {clean('rendered')} AS title,
    pi_given, pi_family, {clean('inst_part')} AS institution,
    {nullcols('description')},
    nullif({clean('program_part')}, '') AS funder_scheme,
    {nullcols('term', 'supervisor', 'conditions', 'research_type',
              'region', 'country', 'status', 'start_date')},
    CAST(NULL AS DOUBLE) AS amount, CAST(NULL AS {S}) AS amount_str,
    start_year, CAST(NULL AS {S}) AS end_year,
    {nullcols('category_ids')}, link AS landing_page_url
  FROM lc_first
)"""
    lcrf = lcrf.replace(",SA,", "'string_agg',")

    # ---- fmfc -------------------------------------------------------------
    fm_name = clean("ci_raw")
    fm_name = (f"trim(regexp_replace({fm_name}, "
               f"'\\\\s*[-–]\\\\s*[A-Z]{{2,3}}$', ''{g}))")
    fm_name = title_strip(fm_name, _T_FMFC)
    fm_name = f"trim({elem('split(' + fm_name + ', ,C,)', '1')})"
    fm_name = fm_name.replace(",C,", "','")
    fm_given, fm_family = mono_split(f"({fm_name})")
    fm_amt = ("try_cast(replace(nullif(regexp_extract("
              "coalesce(fm.amount_raw, ''), "
              "'[$]?\\\\s*([0-9,]+)', 1), ''), ',', '') AS DOUBLE)")

    fmfc = f""",
fm_raw AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE concat('APP', {cs('o_orderkey + 3000')}) END AS appno,
    concat('Paediatric resilience project ', {ks}) AS title_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('Murdoch Children', '''', 's Institute ',
                  {cs('o_orderkey % 40')}) END AS inst_raw,
    CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN concat('$', {cs('o_orderkey % 90 + 10')}, ',000')
      WHEN 2 THEN '75,500' ELSE 'funded' END AS amount_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat({cs('o_orderkey % 3 + 1')}, ' years') END AS term_raw,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('Dr K Lycett', {cs('o_orderkey % 140')})
      WHEN 1 THEN concat('Professor Anne-Louise Ponsonby',
                         {cs('o_orderkey % 140')}, ' - VIC')
      WHEN 2 THEN concat('A/Prof Sam Wood', {cs('o_orderkey % 140')},
                         ', PhD')
      ELSE NULL END AS ci_raw
  FROM orders
),
{bar("fm_named", "fm_raw",
     ["k", "appno", "title_raw", "inst_raw", "amount_raw", "term_raw",
      "ci_raw"], [
    ("pi_given", fm_given.replace("fm.", "")),
    ("pi_family", fm_family.replace("fm.", "")),
    ("amount", fm_amt.replace("fm.", "")),
])},
fm_out AS (
  SELECT 'fmfc' AS member,
    concat('fmfc-', CASE WHEN appno IS NOT NULL THEN {slug('appno')}
                         ELSE {slug('title_raw')} END) AS funder_award_id,
    {clean('title_raw')} AS title, pi_given, pi_family,
    {clean('inst_raw')} AS institution, {nullcols('description',
    'funder_scheme')},
    {clean('term_raw')} AS term,
    {nullcols('supervisor', 'conditions', 'research_type', 'region',
              'country', 'status', 'start_date')},
    amount, CAST(NULL AS {S}) AS amount_str,
    CAST(NULL AS INT) AS start_year, CAST(NULL AS {S}) AS end_year,
    {nullcols('category_ids')},
    'https://www.foundationforchildren.com.au/where-your-money-goes/'
      AS landing_page_url
  FROM fm_named
)"""

    # ---- ntap -------------------------------------------------------------
    nt_first_pi = rx("coalesce(nt.pi_val, '')",
                     "^(.*?)(;| and [A-Z]|$)", 1)
    nt_name = clean(f"({nt_first_pi})")
    nt_name = title_strip(nt_name, _T_NTAP)
    nt_name = f"trim({elem('split(' + nt_name + ', ,C,)', '1')})"
    nt_name = nt_name.replace(",C,", "','")
    nt_name = (f"trim(BOTH ' .,' FROM regexp_replace({nt_name}, "
               f"'\\\\b{_NTAP_DEGREE}\\\\b\\\\.?', ''{g}))")
    nt_given, nt_family = mono_split(f"({nt_name})")
    nt_loc_cap = rx("coalesce(nt.loc_val, '')", _NTAP_LOC, 1)
    nt_country = (f"CASE WHEN {nt_loc_cap} = 'USA' THEN 'United States' "
                  f"WHEN {nt_loc_cap} = 'UK' THEN 'United Kingdom' "
                  f"ELSE {nt_loc_cap} END")
    # classify: 4 vals positional; else heuristics in reference order
    if dialect == "spark":
        def nt_filter(cond: str) -> str:
            return f"filter(vals, t -> {cond})"
    else:
        def nt_filter(cond: str) -> str:
            return f"list_filter(vals, t -> {cond})"
    deg_cond = rl("t", f"\\\\b{_NTAP_DEGREE}\\\\b")
    loc_cond = (f"{rl('t', _NTAP_LOC)} AND NOT "
                f"{rl('t', _NTAP_INST)}")
    inst_cond = rl("t", _NTAP_INST)
    nt_pi_h = elem(nt_filter(deg_cond), "1")
    nt_loc_h = elem(nt_filter(f"{loc_cond} AND NOT {deg_cond}"), "1")
    nt_inst_h = elem(
        nt_filter(f"{inst_cond} AND NOT {deg_cond} AND NOT ({loc_cond})"),
        "1")
    nt_study_h = elem(
        nt_filter(f"NOT {deg_cond} AND NOT ({loc_cond}) "
                  f"AND NOT {inst_cond}"), "1")

    ntap = f""",
nt_raw AS (
  SELECT o_orderkey AS k,
    concat('NF1 biomarker initiative ', {ks}) AS title_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Preclinical  platform description ', {ks}) END
      AS desc_raw,
    {arrlit(
        "CASE WHEN o_orderkey % 5 <> 4 THEN 'Preclinical study' END",
        f"concat('Dr. Lu Le', {cs('o_orderkey % 160')}, ', M.D., Ph.D'"
        f", CASE WHEN o_orderkey % 6 = 0 THEN ' and Kevin Shannon' "
        f"ELSE '' END)",
        f"concat('University Hospital ', {cs('o_orderkey % 50')})",
        "CASE WHEN o_orderkey % 2 = 0 THEN 'Dallas, USA' "
        "ELSE 'London, UK' END")} AS vals
  FROM orders
),
nt_classified AS (
  SELECT *,
    CASE WHEN {asize('vals')} = 4 THEN {elem('vals', '1')}
         ELSE {nt_study_h} END AS study_val,
    CASE WHEN {asize('vals')} = 4 THEN {elem('vals', '2')}
         ELSE {nt_pi_h} END AS pi_val,
    CASE WHEN {asize('vals')} = 4 THEN {elem('vals', '3')}
         ELSE {nt_inst_h} END AS inst_val,
    CASE WHEN {asize('vals')} = 4 THEN {elem('vals', '4')}
         ELSE {nt_loc_h} END AS loc_val
  FROM nt_raw
),
{bar("nt_named", "nt_classified",
     ["k", "title_raw", "desc_raw", "study_val", "pi_val", "inst_val",
      "loc_val"], [
    ("pi_given", nt_given.replace("nt.", "")),
    ("pi_family", nt_family.replace("nt.", "")),
    ("country", nt_country.replace("nt.", "")),
])},
nt_out AS (
  SELECT 'ntap' AS member,
    concat('ntap-', {slug('title_raw')}) AS funder_award_id,
    {clean('title_raw')} AS title, pi_given, pi_family,
    {clean('inst_val')} AS institution,
    {clean('desc_raw')} AS description,
    {clean('study_val')} AS funder_scheme,
    {nullcols('term', 'supervisor', 'conditions', 'research_type',
              'region')},
    country, {nullcols('status', 'start_date')},
    CAST(NULL AS DOUBLE) AS amount, CAST(NULL AS {S}) AS amount_str,
    CAST(NULL AS INT) AS start_year, CAST(NULL AS {S}) AS end_year,
    {nullcols('category_ids')},
    'https://www.n-tap.org/for-researchers/index-of-funded-nf1-initiatives-research'
      AS landing_page_url
  FROM nt_named
)"""

    # ---- brain_research_uk --------------------------------------------------
    br_pi_first = rx("coalesce(pi_raw, '')",
                     "^(.*?)(;| and |&|,|$)", 1)
    br_name = title_strip(f"trim({br_pi_first})", _T_BRUK)
    br_given, br_family = mono_split(f"({br_name})")
    br_months = ("January,February,March,April,May,June,July,August,"
                 "September,October,November,December")
    if dialect == "spark":
        br_mon_no = (lambda x: f"array_position(split('{br_months}', "
                     f"','), initcap({x}))")
    else:
        br_mon_no = (lambda x: f"list_position(str_split('{br_months}', "
                     f"','), concat(upper(substr({x}, 1, 1)), "
                     f"lower(substr({x}, 2))))")
    br_aw_mon = rx("awarded_tail", "([A-Za-z]+)\\\\s+([0-9]{4})", 1)
    br_aw_yr = rx("awarded_tail", "([A-Za-z]+)\\\\s+([0-9]{4})", 2)
    br_aw_bare = rx("awarded_tail", "([0-9]{4})", 1)
    br_start = (f"CASE WHEN {br_aw_mon} IS NOT NULL AND "
                f"{br_mon_no(br_aw_mon)} IS NOT NULL AND "
                f"{br_mon_no(br_aw_mon)} > 0 THEN concat({br_aw_yr}, '-', "
                f"lpad({cs(br_mon_no(br_aw_mon))}, 2, '0'), '-01') "
                f"WHEN {br_aw_bare} IS NOT NULL "
                f"THEN concat({br_aw_bare}, '-01-01') END")
    br_syear = (f"CASE WHEN {br_aw_mon} IS NOT NULL AND "
                f"{br_mon_no(br_aw_mon)} IS NOT NULL AND "
                f"{br_mon_no(br_aw_mon)} > 0 THEN {br_aw_yr} "
                f"ELSE {br_aw_bare} END")
    br_eyear = rx("completed_tail", "([0-9]{4})", 1)
    br_ridx = idx_of("lines", "lower(t) = 'researcher'")
    br_ft_idx = idx_of("lines", f"lower(t) IN ({_BRUK_FUND_TYPES})")
    br_inst_idx = idx_of(
        "lines",
        f"{rl('t', _BRUK_INST)} AND length(t) < 60 "
        f"AND lower(t) <> 'institute' AND i > ridx AND i <= ridx + 5")

    bruk = f""",
br_raw AS (
  SELECT o_orderkey AS k,
    concat('project-', {ks}) AS page_slug,
    concat('Mapping glioma progression ', {ks}) AS title_raw,
    {arrlit(
        "'Our research'",
        "'researcher'",
        f"concat('Professor Ada Byron', {cs('o_orderkey % 150')}, "
        f"CASE WHEN o_orderkey % 6 = 0 THEN ' and Grace Hopper' "
        f"ELSE '' END)",
        "CASE WHEN o_orderkey % 4 = 0 THEN 'institute' "
        f"ELSE concat('University of Leeds ', {cs('o_orderkey % 9')}) "
        "END",
        "CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'Fellowship' "
        "WHEN 1 THEN 'Project grant' ELSE 'Our supporters' END",
        f"concat('Awarded in ', CASE WHEN o_orderkey % 2 = 0 "
        f"THEN concat('March 20', lpad({cs('o_orderkey % 24')}, 2, "
        f"'0')) ELSE concat('20', lpad({cs('o_orderkey % 24')}, 2, "
        f"'0')) END)",
        f"CASE WHEN o_orderkey % 3 <> 0 THEN concat('Completed ', "
        f"'June 20', lpad({cs('o_orderkey % 24 + 2')}, 2, '0')) END",
        "'Donate now'")} AS lines
  FROM orders
),
br_anchored AS (
  SELECT *, {br_ridx} AS ridx,
    {idx_of('lines', chr(39) + chr(39) + ' = lower(t) OR lower(t) LIKE ' + chr(39) + 'awarded in%' + chr(39))} AS aw_idx
  FROM br_raw
),
br_scanned AS (
  SELECT *, {elem('lines', 'ridx + 1')} AS pi_raw,
    {elem('lines', f'({br_ft_idx})')} AS ftype,
    trim(substr({elem('lines', 'aw_idx')}, length('awarded in') + 1))
      AS awarded_tail0
  FROM br_anchored WHERE ridx IS NOT NULL
),
br_tails AS (
  SELECT *,
    CASE WHEN awarded_tail0 <> '' THEN awarded_tail0
         ELSE {elem('lines', 'aw_idx + 1')} END AS awarded_tail,
    CASE WHEN {idx_of('lines', chr(39) + chr(39) + ' = lower(t) OR lower(t) LIKE ' + chr(39) + 'completed%' + chr(39) + ' OR lower(t) LIKE ' + chr(39) + 'completion%' + chr(39))} IS NOT NULL
      THEN {elem('lines', idx_of('lines', chr(39) + chr(39) + ' = lower(t) OR lower(t) LIKE ' + chr(39) + 'completed%' + chr(39) + ' OR lower(t) LIKE ' + chr(39) + 'completion%' + chr(39)))}
      END AS completed_line
  FROM br_scanned
),
br_completed AS (
  SELECT *,
    CASE WHEN completed_line IS NOT NULL
         AND instr(completed_line, ' ') > 0
      THEN substr(completed_line, instr(completed_line, ' ') + 1)
      END AS completed_tail,
    {elem('lines', f'({br_inst_idx})')} AS institution
  FROM br_tails
),
{bar("br_parsed", "br_completed",
     ["k", "page_slug", "title_raw", "pi_raw", "ftype", "awarded_tail",
      "completed_tail", "institution"], [
    ("pi_given", br_given), ("pi_family", br_family),
    ("start_date", br_start), ("start_year", br_syear),
    ("end_year", br_eyear),
])},
br_out AS (
  SELECT 'brain_research_uk' AS member,
    concat('bruk-', page_slug) AS funder_award_id,
    title_raw AS title, pi_given, pi_family, institution,
    {nullcols('description')}, ftype AS funder_scheme,
    {nullcols('term', 'supervisor', 'conditions', 'research_type',
              'region', 'country', 'status')},
    start_date, CAST(NULL AS DOUBLE) AS amount,
    CAST(NULL AS {S}) AS amount_str,
    CAST(start_year AS INT) AS start_year, end_year,
    {nullcols('category_ids')},
    concat('https://www.brainresearchuk.org.uk/research-project/',
           page_slug, '/') AS landing_page_url
  FROM br_parsed WHERE title_raw IS NOT NULL
)"""

    # ---- medical_research_scotland -------------------------------------------
    mrs_student_idx = idx_of("lines", "lower(t) LIKE 'student:%'")
    mrs_sup_idx = idx_of("lines", "lower(t) LIKE 'supervisor%'")
    mrs_year_line = elem(
        "lines", idx_of("lines", "lower(t) LIKE 'year award started%'"))
    ms_pi_first = rx("coalesce(pi0, '')", "^(.*?)(;| and |&|,|$)", 1)
    ms_name = title_strip(f"trim({ms_pi_first})", _T_FULL)
    ms_given, ms_family = mono_split(f"({ms_name})")
    mrs_anchor = "least(coalesce(sidx, 100000), coalesce(pidx, 100000))"
    mrs_inst_above = idx_of(
        "lines",
        f"{rl('t', _MRS_INST)} AND length(t) <= 70 "
        f"AND lower(t) NOT IN ({_MRS_NAV}) "
        f"AND NOT (lower(t) LIKE 'student%' OR lower(t) LIKE "
        f"'supervisor%' OR lower(t) LIKE 'year%') "
        f"AND i <= anchor AND i > anchor - 8", "array_max")
    mrs_inst_any = idx_of(
        "lines",
        f"{rl('t', _MRS_INST)} AND length(t) < 70 "
        f"AND lower(t) NOT IN ({_MRS_NAV})")

    ms_student_line = (
        "CASE WHEN o_orderkey % 3 = 0 THEN concat('Student: Rory Gail', "
        + cs("o_orderkey % 150")
        + ", ' : University of Dundee') WHEN o_orderkey % 3 = 1 "
          "THEN 'Student:' ELSE 'About the award' END")
    ms_sup_line = (
        "CASE WHEN o_orderkey % 3 = 1 THEN concat('Fiona Glen', "
        + cs("o_orderkey % 150")
        + ") ELSE concat('Supervisor: Prof Ewan Muir', "
        + cs("o_orderkey % 150") + ") END")

    mrs = f""",
ms_raw AS (
  SELECT o_orderkey AS k,
    concat('award-', {ks}) AS page_slug,
    concat('Mechanisms of fibrosis ', {ks}) AS title_raw,
    {arrlit(
        "'Menu'",
        "'Awards'",
        f"concat('University of Dundee ', {cs('o_orderkey % 9')})",
        ms_student_line,
        ms_sup_line,
        f"concat('Year Award Started 20', lpad({cs('o_orderkey % 24')},"
        f" 2, '0'))",
        "'Contact'")} AS lines
  FROM orders
),
ms_anchored AS (
  SELECT *, {mrs_student_idx} AS sidx, {mrs_sup_idx} AS pidx
  FROM ms_raw
),
ms_vals AS (
  SELECT *, {mrs_anchor} AS anchor,
    CASE WHEN sidx IS NOT NULL THEN
      CASE WHEN nullif(trim(trim(BOTH ':' FROM
             substr({elem('lines', 'sidx')}, length('Student:') + 1))),
             '') IS NOT NULL
        THEN trim(trim(BOTH ':' FROM
             substr({elem('lines', 'sidx')}, length('Student:') + 1)))
        WHEN lower(coalesce({elem('lines', 'sidx + 1')}, ''))
             NOT IN ({_MRS_NAV})
        THEN {elem('lines', 'sidx + 1')} END END AS student0,
    CASE WHEN pidx IS NOT NULL THEN
      CASE WHEN nullif(trim(substr({elem('lines', 'pidx')},
             instr({elem('lines', 'pidx')}, ':') + 1)), '') IS NOT NULL
           AND instr({elem('lines', 'pidx')}, ':') > 0
        THEN trim(substr({elem('lines', 'pidx')},
             instr({elem('lines', 'pidx')}, ':') + 1))
        WHEN lower(coalesce({elem('lines', 'pidx + 1')}, ''))
             NOT IN ({_MRS_NAV})
        THEN {elem('lines', 'pidx + 1')} END END AS supervisor0,
    {rx(mrs_year_line, '((19|20)[0-9][0-9])', 1)} AS start_year0
  FROM ms_anchored
),
ms_fields AS (
  SELECT *,
    CASE WHEN student0 IS NOT NULL AND instr(student0, ':') > 0
      THEN trim({elem("split(student0, ':')", "1")})
      ELSE student0 END AS student,
    coalesce({elem('lines', f'({mrs_inst_above})')},
             {elem('lines', f'({mrs_inst_any})')}) AS institution
  FROM ms_vals
),
ms_pi AS (
  SELECT *, coalesce(student, supervisor0) AS pi0 FROM ms_fields
),
{bar("ms_parsed", "ms_pi",
     ["k", "page_slug", "title_raw", "student", "supervisor0",
      "start_year0", "institution"], [
    ("pi_given", ms_given), ("pi_family", ms_family),
])},
ms_out AS (
  SELECT 'medical_research_scotland' AS member,
    concat('mrs-', page_slug) AS funder_award_id,
    title_raw AS title, pi_given, pi_family, institution,
    {nullcols('description', 'funder_scheme', 'term')},
    CASE WHEN student IS NOT NULL THEN supervisor0 END AS supervisor,
    {nullcols('conditions', 'research_type', 'region', 'country',
              'status', 'start_date')},
    CAST(NULL AS DOUBLE) AS amount, CAST(NULL AS {S}) AS amount_str,
    CAST(start_year0 AS INT) AS start_year,
    CAST(NULL AS {S}) AS end_year, {nullcols('category_ids')},
    concat('https://medicalresearchscotland.org.uk/awards/', page_slug,
           '/') AS landing_page_url
  FROM ms_parsed WHERE title_raw IS NOT NULL
)"""

    # ---- blood_cancer_uk -------------------------------------------------------
    bc_lr_idx = idx_of("lines", "t = 'Lead researcher'")
    bc_label = lambda name: idx_of("lines", f"t = '{name}'")  # noqa: E731
    bc_pi_first = rx("coalesce(pi_raw, '')", "^(.*?)(;| and |&|$)", 1)
    bc_name = title_strip(f"trim({bc_pi_first})", _T_FULL)
    bc_name = (f"trim(BOTH ',' FROM trim(regexp_replace({bc_name}, "
               f"'\\\\b(PhD|MD|FMedSci|OBE|MBE|CBE|FRCP|FRS)\\\\b"
               f"\\\\.?', ''{g})))")
    bc_given, bc_family = mono_split(f"({bc_name})")
    bc_inst_gate = (
        f"NOT ({elem('lines', 'lridx + 2')} LIKE 'Related Conditions%' "
        f"OR {elem('lines', 'lridx + 2')} LIKE 'Research Type%' "
        f"OR {elem('lines', 'lridx + 2')} LIKE 'Region%' "
        f"OR {elem('lines', 'lridx + 2')} LIKE 'Lead researcher%')")

    bc_inst_line = (
        "CASE WHEN o_orderkey % 4 = 0 THEN 'Related Conditions' "
        "ELSE concat('University of Glasgow ', "
        + cs("o_orderkey % 9") + ") END")
    bc_rt_line = (
        "CASE WHEN o_orderkey % 5 = 0 THEN concat('Clinical trial ', "
        + cs("o_orderkey % 3") + ") ELSE 'Research Type' END")

    bcuk = f""",
bc_raw AS (
  SELECT o_orderkey AS k,
    concat('project-', {ks}) AS page_slug,
    concat('Targeting leukaemia stem cells ', {ks}) AS title_raw,
    {arrlit(
        "'Research projects'",
        "'Lead researcher'",
        f"concat('Professor Mhairi Copland', {cs('o_orderkey % 150')},"
        f" ' PhD FRCP')",
        bc_inst_line,
        "CASE WHEN o_orderkey % 4 <> 0 THEN 'Related Conditions' END",
        f"CASE WHEN o_orderkey % 5 <> 0 THEN concat('Leukaemia type ', "
        f"{cs('o_orderkey % 4')}) ELSE 'Research Type' END",
        bc_rt_line,
        f"concat('Discovery research ', {cs('o_orderkey % 3')})",
        "'Region'",
        "CASE WHEN o_orderkey % 2 = 0 THEN 'Scotland' ELSE 'London' END"
        )} AS lines
  FROM orders
),
bc_anchored AS (
  SELECT *, {bc_lr_idx} AS lridx,
    {bc_label('Related Conditions')} AS cidx,
    {bc_label('Research Type')} AS rtidx,
    {bc_label('Region')} AS ridx
  FROM bc_raw
),
bc_vals AS (
  SELECT *,
    CASE WHEN lridx IS NOT NULL THEN {elem('lines', 'lridx + 1')} END
      AS pi_raw,
    CASE WHEN lridx IS NOT NULL AND {elem('lines', 'lridx + 2')}
         IS NOT NULL AND {bc_inst_gate}
      THEN {elem('lines', 'lridx + 2')} END AS institution,
    CASE WHEN cidx IS NOT NULL THEN {elem('lines', 'cidx + 1')} END
      AS conditions,
    CASE WHEN rtidx IS NOT NULL THEN {elem('lines', 'rtidx + 1')} END
      AS research_type,
    CASE WHEN ridx IS NOT NULL THEN {elem('lines', 'ridx + 1')} END
      AS region
  FROM bc_anchored
),
{bar("bc_parsed", "bc_vals",
     ["k", "page_slug", "title_raw", "pi_raw", "institution",
      "conditions", "research_type", "region"], [
    ("pi_given", bc_given), ("pi_family", bc_family),
])},
bc_out AS (
  SELECT 'blood_cancer_uk' AS member,
    concat('bcuk-', page_slug) AS funder_award_id,
    title_raw AS title, pi_given, pi_family, institution,
    {nullcols('description', 'funder_scheme', 'term', 'supervisor')},
    conditions, research_type, region,
    {nullcols('country', 'status', 'start_date')},
    CAST(NULL AS DOUBLE) AS amount, CAST(NULL AS {S}) AS amount_str,
    CAST(NULL AS INT) AS start_year, CAST(NULL AS {S}) AS end_year,
    {nullcols('category_ids')},
    concat('https://bloodcancer.org.uk/research/research-projects/',
           page_slug, '/') AS landing_page_url
  FROM bc_parsed WHERE title_raw IS NOT NULL
)"""

    # ---- cirm ----------------------------------------------------------------
    def ci_val_after(label: str, arr: str = "lines") -> str:
        """val_after: first non-empty of the 3 lines after the label."""
        lidx = idx_of(arr, f"trim(BOTH ':' FROM trim(t)) = "
                           f"trim(BOTH ':' FROM '{label}')")
        nxt = idx_of(arr, f"trim(t) <> '' AND i > ({lidx}) "
                          f"AND i <= ({lidx}) + 3")
        return (f"CASE WHEN ({lidx}) IS NOT NULL "
                f"THEN trim({elem(arr, f'({nxt})')}) END")

    ci_inv_idx = idx_of("lines", "trim(t) LIKE 'Investigator%'")
    if dialect == "spark":
        ci_blk = "slice(lines, inv_idx, 12)"
    else:
        ci_blk = "list_slice(lines, inv_idx, inv_idx + 11)"
    ci_gn_idx = idx_of("lines", "trim(t) = 'Grant Number:'")
    ci_scheme_cand = elem("lines", "gn_idx - 1")
    ci_pi_first = rx("coalesce(pi_raw, '')", "^(.*?)(;| and |&|,|$)", 1)
    ci_name = title_strip(f"trim({ci_pi_first})", _T_FULL)
    ci_name = (f"trim(BOTH ',' FROM trim(regexp_replace({ci_name}, "
               f"'\\\\b(PhD|MD|MBA|DVM|DPhil|ScD|FMedSci|OBE|MBE|CBE|"
               f"FRCP|FRS)\\\\b\\\\.?', ''{g})))")
    ci_given, ci_family = mono_split(f"({ci_name})")
    ci_amt = (f"CASE WHEN award_value IS NOT NULL AND "
              f"{rx('replace(award_value, ' + chr(39) + '$' + chr(39) + ', ' + chr(39) + chr(39) + ')', '([0-9,]+)', 1)} IS NOT NULL "
              f"THEN {cs('CAST(replace(' + rx('replace(award_value, ' + chr(39) + '$' + chr(39) + ', ' + chr(39) + chr(39) + ')', '([0-9,]+)', 1) + ', ' + chr(39) + ',' + chr(39) + ', ' + chr(39) + chr(39) + ') AS BIGINT)')} END")

    ci_value_line = (
        "CASE WHEN o_orderkey % 4 = 0 THEN 'pending' "
        "ELSE concat('$', " + cs("o_orderkey % 900 + 100")
        + ", ',', lpad(" + cs("o_orderkey % 1000") + ", 3, '0')) END")

    cirm = f""",
ci_raw AS (
  SELECT o_orderkey AS k,
    concat('award-', {ks}) AS page_slug,
    concat('Stem cell therapy program ', {ks}) AS title_raw,
    {arrlit(
        "CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'Basic Biology I'"
        " WHEN 1 THEN 'Translational II' ELSE 'More Information:' END",
        "'Grant Number:'",
        f"concat('DISC2-', {cs('o_orderkey + 5000')})",
        "'Award Value:'",
        ci_value_line,
        "'Status:'",
        "CASE WHEN o_orderkey % 2 = 0 THEN 'Active' ELSE 'Closed' END",
        "'Investigator(s):'",
        "'Name:'",
        f"concat('Dr. June Park', {cs('o_orderkey % 160')}, ', PhD')",
        "'Institution:'",
        f"concat('Stanford University ', {cs('o_orderkey % 7')})")}
      AS lines
  FROM orders
),
ci_anchored AS (
  SELECT *, {ci_inv_idx} AS inv_idx, {ci_gn_idx} AS gn_idx FROM ci_raw
),
ci_blocked AS (
  SELECT *, CASE WHEN inv_idx IS NOT NULL THEN {ci_blk} END AS blk
  FROM ci_anchored
),
ci_vals AS (
  SELECT *,
    {ci_val_after('Grant Number:')} AS grant_no,
    {ci_val_after('Award Value:')} AS award_value,
    {ci_val_after('Status:')} AS status,
    coalesce({ci_val_after('Name:', 'blk')},
             CASE WHEN inv_idx IS NULL
                  THEN {ci_val_after('Name:')} END) AS pi_raw,
    coalesce({ci_val_after('Institution:', 'blk')},
             {ci_val_after('Institution:')}) AS institution,
    CASE WHEN gn_idx IS NOT NULL AND gn_idx > 1
         AND {ci_scheme_cand} IS NOT NULL
         AND NOT {ci_scheme_cand} LIKE '%:'
         AND length({ci_scheme_cand}) < 60
      THEN {ci_scheme_cand} END AS scheme
  FROM ci_blocked
),
{bar("ci_parsed", "ci_vals",
     ["k", "page_slug", "title_raw", "grant_no", "award_value",
      "status", "pi_raw", "institution", "scheme"], [
    ("pi_given", ci_given), ("pi_family", ci_family),
    ("amount_str", ci_amt),
])},
ci_out AS (
  SELECT 'cirm' AS member,
    coalesce(grant_no, concat('cirm-', page_slug)) AS funder_award_id,
    title_raw AS title, pi_given, pi_family, institution,
    {nullcols('description')}, scheme AS funder_scheme,
    {nullcols('term', 'supervisor', 'conditions', 'research_type',
              'region', 'country')},
    status, {nullcols('start_date')},
    CAST(NULL AS DOUBLE) AS amount, amount_str,
    CAST(NULL AS INT) AS start_year, CAST(NULL AS {S}) AS end_year,
    {nullcols('category_ids')},
    concat('https://www.cirm.ca.gov/our-progress/awards/', page_slug,
           '/') AS landing_page_url
  FROM ci_parsed
)"""

    cols = ("member, funder_award_id, title, pi_given, pi_family, "
            "institution, description, funder_scheme, term, supervisor, "
            "conditions, research_type, region, country, status, "
            "start_date, amount, amount_str, start_year, end_year, "
            "category_ids, landing_page_url")

    return f"""
WITH {eruk}{lcrf}{fmfc}{ntap}{bruk}{mrs}{bcuk}{cirm}
SELECT {cols} FROM er_out
UNION ALL SELECT {cols} FROM lc_out
UNION ALL SELECT {cols} FROM fm_out
UNION ALL SELECT {cols} FROM nt_out
UNION ALL SELECT {cols} FROM br_out
UNION ALL SELECT {cols} FROM ms_out
UNION ALL SELECT {cols} FROM bc_out
UNION ALL SELECT {cols} FROM ci_out
"""


@register(
    "microfunder_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Micro-funder scraper kit (scripts/local/{eruk,lcrf,fmfc,ntap,"
         "brain_research_uk,medical_research_scotland,blood_cancer_uk,"
         "cirm}_to_s3.py)"),
    spread=("orders",),
)
def microfunder_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight micro-funder ingests in one union plan (module docstring
    has the per-member semantics map).  Line-array scans with the
    established HOF idioms; two keep-first windows, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
