"""Michael J. Fox Foundation funded-studies parse
(scripts/local/mjff_to_s3.py — 691 LoC).

The reference walks the foundation's Drupal AJAX card listing, each
card's ``/grant/{slug}`` detail page and the lead researcher's
``/researcher/{slug}`` profile.  The HTTP layer and the BeautifulSoup
selector walk (:186-239, :254-331 DOM→values, :334-484) are the seam —
the fixture delivers one grant's post-DOM field values per orders key.
Everything downstream ports:

* ``clean_text`` (:131-137): HTML unescape (fixture-complete entity
  subset &amp;/&nbsp; — potter/rfbr precedent), NBSP to space, ws
  collapse, strip-or-NULL;
* ``parse_program_year`` (:242-251): the anchored
  ``^(.+?),\\s*(\\d{4})$`` match else the ``\\b(19|20)\\d{2}\\b``
  search with the ``,?\\s*year`` removal;
* ``split_name`` (:140-158, ported verbatim from wolf_to_s3 per the
  reference's own note): trailing degree/suffix tokens stripped
  (lower + strip(',.') membership, fixture bounds the chain at two
  tokens), last token = family, rest = given, mononym -> family;
* the lead pick (:501-514): detail researchers else listing
  researchers, first entry; the pre-split comma cut
  (``'Jane Doe, MIT'`` -> ``'Jane Doe'``) with the RAW name kept in
  ``lead_investigator_raw``;
* profile-line classification (:459-471): the first
  ``location:``-prefixed line (case-insensitive CHECK but
  case-sensitive ``'Location:'`` replace — quirk preserved: a
  lowercase ``location:`` line classifies as location but keeps its
  prefix), the first other line is position/affiliation; the
  skip-branch (:522-531) when the lead has no profile URL ships the
  detail entry's location;
* the derivation cascades (:533-553): program = detail tag else
  listing meta else 'MJFF Funded Study'; year = detail tag else
  listing year, with the missing-year note; display_name =
  detail_title else card title; description = objective/rationale
  else project description else final outcome else listing summary;
  ``objective_rationale`` itself = the 'Objective/Rationale' section
  else 'Study Rationale' (:435); award id = 'mjff-' + grant slug;
  amount/currency NULL by source design (:29-35, §6.7 waiver);
* the JSON renders (:289, :434, :441-446, :515): researcher entry
  lists (listing {name,url,slug}, detail {name,url,slug,location}
  with null for missing), ``detail_sections_json``/``tags_json``
  with sorted keys, ``json.dumps`` default separators — all built as
  strings (fixture values carry no JSON-escapable characters).

Runtime-only ``downloaded_at`` not ported.  Duplicate grant URLs
RAISE in the reference (:316) — the fixture mints unique slugs, so no
dedup exists to port.

Plan: ONE orders scan of pure column algebra behind Generate barriers
— its only exchange is the round-robin spread over the scan, zero
joins, zero Python.  Embarrassingly parallel at any scale.

tests/test_template_fidelity.py re-derives the full expected output
in Python (reference semantics, real ``html.unescape``/``json.dumps``)
and AST-pins the suffix set + program-year regexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_BASE = "https://www.michaeljfox.org"
_FUNDER_NAME = "Michael J. Fox Foundation for Parkinson's Research"

# mjff_to_s3.py:151 — membership test is lower().strip(",.")
_SUFFIXES = ("phd", "md", "dphil", "dsc", "scd", "jr.", "sr.", "ii",
             "iii", "iv", "jr", "sr")

# mjff_to_s3.py:246 / :249-250 (doubled backslashes, see sqlkit.build)
_PROG_YEAR = "^(.+?),\\\\s*(\\\\d{4})$"
_YEAR_SEARCH = "\\\\b((?:19|20)\\\\d{2})\\\\b"
_YEAR_STRIP = ",?\\\\s*\\\\b(?:19|20)\\\\d{2}\\\\b"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, asize = k.g, k.S, k.cs, k.bar, k.asize
    clean_ent, elem, jn, rx = k.clean_ent, k.elem, k.jn, k.rx
    splitre = k.splitre

    # ---- JSON string builders (values carry no escapables) -----------
    def jstr(expr: str) -> str:
        """NULL-safe JSON string render: '"v"' or 'null'."""
        return (f"CASE WHEN {expr} IS NULL THEN 'null' "
                f"ELSE concat('\"', {expr}, '\"') END")

    def jobj(pairs: list) -> str:
        """JSON object with FIXED key order (insertion order)."""
        parts = ", ".join(
            f"concat('\"{k}\": ', {jstr(v)})" for k, v in pairs)
        lb, rb = chr(123), chr(125)
        return f"concat('{lb}', concat_ws(', ', {parts}), '{rb}')"

    def jobj_opt(pairs: list) -> str:
        """JSON object whose entries DROP when the value is NULL
        (sections/tags dicts only hold present keys; keys pre-sorted
        by the caller).  Entry exprs may be full renders (lists)."""
        parts = ", ".join(
            f"CASE WHEN {v} IS NOT NULL THEN "
            f"concat('\"{k}\": ', {r}) END"
            for k, v, r in pairs)
        lb, rb = chr(123), chr(125)
        return f"concat('{lb}', concat_ws(', ', {parts}), '{rb}')"

    # ---- split_name (mjff:140-158; fixture bounds suffixes at 2) ----
    def strip_tail(arr: str, rounds: int) -> str:
        """Peel up to ``rounds`` trailing suffix tokens."""
        sufs = ", ".join(f"'{s}'" for s in _SUFFIXES)
        out = arr
        for _ in range(rounds):
            out = (f"CASE WHEN {asize(out)} > 0 AND "
                   f"trim(BOTH ',.' FROM lower({elem(out, asize(out))})) "
                   f"IN ({sufs}) "
                   f"THEN slice({out}, 1, {asize(out)} - 1) ELSE {out} END"
                   if dialect == "spark" else
                   f"CASE WHEN {asize(out)} > 0 AND "
                   f"trim(BOTH ',.' FROM lower({elem(out, asize(out))})) "
                   f"IN ({sufs}) "
                   f"THEN list_slice({out}, 1, {asize(out)} - 1) "
                   f"ELSE {out} END")
        return out

    lead_toks = splitre("trim(split_part(lead_name_raw, ',', 1))", "\\\\s+")

    return f"""
WITH cards AS (
  SELECT o_orderkey AS k,
    concat('lrrk2-study-', {cs('o_orderkey')}) AS slug,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN concat('Edmond J. Safra Core Programs, ',
                         {cs('2010 + o_orderkey % 10')})
      WHEN 2 THEN concat('Therapeutic Pipeline Program ',
                         {cs('2015 + o_orderkey % 9')}, ' extension')
      WHEN 3 THEN 'Priority Target Program'
      ELSE concat('Computational  Science, ',
                  {cs('1998 + o_orderkey % 4')}) END AS meta_raw,
    concat('Alpha-synuclein &amp; LRRK2', '&nbsp;', 'kinase study ',
           {cs('o_orderkey')}) AS title_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('This project examines tau  pathology cohort ',
                  {cs('o_orderkey % 90')}) END AS summary_raw,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN 'James P. Eisenstein PhD'
      WHEN 1 THEN 'Sara Lee Jr.' WHEN 2 THEN 'Chen'
      WHEN 3 THEN 'Maria del Carmen Ruiz MD'
      ELSE 'Robert Oduya, MIT' END AS name1,
    'Liam Ortiz PhD MD' AS name2
  FROM orders
),
fixture AS (
  SELECT k, slug, meta_raw, title_raw, summary_raw, name1, name2,
    -- listing researchers: 0/1/2 entries (no location key)
    CAST(k % 3 AS INT) AS n_listing,
    -- detail researchers: 0 none; 1 one with url+location; 2 two,
    -- FIRST without url (profile skip-branch); 3 one with the
    -- lowercase 'location:' profile quirk
    CAST(k % 4 AS INT) AS n_detail,
    concat('res-', {cs('k')}, '-1') AS rslug1,
    concat('res-', {cs('k')}, '-2') AS rslug2,
    CASE WHEN k % 6 = 0 THEN NULL
      ELSE concat('Updated: LRRK2 kinase study ', {cs('k')}) END
      AS detail_title_raw,
    CASE WHEN k % 5 <> 1
      THEN concat('Will define kinase activity readouts ', {cs('k % 70')})
      END AS s_anticipated,
    CASE WHEN k % 5 = 2
      THEN concat('Assay validated in ', {cs('k % 40')}, ' samples')
      END AS s_final,
    concat('Rationale: inhibition of LRRK2 arm ', {cs('k % 60')})
      AS s_objective_text,
    CASE WHEN k % 3 <> 0
      THEN concat('We will enroll ', {cs('10 + k % 200')},
                  ' participants') END AS s_project,
    CASE WHEN k % 7 = 0
      THEN concat('Published in journal issue ', {cs('k % 12')}) END
      AS s_publication,
    CASE WHEN k % 2 = 0
      THEN concat('Improved dosing for patients cohort ', {cs('k % 30')})
      END AS s_relevance,
    CASE WHEN k % 2 = 0 THEN 'Edmond J. Safra Core Programs' END
      AS tag_program,
    CASE WHEN k % 3 = 0 THEN {cs('2012 + k % 7')} END AS tag_year,
    CASE WHEN k % 4 <> 1 THEN true ELSE false END AS has_keywords,
    CASE WHEN k % 2 = 0
      THEN concat('Professor of Neurology, University ', {cs('k % 30')})
      END AS prof_position,
    CASE WHEN k % 5 = 0 THEN NULL
      WHEN k % 7 = 0 THEN 'location: Toronto, Canada'
      ELSE 'Location: Boston, MA' END AS prof_location_line,
    CASE WHEN k % 3 = 0
      THEN concat('Investigator focused on  neurodegeneration ',
                  {cs('k % 25')}) END AS prof_bio
  FROM cards
),
{bar("metaed", "fixture",
     ["k", "slug", "title_raw", "summary_raw", "name1", "name2",
      "n_listing", "n_detail", "rslug1", "rslug2", "detail_title_raw",
      "s_anticipated", "s_final", "s_objective_text", "s_project",
      "s_publication", "s_relevance", "tag_program", "tag_year",
      "has_keywords", "prof_position", "prof_location_line",
      "prof_bio"], [
    ("meta_c", clean_ent("meta_raw")),
    ("title", clean_ent("title_raw")),
    ("listing_summary", clean_ent("summary_raw")),
])},
{bar("progyear", "metaed",
     ["k", "slug", "title", "listing_summary", "meta_c", "name1",
      "name2", "n_listing", "n_detail", "rslug1", "rslug2",
      "detail_title_raw", "s_anticipated", "s_final",
      "s_objective_text", "s_project", "s_publication", "s_relevance",
      "tag_program", "tag_year", "has_keywords", "prof_position",
      "prof_location_line", "prof_bio"], [
    ("prog_m", rx("meta_c", _PROG_YEAR, 1)),
    ("year_m", rx("meta_c", _PROG_YEAR, 2)),
    ("year_f", rx("meta_c", _YEAR_SEARCH, 1)),
    ("prog_f", clean_ent(f"regexp_replace(coalesce(meta_c, ''), "
                     f"'{_YEAR_STRIP}', ''{g})")),
])},
researchers AS (
  SELECT *,
    CASE WHEN meta_c IS NULL THEN NULL
         WHEN year_m IS NOT NULL THEN {clean_ent('prog_m')}
         ELSE prog_f END AS source_program0,
    CASE WHEN meta_c IS NULL THEN NULL
         WHEN year_m IS NOT NULL THEN year_m
         ELSE year_f END AS source_year0,
    concat('{_BASE}/researcher/', rslug1) AS rurl1,
    concat('{_BASE}/researcher/', rslug2) AS rurl2,
    CASE WHEN n_detail IN (1, 3) THEN 'Boston, MA'
         WHEN n_detail = 2 THEN 'Lund, Sweden' END AS rloc1,
    CASE WHEN n_detail = 2 THEN 'Kyoto, Japan' END AS rloc2,
    {clean_ent('detail_title_raw')} AS detail_title
  FROM progyear
),
leads AS (
  SELECT *,
    CASE WHEN n_detail > 0 THEN name1
         WHEN n_listing > 0 THEN name1 END AS lead_name_raw,
    CASE WHEN n_detail = 2 THEN NULL
         WHEN n_detail > 0 THEN rurl1
         WHEN n_listing > 0 THEN rurl1 END AS lead_url,
    CASE WHEN n_detail > 0 THEN rloc1 END AS lead_entry_loc
  FROM researchers
),
{bar("named", "leads",
     ["k", "slug", "title", "listing_summary", "meta_c",
      "source_program0", "source_year0", "n_listing", "n_detail",
      "rslug1", "rslug2", "rurl1", "rurl2", "rloc1", "rloc2", "name1",
      "name2", "detail_title", "s_anticipated", "s_final",
      "s_objective_text", "s_project", "s_publication", "s_relevance",
      "tag_program", "tag_year", "has_keywords", "prof_position",
      "prof_location_line", "prof_bio", "lead_name_raw", "lead_url",
      "lead_entry_loc"], [
    ("toks", strip_tail(lead_toks, 2)),
])},
splitn AS (
  SELECT *,
    CASE WHEN lead_name_raw IS NULL OR {asize('toks')} = 0 THEN NULL
         WHEN {asize('toks')} = 1 THEN NULL
         ELSE {jn('toks', f"{asize('toks')} - 1")} END
      AS lead_given_name,
    CASE WHEN lead_name_raw IS NULL OR {asize('toks')} = 0 THEN NULL
         ELSE {elem('toks', asize('toks'))} END AS lead_family_name
  FROM named
),
profiled AS (
  SELECT *,
    CASE WHEN lead_url IS NOT NULL THEN
      CASE WHEN prof_location_line IS NOT NULL
             AND lower(prof_location_line) LIKE 'location:%'
           THEN {clean_ent("replace(prof_location_line, 'Location:', '')")}
      END
    ELSE lead_entry_loc END AS lead_location,
    CASE WHEN lead_url IS NOT NULL THEN prof_position END
      AS lead_position_affiliation,
    CASE WHEN lead_url IS NOT NULL THEN {clean_ent('prof_bio')} END
      AS lead_bio,
    CASE WHEN lead_url IS NOT NULL THEN name1 END AS lead_profile_name,
    lead_url AS lead_profile_url
  FROM splitn
),
sections AS (
  SELECT *,
    CASE WHEN k % 4 <> 0 THEN {clean_ent('s_objective_text')} END AS s_obj,
    CASE WHEN k % 4 = 0 THEN {clean_ent('s_objective_text')} END AS s_study,
    {clean_ent('s_project')} AS s_proj,
    {clean_ent('s_relevance')} AS s_rel,
    {clean_ent('s_anticipated')} AS s_ant,
    {clean_ent('s_final')} AS s_fin,
    {clean_ent('s_publication')} AS s_pub,
    CASE WHEN has_keywords THEN
      concat('[\"alpha-synuclein ', {cs('k % 5')},
             '\", \"biomarkers\"]') ELSE '[]' END AS kw_json
  FROM profiled
),
jsons AS (
  SELECT *,
    CASE CAST(n_listing AS INT)
      WHEN 0 THEN '[]'
      WHEN 1 THEN concat('[', {jobj([("name", "name1"),
                                     ("url", "rurl1"),
                                     ("slug", "rslug1")])}, ']')
      ELSE concat('[', {jobj([("name", "name1"), ("url", "rurl1"),
                              ("slug", "rslug1")])}, ', ',
                  {jobj([("name", "name2"), ("url", "rurl2"),
                         ("slug", "rslug2")])}, ']') END AS listing_rj,
    CASE CAST(n_detail AS INT)
      WHEN 0 THEN '[]'
      WHEN 2 THEN concat('[',
        {jobj([("name", "name1"), ("url", "CAST(NULL AS " + S + ")"),
               ("slug", "CAST(NULL AS " + S + ")"),
               ("location", "rloc1")])}, ', ',
        {jobj([("name", "name2"), ("url", "rurl2"), ("slug", "rslug2"),
               ("location", "rloc2")])}, ']')
      ELSE concat('[', {jobj([("name", "name1"), ("url", "rurl1"),
                              ("slug", "rslug1"),
                              ("location", "rloc1")])}, ']') END
      AS detail_rj
  FROM sections
)
SELECT
  {cs('CAST(floor(k / 6.0) AS BIGINT)')} AS source_page,
  {cs('1 + k % 6')} AS source_page_position,
  meta_c AS source_program_year,
  coalesce(tag_program, source_program0, 'MJFF Funded Study')
    AS source_program,
  coalesce(tag_year, source_year0) AS source_year,
  CASE WHEN coalesce(tag_year, source_year0) IS NULL
    THEN 'MJFF public page does not expose funding year' END
    AS source_year_missing_note,
  title,
  listing_summary,
  concat('{_BASE}/grant/', slug) AS grant_url,
  slug AS grant_slug,
  listing_rj AS listing_researchers_json,
  detail_title,
  {jobj_opt([
      ("anticipated_outcome", "s_ant", jstr("s_ant")),
      ("final_outcome", "s_fin", jstr("s_fin")),
      ("objective_rationale", "s_obj", jstr("s_obj")),
      ("project_description", "s_proj", jstr("s_proj")),
      ("publication_based_on_mjff_funding", "s_pub", jstr("s_pub")),
      ("relevance_to_diagnosis_treatment_of_parkinson_s_disease",
       "s_rel", jstr("s_rel")),
      ("study_rationale", "s_study", jstr("s_study")),
  ])} AS detail_sections_json,
  coalesce(s_obj, s_study) AS objective_rationale,
  s_proj AS project_description,
  s_rel AS relevance_to_diagnosis_treatment,
  s_ant AS anticipated_outcome,
  s_fin AS final_outcome,
  s_pub AS publication_based_on_mjff_funding,
  detail_rj AS detail_researchers_json,
  CASE WHEN n_detail > 0 THEN detail_rj
       WHEN n_listing > 0 THEN listing_rj ELSE '[]' END
    AS all_researchers_json,
  {cs('CASE WHEN n_detail = 2 THEN 2 WHEN n_detail = 0 THEN 0 ELSE 1 END')}
    AS detail_researcher_count,
  tag_program AS detail_program,
  tag_year AS detail_year,
  kw_json AS keywords_json,
  {jobj_opt([
      ("search_by_related_keywords",
       "CASE WHEN has_keywords THEN 'x' END", "kw_json"),
      ("within_the_same_funding_year", "tag_year",
       "concat('[', " + jstr("tag_year") + ", ']')"),
      ("within_the_same_program", "tag_program",
       "concat('[', " + jstr("tag_program") + ", ']')"),
  ])} AS tags_json,
  lead_name_raw AS lead_investigator_raw,
  lead_given_name,
  lead_family_name,
  lead_url AS lead_researcher_url,
  lead_profile_name, lead_profile_url, lead_position_affiliation,
  lead_location, lead_bio,
  coalesce(detail_title, title) AS display_name,
  coalesce(coalesce(s_obj, s_study), s_proj, s_fin, listing_summary)
    AS description,
  concat('mjff-', slug) AS funder_award_id,
  '4320306136' AS funder_id,
  '{_FUNDER_NAME.replace(chr(39), chr(39) * 2)}' AS funder_display_name,
  '10.13039/100000864' AS funder_doi,
  'mjff_funded_studies' AS provenance,
  'research' AS funding_type,
  CAST(NULL AS {S}) AS amount,
  CAST(NULL AS {S}) AS currency,
  concat('{_BASE}/grant/', slug) AS landing_page_url
FROM jsons
"""


@register(
    "mjff_parse_grants",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("MJFF funded-studies parse (scripts/local/mjff_to_s3.py)"),
    spread=("orders",),
)
def mjff_parse_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJFF card/detail/profile derivation cascades, wolf-family name
    split, JSON renders.  One scan under one round-robin spread
    exchange, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
