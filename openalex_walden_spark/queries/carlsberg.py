"""Carlsbergfondet grants parse
(scripts/local/carlsberg_fondet_to_s3.py — 679 LoC).

The reference crawls the foundation's own sitemap
(``/en/what-we-have-funded/{slug}/`` detail pages) and reads five
labeled facts per page.  The HTTP layer, the sitemap XML walk and the
``extract_labeled_facts`` DOM template walk (:137-224) are the seam —
the fixture delivers one page's post-DOM facts per orders key.
Everything downstream ports:

* ``clean_text`` (:150-155): HTML unescape (fixture-complete entity
  subset) + ws collapse + strip-or-NULL.  DEVIATION (potter/pcaarrd
  precedent): explicit NBSP->space shim before the collapse (Python
  ``\\s`` matches NBSP, Java/RE2 does not);
* ``parse_amount`` (:227-242): currency = first ``\\b[A-Z]{3}\\b``;
  number = first ``\\d[\\d,.\\s]*`` run with comma/space strip; a
  non-float remainder (Danish '1.234.567') -> amount NULL, currency
  KEPT; amounts ship as ``str(float)`` (pandas astype string) ==
  CAST(DOUBLE AS STRING) at fixture magnitudes;
* ``parse_year`` (:245-249): ``\\b(19|20)\\d{2}\\b`` search;
* ``is_institutional_name`` (:262-282): token split on ``[\\s/]+``,
  lower + strip('.,;:()[]'), any-token intersection with the 54-entry
  marker vocabulary (the reference's 2026-05-27 §6.4 PI-bug guard) —
  institutions keep applicant_name but NULL given/family;
* ``split_name`` (:285-300): comma->space tokenization, leading
  title strip (Dr/Prof/Professor/Associate/Assistant, '.'-insensitive)
  then trailing degree strip (PhD/Ph.D./MD/M.D./DPhil/Dr.phil./Jr./
  Sr./II/III/IV, case-SENSITIVE '.,'-insensitive), last token =
  family, rest = given (fixture bounds each peel at two tokens);
* ``parse_grant_page`` (:303-345): title = h1 else the <title> tag
  with the ``\\s*\\|\\s*Carlsbergfondet.*$`` suffix cut; landing =
  canonical link else page url;
* the URL-only degraded row (:396-415): non-200 pages ship slug/url/
  http_status with every fact NULL;
* ``build_dataframe`` (:465-534): the official DKK-0 'TEST ' page
  skip (upper().startswith('TEST ') AND amount == 0), start/end =
  year-01-01/-12-31, award id 'carlsberg-fondet-{slug}',
  ``declined=False`` -> 'False' under astype(string).

Runtime-only ``downloaded_at`` and the transient ``parse_error``
field are not ported; duplicate award ids RAISE in the reference
(:437-439) and the sitemap fixture mints unique slugs.

Plan: ONE orders scan of pure column algebra — its only exchange is
the round-robin spread over the scan, no Python.
tests/test_template_fidelity.py re-derives the full expected output in
Python and AST-pins LABEL_MAP, the marker vocabulary and both
title/degree token sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_SITE = "https://www.carlsbergfondet.dk"

# carlsberg_fondet_to_s3.py:252-255 (normalized forms actually compared:
# prefixes rstrip('.'), suffixes rstrip('.,'))
_PREFIXES = ("Dr", "Prof", "Professor", "Associate", "Assistant")
_SUFFIXES = ("PhD", "Ph.D", "MD", "M.D", "DPhil", "Dr.phil", "Jr", "Sr",
             "II", "III", "IV")

# carlsberg_fondet_to_s3.py:262-272
_MARKERS = (
    "carlsbergfondet", "fondet", "institut", "institute", "instituttet",
    "universitet", "university", "universiteit", "selskab", "selskabs",
    "selskabet", "society", "akademi", "academy", "royal", "kgl",
    "kongelige", "foundation", "fond", "fonden", "fonds", "center",
    "centre", "centeret", "centret", "museum", "museet", "school",
    "skole", "skolen", "forskning", "forskningsråd", "forskningsraad",
    "forum", "hospital", "sygehus", "biblioteket", "bibliotek",
    "library", "council", "ràd", "raad", "association", "forening",
    "foreningen", "danske", "danish", "polytechnic", "company",
    "institution",
)

_CCY = "\\\\b([A-Z]{3})\\\\b"
_NUM = "\\\\d[\\\\d,.\\\\s]*"
_YEAR = "\\\\b((?:19|20)\\\\d{2})\\\\b"
_TITLE_CUT = "\\\\s*\\\\|\\\\s*Carlsbergfondet.*$"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, arr, asize = k.g, k.S, k.cs, k.bar, k.arr, k.asize
    clean_ent, elem, filt, jn = k.clean_ent, k.elem, k.filt, k.jn
    overlap, rx, sl, splitre, tx = k.overlap, k.rx, k.sl, k.splitre, k.tx

    markers = ", ".join(f"'{m}'" for m in _MARKERS)
    marker_arr = (f"array({markers})" if dialect == "spark"
                  else f"[{markers}]")

    # is_institutional_name (carlsberg:275-282)
    name_toks = splitre("applicant_name", "[\\\\s/]+")
    norm_toks = tx(filt(name_toks, "t <> ''"),
                   "trim(BOTH '.,;:()[]' FROM lower(t))")
    inst_check = (f"applicant_name IS NOT NULL AND "
                  f"{overlap(norm_toks, marker_arr)}")

    # split_name (carlsberg:285-300): comma->space, <=2 prefix peels,
    # <=2 suffix peels (fixture-bounded)
    def peel_front(arr: str, rounds: int) -> str:
        names = ", ".join(f"'{p}'" for p in _PREFIXES)
        out = arr
        for _ in range(rounds):
            out = (f"CASE WHEN {asize(out)} > 0 AND "
                   f"trim(TRAILING '.' FROM {elem(out, '1')}) IN ({names}) "
                   f"THEN {sl(out, '2', f'{asize(out)} - 1')} "
                   f"ELSE {out} END")
        return out

    def peel_back(arr: str, rounds: int) -> str:
        names = ", ".join(f"'{s}'" for s in _SUFFIXES)
        out = arr
        for _ in range(rounds):
            out = (f"CASE WHEN {asize(out)} > 0 AND "
                   f"trim(BOTH '.,' FROM {elem(out, asize(out))}) "
                   f"IN ({names}) "
                   f"THEN {sl(out, '1', f'{asize(out)} - 1')} "
                   f"ELSE {out} END")
        return out

    raw_toks = filt(splitre("replace(applicant_name, ',', ' ')",
                            "\\\\s+"), "t <> ''")

    # parse_amount (carlsberg:227-242)
    num_txt = f"trim(regexp_extract(amount_raw, '{_NUM}', 0))"
    num_norm = f"replace(replace({num_txt}, ',', ''), ' ', '')"
    amount_d = f"try_cast({num_norm} AS DOUBLE)"

    _PT = ["k", "slug", "ok", "is_test", "url", "canonical", "title",
           "applicant_name", "institution", "amount_raw", "year_raw",
           "type_of_grant", "currency", "amount_d", "year_i", "is_inst"]

    fixture_cols = f"""
    concat('grant-', {cs('o_orderkey')}, '-', {cs('o_orderkey % 9')})
      AS slug,
    (o_orderkey % 23 <> 0) AS ok,
    (o_orderkey % 31 = 0) AS is_test,
    CASE WHEN o_orderkey % 31 = 0
        THEN concat('TEST page ', {cs('o_orderkey')})
      WHEN o_orderkey % 6 = 0 THEN NULL
      ELSE concat('Excavations of  settlement &amp; landscape ',
                  {cs('o_orderkey')}) END AS h1_raw,
    concat('Postdoc fellowship ', {cs('o_orderkey')},
           ' | Carlsbergfondet — the foundation') AS title_tag_raw,
    (o_orderkey % 4 <> 0) AS has_canonical,
    CASE CAST(o_orderkey % 7 AS INT)
      WHEN 0 THEN 'Professor Anne Mette Hansen PhD'
      WHEN 1 THEN 'Dr. Jens  Olsen'
      WHEN 2 THEN 'Videnskabernes Selskab / Royal Academy'
      WHEN 3 THEN 'Det Danske Institut i Rom'
      WHEN 4 THEN 'Karen Blixen-Madsen'
      WHEN 5 THEN NULL
      ELSE 'Associate Professor Lars Brandt Jr.' END AS applicant_raw,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('University of Copenhagen dept ',
                  {cs('o_orderkey % 20')}) END AS inst_raw,
    CASE WHEN o_orderkey % 31 = 0 THEN 'DKK 0'
      WHEN o_orderkey % 6 = 0 THEN NULL
      WHEN o_orderkey % 6 = 1 THEN concat('DKK ',
        {cs('100 + o_orderkey % 900')}, ',',
        lpad({cs('o_orderkey % 1000')}, 3, '0'))
      WHEN o_orderkey % 6 = 2 THEN 'DKK 1.234.567'
      WHEN o_orderkey % 6 = 3 THEN concat({cs('200 + o_orderkey % 50')},
        ',500 kr.')
      WHEN o_orderkey % 6 = 4 THEN 'EUR 75 000'
      ELSE concat('DKK ', {cs('o_orderkey % 90')}, '.50') END
      AS amount_raw_f,
    CASE CAST(o_orderkey % 8 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN concat('Autumn ', {cs('2008 + o_orderkey % 17')})
      ELSE {cs('2008 + o_orderkey % 17')} END AS year_raw_f,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE CASE CAST(o_orderkey % 3 AS INT)
        WHEN 1 THEN 'Research Infrastructure'
        ELSE concat('Monograph Fellowship ', {cs('o_orderkey % 4')}) END
      END AS type_raw"""

    return f"""
WITH pages AS (
  SELECT o_orderkey AS k,{fixture_cols}
  FROM orders
),
{bar("facts", "pages", ["k", "slug", "ok", "is_test", "has_canonical"], [
    ("url", f"concat('{_SITE}/en/what-we-have-funded/', slug, '/')"),
    ("canonical", f"CASE WHEN ok AND has_canonical THEN "
                  f"concat('{_SITE}/en/what-we-have-funded/', slug) END"),
    ("title", "CASE WHEN NOT ok THEN NULL "
              "WHEN h1_raw IS NOT NULL THEN " + clean_ent("h1_raw")
              + " ELSE " + clean_ent("regexp_replace(title_tag_raw, '"
                                 + _TITLE_CUT + "', ''" + g + ")")
              + " END"),
    ("applicant_name", f"CASE WHEN ok THEN {clean_ent('applicant_raw')} END"),
    ("institution", f"CASE WHEN ok THEN {clean_ent('inst_raw')} END"),
    ("amount_raw", f"CASE WHEN ok THEN {clean_ent('amount_raw_f')} END"),
    ("year_raw", f"CASE WHEN ok THEN {clean_ent('year_raw_f')} END"),
    ("type_of_grant", f"CASE WHEN ok THEN {clean_ent('type_raw')} END"),
])},
{bar("parsed", "facts",
     ["k", "slug", "ok", "is_test", "url", "canonical", "title",
      "applicant_name", "institution", "amount_raw", "year_raw",
      "type_of_grant"], [

    ("currency", rx("amount_raw", _CCY, 1)),
    ("amount_d", amount_d),
    ("year_i", f"try_cast({rx('year_raw', _YEAR, 1)} AS INT)"),
    ("is_inst", inst_check),
    ("toks0", raw_toks),
])},
{bar("peel1", "parsed", _PT, [("toks1", peel_front("toks0", 1))])},
{bar("peel2", "peel1", _PT, [("toks2", peel_front("toks1", 1))])},
{bar("peel3", "peel2", _PT, [("toks3", peel_back("toks2", 1))])},
{bar("peel4", "peel3", _PT, [("toks", peel_back("toks3", 1))])}
SELECT
  concat('carlsberg-fondet-', slug) AS funder_award_id,
  slug,
  title AS display_name,
  CAST(NULL AS {S}) AS description,
  applicant_name,
  CASE WHEN is_inst OR applicant_name IS NULL OR {asize('toks')} <= 1
    THEN NULL ELSE {jn('toks', f"{asize('toks')} - 1")} END
    AS given_name,
  CASE WHEN is_inst OR applicant_name IS NULL OR {asize('toks')} = 0
    THEN NULL ELSE {elem('toks', asize('toks'))} END AS family_name,
  institution,
  {cs('amount_d')} AS amount,
  currency,
  amount_raw,
  {cs('year_i')} AS year,
  CASE WHEN year_i IS NOT NULL
    THEN concat({cs('year_i')}, '-01-01') END AS start_date,
  CASE WHEN year_i IS NOT NULL
    THEN concat({cs('year_i')}, '-12-31') END AS end_date,
  type_of_grant,
  coalesce(canonical, url) AS landing_page_url,
  url AS source_url,
  CASE WHEN ok THEN '200' ELSE '404' END AS http_status,
  year_raw,
  'False' AS declined
FROM peel4
WHERE NOT (coalesce(upper(title) LIKE 'TEST %', false)
           AND coalesce(amount_d = 0.0, false))
"""


@register(
    "carlsberg_parse_grants",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Carlsbergfondet grants parse "
         "(scripts/local/carlsberg_fondet_to_s3.py)"),
    spread=("orders",),
)
def carlsberg_parse_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carlsberg labeled-facts parse: amount/currency split with the
    Danish-number NULL arm, institutional-name PI guard, conservative
    title/degree name split, DKK-0 TEST-page skip, URL-only degraded
    rows.  One scan under one round-robin spread exchange, no
    Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
