"""Blue Planet Prize laureate-archive parse stage
(scripts/local/blue_planet_prize_to_s3.py).

The reference scrapes the Asahi Glass Foundation year pages (section
slicing on ``id="text-0N"`` anchors + the card-layout fallback — the
HTML/DOM seam, :291-357) and normalizes each laureate through
``parse_section`` (:357-505) and ``build_dataframe`` (:559-637).
Ported compute:

* the parenthetical classifier over the raw heading (:374-410): a
  '(Founded/Established in ...)' paren anywhere is the founding paren
  (removed, remembered); the paren at the very END of the ORIGINAL
  heading is the country ONLY when the heading carries a person
  honorific OR the paren is not an all-caps acronym — so
  'Dr. X (USA)' and 'Org (Indonesia)' yield countries while
  'Science Platform (IPBES)' keeps its acronym and an org whose TAIL
  paren is the founding paren gets no country at all;
* honorific strip (Dr/Prof/Professor/Mr/Ms/Mrs/Sir, :232) ->
  name_clean;
* recipient-kind classification (:417-446): 'Born in/on [Month d,]
  YYYY' -> individual with birth year; the lifespan notation
  'YYYY–YYYY' (en/em/wave dashes) -> individual with birth+death; a
  'Founded/Established in/on [Month d,] YYYY' body marker or the
  founding paren -> organization (year from the paren when only it is
  present); else unknown;
* the affiliation/contribution split (:448-487): the post-marker text
  up to the first CONTRIBUTION KEYWORD (Pioneering/Groundbreaking/
  Outstanding/His|Her|Their research|work|contributions/Over N years/
  'In YYYY' — case-sensitive, reference flags) is the affiliation;
  else the shortest clause ending in an institution word followed by a
  capitalized continuation; else first-150-chars with the full post as
  the contribution fallback;
* ``split_name`` (:511-530, runbook §2.4.1): comma/semicolon cut to
  the first segment, degree/generation suffix pop, last token =
  family — applied to individuals and unknowns, org names stay whole
  as the affiliation (:578-584);
* the display/description composition (:586-596): 'Blue Planet Prize
  {year} — {name}', contribution + 'Origin: {country}' joined '. ';
* the fixed USD 500,000 amount, the year-bounded start/end dates, and
  the 'blue-planet-{year}-{anchor}-{slug[:60]}' award id (:489-505).

The card-fallback arm (:317-356) contributes the card rows' reduced
shape: honorific-stripped name, adjacent-card country, all markers
NULL, kind 'individual'.

Fixture: one laureate per orders row; heading lattice x body lattice
exercises every paren class and every kind/affiliation branch; rows
``o_orderkey % 7 = 0`` take the card arm.  Plan: one scan, column
algebra through explode-array layer barriers (the chained-derivation
plan-blowup discipline from the round-10 parse ports); no hash
shuffle (the one exchange is the round-robin spread over the scan), no
Python.

tests/test_template_fidelity.py re-derives the full expected output in
Python from the reference rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_ROWS_SPARK = """
SELECT o_orderkey AS rid,
  CAST(o_orderkey % 34 + 1992 AS INT) AS year,
  CASE WHEN o_orderkey % 7 = 0 THEN concat('card-0', CAST(o_orderkey % 2 + 1 AS STRING))
       ELSE concat('text-0', CAST(o_orderkey % 2 + 1 AS STRING)) END AS anchor,
  o_orderkey % 7 = 0 AS is_card,
  CASE CAST(o_orderkey % 6 AS INT)
    WHEN 0 THEN concat('Dr. Syukuro Manabe', CAST(o_orderkey AS STRING),
                       ' (USA)')
    WHEN 1 THEN concat('Professor Robert Costanza', CAST(o_orderkey AS STRING),
                       ' (USA & Australia)')
    WHEN 2 THEN concat('International Institute', CAST(o_orderkey AS STRING),
                       ' (IIED) (Founded in the UK)')
    WHEN 3 THEN concat('Conservation International', CAST(o_orderkey AS STRING),
                       ' (Indonesia)')
    WHEN 4 THEN concat('Intergovernmental Science Platform',
                       CAST(o_orderkey AS STRING), ' (IPBES)')
    ELSE concat('Sir David Attenborough', CAST(o_orderkey AS STRING))
  END AS raw_heading,
  CASE CAST(o_orderkey % 5 AS INT)
    WHEN 0 THEN concat('Born in ', CAST(o_orderkey % 40 + 1930 AS STRING),
      ' Senior Meteorologist at the Geophysical Fluid Dynamics Laboratory',
      ' of NOAA Pioneering work on climate modelling ',
      CAST(o_orderkey AS STRING))
    WHEN 1 THEN concat(CAST(o_orderkey % 40 + 1920 AS STRING), '–',
      CAST(o_orderkey % 30 + 1990 AS STRING),
      ' Professor Emeritus at Kyoto University His research on ecosystems ',
      CAST(o_orderkey AS STRING))
    WHEN 2 THEN concat('Founded in ', CAST(o_orderkey % 60 + 1950 AS STRING),
      ' the Global Footprint Network Institute based in Oakland United',
      ' Nations partner programs ', CAST(o_orderkey AS STRING))
    WHEN 3 THEN concat('Established on March 5, ',
      CAST(o_orderkey % 40 + 1980 AS STRING),
      ' International Union branch offices worldwide coordination hub ',
      CAST(o_orderkey AS STRING))
    ELSE concat('A distinguished career in marine conservation spanning',
      ' decades of fieldwork ', CAST(o_orderkey AS STRING))
  END AS body_text,
  concat('https://www.af-info.or.jp/blueplanet/list-',
         CAST(o_orderkey % 34 + 1992 AS STRING), '.html') AS landing_page_url
FROM orders
"""

_HONORIFIC = "(?i)^(Dr[.]|Prof[.]|Professor|Mr[.]|Ms[.]|Mrs[.]|Sir) "
_FOUND_PAREN = "[(]((?i:Founded|Established) (?i:in|on)[^()]*)[)]"
_TAIL_PAREN = "[(]([^()]+)[)]$"
_ACRONYM = "^[A-Z][A-Z0-9]{1,5}$"
_BORN = "(?i)Born (?:in|on) (?:[A-Z][a-z]+ [0-9]{1,2}, )?([0-9]{4})"
_LIFESPAN = "([0-9]{4}) *[–—~-] *([0-9]{4})"
_FOUNDED = ("(?i)(?:Founded|Established) (?:in|on) "
            "(?:[A-Z][a-z]+ [0-9]{1,2}, )?([0-9]{4})")
# case-SENSITIVE, like the reference's inline contrib_keywords
_CONTRIB_KW = ("Pioneering|Groundbreaking|Outstanding|"
               "His (?:research|work|contributions?)|"
               "Her (?:research|work|contributions?)|"
               "Their (?:research|work|contributions?)|"
               "In a groundbreaking|Over (?:more than )?[0-9]+ years|"
               "In [0-9]{4}")
_INST_WORD = ("Foundation|Institute|University|Laboratory|Center|Centre|"
              "Agency|Society|Department|Service")
_SUFFIX_SET = "('PhD','Ph.D','MD','M.D','DPhil','ScD','Jr','Sr','II','III','IV')"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, bar, asize, elem, head = k.g, k.S, k.bar, k.asize, k.elem, k.head
    jnagg, rl, splitsp = k.jnagg, k.rl, k.splitsp
    rows = (_ROWS_SPARK if dialect == "spark"
            else _ROWS_SPARK.replace("AS STRING", "AS VARCHAR"))

    collapse = (lambda v: f"trim(regexp_replace({v}, '\\\\s+', ' '))"
                if dialect == "spark"
                else f"trim(regexp_replace({v}, '\\s+', ' ', 'g'))")

    # split_name (runbook §2.4.1): first comma/semicolon segment,
    # suffix pop on rstrip('.') tokens, last token = family
    def name_toks(col: str) -> str:
        seg = f"trim(split_part(replace({col}, ';', ','), ',', 1))"
        toks = splitsp(seg)
        tok = "trim(TRAILING '.' FROM t)"
        if dialect == "spark":
            keep = (f"coalesce(array_max(zip_with({toks}, "
                    f"sequence(1, size({toks})), (t, i) -> "
                    f"IF({tok} NOT IN {_SUFFIX_SET}, i, 0))), 0)")
            return f"slice({toks}, 1, {keep})"
        keep = (f"coalesce(list_max(list_transform({toks}, (t, i) -> "
                f"CASE WHEN {tok} NOT IN {_SUFFIX_SET} THEN i END)), 0)")
        return f"list_slice({toks}, 1, {keep})"

    bslash = "\\\\" if dialect == "spark" else "\\"
    kw_pat = "^(.{5,300}?) +(" + _CONTRIB_KW + ")"
    inst_pat = ("^(.{5,300}?)" + bslash + "b(" + _INST_WORD + ")"
                + bslash + "b([^.]*?) +[A-Z]")
    inst_x = ("^(.{5,300}?" + bslash + "b(?:" + _INST_WORD + ")"
              + bslash + "b[^.]*?) +[A-Z]")

    chain = ",\n".join([
        # paren classification over the ORIGINAL heading
        bar("parens", "raw", ["*"], [
            ("founding_paren",
             f"nullif(regexp_extract(raw_heading, '{_FOUND_PAREN}', 1), '')"),
            ("tail_paren",
             f"nullif(regexp_extract(raw_heading, '{_TAIL_PAREN}', 1), '')"),
            ("is_person", rl("raw_heading", _HONORIFIC)),
        ]),
        bar("classified", "parens", ["*"], [
            ("country",
             f"CASE WHEN is_card THEN card_country "
             f"WHEN tail_paren IS NOT NULL "
             f"AND (founding_paren IS NULL OR tail_paren <> founding_paren) "
             f"AND (is_person OR NOT {rl('tail_paren', _ACRONYM)}) "
             f"THEN tail_paren END"),
        ]),
        bar("named", "classified", ["*"], [
            # the CARD arm strips only the honorific (its parens stay in
            # the name — reference :336,348); section headings strip the
            # founding and country parens first
            ("name_clean",
             "trim(regexp_replace(" +
             collapse(
                 "CASE WHEN is_card THEN raw_heading "
                 "WHEN country IS NOT NULL THEN "
                 f"regexp_replace(CASE WHEN founding_paren IS NOT NULL THEN "
                 f"regexp_replace(raw_heading, '{_FOUND_PAREN}', '') "
                 f"ELSE raw_heading END, ' *{_TAIL_PAREN}', '') "
                 f"WHEN founding_paren IS NOT NULL THEN "
                 f"regexp_replace(raw_heading, '{_FOUND_PAREN}', '') "
                 "ELSE raw_heading END") +
             f", '{_HONORIFIC}', ''))"),
        ]),
        # kind + marker removal in one layer (post = text after marker)
        bar("kinded", "named", ["*"], [
            ("kind",
             f"CASE WHEN is_card THEN 'individual' "
             f"WHEN {rl('body_text', _BORN)} THEN 'individual' "
             f"WHEN {rl('body_text', _LIFESPAN)} THEN 'individual' "
             f"WHEN {rl('body_text', _FOUNDED)} "
             f"OR founding_paren IS NOT NULL THEN 'organization' "
             f"ELSE 'unknown' END"),
            ("birth_year",
             f"CASE WHEN is_card THEN CAST(NULL AS INT) "
             f"WHEN {rl('body_text', _BORN)} "
             f"THEN CAST(regexp_extract(body_text, '{_BORN}', 1) AS INT) "
             f"WHEN {rl('body_text', _LIFESPAN)} "
             f"THEN CAST(regexp_extract(body_text, '{_LIFESPAN}', 1) AS INT)"
             f" END"),
            ("death_year",
             f"CASE WHEN NOT is_card AND NOT {rl('body_text', _BORN)} "
             f"AND {rl('body_text', _LIFESPAN)} "
             f"THEN CAST(regexp_extract(body_text, '{_LIFESPAN}', 2) AS INT)"
             f" END"),
            ("founding_year",
             f"CASE WHEN is_card OR {rl('body_text', _BORN)} "
             f"OR {rl('body_text', _LIFESPAN)} THEN CAST(NULL AS INT) "
             f"WHEN {rl('body_text', _FOUNDED)} "
             f"THEN CAST(regexp_extract(body_text, '{_FOUNDED}', 1) AS INT) "
             f"WHEN founding_paren IS NOT NULL "
             f"THEN CAST(nullif(regexp_extract(founding_paren, "
             f"'(1[89][0-9][0-9]|20[0-2][0-9])', 1), '') AS INT) END"),
            ("post",
             f"CASE WHEN is_card THEN CAST(NULL AS {S}) "
             f"WHEN {rl('body_text', _BORN)} THEN trim(BOTH ' .,;:' FROM "
             f"regexp_replace(body_text, '^.*?{_BORN}', '')) "
             f"WHEN {rl('body_text', _LIFESPAN)} THEN trim(BOTH ' .,;:' FROM "
             f"regexp_replace(body_text, '^.*?{_LIFESPAN}', '')) "
             f"WHEN {rl('body_text', _FOUNDED)} THEN trim(BOTH ' .,;:' FROM "
             f"regexp_replace(body_text, '^.*?{_FOUNDED}', '')) END"),
        ]),
        # the affiliation/contribution split
        bar("affd", "kinded", ["*"], [
            ("affiliation",
             f"CASE WHEN post IS NULL THEN CAST(NULL AS {S}) "
             f"WHEN {rl('post', kw_pat)} "
             f"THEN trim(BOTH ' .,;:' FROM regexp_extract(post, "
             f"'{kw_pat}', 1)) "
             f"WHEN {rl('post', inst_pat)} "
             f"THEN trim(BOTH ' .,;:' FROM "
             f"regexp_extract(post, '{inst_x}', 1)) "
             f"WHEN length(post) > 30 THEN trim(BOTH ' .,;:' FROM "
             f"substr(post, 1, 150)) END"),
            ("contribution",
             f"CASE WHEN post IS NULL THEN CAST(NULL AS {S}) "
             f"WHEN {rl('post', kw_pat)} "
             f"THEN trim(BOTH ' .,;:' FROM substr(post, length("
             f"regexp_extract(post, '{kw_pat}', 1)) + 1)) "
             f"WHEN {rl('post', inst_pat)} "
             f"THEN trim(BOTH ' .,;:' FROM substr(post, length("
             f"regexp_extract(post, '{inst_x}', 1)) + 1)) "
             f"WHEN length(post) > 150 THEN trim(BOTH ' .,;:' FROM "
             f"substr(post, 151)) END"),
        ]),
    ])

    toks = name_toks("name_clean")

    return f"""
WITH raw0 AS ({rows}),
raw AS (
  SELECT rid, year, anchor, is_card, body_text, landing_page_url,
         {collapse("raw_heading")} AS raw_heading,
         CASE WHEN is_card THEN 'Japan' END AS card_country
  FROM raw0
),
{chain},
final0 AS (
  -- 'if not contribution: contribution = body_text[marker_end:]'
  -- (:489-490) — the fallback fires whenever the split produced
  -- nothing, with the post-marker text when a marker matched and the
  -- whole body otherwise; card rows carry no body
  SELECT *,
    coalesce(nullif(trim(BOTH ' .,;:' FROM coalesce(contribution, '')), ''),
             CASE WHEN NOT is_card
                  THEN nullif(trim(BOTH ' .,;:' FROM
                              coalesce(post, body_text)), '') END)
      AS contribution_f
  FROM affd
)
SELECT
  concat('blue-planet-', CAST(year AS {S}), '-', anchor, '-',
         substr(trim(BOTH '-' FROM regexp_replace(lower(name_clean),
                '[^a-z0-9]+', '-'{g})), 1, 60)) AS funder_award_id,
  year, anchor, name_clean, raw_heading,
  CASE WHEN kind <> 'organization' AND {asize(toks)} > 1
       THEN {jnagg(head(toks, asize(toks) + ' - 1'))}
  END AS given_name,
  CASE WHEN kind <> 'organization' AND {asize(toks)} >= 1
       THEN {elem(toks, asize(toks))}
  END AS family_name,
  country, kind AS recipient_kind, birth_year, founding_year,
  CASE WHEN kind = 'organization' THEN name_clean
       ELSE affiliation END AS affiliation_name,
  concat('Blue Planet Prize ', CAST(year AS {S}), ' — ', name_clean)
    AS display_name,
  CASE
    WHEN contribution_f IS NOT NULL AND country IS NOT NULL
      THEN concat(contribution_f, '. Origin: ', country)
    WHEN contribution_f IS NOT NULL THEN contribution_f
    WHEN country IS NOT NULL THEN concat('Origin: ', country)
  END AS description,
  CAST(500000.0 AS DOUBLE) AS amount,
  'USD' AS currency,
  concat(CAST(year AS {S}), '-01-01') AS start_date,
  concat(CAST(year AS {S}), '-12-31') AS end_date,
  landing_page_url,
  false AS declined
FROM final0
"""


@register(
    "blue_planet_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Blue Planet Prize laureate parse "
         "(scripts/local/blue_planet_prize_to_s3.py)"),
    spread=("orders",),
)
def blue_planet_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blue Planet Prize laureate normalize (module docstring has the
    full semantics map).  One scan through Generate layer barriers; no
    shuffle, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
