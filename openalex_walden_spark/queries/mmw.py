"""Marianne and Marcus Wallenberg Foundation grants parse
(scripts/local/mmw_to_s3.py — 712 LoC).

The reference walks the foundation's sitemap to the yearly
``/en/grants/{year}`` pages, reads each grant paragraph, and enriches
linked ``/en/project/{slug}`` detail pages.  The HTTP layer and the
BeautifulSoup h2/p walk (:254-349 listing, :352-422 detail DOM) are
the seam — the fixture delivers one paragraph's post-DOM values per
orders key (text, section heading, anchor link) plus the detail
page's labeled parts for linked rows.  Everything downstream ports:

* ``clean_text`` (:158-163) NBSP + collapse; ``strip_outer_quotes``
  (:166-170) both-ends strip of space/straight/curly quotes;
* the row gates (:301-315): the «Earlier grants»/«Projects» section
  stop, the ``SEK`` + ``\\b(grant|funding|awarded)\\b`` keyword gate,
  the ``is_aggregate_summary`` skip, and the amount-parse-or-skip;
* ``parse_amount_sek`` (:201-214): ``SEK\\s+([0-9][0-9\\s.,]*)
  (?:\\s*(million|m))?`` — spaces dropped, COMMAS PROMOTED TO DOTS,
  the million/m multiplier, int(round()) whole kronor (fixture avoids
  .5 ties — Java HALF_UP vs Python half-even), amount_text = the
  cleaned full match;
* ``extract_project_title`` (:217-223) quoted-title regex;
* ``extract_institution_and_pi`` (:226-251): text cut at the first
  grant/funding/awarded keyword, comma-part classification via the
  honorific regex (titled first part = PI + optional institution
  second; else institution first + optional titled PI second), the
  ``\\s+Project\\s*:?.*$`` institution cleanup;
* the display-name cascade (:325-330): link text when a detail link
  exists, else quoted project title, else de-quoted link text, else
  ``text[:140]``;
* ``source_row_hash`` = sha1('{year}|{text}')[:12] (:331) —
  DEVIATION: sha256[:12] in both engines (DuckDB has no sha1), input
  byte-faithful;
* the detail merge (:471-490): detail title/project/institution/PI
  override the listing parse, amount+amount_text override only when
  the «Funding Awarded:» line parses, description and
  co-investigators ('; ' join) come only from the detail page,
  landing = detail else listing page;
* ``build_native_ids`` (:434-446): base = detail-URL slug else
  slugify(display else project else institution else 'grant'); id =
  'mmw-{year}-{base}'; on collision the FIRST (page-order) keeps the
  plain id and every later one appends '-{source_row_hash}';
* ``split_person_name`` (:173-191): honorific-prefix strip, trailing
  suffix pop with the rstrip(',')-only membership check (a family
  token like 'Ekström,' KEEPS its comma — quirk preserved), given =
  all-but-last;
* ``normalize_rows`` (:498-536): start/end = Jan 1 / Dec 31 of the
  grant-year page, currency 'SEK' only with an amount.

Runtime-only ``retrieved_at`` not ported.  Fixture: one paragraph per
orders key; ``g = floor(k/2)`` pairs share the grant year
(2019 + g%7) and, when ``g%11 = 0``, the same display slug so the
collision suffix path runs; skip arms (aggregate, no-SEK, unparsed
amount, stopped section) exercise every gate.

Plan: one orders scan behind Generate barriers, ONE exchange for the
collision window on the native id (the text[:140] display fallback
makes slug groups of ~2-10 rows — uniform grain, 100x-safe).
No Python.

tests/test_template_fidelity.py re-derives the full expected output
in Python and AST-pins the keyword/honorific/suffix vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_BASE = "https://mmw.wallenberg.org"

# mmw_to_s3.py:203 — the reference compiles without flags but
# searches with re.IGNORECASE (doubled backslashes; sqlkit.build halves)
_AMT_CI = "(?i)SEK\\\\s+([0-9][0-9\\\\s.,]*)(?:\\\\s*(million|m))?"
_TITLE = ("(?i)project(?:\\\\s+entitled|:)?\\\\s*[“”\"]([^\"“”]+)[“”\"]")
_KEYWORD_CUT = ("(?i)\\\\b(?:grant|funding|awarded grant|"
                "yearly funding)\\\\b.*$")
_HONORIFIC = ("(?i)^(Professor|Associate Professor|Assistant Professor|"
              "Dr|Doctor)\\\\b")
_HONORIFIC_STRIP = ("(?i)^(Professor|Associate Professor|"
                    "Assistant Professor|Dr|Doctor)\\\\s+")
_AGGREGATE = "(?i)^In\\\\s+\\\\d{4}.*awarded grants? of SEK"
_KEYWORD_GATE = "(?i)\\\\b(grant|funding|awarded)\\\\b"
_INST_CLEAN = "(?i)\\\\s+Project\\\\s*:?.*$"
_SUFFIXES = ("PhD", "MD", "DPhil", "Jr.", "Sr.", "II", "III", "IV")


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, asize, clean_ws = k.g, k.S, k.cs, k.bar, k.asize, k.clean_ws
    elem, jn, rl, rx, sl, splitre = k.elem, k.jn, k.rl, k.rx, k.sl, k.splitre

    def splitlit(x: str, sep: str) -> str:
        if dialect == "spark":
            return f"split({x}, '{sep}')"
        return f"string_split({x}, '{sep}')"

    def dig(x: str) -> str:
        if dialect == "spark":
            return f"substr(sha2({x}, 256), 1, 12)"
        return f"substr(sha256({x}), 1, 12)"

    def strip_quotes(x: str) -> str:
        """strip_outer_quotes (mmw:166-170)."""
        return clean_ws(
            f"trim(BOTH ' \"''“”' FROM coalesce({clean_ws(x)}, ''))")

    K, G = cs("k"), cs("g")

    # parse_amount_sek over a source column `src`, yielding
    # (whole-kronor bigint, cleaned matched text)
    def amt_value(src: str) -> str:
        num = rx(src, _AMT_CI, 1)
        unit = f"lower(coalesce({rx(src, _AMT_CI, 2)}, ''))"
        v = (f"try_cast(replace(replace({num}, ' ', ''), ',', '.') "
             f"AS DOUBLE)")
        v = (f"CASE WHEN {unit} IN ('million', 'm') "
             f"THEN ({v}) * 1000000 ELSE {v} END")
        return f"CAST(round({v}) AS BIGINT)"

    def amt_text(src: str) -> str:
        return clean_ws(f"regexp_extract({src}, '{_AMT_CI}', 0)")

    # split_person_name (mmw:173-191): honorific strip, suffix pop
    # (rstrip(',') membership only), family = last token
    sufs = ", ".join(f"'{s}'" for s in _SUFFIXES)

    def pop_suffix(arr: str, rounds: int) -> str:
        out = arr
        for _ in range(rounds):
            out = (f"CASE WHEN {asize(out)} > 0 AND "
                   f"trim(TRAILING ',' FROM {elem(out, asize(out))}) "
                   f"IN ({sufs}) "
                   f"THEN {sl(out, '1', f'{asize(out)} - 1')} "
                   f"ELSE {out} END")
        return out

    # ---- fixture ------------------------------------------------------
    # g pairs two keys per grant-year; arm g%11=0 forces the collision
    # text shape on both pair members.
    text_expr = f"""CASE CAST(CASE WHEN g % 11 = 0 THEN 0
                                   ELSE k % 6 END AS INT)
      WHEN 0 THEN concat('Uppsala University, Professor Karin Lind',
        {cs('k % 40')}, ', receives a grant of SEK ', {cs('1 + k % 9')},
        ' 900 000 for the project “Quantum materials ', {G},
        '”')
      WHEN 1 THEN concat('Professor Olof Berg', {cs('k % 40')},
        ', Lund University, was awarded grant SEK ', {cs('2 + k % 7')},
        ',5 million for studies of enzymes ', {G})
      WHEN 2 THEN concat('In ', {cs('yr')},
        ' the foundation awarded grants of SEK 230 million')
      WHEN 3 THEN concat('The board met to discuss grant policies ', {K})
      WHEN 4 THEN concat('A grant of SEK about nine million was given ',
        {K})
      ELSE concat('Research on climate adaptation ', {G},
        ' funding SEK ', {cs('500 + k % 300')}, ' 000') END"""

    section_expr = f"""CASE CAST(k % 7 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN CAST('Earlier grants' AS {S})
      ELSE concat('Grants to research projects ', {cs('yr')}) END"""

    co_join = ("CASE WHEN co1 IS NOT NULL AND co2 IS NOT NULL "
               "THEN concat(co1, '; ', co2) "
               "ELSE coalesce(co1, co2) END")

    parsed_bar = bar("parsed", "fixture",
                     ["k", "g", "yr", "has_detail", "detail_url",
                      "link_text_raw", "has_anchor", "section",
                      "dt_title", "dt_project", "dt_pi", "dt_inst",
                      "dt_amount_line", "co1", "co2", "dp1", "dp2"], [
        ("text", clean_ws("text_raw")),
    ])

    gated_bar = bar("gated", "parsed",
                    ["k", "g", "yr", "has_detail", "detail_url",
                     "link_text_raw", "has_anchor", "section", "text",
                     "dt_title", "dt_project", "dt_pi", "dt_inst",
                     "dt_amount_line", "co1", "co2", "dp1", "dp2"], [
        ("keep", f"section IS DISTINCT FROM 'Earlier grants' "
                 f"AND section IS DISTINCT FROM 'Projects' "
                 f"AND instr(text, 'SEK') > 0 "
                 f"AND {rl('text', _KEYWORD_GATE)} "
                 f"AND NOT {rl('text', _AGGREGATE)} "
                 f"AND {amt_value('text')} IS NOT NULL"),
    ])

    before_kw = clean_ws(
        f"trim(BOTH ' ,' FROM trim(regexp_replace(text, "
        f"'{_KEYWORD_CUT}', ''{g})))")

    extr_bar = bar("extracted", "keptrows",
                   ["k", "g", "yr", "has_detail", "detail_url",
                    "link_text_raw", "has_anchor", "section", "text",
                    "dt_title", "dt_project", "dt_pi", "dt_inst",
                    "dt_amount_line", "co1", "co2", "dp1", "dp2"], [
        ("amount0", amt_value("text")),
        ("amount_text0", amt_text("text")),
        ("proj_title", rx("text", _TITLE, 1)),
        ("before_parts", splitlit(f"coalesce({before_kw}, '')", ",")),
        ("link_text", clean_ws("link_text_raw")),
    ])

    p1 = clean_ws(elem("before_parts", "1"))
    p2 = clean_ws(elem("before_parts", "2"))
    parts_bar = bar("classified", "extracted",
                    ["k", "g", "yr", "has_detail", "detail_url",
                     "link_text", "has_anchor", "section", "text",
                     "amount0", "amount_text0", "proj_title",
                     "dt_title", "dt_project", "dt_pi", "dt_inst",
                     "dt_amount_line", "co1", "co2", "dp1", "dp2"], [
        ("part1", p1),
        ("part2", p2),
    ])

    inst_clean = clean_ws(f"regexp_replace(part_inst, '{_INST_CLEAN}', "
                       f"''{g})")
    class_bar = bar("listingf", "classified",
                    ["k", "g", "yr", "has_detail", "detail_url",
                     "link_text", "has_anchor", "section", "text",
                     "amount0", "amount_text0", "proj_title",
                     "dt_title", "dt_project", "dt_pi", "dt_inst",
                     "dt_amount_line", "co1", "co2", "dp1", "dp2"], [
        ("pi0", f"CASE WHEN part1 IS NULL THEN NULL "
                f"WHEN {rl('part1', _HONORIFIC)} THEN part1 "
                f"WHEN part2 IS NOT NULL AND {rl('part2', _HONORIFIC)} "
                f"THEN part2 END"),
        ("part_inst", f"CASE WHEN part1 IS NULL THEN NULL "
                      f"WHEN {rl('part1', _HONORIFIC)} THEN part2 "
                      f"ELSE part1 END"),
    ])

    merged_bar = bar("merged", "listingf",
                     ["k", "g", "yr", "has_detail", "detail_url",
                      "link_text", "has_anchor", "section", "text",
                      "amount_text0", "proj_title", "co1", "co2"], [
        ("inst0", inst_clean),
        ("display0", f"""coalesce(
          CASE WHEN detail_url IS NOT NULL THEN link_text END,
          proj_title, {strip_quotes('link_text')},
          substr(text, 1, 140))"""),
        ("dt_amount", f"CASE WHEN has_detail THEN "
                      f"{amt_value('dt_amount_line')} END"),
        ("dt_amount_text", f"CASE WHEN has_detail THEN "
                           f"{amt_text('dt_amount_line')} END"),
        ("pi1", f"CASE WHEN has_detail AND dt_pi IS NOT NULL "
                f"THEN dt_pi ELSE pi0 END"),
        ("project1", f"CASE WHEN has_detail AND dt_project IS NOT NULL "
                     f"THEN dt_project ELSE proj_title END"),
        ("inst1_pre", f"CASE WHEN has_detail AND dt_inst IS NOT NULL "
                      f"THEN dt_inst END"),
        ("display1_pre", f"CASE WHEN has_detail THEN dt_title END"),
        ("amount1", f"coalesce(CASE WHEN has_detail THEN "
                    f"{amt_value('dt_amount_line')} END, "
                    + amt_value("text") + ")"),
        ("descr", f"CASE WHEN has_detail THEN "
                  + clean_ws("concat_ws(' ', dp1, dp2)") + " END"),
        ("co_raw", f"CASE WHEN has_detail THEN {co_join} END"),
    ])

    # split_person_name on the CLEANED merged PI
    nm0 = clean_ws(f"regexp_replace(pi_name, '{_HONORIFIC_STRIP}', ''{g})")
    named_bar = bar("named", "merged",
                    ["k", "g", "yr", "detail_url", "section", "text",
                     "amount_text0", "dt_amount_text", "dt_amount",
                     "amount1", "display0", "display1_pre", "project1",
                     "inst0", "inst1_pre", "descr", "co_raw", "pi1"], [
        ("pi_name", clean_ws("pi1")),
    ])

    toks_bar = bar("toks_cte", "named",
                   ["k", "g", "yr", "detail_url", "section", "text",
                    "amount_text0", "dt_amount_text", "dt_amount",
                    "amount1", "display0", "display1_pre", "project1",
                    "inst0", "inst1_pre", "descr", "co_raw", "pi_name"], [
        ("toks", pop_suffix(splitre(f"coalesce({nm0}, '')", "\\\\s+"), 2)),
    ])

    slug_src = ("coalesce(display_name, project_title, institution, "
                "'grant')")
    slugify = (f"regexp_replace(regexp_replace(lower({slug_src}), "
               f"'[^a-z0-9]+', '-'{g}), '-+', '-'{g})")
    slugify = (f"coalesce(nullif(trim(BOTH '-' FROM substr("
               f"trim(BOTH '-' FROM {slugify}), 1, 80)), ''), 'row')")
    dslug = (f"regexp_replace(regexp_replace(lower("
             f"regexp_extract(detail_url, '/([^/]+)/?$', 1)), "
             f"'[^a-z0-9]+', '-'{g}), '-+', '-'{g})")
    dslug = (f"coalesce(nullif(trim(BOTH '-' FROM substr("
             f"trim(BOTH '-' FROM {dslug}), 1, 80)), ''), 'row')")

    return f"""
WITH base AS (
  SELECT o_orderkey AS k, CAST(floor(o_orderkey / 2.0) AS BIGINT) AS g
  FROM orders
),
fixture AS (
  SELECT k, g, CAST(2019 + g % 7 AS INT) AS yr,
    (k % 3 = 0 AND (CASE WHEN g % 11 = 0 THEN 0 ELSE k % 6 END)
       IN (0, 1, 5)) AS has_detail,
    CASE WHEN k % 3 = 0 AND (CASE WHEN g % 11 = 0 THEN 0
           ELSE k % 6 END) IN (0, 1, 5)
      THEN concat('{_BASE}/en/project/climate-adapt-', {cs('g')}) END
      AS detail_url,
    CASE WHEN k % 3 = 0 AND (CASE WHEN g % 11 = 0 THEN 0
           ELSE k % 6 END) IN (0, 1, 5)
      THEN concat('Climate adaptation project ', {cs('g')})
      WHEN k % 9 = 0 THEN concat('“News item ', {cs('g')},
                                 '”') END AS link_text_raw,
    (k % 3 = 0 OR k % 9 = 0) AS has_anchor,
    {section_expr} AS section,
    CASE WHEN k % 15 = 0 THEN NULL
      ELSE concat('Climate adaptation in forests ', {cs('g')}) END
      AS dt_title,
    CASE WHEN k % 5 <> 1
      THEN concat('Adaptation mechanisms study ', {cs('g')}) END
      AS dt_project,
    CASE CAST(k % 5 AS INT)
      WHEN 2 THEN NULL
      WHEN 3 THEN concat('Dr Anna Ekstr', 'ö', 'm, PhD')
      ELSE concat('Professor Sven Holm ', {cs('g % 30')}) END AS dt_pi,
    CASE WHEN k % 5 <> 3
      THEN concat('Swedish University of Agricultural Sciences ',
                  {cs('g % 25')}) END AS dt_inst,
    CASE WHEN k % 2 = 1
      THEN concat('Funding Awarded: SEK ', {cs('1 + k % 8')},
                  CASE WHEN k % 4 = 1 THEN ' million' ELSE ' m' END)
      END AS dt_amount_line,
    CASE WHEN k % 2 = 0
      THEN concat('Professor Nils ', 'Å', 'berg ', {cs('g % 9')}) END
      AS co1,
    CASE WHEN k % 4 = 0
      THEN concat('Dr Eva Lund ', {cs('g % 5')}) END AS co2,
    CASE WHEN k % 3 <> 1
      THEN concat('The project investigates adaptation ', {cs('g')},
                  '.') END AS dp1,
    CASE WHEN k % 4 = 0
      THEN concat('Field trials run in region ', {cs('g % 10')}, '.')
      END AS dp2,
    {text_expr} AS text_raw
  FROM base
),
{parsed_bar},
{gated_bar},
keptrows AS (
  SELECT * FROM gated WHERE keep
),
{extr_bar},
{parts_bar},
{class_bar},
{merged_bar},
{named_bar},
{toks_bar},
rows_cte AS (
  SELECT k, g, yr, detail_url, section, text,
    coalesce(display1_pre, display0, project1) AS display_name,
    project1 AS project_title,
    coalesce(inst1_pre, inst0) AS institution,
    pi_name AS lead_investigator_name,
    CASE WHEN pi_name IS NULL OR {asize('toks')} <= 1 THEN NULL
         ELSE {jn('toks', f"{asize('toks')} - 1")} END
      AS lead_investigator_given_name,
    CASE WHEN pi_name IS NULL OR {asize('toks')} = 0 THEN NULL
         ELSE {elem('toks', asize('toks'))} END
      AS lead_investigator_family_name,
    {cs('amount1')} AS amount,
    CASE WHEN dt_amount IS NOT NULL
         THEN coalesce(dt_amount_text, amount_text0)
         ELSE amount_text0 END AS source_amount_text,
    descr AS description, co_raw AS co_investigators_raw,
    concat('{_BASE}/en/grants/', {cs('yr')}) AS source_page_url,
    coalesce(detail_url,
             concat('{_BASE}/en/grants/', {cs('yr')}))
      AS landing_page_url,
    {dig(f"concat({cs('yr')}, '|', text)")} AS source_row_hash
  FROM toks_cte
),
keyed AS (
  SELECT *,
    concat('mmw-', {cs('yr')}, '-',
      CASE WHEN detail_url IS NOT NULL THEN {dslug}
           ELSE {slugify} END) AS native0
  FROM rows_cte
),
final AS (
  SELECT *, row_number() OVER (PARTITION BY native0 ORDER BY yr, k)
    AS rn
  FROM keyed
)
SELECT
  CASE WHEN rn = 1 THEN native0
       ELSE concat(native0, '-', source_row_hash) END
    AS funder_award_id,
  display_name, description, project_title,
  {cs('yr')} AS source_year,
  concat({cs('yr')}, '-01-01') AS start_date,
  concat({cs('yr')}, '-12-31') AS end_date,
  amount,
  CASE WHEN amount IS NOT NULL THEN 'SEK' END AS currency,
  institution, lead_investigator_name, lead_investigator_given_name,
  lead_investigator_family_name, co_investigators_raw,
  section AS source_section, source_amount_text, source_page_url,
  detail_url, landing_page_url, text AS source_text, source_row_hash
FROM final
"""


@register(
    "mmw_parse_grants",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("MMW Wallenberg grants parse (scripts/local/mmw_to_s3.py)"),
    spread=("orders",),
)
def mmw_parse_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMW paragraph grammar (SEK amount parse with million promotion,
    keyword-cut institution/PI classification, quoted-title extract),
    detail-page merge cascades, ordered collision-suffix ids.  One
    scan, one native-id exchange, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
