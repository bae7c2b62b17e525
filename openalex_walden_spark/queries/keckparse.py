"""W. M. Keck Foundation grant-abstract PDF parse
(scripts/local/keck_to_s3.py — 378 LoC).

The reference enumerates the WP media REST API for the per-cycle
"Abstracts" PDFs, runs ``pdftotext -layout``, strips running footers,
and assembles one record per standalone ``$<amount>`` line from the
contiguous non-blank block above it plus a two-line lookahead below.
The HTTP layer, the (program, cycle) newest-date PDF dedupe
(``latest_pdfs``) and the pdftotext line-buffer assembly are the seam
— the fixture delivers one $-anchored record per orders key carrying
the filename stem, the raw amount line, the footer-stripped block
ABOVE (top-down) and the post-blank lookahead pair (cand, nxt).
Everything downstream ports (``parse_meta``/``parse_pi``/
``parse_pdf`` :119-251):

* ``parse_meta``: the cycle token ``(?:^|_)([DJ])(\\d{2})(?:_|$)``
  (underscore is a regex word char, so \\b cannot anchor it — the
  reference's own comment), year = '20'+yy; the program token with
  vN / _2 / _emptyheader / Socal-casing tolerance, normalized through
  the 3-key code map;
* blocks shorter than 2 lines are skipped (:183-184);
* the org-level CATEGORY_RE pull + strip (spelling-drift pattern incl.
  the source's 'Heath Care' typo) BEFORE the city anchor (:188-190);
* the CITY_RE anchor (``^.{1,45},`` + 2-letter state / D.C. / full
  state-name alternation): institution = the SINGLE line above the
  city, pi_line = the line below; a block with no recognizable city
  keeps its first line as the institution and NEVER mints a PI
  (:196-209);
* institution gates: falsy, 'total' containment, category (:210-212);
* PI only on non-SoCal programs; ``parse_pi``: first investigator of
  the ``\\s*[,&]\\s*`` split (maxsplit 1), ws collapse, single token
  -> (NULL, token) (:130-147, 216-218);
* title: the first post-blank line is a title only when SHORT-LINE
  shaped — non-empty, followed by a blank, not an amount line, not a
  'June 2021' month-year stamp (:222-236);
* funder_award_id = 'keck-{year}-{md5(lower(year|inst|pi_line|title))
  [:10]}' — md5 exists in BOTH engines, no digest deviation needed
  (:238-240); USD amounts as comma-stripped digit strings.

Plan: ONE orders scan of pure column algebra behind Generate barriers
— zero exchanges, no Python.  tests/test_template_fidelity.py
re-derives the full expected output with the reference's real regexes
and AST-pins PROG_NAME and the regex battery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# keck_to_s3.py:81-83
_PROG_NAME = {"MR": "Medical Research",
              "SE": "Science & Engineering",
              "SoCal": "Southern California"}
_LANDING = "https://www.wmkeck.org/research-current-grantees/"

_CYCLE = "(?:^|_)([DJ])([0-9]{2})(?:_|$)"
_PROG = "(?i)(?:^|_)(MR|SE|SoCal|Socal)(?:v[0-9]+)?(?:_[0-9]+|_emptyheader)?(?:_|$)"
_AMOUNT = "^\\\\$\\\\s*([0-9,]+)\\\\s*$"
_US_STATES = (
    "Alabama|Alaska|Arizona|Arkansas|California|Colorado|Connecticut|"
    "Delaware|Florida|Georgia|Hawaii|Idaho|Illinois|Indiana|Iowa|Kansas|"
    "Kentucky|Louisiana|Maine|Maryland|Massachusetts|Michigan|Minnesota|"
    "Mississippi|Missouri|Montana|Nebraska|Nevada|New Hampshire|"
    "New Jersey|New Mexico|New York|North Carolina|North Dakota|Ohio|"
    "Oklahoma|Oregon|Pennsylvania|Rhode Island|South Carolina|"
    "South Dakota|Tennessee|Texas|Utah|Vermont|Virginia|Washington|"
    "West Virginia|Wisconsin|Wyoming|D\\\\.C\\\\.")
_CITY = ("^.{1,45},\\\\s*(?:[A-Z]{2}\\\\.?|D\\\\.C\\\\.|(?:"
         + _US_STATES + "))\\\\.?$")
_MONTHYEAR = ("(?i)^(January|February|March|April|May|June|July|August|"
              "September|October|November|December)\\\\s+20[0-9]{2}$")
_CATEGORY = ("(?i)^(Civic (and|&) Community|Arts (and|&) Culture|"
             "Heal?th( Care)?|Education|Precollegiate Education|"
             "Early Childhood|Community|Human Services|Environment|"
             "Science (and|&) Engineering|Medical Research)\\\\b.*$")
_PI_SPLIT = "\\\\s*[,&]\\\\s*"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, cs, bar, arr, asize, elem = k.g, k.cs, k.bar, k.arr, k.asize, k.elem
    filt, jn, like, rx, splitws = k.filt, k.jn, k.like, k.rx, k.splitws

    def first_idx(a: str, cond_t: str) -> str:
        # 1-based index of the first element satisfying cond (on S)
        if dialect == "spark":
            c = cond_t.replace("S", "_x")
            return (f"try_element_at(filter(transform({a}, "
                    f"(_x, _i) -> CASE WHEN {c} THEN _i + 1 END), "
                    f"t -> t IS NOT NULL), 1)")
        c = cond_t.replace("S", f"({a})[_i]")
        return (f"(list_filter(range(1, {asize(a)} + 1), "
                f"_i -> {c}))[1]")

    title_expr = ("CASE WHEN trim(cand) <> '' AND trim(nxt) = '' "
                  "AND NOT (" + like("trim(cand)", _AMOUNT) + ") "
                  "AND NOT (" + like("trim(cand)", _MONTHYEAR) + ") "
                  "THEN trim(regexp_replace(trim(cand), '\\\\s+', ' '"
                  + g + ")) END")

    # parse_meta (:119-127)
    code_expr = ("CASE lower(" + rx("stem", _PROG, 1) + ") "
                 "WHEN 'mr' THEN 'MR' WHEN 'se' THEN 'SE' "
                 "WHEN 'socal' THEN 'SoCal' END")
    year_expr = ("CASE WHEN " + rx("stem", _CYCLE, 2)
                 + " IS NOT NULL THEN concat('20', "
                 + rx("stem", _CYCLE, 2) + ") END")
    prog_cases = " ".join(f"WHEN '{k}' THEN '{v}'"
                          for k, v in _PROG_NAME.items())

    city_cond = like("S", _CITY)

    above_nc = filt("above", "NOT (" + like("t", _CATEGORY) + ")")

    # parse_pi (:130-147): first of the comma/& split, maxsplit=1 —
    # split_part on the REGEX boundary is emulated by a full regex
    # split whose first element equals the maxsplit-1 first element
    pi_first = (f"trim(regexp_replace({elem('pi_toks0', '1')}, "
                f"'\\\\s+', ' '{g}))")

    fixture_cols = f"""
    {elem(arr("'Abstracts_D25_MR'", "'Abstracts_J24_SE'",
              "'SoCal_Abstracts_J20'", "'Abstracts_D22_MRv3'",
              "'Abstracts_J19_Socal_emptyheader'"),
          'CAST(o_orderkey % 5 AS INT) + 1')} AS stem,
    CASE WHEN o_orderkey % 2 = 0
      THEN concat('$ ', {cs('1 + o_orderkey % 9')}, ',',
                  lpad({cs('o_orderkey % 1000')}, 3, '0'), ',000')
      ELSE concat('$', {cs('100 + o_orderkey % 900')}, ',000  ') END
      AS amount_line,
    CASE CAST(o_orderkey % 7 AS INT)
      WHEN 0 THEN {arr(f"concat('Harvard University ', {cs('o_orderkey')})",
                       "'Boston, MA'",
                       "'Nicholas Polizzi, Edward Boyden'")}
      WHEN 1 THEN {arr(f"concat('University of California, Berkeley ', {cs('o_orderkey')})",
                       "'Berkeley, California'",
                       "'Andrej Luptak & Jennifer Prescher'")}
      WHEN 2 THEN {arr(f"concat('Boys & Girls Club ', {cs('o_orderkey')})",
                       "'Civic and Community Services'",
                       "'Los Angeles, CA'")}
      WHEN 3 THEN {arr(f"concat('Some Museum ', {cs('o_orderkey')})",
                       "'Pasadena, CA'", "'Arts & Culture'")}
      WHEN 4 THEN {arr(f"concat('Community Org ', {cs('o_orderkey')})",
                       f"concat('Downtown Branch Office ', {cs('o_orderkey')})")}
      WHEN 5 THEN {arr("'Grand Total Summary'", "'Boston, MA'")}
      ELSE {arr(f"concat('Keck Institute ', {cs('o_orderkey')})",
                "'Washington, D.C.'", "'Cher'")} END AS above,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('Engineering  quorum sensors ',
                         {cs('o_orderkey % 9')})
      WHEN 1 THEN concat('June ', {cs('2015 + o_orderkey % 10')})
      WHEN 2 THEN 'Abstract prose begins here and'
      WHEN 3 THEN ''
      ELSE concat('$', {cs('100 + o_orderkey % 50')}, ',000') END AS cand,
    CASE WHEN o_orderkey % 5 = 2 THEN 'continues on this line'
      ELSE '' END AS nxt"""

    return f"""
WITH recs AS (
  SELECT o_orderkey AS k,{fixture_cols}
  FROM orders
),
kept AS (
  SELECT * FROM recs WHERE {asize('above')} >= 2
),
{bar("meta", "kept", ["k", "amount_line", "above", "cand", "nxt"], [
    ("code", code_expr),
    ("year", year_expr),
    ("amount", f"replace({rx('trim(amount_line)', _AMOUNT, 1)}, ',', '')"),
])},
{bar("blocks", "meta",
     ["k", "cand", "nxt", "code", "year", "amount"], [
    ("above_nc", above_nc),
])},
{bar("anchored", "blocks",
     ["k", "cand", "nxt", "code", "year", "amount", "above_nc"], [
    ("city_i", first_idx("above_nc", city_cond)),
])},
{bar("fields", "anchored",
     ["k", "cand", "nxt", "code", "year", "amount", "above_nc",
      "city_i"], [
    ("city", f"CASE WHEN city_i IS NOT NULL "
             f"THEN {elem('above_nc', 'city_i')} END"),
    ("institution",
     f"CASE WHEN city_i IS NULL THEN {elem('above_nc', '1')} "
     f"WHEN city_i >= 2 THEN trim({elem('above_nc', 'city_i - 1')}) END"),
    ("pi_line",
     f"CASE WHEN city_i IS NOT NULL AND city_i + 1 <= {asize('above_nc')} "
     f"THEN trim({elem('above_nc', 'city_i + 1')}) END"),
])},
gated AS (
  SELECT * FROM fields
  WHERE institution IS NOT NULL AND institution <> ''
    AND NOT contains(lower(institution), 'total')
    AND NOT ({like('institution', _CATEGORY)})
),
{bar("titled", "gated",
     ["k", "code", "year", "amount", "city", "institution", "pi_line"], [
    ("title", title_expr),
    ("pi_toks0", f"split(coalesce(pi_line, ''), '{_PI_SPLIT}')"
     if dialect == "spark" else
     f"regexp_split_to_array(coalesce(pi_line, ''), '{_PI_SPLIT}')"),
])},
{bar("named", "titled",
     ["k", "code", "year", "amount", "city", "institution", "pi_line",
      "title"], [
    ("pt", f"CASE WHEN pi_line IS NOT NULL AND code <> 'SoCal' "
           f"THEN {splitws(pi_first)} END"),
])}
SELECT
  concat('keck-', year, '-', substring(md5(lower(concat(
    coalesce(year, ''), '|', institution, '|', coalesce(pi_line, ''),
    '|', coalesce(title, '')))), 1, 10)) AS funder_award_id,
  title,
  CASE WHEN pt IS NULL OR {asize('pt')} < 2 THEN NULL
    ELSE {jn('pt', f"{asize('pt')} - 1")} END AS pi_given,
  CASE WHEN pt IS NULL OR {asize('pt')} = 0 THEN NULL
    WHEN {asize('pt')} < 2 THEN {elem('pt', '1')}
    ELSE {elem('pt', asize('pt'))} END AS pi_family,
  institution,
  city,
  amount,
  CASE code {prog_cases} END AS program,
  year AS year_awarded,
  '{_LANDING}' AS landing_page_url
FROM named
"""


@register(
    "keck_parse_grants",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="Keck Foundation PDF grants parse (scripts/local/keck_to_s3.py)",
)
def keck_parse_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keck abstract-PDF block grammar: filename cycle/program tokens,
    the category pull+strip, the City-ST structural anchor with the
    single-line-institution rule, SoCal org-level PI suppression, the
    short-line title gate with month-year rejection, md5[:10] native
    ids (exact — both engines have md5).  One scan, zero exchanges,
    no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
