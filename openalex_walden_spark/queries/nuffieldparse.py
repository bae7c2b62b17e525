"""Nuffield Foundation projects parse
(scripts/local/nuffield_to_s3.py — 598 LoC).

The reference pulls the ``/wp/v2/project`` REST list and then fetches
each project's rendered landing page, parsing the visible meta blocks
with regexes anchored on the ``icon awarded`` / ``icon date`` /
``Researchers:`` markers.  ONLY the HTTP layer is the seam here — the
landing-page regexes ARE the parse, so the fixture synthesizes a full
HTML blob per orders key and the port runs the reference's own
patterns over it:

* ``_AMOUNT_RE`` (:188-191): the svg-anchored amount capture
  ``([£$€]?[\\d,\\.]+[KMm]?)``;
* ``_DATE_RE`` (:194-197): the icon-date text up to the next tag,
  ws-collapsed;
* ``_THEME_RE`` walk (:200-204, 232-244): every (icon-class, text)
  pair in document order; classes in the 17-entry
  ``_NON_THEME_ICONS`` set are skipped, currency-leading texts are
  skipped, first survivor wins;
* ``_RESEARCHERS_RE`` + ``_STRONG_RE`` (:206-210): the labeled
  strong-run capture (Researchers/Project lead/Lead researcher(s)),
  then every <strong> text inside it, unescaped;
* ``parse_amount_to_float`` (:252-268): currency-symbol strip, K/k ->
  x1e3, M/m -> x1e6, comma-strip float;
* ``parse_date_range`` (:272-291): Month-YYYY pairs; first ->
  start, second -> end, each formatted YYYY-MM-01;
* ``split_name`` (:295-309): title-prefix peel (15 tokens incl.
  Lord/Lady) then degree-suffix peel; NO researchers -> lead fields
  ship the EMPTY STRING, not NULL (:423-425 — astype keeps '');
* description = REST content tag-stripped [:5000]; GBP iff amount;
  funder_award_id = 'nuffield-{slug}' (dups RAISE — unique fixture
  slugs); ``declined=False`` -> 'False'.

Plan: ONE orders scan of pure column algebra behind Generate barriers
— its only exchange is the round-robin spread over the scan, no
Python.  tests/test_template_fidelity.py runs
the reference's real regexes over the same HTML and AST-pins
_NON_THEME_ICONS and both token sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_CURRENCY = "GBP"
# nuffield_to_s3.py:213-215
_NON_THEME_ICONS = (
    "awarded", "date", "calendar", "clock", "share", "twitter",
    "facebook", "linkedin", "bsky", "email", "print", "download",
    "bluesky", "instagram", "youtube", "rss", "search", "menu",
)
# :295-297
_PREFIX_TITLES = ("Dr", "Prof", "Professor", "Mr", "Mrs", "Ms", "Sir",
                  "Dame", "Lord", "Lady")
_DEGREES = ("PhD", "MD", "DPhil", "Jr", "Sr", "II", "III", "IV")
_MONTHS = ("january", "february", "march", "april", "may", "june",
           "july", "august", "september", "october", "november",
           "december")

_SVG_MID = "[^>]*>(?:\\\\s*<use[^>]*>\\\\s*</use>)?\\\\s*</svg>\\\\s*"
_T_AMOUNT = ("(?i)icon\\\\s+awarded\\\\b" + _SVG_MID
             + "([£$€]?[0-9,\\\\.]+[KMm]?)")
_T_DATE = ("(?is)icon\\\\s+date\\\\b" + _SVG_MID
           + "([^<]+?)\\\\s*(?:</div>|<)")
_T_THEME = ("(?i)icon\\\\s+([a-z][a-z\\\\-]+)\\\\b" + _SVG_MID
            + "([^<]+?)\\\\s*</div>")
_T_RESEARCH = ("(?i)(?:Researchers?|Project lead|Lead\\\\s+researcher)s?:"
               "\\\\s*((?:\\\\s*<strong[^>]*>[^<]+</strong>\\\\s*"
               "(?:<span[^>]*>\\\\s*\\\\|\\\\s*</span>)?)+)")
_T_STRONG = "<strong[^>]*>([^<]+)</strong>"
_T_MONTH_YEAR = ("(?i)(January|February|March|April|May|June|July|August|"
                 "September|October|November|December)\\\\s+([0-9]{4})")


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, cs, bar, asize, elem, filt = k.g, k.cs, k.bar, k.asize, k.elem, k.filt
    jn, jnsep, rx, rxall, sl = k.jn, k.jnsep, k.rx, k.rxall, k.sl
    splitws, striphtml, tx, unesc = k.splitws, k.striphtml, k.tx, k.unesc

    def zip2(a: str, b: str, e: str) -> str:
        if dialect == "spark":
            body = e.replace("__CA__", "_za").replace("__TB__", "_zb")
            return f"zip_with({a}, {b}, (_za, _zb) -> {body})"
        body = (e.replace("__CA__", f"({a})[_i]")
                .replace("__TB__", f"({b})[_i]"))
        return (f"list_transform(range(1, {asize(a)} + 1), "
                f"_i -> {body})")

    # ---- theme walk: zip class/text arrays, filter, first ------------
    icons = ", ".join(f"'{i}'" for i in _NON_THEME_ICONS)
    theme_classes = rxall("html", _T_THEME, 1)
    theme_texts = rxall("html", _T_THEME, 2)
    clean_tb = "trim(regexp_replace(__TB__, '\\\\s+', ' '" + g + "))"
    pair_expr = ("CASE WHEN lower(__CA__) NOT IN (%s) AND NOT "
                 "(%s LIKE '£%%' OR %s LIKE '$%%' OR %s LIKE '€%%') "
                 "THEN %s END"
                 % (icons, clean_tb, clean_tb, clean_tb, clean_tb))
    theme_pick = elem(
        filt(zip2(theme_classes, theme_texts, pair_expr),
             "t IS NOT NULL"), "1")

    researchers_run = rx("html", _T_RESEARCH, 1)
    strongs = tx(rxall("researchers_run0", _T_STRONG, 1),
                 f"trim({unesc('t')})")

    months = {m: i + 1 for i, m in enumerate(_MONTHS)}
    month_num = ("CASE lower(mn) "
                 + " ".join(f"WHEN '{m}' THEN '{n:02d}'"
                            for m, n in months.items())
                 + " END")

    def fmt_date(pair_idx: str) -> str:
        mn = elem("mn_arr", pair_idx)
        yr = elem("yr_arr", pair_idx)
        return (f"CASE WHEN {mn} IS NOT NULL THEN concat({yr}, '-', "
                + month_num.replace("mn", mn) + ", '-01') END")

    prefixes = ", ".join(f"'{p}'" for p in _PREFIX_TITLES)
    degrees = ", ".join(f"'{d}'" for d in _DEGREES)

    def peel_front(a: str) -> str:
        less1 = f"{asize(a)} - 1"
        return (f"CASE WHEN {asize(a)} > 0 AND "
                f"trim(TRAILING '.' FROM {elem(a, '1')}) IN ({prefixes}) "
                f"THEN {sl(a, '2', less1)} ELSE {a} END")

    def peel_back(a: str) -> str:
        less1 = f"{asize(a)} - 1"
        return (f"CASE WHEN {asize(a)} > 0 AND "
                f"trim(TRAILING '.' FROM {elem(a, asize(a))}) "
                f"IN ({degrees}) "
                f"THEN {sl(a, '1', less1)} ELSE {a} END")

    ws_collapse_date = ("nullif(trim(regexp_replace("
                        + rx("html", _T_DATE, 1)
                        + ", '\\\\s+', ' '" + g + ")), '')")

    # researchers[1:] '|'-joined (:422-426)
    res_less1 = f"{asize('researchers')} - 1"
    co_expr = (f"CASE WHEN {asize('researchers')} > 1 THEN "
               f"{jnsep(sl('researchers', '2', res_less1), chr(39) + '|' + chr(39))}"
               f" END")

    # parse_amount_to_float (:252-268)
    amt_core = "regexp_replace(amount_raw, '^[£$€]', ''{})".format(g)
    amt_num = (f"try_cast(replace(regexp_replace({amt_core}, '[KkMm]$', "
               f"''{g}), ',', '') AS DOUBLE)")
    if dialect == "spark":
        _k = f"{amt_core} rlike '[Kk]$'"
        _m = f"{amt_core} rlike '[Mm]$'"
    else:
        # duck's ~ is regexp_full_match; regexp_matches has the
        # rlike search semantics
        _k = f"regexp_matches({amt_core}, '[Kk]$')"
        _m = f"regexp_matches({amt_core}, '[Mm]$')"
    amt_mult = (f"CASE WHEN {_k} THEN 1000.0 "
                f"WHEN {_m} THEN 1000000.0 ELSE 1.0 END")

    fixture_cols = f"""
    concat('project-', {cs('o_orderkey')}) AS slug,
    10000 + o_orderkey AS wp_id,
    concat('Project title &amp; scope ', {cs('o_orderkey')})
      AS title_rendered,
    concat('https://www.nuffieldfoundation.org/project/project-',
           {cs('o_orderkey')}, '/') AS link,
    concat('20', lpad({cs('10 + o_orderkey % 15')}, 2, '0'), '-03-',
           lpad({cs('o_orderkey % 27 + 1')}, 2, '0'), 'T09:00:00')
      AS date_posted,
    concat('<p>Summary &amp; findings for project ', {cs('o_orderkey')},
           ' with detail ', {cs('o_orderkey % 23')}, '.</p>')
      AS content_rendered,
    concat(
      '<div class="article-meta">',
      CASE CAST(o_orderkey % 5 AS INT)
        WHEN 0 THEN concat('<div><svg class="icon awarded " role="img">',
          '<use xlink:href="#awarded"></use></svg>£',
          {cs('20 + o_orderkey % 80')}, ',',
          lpad({cs('o_orderkey % 1000')}, 3, '0'), '</div>')
        WHEN 1 THEN '<div><svg class="icon awarded"></svg>$2.5M</div>'
        WHEN 2 THEN concat('<div><svg class="icon awarded"></svg>',
          {cs('100 + o_orderkey % 900')}, 'K</div>')
        WHEN 3 THEN '' ELSE
          '<div><svg class="icon awarded"></svg>€1,000</div>' END,
      CASE CAST(o_orderkey % 4 AS INT)
        WHEN 0 THEN concat('<div><svg class="icon date">',
          '<use></use></svg>May ', {cs('2015 + o_orderkey % 12')},
          '  -  April ', {cs('2017 + o_orderkey % 12')}, '</div>')
        WHEN 1 THEN concat('<div><svg class="icon date"></svg>June ',
          {cs('2014 + o_orderkey % 12')}, '</div>')
        WHEN 2 THEN '<div><svg class="icon date"></svg>TBC</div>'
        ELSE '' END,
      CASE WHEN o_orderkey % 3 <> 0 THEN
        concat('<div><svg class="icon welfare"></svg>£5,000</div>',
               '<div><svg class="icon justice"></svg>Justice ',
               {cs('o_orderkey % 6')}, '</div>')
        ELSE '' END,
      '<div><svg class="icon share"></svg>Share this</div>',
      CASE CAST(o_orderkey % 4 AS INT)
        WHEN 0 THEN concat('<p>Researchers: <strong>Dr Jane Doe ',
          {cs('o_orderkey % 9')}, ' PhD</strong>',
          '<span> | </span><strong>Prof John Smith</strong></p>')
        WHEN 1 THEN '<p>Project lead: <strong>Lady Ada Lovelace</strong></p>'
        WHEN 2 THEN concat('<p>Lead researchers: <strong>M&amp;M ',
          'Collective</strong><span> | </span><strong>Cher</strong></p>')
        ELSE '<p>No named team.</p>' END,
      '</div>') AS html
  FROM orders"""

    _PT = ["k", "slug", "wp_id", "title_rendered", "link", "date_posted",
           "content_rendered", "html"]
    _PT2 = ["k", "slug", "wp_id", "title_rendered", "link", "date_posted"]

    return f"""
WITH rest AS (
  SELECT o_orderkey AS k,{fixture_cols}
),
{bar("meta", "rest", _PT, [
    ("amount_raw", rx("html", _T_AMOUNT, 1)),
    ("date_raw", ws_collapse_date),
    ("theme", theme_pick),
    ("researchers_run0", researchers_run),
    ("content_text", striphtml("content_rendered")),
])},
{bar("meta2", "meta", _PT2 + ["amount_raw", "date_raw", "theme",
                              "content_text"], [
    ("researchers", strongs),
    ("amount_d", f"{amt_num} * {amt_mult}"),
    ("mn_arr", rxall("date_raw", _T_MONTH_YEAR, 1)),
    ("yr_arr", rxall("date_raw", _T_MONTH_YEAR, 2)),
])},
{bar("meta3", "meta2", _PT2 + ["amount_raw", "date_raw", "theme",
                               "content_text", "researchers", "amount_d",
                               "mn_arr", "yr_arr"], [
    ("lead", f"coalesce({elem('researchers', '1')}, '')"),
    ("co", co_expr),
])},
{bar("toks0", "meta3", _PT2 + ["theme", "content_text", "amount_d",
                               "mn_arr", "yr_arr", "lead", "co"], [
    ("t0", splitws("lead")),
])},
{bar("toks1", "toks0", _PT2 + ["theme", "content_text", "amount_d",
                               "mn_arr", "yr_arr", "lead", "co"], [
    ("t1", peel_front("t0")),
])},
{bar("named", "toks1", _PT2 + ["theme", "content_text", "amount_d",
                               "mn_arr", "yr_arr", "lead", "co"], [
    ("toks", peel_back("t1")),
])}
SELECT
  concat('nuffield-', slug) AS funder_award_id,
  {cs('wp_id')} AS wp_id,
  slug,
  {unesc('title_rendered')} AS title,
  substring(content_text, 1, 5000) AS description,
  theme,
  {cs('amount_d')} AS amount,
  CASE WHEN amount_d IS NOT NULL THEN '{_CURRENCY}' END AS currency,
  {fmt_date("1")} AS start_date,
  {fmt_date("2")} AS end_date,
  lead AS lead_full_name,
  CASE WHEN {asize('toks')} <= 1 THEN ''
    ELSE {jn('toks', f"{asize('toks')} - 1")} END AS lead_given_name,
  CASE WHEN {asize('toks')} = 0 THEN ''
    ELSE {elem('toks', asize('toks'))} END AS lead_family_name,
  co AS co_investigators,
  link AS landing_page_url,
  date_posted AS first_seen_date,
  'False' AS declined
FROM named
"""


@register(
    "nuffield_parse_projects",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Nuffield Foundation projects parse "
         "(scripts/local/nuffield_to_s3.py)"),
    spread=("orders",),
)
def nuffield_parse_projects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nuffield REST+landing hybrid: svg-icon-anchored amount/date/
    theme regex walk with the non-theme-icon and currency-text gates,
    labeled strong-run researcher extraction, K/M amount multipliers,
    Month-YYYY date-range formatting, title+degree name peels with
    empty-string lead fields.  One scan under one round-robin spread
    exchange, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
