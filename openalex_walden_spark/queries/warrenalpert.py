"""Warren Alpert Foundation Prize parse
(scripts/local/warren_alpert_prize_to_s3.py — 379 LoC).

The reference fetches the custom ``winners/v1/info`` endpoint (prize
cohorts with inline winner records) and expands one row per (cohort x
winner).  The HTTP layer is the seam — the fixture delivers one cohort
per orders key with its label, description HTML and winners array
(id, first/last, title fallback, bio HTML, positions list, headshot).
Everything downstream ports (``fetch_raw_rows`` :173-236):

* empty-winner cohorts produce NO rows (:188-189);
* ``year_bounds`` (:139-143): all ``(?:19|20)\\d{2}`` matches in the
  label — first = start, LAST = end (single-year labels collapse);
* per-recipient amount = 500,000.0 / len(winners), shipped as the
  Python float repr (both engines print shortest-round-trip doubles,
  so '166666.66666666666' matches exactly);
* ``html_to_text``: BS text (fixture entity subset) + ws collapse;
* full_name = 'first last' joined-skipping-empties, falling back to
  the winner's ``title`` field (:194-197);
* ``slugify`` (:132-136): lower, non-alnum -> '-', dash-run collapse,
  strip, [:90], strip — 'unknown' fallback;
* funder_award_id = 'warren-alpert-prize-{label with - -> _}-{pos}-
  {slug}', duplicates RAISE (:198-200, :258-259);
* ``positions_to_text`` (:146-158): 'title - location' per entry
  (skipping empty halves and empty entries), '; '-joined-or-NULL;
  ``first_affiliation`` (:161-170): first non-empty location;
* given/family ship NULL when empty ('' or None via ``or None``);
* display 'Warren Alpert Foundation Prize {label} - {full_name}';
  start/end = first/last year -01-01/-12-31; fixed scheme/currency/
  URL columns; ``provenance`` constant.

Plan: ONE orders scan + one Generate explode over the winners array —
the only exchange is the round-robin spread over the scan, no Python.
tests/test_template_fidelity.py re-derives the full expected output in
Python and pins the grammar against the reference source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_COHORT_AMOUNT = "500000.0"
_CURRENCY = "USD"
_SCHEME = "Warren Alpert Foundation Prize"
_API = "https://www.warrenalpert.org/wp-json/winners/v1/info"
_PRIZE = "https://www.warrenalpert.org/prize/"
_RECIPIENTS = "https://www.warrenalpert.org/prize-recipients/"
_PROVENANCE = "warren_alpert_prize"

_YEARS = "(?:19|20)[0-9]{2}"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, arr, asize = k.g, k.S, k.cs, k.bar, k.arr, k.asize
    elem, filt, head, jnsep, rxall = k.elem, k.filt, k.head, k.jnsep, k.rxall
    striphtml, tx = k.striphtml, k.tx

    def wstruct(wid: str, first: str, last: str, wtitle: str,
                bio: str, positions: str, headshot: str) -> str:
        if dialect == "spark":
            return (f"named_struct('wid', {wid}, 'fn', {first}, "
                    f"'ln', {last}, 'wtitle', {wtitle}, 'bio', {bio}, "
                    f"'positions', {positions}, 'headshot', {headshot})")
        return (f"{{'wid': {wid}, 'fn': {first}, 'ln': {last}, "
                f"'wtitle': {wtitle}, 'bio': {bio}, "
                f"'positions': {positions}, 'headshot': {headshot}}}")

    def pstruct(title: str, loc: str) -> str:
        if dialect == "spark":
            return f"named_struct('ptitle', {title}, 'loc', {loc})"
        return f"{{'ptitle': {title}, 'loc': {loc}}}"

    if dialect == "spark":
        wexplode = "LATERAL VIEW posexplode(winners) _wv AS wpos, w"
        wcols = "wpos, w"
    else:
        wexplode = ("CROSS JOIN UNNEST(list_transform(range(1, "
                    "len(winners) + 1), _i -> struct_pack(wpos := _i - 1, "
                    "w := winners[_i]))) AS _wv(_z)")
        wcols = "_z.wpos AS wpos, _z.w AS w"

    # letter key for unique names
    LK = (f"concat(chr(65 + CAST(o_orderkey % 26 AS INT)), "
          f"chr(97 + CAST(({'o_orderkey div 26' if dialect == 'spark' else 'o_orderkey // 26'}) % 26 AS INT)), "
          f"chr(97 + CAST(({'o_orderkey div 676' if dialect == 'spark' else 'o_orderkey // 676'}) % 26 AS INT)))")

    w1 = wstruct("'w1'", "'Carl'", "concat('June', lk)", "''",
                 "concat('<p>Bio &amp; career ', lkk, '.</p>')",
                 arr(pstruct("'Professor'", "'Harvard Medical School'")),
                 "'https://img/1.jpg'")
    w2 = wstruct("'w2'", "''", "''",
                 "concat('Dr. Unnamed Honoree ', lkk)", "CAST(NULL AS "
                 + S + ")",
                 arr(pstruct("''", "''"),
                      pstruct("'Director'",
                              "concat('Institute ', lkk)")),
                 "CAST(NULL AS " + S + ")")
    # an empty positions list, typed like a filled one
    one_position = arr(pstruct("''", "''"))
    no_positions = (head(one_position, "0") if dialect == "spark"
                    else filt(one_position, "false"))
    w3 = wstruct("'w3'", "concat('Mary', lk)", "'O''Neill'", "''",
                 "'<p>Short  bio.</p>'", no_positions,
                 "'https://img/3.jpg'")

    empty_winners = head(arr("w1x"), "0")

    label = ("CASE CAST(o_orderkey % 3 AS INT) "
             "WHEN 0 THEN " + cs("1990 + o_orderkey % 30") + " "
             "WHEN 1 THEN concat(" + cs("1990 + o_orderkey % 30") + ", "
             "'-', " + cs("1991 + o_orderkey % 30") + ") "
             "ELSE concat('Prize ', " + cs("1990 + o_orderkey % 30")
             + ") END")

    pos_text = jnsep(
        filt(tx("w.positions",
                "CASE WHEN trim(t.ptitle) <> '' AND trim(t.loc) <> '' "
                "THEN concat(trim(t.ptitle), ' - ', trim(t.loc)) "
                "WHEN trim(t.ptitle) <> '' THEN trim(t.ptitle) "
                "WHEN trim(t.loc) <> '' THEN trim(t.loc) END"),
             "t IS NOT NULL"), "'; '")
    first_aff = elem(
        tx(filt("w.positions", "trim(t.loc) <> ''"), "trim(t.loc)"), "1")

    slug = ("coalesce(nullif(substring(trim(BOTH '-' FROM "
            "regexp_replace(regexp_replace(lower(full_name), "
            "'[^a-z0-9]+', '-'" + g + "), '-+', '-'" + g + ")), 1, 90), "
            "''), 'unknown')")
    slug = f"trim(BOTH '-' FROM {slug})"
    slug = f"coalesce(nullif({slug}, ''), 'unknown')"

    years = rxall("label", _YEARS, 0)

    return f"""
WITH cohorts AS (
  SELECT o_orderkey AS k, {LK} AS lk, {cs('o_orderkey')} AS lkk,
    {label} AS label,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('<p>For discoveries in field &amp; area ',
                  {cs('o_orderkey % 13')}, '.</p>') END AS cohort_desc,
    CASE CAST(o_orderkey % 9 AS INT)
      WHEN 0 THEN {empty_winners}
      WHEN 1 THEN {arr("w1x")}
      WHEN 2 THEN {arr("w1x", "w2x")}
      ELSE {arr("w1x", "w2x", "w3x")} END AS winners
  FROM (SELECT o_orderkey, {LK} AS lk, {cs('o_orderkey')} AS lkk,
               {w1} AS w1x, {w2} AS w2x, {w3} AS w3x
        FROM orders) _f
),
withw AS (
  SELECT k, label, cohort_desc, {asize('winners')} AS n_winners, {wcols}
  FROM cohorts
  {wexplode}
),
{bar("named", "withw",
     ["k", "label", "cohort_desc", "n_winners", "wpos", "w"], [
    ("full_name",
     "CASE WHEN trim(w.fn) <> '' AND trim(w.ln) <> '' "
     "THEN concat(trim(w.fn), ' ', trim(w.ln)) "
     "WHEN trim(w.fn) <> '' THEN trim(w.fn) "
     "WHEN trim(w.ln) <> '' THEN trim(w.ln) "
     "ELSE trim(w.wtitle) END"),
    ("desc_text", striphtml("cohort_desc")),
    ("bio_text", striphtml("w.bio")),
    ("positions_raw", f"nullif({pos_text}, '')"),
    ("affiliation_raw", first_aff),
    ("start_year", elem(years, "1")),
    ("end_year", elem(years, asize(years))),
])}
SELECT
  concat('warren-alpert-prize-', replace(label, '-', '_'), '-',
         {cs('wpos + 1')}, '-', {slug}) AS funder_award_id,
  w.wid AS source_id,
  label AS cohort_label,
  end_year AS source_year,
  start_year AS start_year_raw,
  end_year AS end_year_raw,
  {cs('wpos + 1')} AS recipient_position,
  {cs('n_winners')} AS cohort_recipient_count,
  full_name AS recipient_name,
  nullif(trim(w.fn), '') AS given_name,
  nullif(trim(w.ln), '') AS family_name,
  concat('{_SCHEME} ', label, ' - ', full_name) AS display_name,
  desc_text AS description,
  bio_text AS bio,
  positions_raw,
  affiliation_raw,
  w.headshot AS headshot_url,
  {cs('CAST(' + _COHORT_AMOUNT + ' AS DOUBLE) / n_winners')} AS amount,
  '{_CURRENCY}' AS currency,
  '{_SCHEME}' AS funder_scheme,
  concat(start_year, '-01-01') AS start_date,
  concat(end_year, '-12-31') AS end_date,
  '{_RECIPIENTS}' AS landing_page_url,
  '{_API}' AS source_api_url,
  '{_PRIZE}' AS amount_source_url,
  '{_PROVENANCE}' AS provenance
FROM named
"""


@register(
    "warren_alpert_parse_prizes",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Warren Alpert Prize parse "
         "(scripts/local/warren_alpert_prize_to_s3.py)"),
    spread=("orders",),
)
def warren_alpert_parse_prizes(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Warren Alpert cohort x winner expansion: label year bounds
    (first/last), 500k/N float-repr amount split, name-else-title
    fallback, positions text + first-affiliation walks, dash-collapsed
    [:90] slug ids.  One scan + one Generate, one round-robin spread
    exchange over the scan, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
