"""Letten Prize laureates parse
(scripts/local/letten_prize_to_s3.py — 560 LoC).

The reference fetches the official lettenprize.com WP REST posts+pages
collections and walks the CANONICAL_WINNERS table (year -> {type,
slug}); ``find_item`` (the one-match assert) and the HTTP layer are the
seam — the fixture delivers, per orders key x canonical winner, the
matched item's raw fields (title.rendered, content.rendered, id, date,
modified, link) plus the canonical year/type/slug.  Everything
downstream ports:

* ``clean_text`` (:135-146): BS get_text-as-space -> tags-to-space,
  unescape (fixture-complete entity subset), NBSP shim, ws collapse,
  strip-or-NULL;
* ``parse_laureate_name`` (:247-279) — the 4-stage cascade: (1) the
  anchored case-insensitive title regex ``^(.+?) wins the Letten
  Prize$``; (2) the case-SENSITIVE body regex ``awards the Letten
  Prize\\s+\\d{4}\\s+to\\s+([A-Z][A-Za-z accents .'-]+?)\\s+for\\s+``;
  (3) the first-sentence regex ``^["“]?\\s*([A-Z]...+?)\\s+
  (?:hails|is affiliated|\\(from)``; (4) the <strong> scan: extract
  all strong texts in document order, clean each, drop candidates
  matching (?i)Citation|Video|Winner|Prize|Get to|Responding, first
  one shaped ``^[A-Z]word [A-Z]word$`` wins;
* ``parse_affiliation`` (:282-299) — the per-year regex table: 2025
  MIT containment, 2023 ``currently Assistant Professor at (...)``,
  2021 ``affiliated with the (...) where``, 2018 ``is affiliated with
  the (...)\\.``;
* ``parse_description`` (:302-317): full text when <= 1200 chars;
  else the sentence-selection loop — split on ``(?<=[.!?])\\s+``
  (emulated as backref-insert + split: RE2 has no lookbehind, and the
  cleaned text's whitespace is already collapsed to single spaces),
  sentence selected iff it contains the laureate's last name token or
  'Letten Prize' or fewer than 2 are selected so far (== the first two
  sentences are ALWAYS selected), stop after the running selection
  passes 900 joined chars (the breaking sentence is KEPT), fallback
  text[:1200];
* ``slugify`` (:149-153): NFKD ascii fold (translate shim for the
  fixture's accent set — the round-11 NFKD note), lower, non-alnum
  runs -> '-', strip '-', 'unknown' fallback;
* ``split_name`` (:156-165): lowercase suffix peel (phd/md/dphil/dsc/
  scd/jr/sr/ii/iii/iv, strip ',.'), single token -> (token, None) —
  the GIVEN name keeps it, family NULL (opposite of the holberg
  convention — preserved);
* ``amount_for_year`` (:320-323): <=2021 -> '2000000', else '2500000',
  each with its fixed amount_note sentence;
* ``source_hash`` (:345): sha1(raw item JSON)[:12] — DEVIATION (mmw
  precedent): sha256[:12] of the fixture-delivered raw payload string,
  this DuckDB build has no sha1;
* display 'Letten Prize {year} - {name}', award_date = item date[:10];
  the runtime-only ``retrieved_at`` column is not ported (carlsberg
  downloaded_at precedent).

Plan: ONE orders scan exploded x4 canonical winners behind Generate
barriers — the only exchange is the round-robin spread directly over
the scan, no Python.  tests/test_template_fidelity.py
re-derives the full expected output in Python (running the reference's
real regexes and selection loop) and AST-pins CANONICAL_WINNERS, the
suffix set and the amount table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# letten_prize_to_s3.py:121-127
_CANONICAL_WINNERS = {
    2018: ("page", "winner-of-the-2018-letten-prize"),
    2021: ("page", "winner-of-the-2021-letten-prize"),
    2023: ("page", "winner-of-the-2023-letten-prize"),
    2025: ("post", "2025-letten-prize-laureate"),
}
# :157 — lowercase forms compared after .lower().strip(',.')
_SUFFIXES = ("phd", "md", "dphil", "dsc", "scd", "jr", "sr",
             "ii", "iii", "iv")
# :320-323
_AMOUNT_EARLY = ("2000000",
                 "Official 2018/2021 winner pages state NOK 2,000,000.")
_AMOUNT_LATE = ("2500000",
                "Official 2023 call/current criteria state NOK 2,500,000.")
_SCHEME = "Letten Prize"
_FUNDING_TYPE = "prize"
_CURRENCY = "NOK"
_ABOUT = "https://lettenprize.com/about-letten-prize/"
_CRITERIA = "https://lettenprize.com/criteria/"
_MIT = "Massachusetts Institute of Technology"

# letten:253-276 — the name character class (accent ranges + " .'-")
_NC = "A-Za-zÀ-ÖØ-öø-ÿ .''\\\\-"
_T_TITLE = "(?i)^(.+?) wins the Letten Prize$"
_T_TO = ("awards the Letten Prize\\\\s+\\\\d{4}\\\\s+to\\\\s+"
         f"([A-Z][{_NC}]+?)\\\\s+for\\\\s+")
_T_FIRST = (f"^[\"“]?\\\\s*([A-Z][{_NC}]+?)\\\\s+"
            "(?:hails|is affiliated|\\\\(from)")
_T_STRONG_BAD = "(?i)Citation|Video|Winner|Prize|Get to|Responding"
_T_STRONG_OK = f"^[A-Z][{_NC}]+ [A-Z][{_NC}]+$"
_T_AFF_2023 = ("currently\\\\s+Assistant Professor at\\\\s+"
               "(.+?)(?:,\\\\s+where|\\\\.|$)")
_T_AFF_2021 = "affiliated with the\\\\s+(.+?)\\\\s+where"
_T_AFF_2018 = "is affiliated with the\\\\s+(.+?)\\\\.\\\\s+"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, cs, bar, asize, elem, filt = k.g, k.cs, k.bar, k.asize, k.elem, k.filt
    jnall, jnspan, like, rxall, sl = k.jnall, k.jnspan, k.like, k.rxall, k.sl
    splitws, tx = k.splitws, k.tx

    def splitchr1(x: str) -> str:
        if dialect == "spark":
            rep = f"regexp_replace({x}, '([.!?]) ', concat('$1', char(1)))"
            return f"split({rep}, char(1))"
        rep = (f"regexp_replace({x}, '([.!?]) ', "
               f"'\\\\1' || chr(1), 'g')")
        return f"string_split({rep}, chr(1))"

    def sel_first2_or(a: str, cond_s: str) -> str:
        if dialect == "spark":
            c = cond_s.replace("S", "_x")
            return f"filter({a}, (_x, _i) -> _i < 2 OR ({c}))"
        c = cond_s.replace("S", f"({a})[_i]")
        return (f"list_transform(list_filter(range(1, {asize(a)} + 1), "
                f"_i -> _i <= 2 OR ({c})), _i -> ({a})[_i])")

    def cap900(a: str) -> str:
        # keep element i iff i == 1 OR the joined length of the
        # first i-1 selected sentences is <= 900
        if dialect == "spark":
            run = (f"aggregate(slice({a}, 1, _i), 0, "
                   f"(_a, _s) -> _a + length(_s) + 1) - 1")
            return f"filter({a}, (_x, _i) -> _i = 0 OR ({run}) <= 900)"
        run = (f"coalesce(list_sum(list_transform(list_slice({a}, 1, "
               f"_i - 1), _s -> length(_s) + 1)), 0) - 1")
        return (f"list_transform(list_filter(range(1, {asize(a)} + 1), "
                f"_i -> _i = 1 OR ({run}) <= 900), "
                f"_i -> ({a})[_i])")

    def sha12(x: str) -> str:
        if dialect == "spark":
            return f"substring(sha2({x}, 256), 1, 12)"
        return f"substring(sha256({x}), 1, 12)"

    def idiv(a: str, b: str) -> str:
        if dialect == "spark":
            return f"({a} div {b})"
        return f"({a} // {b})"

    def clean(x: str) -> str:
        """clean_text (letten:135-146) + the NBSP shim."""
        e = f"replace(replace({x}, '&amp;', '&'), '&nbsp;', ' ')"
        e = f"regexp_replace({e}, '<[^>]+>', ' '{g})"
        return f"nullif(trim(regexp_replace({e}, '\\\\s+', ' '{g})), '')"

    # ---- canonical-winner explode (letten:121-127) -------------------
    if dialect == "spark":
        winner_rows = ", ".join(
            f"named_struct('award_year', {y}, 'source_type', '{t}', "
            f"'source_slug', '{s}')"
            for y, (t, s) in _CANONICAL_WINNERS.items())
        winners = f"LATERAL VIEW explode(array({winner_rows})) _wv AS w"
    else:
        winner_rows = ", ".join(
            "{'award_year': %d, 'source_type': '%s', 'source_slug': '%s'}"
            % (y, t, s) for y, (t, s) in _CANONICAL_WINNERS.items())
        winners = f"CROSS JOIN UNNEST([{winner_rows}]) AS _wv(w)"

    # base-26 letter key: unique per orders key, digit-free (the name
    # regexes' character class has no digits)
    LK = (f"concat(chr(65 + CAST(o_orderkey % 26 AS INT)), "
          f"chr(65 + CAST({idiv('o_orderkey', '26')} % 26 AS INT)), "
          f"chr(65 + CAST({idiv('o_orderkey', '676')} % 26 AS INT)))")

    padding = " ".join(
        f"The Letten Prize jury noted the wide ranging impact of "
        f"contribution number {i} on communities health research and "
        f"sustainable development work around the world."
        for i in range(10))

    suffixes = ", ".join(f"'{s}'" for s in _SUFFIXES)
    t0_less1 = f"{asize('t0')} - 1"
    peel = (f"CASE WHEN {asize('t0')} > 0 AND "
            f"trim(BOTH '.,' FROM lower({elem('t0', asize('t0'))})) "
            f"IN ({suffixes}) "
            f"THEN {sl('t0', '1', t0_less1)} "
            f"ELSE t0 END")

    strong_cands = tx(rxall("content_rendered",
                            "<strong[^>]*>([^<]*)</strong>", 1),
                      clean("t"))
    strong_pick = elem(
        filt(strong_cands,
             f"t IS NOT NULL AND NOT ({like('t', _T_STRONG_BAD)}) "
             f"AND {like('t', _T_STRONG_OK)}"),
        "1")

    def rx1(srcv: str, pat: str) -> str:
        return f"nullif(regexp_extract({srcv}, '{pat}', 1), '')"

    # slugify (letten:149-153) over the fixture's accent set
    slug = ("nullif(trim(BOTH '-' FROM regexp_replace("
            "translate(lower(laureate), 'ü', 'u'), "
            f"'[^a-z0-9]+', '-'{g})), '')")

    # description (letten:302-317)
    famtok = f"{elem(splitws('laureate'), asize(splitws('laureate')))}"
    sel_cond = "contains(S, fam_token) OR contains(S, 'Letten Prize')"

    _PT = ["k", "award_year", "source_type", "source_slug", "wp_id",
           "title_rendered", "content_rendered", "link", "item_date",
           "item_modified", "raw_json"]

    return f"""
WITH base AS (
  SELECT o_orderkey AS k, w.award_year, w.source_type, w.source_slug,
    {LK} AS lk,
    CAST((o_orderkey + w.award_year) % 4 AS INT) AS arm,
    1000000 + o_orderkey * 100 + w.award_year % 100 AS wp_id
  FROM orders
  {winners}
),
named0 AS (
  SELECT *, CASE arm
      WHEN 0 THEN concat('Nora Helmer', lk)
      WHEN 1 THEN concat('Jon Müller-Olsen', lk)
      WHEN 2 THEN concat('Ada Chen', lk, ' PhD')
      ELSE concat('Anna Olsen', lk) END AS planted_name
  FROM base
),
raw AS (
  SELECT k, award_year, source_type, source_slug, wp_id,
    CASE WHEN arm = 0 THEN concat(planted_name, ' wins the Letten Prize')
      ELSE concat('Letten Prize ', {cs('award_year')},
                  ' laureate announced') END AS title_rendered,
    concat(
      CASE arm
        WHEN 0 THEN concat('The prize ceremony takes place in Oslo on ',
                           'day ', {cs('k % 28 + 1')}, '.')
        WHEN 1 THEN concat('The Young Academy of Norway and the Letten ',
                           'Foundation awards the Letten Prize ',
                           {cs('award_year')}, ' to ', planted_name,
                           ' for outstanding contributions to global ',
                           'research.')
        WHEN 2 THEN concat('"', planted_name,
                           ' hails from a long line of researchers in ',
                           'region ', {cs('k % 9')}, '.')
        ELSE concat('In round ', {cs('k % 9')},
                    ', the committee met in Oslo.',
                    ' <strong>Citation</strong>',
                    ' <strong>Get to know the winner</strong>',
                    ' <strong>', planted_name, '</strong> praised by',
                    ' peers.') END,
      ' ',
      CASE CAST(award_year AS INT)
        WHEN 2018 THEN concat('The laureate is affiliated with the ',
          'University of Bergen Faculty ', {cs('k % 5')},
          '. More details online.')
        WHEN 2021 THEN concat('The winner is affiliated with the Centre ',
          'for Advanced Study ', {cs('k % 5')},
          ' where the research group meets weekly.')
        WHEN 2023 THEN concat('She is currently Assistant Professor at ',
          'Institute Number ', {cs('k % 7')},
          ', where she leads a laboratory.')
        ELSE CASE WHEN k % 2 = 0
          THEN 'The laureate works at the {_MIT} in Cambridge.'
          ELSE concat('The laureate works at a leading research ',
                      'university in area ', {cs('k % 3')}, '.') END
        END,
      CASE WHEN k % 6 = 0 THEN ' {padding}' ELSE '' END
    ) AS content_rendered,
    concat('https://lettenprize.com/', source_slug, '/') AS link,
    concat({cs('award_year')}, '-06-', lpad({cs('k % 20 + 2')}, 2, '0'),
           'T10:00:00') AS item_date,
    concat({cs('award_year')}, '-07-', lpad({cs('k % 18 + 3')}, 2, '0'),
           'T12:30:00') AS item_modified,
    concat('letten-raw-', {cs('k')}, '-', {cs('award_year')}, '-',
           source_slug) AS raw_json
  FROM named0
),
{bar("texted", "raw", _PT, [
    ("text", clean("content_rendered")),
    ("title_clean", clean("title_rendered")),
])},
{bar("cascaded", "texted", _PT + ["text", "title_clean"], [
    ("laureate", f"coalesce({rx1('title_clean', _T_TITLE)}, "
                 f"{rx1('text', _T_TO)}, "
                 f"{rx1('text', _T_FIRST)}, "
                 f"{strong_pick})"),
])},
{bar("toks", "cascaded", _PT + ["text", "title_clean", "laureate"], [
    ("t0", splitws("laureate")),
    ("fam_token", famtok),
    ("lslug", slug),
    ("sentences", splitchr1("text")),
])},
{bar("named", "toks",
     _PT + ["text", "laureate", "fam_token", "lslug", "sentences"], [
    ("nt", peel),
    ("sel", sel_first2_or("sentences", sel_cond)),
])},
{bar("descd", "named",
     _PT + ["text", "laureate", "fam_token", "lslug", "nt", "sel"], [
    ("kept", cap900("sel")),
])}
SELECT
  concat('letten-prize-', {cs('award_year')}, '-',
         coalesce(lslug, 'unknown')) AS funder_award_id,
  {cs('wp_id')} AS source_record_id,
  source_type,
  source_slug,
  {sha12('raw_json')} AS source_hash,
  concat('Letten Prize ', {cs('award_year')}, ' - ', laureate)
    AS display_name,
  CASE WHEN text IS NULL THEN NULL
    WHEN length(text) <= 1200 THEN text
    ELSE coalesce(nullif(trim(regexp_replace({jnall('kept')},
                 '\\\\s+', ' '{g})), ''), substring(text, 1, 1200)) END
    AS description,
  laureate AS laureate_name,
  CASE WHEN {asize('nt')} <= 1 THEN {elem('nt', '1')}
    ELSE {jnspan('nt', '1', f"{asize('nt')} - 1")} END
    AS given_name,
  CASE WHEN {asize('nt')} <= 1 THEN NULL
    ELSE {elem('nt', asize('nt'))} END AS family_name,
  CASE CAST(award_year AS INT)
    WHEN 2025 THEN CASE WHEN contains(text, '{_MIT}')
      THEN '{_MIT}' END
    WHEN 2023 THEN {rx1('text', _T_AFF_2023)}
    WHEN 2021 THEN {rx1('text', _T_AFF_2021)}
    ELSE {rx1('text', _T_AFF_2018)} END AS affiliation,
  {cs('award_year')} AS award_year,
  substring(item_date, 1, 10) AS award_date,
  CASE WHEN award_year <= 2021 THEN '{_AMOUNT_EARLY[0]}'
    ELSE '{_AMOUNT_LATE[0]}' END AS amount,
  '{_CURRENCY}' AS currency,
  CASE WHEN award_year <= 2021 THEN '{_AMOUNT_EARLY[1]}'
    ELSE '{_AMOUNT_LATE[1]}' END AS amount_note,
  '{_SCHEME}' AS funder_scheme,
  '{_FUNDING_TYPE}' AS funding_type,
  link AS landing_page_url,
  title_rendered AS source_title,
  item_modified AS source_modified,
  '{_ABOUT}' AS about_url,
  '{_CRITERIA}' AS criteria_url
FROM descd
"""


@register(
    "letten_parse_laureates",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    spread=("orders",),
    doc=("Letten Prize laureates parse "
         "(scripts/local/letten_prize_to_s3.py)"),
)
def letten_parse_laureates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Letten canonical-winners parse: the 4-stage name cascade, the
    per-year affiliation regex table, the sentence-selection
    description truncation with the 900-char break, slugified ids,
    year-tabled amounts.  One scan, one round-robin spread exchange
    directly under it (``spread`` in ``register``: the single-row-group
    fixture scan is one task and this parse does ~100 µs/row of regex
    work), no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
