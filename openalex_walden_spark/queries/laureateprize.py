"""Laureate-prize scraper family
(scripts/local/{kyoto_prize,japan_prize,brain_prize,king_faisal_prize,
keio_medical_science_prize,international_biology_prize,welch_award,
macarthur_fellows}_to_s3.py — 8 scripts, one laureate-ingest kit).

The four prize ingests share the canonical prize-ingest kit the Wolf/
Kavli/Abel ports established: ``collapse_text`` (ws collapse +
space-before-punctuation fix; kyoto's variant also folds NBSP and
U+3000), ``slugify`` with the 'unknown' fallback, and the
lowercase-suffix-pop ``split_name`` ({phd, md, dphil, dsc, scd, jr.,
sr., ii, iii, iv, jr, sr} compared via ``.lower().strip(",.")``; the
brain arm's splitter ALSO pops title prefixes from the front).  HTTP,
checkpoints, BeautifulSoup node selection and the rowspan-table
expansion are the seam — the fixture delivers each member's extracted
card/table/teaser fields one record per orders key.  Ported compute:

* **kyoto_prize** (kyoto_prize_to_s3.py:142-436): index-card year =
  the FIRST ``(?:19|20)\\d{2}`` hit in the center text (no word
  boundary — contrast heineken), role = center with the year string's
  first occurrence removed; card category from the 3-entry
  ``CATEGORY_BY_CLASS`` map; field text ``strip("[]")`` BEFORE
  collapse; the detail page overlays category/field/role
  (``or``-fallback per column, :397-400) and contributes the profile
  plane (lifespan/affiliation/achievement/citation/biography/meta
  description); detail role replaces '/' with ' '; ``looks_like_org``
  (12 ORG_HINTS substrings) routes orgs to family_name-whole;
  amounts: Counter per (year, prize_field) -> portion ``%.12g``,
  category amount 100000000 JPY only for year >= 2018, apportioned
  ``%.12g`` source amount, fixed rule note; id =
  'kyoto-prize-{year}-{slug(field)}-{slug(name)}';
* **japan_prize** (japan_prize_to_s3.py:122-352): rows come off the
  rowspan-EXPANDED decade tables (the expansion consumes bs4 Tags —
  seam side); year needs a ``\\b((?:19|20)\\d{2})\\b`` hit;
  ``clean_laureate_name`` extracts life dates from the first
  (ASCII or FULL-WIDTH) parenthesized group containing a 4-digit run,
  removes ALL such groups, then strips ONE leading honorific
  (Prof./Dr./Mr./Ms./Sir/Dame); gate rows missing year/field/name and
  names starting '[' or 'lecture'; the FOLLOWING grid row's
  ``[Nationality] Affiliation`` bracket grammar (:284-291); profile
  slug = detail href's last path part minus '.html', else
  slugify(name) with the landing page falling back to the decade
  page; fixed 100000000 JPY; id =
  'japan-prize-{year}-{slug(field)}-{slug(profile_slug or name)}';
* **brain_prize** (brain_prize_to_s3.py:114-364): year teasers give
  (year, topic, winner list); profile links drop 'read …' labels and
  duplicate hrefs; when a year page has NO profile links every
  winner name becomes a row landing on the year page itself with the
  profile plane NULL (:308-313); laureate name = profile h1-or-meta
  name falling back to the link label, given/family = profile split
  with PER-COMPONENT fallback to the label split (:329-331); the
  splitter pops {prof., professor, dr., dr, sir, dame} prefixes THEN
  the suffix set; portion = ``%.12g`` of 1/laureate_count (the count
  the year page showed); fixed DKK 10000000 total; id =
  'brain-prize-{year}-{slug(topic)}-{slug(name)}';
* **keio_medical_science_prize**
  (keio_medical_science_prize_to_s3.py:141-362): table rows carry up
  to TWO laureates (tds[1:3] -> laureate_position 1/2); year = the
  FIRST un-bounded ``(19|20)\\d{2}`` hit (an 'FY2006' glue matches);
  footnote groups ``(\\*+...)`` split into nobel_note (ALL groups
  joined) vs the name (groups removed); the detail page's h3 section
  at details[position-1] (absent -> all-None) feeds the mode machine:
  affiliation = first pre-header line not starting 'website', reason
  = lines under 'Reason for selection', comments under 'Comments',
  'Background' lines dropped (fixture header order matches the real
  pages: reason < background < comments, so the SQL range form equals
  the reference's running-mode machine — the mirror replays the REAL
  machine); ``strip_degree_suffix`` is a GLOBAL case-insensitive sub
  (not the kit's token pops) and the splitter has NO suffix set;
  amount = str(10000000.0) -> '10000000.0'; id =
  'keio-medical-science-prize-{year}-{position}-{slug(name)}';
* **international_biology_prize**
  (international_biology_prize_to_s3.py:132-420): list panels carry a
  '{{year}} ({{n}}th)' label (\\b-free year+edition grammar), a
  'Recipient :' line split on ' / ' into name/affiliation, and a
  'Research field :' line; ``clean_person_name`` strips honorifics —
  the 'Prof\\.?' alternative SHADOWS 'Professor' (leftmost
  alternation leaves 'essor …', preserved verbatim and pinned) — plus
  a CASE-SENSITIVE tail degree strip whose double-escaped
  ``Ph\\\\.D\\\\.`` alternative is dead in both engines; the
  Japanese all-upper-first-token split ('YAMANAKA Shinya' ->
  ('Shinya', 'Yamanaka') via .title()); detail pages (.html landings)
  contribute the research-achievements description; years beyond the
  listed range come from the detail-intro grammar: 'awards the {{year}}
  Prize in the field of "…" to …' (smart or straight quotes), the
  tail de-glued (Dr./Prof. replaces), honorific-stripped, then cut at
  the FIRST marker in the ORDERED 5-marker scan (priority order, not
  position), else at a <80-char first comma, else the first-2-words
  rule; description falls back to the 'in the field of {{field}}.'
  render; fixed 10000000.0 JPY; id =
  'international-biology-prize-{{year}}-{{slug(name)}}';
* **welch_award** (welch_award_to_s3.py:122-378, GraphQL seam): the
  awardRecipients entries; rows without a category or a year are
  dropped; category -> the 2-entry amount/scheme dicts (unknown
  categories keep NULL amount and fall back to the raw title as
  scheme); the splitter strips honorifics, folds ';' to ',', keeps
  the comma HEAD, then pops the dot-insensitive welch suffix set;
  blurb/description are HTML-stripped, concatenated when distinct,
  and capped at the last space inside 1200 chars + an ellipsis; id =
  'welch-{{cat_slug or unknown}}-{{year}}-{{slug-or-slugified-title}}';
  display name uses an em dash; is_past/declined ship as stringified
  booleans;
* **macarthur_fellows** (macarthur_fellows_to_s3.py:133-363, Solr
  seam): name = custom_s_name else metadata_title else '' (an EMPTY
  name survives when the URL slug exists); class-year must int()
  ('circa 2003' drops the row); slug = url tail else slugified name,
  empty -> drop; the splitter and _strip_html are byte-identical to
  welch's; description = '. '.join of the STRIPPED field title and
  the 800-char last-space-capped bio (the field_title COLUMN keeps
  its raw trailing space — only the description strips); area =
  display-name else slug form; fixed 800000.0 USD with the
  {{year}}..{{year+4}} five-year payout window; id =
  'macarthur-fellow-{{year}}-{{slug}}';
* **king_faisal_prize** (king_faisal_prize_to_s3.py:113-360):
  all-winners table rows (5 cells); ``clean_laureate_name`` first
  spaces glued initials (``\\b([A-Z])\\.(?=[A-Z][a-z])`` -> '\\1. '),
  then peels the 24-alternative ``TITLE_PREFIX_RE`` to a FIXPOINT
  (fixture bound: <= 2 rounds, staged as two peel passes each
  handling the spaced and the glued boundary form — RE2 has no
  lookahead); ``is_organization_name`` = 11 ORG_TERMS substrings OR
  the all-caps single-token rule; detail page: h1 title, h2 quote,
  citation = the text after ' was awarded the prize ' (lowercase
  marker search) cut at the earliest of 5 literal section markers,
  [:2000], first char upper-cased; ``topic_detail`` is ALWAYS NULL —
  the reference regex ``r'Topic:\\\\s*"…"'`` double-escapes ``\\s``
  so it demands a literal backslash that collapsed page text never
  contains (reference bug preserved verbatim, fixture proves the
  'Topic: "…"' text stays unmatched); topic falls back to it and so
  keeps the table value or NULL; amounts: COUNT per (year, category)
  window -> ``750000/n`` rendered ``%.2f``, portion '1/n' ('1' when
  alone); id = 'king-faisal-prize-{year}-{slug(category)}-
  {slug(detail-url slug)}'.

Union schema: 17 shared columns (member, funder_award_id, award_year,
laureate_name, given_name, family_name, affiliation,
landing_page_url, source_url, source_award_amount, currency,
amount_rule_url, portion, laureate_count, citation,
profile_description, is_organization_laureate) + per-member extras
(ky_*/jp_*/br_*/kf_*) null-padded across arms; the fidelity mirrors
assert each member's reference column names against this mapping.
``downloaded_at``/``source_fetched_at`` are runtime-only and not
ported (carlsberg precedent).  ``%.12g`` portions are rendered as
``%.12f``-rstrip (exact while portion >= 0.1 — fixture counts <= 4,
documented bound) and apportioned amounts as ``%.4f``-rstrip (exact
while the integer part keeps 8 digits — 100000000/n, n <= 4).

Plan: 4 scan arms behind Generate barriers; the only exchanges are
the kyoto and king-faisal share-count windows (the reference's
Counter / group_sizes dicts).  No Python.

tests/test_template_fidelity.py re-derives all four members with the
reference's own regex batteries and AST-pins the rule tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# kyoto_prize_to_s3.py:112-116
KYOTO_CATEGORY_BY_CLASS = {
    "laureate--green": "Advanced Technology",
    "laureate--purple": "Basic Sciences",
    "laureate--red": "Arts and Philosophy",
}
# kyoto_prize_to_s3.py:118-131
KYOTO_ORG_HINTS = (
    "academy", "association", "center", "centre", "foundation",
    "institute", "institution", "laboratory", "organisation",
    "organization", "society", "university",
)
# king_faisal_prize_to_s3.py:99-111
KF_ORG_TERMS = (
    "academy", "association", "center", "centre", "foundation",
    "institute", "institution", "organization", "project", "society",
    "university",
)
# the shared kit suffix set (all four members verbatim)
KIT_SUFFIXES = ("phd", "md", "dphil", "dsc", "scd", "jr.", "sr.",
                "ii", "iii", "iv", "jr", "sr")
# brain_prize_to_s3.py:133 — the one member that also pops prefixes
BRAIN_PREFIXES = ("prof.", "professor", "dr.", "dr", "sir", "dame")

_KY_NOTE = (
    "Official current amount is 100000000 JPY per category; "
    "https://www.kyotoprize.org/wp-content/uploads/2019/08/"
    "rita_everlasting_en.pdf states the increase to this amount was "
    "decided on April 12, 2018; populated for 2018-present and "
    "apportioned by year/field laureate count. Pre-2018 "
    "amount/currency left NULL rather than guessing older historical "
    "rules.")

_KY_RULE_URL = "https://www.kyotoprize.org/en/about/"
_JP_RULE_URL = "https://www.japanprize.jp/en/prize.html"
_BR_RULE_URL = "https://brainprize.org/about-the-brain-prize"
_KF_RULE_URL = "https://kingfaisalprize.org/nominations/"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, asize, elem = k.g, k.S, k.cs, k.bar, k.asize, k.elem
    fmt, idx_of, jnspan, nullcols = k.fmt, k.idx_of, k.jnspan, k.nullcols
    rx, slugify = k.rx, k.slugify
    bref = "$" if dialect == "spark" else "\\"
    suffixes = ", ".join(f"'{s}'" for s in KIT_SUFFIXES)
    prefixes = ", ".join(f"'{p}'" for p in BRAIN_PREFIXES)

    def splitws(x: str) -> str:
        return k.splitws(f"coalesce({x}, '')")

    def collapse(x: str, wide: bool = False) -> str:
        """collapse_text: (NBSP/U+3000 for kyoto,) ws collapse,
        space-before-punctuation fix, strip-or-NULL."""
        e = x
        if wide:
            e = f"replace(replace({e}, chr(160), ' '), chr(12288), ' ')"
        e = f"regexp_replace({e}, '\\\\s+', ' '{g})"
        e = f"regexp_replace({e}, '\\\\s+([,;.:])', '{bref}1'{g})"
        return f"nullif(trim({e}), '')"

    def rstrip0(x: str) -> str:
        r = f"regexp_replace({x}, '0+$', ''{g})"
        return f"regexp_replace({r}, '[.]$', ''{g})"

    def split_parts(raw: str, pop_prefixes: bool = False):
        """The kit splitter: tokens = .split(); optional front prefix
        pops (brain), tail suffix pops; (given, family) with NULLs."""
        toks = splitws(raw)
        notsuf = f"lower(trim(BOTH '.,' FROM t)) NOT IN ({suffixes})"
        end = f"coalesce({idx_of(toks, notsuf, 'array_max')}, 0)"
        if pop_prefixes:
            notpre = f"lower(trim(BOTH '.,' FROM t)) NOT IN ({prefixes})"
            start = (f"coalesce({idx_of(toks, notpre)}, "
                     f"{asize(toks)} + 1)")
        else:
            start = "1"
        head = jnspan(toks, f"({start})", f"({end}) - ({start})")
        last = elem(toks, f"({end})")
        given = (f"CASE WHEN ({end}) - ({start}) >= 1 THEN "
                 f"nullif({head}, '') END")
        family = f"CASE WHEN ({end}) >= ({start}) THEN {last} END"
        return given, family

    def g12(x: str) -> str:
        """f'{x:.12g}' for the value ranges the arms produce (portions
        in (1e-4, 1] and 1e8-apportioned amounts in [1e4, 1e8]):
        fixed-point %.Nf at the decade-matched precision, zeros/dot
        rstripped.  %g never switches to scientific here (exp >= -4)."""
        d = f"CAST({x} AS DOUBLE)"
        return (f"CASE "
                f"WHEN {d} >= 100000000 THEN {rstrip0(f_fmt('%.3f', d))} "
                f"WHEN {d} >= 10000000 THEN {rstrip0(f_fmt('%.4f', d))} "
                f"WHEN {d} >= 1000000 THEN {rstrip0(f_fmt('%.5f', d))} "
                f"WHEN {d} >= 100000 THEN {rstrip0(f_fmt('%.6f', d))} "
                f"WHEN {d} >= 10000 THEN {rstrip0(f_fmt('%.7f', d))} "
                f"WHEN {d} >= 1 THEN {rstrip0(f_fmt('%.11f', d))} "
                f"WHEN {d} >= 0.1 THEN {rstrip0(f_fmt('%.12f', d))} "
                f"WHEN {d} >= 0.01 THEN {rstrip0(f_fmt('%.13f', d))} "
                f"WHEN {d} >= 0.001 THEN {rstrip0(f_fmt('%.14f', d))} "
                f"ELSE {rstrip0(f_fmt('%.15f', d))} END")

    def f_fmt(spec: str, x: str) -> str:
        return f"{fmt}('{spec}', {x})"

    # ------------------------------------------------------------------
    # Kyoto Prize arm (kyoto_prize_to_s3.py:142-436)
    # ------------------------------------------------------------------
    ky_cat = " ".join(
        f"WHEN instr(card_class, '{cls}') > 0 THEN '{cat}'"
        for cls, cat in KYOTO_CATEGORY_BY_CLASS.items())
    ky_org_hit = " OR ".join(
        f"instr(lower(laureate_name), '{h}') > 0" for h in KYOTO_ORG_HINTS)
    ky_given, ky_family = split_parts("laureate_name")

    ky_fixture = f"""
    1985 + o_orderkey % 40 AS yr,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN 'laureate laureate--green'
      WHEN 1 THEN 'laureate laureate--purple'
      WHEN 2 THEN 'laureate laureate--red'
      ELSE 'laureate' END AS card_class,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN concat('Dr. Akira  Yoshino ', {cs('o_orderkey')})
      WHEN 1 THEN concat('Tadashi Tokieda', {cs('o_orderkey')}, ' PhD')
      WHEN 2 THEN concat('Stanford University Research Institute ',
                         {cs('o_orderkey')})
      WHEN 3 THEN concat('Cher', {cs('o_orderkey')})
      WHEN 4 THEN concat('Jane Goodall ', {cs('o_orderkey')}, ' DSc,')
      ELSE concat('Li Wei ', {cs('o_orderkey')}) END AS name_raw,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN concat({cs('1985 + o_orderkey % 40')}, ' Laureate')
      WHEN 1 THEN concat('Commemorative20 ', {cs('1985 + o_orderkey % 40')},
                         ' Laureate ', {cs('1985 + o_orderkey % 40')})
      ELSE concat('X', {cs('1985 + o_orderkey % 40')}, 'Y ',
                  {cs('1955 + o_orderkey % 40')}, ' Laureate')
      END AS center_raw,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE concat('[Materials Science ', {cs('o_orderkey % 97')}, ']')
      END AS field_raw,
    CASE WHEN o_orderkey % 2 = 0
      THEN concat('/en/en/laureates/profile-', {cs('o_orderkey')}, '/')
      ELSE concat('https://www.kyotoprize.org/en/laureates/profile-',
                  {cs('o_orderkey')}, '/') END AS card_href,
    CASE WHEN o_orderkey % 5 IN (0, 1)
      THEN concat('Fine Ceramics ', {cs('o_orderkey % 89')})
      ELSE NULL END AS d_field,
    CASE WHEN o_orderkey % 5 = 0 THEN 'Basic Sciences' END AS d_cat,
    CASE WHEN o_orderkey % 5 = 0 THEN 'Engineer/Chemist' END AS d_role,
    CASE WHEN o_orderkey % 3 = 0
      THEN concat('b. ', {cs('1930 + o_orderkey % 40')}) END AS d_lifespan,
    CASE WHEN o_orderkey % 2 = 0
      THEN concat('Kyoto  University Lab ', {cs('o_orderkey % 31')})
      END AS d_affiliation,
    CASE WHEN o_orderkey % 4 = 0
      THEN concat('Pioneering work ', {cs('o_orderkey % 19')})
      END AS d_ach_title,
    concat('Digest of achievement ', {cs('o_orderkey % 23')}) AS d_digest,
    CASE WHEN o_orderkey % 6 = 0 THEN NULL
      ELSE concat('For contributions to field ', {cs('o_orderkey % 29')})
      END AS d_citation,
    concat('Born and educated, ', {cs('o_orderkey % 37')}) AS d_bio,
    CASE WHEN o_orderkey % 3 = 1
      THEN concat('Kyoto Prize laureate profile ', {cs('o_orderkey % 41')})
      END AS d_meta,
    concat('https://www.kyotoprize.org/img/p', {cs('o_orderkey')}, '.jpg')
      AS d_image"""

    _KY_PT = ["k", "yr", "card_class", "card_href", "d_lifespan",
              "d_affiliation", "d_ach_title", "d_digest", "d_citation",
              "d_bio", "d_meta", "d_image"]

    ky_p = "instr(center_c, year_s)"
    # normalize_laureate_url (:233-239): urljoin + the /en/en/ fix
    ky_landing = (
        "replace(CASE WHEN substring(card_href, 1, 1) = '/' "
        "THEN concat('https://www.kyotoprize.org', card_href) "
        "ELSE card_href END, '/en/en/laureates/', '/en/laureates/')")

    ky = f"""
ky_rest AS (
  SELECT o_orderkey AS k,{ky_fixture}
  FROM orders
),
{bar("ky_named", "ky_rest", _KY_PT + ["name_raw", "center_raw",
                                      "field_raw", "d_field", "d_cat",
                                      "d_role"], [
    ("laureate_name", collapse("name_raw")),
    ("center_c", collapse("center_raw")),
    ("card_field", collapse("trim(BOTH '[]' FROM field_raw)")),
    ("year_s", rx(collapse("center_raw"), "((?:19|20)[0-9]{2})", 1)),
])},
{bar("ky_roled", "ky_named", _KY_PT + ["laureate_name", "center_c",
                                       "card_field", "year_s",
                                       "d_field", "d_cat", "d_role"], [
    ("laureate_role",
     collapse(f"CASE WHEN {ky_p} > 0 THEN concat("
              f"substring(center_c, 1, {ky_p} - 1), "
              f"substring(center_c, {ky_p} + 4)) ELSE center_c END")),
    ("card_cat", f"CASE {ky_cat} END"),
])},
{bar("ky_final", "ky_roled", _KY_PT + ["laureate_name", "year_s",
                                       "laureate_role", "card_cat",
                                       "card_field", "d_field", "d_cat",
                                       "d_role"], [
    ("prize_category", "coalesce(d_cat, card_cat)"),
    ("prize_field", "coalesce(d_field, card_field)"),
    ("role_final",
     f"coalesce({collapse('replace(d_role, chr(47), chr(32))')}, "
     f"laureate_role)"),
    ("is_org", f"CASE WHEN {ky_org_hit} THEN 'true' ELSE 'false' END"),
])},
ky_counted AS (
  SELECT *, COUNT(*) OVER (PARTITION BY year_s, prize_field) AS n_share
  FROM ky_final
),
ky_out AS (
  SELECT
    'kyoto_prize' AS member,
    concat('kyoto-prize-', year_s, '-', {slugify('prize_field')}, '-',
           {slugify('laureate_name')}) AS funder_award_id,
    year_s AS award_year,
    laureate_name,
    CASE WHEN is_org = 'true' THEN NULL
      ELSE {ky_given} END AS given_name,
    CASE WHEN is_org = 'true' THEN laureate_name
      ELSE {ky_family} END AS family_name,
    {collapse('d_affiliation')} AS affiliation,
    {ky_landing} AS landing_page_url,
    'https://www.kyotoprize.org/en/laureates/' AS source_url,
    CASE WHEN CAST(year_s AS INT) >= 2018
      THEN {g12('100000000.0 * (1.0 / n_share)')} END
      AS source_award_amount,
    CASE WHEN CAST(year_s AS INT) >= 2018 THEN 'JPY' END AS currency,
    '{_KY_RULE_URL}' AS amount_rule_url,
    {g12('1.0 / n_share')} AS portion,
    {cs('n_share')} AS laureate_count,
    {collapse('d_citation')} AS citation,
    {collapse('d_meta')} AS profile_description,
    is_org AS is_organization_laureate,
    'Kyoto Prize' AS ky_prize_name,
    prize_category AS ky_prize_category,
    prize_field AS ky_prize_field,
    role_final AS ky_laureate_role,
    {collapse('d_lifespan')} AS ky_lifespan,
    {collapse('d_ach_title')} AS ky_achievement_title,
    {collapse('d_digest')} AS ky_achievement_digest,
    {collapse('d_bio')} AS ky_biography,
    d_image AS ky_image_url,
    CASE WHEN CAST(year_s AS INT) >= 2018 THEN '100000000' END
      AS ky_category_award_amount,
    '{_KY_NOTE}' AS ky_amount_rule_note,
    {cs('k + 1')} AS ky_index_position,
    {ky_landing} AS ky_detail_source_url
  FROM ky_counted
)"""

    def rl(x: str, pat: str) -> str:
        if dialect == "spark":
            return f"({x} RLIKE '{pat}')"
        return f"regexp_matches({x}, '{pat}')"

    # ------------------------------------------------------------------
    # Japan Prize arm (japan_prize_to_s3.py:122-352)
    # ------------------------------------------------------------------
    # life-dates group: first (ASCII or full-width) parenthesized run
    # containing 4 consecutive digits (clean_laureate_name :267-276)
    jp_group = "[（(]([^()（）]*[0-9]{4}[^()（）]*)[）)]"
    jp_group_all = "[（(][^()（）]*[0-9]{4}[^()（）]*[）)]"
    jp_honorific = "^(Prof\\\\.|Dr\\\\.|Mr\\\\.|Ms\\\\.|Sir|Dame)\\\\s+"
    jp_pages = ["laureates_by_year.html", "laureates_by_year2010.html",
                "laureates_by_year2000.html", "laureates_by_year1990.html",
                "laureates_by_year1980.html"]
    jp_path = " ".join(f"WHEN {i} THEN '{p}'"
                       for i, p in enumerate(jp_pages))
    jp_given, jp_family = split_parts("laureate_name")
    jp_slug_raw = ("replace(regexp_extract(profile_url, '([^/]+)$', 1), "
                   "'.html', '')")
    # hoisted (f-string expression parts cannot carry backslashes)
    jp_year_pat = "\\\\b((?:19|20)[0-9]{2})\\\\b"
    jp_bracket = "^\\\\[([^\\\\]]+)\\\\]\\\\s*(.*)$"

    jp_fixture = f"""
    CASE CAST(o_orderkey % 5 AS INT) {jp_path} END AS tbl_path,
    CASE WHEN o_orderkey % 9 = 0 THEN 'FY2020x'
      ELSE concat('FY ', {cs('1985 + o_orderkey % 40')}) END AS year_raw,
    concat('Physics, Chemistry ', {cs('o_orderkey % 23')}) AS field_raw,
    CASE WHEN o_orderkey % 2 = 0
      THEN concat('/en/fields/f', {cs('o_orderkey % 23')}, '.html')
      END AS field_href,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN concat('Dr. Leo  Esaki', {cs('o_orderkey')},
                         ' (b. 1925)')
      WHEN 1 THEN '[Commemorative Lecture]'
      WHEN 2 THEN 'Lecture: Future of Semiconductors'
      WHEN 3 THEN concat('Jun-ichi Nishizawa', {cs('o_orderkey')})
      WHEN 4 THEN concat('Mr. Kenichi Honda', {cs('o_orderkey')},
                         ' （1925－2011）')
      ELSE concat('Sir Timothy Berners-Lee', {cs('o_orderkey')},
                  ' (2016 Laureate)') END AS name_text,
    CASE WHEN o_orderkey % 3 < 2
      THEN concat('/en/laureates/profile', {cs('o_orderkey')}, '.html')
      END AS name_href,
    concat('Discovery of  phenomenon ', {cs('o_orderkey % 43')})
      AS ach_raw,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN '[Japan] University of  Tokyo'
      WHEN 1 THEN '[USA] MIT Media Lab'
      WHEN 2 THEN 'Independent Researcher'
      ELSE NULL END AS aff_next"""

    _JP_PT = ["k", "tbl_path", "field_href", "name_href", "aff_next"]

    jp = f"""
jp_rest AS (
  SELECT o_orderkey AS k,{jp_fixture}
  FROM orders
),
{bar("jp_named", "jp_rest", _JP_PT + ["year_raw", "field_raw",
                                      "name_text", "ach_raw"], [
    ("year_s", rx("year_raw", jp_year_pat, 1)),
    ("award_field", collapse("field_raw")),
    ("name_raw_c", collapse("name_text")),
    ("achievement", collapse("ach_raw")),
    ("aff_c", collapse("aff_next")),
])},
{bar("jp_cleaned", "jp_named", _JP_PT + ["year_s", "award_field",
                                         "name_raw_c", "achievement",
                                         "aff_c"], [
    ("life_dates", collapse(rx("name_raw_c", jp_group, 1))),
    ("laureate_name",
     collapse(f"trim(regexp_replace(regexp_replace(name_raw_c, "
              f"'{jp_group_all}', ''{g}), '{jp_honorific}', ''{g}))")),
    ("nat_part", collapse(rx("aff_c", jp_bracket, 1))),
    ("aff_part", collapse(rx("aff_c", jp_bracket, 2))),
])},
jp_gated AS (
  SELECT * FROM jp_cleaned
  WHERE year_s IS NOT NULL AND award_field IS NOT NULL
    AND laureate_name IS NOT NULL
    AND substring(laureate_name, 1, 1) <> '['
    AND lower(laureate_name) NOT LIKE 'lecture%'
),
{bar("jp_final", "jp_gated", _JP_PT + ["year_s", "award_field",
                                       "name_raw_c", "achievement",
                                       "life_dates", "laureate_name",
                                       "nat_part", "aff_part", "aff_c"], [
    ("source_url", "concat('https://www.japanprize.jp/en/', tbl_path)"),
    ("profile_url", "CASE WHEN name_href IS NOT NULL THEN "
                    "concat('https://www.japanprize.jp', name_href) END"),
    ("field_url", "CASE WHEN field_href IS NOT NULL THEN "
                  "concat('https://www.japanprize.jp', field_href) END"),
])}
,
jp_out AS (
  SELECT
    'japan_prize' AS member,
    concat('japan-prize-', year_s, '-', {slugify('award_field')}, '-',
           CASE WHEN profile_url IS NOT NULL
             THEN {slugify(jp_slug_raw)}
             ELSE {slugify('laureate_name')} END) AS funder_award_id,
    year_s AS award_year,
    laureate_name,
    {jp_given} AS given_name,
    {jp_family} AS family_name,
    CASE WHEN aff_c IS NULL THEN NULL
      WHEN nat_part IS NULL THEN aff_c
      ELSE aff_part END AS affiliation,
    coalesce(profile_url, source_url) AS landing_page_url,
    source_url,
    '100000000' AS source_award_amount,
    'JPY' AS currency,
    '{_JP_RULE_URL}' AS amount_rule_url,
    CAST(NULL AS {S}) AS portion,
    CAST(NULL AS {S}) AS laureate_count,
    CAST(NULL AS {S}) AS citation,
    CAST(NULL AS {S}) AS profile_description,
    CAST(NULL AS {S}) AS is_organization_laureate,
    tbl_path AS jp_source_table_path,
    profile_url AS jp_profile_url,
    field_url AS jp_field_url,
    award_field AS jp_award_field,
    name_raw_c AS jp_laureate_name_raw,
    life_dates AS jp_life_dates,
    CASE WHEN aff_c IS NOT NULL AND nat_part IS NOT NULL
      THEN nat_part END AS jp_nationality,
    achievement AS jp_achievement
  FROM jp_final
)"""

    # ------------------------------------------------------------------
    # Brain Prize arm (brain_prize_to_s3.py:114-364)
    # ------------------------------------------------------------------
    br_given, br_family = split_parts("laureate_name", pop_prefixes=True)

    br_fixture = f"""
    2011 + o_orderkey % 15 AS yr,
    1 + (2011 + o_orderkey % 15) % 3 AS ycount,
    concat('Neural Circuits ', {cs('2011 + o_orderkey % 15')}) AS topic,
    concat('https://brainprize.org/winners/',
           {cs('2011 + o_orderkey % 15')}) AS year_page,
    concat('The ', {cs('2011 + o_orderkey % 15')},
           ' Brain Prize for circuits') AS year_desc,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN 'Read more about the prize'
      WHEN 1 THEN concat('Anna Svensson', {cs('o_orderkey')})
      WHEN 2 THEN concat('Dr. May-Britt Moser', {cs('o_orderkey')})
      WHEN 3 THEN concat('Tim  Bliss', {cs('o_orderkey')})
      WHEN 4 THEN concat('Karl Deisseroth', {cs('o_orderkey')})
      ELSE concat('Sir Adrian Bird', {cs('o_orderkey')}) END AS label_raw,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 3 THEN concat('Professor Tim Bliss', {cs('o_orderkey')})
      WHEN 5 THEN concat('Adrian Bird', {cs('o_orderkey')}, ' PhD')
      END AS h1_raw,
    CASE WHEN o_orderkey % 6 = 2
      THEN concat('Prof. Edvard Moser', {cs('o_orderkey')})
      END AS meta_title,
    CASE WHEN o_orderkey % 6 IN (2, 3)
      THEN concat('NTNU Centre ', {cs('o_orderkey % 13')})
      END AS prof_aff,
    CASE WHEN o_orderkey % 6 IN (3, 5)
      THEN concat('Intro  paragraph ', {cs('o_orderkey % 11')})
      END AS prof_intro,
    CASE WHEN o_orderkey % 6 IN (2, 5)
      THEN concat('Profile of laureate ', {cs('o_orderkey % 17')})
      END AS prof_meta"""

    _BR_PT = ["k", "yr", "ycount", "topic", "year_page", "year_desc",
              "prof_aff", "prof_intro", "prof_meta"]

    br = f"""
br_rest AS (
  SELECT o_orderkey AS k,{br_fixture}
  FROM orders
),
br_kept AS (
  SELECT * FROM br_rest
  WHERE NOT lower(label_raw) LIKE 'read %'
),
{bar("br_named", "br_kept", _BR_PT, [
    ("label_c", collapse("label_raw")),
    ("prof_name", f"coalesce({collapse('h1_raw')}, {collapse('meta_title')})"),
    ("is_fallback", "CASE WHEN k % 6 = 1 THEN 1 ELSE 0 END"),
])},
{bar("br_final", "br_named", _BR_PT + ["label_c", "prof_name",
                                       "is_fallback"], [
    ("laureate_name", "coalesce(prof_name, label_c)"),
    ("profile_url",
     f"CASE WHEN is_fallback = 1 THEN year_page "
     f"ELSE concat(year_page, '/profile-', {cs('k')}) END"),
])}
,
br_out AS (
  SELECT
    'brain_prize' AS member,
    concat('brain-prize-', {cs('yr')}, '-', {slugify('topic')}, '-',
           {slugify('laureate_name')}) AS funder_award_id,
    {cs('yr')} AS award_year,
    laureate_name,
    {br_given} AS given_name,
    {br_family} AS family_name,
    CASE WHEN is_fallback = 0 THEN {collapse('prof_aff')} END
      AS affiliation,
    profile_url AS landing_page_url,
    'https://brainprize.org/winners' AS source_url,
    '10000000' AS source_award_amount,
    'DKK' AS currency,
    '{_BR_RULE_URL}' AS amount_rule_url,
    {g12('1.0 / ycount')} AS portion,
    {cs('ycount')} AS laureate_count,
    CAST(NULL AS {S}) AS citation,
    CASE WHEN is_fallback = 1 THEN year_desc
      ELSE {collapse('prof_meta')} END AS profile_description,
    CAST(NULL AS {S}) AS is_organization_laureate,
    year_page AS br_year_page_url,
    profile_url AS br_profile_url,
    topic AS br_award_topic,
    CASE WHEN is_fallback = 0 THEN {collapse('prof_intro')} END
      AS br_profile_bio,
    year_desc AS br_year_description
  FROM br_final
)"""

    # ------------------------------------------------------------------
    # King Faisal Prize arm (king_faisal_prize_to_s3.py:113-360)
    # ------------------------------------------------------------------
    # TITLE_PREFIX_RE (:113-124) with the (?:\s+|(?=[A-Z])) boundary
    # staged as a spaced pass + a glued capture pass (RE2-safe)
    kf_alts = (
        "Professor|Professsor|Prof\\\\.|Doctor|Dr\\\\.?|Mr\\\\.?|Mrs\\\\.?|"
        "Ms\\\\.?|Shaikh|Sheikh|Sayyid|Sir|Dame|President|Field Marshal|"
        "H\\\\.\\\\s*E\\\\.\\\\s*Dr\\\\.?|H\\\\.\\\\s*E\\\\.|"
        "His Excellency|His Exellency|His Highness|His Majesty|"
        "HRH Prince|The Honorable|Seri Dato|"
        "Custodian of the Two Holy Mosques")
    kf_spaced = f"(?i)^(?:{kf_alts})\\\\s+"
    kf_glued = f"(?i)^(?:{kf_alts})([A-Z])"

    def kf_peel(x: str) -> str:
        e = f"regexp_replace({x}, '{kf_spaced}', ''{g})"
        e = f"regexp_replace({e}, '{kf_glued}', '{bref}1'{g})"
        return collapse(e)

    # \b([A-Z])\.(?=[A-Z][a-z]) -> '\1. ' without lookahead: capture the
    # consumed capital and re-emit it (start-or-nonword boundary)
    kf_initials = (
        f"regexp_replace(name_c, "
        f"'(^|[^A-Za-z0-9_])([A-Z])[.]([A-Z][a-z])', "
        f"'{bref}1{bref}2. {bref}3'{g})")

    kf_org_hit = " OR ".join(
        f"instr(lower(laureate_name), '{t}') > 0" for t in KF_ORG_TERMS)
    kf_caps_pat = "^[A-Z0-9&.\\\\- ]{3,}$"
    kf_allcaps = (
        f"({rl('laureate_name', kf_caps_pat)} AND "
        f"instr(trim(BOTH '.' FROM laureate_name), ' ') = 0)")
    kf_given, kf_family = split_parts("laureate_name")

    _KF_MARKER = " was awarded the prize "  # len 23
    kf_enders = [" Biography ", " Laureate''s Honoring",
                 " Laureate''s Interview", " Laureate''s Certificate",
                 " Scientific Article"]
    kf_ends = ", ".join(
        f"nullif(instr(substring(dtext, mpos), '{m}'), 0)"
        for m in kf_enders)

    kf_fixture = f"""
    1979 + o_orderkey % 46 AS yr,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN 'Medicine'
      WHEN 1 THEN 'Science'
      WHEN 2 THEN 'Arabic Language & Literature'
      WHEN 3 THEN 'Islamic Studies'
      ELSE 'Service to Islam' END AS category,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN ''
      WHEN 1 THEN concat('Advances in gene  editing ',
                         {cs('o_orderkey % 27')})
      ELSE 'Molecular Biology' END AS topic_raw,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN 'Saudi Arabia' WHEN 1 THEN 'Egypt'
      WHEN 2 THEN 'USA' ELSE '' END AS country_raw,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN concat('His Excellency Dr. Ahmed Zewail',
                         {cs('o_orderkey')})
      WHEN 1 THEN concat('Professor M.Salim Khan', {cs('o_orderkey')})
      WHEN 2 THEN concat('KFUPM', {cs('o_orderkey')})
      WHEN 3 THEN concat('King Saud University', {cs('o_orderkey')})
      WHEN 4 THEN concat('Custodian of the Two Holy Mosques ',
                         'Fahd bin Abdulaziz', {cs('o_orderkey')})
      ELSE concat('Dr.Jane Goodall', {cs('o_orderkey')}) END AS name_raw,
    concat('https://kingfaisalprize.org/winner-', {cs('o_orderkey')},
           '/') AS detail_url,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('Winner ', {cs('o_orderkey')}) END AS h1_raw,
    CASE WHEN o_orderkey % 7 = 0 THEN 'Science  is hope' END AS h2_raw,
    CASE WHEN o_orderkey % 4 = 2
      THEN concat('Laureate recognised for achievement ',
                  {cs('o_orderkey % 33')}) END AS meta_raw"""

    kf_dtext = f"""CASE CAST(k % 4 AS INT)
      WHEN 0 THEN concat('Overview. ', name_c,
        ' was awarded the prize for work on topic ', {cs('k % 29')},
        '. Biography Early years follow.')
      WHEN 1 THEN 'Topic: "Quantum Wells" profile without marker text.'
      WHEN 2 THEN concat('Header. ', name_c,
        ' was awarded the prize in recognition of achievement ',
        {cs('k % 31')}, ' continuing to the end')
      ELSE concat('Intro. ', name_c,
        ' WAS AWARDED THE PRIZE for case-insensitive find ',
        {cs('k % 17')}, '. Laureate''s Honoring ceremony text') END"""

    _KF_PT = ["k", "yr", "detail_url"]

    kf = f"""
kf_rest AS (
  SELECT o_orderkey AS k,{kf_fixture}
  FROM orders
),
{bar("kf_named", "kf_rest", _KF_PT + ["category", "topic_raw",
                                      "country_raw", "name_raw",
                                      "h1_raw", "h2_raw", "meta_raw"], [
    ("name_c", collapse("name_raw")),
    ("category_c", collapse("category")),
    ("topic_c", collapse("topic_raw")),
    ("country_c", collapse("country_raw")),
])},
{bar("kf_fixed", "kf_named", _KF_PT + ["category_c", "topic_c",
                                       "country_c", "name_c", "h1_raw",
                                       "h2_raw", "meta_raw"], [
    ("name_i", kf_initials),
])},
{bar("kf_peeled", "kf_fixed", _KF_PT + ["category_c", "topic_c",
                                        "country_c", "name_c", "h1_raw",
                                        "h2_raw", "meta_raw"], [
    ("laureate_name", kf_peel(kf_peel(kf_peel("name_i")))),
])},
{bar("kf_texted", "kf_peeled", _KF_PT + ["category_c", "topic_c",
                                         "country_c", "name_c",
                                         "laureate_name", "h1_raw",
                                         "h2_raw", "meta_raw"], [
    ("dtext", kf_dtext),
    ("is_org_b", f"CASE WHEN ({kf_org_hit}) OR {kf_allcaps} "
                 f"THEN 'true' ELSE 'false' END"),
])},
{bar("kf_marked", "kf_texted", _KF_PT + ["category_c", "topic_c",
                                         "country_c", "name_c",
                                         "laureate_name", "h1_raw",
                                         "h2_raw", "meta_raw", "dtext",
                                         "is_org_b"], [
    ("mpos", f"instr(lower(dtext), '{_KF_MARKER}')"),
])},
{bar("kf_cited", "kf_marked", _KF_PT + ["category_c", "topic_c",
                                        "country_c", "name_c",
                                        "laureate_name", "h1_raw",
                                        "h2_raw", "meta_raw", "dtext",
                                        "is_org_b", "mpos"], [
    ("cit_raw", f"CASE WHEN mpos > 0 THEN substring("
                f"CASE WHEN least({kf_ends}) IS NOT NULL "
                f"THEN substring(dtext, mpos + 23, "
                f"least({kf_ends}) - 24) "
                f"ELSE substring(dtext, mpos + 23) END, 1, 2000) END"),
])},
kf_counted AS (
  SELECT *, COUNT(*) OVER (PARTITION BY yr, category_c) AS n_share
  FROM kf_cited
),
kf_out AS (
  SELECT
    'king_faisal_prize' AS member,
    concat('king-faisal-prize-', {cs('yr')}, '-',
           {slugify('category_c')}, '-',
           {slugify("regexp_extract(trim(TRAILING '/' FROM detail_url), '([^/]+)$', 1)")})
      AS funder_award_id,
    {cs('yr')} AS award_year,
    laureate_name,
    CASE WHEN is_org_b = 'true' THEN NULL ELSE {kf_given} END
      AS given_name,
    CASE WHEN is_org_b = 'true' THEN laureate_name
      ELSE {kf_family} END AS family_name,
    CAST(NULL AS {S}) AS affiliation,
    detail_url AS landing_page_url,
    'https://kingfaisalprize.org/all-winners/' AS source_url,
    {f_fmt('%.2f', 'CAST(750000 AS DOUBLE) / n_share')}
      AS source_award_amount,
    'SAR' AS currency,
    '{_KF_RULE_URL}' AS amount_rule_url,
    CASE WHEN n_share = 1 THEN '1'
      ELSE concat('1/', {cs('n_share')}) END AS portion,
    {cs('n_share')} AS laureate_count,
    CASE WHEN cit_raw IS NULL THEN NULL
      ELSE concat(upper(substring({collapse('cit_raw')}, 1, 1)),
                  substring({collapse('cit_raw')}, 2)) END AS citation,
    CAST(NULL AS {S}) AS profile_description,
    is_org_b AS is_organization_laureate,
    category_c AS kf_award_category,
    topic_c AS kf_topic,
    country_c AS kf_country,
    name_c AS kf_official_laureate_name,
    {collapse('h1_raw')} AS kf_detail_title,
    {collapse('h2_raw')} AS kf_quote,
    CAST(NULL AS {S}) AS kf_topic_detail,
    {collapse('meta_raw')} AS kf_meta_description,
    '750000' AS kf_source_prize_amount_sar
  FROM kf_counted
)"""

    # ------------------------------------------------------------------
    # Keio Medical Science Prize arm
    # (keio_medical_science_prize_to_s3.py:141-376)
    # ------------------------------------------------------------------
    # footnote groups (clean_laureate_name :156-160): notes = ALL
    # (*...) groups joined, name = text with the groups removed
    ke_note_pat = "([(][*]+[^)]*[)])"
    ke_note_all = "[(][*]+[^)]*[)]"
    # strip_degree_suffix (:163-167): global case-insensitive sub
    ke_degree = "(?i),?\\\\s*(M\\\\.?D\\\\.?|Ph\\\\.?D\\\\.?|D\\\\.?V\\\\.?M\\\\.?|Dr\\\\.?)\\\\.?"

    def ke_norm(x: str) -> str:
        e = f"replace({x}, chr(160), ' ')"
        return f"nullif(trim(regexp_replace({e}, '\\\\s+', ' '{g})), '')"

    def ke_strip_degree(x: str) -> str:
        return ke_norm(f"regexp_replace({x}, '{ke_degree}', ''{g})")

    if dialect == "spark":
        def ke_arr(*items: str) -> str:
            return (f"array({', '.join(items)})" if items
                    else "slice(array(''), 1, 0)")

        def ke_pos(a: str, v: str) -> str:
            return f"array_position(transform({a}, t -> lower(t)), {v})"

        ke_filt_join_notes = (f"array_join(regexp_extract_all(nraw, "
                              f"'{ke_note_pat}', 1), ' ')")
    else:
        def ke_arr(*items: str) -> str:
            return (f"[{', '.join(items)}]" if items
                    else "list_slice([''], 1, 0)")

        def ke_pos(a: str, v: str) -> str:
            return f"list_position(list_transform({a}, t -> lower(t)), {v})"

        ke_filt_join_notes = (f"array_to_string(regexp_extract_all(nraw, "
                              f"'{ke_note_pat}', 1), ' ')")

    ke_sections = {}
    for pos in (1, 2):
        L = f"lines{pos}"
        p_r = f"nullif({ke_pos(L, chr(39) + 'reason for selection' + chr(39))}, 0)"
        p_b = f"nullif({ke_pos(L, chr(39) + 'background' + chr(39))}, 0)"
        p_c = f"nullif({ke_pos(L, chr(39) + 'comments' + chr(39))}, 0)"
        ke_sections[pos] = (L, p_r, p_b, p_c)

    ke_fixture = f"""
    CASE WHEN o_orderkey % 11 = 0 THEN 'TBA'
      ELSE concat('FY', {cs('1995 + o_orderkey % 31')}) END AS year_text,
    CASE WHEN o_orderkey % 3 < 2
      THEN concat('https://www.ms-fund.keio.ac.jp/en/prize/winners/w',
                  {cs('o_orderkey')}, '.html') END AS detail_url,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('Shinya Yamanaka', {cs('o_orderkey')},
                         ', M.D., Ph.D.')
      WHEN 1 THEN concat('Svante Paabo', {cs('o_orderkey')}, ' (*)')
      WHEN 2 THEN concat('Katalin Kariko', {cs('o_orderkey')},
                         ' (** Nobel 2023)')
      WHEN 3 THEN concat('Fred  Gage', {cs('o_orderkey')})
      ELSE '' END AS name1_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN ''
      ELSE concat('Second Winner', {cs('o_orderkey')}) END AS name2_raw,
    CASE WHEN o_orderkey % 3 < 2
      THEN concat('Shinya Yamanaka', {cs('o_orderkey')}, ', M.D.')
      END AS d_name1,
    CASE WHEN o_orderkey % 3 = 0
      THEN concat('Second Winner', {cs('o_orderkey')}, ' Dr.')
      END AS d_name2,
    CASE WHEN o_orderkey % 3 = 0 THEN {ke_arr(
        "'Website: https://lab.example'",
        "concat('Kyoto  University ', CAST(o_orderkey % 13 AS " + S + "))",
        "'Reason for selection'",
        "concat('Discovered reprogramming ', CAST(o_orderkey % 17 AS " + S + "))",
        "'of mature cells'",
        "'Background'", "'Early career in Osaka'",
        "'Comments'", "'Deeply honored by the prize'")}
      WHEN o_orderkey % 3 = 1 THEN {ke_arr(
        "concat('Stanford University ', CAST(o_orderkey % 19 AS " + S + "))",
        "'Reason for selection'",
        "concat('Pioneering work ', CAST(o_orderkey % 23 AS " + S + "))",
        "'in adult neurogenesis'")}
      ELSE {ke_arr()} END AS lines1,
    CASE WHEN o_orderkey % 3 = 0 THEN {ke_arr(
        "concat('MIT ', CAST(o_orderkey % 29 AS " + S + "))",
        "'Reason for selection'", "'Neural circuit mapping'")}
      ELSE {ke_arr()} END AS lines2"""

    ke_exploded = ("ke_rest _r LATERAL VIEW explode(array(1, 2)) _pv AS pos"
                   if dialect == "spark" else
                   "ke_rest _r CROSS JOIN UNNEST([1, 2]) AS _pv(pos)")

    _KE_PT = ["k", "pos", "year_text", "detail_url", "lines1", "lines2"]

    ke_intro = []
    for pos in (1, 2):
        L, p_r, p_b, p_c = ke_sections[pos]
        ke_intro.append(
            f"CASE WHEN pos = {pos} THEN coalesce({p_r}, {p_b}, {p_c}, "
            f"{asize(L)} + 1) END")

    def ke_struct_list(pos: int) -> str:
        L = f"lines{pos}"
        if dialect == "spark":
            return (f"zip_with({L}, sequence(1, size({L})), "
                    f"(t, i) -> named_struct('t', t, 'i', i))")
        return f"list_transform({L}, (t, i) -> {{'t': t, 'i': i}})"

    def ke_aff(pos: int) -> str:
        """First intro-mode line not starting 'website' (:248-250)."""
        zl = ke_struct_list(pos)
        cond = "s.i < intro_end AND lower(s.t) NOT LIKE 'website%'"
        if dialect == "spark":
            first = f"try_element_at(filter({zl}, s -> {cond}), 1)"
        else:
            first = f"(list_filter({zl}, s -> {cond}))[1]"
        return ke_norm(f"({first}).t")

    def ke_mode(pos: int, which: str) -> str:
        """Join the lines the reference's mode machine attributes to
        'reason' / 'comments' (:231-258; fixture header order is
        reason < background < comments, matching the real pages)."""
        L, p_r, p_b, p_c = ke_sections[pos]
        zl = ke_struct_list(pos)
        if which == "reason":
            r_end = (f"least(coalesce({p_b}, {asize(L)} + 1), "
                     f"coalesce({p_c}, {asize(L)} + 1))")
            cond = f"s.i > ({p_r}) AND s.i < ({r_end})"
        else:
            cond = f"s.i > ({p_c})"
        if dialect == "spark":
            j = (f"array_join(transform(filter({zl}, s -> {cond}), "
                 f"s -> s.t), ' ')")
        else:
            j = (f"array_to_string(list_transform(list_filter({zl}, "
                 f"s -> {cond}), s -> s.t), ' ')")
        return ke_norm(j)

    # keio split_name (:170-177): degree strip, then plain head/last —
    # NO suffix-set pops (a different splitter from the kit's)
    ke_toks = splitws(ke_strip_degree("name_final"))
    ke_n = asize(ke_toks)
    ke_split_given = (f"CASE WHEN ({ke_n}) >= 2 THEN "
                      f"{jnspan(ke_toks, '1', f'({ke_n}) - 1')} END")
    ke_split_family = (f"CASE WHEN ({ke_n}) >= 1 THEN "
                       f"{elem(ke_toks, f'({ke_n})')} END")

    ke = f"""
ke_rest AS (
  SELECT o_orderkey AS k,{ke_fixture}
  FROM orders
),
ke_pairs AS (
  SELECT _r.k, _r.year_text, _r.detail_url, _r.lines1, _r.lines2, pos,
         CASE WHEN pos = 1 THEN _r.name1_raw ELSE _r.name2_raw END
           AS name_raw,
         CASE WHEN pos = 1 THEN _r.d_name1 ELSE _r.d_name2 END
           AS d_name_raw,
         CASE WHEN pos = 1 THEN {asize('_r.lines1')} > 0
           ELSE {asize('_r.lines2')} > 0 END AS has_section
  FROM {ke_exploded}
),
{bar("ke_named", "ke_pairs", _KE_PT + ["name_raw", "d_name_raw",
                                       "has_section"], [
    ("year_s", rx("year_text", "((?:19|20)[0-9]{2})", 1)),
    ("nraw", ke_norm("name_raw")),
])},
ke_gated AS (
  SELECT * FROM ke_named
  WHERE year_s IS NOT NULL AND nraw IS NOT NULL
),
{bar("ke_cleaned", "ke_gated", _KE_PT + ["name_raw", "d_name_raw",
                                         "has_section", "year_s",
                                         "nraw"], [
    ("nobel_note", f"nullif(trim({ke_filt_join_notes}), '')"),
    ("name_final", ke_norm(f"regexp_replace(nraw, '{ke_note_all}', ''{g})")),
    ("intro_end", f"coalesce({ke_intro[0]}, {ke_intro[1]})"),
])},
{bar("ke_sectioned", "ke_cleaned", _KE_PT + ["has_section", "year_s",
                                             "d_name_raw", "nobel_note",
                                             "name_final", "intro_end"], [
    ("aff_raw", f"CASE WHEN has_section THEN CASE WHEN pos = 1 "
                f"THEN {ke_aff(1)} ELSE {ke_aff(2)} END END"),
    ("reason", f"CASE WHEN has_section THEN CASE WHEN pos = 1 "
               f"THEN {ke_mode(1, 'reason')} "
               f"ELSE {ke_mode(2, 'reason')} END END"),
    ("comments_s", f"CASE WHEN has_section THEN CASE WHEN pos = 1 "
                   f"THEN {ke_mode(1, 'comments')} "
                   f"ELSE {ke_mode(2, 'comments')} END END"),
])}
,
ke_out AS (
  SELECT
    'keio_medical_science_prize' AS member,
    concat('keio-medical-science-prize-', year_s, '-', {cs('pos')},
           '-', {slugify('name_final')}) AS funder_award_id,
    year_s AS award_year,
    name_final AS laureate_name,
    {ke_split_given} AS given_name,
    {ke_split_family} AS family_name,
    aff_raw AS affiliation,
    coalesce(detail_url,
             'https://www.ms-fund.keio.ac.jp/en/prize/list.html')
      AS landing_page_url,
    'https://www.ms-fund.keio.ac.jp/en/prize/list.html' AS source_url,
    '10000000.0' AS source_award_amount,
    'JPY' AS currency,
    'https://www.ms-fund.keio.ac.jp/en/news/a4246b3e370ad2125f9f720963fda4963f374cad.pdf'
      AS amount_rule_url,
    CAST(NULL AS {S}) AS portion,
    CAST(NULL AS {S}) AS laureate_count,
    CAST(NULL AS {S}) AS citation,
    CAST(NULL AS {S}) AS profile_description,
    CAST(NULL AS {S}) AS is_organization_laureate,
    concat('Keio Medical Science Prize ', year_s, ' - ', name_final)
      AS ke_display_name,
    reason AS ke_description,
    concat(year_s, '-01-01') AS ke_start_date,
    concat(year_s, '-12-31') AS ke_end_date,
    nobel_note AS ke_nobel_note,
    {cs('pos')} AS ke_laureate_position,
    {ke_strip_degree('CASE WHEN has_section THEN d_name_raw END')}
      AS ke_source_detail_name,
    comments_s AS ke_comments,
    'Keio Medical Science Prize' AS ke_funder_scheme,
    'keio_medical_science_prize' AS ke_provenance
  FROM ke_sectioned
)"""

    ky_extras = ["ky_prize_name", "ky_prize_category", "ky_prize_field",
                 "ky_laureate_role", "ky_lifespan",
                 "ky_achievement_title", "ky_achievement_digest",
                 "ky_biography", "ky_image_url",
                 "ky_category_award_amount", "ky_amount_rule_note",
                 "ky_index_position", "ky_detail_source_url"]
    jp_extras = ["jp_source_table_path", "jp_profile_url",
                 "jp_field_url", "jp_award_field",
                 "jp_laureate_name_raw", "jp_life_dates",
                 "jp_nationality", "jp_achievement"]
    br_extras = ["br_year_page_url", "br_profile_url", "br_award_topic",
                 "br_profile_bio", "br_year_description"]
    kf_extras = ["kf_award_category", "kf_topic", "kf_country",
                 "kf_official_laureate_name", "kf_detail_title",
                 "kf_quote", "kf_topic_detail", "kf_meta_description",
                 "kf_source_prize_amount_sar"]
    core = ("member, funder_award_id, award_year, laureate_name, "
            "given_name, family_name, affiliation, landing_page_url, "
            "source_url, source_award_amount, currency, "
            "amount_rule_url, portion, laureate_count, citation, "
            "profile_description, is_organization_laureate")

    def pad(*groups) -> str:
        return ", ".join(", ".join(gp) for gp in groups)

    # ------------------------------------------------------------------
    # International Prize for Biology arm
    # (international_biology_prize_to_s3.py:132-420)
    # ------------------------------------------------------------------
    # clean_person_name (:153-160): honorific strips (the 'Prof\.?'
    # alternative SHADOWS 'Professor' — leftmost alternation leaves
    # 'essor …', preserved verbatim and fixture-pinned), tail degree
    # strip CASE-SENSITIVE with the dead double-escaped Ph\\.D\\.
    ib_pre1 = "(?i)^(Dr\\\\.?|Prof\\\\.?|Professor)\\\\s*"
    ib_pre2 = "(?i)^(Sir|Dame)\\\\s+"
    ib_tail = "\\\\s+(FRS|FBA|MD|PhD|Ph\\\\\\\\.D\\\\\\\\.)$"

    def ib_clean(x: str) -> str:
        e = f"replace(replace({x}, chr(12288), ' '), chr(160), ' ')"
        return f"nullif(trim(regexp_replace({e}, '\\\\s+', ' '{g})), '')"

    def ib_cp(x: str) -> str:
        e = ib_clean(x)
        e = f"regexp_replace({e}, '{ib_pre1}', ''{g})"
        e = f"regexp_replace({e}, '{ib_pre2}', ''{g})"
        e = f"regexp_replace({e}, '{ib_tail}', ''{g})"
        e = f"trim(BOTH ' ,;' FROM {e})"
        return ib_clean(e)

    # split_name (:165-174): all-upper FIRST token -> Japanese-style
    # (given = rest, family = first.title()); else head/last
    ib_toks = splitws("name_final")
    ib_n = asize(ib_toks)
    ib_t1 = elem(ib_toks, "1")
    ib_head = jnspan(ib_toks, "1", f"({ib_n}) - 1")
    ib_rest = jnspan(ib_toks, "2", f"({ib_n}) - 1")
    ib_tlast = elem(ib_toks, f"({ib_n})")
    ib_isupper = (f"({ib_t1} = upper({ib_t1}) AND "
                  f"lower({ib_t1}) <> upper({ib_t1}))")
    ib_title1 = (f"concat(upper(substring({ib_t1}, 1, 1)), "
                 f"lower(substring({ib_t1}, 2)))")
    ib_given = (f"CASE WHEN ({ib_n}) <= 1 THEN NULL "
                f"WHEN {ib_isupper} THEN {ib_rest} "
                f"ELSE {ib_head} END")
    ib_family = (f"CASE WHEN ({ib_n}) = 0 THEN NULL "
                 f"WHEN ({ib_n}) = 1 THEN {ib_t1} "
                 f"WHEN {ib_isupper} THEN {ib_title1} "
                 f"ELSE {ib_tlast} END")

    ib_year_ed = "((?:19|20)[0-9]{2})\\\\s+\\\\(([0-9]+)(?:st|nd|rd|th)\\\\)"
    ib_recip_strip = "(?i)^Recipient\\\\s*:\\\\s*"
    ib_field_strip = "(?i)^Research field\\\\s*:\\\\s*"
    # parse_detail_intro grammar (:236-258) with the year re-verified
    ib_intro_pat = ("(?i)awards the ((?:19|20)[0-9]{2}) Prize in the "
                    "field of [\"“](.+?)[\"”]\\\\s+to\\\\s+(.+)")
    ib_markers = (" Emeritus Professor", " Professor", " Senior",
                  " Director", " Distinguished")

    _IB_LIST = "https://www.jsps.go.jp/english/e-biol/02_recipients.html"
    _IB_ABOUT = "https://www.jsps.go.jp/english/e-biol/01_outline.html"

    ib_fixture = f"""
    CASE WHEN o_orderkey % 8 >= 6 THEN 2023 + o_orderkey % 2
      ELSE 1985 + o_orderkey % 38 END AS yr,
    CAST(o_orderkey % 8 AS INT) AS shape,
    CASE WHEN o_orderkey % 8 < 6 THEN
      CASE WHEN o_orderkey % 9 = 0 THEN 'Ceremony TBD'
        ELSE concat({cs('1985 + o_orderkey % 38')}, ' (',
                    {cs('o_orderkey % 38 + 1')}, 'th)') END END
      AS year_label,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('Recipient: Prof.Motoo Kimura',
                         {cs('o_orderkey')})
      WHEN 1 THEN concat('Recipient : Dr. Edward O. Wilson',
                         {cs('o_orderkey')},
                         ' FRS / Harvard  University')
      WHEN 2 THEN concat('recipient: YAMANAKA Shinya',
                         {cs('o_orderkey')})
      WHEN 3 THEN ''
      ELSE concat('Recipient : Sir John Gurdon', {cs('o_orderkey')},
                  ' PhD / Cambridge') END AS recip_line,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN concat('Research field : Evolutionary Biology ',
                         {cs('o_orderkey % 21')})
      ELSE 'Research field: Systematics' END AS field_line,
    CASE WHEN o_orderkey % 2 = 0
      THEN concat('https://www.jsps.go.jp/english/e-biol/'
                  '02_recipients/awardee', {cs('o_orderkey')}, '.html')
      END AS about_link,
    CASE WHEN o_orderkey % 2 = 0 OR o_orderkey % 8 >= 6
      THEN concat('Discovered  molecular evolution ',
                  {cs('o_orderkey % 19')}) END AS detail_desc_raw,
    CASE WHEN o_orderkey % 8 = 6
      THEN concat('The Society awards the ', {cs('2023 + o_orderkey % 2')},
        ' Prize in the field of "Marine Biology ', {cs('o_orderkey % 11')},
        '" to Dr.Taylor Hughes', {cs('o_orderkey')},
        ' Emeritus Professor of Biology, Kyoto University')
      WHEN o_orderkey % 8 = 7
      THEN concat('JSPS awards the ', {cs('2023 + o_orderkey % 2')},
        ' Prize in the field of “Cell Biology ', {cs('o_orderkey % 13')},
        '” to Maria Santos', {cs('o_orderkey')},
        ', University of Lisbon') END AS intro_text"""

    _IB_PT = ["k", "yr", "shape", "about_link", "detail_desc_raw"]

    ib_intro_y = rx("intro_text", ib_intro_pat, 1)
    ib_intro_f = rx("intro_text", ib_intro_pat, 2)
    ib_intro_t = rx("intro_text", ib_intro_pat, 3)
    ib_tail_fix = ("replace(replace(intro_tail, 'Dr.', 'Dr. '), "
                   "'Prof.', 'Prof. ')")
    ib_marker_case = " ".join(
        f"WHEN instr(tail_nt, '{mk}') > 1 THEN instr(tail_nt, '{mk}')"
        for mk in ib_markers)
    # the >=2-words fallback of parse_detail_intro (:253-257)
    ib_tt = splitws("tail_nt")
    ib_tn = asize(ib_tt)
    ib_first2_words = (f"CASE WHEN ({ib_tn}) >= 2 THEN "
                       f"{jnspan(ib_tt, '1', '2')} ELSE tail_nt END")
    ib_after2_words = (f"CASE WHEN ({ib_tn}) >= 2 THEN "
                       f"nullif({jnspan(ib_tt, '3', f'({ib_tn}) - 2')},"
                       f" '') END")

    ib = f"""
ib_rest AS (
  SELECT o_orderkey AS k,{ib_fixture}
  FROM orders
),
{bar("ib_listed", "ib_rest", _IB_PT + ["year_label", "recip_line",
                                       "field_line", "intro_text"], [
    ("list_year", rx("coalesce(year_label, '')", ib_year_ed, 1)),
    ("list_ed", rx("coalesce(year_label, '')", ib_year_ed, 2)),
    ("recip_clean", ib_clean("recip_line")),
    ("field_clean",
     ib_clean(f"regexp_replace({ib_clean('field_line')}, "
              f"'{ib_field_strip}', ''{g})")),
    ("intro_year", ib_intro_y),
    ("intro_field", ib_clean(ib_intro_f)),
    ("intro_tail", ib_intro_t),
])},
{bar("ib_split1", "ib_listed", _IB_PT + ["list_year", "list_ed",
                                         "recip_clean", "field_clean",
                                         "intro_year", "intro_field",
                                         "intro_tail"], [
    ("recip_body",
     f"CASE WHEN recip_clean IS NOT NULL AND "
     f"lower(recip_clean) LIKE 'recipient%' THEN "
     f"regexp_replace(recip_clean, '{ib_recip_strip}', ''{g}) END"),
    ("tail_nt_pre", f"CASE WHEN intro_tail IS NOT NULL "
                    f"THEN {ib_clean(ib_tail_fix)} END"),
])},
{bar("ib_split2", "ib_split1", _IB_PT + ["list_year", "list_ed",
                                         "recip_clean", "field_clean",
                                         "intro_year", "intro_field",
                                         "tail_nt_pre"], [
    ("list_name", ib_cp(
        "CASE WHEN instr(recip_body, ' / ') > 0 THEN "
        "substring(recip_body, 1, instr(recip_body, ' / ') - 1) "
        "ELSE recip_body END")),
    ("list_aff", ib_clean(
        "CASE WHEN instr(recip_body, ' / ') > 0 THEN "
        "substring(recip_body, instr(recip_body, ' / ') + 3) END")),
    ("tail_nt", f"coalesce({ib_cp('tail_nt_pre')}, tail_nt_pre)"),
])},
{bar("ib_introed", "ib_split2", _IB_PT + ["list_year", "list_ed",
                                          "field_clean", "intro_year",
                                          "intro_field", "list_name",
                                          "list_aff", "tail_nt"], [
    ("mk_idx", f"CASE {ib_marker_case} ELSE 0 END"),
    ("comma_idx", "coalesce(instr(tail_nt, ','), 0)"),
])},
{bar("ib_named", "ib_introed", _IB_PT + ["list_year", "list_ed",
                                         "field_clean", "intro_year",
                                         "intro_field", "list_name",
                                         "list_aff", "tail_nt",
                                         "mk_idx", "comma_idx"], [
    ("intro_name", f"CASE WHEN tail_nt IS NULL THEN NULL "
     f"WHEN mk_idx > 0 THEN {ib_cp('substring(tail_nt, 1, mk_idx - 1)')} "
     f"WHEN comma_idx > 0 AND comma_idx <= 80 THEN "
     f"{ib_cp('substring(tail_nt, 1, comma_idx - 1)')} "
     f"ELSE {ib_cp(ib_first2_words)} END"),
    ("intro_aff", f"CASE WHEN tail_nt IS NULL THEN NULL "
     f"WHEN mk_idx > 0 THEN "
     f"{ib_clean('substring(tail_nt, mk_idx + 1)')} "
     f"WHEN comma_idx > 0 AND comma_idx <= 80 THEN "
     f"{ib_clean('substring(tail_nt, comma_idx + 1)')} "
     f"ELSE {ib_clean(ib_after2_words)} END"),
])},
ib_rows AS (
  SELECT *,
    CASE WHEN shape < 6 THEN list_year ELSE {cs('yr')} END AS year_s,
    CASE WHEN shape < 6 THEN list_ed ELSE {cs('yr - 1984')} END
      AS edition,
    CASE WHEN shape < 6 THEN list_name ELSE intro_name END AS raw_name,
    CASE WHEN shape < 6 THEN list_aff ELSE intro_aff END AS aff_pick,
    CASE WHEN shape < 6 THEN field_clean ELSE intro_field END
      AS field_pick,
    CASE WHEN shape < 6 THEN coalesce(about_link, '{_IB_LIST}')
      ELSE concat('https://www.jsps.go.jp/english/e-biol/'
                  '02_recipients/awardee', {cs('yr')}, '.html') END
      AS landing
  FROM ib_named
),
ib_gated AS (
  SELECT * FROM ib_rows
  WHERE (shape < 6 AND year_s IS NOT NULL AND raw_name IS NOT NULL)
     OR (shape >= 6 AND raw_name IS NOT NULL)
),
{bar("ib_final", "ib_gated", _IB_PT + ["year_s", "edition", "raw_name",
                                       "aff_pick", "field_pick",
                                       "landing"], [
    ("name_final", f"coalesce({ib_cp('raw_name')}, '')"),
    ("desc_final",
     f"coalesce({ib_clean('detail_desc_raw')}, "
     f"CASE WHEN {ib_clean('field_pick')} IS NOT NULL THEN "
     f"concat('International Prize for Biology in the field of ', "
     f"{ib_clean('field_pick')}, '.') END)"),
])}
,
ib_out AS (
  SELECT
    'international_biology_prize' AS member,
    concat('international-biology-prize-', year_s, '-',
           {slugify('name_final')}) AS funder_award_id,
    year_s AS award_year,
    name_final AS laureate_name,
    {ib_given} AS given_name,
    {ib_family} AS family_name,
    aff_pick AS affiliation,
    landing AS landing_page_url,
    '{_IB_LIST}' AS source_url,
    '10000000.0' AS source_award_amount,
    'JPY' AS currency,
    '{_IB_ABOUT}' AS amount_rule_url,
    CAST(NULL AS {S}) AS portion,
    CAST(NULL AS {S}) AS laureate_count,
    CAST(NULL AS {S}) AS citation,
    CAST(NULL AS {S}) AS profile_description,
    CAST(NULL AS {S}) AS is_organization_laureate,
    concat('International Prize for Biology ', year_s, ' - ',
           name_final) AS ib_display_name,
    desc_final AS ib_description,
    edition AS ib_edition,
    {ib_clean('field_pick')} AS ib_research_field,
    coalesce({ib_clean('field_pick')},
             'International Prize for Biology') AS ib_funder_scheme,
    concat(year_s, '-01-01') AS ib_start_date,
    concat(year_s, '-12-31') AS ib_end_date,
    'international_biology_prize' AS ib_provenance
  FROM ib_final
)"""

    # ------------------------------------------------------------------
    # Welch Award arm (welch_award_to_s3.py:122-378) — GraphQL
    # awardRecipients entries; the HTTP/GraphQL walk is the seam.
    # ------------------------------------------------------------------
    wl_pre = ("(?i)^(?:Dr\\\\.?|Prof\\\\.?|Professor|Mr\\\\.?|Ms\\\\.?|"
              "Mrs\\\\.?|Sir|Dame)\\\\s+")
    # welch split (:261-276): honorific strip, ;->, comma head, THEN
    # the dot-insensitive suffix pops over the head's tokens
    wl_sufs = ", ".join(f"'{s}'" for s in
                        ("PhD", "Ph.D", "MD", "M.D", "DPhil", "ScD",
                         "Jr", "Sr", "II", "III", "IV"))

    def wl_striphtml(x: str) -> str:
        e = f"regexp_replace({x}, '<[^>]+>', ' '{g})"
        e = f"regexp_replace({e}, '\\\\s+', ' '{g})"
        e = f"replace({e}, '&amp;', '&')"
        return f"nullif(trim({e}), '')"

    wl_head = ("trim(CASE WHEN instr(replace(name_pref, ';', ','), ',')"
               " > 0 THEN substring(replace(name_pref, ';', ','), 1, "
               "instr(replace(name_pref, ';', ','), ',') - 1) "
               "ELSE name_pref END)")
    wl_toks = splitws("name_head")
    if dialect == "spark":
        wl_flags = (f"transform(reverse({wl_toks}), t -> CASE WHEN "
                    f"trim(TRAILING '.' FROM t) IN ({wl_sufs}) "
                    f"THEN 1 ELSE 0 END)")
        wl_first_keep = f"array_position({wl_flags}, 0)"
    else:
        wl_flags = (f"list_transform(list_reverse({wl_toks}), t -> "
                    f"CASE WHEN trim(TRAILING '.' FROM t) IN "
                    f"({wl_sufs}) THEN 1 ELSE 0 END)")
        wl_first_keep = f"list_position({wl_flags}, 0)"
    wl_n = asize(wl_toks)
    wl_keep = (f"CAST(CASE WHEN {wl_first_keep} = 0 THEN 0 "
               f"ELSE ({wl_n}) - ({wl_first_keep} - 1) END AS INT)")

    wl_amount = ("CASE cat_title "
                 "WHEN 'Welch Award In Chemistry' THEN '500000.0' "
                 "WHEN 'Norman Hackerman Award In Chemical Research' "
                 "THEN '100000.0' END")
    wl_scheme = ("CASE cat_title "
                 "WHEN 'Welch Award In Chemistry' "
                 "THEN 'Welch Award in Chemistry' "
                 "WHEN 'Norman Hackerman Award In Chemical Research' "
                 "THEN 'Norman Hackerman Award in Chemical Research' "
                 "ELSE cat_title END")
    # description[:1200].rsplit(' ', 1)[0] + ellipsis (:352-353)
    wl_d1200 = "substring(desc_full, 1, 1200)"
    wl_rsp = f"instr(reverse({wl_d1200}), ' ')"
    wl_capped = (f"CASE WHEN desc_full IS NULL THEN NULL "
                 f"WHEN length(desc_full) <= 1200 THEN desc_full "
                 f"WHEN {wl_rsp} = 0 THEN concat({wl_d1200}, '{chr(8230)}') "
                 f"ELSE concat(substring({wl_d1200}, 1, "
                 f"1200 - {wl_rsp}), '{chr(8230)}') END")

    wl_fixture = f"""
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE 1972 + o_orderkey % 54 END AS yr,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN 'Welch Award In Chemistry'
      WHEN 2 THEN 'Norman Hackerman Award In Chemical Research'
      WHEN 3 THEN 'Mystery Category'
      ELSE 'Welch Award In Chemistry' END AS cat_title,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 1 THEN 'welch-award-in-chemistry'
      WHEN 2 THEN 'norman-hackerman-award-in-chemical-research'
      WHEN 3 THEN 'mystery-category'
      ELSE NULL END AS cat_slug,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN concat('Dr. Carolyn Bertozzi', {cs('o_orderkey')},
                         ', Ph.D.')
      WHEN 1 THEN concat('John Goodenough', {cs('o_orderkey')}, ' Jr.')
      WHEN 2 THEN concat('Tobin Marks', {cs('o_orderkey')}, '; FRS')
      WHEN 3 THEN concat('Cher', {cs('o_orderkey')})
      WHEN 4 THEN concat('Professor  R. B. Woodward', {cs('o_orderkey')})
      ELSE concat('Ada Yonath', {cs('o_orderkey')}) END AS title_raw,
    CASE WHEN o_orderkey % 3 < 2
      THEN concat('recipient-', {cs('o_orderkey')}) END AS entry_slug,
    concat('https://welch1.org/awards/recipient-', {cs('o_orderkey')})
      AS url,
    CASE WHEN o_orderkey % 4 IN (1, 3)
      THEN concat('<p>Pioneer of  bioorthogonal chemistry ',
                  {cs('o_orderkey % 23')}, '</p>') END AS blurb_raw,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 1 THEN concat('<p>Pioneer of  bioorthogonal chemistry ',
                         {cs('o_orderkey % 23')}, '</p>')
      WHEN 2 THEN concat('<div>Career spanning decades ',
                         {cs('o_orderkey % 29')}, ' &amp; counting</div>')
      WHEN 3 THEN concat('Long record: ',
                         repeat('chemistry breakthroughs ', 60))
      ELSE NULL END AS fulldesc_raw,
    CASE WHEN o_orderkey % 2 = 0
      THEN concat('<em>Stanford &amp; Caltech ', {cs('o_orderkey % 31')},
                  '</em>') END AS aff_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN 'True' ELSE 'False' END
      AS is_past"""

    _WL_PT = ["k", "yr", "cat_title", "cat_slug", "entry_slug", "url",
              "is_past"]

    wl = f"""
wl_rest AS (
  SELECT o_orderkey AS k,{wl_fixture}
  FROM orders
),
wl_gated AS (
  SELECT * FROM wl_rest WHERE cat_title IS NOT NULL AND yr IS NOT NULL
),
{bar("wl_stripped", "wl_gated", _WL_PT + ["title_raw", "blurb_raw",
                                          "fulldesc_raw", "aff_raw"], [
    ("full_name", "coalesce(title_raw, '')"),
    ("name_pref",
     f"trim(regexp_replace(coalesce(title_raw, ''), '{wl_pre}', ''{g}))"),
    ("blurb", wl_striphtml("blurb_raw")),
    ("fdesc", wl_striphtml("fulldesc_raw")),
    ("affiliation_s", wl_striphtml("aff_raw")),
])},
{bar("wl_headed", "wl_stripped", _WL_PT + ["full_name", "blurb",
                                           "fdesc", "affiliation_s"], [
    ("name_head", wl_head),
    ("desc_full", "CASE WHEN blurb IS NOT NULL AND fdesc IS NOT NULL "
                  "AND blurb <> fdesc THEN concat(blurb, ' ', fdesc) "
                  "ELSE coalesce(blurb, fdesc) END"),
])},
{bar("wl_split", "wl_headed", _WL_PT + ["full_name", "blurb", "fdesc",
                                        "affiliation_s", "name_head",
                                        "desc_full"], [
    ("keep_n", wl_keep),
])}
,
wl_out AS (
  SELECT
    'welch_award' AS member,
    concat('welch-', coalesce(cat_slug, 'unknown'), '-', {cs('yr')},
           '-', coalesce(entry_slug,
                         trim(BOTH '-' FROM regexp_replace(
                           lower(full_name), '[^a-z0-9]+', '-'{g}))))
      AS funder_award_id,
    {cs('yr')} AS award_year,
    full_name AS laureate_name,
    CASE WHEN keep_n <= 1 THEN NULL
      ELSE {jnspan('(' + wl_toks + ')', '1', 'keep_n - 1')} END
      AS given_name,
    CASE WHEN keep_n = 0 THEN NULL
      ELSE {elem('(' + wl_toks + ')', 'keep_n')} END AS family_name,
    affiliation_s AS affiliation,
    url AS landing_page_url,
    'https://welch1.org/api' AS source_url,
    {wl_amount} AS source_award_amount,
    CASE WHEN {wl_amount} IS NOT NULL THEN 'USD' END AS currency,
    CAST(NULL AS {S}) AS amount_rule_url,
    CAST(NULL AS {S}) AS portion,
    CAST(NULL AS {S}) AS laureate_count,
    CAST(NULL AS {S}) AS citation,
    CAST(NULL AS {S}) AS profile_description,
    CAST(NULL AS {S}) AS is_organization_laureate,
    concat({wl_scheme}, ' ', {cs('yr')}, ' {chr(8212)} ', full_name)
      AS wl_display_name,
    coalesce(entry_slug,
             trim(BOTH '-' FROM regexp_replace(lower(full_name),
                                               '[^a-z0-9]+', '-'{g})))
      AS wl_slug,
    cat_title AS wl_category_title,
    cat_slug AS wl_category_slug,
    {wl_scheme} AS wl_scheme,
    blurb AS wl_blurb,
    {wl_capped} AS wl_description,
    concat({cs('yr')}, '-01-01') AS wl_start_date,
    concat({cs('yr')}, '-12-31') AS wl_end_date,
    is_past AS wl_is_past_recipient,
    'False' AS wl_declined
  FROM wl_split
)"""

    # ------------------------------------------------------------------
    # MacArthur Fellows arm (macarthur_fellows_to_s3.py:133-363) —
    # Crownpeak Solr docs; the HTTP/Solr walk is the seam.  The
    # splitter and _strip_html are byte-identical to welch's (:240-269
    # vs welch :255-282), so the wl_* split machinery is reused — the
    # ma bars carry the same staged column names.
    # ------------------------------------------------------------------
    ma_bio_800 = "substring(bio_s, 1, 800)"
    ma_rsp = f"instr(reverse({ma_bio_800}), ' ')"
    ma_bio_capped = (
        f"CASE WHEN bio_s IS NULL THEN NULL "
        f"WHEN length(bio_s) <= 800 THEN bio_s "
        f"WHEN {ma_rsp} = 0 THEN concat({ma_bio_800}, '{chr(8230)}') "
        f"ELSE concat(substring({ma_bio_800}, 1, 800 - {ma_rsp}), "
        f"'{chr(8230)}') END")

    ma_fixture = f"""
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      WHEN o_orderkey % 7 = 1 THEN 'circa 2003'
      ELSE {cs('1981 + o_orderkey % 45')} END AS year_str,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE CASE CAST(o_orderkey % 6 AS INT)
        WHEN 0 THEN concat('Dr. Octavia Butler', {cs('o_orderkey')},
                           ', Ph.D.')
        WHEN 1 THEN concat('Paul Rothemund', {cs('o_orderkey')}, ' Jr.')
        WHEN 2 THEN concat('Lin-Manuel Miranda', {cs('o_orderkey')},
                           '; composer')
        WHEN 3 THEN concat('Cher', {cs('o_orderkey')})
        WHEN 4 THEN concat('Professor  Mary Zimmerman',
                           {cs('o_orderkey')})
        ELSE NULL END END AS name_s,
    CASE WHEN o_orderkey % 6 = 5 AND o_orderkey % 5 <> 0
      THEN NULL
      ELSE concat('Meta Fellow Title ', {cs('o_orderkey')}) END
      AS meta_title,
    CASE WHEN o_orderkey % 3 < 2
      THEN concat('/fellows/class-of-', {cs('1981 + o_orderkey % 45')},
                  '/fellow-', {cs('o_orderkey')}) ELSE '' END
      AS url_path,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('Molecular Biologist ', {cs('o_orderkey % 17')}, ' ')
      END AS field_title,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN concat('<p>Pioneering DNA  origami ',
                         {cs('o_orderkey % 19')}, ' &amp; folding</p>')
      ELSE concat('Long bio: ', repeat('creative breakthroughs ', 40))
      END AS bio_raw,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN 'science' ELSE NULL END AS area_raw,
    CASE WHEN o_orderkey % 2 = 0
      THEN concat('Sciences ', {cs('o_orderkey % 5')}) END
      AS area_display,
    CASE WHEN o_orderkey % 4 < 3 THEN 'United States' END AS country_s,
    CASE WHEN o_orderkey % 3 = 0 THEN {cs('25 + o_orderkey % 50')} END
      AS age_s,
    concat('Affiliation Org ', {cs('o_orderkey % 41')}) AS assoc_s"""

    _MA_PT = ["k", "url_path", "field_title", "area_raw", "area_display",
              "country_s", "age_s", "assoc_s"]

    ma = f"""
ma_rest AS (
  SELECT o_orderkey AS k,{ma_fixture}
  FROM orders
),
{bar("ma_gated", "ma_rest", _MA_PT, [
    ("full_name", "coalesce(name_s, meta_title, '')"),
    ("year_i", "CASE WHEN year_str IS NOT NULL AND "
               "trim(year_str) RLIKE_MA THEN CAST(year_str AS INT) END"),
    ("bio_s", wl_striphtml("bio_raw")),
])},
ma_kept AS (
  SELECT *,
    CASE WHEN url_path <> ''
      THEN regexp_extract(url_path, '([^/]*)$', 1)
      ELSE trim(BOTH '-' FROM regexp_replace(lower(full_name),
                                             '[^a-z0-9]+', '-'{g})) END
      AS slug
  FROM ma_gated WHERE year_i IS NOT NULL
),
ma_slugged AS (
  SELECT * FROM ma_kept WHERE slug <> ''
),
{bar("ma_stripped", "ma_slugged", _MA_PT + ["full_name", "year_i",
                                            "bio_s", "slug"], [
    ("name_pref",
     f"trim(regexp_replace(full_name, '{wl_pre}', ''{g}))"),
    ("bio_capped", ma_bio_capped),
])},
{bar("ma_headed", "ma_stripped", _MA_PT + ["full_name", "year_i",
                                           "slug", "name_pref",
                                           "bio_capped"], [
    ("name_head", wl_head),
])},
{bar("ma_split", "ma_headed", _MA_PT + ["full_name", "year_i", "slug",
                                        "name_head", "bio_capped"], [
    ("keep_n", wl_keep),
])}
,
ma_out AS (
  SELECT
    'macarthur_fellows' AS member,
    concat('macarthur-fellow-', {cs('year_i')}, '-', slug)
      AS funder_award_id,
    {cs('year_i')} AS award_year,
    full_name AS laureate_name,
    CASE WHEN keep_n <= 1 THEN NULL
      ELSE {jnspan('(' + wl_toks + ')', '1', 'keep_n - 1')} END
      AS given_name,
    CASE WHEN keep_n = 0 THEN NULL
      ELSE {elem('(' + wl_toks + ')', 'keep_n')} END AS family_name,
    assoc_s AS affiliation,
    CASE WHEN url_path <> ''
      THEN concat('https://www.macfound.org', url_path) END
      AS landing_page_url,
    'https://searchg2.crownpeak.net/live-macfound-redesign-rt/select'
      AS source_url,
    '800000.0' AS source_award_amount,
    'USD' AS currency,
    CAST(NULL AS {S}) AS amount_rule_url,
    CAST(NULL AS {S}) AS portion,
    CAST(NULL AS {S}) AS laureate_count,
    CAST(NULL AS {S}) AS citation,
    CAST(NULL AS {S}) AS profile_description,
    CAST(NULL AS {S}) AS is_organization_laureate,
    slug AS ma_slug,
    field_title AS ma_field_title,
    coalesce(area_display, area_raw) AS ma_area,
    country_s AS ma_country,
    age_s AS ma_age_at_award,
    concat('MacArthur Fellowship ', {cs('year_i')}, ' {chr(8212)} ',
           full_name) AS ma_display_name,
    CASE
      WHEN field_title IS NOT NULL AND bio_capped IS NOT NULL
        THEN concat(trim(field_title), '. ', bio_capped)
      WHEN field_title IS NOT NULL THEN trim(field_title)
      ELSE bio_capped END AS ma_description,
    concat({cs('year_i')}, '-01-01') AS ma_start_date,
    concat({cs('year_i + 4')}, '-12-31') AS ma_end_date,
    'False' AS ma_declined
  FROM ma_split
)"""
    if dialect == "spark":
        ma = ma.replace("RLIKE_MA", "RLIKE '^-?[0-9]+$'")
    else:
        ma = ma.replace(
            "trim(year_str) RLIKE_MA",
            "regexp_matches(trim(year_str), '^-?[0-9]+$')")

    ke_extras = ["ke_display_name", "ke_description", "ke_start_date",
                 "ke_end_date", "ke_nobel_note", "ke_laureate_position",
                 "ke_source_detail_name", "ke_comments",
                 "ke_funder_scheme", "ke_provenance"]

    ib_extras = ["ib_display_name", "ib_description", "ib_edition",
                 "ib_research_field", "ib_funder_scheme",
                 "ib_start_date", "ib_end_date", "ib_provenance"]

    wl_extras = ["wl_display_name", "wl_slug", "wl_category_title",
                 "wl_category_slug", "wl_scheme", "wl_blurb",
                 "wl_description", "wl_start_date", "wl_end_date",
                 "wl_is_past_recipient", "wl_declined"]

    ma_extras = ["ma_slug", "ma_field_title", "ma_area", "ma_country",
                 "ma_age_at_award", "ma_display_name", "ma_description",
                 "ma_start_date", "ma_end_date", "ma_declined"]

    def arm_select(src: str, live: list) -> str:
        groups = [ky_extras, jp_extras, br_extras, kf_extras, ke_extras,
                  ib_extras, wl_extras, ma_extras]
        parts = [core]
        for gp in groups:
            parts.append(pad(gp) if gp is live else nullcols(*gp))
        return f"SELECT {', '.join(parts)} FROM {src}"

    return f"""
WITH {ky},
{jp},
{br},
{kf},
{ke},
{ib},
{wl},
{ma}
{arm_select('ky_out', ky_extras)}
UNION ALL {arm_select('jp_out', jp_extras)}
UNION ALL {arm_select('br_out', br_extras)}
UNION ALL {arm_select('kf_out', kf_extras)}
UNION ALL {arm_select('ke_out', ke_extras)}
UNION ALL {arm_select('ib_out', ib_extras)}
UNION ALL {arm_select('wl_out', wl_extras)}
UNION ALL {arm_select('ma_out', ma_extras)}
"""


@register(
    "laureate_prize_parse",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Laureate-prize scraper family (scripts/local/{kyoto_prize,"
         "japan_prize,brain_prize,king_faisal_prize,"
         "keio_medical_science_prize,international_biology_prize,"
         "welch_award,macarthur_fellows}_to_s3.py)"),
    spread=("orders",),
)
def laureate_prize_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight laureate ingests in one union plan (module docstring has
    the per-member semantics map).  The kyoto and king-faisal
    share-count windows are the only exchanges; the keio arm explodes
    the two per-row laureate positions.  Each arm's orders scan sits
    under a round-robin spread exchange (``spread`` in ``register``):
    the single-row-group fixture scan is one task per arm, and the
    regex-heavy parse ran on 8 cores for 8 arms while the rest idled."""
    return spark.sql(sqlkit.build(_sql, "spark"))
