"""Prize-pattern scraper family
(scripts/local/{bbva_frontiers,crafoord_prize,dan_david_prize,
millennium_prize,princess_asturias,stockholm_water_prize}_to_s3.py —
6 scripts, one prize-ingest kit; the stockholm_water_prize semantics
map lives on its inline comment block in :func:`_sql`).

The four prize ingests share a kit — ``collapse_text`` (NBSP, ws
collapse, space-before-punctuation fix), ``slugify`` with the
'unknown' fallback, the tail-suffix ``split_name``, ``profile_slug``
(last URL path part slugified), and ``add_amounts`` (share counts per
(year, category/innovation) with the ``f"{amount:.6f}"`` rstrip-0
rstrip-dot render).  HTTP, checkpoints, and DOM node selection are the
seam; the fixture delivers each member's extracted card/item fields
one record per orders key (profile element streams arrive as ordered
(tag, text) arrays in canonical page order).  Ported compute:

* **bbva_frontiers** (bbva_frontiers_to_s3.py:137-396): award_year =
  the edition label's '(YYYY)' else the tab id; edition_label = the
  pre-parenthesis text; ``is_org_like`` (the/un/una/el/la prefixes,
  &/(/ chars, the 22-word ORG_HINTS token overlap) routes a laureate
  to organization_or_group with the WHOLE name as family_name;
  amounts: EUR 400,000 per category shared by the (year, category)
  laureate count; profile walk: category = the first <p> drawn from
  the official 10-category set, edition = the first
  '\\d+(st|nd|rd|th) Edition' <p>, summary = the first <p> containing
  'Frontiers of Knowledge Award', bio/contribution = the <p> runs
  after the BIO / CONTRIBUTION headers up to the next mode header
  (INTERVIEW/MORE) or the collaboration/address break;
* **crafoord_prize** (crafoord_prize_to_s3.py:119-330): collapse_text
  additionally html-unescapes and strips tags when the value carries
  markup (the WP 'rendered' citation); child prize terms exclude the
  parent PRIZE_TERM_ID, first remaining term = the category; id =
  'crafoord-prize-{year}-{category_slug}-{row_slug}'; amounts: 2015+
  gets SEK 6,000,000 shared per (year, category_slug) with the
  official note, pre-2015 ships NULL amounts with the
  verification-scope note;
* **dan_david_prize** (dan_david_prize_to_s3.py:128-300): card text
  parts with 'Read More' dropped and a >=4-part gate; parts =
  name/year/topic/affiliation, the year-mismatch RAISE is validation
  the fixture satisfies; fixed '300000' USD per laureate; profile
  title_affiliation = the first <p>, description joins later <p>s
  minus the card affiliation/name echoes, stopping at the
  'Stay up to date' footer;
* **millennium_prize** (millennium_prize_to_s3.py:113-305):
  ``split_laureates`` strips the 'Grand Prize:'/'Winner:' label and
  splits on ' and ' — one output row per laureate (the one arm that
  EXPLODES); slug = '{detail slug}-{laureate slug}'; amounts: EUR
  1,000,000 shared per (year, innovation); profile country =
  strings[4], description = strings[5:] joined up to the
  Share/Previous/footer terminators.

* **princess_asturias** (princess_asturias_to_s3.py:296-365,415-560,
  round 11): the official-list title split ('{laureates}, {Prince|
  Princess} of Asturias Award for {category}'), detail-title-over-
  list-text laureate source, and the three rule tables shipped as
  AST-pinned data — ``PA_CUSTOM_SPLITS`` (23 hand-curated splits,
  checked FIRST, incl. the DEAD 'and and' LIGO key the pre-lookup
  collapse makes unreachable — the generic path emits the identical
  four laureates), ``PA_NO_SPLIT_EXACT`` (13 one-laureate strings),
  and the generic ``,\\s+|\\s+(?:and|&)\\s+`` split with per-part
  collapse; ``is_organization_name`` = 57-term substring hit OR the
  all-caps single-token rule; person split strips the royal-title
  clause then runs the kit's tail-suffix split (single token ->
  family only); ids
  'princess-asturias-{{year}}-{{cat}}-{{slug}}-{{idx}}-{{name}}';
  amounts: current-FAQ EUR 50,000 as award_total_amount with NULL
  source_award_amount and the official amount_note verbatim; share
  count = laureate-array size (no window), portion '1/n'.

Plan: 5 scan arms behind Generate barriers; the only exchanges are
the per-member share-count windows (COUNT over (year, category)) —
the reference's ``Counter`` — plus the millennium and
princess_asturias laureate explodes.  No Python.

tests/test_template_fidelity.py re-derives all five members;
tests/test_funderscrape.py AST-pins the PA rule tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_ORG_HINTS = ("'academy','agency','alliance','association','center',"
              "'centre','council','development','foundation','fund',"
              "'initiative','institute','international','laboratory',"
              "'lab','network','organization','programme','program',"
              "'project','university'")

_SUFFIXES = "'phd','md','dphil','dsc','scd','jr','sr','ii','iii','iv'"

_BBVA_CATEGORIES = (
    "'Basic Sciences','Biology and Biomedicine',"
    "'Information and Communication Technologies',"
    "'Climate Change and Environmental Sciences',"
    "'Economics, Finance and Management','Social Sciences',"
    "'Humanities','Music and Opera','Development Cooperation','Arts'")

# ---------------------------------------------------------------------------
# princess_asturias (scripts/local/princess_asturias_to_s3.py) — the
# laureate-split rule tables, verbatim (AST-pinned by
# tests/test_funderscrape.py::test_pa_split_tables_match_reference).
# ---------------------------------------------------------------------------

# :111-127 — strings with commas/'and' that are ONE official laureate
PA_NO_SPLIT_EXACT = {
    '"Vuelta" the Review, headed by Octavio Paz',
    "Bill and Melinda Gates Foundation",
    "CAMFED, Campaign for Female Education",
    "Gavi, the Vaccine Alliance",
    "H. M. Husein I, King of Jordan",
    "International Red Cross and Red Crescent Movement",
    "Organization of Ibero-American States for Education, Science and "
    "Culture (official Spanish and Portuguese acronym, OEI)",
    "Spanish Missions in Rwanda and Burundi",
    "The City of Berlín, on the 20th Anniversary of the Fall of the Wall",
    "The National Network of Youth and Children Orchestras of Venezuela",
    "The archaeological Team of the Terra Cotta Warriors and Horses of "
    "Xi'an",
    "United Nations Framework Convention on Climate Change and the "
    "Paris Agreement",
    "Yad Vashem, the Holocaust Museum in Jerusalem",
}

# :129-235 — hand-curated splits where naive comma/'and' splitting
# loses context.  NOTE the 'Rainer Weiss ... and and LIGO' key is DEAD
# in the reference (split_laureate_text collapses ' and and ' BEFORE
# the dict lookup) — kept verbatim for the AST pin; the generic split
# path produces the identical four laureates, which the fixture's
# case-9 proves.
PA_CUSTOM_SPLITS = {
    "Alliance Française, Società Dante Alighieri, British Council, "
    "Goethe Institut, Instituto Cervantes and Instituto Camões": [
        "Alliance Française", "Società Dante Alighieri",
        "British Council", "Goethe Institut", "Instituto Cervantes",
        "Instituto Camões",
    ],
    "Centro de Investigação em Saúde in Manhiça, Ifakara Health "
    "Institute, in Tanzania, Malaria Research and Training Center and "
    "Kintampo Health Research Centre": [
        "Centro de Investigação em Saúde in Manhiça",
        "Ifakara Health Institute in Tanzania",
        "Malaria Research and Training Center",
        "Kintampo Health Research Centre",
    ],
    'Diario "El Espectador" and Diario "El Tiempo" from Colombia': [
        'Diario "El Espectador"', 'Diario "El Tiempo" from Colombia',
    ],
    "EFE Agency and José Luis López Aranguren": [
        "EFE Agency", "José Luis López Aranguren",
    ],
    "El Colegio de México & Juan Iglesias Santos": [
        "El Colegio de México", "Juan Iglesias Santos",
    ],
    "Government of Guatemala and Guatemalan National Revolutionary "
    "Unity": [
        "Government of Guatemala",
        "Guatemalan National Revolutionary Unity",
    ],
    "International Union for the Conservation of Nature and Natural "
    "Resources and the World Wide Fund for Nature": [
        "International Union for the Conservation of Nature and "
        "Natural Resources",
        "World Wide Fund for Nature",
    ],
    "José Andrés and the NGO World Central Kitchen": [
        "José Andrés", "World Central Kitchen",
    ],
    "Journals Nature and Science": ["Nature", "Science"],
    "Lawrence Roberts, Robert Kahn, Vinton Cerf & Tim Berners-Lee": [
        "Lawrence Roberts", "Robert Kahn", "Vinton Cerf",
        "Tim Berners-Lee",
    ],
    "Manuel Losada Villasante and National Biodiversity Institute of "
    "Costa Rica": [
        "Manuel Losada Villasante",
        "National Biodiversity Institute of Costa Rica",
    ],
    "Médicins sans Fronterières and Medicus Mundi": [
        "Médicins sans Fronterières", "Medicus Mundi",
    ],
    "National Movement of Street Children, Messengers of Peace and "
    "Save the Children": [
        "National Movement of Street Children", "Messengers of Peace",
        "Save the Children",
    ],
    "Olympic Refuge Foundation and IOC Refugee Olympic Team": [
        "Olympic Refuge Foundation", "IOC Refugee Olympic Team",
    ],
    "Pau and Marc Gasol": ["Pau Gasol", "Marc Gasol"],
    "Peter Higgs, François Englert and European Organization for "
    "Nuclear Research CERN": [
        "Peter Higgs", "François Englert",
        "European Organization for Nuclear Research CERN",
    ],
    "Rainer Weiss, Kip S. Thorne, Barry C. Barish and and LIGO "
    "Scientific Collaboration": [
        "Rainer Weiss", "Kip S. Thorne", "Barry C. Barish",
        "LIGO Scientific Collaboration",
    ],
    "Royal Spanish Academy and Association of Academies of the "
    "Spanish Language": [
        "Royal Spanish Academy",
        "Association of Academies of the Spanish Language",
    ],
    "Salamanca and Coimbra Universities": [
        "Salamanca University", "Coimbra University",
    ],
    "Salman Khan and the Khan Academy": ["Salman Khan", "Khan Academy"],
    "The Guadalajara International Book Fair and The Hay Festival of "
    "Literature & Arts": [
        "The Guadalajara International Book Fair",
        "The Hay Festival of Literature & Arts",
    ],
    "The Transplantation Society and the Spanish National Transplant "
    "Organization": [
        "The Transplantation Society",
        "Spanish National Transplant Organization",
    ],
    "Václav Havel and Cable News Network (CNN)": [
        "Václav Havel", "Cable News Network (CNN)",
    ],
}

# :236-295 — substring hits that classify a laureate as an organization
PA_ORG_TERMS = {
    "academy", "agency", "alliance", "association", "campaign",
    "camfed", "center", "centre", "cern", "college", "committee",
    "council", "daughters", "diario", "fair", "festival", "fondo",
    "foundation", "fund", "gavi", "goethe institut", "government",
    "grupo", "health africa", "institute", "institution", "instituto",
    "initiative", "journal", "magnum photos", "marathon",
    "medicus mundi", "meals", "messengers of peace", "museum",
    "nature", "network", "organization", "organisation", "orchestra",
    "orfeón", "people", "program", "programme", "red cross", "review",
    "save the children", "science", "society", "società", "studio",
    "team", "union", "university", "wikipedia",
    "world central kitchen",
}

PA_AMOUNT_NOTE = (
    "The current FPA FAQ says each Princess of Asturias Award includes "
    "EUR 50,000 divided among laureates when shared, but historical "
    "per-year and per-laureate cash values are not exposed in the "
    "official laureate source; the Databricks notebook therefore maps "
    "amount to NULL."
)

# ---------------------------------------------------------------------------
# stockholm_water_prize (scripts/local/stockholm_water_prize_to_s3.py,
# round 11) — the URL-slug country vocabulary (:316-333), verbatim
# (AST-pinned by tests/test_funderscrape.py).
# ---------------------------------------------------------------------------
SWP_COUNTRY_TOKENS = {
    "usa", "uk", "canada", "australia", "switzerland", "japan",
    "israel", "germany", "sweden", "denmark", "netherlands", "france",
    "italy", "spain", "norway", "finland", "india", "china", "korea",
    "brazil", "south", "africa", "great", "britain", "new", "zealand",
    "egypt", "kenya", "iran", "iraq", "lebanon", "bangladesh",
    "pakistan", "thailand", "vietnam", "indonesia", "philippines",
    "mexico", "chile", "argentina", "peru", "colombia", "venezuela",
    "uruguay", "paraguay", "bolivia", "ecuador",
}
# _ORG_TOKENS_RE (:402-407) alternation, verbatim
SWP_ORG_ALT = ("Department|Institute|Foundation|University|Laboratory|"
               "Center|Centre|Agency|Society|Association|Council|"
               "Commission|Ministry|WaterAid|Water Aid")
# split_name's degree suffixes (:368-369), compared CASE-SENSITIVELY
# after rstrip('.') — 'phd' lowercase does NOT match (preserved quirk)
SWP_DEGREES = ("PhD", "Ph.D", "MD", "M.D", "DPhil", "ScD", "Jr", "Sr",
               "II", "III", "IV")


# wolf_to_s3.py:74-84 — the 9-entry English field-category map
WOLF_FIELD_CATEGORIES = {
    85: "Physics", 81: "Mathematics", 87: "Medicine", 83: "Chemistry",
    91: "Agriculture", 107: "Architecture", 114: "Music",
    124: "Painting & Sculpture", 47: "Leadership",
}

# wolf_to_s3.py:131-132 — the mjff/wolf shared suffix set
WOLF_SUFFIXES = ("phd", "md", "dphil", "dsc", "scd", "jr.", "sr.",
                 "ii", "iii", "iv", "jr", "sr")


def _wolf_arm(dialect: str) -> str:
    """The Wolf Prize winners arm (scripts/local/wolf_to_s3.py, round
    12).  The WP REST category fetch is the seam; the fixture delivers
    each post's (id, slug, link, date, rendered title, categories
    array, rendered content).  Ported compute: ``html_to_text``
    (:115-121 — tags stripped FIRST, then entity decode over the
    fixture-complete subset, then collapse); the wolf ``split_name``
    (:124-139, lower+strip(',.') suffix pop); field = the FIRST post
    category present in ``WOLF_FIELD_CATEGORIES``, scanned in the
    post's own category order (:176); year = int(date[:4]) when the
    prefix is digits (:179-182); the bounded-lazy AFFIL/CITATION
    captures (:143-150) with their terminator alternations; the
    affiliation rstrip(':') + marker cut (:160-162 — the reference's
    lookahead split takes [0], so the port cuts from the first marker,
    identical semantics and RE2-safe); the citation's six-step strip
    chain (:186-188).  The reference ships NO award id (the notebook
    derives one downstream) — funder_award_id stays NULL rather than
    inventing one; the ``categories`` LIST ships to_json-rendered
    (driver-canon, nihr precedent)."""
    sp = dialect == "spark"
    k = sqlkit.kit(dialect)
    g, S, cs, asize, elem, head = k.g, k.S, k.cs, k.asize, k.elem, k.head
    jn, nullcols = k.jn, k.nullcols
    ids = ", ".join(str(i) for i in WOLF_FIELD_CATEGORIES)
    whens = " ".join(
        "WHEN " + str(i) + " THEN '" + n.replace("'", "''") + "'"
        for i, n in WOLF_FIELD_CATEGORIES.items())
    if sp:
        first_fld = f"try_element_at(filter(cats, c -> c IN ({ids})), 1)"
        cats_json = ("concat('[', concat_ws(', ', transform(cats, "
                     "c -> CAST(c AS STRING))), ']')")
        splitws = "split(wf_name, '\\\\s+')"
        fld_arr = ("array(27, CAST(element_at(array(85, 81, 87, 83, 91, "
                   "107, 114, 124, 47), CAST(o_orderkey % 9 AS INT) + 1)"
                   " AS INT))")
        one_arr, three_arr = "array(27)", "array(27, 114, 85)"
    else:
        first_fld = f"(list_filter(cats, c -> c IN ({ids})))[1]"
        cats_json = ("concat('[', array_to_string(list_transform(cats, "
                     "c -> CAST(c AS VARCHAR)), ', '), ']')")
        splitws = "regexp_split_to_array(wf_name, '\\\\s+')"
        fld_arr = ("[27, [85, 81, 87, 83, 91, 107, 114, 124, 47]"
                   "[CAST(o_orderkey % 9 AS INT) + 1]]")
        one_arr, three_arr = "[27]", "[27, 114, 85]"

    def h2t(x: str) -> str:
        e = f"regexp_replace({x}, '<[^>]+>', ' '{g})"
        for ent, ch in (("&nbsp;", " "), ("&quot;", '\\"'),
                        ("&#8217;", "’"), ("&amp;", "&")):
            c = ch.replace('\\"', '"')
            e = f"replace({e}, '{ent}', '{c}')"
        return f"trim(regexp_replace({e}, '\\\\s+', ' '{g}))"

    affil_pat = ("(?is)Affiliation at the time of the award"
                 "\\\\s*:?\\\\s*(.{1,300}?)"
                 "(?:Award citation|Prize share|Citation|$)")
    cit_pat = ("(?is)Award citation\\\\s*:?\\\\s*[“\"'']?(.{1,1000}?)"
               "[”\"'']?\\\\s*(?:Prize share|Affiliation|Bibliography|$)")
    markers = "(Award citation|Prize share|Bibliography).*$"
    sufs = ", ".join(f"'{x}'" for x in WOLF_SUFFIXES)

    def pop(arr: str, rounds: int) -> str:
        out = arr
        for _ in range(rounds):
            out = (f"CASE WHEN {asize(out)} > 0 AND "
                   f"trim(BOTH ',.' FROM lower({elem(out, asize(out))}))"
                   f" IN ({sufs}) "
                   f"THEN {head(out, asize(out) + ' - 1')} ELSE {out} END")
        return out

    year_re = "^\\\\d{4}"
    year_ok = (f"wp_date RLIKE '{year_re}'" if sp
               else f"regexp_matches(wp_date, '{year_re}')")

    citation_chain = (
        "nullif(trim(trim(BOTH ':' FROM trim(BOTH '' FROM "
        "trim(BOTH '\"' FROM trim(BOTH '”' FROM "
        "trim(BOTH '.' FROM trim(cit0))))))), '')")
    # the strip("'") step: inject the quoted-apostrophe set safely
    citation_chain = citation_chain.replace("BOTH ''", "BOTH ''''")

    return f""",
wf_raw AS (
  SELECT o_orderkey AS k,
    {cs('70000 + o_orderkey')} AS wp_post_id,
    concat('winner-', {cs('o_orderkey')}) AS wp_slug0,
    concat('https://wolffund.org.il/', {cs('o_orderkey')}, '/') AS link,
    CASE WHEN o_orderkey % 29 = 0 THEN 'n.d.'
      ELSE concat({cs('1978 + o_orderkey % 47')}, '-06-01T00:00:00')
      END AS wp_date,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('James P. Eisenstein PhD ',
                         {cs('o_orderkey % 60')})
      WHEN 1 THEN concat('Sara&amp;Lee Jr. ', {cs('o_orderkey % 60')})
      WHEN 2 THEN 'Chen'
      WHEN 3 THEN concat('<strong>Maria del Carmen Ruiz</strong> MD ',
                         {cs('o_orderkey % 60')})
      ELSE concat('Robert', '&#8217;', 's Oduya ',
                  {cs('o_orderkey % 60')}) END AS title_html,
    CASE WHEN o_orderkey % 8 = 0 THEN {one_arr}
      WHEN o_orderkey % 12 = 0 THEN {three_arr}
      ELSE {fld_arr} END AS cats,
    concat('<p>Biography of the laureate ', {cs('o_orderkey')}, '.</p>',
      CASE WHEN o_orderkey % 6 = 0 THEN ''
        ELSE concat('<p>Affiliation at the time of the award: ',
          'Weizmann Institute of Science, dept ',
          {cs('o_orderkey % 30')}, '</p>') END,
      CASE WHEN o_orderkey % 7 = 0 THEN ''
        ELSE concat('<p>Award citation: &quot;for pioneering work on ',
          'problem ', {cs('o_orderkey % 90')}, '.&quot;</p>') END,
      CASE WHEN o_orderkey % 3 = 0
        THEN '<p>Prize share: 1/2</p>' ELSE '' END) AS content_html
  FROM orders
),
wf_text AS (
  SELECT k, wp_post_id, wp_slug0, link, wp_date, cats,
    {h2t('title_html')} AS wf_name,
    {h2t('content_html')} AS body
  FROM wf_raw
),
wf_parsed AS (
  SELECT *,
    CASE WHEN {year_ok}
      THEN CAST(substr(wp_date, 1, 4) AS INT) END AS wf_year,
    CASE CAST({first_fld} AS INT) {whens} END AS wf_field,
    nullif(trim(regexp_extract(body, '{affil_pat}', 1)), '') AS affil0,
    nullif(trim(regexp_extract(body, '{cit_pat}', 1)), '') AS cit0,
    {splitws} AS toks0
  FROM wf_text
),
wf_named AS (
  SELECT *, {pop('toks0', 2)} AS wf_toks,
    nullif(trim(regexp_replace(trim(TRAILING ':' FROM trim(affil0)),
      '{markers}', ''{g})), '') AS wf_affil,
    CASE WHEN cit0 IS NOT NULL THEN {citation_chain} END AS wf_citation
  FROM wf_parsed
),
wf_out AS (
  SELECT 'wolf_prize' AS member,
    CAST(NULL AS {S}) AS funder_award_id,
    {cs('wf_year')} AS award_year,
    wf_name AS laureate_name,
    CAST(NULL AS {S}) AS laureate_type,
    CASE WHEN {asize('wf_toks')} < 2 THEN NULL
         ELSE {jn('wf_toks', asize('wf_toks') + ' - 1')} END
      AS given_name,
    CASE WHEN {asize('wf_toks')} = 0 THEN NULL
         ELSE {elem('wf_toks', asize('wf_toks'))} END AS family_name,
    {nullcols('edition_label', 'winner_position')},
    wf_field AS award_category,
    {nullcols('prize_category_slug', 'research_topic')},
    wf_affil AS affiliation,
    CAST(NULL AS {S}) AS laureate_title,
    wf_citation AS citation,
    {nullcols('innovation', 'raw_laureates', 'country',
              'profile_category', 'profile_edition', 'award_summary',
              'bio', 'contribution', 'profile_title_affiliation',
              'profile_description', 'award_share_count', 'portion',
              'award_total_amount', 'source_award_amount', 'currency',
              'amount_note')},
    link AS landing_page_url,
    CAST(NULL AS {S}) AS profile_slug,
    {cs('wp_post_id')} AS wp_id,
    wp_slug0 AS wp_slug,
    {nullcols('press_release_id', 'current_format_note')},
    link AS source_url,
    CAST(NULL AS {S}) AS amount_rule_url,
    wp_date AS wf_wp_date,
    {cats_json} AS wf_categories_json
  FROM wf_named
)"""


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, elem, filt = k.g, k.S, k.cs, k.bar, k.elem, k.filt
    fmt, idx_of, nullcols, rl, rx = k.fmt, k.idx_of, k.nullcols, k.rl, k.rx
    slugify, tagtext = k.slugify, k.tagtext

    def ajoin(a: str) -> str:
        if dialect == "spark":
            return f"array_join({a}, ' ')"
        return f"list_aggr({a}, 'string_agg', ' ')"

    def zipped_filter(arr: str, cond: str, val: str = "t") -> str:
        """values of elements whose (t, i) satisfy cond."""
        if dialect == "spark":
            return (f"filter(zip_with({arr}, sequence(1, size({arr})), "
                    f"(t, i) -> CASE WHEN {cond} THEN {val} END), "
                    f"x -> x IS NOT NULL)")
        return (f"list_filter(list_transform({arr}, (t, i) -> "
                f"CASE WHEN {cond} THEN {val} END), "
                f"x -> x IS NOT NULL)")

    def collapse(x: str) -> str:
        """collapse_text: NBSP, ws runs, space-before-punct fix."""
        c = f"regexp_replace(replace({x}, chr(160), ' '), '\\\\s+', ' '{g})"
        c = f"regexp_replace({c}, '\\\\s+([,;.:])', '$1'{g})" \
            if dialect == "spark" else \
            f"regexp_replace({c}, '\\s+([,;.:])', '\\1'{g})"
        return f"nullif(trim({c}), '')"

    def split_nf(raw: str):
        """Tail-suffix split (crafoord_prize_to_s3.py:137-151)."""
        if dialect == "spark":
            toks = (f"filter(split(coalesce({raw}, ''), ' +'), "
                    f"x -> x <> '')")
            last_keep = (f"coalesce(array_max(zip_with(({toks}), "
                         f"sequence(1, size(({toks}))), (t, i) -> "
                         f"CASE WHEN lower(trim(BOTH '.,' FROM t)) "
                         f"NOT IN ({_SUFFIXES}) THEN i END)), 0)")
            head = (f"array_join(slice(({toks}), 1, ({last_keep}) - 1), "
                    f"' ')")
        else:
            toks = (f"list_filter(regexp_split_to_array(coalesce({raw}, "
                    f"''), ' +'), x -> x <> '')")
            last_keep = (f"coalesce(list_max(list_transform(({toks}), "
                         f"(t, i) -> CASE WHEN lower(trim(BOTH '.,' FROM "
                         f"t)) NOT IN ({_SUFFIXES}) THEN i END)), 0)")
            head = (f"list_aggr(list_slice(({toks}), 1, ({last_keep}) - "
                    f"1), 'string_agg', ' ')")
        kept_last = elem(f"({toks})", f"({last_keep})")
        given = (f"CASE WHEN ({last_keep}) >= 2 "
                 f"THEN nullif({head}, '') END")
        family = f"CASE WHEN ({last_keep}) >= 1 THEN {kept_last} END"
        return given, family

    def amount_render(expr: str) -> str:
        """f'{amount:.6f}'.rstrip('0').rstrip('.')."""
        r = f"{fmt}('%.6f', CAST({expr} AS DOUBLE))"
        r = f"regexp_replace({r}, '0+$', ''{g})"
        return f"regexp_replace({r}, '[.]$', ''{g})"

    ks = cs("o_orderkey")

    # ---- bbva -------------------------------------------------------------
    org_tokens = (f"filter(split(lower(coalesce(bb.name_raw, '')), "
                  f"'[^a-z]+'), x -> x <> '')" if dialect == "spark" else
                  f"list_filter(regexp_split_to_array(lower(coalesce("
                  f"bb.name_raw, '')), '[^a-z]+'), x -> x <> '')")
    org_hit = (f"size(array_intersect({org_tokens}, "
               f"array({_ORG_HINTS}))) > 0" if dialect == "spark" else
               f"len(list_intersect({org_tokens}, "
               f"[{_ORG_HINTS}])) > 0")
    is_org = (
        f"(lower(bb.name_raw) LIKE 'the %' OR lower(bb.name_raw) LIKE "
        f"'un %' OR lower(bb.name_raw) LIKE 'una %' OR lower(bb.name_raw)"
        f" LIKE 'el %' OR lower(bb.name_raw) LIKE 'la %' "
        f"OR contains(bb.name_raw, '&') OR contains(bb.name_raw, '/') "
        f"OR contains(bb.name_raw, '(') OR {org_hit})")
    bb_given, bb_family = split_nf("bb.name_raw")
    bb_label_year = rx("bb.label_raw", "[(]([0-9]{4})[)]", 1)
    bb_year = f"coalesce({bb_label_year}, bb.tab_year)"
    bb_edition = collapse(rx("bb.label_raw", "^([^()]+)", 1))
    # profile element streams (tag/text arrays in page order)
    bb_cat_p = (f"t.tag = 'p' AND t.text IN ({_BBVA_CATEGORIES})")
    bb_ed_p = "t.tag = 'p' AND " + rl(
        "t.text", "^[0-9]+(st|nd|rd|th) Edition$")
    bb_sum_p = "t.tag = 'p' AND contains(t.text, 'Frontiers of Knowledge Award')"
    bb_break = ("(t.text LIKE 'With the collaboration of%' OR "
                "t.text LIKE 'Edificio San%')")

    def arrlit(*items: str) -> str:
        body = ",\n      ".join(items)
        if dialect == "spark":
            return f"array(\n      {body}\n    )"
        return f"[\n      {body}\n    ]"

    bb_cat_fixture = elem(
        arrlit(_BBVA_CATEGORIES), "CAST(o_orderkey % 10 AS INT) + 1")

    bbva = f"""
bb_raw AS (
  SELECT o_orderkey AS k,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('Omar Yaghi', {cs('o_orderkey % 210')})
      WHEN 1 THEN concat('The Intergovernmental Panel on Climate ',
                         {cs('o_orderkey % 210')})
      WHEN 2 THEN concat('World Resources Institute ',
                         {cs('o_orderkey % 210')})
      ELSE concat('Susan Athey', {cs('o_orderkey % 210')}, ' PhD') END
      AS name_raw,
    CASE WHEN o_orderkey % 3 = 0
      THEN concat('XV', 'II Edition (20', lpad({cs('o_orderkey % 18')},
                  2, '0'), ')')
      ELSE 'Edition label without year' END AS label_raw,
    concat('20', lpad({cs('o_orderkey % 18')}, 2, '0')) AS tab_year,
    {cs('o_orderkey % 3 + 1')} AS winner_position,
    {bb_cat_fixture} AS category,
    concat('https://www.frontiersofknowledgeawards-fbbva.es/laureate/',
           'laureate-', {ks}, '/') AS href,
    {arrlit(
        tagtext('h1', "'Laureate name'"),
        tagtext('p', bb_cat_fixture),
        tagtext('p', f"concat({cs('o_orderkey % 18 + 1')}, 'th Edition')"),
        tagtext('p', f"concat('Frontiers of Knowledge Award in case ', {ks})"),
        tagtext('h3', "'BIO'"),
        tagtext('p', f"concat('Born researcher profile ', {ks})"),
        tagtext('p', "'Second bio paragraph.'"),
        tagtext('h3', "'CONTRIBUTION'"),
        tagtext('p', f"concat('Pioneered the field, case ', "
                f"{cs('o_orderkey % 11')})"),
        tagtext('h3', "'INTERVIEW'"),
        tagtext('p', "'Interview text ignored'"),
        tagtext('p', "'With the collaboration of partners'"))} AS els
  FROM orders
)
"""

    bb_pos_bio = idx_of("els", "upper(t.text) = 'BIO'")
    bb_pos_contr = idx_of("els", "upper(t.text) = 'CONTRIBUTION'")
    bb_pos_stop = idx_of("els", "upper(t.text) IN ('INTERVIEW', 'MORE')")
    bb_pos_break = idx_of("els", bb_break)

    def bb_region(lo: str, hi: str) -> str:
        cond = (f"t.tag = 'p' AND i > ({lo}) AND i < least(coalesce({hi},"
                f" 100000), coalesce({bb_pos_break}, 100000))")
        return collapse(ajoin(zipped_filter("els", cond, "t.text")))

    bb_bio = bb_region(bb_pos_bio, f"coalesce({bb_pos_contr}, {bb_pos_stop})")
    bb_contr = bb_region(bb_pos_contr, bb_pos_stop)
    bb_cat = elem(zipped_filter(
        "els", f"{bb_cat_p} AND i < coalesce({bb_pos_bio}, 100000)",
        "t.text"), "1")
    bb_ed = elem(zipped_filter(
        "els", f"{bb_ed_p} AND i < coalesce({bb_pos_bio}, 100000)",
        "t.text"), "1")
    bb_sum = elem(zipped_filter(
        "els", f"{bb_sum_p} AND i < coalesce({bb_pos_bio}, 100000)",
        "t.text"), "1")

    bbva_rest = f""",
{bar("bb_parsed", "bb_raw",
     ["k", "name_raw", "tab_year", "winner_position", "category",
      "href"], [
    ("award_year", bb_year.replace("bb.", "")),
    ("edition_label", bb_edition.replace("bb.", "")),
    ("laureate_type",
     f"CASE WHEN bb.name_raw IS NULL THEN 'unknown' WHEN {is_org} "
     f"THEN 'organization_or_group' ELSE 'person' END"
     .replace("bb.", "")),
    ("given_name",
     f"CASE WHEN NOT {is_org} THEN {bb_given} END".replace("bb.", "")),
    ("family_name",
     f"CASE WHEN {is_org} THEN bb.name_raw ELSE {bb_family} END"
     .replace("bb.", "")),
    ("profile_category", bb_cat),
    ("profile_edition", bb_ed),
    ("award_summary", bb_sum),
    ("bio", bb_bio), ("contribution", bb_contr),
])},
bb_shared AS (
  SELECT *, count(*) OVER (PARTITION BY award_year, category)
      AS share_count
  FROM bb_parsed
),
bb_out AS (
  SELECT 'bbva_frontiers' AS member,
    concat('bbva-frontiers-', award_year, '-laureate-', {cs('k')})
      AS funder_award_id,
    award_year, name_raw AS laureate_name, laureate_type,
    given_name, family_name, edition_label,
    {cs('winner_position')} AS winner_position,
    category AS award_category, {nullcols('prize_category_slug',
    'research_topic', 'affiliation', 'laureate_title', 'citation',
    'innovation', 'raw_laureates', 'country')},
    profile_category, profile_edition, award_summary, bio, contribution,
    {nullcols('profile_title_affiliation', 'profile_description')},
    {cs('share_count')} AS award_share_count,
    CASE WHEN share_count > 1 THEN concat('1/', {cs('share_count')})
         ELSE '1' END AS portion,
    '400000' AS award_total_amount,
    {amount_render('400000.0 / share_count')} AS source_award_amount,
    'EUR' AS currency,
    'EUR 400,000 category amount from official conditions page, divided by laureate count for edition/category.'
      AS amount_note,
    href AS landing_page_url,
    concat('laureate-', {cs('k')}) AS profile_slug,
    {nullcols('wp_id', 'wp_slug', 'press_release_id',
              'current_format_note')},
    'https://www.frontiersofknowledgeawards-fbbva.es/laureates/'
      AS source_url,
    'https://www.frontiersofknowledgeawards-fbbva.es/conditions/'
      AS amount_rule_url
  FROM bb_shared
)"""

    # ---- crafoord ---------------------------------------------------------
    cr_given, cr_family = split_nf(collapse("cr.title_raw"))
    # collapse_text with the unescape/tag-strip arm: the fixture's
    # citation carries markup; strip tags then collapse
    cr_cite = ("regexp_replace(replace(cr.cite_raw, '&amp;', '&'), "
               "'<[^>]*>', ' '" + g + ")")
    cr_cite = collapse(cr_cite)

    crafoord = f""",
cr_raw AS (
  SELECT o_orderkey AS k,
    concat('Eske Willerslev', {cs('o_orderkey % 190')},
           CASE WHEN o_orderkey % 5 = 0 THEN ' Jr.' ELSE '' END)
      AS title_raw,
    CAST(o_orderkey % 14 + 2011 AS INT) AS award_year,
    {elem(f"{('array(' if dialect == 'spark' else '[')}'Astronomy','Mathematics','Geosciences','Biosciences','Polyarthritis'{(')' if dialect == 'spark' else ']')}",
          'CAST(o_orderkey % 5 AS INT) + 1')} AS cat_name,
    concat('laureate-', {ks}) AS row_slug,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Professor of Evolutionary Genetics ',
                  {cs('o_orderkey % 7')}) END AS laureate_title_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('University of Copenhagen ', {cs('o_orderkey % 40')})
      END AS univ_raw,
    concat('<p>For pioneering  work on ancient DNA, case ', {ks},
           ' &amp; environmental genomics.</p>') AS cite_raw,
    {cs('o_orderkey + 9000')} AS wp_id,
    {cs('o_orderkey % 600 + 17')} AS term_id,
    CASE WHEN o_orderkey % 2 = 0
      THEN {cs('o_orderkey % 4000 + 100')} END AS press_release_raw
  FROM orders
),
{bar("cr_parsed", "cr_raw",
     ["k", "award_year", "cat_name", "row_slug", "wp_id", "term_id",
      "press_release_raw"], [
    ("laureate_name", collapse("title_raw")),
    ("given_name", cr_given.replace("cr.", "")),
    ("family_name", cr_family.replace("cr.", "")),
    ("laureate_title", collapse("laureate_title_raw")),
    ("affiliation", collapse("univ_raw")),
    ("citation", cr_cite.replace("cr.", "")),
    ("cat_slug", slugify("cat_name")),
])},
cr_shared AS (
  SELECT *, count(*) OVER (PARTITION BY award_year, cat_slug)
      AS share_count
  FROM cr_parsed
),
cr_out AS (
  SELECT 'crafoord_prize' AS member,
    concat('crafoord-prize-', {cs('award_year')}, '-', cat_slug, '-',
           row_slug) AS funder_award_id,
    {cs('award_year')} AS award_year, laureate_name,
    {nullcols('laureate_type')}, given_name, family_name,
    {nullcols('edition_label', 'winner_position')},
    cat_name AS award_category, cat_slug AS prize_category_slug,
    {nullcols('research_topic')}, affiliation, laureate_title, citation,
    {nullcols('innovation', 'raw_laureates', 'country',
              'profile_category', 'profile_edition', 'award_summary',
              'bio', 'contribution', 'profile_title_affiliation',
              'profile_description')},
    {cs('share_count')} AS award_share_count,
    CASE WHEN share_count > 1 THEN concat('1/', {cs('share_count')})
         ELSE '1' END AS portion,
    CASE WHEN award_year >= 2015 THEN '6000000' END
      AS award_total_amount,
    CASE WHEN award_year >= 2015
         THEN {amount_render('6000000.0 / share_count')} END
      AS source_award_amount,
    CASE WHEN award_year >= 2015 THEN 'SEK' END AS currency,
    CASE WHEN award_year >= 2015
      THEN 'SEK 6,000,000 total prize amount from 2015 official press release, divided by laureate count for the year/category.'
      ELSE 'Pre-2015 amount left NULL; official source used here only verifies the 2015-present SEK 6,000,000 rule.'
      END AS amount_note,
    concat('https://www.crafoordprize.se/award_winner/', row_slug, '/')
      AS landing_page_url,
    {nullcols('profile_slug')}, wp_id, row_slug AS wp_slug,
    press_release_raw AS press_release_id,
    {nullcols('current_format_note')},
    'https://www.crafoordprize.se/wp-json/wp/v2/award_winner'
      AS source_url,
    {nullcols('amount_rule_url')}
  FROM cr_shared
)"""

    # ---- dan_david ----------------------------------------------------------
    dd_given, dd_family = split_nf("dd.name_raw")
    dd_desc_cond = ("t <> coalesce(affiliation, chr(1)) AND "
                    "t <> name_raw AND NOT t LIKE 'Stay up to date%'")

    dan_david = f""",
dd_raw AS (
  SELECT o_orderkey AS k,
    {cs('o_orderkey % 4 + 2022')} AS year,
    concat('Karma Ben', {cs('o_orderkey % 200')}, '-Johanan'
           ) AS name_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('History of religions, strand ',
                  {cs('o_orderkey % 6')}) END AS topic,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('Hebrew University ', {cs('o_orderkey % 30')}) END
      AS affiliation,
    {cs('o_orderkey % 9 + 1')} AS winner_position,
    concat('https://dandavidprize.org/winners/winner-', {ks}, '/')
      AS href,
    concat('Professor of Comparative Religion, Hebrew University ',
           {cs('o_orderkey % 30')}) AS prof_title,
    {('array(' if dialect == 'spark' else '[')}
      concat('Research summary paragraph one, case ', {ks}),
      CASE WHEN o_orderkey % 4 <> 0
        THEN concat('Hebrew University ', {cs('o_orderkey % 30')}) END,
      concat('Karma Ben', {cs('o_orderkey % 200')}, '-Johanan'),
      concat('Second research paragraph ', {cs('o_orderkey % 13')}),
      'Stay up to date with the Dan David Prize newsletter'
    {(')' if dialect == 'spark' else ']')} AS later_ps
  FROM orders
),
dd_clean AS (
  SELECT *, {filt('later_ps', 't IS NOT NULL')} AS ps FROM dd_raw
),
{bar("dd_parsed", "dd_clean",
     ["k", "year", "name_raw", "topic", "affiliation",
      "winner_position", "href", "prof_title"], [
    ("given_name", dd_given.replace("dd.", "")),
    ("family_name", dd_family.replace("dd.", "")),
    ("profile_description",
     collapse(ajoin(filt("ps", dd_desc_cond)))),
])},
dd_out AS (
  SELECT 'dan_david_prize' AS member,
    concat('dan-david-prize-', {cs('year')}, '-winner-', {cs('k')})
      AS funder_award_id,
    {cs('year')} AS award_year, name_raw AS laureate_name,
    {nullcols('laureate_type')}, given_name, family_name,
    {nullcols('edition_label')},
    {cs('winner_position')} AS winner_position,
    {nullcols('award_category', 'prize_category_slug')},
    topic AS research_topic, affiliation,
    {nullcols('laureate_title', 'citation', 'innovation',
              'raw_laureates', 'country', 'profile_category',
              'profile_edition', 'award_summary', 'bio',
              'contribution')},
    prof_title AS profile_title_affiliation, profile_description,
    {nullcols('award_share_count', 'portion', 'award_total_amount')},
    '300000' AS source_award_amount, 'USD' AS currency,
    {nullcols('amount_note')},
    href AS landing_page_url,
    concat('winner-', {cs('k')}) AS profile_slug,
    {nullcols('wp_id', 'wp_slug', 'press_release_id')},
    'Current 2022-present Dan David Prize format; legacy 2001-2021 format excluded.'
      AS current_format_note,
    concat('https://dandavidprize.org/winners/?_winner_year=',
           {cs('year')}) AS source_url,
    {nullcols('amount_rule_url')}
  FROM dd_parsed
)"""

    # ---- millennium ----------------------------------------------------------
    ml_strip = ("regexp_replace(" + collapse("ml.laureates_raw")
                + ", '^(Grand Prize|Winner):\\\\s*', ''" + g + ")")
    if dialect == "spark":
        ml_parts = (f"filter(transform(split({ml_strip}, ' and '), "
                    f"x -> trim(x)), x -> x <> '')")
        ml_lateral = "\n  LATERAL VIEW explode(parts) ml_l AS laureate"
    else:
        ml_parts = (f"list_filter(list_transform("
                    f"str_split({ml_strip}, ' and '), "
                    f"x -> trim(x)), x -> x <> '')")
        ml_lateral = "\n  CROSS JOIN UNNEST(parts) AS ml_l(laureate)"
    ml_given, ml_family = split_nf("laureate")
    # strings[5:] up to the first terminator
    ml_stop = idx_of("profile_tail",
                     "t = 'Share' OR t LIKE '‹ Previous%' OR t IN "
                     "('Show more', 'Laureates', 'All winners', "
                     "'Next winner ›')")
    ml_desc = collapse(ajoin(zipped_filter(
        "profile_tail", f"i < coalesce({ml_stop}, 100000)")))

    millennium = f""",
ml_raw AS (
  SELECT o_orderkey AS k,
    {cs('o_orderkey % 11 * 2 + 2004')} AS year,
    concat('Innovation ', {cs('o_orderkey % 160')}) AS innovation,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('Grand Prize: Tuomo Suntola',
                         {cs('o_orderkey % 160')})
      WHEN 1 THEN concat('Winner: Shuji Nakamura', {cs('o_orderkey % 160')},
                         ' and Isamu Akasaki', {cs('o_orderkey % 160')})
      WHEN 2 THEN concat('Frances Arnold', {cs('o_orderkey % 160')})
      ELSE concat('Stuart Parkin', {cs('o_orderkey % 160')}, ' PhD') END
      AS laureates_raw,
    concat('https://millenniumprize.org/winners/winner-',
           {cs('o_orderkey % 160')}, '-', {cs('o_orderkey % 11 * 2 + 2004')},
           '/') AS detail_url,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE 'Finland' END AS country,
    {('array(' if dialect == 'spark' else '[')}
      concat('Developed the core technology, case ', {ks}),
      CASE WHEN o_orderkey % 2 = 0
        THEN concat('Further impact paragraph ', {cs('o_orderkey % 9')})
        END,
      'Share',
      'Text after the terminator never ships'
    {(')' if dialect == 'spark' else ']')} AS profile_tail_raw
  FROM orders
),
ml_parts AS (
  SELECT *, {ml_parts.replace('ml.', '')} AS parts,
    {filt('profile_tail_raw', 't IS NOT NULL')} AS profile_tail
  FROM ml_raw
),
ml_exploded AS (
  SELECT * FROM ml_parts{ml_lateral}
),
{bar("ml_parsed", "ml_exploded",
     ["k", "year", "innovation", "laureates_raw", "detail_url",
      "country", "laureate"], [
    ("given_name", ml_given),
    ("family_name", ml_family),
    ("profile_description", ml_desc.replace("ml.", "")),
    ("lslug", slugify("laureate")),
])},
ml_shared AS (
  SELECT *, count(*) OVER (PARTITION BY year, innovation)
      AS share_count
  FROM ml_parsed
),
ml_out AS (
  SELECT 'millennium_prize' AS member,
    concat('millennium-prize-', {cs('year')}, '-winner-',
           {cs('k % 160')}, '-', {cs('year')}, '-', lslug)
      AS funder_award_id,
    {cs('year')} AS award_year, laureate AS laureate_name,
    {nullcols('laureate_type')}, given_name, family_name,
    {nullcols('edition_label', 'winner_position', 'award_category',
              'prize_category_slug', 'research_topic', 'affiliation',
              'laureate_title', 'citation')},
    innovation, laureates_raw AS raw_laureates, country,
    {nullcols('profile_category', 'profile_edition', 'award_summary',
              'bio', 'contribution', 'profile_title_affiliation')},
    profile_description,
    {cs('share_count')} AS award_share_count,
    CASE WHEN share_count > 1 THEN concat('1/', {cs('share_count')})
         ELSE '1' END AS portion,
    '1000000' AS award_total_amount,
    {amount_render('1000000.0 / share_count')} AS source_award_amount,
    'EUR' AS currency,
    'EUR 1,000,000 prize amount from official prize story, divided by laureate count for the same winning innovation.'
      AS amount_note,
    detail_url AS landing_page_url,
    concat('winner-', {cs('k % 160')}, '-', {cs('year')}, '-', lslug)
      AS profile_slug,
    {nullcols('wp_id', 'wp_slug', 'press_release_id',
              'current_format_note')},
    'https://millenniumprize.org/winners/' AS source_url,
    'https://millenniumprize.org/prize/story/' AS amount_rule_url
  FROM ml_shared
)"""

    # ---- princess_asturias -------------------------------------------------
    def esc(s: str) -> str:
        return s.replace("'", "''")

    pa_custom_branches = "\n      ".join(
        f"WHEN laur_source = '{esc(key)}' THEN "
        + arrlit(*(f"'{esc(v)}'" for v in vals))
        for key, vals in PA_CUSTOM_SPLITS.items()
    )
    pa_no_split_in = ", ".join(
        f"'{esc(s)}'" for s in sorted(PA_NO_SPLIT_EXACT))
    # generic comma/and/& split with per-part collapse + empty drop
    # (princess_asturias_to_s3.py:349-364)
    if dialect == "spark":
        pa_generic = (
            "filter(transform(split(laur_source, "
            "',\\\\s+|\\\\s+(?:and|&)\\\\s+'), x -> "
            + collapse("x") + "), x -> x IS NOT NULL)")
        pa_lateral = ("\n  LATERAL VIEW posexplode(parts) pa_l AS "
                      "widx0, laureate")
        pa_widx = "CAST(widx0 + 1 AS INT)"
        pa_wcount = "size(parts)"
    else:
        pa_generic = (
            "list_filter(list_transform(regexp_split_to_array("
            "laur_source, ',\\s+|\\s+(?:and|&)\\s+'), x -> "
            + collapse("x") + "), x -> x IS NOT NULL)")
        pa_lateral = ("\n  CROSS JOIN UNNEST(list_transform(parts, "
                      "(t, i) -> {'widx': i, 'cell': t})) AS pa_l(u)")
        pa_widx = "CAST(u.widx AS INT)"
        pa_wcount = "len(parts)"
    pa_laureate = "laureate" if dialect == "spark" else "u.cell"
    # is_organization_name (:340-347): ORG_TERMS substring hit, else
    # the all-caps single-token rule
    pa_org_alt = "|".join(sorted(PA_ORG_TERMS))
    pa_caps_pat = "^[A-Z0-9&.\\\\- ]{3,}$"
    pa_is_org = (
        f"({rl('lower(lname)', pa_org_alt)} OR "
        f"({rl('lname', pa_caps_pat)} AND NOT contains("
        f"trim(BOTH '.' FROM lname), ' ')))")
    # split_person_name (:322-338): royal-title clause strip, then the
    # kit's tail-suffix split (same suffix set)
    pa_royal = ("regexp_replace(lname, "
                "',\\\\s*(King|Queen|Prince|Princess|headed by).*$', '')")
    pa_given, pa_family = split_nf(pa_royal)

    princess = f""",
pa_raw AS (
  SELECT o_orderkey AS k,
    CAST(1981 + o_orderkey % 45 AS INT) AS year,
    CASE CAST(o_orderkey % 8 AS INT)
      WHEN 0 THEN 'Communication and Humanities'
      WHEN 1 THEN 'Social Sciences' WHEN 2 THEN 'Arts'
      WHEN 3 THEN 'Letters'
      WHEN 4 THEN 'Scientific and Technical Research'
      WHEN 5 THEN 'International Cooperation' WHEN 6 THEN 'Concord'
      ELSE 'Sports' END AS category,
    CASE CAST(o_orderkey % 10 AS INT)
      WHEN 0 THEN concat('María García', {cs('o_orderkey % 300')})
      WHEN 1 THEN 'Bill and Melinda Gates Foundation'
      WHEN 2 THEN 'Gavi, the Vaccine Alliance'
      WHEN 3 THEN 'Salman Khan and the Khan Academy'
      WHEN 4 THEN concat('John', {cs('o_orderkey % 200')},
                         ' Smith and Jane Doe', {cs('o_orderkey % 200')})
      WHEN 5 THEN 'H. M. Husein I, King of Jordan'
      WHEN 6 THEN 'CERN'
      WHEN 7 THEN concat('Philharmonic Orchestra ',
                         {cs('o_orderkey % 90')})
      WHEN 8 THEN concat('Robert Lee', {cs('o_orderkey % 150')}, ' Jr.')
      ELSE 'Rainer Weiss, Kip S. Thorne, Barry C. Barish and and LIGO Scientific Collaboration'
      END AS laur_text,
    concat('laureate-', {cs('o_orderkey')}) AS detail_slug
  FROM orders
),
pa_items AS (
  SELECT k, year, category,
    CASE WHEN year >= 2014 THEN 'Princess' ELSE 'Prince' END
      AS award_prefix,
    concat(CASE WHEN year >= 2014 THEN 'Princess' ELSE 'Prince' END,
           ' of Asturias Award for ', category) AS prize_title,
    CASE WHEN k % 4 = 0 THEN CAST(NULL AS {S}) ELSE laur_text END
      AS detail_title,
    CASE WHEN k % 4 = 0 THEN laur_text
         ELSE concat('Laureates Group ', {cs('k')}) END
      AS official_laureate_text,
    CASE WHEN k % 5 = 0 THEN CAST(NULL AS {S})
         ELSE concat('For an exemplary contribution ', {cs('k % 67')})
         END AS citation,
    CASE WHEN k % 6 = 0 THEN CAST(NULL AS {S})
         ELSE concat('Meta description ', {cs('k % 41')}) END
      AS meta_description,
    detail_slug,
    concat('https://www.fpa.es/en/laureates/', detail_slug, '/')
      AS detail_url
  FROM pa_raw
),
{bar("pa_split", "pa_items",
     ["k", "year", "category", "award_prefix", "prize_title",
      "detail_title", "official_laureate_text", "citation",
      "meta_description", "detail_slug", "detail_url"], [
    ("laur_source",
     "replace("
     + collapse("coalesce(detail_title, official_laureate_text)")
     + ", ' and and ', ' and ')"),
])},
pa_parts AS (
  SELECT *,
    CASE
      {pa_custom_branches}
      WHEN laur_source IN ({pa_no_split_in})
        THEN {arrlit('laur_source')}
      ELSE {pa_generic} END AS parts
  FROM pa_split
),
pa_exploded AS (
  SELECT *, {pa_widx} AS widx, {pa_laureate} AS lname,
         CAST({pa_wcount} AS INT) AS wcount
  FROM pa_parts{pa_lateral}
),
{bar("pa_parsed", "pa_exploded",
     ["k", "year", "category", "award_prefix", "prize_title",
      "detail_title", "official_laureate_text", "citation",
      "meta_description", "detail_slug", "detail_url", "widx",
      "lname", "wcount"], [
    ("is_org", pa_is_org),
    ("pa_given", pa_given),
    ("pa_family", pa_family),
    ("cat_slug", slugify("category")),
    ("lslug", slugify("lname")),
    ("dslug", slugify("detail_slug")),
])},
pa_out AS (
  SELECT 'princess_asturias' AS member,
    concat('princess-asturias-', {cs('year')}, '-', cat_slug, '-',
           dslug, '-', {cs('widx')}, '-', lslug) AS funder_award_id,
    {cs('year')} AS award_year, lname AS laureate_name,
    {nullcols('laureate_type')},
    CASE WHEN is_org THEN CAST(NULL AS {S}) ELSE pa_given END
      AS given_name,
    CASE WHEN is_org THEN lname ELSE pa_family END AS family_name,
    {nullcols('edition_label', 'winner_position')},
    category AS award_category,
    {nullcols('prize_category_slug', 'research_topic', 'affiliation',
              'laureate_title')},
    citation,
    {nullcols('innovation', 'raw_laureates', 'country',
              'profile_category', 'profile_edition', 'award_summary',
              'bio', 'contribution', 'profile_title_affiliation',
              'profile_description')},
    {cs('wcount')} AS award_share_count,
    CASE WHEN wcount > 1 THEN concat('1/', {cs('wcount')})
         ELSE '1' END AS portion,
    '50000' AS award_total_amount,
    CAST(NULL AS {S}) AS source_award_amount,
    'EUR' AS currency,
    '{esc(PA_AMOUNT_NOTE)}' AS amount_note,
    detail_url AS landing_page_url,
    dslug AS profile_slug,
    {nullcols('wp_id', 'wp_slug', 'press_release_id',
              'current_format_note')},
    'https://www.fpa.es/en/cargarAplicacionPremiadoCompleto.do'
      AS source_url,
    'https://www.fpa.es/en/area-of-communication-and-media/faqs/princess-of-asturias-awards/'
      AS amount_rule_url,
    award_prefix, prize_title, prize_title AS detail_prize_title,
    official_laureate_text, detail_title,
    CASE WHEN is_org THEN 'true' ELSE 'false' END
      AS laureate_is_organization,
    {cs('widx')} AS winner_index,
    meta_description
  FROM pa_parsed
)"""

    # ---- stockholm_water_prize (round 11) -----------------------------------
    # scripts/local/stockholm_water_prize_to_s3.py:263-480.  The card
    # regex over the listing HTML is the seam — the fixture delivers
    # each card's (year, name, citation, url).  Ported compute: the
    # country-from-name rule (first ' and '-split recipient's
    # last-comma tail, validated '[A-Za-z][A-Za-z \\-]{1,40}', falling
    # back to the WHOLE name's tail when the first recipient has no
    # comma), name_stripped (country suffix removed, joint tail
    # re-attached), the URL-slug parse (year-prefix strip, the
    # LAST '-and-' segment, right-to-left COUNTRY_TOKENS pop with
    # USA/UK-uppercase else capitalize — and the preserved QUIRK that
    # a joint URL's slug loses the first laureate), the name-derived-
    # country-wins precedence, the (year, lower(name)) keep-first
    # dedup, the org detector (word-boundary token hit AND NOT a
    # dr/prof/sir prefix), split_name (joint gate takes the FIRST
    # recipient, honorific strip, ';'->',' first-comma-part, the
    # CASE-SENSITIVE degree pop — lowercase 'phd' does NOT match,
    # preserved), the 'stockholm-water-prize-{year}-{slug}' ids
    # (collision RAISE = validation the fixture satisfies), NULL
    # amount AND NULL currency (CURRENCY = None), Jan-1/Dec-31 year
    # dates, and the astype('string') renders ('True'/'False' for
    # is_joint/declined).
    swp_first_pat = "^(.*?)\\\\s+[Aa][Nn][Dd]\\\\s+(.*)$"
    swp_first = (f"coalesce(nullif(regexp_extract(name, "
                 f"'{swp_first_pat}', 1), ''), name)")
    swp_joint_tail = (f"nullif(regexp_extract(name, '{swp_first_pat}', "
                      f"2), '')")
    swp_tail_src = (f"CASE WHEN contains(first_rec, ',') THEN first_rec"
                    f" ELSE name END")
    swp_tail = f"trim(regexp_extract({swp_tail_src}, ',([^,]*)$', 1))"
    _swp_ctry_pat = "^[A-Za-z][A-Za-z \\\\-]{1,40}$"
    _swp_tail_gate = rl(f"({swp_tail})", _swp_ctry_pat)
    swp_country_name = (
        f"CASE WHEN {_swp_tail_gate} "
        f"AND ({swp_tail}) <> '' THEN {swp_tail} END")
    swp_stripped0 = (
        "CASE WHEN contains(first_rec, ',') AND country_name IS NOT "
        "NULL THEN trim(regexp_replace(first_rec, ',[^,]*$', '')) "
        "ELSE first_rec END")
    swp_url_tail = ("nullif(regexp_extract(coalesce(url, ''), "
                    "'/laureates/([0-9]{4})-(.+?)/?$', 2), '')")
    swp_base = ("CASE WHEN contains(url_tail, '-and-') THEN "
                "regexp_extract(url_tail, '(?:.*-and-)(.*)', 1) "
                "ELSE url_tail END")
    if dialect == "spark":
        swp_toks = "filter(split(base, '-'), x -> x <> '')"
        swp_boundary = (f"coalesce(array_max(zip_with(({swp_toks}), "
                        f"sequence(1, size(({swp_toks}))), (t, i) -> "
                        f"CASE WHEN lower(t) NOT IN "
                        f"({', '.join(repr(t) for t in sorted(SWP_COUNTRY_TOKENS))})"
                        f" THEN i END)), 0)")
        swp_ctoks = (f"slice(({swp_toks}), ({swp_boundary}) + 1, "
                     f"size(({swp_toks})) - ({swp_boundary}))")
        swp_slug_url = (f"CASE WHEN ({swp_boundary}) >= 1 THEN "
                        f"array_join(slice(({swp_toks}), 1, "
                        f"({swp_boundary})), '-') END")
        swp_country_url = (
            f"CASE WHEN size({swp_ctoks}) > 0 THEN array_join("
            f"transform({swp_ctoks}, t -> CASE WHEN lower(t) IN "
            f"('usa', 'uk') THEN upper(t) ELSE initcap(t) END), ' ') "
            f"END")
        swp_name_toks = "filter(split(base_name, ' +'), x -> x <> '')"
        swp_deg_keep = (
            f"coalesce(array_max(zip_with(({swp_name_toks}), "
            f"sequence(1, size(({swp_name_toks}))), (t, i) -> "
            f"CASE WHEN trim(TRAILING '.' FROM t) NOT IN "
            f"({', '.join(repr(d) for d in SWP_DEGREES)}) THEN i END)), 0)")
        swp_head = (f"array_join(slice(({swp_name_toks}), 1, "
                    f"({swp_deg_keep}) - 1), ' ')")
    else:
        swp_toks = "list_filter(regexp_split_to_array(base, '-'), x -> x <> '')"
        swp_boundary = (f"coalesce(list_max(list_transform(({swp_toks}),"
                        f" (t, i) -> CASE WHEN lower(t) NOT IN "
                        f"({', '.join(repr(t) for t in sorted(SWP_COUNTRY_TOKENS))})"
                        f" THEN i END)), 0)")
        swp_ctoks = (f"list_slice(({swp_toks}), ({swp_boundary}) + 1, "
                     f"len(({swp_toks})))")
        swp_slug_url = (f"CASE WHEN ({swp_boundary}) >= 1 THEN "
                        f"list_aggr(list_slice(({swp_toks}), 1, "
                        f"({swp_boundary})), 'string_agg', '-') END")
        swp_country_url = (
            f"CASE WHEN len({swp_ctoks}) > 0 THEN list_aggr("
            f"list_transform({swp_ctoks}, t -> CASE WHEN lower(t) IN "
            f"('usa', 'uk') THEN upper(t) ELSE "
            f"concat(upper(substr(t, 1, 1)), lower(substr(t, 2))) END),"
            f" 'string_agg', ' ') END")
        swp_name_toks = ("list_filter(regexp_split_to_array(base_name, "
                         "' +'), x -> x <> '')")
        swp_deg_keep = (
            f"coalesce(list_max(list_transform(({swp_name_toks}), "
            f"(t, i) -> CASE WHEN trim(TRAILING '.' FROM t) NOT IN "
            f"({', '.join(repr(d) for d in SWP_DEGREES)}) THEN i END)),"
            f" 0)")
        swp_head = (f"list_aggr(list_slice(({swp_name_toks}), 1, "
                    f"({swp_deg_keep}) - 1), 'string_agg', ' ')")
    swp_is_org = (
        f"({rl('name', '(?i)' + chr(92) + chr(92) + 'b(' + SWP_ORG_ALT + ')' + chr(92) + chr(92) + 'b')} "
        f"AND NOT (lower(name) LIKE 'dr%' OR lower(name) LIKE 'prof%' "
        f"OR lower(name) LIKE 'sir%'))")
    swp_split_src = "coalesce(name_stripped, name)"
    swp_honor = ("trim(regexp_replace({src}, "
                 "'^(?i)(Dr[.]?|Prof[.]?|Professor|Mr[.]?|Ms[.]?|"
                 "Mrs[.]?|Sir|Dame)\\\\s+', ''))")
    swp_first_of_split = (
        f"coalesce(nullif(regexp_extract({swp_split_src}, "
        f"'{swp_first_pat}', 1), ''), {swp_split_src})")
    swp_base_name = (
        "trim(" + elem(
            ("filter(split(replace("
             + swp_honor.format(src=swp_first_of_split)
             + ", ';', ','), ','), x -> true)" if dialect == "spark"
             else "list_filter(regexp_split_to_array(replace("
             + swp_honor.format(src=swp_first_of_split)
             + ", ';', ','), ','), x -> true)"), "1") + ")")
    swp_nameslug = ("substr(trim(BOTH '-' FROM regexp_replace("
                    "lower(name), '[^a-z0-9]+', '-'" + g + ")), 1, 60)")

    swp = f""",
swp_cards AS (
  -- parse_listing's seen-set dedup (:270,:345-348): keep the FIRST
  -- card per (year, lower(name)) in feed order
  SELECT year, name, citation, url FROM (
    SELECT *, row_number() OVER (
        PARTITION BY year, lower(name) ORDER BY seq) AS srn
    FROM (
    SELECT o_orderkey AS seq,
      CAST(1991 + o_orderkey % 35 AS INT) AS year,
      CASE CAST(o_orderkey % 8 AS INT)
        WHEN 0 THEN concat('Professor Kaveh Madani', {ks}, ', Iran')
        WHEN 1 THEN concat('Werner Stumm', {ks},
                           ', Switzerland and James J. Morgan', {ks},
                           ', USA')
        WHEN 2 THEN concat('Dr. Rita Colwell', {ks},
                           ' and Johns Hopkins', {ks}, ', USA')
        WHEN 3 THEN 'WaterAid'
        WHEN 4 THEN concat('Department of Water Affairs', {ks},
                           ', South Africa')
        WHEN 5 THEN concat('Sir Peter Wilson', {ks}, ' PhD, UK')
        WHEN 6 THEN concat('Madhav Chitale', {ks})
        ELSE concat('Professor John Anthony Allan', {ks},
                    ', Great Britain') END AS name,
      CASE WHEN o_orderkey % 9 = 0 THEN CAST(NULL AS {S})
        ELSE concat('for pioneering water research, case ', {ks}) END
        AS citation,
      CASE WHEN o_orderkey % 4 = 0 THEN CAST(NULL AS {S})
        ELSE concat('https://siwi.org/laureates/',
          {cs('1991 + o_orderkey % 35')}, '-',
          CASE CAST(o_orderkey % 8 AS INT)
            WHEN 0 THEN concat('professor-kaveh-madani', {ks}, '-iran')
            WHEN 1 THEN concat('werner-stumm', {ks},
                               '-switzerland-and-james-j-morgan',
                               {ks}, '-usa')
            WHEN 2 THEN concat('dr-rita-colwell', {ks},
                               '-and-johns-hopkins', {ks}, '-usa')
            WHEN 3 THEN 'wateraid'
            WHEN 4 THEN concat('department-of-water-affairs', {ks},
                               '-south-africa')
            WHEN 5 THEN concat('sir-peter-wilson', {ks}, '-phd-uk')
            WHEN 6 THEN concat('madhav-chitale', {ks})
            ELSE concat('professor-john-anthony-allan', {ks},
                        '-great-britain') END, '/') END AS url
    FROM orders
    ) raw0
  ) ranked WHERE srn = 1
),
{bar("swp_c1", "swp_cards", ["year", "name", "citation", "url"], [
    ("first_rec", swp_first),
    ("joint_tail", swp_joint_tail),
    ("url_tail", swp_url_tail),
])},
{bar("swp_c2", "swp_c1",
     ["year", "name", "citation", "url", "first_rec", "joint_tail",
      "url_tail"], [
    ("country_name", swp_country_name),
    ("base", swp_base),
])},
{bar("swp_c3", "swp_c2",
     ["year", "name", "citation", "url", "first_rec", "joint_tail",
      "country_name"], [
    ("name_stripped0", swp_stripped0),
    ("slug_url", swp_slug_url),
    ("country_url", swp_country_url),
])},
swp_c4 AS (
  SELECT *,
    CASE WHEN joint_tail IS NOT NULL
         THEN concat(name_stripped0, ' and ', trim(joint_tail))
         ELSE name_stripped0 END AS name_stripped,
    coalesce(country_name, country_url) AS country_final
  FROM swp_c3
),
{bar("swp_c5", "swp_c4",
     ["year", "name", "citation", "url", "country_final", "slug_url",
      "name_stripped"], [
    ("is_org", swp_is_org),
    ("base_name", swp_base_name),
])},
{bar("swp_named", "swp_c5",
     ["year", "name", "citation", "url", "country_final", "slug_url",
      "name_stripped", "is_org", "base_name"], [
    ("deg_keep", swp_deg_keep),
])},
swp_out AS (
  SELECT 'stockholm_water_prize' AS member,
    concat('stockholm-water-prize-', {cs('year')}, '-',
           coalesce(slug_url, {swp_nameslug})) AS funder_award_id,
    {cs('year')} AS award_year,
    name AS laureate_name,
    {nullcols('laureate_type')},
    CASE WHEN is_org OR deg_keep < 2 THEN CAST(NULL AS {S})
         ELSE nullif({swp_head}, '') END AS given_name,
    CASE WHEN is_org THEN CAST(NULL AS {S})
         WHEN deg_keep >= 1
         THEN {elem(f"({swp_name_toks})", "deg_keep")} END
      AS family_name,
    {nullcols('edition_label', 'winner_position', 'award_category',
              'prize_category_slug', 'research_topic', 'affiliation',
              'laureate_title')},
    citation,
    {nullcols('innovation', 'raw_laureates')},
    country_final AS country,
    {nullcols('profile_category', 'profile_edition', 'award_summary',
              'bio', 'contribution', 'profile_title_affiliation',
              'profile_description', 'award_share_count', 'portion',
              'award_total_amount', 'source_award_amount',
              'currency')},
    {nullcols('amount_note')},
    url AS landing_page_url,
    slug_url AS profile_slug,
    {nullcols('wp_id', 'wp_slug', 'press_release_id',
              'current_format_note', 'source_url',
              'amount_rule_url')},
    {nullcols('award_prefix', 'prize_title', 'detail_prize_title',
              'official_laureate_text', 'detail_title',
              'laureate_is_organization', 'winner_index',
              'meta_description')},
    concat('Stockholm Water Prize ', {cs('year')}, ' — ', name)
      AS display_name,
    citation AS description,
    CASE WHEN is_org THEN 'organization' ELSE 'individual' END
      AS recipient_kind,
    CASE WHEN is_org THEN 'False'
         WHEN {rl('name_stripped', '(?i)' + chr(92) + chr(92) + 's+and' + chr(92) + chr(92) + 's+')}
         THEN 'True' ELSE 'False' END AS is_joint,
    concat({cs('year')}, '-01-01') AS start_date,
    concat({cs('year')}, '-12-31') AS end_date,
    slug_url AS slug_from_url,
    'False' AS declined
  FROM swp_named
)"""

    swp_extra_list = ("display_name", "description", "recipient_kind",
                      "is_joint", "start_date", "end_date",
                      "slug_from_url", "declined")
    swp_extras = ", ".join(swp_extra_list)
    swp_extra_nulls = nullcols(*swp_extra_list)

    pa_extras = ("award_prefix, prize_title, detail_prize_title, "
                 "official_laureate_text, detail_title, "
                 "laureate_is_organization, winner_index, "
                 "meta_description")
    pa_extra_nulls = nullcols(
        "award_prefix", "prize_title", "detail_prize_title",
        "official_laureate_text", "detail_title",
        "laureate_is_organization", "winner_index", "meta_description")

    cols = ("member, funder_award_id, award_year, laureate_name, "
            "laureate_type, given_name, family_name, edition_label, "
            "winner_position, award_category, prize_category_slug, "
            "research_topic, affiliation, laureate_title, citation, "
            "innovation, raw_laureates, country, profile_category, "
            "profile_edition, award_summary, bio, contribution, "
            "profile_title_affiliation, profile_description, "
            "award_share_count, portion, award_total_amount, "
            "source_award_amount, currency, amount_note, "
            "landing_page_url, profile_slug, wp_id, wp_slug, "
            "press_release_id, current_format_note, source_url, "
            "amount_rule_url, " + pa_extras)
    legacy_cols = cols.rsplit(", " + pa_extras, 1)[0]
    wolf = _wolf_arm(dialect)
    wf_extras = "wf_wp_date, wf_categories_json"
    wf_extra_nulls = nullcols("wf_wp_date", "wf_categories_json")

    return f"""
WITH {bbva}{bbva_rest}{crafoord}{dan_david}{millennium}{princess}{swp}{wolf}
SELECT {cols}, {swp_extra_nulls}, {wf_extra_nulls} FROM pa_out
UNION ALL SELECT {cols}, {swp_extras}, {wf_extra_nulls} FROM swp_out
UNION ALL SELECT {legacy_cols}, {pa_extra_nulls}, {swp_extra_nulls},
  {wf_extra_nulls} FROM bb_out
UNION ALL SELECT {legacy_cols}, {pa_extra_nulls}, {swp_extra_nulls},
  {wf_extra_nulls} FROM cr_out
UNION ALL SELECT {legacy_cols}, {pa_extra_nulls}, {swp_extra_nulls},
  {wf_extra_nulls} FROM dd_out
UNION ALL SELECT {legacy_cols}, {pa_extra_nulls}, {swp_extra_nulls},
  {wf_extra_nulls} FROM ml_out
UNION ALL SELECT {legacy_cols}, {pa_extra_nulls}, {swp_extra_nulls},
  {wf_extras} FROM wf_out
"""


@register(
    "prize_pattern_parse",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Prize-pattern scraper family (scripts/local/{bbva_frontiers,"
         "crafoord_prize,dan_david_prize,millennium_prize,"
         "princess_asturias,stockholm_water_prize}_to_s3.py)"),
    spread=("orders",),
)
def prize_pattern_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four prize ingests in one union plan (module docstring has the
    per-member semantics map).  Share-count windows are the only
    exchanges; the millennium arm explodes multi-laureate rows."""
    return spark.sql(sqlkit.build(_sql, "spark"))
