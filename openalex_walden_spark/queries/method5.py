"""Method-5 static-HTML scraper family
(scripts/local/{mott,helmsley,fritz_thyssen,mercator_fellows,
novo_nordisk_fonden,rj_jubileumsfond,wt_grant,aos_research_awards,
schmidt_sciences}_to_s3.py — 9 scripts, one sitemap-discovery
skeleton plus the AOS page-walk arm and the schmidt big-page-inline
arm; the AOS semantics map lives on :func:`_aos_arm`).

**schmidt_sciences** (round 14, schmidt_sciences_to_s3.py:126-344,
big-page-inline variant): one <li> per awardee; the data-* attributes
and the anchor's ordered element texts are the fixture seam.  The
name walk (:252-275) takes the first anchor text that is non-empty,
differs from the data-program echo and the focus-area display echo,
and either lower-equals data-term or is a <80-char alpha-bearing
string (texts failing BOTH pick rules are skipped, not taken);
fallback = capitalize()-per-part of the /grantee/{{slug}}/ URL slug,
else the row is dropped.  ``parse_year_range`` (:196-215) splits
data-year on commas with an int + 1900-2100 gate -> (min, max);
``FOCUS_AREA_DISPLAY`` maps the slug attribute (unknown slugs keep a
NULL display).  funder_award_id (:337-341) uses the fillna(0) year
and slugify(program or 'none'); amounts are the documented §6.7 NULL
waiver.  Column mapping into the family schema: grantee_name ->
recipient, focus_area_slug -> subject, focus_area_display ->
focus_areas, data-year raw -> period_raw, data-term -> term,
grantee_url -> landing_page_url.

Each reference script enumerates a publisher's detail pages from
sitemaps and parses one record per page.  The sitemap crawl, HTTP
cache, and BeautifulSoup node selection are the seam; the fixture
delivers the selected raw strings (h1 text, og:title content, the
labeled-grid values, the info-box part list, the header-strip
segments, the body paragraphs) one page per orders key.  Ported
compute, per member:

* **mott** (mott_to_s3.py:200-332): ``parse_grant_period`` — the
  anchored '{Month D, YYYY}–{Month D, YYYY}' range with the comma-less
  strptime retry, the single-date fallback, the bare-19xx/20xx-year
  Jan-1 fallback; ``parse_amount`` ``\\$\\s*([0-9,]+(\\.[0-9]+)?)``;
  the OG-title recipient rule (strip ' | Mott Foundation', take the
  first comma segment unless it equals the H1 title); description =
  JSON-LD else og:description; id 'mott-{slug}', currency USD;
* **helmsley** (helmsley_to_s3.py:202-300): ``parse_date`` MM.DD.YYYY
  then M/D/YYYY (zero-filled) then bare-year Jan-1; display_name =
  project title else recipient; native id = trailing digits of the
  slug; id 'helmsley-{slug}', currency USD constant (shipped even
  without an amount — the reference sets the column unconditionally);
* **fritz_thyssen** (fritz_thyssen_to_s3.py:136-291): title = H1 else
  og:title; the info-box part list drops bare 'Institution' labels,
  then parts[0] = PI, parts[1] = affiliation; Bewilligung = first
  \\d{4} of its detail text, Förderbereich = text after the first '|';
  ``split_name`` pops title/degree tokens off BOTH ends (prof/dr in
  the set), mononym keeps family; id 'ft-{slug}';
* **mercator_fellows** (mercator_fellows_to_s3.py:225-320): the
  '{Month} {YYYY} [-–to] [{Month}] [{YYYY}]' period grammar with the
  month-name lookup, month-less end = Dec-31, match-less bare-year =
  Jan-1 start; description = biography else project title;
  ``split_name`` pops the degree tail only (prof/dr NOT in the set);
  id 'mercator-fellow-{slug}';
* **novo_nordisk_fonden** (novo_nordisk_fonden_to_s3.py:226-318): the
  credentials gate (>200 chars or fonden/footer/info substring →
  NULL); the header-strip prize scan — first segment matching
  ``^\\s*([^\\d\\n]+?)\\s*[-–]?\\s*(\\d{4})\\s*$`` whose no-digit head
  is longer than 3 chars and does NOT contain the recipient's name;
  award_year = header year else the slug's trailing '-YYYY';
  name_slug = slug minus that suffix; both-end split; id 'nnf-{slug}';
* **rj_jubileumsfond** (rj_jubileumsfond_to_s3.py:217-370): the PI
  span gate (≤80 chars, not Final report/Slutredovisning/
  Bidragsförvaltare); 'SEK 976,000' / '1 200 000 kr' amounts (comma
  AND space stripped, currency always SEK); award_year = the Year
  field when all-digits else the URL year; description = the >100-char
  body paragraphs minus the request-funds/initiation boilerplate,
  joined and cut at 5000; id 'rj-{slugified reference_number}-{slug}'
  falling back to 'rj-{slug}';
* **wt_grant** (wt_grant_to_s3.py:213-424): title = og:title with the
  ' - William T. Grant Foundation' suffix stripped, else H1; the
  About-This-Grant role items deliver PI/co-PI (person+org),
  grantee-organization, programs/focus/topics, amount, period;
  ``parse_period`` start/end years with the bare-year fallback;
  grantee_org = the PI's org else the org-only grantee; tail-only
  split; currency USD iff an amount; id = slug.

All members stringify every column before shipping
(``df.astype("string")``); amounts render as Python ``str(float)``.
Every member's validate RAISES on slug collisions, so the fixture
keys pages uniquely and the plan needs NO dedup: 7 scan arms of pure
column algebra behind Generate barriers, no hash shuffle (each scan
sits under one round-robin spread exchange), no Python.

tests/test_template_fidelity.py re-derives all seven members in
Python from the reference rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# fritz/novo/rj variant: both-end pop, titles in the set
_SUFFIX_A = ("'phd','md','dphil','dsc','scd','jr','sr','ii','iii','iv',"
             "'prof','dr'")
# mercator/wt variant: trailing pop only, no titles
_SUFFIX_B = "'phd','md','dphil','dsc','scd','jr','sr','ii','iii','iv'"

_MONTHS = ("january,february,march,april,may,june,july,august,september,"
           "october,november,december")


_COLS = (
    "member, funder_award_id, slug, title, display_name, recipient, "
    "pi_raw, given_name, family_name, credentials, institution, "
    "grantee_org, prize_name, program, initiative, funding_program, "
    "focus_areas, topics, subject, reference_number, "
    "grant_administrator, fellowship_program, amount, amount_raw, "
    "currency, period_raw, date_raw, award_date, start_date, end_date, "
    "start_year, end_year, award_year, term, location, "
    "geographic_focus, project_title, biography, description, "
    "copi_given_name, copi_family_name, copi_org, name_slug, "
    "native_grant_id, landing_page_url"
)


# ---------------------------------------------------------------------------
# AOS research-awards arm (scripts/local/aos_research_awards_to_s3.py,
# round 11) — constants + the arm builder
# ---------------------------------------------------------------------------

AOS_KESSEL_SCHEME = "Kessel Fellowship"
AOS_LACCR_SCHEME = "Latin American/Caribbean Conservation Research Grant"
AOS_KESSEL_URL = ("https://americanornithology.org/awards-grants/"
                  "research-grants/kessel-fellowships/")
AOS_LACCR_URL = ("https://americanornithology.org/awards-grants/"
                 "research-grants/latin-american-caribbean-conservation-"
                 "research-grant/")
AOS_LACCR_NOTE = (
    "AOS LACCR pages publish an up-to-$5,000 USD program cap but not "
    "exact per-recipient award amounts; amount/currency left NULL by "
    "source authority."
)
# parse_laccr_2023's hardcoded spec list (:432-455), verbatim — the
# third element selects joint vs individual project text
# schmidt_sciences_to_s3.py:130-137 — the listing's slug -> display
# map, verbatim (AST-pinned); tuple-of-pairs keeps CASE order stable
SCHMIDT_FOCUS_AREA_DISPLAY = (
    ("ai-advanced-computing", "AI & Advanced Computing"),
    ("astrophysics-space", "Astrophysics & Space"),
    ("biosciences", "Biosciences"),
    ("climate", "Climate"),
    ("science", "Science Systems"),
)

AOS_LACCR_2023_SPECS = [
    ("Valentina Gómez-Bahamón",
     "Eberly Postdoctoral Fellow in the Toews Lab at The Pennsylvania "
     "State University", "joint"),
    ("Sergio Estrada Villegas",
     "Junior Assistant Professor at the Universidad del Rosario, "
     "Bogotá, Colombia", "joint"),
    ("María Emilia Rebollo",
     "Postdoctoral Fellow at CONICET, Argentina; ColBEC (FCEyN, "
     "UNLPam); INCITAP (CONICET, UNLPam)", "individual"),
]

_AOS_EXTRA_COLS = (
    "amount_note", "program_amount_text", "funder_scheme",
    "funding_type", "program_url", "source_page_title",
    "source_publication_date", "source_order", "source_hash",
)

# project_from_text (:244-253): lazy capture up to an Abstract: stop
# or end, smart/straight quotes optional — RE2-safe (no lookarounds)
_AOS_PROJ_PAT = ("(?i)(?:Joint project title|Project title|Project)"
                 "\\\\s*:\\\\s*[“\"]?(.+?)(?:[”\"]?\\\\s+Abstract\\\\s*:"
                 "|[”\"]?$)")


def _aos_arm(dialect: str) -> str:
    """The AOS arm: three page shapes (heading walk, paragraph-Kessel
    walk, the hardcoded laccr_2023 specs), re-expressed as exploded
    node rows + per-page windows (the reference walks each page's
    (tag, text) node list serially):

    * heading walk (:308-396): scheme transitions ride the two
      skip-head h2s as a running last-non-null window; record starts
      are the qualifying h2/h3s (>=2 stripped-name tokens, not the
      announce line, not '2025 Winners...'); the next ANY-heading
      bounds the record; the first following <p> is the affiliation
      and the project is the FIRST project_from_text hit after it;
      Kessel amounts are $15,000 except the 2025 Teresa Pegan Arctic
      fellowship ($30,000), LACCR ships NULL amounts with the official
      cap note;
    * paragraph walk (:396-430): 'Dr. '-prefixed comma-bearing <p>s
      (minus the 'Dr. Brina' exclusion) with the project taken from
      the NEXT node — a candidate without a project is dropped, and
      the raw post-comma affiliation keeps its leading space inside
      the description render (the emitted column is cleaned);
    * laccr_2023 (:432-480): the three-spec constant list with
      joint-vs-individual project routing.

    strip_name_title / split_person_name (single token -> family
    only), the 'aos-{scheme}-{year}-{name}-{hash10}' id (md5 for the
    reference's sha1 — the documented trade), per-page source_order,
    and the first-12-nodes publication-date scan are shared.
    retrieved_at is a runtime seam, not emitted.
    """
    sp = dialect == "spark"
    k = sqlkit.kit(dialect)
    g, S, cs, clean_ws, elem, filt = k.g, k.S, k.cs, k.clean_ws, k.elem, k.filt
    nullcols, rl, tagtext = k.nullcols, k.rl, k.tagtext
    if sp:
        node_lateral = ("\n  LATERAL VIEW posexplode(nodes) _n AS "
                        "idx0, nd")
        idx_expr, tag_expr, text_expr = ("CAST(idx0 + 1 AS INT)",
                                         "nd.tag", "nd.text")
        arr = lambda *xs: "array(" + ",\n      ".join(xs) + ")"  # noqa: E731
    else:
        node_lateral = ("\n  CROSS JOIN UNNEST(list_transform(nodes, "
                        "(t, i) -> {'i': i, 'nd': t})) AS _n(u)")
        idx_expr, tag_expr, text_expr = ("CAST(u.i AS INT)",
                                         "u.nd.tag", "u.nd.text")
        arr = lambda *xs: "[" + ",\n      ".join(xs) + "]"  # noqa: E731

    # clean_text: ws collapse + trim (the HTML strip is the seam)
    clean = lambda x: clean_ws(f"coalesce({x}, '')")  # noqa: E731
    # strip_name_title (:164-169)
    snt = lambda x: (  # noqa: E731
        "trim(BOTH ' ,' FROM regexp_replace(regexp_replace("
        + clean(x)
        + ", '^(Drs?[.]?|Dra[.]?|Mr[.]?|Ms[.]?)\\\\s+', ''" + g + ")"
        + ", ',?\\\\s*(Ph[.]D[.]|M[.]Sc[.]|M[.]S[.]|MSc|MS|PhD)[.]?$',"
          " ''" + g + "))")
    proj_hit = lambda x: (  # noqa: E731
        f"nullif(trim(BOTH ' “”\"' FROM nullif(regexp_extract("
        f"coalesce({x}, ''), '{_AOS_PROJ_PAT}', 1), '')), '')")
    slug = lambda x: (  # noqa: E731
        "coalesce(nullif(trim(BOTH '-' FROM regexp_replace(lower("
        f"translate({x}, 'éóíáúñ', 'eoiaun')), '[^a-z0-9]+', '-'{g})), "
        "''), 'unknown')")

    y16 = cs("CAST(2016 + o_orderkey % 10 AS INT)")
    # heading pages run on even keys, so their year rides k/2 — that
    # way 2025 (the Teresa Pegan $30k rule) is reachable
    half = "CAST(floor(o_orderkey / 2.0) AS INT)"
    yh = cs(f"CAST(2016 + ({half}) % 10 AS INT)")
    kk = cs("o_orderkey")
    kessel_head = "'Kessel Fellowships for Ornithological Research'"
    laccr_head = "'Latin American/Caribbean Conservation Research Grants'"

    hp_name1 = (f"CASE WHEN ({half}) % 90 = 19 "
                f"THEN 'Dr. Teresa Pegan' "
                f"WHEN o_orderkey % 4 = 0 THEN concat('Drs. Jane "
                f"Smith', {kk}, ', Ph.D.') "
                f"WHEN o_orderkey % 4 = 2 THEN concat('Ms. Emily van "
                f"Dorn', {kk}) "
                f"ELSE concat('Jane Smith', {kk}, ' MSc') END")
    hp_name2 = (f"CASE WHEN o_orderkey % 6 = 0 THEN 'Cher' "
                f"ELSE concat('Carlos Mendez', {kk}) END")
    hp_proj1 = (f"CASE WHEN o_orderkey % 3 <> 0 THEN concat('Project "
                f"title: “Song learning ', {kk}, '” Abstract: The "
                f"full abstract follows.') "
                f"ELSE 'A general congratulations paragraph.' END")
    hp_proj2 = (f"CASE WHEN o_orderkey % 5 <> 0 THEN concat('Project: "
                f"\"Forest corridors ', {kk}, '\"') "
                f"ELSE 'Read the announcement for details.' END")

    heading_nodes = arr(
        tagtext("h1", "concat('AOS ', year, ' Research Awards')"),
        tagtext("p", "CASE WHEN o_orderkey % 5 <> 0 THEN concat('15 March '"
                ", year) ELSE 'Announcement intro text.' END"),
        # a record BEFORE any transition rides the page default scheme
        "CASE WHEN o_orderkey % 8 = 0 THEN " + tagtext(
            "h3", f"concat('Alex Early', {kk})") + " END",
        "CASE WHEN o_orderkey % 8 = 0 THEN " + tagtext(
            "p", "'Early-section recipient affiliation'") + " END",
        tagtext("h2", kessel_head),
        tagtext("h3", "name1"),
        tagtext("p", f"concat('PhD Candidate, University ', {kk})"),
        tagtext("p", "proj1"),
        tagtext("h3", "'Congratulations'"),
        tagtext("h2", laccr_head),
        tagtext("h3", "name2"),
        tagtext("p", f"concat('Conservation biologist, Reserve ', {kk})"),
        tagtext("p", "proj2"),
        tagtext("h2", "'Related Posts'"),
        tagtext("p", "'Some related announcements.'"),
    )
    # heading_nodes evaluates over aos_hp_raw, where the key is `pk`
    heading_nodes = heading_nodes.replace("o_orderkey", "pk")
    para_nodes = arr(
        tagtext("h1", f"concat('Kessel Fellowship Winners ', {y16})"),
        tagtext("p", f"concat('5 June ', {y16})"),
        tagtext("p", f"concat('Dr. Alan Turner', {kk}, ', University of "
                f"Chicago')"),
        tagtext("p", f"concat('Project: “Migration genomics ', {kk}, '”')"),
        tagtext("p", "'Dr. Brina Montoya, Example University'"),
        tagtext("p", "'Project: \"An excluded project\"'"),
        "CASE WHEN o_orderkey % 3 = 0 THEN " + tagtext(
            "p", f"concat('Dr. Maria Stone', {kk}, ', Cornell Lab')")
        + " END",
        "CASE WHEN o_orderkey % 3 = 0 THEN " + tagtext(
            "p", "'An unrelated closing paragraph.'") + " END",
    )

    # hoisted (backslashes are banned in f-string expression parts)
    pub_date_gate = rl("text",
                       "^[0-9]{1,2}\\\\s+[A-Za-z]+\\\\s+[0-9]{4}$")
    dr_prefix_gate = rl("c.text", "^Dr[.]\\\\s")
    proj_hit_n = proj_hit("n.text")
    snt_text = snt("text")

    # shared record assembly -------------------------------------------------
    clean_name = snt("name_text")
    rec_fields = f"""
    {clean_name} AS recipient,
    concat(funder_scheme, ' ', year, ' - ', {clean_name})
      AS display_name,
    concat({clean_name},
      ' is listed by the American Ornithological Society as a ',
      funder_scheme, ' recipient for ', year, '.',
      CASE WHEN project_title IS NOT NULL
           THEN concat(' Project: ', project_title, '.') ELSE '' END,
      CASE WHEN affil_raw IS NOT NULL
           THEN concat(' Source affiliation/role: ', affil_raw, '.')
           ELSE '' END) AS description,
    substr(md5(concat(year, '|', funder_scheme, '|', {clean_name},
                      '|', coalesce(project_title, ''))), 1, 10)
      AS source_hash"""

    name_toks = filt(
        "split(clean_name_v, ' +')" if sp else
        "regexp_split_to_array(clean_name_v, ' +')", "t <> ''")
    n_toks = ("size" if sp else "len") + f"(({name_toks}))"
    toks_head = (
        f"array_join(slice(({name_toks}), 1, ({n_toks}) - 1), ' ')"
        if sp else
        f"list_aggr(list_slice(({name_toks}), 1, ({n_toks}) - 1), "
        f"'string_agg', ' ')")

    return f"""
aos_hp_raw AS (
  SELECT o_orderkey AS pk, {yh} AS year,
    CASE WHEN o_orderkey % 8 = 0 THEN '{AOS_LACCR_SCHEME}'
         ELSE '{AOS_KESSEL_SCHEME}' END AS default_scheme,
    {hp_name1} AS name1, {hp_name2} AS name2,
    {hp_proj1} AS proj1, {hp_proj2} AS proj2
  FROM orders WHERE o_orderkey % 2 = 0
),
aos_hp_pages AS (
  SELECT pk, year, default_scheme,
    concat('https://americanornithology.org/', year,
           '-research-awards-', {cs('pk')}, '/') AS url,
    concat(year, ' Research Awards - American Ornithological Society')
      AS page_title,
    {filt("nodes_raw", "t IS NOT NULL")} AS nodes
  FROM (SELECT *, {heading_nodes} AS nodes_raw FROM aos_hp_raw) z
),
aos_h_nodes AS (
  SELECT pk, year, default_scheme, url, page_title,
         {idx_expr} AS idx, {tag_expr} AS tag, {text_expr} AS text
  FROM aos_hp_pages{node_lateral}
),
aos_h_pub AS (
  SELECT pk, min_by(text, idx) AS pub_date
  FROM aos_h_nodes
  WHERE idx <= 12 AND {pub_date_gate}
  GROUP BY pk
),
aos_h_marks AS (
  SELECT *,
    CASE WHEN text = {kessel_head} THEN '{AOS_KESSEL_SCHEME}'
         WHEN text = {laccr_head} THEN '{AOS_LACCR_SCHEME}' END
      AS scheme_mark,
    (text IN ({kessel_head}, {laccr_head}, 'Related Posts',
              'Leave a Reply Cancel reply')
     OR text LIKE '2025 Winners%') AS is_skip,
    {snt_text} AS stripped,
    lead(idx) OVER (PARTITION BY pk ORDER BY idx) AS next_h_idx
  FROM aos_h_nodes WHERE tag IN ('h2', 'h3')
),
aos_h_starts0 AS (
  SELECT pk, year, default_scheme, url, page_title, idx AS start_idx,
         coalesce(next_h_idx, 1000000) AS bound_idx,
         stripped AS name_stripped, text AS name_text,
         row_number() OVER (PARTITION BY pk ORDER BY idx)
           AS source_order
  FROM aos_h_marks
  WHERE NOT is_skip
    AND {("size(filter(split(stripped, ' +'), t -> t <> '')) >= 2"
          if sp else
          "len(list_filter(regexp_split_to_array(stripped, ' +'), "
          "t -> t <> '')) >= 2")}
    AND NOT contains(stripped,
                     'American Ornithological Society announces')
),
aos_h_trans AS (
  SELECT pk, idx, scheme_mark FROM aos_h_marks
  WHERE scheme_mark IS NOT NULL
),
aos_h_sch AS (
  SELECT s.pk, s.start_idx,
         {("max_by" if sp else "arg_max")}(t.scheme_mark, t.idx)
           AS running_scheme
  FROM aos_h_starts0 s
  JOIN aos_h_trans t ON t.pk = s.pk AND t.idx < s.start_idx
  GROUP BY s.pk, s.start_idx
),
aos_h_starts AS (
  SELECT s.*, coalesce(c.running_scheme, s.default_scheme)
           AS funder_scheme
  FROM aos_h_starts0 s
  LEFT JOIN aos_h_sch c
    ON c.pk = s.pk AND c.start_idx = s.start_idx
),
aos_h_aff AS (
  SELECT s.*, a.text AS affil_raw
  FROM aos_h_starts s
  LEFT JOIN aos_h_nodes a
    ON a.pk = s.pk AND a.idx = s.start_idx + 1 AND a.tag = 'p'
),
aos_h_proj AS (
  SELECT h.pk, h.start_idx,
         min_by({proj_hit_n}, n.idx) AS project_title
  FROM aos_h_aff h
  JOIN aos_h_nodes n
    ON n.pk = h.pk
   AND n.idx > h.start_idx
     + CASE WHEN h.affil_raw IS NOT NULL THEN 1 ELSE 0 END
   AND n.idx < h.bound_idx
   AND n.tag NOT IN ('h2', 'h3')
  WHERE {proj_hit_n} IS NOT NULL
  GROUP BY h.pk, h.start_idx
),
aos_h_rows AS (
  SELECT h.pk, h.year, h.url, h.page_title, h.funder_scheme,
         h.name_text, h.affil_raw, h.source_order,
         p.project_title,
         pub.pub_date, 'heading' AS walk
  FROM aos_h_aff h
  LEFT JOIN aos_h_proj p
    ON p.pk = h.pk AND p.start_idx = h.start_idx
  LEFT JOIN aos_h_pub pub ON pub.pk = h.pk
),
aos_pp_pages AS (
  SELECT o_orderkey AS pk, {y16} AS year,
    concat('https://americanornithology.org/', {y16},
           '-kessel-winners-', {cs('o_orderkey')}, '/') AS url,
    concat('Kessel Fellowship Winners ', {y16},
           ' - American Ornithological Society') AS page_title,
    {filt("nodes_raw", "t IS NOT NULL")} AS nodes
  FROM (SELECT o_orderkey, {y16} AS year, {para_nodes} AS nodes_raw
        FROM orders WHERE o_orderkey % 2 = 1) z
),
aos_p_nodes AS (
  SELECT pk, year, url, page_title,
         {idx_expr} AS idx, {tag_expr} AS tag, {text_expr} AS text
  FROM aos_pp_pages{node_lateral}
),
aos_p_pub AS (
  SELECT pk, min_by(text, idx) AS pub_date
  FROM aos_p_nodes
  WHERE idx <= 12 AND {pub_date_gate}
  GROUP BY pk
),
aos_p_cands AS (
  SELECT c.pk, c.year, c.url, c.page_title, c.idx,
         substr(c.text, 1, {("instr" if sp else "strpos")}(c.text, ',')
                - 1) AS name_text,
         substr(c.text, {("instr" if sp else "strpos")}(c.text, ',')
                + 1) AS affil_raw,
         {proj_hit("n.text")} AS project_title
  FROM aos_p_nodes c
  LEFT JOIN aos_p_nodes n ON n.pk = c.pk AND n.idx = c.idx + 1
  WHERE c.tag = 'p' AND {dr_prefix_gate}
    AND contains(c.text, ',')
    AND NOT c.text LIKE 'Dr. Brina%'
),
aos_p_rows AS (
  SELECT k.pk, k.year, k.url, k.page_title,
         '{AOS_KESSEL_SCHEME}' AS funder_scheme,
         k.name_text, k.affil_raw,
         row_number() OVER (PARTITION BY k.pk ORDER BY k.idx)
           AS source_order,
         k.project_title, pub.pub_date, 'para' AS walk
  FROM aos_p_cands k
  LEFT JOIN aos_p_pub pub ON pub.pk = k.pk
  WHERE k.project_title IS NOT NULL
),
aos_l_page AS (
  SELECT
    concat('Project title: ', '“Raptor nesting in the pampas”',
           ' Abstract: details follow.') AS ind_text,
    concat('Joint project title: ', '“Shared migration corridors”',
           ' Abstract: joint details.') AS joint_text
  FROM region WHERE r_regionkey = 0
),
aos_l_rows AS (
  SELECT pk, year, url, page_title, funder_scheme, name_text,
         affil_raw, source_order, project_title, pub_date,
         'laccr' AS walk
  FROM (
    {" UNION ALL ".join(
        f'''SELECT CAST(-1 AS BIGINT) AS pk, '2023' AS year,
        'https://americanornithology.org/2023-laccr-grantees/' AS url,
        '2023 LACCR Grantees - American Ornithological Society'
          AS page_title,
        '{AOS_LACCR_SCHEME}' AS funder_scheme,
        '{nm.replace(chr(39), chr(39) * 2)}' AS name_text,
        '{aff.replace(chr(39), chr(39) * 2)}' AS affil_raw,
        {i + 1} AS source_order,
        {proj_hit("joint_text" if kind == "joint" else "ind_text")}
          AS project_title,
        CAST(NULL AS {S}) AS pub_date
        FROM aos_l_page'''
        for i, (nm, aff, kind) in enumerate(AOS_LACCR_2023_SPECS))}
  ) u
),
aos_all AS (
  SELECT * FROM aos_h_rows
  UNION ALL SELECT * FROM aos_p_rows
  UNION ALL SELECT * FROM aos_l_rows
),
aos_rec AS (
  SELECT *, {rec_fields},
    CASE WHEN funder_scheme = '{AOS_KESSEL_SCHEME}' THEN
      CASE WHEN year = '2025' AND contains({clean_name},
                                           'Teresa Pegan')
           THEN '30000' ELSE '15000' END END AS amount,
    CASE WHEN funder_scheme = '{AOS_KESSEL_SCHEME}' THEN 'USD' END
      AS currency
  FROM aos_all
),
aos_named AS (
  SELECT *, recipient AS clean_name_v FROM aos_rec
),
aos_out AS (
  SELECT 'aos' AS member,
    concat('aos-', {slug("funder_scheme")}, '-', year, '-',
           {slug("recipient")}, '-', source_hash) AS funder_award_id,
    {nullcols('slug', 'title')},
    display_name, recipient,
    {nullcols('pi_raw')},
    CASE WHEN ({n_toks}) >= 2 THEN nullif({toks_head}, '') END
      AS given_name,
    CASE WHEN ({n_toks}) >= 1 THEN {elem(f"({name_toks})", f"({n_toks})")} END
      AS family_name,
    {nullcols('credentials')},
    {clean("affil_raw")} AS institution,
    {nullcols('grantee_org', 'prize_name', 'program', 'initiative',
              'funding_program', 'focus_areas', 'topics', 'subject',
              'reference_number', 'grant_administrator',
              'fellowship_program')},
    amount, {nullcols('amount_raw')}, currency,
    {nullcols('period_raw', 'date_raw', 'award_date', 'start_date',
              'end_date', 'start_year', 'end_year')},
    year AS award_year,
    {nullcols('term', 'location', 'geographic_focus')},
    project_title,
    {nullcols('biography')},
    description,
    {nullcols('copi_given_name', 'copi_family_name', 'copi_org',
              'name_slug', 'native_grant_id')},
    url AS landing_page_url,
    CASE WHEN funder_scheme <> '{AOS_KESSEL_SCHEME}'
           THEN '{AOS_LACCR_NOTE}'
         WHEN walk = 'para'
           THEN 'AOS announcement states these Kessel Fellowships were $15,000 each.'
         ELSE 'AOS announcement states one 2025 Arctic Kessel Fellowship was $30,000 and other Kessel Fellowships in this corpus were $15,000.'
      END AS amount_note,
    CASE WHEN funder_scheme <> '{AOS_KESSEL_SCHEME}'
           THEN 'up to $5,000 USD'
         WHEN walk = 'para' THEN '$15,000'
         ELSE 'Kessel announcements publish exact USD amounts.'
      END AS program_amount_text,
    funder_scheme,
    CASE WHEN funder_scheme = '{AOS_KESSEL_SCHEME}'
         THEN 'fellowship' ELSE 'research' END AS funding_type,
    CASE WHEN funder_scheme = '{AOS_KESSEL_SCHEME}'
         THEN '{AOS_KESSEL_URL}' ELSE '{AOS_LACCR_URL}' END
      AS program_url,
    page_title AS source_page_title,
    pub_date AS source_publication_date,
    {cs('source_order')} AS source_order,
    source_hash
  FROM aos_named
)"""


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, cs, bar, elem, filt = k.g, k.cs, k.bar, k.elem, k.filt
    nullcols, rl, rx = k.nullcols, k.rl, k.rx

    def arr_join(a: str, sep: str) -> str:
        if dialect == "spark":
            return f"array_join({a}, '{sep}')"
        return f"list_aggr({a}, 'string_agg', '{sep}')"

    def month_no(x: str) -> str:
        if dialect == "spark":
            return (f"array_position(split('{_MONTHS}', ','), lower({x}))")
        return (f"list_position(str_split('{_MONTHS}', ','), "
                f"lower({x}))")

    def dparse(x: str, fmt_spark: str, fmt_duck: str) -> str:
        if dialect == "spark":
            return (f"date_format(try_to_timestamp({x}, '{fmt_spark}'), "
                    f"'yyyy-MM-dd')")
        return (f"strftime(try_strptime({x}, '{fmt_duck}'), "
                f"'%Y-%m-%d')")

    def split_name(raw: str, suffixes: str, both_ends: bool):
        """(given, family) via the index-transform pop idiom."""
        if dialect == "spark":
            toks = (f"filter(split(coalesce({raw}, ''), '\\\\s+'), "
                    f"x -> x <> '')")

            def idxs(cond: str, agg: str) -> str:
                return (f"{agg}(zip_with(({toks}), sequence(1, "
                        f"size(({toks}))), (t, i) -> CASE WHEN {cond} "
                        f"THEN i END))")
            join_head = "array_join(slice(@T@, @S@, @E@ - @S@), ' ')"
        else:
            toks = (f"list_filter(regexp_split_to_array(coalesce({raw}, "
                    f"''), '\\s+'), x -> x <> '')")

            def idxs(cond: str, agg: str) -> str:
                agg = "list_min" if agg == "min" else "list_max"
                return (f"{agg}(list_transform(({toks}), (t, i) -> "
                        f"CASE WHEN {cond} THEN i END))")
            join_head = "list_aggr(list_slice(@T@, @S@, @E@ - 1), 'string_agg', ' ')"
        tok_norm = "lower(trim(BOTH '.,' FROM t))"
        if dialect == "spark":
            first = (f"coalesce({idxs(f'{tok_norm} NOT IN ({suffixes})', 'array_min')}, "
                     f"size(({toks})) + 1)") if both_ends else "1"
            last = (f"coalesce({idxs(f'{tok_norm} NOT IN ({suffixes})', 'array_max')}, 0)")
        else:
            first = (f"coalesce({idxs(f'{tok_norm} NOT IN ({suffixes})', 'min')}, "
                     f"len(({toks})) + 1)") if both_ends else "1"
            last = (f"coalesce({idxs(f'{tok_norm} NOT IN ({suffixes})', 'max')}, 0)")
        n_kept = f"greatest(({last}) - ({first}) + 1, 0)"
        kept_last = elem(f"({toks})", f"({last})")
        head = (join_head.replace("@T@", f"({toks})")
                .replace("@S@", f"({first})").replace("@E@", f"({last})"))
        given = f"CASE WHEN {n_kept} >= 2 THEN nullif({head}, '') END"
        family = f"CASE WHEN {n_kept} >= 1 THEN {kept_last} END"
        return given, family

    def slugify(x: str) -> str:
        s = (f"regexp_replace(lower(coalesce({x}, '')), '[^a-z0-9]+', "
             f"'-'{g})")
        return f"trim(BOTH '-' FROM {s})"

    ks = cs("o_orderkey")
    # AMOUNT_NUMBER_RE (mott/helmsley/wt): \$\s*([0-9,]+(\.[0-9]+)?)
    _amt_pat = "\\\\$\\\\s*([0-9,]+(?:\\\\.[0-9]+)?)"

    def amt_usd(x: str) -> str:
        hit = rx(f"coalesce({x}, '')", _amt_pat, 1)
        return f"try_cast(replace({hit}, ',', '') AS DOUBLE)"

    # ---- mott -------------------------------------------------------------
    mott_range = ("^([A-Za-z]+ [0-9]{1,2},?\\\\s*[0-9]{4})\\\\s*[–—-]\\\\s*"
                  "([A-Za-z]+ [0-9]{1,2},?\\\\s*[0-9]{4})$")

    def mott_d(x: str) -> str:
        return (f"coalesce({dparse(x, 'MMMM d, yyyy', '%B %d, %Y')}, "
                f"{dparse(x, 'MMMM d yyyy', '%B %d %Y')})")

    mott_p1 = rx("trim(coalesce(mt.period_raw, ''))", mott_range, 1)
    mott_p2 = rx("trim(coalesce(mt.period_raw, ''))", mott_range, 2)
    mott_bare_year = rx("coalesce(mt.period_raw, '')",
                        "(19[0-9]{2}|20[0-9]{2})", 1)
    mott_start = (
        f"CASE WHEN {mott_p1} IS NOT NULL THEN {mott_d(f'trim({mott_p1})')} "
        f"WHEN {mott_d('trim(coalesce(mt.period_raw, ' + chr(39) + chr(39) + '))')} IS NOT NULL "
        f"THEN {mott_d('trim(coalesce(mt.period_raw, ' + chr(39) + chr(39) + '))')} "
        f"WHEN {mott_bare_year} IS NOT NULL "
        f"THEN concat({mott_bare_year}, '-01-01') END")
    mott_end = (f"CASE WHEN {mott_p2} IS NOT NULL "
                f"THEN {mott_d(f'trim({mott_p2})')} END")
    mott_og = ("regexp_replace(coalesce(mt.og_raw, ''), "
               "'\\\\s*\\\\|\\\\s*Mott Foundation\\\\s*$', ''" + g + ")")
    mott_first_seg = f"trim({elem(f'split({mott_og}, ,COMMA,)', '1')})"
    mott_first_seg = mott_first_seg.replace(",COMMA,", "','")
    mott_amt = amt_usd("mt.amount_raw")

    mott = f"""
mt_raw AS (
  SELECT o_orderkey AS k,
    concat('20', lpad({cs('o_orderkey % 27')}, 2, '0'), '-',
           {cs('o_orderkey + 10000')}) AS slug,
    concat('Bridge programme phase ', {ks}) AS title,
    CASE WHEN o_orderkey % 9 = 0 THEN NULL
      WHEN o_orderkey % 9 = 1
        THEN concat('Bridge programme phase ', {ks},
                    ', Env Watch, 2026-', {ks}, ' | Mott Foundation')
      ELSE concat('Recipient Org ', {cs('o_orderkey % 250')},
                  ', Env Watch, 2026-', {ks}, ' | Mott Foundation') END
      AS og_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Environment ', {cs('o_orderkey % 4')}) END AS program,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('One Water ', {cs('o_orderkey % 3')}) END AS initiative,
    CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN concat('$', {cs('o_orderkey % 800 + 100')}, ',000')
      WHEN 2 THEN '$12,500.50' ELSE 'undisclosed' END AS amount_raw,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN concat('June 1, 202', {cs('o_orderkey % 4')},
                         '–May 31, 202', {cs('o_orderkey % 4 + 2')})
      WHEN 2 THEN concat('June 1, 202', {cs('o_orderkey % 4')})
      WHEN 3 THEN concat('FY 201', {cs('o_orderkey % 9')})
      ELSE 'TBD' END AS period_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE 'Detroit, MI, United States' END AS location,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE 'Michigan' END AS geo,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('Supports water infrastructure ', {ks}) END AS desc_ld,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('OG summary of grant ', {ks}) END AS desc_og
  FROM orders
),
{bar("mt_parsed", "mt_raw",
     ["k", "slug", "title", "program", "initiative", "amount_raw",
      "period_raw", "location", "geo", "desc_ld", "desc_og"], [
    ("recipient",
     f"CASE WHEN mt.og_raw IS NOT NULL AND {mott_first_seg} <> '' "
     f"AND {mott_first_seg} <> mt.title THEN {mott_first_seg} END"
     .replace("mt.", "")),
    ("amount", cs(mott_amt).replace("mt.", "")),
    ("start_date", mott_start.replace("mt.", "")),
    ("end_date", mott_end.replace("mt.", "")),
])},
mt_out AS (
  SELECT 'mott' AS member, concat('mott-', slug) AS funder_award_id,
    slug, title, {nullcols('display_name')}, recipient,
    {nullcols('pi_raw', 'given_name', 'family_name', 'credentials',
              'institution', 'grantee_org', 'prize_name')},
    program, initiative,
    {nullcols('funding_program', 'focus_areas', 'topics', 'subject',
              'reference_number', 'grant_administrator',
              'fellowship_program')},
    amount, amount_raw, 'USD' AS currency, period_raw,
    {nullcols('date_raw', 'award_date')},
    start_date, end_date, substr(start_date, 1, 4) AS start_year,
    {nullcols('end_year', 'award_year', 'term')},
    location, geo AS geographic_focus, {nullcols('project_title',
    'biography')},
    coalesce(desc_ld, desc_og) AS description,
    {nullcols('copi_given_name', 'copi_family_name', 'copi_org',
              'name_slug', 'native_grant_id')},
    concat('https://www.mott.org/grants/', slug, '/') AS landing_page_url
  FROM mt_parsed
)"""

    # ---- helmsley ---------------------------------------------------------
    hm_iso = (
        f"CASE WHEN hm.date_raw IS NULL THEN NULL "
        f"WHEN {rl('trim(hm.date_raw)', '^[0-9]{2}[.][0-9]{2}[.][0-9]{4}$')} "
        f"THEN concat(substr(trim(hm.date_raw), 7, 4), '-', "
        f"substr(trim(hm.date_raw), 1, 2), '-', "
        f"substr(trim(hm.date_raw), 4, 2)) "
        f"WHEN {rl('trim(hm.date_raw)', '^[0-9]{1,2}/[0-9]{1,2}/[0-9]{4}$')} "
        f"THEN concat("
        f"{rx('trim(hm.date_raw)', '^[0-9]{1,2}/[0-9]{1,2}/([0-9]{4})$', 1)},"
        f" '-', lpad({rx('trim(hm.date_raw)', '^([0-9]{1,2})/', 1)}, 2, '0'),"
        f" '-', lpad({rx('trim(hm.date_raw)', '^[0-9]{1,2}/([0-9]{1,2})/', 1)}, 2, '0')) "
        f"WHEN {rx('trim(hm.date_raw)', '(19[0-9]{2}|20[0-9]{2})', 1)} "
        f"IS NOT NULL THEN concat("
        f"{rx('trim(hm.date_raw)', '(19[0-9]{2}|20[0-9]{2})', 1)}, "
        f"'-01-01') END")
    hm_amt = amt_usd("hm.amount_raw")

    helmsley = f"""
hm_raw AS (
  SELECT o_orderkey AS k,
    concat('org-', {cs('o_orderkey % 260')}, '-',
           {cs('o_orderkey + 2000')}) AS slug,
    concat('Organisation ', {cs('o_orderkey % 260')}) AS recipient,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN concat('0', {cs('o_orderkey % 9 + 1')}, '.3',
                         {cs('o_orderkey % 2')}, '.201',
                         {cs('o_orderkey % 9')})
      WHEN 2 THEN concat({cs('o_orderkey % 9 + 1')}, '/',
                         {cs('o_orderkey % 28 + 1')}, '/202',
                         {cs('o_orderkey % 4')})
      WHEN 3 THEN concat('around 201', {cs('o_orderkey % 9')})
      ELSE 'n/a' END AS date_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Health Sciences ', {cs('o_orderkey % 5')}) END
      AS program,
    CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN concat('$', {cs('o_orderkey % 900 + 100')}, ',000.00')
      WHEN 2 THEN '$9,761,000.00' ELSE 'n/a' END AS amount_raw,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat({cs('o_orderkey % 48 + 6')}, ' months') END AS term,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE concat('to support project ', {ks}) END AS project_title
  FROM orders
),
{bar("hm_parsed", "hm_raw",
     ["k", "slug", "recipient", "date_raw", "program", "amount_raw",
      "term", "project_title"], [
    ("award_date", hm_iso.replace("hm.", "")),
    ("amount", cs(hm_amt).replace("hm.", "")),
])},
hm_out AS (
  SELECT 'helmsley' AS member, concat('helmsley-', slug)
      AS funder_award_id,
    slug, {nullcols('title')},
    coalesce(project_title, recipient) AS display_name, recipient,
    {nullcols('pi_raw', 'given_name', 'family_name', 'credentials',
              'institution', 'grantee_org', 'prize_name')},
    program, {nullcols('initiative', 'funding_program', 'focus_areas',
                       'topics', 'subject', 'reference_number',
                       'grant_administrator', 'fellowship_program')},
    amount, amount_raw, 'USD' AS currency,
    {nullcols('period_raw')}, date_raw, award_date,
    {nullcols('start_date', 'end_date', 'start_year', 'end_year')},
    substr(award_date, 1, 4) AS award_year, term,
    {nullcols('location', 'geographic_focus')}, project_title,
    {nullcols('biography', 'description', 'copi_given_name',
              'copi_family_name', 'copi_org', 'name_slug')},
    {rx('slug', '-([0-9]+)$', 1)} AS native_grant_id,
    concat('https://helmsleytrust.org/grants/', slug, '/')
      AS landing_page_url
  FROM hm_parsed
)"""

    # ---- fritz_thyssen ------------------------------------------------------
    ft_given, ft_family = split_name("pi_raw", _SUFFIX_A, both_ends=True)
    if dialect == "spark":
        ft_parts = ("filter(ft.parts_raw, x -> x IS NOT NULL "
                    "AND lower(x) <> 'institution')")
    else:
        ft_parts = ("list_filter(ft.parts_raw, x -> x IS NOT NULL "
                    "AND lower(x) <> 'institution')")
    ft_name_pool = (f"CASE CAST(o_orderkey % 4 AS INT) "
                    f"WHEN 0 THEN concat('Prof. Dr. Anna Weber',"
                    f" {cs('o_orderkey % 140')}) "
                    f"WHEN 1 THEN concat('Dr. Hans Mueller-Ludenscheidt',"
                    f" {cs('o_orderkey % 140')}) "
                    f"WHEN 2 THEN concat('Greta', {cs('o_orderkey % 140')}) "
                    f"ELSE concat('Jonas Becker', {cs('o_orderkey % 140')},"
                    f" ' PhD') END")
    if dialect == "spark":
        ft_parts_fixture = (
            f"filter(array(CASE WHEN o_orderkey % 4 = 0 THEN 'Institution' "
            f"END, {ft_name_pool}, CASE WHEN o_orderkey % 3 <> 0 THEN "
            f"concat('Universität ', {cs('o_orderkey % 70')}) END), "
            f"x -> x IS NOT NULL)")
    else:
        ft_parts_fixture = (
            f"list_filter([CASE WHEN o_orderkey % 4 = 0 THEN 'Institution' "
            f"END, {ft_name_pool}, CASE WHEN o_orderkey % 3 <> 0 THEN "
            f"concat('Universität ', {cs('o_orderkey % 70')}) END], "
            f"x -> x IS NOT NULL)")

    fritz = f"""
ft_raw AS (
  SELECT o_orderkey AS k,
    concat('funding-', {ks}) AS slug,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE concat('Projektfoerderung ', {ks}) END AS h1_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('OG Projekt ', {ks}) END AS og_raw,
    {ft_parts_fixture} AS parts_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN NULL
      ELSE concat('Bewilligung | 20', lpad({cs('o_orderkey % 26')}, 2,
                  '0')) END AS bew_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Foerderbereich | Geschichte, Sprache & Kultur ',
                  {cs('o_orderkey % 6')}) END AS foerder_raw
  FROM orders
),
ft_titled AS (
  SELECT *, coalesce(nullif(trim(coalesce(h1_raw, '')), ''),
                     nullif(trim(coalesce(og_raw, '')), '')) AS title,
    {ft_parts.replace('ft.', '')} AS parts
  FROM ft_raw
),
{bar("ft_parsed", "ft_titled", ["k", "slug", "title", "bew_raw",
                                "foerder_raw"], [
    ("pi_raw", elem("parts", "1")),
    ("institution", elem("parts", "2")),
])},
{bar("ft_named", "ft_parsed",
     ["k", "slug", "title", "bew_raw", "foerder_raw", "pi_raw",
      "institution"], [
    ("given_name", ft_given), ("family_name", ft_family),
])},
ft_out AS (
  SELECT 'fritz_thyssen' AS member, concat('ft-', slug)
      AS funder_award_id,
    slug, title, {nullcols('display_name', 'recipient')},
    pi_raw, given_name, family_name, {nullcols('credentials')},
    institution, {nullcols('grantee_org', 'prize_name', 'program',
                           'initiative')},
    CASE WHEN foerder_raw IS NOT NULL AND instr(foerder_raw, '|') > 0
         THEN nullif(trim(substr(foerder_raw,
                                 instr(foerder_raw, '|') + 1)), '') END
      AS funding_program,
    {nullcols('focus_areas', 'topics', 'subject', 'reference_number',
              'grant_administrator', 'fellowship_program', 'amount',
              'amount_raw', 'currency', 'period_raw', 'date_raw',
              'award_date', 'start_date', 'end_date', 'start_year',
              'end_year')},
    CASE WHEN bew_raw IS NOT NULL
         THEN {rx('bew_raw', '([0-9]{4})', 1)} END AS award_year,
    {nullcols('term', 'location', 'geographic_focus', 'project_title',
              'biography', 'description', 'copi_given_name',
              'copi_family_name', 'copi_org', 'name_slug',
              'native_grant_id')},
    concat('https://www.fritz-thyssen-stiftung.de/fundings/', slug, '/')
      AS landing_page_url
  FROM ft_named WHERE title IS NOT NULL
)"""

    # ---- mercator ------------------------------------------------------------
    me_given, me_family = split_name("fellow_name", _SUFFIX_B,
                                     both_ends=False)
    me_period = ("([A-Za-z]+)\\\\s+([0-9]{4})\\\\s*[-–to]+\\\\s*"
                 "([A-Za-z]+)?\\\\s*([0-9]{4})?")
    me_m1 = month_no(rx("coalesce(me.period_raw, '')", me_period, 1))
    me_y1 = rx("coalesce(me.period_raw, '')", me_period, 2)
    me_m2 = month_no(rx("coalesce(me.period_raw, '')", me_period, 3))
    me_y2 = rx("coalesce(me.period_raw, '')", me_period, 4)
    me_bare = rx("coalesce(me.period_raw, '')",
                 "\\\\b(19[0-9]{2}|20[0-9]{2})\\\\b", 1)
    me_matched = rl("coalesce(me.period_raw, '')", me_period)
    me_start = (
        f"CASE WHEN {me_matched} THEN "
        f"CASE WHEN {me_m1} IS NOT NULL AND {me_m1} > 0 "
        f"AND {me_y1} IS NOT NULL THEN concat({me_y1}, '-', "
        f"lpad({cs(me_m1)}, 2, '0'), '-01') "
        f"WHEN {me_y1} IS NOT NULL THEN concat({me_y1}, '-01-01') END "
        f"WHEN {me_bare} IS NOT NULL THEN concat({me_bare}, '-01-01') END")
    me_end = (
        f"CASE WHEN {me_matched} THEN "
        f"CASE WHEN {me_m2} IS NOT NULL AND {me_m2} > 0 "
        f"AND {me_y2} IS NOT NULL THEN concat({me_y2}, '-', "
        f"lpad({cs(me_m2)}, 2, '0'), '-01') "
        f"WHEN {me_y2} IS NOT NULL THEN concat({me_y2}, '-12-31') END END")
    me_sy = (f"CASE WHEN {me_matched} THEN {me_y1} "
             f"WHEN {me_bare} IS NOT NULL THEN {me_bare} END")
    me_ey = f"CASE WHEN {me_matched} THEN {me_y2} END"

    mercator = f"""
me_raw AS (
  SELECT o_orderkey AS k,
    concat('fellow-', {ks}) AS slug,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('Ada Lovelace', {cs('o_orderkey % 160')}, ' PhD')
      WHEN 1 THEN concat('Miriam Tal', {cs('o_orderkey % 160')}, ' Jr.')
      WHEN 2 THEN concat('Okonkwo', {cs('o_orderkey % 160')})
      ELSE concat('Leila Haddad', {cs('o_orderkey % 160')}) END
      AS fellow_name,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('Mercator Fellowship ', {cs('o_orderkey % 4')}) END
      AS fellowship_program,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN concat('October 202', {cs('o_orderkey % 4')},
                         ' - September 202', {cs('o_orderkey % 4 + 1')})
      WHEN 2 THEN concat('January 201', {cs('o_orderkey % 9')},
                         ' - 201', {cs('o_orderkey % 9 + 1')})
      WHEN 3 THEN concat('Spring 202', {cs('o_orderkey % 4')})
      ELSE concat('Octember 202', {cs('o_orderkey % 4')},
                  ' - May 202', {cs('o_orderkey % 4 + 1')}) END
      AS period_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Transnational governance study ', {ks}) END
      AS project_title,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('Biography of fellow ', {ks}) END AS biography
  FROM orders
),
{bar("me_parsed", "me_raw",
     ["k", "slug", "fellow_name", "fellowship_program", "period_raw",
      "project_title", "biography"], [
    ("start_date", me_start.replace("me.", "")),
    ("end_date", me_end.replace("me.", "")),
    ("start_year", me_sy.replace("me.", "")),
    ("end_year", me_ey.replace("me.", "")),
    ("given_name", me_given), ("family_name", me_family),
])},
me_out AS (
  SELECT 'mercator_fellows' AS member,
    concat('mercator-fellow-', slug) AS funder_award_id,
    slug, {nullcols('title', 'display_name')},
    fellow_name AS recipient, fellow_name AS pi_raw,
    given_name, family_name,
    {nullcols('credentials', 'institution', 'grantee_org',
              'prize_name', 'program', 'initiative', 'funding_program',
              'focus_areas', 'topics', 'subject', 'reference_number',
              'grant_administrator')},
    fellowship_program,
    {nullcols('amount', 'amount_raw', 'currency')}, period_raw,
    {nullcols('date_raw', 'award_date')}, start_date, end_date,
    start_year, end_year, {nullcols('award_year', 'term', 'location',
    'geographic_focus')},
    project_title, biography,
    coalesce(biography, project_title) AS description,
    {nullcols('copi_given_name', 'copi_family_name', 'copi_org',
              'name_slug', 'native_grant_id')},
    concat('https://www.stiftung-mercator.de/en/fellows/', slug, '/')
      AS landing_page_url
  FROM me_parsed
)"""

    # ---- novo_nordisk_fonden ------------------------------------------------
    nv_given, nv_family = split_name("name", _SUFFIX_A, both_ends=True)
    nv_prize_pat = "^\\\\s*([^0-9\\\\n]+?)\\\\s*[-–]?\\\\s*([0-9]{4})\\\\s*$"
    nv_seg_head = rx("t", nv_prize_pat, 1)
    nv_seg_cond = (
        f"{rl('t', nv_prize_pat)} AND length(trim({nv_seg_head})) > 3 "
        f"AND NOT contains(lower({nv_seg_head}), lower(name))"
        if dialect == "spark" else
        f"{rl('t', nv_prize_pat)} AND length(trim({nv_seg_head})) > 3 "
        f"AND NOT contains(lower({nv_seg_head}), lower(name))")
    nv_hits = filt("segs", nv_seg_cond)
    nv_letter1 = "substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ', CAST(o_orderkey % 26 AS INT) + 1, 1)"
    nv_letter2 = ("substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
                  "CAST(CAST(floor(o_orderkey / 26.0) AS INT) % 26 AS INT)"
                  " + 1, 1)")

    if dialect == "spark":
        nv_segs_fixture = (
            f"filter(array(name, cred_raw, CASE CAST(k % 5 AS INT) "
            f"WHEN 0 THEN concat('Novo Nordisk Prisen - 20', "
            f"lpad({cs('k % 26')}, 2, '0')) "
            f"WHEN 1 THEN concat('Marie og August Krogh Prisen 20', "
            f"lpad({cs('k % 26')}, 2, '0')) "
            f"WHEN 2 THEN concat(name, ' 2012') "
            f"WHEN 3 THEN 'NN - 2020' ELSE NULL END), "
            f"x -> x IS NOT NULL)")
    else:
        nv_segs_fixture = (
            f"list_filter([name, cred_raw, CASE CAST(k % 5 AS INT) "
            f"WHEN 0 THEN concat('Novo Nordisk Prisen - 20', "
            f"lpad({cs('k % 26')}, 2, '0')) "
            f"WHEN 1 THEN concat('Marie og August Krogh Prisen 20', "
            f"lpad({cs('k % 26')}, 2, '0')) "
            f"WHEN 2 THEN concat(name, ' 2012') "
            f"WHEN 3 THEN 'NN - 2020' ELSE NULL END], "
            f"x -> x IS NOT NULL)")

    novo = f"""
nv_raw AS (
  SELECT o_orderkey AS k,
    concat('Erik ', {nv_letter1}, '. Richter', {nv_letter2})
      AS name,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN concat('Professor of Physiology ',
                         {cs('o_orderkey % 9')})
      WHEN 2 THEN 'Novo Nordisk Fonden info desk'
      ELSE concat('Head of Metabolic Research Unit number ',
                  {cs('o_orderkey % 9')}) END AS cred_candidate,
    CASE WHEN o_orderkey % 2 = 0
      THEN concat('erik-richter-', {ks}, '-20',
                  lpad({cs('o_orderkey % 26')}, 2, '0'))
      ELSE concat('erik-richter-', {ks}) END AS slug
  FROM orders
),
nv_gated AS (
  SELECT *, CASE WHEN cred_candidate IS NULL THEN NULL
    WHEN length(cred_candidate) > 200 THEN NULL
    WHEN contains(lower(cred_candidate), 'fonden')
      OR contains(lower(cred_candidate), 'footer')
      OR contains(lower(cred_candidate), 'info') THEN NULL
    ELSE cred_candidate END AS cred_raw
  FROM nv_raw
),
nv_segged AS (
  SELECT *, {nv_segs_fixture} AS segs FROM nv_gated
),
{bar("nv_parsed", "nv_segged", ["k", "name", "cred_raw", "slug"], [
    ("prize_name", f"trim({rx(elem(nv_hits, '1'), nv_prize_pat, 1)})"),
    ("prize_year", rx(elem(nv_hits, "1"), nv_prize_pat, 2)),
    ("slug_year", rx("slug", "-([0-9]{4})$", 1)),
    ("given_name", nv_given), ("family_name", nv_family),
])},
nv_out AS (
  SELECT 'novo_nordisk_fonden' AS member,
    concat('nnf-', slug) AS funder_award_id,
    slug, {nullcols('title', 'display_name')}, name AS recipient,
    name AS pi_raw, given_name, family_name, cred_raw AS credentials,
    {nullcols('institution', 'grantee_org')}, prize_name,
    {nullcols('program', 'initiative', 'funding_program', 'focus_areas',
              'topics', 'subject', 'reference_number',
              'grant_administrator', 'fellowship_program', 'amount',
              'amount_raw', 'currency', 'period_raw', 'date_raw',
              'award_date', 'start_date', 'end_date', 'start_year',
              'end_year')},
    coalesce(prize_year, slug_year) AS award_year,
    {nullcols('term', 'location', 'geographic_focus', 'project_title',
              'biography', 'description', 'copi_given_name',
              'copi_family_name', 'copi_org')},
    regexp_replace(slug, '-[0-9]{{4}}$', ''{g}) AS name_slug,
    {nullcols('native_grant_id')},
    concat('https://novonordiskfonden.dk/prismodtagere/', slug, '/')
      AS landing_page_url
  FROM nv_parsed
)"""

    # ---- rj_jubileumsfond ------------------------------------------------------
    rj_given, rj_family = split_name("pi_raw", _SUFFIX_A, both_ends=True)
    rj_amt_num = rx("coalesce(rj.amount_raw, '')",
                    "([0-9][0-9,\\\\s]*)", 1)
    rj_amt = (f"try_cast(replace(replace({rj_amt_num}, ',', ''), ' ', '') "
              f"AS DOUBLE)")
    rj_paras_cond = ("length(t) > 100 AND NOT contains(lower(t), "
                     "'request funds') AND NOT contains(lower(t), "
                     "'rj research initiation')")

    rj = f"""
rj_raw AS (
  SELECT o_orderkey AS k,
    concat('grant-', {ks}) AS slug,
    {cs('o_orderkey % 10 + 2015')} AS url_year,
    concat('Historiska studier av ', {ks}) AS title,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN 'Final report'
      WHEN 2 THEN concat('Prof. Ingrid Svensson', {cs('o_orderkey % 170')})
      ELSE concat('Dr. Olof Palme', {cs('o_orderkey % 170')}, ' Berg')
      END AS pi_candidate,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('P2', {cs('o_orderkey % 10')}, '-0',
                  {cs('o_orderkey % 900 + 100')}) END AS reference_number,
    CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN concat('SEK ', {cs('o_orderkey % 900 + 100')}, ',000')
      WHEN 2 THEN concat('1 ', {cs('o_orderkey % 900 + 100')}, ' 000 kr')
      ELSE 'ej angivet' END AS amount_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('RJ Projekt ', {cs('o_orderkey % 4')}) END
      AS funding_program,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('Historia ', {cs('o_orderkey % 5')}) END AS subject,
    CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN {cs('o_orderkey % 10 + 2014')} ELSE 'MMXXI' END
      AS year_field,
    {("filter(array(" if dialect == "spark" else "list_filter([")}
      concat('This project investigates the long-run institutional ',
             'development of Scandinavian archives and their role in ',
             'public memory, case ', {ks}),
      'Short note',
      concat('Applicants may request funds for networks; this ',
             'boilerplate paragraph about how to request funds from ',
             'the foundation repeats on every grant page verbatim.'),
      CASE WHEN o_orderkey % 2 = 0 THEN
        concat('A second substantive paragraph describing methods and ',
               'the archival corpus assembled for the study, variant ',
               {cs('o_orderkey % 7')},
               ', padded to exceed the length gate easily.') END
    {(" ), x -> x IS NOT NULL)" if dialect == "spark"
      else "], x -> x IS NOT NULL)")} AS paras
  FROM orders
),
rj_gated AS (
  SELECT *, CASE WHEN pi_candidate IS NOT NULL
      AND length(pi_candidate) <= 80
      AND NOT {rl('pi_candidate', '^(Final report|Slutredovisning|Bidragsförvaltare)$')}
    THEN pi_candidate END AS pi_raw
  FROM rj_raw
),
{bar("rj_parsed", "rj_gated",
     ["k", "slug", "url_year", "title", "pi_raw", "reference_number",
      "amount_raw", "funding_program", "subject", "year_field"], [
    ("amount", cs(rj_amt).replace("rj.", "")),
    ("description",
     f"substr({arr_join(filt('paras', rj_paras_cond), ' ')}, "
     f"1, 5000)"),
    ("given_name", rj_given), ("family_name", rj_family),
])},
rj_out AS (
  SELECT 'rj_jubileumsfond' AS member,
    CASE WHEN reference_number IS NOT NULL
         AND trim(reference_number) <> ''
      THEN concat('rj-', {slugify('reference_number')}, '-', slug)
      ELSE concat('rj-', slug) END AS funder_award_id,
    slug, title, {nullcols('display_name', 'recipient')},
    pi_raw, given_name, family_name,
    {nullcols('credentials', 'institution', 'grantee_org',
              'prize_name', 'program', 'initiative')},
    funding_program, {nullcols('focus_areas', 'topics')}, subject,
    reference_number, {nullcols('grant_administrator',
                                'fellowship_program')},
    amount, amount_raw,
    CASE WHEN amount IS NOT NULL THEN 'SEK' END AS currency,
    {nullcols('period_raw', 'date_raw', 'award_date', 'start_date',
              'end_date', 'start_year', 'end_year')},
    CASE WHEN year_field IS NOT NULL
         AND {rl('year_field', '^[0-9]+$')} THEN year_field
         ELSE {cs('url_year')} END AS award_year,
    {nullcols('term', 'location', 'geographic_focus', 'project_title',
              'biography')},
    description,
    {nullcols('copi_given_name', 'copi_family_name', 'copi_org',
              'name_slug', 'native_grant_id')},
    concat('https://www.rj.se/en/grants/', {cs('url_year')}, '/', slug,
           '/') AS landing_page_url
  FROM rj_parsed
)"""

    # ---- wt_grant -----------------------------------------------------------------
    wt_given, wt_family = split_name("pi_name", _SUFFIX_B, both_ends=False)
    wt_cg, wt_cf = split_name("copi_name", _SUFFIX_B, both_ends=False)
    wt_period = ("([A-Za-z]+)\\\\s+([0-9]{4})\\\\s*[–—-]\\\\s*"
                 "([A-Za-z]+)\\\\s+([0-9]{4})")
    wt_sy = rx("coalesce(wt.period_raw, '')", wt_period, 2)
    wt_ey = rx("coalesce(wt.period_raw, '')", wt_period, 4)
    wt_bare = rx("coalesce(wt.period_raw, '')",
                 "\\\\b(19[0-9]{2}|20[0-9]{2})\\\\b", 1)
    wt_amt = amt_usd("wt.amount_raw")
    wt_title = ("nullif(trim(regexp_replace(coalesce(wt.og_title, ''), "
                "'\\\\s*[-–—]\\\\s*William T\\\\. Grant Foundation\\\\s*$',"
                " ''" + g + ")), '')")

    wt = f"""
wt_raw AS (
  SELECT o_orderkey AS k,
    concat('grant-', {ks}) AS slug,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL
      ELSE concat('Reducing inequality study ', {ks},
                  ' - William T. Grant Foundation') END AS og_title,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE concat('H1 fallback title ', {ks}) END AS h1_raw,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('How programs shape outcomes, case ', {ks}) END
      AS og_desc,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN concat('Vincent Guilamo-Ramos', {cs('o_orderkey % 180')})
      WHEN 2 THEN concat('Mira Chen', {cs('o_orderkey % 180')}, ' PhD')
      ELSE concat('Kofi', {cs('o_orderkey % 180')}) END AS pi_name,
    CASE WHEN o_orderkey % 4 = 0 OR o_orderkey % 5 = 0 THEN NULL
      ELSE concat('University ', {cs('o_orderkey % 75')}) END AS pi_org,
    CASE WHEN o_orderkey % 6 = 0
      THEN concat('Dana Suskind', {cs('o_orderkey % 180')}, ' MD') END
      AS copi_name,
    CASE WHEN o_orderkey % 6 = 0
      THEN concat('Co-Org ', {cs('o_orderkey % 75')}) END AS copi_org,
    CASE WHEN o_orderkey % 4 = 0
      THEN concat('Grantee Org ', {cs('o_orderkey % 75')}) END
      AS grantee_org_only,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Research Grants on Reducing Inequality ',
                  {cs('o_orderkey % 3')}) END AS program,
    CASE WHEN o_orderkey % 2 = 0 THEN NULL
      ELSE concat('Focus ', {cs('o_orderkey % 4')}) END AS focus_areas,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Topic ', {cs('o_orderkey % 5')}) END AS topics,
    CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN NULL
      WHEN 1 THEN concat('$', {cs('o_orderkey % 500 + 100')}, ',000')
      WHEN 2 THEN '$49,982.25' ELSE 'n/a' END AS amount_raw,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN NULL
      WHEN 1 THEN concat('January 200', {cs('o_orderkey % 9')},
                         ' – December 200', {cs('o_orderkey % 9')})
      WHEN 2 THEN concat('20', lpad({cs('o_orderkey % 26')}, 2, '0'))
      ELSE 'TBD' END AS period_raw
  FROM orders
),
wt_titled AS (
  SELECT *, coalesce({wt_title.replace('wt.', '')},
                     nullif(trim(coalesce(h1_raw, '')), '')) AS title
  FROM wt_raw
),
{bar("wt_parsed", "wt_titled",
     ["k", "slug", "title", "og_desc", "pi_name", "pi_org", "copi_name",
      "copi_org", "grantee_org_only", "program", "focus_areas", "topics",
      "amount_raw", "period_raw"], [
    ("amount", cs(wt_amt).replace("wt.", "")),
    ("start_year",
     f"coalesce({wt_sy.replace('wt.', '')}, {wt_bare.replace('wt.', '')})"),
    ("end_year", wt_ey.replace("wt.", "")),
    ("given_name",
     f"CASE WHEN pi_name IS NOT NULL THEN {wt_given} END"),
    ("family_name",
     f"CASE WHEN pi_name IS NOT NULL THEN {wt_family} END"),
    ("copi_given_name",
     f"CASE WHEN copi_name IS NOT NULL THEN {wt_cg} END"),
    ("copi_family_name",
     f"CASE WHEN copi_name IS NOT NULL THEN {wt_cf} END"),
])},
wt_out AS (
  SELECT 'wt_grant' AS member, slug AS funder_award_id,
    slug, title, {nullcols('display_name', 'recipient')},
    pi_name AS pi_raw, given_name, family_name,
    {nullcols('credentials', 'institution')},
    coalesce(pi_org, grantee_org_only) AS grantee_org,
    {nullcols('prize_name')}, program, {nullcols('initiative',
    'funding_program')},
    focus_areas, topics, {nullcols('subject', 'reference_number',
    'grant_administrator', 'fellowship_program')},
    amount, amount_raw,
    CASE WHEN amount IS NOT NULL THEN 'USD' END AS currency,
    period_raw, {nullcols('date_raw', 'award_date', 'start_date',
    'end_date')},
    start_year, end_year, {nullcols('award_year', 'term', 'location',
    'geographic_focus', 'project_title', 'biography')},
    og_desc AS description,
    copi_given_name, copi_family_name, copi_org,
    {nullcols('name_slug', 'native_grant_id')},
    concat('https://wtgrantfoundation.org/grants/', slug, '/')
      AS landing_page_url
  FROM wt_parsed WHERE title IS NOT NULL
)"""

    # ---- schmidt_sciences (round 14, big-page-inline variant) ---------------
    # scripts/local/schmidt_sciences_to_s3.py:126-344 — the listing's
    # <li> data attributes + the anchor's element-text name walk; HTTP
    # and DOM selection are the seam, the fixture delivers the data-*
    # attributes and the ordered anchor texts.
    # split staged as toks -> keep_last bars so the union's optimized
    # plan text stays bounded (the r12 CollapseProject lesson)
    if dialect == "spark":
        sc_toks_expr = ("filter(split(coalesce(recipient_name, ''), "
                        "'\\\\s+'), x -> x <> '')")
        sc_keep_last = ("coalesce(array_max(zip_with(name_toks, "
                        "sequence(1, size(name_toks)), (t, i) -> "
                        f"CASE WHEN lower(trim(BOTH '.,' FROM t)) "
                        f"NOT IN ({_SUFFIX_B}) THEN i END)), 0)")
        sc_head = ("array_join(slice(name_toks, 1, keep_last - 1), ' ')")
    else:
        sc_toks_expr = ("list_filter(regexp_split_to_array("
                        "coalesce(recipient_name, ''), '\\s+'), "
                        "x -> x <> '')")
        sc_keep_last = ("coalesce(list_max(list_transform(name_toks, "
                        "(t, i) -> CASE WHEN lower(trim(BOTH '.,' "
                        f"FROM t)) NOT IN ({_SUFFIX_B}) THEN i END)), 0)")
        sc_head = ("list_aggr(list_slice(name_toks, 1, keep_last - 1), "
                   "'string_agg', ' ')")
    sc_given = (f"CASE WHEN keep_last >= 2 THEN nullif({sc_head}, '') "
                f"END")
    sc_family = (f"CASE WHEN keep_last >= 1 THEN "
                 f"{elem('name_toks', 'keep_last')} END")
    sc_focus = " ".join(f"WHEN '{slug}' THEN '{disp}'"
                        for slug, disp in SCHMIDT_FOCUS_AREA_DISPLAY)
    if dialect == "spark":
        sc_years = ("filter(transform(split(coalesce(year_raw, ''), "
                    "','), p -> trim(p)), p -> p RLIKE '^[0-9]+$' AND "
                    "try_cast(p AS INT) BETWEEN 1900 AND 2100)")
        sc_ymin = "array_min(transform(years_arr, p -> CAST(p AS INT)))"
        sc_ymax = "array_max(transform(years_arr, p -> CAST(p AS INT)))"
        sc_pick = ("try_element_at(filter(a_texts, t -> t <> '' "
                   "AND (data_program IS NULL OR t <> data_program) "
                   "AND (focus_disp IS NULL OR t <> focus_disp) "
                   "AND ((data_term IS NOT NULL AND lower(t) = data_term)"
                   " OR (length(t) < 80 AND t RLIKE '[A-Za-z]'))), 1)")
        sc_title = ("array_join(transform(split(url_slug, '-'), p -> "
                    "concat(upper(substring(p, 1, 1)), "
                    "lower(substring(p, 2)))), ' ')")
    else:
        sc_years = ("list_filter(list_transform(string_split("
                    "coalesce(year_raw, ''), ','), p -> trim(p)), "
                    "p -> regexp_matches(p, '^[0-9]+$') AND "
                    "try_cast(p AS INT) BETWEEN 1900 AND 2100)")
        sc_ymin = "list_min(list_transform(years_arr, p -> CAST(p AS INT)))"
        sc_ymax = "list_max(list_transform(years_arr, p -> CAST(p AS INT)))"
        sc_pick = ("(list_filter(a_texts, t -> t <> '' "
                   "AND (data_program IS NULL OR t <> data_program) "
                   "AND (focus_disp IS NULL OR t <> focus_disp) "
                   "AND ((data_term IS NOT NULL AND lower(t) = data_term)"
                   " OR (length(t) < 80 AND regexp_matches(t, "
                   "'[A-Za-z]')))))[1]")
        sc_title = ("array_to_string(list_transform(string_split("
                    "url_slug, '-'), p -> concat(upper(substring(p, 1, "
                    "1)), lower(substring(p, 2)))), ' ')")
    sc_arr = ((lambda *i: f"array({', '.join(i)})" if i
               else "slice(array(''), 1, 0)") if dialect == "spark" else
              (lambda *i: f"[{', '.join(i)}]" if i
               else "list_slice([''], 1, 0)"))
    sc_longtext = "'" + "x" * 85 + "'"

    # Every page keys uniquely by construction (the reference RAISES on
    # a funder_award_id collision): a URL-less page takes its slug from
    # the picked name, so every text the walk can pick carries the key.
    # The program and focus-area echoes are the page's OWN attributes
    # (the walk skips them), never a foreign constant it would pick.
    sc_program = ("CASE CAST(o_orderkey % 4 AS INT) "
                  "WHEN 0 THEN NULL WHEN 1 THEN 'AI2050' "
                  "WHEN 2 THEN 'Schmidt Science Polymaths' "
                  "ELSE 'AI in Sci' END")
    sc_slug = ("CASE CAST(o_orderkey % 5 AS INT) "
               "WHEN 0 THEN NULL WHEN 1 THEN 'ai-advanced-computing' "
               "WHEN 2 THEN 'biosciences' WHEN 3 THEN 'climate' "
               "ELSE 'unknown-slug' END")
    sc_term_digits = f"concat('12345 ', {ks})"

    sc = f"""
sc_raw AS (
  SELECT o_orderkey AS k,
    {sc_program} AS data_program,
    {sc_slug} AS focus_slug,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN '' WHEN 1 THEN '2023'
      WHEN 2 THEN '2020, 2021, 2022, 2023'
      WHEN 3 THEN '1850' WHEN 4 THEN 'TBD'
      ELSE ' 2021 , 2024 ' END AS year_raw,
    CASE WHEN o_orderkey % 3 < 2
      THEN concat('https://www.schmidtsciences.org/grantee/jane-doe-',
                  {ks}, '/') END AS grantee_url,
    CASE WHEN o_orderkey % 7 = 3 THEN concat('jane doe ', {ks})
      WHEN o_orderkey % 7 = 6 THEN {sc_term_digits} END AS data_term,
    CASE CAST(o_orderkey % 7 AS INT)
      WHEN 0 THEN {sc_arr(f"coalesce({sc_program}, '')",
                          f"concat('Jane Doe', {ks})")}
      WHEN 1 THEN {sc_arr("''",
                          f"coalesce(CASE {sc_slug} {sc_focus} END, '')",
                          f"concat('Nadia Drake', {ks}, ' PhD')")}
      WHEN 2 THEN {sc_arr(sc_longtext, f"concat('Omar Farah', {ks})")}
      WHEN 3 THEN {sc_arr(f"concat('jane doe ', {ks})")}
      WHEN 4 THEN {sc_arr()}
      WHEN 5 THEN {sc_arr(f"concat('X1 Research Collective ', {ks})")}
      ELSE {sc_arr(sc_term_digits)} END AS a_texts
  FROM orders
),
{bar("sc_focused", "sc_raw", ["k", "data_program", "focus_slug",
                              "year_raw", "grantee_url", "data_term",
                              "a_texts"], [
    ("focus_disp", f"CASE focus_slug {sc_focus} END"),
    ("url_slug", rx("coalesce(grantee_url, '')",
                    "/grantee/([^/]+)/?", 1)),
    ("years_arr", sc_years),
])},
{bar("sc_named", "sc_focused", ["k", "data_program", "focus_slug",
                                "year_raw", "grantee_url", "data_term",
                                "focus_disp", "url_slug"], [
    ("recipient_name", f"coalesce({sc_pick}, "
                       f"CASE WHEN url_slug IS NOT NULL "
                       f"THEN {sc_title} END)"),
    ("start_year_i", sc_ymin),
    ("end_year_i", sc_ymax),
])},
sc_kept AS (
  SELECT * FROM sc_named WHERE recipient_name IS NOT NULL
),
{bar("sc_toks", "sc_kept", ["k", "data_program", "focus_slug",
                            "year_raw", "grantee_url", "data_term",
                            "focus_disp", "url_slug", "recipient_name",
                            "start_year_i", "end_year_i"], [
    ("name_toks", sc_toks_expr),
])},
{bar("sc_split", "sc_toks", ["k", "data_program", "focus_slug",
                             "year_raw", "grantee_url", "data_term",
                             "focus_disp", "url_slug", "recipient_name",
                             "start_year_i", "end_year_i",
                             "name_toks"], [
    ("keep_last", sc_keep_last),
])},
sc_out AS (
  SELECT 'schmidt_sciences' AS member,
    concat('schmidt-', {cs('coalesce(start_year_i, 0)')}, '-',
           CASE WHEN data_program IS NULL THEN 'none'
             ELSE {slugify('data_program')} END, '-',
           coalesce(url_slug, {slugify('recipient_name')}))
      AS funder_award_id,
    coalesce(url_slug, {slugify('recipient_name')}) AS slug,
    {nullcols('title', 'display_name')},
    recipient_name AS recipient,
    {nullcols('pi_raw')},
    {sc_given} AS given_name,
    {sc_family} AS family_name,
    {nullcols('credentials', 'institution', 'grantee_org',
              'prize_name')},
    data_program AS program,
    {nullcols('initiative', 'funding_program')},
    focus_disp AS focus_areas,
    {nullcols('topics')},
    focus_slug AS subject,
    {nullcols('reference_number', 'grant_administrator',
              'fellowship_program', 'amount', 'amount_raw',
              'currency')},
    nullif(year_raw, '') AS period_raw,
    {nullcols('date_raw', 'award_date', 'start_date', 'end_date')},
    {cs('start_year_i')} AS start_year,
    {cs('end_year_i')} AS end_year,
    {nullcols('award_year')},
    data_term AS term,
    {nullcols('location', 'geographic_focus', 'project_title',
              'biography', 'description', 'copi_given_name',
              'copi_family_name', 'copi_org', 'name_slug',
              'native_grant_id')},
    grantee_url AS landing_page_url
  FROM sc_split
)"""

    aos = _aos_arm(dialect)
    aos_nulls = nullcols(*_AOS_EXTRA_COLS)
    aos_extras = ", ".join(_AOS_EXTRA_COLS)

    return f"""
WITH {mott},{helmsley},{fritz},{mercator},{novo},{rj},{wt},{sc},{aos}
SELECT {_COLS}, {aos_extras} FROM aos_out
UNION ALL SELECT {_COLS}, {aos_nulls} FROM mt_out
UNION ALL SELECT {_COLS}, {aos_nulls} FROM hm_out
UNION ALL SELECT {_COLS}, {aos_nulls} FROM ft_out
UNION ALL SELECT {_COLS}, {aos_nulls} FROM me_out
UNION ALL SELECT {_COLS}, {aos_nulls} FROM nv_out
UNION ALL SELECT {_COLS}, {aos_nulls} FROM rj_out
UNION ALL SELECT {_COLS}, {aos_nulls} FROM wt_out
UNION ALL SELECT {_COLS}, {aos_nulls} FROM sc_out
"""


@register(
    "method5_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders", "region"),
    doc=("Method-5 static-HTML scraper family (scripts/local/{mott,"
         "helmsley,fritz_thyssen,mercator_fellows,novo_nordisk_fonden,"
         "rj_jubileumsfond,wt_grant,aos_research_awards}_to_s3.py)"),
    spread=("orders",),
)
def method5_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nine method-5 publishers in one union plan (module docstring
    has the per-member semantics map).  Scan arms behind Generate
    barriers; slugs are unique by construction (the references RAISE on
    collision) so the only exchanges are the AOS arm's per-page
    windows — plus the round-robin spread exchange under each arm's
    single-row-group fixture scan (``spread`` in ``register``)."""
    return spark.sql(sqlkit.build(_sql, "spark"))
