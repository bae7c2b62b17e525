"""Fellowship-directory parse family
(scripts/local/{guggenheim,radcliffe,scas_former_fellows,hertz,
lister}_to_s3.py — 5 scripts, the fellows-listing skeleton; the SCAS,
Hertz and Lister arms' semantics maps live on :func:`_scas_arm` /
:func:`_hertz_arm` / :func:`_lister_arm`).

Both scrape a fellows directory (pagination/card regexes = seam; the
fixture delivers the extracted slug/name/year card fields) and share
the PARTICLE-AWARE name split (guggenheim_to_s3.py:219-236 /
radcliffe_to_s3.py:248-265): the usual tail suffix pop (phd/md/jr/…,
lowercased and ','/'.'-stripped), then the family start walks LEFT
while the preceding token is one of the 23 name particles (von, van,
der, de, del, della, di, da, dos, das, le, la, du, do, ten, ter, zu,
af, al, bin, ibn, st, st.) and at least one given token remains — so
'Ludwig van der Rohe' splits ('Ludwig', 'van der Rohe').  Ported
compute per member:

* **guggenheim** (:165-262): card fields = slug/name/year, the name
  HTML-unescaped; slug+name required; funder_award_id = slug; year
  int-coerced with a junk-to-NULL try; landing
  'https://www.gf.org/fellows/{slug}/'; directory pages dedup per
  slug (the fixture keys slugs uniquely — validate RAISES on
  collision);
* **radcliffe** (:178-288): per-cohort pagination dedups on
  (slug, cohort year) with keep-first (exercised by the fixture);
  funder_award_id = '{slug}-{year}' when a year exists else the bare
  slug; landing 'https://www.radcliffe.harvard.edu/people/{slug}'.

Both stringify all columns.  Plan: 2 scan arms behind Generate
barriers + the radcliffe (slug, year) keep-first window.  No Python.

tests/test_template_fidelity.py re-derives both members.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_SUFFIXES = "'phd','md','dphil','dsc','scd','jr','sr','ii','iii','iv'"
_PARTICLES = ("'von','van','der','den','de','del','della','di','da',"
              "'dos','das','le','la','du','do','ten','ter','zu','af',"
              "'al','bin','ibn','st','st.'")


# scas_former_fellows_to_s3.py:122-145 — the term-word vocabulary
# (seasons + month words) behind final_parenthetical / split_terms
_SCAS_TERM_WORDS = (
    "spring", "autumn", "fall", "winter", "summer", "jan", "january",
    "feb", "february", "march", "april", "may", "june", "july", "aug",
    "august", "sept", "september", "oct", "october", "nov", "november",
    "dec", "december",
)

# the scas arm's columns beyond the gg/rc trio's shared set
_SCAS_EXTRA_COLS = (
    "source_record_id", "source_section", "section_label",
    "scheme_label", "funding_type", "display_name", "description",
    "affiliation", "term", "term_sequence", "end_year", "start_date",
    "end_date", "amount", "currency", "profile_url", "source_url",
    "source_page_title", "source_page_year_range",
)
_SCAS_EXTRAS = ", ".join(_SCAS_EXTRA_COLS)
_SCAS_NULLS = ", ".join(
    f"CAST(NULL AS STRING) AS {c}" for c in _SCAS_EXTRA_COLS)

# the hertz arm's columns beyond those (round 11)
_HZ_EXTRA_COLS = ("current_position", "expertise", "thumbnail_url",
                  "declined")
_HZ_EXTRAS = ", ".join(_HZ_EXTRA_COLS)
_HZ_NULLS = ", ".join(
    f"CAST(NULL AS STRING) AS {c}" for c in _HZ_EXTRA_COLS)

# hertz_to_s3.py:393-397 — degree suffixes, compared CASE-SENSITIVELY
# after rstrip('.') (Esq included; lowercase 'phd' does NOT match)
HERTZ_DEGREES = ("PhD", "Ph.D", "MD", "M.D", "DPhil", "ScD", "Jr",
                 "Sr", "II", "III", "IV", "Esq")
HERTZ_AMOUNT_USD = 250000.0


def _hertz_arm(dialect: str) -> str:
    """The Hertz Foundation fellows-directory arm
    (scripts/local/hertz_to_s3.py:283-525, FacetWP method-3, round 11).

    The FacetWP pagination and card regexes are the seam — the fixture
    delivers each card's (slug, full_name, fellowship_year,
    current_position, expertise tags, profile/thumbnail urls).  Ported
    compute: the keep-first slug dedup (:437-443, feed order), the
    runbook §2.4.1 split_name variant (';'->',' first-comma-part,
    CASE-SENSITIVE degree pop incl. Esq, single token -> family only —
    the OPPOSITE of the scas split), the 'hertz-{{slug}}-{{year}}' id
    (collision RAISE = validation the fixture satisfies), the
    'Hertz Fellowship — {{name}} ({{year}})' display render, the
    position + 'Field(s): ' expertise description join ('|' -> ', '),
    the constant USD 250,000 amount, the {{year}}-01-01 /
    {{year+4}}-12-31 five-year-ceiling dates, declined='False', and
    the astype('string') renders (amount ships '250000.0').
    """
    sp = dialect == "spark"
    k = sqlkit.kit(dialect)
    S, cs, bar, elem = k.S, k.cs, k.bar, k.elem
    null_s = f"CAST(NULL AS {S})"
    if sp:
        toks = "filter(split(base_name, ' +'), x -> x <> '')"
        keep = (f"coalesce(array_max(zip_with(({toks}), "
                f"sequence(1, size(({toks}))), (t, i) -> "
                f"CASE WHEN trim(TRAILING '.' FROM t) NOT IN "
                f"({', '.join(repr(d) for d in HERTZ_DEGREES)}) "
                f"THEN i END)), 0)")
        head = f"array_join(slice(({toks}), 1, ({keep}) - 1), ' ')"
    else:
        toks = ("list_filter(regexp_split_to_array(base_name, ' +'), "
                "x -> x <> '')")
        keep = (f"coalesce(list_max(list_transform(({toks}), "
                f"(t, i) -> CASE WHEN trim(TRAILING '.' FROM t) NOT IN "
                f"({', '.join(repr(d) for d in HERTZ_DEGREES)}) "
                f"THEN i END)), 0)")
        head = (f"list_aggr(list_slice(({toks}), 1, ({keep}) - 1), "
                f"'string_agg', ' ')")
    base_name = (
        "trim(" + elem(
            ("filter(split(replace(full_name, ';', ','), ','), "
             "x -> true)" if sp else
             "list_filter(regexp_split_to_array(replace(full_name, "
             "';', ','), ','), x -> true)"), "1") + ")")
    amount_s = repr(str(HERTZ_AMOUNT_USD))
    hz_display = ("concat('Hertz Fellowship — ', full_name, ' (', "
                  + cs("fyear") + ", ')')")
    hz_desc = (
        "CASE WHEN current_position IS NOT NULL AND expertise IS NOT "
        "NULL THEN concat(current_position, '. Field(s): ', "
        "replace(expertise, '|', ', ')) "
        "WHEN current_position IS NOT NULL THEN current_position "
        "WHEN expertise IS NOT NULL THEN concat('Field(s): ', "
        "replace(expertise, '|', ', ')) END")
    hz_named = bar("hz_named", "hz_dedup",
                   ["k", "slug", "full_name", "fyear",
                    "current_position", "expertise", "thumbnail_url"], [
        ("hz_base", base_name),
        ("hz_display", hz_display),
        ("hz_desc", hz_desc),
    ])
    return f"""
hz_raw AS (
  SELECT o_orderkey AS k,
    concat('fellow-', {cs("o_orderkey - CASE WHEN o_orderkey % 17 = 0 THEN 1 ELSE 0 END")})
      AS slug,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('Erich Jarvis', {cs('o_orderkey')}, ', PhD')
      WHEN 1 THEN concat('Ana María Rey', {cs('o_orderkey')})
      WHEN 2 THEN concat('John Smith', {cs('o_orderkey')}, ' Jr.')
      WHEN 3 THEN concat('Cher', {cs('o_orderkey')})
      ELSE concat('Robert Oppenheimer', {cs('o_orderkey')}, ', Esq.')
      END AS full_name,
    CAST(1963 + o_orderkey % 62 AS INT) AS fyear,
    CASE WHEN o_orderkey % 6 = 0 THEN {null_s}
      ELSE concat('Professor of Physics, MIT ',
                  {cs('o_orderkey % 30')}) END AS current_position,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN {null_s}
      WHEN 1 THEN 'Applied Physics'
      WHEN 2 THEN concat('Biophysics|Neuroscience ',
                         {cs('o_orderkey % 9')})
      ELSE 'AI|Quantum Computing|Materials' END AS expertise,
    CASE WHEN o_orderkey % 3 = 0 THEN {null_s}
      ELSE concat('https://cdn.hertzfoundation.org/thumb',
                  {cs('o_orderkey')}, '.jpg') END AS thumbnail_url
  FROM orders
),
hz_dedup AS (
  -- seen_slugs keep-first in feed order (hertz_to_s3.py:437-443)
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY slug ORDER BY k) AS rn
    FROM hz_raw
  ) d WHERE rn = 1
),
{hz_named},
hz_out AS (
  SELECT 'hertz' AS member,
    concat('hertz-', slug, '-', {cs('fyear')}) AS funder_award_id,
    slug, full_name AS fellow_name,
    CASE WHEN ({keep.replace('base_name', 'hz_base')}) >= 2
         THEN nullif({head.replace('base_name', 'hz_base')}, '') END
      AS given_name,
    CASE WHEN ({keep.replace('base_name', 'hz_base')}) >= 1
         THEN {elem(f"({toks.replace('base_name', 'hz_base')})", f"({keep.replace('base_name', 'hz_base')})")} END
      AS family_name,
    {cs('fyear')} AS start_year,
    CAST(NULL AS {S}) AS landing_page_url,
    {_SCAS_NULLS.replace(
        "CAST(NULL AS STRING) AS display_name",
        "hz_display AS display_name").replace(
        "CAST(NULL AS STRING) AS description",
        "hz_desc AS description").replace(
        "CAST(NULL AS STRING) AS start_date",
        "concat(" + cs("fyear") + ", '-01-01') AS start_date").replace(
        "CAST(NULL AS STRING) AS end_date",
        "concat(" + cs("fyear + 4") + ", '-12-31') AS end_date").replace(
        "CAST(NULL AS STRING) AS amount",
        amount_s + " AS amount").replace(
        "CAST(NULL AS STRING) AS currency",
        "'USD' AS currency").replace(
        "CAST(NULL AS STRING) AS profile_url",
        "concat('https://www.hertzfoundation.org/people/', slug, '/') "
        "AS profile_url")},
    current_position, expertise, thumbnail_url,
    'False' AS declined
  FROM hz_named
)"""


def _scas_arm(dialect: str) -> str:
    """The SCAS former-fellows arm (scripts/local/
    scas_former_fellows_to_s3.py:169-575, round 11).

    The fixture delivers each flushed record buffer as an ordered line
    array (the page-level SEGMENTATION — heading transitions, the
    stop-section, between-record index letters, and the
    flush-on-qualifying-final-parenthetical rule — is replayed
    line-for-line by the fidelity test's Python state machine; the SQL
    consumes the per-record arrays and still applies the IN-RECORD
    skip rules and the non-qualifying-parenthetical gate).  Ported
    compute: in-record skip lines (:291-302), name = first line
    rstrip ' ,', affiliation = remaining lines joined with the final
    term stripped and ', '-lstripped (:414-436), final-parenthetical
    term text, the split_terms grammar (:321-366 — semicolon-major,
    the bare-year and term-word+year comma attachment rules, the
    ' and '-split-when-both-termish rule; fixture bounds each
    semicolon part to <=2 comma parts, which covers every rule),
    parsed_years (:369-390 — dash normalization over the U+2010-2015
    range, the 2-digit end-year century fill with the +100 wrap, and
    min/max against every other year in the term), Jan-1/Dec-31 date
    bounds, the suffix-pop name split whose SINGLE-token case yields
    (given, NULL) — the opposite of the radcliffe particle split —
    and the 'scas-{{section}}-{{years}}-{{nameslug}}-{{termslug}}-
    {{id12}}' id scheme.  DEVIATIONS (documented): the 12-hex record
    id uses md5 instead of the reference's sha1 (DuckDB has no sha1 —
    the established trade), and the NFKD accent fold in slugify is a
    translate() over the fixture's accent set.  retrieved_at /
    source_html_sha256 are runtime seams, not emitted.
    """
    sp = dialect == "spark"
    k = sqlkit.kit(dialect)
    g, S, cs, arr, asize, elem = k.g, k.S, k.cs, k.arr, k.asize, k.elem
    rl, rxall, sl = k.rl, k.rxall, k.sl
    if sp:
        def tr(a: str, lam: str) -> str:
            return f"transform({a}, {lam})"

        def fl(a: str, lam: str) -> str:
            return f"filter({a}, {lam})"

        amin, amax = "array_min", "array_max"
        ajoin = lambda a, sep: f"array_join({a}, '{sep}')"  # noqa: E731
        sc_lateral = "\n  LATERAL VIEW posexplode(terms) sc_l AS tseq0, term"
        sc_term, sc_tseq = "term", "CAST(tseq0 + 1 AS INT)"
    else:
        def tr(a: str, lam: str) -> str:
            return f"list_transform({a}, {lam})"

        def fl(a: str, lam: str) -> str:
            return f"list_filter({a}, {lam})"

        amin, amax = "list_min", "list_max"
        ajoin = lambda a, sep: (  # noqa: E731
            f"list_aggr({a}, 'string_agg', '{sep}')")
        sc_lateral = ("\n  CROSS JOIN UNNEST(list_transform(terms, "
                      "(t, i) -> {'i': i, 'cell': t})) AS sc_l(u)")
        sc_term, sc_tseq = "u.cell", "CAST(u.i AS INT)"

    term_alt = "|".join(_SCAS_TERM_WORDS)
    # YEAR_RE without lookarounds (RE2): boundary classes; the fixture
    # has no >=5-digit runs, so the plain-class form is exact
    has_year = lambda x: rl(  # noqa: E731
        x, "(^|[^0-9])[0-9][0-9][0-9][0-9]([^0-9]|$)")
    has_term = lambda x: rl(f"lower({x})", term_alt)  # noqa: E731
    termish = lambda x: f"({has_year(x)} OR {has_term(x)})"  # noqa: E731

    # ---- fixture: one flushed record buffer per orders row ------------
    n190 = cs("o_orderkey % 190")
    name_pool = f"""CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat('Erik Larsson', {n190})
      WHEN 1 THEN concat('Maria Gonzalez', {n190}, ' PhD')
      WHEN 2 THEN concat('Mononym', {n190})
      WHEN 3 THEN concat('S', 'ören Lindén', {n190}, ' Jr.')
      ELSE concat('Anna-Karin Blom', {n190}) END"""
    y = "CAST(1985 + o_orderkey % 30 AS INT)"
    term_text = f"""CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN concat({cs(y)},
                         CASE WHEN o_orderkey % 3 = 0 THEN '–'
                              ELSE '-' END, {cs(f'({y}) + 1')})
      WHEN 1 THEN concat('Autumn ', {cs(y)})
      WHEN 2 THEN concat('Spring ', {cs(y)}, '; Autumn ',
                         {cs(f'({y}) + 2')})
      WHEN 3 THEN concat({cs(y)}, '-',
                         lpad({cs(f'(({y}) + 1) % 100')}, 2, '0'))
      WHEN 4 THEN concat('Autumn, ', {cs(y)})
      ELSE concat('Spring and Autumn ', {cs(y)}) END"""

    # ---- record parse ---------------------------------------------------
    # in-record skip rules (:291-302; the single-index-letter rule is
    # between-records only and lives in the fidelity replay)
    skip = ("(lower(t) LIKE 'see the bottom of the page%' OR "
            "lower(t) LIKE 'former short-term researchers/%' OR "
            "(contains(lower(t), 'visiting fellowship programme') AND "
            f"NOT {has_year('t')}))")
    clean = lambda x: (  # noqa: E731
        f"nullif(trim(regexp_replace({x}, '\\\\s+', ' '"
        + g + ")), '')")
    joined = clean(ajoin("lines", " "))
    rt = (lambda x, cset: f"trim(TRAILING '{cset}' FROM {x})") if sp \
        else (lambda x, cset: f"rtrim({x}, '{cset}')")
    lt = (lambda x, cset: f"trim(LEADING '{cset}' FROM {x})") if sp \
        else (lambda x, cset: f"ltrim({x}, '{cset}')")
    name_expr = clean(rt(elem("lines", "1"), " ,"))
    affil_all = clean(
        "regexp_replace(" + ajoin(
            sl("lines", "2", f"{asize('lines')} - 1"), " ")
        + ", '\\\\s*[(][^()]*[)]\\\\s*$', '')")
    affil = f"nullif({lt(affil_all, ' ,')}, '')"

    # split_terms (:321-366), fixture-bounded to <=2 comma parts
    semis = fl(tr("split(term_text, '\\\\s*;\\\\s*')"
                  if sp else
                  "regexp_split_to_array(term_text, '\\\\s*;\\\\s*')",
                  "s -> trim(s)"), "s -> s <> ''")
    cps = fl(tr("split(s, ',')" if sp else
                "regexp_split_to_array(s, ',')",
                "p -> trim(p)"), "p -> p <> ''")
    p1, p2 = elem("cps", "1"), elem("cps", "2")
    comma_terms = f"""CASE
      WHEN {asize('cps')} = 2 AND {rl(p2, '^[0-9][0-9][0-9][0-9]$')}
           AND NOT {has_year(p1)}
        THEN {arr(f"concat({p1}, ', ', {p2})")}
      WHEN {asize('cps')} = 2 AND NOT {has_year(p1)} AND {has_term(p1)}
           AND {has_year(p2)}
        THEN {arr(f"concat({p1}, ' ', regexp_extract({p2}, '([0-9][0-9][0-9][0-9])', 1))")}
      ELSE cps END"""
    # lambdas cannot carry subqueries — inline the cps expression
    comma_terms_inline = comma_terms.replace("cps", f"({cps})")
    and_parts = fl(tr("split(v, '(?i)\\\\s+and\\\\s+')" if sp else
                      "regexp_split_to_array(v, '(?i)\\\\s+and\\\\s+')",
                      "x -> trim(x)"), "x -> x <> ''")
    ap1, ap2 = elem(f"({and_parts})", "1"), elem(f"({and_parts})", "2")
    and_split = (f"CASE WHEN {asize(f'({and_parts})')} = 2 AND "
                 f"{termish(ap1)} AND {termish(ap2)} "
                 f"THEN ({and_parts}) ELSE {arr('v')} END")
    terms_expr = (
        "flatten(" + tr(
            "flatten(" + tr(f"({semis})", f"s -> {comma_terms_inline}")
            + ")",
            f"v -> {and_split}")
        + ")")

    # parsed_years (:369-390)
    norm = "translate(term_one, '‐‑‒–—―', '------')"
    rng_pat = ("(^|[^0-9])([0-9][0-9][0-9][0-9])\\\\s*-\\\\s*"
               "([0-9][0-9][0-9][0-9]|[0-9][0-9])([^0-9]|$)")
    rs = f"nullif(regexp_extract({norm}, '{rng_pat}', 2), '')"
    re_raw = f"nullif(regexp_extract({norm}, '{rng_pat}', 3), '')"
    years_all = tr(rxall(norm, "([0-9][0-9][0-9][0-9])", 1),
                   "x -> CAST(x AS INT)")
    y_lo, y_hi = f"{amin}(({years_all}))", f"{amax}(({years_all}))"
    rng_end = (f"CASE WHEN length(re_raw) = 2 THEN "
               f"CAST(concat(substr(rs, 1, 2), re_raw) AS INT) + "
               f"CASE WHEN CAST(concat(substr(rs, 1, 2), re_raw) AS INT)"
               f" < CAST(rs AS INT) THEN 100 ELSE 0 END "
               f"ELSE CAST(re_raw AS INT) END")
    start_year = (f"CASE WHEN rs IS NOT NULL THEN "
                  f"least(CAST(rs AS INT), y_lo) ELSE y_lo END")
    end_year = (f"CASE WHEN rs IS NOT NULL THEN "
                f"greatest(rng_end_i, y_hi) ELSE y_hi END")

    # slugify (:184-189) — NFKD fold via translate over the fixture's
    # accent set, then the non-alnum collapse and the two strips
    def slug(x: str, maxlen: int) -> str:
        # NFKD+ascii-ignore: accents fold to their base letter, but
        # NON-decomposable chars (the unicode dashes) are DELETED
        # outright — translate's to-string being shorter deletes the
        # tail chars, exactly the ascii-ignore behavior
        folded = f"translate(lower({x}), 'éöåüá‐‑‒–—―', 'eoaua')"
        s1 = (f"trim(BOTH '-' FROM regexp_replace({folded}, "
              f"'[^a-z0-9]+', '-'" + g + "))")
        s2 = f"trim(BOTH '-' FROM substr({s1}, 1, {maxlen}))"
        return f"coalesce(nullif({s2}, ''), 'unknown')"

    # suffix-pop name split; single token -> (given, NULL) (:191-201)
    split_name_expr = ("split(coalesce(name, ''), ' +')" if sp else
                       "regexp_split_to_array(coalesce(name, ''), ' +')")
    toks = fl(split_name_expr, "x -> x <> ''")
    sfx = "'phd','md','dphil','dsc','scd','jr','sr','ii','iii','iv'"
    if sp:
        last_keep = (f"coalesce(array_max(zip_with(({toks}), "
                     f"sequence(1, size(({toks}))), (t, i) -> "
                     f"CASE WHEN lower(trim(BOTH '.,' FROM t)) "
                     f"NOT IN ({sfx}) THEN i END)), 0)")
        head_join = (f"array_join(slice(({toks}), 1, ({last_keep}) - 1),"
                     f" ' ')")
    else:
        last_keep = (f"coalesce(list_max(list_transform(({toks}), "
                     f"(t, i) -> CASE WHEN lower(trim(BOTH '.,' FROM t))"
                     f" NOT IN ({sfx}) THEN i END)), 0)")
        head_join = (f"list_aggr(list_slice(({toks}), 1, ({last_keep}) "
                     f"- 1), 'string_agg', ' ')")
    sc_given = (f"CASE WHEN ({last_keep}) = 1 THEN "
                + elem(f"({toks})", "1")
                + f" WHEN ({last_keep}) >= 2 THEN nullif({head_join}, '')"
                  f" END")
    sc_family = (f"CASE WHEN ({last_keep}) >= 2 THEN "
                 + elem(f"({toks})", f"({last_keep})") + " END")

    seed = ("concat_ws('|', source_section, name, coalesce(affil, ''), "
            "term_one, " + cs("tseq") + ")")
    id12 = f"substr(md5({seed}), 1, 12)"

    return f"""
sc_raw AS (
  SELECT o_orderkey AS k,
    CASE WHEN o_orderkey % 2 = 0 THEN 'fellow_in_residence'
         ELSE 'short_term_researcher' END AS source_section,
    CASE WHEN o_orderkey % 6 = 0
         THEN concat({name_pool}, ',') ELSE {name_pool} END
      AS name_line,
    {arr(
        "CASE WHEN o_orderkey % 7 = 0 THEN 'See the bottom of the page for details' END",
        f"concat('University of Uppsala ', {cs('o_orderkey % 40')}, ',')",
        "CASE WHEN o_orderkey % 11 = 0 THEN 'Research fellow (on leave)' END",
        f"CASE WHEN o_orderkey % 3 = 0 THEN concat('Department ', {cs('o_orderkey % 12')}) END",
        "CASE WHEN o_orderkey % 13 = 0 THEN 'Visiting Fellowship Programme participant' END")}
      AS affil_lines,
    {term_text} AS term_text_raw,
    CASE WHEN o_orderkey % 4 = 0 THEN CAST(NULL AS {S})
         ELSE concat('https://www.swedishcollegium.se/fellow/',
                     {cs('o_orderkey')}) END AS profile_url
  FROM orders
),
sc_lines AS (
  SELECT k, source_section, profile_url, term_text_raw,
         {fl("raw_lines", f"t -> t IS NOT NULL AND NOT {skip}")} AS lines
  FROM (
    SELECT *,
      {("concat(array(name_line), affil_lines, array(concat('Sweden (', term_text_raw, ')')))"
        if sp else
        "list_concat(list_concat([name_line], affil_lines), [concat('Sweden (', term_text_raw, ')')])")}
        AS raw_lines
    FROM sc_raw
  ) z
),
sc_rec AS (
  SELECT k, source_section, profile_url,
         {name_expr} AS name,
         {affil} AS affil,
         regexp_extract({joined}, '[(]([^()]*)[)]\\\\s*$', 1)
           AS term_text
  FROM sc_lines
),
sc_terms AS (
  SELECT *, {terms_expr} AS terms
  FROM (SELECT k, source_section, profile_url, name, affil,
               term_text FROM sc_rec) r
),
sc_expl AS (
  SELECT k, source_section, profile_url, name, affil,
         {sc_term} AS term_one, {sc_tseq} AS tseq
  FROM sc_terms{sc_lateral}
),
sc_years AS (
  SELECT *, CASE WHEN rs IS NOT NULL THEN {rng_end} END AS rng_end_i
  FROM (
    SELECT *, {rs} AS rs, {re_raw} AS re_raw,
           {y_lo} AS y_lo, {y_hi} AS y_hi
    FROM sc_expl
  ) b
),
sc_parsed AS (
  SELECT *,
         {start_year} AS start_year_i,
         {end_year} AS end_year_i,
         {sc_given} AS sc_given,
         {sc_family} AS sc_family,
         CASE WHEN source_section = 'fellow_in_residence'
              THEN 'Former Fellows-in-Residence'
              ELSE 'Former Short-Term Researchers' END AS section_label,
         CASE WHEN source_section = 'fellow_in_residence'
              THEN 'SCAS Fellow-in-Residence'
              ELSE 'SCAS Short-Term Researcher' END AS scheme_label,
         CASE WHEN source_section = 'fellow_in_residence'
              THEN 'fellowship' ELSE 'research' END AS funding_type,
         {id12} AS source_record_id
  FROM sc_years
),
sc_out AS (
  SELECT 'scas' AS member,
    concat('scas-', source_section, '-',
           coalesce({cs('start_year_i')}, 'na'), '-',
           coalesce({cs('end_year_i')}, 'na'), '-',
           {slug('name', 48)}, '-', {slug('term_one', 36)}, '-',
           source_record_id) AS funder_award_id,
    CAST(NULL AS {S}) AS slug,
    name AS fellow_name,
    sc_given AS given_name, sc_family AS family_name,
    {cs('start_year_i')} AS start_year,
    coalesce(profile_url,
      'https://www.swedishcollegium.se/fellows/former-fellows/all-former-fellows')
      AS landing_page_url,
    source_record_id, source_section, section_label, scheme_label,
    funding_type,
    concat(scheme_label, ' ', term_one, ' - ', name) AS display_name,
    CASE WHEN affil IS NOT NULL THEN
      concat(name, ' is listed by the Swedish Collegium for Advanced',
             ' Study as ', scheme_label, ' for ', term_one,
             '; source affiliation: ', affil, '.')
    ELSE
      concat(name, ' is listed by the Swedish Collegium for Advanced',
             ' Study as ', scheme_label, ' for ', term_one, '.')
    END AS description,
    affil AS affiliation, term_one AS term,
    {cs('tseq')} AS term_sequence,
    {cs('end_year_i')} AS end_year,
    CASE WHEN start_year_i IS NOT NULL AND end_year_i IS NOT NULL
         THEN concat({cs('start_year_i')}, '-01-01') END AS start_date,
    CASE WHEN start_year_i IS NOT NULL AND end_year_i IS NOT NULL
         THEN concat({cs('end_year_i')}, '-12-31') END AS end_date,
    CAST(NULL AS {S}) AS amount, CAST(NULL AS {S}) AS currency,
    profile_url,
    'https://www.swedishcollegium.se/fellows/former-fellows/all-former-fellows'
      AS source_url,
    'All former fellows' AS source_page_title,
    '1985 - 2024' AS source_page_year_range
  FROM sc_parsed
)"""




# lister arm extras ride the SCAS column slots they share semantics
# with (display_name <- title, affiliation <- institution, end_year)
_LI_FILLS = {"display_name": "li_title", "affiliation": "li_inst",
             "end_year": "li_end"}
_LI_EXTRAS = ", ".join(
    f"{_LI_FILLS.get(c, 'CAST(NULL AS STRING)')} AS {c}"
    for c in _SCAS_EXTRA_COLS)

# lister_to_s3.py:60 / :64 — title prefix + post-nominal vocabulary
_LI_TITLE_RE = "(?i)^(Professor|Prof|Dr|Mr|Mrs|Ms|Miss|Sir|Dame)\\\\.?\\\\s+"
_LI_DEGREES = "\\\\b(PhD|MD|FMedSci|OBE|MBE|CBE|FRCP|FRS)\\\\b\\\\.?"


def _lister_arm(dialect: str) -> str:
    """The Lister Institute fellows-directory arm
    (scripts/local/lister_to_s3.py — round 12).

    Five Umbraco pages of ``.person`` cards (HTTP + selectors = seam;
    the fixture delivers each card's name/institution/dates/interests
    plus its page index, with the 2024/2025 prize-winner pages
    carrying a page year).  Ported compute: the cross-page merge
    (:142-152) — records keyed by the title-stripped name slug, FIRST
    page-order occurrence wins and later occurrences backfill each
    still-missing field individually (groups of <= 3 by fixture
    construction -> two lead() steps); the
    ``(\\d{4})\\s*[-–]\\s*(\\d{4})?`` fellowship-dates parse with
    the page-year fallback (:96-103); ``parse_pi`` (:62-69) — ONE
    leading title strip, post-nominal removal ANYWHERE, strip +
    rstrip(','), <2 tokens -> family-only; title = interests else the
    constant fellowship name; id = 'lister-{key}'(+'-{year}')
    (:163-165 — unique by construction post-merge, so the cumcount
    suffix branch is dead code in the reference too and is not
    ported); amounts NULL by source design (§6.7 waiver)."""
    k = sqlkit.kit(dialect)
    g, S, cs, bar, asize, elem = k.g, k.S, k.cs, k.bar, k.asize, k.elem
    filt, jn, splitre = k.filt, k.jn, k.splitre

    key_expr = (f"trim(BOTH '-' FROM regexp_replace(lower("
                f"regexp_replace(name, '{_LI_TITLE_RE}', ''{g})), "
                f"'[^a-z0-9]+', '-'{g}))")
    first_expr = (f"trim(BOTH ',' FROM trim(regexp_replace(trim("
                  f"regexp_replace(name, '{_LI_TITLE_RE}', ''{g})), "
                  f"'{_LI_DEGREES}', ''{g})))")
    # reference order: sub(title).strip() -> sub(degrees) -> strip()
    # -> rstrip(',') ; the trailing trim pair above composes the same
    first_expr = f"trim({first_expr})"

    dates_start = ("nullif(regexp_extract(dates_txt, "
                   "'(\\\\d{4})\\\\s*[-–]\\\\s*(\\\\d{4})?', 1), '')")
    dates_end = ("nullif(regexp_extract(dates_txt, "
                 "'(\\\\d{4})\\\\s*[-–]\\\\s*(\\\\d{4})?', 2), '')")

    w = "OVER (PARTITION BY key ORDER BY page, k)"
    core = f"""CASE CAST(p % 6 AS INT)
      WHEN 0 THEN concat('Emma Clarke', {cs('p')}, ' FMedSci')
      WHEN 1 THEN concat('Raj Patel ', {cs('p')})
      WHEN 2 THEN concat('Michael Owen ', {cs('p')}, ' OBE')
      WHEN 3 THEN concat('Li Wei', {cs('p')})
      WHEN 4 THEN concat('Aisha Bello-Ahmed ', {cs('p')}, ' PhD')
      ELSE concat('Plate', {cs('p')}) END"""
    title_pfx = f"""CASE CAST(k - 3 * p AS INT)
      WHEN 0 THEN CASE CAST(p % 3 AS INT) WHEN 0 THEN 'Professor '
        WHEN 1 THEN 'Sir ' ELSE 'Dame ' END
      WHEN 1 THEN 'Dr. ' ELSE '' END"""

    li_toks = filt(splitre(f"coalesce({first_expr}, '')", "\\\\s+"),
                   "t <> ''")

    return f"""li_raw AS (
  SELECT o_orderkey AS k,
    CAST(floor(o_orderkey / 3.0) AS BIGINT) AS p,
    CAST(o_orderkey % 5 AS INT) AS page
  FROM orders
),
li_cards AS (
  SELECT k, p, page,
    concat({title_pfx}, {core}) AS name,
    CASE WHEN k % 4 = 0 THEN NULL
      ELSE concat('University of Oxford wing ', {cs('k % 90')}) END
      AS inst,
    CASE WHEN k % 5 = 2 THEN NULL
      ELSE concat('Molecular immunology theme ', {cs('k % 40')}) END
      AS interests,
    CASE WHEN k % 4 = 0 THEN NULL
      WHEN k % 8 = 1 THEN concat('Fellow ', {cs('2000 + p % 23')},
                                 '–')
      ELSE concat('Fellow ', {cs('2000 + p % 23')}, '-',
                  {cs('2005 + p % 23')}) END AS dates_txt,
    CASE WHEN page = 3 THEN '2024'
         WHEN page = 4 THEN '2025' END AS page_year
  FROM li_raw
),
li_parsed AS (
  SELECT k, p, page, name, inst, interests,
    coalesce({dates_start}, page_year) AS sy,
    {dates_end} AS ey,
    {key_expr} AS key
  FROM li_cards
),
li_merged AS (
  SELECT * FROM (
    SELECT k, name, key,
      row_number() {w} AS rn,
      coalesce(inst, lead(inst, 1) {w}, lead(inst, 2) {w}) AS li_inst,
      coalesce(interests, lead(interests, 1) {w},
               lead(interests, 2) {w}) AS li_interests,
      coalesce(sy, lead(sy, 1) {w}, lead(sy, 2) {w}) AS li_sy,
      coalesce(ey, lead(ey, 1) {w}, lead(ey, 2) {w}) AS li_end
    FROM li_parsed) x WHERE rn = 1
),
{bar("li_named", "li_merged",
     ["k", "name", "key", "li_inst", "li_interests", "li_sy",
      "li_end"], [
    ("li_toks", li_toks),
])},
li_out AS (
  SELECT 'lister' AS member,
    concat('lister-', key,
           CASE WHEN li_sy IS NOT NULL THEN concat('-', li_sy)
                ELSE '' END) AS funder_award_id,
    key AS slug, name AS fellow_name,
    CASE WHEN {asize('li_toks')} < 2 THEN NULL
         ELSE {jn('li_toks', f"{asize('li_toks')} - 1")} END
      AS given_name,
    CASE WHEN {asize('li_toks')} = 0 THEN NULL
         WHEN {asize('li_toks')} = 1 THEN {elem('li_toks', '1')}
         ELSE {elem('li_toks', asize('li_toks'))} END AS family_name,
    li_sy AS start_year,
    CAST(NULL AS {S}) AS landing_page_url,
    coalesce(li_interests,
             'Lister Institute Research Prize Fellowship') AS li_title,
    li_inst, li_end
  FROM li_named
)"""


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    cs, bar, elem, idx_of = k.cs, k.bar, k.elem, k.idx_of

    def particle_split(raw: str):
        """suffix pop + leftward particle walk -> (given, family)."""
        if dialect == "spark":
            toks = (f"filter(split(coalesce({raw}, ''), ' +'), "
                    f"x -> x <> '')")
        else:
            toks = (f"list_filter(regexp_split_to_array(coalesce({raw}, "
                    f"''), ' +'), x -> x <> '')")
        tok_norm = "lower(trim(BOTH '.,' FROM t))"
        last = (f"coalesce({idx_of(f'({toks})', f'{tok_norm} NOT IN ({_SUFFIXES})', 'array_max')}, 0)")
        # fam_start: walk left from `last` while the PRECEDING token is
        # a particle and at least one given token remains — i.e. the
        # SMALLEST j in [2, last] such that tokens j..last-1 are all
        # particles (contiguity enforced by taking the largest
        # non-particle boundary below last)
        part_cond = f"lower(t) NOT IN ({_PARTICLES})"
        last_nonparticle_before = idx_of(
            f"({toks})",
            f"{part_cond} AND i < ({last}) AND i >= 2", "array_max")
        fam_start = (f"CASE WHEN ({last}) <= 1 THEN ({last}) "
                     f"ELSE greatest(coalesce(({last_nonparticle_before})"
                     f" + 1, 2), 2) END")
        # but if the token directly below `last` is NOT a particle,
        # fam_start stays at `last` (the walk never starts)
        below = elem(f"({toks})", f"({last}) - 1")
        fam_start = (f"CASE WHEN ({last}) <= 1 THEN ({last}) "
                     f"WHEN lower(coalesce({below}, '')) NOT IN "
                     f"({_PARTICLES}) THEN ({last}) "
                     f"ELSE greatest(coalesce(({last_nonparticle_before})"
                     f" + 1, 2), 2) END")
        given = (f"CASE WHEN ({last}) >= 2 AND ({fam_start}) >= 2 THEN "
                 f"nullif({joinr(f'({toks})', '1', f'({fam_start}) - 1')},"
                 f" '') END")
        family = (f"CASE WHEN ({last}) >= 1 THEN "
                  f"nullif({joinr(f'({toks})', f'({fam_start})', f'({last})')}, '') END")
        return given, family

    def joinr(a: str, lo: str, hi: str) -> str:
        if dialect == "spark":
            return f"array_join(slice({a}, {lo}, ({hi}) - ({lo}) + 1), ' ')"
        return (f"list_aggr(list_slice({a}, {lo}, {hi}), "
                f"'string_agg', ' ')")

    ks = cs("o_orderkey")
    gg_given, gg_family = particle_split("name")

    name_pool = f"""CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN concat('Maya Angelou', {cs('o_orderkey % 190')})
      WHEN 1 THEN concat('Ludwig van der Rohe', {cs('o_orderkey % 190')})
      WHEN 2 THEN concat('Ana de la Cruz', {cs('o_orderkey % 190')},
                         ' PhD')
      WHEN 3 THEN concat('Bj', 'örk', {cs('o_orderkey % 190')})
      WHEN 4 THEN concat('Vincent St. Martin', {cs('o_orderkey % 190')},
                         ' Jr.')
      ELSE concat('Omar al', ' Farsi', {cs('o_orderkey % 190')}) END"""

    return f"""
WITH gg_raw AS (
  SELECT o_orderkey AS k,
    concat('fellow-', {ks}) AS slug,
    {name_pool} AS name,
    CASE WHEN o_orderkey % 9 = 0 THEN NULL
      ELSE CAST(o_orderkey % 90 + 1935 AS INT) END AS year
  FROM orders
),
{bar("gg_named", "gg_raw", ["k", "slug", "name", "year"], [
    ("given_name", gg_given), ("family_name", gg_family),
])},
gg_out AS (
  SELECT 'guggenheim' AS member, slug AS funder_award_id, slug,
    name AS fellow_name, given_name, family_name,
    {cs('year')} AS start_year,
    concat('https://www.gf.org/fellows/', slug, '/')
      AS landing_page_url
  FROM gg_named
),
rc_raw AS (
  SELECT o_orderkey AS k,
    concat('person-', {cs('o_orderkey % 800')}) AS slug,
    {name_pool} AS name,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL
      ELSE CAST(o_orderkey % 25 + 2000 AS INT) END AS year
  FROM orders
),
rc_first AS (
  -- per-cohort (slug, year) keep-first (radcliffe_to_s3.py:206-236)
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY slug, year ORDER BY k) AS rn
    FROM rc_raw
  ) WHERE rn = 1
),
{bar("rc_named", "rc_first", ["k", "slug", "name", "year"], [
    ("given_name", gg_given), ("family_name", gg_family),
])},
rc_out AS (
  SELECT 'radcliffe' AS member,
    CASE WHEN year IS NOT NULL
         THEN concat(slug, '-', {cs('year')}) ELSE slug END
      AS funder_award_id,
    slug, name AS fellow_name, given_name, family_name,
    {cs('year')} AS start_year,
    concat('https://www.radcliffe.harvard.edu/people/', slug)
      AS landing_page_url
  FROM rc_named
),
{_scas_arm(dialect)},
{_hertz_arm(dialect)},
{_lister_arm(dialect)}
SELECT member, funder_award_id, slug, fellow_name, given_name,
       family_name, start_year, landing_page_url, {_SCAS_NULLS},
       {_HZ_NULLS}
FROM gg_out
UNION ALL
SELECT member, funder_award_id, slug, fellow_name, given_name,
       family_name, start_year, landing_page_url, {_SCAS_NULLS},
       {_HZ_NULLS}
FROM rc_out
UNION ALL
SELECT member, funder_award_id, slug, fellow_name, given_name,
       family_name, start_year, landing_page_url, {_SCAS_EXTRAS},
       {_HZ_NULLS}
FROM sc_out
UNION ALL
SELECT member, funder_award_id, slug, fellow_name, given_name,
       family_name, start_year, landing_page_url, {_SCAS_EXTRAS},
       {_HZ_EXTRAS}
FROM hz_out
UNION ALL
SELECT member, funder_award_id, slug, fellow_name, given_name,
       family_name, start_year, landing_page_url, {_LI_EXTRAS},
       {_HZ_NULLS}
FROM li_out
"""


@register(
    "fellowship_directory_parse",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Fellowship-directory parse family (scripts/local/"
         "{guggenheim,radcliffe,scas_former_fellows,hertz,lister}"
         "_to_s3.py)"),
    spread=("orders",),
)
def fellowship_directory_parse(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Guggenheim + Radcliffe fellows-directory normalizes with the
    shared particle-aware name split (module docstring has the map).
    Two barriered scan arms + the radcliffe (slug, year) keep-first
    window; no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
