"""Fondazione Telethon grants parse
(scripts/local/telethon_to_s3.py — 563 LoC).

The reference enumerates the WP ``projects`` post type (wp_id, slug,
IT title, EN title from wpml_translations, IT abstract) and parses
each SSR detail page's ``dl.project-details__list`` (dt->next-dd
binding), ``ul.projects-figures`` and publications block.  The HTTP
layer, ThreadPool harvest and the BeautifulSoup walks are the seam —
the fixture delivers one project per orders key carrying the REST
fields plus the post-DOM facts (pi_name, institution, disease, status,
scheme, the Totale-Fondi strong text, the Anni label, the raw
publications hrefs, title_h1).  Everything downstream ports:

* ``clean`` (:105-112): whitespace join + the absent-marker set
  ('', '-', '–', '—', '/', 'N/A', 'n/a', '—/—') -> NULL;
* ``parse_amount`` (:205-218): ``([\\d][\\d. \\s]*)\\s*€`` then strip
  every non-digit (Italian '767.574€' -> '767574'), int-as-str;
* ``parse_years`` (:221-228): findall ``\\b(?:19|20)\\d{2}\\b`` —
  start = first, end = LAST only when >= 2 matches;
* ``split_pi`` (:231-246): drop honorific tokens ANYWHERE
  (lower().strip('.') against the 25-token TITLE_TOKENS table,
  incl. trailing PhD/MD); all-honorific names fall back to the raw
  tokens; single kept token -> (full, given NULL, family token);
* the publications href gate (:301-317): keep links containing
  europepmc/doi.org/ncbi.nlm/pubmed (lowered), first-occurrence
  dedupe in document order;
* ``build_description`` (:323-337): 'Malattie: X' + 'Stato progetto:
  Y' + cleaned IT abstract + 'Pubblicazioni: ' ';'-joined links,
  packed with blank lines;
* title preference EN REST -> IT REST -> detail H1 (:360);
* start/end = '{year}-01-01'/'{year}-12-31'; EUR iff amount;
  funder_award_id = 'telethon-{wp_id}'.

``to_frame``'s keep-first dedupe on funder_award_id (:415-419) is
order-NONDETERMINISTIC in the reference itself (rows arrive in
ThreadPool as_completed order), so the fixture mints unique wp_ids and
the dedupe is documented as a seam rather than re-expressed — there is
no deterministic row to keep.  Empty strings ship NULL (:421-423 —
unlike holberg's astype path).

Plan: ONE orders scan of pure column algebra behind Generate barriers
— zero exchanges, no Python.  tests/test_template_fidelity.py
re-derives the full expected output in Python and AST-pins
TITLE_TOKENS and the regex pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# telethon_to_s3.py:85-90
_TITLE_TOKENS = (
    "dr", "dr.", "dott", "dott.", "dottor", "dottoressa", "dssa", "d.ssa",
    "prof", "prof.", "professor", "professore", "professoressa",
    "mr", "mr.", "mrs", "mrs.", "ms", "ms.", "phd", "ph.d", "md", "m.d",
    "sig", "sig.", "sig.ra", "ing", "ing.",
)
_CURRENCY = "EUR"
_PROVENANCE = "telethon"
_DETAIL = ("https://www.fondazionetelethon.it/cosa-facciamo/ricerca/"
           "progetti-finanziati/")

# telethon:201 — the class is [\\d . NBSP \\s]: the reference spells
# NBSP explicitly (Java/RE2 \\s does not match U+00A0; Python's does)
_AMOUNT = "([0-9][0-9.  \\\\s]*)\\\\s*€"
_YEARS = "\\\\b(?:19|20)\\\\d{2}\\\\b"
_PAPER_GATE = "europepmc|doi\\\\.org|ncbi\\\\.nlm|pubmed"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, cs, bar, arr, asize, elem = k.g, k.cs, k.bar, k.arr, k.asize, k.elem
    filt, jnall, jnsep, jnspan = k.filt, k.jnall, k.jnsep, k.jnspan
    like, rxall, splitws = k.like, k.rxall, k.splitws

    def dedupe_keep_first(a: str) -> str:
        if dialect == "spark":
            return (f"filter({a}, (_x, _i) -> "
                    f"NOT array_contains(slice({a}, 1, _i), _x))")
        return (f"list_transform(list_filter(range(1, {asize(a)} + 1), "
                f"_i -> coalesce(list_position(list_slice({a}, 1, "
                f"_i - 1), ({a})[_i]), 0) = 0), _i -> ({a})[_i])")

    def clean(x: str) -> str:
        """telethon clean (:105-112): ws join + absent markers -> NULL."""
        e = f"trim(regexp_replace({x}, '\\\\s+', ' '{g}))"
        return (f"CASE WHEN {e} IN ('', '-', '–', '—', '/', 'N/A', "
                f"'n/a', '—/—') THEN NULL ELSE {e} END")

    def soup_text(x: str) -> str:
        # BeautifulSoup get_text(' ', strip) over the abstract: tags to
        # space + entity subset, then the clean above
        e = f"replace({x}, '&amp;', '&')"
        return clean(f"regexp_replace({e}, '<[^>]+>', ' '{g})")

    toks = ", ".join(f"'{t}'" for t in sorted(
        {t.strip(".") for t in _TITLE_TOKENS}))

    # split_pi (:231-246): honorifics dropped ANYWHERE
    raw_toks = splitws("pi_clean")
    kept0 = filt(raw_toks, f"trim(BOTH '.' FROM lower(t)) NOT IN ({toks})")

    years = rxall("anni_label", _YEARS, 0)

    # amount digits: the matched run, every non-digit stripped
    amt_run = f"regexp_extract(amount_strong, '{_AMOUNT}', 1)"
    amt_digits = f"nullif(regexp_replace({amt_run}, '[^0-9]', ''{g}), '')"

    papers_kept = dedupe_keep_first(
        filt("paper_hrefs", f"{like('lower(t)', _PAPER_GATE)}"))

    nl2 = "concat(chr(10), chr(10))"

    fixture_cols = f"""
    9000 + o_orderkey AS wp_id,
    concat('progetto-', {cs('o_orderkey')}) AS slug,
    CASE WHEN o_orderkey % 3 = 0 THEN NULL
      ELSE concat('Gene therapy project ', {cs('o_orderkey')}) END
      AS title_en,
    CASE WHEN o_orderkey % 9 = 0 THEN NULL
      ELSE concat('Progetto di terapia genica  ', {cs('o_orderkey')}) END
      AS title_it,
    concat('Progetto H1 ', {cs('o_orderkey')}) AS title_h1,
    CASE CAST(o_orderkey % 7 AS INT)
      WHEN 0 THEN 'Prof. Anna Maria Bianchi'
      WHEN 1 THEN concat('Dott. Marco Verdi', ' PhD')
      WHEN 2 THEN 'D.ssa Elena  Russo'
      WHEN 3 THEN NULL
      WHEN 4 THEN 'Prof.'
      WHEN 5 THEN 'Ing. Luca Ferrari Jr'
      ELSE 'Giulia Esposito' END AS pi_name,
    CASE WHEN o_orderkey % 5 = 0 THEN '-'
      ELSE concat('Istituto Telethon di Genetica ',
                  {cs('o_orderkey % 12')}) END AS institution_raw,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('Distrofia muscolare tipo ', {cs('o_orderkey % 6')})
      WHEN 1 THEN 'N/A'
      ELSE NULL END AS disease_raw,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN 'Concluso' WHEN 1 THEN 'In corso' ELSE NULL END
      AS status_raw,
    CASE WHEN o_orderkey % 6 = 0
      THEN concat('Bando ', {cs('2004 + o_orderkey % 18')}) END AS scheme_raw,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN concat({cs('100 + o_orderkey % 900')}, '.',
                         lpad({cs('o_orderkey % 1000')}, 3, '0'), '€')
      WHEN 1 THEN concat('1 234 ', lpad({cs('o_orderkey % 100')}, 3, '0'),
                         ' €')
      WHEN 2 THEN concat({cs('135900 + o_orderkey % 100')}, '€')
      WHEN 3 THEN NULL
      ELSE 'contributo gratuito' END AS amount_strong,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN concat('Anni ', {cs('2004 + o_orderkey % 16')}, '/',
                         {cs('2006 + o_orderkey % 16')})
      WHEN 1 THEN concat('Anni ', {cs('2005 + o_orderkey % 15')})
      WHEN 2 THEN NULL
      ELSE concat('Anni dal ', {cs('2003 + o_orderkey % 10')}, ' al ',
                  {cs('2011 + o_orderkey % 10')}) END AS anni_label,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN {arr(
          f"concat('https://europepmc.org/abstract/MED/', {cs('o_orderkey')})",
          f"concat('https://doi.org/10.1000/t', {cs('o_orderkey')})",
          "'https://www.fondazionetelethon.it/about'",
          f"concat('https://europepmc.org/abstract/MED/', {cs('o_orderkey')})")}
      WHEN 1 THEN {arr(f"concat('https://PubMed.ncbi.nlm.nih.gov/', {cs('o_orderkey % 999')})")}
      ELSE {arr()} END AS paper_hrefs,
    CASE WHEN o_orderkey % 2 = 0
      THEN concat('<p>Il progetto studia &amp; analizza il gene ',
                  {cs('o_orderkey % 13')}, '.</p>') END AS abstract_it"""

    _PT = ["k", "wp_id", "slug", "title_en", "title_it", "title_h1",
           "pi_name", "institution_raw", "disease_raw", "status_raw",
           "scheme_raw", "amount_strong", "anni_label", "paper_hrefs",
           "abstract_it"]

    return f"""
WITH rest AS (
  SELECT o_orderkey AS k,{fixture_cols}
  FROM orders
),
{bar("cleaned", "rest", _PT, [
    ("pi_clean", clean("pi_name")),
    ("institution", clean("institution_raw")),
    ("disease", clean("disease_raw")),
    ("status", clean("status_raw")),
    ("scheme", clean("scheme_raw")),
    ("title", clean("coalesce(title_en, title_it, title_h1)")),
    ("abstract", soup_text("abstract_it")),
    ("amount", amt_digits),
    ("start_year", elem(years, "1")),
    ("end_year", f"CASE WHEN {asize(years)} >= 2 "
                 f"THEN {elem(years, asize(years))} END"),
    ("papers", papers_kept),
])},
{bar("named", "cleaned",
     ["k", "wp_id", "slug", "pi_clean", "institution", "disease",
      "status", "scheme", "title", "abstract", "amount", "start_year",
      "end_year", "papers"], [
    ("kept0", kept0),
])},
{bar("named2", "named",
     ["k", "wp_id", "slug", "pi_clean", "institution", "disease",
      "status", "scheme", "title", "abstract", "amount", "start_year",
      "end_year", "papers"], [
    ("kept", f"CASE WHEN {asize('kept0')} = 0 AND pi_clean IS NOT NULL "
             f"THEN {splitws('pi_clean')} ELSE kept0 END"),
])}
SELECT
  concat('{_PROVENANCE}-', {cs('wp_id')}) AS funder_award_id,
  title,
  CASE WHEN pi_clean IS NULL THEN NULL
    ELSE {jnall('kept')} END AS pi_full,
  CASE WHEN pi_clean IS NULL OR {asize('kept')} <= 1 THEN NULL
    ELSE {jnspan('kept', '1', f"{asize('kept')} - 1")} END
    AS pi_given,
  CASE WHEN pi_clean IS NULL THEN NULL
    ELSE {elem('kept', asize('kept'))} END AS pi_family,
  institution,
  amount,
  CASE WHEN amount IS NOT NULL THEN '{_CURRENCY}' END AS currency,
  scheme,
  CASE WHEN start_year IS NOT NULL
    THEN concat(start_year, '-01-01') END AS start_date_raw,
  CASE WHEN end_year IS NOT NULL
    THEN concat(end_year, '-12-31') END AS end_date_raw,
  nullif({jnsep(filt(arr(
      "CASE WHEN disease IS NOT NULL THEN concat('Malattie: ', disease) END",
      "CASE WHEN status IS NOT NULL THEN concat('Stato progetto: ', status) END",
      "abstract",
      f"CASE WHEN {asize('papers')} > 0 THEN concat('Pubblicazioni: ', {jnsep('papers', chr(39) + ' ; ' + chr(39))}) END"),
      "t IS NOT NULL"), nl2)}, '') AS description,
  concat('{_DETAIL}', slug, '/') AS landing_page_url
FROM named2
"""


@register(
    "telethon_parse_grants",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Fondazione Telethon grants parse "
         "(scripts/local/telethon_to_s3.py)"),
)
def telethon_parse_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telethon detail parse: Italian thousands amount strip, Anni
    first/last year split, anywhere-honorific PI tokenizer with the
    all-honorific fallback, gated+deduped publication links, packed
    description, EN->IT->H1 title preference.  One scan, zero
    exchanges, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
