"""Academy of Medical Sciences awards parse
(scripts/local/acmedsci_to_s3.py — 333 LoC).

The reference scrapes five per-scheme awardee pages whose ``<p>`` rows
carry a scheme-specific grammar; the HTTP layer and the <p>/<strong>
soup walk are the seam — the fixture delivers one row per orders key
(scheme = key mod 5) with the paragraph's full text.  Everything
downstream ports:

* ``is_candidate_row`` (:219-225): 18 <= len <= 500 and not
  ':'-terminated;
* ``parse_comma3`` (:152-176): >= 2 commas required (panel rows are
  name+institution only and screened out); the institution folds
  following comma-fields that begin with an INST_CONT keyword
  (University/College/Faculty/Medical School/Institute of/School of
  Medicine) while not consuming the final field; titles shorter than
  8 chars drop the row;
* ``parse_newton`` (:179-187): 'NAME working with MENTOR at [the]
  INST, TITLE';
* ``parse_turnberg`` (:190-198): 'NAME from HOME visiting HOST' ->
  the synthesized 'Daniel Turnberg Travel Fellowship visiting HOST'
  title;
* ``parse_networking`` (:201-213): 'A (AI) and B (BI) TITLE' -> the
  UK-side co-applicant B is the row's PI, A ships as mentor; empty
  titles drop the row;
* ``strip_name``/``split_name`` (:104-127): one anchored (?i) lead
  title strip (Dr/Professor/Prof/Mr/Mrs/Ms/Miss/Mx/Sir/Dame),
  parenthetical-role removal, the 33-entry post-nominal + suffix
  tail peel (lower().strip(',.')); a row with no family name is
  DROPPED (:245-246);
* ``slugify`` (:130-134): scheme+name+institution joined, NFKD ascii
  fold, non-alnum runs -> '-', [:120];  funder_award_id =
  'acmedsci-{slug}'.  The per-scheme document-order keep-first dedupe
  (:247-249) is not re-expressed: the fixture mints unique ids (the
  round-11 collision note), and no amounts exist by source design
  (§6.7 waiver).

Plan: ONE orders scan of pure column algebra behind Generate barriers
— its only exchange is the round-robin spread over the scan, no
Python.  tests/test_template_fidelity.py
re-derives the full expected output with the reference's real regexes
and AST-pins SCHEMES, POSTNOMINALS, SUFFIXES and INST_CONT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# acmedsci_to_s3.py:65-85
_SCHEMES = (
    ("Springboard",
     "https://acmedsci.ac.uk/grants-and-schemes/grant-schemes/"
     "springboard/springboard-awardees", "comma3"),
    ("Starter Grant for Clinical Lecturers",
     "https://acmedsci.ac.uk/grants-and-schemes/grant-schemes/"
     "starter-grants", "comma3"),
    ("Newton International Fellowship",
     "https://acmedsci.ac.uk/grants-and-schemes/grant-schemes/"
     "newton-international-fellowships", "newton"),
    ("Daniel Turnberg Travel Fellowship",
     "https://acmedsci.ac.uk/grants-and-schemes/grant-schemes/"
     "daniel-turnberg-travel-fellowship", "turnberg"),
    ("Networking Grant", "https://acmedsci.ac.uk/networking-grants",
     "networking"),
)
# :89-95 (lowercase, compared after lower().strip(',.'))
_POSTNOMINALS = (
    "fmedsci", "frs", "frse", "frcp", "frcpath", "frcpe", "frcs",
    "frcpsych", "frcgp", "mbe", "obe", "cbe", "kbe", "dbe", "phd", "md",
    "dphil", "dsc", "scd", "msc", "ba", "bsc", "mb", "bch", "bchir",
    "mrcp", "facss", "fba", "frcr", "frcog", "frca", "ffph", "frcpch",
)
_SUFFIXES = ("jr", "sr", "ii", "iii", "iv")

_LEAD_TITLE = ("(?i)^(?:Dr|Professor|Prof|Mr|Mrs|Ms|Miss|Mx|Sir|Dame)"
               "\\\\.?\\\\s+")
_INST_CONT = ("(?i)^(University|College|Faculty|Medical School|"
              "Institute of|School of Medicine)\\\\b")
_T_NEWTON = ("(?i)^(.+?)\\\\s+working with\\\\s+(.+?)\\\\s+at\\\\s+"
             "(?:the\\\\s+)?(.+?),\\\\s*(.+)$")
_T_TURNBERG = "(?i)^(.+?)\\\\s+from\\\\s+(.+?)\\\\s+visiting\\\\s+(.+)$"
_T_NETWORK = ("(?i)^(.+?)\\\\s*\\\\(([^)]+)\\\\)\\\\s+and\\\\s+(.+?)"
              "\\\\s*\\\\(([^)]+)\\\\)\\\\s*(.*)$")
_PARENS = "\\\\([^)]*\\\\)"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, cs, bar, asize, elem = k.g, k.S, k.cs, k.bar, k.asize, k.elem
    jn, like, rx, sl, splitws = k.jn, k.like, k.rx, k.sl, k.splitws

    def jnsl(a: str, start: str, sep: str) -> str:
        if dialect == "spark":
            length = f"{asize(a)} - ({start}) + 1"
            return f"array_join(slice({a}, {start}, {length}), {sep})"
        return (f"array_to_string(list_slice({a}, {start}, "
                f"{asize(a)}), {sep})")

    def splitcomma(x: str) -> str:
        if dialect == "spark":
            return f"transform(split({x}, ','), t -> trim(t))"
        return f"list_transform(string_split({x}, ','), t -> trim(t))"

    def clean(x: str) -> str:
        """acmedsci clean (:97-101): ws collapse, strip, strip(','),
        strip again, empty -> NULL."""
        e = f"trim(regexp_replace({x}, '\\\\s+', ' '{g}))"
        return f"nullif(trim(trim(BOTH ',' FROM {e})), '')"

    scheme_name = ("CASE CAST(k % 5 AS INT) "
                   + " ".join(f"WHEN {i} THEN '{s[0]}'"
                              for i, s in enumerate(_SCHEMES[:4]))
                   + f" ELSE '{_SCHEMES[4][0]}' END")
    scheme_url = ("CASE CAST(k % 5 AS INT) "
                  + " ".join(f"WHEN {i} THEN '{s[1]}'"
                             for i, s in enumerate(_SCHEMES[:4]))
                  + f" ELSE '{_SCHEMES[4][1]}' END")

    # ---- comma3 (:152-176) -------------------------------------------
    parts = splitcomma("full_text")
    np_ = asize("parts")
    p_ = lambda i: elem("parts", i)  # noqa: E731
    cont = lambda i: like(p_(i), _INST_CONT)  # noqa: E731
    # ti walk, 1-based; fixture bounds continuations at 2
    ti_expr = (f"CASE WHEN {np_} >= 4 AND {cont('3')} THEN "
               f"CASE WHEN {np_} >= 5 AND {cont('4')} THEN 5 ELSE 4 END "
               f"ELSE 3 END")
    c3_inst = (f"CASE ti WHEN 5 THEN concat({p_('2')}, ', ', {p_('3')}, "
               f"', ', {p_('4')}) WHEN 4 THEN concat({p_('2')}, ', ', "
               f"{p_('3')}) ELSE {p_('2')} END")
    c3_title = jnsl("parts", "ti", "', '")

    tail_toks = ", ".join(f"'{t}'" for t in (_POSTNOMINALS + _SUFFIXES))

    nm_expr = ("CASE parser WHEN 'comma3' THEN CASE WHEN " + np_
               + " >= 3 THEN " + p_('1') + " END WHEN 'newton' THEN "
               + rx("full_text", _T_NEWTON, 1) + " WHEN 'turnberg' THEN "
               + rx("full_text", _T_TURNBERG, 1) + " ELSE "
               + rx("full_text", _T_NETWORK, 3) + " END")
    inst_expr = ("CASE parser WHEN 'comma3' THEN CASE WHEN " + np_
                 + " >= 3 THEN " + clean(c3_inst)
                 + " END WHEN 'newton' THEN "
                 + clean(rx("full_text", _T_NEWTON, 3))
                 + " WHEN 'turnberg' THEN "
                 + clean(rx("full_text", _T_TURNBERG, 2)) + " ELSE "
                 + clean(rx("full_text", _T_NETWORK, 4)) + " END")
    turn_host = clean(rx("full_text", _T_TURNBERG, 3))
    title_expr = ("CASE parser WHEN 'comma3' THEN CASE WHEN " + np_
                  + " >= 3 THEN " + clean(c3_title)
                  + " END WHEN 'newton' THEN "
                  + clean(rx("full_text", _T_NEWTON, 4))
                  + " WHEN 'turnberg' THEN CASE WHEN " + turn_host
                  + " IS NOT NULL THEN concat("
                  + "'Daniel Turnberg Travel Fellowship visiting ', "
                  + turn_host + ") END ELSE "
                  + clean(rx("full_text", _T_NETWORK, 5)) + " END")
    mentor_expr = ("CASE parser WHEN 'newton' THEN "
                   + clean(rx("full_text", _T_NEWTON, 2))
                   + " WHEN 'networking' THEN "
                   + clean(rx("full_text", _T_NETWORK, 1))
                   + " ELSE CAST(NULL AS " + S + ") END")
    strip_src = ("trim(regexp_replace(regexp_replace(nm, '" + _LEAD_TITLE
                 + "', ''" + g + "), '" + _PARENS + "', ''" + g + "))")

    def peel_back(a: str) -> str:
        less1 = f"{asize(a)} - 1"
        return (f"CASE WHEN {asize(a)} > 0 AND "
                f"trim(BOTH '.,' FROM lower({elem(a, asize(a))})) "
                f"IN ({tail_toks}) "
                f"THEN {sl(a, '1', less1)} ELSE {a} END")

    fixture = f"""
rows0 AS (
  SELECT o_orderkey AS k,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN CASE CAST(o_orderkey % 4 AS INT)
        WHEN 0 THEN concat('Dr Amelia Watson ', {cs('o_orderkey')},
          ' FMedSci, University of Leeds, Project on cell signalling ',
          {cs('o_orderkey % 9')}, ' mechanisms')
        WHEN 1 THEN concat('Professor Ben Carter ', {cs('o_orderkey')},
          ', City St. George''s, University of London, ',
          'Cohort analysis of rare disease ', {cs('o_orderkey % 7')})
        WHEN 2 THEN concat('Prof Dana Evans ', {cs('o_orderkey')},
          ', University of Oxford')
        ELSE concat('Dr Eve Fox (Chair) ', {cs('o_orderkey')},
          ', Faculty of Medicine, Imperial College London, ',
          'Immune response mapping study ', {cs('o_orderkey % 6')}) END
      WHEN 1 THEN CASE WHEN o_orderkey % 7 = 0
        THEN 'Springboard awardees:'
        ELSE concat('Dr Gita Haran ', {cs('o_orderkey')},
          ', Newcastle University, Stem cell niche dynamics ',
          {cs('o_orderkey % 8')}) END
      WHEN 2 THEN concat('Dr Fatima Khan ', {cs('o_orderkey')},
        ' working with Professor Lee at the University of Cambridge, ',
        'Mapping neural circuits ', {cs('o_orderkey % 7')})
      WHEN 3 THEN concat('Dr Omar Haddad ', {cs('o_orderkey')},
        ' from Cairo University visiting King''s College London')
      ELSE CASE WHEN o_orderkey % 6 = 0
        THEN concat('Dr Li Wei ', {cs('o_orderkey')},
          ' (Fudan University) and Dr Grace Obi (University of ',
          'Manchester)')
        ELSE concat('Dr Li Wei ', {cs('o_orderkey')},
          ' (Fudan University) and Dr Grace Obi ', {cs('o_orderkey')},
          ' (University of Manchester) Building stroke research ',
          'network ', {cs('o_orderkey % 6')}) END END AS full_text,
    {scheme_name} AS scheme,
    {scheme_url} AS url,
    CASE CAST(o_orderkey % 5 AS INT) WHEN 0 THEN 'comma3'
      WHEN 1 THEN 'comma3' WHEN 2 THEN 'newton' WHEN 3 THEN 'turnberg'
      ELSE 'networking' END AS parser
  FROM orders
),
rows1 AS (
  SELECT * FROM rows0
  WHERE length(full_text) >= 18 AND length(full_text) <= 500
    AND NOT full_text LIKE '%:'
)"""

    return f"""
WITH {fixture},
{bar("parts0", "rows1", ["k", "full_text", "scheme", "url", "parser"], [
    ("parts", parts),
])},
{bar("ti0", "parts0",
     ["k", "full_text", "scheme", "url", "parser", "parts"], [
    ("ti", ti_expr),
])},
{bar("parsed", "ti0",
     ["k", "full_text", "scheme", "url", "parser", "parts", "ti"], [
    ("nm", nm_expr),
    ("institution", inst_expr),
    ("title", title_expr),
    ("mentor", mentor_expr),
])},
gated AS (
  SELECT * FROM parsed
  WHERE nm IS NOT NULL
    AND (parser <> 'comma3' OR (title IS NOT NULL AND length(title) >= 8))
    AND (parser <> 'networking' OR title IS NOT NULL)
    AND (parser <> 'turnberg' OR title IS NOT NULL)
),
{bar("stripped", "gated",
     ["k", "scheme", "url", "parser", "nm", "institution", "title",
      "mentor"], [
    ("t0", splitws(strip_src)),
])},
{bar("peel1", "stripped",
     ["k", "scheme", "url", "parser", "nm", "institution", "title",
      "mentor"], [
    ("t1", peel_back("t0")),
])},
{bar("named", "peel1",
     ["k", "scheme", "url", "parser", "nm", "institution", "title",
      "mentor"], [
    ("toks", peel_back("t1")),
])},
final0 AS (
  SELECT *,
    nullif(trim(BOTH ',' FROM trim({jn('toks', f"{asize('toks')} - 1")})),
           '') AS pi_given0,
    nullif(trim(BOTH ',' FROM trim({elem('toks', asize('toks'))})), '')
      AS pi_family0
  FROM named
)
SELECT
  concat('acmedsci-', substring(trim(BOTH '-' FROM regexp_replace(
    lower(concat(scheme, ' ', nm,
                 CASE WHEN institution IS NOT NULL
                   THEN concat(' ', institution) ELSE '' END)),
    '[^a-z0-9]+', '-'{g})), 1, 120)) AS funder_award_id,
  title,
  CASE WHEN {asize('toks')} <= 1 THEN NULL ELSE pi_given0 END AS pi_given,
  pi_family0 AS pi_family,
  institution,
  mentor,
  scheme AS funder_scheme,
  url AS landing_page_url
FROM final0
WHERE pi_family0 IS NOT NULL
"""


@register(
    "acmedsci_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Academy of Medical Sciences awards parse "
         "(scripts/local/acmedsci_to_s3.py)"),
    spread=("orders",),
)
def acmedsci_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AcMedSci per-scheme grammar cascade: comma3 with the
    institution-continuation fold and panel-row screen, Newton
    working-with/at, Turnberg from/visiting, Networking paired-lead
    UK-side pick; lead-title strip + parenthetical removal + the
    38-token post-nominal peel; family-required drop; composite
    slugified ids.  One scan, one round-robin spread exchange under it
    (``spread`` in ``register`` — the single-row-group fixture scan is
    one task and this grammar cascade is regex-heavy), no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
