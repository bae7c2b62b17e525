"""CIFAR researcher-appointment parse
(scripts/local/cifar_to_s3.py — 523 LoC).

The reference pages the cifar.ca WP REST ``bio`` endpoint plus four
taxonomies (appointment_program / appointment_role / institution /
country) and flattens to one row per (bio x program).  The HTTP layer
and the taxonomy FETCH are the seam — the fixture delivers one bio per
orders key with its raw rendered title, WP metadata and the four raw
term-id ARRAYS; the term tables themselves are small fixed lookup
vocabularies (the reference caches them as ``{id: term}`` dicts,
:168-184).  Everything downstream ports (``download_bios`` :215-298,
``build_dataframe`` :330-381):

* bios with an empty ``appointment_program`` list are skipped
  (:244-247); program ids MISSING from the term map are skipped inside
  the explode (:273-275), so a bio whose only program id is unknown
  contributes zero rows while still passing the empty-list gate;
* role/institution/country ids are resolved through their term maps
  with missing ids DROPPED (:249-261); the scalar ``role_name`` /
  ``institution_name`` / ``country_name`` are the first RESOLVED
  names, but ``role_id`` is the first RAW id (:284) — when the first
  id is unknown the id and the name come from different terms;
* ``all_roles`` / ``all_institutions`` are ``'|'.join(...)`` or NULL
  when nothing resolved (:287-290);
* ``bio_title`` and ``program_name`` are html-unescaped (:263, :277 —
  fixture entity subset ``&amp;``); role/institution names are NOT
  unescaped — an ``&amp;`` in an institution term survives verbatim;
* ``researcher_full_name`` keeps the unescaped title VERBATIM while
  ``split_name`` (:520-529 block at :512) tokenizes with Python
  ``str.split()`` (any whitespace, empties dropped), then pops
  trailing degree suffixes ({PhD, MD, DPhil, Jr., Sr., II, III, IV},
  dot-insensitive via ``rstrip('.')``) in a loop; single token ->
  ``('', token)``, all-suffix -> ``('', '')`` — empty STRINGS, not
  NULLs;
* ``classify_funding_type`` (:323-331): advisory keywords win over
  research keywords ('Fellowship Advisory Board' -> 'other'), null or
  unmatched roles -> 'other';
* ``funder_award_id`` = 'cifar-{program_slug}-{bio_slug}' (duplicates
  RAISE, :343-349 — the fixture is collision-free by construction);
  amount/currency are intentionally absent (the documented HHMI-style
  non-disclosure waiver, header), ``declined`` ships as the string
  'False' (astype("string") over a bool, :368/:380).

Plan: ONE orders scan -> explode over the per-bio program-id array ->
pure column algebra behind Generate barriers — zero exchanges, no
Python.  tests/test_template_fidelity.py re-derives the full expected
output with the reference's own algorithm and AST-pins the keyword /
suffix vocabularies against the reference source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# cifar_to_s3.py:118 defines PROVENANCE but the shipped parquet does NOT
# carry a provenance column (build_dataframe :349-368) — schema kept
# faithful at 19 columns.

# Reference rule tables (cifar_to_s3.py:133-139) — AST-pinned.
_RESEARCH_ROLE_KEYWORDS = (
    "fellow", "chair", "scholar", "researcher", "investigator",
    "co-director", "associate director", "program director",
    "program co-director",
)
_ADVISORY_ROLE_KEYWORDS = ("advisor", "advisory", "committee")
# cifar_to_s3.py:512 — suffix set compared dot-insensitively (:514)
_DEGREE_SUFFIXES = ("PhD", "MD", "DPhil", "Jr", "Sr", "II", "III", "IV")

# Fixture taxonomy vocabularies (runtime DATA in the reference — the
# fetch is the seam; ids outside these tables exercise the missing-term
# drops).  Program names/slugs mirror the WP term shape; 903's name
# carries the entity subset, 905's an apostrophe.
_PROGRAMS = {
    901: ("Quantum Materials", "quantum-materials"),
    902: ("Pan-Canadian AI Strategy", "pan-canadian-ai-strategy"),
    903: ("Child &amp; Brain Development", "child-brain-development"),
    904: ("Earth 4D", "earth-4d"),
    905: ("Humanity's Urban Future", "humanitys-urban-future"),
}
_ROLES = {
    801: "Fellow",
    802: "Advisory Committee Member",
    803: "Canada CIFAR AI Chair",
    804: "Fellowship Advisory Board",
    805: "Staff Liaison",
}
_INSTITUTIONS = {
    701: "University of Toronto",
    702: "MILA",
    703: "Health &amp; Medicine Institute",
}
_COUNTRIES = {601: "Canada", 602: "France"}


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    cs, bar, arr, asize, elem = k.cs, k.bar, k.arr, k.asize, k.elem
    filt, jn, jnsep, noints = k.filt, k.jn, k.jnsep, k.noints
    splitws, sq, tx = k.splitws, k.sq, k.tx

    def pos0(a: str, v: str) -> str:
        # 1-based, 0 on miss in both dialects
        if dialect == "spark":
            return f"array_position({a}, {v})"
        return f"list_position({a}, {v})"

    def rev(a: str) -> str:
        if dialect == "spark":
            return f"reverse({a})"
        return f"list_reverse({a})"

    def case_lookup(var: str, table: dict, pick) -> str:
        whens = " ".join(f"WHEN {i} THEN '{sq(pick(v))}'"
                         for i, v in sorted(table.items()))
        return f"CASE {var} {whens} END"

    role_name_of = case_lookup("t", _ROLES, lambda v: v)
    inst_name_of = case_lookup("t", _INSTITUTIONS, lambda v: v)
    country_name_of = case_lookup("t", _COUNTRIES, lambda v: v)
    prog_name_of = case_lookup("prog_id", _PROGRAMS, lambda v: v[0])
    prog_slug_of = case_lookup("prog_id", _PROGRAMS, lambda v: v[1])

    def contains_any(x: str, words: tuple) -> str:
        return " OR ".join(f"instr({x}, '{w}') > 0" for w in words)

    # classify_funding_type (:323-331): advisory first, then research
    funding_type = (
        f"CASE WHEN role_name IS NULL THEN 'other' "
        f"WHEN {contains_any('lower(role_name)', _ADVISORY_ROLE_KEYWORDS)} "
        f"THEN 'other' "
        f"WHEN {contains_any('lower(role_name)', _RESEARCH_ROLE_KEYWORDS)} "
        f"THEN 'research' ELSE 'other' END")

    suffixes = ", ".join(f"'{s}'" for s in _DEGREE_SUFFIXES)
    # reversed-token flags: 1 while the trailing degree-suffix run lasts
    rev_flags = tx(rev("toks"),
                   f"CASE WHEN trim(TRAILING '.' FROM t) IN ({suffixes}) "
                   f"THEN 1 ELSE 0 END")
    # index of the first non-suffix from the END; 0 = all suffixes
    first_keep = pos0(rev_flags, "0")

    p = {i: f"{i}" for i in (901, 902, 903, 904, 905)}
    fixture_cols = f"""
    70000 + o_orderkey AS bio_id,
    concat('bio-', {cs('o_orderkey')}) AS bio_slug,
    CASE CAST(o_orderkey % 7 AS INT)
      WHEN 0 THEN 'Geoffrey Hinton'
      WHEN 1 THEN 'Yoshua Bengio PhD'
      WHEN 2 THEN 'Sir John A. Macdonald Jr.'
      WHEN 3 THEN 'Cher'
      WHEN 4 THEN 'Marie Curie-Sk&amp;odowska MD PhD'
      WHEN 5 THEN 'PhD'
      ELSE 'Jane  Doe ' END AS title_html,
    concat('https://cifar.ca/bios/bio-', {cs('o_orderkey')}, '/')
      AS bio_link,
    concat({cs('2015 + o_orderkey % 10')}, '-0',
           {cs('o_orderkey % 9 + 1')}, '-1',
           {cs('o_orderkey % 9')}, 'T08:30:00') AS bio_date,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN {noints()}
      WHEN 1 THEN {arr(p[901])}
      WHEN 2 THEN {arr(p[902], p[903])}
      WHEN 3 THEN {arr('999', p[904])}
      WHEN 4 THEN {arr('998')}
      ELSE {arr(p[905], p[901])} END AS prog_ids,
    CASE CAST(o_orderkey % 6 AS INT)
      WHEN 0 THEN {noints()}
      WHEN 1 THEN {arr('801')}
      WHEN 2 THEN {arr('777', '802')}
      WHEN 3 THEN {arr('803', '801')}
      WHEN 4 THEN {arr('804')}
      ELSE {arr('805')} END AS role_ids,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN {noints()}
      WHEN 1 THEN {arr('701')}
      WHEN 2 THEN {arr('702', '703')}
      ELSE {arr('777', '701')} END AS inst_ids,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN {noints()}
      WHEN 1 THEN {arr('601')}
      ELSE {arr('602')} END AS country_ids"""

    _PT = ["k", "bio_id", "bio_slug", "bio_link", "bio_date", "prog_ids"]

    if dialect == "spark":
        explode_from = ("resolved _r LATERAL VIEW explode(_r.prog_ids) "
                        "_pv AS prog_id")
    else:
        explode_from = "resolved _r CROSS JOIN UNNEST(_r.prog_ids) AS _pv(prog_id)"

    return f"""
WITH rest AS (
  SELECT o_orderkey AS k,{fixture_cols}
  FROM orders
),
gated AS (
  SELECT * FROM rest WHERE {asize('prog_ids')} > 0
),
{bar("resolved", "gated", _PT, [
    ("full_name", "replace(title_html, '&amp;', '&')"),
    ("role_names", filt(tx("role_ids", role_name_of), "t IS NOT NULL")),
    ("first_role_id", cs(elem("role_ids", "1"))),
    ("inst_names", filt(tx("inst_ids", inst_name_of), "t IS NOT NULL")),
    ("country_names",
     filt(tx("country_ids", country_name_of), "t IS NOT NULL")),
])},
per_program AS (
  SELECT _r.k, _r.bio_id, _r.bio_slug, _r.bio_link, _r.bio_date,
         _r.full_name, _r.role_names, _r.first_role_id, _r.inst_names,
         _r.country_names, prog_id,
         {prog_name_of} AS prog_name_raw,
         {prog_slug_of} AS program_slug
  FROM {explode_from}
),
known AS (
  SELECT * FROM per_program WHERE prog_name_raw IS NOT NULL
),
{bar("named", "known",
     ["k", "bio_id", "bio_slug", "bio_link", "bio_date", "full_name",
      "role_names", "first_role_id", "inst_names", "country_names",
      "prog_id", "prog_name_raw", "program_slug"], [
    ("toks", splitws("full_name")),
    ("role_name", elem("role_names", "1")),
])},
{bar("split_done", "named",
     ["k", "bio_id", "bio_slug", "bio_link", "bio_date", "full_name",
      "role_names", "first_role_id", "inst_names", "country_names",
      "prog_id", "prog_name_raw", "program_slug", "toks",
      "role_name"], [
    ("keep_n", f"CAST(CASE WHEN {first_keep} = 0 THEN 0 "
               f"ELSE {asize('toks')} - ({first_keep} - 1) END AS INT)"),
])}
SELECT
  concat('cifar-', program_slug, '-', bio_slug) AS funder_award_id,
  {cs('bio_id')} AS bio_id,
  bio_slug,
  full_name AS researcher_full_name,
  CASE WHEN keep_n <= 1 THEN ''
    ELSE {jn("toks", "keep_n - 1")} END
    AS researcher_given,
  CASE WHEN keep_n = 0 THEN ''
    ELSE {elem('toks', 'keep_n')} END AS researcher_family,
  {cs('prog_id')} AS program_id,
  replace(prog_name_raw, '&amp;', '&') AS program_name,
  program_slug,
  first_role_id AS role_id,
  role_name,
  CASE WHEN {asize('role_names')} = 0 THEN NULL
    ELSE {jnsep('role_names', "'|'")} END AS all_roles,
  {elem('inst_names', '1')} AS institution_name,
  CASE WHEN {asize('inst_names')} = 0 THEN NULL
    ELSE {jnsep('inst_names', "'|'")} END AS all_institutions,
  {elem('country_names', '1')} AS country_name,
  {funding_type} AS funding_type_hint,
  bio_link AS landing_page_url,
  bio_date AS first_seen_date,
  'False' AS declined
FROM split_done
"""


@register(
    "cifar_parse_appointments",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="CIFAR (bio x program) appointment parse (scripts/local/cifar_to_s3.py)",
)
def cifar_parse_appointments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIFAR WP REST appointment flatten: empty-program skip,
    missing-term drops (raw-id/resolved-name divergence pinned),
    degree-suffix name pop, advisory-over-research role classing,
    '|' roll-ups, string-typed schema with 'False' declined.  One
    scan + one Generate explode, zero exchanges, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
