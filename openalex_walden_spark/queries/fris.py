"""FRIS parse: the 4-script Flemish research-portal scraper family.

The reference scrapes FRIS (researchportal.be — ALL Flemish research
projects across funders) once per funder with one template
(``scripts/local/{fwo,vlaio,vlaamse_regering,belspo}_to_s3.py`` —
``fwo_to_s3.py:160-305``), differing only in data: the FRIS
Funding-Party org name that defines membership, the
fundingIdentifier authority preference list, the OpenAlex funder id,
and the synthetic-id prefix.  Ported semantics (per member):

* **membership** is decided by the funding-party ASSOCIATION, never by
  string search (the docstring warns the funder token also appears in
  the ``fwoDisciplines`` taxonomy on every Flemish project): keep a
  project iff some ``fundingOrganisationAssociation`` has role
  description (EN) == 'funding party' and org name (EN, lowercased)
  == the member's FRIS name.  A project funded by two member funders
  appears in both members' outputs — here the funding-party name list
  explodes and equi-joins the broadcast member registry;
* ``_text_en``: first non-empty ``locale='en'`` text, else the first
  non-empty text in document order (values stripped);
* ``_clean_html``: tags → space, ``&amp;`` unescaped (the reference
  runs the full ``html.unescape``; the fixture exercises the ampersand
  form), whitespace collapsed, '' → NULL;
* ``_date``: first 10 chars iff ``\\d{4}-\\d{2}-\\d{2}`` and not the
  ``9999`` sentinel;
* **grant id**: the authority preference order (fwo: ['FWO']; vlaio:
  ['IWT','VO','BOF','FWO']; vlaamse_regering: ['VO','BOF','FWO'];
  belspo: ['FED','AIO','VO','BOF']) — first token with any
  case-insensitive-substring match wins, doc order within the token,
  any non-empty identifier as the fallback.  The reference's
  ``by_pref.setdefault`` + break is equivalent to token-major /
  doc-order-minor first-match (each id is claimed by its earliest
  matching token, and every earlier token is empty when token t is
  selected);
* ``funder_award_id`` = grant id, else ``<prefix><uuid>``; rows with
  neither — or with no title AND no uuid — drop;
* **scheme**: first fundingCode (doc order) that has a matching
  funding org AND a non-empty EN description;
* ``funding_type``: 'fellowship' iff the scheme matches
  ``fellow|mandate|mandaat|phd|doctoral|postdoc`` (else 'grant');
* **lead/co pick** over the participant list: lead = first role in
  {promoter, promotor, fellow, phd fellow, supervisor, holder,
  applicant}, else the first non-empty role without 'co-', else the
  first participant; co = the first 'co-promoter'/'co-promotor', NULL
  when it IS the lead (the reference compares object identity, i.e.
  list position — the fixture carries the ordinal so position equality
  is exact);
* institution = ``dataProvider``, country 'BE', landing page
  ``https://researchportal.be/en/project/<uuid>``.

Scale: per-row struct/array algebra; the only shuffle-bearing op is
the funding-party-name explode feeding the broadcast member join
(fan-out ≤ the handful of funding parties per project).  No window at
all — project rows are already unique per (project, member).

Fixture: one FRIS project per orders row; multilingual text nodes as
(locale, text) arrays with the EN slot missing on small moduli, a
decoy non-funding-party association and a non-member funder in the
rotation, identifier bags exercising every preference tier, 9999
sentinel dates, and participant lists hitting each branch of the
lead/co cascade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries.registry import register

# slug, openalex funder id, FRIS funding-party name (lowercased), the
# display-cased form the portal publishes, synthetic-id prefix,
# authority preference tokens (fwo_to_s3.py:65-75 et al.).
_MEMBERS: tuple[tuple[str, int, str, str, str, tuple[str, ...]], ...] = (
    ("fwo", 4320321730, "research foundation flanders",
     "Research Foundation Flanders", "fwo-", ("FWO",)),
    ("vlaio", 4320321732, "flanders innovation & entrepreneurship",
     "Flanders Innovation & Entrepreneurship", "vlaio-",
     ("IWT", "VO", "BOF", "FWO")),
    ("vlaamse_regering", 4320327336, "flemish government",
     "Flemish Government", "vlaamse_regering-", ("VO", "BOF", "FWO")),
    ("belspo", 4320321454, "federal government",
     "Federal Government", "belspo-", ("FED", "AIO", "VO", "BOF")),
)

_LEAD_ROLES = ("promoter", "promotor", "fellow", "phd fellow",
               "supervisor", "holder", "applicant")

# Funder display names the fixture rotates through: the 4 members +
# one non-member (must be filtered out).
_FIXTURE_FUNDERS = tuple(d for _, _, _, d, _, _ in _MEMBERS) + (
    "European Commission",
)


def _st(sp: bool, *kv: tuple[str, str]) -> str:
    """Struct literal in either dialect from (key, value-sql) pairs."""
    if sp:
        return "named_struct(" + ", ".join(
            f"'{k}', {v}" for k, v in kv) + ")"
    return "struct_pack(" + ", ".join(f"{k} := {v}" for k, v in kv) + ")"


def _arr(sp: bool, *items: str) -> str:
    if sp:
        return "array(" + ", ".join(items) + ")"
    return "[" + ", ".join(items) + "]"


def _null_struct(sp: bool, fields: tuple[tuple[str, str], ...]) -> str:
    if sp:
        t = ", ".join(f"{k}: STRING" if ty == "s" else f"{k}: INT"
                      for k, ty in fields)
        return f"CAST(NULL AS STRUCT<{t}>)"
    t = ", ".join(f"{k} VARCHAR" if ty == "s" else f"{k} INT"
                  for k, ty in fields)
    return f"CAST(NULL AS STRUCT({t}))"


def _rows_sql(dialect: str) -> str:
    """One synthetic FRIS project per orders row, built per-dialect."""
    sp = dialect == "spark"
    null_s = "CAST(NULL AS STRING)" if sp else "CAST(NULL AS VARCHAR)"
    cs = (lambda e: f"CAST({e} AS STRING)") if sp else (
        lambda e: f"CAST({e} AS VARCHAR)")
    funders = ", ".join(f"'{d}'" for d in _FIXTURE_FUNDERS)
    member_org = (
        f"element_at(array({funders}), CAST(o_orderkey % 5 AS INT) + 1)"
        if sp else
        f"list_extract([{funders}], CAST(o_orderkey % 5 AS INT) + 1)"
    )
    d0 = ("date_format(o_orderdate, 'yyyy-MM-dd')" if sp
          else "strftime(o_orderdate, '%Y-%m-%d')")
    d_end = (
        "date_format(date_add(o_orderdate, "
        "CAST(365 + o_orderkey % 1100 AS INT)), 'yyyy-MM-dd')"
        if sp else
        "strftime(CAST(o_orderdate AS DATE) + "
        "CAST(365 + o_orderkey % 1100 AS INT), '%Y-%m-%d')"
    )

    def txt(locale: str, val: str) -> str:
        return _st(sp, ("locale", f"'{locale}'"), ("text", val))

    def assoc(role: str, org: str) -> str:
        return _st(sp, ("role", f"'{role}'"), ("org", org))

    def code(org: str, descr: str) -> str:
        return _st(sp, ("org", org), ("descr", descr))

    def fid(auth: str, val: str) -> str:
        return _st(sp, ("authority", auth), ("value", val))

    def part(role: str, given: str, family: str, i: int) -> str:
        return _st(sp, ("role", f"'{role}'"), ("given", f"'{given}'"),
                   ("family", family), ("i", str(i)))

    k53 = cs("o_orderkey % 53")
    k37 = cs("o_orderkey % 37")
    k7 = cs("o_orderkey % 7")
    k997 = cs("o_orderkey % 997")
    k13 = cs("o_orderkey % 13")
    name_texts = f"""CASE WHEN o_orderkey % 6 = 0 THEN
           {_arr(sp, txt("nl", f"concat(' Titel ', {k53}, ' ')"))}
         WHEN o_orderkey % 35 = 1 THEN
           {_arr(sp, txt("en", "'  '"), txt("nl", f"concat('Titel ', {k53})"))}
         ELSE
           {_arr(sp, txt("nl", f"concat('Titel ', {k53})"),
                 txt("en", f"concat('Title ', {k53})"))}
         END"""
    ts_fields = (("locale", "s"), ("text", "s"))
    abstract_texts = f"""CASE WHEN o_orderkey % 10 = 0 THEN
           {_arr(sp, _null_struct(sp, ts_fields))}
         ELSE
           {_arr(sp, txt("en",
                 f"concat('<p>Abstract &amp; detail ', {k37}, "
                 "'</p>  <b>bold</b>')"))}
         END"""
    funding_assocs = _arr(
        sp,
        assoc("Co-funder", member_org),
        assoc("Funding party", member_org),
    )
    code_fields = (("org", "s"), ("descr", "s"))
    funding_codes = f"""CASE WHEN o_orderkey % 8 = 0 THEN
           {_arr(sp, _null_struct(sp, code_fields))}
         WHEN o_orderkey % 8 = 1 THEN
           {_arr(sp, code(member_org, "''"),
                 code(member_org, f"concat('PhD fellowship round ', {k7})"))}
         ELSE
           {_arr(sp, code("'Someone Else'", "'decoy scheme'"),
                 code(member_org, f"concat('Research grant line ', {k7})"))}
         END"""
    id_fields = (("authority", "s"), ("value", "s"))
    funding_ids = f"""CASE CAST(o_orderkey % 7 AS INT)
           WHEN 0 THEN {_arr(sp, _null_struct(sp, id_fields))}
           WHEN 1 THEN {_arr(sp,
                fid("'VO Contract Id'", f"concat('VO', {k997})"),
                fid("'FWO Contract Id'", f"concat('G0', {k997})"))}
           WHEN 2 THEN {_arr(sp,
                fid("'Other Registry'", f"concat('X', {k997})"))}
           WHEN 3 THEN {_arr(sp,
                fid("'IWT Contract Id'", "''"),
                fid("'BOF Contract Id'", f"concat('BOF', {k997})"))}
           WHEN 4 THEN {_arr(sp,
                fid("'FED Contract Id'", f"concat('FED', {k997})"),
                fid("'AIO Contract Id'", f"concat('AIO', {k997})"))}
           ELSE {_arr(sp, fid(null_s, f"concat('ANY', {k997})"))}
         END"""
    part_fields = (("role", "s"), ("given", "s"), ("family", "s"),
                   ("i", "i"))
    participants = f"""CASE CAST(o_orderkey % 11 AS INT)
           WHEN 0 THEN {_arr(sp, _null_struct(sp, part_fields))}
           WHEN 1 THEN {_arr(sp,
                part("Co-promoter", "An", f"concat('Peeters', {k13})", 0))}
           WHEN 2 THEN {_arr(sp,
                part("Researcher", "Jan", f"concat('Claes', {k13})", 0),
                part("", "Piet", "'Anon'", 1))}
           WHEN 3 THEN {_arr(sp,
                part("Co-promotor", "Els", "'Maes'", 0),
                part("PhD Fellow", "Tom", f"concat('Willems', {k13})", 1))}
           ELSE {_arr(sp,
                part("Promoter", "Lies", f"concat('Jacobs', {k13})", 0),
                part("Co-promoter", "An", "'Peeters'", 1))}
         END"""
    return f"""
  SELECT o_orderkey AS seq,
         CASE WHEN o_orderkey % 29 = 0 THEN {null_s}
              ELSE concat('uuid-', {cs('o_orderkey')}) END AS uuid,
         {name_texts} AS name_texts,
         {abstract_texts} AS abstract_texts,
         {funding_assocs} AS funding_assocs,
         {funding_codes} AS funding_codes,
         {funding_ids} AS funding_ids,
         CASE WHEN o_orderkey % 23 = 0 THEN '9999-12-31T00:00:00'
              WHEN o_orderkey % 23 = 1 THEN {null_s}
              ELSE concat({d0}, 'T00:00:00') END AS startDate,
         concat({d_end}, 'T00:00:00') AS endDate,
         {participants} AS participants,
         concat('Universiteit ', {cs('o_custkey % 9')}) AS dataProvider
  FROM orders
"""


def _en_pick(texts: str, dialect: str) -> str:
    """_text_en: first non-empty en, else first non-empty (stripped)."""
    first = "[0]" if dialect == "spark" else "[1]"
    get0 = (lambda e: f"get({e}, 0)") if dialect == "spark" else (
        lambda e: f"({e}){first}")
    en = get0(f"filter({texts}, t -> t.locale = 'en' AND "
              "trim(coalesce(t.text, '')) <> '')")
    anyv = get0(f"filter({texts}, t -> "
                "trim(coalesce(t.text, '')) <> '')")
    if dialect == "duck":
        en = en.replace("filter(", "list_filter(", 1)
        anyv = anyv.replace("filter(", "list_filter(", 1)
    return f"trim(coalesce(({en}).text, ({anyv}).text))"


def _member_values() -> str:
    rows = ", ".join(
        f"('{s}', {fid}, '{nm}', '{pref}', "
        "array(" + ", ".join(f"'{t}'" for t in toks) + "))"
        for s, fid, nm, _, pref, toks in _MEMBERS
    )
    return rows


_PARSE_TEMPLATE = """
WITH raw AS ({rows}),
members AS (SELECT * FROM (VALUES {members})
            m(funder, funder_id, funder_name, id_prefix, auth_tokens)),
named AS (
  SELECT r.*,
         {fp_names} AS fp_names
  FROM raw r
),
exploded AS (
  SELECT n.*, fp.fp_name
  FROM named n, {unnest} AS fp(fp_name)
),
scoped AS (
  SELECT m.funder, m.funder_id, m.id_prefix, m.auth_tokens,
         m.funder_name, e.*
  FROM exploded e JOIN members m ON m.funder_name = e.fp_name
),
parsed AS (
  SELECT funder,
         CAST(funder_id AS {str_t}) AS funder_id,
         uuid AS project_uuid,
         {title} AS title,
         {grant_id} AS grant_id,
         {scheme} AS funder_scheme,
         {abstract_clean} AS abstract,
         {start_date} AS start_date,
         {end_date} AS end_date,
         {lead} AS lead_p,
         {co} AS co_p,
         dataProvider AS institution_name,
         id_prefix
  FROM scoped
)
SELECT funder, funder_id,
       coalesce(grant_id, {prefix_concat})
         AS funder_award_id,
       grant_id AS native_grant_id,
       project_uuid, title, abstract, funder_scheme,
       CASE WHEN funder_scheme IS NOT NULL AND {regex_match}
            THEN 'fellowship' ELSE 'grant' END AS funding_type,
       start_date, end_date,
       lead_p.given AS lead_given_name,
       lead_p.family AS lead_family_name,
       CASE WHEN co_p.i IS NOT NULL AND
                 (lead_p.i IS NULL OR co_p.i <> lead_p.i)
            THEN co_p.given END AS colead_given_name,
       CASE WHEN co_p.i IS NOT NULL AND
                 (lead_p.i IS NULL OR co_p.i <> lead_p.i)
            THEN co_p.family END AS colead_family_name,
       institution_name,
       'BE' AS country,
       CASE WHEN project_uuid IS NOT NULL THEN
         concat('https://researchportal.be/en/project/', project_uuid) END
         AS landing_page_url
FROM parsed
WHERE (title IS NOT NULL OR project_uuid IS NOT NULL)
  AND coalesce(grant_id, {prefix_concat}) IS NOT NULL
"""


def _parse_sql(dialect: str) -> str:
    sp = dialect == "spark"
    fl = "filter" if sp else "list_filter"
    tr = "transform" if sp else "list_transform"

    def get0(e: str) -> str:
        return f"get({e}, 0)" if sp else f"({e})[1]"

    texts = lambda col: _en_pick(col, dialect)  # noqa: E731
    fp_names = (
        f"array_distinct({tr}({fl}(funding_assocs, "
        "a -> a IS NOT NULL AND lower(trim(a.role)) = 'funding party'), "
        "a -> lower(a.org)))"
        if sp else
        f"list_distinct({tr}({fl}(funding_assocs, "
        "a -> a IS NOT NULL AND lower(trim(a.role)) = 'funding party'), "
        "a -> lower(a.org)))"
    )
    unnest = (
        "LATERAL explode(n.fp_names)" if sp
        else "unnest(n.fp_names)"
    )
    # Grant id: token-major / doc-order-minor first match over the
    # preference tokens, then any non-empty id.
    ids_ok = (f"{fl}(funding_ids, f -> f IS NOT NULL AND "
              "trim(coalesce(f.value, '')) <> '')")
    flat = "flatten" if sp else "flatten"
    by_tok = (
        f"{flat}({tr}(auth_tokens, tok -> {fl}({ids_ok}, "
        "f -> contains(upper(coalesce(f.authority, '')), tok))))"
    )
    grant_id = (
        f"coalesce(({get0(by_tok)}).value, ({get0(ids_ok)}).value)"
    )
    # Scheme: first code with a matching org AND non-empty descr.
    scheme = get0(
        f"{fl}(funding_codes, c -> c IS NOT NULL AND "
        "lower(coalesce(c.org, '')) = funder_name AND "
        "trim(coalesce(c.descr, '')) <> '')"
    ) + ".descr"
    scheme = f"trim({scheme})"
    # Participants: NULL padding dropped first (the fixture's empty
    # case), then the lead/co cascade.
    parts = f"{fl}(participants, p -> p IS NOT NULL)"
    lead_roles = ", ".join(f"'{r}'" for r in _LEAD_ROLES)
    lead1 = get0(f"{fl}({parts}, p -> array_contains(array({lead_roles}), "
                 "lower(p.role)))") if sp else get0(
        f"{fl}({parts}, p -> list_contains([{lead_roles}], "
        "lower(p.role)))")
    lead2 = get0(f"{fl}({parts}, p -> coalesce(p.role, '') <> '' AND "
                 "NOT contains(lower(p.role), 'co-'))")
    lead3 = get0(parts)
    co = get0(f"{fl}({parts}, p -> contains(lower(p.role), 'co-promoter')"
              " OR contains(lower(p.role), 'co-promotor'))")
    if sp:
        date_expr = lambda col: (  # noqa: E731
            f"CASE WHEN substring({col}, 1, 10) rlike "
            "'^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}' AND NOT "
            f"substring({col}, 1, 10) LIKE '9999%' "
            f"THEN substring({col}, 1, 10) END"
        )
        regex_match = ("funder_scheme rlike "
                       "'(?i)fellow|mandate|mandaat|phd|doctoral|postdoc'")
    else:
        date_expr = lambda col: (  # noqa: E731
            f"CASE WHEN regexp_matches(substring({col}, 1, 10), "
            "'^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}') AND NOT "
            f"substring({col}, 1, 10) LIKE '9999%' "
            f"THEN substring({col}, 1, 10) END"
        )
        regex_match = ("regexp_matches(funder_scheme, "
                       "'(?i)fellow|mandate|mandaat|phd|doctoral|postdoc')")
    abstract = texts("abstract_texts")
    abstract_clean = (
        "nullif(trim(regexp_replace(replace("
        f"regexp_replace({abstract}, '<[^>]+>', ' '), "
        "'&amp;', '&'), '\\\\s+', ' ')), '')"
        if sp else
        "nullif(trim(regexp_replace(replace("
        f"regexp_replace({abstract}, '<[^>]+>', ' ', 'g'), "
        "'&amp;', '&'), '\\s+', ' ', 'g')), '')"
    )
    return _PARSE_TEMPLATE.format(
        rows=_rows_sql(dialect),
        members=_member_values() if sp else _member_values().replace(
            "array(", "list_value("),
        fp_names=fp_names,
        unnest=unnest,
        str_t="STRING" if sp else "VARCHAR",
        title=texts("name_texts"),
        grant_id=grant_id,
        scheme=scheme,
        abstract_clean=abstract_clean,
        start_date=date_expr("startDate"),
        end_date=date_expr("endDate"),
        lead=f"coalesce({lead1}, {lead2}, {lead3})",
        co=co,
        regex_match=regex_match,
        prefix_concat=("concat(id_prefix, project_uuid)" if sp
                       else "(id_prefix || project_uuid)"),
    ).replace("{{", "{").replace("}}", "}")


@register(
    "fris_parse_projects",
    oracle=_parse_sql("duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=(
        "FRIS project parse shared by the 4-script Flemish scraper "
        "family (scripts/local/fwo_to_s3.py:160-305 et al.)"
    ),
    spread=("orders",),
)
def fris_parse_projects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funding-party membership filter + EN-text pick + authority-
    preference grant id + scheme/fellowship classification + lead/co
    participant cascade — the shared FRIS template run for all four
    member funders in one plan (module docstring has the semantics
    map and the reference's document-order subtleties)."""
    return spark.sql(_parse_sql("spark"))
