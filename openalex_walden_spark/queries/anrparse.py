"""ANR projects+partners parse stage (``scripts/local/anr_to_s3.py``
— Agence Nationale de la Recherche, 727 lines; the data.gouv.fr open
CSV pair per directorate).

Ported semantics (``process_projects_and_partners`` :240-345 +
``combine_and_transform`` :347-545, ``main`` :672-700):

* three source arms processed IN ORDER dgds_2010 -> dgds_2005 -> dgpie
  (main:675-699), each a projects CSV left-joined to ONE lead partner;
* **lead-partner selection** (:300-330): when the partners table has a
  role column, filter rows whose lowercased role regex-contains
  ``coord|principal|responsable|porteur`` (NaN excluded) and keep the
  FIRST match per project in feed order — a project with partners but
  no matching role gets NULL partner fields (left join).  The
  first-partner-per-project fallback fires only when the ARM-wide
  filter is empty (len==0) or the role column is absent; the fixture
  pins all three branches (dgds_2010 = role filter live, dgds_2005 =
  roles present but none ever match -> arm-wide fallback, dgpie = no
  role column -> fallback), so the SQL resolves the arm-level branch
  statically and the fidelity test re-derives it dynamically;
* **coalesce chains over the combined frame** (:389-447): title and
  abstract prefer ``*.anglais`` then ``*.francais``; amount cleans
  each candidate (strip spaces, ',' -> '.', to_numeric coerce — so a
  French-thousands ``1.234,56`` becomes ``1.234.56`` and coerces to
  NULL, reference-exact) then coalesces the DGDS column over the
  DGPIE one; start_date strict-parses ``%Y-%m-%d`` (coerce) over
  t0_scientifique then date_debut and re-renders ``%Y-%m-%d``;
  edition_year numeric-coalesces aap.edition then action.edition
  (stays DOUBLE — pandas to_numeric); funding_program coalesces
  programme.acronyme then action.titre.francais (pandas 2.x silently
  downcasts the all-None seed column on fillna, so every chain is
  plain COALESCE — verified against pandas 2.2);
* country is the partner's adresse.pays passthrough — the ``else
  'France'`` branch (:465-468) only fires when the column is absent
  from the combined frame, which never happens once any arm has
  partners, so a partner-less project keeps country NULL (preserved
  reference quirk: the constant-France fallback is dead in practice);
* dedup by project_id keep FIRST across the combined arm order
  (:480-484) — arm rank then feed order;
* ``ingested_at`` (utcnow) is a runtime seam, not emitted.

Scale: lead-partner pick is one rank-limit window on the partner
table (map-side WindowGroupLimit after the role filter), then one
equi-join projects<-lead on the project key and a second rank-limit
window for the cross-arm dedup.  No collect, no cartesian; the
reference holds everything in one pandas frame.

Fixture: projects from ``orders`` (arm = o_orderkey % 3; duplicate
project ids via o_custkey % 450 span arms so the keep-first dedup
has real work), partners from ``lineitem`` (l_orderkey fan-out,
feed order = l_linenumber, role lattice cycling match/no-match/NULL).

tests/test_template_fidelity.py::test_anr_matches_reference_semantics
re-derives the whole output in Python from the reference's rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries.registry import register

# the reference's role regex, lowercased contains (anr_to_s3.py:305)
ANR_ROLE_PAT = "coord|principal|responsable|porteur"


def _projects_sql(dialect: str) -> str:
    sp = dialect == "spark"
    S = "STRING" if sp else "VARCHAR"
    cs = lambda e: f"CAST({e} AS {S})"  # noqa: E731
    null_s = f"CAST(NULL AS {S})"
    d0 = ("date_format(o_orderdate, 'yyyy-MM-dd')" if sp
          else "strftime(o_orderdate, '%Y-%m-%d')")
    d1 = (("date_format(date_add(o_orderdate, CAST(90 + o_orderkey % 400 "
           "AS INT)), 'yyyy-MM-dd')") if sp else
          ("strftime(CAST(o_orderdate AS DATE) + CAST(90 + o_orderkey % "
           "400 AS INT), '%Y-%m-%d')"))
    price = cs("o_totalprice")
    return f"""
  SELECT o_orderkey AS seq,
         CAST(o_orderkey % 3 AS INT) AS arm,
         concat('ANR-20-CE', lpad({cs('o_custkey % 450')}, 4, '0'))
           AS code_decision,
         CASE WHEN o_orderkey % 11 = 0 THEN {null_s}
              ELSE concat('ACRO', {cs('o_orderkey % 37')}) END AS acronym,
         CASE WHEN o_orderkey % 4 = 0 THEN {null_s}
              ELSE concat('English title ', {cs('o_orderkey % 53')}) END
           AS titre_anglais,
         CASE WHEN o_orderkey % 6 = 5 THEN {null_s}
              ELSE concat('Titre francais ', {cs('o_orderkey % 53')}) END
           AS titre_francais,
         CASE WHEN o_orderkey % 5 = 0 THEN {null_s}
              ELSE concat('English abstract ', {cs('o_orderkey % 71')}) END
           AS resume_anglais,
         CASE WHEN o_orderkey % 7 = 0 THEN {null_s}
              ELSE concat('Resume francais ', {cs('o_orderkey % 71')}) END
           AS resume_francais,
         CASE WHEN o_orderkey % 3 = 2 THEN {null_s}
              WHEN o_orderkey % 6 = 0 THEN {null_s}
              WHEN o_orderkey % 6 = 1 THEN 'N/A'
              WHEN o_orderkey % 6 = 2 THEN '1.234,56'
              WHEN o_orderkey % 6 = 3
                THEN replace({price}, '.', ',')
              WHEN o_orderkey % 6 = 4
                THEN concat('123 ', {cs('o_orderkey % 900')}, ',50')
              ELSE {price} END AS montant_dgds,
         CASE WHEN o_orderkey % 3 <> 2 THEN {null_s}
              WHEN o_orderkey % 5 = 0 THEN {null_s}
              ELSE {price} END AS aide_dgpie,
         CASE WHEN o_orderkey % 3 = 2 THEN {null_s}
              WHEN o_orderkey % 9 = 0 THEN 'TBC'
              WHEN o_orderkey % 9 = 1 THEN {null_s}
              ELSE {d0} END AS t0_scientifique,
         CASE WHEN o_orderkey % 3 <> 2 THEN {null_s}
              WHEN o_orderkey % 8 = 0 THEN 'en cours'
              ELSE {d1} END AS date_debut,
         CASE WHEN o_orderkey % 3 = 2 THEN {null_s}
              WHEN o_orderkey % 8 = 0 THEN 'inconnue'
              ELSE {cs('1995 + o_orderkey % 30')} END AS aap_edition,
         CASE WHEN o_orderkey % 3 <> 2 THEN {null_s}
              ELSE {cs('2010 + o_orderkey % 16')} END AS action_edition,
         CASE WHEN o_orderkey % 3 = 2 THEN {null_s}
              WHEN o_orderkey % 10 = 0 THEN {null_s}
              ELSE concat('PRC-', {cs('o_orderkey % 12')}) END
           AS programme_acronyme,
         CASE WHEN o_orderkey % 3 <> 2 THEN {null_s}
              ELSE concat('Action investissement ',
                          {cs('o_orderkey % 9')}) END
           AS action_titre_francais
  FROM orders
"""


def _partners_sql(dialect: str) -> str:
    sp = dialect == "spark"
    S = "STRING" if sp else "VARCHAR"
    cs = lambda e: f"CAST({e} AS {S})"  # noqa: E731
    null_s = f"CAST(NULL AS {S})"
    return f"""
  SELECT l_orderkey AS p_orderkey,
         CAST(l_linenumber AS INT) AS p_seq,
         CAST(l_suppkey AS INT) AS p_sk,
         CAST(l_partkey AS INT) AS p_pk,
         CASE CAST((l_orderkey * 3 + l_linenumber) % 5 AS INT)
              WHEN 0 THEN 'Coordinateur'
              WHEN 1 THEN 'Partenaire'
              WHEN 2 THEN 'Porteur de projet'
              WHEN 3 THEN {null_s}
              ELSE 'Membre' END AS role_dgds2010,
         CASE CAST(l_linenumber % 3 AS INT)
              WHEN 0 THEN 'Partenaire'
              WHEN 1 THEN 'Membre'
              ELSE 'Autre' END AS role_dgds2005,
         concat('Nom', {cs('l_suppkey % 97')}) AS resp_nom,
         concat('Prenom', {cs('l_partkey % 89')}) AS resp_prenom,
         CASE WHEN l_suppkey % 4 = 0 THEN {null_s}
              ELSE concat('0000-0001-', lpad({cs('l_suppkey % 9999')},
                          4, '0'), '-', {cs('l_partkey % 10')}) END
           AS resp_orcid,
         concat('CNRS UMR ', {cs('l_suppkey % 50')}) AS nom_organisme,
         CASE CAST(l_suppkey % 3 AS INT) WHEN 0 THEN 'Public'
              WHEN 1 THEN 'Prive' ELSE 'Autre' END AS categorie_organisme,
         CASE WHEN l_partkey % 7 = 0 THEN {null_s}
              WHEN l_partkey % 5 = 0 THEN 'Allemagne'
              ELSE 'France' END AS adresse_pays,
         CASE CAST(l_partkey % 4 AS INT) WHEN 0 THEN 'Paris'
              WHEN 1 THEN 'Lyon' WHEN 2 THEN 'Grenoble'
              ELSE 'Marseille' END AS adresse_ville,
         concat(lpad({cs('l_suppkey % 1000')}, 9, '0'), 'A') AS code_rnsr
  FROM lineitem
"""


_TEMPLATE = """
WITH projects AS ({projects}),
partners AS ({partners}),
-- lead partner per (arm, project): arm 0 filters on the matching-role
-- regex (anr_to_s3.py:303-311); arms 1 and 2 take the first partner in
-- feed order because the fixture pins arm 1's roles to never match
-- (arm-wide len==0 fallback, :313-315) and arm 2 has no role column
-- (:318 role_col is None).  Keep-first = pandas drop_duplicates
-- keep='first' over CSV feed order; the fixture pins that order to
-- (p_seq, p_sk, p_pk) — (l_orderkey, l_linenumber) alone is NOT unique
-- in the synthetic lineitem, and an underspecified sort tie-breaks
-- differently across engines.
lead_ranked AS (
  SELECT p.*, pr.arm, pr.seq AS proj_seq,
         row_number() OVER (
           PARTITION BY pr.arm, p.p_orderkey
           ORDER BY p.p_seq ASC, p.p_sk ASC, p.p_pk ASC) AS prn
  FROM partners p
  JOIN projects pr ON pr.seq = p.p_orderkey
  WHERE (pr.arm = 0 AND {role_match})
     OR pr.arm IN (1, 2)
),
leads AS (
  SELECT * FROM lead_ranked WHERE prn = 1
),
joined AS (
  SELECT pr.*,
         l.resp_nom, l.resp_prenom, l.resp_orcid, l.nom_organisme,
         l.categorie_organisme, l.adresse_pays, l.adresse_ville,
         l.code_rnsr
  FROM projects pr
  LEFT JOIN leads l
    ON l.arm = pr.arm AND l.p_orderkey = pr.seq
),
transformed AS (
  SELECT
    CASE CAST(arm AS INT) WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END
      AS arm_rank,
    seq,
    code_decision AS project_id,
    acronym,
    coalesce(titre_anglais, titre_francais) AS title,
    coalesce(resume_anglais, resume_francais) AS abstract,
    coalesce({clean_dgds}, {clean_dgpie}) AS amount,
    coalesce({date_t0}, {date_debut}) AS start_date,
    coalesce(try_cast(aap_edition AS DOUBLE),
             try_cast(action_edition AS DOUBLE)) AS edition_year,
    coalesce(programme_acronyme, action_titre_francais)
      AS funding_program,
    nom_organisme AS institution,
    categorie_organisme AS institution_type,
    adresse_ville AS city,
    adresse_pays AS country,
    resp_prenom AS pi_given_name,
    resp_nom AS pi_family_name,
    resp_orcid AS pi_orcid,
    code_rnsr AS rnsr_code,
    CASE CAST(arm AS INT) WHEN 0 THEN 'dgds_2010'
         WHEN 1 THEN 'dgds_2005' ELSE 'dgpie' END AS data_source
  FROM joined
),
deduped AS (
  SELECT *, row_number() OVER (
           PARTITION BY project_id ORDER BY arm_rank ASC, seq ASC) AS rn
  FROM transformed
)
SELECT project_id, acronym, title, abstract, amount, start_date,
       edition_year, funding_program, institution, institution_type,
       city, country, pi_given_name, pi_family_name, pi_orcid,
       rnsr_code, data_source
FROM deduped WHERE rn = 1
"""


def _sql(dialect: str) -> str:
    sp = dialect == "spark"
    # amount clean (anr_to_s3.py:404-410): strip spaces, ',' -> '.',
    # numeric-coerce.  try_cast mirrors pandas to_numeric(errors='coerce')
    # on the fixture's value set (plain/junk/multi-dot).
    clean = lambda c: (  # noqa: E731
        f"try_cast(replace(replace({c}, ' ', ''), ',', '.') AS DOUBLE)")
    if sp:
        dt = lambda c: (  # noqa: E731
            f"date_format(try_to_date({c}, 'yyyy-MM-dd'), 'yyyy-MM-dd')")
        role_match = (
            f"lower(coalesce(p.role_dgds2010, '')) RLIKE '{ANR_ROLE_PAT}'")
    else:
        dt = lambda c: (  # noqa: E731
            f"strftime(try_strptime({c}, '%Y-%m-%d'), '%Y-%m-%d')")
        role_match = (
            f"regexp_matches(lower(coalesce(p.role_dgds2010, '')), "
            f"'{ANR_ROLE_PAT}')")
    return _TEMPLATE.format(
        projects=_projects_sql(dialect),
        partners=_partners_sql(dialect),
        role_match=role_match,
        clean_dgds=clean("montant_dgds"),
        clean_dgpie=clean("aide_dgpie"),
        date_t0=dt("t0_scientifique"),
        date_debut=dt("date_debut"),
    )


@register(
    "anr_parse_projects",
    oracle=_sql("duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders", "lineitem"),
    doc=(
        "ANR projects+partners parse (scripts/local/anr_to_s3.py:"
        "240-345,347-545,672-700)"
    ),
    spread=("orders", "lineitem"),
)
def anr_parse_projects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-partner role selection + left join + the combined-frame
    coalesce chains (title/abstract language preference, French-number
    amount clean, strict-ISO date coerce, numeric edition) + keep-first
    dedup across the three directorate arms (module docstring has the
    full semantics map, including the dead constant-France fallback)."""
    return spark.sql(_sql("spark"))
