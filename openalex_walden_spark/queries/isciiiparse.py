"""ISCIII (Instituto de Salud Carlos III) project-detail parse stage
(scripts/local/isciii_to_s3.py).

The reference crawls the Portal FIS project-detail pages (search +
checkpointed detail fetch, :284-375) — that HTTP/DOM layer is the seam.
What ports is ``parse_project_html``'s per-project compute (:377-517):

* the 'bocadillo' label routing is modeled as already-extracted raw
  fields (the DOM lookup is the seam; the VALUE parsing is compute);
* period 'dd/mm/YYYY - dd/mm/YYYY' -> ISO start/end dates (:425-438),
  each side independently coerce-to-NULL;
* Spanish PI names (:440-457): 'FAMILY, GIVEN' comma form title-cased
  per part; otherwise first token = given, REST = family (the reverse
  of the last-token-family kit — Spanish compound surnames), single
  token -> family only;
* the European amount grammar (:459-487): both separators -> '.'
  thousands + ',' decimal; comma-only -> thousands iff exactly 3
  trailing digits, else decimal; multiple periods -> thousands;
  unparseable -> NULL; currency EUR only with an amount;
* funding type from the project-id prefix (:489-499): FI/RD ->
  fellowship, CP -> training, DTS -> infrastructure, else research
  (the prefix is the segment before '/' when present, else the first
  two characters);
* the landing-page URL composition (:516).

Fixture: one synthetic detail page per orders row; the amount lattice
covers all four separator grammars, the name lattice both Spanish
forms.  Plan: one scan, pure column algebra; no shuffle, no Python.

tests/test_template_fidelity.py re-derives the expected output in
Python (reference semantics, independent of this SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_ROWS_SPARK = """
SELECT o_orderkey AS rid,
  CASE CAST(o_orderkey % 6 AS INT)
    WHEN 0 THEN concat('PI', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'),
                       '/', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
    WHEN 1 THEN concat('FI', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'),
                       '/', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
    WHEN 2 THEN concat('CP', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'),
                       '/', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
    WHEN 3 THEN concat('DTS', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'),
                       '/', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
    WHEN 4 THEN concat('RD', lpad(CAST(o_orderkey % 23 AS STRING), 2, '0'),
                       '/', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
    ELSE concat('COV20', lpad(CAST(o_orderkey % 100000 AS STRING), 5, '0'))
  END AS project_id,
  concat('Proyecto de salud ', CAST(o_orderkey AS STRING)) AS title,
  CASE WHEN o_orderkey % 4 <> 0
       THEN concat('Resumen del proyecto ', CAST(o_orderkey AS STRING)) END
    AS abstract,
  CASE CAST(o_orderkey % 4 AS INT)
    WHEN 0 THEN 'GARCIA LOPEZ, MARIA JOSE'
    WHEN 1 THEN 'Antonio Fernandez Ruiz'
    WHEN 2 THEN 'SOLENO'
    ELSE NULL
  END AS pi_raw,
  CASE CAST(o_orderkey % 3 AS INT)
    WHEN 0 THEN concat('01/01/', CAST(o_orderkey % 20 + 2005 AS STRING),
                       '  - 31/12/', CAST(o_orderkey % 20 + 2008 AS STRING))
    WHEN 1 THEN concat('15/07/', CAST(o_orderkey % 20 + 2005 AS STRING),
                       ' - 99/99/', CAST(o_orderkey % 20 + 2008 AS STRING))
    ELSE 'pendiente de resolución'
  END AS period_raw,
  CASE CAST(o_orderkey % 5 AS INT)
    WHEN 0 THEN concat(CAST(o_orderkey % 300 + 1 AS STRING), ',',
                       lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'),
                       ' €')
    WHEN 1 THEN concat('1.', lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'),
                       ',', lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'),
                       ' euros')
    WHEN 2 THEN concat('1.', lpad(CAST(o_orderkey % 1000 AS STRING), 3, '0'),
                       '.', lpad(CAST(o_orderkey % 999 AS STRING), 3, '0'),
                       ' EUR')
    WHEN 3 THEN concat(CAST(o_orderkey % 900 + 100 AS STRING), ',',
                       lpad(CAST(o_orderkey % 100 AS STRING), 2, '0'), '€')
    ELSE NULL
  END AS amount_raw,
  concat('Hospital Universitario ', CAST(o_orderkey % 120 AS STRING))
    AS institution,
  concat('salud; investigación ', CAST(o_orderkey % 11 AS STRING))
    AS keywords,
  CASE WHEN o_orderkey % 2 = 0
       THEN 'Proyectos de Investigación en Salud' END AS funder_scheme
FROM orders
"""


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, rl = k.g, k.rl
    if dialect == "spark":
        rows = _ROWS_SPARK
        initcap = lambda x: f"initcap({x})"  # noqa: E731
    else:
        rows = _ROWS_SPARK.replace("AS STRING", "AS VARCHAR")

        # DuckDB 1.0 has no initcap; emulate Python str.title() over
        # space-delimited words (the fixture's only word boundary).
        def initcap(x: str) -> str:
            return (
                f"list_aggr(list_transform(string_split(lower({x}), ' '), "
                f"w -> concat(upper(substr(w, 1, 1)), substr(w, 2))), "
                f"'string_agg', ' ')"
            )

    date_pat = "([0-9]{2}/[0-9]{2}/[0-9]{4}) *- *([0-9]{2}/[0-9]{2}/[0-9]{4})"
    has_space = "^\\\\S+ "

    def iso(part: int) -> str:
        # datetime.strptime('%d/%m/%Y') with coerce-to-NULL, rendered
        # '%Y-%m-%d'.  try_to_date/try_cast reject impossible dates the
        # same way strptime raises.
        ext = f"regexp_extract(period_raw, '{date_pat}', {part})"
        if dialect == "spark":
            return (f"date_format(try_to_date(nullif({ext}, ''),"
                    f" 'dd/MM/yyyy'), 'yyyy-MM-dd')")
        return (f"strftime(try_strptime(nullif({ext}, ''),"
                f" '%d/%m/%Y'), '%Y-%m-%d')")

    # the European amount grammar over the symbol-stripped cell
    ac = f"regexp_replace(coalesce(amount_raw, ''), '[^0-9.,]', ''{g})"
    amount = f"""
    CASE
      WHEN {ac} LIKE '%,%' AND {ac} LIKE '%.%'
        THEN try_cast(replace(replace({ac}, '.', ''), ',', '.') AS DOUBLE)
      WHEN {ac} LIKE '%,%' THEN
        CASE WHEN {rl(ac, "^[^,]*,[0-9]{3}$")}
             THEN try_cast(replace({ac}, ',', '') AS DOUBLE)
             ELSE try_cast(replace({ac}, ',', '.') AS DOUBLE)
        END
      WHEN length({ac}) - length(replace({ac}, '.', '')) > 1
        THEN try_cast(replace({ac}, '.', '') AS DOUBLE)
      ELSE try_cast(nullif({ac}, '') AS DOUBLE)
    END"""

    prefix = (
        "CASE WHEN project_id LIKE '%/%' "
        "THEN upper(split_part(project_id, '/', 1)) "
        "ELSE upper(substr(project_id, 1, 2)) END"
    )

    return f"""
WITH raw AS ({rows}),
dated AS (
  SELECT *, {iso(1)} AS start_date, {iso(2)} AS end_date,
         {amount} AS amount_value,
         {prefix} AS id_prefix
  FROM raw
)
SELECT
  project_id, title, abstract,
  CASE
    WHEN pi_raw IS NULL THEN NULL
    WHEN pi_raw LIKE '%,%'
      THEN nullif(trim({initcap("split_part(pi_raw, ',', 2)")}), '')
    WHEN {rl("pi_raw", has_space)}
      THEN {initcap("split_part(pi_raw, ' ', 1)")}
  END AS pi_given_name,
  CASE
    WHEN pi_raw IS NULL THEN NULL
    WHEN pi_raw LIKE '%,%'
      THEN trim({initcap("split_part(pi_raw, ',', 1)")})
    WHEN {rl("pi_raw", has_space)}
      THEN {initcap("trim(substr(pi_raw, length(split_part(pi_raw, ' ', 1)) + 2))")}
    ELSE {initcap('pi_raw')}
  END AS pi_family_name,
  institution, start_date, end_date,
  amount_value AS amount,
  CASE WHEN amount_value IS NOT NULL THEN 'EUR' END AS currency,
  keywords, funder_scheme,
  CASE
    WHEN id_prefix IN ('FI', 'RD') THEN 'fellowship'
    WHEN id_prefix = 'CP' THEN 'training'
    WHEN id_prefix = 'DTS' THEN 'infrastructure'
    ELSE 'research'
  END AS funding_type,
  concat('https://portalfis.isciii.es/es/proyecto?idProyecto=', project_id)
    AS landing_page_url
FROM dated
"""


@register(
    "isciii_parse_awards",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc="ISCIII Portal-FIS project parse stage (scripts/local/isciii_to_s3.py)",
)
def isciii_parse_awards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISCIII project-detail normalize (module docstring has the full
    semantics map).  One scan, pure column algebra; no shuffle, no
    Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
