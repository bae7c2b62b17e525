"""RFBR (Russian Foundation for Basic Research / РФФИ) legacy-portal
projects parse (scripts/local/rfbr_to_s3.py — 699 LoC).

The reference harvests ``www.rfbr.ru/project_search`` in two
checkpointed phases: listing pages (year x page grid, 20 rows/page)
and detail pages for the OpenAlex-cited subset.  The HTTP layer, the
checkpoint/resume machinery and the OpenAlex seed download (:160-226,
:328-533) are the seam; the fixture delivers one listing row's HTML
fragment per orders key plus the row's seed-membership flag (the seed
file is an external input).  Everything downstream ports:

* ``_clean`` (:245-250): ``<br>`` to space, tag strip, HTML unescape,
  NBSP to space, ws collapse.  DEVIATION (documented): the SQL
  unescape covers the entity vocabulary the portal emits
  (&laquo; &raquo; &nbsp; &quot; &#39; &mdash; and LAST &amp; — the
  single-pass order of ``html.unescape``); the fidelity test runs the
  real ``html.unescape`` over the same fixture;
* ``parse_listing`` (:253-278): the ``_LIST_ROW_RE`` row grammar
  (project id, title, proj_more blob, grant-number cell over
  ``\\s+``-normalized HTML), the ``_MORE_FIELD_RE`` label/value pairs
  (per-label extraction — equivalent to the reference's dict build
  because portal labels are unique per row), the ``(\\d{4})`` year
  search in «Год проведения», and the empty-grant-number row drop;
* ``load_listing_rows`` (:433-450): ONE row per grant number, keeping
  the earliest «Год проведения» (missing year sorts as '9999');
  KEPT QUIRK: this dedupe runs BEFORE the supported-status filter, so
  a grant number whose earliest-year row is a rejected application is
  dropped entirely even when a later supported row exists;
* the build filter (:558-562): only ``status == 'поддержана'`` rows
  are awards; rejected/unknown applications are dropped;
* ``parse_detail`` (:281-297) on the kept row when seed-targeted
  (:457-474 — supported AND base number in seed): the page-title
  gate, the malformed ``projects_th`` field grammar («Номер гранта»
  required), the «Аннотация к заявке:» lazy abstract capture;
* ``split_pi_ru`` (:304-321): the degree-tail cut (fixture keeps the
  reference-cased degree words — Java (?i) is ASCII-only, see
  docstring note), strip/comma-strip, Russian order Family Given
  Patronymic -> family = first token, given = rest, mononym ->
  family only;
* ``GRANT_NUM_BASE_RE`` (:153) base-number extraction for seed
  matching (suffixed numbers like '13-05-10234 а' match their base);
* amounts: the portal publishes none -> amount/currency intentionally
  absent (reference §6.7 waiver, :59-62).

Fixture: one listing row per orders key; ``g = floor(k/3)`` groups 3
keys per grant number with distinct years so keep-earliest always
chooses; status/fields ride ``k``; seed membership = ``g % 3 != 0``
(carried as a fixture column — it is seam data).

Plan: one orders scan, clean/extract layers behind Generate barriers
(Spark) / MATERIALIZED CTEs (DuckDB), ONE exchange for the
keep-earliest window on the grant number (groups of <= 3 by
construction), detail enrichment as pure column expressions on the
kept row (the reference fetches details only for kept rows, so no
second join is needed).  No Python.

tests/test_template_fidelity.py re-derives the full expected output in
Python (reference semantics, real ``html.unescape``) and AST-pins the
listing/detail/degree regex vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# Backslash convention: doubled for the Spark string parser;
# sqlkit.build halves them for DuckDB.

# rfbr_to_s3.py:229-233 — over \s+-normalized HTML; (.*?) DOTALL is
# irrelevant post-normalization (no newlines survive)
_LIST_ROW = ('<a href="/project_search/(\\\\d+)/" class="link">(.*?)</a>'
             '<div class="proj_more">(.*?)</div></td><td>([^<]*)</td>')

# rfbr_to_s3.py:237-242
_DETAIL_FIELD_TMPL = ('<td class="projects_th">LABEL:</th><td>(.*?)</td>')
_DETAIL_TITLE = '<h1 class="page_title"[^>]*>(.*?)</h1>'
_DETAIL_ABSTRACT = ('<h2 class="small_title">Аннотация к заявке:</h2>'
                    '(.*?)(?:<h2|<div class="col-lg-3|<footer|</div>)')

# rfbr_to_s3.py:304-308 (fixture keeps reference casing; see docstring)
_RU_DEGREE = (',\\\\s*(?:Академик|Член-корреспондент|Доктор|Кандидат|'
              'Профессор|Доцент|без\\\\s+ученой\\\\s+степени|PhD|'
              'Ph\\\\.D\\\\.?).*$')

# rfbr_to_s3.py:153
_GRANT_BASE = '^(\\\\d{2}-\\\\d{2}-\\\\d{4,6})'

# single-pass entity map for _clean's unescape step (&amp; LAST)
_ENTITIES = (
    ("&laquo;", "«"), ("&raquo;", "»"), ("&nbsp;", " "),
    ("&quot;", '"'), ("&#39;", "'"), ("&mdash;", "—"), ("&amp;", "&"),
)

_BASE_URL = "https://www.rfbr.ru"


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, cs, bar, asize, elem, rx = k.g, k.cs, k.bar, k.asize, k.elem, k.rx
    splitre = k.splitre

    def sl_join(a: str, start: str) -> str:
        if dialect == "spark":
            return (f"array_join(slice({a}, {start}, "
                    f"size({a}) - ({start}) + 1), ' ')")
        return (f"array_to_string(list_slice({a}, {start}, "
                f"len({a})), ' ')")

    def clean(x: str) -> str:
        """_clean (rfbr:245-250): br, tags, entities, NBSP, collapse."""
        e = f"regexp_replace({x}, '<br\\\\s*/?>', ' '{g})"
        e = f"regexp_replace({e}, '<[^>]+>', ' '{g})"
        for ent, ch in _ENTITIES:
            c = ch.replace("'", "''")
            e = f"replace({e}, '{ent}', '{c}')"
        e = f"replace({e}, chr(160), ' ')"
        return f"trim(regexp_replace({e}, '\\\\s+', ' '{g}))"

    def cleann(x: str) -> str:
        return f"nullif({clean(x)}, '')"

    K = cs("k")

    def fld(label: str) -> str:
        """_MORE_FIELD_RE per-label lookup (labels unique per row)."""
        return rx("more_raw", f"{label}:\\\\s*<b>(.*?)</b>", 1)

    def dfld(label: str) -> str:
        pat = _DETAIL_FIELD_TMPL.replace("LABEL", label)
        return rx("detail_html", pat, 1)

    # ---- fixture: one listing-row fragment per key --------------------
    title_html = (
        "CASE CAST(k % 4 AS INT) "
        f"WHEN 0 THEN concat('Исследование процессов &laquo;синтеза&raquo;"
        f" <br/> серия ', {K}) "
        f"WHEN 1 THEN concat('Механизмы &amp; динамика явлений ', {K}) "
        f"WHEN 2 THEN concat('Модели  климата&nbsp;региона ', {K}) "
        f"ELSE concat('Структура <i>белков</i> группы ', {K}) END")
    year_field = (
        "CASE WHEN k % 13 = 0 THEN '' "
        f"ELSE concat('Год проведения: <b>', {cs('1994 + k % 26')}, "
        "' год</b>') END")
    area_field = (
        "CASE WHEN k % 4 = 0 THEN '' "
        f"ELSE concat('Область научного знания: <b>0', {cs('1 + k % 8')}, "
        "' Биология</b>') END")
    contest_field = (
        "CASE WHEN k % 3 = 0 THEN '' "
        f"ELSE concat('Тип конкурса: <b>Инициативные проекты ', "
        f"{cs('k % 5')}, '</b>') END")
    status_field = (
        "CASE CAST(k % 5 AS INT) "
        "WHEN 0 THEN 'Статус заявки: <b>не поддержана</b>' "
        "WHEN 1 THEN '' "
        "ELSE 'Статус заявки: <b> поддержана </b>' END")
    gn_cell = (
        "CASE WHEN k % 19 = 0 THEN ' ' "
        "WHEN k % 11 = 0 THEN concat(gn_base, ' а') "
        "ELSE gn_base END")

    pi_html = (
        "CASE CAST(k % 5 AS INT) "
        f"WHEN 0 THEN concat('Иванов Иван', '&nbsp;', 'Иванович ', {K}) "
        "WHEN 1 THEN concat('Петрова Анна Сергеевна, Доктор "
        f"физико-математических наук ', {K}) "
        "WHEN 2 THEN 'Сидоров' "
        f"WHEN 3 THEN concat('Кузнецов П. А., без ученой степени ', {K}) "
        "ELSE '' END")
    abstract_html = (
        "CASE WHEN k % 6 = 0 THEN '' "
        "ELSE concat('<h2 class=\"small_title\">Аннотация к заявке:</h2>"
        "<p>Работа посвящена &amp; изучению задачи ', "
        f"{K}, '.</p>') END")

    # ---- name split (split_pi_ru, rfbr:311-321) -----------------------
    toks = splitre("nm", "\\\\s+")
    given = (f"CASE WHEN nm IS NULL OR nm = '' THEN NULL "
             f"WHEN {asize('toks')} = 1 THEN NULL "
             f"ELSE {sl_join('toks', '2')} END")
    family = (f"CASE WHEN nm IS NULL OR nm = '' THEN NULL "
              f"ELSE {elem('toks', '1')} END")
    given = given.replace("toks", f"({toks})")
    family = family.replace("toks", f"({toks})")

    parsed_bar = bar("parsed", "fixture", ["k", "g", "seeded"], [
        ("pid", rx("row_html", _LIST_ROW, 1)),
        ("title_raw", rx("row_html", _LIST_ROW, 2)),
        ("more_raw", rx("row_html", _LIST_ROW, 3)),
        ("gn_cell_raw", rx("row_html", _LIST_ROW, 4)),
    ])

    gn_src = "coalesce(gn_cell_raw, '')"
    fields_bar = bar("fields", "parsed", ["k", "g", "seeded", "pid"], [
        ("title", cleann("title_raw")),
        ("gn", f"nullif({clean(gn_src)}, '')"),
        ("year_s", rx(clean(f"coalesce({fld('Год проведения')}, '')"),
                      "(\\\\d{4})", 1)),
        ("area", cleann(f"coalesce({fld('Область научного знания')}, '')")),
        ("contest", cleann(f"coalesce({fld('Тип конкурса')}, '')")),
        ("status", cleann(f"coalesce({fld('Статус заявки')}, '')")),
    ])

    detail_bar = bar("detailed", "kept",
                     ["k", "g", "pid", "gn", "title", "year_s", "area",
                      "contest", "status"], [
        ("detail_ok",
         f"detail_html IS NOT NULL AND "
         f"{rx('detail_html', _DETAIL_TITLE, 1)} IS NOT NULL AND "
         + dfld("Номер гранта") + " IS NOT NULL"),
        ("pi_c", cleann(f"coalesce({dfld('Руководитель')}, '')")),
        ("abstract_c", cleann(
            f"coalesce({rx('detail_html', _DETAIL_ABSTRACT, 1)}, '')")),
    ])

    return f"""
WITH base AS (
  SELECT o_orderkey AS k,
    CAST(floor(o_orderkey / 3.0) AS BIGINT) AS g
  FROM orders
),
seeds AS (
  SELECT k, g, (g % 3 <> 0) AS seeded,
    concat(lpad({cs('13 + g % 7')}, 2, '0'), '-',
           lpad({cs('1 + g % 49')}, 2, '0'), '-',
           {cs('10000 + g')}) AS gn_base
  FROM base
),
fixture AS (
  SELECT k, g, seeded,
    {gn_cell} AS gn_raw,
    concat('<a href="/project_search/', {cs('100000 + k')},
           '/" class="link">', {title_html},
           '</a><div class="proj_more">',
           {year_field}, {area_field}, {contest_field}, {status_field},
           '</div></td><td>', {gn_cell}, '</td>') AS row_html
  FROM seeds
),
{parsed_bar},
{fields_bar},
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY gn ORDER BY coalesce(year_s, '9999') ASC, k ASC)
      AS rn,
      CASE WHEN NOT seeded OR k % 17 = 0 THEN NULL ELSE
        concat('<h1 class="page_title">Проект</h1>',
          '<td class="projects_th">Номер гранта:</th><td>',
          gn, '</td>',
          CASE WHEN k % 5 = 4 THEN '' ELSE concat(
            '<td class="projects_th">Руководитель:</th><td>',
            {pi_html}, '</td>') END,
          {abstract_html},
          '<h2 class="small_title">Статус</h2>') END AS detail_html
    FROM fields WHERE gn IS NOT NULL) x
  WHERE rn = 1 AND status = 'поддержана'
),
{detail_bar},
named AS (
  SELECT *, CASE WHEN detail_ok THEN pi_c END AS pi_raw,
    CASE WHEN detail_ok THEN abstract_c END AS abstract
  FROM detailed
),
split_cte AS (
  SELECT *, CASE WHEN pi_raw IS NOT NULL THEN
      trim(trim(BOTH ',' FROM trim(regexp_replace(pi_raw,
        '(?is){_RU_DEGREE}', ''{g})))) END AS nm
  FROM named
)
SELECT
  gn AS funder_award_id,
  title AS display_name,
  abstract AS description,
  pi_raw AS lead_pi_raw,
  {given} AS lead_given_name,
  {family} AS lead_family_name,
  area AS research_area,
  contest AS funder_scheme,
  status,
  year_s AS start_year,
  {cs('pid')} AS internal_id,
  concat('{_BASE_URL}/project_search/', {cs('pid')}, '/')
    AS landing_page_url
FROM split_cte
"""


@register(
    "rfbr_parse_projects",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("RFBR legacy-portal projects parse "
         "(scripts/local/rfbr_to_s3.py)"),
    spread=("orders",),
)
def rfbr_parse_projects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFBR listing+detail grammar, keep-earliest dedupe (pre-filter
    quirk preserved), supported-only filter, Russian PI split.  One
    scan, one grant-number exchange, no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
