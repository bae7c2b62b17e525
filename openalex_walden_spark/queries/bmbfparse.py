"""BMBF Förderkatalog parse stage (``scripts/local/bmbf_to_s3.py`` —
the German federal research ministry's foekat portal, ~962 lines).

The reference walks every project detail page and shreds the
``detailAnsicht`` label/value grid with BeautifulSoup
(``parse_detail_page`` :330-440); the soup-positional extraction is
the HTML-library seam, so the fixture supplies the grid as an ordered
(label, value, idx) array — the same seam convention as the GtR port —
and THIS port owns everything after it:

* the German label → field map, encoding-robust exactly as shipped
  (``'rdersumme' in label`` catches both ``Fördersumme`` and
  mojibake'd spellings; same for Förderart/Förderprofil/Ausf…);
* ``parse_amount``: '798.894,00 €' → 798894.0 (strip €/whitespace,
  thousands dots dropped, decimal comma → dot; garbage → NULL);
* ``parse_date_range``: 'DD.MM.YYYY bis DD.MM.YYYY' (or '-') → ISO
  pair; a single German date → (date, NULL); no match → (NULL, NULL);
* Ressort 'BMFTR, Referat F26' → ressort='BMFTR', referat='F26'
  (``Referat\\s+(\\S+)``);
* Bundesland 'Berlin, Deutschland' → bundesland + staat;
* Verbund: boolean ``value == 'Ja'``;
* the STATEFUL Ort rule: the grid carries 'Ort' twice — the reference
  assigns an Ort value to the recipient (``ort``) only when
  Zuwendungsempfänger is already set (truthy) and ort is unset, else
  to the executing body (``ausfuehrende_stelle_ort``) when that is
  set.  With grid order ZE < Ort₁ < AS < Ort₂ (the portal's layout),
  this is: ort = first Ort AFTER a truthy ZE, as_ort = first Ort
  AFTER a truthy AS — expressed here as index-ordered array lookups;
  an empty ZE value silently drops Ort₁, exactly like the reference's
  falsy check;
* landing page ``foerderportal.bund.de/foekat/...&fkz=<fkz>``;
  dedup by FKZ keep-first (``process_projects`` :737-760);
  ``ingested_at`` (utcnow) is a runtime seam, not emitted.

Scale: per-row array algebra over one scan; the dedup plans as a
rank-limit window on the FKZ.  The reference holds every detail page
in one pandas frame on the crawl box.

Fixture: one detail grid per orders row with German-formatted amounts
(garbage 'k.A.' slots), all three Laufzeit shapes, Referat/Staat
present-and-absent, Ja/Nein Verbund, and empty-ZE rows that must drop
Ort₁.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries.registry import register


def _rows_sql(dialect: str) -> str:
    sp = dialect == "spark"
    null_s = "CAST(NULL AS STRING)" if sp else "CAST(NULL AS VARCHAR)"
    cs = (lambda e: f"CAST({e} AS STRING)") if sp else (
        lambda e: f"CAST({e} AS VARCHAR)")

    def st(label: str, value: str, idx: int) -> str:
        if sp:
            return (f"named_struct('label', {label}, 'value', {value}, "
                    f"'idx', {idx})")
        return f"struct_pack(label := {label}, value := {value}, idx := {idx})"

    def arr(*items: str) -> str:
        return ("array(" + ", ".join(items) + ")") if sp else (
            "[" + ", ".join(items) + "]")

    k = cs("o_orderkey % 59")
    amount = f"""CASE CAST(o_orderkey % 13 AS INT)
        WHEN 0 THEN 'k.A.'
        WHEN 1 THEN concat({cs('o_orderkey % 900 + 1')}, ',50 €')
        ELSE concat({cs('o_orderkey % 900 + 1')}, '.',
                    lpad({cs('o_orderkey % 1000')}, 3, '0'), ',00 €') END"""
    laufzeit = f"""CASE CAST(o_orderkey % 6 AS INT)
        WHEN 0 THEN 'laufend'
        WHEN 1 THEN concat('01.0', {cs('o_orderkey % 9 + 1')}, '.199',
                           {cs('o_orderkey % 10')})
        WHEN 2 THEN concat('15.03.2001 - 14.03.200',
                           {cs('o_orderkey % 10')})
        ELSE concat('01.0', {cs('o_orderkey % 9 + 1')}, '.199',
                    {cs('o_orderkey % 10')}, ' bis 31.12.200',
                    {cs('o_orderkey % 10')}) END"""
    ressort = f"""CASE WHEN o_orderkey % 7 = 0 THEN 'BMBF'
        ELSE concat('BMFTR, Referat F', {cs('o_orderkey % 40')}) END"""
    bundesland = f"""CASE WHEN o_orderkey % 8 = 0 THEN 'Bayern'
        ELSE 'Berlin, Deutschland' END"""
    ze = f"""CASE WHEN o_orderkey % 9 = 0 THEN ''
        ELSE concat('Empfaenger GmbH ', {cs('o_custkey % 43')}) END"""
    as_ = f"""CASE WHEN o_orderkey % 10 = 0 THEN ''
        ELSE concat('Institut ', {cs('o_custkey % 31')}) END"""
    items = arr(
        st("'Thema'", f"concat('Projekt zur Forschung ', {k})", 0),
        st("'Fördersumme'", f"({amount})", 1),
        st("'Ressort'", f"({ressort})", 2),
        st("'Projektträger'", "'DLR Projektträger'", 3),
        st("'Laufzeit'", f"({laufzeit})", 4),
        st("'Leistungsplansystematik'",
           f"concat('K ', {cs('o_orderkey % 22')})", 5),
        st("'Förderart'", "'Zuwendung'", 6),
        st("'Förderprofil'", "'Projektförderung'", 7),
        st("'Verbund'",
           "CASE WHEN o_orderkey % 3 = 0 THEN 'Ja' ELSE 'Nein' END", 8),
        st("'Zuwendungsempfänger'", f"({ze})", 9),
        st("'Ort'", f"concat('Bonn ', {cs('o_custkey % 12')})", 10),
        st("'Bundesland'", f"({bundesland})", 11),
        st("'Ausführende Stelle'", f"({as_})", 12),
        st("'Ort'", f"concat('Köln ', {cs('o_custkey % 12')})", 13),
    )
    return f"""
  SELECT o_orderkey AS seq,
         concat('01IS', lpad({cs('o_custkey % 509')}, 5, '0'),
                CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'A'
                     WHEN 1 THEN 'B' ELSE 'C' END) AS fkz,
         {items} AS items,
         {null_s} AS _pad
  FROM orders
"""


_PARSE_TEMPLATE = """
WITH raw AS ({rows}),
fields AS (
  SELECT seq, fkz,
         {f_thema} AS title,
         {f_amount_txt} AS amount_txt,
         {f_ressort} AS ressort_txt,
         {f_traeger} AS projekttraeger,
         {f_laufzeit} AS laufzeit_txt,
         {f_leistung} AS leistungsplan,
         {f_art} AS foerderart,
         {f_profil} AS foerderprofil,
         {f_verbund} AS verbund_txt,
         {f_ze} AS zuwendungsempfaenger_raw,
         {f_as} AS ausfuehrende_stelle_raw,
         {f_ort_ze} AS ort_raw,
         {f_ort_as} AS as_ort_raw,
         {f_bland} AS bundesland_txt
  FROM raw
),
parsed AS (
  SELECT seq, fkz, title,
         {amount} AS amount,
         'EUR' AS currency,
         trim({split0_ressort}) AS ressort,
         nullif({referat}, '') AS referat,
         projekttraeger,
         {d_start} AS start_date,
         {d_end} AS end_date,
         leistungsplan, foerderart, foerderprofil,
         (verbund_txt = 'Ja') AS verbund,
         nullif(zuwendungsempfaenger_raw, '') AS zuwendungsempfaenger,
         CASE WHEN coalesce(zuwendungsempfaenger_raw, '') <> ''
              THEN ort_raw END AS ort,
         trim({split0_bland}) AS bundesland,
         nullif(trim({split1_bland}), '') AS staat,
         nullif(ausfuehrende_stelle_raw, '') AS ausfuehrende_stelle,
         CASE WHEN coalesce(ausfuehrende_stelle_raw, '') <> ''
              THEN as_ort_raw END AS ausfuehrende_stelle_ort,
         concat('https://foerderportal.bund.de/foekat/jsp/SucheAction.do',
                '?actionMode=view&fkz=', fkz) AS landing_page_url
  FROM fields
),
latest AS (
  SELECT *, row_number() OVER (
           PARTITION BY fkz ORDER BY seq ASC) AS rn
  FROM parsed
)
SELECT fkz, title, amount, currency, ressort, referat, projekttraeger,
       start_date, end_date, leistungsplan, foerderart, foerderprofil,
       verbund, zuwendungsempfaenger, ort, bundesland, staat,
       ausfuehrende_stelle, ausfuehrende_stelle_ort, landing_page_url
FROM latest WHERE rn = 1
"""

_DE_RANGE = (
    "([0-9]{2}[.][0-9]{2}[.][0-9]{4})\\\\s*(?:bis|-)\\\\s*"
    "([0-9]{2}[.][0-9]{2}[.][0-9]{4})"
)
_DE_SINGLE = "([0-9]{2})[.]([0-9]{2})[.]([0-9]{4})"


def _parse_sql(dialect: str) -> str:
    sp = dialect == "spark"
    fl = "filter" if sp else "list_filter"

    def get0(e: str) -> str:
        return f"get({e}, 0)" if sp else f"({e})[1]"

    def field(pred: str) -> str:
        return get0(f"{fl}(items, x -> {pred})") + ".value"

    # Ort entries resolved by position relative to a TRUTHY ZE/AS label
    # (the reference's stateful assignment; module docstring).
    def ort_after(anchor_pred: str) -> str:
        anchor_idx = get0(f"{fl}(items, x -> {anchor_pred})") + ".idx"
        return field(f"x.label = 'Ort' AND x.idx > {anchor_idx}")

    # Encoding-robust label matches, verbatim from the reference.
    f_amount = field("contains(x.label, 'rdersumme')")
    f_art = field("contains(x.label, 'rderart')")
    f_profil = field("contains(x.label, 'rderprofil')")
    f_ze = field("contains(x.label, 'Zuwendungsempf')")
    f_as = field("contains(x.label, 'Ausf')")
    de_range = _DE_RANGE if sp else _DE_RANGE.replace("\\\\s", "\\s")
    rng = lambda g: (  # noqa: E731
        f"regexp_extract(laufzeit_txt, '{de_range}', {g})")
    sgl = lambda g: (  # noqa: E731
        f"regexp_extract(laufzeit_txt, '{_DE_SINGLE}', {g})")

    def iso(d: str, m: str, y: str) -> str:
        return f"concat({y}, '-', {m}, '-', {d})"

    start = f"""CASE
      WHEN nullif({rng(1)}, '') IS NOT NULL THEN
        {iso(f"substring({rng(1)}, 1, 2)", f"substring({rng(1)}, 4, 2)",
             f"substring({rng(1)}, 7, 4)")}
      WHEN nullif({sgl(1)}, '') IS NOT NULL THEN
        {iso(sgl(1), sgl(2), sgl(3))}
    END"""
    end = f"""CASE
      WHEN nullif({rng(2)}, '') IS NOT NULL THEN
        {iso(f"substring({rng(2)}, 1, 2)", f"substring({rng(2)}, 4, 2)",
             f"substring({rng(2)}, 7, 4)")}
    END"""
    amount = (
        "try_cast(replace(replace(regexp_replace(amount_txt, "
        "'[€\\\\s]', ''), '.', ''), ',', '.') AS DOUBLE)"
        if sp else
        "try_cast(replace(replace(regexp_replace(amount_txt, "
        "'[€\\s]', '', 'g'), '.', ''), ',', '.') AS DOUBLE)"
    )
    if sp:
        split0_r = "element_at(split(ressort_txt, ','), 1)"
        split1_r = "coalesce(try_element_at(split(ressort_txt, ','), 2), '')"
        split0_b = "element_at(split(bundesland_txt, ','), 1)"
        split1_b = "coalesce(try_element_at(split(bundesland_txt, ','), 2), '')"
        referat = (f"regexp_extract({split1_r}, "
                   "'Referat\\\\s+(\\\\S+)', 1)")
    else:
        split0_r = "list_extract(string_split(ressort_txt, ','), 1)"
        split1_r = ("coalesce(list_extract(string_split(ressort_txt, ','),"
                    " 2), '')")
        split0_b = "list_extract(string_split(bundesland_txt, ','), 1)"
        split1_b = ("coalesce(list_extract(string_split(bundesland_txt, "
                    "','), 2), '')")
        referat = f"regexp_extract({split1_r}, 'Referat\\s+(\\S+)', 1)"
    return _PARSE_TEMPLATE.format(
        rows=_rows_sql(dialect),
        f_thema=field("contains(x.label, 'Thema')"),
        f_amount_txt=f_amount,
        f_ressort=field("x.label = 'Ressort'"),
        f_traeger=field("contains(x.label, 'Projekttr')"),
        f_laufzeit=field("contains(x.label, 'Laufzeit')"),
        f_leistung=field("contains(x.label, 'Leistungsplansystematik')"),
        f_art=f_art,
        f_profil=f_profil,
        f_verbund=field("contains(x.label, 'Verbund')"),
        f_ze=f_ze,
        f_as=f_as,
        f_ort_ze=ort_after(
            "contains(x.label, 'Zuwendungsempf') AND "
            "coalesce(x.value, '') <> ''"),
        f_ort_as=ort_after(
            "contains(x.label, 'Ausf') AND coalesce(x.value, '') <> ''"),
        f_bland=field("contains(x.label, 'Bundesland')"),
        amount=amount,
        split0_ressort=split0_r,
        referat=referat,
        d_start=start,
        d_end=end,
        split0_bland=split0_b,
        split1_bland=split1_b,
    )


@register(
    "bmbf_parse_projects",
    oracle=_parse_sql("duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=(
        "BMBF Förderkatalog detail-page parse stage "
        "(scripts/local/bmbf_to_s3.py:279-440,737-760)"
    ),
    spread=("orders",),
)
def bmbf_parse_projects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """German label→field map, amount/date-range/Ressort/Bundesland
    parses, the stateful two-Ort assignment, and the FKZ keep-first
    dedup (module docstring has the full semantics map)."""
    return spark.sql(_parse_sql("spark"))
