"""DOST-PCAARRD Grants-in-Aid transparency-PDF parse
(scripts/local/pcaarrd_to_s3.py — 724 LoC, the largest remaining
unported single).

The reference downloads the yearly Transparency Seal PDFs and runs
``pdftotext -raw``; the HTTP + poppler layer (:258-315) is the seam.
The fixture delivers ONE disclosure block per orders key as an ordered
line array plus the block's trailing date/amount line (block
segmentation accumulates lines between ``DATE_AMOUNT_RE`` matches,
:458-471 — one block per key is a fixture grain choice, exactly the
tiny-funder precedent).  Everything downstream of "a block of raw PDF
lines" ports:

* ``clean_text`` (:209-225): the 6-entry mojibake replacement map
  (applied in dict order), the form-feed to space, ws collapse,
  strip-or-NULL.  DEVIATION (documented): Python ``\\s`` matches NBSP,
  Java/RE2 ``\\s`` does not — the port adds an explicit
  ``chr(160) -> ' '`` replace before the collapse, which composes to
  the identical result on whitespace runs;
* ``strip_header_footer`` (:318-340): FY/PCAARRD-LIST header, the
  column-header line, the {'December 31,','Total Project','Cost',
  'GIA'} fragments, bare ``20\\d{2}'?`` year lines, ``Page N of M``;
* ``DATE_AMOUNT_RE`` (:123-129) group extraction from the cleaned
  line; the pre-match prefix is re-appended as the block's last
  content line (:467) and re-stripped (:475);
* ``split_program_project`` (:343-375): the first
  ``^(Project|Study|Component|Sub-?project)\\b`` line starts the
  project; NO project line -> program is None and the WHOLE pre-KRA
  text is the project; ``strip_embedded_kra`` cuts a KRA phrase
  mid-line; combined = ' - ' join of the non-empty parts;
* ``split_kra_and_description`` (:378-406): description starts at the
  first ``DESCRIPTION_START_RE`` line AFTER the KRA line else index
  min(2, len); outputs start at the first ``OUTPUT_START_RE`` line
  else min(len, 8);
* ``extract_agency_and_beneficiaries`` (:409-455): backwards scan of
  the last 35 post-output lines for an agency-ish line (keyword hit
  or leading-caps ``^[A-Z][A-Z&./ -]{1,25}\\b``), skipping OUTPUT
  lines; up to two continuation lines each gated on bullet/boundary/
  output breaks and the 180-char join cap (a length failure skips the
  line but does NOT break the loop — quirk preserved); then the
  acronym cut, the ``—``/``•``/``€¢`` split, the beneficiary-boundary
  split, and the >180 / junk-word NULL gate; beneficiaries = the last
  10 lines after the consumed agency parts (last 6 of the tail when
  no agency line was found);
* scalars: ``parse_source_date`` (:247-255) ``%d-%b-%y`` then
  ``%d-%b-%Y``; ``parse_money`` (:235-244) comma-strip float
  ``%.2f``-render with trailing-zero/dot strip; ``normalize_key``
  (:228-232); the dedupe key ``name|agency|start|end`` and
  ``funder_award_id = 'pcaarrd-' + sha1(key)[:16]`` (:500-506) —
  DEVIATION: sha256[:16] in both engines (the DuckDB oracle has no
  sha1); the digest INPUT is byte-faithful;
* ``dedupe_project_rows`` (:547-569): group by award id, keep the
  latest (source_year, source_row_number) snapshot, collect all
  source years ','-joined ascending and the per-year GIA JSON object
  (non-null amounts only, sorted keys, ``json.dumps`` default
  separators -> ``'{"Y": "amt", ...}'``), carry
  ``source_row_count_before_dedupe``.

Runtime-only ``downloaded_at`` is not ported (potter precedent); the
final cosmetic sort (:568) is order-only and the driver hash is
order-insensitive.  The fixture groups up to 8 consecutive
year-snapshots per content id (``c = floor(k/8)``: title/agency/dates
ride ``c``; year/status/amounts ride ``k``) so keep-latest, year
collection and the GIA JSON all see multi-row groups.

Plan: one orders scan, ~12 narrow projection layers each behind a 1:1
``explode(array(named_struct(...)))`` Generate barrier (Spark) /
``AS MATERIALIZED`` CTE (DuckDB) so CollapseProject cannot multiply
the array HOFs; ONE shuffle for the dedupe — the keep-latest
row_number, the group count, the year concat and the GIA JSON all
ride WINDOW functions over the same award-id partitioning, so the
parse tree executes once (the grouped-agg + join form would run it
per branch; groups are bounded at 8 rows by construction — uniform
grain, 100x-safe).  No Python, no explode of the line arrays (anchors
resolve via index transforms).

tests/test_template_fidelity.py re-derives the full expected output in
Python from the reference rules (with the same sha256 deviation) and
AST-pins the rules-as-data tables (mojibake map, regex vocabulary,
noise-line set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

# NOTE on backslash convention (repo-wide): every regex constant below
# carries DOUBLED backslashes — the Spark SQL parser consumes one level
# inside string literals, and ``sqlkit.build`` halves them for RE2.

# pcaarrd_to_s3.py:213-220 — applied in dict order, before the
# form-feed replace and the whitespace collapse.
_MOJIBAKE = (
    ("Ã¢â‚¬â„¢", "'"),
    ("Ã¢â‚¬œ", '"'),
    ("Ã±", "n"),
    ("€¢", "-"),
    ("ﬁ", "fi"),
    ("ﬂ", "fl"),
)

# pcaarrd_to_s3.py:123-129 (five capture groups; (?:) stays
# non-capturing in both engines)
_DATE_AMOUNT = (
    "(\\\\d{1,2}-[A-Z][a-z]{2}-\\\\d{2,4})\\\\s+"
    "(\\\\d{1,2}-[A-Z][a-z]{2}-\\\\d{2,4})\\\\s+"
    "([A-Za-z][A-Za-z /-]*?)\\\\s+"
    "(-|\\\\d[\\\\d,]*(?:\\\\.\\\\d+)?)\\\\s+"
    "(-|\\\\d[\\\\d,]*(?:\\\\.\\\\d+)?)\\\\s*$"
)

# pcaarrd_to_s3.py:131-137 (re.search of a ^-anchored pattern ==
# match-at-start; IGNORECASE)
_KRA_START = (
    "(?i)^(?:KRA\\\\s*\\\\d+|Rapid\\\\b|Poverty\\\\b|"
    "Integrity\\\\s+of\\\\s+the\\\\s+environment|"
    "Global\\\\s+competitiveness|Competitive\\\\b|Human\\\\s+capital|"
    "Science,\\\\s*technology|Environmental\\\\s+integrity|"
    "Sustainable\\\\b|Good\\\\s+governance|Climate\\\\b)"
)

# pcaarrd_to_s3.py:139-143
_DESC_START = (
    "(?i)^(?:The\\\\s+(?:project|program|study)|"
    "This\\\\s+(?:project|program|study)|"
    "The\\\\s+general\\\\s+objective|General:|Specifically,|To\\\\s+)"
)

# pcaarrd_to_s3.py:145-149
_OUTPUT_START = (
    "(?i)^(?:Publication|Publications|Patent|Patents|Product|Products|"
    "People|Place|Places|Policy|Expected|Y1|Year\\\\s+\\\\d|Total:)"
)

# pcaarrd_to_s3.py:151-156 (searched anywhere in the line)
_AGENCY_KW = (
    "(?i)\\\\b(?:University|College|Institute|Center|Centre|Department|"
    "Bureau|School|Council|Authority|Corporation|Agency|Foundation|"
    "Research|DOST|UPLB|MMSU|ASSCAT|BSU|VSU|USM|CLSU|NVSU|PCA|RMC|"
    "Inc\\\\.|Corp\\\\.)\\\\b"
)

# pcaarrd_to_s3.py:158-163 (compiled with re.IGNORECASE — the
# lowercase second alternation is redundant in the reference too)
_BOUNDARY = (
    "(?i)\\\\b(?:Farmers|Researchers|Students|LGU|LGUs|Policy|Industry|"
    "Beneficiaries|Extension|Stakeholders|Communities|Women|Men)\\\\b"
    "|\\\\b(?:farmers|researchers|students|stakeholders|processors|"
    "traders)\\\\b"
)

# pcaarrd_to_s3.py:354-365 — the embedded-KRA split vocabulary
_EMBEDDED_KRA = (
    "(?i)\\\\b(?:Poverty\\\\s+reduction|Rapid,?\\\\s+inclusive|"
    "Integrity\\\\s+of\\\\s+the\\\\s+environment|"
    "Global\\\\s+competitiveness|Competitive\\\\s+and\\\\s+sustainable|"
    "Human\\\\s+capital|Science,\\\\s*technology|Good\\\\s+governance)"
    "\\\\b"
)

_PROJ_START = "(?i)^(?:Project|Study|Component|Sub-?project)\\\\b"
_CAPS_LINE = "^[A-Z][A-Z&./ -]{1,25}\\\\b"
_ACRONYM = "^([A-Z][A-Z&./-]{1,20})\\\\s+(.+)$"
_DASH_SPLIT = "(\\\\s+[—•]\\\\s+|\\\\s+€¢\\\\s+).*$"
_JUNK_WORDS = (
    "(?i)\\\\b(?:findings|policies|programs|services|"
    "support sustainable|use the study)\\\\b"
)
_BULLET_START = "^(—|-|€¢|•)"
_YEAR_LINE = "^20[0-9]{2}''?$"
_PAGE_LINE = "^Page [0-9]+ of [0-9]+$"

_FUNDER_NAME = (
    "Philippine Council for Agriculture, Aquatic and Natural Resources "
    "Research and Development"
)


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, cs, bar, asize, elem, filt = k.g, k.cs, k.bar, k.asize, k.elem, k.filt
    idx_of, jnall, rl, sl, tx = k.idx_of, k.jnall, k.rl, k.sl, k.tx

    def app(arr: str, x: str) -> str:
        if dialect == "spark":
            return f"concat({arr}, array({x}))"
        return f"list_concat({arr}, [{x}])"

    def mkarr(items: list) -> str:
        if dialect == "spark":
            return "array(" + ", ".join(items) + ")"
        return "[" + ", ".join(items) + "]"

    def dig(x: str) -> str:
        if dialect == "spark":
            return f"substr(sha2({x}, 256), 1, 16)"
        return f"substr(sha256({x}), 1, 16)"

    def dt(x: str) -> str:
        if dialect == "spark":
            return (f"coalesce(date_format(try_to_date({x}, 'd-MMM-yy'), "
                    f"'yyyy-MM-dd'), date_format(try_to_date({x}, "
                    f"'d-MMM-yyyy'), 'yyyy-MM-dd'))")
        return (f"coalesce(strftime(try_strptime({x}, '%d-%b-%y'), "
                f"'%Y-%m-%d'), strftime(try_strptime({x}, '%d-%b-%Y'), "
                f"'%Y-%m-%d'))")

    def clean(x: str) -> str:
        """clean_text (pcaarrd:209-225): mojibake map in order, form
        feed, NBSP shim (module docstring), collapse, strip/NULL."""
        e = x
        for old, new in _MOJIBAKE:
            o, n = old.replace("'", "''"), new.replace("'", "''")
            e = f"replace({e}, '{o}', '{n}')"
        e = f"replace({e}, chr(12), ' ')"
        e = f"replace({e}, chr(160), ' ')"
        return f"nullif(trim(regexp_replace({e}, '\\\\s+', ' '{g})), '')"

    def money(x: str) -> str:
        """parse_money (pcaarrd:235-244) -> trimmed %.2f string."""
        n = f"try_cast(replace({x}, ',', '') AS DOUBLE)"
        rendered = (f"regexp_replace(regexp_replace({fmt2(n)}, '0+$', "
                    f"''{g}), '\\\\.$', ''{g})")
        return (f"CASE WHEN {x} IS NULL OR trim({x}) = '-' THEN NULL "
                f"WHEN {n} IS NULL THEN {clean(x)} ELSE {rendered} END")

    def nk(x: str) -> str:
        """normalize_key (pcaarrd:228-232): casefold, non-alnum runs to
        one space, strip — '' for NULL."""
        return (f"trim(regexp_replace(lower(coalesce({clean(x)}, '')), "
                f"'[^a-z0-9]+', ' '{g}))")

    def keep_pred(v: str) -> str:
        """strip_header_footer (pcaarrd:318-340) keep-predicate over a
        CLEANED line ``v``."""
        return (
            f"{v} IS NOT NULL "
            f"AND NOT (substr({v}, 1, 3) = 'FY ' "
            f"AND instr({v}, 'PCAARRD LIST') > 0) "
            f"AND instr({v}, "
            f"'Program Title Project Title Key Result Areas') = 0 "
            f"AND {v} NOT IN ('December 31,', 'Total Project', 'Cost', "
            f"'GIA') "
            f"AND NOT {rl(v, _YEAR_LINE)} "
            f"AND NOT {rl(v, _PAGE_LINE)}"
        )

    def fmt2(x: str) -> str:
        if dialect == "spark":
            return f"format_string('%.2f', CAST({x} AS DOUBLE))"
        return f"printf('%.2f', CAST({x} AS DOUBLE))"

    C = cs("c")
    months = "'JanFebMarAprMayJunJulAugSepOctNovDec'"
    mon1 = f"substr({months}, CAST(c % 12 AS INT) * 3 + 1, 3)"
    mon2 = f"substr({months}, CAST((c + 5) % 12 AS INT) * 3 + 1, 3)"

    s3base = (
        "CASE CAST(c % 5 AS INT) "
        f"WHEN 0 THEN concat('Project 1. Improving feed efficiency "
        f"protocols ', {C}) "
        f"WHEN 1 THEN concat('Study 2. Genomic marker discovery of pata', "
        f"'Ã±', 'i beans ', {C}) "
        f"WHEN 2 THEN concat('Sub-project on aquatic feed formulation ', "
        f"{C}) "
        f"ELSE concat('Component 1 nutrient mapping survey ', {C}) END"
    )

    # ---- the synthetic block (seam output: ordered raw PDF lines) ----
    raw_lines = mkarr([
        # header/footer noise exercising every strip rule
        ("CASE CAST(c % 6 AS INT) "
         "WHEN 0 THEN 'FY 2021  PCAARRD LIST OF GIA PROJECTS' "
         "WHEN 1 THEN "
         "'Program Title Project Title Key Result Areas Summary' "
         "WHEN 2 THEN 'December 31,' "
         f"WHEN 3 THEN concat('Page ', {cs('1 + c % 40')}, ' of 99') "
         "WHEN 4 THEN '2020' ELSE NULL END"),
        # program line(s)
        ("CASE WHEN c % 4 = 0 THEN NULL ELSE "
         f"concat('Program on sustainable production systems ', {C}) END"),
        ("CASE WHEN c % 10 = 0 AND c % 4 <> 0 "
         "THEN 'for inclusive rural development' ELSE NULL END"),
        # project line, sometimes with an embedded KRA phrase
        (f"CASE WHEN c % 5 = 4 THEN NULL WHEN c % 7 = 0 THEN "
         f"concat({s3base}, ' Poverty reduction and food security') "
         f"ELSE {s3base} END"),
        # KRA line
        ("CASE CAST(c % 6 AS INT) "
         "WHEN 0 THEN 'KRA 1' "
         "WHEN 1 THEN 'Rapid, inclusive and sustained economic growth' "
         "WHEN 2 THEN 'Poverty reduction and empowerment of the poor' "
         f"WHEN 3 THEN concat('Climate change adaptation track ', "
         f"{cs('c % 3')}) "
         "WHEN 4 THEN 'Global competitiveness of Philippine products' "
         "ELSE NULL END"),
        # description start (arm 3 does NOT match DESCRIPTION_START)
        ("CASE CAST(c % 4 AS INT) "
         f"WHEN 0 THEN concat('The project aims to improve ', 'ﬁ', "
         f"'eld yield outcomes ', {C}) "
         f"WHEN 1 THEN concat('This study evaluates ', chr(12), "
         f"' field protocols ', {C}) "
         f"WHEN 2 THEN concat('To develop integrated ', 'ﬂ', "
         f"'ood-resilient farming systems ', {C}) "
         f"ELSE concat('Baseline profiling of smallholder farms ', {C}) "
         "END"),
        # description continuation (NBSP + double-space clean exercise)
        (f"concat('and increase', chr(160), 'household  incomes in "
         f"region ', {cs('c % 15')})"),
        # output anchor (absent when c%11=0 -> min(len,8) fallback)
        ("CASE WHEN c % 11 = 0 THEN NULL "
         f"WHEN c % 3 = 0 THEN concat('Publications: ', {cs('c % 4')}, "
         "' papers') "
         "WHEN c % 3 = 1 THEN 'Expected outputs for Y1' "
         f"ELSE concat('Total: ', {cs('c % 9')}, ' outputs') END"),
        # second output line
        ("CASE WHEN c % 4 = 0 THEN "
         f"concat('Patents filed and products ', {cs('c % 3')}) "
         "ELSE NULL END"),
        # agency line: >180 gate / junk-word gate / acronym cut /
        # em-dash cut / boundary cut / no-agency arms
        ("CASE CAST(c % 6 AS INT) "
         "WHEN 0 THEN concat('University of the Philippines Los Banos "
         "campus consortium with the Philippine Council for Agriculture "
         "Aquatic and Natural Resources Research and Development "
         f"regional network offices and stations ', {C}) "
         "WHEN 1 THEN concat('Research Institute providing findings to "
         f"policies ', {cs('c % 20')}) "
         "WHEN 2 THEN 'UPLB Farmers and traders in Luzon' "
         f"WHEN 3 THEN concat('Institute of Plant Breeding ', "
         f"{cs('c % 5')}, ' — satellite stations cluster') "
         "WHEN 4 THEN 'Bureau of Soils serving Farmers in the uplands' "
         "ELSE 'no implementing agency recorded' END"),
        # continuation line: later-best / boundary break / bullet break
        # / output break / append arms
        ("CASE CAST(c % 5 AS INT) "
         "WHEN 0 THEN 'ACME R&D STATION' "
         "WHEN 1 THEN 'Farmers and fisherfolk groups' "
         "WHEN 2 THEN '• community partner network' "
         f"WHEN 3 THEN concat('Products and policy briefs for Y', "
         f"{cs('1 + c % 3')}) "
         "ELSE 'of the northern cluster zone' END"),
        # beneficiaries line
        ("CASE CAST(c % 3 AS INT) "
         f"WHEN 0 THEN concat('Farmers and LGUs in Region ', "
         f"{cs('c % 12')}) "
         f"WHEN 1 THEN concat('smallholder processors and traders ', "
         f"{cs('c % 9')}) "
         f"ELSE concat('Extension workers and students ', {cs('c % 7')}) "
         "END"),
    ])

    content0 = filt(tx(raw_lines, clean("t")), keep_pred("t"))

    meta_raw = (
        "concat(CASE WHEN c % 9 = 0 THEN 'Region IV-A cooperators ' "
        f"ELSE '' END, {cs('10 + c % 19')}, '-', {mon1}, '-', "
        f"{cs('19 + c % 5')}, ' ', {cs('10 + (c + 3) % 19')}, '-', {mon2},"
        f" '-', {cs('2022 + c % 4')}, '  ', st_raw, ' ', tot_raw, '  ', "
        "gia_raw)"
    )

    agencyish = (f"NOT {rl('t', _OUTPUT_START)} "
                 f"AND ({rl('t', _AGENCY_KW)} OR {rl('t', _CAPS_LINE)})")

    def brk(line: str) -> str:
        return (f"({line} IS NULL OR {rl(line, _BULLET_START)} "
                f"OR {rl(line, _BOUNDARY)} OR {rl(line, _OUTPUT_START)})")

    # ---- per-layer expressions (hoisted: no nested f-string quoting) --
    meta_bar = bar("meta", "fixture",
                   ["k", "c", "yr", "content0", "meta_line"], [
        ("start_raw", f"regexp_extract(meta_line, '{_DATE_AMOUNT}', 1)"),
        ("end_raw", f"regexp_extract(meta_line, '{_DATE_AMOUNT}', 2)"),
        ("status_g", f"regexp_extract(meta_line, '{_DATE_AMOUNT}', 3)"),
        ("total_g", f"regexp_extract(meta_line, '{_DATE_AMOUNT}', 4)"),
        ("gia_g", f"regexp_extract(meta_line, '{_DATE_AMOUNT}', 5)"),
        ("prefix_c", clean(f"rtrim(regexp_replace(meta_line, "
                           f"'{_DATE_AMOUNT}', ''{g}))")),
    ])

    content_expr = (f"CASE WHEN {keep_pred('prefix_c')} "
                    f"THEN {app('content0', 'prefix_c')} "
                    f"ELSE content0 END")

    anchored_bar = bar("anchored", "content_cte",
                       ["k", "c", "yr", "content", "start_raw", "end_raw",
                        "status_g", "total_g", "gia_g"], [
        ("kidx", idx_of("content", rl("t", _KRA_START))),
    ])

    pre_kra_expr = (f"CASE WHEN kidx IS NULL THEN content "
                    f"ELSE {sl('content', '1', 'kidx - 1')} END")
    tailk_expr = (f"CASE WHEN kidx IS NULL THEN {sl('content', '1', '0')} "
                  f"ELSE {sl('content', 'kidx', asize('content') + ' - kidx + 1')}"
                  f" END")

    d0_expr = ("CASE WHEN kidx IS NULL THEN NULL ELSE coalesce("
               + idx_of("tailk", f"i >= 2 AND {rl('t', _DESC_START)}")
               + f" - 1, least(2, {asize('tailk')})) END")

    indexed_bar = bar("indexed", "sliced",
                      ["k", "c", "yr", "start_raw", "end_raw", "status_g",
                       "total_g", "gia_g", "kidx", "pre_kra", "tailk"], [
        ("pidx", idx_of("pre_kra", rl("t", _PROJ_START))),
        ("d0", d0_expr),
    ])

    titled_bar = bar("titled", "indexed",
                     ["k", "c", "yr", "start_raw", "end_raw", "status_g",
                      "total_g", "gia_g", "kidx", "d0"], [
        ("program", "CASE WHEN pidx IS NOT NULL THEN "
                    + clean(jnall(sl("pre_kra", "1", "pidx - 1"))) + " END"),
        ("project_raw",
         jnall(sl("pre_kra", "coalesce(pidx, 1)",
               f"{asize('pre_kra')} - coalesce(pidx, 1) + 1"))),
        ("kra", "CASE WHEN kidx IS NOT NULL THEN "
                + clean(jnall(sl("tailk", "1", "d0"))) + " END"),
        ("remainder",
         f"CASE WHEN kidx IS NULL THEN {sl('tailk', '1', '0')} "
         f"ELSE {sl('tailk', 'd0 + 1', asize('tailk') + ' - d0')} END"),
    ])

    outputs_bar = bar("outputs", "titled",
                      ["k", "c", "yr", "start_raw", "end_raw", "status_g",
                       "total_g", "gia_g", "kidx", "program", "kra",
                       "remainder"], [
        ("project", clean(f"regexp_replace(project_raw, "
                          f"'{_EMBEDDED_KRA}.*$', ''{g})")),
        ("o0", "CASE WHEN kidx IS NULL THEN NULL ELSE coalesce("
               + idx_of("remainder", rl("t", _OUTPUT_START))
               + f" - 1, least({asize('remainder')}, 8)) END"),
    ])

    described_bar = bar("described", "outputs",
                        ["k", "c", "yr", "start_raw", "end_raw",
                         "status_g", "total_g", "gia_g", "kidx", "program",
                         "project", "kra"], [
        ("description", "CASE WHEN kidx IS NOT NULL THEN "
                        + clean(jnall(sl("remainder", "1", "o0"))) + " END"),
        ("t35_pre",
         f"CASE WHEN kidx IS NULL THEN {sl('remainder', '1', '0')} "
         f"ELSE {sl('remainder', 'o0 + 1', asize('remainder') + ' - o0')} "
         f"END"),
    ])

    agencies_bar = bar("agencies", "described",
                       ["k", "c", "yr", "start_raw", "end_raw", "status_g",
                        "total_g", "gia_g", "program", "project", "kra",
                        "description"], [
        ("t35", sl("t35_pre", f"greatest({asize('t35_pre')} - 34, 1)",
                   f"least({asize('t35_pre')}, 35)")),
    ])

    scanned_bar = bar("scanned", "agencies",
                      ["k", "c", "yr", "start_raw", "end_raw", "status_g",
                       "total_g", "gia_g", "program", "project", "kra",
                       "description", "t35"], [
        ("bi", idx_of("t35", agencyish, "array_max")),
    ])

    parts_bar = bar("parts", "scanned",
                    ["k", "c", "yr", "start_raw", "end_raw", "status_g",
                     "total_g", "gia_g", "program", "project", "kra",
                     "description", "t35", "bi"], [
        ("l0", elem("t35", "bi")),
        ("l1", elem("t35", "bi + 1")),
        ("l2", elem("t35", "bi + 2")),
    ])

    assembled_bar = bar("assembled", "parts",
                        ["k", "c", "yr", "start_raw", "end_raw",
                         "status_g", "total_g", "gia_g", "program",
                         "project", "kra", "description", "t35", "bi"], [
        ("brk1", brk("l1")),
        ("brk2", brk("l2")),
        ("inc1", f"NOT {brk('l1')} AND length(coalesce("
                 + clean("concat(l0, ' ', l1)") + ", '')) <= 180"),
        ("p0", clean("l0")),
        ("p01", clean("concat(l0, ' ', l1)")),
        ("p012", clean("concat(l0, ' ', l1, ' ', l2)")),
        ("p02", clean("concat(l0, ' ', l2)")),
    ])

    inc2 = ("NOT brk1 AND NOT brk2 AND length(coalesce("
            "CASE WHEN inc1 THEN p012 ELSE p02 END, '')) <= 180")
    chosen_bar = bar("chosen", "assembled",
                     ["k", "c", "yr", "start_raw", "end_raw", "status_g",
                      "total_g", "gia_g", "program", "project", "kra",
                      "description", "t35", "bi"], [
        ("nparts", f"CASE WHEN bi IS NULL THEN 0 ELSE 1 "
                   f"+ (CASE WHEN inc1 THEN 1 ELSE 0 END) "
                   f"+ (CASE WHEN {inc2} THEN 1 ELSE 0 END) END"),
        ("agency0", f"CASE WHEN bi IS NULL THEN NULL "
                    f"WHEN {inc2} THEN "
                    f"CASE WHEN inc1 THEN p012 ELSE p02 END "
                    f"WHEN inc1 THEN p01 ELSE p0 END"),
    ])

    cut_bar = bar("cut", "chosen",
                  ["k", "c", "yr", "start_raw", "end_raw", "status_g",
                   "total_g", "gia_g", "program", "project", "kra",
                   "description", "t35", "bi", "nparts"], [
        ("agency1",
         f"CASE WHEN nullif(regexp_extract(agency0, '{_ACRONYM}', 1), '')"
         f" IS NOT NULL AND "
         + rl(f"regexp_extract(agency0, '{_ACRONYM}', 2)", _BOUNDARY)
         + f" THEN regexp_extract(agency0, '{_ACRONYM}', 1) "
         f"ELSE agency0 END"),
    ])

    gated_bar = bar("gated", "cut",
                    ["k", "c", "yr", "start_raw", "end_raw", "status_g",
                     "total_g", "gia_g", "program", "project", "kra",
                     "description", "t35", "bi", "nparts"], [
        ("agency2", clean(
            f"regexp_replace(regexp_replace(agency1, '{_DASH_SPLIT}', "
            f"''{g}), '({_BOUNDARY}).*$', ''{g})")),
    ])

    bl_start = "bi + nparts"
    bl_len = f"{asize('t35')} - bi - nparts + 1"
    bl_arr = sl("t35", bl_start, bl_len)
    benef_expr = (
        f"CASE WHEN {asize('t35')} = 0 THEN NULL "
        f"WHEN bi IS NULL THEN "
        + clean(jnall(sl("t35", f"greatest({asize('t35')} - 5, 1)",
                      f"least({asize('t35')}, 6)")))
        + " ELSE "
        + clean(jnall(sl(bl_arr, f"greatest(({bl_len}) - 9, 1)",
                      f"least({bl_len}, 10)")))
        + " END")

    finala_bar = bar("finala", "gated",
                     ["k", "c", "yr", "start_raw", "end_raw", "status_g",
                      "total_g", "gia_g", "program", "project", "kra",
                      "description"], [
        ("agency", f"CASE WHEN agency2 IS NULL OR length(agency2) > 180 "
                   f"OR {rl('agency2', _JUNK_WORDS)} THEN NULL "
                   f"ELSE agency2 END"),
        ("beneficiaries", benef_expr),
    ])

    display_expr = ("coalesce(project, "
                    + clean("concat_ws(' - ', program, project)") + ")")

    dedupe_key = (f"concat_ws('|', {nk('display_name')}, {nk('agency')}, "
                  f"coalesce(start_date, ''), coalesce(end_date, ''))")

    # Dedupe aggregates ride WINDOW functions over the same
    # funder_award_id partitioning as the keep-latest row_number, so the
    # heavy parse tree runs ONCE and the whole dedupe costs a single
    # exchange (the agg+join form re-executed the parse per branch).
    frame = ("OVER (PARTITION BY funder_award_id ORDER BY yr "
             "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)")
    gia_entry = ("CASE WHEN gia_amt IS NOT NULL THEN concat('\"', "
                 + cs("yr") + ", '\": \"', gia_amt, '\"') END")
    if dialect == "spark":
        years_agg = (f"concat_ws(',', collect_list(CAST(yr AS STRING)) "
                     f"{frame})")
        gia_agg = (f"concat('<LB>', concat_ws(', ', "
                   f"collect_list({gia_entry}) {frame}), '<RB>')")
    else:
        years_agg = f"string_agg(CAST(yr AS VARCHAR), ',') {frame}"
        gia_agg = (f"coalesce('<LB>' || string_agg({gia_entry}, ', ') "
                   f"{frame} || '<RB>', '<LB><RB>')")
    years_agg = years_agg
    gia_agg = gia_agg.replace("<LB>", "{").replace("<RB>", "}")

    source_url = ("concat('https://www.pcaarrd.dost.gov.ph/files/gia_', "
                  + cs("l.yr") + ", '.pdf')")

    sql = f"""
WITH blocks AS (
  SELECT o_orderkey AS k,
    CAST(floor(o_orderkey / 8.0) AS BIGINT) AS c,
    CAST(2018 + o_orderkey % 8 AS INT) AS yr,
    CASE CAST(o_orderkey % 4 AS INT)
      WHEN 0 THEN 'Ongoing' WHEN 1 THEN 'Completed'
      WHEN 2 THEN 'On-going / Extended' ELSE 'Terminated' END AS st_raw,
    CASE CAST(o_orderkey % 5 AS INT)
      WHEN 0 THEN '-' WHEN 1 THEN '12,345.67' WHEN 2 THEN '98,765'
      WHEN 3 THEN concat({cs('1000 + o_orderkey % 9000')}, '.5')
      ELSE '3,000,000.00' END AS tot_raw,
    CASE CAST(o_orderkey % 3 AS INT)
      WHEN 0 THEN '-'
      WHEN 1 THEN concat({cs('500 + o_orderkey % 400')}, ',000.00')
      ELSE '1,250.75' END AS gia_raw
  FROM orders
),
fixture AS (
  SELECT k, c, yr,
    {content0} AS content0,
    {clean(meta_raw)} AS meta_line
  FROM blocks
),
{meta_bar},
content_cte AS (
  SELECT k, c, yr, start_raw, end_raw, status_g, total_g, gia_g,
    {content_expr} AS content
  FROM meta
),
{anchored_bar},
sliced AS (
  SELECT k, c, yr, start_raw, end_raw, status_g, total_g, gia_g, kidx,
    {pre_kra_expr} AS pre_kra,
    {tailk_expr} AS tailk
  FROM anchored
),
{indexed_bar},
{titled_bar},
{outputs_bar},
{described_bar},
{agencies_bar},
{scanned_bar},
{parts_bar},
{assembled_bar},
{chosen_bar},
{cut_bar},
{gated_bar},
{finala_bar},
rows_cte AS (
  SELECT *, {display_expr} AS display_name,
    {dt('start_raw')} AS start_date, {dt('end_raw')} AS end_date
  FROM finala
),
keyed AS (
  SELECT *,
    concat('pcaarrd-', {dig(dedupe_key)}) AS funder_award_id,
    {money('gia_g')} AS gia_amt
  FROM rows_cte WHERE display_name IS NOT NULL
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY funder_award_id
                                 ORDER BY yr DESC, k DESC) AS rn,
      {cs('count(*) OVER (PARTITION BY funder_award_id)')}
        AS source_row_count_before_dedupe,
      {years_agg} AS source_years,
      {gia_agg} AS gia_by_source_year_json
    FROM keyed) x WHERE rn = 1
)
SELECT
  l.funder_award_id,
  {cs('l.yr')} AS source_year,
  {cs('l.k')} AS source_row_number,
  concat({cs('l.yr')},
         ' DOST-PCAARRD List of Grants in Aid (GIA) Projects')
    AS source_title,
  {source_url} AS source_url,
  {source_url} AS source_pdf_url,
  l.display_name,
  l.program AS program_title,
  l.project AS project_title,
  {clean("concat_ws(' - ', l.program, l.project)")}
    AS program_project_text,
  l.kra AS key_result_area,
  l.description,
  l.agency AS source_implementing_agency,
  l.beneficiaries,
  l.start_date, l.end_date,
  l.start_raw AS start_date_raw, l.end_raw AS end_date_raw,
  {clean('l.status_g')} AS status,
  {money('l.total_g')} AS amount,
  'PHP' AS currency,
  {money('l.total_g')} AS total_project_cost,
  l.gia_amt AS pcaarrd_gia_for_source_year,
  l.source_years,
  l.gia_by_source_year_json,
  '4320336119' AS funder_id,
  '{_FUNDER_NAME}' AS funder_display_name,
  'pcaarrd_gia_projects' AS provenance,
  l.source_row_count_before_dedupe
FROM latest l
"""
    return sql


@register(
    "pcaarrd_parse_projects",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("DOST-PCAARRD GIA transparency-PDF parse "
         "(scripts/local/pcaarrd_to_s3.py)"),
    spread=("orders",),
)
def pcaarrd_parse_projects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCAARRD block parse + keep-latest dedupe in one plan (module
    docstring has the semantics map; note the documented sha1->sha256
    digest deviation).  One scan, barrier-layered column algebra, one
    award-id shuffle."""
    return spark.sql(sqlkit.build(_sql, "spark"))
