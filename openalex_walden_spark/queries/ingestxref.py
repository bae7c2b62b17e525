"""Crossref ingest parse (reference ``notebooks/ingest/Crossref.py``,
the ``crossref_parsed`` view): the typed-id assembly, the license
ladder, date-parts handling, and the affiliation-as-author author
filter with its hybrid keyword-boundary regexes.

Ported semantics:

* ``unallowed_types`` drop (component, grant) before any parsing;
* title: FIRST element of the title array, truncated to the 5000-char
  cap;
* **affiliation-as-author filter** (the false-positive-hardened form):
  - long institution keywords match WITHOUT word boundaries (catches
    concatenated "KazanUniversity") while short corporate keywords
    (Inc/LLC/Ltd/Corp/GmbH/Medical/Research/…) require ``\\b`` so
    "Vincent" never matches "Inc";
  - School in the family field only counts when the family is exactly
    "School" or contains "Schoolof" (Schooler/Schooling survive);
  - Center in the family field only when it ENDS with "Center" or
    contains "Centerof" (Centers/Centerwall survive);
  - the full keyword set (School/Center included) applies to the given
    field, and to the name field only when given+family are empty;
  - works from the excluded-publisher list keep ALL authors (sub-0.1%
    affected rate — their records must not be modified);
* author struct: 500-char name caps, ORCID extracted by the
  ``(\\d{{4}}-\\d{{4}}-\\d{{4}}-\\d{{3}}[\\dXx])`` pattern, affiliation
  structs with the 1000-char cap and the ROR pick (first id whose
  id-type is ROR);
* **typed-id assembly**: pissn/eissn from the issn-type array,
  pisbn/eisbn from isbn-type, the DOI as the ``self`` relationship —
  then the empty-id filter (both '' and NULL entries drop);
* **license ladder**: drop ``content-version = 'tdm'`` entries, prefer
  the first URL containing ``creativecommons.org``, else the first
  remaining URL;
* version: posted-content ⇒ acceptedVersion, else publishedVersion;
  ``raw_type`` keeps the source value while ``type`` is NULLed (the
  work-type cascade owns type);
* date-parts: ``make_date(year, month default 1, day default 1)``.

Scale: everything is per-row column algebra over the ingest scan — the
only shuffle is the seat→work fold for the author signature; the
publisher exclusion list and keyword regexes are literals compiled into
the plan (no dim join at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openalex_walden_spark.queries.registry import register

# The reference's hybrid patterns, verbatim (Crossref.py:97-126) minus
# the (?i) prefix (applied per-dialect).
_KW_LONG = (
    "University|Institute|College|Hospital|Department|{SC}Centre|"
    "Laboratory|Faculty|Academy|"
    "Universiteit|Universidade|Università|Uniwersytet|Üniversitesi|Universite|"
    "Hochschule|Fakultät|Klinikum|Krankenhaus|Politecnico|Politechnika|"
    "Consortium|Association|Collaboration|Committee|Council|Organization|Organisation|"
    "Clinic|Museum|Library|Foundation|Polytechnic"
)
# {B} becomes the word-boundary escape appropriate to how each dialect
# treats backslashes inside SQL string literals (Spark consumes one
# level; DuckDB passes them through).
_KW_SHORT = "{B}b(Inc|LLC|Ltd|Corp|Corporation|Company|GmbH|Medical|Research){B}b"


def _pat_no_sc(b: str) -> str:
    return f"(?i)({_KW_LONG.format(SC='')})|(?i){_KW_SHORT}".replace("{B}", b)


def _pat_full(b: str) -> str:
    return f"(?i)({_KW_LONG.format(SC='School|Center|')})|(?i){_KW_SHORT}".replace("{B}", b)

_EXCLUDED_PUBLISHERS = ("Elsevier", "IEEE", "Cambridge University Press")

# ---------------------------------------------------------------------------
# Fixture arithmetic (identical in both engines)
# ---------------------------------------------------------------------------
# works <- orders: type by o%6 (component/grant rows DROPPED), publisher
#   excluded when o%9=0; issn/isbn presence by o-mods; license entries
#   0..2 with tdm/cc decoration; date parts with NULL month/day cases
# seats <- lineitem ln<=4: author case by (l_partkey + ln) % 12:
#   0 clean given/family            1 family 'University' (drop)
#   2 given 'Kazan' family 'University' (drop)
#   3 family 'Schooler' (KEEP)      4 family 'SchoolofMedicine' (drop)
#   5 family 'ResearchCenter' (drop) 6 family 'Centerwall' (KEEP)
#   7 name-only org (drop)          8 name-only person (keep)
#   9 given 'Vincent' (KEEP: Inc boundary)  10 family 'KazanUniversity' (drop)
#   11 orcid-bearing clean row

_SEAT_CASE = """
  CASE CAST((l_partkey + l_linenumber) % 12 AS INT)
    WHEN 0 THEN named_struct('g', concat('Gv', CAST(l_suppkey % 30 AS {STR})), 'f', concat('Fam', CAST(l_suppkey % 40 AS {STR})), 'nm', CAST(NULL AS {STR}))
    WHEN 1 THEN named_struct('g', CAST(NULL AS {STR}), 'f', 'University', 'nm', CAST(NULL AS {STR}))
    WHEN 2 THEN named_struct('g', 'Kazan', 'f', 'University', 'nm', CAST(NULL AS {STR}))
    WHEN 3 THEN named_struct('g', 'Jon', 'f', 'Schooler', 'nm', CAST(NULL AS {STR}))
    WHEN 4 THEN named_struct('g', CAST(NULL AS {STR}), 'f', 'SchoolofMedicine', 'nm', CAST(NULL AS {STR}))
    WHEN 5 THEN named_struct('g', CAST(NULL AS {STR}), 'f', 'ResearchCenter', 'nm', CAST(NULL AS {STR}))
    WHEN 6 THEN named_struct('g', 'Amy', 'f', 'Centerwall', 'nm', CAST(NULL AS {STR}))
    WHEN 7 THEN named_struct('g', CAST(NULL AS {STR}), 'f', CAST(NULL AS {STR}), 'nm', 'University of Professional Studies, Accra')
    WHEN 8 THEN named_struct('g', CAST(NULL AS {STR}), 'f', CAST(NULL AS {STR}), 'nm', concat('Solo ', CAST(l_suppkey % 25 AS {STR})))
    WHEN 9 THEN named_struct('g', 'Vincent', 'f', concat('Pr', CAST(l_suppkey % 20 AS {STR})), 'nm', CAST(NULL AS {STR}))
    WHEN 10 THEN named_struct('g', CAST(NULL AS {STR}), 'f', 'KazanUniversity', 'nm', CAST(NULL AS {STR}))
    ELSE named_struct('g', 'Ana', 'f', concat('Or', CAST(l_suppkey % 20 AS {STR})), 'nm', CAST(NULL AS {STR}))
  END
"""

# named_struct is Spark syntax; DuckDB uses struct_pack — swapped below.


def _seat_case(dialect: str) -> str:
    if dialect == "spark":
        return _SEAT_CASE.replace("{STR}", "STRING")
    c = _SEAT_CASE.replace("{STR}", "VARCHAR")
    c = c.replace("named_struct('g', ", "struct_pack(g := ")
    c = c.replace(", 'f', ", ", f := ")
    c = c.replace(", 'nm', ", ", nm := ")
    return c


def _valid_author(rx: str, b: str) -> str:
    """is_valid_author predicate over columns g/f/nm.  ``rx`` is the
    dialect's regex-match template '{subj} ... {pat}'; ``b`` the
    dialect's word-boundary escape."""

    def m(subj: str, pat: str) -> str:
        return rx.format(subj=subj, pat=pat)

    fam, giv, nm = "coalesce(f, '')", "coalesce(g, '')", "coalesce(nm, '')"
    bad = " OR ".join(
        [
            m(fam, _pat_no_sc(b)),
            f"({m(fam, '(?i)^School$')} OR {m(fam, '(?i)Schoolof')})",
            f"({m(fam, '(?i)Center$')} OR {m(fam, '(?i)Centerof')})",
            m(giv, _pat_full(b)),
            f"(trim({giv}) = '' AND trim({fam}) = '' AND {m(nm, _pat_full(b))})",
        ]
    )
    return f"NOT ({bad})"


_SPARK_RX = "({subj} RLIKE '{pat}')"
_DUCK_RX = "regexp_matches({subj}, '{pat}')"

_WORK_FIXTURE = """
  SELECT o_orderkey AS work_id,
         CASE CAST(o_orderkey % 6 AS INT)
           WHEN 0 THEN 'journal-article' WHEN 1 THEN 'posted-content'
           WHEN 2 THEN 'proceedings-article' WHEN 3 THEN 'dataset'
           WHEN 4 THEN 'component' ELSE 'grant' END AS raw_type,
         (o_orderkey % 9 = 0) AS is_excluded_pub,
         concat('T-', CAST(o_orderkey % 997 AS {STR}), ' study') AS title0,
         CASE WHEN o_orderkey % 4 <> 1 THEN concat('08', CAST(o_orderkey % 80 + 10 AS {STR})) ELSE '' END AS pissn,
         CASE WHEN o_orderkey % 3 <> 1 THEN concat('19', CAST(o_orderkey % 70 + 10 AS {STR})) ELSE '' END AS eissn,
         CASE WHEN o_orderkey % 7 = 0 THEN concat('97801', CAST(o_orderkey % 100 AS {STR})) ELSE '' END AS pisbn,
         '' AS eisbn,
         concat('10.', CAST(o_orderkey AS {STR})) AS doi,
         CAST(1990 + o_orderkey % 30 AS INT) AS y,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE CAST(o_orderkey % 12 + 1 AS INT) END AS mo,
         CASE WHEN o_orderkey % 5 <= 1 THEN NULL ELSE CAST(o_orderkey % 28 + 1 AS INT) END AS dy,
         CASE CAST(o_orderkey % 4 AS INT)
           WHEN 0 THEN 'https://creativecommons.org/licenses/by/4.0'
           WHEN 1 THEN 'https://pub.example/lic-a'
           ELSE '' END AS lic1_url,
         'vor' AS lic1_cv,
         CASE CAST(o_orderkey % 4 AS INT)
           WHEN 1 THEN 'https://creativecommons.org/licenses/by-nc/4.0'
           WHEN 2 THEN 'https://pub.example/lic-b'
           ELSE '' END AS lic2_url,
         CASE WHEN o_orderkey % 8 < 4 THEN 'tdm' ELSE 'am' END AS lic2_cv
  FROM orders
  WHERE CAST(o_orderkey % 6 AS INT) NOT IN (4, 5)
"""


def _license_pick(first_contains: str) -> str:
    """The ladder: entries (lic1, lic2) minus tdm, '' = absent; prefer
    cc URL else first.  Expressed without arrays so both engines agree:
    candidates in order are lic1 (never tdm) then lic2 (unless tdm)."""
    l1 = "CASE WHEN lic1_url <> '' THEN lic1_url END"
    l2 = "CASE WHEN lic2_url <> '' AND lic2_cv <> 'tdm' THEN lic2_url END"
    cc1 = f"CASE WHEN {first_contains.format(x=l1)} THEN {l1} END"
    cc2 = f"CASE WHEN {first_contains.format(x=l2)} THEN {l2} END"
    return f"coalesce({cc1}, {cc2}, {l1}, {l2})"


_CONTAINS_CC = "contains(coalesce({x}, ''), 'creativecommons.org')"


def _ids_sig() -> str:
    """Typed-id signature: the empty-id filter drops '' entries."""
    parts = [
        ("pissn", "pissn"),
        ("eissn", "eissn"),
        ("pisbn", "pisbn"),
        ("eisbn", "eisbn"),
        ("doi", "doi"),
    ]
    entries = ", ".join(
        f"CASE WHEN {col} <> '' THEN concat('{ns}', ':', {col}"
        + (", ':self'" if ns == "doi" else "")
        + ") END"
        for col, ns in parts
    )
    return f"concat_ws(';', {entries})"


_ORACLE = None  # assembled below


def _assemble(dialect: str) -> str:
    str_t = "STRING" if dialect == "spark" else "VARCHAR"
    rx = _SPARK_RX if dialect == "spark" else _DUCK_RX
    bs = "\\\\" if dialect == "spark" else "\\"
    seat_case = _seat_case(dialect)
    valid = _valid_author(rx, bs)
    wf = _WORK_FIXTURE.replace("{STR}", str_t)
    lic = _license_pick(_CONTAINS_CC)
    if dialect == "spark":
        agg_sig = (
            "array_join(transform(array_sort(collect_list(struct(seat, pk, sk, seat_sig))),"
            " x -> x.seat_sig), '||')"
        )
        count_kept = "CAST(count(*) AS BIGINT)"
    else:
        agg_sig = "string_agg(seat_sig, '||' ORDER BY seat, pk, sk)"
        count_kept = "CAST(count(*) AS BIGINT)"
    orcid_src = (
        f"CASE WHEN (l_partkey + l_linenumber) % 12 = 11"
        f" THEN concat('https://orcid.org/0000-000', CAST(l_suppkey % 10 AS {str_t}),"
        f" '-1234-567', CAST(l_suppkey % 9 AS {str_t}),"
        f" CASE WHEN l_suppkey % 4 = 0 THEN 'X' ELSE '1' END) END"
    )
    aff_sig = (
        f"CASE WHEN l_partkey % 3 = 0 THEN"
        f" concat('Aff', CAST(l_partkey % 15 AS {str_t}),"
        f" CASE WHEN l_partkey % 6 = 0 THEN concat('^ror:0r', CAST(l_partkey % 9 AS {str_t}))"
        f" ELSE '' END)"
        f" ELSE '' END"
    )
    return f"""
WITH works AS ({wf}),
seats0 AS (
  SELECT l_orderkey AS work_id, l_linenumber AS seat, l_partkey AS pk, l_suppkey AS sk,
         {seat_case} AS a,
         {orcid_src} AS orcid_raw,
         {aff_sig} AS aff_sig
  FROM lineitem WHERE l_linenumber <= 4
),
seats AS (
  SELECT work_id, seat, pk, sk,
         a.g AS g, a.f AS f, a.nm AS nm, orcid_raw, aff_sig
  FROM seats0
),
kept AS (
  SELECT s.*, w.is_excluded_pub
  FROM seats s JOIN works w ON w.work_id = s.work_id
  WHERE w.is_excluded_pub OR ({valid})
),
seat_sigs AS (
  SELECT work_id, seat, pk, sk,
         concat(coalesce(substr(g, 1, 500), '~'), '|',
                coalesce(substr(f, 1, 500), '~'), '|',
                coalesce(substr(nm, 1, 500), '~'), '|',
                coalesce(regexp_extract(coalesce(orcid_raw, ''),
                  '([0-9]{{4}}-[0-9]{{4}}-[0-9]{{4}}-[0-9]{{3}}[0-9Xx])', 1), ''), '|',
                coalesce(substr(aff_sig, 1, 1000), '')) AS seat_sig
  FROM kept
),
per_work AS (
  SELECT work_id, {count_kept} AS n_authors, {agg_sig} AS authors_sig
  FROM seat_sigs GROUP BY work_id
)
SELECT w.work_id,
       substr(w.title0, 1, 5000) AS title,
       w.raw_type,
       CAST(NULL AS {str_t}) AS type,
       CASE WHEN w.raw_type = 'posted-content' THEN 'acceptedVersion'
            ELSE 'publishedVersion' END AS version,
       {_ids_sig()} AS ids_sig,
       {lic} AS raw_license,
       CAST(make_date(w.y, coalesce(w.mo, 1), coalesce(w.dy, 1)) AS {str_t}) AS issued,
       coalesce(p.n_authors, 0) AS n_authors,
       coalesce(p.authors_sig, '') AS authors_sig
FROM works w LEFT JOIN per_work p ON p.work_id = w.work_id
ORDER BY w.work_id
"""


@register(
    "crossref_parse_ingest",
    oracle=_assemble("duck"),
    tags=("ingest", "crossref", "text"),
    tables=("orders", "lineitem"),
)
def crossref_parse_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crossref ingest parse (Crossref.py crossref_parsed; see module
    docstring).  The whole transform is one SQL text compiled for both
    dialects — the Spark side runs it verbatim over the registered
    views, so the regex battery, the excluded-publisher bypass, and the
    ladder semantics are hash-locked against RE2."""
    return spark.sql(_assemble("spark"))


# ---------------------------------------------------------------------------
# PubMed ingest parse (notebooks/ingest/PubMed.py, pubmed_parsed)
# ---------------------------------------------------------------------------
# Distinctive semantics ported here (Crossref covers the shared shapes):
#
# * consolidate_awards (PubMed.py:23-46) — the reference groups grant
#   records by agency with a row UDF preserving first-appearance order;
#   Spark-first this is a relational groupBy: agencies ordered by first
#   occurrence, award ids in record order within each agency — zero
#   Python, identical output;
# * the full ISO 639-2/B -> 639-1 language map (PubMed.py:52-100) as a
#   broadcast lookup JOIN (the reference pays a row-UDF dict lookup per
#   record); bibliographic variants (alb/sq, chi/zh, dut/nl, fre/fr,
#   ger/de ...) included, 'und' and unknown codes -> NULL;
# * the pmid/doi/pmc/pii/mid + eissn/lissn typed-id regime with the
#   empty-id filter; pmid is the 'self' relationship;
# * the lenient date resolution: TRY_CAST(concat_ws('-', y, m, d)) —
#   missing day => first of month, missing month => January 1 (the
#   reference's to_date-over-concat_ws semantics; the oracle states it
#   as make_date with defaults).

# The reference's dict, verbatim (public ISO 639-2 standard data).
LANG_3TO2 = {
    'aar': 'aa', 'abk': 'ab', 'afr': 'af', 'aka': 'ak', 'alb': 'sq', 'amh': 'am',
    'ara': 'ar', 'arg': 'an', 'arm': 'hy', 'asm': 'as', 'ava': 'av', 'ave': 'ae',
    'aym': 'ay', 'aze': 'az', 'bak': 'ba', 'bam': 'bm', 'baq': 'eu', 'bel': 'be',
    'ben': 'bn', 'bih': 'bh', 'bis': 'bi', 'bod': 'bo', 'bos': 'bs', 'bre': 'br',
    'bul': 'bg', 'bur': 'my', 'cat': 'ca', 'ces': 'cs', 'cha': 'ch', 'che': 'ce',
    'chi': 'zh', 'chu': 'cu', 'chv': 'cv', 'cor': 'kw', 'cos': 'co', 'cre': 'cr',
    'cym': 'cy', 'cze': 'cs', 'dan': 'da', 'deu': 'de', 'div': 'dv', 'dut': 'nl',
    'dzo': 'dz', 'ell': 'el', 'eng': 'en', 'epo': 'eo', 'est': 'et', 'eus': 'eu',
    'ewe': 'ee', 'fao': 'fo', 'fas': 'fa', 'fij': 'fj', 'fin': 'fi', 'fra': 'fr',
    'fre': 'fr', 'fry': 'fy', 'ful': 'ff', 'geo': 'ka', 'ger': 'de', 'gla': 'gd',
    'gle': 'ga', 'glg': 'gl', 'glv': 'gv', 'gre': 'el', 'grn': 'gn', 'guj': 'gu',
    'hat': 'ht', 'hau': 'ha', 'heb': 'he', 'her': 'hz', 'hin': 'hi', 'hmo': 'ho',
    'hrv': 'hr', 'hun': 'hu', 'hye': 'hy', 'ibo': 'ig', 'ice': 'is', 'ido': 'io',
    'iii': 'ii', 'iku': 'iu', 'ile': 'ie', 'ina': 'ia', 'ind': 'id', 'ipk': 'ik',
    'isl': 'is', 'ita': 'it', 'jav': 'jv', 'jpn': 'ja', 'kal': 'kl', 'kan': 'kn',
    'kas': 'ks', 'kat': 'ka', 'kau': 'kr', 'kaz': 'kk', 'khm': 'km', 'kik': 'ki',
    'kin': 'rw', 'kir': 'ky', 'kom': 'kv', 'kon': 'kg', 'kor': 'ko', 'kua': 'kj',
    'kur': 'ku', 'lao': 'lo', 'lat': 'la', 'lav': 'lv', 'lim': 'li', 'lin': 'ln',
    'lit': 'lt', 'ltz': 'lb', 'lub': 'lu', 'lug': 'lg', 'mac': 'mk', 'mah': 'mh',
    'mal': 'ml', 'mao': 'mi', 'mar': 'mr', 'may': 'ms', 'mkd': 'mk', 'mlg': 'mg',
    'mlt': 'mt', 'mon': 'mn', 'mri': 'mi', 'msa': 'ms', 'mya': 'my', 'nau': 'na',
    'nav': 'nv', 'nbl': 'nr', 'nde': 'nd', 'ndo': 'ng', 'nep': 'ne', 'nld': 'nl',
    'nno': 'nn', 'nob': 'nb', 'nor': 'no', 'nya': 'ny', 'oci': 'oc', 'oji': 'oj',
    'ori': 'or', 'orm': 'om', 'oss': 'os', 'pan': 'pa', 'per': 'fa', 'pli': 'pi',
    'pol': 'pl', 'por': 'pt', 'pus': 'ps', 'que': 'qu', 'roh': 'rm', 'ron': 'ro',
    'rum': 'ro', 'run': 'rn', 'rus': 'ru', 'sag': 'sg', 'san': 'sa', 'sin': 'si',
    'slk': 'sk', 'slo': 'sk', 'slv': 'sl', 'sme': 'se', 'smo': 'sm', 'sna': 'sn',
    'snd': 'sd', 'som': 'so', 'sot': 'st', 'spa': 'es', 'sqi': 'sq', 'srd': 'sc',
    'srp': 'sr', 'ssw': 'ss', 'sun': 'su', 'swa': 'sw', 'swe': 'sv', 'tah': 'ty',
    'tam': 'ta', 'tat': 'tt', 'tel': 'te', 'tgk': 'tg', 'tgl': 'tl', 'tha': 'th',
    'tib': 'bo', 'tir': 'ti', 'ton': 'to', 'tsn': 'tn', 'tso': 'ts', 'tuk': 'tk',
    'tur': 'tr', 'twi': 'tw', 'uig': 'ug', 'ukr': 'uk', 'urd': 'ur', 'uzb': 'uz',
    'ven': 've', 'vie': 'vi', 'vol': 'vo', 'wel': 'cy', 'wln': 'wa', 'wol': 'wo',
    'xho': 'xh', 'yid': 'yi', 'yor': 'yo', 'zha': 'za', 'zho': 'zh', 'zul': 'zu',
    'und': 'und',
}

_LANG_POOL = "'eng','fre','ger','chi','jpn','rus','spa','dut','und','xxx','por','ita'"


def _pm_assemble(dialect: str) -> str:
    str_t = "STRING" if dialect == "spark" else "VARCHAR"
    vals = ", ".join(f"('{k}', '{v}')" for k, v in LANG_3TO2.items())
    if dialect == "spark":
        lang_pick = f"element_at(array({_LANG_POOL}), CAST(o_orderkey % 12 AS INT) + 1)"
        date_expr = "TRY_CAST(concat_ws('-', CAST(y AS STRING), CAST(mo AS STRING), CAST(dy AS STRING)) AS DATE)"
        agg_funders = (
            "array_join(transform(array_sort(collect_list(struct(first_seq, agency, awards_sig))),"
            " x -> concat(x.agency, ':[', x.awards_sig, ']')), ';')"
        )
        agg_awards = (
            "array_join(transform(array_sort(collect_list(struct(seq, pk2, grant_id))),"
            " x -> x.grant_id), ',')"
        )
    else:
        lang_pick = f"([{_LANG_POOL}])[CAST(o_orderkey % 12 AS INT) + 1]"
        date_expr = "make_date(y, coalesce(mo, 1), coalesce(dy, 1))"
        agg_funders = (
            "string_agg(concat(agency, ':[', awards_sig, ']'), ';'"
            " ORDER BY first_seq, agency)"
        )
        agg_awards = "string_agg(grant_id, ',' ORDER BY seq, pk2)"
    return f"""
WITH langs AS (SELECT * FROM (VALUES {vals}) t(c3, c2)),
works AS (
  SELECT o_orderkey AS pmid,
         concat('PT-', CAST(o_orderkey % 883 AS {str_t})) AS title0,
         {lang_pick} AS lang3,
         CASE WHEN o_orderkey % 3 <> 1 THEN concat('10.', CAST(o_orderkey AS {str_t})) ELSE '' END AS doi,
         CASE WHEN o_orderkey % 4 = 0 THEN concat('PMC', CAST(o_orderkey AS {str_t})) ELSE '' END AS pmc,
         CASE WHEN o_orderkey % 7 = 0 THEN concat('S01-', CAST(o_orderkey % 100 AS {str_t})) ELSE '' END AS pii,
         CASE WHEN o_orderkey % 11 = 0 THEN concat('NIHMS', CAST(o_orderkey % 1000 AS {str_t})) ELSE '' END AS mid,
         CASE WHEN o_orderkey % 2 = 0 THEN concat('19', CAST(o_orderkey % 70 + 10 AS {str_t})) ELSE '' END AS eissn,
         CASE WHEN o_orderkey % 6 < 3 THEN concat('08', CAST(o_orderkey % 80 + 10 AS {str_t})) ELSE '' END AS lissn,
         CASE CAST(o_orderkey % 4 AS INT)
           WHEN 0 THEN 'Journal Article' WHEN 1 THEN 'Review'
           WHEN 2 THEN 'Clinical Trial' ELSE 'Letter' END AS raw_type,
         CAST(1980 + o_orderkey % 40 AS INT) AS y,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE CAST(o_orderkey % 12 + 1 AS INT) END AS mo,
         CASE WHEN o_orderkey % 5 <= 1 THEN NULL ELSE CAST(o_orderkey % 28 + 1 AS INT) END AS dy
  FROM orders
),
grants AS (
  SELECT l_orderkey AS pmid,
         concat('Agy', CAST(l_suppkey % 7 AS {str_t})) AS agency,
         concat('G', CAST(l_partkey % 60 AS {str_t})) AS grant_id,
         l_linenumber AS seq, l_partkey AS pk2
  FROM lineitem WHERE l_linenumber <= 6 AND l_orderkey % 5 <> 0
),
per_agency AS (
  SELECT pmid, agency,
         min(seq * 1000000 + pk2 % 1000000) AS first_seq,
         {agg_awards} AS awards_sig
  FROM grants GROUP BY pmid, agency
),
funders AS (
  SELECT pmid, {agg_funders} AS funders_sig
  FROM per_agency GROUP BY pmid
)
SELECT w.pmid AS work_id,
       substr(w.title0, 1, 5000) AS title,
       'pmid' AS native_id_namespace,
       concat_ws(';',
         CASE WHEN w.doi <> '' THEN concat('doi:', w.doi) END,
         concat('pmid:', CAST(w.pmid AS {str_t}), ':self'),
         CASE WHEN w.pmc <> '' THEN concat('pmcid:', w.pmc) END,
         CASE WHEN w.pii <> '' THEN concat('pii:', w.pii) END,
         CASE WHEN w.mid <> '' THEN concat('mid:', w.mid) END,
         CASE WHEN w.eissn <> '' THEN concat('eissn:', w.eissn) END,
         CASE WHEN w.lissn <> '' THEN concat('lissn:', w.lissn) END) AS ids_sig,
       w.raw_type,
       CASE WHEN lower(w.lang3) = 'und' THEN NULL ELSE lg.c2 END AS language,
       CAST({date_expr} AS {str_t}) AS pub_date,
       coalesce(f.funders_sig, '') AS funders_sig
FROM works w
LEFT JOIN langs lg ON lg.c3 = lower(w.lang3)
LEFT JOIN funders f ON f.pmid = w.pmid
ORDER BY w.pmid
"""


@register(
    "pubmed_parse_ingest",
    oracle=_pm_assemble("duck"),
    tags=("ingest", "pubmed"),
    tables=("orders", "lineitem"),
)
def pubmed_parse_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PubMed ingest parse — award consolidation, ISO-639 mapping,
    typed ids, lenient dates (PubMed.py pubmed_parsed; see the section
    comment above).  One SQL text, two dialects."""
    return spark.sql(_pm_assemble("spark"))


# ---------------------------------------------------------------------------
# DataCite ingest parse (notebooks/ingest/DataCite.py, datacite_parsed)
# ---------------------------------------------------------------------------
# Distinctive semantics ported here:
#
# * the placeholder-name machine (DataCite.py:86-91): creators whose
#   name AND givenName AND familyName are all placeholder-or-empty are
#   DROPPED; surviving placeholder fields are NULLed individually.  The
#   regex is the reference's, verbatim: '(:unav)' / '(:unkn) unknown' /
#   '(:null) unassigned' forms, lowercased input, RE2-safe;
# * ORCID only when the FIRST nameIdentifier's scheme is ORCID, then
#   pattern-extracted; affiliation ror_id only when the scheme is
#   (case-insensitively) 'ror';
# * the ids regime: self DOI + relatedIdentifiers with LOWERCASED
#   namespaces excluding url/references + the datacite_client self
#   entry, deduped (the reference's concat+array_distinct — its
#   array_union replacement after the 3-hour-task incident);
# * the oxjob #476 raw_type rule: resourceTypeGeneral primary; fall
#   back to citeproc ONLY for the generic 'Text' bucket (citeproc under
#   Other/Collection/null is the 'article' placeholder and must NOT be
#   trusted);
# * the rights ladder (creativecommons-preferred, else first);
# * the published-date ladder: min 'submitted' date, else min of all
#   dates, else LEAST(registered, created) — then the year >= 1900
#   sanity gate.

_DC_PLACEHOLDER = r"^\s*\(:un[a-z]{2,3}\)(\s*(unknown( author)?|unassigned))?\s*$"


def _dc_assemble(dialect: str) -> str:
    str_t = "STRING" if dialect == "spark" else "VARCHAR"
    if dialect == "spark":
        _php = _DC_PLACEHOLDER.replace("\\", "\\\\")
        rx = lambda x: f"(lower({x}) RLIKE '{_php}')"  # noqa: E731
        agg_sig = (
            "array_join(transform(array_sort(collect_list(struct(seat, pk, sk, seat_sig))),"
            " x -> x.seat_sig), '||')"
        )
        ids_agg = "array_join(array_sort(array_distinct(collect_list(id_ent))), ';')"
        datemin = "TRY_CAST(min(CASE WHEN lower(dtype) = 'submitted' THEN dt END) AS DATE)"
        datemin_all = "TRY_CAST(min(dt) AS DATE)"
    else:
        rx = lambda x: f"regexp_matches(lower({x}), '{_DC_PLACEHOLDER}')"  # noqa: E731
        agg_sig = "string_agg(seat_sig, '||' ORDER BY seat, pk, sk)"
        ids_agg = "array_to_string(list_sort(list_distinct(list(id_ent))), ';')"
        datemin = "try_cast(min(CASE WHEN lower(dtype) = 'submitted' THEN dt END) AS DATE)"
        datemin_all = "try_cast(min(dt) AS DATE)"
    ph = "'(:unav)'"
    ph2 = "'(:unkn) Unknown'"
    ph3 = "'(:null) unassigned'"
    return f"""
WITH works AS (
  SELECT o_orderkey AS okey,
         concat('10.', CAST(o_orderkey AS {str_t}), '/dc') AS native_id,
         CASE WHEN o_orderkey % 13 = 0 THEN 'handles' ELSE 'dois' END AS dtype0,
         concat('DT-', CAST(o_orderkey % 769 AS {str_t})) AS title0,
         (['Dataset','Software','Text','Other','Collection'])POOLIDX1 AS rtg0,
         CASE WHEN o_orderkey % 11 = 0 THEN NULL
              ELSE (['Dataset','Software','Text','Other','Collection'])POOLIDX1 END AS rtg,
         CASE WHEN o_orderkey % 6 < 4 THEN (['article-journal','book'])POOLIDX2 END AS citeproc,
         CASE WHEN o_orderkey % 4 = 0
              THEN 'https://creativecommons.org/licenses/by/4.0' END AS rights_cc,
         CASE WHEN o_orderkey % 3 <> 1
              THEN concat('https://r.test/', CAST(o_orderkey % 40 AS {str_t})) END AS rights_other,
         CASE WHEN o_orderkey % 9 = 0 THEN '1890-01-05' ELSE
           concat(CAST(1990 + o_orderkey % 30 AS {str_t}), '-03-0',
                  CAST(o_orderkey % 9 + 1 AS {str_t})) END AS registered,
         concat(CAST(1991 + o_orderkey % 28 AS {str_t}), '-06-0',
                CAST(o_orderkey % 9 + 1 AS {str_t})) AS created,
         concat('cl', CAST(o_orderkey % 30 AS {str_t})) AS client_id,
         CASE WHEN o_orderkey % 10 < 8 THEN (['en','de','fr','ja'])POOLIDX3 END AS language
  FROM orders
),
creators0 AS (
  SELECT l_orderkey AS okey, l_linenumber AS seat, l_partkey AS pk, l_suppkey AS sk,
         CASE CAST((l_partkey + l_linenumber) % 8 AS INT)
           WHEN 0 THEN CAST(NULL AS {str_t})
           WHEN 1 THEN {ph}
           WHEN 2 THEN CAST(NULL AS {str_t})
           WHEN 3 THEN concat('Org Entity ', CAST(l_suppkey % 20 AS {str_t}))
           WHEN 4 THEN ''
           ELSE CAST(NULL AS {str_t}) END AS nm,
         CASE CAST((l_partkey + l_linenumber) % 8 AS INT)
           WHEN 0 THEN concat('Gd', CAST(l_suppkey % 25 AS {str_t}))
           WHEN 1 THEN {ph}
           WHEN 2 THEN {ph2}
           WHEN 5 THEN concat('Go', CAST(l_suppkey % 25 AS {str_t}))
           WHEN 6 THEN concat('Gn', CAST(l_suppkey % 25 AS {str_t}))
           WHEN 7 THEN concat('Ga', CAST(l_suppkey % 25 AS {str_t}))
           ELSE CAST(NULL AS {str_t}) END AS gv,
         CASE CAST((l_partkey + l_linenumber) % 8 AS INT)
           WHEN 0 THEN concat('Fd', CAST(l_suppkey % 30 AS {str_t}))
           WHEN 1 THEN {ph3}
           WHEN 2 THEN concat('Fk', CAST(l_suppkey % 30 AS {str_t}))
           WHEN 5 THEN concat('Fo', CAST(l_suppkey % 30 AS {str_t}))
           WHEN 6 THEN concat('Fn', CAST(l_suppkey % 30 AS {str_t}))
           WHEN 7 THEN concat('Fa', CAST(l_suppkey % 30 AS {str_t}))
           ELSE CAST(NULL AS {str_t}) END AS fm,
         CASE WHEN (l_partkey + l_linenumber) % 8 = 5 THEN 'ORCID'
              WHEN (l_partkey + l_linenumber) % 8 = 6 THEN 'ISNI' END AS id_scheme,
         CASE WHEN (l_partkey + l_linenumber) % 8 IN (5, 6)
              THEN concat('https://orcid.org/0000-000', CAST(l_suppkey % 10 AS {str_t}),
                          '-1234-567', CAST(l_suppkey % 9 AS {str_t})) END AS name_ident,
         CASE WHEN (l_partkey + l_linenumber) % 8 = 7
              THEN CASE WHEN l_partkey % 2 = 0 THEN 'ROR' ELSE 'GRID' END END AS aff_scheme,
         CASE WHEN (l_partkey + l_linenumber) % 8 = 7
              THEN concat('https://ror.org/0', CAST(l_partkey % 99 AS {str_t})) END AS aff_ident,
         CASE WHEN (l_partkey + l_linenumber) % 8 = 7
              THEN concat('Aff ', CAST(l_partkey % 17 AS {str_t})) END AS aff_name
  FROM lineitem WHERE l_linenumber <= 4
),
kept AS (
  SELECT * FROM creators0
  WHERE NOT (
    (nm IS NULL OR length(trim(nm)) = 0 OR {rx("nm")})
    AND (gv IS NULL OR length(trim(gv)) = 0 OR {rx("gv")})
    AND (fm IS NULL OR length(trim(fm)) = 0 OR {rx("fm")})
  )
),
seat_sigs AS (
  SELECT okey, seat, pk, sk,
         concat(
           coalesce(CASE WHEN gv IS NOT NULL AND {rx("gv")} THEN NULL ELSE gv END, '~'), '|',
           coalesce(CASE WHEN fm IS NOT NULL AND {rx("fm")} THEN NULL ELSE fm END, '~'), '|',
           coalesce(CASE WHEN nm IS NOT NULL AND {rx("nm")} THEN NULL ELSE nm END, '~'), '|',
           coalesce(CASE WHEN id_scheme = 'ORCID' THEN
             regexp_extract(coalesce(name_ident, ''),
               '([0-9]{{4}}-[0-9]{{4}}-[0-9]{{4}}-[0-9]{{3}}[0-9Xx])', 1) END, ''), '|',
           CASE WHEN aff_name IS NOT NULL THEN concat(aff_name, '^',
             coalesce(CASE WHEN lower(coalesce(aff_scheme, '')) = 'ror'
                           THEN aff_ident END, '~')) ELSE '' END) AS seat_sig
  FROM kept
),
per_work_authors AS (
  SELECT okey, CAST(count(*) AS BIGINT) AS n_authors, {agg_sig} AS authors_sig
  FROM seat_sigs GROUP BY okey
),
rel_ids AS (
  SELECT l_orderkey AS okey,
         concat(lower(CASE CAST(l_partkey % 5 AS INT)
                  WHEN 0 THEN 'DOI' WHEN 1 THEN 'Handle' WHEN 2 THEN 'URL'
                  WHEN 3 THEN 'references' ELSE 'ISSN' END), ':',
                'rel-', CAST(l_partkey % 200 AS {str_t}), ':',
                CASE CAST(l_suppkey % 3 AS INT)
                  WHEN 0 THEN 'IsPartOf' WHEN 1 THEN 'Cites' ELSE 'IsVersionOf' END) AS id_ent,
         CASE CAST(l_partkey % 5 AS INT) WHEN 2 THEN 1 WHEN 3 THEN 1 ELSE 0 END AS excluded
  FROM lineitem WHERE l_linenumber IN (5, 6)
),
per_work_ids AS (
  SELECT okey, {ids_agg} AS rel_sig
  FROM rel_ids WHERE excluded = 0 GROUP BY okey
),
work_dates AS (
  SELECT l_orderkey AS okey,
         concat(CAST(1992 + l_partkey % 25 AS {str_t}), '-0',
                CAST(l_partkey % 9 + 1 AS {str_t}), '-1',
                CAST(l_suppkey % 9 AS {str_t})) AS dt,
         CASE CAST(l_suppkey % 4 AS INT)
           WHEN 0 THEN 'Submitted' WHEN 1 THEN 'Issued' ELSE 'Updated' END AS dtype
  FROM lineitem WHERE l_linenumber = 7 AND l_orderkey % 3 <> 2
),
per_work_dates AS (
  SELECT okey, {datemin} AS submitted_min, {datemin_all} AS all_min
  FROM work_dates GROUP BY okey
)
SELECT w.native_id,
       CASE WHEN w.dtype0 = 'dois' THEN 'doi' ELSE w.dtype0 END AS native_id_namespace,
       substr(w.title0, 1, 5000) AS title,
       coalesce(
         CASE WHEN w.rtg NOT IN ('Text', 'Other', 'Collection') THEN w.rtg END,
         CASE WHEN w.rtg = 'Text' THEN w.citeproc END,
         w.rtg) AS raw_type,
       coalesce(w.rights_cc, w.rights_other) AS raw_license,
       w.language,
       CAST(
         CASE WHEN year(d0.final_date) >= 1900 THEN d0.final_date END
         AS {str_t}) AS published_date,
       concat_ws(';',
         concat('doi:', w.native_id, ':self'),
         p.rel_sig,
         concat('datacite_client:', w.client_id, ':self')) AS ids_sig,
       coalesce(a.n_authors, 0) AS n_authors,
       coalesce(a.authors_sig, '') AS authors_sig
FROM works w
LEFT JOIN per_work_authors a ON a.okey = w.okey
LEFT JOIN per_work_ids p ON p.okey = w.okey
LEFT JOIN (
  SELECT w2.okey,
         coalesce(pd.submitted_min, pd.all_min,
                  least(try_cast(w2.registered AS DATE), try_cast(w2.created AS DATE))) AS final_date
  FROM works w2 LEFT JOIN per_work_dates pd ON pd.okey = w2.okey
) d0 ON d0.okey = w.okey
ORDER BY w.native_id
"""


def _dc_fix(sql: str, dialect: str) -> str:
    if dialect == "spark":
        sql = sql.replace(
            "(['Dataset','Software','Text','Other','Collection'])POOLIDX1",
            "element_at(array('Dataset','Software','Text','Other','Collection'),"
            " CAST(o_orderkey % 5 AS INT) + 1)",
        )
        sql = sql.replace(
            "(['article-journal','book'])POOLIDX2",
            "element_at(array('article-journal','book'), CAST(o_orderkey % 2 AS INT) + 1)",
        )
        sql = sql.replace(
            "(['en','de','fr','ja'])POOLIDX3",
            "element_at(array('en','de','fr','ja'), CAST(o_orderkey % 4 AS INT) + 1)",
        )
    else:
        sql = sql.replace("POOLIDX1", "[CAST(o_orderkey % 5 AS INT) + 1]")
        sql = sql.replace("POOLIDX2", "[CAST(o_orderkey % 2 AS INT) + 1]")
        sql = sql.replace("POOLIDX3", "[CAST(o_orderkey % 4 AS INT) + 1]")
    return sql


@register(
    "datacite_parse_ingest",
    oracle=_dc_fix(_dc_assemble("duck"), "duck"),
    tags=("ingest", "datacite"),
    tables=("orders", "lineitem"),
    spread=("orders", "lineitem"),
)
def datacite_parse_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataCite ingest parse — placeholder-name machine, typed related
    identifiers, the oxjob-476 raw_type rule, the published-date ladder
    (DataCite.py datacite_parsed; see the section comment above)."""
    return spark.sql(_dc_fix(_dc_assemble("spark"), "spark"))


# ---------------------------------------------------------------------------
# Landing-page staging (notebooks/ingest/LandingPage.py, landing_page_staged)
# ---------------------------------------------------------------------------
# Distinctive semantics: the triple-id assembly (url self + original
# native id + the taxicab '<id>.html.gz' docs pointer), the 'other-oa'
# license NULLing (parseland's detection is too broad), the abstract
# length cap, the urls union (existing ∪ url ∪ resolved_url, deduped),
# cc-substring is_oa, and the bad-re-scrape guard: had_error rows and
# rows with NO authors AND NO abstract AND NO license are dropped so a
# bot-blocked re-scrape can never overwrite good data via the
# sequence_by MERGE.

def _lp_assemble(dialect: str) -> str:
    str_t = "STRING" if dialect == "spark" else "VARCHAR"
    if dialect == "spark":
        url_union = (
            "array_join(array_sort(array_distinct(concat("
            " CASE WHEN prior_url IS NOT NULL THEN array(prior_url) ELSE array() END,"
            " CASE WHEN url IS NOT NULL THEN array(url) ELSE array() END,"
            " CASE WHEN resolved_url IS NOT NULL THEN array(resolved_url) ELSE array() END))), ';')"
        )
    else:
        url_union = (
            "array_to_string(list_sort(list_distinct(flatten(["
            " CASE WHEN prior_url IS NOT NULL THEN [prior_url] ELSE [] END,"
            " CASE WHEN url IS NOT NULL THEN [url] ELSE [] END,"
            " CASE WHEN resolved_url IS NOT NULL THEN [resolved_url] ELSE [] END]))), ';')"
        )
    return f"""
WITH parsed AS (
  SELECT concat('https://site.test/', CAST(o_orderkey AS {str_t})) AS url,
         concat('oai:', CAST(o_orderkey AS {str_t})) AS orig_native_id,
         'pmh' AS orig_ns,
         concat('txc-', CAST(o_orderkey % 5000 AS {str_t})) AS taxicab_id,
         CAST(o_orderkey % 4 AS INT) AS n_authors,
         CASE WHEN o_orderkey % 5 < 3
              THEN concat('Abstract text for ', CAST(o_orderkey % 120 AS {str_t})) END AS abstract0,
         CASE CAST(o_orderkey % 6 AS INT)
           WHEN 0 THEN 'cc-by' WHEN 1 THEN 'other-oa' WHEN 2 THEN 'cc0'
           WHEN 3 THEN 'publisher-specific' ELSE NULL END AS license0,
         CASE WHEN o_orderkey % 7 <> 0
              THEN concat('https://site.test/', CAST(o_orderkey AS {str_t})) END AS prior_url,
         CASE WHEN o_orderkey % 3 = 0
              THEN concat('https://resolved.test/', CAST(o_orderkey % 900 AS {str_t})) END
           AS resolved_url,
         (o_orderkey % 13 = 0) AS had_error
  FROM orders
),
staged AS (
  SELECT url AS native_id, 'url' AS native_id_namespace,
         n_authors,
         concat('url:', url, ':self;', orig_ns, ':', orig_native_id, ';',
                'docs.html:', taxicab_id, '.html.gz') AS ids_sig,
         CASE WHEN license0 = 'other-oa' THEN NULL ELSE license0 END AS license,
         CASE WHEN length(abstract0) > 40 THEN substr(abstract0, 1, 40)
              ELSE abstract0 END AS abstract,
         {url_union} AS urls_sig,
         CASE WHEN license0 IS NOT NULL AND lower(license0) LIKE '%cc%'
              THEN TRUE ELSE FALSE END AS is_oa,
         had_error, license0, abstract0
  FROM parsed
)
SELECT native_id, native_id_namespace, n_authors, ids_sig, license, abstract,
       urls_sig, is_oa
FROM staged
WHERE had_error = FALSE
  AND (n_authors > 0
       OR (abstract0 IS NOT NULL AND length(abstract0) > 0)
       OR (license0 IS NOT NULL AND length(license0) > 0))
ORDER BY native_id
"""


@register(
    "landing_page_stage",
    oracle=_lp_assemble("duck"),
    tags=("ingest", "landingpage"),
    tables=("orders",),
)
def landing_page_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing-page staging — triple-id assembly, other-oa nulling, url
    union, the bad-re-scrape guard (LandingPage.py landing_page_staged;
    see the section comment).  NOTE the guard tests the PRE-nulling
    license (the reference filters on F.col('license'), the raw input
    column) — an 'other-oa'-only row still passes the guard even though
    its staged license is NULL."""
    return spark.sql(_lp_assemble("spark"))


# ---------------------------------------------------------------------------
# MAG batch rebuild (notebooks/ingest/CreateMagWorks.py)
# ---------------------------------------------------------------------------
# The enrichment chain lives in the shared library (covered by the P*
# queries); the portable rebuild semantics here are:
# * the Deleted Journal / DOAJ source exclusion (NULL source survives);
# * latest row per native_id — updated_date DESC NULLS LAST with a
#   CONTENT-HASH tiebreak (the reference uses xxhash64 over all
#   columns; the port uses the repo's md5-based portable hash);
# * the URL-less husk filter: EXISTS(urls, x -> x.url IS NOT NULL).

def _mag_assemble(dialect: str) -> str:
    str_t = "STRING" if dialect == "spark" else "VARCHAR"
    if dialect == "spark":
        from openalex_walden_spark.functions.hashing import stable_hash64_sql as _h
        hash_expr = _h("concat(native_id, '|', title, '|', coalesce(src, '~'))")
        exists_url = "exists(urls_arr, x -> x IS NOT NULL)"
        urls_arr = (
            "array(CASE WHEN okey % 4 <> 1 THEN concat('https://m.test/', CAST(okey AS STRING)) END,"
            " CASE WHEN okey % 6 = 0 THEN concat('https://m2.test/', CAST(okey AS STRING)) END)"
        )
    else:
        from openalex_walden_spark.functions.hashing import stable_hash64_duckdb as _h
        hash_expr = _h("concat(native_id, '|', title, '|', coalesce(src, '~'))")
        exists_url = "len(list_filter(urls_arr, x -> x IS NOT NULL)) > 0"
        urls_arr = (
            "[CASE WHEN okey % 4 <> 1 THEN concat('https://m.test/', CAST(okey AS VARCHAR)) END,"
            " CASE WHEN okey % 6 = 0 THEN concat('https://m2.test/', CAST(okey AS VARCHAR)) END]"
        )
    return f"""
WITH raw AS (
  SELECT l_orderkey AS okey,
         concat('mag:', CAST(l_orderkey AS {str_t}), '.',
                CAST(l_linenumber % 3 AS {str_t})) AS native_id,
         concat('MT-', CAST((l_orderkey + l_partkey) % 211 AS {str_t})) AS title,
         CASE CAST(l_suppkey % 5 AS INT)
           WHEN 0 THEN 'Deleted Journal'
           WHEN 1 THEN 'DOAJ (DOAJ: Directory of Open Access Journals)'
           WHEN 2 THEN NULL
           ELSE concat('Journal ', CAST(l_suppkey % 40 AS {str_t})) END AS src,
         CASE WHEN l_partkey % 7 = 0 THEN NULL
              ELSE CAST(l_partkey % 100 AS INT) END AS updated_rank
  FROM lineitem
),
kept AS (
  SELECT *, {urls_arr} AS urls_arr FROM raw
  WHERE src IS NULL
     OR src NOT IN ('Deleted Journal', 'DOAJ (DOAJ: Directory of Open Access Journals)')
),
deduped AS (
  SELECT native_id, title, src, updated_rank, urls_arr FROM (
    SELECT *, row_number() OVER (
      PARTITION BY native_id
      ORDER BY updated_rank DESC NULLS LAST, {hash_expr} DESC) AS rn
    FROM kept
  ) q WHERE rn = 1
)
SELECT native_id, title, src, updated_rank
FROM deduped
WHERE {exists_url}
ORDER BY native_id
"""


@register(
    "mag_works_rebuild",
    oracle=_mag_assemble("duck"),
    tags=("ingest", "mag", "dedup"),
    tables=("lineitem",),
)
def mag_works_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAG batch rebuild — source exclusion, latest-per-native_id with
    the content-hash tiebreak, URL-less husk filter
    (CreateMagWorks.py; see the section comment)."""
    return spark.sql(_mag_assemble("spark"))


# ---------------------------------------------------------------------------
# IRDB JPCOAR id extraction (notebooks/ingest/IRDB.py, extract_jpcoar_ids)
# ---------------------------------------------------------------------------
# The reference extracts typed ids with a row UDF; Spark-first this is
# relational classification + first-wins dedup.  Rules carried:
# * DOI: strip https?://doi.org/ and https?://dx.doi.org/ prefixes,
#   keep ONLY values that then start with '10.' (junk DOIs drop);
# * HDL: strip https?://hdl.handle.net/;
# * ISSN family (ISSN/PISSN/EISSN all map to namespace 'issn'): insert
#   the dash into 8-char dashless forms (0286861X -> 0286-861X);
# * first-wins dedup per (namespace, id) in arrival order (identifiers
#   before source_identifiers);
# * the pmh self-reference is ALWAYS appended last.


def _jp_sql(dialect: str) -> str:
    s = "STRING" if dialect == "spark" else "VARCHAR"
    if dialect == "spark":
        rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}')"  # noqa: E731
        agg = (
            "array_join(transform(array_sort(collect_list("
            "named_struct('rk', rk, 'sig', concat(ns, ':', idv)))), x -> x.sig), ';')"
        )
        lateral = " LATERAL VIEW explode(sequence(0, 0)) t AS z"
    else:
        rr = lambda x, p, r: f"regexp_replace({x}, '{p}', '{r}')"  # noqa: E731
        agg = "string_agg(concat(ns, ':', idv), ';' ORDER BY rk)"
        lateral = ""
    doi_strip = rr(rr("trim(val)", "^https?://doi\\.org/", ""), "^https?://dx\\.doi\\.org/", "")
    hdl_strip = rr("trim(val)", "^https?://hdl\\.handle\\.net/", "")
    if dialect == "duck":
        doi_strip = doi_strip.replace("\\\\", "\\")
        hdl_strip = hdl_strip.replace("\\\\", "\\")
    return f"""
WITH entries AS (
  SELECT l_orderkey AS rec, 1 AS phase, l_linenumber AS seat, l_partkey AS pk,
         CASE CAST((l_partkey + l_linenumber) % 5 AS INT)
           WHEN 0 THEN 'DOI' WHEN 1 THEN 'DOI' WHEN 2 THEN 'HDL'
           WHEN 3 THEN 'URI' ELSE 'DOI' END AS id_type,
         CASE CAST((l_partkey + l_linenumber) % 5 AS INT)
           WHEN 0 THEN concat('https://doi.org/10.', CAST(l_partkey % 5000 AS {s}))
           WHEN 1 THEN concat('http://dx.doi.org/10.', CAST(l_partkey % 5000 AS {s}))
           WHEN 2 THEN concat('https://hdl.handle.net/2115/', CAST(l_partkey % 900 AS {s}))
           WHEN 3 THEN concat('https://ir.test/', CAST(l_partkey AS {s}))
           ELSE concat('junkdoi', CAST(l_partkey % 100 AS {s})) END AS val
  FROM lineitem WHERE l_linenumber <= 3
  UNION ALL
  SELECT l_orderkey, 2, l_linenumber, l_partkey,
         CASE CAST(l_partkey % 3 AS INT)
           WHEN 0 THEN 'ISSN' WHEN 1 THEN 'PISSN' ELSE 'EISSN' END,
         CASE WHEN l_partkey % 2 = 0
              THEN concat('0', CAST(286860 + l_partkey % 1000 AS {s}), 'X')
              ELSE concat('12', CAST(30 + l_partkey % 60 AS {s}), '-56',
                          CAST(10 + l_partkey % 80 AS {s})) END
  FROM lineitem WHERE l_linenumber IN (4, 5)
),
classified AS (
  SELECT rec, phase, seat, pk,
         CASE WHEN id_type = 'DOI' THEN 'doi'
              WHEN id_type = 'HDL' THEN 'handle'
              WHEN id_type IN ('ISSN', 'PISSN', 'EISSN') THEN 'issn' END AS ns,
         CASE WHEN id_type = 'DOI' THEN {doi_strip}
              WHEN id_type = 'HDL' THEN {hdl_strip}
              WHEN id_type IN ('ISSN', 'PISSN', 'EISSN') THEN
                CASE WHEN length(trim(val)) = 8 AND NOT contains(val, '-')
                     THEN concat(substr(trim(val), 1, 4), '-', substr(trim(val), 5))
                     ELSE trim(val) END END AS idv
  FROM entries
),
usable AS (
  SELECT * FROM classified
  WHERE ns IS NOT NULL AND idv IS NOT NULL
    AND (ns <> 'doi' OR idv LIKE '10.%')
),
first_wins AS (
  SELECT rec, ns, idv, phase * 1000000 + seat * 10000 + pk % 10000 AS rk
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY rec, ns, idv ORDER BY phase, seat, pk) AS dd
    FROM usable
  ) q WHERE dd = 1
),
with_self AS (
  SELECT rec, ns, idv, rk FROM first_wins
  UNION ALL
  SELECT o_orderkey, 'pmh', concat('oai:ir:', CAST(o_orderkey AS {s})),
         9000000 AS rk
  FROM orders
)
SELECT rec AS record_id, {agg} AS ids_sig
FROM with_self{lateral}
GROUP BY rec
ORDER BY rec
"""


@register(
    "irdb_jpcoar_ids",
    oracle=_jp_sql("duck"),
    tags=("ingest", "irdb", "ids"),
    tables=("lineitem", "orders"),
)
def irdb_jpcoar_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPCOAR typed-id extraction as relational classification —
    DOI/HDL prefix strips with the 10.-gate, ISSN dash insertion,
    first-wins dedup in arrival order, pmh self appended last
    (IRDB.py extract_jpcoar_ids; see the section comment).  The
    reference pays a row UDF per record; this is JVM column algebra."""
    return spark.sql(_jp_sql("spark"))
