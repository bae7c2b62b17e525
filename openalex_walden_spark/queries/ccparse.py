"""Canada Council prizes parse stage
(scripts/local/canada_council_prizes_to_s3.py).

The reference harvests two surfaces — prize-archive PDFs (pdftotext
line walking, :464-566) and the GGBooks winners JSON (:594-663) — and
funnels both through one normalize kit.  The line/DOM walking and HTTP
are the seam; what ports is the per-entry compute:

* ``clean_text`` (:249-253) and the entry gates (:484-496): BAD_ENTRY
  boilerplate dropped, names shorter than 2 or longer than 120 chars
  dropped, LOCATION_ONLY single-place "names" dropped;
* ``extract_name_category_work`` (:417-461): the '(First|Second|...)
  Prize:' prefix becomes the category; parentheticals dropped; the
  first ' for[/pour] ...' clause becomes the work title; a ' - Category'
  dash tail or a ', Category' comma tail fills a missing category; a
  leading 'Dr./Prof.' honorific is stripped; a location-only remainder
  nulls the name.  (The 'for the acquisition' cut (:439-443) is
  unreachable — the work-title split always consumes the first 'for' —
  and is deliberately not modeled.);
* ``split_name`` (:284-310): org-word / 'and' / '&' names return no
  person split; trailing generation/degree suffixes popped; single
  token -> family only;
* is_organization_like (:499): ORG_WORD hit, or (pdf arm only) a
  failed person split;
* GGBooks arm (:594-663): non-winners dropped, a trailing
  parenthetical location stripped from the author, comma-separated
  co-author strings exploded one row per laureate, the category key
  mapped through GG_CATEGORY_LABELS (unknown keys pass through);
* ``assign_funder_award_ids`` (:666-682): the colon-joined
  'canada-council:{prize}:{year}:{slug(category|language|general)}:
  {slug(name)}:{slug(work|no-work)}' id (slugify :256-260; the
  fixture is ASCII so the NFKD fold is identity).

Fixture: even orders rows synthesize PDF entries across the style
lattice (incl. gated rows that must drop); odd rows synthesize GGBooks
finalists (incl. a two-author split and a non-winner).  Plan: one scan,
column algebra + one explode for co-authors; no hash shuffle (each
arm's one exchange is the round-robin spread over its scan), no Python.

tests/test_template_fidelity.py re-derives the expected rows in Python
(reference semantics, independent of this SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.queries import sqlkit
from openalex_walden_spark.queries.registry import register

_SUFFIXES = ("'phd','ph.d.','md','m.d.','dphil','frs','jr','jr.','sr','sr.',"
             "'ii','iii','iv'")

_ORG_WORD = (
    "(?i)\\\\b(Gallery|Museum|Architects?|Architecture|Studio|Theatre|"
    "Orchestra|Centre|Council|Foundation|University|Inc[.]?|Association|"
    "Festival|Productions|Company|Library|School|Institute|Corporation|"
    "Office|Collective|Society|Network|Alliance|Firm|Biennale|Design|"
    "MODA|KPMB|MJMA)\\\\b"
)

_BAD_ENTRY = (
    "(?i)(no award|aucun prix|bringing the arts|cumulative|new format|"
    "shared/bourse|hebrew course|faculty exchange|program:|programme|"
    "offered|Canada Council for the Arts|canadacouncil[.]ca|"
    "1-800-263-5588|N[.]B[.] Before|Before 2002|OUTSTANDING CONTRIBUTION|"
    "CONTRIBUTION EXCEPTIONNELLE|SAIDYE BRONFMAN AWARD|PRIX SAIDYE)"
)

_LOCATIONS = (
    "'AB','Alberta','B.C.','BC','Britannique','British Columbia',"
    "'Colombie-Britannique','Columbia','Manitoba','Montreal','Montréal',"
    "'NB','N.B.','New Brunswick','NL','Nova Scotia','NS','N.S.','ON',"
    "'Ontario','Ottawa','PE','QC','Quebec','Québec','Saskatchewan',"
    "'Toronto','Vancouver','Musée des beaux-arts de l’Ontario'"
)

# GG_CATEGORY_LABELS (:220-236)
_GG_LABELS = (
    "('fiction', 'Fiction'), ('nonFiction', 'Non-fiction'), "
    "('proseAndPoetry', 'Prose and Poetry'), ('juvenile', 'Juvenile'), "
    "('poetry', 'Poetry'), ('drama', 'Drama'), "
    "('childrensLiteratureIllustration', "
    "'Children''s Literature - Illustration'), "
    "('youngPeoplesLiteratureText', 'Young People''s Literature - Text'), "
    "('translationFrenchToEnglish', 'Translation: French to English'), "
    "('translationEnglishToFrench', 'Translation: English to French')"
)

_PDF_ROWS = """
SELECT o_orderkey AS rid,
  CAST(o_orderkey % 36 + 1990 AS INT) AS year,
  element_at(array('killam-prize', 'molson-prize', 'walter-carsen-prize'),
             CAST(o_orderkey % 3 AS INT) + 1) AS prize_slug,
  element_at(array('Killam Prize', 'Molson Prize', 'Walter Carsen Prize'),
             CAST(o_orderkey % 3 AS INT) + 1) AS prize_name,
  CASE CAST(floor(o_orderkey / 2) % 7 AS INT)
    WHEN 0 THEN concat('First Prize: Alice Munro', CAST(o_orderkey AS STRING),
                       ', Writing, for Selected Stories ',
                       CAST(o_orderkey AS STRING))
    WHEN 1 THEN concat('Jean Tremblay', CAST(o_orderkey AS STRING),
                       ' (Montréal, QC) for the National Gallery design ',
                       CAST(o_orderkey AS STRING))
    WHEN 2 THEN concat('Emily Carr', CAST(o_orderkey AS STRING),
                       ' - Painting')
    WHEN 3 THEN concat('Special Prize: Toronto Symphony Orchestra ',
                       CAST(o_orderkey AS STRING))
    WHEN 4 THEN concat('Dr. Samuel Osei', CAST(o_orderkey AS STRING),
                       ', Neuroscience')
    WHEN 5 THEN 'Ontario'
    ELSE 'No award given this year'
  END AS entry_text
FROM orders WHERE o_orderkey % 2 = 0
"""

_GG_ROWS = """
SELECT o_orderkey AS rid,
  CAST(o_orderkey % 36 + 1990 AS INT) AS year,
  element_at(array('fiction', 'poetry', 'drama',
                   'childrensLiteratureIllustration', 'essay'),
             CAST(o_orderkey % 5 AS INT) + 1) AS category_key,
  CASE WHEN o_orderkey % 2 = 1 AND o_orderkey % 4 = 1
       THEN 'en' ELSE 'fr' END AS language,
  CASE CAST(floor(o_orderkey / 2) % 4 AS INT)
    WHEN 0 THEN concat('Margaret Atwood', CAST(o_orderkey AS STRING),
                       ' (Toronto)')
    WHEN 1 THEN concat('John Doe', CAST(o_orderkey AS STRING),
                       ', Jane Roe', CAST(o_orderkey AS STRING))
    WHEN 2 THEN concat('Anansi Press Collective ', CAST(o_orderkey AS STRING))
    ELSE concat('Gabrielle Roy', CAST(o_orderkey AS STRING))
  END AS author_raw,
  o_orderkey % 8 <> 7 AS winner,
  concat('Book Title ', CAST(o_orderkey AS STRING)) AS work_title,
  concat('Publisher ', CAST(o_orderkey % 19 AS STRING)) AS publisher
FROM orders WHERE o_orderkey % 2 = 1
"""


def _sql(dialect: str) -> str:
    k = sqlkit.kit(dialect)
    g, S, bar, elem, head, idx_of = k.g, k.S, k.bar, k.elem, k.head, k.idx_of
    jnagg, rl = k.jnagg, k.rl
    if dialect == "spark":
        explode_authors = (
            "LATERAL VIEW explode(split(authors_norm, ' *, +')) t AS one_author"
        )
        values_labels = (
            f"SELECT * FROM (VALUES {_GG_LABELS}) AS gg(k, label)"
        )
        pdf_rows, gg_rows = _PDF_ROWS, _GG_ROWS
    else:
        explode_authors = (
            ", unnest(regexp_split_to_array(authors_norm, ' *, +')) "
            "t(one_author)"
        )
        values_labels = f"SELECT * FROM (VALUES {_GG_LABELS}) gg(k, label)"
        pdf_rows = (_PDF_ROWS
                    .replace("AS STRING", "AS VARCHAR")
                    .replace(
                        "element_at(array('killam-prize', 'molson-prize', "
                        "'walter-carsen-prize'),",
                        "list_extract(['killam-prize', 'molson-prize', "
                        "'walter-carsen-prize'],")
                    .replace(
                        "element_at(array('Killam Prize', 'Molson Prize', "
                        "'Walter Carsen Prize'),",
                        "list_extract(['Killam Prize', 'Molson Prize', "
                        "'Walter Carsen Prize'],"))
        gg_rows = (_GG_ROWS
                   .replace("AS STRING", "AS VARCHAR")
                   .replace(
                       "element_at(array('fiction', 'poetry', 'drama',\n"
                       "                   'childrensLiteratureIllustration',"
                       " 'essay'),",
                       "list_extract(['fiction', 'poetry', 'drama',\n"
                       "                   'childrensLiteratureIllustration',"
                       " 'essay'],"))

    def clean(col: str) -> str:
        if dialect == "spark":
            return f"nullif(trim(regexp_replace({col}, '\\\\s+', ' ')), '')"
        return f"nullif(trim(regexp_replace({col}, '\\s+', ' ', 'g')), '')"

    def slug(col: str) -> str:
        return (
            f"coalesce(nullif(trim(BOTH '-' FROM regexp_replace("
            f"lower(coalesce({col}, '')), '[^a-zA-Z0-9]+', '-'{g})), ''),"
            f" 'unknown')"
        )

    for_pat = "(?i)\\\\bfor(/pour)?\\\\b (.+)$"
    for_x1 = "regexp_extract(np0, '(?i)^(.*?) ?\\\\bfor(?:/pour)?\\\\b (.+)$', 1)"
    for_x2 = "regexp_extract(np0, '(?i)^(.*?) ?\\\\bfor(?:/pour)?\\\\b (.+)$', 2)"
    tok_norm = "lower(trim(BOTH ',.' FROM t))"
    last_keep = (f"coalesce({idx_of('toks', f'{tok_norm} NOT IN ({_SUFFIXES})', 'array_max')}"
                 ", 0)")

    prize_prefix_pat = ("(?i)^(First Prize|Second Prize|Third Prize|"
                        "Honou?rable Mention|Special Prize) *[:-]")
    prize_prefix_x = ("regexp_extract(entry, '(?i)^(First Prize|Second Prize|"
                      "Third Prize|Honou?rable Mention|Special Prize) *[:-] *"
                      "(.+)$', @N@)")
    dash_pat = "^(.+?) [-–—] ([A-Za-z][A-Za-z /&-]{2,50})( |$)"
    dash_x = ("regexp_extract(np1, '^(.+?) [-–—] ([A-Za-z][A-Za-z /&-]"
              "{2,50})( |$)', @N@)")

    pdf_chain = ",\n".join([
        bar("pdf_prefixed", "pdf_gated", ["*"], [
            ("cat0",
             f"CASE WHEN {rl('entry', prize_prefix_pat)} THEN "
             f"{clean(prize_prefix_x.replace('@N@', '1'))} END"),
            ("english",
             f"CASE WHEN {rl('entry', prize_prefix_pat)} THEN "
             f"{clean(prize_prefix_x.replace('@N@', '2'))} ELSE entry END"),
        ]),
        bar("pdf_deparen", "pdf_prefixed", ["*"], [
            ("np0",
             "coalesce(" +
             clean("regexp_replace(english, '[(][^)]*[)]', ' '" + g + ")") +
             ", '')"),
        ]),
        bar("pdf_work", "pdf_deparen", ["*"], [
            ("work_title",
             f"CASE WHEN {rl('np0', for_pat)} THEN {clean(for_x2)} END"),
            ("np1",
             f"CASE WHEN {rl('np0', for_pat)} THEN "
             f"coalesce({clean(for_x1)}, '') ELSE np0 END"),
        ]),
        bar("pdf_dash", "pdf_work", ["*"], [
            ("np2",
             f"CASE WHEN {rl('np1', dash_pat)} THEN "
             f"coalesce({clean(dash_x.replace('@N@', '1'))}, '') ELSE np1 END"),
            ("cat1",
             f"CASE WHEN {rl('np1', dash_pat)} THEN "
             f"coalesce(cat0, {clean(dash_x.replace('@N@', '2'))}) ELSE cat0 END"),
        ]),
        bar("pdf_comma", "pdf_dash", ["*"], [
            ("np3",
             "CASE WHEN np2 LIKE '%,%' THEN coalesce(" +
             clean("split_part(np2, ',', 1)") + ", '') ELSE np2 END"),
            ("category",
             "CASE WHEN np2 LIKE '%,%' THEN coalesce(cat1, "
             "substr(coalesce(" +
             clean("substr(np2, length(split_part(np2, ',', 1)) + 2)") +
             ", ''), 1, 120)) ELSE cat1 END"),
        ]),
        bar("pdf_based", "pdf_comma", ["*"], [
            ("base",
             "trim(regexp_replace(CASE WHEN np3 LIKE '%:%' THEN coalesce(" +
             clean("regexp_extract(np3, ':([^:]*)$', 1)") +
             ", '') ELSE np3 END, '(?i)^(Dr[.]|Prof[.]|Professor) ', ''))"),
        ]),
    ])

    return f"""
WITH pdf_raw AS ({pdf_rows}),
pdf_entries AS (
  SELECT rid, year, prize_slug, prize_name,
         {clean("entry_text")} AS entry
  FROM pdf_raw
),
pdf_gated AS (
  SELECT * FROM pdf_entries
  WHERE entry IS NOT NULL AND NOT {rl("entry", _BAD_ENTRY)}
),
{pdf_chain},
pdf_named AS (
  -- trailing ':' cut, honorific strip, location-only null
  SELECT rid, year, prize_slug, prize_name, entry, category, work_title,
    CASE WHEN base IN ({_LOCATIONS})
              OR trim(TRAILING ')' FROM base) IN ({_LOCATIONS})
         THEN NULL ELSE nullif(base, '') END AS laureate_name
  FROM pdf_based
),
pdf_rows_out AS (
  SELECT rid, year, prize_slug, prize_name,
         'canada_council_pdf' AS source_type,
         category, CAST(NULL AS {S}) AS language,
         laureate_name, work_title,
         CAST(NULL AS {S}) AS publisher,
         entry AS raw_entry_text
  FROM pdf_named
  WHERE laureate_name IS NOT NULL
    AND length(laureate_name) >= 2 AND length(laureate_name) <= 120
    AND NOT {rl("laureate_name", _BAD_ENTRY)}
),
gg_raw AS ({gg_rows}),
gg_winners AS (
  SELECT *,
    coalesce({clean("regexp_replace(" + clean("author_raw") + ", ' *[(][^)]*[)] *$', '')")}, '')
      AS authors_norm
  FROM gg_raw WHERE winner
),
gg_exploded AS (
  SELECT rid, year, category_key, language, work_title, publisher,
         author_raw, {clean("one_author")} AS laureate_name
  FROM gg_winners {explode_authors}
),
gg_labeled AS (
  SELECT g.*, coalesce(l.label, g.category_key) AS category
  FROM gg_exploded g LEFT JOIN ({values_labels}) l ON l.k = g.category_key
),
gg_rows_out AS (
  SELECT rid, year,
         'governor-generals-literary-awards' AS prize_slug,
         'Governor General’s Literary Awards' AS prize_name,
         'ggbooks_json' AS source_type,
         category, language, laureate_name, work_title, publisher,
         author_raw AS raw_entry_text
  FROM gg_labeled WHERE laureate_name IS NOT NULL
),
unioned AS (
  SELECT * FROM pdf_rows_out UNION ALL SELECT * FROM gg_rows_out
),
tokened AS (
  SELECT *,
    CASE WHEN {rl("laureate_name", _ORG_WORD)}
              OR lower(laureate_name) LIKE '% and %'
              OR laureate_name LIKE '%&%'
         THEN NULL
         ELSE {("split(laureate_name, ' +')" if dialect == "spark"
                else "regexp_split_to_array(laureate_name, ' +')")}
    END AS toks
  FROM unioned
),
named_out AS (
  SELECT *,
    CASE WHEN toks IS NOT NULL AND {last_keep} > 1
         THEN {jnagg(head('toks', f'{last_keep} - 1'))}
    END AS laureate_given_name,
    CASE WHEN toks IS NOT NULL AND {last_keep} >= 1
         THEN {elem("toks", last_keep)}
    END AS laureate_family_name
  FROM tokened
)
SELECT
  concat_ws(':', 'canada-council', prize_slug, CAST(year AS {S}),
    {slug("coalesce(category, language, 'general')")},
    {slug("laureate_name")},
    {slug("coalesce(work_title, 'no-work')")}) AS funder_award_id,
  source_type, prize_slug, prize_name, year, category, language,
  laureate_name, laureate_given_name, laureate_family_name,
  ({rl("laureate_name", _ORG_WORD)}
   OR (laureate_given_name IS NULL AND laureate_family_name IS NULL
       AND source_type = 'canada_council_pdf')) AS is_organization_like,
  work_title, publisher, raw_entry_text,
  'CAD' AS currency
FROM named_out
"""


@register(
    "canada_council_prizes_parse",
    oracle=sqlkit.build(_sql, "duck"),
    tags=("domain", "awards", "scrape"),
    tables=("orders",),
    doc=("Canada Council prize-archive + GGBooks parse stage "
         "(scripts/local/canada_council_prizes_to_s3.py)"),
    spread=("orders",),
)
def canada_council_prizes_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canada Council prize normalize (module docstring has the full
    semantics map).  One scan per arm, a co-author explode, a 10-row
    broadcast label join; no hash shuffle (each arm's scan sits under
    one round-robin spread exchange), no Python."""
    return spark.sql(sqlkit.build(_sql, "spark"))
