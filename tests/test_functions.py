"""Unit tests for the column-function library (conform, normalize_*,
inverted_index, author_key, merge semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openalex_walden_spark.functions.normalize import (
    normalize_boolean,
    normalize_doi,
    normalize_license,
    normalize_title,
)
from openalex_walden_spark.functions.udfs import _author_key_one


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


@pytest.mark.parametrize(
    ("raw", "want"),
    [
        ("  https://doi.org/10.1234/ABC.def ", "10.1234/abc.def"),
        ("DOI: 10.99999/x y", "10.99999/xy"),  # internal space stripped first
        ("no doi", None),
        ("10.12/too-short-prefix", None),  # needs >= 4 digits
    ],
)
def test_normalize_doi(spark, raw, want):
    assert _one(spark, normalize_doi(F.lit(raw))) == want


@pytest.mark.parametrize(
    ("raw", "want"),
    [
        ("The Quick <b>Brown</b> Fox", "quickbrownfox"),
        ("Étude de la «Révolution»", "etudedelarevolution"),
        ("量子力学の基礎", "量子力学の基礎"),  # CJK preserved (ADVICE fix)
        ("Анализ данных", "анализданных"),  # Cyrillic preserved
        ("the a an of", None),  # all stopwords → NULL
        ("Study 2020", "study"),  # digits dropped (reference keeps isalpha only)
    ],
)
def test_normalize_title(spark, raw, want):
    assert _one(spark, normalize_title(F.lit(raw))) == want


@pytest.mark.parametrize(
    ("raw", "want"),
    [
        ("Study 2020", "study"),
        ("Ångström ș ō", "angstromso"),  # NFD folds outside the translate table
        ("Łódź <b>review</b>", "łodzreviewb"),  # ł survives; closing-tag quirk keeps 'b'
        ("量子力学の基礎", "量子力学の基礎"),  # CJK preserved
        ("the a an of", None),
    ],
)
def test_normalize_title_nfd(spark, raw, want):
    from openalex_walden_spark.functions.normalize import normalize_title_nfd

    assert _one(spark, normalize_title_nfd(F.lit(raw).cast("string"))) == want


@pytest.mark.parametrize(
    ("raw", "want"),
    [
        ("MIT License", "mit"),
        ("permitted for reuse", None),  # no bare-substring 'mit' hit
        ("submitted version", None),
        ("GPLv3", "gpl"),
        ("cc-by-nc-nd 4.0", "cc-by-nc-nd"),
        ("https://creativecommons.org/licenses/by-sa/4.0", "cc-by-sa"),
        ("CC0 1.0", "public-domain"),
        ("all rights reserved", None),
    ],
)
def test_normalize_license(spark, raw, want):
    assert _one(spark, normalize_license(F.lit(raw))) == want


def test_normalize_boolean(spark):
    vals = ["yes", " TRUE ", "f", "0", "maybe", None]
    out = [
        r["b"]
        for r in spark.createDataFrame([(v,) for v in vals], "v string")
        .select(normalize_boolean(F.col("v")).alias("b"))
        .collect()
    ]
    assert out == [True, True, False, False, None, None]


def test_inverted_index(spark):
    from openalex_walden_spark.functions.arrays import inverted_index

    row = (
        spark.createDataFrame([("the cat and the hat",)], "t string")
        .select(inverted_index(F.col("t")).alias("idx"))
        .collect()[0]["idx"]
    )
    assert row == {"the": [0, 3], "cat": [1], "and": [2], "hat": [4]}


def test_priority_pick_skips_empty(spark):
    from openalex_walden_spark.functions.arrays import priority_pick

    df = spark.sql(
        "SELECT array(named_struct('value', '', 'priority', 1), "
        "named_struct('value', 'b', 'priority', 3), "
        "named_struct('value', 'a', 'priority', 2)) AS vals"
    )
    assert df.select(priority_pick(F.col("vals")).alias("v")).collect()[0]["v"] == "a"


@pytest.mark.parametrize(
    ("name", "want"),
    [
        ("Ada Lovelace", "lovelace;a"),
        ("  Dr. Marie S. Curie ", "curie;m"),
        ("Cäsar Müller", "muller;c"),
        ("Plato", "plato;"),
        ("", None),
        (None, None),
    ],
)
def test_author_key_contract(name, want):
    assert _author_key_one(name) == want


def test_conform_fills_missing_nested(spark):
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    from openalex_walden_spark.conform import conform

    target = StructType(
        [
            StructField("id", StringType()),
            StructField(
                "authors",
                ArrayType(
                    StructType(
                        [StructField("name", StringType()), StructField("orcid", StringType())]
                    )
                ),
            ),
        ]
    )
    src = spark.createDataFrame(
        [("w1", [("Ada",)])],
        StructType(
            [
                StructField("id", StringType()),
                StructField("authors", ArrayType(StructType([StructField("name", StringType())]))),
            ]
        ),
    )
    out = conform(src, target)
    assert out.schema == target
    row = out.collect()[0]
    assert row["authors"][0]["name"] == "Ada" and row["authors"][0]["orcid"] is None


def test_truncate_inverted_index_p14(spark):
    from pyspark.sql import functions as F

    from openalex_walden_spark.functions.arrays import inverted_index
    from openalex_walden_spark.functions.serving import truncate_inverted_index

    df = spark.createDataFrame(
        [("the cat and the hat sat on the mat côté",)], "t string"
    ).select(inverted_index(F.col("t")).alias("idx"))
    import json

    for budget in (10, 40, 80, 10_000):
        out = df.select(
            truncate_inverted_index(F.col("idx"), budget).alias("j")
        ).collect()[0]["j"]
        parsed = json.loads(out)  # must ALWAYS be valid JSON
        assert len(out.encode("utf-8")) <= max(budget, 2)
        if budget == 10_000:
            assert parsed == {
                "the": [0, 3, 7], "cat": [1], "and": [2], "hat": [4],
                "sat": [5], "on": [6], "mat": [8], "côté": [9],
            }


def test_with_column_at_p16(spark):
    from pyspark.sql import functions as F

    from openalex_walden_spark.functions.serving import with_column_at

    df = spark.createDataFrame([(1, "x", 2.0)], "a int, b string, c double")
    out = with_column_at(df, 1, "inserted", F.lit(9))
    assert out.columns == ["a", "inserted", "b", "c"]
    out2 = with_column_at(df, 0, "b", F.lit("z"))  # replace + move
    assert out2.columns == ["b", "a", "c"]
    assert out2.collect()[0]["b"] == "z"


def test_sql_udf_surface(spark):
    """§2.10 SQL UDFs: session CREATE FUNCTION vocabulary edge cases."""
    from openalex_walden_spark.functions.sql_udfs import create_sql_udfs

    create_sql_udfs(spark)
    row = spark.sql("""
      SELECT
        priority_best(array(struct(CAST(NULL AS STRING) AS value, 0 AS priority),
                            struct('' AS value, 1 AS priority),
                            struct('b' AS value, 3 AS priority),
                            struct('a' AS value, 3 AS priority))) AS tie_earliest,
        priority_best(CAST(array() AS ARRAY<STRUCT<value STRING, priority INT>>)) AS empty,
        names_compatible('smith', 'jane', 'smith', 'j', NULL, NULL) AS initial_ok,
        names_compatible('smith', 'jane', 'smith', 'kate', NULL, NULL) AS initial_clash,
        names_compatible('jane', 'smith', 'smith', 'jane', NULL, NULL) AS swap_ok,
        names_compatible('li', 'a', 'lin', 'a', NULL, NULL) AS short_containment,
        names_compatible(NULL, NULL, NULL, NULL, ' Ana ', 'ana') AS raw_fallback,
        award_key(' awd - 0012345 ') AS key_zeros,
        award_key(NULL) AS key_null,
        award_is_weak(TRUE, '0012345') AS weak_dense,
        award_is_weak(FALSE, '0012345') AS weak_sparse
    """).collect()[0]
    assert row["tie_earliest"] == "b"       # ties break toward earlier element
    assert row["empty"] is None
    assert row["initial_ok"] and not row["initial_clash"]
    assert row["swap_ok"]
    assert not row["short_containment"]     # containment needs length >= 4
    assert row["raw_fallback"]
    assert row["key_zeros"] == "AWD12345" and row["key_null"] is None
    assert row["weak_dense"] and not row["weak_sparse"]


def test_award_registry_key_dod_refuses_hyphenated(spark):
    """Registry-side dod anchors the UN-squashed normalized string
    (AwardNormKey.sql:64): hyphenated deposited spellings must refuse,
    only the funder's squashed canonical contract number keys.  Pins the
    round-10 ADVICE fix (the port used to squash '[-_ ]' first and so
    accepted forms the reference registry rule refuses)."""
    from openalex_walden_spark.functions.sql_udfs import create_sql_udfs

    create_sql_udfs(spark)
    row = spark.sql("""
      SELECT
        award_registry_key('dod', 'W81XWH-10-1-0238') AS hyphenated,
        award_registry_key('dod', 'W81XWH1010238') AS squashed,
        award_registry_key('dod', 'w81xwh1010238 ') AS normcased,
        award_registry_key('usamrmc', 'W81XWH-10-1-0238') AS cdmrp_side
    """).collect()[0]
    assert row["hyphenated"] is None
    assert row["squashed"] == "W81XWH1010238"
    assert row["normcased"] == "W81XWH1010238"
    # the CDMRP-arm families keep their squash (AwardNormKey.sql:71)
    assert row["cdmrp_side"] == "W81XWH1010238"


def test_llm_cost_guard(spark, sf_dir):
    """§2.10 LLM-as-operator: guard meters a chunk and blocks over-budget
    passes BEFORE any full-scale work; non-stub backends are a clearly
    marked seam."""
    import pytest as _pytest

    from openalex_walden_spark.functions.llm import (
        CostGuardError,
        embed_texts,
        guarded_llm_pass,
        llm_judge,
    )
    from openalex_walden_spark.tables import register_views

    register_views(spark, sf_dir, ("documents",))
    docs = spark.table("documents")

    out, est = guarded_llm_pass(docs, "text", "doc_id", budget_usd=10.0)
    assert est.projected_usd > 0 and est.metered_rows > 0
    assert out.limit(1).collect()[0]["verdict"] in ("ok", "flag")

    with _pytest.raises(CostGuardError):
        guarded_llm_pass(docs, "text", "doc_id", budget_usd=0.0)

    with _pytest.raises(NotImplementedError):
        llm_judge(docs, "text", "doc_id", backend="real")

    emb = embed_texts(docs.limit(4), "text", "doc_id", dim=8).collect()
    assert all(len(r["embedding"]) == 8 for r in emb)
    # L1-normalized token-count buckets sum to ~1 for non-empty docs
    assert abs(sum(emb[0]["embedding"]) - 1.0) < 1e-6


@pytest.mark.parametrize(
    ("raw", "want"),
    [
        ("https://www.elsevier.com/openaccess/userlicense/1.0/", None),  # suppression
        ("arXiv.org perpetual, non-exclusive license", "other-oa"),
        ("Open Access under publisher terms", "other-oa"),
        ("GPL-3 or later", "gpl-3"),
        ("GPL 2", "gpl-2"),
        ("CC BY NC ND", "cc-by-nc-nd"),  # spaced form hits via strip
        ("Works not in the public domain", None),  # guard
        ("Apache-2.0", "apache-2.0"),
        ("Apache License (unversioned)", None),  # strict apache2 needle
    ],
)
def test_normalize_license_reference_table(spark, raw, want):
    from openalex_walden_spark.functions.normalize import normalize_license

    assert _one(spark, normalize_license(F.lit(raw))) == want


# ---------------------------------------------------------------------------
# P17: trigram language-ID model accuracy on held-out sentences
# ---------------------------------------------------------------------------
_LID_HELDOUT = [
    ("en", "the model was trained on a large collection of text and the results show that it works well"),
    ("en", "in the following section we discuss the limitations of this approach and possible future work"),
    ("en", "each document in the corpus is assigned to one of the categories by the classifier"),
    ("en", "there is strong evidence that the method generalizes to other domains as well"),
    ("de", "das modell wurde auf einer großen sammlung von texten trainiert und die ergebnisse zeigen dass es gut funktioniert"),
    ("de", "im folgenden abschnitt diskutieren wir die grenzen dieses ansatzes und mögliche zukünftige arbeiten"),
    ("de", "jedes dokument in der sammlung wird vom klassifikator einer der kategorien zugeordnet"),
    ("de", "es gibt deutliche hinweise darauf dass die methode auch auf andere bereiche übertragbar ist"),
    ("es", "el modelo fue entrenado con una gran colección de textos y los resultados muestran que funciona bien"),
    ("es", "en la siguiente sección discutimos las limitaciones de este enfoque y el posible trabajo futuro"),
    ("es", "cada documento de la colección es asignado a una de las categorías por el clasificador"),
    ("es", "hay evidencia sólida de que el método se generaliza también a otros dominios"),
    ("fr", "le modèle a été entraîné sur une grande collection de textes et les résultats montrent qu'il fonctionne bien"),
    ("fr", "dans la section suivante nous discutons les limites de cette approche et les travaux futurs possibles"),
    ("fr", "chaque document de la collection est assigné à une des catégories par le classifieur"),
    ("fr", "il existe des preuves solides que la méthode se généralise aussi à d'autres domaines"),
    ("zh", "该模型在大量文本上进行了训练结果表明它运行良好"),
    ("zh", "在下一节中我们讨论这种方法的局限性以及未来可能的工作"),
    ("zh", "语料库中的每个文档都由分类器分配到其中一个类别"),
    ("zh", "有力的证据表明该方法也适用于其他领域"),
    ("ru", "модель была обучена на большой коллекции текстов и результаты показывают что она работает хорошо"),
    ("ru", "в следующем разделе мы обсуждаем ограничения этого подхода и возможную будущую работу"),
    ("ru", "каждый документ в коллекции относится классификатором к одной из категорий"),
    ("ru", "есть веские основания полагать что метод обобщается и на другие области"),
    ("ja", "モデルは大量のテキストで訓練され結果はそれがうまく機能することを示しています"),
    ("ja", "次の節ではこの手法の限界と将来の課題について議論します"),
    ("ja", "コーパス内の各文書は分類器によっていずれかのカテゴリに割り当てられます"),
    ("ja", "この手法が他の分野にも一般化できるという強い証拠があります"),
]


def test_lid_model_accuracy():
    """P17 model grade: >= 95% agreement with labels on held-out prose,
    non-Latin scripts included (the VERDICT round-3 bar)."""
    from openalex_walden_spark.functions.lid import detect_one, load_model

    model = load_model()
    hits = sum(
        1 for lang, text in _LID_HELDOUT if detect_one(text, model)[0] == lang
    )
    assert hits / len(_LID_HELDOUT) >= 0.95, f"{hits}/{len(_LID_HELDOUT)}"


def test_normalize_title_nfd_unicode_boundary(spark):
    """The reference's stopword regex uses Python's Unicode \\b: 'łat'
    is one word (ł is a word char), so its 'at' survives — the RE2/Java
    ASCII \\b would strip it. Pin the reference behavior."""
    from openalex_walden_spark.functions.normalize import normalize_title_nfd

    got = _one(spark, normalize_title_nfd(F.lit("łat the word").cast("string")))
    assert got == "łatword"


def test_lid_und_on_no_signal():
    from openalex_walden_spark.functions.lid import detect_one, load_model

    assert detect_one("", load_model()) == ("und", 0)
    assert detect_one(None, load_model()) == ("und", 0)


# ---------------------------------------------------------------------------
# P5 HumanName-grade parsing contracts (reference normalize.py:55-92)
# ---------------------------------------------------------------------------

def test_parse_human_name_particles():
    from openalex_walden_spark.functions.udfs import parse_human_name

    assert parse_human_name("Maria de la Cruz") == ("Maria", "de la Cruz")
    assert parse_human_name("Ludwig van Beethoven") == ("Ludwig", "van Beethoven")
    assert parse_human_name("Vincent van der Berg") == ("Vincent", "van der Berg")


def test_parse_human_name_comma_order():
    from openalex_walden_spark.functions.udfs import parse_human_name

    assert parse_human_name("de la Cruz, Maria") == ("Maria", "de la Cruz")
    assert parse_human_name("Smith, John") == ("John", "Smith")
    assert parse_human_name("Smith, John, Jr.") == ("John", "Smith")
    # A comma chunk that is ONLY a suffix falls through to no-comma parse.
    assert parse_human_name("John Smith, Jr.") == ("John", "Smith")


def test_parse_human_name_suffixes_titles():
    from openalex_walden_spark.functions.udfs import parse_human_name

    assert parse_human_name("John Smith Jr.") == ("John", "Smith")
    assert parse_human_name("Dr. Jane Jones III") == ("Jane", "Jones")
    assert parse_human_name("Prof. Ada Lovelace PhD") == ("Ada", "Lovelace")


def test_author_key_contract_cases():
    from openalex_walden_spark.functions.udfs import _author_key_one

    assert _author_key_one("Maria de la Cruz") == "delacruz;m"
    assert _author_key_one("de la Cruz, Maria") == "delacruz;m"
    assert _author_key_one("John Smith Jr.") == "smith;j"
    assert _author_key_one("Conor O'Brien-Lee") == "obrienlee;c"
    assert _author_key_one("O'Brien-Lee, Conor") == "obrienlee;c"
    assert _author_key_one("Cher") == "cher;"
    assert _author_key_one("José Álvarez") == "alvarez;j"
    assert _author_key_one(None) is None
    assert _author_key_one("  ") is None


def test_parse_human_name_trailing_v_ambiguity():
    from openalex_walden_spark.functions.udfs import parse_human_name

    # Bare "Given V": V is the family initial, not a Roman numeral.
    assert parse_human_name("Rajesh V") == ("Rajesh", "V")
    # With a full family name present, trailing V is generational.
    assert parse_human_name("John Smith V") == ("John", "Smith")


def test_award_family_battery_every_family_fires(spark_udfs):
    """Every funder family in the battery fixture must FIRE — produce a
    non-null normalized key for its own synthetic deposited format.
    Guards the silent failure mode where a pattern is broken identically
    in both dialects (both produce NULL, the oracle hash still matches).
    The family count is the key rule table's, so adding a family without
    a firing fixture format fails here."""
    from openalex_walden_spark.functions.sql_udfs import AWARD_FAMILIES
    from openalex_walden_spark.queries.sqludf import (
        _FAMILY_NAME,
        _FAMILY_RAW_SPARK,
    )

    n_fam = len(AWARD_FAMILIES)
    spark = spark_udfs
    df = spark.range(1, 4000).selectExpr("id AS o_orderkey").selectExpr(
        f"({_FAMILY_NAME}) AS family",
        f"award_family_key(({_FAMILY_NAME}), ({_FAMILY_RAW_SPARK})) AS k",
    )
    rows = df.groupBy("family").agg(
        F.count("*").alias("n"), F.count("k").alias("n_keyed")
    ).collect()
    by_family = {r["family"]: r for r in rows}
    assert len(by_family) == n_fam + 1  # every named family + generic
    for fam, r in by_family.items():
        assert r["n_keyed"] > 0, f"family {fam!r} never fires"
        assert r["n_keyed"] == r["n"], f"family {fam!r} fixture only partially fires"


def test_award_digit_boundary_vectors_both_dialects(spark_udfs):
    """Both award keys (award_family_key, award_registry_key) pinned per
    vector in BOTH dialects, the DuckDB side rendered from the same rule
    table, so a divergent emulation cannot hide behind a both-NULL oracle
    match.  Round-7 ADVICE: nsfc/dfg/nhmrc must emulate the reference's
    digit-boundary lookarounds ((?<!\\d)...(?!\\d)) lookaround-free — a
    9-digit run must NOT key as its first 8 digits, 'U12345678' as
    'U1234567', or 'APP12345678' as '1234567'.  dhhs/nihr must extract
    ids EMBEDDED in surrounding text (the reference is unanchored there).
    The edge strings (blank, NULL, long, trailing newline, non-ASCII
    digits, 'ß') pin where the two engines differ: a vector with a
    (Spark, DuckDB) pair is a known divergence."""
    import duckdb
    import pandas as pd

    from openalex_walden_spark.functions.sql_udfs import (
        compile_family_key,
        compile_registry_key,
    )

    long_x = "X" * 300
    vectors = [
        # key, family, award, expected key (None = reference rejects)
        ("family", "nsfc", "123456789", None),        # 9-digit run: no bare-8 prefix
        ("family", "nsfc", "U12345678", "12345678"),  # U-form rejected; digit arm fires
        ("family", "nsfc", "U1803261", "U1803261"),   # clean U+7 form
        ("family", "nsfc", "GRANT 81771234", "81771234"),
        ("family", "dfg", "123456789", "123456789"),
        ("family", "dfg", "1234567890", None),        # 10-digit run: no 9-digit prefix
        ("family", "dfg", "PROJEKT 405602047 FUNDED", "405602047"),
        ("family", "nhmrc", "APP12345678", None),     # 8 digits: reference rejects
        ("family", "nhmrc", "APP1059515", "1059515"),
        ("family", "nhmrc", "GNT2009991", "2009991"),
        ("family", "nhmrc", "XAPP1059515", None),     # letter-glued APP is not a match
        ("family", "dhhs", "NO 12 DP 34567", "12DP34567"),   # embedded grant grammar
        ("family", "dhhs", "T32GM007753", "T32GM007753"),    # contract grammar
        ("family", "nihr", "NIHR PGFAR-2013-00123 AWARD", "PGFAR-2013-00123"),
        ("registry", "nsfc", "U1803261", "U1803261"),
        ("registry", "nsfc", "GRANT 81771234", None),  # registry grammars anchor
        ("registry", "nhmrc", "APP1059515", None),
        ("registry", "nsf", "1748958", "1748958"),
        ("registry", "most_tw", "MOST 108-2221-E-001-001", "1082221E001001"),
        ("registry", "mrc", "MR/N000000/1", "MRN0000001"),
        ("registry", "generic", "awd - 0012345", "AWD12345"),
        # edge strings, both keys
        ("family", "nih", "", None),
        ("registry", "nih", "", None),
        ("family", "generic", "   ", None),
        ("registry", "generic", "   ", None),
        ("family", "nsf", None, None),
        ("registry", "nsf", None, None),
        ("family", "nsf", long_x + " 1748958", "1748958"),
        ("registry", "nsf", long_x + " 1748958", None),
        ("family", "generic", long_x + "-00042", long_x + "42"),
        ("family", "nsf", "DMS-1748958\n", "1748958"),
        # Java's '$' also matches before a final line terminator, RE2's
        # only at the end: an anchored rule keys a trailing-newline id
        # in Spark alone
        ("registry", "nsf", "1748958\n", ("1748958", None)),
        ("family", "generic", "AWD-0042\n", "AWD42"),
        ("family", "nsf", "١٢٣٤٥٦٧", None),          # [0-9] is ASCII in both
        ("registry", "nsf", "١٢٣٤٥٦٧", None),
        ("family", "generic", "١٢٣٤٥٦٧", "١٢٣٤٥٦٧"),
        # upper('ß'): Java maps it to 'SS', DuckDB to capital sharp s
        ("family", "generic", "straße 12345", ("STRASSE12345", "STRAẞE12345")),
        ("registry", "generic", "straße 12345", ("STRASSE12345", "STRAẞE12345")),
    ]
    rows = [(i, side, f, a) for i, (side, f, a, _) in enumerate(vectors)]
    spark = spark_udfs
    sdf = spark.createDataFrame(
        rows, "idx INT, side STRING, family STRING, award STRING"
    ).selectExpr(
        "idx",
        "CASE side WHEN 'family' THEN award_family_key(family, award)"
        " ELSE award_registry_key(family, award) END AS k",
    )
    got_spark = {r["idx"]: r["k"] for r in sdf.collect()}

    con = duckdb.connect()
    con.register("v", pd.DataFrame(rows, columns=["idx", "side", "family", "award"]))
    got_duck = dict(con.sql(f"""
        WITH normed AS (
          SELECT idx, side, family,
                 regexp_replace(upper(trim(award)), '  +', ' ', 'g') AS _n,
                 regexp_replace(regexp_replace(upper(trim(award)),
                                '\\s+', ' ', 'g'), '[ -]', '', 'g') AS _sq
          FROM v)
        SELECT idx, CASE side WHEN 'family' THEN {compile_family_key(1)}
                    ELSE {compile_registry_key(1)} END AS k
        FROM normed
    """).fetchall())

    for i, (side, fam, award, want) in enumerate(vectors):
        want_spark, want_duck = want if isinstance(want, tuple) else (want, want)
        assert got_spark[i] == want_spark, (
            f"Spark {side}: {fam} {award!r} -> {got_spark[i]!r}, want {want_spark!r}"
        )
        assert got_duck[i] == want_duck, (
            f"DuckDB {side}: {fam} {award!r} -> {got_duck[i]!r}, want {want_duck!r}"
        )


def test_award_verdict_tiers_both_dialects(spark_udfs):
    """The scoring layer's tier semantics, pinned per vector in BOTH
    dialects (reference AwardNormKey.sql l.287-326): weak surface beats
    registry count, registry count beats grammar, grammar beats the
    fired extractor, foreign schemes never score garbage, and families
    outside the scored set are unscored."""
    import duckdb

    from openalex_walden_spark.queries.sqludf import _VERDICT_DUCK

    vectors = [
        # family, award, n_awards, expected verdict
        ("nih", "1 R01 GM 48123-02", 1, "confirmed"),
        ("nih", "1 R01 GM 48123-02", 2, "confirmed_ambiguous"),
        ("cihr", "123456", 3, "confirmed_weak"),     # weak surface wins
        ("cihr", "MOP-123456", 3, "confirmed_ambiguous"),  # decorated: not weak
        ("nsf", "1748958", 1, "confirmed_weak"),     # bare 7-digit NSF
        ("nsfc", "GRANT NO. 81771234", 0, "plausible"),    # grammar, no registry
        ("fct", "PTDC/BIA-BMA/12345/2020", 0, "plausible"),  # identity extractor
        ("nih", "PRIN 2017ABC123", 0, "foreign_scheme"),
        ("nih", "CUP B38D19000040006", 0, "foreign_scheme"),
        ("nih", "SEE PAGE 12", 0, "garbage"),
        ("generic", "ANYTHING AT ALL", 9, "unscored"),
        ("nih", None, 1, "garbage"),
        ("dod", "W911NF-18-1-0273", 0, "plausible"),  # cross-family DoD gram
    ]
    spark = spark_udfs
    sdf = spark.createDataFrame(
        [(i, f, a, n) for i, (f, a, n, _) in enumerate(vectors)],
        "idx INT, family STRING, award STRING, n_awards BIGINT",
    ).selectExpr("idx", "award_verdict(family, award, n_awards) AS v")
    got_spark = {r["idx"]: r["v"] for r in sdf.collect()}

    con = duckdb.connect()
    values = ", ".join(
        f"({i}, '{f}', " + ("NULL" if a is None else f"'{a}'") + f", {n})"
        for i, (f, a, n, _) in enumerate(vectors)
    )
    got_duck = dict(con.sql(f"""
        WITH v(idx, family, award, n_awards) AS (VALUES {values}),
        normed AS (
          SELECT idx, family, award, n_awards,
                 regexp_replace(upper(trim(award)), '  +', ' ', 'g') AS _n,
                 regexp_replace(regexp_replace(upper(trim(award)),
                                '\\s+', ' ', 'g'), '[ -]', '', 'g') AS _sq
          FROM v)
        SELECT idx, {_VERDICT_DUCK} FROM normed
    """).fetchall())

    for i, (fam, award, n, want) in enumerate(vectors):
        assert got_spark[i] == want, (
            f"Spark: {fam} {award!r} n={n} -> {got_spark[i]!r}, want {want!r}"
        )
        assert got_duck[i] == want, (
            f"DuckDB: {fam} {award!r} n={n} -> {got_duck[i]!r}, want {want!r}"
        )


def test_award_decoration_strip_vectors_both_dialects(spark_udfs):
    """The S1 salvage strip semantics, pinned per vector in BOTH
    dialects (reference AwardNormKey.sql l.378-384): lead label stacks
    strip once, trailing parentheticals / grantee names / punctuation
    strip twice ("12345 (ABC)." needs ')' then '.'), and an id whose
    own prefix is a label loses it exactly as the reference does."""
    import duckdb

    from openalex_walden_spark.functions.sql_udfs import (
        compile_decoration_strip,
    )

    vectors = [
        # raw award, expected stripped residue
        ("GRANT NO. 12345 (ABC)", "12345"),
        # two-pass rationale: pass 1 takes ' TO J. SMITH', pass 2 the
        # parenthetical that pass 1's $-anchor could not reach
        ("12345 (ABC) TO J. SMITH", "12345"),
        ("grant 01KT1801 to M.K.", "01KT1801"),
        ("#1748958).", "1748958"),
        ("AWARD: EP/N51001/1 TO J. SMITH", "EP/N51001/1"),
        ("PROJECT 81771234 --", "81771234"),
        ("R01 GM 048123 (PI: SMITH)", "R01 GM 048123"),
        ("KAKENHI 22390400", "22390400"),
        ("NO. THANKS TO EVERYONE", "THANKS"),
        ("APP: 1109881", "1109881"),   # APP label + separator: lead strip
        ("APP1109881", "APP1109881"),  # no separator: NOT a decoration
        ("1 R01 GM 48123-02", "1 R01 GM 48123-02"),  # undecorated: unchanged
    ]
    spark = spark_udfs
    sdf = spark.createDataFrame(
        [(i, a) for i, (a, _) in enumerate(vectors)],
        "idx INT, award STRING",
    ).selectExpr("idx", "award_decoration_strip(award) AS s")
    got_spark = {r["idx"]: r["s"] for r in sdf.collect()}

    con = duckdb.connect()
    values = ", ".join(f"({i}, '{a}')" for i, (a, _) in enumerate(vectors))
    norm = "regexp_replace(upper(trim(award)), '  +', ' ', 'g')"
    got_duck = dict(con.sql(f"""
        WITH v(idx, award) AS (VALUES {values})
        SELECT idx, {compile_decoration_strip(norm, 1)} AS s FROM v
    """).fetchall())

    for i, (award, want) in enumerate(vectors):
        assert got_spark[i] == want, (
            f"Spark: {award!r} -> {got_spark[i]!r}, want {want!r}"
        )
        assert got_duck[i] == want, (
            f"DuckDB: {award!r} -> {got_duck[i]!r}, want {want!r}"
        )


def test_award_rescue_action_tiers(spark_udfs):
    """S1 action precedence (reference l.474-491): registry hit beats
    grammar (weak-flagged on a weak bare surface), grammar needs NOT
    weak, foreign residues and bare 6-8 digit runs survive as
    foreign_scheme_decorated, everything else stays unrescued."""
    vectors = [
        # family, stripped residue, registry_hit, expected action
        ("nih", "R01 GM 048123", True, "decorated_own_id"),
        ("cihr", "123456", True, "decorated_own_id_weak"),
        ("nih", "R01 GM 048123", False, "decorated_plausible"),
        ("cihr", "123456", False, "foreign_scheme_decorated"),  # weak, bare 6
        ("nih", "PRIN 2017ABC123", False, "foreign_scheme_decorated"),
        ("nih", "81771234", False, "foreign_scheme_decorated"),  # bare 8
        ("nih", "THANKS", False, "unrescued"),
        ("generic", "XYZZY", False, "unrescued"),
    ]
    spark = spark_udfs
    sdf = spark.createDataFrame(
        [(i, f, s, h) for i, (f, s, h, _) in enumerate(vectors)],
        "idx INT, family STRING, s STRING, hit BOOLEAN",
    ).selectExpr("idx", "award_rescue_action(family, s, hit) AS a")
    got = {r["idx"]: r["a"] for r in sdf.collect()}
    for i, (fam, s, hit, want) in enumerate(vectors):
        assert got[i] == want, (
            f"{fam} {s!r} hit={hit} -> {got[i]!r}, want {want!r}"
        )


def test_award_xgram_vectors_both_dialects(spark_udfs):
    """One firing vector per XGRAM family (reference AwardNormKey.sql
    l.586-640 wf_keyed), pinned in BOTH dialects — the S3 battery's
    fixture lattice leaves a few cross-grammar branches unfired at
    small SF, so every branch is pinned here, plus negatives showing
    the STRONG grammars reject weakly-structured strings."""
    import duckdb

    from openalex_walden_spark.functions.sql_udfs import compile_xgram_case

    vectors = [
        # target family, candidate string, expected xgram verdict
        ("nih", "1 R01 GM 48123-02", True),
        ("nih", "48123", False),
        ("dhhs", "HHSN2632013", True),           # A+4 alnum+6 digits
        ("dhhs", "R01GM48123", False),           # NIH shape excluded
        ("nsf", "DMS 1748958", True),
        ("nsf", "1748958", False),               # bare number: not strong
        ("kakenhi", "JP 22390400", True),
        ("dfg", "SFB 1234", True),
        # the tw subject squashes the path form into the compact form,
        # so BOTH fire (the reference's wf_keyed does the same)
        ("most_tw", "MOST 110-2221-E-033-044", True),
        ("most_tw", "1102221E033044", True),
        ("most_tw", "110-2221", False),          # fragment: rejected
        ("fapesp", "2019/12345-6", True),
        ("capes", "88887.123456/2019-00", True),
        ("ncn", "UMO-2019/33/B/ST6/00123", True),
        ("shandong", "ZR2021MH123", True),
        ("amed", "JP21DK0310104", True),
        ("nasa", "80NSSC21K0123", True),
        ("doe", "DE-SC0012345", True),
        ("fct", "PTDC/BIA-BMA/12345/2020", True),
        ("ec", "H2020 GA 654321", True),
        ("ec", "654321", False),
        ("nserc", "RGPIN-2019-05634", True),
        ("anr", "ANR-19-CE45-0012", True),
        ("wellcome", "107337/Z/15/Z", True),
        ("epsrc", "EP/N510129/1", True),
        ("cihr", "MOP-123456", True),
        ("aha", "19TPA34890015", True),
    ]
    spark = spark_udfs
    sdf = spark.createDataFrame(
        [(i, f, a) for i, (f, a, _) in enumerate(vectors)],
        "idx INT, family STRING, award STRING",
    ).selectExpr("idx", "award_xgram_pass(family, award_norm0(award)) AS g")
    got_spark = {r["idx"]: r["g"] for r in sdf.collect()}

    con = duckdb.connect()
    values = ", ".join(
        f"({i}, '{f}', '{a}')" for i, (f, a, _) in enumerate(vectors)
    )
    got_duck = dict(con.sql(f"""
        WITH v(idx, family, award) AS (VALUES {values}),
        normed AS (
          SELECT idx, family,
                 regexp_replace(upper(trim(award)), '  +', ' ', 'g') AS _n
          FROM v)
        SELECT idx, {compile_xgram_case(1)} AS g FROM normed
    """).fetchall())

    for i, (fam, award, want) in enumerate(vectors):
        assert got_spark[i] == want, (
            f"Spark xgram {fam} {award!r} -> {got_spark[i]}, want {want}"
        )
        assert got_duck[i] == want, (
            f"DuckDB xgram {fam} {award!r} -> {got_duck[i]}, want {want}"
        )


def test_award_is_junk_vectors_both_dialects(spark_udfs):
    """Positive-junk semantics pinned per vector in BOTH dialects
    (reference award_id_guard, incl. its audit examples): program
    names, years, funder DOIs, ORCIDs and URLs are junk; wrapped clean
    ids rescue via strip-and-retest; chassis-bearing strings can never
    be junk; funder-scoped keeps carve out real shapes; DOE never
    suppresses under the taxonomy deferral."""
    import duckdb

    from openalex_walden_spark.functions.sql_udfs import (
        compile_is_junk,
        compile_junk_strip,
    )

    vectors = [
        # family, award, expected is_junk
        ("nih", "H2020", True),
        ("nih", "2019 - 2020", True),
        ("nih", "2019", True),
        ("nih", "10.13039/501100001711", True),
        ("nih", "HTTPS://EXAMPLE.ORG/X", True),
        ("nih", "0000-0002-1825-0097", True),          # ORCID
        ("nih", "N/A", True),
        ("nih", "FINANCE CODE 001", True),
        ("nih", "123", True),
        ("nih", "THIS WORK WAS SUPPORTED BY", True),   # all-caps run
        ("nih", "SEE PAGE TWELVE FOR DETAILS", True),   # all-caps run too
        ("nih", "JAN 2020", True),
        ("snsf", "_JP22390400", False),    # audit: strip-and-retest rescue
        ("snsf", "U21B2041.", False),      # audit: core survives strip... via trailing-dot junk + retest
        ("bmbf", "GRANT 01KT1801 TO M.K.", False),  # audit: wrapper strips
        ("nih", "THANKS TO ANR-19-CE45-0012", False),  # chassis-anywhere
        ("nsfc", "W12345678", False),      # scoped keep
        ("fwf", "P 301", False),           # scoped keep: letter+short number
        ("nserc", "4634", False),          # scoped keep: bare-4 non-year
        ("cihr", "2020", True),            # year stays junk at nserc? cihr
        ("doe", "123456", False),          # DOE deferral: never junk
        ("nih", "SEE PAGE 12", False),    # unclassifiable: default KEEP
    ]
    spark = spark_udfs
    sdf = spark.createDataFrame(
        [(i, f, a) for i, (f, a, _) in enumerate(vectors)],
        "idx INT, family STRING, award STRING",
    ).selectExpr("idx", "award_is_junk(family, award) AS j")
    got_spark = {r["idx"]: r["j"] for r in sdf.collect()}

    con = duckdb.connect()
    values = ", ".join(
        f"({i}, '{f}', '{a}')" for i, (f, a, _) in enumerate(vectors)
    )
    got_duck = dict(con.sql(f"""
        WITH v(idx, family, award) AS (VALUES {values}),
        normed AS (
          SELECT idx, family,
                 regexp_replace(upper(trim(award)), '  +', ' ', 'g') AS _n
          FROM v),
        stripped AS (
          SELECT idx, family, _n, {compile_junk_strip("_n", 1)} AS _ns
          FROM normed)
        SELECT idx, {compile_is_junk("_n", "_ns", 1)} AS j FROM stripped
    """).fetchall())

    for i, (fam, award, want) in enumerate(vectors):
        assert got_spark[i] == want, (
            f"Spark is_junk {fam} {award!r} -> {got_spark[i]}, want {want}"
        )
        assert got_duck[i] == want, (
            f"DuckDB is_junk {fam} {award!r} -> {got_duck[i]}, want {want}"
        )


def test_aer_names_compatible_vectors(spark_udfs):
    """The AER 8-arg names_compatible, pinned with the REFERENCE'S OWN
    verification vectors (EstimateNameConflictOvermerges.ipynb cell 3):
    initial-vs-full compatible, distinct fulls incompatible, absent
    middle info compatible, en-bloc middles exact-or-nothing."""
    from openalex_walden_spark.queries.aer import _AER_COMPAT_DDL

    spark = spark_udfs
    spark.sql(_AER_COMPAT_DDL)
    vectors = [
        ("j", None, 0, "priem", "jason", None, 0, "priem", True),
        ("jason", None, 0, "priem", "joseph", None, 0, "priem", False),
        ("jason", "r", 1, "priem", "jason", None, 0, "priem", True),
        ("jason", "r", 1, "priem", "jason", "m", 1, "priem", False),
        ("j", "rr", 2, "tolkien", "john", "rr", 2, "tolkien", True),
        ("j", "rr", 2, "tolkien", "j", "r", 1, "tolkien", False),
        ("j", "rr", 2, "tolkien", "j", "ra", 2, "tolkien", False),
        # engine extras: hyphen strip and surname mismatch
        ("yi-ting", None, 0, "chen", "yiting", None, 0, "chen", True),
        ("jason", None, 0, "priem", "jason", None, 0, "priam", False),
        ("ml", None, 0, "smith", "maria", None, 0, "smith", True),
    ]
    df = spark.createDataFrame(
        [(i, *v[:-1]) for i, v in enumerate(vectors)],
        "idx INT, f1 STRING, m1 STRING, c1 INT, l1 STRING, "
        "f2 STRING, m2 STRING, c2 INT, l2 STRING",
    ).selectExpr("idx", "aer_names_compatible(f1,m1,c1,l1,f2,m2,c2,l2) AS ok")
    got = {r["idx"]: r["ok"] for r in df.collect()}
    for i, v in enumerate(vectors):
        assert got[i] == v[-1], f"vector {i}: {v} -> {got[i]}"


def test_affiliation_rules_python_matches_vectors():
    """The expression-tree evaluator reproduces every generated test
    vector (the vectors were gated against the reference function at
    generation time, so this transitively pins reference parity —
    including the state-dependent Hong-Kong guards and the USTH/VAST
    removal)."""
    from openalex_walden_spark.functions import affrules
    from openalex_walden_spark.functions.affrules_data import (
        EXAMPLES,
        RULES,
        VECTORS,
    )

    assert len(RULES) >= 1170
    assert len(affrules.MEMBERS) >= 820
    assert len(EXAMPLES) >= 1000
    for _, s, expected in VECTORS:
        assert affrules.match_python(s) == expected


def test_affiliation_rules_state_guards_expanded():
    """No 'matched' primitive survives expansion — every compiled form
    is stateless (the 100 TB single-projection claim)."""
    from openalex_walden_spark.functions import affrules

    def scan(e):
        if e[0] == "matched":
            return True
        if e[0] in ("and", "or"):
            return any(scan(x) for x in e[1])
        if e[0] == "not":
            return scan(e[1])
        return False

    assert not any(scan(g) for g in affrules.MEMBERS.values())


def test_affiliation_postprocess_matches_vectors():
    """The vectorized DAG evaluator reproduces every generated vector
    (gated against the exec'd reference at generation time): parent-
    university consolidation, the sequential Navarra swap pairs, the
    mid-stream len() probes, and untouched-id passthrough."""
    import pandas as pd

    from openalex_walden_spark.functions import affpost
    from openalex_walden_spark.functions.affpost_data import (
        PP_EXAMPLES,
        PP_FINAL,
        PP_NODES,
        PP_VECTORS,
    )

    assert len(PP_FINAL) >= 400
    assert len(PP_NODES) >= 20000
    ids = pd.Series([i for _, i, _ in PP_EXAMPLES])
    affs = pd.Series([s for _, _, s in PP_EXAMPLES])
    got = affpost.refine_batch(ids, affs)
    vex = {i: v for i, v in PP_VECTORS}
    for n, (i, _, _) in enumerate(PP_EXAMPLES):
        assert list(got.iloc[n]) == vex[i]


def test_affiliation_postprocess_sequential_semantics():
    """Hand-pinned sequential behaviors from the reference docstring:
    the -1 placeholder drop, the Sorbonne-hospital parent add, and the
    Navarra public/private swap."""
    from openalex_walden_spark.functions.affpost import refine

    assert refine([-1, 4210086685], "AP-HP Sorbonne University") == [
        39804081,
        4210086685,
    ]
    assert refine([88155538], "Universidad Pública de Navarra") == [175051016]
    # untouched ids pass through untouched
    assert refine([999999999], "anything") == [999999999]


def test_affiliation_data_modules_match_reference_checksum():
    """Drift guard for the generated rules-as-data ports that runs NO
    reference code: the committed modules record the sha256 of the
    reference source they were extracted from; if the reference file
    changes, the hashes mismatch and the modules need regenerating.
    (The full exec-based regeneration comparison lives in
    ``test_affiliation_generators_full_fidelity`` behind an opt-in env
    var — the generators exec() function bodies from the untrusted
    reference checkout, which must never happen by default in pytest.)
    """
    import hashlib
    import os

    import pytest as _pytest

    from openalex_walden_spark.functions import affpost_data, affrules_data

    ref = "/root/reference/notebooks/institutions/affiliation_string_parsing.py"
    if not os.path.exists(ref):
        _pytest.skip("reference checkout not available")
    with open(ref, "rb") as fh:
        actual = hashlib.sha256(fh.read()).hexdigest()
    assert affrules_data.SOURCE_SHA256 == actual, (
        "affrules_data.py was generated from a different reference "
        "source — rerun scripts/gen_affiliation_rules.py"
    )
    assert affpost_data.SOURCE_SHA256 == actual, (
        "affpost_data.py was generated from a different reference "
        "source — rerun scripts/gen_affiliation_postprocess.py"
    )


def test_affiliation_generators_full_fidelity(tmp_path):
    """Full regeneration comparison (opt-in: WALDEN_AFFGEN_FIDELITY=1).

    Runs both AST-extraction generators against the reference checkout
    and compares their output to the committed data modules.  Gated
    because the generators exec() function bodies extracted from the
    UNTRUSTED reference checkout (their dev-time fidelity gate), and
    writes go to a temp path so a failure never dirties the tree."""
    import os
    import subprocess
    import sys

    import pytest as _pytest

    if os.environ.get("WALDEN_AFFGEN_FIDELITY") != "1":
        _pytest.skip("exec-based fidelity check is opt-in "
                     "(WALDEN_AFFGEN_FIDELITY=1)")
    ref = "/root/reference/notebooks/institutions/affiliation_string_parsing.py"
    if not os.path.exists(ref):
        _pytest.skip("reference checkout not available")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for script, data in (
        ("scripts/gen_affiliation_rules.py",
         "openalex_walden_spark/functions/affrules_data.py"),
        ("scripts/gen_affiliation_postprocess.py",
         "openalex_walden_spark/functions/affpost_data.py"),
    ):
        committed = open(os.path.join(root, data), encoding="utf-8").read()
        out = tmp_path / os.path.basename(data)
        r = subprocess.run(
            [sys.executable, script, str(out)], cwd=root,
            capture_output=True, text=True, timeout=600,
        )
        assert r.returncode == 0, f"{script} failed:\n{r.stdout[-2000:]}"
        fresh = out.read_text(encoding="utf-8")
        assert committed == fresh, f"{data} drifted from the generator output"
