"""Second wave of domain/scalar operators: batch MERGE (J9/J10), best-
record selection via comparator array_sort (D3), OA status (D4),
uniqueness-gated matching (D6), rule-cascade classification (D7), entity
aggregates (D11), curation overlay (D12), array-filter battery (P8),
code mapping (P9), version detect (P10), OAI id extraction (P11), A6
dropDuplicates, and the model-serving source shape (S8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from openalex_walden_spark.queries.registry import register

# --------------------------------------------------------------------------
# J9/J10: batch MERGE (SCD1 upsert + delete) through the merge operator
# --------------------------------------------------------------------------
_MERGE_SQL = """
SELECT o_orderkey AS orderkey,
       CASE WHEN o_orderkey % 10 = 0
            THEN CAST(CAST(o_totalprice + 10 AS DECIMAL(18,2)) AS DOUBLE)
            ELSE o_totalprice END AS final_price,
       CAST(o_orderkey % 10 = 0 AS BOOLEAN) AS was_updated
FROM orders
WHERE o_orderkey % 100 <> 0
"""


@register("j9_merge_scd1_batch", oracle=_MERGE_SQL, tags=("merge", "J9", "J10", "St2"), tables=("orders",))
def j9_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE through operators/merge.merge_upsert: updates
    (sequence 1) beat the baseline (sequence 0), delete-flagged keys
    vanish (J10's NOT-MATCHED-BY-SOURCE analogue). The oracle states the
    post-MERGE table in closed form."""
    from openalex_walden_spark.operators.merge import merge_upsert

    base = spark.table("orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit(0).alias("seq"),
        F.lit(False).alias("is_delete"),
        F.lit(False).alias("was_updated"),
    )
    updates = (
        spark.table("orders")
        .where(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + 10).cast("decimal(18,2)").cast("double").alias("price"),
            F.lit(1).alias("seq"),
            (F.col("o_orderkey") % 100 == 0).alias("is_delete"),
            F.lit(True).alias("was_updated"),
        )
    )
    merged = merge_upsert(
        base, updates, keys=["o_orderkey"], sequence_col="seq",
        delete_predicate=F.col("is_delete"),
    )
    return merged.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("price").alias("final_price"),
        F.col("was_updated").alias("was_updated"),
    )


# --------------------------------------------------------------------------
# J9 stateful: the bucketed-state MERGE physical layer, three real rounds
# --------------------------------------------------------------------------
_MERGE_STATE_SQL = """
WITH all_rows AS (
  SELECT o_orderkey AS k, 'v1:' || o_orderstatus AS v, 1 AS seq, FALSE AS is_delete
  FROM orders WHERE o_orderkey % 4 < 3
  UNION ALL
  SELECT o_orderkey, 'v2:' || o_orderpriority, 2, FALSE
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, NULL, 3, TRUE
  FROM orders WHERE o_orderkey % 10 = 0
),
win AS (
  SELECT k, v, is_delete,
         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
  FROM all_rows
)
SELECT k, v FROM win WHERE rn = 1 AND NOT is_delete
"""


@register(
    "j9_merge_state_rounds",
    oracle=_MERGE_STATE_SQL,
    tags=("merge", "J9", "St2", "St4", "stateful"),
    tables=("orders",),
)
def j9_merge_state_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-pruned MERGE *physical layer* under the correctness
    gate: three real ``merge_into_state`` rounds (baseline upserts,
    newer-sequence updates, then deletes) against an on-disk bucketed
    state table — manifests committed, only touched buckets rewritten,
    deletes tombstoned — and the surviving live state must equal the
    oracle's closed-form window over the concatenated batches. This is
    what `j9_merge_scd1_batch` (the semantic core) cannot show: that
    the manifest/bucket/tombstone machinery preserves MERGE semantics
    across rounds."""
    import os
    import tempfile

    from openalex_walden_spark.operators.merge import merge_into_state, read_state

    # State lands under the repo's (gitignored) spark-warehouse so the
    # operator never writes outside the repo; fresh dir per invocation
    # keeps reruns independent, and stale dirs from PRIOR invocations
    # are swept here (the returned DataFrame reads lazily, so the
    # current dir can only be reclaimed by the NEXT run).
    import shutil

    wh = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "spark-warehouse",
    )
    os.makedirs(wh, exist_ok=True)
    for stale in os.listdir(wh):
        if stale.startswith("j9_state_"):
            shutil.rmtree(os.path.join(wh, stale), ignore_errors=True)
    state = tempfile.mkdtemp(prefix="j9_state_", dir=wh)
    o = spark.table("orders")
    b1 = o.where(F.col("o_orderkey") % 4 < 3).select(
        F.col("o_orderkey").alias("k"),
        F.concat(F.lit("v1:"), F.col("o_orderstatus")).alias("v"),
        F.lit(1).alias("seq"),
        F.lit(False).alias("is_delete"),
    )
    b2 = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.concat(F.lit("v2:"), F.col("o_orderpriority")).alias("v"),
        F.lit(2).alias("seq"),
        F.lit(False).alias("is_delete"),
    )
    b3 = o.where(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit(None).cast("string").alias("v"),
        F.lit(3).alias("seq"),
        F.lit(True).alias("is_delete"),
    )
    for batch in (b1, b2, b3):
        merge_into_state(
            spark, state, batch, keys=["k"], sequence_col="seq",
            delete_predicate=F.col("is_delete"), n_buckets=8,
        )
    return read_state(spark, state).select("k", "v")


# --------------------------------------------------------------------------
# A6: dropDuplicates where ordering is irrelevant
# --------------------------------------------------------------------------
_A6_SQL = """
SELECT DISTINCT o_custkey AS custkey, o_orderpriority AS priority FROM orders
"""


@register("a6_distinct_pairs", oracle=_A6_SQL, tags=("agg", "A6"), tables=("orders",))
def a6_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates — legitimate only when no 'which row' choice exists
    (pure key projection); anything value-carrying uses the W1 ladder."""
    return spark.table("orders").select(
        F.col("o_custkey").alias("custkey"), F.col("o_orderpriority").alias("priority")
    ).dropDuplicates()


# --------------------------------------------------------------------------
# D3: best-record selection via comparator-lambda ARRAY_SORT
# --------------------------------------------------------------------------
_D3_SQL = """
SELECT l_orderkey AS orderkey, l_partkey AS best_partkey,
       l_returnflag AS best_flag, l_tax AS best_tax
FROM (
  SELECT l_orderkey, l_partkey, l_returnflag, l_tax,
         row_number() OVER (
           PARTITION BY l_orderkey
           ORDER BY CASE WHEN l_returnflag = 'N' THEN 0 ELSE 1 END ASC,
                    l_tax ASC, l_partkey ASC) AS rn
  FROM lineitem
) WHERE rn = 1
"""


@register("d3_best_location_pick", oracle=_D3_SQL, tags=("domain", "D3", "A2"), tables=("lineitem",))
def d3_best_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-location selection (D3) in the reference's signature device:
    ARRAY_SORT with a comparator lambda over a collected struct array
    (CreateWorksBase cell 2 `ARRAY_SORT(locations, (x,y) -> CASE ...)`),
    then element_at(...,1) — quality CASE-ladder first, total tie-break
    last. The oracle states the same ladder as a window."""
    collected = (
        spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_list(F.struct("l_partkey", "l_returnflag", "l_tax")).alias("locs"))
    )
    best = F.element_at(
        F.expr(
            """array_sort(locs, (x, y) -> CASE
                 WHEN (CASE WHEN x.l_returnflag = 'N' THEN 0 ELSE 1 END)
                    < (CASE WHEN y.l_returnflag = 'N' THEN 0 ELSE 1 END) THEN -1
                 WHEN (CASE WHEN x.l_returnflag = 'N' THEN 0 ELSE 1 END)
                    > (CASE WHEN y.l_returnflag = 'N' THEN 0 ELSE 1 END) THEN 1
                 WHEN x.l_tax < y.l_tax THEN -1 WHEN x.l_tax > y.l_tax THEN 1
                 WHEN x.l_partkey < y.l_partkey THEN -1
                 WHEN x.l_partkey > y.l_partkey THEN 1 ELSE 0 END)"""
        ),
        1,
    )
    return collected.select(
        F.col("l_orderkey").alias("orderkey"),
        best.getField("l_partkey").alias("best_partkey"),
        best.getField("l_returnflag").alias("best_flag"),
        best.getField("l_tax").alias("best_tax"),
    )


# --------------------------------------------------------------------------
# D4: OA status decision tree
# --------------------------------------------------------------------------
# Feature synthesis covers every branch of the reference ladder:
# diamond (publisher, null APC, OA source), gold (OA source w/ APC, and
# the null-host arm), hybrid (cc-by), the publisher-specific-oa
# exclusion falling to bronze, green (repository), closed (no OA
# evidence) — plus nullable is_oa (NULL must behave as FALSE).
_D4_SQL = """
WITH feat AS (
  SELECT CASE o_orderkey % 3 WHEN 0 THEN 'publisher' WHEN 1 THEN 'repository' END AS host_type,
         CASE WHEN o_orderkey % 4 = 0 THEN 'cc-by'
              WHEN o_orderkey % 4 = 2 THEN 'publisher-specific-oa' END AS license,
         o_orderkey % 5 = 0 AS source_is_oa,
         CASE WHEN o_orderkey % 2 = 0 THEN 1000 END AS apc_usd,
         CASE WHEN o_orderkey % 6 = 0 THEN TRUE
              WHEN o_orderkey % 6 = 3 THEN FALSE END AS is_oa
  FROM orders
)
SELECT CASE
         WHEN (COALESCE(is_oa, FALSE) OR source_is_oa) AND host_type = 'publisher' THEN
           CASE WHEN COALESCE(apc_usd, 0) = 0 AND source_is_oa THEN 'diamond'
                WHEN source_is_oa THEN 'gold'
                WHEN license IS NOT NULL AND license <> 'publisher-specific-oa' THEN 'hybrid'
                ELSE 'bronze' END
         WHEN host_type IS NULL AND (COALESCE(is_oa, FALSE) OR source_is_oa) THEN 'gold'
         WHEN (COALESCE(is_oa, FALSE) OR source_is_oa) AND host_type = 'repository' THEN 'green'
         ELSE 'closed' END AS oa_status,
       COUNT(*) AS n
FROM feat
GROUP BY oa_status
"""


@register("d4_oa_status", oracle=_D4_SQL, tags=("domain", "D4"), tables=("orders",))
def d4_oa_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OA-status derivation (D4) over synthesized host/license/source/
    APC/is_oa features — the library decision tree
    (functions/domain.py:oa_status, the reference's CreateWorksBase
    cell 2 ladder verbatim) against the oracle's closed-form CASE."""
    from openalex_walden_spark.functions.domain import oa_status

    k = F.col("o_orderkey")
    feats = spark.table("orders").select(
        F.when(k % 3 == 0, F.lit("publisher"))
        .when(k % 3 == 1, F.lit("repository"))
        .alias("host_type"),
        F.when(k % 4 == 0, F.lit("cc-by"))
        .when(k % 4 == 2, F.lit("publisher-specific-oa"))
        .alias("license"),
        (k % 5 == 0).alias("source_is_oa"),
        F.when(k % 2 == 0, F.lit(1000)).alias("apc_usd"),
        F.when(k % 6 == 0, F.lit(True))
        .when(k % 6 == 3, F.lit(False))
        .alias("is_oa"),
    )
    return (
        feats.select(
            oa_status(
                F.col("host_type"),
                F.col("license"),
                F.col("source_is_oa"),
                F.col("apc_usd"),
                F.col("is_oa"),
            ).alias("oa_status")
        )
        .groupBy("oa_status")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# D6: uniqueness-gated match cascade (AND core)
# --------------------------------------------------------------------------
_D6_SQL = """
WITH cand AS (
  SELECT c.c_custkey AS custkey, s.s_suppkey AS suppkey,
         COUNT(*) OVER (PARTITION BY c.c_custkey) AS n_cand
  FROM customer c JOIN supplier s
    ON c.c_nationkey = s.s_nationkey
   AND levenshtein(c.c_name, s.s_name) <= 7
)
SELECT custkey, suppkey FROM cand WHERE n_cand = 1
"""


@register("d6_unique_gate_match", oracle=_D6_SQL, tags=("domain", "D6", "J8", "W7"), tables=("customer", "supplier"))
def d6_unique_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The author-disambiguation core (D6): candidates from a blocked
    fuzzy join are accepted ONLY when the match is unambiguous — a
    count-over-partition uniqueness gate (MatchAuthors cell 9: matches
    survive only where the signal picks exactly one author). Ambiguous
    blocks fall through to the next cascade tier instead of guessing."""
    c = spark.table("customer")
    s = F.broadcast(spark.table("supplier"))
    cand = c.join(
        s,
        (c.c_nationkey == s.s_nationkey)
        & (F.levenshtein(c.c_name, s.s_name) <= 7),
    ).select(F.col("c_custkey").alias("custkey"), F.col("s_suppkey").alias("suppkey"))
    w = Window.partitionBy("custkey")
    return (
        cand.withColumn("n_cand", F.count("*").over(w))
        .where(F.col("n_cand") == 1)
        .select("custkey", "suppkey")
    )


# --------------------------------------------------------------------------
# D7: rule-cascade type classification (rules as data)
# --------------------------------------------------------------------------
_D7_SQL = """
SELECT CASE WHEN upper(p_type) LIKE '%PROMO%' THEN 'preprint'
            WHEN upper(p_type) LIKE '%STANDARD%' THEN 'article'
            WHEN upper(p_type) LIKE '%ECONOMY%' THEN 'report'
            ELSE 'other' END AS work_type,
       COUNT(*) AS n
FROM part
GROUP BY work_type
"""


@register("d7_type_classification", oracle=_D7_SQL, tags=("domain", "D7"), tables=("part",))
def d7_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Work-type classification (D7): the rule table lives in
    functions/domain.py:TYPE_RULES as data and compiles to one CASE
    chain — the pattern that keeps the reference's ~400-rule cascade
    (CreateLocationsWithTypes.sql:120-704) testable."""
    from openalex_walden_spark.functions.domain import classify_type

    return (
        spark.table("part")
        .select(classify_type(F.col("p_type")).alias("work_type"))
        .groupBy("work_type")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# D11: per-entity aggregates (authors/sources API shape)
# --------------------------------------------------------------------------
_D11_SQL = """
SELECT s_suppkey AS entity_id,
       COUNT(DISTINCT l_orderkey) AS works_count,
       COUNT(*) AS cited_by_count,
       string_agg(DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)::VARCHAR, ','
                  ORDER BY CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)::VARCHAR) AS active_years
FROM supplier
JOIN lineitem ON l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l_orderkey
GROUP BY s_suppkey
"""


@register("d11_entity_aggregates", oracle=_D11_SQL, tags=("domain", "D11"), tables=("supplier", "lineitem", "orders"))
def d11_entity_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-API aggregates (D11): explode the works graph per entity →
    works_count / cited_by_count / active-years series (CreateAuthors
    cells 2-12 shape). Supplier plays the author; its lineitems are
    authorship seats."""
    li = spark.table("lineitem")
    o = spark.table("orders")
    s = spark.table("supplier")
    yr = F.year("o_orderdate").cast("bigint").cast("string")
    return (
        s.join(li, li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("s_suppkey").alias("entity_id"))
        .agg(
            F.countDistinct("l_orderkey").alias("works_count"),
            F.count("*").alias("cited_by_count"),
            F.array_join(F.array_sort(F.collect_set(yr)), ",").alias("active_years"),
        )
    )


# --------------------------------------------------------------------------
# D12: curation overlay
# --------------------------------------------------------------------------
_D12_SQL = """
WITH curations AS (
  SELECT c_custkey AS entity_key, 'CURATED' AS seg_override
  FROM customer WHERE c_custkey % 50 = 0
)
SELECT COALESCE(cu.seg_override, c.c_mktsegment) AS segment,
       cu.entity_key IS NOT NULL AS curated,
       COUNT(*) AS n
FROM customer c LEFT JOIN curations cu ON c.c_custkey = cu.entity_key
GROUP BY segment, curated
"""


@register("d12_curation_overlay", oracle=_D12_SQL, tags=("domain", "D12"), tables=("customer",))
def d12_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation overlay (D12): approved human fixes override computed
    fields at a defined point, with an audit flag (ApplyLocationCurations
    / `approved_curations` CTE shape). Overlay is a broadcast left join +
    coalesce — computed values never clobber curated ones."""
    c = spark.table("customer")
    curations = F.broadcast(
        c.where(F.col("c_custkey") % 50 == 0).select(
            F.col("c_custkey").alias("entity_key"), F.lit("CURATED").alias("seg_override")
        )
    )
    return (
        c.join(curations, c.c_custkey == curations.entity_key, "left")
        .select(
            F.coalesce(F.col("seg_override"), F.col("c_mktsegment")).alias("segment"),
            F.col("entity_key").isNotNull().alias("curated"),
        )
        .groupBy("segment", "curated")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# P8: affiliation-as-author array filter (regex battery)
# --------------------------------------------------------------------------
_ORG_PATTERN = r"(?i)\b(universit|institute|department|center|school|inc|ltd)\b"

_P8_SQL = f"""
WITH works AS (
  SELECT l_orderkey,
         list_sort(list(CASE WHEN l_linenumber % 4 = 0
                             THEN 'University of ' || p_name
                             ELSE p_name END)) AS authors
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY l_orderkey
)
SELECT l_orderkey AS orderkey,
       len(authors)::BIGINT AS n_raw,
       len(list_filter(authors, a -> NOT regexp_matches(a, '{_ORG_PATTERN}')))::BIGINT AS n_people
FROM works
"""


@register("p8_affiliation_filter", oracle=_P8_SQL, tags=("textops", "P8"), tables=("lineitem", "part"))
def p8_affiliation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affiliation-as-author cleanup (P8): organizations injected into
    author arrays are filtered out with a word-boundary regex battery —
    pure F.filter + rlike, no Python (Crossref.py:91-213's device)."""
    authors = (
        spark.table("lineitem")
        .join(spark.table("part"), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("l_linenumber") % 4 == 0,
                        F.concat(F.lit("University of "), F.col("p_name")),
                    ).otherwise(F.col("p_name"))
                )
            ).alias("authors")
        )
    )
    people = F.filter(F.col("authors"), lambda a: ~a.rlike(_ORG_PATTERN))
    return authors.select(
        F.col("l_orderkey").alias("orderkey"),
        F.size("authors").cast("bigint").alias("n_raw"),
        F.size(people).cast("bigint").alias("n_people"),
    )


# --------------------------------------------------------------------------
# P9: language-code mapping via broadcast map
# --------------------------------------------------------------------------
_LANG3 = {"eng": "en", "ger": "de", "fre": "fr", "spa": "es", "chi": "zh"}

_P9_SQL = """
WITH codes AS (
  SELECT CASE lang WHEN 'en' THEN 'eng' WHEN 'de' THEN 'ger' WHEN 'fr' THEN 'fre'
                   WHEN 'es' THEN 'spa' WHEN 'zh' THEN 'chi' ELSE 'und' END AS code3
  FROM documents
)
SELECT code3,
       CASE code3 WHEN 'eng' THEN 'en' WHEN 'ger' THEN 'de' WHEN 'fre' THEN 'fr'
                  WHEN 'spa' THEN 'es' WHEN 'chi' THEN 'zh' END AS code1,
       COUNT(*) AS n
FROM codes
GROUP BY code3, code1
"""


@register("p9_langcode_map", oracle=_P9_SQL, tags=("textops", "P9"), tables=("documents",))
def p9_langcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO 639-2 → 639-1 mapping (P9) as a literal map + element_at — the
    broadcast-map alternative to the reference's ~185-entry row UDF
    (PubMed.py:52-105): stays in codegen, no Python worker."""
    mapping = F.create_map(*[F.lit(x) for kv in _LANG3.items() for x in kv])
    code3 = (
        F.when(F.col("lang") == "en", F.lit("eng"))
        .when(F.col("lang") == "de", F.lit("ger"))
        .when(F.col("lang") == "fr", F.lit("fre"))
        .when(F.col("lang") == "es", F.lit("spa"))
        .when(F.col("lang") == "zh", F.lit("chi"))
        .otherwise(F.lit("und"))
    )
    return (
        spark.table("documents")
        .select(code3.alias("code3"))
        .select("code3", F.element_at(mapping, F.col("code3")).alias("code1"))
        .groupBy("code3", "code1")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# P10: version detection CASE chain
# --------------------------------------------------------------------------
_P10_SQL = """
WITH ids AS (
  SELECT CASE o_orderkey % 4
           WHEN 0 THEN 'arxiv:2401.00001v1'
           WHEN 1 THEN 'journal/final/10.1/x'
           WHEN 2 THEN 'repo/accepted-manuscript-123'
           ELSE 'unknown-id' END AS native_id
  FROM orders
)
SELECT native_id,
       CASE WHEN native_id LIKE '%v1%' OR native_id LIKE '%arxiv%' THEN 'submittedVersion'
            WHEN native_id LIKE '%accepted%' THEN 'acceptedVersion'
            WHEN native_id LIKE '%final%' OR native_id LIKE '%journal%' THEN 'publishedVersion'
            END AS version,
       COUNT(*) AS n
FROM ids
GROUP BY native_id, version
"""


@register("p10_version_detect", oracle=_P10_SQL, tags=("textops", "P10"), tables=("orders",))
def p10_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version detection (P10): published/accepted/submitted from id and
    metadata hints — a CASE chain replacing the reference's row UDF
    (Repo.py:1365-1425)."""
    k = F.col("o_orderkey")
    nid = (
        F.when(k % 4 == 0, F.lit("arxiv:2401.00001v1"))
        .when(k % 4 == 1, F.lit("journal/final/10.1/x"))
        .when(k % 4 == 2, F.lit("repo/accepted-manuscript-123"))
        .otherwise(F.lit("unknown-id"))
    )
    version = (
        F.when(nid.contains("v1") | nid.contains("arxiv"), F.lit("submittedVersion"))
        .when(nid.contains("accepted"), F.lit("acceptedVersion"))
        .when(nid.contains("final") | nid.contains("journal"), F.lit("publishedVersion"))
    )
    return (
        spark.table("orders")
        .select(nid.alias("native_id"), version.alias("version"))
        .groupBy("native_id", "version")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# P11: OAI identifier extraction (typed ids from a raw list)
# --------------------------------------------------------------------------
_P11_SQL = """
WITH raw AS (
  SELECT doc_id,
         ['oai:repo.example:' || doc_id::VARCHAR,
          'https://doi.org/10.5555/' || doc_id::VARCHAR,
          'http://hdl.handle.net/1234/' || doc_id::VARCHAR,
          'junk-' || doc_id::VARCHAR] AS identifiers
  FROM documents WHERE doc_id < 100
)
SELECT doc_id,
       u.i AS raw_id,
       CASE WHEN u.i LIKE 'oai:%' THEN 'pmh'
            WHEN regexp_matches(u.i, '10\\.[0-9]{4,9}/') THEN 'doi'
            WHEN u.i LIKE '%hdl.handle.net%' THEN 'handle'
            ELSE 'url' END AS id_type
FROM (SELECT doc_id, unnest(identifiers) AS i FROM raw) u(doc_id, i)
"""


@register("p11_oai_id_extract", oracle=_P11_SQL, tags=("textops", "P11"), tables=("documents",))
def p11_oai_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OAI dc:identifier typing (P11): a raw identifier list → typed id
    rows via explode + CASE/regex — higher-order transform replacing the
    reference's row UDF (Repo.py:1441-1543)."""
    d = spark.table("documents").where(F.col("doc_id") < 100)
    ids = F.array(
        F.concat(F.lit("oai:repo.example:"), F.col("doc_id").cast("string")),
        F.concat(F.lit("https://doi.org/10.5555/"), F.col("doc_id").cast("string")),
        F.concat(F.lit("http://hdl.handle.net/1234/"), F.col("doc_id").cast("string")),
        F.concat(F.lit("junk-"), F.col("doc_id").cast("string")),
    )
    rows = d.select("doc_id", F.explode(ids).alias("raw_id"))
    id_type = (
        F.when(F.col("raw_id").startswith("oai:"), F.lit("pmh"))
        .when(F.col("raw_id").rlike(r"10\.\d{4,9}/"), F.lit("doi"))
        .when(F.col("raw_id").contains("hdl.handle.net"), F.lit("handle"))
        .otherwise(F.lit("url"))
    )
    return rows.select("doc_id", "raw_id", id_type.alias("id_type"))


# --------------------------------------------------------------------------
# S8: model-serving source (queue → in-plan linear scorer)
# --------------------------------------------------------------------------
_S8_SQL = """
WITH queue AS (
  SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 256
)
SELECT vec_id,
       list_sum(list_transform(range(1, len(embedding) + 1),
         j -> embedding[j]::DOUBLE * ((((j - 1) * 2654435761) % 1000) / 1000.0 - 0.5))) AS score,
       list_sum(list_transform(range(1, len(embedding) + 1),
         j -> embedding[j]::DOUBLE * ((((j - 1) * 2654435761) % 1000) / 1000.0 - 0.5))) > 0 AS positive
FROM queue
"""


# The oracle's fold, term for term: the Knuth-hash ramp weight of
# element i times the element, summed left to right from 0.0.  The D
# suffixes keep the arithmetic DOUBLE (a bare 1000.0 is a DECIMAL).
_S8_SCORE = (
    "aggregate(transform(embedding, (x, i) -> CAST(x AS DOUBLE)"
    " * (CAST((CAST(i AS BIGINT) * 2654435761) % 1000 AS DOUBLE) / 1000.0D - 0.5D)),"
    " 0.0D, (acc, v) -> acc + v)"
)


@register("s8_model_inference", oracle=_S8_SQL, tags=("udf", "S8"), tables=("embeddings",))
def s8_model_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-serving source shape (S8): drain a bounded inference queue
    (ORDER BY + LIMIT — topics_inference.ipynb cell 3 `.limit(3840000)`)
    through the model (the reference's rdd.mapPartitions over a
    per-worker model cache, SURVEY.md §2.1).

    The 'model' is a fixed linear scorer (deterministic weights from a
    Knuth-hash ramp), so it runs in the plan as the oracle's own fold:
    no Python worker, no Arrow round trip, and a score bit-identical to
    the oracle's sequential list_sum (``aggregate`` folds in element
    order, as list_sum does).
    """
    # One projection over the limit, as in the oracle: the planner folds
    # it into TakeOrderedAndProject (a second select on top would leave
    # a full range-partitioned sort).
    score = F.expr(_S8_SCORE)
    return (
        spark.table("embeddings")
        .orderBy("vec_id")
        .limit(256)
        .select("vec_id", score.alias("score"), (score > 0).alias("positive"))
    )


# --------------------------------------------------------------------------
# D8: reference resolution via id-map cascade
# --------------------------------------------------------------------------
_D8_SQL = """
WITH raw_refs AS (
  SELECT l_orderkey AS citing_work, l_linenumber AS ref_pos,
         CASE WHEN l_partkey % 3 = 0 THEN '10.1000/w' || l_partkey::VARCHAR END AS ref_doi,
         CASE WHEN l_partkey % 3 = 1 THEN 'pmid:' || l_partkey::VARCHAR END AS ref_pmid,
         l_partkey
  FROM lineitem
),
doi_map AS (
  SELECT '10.1000/w' || p_partkey::VARCHAR AS doi, p_partkey * 100 AS work_id
  FROM part WHERE p_partkey % 6 = 0
),
pmid_map AS (
  SELECT 'pmid:' || p_partkey::VARCHAR AS pmid, p_partkey * 100 + 1 AS work_id
  FROM part WHERE p_partkey % 3 = 1 AND p_partkey % 5 <> 0
)
SELECT r.citing_work, CAST(r.ref_pos AS BIGINT) AS ref_pos,
       COALESCE(d.work_id, p.work_id) AS resolved_work_id,
       CASE WHEN d.work_id IS NOT NULL THEN 'doi'
            WHEN p.work_id IS NOT NULL THEN 'pmid'
            ELSE 'unresolved' END AS resolved_via
FROM raw_refs r
LEFT JOIN doi_map d ON r.ref_doi = d.doi
LEFT JOIN pmid_map p ON r.ref_pmid = p.pmid
"""


@register("d8_reference_resolution", oracle=_D8_SQL, tags=("domain", "D8"), tables=("lineitem", "part"))
def d8_reference_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference resolution (D8): exploded raw references resolve through
    the id-map cascade doi → pmid → unresolved
    (parse_work_references.ipynb cells 2-14; 1.53B of the reference's
    3.76B refs stay unresolved — the 'unresolved' class is a real
    outcome, not an error).

    Scale: both maps join broadcast (id maps are dimension-sized
    relative to the reference fact table); the fact side never shuffles.
    """
    li = spark.table("lineitem")
    part = spark.table("part")
    pk = F.col("l_partkey")
    raw = li.select(
        F.col("l_orderkey").alias("citing_work"),
        F.col("l_linenumber").cast("bigint").alias("ref_pos"),
        F.when(pk % 3 == 0, F.concat(F.lit("10.1000/w"), pk.cast("string"))).alias("ref_doi"),
        F.when(pk % 3 == 1, F.concat(F.lit("pmid:"), pk.cast("string"))).alias("ref_pmid"),
    )
    doi_map = F.broadcast(
        part.where(F.col("p_partkey") % 6 == 0).select(
            F.concat(F.lit("10.1000/w"), F.col("p_partkey").cast("string")).alias("doi"),
            (F.col("p_partkey") * 100).alias("doi_work_id"),
        )
    )
    pmid_map = F.broadcast(
        part.where((F.col("p_partkey") % 3 == 1) & (F.col("p_partkey") % 5 != 0)).select(
            F.concat(F.lit("pmid:"), F.col("p_partkey").cast("string")).alias("pmid"),
            (F.col("p_partkey") * 100 + 1).alias("pmid_work_id"),
        )
    )
    return (
        raw.join(doi_map, raw.ref_doi == doi_map.doi, "left")
        .join(pmid_map, raw.ref_pmid == pmid_map.pmid, "left")
        .select(
            "citing_work",
            "ref_pos",
            F.coalesce(F.col("doi_work_id"), F.col("pmid_work_id")).alias("resolved_work_id"),
            F.when(F.col("doi_work_id").isNotNull(), F.lit("doi"))
            .when(F.col("pmid_work_id").isNotNull(), F.lit("pmid"))
            .otherwise(F.lit("unresolved"))
            .alias("resolved_via"),
        )
    )


# --------------------------------------------------------------------------
# D5: cohort percentile flags (top-1% / top-10%)
# --------------------------------------------------------------------------
_D5F_SQL = """
WITH counts AS (
  SELECT l_partkey AS work_id, COUNT(*) AS cited_by_count
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT work_id, cited_by_count,
         percent_rank() OVER (ORDER BY cited_by_count ASC, work_id ASC) AS pr
  FROM counts
)
SELECT work_id, cited_by_count, pr AS citation_percentile,
       pr >= 0.99 AS is_in_top_1_percent,
       pr >= 0.90 AS is_in_top_10_percent
FROM ranked
"""


@register("d5_percentile_flags", oracle=_D5F_SQL, tags=("domain", "D5", "W3"), tables=("lineitem",))
def d5_percentile_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Citation-normalized percentile + top-1%/top-10% flags (the
    `citation_normalized_percentile` struct, CreateWorksBase cell 2 /
    CreateWorksEnriched cell 11) with a totalized ordering so the flag
    boundary is deterministic."""
    from pyspark.sql.window import Window

    counts = (
        spark.table("lineitem")
        .groupBy(F.col("l_partkey").alias("work_id"))
        .agg(F.count("*").alias("cited_by_count"))
    )
    w = Window.orderBy(F.col("cited_by_count").asc(), F.col("work_id").asc())
    ranked = counts.withColumn("pr", F.percent_rank().over(w))
    return ranked.select(
        "work_id",
        "cited_by_count",
        F.col("pr").alias("citation_percentile"),
        (F.col("pr") >= 0.99).alias("is_in_top_1_percent"),
        (F.col("pr") >= 0.90).alias("is_in_top_10_percent"),
    )


# --------------------------------------------------------------------------
# D6 full cascade: tiered adoption with uniqueness gates + cluster minting
# --------------------------------------------------------------------------
_D6_CASCADE_SQL = """
WITH t1 AS (
  SELECT c.c_custkey AS custkey, 'S' || CAST(s.s_suppkey AS VARCHAR) AS author_id,
         'strong-id' AS tier
  FROM customer c JOIN supplier s ON s.s_suppkey = c.c_custkey % 200
  WHERE c.c_custkey % 7 = 0
),
t2_cand AS (
  SELECT c.c_custkey AS custkey, s.s_suppkey
  FROM customer c JOIN supplier s
    ON c.c_nationkey = s.s_nationkey
   AND right(c.c_name, 1) = right(s.s_name, 1)
   AND levenshtein(c.c_name, s.s_name) <= 7
  WHERE c.c_custkey NOT IN (SELECT custkey FROM t1)
),
t2 AS (
  SELECT custkey, 'S' || CAST(min(s_suppkey) AS VARCHAR) AS author_id,
         'blocked-unique' AS tier
  FROM t2_cand GROUP BY custkey HAVING count(*) = 1
),
t3 AS (
  SELECT c_custkey AS custkey,
         'C' || substr(md5(lower(c_name) || ':' || CAST(c_nationkey AS VARCHAR)), 1, 12)
           AS author_id,
         'minted' AS tier
  FROM customer
  WHERE c_custkey NOT IN (SELECT custkey FROM t1)
    AND c_custkey NOT IN (SELECT custkey FROM t2)
)
SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
"""


@register(
    "d6_and_cascade",
    oracle=_D6_CASCADE_SQL,
    tags=("domain", "D6", "J8"),
    tables=("customer", "supplier"),
)
def d6_and_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 end-to-end: the author-disambiguation cascade
    (``MatchAuthors.ipynb`` cells 3-18) as tiers of descending evidence:

    1. strong-id adoption (the global ORCID tier) — exact equi-join;
    2. blocked fuzzy match accepted only under the uniqueness gate
       (exactly one candidate in the block — never guess);
    3. cluster-hash minting for everything unresolved (deterministic
       md5 cluster key, the rematch-stable mint discipline).

    Every record exits with exactly one author_id and its provenance
    tier. Scale: tier joins are equi-joins on (suppkey) / (nationkey)
    with the dimension side broadcast; the anti-join fall-through is a
    broadcast-able key set per tier; minting is a pure column expr.
    """
    from openalex_walden_spark.operators.guardrails import persist_scalar

    c = spark.table("customer")
    s = F.broadcast(spark.table("supplier"))

    # persist_scalar on the two resolved tiers (r14 optimization, guide
    # §2.4): a DataFrame DAG lowers to a tree, so t1 executed THREE
    # times (its own output branch, the tier-2 anti-join fall-through,
    # and the tier-3 `resolved` anti) and t2 — whose levenshtein
    # blocked join is the expensive stage — executed TWICE (output
    # branch + `resolved`).  Both are small scalar assignment tables
    # (custkey, author_id, tier); production materializes each tier
    # anyway (the reference writes them out between cells).
    t1 = persist_scalar(
        c.where(F.col("c_custkey") % 7 == 0)
        .join(s, s["s_suppkey"] == F.col("c_custkey") % 200)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("author_id"),
            F.lit("strong-id").alias("tier"),
        )
    )

    unresolved1 = c.join(t1.select("custkey"), c["c_custkey"] == F.col("custkey"), "left_anti")
    # Block key = (nation, name-tail) — the reference's blocks are this
    # tight (first_initial + surname); the expensive edit-distance gate
    # only ever runs inside a block (MatchAuthors.ipynb cell 9).
    cand = unresolved1.join(
        s,
        (unresolved1["c_nationkey"] == s["s_nationkey"])
        & (F.substring(unresolved1["c_name"], -1, 1) == F.substring(s["s_name"], -1, 1))
        & (F.levenshtein(unresolved1["c_name"], s["s_name"]) <= 7),
    ).select(F.col("c_custkey").alias("custkey"), "s_suppkey")
    t2 = persist_scalar(
        cand.groupBy("custkey")
        .agg(F.min("s_suppkey").alias("sk"), F.count("*").alias("n"))
        .where(F.col("n") == 1)
        .select(
            "custkey",
            F.concat(F.lit("S"), F.col("sk").cast("string")).alias("author_id"),
            F.lit("blocked-unique").alias("tier"),
        )
    )

    resolved = t1.select("custkey").unionByName(t2.select("custkey"))
    t3 = (
        c.join(resolved, c["c_custkey"] == resolved["custkey"], "left_anti")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.concat(
                F.lit("C"),
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.lower(F.col("c_name")), F.col("c_nationkey").cast("string")
                        )
                    ),
                    1,
                    12,
                ),
            ).alias("author_id"),
            F.lit("minted").alias("tier"),
        )
    )
    return t1.unionByName(t2).unionByName(t3)


# --------------------------------------------------------------------------
# D7 full cascade: multi-evidence classification with structural fallback
# --------------------------------------------------------------------------
_D7_CASCADE_SQL = """
WITH refs AS (
  SELECT l_partkey AS partkey, count(*) AS n_refs
  FROM lineitem GROUP BY l_partkey
),
classified AS (
  SELECT CASE
    WHEN upper(p_type) LIKE '%PROMO%' THEN 'preprint'
    WHEN upper(p_type) LIKE '%STANDARD%' THEN 'article'
    WHEN upper(p_type) LIKE '%ECONOMY%' THEN 'report'
    WHEN upper(p_brand) LIKE '%#13%' THEN 'book'
    WHEN upper(p_brand) LIKE '%#24%' THEN 'reference-entry'
    WHEN upper(p_brand) LIKE '%#5%' THEN 'dataset'
    WHEN upper(p_name) LIKE '%WIDGET%' THEN 'review'
    WHEN upper(p_name) LIKE '%ANVIL%' THEN 'editorial'
    WHEN upper(p_name) LIKE '%GIZMO%' THEN 'erratum'
    WHEN coalesce(r.n_refs, 0) = 0 THEN 'paratext'
    ELSE 'article' END AS work_type
  FROM part p LEFT JOIN refs r ON p.p_partkey = r.partkey
)
SELECT work_type, count(*)::BIGINT AS n
FROM classified GROUP BY work_type
"""


@register(
    "d7_type_cascade",
    oracle=_D7_CASCADE_SQL,
    tags=("domain", "D7"),
    tables=("part", "lineitem"),
)
def d7_type_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 end-to-end: the multi-evidence classification cascade
    (``CreateLocationsWithTypes.sql:120-704``) — deposited raw type
    outranks container/host evidence, which outranks title keywords,
    with the structural ref-count fallback last (no references →
    paratext). Rule tiers are data (``functions/domain.py``); the whole
    cascade compiles to one codegen'd CASE. The ref-count join
    aggregates the fact side BEFORE joining (partial-agg then join on
    the dimension key — never the reverse at 100 TB).
    """
    from openalex_walden_spark.functions.domain import classify_type_cascade

    refs = (
        spark.table("lineitem")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.count("*").alias("n_refs"))
    )
    p = spark.table("part").join(refs, "p_partkey", "left")
    return (
        p.select(
            classify_type_cascade(
                F.col("p_type"),
                F.col("p_brand"),
                F.col("p_name"),
                F.coalesce(F.col("n_refs"), F.lit(0)),
            ).alias("work_type")
        )
        .groupBy("work_type")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# Award plane: funder OA-compliance report (the per-funder rollup shape)
# --------------------------------------------------------------------------
_AWARD_COMPLIANCE_SQL = """
WITH feat AS (
  SELECT 'F' || lpad((o_custkey % 20)::VARCHAR, 2, '0') AS funder,
         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
         CASE o_orderkey % 3 WHEN 0 THEN 'publisher' WHEN 1 THEN 'repository' END AS host_type,
         CASE WHEN o_orderkey % 4 = 0 THEN 'cc-by'
              WHEN o_orderkey % 4 = 2 THEN 'publisher-specific-oa' END AS license,
         o_orderkey % 5 = 0 AS source_is_oa,
         CASE WHEN o_orderkey % 2 = 0 THEN 1000 END AS apc_usd,
         CASE WHEN o_orderkey % 6 = 0 THEN TRUE
              WHEN o_orderkey % 6 = 3 THEN FALSE END AS is_oa
  FROM orders
),
status AS (
  SELECT funder, yr,
         CASE
           WHEN (COALESCE(is_oa, FALSE) OR source_is_oa) AND host_type = 'publisher' THEN
             CASE WHEN COALESCE(apc_usd, 0) = 0 AND source_is_oa THEN 'diamond'
                  WHEN source_is_oa THEN 'gold'
                  WHEN license IS NOT NULL AND license <> 'publisher-specific-oa' THEN 'hybrid'
                  ELSE 'bronze' END
           WHEN host_type IS NULL AND (COALESCE(is_oa, FALSE) OR source_is_oa) THEN 'gold'
           WHEN (COALESCE(is_oa, FALSE) OR source_is_oa) AND host_type = 'repository' THEN 'green'
           ELSE 'closed' END AS oa_status
  FROM feat
)
SELECT funder, yr,
       count(*)::BIGINT AS n_works,
       count_if(oa_status IN ('diamond', 'gold', 'hybrid', 'green'))::BIGINT AS n_open,
       (count_if(oa_status IN ('diamond', 'gold', 'hybrid', 'green'))::DOUBLE
          / count(*)::DOUBLE) AS open_share,
       count_if(oa_status IN ('diamond', 'gold', 'hybrid', 'green')) * 10 >= count(*) * 3
         AS meets_policy
FROM status
GROUP BY funder, yr
"""


@register(
    "award_oa_compliance",
    oracle=_AWARD_COMPLIANCE_SQL,
    tags=("domain", "award", "D4", "D11"),
    tables=("orders",),
)
def award_oa_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The award-plane compliance report (the reference generates one
    per funder — plans/awards/examples/aha-oa-compliance): per
    (funder, year), works funded, how many landed in an open route
    (diamond/gold/hybrid/green via the D4 ladder), the open share, and
    an integer-threshold policy verdict (>= 30 % open — threshold
    arithmetic in integers so both engines agree exactly). One scan,
    one aggregate on (funder, year); the reference's 351 generated
    notebooks are this one parameterized shape."""
    from openalex_walden_spark.functions.domain import oa_status

    k = F.col("o_orderkey")
    feats = spark.table("orders").select(
        F.concat(
            F.lit("F"), F.lpad((F.col("o_custkey") % 20).cast("string"), 2, "0")
        ).alias("funder"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.when(k % 3 == 0, F.lit("publisher"))
        .when(k % 3 == 1, F.lit("repository"))
        .alias("host_type"),
        F.when(k % 4 == 0, F.lit("cc-by"))
        .when(k % 4 == 2, F.lit("publisher-specific-oa"))
        .alias("license"),
        (k % 5 == 0).alias("source_is_oa"),
        F.when(k % 2 == 0, F.lit(1000)).alias("apc_usd"),
        F.when(k % 6 == 0, F.lit(True)).when(k % 6 == 3, F.lit(False)).alias("is_oa"),
    )
    status = feats.select(
        "funder",
        "yr",
        oa_status(
            F.col("host_type"),
            F.col("license"),
            F.col("source_is_oa"),
            F.col("apc_usd"),
            F.col("is_oa"),
        ).alias("oa_status"),
    )
    is_open = F.col("oa_status").isin("diamond", "gold", "hybrid", "green")
    n_open = F.sum(is_open.cast("long"))
    return status.groupBy("funder", "yr").agg(
        F.count("*").cast("bigint").alias("n_works"),
        n_open.cast("bigint").alias("n_open"),
        (n_open.cast("double") / F.count("*").cast("double")).alias("open_share"),
        (n_open * 10 >= F.count("*") * 3).alias("meets_policy"),
    )
