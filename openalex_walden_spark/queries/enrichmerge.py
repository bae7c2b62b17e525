"""Classifier-output enrich-and-merge + institution ancestry (reference
``notebooks/topics/topics_merge_output.ipynb``,
``notebooks/concepts/concepts_merge_output.ipynb``,
``notebooks/institutions/CreateInstitutionAncestors.ipynb``).

Three shapes:

* ``topics_merge_output`` — BERT topic predictions exploded, enriched
  with the 3-level hierarchy (subfield/field/domain structs), sorted by
  the reference's struct comparator (score DESC, id-STRING ASC — note the
  id is the full URL string, so 'T12' < 'T3' lexically), top-3 kept, then
  MERGEd over the existing state with model-beats-backfill precedence.

* ``concepts_keywords_dynamic`` — the concepts merge's keyword builder:
  slug normalization (apostrophe strip, parenthetical strip, non-letter
  runs → '-', edge-dash trim), level>1 gate, distinct, score-desc sort,
  and the tanh-sized DYNAMIC keyword count (tanh spelled as its exp
  composition in BOTH engines — this DuckDB build ships no tanh, and the
  shared spelling keeps the doubles bit-identical)
  ``clamp(2, 12, round(5 + 6·tanh((n₀.₂ − 7)·0.05)))`` where n₀.₂ counts
  keywords above the 0.20 threshold.

* ``institution_ancestors_lineage`` — the reference computes lineage
  with a RECURSIVE CTE (depth-d hierarchy = d sequential self-join
  rounds).  Spark 4.1 can run that CTE too (``UNION ALL`` only), but
  here it stays transitive closure by POINTER DOUBLING: round k holds
  every (institution, ancestor) pair within distance 2^k, so ROR-deep
  lineages resolve in ceil(log2 d) shuffle rounds, and a recursive
  port measured slower for taking d (ROADMAP direction 1).  The DuckDB
  oracle IS the reference's recursive CTE, so the log-round rewrite is
  hash-checked against real recursion.

Scores are constructed as exact 1e-4 multiples so ROUND(score, 4) is
exact in both engines; the reference's FLOAT narrowing is skipped (a
4-byte round-trip that only loses precision — noted deviation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openalex_walden_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Topics: merge BERT output (topics_merge_output.ipynb)
# ---------------------------------------------------------------------------
# lm output <- orders %4=1 : 1-4 predictions per work, scores exact 4-dec;
# existing state <- orders %3=0 (source 'backfill', single old topic).
# Overlap (%12=9... i.e. both) exercises WHEN MATCHED overwrite; lm-only
# rows insert; backfill-only rows survive untouched.
# metadata <- part (40 topics) joined to nation (subfields) / region
# (fields); domains derived.

_TOPIC_META_DUCK = """
  SELECT (p_partkey % 40) AS topic_id, p_name AS t_name,
         n_name AS subfield_name, r_name AS field_name,
         concat('D', CAST((p_partkey % 40) % 2 AS VARCHAR)) AS domain_id
  FROM part
  JOIN nation ON n_nationkey = (p_partkey % 40) % 25
  JOIN region ON r_regionkey = (p_partkey % 40) % 5
  WHERE p_partkey <= 40
"""

_TOPICS_ORACLE = f"""
WITH meta AS ({_TOPIC_META_DUCK}),
lm_exploded AS (
  SELECT o_orderkey AS work_id,
         ((o_orderkey * k) % 40) AS topic_id,
         ((o_orderkey * 7 + k * 13) % 9000 + 1000) / 10000.0 AS score,
         'model_v2' AS source
  FROM orders, UNNEST(range(1, 2 + (o_orderkey % 4)::INT)) AS t(k)
  WHERE o_orderkey % 4 = 1
),
merged_source AS (
  SELECT work_id, topic_id, t_name, subfield_name, field_name, domain_id,
         round(score, 4) AS score, source,
         row_number() OVER (
           PARTITION BY work_id
           ORDER BY score DESC, concat('https://openalex.org/T', CAST(topic_id AS VARCHAR)) ASC
         ) AS pos
  FROM lm_exploded JOIN meta USING (topic_id)
),
survivors AS (
  SELECT o_orderkey AS work_id, CAST(1 AS BIGINT) AS pos, (o_orderkey % 40) AS topic_id,
         m.t_name, m.subfield_name, m.field_name, m.domain_id,
         CAST(0.5 AS DOUBLE) AS score, 'backfill' AS source
  FROM orders JOIN meta m ON m.topic_id = (o_orderkey % 40)
  WHERE o_orderkey % 3 = 0 AND o_orderkey % 4 <> 1
)
SELECT work_id, pos, topic_id, t_name AS display_name, score,
       subfield_name, field_name, domain_id, source
FROM (
  SELECT work_id, pos, topic_id, t_name, subfield_name, field_name, domain_id, score, source
  FROM merged_source WHERE pos <= 3
  UNION ALL
  SELECT work_id, pos, topic_id, t_name, subfield_name, field_name, domain_id, score, source
  FROM survivors
)
ORDER BY work_id, pos
"""


@register(
    "topics_merge_output",
    oracle=_TOPICS_ORACLE,
    tags=("enrichmerge", "merge", "topk"),
    tables=("orders", "part", "nation", "region"),
)
def topics_merge_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-prediction enrich + top-3 + MERGE (topics_merge_output.ipynb).

    The enrich join broadcasts the (small) hierarchy metadata; the top-3
    is the reference's ``slice(array_sort(array_agg(...), comparator))``
    with its exact comparator — score DESC then the URL-string id ASC.
    MERGE precedence (model overwrites backfill; untouched rows survive)
    is materialized as updated ∪ inserted ∪ anti-joined survivors, the
    j9 discipline.  The final state is exploded positionally so the
    oracle replays the comparator as a window rank.
    """
    meta = (
        spark.table("part")
        .filter(F.col("p_partkey") <= 40)
        .select((F.col("p_partkey") % 40).alias("topic_id"), F.col("p_name").alias("t_name"))
        .join(spark.table("nation"), F.expr("n_nationkey = topic_id % 25"))
        .join(spark.table("region"), F.expr("r_regionkey = topic_id % 5"))
        .select(
            "topic_id", "t_name",
            F.col("n_name").alias("subfield_name"),
            F.col("r_name").alias("field_name"),
            F.concat(F.lit("D"), (F.col("topic_id") % 2).cast("string")).alias("domain_id"),
        )
    )
    lm = (
        spark.table("orders")
        .filter(F.col("o_orderkey") % 4 == 1)
        .select(
            F.col("o_orderkey").alias("work_id"),
            F.explode(F.expr("sequence(1, CAST(1 + o_orderkey % 4 AS INT))")).alias("k"),
        )
        .select(
            "work_id",
            ((F.col("work_id") * F.col("k")) % 40).alias("topic_id"),
            (((F.col("work_id") * 7 + F.col("k") * 13) % 9000 + 1000) / 10000.0).alias("score"),
            F.lit("model_v2").alias("source"),
        )
    )
    merged_source = (
        lm.join(F.broadcast(meta), "topic_id")
        .groupBy("work_id")
        .agg(
            F.expr(
                """slice(array_sort(
                     collect_list(named_struct(
                       'id', concat('https://openalex.org/T', CAST(topic_id AS STRING)),
                       'topic_id', topic_id, 't_name', t_name,
                       'subfield_name', subfield_name, 'field_name', field_name,
                       'domain_id', domain_id, 'score', round(score, 4))),
                     (l, r) -> CASE WHEN l.score > r.score THEN -1
                                    WHEN l.score < r.score THEN 1
                                    WHEN l.id < r.id THEN -1
                                    WHEN l.id > r.id THEN 1 ELSE 0 END),
                   1, 3)"""
            ).alias("topics"),
            F.max("source").alias("source"),
        )
    )
    survivors = (
        spark.table("orders")
        .filter((F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") % 4 != 1))
        .select(
            F.col("o_orderkey").alias("work_id"),
            (F.col("o_orderkey") % 40).alias("topic_id"),
            F.lit(0.5).alias("score"),
            F.lit("backfill").alias("source"),
        )
        .join(F.broadcast(meta), "topic_id")
        .select(
            "work_id", F.lit(1).alias("pos"), "topic_id",
            F.col("t_name").alias("display_name"), "score",
            "subfield_name", "field_name", "domain_id", "source",
        )
    )
    updated = merged_source.select(
        "work_id", F.posexplode("topics").alias("pos0", "t"), "source"
    ).select(
        "work_id",
        (F.col("pos0") + 1).alias("pos"),
        F.col("t.topic_id").alias("topic_id"),
        F.col("t.t_name").alias("display_name"),
        F.col("t.score").alias("score"),
        F.col("t.subfield_name").alias("subfield_name"),
        F.col("t.field_name").alias("field_name"),
        F.col("t.domain_id").alias("domain_id"),
        "source",
    )
    return updated.unionByName(survivors).orderBy("work_id", "pos")


# ---------------------------------------------------------------------------
# Concepts: tanh-sized dynamic keywords (concepts_merge_output.ipynb)
# ---------------------------------------------------------------------------
# joined concepts <- lineitem sample, display names from part (decorated
# with apostrophes / parentheticals so the slug regexes earn their keep).

_KW_SLUG_SPARK = (
    "regexp_replace(regexp_replace(regexp_replace("
    "replace(lower(display_name), \"'\", ''),"
    " '\\\\s*\\\\([^)]*\\\\)', ''),"
    " '[^\\\\p{L}\\\\p{N}\\\\./\\u2013\\\\*#]+', '-'),"
    " '(^-+|-+$)', '')"
)

# DuckDB regexp_replace replaces the FIRST match unless 'g' is passed.
_KW_SLUG_DUCK = (
    "regexp_replace(regexp_replace(regexp_replace("
    "replace(lower(display_name), '''', ''),"
    " '\\s*\\([^)]*\\)', '', 'g'),"
    " '[^\\p{L}\\p{N}\\./–\\*#]+', '-', 'g'),"
    " '(^-+|-+$)', '', 'g')"
)

_CONCEPTS_ORACLE = f"""
WITH joined AS (
  SELECT DISTINCT
         l_orderkey AS work_id,
         (l_partkey % 80) AS concept_id,
         ((l_partkey % 80) % 4) AS level,
         CASE WHEN l_suppkey % 11 = 0 THEN 0.0
              ELSE ((l_orderkey * 3 + l_partkey * 5) % 9000 + 500) / 10000.0 END AS score,
         CASE WHEN (l_partkey % 80) % 6 = 0 THEN concat(p_name, ' (historic)')
              WHEN (l_partkey % 80) % 6 = 1 THEN concat('O''Brien ', p_name)
              ELSE p_name END AS display_name
  FROM lineitem JOIN part ON p_partkey = (l_partkey % 80) + 1
  WHERE l_orderkey % 10 = 3
),
kw AS (
  SELECT DISTINCT work_id,
         concat('https://openalex.org/keywords/', {_KW_SLUG_DUCK}) AS id,
         display_name, round(score, 4) AS score
  FROM joined WHERE level > 1
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY work_id ORDER BY score DESC, id ASC) AS rn
  FROM kw WHERE score > 0
),
counts AS (
  SELECT work_id,
         GREATEST(2, LEAST(12, round(5.0 + 6.0 *
           ((exp(2 * ((COUNT(*) FILTER (WHERE score > 0.20) - 7) * 0.05)) - 1)
            / (exp(2 * ((COUNT(*) FILTER (WHERE score > 0.20) - 7) * 0.05)) + 1)))))::BIGINT AS kw_count
  FROM kw GROUP BY work_id
)
SELECT r.work_id, c.kw_count, r.rn AS pos, r.id AS keyword_id, r.display_name, r.score
FROM ranked r JOIN counts c ON r.work_id = c.work_id
WHERE r.rn <= c.kw_count
ORDER BY r.work_id, r.rn
"""


@register(
    "concepts_keywords_dynamic",
    oracle=_CONCEPTS_ORACLE,
    tags=("enrichmerge", "hof", "text"),
    tables=("lineitem", "part"),
)
def concepts_keywords_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concepts-merge keyword builder (concepts_merge_output.ipynb).

    Slug normalization entirely JVM-side (lower → apostrophe strip →
    parenthetical strip → non-word runs to '-' → edge trim), the level>1
    gate, struct-distinct, score-desc/id-asc order, and the tanh-sized
    keyword count clamped to [2, 12] — the count reads the 0.20-threshold
    population while the cut filters score > 0, exactly the reference's
    two different predicates.  tanh inputs are small integer multiples of
    0.05, far from any round() half-boundary, so IEEE double math agrees
    across engines.
    """
    joined = (
        spark.table("lineitem")
        .filter(F.col("l_orderkey") % 10 == 3)
        .join(
            F.broadcast(spark.table("part").select("p_partkey", "p_name")),
            F.expr("p_partkey = (l_partkey % 80) + 1"),
        )
        .select(
            F.col("l_orderkey").alias("work_id"),
            (F.col("l_partkey") % 80).alias("concept_id"),
            ((F.col("l_partkey") % 80) % 4).alias("level"),
            F.when(F.col("l_suppkey") % 11 == 0, F.lit(0.0))
            .otherwise(((F.col("l_orderkey") * 3 + F.col("l_partkey") * 5) % 9000 + 500) / 10000.0)
            .alias("score"),
            F.when((F.col("l_partkey") % 80) % 6 == 0, F.expr("concat(p_name, ' (historic)')"))
            .when((F.col("l_partkey") % 80) % 6 == 1, F.expr("concat(\"O'Brien \", p_name)"))
            .otherwise(F.col("p_name"))
            .alias("display_name"),
        )
        .distinct()
    )
    kw = (
        joined.filter(F.col("level") > 1)
        .select(
            "work_id",
            F.expr(f"concat('https://openalex.org/keywords/', {_KW_SLUG_SPARK})").alias("id"),
            "display_name",
            F.round("score", 4).alias("score"),
        )
        .distinct()
    )
    from pyspark.sql import Window

    ranked = (
        kw.filter(F.col("score") > 0)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("work_id").orderBy(F.col("score").desc(), F.col("id").asc())
            ),
        )
    )
    counts = kw.groupBy("work_id").agg(
        F.greatest(
            F.lit(2),
            F.least(
                F.lit(12),
                F.round(
                    5.0
                    + 6.0
                    * (
                        (F.exp(2 * ((F.count_if(F.col("score") > 0.20) - 7) * 0.05)) - 1)
                        / (F.exp(2 * ((F.count_if(F.col("score") > 0.20) - 7) * 0.05)) + 1)
                    ),
                    0,
                ),
            ),
        )
        .cast("long")
        .alias("kw_count")
    )
    return (
        ranked.join(counts, "work_id")
        .filter(F.col("rn") <= F.col("kw_count"))
        .select(
            "work_id", "kw_count", F.col("rn").alias("pos"),
            F.col("id").alias("keyword_id"), "display_name", "score",
        )
        .orderBy("work_id", "pos")
    )


# ---------------------------------------------------------------------------
# Institution ancestors: recursive lineage (CreateInstitutionAncestors.ipynb)
# ---------------------------------------------------------------------------
# institutions <- customer (ror_id carries the URL prefix the join must
# strip; %37 rows are merged away); parent edges <- customer with
# parent(c) = c div 3 (depth ~7 at sf0.01); %5 edges are 'related' and
# must be ignored.

_ANC_BASE_DUCK = """
  SELECT i.c_custkey AS institution_id, p.c_custkey AS ancestor_id
  FROM customer i
  JOIN customer p ON p.c_custkey = i.c_custkey // 3
  WHERE i.c_custkey >= 3
    AND i.c_custkey % 5 <> 0          -- relationship_type = 'parent' only
    AND i.c_custkey % 37 <> 0         -- child not merged away
    AND p.c_custkey % 37 <> 0         -- parent not merged away
"""

_ANCESTORS_ORACLE = f"""
WITH RECURSIVE base AS ({_ANC_BASE_DUCK}),
anc AS (
  SELECT institution_id, ancestor_id, 1 AS generation FROM base
  UNION ALL
  SELECT a.institution_id, b.ancestor_id, a.generation + 1
  FROM anc a JOIN base b ON b.institution_id = a.ancestor_id
)
SELECT institution_id, ancestor_id, generation
FROM anc
ORDER BY institution_id, generation
"""

# Doubling rounds: round k closes every pair within 2^k generations.
_LINEAGE_ROUNDS = 4
_LINEAGE_CAP = 2**_LINEAGE_ROUNDS


@register(
    "institution_ancestors_lineage",
    oracle=_ANCESTORS_ORACLE,
    tags=("enrichmerge", "graph", "doubling", "iterative"),
    tables=("customer",),
)
def institution_ancestors_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full institution lineage by pointer doubling
    (CreateInstitutionAncestors.ipynb — reference uses WITH RECURSIVE).

    Round k closes every ancestor pair within distance 2^k: T_{{k+1}} =
    T_k ∪ compose(T_k, T_k), deduped per round.  Four rounds close
    every pair up to generation 16 — ROR's real hierarchy tops out
    around 8 — in ceil(log2 d) shuffle rounds where the reference's
    recursion takes d.  A pair at generation 16 may stand for a deeper
    lineage the rounds cut, so an in-plan ``assert_true(generation <
    16)`` fails the job instead of returning a truncated closure.  The
    refusal is conservative by one generation: a lineage exactly 16
    deep is complete but refused too.  The fixtures reach at most
    floor(log3(max c_custkey)) generations: 8 at sf0.1, 15 at sf100.
    The ROR-id URL-prefix strip, the 'parent'-only edge filter, and the
    merged-institution gates (BOTH endpoints, which also severs chains
    through a merged-away intermediate, matching the recursion) live in
    the base-edge build.  Oracle: the reference's own recursive CTE.

    Each round's lineage is truncated with localCheckpoint (r15, guide
    §2.4/§7.2): T_{{k+1}} references T_k THREE times (union left, join
    left, join right), so the unrolled plan instantiated the base-edge
    build 3^4 = 81 times — 243 input scans in the static plan;
    interleaved A/B at sf0.1: 5.6-11.8 s unrolled vs 2.2-2.4 s
    truncated (min-of-4, 10-32 s unrolled under host contention) —
    where the checkpointed loop executes every round exactly once
    (``checkpoints.run_truncated_loop``, the loop pagerank and
    connected components also run in).
    """
    from openalex_walden_spark.operators.checkpoints import run_truncated_loop

    def base() -> DataFrame:
        c = spark.table("customer").select(F.col("c_custkey").alias("id"))
        # institutions fixture: ror_id = 'https://ror.org/0<id>'; strip
        # before join
        inst = c.select(
            "id",
            F.regexp_replace(
                F.concat(F.lit("https://ror.org/0"), F.col("id").cast("string")),
                "^https://ror\\.org/", "",
            ).alias("ror"),
            F.when(F.col("id") % 37 == 0, F.lit(1)).alias("merge_into_id"),
        )
        rel = c.filter(F.col("id") >= 3).select(
            F.concat(F.lit("0"), F.col("id").cast("string")).alias("ror_id"),
            F.concat(F.lit("0"), F.expr("id div 3").cast("string")).alias(
                "related_ror_id"
            ),
            F.when(F.col("id") % 5 == 0, F.lit("related"))
            .otherwise(F.lit("parent"))
            .alias("relationship_type"),
        )
        child = inst.filter(F.col("merge_into_id").isNull()).select(
            F.col("id").alias("institution_id"), F.col("ror").alias("c_ror")
        )
        parent = inst.filter(F.col("merge_into_id").isNull()).select(
            F.col("id").alias("ancestor_id"), F.col("ror").alias("p_ror")
        )
        return (
            rel.filter(F.col("relationship_type") == "parent")
            .join(child, F.col("c_ror") == F.col("ror_id"))
            .join(parent, F.col("p_ror") == F.col("related_ror_id"))
            .select(
                "institution_id",
                "ancestor_id",
                F.lit(1).cast("int").alias("generation"),
            )
            .localCheckpoint()
        )

    def close_round(t: DataFrame) -> DataFrame:
        hop = t.select(
            F.col("institution_id").alias("mid"),
            F.col("ancestor_id").alias("far_anc"),
            F.col("generation").alias("g2"),
        )
        composed = (
            t.join(hop, t.ancestor_id == hop.mid)
            .select(
                "institution_id",
                F.col("far_anc").alias("ancestor_id"),
                (F.col("generation") + F.col("g2")).alias("generation"),
            )
        )
        return t.unionByName(composed).distinct()

    t, _ = run_truncated_loop(spark, base, close_round, _LINEAGE_ROUNDS)
    # A pair at the cap's generation may hide a deeper one: refuse it in
    # the plan (assert_true returns NULL after checking, so the when()
    # always takes the checked branch and keeps the guard unpruned).
    guard = F.assert_true(
        F.col("generation") < _LINEAGE_CAP,
        F.lit(f"institution_ancestors_lineage: a lineage reaches generation "
              f"{_LINEAGE_CAP}, the most {_LINEAGE_ROUNDS} doubling rounds "
              f"close; deeper pairs would be missing"),
    )
    return t.select(
        F.when(guard.isNull(), F.col("institution_id")).alias("institution_id"),
        "ancestor_id",
        "generation",
    ).orderBy("institution_id", "generation")
