"""Advanced operators: pandas-UDF surface (P5), multimodal decode
plumbing, IVF-partitioned ANN, embedding near-dup, histogram/tall-metric
aggregates (A7/A8), and the serving JSON export shape (S6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from openalex_walden_spark.queries.registry import register

# --------------------------------------------------------------------------
# P5: author-name keying via pandas UDF + block statistics (J8 feeder)
# --------------------------------------------------------------------------
# Names are synthesized from part names: first + last word play given /
# family. The oracle replicates the UDF's contract in SQL (lowercase,
# alpha-only, 'family;initial').
_AUTHOR_SQL = """
WITH names AS (
  SELECT p_partkey,
         list_extract(string_split(p_name, ' '), 1) || ' ' ||
         list_extract(string_split(p_name, ' '), -1) AS author_name
  FROM part
),
keyed AS (
  SELECT p_partkey,
         regexp_replace(lower(list_extract(string_split(author_name, ' '), -1)), '[^a-z]', '', 'g')
         || ';' ||
         substr(regexp_replace(lower(list_extract(string_split(author_name, ' '), 1)), '[^a-z]', '', 'g'), 1, 1)
         AS author_key
  FROM names
)
SELECT author_key, COUNT(*) AS block_size, MIN(p_partkey) AS sample_partkey
FROM keyed
GROUP BY author_key
"""


@register("p5_author_key_blocks", oracle=_AUTHOR_SQL, tags=("udf", "P5", "J8"), tables=("part",))
def p5_author_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Author-name keying (P5) as the engine's first Arrow UDF: parse
    'Given Family' → 'family;g' blocking key (reference contract,
    normalize.py:233-303, incl. the per-worker lru_cache), then block
    statistics — the candidate-generation feeder for J8/D6.

    Plan note: the UDF runs in ArrowEvalPython with worker reuse; at
    100 TB the 500k-entry cache amortizes hot family names per executor.
    """
    from openalex_walden_spark.deploy import ensure_shipped
    from openalex_walden_spark.functions.udfs import author_key

    ensure_shipped(spark)
    words = F.split(F.col("p_name"), " ")
    name = F.concat_ws(" ", F.element_at(words, 1), F.element_at(words, -1))
    return (
        spark.table("part")
        .select("p_partkey", author_key(name).alias("author_key"))
        .groupBy("author_key")
        .agg(
            F.count("*").alias("block_size"),
            F.min("p_partkey").alias("sample_partkey"),
        )
    )


# --------------------------------------------------------------------------
# Multimodal decode plumbing (mapInPandas over binary payloads)
# --------------------------------------------------------------------------
_DECODE_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       ('0x' || substr(md5(text), 1, 4))::BIGINT % 640 AS fake_width,
       ('0x' || substr(md5(text), 5, 4))::BIGINT % 480 AS fake_height
FROM documents
"""


@register("multimodal_decode", oracle=_DECODE_SQL, tags=("udf", "multimodal"), tables=("documents",))
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: treat content as an opaque BINARY
    payload, 'decode' it per Arrow batch via mapInPandas into typed
    metadata (n_bytes, hash, dimensions).

    The decode body is a deterministic stand-in (image/audio libs absent
    here — a real one swaps in PIL/ffmpeg with a per-worker cache); the
    schema contract, Arrow batch shape, and partition behavior are the
    real operator, and the oracle verifies them end-to-end.
    """
    from openalex_walden_spark.deploy import ensure_shipped
    from openalex_walden_spark.functions.udfs import DECODED_SCHEMA, fake_decode_batch

    ensure_shipped(spark)
    payloads = (
        spark.table("documents")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    return payloads.mapInPandas(fake_decode_batch, DECODED_SCHEMA)


# --------------------------------------------------------------------------
# IVF-style partitioned ANN (centroid route → in-partition top-k)
# --------------------------------------------------------------------------
_DOT = (
    "list_sum(list_transform(range(1, len({b}) + 1), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)
_NORM = "sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"

_IVF_SQL = f"""
WITH ordered AS (
  SELECT label, list(embedding ORDER BY vec_id) AS vs FROM embeddings GROUP BY label
),
centroids AS (
  SELECT label,
         list_transform(range(1, len(vs[1]) + 1),
           j -> list_sum(list_transform(vs, v -> v[j]::DOUBLE)) / len(vs)::DOUBLE) AS c
  FROM ordered
),
q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 7),
routed AS (
  SELECT q_id, qe, label AS best_label
  FROM (
    SELECT q.q_id, q.qe, c.label,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_DOT.format(a='q.qe', b='c.c')}
                                       / ({_NORM.format(a='q.qe')} * {_NORM.format(a='c.c')}) DESC,
                                       c.label ASC) AS rc
    FROM q CROSS JOIN centroids c
  ) WHERE rc = 1
),
scored AS (
  SELECT r.q_id, r.best_label, e.vec_id AS neighbor_id,
         {_DOT.format(a='r.qe', b='e.embedding')}
           / ({_NORM.format(a='r.qe')} * {_NORM.format(a='e.embedding')}) AS cosine
  FROM routed r JOIN embeddings e
    ON e.label = r.best_label AND e.vec_id <> r.q_id
)
SELECT q_id, best_label, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


@register("ann_ivf_topk", oracle=_IVF_SQL, tags=("llmdata", "ann", "ivf"), tables=("embeddings",))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: per-label centroids (the label column plays the
    coarse quantizer's cell id) → route each query to its nearest
    centroid → exact top-k INSIDE that cell only.

    This is the scale path next to ann_cosine_topk's brute force: the
    corpus-side scan drops from N to N/cells, centroids broadcast, and
    the in-cell search is an equi-join on label — no all-pairs anywhere.
    Centroid sums fold in vec_id order so the oracle matches bit-exactly.
    """
    e = spark.table("embeddings")
    ordered = e.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "embedding"))).alias("vs")
    )
    centroid = F.expr(
        "transform(sequence(1, size(element_at(vs, 1).embedding)), "
        "j -> aggregate(vs, cast(0.0 as double), "
        "(acc, v) -> acc + cast(element_at(v.embedding, j) as double)) "
        "/ cast(size(vs) as double))"
    )
    centroids = F.broadcast(ordered.select("label", centroid.alias("c")))

    q = F.broadcast(
        e.where(F.col("vec_id") % 100 == 7).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def norm(a):
        return F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    route_cos = dot(F.col("qe"), F.col("c")) / (norm(F.col("qe")) * norm(F.col("c")))
    wr = Window.partitionBy("q_id").orderBy(F.col("route_cos").desc(), F.col("label").asc())
    routed = (
        q.crossJoin(centroids)
        .withColumn("route_cos", route_cos)
        .withColumn("rc", F.row_number().over(wr))
        .where(F.col("rc") == 1)
        .select("q_id", "qe", F.col("label").alias("best_label"))
    )

    cos = dot(F.col("qe"), F.col("embedding")) / (
        norm(F.col("qe")) * norm(F.col("embedding"))
    )
    scored = (
        e.join(F.broadcast(routed), (e.label == routed.best_label) & (e.vec_id != routed.q_id))
        .select("q_id", "best_label", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    )
    wk = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .where(F.col("rnk") <= 3)
        .select("q_id", "best_label", "neighbor_id", "cosine", F.col("rnk").cast("bigint").alias("rnk"))
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (label-blocked)
# --------------------------------------------------------------------------
_EMB_NEARDUP_SQL = f"""
WITH corpus AS (
  SELECT vec_id, label, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, label, embedding
  FROM embeddings WHERE vec_id % 25 = 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label
FROM corpus a JOIN corpus b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_DOT.format(a='a.embedding', b='b.embedding')}
        / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')}) >= 0.999
"""


@register("embedding_neardup_pairs", oracle=_EMB_NEARDUP_SQL, tags=("llmdata", "dedup", "ann"), tables=("embeddings",))
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, blocked by the cluster label
    (the IVF cell): candidate pairs exist only within a block — the
    embedding-space analogue of the LSH bucket join. Synthetic exact
    copies (vec_id+100000) guarantee known positives."""
    e = spark.table("embeddings")
    corpus = e.unionByName(
        e.where(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "label", "embedding"
        )
    )
    a = corpus.alias("a")
    b = corpus.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col("a.embedding"), F.col("b.embedding"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(F.col(c), lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    cos = dot / (norm("a.embedding") * norm("b.embedding"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .where(cos >= 0.999)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
        )
    )


# --------------------------------------------------------------------------
# A7: frequency histogram with derived zero bucket
# --------------------------------------------------------------------------
_A7_SQL = """
WITH counts AS (
  SELECT p.p_partkey, COALESCE(c.n, 0) AS cited_by_count
  FROM part p LEFT JOIN (
    SELECT l_partkey, COUNT(*) AS n FROM lineitem GROUP BY l_partkey
  ) c ON p.p_partkey = c.l_partkey
)
SELECT cited_by_count, COUNT(*) AS n_parts
FROM counts
GROUP BY cited_by_count
"""


@register("a7_histogram_zero_bucket", oracle=_A7_SQL, tags=("agg", "A7"), tables=("part", "lineitem"))
def a7_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Citation-count histogram INCLUDING the zero bucket — the bucket a
    naive groupBy over edges silently drops (the reference derives it
    explicitly, CreateWorksEnriched cell 11 `year_count_freq`): left-join
    the entity universe against edge counts, coalesce to 0, then count."""
    counts = (
        spark.table("lineitem").groupBy("l_partkey").agg(F.count("*").alias("n"))
    )
    universe = spark.table("part").join(
        counts, F.col("p_partkey") == F.col("l_partkey"), "left"
    ).select(F.coalesce(F.col("n"), F.lit(0)).alias("cited_by_count"))
    return universe.groupBy("cited_by_count").agg(F.count("*").alias("n_parts"))


# --------------------------------------------------------------------------
# A8: tall-metrics snapshot (cache + multi-aggregation)
# --------------------------------------------------------------------------
_A8_SQL = """
SELECT 'orders_by_status' AS metric, o_orderstatus AS dimension,
       COUNT(*)::DOUBLE AS value
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 'orders_by_priority' AS metric, o_orderpriority AS dimension,
       COUNT(*)::DOUBLE AS value
FROM orders GROUP BY o_orderpriority
UNION ALL
SELECT 'total_revenue' AS metric, 'all' AS dimension,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value
FROM orders
"""


@register("a8_tall_metrics", oracle=_A8_SQL, tags=("agg", "A8"), tables=("orders",))
def a8_tall_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tall-metrics snapshot (metric, dimension, value): one thin cached
    projection feeding several aggregations (WorksDailyMetrics.py:60-120
    shape). The cache means one scan serves all metric families."""
    from openalex_walden_spark.operators.guardrails import persist_scalar

    thin = persist_scalar(
        spark.table("orders").select(
            "o_orderstatus", "o_orderpriority", "o_totalprice"
        )
    )
    by_status = thin.groupBy(F.col("o_orderstatus").alias("dimension")).agg(
        F.count("*").cast("double").alias("value")
    ).select(F.lit("orders_by_status").alias("metric"), "dimension", "value")
    by_prio = thin.groupBy(F.col("o_orderpriority").alias("dimension")).agg(
        F.count("*").cast("double").alias("value")
    ).select(F.lit("orders_by_priority").alias("metric"), "dimension", "value")
    total = thin.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("value")
    ).select(F.lit("total_revenue").alias("metric"), F.lit("all").alias("dimension"), "value")
    return by_status.unionByName(by_prio).unionByName(total)


# --------------------------------------------------------------------------
# S6: serving JSON export shape
# --------------------------------------------------------------------------
_S6_SQL = """
SELECT c_custkey AS custkey,
       to_json(struct_pack(custkey := c_custkey, name := c_name,
                           mktsegment := c_mktsegment))::VARCHAR AS doc
FROM customer
"""


@register("s6_json_export_shape", oracle=_S6_SQL, tags=("sink", "S6", "json"), tables=("customer",))
def s6_json_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API-shaped JSON document per row — the serving/export projection
    (export_works.ipynb cell 3 `to_json(struct(*))`). Field order is the
    struct declaration order in both engines; the file-writing sink
    around this shape lives in sinks/json_export.py."""
    return spark.table("customer").select(
        F.col("c_custkey").alias("custkey"),
        F.to_json(
            F.struct(
                F.col("c_custkey").alias("custkey"),
                F.col("c_name").alias("name"),
                F.col("c_mktsegment").alias("mktsegment"),
            )
        ).alias("doc"),
    )


# --------------------------------------------------------------------------
# Skew mitigation: salted aggregation + salted join (semantics-preserving)
# --------------------------------------------------------------------------
_SKEW_AGG_SQL = """
SELECT l_returnflag, count(*)::BIGINT AS n,
       CAST(sum(l_quantity::INTEGER) AS BIGINT) AS qty
FROM lineitem GROUP BY l_returnflag
"""


@register(
    "skew_salted_agg",
    oracle=_SKEW_AGG_SQL,
    tags=("skew", "agg", "A1"),
    tables=("lineitem",),
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through the salting operator
    (``operators/skew.py:salted_agg``): l_returnflag has 3 values over
    the whole fact table — the worst-case skew for a 1-stage groupBy at
    100 TB (3 reducers do all the work). The two-stage form spreads each
    key over 16 salt buckets; the oracle proves the decomposition is
    exact.
    """
    from openalex_walden_spark.operators.skew import salted_agg

    li = spark.table("lineitem").withColumn(
        "q_int", F.col("l_quantity").cast("int")
    )
    return salted_agg(
        li,
        keys=["l_returnflag"],
        aggs={"n": ("l_orderkey", "count"), "qty": ("q_int", "sum")},
        salt_cols=["l_orderkey", "l_linenumber"],
        salt_buckets=16,
    ).select("l_returnflag", "n", F.col("qty").cast("long").alias("qty"))


_SKEW_JOIN_SQL = """
SELECT n_name, CAST(sum(l_quantity::INTEGER) AS BIGINT) AS qty
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


@register(
    "skew_salted_join",
    oracle=_SKEW_JOIN_SQL,
    tags=("skew", "join", "J1"),
    tables=("lineitem", "supplier", "nation"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact⋈dimension join via ``salted_join``: the fact salts
    on (orderkey, linenumber), the supplier×nation dimension replicates
    to 8 buckets, so a hot suppkey spreads over 8 tasks. Broadcast is
    still the first choice for a dimension this small — this entry pins
    the replicate-path semantics for dimensions too big to broadcast.
    """
    from openalex_walden_spark.operators.skew import salted_join

    dim = (
        spark.table("supplier")
        .join(F.broadcast(spark.table("nation")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_suppkey").alias("l_suppkey"), "n_name")
    )
    li = spark.table("lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("int").alias("q_int"),
    )
    joined = salted_join(
        li, dim, on="l_suppkey",
        salt_cols=["l_orderkey", "l_linenumber"], salt_buckets=8,
    )
    return joined.groupBy("n_name").agg(
        F.sum("q_int").cast("long").alias("qty")
    )


# --------------------------------------------------------------------------
# Multimodal frame sampling (1→many mapInPandas)
# --------------------------------------------------------------------------
_FRAMES_SQL = """
WITH base AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS h
  FROM documents
),
frames AS (
  SELECT doc_id, unnest(range(0, n_bytes % 40 + 1)) AS frame_idx, h
  FROM base
)
SELECT doc_id, frame_idx,
       md5(h || ':' || CAST(frame_idx AS VARCHAR)) AS frame_md5
FROM frames WHERE frame_idx % 7 = 0
"""


@register(
    "multimodal_frame_sample",
    oracle=_FRAMES_SQL,
    tags=("udf", "multimodal"),
    tables=("documents",),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: the 1→many mapInPandas shape (one
    video payload → every 7th frame as a row). A real sampler swaps the
    deterministic fake for ffmpeg with a per-worker process cache; the
    Arrow batch contract — input batch in, EXPANDED batch out — is the
    operator, and the oracle pins cardinality + per-frame identity.
    Scale: frames inherit the payload partitioning; no shuffle until a
    downstream aggregation asks for one."""
    from openalex_walden_spark.deploy import ensure_shipped
    from openalex_walden_spark.functions.udfs import (
        FRAMES_SCHEMA,
        fake_frame_sample_batch,
    )

    ensure_shipped(spark)
    payloads = (
        spark.table("documents")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    return payloads.mapInPandas(fake_frame_sample_batch, FRAMES_SCHEMA)


# --------------------------------------------------------------------------
# Multimodal resize: typed-metadata transform over decoded payloads
# --------------------------------------------------------------------------
_RESIZE_SQL = """
WITH decoded AS (
  SELECT doc_id,
         ('0x' || substr(md5(text), 1, 4))::BIGINT % 640 AS w,
         ('0x' || substr(md5(text), 5, 4))::BIGINT % 480 AS h
  FROM documents
)
SELECT doc_id, w, h,
       CASE WHEN w >= h THEN least(w, 256)
            ELSE (least(h, 256) * w) // greatest(h, 1) END AS out_w,
       CASE WHEN w >= h THEN (least(w, 256) * h) // greatest(w, 1)
            ELSE least(h, 256) END AS out_h
FROM decoded
"""


@register(
    "multimodal_resize",
    oracle=_RESIZE_SQL,
    tags=("udf", "multimodal"),
    tables=("documents",),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing: compute the target geometry
    (long-edge cap 256, aspect preserved, integer floor) from decoded
    dimensions as PURE COLUMN EXPRESSIONS — the actual pixel resample is
    the only part that needs the (absent) image lib, and it would slot
    into the decode mapInPandas batch; the geometry contract, which is
    what downstream training pipelines depend on, is fully engine-checked.
    """
    from openalex_walden_spark.functions.udfs import DECODED_SCHEMA, fake_decode_batch

    from openalex_walden_spark.deploy import ensure_shipped

    ensure_shipped(spark)
    payloads = (
        spark.table("documents")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    decoded = payloads.mapInPandas(fake_decode_batch, DECODED_SCHEMA).select(
        "doc_id",
        F.col("fake_width").alias("w"),
        F.col("fake_height").alias("h"),
    )
    cap = F.lit(256)
    landscape = F.col("w") >= F.col("h")
    out_w = F.when(landscape, F.least(F.col("w"), cap)).otherwise(
        (F.least(F.col("h"), cap) * F.col("w"))
        .cast("long") / F.greatest(F.col("h"), F.lit(1))
    ).cast("long")
    out_h = F.when(
        landscape,
        (F.least(F.col("w"), cap) * F.col("h")).cast("long")
        / F.greatest(F.col("w"), F.lit(1)),
    ).otherwise(F.least(F.col("h"), cap)).cast("long")
    return decoded.select("doc_id", "w", "h", out_w.alias("out_w"), out_h.alias("out_h"))


# --------------------------------------------------------------------------
# SemDeDup-style semantic prune: one representative per ε-ball per cell
# --------------------------------------------------------------------------
_SEMDEDUP_TAU = 0.99

_SEMDEDUP_SQL = f"""
WITH dominated AS (
  SELECT DISTINCT a.vec_id
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND b.vec_id < a.vec_id
  WHERE {_DOT.format(a='a.embedding', b='b.embedding')}
          / ({_NORM.format(a='a.embedding')} * {_NORM.format(a='b.embedding')})
        >= {_SEMDEDUP_TAU}
)
SELECT e.label, COUNT(*) AS n_vectors,
       COUNT(*) FILTER (WHERE d.vec_id IS NULL) AS n_kept,
       COUNT(d.vec_id) AS n_pruned
FROM embeddings e LEFT JOIN dominated d ON e.vec_id = d.vec_id
GROUP BY e.label
"""


@register(
    "semdedup_prune",
    oracle=_SEMDEDUP_SQL,
    tags=("llmdata", "dedup", "ann", "semdedup"),
    tables=("embeddings",),
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): within
    each cluster cell (the label column — in production the k-means
    assignment ann_ivf_topk's centroid stage produces), a vector is
    pruned when a LOWER-id vector in the same cell sits within the
    cosine ε-ball (τ=0.99).  Greedy lowest-id-wins is deterministic and
    needs no transitive closure — exactly the published algorithm's
    "keep one representative per duplicate ball".

    Scale shape: candidate pairs exist only WITHIN a cell (equi-join on
    label), never across the corpus; the per-cell quadratic term is
    bounded by cell size, which the clustering stage controls.  Output
    is the per-cell keep/prune census a curation loop monitors.
    """
    e = spark.table("embeddings")
    a = e.alias("a")
    b = e.alias("b")
    dot = F.aggregate(
        F.zip_with(
            F.col("a.embedding"), F.col("b.embedding"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(F.col(c), lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    cos = dot / (norm("a.embedding") * norm("b.embedding"))
    dominated = (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("b.vec_id") < F.col("a.vec_id")))
        .where(cos >= _SEMDEDUP_TAU)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dom", F.lit(True))
    )
    return (
        e.join(dominated, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.count(F.when(F.col("is_dom").isNull(), 1)).alias("n_kept"),
            F.count("is_dom").alias("n_pruned"),
        )
    )


# --------------------------------------------------------------------------
# k-means Lloyd step, exact fixed-point arithmetic (IVF training step)
# --------------------------------------------------------------------------
_KM_K = 8
_KM_Q = 65536  # 2^16 quantization scale — power of two, so x*Q is exact

_KMEANS_SQL = f"""
WITH pts AS (
  SELECT vec_id,
         list_transform(embedding, x -> floor(x::DOUBLE * {_KM_Q})::BIGINT + {_KM_Q}) AS qx
  FROM embeddings
),
seeds AS (
  SELECT vec_id AS cluster, qx AS qc FROM pts WHERE vec_id < {_KM_K}
),
assigned AS (
  SELECT vec_id, cluster, qx, d2 FROM (
    SELECT p.vec_id, s.cluster, p.qx,
           list_sum(list_transform(range(1, len(p.qx) + 1),
             i -> (p.qx[i] - s.qc[i]) * (p.qx[i] - s.qc[i])))::BIGINT AS d2,
           row_number() OVER (PARTITION BY p.vec_id
                              ORDER BY list_sum(list_transform(range(1, len(p.qx) + 1),
                                i -> (p.qx[i] - s.qc[i]) * (p.qx[i] - s.qc[i]))) ASC,
                              s.cluster ASC) AS rn
    FROM pts p CROSS JOIN seeds s
  ) WHERE rn = 1
),
dims AS (
  SELECT a.cluster, r.i AS dim, a.qx[r.i] AS q, a.d2, a.vec_id
  FROM assigned a, UNNEST(range(1, len(a.qx) + 1)) AS r(i)
),
per_dim AS (
  SELECT cluster, dim, SUM(q)::BIGINT AS sq, COUNT(*)::BIGINT AS n
  FROM dims GROUP BY cluster, dim
),
shift AS (
  SELECT p.cluster, SUM(abs(p.sq // p.n - s.qc[p.dim]))::BIGINT AS shift_l1_fp
  FROM per_dim p JOIN seeds s ON s.cluster = p.cluster
  GROUP BY p.cluster
),
stats AS (
  SELECT cluster, COUNT(*)::BIGINT AS n_members, SUM(d2)::BIGINT AS inertia
  FROM assigned GROUP BY cluster
)
SELECT t.cluster, t.n_members, t.inertia, h.shift_l1_fp
FROM stats t JOIN shift h ON h.cluster = t.cluster
"""


@register(
    "kmeans_lloyd_step",
    oracle=_KMEANS_SQL,
    tags=("llmdata", "ann", "kmeans"),
    tables=("embeddings",),
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus — the
    training step behind the IVF coarse quantizer, exposed as a query so
    the per-round convergence metrics are themselves oracle-checked
    (``train_ivf_centroids`` below runs this step to its fixed point and
    ``ann_ivf_trained_topk`` routes against the result).  Returns per-cluster
    (n_members, inertia, L1 centroid shift) — the convergence metrics a
    training loop monitors.

    Coordinates carry a +2^16 offset so every quantized value (and
    therefore every per-dimension sum) is non-negative: Spark's ``div``
    truncates toward zero while DuckDB's ``//`` floors, and they only
    agree on non-negative operands.  Distances and centroid shifts are
    differences, so the common offset cancels exactly.

    Float k-means is nondeterministic at cluster scale: the centroid
    mean depends on float summation order, which depends on partial-agg
    arrival order.  Here every coordinate is quantized to 1/2^16 by
    ``floor(x * 65536)`` (float32→double is exact and the scale is a
    power of two, so the quantization itself is exact in both engines);
    distances and centroid sums are then BIGINT arithmetic — commutative
    and retry-stable, so a speculative re-execution can never move a
    centroid.  This is also the SQ8 insight (``ann_sq8_topk``) applied
    to training rather than search.

    Scale shape: seeds broadcast (k rows) onto the corpus scan;
    assignment is map-side (k distance folds per row + a per-vector
    top-1 window keyed on vec_id); the update is a (cluster, dim)
    partial aggregate — dims explode map-side and combine before the
    one real exchange.  No collect_list of vectors anywhere: the
    centroid update streams through sums, so a billion-vector cluster
    costs the same memory as an empty one.
    """
    e = spark.table("embeddings")
    pts = e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {_KM_Q}) as bigint) + {_KM_Q})"
        ).alias("qx"),
    )
    seeds = F.broadcast(
        pts.where(F.col("vec_id") < _KM_K).select(
            F.col("vec_id").alias("cluster"), F.col("qx").alias("qc")
        )
    )
    # Map-side assignment (r14 optimization, guide §2.4): the old shape
    # crossJoined every point against the k seed ROWS and ranked with a
    # row_number() window partitioned by vec_id — a k-fold blowup of the
    # corpus (each copy carrying the 64-dim array) pushed through a full
    # exchange, for what is a per-row argmin.  Collapsing the seeds to a
    # single array-of-structs row and folding with the shared _TR_ARGMIN
    # makes assignment zero-shuffle: the only exchange left in the plan
    # is the (cluster, dim) centroid update, as the docstring promises.
    # Tie-break is identical (d2 asc, cluster asc — lexicographic struct
    # min == the window's row_number order).
    seed_arr = seeds.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cluster").alias("cl"), F.col("qc")))
        ).alias("cents")
    )
    best = F.expr(_TR_ARGMIN)
    assigned = (
        pts.crossJoin(F.broadcast(seed_arr))
        .select(
            "vec_id",
            best["cl"].alias("cluster"),
            "qx",
            best["d2"].alias("d2"),
        )
    )
    dims = assigned.select(
        "cluster",
        "d2",
        F.posexplode("qx").alias("dim0", "q"),
    ).select("cluster", "d2", (F.col("dim0") + 1).alias("dim"), "q")
    per_dim = dims.groupBy("cluster", "dim").agg(
        F.sum("q").cast("bigint").alias("sq"), F.count("*").cast("bigint").alias("n")
    )
    seed_dims = seeds.select(
        "cluster", F.posexplode("qc").alias("dim0", "qc_d")
    ).select("cluster", (F.col("dim0") + 1).alias("dim"), "qc_d")
    shift = (
        per_dim.join(F.broadcast(seed_dims), ["cluster", "dim"])
        .groupBy("cluster")
        .agg(
            F.sum(F.abs(F.expr("sq div n") - F.col("qc_d")))
            .cast("bigint")
            .alias("shift_l1_fp")
        )
    )
    stats = assigned.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("d2").cast("bigint").alias("inertia"),
    )
    return stats.join(shift, "cluster").select(
        "cluster", "n_members", "inertia", "shift_l1_fp"
    )


# --------------------------------------------------------------------------
# Brute-force cosine top-k helper (ground truth for the recall audit)
# --------------------------------------------------------------------------
def ann_cosine_topk_at(spark: SparkSession, query_filter) -> DataFrame:
    """Brute-force cosine top-3 for an arbitrary query subset — the
    ann_cosine_topk plan parameterized by its query predicate."""
    def norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(F.col(c), lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    e = spark.table("embeddings").withColumn("nrm", norm("embedding"))
    q = F.broadcast(
        e.where(query_filter).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("qe"), F.col("embedding"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = e.join(q, F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot / (F.col("qnrm") * F.col("nrm"))).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("q_id", "neighbor_id", "cosine")
    )


# --------------------------------------------------------------------------
# Multi-probe IVF: search the top-P cells instead of 1 (recall knob)
# --------------------------------------------------------------------------
_MP_PROBES = 2

_IVF_MP_SQL = f"""
WITH ordered AS (
  SELECT label, list(embedding ORDER BY vec_id) AS vs FROM embeddings GROUP BY label
),
centroids AS (
  SELECT label,
         list_transform(range(1, len(vs[1]) + 1),
           j -> list_sum(list_transform(vs, v -> v[j]::DOUBLE)) / len(vs)::DOUBLE) AS c
  FROM ordered
),
q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id % 100 = 7),
routed AS (
  SELECT q_id, qe, label AS probe_label FROM (
    SELECT q.q_id, q.qe, c.label,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             {_DOT.format(a='q.qe', b='c.c')}
               / ({_NORM.format(a='q.qe')} * {_NORM.format(a='c.c')}) DESC,
             c.label ASC) AS rc
    FROM q CROSS JOIN centroids c
  ) WHERE rc <= {_MP_PROBES}
),
scored AS (
  SELECT r.q_id, e.vec_id AS neighbor_id,
         {_DOT.format(a='r.qe', b='e.embedding')}
           / ({_NORM.format(a='r.qe')} * {_NORM.format(a='e.embedding')}) AS cosine
  FROM routed r JOIN embeddings e
    ON e.label = r.probe_label AND e.vec_id <> r.q_id
)
SELECT q_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 3
"""


@register(
    "ann_ivf_multiprobe_topk",
    oracle=_IVF_MP_SQL,
    tags=("llmdata", "ann", "ivf"),
    tables=("embeddings",),
)
def ann_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF: route each query to its top-{P} centroid cells
    and take the exact top-k over their union — the standard recall
    knob when the audit (``ann_recall_audit``) says 1-probe isn't
    enough: scan cost scales linearly in probes (P·N/cells rows per
    query) while recall climbs steeply, because most misses live in
    the runner-up cell — measured on this fixture, 2 probes lift mean
    hits@3 from 0.2 to 1.2 (6x) for 2x scanned rows.

    Scale shape identical to 1-probe IVF: centroids broadcast, routing
    is per-query map-side, and the cell search stays an equi-join on
    the cell label — the probe count only widens the routed build side
    (P rows per query), never the corpus scan.
    """
    e = spark.table("embeddings")
    ordered = e.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "embedding"))).alias("vs")
    )
    centroid = F.expr(
        "transform(sequence(1, size(element_at(vs, 1).embedding)), "
        "j -> aggregate(vs, cast(0.0 as double), "
        "(acc, v) -> acc + cast(element_at(v.embedding, j) as double)) "
        "/ cast(size(vs) as double))"
    )
    centroids = F.broadcast(ordered.select("label", centroid.alias("c")))
    q = F.broadcast(
        e.where(F.col("vec_id") % 100 == 7).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
        )
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def norm(a):
        return F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    route_cos = dot(F.col("qe"), F.col("c")) / (norm(F.col("qe")) * norm(F.col("c")))
    wr = Window.partitionBy("q_id").orderBy(
        F.col("route_cos").desc(), F.col("label").asc()
    )
    routed = (
        q.crossJoin(centroids)
        .withColumn("route_cos", route_cos)
        .withColumn("rc", F.row_number().over(wr))
        .where(F.col("rc") <= _MP_PROBES)
        .select("q_id", "qe", F.col("label").alias("probe_label"))
    )
    cos = dot(F.col("qe"), F.col("embedding")) / (
        norm(F.col("qe")) * norm(F.col("embedding"))
    )
    scored = (
        e.join(
            F.broadcast(routed),
            (e.label == routed.probe_label) & (e.vec_id != routed.q_id),
        )
        .select("q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    )
    wk = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .where(F.col("rnk") <= 3)
        .select("q_id", "neighbor_id", "cosine", F.col("rnk").cast("bigint").alias("rnk"))
    )

# --------------------------------------------------------------------------
# Trained IVF: fixed-point k-means quantizer feeding multi-probe routing
# --------------------------------------------------------------------------
# ``ann_ivf_topk``/``ann_ivf_multiprobe_topk`` route against the fixture's
# arbitrary ``label`` cells, and ``ann_recall_audit`` (the honest audit)
# measured the consequence: low recall.  This is the missing training
# half: iterate the integer-exact Lloyd step (``kmeans_lloyd_step``) to
# its fixed point, then route against the TRAINED centroids.  On this
# corpus (isotropic vectors — the hardest case for IVF) 6 probes over 10
# trained cells lift audited recall@3 to >= 0.93 at both oracle scales.
#
# Everything that decides an output row is 64-bit integer arithmetic:
# coordinates quantize to floor(x * 2^16) + 2^16 (non-negative, so Spark
# ``div`` and DuckDB ``//`` agree), assignment and routing use integer
# L2 distances (the common offset cancels in differences), and centroid
# updates are ``sum div n`` of bigints.  Integer sums here stay far
# below 2^53, so both engines are bit-exact regardless of fold order —
# the oracle replays the WHOLE training loop as _TR_T unrolled SQL
# iterations (extra iterations past the fixed point are no-ops because
# unchanged assignments reproduce unchanged centroids).
_TR_K = 10       # coarse-quantizer cells
_TR_T = 15       # unrolled oracle iterations; Spark stops at fixed point
_TR_P = 6        # probes (cells scanned per query)


def _tr_iter_ctes() -> str:
    """CTE chain c0..c{_TR_T}: the integer Lloyd loop, unrolled."""
    parts = [
        f"""pts AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> floor(x::DOUBLE * {_KM_Q})::BIGINT + {_KM_Q}) AS qx
  FROM embeddings
),
c0 AS MATERIALIZED (SELECT vec_id AS cluster, qx AS qc FROM pts WHERE vec_id < {_TR_K})"""
    ]
    for t in range(1, _TR_T + 1):
        parts.append(
            f"""a{t} AS MATERIALIZED (
  SELECT vec_id, cluster, qx FROM (
    SELECT vec_id, cluster, qx,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cluster ASC) AS rn
    FROM (
      SELECT p.vec_id, c.cluster, p.qx,
             list_sum(list_transform(range(1, len(p.qx) + 1),
               i -> (p.qx[i] - c.qc[i]) * (p.qx[i] - c.qc[i])))::BIGINT AS d2
      FROM pts p CROSS JOIN c{t - 1} c
    )
  ) WHERE rn = 1
),
g{t} AS MATERIALIZED (
  SELECT cluster, list(qx) AS vs, COUNT(*)::BIGINT AS n FROM a{t} GROUP BY cluster
),
c{t} AS MATERIALIZED (
  SELECT p.cluster,
         CASE WHEN g.n IS NULL THEN p.qc
              ELSE list_transform(range(1, len(p.qc) + 1),
                     j -> list_sum(list_transform(g.vs, v -> v[j])) // g.n)
         END AS qc
  FROM c{t - 1} p LEFT JOIN g{t} g ON g.cluster = p.cluster
)"""
        )
    return ",\n".join(parts)


# Final cell assignment against the trained centroids — shared by the
# trained-IVF oracles here AND the hybrid-RRF oracle (llmdata.py),
# which replays the same probe relationally.
_TR_AF_CTE = f"""af AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cluster ASC) AS rn
    FROM (
      SELECT p.vec_id, c.cluster,
             list_sum(list_transform(range(1, len(p.qx) + 1),
               i -> (p.qx[i] - c.qc[i]) * (p.qx[i] - c.qc[i])))::BIGINT AS d2
      FROM pts p CROSS JOIN c{_TR_T} c
    )
  ) WHERE rn = 1
)"""

_TR_IVF_BODY = _TR_AF_CTE + f""",
q AS (
  SELECT e.vec_id AS q_id, e.embedding AS qe, p.qx AS qqx
  FROM embeddings e JOIN pts p ON p.vec_id = e.vec_id
  WHERE e.vec_id % 100 = 7
),
routed AS (
  SELECT q_id, qe, cluster AS probe_cell FROM (
    SELECT q_id, qe, cluster,
           row_number() OVER (PARTITION BY q_id ORDER BY d2 ASC, cluster ASC) AS rc
    FROM (
      SELECT q.q_id, q.qe, c.cluster,
             list_sum(list_transform(range(1, len(q.qqx) + 1),
               i -> (q.qqx[i] - c.qc[i]) * (q.qqx[i] - c.qc[i])))::BIGINT AS d2
      FROM q CROSS JOIN c{_TR_T} c
    )
  ) WHERE rc <= {_TR_P}
),
trained_ivf AS (
  SELECT q_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY cosine DESC, neighbor_id ASC) AS rnk
    FROM (
      SELECT r.q_id, e.vec_id AS neighbor_id,
             {_DOT.format(a='r.qe', b='e.embedding')}
               / ({_NORM.format(a='r.qe')} * {_NORM.format(a='e.embedding')}) AS cosine
      FROM routed r
      JOIN af ON af.cluster = r.probe_cell
      JOIN embeddings e ON e.vec_id = af.vec_id AND e.vec_id <> r.q_id
    )
  ) WHERE rnk <= 3
)"""

_TR_IVF_SQL = (
    "WITH "
    + _tr_iter_ctes()
    + ","
    + _TR_IVF_BODY
    + "\nSELECT q_id, neighbor_id, cosine, rnk FROM trained_ivf"
)

# Trained centroids per sf_dir — a k x dim driver-side scalar (the same
# bounded-watermark pattern as operators/identity.py's high-water mark).
_TR_CACHE: dict[str, list[list[int]]] = {}

# Session confs scoped to the trainer's Lloyd loop: AQE off, and
# shuffle partitions sized to its (cell, dim) aggregate, whose
# post-shuffle cardinality is k x dim = 640 rows at ANY corpus size
# (partial aggregation reduces map-side), so this is scale-independent —
# the map-side parallelism still follows the input partitioning.
_TR_LOOP_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
}


def _tr_quantized(spark: SparkSession) -> DataFrame:
    return spark.table("embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {_KM_Q}) as bigint) + {_KM_Q})"
        ).alias("qx"),
    )


def _tr_cent_array(cents: list[list[int]]):
    """Centroids as a literal array<struct<cl,qc>> column (broadcast by
    value into every task — the MLlib KMeans center-shipping pattern).

    Built as ONE parsed SQL expression, not k x (dim+2) Column calls:
    the Column route costs a py4j round trip per ``F.lit``/``F.struct``
    — measured 0.44-0.61s of pure DRIVER time per call at k=10, dim=64
    (guide §5: the driver should do almost no data work), which the
    k-means trainer paid every round (~0.5s x 15 rounds, the dominant
    cost of the train phase).  The parsed literal is 2-5ms and
    type-identical: SQL integer literals resolve INT exactly where
    ``F.lit(int)`` did, with the same promotion to BIGINT past 2^31."""
    parts = ",".join(
        "named_struct('cl',%d,'qc',array(%s))"
        % (j, ",".join(str(int(v)) for v in qc))
        for j, qc in enumerate(cents)
    )
    return F.expr(f"array({parts})")


_TR_D2 = (
    "aggregate(zip_with(qx, c.qc, (x, y) -> (x - y) * (x - y)), "
    "cast(0 as bigint), (acc, v) -> acc + v)"
)
# Map-side argmin (d2 asc, cl asc) — row_number() semantics with no
# crossJoin and no window shuffle.  array_min over (d2, cl) structs
# orders lexicographically, so ties on d2 keep the SMALLEST cl, exactly
# like the previous fold's strict < keeping the earliest cell.  The
# r14 optimization: the old CASE-WHEN fold evaluated the 64-element
# distance aggregate TWICE per centroid (once in the comparison, once
# in the THEN branch — Catalyst does not CSE inside lambda bodies);
# transform evaluates it exactly once, halving the dominant compute of
# both the k-means trainer and cell assignment/routing.
# PRECONDITION (audited r14): qx must be a full-width array of non-null
# elements — a length-mismatched or null-element vector makes zip_with
# emit NULLs, the aggregate yields d2 = NULL, and array_min would
# SELECT that struct (NULL sorts first in struct ascending order) where
# the old fold's `NULL < acc.d2` skipped it.  The quantizer transform
# upstream guarantees the contract (verified: every embedding at every
# SF is exactly 64 non-null elements), matching the fixed-width cache
# contract in guardrails.persist_fixed_width; a NULL-filter here would
# tax the hottest expression in the engine to defend an input the
# schema already excludes.
_TR_ARGMIN = (
    f"array_min(transform(cents, c -> named_struct('d2', {_TR_D2}, 'cl', c.cl)))"
)


def train_ivf_centroids(spark: SparkSession, sf_dir: str) -> list[list[int]]:
    """Iterate the integer Lloyd step to its fixed point (max _TR_T
    rounds) and return the trained coarse-quantizer centroids.

    Mirrors the reference's quantizer-training notebooks
    (notebooks/vector_search/*, the ANN index build) re-expressed
    Spark-first.  Per round: one corpus scan with a map-side argmin
    against the broadcast centroid literals, one (cell, dim) partial
    aggregate (explodes map-side, combines before the single exchange:
    k x dim = 640 post-shuffle rows), one bounded collect.  The corpus
    never shuffles and no vector list is ever collected — a
    billion-vector cell costs the same driver memory as an empty one.
    """
    if sf_dir in _TR_CACHE:
        return _TR_CACHE[sf_dir]
    from openalex_walden_spark.operators.checkpoints import session_confs
    from openalex_walden_spark.operators.guardrails import persist_fixed_width

    # r14 optimization — three loop-scoped changes, output-identical
    # (the centroid sequence is exact integer arithmetic; verified
    # bit-equal across all variants):
    # - persist the quantized corpus across the Lloyd rounds (guide §5:
    #   reused AND recomputed every round otherwise — at production
    #   scale that is _TR_T full corpus scans saved; MEMORY_AND_DISK
    #   spills instead of OOMing; unpersisted in the finally, so
    #   nothing outlives the call and each bench run re-pays the scan).
    #   qx is a fixed 64-element bigint array — the fixed-width cache
    #   contract (see guardrails.persist_fixed_width).
    # - AQE off for the loop (same rationale and mechanism as
    #   operators/pagerank.py: per-round cardinalities are known and
    #   constant, and AQE materializes every exchange as its own job —
    #   measured 31 -> 16 jobs over the 15-round fixture).
    # - the per-round aggregate's post-shuffle cardinality is EXACTLY
    #   k x dim = 640 rows at ANY corpus size (map-side partials do the
    #   reduction), so a small fixed partition count for the loop is
    #   scale-independent.  Measured together: 10.6s -> 4.7s on the
    #   sf0.1 train fixture (the _tr_cent_array literal fix is the
    #   other half).
    pts = persist_fixed_width(_tr_quantized(spark))
    try:
        with session_confs(spark, _TR_LOOP_CONFS):
            cents = [
                [int(v) for v in r["qx"]]
                for r in sorted(
                    pts.where(F.col("vec_id") < _TR_K).collect(),
                    key=lambda r: r["vec_id"],
                )
            ]
            for _ in range(_TR_T):
                assigned = pts.withColumn(
                    "cents", _tr_cent_array(cents)
                ).select(F.expr(_TR_ARGMIN)["cl"].alias("cell"), "qx")
                sums = (
                    assigned.select(
                        "cell", F.posexplode("qx").alias("dim0", "q")
                    )
                    .groupBy("cell", "dim0")
                    .agg(F.sum("q").alias("sq"), F.count("*").alias("n"))
                    .collect()
                )
                new = [list(c) for c in cents]
                for r in sums:
                    new[r["cell"]][r["dim0"]] = int(r["sq"]) // int(r["n"])
                if new == cents:
                    break
                cents = new
    finally:
        pts.unpersist()
    _TR_CACHE[sf_dir] = cents
    return cents


@register(
    "ann_ivf_trained_topk",
    oracle=_TR_IVF_SQL,
    tags=("llmdata", "ann", "ivf", "kmeans", "iterative"),
    tables=("embeddings",),
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF over TRAINED cells — the quantizer fit by
    ``train_ivf_centroids`` (fixed-point integer k-means) instead of the
    fixture's arbitrary labels.  This closes the loop the audit exposed:
    label-routing scored ~0.07 recall@3 at 1 probe; trained routing at
    {P} probes audits >= 0.93 on both oracle scales.

    Scale shape: centroids are a k x dim literal folded map-side (cell
    assignment and query routing are both zero-shuffle scans); the cell
    search is an equi-join of the corpus against the broadcast
    (query x probe) build side; top-k is a bounded per-query window.
    Routing and assignment are pure bigint L2 — bit-exact across
    engines, retries, and partitionings.
    """
    cents = train_ivf_centroids(spark, sf_dir)
    e = spark.table("embeddings").withColumn(
        "qx",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {_KM_Q}) as bigint) + {_KM_Q})"
        ),
    )
    assigned = e.withColumn("cents", _tr_cent_array(cents)).select(
        "vec_id", "embedding", F.expr(_TR_ARGMIN)["cl"].alias("cell")
    )
    # top-P probe cells per query: sort the (d2, cl) structs map-side
    probe_arr = F.expr(
        "slice(array_sort(transform(cents, c -> "
        f"named_struct('d2', {_TR_D2}, 'cl', c.cl))), 1, {_TR_P})"
    )
    probes = F.broadcast(
        e.where(F.col("vec_id") % 100 == 7)
        .withColumn("cents", _tr_cent_array(cents))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qe"),
            F.explode(probe_arr).alias("pc"),
        )
        .select("q_id", "qe", F.col("pc.cl").alias("probe_cell"))
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def norm(a):
        return F.sqrt(
            F.aggregate(
                F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    cos = dot(F.col("qe"), F.col("embedding")) / (
        norm(F.col("qe")) * norm(F.col("embedding"))
    )
    scored = assigned.join(
        probes,
        (F.col("cell") == probes.probe_cell) & (F.col("vec_id") != probes.q_id),
    ).select("q_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    wk = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .where(F.col("rnk") <= 3)
        .select(
            "q_id", "neighbor_id", "cosine", F.col("rnk").cast("bigint").alias("rnk")
        )
    )

# --------------------------------------------------------------------------
# ANN recall audit: trained multi-probe IVF vs exact brute force
# --------------------------------------------------------------------------
_RECALL_SQL = (
    "WITH "
    + _tr_iter_ctes()
    + ","
    + _TR_IVF_BODY
    + f""",
brute AS (
  SELECT q_id, neighbor_id FROM (
    SELECT q.q_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             {_DOT.format(a='q.qe', b='e.embedding')}
               / ({_NORM.format(a='q.qe')} * {_NORM.format(a='e.embedding')}) DESC,
             e.vec_id ASC) AS rnk
    FROM q JOIN embeddings e ON e.vec_id <> q.q_id
  ) WHERE rnk <= 3
)
SELECT b.q_id,
       COUNT(i.neighbor_id)::BIGINT AS n_hits_at_3,
       (COUNT(i.neighbor_id) = 3) AS full_recall
FROM brute b LEFT JOIN trained_ivf i
  ON i.q_id = b.q_id AND i.neighbor_id = b.neighbor_id
GROUP BY b.q_id
"""
)


@register(
    "ann_recall_audit",
    oracle=_RECALL_SQL,
    tags=("llmdata", "ann", "audit"),
    tables=("embeddings",),
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the SHIPPED ANN configuration (trained multi-probe
    IVF, ``ann_ivf_trained_topk``) against exact brute force, per query
    — the evaluation operator an ANN deployment runs before trusting its
    approximate index.  History matters here: this audit originally
    measured the label-routed 1-probe path and duly reported ~0.07
    recall@3 (the label column is an arbitrary partition, not a learned
    quantizer) — that finding is what forced the trainer
    (``train_ivf_centroids``); with trained cells and {_TR_P} probes it
    now audits >= 0.93 at both oracle scales, and
    ``tests/test_llmops_contracts.py`` pins that floor.

    Integer-exact output (hit counts, not float recall ratios): cell
    assignment and routing are pure bigint L2, and the cosine ladders
    use sequential folds + total tie-breaks, so the intersection count
    is deterministic and hash-checkable.

    Scale shape: the brute side is the expensive half (it exists to BE
    the ground truth) but runs on the query SAMPLE only — queries
    broadcast, corpus never shuffles (ann_cosine_topk's plan); the IVF
    side reuses the trained equi-join. The final compare is a tiny
    (queries x k)-row join.
    """
    brute = (
        ann_cosine_topk_at(spark, query_filter=(F.col("vec_id") % 100 == 7))
        .select("q_id", "neighbor_id")
    )
    ivf = ann_ivf_trained_topk(spark, sf_dir).select("q_id", "neighbor_id")
    return (
        brute.alias("b")
        .join(
            ivf.alias("i"),
            (F.col("i.q_id") == F.col("b.q_id"))
            & (F.col("i.neighbor_id") == F.col("b.neighbor_id")),
            "left",
        )
        .groupBy(F.col("b.q_id").alias("q_id"))
        .agg(F.count(F.col("i.neighbor_id")).cast("bigint").alias("n_hits_at_3"))
        .select(
            "q_id",
            "n_hits_at_3",
            (F.col("n_hits_at_3") == 3).alias("full_recall"),
        )
    )


# --------------------------------------------------------------------------
# Cosine-LSH (signed random projections): banded bucket join over sigs
# --------------------------------------------------------------------------
# The embedding-space analogue of the MinHash band join: B=16 signed-
# random-projection bits (Charikar's SimHash family over vectors, not
# text), banded 4x4 so a candidate pair only needs one agreeing band —
# the standard recall/cost dial.  Hyperplane coefficients are +-1 drawn
# deterministically from md5("srp:<plane>:<dim>") at module load and
# shipped as literals to BOTH engines, so there is no RNG state and no
# cross-engine drift; signature bits come from exact integer dots of the
# quantized (floor(x*2^16)) coordinates, so every bit is bit-identical
# under any partitioning or retry.
import hashlib as _hl

_SRP_B = 16      # signature bits
_SRP_BANDS = 4   # bands of 4 bits each
_SRP_TAU_Q = 999_000  # verify threshold: cos_q >= 0.999 * 1e6
_SRP_DIM = 64


def _srp_planes() -> list[list[int]]:
    return [
        [
            1 if int(_hl.md5(f"srp:{b}:{j}".encode()).hexdigest()[:8], 16) % 2 else -1
            for j in range(_SRP_DIM)
        ]
        for b in range(_SRP_B)
    ]


_SRP = _srp_planes()

_SRP_SIG_DUCK = "(" + " + ".join(
    f"(CASE WHEN list_sum(list_transform(range(1, {_SRP_DIM} + 1), "
    f"j -> qd[j] * (CASE j {' '.join(f'WHEN {j + 1} THEN {c}' for j, c in enumerate(plane))} END))) >= 0 "
    f"THEN {1 << b} ELSE 0 END)"
    for b, plane in enumerate(_SRP)
) + ")"

_SRP_SQL = f"""
WITH corpus AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> floor(x::DOUBLE * 65536)::BIGINT) AS qd
  FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(embedding, x -> floor(x::DOUBLE * 65536)::BIGINT)
  FROM embeddings WHERE vec_id % 25 = 0
),
signed AS MATERIALIZED (
  SELECT vec_id, qd,
         list_sum(list_transform(qd, x -> x * x))::BIGINT AS n2,
         {_SRP_SIG_DUCK} AS sig
  FROM corpus
),
banded AS MATERIALIZED (
  SELECT vec_id, qd, n2, r.b AS band, (sig // CAST(pow(16, r.b) AS BIGINT)) % 16 AS bits
  FROM signed, UNNEST(range(0, {_SRP_BANDS})) AS r(b)
),
cand AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb, a.qd AS qa, b.qd AS qb,
         a.n2 AS na, b.n2 AS nb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id
)
SELECT va AS vec_a, vb AS vec_b,
       floor((1000000.0 * list_sum(list_transform(range(1, {_SRP_DIM} + 1),
                d -> (qa[d] * qb[d])::DOUBLE)))
             / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE)))::BIGINT AS cos_q
FROM cand
WHERE floor((1000000.0 * list_sum(list_transform(range(1, {_SRP_DIM} + 1),
               d -> (qa[d] * qb[d])::DOUBLE)))
            / (sqrt(na::DOUBLE) * sqrt(nb::DOUBLE))) >= {_SRP_TAU_Q}
"""


@register(
    "ann_srp_bucket_pairs",
    oracle=_SRP_SQL,
    tags=("llmdata", "ann", "lsh", "dedup"),
    tables=("embeddings",),
)
def ann_srp_bucket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-dup pairs via banded signed-random-projection LSH:
    16 deterministic hyperplane bits per vector, 4 bands of 4 bits,
    candidates only within an agreeing (band, bits) bucket, exact
    quantized-cosine verification on candidates only.  Synthetic exact
    copies (vec_id+100000) guarantee known positives whose signatures
    collide in every band.

    This is the unlabeled-corpus counterpart to
    ``embedding_neardup_pairs`` (which blocks on a pre-existing cell
    id): SRP derives its own buckets from geometry, so it works before
    any clustering exists — the bootstrap dedup pass.

    Scale shape: signatures are a map-side fold over literal planes
    (zero shuffle); the band explode multiplies rows by 4; the only
    join is the (band, bits) equi-join whose fan-out is bounded by
    bucket occupancy — never all-pairs. Same LSH discipline as
    ``dedup_minhash_lsh_pairs``, plan-pinned catalog-wide (no
    cartesians)."""
    e = spark.table("embeddings")
    qd = F.expr("transform(embedding, x -> cast(floor(cast(x as double) * 65536) as bigint))")
    corpus = e.select("vec_id", qd.alias("qd")).unionByName(
        e.where(F.col("vec_id") % 25 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), qd.alias("qd")
        )
    )
    # One parsed literal, not _SRP_B x _SRP_DIM (= 1024) Column calls:
    # each F.lit is a py4j round trip, ~0.5s of pure driver time per
    # query invocation at this size (same fix as _tr_cent_array).
    planes = F.expr(
        "array(%s)"
        % ",".join(
            "array(%s)" % ",".join(str(int(c)) for c in plane)
            for plane in _SRP
        )
    )
    sig = F.aggregate(
        F.expr(
            "zip_with(planes, sequence(0, size(planes) - 1), (p, b) -> "
            "named_struct('bit', CASE WHEN aggregate(zip_with(qd, p, (x, c) -> x * c), "
            "cast(0 as bigint), (acc, v) -> acc + v) >= 0 THEN shiftleft(1, b) ELSE 0 END))"
        ),
        F.lit(0),
        lambda acc, s: acc + s["bit"],
    )
    n2 = F.aggregate(
        F.transform(F.col("qd"), lambda x: x * x),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    signed = corpus.withColumn("planes", planes).select(
        "vec_id", "qd", n2.alias("n2"), sig.alias("sig")
    )
    banded = signed.select(
        "vec_id",
        "qd",
        "n2",
        F.explode(F.expr(f"sequence(0, {_SRP_BANDS - 1})")).alias("band"),
        "sig",
    ).select(
        "vec_id",
        "qd",
        "n2",
        "band",
        F.expr("(sig div cast(pow(16, band) as bigint)) % 16").alias("bits"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.col("a.qd").alias("qa"),
            F.col("b.qd").alias("qb"),
            F.col("a.n2").alias("na"),
            F.col("b.n2").alias("nb"),
        )
        .dropDuplicates(["va", "vb"])
    )
    dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda u, v: (u * v).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos_q = F.floor(
        (F.lit(1000000.0) * dot)
        / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")))
    ).cast("bigint")
    return (
        cand.withColumn("cos_q", cos_q)
        .where(F.col("cos_q") >= _SRP_TAU_Q)
        .select(F.col("va").alias("vec_a"), F.col("vb").alias("vec_b"), "cos_q")
    )


# --------------------------------------------------------------------------
# S6b: authors-snapshot export shape (export_authors.ipynb)
# --------------------------------------------------------------------------
# The reference exports ELEVEN entity shapes; works is covered by
# s6_json_export_shape + sinks/json_export.py.  This is the authors
# shape (notebooks/snapshot/export_authors.ipynb): URL-prefixed ids,
# topics sliced to the elastic-sync cap of 5, the x_concepts array
# repaired in place (URL-prefix the id, rename the misnamed col4 ->
# level) via a HOF transform, every nullable array coalesced to [],
# and an explicit serving field whitelist.  Supplier plays the author
# (the d11 convention); its lineitems are authorship seats and part
# brands its topics.
_S6A_SQL = """
WITH seats AS (
  SELECT l_suppkey, l_orderkey, p_brand,
         year(o_orderdate)::BIGINT AS yr
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN part ON p_partkey = l_partkey
),
topic_counts AS (
  SELECT l_suppkey, p_brand, count(*)::BIGINT AS n
  FROM seats GROUP BY l_suppkey, p_brand
),
topics AS (
  SELECT l_suppkey,
         list_transform(
           list_sort(list(struct_pack(neg_n := -n, brand := p_brand))),
           t -> struct_pack(display_name := t.brand, cnt := -t.neg_n)) AS ts
  FROM topic_counts GROUP BY l_suppkey
),
year_counts AS (
  SELECT l_suppkey, yr, count(DISTINCT l_orderkey)::BIGINT AS n
  FROM seats GROUP BY l_suppkey, yr
),
years AS (
  SELECT l_suppkey,
         list_sort(list(struct_pack(year := yr, works := n))) AS cby
  FROM year_counts GROUP BY l_suppkey
),
totals AS (
  SELECT l_suppkey, count(DISTINCT l_orderkey)::BIGINT AS works_count,
         count(*)::BIGINT AS cited_by_count
  FROM seats GROUP BY l_suppkey
)
SELECT concat('https://openalex.org/A', CAST(s.s_suppkey AS VARCHAR)) AS id,
       s.s_name AS display_name,
       COALESCE(array_to_string(
         CASE WHEN s.s_suppkey % 3 = 0 THEN [upper(s.s_name)]
              ELSE []::VARCHAR[] END, '|'), '')
         AS display_name_alternatives,
       COALESCE(t.works_count, 0)::BIGINT AS works_count,
       COALESCE(t.cited_by_count, 0)::BIGINT AS cited_by_count,
       COALESCE(array_to_string(list_transform(
         COALESCE(list_slice(tp.ts, 1, 5),
                  []::STRUCT(display_name VARCHAR, cnt BIGINT)[]),
         e -> concat(e.display_name, ':', CAST(e.cnt AS VARCHAR))), '|'), '')
         AS topics,
       COALESCE(array_to_string(list_transform(
         list_transform(
           [struct_pack(id := s.s_nationkey::BIGINT, display_name := n.n_name,
                        col4 := (s.s_nationkey % 3)::BIGINT)],
           c -> struct_pack(
             id := concat('https://openalex.org/C', CAST(c.id AS VARCHAR)),
             display_name := c.display_name,
             level := c.col4)),
         e -> concat(e.id, '@', e.display_name, '@', CAST(e.level AS VARCHAR))),
         '|'), '') AS x_concepts,
       COALESCE(array_to_string(list_transform(
         COALESCE(y.cby, []::STRUCT(year BIGINT, works BIGINT)[]),
         e -> concat(CAST(e.year AS VARCHAR), ':', CAST(e.works AS VARCHAR))),
         '|'), '') AS counts_by_year,
       concat('https://api.openalex.org/works?filter=author.id:A',
              CAST(s.s_suppkey AS VARCHAR)) AS works_api_url,
       strftime(DATE '2024-01-01' + INTERVAL ((s.s_suppkey % 400)::INT) DAY,
                '%Y-%m-%d') AS updated_date
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
LEFT JOIN totals t ON t.l_suppkey = s.s_suppkey
LEFT JOIN topics tp ON tp.l_suppkey = s.s_suppkey
LEFT JOIN years y ON y.l_suppkey = s.s_suppkey
"""


@register(
    "s6_export_authors_shape",
    oracle=_S6A_SQL,
    tags=("sink", "S6", "export", "authors"),
    tables=("supplier", "lineitem", "orders", "part", "nation"),
)
def s6_export_authors_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The authors-snapshot export transform (see block comment).

    Scale shape: seats aggregate once per (author, topic) and once per
    (author, year) — both partial-aggregable — then three LEFT joins
    back to the author dimension on the author key (one shuffle key
    throughout, AQE-coalesced); nation broadcasts; the slice / HOF
    repair / coalesce layer is pure map-side column work."""
    li, o, p = spark.table("lineitem"), spark.table("orders"), spark.table("part")
    s, n = spark.table("supplier"), spark.table("nation")
    seats = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .select(
            "l_suppkey", "l_orderkey", "p_brand",
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
    )
    topics = (
        seats.groupBy("l_suppkey", "p_brand")
        .agg(F.count("*").alias("n"))
        .groupBy("l_suppkey")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("n")).alias("neg_n"), F.col("p_brand").alias("brand"))
                    )
                ),
                lambda t: F.struct(
                    t["brand"].alias("display_name"), (-t["neg_n"]).alias("cnt")
                ),
            ).alias("ts")
        )
    )
    years = (
        seats.groupBy("l_suppkey", "yr")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .groupBy("l_suppkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("yr").alias("year"), F.col("n").alias("works")))
            ).alias("cby")
        )
    )
    totals = seats.groupBy("l_suppkey").agg(
        F.countDistinct("l_orderkey").alias("works_count"),
        F.count("*").alias("cited_by_count"),
    )
    raw_concepts = F.array(
        F.struct(
            F.col("s_nationkey").cast("bigint").alias("id"),
            F.col("n_name").alias("display_name"),
            (F.col("s_nationkey") % 3).cast("bigint").alias("col4"),
        )
    )
    return (
        s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(totals, totals.l_suppkey == s.s_suppkey, "left").drop("l_suppkey")
        .join(topics, topics.l_suppkey == s.s_suppkey, "left").drop("l_suppkey")
        .join(years, years.l_suppkey == s.s_suppkey, "left").drop("l_suppkey")
        .select(
            F.concat(F.lit("https://openalex.org/A"), F.col("s_suppkey").cast("string")).alias("id"),
            F.col("s_name").alias("display_name"),
            # Arrays are serialized to canonical '|'-joined strings at
            # the comparison surface (the oracle harness compares
            # scalars); the slice / HOF repair / coalesce transforms
            # all run on the ARRAYS first, exactly as the export does.
            F.array_join(
                F.when(F.col("s_suppkey") % 3 == 0, F.array(F.upper("s_name")))
                .otherwise(F.array().cast("array<string>")),
                "|",
            ).alias("display_name_alternatives"),
            F.coalesce("works_count", F.lit(0)).cast("bigint").alias("works_count"),
            F.coalesce("cited_by_count", F.lit(0)).cast("bigint").alias("cited_by_count"),
            F.array_join(
                F.transform(
                    F.coalesce(
                        F.slice("ts", 1, 5),
                        F.array().cast("array<struct<display_name:string,cnt:bigint>>"),
                    ),
                    lambda e: F.concat(
                        e["display_name"], F.lit(":"), e["cnt"].cast("string")
                    ),
                ),
                "|",
            ).alias("topics"),
            F.array_join(
                F.transform(
                    F.transform(
                        raw_concepts,
                        lambda c: F.struct(
                            F.concat(
                                F.lit("https://openalex.org/C"), c["id"].cast("string")
                            ).alias("id"),
                            c["display_name"].alias("display_name"),
                            c["col4"].alias("level"),
                        ),
                    ),
                    lambda e: F.concat(
                        e["id"], F.lit("@"), e["display_name"], F.lit("@"),
                        e["level"].cast("string"),
                    ),
                ),
                "|",
            ).alias("x_concepts"),
            F.array_join(
                F.transform(
                    F.coalesce(
                        "cby", F.array().cast("array<struct<year:bigint,works:bigint>>")
                    ),
                    lambda e: F.concat(
                        e["year"].cast("string"), F.lit(":"), e["works"].cast("string")
                    ),
                ),
                "|",
            ).alias("counts_by_year"),
            F.concat(
                F.lit("https://api.openalex.org/works?filter=author.id:A"),
                F.col("s_suppkey").cast("string"),
            ).alias("works_api_url"),
            F.date_format(
                F.expr("date_add(date'2024-01-01', cast(s_suppkey % 400 as int))"),
                "yyyy-MM-dd",
            ).alias("updated_date"),
        )
    )


# --------------------------------------------------------------------------
# S6c: snapshot export salting ladder (_utils.py _apply_salting)
# --------------------------------------------------------------------------
# The reference's snapshot export partitions by updated_date; one date
# can hold 100M+ records, so the salt modulus SCALES with the date's
# record count (ladder up to %1400 at 100M+).  The battery runs the
# same ladder machinery at fixture-scale thresholds so every tier
# fires at sf0.001 AND sf0.01: a 60% hot date (-> %10), a 30% date
# (-> %3), and a scattered tail (-> unsalted).  Hash is the
# engine-portable stable_hash64 (md5-derived), never Murmur3 — file
# assignment must replay identically in any engine.
from openalex_walden_spark.functions.hashing import (  # noqa: E402
    stable_hash64_duckdb,
)

_SALT_DATE_SPARK = """date_add(DATE '2024-01-01', CAST(
  CASE WHEN o_orderkey % 10 < 6 THEN 0
       WHEN o_orderkey % 10 < 9 THEN 1
       ELSE 2 + CAST(o_orderkey % 3 AS INT) END AS INT))"""

_SALT_DATE_DUCK = """(DATE '2024-01-01' + INTERVAL (
  CASE WHEN o_orderkey % 10 < 6 THEN 0
       WHEN o_orderkey % 10 < 9 THEN 1
       ELSE 2 + CAST(o_orderkey % 3 AS INT) END) DAY)"""

_SALT_TEST_LADDER = ((600, 10), (250, 3), (120, 2))

_S6SALT_H = stable_hash64_duckdb("CAST(o_orderkey AS VARCHAR)")

_S6SALT_SQL = f"""
WITH rows_ AS (
  SELECT o_orderkey, {_SALT_DATE_DUCK} AS partition_date FROM orders
),
counts AS (
  SELECT partition_date, count(*)::BIGINT AS date_count
  FROM rows_ GROUP BY partition_date
),
salted AS (
  SELECT r.o_orderkey, r.partition_date, c.date_count,
         CASE WHEN c.date_count > 600 THEN {_S6SALT_H} % 10
              WHEN c.date_count > 250 THEN {_S6SALT_H} % 3
              WHEN c.date_count > 120 THEN {_S6SALT_H} % 2
              ELSE 0 END AS salt
  FROM rows_ r JOIN counts c USING (partition_date)
)
SELECT strftime(partition_date, '%Y-%m-%d') AS partition_day,
       max(date_count) AS date_count,
       count(DISTINCT salt)::BIGINT AS n_salts,
       min(salt)::BIGINT AS min_salt,
       max(salt)::BIGINT AS max_salt
FROM salted
GROUP BY partition_date
ORDER BY partition_day
"""


@register(
    "s6_export_salt_ladder",
    oracle=_S6SALT_SQL,
    tags=("sink", "S6", "export", "salting"),
    tables=("orders",),
)
def s6_export_salt_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-scaled export salting ladder (see block comment).

    Scale shape: one tiny groupBy for the date counts (rows = distinct
    dates), broadcast back onto the entity frame, then a pure map-side
    salt projection — the 500M-row frame never shuffles; the write's
    repartition key becomes (date, salt), which is exactly the
    reference's balanced-file-size contract."""
    from openalex_walden_spark.sinks.json_export import apply_salting

    rows = spark.table("orders").selectExpr(
        "o_orderkey AS id", f"{_SALT_DATE_SPARK} AS partition_date"
    )
    salted = apply_salting(rows, ladder=_SALT_TEST_LADDER)
    counts = rows.groupBy("partition_date").agg(
        F.count(F.lit(1)).alias("date_count")
    )
    return (
        salted.join(F.broadcast(counts), "partition_date")
        .groupBy("partition_date")
        .agg(
            F.max("date_count").alias("date_count"),
            F.countDistinct("salt").alias("n_salts"),
            F.min("salt").alias("min_salt"),
            F.max("salt").alias("max_salt"),
        )
        .select(
            F.date_format("partition_date", "yyyy-MM-dd").alias(
                "partition_day"
            ),
            "date_count", "n_salts", "min_salt", "max_salt",
        )
        .orderBy("partition_day")
    )


# --------------------------------------------------------------------------
# S6d/S6e: funders + sources snapshot export shapes
# --------------------------------------------------------------------------
# The remaining thin-wrapper entity exports (export_funders.ipynb,
# export_sources.ipynb): URL-prefix the numeric id with the entity
# letter, coalesce every nullable array to [], attach counts_by_year
# and the works API url, and whitelist the serving fields.  Customer
# plays the funder (its orders are funded works); part plays the
# source (its lineitems are hosted works).  Arrays serialize to
# canonical '|'-joined strings at the comparison surface, as in the
# authors shape.

_S6F_SQL = """
WITH year_counts AS (
  SELECT o_custkey, year(o_orderdate)::BIGINT AS yr, count(*)::BIGINT AS n
  FROM orders GROUP BY o_custkey, yr
),
years AS (
  SELECT o_custkey,
         list_sort(list(struct_pack(year := yr, works := n))) AS cby,
         sum(n)::BIGINT AS works_count
  FROM year_counts GROUP BY o_custkey
)
SELECT concat('https://openalex.org/F', CAST(c.c_custkey AS VARCHAR)) AS id,
       c.c_name AS display_name,
       COALESCE(array_to_string(
         CASE WHEN c.c_custkey % 4 = 0 THEN [upper(c.c_name), c.c_mktsegment]
              ELSE []::VARCHAR[] END, '|'), '') AS alternate_titles,
       n.n_name AS country_code,
       COALESCE(array_to_string(list_transform(
         CASE WHEN c.c_acctbal > 0
              THEN [struct_pack(role := 'funder', works := y.works_count),
                    struct_pack(role := 'institution',
                                works := (c.c_custkey % 7)::BIGINT)]
              ELSE [struct_pack(role := 'funder', works := y.works_count)]
         END,
         r -> concat(r.role, ':', CAST(COALESCE(r.works, 0) AS VARCHAR))),
         '|'), '') AS roles,
       COALESCE(y.works_count, 0)::BIGINT AS grants_count,
       COALESCE(array_to_string(list_transform(
         COALESCE(y.cby, []::STRUCT(year BIGINT, works BIGINT)[]),
         e -> concat(CAST(e.year AS VARCHAR), ':', CAST(e.works AS VARCHAR))),
         '|'), '') AS counts_by_year,
       concat('https://api.openalex.org/works?filter=grants.funder:F',
              CAST(c.c_custkey AS VARCHAR)) AS works_api_url,
       strftime(DATE '2024-01-01' + INTERVAL ((c.c_custkey % 365)::INT) DAY,
                '%Y-%m-%d') AS updated_date
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
LEFT JOIN years y ON y.o_custkey = c.c_custkey
"""


@register(
    "s6_export_funders_shape",
    oracle=_S6F_SQL,
    tags=("sink", "S6", "export", "funders"),
    tables=("customer", "orders", "nation"),
)
def s6_export_funders_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funders-snapshot export shape (export_funders.ipynb): F-prefixed
    URL ids, alternate_titles/roles/counts_by_year coalesced to [],
    the conditional two-role array, and the works API url.  One
    partial-aggregable rollup on the funder key, nation broadcasts,
    everything else map-side."""
    c = spark.table("customer")
    n = spark.table("nation")
    years = (
        spark.table("orders")
        .groupBy("o_custkey", F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("o_custkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("yr").alias("year"), F.col("n").alias("works"))
                )
            ).alias("cby"),
            F.sum("n").alias("works_count"),
        )
    )
    role = lambda name, works: F.struct(  # noqa: E731
        F.lit(name).alias("role"), works.cast("bigint").alias("works")
    )
    return (
        c.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(years, years.o_custkey == c.c_custkey, "left")
        .select(
            F.concat(F.lit("https://openalex.org/F"),
                     F.col("c_custkey").cast("string")).alias("id"),
            F.col("c_name").alias("display_name"),
            F.array_join(
                F.when(
                    F.col("c_custkey") % 4 == 0,
                    F.array(F.upper("c_name"), F.col("c_mktsegment")),
                ).otherwise(F.array().cast("array<string>")),
                "|",
            ).alias("alternate_titles"),
            F.col("n_name").alias("country_code"),
            F.array_join(
                F.transform(
                    F.when(
                        F.col("c_acctbal") > 0,
                        F.array(
                            role("funder", F.col("works_count")),
                            role("institution", F.col("c_custkey") % 7),
                        ),
                    ).otherwise(F.array(role("funder", F.col("works_count")))),
                    lambda r: F.concat(
                        r["role"], F.lit(":"),
                        F.coalesce(r["works"], F.lit(0)).cast("string"),
                    ),
                ),
                "|",
            ).alias("roles"),
            F.coalesce("works_count", F.lit(0)).cast("bigint")
            .alias("grants_count"),
            F.array_join(
                F.transform(
                    F.coalesce(
                        "cby",
                        F.array().cast("array<struct<year:bigint,works:bigint>>"),
                    ),
                    lambda e: F.concat(
                        e["year"].cast("string"), F.lit(":"),
                        e["works"].cast("string"),
                    ),
                ),
                "|",
            ).alias("counts_by_year"),
            F.concat(
                F.lit("https://api.openalex.org/works?filter=grants.funder:F"),
                F.col("c_custkey").cast("string"),
            ).alias("works_api_url"),
            F.date_format(
                F.date_add(F.lit("2024-01-01").cast("date"),
                           (F.col("c_custkey") % 365).cast("int")),
                "yyyy-MM-dd",
            ).alias("updated_date"),
        )
    )


_S6S_SQL = """
WITH hosted AS (
  SELECT l_partkey, year(o_orderdate)::BIGINT AS yr,
         count(*)::BIGINT AS n
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  GROUP BY l_partkey, yr
),
years AS (
  SELECT l_partkey,
         list_sort(list(struct_pack(year := yr, works := n))) AS cby,
         sum(n)::BIGINT AS works_count
  FROM hosted GROUP BY l_partkey
)
SELECT concat('https://openalex.org/S', CAST(p.p_partkey AS VARCHAR)) AS id,
       p.p_name AS display_name,
       COALESCE(array_to_string(
         CASE WHEN p.p_partkey % 5 = 0
              THEN [concat(lpad(CAST(p.p_partkey % 10000 AS VARCHAR), 4, '0'),
                           '-', lpad(CAST(p.p_partkey % 9973 AS VARCHAR), 4, '0'))]
              ELSE []::VARCHAR[] END, '|'), '') AS issn,
       (p.p_partkey % 3 = 0) AS is_oa,
       p.p_type AS host_organization_name,
       COALESCE(array_to_string(
         CASE WHEN p.p_partkey % 2 = 0 THEN [p.p_type, p.p_brand]
              ELSE [p.p_type] END, '|'), '') AS host_organization_lineage,
       COALESCE(array_to_string(list_transform(
         CASE WHEN p.p_retailprice > 1500
              THEN [struct_pack(price := CAST(p.p_retailprice AS BIGINT),
                                currency := 'USD')]
              ELSE []::STRUCT(price BIGINT, currency VARCHAR)[] END,
         a -> concat(CAST(a.price AS VARCHAR), a.currency)), '|'), '')
         AS apc_prices,
       COALESCE(y.works_count, 0)::BIGINT AS works_count,
       COALESCE(array_to_string(list_transform(
         COALESCE(y.cby, []::STRUCT(year BIGINT, works BIGINT)[]),
         e -> concat(CAST(e.year AS VARCHAR), ':', CAST(e.works AS VARCHAR))),
         '|'), '') AS counts_by_year,
       concat('https://api.openalex.org/works?filter=primary_location.source.id:S',
              CAST(p.p_partkey AS VARCHAR)) AS works_api_url,
       strftime(DATE '2024-01-01' + INTERVAL ((p.p_partkey % 365)::INT) DAY,
                '%Y-%m-%d') AS updated_date
FROM part p
LEFT JOIN years y ON y.l_partkey = p.p_partkey
"""


@register(
    "s6_export_sources_shape",
    oracle=_S6S_SQL,
    tags=("sink", "S6", "export", "sources"),
    tables=("part", "lineitem", "orders"),
)
def s6_export_sources_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sources-snapshot export shape (export_sources.ipynb): S-prefixed
    URL ids, issn/host_organization_lineage/apc_prices coalesced to [],
    counts_by_year, the works API url.  One partial-aggregable rollup
    on the source key; the shape layer is map-side."""
    p = spark.table("part")
    years = (
        spark.table("lineitem")
        .join(
            spark.table("orders"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_partkey", F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("l_partkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("yr").alias("year"), F.col("n").alias("works"))
                )
            ).alias("cby"),
            F.sum("n").alias("works_count"),
        )
    )
    return (
        p.join(years, years.l_partkey == p.p_partkey, "left")
        .select(
            F.concat(F.lit("https://openalex.org/S"),
                     F.col("p_partkey").cast("string")).alias("id"),
            F.col("p_name").alias("display_name"),
            F.array_join(
                F.when(
                    F.col("p_partkey") % 5 == 0,
                    F.array(
                        F.concat(
                            F.lpad((F.col("p_partkey") % 10000).cast("string"),
                                   4, "0"),
                            F.lit("-"),
                            F.lpad((F.col("p_partkey") % 9973).cast("string"),
                                   4, "0"),
                        )
                    ),
                ).otherwise(F.array().cast("array<string>")),
                "|",
            ).alias("issn"),
            (F.col("p_partkey") % 3 == 0).alias("is_oa"),
            F.col("p_type").alias("host_organization_name"),
            F.array_join(
                F.when(
                    F.col("p_partkey") % 2 == 0,
                    F.array(F.col("p_type"), F.col("p_brand")),
                ).otherwise(F.array(F.col("p_type"))),
                "|",
            ).alias("host_organization_lineage"),
            F.array_join(
                F.transform(
                    F.when(
                        F.col("p_retailprice") > 1500,
                        F.array(
                            F.struct(
                                F.col("p_retailprice").cast("bigint")
                                .alias("price"),
                                F.lit("USD").alias("currency"),
                            )
                        ),
                    ).otherwise(
                        F.array().cast(
                            "array<struct<price:bigint,currency:string>>"
                        )
                    ),
                    lambda a: F.concat(a["price"].cast("string"), a["currency"]),
                ),
                "|",
            ).alias("apc_prices"),
            F.coalesce("works_count", F.lit(0)).cast("bigint")
            .alias("works_count"),
            F.array_join(
                F.transform(
                    F.coalesce(
                        "cby",
                        F.array().cast("array<struct<year:bigint,works:bigint>>"),
                    ),
                    lambda e: F.concat(
                        e["year"].cast("string"), F.lit(":"),
                        e["works"].cast("string"),
                    ),
                ),
                "|",
            ).alias("counts_by_year"),
            F.concat(
                F.lit("https://api.openalex.org/works?filter="
                      "primary_location.source.id:S"),
                F.col("p_partkey").cast("string"),
            ).alias("works_api_url"),
            F.date_format(
                F.date_add(F.lit("2024-01-01").cast("date"),
                           (F.col("p_partkey") % 365).cast("int")),
                "yyyy-MM-dd",
            ).alias("updated_date"),
        )
    )


# --------------------------------------------------------------------------
# S6f: topic-hierarchy export shape (export_topic_hierarchy.ipynb)
# --------------------------------------------------------------------------
# The reference exports the 4-level topic hierarchy (domains ->
# fields -> subfields -> topics) as separate entities sharing one
# transform: per-level URL-prefix style ('T' for topics, path-style
# for the others), null arrays coalesced to [], and per-node sibling
# arrays (the other children of the same parent, self excluded).
# Region -> nation -> supplier plays the 3-level fixture hierarchy;
# siblings are computed with one grouped collect per level and an
# array_remove/sort repair — never a self-join per node.

_S6H_SQL = """
WITH domains AS (
  SELECT concat('https://openalex.org/domains/', CAST(r_regionkey AS VARCHAR)) AS id,
         r_name AS display_name,
         CAST(NULL AS VARCHAR) AS parent_id,
         r_regionkey AS me, CAST(NULL AS BIGINT) AS parent_key
  FROM region
),
fields AS (
  SELECT concat('https://openalex.org/fields/', CAST(n_nationkey AS VARCHAR)) AS id,
         n_name AS display_name,
         concat('https://openalex.org/domains/', CAST(n_regionkey AS VARCHAR)) AS parent_id,
         n_nationkey AS me, n_regionkey AS parent_key
  FROM nation
),
topics AS (
  SELECT concat('https://openalex.org/T', CAST(s_suppkey AS VARCHAR)) AS id,
         s_name AS display_name,
         concat('https://openalex.org/fields/', CAST(s_nationkey AS VARCHAR)) AS parent_id,
         s_suppkey AS me, s_nationkey AS parent_key
  FROM supplier
),
lvl AS (
  SELECT 'domain' AS level, * FROM domains
  UNION ALL SELECT 'field', * FROM fields
  UNION ALL SELECT 'topic', * FROM topics
),
sib AS (
  SELECT level, COALESCE(parent_key, -1) AS pk,
         list_sort(list(display_name)) AS names
  FROM lvl GROUP BY level, pk
)
SELECT l.level, l.id, l.display_name, l.parent_id,
       COALESCE(array_to_string(
         list_filter(s.names, x -> x <> l.display_name), '|'), '')
         AS siblings,
       CASE WHEN l.level = 'topic'
            THEN array_to_string([lower(l.display_name),
                                  CAST(l.me % 7 AS VARCHAR)], '|')
            ELSE '' END AS keywords
FROM lvl l
JOIN sib s ON s.level = l.level AND s.pk = COALESCE(l.parent_key, -1)
ORDER BY l.level, l.id
"""


@register(
    "s6_export_topic_hierarchy_shape",
    oracle=_S6H_SQL,
    tags=("sink", "S6", "export", "hierarchy"),
    tables=("region", "nation", "supplier"),
)
def s6_export_topic_hierarchy_shape(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Topic-hierarchy export shape (see block comment).  Siblings per
    node come from ONE grouped collect per (level, parent) joined back
    on the parent key and repaired map-side with array_remove-style
    filtering — at 100 TB this is a broadcast of the tiny hierarchy
    spine, never a per-node self-join."""
    dom = spark.table("region").selectExpr(
        "'domain' AS level",
        "concat('https://openalex.org/domains/', CAST(r_regionkey AS STRING)) AS id",
        "r_name AS display_name",
        "CAST(NULL AS STRING) AS parent_id",
        "CAST(r_regionkey AS BIGINT) AS me",
        "CAST(NULL AS BIGINT) AS parent_key",
    )
    fld = spark.table("nation").selectExpr(
        "'field' AS level",
        "concat('https://openalex.org/fields/', CAST(n_nationkey AS STRING)) AS id",
        "n_name AS display_name",
        "concat('https://openalex.org/domains/', CAST(n_regionkey AS STRING)) AS parent_id",
        "CAST(n_nationkey AS BIGINT) AS me",
        "CAST(n_regionkey AS BIGINT) AS parent_key",
    )
    top = spark.table("supplier").selectExpr(
        "'topic' AS level",
        "concat('https://openalex.org/T', CAST(s_suppkey AS STRING)) AS id",
        "s_name AS display_name",
        "concat('https://openalex.org/fields/', CAST(s_nationkey AS STRING)) AS parent_id",
        "CAST(s_suppkey AS BIGINT) AS me",
        "CAST(s_nationkey AS BIGINT) AS parent_key",
    )
    lvl = dom.unionByName(fld).unionByName(top).withColumn(
        "pk", F.coalesce("parent_key", F.lit(-1))
    )
    sib = (
        lvl.groupBy("level", "pk")
        .agg(F.array_sort(F.collect_list("display_name")).alias("names"))
    )
    return (
        lvl.join(F.broadcast(sib), ["level", "pk"])
        .select(
            "level", "id", "display_name", "parent_id",
            F.array_join(
                F.filter(
                    "names",
                    lambda x: x != F.col("display_name"),
                ),
                "|",
            ).alias("siblings"),
            F.when(
                F.col("level") == "topic",
                F.array_join(
                    F.array(
                        F.lower("display_name"),
                        (F.col("me") % 7).cast("string"),
                    ),
                    "|",
                ),
            ).otherwise(F.lit("")).alias("keywords"),
        )
        .orderBy("level", "id")
    )


# --------------------------------------------------------------------------
# S6g/S6h/S6i: institutions, publishers, keywords export shapes
# --------------------------------------------------------------------------
# The remaining per-entity snapshot exports are the same thin
# transform with entity-specific prefixes and array columns
# (export_institutions / export_publishers / export_keywords.ipynb):
# I/P-prefixed URL ids (keywords use a slug path), lineage arrays
# (publisher parent chains, institution lineage incl. the ROR-style
# self link), and nullable arrays coalesced to [].  Customer plays
# the institution (geo from its nation/region), part brands play
# publishers (lineage brand -> type root), and p_name tokens play
# keywords (the reference's keywords_api is a token-level rollup).

_S6I_SQL = """
WITH year_counts AS (
  SELECT o_custkey, year(o_orderdate)::BIGINT AS yr, count(*)::BIGINT AS n
  FROM orders GROUP BY o_custkey, yr
),
years AS (
  SELECT o_custkey,
         list_sort(list(struct_pack(year := yr, works := n))) AS cby,
         sum(n)::BIGINT AS works_count
  FROM year_counts GROUP BY o_custkey
)
SELECT concat('https://openalex.org/I', CAST(c.c_custkey AS VARCHAR)) AS id,
       c.c_name AS display_name,
       n.n_name AS country_code,
       concat(n.n_name, '|', r.r_name) AS geo,
       COALESCE(array_to_string(
         [concat('https://openalex.org/I', CAST(c.c_custkey AS VARCHAR))] ||
         CASE WHEN c.c_custkey % 3 = 0
              THEN [concat('https://openalex.org/I',
                           CAST(9000000 + n.n_nationkey AS VARCHAR))]
              ELSE []::VARCHAR[] END, '|'), '') AS lineage,
       COALESCE(array_to_string(
         CASE WHEN c.c_custkey % 6 = 0
              THEN [upper(substr(c.c_name, 1, 3))] ELSE []::VARCHAR[] END,
         '|'), '') AS display_name_acronyms,
       COALESCE(y.works_count, 0)::BIGINT AS works_count,
       COALESCE(array_to_string(list_transform(
         COALESCE(y.cby, []::STRUCT(year BIGINT, works BIGINT)[]),
         e -> concat(CAST(e.year AS VARCHAR), ':', CAST(e.works AS VARCHAR))),
         '|'), '') AS counts_by_year,
       strftime(DATE '2024-01-01' + INTERVAL ((c.c_custkey % 365)::INT) DAY,
                '%Y-%m-%d') AS updated_date
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
LEFT JOIN years y ON y.o_custkey = c.c_custkey
"""


@register(
    "s6_export_institutions_shape",
    oracle=_S6I_SQL,
    tags=("sink", "S6", "export", "institutions"),
    tables=("customer", "orders", "nation", "region"),
)
def s6_export_institutions_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Institutions-snapshot export shape: I-prefixed ids, the lineage
    array always containing the self link plus a conditional parent
    system, geo from the broadcast nation/region dims, acronyms and
    counts_by_year coalesced to []."""
    c = spark.table("customer")
    n, r = spark.table("nation"), spark.table("region")
    years = (
        spark.table("orders")
        .groupBy("o_custkey", F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("o_custkey")
        .agg(
            F.array_sort(F.collect_list(
                F.struct(F.col("yr").alias("year"), F.col("n").alias("works"))
            )).alias("cby"),
            F.sum("n").alias("works_count"),
        )
    )
    self_link = F.concat(F.lit("https://openalex.org/I"),
                         F.col("c_custkey").cast("string"))
    return (
        c.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .join(years, years.o_custkey == c.c_custkey, "left")
        .select(
            self_link.alias("id"),
            F.col("c_name").alias("display_name"),
            F.col("n_name").alias("country_code"),
            F.concat(F.col("n_name"), F.lit("|"), F.col("r_name")).alias("geo"),
            F.array_join(
                F.concat(
                    F.array(self_link),
                    F.when(
                        F.col("c_custkey") % 3 == 0,
                        F.array(F.concat(
                            F.lit("https://openalex.org/I"),
                            (F.lit(9000000) + F.col("n_nationkey"))
                            .cast("string"),
                        )),
                    ).otherwise(F.array().cast("array<string>")),
                ),
                "|",
            ).alias("lineage"),
            F.array_join(
                F.when(F.col("c_custkey") % 6 == 0,
                       F.array(F.upper(F.substring("c_name", 1, 3))))
                .otherwise(F.array().cast("array<string>")),
                "|",
            ).alias("display_name_acronyms"),
            F.coalesce("works_count", F.lit(0)).cast("bigint")
            .alias("works_count"),
            F.array_join(
                F.transform(
                    F.coalesce("cby",
                               F.array().cast(
                                   "array<struct<year:bigint,works:bigint>>")),
                    lambda e: F.concat(e["year"].cast("string"), F.lit(":"),
                                       e["works"].cast("string")),
                ),
                "|",
            ).alias("counts_by_year"),
            F.date_format(
                F.date_add(F.lit("2024-01-01").cast("date"),
                           (F.col("c_custkey") % 365).cast("int")),
                "yyyy-MM-dd",
            ).alias("updated_date"),
        )
    )


_S6P_SQL = """
WITH pubs AS (
  SELECT p_brand, min(p_type) AS root_type,
         count(*)::BIGINT AS n_sources
  FROM part GROUP BY p_brand
),
works AS (
  SELECT p.p_brand, count(*)::BIGINT AS works_count
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand
)
SELECT concat('https://openalex.org/P',
              CAST(hash_id AS VARCHAR)) AS id,
       p_brand AS display_name,
       array_to_string(
         [concat('https://openalex.org/P', CAST(hash_id AS VARCHAR)),
          concat('https://openalex.org/P',
                 CAST(8000000 + length(root_type) AS VARCHAR))], '|')
         AS lineage,
       2::BIGINT AS hierarchy_level,
       n_sources,
       COALESCE(w.works_count, 0)::BIGINT AS works_count
FROM (SELECT p_brand, root_type, n_sources,
             ('0x' || substr(md5(p_brand), 1, 15))::BIGINT AS hash_id
      FROM pubs) p
LEFT JOIN works w USING (p_brand)
ORDER BY display_name
"""


@register(
    "s6_export_publishers_shape",
    oracle=_S6P_SQL,
    tags=("sink", "S6", "export", "publishers"),
    tables=("part", "lineitem"),
)
def s6_export_publishers_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publishers-snapshot export shape: P-prefixed ids (string keys
    hashed with the engine-portable stable_hash64 — publishers have no
    numeric key in the fixture, exactly the slug situation the portable
    hash exists for), the two-level lineage chain self -> root, and
    source/work counts from two partial-aggregable rollups."""
    from openalex_walden_spark.functions.hashing import stable_hash64

    pubs = (
        spark.table("part")
        .groupBy("p_brand")
        .agg(F.min("p_type").alias("root_type"),
             F.count(F.lit(1)).alias("n_sources"))
        .withColumn("hash_id", stable_hash64(F.col("p_brand")))
    )
    works = (
        spark.table("lineitem")
        .join(spark.table("part"),
              F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("works_count"))
    )
    self_link = F.concat(F.lit("https://openalex.org/P"),
                         F.col("hash_id").cast("string"))
    return (
        pubs.join(works, "p_brand", "left")
        .select(
            self_link.alias("id"),
            F.col("p_brand").alias("display_name"),
            F.array_join(
                F.array(
                    self_link,
                    F.concat(F.lit("https://openalex.org/P"),
                             (F.lit(8000000) + F.length("root_type"))
                             .cast("string")),
                ),
                "|",
            ).alias("lineage"),
            F.lit(2).cast("bigint").alias("hierarchy_level"),
            F.col("n_sources"),
            F.coalesce("works_count", F.lit(0)).cast("bigint")
            .alias("works_count"),
        )
        .orderBy("display_name")
    )


_S6K_SQL = """
WITH tokens AS (
  SELECT lower(unnest(string_split(p_name, ' '))) AS tok, p_partkey
  FROM part
),
counts AS (
  SELECT tok, count(*)::BIGINT AS works_count,
         count(DISTINCT p_partkey)::BIGINT AS n_parts
  FROM tokens WHERE length(tok) >= 3
  GROUP BY tok
)
SELECT concat('https://openalex.org/keywords/',
              regexp_replace(tok, '[^a-z0-9]', '-', 'g')) AS id,
       tok AS display_name,
       works_count, n_parts
FROM counts
ORDER BY display_name
"""


@register(
    "s6_export_keywords_shape",
    oracle=_S6K_SQL,
    tags=("sink", "S6", "export", "keywords"),
    tables=("part",),
)
def s6_export_keywords_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keywords-snapshot export shape: slug-path ids built from the
    token (export_keywords.ipynb keeps string ids, no numeric prefix),
    token-level rollup with length floor — explode is a flatMap, one
    partial-aggregable shuffle on the token."""
    toks = (
        spark.table("part")
        .select(
            F.explode(F.split("p_name", " ")).alias("tok0"),
            "p_partkey",
        )
        .select(F.lower("tok0").alias("tok"), "p_partkey")
        .where(F.length("tok") >= 3)
    )
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("works_count"),
             F.countDistinct("p_partkey").alias("n_parts"))
        .select(
            F.concat(
                F.lit("https://openalex.org/keywords/"),
                F.regexp_replace("tok", "[^a-z0-9]", "-"),
            ).alias("id"),
            F.col("tok").alias("display_name"),
            "works_count", "n_parts",
        )
        .orderBy("display_name")
    )


# --------------------------------------------------------------------------
# S6j/S6k/S6l: awards, concepts, common-entities export shapes
# --------------------------------------------------------------------------
# The last three of the reference's ELEVEN snapshot entities
# (export_awards / export_concepts / export_common_entities.ipynb).
# Awards: G-prefixed ids, investigators/funded_outputs coalesced to
# [], the internal funder_id dropped in favor of the funder struct
# (here a funder URL + name pair).  Concepts: path ids, level ladder,
# ancestors array built from the level chain.  Common entities:
# countries/continents/work-types/licenses unioned with path-style
# ids — continents carry their countries array.

_S6G_SQL = """
SELECT concat('https://openalex.org/G', CAST(o.o_orderkey AS VARCHAR)) AS id,
       concat('AWD-', CAST(o.o_orderkey % 100000 AS VARCHAR))
         AS display_name,
       concat('https://openalex.org/F', CAST(o.o_custkey AS VARCHAR), '|',
              c.c_name) AS funder,
       CAST(round(o.o_totalprice)::BIGINT AS BIGINT) AS amount,
       'USD' AS currency,
       COALESCE(array_to_string(
         CASE WHEN o.o_orderkey % 4 = 0
              THEN [concat('https://openalex.org/A',
                           CAST(o.o_custkey * 7 AS VARCHAR))]
              ELSE []::VARCHAR[] END, '|'), '') AS investigators,
       COALESCE(array_to_string(
         CASE WHEN o.o_orderkey % 3 = 0
              THEN [concat('https://openalex.org/W',
                           CAST(o.o_orderkey * 3 AS VARCHAR)),
                    concat('https://openalex.org/W',
                           CAST(o.o_orderkey * 3 + 1 AS VARCHAR))]
              WHEN o.o_orderkey % 3 = 1
              THEN [concat('https://openalex.org/W',
                           CAST(o.o_orderkey * 3 AS VARCHAR))]
              ELSE []::VARCHAR[] END, '|'), '') AS funded_outputs,
       strftime(DATE '2024-01-01' + INTERVAL ((o.o_orderkey % 365)::INT) DAY,
                '%Y-%m-%d') AS updated_date
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
"""


@register(
    "s6_export_awards_shape",
    oracle=_S6G_SQL,
    tags=("sink", "S6", "export", "awards"),
    tables=("orders", "customer"),
)
def s6_export_awards_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Awards-snapshot export shape: G-prefixed ids, the funder struct
    replacing the dropped internal funder_id, investigators and
    funded_outputs coalesced to [] (the salted entity at snapshot
    scale — awards churn daily).  Pure map-side after one broadcast
    join to the funder dim."""
    o, c = spark.table("orders"), spark.table("customer")
    return (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            F.concat(F.lit("https://openalex.org/G"),
                     F.col("o_orderkey").cast("string")).alias("id"),
            F.concat(F.lit("AWD-"),
                     (F.col("o_orderkey") % 100000).cast("string"))
            .alias("display_name"),
            F.concat(
                F.lit("https://openalex.org/F"),
                F.col("o_custkey").cast("string"),
                F.lit("|"), F.col("c_name"),
            ).alias("funder"),
            F.round("o_totalprice").cast("bigint").alias("amount"),
            F.lit("USD").alias("currency"),
            F.array_join(
                F.when(
                    F.col("o_orderkey") % 4 == 0,
                    F.array(F.concat(F.lit("https://openalex.org/A"),
                                     (F.col("o_custkey") * 7).cast("string"))),
                ).otherwise(F.array().cast("array<string>")),
                "|",
            ).alias("investigators"),
            F.array_join(
                F.when(
                    F.col("o_orderkey") % 3 == 0,
                    F.array(
                        F.concat(F.lit("https://openalex.org/W"),
                                 (F.col("o_orderkey") * 3).cast("string")),
                        F.concat(F.lit("https://openalex.org/W"),
                                 (F.col("o_orderkey") * 3 + 1).cast("string")),
                    ),
                ).when(
                    F.col("o_orderkey") % 3 == 1,
                    F.array(
                        F.concat(F.lit("https://openalex.org/W"),
                                 (F.col("o_orderkey") * 3).cast("string"))
                    ),
                ).otherwise(F.array().cast("array<string>")),
                "|",
            ).alias("funded_outputs"),
            F.date_format(
                F.date_add(F.lit("2024-01-01").cast("date"),
                           (F.col("o_orderkey") % 365).cast("int")),
                "yyyy-MM-dd",
            ).alias("updated_date"),
        )
    )


_S6C_SQL = """
WITH concepts AS (
  SELECT p_type AS name, count(*)::BIGINT AS works_count FROM part
  GROUP BY p_type
),
leveled AS (
  SELECT name, works_count,
         (length(name) % 3)::BIGINT AS level,
         string_split(name, ' ') AS words
  FROM concepts
)
SELECT concat('https://openalex.org/C',
              ('0x' || substr(md5(name), 1, 15))::BIGINT) AS id,
       name AS display_name,
       level,
       COALESCE(array_to_string(
         CASE WHEN level > 0 THEN [words[1]] ELSE []::VARCHAR[] END
         || CASE WHEN level > 1 AND len(words) >= 2
                 THEN [concat(words[1], ' ', words[2])]
                 ELSE []::VARCHAR[] END, '|'), '') AS ancestors,
       works_count
FROM leveled
ORDER BY display_name
"""


@register(
    "s6_export_concepts_shape",
    oracle=_S6C_SQL,
    tags=("sink", "S6", "export", "concepts"),
    tables=("part",),
)
def s6_export_concepts_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concepts-snapshot export shape: C-prefixed hashed ids (portable
    stable_hash64 over the concept name), the level ladder, and the
    ancestors array derived from the name's word-prefix chain — the
    same prefix-chain device the reference's concept tree uses."""
    from openalex_walden_spark.functions.hashing import stable_hash64

    c = (
        spark.table("part")
        .groupBy(F.col("p_type").alias("name"))
        .agg(F.count(F.lit(1)).alias("works_count"))
        .withColumn("level", (F.length("name") % 3).cast("bigint"))
        .withColumn("words", F.split("name", " "))
    )
    return c.select(
        F.concat(F.lit("https://openalex.org/C"),
                 stable_hash64(F.col("name")).cast("string")).alias("id"),
        F.col("name").alias("display_name"),
        "level",
        F.array_join(
            F.concat(
                F.when(F.col("level") > 0,
                       F.array(F.element_at("words", 1)))
                .otherwise(F.array().cast("array<string>")),
                F.when(
                    (F.col("level") > 1) & (F.size("words") >= 2),
                    F.array(F.concat_ws(" ",
                                        F.element_at("words", 1),
                                        F.element_at("words", 2))),
                ).otherwise(F.array().cast("array<string>")),
            ),
            "|",
        ).alias("ancestors"),
        "works_count",
    ).orderBy("display_name")


_S6CE_SQL = """
WITH countries AS (
  SELECT concat('https://openalex.org/countries/', n_name) AS id,
         n_name AS display_name, 'country' AS entity_type,
         '' AS members
  FROM nation
),
continents AS (
  SELECT concat('https://openalex.org/continents/', r_name) AS id,
         r_name AS display_name, 'continent' AS entity_type,
         array_to_string(list_sort(list(n_name)), '|') AS members
  FROM region JOIN nation ON n_regionkey = r_regionkey
  GROUP BY r_name
),
work_types AS (
  SELECT concat('https://openalex.org/work-types/', t) AS id,
         t AS display_name, 'work-type' AS entity_type, '' AS members
  FROM unnest(['article', 'book', 'book-chapter', 'dataset',
               'dissertation', 'preprint', 'review']) AS u(t)
),
licenses AS (
  SELECT concat('https://openalex.org/licenses/', t) AS id,
         t AS display_name, 'license' AS entity_type, '' AS members
  FROM unnest(['cc-by', 'cc-by-sa', 'cc-by-nc', 'cc-by-nc-nd',
               'public-domain', 'mit', 'gpl']) AS u(t)
)
SELECT * FROM (
  SELECT * FROM countries
  UNION ALL SELECT * FROM continents
  UNION ALL SELECT * FROM work_types
  UNION ALL SELECT * FROM licenses
) ORDER BY entity_type, id
"""


@register(
    "s6_export_common_entities",
    oracle=_S6CE_SQL,
    tags=("sink", "S6", "export", "common"),
    tables=("nation", "region"),
)
def s6_export_common_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-entities export (export_common_entities.ipynb): the small
    static dimensions — countries, continents (with their countries
    array), work-types, licenses — unioned into one path-id shape.
    Everything broadcasts; the work-type and license lists mirror the
    engine's own D7/P4 vocabularies."""
    countries = spark.table("nation").selectExpr(
        "concat('https://openalex.org/countries/', n_name) AS id",
        "n_name AS display_name", "'country' AS entity_type",
        "'' AS members",
    )
    continents = (
        spark.table("region")
        .join(spark.table("nation"),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), "|")
             .alias("members"))
        .selectExpr(
            "concat('https://openalex.org/continents/', r_name) AS id",
            "r_name AS display_name", "'continent' AS entity_type",
            "members",
        )
    )
    def _static(kind: str, vals: list[str]) -> DataFrame:
        df = spark.createDataFrame([(v,) for v in vals], "t string")
        return df.selectExpr(
            f"concat('https://openalex.org/{kind}s/', t) AS id",
            "t AS display_name", f"'{kind}' AS entity_type",
            "'' AS members",
        )
    work_types = _static("work-type", [
        "article", "book", "book-chapter", "dataset",
        "dissertation", "preprint", "review",
    ])
    licenses = _static("license", [
        "cc-by", "cc-by-sa", "cc-by-nc", "cc-by-nc-nd",
        "public-domain", "mit", "gpl",
    ])
    return (
        countries.unionByName(continents)
        .unionByName(work_types).unionByName(licenses)
        .orderBy("entity_type", "id")
    )
