"""Overmerge detection over entity embedding groups.

The reference's author-quality subsystem asks one question of every
merged author profile: "is this actually two people?"  Two notebook
pipelines answer it from the profile's work embeddings:

- ``notebooks/vector_search/HdbscanOvermergeDetection.ipynb`` — HDBSCAN
  per author; n_clusters >= 2 predicts overmerge (plus noise_frac /
  largest_cluster_frac / second_cluster_frac as calibration metrics).
- ``notebooks/vector_search/PairwiseOvermergeSignal.ipynb`` and
  ``ComputeAuthorshipSimilarity.ipynb`` (cell 9) — pure-SQL pairwise
  cosine percentiles per author (p5/p10/mean/min over all work pairs):
  a low similarity tail is the cheap overmerge smell test.

Here the ``embeddings`` fixture's ``label`` column plays the author
profile (the group whose coherence is being audited) and both signals
are single distributed plans — the reference's driver-side sklearn
batch loop is replaced by ``operators/density.py`` (see its docstring
for the HDBSCAN fragment computed and the determinism engineering).

Oracle notes: every decision value is either an exact BIGINT (squared
distances, component sizes) or a floor-quantized cosine computed by the
bit-identical IEEE expression in both engines, so the driver's hash
check is exact.  The density oracle replays threshold linkage as 64
unrolled min-label-propagation rounds — enough for any component of
<= 65 points (the fixture's groups are <= 63; the Spark side uses the
O(log^2 n) alternating-star operator and is correct at ANY size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from openalex_walden_spark.queries.registry import register

_Q = 65536  # 2^16 — same quantization convention as the IVF trainer
_EPS2 = 6_800_000_000  # squared linkage threshold (fixed-point units)
_K_CORE = 4
_MIN_CLUSTER = 3
_KEY_BASE = 10_000_000
_LP_ROUNDS = 64  # oracle propagation rounds (>= max component diameter)
_MAX_GROUP = 1024  # hot-key guard: per-profile point cap before the O(n^2)
_HASH_A = 2_654_435_761  # portable sample order (operators/density.py)
_HASH_M = 4_294_967_296
_HASH_R = 2_147_483_648  # mod-2^31 pre-reduction keeps vec_id*A in BIGINT

_COS_SCALE = 1_000_000  # cosine quantization for the pairwise signal

# The 10th-percentile centroid-fit screen threshold: a profile whose
# bottom-decile member is ANTI-correlated with the profile's own
# centroid has an incoherent tail — only those profiles earn the
# quadratic density stage (overmerge_screened_density).
_SCREEN_P10 = 0


# --------------------------------------------------------------------------
# Density split (HDBSCAN-style): per-group cluster statistics
# --------------------------------------------------------------------------
def _density_sql(prefix: str = "", pts_filter: str = "") -> str:
    """The density-stats oracle chain.  ``prefix``: extra leading CTEs
    (must end with a comma) — used by the screened composition;
    ``pts_filter``: extra WHERE clause on the point source.  The inner
    QUALIFY-style sample mirrors the operator's hot-key guard exactly
    (same multiplicative hash, same tie-break), so the oracle replays
    the identical subset at any scale factor."""
    rounds = []
    for t in range(1, _LP_ROUNDS + 1):
        rounds.append(
            f"""l{t} AS MATERIALIZED (
  SELECT l.k, LEAST(l.lbl, COALESCE(MIN(n2.lbl), l.lbl)) AS lbl
  FROM l{t - 1} l
  LEFT JOIN esym e ON e.src = l.k
  LEFT JOIN l{t - 1} n2 ON n2.k = e.dst
  GROUP BY l.k, l.lbl
)"""
        )
    return (
        f"""
WITH {prefix}pts AS MATERIALIZED (
  SELECT g, i, qx FROM (
    SELECT label AS g, vec_id AS i,
           list_transform(embedding, x -> floor(x::DOUBLE * {_Q})::BIGINT + {_Q}) AS qx,
           row_number() OVER (
             PARTITION BY label
             ORDER BY ((vec_id % {_HASH_R}) * {_HASH_A}) % {_HASH_M} ASC, vec_id ASC
           ) AS srn
    FROM embeddings {pts_filter}
  ) WHERE srn <= {_MAX_GROUP}
),
pairs AS MATERIALIZED (
  SELECT a.g, a.i AS ia, b.i AS ib,
         list_sum(list_transform(range(1, len(a.qx) + 1),
           d -> (a.qx[d] - b.qx[d]) * (a.qx[d] - b.qx[d])))::BIGINT AS d2
  FROM pts a JOIN pts b ON a.g = b.g AND a.i < b.i
),
sym AS MATERIALIZED (
  SELECT g, ia AS src, ib AS dst, d2 FROM pairs
  UNION ALL
  SELECT g, ib AS src, ia AS dst, d2 FROM pairs
),
core AS MATERIALIZED (
  SELECT g, src AS i, d2 AS core2 FROM (
    SELECT g, src, dst, d2,
           row_number() OVER (PARTITION BY g, src ORDER BY d2 ASC, dst ASC) AS rn
    FROM sym
  ) WHERE rn = {_K_CORE}
),
edges AS MATERIALIZED (
  SELECT p.g * {_KEY_BASE} + p.ia AS src, p.g * {_KEY_BASE} + p.ib AS dst
  FROM pairs p
  JOIN core ca ON ca.g = p.g AND ca.i = p.ia
  JOIN core cb ON cb.g = p.g AND cb.i = p.ib
  WHERE GREATEST(p.d2, ca.core2, cb.core2) <= {_EPS2}
),
esym AS MATERIALIZED (
  SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges
),
l0 AS MATERIALIZED (
  SELECT k, k AS lbl FROM (SELECT src AS k FROM esym GROUP BY src)
),
"""
        + ",\n".join(rounds)
        + f""",
sizes AS (
  SELECT k // {_KEY_BASE} AS g, lbl, COUNT(*)::BIGINT AS sz
  FROM l{_LP_ROUNDS} GROUP BY k // {_KEY_BASE}, lbl
),
clusters AS (
  SELECT g, sz, row_number() OVER (PARTITION BY g ORDER BY sz DESC, lbl ASC) AS rk
  FROM sizes WHERE sz >= {_MIN_CLUSTER}
),
per_grp AS (
  SELECT g, COUNT(*)::BIGINT AS n_clusters, SUM(sz)::BIGINT AS clustered,
         MAX(CASE WHEN rk = 1 THEN sz END) AS largest_sz,
         MAX(CASE WHEN rk = 2 THEN sz END) AS second_sz
  FROM clusters GROUP BY g
),
npts AS (SELECT g, COUNT(*)::BIGINT AS n_points FROM pts GROUP BY g)
SELECT n.g AS grp, n.n_points,
       COALESCE(p.n_clusters, 0)::BIGINT AS n_clusters,
       (n.n_points - COALESCE(p.clustered, 0))::BIGINT AS n_noise,
       COALESCE(p.largest_sz, 0)::BIGINT AS largest_sz,
       COALESCE(p.second_sz, 0)::BIGINT AS second_sz
FROM npts n LEFT JOIN per_grp p ON p.g = n.g
"""
    )


def _density_pts(spark: SparkSession) -> DataFrame:
    """Quantized (grp, id, qx) point set for the density operator."""
    return spark.table("embeddings").select(
        F.col("label").alias("grp"),
        F.col("vec_id").alias("id"),
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {_Q}) as bigint) + {_Q})"
        ).alias("qx"),
    )


@register(
    "overmerge_density_split",
    oracle=_density_sql(),
    tags=("llmdata", "ann", "overmerge", "domain", "iterative"),
    tables=("embeddings",),
)
def overmerge_density_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-profile density-cluster statistics (the HDBSCAN overmerge
    signal): a group whose embeddings form 2+ density clusters is a
    candidate multi-person profile; all-noise groups have no coherent
    signal.  See module + ``operators/density.py`` docstrings.  The
    quadratic stage is hot-key-guarded: profiles above _MAX_GROUP
    points are deterministically down-sampled (mirrored in the oracle),
    bounding pair fan-out per group regardless of input skew.
    """
    from openalex_walden_spark.operators.density import density_split_stats

    return density_split_stats(
        _density_pts(spark),
        eps2=_EPS2,
        k_core=_K_CORE,
        min_cluster_size=_MIN_CLUSTER,
        max_group_size=_MAX_GROUP,
    )


# --------------------------------------------------------------------------
# Pairwise cosine percentile signal (pure relational; no clustering)
# --------------------------------------------------------------------------
# Quantized cosine: integer dot / norms from floor(x * 2^16) coordinates
# (no offset — differences are not involved, and signs must survive),
# floor-scaled to 1e6.  The expression tree is kept IDENTICAL in both
# engines so the doubles agree bit-for-bit before the floor.
_PAIRWISE_SQL = f"""
WITH pts AS MATERIALIZED (
  SELECT label AS g, vec_id AS i,
         list_transform(embedding, x -> floor(x::DOUBLE * {_Q})::BIGINT) AS qd
  FROM embeddings
),
nrm AS MATERIALIZED (
  SELECT g, i, qd,
         list_sum(list_transform(qd, x -> x * x))::BIGINT AS n2
  FROM pts
),
pairs AS MATERIALIZED (
  SELECT a.g,
         floor(({_COS_SCALE}.0 * list_sum(list_transform(range(1, len(a.qd) + 1),
                  d -> (a.qd[d] * b.qd[d])::DOUBLE)))
               / (sqrt(a.n2::DOUBLE) * sqrt(b.n2::DOUBLE)))::BIGINT AS cos_q
  FROM nrm a JOIN nrm b ON a.g = b.g AND a.i < b.i
),
ranked AS (
  SELECT g, cos_q,
         row_number() OVER (PARTITION BY g ORDER BY cos_q ASC) - 1 AS pos
  FROM pairs
),
agg AS (
  SELECT g, COUNT(*)::BIGINT AS n_pairs, MIN(cos_q)::BIGINT AS min_q,
         SUM(cos_q)::BIGINT AS sum_q
  FROM pairs GROUP BY g
)
SELECT a.g AS grp, a.n_pairs, a.min_q,
       p05.cos_q AS p05_q, p10.cos_q AS p10_q,
       CAST(FLOOR(a.sum_q / a.n_pairs) AS BIGINT) AS mean_q
FROM agg a
JOIN ranked p05 ON p05.g = a.g AND p05.pos = CAST(FLOOR(0.05 * (a.n_pairs - 1)) AS BIGINT)
JOIN ranked p10 ON p10.g = a.g AND p10.pos = CAST(FLOOR(0.10 * (a.n_pairs - 1)) AS BIGINT)
"""


@register(
    "overmerge_pairwise_signal",
    oracle=_PAIRWISE_SQL,
    tags=("llmdata", "ann", "overmerge", "agg"),
    tables=("embeddings",),
)
def overmerge_pairwise_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-profile pairwise-similarity tail diagnostic: exact p5/p10/
    mean/min over all within-group pairwise cosines (quantized to 1e-6
    so percentiles are integer-exact).  The reference computes this
    with APPROX_PERCENTILE (ComputeAuthorshipSimilarity cell 9,
    PairwiseOvermergeSignal cell 1); exact rank-statistics cost the
    same here — one window over the per-group pair list — and make the
    result oracle-checkable.

    Scale shape: pairs exist only within a group (equi-join on the
    profile key, quadratic in works-per-author — the same bound the
    reference accepts, capped upstream at 500 works per profile); one
    pair-list shuffle keys on the group; everything after is per-group
    windows and aggregates at group grain.
    """
    pts = spark.table("embeddings").select(
        F.col("label").alias("g"),
        F.col("vec_id").alias("i"),
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {_Q}) as bigint))"
        ).alias("qd"),
    )
    nrm = pts.withColumn(
        "n2",
        F.aggregate(
            F.transform(F.col("qd"), lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ),
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("a.qd"), F.col("b.qd"), lambda u, v: (u * v).cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cos_q = F.floor(
        (F.lit(float(_COS_SCALE)) * dot)
        / (F.sqrt(F.col("a.n2").cast("double")) * F.sqrt(F.col("b.n2").cast("double")))
    ).cast("bigint")
    pairs = (
        nrm.alias("a")
        .join(
            nrm.alias("b"),
            (F.col("a.g") == F.col("b.g")) & (F.col("a.i") < F.col("b.i")),
        )
        .select(F.col("a.g").alias("g"), cos_q.alias("cos_q"))
    )
    # One pass over the quadratic pair list (r14 optimization): the old
    # shape joined an `agg` branch against TWO copies of a `ranked`
    # branch, instantiating the pairwise cosine join three times in the
    # physical plan.  All four statistics (count/min/sum + the two rank
    # picks) ride ONE window partitioning instead: the full-partition
    # aggregates attach to every row, the percentile rows are selected
    # by position, and a 2-rows-per-group conditional aggregate pivots
    # them out — same exchange key throughout, so the groupBy adds no
    # shuffle.  Output proven byte-identical (goldens + oracle parity).
    wg = Window.partitionBy("g")
    ranked = pairs.select(
        "g",
        "cos_q",
        (
            F.row_number().over(wg.orderBy(F.col("cos_q").asc())) - 1
        ).alias("pos"),
        F.count("*").over(wg).cast("bigint").alias("n_pairs"),
        F.min("cos_q").over(wg).cast("bigint").alias("min_q"),
        F.sum("cos_q").over(wg).cast("bigint").alias("sum_q"),
    )
    p05_pos = F.floor(F.lit(0.05) * (F.col("n_pairs") - 1)).cast("bigint")
    p10_pos = F.floor(F.lit(0.10) * (F.col("n_pairs") - 1)).cast("bigint")
    return (
        ranked.where((F.col("pos") == p05_pos) | (F.col("pos") == p10_pos))
        .groupBy("g")
        .agg(
            F.max("n_pairs").alias("n_pairs"),
            F.max("min_q").alias("min_q"),
            F.max(F.when(F.col("pos") == p05_pos, F.col("cos_q"))).alias("p05_q"),
            F.max(F.when(F.col("pos") == p10_pos, F.col("cos_q"))).alias("p10_q"),
            F.max("sum_q").alias("sum_q"),
        )
        .select(
            F.col("g").alias("grp"),
            "n_pairs",
            "min_q",
            "p05_q",
            "p10_q",
            F.floor(F.col("sum_q").cast("double") / F.col("n_pairs")).cast("bigint").alias("mean_q"),
        )
    )


# --------------------------------------------------------------------------
# Centroid-fit signal: each member's cosine to its profile centroid
# --------------------------------------------------------------------------
# The third reference signal (OvermergeClusterAnalysis.ipynb cell 5 +
# ComputeAuthorshipSimilarity.ipynb): score every work against its
# author's embedding centroid, then summarize the per-profile fit
# distribution (mean/min/percentiles/frac-below-thresholds).  O(n) per
# profile — the scale-cheap screen that runs before the O(n^2) pairwise
# tail or the density clustering.
#
# Exactness: cos(x, mean) == cos(x, sum), so the centroid is the raw
# per-dimension BIGINT sum (no division, no floats); the dot of a
# quantized member against the integer centroid-sum stays < 2^53, so
# the cosine is one deterministic IEEE expression and its 1e-6 floor
# quantization is bit-identical in both engines.
_CENTROID_FIT_SQL = f"""
WITH pts AS MATERIALIZED (
  SELECT label AS g, vec_id AS i,
         list_transform(embedding, x -> floor(x::DOUBLE * {_Q})::BIGINT) AS qd
  FROM embeddings
),
csum AS MATERIALIZED (
  SELECT g, COUNT(*)::BIGINT AS n_members,
         list_transform(range(1, 65),
           j -> list_sum(list_transform(list(qd), v -> v[j]))) AS cs
  FROM pts GROUP BY g
),
fit AS MATERIALIZED (
  SELECT p.g, p.i,
         floor(({_COS_SCALE}.0 * list_sum(list_transform(range(1, len(p.qd) + 1),
                  d -> (p.qd[d] * c.cs[d])::DOUBLE)))
               / (sqrt(list_sum(list_transform(p.qd, x -> (x * x)::DOUBLE)))
                  * sqrt(list_sum(list_transform(c.cs, x -> (x * x)::DOUBLE)))))::BIGINT AS cos_q
  FROM pts p JOIN csum c ON c.g = p.g
),
ranked AS (
  SELECT g, cos_q,
         row_number() OVER (PARTITION BY g ORDER BY cos_q ASC) - 1 AS pos
  FROM fit
),
agg AS (
  SELECT g, COUNT(*)::BIGINT AS work_count, MIN(cos_q)::BIGINT AS min_q,
         SUM(cos_q)::BIGINT AS sum_q,
         SUM(CASE WHEN cos_q < {_COS_SCALE // 2} THEN 1 ELSE 0 END)::BIGINT AS n_below_05,
         SUM(CASE WHEN cos_q < {_COS_SCALE * 6 // 10} THEN 1 ELSE 0 END)::BIGINT AS n_below_06,
         SUM(CASE WHEN cos_q < {_COS_SCALE * 7 // 10} THEN 1 ELSE 0 END)::BIGINT AS n_below_07
  FROM fit GROUP BY g
)
SELECT a.g AS grp, a.work_count, a.min_q,
       p05.cos_q AS p05_q, p10.cos_q AS p10_q, q1.cos_q AS q1_q, q3.cos_q AS q3_q,
       CAST(FLOOR(a.sum_q / a.work_count) AS BIGINT) AS mean_q,
       a.n_below_05, a.n_below_06, a.n_below_07
FROM agg a
JOIN ranked p05 ON p05.g = a.g AND p05.pos = CAST(FLOOR(0.05 * (a.work_count - 1)) AS BIGINT)
JOIN ranked p10 ON p10.g = a.g AND p10.pos = CAST(FLOOR(0.10 * (a.work_count - 1)) AS BIGINT)
JOIN ranked q1 ON q1.g = a.g AND q1.pos = CAST(FLOOR(0.25 * (a.work_count - 1)) AS BIGINT)
JOIN ranked q3 ON q3.g = a.g AND q3.pos = CAST(FLOOR(0.75 * (a.work_count - 1)) AS BIGINT)
"""


def _centroid_fit(spark: SparkSession) -> DataFrame:
    """(g, i, cos_q): every member's 1e-6-floor-quantized cosine to its
    profile's centroid-sum — the shared O(n) screen core."""
    e = spark.table("embeddings")
    pts = e.select(
        F.col("label").alias("g"),
        F.col("vec_id").alias("i"),
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {_Q}) as bigint))"
        ).alias("qd"),
    )
    dims = pts.select("g", F.posexplode("qd").alias("dim0", "qv"))
    csum = (
        dims.groupBy("g", "dim0")
        .agg(F.sum("qv").alias("s"))
        .groupBy("g")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim0", "s"))).alias("ds"),
        )
        .select("g", F.expr("transform(ds, x -> x.s)").alias("cs"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("qd"), F.col("cs"), lambda u, v: (u * v).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm_qd = F.sqrt(
        F.aggregate(
            F.transform(F.col("qd"), lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    norm_cs = F.sqrt(
        F.aggregate(
            F.transform(F.col("cs"), lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return pts.join(F.broadcast(csum), "g").select(
        "g",
        "i",
        F.floor(F.lit(float(_COS_SCALE)) * dot / (norm_qd * norm_cs))
        .cast("bigint")
        .alias("cos_q"),
    )


@register(
    "overmerge_centroid_fit",
    oracle=_CENTROID_FIT_SQL,
    tags=("llmdata", "ann", "overmerge", "agg"),
    tables=("embeddings",),
)
def overmerge_centroid_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-profile centroid-fit distribution: every member's cosine to
    its profile's embedding centroid, summarized as exact rank
    statistics plus below-threshold counts — the O(n)-per-profile
    overmerge screen (see the SQL block comment for the reference
    lineage and the integer-exactness argument).

    Scale shape: the centroid is one (group, dim) partial aggregate
    (dims combine map-side); fit scoring is an equi-join of members
    against their group's centroid row; the summary is per-group
    windows + aggregates at group grain.  Nothing is quadratic.
    """
    fit = _centroid_fit(spark)
    # One pass over the fit rows (r14 optimization): the old shape
    # joined the aggregate branch against FOUR copies of the ranked
    # branch — five instantiations of the centroid-fit subplan (its
    # (group, dim) partial aggregate included) in one physical plan.
    # All statistics now ride one window partitioning: full-partition
    # aggregates attach to every row, the four percentile rows are
    # picked by position, and a <=4-rows-per-group conditional
    # aggregate pivots them out without an extra exchange (same key).
    wg = Window.partitionBy("g")
    ranked = fit.select(
        "g",
        "cos_q",
        (
            F.row_number().over(wg.orderBy(F.col("cos_q").asc())) - 1
        ).alias("pos"),
        F.count("*").over(wg).cast("bigint").alias("work_count"),
        F.min("cos_q").over(wg).cast("bigint").alias("min_q"),
        F.sum("cos_q").over(wg).cast("bigint").alias("sum_q"),
        F.sum(F.when(F.col("cos_q") < _COS_SCALE // 2, 1).otherwise(0))
        .over(wg)
        .cast("bigint")
        .alias("n_below_05"),
        F.sum(F.when(F.col("cos_q") < _COS_SCALE * 6 // 10, 1).otherwise(0))
        .over(wg)
        .cast("bigint")
        .alias("n_below_06"),
        F.sum(F.when(F.col("cos_q") < _COS_SCALE * 7 // 10, 1).otherwise(0))
        .over(wg)
        .cast("bigint")
        .alias("n_below_07"),
    )
    picks = {
        name: F.floor(F.lit(frac) * (F.col("work_count") - 1)).cast("bigint")
        for name, frac in (
            ("p05_q", 0.05),
            ("p10_q", 0.10),
            ("q1_q", 0.25),
            ("q3_q", 0.75),
        )
    }
    is_pick = None
    for pos in picks.values():
        cond = F.col("pos") == pos
        is_pick = cond if is_pick is None else (is_pick | cond)
    out = (
        ranked.where(is_pick)
        .groupBy("g")
        .agg(
            F.max("work_count").alias("work_count"),
            F.max("min_q").alias("min_q"),
            F.max("sum_q").alias("sum_q"),
            F.max("n_below_05").alias("n_below_05"),
            F.max("n_below_06").alias("n_below_06"),
            F.max("n_below_07").alias("n_below_07"),
            *[
                F.max(F.when(F.col("pos") == pos, F.col("cos_q"))).alias(name)
                for name, pos in picks.items()
            ],
        )
    )
    return out.select(
        F.col("g").alias("grp"),
        "work_count",
        "min_q",
        "p05_q",
        "p10_q",
        "q1_q",
        "q3_q",
        F.floor(F.col("sum_q").cast("double") / F.col("work_count"))
        .cast("bigint")
        .alias("mean_q"),
        "n_below_05",
        "n_below_06",
        "n_below_07",
    )


# --------------------------------------------------------------------------
# Screened density split: the production composition (O(n) screen first,
# the quadratic stage only for profiles the screen flags)
# --------------------------------------------------------------------------
# Screen CTEs (renamed s* to avoid colliding with the density chain's
# names): per-group 10th-percentile centroid fit; a profile whose
# bottom-decile member is anti-correlated with its own centroid
# (p10 < _SCREEN_P10) has an incoherent tail and earns clustering.
_SCREEN_PREFIX = f"""spts AS MATERIALIZED (
  SELECT label AS g, vec_id AS i,
         list_transform(embedding, x -> floor(x::DOUBLE * {_Q})::BIGINT) AS qd
  FROM embeddings
),
scsum AS MATERIALIZED (
  SELECT g, COUNT(*)::BIGINT AS n_members,
         list_transform(range(1, 65),
           j -> list_sum(list_transform(list(qd), v -> v[j]))) AS cs
  FROM spts GROUP BY g
),
sfit AS MATERIALIZED (
  SELECT p.g, p.i,
         floor(({_COS_SCALE}.0 * list_sum(list_transform(range(1, len(p.qd) + 1),
                  d -> (p.qd[d] * c.cs[d])::DOUBLE)))
               / (sqrt(list_sum(list_transform(p.qd, x -> (x * x)::DOUBLE)))
                  * sqrt(list_sum(list_transform(c.cs, x -> (x * x)::DOUBLE)))))::BIGINT AS cos_q
  FROM spts p JOIN scsum c ON c.g = p.g
),
sranked AS (
  SELECT g, cos_q,
         row_number() OVER (PARTITION BY g ORDER BY cos_q ASC) - 1 AS pos,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM sfit
),
susp AS MATERIALIZED (
  SELECT g FROM sranked
  WHERE pos = CAST(FLOOR(0.10 * (n - 1)) AS BIGINT) AND cos_q < {_SCREEN_P10}
),
"""


@register(
    "overmerge_screened_density",
    oracle=_density_sql(
        prefix=_SCREEN_PREFIX,
        pts_filter="WHERE label IN (SELECT g FROM susp)",
    ),
    tags=("llmdata", "ann", "overmerge", "domain", "iterative"),
    tables=("embeddings",),
)
def overmerge_screened_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-ordered overmerge pipeline: the O(n)-per-profile
    centroid-fit screen runs FIRST, and only profiles it flags (10th-
    percentile member fit below _SCREEN_P10) enter the quadratic
    density-clustering stage — so at 100 TB the pairwise join sees the
    suspicious minority of profiles, not the whole author table, and
    the per-profile size cap bounds the worst flagged profile too.
    This is the composition the round-6 review asked for: screen →
    gate → cluster, each stage at the grain the previous one reduced
    to (the reference runs the same triage manually across
    ComputeAuthorshipSimilarity → HdbscanOvermergeDetection).

    Scale shape: screen = one (group, dim) partial agg + an equi-join;
    gate = per-group rank pick at group grain; the density stage's
    input is a semi-join of points against the flagged-group list on
    the same group key everything else shuffles on.
    """
    from openalex_walden_spark.operators.density import density_split_stats

    fit = _centroid_fit(spark)
    ranked = fit.select(
        "g",
        "cos_q",
        (
            F.row_number().over(
                Window.partitionBy("g").orderBy(F.col("cos_q").asc())
            )
            - 1
        ).alias("pos"),
        F.count("*").over(Window.partitionBy("g")).alias("n"),
    )
    susp = ranked.where(
        (F.col("pos") == F.floor(F.lit(0.10) * (F.col("n") - 1)).cast("bigint"))
        & (F.col("cos_q") < _SCREEN_P10)
    ).select("g")
    pts = _density_pts(spark).join(
        susp, F.col("grp") == F.col("g"), "left_semi"
    )
    return density_split_stats(
        pts,
        eps2=_EPS2,
        k_core=_K_CORE,
        min_cluster_size=_MIN_CLUSTER,
        max_group_size=_MAX_GROUP,
    )
