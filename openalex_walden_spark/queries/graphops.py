"""Graph analytics operators over the citation-style edge plane.

The reference's citation plane (`CreateWorksEnriched.ipynb` cited-by
rollups; repo analogues d5_*) stops at degree counts.  A 100-TB corpus
pipeline additionally wants global graph signals — PageRank-style
centrality for quality weighting (the classic webgraph signal used in
pretraining-data curation) — computed without any driver-side iteration
state.

**Determinism engineering**: floating-point PageRank is order-dependent
(the per-node sum of neighbor contributions lands in whatever order the
partial aggregates arrive), so the scores here are FIXED-POINT BIGINTs:
1.0 == 10^12, every contribution is an exact integer division, and
integer addition commutes — Spark and the DuckDB oracle produce
bit-identical scores regardless of aggregation order.  Dangling-node
mass is dropped (the standard simplification); damping 0.85 is applied
as (85 * x) // 100.

**Scale shape**: each iteration is one equi-join edges⋈scores on src
(both sides partitioned by the join key) plus one dst-keyed aggregate —
the same two shuffles a Pregel superstep costs.  The loop itself lives
in ``operators/pagerank.py``: runs to the exact integer fixed point
(capped at 32 rounds), localCheckpoints every 2 rounds so lineage stays
constant-size, and detects convergence from a one-row score fingerprint
— the ``operators/components.py`` loop discipline.  The oracle replays
all 32 rounds as materialized CTEs; past the fixed point they are
no-ops, so both engines agree whether or not Spark stopped early.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openalex_walden_spark.queries.registry import register

# 60-bit engine-portable hash (same construction as llmdata._H_SPARK).
_H_EXPR = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"

_PR_NODES = 1024
_PR_ONE = 1_000_000_000_000  # fixed-point 1.0
# Fixture damping d = 0.70 (the operator's default stays the classic
# 0.85): the per-superstep PLAN — one equi-join + one
# dst-keyed partial aggregate — is identical at any damping, but the
# spectral contraction is much faster, so the bench measures superstep
# cost instead of 40 rounds of local[32] job overhead (round-6/7
# verdicts).  Measured exact-fixed-point rounds at d=0.70: 28
# (sf0.001), 14 (sf0.01), 15 (sf0.1) — vs 35/35/38 at d=0.85.
_PR_NUM = 70
_PR_DEN = 100
_PR_BASE = (_PR_ONE * (_PR_DEN - _PR_NUM)) // _PR_DEN
# Cap with margin over the slowest measured SF (28), a multiple of the
# Spark loop's check interval (2), which keeps the early stop
# cycle-safe (operators/pagerank.py docstring).
_PR_MAX_ROUNDS = 32


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
{out} AS MATERIALIZED (
  SELECT n.node,
         CAST({_PR_BASE} + ({_PR_NUM} * COALESCE(c.inmass, 0)) // {_PR_DEN} AS BIGINT) AS score
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM(p.score // o.d) AS BIGINT) AS inmass
    FROM edges e
    JOIN {prev} p ON p.node = e.src
    JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
)"""


_PR_SQL = (
    f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT l_orderkey % {_PR_NODES} AS src, l_partkey % {_PR_NODES} AS dst
  FROM lineitem
  WHERE l_orderkey % {_PR_NODES} <> l_partkey % {_PR_NODES}
),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
s0 AS (SELECT node, CAST({_PR_ONE} AS BIGINT) AS score FROM nodes),"""
    + ",".join(_pr_iter_sql(f"s{i}", f"s{i + 1}") for i in range(_PR_MAX_ROUNDS))
    + f"""
SELECT node, score AS pagerank_fp FROM s{_PR_MAX_ROUNDS}
"""
)


@register(
    "graph_pagerank_fixedpoint",
    oracle=_PR_SQL,
    tags=("graph", "pagerank", "iterative"),
    tables=("lineitem",),
)
def graph_pagerank_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the order→part edge plane (node ids folded mod 1024
    so the oracle's unrolled CTE chain stays cheap at any SF), run to
    the EXACT integer fixed point by ``operators/pagerank.py`` — see
    module docstring for the determinism and scale rationale."""
    from openalex_walden_spark.operators.pagerank import pagerank_fixedpoint

    li = spark.table("lineitem")
    src = (F.col("l_orderkey") % _PR_NODES).alias("src")
    dst = (F.col("l_partkey") % _PR_NODES).alias("dst")
    edges = li.select(src, dst).where(F.col("src") != F.col("dst")).distinct()
    scores = pagerank_fixedpoint(
        edges,
        damping_num=_PR_NUM,
        damping_den=_PR_DEN,
        max_rounds=_PR_MAX_ROUNDS,
    )
    return scores.select("node", F.col("score").alias("pagerank_fp"))


# --------------------------------------------------------------------------
# Triangle counting + global clustering coefficient
# --------------------------------------------------------------------------
_TRI_NODES = 1024
_TRI_SCALE = 1_000_000  # fixed-point 1.0 for the clustering coefficient

_TRI_SQL = f"""
WITH und AS (
  SELECT u, v FROM (
    SELECT DISTINCT LEAST(l_orderkey % {_TRI_NODES}, l_partkey % {_TRI_NODES}) AS u,
           GREATEST(l_orderkey % {_TRI_NODES}, l_partkey % {_TRI_NODES}) AS v
    FROM lineitem
    WHERE l_orderkey % {_TRI_NODES} <> l_partkey % {_TRI_NODES}
  )
  WHERE (('0x' || substr(md5(u::VARCHAR || ':' || v::VARCHAR), 1, 15))::BIGINT) % 8 = 0
),
deg AS (
  SELECT node, COUNT(*)::BIGINT AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und
  ) GROUP BY node
),
-- total order: degree-major, id-minor, encoded as one BIGINT key
okey AS (SELECT node, d * {_TRI_NODES * 2} + node AS k FROM deg),
oriented AS (
  SELECT CASE WHEN ku.k < kv.k THEN e.u ELSE e.v END AS src,
         CASE WHEN ku.k < kv.k THEN e.v ELSE e.u END AS dst,
         CASE WHEN ku.k < kv.k THEN kv.k ELSE ku.k END AS dst_k
  FROM und e JOIN okey ku ON ku.node = e.u JOIN okey kv ON kv.node = e.v
),
tri AS (
  SELECT COUNT(*)::BIGINT AS n_triangles
  FROM oriented w1
  JOIN oriented w2 ON w2.src = w1.src AND w1.dst_k < w2.dst_k
  JOIN oriented e3 ON e3.src = w1.dst AND e3.dst = w2.dst
),
stats AS (
  SELECT (SELECT COUNT(*) FROM deg)::BIGINT AS n_nodes,
         (SELECT COUNT(*) FROM und)::BIGINT AS n_edges,
         (SELECT SUM(d * (d - 1) // 2) FROM deg)::BIGINT AS n_wedges
)
SELECT s.n_nodes, s.n_edges, s.n_wedges, t.n_triangles,
       (3 * t.n_triangles * {_TRI_SCALE} // s.n_wedges)::BIGINT AS clustering_fp
FROM stats s CROSS JOIN tri t
"""


@register(
    "graph_triangle_count",
    oracle=_TRI_SQL,
    tags=("graph", "triangles"),
    tables=("lineitem",),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the same
    folded order->part edge plane PageRank uses.

    Algorithm (the MapReduce-canonical node-iterator++ / Cohen scheme):
    orient every undirected edge from its (degree, id)-smaller endpoint
    to the larger, which makes the edge set a DAG where each node's
    out-degree is O(sqrt(m)); enumerate wedges by self-joining oriented
    edges on their source; close each wedge against the oriented edge
    set.  Every triangle is counted exactly once (its corners are
    totally ordered by the (degree, id) key), and the orientation bounds
    the wedge fan-out of high-degree hubs — the property that makes the
    self-join survive power-law graphs at 100 TB, where an id-only
    orientation would explode on hub nodes.

    Determinism: counts and a fixed-point clustering coefficient
    (3*triangles*1e6 // wedges, exact integer division) — no floats.

    Scale shape: one distinct (edge canonicalization), one degree agg,
    degree joins keyed on node, then the wedge self-join keyed on src —
    every shuffle is on a join key, no cartesian anywhere.
    """
    li = spark.table("lineitem")
    a = (F.col("l_orderkey") % _TRI_NODES).alias("a")
    b = (F.col("l_partkey") % _TRI_NODES).alias("b")
    # Hash-sparsify the folded pair space: id-folding makes the fixture
    # graph converge on a near-complete 1024-clique as SF grows (a
    # fixture artifact real graphs don't have), and a clique's wedge set
    # is O(n^3) no matter how the join is written. Keeping a
    # deterministic 1/8 of CANONICAL PAIRS (not rows) caps density at
    # every SF while leaving a real triangle population to count.
    keep = (
        F.expr(
            _H_EXPR.format(x="concat(cast(u as string), ':', cast(v as string))")
        )
        % 8
        == 0
    )
    und = (
        li.select(a, b)
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .where(keep)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    okey = deg.select("node", (F.col("d") * (_TRI_NODES * 2) + F.col("node")).alias("k"))
    oriented = (
        und.join(okey.select(F.col("node").alias("u"), F.col("k").alias("ku")), "u")
        .join(okey.select(F.col("node").alias("v"), F.col("k").alias("kv")), "v")
        .select(
            F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.greatest("ku", "kv").alias("dst_k"),
        )
    )
    w1 = oriented.select(
        F.col("src").alias("wsrc"), F.col("dst").alias("b1"), F.col("dst_k").alias("k1")
    )
    w2 = oriented.select(
        F.col("src").alias("wsrc"), F.col("dst").alias("b2"), F.col("dst_k").alias("k2")
    )
    closer = oriented.select(F.col("src").alias("b1"), F.col("dst").alias("b2"))
    tri = (
        w1.join(w2, "wsrc")
        .where(F.col("k1") < F.col("k2"))
        .join(closer, ["b1", "b2"], "left_semi")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    stats = (
        deg.agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges"),
        )
        .crossJoin(F.broadcast(und.agg(F.count("*").cast("bigint").alias("n_edges"))))
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(f"3 * n_triangles * {_TRI_SCALE} div n_wedges")
        .cast("bigint")
        .alias("clustering_fp"),
    )


# --------------------------------------------------------------------------
# Label propagation communities (synchronous, deterministic tie-break)
# --------------------------------------------------------------------------
_LPA_ROUNDS = 2


def _lpa_round_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT n.node, COALESCE(p.lab, n.lab) AS lab
  FROM {prev} n LEFT JOIN (
    SELECT node, lab FROM (
      SELECT e.dst AS node, l.lab, COUNT(*) AS c,
             row_number() OVER (PARTITION BY e.dst
                                ORDER BY COUNT(*) DESC, l.lab ASC) AS rn
      FROM sym e JOIN {prev} l ON l.node = e.src
      GROUP BY e.dst, l.lab
    ) WHERE rn = 1
  ) p ON p.node = n.node
)"""


_LPA_SQL = (
    f"""
WITH und AS (
  SELECT DISTINCT LEAST(l_orderkey % {_TRI_NODES}, l_partkey % {_TRI_NODES}) AS u,
         GREATEST(l_orderkey % {_TRI_NODES}, l_partkey % {_TRI_NODES}) AS v
  FROM lineitem
  WHERE l_orderkey % {_TRI_NODES} <> l_partkey % {_TRI_NODES}
),
sym AS (
  SELECT u AS src, v AS dst FROM und
  UNION ALL SELECT v, u FROM und
),
l0 AS (
  SELECT node, node AS lab FROM (
    SELECT DISTINCT u AS node FROM und UNION SELECT DISTINCT v FROM und
  )
),"""
    + ",".join(_lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(_LPA_ROUNDS))
    + f"""
SELECT node, lab AS community FROM l{_LPA_ROUNDS}
"""
)


@register(
    "graph_label_propagation",
    oracle=_LPA_SQL,
    tags=("graph", "communities", "iterative"),
    tables=("lineitem",),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection over the folded
    edge plane, {R} rounds unrolled.  Each node adopts its neighbors'
    most frequent label; ties break to the SMALLEST label, which (with
    synchronous updates) makes the whole algorithm deterministic — the
    async/random-order LPA of the original paper is irreproducible by
    construction and therefore un-oracle-able.

    Scale shape per round: edges⋈labels equi-join on src (one shuffle),
    a (dst, label) count aggregate with map-side partials, and a
    row_number top-1 inside the dst partitioning — the same two-exchange
    superstep cost as PageRank; no cartesian anywhere, hub fan-in is
    bounded by the count aggregate happening BEFORE the rank.  The edge
    plane is checkpointed ONCE and each round's labels are checkpointed
    (r15, guide §2.4/§7.2): the round body references ``labels`` twice
    (the superstep join AND the coalesce join-back), so the unrolled
    plan re-instantiated every earlier round — and the lineitem
    distinct — geometrically (interleaved A/B at sf0.1: 4.31 s unrolled
    vs 3.12 s truncated, min-of-4, and 8-30 s unrolled under host
    contention), where the truncated loop executes each exactly once.
    """
    from openalex_walden_spark.operators.checkpoints import run_truncated_loop
    from pyspark.sql.window import Window

    sym_holder: list[DataFrame] = []

    def seed() -> DataFrame:
        li = spark.table("lineitem")
        a = (F.col("l_orderkey") % _TRI_NODES).alias("a")
        b = (F.col("l_partkey") % _TRI_NODES).alias("b")
        und = (
            li.select(a, b)
            .where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
            # the expensive lineitem fold+distinct materializes once; every
            # round's superstep reads these blocks (pagerank's edge-plane
            # pattern) and the janitor releases them with the intermediates
            .localCheckpoint()
        )
        sym_holder.append(
            und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
                und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
            )
        )
        return (
            und.select(F.col("u").alias("node"))
            .union(und.select(F.col("v").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("lab"))
            .localCheckpoint()
        )

    def superstep(labels: DataFrame) -> DataFrame:
        counted = (
            sym_holder[0].join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy("dst", "lab")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("dst").orderBy(F.col("c").desc(), F.col("lab").asc())
        picked = (
            counted.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("dst").alias("node"), F.col("lab").alias("newlab"))
        )
        return labels.join(picked, "node", "left").select(
            "node", F.coalesce("newlab", "lab").alias("lab")
        )

    labels, _ = run_truncated_loop(spark, seed, superstep, _LPA_ROUNDS)
    return labels.select("node", F.col("lab").alias("community"))


# --------------------------------------------------------------------------
# Hierarchy flattening as a recursive CTE (the oracle's formulation)
# --------------------------------------------------------------------------
_HIER_FANOUT = 10  # synthetic tree: parent(c) = c div 10, roots are 1..9
# A BIGINT key has at most 19 digits, so its walk ends by depth 18; the
# loop needs one level more to come back empty (19 is the least level
# that walks 2^63 - 1 to its root).
_HIER_MAX_LEVEL = 19

_HIER_SQL = f"""
WITH RECURSIVE walk(node, cur, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  SELECT node, cur // {_HIER_FANOUT}, depth + 1
  FROM walk WHERE cur >= {_HIER_FANOUT}
)
SELECT node, cur::BIGINT AS root, depth::BIGINT AS depth
FROM walk WHERE cur < {_HIER_FANOUT}
"""

# The same walk in Spark's dialect.
_HIER_SPARK_SQL = f"""
WITH RECURSIVE walk(node, cur, depth) MAX RECURSION LEVEL {_HIER_MAX_LEVEL} AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  SELECT node, cur div {_HIER_FANOUT}, depth + 1
  FROM walk WHERE cur >= {_HIER_FANOUT}
)
SELECT node, CAST(cur AS BIGINT) AS root, CAST(depth AS BIGINT) AS depth
FROM walk WHERE cur < {_HIER_FANOUT}
"""


@register(
    "hierarchy_flatten_doubling",
    oracle=_HIER_SQL,
    tags=("graph", "hierarchy"),
    tables=("customer",),
)
def hierarchy_flatten_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten a parent-pointer hierarchy to (node, root, depth) under
    the synthetic ``parent(c) = c div 10`` tree (roots are the keys below
    10, negative keys included).  The name is historical (it was a
    pointer-doubling driver loop).  Spark 4.1 runs the oracle's own
    ``WITH RECURSIVE ... UNION ALL`` as one plan (``UnionLoop``), which
    builds without a Spark job and walks every key to its root, whether
    or not its parent key is a row.

    Two bounds hold the walk, and both fail loudly instead of truncating:

    - ``MAX RECURSION LEVEL`` (``_HIER_MAX_LEVEL`` = 19) is the deepest
      walk any BIGINT key can take, plus the empty closing level.
    - ``spark.sql.cteRecursionRowLimit`` (default 1,000,000) caps the
      rows the walk accumulates, Σ(depth + 1) over the keys: 63,894 at
      sf0.1 and 788,895 at sf1.  Past it the query raises
      ``RECURSION_ROW_LIMIT_EXCEEDED``.

    Scale shape: one filtered projection per level over the rows still
    walking, no join; every level runs at execution time, none at build.
    """
    return spark.sql(_HIER_SPARK_SQL)
