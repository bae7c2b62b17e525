"""Fixed-point PageRank run to exact convergence.

The round-5 query unrolled 3 supersteps — a demo of the plan shape, not
the operator (a real centrality signal is the converged vector).  This
module is the real loop, driven by ``checkpoints.run_truncated_loop``,
the one checkpointed loop it shares with ``connected_components`` and
the truncated query loops:

- **Integer state.** Scores are BIGINT fixed-point (1.0 == 10^12);
  contributions are exact integer divisions and integer sums commute, so
  every engine, partitioning, and retry produces bit-identical scores —
  which is what makes "exact convergence" a well-defined stop condition
  AND lets a SQL oracle replay the whole loop as unrolled CTEs (extra
  iterations past the fixed point are no-ops).
- **Bounded lineage.** The edge⋈degree plane is localCheckpoint'ed
  once; the score table is localCheckpoint'ed every ``CHECK_EVERY``
  rounds, so the live plan never exceeds a constant number of joins no
  matter how many rounds run.
- **O(1) driver state.** Convergence is detected from a one-row score
  fingerprint (``checkpoints.fingerprint``), never by collecting scores.
- **Cycle-safe early stop.** The loop checks every ``CHECK_EVERY``
  rounds and caps at ``max_rounds`` — a multiple of ``CHECK_EVERY`` —
  so even if the integer dynamics fell into a short cycle instead of a
  fixed point, the early-stopped state equals the state after exactly
  ``max_rounds`` rounds (period divides the check interval, and the cap
  is congruent to every checkpointed round).  The unrolled oracle runs
  ``max_rounds`` iterations unconditionally; both sides agree in every
  case.

Scale shape per superstep: one equi-join (edges⋈degree) ⋈ scores on src
plus one dst-keyed partial aggregate.  Below the session's
``autoBroadcastJoinThreshold`` the planner broadcasts the edge⋈degree
checkpoint into every superstep after the first (``BroadcastHashJoin
... BuildLeft``; the first broadcasts the seed score table), measured at
sf0.001, sf0.01 and sf0.1; above it, the setup's ``repartition(src)``
serves the shuffle join, whose edge side then needs no exchange.  Dangling-node mass is dropped (standard simplification);
damping d is applied as (num * x) // den.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoints import run_truncated_loop, session_confs

PR_ONE = 1_000_000_000_000  # fixed-point 1.0
# Rounds between score checkpoints and convergence checks (the r13
# cadence A/B in SCALING.md found 1, 2 and 4 within host noise).
CHECK_EVERY = 2
# Session confs scoped to the loop.  AQE would materialize every
# exchange of every superstep as its own job, and with the cardinalities
# known and constant (|V| rows per round) its runtime re-planning buys
# nothing; 8 partitions fit the |V|-row score table.
_LOOP_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
}


def pagerank_fixedpoint(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_num: int = 85,
    damping_den: int = 100,
    max_rounds: int = 44,
) -> DataFrame:
    """Run integer PageRank to its exact fixed point (capped at
    ``max_rounds``; a capped run returns the state after ``max_rounds``).
    Returns ``(node, score)`` with BIGINT fixed-point scores
    (PR_ONE == 1.0).

    Setup checkpoints the edges, the node universe and the edge⋈degree
    plane, hash-partitioned on src (LogicalRDD preserves the
    partitioning across the localCheckpoint).  Each loop step runs
    ``CHECK_EVERY`` supersteps.  At fixture scale the edge⋈degree plane
    is under the session's ``autoBroadcastJoinThreshold``, so every
    superstep after the first broadcasts it (``BroadcastHashJoin ...
    BuildLeft``; the first broadcasts the seed score table) and only the
    dst-keyed partial aggregate shuffles; above the threshold
    the src partitioning lets the shuffle join move only the |V|-row
    score table.  The planner chooses by size, so the repartition stays.
    The loop runs under ``_LOOP_CONFS``: the r13 job-count A/B measured
    82 jobs / 10.8s with AQE on against 32 jobs / 6.5s with it off, on
    identical output (SCALING.md).  The scoped partition count also
    governs the ONE-TIME edge setup (distinct/degree/repartition), so
    pre-shape a huge edge plane upstream before calling this.
    """
    if max_rounds % CHECK_EVERY:
        raise ValueError("max_rounds must be a multiple of CHECK_EVERY")
    base = (PR_ONE * (damping_den - damping_num)) // damping_den
    plane: list[DataFrame] = []  # (ed, nodes), frozen by setup

    def setup() -> DataFrame:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        # One materialization of the (possibly expensive) edge lineage;
        # every superstep reuses it.
        e = e.localCheckpoint()
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint()
        )
        outdeg = e.groupBy("src").agg(F.count("*").alias("d"))
        # The per-edge contribution denominator is static: join it ONCE
        # and checkpoint AFTER hash-partitioning on src, so no superstep
        # repeats the degree join.
        ed = e.join(outdeg, "src").repartition(F.col("src")).localCheckpoint()
        plane.extend((ed, nodes))
        return nodes.select("node", F.lit(PR_ONE).cast("bigint").alias("score"))

    def step(scores: DataFrame) -> DataFrame:
        for _ in range(CHECK_EVERY):
            scores = _superstep(*plane, scores, base, damping_num, damping_den)
        return scores

    with session_confs(edges.sparkSession, _LOOP_CONFS):
        scores, _ = run_truncated_loop(
            edges.sparkSession, setup, step, max_rounds // CHECK_EVERY,
            until=("node", "score"),
        )
    return scores


def _superstep(
    ed: DataFrame,
    nodes: DataFrame,
    scores: DataFrame,
    base: int,
    damping_num: int,
    damping_den: int,
) -> DataFrame:
    """One Pregel superstep: equi-join (edges⋈degree) ⋈ scores on src,
    dst-keyed partial aggregate, damped rebase over the node universe."""
    inmass = (
        ed.join(scores.withColumnRenamed("node", "src"), "src")
        .select("dst", F.expr("score div d").alias("contrib"))
        .groupBy("dst")
        .agg(F.sum("contrib").alias("inmass"))
    )
    return nodes.join(inmass.withColumnRenamed("dst", "node"), "node", "left").select(
        "node",
        (
            F.lit(base)
            + F.expr(
                f"({damping_num} * coalesce(inmass, cast(0 as bigint)))"
                f" div {damping_den}"
            )
        )
        .cast("bigint")
        .alias("score"),
    )
