"""Fixed-point PageRank run to exact convergence.

The round-5 query unrolled 3 supersteps — a demo of the plan shape, not
the operator (a real centrality signal is the converged vector).  This
module is the real loop, with the same discipline as
``operators/components.py``:

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
  fingerprint (sum of per-row hashes), never by collecting scores.
- **Cycle-safe early stop.** The loop checks every ``CHECK_EVERY``
  rounds and caps at ``max_rounds`` — a multiple of ``CHECK_EVERY`` —
  so even if the integer dynamics fell into a short cycle instead of a
  fixed point, the early-stopped state equals the state after exactly
  ``max_rounds`` rounds (period divides the check interval, and the cap
  is congruent to every checkpointed round).  The unrolled oracle runs
  ``max_rounds`` iterations unconditionally; both sides agree in every
  case.

Scale shape per superstep: one equi-join edges ⋈ scores on src (the
edge plane is hash-partitioned on src once at setup, so only the |V|-row
score table moves) plus one dst-keyed partial aggregate.  Dangling-node
mass is dropped (standard simplification); damping d is applied as
(num * x) // den.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoints import SESSION_SCOPE_LOCK, CheckpointJanitor

PR_ONE = 1_000_000_000_000  # fixed-point 1.0
# Rounds between score checkpoints and convergence checks (the r13
# cadence A/B in SCALING.md found 1, 2 and 4 within host noise).
CHECK_EVERY = 2
# Session confs scoped to the loop (restored in a finally).  AQE would
# materialize every exchange of every superstep as its own job, and with
# the cardinalities known and constant (|V| rows per round) its runtime
# re-planning buys nothing; 8 partitions fit the |V|-row score table.
_LOOP_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
}


def _score_fingerprint(scores: DataFrame) -> int:
    """Order-insensitive one-row fingerprint of the score table (same
    pattern as components._edge_fingerprint: decimal sum of xxhash64,
    because the session's ANSI mode raises on BIGINT sum overflow)."""
    row = scores.select(
        F.coalesce(
            F.sum(F.xxhash64(F.col("node"), F.col("score")).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
        F.count("*").alias("n"),
    ).first()
    return hash((str(row["h"]), row["n"]))


def pagerank_fixedpoint(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping_num: int = 85,
    damping_den: int = 100,
    max_rounds: int = 44,
) -> DataFrame:
    """Run integer PageRank to its exact fixed point (capped at
    ``max_rounds``).  Returns ``(node, score)`` with BIGINT fixed-point
    scores (PR_ONE == 1.0).

    The plan (r13, the graph_pagerank_fixedpoint perf-weak fix) is
    SHUFFLE-JOIN supersteps over edges hash-partitioned on src ONCE at
    setup (LogicalRDD preserves the partitioning across the
    localCheckpoint), so per round only the |V|-row score table and the
    partial-aggregated inmass move — the classic Pregel plan: the edge
    plane never re-shuffles, and the scores are not re-shipped to every
    executor each round.  The loop runs under ``_LOOP_CONFS``: the r13
    job-count A/B measured 82 jobs / 10.8s for the broadcast plan with
    AQE on against 32 jobs / 6.5s for this one, on identical output
    (SCALING.md).  The scoped partition count also governs the ONE-TIME
    edge setup (distinct/degree/repartition), so pre-shape a huge edge
    plane upstream before calling this.
    """
    if max_rounds % CHECK_EVERY:
        raise ValueError("max_rounds must be a multiple of CHECK_EVERY")
    spark = edges.sparkSession
    saved: dict[str, str] = {}
    # Session confs are session-GLOBAL: the scope/restore below is only
    # sound while no concurrent query shares this SparkSession, so the
    # whole call serializes on SESSION_SCOPE_LOCK (which the checkpoint
    # janitor's id attribution also relies on).  The repo's driver and
    # bench are sequential; concurrent callers queue here instead of
    # racing the conf mutation.
    SESSION_SCOPE_LOCK.acquire()
    jan = CheckpointJanitor(spark)
    keep: set[str] = set()
    try:
        for key, value in _LOOP_CONFS.items():
            saved[key] = spark.conf.get(key)
            spark.conf.set(key, value)

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
        # repeats the degree join and every superstep's edges-side
        # shuffle is elided (LogicalRDD preserves the output
        # partitioning) — only the |V|-row score table moves per round.
        ed = e.join(outdeg, "src").repartition(F.col("src")).localCheckpoint()
        jan.mark("setup")

        base = (PR_ONE * (damping_den - damping_num)) // damping_den
        scores = nodes.select(
            "node", F.lit(PR_ONE).cast("bigint").alias("score")
        )
        prev_fp = None
        round_tag = "setup"
        for rnd in range(max_rounds // CHECK_EVERY):
            for _ in range(CHECK_EVERY):
                scores = _superstep(
                    ed, nodes, scores, base, damping_num, damping_den
                )
            # Lazy checkpoint: the fingerprint action materializes it —
            # one job per check instead of two.
            scores = scores.localCheckpoint(eager=False)
            fp = _score_fingerprint(scores)
            round_tag = f"round-{rnd}"
            jan.mark(round_tag)
            if fp == prev_fp:
                break
            prev_fp = fp
        # The returned DataFrame is the final (already-materialized)
        # checkpoint: its lineage is truncated to its own blocks, so the
        # setup plane and every earlier round can be released now.
        keep = {round_tag}
        return scores
    finally:
        jan.release(keep=keep)
        for key, value in saved.items():
            spark.conf.set(key, value)
        SESSION_SCOPE_LOCK.release()


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
