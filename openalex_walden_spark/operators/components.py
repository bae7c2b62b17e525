"""Connected components via alternating large-star / small-star.

The dedup-clustering step (after near-dup pair detection) needs connected
components over the similarity graph. Plain min-label propagation converges
in O(diameter) shuffle rounds — fine for shallow dup clusters, a
scale-killer for long chains (a 10M-node path graph would need 10M rounds).
The alternating-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — public paper, no reference-repo
counterpart) converges in O(log^2 n) rounds regardless of diameter, with
each round expressed as one groupBy + one join: exactly the plan shape
Spark executes well at 100 TB.

Semantics of one round over the (symmetric) edge set E:

- ``large-star``: for each node u, let m = min(N(u) + {u}); connect every
  *strictly larger* neighbour v > u directly to m.
- ``small-star``: orient edges toward the smaller endpoint (key by the
  larger one); let m = min(N(u) + {u}); connect u and every neighbour
  except m itself directly to m.

Both preserve connectivity and never increase the minimum label of a
component; at fixpoint every component is a star centred on its minimum
member, so labels fall out of the final edge set without a separate
propagation pass.

The rounds run in ``checkpoints.run_truncated_loop``, the one checkpointed
loop this operator shares with PageRank and the truncated query loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoints import run_truncated_loop

# 2^50 nodes is far beyond any realistic graph; the alternating-star round
# bound is O(log^2 n) but observed convergence is ~log2(n) rounds.
_MAX_ROUNDS = 50


def _dedup(edges: DataFrame) -> DataFrame:
    return edges.where(F.col("u") != F.col("v")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbour v > u, where m = min(N(u) + {u})."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return _dedup(
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Key by the larger endpoint; connect u and all neighbours to m."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    m = directed.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    # Emit (v, m) for every neighbour plus (u, m) — as a join + union
    # rather than collect_set/explode, so no per-node array ever
    # materializes (the min-side of a big component is high-degree).
    nbr_edges = directed.join(m, "u").select(
        F.col("v").alias("n"), F.col("m")
    )
    self_edges = m.select(F.col("u").alias("n"), F.col("m"))
    return _dedup(
        nbr_edges.unionByName(self_edges)
        .where(F.col("n") != F.col("m"))
        .select(F.col("n").alias("u"), F.col("m").alias("v"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = _MAX_ROUNDS,
) -> DataFrame:
    """Labels every node reachable through ``edges`` with its component's
    minimum node id. Returns ``(id, label)``; isolated nodes (absent from
    the edge list) are the caller's concern.

    Rounds are O(log^2 n) in the worst case and each round's lineage is
    truncated with localCheckpoint, so the logical plan stays
    constant-size no matter how many rounds run (same rationale as the
    propagation loop this replaces: Catalyst plans double per iteration
    otherwise).
    """
    # Checkpoint the raw projection ONCE, before the loop: both the seed
    # and the node universe derive from it, so the caller's (possibly
    # expensive) edge lineage executes exactly one time.  The loop
    # releases the seed and every round but the last; `raw` and the
    # final round stay pinned because the RETURNED lazy DataFrame still
    # reads both — the caller may unpersist them after materializing.
    # The seed is fingerprinted too, so an input that is already a star
    # stops after round 0.
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    cur, converged = run_truncated_loop(
        edges.sparkSession,
        lambda: _dedup(raw).localCheckpoint(),
        lambda e: _small_star(_large_star(e)),
        max_rounds,
        until=("u", "v"),
        compare_seed=True,
    )
    if not converged:
        raise RuntimeError(
            f"alternating-star did not converge in {max_rounds} rounds"
        )
    # Fixpoint edges form stars centred on component minima: every
    # non-root points at its root. Roots label themselves.
    nodes = (
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    root_of = cur.groupBy(F.col("u").alias("id")).agg(
        F.min("v").alias("label")
    )
    return nodes.join(root_of, "id", "left").select(
        "id", F.coalesce(F.col("label"), F.col("id")).alias("label")
    )
