"""Lifecycle discipline for ``localCheckpoint``-based iterative operators.

The iterative operators (``pagerank_fixedpoint``, ``connected_components``)
truncate per-round lineage with ``localCheckpoint``; the checkpoint blocks
are PINNED in executor storage until unpersisted, and a long-lived driver
(or a bench basket running dozens of queries in one session) accumulates
them as quiet memory pressure.  This module provides

- ``SESSION_SCOPE_LOCK`` — serializes regions that scope session-global
  SQL confs (``spark.sql.adaptive.enabled``, ``spark.sql.shuffle
  .partitions``) around an iterative loop.  Spark SQL confs are
  session-global, not call-local, so two concurrent queries scoping them
  through one SparkSession would race; the repo's driver/bench are
  sequential, and the lock makes the assumption enforced rather than
  implied (round-14 ADVICE item).
- ``CheckpointJanitor`` — attributes persistent-RDD ids to the operator's
  own checkpoints by snapshot-diffing ``getPersistentRDDs`` around each
  materialization, then releases every tracked checkpoint except the ones
  the returned DataFrame still needs.  Only ids the janitor itself
  attributed are ever unpersisted, so caller-side persisted data is
  untouched.  Attribution relies on no CONCURRENT persist activity in the
  same session — the same single-threaded-session contract the lock
  serializes, so operators hold the lock across their janitor lifetime.

Reference: the engine-parity note for this plane is SURVEY.md §2's graph
operators; the reference engine frees per-iteration state implicitly when
its operator pipeline tears down, which a Spark session does not.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# One lock per driver process: session confs are global to the session,
# and every SparkSession in this repo shares the one local JVM.
SESSION_SCOPE_LOCK = threading.RLock()


class CheckpointJanitor:
    """Track persistent-RDD ids created by an operator's checkpoints and
    unpersist all but the kept tags when the operator returns.

    Usage::

        jan = CheckpointJanitor(spark)
        a = df.localCheckpoint();        jan.mark("setup")
        ...
        out = step.localCheckpoint(eager=False)
        fingerprint(out)                 # materializes the lazy checkpoint
        jan.mark("round-3")
        ...
        jan.release(keep={"round-3"})    # frees setup + earlier rounds

    ``mark`` must be called after the checkpoint is MATERIALIZED (eager
    checkpoints: right after the call; lazy ones: after the action that
    forces them) — that is when the block-backed RDD appears in
    ``getPersistentRDDs``.
    """

    def __init__(self, spark: SparkSession) -> None:
        self._jsc = spark.sparkContext._jsc
        self._seen = self._ids()
        self._tracked: list[tuple[str, frozenset[int]]] = []

    def _ids(self) -> set[int]:
        out: set[int] = set()
        it = self._jsc.getPersistentRDDs().keySet().iterator()
        while it.hasNext():
            out.add(int(it.next()))
        return out

    def mark(self, tag: str) -> None:
        """Attribute every persistent id that appeared since the last
        snapshot to ``tag`` (re-using a tag unions into it)."""
        now = self._ids()
        new = frozenset(now - self._seen)
        self._seen = now
        self._tracked.append((tag, new))

    def release(self, keep: set[str]) -> int:
        """Unpersist (non-blocking) every tracked id whose tag is not in
        ``keep``; returns the number of RDDs released."""
        drop: set[int] = set()
        kept: set[int] = set()
        for tag, ids in self._tracked:
            (kept if tag in keep else drop).update(ids)
        drop -= kept
        released = 0
        it = self._jsc.getPersistentRDDs().entrySet().iterator()
        while it.hasNext():
            entry = it.next()
            if int(entry.getKey()) in drop:
                entry.getValue().unpersist(False)
                released += 1
        return released


def run_truncated_loop(
    spark: SparkSession,
    setup: Callable[[], DataFrame],
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
) -> DataFrame:
    """Run a fixed number of ``step`` iterations with per-round
    ``localCheckpoint`` lineage truncation (r15 optimization, guide
    §2.4/§7.2 "duplicated subtrees").

    An unrolled DataFrame loop whose body references the loop variable
    more than once (pointer doubling: ``t ⋈ t``; label propagation:
    ``labels ⋈ picked(labels)``) grows its PLAN — and its executed
    work — geometrically: round k's result embeds 2-3 copies of round
    k-1, so four unrolled rounds instantiate the seed 16-81 times
    (measured: institution_ancestors_lineage scanned its input 243x in
    the static plan and ran 5.6-11.8 s at sf0.1 where the checkpointed
    loop runs 2.2-2.4 s; interleaved same-session A/B, min-of-4).
    Runtime exchange reuse dedupes identical EXCHANGES, never the joins
    and aggregates above them.  Checkpointing each round bounds the plan
    at one round's shape and executes every round exactly once — the
    same discipline as ``pagerank_fixedpoint``/``connected_components``.

    ``setup`` builds the loop seed AFTER the janitor's id snapshot, so
    any checkpoint it takes internally (a shared edge plane the closure
    captures) is attributed and released with the intermediates.
    Everything except the FINAL round's blocks is released before
    returning; the returned (already-materialized) DataFrame keeps only
    its own blocks pinned.  ``spark.catalog.clearCache()`` does NOT
    free them: it clears the SQL CacheManager, and a ``localCheckpoint``
    RDD is not in it.  The final-round blocks are released only when
    the driver garbage-collects the RDD and Spark's ContextCleaner
    unpersists it.  The lock serializes the janitor's persistent-id
    attribution and is the engine-wide single-threaded-session
    contract.
    """
    with SESSION_SCOPE_LOCK:
        jan = CheckpointJanitor(spark)
        keep: set[str] = set()
        try:
            cur = setup().localCheckpoint()
            jan.mark("setup")
            tag = "setup"
            for i in range(rounds):
                cur = step(cur).localCheckpoint()
                tag = f"round-{i}"
                jan.mark(tag)
            keep = {tag}
            return cur
        finally:
            jan.release(keep=keep)
