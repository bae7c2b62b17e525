"""The one checkpointed driver loop of the iterative operators.

``run_truncated_loop`` is the only code that iterates a DataFrame step
with per-round ``localCheckpoint``.  Its callers:

- ``pagerank.pagerank_fixedpoint`` — integer PageRank to its fixed point
  (citation centrality);
- ``components.connected_components`` — alternating-star components
  (near-duplicate clusters, and the density queries' overmerge split);
- ``institution_ancestors_lineage`` (queries/enrichmerge.py) — four
  rounds of pointer doubling;
- ``graph_label_propagation`` (queries/graphops.py) — a fixed number of
  label-propagation rounds.

Checkpoint blocks are PINNED in executor storage until unpersisted, and
a long-lived driver (or a bench basket running dozens of queries in one
session) accumulates them as quiet memory pressure.  The reference runs
these loops as one-shot notebook jobs whose per-iteration state dies
with the job; a Spark session does not tear down, so the loop releases
that state itself.  This module provides

- ``SESSION_SCOPE_LOCK`` — serializes the loop and the regions that
  scope session-global SQL confs (``session_confs``).  Spark SQL confs
  are session-global, not call-local, so two concurrent queries scoping
  them through one SparkSession would race; the repo's driver/bench are
  sequential, and the lock makes the assumption enforced rather than
  implied.
- ``CheckpointJanitor`` — attributes persistent-RDD ids to the loop's
  own checkpoints by snapshot-diffing ``getPersistentRDDs`` around each
  materialization, then releases every tracked checkpoint except the
  ones the returned DataFrame still needs.  Only ids the janitor itself
  attributed are ever unpersisted, so caller-side persisted data is
  untouched.  Attribution relies on no CONCURRENT persist activity in
  the same session, which the lock guarantees.
- ``fingerprint`` — the one-row, order-insensitive fingerprint a
  fixed-point loop compares between rounds.
"""

from __future__ import annotations

import contextlib
import threading
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# One lock per driver process: session confs are global to the session,
# and every SparkSession in this repo shares the one local JVM.
SESSION_SCOPE_LOCK = threading.RLock()


@contextlib.contextmanager
def session_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the block and restore the saved
    values after it, holding ``SESSION_SCOPE_LOCK`` throughout."""
    with SESSION_SCOPE_LOCK:
        saved: dict[str, str] = {}
        try:
            for key, value in confs.items():
                saved[key] = spark.conf.get(key)
                spark.conf.set(key, value)
            yield
        finally:
            for key, value in saved.items():
                spark.conf.set(key, value)


def fingerprint(df: DataFrame, cols: tuple[str, ...]) -> int:
    """Order-insensitive fingerprint of ``df`` over ``cols``: one Spark
    job and one driver row, so a convergence check stays O(1) on the
    driver.  The xxhash64 values are summed at decimal(38,0), because a
    BIGINT sum overflows and the session's ANSI mode raises on it."""
    row = df.select(
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
        F.count("*").alias("n"),
    ).first()
    return hash((str(row["h"]), row["n"]))


class CheckpointJanitor:
    """Track persistent-RDD ids created by the loop's checkpoints and
    unpersist all but the kept tags when the loop returns.

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
    until: tuple[str, ...] = (),
    compare_seed: bool = False,
) -> tuple[DataFrame, bool]:
    """Run up to ``rounds`` iterations of ``step`` from the seed that
    ``setup`` returns, checkpointing every round; returns the last round
    and whether it reached a fixed point.

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
    at one round's shape and executes every round exactly once.

    ``setup`` runs AFTER the janitor's id snapshot, so every checkpoint
    it takes (the seed itself, or a shared edge plane the ``step``
    closure captures) is attributed and released with the rounds.  The
    loop does not checkpoint the seed; ``setup`` does when the seed is
    worth freezing.

    Without ``until``, each round is an eager ``localCheckpoint`` and all
    ``rounds`` run.  With ``until`` (column names), each round is a lazy
    checkpoint that ``fingerprint(round, until)`` materializes — one job
    per round — and the loop stops at the first round whose fingerprint
    equals the previous one.  ``compare_seed`` also fingerprints the seed,
    so a seed that is already a fixed point stops after round 0.

    Everything except the returned round's blocks is released before
    returning.  ``spark.catalog.clearCache()`` does NOT free those: it
    clears the SQL CacheManager, and a ``localCheckpoint`` RDD is not in
    it.  They are released only when the driver garbage-collects the RDD
    and Spark's ContextCleaner unpersists it.
    """
    with SESSION_SCOPE_LOCK:
        jan = CheckpointJanitor(spark)
        keep: set[str] = set()
        try:
            cur = setup()
            tag = "setup"
            jan.mark(tag)
            prev = fingerprint(cur, until) if compare_seed else None
            converged = False
            for i in range(rounds):
                cur = step(cur).localCheckpoint(eager=not until)
                fp = fingerprint(cur, until) if until else None
                tag = f"round-{i}"
                jan.mark(tag)
                if until and fp == prev:
                    converged = True
                    break
                prev = fp
            keep = {tag}
            return cur, converged
        finally:
            jan.release(keep=keep)
