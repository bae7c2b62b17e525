"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real content lives in ``openalex_walden_spark.queries`` — this file
just adapts the CATALOG registry to the driver's shape.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from openalex_walden_spark import queries as _q  # noqa: E402

_q.load_all()

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    d0_works_build is the engine's signature shape: the nested walden
    works row built end-to-end (priority merge, authorship fusion,
    schema conformance) — the reference's CreateWorksBase plane.
    """
    spec = _q.CATALOG["d0_works_build"]
    return spec.spark(spark, SMOKE_SF_DIR)


# The driver's CORRECTNESS sweep verifies the FIRST 50 entries of
# ``queries()`` in insertion order, so the order below IS the hard
# sf0.01 re-verification schedule.  ``scripts/record_round.py <N>``
# writes ``driver_window_state.json`` from the driver's
# CORRECTNESS_r0N.json: per green query its round (``last_green``) and
# the verification key the row was taken on (``verified``), plus the
# ordered never-verified backlog (``pending``).  The key combines the
# committed analyzed-plan fingerprint (tests/plans_sf0001.json) with the
# committed golden hash (tests/goldens_sf0001.json); the parity suite
# pins both to the code.


def _load(*parts: str) -> dict:
    with open(os.path.join(_REPO_ROOT, *parts), encoding="utf-8") as f:
        return json.load(f)


_STATE = _load("driver_window_state.json")
_PLANS = _load("tests", "plans_sf0001.json")
_GOLDENS = _load("tests", "goldens_sf0001.json")
_LAST_GREEN: dict[str, int] = _STATE["last_green"]
_VERIFIED: dict[str, str] = _STATE["verified"]
_NEVER_VERIFIED_BACKLOG: list[str] = _STATE["pending"]
# Every green query, stalest round first (name tie-break).
_ROTATION = sorted(_LAST_GREEN, key=lambda n: (_LAST_GREEN[n], n))


def _verification_key(name: str) -> str:
    golden = _GOLDENS.get(name, {}).get("hash")
    return hashlib.sha256(f"{_PLANS.get(name)}:{golden}".encode()).hexdigest()


def _front() -> list[str]:
    """Green queries whose plan or output changed since their green row,
    stalest first.  A stale green *looks* verified, so it outranks even
    the never-verified backlog."""
    return [n for n in _ROTATION
            if n in _q.CATALOG and _verification_key(n) != _VERIFIED.get(n)]


def _driver_order() -> list[str]:
    """The front, then the never-verified backlog oldest-debt-first, then
    the other greens oldest-green-first, then queries added mid-round
    (not yet in the state file): those enter the backlog at the next
    boundary, while a long-unchecked green must win the slots now."""
    front = _front()
    rest = [n for n in _NEVER_VERIFIED_BACKLOG + _ROTATION
            if n in _q.CATALOG and n not in front]
    known = set(_NEVER_VERIFIED_BACKLOG) | set(_ROTATION)
    fresh = [n for n in _q.CATALOG if n not in known]
    return front + rest + fresh


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _q.CATALOG[name].spark for name in _driver_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted → rows-only check)."""
    return {
        name: _q.CATALOG[name].oracle
        for name in _driver_order()
        if _q.CATALOG[name].oracle is not None
    }
