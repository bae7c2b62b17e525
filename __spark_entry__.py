"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real content lives in ``openalex_walden_spark.queries`` — this file
just adapts the CATALOG registry to the driver's shape.
"""

from __future__ import annotations

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
# sf0.01 re-verification schedule.  ``driver_window_state.json``
# records each query's most-recent green CORRECTNESS round plus the
# ordered never-verified backlog; it is MACHINE-maintained — at round
# start, ``python scripts/record_round.py <N>`` ingests the driver's
# CORRECTNESS_r0N.json (green rows -> last_green=N, drained from
# pending) so no hand-edited per-round list can drift from the driver's
# actual artifacts (the round-8 failure mode).  ``_driver_order``
# fronts queries changed since their last green, then the backlog
# oldest-debt-first, then brand-new queries, then the stalest greens.
# Hand-maintained residue is only ``_CHANGED_THIS_ROUND`` /
# ``_WINDOW_EXEMPT`` — both mechanically audited against git AND
# against the committed output goldens by tests/test_driver_window.py.

_STATE_PATH = os.path.join(_REPO_ROOT, "driver_window_state.json")
with open(_STATE_PATH, encoding="utf-8") as _f:
    _STATE = __import__("json").load(_f)

# query name -> round of its most recent green driver row
_LAST_GREEN: dict[str, int] = {
    k: int(v) for k, v in _STATE["last_green"].items()
}

# Queries whose plan or semantics changed SINCE their last green driver
# row, so that row no longer vouches for current behavior.  These MUST
# win window slots even over never-verified new queries: a stale green
# is worse than an unchecked new query because it *looks* verified.
# Appended by the round as changes land; membership is cross-checked
# mechanically against git by tests/test_driver_window.py (queries whose
# defining module changed since the last round-boundary commit must be
# here or never-verified).
_CHANGED_THIS_ROUND: list[str] = [
    # Round 16.  Single-task scans are spread by one declaration,
    # ``register(..., spread=("orders",))`` (queries/registry.py): the
    # run closure re-registers each spread table as a round-robin
    # repartition while the query body runs.
    # - letten: its hand-placed REPARTITION hint sat above base's
    #   projection and the x4 winners Generate; the spread exchange now
    #   sits directly on the scan (1/4 of the rows cross it)
    "letten_parse_laureates",
    # - the orders_rp / orders_rp_reg side views hash-partitioned on
    #   o_orderkey; each becomes the round-robin spread.  Exchange
    #   counts are unchanged (every skeleton differs from the parent's
    #   only in that one partitioning, checked per query incl. the
    #   localCheckpoint sub-plans)
    "udf_award_normalize",
    "award_family_merge",
    "udf_award_family_battery",
    "udf_award_verdict_battery",
    "udf_award_salvage_s1",
    "udf_award_salvage_s2_multiid",
    "udf_award_salvage_s3_wrong_funder",
    "udf_award_guard_decision",
    "award_missing_grants_roadmap",
    "udf_award_registry_key_battery",
    # - OUTPUT change: the schmidt arm's synthesized pages key uniquely
    #   by construction (11 duplicate funder_award_ids at sf0.001 before;
    #   golden regenerated)
    "method5_parse_awards",
    # - r15 llmdata replans (doc_id repartition + lower(text) hoist)
    #   that the r15 ledger wrongly exempted as untouched
    "text_fingerprint_winnow",
    "dedup_connected_components",
    "decontaminate_eval_overlap",
    # - former parallelize_scan_sql sites whose last green predates the
    #   r15 regex repartition: their current plan (identical to the
    #   parent's, skeleton and normalized physical plan) has never had
    #   a driver row
    "anr_parse_projects",
    "arcadia_parse_grants",
    "blue_planet_parse_awards",
    "bmbf_parse_projects",
    "canada_council_prizes_parse",
    "carlsberg_parse_grants",
    "cn_province_awards_parse",
    "datacite_parse_ingest",
    "fellowship_directory_parse",
    "foundation_archive_parse",
    "fris_parse_projects",
    "microfunder_parse_awards",
    "mjff_parse_grants",
    "mmw_parse_grants",
    "nomis_parse_projects",
    "nuffield_parse_projects",
    "pcaarrd_parse_projects",
    "potter_parse_awards",
    "prize_pattern_parse",
    "rfbr_parse_projects",
    "rgc_hk_parse_awards",
    "threesixty_simple_parse",
    "tinyfunder_parse_awards",
    "twas_parse_awards",
    "vilcek_parse_prizes",
    "warren_alpert_parse_prizes",
    "wprest_parse_projects",
]

# Queries whose defining MODULE changed this round but whose own plan
# and semantics provably did not (e.g. a sibling query was added to the
# module, or a comment-only edit).  Each entry needs a reason the judge
# can check against the diff; tests/test_driver_window.py rejects any
# module-changed green query that is neither here nor in
# _CHANGED_THIS_ROUND.  Reset to {} at every round boundary.
#
# "Plan check" below means: planned at sf0.001 on this tree and on the
# parent commit, the physical-plan skeleton (the Exchange / Scan /
# Aggregate / Join / Generate sequence, Projects and exprIds stripped)
# and the normalized physical and optimized plans are identical.
_WINDOW_EXEMPT: dict[str, str] = {
    # Former parallelize_scan_sql sites whose r15 green row was taken on
    # the r15 repartition plan, which the spread reproduces exactly.
    name: (
        "spread declaration replaces the regex rewrite: the r15 green "
        "row was taken on the r15 repartition plan and the plan check "
        "(skeleton + normalized physical/optimized plan) is identical "
        "to the parent's; golden unchanged")
    for name in ("acmedsci_parse_awards", "laureate_prize_parse")
}
_WINDOW_EXEMPT.update({
    # Siblings in a module whose only edit is another query's spread
    # declaration (or, in sqludf.py, the removed orders_rp helper that
    # these queries never called).
    name: (
        "sibling-module flag only: the module's edit is a sibling "
        "query's spread declaration; this query's code is untouched and "
        "the plan check is identical to the parent's; golden unchanged")
    for name in (
        "award_label_entangled_holdback", "crossref_parse_ingest",
        "gtr_parse_awards", "irdb_jpcoar_ids", "kaken_parse_projects",
        "landing_page_stage", "mag_works_rebuild", "nwo_parse_awards",
        "pubmed_parse_ingest", "taiwan_grb_parse_awards",
        "udf_names_compatible_pairs", "udf_priority_best_fold",
        "wellcome_parse_grants",
    )
})
# Every query of a module flagged only for importing operators/
# checkpoints.py or operators/guardrails.py: both diffs are docstring
# text (clearCache() does not free localCheckpoint blocks; the
# ContextCleaner does, on driver GC), so no plan or output changes.
_IMPORT_FLAGGED = ("advanced", "domain2", "enrichmerge", "graphops",
                   "llmdata", "nested", "sketches", "timeseries")
_WINDOW_EXEMPT.update({
    name: (
        "import-flag only: the operators/checkpoints.py and "
        "operators/guardrails.py diffs are docstring-only (the "
        "localCheckpoint release note); this module is unedited; golden "
        "unchanged")
    for name, spec in _q.CATALOG.items()
    if spec.module.rsplit(".", 1)[-1] in _IMPORT_FLAGGED
    and name not in _CHANGED_THIS_ROUND
})

# Every query with a green driver row, stalest round first (name
# tie-break) — the tail of the re-verification schedule.
_ROTATION = [
    name for name, _ in sorted(_LAST_GREEN.items(), key=lambda kv: (kv[1], kv[0]))
]

# Ordered never-verified backlog (oldest debt first; round-9 additions
# queue behind the round-8 overflow).  Maintained by record_round.py:
# greens drain out, brand-new catalog entries append.
_NEVER_VERIFIED_BACKLOG = [n for n in _STATE["pending"]]


def _driver_order() -> list[str]:
    """Changed-since-last-green first, then the never-verified backlog
    oldest-debt-first, then every green query oldest-green-first, then
    queries added mid-round (not yet in the state file) last.

    Mid-round additions queue BEHIND the stale-green rotation (round-10
    change): they are parity+golden-green locally and enter the pending
    backlog at the next boundary (record_round.py), where they front the
    NEXT window — whereas a round-2 green has gone many rounds without a
    hard driver check and must win the contested slots now.  With the
    backlog large this is what keeps the drain schedule converging."""
    front = [n for n in _CHANGED_THIS_ROUND if n in _q.CATALOG]
    known = set(front) | set(_ROTATION) | set(_NEVER_VERIFIED_BACKLOG)
    backlog = [
        n for n in _NEVER_VERIFIED_BACKLOG
        if n in _q.CATALOG and n not in set(front)
    ]
    tail = [n for n in _ROTATION if n in _q.CATALOG and n not in set(front)]
    fresh = [n for n in _q.CATALOG if n not in known]
    return front + backlog + tail + fresh


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
