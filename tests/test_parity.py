"""Catalog-wide DuckDB parity: the local mirror of the driver's gate.

Every CATALOG entry with an oracle must match DuckDB exactly (row count,
column names, canonical values) at sf0.001. Entries without an oracle must
at least execute and return a stable schema.

Each query is ALSO pinned to two committed fingerprints: its golden
output hash (tests/goldens_sf0001.json; DuckDB parity alone cannot see a
change where the Spark query and its oracle move together) and its
normalized analyzed-plan fingerprint (tests/plans_sf0001.json).  A
mismatch means the output or the plan changed: either revert, or
regenerate with ``python scripts/gen_goldens.py <name>``; the driver
window fronts it (``__spark_entry__._driver_order``).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

from openalex_walden_spark import queries as q
from openalex_walden_spark.oracle import (
    checkpoint_capture,
    compare,
    plan_fingerprint,
)
from openalex_walden_spark.queries.advanced import _TR_CACHE
from openalex_walden_spark.tables import TABLES, load_table

q.load_all()

_WITH_ORACLE = sorted(name for name, s in q.CATALOG.items() if s.oracle)
_ROWS_ONLY = sorted(name for name, s in q.CATALOG.items() if not s.oracle)


def _committed(fname: str) -> dict:
    """A committed fingerprint file; a missing one fails the pins, not
    pytest collection."""
    path = os.path.join(os.path.dirname(__file__), fname)
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as f:
        return json.load(f)


GOLDENS = _committed("goldens_sf0001.json")
PLANS = _committed("plans_sf0001.json")

# The golden fingerprints are computed at the default test scale factor;
# runs against a different SPARK_GRAFT_TEST_SF_DIR still get full DuckDB
# parity, just not the cross-round drift pin.
_GOLDENS_APPLY = (
    os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    == "/root/testdata/sf0.001"
)

# Spark jobs each query launches while it is built (inside spec.spark(),
# before any action); every query not listed launches none.  The work
# such a job does is invisible to the plan pin and to a timing taken
# after the build.
BUILD_JOBS = {
    # `iterative`: driver loops (operators/checkpoints.py, the IVF trainer)
    "ann_ivf_trained_topk": 13,
    "dedup_connected_components": 51,
    "graph_label_propagation": 16,
    "graph_pagerank_fixedpoint": 49,
    "institution_ancestors_lineage": 22,
    "overmerge_density_split": 46,
    "overmerge_screened_density": 51,
    # train the IVF centroids (train_ivf_centroids, the trainer loop)
    "ann_recall_audit": 13,
    "search_hybrid_rrf": 13,
    # lazy localCheckpoint barriers run their broadcasts while built
    "author_name_evidence_clean": 1,
    "udf_award_guard_decision": 1,
    "udf_award_salvage_s1": 3,
    "udf_award_salvage_s2_multiid": 3,
    "udf_award_salvage_s3_wrong_funder": 3,
    # identity.assign_dense_ids/resolve_work_ids collect counts and a max
    "d2_cascade_run": 11,
    # stale_audit's mass-delete cap probe counts the stale ids
    "es_sync_stale_audit": 3,
    # three real merge_into_state rounds write the state it reads
    "j9_merge_state_rounds": 10,
    # llm.guarded_llm_pass meters a chunk to project the cost gate
    "llm_judge_verdicts": 6,
    # DECLARE/SET VAR run as eager SQL commands
    "s3_identifier_and_variables": 1,
}


@pytest.fixture(scope="session")
def fixture_schemas(spark, sf_dir):
    """Infer every fixture table's schema once, so no build counts an
    inference job."""
    for name in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            load_table(spark, sf_dir, name)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(name, spark, sf_dir, duck, jobs_in, fixture_schemas):
    spec = q.CATALOG[name]
    _TR_CACHE.clear()  # every caller of the IVF trainer pays its jobs
    with jobs_in(f"build:{name}") as jobs, checkpoint_capture(spark) as frozen:
        sdf = spec.spark(spark, sf_dir)
    # Driver-canon contract: the driver's canonicalizer does a raw
    # pandas sort_values over every output column, which crashes on
    # unhashable cell values (list/dict).  Top-level ARRAY/MAP/STRUCT
    # columns must be rendered as deterministic strings (to_json) in
    # BOTH dialects before they leave a query (round-10's
    # nihr_parse_awards red row was exactly this).
    bad = [
        f.name for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: top-level complex output columns {bad} violate the "
        f"driver-canonicalizer contract — render them with to_json in "
        f"both dialects"
    )
    res = compare(name, sdf, duck, spec.oracle)
    assert res.match, res.summary
    if _GOLDENS_APPLY:
        assert name in GOLDENS, (
            f"{name} has no committed golden — run "
            f"`python scripts/gen_goldens.py {name}`"
        )
        assert res.spark_golden == GOLDENS[name], (
            f"{name}: output changed vs committed golden "
            f"(got {res.spark_golden}, pinned {GOLDENS[name]}). If "
            f"intentional, regenerate with `python scripts/gen_goldens.py "
            f"{name}`; the window fronts it."
        )
        assert plan_fingerprint(sdf, frozen) == PLANS.get(name), (
            f"{name}: analyzed plan changed vs tests/plans_sf0001.json. If "
            f"intentional, regenerate with `python scripts/gen_goldens.py "
            f"{name}`; the window fronts it."
        )
        assert len(jobs) == BUILD_JOBS.get(name, 0), (
            f"{name}: building the query launched {len(jobs)} Spark jobs, "
            f"BUILD_JOBS pins {BUILD_JOBS.get(name, 0)}"
        )


def test_iterative_queries_have_build_job_pins():
    """Every `iterative` query is pinned to launch jobs at build time."""
    iterative = {n for n, s in q.CATALOG.items() if "iterative" in s.tags}
    assert iterative <= {n for n, c in BUILD_JOBS.items() if c}


def _assert_covers_catalog(pinned: dict, fname: str) -> None:
    missing = sorted(set(q.CATALOG) - set(pinned))
    stale = sorted(set(pinned) - set(q.CATALOG))
    assert not missing and not stale, (
        f"{fname} drift — missing: {missing}; stale: {stale}; "
        f"run `python scripts/gen_goldens.py`"
    )


def test_goldens_cover_catalog_exactly():
    """The goldens file and the catalog must track each other 1:1."""
    _assert_covers_catalog(GOLDENS, "goldens_sf0001.json")


def test_plans_cover_catalog_exactly():
    """The plan fingerprints and the catalog track each other 1:1."""
    _assert_covers_catalog(PLANS, "plans_sf0001.json")


def test_rows_only_bucket_stays_empty():
    """Every catalog query has a DuckDB oracle (the PAVA fit was the
    last rows-only entry, upgraded in round 7 via its minimax
    characterization).  Enforce the invariant so a future oracle-less
    entry is an explicit decision, not a silent downgrade."""
    assert _ROWS_ONLY == [], (
        f"queries without oracles appeared: {_ROWS_ONLY}"
    )


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    names = set(e.queries())
    oracles = e.oracle_sql()
    assert names, "queries() is empty"
    assert set(oracles) <= names
