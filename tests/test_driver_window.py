"""The driver verification window and the plan fingerprints behind it.

The driver re-verifies the first 50 ``queries()`` entries each round.
A query is "changed since its last driver verification" exactly when its
verification key (committed plan fingerprint + golden hash, both pinned
to the code by ``test_oracle_parity``) differs from the key its last
green row was taken on (``driver_window_state.json``).  These tests pin
how that front is derived and ordered, and that the fingerprint is
deterministic yet sees plan and Python-UDF changes.
"""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

import sys  # noqa: E402

if REPO not in sys.path:
    sys.path.insert(0, REPO)

import __spark_entry__ as e  # noqa: E402
from openalex_walden_spark import oracle  # noqa: E402
from openalex_walden_spark import queries as _q  # noqa: E402

WINDOW = 50


def test_changed_front_occupies_window_slots() -> None:
    """A changed green must win a slot over never-verified queries."""
    front = e._front()
    k = min(len(front), WINDOW)
    assert e._driver_order()[:k] == front[:k]


def test_derived_front_is_stalest_first(monkeypatch) -> None:
    """A key mismatch fronts the query ahead of the backlog, stalest
    ``last_green`` first."""
    stalest, pending, *middle, newest = e._ROTATION
    assert e._LAST_GREEN[stalest] < e._LAST_GREEN[newest]
    monkeypatch.setattr(e, "_ROTATION", [stalest, *middle, newest])
    monkeypatch.setattr(e, "_NEVER_VERIFIED_BACKLOG", [pending])
    monkeypatch.setattr(e, "_VERIFIED", {
        n: e._verification_key(n) for n in e._ROTATION
    })
    assert e._front() == []
    for n in (newest, stalest):
        e._VERIFIED[n] = "0" * 64
    assert e._driver_order()[:3] == [stalest, newest, pending]


def test_order_covers_catalog_exactly_once() -> None:
    order = e._driver_order()
    assert sorted(order) == sorted(_q.CATALOG)
    assert len(order) == len(set(order))


def test_window_state_invariants() -> None:
    """driver_window_state.json must partition the catalog: every query
    is either verified (with a round) or pending, never both, and the
    pending order carries no duplicates."""
    verified = set(e._LAST_GREEN)
    pending = e._NEVER_VERIFIED_BACKLOG
    assert len(pending) == len(set(pending)), "duplicate pending entries"
    assert not (verified & set(pending)), (
        f"in both verified and pending: {verified & set(pending)}"
    )
    assert set(e._VERIFIED) <= verified, "a verified key without a green row"
    catalog = set(_q.CATALOG)
    unknown = (verified | set(pending)) - catalog
    assert not unknown, f"state entries not in the catalog: {unknown}"
    # Catalog queries the state file has never seen are mid-round
    # additions: allowed, but ONLY at the very end of the driver order
    # (they must not displace the backlog/stale-green drain; they enter
    # pending at the next boundary via record_round.py and front the
    # next window from there).
    unseen = catalog - verified - set(pending)
    if unseen:
        order = e._driver_order()
        tail = set(order[-len(unseen):])
        assert unseen == tail, (
            f"mid-round catalog additions must sort last in the driver "
            f"order: {sorted(unseen - tail)} are not at the tail"
        )
    assert all(isinstance(r, int) and 2 <= r <= 99 for r in
               e._LAST_GREEN.values())


def test_state_greens_match_driver_artifacts() -> None:
    """Every last_green claim must be backed by the named CORRECTNESS
    artifact: the round-8 failure was bookkeeping drifting from the
    driver's actual output, so pin them together."""
    by_round: dict[int, list[str]] = {}
    for name, rnd in e._LAST_GREEN.items():
        by_round.setdefault(rnd, []).append(name)
    for rnd, names in sorted(by_round.items()):
        art = os.path.join(REPO, f"CORRECTNESS_r{rnd:02d}.json")
        assert os.path.exists(art), f"state claims round {rnd} but {art} missing"
        with open(art, encoding="utf-8") as f:
            rows = json.load(f)
        for n in names:
            r = rows.get(n)
            assert r, f"{n}: last_green={rnd} but no row in {art}"
            assert r.get("rows_match") and r.get("schema_match") and r.get(
                "hash_match"
            ), f"{n}: last_green={rnd} but the {art} row is not green: {r}"


def _fingerprint(spark, sf_dir, name: str) -> str:
    with oracle.checkpoint_capture(spark) as frozen:
        df = _q.CATALOG[name].spark(spark, sf_dir)
    return oracle.plan_fingerprint(df, frozen)


def test_plan_fingerprint_is_deterministic(spark, sf_dir) -> None:
    """CTE ids, lambda variables and checkpoint sub-plans come from
    session-wide counters; rebuilding after other queries ran must not
    move the fingerprint."""
    names = ["blue_planet_parse_awards",  # CTEs
             "d5_counts_by_year",  # PySpark lambdas
             "graph_pagerank_fixedpoint",  # localCheckpoint sub-plans
             "hierarchy_flatten_doubling",  # recursive CTE (UnionLoop ids)
             "nomis_parse_projects"]  # spread scan
    first = {n: _fingerprint(spark, sf_dir, n) for n in names}
    second = {n: _fingerprint(spark, sf_dir, n) for n in reversed(names)}
    assert first == second


def test_plan_fingerprint_sees_sql_not_comments(spark, sf_dir) -> None:
    from openalex_walden_spark.tables import register_views

    register_views(spark, sf_dir, ("orders",))
    sql = "SELECT o_orderkey FROM orders WHERE o_totalprice > {}"

    def fp(text: str) -> str:
        return oracle.plan_fingerprint(spark.sql(text))

    base = fp(sql.format(100))
    assert fp(sql.format(101)) != base
    assert fp("-- a comment\n" + sql.format("/* and another */ 100")) == base


def test_plan_fingerprint_folds_udf_module_source(
    spark, sf_dir, monkeypatch
) -> None:
    """The plan only names a Python UDF, so the source of the function's
    module is folded in: editing it moves the fingerprint."""
    base = _fingerprint(spark, sf_dir, "text_lang_id")
    read = oracle._module_source
    monkeypatch.setattr(oracle, "_module_source", lambda m: read(m) + (
        "\n# edited" if m == "openalex_walden_spark.functions.lid" else ""))
    assert _fingerprint(spark, sf_dir, "text_lang_id") != base


def test_plan_fingerprint_folds_sql_function_ddl(
    spark, sf_dir, monkeypatch
) -> None:
    """The plan only names a SQL function, so the DDL of each one it
    calls, and of the functions their bodies call, is folded in: editing
    award_strip, which the query reaches only through award_key's body,
    moves the fingerprint."""
    from openalex_walden_spark.functions import sql_udfs

    base = _fingerprint(spark, sf_dir, "udf_award_normalize")
    monkeypatch.setattr(sql_udfs, "_ALL", tuple(
        d.replace("'[ -]'", "'[ _-]'") if "FUNCTION award_strip(" in d else d
        for d in sql_udfs._ALL))
    assert _fingerprint(spark, sf_dir, "udf_award_normalize") != base
