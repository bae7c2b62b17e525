"""Alternating large-star/small-star connected components.

The point of the algorithm (vs min-label propagation) is round count
independent of component diameter — a path graph longer than any sane
propagation bound must still converge. See operators/components.py.
"""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from openalex_walden_spark.operators.components import (
    _MAX_ROUNDS,
    connected_components,
)


def _groups(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df).collect()
    comp: dict[int, set[int]] = defaultdict(set)
    for r in out:
        comp[r["label"]].add(r["id"])
    return dict(comp)


def test_deep_path_graph_converges(spark):
    """Diameter 60 — three times the old propagation loop's bound."""
    comp = _groups(spark, [(i, i + 1) for i in range(60)])
    assert comp == {0: set(range(61))}


def test_mixed_components_label_by_minimum(spark):
    comp = _groups(
        spark,
        [(i, i + 1) for i in range(25)]  # path 0..25
        + [(100, 101), (101, 102), (100, 102)]  # triangle
        + [(200, 201)]  # pair
        + [(301, 300)],  # reversed pair: direction must not matter
    )
    assert set(comp) == {0, 100, 200, 300}
    assert comp[100] == {100, 101, 102}
    assert comp[200] == {200, 201}
    assert comp[300] == {300, 301}


def test_self_loops_and_duplicate_edges_ignored(spark):
    comp = _groups(spark, [(1, 1), (1, 2), (2, 1), (1, 2), (3, 3)])
    # 3 appears only in a self-loop: still a node, labels itself.
    assert comp == {1: {1, 2}, 3: {3}}


def test_round_count_is_logarithmic(spark, monkeypatch):
    """A diameter-64 path must finish in far fewer than 64 rounds —
    pin the O(log^2 n) behavior by capping rounds at 12."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src long, dst long"
    )
    out = connected_components(df, max_rounds=12).collect()
    assert {r["label"] for r in out} == {0}
    assert _MAX_ROUNDS >= 12  # default cap stays above the pinned bound


def test_string_ids_unsupported_shape_guard(spark):
    """Doc ids are BIGINT in the corpus; the operator itself is
    type-agnostic as long as min/greatest order — verify with strings."""
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    out = connected_components(df).collect()
    comp = defaultdict(set)
    for r in out:
        comp[r["label"]].add(r["id"])
    assert dict(comp) == {"a": {"a", "b", "c"}, "x": {"x", "y"}}


def test_unconverged_components_raise(spark):
    """A round cap the path cannot converge under raises instead of
    returning a partial labelling."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(df, max_rounds=1)


def test_star_input_stops_after_round_zero(spark):
    """The seed is fingerprinted too, so an input that is already a
    star (every edge points from a member at its component minimum)
    stops after round 0: three checkpoints, raw, seed and that one
    round."""
    from openalex_walden_spark.oracle import checkpoint_capture

    df = spark.createDataFrame([(i, 0) for i in range(1, 6)], "src long, dst long")
    with checkpoint_capture(spark) as frozen:
        out = connected_components(df)
    assert len(frozen) == 3
    assert {r["label"] for r in out.collect()} == {0}
