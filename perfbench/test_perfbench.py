"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

from perfbench import cdc, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _base(n: int = 200) -> list[dict]:
    lineitem = [(o, ln, o * 7 % 13, o % 5, float(ln * 3), 1000.0 + o, "NAR"[o % 3])
                for o in range(n // 4) for ln in range(1, 5)]
    return cdc.base_rows(lineitem)


def _stream(seed: int, batches: int = 5, rows: int = 60) -> list[list[dict]]:
    gen = cdc.ChangeGenerator(_base(), seed)
    return [gen.next_batch(rows) for _ in range(batches)]


def test_generator_is_deterministic_per_seed():
    assert _stream(7) == _stream(7)
    assert _stream(7) != _stream(8)


def test_generated_rows_keep_the_contract():
    base = _base()
    seqs = {r["id"]: {r["seq"]} for r in base}
    stale = deletes = total = 0
    for batch in _stream(3, batches=8):
        for r in batch:
            assert r["seq"] not in seqs.setdefault(r["id"], set()), "seq reused for one key"
            seqs[r["id"]].add(r["seq"])
            stale += r["seq"] < cdc.BASE_SEQ
            deletes += r["op"] == "D"
            total += 1
    assert abs(stale / total - cdc.STALE_SHARE) < 0.02
    assert abs(deletes / total - cdc.DELETE_SHARE) < 0.02


def test_base_keys_are_generated_and_unique():
    dup = [(1, 1, 5, 5, 2.0, 10.0, "N"), (1, 1, 5, 5, 2.0, 10.0, "N")]
    assert [r["id"] for r in cdc.base_rows(dup)] == [0, 1]


def _row(key: int, seq: int, qty: int | None, op: str = "U") -> dict:
    return {"id": key, "seq": seq, "op": op, "qty": qty}


def test_model_stale_delete_and_resurrection():
    m = cdc.StateModel()
    m.apply([_row(1, 100, 5), _row(2, 100, 7)])
    # batch 1: a stale row for key 1 loses; key 2 is updated
    m.apply([_row(1, 3, 99), _row(2, 200, 8)])
    assert m.summary() == cdc.Summary(rows=2, qty_sum=13, seq_sum=300)
    # batch 2: key 1 is deleted
    m.apply([_row(1, 300, None, "D")])
    assert m.summary() == cdc.Summary(rows=1, qty_sum=8, seq_sum=200)
    # batch 3: an upsert older than the tombstone stays deleted, a newer
    # one in the same batch resurrects the key
    m.apply([_row(1, 250, 40), _row(1, 400, 11)])
    assert m.summary() == cdc.Summary(rows=2, qty_sum=19, seq_sum=600)


def test_model_source_beats_target_on_equal_sequence():
    m = cdc.StateModel()
    m.apply([_row(1, 10, 5)])
    m.apply([_row(1, 10, 6)])
    assert m.summary() == cdc.Summary(rows=1, qty_sum=6, seq_sum=10)


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.RUNNERS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.LAYER_UNITS
