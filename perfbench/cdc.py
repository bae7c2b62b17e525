"""Seeded change-data generator for the ``cdc_stream`` workload, and the
model of the merge contract its reads are checked against.

Pure Python: nothing here imports Spark, so the generator and the model
are tested on their own (``perfbench/test_perfbench.py``).

Sequence numbers are laid out so that no two rows for one key ever share
a value, which keeps the expected state independent of tie-breaking:

* base rows carry ``BASE_SEQ``;
* the i-th row of batch b carries ``2 * ((b + 1) * BATCH_STRIDE + i)``,
  even and above ``BASE_SEQ``, growing with every batch;
* stale (out-of-order) rows take odd numbers from one global counter,
  always below ``BASE_SEQ``, so each loses to every row already stored.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

BASE_SEQ = 1_000_000
BATCH_STRIDE = 1_000_000

STALE_SHARE = 0.10
DELETE_SHARE = 0.05
INSERT_SHARE = 0.05


@dataclass(frozen=True)
class Summary:
    """What a read of the live state is compared on."""

    rows: int
    qty_sum: int
    seq_sum: int


def base_rows(lineitem: list[tuple]) -> list[dict]:
    """Initial state derived from lineitem rows
    ``(orderkey, linenumber, partkey, suppkey, quantity, extendedprice,
    returnflag)``.

    ``(l_orderkey, l_linenumber)`` is not unique in the fixtures, so the
    key is generated: the row's index after a total sort.
    """
    out = []
    for i, (ok, ln, _pk, _sk, qty, price, flag) in enumerate(sorted(lineitem)):
        out.append({
            "id": i, "seq": BASE_SEQ, "op": "U", "qty": int(qty),
            "price": float(price), "orderkey": int(ok), "linenumber": int(ln),
            "flag": flag,
        })
    return out


class ChangeGenerator:
    """Produces change batches against a state that starts as ``base``.

    Each batch holds upserts of existing keys (which resurrect deleted
    ones), about 10% stale out-of-order rows, about 5% deletes of live
    keys and about 5% inserts of new keys. The same seed and base give
    the same batches.
    """

    def __init__(self, base: list[dict], seed: int):
        self._rng = random.Random(seed)
        self._known = [r["id"] for r in base]
        self._deleted: set[int] = set()
        self._next_id = max(self._known, default=-1) + 1
        self._stale_counter = 0
        self._batches = 0

    def next_batch(self, n_rows: int) -> list[dict]:
        rng = self._rng
        b = self._batches
        self._batches += 1
        n_stale = round(n_rows * STALE_SHARE)
        n_del = round(n_rows * DELETE_SHARE)
        n_ins = round(n_rows * INSERT_SHARE)
        n_upd = n_rows - n_stale - n_del - n_ins

        pool = rng.sample(self._known, min(len(self._known), n_upd + 2 * n_del))
        deletes = [k for k in pool if k not in self._deleted][:n_del]
        # Upserts draw from every known key: a deleted key that comes up
        # is resurrected by its newer sequence.
        chosen = set(deletes)
        upserts = [k for k in pool if k not in chosen][:n_upd]
        inserts = list(range(self._next_id, self._next_id + n_ins))
        self._next_id += n_ins

        rows: list[dict] = []

        def seq() -> int:
            return 2 * ((b + 1) * BATCH_STRIDE + len(rows))

        for k in upserts + inserts:
            rows.append(self._row(k, seq(), "U"))
        for k in deletes:
            rows.append({"id": k, "seq": seq(), "op": "D", "qty": None, "price": None,
                         "orderkey": None, "linenumber": None, "flag": None})
        for k in rng.sample(self._known, min(len(self._known), n_stale)):
            self._stale_counter += 1
            stale_seq = 2 * self._stale_counter + 1
            if stale_seq >= BASE_SEQ:
                raise ValueError("stale sequence space exhausted")
            rows.append(self._row(k, stale_seq, "U"))

        self._known.extend(inserts)
        self._deleted.difference_update(upserts)
        self._deleted.update(deletes)
        rng.shuffle(rows)
        return rows

    def _row(self, key: int, seq: int, op: str) -> dict:
        rng = self._rng
        return {
            "id": key, "seq": seq, "op": op, "qty": rng.randint(1, 50),
            "price": round(rng.uniform(900.0, 105_000.0), 2),
            "orderkey": rng.randint(1, 6_000_000), "linenumber": rng.randint(1, 7),
            "flag": rng.choice("ANR"),
        }


class StateModel:
    """The merge contract, row by row: per key the highest sequence wins;
    a source row beats the stored row on a tie; a delete stores a
    tombstone that beats older upserts; a newer upsert resurrects."""

    def __init__(self) -> None:
        # id -> (seq, qty, deleted)
        self._state: dict[int, tuple[int, int, bool]] = {}

    def apply(self, batch: list[dict]) -> None:
        winners: dict[int, dict] = {}
        for r in batch:
            w = winners.get(r["id"])
            if w is not None and w["seq"] == r["seq"]:
                raise ValueError(f"two source rows for key {r['id']} share seq {r['seq']}")
            if w is None or r["seq"] > w["seq"]:
                winners[r["id"]] = r
        for k, r in winners.items():
            cur = self._state.get(k)
            if cur is None or r["seq"] >= cur[0]:  # source beats target on ties
                self._state[k] = (r["seq"], r["qty"] or 0, r["op"] == "D")

    def summary(self) -> Summary:
        live = [v for v in self._state.values() if not v[2]]
        return Summary(len(live), sum(v[1] for v in live), sum(v[0] for v in live))
