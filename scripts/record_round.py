#!/usr/bin/env python
"""Round-start bookkeeping: ingest the driver's CORRECTNESS artifact.

Usage: python scripts/record_round.py <round>   # e.g. 9

Reads ``CORRECTNESS_r0<round>.json`` (the driver's hard sf0.01 sweep of
the first 50 ``queries()`` entries) and updates
``driver_window_state.json``:

  * every fully-green row (rows+schema+hash) gets ``last_green = round``
    and ``verified`` = the query's current verification key (its
    committed plan fingerprint combined with its golden hash, i.e. what
    the driver just checked), and leaves the never-verified pending list;
  * red rows keep their previous state (a failed re-check must not mint
    a green);
  * catalog queries the state file has never seen are appended to
    pending (new additions queue behind older debt).

Run it on the tree the driver verified, before any new change lands.
From then on a query whose plan or output is regenerated
(``scripts/gen_goldens.py <name>``) no longer matches its ``verified``
key, and the window fronts it; nothing is reset by hand.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STATE_PATH = os.path.join(REPO, "driver_window_state.json")
SCALING_PATH = os.path.join(REPO, "SCALING.md")
BEST_ROUND = 8  # the all-time-best headline round the 2x bar is measured against


def _bench_payload(rnd: int) -> dict | None:
    """Load the driver's BENCH_r{N}.json and return the parsed bench line."""
    path = os.path.join(REPO, f"BENCH_r{rnd:02d}.json")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        art = json.load(f)
    return art.get("parsed") or art


def emit_drift_table(rnd: int) -> str | None:
    """Render the calibration-normalized drift table for round ``rnd``
    FROM THE DRIVER'S OWN BENCH ARTIFACTS (round-12 verdict #3: the
    hand-written r12 table cited an in-round session that the driver's
    committed artifact superseded — generating the table here means the
    two can never diverge again).

    Compares BENCH_r{rnd} against BENCH_r{rnd-1} and the r8 all-time
    best, normalizing by the cpu calibration ratio where both rounds
    carry a ``calib`` payload (r11 onward).  Appends the section to
    SCALING.md if a same-round generated section is not already there.
    """
    cur = _bench_payload(rnd)
    prev = _bench_payload(rnd - 1)
    best = _bench_payload(BEST_ROUND)
    if not cur or not cur.get("queries"):
        return None
    lines: list[str] = []
    lines.append(
        f"## Round {rnd} — driver-artifact drift table "
        f"(generated by record_round.py)"
    )
    lines.append("")
    lines.append(
        f"Source: BENCH_r{rnd:02d}.json (headline {cur.get('value')}s)"
        + (f" vs BENCH_r{rnd - 1:02d}.json ({prev.get('value')}s)" if prev else "")
        + (f" vs r{BEST_ROUND} best ({best.get('value')}s)." if best else ".")
    )
    lines.append("")
    ccur, cprev = cur.get("calib") or {}, (prev or {}).get("calib") or {}
    cpu_ratio = None
    if ccur.get("cpu") and cprev.get("cpu"):
        cpu_ratio = ccur["cpu"] / cprev["cpu"]
        jobs_ratio = (
            ccur["jobs"] / cprev["jobs"]
            if ccur.get("jobs") and cprev.get("jobs")
            else None
        )
        lines.append("| calib | r%d | r%d | ratio |" % (rnd - 1, rnd))
        lines.append("|---|---|---|---|")
        lines.append(
            f"| cpu (codegen throughput) | {cprev['cpu']} s | {ccur['cpu']} s "
            f"| {cpu_ratio:.2f} |"
        )
        if jobs_ratio is not None:
            lines.append(
                f"| jobs (scheduling latency) | {cprev['jobs']} s "
                f"| {ccur['jobs']} s | {jobs_ratio:.2f} |"
            )
        lines.append("")
    qcur = cur["queries"]
    qprev = (prev or {}).get("queries") or {}
    qbest = (best or {}).get("queries") or {}
    spread = cur.get("spread5") or {}
    hdr = f"| query | r{BEST_ROUND} | r{rnd - 1} | r{rnd} | r{rnd}/r{BEST_ROUND}"
    if cpu_ratio:
        # the calib pair exists only for (rnd-1, rnd), so it can
        # normalize ONLY the round-over-round drift — r8 carries no
        # calib payload, so r{N}/r8 stays raw
        hdr += f" | r{rnd}/r{rnd - 1} cpu-norm"
    hdr += " | spread5 |"
    lines.append(hdr)
    lines.append("|---|" + "---|" * (hdr.count("|") - 2))
    flagged = 0
    for name in sorted(qcur, key=lambda n: -qcur[n]):
        b, p, c = qbest.get(name), qprev.get(name), qcur[name]
        vs_best = c / b if b else None
        vs_prev = c / p if p else None
        # emit rows that are expensive or drifting — the full 36-row
        # dump buries the signal the table exists to surface
        if c < 1.0 and (vs_best or 0) < 1.3 and (vs_prev or 0) < 1.3:
            continue
        flagged += 1
        row = f"| {name} | {b if b is not None else '—'} | " \
              f"{p if p is not None else '—'} | {c}"
        row += f" | {vs_best:.2f}x" if vs_best else " | —"
        if cpu_ratio:
            row += f" | {vs_prev / cpu_ratio:.2f}x" if vs_prev else " | —"
        row += f" | {spread.get(name, '—')} |"
        lines.append(row)
    lines.append("")
    lines.append(
        f"Headline {cur.get('value')}s"
        + (
            f" = {cur['value'] / best['value']:.2f}x the r{BEST_ROUND} best"
            if best
            else ""
        )
        + (
            f"; cpu-calib r{rnd}/r{rnd - 1} = {cpu_ratio:.2f} "
            "(ratios < 1 mean this session's host ran faster)."
            if cpu_ratio
            else "."
        )
    )
    lines.append("")
    section = "\n".join(lines)
    marker = lines[0]
    with open(SCALING_PATH, encoding="utf-8") as f:
        scaling = f.read()
    if marker in scaling:
        return section  # already appended for this round
    with open(SCALING_PATH, "a", encoding="utf-8") as f:
        if not scaling.endswith("\n"):
            f.write("\n")
        f.write("\n" + section)
    return section


def main() -> int:
    if len(sys.argv) != 2 or not sys.argv[1].isdigit():
        print(__doc__)
        return 2
    rnd = int(sys.argv[1])
    art = os.path.join(REPO, f"CORRECTNESS_r{rnd:02d}.json")
    if not os.path.exists(art):
        print(f"missing {art}", file=sys.stderr)
        return 1
    with open(art, encoding="utf-8") as f:
        rows = json.load(f)
    with open(STATE_PATH, encoding="utf-8") as f:
        state = json.load(f)

    import __spark_entry__ as e

    q = e._q

    greens = sorted(
        name for name, r in rows.items()
        if r.get("rows_match") and r.get("schema_match") and r.get("hash_match")
    )
    reds = sorted(set(rows) - set(greens))
    for name in greens:
        if name not in q.CATALOG:
            print(f"  note: green row for retired query {name!r} ignored")
            continue
        state["last_green"][name] = rnd
        state["verified"][name] = e._verification_key(name)
    state["pending"] = [
        n for n in state["pending"]
        if n in q.CATALOG and n not in state["last_green"]
    ]
    known = set(state["last_green"]) | set(state["pending"])
    fresh = [n for n in q.CATALOG if n not in known]
    state["pending"].extend(fresh)
    for key in ("last_green", "verified"):
        state[key] = {
            k: v for k, v in sorted(state[key].items())
            if k in q.CATALOG
        }

    with open(STATE_PATH, "w", encoding="utf-8") as f:
        json.dump(state, f, indent=1)
        f.write("\n")
    print(
        f"round {rnd}: {len(greens)} greens recorded, {len(reds)} reds "
        f"unchanged {reds if reds else ''}\n"
        f"state: {len(state['last_green'])} verified, "
        f"{len(state['pending'])} pending"
    )
    print(
        "from here on, regenerate a changed query with "
        "`python scripts/gen_goldens.py <name>`; the window fronts it"
    )
    section = emit_drift_table(rnd)
    if section:
        print(f"drift table for round {rnd} appended to SCALING.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
