#!/usr/bin/env python
"""Simulate the driver: entry() smoke + full queries()/oracle_sql() sweep.

Usage: python scripts/driver_sim.py [sf_dir]   (default /root/testdata/sf0.01)
This is the project's verify recipe (.claude/skills/verify/SKILL.md).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as e
    from openalex_walden_spark import queries as _q
    from pyspark.sql import SparkSession

    # Window audit: the driver verifies the FIRST 50 queries() entries.
    # The derived front (greens whose plan or output changed since their
    # green row) leads; whatever of it, or of the never-verified queries,
    # falls past slot 50 is verification debt.
    order = e._driver_order()
    assert sorted(order) == sorted(_q.CATALOG), "order != catalog"
    front = e._front()
    assert order[: len(front[:50])] == front[:50], "front not leading"
    print(f"derived front: {len(front)} changed-since-green queries")
    unverified = [n for n in order[50:] if n not in e._LAST_GREEN]
    for label, debt in (("changed greens", front[50:]),
                        ("never-verified queries", unverified)):
        if debt:
            print(f"VERIFICATION DEBT: {len(debt)} {label} wait for a "
                  f"later window:")
            for n in debt:
                print(f"  overflow: {n}")
    stale = [n for n in order[:50] if n in e._LAST_GREEN and n not in front]
    if stale:
        print(f"window re-verifies {len(stale)} stalest greens (oldest "
              f"round {min(e._LAST_GREEN[n] for n in stale)})")

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        # The full-catalog sweep runs 341 queries through ONE local-mode
        # session (driver == executor == one heap): accumulated codegen
        # classes, broadcast relations and checkpoint blocks exhausted
        # the 1g default right when the macro-expanded award-salvage SQL
        # (~1.7M-char expressions) hit janino (r14 session: driver OOM at
        # udf_award_salvage_s1, 314/341 in, reproduced at clean HEAD —
        # pre-existing, not an r14-change regression).  The real driver
        # verifies a 50-query window per round and never sees this
        # pressure; bench.py already runs at 16g for the same reason.
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert len(e.entry(spark).collect()) > 0, "entry() returned no rows"

    from openalex_walden_spark.oracle import canonical_rows, duckdb_connect

    con = duckdb_connect(sf)
    qs, osql = e.queries(), e.oracle_sql()
    fails = []
    for name, fn in sorted(qs.items()):
        try:
            # Round-boundary cache sweep (r14 ADVICE): the in-query
            # persist_scalar/persist_fixed_width sites (d6 tiers, DSIR
            # features, surprisal bigrams, bm25 postings, ...) cache
            # subplans the returned DataFrame still needs, so the QUERY
            # cannot unpersist them — the session owner must.  This
            # sweep is that owner for the 341-query single-heap run;
            # without it the caches accumulate across the whole catalog
            # (the same pressure that forced this script's 6g heap).
            spark.catalog.clearCache()
            sdf = fn(spark, sf).toPandas()
            if name in osql:
                ddf = con.sql(osql[name]).df()
                ok = (
                    len(sdf) == len(ddf)
                    and sorted(sdf.columns) == sorted(ddf.columns)
                    and canonical_rows(sdf) == canonical_rows(ddf)
                )
                kind = "oracle"
            else:
                ok = len(sdf.columns) > 0
                kind = "rows-only"
        except Exception as ex:  # noqa: BLE001
            ok, kind = False, f"ERROR {str(ex)[:120]}"
        print(("OK  " if ok else "FAIL"), f"{name:40s}", len(sdf) if ok else kind)
        if not ok:
            fails.append(name)
    print(f"\n{len(qs) - len(fails)}/{len(qs)} pass; FAILS: {fails}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
