#!/usr/bin/env python
"""Regenerate the committed golden output and plan fingerprints.

Usage:
    python scripts/gen_goldens.py            # all catalog queries
    python scripts/gen_goldens.py q1 q2 ...  # refresh only the named ones

Writes one entry per catalog query to ``tests/goldens_sf0001.json``
(``{"rows": N, "hash": sha256}`` of the output, ``oracle.golden_hash``;
order-insensitive, so partition count and task order cannot perturb it)
and to ``tests/plans_sf0001.json`` (``oracle.plan_fingerprint``), at the
test scale factor (sf0.001 unless ``SPARK_GRAFT_TEST_SF_DIR`` points
elsewhere) with the SAME Spark session config as ``tests/conftest.py``,
so the parity suite reproduces both bit-for-bit.  A regenerated query
with a green driver row no longer matches the key that row was taken on,
so the driver window fronts it.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GOLDENS_PATH = os.path.join(REPO, "tests", "goldens_sf0001.json")
PLANS_PATH = os.path.join(REPO, "tests", "plans_sf0001.json")
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def main() -> int:
    from pyspark.sql import SparkSession

    from openalex_walden_spark import queries as q
    from openalex_walden_spark.oracle import (
        checkpoint_capture,
        golden_hash,
        plan_fingerprint,
    )

    q.load_all()
    only = set(sys.argv[1:])
    unknown = only - set(q.CATALOG)
    if unknown:
        print(f"unknown queries: {sorted(unknown)}", file=sys.stderr)
        return 2

    goldens, plans = (
        json.loads(Path(p).read_text(encoding="utf-8")) if os.path.exists(p)
        else {} for p in (GOLDENS_PATH, PLANS_PATH))

    # Mirror tests/conftest.py exactly — the parity suite must reproduce
    # every fingerprint this script writes.
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("openalex-walden-spark-goldens")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    names = sorted(only) if only else sorted(q.CATALOG)
    changed, failed = [], []
    for i, name in enumerate(names, 1):
        try:
            with checkpoint_capture(spark) as frozen:
                df = q.CATALOG[name].spark(spark, SF_DIR)
            g = golden_hash(df.toPandas(), df.schema)
            p = plan_fingerprint(df, frozen)
        except Exception as ex:  # noqa: BLE001
            failed.append(name)
            print(f"[{i}/{len(names)}] FAIL {name}: {str(ex)[:160]}")
            continue
        if (goldens.get(name), plans.get(name)) != (g, p):
            changed.append(name)
        goldens[name], plans[name] = g, p
        print(f"[{i}/{len(names)}] {name}: rows={g['rows']} {g['hash'][:12]} "
              f"plan {p[:12]}")
    spark.stop()

    # Drop entries for queries that no longer exist.
    stale = [n for n in goldens if n not in q.CATALOG]
    for path, pinned in ((GOLDENS_PATH, goldens), (PLANS_PATH, plans)):
        for n in stale:
            pinned.pop(n, None)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(dict(sorted(pinned.items())), f, indent=1, sort_keys=True)
            f.write("\n")
    print(
        f"\nwrote {GOLDENS_PATH} and {PLANS_PATH}: {len(goldens)} entries "
        f"({len(changed)} changed, {len(stale)} removed, {len(failed)} failed)"
    )
    if changed:
        print("changed (the driver window fronts any that are driver-green):")
        for n in changed:
            print(f"  {n}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
