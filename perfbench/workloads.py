"""The benchmark's two workloads, each pinned to its own list of work.

Both run in one process against the engine's public functions, on the
committed fixtures, and check every output:

* ``nightly_dag`` runs a pinned slice of the ``walden_end2end`` DAG in
  execution-wave order, writes each task's output as parquet, then runs
  the guardrails -> export -> smoke tail the way ``tests/test_end2end.py``
  composes it.
* ``cdc_stream`` lands seeded change batches as JSON files and drains each
  through ``streaming.scd1.run_scd1_stream`` into bucketed merge state,
  then reads the state back and checks it against ``cdc.StateModel``.

The seed drives the CDC batches; the DAG reads the fixed fixtures. Set-up
is timed as ``setup_s``: session start, catalog import, and one cold pass
whose outputs are checked, which is also the warm-up at the timed size.
Timed passes follow; Spark's cache is cleared before every op.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import traceback
from time import perf_counter

from perfbench import cdc
from perfbench.trace import median

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDENS_PATH = os.path.join(CHECKOUT, "tests", "goldens_sf0001.json")

# Pinned slice of pipelines.registry.END2END, as (task, query) in
# execution-wave order: the Crossref ingest parse, the union and the
# priority merge on the way to Works_Base, then the model inference,
# enrichment merge and snapshot-shape tasks after it.
DAG_TASKS = (
    ("Crossref_Ingest_DLT", "crossref_parse_ingest"),
    ("Union", "u1_conform_union"),
    ("Superlocations", "d1_priority_merge"),
    ("Works_Base", "d0_works_build"),
    ("SDG_Frontfill", "s8_model_inference"),
    ("Works_Enriched", "j9_merge_scd1_batch"),
    ("Full_Snapshot", "s6_json_export_shape"),
)
DAG_TAIL_QUERY = "d0_works_enriched"

# Fixture scale factors: the DAG is checked and timed on the one the
# goldens pin; the CDC state is derived from the next one up.
QUERY_SF = "sf0.001"
CDC_SF = "sf0.01"
CDC_BATCH_ROWS = 2_000
CDC_WARMUP_BATCHES = 6
CDC_SCHEMA = (
    "id bigint, seq bigint, op string, qty bigint, price double, "
    "orderkey bigint, linenumber int, flag string"
)

E2E_UNITS = {"setup_s": "s", "pass_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s", "queries.import_s": "s", "session.peak_rss_mb": "MB",
    "oracle.check_s": "s", "warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.single_task_stages": "count", "spark.job_gap_s": "s",
    "spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s", "spark.core_busy_share": "share",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "sources.input_bytes": "bytes",
    "functions.python_ops": "count", "functions.python_op_s": "s",
    "sinks.bytes_written": "bytes", "sinks.files_written": "count", "dag.tail_s": "s",
    "streaming.drain_gap_s": "s", "streaming.drain_p50_s": "s", "streaming.read_p50_s": "s",
    "merge.touched_bucket_share": "share", "merge.rewrite_amplification": "ratio",
    "merge.state_files": "count", "merge.state_bytes": "bytes",
    "host.calib_cpu_s": "s", "host.calib_jobs_s": "s",
    "trace.pass_s": "s", "ops_attempted": "count", "ops_failed": "count",
}


class Mismatch(Exception):
    """An output differs from what the check expects."""


def fixture_dir(sf: str) -> str:
    from openalex_walden_spark.tables import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), sf)


class Bench:
    """One run: the session, its scratch root, the tracer and op counts.

    ``layer_extras`` collects the per-layer figures the workloads measure
    themselves; a layer a workload does not use stays 0.
    """

    def __init__(self, spark, root: str, tracer, seed: int, seconds: float, t0: float):
        self.spark = spark
        self.root = root
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.t0 = t0
        self.attempted = 0
        self.failed = 0
        self.timed_passes = 0
        self.layer_extras: dict[str, float] = dict.fromkeys((
            "queries.import_s", "oracle.check_s", "warmup_s", "sinks.bytes_written",
            "sinks.files_written", "streaming.drain_p50_s", "streaming.read_p50_s",
            "merge.touched_bucket_share",
            "merge.rewrite_amplification", "merge.state_files", "merge.state_bytes",
        ), 0.0)
        self._ops = 0

    def span(self, name: str):
        return self.tracer.span(name)

    @contextlib.contextmanager
    def check(self):
        """Span and time a correctness check."""
        t0 = perf_counter()
        with self.span("oracle.check"):
            yield
        self.layer_extras["oracle.check_s"] += perf_counter() - t0

    def op(self, name: str, phase: str, fn):
        """Run one op with Spark's cache cleared and return its result.
        An exception is reported and counted, and gives None."""
        self.attempted += 1
        self._ops += 1
        op_id = f"{phase}.{self._ops}.{name}"
        self.spark.catalog.clearCache()
        try:
            with self.tracer.span("op", op=op_id, phase=phase):
                return fn()
        except Exception:  # noqa: BLE001 - every op failure is counted and reported
            self.failed += 1
            print(f"perfbench: op {op_id} failed", file=sys.stderr)
            traceback.print_exc()
            return None

    def mismatch(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: mismatch: {what}", file=sys.stderr)

    def import_catalog(self):
        from openalex_walden_spark import queries as q

        t0 = perf_counter()
        with self.span("queries.import"):
            q.load_all()
        self.layer_extras["queries.import_s"] = perf_counter() - t0
        return q.CATALOG

    def warmed_up(self, since: float) -> None:
        """Record the set-up pass that started at ``since``, less its checks."""
        self.layer_extras["warmup_s"] = perf_counter() - since - self.layer_extras["oracle.check_s"]

    def timed_loop(self, one_pass) -> dict:
        """Run ``one_pass`` at least once, and again while the next pass,
        as long as the last one, still ends within ``seconds``. Returns the
        end-to-end metrics; ``one_pass`` returns its seconds."""
        setup_s = perf_counter() - self.t0
        passes: list[float] = []
        start = perf_counter()
        while not passes or perf_counter() - start + passes[-1] <= self.seconds:
            passes.append(one_pass())
        self.timed_passes = len(passes)
        return {"setup_s": setup_s, "pass_s": median(passes)}


def _goldens() -> dict:
    with open(GOLDENS_PATH, encoding="utf-8") as f:
        return json.load(f)


def _golden_check(query: str, pdf, schema, goldens: dict) -> None:
    from openalex_walden_spark.oracle import golden_hash

    got = golden_hash(pdf, schema)
    if got != goldens[query]:
        raise Mismatch(f"{query}: got {got}, golden {goldens[query]}")


def _dir_files(path: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    ]


# ---------------------------------------------------------------------------
# nightly_dag
# ---------------------------------------------------------------------------


def run_nightly_dag(b: Bench) -> dict:
    import pyarrow.parquet as pq

    catalog = b.import_catalog()
    goldens = _goldens()
    sf = fixture_dir(QUERY_SF)
    out = os.path.join(b.root, "dag")

    def task(name: str, query: str, phase: str) -> None:
        path = os.path.join(out, name)

        def run() -> None:
            with b.span("queries.build"):
                df = catalog[query].spark(b.spark, sf)
            with b.span("queries.exec"):
                df.write.mode("overwrite").parquet(path)
            if phase == "setup":
                with b.check():
                    _golden_check(query, b.spark.read.parquet(path).toPandas(), df.schema, goldens)

        b.op(query, phase, run)

    def tail(phase: str) -> None:
        b.op("dag.tail", phase, lambda: _dag_tail(b, catalog, sf, out))

    # Set-up: one cold pass, every output read back and checked.
    t0 = perf_counter()
    for name, query in DAG_TASKS:
        task(name, query, "setup")
    tail("setup")
    b.warmed_up(t0)

    def one_pass() -> float:
        start = perf_counter()
        for name, query in DAG_TASKS:
            task(name, query, "timed")
        tail("timed")
        pass_s = perf_counter() - start
        for name, query in DAG_TASKS:
            rows = sum(pq.read_metadata(f).num_rows for f in _dir_files(os.path.join(out, name)))
            if rows != goldens[query]["rows"]:
                b.mismatch(f"{name} wrote {rows} rows, golden has {goldens[query]['rows']}")
        if b.tracer.enabled:
            files = _dir_files(out)
            b.layer_extras["sinks.files_written"] += len(files)
            b.layer_extras["sinks.bytes_written"] += sum(os.path.getsize(f) for f in files)
        return pass_s

    result = b.timed_loop(one_pass)
    for k in ("sinks.files_written", "sinks.bytes_written"):
        b.layer_extras[k] /= b.timed_passes
    return result


def _dag_tail(b: Bench, catalog, sf: str, out: str) -> None:
    """Guardrails -> export -> smoke over the written works plane, as
    tests/test_end2end.py composes them."""
    from pyspark.sql import functions as F

    from openalex_walden_spark.operators.guardrails import Guardrail, run_guardrails
    from openalex_walden_spark.operators.smoke import smoke_test_snapshot
    from openalex_walden_spark.sinks.json_export import export_snapshot
    from openalex_walden_spark.tables import register_views

    spark = b.spark
    with b.span("dag.tail"):
        works = spark.read.parquet(os.path.join(out, "Works_Base"))
        with b.span("queries.build"):
            enriched = catalog[DAG_TAIL_QUERY].spark(spark, sf).cache()
        register_views(spark, sf, ("part",))
        n_parts = spark.table("part").count()
        checks = [
            Guardrail("works_count_floor", lambda df: float(-df.count()), -float(n_parts)),
            Guardrail(
                "missing_ids",
                lambda df: float(df.where(F.col("work_id").isNull()).count()), 0.0,
            ),
        ]
        with b.span("operators.guardrails"):
            report = run_guardrails(enriched, checks)
        enriched.unpersist()
        if not all(r.ok for r in report):
            raise Mismatch(f"guardrails failed: {report}")
        snapshot = os.path.join(out, "snapshot")
        ids = works.select(
            F.concat(F.lit("W"), F.substring(F.md5("merge_key"), 1, 12)).alias("id"),
            F.col("merge_key"),
        )
        with b.span("sinks.export"):
            manifest = export_snapshot(ids, snapshot, ["id", "merge_key"])
        if not (manifest["n_files"] >= 1 and manifest["total_bytes"] > 0):
            raise Mismatch(f"empty snapshot export: {manifest}")
        with b.span("operators.smoke"):
            smoke = smoke_test_snapshot(
                spark, snapshot, id_field="id", id_pattern=r"^W[0-9a-f]{12}$",
                required_fields=("merge_key",),
            )
        if not all(r.ok for r in smoke):
            raise Mismatch(f"smoke test failed: {smoke}")


# ---------------------------------------------------------------------------
# cdc_stream
# ---------------------------------------------------------------------------


def _lineitem_rows(sf_dir: str) -> list[tuple]:
    import pyarrow.parquet as pq

    cols = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_quantity", "l_extendedprice", "l_returnflag"]
    t = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"), columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


class _Stream:
    """Landing directory, checkpoint and state of the CDC workload."""

    def __init__(self, b: Bench):
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        from openalex_walden_spark.streaming.scd1 import file_stream

        self.b = b
        self.landing = os.path.join(b.root, "cdc", "landing")
        self.staging = os.path.join(b.root, "cdc", "staging")
        self.state = os.path.join(b.root, "cdc", "state")
        self.checkpoint = os.path.join(b.root, "cdc", "checkpoint")
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        self.stream = file_stream(b.spark, self.landing, StructType.fromDDL(CDC_SCHEMA))
        self.is_delete = F.col("op") == "D"
        self.model = cdc.StateModel()
        self.batches = 0

    def land(self, rows: list[dict]) -> int:
        """Write a batch file, then move it into the landing directory in
        one step, as an object store upload appears. Returns its bytes."""
        name = f"batch-{self.batches:05d}.json"
        self.batches += 1
        tmp = os.path.join(self.staging, name)
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r))
                f.write("\n")
        size = os.path.getsize(tmp)
        os.replace(tmp, os.path.join(self.landing, name))
        return size

    def drain(self) -> None:
        from openalex_walden_spark.streaming.scd1 import run_scd1_stream

        with self.b.span("streaming.drain"):
            run_scd1_stream(
                self.stream, self.state, self.checkpoint, keys=["id"], sequence_col="seq",
                delete_predicate=self.is_delete,
            )

    def read(self) -> cdc.Summary:
        from pyspark.sql import functions as F

        from openalex_walden_spark.streaming.scd1 import latest_state

        with self.b.span("streaming.read"):
            r = latest_state(self.b.spark, self.state).agg(
                F.count("*"), F.sum("qty"), F.sum("seq")
            ).collect()[0]
        return cdc.Summary(*(int(x or 0) for x in r))

    def check(self, rows: list[dict], got: cdc.Summary) -> None:
        with self.b.check():
            self.model.apply(rows)
            want = self.model.summary()
        if got != want:
            raise Mismatch(f"state after batch {self.batches - 1}: read {got}, model {want}")

    def cycle(self, rows: list[dict], phase: str) -> tuple[float, float, float]:
        """Land, drain, read and check one batch. Returns the seconds from
        landing to drained, of the read, and from landing to checked."""
        landed = self.land(rows)
        t0 = perf_counter()

        def run() -> tuple[float, float]:
            self.drain()
            drained = perf_counter()
            got = self.read()
            read = perf_counter() - drained
            self.check(rows, got)
            return drained - t0, read

        times = self.b.op("cdc.batch", phase, run)
        total = perf_counter() - t0
        if times is None:
            return total, 0.0, total
        if self.b.tracer.enabled and phase == "timed":
            self._record_merge(landed)
        return times[0], times[1], total

    def _manifest(self) -> tuple[int, dict]:
        from openalex_walden_spark.operators.merge import current_version

        v = current_version(self.state)
        with open(os.path.join(self.state, f"manifest_v{v:08d}.json")) as f:
            return v, json.load(f)

    def _bucket_files(self, bucket: str, version: int) -> list[str]:
        return _dir_files(os.path.join(self.state, "buckets", bucket, f"v_{version:08d}"))

    def _record_merge(self, landed_bytes: int) -> None:
        """Buckets the last merge rewrote, and their bytes per byte landed."""
        v, manifest = self._manifest()
        touched = [bk for bk, bv in manifest["buckets"].items() if bv == v]
        rewritten = sum(os.path.getsize(p) for bk in touched for p in self._bucket_files(bk, v))
        extras = self.b.layer_extras
        extras["merge.touched_bucket_share"] += len(touched) / manifest["n_buckets"]
        extras["merge.rewrite_amplification"] += rewritten / landed_bytes

    def record_state(self) -> None:
        """Files and bytes the latest manifest references."""
        _, manifest = self._manifest()
        files = [p for bk, bv in manifest["buckets"].items() for p in self._bucket_files(bk, bv)]
        self.b.layer_extras["merge.state_files"] = len(files)
        self.b.layer_extras["merge.state_bytes"] = sum(os.path.getsize(p) for p in files)


def run_cdc_stream(b: Bench) -> dict:
    s = _Stream(b)
    base = cdc.base_rows(_lineitem_rows(fixture_dir(CDC_SF)))
    gen = cdc.ChangeGenerator(base, b.seed)

    # Set-up: the initial load is batch 0 of the stream, then warm-up
    # batches until drain times settle.
    t0 = perf_counter()
    s.cycle(base, "setup")
    for _ in range(CDC_WARMUP_BATCHES):
        s.cycle(gen.next_batch(CDC_BATCH_ROWS), "setup")
    b.warmed_up(t0)

    drains: list[float] = []
    reads: list[float] = []

    def one_pass() -> float:
        drain_s, read_s, total_s = s.cycle(gen.next_batch(CDC_BATCH_ROWS), "timed")
        drains.append(drain_s)
        reads.append(read_s)
        return total_s

    result = b.timed_loop(one_pass)
    n = b.timed_passes
    b.layer_extras["streaming.drain_p50_s"] = median(drains)
    b.layer_extras["streaming.read_p50_s"] = median(reads)
    b.layer_extras["merge.touched_bucket_share"] /= n
    b.layer_extras["merge.rewrite_amplification"] /= n
    if b.tracer.enabled:
        s.record_state()
    return result


# ---------------------------------------------------------------------------
# Host calibration (no engine code)
# ---------------------------------------------------------------------------


def calibrate_host(spark) -> dict[str, float]:
    """Two fixed pure-Spark jobs, to tell host drift from regressions:
    a codegen-bound aggregate and fifteen empty jobs, best of three."""
    cpu, jobs = [], []
    for _ in range(3):
        t0 = perf_counter()
        spark.range(50_000_000).selectExpr("sum(xxhash64(id) % 1000000007)").collect()
        cpu.append(perf_counter() - t0)
        t0 = perf_counter()
        for _j in range(15):
            spark.range(32).count()
        jobs.append(perf_counter() - t0)
    return {"host.calib_cpu_s": min(cpu), "host.calib_jobs_s": min(jobs)}


RUNNERS = {
    "nightly_dag": run_nightly_dag,
    "cdc_stream": run_cdc_stream,
}
