"""Source/sink connector tests (S1/S2/S4/S5/S6/S7 local behaviors)."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructType

from openalex_walden_spark.sinks.bulk_index import bulk_index, partition_count_for
from openalex_walden_spark.sinks.json_export import export_snapshot
from openalex_walden_spark.sources.files import incremental_scan, read_json, read_xml


def test_read_json_schema_pinned_with_rescue(spark, tmp_path):
    p = str(tmp_path / "in.json")
    with open(p, "w") as fh:
        fh.write('{"id": 1, "name": "ok"}\n')
        fh.write('{"id": "NOT_A_NUMBER", "name": "bad"}\n')
        fh.write('{"id": 3, "name": "fine"}\n')
    schema = StructType().add("id", LongType()).add("name", StringType())
    df = read_json(spark, p, schema)
    rows = df.collect()
    assert len(rows) == 3
    rescued = [r for r in rows if r["_rescued_data"] is not None]
    assert len(rescued) == 1  # the drifted row is rescued, not dropped
    assert {r["id"] for r in rows if r["_rescued_data"] is None} == {1, 3}


def test_read_xml_rowtag(spark, tmp_path):
    p = str(tmp_path / "in.xml")
    with open(p, "w") as fh:
        fh.write(
            "<records>"
            "<rec><id>1</id><title>alpha</title></rec>"
            "<rec><id>2</id><title>beta</title></rec>"
            "</records>"
        )
    df = read_xml(spark, p, row_tag="rec")
    got = {(r["id"], r["title"]) for r in df.collect()}
    assert got == {(1, "alpha"), (2, "beta")}


def test_incremental_scan_pushdown(spark, sf_dir):
    from openalex_walden_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    inc = incremental_scan(orders, "o_orderdate", "1997-01-01")
    assert 0 < inc.count() < orders.count()
    plan = inc._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "PushedFilters" in plan and "o_orderdate" in plan


def test_register_views_reuses_inferred_schemas(spark, sf_dir, jobs_in):
    """Only the first read of a fixture infers its schema; registering
    the same unchanged files again plans without a Spark job, and each
    read is still a fresh relation, so a self-join resolves."""
    from openalex_walden_spark.tables import load_table, register_views

    register_views(spark, sf_dir, ("orders", "part"))
    with jobs_in("register_views_again") as jobs:
        dfs = register_views(spark, sf_dir, ("orders", "part"))
    assert jobs == []
    assert set(dfs) == {"orders", "part"}
    a = dfs["orders"]
    b = load_table(spark, sf_dir, "orders")
    assert a.join(b, a.o_orderkey == b.o_orderkey).count() == a.count() > 0


def test_events_read_keeps_earlier_schemas(spark, sf_dir, jobs_in,
                                           monkeypatch):
    """Reading ``events`` enables the nanos-as-long conf; a table read
    before it keeps its inferred schema, so reading it again after
    ``events`` plans without a Spark job."""
    from openalex_walden_spark import tables

    monkeypatch.setattr(tables, "_SCHEMAS", {})
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    tables.load_table(spark, sf_dir, "orders")
    tables.load_table(spark, sf_dir, "events")
    with jobs_in("orders_after_events") as jobs:
        tables.load_table(spark, sf_dir, "orders")
    assert jobs == []


def test_load_table_reinfers_a_rewritten_file(spark, tmp_path):
    """The kept schema is keyed by the file's identity: rewriting the
    file with another schema makes the next read infer it again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from openalex_walden_spark.tables import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"id": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    pq.write_table(pa.table({"id": [3], "name": ["c"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "name"]
    assert [tuple(r) for r in df.collect()] == [(3, "c")]


def test_export_snapshot_manifest_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a\x00b  c", "X"), (2, "plain", "Y")], "id long, text string, tag string"
    )
    out = str(tmp_path / "snap")
    manifest = export_snapshot(df, out, cols=["id", "text", "tag"], sanitize=["text"], partitions=2)
    assert manifest["n_files"] == 2
    assert os.path.exists(os.path.join(out, "manifest.json"))
    docs = [
        json.loads(line)
        for f in glob.glob(os.path.join(out, "part-*"))
        if not f.endswith(".crc")
        for line in open(f)
    ]
    by_id = {d["id"]: d for d in docs}
    assert by_id[1]["text"] == "ab c"  # control char stripped, ws collapsed
    assert by_id[2] == {"id": 2, "text": "plain", "tag": "Y"}


def test_bulk_index_delivers_all_docs(spark, tmp_path):
    df = spark.range(0, 1000).select(
        F.to_json(F.struct(F.col("id"))).alias("doc")
    )
    sink_dir = str(tmp_path / "indexed")
    os.makedirs(sink_dir, exist_ok=True)

    def transport_factory():
        import os as _os
        import uuid as _uuid

        path = _os.path.join(sink_dir, f"conn-{_uuid.uuid4().hex}.jsonl")
        fh = open(path, "a")

        def send(batch):
            for doc in batch:
                fh.write(doc + "\n")
            fh.flush()
            return len(batch)

        return send

    bulk_index(df, "doc", transport_factory, batch_size=100, rows_per_partition=250)
    got = sorted(
        json.loads(line)["id"]
        for f in glob.glob(os.path.join(sink_dir, "conn-*.jsonl"))
        for line in open(f)
    )
    assert got == list(range(1000))
    # partition ladder: 1000 rows / 250 per partition = 4 connections
    assert len(glob.glob(os.path.join(sink_dir, "conn-*.jsonl"))) == 4


def test_partition_count_ladder():
    assert partition_count_for(0) == 1
    assert partition_count_for(5_000) == 1
    assert partition_count_for(2_000_000) == 200
    assert partition_count_for(10 ** 9) == 8096  # capped


def test_write_clustered_layout_skippable(spark, sf_dir, tmp_path):
    """write_clustered range-partitions + sorts by the cluster key, so
    per-file min/max stats are disjoint and a key-ranged scan prunes
    files (the CLUSTER BY / ZORDER discipline, open-format form)."""
    import pyarrow.parquet as pq

    from openalex_walden_spark.sinks.json_export import write_clustered
    from openalex_walden_spark.tables import register_views

    register_views(spark, sf_dir, ("orders",))
    out = str(tmp_path / "clustered")
    write_clustered(spark.table("orders"), out, ["o_custkey"], n_files=4)

    import glob

    ranges = []
    for f in sorted(glob.glob(out + "/*.parquet")):
        md = pq.ParquetFile(f).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "o_custkey"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges → file-level skipping works


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key co-locates them: the join
    plan has NO exchange on either side — the shuffle moved to write
    time, paid once, reused by every subsequent join (the 100 TB
    discipline for repeated fact⋈fact joins)."""
    from openalex_walden_spark.tables import register_views

    register_views(spark, sf_dir, ("orders", "customer"))
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    (spark.table("orders").write.bucketBy(8, "o_custkey")
     .sortBy("o_custkey").option("path", str(tmp_path / "b_orders"))
     .mode("overwrite").saveAsTable("b_orders"))
    (spark.table("customer").withColumnRenamed("c_custkey", "o_custkey")
     .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
     .option("path", str(tmp_path / "b_customer"))
     .mode("overwrite").saveAsTable("b_customer"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_customer"), "o_custkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_snapshot_smoke_battery(spark, sf_dir, tmp_path):
    """§5 layer 3: the smoke harness passes a clean export, and catches
    a corrupted one (bad JSON line + duplicate id) with named checks."""
    import pytest as _pytest

    from openalex_walden_spark.operators.smoke import SmokeFailure, smoke_test_snapshot
    from openalex_walden_spark.sinks.json_export import export_snapshot
    from openalex_walden_spark.tables import register_views

    register_views(spark, sf_dir, ("customer",))
    out = str(tmp_path / "snap")
    df = spark.table("customer").selectExpr(
        "concat('C', c_custkey) AS id", "c_name", "c_mktsegment"
    )
    export_snapshot(df, out, ["id", "c_name", "c_mktsegment"])
    report = smoke_test_snapshot(
        spark, out, id_field="id", id_pattern=r"^C\d+$",
        required_fields=("c_name",),
    )
    assert all(r.ok for r in report) and len(report) >= 6

    # corrupt: drop in a rogue part file (bad JSON + duplicate id) that
    # the manifest does not list
    with open(os.path.join(out, "part-99999-rogue.txt"), "w") as fh:
        fh.write("not json\n")
        fh.write('{"id":"C0","c_name":"dup","c_mktsegment":"X"}\n')
    with _pytest.raises(SmokeFailure) as exc:
        smoke_test_snapshot(spark, out, id_field="id", id_pattern=r"^C\d+$")
    bad = {r.name for r in exc.value.report if not r.ok}
    assert "json_and_id_present" in bad and "id_unique" in bad
    assert "manifest_files_match" in bad  # rogue file not in manifest


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S7 executed for real: write a frame through the JDBC sink into
    embedded Apache Derby (shipped on Spark's own classpath — no
    network, no external DB), then read it back with spark.read.jdbc
    and compare. Exercises url/dbtable/mode plumbing end-to-end; the
    reference's Postgres path differs only in the driver string."""
    from openalex_walden_spark.sinks.bulk_index import write_jdbc

    url = f"jdbc:derby:{tmp_path}/s7db;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", None)],
        "id int, name string, score double",
    )
    write_jdbc(df, url, "works", mode="overwrite", driver=driver)
    # append mode: second batch lands alongside the first
    write_jdbc(
        spark.createDataFrame([(4, "delta", 4.0)], "id int, name string, score double"),
        url, "works", mode="append", driver=driver,
    )
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "works")
        .option("driver", driver)
        .load()
    )
    rows = {r["ID"] if "ID" in back.columns else r["id"]: r for r in back.collect()}
    assert len(rows) == 4
    got_names = sorted(r[1] for r in back.collect())
    assert got_names == ["alpha", "beta", "delta", "gamma"]


def test_events_loader_handles_both_ts_physical_types(spark, tmp_path):
    """The events fixture has shipped as INT64 TIMESTAMP(NANOS) (rounds
    1-3) and as TIMESTAMP(MICROS)/TIMESTAMP_NTZ (round 4+). The loader
    must produce identical (ts_us BIGINT, ts TIMESTAMP) from either
    physical type — the r4 regression was the untested micros branch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from openalex_walden_spark.tables import load_table

    micros = [1_700_000_000_000_000 + i * 1_000_000 for i in range(10)]
    base = {
        "event_id": pa.array(range(10), pa.int64()),
        "user_id": pa.array([i % 3 for i in range(10)], pa.int64()),
    }

    nanos_dir = tmp_path / "nanos"
    nanos_dir.mkdir()
    pq.write_table(
        pa.table({**base, "ts": pa.array([m * 1000 for m in micros], pa.int64())}),
        str(nanos_dir / "events.parquet"),
    )
    # The nanos fixture is physical INT64; the loader reads it under
    # nanosAsLong. (True TIMESTAMP(NANOS) logical type requires the same
    # conf; plain INT64 exercises the identical branch.)

    micros_dir = tmp_path / "micros"
    micros_dir.mkdir()
    pq.write_table(
        pa.table({**base, "ts": pa.array(micros, pa.timestamp("us"))}),
        str(micros_dir / "events.parquet"),
    )

    a = load_table(spark, str(nanos_dir), "events")
    b = load_table(spark, str(micros_dir), "events")
    assert dict(a.dtypes)["ts_us"] == "bigint"
    assert dict(b.dtypes)["ts_us"] == "bigint"
    assert dict(a.dtypes)["ts"] == "timestamp"
    assert dict(b.dtypes)["ts"] == "timestamp"  # NTZ normalized away
    rows_a = {r["event_id"]: r["ts_us"] for r in a.collect()}
    rows_b = {r["event_id"]: r["ts_us"] for r in b.collect()}
    assert rows_a == rows_b == {i: micros[i] for i in range(10)}


def test_hive_partition_pruning(spark, sf_dir, tmp_path):
    """Directory-partitioned layout + a partition-key predicate →
    Catalyst prunes at the PartitionFilters level: non-matching
    directories are never listed into the scan (file skipping before
    row skipping — the first line of defense at 100 TB)."""
    from openalex_walden_spark.tables import register_views

    register_views(spark, sf_dir, ("orders",))
    out = str(tmp_path / "by_priority")
    spark.table("orders").write.partitionBy("o_orderpriority").mode(
        "overwrite"
    ).parquet(out)

    df = spark.read.parquet(out).where(F.col("o_orderpriority") == "1-URGENT")
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "PartitionFilters" in plan
    assert "o_orderpriority" in plan.split("PartitionFilters")[1][:200]
    # The scan must touch only the matching partition's files.
    touched = {
        r[0]
        for r in df.select(F.input_file_name()).distinct().collect()
    }
    assert touched and all("o_orderpriority=1-URGENT" in f for f in touched)


# --------------------------------------------------------------------------
# Trained-IVF index persistence (operators/ann_index.py)
# --------------------------------------------------------------------------
def test_ivf_index_roundtrip_reproduces_search(spark, sf_dir, tmp_path):
    """Build the trained index, save it, reload it, and prove a search
    against the ARTIFACT returns exactly the in-plan query's rows —
    byte-identical routing across the persistence boundary."""
    import pyspark.sql.functions as F

    from openalex_walden_spark import queries as q
    from openalex_walden_spark.operators.ann_index import (
        load_ivf_index,
        save_ivf_index,
    )
    from openalex_walden_spark.queries.advanced import (
        _KM_Q,
        _TR_ARGMIN,
        _TR_CACHE,
        _TR_P,
        _tr_cent_array,
        train_ivf_centroids,
    )
    from openalex_walden_spark.tables import register_views

    q.load_all()
    register_views(spark, sf_dir, ("embeddings",))
    _TR_CACHE.clear()
    cents = train_ivf_centroids(spark, sf_dir)
    e = spark.table("embeddings").withColumn(
        "qx",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {_KM_Q}) as bigint) + {_KM_Q})"
        ),
    )
    assignments = e.withColumn("cents", _tr_cent_array(cents)).select(
        "vec_id", F.expr(_TR_ARGMIN)["cl"].alias("cell")
    )
    path = str(tmp_path / "ivf_index")
    save_ivf_index(spark, path, cents, assignments, quant_scale=_KM_Q)

    cents2, asg2, manifest = load_ivf_index(spark, path, expect_quant_scale=_KM_Q)
    assert cents2 == cents
    assert manifest["k"] == len(cents)

    # Search via the artifact: route queries against loaded centroids,
    # probe loaded assignment cells, exact top-3 — must equal the
    # in-plan query bit for bit.
    probe_arr = F.expr(
        "slice(array_sort(transform(cents, c -> "
        f"named_struct('d2', aggregate(zip_with(qx, c.qc, (x, y) -> (x - y) * (x - y)), "
        f"cast(0 as bigint), (acc, v) -> acc + v), 'cl', c.cl))), 1, {_TR_P})"
    )
    probes = (
        e.where(F.col("vec_id") % 100 == 7)
        .withColumn("cents", _tr_cent_array(cents2))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qe"),
            F.explode(probe_arr).alias("pc"),
        )
        .select("q_id", "qe", F.col("pc.cl").alias("probe_cell"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("embedding"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    def norm(c):
        return F.sqrt(F.aggregate(F.transform(F.col(c), lambda x: x.cast("double") * x.cast("double")),
                                  F.lit(0.0), lambda acc, x: acc + x))
    from pyspark.sql.window import Window
    scored = (
        spark.table("embeddings")
        .join(asg2, "vec_id")
        .join(F.broadcast(probes), (F.col("cell") == F.col("probe_cell")) & (F.col("vec_id") != F.col("q_id")))
        .select("q_id", F.col("vec_id").alias("neighbor_id"),
                (dot / (norm("qe") * norm("embedding"))).alias("cosine"))
    )
    wk = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    via_artifact = (
        scored.withColumn("rnk", F.row_number().over(wk))
        .where(F.col("rnk") <= 3)
        .select("q_id", "neighbor_id", "cosine", F.col("rnk").cast("bigint").alias("rnk"))
        .toPandas().sort_values(["q_id", "rnk"]).reset_index(drop=True)
    )
    in_plan = (
        q.CATALOG["ann_ivf_trained_topk"].spark(spark, sf_dir)
        .toPandas().sort_values(["q_id", "rnk"]).reset_index(drop=True)
    )
    assert via_artifact.equals(in_plan)


def test_ivf_index_load_rejects_mismatch_and_corruption(spark, sf_dir, tmp_path):
    import json as _json

    import pytest

    from openalex_walden_spark.operators.ann_index import (
        _read_small_file,
        _write_small_file,
        load_ivf_index,
        save_ivf_index,
    )

    cents = [[1, 2], [3, 4]]
    asg = spark.createDataFrame([(1, 0), (2, 1)], "vec_id long, cell int")
    path = str(tmp_path / "idx")
    save_ivf_index(spark, path, cents, asg, quant_scale=65536)
    # wrong quantization scale must refuse (silently-wrong routing)
    with pytest.raises(ValueError, match="quantization"):
        load_ivf_index(spark, path, expect_quant_scale=256)
    # corrupt centroids must refuse (rewrite through the Hadoop FS
    # channel — a raw local edit would trip the filesystem's own CRC
    # sidecar first, which is a different, earlier line of defense)
    m = _json.loads(_read_small_file(spark, f"{path}/manifest.json"))
    m["centroid_md5"] = "0" * 32
    _write_small_file(spark, f"{path}/manifest.json", _json.dumps(m))
    with pytest.raises(ValueError, match="fingerprint"):
        load_ivf_index(spark, path, expect_quant_scale=65536)


def test_read_csv_rescued_quarantines_malformed(spark, tmp_path):
    """Malformed CSV rows land whole in the rescue column (same
    contract as the JSON path), valid rows parse typed."""
    from pyspark.sql.types import LongType, StringType, StructType

    from openalex_walden_spark.sources.files import read_csv_rescued

    p = tmp_path / "rows.csv"
    p.write_text("id,name\n1,alpha\nnot-a-number,beta\n3,gamma\n")
    schema = StructType().add("id", LongType()).add("name", StringType())
    df = read_csv_rescued(spark, str(p), schema).cache()
    good = df.where(df._rescued_data.isNull()).orderBy("id").collect()
    bad = df.where(df._rescued_data.isNotNull()).collect()
    assert [(r["id"], r["name"]) for r in good] == [(1, "alpha"), (3, "gamma")]
    assert len(bad) == 1 and "not-a-number" in bad[0]["_rescued_data"]
    df.unpersist()


def test_orc_roundtrip_preserves_schema(spark, sf_dir, tmp_path):
    """ORC as an interchange format: write a typed slice, read it back,
    schema and values identical (columnar formats beyond parquet)."""
    from openalex_walden_spark.tables import register_views

    register_views(spark, sf_dir, ("nation",))
    src = spark.table("nation")
    out = str(tmp_path / "nation_orc")
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.schema == src.schema
    assert sorted(back.collect()) == sorted(src.collect())


def test_ivf_index_loads_with_empty_stream_batches(spark, sf_dir, tmp_path):
    """Round-7 ADVICE: an empty micro-batch still creates its
    batch_id=<id>/ directory with only _SUCCESS; loading an index whose
    stream delivered no rows must not die on parquet schema inference.
    A later non-empty batch must still union in on top of that."""
    import pyspark.sql.functions as F

    from openalex_walden_spark import queries as q
    from openalex_walden_spark.operators.ann_index import (
        load_ivf_index,
        save_ivf_index,
        write_stream_batch,
    )
    from openalex_walden_spark.queries.advanced import (
        _KM_Q,
        _TR_ARGMIN,
        _TR_CACHE,
        _tr_cent_array,
        train_ivf_centroids,
    )
    from openalex_walden_spark.tables import register_views

    q.load_all()
    register_views(spark, sf_dir, ("embeddings",))
    _TR_CACHE.clear()
    cents = train_ivf_centroids(spark, sf_dir)
    e = spark.table("embeddings").withColumn(
        "qx",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {_KM_Q}) as bigint) + {_KM_Q})"
        ),
    )
    assignments = e.withColumn("cents", _tr_cent_array(cents)).select(
        "vec_id", F.expr(_TR_ARGMIN)["cl"].alias("cell")
    )
    base_n = assignments.count()
    path = str(tmp_path / "ivf_index_empty_stream")
    save_ivf_index(spark, path, cents, assignments, quant_scale=_KM_Q)

    # An empty micro-batch: the directory exists, no data files.
    empty_batch = tmp_path / "ivf_index_empty_stream" / "assignments_stream" / "batch_id=0"
    empty_batch.mkdir(parents=True)
    (empty_batch / "_SUCCESS").touch()

    _, asg, _ = load_ivf_index(spark, path, expect_quant_scale=_KM_Q)
    assert asg.count() == base_n

    # A later real batch still lands and unions in.
    write_stream_batch(
        e.where(F.col("vec_id") % 50 == 3).select("vec_id", "embedding"),
        path, cents, _KM_Q, batch_id=1,
    )
    extra = e.where(F.col("vec_id") % 50 == 3).count()
    _, asg2, _ = load_ivf_index(spark, path, expect_quant_scale=_KM_Q)
    assert asg2.count() == base_n + extra
    assert [f.name for f in asg2.schema.fields] == ["vec_id", "cell"]


def test_smoke_check_families_pass_and_breach(spark, tmp_path):
    """Round-8: the ported smoke_tests.ipynb check families (T2/T3/T6/
    T10/T11/T12/T13 shapes) each pass a healthy input AND trip on a
    seeded breach — the harness is sensitive, not decorative."""
    from openalex_walden_spark.operators.smoke import (
        count_tolerance_check,
        json_field_validity_check,
        nested_structure_check,
        partition_path_check,
        population_rate_check,
        recency_check,
        schema_completeness_check,
        smoke_aggregate,
    )

    # T2 count tolerance
    assert count_tolerance_check("works", 1040, 1000, 0.05).ok
    assert not count_tolerance_check("works", 1100, 1000, 0.05).ok

    # T3 field completeness: missing canonical field is fatal, extra is not
    assert schema_completeness_check(
        "works", {"id", "title", "doi", "authors_count"},
        {"id", "title", "doi"}, known_extras=frozenset({"authors_count"}),
    ).ok
    r = schema_completeness_check("works", {"id"}, {"id", "title"})
    assert not r.ok and "title" in r.detail

    # T6 nested structure from SCHEMA (works on an empty frame too)
    df = spark.createDataFrame(
        [],
        "id string, authorships array<struct<author:string,"
        "author_position:string,institutions:array<string>>>",
    )
    assert nested_structure_check(
        df, "authorships", {"author", "author_position", "institutions"}
    ).ok
    assert not nested_structure_check(
        df, "authorships", {"author", "raw_author_name"}
    ).ok

    # T10 partition path format
    good = tmp_path / "feed"
    (good / "updated_date=2025-06-01").mkdir(parents=True)
    assert partition_path_check(str(good)).ok
    (good / "updated_date=2025-06-02 00:00:00").mkdir()
    assert not partition_path_check(str(good)).ok

    # T11 truncated-JSON validity via from_json (no Python in the scan)
    jdf = spark.createDataFrame(
        [('{"a":[1,2]}',), ('{"a":[1',), (None,)], "abstract string"
    )
    bad = json_field_validity_check(jdf, "abstract")
    assert not bad.ok and "1/2" in bad.detail
    assert json_field_validity_check(jdf, "abstract", threshold=1).ok

    # T1/T5/T7/T8/T12/T13 in one smoke_aggregate scan + threshold checks
    plane = spark.createDataFrame(
        [
            ("https://openalex.org/W1", "t1", "en", 500, "2025-05-30"),
            ("https://openalex.org/W2", None, "fr", 100, "2025-04-01"),
            ("https://openalex.org/W2", "t3", "en", 300, "2025-01-01"),
            ("badid", "t4", None, 50, "2024-12-01"),
        ],
        "id string, title string, lang string, n_chars int, updated_date string",
    ).withColumn("updated_date", F.col("updated_date").cast("date"))
    row = smoke_aggregate(
        plane,
        required_fields=("title", "lang"),
        populated={"long_text": F.col("n_chars") >= 200},
        updated_col="updated_date",
        as_of="2025-06-01",
    ).collect()[0]
    assert row["n_total"] == 4 and row["n_bad_id_format"] == 1
    assert row["n_dup_ids"] == 1 and row["n_null_title"] == 1
    assert row["n_null_lang"] == 1 and row["n_long_text"] == 2
    assert row["days_stale"] == 2
    assert population_rate_check("long_text", row["n_long_text"], row["n_total"], 0.5).ok
    assert not population_rate_check("long_text", row["n_long_text"], row["n_total"], 0.9).ok
    assert recency_check(row["days_stale"], max_days=7).ok
    assert not recency_check(row["days_stale"], max_days=1).ok


def test_changed_rows_feed_lifecycle(spark, sf_dir, tmp_path):
    """The Wunpaywall-shape feed sink: first run ships everything past
    the default watermark as ONE dated file + metadata line + advanced
    watermark; a re-run with no new changes ships NOTHING (the
    only-changed-rows-ship contract); the safety cap refuses an
    oversized batch unless overridden."""
    import json as _json

    import pytest as _pytest

    from openalex_walden_spark import queries as q
    from openalex_walden_spark.sinks.datafeed import (
        FeedSafetyError,
        export_changed_rows,
    )
    from openalex_walden_spark.tables import register_views

    q.load_all()
    register_views(spark, sf_dir, ("orders",))
    batch = q.CATALOG["d9_changed_rows_feed"].spark(spark, sf_dir)
    n_changed = batch.count()
    assert n_changed > 0

    state = str(tmp_path / "feed_state")
    r1 = export_changed_rows(
        batch, updated_col="updated_date", state_dir=state,
        now="2025-05-21", min_watermark="2025-05-17",
    )
    assert r1.shipped == n_changed
    assert r1.file_name == "changed_rows_2025-05-17_to_2025-05-21.jsonl"
    with open(r1.file_path) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln]
    assert len(lines) == n_changed
    assert all(_json.loads(ln)["status"] for ln in lines)

    # metadata row recorded, watermark advanced
    meta_lines = open(f"{state}/export_metadata.jsonl").read().splitlines()
    assert len(meta_lines) == 1
    meta = _json.loads(meta_lines[0])
    assert meta["line_count"] == n_changed
    assert meta["from_watermark"] == "2025-05-17"
    assert meta["to_watermark"] == "2025-05-21"

    # second run: watermark is now past every updated_date -> nothing
    # ships, no file, watermark does not advance
    r2 = export_changed_rows(
        batch, updated_col="updated_date", state_dir=state, now="2025-05-22"
    )
    assert r2.shipped == 0 and r2.file_name is None
    assert _json.load(open(f"{state}/watermark.json"))["watermark"] == "2025-05-21"
    assert len(open(f"{state}/export_metadata.jsonl").read().splitlines()) == 1

    # safety cap: a fresh state dir + tiny cap refuses, override ships
    state2 = str(tmp_path / "feed_state2")
    with _pytest.raises(FeedSafetyError):
        export_changed_rows(
            batch, updated_col="updated_date", state_dir=state2,
            now="2025-05-21", safety_cap=1,
        )
    r3 = export_changed_rows(
        batch, updated_col="updated_date", state_dir=state2,
        now="2025-05-21", safety_cap=1, override=True,
    )
    assert r3.shipped == n_changed


def test_sync_registry_covers_reference_fleet_and_plans_correctly(spark):
    """The per-entity search-sync fleet as a config registry: every
    reference sync script has a row; plan_sync applies the incremental
    window, the URL-prefix id transform, and (for the small combined
    entities) the content-hash gate that keeps unchanged rows out of
    the bulk stream."""
    import json as _json

    from openalex_walden_spark.sinks.bulk_index import bulk_index
    from openalex_walden_spark.sinks.sync_registry import (
        SYNC_REGISTRY,
        content_hash,
        plan_sync,
    )

    expected = {
        "works", "authors", "sources", "institutions", "publishers",
        "funders", "concepts", "topics", "subfields", "fields",
        "domains", "keywords", "awards", "locations",
        "raw_affiliation_strings", "countries", "continents",
        "languages", "licenses", "sdgs", "source_types", "work_types",
        "institution_types", "vector_index", "indexes",
    }
    assert expected <= set(SYNC_REGISTRY)
    # Every script in the reference's notebooks/elastic/ fleet, each
    # adjudicated to the engine surface that covers it: a registry row,
    # a named catalog query, or (for pure index administration with no
    # data compute) the transport seam.
    fleet = {
        "sync_works.ipynb": "registry:works",
        "sync_authors.py": "registry:authors",
        "sync_sources.py": "registry:sources",
        "sync_institutions.py": "registry:institutions",
        "sync_publishers.py": "registry:publishers",
        "sync_funders.py": "registry:funders",
        "sync_concepts.py": "registry:concepts",
        # one script loops topics + the three upper hierarchy levels
        "sync_topic_hierarchy.py":
            "registry:topics+subfields+fields+domains",
        "sync_keywords.py": "registry:keywords",
        "sync_awards.ipynb": "registry:awards",
        "sync_locations.py": "registry:locations",
        "sync_raw_affiliation_strings.py":
            "registry:raw_affiliation_strings",
        "sync_countries.py": "registry:countries",
        "sync_continents.py": "registry:continents",
        "sync_languages.py": "registry:languages",
        "sync_licenses.py": "registry:licenses",
        "sync_sdgs.py": "registry:sdgs",
        "sync_source_types.py": "registry:source_types",
        "sync_work_types.py": "registry:work_types",
        "sync_institution_types.py": "registry:institution_types",
        "sync_vector_index.ipynb":
            "registry:vector_index + query:es_sync_vector_docs",
        "sync_indexes.py": "registry:indexes + query:indexes_api_build",
        "sync_content_index_to_d1.py":
            "query:content_manifest_export (manifest build; D1 PUT is "
            "the transport seam like send_partition_to_elastic)",
        "d1_antijoin_grobid.py": "query:content_grobid_gap_fill",
        "export_content_manifest_to_r2.py":
            "query:content_manifest_export",
        "BuildAwardsV4.ipynb":
            "index DDL only (mapping/shard admin; no data compute) — "
            "awards row carries the sync",
        "PatchAwardsV4Mapping.ipynb":
            "index DDL only (mapping patch; no data compute)",
    }
    assert len(fleet) == 27
    import os as _os

    ref_dir = "/root/reference/notebooks/elastic"
    if _os.path.isdir(ref_dir):
        assert set(fleet) == set(_os.listdir(ref_dir)), (
            "reference elastic fleet changed — re-adjudicate"
        )
    from openalex_walden_spark import queries as _q

    _q.load_all()
    for script, adj in fleet.items():
        for part in adj.split(" + "):
            if part.startswith("registry:"):
                for ent in part.split(":", 1)[1].split("+"):
                    assert ent in SYNC_REGISTRY, (script, ent)
            elif part.startswith("query:"):
                qname = part.split(":", 1)[1].split(" ")[0]
                assert qname in _q.CATALOG, (script, qname)
    assert all(cfg.id_prefix.startswith("https://openalex.org/")
               for cfg in SYNC_REGISTRY.values() if cfg.id_rule == "prefix")

    authors = spark.createDataFrame(
        [(1, "Ada", "2025-06-01"), (2, "Grace", "2025-05-20"),
         (3, "Edsger", "2025-06-03")],
        "id long, display_name string, updated_date string",
    )
    # incremental: only rows inside the window ship, ids URL-prefix
    plan = plan_sync(authors, SYNC_REGISTRY["authors"], since="2025-06-01")
    rows = {r["id"]: _json.loads(r["doc"]) for r in plan.collect()}
    assert set(rows) == {"https://openalex.org/A1", "https://openalex.org/A3"}
    assert rows["https://openalex.org/A1"]["display_name"] == "Ada"
    # full sync ships everything
    assert plan_sync(authors, SYNC_REGISTRY["authors"], full=True).count() == 3

    # hash gate: identical content is suppressed, changed/new rows ship
    countries = spark.createDataFrame(
        [("us", "United States", 10), ("fr", "France", 5), ("de", "Germany", 7)],
        "id string, display_name string, works_count int",
    )
    cfg = SYNC_REGISTRY["countries"]
    # same field set plan_sync will use (cfg.doc_fields is empty ->
    # every column participates in the hash)
    prev = content_hash(countries, tuple(countries.columns))
    changed = spark.createDataFrame(
        [("us", "United States", 11),   # changed count
         ("fr", "France", 5),           # unchanged -> suppressed
         ("nz", "New Zealand", 2)],     # new row
        "id string, display_name string, works_count int",
    )
    gated = plan_sync(changed, cfg, full=True, prev_hashes=prev)
    ids = {r["id"] for r in gated.collect()}
    assert ids == {
        "https://openalex.org/countries/us", "https://openalex.org/countries/nz",
    }

    # delivery still rides the generic bulk sink
    shipped = spark.sparkContext.accumulator(0)

    def transport():
        def send(batch):
            shipped.add(len(batch))
            return len(batch)
        return send

    bulk_index(gated, "doc", transport)
    assert shipped.value == 2


def test_finalize_snapshot_meta(tmp_path):
    """update_meta parity: per-entity metas merge into per-format
    combined manifests, missing metas degrade to flagged zero entries,
    and the _meta/_temp working dirs are removed."""
    import json
    import os

    from openalex_walden_spark.sinks.json_export import finalize_snapshot_meta

    base = str(tmp_path)
    date = "2026-08-15"
    for fmt in ("jsonl", "parquet"):
        d = os.path.join(base, date, "_meta", fmt)
        os.makedirs(d)
        with open(os.path.join(d, "works.json"), "w") as fh:
            json.dump({"record_count": 10, "content_length": 1000,
                       "files": ["part_0000.gz"]}, fh)
        # authors meta deliberately missing
    os.makedirs(os.path.join(base, date, "_temp"))

    out = finalize_snapshot_meta(base, date, ["works", "authors"])

    for fmt in ("jsonl", "parquet"):
        m = out[fmt]
        assert m["record_count"] == 10 and m["content_length"] == 1000
        assert [e["entity"] for e in m["entities"]] == ["works", "authors"]
        assert m["entities"][1]["missing_meta"] is True
        assert m["entities"][1]["record_count"] == 0
        combined = json.load(
            open(os.path.join(base, date, fmt, "manifest.json"))
        )
        assert combined["record_count"] == 10
        per_entity = json.load(
            open(os.path.join(base, date, fmt, "works", "manifest.json"))
        )
        assert per_entity["entity"] == "works" and per_entity["date"] == date
    assert not os.path.exists(os.path.join(base, date, "_meta"))
    assert not os.path.exists(os.path.join(base, date, "_temp"))


def test_sync_snapshot_to_public(spark, tmp_path):
    """sync_to_public parity: quarterly gate, distributed copy with
    size verification, manifest URL repointing, and stale deletion
    ordered LAST (a failed copy never shrinks the public prefix)."""
    import json
    import os

    import pytest

    from openalex_walden_spark.sinks.public_sync import sync_snapshot_to_public

    staging = str(tmp_path / "staging")
    public = str(tmp_path / "public")
    for ent in ("works", "authors"):
        d = os.path.join(staging, "jsonl", ent, "updated_date=2026-08-01")
        os.makedirs(d)
        with open(os.path.join(d, "part_0000.gz"), "w") as fh:
            fh.write(f"{ent} data")
        with open(os.path.join(staging, "jsonl", ent, "manifest.json"), "w") as fh:
            json.dump({"url": f"{staging}/jsonl/{ent}/part_0000.gz"}, fh)
    # pre-existing stale public object + an unrelated format dir
    os.makedirs(os.path.join(public, "jsonl", "works"))
    with open(os.path.join(public, "jsonl", "works", "old.gz"), "w") as fh:
        fh.write("stale")

    # monthly: gate skips, public untouched
    out = sync_snapshot_to_public(spark, staging, public, is_quarterly=False)
    assert out["status"] == "skipped"
    assert os.path.exists(os.path.join(public, "jsonl", "works", "old.gz"))

    # quarterly: copy + repoint + stale delete
    out = sync_snapshot_to_public(spark, staging, public, is_quarterly=True)
    assert out["status"] == "synced" and out["n_files"] == 2
    assert out["n_stale_deleted"] == 1
    assert not os.path.exists(os.path.join(public, "jsonl", "works", "old.gz"))
    m = json.load(open(os.path.join(public, "jsonl", "works", "manifest.json")))
    assert m["url"].startswith(public) and staging not in m["url"]

    # failure ordering: a copy failure aborts BEFORE any deletion
    with open(os.path.join(public, "jsonl", "works", "old2.gz"), "w") as fh:
        fh.write("stale2")

    def _flaky_copy(src, dst):
        import shutil as _sh

        if "authors" in src:
            raise OSError("injected transfer failure")
        _sh.copyfile(src, dst)

    with pytest.raises(Exception):
        sync_snapshot_to_public(
            spark, staging, public, is_quarterly=True, copy_fn=_flaky_copy
        )
    assert os.path.exists(os.path.join(public, "jsonl", "works", "old2.gz"))


def test_expunge_deletes_state_machine():
    """expunge_elasticsearch_deletes parity: threshold skip, disk
    abort, bounded bulk wait, async poll to completion, and the
    max-runtime wait abandonment (never cancelling the merge)."""
    import pytest

    from openalex_walden_spark.sinks.index_maintenance import expunge_deletes

    class Fake:
        def __init__(self, deleted=30, disk=((("n1"), 50.0),), bulk_rounds=0,
                     merge_polls=1):
            self._deleted = deleted
            self._disk = list(disk)
            self._bulk_rounds = bulk_rounds
            self._merge_polls = merge_polls
            self.now = 0.0

        def stats(self):
            return {"docs": 100, "deleted": self._deleted,
                    "store_bytes": 1, "segments": 9}

        def disk_usage(self):
            return self._disk

        def active_bulk_tasks(self):
            if self._bulk_rounds > 0:
                self._bulk_rounds -= 1
                return ["t1"]
            return []

        def start_forcemerge(self):
            return "task:1"

        def task_done(self, task_id):
            self._merge_polls -= 1
            return self._merge_polls < 0

        # injectable clock/sleep
        def clock(self):
            return self.now

        def sleep(self, s):
            self.now += s

    # 1. threshold skip
    f = Fake(deleted=5)
    out = expunge_deletes(f, clock=f.clock, sleep=f.sleep)
    assert out["status"] == "skipped" and "threshold" in out["reason"]

    # 2. disk abort
    f = Fake(disk=[("n1", 85.0), ("n2", 40.0)])
    with pytest.raises(RuntimeError, match="n1=85.0%"):
        expunge_deletes(f, clock=f.clock, sleep=f.sleep)

    # 3+4. bulk settles, merge completes
    f = Fake(bulk_rounds=2, merge_polls=3)
    out = expunge_deletes(f, clock=f.clock, sleep=f.sleep)
    assert out["status"] == "completed" and out["task_id"] == "task:1"

    # 3b. bulk never settles within the wait
    f = Fake(bulk_rounds=10**9)
    with pytest.raises(RuntimeError, match="still active"):
        expunge_deletes(f, bulk_wait_seconds=120, clock=f.clock, sleep=f.sleep)

    # 5. merge outlives max runtime: wait abandoned, not cancelled
    f = Fake(merge_polls=10**9)
    out = expunge_deletes(
        f, max_runtime_seconds=600, clock=f.clock, sleep=f.sleep
    )
    assert out["status"] == "timed_out"
    assert "server-side" in out["note"]


def test_read_binary_gzip_ids(spark, tmp_path):
    """binaryFile + gzip + regex id harvest (build_native_id_repo_
    mapping.py): identifiers extracted per file, repository id derived
    from the folder path, non-gzip content tolerated best-effort."""
    import gzip
    import os

    from openalex_walden_spark.sources.files import read_binary_gzip_ids

    for repo, ids in (("repoA", ["oai:a:1", "oai:a:2"]), ("repoB", ["oai:b:9"])):
        d = tmp_path / repo
        d.mkdir()
        xml = "".join(
            f"<ns0:identifier xmlns:ns0='x'>{i}</ns0:identifier>" for i in ids
        )
        with gzip.open(d / "page1.gz", "wb") as fh:
            fh.write(f"<root>{xml}</root>".encode())
    # a plain-text .gz-named file: tolerated, yields its ids too
    with open(tmp_path / "repoA" / "page2.gz", "wb") as fh:
        fh.write(b"<ns0:identifier>oai:a:3</ns0:identifier>")

    df = read_binary_gzip_ids(spark, str(tmp_path))
    rows = {(r["repository_id"], r["native_id"]) for r in df.collect()}
    assert rows == {
        ("repoA", "oai:a:1"), ("repoA", "oai:a:2"), ("repoA", "oai:a:3"),
        ("repoB", "oai:b:9"),
    }


def test_entity_sync_id_rules(spark):
    """Every registry index name is unique and versioned, and each of
    the four _id rule kinds (prefix / composite / sha256 / raw)
    produces the documented shape through the real Column builder."""
    import re

    from openalex_walden_spark.sinks.sync_registry import (
        SYNC_REGISTRY,
        doc_id_column,
    )
    from pyspark.sql import functions as F

    indexes = [c.index_name for c in SYNC_REGISTRY.values()]
    assert len(set(indexes)) == len(indexes), "duplicate index name"
    assert all(re.search(r"-v\d+$", i) for i in indexes), "unversioned index"
    by_rule = {}
    for c in SYNC_REGISTRY.values():
        by_rule.setdefault(c.id_rule, []).append(c)
    assert set(by_rule) == {"prefix", "composite", "sha256", "raw"}
    df = spark.createDataFrame(
        [("pmid", "7")],
        "native_id_namespace STRING, native_id STRING",
    ).withColumn("raw_affiliation_string", F.lit("7"))
    got = {}
    for rule in by_rule:
        cfg = by_rule[rule][0]
        got[rule] = df.select(
            doc_id_column(cfg, F.lit("7")).alias("id")
        ).collect()[0]["id"]
    assert got["prefix"].startswith("https://openalex.org/") and got[
        "prefix"
    ].endswith("7")
    assert got["composite"] == "pmid:7"
    assert re.fullmatch(r"[0-9a-f]{64}", got["sha256"])
    assert got["raw"] == "7"


def test_entity_sync_stale_cap_refusal(spark):
    """A broken/empty API table must never mass-delete the index
    (sync_funders.py cell 7): past the cap, stale_audit raises instead
    of returning the delete list."""
    import pytest as _pytest

    from openalex_walden_spark.sinks.sync_registry import (
        StaleCapExceeded,
        stale_audit,
    )

    index_ids = spark.range(100).selectExpr("concat('F', id) AS id")
    table_ids = spark.range(10).selectExpr("concat('F', id) AS id")
    # 90 stale > cap 50 → refuse
    with _pytest.raises(StaleCapExceeded):
        stale_audit(table_ids, index_ids, max_stale=50)
    # same diff under a roomy cap → exactly the 90 dropped ids
    stale = stale_audit(table_ids, index_ids, max_stale=2000)
    assert stale.count() == 90
    assert {r["id"] for r in stale.collect()} == {f"F{i}" for i in range(10, 100)}


def test_entity_sync_logs_account_for_every_doc(spark):
    """sync_with_logs (sync_works.ipynb cells 7-9) returns one log row
    per partition and the log sums reconcile: sent == input rows,
    skipped == transport rejections."""
    from openalex_walden_spark.sinks.sync_registry import sync_with_logs

    df = spark.range(1000).selectExpr("concat('doc-', id) AS doc")

    def transport_factory():
        def send(batch):
            # reject every 100th doc (deterministic by suffix)
            return sum(0 if b.endswith("00") else 1 for b in batch)

        return send

    logs = sync_with_logs(
        df, "doc", transport_factory, batch_size=64, rows_per_partition=250
    )
    rows = logs.collect()
    assert len(rows) == 4  # 1000 rows / 250 per partition
    assert sum(r["sent"] for r in rows) == 1000
    assert sum(r["skipped"] for r in rows) == 9  # doc-100 .. doc-900
    assert all(r["sent"] == r["indexed"] + r["skipped"] for r in rows)
