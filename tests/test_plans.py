"""Physical-plan audits: the 100 TB design claims, checked mechanically.

Each catalog query documents a plan property (pushdown, broadcast, no
cartesian product, partial aggregation). These tests pin them so a
regression in plan shape fails CI even while results stay correct.
"""

from __future__ import annotations

import pytest

from openalex_walden_spark import queries as q
from openalex_walden_spark.oracle import checkpoint_capture

q.load_all()


def _plan(spark, sf_dir, name: str) -> str:
    df = q.CATALOG[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def test_q1_filter_pushdown(spark, sf_dir):
    """The shipdate filter must reach the parquet scan — Catalyst
    rewrites the date-cast into a timestamp range predicate."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    """Map-side combine before the group-key exchange."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "partial_" in plan  # HashAggregate(partial_sum/partial_count...)


def test_q5_broadcasts_dimensions(spark, sf_dir):
    """All four dimension joins broadcast; the fact side never shuffles
    for them."""
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_q1_column_pruning(spark, sf_dir):
    """ReadSchema carries only the referenced lineitem columns."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    scan_line = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_comment" not in scan_line
    for col in ("l_returnflag", "l_linestatus", "l_quantity"):
        assert col in scan_line


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh_pairs", "embedding_neardup_pairs", "j8_blocking_fuzzy_match"],
)
def test_no_cartesian_products(spark, sf_dir, name):
    """Every near-dup/fuzzy path is blocked or banded — a cartesian
    product anywhere here is the 100 TB killer."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan


def test_t1_topk_uses_take_ordered(spark, sf_dir):
    """Global ORDER BY + LIMIT plans as TakeOrderedAndProject (per-
    partition top-k, k-row merge), never a global sort."""
    plan = _plan(spark, sf_dir, "t1_global_topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_entry_whole_stage_codegen(spark, sf_dir):
    """The flagship query's hot path stays inside whole-stage codegen
    (visible only in the AQE-final plan, so execute first)."""
    df = q.CATALOG["q5_local_supplier_volume"].spark(spark, sf_dir)
    df.collect()  # AQE finalizes THIS df's own query execution
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")  # noqa: SLF001
    plan = df._jdf.queryExecution().explainString(mode)  # noqa: SLF001
    assert "codegen id" in plan  # joins/aggregates fused into codegen stages


def test_d6_cascade_broadcasts_and_no_cartesian(spark, sf_dir):
    """The D6 tiers are broadcast equi-joins (dimension side) and the
    fuzzy tier is blocked — nothing degenerates to a cross join."""
    plan = _plan(spark, sf_dir, "d6_and_cascade")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_udf_names_pairs_blocked(spark, sf_dir):
    """The names_compatible pair join runs on the block key equi-join;
    the predicate evaluates inside the block only."""
    plan = _plan(spark, sf_dir, "udf_names_compatible_pairs")
    assert "CartesianProduct" not in plan


def test_sql_udfs_stay_codegen(spark, sf_dir):
    """SQL UDFs macro-expand into the plan — no Python evaluators, no
    Arrow exchange anywhere in the award battery."""
    plan = _plan(spark, sf_dir, "udf_award_normalize")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_lsh_first_shuffle_is_signature_groupby(spark, sf_dir):
    """The HOF shingling adds no shuffle before the signature
    aggregation: exactly the exchanges the relational pipeline needs,
    and no sort from a window anywhere."""
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh_pairs")
    assert "Window" not in plan


def test_salted_agg_two_stage(spark, sf_dir):
    """The salted aggregation plans as two distinct aggregate exchanges:
    (key, salt) then (key) — the hot key is split before it ever reaches
    a single reducer."""
    plan = _plan(spark, sf_dir, "skew_salted_agg")
    assert plan.count("Exchange hashpartitioning") >= 2
    assert "__salt" in plan


def test_works_enriched_single_edge_shuffle(spark, sf_dir):
    """The enriched flagship reuses the work_id key across all its
    aggregates and broadcasts nothing it shouldn't — no cartesian
    product, no python, cohort windows over the per-work frame only."""
    plan = _plan(spark, sf_dir, "d0_works_enriched")
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_d10_fusion_broadcasts_dimensions(spark, sf_dir):
    """All three dimensions of the authorship fusion broadcast; the fact
    side shuffles once for the per-work aggregation."""
    plan = _plan(spark, sf_dir, "d10_authorship_fusion")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_salted_join_replicates_dimension(spark, sf_dir):
    """The salted join's dimension side explodes to all salt buckets
    (the replicate path) and the join stays an equi-join on
    (key, salt) — no cartesian product anywhere."""
    plan = _plan(spark, sf_dir, "skew_salted_join")
    assert "Generate explode" in plan or "Expand" in plan or "explode" in plan
    assert "CartesianProduct" not in plan


def test_salted_join_rejects_dim_preserving_modes(spark, sf_dir):
    """Replicating the dimension to every salt bucket is only sound for
    fact-preserving joins: right/full would emit each unmatched dim row
    salt_buckets times; semi/anti invert. The operator must refuse."""
    import pytest

    from openalex_walden_spark.operators.skew import salted_join

    fact = spark.range(10).withColumnRenamed("id", "k")
    dim = spark.range(4).withColumnRenamed("id", "k")
    for how in ("right", "full", "left_semi", "left_anti"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(fact, dim, "k", salt_cols=["k"], how=how)
    # fact-preserving modes still construct
    salted_join(fact, dim, "k", salt_cols=["k"], how="left")
    salted_join(fact, dim, "k", salt_cols=["k"], how="inner")


def test_d0_works_build_single_source_aggregate(spark, sf_dir):
    """The works-build sources must share ONE lineitem-part author
    aggregate (provenance-selector explode), not one per union branch —
    the plan carries exactly two hash exchanges (l_orderkey aggregate,
    merge-key fusion) and aggregates lineitem once."""
    plan = _plan(spark, sf_dir, "d0_works_build")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "Union" not in plan  # selector explode replaced the union


def test_sample_stratified_is_map_side_only(spark, sf_dir):
    """Deterministic sampling must be scan -> broadcast join -> filter:
    no hash-partition exchange anywhere (reproducible sampling that
    shuffles would be paying for nothing)."""
    plan = _plan(spark, sf_dir, "sample_stratified_hash")
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan


def test_winnow_fingerprints_no_shuffle(spark, sf_dir):
    """Winnowing is per-row array HOFs over one scan — an AGGREGATION
    shuffle here means someone turned it back into an explode+window.
    The one allowed exchange is the r15 parallelizing doc_id repartition
    (the single-row-group fixture scan is one task, and the k-gram
    hashing is the engine's heaviest per-row expression), and the
    lower(text) hoist must survive the optimizer: exactly ONE lower()
    in the plan, not one per k-gram lambda element."""
    plan = _plan(spark, sf_dir, "text_fingerprint_winnow")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(doc_id" in plan
    assert "HashAggregate" not in plan
    df = q.CATALOG["text_fingerprint_winnow"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert opt.count("lower(") == 1, opt.count("lower(")


def test_decontamination_broadcasts_eval_side(spark, sf_dir):
    """The eval set is small by construction: the fingerprint join must
    broadcast it so the training corpus never shuffles."""
    plan = _plan(spark, sf_dir, "decontaminate_eval_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_persist_scalar_refuses_container_columns(spark):
    """Caching a frame that still carries array/map/struct columns is
    the measured memory cliff — the engine-wide persist guard must
    refuse it and accept scalar projections."""
    import pytest

    from openalex_walden_spark.operators.guardrails import persist_scalar

    arr = spark.sql("SELECT 1 AS id, array(1,2,3) AS xs")
    with pytest.raises(ValueError, match="refusing to persist"):
        persist_scalar(arr)
    ok = persist_scalar(arr.select("id"))
    assert ok.count() == 1
    ok.unpersist()


def test_persist_fixed_width_contract(spark):
    """The r14 trainer-loop cache: fixed-width NUMERIC arrays (quantized
    vectors) are cacheable; maps/structs/nested arrays refuse, and — the
    r14 ADVICE tightening — so do non-numeric element types like
    array<string>, which are the unbounded token-list memory cliff this
    guard family exists to block (length-boundedness stays a caller
    assertion; element-type boundedness is now enforced)."""
    import pytest

    from openalex_walden_spark.operators.guardrails import (
        persist_fixed_width,
    )

    vec = spark.sql("SELECT 1 AS id, array(1L, 2L, 3L) AS qx")
    ok = persist_fixed_width(vec)
    assert ok.count() == 1
    ok.unpersist()
    nested = spark.sql("SELECT 1 AS id, array(array(1)) AS xs")
    with pytest.raises(ValueError, match="refusing to persist"):
        persist_fixed_width(nested)
    st = spark.sql("SELECT 1 AS id, named_struct('a', 1) AS s")
    with pytest.raises(ValueError, match="refusing to persist"):
        persist_fixed_width(st)
    toks = spark.sql("SELECT 1 AS id, array('a', 'b') AS toks")
    with pytest.raises(ValueError, match="refusing to persist"):
        persist_fixed_width(toks)


def test_no_catalog_query_caches_container_columns(spark):
    """Source-level sweep: every cache()/persist() call site in the
    engine must route through one of the TWO sanctioned guards —
    ``persist_scalar`` (scalar columns only) or ``persist_fixed_width``
    (scalars + fixed-width numeric arrays) — so no cached plan node can
    carry unbounded container columns.  guardrails.py itself is not
    blanket-exempt (r14 ADVICE): its raw ``.persist(`` calls are allowed
    ONLY inside those two functions, so a future raw persist added
    anywhere else in the module fails here too."""
    import pathlib
    import re

    qdir = pathlib.Path(__file__).parent.parent / "openalex_walden_spark"
    sanctioned = {"persist_scalar", "persist_fixed_width"}
    offenders = []
    for p in qdir.rglob("*.py"):
        src = p.read_text()
        for m in re.finditer(r"\.(cache|persist)\(", src):
            line = src[: m.start()].count("\n") + 1
            if p.name == "guardrails.py":
                # allowed only inside the two guard functions: find the
                # innermost def preceding the call site
                defs = [
                    (d.start(), d.group(1))
                    for d in re.finditer(r"^def (\w+)", src, re.M)
                    if d.start() < m.start()
                ]
                if defs and defs[-1][1] in sanctioned:
                    continue
            offenders.append(f"{p.name}:{line}")
    assert not offenders, f"raw cache()/persist() call sites: {offenders}"


def test_d6_pattern_cascade_no_cartesian(spark, sf_dir):
    """The 8-pattern x signal cascade joins strictly on the block key and
    the orcid value — a cartesian anywhere is the 100 TB killer."""
    plan = _plan(spark, sf_dir, "d6_pattern_cascade")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pii_scrub_is_shuffle_free(spark, sf_dir):
    """PII redaction is pure column expressions after the parallelizing
    repartition — exactly one exchange, no aggregates."""
    plan = _plan(spark, sf_dir, "pii_scrub_redact")
    assert plan.count("Exchange") == 1  # the explicit repartition only
    assert "HashAggregate" not in plan


def test_gopher_repetition_shuffles_on_doc_only(spark, sf_dir):
    """Per-doc n-gram stats: every aggregate keys on doc_id (possibly
    with the gram) — no global aggregation, no cartesian."""
    plan = _plan(spark, sf_dir, "quality_gopher_repetition")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "HashAggregate(keys=" in line:
            assert "doc_id" in line


def test_asof_join_single_key_shuffle(spark, sf_dir):
    """The as-of join is the union + ordered-window merge-scan: no join
    operator at all in the plan (so no range-join pair explosion), and
    every exchange partitions on user_id only."""
    plan = _plan(spark, sf_dir, "j14_asof_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan  # merge-scan, not a join
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "user_id" in line


def test_hypertable_rollup_single_expand(spark, sf_dir):
    """Three rollup granularities come from ONE Expand + one aggregate
    pair — not three scans."""
    plan = _plan(spark, sf_dir, "ev_hypertable_rollup")
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") == 1


def test_countmin_sketch_broadcasts_seeds(spark, sf_dir):
    """The d-way seed expansion must be a broadcast over the vocab-sized
    aggregate — the corpus-sized token explode is aggregated exactly
    once before any multiplication."""
    plan = _plan(spark, sf_dir, "sketch_countmin_estimates")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the vocab aggregate feeds both the sketch build and the probe from
    # the persisted copy — the corpus-sized explode+count runs ONCE
    assert plan.count("InMemoryTableScan") == 2


def test_segment_dedup_shuffles_hashes_only(spark, sf_dir):
    """No document text crosses an exchange: every hashpartitioning is
    on the 60-bit segment hash or doc_id."""
    plan = _plan(spark, sf_dir, "dedup_segments_exact")
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "seg_h" in line or "doc_id" in line
        assert "CartesianProduct" not in line


def test_range_join_is_bucketed_equi(spark, sf_dir):
    """The point-in-interval join must be the bucket-blocked EQUI join —
    never a BNLJ/cartesian over (probe x intervals)."""
    plan = _plan(spark, sf_dir, "j15_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_single_posting_build(spark, sf_dir):
    """The persisted posting list feeds dl, df and scoring — the
    corpus-sized explode+aggregate runs once; query set, df and corpus
    scalars broadcast."""
    spark.catalog.clearCache()  # a pre-cached posting list nests plan text
    plan = _plan(spark, sf_dir, "search_bm25_topk")
    # every explode in the plan text sits inside a cached-subtree
    # description (one copy per InMemoryTableScan); none executes outside
    # the single posting-list build
    assert plan.count("Generate explode") <= plan.count("InMemoryTableScan")
    assert plan.count("InMemoryTableScan") >= 3  # dl, df and scoring reuse it
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_catalog_no_cartesian_products(spark, sf_dir):
    """Catalog-wide scale gate: NO query may plan a CartesianProduct.
    (Broadcast nested-loop joins against deliberately tiny broadcast
    sides — corpus scalars, probe sets — are legitimate and distinct.)
    Every new operator inherits this check automatically."""
    spark.catalog.clearCache()
    offenders = []
    for name, spec in sorted(q.CATALOG.items()):
        plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


def test_hll_shuffles_registers_not_keys(spark, sf_dir):
    """The HLL build's only exchanges are the (group, register) partial
    agg and the final group agg — the raw key stream never shuffles, and
    both aggregates combine map-side."""
    plan = _plan(spark, sf_dir, "sketch_hll_distinct")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial_" in plan
    assert "Join" not in plan


def test_bloom_probe_joins_all_broadcast(spark, sf_dir):
    """The word table (256 rows) and truth markers broadcast onto the
    probe; a shuffled join anywhere here would defeat the point of a
    bloom-filter prune."""
    plan = _plan(spark, sf_dir, "sketch_bloom_probe")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_mixture_rebalance_never_shuffles_corpus_rows(spark, sf_dir):
    """Rates broadcast onto the corpus scan and the sampled side
    aggregates to source grain BEFORE the reporting join — no
    sort-merge join of document rows anywhere."""
    plan = _plan(spark, sf_dir, "mixture_rebalance_sample")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_session_window_single_exchange(spark, sf_dir):
    """Native session_window sessionizes inside one user_id exchange —
    the merge happens in the aggregation operator, not a second
    window pass."""
    plan = _plan(spark, sf_dir, "ev_session_window")
    assert plan.count("Exchange hashpartitioning") == 1


def test_pagerank_supersteps_stay_equi_join(spark, sf_dir):
    """The supersteps graph_pagerank_fixedpoint runs, read from the
    checkpoints it froze: the edge⋈degree plane is checkpointed once,
    hash-partitioned on src; each superstep is an equi-join on src plus
    a dst-keyed aggregate that combines map-side (partial_sum) before
    its one exchange, at the loop's 8 partitions with AQE off; no
    cartesian anywhere.  Below autoBroadcastJoinThreshold the join
    broadcasts: the first superstep the seed score table, every later
    one the edge⋈degree checkpoint, so only the aggregate shuffles."""
    import re as _re

    *frozen, _ = _plans_with_checkpoints(spark, sf_dir, "graph_pagerank_fixedpoint")
    # setup freezes the edges, the node universe, then edge⋈degree
    edge_plane, rounds = frozen[2], frozen[3:]
    assert edge_plane.startswith("Exchange hashpartitioning(src#")
    assert rounds
    builds = []
    for plan in rounds:
        assert "CartesianProduct" not in plan
        assert "AdaptiveSparkPlan" not in plan
        assert plan.count("partial_sum") == 2  # two supersteps per check
        shuffles = _re.findall(r"\bExchange (\w+)\((\w+)#\d+L?, (\d+)\)", plan)
        assert shuffles == [("hashpartitioning", "dst", "8")] * 2
        joins = _re.findall(
            r"BroadcastHashJoin \[(\w+)#\d+L?\], \[(\w+)#\d+L?\], Inner, (Build\w+)",
            plan)
        assert [j[:2] for j in joins] == [("src", "src")] * 2
        builds += [j[2] for j in reversed(joins)]  # in superstep order
    assert builds == ["BuildRight"] + ["BuildLeft"] * (len(builds) - 1)


def test_scd2_single_exchange(spark, sf_dir):
    """Tie dedup, change-flag lag and validity lead all reuse ONE
    user_id partitioning — a second exchange would mean the windows
    disagree on partitioning keys."""
    plan = _plan(spark, sf_dir, "ev_scd2_history")
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivm_delta_fold_no_cartesian(spark, sf_dir):
    """The IVM maintenance path: version diff is a keyed full-outer
    join (shuffle on the key, no cartesian), and both the base and
    final aggregates combine map-side."""
    plan = _plan(spark, sf_dir, "s4_incremental_agg_maintenance")
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_pack_sequences_no_global_window_over_docs(spark, sf_dir):
    """The packing offsets come from the two-pass bucketed cumsum: the
    only SinglePartition exchange feeds the bucket-count-sized running
    total (then broadcast); document rows themselves are windowed under
    a hashpartitioning exchange on the bucket key."""
    plan = _plan(spark, sf_dir, "pack_sequences_chunked")
    single = [
        ln for ln in plan.splitlines() if "Exchange SinglePartition" in ln
    ]
    assert len(single) == 1  # the tiny bucket table, never the corpus
    assert "Exchange hashpartitioning(bk" in plan
    assert "BroadcastHashJoin" in plan


def test_triangle_count_no_cartesian_and_partial_agg(spark, sf_dir):
    """Wedge enumeration and closure are equi-joins on src/(b1,b2);
    degree counts combine map-side before their node exchange."""
    plan = _plan(spark, sf_dir, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_dsir_weights_broadcast_onto_token_scan(spark, sf_dir):
    """The 512-row feature-weight table must broadcast back onto the
    exploded token scan; a sort-merge join there would shuffle every
    token instance in the corpus twice."""
    plan = _plan(spark, sf_dir, "sample_importance_weighted")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_manifest_single_shuffle_with_partials(spark, sf_dir):
    """The z-value is pure map-side arithmetic; the manifest aggregate
    combines map-side (partial_min/max/count) before its one bucket
    exchange."""
    plan = _plan(spark, sf_dir, "layout_zorder_stats")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan and "partial_min" in plan


def test_label_propagation_supersteps_stay_equi_join(spark, sf_dir):
    """Each LPA round: edges⋈labels equi-join, (dst,label) partial-agg,
    top-1 inside the dst partitioning — no cartesian anywhere.  Since
    r15 the loop is checkpoint-truncated (run_truncated_loop), so the
    RETURNED plan must read the final round's blocks and must NOT embed
    the geometric re-instantiation of earlier rounds (zero parquet
    scans: the lineitem fold+distinct executed exactly once, inside the
    loop)."""
    plan = _plan(spark, sf_dir, "graph_label_propagation")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_lm_surprisal_no_cartesian_partial_counts(spark, sf_dir):
    """Bigram counts combine map-side before the bigram exchange; the
    1-row max-bits table broadcasts; no cartesian anywhere."""
    plan = _plan(spark, sf_dir, "quality_lm_surprisal")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_kmeans_seeds_broadcast_no_vector_collect(spark, sf_dir):
    """Seeds broadcast onto the corpus scan as ONE array-of-structs row
    (r14: the k-fold crossJoin + row_number() window over vec_id — a
    k-way blowup of the corpus pushed through a full exchange — was
    replaced by a map-side array_min fold, so the only exchange left is
    the (cluster, dim) centroid update) and the centroid update is a
    streaming aggregate.  collect_list appears exactly once: over the
    k (= 8) seed rows that become the broadcast literal array — never
    over the corpus (corpus-side vector collection is the memory cliff
    this pin exists to block)."""
    plan = _plan(spark, sf_dir, "kmeans_lloyd_step")
    assert "CartesianProduct" not in plan
    # collect_list may appear only over the k seed structs (column qc),
    # never over the corpus vectors/rows
    import re as _re

    for m in _re.finditer(r"collect_list\((\w+)", plan):
        assert m.group(1) in ("struct", "qc"), m.group(0)
    assert "collect_list(qx" not in plan
    assert "collect_list(embedding" not in plan
    assert "BroadcastExchange" in plan
    # the r14 pin: assignment is map-side — no row_number window over
    # vec_id, no exchange keyed on the corpus row id
    assert "hashpartitioning(vec_id" not in plan
    assert "row_number" not in plan


def test_quantized_vectors_full_width_non_null(spark, sf_dir):
    """Executable _TR_ARGMIN / assign_cells precondition (r14 ADVICE):
    the array_min argmin diverges from the old CASE-fold only when a
    distance is NULL, which zip_with can produce solely from a
    length-mismatched or null-element vector.  The r14 audit verified
    that unreachable offline; this test makes the documented
    precondition executable — every quantized corpus vector must have
    ONE common width and zero NULL elements."""
    from pyspark.sql import functions as F

    from openalex_walden_spark.queries.advanced import _tr_quantized
    from openalex_walden_spark.tables import register_views

    register_views(spark, sf_dir, ("embeddings",))
    q = _tr_quantized(spark)
    widths = [r[0] for r in q.select(F.size("qx")).distinct().collect()]
    assert len(widths) == 1, f"mixed vector widths: {widths}"
    n_null = q.where(
        F.exists("qx", lambda v: v.isNull()) | F.col("qx").isNull()
    ).count()
    assert n_null == 0


def test_hierarchy_doubling_equi_joins_only(spark, sf_dir, jobs_in):
    """The walk is the oracle's recursive CTE run as ONE plan: a
    UnionLoop, no cartesian, no checkpointed driver-loop round, and no
    Spark job while the query is built."""
    from openalex_walden_spark.tables import register_views

    register_views(spark, sf_dir, ("customer",))  # infer the schema first
    with jobs_in("hierarchy_build") as jobs:
        df = q.CATALOG["hierarchy_flatten_doubling"].spark(spark, sf_dir)
    assert jobs == []
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "UnionLoop" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" not in plan


# Keys whose parent keys are not rows, down to 2^63 - 1: the deepest
# walk a BIGINT key takes (depth 18).
_SPARSE_DEEP_KEYS = [5, 42, 10**16 + 7, 98765432109876543,
                     123456789012345678, 2**63 - 1]


def _sparse_deep_customer(tmp_path) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"c_custkey": pa.array(_SPARSE_DEEP_KEYS, pa.int64())}),
                   str(tmp_path / "customer.parquet"))
    return str(tmp_path)


def test_hierarchy_walk_matches_oracle_on_sparse_deep_keys(spark, tmp_path):
    """Every node reaches its root, whether or not its parent key is a
    row, at every depth a BIGINT key can take — as in the oracle."""
    from openalex_walden_spark.oracle import compare, duckdb_connect

    sf = _sparse_deep_customer(tmp_path)
    spec = q.CATALOG["hierarchy_flatten_doubling"]
    con = duckdb_connect(sf)
    try:
        res = compare(spec.name, spec.spark(spark, sf), con, spec.oracle)
    finally:
        con.close()
    assert res.match, res.summary
    assert res.rows_spark == len(_SPARSE_DEEP_KEYS)


def test_hierarchy_walk_raises_past_the_row_limit(spark, tmp_path):
    """Past spark.sql.cteRecursionRowLimit the walk fails instead of
    returning a truncated hierarchy (these keys accumulate 74 rows)."""
    sf = _sparse_deep_customer(tmp_path)
    key = "spark.sql.cteRecursionRowLimit"
    saved = spark.conf.get(key)
    spark.conf.set(key, "50")
    try:
        with pytest.raises(Exception, match="RECURSION_ROW_LIMIT_EXCEEDED"):
            q.CATALOG["hierarchy_flatten_doubling"].spark(spark, sf).collect()
    finally:
        spark.conf.set(key, saved)


def test_ancestors_lineage_loop_truncated(spark, sf_dir):
    """institution_ancestors_lineage (r15): the 3-references-per-round
    doubling loop (union + self-join) is checkpoint-truncated — the
    returned plan reads the final round's blocks; the unrolled shape
    embedded the base-edge build 3^4 = 81 times (243 input scans)."""
    plan = _plan(spark, sf_dir, "institution_ancestors_lineage")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def _power_of_three_customer(tmp_path, depth: int) -> str:
    """Keys 3^0..3^depth: a parent chain depth generations deep (no key
    is divisible by 5 or 37, so every edge is a kept 'parent' edge)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = [3**k for k in range(depth + 1)]
    pq.write_table(pa.table({"c_custkey": pa.array(keys, pa.int64())}),
                   str(tmp_path / "customer.parquet"))
    return str(tmp_path)


def test_ancestors_lineage_refuses_past_its_cap(spark, tmp_path):
    """A 17-generation chain is deeper than the four doubling rounds
    close: the query fails instead of dropping the generation-17 pair
    the oracle returns."""
    sf = _power_of_three_customer(tmp_path, 17)
    df = q.CATALOG["institution_ancestors_lineage"].spark(spark, sf)
    with pytest.raises(Exception, match="reaches generation 16"):
        df.collect()


def test_ancestors_lineage_matches_oracle_below_its_cap(spark, tmp_path):
    """A 14-generation chain is closed in full, as in the oracle."""
    from openalex_walden_spark.oracle import compare, duckdb_connect

    sf = _power_of_three_customer(tmp_path, 14)
    spec = q.CATALOG["institution_ancestors_lineage"]
    con = duckdb_connect(sf)
    try:
        res = compare(spec.name, spec.spark(spark, sf), con, spec.oracle)
    finally:
        con.close()
    assert res.match, res.summary
    assert res.rows_spark == 14 * 15 // 2


def test_s8_scores_in_the_plan(spark, sf_dir):
    """s8_model_inference's linear scorer is a SQL fold: no Python
    worker in the plan, and the scoring projection rides the top-K
    (one job, no range-partitioned sort of the whole table)."""
    plan = _plan(spark, sf_dir, "s8_model_inference")
    assert "MapInPandas" not in plan and "Python" not in plan
    assert plan.startswith("TakeOrderedAndProject(limit=256")
    assert "rangepartitioning" not in plan


def test_prefix_filter_no_cartesian_no_unbounded_join(spark, sf_dir):
    """The candidate join runs on exploded PREFIX shingles only (rare-
    token buckets); no cartesian/BNLJ anywhere in the exact-similarity
    path."""
    plan = _plan(spark, sf_dir, "dedup_prefix_filter_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_profile_single_scan_all_columns(spark, sf_dir):
    """The whole multi-column profile reads the table ONCE — the
    oracle's UNION-per-column form would rescan N times; at 100 TB
    1-scan-vs-N IS the operator."""
    plan = _plan(spark, sf_dir, "profile_table_stats")
    assert plan.count("FileScan parquet") == 1


def test_pagerank_lineage_stays_bounded(spark, sf_dir):
    """The converged PageRank loop localCheckpoints the score table
    every 2 rounds, so the plan of the RESULT is a constant-size tail
    over a checkpointed RDD — never the 36+-round join chain.  (Without
    the checkpoints this plan would contain ~100 joins and Catalyst
    analysis time would dominate the query.)"""
    plan = _plan(spark, sf_dir, "graph_pagerank_fixedpoint")
    assert plan.count("Join") <= 4, "score lineage not truncated"
    assert "ExistingRDD" in plan  # the checkpointed score table


def test_pagerank_converged_beyond_unrolled_demo(spark, sf_dir):
    """The integer dynamics provably differ between 3 rounds and the
    fixed point on this fixture (measured: fixed point at round 36);
    assert the shipped result is NOT the 3-round vector, i.e. the loop
    really iterated past the demo depth."""
    from pyspark.sql import functions as F

    from openalex_walden_spark.operators.pagerank import PR_ONE, pagerank_fixedpoint
    from openalex_walden_spark.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    li = spark.table("lineitem")
    src = (F.col("l_orderkey") % 1024).alias("src")
    dst = (F.col("l_partkey") % 1024).alias("dst")
    edges = li.select(src, dst).where(F.col("src") != F.col("dst")).distinct()
    three = pagerank_fixedpoint(edges, max_rounds=4).toPandas()
    conv = q.CATALOG["graph_pagerank_fixedpoint"].spark(spark, sf_dir).toPandas()
    merged = conv.merge(
        three.rename(columns={"score": "score3"}), on="node", how="inner"
    )
    assert (merged["pagerank_fp"] != merged["score3"]).any()
    # Sanity: scores live in fixed-point units around PR_ONE.
    assert merged["pagerank_fp"].between(PR_ONE // 10, PR_ONE * 50).all()


def test_iterative_checkpoints_are_released(spark, sf_dir):
    """pagerank/components must not leave per-round localCheckpoint
    blocks pinned for the session (r13 verdict #6): after the call only
    the RDDs the RETURNED DataFrame still reads may remain persistent —
    pagerank keeps exactly its final (materialized) score checkpoint,
    components keeps the raw edge projection plus the final star round —
    and the returned frames must still be actionable (the blocks they
    read were NOT released)."""
    from pyspark.sql import functions as F

    from openalex_walden_spark.operators.components import connected_components
    from openalex_walden_spark.operators.pagerank import pagerank_fixedpoint

    def persistent() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # ids, not a count: the ContextCleaner may release an earlier test's
    # blocks while this one runs
    before = persistent()
    edges = spark.range(0, 1200).select(
        (F.col("id") % 300).alias("src"),
        ((F.col("id") * 7 + 3) % 300).alias("dst"),
    )
    pr = pagerank_fixedpoint(edges)
    assert len(persistent() - before) == 1, "pagerank left intermediates pinned"
    assert pr.count() == 300  # final checkpoint still readable
    cc = connected_components(edges)
    assert len(persistent() - before) == 3, "components left intermediates pinned"
    assert cc.count() == 300  # raw + final round still readable


def test_funnel_collect_is_type_bounded(spark, sf_dir):
    """The per-user collect in the funnel fold must only ever see
    funnel-step event types — the In(event_type,...) filter reaches the
    parquet scan, so a hot user's page-view firehose never enters the
    collected array (the round-5 verdict's skew finding)."""
    plan = _plan(spark, sf_dir, "ev_funnel_steps")
    assert "In(event_type" in plan  # pushed to the scan
    # the distinct-user universe scan reads ONLY user_id
    assert "ReadSchema: struct<user_id" in plan


def test_trained_ivf_search_is_broadcast_equi(spark, sf_dir):
    """Trained-IVF: centroids are literals (map-side assignment and
    routing — no join for either), the probe set broadcasts onto the
    corpus, and nothing degenerates to a cartesian."""
    plan = _plan(spark, sf_dir, "ann_ivf_trained_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # corpus joins only against broadcasts


def test_density_pairs_are_group_blocked(spark, sf_dir):
    """Density overmerge: every pairwise distance is produced by an
    equi-join on the profile key — no all-pairs stage anywhere."""
    plan = _plan(spark, sf_dir, "overmerge_density_split")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hybrid_semantic_arm_is_cell_routed(spark, sf_dir):
    """Round-7 verdict: the hybrid-RRF semantic arm must never put the
    corpus in one window partition per query.  The IVF-routed arm's
    corpus side reaches the window only through a broadcast-hash
    EQUI-join on the trained cell label — no nested-loop/cartesian
    corpus expansion anywhere in the arm."""
    from openalex_walden_spark.queries.llmdata import _hybrid_semantic_arm
    from openalex_walden_spark.tables import register_views

    register_views(spark, sf_dir, ("embeddings",))
    df = _hybrid_semantic_arm(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "BroadcastHashJoin [cell" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salvage_s1_registry_joins_broadcast(spark, sf_dir):
    """S1's two registry arms are DISTINCT key rollups — the small
    dimension by construction — so both rescue joins must broadcast;
    a sort-merge here would shuffle the decorated corpus twice."""
    plan = _plan(spark, sf_dir, "udf_award_salvage_s1")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_salvage_s3_seed_broadcast_and_gram_before_key(spark, sf_dir):
    """S3's 22-family seed must broadcast (cost = families x
    candidates), and the strong-grammar filter must run BEFORE the
    target keying so the fan-out collapses immediately."""
    plan = _plan(spark, sf_dir, "udf_award_salvage_s3_wrong_funder")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_delete_feed_uses_anti_join(spark, sf_dir):
    """The removed-docs delete feed must plan a broadcast/SM anti join
    — never materializing the surviving side."""
    plan = _plan(spark, sf_dir, "maint_removed_docs_delete_feed")
    assert "LeftAnti" in plan


def test_salt_ladder_counts_broadcast_back(spark, sf_dir):
    """The date-count steering frame is a handful of rows; it must
    broadcast back onto the entity frame (the 500M-row frame never
    shuffles for salting)."""
    plan = _plan(spark, sf_dir, "s6_export_salt_ladder")
    assert plan.count("BroadcastHashJoin") >= 1


def test_sharded_doc_gate_single_join(spark, sf_dir):
    """The churn gate is ONE broadcast join on work_id (prev state
    builds the hashed relation); a sort-merge would shuffle the full
    doc frame for a gate that only needs the key+hash pair."""
    plan = _plan(spark, sf_dir, "serving_sharded_doc_maintenance")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_funder_roles_no_nested_loop(spark, sf_dir):
    """The bidirectional entity-link expansion is two hash equi-joins,
    never the reference's OR-join nested loop (funders x edges dies at
    scale)."""
    plan = _plan(spark, sf_dir, "funder_roles_entity_links")
    assert "NestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_collab_pairs_no_cartesian(spark, sf_dir):
    """The pair self-join runs on the 5-university edge subset with an
    equi-key on l_orderkey — a cartesian anywhere here would square the
    corpus."""
    plan = _plan(spark, sf_dir, "impact_collab_pairs")
    assert "CartesianProduct" not in plan


def test_downstream_reach_broadcasts_corpus(spark, sf_dir):
    """The corpus part list and both dims broadcast into the lineitem
    scan — the fact table never shuffles to build the citation edges."""
    plan = _plan(spark, sf_dir, "impact_downstream_reach")
    assert plan.count("BroadcastHashJoin") >= 3


def test_stale_audit_anti_join(spark, sf_dir):
    """The index-minus-table reconciliation is a hash anti-join, not a
    driver-side set diff."""
    plan = _plan(spark, sf_dir, "es_sync_stale_audit")
    assert "LeftAnti" in plan


def test_content_manifest_partial_agg(spark, sf_dir):
    """The min_by/min rollup partial-aggregates map-side, so the
    shuffle carries one row per work, not one per location."""
    plan = _plan(spark, sf_dir, "content_manifest_export")
    assert "partial_" in plan
    assert "Window" not in plan  # the reference's row_number rewrite held


def test_affiliation_battery_single_projection(spark, sf_dir):
    """The 1,174-rule matcher is ONE map-side projection — no shuffle,
    no UDF, no join (the 100 TB claim: the cascade runs inside the
    scan)."""
    plan = _plan(spark, sf_dir, "affiliation_rules_match")
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_guard_batch_no_cartesian(spark, sf_dir):
    """The rebind cascade is seat-keyed hash joins throughout."""
    plan = _plan(spark, sf_dir, "guard_verdict_batch")
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Round-9 additions: scraper parse stages, registry keying, serving shapes
# ---------------------------------------------------------------------------

def test_kaken_parse_dedup_is_aggregate_not_window(spark, sf_dir):
    """The project_id dedup-keep-first must plan as a partial-aggregable
    min_by (one exchange), never a corpus-wide row_number window."""
    plan = _plan(spark, sf_dir, "kaken_parse_projects")
    assert "Window" not in plan
    assert "partial_min_by" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gtr_parse_funds_prune_and_broadcast(spark, sf_dir):
    """The /funds rollup filters INCOME_ACTUAL before its exchange,
    partial-aggregates map-side, and the amounts join broadcasts the
    rollup; the dedup is min_by, not a window."""
    plan = _plan(spark, sf_dir, "gtr_parse_awards")
    assert "Window" not in plan
    assert "partial_sum" in plan and "partial_min_by" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_registry_key_battery_single_rollup(spark, sf_dir):
    """Macro-expanded SQL UDF: zero Python, one shuffle for the
    family rollup."""
    plan = _plan(spark, sf_dir, "udf_award_registry_key_battery")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_cn_province_parse_is_shuffle_free(spark, sf_dir):
    """The shared provincial normalize library is pure column algebra:
    one scan, whose only exchange is the round-robin spread over it
    (``spread``: no hash shuffle), no Python in the plan (the reference
    runs per-row pandas)."""
    plan = _plan(spark, sf_dir, "cn_province_awards_parse")
    assert plan.count("Exchange RoundRobinPartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lakebase_doc_shape_is_shuffle_free_and_udf_free(spark, sf_dir):
    """The abstract truncation is column algebra in whole-stage codegen —
    the reference's row UDF eliminated."""
    plan = _plan(spark, sf_dir, "lakebase_doc_shape")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # executedPlan().toString() marks codegen stages with '*(n)'
    assert "*(1)" in plan


def test_vector_docs_staging_broadcasts_embeddings(spark, sf_dir):
    """The embeddings side broadcasts into the works join; the seat and
    batch rollups partial-aggregate; no corpus window."""
    plan = _plan(spark, sf_dir, "es_sync_vector_docs")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_indexes_vocab_distinct_before_count(spark, sf_dir):
    """explode -> DISTINCT collapses map-side before the count shuffle;
    the 5-row vocab join broadcasts."""
    plan = _plan(spark, sf_dir, "indexes_api_build")
    assert "Generate explode" in plan
    assert "partial_" in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_twas_parse_single_scan_no_shuffle(spark, sf_dir):
    """TWAS normalize: one scan, the layer barriers are 1:1 Generates
    (no hash shuffle — only the round-robin spread over the scan — and
    no Python stage), and the plan stays bounded (the chained-CTE form
    inlined to a 167 KB optimized plan and fell out of whole-stage
    codegen)."""
    plan = _plan(spark, sf_dir, "twas_parse_awards")
    assert plan.count("Exchange RoundRobinPartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["twas_parse_awards"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 100_000, f"plan blow-up: {len(opt)} chars"


def test_bhf_parse_single_window_dedup(spark, sf_dir):
    """BHF normalize: the only exchange is the per-ref keep-first
    window, and rn=1 applies as a WindowGroupLimit before the sort."""
    plan = _plan(spark, sf_dir, "bhf_parse_awards")
    assert plan.count("Exchange") <= 2  # dedup hashpartition (+AQE read)
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_canada_council_parse_shape(spark, sf_dir):
    """Canada Council: two scan arms unioned, the co-author explode and
    the layer barriers are Generates, the 10-row GG label join
    broadcasts, and the plan stays bounded (the chained form hit a
    70 MB optimized plan / driver OOM)."""
    plan = _plan(spark, sf_dir, "canada_council_prizes_parse")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    df = q.CATALOG["canada_council_prizes_parse"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 100_000, f"plan blow-up: {len(opt)} chars"


def test_isciii_parse_single_scan_no_shuffle(spark, sf_dir):
    """ISCIII normalize: pure column algebra over one scan."""
    plan = _plan(spark, sf_dir, "isciii_parse_awards")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_award_topics_merge_broadcast_meta(spark, sf_dir):
    """Award-topics merge: hierarchy metadata broadcasts; the top-3
    aggregate and the prior-state join share the award_id key; no
    cartesian product, no Python."""
    plan = _plan(spark, sf_dir, "award_topics_merge_state")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sshrc_single_aggregate_shuffle(spark, sf_dir):
    """SSHRC rollup: exactly one hash exchange (the per-award
    aggregate), partial aggregation map-side, no Python."""
    plan = _plan(spark, sf_dir, "sshrc_parse_awards")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rgc_hk_single_scan_no_shuffle(spark, sf_dir):
    """RGC HK normalize: pure HOF column algebra over one scan (its
    only exchange is the round-robin spread over the scan), plan
    bounded (the person-split expressions repeat over attributes, not
    over inlined derivations)."""
    plan = _plan(spark, sf_dir, "rgc_hk_parse_awards")
    assert plan.count("Exchange RoundRobinPartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    df = q.CATALOG["rgc_hk_parse_awards"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 200_000, f"plan blow-up: {len(opt)} chars"


def test_blue_planet_single_scan_no_shuffle(spark, sf_dir):
    """Blue Planet normalize: one scan through Generate layer barriers,
    bounded plan, no hash shuffle (the one exchange is the round-robin
    spread over the scan), no Python."""
    plan = _plan(spark, sf_dir, "blue_planet_parse_awards")
    assert plan.count("Exchange RoundRobinPartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    df = q.CATALOG["blue_planet_parse_awards"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_sloan_broadcast_country_map(spark, sf_dir):
    """Sloan parse: the country map broadcasts; the only exchange is the
    keep-first slug window; no Python."""
    plan = _plan(spark, sf_dir, "sloan_parse_grants")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dreyfus_broadcast_registry(spark, sf_dir):
    """Dreyfus parse: 4-row registry broadcasts; one keep-first window
    exchange; no Python."""
    plan = _plan(spark, sf_dir, "dreyfus_parse_awards")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_searle_single_window(spark, sf_dir):
    """Searle parse: one keep-first window exchange; no Python."""
    plan = _plan(spark, sf_dir, "searle_parse_scholars")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_threesixty_simple_union_shape(spark, sf_dir):
    """360Giving simple family: seven scan arms unioned; the only
    exchanges are the garfield snapshot window, the vivensa keep-first
    window (both WindowGroupLimit-eligible) and the maudsley DISTINCT;
    no Python, no joins, bounded plan."""
    plan = _plan(spark, sf_dir, "threesixty_simple_parse")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    df = q.CATALOG["threesixty_simple_parse"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 200_000, f"plan blow-up: {len(opt)} chars"


def test_threesixty_rich_single_scan_shapes(spark, sf_dir):
    """Arcadia: single scan, pure column algebra, no hash shuffle (the
    one exchange is the round-robin spread over the scan).  Wellcome:
    one scan + the grant_ref keep-first window.  No Python either way."""
    plan = _plan(spark, sf_dir, "arcadia_parse_grants")
    assert plan.count("Exchange RoundRobinPartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    plan = _plan(spark, sf_dir, "wellcome_parse_grants")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_potter_dual_arm_no_shuffle(spark, sf_dir):
    """Potter: two scan arms unioned, no hash shuffle (each arm's one
    exchange is the round-robin spread over its scan), no Python,
    bounded plan."""
    plan = _plan(spark, sf_dir, "potter_parse_awards")
    assert plan.count("Exchange RoundRobinPartitioning") == 2
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["potter_parse_awards"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 200_000, f"plan blow-up: {len(opt)} chars"


def test_tinyfunder_barriered_union_shape(spark, sf_dir):
    """Tiny-funder kit: five scan arms, heavy split/window expressions
    behind Generate barriers, one keep-first window per member, the
    researchnb multi-anchor explode; no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "tinyfunder_parse_awards")
    assert plan.count("Exchange hashpartitioning") <= 5
    assert "WindowGroupLimit" in plan
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["tinyfunder_parse_awards"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_method5_no_shuffle_union(spark, sf_dir):
    """Method-5 family: eight scan arms behind Generate barriers, whose
    only exchanges are the round-robin spreads over their scans, plus
    the AOS arm (round 11), whose page-walk is exploded
    node rows with per-page windows/joins — those exchanges partition
    on the page key and are the arm's whole cost; no Python; bounded
    plan.  Bound raised 150K -> 170K for the round-14 schmidt arm:
    the union is 9 linear barrier-staged arms at ~150K in a fresh
    session (plus a few KB of attribute-id width in a long-lived one)
    — the bound still catches the 2-10x CollapseProject blow-up class
    it exists for (tinyfunder measured 270K pre-barrier)."""
    plan = _plan(spark, sf_dir, "method5_parse_awards")
    assert plan.count("Exchange hashpartitioning") <= 14
    # one round-robin spread per orders scan (``spread``)
    assert plan.count("Exchange RoundRobinPartitioning") == 19
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["method5_parse_awards"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 170_000, f"plan blow-up: {len(opt)} chars"


def test_prize_pattern_share_windows_only(spark, sf_dir):
    """Prize-pattern family: five scan arms behind Generate barriers;
    the only exchanges are the three share-count windows (bbva,
    crafoord, millennium — dan_david's amount is constant and the
    princess_asturias share count is the laureate-array size, no
    window); the millennium and princess_asturias laureate explodes
    are Generates; no Python."""
    plan = _plan(spark, sf_dir, "prize_pattern_parse")
    # +1 for the stockholm_water_prize card DISTINCT (round 11)
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["prize_pattern_parse"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_foundation_archive_no_shuffle(spark, sf_dir):
    """Foundation-archive family: five barriered scan arms + the kirby
    year-column explode; the only exchange is the round-12 THF
    cross-facet slug keep-first window; no Python; bounded plan."""
    plan = _plan(spark, sf_dir, "foundation_archive_parse")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["foundation_archive_parse"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_microfunder_two_windows_only(spark, sf_dir):
    """Micro-funder kit: eight barriered scan arms; the only exchanges
    are the eruk/lcrf keep-first windows (WindowGroupLimit-eligible);
    no Python; bounded plan."""
    plan = _plan(spark, sf_dir, "microfunder_parse_awards")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "WindowGroupLimit" in plan
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["microfunder_parse_awards"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_wprest_no_shuffle(spark, sf_dir):
    """WP/FacetWP card family: four barriered scan arms (templeton is
    a zero-shuffle passthrough); the only exchange is the hewlett
    -v{n} collision window (round 11); no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "wprest_parse_projects")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["wprest_parse_projects"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 100_000, f"plan blow-up: {len(opt)} chars"


def test_fellowdir_one_window(spark, sf_dir):
    """Fellowship-directory family: five barriered scan arms + the
    radcliffe (slug, year), scas cross-term, hertz slug keep-first and
    lister cross-page merge windows; no Python."""
    plan = _plan(spark, sf_dir, "fellowship_directory_parse")
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    df = q.CATALOG["fellowship_directory_parse"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    # linear union growth (5 arms x 31 columns), not expression blow-up
    assert len(opt) < 170_000, f"plan blow-up: {len(opt)} chars"


def test_anr_windows_and_join_only(spark, sf_dir):
    """ANR parse: one partner rank-limit window, one projects<-leads
    equi-join, one cross-arm dedup window; no Python, no cartesian,
    bounded plan."""
    plan = _plan(spark, sf_dir, "anr_parse_projects")
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["anr_parse_projects"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 100_000, f"plan blow-up: {len(opt)} chars"


def test_nhmrc_one_window(spark, sf_dir):
    """NHMRC stack: four format arms unioned, one keep-first dedup
    window; no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "nhmrc_parse_grants")
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["nhmrc_parse_grants"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 100_000, f"plan blow-up: {len(opt)} chars"


def test_nsf_no_shuffle(spark, sf_dir):
    """NSF flatten: one scan of pure column algebra — zero exchanges,
    no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "nsf_parse_awards")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    df = q.CATALOG["nsf_parse_awards"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 100_000, f"plan blow-up: {len(opt)} chars"


def test_publishers_api_no_nested_loop(spark, sf_dir):
    """Publishers API: the OR-condition entity_link join is decomposed
    into equi-joins — no nested loop, no cartesian; dimension joins
    broadcast; no Python."""
    plan = _plan(spark, sf_dir, "publishers_api_build")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    df = q.CATALOG["publishers_api_build"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_keywords_api_shape(spark, sf_dir):
    """Keywords API: dedup window + rollup + broadcast dimension join;
    no cartesian, no Python."""
    plan = _plan(spark, sf_dir, "keywords_api_build")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    df = q.CATALOG["keywords_api_build"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 100_000, f"plan blow-up: {len(opt)} chars"


def test_pcaarrd_single_shuffle_window_dedupe(spark, sf_dir):
    """PCAARRD: one orders scan, barrier-layered line algebra, and ONE
    award-id shuffle — keep-latest row_number, group count, year
    concat and GIA JSON all ride windows over the same partitioning
    so the parse tree executes once.  No Python, bounded plan."""
    plan = _plan(spark, sf_dir, "pcaarrd_parse_projects")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["pcaarrd_parse_projects"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_rfbr_single_shuffle_keep_earliest(spark, sf_dir):
    """RFBR: one orders scan, listing/detail grammar behind barriers,
    ONE grant-number exchange for the keep-earliest window (groups
    <= 3); detail enrichment is pure column algebra on the kept row.
    No Python, bounded plan."""
    plan = _plan(spark, sf_dir, "rfbr_parse_projects")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["rfbr_parse_projects"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_mjff_zero_shuffle_scan(spark, sf_dir):
    """MJFF: one scan of pure column algebra — its only exchange is the
    round-robin spread over the scan, no joins, no Python, bounded
    plan."""
    plan = _plan(spark, sf_dir, "mjff_parse_grants")
    assert plan.count("Exchange RoundRobinPartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["mjff_parse_grants"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_carlsberg_zero_shuffle_scan(spark, sf_dir):
    """Carlsberg: one scan of pure column algebra — its only exchange
    is the round-robin spread over the scan, no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "carlsberg_parse_grants")
    assert plan.count("Exchange RoundRobinPartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["carlsberg_parse_grants"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_mmw_single_shuffle_collision_window(spark, sf_dir):
    """MMW: one scan, barrier-layered paragraph grammar, ONE native-id
    exchange for the ordered collision-suffix window.  No Python,
    bounded plan."""
    plan = _plan(spark, sf_dir, "mmw_parse_grants")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["mmw_parse_grants"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_holberg_zero_shuffle_scan(spark, sf_dir):
    """Holberg: one scan of pure column algebra — zero exchanges,
    no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "holberg_parse_laureates")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["holberg_parse_laureates"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_letten_zero_shuffle_scan(spark, sf_dir):
    """Letten: one scan exploded x4 canonical winners behind Generate
    barriers — exactly ONE exchange (the round-robin spread directly
    over the scan, below the x4 winners Generate: the single-row-group
    fixture scan is one task, and this parse is ~100 µs/row of regex,
    so without it the whole query ran on one core), no Python, bounded
    plan."""
    plan = _plan(spark, sf_dir, "letten_parse_laureates")
    assert plan.count("Exchange") == 1  # the parallelizing repartition
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["letten_parse_laureates"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_hilton_zero_shuffle_scan(spark, sf_dir):
    """Hilton: one scan of pure column algebra — zero exchanges, no
    Python, bounded plan."""
    plan = _plan(spark, sf_dir, "hilton_parse_grants")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["hilton_parse_grants"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_telethon_zero_shuffle_scan(spark, sf_dir):
    """Telethon: one scan of pure column algebra — zero exchanges, no
    Python, bounded plan."""
    plan = _plan(spark, sf_dir, "telethon_parse_grants")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["telethon_parse_grants"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_vilcek_zero_shuffle_scan(spark, sf_dir):
    """Vilcek: one scan of pure column algebra — its only exchange is
    the round-robin spread over the scan, no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "vilcek_parse_prizes")
    assert plan.count("Exchange RoundRobinPartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["vilcek_parse_prizes"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_nuffield_zero_shuffle_scan(spark, sf_dir):
    """Nuffield: one scan of pure column algebra — its only exchange is
    the round-robin spread over the scan, no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "nuffield_parse_projects")
    assert plan.count("Exchange RoundRobinPartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["nuffield_parse_projects"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_acmedsci_zero_shuffle_scan(spark, sf_dir):
    """AcMedSci: one scan of pure column algebra — exactly one exchange
    (the round-robin spread over the single-row-group fixture scan),
    no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "acmedsci_parse_awards")
    assert plan.count("Exchange") == 1  # the parallelizing repartition
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["acmedsci_parse_awards"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_lasker_zero_shuffle_scan(spark, sf_dir):
    """Lasker: one scan + one Generate explode — zero exchanges, no
    Python, bounded plan."""
    plan = _plan(spark, sf_dir, "lasker_parse_awards")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["lasker_parse_awards"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_cure_epilepsy_zero_shuffle_scan(spark, sf_dir):
    """CURE Epilepsy: one scan of pure column algebra — zero
    exchanges, no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "cure_epilepsy_parse_grants")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["cure_epilepsy_parse_grants"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_ssf_zero_shuffle_scan(spark, sf_dir):
    """SSF: one scan of pure column algebra — zero exchanges, no
    Python, bounded plan."""
    plan = _plan(spark, sf_dir, "ssf_parse_grants")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["ssf_parse_grants"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_keck_zero_shuffle_scan(spark, sf_dir):
    """Keck: one scan of pure column algebra — zero exchanges, no
    Python, bounded plan."""
    plan = _plan(spark, sf_dir, "keck_parse_grants")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["keck_parse_grants"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_warren_alpert_zero_shuffle_scan(spark, sf_dir):
    """Warren Alpert: one scan + one Generate explode — its only
    exchange is the round-robin spread over the scan, no Python,
    bounded plan."""
    plan = _plan(spark, sf_dir, "warren_alpert_parse_prizes")
    assert plan.count("Exchange RoundRobinPartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["warren_alpert_parse_prizes"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_pchrd_ongoing_zero_shuffle_scan(spark, sf_dir):
    """PCHRD ongoing projects: one scan of pure column algebra — zero
    exchanges, no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "pchrd_parse_projects")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["pchrd_parse_projects"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_nomis_zero_shuffle_scan(spark, sf_dir):
    """NOMIS: one scan of pure column algebra — its only exchange is
    the round-robin spread over the scan, no Python, bounded plan."""
    plan = _plan(spark, sf_dir, "nomis_parse_projects")
    assert plan.count("Exchange RoundRobinPartitioning") == 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["nomis_parse_projects"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_heineken_zero_shuffle_scan(spark, sf_dir):
    """Heineken: one scan of pure column algebra — zero exchanges, no
    Python, bounded plan."""
    plan = _plan(spark, sf_dir, "heineken_parse_prizes")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    df = q.CATALOG["heineken_parse_prizes"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_cifar_zero_shuffle_scan(spark, sf_dir):
    """CIFAR: one scan + one Generate explode over the per-bio program
    array — zero exchanges, no Python, bounded plan.  Embarrassingly
    parallel at any corpus size (one bio never crosses a partition)."""
    plan = _plan(spark, sf_dir, "cifar_parse_appointments")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Generate explode") >= 1  # the (bio x program) flatten
    df = q.CATALOG["cifar_parse_appointments"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_kauffman_single_exchange_dedupe(spark, sf_dir):
    """Kauffman: exactly ONE exchange — the keep-first-in-walk-order
    window dedupe on wp_id (reference :303-306).  No join-back, no
    Python; the parse algebra stays on the window's output partitions."""
    plan = _plan(spark, sf_dir, "kauffman_parse_grants")
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan
    df = q.CATALOG["kauffman_parse_grants"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


def test_laureate_prize_two_window_exchanges(spark, sf_dir):
    """Laureate family: 4 scan arms; the ONLY exchanges belong to the
    kyoto and king-faisal share-count windows (the reference's Counter
    dicts).  No Python, no cartesian, bounded plan."""
    plan = _plan(spark, sf_dir, "laureate_prize_parse")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex <= 4, n_ex  # 2 windows; AQE may add reused shuffles
    # each arm's single-row-group scan additionally sits under one
    # round-robin spread exchange (``spread``)
    assert plan.count("Exchange RoundRobinPartitioning") == 8
    assert plan.count("Window") >= 2
    df = q.CATALOG["laureate_prize_parse"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(opt) < 150_000, f"plan blow-up: {len(opt)} chars"


# ---------------------------------------------------------------------------
# Scan spread declared on register(spread=...)
# ---------------------------------------------------------------------------

_SPREAD = sorted(n for n, s in q.CATALOG.items() if s.spread)
_PASS_THROUGH = ("Filter", "Project", "ColumnarToRow", "InputAdapter")


def _plan_nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, node text) per line of a physical-plan tree string, with
    the tree glyphs and whole-stage-codegen markers stripped."""
    import re

    out = []
    for line in plan.splitlines():
        body = line.lstrip(" :|+-")
        depth = len(line) - len(body)
        out.append((depth, re.sub(r"^\*\(\d+\)\s*", "", body)))
    return out


def _spread_violations(plan: str, tables) -> list[str]:
    """Scans of ``tables`` not directly under a round-robin exchange
    (Filter/Project in between are fine: they narrow the scan side), and
    round-robin exchanges over anything else."""
    nodes = _plan_nodes(plan)
    bad, spread_scans = [], 0
    for i, (depth, body) in enumerate(nodes):
        if not body.startswith("FileScan") or not any(
            f"/{t}.parquet]" in body for t in tables
        ):
            continue
        spread_scans += 1
        d, j = depth, i
        while j > 0:
            j -= 1
            if nodes[j][0] < d:
                d = nodes[j][0]
                if not nodes[j][1].startswith(_PASS_THROUGH):
                    break
        if not nodes[j][1].startswith("Exchange RoundRobinPartitioning"):
            bad.append(f"scan under {nodes[j][1][:60]!r}")
    n_rr = sum(b.startswith("Exchange RoundRobin") for _, b in nodes)
    if n_rr != spread_scans:
        bad.append(f"{n_rr} round-robin exchanges for {spread_scans} scans")
    return bad


def _plans_with_checkpoints(spark, sf_dir, name) -> list[str]:
    """The query's final physical plan plus every sub-plan it froze
    behind a localCheckpoint barrier (those hide their scans)."""
    with checkpoint_capture(spark) as frozen:
        final = _plan(spark, sf_dir, name)
    return [qe.executedPlan().toString() for qe in frozen] + [final]


def test_spread_must_name_a_read_table():
    from openalex_walden_spark.queries.registry import register

    with pytest.raises(ValueError, match="not in tables"):
        register("spread_probe", None, tables=("orders",),
                 spread=("lineitem",))
    assert "spread_probe" not in q.CATALOG


@pytest.mark.parametrize("name", _SPREAD)
def test_spread_exchange_sits_on_each_declared_scan(spark, sf_dir, name):
    """Every scan of a declared table sits directly under one
    ``Exchange RoundRobinPartitioning``, and there is no other
    round-robin exchange in the query."""
    spec = q.CATALOG[name]
    plans = _plans_with_checkpoints(spark, sf_dir, name)
    joined = "\n".join(plans)
    assert "Exchange RoundRobinPartitioning" in joined
    bad = [v for p in plans for v in _spread_violations(p, spec.spread)]
    assert not bad, bad


def test_spread_does_not_leak_into_later_queries(spark, sf_dir):
    """The plain view is back once a spread query returns: a later
    non-spread query over orders plans without any round-robin
    exchange."""
    assert q.CATALOG["nomis_parse_projects"].spread == ("orders",)
    assert "orders" in q.CATALOG["agg_max_by_order"].tables
    assert not q.CATALOG["agg_max_by_order"].spread
    spread_plan = _plan(spark, sf_dir, "nomis_parse_projects")
    assert "Exchange RoundRobinPartitioning" in spread_plan
    assert "RoundRobinPartitioning" not in _plan(
        spark, sf_dir, "agg_max_by_order")
    view = spark.table("orders")._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    assert "Repartition" not in view.toString()
