"""Physical-plan assertions: lock in the scale-critical plan shapes
documented in PLANS.md so a refactor that silently degrades them (loses a
pushdown, drops to row-at-a-time Python, un-fuses top-k) fails the suite.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    return entry.queries()


def _formatted(spark, df) -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(jmode)


def test_q3_topk_fused_and_pushed(spark, queries):
    plan = _formatted(spark, queries["q3_shipping_priority"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # no global sort for ORDER BY+LIMIT
    assert "PushedFilters: [IsNotNull" in plan  # predicates reach parquet
    # column pruning: the orders scan must not read o_comment/o_totalprice
    assert "o_comment" not in plan


def test_q5_broadcast_join_chain(spark, queries):
    plan = _formatted(spark, queries["q5_local_supplier"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4  # dims broadcast, fact streams
    assert "SortMergeJoin" not in plan  # nothing demoted at fixture scale


def test_q1_partial_final_aggregate(spark, queries):
    plan = _formatted(spark, queries["q1_pricing_summary"](spark, SF))
    tree = plan.split("\n\n")[0]  # operator tree only (details repeat names)
    assert tree.count("HashAggregate") >= 2  # map-side combine before shuffle
    # exactly two shuffles: the group-by and the final ORDER BY range sort
    assert tree.count("Exchange") == 2


def test_text_ops_stay_jvm_side(spark, queries):
    for name in ("text_token_counts", "text_quality_scores", "text_lang_id",
                 "text_fingerprints", "text_pii_redaction"):
        plan = _formatted(spark, queries[name](spark, SF))
        assert "EvalPython" not in plan, f"{name} fell off the codegen path"


def test_minhash_single_arrow_stage(spark, queries):
    plan = _formatted(spark, queries["dedup_minhash_lsh"](spark, SF))
    # the signature UDF is Arrow-batched (it appears once per self-join
    # branch in the tree), and nothing falls back to row-at-a-time Python
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_sampling_is_map_only(spark, queries):
    from pyspark.sql import functions as F
    from tensorbase_spark.pipeline import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    s = sampling.stratified_sample(docs, "doc_id", "source", {"src0": 80})
    plan = _formatted(spark, s)
    assert "Exchange" not in plan  # deterministic sampling shuffles nothing


def test_q21_single_shuffle_window_census(spark, queries):
    """Both collect_set windows (supplier census + late census) must share
    ONE sort+exchange on l_orderkey — the whole point of the window
    formulation over a correlated self-join (PLANS.md §7)."""
    plan = _formatted(spark, queries["q21_suppliers_kept_waiting"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 2
    assert tree.count("Sort") == 1  # one shared window sort
    # two data shuffles total: window partition + final group-by
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 2
    assert "SortMergeJoin" not in tree  # orders side broadcasts


def test_q17_threshold_join_broadcasts(spark, queries):
    """The per-part avg-quantity thresholds and the part dim must both
    broadcast — the fact table is the only shuffled input."""
    plan = _formatted(spark, queries["q17_small_quantity_revenue"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 2


def test_q2_window_min_no_extra_shuffle(spark, queries):
    """Min-per-part via window: the window sort must reuse the groupBy
    partitioning — costs's aggregate and the window both key on l_partkey."""
    plan = _formatted(spark, queries["q2_min_cost_supplier"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("SortMergeJoin") == 0
    assert tree.count("Window") == 1


def test_pack_sequences_one_shuffle(spark, queries):
    plan = _formatted(spark, queries["corpus_pack_sequences"](spark, SF))
    tree = plan.split("\n\n")[0]
    # window partition on source; the final groupBy(source, bin_id) can
    # reuse it map-side only if co-partitioned — allow <= 2 exchanges
    assert tree.count("Exchange") - tree.count("BroadcastExchange") <= 2
    assert "EvalPython" not in plan


def test_contamination_shingles_arrow_batched(spark, queries):
    """Gram hashing is ONE Arrow-batched pass per side (r3: replaced the
    interpreted transform/slice/md5 lambdas AND both (doc, gram) distinct
    shuffles — the per-doc hash set is already distinct); no row-at-a-time
    Python anywhere; the benchmark side broadcasts."""
    plan = _formatted(spark, queries["corpus_contamination_scan"](spark, SF))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # benchmark side broadcast
    tree = plan.split("\n\n")[0]
    # no distinct shuffles left: the only Exchange feeds the final groupBy
    assert tree.count("Exchange") - tree.count("BroadcastExchange") <= 1


def test_join_prune_both_scans_partition_filtered(spark, queries):
    """engine_join_prune: the __ptk rewrite must reach BOTH partitioned
    tables — the FROM side and the JOIN side — as directory-level
    PartitionFilters (engine gap fix; the reference prunes only the FROM
    table, datafusions.rs:75-105)."""
    import re

    plan = _formatted(spark, queries["engine_join_prune"](spark, SF))
    filters = re.findall(r"PartitionFilters: \[[^\]]*__ptk[^\]]*\]", plan)
    ranged = [f for f in filters if ">=" in f and "<=" in f]
    assert len(ranged) >= 2, f"expected both scans pruned, got: {filters}"


def test_embedding_near_dup_equijoin(spark, queries):
    """dedup_embedding_cosine pair-generates per centroid bucket: one
    corpus shuffle keyed on centroid_id into applyInPandas blocked GEMM —
    the corpus never cross-joins itself (VERDICT r1 fix; r3 replaced the
    per-pair equi-join rows with in-bucket GEMM, 11.1 s -> ~1 s at sf0.1)."""
    import re

    plan = _formatted(spark, queries["dedup_embedding_cosine"](spark, SF))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert re.search(r"hashpartitioning\(centroid_id", plan), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assignment_no_corpus_crossjoin(spark, queries):
    """r8 pin: IVF centroid assignment is ONE Arrow pass with the centroid
    matrix in the UDF closure — the corpus must never cross-join the
    centroid table (the old crossJoin+window shape materialized n x k
    rows and went O(n^2/target_bucket) once auto-sized k grew with n;
    the 100x sweep caught it stage-stalled, PLANS §21)."""
    import re

    plan = _formatted(spark, queries["sim_ivf_topk"](spark, SF))
    # the only nested-loop join allowed is the TINY query-side probe
    # ranking (bounded query set x centroid table); the corpus side must
    # reach the probe equi-join through ArrowEvalPython assignment only.
    # Count NODES (each appears once in the tree and once as a "(n) Name"
    # detail block in formatted mode).
    assert "ArrowEvalPython" in plan, plan
    nl_nodes = re.findall(
        r"\(\d+\) (?:CartesianProduct|BroadcastNestedLoopJoin)", plan
    )
    assert len(nl_nodes) <= 1, (nl_nodes, plan)


def test_lsh_topk_bucket_equijoin(spark, queries):
    """sim_lsh_topk candidates come from an equi-join on (table_idx, bucket)
    — never a cross join of query x corpus."""
    import re

    plan = _formatted(spark, queries["sim_lsh_topk"](spark, SF))
    assert re.search(r"keys(?: \[\d+\])?: \[table_idx", plan), plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_zero_exchange(spark, queries):
    """engine_bucketed_join: both tables bucketed on the join key with equal
    bucket counts -> SortMergeJoin directly over bucketed scans, and the
    GROUP BY on the same key reuses the distribution — the WHOLE plan runs
    with zero Exchange (the co-located-join lever at 100 TB)."""
    plan = _formatted(spark, queries["engine_bucketed_join"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" in tree
    assert "Exchange" not in tree, tree


def test_unigram_logprob_jvm_and_broadcast(spark, queries):
    """Vocab join broadcasts while the vocab fits (CATALYST's choice — the
    code carries no hint: a 100 TB whitespace vocab runs to 1e9+ rows past
    the 8 GB broadcast limit, where a forced hint would OOM the driver
    instead of degrading to skew-split sort-merge) and stays JVM-side."""
    plan = _formatted(spark, queries["text_unigram_logprob"](spark, SF))
    assert "EvalPython" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row corpus total


def test_array_join_explode_is_generate(spark, queries):
    """ARRAY JOIN lowers to a map-side Generate feeding the aggregate —
    no extra Exchange beyond the group-by."""
    plan = _formatted(spark, queries["ch_array_join_clause"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Generate" in tree
    assert tree.count("Exchange") == 1


def test_asof_sql_plan_single_key_shuffle(spark, queries):
    """The ASOF JOIN clause must lower to the union+window operator — one
    hashpartitioning on the key, no range/nested-loop join anywhere."""
    plan = _formatted(spark, queries["ch_asof_join_sql"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_any_join_no_cartesian(spark, queries):
    plan = _formatted(spark, queries["ch_join_strictness"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_filters_codegen_only(spark, queries):
    """Both repetition metric families must stay JVM-side (the lambda-CSE
    regression would first show as a wall-clock blowup, but EvalPython-free
    + no CartesianProduct is the structural part we can pin)."""
    plan = _formatted(spark, queries["text_repetition_filters"](spark, SF))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_bucket_topology(spark, queries):
    """IVF-PQ's ADC stage scores the code stream in place (r14): the score
    needs only each row's OWN centroid id, so the encoded corpus must flow
    scan -> mapInPandas with NO centroid_id Exchange at all (the pre-r14
    groupBy(centroid_id).applyInPandas shuffle bought nothing), and the
    corpus never cross-joins itself."""
    import re

    plan = _formatted(spark, queries["sim_ivfpq_topk"](spark, SF))
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert not re.search(r"hashpartitioning\(centroid_id", plan), plan
    assert "CartesianProduct" not in plan


def test_temperature_sample_broadcast_quota_one_window(spark, queries):
    """Quota table broadcasts back onto the corpus; the only corpus-wide
    hash exchanges are the count aggregate and the one stratum window."""
    df = queries["corpus_temperature_sample"](spark, SF)
    plan = _formatted(spark, df)
    assert "BroadcastExchange" in plan
    assert "Window" in plan


def test_incremental_dedup_single_batch_shuffle(spark, queries):
    """Both window functions (rank + batch-min) must share ONE exchange on
    the fingerprint key — a second Window node is fine, a second
    hashpartitioning(content_md5) exchange is not."""
    import re

    df = queries["dedup_incremental_index"](spark, SF)
    plan = _formatted(spark, df)
    n_md5_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(content_md5", plan)
    )
    assert n_md5_exchanges <= 2, plan  # batch side + store join side
    assert "EvalPython" not in plan


def test_dictionary_lookup_no_corpus_join(spark, queries):
    """dictGet must NOT join the corpus: each lookup is an uncorrelated
    scalar subquery whose map result inlines into the expressions, so the
    main plan over customer has zero join nodes and shuffles only for its
    own GROUP BY."""
    plan = _formatted(spark, queries["ch_dictionary_lookup"](spark, SF))
    main = plan.split("===== Subqueries =====")[0]
    assert "Join" not in main, main
    assert "Subquery" in plan  # the dictionary-map subqueries exist
    assert "EvalPython" not in plan


def test_projection_rollup_scans_hidden_table(spark, queries):
    """The coarser per-status rollup must be answered from the hidden
    partial table, not the base table scan."""
    plan = _formatted(spark, queries["engine_projection_rollup"](spark, SF))
    assert "proj_orders_q__proj_by_st_pri" in plan, plan


def test_round6_ops_stay_jvm_side(spark, queries):
    """Every round-6 text/metrics/curation operator is EvalPython-free —
    the whole surface is built-in expressions."""
    for name in (
        "text_gopher_rules", "text_c4_clean", "text_boilerplate_lines",
        "text_html_extract", "metrics_binary_auc", "metrics_pr_points",
        "corpus_dsir_weights", "corpus_classifier_loop",
    ):
        plan = _formatted(spark, queries[name](spark, SF))
        assert "EvalPython" not in plan, f"{name} fell off the codegen path"


def test_dsir_ratio_broadcasts(spark, queries):
    """DSIR's score pass joins the ≤buckets-row log-ratio table as a
    BROADCAST onto the doc-gram explode — never a data-sized shuffle
    join."""
    plan = _formatted(spark, queries["corpus_dsir_weights"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_dist_agg_two_level_lowering(spark, queries):
    """topK/topKWeighted/histogram/entropy on a simple aggregate statement
    lower to two levels (engine._rewrite_dist_aggs): the FIRST shuffle
    carries map-side-combined (key, value) partial counts — the plan shows
    partial_count/partial_sum below the first Exchange — and collect_list
    buffers only the pre-reduced pairs above it (VERDICT r6 #4)."""
    from tensorbase_spark.engine import TensorBaseEngine, _rewrite_dist_aggs

    eng = TensorBaseEngine(spark)
    spark.read.parquet(f"{SF}/orders.parquet").createOrReplaceTempView(
        "pl_dist_orders"
    )
    for call in (
        "arrayStringConcat(topK(3)(o_orderpriority), '|')",
        "arrayStringConcat(topKWeighted(3)(o_orderpriority, o_totalprice), '|')",
        "entropy(o_orderpriority)",
        "arrayStringConcat(arrayMap(t -> toString(toInt64(tupleElement(t, 3))),"
        " histogram(4)(o_totalprice)), '|')",
    ):
        df = eng.sql(
            f"select o_orderstatus as st, {call} as agg_out "
            "from pl_dist_orders group by o_orderstatus"
        )
        plan = _formatted(spark, df)
        tree = plan.split("\n\n")[0]
        # level 1: a plain partial/final HashAggregate pair BELOW the
        # collect buffer — raw rows never reach an ObjectHashAggregate
        assert "partial_count" in plan or "partial_sum" in plan, call
        first_obj = tree.find("ObjectHashAggregate")
        first_hash = tree.rfind("HashAggregate")
        assert first_obj != -1 and first_hash > first_obj, call
    # complex shapes (another aggregate alongside) keep the buffered form
    kept = _rewrite_dist_aggs(
        "select k, entropy(v) as e, max(v) as mx from t group by k"
    )
    assert "__entropypairs" not in kept


def test_reinterp_ingest_plan_is_int64(spark):
    """UInt64Reinterp write plan: the cast pipeline contains NO decimal
    node for integral inputs — the reinterpret mode's whole point is the
    plain bigint encode (PLANS.md §10)."""
    import uuid as _uuid

    from tensorbase_spark.engine import TensorBaseEngine

    eng = TensorBaseEngine(spark)
    db = f"pl_ri_{_uuid.uuid4().hex[:8]}"
    eng.sql(f"create database {db}")
    eng.sql(f"use {db}")
    try:
        eng.sql("set uint64_storage = 'reinterpret'")
        eng.sql("create table ri_t(a UInt64) partition by rem(a, 4)")
        eng.sql("set uint64_storage = 'decimal'")
        src = spark.range(100).selectExpr("id as a")
        out = eng._cast_block(f"{db}.ri_t", src)
        plan = _formatted(spark, out)
        assert "decimal" not in plan.lower()
        assert out.schema["a"].dataType.simpleString() == "bigint"
    finally:
        spark.catalog.setCurrentDatabase("default")
        eng.sql(f"drop database if exists {db}")


def test_buffer_read_union_plan(spark):
    """A buffered-alias read plans as target UNION pending (both sides
    plain scans — the pending view is the in-memory blocks, no write
    happened), and the empty-pending alias reads as the bare view."""
    import uuid as _uuid

    from tensorbase_spark.engine import TensorBaseEngine

    eng = TensorBaseEngine(spark)
    db = f"pl_bf_{_uuid.uuid4().hex[:8]}"
    eng.sql(f"create database {db}")
    eng.sql(f"use {db}")
    try:
        eng.sql("create table bt(a Int64)")
        eng.sql(
            "create table bb(a Int64) ENGINE = Buffer(currentDatabase(), "
            "bt, 16, 10, 100, 10000, 1000000, 10000000, 100000000)"
        )
        q0 = eng._translate_query("select count(*) as n from bb")
        assert "__tb_bufpend" not in q0  # empty pending: bare view read
        eng.sql("insert into bb values (1), (2)")
        q1 = eng._translate_query("select count(*) as n from bb")
        assert "union all" in q1.lower() and "__tb_bufpend_bb" in q1
        plan = _formatted(spark, eng.sql("select count(*) as n from bb"))
        assert "Union" in plan
    finally:
        spark.catalog.setCurrentDatabase("default")
        eng.sql(f"drop database if exists {db}")


def test_binary_auc_no_data_sort(spark, queries):
    """The AUC 'rank' is windows over ≤bins rows: the plan's only Sort
    nodes sit ABOVE the per-bin aggregate (bin table), never on the raw
    scored rows (no data-sized global sort)."""
    plan = _formatted(spark, queries["metrics_binary_auc"](spark, SF))
    tree = plan.split("\n\n")[0]
    # the tree prints root-first: every Sort must have a HashAggregate
    # BELOW it (deeper in the printout) — the per-bin reduction happens
    # before the window's sort, so the sort input is bins, not rows
    i = tree.find("Sort")
    while i != -1:
        assert tree.find("HashAggregate", i) != -1, "Sort over raw rows"
        i = tree.find("Sort", i + 1)


def test_vector_distances_stay_codegen(spark, queries):
    """The vector-distance templates must compile to JVM higher-order
    functions — no Python evaluation anywhere in the plan — and
    aggregate partial/final like any codegen aggregate."""
    plan = _formatted(spark, queries["ch_vector_distances"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_everyday_tiers_16_17_18_stay_codegen(spark, queries):
    """The tier-16/17/18 templates (readable time deltas, bit ladders,
    morton interleave, non-alpha splits, partial sort, URL cuts, map
    LIKE filters, time-slot grids, needle indexing) must compile to
    pure JVM expressions — no Python evaluation anywhere in the plan."""
    for name in ("ch_everyday_funcs16", "ch_everyday_funcs17",
                 "ch_everyday_funcs18", "ch_everyday_funcs19",
                 "ch_everyday_funcs20", "ch_everyday_funcs21",
                 "ch_everyday_funcs22", "ch_everyday_funcs23",
                 "ch_everyday_funcs24", "ch_everyday_funcs25",
                 "ch_everyday_funcs26", "ch_everyday_funcs27",
                 "ch_everyday_funcs28", "ch_everyday_funcs29",
                 "ch_everyday_funcs30", "ch_everyday_funcs31",
                 "ch_everyday_funcs32", "ch_everyday_funcs33",
                 "ch_everyday_funcs34", "ch_everyday_funcs35",
                 "ch_everyday_funcs36", "ch_everyday_funcs37",
                 "ch_everyday_funcs38", "ch_everyday_funcs39",
                 "ch_everyday_funcs40"):
        plan = _formatted(spark, queries[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        # string max buffers force SortAggregate — still JVM codegen
        assert ("HashAggregate" in plan or "SortAggregate" in plan), name


def test_param_view_binding_pushes_down(spark):
    """A parameterized-view call site binds to typed CONSTANTS that
    Catalyst folds and pushes into the parquet scan — the view adds no
    plan overhead over writing the WHERE by hand."""
    import uuid

    from tensorbase_spark.engine import TensorBaseEngine

    eng = TensorBaseEngine(spark)
    db = f"pvplan_{uuid.uuid4().hex[:8]}"
    eng.sql(f"create database {db}")
    eng.sql(f"use {db}")
    try:
        eng.sql("create table pvp (k Int64, v Float64)")
        eng.sql("insert into pvp values (1, 0.5), (200, 1.5)")
        eng.sql(
            "create view pv_band as select k, v from pvp "
            "where k >= {lo:Int64} and k <= {hi:Int64}"
        )
        plan = _formatted(
            spark, eng.sql("select sum(v) as s from pv_band(lo = 10, hi = 90)")
        )
        assert "BatchEvalPython" not in plan
        # the bound literals reach the scan as pushed range predicates
        assert "PushedFilters" in plan
        assert "GreaterThanOrEqual(k,10)" in plan.replace(" ", "") or \
               "GreaterThanOrEqual(k, 10)" in plan
    finally:
        spark.catalog.setCurrentDatabase("default")
        eng.sql(f"drop database if exists {db}")


def test_partition_expression_prunes_to_one_partition(spark):
    """A WHERE on the table's own partition expression — rem(a, 100) as
    written or as `a % 100`, toYYYYMM(d) — reaches the scan as a __ptk
    PartitionFilter and lists one partition's files; the olap-style
    half-open date range still prunes to its months."""
    import re
    import uuid

    from tensorbase_spark.engine import TensorBaseEngine

    eng = TensorBaseEngine(spark)
    db = f"ptkplan_{uuid.uuid4().hex[:8]}"
    eng.sql(f"create database {db}")
    eng.sql(f"use {db}")
    try:
        eng.sql("create table pa (a UInt64, b UInt64) partition by rem(a, 100)")
        eng.sql("insert into pa select number, number from numbers(1000)")
        eng.sql("create table pd (d Date, v Int64) partition by toYYYYMM(d)")
        eng.sql(
            "insert into pd values ('2023-12-31', 1), ('2024-01-05', 2), "
            "('2024-02-05', 3), ('2024-03-05', 4)"
        )
        cases = [
            ("select count(*) as n from pa where rem(a, 100) = 7", 10, {"7"}),
            ("select count(*) as n from pa where a % 100 = 7", 10, {"7"}),
            ("select count(*) as n from pd where toYYYYMM(d) = 202401", 1,
             {"202401"}),
            ("select count(*) as n from pd where d >= '2024-01-01' "
             "and d < '2024-03-01'", 2, {"202401", "202402", "202403"}),
        ]
        for sql, n, parts in cases:
            df = eng.sql(sql)
            assert re.search(
                r"PartitionFilters: \[[^\]]*__ptk", _formatted(spark, df)), sql
            read = {re.search(r"__ptk=(-?\d+)/", f).group(1)
                    for f in df.inputFiles()}
            assert read and read <= parts, (sql, read)
            assert df.collect()[0].n == n, sql
    finally:
        spark.catalog.setCurrentDatabase("default")
        eng.sql(f"drop database if exists {db}")
