"""Physical-plan assertions (SURVEY.md §4 / VERDICT scale audit):
filters push to the parquet scan, projections prune the read schema,
dimension joins broadcast, global top-N is distributed, and the LSH
candidate joins never degrade to cartesian products.

These are the 100 TB design invariants — a plan regression here is a
scale bug even while sf0.01 results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.catalog import load_table
from olr_cdc_oracle_no_dbz_spark.workload import queries

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module", autouse=True)
def _plan_only_mode():
    """The whole module constructs plans without executing them; the
    flag keeps cold-cache query builders (ann_topk_ivfpq_serve) from
    running training jobs at construction (ADVICE r7). Restored after
    the module so execution-path tests elsewhere see normal behavior."""
    import os

    prev = os.environ.get("SPARK_GRAFT_PLAN_ONLY")
    os.environ["SPARK_GRAFT_PLAN_ONLY"] = "1"
    yield
    if prev is None:
        os.environ.pop("SPARK_GRAFT_PLAN_ONLY", None)
    else:
        os.environ["SPARK_GRAFT_PLAN_ONLY"] = prev


@pytest.fixture(scope="module")
def q():
    return queries()


def test_filter_pushed_to_parquet_scan(spark):
    df = load_table(spark, SF_DIR, "lineitem").filter(F.col("l_quantity") < 5)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "LessThan(l_quantity" in plan


def test_projection_prunes_read_schema(spark):
    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    start = plan.index("ReadSchema: ")
    read_schema = plan[start : plan.index("\n", start)]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema  # untouched wide column not read


def test_dimension_joins_broadcast_in_tpch_q5(spark, q):
    plan = _plan(q["tpch_q5_local_supplier"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_global_topn_is_distributed(spark, q):
    """VERDICT scale-killer #1: global top-N must compile to
    TakeOrderedAndProject, never a single-partition global window."""
    plan = _plan(q["window_global_topn"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    plan_q3 = _plan(q["tpch_q3_shipping_priority"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan_q3


def test_purge_anti_join_broadcasts_the_erasure_list(spark, q):
    """cdc_purge_keys must broadcast the (tiny) erasure list into a
    LeftAnti broadcast hash join — a shuffled anti join here would add a
    full exchange of the state table per purge run."""
    plan = _plan(q["cdc_purge_keys"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_lsh_candidate_joins_never_cartesian(spark, q):
    for name in ("dedup_minhash_lsh", "dedup_embedding_cosine", "ann_topk_lsh",
                 "dedup_simhash"):
        plan = _plan(q[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        if name == "dedup_simhash":
            # r8 mean-centering adds exactly one bounded BNLJ per
            # candidate-self-join branch (the 1-row offset aggregate
            # goff broadcast against the per-doc sums — ×2 because the
            # bands self-join materializes the signature pipeline on
            # both sides); the CANDIDATE join itself stays a hash
            # equi-join.
            assert plan.count("BroadcastNestedLoopJoin") == 2, name
        else:
            assert "BroadcastNestedLoopJoin" not in plan, name


#: queries whose plan intentionally contains a broadcast nested-loop
#: join: a tiny broadcast side against a partitioned table (k×N working
#: set by design, never N×N)
_BNLJ_ALLOWED = {
    "ann_topk_bruteforce",  # 10-row query set × N candidates
    # (ann_topk_ivf / dedup_semantic / dedup_semantic_apply no longer
    # appear here: the k-means coarse assignment inlines collected
    # centroids as literals, so their plans carry NO BNLJ at all)
    "tpch_q22_inactive_customers",  # 1-row scalar AVG threshold × customers
    "dedup_clusters",  # 1-row cluster-count aggregate broadcast × labels
    "graph_pagerank_transitions",  # 1-row node-count aggregate broadcast × nodes
    "tpch_q11_important_parts",  # 1-row global-total threshold × parts
    # Four 1-row summary aggregates zipped into the single output row;
    # the literal join key constant-folds away, so Catalyst plans 1×1
    # BNLJs. Bounded by construction.
    "graph_triangle_count",
    # Composes ann_topk_bruteforce verbatim, inheriting its allowlisted
    # bounded BNLJ scan (10-row broadcast side).
    "ann_recall_report",
    "corpus_mix_plan",  # 1-row source-count broadcast × 20-row plan rows
    "events_funnel_windowed",  # three 1-row stage counts zipped (1×1)
    "events_rfm_segmentation",  # 1-row corpus-max-ts broadcast × per-user rows
    "data_quality_checks",  # five 1-row (violations × checked) zips (1×1)
    "cdc_freshness_report",  # 1-row global-freshness-mark broadcast × 2 rows
    # 1-row (min_hour, max_hour) span aggregate broadcast × distinct
    # event types (≤ |types| rows) before the sequence() explode.
    "timeseries_resample_interpolate",
    # 1-row distinct-user-count aggregate broadcast × type-pair rows.
    "events_cooccurrence_affinity",
    # |labels|×|labels| centroid pair matrix (class-label cardinality,
    # not data volume) — the vectors themselves never nested-loop.
    "embedding_label_separation",
    # 1-row total-events aggregate broadcast × ≤64 activity bins.
    "events_activity_concentration",
    # 1-row user-count aggregate broadcast × item-bounded rule rows.
    "events_association_rules",
    # 1-row mean-centering offset aggregate (goff) broadcast × per-doc
    # signature sums rows (VERDICT r7 item 1) — bounded by construction.
    "dedup_simhash",
    "dedup_simhash_topk",
    # r10: same bounded goff BNLJ, signature sums sized by DISTINCT
    # content (the group-pair contract runs the pipeline over reps)
    "dedup_simhash_groups",
    "multimodal_phash_neardup",
    # composes dedup_simhash verbatim, inheriting its bounded goff BNLJ
    "dedup_overlap_report",
}


def test_no_cartesian_products_anywhere(spark, q):
    """Blanket 100 TB invariant over the ENTIRE registry: no query may
    compile to a CartesianProduct, and broadcast nested-loop joins are
    allowed only where the broadcast side is a bounded query set."""
    offenders = []
    for name, fn in q.items():
        plan = _plan(fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert offenders == []


def _iter_nodes(node):
    yield node
    for i in range(node.children().size()):
        yield from _iter_nodes(node.children().apply(i))


def test_unpartitioned_windows_only_after_tight_limit(spark, q):
    """VERDICT r3 item 7: an unpartitioned window funnels ALL its input
    rows through one partition, so it is only ever allowed over a
    limit-bounded input (the post-top-N rank recompute pattern in
    tpch_q3/q10 — ≤100 rows at any data scale). Sweeps every registered
    query's optimized logical plan; any Window with an empty
    partitionSpec must have a Limit(n<=100) in its input subtree."""
    offenders = []
    for name, fn in q.items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution().optimizedPlan()
        for node in _iter_nodes(plan):
            if (
                node.getClass().getSimpleName() == "Window"
                and node.partitionSpec().size() == 0
            ):
                bounded = any(
                    n.getClass().getSimpleName() in ("GlobalLimit", "LocalLimit")
                    and int(n.limitExpr().toString()) <= 100
                    for n in _iter_nodes(node.child())
                )
                if not bounded:
                    offenders.append(name)
    assert offenders == []


def test_events_nanos_decoded_as_timestamp(spark):
    df = load_table(spark, SF_DIR, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_cdc_lww_single_shuffle(spark):
    """latest_state is ONE hash-partition exchange on the key — no
    second shuffle for the row_number filter."""
    from olr_cdc_oracle_no_dbz_spark.cdc.materialize import latest_state

    df = spark.range(100).select(
        (F.col("id") % 10).alias("id"),
        F.col("id").alias("scn"),
        F.lit(1).alias("seq"),
    )
    plan = _plan(latest_state(df))
    assert plan.count("Exchange hashpartitioning") == 1


def test_checksum_is_scan_and_reduce_only(spark, q):
    """cdc_table_checksum must stay embarrassingly parallel: per-table
    digest = projection + ONE hash-agg exchange on table_name; any
    extra exchange means the canonicalization started shuffling rows."""
    plan = _plan(q["cdc_table_checksum"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan and "Join" not in plan


def test_profile_table_single_scan(spark, q):
    """profile_table computes every column statistic in ONE pass: the
    plan may contain exactly one FileScan of orders (Expand for the
    multi-distinct is fine; a second scan is not)."""
    plan = _plan(q["profile_table"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1


def test_bloom_prune_keeps_fact_unshuffled(spark, q):
    """join_bloom_prune: both the bucket semi-join and the key join
    broadcast the tiny build side — lineitem must reach the final
    aggregate without a single hash-partition exchange."""
    plan = _plan(q["join_bloom_prune"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    # the single hash exchange is the build side's bucket distinct()
    # (tiny); lineitem itself reaches the aggregate shuffle-free
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(bkt" in plan
    assert plan.count("BroadcastHashJoin") == 2


def test_hll_shuffle_carries_registers_not_rows(spark, q):
    """agg_distinct_hll: the register build is partial-aggregatable, so
    the plan has partial_max before the exchange (map-side combine to
    <=m rows per group per partition) — plus the exact-count branch."""
    plan = _plan(q["agg_distinct_hll"](spark, SF_DIR))
    assert "partial_max" in plan


def test_fuzzy_dp_single_evaluation_site(spark, q):
    """r11 double-evaluation guard, updated for the Arrow kernel: the
    refine distance is now the Myers bit-parallel pandas UDF
    (_lev_arrow), which Catalyst extracts into its own ArrowEvalPython
    node — the threshold filter above it references the UDF's OUTPUT
    column, so no inlining/duplication is possible (the r10
    select-then-filter defect measured 47.5 s vs 27.1 s on the overlap
    ×4 candidate join — SCALING_PROBE_r11 dp_variants). This pin fails
    if a refactor swaps back to an inline JVM expression (which the
    filter CAN duplicate) or adds a second kernel evaluation site."""
    for name in ("dedup_fuzzy_levenshtein", "dedup_fuzzy_groups"):
        plan = _plan(q[name](spark, SF_DIR))
        assert plan.count("ArrowEvalPython") == 1, name
        assert "levenshtein" not in plan, name
    # r12 (VERDICT r11 item 1): multiblock previously ran the kernel
    # once PER BLOCKING ROUTE (two ArrowEvalPython nodes — a pair
    # found by both first-word and last-word blocks paid the DP
    # twice); the candidate routes now union + pair-dedup BEFORE one
    # kernel site, so the WHOLE multiblock plan pins exactly one.
    plan = _plan(q["dedup_fuzzy_multiblock"](spark, SF_DIR))
    assert plan.count("ArrowEvalPython") == 1, "dedup_fuzzy_multiblock"
    assert "levenshtein" not in plan, "dedup_fuzzy_multiblock"


def test_semantic_cosine_single_evaluation_site(spark, q):
    """Same guard for dedup_semantic's within-cell 64-dim decimal
    cosine (projected-then-filtered before r11): exactly one aggregate
    fold pair in the pairwise stage, inside a Generate node."""
    plan = _plan(q["dedup_semantic"](spark, SF_DIR))
    assert "Generate explode" in plan


def test_paa_candidate_joins_are_narrow(spark, q):
    """r11 narrow-fan-out guard: the PAA groups and similarity gates'
    candidate joins must not carry the dense dv array through the
    (cells × salt) x-side explode — dv re-attaches to lb2 survivors
    by id. The explode Generate nodes must therefore not reference dv.
    (timeseries_paa_topk intentionally carries dv: it has no lb2
    threshold, so every candidate needs the exact distance.)"""
    for name in ("timeseries_paa_groups", "timeseries_paa_similarity"):
        plan = _plan(q[name](spark, SF_DIR))
        for line in plan.splitlines():
            if "Generate explode" in line:
                assert "dv#" not in line, (name, line)


def test_tpch_facts_have_no_roundrobin_exchange(spark, q):
    """r12 spread-revert guard: the r11 blanket spread_scan in
    tpch._fact inserted a round-robin repartition of the fact table
    ahead of gates whose first real operator is already a shuffle —
    a pure extra round-trip, measured 2-4x on 20 of 22 gates
    (SCALING_PROBE_r12 tpch_spread_ab). Only q1 (eight map-side
    decimal aggregates per row) keeps the spread. This pin fails if
    a fact-access helper ever re-applies it blanket-wide."""
    for name in (
        "tpch_q21_waiting_suppliers",
        "tpch_q5_local_supplier",
        "tpch_q3_shipping_priority",
        "tpch_q18_large_orders",
        "tpch_q19_disjunctive",
    ):
        plan = _plan(q[name](spark, SF_DIR))
        assert "Exchange roundrobin" not in plan, name
    # q1 is the one opt-in: its _fact_spread call survives in source
    # (the spread itself is conditional on scan width, so the plan
    # assertion would be environment-dependent — pin the source hook)
    import inspect

    from olr_cdc_oracle_no_dbz_spark.workload import tpch as T

    assert "_fact_spread" in inspect.getsource(T.tpch_q1_pricing_summary)


def test_inline_centroid_expr_memo_is_transparent(spark, q):
    """r12 _EXPR_MEMO guard: the memoized parsed Column for the inline
    centroid trees must be plan-identical to a fresh parse (the memo
    is a construction-cost cache, never a semantic change). Expression
    IDs are allocation-order artifacts — strip them before comparing."""
    import re

    from olr_cdc_oracle_no_dbz_spark.workload import ext_queries as X

    canon = lambda p: re.sub(  # noqa: E731
        r"#\d+|plan_id=\d+", "#", p
    )
    p1 = canon(_plan(q["ann_topk_ivf"](spark, SF_DIR)))
    X._EXPR_MEMO = {
        k: v for k, v in X._EXPR_MEMO.items() if k[0] != "nearest_cent"
    }
    p2 = canon(_plan(q["ann_topk_ivf"](spark, SF_DIR)))
    assert p1 == p2


def _jobs_during(spark, fn):
    """Run ``fn()`` and return [(n_stages, n_tasks), ...] for every
    Spark job it triggered."""
    sc = spark.sparkContext
    st = sc.statusTracker()

    def next_job_id():
        v = sc._jsc.sc().dagScheduler().nextJobId()
        return v.get() if hasattr(v, "get") else v

    before = next_job_id()
    fn()
    out = []
    for jid in range(before, next_job_id()):
        ji = st.getJobInfo(jid)
        stages = list(ji.stageIds) if ji else []
        tasks = sum(
            (st.getStageInfo(sid).numTasks if st.getStageInfo(sid) else 0)
            for sid in stages
        )
        out.append((len(stages), tasks))
    return out


def test_registry_gate_construction_is_job_free(spark, q):
    """ADVICE r13 (medium): the size-gated builders' unknown-count path
    ran an eager lineage-cut + count() at query CONSTRUCTION — a real
    corpus job plus a stranded checkpoint per plan-only construction.
    r14: producers pass jobless parquet-footer upper bounds (or defer
    to AQE for vocabulary relations). What was left was one single-task
    parquet schema-inference job per table load; ``catalog.load_table``
    now memoizes the inferred schema under the table's file
    fingerprint, so after ONE warm construction, building each query
    again runs no Spark job at all. The warm construction also runs
    dedup_semantic_apply's memoized capped-sample Lloyd training
    (inline centroid literals, by design). The last seven names are
    benchmark-roster queries whose only construction-time work was
    loading tables.

    Two names still run one job each, and the test counts it exactly: a
    lazy lineage cut over an aggregate (``truncate_lineage(eager=False)``
    — ``dedup_minhash_lsh``'s signature table, the tf-idf term table)
    runs its AQE shuffle-map stage when Spark builds the checkpoint RDD,
    a single-task data job at sf0.001, not a metadata one."""
    cut_stage_jobs = {"corpus_decontaminate_apply": 1, "text_tfidf_top_terms": 1}
    for name in (
        "cdc_purge_keys",
        "corpus_source_report",
        "corpus_decontaminate_apply",
        "corpus_decontaminate_ngram",
        "corpus_shuffle_shards",
        "text_tfidf_top_terms",
        "graph_pagerank_transitions",
        "dedup_semantic_apply",
        "cdc_current_state",
        "cdc_state_enriched",
        "tpch_q1_pricing_summary",
        "tpch_q5_local_supplier",
        "tpch_q18_large_orders",
        "window_session",
        "join_interval",
    ):
        q[name](spark, SF_DIR)  # warm: schema inference, training memos
        jobs = _jobs_during(spark, lambda: q[name](spark, SF_DIR))
        assert jobs == [(1, 1)] * cut_stage_jobs.get(name, 0), (name, jobs)


def test_fuzzy_salted_block_width_is_task_slots(spark, q):
    """The fuzzy family's salted-block repartition is sized by the
    session's task slots (``defaultParallelism``, the ``_spread`` rule),
    not by ``spark.sql.shuffle.partitions``: its Arrow Myers stage pays
    a fixed cost per task, and a width copied from the shuffle setting
    (32 in the engine session) ran that stage in 8 waves on 4 cores.
    The shuffle setting is moved away from the slot count here (16 on
    the suite's local[4] session) so the two rules give different
    widths."""
    import re

    slots = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(4 * slots))
    try:
        for name in (
            "dedup_fuzzy_levenshtein",
            "dedup_fuzzy_topk",
            "dedup_fuzzy_groups",
            "dedup_fuzzy_multiblock",
        ):
            widths = re.findall(
                r"hashpartitioning\([^)]*, (\d+)\), REPARTITION_BY_NUM",
                _plan(q[name](spark, SF_DIR)),
            )
            assert widths and set(widths) == {str(slots)}, (name, widths)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_tfidf_vocab_join_aqe_broadcasts_at_gate_scale(spark, q):
    """r14 (ADVICE r13): the vocabulary join strategy is deferred to
    AQE runtime statistics (no structural row bound exists for a
    Heaps-law relation, and a construction-time count is a job the
    lazy-construction contract forbids). At gate scale the materialized
    df side is tiny, so the EXECUTED plan must show AQE converted the
    planned key join into a broadcast hash join — the same decision
    the r13 count-gate made, now made at run time on byte-accurate
    evidence. (Two cooperating mechanisms, either sufficient: at gate
    scale Catalyst's own propagated scan-size estimate is small enough
    for a STATIC broadcast under autoBroadcastJoinThreshold — the
    estimate scales with the input files, so at 100 TB it grows past
    the threshold and the static choice degrades to the key join with
    AQE runtime conversion as the byte-accurate safety net.)"""
    df = q["text_tfidf_top_terms"](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in final
    assert "BroadcastHashJoin" in final


def test_no_bare_broadcast_of_iteration_carried_relations(spark):
    """VERDICT r13 item 5 sweep: no bare ``F.broadcast`` on an
    ITERATION-CARRIED relation anywhere in the package — a broadcast
    inside a for/while body whose argument is (re)assigned within that
    same loop grows with the fixpoint, exactly the class
    ``size_gated_broadcast`` exists for (the PageRank rank/contrib
    hints were the last two). Broadcasts of loop-invariant bounded
    relations (the 50-row ANN query set unrolled per band) stay legal.
    AST-based so renames can't hide a site."""
    import ast
    import pathlib

    import olr_cdc_oracle_no_dbz_spark as pkg

    def root_names(node):
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                yield sub.id

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in root.rglob("*.py"):
        tree = ast.parse(py.read_text())
        for loop in ast.walk(tree):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            assigned = {
                sub.id
                for sub in ast.walk(loop)
                if isinstance(sub, ast.Name)
                and isinstance(sub.ctx, ast.Store)
            }
            for node in ast.walk(loop):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and node.args
                    and assigned.intersection(root_names(node.args[0]))
                ):
                    offenders.append(
                        f"{py.relative_to(root)}:{node.lineno}"
                    )
    assert offenders == [], offenders


def test_pagerank_rank_broadcast_is_size_gated(spark, q):
    """The per-iteration rank/contrib hints must survive as broadcast
    joins at the domain bound (event-type taxonomy ≪ gate) — and the
    whole loop must degrade to shuffle joins, result-identical, when
    the session gate is forced to 0 (covered value-wise in
    tests/test_apply_gates.py; this pins the plan side)."""
    plan = _plan(q["graph_pagerank_transitions"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    from olr_cdc_oracle_no_dbz_spark.graph import _BCAST_CONF

    spark.conf.set(_BCAST_CONF, "0")
    try:
        fallback = _plan(q["graph_pagerank_transitions"](spark, SF_DIR))
    finally:
        spark.conf.unset(_BCAST_CONF)
    # the gated equi-joins are gone; only the allowlisted 1-row
    # node-count BNLJ may remain a broadcast
    assert fallback.count("BroadcastHashJoin") < plan.count(
        "BroadcastHashJoin"
    )


def test_expr_memo_clears_on_new_application_id(spark):
    """ADVICE r12: a parsed Column belongs to the JVM/gateway that
    parsed it, and appId-keyed DataFrame entries from dead sessions
    would otherwise accumulate unbounded across restarts in one
    process — so observing a NEW applicationId must clear the memo."""
    from olr_cdc_oracle_no_dbz_spark.workload import ext_queries as X

    memo = X._expr_memo(spark)
    memo[("sentinel",)] = object()
    # same app: entry survives
    assert ("sentinel",) in X._expr_memo(spark)
    # simulate a restart: a different app id was the last one observed
    X._EXPR_MEMO_APP[:] = ["app-from-a-dead-session"]
    memo2 = X._expr_memo(spark)
    assert ("sentinel",) not in memo2
    assert X._EXPR_MEMO_APP == [spark.sparkContext.applicationId]


def test_signature_pipelines_single_execution_shape(spark, q):
    """r14 optimization round: the simhash/minhash signature aggregates
    are lineage-cut, so the expensive token/shingle pipeline must
    appear in the physical plan EXACTLY once (as the RDD behind a Scan
    ExistingRDD leaf) instead of once per consumer — the 4x-execution
    shape plans/r14/*_before.txt documents. The cut hides size stats
    from the static planner, so the band self-joins carry size-gated
    broadcast hints: the plan must still show BroadcastHashJoin (no
    SortMergeJoin) at gate scale, and the parquet scan count must be
    exactly the consumers that legitimately re-read the corpus (the
    minhash exact-verify sides sa/sb; zero for the simhash family)."""
    plan = _plan(q["dedup_simhash"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 0, plan[:2000]
    assert "Scan ExistingRDD" in plan
    assert "SortMergeJoin" not in plan
    plan = _plan(q["dedup_minhash_lsh"](spark, SF_DIR))
    # only the exact-Jaccard verify (sa/sb) re-reads the corpus
    assert plan.count("Scan parquet") == 2, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_fuzzy_member_joins_stay_broadcast_after_cut(spark, q):
    """r14: the full-bench A/B caught dedup_fuzzy_levenshtein's member
    fan-out joins flipping BroadcastHashJoin -> SortMergeJoin after the
    group-table lineage cut removed their static size estimates (3.5x
    wall). The fix routes them through size_gated_broadcast at the
    documents footer bound; this pin keeps the flip from coming back."""
    plan = _plan(q["dedup_fuzzy_levenshtein"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 3


#: queries where a SortMergeJoin against a lineage-cut relation is
#: DELIBERATE: the cut relation has no structural row bound (pair sets,
#: vocabulary-class relations), so the repo discipline (tfidf receipt,
#: r14) defers the join strategy to AQE's runtime statistics instead of
#: forcing a hint the static planner cannot verify. Every other SMJ
#: whose subtree contains a cut leaf is the r14 lost-broadcast flip
#: (dedup_fuzzy_levenshtein, 3.5x wall) waiting to happen.
_SMJ_CUT_ALLOWED: dict[str, str] = {
    # both self-join sides ARE the cut pair relation; pair sets have no
    # structural row bound (unlike footer-bounded label/member lists),
    # so per the tfidf-vocabulary discipline the strategy defers to
    # AQE runtime statistics — at gate scale AQE converts to a
    # broadcast join on materialized bytes (receipted in
    # plans/r15/dedup_overlap_report_after.txt + OPTIMIZATION_r15.md).
    "dedup_overlap_report": "unbounded pair self-join, AQE-deferred",
}

#: operators that only rename/reorder/partition rows between a join and
#: its input: a ``Scan ExistingRDD`` reached through ONLY these is the
#: join's direct input relation, i.e. the join was planned against a
#: stats-less cut relation (the r14 dedup_fuzzy_levenshtein flip).
_SMJ_PASS_THROUGH = {
    "Sort",
    "Exchange",
    "ShuffleQueryStage",
    "AQEShuffleRead",
    "Project",
    "Filter",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
    "Scan",
}


def _smj_vs_cut_sites(plan: str) -> int:
    """Count SortMergeJoin nodes one of whose join SIDES is directly
    (through pass-through operators only) a ``Scan ExistingRDD`` leaf —
    a lineage-cut or driver-created relation the static planner had no
    size estimate for. A cut deeper inside a side (below another join
    or aggregate) is NOT a flip site: that join's strategy was chosen
    from its own inputs' stats. Tree-string indentation: a node's
    children render strictly deeper until the next line at or above
    its own depth."""
    import re as _re

    def _indent(ln: str) -> int:
        i = 0
        while i < len(ln) and ln[i] in " :+-":
            i += 1
        return i

    def _name(ln: str) -> str:
        s = ln[_indent(ln) :]
        s = _re.sub(r"^\*\(\d+\)\s*", "", s)
        return s.split(" ")[0].split("[")[0]

    lines = plan.splitlines()
    ind = [_indent(ln) for ln in lines]
    hits = 0
    for idx, ln in enumerate(lines):
        if "SortMergeJoin" not in ln:
            continue
        d = ind[idx]
        j = idx + 1
        flagged = False
        while j < len(lines) and ind[j] > d:
            if "Scan ExistingRDD" in lines[j]:
                k, cur = j, ind[j]
                ok = True
                while True:
                    a = k - 1
                    while a > idx and ind[a] >= cur:
                        a -= 1
                    if a == idx:
                        break
                    if _name(lines[a]) not in _SMJ_PASS_THROUGH:
                        ok = False
                        break
                    k, cur = a, ind[a]
                if ok:
                    flagged = True
                    break
            j += 1
        if flagged:
            hits += 1
    return hits


def test_registry_no_smj_against_cut_relation(spark, q):
    """VERDICT r14 item 4: the fuzzy-family regression generalizes —
    EVERY join against a lineage-cut relation loses its static size
    estimate, so any consumer of a ``truncate_lineage`` site from any
    round can silently flip BroadcastHashJoin -> SortMergeJoin. This
    sweep constructs every registered query at gate scale and asserts
    no SortMergeJoin sits on top of a cut leaf, except the explicit
    allowlist of unbounded-relation joins that defer to AQE."""
    violations = {}
    for name, fn in q.items():
        plan = _plan(fn(spark, SF_DIR))
        n = _smj_vs_cut_sites(plan)
        if n and name not in _SMJ_CUT_ALLOWED:
            violations[name] = n
    assert not violations, violations


#: a Spark 4 ``executedPlan`` string (broadcast off, two cut relations)
#: with exactly ONE SortMergeJoin-against-cut site: the first join's
#: left side reaches ``Scan ExistingRDD`` through pass-through operators
#: only; every other cut leaf sits below a HashAggregate.
_SMJ_ONE_SITE_PLAN = """\
AdaptiveSparkPlan isFinalPlan=false
+- Union
   :- Project [id#0L]
   :  +- SortMergeJoin [id#0L], [id#3L], Inner
   :     :- Sort [id#0L ASC NULLS FIRST], false, 0
   :     :  +- Exchange hashpartitioning(id#0L, 4), ENSURE_REQUIREMENTS, [plan_id=101]
   :     :     +- Project [id#0L]
   :     :        +- Scan ExistingRDD[id#0L,v#1L]
   :     +- Sort [id#3L ASC NULLS FIRST], false, 0
   :        +- HashAggregate(keys=[id#3L], functions=[], output=[id#3L])
   :           +- Exchange hashpartitioning(id#3L, 4), ENSURE_REQUIREMENTS, [plan_id=97]
   :              +- HashAggregate(keys=[id#3L], functions=[], output=[id#3L])
   :                 +- Filter isnotnull(id#3L)
   :                    +- Scan ExistingRDD[id#3L]
   +- Project [id#12L]
      +- SortMergeJoin [id#12L], [id#8L], Inner
         :- Sort [id#12L ASC NULLS FIRST], false, 0
         :  +- HashAggregate(keys=[id#12L], functions=[], output=[id#12L])
         :     +- Exchange hashpartitioning(id#12L, 4), ENSURE_REQUIREMENTS, [plan_id=106]
         :        +- HashAggregate(keys=[id#12L], functions=[], output=[id#12L])
         :           +- Filter isnotnull(id#12L)
         :              +- Scan ExistingRDD[id#12L]
         +- Sort [id#8L ASC NULLS FIRST], false, 0
            +- HashAggregate(keys=[id#8L], functions=[], output=[id#8L])
               +- Exchange hashpartitioning(id#8L, 4), ENSURE_REQUIREMENTS, [plan_id=108]
                  +- HashAggregate(keys=[id#8L], functions=[], output=[id#8L])
                     +- Filter isnotnull(id#8L)
                        +- Scan ExistingRDD[id#8L]
"""


def test_smj_vs_cut_parser_counts_known_fixture():
    """The registry sweep above passes vacuously if the parser stops
    finding sites; pin it on a plan with one known site. Dropping a
    pass-through operator (Sort, Exchange, Project) loses the site,
    and adding an aggregate to the set counts the second join too."""
    assert _smj_vs_cut_sites(_SMJ_ONE_SITE_PLAN) == 1


def test_state_merge_plan_one_exchange_the_bucket_repartition(
    spark, tmp_path, monkeypatch
):
    """``ParquetStateTable.merge_batch`` on an existing table: the written
    frame has ONE Exchange, the ``bucket_id`` repartition into
    min(cores, buckets touched) partitions, and the LWW over state ∪ raw
    delta groups by (bucket_id, key) inside it, with no Exchange on the
    key. The bucket files are still written by every core instead of one
    coalesced task. Only the delta's rows are hashed to a bucket."""
    import re

    from olr_cdc_oracle_no_dbz_spark.streaming.state import ParquetStateTable

    cols = "id int, stock int, scn long, seq int, __deleted boolean"
    table = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=8)
    table.merge_batch(
        spark.createDataFrame([(i, i, 1, 1, False) for i in range(40)], cols)
    )
    # several rows per key: the delta is NOT compacted before the merge
    delta = spark.createDataFrame(
        [(i % 12, i, 2 + i, 1, i % 5 == 0) for i in range(30)], cols
    )
    written = []
    real = ParquetStateTable._commit

    def capture(self, manifest, rows, buckets):
        written.append(_plan(rows))
        return real(self, manifest, rows, buckets)

    monkeypatch.setattr(ParquetStateTable, "_commit", capture)
    table.merge_batch(delta)
    (plan,) = written
    touched = delta.select(table._bucket_col()).distinct().count()
    parts = min(spark.sparkContext.defaultParallelism, touched)
    assert plan.count("Exchange") == 1, plan
    assert re.search(
        rf"Exchange hashpartitioning\(bucket_id#\d+, {parts}\), REPARTITION_BY_NUM",
        plan,
    ), plan
    assert "hashpartitioning(id" not in plan, plan
    # the state rows keep the bucket id their file path holds: the only
    # hash is the delta's
    assert plan.count("xxhash64(") == 1, plan
