"""Event-stream analytics queries over the ``events`` table.

The reference's ksqlDB role is continuous queries over an event stream
(SURVEY.md §2.4/§2.8); these are the batch-expressible product-analytics
shapes a user of that surface runs daily — funnel conversion and cohort
retention — built from conditional aggregation and month-bucketed
self-derived dimensions (no self-joins over the raw fact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.checkpointing import truncate_lineage
from olr_cdc_oracle_no_dbz_spark.workload import register
from olr_cdc_oracle_no_dbz_spark.workload.util import t


@register(
    "events_funnel",
    oracle="""
    WITH stages AS (
        SELECT user_id,
               MIN(ts) FILTER (WHERE event_type = 'signup')   AS t_signup,
               MIN(ts) FILTER (WHERE event_type = 'click')    AS t_click,
               MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
        FROM events GROUP BY user_id
    )
    -- CAST: DuckDB SUM(int) is HUGEINT -> float64 under fetchdf();
    -- BIGINT survives pandas as int64, matching Spark's long.
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS n_click_after,
           CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_signup
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase_after
    FROM stages
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion (signup → first click → first purchase, in
    order): one pass of conditional MIN per user, then a global count —
    two shuffles total, never a per-stage self-join of the fact. Strict
    timestamp comparisons are safe cross-engine because the testdata
    carries no sub-microsecond precision (verified) and the ns→µs decode
    is lossless."""
    ev = t(spark, sf_dir, "events")

    def stage_min(etype: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    stages = ev.groupBy("user_id").agg(
        stage_min("signup").alias("t_signup"),
        stage_min("click").alias("t_click"),
        stage_min("purchase").alias("t_purchase"),
    )
    as_int = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    return stages.agg(
        F.count("*").alias("n_users"),
        F.sum(as_int(F.col("t_signup").isNotNull())).alias("n_signup"),
        F.sum(as_int(F.col("t_click") > F.col("t_signup"))).alias("n_click_after"),
        F.sum(
            as_int(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_signup"))
            )
        ).alias("n_purchase_after"),
    )


@register(
    "events_retention",
    oracle="""
    WITH first_ev AS (
        SELECT user_id, date_trunc('month', MIN(ts)) AS cohort_month
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('month', ts) AS act_month
        FROM events
    )
    SELECT strftime(f.cohort_month, '%Y-%m') AS cohort,
           (EXTRACT(year FROM a.act_month) * 12 + EXTRACT(month FROM a.act_month))
           - (EXTRACT(year FROM f.cohort_month) * 12 + EXTRACT(month FROM f.cohort_month))
             AS month_offset,
           COUNT(*) AS active_users
    FROM first_ev f JOIN activity a ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: cohort = month of a user's first
    event; one (user, month) distinct pass; both sides shuffle on
    user_id once and the final agg is tiny. Month arithmetic is integer
    (year*12+month), identical on both engines — no months_between
    floats."""
    ev = t(spark, sf_dir, "events")
    first_ev = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("cohort_month")
    )
    activity = ev.select(
        "user_id", F.date_trunc("month", F.col("ts")).alias("act_month")
    ).distinct()
    mnum = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    return (
        first_ev.join(activity, "user_id")
        .groupBy(
            F.date_format("cohort_month", "yyyy-MM").alias("cohort"),
            (mnum(F.col("act_month")) - mnum(F.col("cohort_month"))).alias(
                "month_offset"
            ),
        )
        .agg(F.count("*").alias("active_users"))
    )


@register(
    "events_outliers",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(value) AS mean_v,
               sqrt((CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE)
                     - CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                       * CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                       / COUNT(*))
                    / (COUNT(*) - 1)) AS std_v
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_outliers,
           MIN(s.n) AS n_total,
           MIN(e.value) AS min_outlier,
           MAX(e.value) AS max_outlier
    FROM events e JOIN stats s ON s.event_type = e.event_type
    WHERE abs(e.value - s.mean_v) > 3.0 * s.std_v
    GROUP BY e.event_type
    """,
)
def events_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier detection per event type — the data-quality
    screen a training pipeline runs before ingesting telemetry. The
    per-type mean/stddev come from exact decimal power sums (the
    agg_stats pattern: bit-deterministic on both engines, unlike
    streaming double accumulation), broadcast back onto the fact as a
    tiny dimension, so the plan is one partial-agg shuffle over
    |event_types| rows plus a broadcast join — the fact never shuffles.

    Determinism caveat: the 3-sigma threshold involves sqrt, so unlike
    the q11/q20 exact decimal-times-integer comparisons it is a double
    compare. Both engines derive mean/std from the SAME exact decimal
    sums, so a keep-set flip requires a value within ~1 ulp of
    mean + 3*std (measured green at sf0.01 and sf0.1; residual risk
    ~1e-16 per row — the same class the 8-decimal emission contract
    accepts elsewhere)."""
    ev = t(spark, sf_dir, "events")
    s1 = F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
    s2 = F.sum(
        (F.col("value") * F.col("value")).cast("decimal(28,6)")
    ).cast("double")
    n = F.count("*")
    var = (s2 - s1 * s1 / n) / (n - 1)
    stats = ev.groupBy(F.col("event_type").alias("et")).agg(
        n.alias("n"),
        (s1 / F.count("value")).alias("mean_v"),
        F.sqrt(var).alias("std_v"),
    )
    return (
        ev.join(F.broadcast(stats), F.col("et") == F.col("event_type"))
        .filter(
            F.abs(F.col("value") - F.col("mean_v")) > 3.0 * F.col("std_v")
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_outliers"),
            F.min("n").alias("n_total"),
            F.min("value").alias("min_outlier"),
            F.max("value").alias("max_outlier"),
        )
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type,
           COUNT(*) AS n_transitions
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey transition matrix (the Markov-chain view of the
    event stream — which event types follow which): lag() over each
    user's offset-ordered sequence, then a bigram count. One shuffle
    partitioned by user_id serves both the window and (via partial
    aggregation) the transition count; per-user partitions are small
    (bounded events per user), so parallelism scales with users, not
    with the event-type cardinality. The unique event_id offset makes
    each user's sequence — and therefore every bigram — deterministic
    on both engines."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
    )


def _pr_iter_sql(prev: str, name: str) -> str:
    """One PageRank power iteration as a DuckDB CTE (mirrors the Spark
    loop body exactly: per-edge double contribution, exact-decimal sum,
    damped update)."""
    return f"""
    {name} AS (
        SELECT r.node,
               CAST(0.15 AS DOUBLE) / r.n
                 + CAST(0.85 AS DOUBLE) * COALESCE(s.s, CAST(0 AS DOUBLE))
                 AS rank,
               r.n
        FROM {prev} r LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(CAST(p.rank * CAST(e.w AS DOUBLE)
                                 / CAST(e.ow AS DOUBLE)
                                 AS DECIMAL(28,18))) AS DOUBLE) AS s
            FROM e JOIN {prev} p ON p.node = e.src
            GROUP BY e.dst
        ) s ON s.node = r.node
    )"""


@register(
    "graph_pagerank_transitions",
    oracle=f"""
    WITH trans AS (
        SELECT event_type AS dst,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS src
        FROM events
    ),
    edges AS (SELECT src, dst, COUNT(*) AS w
              FROM trans WHERE src IS NOT NULL GROUP BY src, dst),
    oute AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    e AS (SELECT edges.src, edges.dst, edges.w, oute.ow
          FROM edges JOIN oute USING (src)),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST(1 AS DOUBLE) / n AS rank, n
           FROM nodes CROSS JOIN nn),
    {_pr_iter_sql("r0", "r1")},
    {_pr_iter_sql("r1", "r2")},
    {_pr_iter_sql("r2", "r3")}
    SELECT node, CAST(CAST(rank AS DECIMAL(16,8)) AS VARCHAR) AS pagerank
    FROM r3
    """,
)
def graph_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the user-journey transition graph (nodes = event
    types, edge weight = observed transition count) — the iterative-
    algorithm pattern (power iteration) done the way it scales: a FIXED
    number of damped iterations, each one `join(edges, ranks) →
    groupBy(dst) → sum`, with the rank mass summed through exact
    decimals so the result is independent of partitioning and engine.

    Scale design: each iteration is one hash shuffle of the EDGE
    relation keyed by dst. The rank relation (one row per node) is
    iteration-carried, and r14 routes its hint through
    ``size_gated_broadcast`` (VERDICT r13 item 4 — the last bare
    ``F.broadcast`` on an iteration-carried relation): the gate bound
    is the documented DOMAIN bound below — nodes here are event
    TYPES, a taxonomy, not a per-entity id space — kept jobless so
    query construction stays job-free (counting the distinct aggregate
    at construction would run a corpus job in every plan-only sweep,
    the ADVICE r13 medium defect class). For web-scale node sets
    (per-URL graphs) the caller lowers the session gate
    (``spark.graft.apply.bcast_max_rows``) or raises the bound, and
    every iteration's join degrades to a plain key shuffle with
    periodic ``truncate_lineage`` — result-identical, pinned in
    tests/test_apply_gates.py. The derivation of the edge list reuses
    the transition-matrix shape: one user-keyed shuffle for lag(), one
    groupBy on the (src,dst) pairs. No driver-side collect anywhere —
    the iteration count is static, not a convergence test on collected
    values.
    """
    from olr_cdc_oracle_no_dbz_spark.graph import size_gated_broadcast

    # Domain bound for the gate: nodes are event TYPES (a bounded
    # taxonomy — the reference's source tables enumerate them), not
    # users/docs. 65536 is far above any real event-type vocabulary
    # yet far below the broadcast gate, so the hint holds at any
    # corpus scale while remaining session-overridable for the
    # web-scale (per-entity node) variant and for the fallback test.
    node_bound = 65_536
    ev = t(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        F.col("event_type").alias("dst"),
        F.lag("event_type").over(w_user).alias("src"),
    ).filter(F.col("src").isNotNull())
    edges = trans.groupBy("src", "dst").agg(F.count("*").alias("w"))
    oute = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    e = edges.join(oute, "src")
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    nn = nodes.agg(F.count("*").alias("n"))
    rank = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1).cast("double") / F.col("n")).alias("rank"), "n"
    )
    for _ in range(3):
        contrib = (
            e.join(
                size_gated_broadcast(
                    rank.select(F.col("node").alias("src"), "rank"),
                    n_rows=node_bound,
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                (
                    F.col("rank")
                    * F.col("w").cast("double")
                    / F.col("ow").cast("double")
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum(F.col("c").cast("decimal(28,18)")).cast("double").alias("s"))
        )
        rank = rank.join(
            size_gated_broadcast(contrib, n_rows=node_bound), "node", "left"
        ).select(
            "node",
            (
                F.lit(0.15).cast("double") / F.col("n")
                + F.lit(0.85).cast("double")
                * F.coalesce("s", F.lit(0).cast("double"))
            ).alias("rank"),
            "n",
        )
    return rank.select(
        "node",
        F.col("rank").cast("decimal(16,8)").cast("string").alias("pagerank"),
    )


@register(
    "graph_triangle_count",
    oracle="""
    WITH blk AS (
        SELECT DISTINCT event_type AS bk, date_trunc('hour', ts) AS bh, user_id
        FROM events
    ),
    adj AS (
        SELECT user_id,
               lead(user_id, 1) OVER (PARTITION BY bk, bh ORDER BY user_id) AS n1,
               lead(user_id, 2) OVER (PARTITION BY bk, bh ORDER BY user_id) AS n2
        FROM blk
    ),
    edges AS (
        SELECT DISTINCT a, b FROM (
            SELECT user_id AS a, n1 AS b FROM adj WHERE n1 IS NOT NULL
            UNION ALL
            SELECT user_id AS a, n2 AS b FROM adj WHERE n2 IS NOT NULL
        )
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
        ) GROUP BY node
    ),
    oriented AS (
        SELECT CASE WHEN da.d <= db.d THEN e.a ELSE e.b END AS src,
               CASE WHEN da.d <= db.d THEN e.b ELSE e.a END AS dst
        FROM edges e
        JOIN deg da ON da.node = e.a
        JOIN deg db ON db.node = e.b
    ),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM oriented e1
        JOIN oriented e2 ON e2.src = e1.dst
        JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    wed AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n FROM deg)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT n FROM tri) AS n_triangles,
           (SELECT n FROM wed) AS n_wedges,
           CASE WHEN (SELECT n FROM wed) = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(3 * (SELECT n FROM tri) AS DOUBLE)
                     / CAST((SELECT n FROM wed) AS DOUBLE)
           END AS global_clustering
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over a
    sorted-neighborhood blocking graph: users active in the same
    (event_type, hour) block are candidate-linked to their 2 nearest
    neighbors in user_id order (the Sorted Neighborhood Method — the
    blocking trick that makes entity-resolution graphs buildable without
    all-pairs). Triangles are counted with DEGREE ORIENTATION: each
    undirected edge points from its lower-(degree, id) endpoint to the
    higher, so every triangle is counted exactly once and the join
    fan-out per node is bounded by its oriented out-degree (the
    arboricity bound that keeps triangle joins from exploding on skewed
    graphs — the scale-critical choice; an unoriented count would square
    the hub degree). Three equi-joins on node ids, no cartesian
    anywhere. The four 1-row summary aggregates are zipped into the
    single output row on a literal key; Catalyst constant-folds that key
    away and plans 1x1 broadcast nested-loop joins — bounded by
    construction and allowlisted in tests/test_plans.py.

    Edge list derivation is window lead() per block — one shuffle, and
    block sizes bound the window partitions. Deterministic: user_id
    ordering has no ties within a distinct block."""
    ev = t(spark, sf_dir, "events")
    blk = ev.select(
        F.col("event_type").alias("bk"),
        F.date_trunc("hour", "ts").alias("bh"),
        "user_id",
    ).distinct()
    w = Window.partitionBy("bk", "bh").orderBy("user_id")
    adj = blk.select(
        "user_id",
        F.lead("user_id", 1).over(w).alias("n1"),
        F.lead("user_id", 2).over(w).alias("n2"),
    )
    edges = (
        adj.filter(F.col("n1").isNotNull())
        .select(F.col("user_id").alias("a"), F.col("n1").alias("b"))
        .unionAll(
            adj.filter(F.col("n2").isNotNull()).select(
                F.col("user_id").alias("a"), F.col("n2").alias("b")
            )
        )
        .distinct()
    )
    # edges feeds deg (twice) + the orientation join: cut its lineage
    # so the distinct+window derivation runs once (measured at sf0.01:
    # 12.0s -> 1.4s with both cuts; sf0.1: 5.1s -> 3.6s).
    edges = truncate_lineage(edges, eager=False)
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    lower_first = F.col("da.d") <= F.col("db.d")
    oriented = (
        edges.join(da, F.col("da.node") == F.col("a"))
        .join(db, F.col("db.node") == F.col("b"))
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    # The oriented edge list feeds THREE join inputs plus the degree
    # relation; without a lineage cut Spark re-derives the whole
    # scan->distinct->window->join pipeline per consumer (static plan:
    # 40 FileScans). Materialize it once — same pattern as the CC
    # fixpoint; durable-checkpoint flag applies on clusters.
    # r12 (stage receipt, SCALING_PROBE_r12): AQE coalesces the small
    # pre-checkpoint exchange to ONE partition, so the checkpointed
    # RDD — and with it the e1 probe side of both broadcast triangle
    # joins plus the 8.3M-row count — ran in a single 0.9-1.4 s task.
    # An explicit keyed repartition to default parallelism BEFORE the
    # cut makes the checkpoint itself wide; distribution-only.
    p = spark.sparkContext.defaultParallelism
    oriented = truncate_lineage(
        oriented.repartition(p, F.col("src")), eager=False
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count("*").alias("n_triangles"))
        .withColumn("k", F.lit(1))
    )
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    ).withColumn("k", F.lit(1))
    sizes = edges.agg(F.count("*").alias("n_edges")).withColumn("k", F.lit(1))
    nodes = deg.agg(F.count("*").alias("n_nodes")).withColumn("k", F.lit(1))
    return (
        nodes.join(sizes, "k")
        .join(tri, "k")
        .join(wedges, "k")
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(F.col("n_wedges") == 0, F.lit(0.0))
            .otherwise(
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double")
            )
            .alias("global_clustering"),
        )
    )


@register(
    "graph_connected_components",
    oracle="""
    WITH RECURSIVE blk AS (
        SELECT DISTINCT event_type AS bk, date_trunc('hour', ts) AS bh, user_id
        FROM events
    ),
    adj AS (
        SELECT user_id,
               lead(user_id, 1) OVER (PARTITION BY bk, bh ORDER BY user_id) AS n1,
               lead(user_id, 2) OVER (PARTITION BY bk, bh ORDER BY user_id) AS n2
        FROM blk
    ),
    e0 AS (
        SELECT DISTINCT a, b FROM (
            SELECT user_id AS a, n1 AS b FROM adj WHERE n1 IS NOT NULL
            UNION ALL
            SELECT user_id AS a, n2 AS b FROM adj WHERE n2 IS NOT NULL
        )
    ),
    edges AS (
        SELECT a AS s, b AS d FROM e0 UNION SELECT b, a FROM e0
    ),
    verts AS (SELECT DISTINCT s AS node FROM edges),
    reach AS (
        SELECT node, node AS root FROM verts
        UNION
        SELECT e.d AS node, r.root FROM reach r JOIN edges e ON e.s = r.node
    ),
    labels AS (
        SELECT node AS node_id, MIN(root) AS component_id
        FROM reach GROUP BY node
    ),
    csize AS (
        SELECT component_id, CAST(COUNT(*) AS BIGINT) AS component_size
        FROM labels GROUP BY component_id
    )
    SELECT l.node_id, l.component_id, c.component_size
    FROM labels l JOIN csize c USING (component_id)
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the Sorted-Neighborhood user graph
    (the same blocking edge derivation as ``graph_triangle_count``):
    every user linked to their ≤2 nearest same-(event_type, hour)
    neighbors, labeled with their component's minimum user id plus the
    component size — the entity-resolution primitive (who belongs to
    the same activity cluster) exposed as a first-class query rather
    than only inside the dedup compositions.

    This is the direct differential certificate for
    ``graph.connected_components``: the DuckDB oracle replays the
    labeling as a recursive-CTE transitive closure over the identical
    edge relation, so the driver compares the distributed fixpoint
    (``algorithm="auto"``: min-label propagation falling back to star
    contraction, or the r13 driver union-find cutover) against an
    independent engine at both SFs. Component sizes come from one
    aggregate over the (small) label relation, joined back through a
    size-gated broadcast — sizes ≤ labels, so the label count bounds
    the hint with no extra job."""
    from olr_cdc_oracle_no_dbz_spark.graph import (
        connected_components,
        size_gated_broadcast,
    )

    ev = t(spark, sf_dir, "events")
    blk = ev.select(
        F.col("event_type").alias("bk"),
        F.date_trunc("hour", "ts").alias("bh"),
        "user_id",
    ).distinct()
    w = Window.partitionBy("bk", "bh").orderBy("user_id")
    adj = blk.select(
        "user_id",
        F.lead("user_id", 1).over(w).alias("n1"),
        F.lead("user_id", 2).over(w).alias("n2"),
    )
    edges = (
        adj.filter(F.col("n1").isNotNull())
        .select(F.col("user_id").alias("s"), F.col("n1").alias("d"))
        .unionAll(
            adj.filter(F.col("n2").isNotNull()).select(
                F.col("user_id").alias("s"), F.col("n2").alias("d")
            )
        )
        .distinct()
    )
    labels = connected_components(edges, algorithm="auto")
    n_labels = getattr(labels, "_graft_n_rows", None)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("component_size")
    )
    return (
        labels.join(
            size_gated_broadcast(sizes, n_rows=n_labels), "cluster_id"
        )
        .select(
            F.col("doc_id").alias("node_id"),
            F.col("cluster_id").alias("component_id"),
            "component_size",
        )
    )


_MAD_K = 1.4826  # consistency constant: MAD -> sigma under normality


def _sql_median(src: str, part: str, val: str, tie: str) -> str:
    """DuckDB CTE body: exact per-group median of ``val`` via explicit
    rank-bracket interpolation (the agg_percentiles_exact technique —
    engine-identical IEEE ops, no quantile_cont internals)."""
    return f"""
        SELECT g.{part},
               a.{val} + (0.5 * (g.n - 1) - FLOOR(0.5 * (g.n - 1)))
                   * (b.{val} - a.{val}) AS med
        FROM (
            SELECT {part}, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(FLOOR(0.5 * (COUNT(*) - 1)) AS BIGINT) + 1 AS lo,
                   LEAST(CAST(FLOOR(0.5 * (COUNT(*) - 1)) AS BIGINT) + 2,
                         COUNT(*)) AS hi
            FROM {src} GROUP BY {part}
        ) g
        JOIN (SELECT {part}, {val},
                     ROW_NUMBER() OVER (PARTITION BY {part}
                                        ORDER BY {val}, {tie}) AS rn
              FROM {src}) a ON a.{part} = g.{part} AND a.rn = g.lo
        JOIN (SELECT {part}, {val},
                     ROW_NUMBER() OVER (PARTITION BY {part}
                                        ORDER BY {val}, {tie}) AS rn
              FROM {src}) b ON b.{part} = g.{part} AND b.rn = g.hi
    """


@register(
    "events_outliers_mad",
    oracle=f"""
    WITH med AS ({_sql_median("events", "event_type", "value", "event_id")}),
    dev AS (
        SELECT e.event_type, e.event_id,
               abs(e.value - m.med) AS adev, m.med
        FROM events e JOIN med m ON m.event_type = e.event_type
    ),
    mad AS ({_sql_median("dev", "event_type", "adev", "event_id")})
    SELECT d.event_type,
           MIN(d.med) AS median_v,
           MIN(x.med) AS mad_v,
           CAST(SUM(CASE WHEN d.adev > CAST(3.0 AS DOUBLE)
                         * CAST({_MAD_K!r} AS DOUBLE) * x.med
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM dev d JOIN mad x ON x.event_type = d.event_type
    GROUP BY d.event_type
    """,
)
def events_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: median/MAD with the 1.4826 normal-
    consistency constant — the screen that survives what breaks
    events_outliers' 3-sigma (mean and stddev are themselves dragged by
    the outliers being hunted; median/MAD have a 50% breakdown point).
    Medians are exact via the rank-bracket interpolation of
    agg_percentiles_exact, so every threshold is bit-identical across
    engines — no engine quantile internals anywhere.

    Scale: two rank passes over the fact (value, then absolute
    deviation), each ONE shuffle on the group key with ExternalSort
    spill — the scalable exact path; the per-group median/MAD relations
    are group-cardinality-sized and broadcast back onto the fact. For
    a cheaper single-pass screen accept approximate medians (KLL
    sketch) — not differentially checkable, hence not this query."""
    ev = t(spark, sf_dir, "events")

    def median_of(df: DataFrame, val: str) -> DataFrame:
        wr = Window.partitionBy("event_type").orderBy(val, "event_id")
        ranked = df.select(
            "event_type", val, "event_id", F.row_number().over(wr).alias("rn")
        )
        pos = F.lit(0.5) * (F.col("n") - 1)
        g = (
            df.groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .select(
                "event_type",
                "n",
                (F.floor(pos).cast("long") + 1).alias("lo"),
                F.least(F.floor(pos).cast("long") + 2, F.col("n")).alias("hi"),
                (pos - F.floor(pos)).alias("frac"),
            )
        )
        a, b = ranked.alias("a"), ranked.alias("b")
        gg = F.broadcast(g).alias("g")
        return (
            gg.join(
                a,
                (F.col("a.event_type") == F.col("g.event_type"))
                & (F.col("a.rn") == F.col("g.lo")),
            )
            .join(
                b,
                (F.col("b.event_type") == F.col("g.event_type"))
                & (F.col("b.rn") == F.col("g.hi")),
            )
            .select(
                F.col("g.event_type").alias("event_type"),
                (
                    F.col(f"a.{val}")
                    + F.col("g.frac") * (F.col(f"b.{val}") - F.col(f"a.{val}"))
                ).alias("med"),
            )
        )

    med = median_of(ev.select("event_type", "value", "event_id"), "value")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
        "med",
    )
    mad = median_of(
        dev.select("event_type", F.col("adev"), "event_id"), "adev"
    ).withColumnRenamed("med", "mad_med")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("median_v"),
            F.min("mad_med").alias("mad_v"),
            F.sum(
                F.when(
                    F.col("adev") > F.lit(3.0) * F.lit(_MAD_K) * F.col("mad_med"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.count("*").alias("n_total"),
        )
    )


@register(
    "events_gap_islands",
    oracle="""
    WITH iv AS (
        SELECT user_id, ts AS s, ts + INTERVAL '30 minutes' AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s > MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    OR MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island_id
        FROM flagged
    ),
    merged AS (
        SELECT user_id, island_id, MIN(s) AS island_start, MAX(e) AS island_end
        FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(date_diff('second', island_start, island_end))
                AS BIGINT) AS covered_seconds,
           CAST(MAX(date_diff('second', island_start, island_end))
                AS BIGINT) AS longest_seconds
    FROM merged GROUP BY user_id
    """,
)
def events_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval merging: each event projects a 30-min
    activity interval; overlapping/touching intervals per user merge
    into maximal islands via the classic running-max algorithm (an
    interval starts a new island iff it begins after the max end-time
    of everything before it). The idiom behind validity-interval
    compaction in SCD2 tables, downtime stitching, and session
    coverage — and distinct from session_window, which buckets by
    fixed inactivity gaps rather than merging arbitrary intervals.

    Scale: one shuffle partitioned by user serves both running-max
    windows AND the two rollups (same-key aggregation reuses the
    partitioning); per-user partitions are bounded by that user's
    events. The running max needs no self-join — the O(n²) interval
    overlap join this replaces is the actual scale trap."""
    ev = t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_e = F.max("e").over(w_prev)
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn(
        "island_id", F.sum("new_island").over(w_run)
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    dur = (
        F.unix_timestamp("island_end") - F.unix_timestamp("island_start")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.sum(dur).alias("covered_seconds"),
        F.max(dur).alias("longest_seconds"),
    )


@register(
    "events_funnel_windowed",
    oracle="""
    WITH signup AS (
        SELECT user_id, MIN(ts) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    click AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN signup s ON s.user_id = e.user_id
        WHERE e.event_type = 'click'
          AND e.ts > s.t_signup
          AND e.ts <= s.t_signup + INTERVAL '30 minutes'
        GROUP BY e.user_id
    ),
    purchase AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN click c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > c.t_click
          AND e.ts <= c.t_click + INTERVAL '24 hours'
        GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM signup)   AS n_signup,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM click)    AS n_click_30m,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM purchase) AS n_purchase_24h
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BOUNDED funnel — events_funnel with conversion windows
    (click within 30 min of signup, purchase within 24 h of that
    click), the shape product analytics actually ships ("conversion
    within X"). Each stage is a per-user conditional MIN constrained
    by the previous stage's timestamp: three stage aggregates chained
    by broadcast-joining the (small) converted-user set onto the fact
    — never a fact×fact self-join, and each stage's input shrinks
    monotonically. The three 1-row stage counts zip via literal-key
    joins (constant-folded to bounded 1×1 BNLJs, the
    graph_triangle_count shape, allowlisted).

    Scale: 1 shuffle per stage on user_id + broadcast of converted
    users; stage windows keep state bounded in the streaming analog
    (watermark = longest stage window)."""
    ev = t(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    click = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(signup), "user_id")
        .filter(
            (F.col("ts") > F.col("t_signup"))
            & (F.col("ts") <= F.col("t_signup") + F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(click), "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    k = lambda df, name: df.agg(F.count("*").alias(name)).withColumn(  # noqa: E731
        "k", F.lit(1)
    )
    return (
        k(signup, "n_signup")
        .join(k(click, "n_click_30m"), "k")
        .join(k(purchase, "n_purchase_24h"), "k")
        .select("n_signup", "n_click_30m", "n_purchase_24h")
    )


@register(
    "events_key_skew_report",
    oracle="""
    WITH counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           MAX(n) AS max_key_rows,
           (SELECT MIN(user_id) FROM counts
            WHERE n = (SELECT MAX(n) FROM counts)) AS hottest_key,
           CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_rows,
           CAST(MAX(n) AS DOUBLE)
               / (CAST(SUM(n) AS DOUBLE) / COUNT(*)) AS skew_factor
    FROM counts
    """,
)
def events_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic — the report that decides whether a join or
    aggregation key needs salting (agg_two_phase_skew / scale.py
    salted_join) BEFORE the job that would have stalled on it: key
    count, row count, the hottest key and its row share, and the skew
    factor (hottest key's rows ÷ mean rows per key; >10 means one
    reducer does 10× the average work and AQE skew handling or salt-16
    is warranted). One groupBy + one global aggregate, no joins —
    deterministic hottest-key tie-break by lowest id via arg_max on a
    composite.

    Scale: the per-key count IS the potentially-skewed shuffle — but
    counts partial-aggregate map-side, so even the hot key ships one
    row per input partition, never its raw rows; the diagnostic is
    safe to run on the exact workload it diagnoses."""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    mean = F.sum("n").cast("double") / F.count("*")
    return counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
        F.expr("max_by(user_id, struct(n, -user_id))").alias("hottest_key"),
        mean.alias("mean_rows"),
        (F.max("n").cast("double") / mean).alias("skew_factor"),
    )


@register(
    "events_rfm_segmentation",
    oracle="""
    WITH g AS (SELECT MAX(ts) AS gmax FROM events),
    per_user AS (
        SELECT user_id,
               MAX(ts) AS last_ts,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS monetary
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           date_diff('day', CAST(last_ts AS DATE), CAST(gmax AS DATE))
               AS recency_days,
           frequency,
           monetary,
           CASE
             WHEN date_diff('day', CAST(last_ts AS DATE), CAST(gmax AS DATE)) <= 0
                  AND frequency >= 70 THEN 'champion'
             WHEN date_diff('day', CAST(last_ts AS DATE), CAST(gmax AS DATE)) <= 0
                  THEN 'recent'
             WHEN frequency >= 70 THEN 'loyal_lapsed'
             ELSE 'dormant'
           END AS segment
    FROM per_user CROSS JOIN g
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation — the
    classic continuous-analytics cut over an event stream: days since
    last activity relative to the corpus horizon, event count, and
    exact-decimal value total per user, bucketed into named segments.

    Segments use ABSOLUTE thresholds, not ntile/percent_rank: quantile
    scoring needs a global sort (single-partition window — the
    100 TB anti-pattern this repo pins tests against), while absolute
    business thresholds are row-local. The one global input — the
    corpus max timestamp — is a 1-row aggregate broadcast onto the
    per-user rows (the same bounded-BNLJ shape as dedup_clusters'
    count), so the whole query is two partial-agg passes and a
    constant-size join. Recency is whole-day integer arithmetic on
    DATE casts — identical on both engines, no interval floats."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("frequency"),
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("double")
        .alias("monetary"),
    )
    glob = ev.agg(F.max("ts").alias("gmax"))
    recency = F.datediff(F.to_date("gmax"), F.to_date("last_ts"))
    segment = (
        F.when((recency <= 0) & (F.col("frequency") >= 70), "champion")
        .when(recency <= 0, "recent")
        .when(F.col("frequency") >= 70, "loyal_lapsed")
        .otherwise("dormant")
    )
    return per_user.crossJoin(F.broadcast(glob)).select(
        "user_id",
        recency.alias("recency_days"),
        "frequency",
        "monetary",
        segment.alias("segment"),
    )


@register(
    "events_anomaly_seasonal",
    oracle="""
    WITH seasonal AS (
        SELECT event_type, dayofweek(ts) + 1 AS dow,  -- DuckDB 0=Sun; Spark 1=Sun
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(value) AS mean_v,
               sqrt((CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE)
                     - CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                       * CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                       / COUNT(*))
                    / (COUNT(*) - 1)) AS std_v
        FROM events GROUP BY 1, 2
    )
    SELECT s.event_type, s.dow, s.n AS n_baseline,
           CAST(COUNT(*) AS BIGINT) AS n_anomalies,
           MIN(e.event_id) AS example_event
    FROM events e
    JOIN seasonal s
      ON s.event_type = e.event_type AND s.dow = dayofweek(e.ts) + 1
    WHERE abs(e.value - s.mean_v) > 3 * s.std_v
    GROUP BY s.event_type, s.dow, s.n
    """,
)
def events_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL anomaly screen: the per-(type, day-of-week) baseline
    replaces events_outliers' global per-type mean — an event is
    anomalous relative to ITS seasonal slot, which is how monitoring
    avoids flagging every weekend as an outlier of the weekday
    distribution. Baselines come from the same exact decimal power
    sums (deterministic mean/std); the flagged events reduce to a
    per-slot count + example id, so the output is slot-bounded
    regardless of anomaly volume.

    Scale: one partial-agg pass for the |types|×7 baseline table
    (broadcast), one zero-shuffle scan with a row-local 3-sigma test,
    and a slot-keyed final count."""
    ev = t(spark, sf_dir, "events")
    dow = F.dayofweek("ts")
    s2 = F.sum((F.col("value") * F.col("value")).cast("decimal(28,6)")).cast(
        "double"
    )
    s1 = F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
    seasonal = ev.groupBy(F.col("event_type"), dow.alias("dow")).agg(
        F.count("*").alias("n"),
        (s1 / F.count("value")).alias("mean_v"),
        F.sqrt(
            (s2 - s1 * s1 / F.count("*")) / (F.count("*") - 1)
        ).alias("std_v"),
    )
    e = ev.select(
        "event_id",
        "value",
        F.col("event_type").alias("e_type"),
        dow.alias("e_dow"),
    )
    joined = e.join(
        F.broadcast(seasonal),
        (F.col("e_type") == F.col("event_type"))
        & (F.col("e_dow") == F.col("dow")),
    )
    return (
        joined.filter(
            F.abs(F.col("value") - F.col("mean_v")) > 3 * F.col("std_v")
        )
        .groupBy("event_type", "dow", "n")
        .agg(
            F.count("*").alias("n_anomalies"),
            F.min("event_id").alias("example_event"),
        )
        .select(
            "event_type",
            "dow",
            F.col("n").alias("n_baseline"),
            "n_anomalies",
            "example_event",
        )
    )


@register(
    "timeseries_resample_interpolate",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(value) AS avg_v
        FROM events GROUP BY 1, 2
    ),
    span AS (
        SELECT date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events
    ),
    grid AS (
        SELECT d.event_type, g.h
        FROM (SELECT DISTINCT event_type FROM events) d
        CROSS JOIN (
            SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
            FROM span
        ) g
    ),
    joined AS (
        SELECT g.event_type, g.h,
               COALESCE(hy.n_obs, 0) AS n_obs, hy.avg_v,
               epoch(g.h)::BIGINT // 3600 AS idx
        FROM grid g LEFT JOIN hourly hy
          ON hy.event_type = g.event_type AND hy.h = g.h
    ),
    filled AS (
        SELECT *,
               last_value(avg_v IGNORE NULLS) OVER w_fwd AS ff_v,
               last_value(CASE WHEN avg_v IS NOT NULL THEN idx END
                          IGNORE NULLS) OVER w_fwd AS ff_idx,
               first_value(avg_v IGNORE NULLS) OVER w_bwd AS bf_v,
               first_value(CASE WHEN avg_v IS NOT NULL THEN idx END
                           IGNORE NULLS) OVER w_bwd AS bf_idx
        FROM joined
        WINDOW
          w_fwd AS (PARTITION BY event_type ORDER BY idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_bwd AS (PARTITION BY event_type ORDER BY idx
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           n_obs,
           CASE
             WHEN avg_v IS NOT NULL THEN CAST(avg_v AS DECIMAL(18,8))
             WHEN ff_v IS NOT NULL AND bf_v IS NOT NULL THEN
               CAST(ff_v + (bf_v - ff_v)
                    * (CAST(idx - ff_idx AS DOUBLE)
                       / CAST(bf_idx - ff_idx AS DOUBLE))
                    AS DECIMAL(18,8))
           END::VARCHAR AS value_interp,
           (avg_v IS NULL AND ff_v IS NOT NULL AND bf_v IS NOT NULL)
               AS is_interpolated
    FROM filled
    """,
)
def timeseries_resample_interpolate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-series resampling onto a regular hourly grid with LINEAR
    INTERPOLATION of the gaps — the telemetry/feature-engineering shape
    (ksqlDB-style continuous series → model-ready regular series) the
    windowed aggregates don't cover: missing buckets must be *created*
    and imputed between their observed neighbours, not just aggregated.

    Plan shape: one partial-agg pass builds the per-(type, hour)
    averages; the grid is synthesized from a 1-row span aggregate with
    ``sequence()`` + ``explode`` against the distinct-type dimension (a
    broadcast of two tiny relations — never a scan-sized join); the
    fill runs as two windows per type ordered by hour. Scale note: the
    windowed relation is the RESAMPLED series — its size is
    span_hours x n_types, set by the time range and grid step, not by
    the raw event count, so the per-partition window is bounded no
    matter how many raw events back it (the raw scan only feeds the
    partial agg). Interpolation itself is row-local IEEE arithmetic on
    deterministic decimal-sum averages, rendered DECIMAL(18,8)→VARCHAR
    so the driver's pandas hash sees identical strings.

    Reference anchor: the richest ksqlDB analog is a HOPPING window agg
    (SURVEY §2.4 A6) — this operator is the batch completion of that
    surface for downstream ML consumers (BASELINE.json north_star).
    """
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count("*").alias("n_obs"),
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count("value")
        ).alias("avg_v"),
    )
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    joined = (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            "h",
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            "avg_v",
            F.expr("unix_micros(h) div 3600000000").alias("idx"),
        )
    )
    w_fwd = (
        Window.partitionBy("event_type")
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bwd = (
        Window.partitionBy("event_type")
        .orderBy("idx")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_idx = F.when(F.col("avg_v").isNotNull(), F.col("idx"))
    filled = joined.select(
        "*",
        F.last("avg_v", ignorenulls=True).over(w_fwd).alias("ff_v"),
        F.last(obs_idx, ignorenulls=True).over(w_fwd).alias("ff_idx"),
        F.first("avg_v", ignorenulls=True).over(w_bwd).alias("bf_v"),
        F.first(obs_idx, ignorenulls=True).over(w_bwd).alias("bf_idx"),
    )
    frac = (F.col("idx") - F.col("ff_idx")).cast("double") / (
        F.col("bf_idx") - F.col("ff_idx")
    ).cast("double")
    interp = (
        F.when(F.col("avg_v").isNotNull(), F.col("avg_v"))
        .when(
            F.col("ff_v").isNotNull() & F.col("bf_v").isNotNull(),
            F.col("ff_v") + (F.col("bf_v") - F.col("ff_v")) * frac,
        )
        .cast("decimal(18,8)")
    )
    return filled.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        "n_obs",
        interp.cast("string").alias("value_interp"),
        (
            F.col("avg_v").isNull()
            & F.col("ff_v").isNotNull()
            & F.col("bf_v").isNotNull()
        ).alias("is_interpolated"),
    )


@register(
    "timeseries_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(value) AS avg_v
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type,
               CAST(SUM(CAST(avg_v AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(avg_v) AS mean_v
        FROM daily GROUP BY 1
    ),
    cusum AS (
        SELECT d.event_type, d.d,
               SUM(CAST(d.avg_v - m.mean_v AS DECIMAL(28,6))) OVER (
                   PARTITION BY d.event_type ORDER BY d.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cs
        FROM daily d JOIN m ON m.event_type = d.event_type
    )
    SELECT event_type,
           strftime(d, '%Y-%m-%d') AS changepoint_day,
           CAST(abs(cs) AS VARCHAR) AS max_abs_cusum,
           n_days
    FROM (
        SELECT event_type, d, cs,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_days,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(cs) DESC, d) AS rk
        FROM cusum
    ) WHERE rk = 1
    """,
)
def timeseries_cusum_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSUM changepoint screen per event type: the running sum of
    (daily mean − series mean) peaks in magnitude at the most likely
    level-shift day (classic CUSUM statistic). The monitoring
    counterpart to ``events_anomaly_seasonal`` — that flags individual
    outlier EVENTS, this locates a persistent REGIME CHANGE in the
    series.

    Determinism: the running sum is an ORDER-FIXED window (ordered by
    day within type), so casting each addend to DECIMAL(28,6) makes the
    partial sums exact and engine-identical; the argmax rank then
    compares exact decimals (ties broken by earliest day). Scale: both
    windows run over the DAILY series (span_days rows per type — time-
    bounded, not event-bounded); the raw scan reduces in one partial
    agg, and the per-type mean joins back as a broadcast.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count("value")
        ).alias("avg_v"),
    )
    m = daily.groupBy("event_type").agg(
        (
            F.sum(F.col("avg_v").cast("decimal(28,6)")).cast("double")
            / F.count("avg_v")
        ).alias("mean_v"),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        daily.join(F.broadcast(m), "event_type")
        .select(
            "event_type",
            "d",
            F.sum(
                (F.col("avg_v") - F.col("mean_v")).cast("decimal(28,6)")
            )
            .over(w_run)
            .alias("cs"),
        )
    )
    w_cnt = Window.partitionBy("event_type")
    w_rk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cs")).desc(), "d"
    )
    return (
        cusum.select(
            "event_type",
            "d",
            "cs",
            F.count("*").over(w_cnt).alias("n_days"),
            F.row_number().over(w_rk).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("changepoint_day"),
            F.abs(F.col("cs")).cast("string").alias("max_abs_cusum"),
            "n_days",
        )
    )


@register(
    "events_cooccurrence_affinity",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    per_type AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM ut GROUP BY 1
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_total
            FROM events)
    SELECT p.type_a, p.type_b, p.n_both,
           pa.n_users AS n_a, pb.n_users AS n_b,
           CAST(CAST(p.n_both AS DECIMAL(18,6))
                / (pa.n_users + pb.n_users - p.n_both)
                AS DECIMAL(9,6))::VARCHAR AS jaccard,
           CAST(CAST(p.n_both * t.n_total AS DECIMAL(28,6))
                / (pa.n_users * pb.n_users)
                AS DECIMAL(12,6))::VARCHAR AS lift
    FROM pairs p
    JOIN per_type pa ON pa.event_type = p.type_a
    JOIN per_type pb ON pb.event_type = p.type_b
    CROSS JOIN tot t
    """,
)
def events_cooccurrence_affinity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bipartite co-occurrence projection (market-basket affinity): the
    user↔event_type bipartite relation projected onto type–type edges
    weighted by shared-user count, Jaccard affinity, and lift — the
    recommender / segmentation primitive ksqlDB users build downstream
    of the event stream.

    Scale: the self-join runs on the DISTINCT (user, type) relation, so
    per-user output is bounded by the per-key attribute-set size
    (≤ |types| per user — bipartite projections are safe exactly when
    one side has bounded degree), never by raw event count; the raw
    scan collapses in one dropDuplicates partial agg first. Per-type
    totals and the global user count join back as broadcasts; ratios
    are exact-decimal renders."""
    # r14 (opt): lazy cut — the distinct bipartite relation feeds the
    # per-type support aggregate and BOTH self-join sides; uncut, each
    # consumer re-ran the events scan + dropDuplicates shuffle
    ut = truncate_lineage(
        t(spark, sf_dir, "events").select("user_id", "event_type").distinct(),
        eager=False,
    )
    per_type = ut.groupBy("event_type").agg(F.count("*").alias("n_users"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    tot = t(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").alias("n_total")
    )
    pa = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    pb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    jac = (
        F.col("n_both").cast("decimal(18,6)")
        / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
    ).cast("decimal(9,6)")
    lift = (
        (F.col("n_both") * F.col("n_total")).cast("decimal(28,6)")
        / (F.col("n_a") * F.col("n_b"))
    ).cast("decimal(12,6)")
    return (
        pairs.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            jac.cast("string").alias("jaccard"),
            lift.cast("string").alias("lift"),
        )
    )


@register(
    "events_attribution_last_touch",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, ts, event_type, value,
               lag(CASE WHEN event_type <> 'purchase' THEN event_type END
                   IGNORE NULLS) OVER w AS touch_type,
               lag(CASE WHEN event_type <> 'purchase' THEN ts END
                   IGNORE NULLS) OVER w AS touch_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    conv AS (
        SELECT CASE WHEN touch_ts IS NOT NULL
                         AND touch_ts >= ts - INTERVAL 7 DAY
                    THEN touch_type ELSE 'direct' END AS channel,
               value
        FROM seq WHERE event_type = 'purchase'
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
               AS attributed_value
    FROM conv GROUP BY channel
    """,
)
def events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent NON-purchase event within a 7-day lookback window
    (otherwise 'direct') — the standard marketing-attribution cut a
    ksqlDB user materializes continuously from the event stream.

    Plan shape: one per-key window pass; ``lag(... IGNORE NULLS)``
    carries the latest preceding touch through purchase runs without a
    self-join (the naive form — join purchases back against all prior
    events per user — is quadratic per key; the windowed form is
    single-pass and bounded by partition size). The lookback test and
    channel bucketing are row-local, and the final agg is channel-
    bounded with exact-decimal value sums."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    touch_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    seq = ev.select(
        "ts",
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("touch_type"),
        F.last(touch_ts, ignorenulls=True).over(w).alias("touch_ts"),
    )
    channel = F.when(
        F.col("touch_ts").isNotNull()
        & (F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAY")),
        F.col("touch_type"),
    ).otherwise("direct")
    return (
        seq.filter(F.col("event_type") == "purchase")
        .select(channel.alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_conversions"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("attributed_value"),
        )
    )


@register(
    "events_top_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type, 1) OVER w AS p1,
               lag(event_type, 2) OVER w AS p2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    trigrams AS (
        SELECT p2 || ' > ' || p1 || ' > ' || event_type AS path,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM seq WHERE p2 IS NOT NULL
        GROUP BY 1
    )
    SELECT path, n_occurrences, rk
    FROM (
        SELECT path, n_occurrences,
               row_number() OVER (ORDER BY n_occurrences DESC, path) AS rk
        FROM trigrams
    ) WHERE rk <= 10
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: the 10 most frequent 3-step event-type
    sequences (trigrams over each user's time-ordered stream) — the
    path-analysis extension of ``events_transition_matrix`` (bigrams).
    Funnels tell you conversion of a HYPOTHESIZED path; this MINES the
    dominant paths.

    Plan shape: one per-key window shuffle produces both lags; the
    trigram count partial-aggregates map-side (key space ≤ |types|³ —
    tiny); the global top-10 is a TakeOrderedAndProject (sort+limit),
    and the rank recompute window runs strictly AFTER the limit — the
    q3/q10 pattern the plan-sweep's limit-bounded window rule
    enforces, so no unbounded single-partition funnel exists at any
    corpus size."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    trigrams = (
        seq.filter(F.col("p2").isNotNull())
        .select(
            F.concat_ws(" > ", "p2", "p1", "event_type").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_occurrences"))
    )
    top = trigrams.orderBy(F.col("n_occurrences").desc(), "path").limit(10)
    w_rk = Window.orderBy(F.col("n_occurrences").desc(), "path")
    return top.select(
        "path",
        "n_occurrences",
        F.row_number().over(w_rk).alias("rk"),
    )


@register(
    "events_user_stickiness",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT strftime(date_trunc('month', ts), '%Y-%m') AS month,
               CAST(ts AS DATE) AS d, user_id
        FROM events
    ),
    daily AS (
        SELECT month, d, CAST(COUNT(*) AS BIGINT) AS dau
        FROM ud GROUP BY month, d
    ),
    monthly AS (
        SELECT month,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        FROM ud GROUP BY month
    ),
    davg AS (
        SELECT month,
               CAST(COUNT(*) AS BIGINT) AS active_days,
               CAST(SUM(dau) AS BIGINT) AS user_days
        FROM daily GROUP BY month
    )
    SELECT m.month, d.active_days, d.user_days, m.mau,
           CAST(CAST(d.user_days AS DECIMAL(18,6))
                / (d.active_days * m.mau) AS DECIMAL(9,6))::VARCHAR
               AS stickiness
    FROM monthly m JOIN davg d ON d.month = m.month
    """,
)
def events_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement ratio product
    teams watch continuously (mean daily active users over monthly
    active users; 1.0 = every monthly user active every day). Computed
    as user_days / (active_days × MAU) so the mean needs no float
    intermediate — one exact-decimal division at the end.

    Plan shape: one distinct pass over (month, day, user) — map-side
    partial dedup, the only real shuffle — then two tiny month-keyed
    aggs joined broadcast. Counts stay integers until the final
    decimal render, so the ratio is engine-identical."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias(
            "month"
        ),
        F.to_date("ts").alias("d"),
        "user_id",
    ).distinct()
    daily = ud.groupBy("month", "d").agg(F.count("*").alias("dau"))
    monthly = ud.groupBy("month").agg(
        F.countDistinct("user_id").alias("mau")
    )
    davg_m = daily.groupBy("month").agg(
        F.count("*").alias("active_days"),
        F.sum("dau").alias("user_days"),
    )
    stick = (
        F.col("user_days").cast("decimal(18,6)")
        / (F.col("active_days") * F.col("mau"))
    ).cast("decimal(9,6)")
    return monthly.join(F.broadcast(davg_m), "month").select(
        "month",
        "active_days",
        "user_days",
        "mau",
        stick.cast("string").alias("stickiness"),
    )


@register(
    "events_activity_concentration",
    oracle="""
    WITH per_user AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    ),
    binned AS (
        SELECT CAST(len(bin(n_events)) AS INTEGER) AS activity_bin,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(n_events) AS BIGINT) AS events_in_bin
        FROM per_user GROUP BY 1
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_events FROM events)
    SELECT activity_bin, n_users, events_in_bin,
           CAST(CAST(events_in_bin AS DECIMAL(18,6)) / t.total_events
                AS DECIMAL(9,6))::VARCHAR AS share,
           CAST(CAST(SUM(events_in_bin) OVER (
                    ORDER BY activity_bin DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS DECIMAL(18,6)) / t.total_events
                AS DECIMAL(9,6))::VARCHAR AS cum_share_from_top
    FROM binned CROSS JOIN tot t
    """,
)
def events_activity_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Activity-concentration (whale-curve) report: users bucketed into
    power-of-two activity bins (bin = bit length of their event count —
    the HLL ``bin()``-length idiom, zero floating point), with each
    bin's share of total events and the cumulative share from the
    heaviest bin down. Answers "do the top users dominate the
    workload?" WITHOUT a global per-user sort: the classic Lorenz/
    Pareto cut needs rank over ALL users (single-partition window — the
    100 TB anti-pattern), while log₂ binning gives the same
    concentration picture with a bin-bounded (≤64-row) output.

    Plan shape: one per-user partial agg, one bin-bounded agg, and a
    window over ≤64 bins; the 1-row total broadcasts. Shares are exact-
    decimal renders of pure integer counts."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    binned = per_user.groupBy(
        F.length(F.bin("n_events")).cast("int").alias("activity_bin")
    ).agg(
        F.count("*").alias("n_users"),
        F.sum("n_events").alias("events_in_bin"),
    ).limit(100)  # no-op bound (≤64 bins exist): pins the unpartitioned
    # cumulative window to a provably limit-bounded input, the invariant
    # test_plans' registry sweep enforces
    tot = ev.agg(F.count("*").alias("total_events"))
    w_cum = (
        Window.orderBy(F.col("activity_bin").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    share = (
        F.col("events_in_bin").cast("decimal(18,6)")
        / F.col("total_events")
    ).cast("decimal(9,6)")
    cum = (
        F.sum("events_in_bin").over(w_cum).cast("decimal(18,6)")
        / F.col("total_events")
    ).cast("decimal(9,6)")
    return (
        binned.crossJoin(F.broadcast(tot))
        .select(
            "activity_bin",
            "n_users",
            "events_in_bin",
            share.cast("string").alias("share"),
            cum.cast("string").alias("cum_share_from_top"),
        )
    )


@register(
    "events_association_rules",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT user_id,
               CAST(json_extract(props, '$.k') AS BIGINT) AS item
        FROM events WHERE props IS NOT NULL
    ),
    supp AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM baskets
        GROUP BY item
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
            FROM baskets),
    pair AS (
        SELECT a.item AS antecedent, b.item AS consequent,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM baskets a JOIN baskets b
          ON a.user_id = b.user_id AND a.item <> b.item
        GROUP BY 1, 2
    ),
    rules AS (
        SELECT p.antecedent, p.consequent, p.n_both,
               sa.n AS n_antecedent,
               CAST(CAST(p.n_both AS DECIMAL(18,6)) / sa.n
                    AS DECIMAL(9,6)) AS confidence,
               CAST(CAST(p.n_both * t.n_users AS DECIMAL(28,6))
                    / (sa.n * sc.n) AS DECIMAL(12,6)) AS lift
        FROM pair p
        JOIN supp sa ON sa.item = p.antecedent
        JOIN supp sc ON sc.item = p.consequent
        CROSS JOIN tot t
    )
    SELECT antecedent, consequent, n_both, n_antecedent,
           CAST(confidence AS VARCHAR) AS confidence,
           CAST(lift AS VARCHAR) AS lift, rk
    FROM (
        SELECT *, row_number() OVER (
            ORDER BY lift DESC, antecedent, consequent) AS rk
        FROM rules
    ) WHERE rk <= 20
    """,
)
def events_association_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Association rules (A-Priori 2-itemsets) over the per-user item
    baskets hiding in ``props.k`` — the DIRECTIONAL market-basket
    operator: confidence(a→b) = supp(ab)/supp(a) is asymmetric, which
    is what distinguishes a rule engine from
    ``events_cooccurrence_affinity``'s symmetric edges; top-20 by exact
    decimal lift with a deterministic tie-break.

    Scale: baskets are the DISTINCT (user, item) relation (map-side
    dedup); the pair fan-out is bounded per user by basket size and the
    pair-support aggregate by |items|² (10⁴ here) — never by the raw
    event count; supports and the user total join back as broadcasts;
    the final rank runs over the item-bounded rule relation via
    sort+limit then a post-limit rank recompute (the plan-sweep
    pattern)."""
    ev = t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    # r14 (opt): lazy cut — baskets feeds the support aggregate, the
    # user total, and both pair-join sides; uncut, each consumer
    # re-ran the scan + JSON extraction + distinct shuffle
    baskets = truncate_lineage(
        ev.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("item"),
        ).distinct(),
        eager=False,
    )
    supp = baskets.groupBy("item").agg(F.count("*").alias("n"))
    tot = baskets.agg(F.countDistinct("user_id").alias("n_users"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") != F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("antecedent"),
            F.col("b.item").alias("consequent"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    sa = supp.select(
        F.col("item").alias("antecedent"), F.col("n").alias("n_antecedent")
    )
    sc = supp.select(
        F.col("item").alias("consequent"), F.col("n").alias("n_consequent")
    )
    conf = (
        F.col("n_both").cast("decimal(18,6)") / F.col("n_antecedent")
    ).cast("decimal(9,6)")
    lift = (
        (F.col("n_both") * F.col("n_users")).cast("decimal(28,6)")
        / (F.col("n_antecedent") * F.col("n_consequent"))
    ).cast("decimal(12,6)")
    rules = (
        pair.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .crossJoin(F.broadcast(tot))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_antecedent",
            conf.alias("confidence"),
            lift.alias("lift"),
        )
    )
    top = rules.orderBy(
        F.col("lift").desc(), "antecedent", "consequent"
    ).limit(20)
    w_rk = Window.orderBy(F.col("lift").desc(), "antecedent", "consequent")
    return top.select(
        "antecedent",
        "consequent",
        "n_both",
        "n_antecedent",
        F.col("confidence").cast("string").alias("confidence"),
        F.col("lift").cast("string").alias("lift"),
        F.row_number().over(w_rk).alias("rk"),
    )
