"""CDC-semantics queries over the ``events`` changelog table.

``events`` (event_id, ts, user_id, event_type, value, props) doubles as a
generic changelog (FIXTURES.md §4): key = user_id, apply order =
(ts, event_id), delete = event_type 'error' (the op mapping is arbitrary
but fixed). These queries exercise the engine's materialization core
(cdc/materialize.py) — the reference sink-connector semantics of
README.md:775-798 — in batch form so DuckDB can verify them.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.cdc import decode_events, filter_source, unwrap
from olr_cdc_oracle_no_dbz_spark.cdc.materialize import (
    latest_state,
    merge_into_state,
    publish,
)
from olr_cdc_oracle_no_dbz_spark.schemas import change_event_schema
from olr_cdc_oracle_no_dbz_spark.workload import register
from olr_cdc_oracle_no_dbz_spark.workload.util import sql_dsum, t

KEY = ("user_id",)
ORDER = ("ts", "event_id")

_STATE_SQL = """
    SELECT * FROM (
        SELECT e.*, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS __rn
        FROM events e
    ) WHERE __rn = 1
"""


def _state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return latest_state(t(spark, sf_dir, "events"), KEY, ORDER)


@register(
    "cdc_current_state",
    oracle=f"""
    WITH state AS ({_STATE_SQL})
    SELECT user_id,
           event_type AS last_event_type,
           value      AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM state WHERE event_type <> 'error'
    """,
)
def cdc_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert+delete materialization (SURVEY.md §2 A1/K2/K3, delete mode
    'drop'): latest row per key, deleted keys removed."""
    live = _state(spark, sf_dir).filter(F.col("event_type") != "error")
    return live.select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@register(
    "cdc_current_state_rewrite",
    oracle=f"""
    WITH state AS ({_STATE_SQL})
    SELECT user_id,
           event_type AS last_event_type,
           value      AS last_value,
           (event_type = 'error') AS __deleted
    FROM state
    """,
)
def cdc_current_state_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-handling 'rewrite' mode (reference README.md:795): deleted
    keys stay, flagged ``__deleted=true``."""
    return _state(spark, sf_dir).select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        (F.col("event_type") == "error").alias("__deleted"),
    )


@register(
    "cdc_envelope_unwrap",
    oracle="""
    SELECT event_id AS scn,
           CASE WHEN event_type = 'signup' THEN 'c'
                WHEN event_type = 'error'  THEN 'd'
                ELSE 'u' END AS op,
           user_id, event_type, value,
           (event_type = 'error') AS __deleted
    FROM events
    """,
)
def cdc_envelope_unwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full envelope round-trip through the engine's decode path
    (SURVEY.md §2 P1/P2/P4/P6): build OLR-shaped JSON change messages,
    ``from_json``-decode, source-filter on owner/table
    (scripts/OpenLogReplicator.json:32-39), unwrap before/after images
    (README.md:792-795 SMT). The oracle computes the same rows directly —
    the JSON round-trip must be lossless."""
    ev = t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    image = F.struct(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("event_type"),
        F.col("value").alias("value"),
    )
    raw = ev.select(
        F.to_json(
            F.struct(
                F.col("event_id").alias("scn"),
                F.lit(1).alias("seq"),
                (F.unix_micros(F.col("ts"))).alias("tm"),
                F.concat(F.lit("tx-"), F.col("event_id")).alias("xid"),
                F.lit("ORCLPDB1").alias("db"),
                op.alias("op"),
                F.concat(F.lit("AAA"), F.col("event_id")).alias("rid"),
                F.lit("OLR_DB").alias("schema_owner"),
                F.lit("PRODUCT").alias("schema_table"),
                F.when(op != "c", image).alias("before"),
                F.when(op != "d", image).alias("after"),
            )
        ).alias("value")
    )
    row_schema = ev.select(
        F.col("user_id").cast("long").alias("user_id"), "event_type", "value"
    ).schema
    decoded = decode_events(raw, change_event_schema(row_schema))
    filtered = filter_source(decoded, "OLR_DB", "PRODUCT")
    flat = unwrap(filtered, mode="rewrite", meta_cols=("scn", "op"))
    return flat.select("scn", "op", "user_id", "event_type", "value", "__deleted")


_COMPACT_WM = "2024-01-15 00:00:00"
#: per-corpus MERGED-but-uncompacted store dirs for
#: cdc_state_compaction (VERDICT r9 item 3): the two corpus-sized
#: merge_batch passes run ONCE per corpus per process; each
#: invocation then copies the bucket directory and runs the real
#: ``compact`` on the copy, so the per-invocation cost is one
#: directory copy + the pruned compaction rewrite instead of a full
#: store rebuild. Guarded by ``_COMPACT_LOCK`` (r9 ADVICE: the
#: rmtree+mkdir rebuild raced under concurrent registry
#: constructions in one process).
_COMPACT_BASES: dict[str, str] = {}
_COMPACT_LOCK = threading.Lock()


@register(
    "cdc_state_compaction",
    oracle=f"""
    WITH state AS ({_STATE_SQL})
    SELECT user_id,
           event_type AS last_event_type,
           value      AS last_value,
           (event_type = 'error') AS __deleted,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM state
    WHERE NOT (event_type = 'error'
               AND ts <= TIMESTAMP '{_COMPACT_WM}')
    """,
)
def cdc_state_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-compaction differential gate (VERDICT r8 item 8 —
    ``ParquetStateTable.compact`` was pytest-covered but had no oracle
    check): drive the REAL bucketed state store end-to-end — split the
    events changelog into two deterministic batches (even/odd
    event_id), ``merge_batch`` each into a fresh ParquetStateTable
    (key=user_id, order=(ts, event_id), delete=event_type 'error' —
    the FIXTURES.md §4 mapping), then ``compact`` at a fixed SCN
    watermark — and return the surviving internal state. The oracle
    states the compaction CONTRACT directly: state after compaction at
    watermark W == last-writer-wins state minus dead tombstones
    (deleted AND order ≤ W); tombstones ABOVE the watermark must
    survive (they still guard against redelivered pre-delete
    upserts), live rows are untouched. Batch order, bucket layout, and
    the partition-pruned rewrite are all invisible to the contract —
    that invisibility is what the gate certifies.

    Plan-only sweeps (SPARK_GRAFT_PLAN_ONLY=1) get the contract's
    logical form instead — value-identical by the oracle's own
    equation, and no parquet writes at construction (the ann-serve
    gates' lazy-construction convention).

    Scale: the store's merge cost is O(delta + touched buckets), and
    compact rewrites ONLY buckets holding dead tombstones —
    ``ParquetStateTable.compact``; the gate runs it on a 32-bucket table so
    the pruning path (not a degenerate 1-bucket rewrite) is what's
    checked."""
    ev = t(spark, sf_dir, "events")
    live_filter = ~(
        (F.col("event_type") == "error") & (F.col("ts") <= _COMPACT_WM)
    )
    if os.environ.get("SPARK_GRAFT_PLAN_ONLY"):
        state = latest_state(ev, KEY, ORDER).filter(live_filter)
        return state.select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            (F.col("event_type") == "error").alias("__deleted"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
    from olr_cdc_oracle_no_dbz_spark.streaming.state import ParquetStateTable

    # CONSTRUCTION-TIME SIDE EFFECT (documented per r9 ADVICE): this
    # gate drives the real store when the query is BUILT, not at first
    # action — plan-only tools must set SPARK_GRAFT_PLAN_ONLY. The two
    # corpus-sized merge_batch passes run once per corpus per process
    # (_COMPACT_BASES memo — VERDICT r9 item 3); every invocation then
    # copies the merged bucket directory and runs the REAL ``compact``
    # on the copy, so the pruned-rewrite path stays the thing
    # exercised while the per-invocation cost drops to copy + compact.
    # The lock serializes concurrent constructions in one process.
    key = os.path.realpath(sf_dir)
    with _COMPACT_LOCK:
        base = _COMPACT_BASES.get(key)
        if base is None:
            root = tempfile.mkdtemp(prefix="spark_graft_compaction_gate_")
            atexit.register(shutil.rmtree, root, ignore_errors=True)
            base = os.path.join(root, "base")
            table = ParquetStateTable(
                spark,
                base,
                key_cols=("user_id",),
                order_cols=("ts", "event_id"),
            )
            delta = ev.withColumn(
                "__deleted", F.col("event_type") == "error"
            ).select(
                "user_id", "event_type", "value", "ts", "event_id", "__deleted"
            )
            table.merge_batch(delta.filter(F.col("event_id") % 2 == 0))
            table.merge_batch(delta.filter(F.col("event_id") % 2 == 1))
            _COMPACT_BASES[key] = base
        # each invocation compacts its OWN copy (r10 code review: a
        # shared 'run' dir re-copied per construction would be yanked
        # out from under an earlier invocation's still-lazy DataFrame
        # at action time). Copies live inside the atexit-cleaned root
        # and are KB-scale state stores, so per-invocation accumulation
        # is bounded and tiny — the r9 complaint was corpus-sized full
        # REBUILDS, which the base memo above eliminates.
        run = tempfile.mkdtemp(prefix="run_", dir=os.path.dirname(base))
        shutil.rmtree(run, ignore_errors=True)
        shutil.copytree(base, run)
        table = ParquetStateTable(
            spark, run, key_cols=("user_id",), order_cols=("ts", "event_id")
        )
        table.compact(_COMPACT_WM)
    state = table.read_internal().drop("bucket_id")
    return state.select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.col("__deleted").alias("__deleted"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@register(
    "cdc_schema_evolution_merge",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id AS scn, 0 AS seq,
               CAST(FLOOR(value) AS INTEGER) AS amount,
               CAST(event_id AS DECIMAL(10,2)) AS price,
               (event_type = 'error') AS __deleted
        FROM events WHERE event_id % 2 = 0
    ),
    delta AS (
        SELECT user_id, event_id AS scn, 0 AS seq,
               CAST(FLOOR(value) AS BIGINT) AS amount,
               CAST(CAST(event_id AS DECIMAL(12,4))
                    + CAST(0.1234 AS DECIMAL(12,4)) AS DECIMAL(12,4)) AS price,
               event_type AS note,
               (event_type = 'error') AS __deleted
        FROM events WHERE event_id % 2 = 1
    ),
    unioned AS (
        SELECT user_id, scn, seq, CAST(amount AS BIGINT) AS amount,
               CAST(price AS DECIMAL(12,4)) AS price,
               CAST(NULL AS VARCHAR) AS note, __deleted
        FROM base
        UNION ALL
        SELECT user_id, scn, seq, amount, price, note, __deleted FROM delta
    ),
    state AS (
        SELECT * FROM (
            SELECT u.*, row_number() OVER (
                PARTITION BY user_id ORDER BY scn DESC, seq DESC) AS rn
            FROM unioned u
        ) WHERE rn = 1
    )
    SELECT user_id, amount, CAST(price AS VARCHAR) AS price, note
    FROM state WHERE NOT __deleted
    """,
)
def cdc_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 schema evolution, differentially checked (VERDICT r5 item 5):
    merge an old-schema state with a new-schema delta through the real
    ``_align_schemas``/``_wider_type`` path (cdc/materialize.py:123 —
    the engine's ``auto.evolve: true``, reference README.md:787).

    The delta exercises every evolution class at once: a NEW column
    (``note``, null-filled on the base side), an int→bigint WIDENING of
    ``amount``, and a decimal(10,2)→decimal(12,4) widening of ``price``
    (max integer digits + max scale). The oracle replays the merge as
    UNION-with-NULLs + casts + per-key argmax over (scn, seq) — so a
    silent coercion bug in the widening lattice hash-mismatches rather
    than slipping through the pytest-only net K5 had before."""
    ev = t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 2 == 0).select(
        "user_id",
        F.col("event_id").alias("scn"),
        F.lit(0).alias("seq"),
        F.floor("value").cast("int").alias("amount"),
        F.col("event_id").cast("decimal(10,2)").alias("price"),
        (F.col("event_type") == "error").alias("__deleted"),
    )
    delta = ev.filter(F.col("event_id") % 2 == 1).select(
        "user_id",
        F.col("event_id").alias("scn"),
        F.lit(0).alias("seq"),
        F.floor("value").alias("amount"),
        (
            F.col("event_id").cast("decimal(12,4)")
            + F.lit("0.1234").cast("decimal(12,4)")
        ).cast("decimal(12,4)").alias("price"),
        F.col("event_type").alias("note"),
        (F.col("event_type") == "error").alias("__deleted"),
    )
    merged = merge_into_state(base, delta, ("user_id",), ("scn", "seq"))
    out = publish(merged, "drop", ("scn", "seq"))
    return out.select(
        "user_id", "amount", F.col("price").cast("string").alias("price"), "note"
    )


def routing_row_schemas(spark: SparkSession, sf_dir: str):
    """The two captured tables' row-image StructTypes (USERS:
    user_id/event_type; ORDERS: user_id/floored value) — shared by the
    batch gate and the streaming soak test so both decode with
    identical envelope schemas."""
    ev = t(spark, sf_dir, "events")
    users = ev.select(
        F.col("user_id").cast("long").alias("user_id"), "event_type"
    )
    orders = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.floor("value").alias("fv"),
    )
    return users.schema, orders.schema


def routing_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interleaved two-table raw topic (one JSON envelope string
    per row, column ``value``) the P1 demux consumes: even event_ids
    are OLR_DB.USERS changes, odd are OLR_DB.ORDERS, each with its own
    image schema. Factored out of the batch gate so the streaming soak
    (tests/test_streaming_equivalence.py) can stage the SAME topic as
    files and drain it through materialize_stream_tables."""
    ev = t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )

    def envelope(tbl: str, image: F.Column) -> F.Column:
        return F.to_json(
            F.struct(
                F.col("event_id").alias("scn"),
                F.lit(1).alias("seq"),
                F.unix_micros(F.col("ts")).alias("tm"),
                F.concat(F.lit("tx-"), F.col("event_id")).alias("xid"),
                F.lit("ORCLPDB1").alias("db"),
                op.alias("op"),
                F.concat(F.lit("AAA"), F.col("event_id")).alias("rid"),
                F.lit("OLR_DB").alias("schema_owner"),
                F.lit(tbl).alias("schema_table"),
                F.when(op != "c", image).alias("before"),
                F.when(op != "d", image).alias("after"),
            )
        )

    users_image = F.struct(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("event_type"),
    )
    orders_image = F.struct(
        F.col("user_id").cast("long").alias("user_id"),
        F.floor("value").alias("fv"),
    )
    return (
        ev.filter(F.col("event_id") % 2 == 0)
        .select(envelope("USERS", users_image).alias("value"))
        .unionAll(
            ev.filter(F.col("event_id") % 2 == 1)
            .select(envelope("ORDERS", orders_image).alias("value"))
        )
    )


@register(
    "cdc_multi_table_routing",
    oracle="""
    WITH users_state AS (
        SELECT * FROM (
            SELECT e.*, row_number() OVER (
                PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events e WHERE event_id % 2 = 0
        ) WHERE rn = 1
    ),
    orders_state AS (
        SELECT * FROM (
            SELECT e.*, row_number() OVER (
                PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events e WHERE event_id % 2 = 1
        ) WHERE rn = 1
    )
    SELECT 'users' AS sink_table, user_id, event_type AS val
    FROM users_state WHERE event_type <> 'error'
    UNION ALL
    SELECT 'orders' AS sink_table, user_id,
           CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR) AS val
    FROM orders_state WHERE event_type <> 'error'
    """,
)
def cdc_multi_table_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table capture demux (SURVEY.md §2 P1, array form — VERDICT
    r5 item 1), batch-replayed so DuckDB can verify it: ONE interleaved
    raw changelog carries TWO tables with DIFFERENT image schemas
    (USERS: user_id/event_type; ORDERS: user_id/floored value), and
    each table is decoded with its OWN envelope schema
    (scripts/OpenLogReplicator.json:32-39 ``filter.table: [...]``),
    source-filtered, unwrapped, and LWW-materialized into its own
    state — the exact per-route flow of
    ``streaming.pipeline.materialize_stream_tables``. The output unions
    both sink tables with their origin name, Connect's
    ``table.name.format: ${topic}`` fan-out (README.md:791)."""
    raw = routing_changelog(spark, sf_dir)
    # ONE shared materialization of the encoded topic: both routes
    # re-scan `raw`, and without a lineage cut each route would re-run
    # the JSON encode (the streaming pipeline reads the topic once per
    # micro-batch for the same reason). Measured ~30% faster at sf0.1
    # (median 2.2s vs 3.0s) and cold-run 10.1s -> 2.3s.
    # r12 (stage receipt, SCALING_PROBE_r12 stage_probe_b): the
    # checkpointed topic inherited TWO partitions, so each route's
    # JSON decode — the gate's dominant map work — ran as a 1.6 s
    # 2-task stage. Widen the checkpoint itself to default parallelism
    # (the graph_triangle_count fix); decode is per-row, so a
    # round-robin spread is the right distribution and the LWW
    # re-shuffles on user_id downstream regardless.
    from olr_cdc_oracle_no_dbz_spark.checkpointing import truncate_lineage

    p = spark.sparkContext.defaultParallelism
    raw = truncate_lineage(raw.repartition(p), eager=False)
    users_schema, orders_schema = routing_row_schemas(spark, sf_dir)

    def route(tbl: str, row_schema) -> DataFrame:
        decoded = decode_events(raw, change_event_schema(row_schema))
        flat = unwrap(
            filter_source(decoded, "OLR_DB", tbl),
            mode="rewrite",
            meta_cols=("scn", "seq"),
        )
        state = latest_state(flat, ("user_id",), ("scn", "seq"))
        return state.filter(~F.col("__deleted"))

    users_live = route("USERS", users_schema)
    orders_live = route("ORDERS", orders_schema)
    return (
        users_live.select(
            F.lit("users").alias("sink_table"),
            "user_id",
            F.col("event_type").alias("val"),
        )
        .unionAll(
            orders_live.select(
                F.lit("orders").alias("sink_table"),
                "user_id",
                F.col("fv").cast("string").alias("val"),
            )
        )
    )


@register(
    "cdc_freshness_report",
    oracle="""
    WITH ev AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN 'users' ELSE 'orders' END
                   AS sink_table,
               event_id, ts
        FROM events
    ),
    g AS (SELECT MAX(ts) AS gmax FROM ev)
    SELECT sink_table,
           COUNT(*) AS n_events,
           MAX(event_id) AS max_scn,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_event_ts,
           (epoch_us((SELECT gmax FROM g)) - epoch_us(MAX(ts))) // 1000000
               AS lag_seconds
    FROM ev GROUP BY sink_table
    """,
)
def cdc_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring surface as a QUERY (ST7's batch-checkable face —
    previously pytest-only via ``progress_summary``): per sink table,
    the applied-event count, high-water SCN, last event time, and lag
    behind the freshest table — the numbers a Kafka-UI / Connect-REST
    operator dashboard shows (docker-compose-main.yml:204-235,
    README.md:863-868), over the same two-table demux convention as
    ``cdc_multi_table_routing``. The global freshness mark is a 1-row
    broadcast aggregate (never an unpartitioned window)."""
    ev = t(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 2 == 0, "users")
        .otherwise("orders")
        .alias("sink_table"),
        "event_id",
        "ts",
    )
    per_table = ev.groupBy("sink_table").agg(
        F.count("*").alias("n_events"),
        F.max("event_id").alias("max_scn"),
        F.max("ts").alias("_max_ts"),
    )
    gmax = ev.agg(F.max("ts").alias("_gmax"))
    return (
        per_table.crossJoin(F.broadcast(gmax))
        .select(
            "sink_table",
            "n_events",
            "max_scn",
            F.date_format("_max_ts", "yyyy-MM-dd HH:mm:ss").alias(
                "last_event_ts"
            ),
            # integer `div`, not double `/`: a float quotient can round
            # across an integer boundary before the cast truncates
            F.expr(
                "(unix_micros(_gmax) - unix_micros(_max_ts)) div 1000000"
            ).alias("lag_seconds"),
        )
    )


@register(
    "cdc_state_enriched",
    oracle=f"""
    WITH state AS ({_STATE_SQL}),
    live AS (SELECT * FROM state WHERE event_type <> 'error')
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS users,
           {sql_dsum('l.value')} AS total_value
    FROM live l JOIN customer c ON l.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def cdc_state_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: materialized current state joined to a dimension and
    aggregated — the reference's whole pipeline (capture → unwrap → LWW →
    sink join) as one declarative plan. The dimension join is broadcast
    (stream-table join J1); the only shuffles are the LWW key shuffle and
    the final small aggregation."""
    from olr_cdc_oracle_no_dbz_spark.workload.util import dsum

    live = _state(spark, sf_dir).filter(F.col("event_type") != "error")
    cust = t(spark, sf_dir, "customer")
    joined = live.join(
        F.broadcast(cust), live["user_id"] == cust["c_custkey"], "inner"
    )
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("users"),
        dsum("value").alias("total_value"),
    )


@register(
    "cdc_txn_summary",
    oracle="""
    WITH dml AS (
        SELECT 'u' || CAST(user_id AS VARCHAR) AS xid,
               CASE WHEN event_type = 'signup' THEN 'c'
                    WHEN event_type = 'error'  THEN 'd'
                    ELSE 'u' END AS op,
               event_id AS scn
        FROM events
    ),
    cm AS (
        SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS xid,
               'commit' AS op, 2000000 + user_id AS scn
        FROM events WHERE user_id % 2 = 0
    ),
    env AS (SELECT * FROM dml UNION ALL SELECT * FROM cm)
    SELECT xid,
           -- CAST: DuckDB SUM(int) is HUGEINT -> float64 under fetchdf();
           -- BIGINT survives pandas as int64, matching Spark's long.
           CAST(SUM(CASE WHEN op = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
           CAST(SUM(CASE WHEN op = 'u' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
           CAST(SUM(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
           MIN(scn) AS first_scn,
           MAX(scn) AS last_scn,
           MAX(CASE WHEN op = 'commit' THEN 1 ELSE 0 END) = 1 AS committed
    FROM env GROUP BY xid
    """,
)
def cdc_txn_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction grouping audit (SURVEY.md §2 A2 through the driver
    gate): events synthesized into per-user transactions (commit markers
    present for even user_ids only), summarized by the engine's
    ``transaction_summary`` — op counts, scn span, committed flag."""
    from olr_cdc_oracle_no_dbz_spark.cdc.transactions import (
        transaction_summary,
    )

    ev = t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    xid = F.concat(F.lit("u"), F.col("user_id").cast("string"))
    dml = ev.select(xid.alias("xid"), op.alias("op"),
                    F.col("event_id").cast("long").alias("scn"))
    commits = (
        ev.filter(F.col("user_id") % 2 == 0)
        .select(
            xid.alias("xid"),
            F.lit("commit").alias("op"),
            (F.col("user_id").cast("long") + 2_000_000).alias("scn"),
        )
        .distinct()
    )
    # cast count sums to long-compatible ints on both engines
    out = transaction_summary(dml.unionByName(commits))
    return out.select(
        "xid",
        F.col("n_inserts").cast("long").alias("n_inserts"),
        F.col("n_updates").cast("long").alias("n_updates"),
        F.col("n_deletes").cast("long").alias("n_deletes"),
        "first_scn",
        "last_scn",
        "committed",
    )


_ASOF_CUTOFF = "2024-01-15 00:00:00"

_STATE_ASOF_SQL = f"""
    SELECT * FROM (
        SELECT e.*, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS __rn
        FROM events e
        WHERE ts <= TIMESTAMP '{_ASOF_CUTOFF}'
    ) WHERE __rn = 1
"""


@register(
    "cdc_state_asof",
    oracle=f"""
    WITH state AS ({_STATE_ASOF_SQL})
    SELECT user_id,
           event_type AS last_event_type,
           value      AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM state WHERE event_type <> 'error'
    """,
)
def cdc_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) materialization: the current-state
    table AS OF a cutoff — replay the changelog but apply only events
    at or before the cutoff, then LWW + delete-drop as usual. This is
    the reference's 'what did `products` look like last Tuesday'
    question, answered from the retained changelog rather than a stored
    snapshot (the changelog IS the time-travel log).

    Scale design: the cutoff is a plain predicate that reaches the
    parquet scan (min/max row-group pruning skips everything after the
    cutoff when the log is written in arrival order — which append-only
    changelogs are), then the identical single-shuffle LWW as
    cdc_current_state."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit(_ASOF_CUTOFF).cast("timestamp")
    )
    live = latest_state(ev, KEY, ORDER).filter(F.col("event_type") != "error")
    return live.select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@register(
    "cdc_scd2_history",
    oracle="""
    SELECT user_id,
           event_type,
           value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS valid_to,
           (lead(ts) OVER w IS NULL AND event_type <> 'error') AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 from the changelog: instead of
    LWW-collapsing to current state (cdc_current_state), every change
    event becomes a VERSION row with a [valid_from, valid_to) interval
    — valid_to is the next change's timestamp for the same key, open
    (NULL) on the live version. A delete closes the interval chain: the
    tombstone's own row carries is_current=false, so 'current' means
    last version AND not deleted. This is the standard warehouse answer
    to 'what was this row worth at time T' — the interval form of the
    cdc_state_asof point query.

    Scale design: one shuffle on the key, then lead() inside each key
    partition — identical exchange shape to the LWW materialization, so
    the history table costs the same shuffle as the state table it
    generalizes. Version rows append in SCN order at write time, so at
    100 TB the output partitions naturally by valid_from for row-group
    pruning on time-travel predicates."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss").alias(
            "valid_to"
        ),
        (nxt.isNull() & (F.col("event_type") != "error")).alias("is_current"),
    )


@register(
    "cdc_purge_keys",
    oracle=f"""
    WITH purge AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
    ),
    state AS ({_STATE_SQL})
    SELECT s.user_id,
           s.event_type AS last_event_type,
           s.value      AS last_value
    FROM state s
    WHERE s.event_type <> 'error'
      AND s.user_id NOT IN (SELECT user_id FROM purge)
    """,
)
def cdc_purge_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge: given a table of erasure requests
    (here a deterministic synthetic list — every 97th user), remove
    those keys from the materialized state with a LEFT ANTI join. The
    request list is a real relation, not a filter literal, because in
    production it arrives as a table you cannot inline into a
    predicate. Complements K3 delete propagation: deletes flow from the
    SOURCE through the changelog, purges are imposed from OUTSIDE on
    everything retained.

    Scale design: the erasure list is normally tiny relative to state,
    so the anti join broadcasts it — zero extra shuffle on the state
    side, and the same broadcast prunes the 100 TB changelog retention
    rewrite (the other half of a real purge) file-by-file. r13: the
    hint is SIZE-GATED (graph.size_gated_broadcast) — an erasure list
    is an external relation with no size contract (a regulator-ordered
    bulk purge is O(users)), so past the gate the hint drops to a
    plain key shuffle join instead of force-collecting. Keys absent
    from state are a no-op, matching erasure-request semantics.

    r14 (ADVICE r13): the gate bound is the JOBLESS parquet-footer row
    count of events — a structural upper bound on the distinct-user
    erasure list — so building this query runs no Spark job (the r13
    shape counted the list at construction, which executed a real
    corpus job in every plan-only sweep). Under the bound ⟹ the list
    is under it too ⟹ broadcast safe; at 100× the bound crosses the
    gate and the anti join degrades to a key shuffle (where AQE still
    broadcast-converts at runtime if the materialized list is tiny)."""
    from olr_cdc_oracle_no_dbz_spark.catalog import parquet_num_rows
    from olr_cdc_oracle_no_dbz_spark.graph import size_gated_broadcast

    ev = t(spark, sf_dir, "events")
    purge = (
        ev.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    )
    purge_bound = parquet_num_rows(sf_dir, "events")
    live = latest_state(ev, KEY, ORDER).filter(F.col("event_type") != "error")
    return (
        live.join(
            size_gated_broadcast(purge, n_rows=purge_bound),
            "user_id",
            "left_anti",
        )
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "cdc_table_checksum",
    oracle="""
    WITH o_rows AS (
        SELECT md5(concat_ws('|',
                   CAST(o_orderkey AS VARCHAR),
                   CAST(o_custkey AS VARCHAR),
                   o_orderstatus,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                   o_orderpriority)) AS h
        FROM orders
    ),
    c_rows AS (
        SELECT md5(concat_ws('|',
                   CAST(c_custkey AS VARCHAR),
                   c_name,
                   CAST(c_nationkey AS VARCHAR),
                   CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR),
                   c_mktsegment)) AS h
        FROM customer
    ),
    both_t AS (
        SELECT 'orders' AS table_name, h FROM o_rows
        UNION ALL
        SELECT 'customer' AS table_name, h FROM c_rows
    )
    SELECT table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substr(h, 1, 13))::BIGINT AS DECIMAL(38,0)))
                AS VARCHAR) AS checksum,
           MIN(h) AS min_hash,
           MAX(h) AS max_hash
    FROM both_t GROUP BY table_name
    """,
)
def cdc_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint — the anti-entropy check a
    CDC deployment runs to prove sink == source without moving either
    table (the reference's only verification surface is per-connector
    row counters, README.md metrics section; a content checksum
    catches what counters can't: same count, different rows). Each row
    is canonicalized to a '|'-joined string — decimals at fixed scale
    and timestamps via explicit format, the repo's cross-engine
    emission contract — hashed with md5, and the per-table digest is
    the SUM of each hash's 52-bit prefix. Summation commutes, so the
    digest is independent of row order AND of partitioning; DECIMAL(38)
    keeps it exact far past 100 TB row counts (~1e15 rows x 2^52 fits).
    Emitted as a string so both engines agree bit-for-bit.

    Scale: embarrassingly parallel — a zero-shuffle projection per
    table, one partial-agg reduce to a single row per table. Comparing
    source and sink digests is then an O(1) exchange. min/max hash
    witnesses give a cheap first-divergence probe (binary-search by
    hash range re-using the same query with a WHERE on h)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    o_h = o.select(
        F.lit("orders").alias("table_name"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
                F.col("o_orderpriority"),
            ).cast("binary")
        ).alias("h"),
    )
    c_h = c.select(
        F.lit("customer").alias("table_name"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("c_custkey").cast("string"),
                F.col("c_name"),
                F.col("c_nationkey").cast("string"),
                F.col("c_acctbal").cast("decimal(18,2)").cast("string"),
                F.col("c_mktsegment"),
            ).cast("binary")
        ).alias("h"),
    )
    return (
        o_h.unionAll(c_h)
        .groupBy("table_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.conv(F.substring("h", 1, 13), 16, 10)
                .cast("long")
                .cast("decimal(38,0)")
            )
            .cast("string")
            .alias("checksum"),
            F.min("h").alias("min_hash"),
            F.max("h").alias("max_hash"),
        )
    )


@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH snap_a AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
    ),
    snap_b AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 13 = 0
                    THEN o_totalprice + 10.0 ELSE o_totalprice END
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice
        FROM orders WHERE o_orderkey % 101 = 0
    ),
    classified AS (
        SELECT CASE
                 WHEN a.o_orderkey IS NULL THEN 'added'
                 WHEN b.o_orderkey IS NULL THEN 'removed'
                 WHEN a.o_custkey <> b.o_custkey
                   OR a.o_orderstatus <> b.o_orderstatus
                   OR a.o_totalprice <> b.o_totalprice THEN 'changed'
                 ELSE 'unchanged'
               END AS change_type
        FROM snap_a a FULL OUTER JOIN snap_b b
          ON b.o_orderkey = a.o_orderkey
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM classified GROUP BY change_type
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot differencing — the reconciliation a CDC deployment runs
    when the changelog is suspect (gap, replay, resnapshot decision):
    full outer join of two table versions on the key, rows classified
    added / removed / changed / unchanged. Snapshot B is derived from A
    by deterministic arithmetic (drops, mutations, inserts) so the
    expected counts are checkable; in production B is yesterday's
    materialization (cdc/materialize.py) or the source via JDBC.
    cdc_table_checksum answers "are they equal" in O(1) exchange; this
    answers "what exactly differs" — run the checksum first, diff only
    on mismatch.

    Scale: one co-partitioned shuffle on the key for the outer join
    (both sides hash-partition; with the bucketed state layout of
    streaming/state.py the shuffle disappears — see test_scale.py's
    zero-Exchange bucketed join); classification is a codegen
    projection; the report aggregate is |change types| rows. Column
    comparison is explicit per column here; for wide tables compare the
    canonicalized row hash (cdc_table_checksum's md5 contract) and pay
    one string build instead of N comparisons."""
    o = t(spark, sf_dir, "orders")
    snap_a = o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    snap_b = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 10.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionAll(
            o.filter(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_custkey",
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    a, b = snap_a.alias("a"), snap_b.alias("b")
    j = a.join(b, F.col("b.o_orderkey") == F.col("a.o_orderkey"), "full_outer")
    change_type = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(
            (F.col("a.o_custkey") != F.col("b.o_custkey"))
            | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
            | (F.col("a.o_totalprice") != F.col("b.o_totalprice")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        j.select(change_type.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count("*").alias("n"))
    )


@register(
    "cdc_table_checksum_ranged",
    oracle="""
    WITH o_rows AS (
        SELECT md5(concat_ws('|',
                   CAST(o_orderkey AS VARCHAR),
                   CAST(o_custkey AS VARCHAR),
                   o_orderstatus,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                   o_orderpriority)) AS h
        FROM orders
    )
    SELECT substr(h, 1, 1) AS hash_range,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substr(h, 1, 13))::BIGINT AS DECIMAL(38,0)))
                AS VARCHAR) AS checksum
    FROM o_rows GROUP BY substr(h, 1, 1)
    """,
)
def cdc_table_checksum_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The divergence-localization probe behind cdc_table_checksum: the
    same order-independent digest, split into 16 hash ranges (first hex
    nibble). When the whole-table digests disagree, source and sink run
    THIS query and compare 16 rows to localize the divergence to a
    1/16th slice; recursing on longer prefixes binary-searches down to
    the offending rows in O(log N) round trips of O(ranges) bytes each
    — the Merkle-tree sweep DBAs run instead of shipping either table.

    Scale: identical to the parent — zero-shuffle projection, one
    partial-agg reduce; the hash-prefix group key is uniform by
    construction (md5), so no range can skew."""
    o = t(spark, sf_dir, "orders")
    h = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
            F.col("o_orderpriority"),
        ).cast("binary")
    )
    return (
        o.select(h.alias("h"))
        .groupBy(F.substring("h", 1, 1).alias("hash_range"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.conv(F.substring("h", 1, 13), 16, 10)
                .cast("long")
                .cast("decimal(38,0)")
            )
            .cast("string")
            .alias("checksum"),
        )
    )


@register(
    "cdc_join_view_maintenance",
    oracle=f"""
    SELECT o.o_custkey AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_dsum("l.l_extendedprice")} AS total_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
    """,
)
def cdc_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the continuously-
    maintained joined table at the heart of the reference's query path
    (a ksqlDB table-table join, SURVEY §2.5 J3), proven by the delta
    algebra instead of recomputation: for the view V = γ(O ⋈ L),
    splitting both bases into (base, delta) halves gives

        Δ(O ⋈ L) = ΔO⋈L_b  ∪  O_b⋈ΔL  ∪  ΔO⋈ΔL

    so the refreshed view is merge(partial(O_b⋈L_b), partial(Δ-terms)).
    This query computes the view THAT WAY — base-join partials merged
    with the three delta-join partials — while the oracle computes the
    direct full join-aggregate; the differential gate certifies
    incremental == recompute bit-for-bit (decimal partial states, the
    agg_incremental_merge contract extended across a join).

    Scale design: at 100 TB the base⋈base term is the stored view (read
    back, |groups| rows — never re-joined); refresh cost is the three
    delta joins, each bounded by |Δ| on one side. Here all four terms
    are computed live (no stored state in a gate query), but each is
    the partial-aggregation shape Spark would persist: one shuffle per
    term on the join key, merge shuffle on |groups|."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    # deterministic base/delta split on the ORDER key — both relations
    # split consistently, so every join pair lands in exactly one term
    is_delta_o = (F.col("o_orderkey") % 5) == 0
    is_delta_l = (F.col("l_orderkey") % 7) == 0
    o_b, o_d = o.filter(~is_delta_o), o.filter(is_delta_o)
    l_b, l_d = li.filter(~is_delta_l), li.filter(is_delta_l)

    def partial(odf: DataFrame, ldf: DataFrame) -> DataFrame:
        return (
            odf.join(ldf, odf["o_orderkey"] == ldf["l_orderkey"])
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(
                F.count("*").alias("n_lines"),
                F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).alias(
                    "s_price"
                ),
            )
        )

    merged = (
        partial(o_b, l_b)
        .unionAll(partial(o_d, l_b))
        .unionAll(partial(o_b, l_d))
        .unionAll(partial(o_d, l_d))
        .groupBy("custkey")
        .agg(
            F.sum("n_lines").alias("n_lines"),
            F.sum("s_price").cast("double").alias("total_price"),
        )
    )
    return merged


@register(
    "data_quality_checks",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           CAST((SELECT COUNT(*) FROM (
               SELECT o_orderkey FROM orders
               GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
               AS n_violations,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_checked
    UNION ALL
    SELECT 'orders_fk_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_quantity IS NULL OR l_quantity < 0
                    OR l_quantity > 1000) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'events_value_nonnull',
           CAST((SELECT COUNT(*) FROM events WHERE value IS NULL) AS BIGINT),
           CAST((SELECT COUNT(*) FROM events) AS BIGINT)
    """,
)
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation audit (the Deequ-style expectations gate a
    pipeline runs before publishing a table): primary-key uniqueness,
    two referential-integrity checks, a domain-range check, and a
    not-null check, each reported as (check, violations, rows checked).
    The CDC angle: after materializing change streams into tables,
    these are exactly the invariants the sink must uphold (PK unique ⇔
    LWW collapsed correctly; FK present ⇔ parent/child topics applied
    consistently).

    Scale design: each check is one aggregate or one left-anti-shaped
    count — no row-level violation lists in the gate output (bounded
    result regardless of violation count); FK checks are anti-joins
    that broadcast the smaller parent key set. The five rows union
    after aggregation, so the plan is five independent bounded jobs."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    c = t(spark, sf_dir, "customer")
    ev = t(spark, sf_dir, "events")

    def row(name: str, viol: DataFrame, checked: DataFrame) -> DataFrame:
        return viol.crossJoin(checked).select(
            F.lit(name).alias("check_name"),
            F.col("v").cast("bigint").alias("n_violations"),
            F.col("n").cast("bigint").alias("n_checked"),
        )

    pk_dups = (
        o.groupBy("o_orderkey")
        .agg(F.count("*").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count("*").alias("v"))
    )
    fk_o = (
        o.join(c.select("c_custkey"), o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count("*").alias("v"))
    )
    fk_l = (
        li.join(
            o.select("o_orderkey").distinct(),
            li["l_orderkey"] == o["o_orderkey"],
            "left_anti",
        ).agg(F.count("*").alias("v"))
    )
    rng = li.filter(
        F.col("l_quantity").isNull()
        | (F.col("l_quantity") < 0)
        | (F.col("l_quantity") > 1000)
    ).agg(F.count("*").alias("v"))
    nn = ev.filter(F.col("value").isNull()).agg(F.count("*").alias("v"))
    n_o = o.agg(F.count("*").alias("n"))
    n_l = li.agg(F.count("*").alias("n"))
    n_e = ev.agg(F.count("*").alias("n"))
    return (
        row("orders_pk_unique", pk_dups, n_o)
        .unionAll(row("orders_fk_customer", fk_o, n_o))
        .unionAll(row("lineitem_fk_orders", fk_l, n_l))
        .unionAll(row("lineitem_qty_range", rng, n_l))
        .unionAll(row("events_value_nonnull", nn, n_e))
    )


@register(
    "cdc_column_change_report",
    oracle="""
    WITH trans AS (
        SELECT user_id,
               event_type, value, props,
               lag(event_type) OVER w AS p_type,
               lag(value)      OVER w AS p_value,
               lag(props)      OVER w AS p_props
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    diffs AS (
        SELECT CAST(SUM(CASE WHEN event_type IS DISTINCT FROM p_type
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_type,
               CAST(SUM(CASE WHEN value IS DISTINCT FROM p_value
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_value,
               CAST(SUM(CASE WHEN props IS DISTINCT FROM p_props
                             THEN 1 ELSE 0 END) AS BIGINT) AS c_props,
               CAST(COUNT(*) AS BIGINT) AS n_trans
        FROM trans WHERE p_type IS NOT NULL OR p_value IS NOT NULL
                      OR p_props IS NOT NULL
    )
    SELECT col_name, n_changed, n_transitions,
           CAST(CAST(n_changed AS DECIMAL(18,6))
                / n_transitions AS DECIMAL(9,6))::VARCHAR AS change_ratio
    FROM (
        SELECT 'event_type' AS col_name, c_type AS n_changed,
               n_trans AS n_transitions FROM diffs
        UNION ALL
        SELECT 'value', c_value, n_trans FROM diffs
        UNION ALL
        SELECT 'props', c_props, n_trans FROM diffs
    )
    """,
)
def cdc_column_change_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level change-frequency report over the changelog — the
    observability face of the reference's full before/after images
    (``column: 2`` captures every column's before image on updates,
    scripts/OpenLogReplicator.json:16; supplemental logging ALL COLUMNS
    set-up-orl.sql:216). For each consecutive pair of events per key
    (the update's before→after transition), count which "columns"
    actually changed — what a schema-drift / hot-column dashboard
    shows, and the input to deciding column-level capture filters.

    Plan shape: one per-key window (the same single shuffle as the LWW
    materialization) computes previous-row images via ``lag``; the
    per-column IS DISTINCT FROM flags reduce in one partial agg to a
    single row, then unpivot to one row per column — output is
    column-count-bounded, never row-bounded."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        "event_type",
        "value",
        "props",
        F.lag("event_type").over(w).alias("p_type"),
        F.lag("value").over(w).alias("p_value"),
        F.lag("props").over(w).alias("p_props"),
    ).filter(
        F.col("p_type").isNotNull()
        | F.col("p_value").isNotNull()
        | F.col("p_props").isNotNull()
    )
    changed = lambda a, b: F.sum(  # noqa: E731
        F.when(~F.col(a).eqNullSafe(F.col(b)), 1).otherwise(0)
    )
    diffs = trans.agg(
        changed("event_type", "p_type").alias("c_type"),
        changed("value", "p_value").alias("c_value"),
        changed("props", "p_props").alias("c_props"),
        F.count("*").alias("n_trans"),
    )
    unpivoted = diffs.selectExpr(
        "stack(3, 'event_type', c_type, 'value', c_value,"
        " 'props', c_props) AS (col_name, n_changed)",
        "n_trans AS n_transitions",
    )
    ratio = (
        F.col("n_changed").cast("decimal(18,6)") / F.col("n_transitions")
    ).cast("decimal(9,6)")
    return unpivoted.select(
        "col_name",
        "n_changed",
        "n_transitions",
        ratio.cast("string").alias("change_ratio"),
    )


@register(
    "cdc_key_lifecycle_report",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS p_type
        FROM events
    ),
    per_key AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_inserts,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_deletes,
               CAST(SUM(CASE WHEN event_type NOT IN ('signup', 'error')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
               CAST(SUM(CASE WHEN p_type = 'error'
                                  AND event_type <> 'error'
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_resurrections
        FROM seq GROUP BY user_id
    )
    SELECT CASE
             WHEN n_deletes = 0 THEN 'never_deleted'
             WHEN n_resurrections > 0 THEN 'resurrected'
             ELSE 'deleted'
           END AS lifecycle,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n_inserts) AS BIGINT) AS inserts,
           CAST(SUM(n_updates) AS BIGINT) AS updates,
           CAST(SUM(n_deletes) AS BIGINT) AS deletes,
           CAST(SUM(n_resurrections) AS BIGINT) AS resurrections
    FROM per_key GROUP BY 1
    """,
)
def cdc_key_lifecycle_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-lifecycle audit over the changelog: per key, count inserts /
    updates / deletes (the FIXTURES.md op mapping: signup=c, error=d,
    rest=u) and RESURRECTIONS — a non-delete op arriving after a delete
    for the same key, the pattern that breaks naive
    drop-on-delete sinks and motivates the reference's tombstone +
    rewrite modes (README.md:793-795). Rolled up into lifecycle
    cohorts, so the output is cohort-bounded.

    Plan shape: the same single per-key window shuffle as the LWW
    materialization (lag detects delete→live transitions), one per-key
    partial agg, one cohort-bounded final agg — linear, no self-join."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("p_type"),
    )
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    per_key = seq.groupBy("user_id").agg(
        flag(F.col("event_type") == "signup").alias("n_inserts"),
        flag(F.col("event_type") == "error").alias("n_deletes"),
        flag(~F.col("event_type").isin("signup", "error")).alias(
            "n_updates"
        ),
        flag(
            (F.col("p_type") == "error") & (F.col("event_type") != "error")
        ).alias("n_resurrections"),
    )
    lifecycle = (
        F.when(F.col("n_deletes") == 0, "never_deleted")
        .when(F.col("n_resurrections") > 0, "resurrected")
        .otherwise("deleted")
    )
    return per_key.groupBy(lifecycle.alias("lifecycle")).agg(
        F.count("*").alias("n_keys"),
        F.sum("n_inserts").alias("inserts"),
        F.sum("n_updates").alias("updates"),
        F.sum("n_deletes").alias("deletes"),
        F.sum("n_resurrections").alias("resurrections"),
    )


# -- P5 interval decode gate -------------------------------------------------

# the wire regexes, shared with cdc/intervals.py by import at query build
# time; inlined here for the oracle (same pattern text, DuckDB RE2 and
# Java regex agree on this subset)
_DTS_RE_SQL = r"^(-?)(\d+) (\d+):(\d+):(\d+)(?:\.(\d{1,9}))?$"
_YTM_RE_SQL = r"^(-?)(\d+)-(\d+)$"


def _sql_dts_total(wire: str) -> str:
    """DuckDB: signed total microseconds of a DTS wire string, NULL when
    malformed — integer string-math that independently re-derives what
    decode_dts computes through Spark's real interval type."""
    g = lambda i: f"regexp_extract({wire}, '{_DTS_RE_SQL}', {i})"  # noqa: E731
    return f"""
        CASE WHEN regexp_matches({wire}, '{_DTS_RE_SQL}') THEN
            (CASE WHEN {g(1)} = '-' THEN -1 ELSE 1 END) *
            ((((CAST({g(2)} AS BIGINT) * 24
                + CAST({g(3)} AS BIGINT)) * 60
                + CAST({g(4)} AS BIGINT)) * 60
                + CAST({g(5)} AS BIGINT)) * 1000000
             + CAST(rpad({g(6)}, 6, '0') AS BIGINT))
        ELSE NULL END"""


def _sql_ytm_total(wire: str) -> str:
    g = lambda i: f"regexp_extract({wire}, '{_YTM_RE_SQL}', {i})"  # noqa: E731
    return f"""
        CASE WHEN regexp_matches({wire}, '{_YTM_RE_SQL}') THEN
            (CASE WHEN {g(1)} = '-' THEN -1 ELSE 1 END) *
            (CAST({g(2)} AS BIGINT) * 12 + CAST({g(3)} AS BIGINT))
        ELSE NULL END"""


def _sql_dts_iso(total: str) -> str:
    """Render signed total microseconds as ISO-8601 P{d}DT{h}H{m}M{ss.ffffff}S."""
    a = f"abs({total})"
    return f"""
        CASE WHEN {total} IS NULL THEN NULL ELSE
            concat(CASE WHEN {total} < 0 THEN '-' ELSE '' END, 'P',
                   CAST({a} // 86400000000 AS VARCHAR), 'DT',
                   CAST(({a} % 86400000000) // 3600000000 AS VARCHAR), 'H',
                   CAST(({a} % 3600000000) // 60000000 AS VARCHAR), 'M',
                   lpad(CAST(({a} % 60000000) // 1000000 AS VARCHAR), 2, '0'),
                   '.', lpad(CAST({a} % 1000000 AS VARCHAR), 6, '0'), 'S')
        END"""


def _sql_ytm_iso(total: str) -> str:
    a = f"abs({total})"
    return f"""
        CASE WHEN {total} IS NULL THEN NULL ELSE
            concat(CASE WHEN {total} < 0 THEN '-' ELSE '' END, 'P',
                   CAST({a} // 12 AS VARCHAR), 'Y',
                   CAST({a} % 12 AS VARCHAR), 'M')
        END"""


@register(
    "cdc_interval_decode",
    oracle=f"""
    WITH w AS (
        SELECT event_id,
            CASE WHEN event_id % 11 = 0 THEN 'not-an-interval' ELSE
                concat(CASE WHEN event_id % 7 = 0 THEN '-' ELSE '' END,
                       CAST(event_id % 4 AS VARCHAR), ' ',
                       lpad(CAST(event_id % 30 AS VARCHAR), 2, '0'), ':',
                       lpad(CAST(event_id % 60 AS VARCHAR), 2, '0'), ':',
                       lpad(CAST(event_id % 60 AS VARCHAR), 2, '0'), '.',
                       CAST(event_id % 997 AS VARCHAR))
            END AS dts_wire,
            CASE WHEN event_id % 13 = 0 THEN 'bogus' ELSE
                concat(CASE WHEN event_id % 7 = 0 THEN '-' ELSE '' END,
                       CAST(event_id % 5 AS VARCHAR), '-',
                       CAST(event_id % 18 AS VARCHAR))
            END AS ytm_wire,
            (event_id * 1234567) % 200000000000 - 100000000000 AS micros_val,
            (event_id % 500) - 250 AS months_val
        FROM events
    ),
    totals AS (
        SELECT event_id,
            {_sql_dts_total("dts_wire")} AS dts_t,
            {_sql_ytm_total("ytm_wire")} AS ytm_t,
            micros_val AS dts_us_t,
            months_val AS ytm_mo_t
        FROM w
    )
    SELECT event_id,
        {_sql_dts_iso("dts_t")} AS dts_iso,
        {_sql_ytm_iso("ytm_t")} AS ytm_iso,
        {_sql_dts_iso("dts_us_t")} AS dts_us_iso,
        {_sql_ytm_iso("ytm_mo_t")} AS ytm_mo_iso
    FROM totals
    """,
)
def cdc_interval_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 interval decode, DuckDB-gated at last (VERDICT r6 item 4):
    deterministic INTERVAL DAY TO SECOND / YEAR TO MONTH wire values
    (both string and numeric OLR encodings, interval-dts:9 /
    interval-ytm:4, scripts/OpenLogReplicator.json:18-19) are decoded
    through Spark's REAL ANSI interval types (cdc/intervals.py
    decode_dts/decode_ytm — make_dt_interval/make_ym_interval, the
    same code the envelope path uses) and rendered back as ISO-8601
    strings via EXTRACT over the typed interval. The oracle re-derives
    the rendering with independent integer string-math, so the decode
    (sign, fraction right-padding, >23h / >11mo carry normalization,
    malformed→NULL) is differentially checked without the
    DayTimeIntervalType↔parquet interop risk SURVEY §7 flags.

    Scale: pure per-row projection, zero shuffles — the whole query is
    one codegen'd map over the scan."""
    from olr_cdc_oracle_no_dbz_spark.cdc.intervals import decode_dts, decode_ytm

    eid = F.col("event_id")
    sign = F.when(eid % 7 == 0, F.lit("-")).otherwise(F.lit(""))
    dts_wire = F.when(eid % 11 == 0, F.lit("not-an-interval")).otherwise(
        F.concat(
            sign,
            (eid % 4).cast("string"),
            F.lit(" "),
            F.lpad((eid % 30).cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad((eid % 60).cast("string"), 2, "0"),
            F.lit(":"),
            F.lpad((eid % 60).cast("string"), 2, "0"),
            F.lit("."),
            (eid % 997).cast("string"),
        )
    )
    ytm_wire = F.when(eid % 13 == 0, F.lit("bogus")).otherwise(
        F.concat(
            sign,
            (eid % 5).cast("string"),
            F.lit("-"),
            (eid % 18).cast("string"),
        )
    )
    micros_val = (eid * 1234567) % 200000000000 - 100000000000
    months_val = (eid % 500) - 250
    # _spread (r11): the events parquet is a single row group — one
    # scan partition — and this gate is a pure per-row projection with
    # a heavy expression tree (4 interval decodes + 4 ISO renders), so
    # without the repartition the whole query serializes in one task
    # (measured 4.1 s warm → ~1.3 s)
    from olr_cdc_oracle_no_dbz_spark.workload.ext_queries import _spread

    base = _spread(t(spark, sf_dir, "events"), "event_id").select(
        "event_id",
        decode_dts(dts_wire).alias("dts"),
        decode_ytm(ytm_wire).alias("ytm"),
        decode_dts(micros_val, encoding="micros").alias("dts_us"),
        decode_ytm(months_val, encoding="months").alias("ytm_mo"),
    )

    # magnitude columns first (extract needs named columns), then render
    for name in ("dts", "dts_us"):
        base = base.withColumn(
            f"{name}_neg", F.expr(f"{name} < INTERVAL '0' SECOND")
        ).withColumn(
            f"{name}_abs",
            F.when(F.col(f"{name}_neg"), F.expr(f"{name} * -1")).otherwise(
                F.col(name)
            ),
        )
    for name in ("ytm", "ytm_mo"):
        base = base.withColumn(
            f"{name}_neg", F.expr(f"{name} < INTERVAL '0' MONTH")
        ).withColumn(
            f"{name}_abs",
            F.when(F.col(f"{name}_neg"), F.expr(f"{name} * -1")).otherwise(
                F.col(name)
            ),
        )

    def render_dts(name: str) -> F.Column:
        sec = F.expr(f"extract(SECOND FROM {name}_abs)")
        s_int = sec.cast("int")
        us = ((sec - s_int.cast("decimal(8,6)")) * 1000000).cast("long")
        iso = F.concat(
            F.when(F.col(f"{name}_neg"), F.lit("-")).otherwise(F.lit("")),
            F.lit("P"),
            F.expr(f"extract(DAY FROM {name}_abs)").cast("string"),
            F.lit("DT"),
            F.expr(f"extract(HOUR FROM {name}_abs)").cast("string"),
            F.lit("H"),
            F.expr(f"extract(MINUTE FROM {name}_abs)").cast("string"),
            F.lit("M"),
            F.lpad(s_int.cast("string"), 2, "0"),
            F.lit("."),
            F.lpad(us.cast("string"), 6, "0"),
            F.lit("S"),
        )
        return F.when(F.col(name).isNull(), F.lit(None).cast("string")).otherwise(iso)

    def render_ytm(name: str) -> F.Column:
        iso = F.concat(
            F.when(F.col(f"{name}_neg"), F.lit("-")).otherwise(F.lit("")),
            F.lit("P"),
            F.expr(f"extract(YEAR FROM {name}_abs)").cast("string"),
            F.lit("Y"),
            F.expr(f"extract(MONTH FROM {name}_abs)").cast("string"),
            F.lit("M"),
        )
        return F.when(F.col(name).isNull(), F.lit(None).cast("string")).otherwise(iso)

    return base.select(
        "event_id",
        render_dts("dts").alias("dts_iso"),
        render_ytm("ytm").alias("ytm_iso"),
        render_dts("dts_us").alias("dts_us_iso"),
        render_ytm("ytm_mo").alias("ytm_mo_iso"),
    )
