"""Streaming-equivalence receipts for the windowed aggs (VERDICT r5
item 7): the A5/A6/A7 gate queries run as BATCH for the DuckDB
differential check; these fixtures run the SAME windowed aggregations
through ``readStream`` + ``availableNow`` + watermark + append-mode
file sink and assert result-set equality with the batch gate query on
the same data — so the batch gates provably describe what the
streaming engine emits.

Mechanics: append-mode windowed aggregation only emits a window once
the watermark passes its end, and with ``availableNow`` the watermark
computed from the final batch is not applied until a NEXT batch runs.
So each test drains the real data, then appends a far-future sentinel
event (10 h past max ts) in a second ``availableNow`` run over the same
checkpoint — restart continuity (ST2) and late-data flush (A8) in one
motion. Sentinel rows are excluded from both sides of the comparison;
the sentinel's own window stays in state (the watermark never passes
it), which is exactly the streaming contract.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.catalog import load_table
from olr_cdc_oracle_no_dbz_spark.streaming.windowed import (
    hopping_agg,
    session_agg,
    tumbling_agg,
)
from olr_cdc_oracle_no_dbz_spark.workload import queries
from olr_cdc_oracle_no_dbz_spark.workload.util import dsum

SF_DIR = "/root/testdata/sf0.001"
_FMT = "yyyy-MM-dd HH:mm:ss"
_SENTINEL_TYPE = "zzz_watermark_flush"


def _stage_source(spark, tmp_path):
    """Materialize the normalized events table as a streaming source dir
    and return (schema, src_dir, max_ts)."""
    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    ev.write.parquet(src)
    max_ts = ev.agg(F.max("ts")).first()[0]
    return ev.schema, src, max_ts


def _write_sentinel(spark, schema, src_dir, max_ts):
    sent = spark.createDataFrame(
        [(-1, max_ts, -1, _SENTINEL_TYPE, 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    ).withColumn("ts", F.col("ts") + F.expr("interval 10 hours"))
    sent.write.mode("append").parquet(src_dir)


def _drain(spark, schema, src_dir, out_dir, ckpt, build):
    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = (
        build(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _streaming_result(spark, tmp_path, build):
    """Two-phase drain: real data, then the sentinel flush batch."""
    schema, src, max_ts = _stage_source(spark, tmp_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _drain(spark, schema, src, out, ckpt, build)
    _write_sentinel(spark, schema, src, max_ts)
    _drain(spark, schema, src, out, ckpt, build)
    return spark.read.parquet(out)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_streaming_matches_batch_gate(spark, tmp_path):
    def build(stream):
        return (
            tumbling_agg(
                stream,
                "ts",
                "1 hour",
                watermark="1 second",
                keys=("event_type",),
                aggs=(
                    F.count("*").alias("cnt"),
                    dsum("value").alias("sum_value"),
                ),
            )
            .select(
                F.date_format("window_start", _FMT).alias("window_start"),
                "event_type",
                "cnt",
                "sum_value",
            )
        )

    got = _streaming_result(spark, tmp_path, build).filter(
        F.col("event_type") != _SENTINEL_TYPE
    )
    want = queries()["window_tumbling"](spark, SF_DIR)
    cols = ["window_start", "event_type", "cnt", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_hopping_streaming_matches_batch_gate(spark, tmp_path):
    # no sentinel filter needed: the sentinel's own hopping windows sit
    # 10 h past the real data and are never emitted (the watermark never
    # passes them) — filtering it BEFORE the agg would also hide its ts
    # from the watermark and defeat the flush
    def build(stream):
        return (
            hopping_agg(
                stream,
                "ts",
                "1 hour",
                "30 minutes",
                watermark="1 second",
                aggs=(
                    F.count("*").alias("cnt"),
                    dsum("value").alias("sum_value"),
                ),
            )
            .select(
                F.date_format("window_start", _FMT).alias("window_start"),
                "cnt",
                "sum_value",
            )
        )

    got = _streaming_result(spark, tmp_path, build)
    want = queries()["window_hopping"](spark, SF_DIR)
    cols = ["window_start", "cnt", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_session_streaming_matches_batch_gate(spark, tmp_path):
    def build(stream):
        return (
            session_agg(
                stream,
                "ts",
                "30 minutes",
                watermark="1 second",
                keys=("user_id",),
                aggs=(
                    F.count("*").alias("n_events"),
                    dsum("value").alias("sum_value"),
                ),
            )
            .select(
                "user_id",
                F.date_format("window_start", _FMT).alias("session_start"),
                "n_events",
                "sum_value",
            )
        )

    got = _streaming_result(spark, tmp_path, build).filter(
        F.col("user_id") >= 0
    )
    want = queries()["window_session"](spark, SF_DIR)
    cols = ["user_id", "session_start", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)
# Draft: append to tests/test_streaming_equivalence.py — multi-table
# routing soak at sf0.1 (VERDICT r6 item 7).


def test_multi_table_routing_streaming_matches_batch_gate_sf01(spark, tmp_path):
    """P1 array-routing soak (VERDICT r6 item 7): the two-table demux
    run for real through readStream + availableNow over an sf0.1-sized
    changelog (100k interleaved USERS/ORDERS envelopes), drained in TWO
    restarts over one checkpoint (ST2 continuity), must equal the batch
    gate `cdc_multi_table_routing` result set exactly."""
    import os

    from pyspark.sql import functions as F

    from olr_cdc_oracle_no_dbz_spark.schemas import change_event_schema
    from olr_cdc_oracle_no_dbz_spark.streaming import ParquetStateTable
    from olr_cdc_oracle_no_dbz_spark.streaming.pipeline import (
        Route,
        materialize_stream,
    )
    from olr_cdc_oracle_no_dbz_spark.workload.cdc_queries import (
        routing_changelog,
        routing_row_schemas,
    )

    sf_dir = "/root/testdata/sf0.1"
    src = str(tmp_path / "topic")
    ckpt = str(tmp_path / "ckpt")

    # stage the encoded two-table topic as text files, split into two
    # drains so the second run exercises checkpointed resume + merge
    raw = routing_changelog(spark, sf_dir)
    os.makedirs(src)
    raw.filter(F.crc32(F.col("value")) % 2 == 0).write.mode("append").text(src)

    users_schema, orders_schema = routing_row_schemas(spark, sf_dir)
    states = {
        "users": ParquetStateTable(
            spark, str(tmp_path / "state-users"), key_cols=("user_id",)
        ),
        "orders": ParquetStateTable(
            spark, str(tmp_path / "state-orders"), key_cols=("user_id",)
        ),
    }
    routes = [
        Route("OLR_DB", "USERS", states["users"], change_event_schema(users_schema)),
        Route("OLR_DB", "ORDERS", states["orders"], change_event_schema(orders_schema)),
    ]

    q = materialize_stream(spark, src, routes, ckpt)
    q.awaitTermination(300)

    raw.filter(F.crc32(F.col("value")) % 2 == 1).write.mode("append").text(src)
    q = materialize_stream(spark, src, routes, ckpt)
    q.awaitTermination(300)
    # each sink table has exactly its row image's columns (no ``op``)
    assert states["users"].current().columns == users_schema.fieldNames()
    assert states["orders"].current().columns == orders_schema.fieldNames()

    got = (
        states["users"]
        .current()
        .select(
            F.lit("users").alias("sink_table"),
            "user_id",
            F.col("event_type").alias("val"),
        )
        .unionByName(
            states["orders"]
            .current()
            .select(
                F.lit("orders").alias("sink_table"),
                "user_id",
                F.col("fv").cast("string").alias("val"),
            )
        )
    )
    from olr_cdc_oracle_no_dbz_spark.workload import queries

    want = queries()["cdc_multi_table_routing"](spark, sf_dir)
    cols = ["sink_table", "user_id", "val"]
    got_rows = sorted(tuple(r[c] for c in cols) for r in got.collect())
    want_rows = sorted(tuple(r[c] for c in cols) for r in want.collect())
    assert got_rows == want_rows
