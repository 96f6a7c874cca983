"""Golden-fixture tests for the Structured Streaming CDC pipeline
(SURVEY.md §5 / §7 M4; reference protocol README.md:806-822).

Each test drops JSON-lines transaction files into a watched directory,
drains the stream with availableNow, and asserts the materialized state
— including checkpointed restart, duplicate + out-of-order redelivery,
and watermark-dropped late data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.schemas import CHANGE_EVENT_SCHEMA
from olr_cdc_oracle_no_dbz_spark.streaming import (
    ParquetStateTable,
    Route,
    materialize_stream,
    progress_summary,
    tumbling_agg,
)
from tests.conftest import event, product_row, write_tx_file


def _run(spark, src, state, ckpt, **kw):
    q = materialize_stream(spark, src, state, ckpt, **kw)
    q.awaitTermination(120)
    return q


def _rows(df):
    return {r["id"]: r.asDict() for r in df.collect()}


def test_insert_update_delete_final_state(spark, tmp_path):
    """The reference's own verification protocol: after insert → update
    → delete of id=1 (plus a surviving id=2), drop-mode state has only
    id=2 and rewrite-mode keeps id=1 as a tombstone."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    r1 = product_row(1, "Test Product", "99.99", 10)
    r2 = product_row(2, "Other", "5.00", 3)
    write_tx_file(src, "tx1.json", [event(100, "c", after=r1)])
    write_tx_file(src, "tx2.json", [event(101, "c", after=r2)])
    r1b = dict(r1, price=149.99)
    write_tx_file(src, "tx3.json", [event(200, "u", before=r1, after=r1b)])
    write_tx_file(src, "tx4.json", [event(300, "d", before=r1b)])
    _run(spark, src, state, ckpt)

    dropped = _rows(state.current("drop"))
    assert set(dropped) == {2}
    assert str(dropped[2]["price"]) == "5.00"

    rewrite = _rows(state.current("rewrite"))
    assert set(rewrite) == {1, 2}
    assert rewrite[1]["__deleted"] is True
    assert str(rewrite[1]["price"]) == "149.99"  # final before-image
    assert rewrite[2]["__deleted"] is False


def test_checkpoint_restart_resumes_not_reapplies(spark, tmp_path):
    """ST2: a restart with the same checkpoint picks up only new files;
    a restart with no new files changes nothing."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    write_tx_file(src, "tx1.json", [event(100, "c", after=product_row(1, "A"))])
    _run(spark, src, state, ckpt)
    assert set(_rows(state.current())) == {1}

    write_tx_file(
        src,
        "tx2.json",
        [
            event(
                200,
                "u",
                before=product_row(1, "A"),
                after=product_row(1, "A", "10.00", 7),
            )
        ],
    )
    write_tx_file(src, "tx3.json", [event(300, "c", after=product_row(2, "B"))])
    _run(spark, src, state, ckpt)
    cur = _rows(state.current())
    assert set(cur) == {1, 2}
    assert cur[1]["stock"] == 7

    _run(spark, src, state, ckpt)  # third run, nothing new
    assert _rows(state.current()) == cur


def test_duplicate_and_out_of_order_redelivery(spark, tmp_path):
    """ST3/A1: redelivering an old update after the delete must NOT
    resurrect the key (tombstone + SCN guard); duplicate redelivery of
    the insert is idempotent."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    r1 = product_row(1, "P1")
    r2 = product_row(2, "P2")
    upd = event(200, "u", before=r1, after=dict(r1, stock=9))
    write_tx_file(src, "tx1.json", [event(100, "c", after=r1)])
    write_tx_file(src, "tx2.json", [event(110, "c", after=r2)])
    write_tx_file(src, "tx3.json", [upd])
    write_tx_file(src, "tx4.json", [event(300, "d", before=dict(r1, stock=9))])
    _run(spark, src, state, ckpt)
    assert set(_rows(state.current())) == {2}

    # out-of-order redelivery of the update, then a duplicate insert
    write_tx_file(src, "tx5_redeliver.json", [upd])
    write_tx_file(src, "tx6_dup.json", [event(110, "c", after=r2)])
    _run(spark, src, state, ckpt)
    cur = _rows(state.current())
    assert set(cur) == {2}  # id=1 stays deleted
    assert cur[2]["stock"] == 0
    rewrite = _rows(state.current("rewrite"))
    assert rewrite[1]["__deleted"] is True


def test_corrupt_lines_and_foreign_tables_skipped(spark, tmp_path):
    """Corrupt JSON lands in _corrupt (stream survives); events for
    non-allowlisted owner/table are filtered out (P1)."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    write_tx_file(
        src,
        "tx1.json",
        [
            event(100, "c", after=product_row(1, "Keep")),
            "{this is not json",
            event(101, "c", after=product_row(9, "Drop"), owner="OTHER"),
            event(102, "c", after=product_row(8, "Drop"), table="T2"),
        ],
    )
    _run(spark, src, state, ckpt)
    assert set(_rows(state.current())) == {1}


def test_begin_commit_markers_dropped(spark, tmp_path):
    """message:2 begin/commit markers carry no row image and must not
    reach the state table (A2 surface)."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    write_tx_file(
        src,
        "tx1.json",
        [
            event(100, "begin", xid="x1"),
            event(100, "c", after=product_row(1, "A"), seq=2, xid="x1"),
            event(100, "commit", seq=3, xid="x1"),
        ],
    )
    _run(spark, src, state, ckpt)
    assert set(_rows(state.current())) == {1}


def test_backpressure_max_files_per_trigger(spark, tmp_path):
    """ST4: maxFilesPerTrigger=1 forces one micro-batch per transaction
    file; the final state is identical to the single-batch run."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    r1 = product_row(1, "A")
    write_tx_file(src, "tx1.json", [event(100, "c", after=r1)])
    write_tx_file(
        src, "tx2.json", [event(200, "u", before=r1, after=dict(r1, stock=5))]
    )
    write_tx_file(src, "tx3.json", [event(300, "d", before=dict(r1, stock=5))])
    q = _run(spark, src, state, ckpt, max_files_per_trigger=1)
    assert state.current("rewrite").count() == 1
    assert state.current("drop").count() == 0
    summary = progress_summary(q)
    assert summary["batch_id"] is not None and summary["batch_id"] >= 2


@pytest.mark.parametrize(
    "mirror, two_routes",
    [(False, False), (True, False), (False, True)],
    ids=["state", "state+jdbc", "two_routes"],
)
def test_progress_counts_each_input_line_once(spark, tmp_path, mirror, two_routes):
    """ST7 progress is truthful: the micro-batch is decoded once, so the
    summed ``numInputRows`` equals the lines fed — markers, a foreign
    table's event and a corrupt line included — with or without the
    JDBC mirror, and with a second route that materializes that foreign
    CUSTOMER table. Re-reading the source per action (emptiness check,
    touched buckets, merge, mirror collect) or per route would count
    each line once per pass."""
    import decimal
    import sqlite3

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    r1, r2 = product_row(1, "A", "1.00", 1), product_row(2, "B", "2.00", 2)
    files = [
        [
            event(100, "begin", xid="x1"),
            event(100, "c", after=r1, seq=2, xid="x1"),
            event(100, "c", after=r2, seq=3, xid="x1"),
            event(100, "commit", seq=4, xid="x1"),
        ],
        [
            event(200, "u", before=r1, after=dict(r1, stock=7)),
            event(201, "c", after=product_row(9, "X"), table="CUSTOMER"),
            "{this is not json",
        ],
        [event(300, "d", before=r2)],
    ]
    for i, lines in enumerate(files):
        write_tx_file(src, f"tx{i}.json", lines)
    kw = {}
    if mirror:
        db_path = str(tmp_path / "mirror.db")
        with sqlite3.connect(db_path) as db:
            db.execute(
                "CREATE TABLE products (id INT PRIMARY KEY, name VARCHAR(100),"
                " description VARCHAR(500), price VARCHAR(20), stock INT,"
                " created_date VARCHAR(30), updated_date VARCHAR(30))"
            )

        def factory():
            sqlite3.register_adapter(decimal.Decimal, str)
            return sqlite3.connect(db_path, timeout=60)

        kw["jdbc_sink"] = {"connection_factory": factory, "table": "products"}
    routes = state
    if two_routes:
        customers = ParquetStateTable(
            spark, str(tmp_path / "customers"), n_buckets=4
        )
        routes = [
            Route("OLR_DB", "PRODUCT", state, CHANGE_EVENT_SCHEMA),
            Route("OLR_DB", "CUSTOMER", customers, CHANGE_EVENT_SCHEMA),
        ]
    q = _run(spark, src, routes, ckpt, max_files_per_trigger=2, **kw)
    assert sum(p["numInputRows"] for p in q.recentProgress) == sum(
        len(lines) for lines in files
    )
    assert _rows(state.current())[1]["stock"] == 7
    if two_routes:
        assert set(_rows(state.current())) == {1}
        assert {k: r["name"] for k, r in _rows(customers.current()).items()} == {
            9: "X"
        }
    if mirror:
        with sqlite3.connect(db_path) as db:
            assert db.execute("SELECT id, stock FROM products").fetchall() == [
                (1, 7)
            ]


def test_route_list_refuses_one_route_keywords(spark, tmp_path):
    """The owner/table/schema/subject/jdbc_sink keywords build the
    one-route shorthand; with a route list they would be silently
    ignored, so they raise before any query starts."""
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    routes = [Route("OLR_DB", "PRODUCT", state, CHANGE_EVENT_SCHEMA)]
    for kw in ({"table": "CUSTOMER"}, {"jdbc_sink": {}}, {"subject": "p"}):
        with pytest.raises(ValueError, match="Route"):
            materialize_stream(spark, str(tmp_path), routes, str(tmp_path), **kw)
    assert spark.streams.active == []


def test_schema_evolution_new_column(spark, tmp_path):
    """K5 auto.evolve: a new source column appears mid-stream; old rows
    read as NULL, new rows carry it."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    write_tx_file(src, "tx1.json", [event(100, "c", after=product_row(1, "A"))])
    _run(spark, src, state, ckpt)

    from pyspark.sql import types as T

    from olr_cdc_oracle_no_dbz_spark.schemas import (
        PRODUCT_SCHEMA,
        change_event_schema,
    )

    evolved_row = T.StructType(
        [*PRODUCT_SCHEMA.fields, T.StructField("category", T.StringType(), True)]
    )
    evolved = change_event_schema(evolved_row)
    r2 = dict(product_row(2, "B"), category="tools")
    write_tx_file(src, "tx2.json", [event(200, "c", after=r2)])
    q = materialize_stream(
        spark, src, state, ckpt, schema=evolved
    )
    q.awaitTermination(120)
    cur = _rows(state.current())
    assert cur[2]["category"] == "tools"
    assert cur[1]["category"] is None

    # auto-evolve path: the evolved schema is derivable from the files
    # themselves (schema:7 analog) — no hand-written schema needed
    from olr_cdc_oracle_no_dbz_spark.streaming.source import (
        infer_evolved_schema,
    )

    auto = infer_evolved_schema(spark, src)
    after_fields = {f.name: f.dataType for f in auto["after"].dataType.fields}
    assert "category" in after_fields
    assert after_fields["price"] == T.DecimalType(10, 2)  # base type kept


def test_streaming_tumbling_watermark_drops_late_events(spark, tmp_path):
    """A5+A8/ST5: a 5-minute tumbling window with a 10-minute watermark;
    an event arriving after the watermark passed its window is dropped."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def emit(name, rows):
        write_tx_file(src, name, rows)

    def run():
        stream = (
            spark.readStream.format("text")
            .load(src)
            .select(F.from_json("value", "k string, ts timestamp").alias("e"))
            .select("e.*")
        )
        agg = tumbling_agg(stream, "ts", "5 minutes", watermark="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    emit(
        "b1.json",
        [
            '{"k": "a", "ts": "2026-01-01 00:01:00"}',
            '{"k": "b", "ts": "2026-01-01 00:02:00"}',
            '{"k": "c", "ts": "2026-01-01 00:30:00"}',
        ],
    )
    run()  # watermark after b1: 00:30 - 10min = 00:20 → window[00:00,00:05) closed
    emit(
        "b2.json",
        [
            '{"k": "late", "ts": "2026-01-01 00:03:00"}',
            '{"k": "d", "ts": "2026-01-01 01:00:00"}',
        ],
    )
    run()  # late event predates the watermark → dropped

    res = {
        r["window_start"].strftime("%H:%M"): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert res.get("00:00") == 2  # late event NOT counted
    assert res.get("00:30") == 1


def test_require_commit_holds_back_uncommitted(spark, tmp_path):
    """A2 in streaming mode: with require_commit=True, DML whose
    transaction has no commit marker in the batch is held back."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    write_tx_file(
        src,
        "tx1.json",
        [
            event(100, "begin", xid="ok"),
            event(100, "c", after=product_row(1, "Committed"), seq=2, xid="ok"),
            event(100, "commit", seq=3, xid="ok"),
            event(200, "begin", xid="inflight"),
            event(200, "c", after=product_row(2, "Uncommitted"), seq=2,
                  xid="inflight"),
            # no commit for xid=inflight
        ],
    )
    q = materialize_stream(spark, src, state, ckpt, require_commit=True)
    q.awaitTermination(120)
    assert set(_rows(state.current())) == {1}


def test_streaming_session_window(spark, tmp_path):
    """A7 in streaming mode: session_window with a 10-minute gap —
    events 5 minutes apart merge into one session, a 30-minute silence
    starts a new one."""
    from olr_cdc_oracle_no_dbz_spark.streaming import session_agg

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_tx_file(
        src,
        "b1.json",
        [
            '{"k": "u1", "ts": "2026-01-01 00:00:00"}',
            '{"k": "u1", "ts": "2026-01-01 00:05:00"}',
            '{"k": "u1", "ts": "2026-01-01 00:40:00"}',
            '{"k": "u1", "ts": "2026-01-01 03:00:00"}',  # closes both via watermark
        ],
    )
    stream = (
        spark.readStream.format("text")
        .load(src)
        .select(F.from_json("value", "k string, ts timestamp").alias("e"))
        .select("e.*")
    )
    agg = session_agg(stream, "ts", "10 minutes", watermark="30 minutes", keys=("k",))
    q = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["window_start"].strftime("%H:%M"): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert rows.get("00:00") == 2  # merged session (00:00 + 00:05)
    assert rows.get("00:40") == 1  # separate session after the gap


def test_snapshot_bootstrap_then_stream(spark, tmp_path):
    """S2→K2 bootstrap: load an initial snapshot, then attach the
    changelog stream — later events win over snapshot rows, and a
    pre-snapshot redelivered event does not."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    snapshot = spark.createDataFrame(
        [(1, 100), (2, 200)], "id int, stock int"
    )
    state.bootstrap(snapshot, scn=50)
    assert {r["id"]: r["stock"] for r in state.current().collect()} == {
        1: 100,
        2: 200,
    }
    # changelog after the snapshot SCN updates id=1; a stale pre-snapshot
    # event for id=2 must lose to the bootstrap row
    r1 = product_row(1, "A")
    write_tx_file(
        src,
        "tx1.json",
        [event(60, "u", before=r1, after=dict(r1, stock=111))],
    )
    write_tx_file(
        src,
        "tx2.json",
        [event(40, "u", before=product_row(2, "B"),
               after=dict(product_row(2, "B"), stock=999))],
    )
    _run(spark, src, state, ckpt)
    cur = {r["id"]: r["stock"] for r in state.current().collect()}
    assert cur[1] == 111  # post-snapshot event applied
    assert cur[2] == 200  # stale event lost to snapshot

    with pytest.raises(RuntimeError):
        state.bootstrap(snapshot)  # bootstrap after first write refused


def test_stream_equals_batch_materialization_end_to_end(spark, tmp_path):
    """The full streaming pipeline (file source → decode → unwrap →
    bucketed state, drained in 4 separate checkpointed runs) must land
    on exactly the state the one-shot batch materializer computes from
    the same 24 events — the merge-algebra property, proven through the
    real streaming surfaces."""
    import json
    import random

    from olr_cdc_oracle_no_dbz_spark.cdc.decode import (
        decode_events,
        unwrap,
    )
    from olr_cdc_oracle_no_dbz_spark.cdc.materialize import materialize_state

    rng = random.Random(20260813)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)

    events = []
    for scn in range(1, 25):
        key = rng.randint(1, 5)
        op = rng.choice(["c", "u", "u", "d"])
        img = product_row(key, f"P{key}", stock=scn)
        events.append(
            event(scn, op, after=None if op == "d" else img,
                  before=img if op != "c" else None)
        )
    # 4 files of 6 events, drained in 4 separate runs (restart each time)
    for i in range(4):
        write_tx_file(src, f"b{i}.json", events[i * 6 : (i + 1) * 6])
        _run(spark, src, state, ckpt)

    streamed = {
        r["id"]: (r["stock"], r["__deleted"])
        for r in state.current("rewrite").collect()
    }
    raw = spark.createDataFrame([(json.dumps(e),) for e in events], "value string")
    oneshot = {
        r["id"]: (r["stock"], r["__deleted"])
        for r in materialize_state(
            unwrap(decode_events(raw)), delete_mode="rewrite"
        ).collect()
    }
    assert streamed == oneshot


def test_streaming_hopping_window(spark, tmp_path):
    """A6 in streaming mode: 10-minute windows advancing by 5 — each
    event lands in exactly two windows."""
    from olr_cdc_oracle_no_dbz_spark.streaming import hopping_agg

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_tx_file(
        src,
        "b1.json",
        [
            '{"k": "a", "ts": "2026-01-01 00:07:00"}',
            '{"k": "a", "ts": "2026-01-01 02:00:00"}',  # advances watermark
        ],
    )
    stream = (
        spark.readStream.format("text")
        .load(src)
        .select(F.from_json("value", "k string, ts timestamp").alias("e"))
        .select("e.*")
    )
    agg = hopping_agg(stream, "ts", "10 minutes", "5 minutes",
                      watermark="30 minutes")
    q = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    starts = sorted(
        r["window_start"].strftime("%H:%M")
        for r in spark.read.parquet(out).collect()
        if r["window_start"].hour == 0
    )
    assert starts == ["00:00", "00:05"]  # the 00:07 event in both hops


def test_current_before_any_batch_raises(spark, tmp_path):
    state = ParquetStateTable(spark, str(tmp_path / "state"))
    with pytest.raises(FileNotFoundError):
        state.current()


def _has_protobuf() -> bool:
    try:  # the transformWithState Python runner requires protobuf
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        # Probed r4: no google.protobuf in site-packages, no wheel
        # anywhere on disk, and pip has no network route (NewConnection
        # Error on the index) — the runtime dependency is conclusively
        # unavailable offline, so the EXECUTION tests stay skipped.
        # Plan-time behavior (schema contract) needs no protobuf and is
        # tested un-gated below.
        return False


def test_scn_dedupe_output_schema_equals_input_schema(spark):
    """ADVICE r3: dedupe_redelivery must not leak synthesized key/seq
    columns — output schema == input schema exactly, so fixed-schema
    sinks survive. Plan-time check, runs without protobuf."""
    from olr_cdc_oracle_no_dbz_spark.streaming.stateful import dedupe_redelivery

    stream = spark.readStream.format("rate").load().selectExpr(
        "CAST(value % 5 AS STRING) AS key",
        "value AS scn",
        "CAST(value AS STRING) AS payload",
    )
    assert dedupe_redelivery(stream).schema == stream.schema
    # no-seq stream: internal seq synthesized, still not in the output
    no_seq = stream.select("key", "scn")
    assert dedupe_redelivery(no_seq).schema == no_seq.schema


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (not in this env)",
)
def test_scn_dedupe_exactly_once_across_restart(spark, tmp_path):
    """ST3 via the Spark 4 transformWithState API: per-key high-water
    SCN state drops redelivered and stale events, including across a
    stop/restart on the same checkpoint (state store continuity)."""
    from olr_cdc_oracle_no_dbz_spark.streaming.stateful import dedupe_redelivery

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    schema = "key string, scn long, payload string"
    collected: list[tuple] = []

    def drain():
        stream = spark.readStream.schema(schema).json(src)
        out = dedupe_redelivery(stream)
        q = (
            out.writeStream.foreachBatch(
                lambda df, _: collected.extend(
                    (r["key"], r["scn"], r["payload"]) for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_tx_file(
        src,
        "b1.json",
        [
            {"key": "a", "scn": 100, "payload": "a100"},
            {"key": "a", "scn": 101, "payload": "a101"},
            {"key": "b", "scn": 50, "payload": "b50"},
        ],
    )
    drain()
    assert sorted(collected) == [("a", 100, "a100"), ("a", 101, "a101"), ("b", 50, "b50")]

    collected.clear()
    write_tx_file(
        src,
        "b2.json",
        [
            {"key": "a", "scn": 100, "payload": "dup"},       # redelivery
            {"key": "a", "scn": 95, "payload": "stale"},      # out-of-order
            {"key": "a", "scn": 102, "payload": "a102"},      # fresh
            {"key": "a", "scn": 102, "payload": "dup-in-batch"},
            {"key": "b", "scn": 50, "payload": "dup"},
        ],
    )
    drain()
    assert collected == [("a", 102, "a102")]


def test_scn_dedupe_processor_logic():
    """The _SCNDedupe processor logic itself (no streaming runtime):
    stale, duplicate, and in-batch-duplicate rows are dropped; the
    (scn, seq) high-water mark advances and persists in the ValueState.
    Equal-SCN multi-op transactions (one commit SCN, seq 1..n) must all
    pass — the ordering contract is the composite, never SCN alone."""
    import pandas as pd

    from olr_cdc_oracle_no_dbz_spark.streaming.stateful import _SCNDedupe

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

    proc = _SCNDedupe(["key", "scn", "seq", "payload"])
    proc._hwm = FakeState()

    def frame(scns, seqs, payloads):
        # dedupe_redelivery normalizes the stream with reserved __scn/
        # __seq internals the processor orders on; the original columns
        # ride along untouched and are all that gets emitted
        return pd.DataFrame(
            {
                "key": ["a"] * len(scns),
                "scn": scns,
                "seq": seqs,
                "payload": payloads,
                "__scn": scns,
                "__seq": seqs,
            }
        )

    # one transaction: two ops on the same key share commit SCN 100
    b1 = frame([100, 100, 101, 100], [1, 2, 1, 1], ["op1", "op2", "y", "dup"])
    out1 = pd.concat(list(proc.handleInputRows(("a",), iter([b1]), None)))
    assert list(out1.columns) == ["key", "scn", "seq", "payload"]
    assert list(zip(out1["scn"], out1["seq"])) == [(100, 1), (100, 2), (101, 1)]
    assert proc._hwm.get() == (101, 1)

    b2 = frame(
        [95, 101, 101, 102], [1, 1, 2, 1], ["stale", "dup", "late-intra-txn", "z"]
    )
    out2 = pd.concat(list(proc.handleInputRows(("a",), iter([b2]), None)))
    # (101,2) is above the (101,1) mark — an intra-txn op delivered late
    assert list(zip(out2["scn"], out2["seq"])) == [(101, 2), (102, 1)]
    assert proc._hwm.get() == (102, 1)

    # all-duplicate batch emits nothing and leaves state untouched
    out3 = list(proc.handleInputRows(("a",), iter([b2]), None))
    assert out3 == []
    assert proc._hwm.get() == (102, 1)


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Built-in streaming dedup (the zero-custom-code complement of
    dedupe_redelivery): dropDuplicatesWithinWatermark on the event key
    drops exact redeliveries that arrive within the watermark window,
    including across micro-batches (state retained per key)."""
    import json
    import os

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    collected: list[tuple] = []

    def write(name, rows):
        os.makedirs(src, exist_ok=True)
        tmp = os.path.join(src, name + ".tmp")
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(tmp, os.path.join(src, name))

    write(
        "b1.json",
        [
            {"k": "a-100", "ts": "2026-01-01 00:00:00", "payload": "first"},
            {"k": "a-100", "ts": "2026-01-01 00:00:01", "payload": "dup-in-batch"},
            {"k": "b-50", "ts": "2026-01-01 00:00:02", "payload": "b"},
        ],
    )
    write(
        "b2.json",
        [
            {"k": "a-100", "ts": "2026-01-01 00:00:03", "payload": "dup-next-batch"},
            {"k": "c-7", "ts": "2026-01-01 00:00:04", "payload": "c"},
        ],
    )

    stream = (
        spark.readStream.schema("k string, ts timestamp, payload string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["k"])
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, _: collected.extend((r["k"], r["payload"]) for r in df.collect())
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = dict(collected)
    assert sorted(got) == ["a-100", "b-50", "c-7"]
    assert got["a-100"] == "first"  # both later redeliveries dropped


def test_scn_dedupe_explicit_missing_seq_col_fails_fast(spark):
    """Review r4 finding: the seq=0 fallback applies only to the DEFAULT
    seq_col; naming a column that does not exist must raise at plan
    time, not silently collapse multi-op transactions onto (scn, 0)."""
    from pyspark.sql.utils import AnalysisException

    from olr_cdc_oracle_no_dbz_spark.streaming.stateful import dedupe_redelivery

    stream = spark.readStream.format("rate").load().selectExpr(
        "CAST(value AS STRING) AS key", "value AS scn"
    )
    with pytest.raises(AnalysisException):
        dedupe_redelivery(stream, seq_col="sequence")
    # default seq_col on a seq-less stream still synthesizes seq=0
    assert dedupe_redelivery(stream).schema == stream.schema


def test_drop_duplicates_within_watermark_key_only(spark, tmp_path):
    """Engine-native streaming dedupe: dropDuplicatesWithinWatermark
    suppresses key redeliveries arriving inside the watermark interval
    — the built-in alternative to the custom transformWithState
    high-water-mark guard (streaming/stateful.py), with state expiry
    for free. Two micro-batches redeliver event_id=1 with a LATER
    timestamp (an exact-dup dropDuplicates would keep it — the
    within-watermark variant must drop it on key alone)."""
    import json

    src = tmp_path / "dd_src"
    src.mkdir()
    ckpt = str(tmp_path / "dd_ckpt")

    def jline(eid, ts):
        return json.dumps({"event_id": eid, "ts_raw": ts})

    (src / "b1.json").write_text(
        "\n".join(
            [
                jline(1, "2024-01-01 10:00:00"),
                jline(1, "2024-01-01 10:00:05"),
                jline(2, "2024-01-01 10:01:00"),
            ]
        )
    )
    (src / "b2.json").write_text(
        "\n".join(
            [
                jline(1, "2024-01-01 10:02:00"),
                jline(3, "2024-01-01 10:03:00"),
            ]
        )
    )
    stream = (
        spark.readStream.schema("event_id long, ts_raw string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts_raw"))
        .drop("ts_raw")
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dd_within_wm")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id FROM dd_within_wm").collect()
    assert sorted(r.event_id for r in rows) == [1, 2, 3]


def test_streaming_soak_mixed_commit_restart_evolution(spark, tmp_path):
    """Soak run (VERDICT r5 item 7): the individually-tested pieces —
    commit gating, checkpointed restart, schema evolution, duplicate
    redelivery, out-of-order SCNs — exercised together in ONE stream
    across three checkpointed drains of ten transaction files, then the
    final state compared against the one-shot batch oracle over the
    committed events. This is the integration property every piecewise
    test assumes: the composition converges to the same state as the
    batch algebra regardless of how the feed is sliced, restarted, and
    evolved mid-flight."""
    import json
    import random

    from pyspark.sql import types as T

    from olr_cdc_oracle_no_dbz_spark.cdc.decode import decode_events, unwrap
    from olr_cdc_oracle_no_dbz_spark.cdc.materialize import materialize_state
    from olr_cdc_oracle_no_dbz_spark.schemas import (
        PRODUCT_SCHEMA,
        change_event_schema,
    )
    from olr_cdc_oracle_no_dbz_spark.streaming.source import (
        infer_evolved_schema,
    )

    rng = random.Random(20260814)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)

    evolved_row = T.StructType(
        [*PRODUCT_SCHEMA.fields, T.StructField("category", T.StringType(), True)]
    )
    evolved = change_event_schema(evolved_row)

    # ten single-transaction files; SCN blocks deliberately NOT in file
    # order (file 3 commits before file 2 in SCN time); ~1 in 4
    # transactions never commits (the rollback analog: held back forever)
    scn_blocks = [100, 300, 200, 400, 600, 500, 700, 900, 800, 1000]
    all_events: list[dict] = []
    committed_events: list[dict] = []
    files: list[list[dict]] = []
    for i, base in enumerate(scn_blocks):
        xid = f"soak-{i}"
        commits = i % 4 != 3  # files 3 and 7 roll back
        tx = [event(base, "begin", xid=xid, seq=1)]
        dml = []
        for j in range(rng.randint(2, 3)):
            key = rng.randint(1, 6)
            op = rng.choice(["c", "u", "u", "d"])
            img = product_row(key, f"P{key}", stock=base + j)
            if i >= 5:  # post-evolution files carry the new column
                img = dict(img, category=f"cat{key % 3}")
            dml.append(
                event(
                    base,
                    op,
                    after=None if op == "d" else img,
                    before=img if op != "c" else None,
                    seq=j + 2,
                    xid=xid,
                )
            )
        tx.extend(dml)
        if commits:
            tx.append(event(base, "commit", xid=xid, seq=len(tx) + 1))
            committed_events.extend(dml)
        files.append(tx)
        all_events.extend(tx)

    def drain(schema=None, **kw):
        kwargs = dict(require_commit=True, max_files_per_trigger=1, **kw)
        if schema is not None:
            kwargs["schema"] = schema
        q = materialize_stream(spark, src, state, ckpt, **kwargs)
        q.awaitTermination(180)

    # run A: files 0-3 under the base schema, one micro-batch per file
    for i in range(4):
        write_tx_file(src, f"tx{i}.json", files[i])
    drain()
    # run B (restart): files 4-6 under the hand-declared evolved schema,
    # plus a byte-identical redelivery of file 1 (idempotent by SCN)
    for i in range(4, 7):
        write_tx_file(src, f"tx{i}.json", files[i])
    write_tx_file(src, "redelivered-tx1.json", files[1])
    drain(schema=evolved)
    # run C (second restart): files 7-9 under the auto-inferred schema
    for i in range(7, 10):
        write_tx_file(src, f"tx{i}.json", files[i])
    drain(schema=infer_evolved_schema(spark, src))

    streamed = {
        r["id"]: (r["stock"], r["category"], r["__deleted"])
        for r in state.current("rewrite").collect()
    }

    # batch oracle: one-shot materialization of the committed DML only
    raw = spark.createDataFrame(
        [(json.dumps(e),) for e in committed_events], "value string"
    )
    oneshot = {
        r["id"]: (r["stock"], r["category"], r["__deleted"])
        for r in materialize_state(
            unwrap(decode_events(raw, schema=evolved)), delete_mode="rewrite"
        ).collect()
    }
    assert streamed == oneshot
    # the soak actually exercised both regimes: some keys' final image
    # pre-dates the evolution (NULL category), some post-dates it
    assert any(v[1] is None for v in streamed.values())
    assert any(v[1] is not None for v in streamed.values())
