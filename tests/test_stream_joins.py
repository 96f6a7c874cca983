"""Streaming join tests: J2 stream–stream interval join (watermarked,
real two-stream run), J1 stream–static enrich through foreachBatch, and
direct double-apply idempotence of the bucketed state merge (ST3) and
its manifest commit (snapshot reads, crash points, refusal of a table
without a manifest)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.streaming import (
    ParquetStateTable,
    interval_join_streams,
)
from tests.conftest import write_tx_file


def _json_stream(spark, path, schema):
    return (
        spark.readStream.format("text")
        .load(path)
        .select(F.from_json("value", schema).alias("e"))
        .select("e.*")
    )


def test_stream_stream_interval_join(spark, tmp_path):
    """Two file streams joined on key within ±5 minutes: the in-window
    pair matches, the out-of-window event on the same key does not."""
    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_tx_file(
        clicks_dir,
        "c1.json",
        [
            '{"uid": "u1", "ts": "2026-01-01 10:00:00", "page": "home"}',
            '{"uid": "u2", "ts": "2026-01-01 10:00:00", "page": "search"}',
        ],
    )
    write_tx_file(
        buys_dir,
        "b1.json",
        [
            '{"uid": "u1", "ts": "2026-01-01 10:03:00", "amount": 5.0}',
            '{"uid": "u2", "ts": "2026-01-01 11:00:00", "amount": 9.0}',
        ],
    )
    clicks = _json_stream(spark, clicks_dir, "uid string, ts timestamp, page string")
    buys = _json_stream(spark, buys_dir, "uid string, ts timestamp, amount double")
    joined = interval_join_streams(clicks, buys, on="uid", within="5 minutes")
    assert joined.isStreaming
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1  # u2's buy is 60min after the click → no match
    assert rows[0]["uid"] == "u1" and rows[0]["amount_r"] == 5.0


def test_stream_stream_interval_left_outer_emits_null_row(spark, tmp_path):
    """ksqlDB ``LEFT JOIN ... WITHIN`` (J2 outer mode): an unmatched
    left event must eventually emit with nulls — but only once the
    watermark passes its join horizon, which Spark evaluates at the
    START of a micro-batch. So: run 1 ingests everything (including
    late events that advance both watermarks past u2's horizon); run 2
    on the same checkpoint processes one more file and flushes the
    unmatched row from state."""
    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_tx_file(
        clicks_dir,
        "c1.json",
        [
            '{"uid": "u1", "ts": "2026-01-01 10:00:00", "page": "home"}',
            '{"uid": "u2", "ts": "2026-01-01 10:00:00", "page": "search"}',
            '{"uid": "u8", "ts": "2026-01-01 12:00:00", "page": "late"}',
        ],
    )
    write_tx_file(
        buys_dir,
        "b1.json",
        [
            '{"uid": "u1", "ts": "2026-01-01 10:03:00", "amount": 5.0}',
            '{"uid": "u9", "ts": "2026-01-01 12:00:00", "amount": 1.0}',
        ],
    )

    def run():
        clicks = _json_stream(
            spark, clicks_dir, "uid string, ts timestamp, page string"
        )
        buys = _json_stream(
            spark, buys_dir, "uid string, ts timestamp, amount double"
        )
        joined = interval_join_streams(
            clicks, buys, on="uid", within="5 minutes", how="left_outer"
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # run 2: one more file advances the stream; the persisted watermark
    # (11:50, past u2's 10:05 horizon) lets state flush the null row
    write_tx_file(
        clicks_dir,
        "c2.json",
        ['{"uid": "u8", "ts": "2026-01-01 13:00:00", "page": "later"}'],
    )
    write_tx_file(
        buys_dir,
        "b2.json",
        ['{"uid": "u9", "ts": "2026-01-01 13:00:00", "amount": 2.0}'],
    )
    run()
    rows = {
        (r["uid"], r["page"]): r["amount_r"]
        for r in spark.read.parquet(out).collect()
    }
    assert rows[("u1", "home")] == 5.0  # inner match
    assert ("u2", "search") in rows and rows[("u2", "search")] is None


def test_interval_join_batch_analog_matches(spark):
    """The same helper runs on batch frames (watermark no-op) — J2's
    batch analog used for differential checking."""
    left = spark.createDataFrame(
        [("k", "2026-01-01 00:00:00"), ("k", "2026-01-01 02:00:00")],
        "uid string, ts_s string",
    ).select("uid", F.to_timestamp("ts_s").alias("ts"))
    right = spark.createDataFrame(
        [("k", "2026-01-01 00:30:00")], "uid string, ts_s string"
    ).select("uid", F.to_timestamp("ts_s").alias("ts"))
    out = interval_join_streams(left, right, on="uid", within="1 hour")
    assert out.count() == 1  # only the 00:00 left row is within ±1h


def test_stream_static_enrich_join(spark, tmp_path):
    """J1: per-micro-batch join of the change stream against a static
    dimension — the foreachBatch enrich pattern."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    dim = spark.createDataFrame(
        [("u1", "gold"), ("u2", "basic")], "uid string, tier string"
    )
    write_tx_file(
        src,
        "e1.json",
        [
            '{"uid": "u1", "ts": "2026-01-01 00:00:00", "v": 1.0}',
            '{"uid": "u3", "ts": "2026-01-01 00:00:01", "v": 2.0}',
        ],
    )
    stream = _json_stream(spark, src, "uid string, ts timestamp, v double")

    def enrich(batch_df, _bid):
        batch_df.join(F.broadcast(dim), "uid", "left").write.mode(
            "append"
        ).parquet(out)

    q = (
        stream.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["uid"]: r["tier"] for r in spark.read.parquet(out).collect()}
    assert rows == {"u1": "gold", "u3": None}


def test_state_merge_double_apply_idempotent(spark, tmp_path):
    """ST3 at the state-table level: re-applying the exact same delta (a
    foreachBatch crash-retry) leaves the state byte-identical."""
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    delta = spark.createDataFrame(
        [(1, 10, 1, False, 5), (2, 11, 1, False, 7)],
        "id int, scn long, seq int, __deleted boolean, stock int",
    )
    state.merge_batch(delta)
    first = sorted(tuple(r) for r in state.current().collect())
    state.merge_batch(delta)  # redelivery
    second = sorted(tuple(r) for r in state.current().collect())
    assert first == second
    assert state.read_internal().count() == 2  # no duplicate rows


def test_state_compact_gc_tombstones(spark, tmp_path):
    """State-table tombstone GC (the VACUUM analog): tombstones at or
    below the watermark vanish, newer ones survive as redelivery
    guards, fully-dead buckets drop out of the manifest, and live rows
    are untouched."""
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    rows = [
        (1, 10, 1, False, 5),   # live
        (2, 11, 1, True, 0),    # old tombstone -> GC'd
        (3, 99, 1, True, 0),    # young tombstone -> kept (guard)
        (4, 12, 1, False, 7),   # live
        (5, 13, 1, True, 0),    # old tombstone -> GC'd
    ]
    state.merge_batch(
        spark.createDataFrame(
            rows, "id int, scn long, seq int, __deleted boolean, stock int"
        )
    )
    assert state.read_internal().count() == 5

    n = state.compact(tombstone_watermark_scn=50)
    assert n == 2
    internal = state.read_internal()
    assert internal.count() == 3  # 2 live + 1 young tombstone
    assert internal.filter("__deleted").count() == 1
    # published view unchanged by compaction
    assert sorted(
        (r["id"], r["stock"]) for r in state.current().collect()
    ) == [(1, 5), (4, 7)]
    # idempotent: nothing eligible remains
    assert state.compact(tombstone_watermark_scn=50) == 0


def test_state_merge_empty_batch_is_noop(spark, tmp_path):
    """An empty micro-batch (common under availableNow retries) must
    leave state untouched: zero touched buckets, no bucket file
    written, existing data survives."""
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    schema = "id int, scn long, seq int, __deleted boolean, stock int"
    state.merge_batch(spark.createDataFrame([(1, 1, 1, False, 5)], schema))
    state.merge_batch(spark.createDataFrame([], schema))
    assert sorted(tuple(r) for r in state.current().collect()) == [(1, 5)]


def test_state_compact_keeps_null_flag_rows(spark, tmp_path):
    """Review r4 finding: a state row with NULL __deleted (e.g. a bucket
    file written before that column existed, merged with a later one)
    must SURVIVE compaction — a three-valued predicate would silently
    drop it from both the dead and kept sides."""
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=1)
    state.merge_batch(
        spark.createDataFrame([(1, 10, 1, 5)], "id int, scn long, seq int, stock int")
    )
    state.merge_batch(
        spark.createDataFrame(
            [(2, 5, 1, True, 0)],
            "id int, scn long, seq int, __deleted boolean, stock int",
        )
    )

    assert state.compact(tombstone_watermark_scn=50) == 1  # only the true tombstone
    kept = state.read_internal().collect()
    assert [(r["id"], r["stock"]) for r in kept] == [(1, 5)]


_STATE_COLS = "id int, scn long, seq int, __deleted boolean, stock int"


def _snapshot(df):
    return sorted((r["id"], r["stock"], r["__deleted"]) for r in df.collect())


def test_state_snapshot_survives_a_later_merge(spark, tmp_path):
    """A ``current()`` DataFrame is one committed version: built before a
    merge and run after it, it still reads the before-snapshot (the
    merge adds files and swaps the manifest; it replaces nothing)."""
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    state.merge_batch(
        spark.createDataFrame([(i, 10, 1, False, i) for i in range(20)], _STATE_COLS)
    )
    before = _snapshot(state.current("rewrite"))
    snap = state.current("rewrite")
    state.merge_batch(
        spark.createDataFrame(
            [(i, 20, 1, i % 3 == 0, 100 + i) for i in range(0, 40, 2)], _STATE_COLS
        )
    )
    assert _snapshot(snap) == before
    assert _snapshot(state.current("rewrite")) != before


def test_state_current_construction_runs_no_job(spark, tmp_path):
    """Building ``current()`` resolves the table through its manifest,
    which carries the schema: no schema-inference job."""
    import uuid

    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=4)
    state.merge_batch(
        spark.createDataFrame([(i, 10, 1, False, i) for i in range(20)], _STATE_COLS)
    )
    sc = spark.sparkContext
    group = f"current-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build current()")
    try:
        state.current("rewrite")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


_SEED = [(i, 10, 1, i % 4 == 0, i) for i in range(12)]
_DELTA = [(i, 20, 1, i % 5 == 0, 100 + i) for i in range(6, 18)]


def _lww(rows, watermark=None):
    """Expected ``current('rewrite')`` rows: newest (scn, seq) per key,
    minus tombstones at or below ``watermark``."""
    latest = {}
    for r in sorted(rows, key=lambda r: (r[1], r[2])):
        latest[r[0]] = r
    return sorted(
        (r[0], r[4], r[3])
        for r in latest.values()
        if not (watermark is not None and r[3] and r[1] <= watermark)
    )


def _parquet_names(root):
    return {
        n for _, _, names in os.walk(root) for n in names if n.endswith(".parquet")
    }


def _read_names(state):
    return {os.path.basename(f) for f in state.current("rewrite").inputFiles()}


@pytest.mark.parametrize("op", ["merge", "compact"])
@pytest.mark.parametrize("step", ["write", "replace", "gc"])
def test_state_commit_crash_leaves_a_snapshot_and_retry_converges(
    spark, tmp_path, monkeypatch, op, step
):
    """A crash at any commit step (the Spark write, the manifest
    ``os.replace``, the garbage collection) leaves exactly the before-
    or the after-snapshot; a retry gives the after-snapshot with one row
    per key, and no file of an uncommitted attempt is ever read."""
    from pyspark.sql.readwriter import DataFrameWriter

    root = str(tmp_path / "state")
    state = ParquetStateTable(spark, root, n_buckets=4)
    # two seed versions, so the commit under test has superseded files
    # to collect
    state.merge_batch(spark.createDataFrame(_SEED[:6], _STATE_COLS))
    state.merge_batch(spark.createDataFrame(_SEED[6:], _STATE_COLS))
    if op == "merge":
        delta = spark.createDataFrame(_DELTA, _STATE_COLS)
        run, after = (lambda: state.merge_batch(delta)), _lww(_SEED + _DELTA)
    else:
        run, after = (lambda: state.compact(15)), _lww(_SEED, watermark=15)
    before = _snapshot(state.current("rewrite"))
    assert before == _lww(_SEED) != after
    on_disk = _parquet_names(root)

    # "write": the files land, then the job fails before any commit
    owner, name, call_first = {
        "write": (DataFrameWriter, "parquet", True),
        "replace": (os, "replace", False),
        "gc": (os, "remove", False),
    }[step]
    real = getattr(owner, name)

    def crash(*args, **kwargs):
        if call_first:
            real(*args, **kwargs)
        raise OSError(f"injected crash at {step}")

    with monkeypatch.context() as m:
        m.setattr(owner, name, crash)
        with pytest.raises(OSError, match="injected"):
            run()
    crashed = _parquet_names(root) - on_disk
    seen = _snapshot(state.current("rewrite"))
    assert seen in (before, after)
    if seen == before:
        assert not crashed & _read_names(state)

    run()
    assert _snapshot(state.current("rewrite")) == after
    assert state.read_internal().count() == len(after)  # one row per key
    if seen == before:
        assert not crashed & _read_names(state)


def test_state_refuses_bucket_files_without_manifest(spark, tmp_path):
    """A state directory holding bucket files but no manifest (a table
    written by an engine version without one) is refused, not read as
    empty: treating it as a new table would drop every key it holds."""
    state = ParquetStateTable(spark, str(tmp_path / "state"), n_buckets=1)
    spark.createDataFrame([(1, 10, 1, False, 5)], _STATE_COLS).withColumn(
        "bucket_id", F.lit(0)
    ).write.partitionBy("bucket_id").parquet(state.data_dir)
    with pytest.raises(RuntimeError, match="manifest"):
        state.current()
    with pytest.raises(RuntimeError, match="manifest"):
        state.merge_batch(
            spark.createDataFrame([(2, 11, 1, False, 6)], _STATE_COLS)
        )
