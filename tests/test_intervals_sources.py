"""Tests for P5 interval decode, S4 spooldir source, K6 naming, and the
ST6 stateful running profile (checkpointed continuity across restarts)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.cdc.intervals import decode_dts, decode_ytm
from olr_cdc_oracle_no_dbz_spark.config import sink_table_name
from olr_cdc_oracle_no_dbz_spark.streaming.source import read_spooldir_stream
from olr_cdc_oracle_no_dbz_spark.streaming.stateful import running_profile
from tests.conftest import write_tx_file


# -- P5 intervals -----------------------------------------------------------


def test_decode_dts_string_and_micros(spark):
    df = spark.createDataFrame(
        [("1 02:03:04.5",), ("-0 00:00:01",), ("garbage",), (None,)], "v string"
    )
    out = df.select(decode_dts("v").alias("i"))
    assert dict(out.dtypes)["i"] == "interval day to second"
    vals = [r["i"] for r in out.collect()]
    assert vals[0] == datetime.timedelta(days=1, hours=2, minutes=3, seconds=4.5)
    assert vals[1] == datetime.timedelta(seconds=-1)
    assert vals[2] is None and vals[3] is None

    micros = spark.createDataFrame([(90_061_000_000,)], "v long").select(
        decode_dts("v", "micros").alias("i")
    )
    assert micros.collect()[0]["i"] == datetime.timedelta(
        days=1, hours=1, minutes=1, seconds=1
    )


def test_decode_ytm_string_and_months(spark):
    # PySpark cannot collect() YM intervals (fromInternal unimplemented)
    # — assert on the canonical string form instead.
    df = spark.createDataFrame([("2-6",), ("-0-1",), ("x",)], "v string")
    out = df.select(decode_ytm("v").cast("string").alias("i"))
    typed = df.select(decode_ytm("v").alias("i"))
    assert dict(typed.dtypes)["i"] == "interval year to month"
    vals = [r["i"] for r in out.collect()]
    assert vals[0] == "INTERVAL '2-6' YEAR TO MONTH"
    assert vals[1] == "INTERVAL '-0-1' YEAR TO MONTH"
    assert vals[2] is None

    months = spark.createDataFrame([(18,)], "v int").select(
        decode_ytm("v", "months").cast("string").alias("i")
    )
    assert months.collect()[0]["i"] == "INTERVAL '1-6' YEAR TO MONTH"


def test_interval_arithmetic_works_downstream(spark):
    """The decoded intervals must be usable in timestamp arithmetic."""
    df = spark.createDataFrame(
        [("2026-01-01 00:00:00", "1 12:00:00")], "ts string, delta string"
    ).select(F.to_timestamp("ts").alias("ts"), decode_dts("delta").alias("d"))
    out = df.select((F.col("ts") + F.col("d")).alias("later")).collect()
    assert out[0]["later"] == datetime.datetime(2026, 1, 2, 12, 0)


def test_decode_interval_bad_encoding_raises(spark):
    with pytest.raises(ValueError):
        decode_dts("v", "bogus")
    with pytest.raises(ValueError):
        decode_ytm("v", "bogus")


# -- K6 naming --------------------------------------------------------------


def test_sink_table_name_formats():
    assert sink_table_name("oracle.olr.OLR_DB.PRODUCT", "products") == "products"
    assert (
        sink_table_name("topicA", "sink_${topic}") == "sink_topicA"
    )
    assert sink_table_name("t") == "t"


# -- S4 spooldir ------------------------------------------------------------


def test_spooldir_csv_stream(spark, tmp_path):
    src = str(tmp_path / "spool")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_tx_file(src, "a.csv", ["id,name", "1,alpha", "2,beta"])
    stream = read_spooldir_stream(spark, src, "id int, name string", "csv")
    assert stream.isStreaming
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {r["id"]: r["name"] for r in spark.read.parquet(out).collect()}
    assert rows == {1: "alpha", 2: "beta"}
    with pytest.raises(ValueError):
        read_spooldir_stream(spark, src, "id int", "xml")


# -- ST6 stateful -----------------------------------------------------------


def test_running_profile_accumulates_across_restarts(spark, tmp_path):
    """applyInPandasWithState keeps per-key state in the checkpoint: a
    second availableNow run continues counts, it doesn't restart them."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.format("text")
            .load(src)
            .select(
                F.from_json(
                    "value", "key string, ts timestamp, value double"
                ).alias("e")
            )
            .select("e.*")
        )
        prof = running_profile(stream)
        q = (
            prof.writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # latest emitted row per key = the one with the highest n_events
        rows = sorted(
            spark.read.parquet(out).collect(), key=lambda r: r["n_events"]
        )
        return {r["key"]: r.asDict() for r in rows}

    write_tx_file(
        src,
        "b1.json",
        [
            '{"key": "a", "ts": "2026-01-01 00:00:01", "value": 1.0}',
            '{"key": "a", "ts": "2026-01-01 00:00:02", "value": 2.0}',
            '{"key": "b", "ts": "2026-01-01 00:00:03", "value": 5.0}',
        ],
    )
    first = run()
    assert first["a"]["n_events"] == 2 and first["a"]["total_value"] == 3.0
    assert first["a"]["last_value"] == 2.0
    assert first["b"]["n_events"] == 1

    write_tx_file(
        src,
        "b2.json",
        ['{"key": "a", "ts": "2026-01-01 00:00:09", "value": 10.0}'],
    )
    second = run()
    assert second["a"]["n_events"] == 3  # continued, not restarted
    assert second["a"]["total_value"] == 13.0
    assert second["a"]["last_value"] == 10.0
    assert second["a"]["last_ts"] == datetime.datetime(2026, 1, 1, 0, 0, 9)

    # a LATE event (older ts) must count but NOT regress last_value/ts
    write_tx_file(
        src,
        "b3.json",
        ['{"key": "a", "ts": "2026-01-01 00:00:04", "value": 99.0}'],
    )
    third = run()
    assert third["a"]["n_events"] == 4
    assert third["a"]["total_value"] == 112.0
    assert third["a"]["last_value"] == 10.0  # event-time last, not arrival
    assert third["a"]["last_ts"] == datetime.datetime(2026, 1, 1, 0, 0, 9)
