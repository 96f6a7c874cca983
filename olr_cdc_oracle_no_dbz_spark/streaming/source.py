"""Streaming change-feed sources and sinks (SURVEY.md §2.1 S1/S3/S4, §2.2 K1).

The file source (the text ``readStream`` that
``streaming.pipeline.materialize_stream`` decodes per route) simulates
OpenLogReplicator's continuous emission (one JSON-lines file per
transaction dropped into a watched directory —
BASELINE "Structured Streaming CDC ingestion"; OLR checkpoint analog
docker-compose-olr.yml:56). The Kafka wrappers mirror the reference's
producer/consumer endpoints (scripts/OpenLogReplicator.json:46-52,
docker-compose-main.yml:119) behind the same decode path; they are
config-gated so nothing here requires a broker at test time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olr_cdc_oracle_no_dbz_spark.cdc.decode import decode_events
from olr_cdc_oracle_no_dbz_spark.schemas import CHANGE_EVENT_SCHEMA


def infer_evolved_schema(
    spark: SparkSession,
    path: str,
    base: T.StructType = CHANGE_EVENT_SCHEMA,
    owner: str | None = None,
    table: str | None = None,
) -> T.StructType:
    """K5 auto-evolve support: derive the current envelope schema from
    the files on disk, widening ``base`` with any new image columns.

    The reference's events carry their own schema (``schema: 7``,
    scripts/OpenLogReplicator.json:22) and the sink auto-ALTERs
    (``auto.evolve: true``, README.md:787). Spark's ``from_json`` needs
    the schema up front, so the flow is: batch-infer over the source
    directory (driver-side, one pass, done at (re)start — not per
    micro-batch), merge new before/after fields into the base envelope,
    restart the stream with the widened schema. Existing columns keep
    their declared types (inference only ADDS columns, so a numeric
    column never silently degrades to the inferred string form).

    ``owner``/``table`` restrict inference to ONE table's events — in a
    multi-table feed (``filter.table`` array, r6) inferring over the
    whole directory would leak every other table's columns into this
    table's image. Both image structs evolve SYMMETRICALLY to the union
    of new fields seen in either: the envelope has one row type, and an
    ``after``-only widening (e.g. when the first evolved events are all
    inserts with null ``before``) would make unwrap's
    before/after CASE WHEN ill-typed.
    """
    lines = spark.read.text(path)
    if owner is not None:
        lines = lines.filter(
            F.get_json_object("value", "$.schema_owner") == owner
        )
    if table is not None:
        lines = lines.filter(
            F.get_json_object("value", "$.schema_table") == table
        )
    inferred = spark.read.json(lines.rdd.map(lambda r: r.value))

    base_img = base["after"].dataType
    known = {f.name for f in base_img.fields}
    extras: dict[str, T.DataType] = {}
    for field in ("before", "after"):
        if field not in inferred.columns:
            continue
        found = inferred.schema[field].dataType
        if not isinstance(found, T.StructType):
            continue
        for f in found.fields:
            if f.name not in known and f.name not in extras:
                extras[f.name] = f.dataType
    if not extras:
        return base
    img = T.StructType(
        [
            *base_img.fields,
            *[T.StructField(n, t, True) for n, t in extras.items()],
        ]
    )
    return T.StructType(
        [
            T.StructField(f.name, img, True)
            if f.name in ("before", "after")
            else f
            for f in base.fields
        ]
    )


def read_spooldir_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "csv",
    header: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Spooldir file source (S4): watch a directory of CSV/JSON files and
    parse them into typed records — the Connect spooldir-connector role
    (reference Dockerfile:65-66). A schema is mandatory (streaming reads
    never infer), exactly like the connector's required schema config.
    """
    if fmt not in ("csv", "json"):
        raise ValueError(f"spooldir format must be csv|json, got {fmt!r}")
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", str(header).lower())
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC source (S5): partitioned batch read of an RDBMS table — the
    Connect JDBC-source-connector role (reference Dockerfile:68-69).

    Always pass the partition quadruple for any non-tiny table: without
    it the whole read is ONE task on one executor. Filters and column
    pruning push down into the generated SQL (Catalyst JDBC pushdown).
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if partition_column is not None:
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError(
                "partition_column requires lower_bound, upper_bound and "
                "num_partitions"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_kafka_change_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: T.StructType = CHANGE_EVENT_SCHEMA,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka consumer source (S3): subscribe to the change topic
    (reference topic ``oracle.olr.OLR_DB.PRODUCT``,
    scripts/OpenLogReplicator.json:48) and decode values.

    Requires the spark-sql-kafka connector on the classpath; the decode
    path is identical to the file source, so every downstream operator
    is source-agnostic.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    raw = reader.load().select(
        F.col("key").cast("string").alias("_key"),
        F.col("value").cast("string").alias("value"),
    )
    # the Kafka record key (the PK per pk.mode: record_key) survives
    # next to the envelope as `_key`
    return decode_events(raw, schema, passthrough_cols=("_key",))


def encode_events(
    df: DataFrame, key_col: str = "id", value_format: str = "json"
) -> DataFrame:
    """Kafka producer framing (K1 + P3): key = string PK (``pk.mode:
    record_key, pk.fields: ID``, reference README.md:789-790), value =
    the full envelope as one JSON document or one Avro binary record
    (``value_format="avro"`` — the reference's optional Avro converter
    stack, Dockerfile:15-60; uses the pure-Python codec so no
    spark-avro jar is required).

    ``from_json(encode_events(df).value) == df`` round-trips (tested),
    which is the engine's serde contract (P6); the Avro framing
    round-trips through ``decode_avro_python`` the same way.
    """
    value_cols = [c for c in df.columns if not c.startswith("_")]
    key = (
        F.col(key_col)
        if key_col in df.columns
        else F.coalesce(F.col(f"after.{key_col}"), F.col(f"before.{key_col}"))
    )
    if value_format == "avro":
        from olr_cdc_oracle_no_dbz_spark.serde import (
            avro_schema_for,
            encode_avro_python,
        )

        # the record key travels under a reserved internal name so a
        # business column literally named "key" cannot collide (a
        # duplicate-name projection would make drop()/pdf["key"]
        # ambiguous and corrupt the Avro schema)
        keyed = df.select(key.cast("string").alias("__graft_key"), *value_cols)
        avsc = avro_schema_for(
            keyed.drop("__graft_key").schema, "ChangeEventValue"
        )
        encode_record, _ = _avro_codec_for(avsc)

        def frame_batches(batches):
            import pandas as pd

            for pdf in batches:
                vals = [
                    encode_record(dict(zip(value_cols, row)))
                    for row in zip(*(pdf[c] for c in value_cols))
                ]
                yield pd.DataFrame({"key": pdf["__graft_key"], "value": vals})

        return keyed.mapInPandas(frame_batches, "key string, value binary")
    if value_format != "json":
        raise ValueError(f"value_format must be json|avro, got {value_format!r}")
    return df.select(
        key.cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in value_cols])).alias("value"),
    )


def _avro_codec_for(avsc: str):
    """Indirection so the codec import stays driver-side and the worker
    closure captures only the by-value codec functions."""
    from olr_cdc_oracle_no_dbz_spark.serde import _codec

    return _codec(avsc)


def write_kafka_changelog(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    key_col: str = "id",
):
    """Kafka producer sink (K1): stream the encoded changelog to a topic
    (reference: OLR's writer target, scripts/OpenLogReplicator.json:42-53).
    Returns the started StreamingQuery.
    """
    return (
        encode_events(df, key_col)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
