"""SparkSession factory with scale-oriented defaults.

The reference pipeline sizes itself via container resource envelopes
(docker-compose-olr.yml:30-37, scripts/OpenLogReplicator.json:28-31). The
Spark equivalent is a small set of session configs chosen so the same
logical plans survive a 1000-executor / 100 TB deployment:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy) — replaces hand-tuned parallelism.
- Broadcast threshold raised to 64 MB: every dimension table in the star
  schema (region/nation/customer/supplier/part) is broadcast-able, so fact
  joins never shuffle the big side.
- Shuffle partitions default to 32: AQE's starting width, which it
  coalesces down at runtime; on a real cluster this is overridden to
  ~2-3x total cores. Explicit fan-outs (repartition before a
  per-partition UDF, the state-table bucket write, the fuzzy salted
  blocks) size themselves by ``defaultParallelism``, the session's task
  slots, instead.
- UTC session timezone + ANSI semantics for deterministic, portable results.
- Arrow enabled for the Pandas-UDF extension operators (ext/).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32]/128GiB test container; every one of
# these is expected to be overridden by --conf on a real cluster.
_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Driver testdata stores events.ts as TIMESTAMP(NANOS); read as long
    # and convert in catalog.load_table (exact ns→µs truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": "32",
    # Streaming state: RocksDB scales to per-key state far beyond heap
    # (the ksqlDB state-store role, docker-compose-main.yml:112-131).
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
}


def get_spark(
    app_name: str = "olr-cdc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback:
    the cores this process may run on) so tests and bench share one code
    path.
    """
    if master is None:
        cpus = os.environ.get(
            "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
        )
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
