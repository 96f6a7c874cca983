"""Lineage truncation policy (VERDICT r3 item 5).

Iterative plans (the connected-components fixpoint) must cut lineage
each round — otherwise the plan tree grows per iteration — and shared
intermediates of registry queries cut it once so several consumers
read one materialization. Two ways to cut it:

- ``localCheckpoint`` (default): executor-local block storage. Fast
  (no distributed filesystem round-trip) and correct on this
  container's single JVM, but NOT fault-tolerant — losing an executor
  loses the blocks and the job cannot recompute them (lineage is gone).
- ``checkpoint``: a reliable checkpoint written to
  ``SparkContext.setCheckpointDir`` (HDFS/S3/shared FS on a real
  cluster). Survives executor loss; costs a write+read of the
  intermediate.

Cluster deployments opt in per session::

    spark.conf.set("spark.graft.checkpoint.durable", "true")
    spark.sparkContext.setCheckpointDir("hdfs:///checkpoints/graft")

Both modes produce identical results (pinned by
tests/test_checkpointing.py); only the failure-recovery story differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DURABLE_CONF = "spark.graft.checkpoint.durable"


def truncate_lineage(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and return a lineage-free DataFrame.

    Eager by default: most callers iterate on the result (CC
    fixpoint), so laziness there would defeat the point. Pass
    ``eager=False`` from REGISTRY query builders (lazy-construction
    contract: building a query must not run a job — ``--explain``, ``dump_plans``, and the test_plans
    sweeps construct hundreds of plans without executing them; an
    eager cut there runs a real Spark job per construction and strands
    unreplicated checkpoint blocks in executor storage, ADVICE r6).
    A lazy cut still truncates lineage and still shares one
    materialization across multiple consumers — it just happens on the
    first action instead of at construction.
    """
    spark = df.sparkSession
    durable = (
        str(spark.conf.get(DURABLE_CONF, "false")).lower() == "true"
    )
    if not durable:
        return df.localCheckpoint(eager=eager)
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        raise ValueError(
            f"{DURABLE_CONF}=true requires "
            "spark.sparkContext.setCheckpointDir(<shared-fs-path>); "
            "a driver-local path would be unreadable to other executors"
        )
    return df.checkpoint(eager=eager)
