"""Durable-vs-local lineage truncation (VERDICT r3 item 5): both modes
must produce identical results for the lineage cuts' callers (the
near-dup clusters and the CC fixpoint); durable mode must demand a
checkpoint dir."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.checkpointing import (
    DURABLE_CONF,
    truncate_lineage,
)
from olr_cdc_oracle_no_dbz_spark.workload import queries

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def durable(spark, tmp_path):
    spark.conf.set(DURABLE_CONF, "true")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    yield
    spark.conf.set(DURABLE_CONF, "false")


def test_durable_requires_checkpoint_dir(spark):
    # setCheckpointDir is irreversible on the shared SparkContext, so if
    # another durable test ran first this assertion CANNOT execute —
    # skip loudly rather than pass vacuously (review r4 finding).
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir already set on the shared context")
    spark.conf.set(DURABLE_CONF, "true")
    try:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            truncate_lineage(spark.range(3))
    finally:
        spark.conf.set(DURABLE_CONF, "false")


def test_truncate_lineage_value_identical_both_modes(spark, durable):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = truncate_lineage(df)
    assert sorted(r["v"] for r in out.collect()) == [2 * i for i in range(100)]


def test_dedup_clusters_identical_under_durable(spark, durable):
    got = {
        (r["doc_id"], r["cluster_id"], r["n_clustered"])
        for r in queries()["dedup_clusters"](spark, SF_DIR).collect()
    }
    spark.conf.set(DURABLE_CONF, "false")
    base = {
        (r["doc_id"], r["cluster_id"], r["n_clustered"])
        for r in queries()["dedup_clusters"](spark, SF_DIR).collect()
    }
    assert got == base and got


def test_connected_components_identical_under_durable(spark, durable, tmp_path):
    """Label propagation cuts its lineage every round (``driver_cutover=0``
    keeps it off the driver union-find): durable and local cuts give the
    same labels, and the durable run really wrote checkpoints."""
    from olr_cdc_oracle_no_dbz_spark.graph import connected_components

    # chains of 7 vertices: several rounds per component
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(42) if i % 7 != 6], "s long, d long"
    )

    def run():
        labels = connected_components(edges, driver_cutover=0)
        return {tuple(r) for r in labels.collect()}

    got = run()
    assert list((tmp_path / "ckpt").rglob("rdd-*"))
    spark.conf.set(DURABLE_CONF, "false")
    base = run()
    assert got == base and got
