"""Scale techniques: salted joins for skew, and the physical layouts a
100 TB table is written in (SURVEY.md §4 partitioned-parallelism row;
the Kafka-partition ≙ shuffle-partition analogy).

AQE's skew-join splitting (on in session.py) handles most skew at
runtime; ``salted_join`` is the explicit fallback for pathological hot
keys (a single key larger than an executor). ``write_bucketed``
pre-shuffles once at write time so every later join or aggregation on
the bucket key of the ``spark.table`` read back runs with ZERO
exchanges — the pattern for a 100 TB fact table joined repeatedly on
the same key. ``write_range_sorted``, ``write_partitioned`` and
``write_zorder_sorted`` lay files out for file- and directory-level
pruning. Sinks that grow by appends keep their file count down by
rewriting through their own manifest commit (``manifest.py``:
``ParquetStateTable.compact``, ``streaming.dedup.compact_index``), never
by swapping directories under a reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Join a skewed fact table against a dimension without any single
    reducer receiving a whole hot key.

    The fact side gets a deterministic salt in [0, n_salts) derived from
    the whole row (xxhash64 of all columns — no RNG, so retries and
    speculative tasks agree); the dim side is exploded n_salts× so every
    (key, salt) pair finds its match. Join key becomes (key, salt) —
    a hot key now spreads over n_salts reducers. Dim grows n_salts×,
    which is the standard price (dims are the small side).

    Only fact-preserving join types are allowed: under right/full outer,
    an unmatched dim key would surface once PER SALT REPLICA (n_salts
    null-extended rows instead of one) — silently wrong, so rejected.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"salted_join supports fact-preserving joins only "
            f"(inner/left/left_semi/left_anti), got {how!r}"
        )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in facts.columns]), F.lit(n_salts))
    salted_facts = facts.withColumn(_SALT, salt.cast("int"))
    exploded_dim = dim.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_facts.join(exploded_dim, [on, _SALT], how).drop(_SALT)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) by key.

    One shuffle now; every later equi-join/groupBy on ``bucket_col``
    between tables with the same bucketing runs with no Exchange at all
    (verified in tests/test_plans.py-style assertions). This is the
    batch analog of co-partitioned Kafka topics in the reference.
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_partitions: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist a table range-partitioned and sorted by ``sort_cols`` —
    the clustered data layout (z-order-lite) for consumers that filter
    or merge on those columns.

    ``repartitionByRange`` samples the key distribution so output files
    hold disjoint, balanced key ranges; ``sortWithinPartitions`` makes
    each file internally ordered. Parquet then stores tight min/max
    stats per file and row group, so a later range filter on the sort
    key prunes whole files before reading a byte — the layout-level
    complement of predicate pushdown, and the batch analog of the
    reference's SCN-ordered topic segments. At 100 TB, re-clustering by
    the dominant query key is routinely a 10-100x scan saver."""
    (
        df.repartitionByRange(n_partitions, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.format("parquet")
        .mode(mode)
        .save(path)
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Persist hive-style directory-partitioned parquet
    (``path/col=value/...``) — the coarse pruning layer ABOVE file
    statistics: a filter on a partition column eliminates whole
    directories at PLANNING time (PartitionFilters in the scan node,
    `PartitionCount` in the plan's metadata), before any footer is
    opened. The 100 TB convention: partition by the coarse, always-
    filtered dimension (ingest day, tenant), then range-sort or
    z-order WITHIN partitions for the fine-grained layer
    (write_range_sorted / workload.layout.zvalue)."""
    df.write.format("parquet").mode(mode).partitionBy(*partition_cols).save(path)


def write_zorder_sorted(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    n_partitions: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist clustered on the Morton z-value of TWO dimensions
    (workload.layout.zvalue over 16-bit range-quantized keys) — the
    layout for tables filtered by either or both of two keys, where
    write_range_sorted can serve only one: every output file becomes a
    small rectangle in (x, y) space, so parquet min/max footers stay
    tight for BOTH columns and file skipping works two-dimensionally.

    Each column is quantized into its 16 z-bits by LINEAR RANGE
    scaling, ``(v - min) * 65535 / (max - min)`` — not by masking the
    low 16 bits (ADVICE r4): truncation makes rows that differ only in
    high bits collide in z-space for any domain wider than 2^16, which
    silently destroys min/max tightness on the REAL columns. Min/max
    come from one tiny all-column aggregate (a driver-side 1-row
    collect — the same stats pass any clustering write needs; at
    100 TB this adds one columnar scan of two columns, amortized into
    the rewrite itself). Monotone per column, so footer tightness on
    the original values is preserved for arbitrary domains. Heavily
    skewed domains fill the 16-bit grid unevenly (rank-based
    quantization would fix that at the cost of two global sorts) —
    locality still holds, cells are just unequal in population. The z
    column is dropped after partitioning — the layout is the artifact,
    not the key."""
    from olr_cdc_oracle_no_dbz_spark.workload.layout import zvalue

    stats = df.agg(
        F.min(x_col).alias("xmin"),
        F.max(x_col).alias("xmax"),
        F.min(y_col).alias("ymin"),
        F.max(y_col).alias("ymax"),
    ).collect()[0]

    def quant(col: str, lo, hi):
        span = (hi - lo) or 1  # constant column -> all rows in cell 0
        return (
            (F.col(col).cast("double") - F.lit(float(lo)))
            * F.lit(65535.0 / float(span))
        ).cast("bigint")

    zdf = df.withColumn(
        "__z",
        zvalue(
            quant(x_col, stats["xmin"], stats["xmax"]),
            quant(y_col, stats["ymin"], stats["ymax"]),
        ),
    )
    (
        zdf.repartitionByRange(n_partitions, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.format("parquet")
        .mode(mode)
        .save(path)
    )
