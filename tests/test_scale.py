"""Scale-technique tests: salted join correctness + spread, bucketed
join shuffle-freeness (plan-level proof)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olr_cdc_oracle_no_dbz_spark.scale import salted_join, write_bucketed


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_join_matches_plain_join(spark):
    """Salting must not change results — only the key distribution."""
    facts = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot", f"cold{i % 5}")],
        "k string, v int",
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold0", "C0"), ("cold1", "C1")], "k string, label string"
    )
    plain = facts.join(dim, "k").groupBy("k", "label").count()
    salted = salted_join(facts, dim, "k").groupBy("k", "label").count()
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_join_spreads_hot_key(spark):
    """The hot key's rows must land in multiple (key, salt) groups."""
    facts = spark.createDataFrame(
        [("hot", i) for i in range(500)], "k string, v int"
    )
    dim = spark.createDataFrame([("hot", "H")], "k string, label string")
    n_salts = 8
    salt = F.pmod(F.xxhash64("k", "v"), F.lit(n_salts)).cast("int")
    distinct_salts = facts.withColumn("s", salt).select("s").distinct().count()
    assert distinct_salts == n_salts  # deterministic hash uses all salts
    out = salted_join(facts, dim, "k", n_salts=n_salts)
    assert out.count() == 500
    assert "__salt" not in out.columns


def test_salted_join_rejects_dim_preserving_joins(spark):
    """Right/full outer would emit one null-extended row PER SALT for an
    unmatched dim key — rejected rather than silently wrong."""
    import pytest

    facts = spark.createDataFrame([("a", 1)], "k string, v int")
    dim = spark.createDataFrame([("b", "B")], "k string, label string")
    with pytest.raises(ValueError):
        salted_join(facts, dim, "k", how="full")
    with pytest.raises(ValueError):
        salted_join(facts, dim, "k", how="right")


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed identically on the join key join with ZERO
    Exchange operators — the pre-shuffled co-located join that makes
    repeated joins on a 100 TB fact table affordable."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bt LOCATION '{tmp_path}/wh'")
    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_id"), (F.col("id") % 7).alias("flag")
    )
    items = spark.range(0, 3000).select(
        (F.col("id") % 1000).alias("o_id"), F.col("id").alias("item")
    )
    write_bucketed(orders, "bt.orders_b", "o_id", n_buckets=8)
    write_bucketed(items, "bt.items_b", "o_id", n_buckets=8)
    # test tables are tiny → the planner would broadcast and skip the
    # bucketed path entirely; disable broadcast to expose the plan shape
    # a 100 TB (non-broadcastable) join would take
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt.orders_b").join(
            spark.table("bt.items_b"), "o_id"
        )
        plan = _plan(joined)
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        assert joined.count() == 3000
        # groupBy on the bucket key is exchange-free too
        agg_plan = _plan(
            spark.table("bt.orders_b").groupBy("o_id").count()
        )
        assert "Exchange hashpartitioning" not in agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE bt CASCADE")


def test_write_range_sorted_layout(spark, tmp_path):
    """Range-sorted layout: files hold disjoint key ranges (parquet
    min/max footers prove it) and rows are sorted within each file, so
    range filters prune whole files."""
    import glob

    import pyarrow.parquet as pq

    from olr_cdc_oracle_no_dbz_spark.scale import write_range_sorted

    df = spark.range(0, 10_000).select(
        (F.col("id") * 37 % 10_000).alias("k"), F.col("id").alias("v")
    )
    out = str(tmp_path / "clustered")
    write_range_sorted(df, out, ["k"], n_partitions=8)

    spans = []
    for f in glob.glob(out + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        ki = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "k"
        )
        stats = [md.row_group(g).column(ki).statistics for g in range(md.num_row_groups)]
        spans.append((min(s.min for s in stats), max(s.max for s in stats)))
    spans.sort()
    assert len(spans) >= 4  # actually range-partitioned
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint file key ranges

    back = spark.read.parquet(out)
    assert back.count() == 10_000
    one = back.filter((F.col("k") >= 100) & (F.col("k") < 200))
    assert one.count() == df.filter((F.col("k") >= 100) & (F.col("k") < 200)).count()


def test_salted_join_property(spark):
    """Property: for ANY fact multiset (with duplicates and unmatched
    keys), ANY dim assignment, and ANY salt count, salted_join ==
    plain join for every fact-preserving join type."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from olr_cdc_oracle_no_dbz_spark.scale import salted_join

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        facts=st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 99)),
            min_size=1,
            max_size=30,
        ),
        dim_keys=st.sets(st.integers(0, 4), max_size=5),
        n_salts=st.integers(1, 6),
        how=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
    )
    def check(facts, dim_keys, n_salts, how):
        fdf = spark.createDataFrame(
            [(f"k{k}", v) for k, v in facts], "k string, v int"
        )
        ddf = spark.createDataFrame(
            [(f"k{k}", f"L{k}") for k in sorted(dim_keys)] or [("__none__", "x")],
            "k string, label string",
        )
        got = sorted(map(tuple, salted_join(fdf, ddf, "k", n_salts, how).collect()))
        want = sorted(map(tuple, fdf.join(ddf, "k", how).collect()))
        assert got == want

    check()


def test_partitioned_write_prunes_at_planning_time(spark, tmp_path):
    """write_partitioned: a filter on the partition column must appear
    as a PartitionFilter (directory pruning, not data filtering) and
    cut the scanned partition count before any file is opened."""
    from olr_cdc_oracle_no_dbz_spark.scale import write_partitioned

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 10).alias("day"),
        (F.col("id") * 2).alias("v"),
    )
    path = str(tmp_path / "part")
    write_partitioned(df, path, ["day"])
    q = spark.read.parquet(path).filter(F.col("day") == 3).select("v")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert q.count() == 100
    # directory layout is the hive convention consumers expect
    assert (tmp_path / "part" / "day=3").exists()


def test_write_zorder_wide_domain_footers_tight(spark, tmp_path):
    """ADVICE r4: columns with domains far beyond 2^16 must still get
    tight per-file footers — range quantization, not low-bit masking
    (masking collides rows that differ only in high bits, so every
    file's real-column span approaches the full domain)."""
    import glob

    import pyarrow.parquet as pq

    from olr_cdc_oracle_no_dbz_spark.scale import write_zorder_sorted

    n = 1 << 13
    wide = 1 << 40  # domain ~2^40 — truncation to 16 bits would shred it
    df = spark.range(n).select(
        ((F.col("id") * 2654435761) % wide).alias("x"),
        ((F.col("id") * 40503) % wide).alias("y"),
    )
    out = str(tmp_path / "zwide")
    write_zorder_sorted(df, out, "x", "y", n_partitions=16)

    def spans(col):
        res = []
        for f in glob.glob(out + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            ci = next(
                i
                for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            st = [
                md.row_group(g).column(ci).statistics
                for g in range(md.num_row_groups)
            ]
            res.append(max(s.max for s in st) - min(s.min for s in st))
        return res

    xs, ys = spans("x"), spans("y")
    assert len(xs) >= 8
    half = (wide // 2) + (wide // 16)
    tight = sum(1 for xd, yd in zip(xs, ys) if xd <= half and yd <= half)
    assert tight >= (3 * len(xs)) // 4
    assert spark.read.parquet(out).count() == n


def test_write_zorder_sorted_two_dimensional_footers(spark, tmp_path):
    """Z-order layout receipt: after write_zorder_sorted, every file's
    footer bounding box is tight in BOTH dimensions (≤ 1/4 of each
    domain side for every file), which single-column range sorting
    cannot achieve for the second column."""
    import glob

    import pyarrow.parquet as pq

    from olr_cdc_oracle_no_dbz_spark.scale import write_zorder_sorted

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % (1 << 16)).alias("x"),
        (F.col("id") * 40503 % (1 << 16)).alias("y"),
    )
    out = str(tmp_path / "zsorted")
    write_zorder_sorted(df, out, "x", "y", n_partitions=16)

    def spans(col):
        out_spans = []
        for f in glob.glob(out + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            ci = next(
                i
                for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            st = [
                md.row_group(g).column(ci).statistics
                for g in range(md.num_row_groups)
            ]
            out_spans.append(
                max(s.max for s in st) - min(s.min for s in st)
            )
        return out_spans

    xs, ys = spans("x"), spans("y")
    assert len(xs) >= 8
    # A contiguous z-range that crosses a high-order quad boundary can
    # legitimately span a full dimension (the z midpoint file covers
    # x∈[0,1)), so the 2-D locality receipt is: MOST files are tight in
    # BOTH dims — which a 1-D x-sort can never give (every file's
    # y_span ≈ full domain there).
    half = (1 << 15) + (1 << 11)
    tight = sum(1 for xd, yd in zip(xs, ys) if xd <= half and yd <= half)
    assert tight >= (3 * len(xs)) // 4
    assert spark.read.parquet(out).count() == n


def test_band_join_rewrite_equals_theta_join_on_boundaries(spark):
    """The quantize/explode-neighbors band-join rewrite
    (workload/joins.join_band_bucketed) must equal the naive theta join
    on adversarial inputs the gate data cannot guarantee: pairs whose
    difference is EXACTLY the band width, negative values (floor
    rounds toward -inf), values on bucket edges, and duplicate
    values."""
    from pyspark.sql import functions as F

    eps = 0.25
    vals = [-1.0, -0.75, -0.5, -0.26, -0.25, 0.0, 0.125, 0.25, 0.5,
            0.74, 0.75, 1.0, 1.0, 2.5]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, v double"
    )
    naive = (
        df.alias("a")
        .join(
            df.alias("b"),
            (F.col("b.id") > F.col("a.id"))
            & (F.abs(F.col("a.v") - F.col("b.v")) <= eps),
        )
        .select(F.col("a.id").alias("ai"), F.col("b.id").alias("bi"))
    )
    bkt = F.floor(F.col("v") / F.lit(eps)).cast("bigint")
    a = df.withColumn("bkt", F.explode(F.array(bkt - 1, bkt, bkt + 1))).alias("a")
    b = df.withColumn("bkt", bkt).alias("b")
    rewritten = (
        a.join(
            b,
            (F.col("b.bkt") == F.col("a.bkt"))
            & (F.col("b.id") > F.col("a.id"))
            & (F.abs(F.col("a.v") - F.col("b.v")) <= eps),
        )
        .select(F.col("a.id").alias("ai"), F.col("b.id").alias("bi"))
    )
    got = sorted(map(tuple, rewritten.collect()))
    want = sorted(map(tuple, naive.collect()))
    assert got == want
    assert len(want) > 10  # the crafted input actually produces matches
