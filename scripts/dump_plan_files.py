#!/usr/bin/env python
"""Dump `explain("formatted")` for named gates to
plans/$SPARK_GRAFT_PLANS_ROUND/<gate>_<tag>.txt (round dir defaults to
r15).

Usage: python scripts/dump_plan_files.py <tag> gate1 gate2 ...
(tag is 'before' or 'after'). Plans are built over
$SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata). The bench's
query_mix runs at sf0.01, so point SPARK_GRAFT_SF_DIR at the sf0.01
testdata when the receipt must match the bench's derived
widths/parameters.

Besides the registry gates, two entries build their input in a
temporary directory that the file shows as ``<tmp>``:

- ``state_merge`` dumps the frame ``ParquetStateTable.merge_batch``
  writes when it merges the fixed delta of ``tests/test_plans.py``'s
  state-merge plan pin into an 8-bucket table;
- ``mirror`` dumps the frame ``materialize_stream`` hands to
  ``jdbc_sink.write_batch`` in the second of two micro-batches (40
  creates, then 12 updates) mirrored into SQLite, explained inside the
  batch while its delta is cached.

Expression ids (`name#<n>`), `plan_id=<n>` and `RDD[<n>]` are
renumbered in order of first appearance, and file-name UUIDs read
`<uuid>`, so two plans with the same structure write identical files
and a before/after diff shows only real plan changes.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_ID = re.compile(r"(#|plan_id=|RDD\[)(\d+)")
_UUID = re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def normalize_ids(plan: str) -> str:
    """Renumber each id family from 0 in order of first appearance and
    replace each UUID with ``<uuid>``."""
    seen: dict[str, dict[str, int]] = {}

    def sub(m: re.Match) -> str:
        ids = seen.setdefault(m.group(1), {})
        return m.group(1) + str(ids.setdefault(m.group(2), len(ids)))

    return _ID.sub(sub, _UUID.sub("<uuid>", plan))


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def state_merge(spark, path) -> str:
    """The frame a merge into an existing state table at ``path`` hands
    to its commit: the state-merge plan pin's seed and delta."""
    from olr_cdc_oracle_no_dbz_spark.streaming.state import ParquetStateTable

    cols = "id int, stock int, scn long, seq int, __deleted boolean"
    table = ParquetStateTable(spark, path, n_buckets=8)
    table.merge_batch(
        spark.createDataFrame([(i, i, 1, 1, False) for i in range(40)], cols)
    )
    delta = spark.createDataFrame(
        [(i % 12, i, 2 + i, 1, i % 5 == 0) for i in range(30)], cols
    )
    written = []
    table._commit = lambda manifest, rows, buckets: written.append(rows)
    table.merge_batch(delta)
    (rows,) = written
    return _explain(rows)


def mirror(spark, path) -> str:
    """The frame the JDBC mirror writes for a stream's second batch."""
    import decimal
    import sqlite3

    from olr_cdc_oracle_no_dbz_spark.streaming import (
        ParquetStateTable,
        jdbc_sink,
        materialize_stream,
    )
    from tests.conftest import event, product_row, write_tx_file

    src, db_path = os.path.join(path, "src"), os.path.join(path, "mirror.db")
    rows = [product_row(i, f"p{i}", stock=i) for i in range(40)]
    tx1 = write_tx_file(src, "tx1.json", [event(100, "c", after=r, seq=r["id"]) for r in rows])
    # the file source orders by modification time; the two files often
    # share a millisecond, so date tx1 back to make it the first batch
    os.utime(tx1, (os.stat(tx1).st_atime, os.stat(tx1).st_mtime - 1))
    write_tx_file(src, "tx2.json", [
        event(200, "u", before=r, after=dict(r, stock=7), seq=r["id"]) for r in rows[:12]
    ])
    with sqlite3.connect(db_path) as db:
        db.execute(
            "CREATE TABLE products (id INT PRIMARY KEY, name VARCHAR(100),"
            " description VARCHAR(500), price VARCHAR(20), stock INT,"
            " created_date VARCHAR(30), updated_date VARCHAR(30))"
        )
    plans, real = [], jdbc_sink.write_batch

    def connect():
        sqlite3.register_adapter(decimal.Decimal, str)  # the price column
        return sqlite3.connect(db_path)

    def capture(batch_df, *args, **kwargs):
        plans.append(_explain(batch_df))
        return real(batch_df, *args, **kwargs)

    jdbc_sink.write_batch = capture
    try:
        materialize_stream(
            spark, src, ParquetStateTable(spark, os.path.join(path, "state"), n_buckets=8),
            os.path.join(path, "ckpt"), max_files_per_trigger=1,
            jdbc_sink={"connection_factory": connect, "table": "products"},
        ).awaitTermination()
    finally:
        jdbc_sink.write_batch = real
    return plans[-1]


_BUILT = {"state_merge": state_merge, "mirror": mirror}


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r15"),
    )
    os.makedirs(out_dir, exist_ok=True)
    from olr_cdc_oracle_no_dbz_spark.session import get_spark
    from olr_cdc_oracle_no_dbz_spark.workload import queries

    spark = get_spark("dump_plan_files")
    qs = queries()
    for name in names:
        with tempfile.TemporaryDirectory() as tmp:
            if name in _BUILT:
                plan = _BUILT[name](spark, tmp)
            else:
                plan = _explain(qs[name](spark, sf_dir))
            plan = normalize_ids(plan).replace(tmp, "<tmp>")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
