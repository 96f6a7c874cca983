"""The catalog's per-table memos: Spark-inferred schemas and footer row
counts are served from memory while a table's files are unchanged, and
re-derived once they change. "Unchanged" is ``table_fingerprint``."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from test_plans import _jobs_during

from olr_cdc_oracle_no_dbz_spark.catalog import (
    TableMemo,
    load_table,
    parquet_num_rows,
    table_fingerprint,
)


def _write_region(sf_dir: str, extra: bool = False) -> None:
    cols = {"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}
    if extra:
        cols["r_comment"] = ["a", "b"]
    pq.write_table(pa.table(cols), os.path.join(sf_dir, "region.parquet"))


def test_load_table_memoizes_inferred_schema(spark, tmp_path):
    sf = str(tmp_path)
    _write_region(sf)
    first = _jobs_during(spark, lambda: load_table(spark, sf, "region"))
    assert len(first) == 1  # Spark's own schema inference
    schema = load_table(spark, sf, "region").schema
    out = []
    assert _jobs_during(spark, lambda: out.append(load_table(spark, sf, "region"))) == []
    assert out[0].schema == schema
    assert parquet_num_rows(sf, "region") == 2

    # a rewritten table has a new fingerprint: inferred again
    _write_region(sf, extra=True)
    df = load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["a", "b"]


def test_load_table_absent_still_raises_after_retries(spark, tmp_path):
    """An absent table raises, and the failure is not memoized: once the
    table appears, it loads."""
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "region")
    _write_region(str(tmp_path))
    assert load_table(spark, str(tmp_path), "region").count() == 2


def test_table_fingerprint_walks_nested_files(tmp_path):
    root = tmp_path / "events.parquet" / "day=1"
    root.mkdir(parents=True)
    (root / "part-0.parquet").write_bytes(b"x" * 3)
    path, stat = table_fingerprint(str(tmp_path), "events")
    assert path == os.path.join(os.path.abspath(tmp_path), "events.parquet")
    assert [(rel, size) for rel, size, _ in stat] == [
        (os.path.join("day=1", "part-0.parquet"), 3)
    ]
    (root / "part-1.parquet").write_bytes(b"y")
    assert table_fingerprint(str(tmp_path), "events")[1] != stat


def test_table_fingerprint_vanished_file_is_a_miss(tmp_path, monkeypatch):
    d = tmp_path / "orders.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x")
    memo = TableMemo()
    memo.put(table_fingerprint(str(tmp_path), "orders"), "n", 1)
    real_stat = os.stat

    def racing_stat(p, *a, **k):
        if str(p).endswith("part-0.parquet"):
            raise FileNotFoundError(p)
        return real_stat(p, *a, **k)

    monkeypatch.setattr(os, "stat", racing_stat)
    fp = table_fingerprint(str(tmp_path), "orders")
    assert fp[1] is None
    assert memo.get(fp, "n") is None
    memo.put(fp, "n", 2)  # never stored under an unknown state
    monkeypatch.undo()
    assert memo.get(table_fingerprint(str(tmp_path), "orders"), "n") == 1


def test_table_memo_keeps_one_entry_per_path():
    memo = TableMemo()
    memo.put(("/t", (("", 1, 1),)), "schema", "s1")
    memo.put(("/t", (("", 1, 1),)), "n", 10)
    assert memo.get(("/t", (("", 1, 1),)), "schema") == "s1"
    # the table changed: the old state's values are dropped, not kept
    memo.put(("/t", (("", 2, 2),)), "schema", "s2")
    assert list(memo._by_path) == ["/t"]
    assert memo.get(("/t", (("", 2, 2),)), "n") is None
    assert memo.get(("/t", (("", 1, 1),)), "schema") is None
    assert memo.get(("/u", (("", 2, 2),)), "schema") is None
